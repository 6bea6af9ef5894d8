"""Tests of the benchmark's own helpers.

    python3 perfbench/test_bench.py

The JVM tests compile the program (cached in .bench_build/) and run on a
tiny generated input set (scale 0.001)."""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench_lib as lib  # noqa: E402
import build  # noqa: E402
import gen_data  # noqa: E402
import run  # noqa: E402

TEST_DIR = os.path.join(run.BUILD_DIR, "test")


def tiny_data():
    d = os.path.join(TEST_DIR, "data-0.001")
    if not os.path.isdir(d):
        gen_data.generate(d + ".tmp", 0.001)
        os.rename(d + ".tmp", d)
    return d


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(lib.percentiles(list(range(99)))[1], None)
        p50, p90 = lib.percentiles(list(range(100)))
        self.assertEqual(p50, 49.5)
        self.assertEqual(p90, 89)
        self.assertEqual(sum(1 for x in range(100) if x > p90), 10)

    def test_ties_at_the_tail_omit_p90(self):
        # 200 samples, but the top 30 are equal: nothing lies beyond p90
        xs = list(range(170)) + [500] * 30
        self.assertEqual(lib.percentiles(xs)[1], None)

    def test_empty(self):
        self.assertEqual(lib.percentiles([]), (None, None))


class OpLatency(unittest.TestCase):
    def test_gmean_of_medians(self):
        self.assertAlmostEqual(lib.gmean_of_medians([[1, 2, 3], [8, 7, 9]]), 4.0)
        self.assertAlmostEqual(lib.gmean_of_medians([[5], []]), 5)
        self.assertIsNone(lib.gmean_of_medians([]))

    def test_one_slow_sample_moves_it_little(self):
        groups = [[100 * k, 100 * k, 100 * k] for k in range(1, 17)]
        base = lib.gmean_of_medians(groups)
        groups[7][0] *= 3
        self.assertAlmostEqual(lib.gmean_of_medians(groups), base)
        groups[7][1] *= 1.5
        self.assertLess(lib.gmean_of_medians(groups) / base, 1.03)


class SeedDiscipline(unittest.TestCase):
    def test_key_ops(self):
        for w in lib.KEY_WORKLOADS:
            a, b = lib.key_ops(w, 7), lib.key_ops(w, 7)
            self.assertEqual(a, b)
            c = lib.key_ops(w, 8)
            self.assertNotEqual(a, c)
            # every pass runs the same keys whatever the seed
            for ops in (a, c):
                first = [line.split("\t")[2] for line in ops if line.startswith("0\t")]
                self.assertEqual(sorted(first), sorted(f"key={k}" for k in lib.KEY_WORKLOADS[w]))

    def test_upsert_ops(self):
        data = tiny_data()
        li = os.path.join(data, "lineitem.parquet")
        stages = [os.path.join(TEST_DIR, f"stage{i}") for i in range(3)]
        for s in stages:
            shutil.rmtree(s, ignore_errors=True)
            os.makedirs(s)
        a = lib.upsert_ops(li, stages[0], 7, passes=3)
        b = lib.upsert_ops(li, stages[1], 7, passes=3)
        c = lib.upsert_ops(li, stages[2], 8, passes=3)
        self.assertEqual("\n".join(a).encode(), "\n".join(b).encode())
        cmp = filecmp.dircmp(stages[0], stages[1])
        self.assertEqual(cmp.left_only + cmp.right_only, [])
        for sub in os.listdir(stages[0]):
            f = os.path.join(sub, "part-0.parquet")
            self.assertTrue(filecmp.cmp(os.path.join(stages[0], f),
                                        os.path.join(stages[1], f), shallow=False))
        self.assertNotEqual(a, c)
        keys = lambda ops: {kv for line in ops for kv in line.split("\t")[2:]
                            if kv.startswith(("k=", "lo=", "cond="))}
        self.assertNotEqual(keys(a), keys(c))
        # same kinds in every pass, whatever the seed
        kinds = lambda ops, p: sorted(line.split("\t")[1] for line in ops
                                      if line.startswith(f"{p}\t"))
        self.assertEqual(kinds(a, 0), kinds(c, 1))


class OutputCheck(unittest.TestCase):
    EXPECTED = {"k1": {"rows": 3, "digest": "42"}, "k2": {"rows": 5, "digest": None}}

    def test_accepts_the_recorded_result(self):
        self.assertIsNone(lib.check_key(self.EXPECTED, "k1", "3|42"))
        self.assertIsNone(lib.check_key(self.EXPECTED, "k2", "5|77"))

    def test_fails_on_a_wrong_result(self):
        self.assertIn("digest", lib.check_key(self.EXPECTED, "k1", "3|43"))
        self.assertIn("rows", lib.check_key(self.EXPECTED, "k1", "4|42"))
        self.assertIn("rows", lib.check_key(self.EXPECTED, "k2", "6|77"))
        self.assertIn("no expected", lib.check_key(self.EXPECTED, "k3", "1|1"))

    def test_recorded_values_cover_every_key(self):
        with open(run.EXPECTED) as f:
            expected = json.load(f)
        for w, keys in lib.KEY_WORKLOADS.items():
            self.assertEqual(sorted(expected[w]), sorted(keys))


class Jvm(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes = build.compile_program(run.BUILD_DIR)
        cls.data = tiny_data()

    def test_digest_is_stable_and_sensitive(self):
        tmp = os.path.join(TEST_DIR, "tmp")
        os.makedirs(tmp, exist_ok=True)
        p = subprocess.run(build.java_cmd(self.classes, "1g", tmp) +
                           ["graft.perfbench.DigestCheck", self.data],
                           capture_output=True, text=True, timeout=170, cwd=TEST_DIR)
        got = dict(line.split("=", 1) for line in p.stdout.splitlines() if "=" in line)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
        self.assertEqual(got["plain"], got["shuffled"])
        self.assertEqual(got["plain"], got["reordered"])
        self.assertNotEqual(got["plain"], got["changed"])

    def test_replay_agrees_with_txn_table(self):
        runs, stage, dirs, ops, lines = run.prepare_run("upsert", 3, 0, self.data,
                                                        upsert_passes=2)
        try:
            res = run.run_jvm(self.classes, "upsert", runs, stage, dirs, ops, 150, 0)
            timed = [line for line in lines if not line.startswith("-1\t")]
            self.assertEqual(len(res["ops"]), len(timed))
            failures, _ = run.check_ops("upsert", res, lines, stage, self.data)
            self.assertEqual(failures, [])
            reads = [o for o in res["ops"] if o["kind"] in ("read_eq", "read_range")]
            self.assertTrue(reads)
            # the same check fails on a corrupted read result
            rows, rest = reads[-1]["result"].split("|", 1)
            reads[-1]["result"] = f"{int(rows) + 1}|{rest}"
            failures, _ = run.check_ops("upsert", res, lines, stage, self.data)
            self.assertEqual([f["op"] for f in failures], [reads[-1]["i"]])
            # and on a final snapshot that lost a row
            reads[-1]["result"] = f"{rows}|{rest}"
            res["finish"]["live_rows"] -= 1
            failures, _ = run.check_ops("upsert", res, lines, stage, self.data)
            self.assertEqual([f["name"] for f in failures], ["final_snapshot"])
        finally:
            shutil.rmtree(runs, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
