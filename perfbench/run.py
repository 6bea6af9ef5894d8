"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <batch|upsert> --seed <n>
                             --seconds <s> --trace <0|1>

Builds the program from source (into .bench_build/, reused while the
sources are unchanged), generates the inputs, runs one JVM with a
closed-loop single client for --seconds, checks every output and prints
the metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics and --trace 1 the per-layer ones. The full results,
including every failure with its cause, go to .bench_build/results/.

    python3 perfbench/run.py --record-expected

re-records perfbench/expected.json (the output digests of the key
workloads) from two runs of the current tree.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import bench_lib as lib  # noqa: E402
import build  # noqa: E402

REPS = 2                    # set-up repetitions per run
MEASURED_PASSES = 3         # passes 0..2 give the end-to-end timings
JVM_TIMEOUT_S = 170
HEAP = "2g"
BUILD_DIR = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(HERE, "expected.json")

E2E_UNITS = {"setup_s": "s", "op_p50_gmean_ms": "ms", "rss_peak_mb": "MB"}
TXN_KINDS = ["merge", "sql_merge", "merge_when", "update", "delete", "sql_delete",
             "stream_append", "read_eq", "read_range"]
FIXTURES = ["pipeline", "llm_ann", "curate_pq", "txn_table"]


def layer_units():
    u = {"queries.build_ms": "ms", "queries.plan_ms": "ms",
         "queries.exec_ms": "ms",
         "plans.analysis_ms": "ms", "plans.optimize_ms": "ms",
         "plans.physical_ms": "ms", "plans.exchanges": "count",
         "plans.broadcasts": "count", "plans.smj": "count",
         "plans.cartesian": "count",
         "tables.files_read": "count", "tables.bytes_read": "bytes",
         "tables.rows_read": "count",
         "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
         "spark.exec_cpu_s": "s", "spark.exec_run_s": "s",
         "spark.cpu_util": "ratio", "spark.gc_s": "s",
         "spark.shuffle_write_bytes": "bytes",
         "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
         "spark.output_bytes": "bytes",
         "functions.cpu_ns_per_row": "ns"}
    u.update({f"sources.txn.{k}_p50_ms": "ms" for k in TXN_KINDS})
    u.update({"sources.txn.files_added": "count",
              "sources.txn.files_removed": "count",
              "sources.txn.write_amp": "ratio",
              "sources.txn.prune_ratio": "ratio",
              "sources.txn.log_bytes": "bytes", "sources.txn.versions": "count",
              "sources.txn.store_bytes_per_row": "bytes",
              "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
              "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
              "streaming.state_rows": "count",
              "streaming.state_mem_bytes": "bytes",
              "streaming.rows_in": "count",
              "setup.session_s": "s"})
    u.update({f"setup.fixture.{f}_s": "s" for f in FIXTURES})
    u.update({"setup.warm_s": "s", "jvm.gc_s": "s", "jvm.jit_ms": "ms",
              "jvm.heap_peak_mb": "MB", "trace_overhead_frac": "ratio"})
    return u


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) clock ticks of all CPUs from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return 0, 0


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree:" + build.source_digest()[:16]


def prepare_run(workload, seed, trace, data, upsert_passes=lib.UPSERT_PASSES):
    """Run directory with the op list, staged batches and one hard-linked
    copy of the inputs per set-up repetition."""
    run = os.path.join(BUILD_DIR, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    stage = os.path.join(run, "stage")
    os.makedirs(stage)
    dirs = []
    for r in range(REPS):
        d = os.path.join(run, f"in{r}")
        os.makedirs(d)
        for f in os.listdir(data):
            os.link(os.path.join(data, f), os.path.join(d, f))
        dirs.append(d)
    if workload == "upsert":
        lines = lib.upsert_ops(os.path.join(data, "lineitem.parquet"), stage, seed,
                               upsert_passes)
    else:
        lines = lib.key_ops(workload, seed)
    ops = os.path.join(run, "ops.tsv")
    with open(ops, "w") as f:
        f.write("\n".join(lines) + "\n")
    for d in ("work", "tmp"):
        os.makedirs(os.path.join(run, d))
    return run, stage, dirs, ops, lines


def run_jvm(classes, workload, run, stage, dirs, ops, seconds, trace):
    out = os.path.join(run, "result.json")
    log = os.path.join(run, "jvm.log")
    cmd = build.java_cmd(classes, HEAP, os.path.join(run, "tmp")) + [
        "graft.perfbench.Harness", f"workload={workload}", f"ops={ops}",
        f"stage={stage}", f"data={','.join(dirs)}",
        f"work={os.path.join(run, 'work')}", f"out={out}",
        f"seconds={seconds}", f"trace={trace}"]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=run, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(log, errors="replace") as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError(f"harness JVM exited with {p.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else None


def check_ops(workload, res, lines, stage, data):
    """Mark each timed op whose output is wrong. Returns (failures, info)."""
    failures = [{"op": -1, "name": f"warm-up {w['name']}", "error_class": w["error_class"],
                 "error": w["error"]} for w in res["warm_failures"]]
    info = {}
    ops = res["ops"]
    for o in ops:
        if not o["ok"]:
            failures.append({"op": o["i"], "name": o["name"],
                             "error_class": o["error_class"], "error": o["error"]})
    if workload in lib.KEY_WORKLOADS:
        expected = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                expected = json.load(f).get(workload, {})
        for o in ops:
            if o["ok"]:
                why = lib.check_key(expected, o["name"], o["result"])
                if why:
                    o["check"] = why
                    failures.append({"op": o["i"], "name": o["name"],
                                     "error_class": "OutputCheck", "error": why})
        return failures, info
    # upsert: replay every op that committed, in order, in DuckDB
    fin = res.get("finish", {})
    if "finish_error" in fin:
        failures.append({"op": -1, "name": "final_snapshot",
                         "error_class": "Finish", "error": fin["finish_error"]})
        return failures, info
    rp = lib.Replay(os.path.join(data, "lineitem.parquet"), stage)
    changed = {}
    for o in ops:
        if not o["ok"]:
            continue
        got, n = rp.apply(lines[o["i"]])
        changed[o["i"]] = n
        if got is not None and got != o["result"]:
            why = f"read {o['result']} != replay {got}"
            o["check"] = why
            failures.append({"op": o["i"], "name": o["name"],
                             "error_class": "OutputCheck", "error": why})
    missing, extra = rp.diff_snapshot(fin["snapshot"])
    live = rp.rows()
    info["changed"] = changed
    if missing or extra or live != fin["live_rows"]:
        failures.append({"op": -1, "name": "final_snapshot", "error_class": "OutputCheck",
                         "error": f"{missing} replay rows missing, {extra} extra, "
                                  f"rows {fin['live_rows']} vs replay {live}"})
    return failures, info


def end_to_end(res, lines):
    # Passes keep getting faster while the JIT warms up, so a figure over
    # however many passes fit in the run would favour fast runs twice. The
    # timings therefore come from the first MEASURED_PASSES passes, which
    # every run completes; of those, pass_s uses all but the first.
    passes = [p for p in res["passes"] if p["complete"] and p["pass"] < MEASURED_PASSES]
    steady = [p for p in passes if p["pass"] > 0]
    # op latencies of complete passes only, so every seed samples the same
    # mix of ops
    whole = {p["pass"] for p in passes}
    ops = [o for o in res["ops"] if o["pass"] in whole]
    by_slot = {}
    for o in ops:
        by_slot.setdefault(slot_of(lines[o["i"]]), []).append(o["ms"])
    p50, p90 = lib.percentiles([o["ms"] for o in ops])
    setup = (res["session_s"] + sum(median(v) for v in res["fixture_s"].values())
             + res["warm_s"])
    first = [p["wall_s"] for p in passes if p["pass"] == 0]
    m = {"setup_s": setup, "op_p50_gmean_ms": lib.gmean_of_medians(by_slot.values()),
         "rss_peak_mb": res["rss_peak_bytes"] / 2**20}
    # reported beside the metrics, not as metrics: the pooled percentiles
    # (the 90th only with ten samples beyond it), which jump between the
    # latencies of neighbouring ops; the pass times and the CPU time per
    # pass spread too widely between runs to bound (README.md, Steadiness)
    info = {"op_samples": len(ops), "passes": len(steady),
            "op_p50_ms": p50, "op_p90_ms": p90,
            "first_pass_s": first[0] if first else None,
            "pass_s": median([p["wall_s"] for p in steady]),
            "cpu_s": median([p["cpu_s"] for p in steady])}
    return m, info


def slot_of(line):
    """Ops that do the same work in every pass share a slot: the query key,
    or for `upsert` the op kind with its front door and delete mode."""
    f = line.split("\t")
    a = dict(kv.split("=", 1) for kv in f[2:])
    return a.get("key") or (f[1], a.get("sql", "0"), a.get("dv", "0"))


class PerPass:
    """Per-pass figures from per-op samples: for each slot of a pass, the
    mean over the sampled ops of that slot, times the slot's count in a
    pass, summed over the slots that were sampled."""

    def __init__(self, lines):
        self.lines = lines
        self.mult = {}
        for line in lines:
            if line.startswith("0\t"):
                s = slot_of(line)
                self.mult[s] = self.mult.get(s, 0) + 1

    def __call__(self, ops, value):
        by = {}
        for o in ops:
            s = slot_of(self.lines[o["i"]])
            if s in self.mult:
                by.setdefault(s, []).append(value(o))
        return sum(self.mult[s] * statistics.fmean(v) for s, v in by.items())

    def coverage(self, ops):
        return len({slot_of(self.lines[o["i"]]) for o in ops} & set(self.mult)) / len(self.mult)


def per_layer(workload, res, info, lines):
    cpus = res["cpus"]
    pp = PerPass(lines)
    traced = [o for o in res["ops"] if o["traced"] and o["ok"]]
    untraced = [o for o in res["ops"] if not o["traced"] and o["ok"] and o["pass"] > 0]

    def ctr(k):
        return pp(traced, lambda o: o["counters"].get(k, 0.0))

    m = {k: 0.0 for k in layer_units()}
    for k in ("queries.build_ms", "queries.plan_ms", "queries.exec_ms"):
        m[k] = pp(traced, lambda o: o["spans"].get(k, 0.0))
    for k in ("plans.analysis_ms", "plans.optimize_ms", "plans.physical_ms",
              "plans.exchanges", "plans.broadcasts", "plans.smj", "plans.cartesian",
              "tables.files_read", "tables.bytes_read", "tables.rows_read",
              "spark.jobs", "spark.stages", "spark.tasks",
              "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
              "spark.spill_bytes", "spark.output_bytes",
              "streaming.batches", "streaming.add_batch_ms",
              "streaming.wal_commit_ms", "streaming.rows_in"):
        m[k] = ctr(k)
    m["spark.exec_cpu_s"] = ctr("spark.exec_cpu_ns") / 1e9
    m["spark.exec_run_s"] = ctr("spark.exec_run_ms") / 1e3
    m["spark.gc_s"] = ctr("spark.gc_ms") / 1e3
    wall = pp(traced, lambda o: o["ms"]) / 1e3
    m["spark.cpu_util"] = m["spark.exec_cpu_s"] / (wall * cpus) if wall else 0.0
    rows = ctr("tables.rows_read")
    m["functions.cpu_ns_per_row"] = ctr("spark.exec_cpu_ns") / rows if rows else 0.0
    fc = res["final_counters"]
    m["streaming.state_rows"] = fc.get("streaming.state_rows", 0.0)
    m["streaming.state_mem_bytes"] = fc.get("streaming.state_mem_bytes", 0.0)
    m["streaming.batch_p50_ms"] = median(res["batch_ms"]) or 0.0
    if workload == "upsert":
        done = [o for o in res["ops"] if o["ok"]]
        for kind in TXN_KINDS:
            m[f"sources.txn.{kind}_p50_ms"] = median(
                [o["ms"] for o in done if kind_of(o) == kind]) or 0.0
        fin = res["finish"]
        # file changes of the commit each traced op made, from the log
        commits = {c["version"]: c for c in fin["commits"]}

        def commit(o, k):
            v = o["extra"]["version"]
            return commits[v][k] if v > o["extra"]["version_before"] else 0

        m["sources.txn.files_added"] = pp(traced, lambda o: commit(o, "files_added"))
        m["sources.txn.files_removed"] = pp(traced, lambda o: commit(o, "files_removed"))
        row_bytes = fin["live_bytes"] / max(fin["live_rows"], 1)
        dml = [o for o in traced if o["kind"] not in ("read_eq", "read_range")]
        changed = sum(info["changed"].get(o["i"], 0) for o in dml) * row_bytes
        added = sum(commit(o, "bytes_added") for o in dml)
        m["sources.txn.write_amp"] = added / changed if changed else 0.0
        reads = [o for o in traced if o["kind"] in ("read_eq", "read_range")]
        live = sum(commits[o["extra"]["version"]]["files_live"] for o in reads)
        scanned = sum(o["counters"].get("tables.files_read", 0) for o in reads)
        m["sources.txn.prune_ratio"] = scanned / live if live else 0.0
        m["sources.txn.log_bytes"] = fin["log_bytes"]
        m["sources.txn.versions"] = fin["versions"]
        m["sources.txn.store_bytes_per_row"] = fin["table_bytes"] / max(fin["live_rows"], 1)
    m["setup.session_s"] = res["session_s"]
    for f, v in res["fixture_s"].items():
        m[f"setup.fixture.{f}_s"] = median(v)
    m["setup.warm_s"] = res["warm_s"]
    m["jvm.gc_s"] = ctr("jvm.gc_ms") / 1e3
    m["jvm.jit_ms"] = ctr("jvm.jit_ms")
    m["jvm.heap_peak_mb"] = res["jvm_end"]["jvm.heap_peak_bytes"] / 2**20
    # traced ops against untraced ops of the same slots, first pass aside
    both = {slot_of(lines[o["i"]]) for o in untraced} & \
        {slot_of(lines[o["i"]]) for o in traced if o["pass"] > 0}
    tr = [o for o in traced if o["pass"] > 0 and slot_of(lines[o["i"]]) in both]
    un = [o for o in untraced if slot_of(lines[o["i"]]) in both]
    if tr and un:
        m["trace_overhead_frac"] = (pp(tr, lambda o: o["wall_ms"]) /
                                    pp(un, lambda o: o["wall_ms"]) - 1.0)
    cover = {"traced_ops": len(traced), "slot_coverage": pp.coverage(traced),
             "overhead_slots": len(both)}
    return m, cover


def kind_of(op):
    """Layer name of an upsert op: SQL statements are their own kinds."""
    return f"sql_{op['kind']}" if op.get("sql") else op["kind"]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=lib.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args(argv)
    if not args.record_expected and not args.workload:
        ap.error("--workload is required")
    load0 = loadavg()
    ticks0 = cpu_ticks()
    t_build = t_start = time.time()
    try:
        classes = build.compile_program(BUILD_DIR)
        data = build.input_data(BUILD_DIR)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    build_s = time.time() - t_build
    if args.record_expected:
        return record_expected(classes, data)
    run, stage, dirs, ops, lines = prepare_run(args.workload, args.seed, args.trace, data)
    try:
        res = run_jvm(classes, args.workload, run, stage, dirs, ops, args.seconds, args.trace)
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 3
    for o in res["ops"]:
        o["sql"] = lines[o["i"]].split("\t")[2:].count("sql=1") > 0
    failures, info = check_ops(args.workload, res, lines, stage, data)
    load1 = loadavg()
    ticks1 = cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
    e2e, samples = end_to_end(res, lines)
    attempted = len(res["ops"])
    failed = len([f for f in failures if f["op"] >= 0])
    hygiene = {"nproc": nproc(), "loadavg_start": load0, "loadavg_end": load1,
               "loaded": load0 > nproc(), "cpu_steal_frac": steal,
               "heap": HEAP, "commit": commit(),
               "seed": args.seed, "seconds": args.seconds, "build_s": build_s,
               "setup_reps": REPS}
    summary = {"workload": args.workload, "trace": args.trace, **hygiene,
               "attempted": attempted, "failed": failed, "failed_frac": failed / max(attempted, 1),
               **samples, **e2e,
               "failures": failures[:20]}
    if args.trace:
        metrics, cover = per_layer(args.workload, res, info, lines)
        summary.update(cover)
        units = layer_units()
    else:
        metrics = e2e
        units = E2E_UNITS
    summary["run_wall_s"] = time.time() - t_start
    missing = [k for k, v in metrics.items() if v is None]
    correct = not failures and not missing and attempted > 0
    if missing:
        summary["missing_metrics"] = missing
    os.makedirs(os.path.join(BUILD_DIR, "results"), exist_ok=True)
    out = os.path.join(BUILD_DIR, "results",
                       f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump({"summary": summary, "metrics": metrics, "raw": res}, f)
    shutil.rmtree(run, ignore_errors=True)
    print(f"results: {os.path.relpath(out, ROOT)}")
    print(json.dumps(summary, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": (v if v is not None else 0.0), "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0


def record_expected(classes, data):
    """Record each key's row count and digest from two runs; a key whose
    digest differs between them is checked by row count only."""
    out = {}
    for workload in lib.KEY_WORKLOADS:
        got = []
        for seed in (1, 2):
            run, stage, dirs, ops, _ = prepare_run(workload, seed, 0, data)
            res = run_jvm(classes, workload, run, stage, dirs, ops, 60, 0)
            shutil.rmtree(run, ignore_errors=True)
            got += [(o["name"], o["result"]) for o in res["ops"] if o["ok"]]
        rec = {}
        for k in lib.KEY_WORKLOADS[workload]:
            seen = {r.partition("|")[0::2] for name, r in got if name == k}
            rows = {r for r, _ in seen}
            if len(rows) != 1:
                print(f"{workload}: {k} failed or row count unstable {rows}, not recorded",
                      file=sys.stderr)
                continue
            digests = {d for _, d in seen}
            digest = digests.pop() if len(digests) == 1 else None
            rec[k] = {"rows": int(rows.pop()), "digest": None if digest == "-" else digest}
            if rec[k]["digest"] is None:
                print(f"{workload}: {k} checked by row count only", file=sys.stderr)
        out[workload] = rec
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {EXPECTED}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
