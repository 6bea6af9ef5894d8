"""Helpers of the benchmark: workload definitions, the seeded op list,
the percentile rule, output checks and the DuckDB replay of `upsert`."""
import math
import os
import random
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Query keys of the `batch` workload. A pass runs every key once, in an order
# the seed permutes. The list is fixed so that the work of a pass does not
# depend on the seed; it covers each layer of the batch path (README.md).
BATCH_KEYS = [
    # pipeline path: pruned parquet scan through graft.Tables, the DirSink
    # write connector, broadcast and sort-merge joins, grouping sets, a
    # top-k window, and the reference ETL job
    "a_scan_pruned", "a_sink_custom", "c_join_broadcast", "c_join_sort_merge",
    "d_agg_grouping_sets", "e_win_topk_group", "p_etl_pipeline",
    # keys that read the per-JVM pipeline fixtures (DPP layout, prior rollup)
    "p_join_dpp", "p_incremental_agg",
    # curation path: minhash signatures, LSH banding, simhash, brute-force
    # L2 top-k through graft_sqdiff / graft_topk
    "i_minhash", "i_lsh_buckets", "i_simhash", "i_knn_l2",
    # ANN over the warmed fixtures: exact top-3 truth (ILlmOps) and the
    # shared PQ / IVF+PQ training (OCurate)
    "i_ann_recall", "i_ann_pq", "i_ann_ivfpq",
]

KEY_WORKLOADS = {"batch": BATCH_KEYS}
WORKLOADS = ("batch", "upsert")

# warm-up keys run once, untimed, on the first set-up copy: they load the
# scan, join, window and vector code paths before anything is timed
WARM_KEYS = {"batch": ["d_agg_basic", "c_join_broadcast", "i_minhash", "i_knn_l2"]}
KEY_PASSES = 100          # more passes than a run can execute

# One `upsert` pass: every pass runs the same kinds, so passes are
# comparable across seeds; the seed picks keys, rows and order. Shares:
# merge 27%, mergeWhen 9%, update 9%, delete 18% (half with deletion
# vectors), streaming append 9%, point reads 18%, range reads 9%; two of
# the eight DML ops enter through SQL. Batch sizes are shares of the table.
UPSERT_PASS = [
    ("merge", {"size": 0.001, "sql": 0}), ("merge", {"size": 0.01, "sql": 0}),
    ("merge", {"size": 0.005, "sql": 1}), ("merge_when", {"size": 0.005}),
    ("update", {"sql": 0}), ("delete", {"sql": 0, "dv": 1}),
    ("delete", {"sql": 1, "dv": 0}), ("stream_append", {"size": 0.005}),
    ("read_eq", {}), ("read_eq", {}), ("read_range", {}),
]
COMPACT_EVERY = 5         # passes; about every 50 ops
UPSERT_PASSES = 12        # more passes than a run can execute


def percentiles(samples, need_beyond=10):
    """Median and 90th percentile of `samples`. The 90th percentile is
    None unless at least `need_beyond` samples lie above it."""
    xs = sorted(samples)
    if not xs:
        return None, None
    p50 = statistics.median(xs)
    if len(xs) * 0.1 < need_beyond:
        return p50, None
    k = math.ceil(0.9 * len(xs)) - 1
    p90 = xs[k]
    if sum(1 for x in xs if x > p90) < need_beyond:
        return p50, None
    return p50, p90


def gmean_of_medians(groups):
    """Geometric mean, over the groups, of each group's median. Every op
    of a pass weighs the same whatever its cost, and one op's noisy
    sample moves the figure by a fraction of its own change, where a
    pooled median jumps from one op's latency to the next."""
    meds = [statistics.median(v) for v in groups if v]
    if not meds:
        return None
    return math.exp(statistics.fmean(math.log(m) for m in meds))


def _line(pass_no, kind, **args):
    return "\t".join([str(pass_no), kind] + [f"{k}={v}" for k, v in args.items()])


def key_ops(workload, seed):
    """Op list of a key workload: untimed warm-up keys, then passes that
    each run every key once in a seeded order."""
    rng = random.Random(f"{workload}:{seed}")
    keys = KEY_WORKLOADS[workload]
    lines = [_line(-1, "key", key=k) for k in WARM_KEYS[workload]]
    for p in range(KEY_PASSES):
        order = list(keys)
        rng.shuffle(order)
        lines += [_line(p, "key", key=k) for k in order]
    return lines


class UpsertGen:
    """Seeded op stream for `upsert`. Update batches are staged as parquet
    files under `stage`; the table is the generated `lineitem`."""

    def __init__(self, lineitem_path, stage, seed):
        self.rng = np.random.default_rng(seed)
        self.stage = stage
        t = pq.read_table(lineitem_path)
        self.schema = t.schema
        self.base = {c: t.column(c).to_numpy() for c in t.column_names}
        self.n = t.num_rows
        self.max_key = int(self.base["l_orderkey"].max()) + 1
        self.next_new = self.max_key + 1000
        self.count = 0

    def _write(self, cols):
        """Stage one batch; the op names it relative to the stage dir, so
        the op list does not depend on where the run happens."""
        name = f"b{self.count:05d}"
        os.makedirs(os.path.join(self.stage, name))
        pq.write_table(pa.table(cols, schema=self.schema),
                       os.path.join(self.stage, name, "part-0.parquet"))
        self.count += 1
        return name

    def _rows(self, idx, new_keys):
        """Rows for a batch: existing keys `idx` (row positions in the base
        table) with new values, plus `new_keys` fresh (orderkey, line)."""
        r = self.rng
        n_old, n_new = len(idx), len(new_keys)
        n = n_old + n_new
        cols = {}
        for c in self.schema.names:
            cols[c] = np.concatenate([self.base[c][idx],
                                      self.base[c][r.integers(0, self.n, n_new)]])
        if n_new:
            cols["l_orderkey"][n_old:] = [k for k, _ in new_keys]
            cols["l_linenumber"][n_old:] = [ln for _, ln in new_keys]
        qty = r.integers(1, 51, n).astype(np.float64)
        cols["l_quantity"] = qty
        cols["l_extendedprice"] = np.round(qty * r.uniform(900.0, 2100.0, n), 2)
        cols["l_returnflag"] = np.array(["A", "N", "R"], dtype=object)[r.integers(0, 3, n)]
        return cols

    def _fresh(self, n):
        keys = []
        while len(keys) < n:
            k = self.next_new
            self.next_new += 1
            keys += [(k, ln) for ln in range(1, int(self.rng.integers(1, 8)) + 1)]
        return keys[:n]

    def _window(self, frac):
        lo = int(self.rng.integers(0, self.max_key))
        return lo, lo + max(1, int(self.max_key * frac))

    def _batch(self, size, matched_share):
        n = max(1, int(self.n * size))
        n_old = int(round(n * matched_share))
        lo, hi = self._window(0.1)
        pos = np.nonzero((self.base["l_orderkey"] >= lo) & (self.base["l_orderkey"] < hi))[0]
        idx = self.rng.choice(pos, size=min(n_old, len(pos)), replace=False)
        return self._rows(np.sort(idx), self._fresh(n - len(idx)))

    def op(self, pass_no, kind, spec):
        r = self.rng
        sql = spec.get("sql", 0)
        if kind in ("merge", "merge_when"):
            return _line(pass_no, kind, src=self._write(self._batch(spec["size"], 0.8)),
                         sql=sql)
        if kind in ("update", "delete"):
            lo, hi = self._window(0.002)
            cond = f"l_orderkey BETWEEN {lo} AND {hi}"
            if kind == "delete":
                cond += f" AND l_linenumber >= {int(r.integers(1, 5))}"
            return _line(pass_no, kind, cond=cond, sql=sql, dv=spec.get("dv", 0))
        if kind == "stream_append":
            # every row staged twice: the ingest's streaming dedup drops
            # the copies
            cols = self._batch(spec["size"], 0.0)
            twice = {c: np.concatenate([v, v]) for c, v in cols.items()}
            return _line(pass_no, kind, src=self._write(twice))
        if kind == "read_eq":
            return _line(pass_no, kind, k=int(r.integers(0, self.max_key)))
        lo, hi = self._window(0.005)
        return _line(pass_no, kind, lo=lo, hi=hi)


def upsert_ops(lineitem_path, stage, seed, passes=UPSERT_PASSES):
    """Op list of `upsert`: four untimed warm-up ops (both merge front
    doors, the streaming ingest and a point read), then `passes` passes in
    a seeded order, with a compact after every COMPACT_EVERY passes."""
    g = UpsertGen(lineitem_path, stage, seed)
    lines = [g.op(-1, "merge", {"size": 0.005, "sql": 0}),
             g.op(-1, "merge", {"size": 0.005, "sql": 1}),
             g.op(-1, "stream_append", {"size": 0.005}),
             g.op(-1, "read_eq", {})]
    for p in range(passes):
        plan = list(UPSERT_PASS)
        order = g.rng.permutation(len(plan))
        lines += [g.op(p, *plan[i]) for i in order]
        if (p + 1) % COMPACT_EVERY == 0:
            lines.append(_line(p, "compact", target=8))
    return lines


# --- output checks -------------------------------------------------------

def check_key(expected, key, result):
    """None when `result` ("rows|digest") matches the recorded value for
    `key`, else the reason it does not. Keys recorded with digest None are
    checked by row count only."""
    exp = expected.get(key)
    if exp is None:
        return f"no expected value recorded for {key}"
    rows, _, digest = result.partition("|")
    if int(rows) != exp["rows"]:
        return f"rows {rows} != expected {exp['rows']}"
    if exp["digest"] is not None and digest != exp["digest"]:
        return f"digest {digest} != expected {exp['digest']}"
    return None


COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"]
SUMMARY = ("SELECT count(*), coalesce(sum(l_orderkey), 0), "
           "coalesce(sum(l_linenumber), 0), "
           "coalesce(sum(l_quantity), 0)::BIGINT, "
           "coalesce(sum(round(l_extendedprice * 100)::BIGINT), 0) FROM t")


def _args(line):
    f = line.split("\t")
    return f[1], dict(kv.split("=", 1) for kv in f[2:])


class Replay:
    """Independent model of the upsert table in DuckDB: the same op list
    applied with plain SQL, for comparison with what TxnTable returned."""

    def __init__(self, lineitem_path, stage):
        import duckdb
        self.stage = stage
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(f"CREATE TABLE t AS SELECT {', '.join(COLS)} "
                         f"FROM read_parquet('{lineitem_path}')")

    def rows(self):
        return self.con.execute("SELECT count(*) FROM t").fetchone()[0]

    def apply(self, line):
        """Apply one op. Returns (read summary or None, rows changed)."""
        kind, a = _args(line)
        c = self.con
        key = ("s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber")
        if kind in ("read_eq", "read_range"):
            where = (f"l_orderkey = {a['k']}" if kind == "read_eq"
                     else f"l_orderkey BETWEEN {a['lo']} AND {a['hi']}")
            r = c.execute(f"{SUMMARY} WHERE {where}").fetchone()
            return "|".join(str(int(x)) for x in r), 0
        if kind == "compact":
            return None, 0
        if kind == "update":
            n = c.execute(f"UPDATE t SET l_quantity = l_quantity + 1 "
                          f"WHERE {a['cond']}").fetchone()[0]
            return None, n
        if kind == "delete":
            n = c.execute(f"DELETE FROM t WHERE {a['cond']}").fetchone()[0]
            return None, n
        src = f"read_parquet('{self.stage}/{a['src']}/*.parquet')"
        c.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT {', '.join(COLS)} FROM {src}")
        if kind == "stream_append":
            # the streaming ingest drops duplicate keys; staged duplicates
            # are exact copies
            return None, c.execute("INSERT INTO t SELECT DISTINCT * FROM s").fetchone()[0]
        if kind == "merge":
            d = c.execute(f"DELETE FROM t WHERE EXISTS (SELECT 1 FROM s WHERE {key})").fetchone()[0]
            n = c.execute("INSERT INTO t SELECT * FROM s").fetchone()[0]
            return None, n + d
        # merge_when: first matching clause decides, evaluated on the
        # pre-merge rows
        c.execute("CREATE OR REPLACE TEMP TABLE d AS SELECT t.l_orderkey AS k, "
                  "t.l_linenumber AS ln, s.l_quantity AS q, s.l_extendedprice AS p, "
                  "CASE WHEN s.l_quantity > t.l_quantity THEN 'U' "
                  "WHEN s.l_returnflag = 'R' THEN 'D' ELSE 'N' END AS act "
                  f"FROM t JOIN s ON {key}")
        u = c.execute("UPDATE t SET l_quantity = d.q, l_extendedprice = d.p FROM d "
                      "WHERE d.act = 'U' AND t.l_orderkey = d.k "
                      "AND t.l_linenumber = d.ln").fetchone()[0]
        x = c.execute("DELETE FROM t WHERE EXISTS (SELECT 1 FROM d WHERE d.act = 'D' "
                      "AND d.k = t.l_orderkey AND d.ln = t.l_linenumber)").fetchone()[0]
        i = c.execute("INSERT INTO t SELECT * FROM s WHERE NOT EXISTS (SELECT 1 FROM d "
                      "WHERE d.k = s.l_orderkey AND d.ln = s.l_linenumber)").fetchone()[0]
        return None, u + x + i

    def diff_snapshot(self, snapshot_dir):
        """Rows in one side and not the other (multiset), in both
        directions, against the table TxnTable read back at the end."""
        cols = ", ".join("CAST(l_shipdate AS TIMESTAMP)" if c == "l_shipdate" else c
                         for c in COLS)
        snap = f"read_parquet('{snapshot_dir}/*.parquet')"
        q = (f"SELECT count(*) FROM (SELECT {cols} FROM t EXCEPT ALL "
             f"SELECT {cols} FROM {snap})")
        missing = self.con.execute(q).fetchone()[0]
        q = (f"SELECT count(*) FROM (SELECT {cols} FROM {snap} EXCEPT ALL "
             f"SELECT {cols} FROM t)")
        extra = self.con.execute(q).fetchone()[0]
        return missing, extra
