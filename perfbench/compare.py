"""Summarise benchmark results, or compare two sets of them.

    python3 perfbench/compare.py <results dir> [<results dir of the change>]

Each directory holds the result files `run.py` writes to
.bench_build/results/ (copy that directory away after measuring one
commit). For every workload and metric this prints the median over seeds,
the spread (distance between the first and third quartile as a share of
the median) and, with two directories, the change of the median as a share
of the first set's median, against the metric's bound in BENCHMARK.json.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """{(workload, trace): {metric: [values]}} over the files in d."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        s = r["summary"]
        got = out.setdefault((s["workload"], s["trace"]), {})
        for k, v in r["metrics"].items():
            if v is not None:
                got.setdefault(k, []).append(v)
    return out


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q[2] - q[0]) / med if med else 0.0


def main(argv):
    if len(argv) not in (1, 2):
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    sets = [load(d) for d in argv]
    for (w, trace), metrics in sorted(sets[0].items()):
        print(f"== {w} (trace {trace})")
        for k, xs in sorted(metrics.items()):
            med = statistics.median(xs)
            line = f"  {k:40s} n={len(xs):2d} median={med:12.4f} spread={spread(xs):.3f}"
            if k in bounds:
                line += f" bound={bounds[k]['bound']}"
            if len(sets) == 2:
                ys = sets[1].get((w, trace), {}).get(k)
                if ys:
                    med2 = statistics.median(ys)
                    change = (med2 - med) / med if med else 0.0
                    line += f" | change median={med2:12.4f} ({change:+.3f}) spread={spread(ys):.3f}"
                    b = bounds.get(k)
                    if b:
                        worse = change if b["better"] == "lower" else -change
                        line += "  WORSE THAN BOUND" if worse > b["bound"] else ""
            print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
