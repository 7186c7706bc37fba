#!/usr/bin/env python3
"""Compare two sets of benchmark results against the benchmark's bounds.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a result file (the `summary.json` a run writes, or
a JSON list of them) or a directory searched for `*.json` results. Runs
are grouped by workload and by traced/untraced mode. For every metric,
and for every query's (or pipeline's) wall time, the tool prints both
medians, the change, and a verdict:

  worse        the new median is worse than the base by more than the bound
  better       the new median is better by more than the bound
  same         within the bound either way
  unresolved   the run-to-run spread (quartile distance over median) of
               either side is wider than the bound, and the runs do not
               separate completely

Gated end-to-end metrics use their bound from BENCHMARK.json. The times
a run prints but BENCHMARK.json does not gate (`wall_s` and the
latencies), and every query's (or pipeline's) CPU time and wall time,
use the bound of the gated time metric, `cpu_s` (OP_BOUND), so a
regression in any single query shows, not only in the slowest few.
Per-layer metrics have no bound and are printed for reading only. When
one side holds traced runs and the other untraced runs of the same
workload, the difference of their `wall_s` medians is printed as the
tracing overhead.

Exit status: 1 when any metric is worse than its bound, else 0.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the gated metric whose bound applies to ungated times and to every
# query's and pipeline's own times
OP_BOUND = "cpu_s"
UNGATED_TIMES = ("wall_s", "latency_p50_ms", "latency_p90_ms")


def load(path):
    files = (sorted(glob.glob(os.path.join(path, "**", "*.json"), recursive=True))
             if os.path.isdir(path) else [path])
    runs = []
    for f in files:
        with open(f) as fh:
            d = json.load(fh)
        for r in d if isinstance(d, list) else [d]:
            if isinstance(r, dict) and "metrics" in r and "workload" in r:
                runs.append(r)
    return runs


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4) if len(xs) >= 4 else [min(xs), 0, max(xs)]
    m = statistics.median(xs)
    return (q[2] - q[0]) / m if m else 0.0


def verdict(base, new, bound, lower_is_better):
    if bound is None:
        return "-"
    mb, mn = statistics.median(base), statistics.median(new)
    sign = 1 if lower_is_better else -1
    separated = (max(new) < min(base)) or (min(new) > max(base))
    if max(spread(base), spread(new)) > bound and not separated:
        return "unresolved"
    if mb == 0:
        return "same" if mn == 0 else ("worse" if sign * mn > 0 else "better")
    change = sign * (mn - mb) / abs(mb)
    if change > bound:
        return "worse"
    if change < -bound:
        return "better"
    return "same"


def group(runs):
    g = {}
    for r in runs:
        key = (r["workload"], "trace" if "traced_e2e" in r else "e2e")
        g.setdefault(key, []).append(r)
    return g


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    defs = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    op_def = {"bound": defs[OP_BOUND]["bound"], "better": "lower"}
    for k in UNGATED_TIMES:
        defs.setdefault(k, op_def)
    base, new = group(load(argv[1])), group(load(argv[2]))
    worse = 0
    for key in sorted(set(base) | set(new)):
        if key not in base or key not in new:
            print(f"\n{key[0]} ({key[1]}): only in {'new' if key in new else 'base'}")
            continue
        b, n = base[key], new[key]
        print(f"\n{key[0]} ({key[1]}): {len(b)} base runs, {len(n)} new runs")
        print(f"  {'metric':40s} {'base':>14s} {'new':>14s} {'change':>8s} "
              f"{'spread b/n':>13s}  verdict")
        rows = [(k, [r["metrics"][k]["value"] for r in b],
                 [r["metrics"][k]["value"] for r in n], defs.get(k, {}))
                for k in n[0]["metrics"] if all(k in r["metrics"] for r in b + n)]
        for per in ("per_op_cpu_s", "per_op_wall_s"):
            ops = sorted(set().union(*(r.get(per, {}) for r in b + n)))
            rows += [(f"{o} {per[7:]}", [r[per].get(o, 0.0) for r in b],
                      [r[per].get(o, 0.0) for r in n], op_def) for o in ops
                     if all(per in r for r in b + n)]
        for k, xs, ys, d in rows:
            v = verdict(xs, ys, d.get("bound"), d.get("better", "lower") == "lower")
            worse += v == "worse"
            mb, mn = statistics.median(xs), statistics.median(ys)
            ch = f"{(mn - mb) / mb:+.1%}" if mb else "n/a"
            print(f"  {k:40s} {mb:14.4f} {mn:14.4f} {ch:>8s} "
                  f"{spread(xs):6.3f}/{spread(ys):.3f}  {v}")
    for w in sorted({k[0] for k in base} | {k[0] for k in new}):
        e2e = base.get((w, "e2e")) or new.get((w, "e2e"))
        tr = new.get((w, "trace")) or base.get((w, "trace"))
        if e2e and tr:
            overhead = (statistics.median(r["traced_e2e"]["wall_s"] for r in tr)
                        - statistics.median(r["metrics"]["wall_s"]["value"] for r in e2e))
            print(f"\n{w}: tracing overhead (traced minus untraced wall_s) "
                  f"{overhead:+.4f} s")
    print(f"\n{worse} metric(s) worse than their bound")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
