#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--out DIR]

Runs the benchmark once per seed and workload (untraced, at the
BENCHMARK.json run length), then prints for every end-to-end metric its
median and the distance between its first and third quartile as a share
of the median (`statistics.quantiles(values, n=4)`), next to a third of
the metric's bound, which is the steadiness target. The per-run
summaries go to DIR (default perfbench/.work/spread) for compare.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text):
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", default=os.path.join(HERE, ".work", "spread"))
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    steady = True
    for w in args.workloads.split(","):
        vals = {k: [] for k in bounds}
        for s in seeds(args.seeds):
            out = os.path.join(args.out, f"{w}-{s}.json")
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0", "--out", out],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = json.loads(p.stdout.strip().splitlines()[-1])
            print(f"{w} seed {s}: correct={last['correct']} failed={last['failed']} "
                  + " ".join(f"{k}={v['value']:.4f}" for k, v in last["metrics"].items()),
                  flush=True)
            for k, v in last["metrics"].items():
                vals[k].append(v["value"])
        for k, xs in vals.items():
            q = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            sp = (q[2] - q[0]) / med
            ok = k == "setup_s" or sp < bounds[k] / 3
            steady &= ok
            print(f"  {w} {k:16s} median {med:12.4f} spread {sp:.4f} "
                  f"(target < {bounds[k] / 3:.4f}) {'ok' if ok else 'WIDE'}")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
