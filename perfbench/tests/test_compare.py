"""Tests of compare.py on small synthetic result files.

    python3 -m pytest perfbench/tests
"""
import json
import os
import subprocess
import sys

COMPARE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "compare.py")


def summary(i, cpu=20.0, heap=100.0, qb_cpu=1.0, wall=10.0, traced=False):
    """One run's summary, as run.py writes it. `i` adds a little
    run-to-run jitter (under 1%)."""
    j = 1 + 0.002 * (i % 5)
    r = {"workload": "w", "per_op_wall_s": {"qa": 8.0 * j, "qb": 2.0 * j},
         "per_op_cpu_s": {"qa": 15.0 * j, "qb": qb_cpu * j}}
    if traced:
        r["traced_e2e"] = {"wall_s": wall * j}
        r["metrics"] = {"exec.wall_s": {"value": 7.0 * j, "unit": "s"}}
    else:
        r["metrics"] = {k: {"value": v * j, "unit": u} for k, v, u in [
            ("setup_s", 2.0, "s"), ("cpu_s", cpu, "s"),
            ("peak_heap_mb", heap, "MB"), ("wall_s", wall, "s")]}
    return r


def write(d, runs):
    os.makedirs(d, exist_ok=True)
    for i, r in enumerate(runs):
        with open(os.path.join(d, f"{i}.json"), "w") as f:
            json.dump(r, f)
    return d


def compare(base, new):
    p = subprocess.run([sys.executable, COMPARE, base, new],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    rows = {}
    for ln in p.stdout.splitlines():
        parts = ln.split()
        if len(parts) >= 6 and parts[-1] in ("same", "worse", "better",
                                               "unresolved", "-"):
            rows[" ".join(parts[:-5])] = parts[-1]
    return p.returncode, rows, p.stdout


def test_same_code_is_same(tmp_path):
    base = write(str(tmp_path / "a"), [summary(i) for i in range(5)])
    new = write(str(tmp_path / "b"), [summary(i + 1) for i in range(5)])
    code, rows, out = compare(base, new)
    assert code == 0, out
    for k in ("setup_s", "cpu_s", "peak_heap_mb", "wall_s", "qa cpu_s",
              "qb cpu_s", "qa wall_s", "qb wall_s"):
        assert rows[k] == "same", (k, out)


def test_regression_in_a_small_query_shows(tmp_path):
    # qb is a few percent of the pass; its CPU time grows by half, which
    # moves the pass total by less than the cpu_s bound
    base = write(str(tmp_path / "a"), [summary(i) for i in range(5)])
    new = write(str(tmp_path / "b"), [summary(i, cpu=20.5, qb_cpu=1.5) for i in range(5)])
    code, rows, out = compare(base, new)
    assert code == 1, out
    assert rows["cpu_s"] == "same", out
    assert rows["qb cpu_s"] == "worse", out
    assert rows["qa cpu_s"] == "same", out


def test_wide_spread_is_unresolved(tmp_path):
    heaps = [60.0, 140.0, 80.0, 120.0, 100.0]
    base = write(str(tmp_path / "a"), [summary(i, heap=h) for i, h in enumerate(heaps)])
    new = write(str(tmp_path / "b"), [summary(i, heap=h * 1.1) for i, h in enumerate(heaps)])
    code, rows, out = compare(base, new)
    assert rows["peak_heap_mb"] == "unresolved", out


def test_tracing_overhead(tmp_path):
    base = write(str(tmp_path / "a"), [summary(0), summary(0)])
    new = write(str(tmp_path / "b"), [summary(0, wall=10.5, traced=True)])
    code, rows, out = compare(base, new)
    assert "w: tracing overhead (traced minus untraced wall_s) +0.5000 s" in out, out
