"""Reduce the harness's raw measurements to the benchmark's metrics.

`reduce` turns one run's `result.json` (plus the output-check failures)
into named metrics with units; `report` prints them for a reader. The
names and units here are the ones `BENCHMARK.json` lists.
"""
import statistics

E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "latency_p50_ms": "ms",
    "latency_p90_ms": "ms", "peak_heap_mb": "MB"}

LAYER_UNITS = {
    "tables.resolve_s": "s", "shared.build_s": "s",
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.exchanges": "count",
    "catalyst.scans": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.failed_tasks": "count",
    "exec.wall_s": "s", "exec.task_busy_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.utilization": "ratio",
    "functions.repetition_us_per_doc": "us",
    "functions.classifier_us_per_doc": "us",
    "functions.minhash_us_per_doc": "us",
    "operators.ngram_stats_us_per_doc": "us",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "storage.blocks_written": "count", "storage.block_bytes": "bytes",
    "io.bytes_written": "bytes", "io.files_written": "count",
    "stream.rows_per_s": "1/s", "stream.latency_p99_ms": "ms",
    "stream.batches": "count", "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms": "ms", "stream.coordination_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.state_rows_peak": "count", "stream.state_rows_final": "count",
    "stream.state_memory_bytes_peak": "bytes", "stream.state_commit_ms": "ms",
    "stream.rows_dropped_late": "count", "stream.watermark_lag_s": "s",
    "stream.generator_late_ms": "ms", "stream.backlog_rows_end": "count",
    "baseline.single_core_ratio": "ratio",
}


def pct(xs, q):
    """Percentile `q` (0-100) with linear interpolation; 0.0 when empty."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def stream_layers(part):
    """Stream-layer metrics from a stream measurement (the stream_apps
    workload, or the probe inside a batch workload's traced run)."""
    opened = part["open"]
    batches = [b for o in opened for b in o["batches"]]
    data = [b for b in batches if b["rows"] > 0]
    lags = [(b["end_ms"] - b["watermark_ms"]) / 1000.0 for b in data
            if b.get("watermark_ms") not in (None, 0)]
    closed = statistics.median(p["wall_s"] for p in part["passes"])
    n_pipes = max(1, len(part["passes"][0]["pipelines"]))
    return {
        "stream.rows_per_s": part["rows"] * n_pipes / closed,
        "stream.latency_p99_ms": pct([x for o in opened for x in o["latency_ms"]], 99),
        "stream.batches": float(len(batches)),
        "stream.trigger_ms_p50": pct([b["triggerExecution"] for b in data], 50),
        "stream.add_batch_ms": mean([b["addBatch"] for b in data]),
        # everything but addBatch: the per-batch coordination cost (the
        # MemoryStream source's latestOffset and getBatch are sub-ms, so
        # they show only here and in the spans)
        "stream.coordination_ms": mean([b["triggerExecution"] - b["addBatch"] for b in data]),
        "stream.query_planning_ms": mean([b["queryPlanning"] for b in data]),
        "stream.wal_commit_ms": mean([b["walCommit"] for b in data]),
        "stream.commit_offsets_ms": mean([b["commitOffsets"] for b in data]),
        "stream.state_rows_peak": float(max([b["state_rows"] for b in batches] or [0])),
        "stream.state_rows_final": float(sum(
            o["batches"][-1]["state_rows"] for o in opened if o["batches"])),
        "stream.state_memory_bytes_peak": float(max([b["state_bytes"] for b in batches] or [0])),
        "stream.state_commit_ms": mean([b["state_commit_ms"] for b in data]),
        "stream.rows_dropped_late": float(sum(b["dropped_late"] for b in batches)),
        "stream.watermark_lag_s": pct(lags, 50),
        "stream.generator_late_ms": mean(part["generator_late_ms"]),
        "stream.backlog_rows_end": float(sum(
            o["generated"] - o["consumed_at_stop"] for o in opened)),
    }


def reduce(raw, bad, trace):
    """Metrics, attempted and failed operations of one run."""
    stream = raw["workload"] == "stream_apps"
    out = {"workload": raw["workload"], "cores": raw["cores"]}
    if stream:
        passes = raw["passes"]
        ops = [p for ps in passes for p in ps["pipelines"]] + raw["open"]
        name = "pipeline"
        lat_ms = [x for o in raw["open"] for x in o["latency_ms"]]
        per_op, per_op_cpu = {}, {}
        for ps in passes:
            for p in ps["pipelines"]:
                per_op.setdefault(p["pipeline"], []).append(p["s"])
                per_op_cpu.setdefault(p["pipeline"], []).append(p["cpu_s"])
    else:
        passes = raw["passes"]
        ops = [q for p in passes for q in p["queries"]]
        name = "name"
        lat_ms = [(q["construct_s"] + q["action_s"]) * 1000 for p in passes
                  for q in p["queries"]]
        per_op, per_op_cpu = {}, {}
        for p in passes:
            for q in p["queries"]:
                per_op.setdefault(q["name"], []).append(q["construct_s"] + q["action_s"])
                per_op_cpu.setdefault(q["name"], []).append(q["cpu_s"])
    failed = sum(1 for o in ops if not o["ok"] or o[name] in bad)
    walls = [p["wall_s"] for p in passes]
    e2e = {
        "setup_s": statistics.median(raw["setup_s"]),
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "latency_p50_ms": pct(lat_ms, 50),
        "latency_p90_ms": pct(lat_ms, 90),
        "peak_heap_mb": max(raw["live_heap_mb"]),
    }
    out["attempted"] = len(ops)
    out["failed"] = failed
    out["failed_frac"] = failed / len(ops)
    out["samples"] = len(lat_ms)
    out["passes"] = len(walls)
    out["wall_s_passes"] = walls
    out["per_op_wall_s"] = {k: statistics.median(v) for k, v in per_op.items()}
    out["per_op_cpu_s"] = {k: statistics.median(v) for k, v in per_op_cpu.items()}
    if stream:
        out["stream_rows_per_s"] = raw["rows"] * len(raw["passes"][0]["pipelines"]) \
            / e2e["wall_s"]
        out["stream_latency_p99_ms"] = pct(lat_ms, 99)
        out["open_loop_rate"] = raw["rate"]
    if not trace:
        out["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        return out
    layers = {"tables.resolve_s": statistics.median(raw["tables_s"]),
              "shared.build_s": statistics.median(raw["shared_s"])}
    layers.update(raw["layers"])
    layers.update({k: v for k, v in raw["probes"].items() if k in LAYER_UNITS})
    layers.update(stream_layers(raw if stream else raw["stream_probe"]))
    layers["baseline.single_core_ratio"] = raw["baseline_wall_s"] / raw["single_core_wall_s"]
    out["traced_e2e"] = e2e
    out["baseline_wall_s"] = raw["baseline_wall_s"]
    out["single_core_wall_s"] = raw["single_core_wall_s"]
    if not stream:
        # construct + plan + exec against the query spans' wall time
        out["phase_cover_s"] = (layers["queries.construct_s"]
                                + raw["layers"]["catalyst.plan_s"]
                                + layers["exec.wall_s"])
        out["query_wall_s"] = statistics.median(walls)
    out["metrics"] = {k: {"value": float(v), "unit": LAYER_UNITS[k]}
                      for k, v in layers.items() if k in LAYER_UNITS}
    return out


def report(res, bad, f):
    """Human-readable lines: every metric with its unit, then findings."""
    print(f"workload {res['workload']}: local[{res['cores']}], "
          f"{res['passes']} passes, {res['samples']} latency samples", file=f)
    for k, m in res["metrics"].items():
        print(f"  {k:38s} {m['value']:14.4f} {m['unit']}", file=f)
    print(f"  {'failed_frac':38s} {res['failed_frac']:14.4f} ratio "
          f"({res['failed']}/{res['attempted']})", file=f)
    for k in ("stream_rows_per_s", "stream_latency_p99_ms", "open_loop_rate",
              "baseline_wall_s", "single_core_wall_s"):
        if k in res:
            print(f"  {k:38s} {res[k]:14.4f}", file=f)
    if "phase_cover_s" in res:
        print(f"  construct+plan+exec per pass {res['phase_cover_s']:.4f} s "
              f"of {res['query_wall_s']:.4f} s pass wall", file=f)
    for k, v in sorted(bad.items()):
        print(f"  FINDING {k}: {v}", file=f)
