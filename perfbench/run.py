#!/usr/bin/env python3
"""graft's benchmark: one command per workload, from a source checkout.

    python3 perfbench/run.py --workload text_kernels --seed 1 --seconds 5 --trace 0

Builds graft and the harness from source (sbt, cached by a source hash),
generates the workload's tables from the seed, runs the harness JVM for
the given seconds, checks every output, and prints the metrics. The last
line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones of BENCHMARK.json, and the spans go to
perfbench/.work/<workload>-<seed>-trace/run/spans.jsonl.

See README.md in this directory for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics as M  # noqa: E402

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every input of the build: graft's sources and build files,
    and the harness's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise SystemExit("perfbench: graft's sources are not beside this "
                         "directory; run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    digest = source_hash()
    if os.path.isfile(cp_file) and os.path.isfile(stamp) \
            and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building graft and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Xmx3g -Dsbt.offline=true "
                   "-Dsbt.override.build.repos=true")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
         f"-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def harness(cp, workload, data, work, seconds, trace, cores, rate):
    os.makedirs(work, exist_ok=True)
    log4j = os.path.join(work, "log4j2.properties")
    with open(log4j, "w") as f:
        f.write("rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\nappender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dlog4j.configurationFile={log4j}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", workload, data, work, str(seconds),
              "1" if trace else "0", str(cores), str(rate)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "harness.log"), "w") as logf:
        p = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=logf,
                           stderr=subprocess.STDOUT, timeout=170)
    if p.returncode != 0 or not os.path.isfile(os.path.join(work, "result.json")):
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: harness exited with {p.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def oracle_failures(data, results):
    """Run the project's DuckDB oracle checker; return {query: reason}."""
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         data, results], stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    bad = {}
    seen = 0
    for ln in p.stdout.splitlines():
        if ln.startswith("PASS ") or ln.startswith("FAIL "):
            seen += 1
            name, _, why = ln[5:].partition(": ")
            if ln.startswith("FAIL "):
                bad[name] = why
    if seen == 0:
        bad["_checker"] = p.stdout.strip()[-400:]
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="also write the run's summary here, "
                    "for compare.py")
    args = ap.parse_args()

    with open(os.path.join(BENCH, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}")
    w = spec["workloads"][args.workload]
    cores = max(1, min(spec["cores"], os.cpu_count() or 1))

    cp = build()
    tag = f"{args.workload}-{args.seed}-{'trace' if args.trace else 'e2e'}"
    work = os.path.join(WORK, tag)
    shutil.rmtree(work, ignore_errors=True)
    # inputs depend only on the seed and the generator parameters, so a
    # repeated seed reuses them
    params = json.dumps(w["generator"], sort_keys=True)
    data = os.path.join(WORK, "data", hashlib.sha256(
        f"{args.seed}:{params}".encode()).hexdigest()[:16])
    if not os.path.isfile(os.path.join(data, "done")):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(data, args.seed, **w["generator"])
        open(os.path.join(data, "done"), "w").close()

    raw = harness(cp, args.workload, data, os.path.join(work, "run"),
                  args.seconds, args.trace, cores, spec["rate"])
    if args.workload == "stream_apps":
        bad = dict(raw.get("check_failed", {}))
    else:
        bad = {q: "threw while capturing" for q in raw.get("capture_failed", [])}
        bad.update(oracle_failures(data, os.path.join(work, "run", "results")))
    res = M.reduce(raw, bad, args.trace == 1)
    res["seed"] = args.seed
    for path in [os.path.join(work, "summary.json")] + ([args.out] if args.out else []):
        with open(path, "w") as f:
            json.dump(res, f, indent=1)

    M.report(res, bad, sys.stdout)
    names = [m["name"] for m in spec_metrics(args.trace == 1)]
    out = {"correct": not bad and res["failed"] == 0,
           "attempted": res["attempted"], "failed": res["failed"],
           "metrics": {n: {"value": res["metrics"][n]["value"],
                           "unit": res["metrics"][n]["unit"]} for n in names}}
    print(json.dumps(out))


def spec_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["per_layer"] if trace else b["end_to_end"]


if __name__ == "__main__":
    main()
