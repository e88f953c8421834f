#!/usr/bin/env python3
"""Repository benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload {map,curation} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Each phase of a workload runs a fixed amount
of work per 10 s of S (perfbench/workloads.py). Builds the session through
`arrow_supercluster_spark.session.build_session(master="local[n]")`,
n = min(4, usable cores), with the library's own defaults; the benchmark
adds only `spark.ui.enabled=false` and `spark.ui.showConsoleProgress=false`.

Untraced (`--trace 0`) the last stdout line carries the end-to-end metrics;
traced (`--trace 1`) it carries the per-layer metrics, which come from spans
around every call into the package's layers (perfbench/tracing.py). The
lines before it print every named end-to-end metric of the workload with its
unit. Everything the run writes stays under `.perfbench/` in the
repository root: engine workdirs and Spark scratch in `.perfbench/work`
(deleted at exit), span dumps in `.perfbench/traces`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")


def since_process_start() -> float:
    """Seconds since this process was started, both ends on the boot-relative
    clock of /proc (the start in clock ticks, now at 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("map", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def prepare_env(work: str) -> None:
    """Python workers get the package path explicitly (run from elsewhere,
    `applyInPandas` workers cannot import the package); scratch stays in
    the work directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.enabled=false",
            "--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pids() -> list:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return [proc.pid] if proc is not None else []


def main() -> int:
    ticks_start = cpu_ticks()
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "arrow_supercluster_spark", "__init__.py")):
        print(f"arrow_supercluster_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(OUT, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    from perfbench import layers, workloads
    from perfbench.stats import peak_rss_mib
    from perfbench.tracing import Tracer, instrument

    from arrow_supercluster_spark import session

    n = min(4, len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    spark = session.build_session(master=f"local[{n}]")
    setup_s = since_process_start()
    build_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, work)
        ctx.log(f"session ready after {setup_s:.2f} s")
        if args.trace:
            instrument(tracer)
        res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            per_layer = layers.per_layer(ctx, res, build_s=build_s)
        rss = peak_rss_mib([os.getpid(), *jvm_pids()])
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    ctx.log("stopped")
    ticks = cpu_ticks()
    steal = (ticks[0] - ticks_start[0]) / max(1, ticks[1] - ticks_start[1])

    report = {
        "setup_s": (setup_s, "s"),
        **res["report"],
        "peak_rss_mib": (rss, "MiB; driver JVM + Python, sum of VmHWM"),
        "failed_ops_frac": (ctx.failed / ctx.attempted, f"failed/{ctx.attempted} attempted"),
        "cpu_steal_frac": (steal, "share of machine CPU time taken by the hypervisor"),
    }
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for name, (value, unit) in report.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{name:<24} {shown:>12}  {unit}")

    if args.trace:
        traces = os.path.join(OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
        metrics = per_layer
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "batch_s": (res["batch_s"], "s"),
            "op_p50_ms": (res["op_p50_ms"], "ms"),
            "peak_rss_mib": (rss, "MiB"),
        }
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
