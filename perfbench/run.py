#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {migrate,churn,corpus} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout of the engine. One process, one
closed-loop client on ``local[$SPARK_GRAFT_CPUS]`` (default: every
core). The seed generates the inputs; the engine only sees them.

After set-up the workload runs whole units of work until ``--seconds``
have passed (at least one unit), checks every output against a DuckDB
reference, and prints two JSON lines: first a report (environment,
the workload's own metrics by name and unit, errors, and in the
traced run the per-layer self times and tracing overhead), then the
result ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones below; with
``--trace 1`` the engine's public layer functions are wrapped in
spans and the metrics are the per-layer ones (``layers.PER_LAYER``).

Exit status: 0 when every output check passed, 1 when one failed or
an operation raised, 2 when the engine package is not importable.
All scratch data lives under ``perfbench/.work`` and is removed at
exit; the Spark JVM and its workers are stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "apache_iceberg_tables_migration_tool_spark"

#: name → unit of the untraced run's result metrics. ``unit_cpu_s`` is
#: the median CPU seconds the process tree (driver, JVM, Python
#: workers) spent in the engine operations of one unit of work
#: (migrate: a plan→copy→verify pass; churn: one maintenance cycle;
#: corpus: one build), summed per operation as ``unit_s`` is. CPU time
#: leaves out what the hypervisor steals, so it holds steady on a
#: shared host where the unit's wall time (``unit_s``, in the report)
#: can double. The report line adds every other end-to-end metric.
END_TO_END = {
    "setup_s": "s",
    "unit_cpu_s": "s",
}


def guard_environment() -> str:
    """Make the engine importable here and in Spark's Python workers
    (they inherit PYTHONPATH from the JVM, which inherits it from us);
    returns the core count: ``$SPARK_GRAFT_CPUS``, else every core this
    process may run on (``nproc``)."""
    sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    return cpus


def start_spark(cpus: str, work: str):
    """The engine's own session on ``local[cpus]``, with every scratch
    file (shuffle, temp files, warehouse) kept under ``work``."""
    from apache_iceberg_tables_migration_tool_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # every JVM spark-submit starts (launcher and driver): temp files
    # here, and no perf-data file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM (it exits when its stdin
    closes) and wait for it; Python workers are its children."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def environment(spark, seed: int, load_before) -> dict:
    import procstat

    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "seed": seed,
        "loadavg_before": load_before,
        "loadavg_after": procstat.loadavg(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = guard_environment()
    sys.path.insert(0, HERE)
    try:
        __import__(PACKAGE)
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import layers
    import procstat
    from tracer import NullTracer, SparkCounters, Tracer
    from workloads import load_all, p50

    registry = load_all()
    if args.workload not in registry:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(registry)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    load_before = procstat.loadavg()
    sampler = procstat.TreeSampler().start()
    spark = None
    try:
        t0 = time.monotonic()
        spark = start_spark(cpus, work)
        session_s = time.monotonic() - t0
        counters = SparkCounters(spark)
        tracer = Tracer(counters.next_job_id) if args.trace else NullTracer()
        wl = registry[args.workload](spark, work, args.seed, tracer, sampler=sampler)
        wl.setup()
        setup_s = time.monotonic() - t0
        if args.trace:
            layers.install(tracer)
        sampler.sample()
        cpu0, steal0, loop0 = sampler.cpu_seconds(), procstat.steal_seconds(), time.monotonic()
        unit_cpu: list[float] = []
        while True:
            c0 = wl.op_cpu
            try:
                wl.units.append(wl.unit())
                unit_cpu.append(wl.op_cpu - c0)
                wl.after_unit()
            except Exception as e:  # an operation or its check raised
                wl.failed += 1
                wl.errors.append(f"{type(e).__name__}: {e}")
                traceback.print_exc()
                break
            if time.monotonic() - loop0 >= args.seconds:
                break
        loop_s = time.monotonic() - loop0
        cpu_util = (sampler.cpu_seconds() - cpu0) / loop_s / int(cpus)
        steal_s = procstat.steal_seconds() - steal0
        if args.trace:
            tracer.unwrap_all()
            tracer.finalize()
        try:
            for problem in wl.final_check():
                wl.expect(problem)
        except Exception as e:
            wl.failed += 1
            wl.errors.append(f"final check: {type(e).__name__}: {e}")
        e2e = {
            "setup_s": setup_s,
            "unit_s": p50([u.seconds for u in wl.units]),
            "unit_cpu_s": p50(unit_cpu),
            "peak_rss_mb": sampler.peak_rss / 1e6,
            "fail_ratio": wl.failed / max(wl.attempted, 1),
            "write_s": p50([u.write_s for u in wl.units]),
            "read_s": p50([u.read_s for u in wl.units]),
        }
        units = {**END_TO_END, "unit_s": "s", "peak_rss_mb": "MB", "fail_ratio": "ratio",
                 "write_s": "s", "read_s": "s"}
        report = {
            "workload": args.workload,
            "env": {**environment(spark, args.seed, load_before), "steal_s": steal_s},
            "units": len(wl.units),
            "end_to_end": {
                **{k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
                **{k: {"value": m.value, "unit": m.unit, **({"note": m.note} if m.note else {})}
                   for k, m in wl.detail().items()},
            },
            "op_seconds": {k: [round(x, 4) for x in v] for k, v in wl.lat.items()},
            "errors": wl.errors[:10],
        }
        last_path = os.path.join(WORK, f"last-untraced-{args.workload}.json")
        if args.trace:
            detail = layers.spark_detail(tracer, counters)
            values = layers.metrics(tracer, wl, session_s, detail, cpu_util)
            metrics = {k: {"value": values[k], "unit": u} for k, u in layers.PER_LAYER.items()}
            spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.dump(spans_path, detail=detail, extra={"end_to_end": e2e})
            report["spans_file"] = os.path.relpath(spans_path, ROOT)
            report["self_s_by_span"] = layers.self_time_by_layer(tracer)
            report["note"] = ("end_to_end is the traced run's; spans marked lazy time "
                              "driver-side planning of a DataFrame only, its Spark execution "
                              "is charged to the span that runs the action")
            if os.path.exists(last_path):
                with open(last_path) as f:
                    base = json.load(f)
                report["tracing_overhead"] = {
                    k: e2e[k] / base[k] - 1 for k in e2e if base.get(k)}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
            with open(last_path, "w") as f:
                json.dump(e2e, f)
        correct = wl.failed == 0 and bool(wl.units)
        result = {"correct": correct, "attempted": max(wl.attempted, 1),
                  "failed": wl.failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
