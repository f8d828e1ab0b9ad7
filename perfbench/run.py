#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload warehouse_serving --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Runs one seeded, single-client, closed-loop workload against the engine
in this checkout on ``local[n]`` (n = min(4, usable cores)) and prints,
as its last stdout line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Lines before it name the
workload's own metrics with their units. ``--workload all`` runs every
workload in turn, each in its own process.

Everything the run writes stays under the checkout: scratch data in
``.perfbench_scratch/`` (removed at exit), span dumps of traced runs in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("warehouse_serving", "table_lifecycle")
END_TO_END = {
    "setup_s": "s",
    "op_geomean_ms": "ms",
    "work_per_s": "1/s",
    "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "session.start_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "jvm.gc_ms": "ms",
    "trace.overhead_ratio": "ratio",
    "trace.work_per_s": "1/s",
    "etl.pdf.decode_s": "s",
    "etl.pdf.files_per_s": "1/s",
    "etl.extract.s": "s",
    "etl.extract.accept_ratio": "ratio",
    "etl.star.build_s": "s",
    "etl.star.jobs": "count",
    "etl.semester.s": "s",
    "sources.sinks.write_s": "s",
    "sources.sinks.bytes_written": "B",
    "etl.incremental.load_s": "s",
    "etl.incremental.jobs": "count",
    "etl.incremental.new_row_ratio": "ratio",
    "etl.insights.plan_ms": "ms",
    "etl.insights.exec_ms": "ms",
    "etl.insights.jobs_per_query": "count",
    "etl.insights.tasks_per_query": "count",
    "sources.versioned.merge_ms": "ms",
    "sources.versioned.delete_dv_ms": "ms",
    "sources.versioned.delete_cow_ms": "ms",
    "sources.versioned.read_ms": "ms",
    "sources.versioned.time_travel_ms": "ms",
    "sources.versioned.change_feed_ms": "ms",
    "sources.versioned.compact_ms": "ms",
    "sources.versioned.vacuum_ms": "ms",
    "sources.versioned.bytes_written_per_user_byte": "ratio",
    "sources.versioned.files_per_snapshot": "count",
    "sources.versioned.conflict_retries": "count",
    "sources.pyds.feed.drain_ms": "ms",
    "sources.pyds.feed.batches_per_drain": "count",
    "sources.pyds.feed.rows_delivered_per_row_changed": "ratio",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.prefix_filter_s": "s",
    "operators.dedup.pairs_out": "count",
}


def _host_env(scratch: str) -> None:
    """Session-independent hygiene, set before pyspark is imported: cores
    capped at the host's, a driver heap that fits it, the checkout on the
    Python workers' path, temp files and Spark's local dirs inside the
    benchmark's scratch dir, no console progress bars."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={scratch}/spark-warehouse",
            "--driver-java-options",
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={scratch}",
            "pyspark-shell",
        ]
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _warm_up(spark, scratch: str) -> None:
    """First-use costs every workload would otherwise charge to its first
    op: the first job, a parquet write and read, a shuffle, and the
    Python worker start of an Arrow batch function."""
    path = os.path.join(scratch, "warm_up.parquet")
    spark.range(20000).selectExpr("id", "id % 7 AS k").write.parquet(path)
    df = spark.read.parquet(path)
    df.groupBy("k").count().collect()
    df.mapInPandas(lambda batches: batches, df.schema).count()


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    scratch = os.path.join(ROOT, ".perfbench_scratch", f"run-{os.getpid()}")
    _host_env(scratch)
    sys.path[:0] = [ROOT, HERE]
    import common
    import probe
    from fp_data_lakehouse_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("OFF")
    session_s = time.perf_counter() - t0
    try:
        _warm_up(spark, scratch)
        counters = probe.SparkCounters(spark)
        ctx = common.Ctx(spark, scratch, seed, seconds, trace, probe.Tracer(counters, False))
        ctx.setup_s = time.perf_counter() - t0
        if name == "warehouse_serving":
            import warehouse as workload
        else:
            import lakehouse as workload
        workload.run(ctx)
        rss = probe.rss_peak_mb([os.getpid(), counters.jvm_pid])
    finally:
        _stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run still owns a directory there

    for key, (value, unit) in ctx.info.items():
        print(f"{name} {key} {value:.6g} {unit}")
    work_s = sum(o.seconds for o in ctx.ops)
    if trace:
        spans = [s for s in ctx.tracer.spans if s.name.startswith("op.")]
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(ctx.layers)
        layers["session.start_s"] = session_s
        layers["spark.jobs"] = common.mean(s.jobs for s in spans)
        layers["spark.tasks"] = common.mean(s.tasks for s in spans)
        layers["jvm.gc_ms"] = common.mean(s.gc_ms for s in spans)
        extra = ctx.tracer.overhead_s()
        layers["trace.overhead_ratio"] = extra / work_s
        layers["trace.work_per_s"] = ctx.work / work_s
        metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in layers.items()}
        ctx.tracer.write(os.path.join(ROOT, ".perfbench_out", f"trace_{name}_seed{seed}.json"))
    else:
        values = {
            "setup_s": ctx.setup_s,
            "op_geomean_ms": 1000 * common.geomean(o.seconds for o in ctx.ops),
            "work_per_s": ctx.work / work_s,
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    failed = sum(1 for o in ctx.ops if not o.ok)
    return {"correct": failed == 0, "attempted": len(ctx.ops), "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "fp_data_lakehouse_spark")):
        print(f"no engine package next to {HERE}; nothing to measure", file=sys.stderr)
        return 2
    if args.workload == "all":
        rc = 0
        for w in WORKLOADS:
            cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            rc = rc or subprocess.run(cmd, check=False).returncode
        return rc
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
