"""Medallion lifecycle benchmark: one workload at one seed.

    python3 perfbench/run.py --workload post_hourly --seed 1 --seconds 36 --trace 0

Run from the repository root. Prints a host/detail record, then as the
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "write_ms_p50": "ms",
    "read_ms_p50": "ms",
    "freshness_ms": "ms",
    "rows_per_s": "rows/s",
    "cpu_ms_per_row": "ms/row",
    "stored_bytes_per_input_byte": "B/B",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "batch.gate_bronze_ms": "ms",
    "batch.run_pipeline_ms": "ms",
    "batch.overhead_ms": "ms",
    "batch.jobs": "count",
    "batch.stages": "count",
    "batch.tasks": "count",
    "incremental.jobs_per_run": "count",
    "incremental.gold_days_per_run": "count",
    "incremental.silver_rewrite_bytes_per_new_byte": "B/B",
    "warehouse.read_ms": "ms",
    "warehouse.write_ms": "ms",
    "warehouse.bronze_files": "count",
    "warehouse.silver_files": "count",
    "warehouse.gold_files": "count",
    "serving.build_ms": "ms",
    "serving.fetch_ms": "ms",
    "serving.jobs_per_read": "count",
    "serving.rows_per_read": "count",
    "host.calib_ms_start": "ms",
    "host.calib_ms_end": "ms",
    "host.cpu_pressure_pct": "%",
    "trace.overhead_pct": "%",
}


WORKLOADS = ("post_hourly", "stream_drop")
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _mean(xs):
    return sum(xs) / len(xs)


def tracing_overhead_pct(op_s: list[float], traced: list[bool]) -> float:
    """How much slower the traced operations of a traced run were than
    its untraced ones, in % of the untraced median."""
    import measure

    on = [t for t, a in zip(op_s, traced) if a]
    off = [t for t, a in zip(op_s, traced) if not a]
    return 100.0 * (measure.median(on) / measure.median(off) - 1.0)


def end_to_end(res: dict, run, jvm_pid: int) -> dict:
    import measure

    return {
        "setup_s": res["setup_s"],
        "write_ms_p50": measure.median(res["write_s"]) * 1e3,
        "read_ms_p50": measure.median(res["read_s"]) * 1e3,
        "freshness_ms": measure.median(res["freshness_s"]) * 1e3,
        "rows_per_s": res["rows"] / res["write_total_s"],
        "cpu_ms_per_row": res["cpu_s"] * 1e3 / res["rows"],
        "stored_bytes_per_input_byte": run.stored_ratio(),
        "peak_rss_mb": measure.peak_rss_mb(jvm_pid),
    }


def per_layer(res: dict, run) -> dict:
    import measure

    tr, host = run.tracer, res["host"]
    sp, ct = tr.spans, tr.counts
    files = run.table_files()
    return {
        "batch.gate_bronze_ms": measure.median(sp["batch.gate_bronze_ms"]),
        "batch.run_pipeline_ms": measure.median(sp["batch.run_pipeline_ms"]),
        "batch.overhead_ms": measure.median(sp["batch.overhead_ms"]),
        "batch.jobs": _mean(ct["batch.jobs"]),
        "batch.stages": _mean(ct["batch.stages"]),
        "batch.tasks": _mean(ct["batch.tasks"]),
        "incremental.jobs_per_run": _mean(ct["incremental.run_pipeline_ms.jobs"]),
        "incremental.gold_days_per_run": _mean(ct["incremental.gold_days_per_run"]),
        "incremental.silver_rewrite_bytes_per_new_byte": measure.median(
            sp["incremental.silver_rewrite_bytes_per_new_byte"]
        ),
        "warehouse.read_ms": measure.median(sp["warehouse.read_ms"]),
        "warehouse.write_ms": measure.median(sp["warehouse.write_ms"]),
        "warehouse.bronze_files": files["bronze"],
        "warehouse.silver_files": files["silver"],
        "warehouse.gold_files": files["gold"],
        "serving.build_ms": measure.median(sp["serving.build_ms"]),
        "serving.fetch_ms": measure.median(sp["serving.fetch_ms"]),
        "serving.jobs_per_read": _mean(ct["serving.jobs"]),
        "serving.rows_per_read": _mean(ct["serving.rows_per_read"]),
        "host.calib_ms_start": host.calib_start,
        "host.calib_ms_end": host.calib_end,
        "host.cpu_pressure_pct": host.psi_pct,
        "trace.overhead_pct": tracing_overhead_pct(res["op_s"], res["traced"]),
    }


def summary(samples: list[float]) -> dict:
    import measure

    return {"n": len(samples), "p50": measure.median(samples)}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    # the product package must come from this checkout; without it there
    # is nothing to measure and no result is printed
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # A heap of fixed size, with a young generation of fixed size, that the
    # benchmark's data fits many times over. Peak RSS then tracks what the
    # engine retains, not how the collector chose to grow the heap on a
    # given run, and the run stays small on a shared host.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    java_opts = f"-Djava.io.tmpdir={work}/tmp -Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.local.dir={work}/local",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", java_opts,
        "pyspark-shell",
    ])
    from sensor_data_pipeline___spark.session import get_spark

    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    gateway = spark.sparkContext._gateway
    try:
        run = workloads.Run(spark, work, args.seed, bool(args.trace))
        run.jvm_pid = gateway.proc.pid
        res = workloads.WORKLOADS[args.workload](run, args.seconds, T_START)
        if args.trace:
            metrics, units = per_layer(res, run), PER_LAYER
        else:
            metrics, units = end_to_end(res, run, gateway.proc.pid), END_TO_END
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "host": res["host"].record(),
            "detail": res["detail"],
            "spans_ms": {k: summary(v) for k, v in sorted(run.tracer.spans.items())},
            "counts": {k: summary(v) for k, v in sorted(run.tracer.counts.items())},
        }
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
