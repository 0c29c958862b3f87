"""SparkSession factory with the engine's canonical configuration.

The reference stores TIMESTAMPTZ in UTC and serves ISO-8601 UTC strings
(reference: src/config/settings.py:40-41, src/api/routes/data.py:150-153),
so the session timezone is pinned to UTC. Dynamic partition overwrite is
the engine's MERGE stand-in (SURVEY.md §4.2 — no Delta in the
environment), and AQE is on for the 100 TB design posture.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime confs that MUST hold for correctness regardless of who built the
# session (the verification driver passes us its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 default, pinned so a caller session with legacy lenient
    # casts can't silently change parse semantics (verified: the full
    # oracle surface matches under either setting — every cast in the
    # engine is regex-guarded or try_*-based — but pinning removes the
    # variable)
    "spark.sql.ansi.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs on an externally provided session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-runtime-settable in this build — session default applies.
            pass
    return spark


def get_spark(app_name: str = "sensor_pipeline_spark", *, cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the canonical session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    shuffle partitions match cores — at cluster scale this is instead
    sized so post-shuffle partitions are ~128-256 MB, with AQE coalescing
    handling the variance.
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    # local-mode heap serves ALL task threads: size it with the thread
    # count or concurrent sort/agg buffers GC-thrash (measured: 30x-sf0.1
    # queries ran 6-10x slower at 8g/32 threads than at 2g-per-thread)
    default_mem = f"{min(max(2 * n, 8), 64)}g"
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 4)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", default_mem))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (guide §3.1/§9): skips both sides'
        # sorts on the doc-sized equi-joins (release_audit's spine,
        # the dedup composites). Scale posture: per-partition build
        # sides stay bounded by AQE's advisory sizing + skew split
        # (both on), and Spark still falls back to SMJ when the
        # conditions fail — this is the documented reasonable default
        # for batch ETL, not a local-mode twiddle. Unmeasured: no A/B
        # of this flag is committed (SCALING.md has none); re-pricing
        # it is ROADMAP open item 5.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)


def health_check(spark: SparkSession) -> bool:
    """S8 health probe (reference src/db/connection.py:145-154,
    airflow/hooks/database.py:34-63): ``SELECT 1`` engine liveness."""
    row = spark.sql("SELECT 1 AS ok").first()
    return row is not None and row["ok"] == 1
