"""Incremental pipeline runs: the dbt-incremental layer re-expressed as
watermark-filtered transforms + dynamic partition overwrite
(SURVEY.md §2.6 M1/M2/M5, §2.4 J1/J2, §4.2).

Semantics matched from the reference:

- **Silver (M1/J1)**: process only bronze rows with
  ``ingested_at > MAX(silver.processed_at)`` (arrival-time watermark,
  scalar subquery — stg_readings.sql:32-38); upsert on ``raw_id``
  (merge — stg_readings.sql:13-23). Emulation: new rows win over
  existing rows of the touched ``reading_date`` partitions
  (left-anti + union), partitions rewritten atomically.
- **Gold (M2/J2)**: recompute ONLY days that received new silver rows
  since ``MAX(gold.calculated_at)`` — the affected-day semi-join
  (mart_daily_power.sql:36-46) — but recompute each such day from ALL
  its silver rows (full-day recompute), then upsert one row per day.
  Late data for an old date therefore re-opens and corrects that day,
  with no lateness cutoff — update-mode semantics with an infinite
  watermark (SURVEY.md §2.8).
- **Full refresh (M5)**: rebuild from scratch, ignoring watermarks.

Scale posture: the only driver-side values are the scalar watermarks
(single-row aggregates) and the touched days' dates (observed during
the parse). Every data-path operation is a
DataFrame transform; per-run work is bounded by the touched partitions,
not table size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from sensor_data_pipeline___spark.operators import _fsio
from sensor_data_pipeline___spark.operators.gold import silver_to_gold
from sensor_data_pipeline___spark.operators.silver import bronze_to_silver
from sensor_data_pipeline___spark.warehouse import BRONZE, GOLD, SILVER, Warehouse


def _scalar_watermark(df: DataFrame, col: str):
    """A2: MAX(col) over the target table — the one permitted
    driver-side scalar. MAX over an empty frame is already NULL →
    None → epoch floor (P10), so no separate emptiness probe: one
    column-pruned aggregate job, which matters in the streaming loop
    where this runs every micro-batch."""
    return df.agg(F.max(col)).first()[0]


def _upsert(existing_days: DataFrame, new_silver: DataFrame) -> DataFrame:
    """M1 merge on ``raw_id`` within the touched days: keep the
    existing rows that are NOT re-processed (left-anti on the merge
    key), new rows win. ``allowMissingColumns``: after a silver schema
    evolution, surviving rows keep their evolved columns and re-derived
    rows carry null there (bronze_to_silver only produces the declared
    columns)."""
    return existing_days.join(
        new_silver.select("raw_id"), "raw_id", "left_anti"
    ).unionByName(new_silver, allowMissingColumns=True)


def run_silver(wh: Warehouse, full_refresh: bool = False) -> int:
    """Bronze → silver incremental run. Returns rows written.

    Both writes here are table-sized (the history or full-refresh
    load, and the gold-lag fallback of :func:`run_pipeline`), so they
    route rows by ``reading_date`` with AQE's rebalance hint: each day
    lands in one task and is written as one file, small days share a
    task and a skewed day is split, from the shuffle's own statistics
    rather than a size setting."""
    bronze = wh.read(BRONZE).select("id", "raw_line", "ingested_at")
    existing = wh.read(SILVER)

    if full_refresh or not wh.exists(SILVER):
        new_silver = bronze_to_silver(bronze)
        n = new_silver.count()
        wh.write(
            SILVER,
            new_silver.hint("rebalance", "reading_date"),
            mode="overwrite",
            wipe=full_refresh,
        )
        return n

    wm = _scalar_watermark(existing, "processed_at")
    if wm is not None:
        bronze = bronze.filter(F.col("ingested_at") > F.lit(wm))  # J1

    # localCheckpoint materializes the watermark-bounded parse ONCE
    # (the frame is batch-sized — bounded by the new-data increment,
    # never the table); the emptiness check, the merge's two uses, and
    # the returned count all replay the materialization instead of
    # re-running the bronze scan + parse three times. In the streaming
    # loop this is several jobs per micro-batch.
    new_silver = bronze_to_silver(bronze).localCheckpoint(eager=True)
    n = new_silver.count()
    if n == 0:
        return 0  # no new data — a re-run is a no-op (M1 idempotency)

    affected = new_silver.select("reading_date").distinct()
    existing_affected = existing.join(F.broadcast(affected), "reading_date", "left_semi")
    # dynamic overwrite of touched partitions only
    wh.write(
        SILVER,
        _upsert(existing_affected, new_silver).hint("rebalance", "reading_date"),
    )
    return n


def run_gold(wh: Warehouse, full_refresh: bool = False) -> int:
    """Silver → gold incremental run: recompute, from all their silver
    rows, the days with any silver row newer than gold's
    ``calculated_at`` watermark. Returns days (re)computed."""
    silver = wh.read(SILVER)

    if not full_refresh and wh.exists(GOLD):
        existing = wh.read(GOLD)
        wm = _scalar_watermark(existing, "calculated_at")
        if wm is not None:
            # J2: days with any NEW silver row — then FULL-day recompute
            affected = (
                silver.filter(F.col("processed_at") > F.lit(wm))
                .select("reading_date")
                .distinct()
            )
            silver = silver.join(F.broadcast(affected), "reading_date", "left_semi")

    # one row per (day, metric) — tiny; materializing once means the
    # count and the write don't each replay the silver aggregation
    # (same pattern as backfill_gold)
    new_gold = silver_to_gold(silver).localCheckpoint(eager=True)
    n = new_gold.count()
    if n == 0 and not full_refresh:
        return 0
    wh.write(GOLD, new_gold, mode="overwrite", wipe=full_refresh)
    return n


def _merge_days(wh: Warehouse, new_silver: DataFrame, days: list) -> Observation:
    """The merge-once tail both ``run_pipeline`` paths share: upsert
    ``new_silver`` into the listed days' silver partitions, write them,
    and recompute those days' gold from the same frame. Returns the
    gold write's Observation (``n`` = gold rows written)."""
    # the read takes silver's schema from the table's record, so it
    # launches no Spark job (see Warehouse.read)
    existing = wh.read(SILVER)
    # checkpoint the merged days ONCE: the silver write and the gold
    # recompute below both replay the materialization — without it,
    # gold would re-read silver (a second pruned scan and a replay of
    # the anti-join) per run
    merged = _upsert(
        existing.filter(F.col("reading_date").isin(days)),  # pruned
        new_silver,
    ).localCheckpoint(eager=True)
    # dynamic overwrite of touched partitions, one file per day:
    # `merged` holds only the touched days, so a single task writes
    # them without an exchange or a job of its own. A rebalance here
    # would add a shuffle job per merge and, under AQE, drop the
    # checkpoint's hash partitioning that the gold aggregate reuses.
    wh.write(SILVER, merged.coalesce(1))
    # gold for the touched days straight from the frame just written,
    # folded into the write action itself: the day aggregate is a
    # handful of rows over the checkpointed merge, so it needs no
    # checkpoint and no count job — the Observation counts the rows
    # as they are written. An empty aggregate writes NO partitions
    # under dynamic overwrite (a no-op).
    gold = Observation()
    wh.write(
        GOLD, silver_to_gold(merged).observe(gold, F.count(F.lit(1)).alias("n"))
    )
    return gold


def run_pipeline(
    wh: Warehouse,
    full_refresh: bool = False,
    increment: "DataFrame | None" = None,
    affected_days: "list | None" = None,
) -> tuple[int, int]:
    """The hourly DAG body: staging then marts, ordinary call order
    (reference airflow/dags/sensor_data_pipeline.py:88,101). Without
    ``increment`` (the watermark path) returns (silver rows, gold
    days) written.

    The watermark path runs as one pass when gold is caught up with
    silver (``MAX(gold.calculated_at) >= MAX(silver.processed_at)``):
    the bronze rows past silver's watermark are parsed once (their
    count and distinct days observed during that parse), and the
    merge-once tail the increment path also runs upserts those days
    and recomputes their gold from the merged frame. Exact because,
    with gold caught up, the days :func:`run_gold` would recompute are
    precisely the new rows' days. When gold lags (a crash between the
    silver and gold writes, a bare :func:`run_silver`, or a run whose
    days produced no both-metric gold row), or either table is empty,
    it falls back to ``run_silver`` then ``run_gold``.

    ``increment`` is the streaming fast path: the micro-batch loop
    already HOLDS the exact new bronze rows, so the parse consumes
    them directly instead of re-deriving them from the table (a
    processed_at watermark scan of silver plus a bronze re-read that
    grows with batch history), and both the silver merge and the gold
    recompute prune to the touched days' PARTITIONS. Semantically
    identical to the watermark path: the increment IS precisely the
    set of rows past the watermark (each batch merges to silver before
    its checkpoint commits; a replayed batch re-presents the same
    deterministic raw_ids and the merge upserts them idempotently —
    M1). Requires silver to already hold everything except the
    increment, which the streaming loop guarantees.

    ``affected_days`` is required with ``increment``: the increment's
    distinct reading dates, which the streaming gate derives in its
    own scan. A SUPERSET of the true touched days is safe (an
    untouched day in the list is rewritten byte-identically and its
    gold recomputed to the same values). A SUBSET is safe too, but
    lossy for the increment: out-of-list increment rows are IGNORED
    this run (their days' existing partitions are untouched) and must
    be re-presented with their day listed to land.

    The increment path counts nothing: it returns ``(-1, -1)``
    (``(0, 0)`` for an empty day list, which writes nothing)."""
    if increment is not None and affected_days is None:
        raise ValueError("run_pipeline: an increment needs its affected_days")
    if full_refresh or not wh.exists(SILVER):
        return run_silver(wh, full_refresh), run_gold(wh, full_refresh)
    if increment is None:
        return _run_watermarked(wh)
    if not affected_days:
        return 0, 0
    # LAZY on purpose: the merged checkpoint in the tail is the single
    # materialization — parsing inside it avoids a dedicated parse job
    # per trigger.
    # CONTRACT GUARD: the merged frame is written with dynamic
    # partition overwrite, so any increment row whose day is NOT in
    # the caller's list would otherwise land in `merged` and OVERWRITE
    # that day's partition with increment-only rows — silently
    # deleting the day's existing silver. Restricting the parse to the
    # listed days makes a subset list non-destructive.
    new_silver = bronze_to_silver(
        increment.select("id", "raw_line", "ingested_at")
    ).filter(F.col("reading_date").isin(affected_days))
    _merge_days(wh, new_silver, affected_days)
    return -1, -1


def _run_watermarked(wh: Warehouse) -> tuple[int, int]:
    """The watermark path of :func:`run_pipeline` (silver exists, not
    a full refresh)."""
    # silver's processed_at watermark, and whether gold's calculated_at
    # watermark has caught up with it, from ONE aggregate over the
    # union of the two timestamp columns (A2: the two scalar probes
    # share their jobs). Compared inside Spark, so no driver-side
    # timezone conversion can reorder them.
    null = F.lit(None).cast("timestamp")
    wm = (
        wh.read(SILVER).select(F.col("processed_at").alias("s"), null.alias("g"))
        .unionByName(
            wh.read(GOLD).select(null.alias("s"), F.col("calculated_at").alias("g"))
        )
        .agg(
            F.max("s").alias("silver"),
            (F.max("g") >= F.max("s")).alias("caught_up"),
        )
        .first()
    )
    if not wm["caught_up"]:
        # gold lags silver, or either table is empty: the days gold
        # owes are not only the new rows' days, so let run_gold find
        # them from its own watermark
        return run_silver(wh), run_gold(wh)

    bronze = wh.read(BRONZE).select("id", "raw_line", "ingested_at")
    # the watermark-bounded parse, materialized ONCE (the merge's two
    # uses replay it instead of re-running the bronze scan + parse);
    # its row count and distinct days are observed during that same
    # job, so they cost no aggregate job of their own
    new = Observation()
    past_wm = bronze.filter(F.col("ingested_at") > F.lit(wm["silver"]))  # J1
    new_silver = (
        bronze_to_silver(past_wm)
        .observe(
            new,
            F.count(F.lit(1)).alias("n"),
            F.collect_set("reading_date").alias("days"),
        )
        .localCheckpoint(eager=True)
    )
    seen = new.get
    if seen["n"] == 0:
        return 0, 0  # no new data — a re-run is a no-op (M1 idempotency)
    return seen["n"], _merge_days(wh, new_silver, seen["days"]).get["n"]


def backfill_gold(wh: Warehouse, start_date: str, end_date: str) -> int:
    """Bounded-range gold recompute: rebuild every day in
    ``[start_date, end_date]`` (inclusive ISO dates) directly from
    silver, ignoring the watermark. The surgical middle ground the
    reference runs as ``dbt run --full-refresh`` scoped by a date var:
    watermark-incremental (run_gold) can't repair days whose silver
    was corrected OUTSIDE an ingest (a manual patch doesn't bump
    processed_at), and full refresh (M5) pays the whole table.

    Two-part write: recomputed days land via dynamic partition
    overwrite (only their partitions rewritten); days in range that no
    longer have ANY silver rows get their gold partition DROPPED
    (ALTER TABLE DROP PARTITION analog — dynamic overwrite alone
    cannot delete a partition by writing zero rows for it, the classic
    silent-staleness gap of overwrite-based backfills). Out-of-range
    partitions are untouched bytes. Idempotent: re-running the same
    range rewrites the same partitions to the same content.

    Returns the number of day-metric gold rows written.
    """
    lo, hi = F.lit(start_date).cast("date"), F.lit(end_date).cast("date")
    silver = wh.read(SILVER).filter(
        F.col("reading_date").between(lo, hi)
    )
    # localCheckpoint materializes the silver-to-gold aggregation ONCE;
    # the count, the gold write, and the live-day collect below all
    # read the materialized partitions instead of re-running the scan.
    new_gold = silver_to_gold(silver).localCheckpoint(eager=True)
    n = new_gold.count()
    if n > 0:
        wh.write(GOLD, new_gold)  # dynamic overwrite: touched days only
    if wh.exists(GOLD):
        live = {
            str(r["reading_date"])
            for r in new_gold.select("reading_date").distinct().collect()
        }
        stale = (
            wh.read(GOLD)
            .filter(F.col("reading_date").between(lo, hi))
            .select("reading_date")
            .distinct()
        )
        for r in stale.collect():
            day = str(r["reading_date"])
            if day not in live:
                _fsio.remove(
                    os.path.join(wh.path(GOLD), f"reading_date={day}")
                )
    return n


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC snapshot diff: classify every key as insert/update/delete.

    Full outer join on the key, then compare a single md5 digest of the
    tracked columns per side — the comparison row stays constant-width
    no matter how wide the table is, so the shuffle carries (key,
    digest) rather than two full row copies. Unchanged keys are
    filtered out before the result materializes. This is the
    change-data-feed a warehouse without Delta/Iceberg table history
    derives by diffing snapshots (the MERGE sources M1/M2 consume the
    OUTPUT of exactly this shape).

    Returns (key_cols..., change_type) with change_type in
    ('insert', 'update', 'delete').
    """
    compare_cols = compare_cols or [
        c for c in old.columns if c not in key_cols
    ]
    # Digest the JSON encoding of the column array, not a separator
    # join: JSON escaping makes field boundaries unambiguous (a value
    # containing any would-be separator byte can't shift them), and
    # SQL NULL renders as the JSON token `null`, distinct from every
    # string including "null" (which renders quoted).
    digest = F.md5(
        F.to_json(F.array(*[F.col(c).cast("string") for c in compare_cols]))
    )
    o = old.select(*key_cols, digest.alias("_old_digest"))
    n = new.select(*key_cols, digest.alias("_new_digest"))
    joined = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("_old_digest").isNull(), F.lit("insert"))
        .when(F.col("_new_digest").isNull(), F.lit("delete"))
        .when(F.col("_old_digest") != F.col("_new_digest"), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*key_cols, "change_type")
    )
