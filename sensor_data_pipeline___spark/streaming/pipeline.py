"""Structured Streaming front-end (SURVEY.md §7.1 step 5; the
BASELINE.json ``spark_approach``).

Two variants over a file-drop directory of plaintext reading lines
(the streaming analog of the reference's POST /data + hourly Airflow
DAG — S1 + §3.3):

1. **Correctness-matching path** — ``readStream`` on the drop dir →
   ``foreachBatch`` running the SAME silver+gold incremental transforms
   against the warehouse. The streaming checkpoint replaces the J1
   hand-rolled watermark (exactly-once file-source tracking); late
   rows for old dates still trigger full-day gold recomputes with no
   lateness cutoff, which built-in ``withWatermark`` aggregation could
   not reproduce (it would drop what the reference keeps — §2.8).
2. **Idiomatic fast path** — ``withWatermark`` + 1-day tumbling
   ``window`` aggregation, for deployments that accept a bounded
   lateness horizon in exchange for fully incremental state.

``trigger(availableNow=True)`` reproduces the hourly-cron micro-batch:
drain everything available, then stop — the Airflow cadence without a
scheduler.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_data_pipeline___spark.functions import parsing
from sensor_data_pipeline___spark.operators import incremental
from sensor_data_pipeline___spark.operators._writes import overwrite_mode
from sensor_data_pipeline___spark.sources import ingest
from sensor_data_pipeline___spark.warehouse import BRONZE, Warehouse

#: Streaming bronze surrogate ids: ``batch_id * _ID_STRIDE + row_number``.
#: Deterministic across micro-batch REPLAYS (a POST's ids, line
#: positions past bronze's id high-water, would be numbered anew) and
#: still strictly increasing across batches, which is all the J1
#: watermark needs.
_ID_STRIDE = 1 << 40


def _line_stream(
    spark: SparkSession, drop_dir: str | None, lines: DataFrame | None
) -> DataFrame:
    """Resolve the raw-line source for a streaming entry point: an
    injected streaming DataFrame (any transport from
    ``sources.connectors`` — socket, synthetic rate feed) or the
    default file-drop directory. Normalizes the column to ``value``,
    the name the text source produces."""
    if lines is not None:
        if "value" not in lines.columns:
            return lines.select(F.col(lines.columns[0]).alias("value"))
        return lines
    return spark.readStream.format("text").load(drop_dir)


def _ingest_batch_fn(wh: Warehouse, reject_dir: str | None):
    """The foreachBatch body for :func:`ingest_stream`, exposed for
    replay testing. IDEMPOTENT per ``batch_id``: a batch that replays
    after a failure between the bronze write and the checkpoint commit
    rewrites exactly its own state instead of appending duplicates —

    - bronze rows carry deterministic ids (batch-ordinal × stride +
      dense per-batch row_number over the sorted lines; the file source
      replays identical content) and land in a ``batch_id=N`` partition
      written with dynamic partition overwrite, so a replay REPLACES the
      prior attempt's partition byte-for-byte (modulo audit
      ``ingested_at``);
    - the downstream silver merge keys on ``raw_id``, so re-running the
      incremental pipeline over a replaced batch upserts identical rows
      (M1) and the gold day recompute (M2) is value-idempotent;
    - rejects overwrite ``{reject_dir}/batch_id=N`` rather than append.

    A stream-fed bronze is therefore partitioned by ``batch_id`` (not
    ``ingest_date``); readers are unaffected — the medallion transforms
    select columns by name and never prune on bronze partitions.

    The per-batch ``row_number`` is a single-partition window: fine for
    micro-batch-sized data (bounded by the trigger), never for tables.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        raw_lines = batch_df.select(F.col("value").alias("raw_line"))
        # persisted for the batch body: the gate count, the bronze
        # write (and the reject diversion) each re-read the source
        # otherwise — one source materialization per micro-batch, not
        # three. Unpersisted in the finally; memory is micro-batch-
        # bounded by the trigger's admission control.
        flagged, invalid = ingest.flag_lines(raw_lines)
        flagged = flagged.persist()
        try:
            _process_flagged(flagged, invalid, batch_id)
        finally:
            flagged.unpersist()

    def _process_flagged(
        flagged: DataFrame, invalid: Column, batch_id: int
    ) -> None:
        # one gate scan yields BOTH the all-or-nothing verdict and the
        # batch's distinct reading dates (collect_set skips the nulls
        # from blank/invalid lines) — handing the days to the DAG body
        # saves it a distinct+collect job per trigger. Gate-valid days
        # are a safe superset of silver-valid days (see run_pipeline).
        ts_str, _name, _val = parsing.silver_tokens(F.col("raw_line"))
        day = F.to_date(F.timestamp_seconds(ts_str.cast("long")))
        counts = flagged.agg(
            invalid,
            F.collect_set(
                F.when(~F.col("_blank") & F.col("_valid"), day)
            ).alias("days"),
        ).first()
        if int(counts["invalid"] or 0) > 0:
            if reject_dir is not None:
                flagged.select("raw_line").write.mode("overwrite").parquet(
                    os.path.join(reject_dir, f"batch_id={batch_id}")
                )
            return  # F6: reject whole batch, nothing persists
        valid = flagged.filter(~F.col("_blank")).select("raw_line")
        bronze_rows = valid.select(
            (
                F.lit(batch_id * _ID_STRIDE).cast("long")
                + F.row_number().over(Window.orderBy("raw_line"))
            ).cast("long").alias("id"),
            "raw_line",
            F.current_timestamp().alias("ingested_at"),
            F.lit(batch_id).alias("batch_id"),
        )
        # persisted: the bronze write and the increment fast path each
        # consume these rows — one materialization, not two parses
        bronze_rows = bronze_rows.persist()
        try:
            # dynamic partition overwrite, pinned whatever the session
            # default: only the batch_id=N partition present in this
            # frame is replaced
            with overwrite_mode(bronze_rows.sparkSession, "dynamic"):
                bronze_rows.write.mode("overwrite").partitionBy(
                    "batch_id"
                ).parquet(wh.path(BRONZE))
            # hand the in-hand increment AND its days to the DAG body:
            # skips the silver/gold watermark scans, the bronze table
            # re-read (which grows with batch history), and the days
            # distinct+collect — the per-trigger fixed-overhead cut of
            # VERDICT r6 directive #6
            incremental.run_pipeline(
                wh, increment=bronze_rows, affected_days=list(counts["days"])
            )
        finally:
            bronze_rows.unpersist()

    return process_batch


def ingest_stream(
    spark: SparkSession,
    drop_dir: str | None,
    wh: Warehouse,
    checkpoint_dir: str,
    reject_dir: str | None = None,
    lines: DataFrame | None = None,
    trigger: dict | None = None,
):
    """Raw-line stream → bronze + silver + gold via foreachBatch.

    Source is the ``drop_dir`` file drop by default, or any injected
    streaming ``lines`` DataFrame (socket / synthetic rate feed from
    ``sources.connectors``) — the transform is transport-agnostic.

    Per micro-batch (all-or-nothing F6 semantics per the reference's
    per-POST transaction, applied per batch): blank lines are skipped;
    if ANY line is invalid the whole batch is diverted to
    ``reject_dir`` (or dropped) and nothing persists; otherwise the
    batch is written to bronze and the incremental silver/gold runs
    execute. End-to-end effectively-once: the checkpoint gives
    at-least-once batch delivery and the batch body (see
    :func:`_ingest_batch_fn`) is idempotent keyed on ``batch_id``.
    Returns the started StreamingQuery (availableNow trigger by
    default; pass e.g. ``trigger={"processingTime": "0 seconds"}``
    for a continuous soak run).
    """
    raw = _line_stream(spark, drop_dir, lines)
    return (
        raw.writeStream.foreachBatch(_ingest_batch_fn(wh, reject_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def windowed_power_stream(
    spark: SparkSession,
    drop_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 days",
    metric_a: str = "Voltage",
    metric_b: str = "Current",
):
    """Idiomatic variant: parse → withWatermark → 1-day tumbling window
    → conditional-avg pivot → power. Append-mode output: a day's power
    row is emitted once its window passes the watermark; rows later
    than ``watermark`` are dropped (the documented trade vs variant 1).
    """
    raw = spark.readStream.format("text").load(drop_dir)
    line = F.col("value")
    ts_str, name, value_str = parsing.silver_tokens(line)
    readings = (
        raw.filter(parsing.nonempty_line(line))
        .select(ts_str.alias("ts"), name.alias("metric_name"), value_str.alias("v"))
        .filter(parsing.silver_valid(F.col("ts"), F.col("metric_name"), F.col("v")))
        .select(
            F.timestamp_seconds(F.col("ts").cast("long")).alias("reading_time"),
            "metric_name",
            F.col("v").cast("double").alias("metric_value"),
        )
        .filter(F.col("metric_name").isin(metric_a, metric_b))
    )
    daily = (
        readings.withWatermark("reading_time", watermark)
        .groupBy(F.window("reading_time", "1 day").alias("w"))
        .agg(
            F.avg(
                F.when(F.col("metric_name") == metric_a, F.col("metric_value"))
            ).alias("avg_a"),
            F.avg(
                F.when(F.col("metric_name") == metric_b, F.col("metric_value"))
            ).alias("avg_b"),
        )
        .filter(F.col("avg_a").isNotNull() & F.col("avg_b").isNotNull())
        .select(
            F.lit("Power").alias("metric_name"),
            (F.col("avg_a") * F.col("avg_b")).alias("metric_value"),
            F.to_date(F.col("w.start")).alias("reading_date"),
            F.col("w.start").alias("reading_time"),
        )
    )
    return (
        daily.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stateful_totals_stream(
    spark: SparkSession,
    drop_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Custom stateful streaming operator (``applyInPandasWithState``):
    running per-metric totals that survive across micro-batches AND
    across restarts (state lives in the checkpoint, keyed by
    ``metric_name``).

    This is the engine's template for operators Spark's built-in
    windowed aggregation can't express — arbitrary per-key state with
    user-controlled emission. Output is a changelog: each micro-batch
    appends one row per updated key with the cumulative (n_readings,
    total) so far; downstream readers take the last row per key (or the
    parquet dir is compacted by a batch job).

    State is Arrow-batched per key group — no per-row Python overhead;
    at scale the shuffle key is metric_name, so high-cardinality key
    spaces spread evenly while per-key state stays O(1).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    raw = spark.readStream.format("text").load(drop_dir)
    line = F.col("value")
    ts_str, name, value_str = parsing.silver_tokens(line)
    readings = (
        raw.filter(parsing.nonempty_line(line))
        .select(ts_str.alias("ts"), name.alias("metric_name"), value_str.alias("v"))
        .filter(parsing.silver_valid(F.col("ts"), F.col("metric_name"), F.col("v")))
        .select("metric_name", F.col("v").cast("double").alias("metric_value"))
    )

    def update(key, pdf_iter, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["metric_value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"metric_name": [key[0]], "n_readings": [n], "total": [total]}
        )

    updated = readings.groupBy("metric_name").applyInPandasWithState(
        update,
        outputStructType="metric_name string, n_readings long, total double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    # update-mode rows can't go straight to a parquet sink (append-only);
    # foreachBatch lands them as a batch_id-keyed idempotent changelog
    return _append_changelog(updated, out_dir, checkpoint_dir)


def compact_changelog(
    spark: SparkSession, changelog_dir: str, key_col: str = "metric_name"
) -> DataFrame:
    """Latest-state view of a changelog directory written by
    :func:`stateful_totals_stream`: last row per key wins.

    "Last" is defined by the cumulative ``n_readings`` (monotone per
    key), not file order — changelog readers must never depend on file
    listing order. Run as a periodic batch job that overwrites a
    compacted snapshot table; readers then union (snapshot, tail)."""
    from pyspark.sql import Window

    log = spark.read.parquet(changelog_dir)
    w = Window.partitionBy(key_col).orderBy(F.desc("n_readings"))
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def click_purchase_join_stream(
    spark: SparkSession,
    clicks_dir: str,
    purchases_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    attribution_window: str = "INTERVAL 30 MINUTES",
):
    """Stream-stream inner join with event-time bounds (attribution:
    each purchase joined to the same user's clicks in the preceding
    ``attribution_window``).

    Both sides carry a watermark so Spark can bound the join state: a
    buffered click is evicted once the purchase-side watermark passes
    ``click.ts + attribution_window`` — without the time-range
    condition the state would grow forever, which is the difference
    between a demo and a 100 TB deployment. Scale note: the join
    shuffles both streams by ``user_id``; state lives in the
    per-partition state store (RocksDB-backed on a real cluster).
    """
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double"
    )
    clicks = (
        spark.readStream.schema(schema)
        .parquet(clicks_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("user_id").alias("click_user"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(purchases_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("purchase_user"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(attribution_window)
        ),
        "inner",
    ).select(
        "purchase_id", "purchase_user", "purchase_ts", "purchase_value",
        "click_id", "click_ts",
    )
    return (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(
    spark: SparkSession,
    drop_dir: str | None,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    lines: DataFrame | None = None,
    trigger: dict | None = None,
):
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keyed on the raw line's md5.

    An at-least-once upstream (the reference's retrying POST clients —
    3 retries with backoff, airflow/config/settings.py) re-delivers
    whole batches; this stage makes the bronze feed effectively-once.
    Keying on a 128-bit content hash keeps per-key state constant-width
    regardless of line length, and the watermark bounds TOTAL state to
    the duplicate-arrival horizon — a plain ``dropDuplicates`` on a
    stream would grow state forever, which is the difference between a
    demo and a 100 TB deployment. Duplicates separated by more than
    ``watermark`` of event time are NOT caught here (the batch exact
    dedup downstream is the backstop); that is the documented trade.
    """
    raw = _line_stream(spark, drop_dir, lines)
    line = F.col("value")
    ts_str, name, value_str = parsing.silver_tokens(line)
    readings = (
        raw.filter(parsing.nonempty_line(line))
        .select(
            line.alias("raw_line"),
            F.md5(line).alias("line_hash"),
            F.timestamp_seconds(ts_str.cast("long")).alias("reading_time"),
        )
        .filter(F.col("reading_time").isNotNull())
    )
    deduped = (
        readings.withWatermark("reading_time", watermark)
        .dropDuplicatesWithinWatermark(["line_hash"])
        .select("raw_line", "reading_time")
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def session_window_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 day",
):
    """Event-time sessionization as a STREAMING aggregation:
    ``F.session_window`` merges a user's events whose gaps are below
    ``gap``; a session row is emitted (append mode) once the watermark
    passes its close.

    This is the stateful mirror of the batch ``sessionization`` query
    (lag + cumulative-flag windows): Spark keeps one open session per
    user in the state store, merging/extending on each micro-batch —
    state is O(open sessions), not O(events), and eviction is driven
    by the same watermark that gates emission. Input: a parquet
    directory of events rows (event_id, ts, user_id, event_type,
    value).

    Skew guard at scale: a never-idle key (bot traffic) holds its
    session open past every watermark and its state grows without
    bound — the production escalation is a max-session-length cap
    (split the session on a secondary gap or row budget), which
    ``F.session_window``'s dynamic-gap form expresses as a gap
    expression that shrinks once a session exceeds the cap.
    """
    ev = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double"
    ).parquet(src_dir)
    sessions = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    return (
        sessions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _reading_value_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Parsed (metric_name, metric_value) stream off the plaintext drop
    dir — the shared front end of the stateful drift operators.
    ``max_files_per_trigger`` caps files per micro-batch (admission
    control under backlog; also what makes the batch sequence — and
    thus any per-batch stateful fold — deterministic in tests)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(drop_dir)
    line = F.col("value")
    ts_str, name, value_str = parsing.silver_tokens(line)
    return (
        raw.filter(parsing.nonempty_line(line))
        .select(ts_str.alias("ts"), name.alias("metric_name"), value_str.alias("v"))
        .filter(parsing.silver_valid(F.col("ts"), F.col("metric_name"), F.col("v")))
        .select("metric_name", F.col("v").cast("double").alias("metric_value"))
    )


def _write_changelog_batch(
    batch_df: DataFrame, batch_id: int, out_dir: str
) -> None:
    """One changelog micro-batch body: dynamic overwrite (pinned) of the
    batch's own ``batch_id=N`` partition — the unit a checkpoint replay
    re-executes, exposed at module level so the replay contract is
    directly testable."""
    with overwrite_mode(batch_df.sparkSession, "dynamic"):
        batch_df.withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).write.mode("overwrite").partitionBy("batch_id").parquet(out_dir)


def _append_changelog(updated: DataFrame, out_dir: str, checkpoint_dir: str):
    """Update-mode rows can't go straight to a parquet sink (append-
    only); foreachBatch lands them as a changelog. IDEMPOTENT per
    micro-batch: each batch overwrites its own ``batch_id=N`` partition
    (dynamic partition overwrite, pinned for the write), so an
    at-least-once replay — a failure between the parquet write and the
    checkpoint commit — REPLACES its rows instead of duplicating them,
    preserving the one-row-per-(batch, key) invariant the soak test
    pins. Readers see ``batch_id`` as a discovered partition column
    (same contract as the bronze ingest sink, pipeline.py:112)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_changelog_batch(batch_df, batch_id, out_dir)

    return (
        updated.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def ewma_drift_stream(
    spark: SparkSession,
    drop_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    alpha: float = 0.3,
    max_files_per_trigger: int | None = None,
):
    """Per-metric EWMA drift tracking (``applyInPandasWithState``).

    One EWMA step per micro-batch and key:
    ``ewma' = alpha * batch_mean + (1 - alpha) * ewma`` — deterministic
    regardless of intra-batch row order (a per-row EWMA over an
    unordered text source would not be). Emits a changelog row per
    (batch, updated key): cumulative count, the batch mean, the updated
    EWMA, and ``drift`` = |batch_mean − previous EWMA| (0.0 on a key's
    first batch) — the signal a monitoring sink alerts on.

    State is one fixed-width (n, ewma) tuple per live metric key,
    Arrow-batched per key group; the shuffle key is metric_name, so a
    high-cardinality keyspace spreads across executors while per-key
    state stays O(1).

    Reference analog: the drift/alerting layer over the reference's
    hourly gold rollup (airflow/dags/readings_hourly.py) — not a
    reference feature, but the monitoring query its operators imply.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    readings = _reading_value_stream(spark, drop_dir, max_files_per_trigger)

    def update(key, pdf_iter, state):
        batch_n, batch_sum = 0, 0.0
        for pdf in pdf_iter:
            batch_n += len(pdf)
            batch_sum += float(pdf["metric_value"].sum())
        if batch_n == 0:
            return
        batch_mean = batch_sum / batch_n
        if state.exists:
            prev_n, prev_ewma = state.get
            n = prev_n + batch_n
            drift = abs(batch_mean - prev_ewma)
            ewma = alpha * batch_mean + (1.0 - alpha) * prev_ewma
        else:
            n, ewma, drift = batch_n, batch_mean, 0.0
        state.update((n, ewma))
        yield pd.DataFrame(
            {
                "metric_name": [key[0]],
                "n_readings": [n],
                "batch_mean": [batch_mean],
                "ewma": [ewma],
                "drift": [drift],
            }
        )

    updated = readings.groupBy("metric_name").applyInPandasWithState(
        update,
        outputStructType=(
            "metric_name string, n_readings long, batch_mean double, "
            "ewma double, drift double"
        ),
        stateStructType="n long, ewma double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _append_changelog(updated, out_dir, checkpoint_dir)


def corpus_ingest_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
    min_tokens: int = 20,
    max_tokens: int = 90,
    max_avg_token_len: float = 10.0,
    trigger: dict | None = None,
    max_files_per_trigger: int | None = None,
    tokenizer_vocab_path: "str | None" = None,
    classifier_path: "str | None" = None,
    min_quality_score: float = 0.0,
):
    """Streaming corpus ingest — the continuous mirror of the batch
    ``corpus_pipeline_stats`` front half: JSONL documents stream in,
    the language-neutral quality gate drops junk, and
    ``dropDuplicatesWithinWatermark`` keyed on the 128-bit content
    hash makes the clean store effectively-once under at-least-once
    crawler redelivery.

    ``classifier_path`` (optional) composes a persisted learned
    quality classifier (``operators/classifier.py:save_classifier``)
    in as an admission gate ahead of the dedup state — docs are
    stamped with ``quality_score`` (a stateless array-literal
    projection, :func:`classifier_score_expr`) and dropped under
    ``min_quality_score`` (see
    :func:`_gated_deduped_corpus_stream`).

    ``tokenizer_vocab_path`` (optional) composes a persisted BPE
    vocabulary (``operators/text.py:save_bpe_vocab``) in as
    tokenize-at-ingest: every admitted doc is stamped with
    ``n_tokens_bpe``, the REAL learned-vocabulary token count a
    trainer's packing budget consumes (what ``pack_sequences_bpe``
    computes in batch). The merge list is collected ONCE at stream
    definition — the store is immutable for its lifetime (only a
    fresh ``save_bpe_vocab`` replaces it, which is a new stream
    deployment) — and the enrichment is a purely row-local projection
    (no state, no join), so it is replay-stable and adds no state
    store.

    Same state-bound argument as :func:`dedup_stream`: per-key state
    is a constant-width md5 + event time, total state is bounded by
    the duplicate-arrival horizon (``watermark`` over ``fetched_at``),
    and cross-horizon duplicates are the downstream batch exact
    dedup's job — the documented split between the streaming dedupe
    (cheap, bounded, immediate) and the corpus-wide one (exact,
    periodic). The quality gate runs BEFORE dedup so junk never
    occupies state.

    Input schema: ``doc_id bigint, text string, lang string,
    source string, fetched_at timestamp`` (JSONL drop directory —
    the crawler-handoff format; gzip-compressed files are read
    transparently by the text-based source).
    """
    deduped = _gated_deduped_corpus_stream(
        spark, src_dir, watermark, min_tokens, max_tokens,
        max_avg_token_len, max_files_per_trigger,
        classifier_path=classifier_path,
        min_quality_score=min_quality_score,
    )
    if tokenizer_vocab_path is not None:
        from sensor_data_pipeline___spark.operators.text import (
            load_bpe_merges,
            stamp_bpe_token_count,
        )

        # auto dispatch (VERDICT r12 directive #6): inline JVM folds
        # at demo k, the k-flat row-local rank-dict Arrow pass at
        # production k — both stateless, streaming-legal projections
        merges = load_bpe_merges(spark, tokenizer_vocab_path)
        deduped = stamp_bpe_token_count(deduped, merges, "text")
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def _gated_deduped_corpus_stream(
    spark: SparkSession,
    src_dir: str,
    watermark: str,
    min_tokens: int,
    max_tokens: int,
    max_avg_token_len: float,
    max_files_per_trigger: int | None,
    classifier_path: "str | None" = None,
    min_quality_score: float = 0.0,
) -> DataFrame:
    """Shared front half of the corpus ingest streams: JSONL reader →
    language-neutral quality gate → (optional) learned quality-
    classifier gate → watermark-bounded exact dedup on the content
    md5. Every gate runs BEFORE dedup so junk never occupies state.

    ``classifier_path`` composes a persisted
    ``operators/classifier.py:save_classifier`` store in as a learned
    admission gate: each doc is stamped with ``quality_score`` via
    :func:`classifier_score_expr` — a pure stateless projection (the
    weight table rides the plan as a map literal; no join, no state,
    replay-stable, exactly the tokenize-at-ingest posture) — and docs
    under ``min_quality_score`` are dropped before they can occupy
    dedup state. The store is immutable for the stream's lifetime
    (a re-fit is a new stream deployment, like the BPE vocabulary)."""
    reader = spark.readStream.schema(
        "doc_id bigint, text string, lang string, "
        "source string, fetched_at timestamp"
    )
    if max_files_per_trigger is not None:
        # admission control under backlog; also what partitions the
        # drop into a deterministic micro-batch sequence (bench/tests)
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.json(src_dir)
    toks = F.split(F.col("text"), " ")
    nt = F.size(toks)
    atl = F.length(F.regexp_replace(F.col("text"), " ", "")) / nt.cast(
        "double"
    )
    gated = docs.filter(
        F.col("text").isNotNull()
        & F.col("fetched_at").isNotNull()
        & (nt >= min_tokens)
        & (nt <= max_tokens)
        & (atl <= max_avg_token_len)
    )
    if classifier_path is not None:
        from sensor_data_pipeline___spark.operators.classifier import (
            classifier_score_expr,
        )

        gated = gated.withColumn(
            "quality_score", classifier_score_expr(spark, classifier_path)
        ).filter(F.col("quality_score") >= F.lit(min_quality_score))
    return (
        gated.withColumn("content_md5", F.md5("text"))
        .withWatermark("fetched_at", watermark)
        .dropDuplicatesWithinWatermark(["content_md5"])
    )


def corpus_neardup_batch_fn(
    spark: SparkSession,
    out_dir: str,
    index_path: str,
    jaccard_threshold: float = 0.8,
    max_bucket: int = 200,
    decontam_index_path: "str | None" = None,
    maintenance_every: "int | None" = None,
    maintenance_kwargs: "dict | None" = None,
    dsir_index_path: "str | None" = None,
    dsir_min_avg_weight: float = 0.0,
    lm_store_path: "str | None" = None,
    lm_band_fractions: "dict | None" = None,
    lm_salt: str = "ccnet-band-v1",
    tokenizer_merges: "list[tuple[str, str]] | None" = None,
    cc_labels_path: "str | None" = None,
):
    """The foreachBatch body for :func:`corpus_ingest_stream_neardup`,
    exposed so tests can drive crash-replay directly (the
    ``_ingest_batch_fn`` pattern). Per micro-batch, the
    probe→drop→append loop the ``minhash_index_append`` docstring
    promises:

    1. sign the batch ONCE with the index's stored geometry
       (:func:`sign_for_index` — the signature feeds the cross probe,
       the internal pass, and the append);
    2. probe the persisted index for cross-batch near-dups — with the
       batch's OWN ingest key excluded, so a crash-replay that runs
       after its first attempt's append landed probes exactly the
       store state the first attempt saw (otherwise the batch matches
       its own signatures and replays would reject everything);
    3. drop batch-internal near-dups (keep the smallest doc_id of
       each pair — the same signatures, no second signing);
    4. append the survivors' signatures under ``ingest_key=b<id>``
       (dynamic partition overwrite → replay replaces its own earlier
       attempt) and land the survivor rows in the clean store under a
       batch-keyed partition the same way.

    Both writes are batch-keyed, so the whole loop is EFFECTIVELY-ONCE
    from Structured Streaming's at-least-once foreachBatch: any replay
    recomputes the identical survivor set (deterministic signatures +
    self-key-excluded probe) and overwrites only its own partitions.

    The INDEX append additionally rides an identity gate: survivor ids
    already present in the band store are dropped before the append
    (one narrow id-column scan, broadcast-semi-joined with the batch —
    cheaper than the band probe the batch already pays for; the gate
    reads BANDS, the append's second write, so a torn append re-runs
    instead of freezing). Key overwrite alone can't survive a
    MAINTENANCE compaction landing between the append and the
    checkpoint commit — the folded rows lose the batch key, and the
    probe can never re-find them (same-id pairs are excluded from
    candidates by design) — so without the gate a replay would append
    the whole batch a second time under a fresh key. The CLEAN-STORE
    write stays gate-free on purpose: it is computed from the full
    survivor set every time, so a replay heals the
    crashed-between-the-two-writes window (index rows landed, clean
    rows didn't) instead of skipping it.

    ``maintenance_every=N`` runs :func:`dedup.minhash_maintenance`
    after every Nth batch (``maintenance_kwargs`` forwarded, e.g.
    ``compact_after_keys``): the single-writer foreachBatch body is
    the quiesce point the compact docstring asks for, and the identity
    gate above is what keeps a crash-replay across the swap
    effectively-once (pinned in
    ``test_corpus_neardup_replay_after_compaction_adds_nothing``).

    At 100 TB: per-batch cost is O(batch signing) + one narrow scan of
    the band store (broadcast probe — the store is never shuffled or
    re-signed); state lives on disk, not in the streaming state store.

    ``decontam_index_path`` (optional) composes the persisted
    benchmark-decontamination store (``operators/decontam.py``) in as
    step 0: docs sharing ≥1 word n-gram with the benchmark suite are
    dropped BEFORE the near-dup loop, so they never occupy signatures
    in the index or rows in the clean store. The filter is
    deterministic (exact gram membership against a store the loop
    never writes), so the batch's survivor set is replay-stable and
    the effectively-once argument above is unchanged. It rides the
    batch's one lineage-cut materialization — same action count per
    trigger.

    ``dsir_index_path`` (optional) composes the persisted DSIR target
    store (``operators/dsir.py:save_dsir_index``) in as step 0.5:
    docs whose per-gram average importance weight
    (``log_weight / n_grams``) falls below ``dsir_min_avg_weight`` are
    dropped before the near-dup loop — the "select data that looks
    like the target" gate of the DSIR recipe, fit once offline, scored
    per batch as one broadcast join + one partial aggregate. Like
    decontamination, the score is deterministic against a store the
    loop never writes, so replay-stability and effectively-once are
    unchanged.

    ``lm_store_path`` + ``lm_band_fractions`` (optional) compose the
    CCNet quality-band gate (``operators/text.py:save_unigram_lm``) in
    as step 0.75: each surviving doc is scored against the persisted
    unigram LM, banded head/middle/tail by the store's tercile cuts,
    and admitted per band by DETERMINISTIC hash-stratified sampling
    (``hash_stratified_sample`` — membership a pure function of
    (salt, doc_id)), e.g. ``{"head": 1.0, "middle": 0.5, "tail": 0.0}``
    to keep reference-like text whole and drop rare-token gibberish.
    Both the score and the sample are replay-stable against a store
    the loop never writes — effectively-once unchanged.

    ``tokenizer_merges`` (optional, the ordered (left, right) list
    from ``text.load_bpe_merges`` — collected ONCE by the stream
    wrapper) stamps survivors with ``n_tokens_bpe`` on the way to the
    clean store: a row-local stateless projection after every gate,
    so dropped docs are never tokenized and replay-stability is
    untouched.

    ``cc_labels_path`` (optional, r14 — VERDICT r13 directive #4)
    maintains a persisted (node, component) labeling beside the
    minhash index: every batch's discovered pairs (cross probe hits ∪
    batch-internal pairs) are folded into the
    :func:`dedup.save_cc_labels` store via
    :func:`dedup.cc_labels_update` — O(new edges + affected clusters)
    per batch — so ``sampling.cluster_hash_split_from_labels`` can key
    split assignment off ``dedup.read_cc_labels`` instead of re-running
    full star-CC over the accumulated pair set per call. The labeling
    covers every doc that ever appeared in a pair (kept OR dropped:
    a dropped near-dup's cluster membership is exactly what a split
    audit later asks about); pair-free docs are absent and key on
    their own id downstream. The update is batch-keyed (same
    effectively-once replay contract as the index append) and its
    input pairs are replay-deterministic (self-key-excluded probe),
    so the maintained labels equal a full recompute over all
    discovered pairs — pinned by the ``cc_labels_maintained_fuzzy``
    gate query and
    ``test_corpus_neardup_stream_maintains_cc_labels``. Bootstrap
    alongside the index: ``save_cc_labels`` on an empty frame.
    """
    from sensor_data_pipeline___spark.operators import decontam, dedup

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        key = f"b{batch_id}"
        if decontam_index_path is not None:
            batch_df = decontam.decontaminate_against_index(
                spark, decontam_index_path, batch_df
            )
        if dsir_index_path is not None:
            from sensor_data_pipeline___spark.operators import dsir

            scored = dsir.dsir_weights_against_index(
                spark, dsir_index_path, batch_df
            )
            keep = scored.filter(
                F.col("log_weight") / F.col("n_grams")
                >= dsir_min_avg_weight
            ).select("doc_id")
            batch_df = batch_df.join(F.broadcast(keep), "doc_id")
        if lm_store_path is not None and lm_band_fractions:
            from sensor_data_pipeline___spark.operators import text as _text
            from sensor_data_pipeline___spark.operators.sampling import (
                hash_stratified_sample,
            )

            banded = _text.unigram_bands_against_lm(
                spark, lm_store_path, batch_df
            ).select("doc_id", "band")
            admitted = hash_stratified_sample(
                banded, "band", lm_band_fractions, "doc_id", salt=lm_salt
            ).select("doc_id")
            batch_df = batch_df.join(F.broadcast(admitted), "doc_id")
        # cut the streaming lineage once: the batch feeds the signing
        # pass, two join branches, and the final write
        batch = batch_df.localCheckpoint(eager=True)
        if not batch.take(1):
            return
        sig = dedup.sign_for_index(spark, index_path, batch)
        num_hashes, bands, shingle_n = dedup._load_minhash_meta(
            spark, index_path
        )
        cross_pairs = dedup.near_dup_against_index(
            spark, index_path, batch,
            jaccard_threshold=jaccard_threshold,
            max_bucket=max_bucket,
            precomputed_sig=sig,
            exclude_ingest_key=key,
        )
        internal_pairs = dedup.minhash_near_dup(
            batch, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n,
            jaccard_threshold=jaccard_threshold,
            max_bucket=max_bucket, precomputed_sig=sig,
        )
        if cc_labels_path is not None:
            # the pair frames feed TWO consumers (drop set + label
            # maintenance): materialize once so the probe isn't re-run
            cross_pairs = cross_pairs.localCheckpoint(eager=True)
            internal_pairs = internal_pairs.localCheckpoint(eager=True)
        cross = cross_pairs.select(
            F.col("new_id").alias("doc_id")
        ).distinct()
        internal = internal_pairs.select(
            F.greatest("doc_a", "doc_b").alias("doc_id")
        ).distinct()
        drop = cross.unionByName(internal).distinct()
        survivors = batch.join(
            drop, "doc_id", "left_anti"
        ).localCheckpoint(eager=True)
        # identity gate, INDEX append only (see docstring): ids this
        # batch's earlier attempt already appended — under its own key
        # or folded to 'base' by a maintenance compaction — must not
        # be re-signed into a second partition. Gate on the BANDS
        # table, the append's SECOND write: a crash between the
        # signature write and the band write leaves ids visible in
        # signatures only, and gating on bands makes that torn replay
        # re-run the full append (same-key dynamic overwrite replaces
        # the orphaned signature partition) instead of freezing the
        # tear. Narrow id-column scan, batch side broadcast.
        # cache=True: the gate's store side is the same immutable-base
        # + live-delta split as the probe's — one memory scan per
        # batch instead of a second full parquet re-read
        seen = (
            dedup._read_bands(spark, index_path, "doc_id", cache=True)
            .select("doc_id")
            .join(F.broadcast(survivors.select("doc_id")), "doc_id")
            .distinct()
        )
        # materialized ONCE: the append's two writes (signatures,
        # bands) would otherwise each replay the whole-store `seen`
        # scan — and the bands write would be reading the very table
        # it overwrites
        fresh = survivors.join(
            F.broadcast(seen), "doc_id", "left_anti"
        ).localCheckpoint(eager=True)
        surv_sig = sig.join(fresh.select("doc_id"), "doc_id")
        dedup.minhash_index_append(
            spark, index_path, fresh, ingest_key=key,
            precomputed_sig=surv_sig,
        )
        if cc_labels_path is not None:
            # fold this batch's discovered pairs into the maintained
            # component labeling (see docstring) — batch-keyed delta,
            # replay replaces its own earlier attempt
            # prune_max_nodes: a batch's pair endpoints are few (near
            # -dups are the exception, not the rule), so the update's
            # two store scans take the manifest-pruned selective path
            # — O(endpoints x files-they-hit), not O(store) — unless a
            # pathological batch exceeds the cap, which falls back to
            # the full scan. The default prune_min_files gate keeps
            # small/cold-start stores on the cheap full scan (the
            # selective path's 2 fixed driver jobs cost more than the
            # scan they save there — measured both ways in SCALING.md
            # r15); mature many-file stores engage pruning
            dedup.cc_labels_update(
                spark,
                cc_labels_path,
                cross_pairs.select(
                    F.col("new_id").alias("doc_a"),
                    F.col("corpus_id").alias("doc_b"),
                ).unionByName(internal_pairs.select("doc_a", "doc_b")),
                ingest_key=key,
                prune_max_nodes=4096,
            )
        clean = survivors
        if tokenizer_merges is not None:
            from sensor_data_pipeline___spark.operators.text import (
                stamp_bpe_token_count,
            )

            clean = stamp_bpe_token_count(clean, tokenizer_merges, "text")
        # DYNAMIC, pinned: a replay overwrites only its own
        # ingest_batch partition (see operators/_writes.py)
        with overwrite_mode(spark, "dynamic"):
            (
                clean.withColumn("ingest_batch", F.lit(key))
                .write.mode("overwrite")
                .partitionBy("ingest_batch")
                .parquet(out_dir)
            )
        if maintenance_every and (batch_id + 1) % maintenance_every == 0:
            dedup.minhash_maintenance(
                spark, index_path, **(maintenance_kwargs or {})
            )
            if cc_labels_path is not None:
                # fold the label store's accumulated per-batch deltas
                # (the update's store scan grows with delta-partition
                # COUNT via file-open overhead, the same small-files
                # term the band store pays — measured in SCALING.md
                # r14). Replay-safe across the swap: a replayed
                # update re-writes identical (node, component) rows
                # under its key in the new generation, and
                # min-resolution is unaffected by duplicates.
                dedup.cc_labels_compact(spark, cc_labels_path)

    return process_batch


def corpus_ingest_stream_neardup(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    index_path: str,
    watermark: str = "1 day",
    min_tokens: int = 20,
    max_tokens: int = 90,
    max_avg_token_len: float = 10.0,
    jaccard_threshold: float = 0.8,
    max_bucket: int = 200,
    trigger: dict | None = None,
    max_files_per_trigger: int | None = None,
    decontam_index_path: "str | None" = None,
    maintenance_every: "int | None" = None,
    maintenance_kwargs: "dict | None" = None,
    dsir_index_path: "str | None" = None,
    dsir_min_avg_weight: float = 0.0,
    lm_store_path: "str | None" = None,
    lm_band_fractions: "dict | None" = None,
    lm_salt: str = "ccnet-band-v1",
    tokenizer_vocab_path: "str | None" = None,
    classifier_path: "str | None" = None,
    min_quality_score: float = 0.0,
    cc_labels_path: "str | None" = None,
):
    """:func:`corpus_ingest_stream` with the persisted minhash index
    composed in (VERDICT r7 directive #4): the stream's exact dedup
    (content md5, watermark-bounded) still handles byte-identical
    redelivery cheaply in state, and each surviving micro-batch then
    runs the probe→drop→append near-dup loop against the
    :func:`save_minhash_index` store at ``index_path`` — so the clean
    store at ``out_dir`` contains no cross-batch near-duplicates and
    the index always mirrors exactly the admitted corpus. With
    ``decontam_index_path`` set, the persisted benchmark n-gram store
    (``operators/decontam.py``) is composed in ahead of the near-dup
    loop — the full streaming hygiene stack: quality gate → exact
    dedup (state) → benchmark decontamination (index) → DSIR target
    selection (index, with ``dsir_index_path``) → CCNet quality-band
    stratified admission (LM store, with ``lm_store_path`` +
    ``lm_band_fractions``) → near-dup dedup (index) → clean store.
    ``tokenizer_vocab_path`` additionally stamps survivors with
    ``n_tokens_bpe`` (tokenize-at-ingest — see
    :func:`corpus_ingest_stream`; merges collected once here, the
    store is immutable for the stream's lifetime).
    ``classifier_path`` + ``min_quality_score`` add the learned
    quality-classifier gate ahead of the dedup state (stateless
    array-literal projection — see :func:`corpus_ingest_stream`),
    making the full stack: heuristic gate → learned gate → exact
    dedup (state) → decontamination → DSIR → LM bands → near-dup →
    clean store. ``cc_labels_path`` additionally maintains the
    persisted (node, component) labeling from each batch's discovered
    near-dup pairs (see :func:`corpus_neardup_batch_fn`).

    Bootstrap: build the index first (``save_minhash_index`` on the
    seed corpus, or on an EMPTY frame of the right schema for a cold
    start — the store layout and geometry metadata are what matter).

    The clean store is hive-partitioned by ``ingest_batch`` (the
    effectively-once replay key). Readers who don't care see it as one
    corpus; compaction can fold old batch partitions on the
    maintenance cadence like any changelog sink."""
    deduped = _gated_deduped_corpus_stream(
        spark, src_dir, watermark, min_tokens, max_tokens,
        max_avg_token_len, max_files_per_trigger,
        classifier_path=classifier_path,
        min_quality_score=min_quality_score,
    )
    tokenizer_merges = None
    if tokenizer_vocab_path is not None:
        from sensor_data_pipeline___spark.operators.text import (
            load_bpe_merges,
        )

        tokenizer_merges = load_bpe_merges(spark, tokenizer_vocab_path)
    return (
        deduped.writeStream.foreachBatch(
            corpus_neardup_batch_fn(
                spark, out_dir, index_path, jaccard_threshold, max_bucket,
                decontam_index_path=decontam_index_path,
                maintenance_every=maintenance_every,
                maintenance_kwargs=maintenance_kwargs,
                dsir_index_path=dsir_index_path,
                dsir_min_avg_weight=dsir_min_avg_weight,
                lm_store_path=lm_store_path,
                lm_band_fractions=lm_band_fractions,
                lm_salt=lm_salt,
                tokenizer_merges=tokenizer_merges,
                cc_labels_path=cc_labels_path,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def vector_ingest_batch_fn(
    spark: SparkSession,
    index_path: str,
    threshold: float = 0.95,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: "tuple[str, ...]" = (),
    maintenance_every: "int | None" = None,
    maintenance_kwargs: "dict | None" = None,
):
    """The foreachBatch body for :func:`vector_ingest_stream` — the
    IVF twin of :func:`corpus_neardup_batch_fn`: per micro-batch, a
    probe→drop→append loop against the persisted :func:`save_ivf_index`
    store (for vectors the INDEX IS the clean store — it carries the
    vectors plus metadata, so there is no separate sink).

    1. probe the store for each batch vector's nearest stored neighbor
       (top-1 cosine, ``nprobe`` cells, the batch's OWN ingest key
       excluded — a crash-replay probes exactly the store state its
       first attempt saw); drop batch vectors with cosine ≥
       ``threshold`` (SemDeDup-at-ingest, same keep-the-incumbent rule
       as the minhash loop's cross probe);
    2. drop batch-INTERNAL near-dups cell-blocked against the STORED
       centroids (assign → within-cell pairs → keep the smallest id —
       the ``semantic_dedup`` rule, with the stored geometry so replay
       is deterministic);
    3. append the survivors under ``ingest_key=b<id>`` (dynamic
       partition overwrite → a replay replaces its own earlier
       attempt).

    Deterministic end-to-end (stored centroids, deterministic
    tiebreaks, self-key-excluded probe), so the loop is
    EFFECTIVELY-ONCE from at-least-once foreachBatch. Batch vec_ids
    must be new ids (the search's self-pair guard is id-based);
    byte-identical redelivery is the upstream exact-dedup state's job.

    At 100 TB: probe cost is bounded by probe mass (PartitionFilters
    on the probed cells, excluded key pruned the same way); the
    internal pair join is blocked by cell; append is O(batch). The
    recall trade-off of ``nprobe`` < ncells is SemDeDup's published
    one: cross-cell near-twins are missed by design.

    Effectively-once is IDENTITY-based, not key-based alone: the
    admit/drop decision runs on the FULL batch every time (so a replay
    recomputes the identical survivor set), and the APPEND is then
    anti-joined against the ids already in the store (scan pruned to
    the batch's own assigned cells — PartitionFilters, O(batch cells)
    not O(corpus)). The gate must sit AFTER the decision: gating the
    batch itself would hand a replay a batch minus its already-
    appended members, flipping batch-internal dedup outcomes and
    overwriting the first attempt's partition with the opposite
    survivor. The id anti-join is what survives MAINTENANCE in the
    crash window — a compaction/retrain that folds the first attempt's
    rows under a new generation's ``base`` key strips them of the
    batch key, and the cosine probe can never re-find them (same-id
    pairs are excluded from ranking by design), so without the
    identity check a replay would re-append the whole batch. It also
    gives record-level at-least-once safety: a source that re-delivers
    individual rows (not just whole batches) can't duplicate a
    ``vec_id``.

    ``maintenance_every=N`` runs :func:`similarity.ivf_maintenance`
    after every Nth batch's append (``maintenance_kwargs`` forwarded:
    retrain_balance / compact_after_keys / sample_mod...), closing the
    loop the policy was built for: the single-writer foreachBatch body
    IS the quiesce point compaction's contract asks for. Replay-safe
    per the identity check above (pinned in
    ``test_vector_ingest_replay_after_compaction_adds_nothing``), and
    a re-triggered maintenance tick is idempotent (compacting a
    one-generation store is a no-op decision; a second retrain just
    writes another equivalent version)."""
    from sensor_data_pipeline___spark.operators import similarity as sim

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        key = f"b{batch_id}"
        batch = batch_df.localCheckpoint(eager=True)
        if not batch.take(1):
            return
        cents = sim._read_centroids(spark, index_path)
        assigned = sim.ivf_assign(batch, cents, vec_col=vec_col, id_col=id_col)
        # the admit/drop DECISION always runs on the FULL batch, so a
        # replay recomputes the identical survivor set (deterministic
        # probe with the batch's own key excluded) — the identity gate
        # below filters only what gets APPENDED. Gating before the
        # decision would let a replay see a batch with its already-
        # appended members missing, flipping internal-dedup outcomes
        # and overwriting the first attempt's partition with the
        # opposite survivor (review r8 finding).
        cross = (
            sim.ivf_topk_indexed(
                spark, index_path, batch, k=1, nprobe=nprobe,
                vec_col=vec_col, id_col=id_col,
                exclude_ingest_key=key,
            )
            .filter(F.col("cosine") >= threshold)
            .select(F.col("query_id").alias(id_col))
            .distinct()
        )
        blocked = batch.join(assigned, id_col)
        internal = (
            sim.near_dup_pairs(
                blocked, "cell", threshold=threshold, vec_col=vec_col,
                id_col=id_col,
            )
            .select(F.col("vec_b").alias(id_col))
            .distinct()
        )
        drop = cross.unionByName(internal).distinct()
        survivors = batch.join(drop, id_col, "left_anti")
        # identity gate (see docstring): survivor ids already persisted
        # — this batch's own earlier attempt, under its own key or
        # folded to 'base' by a maintenance tick — must not be appended
        # again. The store scan is pruned to the batch's own cells (a
        # replayed row's folded copy sits in its assignment cell: same
        # centroids => same cell) and reads the id column only; the
        # batch side broadcasts. Materialized once so the append's
        # write doesn't replay the probe lineage (which reads the same
        # store it is writing).
        cells = sorted(
            r["cell"] for r in assigned.select("cell").distinct().collect()
        )
        seen = (
            spark.read.parquet(sim._store_root(index_path) + "/vectors")
            .filter(F.col("cell").isin(cells))
            .select(id_col)
            .join(F.broadcast(survivors.select(id_col)), id_col)
            .distinct()
        )
        fresh = survivors.join(
            F.broadcast(seen), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        sim.ivf_index_append(
            spark, index_path, fresh, vec_col=vec_col, id_col=id_col,
            extra_cols=extra_cols, ingest_key=key,
        )
        if maintenance_every and (batch_id + 1) % maintenance_every == 0:
            sim.ivf_maintenance(
                spark, index_path, vec_col=vec_col, id_col=id_col,
                **(maintenance_kwargs or {}),
            )

    return process_batch


def vector_ingest_stream(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    index_path: str,
    threshold: float = 0.95,
    nprobe: int = 2,
    watermark: str = "1 day",
    extra_cols: "tuple[str, ...]" = (),
    trigger: dict | None = None,
    max_files_per_trigger: int | None = None,
    maintenance_every: "int | None" = None,
    maintenance_kwargs: "dict | None" = None,
):
    """Streaming embedding ingest with the persisted IVF index as the
    sink — the vector counterpart of :func:`corpus_ingest_stream_neardup`,
    completing the lifecycle symmetry: both index families now have a
    streaming probe→drop→append caller for their effectively-once
    appends.

    JSONL drop directory (``vec_id bigint, embedding array<double>,
    label int, fetched_at timestamp``) → validity gate (non-null,
    finite components) → watermark-bounded exact dedup on the content
    hash (``xxhash64(embedding)`` — constant-width state, the same
    bounded-state argument as ``corpus_ingest_stream``) → the
    :func:`vector_ingest_batch_fn` semantic loop.

    Bootstrap: ``save_ivf_index`` on a seed corpus first — the stored
    centroids are the batch loop's geometry (a cold start needs at
    least enough seed vectors to train them)."""
    reader = spark.readStream.schema(
        "vec_id bigint, embedding array<double>, label int, "
        "fetched_at timestamp"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    vecs = reader.json(src_dir)
    finite = F.forall(
        "embedding", lambda x: x.isNotNull() & ~F.isnan(x)
    )
    gated = vecs.filter(
        F.col("embedding").isNotNull()
        & F.col("fetched_at").isNotNull()
        & (F.size("embedding") > 0)
        & finite
    )
    deduped = (
        gated.withColumn("content_h", F.xxhash64("embedding"))
        .withWatermark("fetched_at", watermark)
        .dropDuplicatesWithinWatermark(["content_h"])
        .drop("content_h")
    )
    return (
        deduped.writeStream.foreachBatch(
            vector_ingest_batch_fn(
                spark, index_path, threshold, nprobe,
                extra_cols=extra_cols,
                maintenance_every=maintenance_every,
                maintenance_kwargs=maintenance_kwargs,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def sketch_psi_drift_stream(
    spark: SparkSession,
    drop_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    lo: float = 0.0,
    hi: float = 100.0,
    n_bins: int = 16,
    max_files_per_trigger: int | None = None,
):
    """Per-metric DISTRIBUTION drift: the streaming companion of the
    batch ``psi_value_drift`` query, holding a fixed-bin histogram
    sketch (operators/sketches.py) as state instead of a mean.

    The first batch a key sees freezes its REFERENCE histogram; every
    later batch bins its values (same clamped fixed binning as
    ``histogram_sketch``) and emits the Laplace-smoothed population
    stability index of batch-vs-reference. EWMA drift
    (:func:`ewma_drift_stream`) alerts on the mean moving; PSI alerts
    on the SHAPE moving (bimodality, variance collapse, new mass at
    the clamp edges) that a mean tracker cannot see.

    State per key is ``n_bins`` longs — fixed width, independent of
    row count, the same O(1)-per-key bound as the EWMA monitor; bounds
    are part of the operator config (the sketch-schema posture).
    Emitted via the idempotent changelog sink (replay-safe)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    readings = _reading_value_stream(spark, drop_dir, max_files_per_trigger)
    width = (hi - lo) / n_bins

    def update(key, pdf_iter, state):
        import numpy as np

        counts = np.zeros(n_bins, dtype=np.int64)
        for pdf in pdf_iter:
            v = pdf["metric_value"].to_numpy(dtype=float)
            # drop NaN/inf BEFORE binning: floor(nan).astype(int64) is
            # undefined (typically INT64_MIN) and clip would silently
            # land corrupt readings in bin 0, skewing the reference/PSI
            v = v[np.isfinite(v)]
            if v.size == 0:
                continue
            b = np.clip(
                np.floor((v - lo) / width).astype(np.int64), 0, n_bins - 1
            )
            counts += np.bincount(b, minlength=n_bins)
        n = int(counts.sum())
        if n == 0:
            return
        if state.exists:
            ref = np.array(state.get[0], dtype=np.float64)
            p = (ref + 1.0) / (ref.sum() + n_bins)  # Laplace-smoothed,
            q = (counts + 1.0) / (n + n_bins)  # as in psi_value_drift
            psi = float(np.sum((q - p) * np.log(q / p)))
            is_reference = False
        else:
            state.update((counts.tolist(),))
            psi, is_reference = 0.0, True
        yield pd.DataFrame(
            {
                "metric_name": [key[0]],
                "batch_rows": [n],
                "psi": [psi],
                "is_reference": [is_reference],
            }
        )

    updated = readings.groupBy("metric_name").applyInPandasWithState(
        update,
        outputStructType=(
            "metric_name string, batch_rows long, psi double, "
            "is_reference boolean"
        ),
        stateStructType="ref array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _append_changelog(updated, out_dir, checkpoint_dir)
