"""The engine's query surface: one named query per implemented operator
group from SURVEY.md §2, each with a DuckDB oracle SQL twin.

Contract (driver: /root/repo/__spark_entry__.py): every entry in
``QUERIES`` is a callable ``(spark, sf_dir) -> DataFrame``; ``ORACLE``
holds the equivalent SQL DuckDB runs on the same parquet tables
(pre-registered views). The driver compares row-count + schema +
order-insensitive value hash, with columns sorted by name — so every
computed column is aliased identically on both sides.

Determinism rules used throughout (SURVEY.md §7.3):
- wall-clock audit columns (processed_at / calculated_at) are excluded;
- timestamps and dates are emitted as formatted strings (Spark
  session TZ is pinned UTC; DuckDB timestamps are UTC-naive);
- aggregated doubles are rounded (summation order differs between
  engines; elementwise arithmetic is bit-identical IEEE and needs no
  rounding);
- every top-k has a total deterministic tiebreak.

Sensor-domain mapping (FIXTURES.md §6): the ``events`` table plays
``silver.stg_readings`` — ``ts → reading_time``, ``event_type →
metric_name``, ``value → metric_value`` — with 'click'/'view' standing
in for Voltage/Current in the daily-power mart.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensor_data_pipeline___spark.operators.gold import silver_to_gold
from sensor_data_pipeline___spark.operators.silver import bronze_to_silver
from sensor_data_pipeline___spark.session import apply_runtime_confs
from sensor_data_pipeline___spark.sources import readers

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_runtime_confs(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return readers.table(spark, name, sf_dir)


#: _t_wide never rebalances a scan estimated above this many bytes:
#: a pathological layout (a few huge single-row-group files) can be
#: undersplit AND big, and round-robin-shuffling a multi-GB text
#: column for extra parallelism is a worse trade than running it
#: undersplit. 1 GiB ~= cores x a few row groups at default sizes.
_T_WIDE_MAX_BYTES = 1 << 30


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """:func:`_t` for queries whose FIRST stage is CPU-heavy per row
    (the interpreted BPE merge folds, per-doc shingling/hashing): when
    the file layout undersplits the scan, raise it to the session's
    default parallelism so the map stage isn't serialized on a handful
    of tasks.

    A single-row-group parquet file scans as ONE partition no matter
    what ``files.maxPartitionBytes`` says (byte-range splits can't cut
    inside a row group), which at local/test scale pins the whole
    tokenize/fingerprint stage to one core — measured 5.5 s -> 1.9 s
    on the sf0.1 BPE encode. Cost-gated BOTH ways (the round-workflow
    rule), with two independent gates because partition count alone
    does not bound volume (an 8 x 10 GB single-row-group layout is
    undersplit AND huge):

    - parallelism-deficit gate: engage only when the scan has fewer
      than HALF the session's cores in splits — near-target counts
      would shuffle the whole input for a few percent of parallelism
      (the r15 interleaved A/B measured exchanges roughly break-even
      on lighter maps, so small deficits are likely net losses);
    - size gate: never move more than ``_T_WIDE_MAX_BYTES`` (the
      optimizer's scan estimate, file-size-accurate for a bare read
      and free to evaluate driver-side).

    On a cluster-scale table — whose scan carries orders of magnitude
    more splits than cores — the first gate no-ops, so the 100 TB
    plan stays shuffle-free. The operators themselves stay map-only
    (test_bpe_encode_is_map_only pins that); input parallelism is the
    caller's choice, made here."""
    df = _t(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    # size gate from the scan's own file list (public API — replaced
    # the private optimizedPlan().stats() probe, VERDICT r15 #8): a
    # bare read's optimizer estimate was exactly the summed file
    # sizes, so the gate behavior is unchanged. Any file we cannot
    # stat locally (remote URI, vanished) counts as over-limit —
    # the conservative branch is NOT rebalancing. A ``file:`` URI is
    # percent-encoded (a space reads ``%20``), so it is decoded before
    # the stat; the sum stops at the first total over the limit.
    est = 0
    for f in df.inputFiles():
        uri = urlparse(f)
        if uri.scheme not in ("", "file"):
            return df
        try:
            est += os.path.getsize(unquote(uri.path))
        except OSError:
            return df
        if est > _T_WIDE_MAX_BYTES:
            return df
    return df.repartition(target)


def _run_scoped_store_path(spark: SparkSession, name: str, sf_dir: str) -> str:
    """A persisted-index scratch path that is (a) DETERMINISTIC within
    one Spark application — repeated verify/replica sweeps overwrite
    the same store instead of leaking dirs and growing the driver-side
    geometry caches without bound (review r8) — and (b) ISOLATED per
    run: it lives under the app's own Spark local scratch dir
    (``SparkFiles.getRootDirectory()``, created per application and
    removed at app exit), so concurrent harness runs or multiple users
    on one host can never overwrite each other's stores mid-probe
    (review r9)."""
    import os

    from pyspark import SparkFiles

    return os.path.join(
        SparkFiles.getRootDirectory(),
        f"{name}_{os.path.basename(sf_dir.rstrip('/'))}",
    )


def _bpe_fit_encode(
    spark: SparkSession, sf_dir: str, store_name: str, k: int = 5
) -> DataFrame:
    """Shared fit-then-encode prelude of the BPE-lifecycle queries
    (bpe_encode_k5, pack_sequences_bpe, bpe_token_length_hist,
    temperature_mixture_tokens): fit + persist a k-merge vocabulary,
    then tokenize the corpus against the store. The FIT reads the
    plain scan — its cost lives on the vocabulary-sized table, and a
    wide input only adds shuffle to the vocab build — while the
    per-word ENCODE fold reads the rebalanced scan (:func:`_t_wide`),
    the stage the r15 undersplit-scan profile showed serialized."""
    from sensor_data_pipeline___spark.operators import text as T

    path = _run_scoped_store_path(spark, store_name, sf_dir)
    T.save_bpe_vocab(_t(spark, sf_dir, "documents"), path, k=k)
    return T.encode_against_vocab(
        spark, path, _t_wide(spark, sf_dir, "documents")
    )


# Shared oracle CTEs (defined early — f-string oracles evaluate at
# registration time, and the first consumer now sits mid-module):
# the deterministic exact-Jaccard (t=0.9) edge set over single-space
# distinct tokens (the set_similarity_join convention) and the
# hash_split md5 bucket assignment.
_SIM_EDGES_CTE = """sim_t AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ), sim_e AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sim_t a JOIN sim_t b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
            (len(a.toks) + len(b.toks)
             - len(list_intersect(a.toks, b.toks))) >= 0.9
    )"""

_SPLIT_CTE = """spl AS (
      SELECT doc_id, CASE WHEN b < 8000 THEN 'train'
                          WHEN b < 9000 THEN 'val'
                          ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   CAST(('0x' || substr(md5('split-v1' || '|' ||
                                            CAST(doc_id AS VARCHAR)),
                                        1, 8)) AS BIGINT) % 10000 AS b
            FROM documents)
    )"""


def _epoch(col) -> "F.Column":
    """Fractional-seconds epoch that is legal on BOTH timestamp flavors.

    ``ts.cast("double")`` throws DATATYPE_MISMATCH on TIMESTAMP_NTZ
    input (tz-naive parquet). Routing through ``timestamp_ltz`` first is
    a no-op on LTZ columns and a pure type re-tag on NTZ under the
    pinned-UTC session timezone, so the resulting epoch matches DuckDB's
    ``epoch(ts)`` bit-for-bit on either flavor.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp_ltz").cast("double")


def _default_shards(spark: SparkSession) -> int:
    """Shard count for the shard-and-stitch window pattern: the
    cluster's parallelism, floored at 32 — on local[32] that is 32, on
    a 1000-executor cluster the windows split proportionally wider.
    Beyond ~1000 shards the literal CASE offset lookup should become a
    broadcast (shard → offset) join; n_shards only affects balance,
    never results, so the switch is transparent."""
    return max(32, spark.sparkContext.defaultParallelism)


def _range_shard(df: DataFrame, col: str, n_shards: int) -> "F.Column":
    """Order-consistent range-shard assignment for global-order windows.

    Cuts ``col`` at approx-percentile bounds and returns a column
    counting how many bounds the row exceeds — so x < y implies
    shard(x) <= shard(y), which is the only property the shard-and-
    stitch running-sum/rank pattern needs (ANY cut points give the
    identical global result; the approximation affects balance, never
    values). Ties on ``col`` always land in one shard, so secondary
    tiebreak columns stay intra-shard. The bounds collect is an
    n_shards-row driver scalar, the same class as the watermark scalar
    (operators/incremental.py:38).
    """
    fracs = [i / n_shards for i in range(1, n_shards)]
    row = df.agg(F.percentile_approx(col, fracs, 10_000).alias("b")).head()
    bounds = sorted({b for b in (row["b"] or []) if b is not None})
    if not bounds:
        return F.lit(0)
    # bounds-exceeded count as ONE flat array expression — a chain of
    # n_shards nested when()s costs Catalyst O(depth^2) analysis time
    # per query (measured ~0.5 s of pure plan time at 32 shards, the
    # dominant term of the whole query at bench scale)
    arr = F.array(*[F.lit(b) for b in bounds])
    return F.size(F.filter(arr, lambda b: F.col(col) > b))


def _uniform_shard(df: DataFrame, col: str, n_shards: int) -> "F.Column":
    """Order-consistent uniform range cut from ONE min/max aggregate —
    the cheap cut for DENSE numeric key columns (surrogate ids), where
    value density tracks row density so uniform value cuts are
    near-equi-count. Skewed value columns keep the percentile cut
    (:func:`_range_shard`); either choice changes balance only, never
    results (the stitch is cut-point-agnostic). Saves the quantile
    sketch build+merge of percentile_approx — min/max is the cheapest
    possible whole-column aggregate and prunes to the key column."""
    row = df.agg(F.min(col).alias("_lo"), F.max(col).alias("_hi")).head()
    lo, hi = row["_lo"], row["_hi"]
    if lo is None or hi == lo:
        return F.lit(0)
    return F.least(
        F.floor(
            (F.col(col) - F.lit(lo)) * n_shards / F.lit(hi - lo + 1)
        ).cast("int"),
        F.lit(n_shards - 1),
    )


def _shard_offsets(df: DataFrame, agg_col) -> tuple[dict, int]:
    """Per-shard exclusive prefix totals for stitching local windows.

    Aggregates ``agg_col`` per ``_shard`` (one map-side-combined
    shuffle of n_shards rows), collects the tiny frame, and returns
    ({shard: sum of all lower shards}, grand_total). Driver-side on
    purpose: a global running sum over n_shards rows as a DataFrame
    window would itself be an unpartitioned WindowExec.
    """
    rows = df.groupBy("_shard").agg(agg_col.alias("_tot")).collect()
    totals = {r["_shard"]: (r["_tot"] or 0) for r in rows}
    offsets: dict = {}
    acc = 0
    for s in sorted(totals):
        offsets[s] = acc
        acc += totals[s]
    return offsets, acc


def _ntile_from_rank(rank_col: str, n_rows: int, k: int) -> "F.Column":
    """ntile(k) as a pure function of the global 1-based rank and N —
    the first N%k buckets get ceil(N/k) rows, the rest floor(N/k).
    Lets ntile run over sharded/stitched ranks instead of one
    unpartitioned window."""
    q, rem = divmod(n_rows, k)
    if q == 0:
        return F.col(rank_col)
    head = rem * (q + 1)  # rows covered by the (q+1)-sized buckets
    return F.when(
        F.col(rank_col) <= head, F.floor((F.col(rank_col) - 1) / (q + 1)) + 1
    ).otherwise(rem + F.floor((F.col(rank_col) - head - 1) / q) + 1)


def _lookup_literal(mapping: dict, col: str) -> "F.Column":
    """Broadcast a tiny driver-side dict as ONE literal map lookup
    (stays inside whole-stage codegen; no join, no shuffle). A flat
    ``create_map`` + ``element_at``, NOT a nested when() chain — the
    chain's depth-n expression tree costs Catalyst quadratic analysis
    time, which at 32 shards dominated the sharded-window queries'
    wall clock (plan time, not execution)."""
    if not mapping:
        return F.lit(0)
    pairs: list = []
    for k, v in mapping.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(col)), F.lit(0)
    )


def events_as_readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table in silver.stg_readings shape."""
    return _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("raw_id"),
        F.col("ts").alias("reading_time"),
        F.col("event_type").alias("metric_name"),
        F.col("value").alias("metric_value"),
        F.to_date("ts").alias("reading_date"),
    )


# ---------------------------------------------------------------------------
# Reference-parity queries (sensor medallion over `events`)
# ---------------------------------------------------------------------------


@_register(
    "silver_parse",
    # Raw lines reconstructed deterministically from events (integer
    # value = user_id so double→string formatting can't diverge), then
    # parsed with the reference's SQL-path semantics: SPLIT_PART on
    # single space + regex validation + casts (stg_readings.sql:41-99).
    f"""
    WITH bronze AS (
      SELECT event_id AS id,
             floor(epoch(ts))::BIGINT::VARCHAR || ' ' || event_type || ' ' ||
               user_id::VARCHAR AS raw_line
      FROM events
    ), tok AS (
      SELECT id, split_part(raw_line, ' ', 1) AS ts_str,
             split_part(raw_line, ' ', 2) AS name_str,
             split_part(raw_line, ' ', 3) AS val_str
      FROM bronze
      WHERE raw_line IS NOT NULL AND length(trim(raw_line)) > 0
    )
    SELECT id AS raw_id,
           strftime(to_timestamp(ts_str::BIGINT), '{_TS_FMT_DUCK}') AS reading_time,
           name_str AS metric_name,
           val_str::DOUBLE AS metric_value,
           strftime(to_timestamp(ts_str::BIGINT), '%Y-%m-%d') AS reading_date
    FROM tok
    WHERE regexp_matches(ts_str, '^\\d+$')
      AND regexp_matches(name_str, '^[A-Za-z]')
      AND regexp_matches(val_str, '^-?\\d+\\.?\\d*$')
    """,
)
def q_silver_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bronze = ev.select(
        F.col("event_id").alias("id"),
        F.concat_ws(
            " ",
            F.unix_timestamp("ts").cast("string"),
            F.col("event_type"),
            F.col("user_id").cast("string"),
        ).alias("raw_line"),
        F.current_timestamp().alias("ingested_at"),
    )
    silver = bronze_to_silver(bronze)
    return silver.select(
        "raw_id",
        F.date_format("reading_time", _TS_FMT_SPARK).alias("reading_time"),
        "metric_name",
        "metric_value",
        F.date_format("reading_date", "yyyy-MM-dd").alias("reading_date"),
    )


@_register(
    "gold_daily_power",
    # The mart: AVG(click)×AVG(view) per day, only days with both
    # (mart_daily_power.sql:49-87; F3+A1+P9+F5+P7+P8).
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS reading_date,
             avg(CASE WHEN event_type = 'click' THEN value END) AS avg_a,
             avg(CASE WHEN event_type = 'view' THEN value END) AS avg_b
      FROM events
      WHERE event_type IN ('click', 'view')
      GROUP BY 1
    )
    SELECT 'Power' AS metric_name,
           round(avg_a * avg_b, 6) AS metric_value,
           strftime(reading_date, '%Y-%m-%d') AS reading_date,
           strftime(CAST(reading_date AS TIMESTAMP), '{_TS_FMT_DUCK}') AS reading_time
    FROM daily
    WHERE avg_a IS NOT NULL AND avg_b IS NOT NULL
    """,
)
def q_gold_daily_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    silver = events_as_readings(spark, sf_dir)
    gold = silver_to_gold(silver, "click", "view")
    return gold.select(
        "metric_name",
        F.round("metric_value", 6).alias("metric_value"),
        F.date_format("reading_date", "yyyy-MM-dd").alias("reading_date"),
        F.date_format("reading_time", _TS_FMT_SPARK).alias("reading_time"),
    )


@_register(
    "serving_union",
    # GET /data flagship: (silver σ_range ∪ALL gold σ_range) ordered by
    # (time, name), wire-formatted with ms-truncated ISO strings
    # (readings.py:32-46, data.py:104-153; F4+F8+U1+O1+P12).
    """
    WITH gold AS (
      SELECT 'Power' AS metric_name,
             avg(CASE WHEN event_type = 'click' THEN value END)
               * avg(CASE WHEN event_type = 'view' THEN value END) AS metric_value,
             CAST(ts AS DATE) AS reading_date,
             CAST(CAST(ts AS DATE) AS TIMESTAMP) AS reading_time
      FROM events
      WHERE event_type IN ('click', 'view')
      GROUP BY CAST(ts AS DATE)
      HAVING avg(CASE WHEN event_type = 'click' THEN value END) IS NOT NULL
         AND avg(CASE WHEN event_type = 'view' THEN value END) IS NOT NULL
    ), unioned AS (
      SELECT ts AS reading_time, event_type AS metric_name, value AS metric_value
      FROM events
      WHERE CAST(ts AS DATE) >= DATE '2024-01-10' AND CAST(ts AS DATE) < DATE '2024-01-21'
      UNION ALL
      SELECT reading_time, metric_name, metric_value
      FROM gold
      WHERE reading_date >= DATE '2024-01-10' AND reading_date < DATE '2024-01-21'
    )
    SELECT substr(strftime(reading_time, '%Y-%m-%dT%H:%M:%S.%f'), 1, 23) || 'Z' AS time,
           metric_name AS name,
           round(metric_value, 6) AS value
    FROM unioned
    ORDER BY reading_time, metric_name
    """,
)
def q_serving_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.serving import (
        readings_by_date_range,
        to_wire_format,
    )

    silver = events_as_readings(spark, sf_dir)
    gold = silver_to_gold(silver, "click", "view")
    served = readings_by_date_range(silver, gold, "2024-01-10", "2024-01-20")
    return to_wire_format(served).select(
        "time", "name", F.round("value", 6).alias("value")
    )


@_register(
    "watermark_incremental",
    # J1: scalar-subquery watermark — rows newer than (max ts − 7 days)
    # (stg_readings.sql:32-38 re-expressed event-time).
    """
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
    FROM events
    WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)
    GROUP BY event_type
    """,
)
def q_watermark_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("wm"))
    return (
        ev.join(F.broadcast(wm))
        .filter(F.col("ts") > F.col("wm"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


@_register(
    "affected_days_recompute",
    # J2: full-day recompute of any day that received data in the last 7
    # event-time days — left-semi join on the affected-day set
    # (mart_daily_power.sql:36-46).
    """
    WITH affected AS (
      SELECT DISTINCT CAST(ts AS DATE) AS reading_date
      FROM events
      WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)
    )
    SELECT strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS reading_date,
           e.event_type,
           count(*) AS n,
           round(avg(e.value), 6) AS avg_value
    FROM events e
    WHERE CAST(e.ts AS DATE) IN (SELECT reading_date FROM affected)
    GROUP BY 1, 2
    """,
)
def q_affected_days_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("wm"))
    affected = (
        ev.join(F.broadcast(wm))
        .filter(F.col("ts") > F.col("wm"))
        .select(F.to_date("ts").alias("reading_date"))
        .distinct()
    )
    return (
        ev.withColumn("reading_date", F.to_date("ts"))
        .join(F.broadcast(affected), "reading_date", "left_semi")
        .groupBy("reading_date", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(
            F.date_format("reading_date", "yyyy-MM-dd").alias("reading_date"),
            "event_type",
            "n",
            "avg_value",
        )
    )


@_register(
    "coalesce_last_purchase",
    # P10: COALESCE(MAX(...), epoch floor) per user (stg_readings.sql:35).
    f"""
    SELECT user_id,
           strftime(coalesce(max(CASE WHEN event_type = 'purchase' THEN ts END),
                             TIMESTAMP '1970-01-01 00:00:00'), '{_TS_FMT_DUCK}')
             AS last_purchase_at
    FROM events
    GROUP BY user_id
    """,
)
def q_coalesce_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.date_format(
            F.coalesce(
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                F.lit("1970-01-01 00:00:00").cast("timestamp"),
            ),
            _TS_FMT_SPARK,
        ).alias("last_purchase_at")
    )


@_register(
    "in_list_filter",
    # F3: metric IN-list (mart_daily_power.sql:34).
    """
    SELECT event_type, count(*) AS n
    FROM events WHERE event_type IN ('click', 'view')
    GROUP BY event_type
    """,
)
def q_in_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


@_register(
    "distinct_projection",
    # A3: SELECT DISTINCT (mart_daily_power.sql:39).
    "SELECT DISTINCT event_type FROM events",
)
def q_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select("event_type").distinct()


# ---------------------------------------------------------------------------
# Relational / analytics surface (TPC-H-ish star schema)
# ---------------------------------------------------------------------------


@_register(
    "q1_pricing_summary",
    # TPC-H Q1 shape: 2-key groupBy, 8 aggregates, pushed-down date
    # filter. Map-side partial aggregation; one shuffle.
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_register(
    "q3_top_revenue_orders",
    # TPC-H Q3 shape: 3-way join + agg + deterministic top-10.
    """
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-01-01'
      AND l.l_shipdate > DATE '1996-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


@_register(
    "q5_region_revenue",
    # TPC-H Q5 shape: 6-way join through the dimension chain; small dims
    # broadcast (nation/region are KB-sized at any SF).
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@_register(
    "semi_join_active_customers",
    # Left-semi join (EXISTS) — J2's physical shape.
    """
    SELECT c.c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def q_semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@_register(
    "anti_join_inactive_customers",
    # Left-anti join (NOT EXISTS).
    """
    SELECT c.c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def q_anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@_register(
    "date_range_orders",
    # F4: half-open date-range filter + agg (readings.py:37,43 pattern).
    """
    SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
    GROUP BY o_orderpriority
    """,
)
def q_date_range_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@_register(
    "window_topk_orders",
    # Top-3 orders per customer by totalprice — Window + row_number with
    # a total deterministic tiebreak (capability beyond the reference,
    # SURVEY.md §2.8).
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rank_in_cust
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_cust
      FROM orders
    )
    WHERE rank_in_cust <= 3
    """,
)
def q_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rank_in_cust", F.row_number().over(w))
        .filter(F.col("rank_in_cust") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_cust")
    )


@_register(
    "window_running_total",
    # Running sum per customer in (date, orderkey) order — identical
    # accumulation order on both engines, so values match bit-for-bit;
    # rounded anyway per the determinism rules.
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@_register(
    "rollup_lineitem",
    # ROLLUP grouping sets (capability beyond the reference).
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------


@_register(
    "dedup_exact",
    # Exact dedup: canonical representative (min doc_id) per identical
    # text, plus group size. Hash-groupBy — one shuffle on the text key
    # (at 100 TB: group by a 128-bit text hash instead of the full text
    # to bound shuffle width; same result, see operators/dedup.py).
    """
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


@_register(
    "dedup_token_set",
    # Bag-of-words dedup: documents with identical distinct-token SETS
    # are duplicates (word-order-insensitive exact dedup — the n-gram
    # Jaccard=1.0 special case, cheap enough for an exact oracle).
    """
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY list_sort(list_distinct(string_split(text, ' ')))
    """,
)
def q_dedup_token_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    key = F.sort_array(F.array_distinct(F.split(F.col("text"), " ")))
    return (
        docs.groupBy(key.alias("_token_set"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "n_copies")
    )


@_register(
    "text_quality",
    # Quality scoring: token count, avg token length, stopword ratio —
    # pure column expressions (no UDFs), one narrow pass.
    """
    WITH toks AS (
      SELECT doc_id, n_chars, string_split(text, ' ') AS toks, text
      FROM documents
    )
    SELECT doc_id, n_chars,
           len(toks) AS n_tokens,
           round(length(replace(text, ' ', '')) / len(toks)::DOUBLE, 6) AS avg_token_len,
           round(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to')))
                 / len(toks)::DOUBLE, 6) AS stopword_ratio
    FROM toks
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.text import quality_features

    return quality_features(_t(spark, sf_dir, "documents"))


@_register(
    "fingerprint_md5",
    # Document fingerprinting (content-hash identity column).
    "SELECT doc_id, md5(text) AS fingerprint FROM documents",
)
def q_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5(F.col("text")).alias("fingerprint"))


@_register(
    "lang_distribution",
    # Corpus language profile (per-lang doc counts + length stats).
    """
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@_register(
    "similarity_topk",
    # Brute-force cosine top-5 for 8 query vectors against the corpus.
    # Elementwise double math in index order on both engines; similarity
    # rounded to 6 before ranking so ties break identically (vec_id).
    """
    WITH q AS (
      SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id < 8
    ), c AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ce
      FROM embeddings
    ), sims AS (
      SELECT q.query_id, c.vec_id,
             round(list_dot_product(qe, ce) /
                   (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                   6) AS cosine
      FROM q CROSS JOIN c
      WHERE q.query_id <> c.vec_id
    )
    SELECT query_id, vec_id, cosine, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rnk
      FROM sims
    ) WHERE rnk <= 5
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return brute_force_topk(queries, emb, k=5)


@_register(
    "embedding_near_dup",
    # Embedding-cosine near-dup pairs, label-blocked (the blocking key
    # bounds the pair space — at 100 TB the block is an LSH bucket
    # instead of the label; same join shape).
    """
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e
      FROM embeddings WHERE vec_id % 5 = 0
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.e, b.e) /
                 (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                 6) AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e) /
          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) > 0.5
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.similarity import near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return near_dup_pairs(emb, block_col="label", threshold=0.5)


@_register(
    "multimodal_binary_meta",
    # Opaque-binary column plumbing: text→bytes as the stand-in payload,
    # typed metadata derived JVM-side (octet length). The decode /
    # feature-extract path is operators/multimodal.py (Pandas-UDF
    # plumbing, stubbed decoder — no image libs in this container).
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
)
def q_multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.md5(F.col("text")).alias("content_hash"),
    )


@_register(
    "waveform_envelope",
    # Audio codec round-trip proof: Spark synthesizes a deterministic
    # PCM sample sequence per doc, ENCODES it as RIFF/WAVE bytes,
    # decodes via the native numpy WAV parser, and computes the 8-point
    # min/max waveform envelope (operators/multimodal.py). DuckDB
    # computes the identical envelope straight from the sample formula
    # — equality holds only if the container encode/decode is lossless.
    # n_samples is a multiple of 8, so buckets cut exactly; int16/2^15
    # is exact in float32, so REAL comparison is bit-stable.
    """
    WITH params AS (
      SELECT doc_id, 8 * (25 + doc_id % 8) AS n FROM documents
    ), samples AS (
      SELECT doc_id, n, i,
             ((doc_id * 9176 + i * 65) % 65536) - 32768 AS s
      FROM params, UNNEST(generate_series(0, n - 1)) AS t(i)
    )
    SELECT doc_id,
           CAST(i // (n // 8) AS INT) AS bucket,
           CAST(min(s) / 32768.0 AS REAL) AS env_min,
           CAST(max(s) / 32768.0 AS REAL) AS env_max
    FROM samples
    GROUP BY doc_id, CAST(i // (n // 8) AS INT)
    """,
)
def q_waveform_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: synth and decode are both mapInPandas over the doc
    partitioning (no shuffle until the final explode, which is narrow);
    payload bytes live only inside Arrow batches. At 100 TB the synth
    stage is replaced by the real audio scan — the decode + envelope
    stages are unchanged."""
    from sensor_data_pipeline___spark.operators.multimodal import (
        encode_wav_pcm16,
        waveform_downsample,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 8 * (25 + d % 8)
                samples = [
                    ((d * 9176 + i * 65) % 65536) - 32768 for i in range(n)
                ]
                rows.append(
                    {
                        "media_id": d,
                        "payload": encode_wav_pcm16(samples),
                        "codec": "wav",
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload", "codec"])

    media = docs.mapInPandas(synth, "media_id long, payload binary, codec string")
    env = waveform_downsample(media, n_points=8)
    return env.select(
        F.col("media_id").alias("doc_id"),
        F.posexplode(F.arrays_zip("env_min", "env_max")).alias("bucket", "e"),
    ).select(
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("e.env_min").alias("env_min"),
        F.col("e.env_max").alias("env_max"),
    )


# ---------------------------------------------------------------------------
# Rows-only queries (no SQL-expressible oracle; driver records a weaker
# rows-only check — approximate/hash-seeded algorithms)
# ---------------------------------------------------------------------------


@_register("approx_distinct_users", None)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HyperLogLog++ sketch — approximate by construction, no exact oracle.
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count("*").alias("n_events"),
    )


@_register("minhash_near_dup", None)
def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinHash+LSH near-dup candidates (xxhash64-based signatures — no
    # DuckDB twin since hash functions differ across engines).
    from sensor_data_pipeline___spark.operators.dedup import minhash_near_dup

    return minhash_near_dup(_t(spark, sf_dir, "documents"), jaccard_threshold=0.8)


# simhash_fingerprint was DEREGISTERED in r11 (VERDICT r9 directive
# #3 / r10 #3: rows-only registry ≤12): the raw per-doc fingerprint's
# verifiable core is carried by the oracle-gated simhash_near_dup_exact
# (md5c60 parity fingerprint, brute-force DuckDB twin), and the
# production xxhash64 fingerprint plumbing stays exercised through
# simhash_near_dup_pairs and the planted-pair tests in
# tests/test_dedup_more.py. The operator (operators/dedup.py:simhash)
# is unchanged and public.


# ---------------------------------------------------------------------------
# Batch 2: wider relational + windowing + text surface
# ---------------------------------------------------------------------------


@_register(
    "pivot_daily_avg",
    # Explicit pivot (A1's general form): per-day average per event
    # type as columns.
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS reading_date,
           round(avg(CASE WHEN event_type = 'click' THEN value END), 6) AS click,
           round(avg(CASE WHEN event_type = 'view' THEN value END), 6) AS view,
           round(avg(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase
    FROM events
    GROUP BY 1
    """,
)
def q_pivot_daily_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    piv = (
        ev.groupBy(F.to_date("ts").alias("reading_date"))
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.round(F.avg("value"), 6))
    )
    return piv.select(
        F.date_format("reading_date", "yyyy-MM-dd").alias("reading_date"),
        "click",
        "view",
        "purchase",
    )


@_register(
    "cube_orders",
    # CUBE grouping sets over two dims.
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@_register(
    "percentile_prices",
    # Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    # `quantile_cont`). The approximate variant (percentile_approx /
    # approx_count_distinct) is rows-only — see approx_distinct_users.
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5)::DOUBLE, 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.95)::DOUBLE, 4) AS p95,
           round(quantile_cont(l_extendedprice, 0.99)::DOUBLE, 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.95), 4).alias("p95"),
        F.round(F.percentile("l_extendedprice", 0.99), 4).alias("p99"),
    )


@_register(
    "distinct_agg_suppliers",
    # Exact COUNT(DISTINCT) — two-phase distinct aggregation.
    """
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_distinct_agg_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


@_register(
    "asof_last_purchase",
    # As-of join within a stream: each error event paired with the most
    # recent preceding purchase by the same user. Spark lacks a native
    # as-of join — expressed as last_value(IGNORE NULLS) over a
    # union-ordered window (SURVEY.md §2.4 note; merge_asof via
    # applyInPandas is the per-group alternative for two tables).
    f"""
    WITH tagged AS (
      SELECT user_id, ts, event_type, event_id,
             last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_ts
      FROM events
      WHERE event_type IN ('error', 'purchase')
    )
    SELECT event_id,
           user_id,
           strftime(ts, '{_TS_FMT_DUCK}') AS error_at,
           strftime(last_purchase_ts, '{_TS_FMT_DUCK}') AS asof_purchase_at
    FROM tagged
    WHERE event_type = 'error'
    """,
)
def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = ev.withColumn(
        "last_purchase_ts",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
        ).over(w),
    )
    return tagged.filter(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("error_at"),
        F.date_format("last_purchase_ts", _TS_FMT_SPARK).alias("asof_purchase_at"),
    )


@_register(
    "sessionization",
    # Sessionization: 30-minute-gap sessions per user via lag + cumsum
    # (batch analog of session_window in streaming).
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM gaps
    )
    SELECT user_id,
           count(DISTINCT session_id) AS n_sessions,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id
    """,
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum_w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.lag("ts").over(order_w)
    new_session = F.when(
        prev.isNull() | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTE")), 1
    ).otherwise(0)
    sessions = ev.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(cum_w)
    )
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@_register(
    "hourly_tumbling_window",
    # Tumbling 1-hour event-time window via window() — the streaming
    # agg shape in batch mode (P-window analog of the 1-day grouping).
    f"""
    SELECT strftime(date_trunc('hour', ts), '{_TS_FMT_DUCK}') AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_hourly_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@_register(
    "unpivot_charges",
    # Unpivot via stack(): wide price components → long rows.
    """
    SELECT l_orderkey, l_linenumber, 'extended' AS component, l_extendedprice AS amount
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem WHERE l_orderkey < 100
    """,
)
def q_unpivot_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'extended', l_extendedprice, 'discount', l_discount, 'tax', l_tax)"
        " AS (component, amount)",
    )


@_register(
    "q4_order_priority",
    # TPC-H Q4 shape: EXISTS semi-join + date-range count.
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    GROUP BY o_orderpriority
    """,
)
def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@_register(
    "q6_revenue_change",
    # TPC-H Q6 shape: pure filter + single agg — the pushdown poster
    # child (all three predicates reach the parquet scan).
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_q6_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


@_register(
    "string_functions_parts",
    # String-function suite: upper/substr/regexp_extract/LIKE.
    """
    SELECT upper(p_brand) AS brand_upper,
           substr(p_type, 1, 8) AS type_prefix,
           regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
           count(*) AS n
    FROM part
    WHERE p_name LIKE '%a%'
    GROUP BY 1, 2, 3
    """,
)
def q_string_functions_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").like("%a%"))
        .groupBy(
            F.upper("p_brand").alias("brand_upper"),
            F.substring("p_type", 1, 8).alias("type_prefix"),
            F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        )
        .agg(F.count("*").alias("n"))
    )


@_register(
    "token_counts",
    # Token counting: whitespace tokens + BPE-ish subword estimate
    # (4-char chunks + punctuation), both via regex extraction.
    """
    SELECT doc_id,
           len(string_split_regex(text, '\\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '\\w{1,4}|[^\\w\\s]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.text import token_count

    return token_count(_t(spark, sf_dir, "documents"))


@_register(
    "lang_id_heuristic",
    # Stopword-profile language ID (argmax over per-language hit
    # counts; ties → lexicographically greatest code). The struct-max
    # formulation is identical in both engines.
    """
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
    ), scores AS (
      SELECT doc_id,
        len(list_filter(t, x -> x IN ('the','of','and','to','a','in','is','it'))) AS s_en,
        len(list_filter(t, x -> x IN ('der','die','und','das','ist','ein','nicht'))) AS s_de,
        len(list_filter(t, x -> x IN ('le','la','et','les','des','un','est'))) AS s_fr,
        len(list_filter(t, x -> x IN ('el','la','de','que','los','un','es'))) AS s_es,
        len(list_filter(t, x -> x IN ('的','是','了','在','和'))) AS s_zh
      FROM toks
    )
    SELECT doc_id,
           list_max([
             {'score': s_en, 'lang': 'en'},
             {'score': s_de, 'lang': 'de'},
             {'score': s_fr, 'lang': 'fr'},
             {'score': s_es, 'lang': 'es'},
             {'score': s_zh, 'lang': 'zh'}
           ]).lang AS pred_lang,
           greatest(s_en, s_de, s_fr, s_es, s_zh) AS best_score
    FROM scores
    """,
)
def q_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.text import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


@_register("lsh_bucket_histogram", None)
def q_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Random-hyperplane LSH bucket sizes (engine-specific hashing —
    # rows-only). The scale path for similarity search: equi-join on
    # bucket instead of cross product.
    from sensor_data_pipeline___spark.operators.similarity import lsh_bucket

    emb = _t(spark, sf_dir, "embeddings")
    return (
        lsh_bucket(emb, num_planes=8)
        .groupBy("lsh_bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


@_register("simhash_near_dup_pairs", None)
def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SimHash Hamming-distance near-dups (engine-specific hashing).
    from sensor_data_pipeline___spark.operators.dedup import simhash_near_dup

    return simhash_near_dup(_t(spark, sf_dir, "documents"), max_hamming=16)


# ---------------------------------------------------------------------------
# Batch 3: multi-format parsing, winnowing fingerprints, ANN top-k
# ---------------------------------------------------------------------------


@_register(
    "iso_multiformat_parse",
    # P11: the reference API's 5-format fallback chain
    # (src/api/routes/data.py:129-147). Each event renders its (second-
    # truncated) timestamp in one of the five accepted shapes; both
    # engines parse back through the same try-in-order chain.
    """
    WITH base AS (
      SELECT event_id, to_timestamp(floor(epoch(ts))::BIGINT) AS bt
      FROM events
    ), shaped AS (
      SELECT event_id,
             CASE event_id % 5
               WHEN 0 THEN strftime(bt, '%Y-%m-%dT%H:%M:%S') || '.250000Z'
               WHEN 1 THEN strftime(bt, '%Y-%m-%dT%H:%M:%SZ')
               WHEN 2 THEN strftime(bt, '%Y-%m-%dT%H:%M:%S') || '.250000'
               WHEN 3 THEN strftime(bt, '%Y-%m-%dT%H:%M:%S')
               ELSE strftime(bt, '%Y-%m-%d')
             END AS iso_str
      FROM base
    ), parsed AS (
      SELECT event_id, iso_str,
             COALESCE(
               try_strptime(iso_str, '%Y-%m-%dT%H:%M:%S.%fZ'),
               try_strptime(iso_str, '%Y-%m-%dT%H:%M:%SZ'),
               try_strptime(iso_str, '%Y-%m-%dT%H:%M:%S.%f'),
               try_strptime(iso_str, '%Y-%m-%dT%H:%M:%S'),
               try_strptime(iso_str, '%Y-%m-%d')) AS p
      FROM shaped
    )
    SELECT event_id, iso_str,
           strftime(p, '%Y-%m-%d %H:%M:%S') AS parsed_ts,
           (epoch_us(p) % 1000000)::BIGINT AS frac_us
    FROM parsed
    """,
)
def q_iso_multiformat_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.functions.datetime_fmt import parse_iso_date_col

    ev = _t(spark, sf_dir, "events")
    base = F.timestamp_seconds(F.unix_timestamp("ts"))
    m = F.col("event_id") % 5
    iso = (
        F.when(m == 0, F.concat(F.date_format(base, "yyyy-MM-dd'T'HH:mm:ss"), F.lit(".250000Z")))
        .when(m == 1, F.date_format(base, "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .when(m == 2, F.concat(F.date_format(base, "yyyy-MM-dd'T'HH:mm:ss"), F.lit(".250000")))
        .when(m == 3, F.date_format(base, "yyyy-MM-dd'T'HH:mm:ss"))
        .otherwise(F.date_format(base, "yyyy-MM-dd"))
    )
    parsed = parse_iso_date_col(F.col("iso_str"))
    return (
        ev.select(F.col("event_id"), iso.alias("iso_str"))
        .select(
            "event_id",
            "iso_str",
            F.date_format(parsed, _TS_FMT_SPARK).alias("parsed_ts"),
            (F.unix_micros(parsed) % 1000000).alias("frac_us"),
        )
    )


@_register(
    "winnowing_fingerprint",
    # Rolling-window document fingerprinting (winnowing): md5 each char
    # k-gram, take the minimum hash of every w-wide window, fingerprint =
    # the distinct window minima. md5 hex strings are byte-identical
    # across engines, so the whole selection is oracle-checkable.
    """
    WITH kg AS (
      SELECT doc_id,
             [md5(substr(text, i, 7)) for i in range(1, len(text) - 7 + 2)] AS kgs
      FROM documents
      WHERE len(text) >= 7
    ), win AS (
      SELECT doc_id,
             [list_min(kgs[i:i+3]) for i in range(1, len(kgs) - 4 + 2)] AS mins
      FROM kg
      WHERE len(kgs) >= 4
    )
    SELECT doc_id,
           len(list_distinct(mins)) AS n_fp,
           list_min(mins) AS min_fp
    FROM win
    """,
)
def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    K, W = 7, 4
    docs = _t(spark, sf_dir, "documents")
    txt = F.col("text")
    kgs = F.transform(
        F.sequence(F.lit(1), F.length(txt) - K + 1),
        lambda i: F.md5(F.substring(txt, i, F.lit(K))),
    )
    with_kg = docs.filter(F.length(txt) >= K).select("doc_id", kgs.alias("kgs"))
    mins = F.transform(
        F.sequence(F.lit(1), F.size("kgs") - W + 1),
        lambda i: F.array_min(F.slice("kgs", i, W)),
    )
    return (
        with_kg.filter(F.size("kgs") >= W)
        .select("doc_id", mins.alias("mins"))
        .select(
            "doc_id",
            F.size(F.array_distinct("mins")).alias("n_fp"),
            F.array_min("mins").alias("min_fp"),
        )
    )


@_register("ann_topk_lsh", None)
def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Approximate nearest neighbours: random-hyperplane LSH bucket as the
    # blocking key, exact cosine only within the query's bucket. The
    # scale path for similarity_topk — the join is an equi-join on
    # bucket id, never a cross product. Engine-specific hashing →
    # rows-only. Recall is tunable via num_planes (fewer planes → bigger
    # buckets → higher recall, more compute).
    from sensor_data_pipeline___spark.operators.similarity import (
        _dot_hof,
        _to_double,
        lsh_bucket,
    )

    emb = _t(spark, sf_dir, "embeddings")
    bucketed = lsh_bucket(emb, num_planes=6).select(
        "vec_id", _to_double(F.col("embedding")).alias("e"), "lsh_bucket"
    ).withColumn("nrm", F.sqrt(_dot_hof(F.col("e"), F.col("e"))))
    q = bucketed.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("lsh_bucket").alias("qb"),
    )
    sims = (
        bucketed.join(F.broadcast(q), F.col("lsh_bucket") == F.col("qb"))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot_hof(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


@_register(
    "lag_daily_power_delta",
    # Day-over-day power delta: lead/lag window over the gold mart —
    # the sensor-domain trend query (per-day Power from A1/P9, then
    # lag(1) within the whole series).
    """
    WITH gold AS (
      SELECT CAST(ts AS DATE) AS reading_date,
             avg(CASE WHEN event_type = 'click' THEN value END)
               * avg(CASE WHEN event_type = 'view' THEN value END) AS power
      FROM events
      WHERE event_type IN ('click', 'view')
      GROUP BY CAST(ts AS DATE)
      HAVING avg(CASE WHEN event_type = 'click' THEN value END) IS NOT NULL
         AND avg(CASE WHEN event_type = 'view' THEN value END) IS NOT NULL
    )
    SELECT strftime(reading_date, '%Y-%m-%d') AS reading_date,
           round(power, 6) AS power,
           round(power - lag(power) OVER (ORDER BY reading_date), 6) AS delta,
           round(avg(power) OVER (ORDER BY reading_date
                                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
             AS rolling_7d
    FROM gold
    """,
)
def q_lag_daily_power_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    silver = events_as_readings(spark, sf_dir)
    gold = silver_to_gold(silver, "click", "view").select(
        "reading_date", F.col("metric_value").alias("power")
    )
    w = Window.orderBy("reading_date")
    w7 = w.rowsBetween(-6, Window.currentRow)
    return gold.select(
        F.date_format("reading_date", "yyyy-MM-dd").alias("reading_date"),
        F.round("power", 6).alias("power"),
        F.round(F.col("power") - F.lag("power").over(w), 6).alias("delta"),
        F.round(F.avg("power").over(w7), 6).alias("rolling_7d"),
    )


@_register(
    "dedup_exact_stats",
    # The exact-dedup half of the pipeline summary, split out so it is
    # oracle-HASH-verifiable (DuckDB has md5 too): corpus size, distinct
    # texts surviving exact dedup, and rows removed. The MinHash half
    # stays in dedup_pipeline_stats (engine-seeded hashing → rows-only
    # by the driver contract).
    """
    SELECT count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_representatives,
           count(*) - count(DISTINCT md5(text)) AS n_exact_dup_rows
    FROM documents
    """,
)
def q_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import exact_dedup

    groups = exact_dedup(_t(spark, sf_dir, "documents"))
    return groups.agg(
        F.sum("n_copies").alias("n_docs"),
        F.count("*").alias("n_representatives"),
        F.sum(F.col("n_copies") - 1).alias("n_exact_dup_rows"),
    )


@_register(
    "dedup_pipeline_stats",
    # End-to-end corpus-cleaning summary, upgraded rows-only →
    # oracle-backed (r14, VERDICT r13 directive #7): exact dedup →
    # near-dup pairs over the surviving representatives (the pipeline
    # order documented in operators/dedup.py — exact first keeps the
    # pair stage's buckets meaningful). The gated configuration runs
    # the EXACT-Jaccard verification pair source (set_similarity_join,
    # t=0.9 — deterministic, ANSI-replayable) so all three stage
    # counts hash-verify; the LSH-estimate configuration
    # (minhash_near_dup, the dedup_pipeline default) carries the same
    # composition with seeded signatures and is covered by
    # minhash_accuracy_contract + the corpus_neardup bench track.
    """
    WITH reps AS (
      SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
    ), rt AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM reps
    ), re AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM rt a JOIN rt b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
            (len(a.toks) + len(b.toks)
             - len(list_intersect(a.toks, b.toks))) >= 0.9
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM reps)
             AS n_representatives,
           (SELECT CAST(count(*) AS BIGINT) FROM documents)
             - (SELECT CAST(count(*) AS BIGINT) FROM reps)
             AS n_exact_dup_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM re) AS n_near_dup_pairs
    """,
)
def q_dedup_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        exact_dedup,
        set_similarity_join,
    )

    docs = _t(spark, sf_dir, "documents")
    groups = exact_dedup(docs)
    reps = docs.join(groups.select("doc_id"), "doc_id", "left_semi")
    pairs = set_similarity_join(reps, threshold=0.9)
    return (
        groups.agg(
            F.count("*").alias("n_representatives"),
            F.sum(F.col("n_copies") - 1).alias("n_exact_dup_rows"),
        )
        .crossJoin(pairs.agg(F.count("*").alias("n_near_dup_pairs")))
    )


@_register(
    "range_join_purchase_clicks",
    # Range join: equi-key (user_id) + time-interval predicate — each
    # purchase joined to that user's clicks in the preceding hour.
    # Physical shape: sort-merge on the equi key, interval as a
    # residual filter; never a cross join (the equi key is the block).
    """
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id,
           count(*) AS clicks_before,
           strftime(min(c.c_ts), '%Y-%m-%d %H:%M:%S') AS first_click
    FROM p JOIN c ON p.user_id = c.user_id
      AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts < p.p_ts
    GROUP BY p.purchase_id
    """,
)
def q_range_join_purchase_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    joined = p.join(c, "user_id").filter(
        (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts"))
    )
    return joined.groupBy("purchase_id").agg(
        F.count("*").alias("clicks_before"),
        F.date_format(F.min("c_ts"), _TS_FMT_SPARK).alias("first_click"),
    )


@_register(
    "q10_returned_revenue",
    # TPC-H Q10 shape: revenue lost to returned items per customer in a
    # quarter, top 20. Join order: filtered orders (broadcastable after
    # the date cut) into lineitem, dim customer broadcast. Quarter
    # re-ranged from TPC-H-classic 1993-Q4 to 1995-Q4 so the predicate
    # selects real rows in this testdata (order dates span 1995–2001).
    """
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= DATE '1995-10-01'
      AND o.o_orderdate < DATE '1996-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(20)
    )


@_register(
    "q12_shipmode_priority",
    # TPC-H Q12 shape (no shipmode column → bucket by linestatus):
    # priority mix of lines shipped in a year, conditional counts.
    # Year re-ranged from TPC-H-classic 1994 to 1996 so the predicate
    # actually selects rows in this testdata (dates span 1995–2001);
    # CAST(...AS BIGINT) pins DuckDB's HUGEINT sum to Spark's LongType.
    """
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1997-01-01'
    GROUP BY l.l_linestatus
    """,
)
def q_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@_register(
    "q14_brand_revenue_share",
    # TPC-H Q14 shape: one brand's share of a month's revenue —
    # conditional-sum ratio over a broadcast part join.
    """
    SELECT round(
             100.0 * sum(CASE WHEN p.p_brand = 'Brand#1'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS brand_share_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= DATE '1995-09-01' AND l.l_shipdate < DATE '1995-10-01'
    """,
)
def q_q14_brand_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("date"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_brand") == "Brand#1", rev).otherwise(0))
                / F.sum(rev),
                6,
            ).alias("brand_share_pct")
        )
    )


@_register("approx_percentile_prices", None)
def q_approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sketch-based quantiles (approx_percentile ≈ KLL/GK family): the
    # 100 TB path where exact percentile's full sort-per-group is
    # infeasible. Engine-specific sketch → rows-only (exact twin:
    # percentile_prices).
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95_approx"),
    )


@_register(
    "q7_nation_trade",
    # TPC-H Q7 shape: customer-nation × supplier-nation trade volume
    # through lineitem; both nation dims broadcast.
    """
    -- decimal domain: double summation order differs between engines and
    -- can straddle a rounding boundary on large groups; decimal is exact
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           (sum(l.l_extendedprice::DECIMAL(18,2)
                * (1 - l.l_discount)::DECIMAL(18,4)))::DOUBLE AS volume
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE cn.n_name <> sn.n_name
    GROUP BY cn.n_name, sn.n_name
    """,
)
def q_q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("volume")
        )
    )


@_register(
    "grouping_sets_priority",
    # Explicit GROUPING SETS (the general form of cube/rollup):
    # per-(status,priority), per-status, and grand total in one pass.
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def q_grouping_sets_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


# ---------------------------------------------------------------------------
# TPC-H shapes round 2: correlated subqueries, EXISTS/NOT EXISTS, left-join
# distributions, argmin-per-group. No partsupp table exists in the testdata,
# so q2/q9/q17-style queries derive the supplier-part relation from lineitem
# (unit cost = l_extendedprice / l_quantity, elementwise IEEE arithmetic —
# bit-identical across engines, safe to rank/compare unrounded).
# ---------------------------------------------------------------------------


@_register(
    "q2_min_cost_supplier",
    # TPC-H Q2 shape (argmin-per-group / correlated-min subquery): cheapest
    # supplier per part, expressed as a row_number window over the exact
    # elementwise unit cost. The cost is emitted unrounded: it is pure
    # elementwise IEEE arithmetic (division + min), bit-identical across
    # engines, whereas round-to-N straddles half boundaries differently.
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), ranked AS (
      SELECT p.p_partkey, p.p_name, s.s_name, n.n_name AS supp_nation,
             c.unit_cost,
             row_number() OVER (PARTITION BY p.p_partkey
                                ORDER BY c.unit_cost, c.l_suppkey) AS rk
      FROM cost c
      JOIN part p ON c.l_partkey = p.p_partkey
      JOIN supplier s ON c.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_size = 15
    )
    SELECT p_partkey, p_name, s_name, supp_nation, unit_cost
    FROM ranked WHERE rk = 1
    """,
)
def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("p_partkey").orderBy("unit_cost", "l_suppkey")
    return (
        cost.join(F.broadcast(p), cost.l_partkey == p.p_partkey)
        .join(F.broadcast(s), cost.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("n_name").alias("supp_nation"),
            "unit_cost",
            "l_suppkey",
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("p_partkey", "p_name", "s_name", "supp_nation", "unit_cost")
    )


@_register(
    "q8_market_share",
    # TPC-H Q8 shape: per-year share of AMERICA-region customer revenue that
    # was ALSO supplied from AMERICA (domestic share). Decimal sums (exact,
    # associative) cast to double only for the final ratio.
    """
    WITH rev AS (
      SELECT year(o.o_orderdate) AS order_year,
             l.l_extendedprice::DECIMAL(18,2)
               * (1 - l.l_discount)::DECIMAL(18,4) AS vol,
             (sr.r_name = 'AMERICA') AS domestic
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN region cr ON cn.n_regionkey = cr.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      JOIN region sr ON sn.n_regionkey = sr.r_regionkey
      WHERE cr.r_name = 'AMERICA'
    )
    SELECT order_year,
           round((sum(CASE WHEN domestic THEN vol ELSE 0 END)::DOUBLE)
                 / (sum(vol)::DOUBLE), 6) AS domestic_share
    FROM rev GROUP BY order_year
    """,
)
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_regionkey").alias("sr_key"))
    cr = r.select(F.col("r_regionkey").alias("crr_key"), F.col("r_name").alias("cust_region"))
    sr = r.select(F.col("r_regionkey").alias("srr_key"), F.col("r_name").alias("supp_region"))
    vol = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(cr), F.col("cr_key") == F.col("crr_key"))
        .filter(F.col("cust_region") == "AMERICA")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(sr), F.col("sr_key") == F.col("srr_key"))
        .withColumn("order_year", F.year("o_orderdate"))
        .withColumn("vol", vol)
        .withColumn("domestic", F.col("supp_region") == "AMERICA")
        .groupBy("order_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("domestic"), F.col("vol")).otherwise(0)).cast("double")
                / F.sum("vol").cast("double"),
                6,
            ).alias("domestic_share")
        )
    )


@_register(
    "q9_product_profit",
    # TPC-H Q9 shape: profit by supplier nation × order year for a product
    # line (p_name LIKE). No partsupp/ps_supplycost column in the testdata,
    # so profit is the discounted revenue. Decimal sum → double at the edge.
    """
    SELECT n.n_name AS supp_nation, year(o.o_orderdate) AS order_year,
           round(sum(l.l_extendedprice::DECIMAL(18,2)
                     * (1 - l.l_discount)::DECIMAL(18,4))::DOUBLE, 2) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
                ).cast("double"),
                2,
            ).alias("profit")
        )
    )


@_register(
    "q13_customer_distribution",
    # TPC-H Q13 shape: LEFT OUTER join with a join-time filter (so customers
    # with zero qualifying orders still count), then a distribution over the
    # per-customer order counts. Pure integer arithmetic.
    """
    WITH c_orders AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def q_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@_register(
    "q15_top_supplier",
    # TPC-H Q15 shape: revenue view + correlated MAX scalar subquery. The
    # revenue totals stay in exact decimal for the equality-to-max test
    # (double sums could straddle the boundary); double only on output.
    """
    WITH revenue AS (
      SELECT l_suppkey,
             sum(l_extendedprice::DECIMAL(18,2)
                 * (1 - l_discount)::DECIMAL(18,4)) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, round(r.total_rev::DOUBLE, 2) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
    """,
)
def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
        ).alias("total_rev")
    )
    top = revenue.agg(F.max("total_rev").alias("max_rev"))
    s = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(top), revenue.total_rev == top.max_rev)
        .join(F.broadcast(s), revenue.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev").cast("double"), 2).alias("total_revenue"),
        )
    )


@_register(
    "q17_small_quantity_revenue",
    # TPC-H Q17 shape: lines whose quantity is below 20% of the part's
    # average. The threshold test is cross-multiplied into pure integer
    # arithmetic (qty * 5 * cnt < sum_qty — quantities are integral), so no
    # float average ever feeds a comparison.
    """
    WITH agg AS (
      SELECT l_partkey, count(*) AS cnt, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l.l_extendedprice::DECIMAL(18,2))::DOUBLE / 7, 2)
             AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3'
    JOIN agg a ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity * 5 * a.cnt < a.sum_qty
    """,
)
def q_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.count("*").alias("cnt"), F.sum("l_quantity").alias("sum_qty")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(agg, li.l_partkey == agg.a_partkey)
        .filter(F.col("l_quantity") * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / 7,
                2,
            ).alias("avg_yearly")
        )
    )


@_register(
    "q18_large_volume_customers",
    # TPC-H Q18 shape: HAVING-filtered aggregate subquery (orders whose total
    # quantity exceeds a threshold) joined back to dims. Quantity sums are
    # integral → exact.
    """
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


@_register(
    "q19_discounted_revenue",
    # TPC-H Q19 shape: disjunction of conjunctive predicate groups spanning
    # both join sides — Catalyst extracts the common p_partkey equi-key and
    # keeps the OR as a post-join filter.
    """
    SELECT round(sum(l.l_extendedprice::DECIMAL(18,2)
                     * (1 - l.l_discount)::DECIMAL(18,4))::DOUBLE, 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    size = F.col("p_size")
    brand = F.col("p_brand")
    cond = (
        ((brand == "Brand#12") & size.between(1, 5) & qty.between(1, 11))
        | ((brand == "Brand#23") & size.between(1, 10) & qty.between(10, 20))
        | ((brand == "Brand#4") & size.between(1, 15) & qty.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
                ).cast("double"),
                2,
            ).alias("revenue")
        )
    )


@_register(
    "q21_sole_supplier_failed_orders",
    # TPC-H Q21 shape (EXISTS / NOT EXISTS): suppliers who were the SOLE
    # supplier on failed ('F') orders. The NOT EXISTS becomes a left-anti
    # join with a compound (equi + non-equi) condition in Spark.
    """
    SELECT s.s_name, count(DISTINCT l1.l_orderkey) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q_q21_sole_supplier_failed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    l1 = li.select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    sole = l1.join(
        l2,
        (l1.l_orderkey == l2.l2_orderkey) & (l1.l_suppkey != l2.l2_suppkey),
        "left_anti",
    )
    return (
        sole.join(o, sole.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), sole.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), F.col("s_name"))
        .limit(20)
    )


@_register(
    "q22_idle_rich_customers",
    # TPC-H Q22 shape: above-average-balance customers gone idle
    # (scalar-subquery threshold + NOT EXISTS anti join), grouped by nation.
    # The threshold test is cross-multiplied into exact decimal arithmetic:
    # acctbal * n > total, with total summed in DECIMAL. "Idle" is
    # recency-based (no orders since 2000-01-01) rather than classic
    # Q22's no-orders-ever: every customer in this testdata has ≥1
    # order, so the classic anti join is structurally empty and would
    # verify nothing.
    """
    WITH stats AS (
      SELECT count(*) AS n, sum(c_acctbal::DECIMAL(18,2)) AS total
      FROM customer WHERE c_acctbal > 0
    )
    SELECT nt.n_name, count(*) AS numcust, round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c, stats
    JOIN nation nt ON nt.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal::DECIMAL(18,2) * stats.n > stats.total
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '2000-01-01')
    GROUP BY nt.n_name
    """,
)
def q_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("date")
    )
    n = _t(spark, sf_dir, "nation")
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        F.count("*").alias("n_pos"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("total"),
    )
    return (
        c.crossJoin(F.broadcast(stats))
        .filter(F.col("c_acctbal").cast("decimal(18,2)") * F.col("n_pos") > F.col("total"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@_register("ann_topk_ivf", None)
def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF coarse-quantizer ANN: deterministic hash-sampled centroids +
    # one Lloyd refinement, then cell-probed cosine top-k (nprobe 2 of
    # 8). Rows-only: the centroid derivation is engine-specific. The
    # exact twin is similarity_topk; tests pin nprobe==ncells ≡ brute
    # force and recall@5 ≥ 0.5 at nprobe 2/8.
    from sensor_data_pipeline___spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # content-deterministic query set — a bare limit() follows
    # partition layout and would change with the reader's
    # parallelism floor
    q = emb.orderBy("vec_id").limit(8)
    cents = ivf_centroids(emb, ncells=8, iters=1)
    return ivf_topk(q, emb, cents, k=5, nprobe=2)


# Exact-mode ANN twins (VERDICT r6 directive #3): at full probe the
# approximate operators are BIT-IDENTICAL to brute force regardless of
# the engine-specific centroid/hyperplane internals — same rounding,
# same id tiebreak — so the brute-force cosine top-k SQL is a valid
# hash oracle for the exact mode. This is what graduates the ANN
# family from rows-only to hash-verified while the approximate
# settings (nprobe 2/8, Hamming probe 1) stay under recall contracts
# in tests.
_BRUTE_TOPK_ORACLE = """
    WITH q AS (
      SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id < 8
    ), c AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ce
      FROM embeddings
    ), sims AS (
      SELECT q.query_id, c.vec_id,
             round(list_dot_product(qe, ce) /
                   (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                   6) AS cosine
      FROM q CROSS JOIN c
      WHERE q.query_id <> c.vec_id
    )
    SELECT query_id, vec_id, cosine, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rnk
      FROM sims
    ) WHERE rnk <= 5
    """


@_register("ann_topk_ivf_exact", _BRUTE_TOPK_ORACLE)
def q_ann_topk_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The full IVF machinery (centroid training, cell assignment, cell
    # equi-join, per-query ranking) driven at nprobe == ncells: the
    # probe set covers every cell, so the result must hash-match the
    # brute-force oracle — verifying the ENTIRE blocked-search plan,
    # not a bypass of it.
    from sensor_data_pipeline___spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    cents = ivf_centroids(emb, ncells=8, iters=1)
    return ivf_topk(q, emb, cents, k=5, nprobe=8)


@_register("ann_topk_lsh_exact", _BRUTE_TOPK_ORACLE)
def q_ann_topk_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-probe LSH at probe_hamming == num_planes: the Hamming ball
    # spans every bucket, so the bucketed equi-join + ranking must
    # hash-match the brute-force oracle — the hyperplane hashing,
    # probe-expansion, and join plumbing all sit on the verified path.
    from sensor_data_pipeline___spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    return lsh_topk(q, emb, k=5, num_planes=6, probe_hamming=6)


@_register(
    "json_extract_props",
    # Semi-structured extraction: typed value pulled out of a JSON
    # string column (from_json on the Spark side, json_extract_string
    # in DuckDB), aggregated per event_type. The at-scale point:
    # from_json parses once into a typed struct inside codegen — never
    # regex over JSON.
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_total,
           count(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 END)
             AS k_missing
    FROM events
    GROUP BY event_type
    """,
)
def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_total"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("k_missing"),
        )
    )


@_register(
    "funnel_conversion",
    # Ordered-funnel conversion (view → click → purchase): each stage's
    # earliest qualifying timestamp must follow the previous stage's.
    # Per-stage min-aggregates joined forward — three shuffles on
    # user_id, each smaller than the last (funnel narrows).
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS viewed,
           (SELECT count(*) FROM c) AS clicked_after_view,
           (SELECT count(*) FROM p) AS purchased_after_click
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("viewed"))
        .crossJoin(c.agg(F.count("*").alias("clicked_after_view")))
        .crossJoin(p.agg(F.count("*").alias("purchased_after_click")))
    )


@_register(
    "ntile_deciles",
    # Rank-family windows (ntile) — decile cut of order prices with
    # per-decile bounds. The oracle's global ntile is the spec; the
    # Spark side derives identical deciles from sharded global ranks
    # (same shard-and-stitch machinery as equi_depth_histogram), so
    # the full-table sort never lands on one task.
    """
    WITH d AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM d GROUP BY decile
    """,
)
def q_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 10
    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    sharded = o.withColumn(
        "_shard", _range_shard(o, "o_totalprice", _default_shards(spark))
    )
    offsets, n_rows = _shard_offsets(sharded, F.count("*"))
    w = Window.partitionBy("_shard").orderBy("o_totalprice", "o_orderkey")
    rank = F.row_number().over(w) + _lookup_literal(offsets, "_shard")
    decile = _ntile_from_rank("_r", n_rows, k)
    return (
        sharded.withColumn("_r", rank)
        .select("o_totalprice", decile.cast("int").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@_register(
    "top_terms",
    # The canonical explode path: tokenize → explode → count → top-k
    # with a total tiebreak. Map-side partial counts keep the shuffle at
    # distinct-term cardinality, not token cardinality.
    """
    SELECT term, count(*) AS n
    FROM (
      SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
    )
    WHERE term <> ''
    GROUP BY term
    ORDER BY n DESC, term
    LIMIT 25
    """,
)
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ", -1)).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.col("term"))
        .limit(25)
    )


@_register(
    "range_frame_user_spend",
    # RANGE window frame over event time (trailing 1 hour per user):
    # frame bounds follow the ORDER BY VALUE (epoch seconds), not row
    # offsets — rows with no neighbors in range aggregate only
    # themselves. Purchases only, so the window state stays small.
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2)
             AS spend_1h
    FROM events WHERE event_type = 'purchase'
    """,
)
def q_range_frame_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("spend_1h"),
    )


@_register(
    "gapfill_forward_fill",
    # Time-series gap fill: a dense per-user date spine (sequence +
    # explode — generated, never materialized as input data) left-joined
    # against sparse daily spend, then forward-filled with
    # last(ignorenulls) over an unbounded-preceding frame. The spine is
    # a broadcast cross join (|users| × |days| rows exist only past the
    # join); the fill is one partition-local window — no extra shuffle
    # beyond the groupBy, because partitionBy(user_id) reuses the
    # aggregation's hash partitioning.
    """
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 2) AS spend
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), b AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
    spine AS (
      SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM b
    ),
    grid AS (
      SELECT u.user_id, s.d
      FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN spine s
    ),
    j AS (
      SELECT g.user_id, g.d, ev.spend
      FROM grid g LEFT JOIN ev ON g.user_id = ev.user_id AND g.d = ev.d
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
           round(last_value(spend IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS spend_ff,
           CAST(spend IS NOT NULL AS INT) AS observed
    FROM j
    """,
)
def q_gapfill_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("spend"))
    )
    spine = ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    grid = ev.select("user_id").distinct().crossJoin(F.broadcast(spine))
    j = grid.join(ev, ["user_id", "d"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round(F.last("spend", ignorenulls=True).over(w), 2).alias("spend_ff"),
        F.col("spend").isNotNull().cast("int").alias("observed"),
    )


@_register(
    "time_weighted_avg",
    # Time-weighted average per metric: each reading is weighted by the
    # seconds until the next reading of the same metric (lead over an
    # event-time window with a deterministic event_id tiebreak); the
    # final reading has no successor and carries zero weight. Epochs are
    # FRACTIONAL seconds on both engines (the source timestamps carry
    # sub-second precision; Spark's unix_timestamp would truncate, so the
    # cast-to-double epoch is used instead). Both sums run in DECIMAL so
    # cross-engine summation order cannot move a rounding boundary
    # (elementwise value*dt is IEEE bit-identical; only the reduction
    # order differs).
    """
    WITH t AS (
      SELECT event_type, value,
             epoch(lead(ts) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id)) - epoch(ts) AS dt
      FROM events
    )
    SELECT event_type,
           round(CAST(sum(CAST(value * dt AS DECIMAL(30, 10)))
                      / sum(CAST(dt AS DECIMAL(30, 10))) AS DOUBLE), 4) AS twa,
           round(CAST(sum(CAST(dt AS DECIMAL(30, 10))) AS DOUBLE), 2)
             AS total_seconds
    FROM t WHERE dt IS NOT NULL
    GROUP BY event_type
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    epoch = _epoch("ts")
    dt = F.lead(epoch).over(w) - epoch
    dt_dec = F.col("dt").cast("decimal(30,10)")
    return (
        ev.withColumn("dt", dt)
        .filter(F.col("dt").isNotNull())
        .groupBy("event_type")
        .agg(
            F.round(
                (
                    F.sum((F.col("value") * F.col("dt")).cast("decimal(30,10)"))
                    / F.sum(dt_dec)
                ).cast("double"),
                4,
            ).alias("twa"),
            F.round(F.sum(dt_dec).cast("double"), 2).alias("total_seconds"),
        )
    )


@_register(
    "rank_distribution",
    # Rank-family distribution windows: percent_rank and cume_dist per
    # priority class. Tie rows share a rank, so the output is fully
    # deterministic with no tiebreak column; the computation is one
    # sort within each partition's window, shuffled once on the
    # partition key.
    """
    SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice), 6) AS pr,
           round(cume_dist() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice), 6) AS cd
    FROM orders
    """,
)
def q_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@_register(
    "conditional_boolean_aggs",
    # FILTER-style conditional counts and boolean reductions (count_if /
    # bool_or / bool_and) plus an exact interpolated median — all
    # single-pass partial-aggregatable except median, which sorts within
    # groups. Booleans are cast to INT on both engines for a stable
    # cross-engine wire type.
    """
    SELECT event_type,
           count(*) FILTER (WHERE value > 100) AS n_gt100,
           CAST(bool_or(value > 1000) AS INT) AS any_gt1000,
           CAST(bool_and(value >= 0) AS INT) AS all_nonneg,
           round(median(value), 4) AS med
    FROM events
    GROUP BY event_type
    """,
)
def q_conditional_boolean_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 100).alias("n_gt100"),
        F.bool_or(F.col("value") > 1000).cast("int").alias("any_gt1000"),
        F.bool_and(F.col("value") >= 0).cast("int").alias("all_nonneg"),
        F.round(F.median("value"), 4).alias("med"),
    )


@_register(
    "set_intersect_customers",
    # INTERSECT (distinct set semantics): customers active in both
    # years (1996 and 1997). Catalyst plans intersect as a left-semi over distinct
    # inputs — same shuffle shape as the IN-subquery form, expressed
    # declaratively.
    """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    """,
)
def q_set_intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    return y96.intersect(y97)


@_register(
    "set_except_customers",
    # EXCEPT (distinct set semantics): customers who ordered in 1996
    # but never in 1997 — the left-anti twin of the intersect above.
    """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    """,
)
def q_set_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    return y96.subtract(y97)  # EXCEPT == subtract (distinct set semantics)


@_register(
    "string_agg_nations",
    # Ordered string aggregation (LISTAGG): nations per region as one
    # sorted comma-joined string. Spark spells it collect_list →
    # array_sort → concat_ws — the sort makes the result deterministic,
    # which bare string_agg/collect_list is not.
    """
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           count(*) AS n_nations
    FROM region r JOIN nation n ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    """,
)
def q_string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


@_register(
    "corr_regression_returnflag",
    # Statistical aggregates: Pearson correlation and least-squares
    # slope/intercept of extendedprice on quantity, per return flag.
    # Single-pass partial-aggregatable moments on both engines; results
    # rounded because the moment sums are order-dependent doubles.
    """
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_quantity), 5) AS price_qty_corr,
           round(regr_slope(l_extendedprice, l_quantity), 3) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_corr_regression_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 5).alias("price_qty_corr"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 3).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias(
            "intercept"
        ),
        F.count("*").alias("n"),
    )


@_register(
    "embedding_centroid_norm",
    # Per-label centroid norm over unit vectors — intra-label coherence
    # (1.0 = identical directions, →0 = isotropic). posexplode →
    # two-level aggregation keeps everything JVM-side; the shuffle is
    # |labels|×dim rows, independent of corpus size after the first agg.
    """
    WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
    u AS (SELECT label, i, CAST(embedding[i] AS DOUBLE) AS x
          FROM embeddings, idx),
    c AS (SELECT label, i, avg(x) AS cx FROM u GROUP BY label, i)
    SELECT label, round(sqrt(sum(cx * cx)), 4) AS centroid_norm,
           count(*) AS dim
    FROM c GROUP BY label
    """,
)
def q_embedding_centroid_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("i0", "x"))
        .groupBy("label", "i0")
        .agg(F.avg(F.col("x").cast("double")).alias("cx"))
        .groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(F.col("cx") * F.col("cx"))), 4).alias(
                "centroid_norm"
            ),
            F.count("*").alias("dim"),
        )
    )


@_register(
    "hash_split_sizes",
    # Deterministic train/val/test assignment (operators/sampling.py:
    # hash_split): md5(salt|id) buckets — content-stable, so split
    # membership itself is cross-engine verifiable (md5 is bit-identical
    # everywhere, unlike xxhash64). Per split: size + char volume.
    """
    WITH s AS (
      SELECT n_chars,
             CAST(('0x' || substr(md5('split-v1' || '|' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 10000 AS b
      FROM documents
    )
    SELECT CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY 1
    """,
)
def q_hash_split_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return (
        sampling.hash_split(docs, "doc_id")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@_register(
    "hash_stratified_counts",
    # Deterministic per-stratum fraction sampling
    # (operators/sampling.py:hash_stratified_sample): keep iff
    # md5-bucket(salt|doc_id) < frac(lang) x 10000 — the content-stable
    # twin of seeded sampleBy, so the SAMPLE MEMBERSHIP itself is
    # cross-engine hash-verifiable (the graduation path VERDICT r6 #3
    # prescribes: the deterministic variant carries the oracle, the
    # RNG variant stays rows-only).
    """
    WITH s AS (
      SELECT lang, n_chars,
             CAST(('0x' || substr(md5('strat-v1' || '|' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 10000 AS b
      FROM documents
    )
    SELECT lang, count(*) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM s
    WHERE (lang = 'en' AND b < 2500)
       OR (lang = 'de' AND b < 5000)
       OR (lang = 'fr' AND b < 5000)
       OR (lang = 'es' AND b < 5000)
       OR (lang = 'zh' AND b < 7500)
    GROUP BY lang
    """,
)
def q_hash_stratified_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    # downsample the overrepresented language, upsample the rare one —
    # the mixture-rebalancing shape a pretraining corpus actually uses
    frac = {"en": 0.25, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.75}
    return (
        sampling.hash_stratified_sample(docs, "lang", frac, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@_register(
    "user_event_sequences",
    # Behavioral-pretraining sequences (operators/export.py:
    # user_event_sequences): each user's chronological event-type
    # string, truncated at 64, with the (ts, event_id) tiebreak making
    # WHOLE SEQUENCES hash-verifiable cross-engine — not just counts.
    """
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id,
           string_agg(event_type, ' ' ORDER BY ts, event_id)
             FILTER (WHERE rn <= 64) AS seq,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(greatest(max(n) - 64, 0) AS BIGINT) AS n_truncated
    FROM s GROUP BY user_id
    """,
)
def q_user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.export import (
        user_event_sequences,
    )

    ev = _t(spark, sf_dir, "events")
    return user_event_sequences(ev, max_len=64)


@_register(
    "segment_frequency_stats",
    # Cross-document boilerplate census at 10-token-segment granularity
    # (operators/text.py:segment_docs) — the measurement half of
    # drop_repeated_segments (the C4/RefinedWeb line-dedup recipe for
    # corpora without native line structure). Segmentation must agree
    # between engines exactly: Spark slice(toks, i*10+1, 10) (1-based,
    # LENGTH) == DuckDB list_slice(toks, i*10+1, i*10+10) (1-based,
    # INCLUSIVE end); both clamp the ragged tail.
    """
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), segs AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, g.i*10+1, g.i*10+10), ' ')
               AS segment
      FROM base, unnest(range(CAST(ceil(len(toks)/10.0) AS BIGINT))) AS g(i)
    ), freq AS (
      SELECT segment, count(*) AS n FROM segs GROUP BY segment
    )
    SELECT CAST(count(*) AS BIGINT) AS n_distinct_segments,
           CAST(sum(n) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT)
             AS repeated_occurrences,
           CAST(max(n) AS BIGINT) AS max_repeat
    FROM freq
    """,
)
def q_segment_frequency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    freq = (
        T.segment_docs(docs, seg_tokens=10)
        .groupBy("segment")
        .agg(F.count("*").alias("n"))
    )
    return freq.agg(
        F.count("*").alias("n_distinct_segments"),
        F.sum("n").alias("n_segments"),
        F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(0)).alias(
            "repeated_occurrences"
        ),
        F.max("n").alias("max_repeat"),
    )


@_register(
    "stratified_sample_counts",
    # Upgraded rows-only → oracle-backed via the accuracy-contract
    # boolean-pinning trick (approx_distinct_accuracy /
    # cms_heavy_hitters precedent; VERDICT r11 #7 / r12 #8): the
    # seeded Bernoulli sample SIZE is Spark-RNG-specific (no SQL twin
    # can replay it), but its CONTRACT is oracle-checkable — the
    # exact stratum totals must match bit-for-bit, and the sampled
    # count must sit inside the 4-sigma binomial envelope around
    # frac·n (sd = sqrt(n·frac·(1−frac)); 4σ is stable for a correct
    # sampler across testdata regenerations and Spark RNG changes,
    # where a tight band could legitimately flip) and inside [0, n].
    # The oracle asserts the booleans TRUE and recomputes the exact
    # totals from the same table.
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS bounds_ok, TRUE AS within_4sigma
    FROM documents GROUP BY lang
    """,
)
def q_stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded per-stratum Bernoulli sampleBy, pinned by its statistical
    contract: exact stratum sizes + envelope booleans (see oracle
    comment). The raw ``n_sampled`` stays test-observable but is not
    hashed — it is engine-specific by nature."""
    from sensor_data_pipeline___spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    frac = {lang: 0.5 for lang in langs}
    totals = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    sampled = (
        sampling.stratified_sample(docs, "lang", frac, seed=42)
        .groupBy("lang")
        .agg(F.count("*").alias("_n_sampled"))
    )
    sd = F.sqrt(F.col("n_docs") * F.lit(0.5) * F.lit(0.5))
    return (
        totals.join(sampled, "lang", "left")
        .withColumn(
            "_n_sampled", F.coalesce(F.col("_n_sampled"), F.lit(0))
        )
        .select(
            "lang",
            "n_docs",
            (
                (F.col("_n_sampled") >= 0)
                & (F.col("_n_sampled") <= F.col("n_docs"))
            ).alias("bounds_ok"),
            (
                F.abs(
                    F.col("_n_sampled")
                    - F.lit(0.5) * F.col("n_docs")
                )
                <= F.lit(4.0) * sd
            ).alias("within_4sigma"),
        )
    )


@_register(
    "cluster_stats_exact",
    # Near-dup pairs → connected components → dedup-group stats (the
    # full clustering path of the dedup pipeline: pairwise output is
    # not directly actionable, groups are), upgraded to oracle-backed
    # over the EXACT-Jaccard pair source (r14, VERDICT r13 directive
    # #7 — replaces the rows-only minhash_cluster_stats, whose seeded
    # edge set had no SQL twin): components from the star-CC
    # alternation over set_similarity_join (t=0.9) edges, oracle = the
    # recursive-CTE transitive closure (the cluster_aware_split
    # pattern), cluster-size stats over the labels. Minhash-sourced
    # clustering stays covered by minhash_accuracy_contract (pair
    # quality) + connected_components_fuzzy (CC machinery).
    f"""
    WITH RECURSIVE {_SIM_EDGES_CTE},
    edges AS (
      SELECT u, v FROM sim_e UNION SELECT v, u FROM sim_e
    ), reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
    ), comp AS (
      SELECT u AS node, least(u, min(v)) AS component
      FROM reach GROUP BY u
    ), sizes AS (
      SELECT component, count(*) AS n_docs FROM comp GROUP BY component
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n_docs) AS BIGINT) AS docs_clustered,
           CAST(max(n_docs) AS BIGINT) AS max_cluster
    FROM sizes
    """,
)
def q_cluster_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        connected_components_star,
        set_similarity_join,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = set_similarity_join(docs, threshold=0.9)
    comp = connected_components_star(pairs)
    sizes = comp.groupBy("component").agg(F.count("*").alias("n_docs"))
    return sizes.agg(
        F.count("*").alias("n_clusters"),
        F.sum("n_docs").alias("docs_clustered"),
        F.max("n_docs").alias("max_cluster"),
    )


@_register(
    "mad_outliers",
    # Robust per-metric anomaly summary (operators/anomaly.py): median /
    # MAD center-scale, outlier = |x − med| > 3 · 1.4826 · MAD. The
    # threshold derives from medians (exact interpolation, identical
    # cross-engine), so the count comparison is bit-stable — unlike a
    # mean/stddev formulation whose moments are summation-order noise.
    """
    WITH m AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ), d AS (
      SELECT e.event_type, m.med, abs(e.value - m.med) AS absdev
      FROM events e JOIN m USING (event_type)
    ), md AS (
      SELECT event_type, median(absdev) AS mad FROM d GROUP BY event_type
    )
    SELECT d.event_type,
           round(min(d.med), 4) AS med,
           round(min(md.mad), 4) AS mad,
           count(CASE WHEN d.absdev > 3 * 1.4826 * md.mad THEN 1 END)
             AS n_outliers
    FROM d JOIN md USING (event_type)
    GROUP BY d.event_type
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.anomaly import MAD_SIGMA

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("_med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "_absdev", F.abs(F.col("value") - F.col("_med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("_absdev").alias("_mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("_med"), 4).alias("med"),
            F.round(F.min("_mad"), 4).alias("mad"),
            F.count(
                F.when(
                    F.col("_absdev") > 3 * MAD_SIGMA * F.col("_mad"), 1
                )
            ).alias("n_outliers"),
        )
    )


@_register(
    "pack_sequences",
    # Training-sequence packing (concat-and-chunk): documents in a
    # deterministic order are concatenated and cut into fixed
    # token-budget chunks; each doc reports the chunk span it lands in.
    # One running sum expresses the whole layout — no stateful loop.
    # The oracle's global-order window is the correctness spec; the
    # Spark side computes the SAME cumsum sharded (range-cut doc_id,
    # partitioned local windows, offsets stitched), so no single task
    # ever holds the corpus.
    """
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(text, '\\s+')) AS n_tokens,
             sum(len(string_split_regex(text, '\\s+'))) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS start_chunk,
           CAST(floor((cum - 1) / 2048) AS BIGINT) AS end_chunk,
           CAST(floor((cum - 1) / 2048)
                - floor((cum - n_tokens) / 2048) + 1 AS BIGINT) AS n_chunks
    FROM t
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens")
    )
    return _pack_chunk_spans(spark, docs, budget=2048)


def _pack_chunk_spans(
    spark: SparkSession, docs: DataFrame, budget: int
) -> DataFrame:
    # Sharded running sum — the 100 TB formulation (a single
    # unpartitioned window moves every row to one task). doc_id ranges
    # are cut at approx-percentile bounds; each shard computes a local
    # cumsum behind a PARTITIONED window, and per-shard totals (a tiny
    # n_shards-row scalar collect, same class as the watermark pattern
    # in operators/incremental.py:38) stitch the global offsets. Any
    # order-consistent cut points give the identical global cumsum, so
    # approx bounds don't affect correctness. ``docs`` is
    # (doc_id, n_tokens) from any tokenization (whitespace in
    # pack_sequences, the learned BPE vocabulary in
    # pack_sequences_bpe).
    n_shards = _default_shards(spark)
    # doc_id is a dense surrogate key → min/max uniform cut (one cheap
    # pruned aggregate) instead of the percentile sketch. The lazy
    # localCheckpoint materializes the (id, n_tokens, shard) projection
    # during the offsets action, so the text scan + tokenization run
    # ONCE instead of once per stitching pass — ~17 bytes/row of
    # executor-local state at any scale.
    shard = _uniform_shard(docs, "doc_id", n_shards)
    sharded = docs.withColumn("_shard", shard).localCheckpoint(eager=False)
    offsets, _ = _shard_offsets(sharded, F.sum("n_tokens"))
    w = (
        Window.partitionBy("_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = sharded.withColumn(
        "cum", F.sum("n_tokens").over(w) + _lookup_literal(offsets, "_shard")
    )
    start_chunk = F.floor((F.col("cum") - F.col("n_tokens")) / budget)
    end_chunk = F.floor((F.col("cum") - 1) / budget)
    return t.select(
        "doc_id",
        "n_tokens",
        start_chunk.cast("long").alias("start_chunk"),
        end_chunk.cast("long").alias("end_chunk"),
        (end_chunk - start_chunk + 1).cast("long").alias("n_chunks"),
    )


@_register(
    "latest_event_per_user",
    # CDC-style dedup: keep each key's most recent row (row_number on a
    # (ts DESC, id DESC) window, rn = 1). THE upsert-compaction pattern
    # for changelog tables — one shuffle on the key; at scale this runs
    # per partition-of-key with AQE skew splitting, never a global sort.
    """
    SELECT user_id, event_id, event_type, round(value, 2) AS value
    FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 2).alias("value"))
    )


@_register(
    "quality_assertion_counts",
    # The dbt schema-test suite (SURVEY §5 tier 2; functions/quality.py)
    # surfaced as a query: per-rule violation counts over the readings
    # mapping of events — unique key, not-null value, accepted metric
    # values (the reference's _staging.yml contract), and the
    # warn-severity expression test from _marts.yml. Each rule is one
    # aggregate; the union is 4 rows regardless of table size.
    """
    SELECT 'unique' AS check_name, 'raw_id' AS column_name, 'error' AS severity,
           (SELECT count(*) FROM (
              SELECT event_id FROM events WHERE event_id IS NOT NULL
              GROUP BY event_id HAVING count(*) > 1)) AS violations
    UNION ALL
    SELECT 'not_null', 'metric_value', 'error',
           (SELECT count(*) FROM events WHERE value IS NULL)
    UNION ALL
    SELECT 'accepted_values', 'metric_name', 'error',
           (SELECT count(*) FROM events
            WHERE event_type IS NOT NULL
              AND event_type NOT IN ('click', 'view', 'purchase'))
    UNION ALL
    SELECT 'expression_is_true', 'metric_value >= 0', 'warn',
           (SELECT count(*) FROM events WHERE NOT (value >= 0))
    """,
)
def q_quality_assertion_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.functions import quality

    r = events_as_readings(spark, sf_dir)
    checks = [
        quality.unique(r, "raw_id"),
        quality.not_null(r, "metric_value"),
        quality.accepted_values(r, "metric_name", ["click", "view", "purchase"]),
        quality.expression_is_true(r, "metric_value >= 0", severity="warn"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.select(
        F.col("check").alias("check_name"),
        F.col("column").alias("column_name"),
        "severity",
        "violations",
    )


@_register(
    "m4_downsample",
    # M4 time-series downsampling: per (metric, time bucket) keep the
    # first/last/min/max values — the lossless-for-rendering reduction
    # every sensor dashboard runs before plotting. One partial-agg
    # shuffle keyed (metric, bucket); output size is O(buckets), input
    # size irrelevant. min_by/max_by on ts is deterministic here
    # (timestamps are unique per metric — checked at both SFs); a feed
    # with ties would key on struct(ts, id).
    """
    SELECT event_type,
           strftime(time_bucket(INTERVAL 6 HOUR, ts), '%Y-%m-%d %H:%M:%S')
             AS bucket_start,
           round(min_by(value, ts), 4) AS v_first,
           round(max_by(value, ts), 4) AS v_last,
           round(min(value), 4) AS v_min,
           round(max(value), 4) AS v_max,
           count(*) AS n
    FROM events
    GROUP BY event_type, time_bucket(INTERVAL 6 HOUR, ts)
    """,
)
def q_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.window("ts", "6 hours").alias("w"))
        .agg(
            F.round(F.min_by("value", "ts"), 4).alias("v_first"),
            F.round(F.max_by("value", "ts"), 4).alias("v_last"),
            F.round(F.min("value"), 4).alias("v_min"),
            F.round(F.max("value"), 4).alias("v_max"),
            F.count("*").alias("n"),
        )
        .select(
            "event_type",
            F.date_format("w.start", _TS_FMT_SPARK).alias("bucket_start"),
            "v_first",
            "v_last",
            "v_min",
            "v_max",
            "n",
        )
    )


@_register(
    "set_similarity_pairs",
    # Exact-threshold Jaccard self-join, prefix-filtered (AllPairs/
    # PPJoin). The oracle brute-forces all O(n^2) pairs — affordable at
    # 500 docs, and exactly what the prefix filter exists to avoid at
    # scale; equality of the two proves the filter is lossless.
    # jaccard = inter/union on integer sizes: both engines perform one
    # IEEE double division, so rounding is bit-stable cross-engine.
    """
    WITH t AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.toks, b.toks)) * 1.0 /
                 (len(a.toks) + len(b.toks)
                  - len(list_intersect(a.toks, b.toks))), 4) AS jaccard
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
          (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
          >= 0.9
    """,
)
def q_set_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import set_similarity_join

    pairs = set_similarity_join(_t(spark, sf_dir, "documents"), threshold=0.9)
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    )


@_register(
    "tfidf_top_terms",
    # TF-IDF per (doc, term): tf * ln(N/df), top-3 terms per doc with a
    # (score desc, term asc) total tiebreak. ln(N/df) evaluates on the
    # same few distinct integer ratios in both engines; JVM Math.log
    # and libm agree to the last ulp on this machine (verified), and
    # the round(...,4) boundary sits far from any 1-ulp wobble because
    # df ranges are small integers.
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS d FROM tok GROUP BY term
    ), n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.c * ln(n.n * 1.0 / df.d), 4) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.c * ln(n.n * 1.0 / df.d) DESC, tf.term ASC
             ) AS rk
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rk FROM scored WHERE rk <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("d"))
    n = docs.count()  # scalar: one job over parquet row-group stats
    score = F.col("c") * F.log(F.lit(float(n)) / F.col("d"))
    w = Window.partitionBy("doc_id").orderBy(
        score.desc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(df), "term")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", F.round(score, 4).alias("tfidf"), "rk")
    )


@_register(
    "value_histogram",
    # Equi-width 20-bin histogram of event values with data-driven
    # bounds — two passes (bounds agg, then bucket agg), the standard
    # distributed shape. The bucket formula is the identical IEEE
    # double expression in both engines, so bin assignment is
    # bit-stable; the top edge folds into the last bin.
    """
    WITH bounds AS (
      SELECT min(value) AS mn, max(value) AS mx FROM events
    )
    SELECT least(CAST(floor((value - mn) / (mx - mn) * 20) AS BIGINT), 19)
             AS bucket,
           count(*) AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi
    FROM events CROSS JOIN bounds
    GROUP BY 1
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    bucket = F.least(
        F.floor((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 20),
        F.lit(19),
    ).alias("bucket")
    return (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(bucket)
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@_register(
    "session_window_batch",
    # F.session_window in BATCH mode, cross-proved against a hand-
    # rolled gaps-and-islands reconstruction: session = events whose
    # consecutive gaps are STRICTLY below 30 min (Spark sessions are
    # end-exclusive: an event landing exactly at last_ts + gap starts a
    # NEW session, hence >= in the oracle's boundary), window end =
    # last event + gap. Proves the built-in streaming-capable operator
    # agrees with the explicit window-function formulation the
    # `sessionization` query uses.
    f"""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT user_id,
           strftime(min(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '{_TS_FMT_DUCK}')
             AS session_end,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", _TS_FMT_SPARK).alias("session_start"),
            F.date_format("w.end", _TS_FMT_SPARK).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@_register(
    "udtf_first_terms",
    # Python UDTF (Spark 4 table function API) — the one UDF-family
    # member not otherwise exercised (pandas UDF / applyInPandas /
    # mapInPandas / applyInPandasWithState all are). Capability demo
    # proven against the set-based SQL twin; the HOT path for this
    # shape stays explode()/posexplode() (JVM-side) — a row-at-a-time
    # Python table function is the slow path by design.
    """
    SELECT doc_id, pos, term
    FROM (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
             unnest(string_split(text, ' ')) AS term
      FROM documents
    )
    WHERE pos < 5
    """,
)
def q_udtf_first_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.functions.tablefns import register_first_terms

    register_first_terms(spark)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT t.doc_id, t.pos, t.term "
        "FROM _udtf_docs, LATERAL first_terms(doc_id, text, 5) t"
    )


@_register(
    "gapfill_linear_interp",
    # Gap fill by LINEAR INTERPOLATION between the nearest observed
    # neighbors (the sensor-calibration companion to forward fill):
    # prev/next observation via last/first(ignorenulls) over mirrored
    # frames, then value = prev + (next-prev) * elapsed/gap_span.
    # Leading-edge days (no prior observation) stay NULL; trailing-edge
    # days hold the last value. Both windows reuse the groupBy's
    # user_id hash partitioning — no extra shuffle; the day fractions
    # are integer-ratio doubles, so the arithmetic is bit-stable
    # cross-engine.
    """
    WITH ev AS (
      -- DECIMAL sum cast to double: bit-identical spend in both
      -- engines, so the interpolation arithmetic (identical IEEE
      -- expressions) needs NO rounding — Spark's shortest-repr
      -- round(double) and DuckDB's binary round break exact ties
      -- differently (see rolling_median_power).
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS spend
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), b AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
    spine AS (
      SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM b
    ),
    grid AS (
      SELECT u.user_id, s.d
      FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN spine s
    ),
    j AS (
      SELECT g.user_id, g.d, ev.spend
      FROM grid g LEFT JOIN ev ON g.user_id = ev.user_id AND g.d = ev.d
    ),
    n AS (
      SELECT user_id, d, spend,
             last_value(spend IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN spend IS NOT NULL THEN d END IGNORE NULLS)
               OVER wp AS pd,
             first_value(spend IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN spend IS NOT NULL THEN d END IGNORE NULLS)
               OVER wf AS nd
      FROM j
      WINDOW wp AS (PARTITION BY user_id ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY d
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
           CASE
             WHEN spend IS NOT NULL THEN spend
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv) * ((d - pd) * 1.0 / (nd - pd))
             WHEN pv IS NOT NULL THEN pv
           END AS spend_li,
           CAST(spend IS NOT NULL AS INT) AS observed
    FROM n
    """,
)
def q_gapfill_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("spend"))
    )
    spine = ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    grid = ev.select("user_id").distinct().crossJoin(F.broadcast(spine))
    j = grid.join(ev, ["user_id", "d"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("spend").isNotNull(), F.col("d"))
    pv = F.last("spend", ignorenulls=True).over(wp)
    pd_ = F.last(obs_d, ignorenulls=True).over(wp)
    nv = F.first("spend", ignorenulls=True).over(wf)
    nd = F.first(obs_d, ignorenulls=True).over(wf)
    frac = F.datediff(F.col("d"), pd_) / F.datediff(nd, pd_)
    filled = (
        F.when(F.col("spend").isNotNull(), F.col("spend"))
        .when(pv.isNotNull() & nv.isNotNull(), pv + (nv - pv) * frac)
        .when(pv.isNotNull(), pv)
    )
    return j.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        filled.alias("spend_li"),
        F.col("spend").isNotNull().cast("int").alias("observed"),
    )


@_register(
    "rolling_median_power",
    # Rolling 7-row median of daily gold power per metric — median as a
    # WINDOW aggregate over a rows frame (Spark 4 allows any aggregate
    # in a frame; DuckDB's median is the same interpolated quantile).
    # Frame is row-count-based so both engines see identical member
    # sets; round guards the even-count midpoint average.
    """
    WITH daily AS (
      -- DECIMAL sum: exact and associative, so both engines derive the
      -- bit-IDENTICAL double (a plain double avg is summation-order-
      -- dependent). No rounding anywhere in this query: Spark's
      -- round(double) rounds the SHORTEST decimal repr (Double.
      -- toString) while DuckDB rounds the full binary value, and a
      -- median of rounded values lands on exact ties they break
      -- differently. Identical doubles need no rounding to compare.
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           median(v) OVER (
             PARTITION BY event_type ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
    FROM daily
    """,
)
def q_rolling_median_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("v")
        )
    )
    # Spark rejects median() with a window frame (INVALID_WINDOW_SPEC
    # _FOR_AGGREGATION_FUNC) — build it: collect the frame, sort, take
    # the interpolated middle. The frame is <= 7 elements, so the
    # per-row array is constant-bounded.
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
    arr = F.array_sort(F.collect_list("v").over(w))
    n = F.size(arr)
    mid_odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    # DuckDB's quantile interpolation is lo + (hi-lo)*0.5, which is NOT
    # the same double as (lo+hi)/2 — match its expression exactly.
    lo_mid = F.element_at(arr, (n / 2).cast("int"))
    hi_mid = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_even = lo_mid + (hi_mid - lo_mid) * F.lit(0.5)
    med = F.when(n % 2 == 1, mid_odd).otherwise(mid_even)
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        med.alias("med7"),
    )


@_register(
    "hll_distinct_rollup",
    # Mergeable-sketch distinct rollup: per-day HLL sketches unioned
    # per metric (operators/sketches.py) — the re-aggregable
    # alternative to count(DISTINCT), which cannot be pre-aggregated.
    # The estimate itself has no SQL twin; what the oracle pins is the
    # ACCURACY CONTRACT: the unioned estimate must land within 5% of
    # the exact distinct (lgK=12 ≈ 1.6% rel. std. error), emitted as a
    # boolean the oracle states as a literal. If sketch accuracy ever
    # regresses, the Spark side emits false and the gate fails.
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           count(DISTINCT CAST(ts AS DATE)) AS n_days,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def q_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.sketches import (
        hll_daily_sketches,
        hll_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    est = hll_rollup(hll_daily_sketches(ev)).select(
        "event_type",
        "est_distinct",
        F.col("n_sketches").alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        "n_days",
        (
            F.abs(F.col("est_distinct") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )


@_register(
    "cms_heavy_hitters",
    # Count-min-sketch frequency estimates for the top-10 users by
    # exact event count. The CMS guarantee est >= exact is one-sided
    # and deterministic (xxhash64 buckets) — the oracle pins the exact
    # top-10 (total (count desc, user_id) tiebreak) plus the guarantee
    # as a literal boolean; a broken sketch (est < exact, meaning a
    # lost update) fails the gate.
    """
    SELECT user_id, count(*) AS exact_cnt, TRUE AS est_ge_exact
    FROM events GROUP BY user_id
    ORDER BY exact_cnt DESC, user_id ASC LIMIT 10
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    ev = _t(spark, sf_dir, "events")
    cms = cms_build(ev, "user_id")
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
        .limit(10)
    )
    est = cms_estimate(cms, top.select("user_id"), "user_id")
    return top.join(est, "user_id").select(
        "user_id",
        "exact_cnt",
        (F.col("est_count") >= F.col("exact_cnt")).alias("est_ge_exact"),
    )


@_register(
    "equi_depth_histogram",
    # Equi-DEPTH (quantile) histogram: ntile(10) over a total order —
    # the complement of value_histogram's equi-width bins. The (value,
    # event_id) tiebreak makes bucket assignment deterministic at tied
    # values. The oracle's global ntile window is the spec; the Spark
    # side derives the identical buckets from sharded global ranks
    # (range-cut value, partitioned windows, stitched offsets) so no
    # single task ever sorts the full table.
    """
    WITH t AS (
      SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS bucket
      FROM events
    )
    SELECT bucket, count(*) AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi
    FROM t GROUP BY bucket
    """,
)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sharded exact ntile — the scale path its round-2 comment promised.
    # ntile(k) is a pure function of the row's GLOBAL rank and N, so:
    # range-shard on value (ties stay intra-shard), row_number behind a
    # partitioned window, stitch ranks with per-shard count offsets,
    # then apply ntile's first-(N%k)-buckets-get-one-extra formula
    # directly. Bit-identical to the global window, no single-task sort.
    k = 10
    ev = _t(spark, sf_dir, "events").select("value", "event_id")
    # value is a real-valued (potentially skewed) column → keep the
    # percentile cut; the lazy localCheckpoint makes the offsets pass
    # the ONLY parquet scan — the final rank/window stage replays the
    # materialized (value, event_id, _shard) projection from executor
    # storage instead of re-scanning.
    sharded = ev.withColumn(
        "_shard", _range_shard(ev, "value", _default_shards(spark))
    ).localCheckpoint(eager=False)
    offsets, n_rows = _shard_offsets(sharded, F.count("*"))
    w = Window.partitionBy("_shard").orderBy("value", "event_id")
    rank = F.row_number().over(w) + _lookup_literal(offsets, "_shard")
    bucket = _ntile_from_rank("_r", n_rows, k)
    return (
        sharded.withColumn("_r", rank)
        .select("value", bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@_register(
    "scd2_purchase_values",
    # Slowly-changing-dimension type 2 from an event stream: each
    # purchase opens a version valid [ts, next ts); the latest version
    # per user is open-ended and flagged current. One lead() over the
    # user partition — the groupBy shuffle is the only exchange, and
    # the dimension build is incremental at scale (only users with new
    # events need their tail version reclosed, same affected-key
    # pattern as the reference's affected-day recompute,
    # mart_daily_power.sql:36-46).
    f"""
    SELECT user_id,
           strftime(ts, '{_TS_FMT_DUCK}') AS valid_from,
           strftime(lead(ts) OVER w, '{_TS_FMT_DUCK}') AS valid_to,
           round(value, 4) AS value,
           CAST(lead(ts) OVER w IS NULL AS INT) AS is_current
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_purchase_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("valid_from"),
        F.date_format(nxt, _TS_FMT_SPARK).alias("valid_to"),
        F.round("value", 4).alias("value"),
        nxt.isNull().cast("int").alias("is_current"),
    )


@_register(
    "psi_value_drift",
    # Population-stability-index drift detection: split the feed at
    # its midpoint timestamp, histogram each half over SHARED global
    # bins (broadcast bounds, same two-pass shape as value_histogram),
    # PSI = sum((p-q)*ln(p/q)) with Laplace-smoothed shares so empty
    # bins stay finite. One scan feeds both halves (conditional aggs
    # on the bucket groupBy) — no second pass over the data. Shares
    # are ratios of exact integers and ln evaluates on the identical
    # doubles in both engines, so the statistic is bit-stable.
    """
    WITH bounds AS (
      -- midpoint in DOUBLE epoch seconds: interval division truncates
      -- differently across engines at sub-second precision
      SELECT min(value) AS mn, max(value) AS mx,
             (min(epoch(ts)) + max(epoch(ts))) / 2 AS mid
      FROM events
    ),
    bucketed AS (
      SELECT event_type,
             least(CAST(floor((value - mn) / (mx - mn) * 10) AS BIGINT), 9)
               AS bucket,
             CAST(epoch(ts) < mid AS INT) AS early
      FROM events CROSS JOIN bounds
    ),
    counts AS (
      SELECT event_type, bucket,
             sum(early) AS n_a, sum(1 - early) AS n_b
      FROM bucketed GROUP BY event_type, bucket
    ),
    shares AS (
      SELECT event_type, bucket,
             (n_a + 1) * 1.0 / (sum(n_a) OVER (PARTITION BY event_type) + 10)
               AS p,
             (n_b + 1) * 1.0 / (sum(n_b) OVER (PARTITION BY event_type) + 10)
               AS q
      FROM counts
    )
    SELECT event_type, round(sum((p - q) * ln(p / q)), 6) AS psi,
           count(*) AS n_buckets
    FROM shares GROUP BY event_type
    """,
)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        ((F.min(_epoch("ts")) + F.max(_epoch("ts"))) / 2).alias("mid"),
    )
    bucket = F.least(
        F.floor((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 10),
        F.lit(9),
    )
    early = (_epoch("ts") < F.col("mid")).cast("int")
    counts = (
        ev.crossJoin(F.broadcast(bounds))
        .select("event_type", bucket.alias("bucket"), early.alias("early"))
        .groupBy("event_type", "bucket")
        .agg(
            F.sum("early").alias("n_a"),
            F.sum(1 - F.col("early")).alias("n_b"),
        )
    )
    wt = Window.partitionBy("event_type")
    p = (F.col("n_a") + 1) / (F.sum("n_a").over(wt) + 10)
    q = (F.col("n_b") + 1) / (F.sum("n_b").over(wt) + 10)
    return (
        counts.select("event_type", (p - q).alias("_d"), F.log(p / q).alias("_l"))
        .groupBy("event_type")
        .agg(
            F.round(F.sum(F.col("_d") * F.col("_l")), 6).alias("psi"),
            F.count("*").alias("n_buckets"),
        )
    )


@_register(
    "set_except_all_customers",
    # Multiset EXCEPT ALL (exceptAll): per-element multiplicity is
    # count_left - count_right, floored at zero — the bag semantics
    # `subtract`/EXCEPT DISTINCT discards. Emitted as (key, surviving
    # multiplicity) so the oracle is order-free.
    """
    WITH l AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000),
         r AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT k AS custkey, count(*) AS n
    FROM (SELECT k FROM l EXCEPT ALL SELECT k FROM r)
    GROUP BY k
    """,
)
def q_set_except_all_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    left = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    right = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return left.exceptAll(right).groupBy("custkey").agg(F.count("*").alias("n"))


@_register(
    "set_intersect_all_customers",
    # Multiset INTERSECT ALL (intersectAll): per-element multiplicity
    # is min(count_left, count_right).
    """
    WITH l AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000),
         r AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT k AS custkey, count(*) AS n
    FROM (SELECT k FROM l INTERSECT ALL SELECT k FROM r)
    GROUP BY k
    """,
)
def q_set_intersect_all_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    left = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    right = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return left.intersectAll(right).groupBy("custkey").agg(F.count("*").alias("n"))


@_register(
    "full_outer_click_purchase",
    # FULL OUTER join of two per-user aggregates: users who only click,
    # only purchase, or both — the reconciliation shape (which side is
    # missing?) that semi/anti joins can't express in one pass.
    # coalesce(-1) keys the null side deterministically.
    """
    WITH c AS (
      SELECT user_id, count(*) AS n_clicks FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ), p AS (
      SELECT user_id, count(*) AS n_purchases FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT coalesce(c.user_id, p.user_id) AS user_id,
           coalesce(n_clicks, 0) AS n_clicks,
           coalesce(n_purchases, 0) AS n_purchases,
           CASE WHEN c.user_id IS NULL THEN 'purchase_only'
                WHEN p.user_id IS NULL THEN 'click_only'
                ELSE 'both' END AS presence
    FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
    """,
)
def q_full_outer_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_clicks"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchases"))
    )
    j = c.join(p, "user_id", "full_outer")
    # note: join on the USING column keeps one coalesced user_id
    return j.select(
        "user_id",
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.when(F.col("n_clicks").isNull(), "purchase_only")
        .when(F.col("n_purchases").isNull(), "click_only")
        .otherwise("both")
        .alias("presence"),
    )


@_register(
    "daily_new_vs_returning",
    # Growth accounting: per day, users active for the FIRST time vs
    # returning, plus the running distinct-user total — the cumulative
    # distinct count expressed scalably: distinct (user, day) activity,
    # min-day per user (one agg), then a day-level rollup + running
    # sum, never a per-day distinct scan.
    """
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), firsts AS (
      SELECT user_id, min(d) AS first_d FROM activity GROUP BY user_id
    ), daily AS (
      SELECT a.d,
             CAST(sum(CASE WHEN a.d = f.first_d THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
             CAST(sum(CASE WHEN a.d > f.first_d THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_returning
      FROM activity a JOIN firsts f USING (user_id)
      GROUP BY a.d
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, n_new, n_returning,
           CAST(sum(n_new) OVER (ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumulative_users
    FROM daily
    """,
)
def q_daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    activity = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    firsts = activity.groupBy("user_id").agg(F.min("d").alias("first_d"))
    daily = (
        activity.join(firsts, "user_id")
        .groupBy("d")
        .agg(
            F.sum((F.col("d") == F.col("first_d")).cast("int")).alias("n_new"),
            F.sum((F.col("d") > F.col("first_d")).cast("int")).alias(
                "n_returning"
            ),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_new",
        "n_returning",
        F.sum("n_new").over(w).alias("cumulative_users"),
    )


@_register(
    "cohort_retention",
    # Cohort retention matrix: users grouped by first-active month,
    # counted per month-offset of later activity. Month arithmetic is
    # integer (year*12+month), identical in both engines — no interval
    # truncation hazards. Two shuffles (per-user min, then cohort
    # cell agg); the matrix is O(months²) rows regardless of input.
    """
    WITH activity AS (
      SELECT DISTINCT user_id,
             year(ts) * 12 + month(ts) AS ym
      FROM events
    ), firsts AS (
      SELECT user_id, min(ym) AS cohort_ym FROM activity GROUP BY user_id
    )
    -- (ym-1) arithmetic: with ym = y*12 + m (m in 1..12), plain ym/12
    -- would label December into the NEXT year
    SELECT CAST((cohort_ym - 1) / 12 AS INT) AS cohort_year,
           (cohort_ym - 1) % 12 + 1 AS cohort_month,
           ym - cohort_ym AS month_offset,
           count(*) AS n_active
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY cohort_ym, ym
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", (F.year("ts") * 12 + F.month("ts")).alias("ym")
    ).distinct()
    firsts = activity.groupBy("user_id").agg(F.min("ym").alias("cohort_ym"))
    return (
        activity.join(firsts, "user_id")
        .groupBy("cohort_ym", "ym")
        .agg(F.count("*").alias("n_active"))
        .select(
            ((F.col("cohort_ym") - 1) / 12).cast("int").alias("cohort_year"),
            ((F.col("cohort_ym") - 1) % 12 + 1).alias("cohort_month"),
            (F.col("ym") - F.col("cohort_ym")).alias("month_offset"),
            "n_active",
        )
    )


@_register(
    "fuzzy_name_pairs",
    # Blocked fuzzy entity matching: distinct part names, blocked on
    # their noun token (never an unblocked cross join), verified with
    # classic Levenshtein <= 2. The block key bounds candidate buckets
    # the same way LSH bands do for minhash — fuzzy matching at scale
    # is blocking + cheap verify, not a distance matrix. Both engines
    # implement the same Wagner-Fischer edit distance.
    """
    WITH names AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS noun
      FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM names a JOIN names b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        _t(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("noun", F.split("p_name", " ").getItem(1))
    )
    a = names.select(F.col("p_name").alias("name_a"), "noun")
    b = names.select(F.col("p_name").alias("name_b"), "noun")
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "noun")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist <= 2)
        .select("name_a", "name_b", dist.alias("dist"))
    )


@_register(
    "embedding_dim_variance",
    # Per-dimension moments of the embedding matrix (dead/collapsed
    # dimension detection): posexplode → one agg keyed by dimension.
    # Cross-engine exactness via 26-bit FIXED-POINT quantization:
    # floor(x·2²⁶) is the identical integer in both engines (float→
    # decimal casts are NOT portable — Spark goes through shortest-repr
    # strings), integer Σq/Σq² are order-independent, and the final
    # double arithmetic is the same expression on identical inputs.
    # Quantization biases the variance by O(2⁻²⁶) — far below any
    # signal a dead-dimension check needs. O(dim) output.
    """
    WITH dims AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(floor(unnest(embedding) * 67108864.0) AS BIGINT) AS q
      FROM embeddings
    ),
    stats AS (
      SELECT dim, count(*) AS n, sum(q) AS sq, sum(q * q) AS sqq
      FROM dims GROUP BY dim
    )
    -- variance numerator n·Σq² − (Σq)² in EXACT integer arithmetic
    -- (HUGEINT here, DECIMAL(38,0) on the Spark side). Once the
    -- numerator exceeds 2^53 (it does past ~1k rows: ~6e21 at 2000
    -- rows) the integer→double conversion itself rounds, and the two
    -- engines' big-integer→double paths differ in the last ulp — so
    -- var_x is display-rounded to 12 dp (1e-12 absolute, six orders
    -- above ulp noise; the integer moments stay exact)
    SELECT dim, n,
           (sq * 1.0 / n) / 67108864.0 AS mean_x,
           ROUND(CAST(CAST(n AS HUGEINT) * sqq - CAST(sq AS HUGEINT) * sq
                      AS DOUBLE)
                 / n / n / 4503599627370496.0, 12) AS var_x
    FROM stats
    """,
)
def q_embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    scale = 67108864.0  # 2^26
    q = F.floor(F.col("x").cast("double") * scale).cast("long")
    dims = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", q.alias("q")
    )
    stats = dims.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    mean_q = F.col("sq") * 1.0 / F.col("n")
    var_num = (
        F.col("n").cast("decimal(38,0)") * F.col("sqq")
        - F.col("sq").cast("decimal(38,0)") * F.col("sq")
    ).cast("double")
    return stats.select(
        "dim",
        "n",
        (mean_q / scale).alias("mean_x"),
        F.round(
            var_num / F.col("n") / F.col("n") / F.lit(scale * scale), 12
        ).alias("var_x"),
    )


@_register(
    "asof_next_click",
    # FORWARD as-of join: for each purchase, the user's first click in
    # the following hour (the mirror of asof_last_purchase's backward
    # lookup). Equi-blocked on user_id, the time range bounds the
    # per-user candidate fan-out, min_by picks the earliest — no
    # window over the joined product. Purchases with no such click are
    # kept (left join semantics) with NULLs.
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
    )
    SELECT purchase_id,
           p.user_id,
           strftime(pts, '{_TS_FMT_DUCK}') AS purchase_ts,
           strftime(min(cts), '{_TS_FMT_DUCK}') AS next_click_ts
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND cts > pts AND cts <= pts + INTERVAL 1 HOUR
    GROUP BY purchase_id, p.user_id, pts
    """,
)
def q_asof_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("pts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("cts")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("cts") > F.col("pts"))
        & (F.col("cts") <= F.col("pts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return j.groupBy("purchase_id", "user_id", "pts").agg(
        F.min("cts").alias("_next")
    ).select(
        "purchase_id",
        "user_id",
        F.date_format("pts", _TS_FMT_SPARK).alias("purchase_ts"),
        F.date_format("_next", _TS_FMT_SPARK).alias("next_click_ts"),
    )


@_register(
    "revenue_share_by_nation",
    # Percent-of-total (ratio_to_report): each nation's share of global
    # revenue via a windowed grand total over the aggregated rows —
    # the second pass runs over |nations| rows, not the fact table.
    # DECIMAL sums keep the shares bit-stable cross-engine.
    """
    WITH rev AS (
      SELECT n.n_name AS nation,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(30, 10))) AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT nation,
           round(revenue, 2) AS revenue,
           round(revenue / sum(revenue) OVER (), 6) AS share
    FROM rev
    """,
)
def q_revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    amt = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,10)"
    )
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(amt).cast("double").alias("revenue"))
    )
    w = Window.partitionBy()
    return rev.select(
        "nation",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("share"),
    )


@_register(
    "embedding_component_stats",
    # Higher-order functions over the embedding array — filter/
    # array_max/array_min run JVM-side per row with NO explode, no
    # shuffle: the row count never changes. Only order-free exact ops
    # (counts, float extremes) — elementwise float comparisons are
    # bit-identical cross-engine, unlike float sums.
    """
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           len(embedding) AS dim,
           list_max(embedding) AS c_max,
           list_min(embedding) AS c_min
    FROM embeddings
    """,
)
def q_embedding_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.size("embedding").alias("dim"),
        F.array_max("embedding").alias("c_max"),
        F.array_min("embedding").alias("c_min"),
    )


@_register(
    "interarrival_histogram",
    # Sampling-rate health: distribution of per-metric inter-arrival
    # gaps, bucketed to whole seconds (capped at 1h). Gaps in DOUBLE
    # epoch seconds (identical cross-engine; interval arithmetic is
    # not portable at sub-second precision). The lag runs inside the
    # metric partition — one shuffle, reused by the rollup.
    """
    WITH gaps AS (
      SELECT event_type,
             epoch(ts) - lag(epoch(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS dt
      FROM events
    )
    SELECT event_type,
           least(CAST(floor(dt) AS BIGINT), 3600) AS gap_s,
           count(*) AS n
    FROM gaps WHERE dt IS NOT NULL
    GROUP BY event_type, least(CAST(floor(dt) AS BIGINT), 3600)
    """,
)
def q_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    e = _epoch("ts")
    dt = e - F.lag(e).over(w)
    return (
        ev.select("event_type", dt.alias("dt"))
        .filter(F.col("dt").isNotNull())
        .groupBy(
            "event_type",
            F.least(F.floor("dt").cast("long"), F.lit(3600)).alias("gap_s"),
        )
        .agg(F.count("*").alias("n"))
    )


@_register(
    "text_normalization",
    # Text normalization (the first stage of every LLM-data pipeline):
    # lowercase → trim → collapse whitespace runs. The md5 of the
    # normalized text proves both engines produce BYTE-IDENTICAL
    # output — a hash mismatch catches any regex/locale divergence
    # that visual spot checks miss.
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
             AS norm_hash,
           length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
             AS norm_len
    FROM documents
    """,
)
def q_text_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length(norm).alias("norm_len"),
    )


@_register(
    "top_bigrams",
    # Bigram mining: adjacent token pairs via a zip of the token array
    # with its own tail (no per-index slicing — the arrays_zip shape
    # measured ~3x faster than slice-in-transform), exploded and
    # counted; top-25 with a total (count desc, bigram asc) tiebreak.
    """
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ), bigrams AS (
      SELECT unnest(list_zip(t, list_slice(t, 2, len(t)))) AS z FROM toks
    ), named AS (
      -- list_zip yields ANONYMOUS-field structs: extract positionally
      SELECT struct_extract(z, 1) || ' ' || struct_extract(z, 2) AS bigram
      FROM bigrams
      WHERE struct_extract(z, 2) IS NOT NULL
    )
    SELECT bigram, count(*) AS n FROM named
    GROUP BY bigram
    ORDER BY n DESC, bigram ASC LIMIT 25
    """,
)
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = F.split("text", " ")
    tail = F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0)))
    pairs = F.arrays_zip(t.alias("a"), tail.alias("b"))
    return (
        docs.select(F.explode(pairs).alias("z"))
        .filter(F.col("z.b").isNotNull())
        .select(
            F.concat_ws(" ", F.col("z.a"), F.col("z.b")).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(25)
    )


@_register(
    "pit_join_click_version",
    # POINT-IN-TIME join: each click is joined to the purchase-value
    # version that was valid AT click time — the feature-store
    # correctness shape (training rows must see the feature value as
    # of the event, never a later one; leakage = joining current
    # values). Versions come from the SCD2 build (lead() intervals);
    # the join is equi-blocked on user_id with half-open interval
    # containment, so candidate fan-out per click is the user's
    # version count, never the full history.
    f"""
    WITH v AS (
      SELECT user_id, value AS ver_value, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id AS click_id, user_id, ts AS cts
      FROM events WHERE event_type = 'click'
    )
    SELECT click_id, c.user_id,
           strftime(cts, '{_TS_FMT_DUCK}') AS click_ts,
           round(ver_value, 4) AS value_asof
    FROM c JOIN v
      ON c.user_id = v.user_id
     AND cts >= valid_from
     AND (valid_to IS NULL OR cts < valid_to)
    """,
)
def q_pit_join_click_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("value").alias("ver_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).alias("valid_to"),
        )
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("cts"),
    )
    j = c.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("cts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("cts") < F.col("valid_to"))),
    )
    return j.select(
        "click_id",
        "user_id",
        F.date_format("cts", _TS_FMT_SPARK).alias("click_ts"),
        F.round("ver_value", 4).alias("value_asof"),
    )


@_register(
    "column_profile_orders",
    # Data-profiling staple: per-column row/null/distinct counts in
    # ONE pass — count(col) counts non-nulls, count(DISTINCT col) the
    # values; emitting one row per column via a stacked projection
    # keeps the scan single (no per-column rescans).
    """
    SELECT 'o_custkey' AS col, count(*) AS n_rows,
           count(*) - count(o_custkey) AS n_null,
           count(DISTINCT o_custkey) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority) FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate) FROM orders
    """,
)
def q_column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]
    agg = o.agg(
        F.count("*").alias("_n"),
        *[F.count(c).alias(f"_nn_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"_nd_{c}") for c in cols],
    )
    # one aggregation job, then a tiny driver-side unpivot of the
    # single stats row into one row per column
    profiles = [
        agg.select(
            F.lit(c).alias("col"),
            F.col("_n").alias("n_rows"),
            (F.col("_n") - F.col(f"_nn_{c}")).alias("n_null"),
            F.col(f"_nd_{c}").alias("n_distinct"),
        )
        for c in cols
    ]
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionByName(p)
    return out


@_register(
    "benford_first_digit",
    # Benford first-digit distribution of order totals — the classic
    # fabricated-data screen. First digit via floor(x/10^floor(log10 x))
    # on positive values: log10/power evaluate on identical doubles in
    # both engines (verified on this testdata; an exact power-of-ten
    # total could straddle the floor — none exist in TPC-H-style money
    # values, which carry cents).
    """
    SELECT CAST(floor(o_totalprice
                      / power(10, floor(log10(o_totalprice)))) AS BIGINT)
             AS digit,
           count(*) AS n
    FROM orders WHERE o_totalprice > 0
    GROUP BY 1
    """,
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("long")
    return o.groupBy(digit.alias("digit")).agg(F.count("*").alias("n"))


@_register(
    "inverted_index_sample",
    # Inverted-index build (the retrieval-side complement of TF-IDF):
    # term → ordered posting list of doc ids. Postings are emitted as
    # a comma-joined string (order-pinned, hashable cross-engine);
    # restricted to the 20 highest-df terms with a (df desc, term)
    # total tiebreak so the output is bounded. At scale the posting
    # list per term is the shuffle group — hot stopword terms are the
    # skew case, handled by doc-id-range sharding of the posting.
    """
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), ranked AS (
      SELECT term, count(*) AS df,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS postings,
             row_number() OVER (ORDER BY count(*) DESC, term ASC) AS rk
      FROM tok GROUP BY term
    )
    SELECT term, df, postings FROM ranked WHERE rk <= 20
    """,
)
def q_inverted_index_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    idx = tok.groupBy("term").agg(
        F.count("*").alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("postings"),
    )
    # top-k via orderBy+limit, which compiles to TakeOrderedAndProject
    # (per-partition top-20 then a 20-row merge on the driver) — no
    # unpartitioned row_number window over the vocabulary.
    return (
        idx.orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(20)
        .select("term", "df", "postings")
    )


@_register(
    "snapshot_diff_orders",
    # CDC snapshot diff: derive the change feed between two table
    # versions (insert/update/delete per key) — what a warehouse
    # without Delta/Iceberg table history feeds its MERGE (M1/M2) with.
    # The "new" snapshot is derived deterministically in-query: keys
    # divisible by 97 deleted, totals of keys divisible by 7 bumped,
    # keys divisible by 53 re-inserted under shifted ids.
    """
    WITH o AS (
      SELECT o_orderkey, o_totalprice FROM orders
    ), n AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS o_totalprice
      FROM o WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice
      FROM o WHERE o_orderkey % 53 = 0
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_totalprice <> n.o_totalprice THEN 'update'
           END AS change_type
    FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    WHERE (o.o_orderkey IS NULL OR n.o_orderkey IS NULL
           OR o.o_totalprice <> n.o_totalprice)
    """,
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.incremental import table_diff

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    survivors = o.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.5
        ).otherwise(F.col("o_totalprice")),
    )
    inserts = o.filter(F.col("o_orderkey") % 53 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"), "o_totalprice"
    )
    new = survivors.unionByName(inserts)
    return table_diff(o, new, ["o_orderkey"], compare_cols=["o_totalprice"])


@_register(
    "deterministic_stratified_sample",
    # Content-keyed fixed-size sampling: the 20 docs per language with
    # the smallest md5(salt|doc_id). Unlike seeded sample()/sampleBy()
    # (which follow partition layout), this sample is identical across
    # engines, layouts, cluster sizes and reruns — md5 is bit-identical
    # in Spark and DuckDB, so the oracle pins the EXACT sampled rows.
    """
    WITH r AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('sample-v1|' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC) AS rn
      FROM documents
    )
    SELECT lang, doc_id FROM r WHERE rn <= 20
    """,
)
def q_deterministic_stratified_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators.sampling import (
        deterministic_sample,
    )

    docs = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    return deterministic_sample(docs, "lang", "doc_id", k=20)


@_register(
    "bloom_semi_join_lineitem",
    # Bloom runtime pre-filter ahead of a semi join: lineitems of
    # urgent finished orders. The oracle is the PLAIN semi join — the
    # bloom must be output-invisible (no false negatives; false
    # positives die in the real join), only the shuffle volume changes.
    """
    SELECT l.l_returnflag,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    WHERE l.l_orderkey IN (
      SELECT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
    )
    GROUP BY l.l_returnflag
    """,
)
def q_bloom_semi_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.sketches import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    urgent = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    )
    matched = bloom_semi_join(
        li, urgent.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey"
    )
    return matched.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@_register(
    "variant_props_extract",
    # Schema-free semi-structured extraction via Spark 4's VARIANT
    # type: parse_json once into the binary variant encoding, pull
    # typed paths with variant_get — no schema declared up front
    # (the from_json complement, see json_extract_props). Also counts
    # JSON keys per row (json_object_keys / json_keys) to prove the
    # document structure survives the round-trip.
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_total,
           CAST(sum(len(json_keys(props))) AS BIGINT) AS total_keys
    FROM events
    GROUP BY event_type
    """,
)
def q_variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(
            F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
        ).alias("k_total"),
        F.sum(F.size(F.expr("json_object_keys(props)"))).alias("total_keys"),
    )


#: Shared transitive-closure oracle of BOTH CC algorithms over the
#: fuzzy-pairs edge set — one copy so the edge predicate and closure
#: can never drift between the propagation and star registrations.
_CC_FUZZY_ORACLE = """
    WITH RECURSIVE names AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS noun
      FROM part
    ), e AS (
      SELECT a.p_name AS a, b.p_name AS b
      FROM names a JOIN names b
        ON a.noun = b.noun AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    ), und AS (
      SELECT a AS u, b AS v FROM e UNION SELECT b AS u, a AS v FROM e
    ), reach(node, r) AS (
      SELECT u, u FROM und
      UNION
      SELECT reach.node, und.v FROM reach JOIN und ON reach.r = und.u
    )
    SELECT node, min(r) AS component FROM reach GROUP BY node
    """


@_register(
    "connected_components_fuzzy",
    # Near-dup clustering made oracle-HASH-verifiable: the min-label
    # propagation loop (operators/dedup.py:connected_components, the
    # step that turns pairwise near-dup output into dedup groups) is
    # checked against DuckDB's recursive-CTE transitive closure over
    # the SAME deterministic edge set (the blocked Levenshtein pairs of
    # fuzzy_name_pairs). component = min reachable node on both sides.
    _CC_FUZZY_ORACLE,
)
def q_connected_components_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import connected_components

    pairs = QUERIES["fuzzy_name_pairs"](spark, sf_dir).select("name_a", "name_b")
    return connected_components(pairs, "name_a", "name_b")


@_register(
    "approx_distinct_accuracy",
    # The HLL accuracy CONTRACT as an oracle-checkable row (the same
    # boolean-pinning trick as cms_heavy_hitters): exact distincts must
    # match bit-for-bit, and approx_count_distinct must land within
    # 3×rsd = 15% of them (rsd=0.05 is only a ~1-sigma bound, so a 5%
    # envelope could legitimately flip on a testdata regeneration or an
    # HLL++ implementation change; 3 sigma is stable for a correct
    # sketch while a broken/re-seeded one still trips it). Kept OUT of
    # the first-50 driver gate window regardless.
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_distinct,
           TRUE AS within_3rsd
    FROM events
    GROUP BY event_type
    """,
)
def q_approx_distinct_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact_distinct"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("_est"),
        )
        .select(
            "event_type",
            "exact_distinct",
            (
                F.abs(F.col("_est") - F.col("exact_distinct"))
                <= 3 * 0.05 * F.col("exact_distinct")
            ).alias("within_3rsd"),
        )
    )


@_register(
    "approx_percentile_accuracy",
    # approx_percentile's rank-error contract, oracle-pinned: the
    # approximate p50/p95 of order totals must land between the exact
    # neighboring percentiles (p45..p55 / p90..p99) — the GK-sketch
    # epsilon at accuracy 10000 is far tighter than that window, so a
    # correct implementation always emits TRUE.
    """
    SELECT count(*) AS n_orders,
           TRUE AS p50_in_range,
           TRUE AS p95_in_range
    FROM orders
    """,
)
def q_approx_percentile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    agg = o.agg(
        F.count("*").alias("n_orders"),
        F.percentile_approx("o_totalprice", 0.5, 10_000).alias("_a50"),
        F.percentile_approx("o_totalprice", 0.95, 10_000).alias("_a95"),
        F.expr("percentile(o_totalprice, 0.45)").alias("_lo50"),
        F.expr("percentile(o_totalprice, 0.55)").alias("_hi50"),
        F.expr("percentile(o_totalprice, 0.90)").alias("_lo95"),
        F.expr("percentile(o_totalprice, 0.99)").alias("_hi95"),
    )
    return agg.select(
        "n_orders",
        F.col("_a50").between(F.col("_lo50"), F.col("_hi50")).alias("p50_in_range"),
        F.col("_a95").between(F.col("_lo95"), F.col("_hi95")).alias("p95_in_range"),
    )


@_register(
    "sql_api_nation_revenue",
    # The SQL front door: the same engine surface through
    # spark.sql(...) over registered views (readers.register_views) —
    # what a reference user who writes SQL, not DataFrames, runs. The
    # text below is dialect-portable and executes VERBATIM on both
    # engines, so this also pins dialect compatibility for the shared
    # core (joins, aggregation, round, order).
    """
    SELECT n.n_name AS nation,
           count(DISTINCT c.c_custkey) AS n_customers,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_sql_api_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    readers.register_views(spark, sf_dir)
    return spark.sql(ORACLE["sql_api_nation_revenue"])


@_register(
    "trigram_repetition",
    # Repetition scoring — the corpus-filtering signal that catches
    # boilerplate/spam (low distinct-trigram ratio = repetitive junk).
    # Reuses the dedup module's shifted-slice shingle machinery
    # (operators/dedup.py:_zipped_windows — one slice per OFFSET, not
    # per window); DuckDB builds the same trigram list with a
    # list_transform lambda, pinning the construction cross-engine.
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tri
      FROM t
    )
    SELECT doc_id,
           len(tri) AS n_trigrams,
           len(list_distinct(tri)) AS n_distinct,
           round(1 - len(list_distinct(tri)) * 1.0 / len(tri), 4) AS repetition
    FROM g WHERE len(tri) > 0
    """,
)
def q_trigram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import _zipped_windows

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    tri = F.transform(
        _zipped_windows(toks, 3),
        lambda s: F.concat_ws(" ", s["t0"], s["t1"], s["t2"]),
    )
    out = docs.select(
        "doc_id",
        F.size(tri).alias("n_trigrams"),
        F.size(F.array_distinct(tri)).alias("n_distinct"),
    )
    return out.filter(F.col("n_trigrams") > 0).select(
        "doc_id",
        "n_trigrams",
        "n_distinct",
        F.round(
            1 - F.col("n_distinct").cast("double") / F.col("n_trigrams"), 4
        ).alias("repetition"),
    )


@_register(
    "content_pattern_profile",
    # Regex pattern profiling over the corpus (the pre-filter pass a
    # data pipeline runs before PII scrubbing): per-language totals of
    # digit runs, capitalized tokens, and long words. regexp_count on
    # the Spark side, len(regexp_extract_all) in DuckDB — simple
    # character-class patterns chosen to behave identically in Java
    # regex and RE2.
    """
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text, '[0-9]+')))
                AS BIGINT) AS n_digit_runs,
           CAST(sum(len(regexp_extract_all(text, '\\b[A-Z][a-z]+')))
                AS BIGINT) AS n_capitalized,
           CAST(sum(len(regexp_extract_all(text, '[a-z]{10,}')))
                AS BIGINT) AS n_long_words
    FROM documents
    GROUP BY lang
    """,
)
def q_content_pattern_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.sum(F.regexp_count("text", F.lit(r"[0-9]+"))).alias("n_digit_runs"),
        F.sum(F.regexp_count("text", F.lit(r"\b[A-Z][a-z]+"))).alias(
            "n_capitalized"
        ),
        F.sum(F.regexp_count("text", F.lit(r"[a-z]{10,}"))).alias("n_long_words"),
    )


@_register(
    "ewma_daily_value",
    # Batch twin of streaming/pipeline.py's ewma_drift_stream: per
    # event type, an EWMA (alpha=0.3, adjust-free recursion) over the
    # day-ordered daily means. The recursion inputs are rounded to 6dp
    # on BOTH sides first, and both engines then evaluate the identical
    # IEEE expression 0.3*x + 0.7*e in the same order, so the fold is
    # bit-reproducible across engines; DuckDB replays it as a
    # recursive CTE over row_number-chained days.
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             ROUND(avg(value), 6) AS daily_mean
      FROM events GROUP BY 1, 2
    ), numbered AS (
      SELECT event_type, d, daily_mean,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
      FROM daily
    ), rec AS (
      SELECT event_type, d, daily_mean, rn, daily_mean AS ewma
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.d, n.daily_mean, n.rn,
             0.3 * n.daily_mean + 0.7 * r.ewma
      FROM numbered n
      JOIN rec r ON n.event_type = r.event_type AND n.rn = r.rn + 1
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, daily_mean,
           ROUND(ewma, 6) AS ewma
    FROM rec
    """,
)
def q_ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential per-key recurrence as a batch operator: daily-mean
    EWMA per event type via ``applyInPandas`` (the engine's documented
    escape hatch for genuinely order-dependent semantics — a linear
    recurrence has no built-in window form).

    Scale notes: groups are keyed by event_type (entity id at
    production scale), each group's series arrives as one Arrow batch
    and folds in O(days); state never leaves the executor. For series
    too long for one batch, the recurrence is linear
    (e_out = A*e_in + B per shard), so the shard-and-stitch scheme of
    pack_sequences applies: fold shards independently, then stitch
    with one pass over the O(shards) coefficients.
    """
    import pandas as pd

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.round(F.avg("value"), 6).alias("daily_mean"))

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        ewma = []
        e = None
        for x in pdf["daily_mean"]:
            # same op order as the oracle's recursive step
            e = x if e is None else 0.3 * x + 0.7 * e
            ewma.append(e)
        pdf["ewma"] = ewma
        return pdf

    folded = daily.groupBy("event_type").applyInPandas(
        fold, "event_type string, d date, daily_mean double, ewma double"
    )
    return folded.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "daily_mean",
        F.round("ewma", 6).alias("ewma"),
    )


@_register(
    "weighted_sample_docs",
    # Efraimidis-Spirakis weighted sampling with md5-derived uniforms
    # (operators/sampling.py:weighted_sample): 100 docs selected with
    # probability proportional to n_chars. The EXACT winning set is
    # cross-engine reproducible, so the oracle replays the selection;
    # the float sort key itself is excluded from the output (pow() may
    # differ in the last ulp between libm and the JVM — rank flips
    # would need adjacent keys within ~1e-16, far tighter than the
    # ~1e-4 order-statistic gaps at this corpus size).
    """
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             POWER(
               (CAST(('0x' || substr(md5('wsample-v1' || '|' ||
                                         CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) + 1) / 4294967296.0,
               1.0 / n_chars) AS wkey
      FROM documents WHERE n_chars > 0
    )
    ORDER BY wkey DESC, doc_id ASC LIMIT 100
    """,
)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "n_chars", 100).select(
        "doc_id", "lang", "n_chars"
    )


@_register(
    "train_test_contamination",
    # Decontamination check (the C4/Dolma-style pre-training hygiene
    # pass): a train document is CONTAMINATED if any of its word
    # 8-grams also appears in the test split. Splits are the
    # content-stable md5 buckets of hash_split — deterministic, so the
    # whole check is oracle-replayable. Grams are deduped per (doc,
    # gram) BEFORE the join: the join key space is distinct grams, and
    # membership (not multiplicity) defines contamination.
    """
    WITH s AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('split-v1' || '|' ||
                                      CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10000 AS b,
             string_split(lower(text), ' ') AS w
      FROM documents
    ), labeled AS (
      SELECT doc_id,
             CASE WHEN b < 8000 THEN 'train'
                  WHEN b < 9000 THEN 'val'
                  ELSE 'test' END AS split, w
      FROM s
    ), grams AS (
      SELECT DISTINCT doc_id, split, array_to_string(w[i:i+7], ' ') AS g
      FROM labeled, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
    )
    SELECT
      (SELECT count(*) FROM labeled WHERE split = 'train') AS n_train,
      (SELECT count(*) FROM labeled WHERE split = 'test') AS n_test,
      (SELECT count(DISTINCT tr.doc_id)
       FROM grams tr JOIN grams te ON tr.g = te.g
       WHERE tr.split = 'train' AND te.split = 'test')
        AS n_contaminated_train
    """,
)
def q_train_test_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: explode → per-doc-distinct grams → equi-join keyed
    on the gram — the shuffle key is content, never a cross product;
    test-side grams are tiny after distinct (broadcast candidate). At
    100 TB the test side is the fixed benchmark suite: build its
    distinct-gram set once, broadcast or bloom-prefilter the train
    scan against it (operators/sketches.py:bloom_semi_join is exactly
    that shape)."""
    from sensor_data_pipeline___spark.operators.sampling import hash_split

    n = 8
    docs = hash_split(_t(spark, sf_dir, "documents"), "doc_id")
    w = F.split(F.lower("text"), " ", -1)
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, and slice(w, 0, n)
    # then throws INVALID_PARAMETER_VALUE.START — so a doc with fewer
    # than n words must map to an explicitly empty index array (the
    # oracle's generate_series(1, len-7) already yields no rows there).
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = docs.select(
        "doc_id",
        "split",
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, n)))
        ).alias("g"),
    ).distinct()
    tr = grams.filter(F.col("split") == "train").select("doc_id", "g")
    te = grams.filter(F.col("split") == "test").select("g").distinct()
    n_contam = (
        tr.join(te, "g", "left_semi")
        .agg(F.count_distinct("doc_id").alias("n_contaminated_train"))
    )
    counts = docs.groupBy().agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("n_test"),
    )
    return counts.crossJoin(n_contam)


@_register(
    "redaction_stats",
    # The ACTION stage paired with content_pattern_profile's detection:
    # apply the ordered redaction rules (hex runs -> <HEX>, long digit
    # runs -> <ID>, remaining numerics -> <NUM>) and measure the
    # per-language redaction volume. regexp_replace chains behave
    # identically for these character-class patterns in Java regex and
    # DuckDB's RE2 ('g' flag = Spark's replace-all default).
    """
    WITH r AS (
      SELECT lang, len(text) AS orig_n_chars,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '[0-9a-fA-F]{16,}', '<HEX>', 'g'),
                 '[0-9]{7,}', '<ID>', 'g'),
               '[0-9]+', '<NUM>', 'g') AS redacted
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(orig_n_chars) AS BIGINT) AS total_chars_before,
           CAST(sum(len(redacted)) AS BIGINT) AS total_chars_after,
           CAST(sum(len(redacted) - len(replace(redacted, '<NUM>', ''))) / 5
                AS BIGINT) AS n_num_tokens
    FROM r GROUP BY lang
    """,
)
def q_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.text import redact

    docs = redact(_t(spark, sf_dir, "documents"))
    num_len = F.length("text") - F.length(F.replace(F.col("text"), F.lit("<NUM>")))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("orig_n_chars").alias("total_chars_before"),
        F.sum(F.length("text")).alias("total_chars_after"),
        (F.sum(num_len) / 5).cast("long").alias("n_num_tokens"),
    )


@_register(
    "shard_assignment",
    # Deterministic global shuffle for training export (operators/
    # export.py:shard_assign): shard = first-32-md5-bits mod 8, pos =
    # rank of the full 128-bit hash within the shard. The ENTIRE
    # permutation is content-keyed, so the oracle replays it exactly —
    # the property that makes the training data order reproducible
    # across engines and reruns. BIGINT-pinned per the round-3 rule.
    """
    WITH h AS (
      SELECT doc_id,
             md5('shuffle-v1' || '|' || CAST(doc_id AS VARCHAR)) AS hex
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substr(hex, 1, 8)) AS BIGINT) % 8
                AS BIGINT) AS shard,
           CAST(row_number() OVER (
                  PARTITION BY CAST(('0x' || substr(hex, 1, 8)) AS BIGINT) % 8
                  ORDER BY hex ASC, doc_id ASC)
                AS BIGINT) AS pos
    FROM h
    """,
)
def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.export import shard_assign

    docs = _t(spark, sf_dir, "documents")
    return shard_assign(docs, "doc_id", 8).select("doc_id", "shard", "pos")


@_register(
    "mixture_sample_docs",
    # Exact-quota source-mixture rebalancing (operators/export.py:
    # mixture_sample): per-language quotas en=120/zh=50/es=50/de=40/
    # fr=30 filled with the content-smallest hashes. Deterministic, so
    # the oracle replays the exact winning set; under-quota strata
    # keep everything (fr has 64 >= 30 at sf0.01, but the semantics is
    # pinned by the LEAST(quota, stratum size) shape regardless).
    """
    WITH q(lang, quota) AS (
      VALUES ('en', 120), ('zh', 50), ('es', 50), ('de', 40), ('fr', 30)
    ), r AS (
      SELECT d.doc_id, d.lang, d.source, q.quota,
             row_number() OVER (
               PARTITION BY d.lang
               ORDER BY md5('mixture-v1' || '|' || CAST(d.doc_id AS VARCHAR)) ASC,
                        d.doc_id ASC) AS rn
      FROM documents d JOIN q ON d.lang = q.lang
    )
    SELECT doc_id, lang, source FROM r WHERE rn <= quota
    """,
)
def q_mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.export import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    quotas = {"en": 120, "zh": 50, "es": 50, "de": 40, "fr": 30}
    return mixture_sample(docs, "lang", "doc_id", quotas).select(
        "doc_id", "lang", "source"
    )


@_register(
    "corpus_pipeline_stats",
    # The FULL pre-training corpus pipeline, end to end, as ONE
    # oracle-hash-verifiable composition: raw → exact dedup (min-id
    # representative per md5(text)) → quality gate (token count in
    # [20, 90], avg token length <= 10 — language-neutral Gopher-style
    # bounds) → content-stable train split → decontamination (drop
    # train docs sharing a word-8-gram with the test split) → exact-
    # quota language mixture → shard assignment. Every stage is
    # deterministic (the module-standard md5 recipes), so DuckDB
    # replays the ENTIRE pipeline and the per-stage counts hash-match.
    # Each single-stage operator has its own query elsewhere; this one
    # pins that the stages COMPOSE (representative choice feeds the
    # split, the split feeds decontamination, ...).
    """
    WITH d AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
    ), q AS (
      SELECT doc_id, lang, text FROM d
      WHERE len(string_split(text, ' ')) BETWEEN 20 AND 90
        AND length(replace(text, ' ', ''))
            / len(string_split(text, ' '))::DOUBLE <= 10.0
    ), s AS (
      SELECT doc_id, lang, text,
             CAST(('0x' || substr(md5('split-v1' || '|' ||
                                      CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10000 AS b
      FROM q
    ), train AS (SELECT * FROM s WHERE b < 8000
    ), test AS (SELECT * FROM s WHERE b >= 9000
    ), trw AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM train
    ), tew AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM test
    ), tg AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
      FROM trw, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
    ), eg AS (
      SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
      FROM tew, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
    ), clean AS (
      SELECT * FROM train WHERE doc_id NOT IN (
        SELECT DISTINCT doc_id FROM tg JOIN eg USING (g))
    ), mq(lang, quota) AS (
      VALUES ('en', 60), ('zh', 20), ('es', 20), ('de', 15), ('fr', 10)
    ), mixed AS (
      SELECT doc_id FROM (
        SELECT c.doc_id, mq.quota,
               row_number() OVER (
                 PARTITION BY c.lang
                 ORDER BY md5('mixture-v1' || '|' ||
                              CAST(c.doc_id AS VARCHAR)) ASC,
                          c.doc_id ASC) AS rn
        FROM clean c JOIN mq ON c.lang = mq.lang) WHERE rn <= quota
    ), sh AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5('shuffle-v1' || '|' ||
                                      CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 8 AS shard
      FROM mixed
    )
    SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
    UNION ALL SELECT 'exact_dedup', CAST(count(*) AS BIGINT) FROM d
    UNION ALL SELECT 'quality', CAST(count(*) AS BIGINT) FROM q
    UNION ALL SELECT 'train_split', CAST(count(*) AS BIGINT) FROM train
    UNION ALL SELECT 'decontaminated', CAST(count(*) AS BIGINT) FROM clean
    UNION ALL SELECT 'mixture', CAST(count(*) AS BIGINT) FROM mixed
    UNION ALL SELECT 'nonempty_shards', CAST(count(*) AS BIGINT) FROM sh
    """,
)
def q_corpus_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape per stage: dedup is one shuffle keyed on md5(text)
    (constant-width); the quality gate and split are narrow codegen
    projections; decontamination shuffles distinct grams (test side is
    tiny after distinct — broadcast/bloom at 100 TB, see
    train_test_contamination); mixture is a per-language top-k window;
    shard assignment is a narrow projection. No stage widens beyond
    its single-operator twin — composition adds no new shuffles."""
    from sensor_data_pipeline___spark.operators.export import (
        mixture_sample,
        shard_assign,
    )
    from sensor_data_pipeline___spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # Representative = min-doc_id row per content hash, via min_by
    # aggregation rather than a row_number window: the aggregate
    # partially combines map-side, so duplicate-heavy corpora collapse
    # BEFORE the exchange (the window shuffles and sorts every row).
    # Checkpointed: the union's seven stage-count branches are
    # independent consumers — without materialization each branch
    # replays the dedup (and everything above it) from the scan. Same
    # for `clean` below (the 8-gram join, the heaviest stage).
    reps = (
        docs.groupBy(F.md5("text").alias("_h"))
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "text"), F.col("doc_id")
            ).alias("_r")
        )
        .select("_r.doc_id", "_r.lang", "_r.text")
        .localCheckpoint(eager=True)
    )
    toks = F.split(F.col("text"), " ")
    nt = F.size(toks)
    atl = F.length(F.regexp_replace(F.col("text"), " ", "")) / nt.cast(
        "double"
    )
    quality = reps.filter((nt >= 20) & (nt <= 90) & (atl <= 10.0))
    labeled = hash_split(quality, "doc_id")
    train = labeled.filter(F.col("split") == "train")
    test = labeled.filter(F.col("split") == "test")

    n = 8
    wl = F.split(F.lower("text"), " ", -1)
    # grams are keyed by multi-arg xxhash64 over zipped shifted slices
    # — the _hashed_shingles recipe from operators/dedup.py (n slices
    # per DOCUMENT, not one per window: the per-window slice inside an
    # interpreted higher-order function measured ~10x slower here).
    # The distinct + semi join shuffle 8-byte longs instead of
    # ~400-byte gram strings. Membership (hence every stage count) is
    # identical to string keys barring a 64-bit collision between a
    # train-only and a test-only gram — odds ~1e-9 at millions of
    # grams; the string-keyed twin (train_test_contamination) stays
    # exactly oracle-replayable. Short docs: _zipped_windows clamps its
    # width to 0 → no windows (the oracle's generate_series yields no
    # rows there).
    from sensor_data_pipeline___spark.operators.dedup import _zipped_windows

    gram_hashes = F.transform(
        _zipped_windows(wl, n),
        lambda s: F.xxhash64(*[s[f"t{i}"] for i in range(n)]),
    )

    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", F.explode(gram_hashes).alias("g")
        ).distinct()

    te_g = grams(test).select("g").distinct()
    contaminated = (
        grams(train).join(te_g, "g", "left_semi").select("doc_id").distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )
    mixed = mixture_sample(
        clean, "lang", "doc_id",
        {"en": 60, "zh": 20, "es": 20, "de": 15, "fr": 10},
    )
    sharded = shard_assign(mixed, "doc_id", 8)

    def stage(name: str, df: DataFrame, col=None) -> DataFrame:
        agg = (col if col is not None else F.count("*")).cast("long")
        return df.groupBy().agg(agg.alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )

    parts = [
        stage("raw", docs),
        stage("exact_dedup", reps),
        stage("quality", quality),
        stage("train_split", train),
        stage("decontaminated", clean),
        stage("mixture", mixed),
        stage("nonempty_shards", sharded, F.countDistinct("shard")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@_register(
    "collapse_repeat_tokens",
    # Intra-document repetition scrub (operators/text.py:
    # collapse_repeats): consecutive duplicate tokens collapse to one.
    # The md5 of the REWRITTEN text pins the exact transformation, not
    # just the counts; DuckDB's 1-based indexed lambda mirrors Spark's
    # 0-based one.
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), c AS (
      SELECT doc_id, toks,
             list_filter(toks, (t, i) -> i = 1 OR t != toks[i - 1]) AS kept
      FROM w
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens_before,
           CAST(len(kept) AS BIGINT) AS n_tokens_after,
           md5(array_to_string(kept, ' ')) AS collapsed_md5
    FROM c
    """,
)
def q_collapse_repeat_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.text import collapse_repeats

    out = collapse_repeats(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens_before").cast("long").alias("n_tokens_before"),
        F.col("n_tokens_after").cast("long").alias("n_tokens_after"),
        F.md5("text").alias("collapsed_md5"),
    )


@_register(
    "char_entropy_quality",
    # Character-entropy quality proxy (operators/text.py:char_entropy):
    # Shannon entropy over the per-doc character distribution, the
    # cheap degenerate-text detector. Both engines use the identical
    # sufficient-statistic form log2(L) - sum(c*log2(c))/L over exact
    # integer counts; 6dp rounding absorbs float-sum order effects
    # (the repo-standard tolerance for libm-vs-JVM transcendentals).
    """
    WITH cnts AS (
      SELECT doc_id,
             list_transform(
               list_distinct(string_split(text, '')),
               d -> len(list_filter(string_split(text, ''), c -> c = d))
             ) AS cl,
             len(string_split(text, '')) AS L
      FROM documents
    )
    SELECT doc_id,
           CAST(len(cl) AS BIGINT) AS distinct_chars,
           round(log2(L::DOUBLE)
                 - list_sum(list_transform(cl, c -> c::DOUBLE * log2(c::DOUBLE)))
                   / L::DOUBLE, 6) AS char_entropy
    FROM cnts
    """,
)
def q_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.text import char_entropy

    out = char_entropy(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "distinct_chars",
        F.round("char_entropy", 6).alias("char_entropy"),
    )


@_register(
    "winsorize_event_values",
    # Percentile clamp (operators/anomaly.py:winsorize): per-type
    # [p01, p99] exact interpolated bounds (Spark `percentile` ≡
    # DuckDB `quantile_cont`, the percentile_prices parity), values
    # outside pulled to the boundary. Per-type audit: rows clamped on
    # each side, the bounds, and the treated mean.
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.01)::DOUBLE AS lo,
             quantile_cont(value, 0.99)::DOUBLE AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped_low,
           CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped_high,
           round(min(b.lo), 6) AS lo_bound,
           round(max(b.hi), 6) AS hi_bound,
           round(avg(least(greatest(e.value, b.lo), b.hi)), 6)
             AS winsorized_mean
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.anomaly import winsorize

    ev = _t(spark, sf_dir, "events")
    w = winsorize(ev, "event_type", "value")
    return w.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("value") < F.col("_lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamped_low"),
        F.sum(F.when(F.col("value") > F.col("_hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamped_high"),
        F.round(F.min("_lo"), 6).alias("lo_bound"),
        F.round(F.max("_hi"), 6).alias("hi_bound"),
        F.round(F.avg("value_w"), 6).alias("winsorized_mean"),
    )


@_register(
    "chunk_documents_stats",
    # Overlapping token-window chunking (operators/text.py:
    # chunk_documents, 32-token chunks / stride 24): the embedding-prep
    # and context-bounding step. The md5 of every chunk's text pins the
    # exact segmentation (boundaries, overlap, ragged tail, the
    # one-chunk floor for short docs), not just chunk counts.
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), c AS (
      SELECT doc_id, toks,
             CAST(floor((greatest(len(toks) - 32, 0) + 23) / 24) AS INT) + 1
               AS n
      FROM w
    ), e AS (
      SELECT doc_id, j AS chunk_ix,
             array_to_string(toks[j*24+1 : j*24+32], ' ') AS chunk_text,
             len(toks[j*24+1 : j*24+32]) AS chunk_n_tokens
      FROM c, UNNEST(generate_series(0, n - 1)) AS t(j)
    )
    SELECT doc_id,
           CAST(chunk_ix AS BIGINT) AS chunk_ix,
           md5(chunk_text) AS chunk_md5,
           CAST(chunk_n_tokens AS BIGINT) AS chunk_n_tokens
    FROM e
    """,
)
def q_chunk_documents_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.text import chunk_documents

    out = chunk_documents(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("chunk_ix").cast("long").alias("chunk_ix"),
        F.md5("chunk_text").alias("chunk_md5"),
        F.col("chunk_n_tokens").cast("long").alias("chunk_n_tokens"),
    )


@_register(
    "embedding_quantization_stats",
    # int8 scalar quantization (operators/similarity.py:
    # quantize_embeddings): per-vector scale = max|x|/127 and
    # q = floor(x/scale + 0.5) — floor(x+0.5), never round(), because
    # half-way rounding is where engines disagree and index bytes must
    # be reproducible. The oracle replays the EXACT quantized codes
    # (md5 of the code string) and pins the reconstruction-error
    # contract |x − q·scale| ≤ scale/2 as a literal boolean.
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS e,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0
               AS scale
      FROM embeddings
    ), c AS (
      SELECT vec_id, e, scale,
             CASE WHEN scale = 0
                  THEN list_transform(e, x -> 0)
                  ELSE list_transform(e, x -> CAST(floor(x / scale + 0.5)
                                                   AS INT)) END AS qv
      FROM q
    )
    SELECT vec_id,
           round(scale, 9) AS scale_r,
           md5(array_to_string(qv, ',')) AS codes_md5,
           CAST(list_max(list_transform(qv, x -> abs(x))) AS BIGINT)
             AS max_code,
           list_max(
             list_transform(
               list_zip(e, qv),
               p -> abs(p[1] - p[2] * scale)
             )
           ) <= scale / 2.0 + 1e-12 AS err_within_half_step
    FROM c
    """,
)
def q_embedding_quantization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.similarity import (
        _to_double,
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qd = quantize_embeddings(emb).join(
        emb.select("vec_id", _to_double(F.col("embedding")).alias("e")),
        "vec_id",
    )
    err = F.array_max(
        F.zip_with(
            F.col("e"), F.col("qvec"),
            lambda x, qv: F.abs(x - qv.cast("double") * F.col("scale")),
        )
    )
    return qd.select(
        "vec_id",
        F.round("scale", 9).alias("scale_r"),
        F.md5(F.array_join(F.col("qvec").cast("array<string>"), ",")).alias(
            "codes_md5"
        ),
        F.array_max(
            F.transform(F.col("qvec"), lambda x: F.abs(x))
        ).cast("long").alias("max_code"),
        (err <= F.col("scale") / 2.0 + 1e-12).alias("err_within_half_step"),
    )


@_register(
    "duplicated_gram_fraction",
    # Corpus-level repeated-text signal (the span-dedup complement of
    # document-level dedup, after Lee et al.'s dedup-training-data
    # observation that repetition is sub-document): for each doc, the
    # fraction of its DISTINCT word-8-grams that also occur in some
    # OTHER document. High fraction = boilerplate/template documents
    # that exact/near dedup miss because the wrapper differs. Grams
    # hash to 8-byte keys in Spark (membership-identical to the
    # oracle's strings, the corpus composite's argument); the scale
    # shape is explode → distinct → document-frequency agg → semi join
    # of each doc's grams against the duplicated-gram set.
    """
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), g AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS gram
      FROM w, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
    ), df AS (
      SELECT gram, count(*) AS n_docs FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_grams,
           round(sum(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE, 6) AS shared_fraction
    FROM g JOIN df USING (gram)
    GROUP BY g.doc_id
    """,
)
def q_duplicated_gram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import _zipped_windows

    n = 8
    docs = _t(spark, sf_dir, "documents")
    t = F.split(F.lower("text"), " ", -1)
    grams = (
        docs.select(
            "doc_id",
            F.explode(
                F.transform(
                    _zipped_windows(t, n),
                    lambda s: F.xxhash64(*[s[f"t{i}"] for i in range(n)]),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    df_counts = grams.groupBy("gram").agg(F.count("*").alias("n_docs"))
    return (
        grams.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_grams"),
            F.round(
                F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
                / F.count("*").cast("double"),
                6,
            ).alias("shared_fraction"),
        )
    )


@_register(
    "histogram_sketch_quantiles",
    # Mergeable distribution sketch (operators/sketches.py:
    # histogram_sketch/merge/quantile): per-(type, day) 64-bin counts
    # roll up by integer addition, quantiles read from the cumulative.
    # Being integer counts under a fixed binning, the WHOLE path is
    # exactly replayable in SQL (hash-verified), and the ±2-bin-width
    # accuracy contract vs exact quantile_cont is pinned as literal
    # booleans — both flavors of oracle at once (HLL/CMS get only the
    # contract). Bounds = global min/max, the two-pass
    # broadcast-bounds pattern of value_histogram.
    """
    WITH bounds AS (
      SELECT min(value)::DOUBLE AS lo, max(value)::DOUBLE AS hi FROM events
    ), binned AS (
      SELECT e.event_type,
             CAST(least(greatest(floor((e.value - b.lo)
                                       / ((b.hi - b.lo) / 64)), 0), 63)
                  AS INT) AS bin
      FROM events e, bounds b
      WHERE e.value IS NOT NULL
    ), sk AS (
      SELECT event_type, bin, count(*) AS cnt
      FROM binned GROUP BY event_type, bin
    ), cum AS (
      SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS c,
             sum(cnt) OVER (PARTITION BY event_type) AS total
      FROM sk
    ), est AS (
      SELECT event_type,
             min(CASE WHEN c >= 0.5 * total THEN bin END) AS b50,
             min(CASE WHEN c >= 0.95 * total THEN bin END) AS b95
      FROM cum GROUP BY event_type
    ), exact AS (
      SELECT event_type,
             quantile_cont(value, 0.5)::DOUBLE AS x50,
             quantile_cont(value, 0.95)::DOUBLE AS x95
      FROM events GROUP BY event_type
    )
    SELECT est.event_type,
           round(b.lo + (est.b50 + 0.5) * (b.hi - b.lo) / 64, 6) AS p50_est,
           round(b.lo + (est.b95 + 0.5) * (b.hi - b.lo) / 64, 6) AS p95_est,
           abs(b.lo + (est.b50 + 0.5) * (b.hi - b.lo) / 64 - exact.x50)
             <= 2 * (b.hi - b.lo) / 64 AS p50_within_2bins,
           abs(b.lo + (est.b95 + 0.5) * (b.hi - b.lo) / 64 - exact.x95)
             <= 2 * (b.hi - b.lo) / 64 AS p95_within_2bins
    FROM est, bounds b
    JOIN exact ON est.event_type = exact.event_type
    """,
)
def q_histogram_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.sketches import (
        histogram_merge,
        histogram_quantile,
        histogram_sketch,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.to_date(F.col("ts"))
    )
    lo, hi = (
        ev.agg(F.min("value").cast("double"), F.max("value").cast("double"))
        .first()
    )
    n_bins, width = 64, None
    width = (hi - lo) / 64
    daily = histogram_sketch(ev, ["event_type", "day"], "value", lo, hi, n_bins)
    merged = histogram_merge(daily, ["event_type"])
    # both quantiles from ONE cumulative pass (list form) — no
    # re-aggregation, no quantile-to-quantile join
    ests = histogram_quantile(merged, ["event_type"], [0.5, 0.95], lo, hi, n_bins)
    exact = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("x50"),
        F.percentile("value", 0.95).alias("x95"),
    )
    j = ests.join(exact, "event_type")
    return j.select(
        "event_type",
        F.round("q50_est", 6).alias("p50_est"),
        F.round("q95_est", 6).alias("p95_est"),
        (F.abs(F.col("q50_est") - F.col("x50")) <= 2 * width).alias(
            "p50_within_2bins"
        ),
        (F.abs(F.col("q95_est") - F.col("x95")) <= 2 * width).alias(
            "p95_within_2bins"
        ),
    )


@_register(
    "hard_negative_mining",
    # Contrastive-training negative mining (operators/similarity.py:
    # hard_negatives): per anchor, the top-5 most-similar DIFFERENT-
    # label vectors — boundary-adjacent negatives, not random ones.
    # Same elementwise double math / 6dp-before-rank / id tiebreak as
    # similarity_topk; the label predicate rides the join.
    """
    WITH q AS (
      SELECT vec_id AS query_id, label AS qlabel,
             list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id < 8
    ), c AS (
      SELECT vec_id, label AS clabel,
             list_transform(embedding, x -> x::DOUBLE) AS ce
      FROM embeddings
    ), sims AS (
      SELECT q.query_id, c.vec_id, c.clabel AS negative_label,
             round(list_dot_product(qe, ce) /
                   (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                   6) AS cosine
      FROM q CROSS JOIN c
      WHERE q.query_id <> c.vec_id AND q.qlabel <> c.clabel
    )
    SELECT query_id, vec_id, negative_label, cosine,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rnk
      FROM sims
    ) WHERE rnk <= 5
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 8)
    return hard_negatives(anchors, emb, k=5)


@_register(
    "hard_negative_mining_blocked",
    # The BLOCKED miner (operators/similarity.py: hard_negatives_ivf)
    # at nprobe == ncells: every cell is probed, so the result is
    # bit-identical to brute force REGARDLESS of centroid float jitter
    # or cell assignment — which is exactly what makes the scale path
    # hash-verifiable against the same SQL twin (the approximate
    # nprobe < ncells setting is covered by recall-floor tests, the
    # IVF accuracy-contract posture). Exercises the full blocked plan:
    # centroid init, map-side max_by assignment, probe ranking, and
    # the cell-equi-join with the label-mismatch predicate.
    """
    WITH q AS (
      SELECT vec_id AS query_id, label AS qlabel,
             list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id < 8
    ), c AS (
      SELECT vec_id, label AS clabel,
             list_transform(embedding, x -> x::DOUBLE) AS ce
      FROM embeddings
    ), sims AS (
      SELECT q.query_id, c.vec_id, c.clabel AS negative_label,
             round(list_dot_product(qe, ce) /
                   (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                   6) AS cosine
      FROM q CROSS JOIN c
      WHERE q.query_id <> c.vec_id AND q.qlabel <> c.clabel
    )
    SELECT query_id, vec_id, negative_label, cosine,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rnk
      FROM sims
    ) WHERE rnk <= 5
    """,
)
def q_hard_negative_mining_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.similarity import (
        hard_negatives_ivf,
        ivf_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 8)
    cents = ivf_centroids(emb, ncells=8, iters=0)
    return hard_negatives_ivf(anchors, emb, cents, k=5, nprobe=8)


_ZORDER_ORACLE = """
    WITH bounds AS (
      SELECT min(value)::DOUBLE AS lo, max(value)::DOUBLE AS hi FROM events
    ), q AS (
      SELECT CAST(least(greatest(floor((e.value - b.lo)
                                  / ((b.hi - b.lo) / 256)), 0), 255)
                  AS BIGINT) AS qa,
             CAST(least(greatest(floor(hour(e.ts) / (24.0 / 256)), 0), 255)
                  AS BIGINT) AS qb,
             e.value, hour(e.ts) AS hr
      FROM events e, bounds b
    ), z AS (
      SELECT ((((qa >> 0) & 1) << 0) | (((qb >> 0) & 1) << 1) |
             (((qa >> 1) & 1) << 2) | (((qb >> 1) & 1) << 3) |
             (((qa >> 2) & 1) << 4) | (((qb >> 2) & 1) << 5) |
             (((qa >> 3) & 1) << 6) | (((qb >> 3) & 1) << 7) |
             (((qa >> 4) & 1) << 8) | (((qb >> 4) & 1) << 9) |
             (((qa >> 5) & 1) << 10) | (((qb >> 5) & 1) << 11) |
             (((qa >> 6) & 1) << 12) | (((qb >> 6) & 1) << 13) |
             (((qa >> 7) & 1) << 14) | (((qb >> 7) & 1) << 15)) AS zval, value, hr
      FROM q
    )
    SELECT CAST(zval >> 12 AS INT) AS z_bucket,
           count(*) AS n_events,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           CAST(min(hr) AS INT) AS min_hour,
           CAST(max(hr) AS INT) AS max_hour
    FROM z GROUP BY z_bucket
"""


@_register(
    "zorder_curve_stats",
    # Z-order layout key (operators/layout.py): the Morton interleave
    # of (quantized value, quantized hour-of-day) that cluster_write
    # range-partitions files by. The curve's defining property — each
    # coarse z-prefix bucket covers a small RECTANGLE of the
    # (value, hour) plane, not a full-domain stripe — is what the
    # per-bucket min/max columns exhibit and the hash check pins. Bit
    # math is a static shift/mask/or chain in both engines (the
    # lsh_bucket constant-unroll pattern); bounds are the two-pass
    # broadcast global min/max (the histogram_sketch posture).
    _ZORDER_ORACLE,
)
def q_zorder_curve_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.warehouse import quantize, zvalue

    ev = _t(spark, sf_dir, "events")
    lo, hi = (
        ev.agg(F.min("value").cast("double"), F.max("value").cast("double"))
        .first()
    )
    za = quantize(F.col("value"), lo, hi, bits=8)
    zb = quantize(F.hour("ts").cast("double"), 0.0, 24.0, bits=8)
    z = zvalue(za, zb, bits=8)
    return (
        ev.select(
            F.shiftright(z, 12).cast("int").alias("z_bucket"),
            "value",
            F.hour("ts").alias("hr"),
        )
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
            F.min("hr").cast("int").alias("min_hour"),
            F.max("hr").cast("int").alias("max_hour"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted-index exact-mode twins (VERDICT r7 directive #1): the two
# flagship index lifecycles — minhash dedup probe and IVF mining — each
# driven through the REAL on-disk store (built to a fresh tmp dir inside
# the query, the only way a (spark, sf_dir) callable can carry state)
# at settings where the approximate machinery provably reduces to an
# exact, engine-independent answer, so the brute-force SQL twin is a
# valid hash oracle. The production approximate settings stay under
# recall contracts in tests — the same graduation pattern that made
# ann_topk_{ivf,lsh}_exact hash-verifiable in r7.
# ---------------------------------------------------------------------------

_CROSS_JACCARD_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                    for i in generate_series(1, len(t)-2)]) AS s
      FROM toks WHERE len(t) >= 3
    )
    SELECT b.doc_id AS new_id, c.doc_id AS corpus_id,
           round(len(list_intersect(b.s, c.s))::DOUBLE
                 / len(list_distinct(b.s || c.s)), 6) AS jaccard
    FROM sh b JOIN sh c ON b.doc_id % 4 = 0 AND c.doc_id % 4 <> 0
    WHERE round(len(list_intersect(b.s, c.s))::DOUBLE
                / len(list_distinct(b.s || c.s)), 6) >= 0.8
    """


@_register(
    "near_dup_probe_exact",
    # The persisted-minhash-index ingest probe (operators/dedup.py:
    # save_minhash_index / near_dup_against_index) in exact-recall
    # mode: 64 bands of 1 row each means a cross pair is a candidate
    # iff the signatures agree in >= 1 of 64 positions — miss
    # probability (1-J)^64 <= 2e-45 at J >= 0.8, zero missed
    # candidates on this corpus (asserted by the exact twin itself).
    # Candidates are then verified with EXACT n-gram Jaccard
    # (ngram_jaccard_pairs), which is engine-independent — so the
    # DuckDB brute cross-batch Jaccard join is a valid hash oracle for
    # the ENTIRE index lifecycle: store write (signatures + bands +
    # meta), stored-geometry batch signing, broadcast band probe,
    # bucket-guard arithmetic, and the verification joins. Production
    # geometry (8x8 bands, bucket cap 200) keeps its probabilistic
    # recall contract in tests/test_dedup_more.py.
    _CROSS_JACCARD_ORACLE,
)
def q_near_dup_probe_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    # deterministic per-(run, sf_dir) path, REUSED (overwritten) across
    # invocations within the app — see _run_scoped_store_path
    path = _run_scoped_store_path(spark, "mh_probe_exact", sf_dir)
    dedup.save_minhash_index(
        corpus, path, num_hashes=64, bands=64, shingle_n=3
    )
    # cache_store=False: this query saves-then-probes ONCE per
    # invocation, so the probe cache's eager base materialization
    # would be a pure extra pass (the cache pays off in the per-batch
    # streaming loop, not in one-shot probes)
    cand = dedup.near_dup_against_index(
        spark, path, batch, jaccard_threshold=0.0,
        max_bucket=1_000_000_000, cache_store=False,
    )
    pairs = cand.select(
        F.col("new_id").alias("doc_a"), F.col("corpus_id").alias("doc_b")
    )
    exact = dedup.ngram_jaccard_pairs(docs, pairs, shingle_n=3)
    return exact.select(
        F.col("doc_a").alias("new_id"),
        F.col("doc_b").alias("corpus_id"),
        F.round("jaccard", 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.8)


@_register(
    "hard_negative_mining_indexed_exact",
    # The persisted-IVF-store miner (operators/similarity.py:
    # save_ivf_index / hard_negatives_ivf_indexed) at nprobe == ncells
    # on a full-precision store with the label persisted via
    # extra_cols: every cell is probed, so the partition-pruned store
    # scan + label read-from-footers + cell-search ranking must be
    # bit-identical to brute-force mining — the same SQL twin as
    # hard_negative_mining verifies the INDEXED path end-to-end
    # (store build, centroid reload, probe collect, PartitionFilters
    # scan, label-mismatch ranking). Approximate nprobe keeps its
    # recall floor in tests/test_pandas_similarity.py.
    """
    WITH q AS (
      SELECT vec_id AS query_id, label AS qlabel,
             list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id < 8
    ), c AS (
      SELECT vec_id, label AS clabel,
             list_transform(embedding, x -> x::DOUBLE) AS ce
      FROM embeddings
    ), sims AS (
      SELECT q.query_id, c.vec_id, c.clabel AS negative_label,
             round(list_dot_product(qe, ce) /
                   (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
                   6) AS cosine
      FROM q CROSS JOIN c
      WHERE q.query_id <> c.vec_id AND q.qlabel <> c.clabel
    )
    SELECT query_id, vec_id, negative_label, cosine,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rnk
      FROM sims
    ) WHERE rnk <= 5
    """,
)
def q_hard_negative_mining_indexed_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators.similarity import (
        hard_negatives_ivf_indexed,
        save_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # deterministic run-scoped reused path — see _run_scoped_store_path
    path = _run_scoped_store_path(spark, "ivf_mine_exact", sf_dir)
    save_ivf_index(emb, path, ncells=8, iters=1, extra_cols=("label",))
    anchors = emb.filter(F.col("vec_id") < 8)
    return hard_negatives_ivf_indexed(spark, path, anchors, k=5, nprobe=8)


@_register(
    "segment_dedup_text",
    # The TRANSFORM half of the C4/RefinedWeb boilerplate recipe
    # (operators/text.py:drop_repeated_segments), whole-output
    # verified (VERDICT r7 directive #3): every segment occurring
    # globally more than once is dropped and each document reassembled
    # from its survivors in order — the oracle hashes the REASSEMBLED
    # text (md5, keeping gate rows narrow — the user_event_sequences
    # whole-output pattern), so segmentation, global census,
    # keep/drop flags, in-order reassembly, and the empty-doc filter
    # are all on the hash-verified path. Segmentation is pinned
    # engine-identical by segment_frequency_stats (the measurement
    # half); reassembly here is string_agg ORDER BY seg_idx ==
    # sort_array(collect_list(struct(seg_idx, segment))).
    """
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), segs AS (
      SELECT doc_id, g.i AS seg_idx,
             array_to_string(list_slice(toks, g.i*10+1, g.i*10+10), ' ')
               AS segment
      FROM base, unnest(range(CAST(ceil(len(toks)/10.0) AS BIGINT))) AS g(i)
    ), freq AS (
      SELECT segment, count(*) AS n FROM segs GROUP BY segment
    ), flagged AS (
      SELECT s.doc_id, s.seg_idx, s.segment, f.n <= 1 AS keep
      FROM segs s JOIN freq f USING (segment)
    ), rebuilt AS (
      SELECT doc_id,
             string_agg(segment, ' ' ORDER BY seg_idx)
               FILTER (WHERE keep) AS new_text,
             CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT)
               AS n_dropped_segments
      FROM flagged GROUP BY doc_id
    )
    SELECT doc_id, md5(new_text) AS text_md5, n_dropped_segments
    FROM rebuilt WHERE new_text IS NOT NULL AND len(new_text) > 0
    """,
)
def q_segment_dedup_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    cleaned = T.drop_repeated_segments(docs, seg_tokens=10, max_repeat=1)
    return cleaned.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_md5"),
        "n_dropped_segments",
    )


@_register(
    "lsh_bucket_invariants",
    # Invariant-oracle twin of the rows-only lsh_bucket_histogram
    # (VERDICT r7 directive #8): bucket MEMBERSHIP is engine-specific
    # (hyperplane hashing), but bucketing is a PARTITION of the corpus
    # — every vector lands in exactly one bucket — so the histogram's
    # mass conservation is cross-engine checkable: the per-bucket
    # counts must sum to the corpus size, with as many distinct
    # vectors as rows. A dropped or double-bucketed vector anywhere in
    # the hash → groupBy machinery breaks the hash match.
    """
    SELECT CAST(count(*) AS BIGINT) AS total_vectors,
           CAST(count(DISTINCT vec_id) AS BIGINT) AS distinct_vectors
    FROM embeddings
    """,
)
def q_lsh_bucket_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.similarity import lsh_bucket

    emb = _t(spark, sf_dir, "embeddings")
    hist = (
        lsh_bucket(emb, num_planes=8)
        .groupBy("lsh_bucket")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct(F.col("vec_id")).alias("nd"),
        )
    )
    return hist.agg(
        F.sum("n").alias("total_vectors"),
        F.sum("nd").alias("distinct_vectors"),
    )


@_register(
    "minhash_band_invariants",
    # Invariant-oracle twin for the minhash banding stage (the pair
    # source behind minhash_near_dup, VERDICT r7 directive #8):
    # band HASHES are engine-specific, but the banded-keys relation is
    # structurally determined — every doc with a non-empty shingle set
    # emits EXACTLY ``bands`` (8) band rows. Sum, doc count, and the
    # per-doc min/max band counts are all cross-engine checkable; a
    # doc dropped by the signature groupBy, or a band duplicated or
    # lost in the posexplode, breaks the hash match. (Docs with fewer
    # than shingle_n tokens have no shingles and legitimately drop out
    # — both engines exclude them.)
    """
    WITH eligible AS (
      SELECT doc_id FROM documents
      WHERE len(string_split_regex(text, '\\s+')) >= 3
    )
    SELECT CAST(count(*) * 8 AS BIGINT) AS n_band_rows,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(8 AS BIGINT) AS min_bands_per_doc,
           CAST(8 AS BIGINT) AS max_bands_per_doc
    FROM eligible
    """,
)
def q_minhash_band_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        _banded_keys,
        minhash_signature,
    )

    docs = _t(spark, sf_dir, "documents")
    banded = _banded_keys(
        minhash_signature(docs, num_hashes=64, shingle_n=3),
        "doc_id", 64, 8,
    )
    per_doc = banded.groupBy("doc_id").agg(F.count("*").alias("nb"))
    return per_doc.agg(
        F.sum("nb").alias("n_band_rows"),
        F.count("*").alias("n_docs"),
        F.min("nb").alias("min_bands_per_doc"),
        F.max("nb").alias("max_bands_per_doc"),
    )


@_register(
    "gopher_filter_counts",
    # Composed Gopher-rule quality filter (operators/text.py:
    # gopher_quality_flags — Rae et al. 2021 §A1.1): per-rule failure
    # counts + the conjunction's pass count over the corpus. The rules
    # are pure column expressions over one tokenization pass (token
    # count bounds, mean token length bounds, distinct-trigram
    # fraction, distinct-stopword hits), so the whole filter is
    # engine-reproducible: every ratio is an integer/integer divide
    # and both engines compare against the same literals.
    """
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    ), f AS (
      SELECT doc_id,
             len(toks) AS n,
             length(replace(text, ' ', ''))::DOUBLE / len(toks) AS avg_len,
             [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
              for i in generate_series(1, len(toks)-2)] AS tri,
             len(list_intersect(list_distinct(toks),
                                ['the','a','of','and','to'])) AS stop_hits
      FROM t
    ), g AS (
      SELECT (n >= 30 AND n <= 90) AS ok_token_count,
             (avg_len >= 3.0 AND avg_len <= 10.0) AS ok_avg_len,
             (len(tri) > 0 AND
              len(list_distinct(tri))::DOUBLE / len(tri) >= 0.3)
               AS ok_repetition,
             (stop_hits >= 2) AS ok_stopwords
      FROM f
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN NOT ok_token_count THEN 1 END) AS BIGINT)
             AS fail_token_count,
           CAST(count(CASE WHEN NOT ok_avg_len THEN 1 END) AS BIGINT)
             AS fail_avg_len,
           CAST(count(CASE WHEN NOT ok_repetition THEN 1 END) AS BIGINT)
             AS fail_repetition,
           CAST(count(CASE WHEN NOT ok_stopwords THEN 1 END) AS BIGINT)
             AS fail_stopwords,
           CAST(count(CASE WHEN ok_token_count AND ok_avg_len
                           AND ok_repetition AND ok_stopwords THEN 1 END)
                AS BIGINT) AS n_passed
    FROM g
    """,
)
def q_gopher_filter_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    flags = T.gopher_quality_flags(docs, min_tokens=30, max_tokens=90)
    return flags.agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(~F.col("ok_token_count"), 1)).alias(
            "fail_token_count"
        ),
        F.count(F.when(~F.col("ok_avg_len"), 1)).alias("fail_avg_len"),
        F.count(F.when(~F.col("ok_repetition"), 1)).alias(
            "fail_repetition"
        ),
        F.count(F.when(~F.col("ok_stopwords"), 1)).alias("fail_stopwords"),
        F.count(F.when(F.col("passed"), 1)).alias("n_passed"),
    )


@_register(
    "unigram_lm_scores",
    # CCNet-style LM quality scoring (operators/text.py:
    # unigram_lm_scores): per-doc mean negative log-probability under
    # the corpus's own unigram distribution. Both engines compute
    # -ln(count/total) per token and average per doc; ln/avg are IEEE
    # doubles on both sides and the 6dp rounding absorbs
    # summation-order noise (same posture as every avg-based oracle
    # here).
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), freq AS (
      SELECT tok, count(*)::DOUBLE AS c FROM toks GROUP BY tok
    ), tot AS (
      SELECT sum(c) AS t FROM freq
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(c / t)), 6) AS avg_neg_logprob
    FROM toks JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q_unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import text as T

    return T.unigram_lm_scores(_t(spark, sf_dir, "documents"))


@_register(
    "semantic_dedup_exact",
    # SemDeDup (operators/similarity.py: semantic_dedup) in exact mode
    # (ncells=1 — no blocking, every pair compared), so the survivor
    # set is engine-independent: a vector survives iff no lower-id
    # vector exceeds the cosine threshold. The synthetic embeddings
    # top out at pairwise cosine ~0.51, so the threshold is 0.45 —
    # low enough for a non-degenerate drop set; the semantics under
    # test are the keep-smallest-id collapse and the cluster-blocked
    # plumbing, not the threshold's calibration.
    """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
      FROM embeddings
    ), drops AS (
      SELECT DISTINCT b.vec_id
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e))
               * sqrt(list_dot_product(b.e, b.e))) > 0.45
    )
    SELECT v.vec_id FROM v
    WHERE v.vec_id NOT IN (SELECT vec_id FROM drops)
    """,
)
def q_semantic_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.45, ncells=1, iters=0).select(
        "vec_id"
    )


@_register(
    "duplicate_ngram_coverage",
    # Exact-substring duplication measurement (operators/text.py:
    # duplicate_ngram_coverage — the n-gram-window form of Lee et al.
    # 2022 suffix-array dedup): per doc, the token mass covered by
    # 20-grams that appear verbatim in ≥2 documents. Interval-union
    # arithmetic (n + Σ min(n, gap) over sorted starts) is exact and
    # engine-independent; DuckDB expresses the same fold with a lag
    # window. md5 of the gram string keys both engines identically.
    # Spark posexplode is 0-based, DuckDB generate_series 1-based —
    # gaps are differences, so the offset cancels.
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id, u.i AS pos, len(t) AS n_tokens,
             md5(array_to_string(list_slice(t, u.i, u.i + 19), ' ')) AS h
      FROM toks, unnest(generate_series(1, len(t) - 19)) AS u(i)
      WHERE len(t) >= 20
    ), dup AS (
      SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), ds AS (
      SELECT g.doc_id, g.pos, g.n_tokens,
             lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos)
               AS prev
      FROM g JOIN dup USING (h)
    )
    SELECT doc_id,
           CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN prev IS NULL THEN 20
                         ELSE least(20, pos - prev) END) AS BIGINT)
             AS covered_tokens,
           round(sum(CASE WHEN prev IS NULL THEN 20
                          ELSE least(20, pos - prev) END)
                 / any_value(n_tokens)::DOUBLE, 6) AS dup_fraction
    FROM ds GROUP BY doc_id
    """,
)
def q_duplicate_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import text as T

    # key="md5": the oracle-parity key mode (the DuckDB twin recomputes
    # the same md5); the operator's scale default is multi-arg xxhash64
    return T.duplicate_ngram_coverage(
        _t(spark, sf_dir, "documents"), n=20, key="md5"
    )


@_register(
    "trim_duplicate_ngrams_text",
    # Whole-output verification of the exact-substring TRIM
    # (operators/text.py: trim_duplicate_ngrams) — the
    # segment_dedup_text pattern applied to the Lee et al. recipe:
    # hash the trimmed text per doc so the census, the interval
    # coverage, and the in-order token filter are all on the verified
    # path. 1-based (DuckDB) vs 0-based (Spark) positions cancel
    # inside the coverage predicate.
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(list_slice(t, u.i, u.i + 19), ' ')) AS h
      FROM toks, unnest(generate_series(1, len(t) - 19)) AS u(i)
      WHERE len(t) >= 20
    ), dup AS (
      SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), ds AS (
      SELECT g.doc_id, list_sort(list(g.pos)) AS starts
      FROM g JOIN dup USING (h) GROUP BY g.doc_id
    ), trimmed AS (
      SELECT t.doc_id,
             array_to_string(
               [t.t[i] for i in generate_series(1, len(t.t))
                if len(list_filter(coalesce(ds.starts, []),
                                   s -> i >= s AND i <= s + 19)) = 0],
               ' ') AS new_text,
             CAST(len(t.t) -
               len([t.t[i] for i in generate_series(1, len(t.t))
                    if len(list_filter(coalesce(ds.starts, []),
                                       s -> i >= s AND i <= s + 19)) = 0])
               AS BIGINT) AS n_removed_tokens
      FROM toks t LEFT JOIN ds USING (doc_id)
    )
    SELECT doc_id, md5(new_text) AS text_md5, n_removed_tokens
    FROM trimmed WHERE len(new_text) > 0
    """,
)
def q_trim_duplicate_ngrams_text(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators import text as T

    out = T.trim_duplicate_ngrams(
        _t(spark, sf_dir, "documents"), n=20, key="md5"
    )
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "n_removed_tokens"
    )


@_register("duplicate_ngram_coverage_fast")  # rows-only: xxhash64 keys
def q_duplicate_ngram_coverage_fast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The scale-default key mode (multi-arg xxhash64, no gram-string
    materialization) of duplicate_ngram_coverage — benched instead of
    the md5 oracle mode; a pinning test holds the two modes to
    identical output, so the oracle covers this one's semantics."""
    from sensor_data_pipeline___spark.operators import text as T

    return T.duplicate_ngram_coverage(
        _t_wide(spark, sf_dir, "documents"), n=20
    )


@_register(
    "decontam_probe_index",
    # Persisted-decontamination-index probe: benchmark suite = every
    # 10th document, saved once as a distinct-8-gram store
    # (operators/decontam.py), then the remaining docs probed against
    # it O(batch). Unlike the minhash/IVF index twins this lifecycle
    # is EXACT end-to-end — no hash-seeded geometry — so the oracle
    # replays the store build itself (bench CTE) rather than an
    # exact-mode corner of it. One row per batch doc, zero-hit docs
    # included: the full spine rides the hash check.
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
      FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0
    ), hits AS (
      SELECT doc_id, count(*) AS n
      FROM grams JOIN bench USING (g)
      WHERE doc_id % 10 <> 0
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated_grams,
           coalesce(h.n, 0) > 0 AS is_contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 10 <> 0
    """,
)
def q_decontam_probe_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated in key='string' mode (gram text is the store key, exactly
    ANSI-replayable); the 100 TB default is key='xxhash64' (8-byte
    join keys, no gram-string materialization), which a pinning test
    holds to identical contamination sets. Same deterministic reused
    temp path contract as near_dup_probe_exact."""
    from sensor_data_pipeline___spark.operators import decontam

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 != 0)
    path = _run_scoped_store_path(spark, "decontam_probe", sf_dir)
    decontam.save_contamination_index(bench, path, n=8, key="string")
    # cache_store=False: one-shot save-then-probe (see near_dup_probe_exact)
    return decontam.contaminated_against_index(
        spark, path, batch, cache_store=False
    )


@_register("decontam_probe_bench")  # rows-only: xxhash64 keys
def q_decontam_probe_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-default key mode (multi-arg xxhash64 over the token
    window, no gram-string materialization) of decontam_probe_index —
    benched instead of the string-keyed oracle mode; a pinning test
    (tests/test_decontam.py::test_key_modes_agree...) holds the two
    modes to identical contamination sets, so the oracle covers this
    one's semantics. The figure includes the index SAVE, so the bench
    tracks maintenance + probe as one number."""
    from sensor_data_pipeline___spark.operators import decontam

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 != 0)
    path = _run_scoped_store_path(spark, "decontam_bench", sf_dir)
    decontam.save_contamination_index(bench, path, n=8, key="xxhash64")
    # cache_store=False: one-shot save-then-probe (see near_dup_probe_exact)
    return decontam.contaminated_against_index(
        spark, path, batch, cache_store=False
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (operators/dsir.py) — hashed-ngram
# importance weights against a curated target, then deterministic
# Gumbel-top-k selection. Both halves hash-verified: the weight is
# pure arithmetic over md5 buckets, and the Gumbel noise is md5-derived
# (the hash_stratified_counts graduation pattern — the hash-derived
# variant carries the oracle).
# ---------------------------------------------------------------------------

_DSIR_WEIGHTS_CTE = """
    WITH tok AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ), g0 AS (
      SELECT doc_id, lang,
             unnest(t || [t[i] || ' ' || t[i+1]
                          for i in generate_series(1, len(t)-1)]) AS g
      FROM tok
    ), feats AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5('dsir-v1' || '|' || g), 1, 8))
                  AS BIGINT) % 10000 AS b
      FROM g0
    ), tcnt AS (
      SELECT b, count(*) AS ct FROM feats WHERE lang = 'en' GROUP BY b
    ), rcnt AS (
      SELECT b, count(*) AS cr FROM feats GROUP BY b
    ), tot AS (
      SELECT (SELECT count(*) FROM feats WHERE lang = 'en') AS tt,
             (SELECT count(*) FROM feats) AS tr
    ), weights AS (
      SELECT f.doc_id,
             sum(ln((coalesce(ct, 0) + 1.0) / (cr + 1.0)))
               + count(*) * (SELECT ln((tr + 10000.0) / (tt + 10000.0))
                             FROM tot) AS lw,
             count(*) AS n_grams
      FROM feats f
      LEFT JOIN tcnt ON f.b = tcnt.b
      LEFT JOIN rcnt ON f.b = rcnt.b
      GROUP BY f.doc_id
    )
    """


@_register(
    "dsir_log_weights",
    # Per-document hashed-ngram importance weight vs the English
    # subset as target — step 1-3 of DSIR. Every raw gram's bucket is
    # joined against both count tables; absent target buckets enter as
    # the smoothing floor (coalesce 0), exactly the add-1 estimate the
    # Spark side factors into observed-bucket sums + one constant.
    _DSIR_WEIGHTS_CTE
    + """
    SELECT doc_id, round(lw, 6) AS log_weight,
           CAST(n_grams AS BIGINT) AS n_grams
    FROM weights
    """,
)
def q_dsir_log_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import dsir

    docs = _t(spark, sf_dir, "documents")
    return dsir.dsir_log_weights(
        docs, docs.filter(F.col("lang") == "en")
    ).select(
        "doc_id",
        F.round("log_weight", 6).alias("log_weight"),
        "n_grams",
    )


@_register(
    "dsir_resample_top100",
    # Step 4 of DSIR: Gumbel-top-k selection over the same weights —
    # the noise is md5-derived from the doc id, so the SELECTED SET and
    # its keys are cross-engine deterministic. Keys mix a continuous
    # hash-uniform with the weight, so 1e-6-rounding ties can't occur
    # and LIMIT 100 is stable.
    _DSIR_WEIGHTS_CTE
    + """
    SELECT doc_id,
           round(lw - ln(-ln(
             (CAST(('0x' || substr(md5('dsir-gumbel-v1' || '|'
                                   || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0
           )), 6) AS select_key
    FROM weights
    ORDER BY lw - ln(-ln(
             (CAST(('0x' || substr(md5('dsir-gumbel-v1' || '|'
                                   || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0
           )) DESC, doc_id
    LIMIT 100
    """,
)
def q_dsir_resample_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import dsir

    docs = _t(spark, sf_dir, "documents")
    return dsir.dsir_resample(
        docs, docs.filter(F.col("lang") == "en"), k=100
    ).select("doc_id", F.round("select_key", 6).alias("select_key"))


@_register(
    "dsir_probe_index",
    # The PERSISTED DSIR scorer (operators/dsir.py:save_dsir_index /
    # dsir_weights_against_index): fit on held-out halves (target =
    # even English docs, raw reference = all even docs), probe the odd
    # half against the store. Scoring against stored counts is exact
    # (no approximation to twin away), so the DuckDB oracle just
    # recomputes the same fit from the even split — store write,
    # meta/totals round-trip, broadcast count join, and probe-side
    # smoothing arithmetic are all on the hash-verified path. Same
    # deterministic reused temp path contract as near_dup_probe_exact.
    """
    WITH tok AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ), g0 AS (
      SELECT doc_id, lang,
             unnest(t || [t[i] || ' ' || t[i+1]
                          for i in generate_series(1, len(t)-1)]) AS g
      FROM tok
    ), feats AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5('dsir-v1' || '|' || g), 1, 8))
                  AS BIGINT) % 10000 AS b
      FROM g0
    ), tcnt AS (
      SELECT b, count(*) AS ct FROM feats
      WHERE doc_id % 2 = 0 AND lang = 'en' GROUP BY b
    ), rcnt AS (
      SELECT b, count(*) AS cr FROM feats WHERE doc_id % 2 = 0 GROUP BY b
    ), tot AS (
      SELECT (SELECT count(*) FROM feats WHERE doc_id % 2 = 0
                                           AND lang = 'en') AS tt,
             (SELECT count(*) FROM feats WHERE doc_id % 2 = 0) AS tr
    )
    SELECT f.doc_id,
           round(sum(ln((coalesce(ct, 0) + 1.0) / (coalesce(cr, 0) + 1.0)))
                 + count(*) * (SELECT ln((tr + 10000.0) / (tt + 10000.0))
                               FROM tot), 6) AS log_weight,
           CAST(count(*) AS BIGINT) AS n_grams
    FROM feats f
    LEFT JOIN tcnt ON f.b = tcnt.b
    LEFT JOIN rcnt ON f.b = rcnt.b
    WHERE f.doc_id % 2 = 1
    GROUP BY f.doc_id
    """,
)
def q_dsir_probe_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import dsir

    docs = _t(spark, sf_dir, "documents")
    fit = docs.filter(F.col("doc_id") % 2 == 0)
    probe = docs.filter(F.col("doc_id") % 2 == 1)
    path = _run_scoped_store_path(spark, "dsir_probe", sf_dir)
    # target_pred (r16): the target is the English SLICE of the fit
    # half, so both count tables come from ONE gram pass over `fit`
    # with a conditional aggregate instead of tokenizing + hashing the
    # English slice a second time — exact under the subset relation
    # (see save_dsir_index), oracle unchanged.
    dsir.save_dsir_index(
        None, fit, path, target_pred=F.col("lang") == "en"
    )
    return dsir.dsir_weights_against_index(spark, path, probe).select(
        "doc_id",
        F.round("log_weight", 6).alias("log_weight"),
        "n_grams",
    )


_TRADE_EDGES_CTE = """
      SELECT sn.n_name AS src, cn.n_name AS dst, count(*)::DOUBLE AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
      GROUP BY sn.n_name, cn.n_name
"""


def _pagerank_oracle() -> str:
    from sensor_data_pipeline___spark.operators.graph import (
        pagerank_oracle_sql,
    )

    return pagerank_oracle_sql(_TRADE_EDGES_CTE, iters=5, damping=0.85)


@_register(
    "nation_trade_pagerank",
    # Iterative graph analytics, ORACLE-BACKED (operators/graph.py):
    # 5 power iterations of weighted PageRank over the supplier→
    # customer nation trade-flow graph (edge weight = shipped lineitem
    # count — integer, exactly equal cross-engine). Fixed-depth
    # iteration is just a deep deterministic expression, so the DuckDB
    # twin unrolls the identical five steps as chained CTEs
    # (pagerank_oracle_sql) — closing the "iterative algorithms are
    # rows-only by nature" gap. Spark side: one shuffle per iteration
    # (contrib groupBy dst), dangling mass as a broadcast 1-row
    # aggregate, ranks localCheckpoint-ed per iteration to cut the
    # exponential lineage growth iterative DataFrame loops otherwise
    # suffer.
    _pagerank_oracle(),
)
def q_nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("dst"),
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("src"),
    )
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("weight"))
    )
    return pagerank(edges, iters=5, damping=0.85).select(
        "node", F.round("rank", 6).alias("rank")
    )


@_register(
    "bpe_merge_candidates",
    # Tokenizer-vocabulary induction (operators/text.py:
    # bpe_pair_counts): corpus frequency of adjacent character pairs
    # inside words — BPE's first merge ranking, computed
    # vocabulary-first so the pair explode costs distinct words, not
    # word occurrences. Pairs are 1-based substring windows (identical
    # semantics in every engine); top 50 with the (n desc, pair asc)
    # tiebreak.
    """
    WITH words AS (
      SELECT w, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 2
      GROUP BY w
    ), pairs AS (
      SELECT substring(w, i, 2) AS pair, freq
      FROM words, unnest(generate_series(1, len(w)-1)) AS g(i)
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT 50
    """,
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import text

    return text.bpe_pair_counts(_t(spark, sf_dir, "documents"), top_k=50)


@_register(
    "next_event_training_pairs",
    # Supervised next-event prediction examples (operators/export.py:
    # next_event_training_pairs): sliding context-3 windows over each
    # user's chronological history, (ts, event_id)-tiebroken like
    # user_event_sequences so every (context, label) example
    # hash-verifies whole. One user-partitioned window, three lag
    # columns, no self-join.
    """
    WITH w AS (
      SELECT user_id, event_id, event_type,
             lag(event_type, 3) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS l3,
             lag(event_type, 2) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS l2,
             lag(event_type, 1) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS l1
      FROM events
    )
    SELECT user_id, event_id,
           l3 || ' ' || l2 || ' ' || l1 AS context,
           event_type AS label
    FROM w
    WHERE l3 IS NOT NULL AND l2 IS NOT NULL AND l1 IS NOT NULL
    """,
)
def q_next_event_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import export

    return export.next_event_training_pairs(
        _t(spark, sf_dir, "events"), context=3
    )


def _simhash_exact_oracle() -> str:
    from sensor_data_pipeline___spark.operators.dedup import (
        simhash_exact_oracle_sql,
    )

    return simhash_exact_oracle_sql("documents", max_hamming=3)


@_register(
    "simhash_near_dup_exact",
    # Exact-recall simhash near-dup (operators/dedup.py:
    # simhash_near_dup_exact, VERDICT r8 directive #5): the md5c60
    # oracle-parity fingerprint (per-token hash + 60 majority votes
    # exactly computable by any ANSI engine) with multi-index
    # pigeonhole blocking — (max_hamming+1) disjoint segments, a
    # <=3-bit pair must agree exactly on one, so the DuckDB twin can
    # be BRUTE-FORCE all-pairs and equality proves the blocking's
    # exact recall, graduating the rows-only simhash_near_dup_pairs'
    # verifiable core the same way near_dup_probe_exact graduated
    # minhash. Production keeps the xxhash64 prefix-blocked variant;
    # a pinning test holds both modes to the same planted pairs.
    _simhash_exact_oracle(),
)
def q_simhash_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        simhash_near_dup_exact,
    )

    return simhash_near_dup_exact(_t(spark, sf_dir, "documents"), max_hamming=3)


def _bpe_merges_oracle() -> str:
    from sensor_data_pipeline___spark.operators.text import (
        bpe_merges_oracle_sql,
    )

    return bpe_merges_oracle_sql("documents", k=5)


@_register(
    "bpe_merges_k5",
    # Iterated BPE vocabulary induction (operators/text.py:
    # bpe_learn_merges, VERDICT r8 directive #6): five LEARNED merges
    # — per round, vocabulary-weighted pair counts, (n DESC, pair ASC)
    # argmax, greedy left-to-right non-overlapping merge fold applied
    # to every word — closing the loop from bpe_merge_candidates'
    # one-shot ranking. Oracle = the same rounds unrolled as chained
    # CTEs with the fold as a per-word recursive state machine, the
    # pagerank exact-replay pattern.
    _bpe_merges_oracle(),
)
def q_bpe_merges_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.text import bpe_learn_merges

    return bpe_learn_merges(_t(spark, sf_dir, "documents"), k=5)


def _bpe_encode_oracle() -> str:
    from sensor_data_pipeline___spark.operators.text import (
        bpe_encode_oracle_sql,
    )

    return bpe_encode_oracle_sql("documents", k=5)


@_register(
    "bpe_encode_k5",
    # The ENCODE half of the BPE loop (operators/text.py:
    # save_bpe_vocab / encode_against_vocab, VERDICT r9 directive #1):
    # fit a 5-merge vocabulary on the corpus, persist it
    # (merges/ parquet, rank order = application order), then tokenize
    # the same corpus against the store — each word char-split and
    # folded through the k merges via nested F.aggregate state
    # machines, a map-only pass with the k merges inlined as driver-
    # bounded literals (no shuffle, no join, no UDF). Oracle = the
    # learn CTEs of bpe_merges_k5 + k recursive encode folds over the
    # DISTINCT word list + positional string_agg reassembly.
    _bpe_encode_oracle(),
)
def q_bpe_encode_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_fit_encode(spark, sf_dir, "bpe_vocab_k5")


def _pack_bpe_oracle() -> str:
    from sensor_data_pipeline___spark.operators.text import (
        _bpe_encode_parts,
        _bpe_learn_parts,
    )

    parts = _bpe_learn_parts("documents", 5) + _bpe_encode_parts(
        "documents", 5
    )
    return (
        "WITH RECURSIVE\n    "
        + ",\n    ".join(parts)
        + """,
    nt AS (
      SELECT d.doc_id,
             CAST(coalesce(len(string_split(e.encoded, ' ')), 0)
                  AS BIGINT) AS n_tokens
      FROM documents d LEFT JOIN encd e USING (doc_id)
    ), t AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM nt
    )
    SELECT doc_id, n_tokens,
           CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS start_chunk,
           CAST(floor((cum - 1) / 2048) AS BIGINT) AS end_chunk,
           CAST(floor((cum - 1) / 2048)
                - floor((cum - n_tokens) / 2048) + 1 AS BIGINT) AS n_chunks
    FROM t"""
    )


@_register(
    "pack_sequences_bpe",
    # pack_sequences fed REAL learned-vocabulary token counts instead
    # of whitespace word counts (the integration the r10 verdict
    # called out): fit + persist the BPE store, encode every doc
    # (map-only), then the same sharded global cumsum → fixed
    # 2048-token chunk spans. The budget now measures what a trainer
    # actually consumes. Oracle = the full learn+encode chain feeding
    # the global-order window that specs the cumsum.
    _pack_bpe_oracle(),
)
def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _bpe_fit_encode(spark, sf_dir, "bpe_vocab_pack").select(
        "doc_id", "n_tokens"
    )
    return _pack_chunk_spans(spark, counts, budget=2048)


def _bpe_tok_hist_oracle() -> str:
    from sensor_data_pipeline___spark.operators.text import (
        _bpe_encode_parts,
        _bpe_learn_parts,
    )

    parts = _bpe_learn_parts("documents", 5) + _bpe_encode_parts(
        "documents", 5
    )
    return (
        "WITH RECURSIVE\n    "
        + ",\n    ".join(parts)
        + """,
    toks AS (
      SELECT unnest(string_split(encoded, ' ')) AS tok FROM encd
    )
    SELECT CAST(len(tok) AS INT) AS tok_len,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
    FROM toks GROUP BY 1"""
    )


@_register(
    "bpe_token_length_hist",
    # The tokenizer-quality diagnostic a vocab review reads: token-
    # LENGTH distribution of the encoded corpus (occurrences +
    # distinct types per length). After k merges the mass above
    # length 1 is exactly what the learned vocabulary bought; the
    # whole query rides the map-only encode plus one constant-width
    # groupBy (token lengths are a handful of keys — partial agg
    # collapses it map-side). Oracle = the learn+encode CTE chain
    # feeding the same histogram.
    _bpe_tok_hist_oracle(),
)
def q_bpe_token_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _bpe_fit_encode(spark, sf_dir, "bpe_vocab_hist")
        .select(F.explode(F.split("encoded", " ")).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    return toks.groupBy(
        F.length("tok").cast("int").alias("tok_len")
    ).agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct("tok").alias("n_distinct"),
    )


@_register(
    "unigram_lm_band_assign",
    # Persisted CCNet quality-band store (operators/text.py:
    # save_unigram_lm / unigram_bands_against_lm, VERDICT r8 directive
    # #7): a unigram LM + tercile score cuts fit on the even-id half,
    # probe = the odd-id half scored with add-one smoothing over the
    # stored vocabulary (OOV coalesces to the rare ceiling) and banded
    # head/middle/tail. Scores are 6dp-rounded BEFORE the cuts and
    # the band compares, so cross-engine ln/summation noise cannot
    # flip a band; the cut points interpolate identically (exact
    # percentile over identical rounded inputs).
    """
    WITH fitd AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    ftoks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM fitd
    ),
    freq AS (SELECT tok, count(*)::DOUBLE AS c FROM ftoks GROUP BY tok),
    const AS (SELECT sum(c) AS t, count(*)::DOUBLE AS v FROM freq),
    refsc AS (
      SELECT doc_id, round(avg(-ln((c + 1) / (t + v))), 6) AS s
      FROM ftoks JOIN freq USING (tok) CROSS JOIN const GROUP BY doc_id
    ),
    cuts AS (
      SELECT quantile_cont(s, 0.3333333333333333) AS c1,
             quantile_cont(s, 0.6666666666666666) AS c2
      FROM refsc
    ),
    ptoks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 2 = 1
    ),
    psc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(-ln((coalesce(c, 0) + 1) / (t + v))), 6) AS lm_score
      FROM ptoks LEFT JOIN freq USING (tok) CROSS JOIN const
      GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, lm_score,
           CASE WHEN lm_score <= (SELECT c1 FROM cuts) THEN 'head'
                WHEN lm_score <= (SELECT c2 FROM cuts) THEN 'middle'
                ELSE 'tail' END AS band
    FROM psc
    """,
)
def q_unigram_lm_band_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    path = _run_scoped_store_path(spark, "unigram_lm_assign", sf_dir)
    T.save_unigram_lm(docs.filter(F.col("doc_id") % 2 == 0), path)
    # cache_store=False: one-shot save-then-score (see near_dup_probe_exact)
    return T.unigram_bands_against_lm(
        spark, path, docs.filter(F.col("doc_id") % 2 == 1), cache_store=False
    )


@_register(
    "band_stratified_admission",
    # The ADMISSION half of the CCNet band recipe: deterministic
    # hash-stratified sampling (operators/sampling.py:
    # hash_stratified_sample) over the store-assigned bands — head
    # kept whole, middle at 0.5, tail dropped to 0.1. Membership is a
    # pure function of (salt, doc_id), so the admitted set is
    # identical across engines, layouts, and replays — what makes the
    # streaming stack's band gate effectively-once.
    """
    WITH fitd AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    ftoks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM fitd
    ),
    freq AS (SELECT tok, count(*)::DOUBLE AS c FROM ftoks GROUP BY tok),
    const AS (SELECT sum(c) AS t, count(*)::DOUBLE AS v FROM freq),
    refsc AS (
      SELECT doc_id, round(avg(-ln((c + 1) / (t + v))), 6) AS s
      FROM ftoks JOIN freq USING (tok) CROSS JOIN const GROUP BY doc_id
    ),
    cuts AS (
      SELECT quantile_cont(s, 0.3333333333333333) AS c1,
             quantile_cont(s, 0.6666666666666666) AS c2
      FROM refsc
    ),
    ptoks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 2 = 1
    ),
    psc AS (
      SELECT doc_id,
             round(avg(-ln((coalesce(c, 0) + 1) / (t + v))), 6) AS lm_score
      FROM ptoks LEFT JOIN freq USING (tok) CROSS JOIN const
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id,
             CASE WHEN lm_score <= (SELECT c1 FROM cuts) THEN 'head'
                  WHEN lm_score <= (SELECT c2 FROM cuts) THEN 'middle'
                  ELSE 'tail' END AS band
      FROM psc
    )
    SELECT doc_id, band
    FROM banded
    WHERE CAST(('0x' || substr(md5('ccnet-band-v1' || '|' ||
                               CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 10000
          < CASE band WHEN 'head' THEN 10000
                      WHEN 'middle' THEN 5000
                      ELSE 1000 END
    """,
)
def q_band_stratified_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators import text as T
    from sensor_data_pipeline___spark.operators.sampling import (
        hash_stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    path = _run_scoped_store_path(spark, "unigram_lm_admission", sf_dir)
    T.save_unigram_lm(docs.filter(F.col("doc_id") % 2 == 0), path)
    banded = T.unigram_bands_against_lm(
        spark, path, docs.filter(F.col("doc_id") % 2 == 1), cache_store=False
    ).select("doc_id", "band")
    return hash_stratified_sample(
        banded,
        "band",
        {"head": 1.0, "middle": 0.5, "tail": 0.1},
        "doc_id",
        salt="ccnet-band-v1",
    )


@_register(
    "contamination_attribution",
    # Per-(doc, benchmark) contamination attribution (operators/
    # decontam.py:contamination_attribution): which benchmark a
    # contaminated training doc shares 8-grams with and how many —
    # the operational view behind the store probe's boolean. Even-%10
    # ids play the benchmark suite (bench_id = doc_id), the rest the
    # training batch; string-keyed grams, exactly ANSI-replayable.
    """
    WITH bt AS (
      SELECT doc_id AS bench_id, string_split(lower(text), ' ') AS w
      FROM documents WHERE doc_id % 10 = 0
    ), dt AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w
      FROM documents WHERE doc_id % 10 != 0
    ), bg AS (
      SELECT DISTINCT bench_id, array_to_string(w[i:i+7], ' ') AS g
      FROM bt, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
    ), dg AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
      FROM dt, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
    )
    SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM dg JOIN bg USING (g)
    GROUP BY doc_id, bench_id
    """,
)
def q_contamination_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators import decontam

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    batch = docs.filter(F.col("doc_id") % 10 != 0)
    return decontam.contamination_attribution(
        batch, bench, n=8, key="string"
    )


def _release_audit_oracle() -> str:
    from sensor_data_pipeline___spark.operators.dedup import (
        simhash_exact_oracle_sql,
    )

    near = simhash_exact_oracle_sql("cand", max_hamming=3)
    return f"""
    WITH cand AS (
      -- coalesce mirrors release_audit's NULL-text normalization: a
      -- NULL md5 key would drop the doc from the audit entirely
      SELECT doc_id, coalesce(text, '') AS text
      FROM documents WHERE doc_id % 10 != 0
    ), keep AS (
      SELECT md5(text) AS h, min(doc_id) AS keeper FROM cand GROUP BY 1
    ), ed AS (
      SELECT c.doc_id, (c.doc_id != k.keeper) AS exact_dup
      FROM cand c JOIN keep k ON md5(c.text) = k.h
    ), f AS (
      SELECT doc_id,
             len(toks) AS n,
             length(replace(text, ' ', ''))::DOUBLE / len(toks) AS avg_len,
             [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
              for i in generate_series(1, len(toks)-2)] AS tri,
             len(list_intersect(list_distinct(toks),
                                ['the','a','of','and','to'])) AS stop_hits
      FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
            FROM cand)
    ), q AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
             (n >= 30 AND n <= 90
              AND avg_len >= 3.0 AND avg_len <= 10.0
              AND len(tri) > 0
              AND len(list_distinct(tri))::DOUBLE / len(tri) >= 0.3
              AND stop_hits >= 2) AS quality_ok
      FROM f
    ), bg AS (
      SELECT DISTINCT doc_id AS bench_id,
             array_to_string(w[i:i+7], ' ') AS g
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents WHERE doc_id % 10 = 0),
           unnest(generate_series(1, len(w) - 7)) AS t(i)
    ), dg AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM cand),
           unnest(generate_series(1, len(w) - 7)) AS t(i)
    ), attr AS (
      SELECT doc_id,
             CAST(count(DISTINCT bench_id) AS BIGINT) AS n_benchmarks_hit,
             CAST(count(*) AS BIGINT) AS n_shared_grams
      FROM dg JOIN bg USING (g) GROUP BY doc_id
    ), np AS (
      SELECT * FROM ({near}) sq
    ), nd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near_dups,
             max(CASE WHEN p < doc_id THEN 1 ELSE 0 END) = 1 AS has_smaller
      FROM (SELECT doc_a AS doc_id, doc_b AS p FROM np
            UNION ALL SELECT doc_b AS doc_id, doc_a AS p FROM np)
      GROUP BY doc_id
    )
    SELECT ed.doc_id, q.n_tokens, ed.exact_dup, q.quality_ok,
           coalesce(attr.n_benchmarks_hit, 0) AS n_benchmarks_hit,
           coalesce(attr.n_shared_grams, 0) AS n_shared_grams,
           coalesce(nd.n_near_dups, 0) AS n_near_dups,
           CASE WHEN ed.exact_dup THEN 'exact_dup'
                WHEN NOT q.quality_ok THEN 'quality'
                WHEN coalesce(attr.n_benchmarks_hit, 0) > 0
                  THEN 'contaminated'
                WHEN coalesce(nd.has_smaller, false) THEN 'near_dup'
                ELSE 'kept' END AS drop_reason
    FROM ed JOIN q USING (doc_id)
    LEFT JOIN attr USING (doc_id)
    LEFT JOIN nd USING (doc_id)
    """


@_register(
    "release_audit",
    # The operational release-audit composite (operators/export.py:
    # release_audit, VERDICT r9 directive #8 / r10 #6): per candidate
    # doc, the three release gates in ONE artifact — exact-dup flag
    # (min-id representative rule), Gopher quality conjunction,
    # per-benchmark contamination attribution (string-keyed 8-grams,
    # %10 benchmark split as in contamination_attribution), simhash
    # near-dup partner count (exact-recall pigeonhole blocking) — and
    # the precedence-ordered drop_reason a release review reads:
    # exact_dup > quality > contaminated > near_dup > kept. Oracle =
    # the three existing oracles joined on the doc spine, the
    # brute-force simhash twin nested as a subquery.
    _release_audit_oracle(),
)
def q_release_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.export import release_audit

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    cand = docs.filter(F.col("doc_id") % 10 != 0)
    return release_audit(cand, bench, gram_key="string")


def _release_audit_summary_oracle() -> str:
    return f"""
    WITH ra AS ({_release_audit_oracle()}),
    bg AS (
      SELECT DISTINCT doc_id AS bench_id,
             array_to_string(w[i:i+7], ' ') AS g
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents WHERE doc_id % 10 = 0),
           unnest(generate_series(1, len(w) - 7)) AS t(i)
    ), dg AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
      FROM (SELECT doc_id, string_split(lower(coalesce(text, '')), ' ')
                     AS w
            FROM documents WHERE doc_id % 10 != 0),
           unnest(generate_series(1, len(w) - 7)) AS t(i)
    )
    SELECT 'drop_reason' AS section, drop_reason AS key,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_shared_grams) AS BIGINT) AS n_shared_grams
    FROM ra GROUP BY drop_reason
    UNION ALL
    SELECT 'benchmark', CAST(bench_id AS VARCHAR),
           CAST(count(DISTINCT doc_id) AS BIGINT),
           CAST(NULL AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM dg JOIN bg USING (g) GROUP BY bench_id
    """


@_register(
    "release_audit_summary",
    # The BOUNDED release-audit artifact (operators/export.py:
    # release_audit_summary, VERDICT r11 directive #6): the per-doc
    # audit is corpus-sized by construction; the review-facing read at
    # 100 TB is counts per drop_reason (doc count, token mass, shared
    # grams) plus the per-benchmark contamination breakdown (docs
    # touched, grams shared). Oracle = GROUP BY over the nested
    # release_audit oracle, UNION ALL the benchmark-keyed gram join.
    _release_audit_summary_oracle(),
)
def q_release_audit_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.export import (
        release_audit_summary,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    cand = docs.filter(F.col("doc_id") % 10 != 0)
    return release_audit_summary(cand, bench, gram_key="string")


@_register(
    "cluster_quality_reps",
    # Quality-argmax dedup-cluster representatives over EXACT pairs
    # (round 12): the first oracle-HASH-gated ride of the
    # connected-components machinery. The pair source is the exact
    # prefix-filtered Jaccard self-join (set_similarity_pairs' shape,
    # threshold 0.9 — cross-engine reproducible, unlike the seeded
    # minhash edges behind the rows-only minhash_near_dup and its
    # r14-deregistered companion minhash_cluster_stats, which
    # cluster_stats_exact replaced), the
    # components come from dedup.connected_components (min-label
    # propagation), and the keeper rule upgrades min-id to ARGMAX
    # QUALITY (longest token count, doc_id tiebreak) — the rule a real
    # dedup pipeline wants: keep the most complete member, not the
    # accidental lowest id. Oracle: recursive-CTE transitive closure
    # (reach = edges UNION reach JOIN edges) + least(self, min(reach))
    # as the component id — exactly the label-propagation fixpoint.
    """
    WITH RECURSIVE t AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ), e AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
            (len(a.toks) + len(b.toks)
             - len(list_intersect(a.toks, b.toks))) >= 0.9
    ), edges AS (
      SELECT u, v FROM e UNION SELECT v, u FROM e
    ), reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
    ), comp AS (
      SELECT u AS node, least(u, min(v)) AS component
      FROM reach GROUP BY u
    ), nt AS (
      SELECT doc_id AS node,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT c.component, c.node, nt.n_tokens,
             row_number() OVER (
               PARTITION BY c.component
               ORDER BY nt.n_tokens DESC, c.node ASC
             ) AS rk
      FROM comp c JOIN nt USING (node)
    )
    SELECT component,
           max(CASE WHEN rk = 1 THEN node END) AS rep_doc_id,
           max(CASE WHEN rk = 1 THEN n_tokens END) AS rep_tokens,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS cluster_tokens
    FROM ranked GROUP BY component
    """,
)
def q_cluster_quality_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        connected_components,
        set_similarity_join,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = set_similarity_join(docs, threshold=0.9)
    comp = connected_components(pairs)
    toks = docs.select(
        F.col("doc_id").alias("node"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_tokens").desc(), F.col("node").asc()
    )
    ranked = comp.join(toks, "node").withColumn(
        "rk", F.row_number().over(w)
    )
    return ranked.groupBy("component").agg(
        F.max(F.when(F.col("rk") == 1, F.col("node"))).alias("rep_doc_id"),
        F.max(F.when(F.col("rk") == 1, F.col("n_tokens"))).alias(
            "rep_tokens"
        ),
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("cluster_tokens"),
    )


def _classifier_oracles() -> "tuple[str, str]":
    from sensor_data_pipeline___spark.operators.classifier import (
        classifier_eval_oracle_sql,
        classifier_scores_oracle_sql,
    )

    return classifier_scores_oracle_sql(), classifier_eval_oracle_sql()


_CLF_SCORES_ORACLE, _CLF_EVAL_ORACLE = _classifier_oracles()


def _classifier_fit_score(spark: SparkSession, sf_dir: str):
    """Shared fit-then-score body of the two classifier queries:
    hashed-unigram features over documents, label = the long-document
    quality proxy (n_chars >= 150) — the distilled gate is NOT a
    feature, so the model must infer it from token mass alone (it
    does: 97.6% accuracy vs the 82% base rate at sf0.01; the lang
    column was rejected as a label because this synthetic corpus
    draws tokens lang-independently, ~0.53 ceiling). 8 centered
    full-batch GD iterations, then the map-side scoring pass over the
    same corpus. Returns (scores joined with labels) as (doc_id,
    score, _y)."""
    from sensor_data_pipeline___spark.operators.classifier import (
        classifier_score,
        featurize_hashed,
        fit_linear_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    # localCheckpoint (r15): feats feeds BOTH the fit and the scoring
    # pass — without this the explode + md5-per-token featurization
    # re-ran from the scan for scoring. One narrow (id, bucket, x)
    # materialization; feats_materialized=True (r16, advisor r15)
    # tells the fit to reuse these blocks instead of pinning a second
    # checkpoint copy of the full feature table.
    feats = featurize_hashed(docs).localCheckpoint(eager=True)
    labels = docs.select(
        "doc_id",
        F.when(F.col("n_chars") >= 150, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("label"),
    )
    w = fit_linear_classifier(feats, labels, feats_materialized=True)
    return classifier_score(feats, w).join(
        labels.withColumnRenamed("label", "_y"), "doc_id"
    )


@_register(
    "quality_classifier_scores",
    # Hashed-ngram linear classifier, fit + score (round 12,
    # operators/classifier.py): the distill-the-expensive-judge filter
    # every training-data pipeline ends up with (CCNet/fastText
    # shape). ORACLE-HASH-GATED despite being iterative floating
    # point: the squash is the rational fast-sigmoid (+,*,/,abs only
    # — IEEE bit-identical, unlike exp), every aggregation (including
    # the sparse-centering scalars c and R) runs in DECIMAL(30,10)
    # (the time_weighted_avg recipe) so summation order cannot move a
    # ULP, and the DuckDB twin unrolls the same 8 centered GD steps
    # as chained CTEs (the pagerank_oracle_sql precedent). Weights
    # and scores are bit-identical cross-engine; round(...,6) is
    # house style, not load-bearing.
    _CLF_SCORES_ORACLE,
)
def q_quality_classifier_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _classifier_fit_score(spark, sf_dir).select(
        "doc_id",
        F.round("score", 6).alias("score"),
        F.col("_y").cast("long").alias("label"),
    )


@_register(
    "quality_classifier_eval",
    # The bounded review-facing read of the classifier (the
    # release_audit_summary posture): a confusion-matrix cell per
    # (label, predicted) with count and decimal-exact mean score —
    # gate-outcome-sized output where per-doc scores are
    # corpus-sized. predicted = score >= 0.5 is safe to gate because
    # the scores themselves are bit-identical cross-engine (see
    # quality_classifier_scores).
    _CLF_EVAL_ORACLE,
)
def q_quality_classifier_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sc = _classifier_fit_score(spark, sf_dir)
    return (
        sc.select(
            F.col("_y").cast("long").alias("label"),
            (F.col("score") >= 0.5).cast("long").alias("predicted"),
            "score",
        )
        .groupBy("label", "predicted")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("score").cast("decimal(30,10)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("mean_score"),
        )
    )


def _classifier_probe_oracle() -> str:
    from sensor_data_pipeline___spark.operators.classifier import (
        classifier_probe_oracle_sql,
    )

    return classifier_probe_oracle_sql()


@_register(
    "quality_classifier_probe_index",
    # The PERSISTED classifier lifecycle (operators/classifier.py:
    # save_classifier / classifier_score_against_index): fit on the
    # even-doc_id half, probe the held-out odd half against the store
    # — store write, meta geometry round-trip, broadcast weight join
    # and probe-side scoring all on the hash-verified path. Scoring
    # against stored weights is exact (no approximation to twin
    # away), so the DuckDB oracle recomputes the same fit from the
    # even split — the dsir_probe_index precedent. Same deterministic
    # run-scoped temp path contract as the other store probes.
    _classifier_probe_oracle(),
)
def q_quality_classifier_probe_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators import classifier as C

    docs = _t(spark, sf_dir, "documents")
    fit = docs.filter(F.col("doc_id") % 2 == 0)
    probe = docs.filter(F.col("doc_id") % 2 == 1)
    labels = fit.select(
        "doc_id",
        F.when(F.col("n_chars") >= 150, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("label"),
    )
    path = _run_scoped_store_path(spark, "qclf_probe", sf_dir)
    C.save_classifier(fit, labels, path)
    return C.classifier_score_against_index(spark, path, probe).select(
        "doc_id", F.round("score", 6).alias("score")
    )


@_register(
    "connected_components_star_fuzzy",
    # The large-star/small-star CC (operators/dedup.py:
    # connected_components_star, r12 — the O(log n)-rounds long-chain
    # escalation the propagation docstring promised) on the SAME
    # deterministic edge set and against the SAME recursive-CTE
    # transitive-closure oracle as connected_components_fuzzy: both
    # algorithms must land on identical min-id components, so the
    # star variant is hash-verified end-to-end, not just
    # property-tested.
    _CC_FUZZY_ORACLE,
)
def q_connected_components_star_fuzzy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        connected_components_star,
    )

    pairs = QUERIES["fuzzy_name_pairs"](spark, sf_dir).select(
        "name_a", "name_b"
    )
    return connected_components_star(pairs, "name_a", "name_b")


def _classifier_calibration_oracle() -> str:
    from sensor_data_pipeline___spark.operators.classifier import (
        classifier_calibration_oracle_sql,
    )

    return classifier_calibration_oracle_sql()


@_register(
    "quality_classifier_calibration",
    # The reliability diagram as a query: decile score bins × (count,
    # mean score, empirical positive rate) — the artifact that says
    # whether 0.8 MEANS 80%. Bin assignment is floor(score*10) over
    # the bit-identical cross-engine scores, so binning cannot
    # disagree; per-bin means run in DECIMAL. Completes the
    # classifier's bounded-eval family (confusion cells → calibration
    # curve), both gate-outcome-sized where per-doc scores are
    # corpus-sized.
    _classifier_calibration_oracle(),
)
def q_quality_classifier_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sc = _classifier_fit_score(spark, sf_dir)
    return (
        sc.select(
            F.floor(F.col("score") * 10).cast("long").alias("bin"),
            "score",
            F.col("_y").alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("score").cast("decimal(30,10)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_score"),
            F.round(
                F.sum(F.col("y").cast("decimal(30,10)")).cast("double")
                / F.count("*"),
                6,
            ).alias("frac_positive"),
        )
    )


@_register(
    "temperature_mixture_sample",
    # Temperature-rebalanced source mixing (operators/export.py:
    # temperature_sample, r12): per-source quotas ∝ n^0.5 (the
    # multilingual-pretraining upsampling move — τ<1 lifts
    # low-resource sources above their natural share), filled with
    # each source's content-smallest hashes. Oracle replays the EXACT
    # winning set: sqrt is correctly rounded by IEEE-754 mandate
    # (unlike general pow), so quota arithmetic is bit-identical
    # cross-engine, and the md5 rank order is the shared
    # deterministic-randomness recipe. Quota table is strata-sized —
    # broadcast join, one window shuffle on the source.
    """
    WITH c AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ), t AS (
      SELECT CAST(sum(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(30,10)))
                  AS DOUBLE) AS tw FROM c
    ), q AS (
      SELECT source,
             CAST(floor(300.0 * sqrt(CAST(n AS DOUBLE))
                        / (SELECT tw FROM t)) AS BIGINT) AS quota
      FROM c
    ), r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('mixture-v1|' || CAST(doc_id AS VARCHAR)),
                        doc_id
             ) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.source FROM r JOIN q USING (source)
    WHERE rn <= quota
    """,
)
def q_temperature_mixture_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators.export import (
        temperature_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return temperature_sample(
        docs, "source", "doc_id", k_total=300
    ).select("doc_id", "source")


def _classifier_bigram_eval_oracle() -> str:
    from sensor_data_pipeline___spark.operators.classifier import (
        classifier_eval_oracle_sql,
    )

    return classifier_eval_oracle_sql(bigrams=True)


@_register(
    "quality_classifier_bigram_eval",
    # The bigram-featurized classifier, hash-verified cross-engine:
    # same centered fit and confusion summary as
    # quality_classifier_eval, but the feature set adds adjacent-token
    # bigrams (featurize_hashed(bigrams=True) — the fastText-faithful
    # order-sensitive set; the oracle's tok CTE unnests the same
    # guarded bigram list, the dsir oracle construction). Proves the
    # bigram path end-to-end rather than only self-consistent.
    _classifier_bigram_eval_oracle(),
)
def q_quality_classifier_bigram_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators.classifier import (
        classifier_score,
        featurize_hashed,
        fit_linear_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    # localCheckpoint (r15) + feats_materialized (r16): same fit+score
    # dual consumption as _classifier_fit_score — see the note there
    feats = featurize_hashed(docs, bigrams=True).localCheckpoint(
        eager=True
    )
    labels = docs.select(
        "doc_id",
        F.when(F.col("n_chars") >= 150, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("label"),
    )
    w = fit_linear_classifier(feats, labels, feats_materialized=True)
    sc = classifier_score(feats, w).join(
        labels.withColumnRenamed("label", "_y"), "doc_id"
    )
    return (
        sc.select(
            F.col("_y").cast("long").alias("label"),
            (F.col("score") >= 0.5).cast("long").alias("predicted"),
            "score",
        )
        .groupBy("label", "predicted")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("score").cast("decimal(30,10)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("mean_score"),
        )
    )


@_register(
    "split_leakage_stats",
    # Near-dup pairs straddling split boundaries (VERDICT r12
    # directive #2, operators/sampling.py:split_leakage_stats): the
    # train/test leakage hash_split cannot prevent and 8-gram
    # decontam only partially catches. Edge set = the deterministic
    # exact-Jaccard prefix-filtered self-join (the
    # cluster_quality_reps pair source — cross-engine reproducible,
    # unlike seeded minhash edges); splits = the hash_split md5
    # buckets (the hash_split_sizes twin). least/greatest normalizes
    # (train,test)/(test,train) into one cell; is_leak flags
    # off-diagonal cells AND every unknown-containing cell (advisor
    # r14 — the ('unknown','unknown') diagonal must not be filterable
    # out as a non-leak), with `uncovered` separating missing-split
    # mass from true straddles. LEFT joins + coalesce('unknown')
    # mirror the operator's loud-failure contract for endpoints
    # missing from the split table (advisor r13) — full coverage
    # here, so no 'unknown' row at this SF, but the semantics are
    # pinned either way.
    f"""
    WITH {_SIM_EDGES_CTE},
    {_SPLIT_CTE},
    cells AS (
      SELECT least(coalesce(sa.split, 'unknown'),
                   coalesce(sb.split, 'unknown')) AS split_a,
             greatest(coalesce(sa.split, 'unknown'),
                      coalesce(sb.split, 'unknown')) AS split_b,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM sim_e e
      LEFT JOIN spl sa ON e.u = sa.doc_id
      LEFT JOIN spl sb ON e.v = sb.doc_id
      GROUP BY 1, 2
    )
    SELECT split_a, split_b, n_pairs,
           (split_a != split_b
            OR split_a = 'unknown' OR split_b = 'unknown') AS is_leak,
           (split_a = 'unknown' OR split_b = 'unknown') AS uncovered
    FROM cells
    """,
)
def q_split_leakage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        set_similarity_join,
    )
    from sensor_data_pipeline___spark.operators.sampling import (
        hash_split,
        split_leakage_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = set_similarity_join(docs, threshold=0.9)
    splits = hash_split(docs, "doc_id").select("doc_id", "split")
    return split_leakage_stats(pairs, splits)


# The cluster-keyed split assignment's full oracle: recursive-CTE
# transitive closure over the exact-Jaccard edges + least(self,
# min(reach)) component ids — the star fixpoint's exact twin — then
# the hash_split md5 bucket on the component key. Shared by BOTH
# split producers (recompute-per-call and maintained-store): they
# must produce the identical whole assignment.
_CLUSTER_SPLIT_ORACLE = f"""
    WITH RECURSIVE {_SIM_EDGES_CTE},
    edges AS (
      SELECT u, v FROM sim_e UNION SELECT v, u FROM sim_e
    ), reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
    ), comp AS (
      SELECT u AS node, least(u, min(v)) AS component
      FROM reach GROUP BY u
    ), keyed AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS split_key
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ), kb AS (
      SELECT doc_id, split_key,
             CAST(('0x' || substr(md5('split-v1' || '|' ||
                                      CAST(split_key AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 10000 AS b
      FROM keyed
    )
    SELECT doc_id, split_key,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM kb
    """


@_register(
    "cluster_aware_split",
    # Cluster-keyed train/val/test assignment (VERDICT r12 directive
    # #2, operators/sampling.py:cluster_hash_split): the md5 split is
    # keyed on the near-dup CLUSTER representative (large-star/
    # small-star CC min-id over the exact-Jaccard edge set) so whole
    # clusters land in one split — the structural fix for the
    # leakage split_leakage_stats measures. Docs in no pair key on
    # their own id (hash_split-identical). WHOLE ASSIGNMENT
    # hash-verified (oracle above), not just sizes.
    _CLUSTER_SPLIT_ORACLE,
)
def q_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        set_similarity_join,
    )
    from sensor_data_pipeline___spark.operators.sampling import (
        cluster_hash_split,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = set_similarity_join(docs, threshold=0.9)
    return cluster_hash_split(docs.select("doc_id"), pairs).select(
        "doc_id", "split_key", "split"
    )


@_register(
    "cluster_split_from_labels",
    # The MAINTAINED-STORE split consumer, hash-verified end-to-end
    # (r14, the close of VERDICT r13 directive #4's loop): the exact
    # pair set is folded into a cold-start persisted CC label store in
    # two deterministic batches (md5 parity of doc_a — the streaming
    # loop's per-batch cc_labels_update shape), then the WHOLE split
    # assignment is produced by cluster_hash_split_from_labels off
    # read_cc_labels — ONE id-keyed join at split time, zero CC
    # rounds. The oracle is the SAME closure + md5 bucket as
    # cluster_aware_split: the maintained store must yield the
    # byte-identical assignment the per-call recompute yields, or the
    # hash breaks.
    _CLUSTER_SPLIT_ORACLE,
)
def q_cluster_split_from_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        cc_labels_update,
        read_cc_labels,
        save_cc_labels,
        set_similarity_join,
    )
    from sensor_data_pipeline___spark.operators.sampling import (
        cluster_hash_split_from_labels,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = set_similarity_join(docs, threshold=0.9).select(
        "doc_a", "doc_b"
    )
    parity = (
        F.conv(
            F.substring(F.md5(F.col("doc_a").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
    )
    path = _run_scoped_store_path(spark, "cc_split_labels", sf_dir)
    save_cc_labels(
        spark,
        path,
        spark.createDataFrame([], "node long, component long"),
    )
    for i in range(2):
        cc_labels_update(
            spark, path, pairs.filter(parity == i), ingest_key=f"b{i}"
        )
    return cluster_hash_split_from_labels(
        docs.select("doc_id"), read_cc_labels(spark, path)
    ).select("doc_id", "split_key", "split")


def _temperature_mixture_tokens_oracle(budget: int = 20000) -> str:
    from sensor_data_pipeline___spark.operators.text import (
        _bpe_encode_parts,
        _bpe_learn_parts,
    )

    parts = _bpe_learn_parts("documents", 5) + _bpe_encode_parts(
        "documents", 5
    )
    mix = f"""mt AS (
      SELECT d.doc_id, d.source,
             CAST(coalesce(len(string_split(e.encoded, ' ')), 0)
                  AS BIGINT) AS n_tokens
      FROM documents d LEFT JOIN encd e USING (doc_id)
    ), mc AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS st
      FROM mt GROUP BY source
    ), mtw AS (
      SELECT CAST(sum(CAST(sqrt(CAST(st AS DOUBLE)) AS DECIMAL(30,10)))
                  AS DOUBLE) AS tw FROM mc
    ), mq AS (
      SELECT source,
             CAST(floor({float(budget)!r} * sqrt(CAST(st AS DOUBLE))
                        / (SELECT tw FROM mtw)) AS BIGINT) AS quota
      FROM mc
    ), mr AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5('mixture-v1|' || CAST(doc_id AS VARCHAR)),
                        doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM mt
    )
    SELECT mr.doc_id, mr.source, mr.n_tokens
    FROM mr JOIN mq USING (source) WHERE cum <= quota"""
    return (
        "WITH RECURSIVE\n    "
        + ",\n    ".join(parts)
        + ",\n    "
        + mix
    )


@_register(
    "temperature_mixture_tokens",
    # TOKEN-BUDGETED temperature mixing (VERDICT r12 directive #3,
    # operators/export.py:temperature_sample_tokens) composing the
    # persisted BPE tokenizer: per-source quotas ∝ (Σ n_tokens_bpe)^0.5
    # where n_tokens_bpe comes from fit-then-encode against the k=5
    # store (the bpe_encode_k5 lifecycle), filled with each source's
    # content-smallest md5 hashes while the RUNNING token total stays
    # within quota (a deterministic prefix, not a knapsack). Exactness:
    # per-doc BPE counts are hash-gated already (bpe_encode_k5), source
    # token masses are integer sums, sqrt is IEEE correctly-rounded at
    # τ=0.5, the weight total sums in DECIMAL, and the cumulative cutoff
    # compares exact longs — so the WINNING SET replays bit-identically
    # (oracle: the bpe learn+encode CTE chain + the mixture CTEs).
    _temperature_mixture_tokens_oracle(),
)
def q_temperature_mixture_tokens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators.export import (
        temperature_sample_tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    enc = _bpe_fit_encode(spark, sf_dir, "bpe_mix_vocab").select(
        "doc_id", "n_tokens"
    )
    # localCheckpoint (r15): temperature_sample_tokens consumes its
    # input TWICE — the quota aggregation is built into a broadcast
    # (its own job) before the admission window runs — so without the
    # checkpoint the interpreted BPE encode fold, the query's dominant
    # cost, executed once per consumer. Materializing the narrow
    # (doc_id, source, n_tokens) frame costs one corpus-scan-sized
    # write of ~24 B/row; the saved second encode is orders of
    # magnitude more at every scale.
    keyed = (
        docs.select("doc_id", "source")
        .join(enc, "doc_id")
        .localCheckpoint(eager=True)
    )
    return temperature_sample_tokens(
        keyed, "source", "doc_id", "n_tokens", budget_total=20000
    ).select("doc_id", "source", "n_tokens")


@_register(
    "cluster_split_leakage",
    # The structural guarantee of cluster_hash_split, hash-verified
    # cross-engine (r13): split_leakage_stats recomputed over the
    # CLUSTER-KEYED split must contain only diagonal (is_leak=false)
    # cells — both endpoints of every near-dup pair share a component,
    # hence a split_key, hence a split. The oracle derives each
    # endpoint's split from the recursive-closure component key and
    # groups the same cells; a single off-diagonal row on either side
    # breaks the hash. Complements the unit test with an
    # engine-independent replay of the whole chain
    # (edges → components → keyed md5 split → leakage cells).
    f"""
    WITH RECURSIVE {_SIM_EDGES_CTE},
    edges AS (
      SELECT u, v FROM sim_e UNION SELECT v, u FROM sim_e
    ), reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
    ), comp AS (
      SELECT u AS node, least(u, min(v)) AS component
      FROM reach GROUP BY u
    ), spl AS (
      SELECT doc_id, CASE WHEN b < 8000 THEN 'train'
                          WHEN b < 9000 THEN 'val'
                          ELSE 'test' END AS split
      FROM (SELECT d.doc_id,
                   CAST(('0x' || substr(md5('split-v1' || '|' ||
                            CAST(coalesce(c.component, d.doc_id)
                                 AS VARCHAR)),
                                        1, 8)) AS BIGINT) % 10000 AS b
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
    )
    SELECT least(sa.split, sb.split) AS split_a,
           greatest(sa.split, sb.split) AS split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           (least(sa.split, sb.split) != greatest(sa.split, sb.split))
             AS is_leak,
           FALSE AS uncovered
    FROM sim_e e
    JOIN spl sa ON e.u = sa.doc_id
    JOIN spl sb ON e.v = sb.doc_id
    GROUP BY 1, 2
    """,
)
def q_cluster_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        set_similarity_join,
    )
    from sensor_data_pipeline___spark.operators.sampling import (
        cluster_hash_split,
        split_leakage_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = set_similarity_join(docs, threshold=0.9)
    splits = cluster_hash_split(docs.select("doc_id"), pairs).select(
        "doc_id", "split"
    )
    return split_leakage_stats(pairs, splits)


def _corpus_pipeline_tokens_oracle(budget: int = 15000) -> str:
    from sensor_data_pipeline___spark.operators.text import (
        _bpe_encode_parts,
        _bpe_learn_parts,
    )

    parts = _bpe_learn_parts("documents", 5) + _bpe_encode_parts(
        "documents", 5
    )
    body = f"""nt AS (
      SELECT d.doc_id, d.lang,
             CAST(coalesce(len(string_split(e.encoded, ' ')), 0)
                  AS BIGINT) AS n_tokens
      FROM documents d LEFT JOIN encd e USING (doc_id)
    ), dd AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
    ), qq AS (
      SELECT doc_id, lang, text FROM dd
      WHERE len(string_split(text, ' ')) BETWEEN 20 AND 90
        AND length(replace(text, ' ', ''))
            / len(string_split(text, ' '))::DOUBLE <= 10.0
    ), qt AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM qq
    ), qe AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM qt a JOIN qt b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
            (len(a.toks) + len(b.toks)
             - len(list_intersect(a.toks, b.toks))) >= 0.9
    ), edges AS (
      SELECT u, v FROM qe UNION SELECT v, u FROM qe
    ), reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
    ), comp AS (
      SELECT u AS node, least(u, min(v)) AS component
      FROM reach GROUP BY u
    ), spl AS (
      SELECT doc_id, lang, text,
             CASE WHEN b < 8000 THEN 'train'
                  WHEN b < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT q.doc_id, q.lang, q.text,
                   CAST(('0x' || substr(md5('split-v1' || '|' ||
                            CAST(coalesce(c.component, q.doc_id)
                                 AS VARCHAR)),
                                        1, 8)) AS BIGINT) % 10000 AS b
            FROM qq q LEFT JOIN comp c ON q.doc_id = c.node)
    ), train AS (SELECT * FROM spl WHERE split = 'train'
    ), test AS (SELECT * FROM spl WHERE split = 'test'
    ), trg AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM train),
           unnest(generate_series(1, len(w) - 7)) AS t(i)
    ), teg AS (
      SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
      FROM (SELECT string_split(lower(text), ' ') AS w FROM test),
           unnest(generate_series(1, len(w) - 7)) AS t(i)
    ), clean AS (
      SELECT * FROM train WHERE doc_id NOT IN (
        SELECT DISTINCT doc_id FROM trg JOIN teg USING (g))
    ), cm AS (
      SELECT c.doc_id, c.lang, nt.n_tokens
      FROM clean c JOIN nt ON c.doc_id = nt.doc_id
    ), mc AS (
      SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS st
      FROM cm GROUP BY lang
    ), mtw AS (
      SELECT CAST(sum(CAST(sqrt(CAST(st AS DOUBLE)) AS DECIMAL(30,10)))
                  AS DOUBLE) AS tw FROM mc
    ), mq2 AS (
      SELECT lang,
             CAST(floor({float(budget)!r} * sqrt(CAST(st AS DOUBLE))
                        / (SELECT tw FROM mtw)) AS BIGINT) AS quota
      FROM mc
    ), mr AS (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY md5('mixture-v1|' || CAST(doc_id AS VARCHAR)),
                        doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM cm
    ), mixed AS (
      SELECT mr.doc_id FROM mr JOIN mq2 USING (lang)
      WHERE cum <= quota
    )
    SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM nt
    UNION ALL SELECT 'exact_dedup', CAST(count(*) AS BIGINT),
           CAST(sum(nt.n_tokens) AS BIGINT)
      FROM dd JOIN nt USING (doc_id)
    UNION ALL SELECT 'quality', CAST(count(*) AS BIGINT),
           CAST(sum(nt.n_tokens) AS BIGINT)
      FROM qq JOIN nt USING (doc_id)
    UNION ALL SELECT 'cluster_split_train', CAST(count(*) AS BIGINT),
           CAST(sum(nt.n_tokens) AS BIGINT)
      FROM train JOIN nt USING (doc_id)
    UNION ALL SELECT 'decontaminated', CAST(count(*) AS BIGINT),
           CAST(sum(nt.n_tokens) AS BIGINT)
      FROM clean JOIN nt USING (doc_id)
    UNION ALL SELECT 'token_mixture', CAST(count(*) AS BIGINT),
           CAST(sum(nt.n_tokens) AS BIGINT)
      FROM mixed JOIN nt USING (doc_id)"""
    return (
        "WITH RECURSIVE\n    "
        + ",\n    ".join(parts)
        + ",\n    "
        + body
    )


@_register(
    "corpus_pipeline_tokens",
    # The r13 END-TO-END composition (the corpus_pipeline_stats
    # posture, upgraded with this round's pieces): raw → exact dedup
    # (min-id rep per md5(text)) → quality gate → CLUSTER-AWARE
    # train/test split (near-dup components from the exact-Jaccard
    # edge set key the md5 split, so near-dups can never straddle the
    # boundary — the leakage fix measured by split_leakage_stats) →
    # 8-gram decontamination of train against the held-out test side →
    # BPE-tokenized TOKEN-BUDGETED temperature mixture (quotas ∝
    # (Σ n_tokens_bpe)^0.5, cumulative prefix fill). Per-stage doc
    # count AND token mass — the unit a pretraining budget is actually
    # tracked in. Every stage deterministic; DuckDB replays the whole
    # chain (BPE learn+encode CTEs + recursive closure + md5 splits +
    # gram join + quota/prefix arithmetic) and the stage rows
    # hash-match. Pins that the r13 operators COMPOSE with the
    # established pipeline without new shuffle classes.
    _corpus_pipeline_tokens_oracle(),
)
def q_corpus_pipeline_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape per stage (beyond corpus_pipeline_stats): the
    cluster split adds the star-CC bounded per-round shuffles over the
    blocked pair list plus one id-keyed left join; the token mixture
    adds one strata-sized quota agg (broadcast) and one
    stratum-partitioned running-sum window. Encode is the word-cache
    path's distinct-word table + join-back. localCheckpoints cut the
    six stage-count branches from replaying upstream stages."""
    from sensor_data_pipeline___spark.operators.dedup import (
        _zipped_windows,
        set_similarity_join,
    )
    from sensor_data_pipeline___spark.operators.export import (
        temperature_sample_tokens,
    )
    from sensor_data_pipeline___spark.operators.sampling import (
        cluster_hash_split,
    )
    from sensor_data_pipeline___spark.operators.text import (
        encode_against_vocab,
        save_bpe_vocab,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    path = _run_scoped_store_path(spark, "bpe_cpt", sf_dir)
    save_bpe_vocab(docs, path, k=5)
    enc = (
        encode_against_vocab(spark, path, docs)
        .select("doc_id", "n_tokens")
        .localCheckpoint(eager=True)
    )
    reps = (
        docs.groupBy(F.md5("text").alias("_h"))
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "text"), F.col("doc_id")
            ).alias("_r")
        )
        .select("_r.doc_id", "_r.lang", "_r.text")
        .localCheckpoint(eager=True)
    )
    toks = F.split(F.col("text"), " ")
    ntok = F.size(toks)
    atl = F.length(F.regexp_replace(F.col("text"), " ", "")) / ntok.cast(
        "double"
    )
    quality = reps.filter(
        (ntok >= 20) & (ntok <= 90) & (atl <= 10.0)
    ).localCheckpoint(eager=True)
    pairs = set_similarity_join(quality, threshold=0.9)
    labeled = cluster_hash_split(quality, pairs).localCheckpoint(
        eager=True
    )
    train = labeled.filter(F.col("split") == "train")
    test = labeled.filter(F.col("split") == "test")

    n = 8
    wl = F.split(F.lower("text"), " ", -1)
    gram_hashes = F.transform(
        _zipped_windows(wl, n),
        lambda s: F.xxhash64(*[s[f"t{i}"] for i in range(n)]),
    )

    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", F.explode(gram_hashes).alias("g")
        ).distinct()

    te_g = grams(test).select("g").distinct()
    contaminated = (
        grams(train).join(te_g, "g", "left_semi").select("doc_id").distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )
    keyed = clean.select("doc_id", "lang").join(enc, "doc_id")
    mixed = temperature_sample_tokens(
        keyed, "lang", "doc_id", "n_tokens", budget_total=15000
    )

    def stage(name: str, df: DataFrame) -> DataFrame:
        return (
            df.select("doc_id")
            .join(enc, "doc_id")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
            )
            .select(
                F.lit(name).alias("stage"), "n_docs", "n_tokens"
            )
        )

    return (
        stage("raw", docs)
        .unionAll(stage("exact_dedup", reps))
        .unionAll(stage("quality", quality))
        .unionAll(stage("cluster_split_train", train))
        .unionAll(stage("decontaminated", clean))
        .unionAll(stage("token_mixture", mixed))
    )


@_register(
    "minhash_accuracy_contract",
    # The seeded-LSH family's accuracy CONTRACT as an oracle row (r13;
    # the approx_distinct_accuracy boolean-pinning trick applied to
    # minhash_near_dup, whose pair SET is hash-seeded and engine-
    # specific — the reason minhash_near_dup is rows-only, and why its
    # historical cluster-stats companion minhash_cluster_stats was
    # replaced by the oracle-backed cluster_stats_exact in r14): the
    # EXACT 3-shingle-Jaccard ground truth is
    # deterministic and SQL-expressible, so the oracle recomputes the
    # n_exact_pairs denominator bit-for-bit and pins the two claims
    # TRUE that a correct LSH must satisfy with huge margin —
    # precision: every reported pair (est_jaccard ≥ 0.8 over 64
    # hashes, σ ≈ 0.05) has TRUE shingle-Jaccard ≥ 0.5 (a 6σ floor);
    # recall: ≥ 70% of true J ≥ 0.95 pairs are recovered (8×8 band
    # detection probability at J = 0.95 is ≈ 0.9998). Floors are
    # deliberately loose: they flip on a broken implementation, not on
    # a testdata regeneration or a hash-seed change.
    # NOTE the tokenizer is regexp '\\s+', NOT string_split(text, ' '):
    # the operator's shingle space (dedup._shingles) splits on
    # whitespace RUNS, and the Spark-side ground truth below matches
    # it — a single-space oracle split would diverge (and break the
    # gate hash) on any text with consecutive whitespace/tabs/newlines
    # after a testdata regeneration (advisor r13).
    """
    WITH sh AS (
      SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
               for i in generate_series(1, len(w)-2)]) AS s
      FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w
            FROM documents)
      WHERE len(w) >= 3
    ), ex AS (
      SELECT len(list_intersect(a.s, b.s)) * 1.0 /
             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
           TRUE AS precision_floor_ok,
           TRUE AS recall_floor_ok
    FROM ex WHERE j >= 0.95
    """,
)
def q_minhash_accuracy_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        _zipped_windows,
        minhash_near_dup,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # exact ground truth over the operator's own shingle space (word
    # 3-grams, distinct), blocked by shared shingle — complete for any
    # J > 0 pair, so certainly for the J ≥ 0.95 denominator
    toks = F.split(F.col("text"), r"\s+")
    sh = F.array_distinct(
        F.transform(
            _zipped_windows(toks, 3),
            lambda s: F.concat_ws(" ", s["t0"], s["t1"], s["t2"]),
        )
    )
    dsh = (
        docs.select("doc_id", sh.alias("s"))
        .filter(F.size("s") > 0)
        .localCheckpoint(eager=True)
    )
    sizes = dsh.select("doc_id", F.size("s").alias("n"))
    exd = dsh.select("doc_id", F.explode("s").alias("g"))
    inter = (
        exd.select(F.col("doc_id").alias("doc_a"), "g")
        .join(exd.select(F.col("doc_id").alias("doc_b"), "g"), "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_i"))
    )
    truth = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("_na")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("_nb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("_i")
                / (F.col("_na") + F.col("_nb") - F.col("_i"))
            ).alias("j"),
        )
        .localCheckpoint(eager=True)
    )
    lsh = minhash_near_dup(docs).select("doc_a", "doc_b")
    # a reported pair absent from truth shares no shingle → true j=0
    rep = lsh.join(truth, ["doc_a", "doc_b"], "left").select(
        F.coalesce("j", F.lit(0.0)).alias("j")
    )
    prec = rep.agg(
        F.coalesce(F.min(F.col("j") >= 0.5), F.lit(True)).alias("_p")
    )
    exact = truth.filter(F.col("j") >= 0.95)
    hits = exact.join(lsh, ["doc_a", "doc_b"], "left_semi")
    return (
        exact.agg(F.count("*").alias("n_exact_pairs"))
        .crossJoin(F.broadcast(hits.agg(F.count("*").alias("_nh"))))
        .crossJoin(F.broadcast(prec))
        .select(
            "n_exact_pairs",
            F.col("_p").alias("precision_floor_ok"),
            F.when(F.col("n_exact_pairs") == 0, F.lit(True))
            .otherwise(
                F.col("_nh")
                >= F.lit(0.7) * F.col("n_exact_pairs")
            )
            .alias("recall_floor_ok"),
        )
    )


@_register(
    "connected_components_incremental_fuzzy",
    # Incremental CC maintenance, hash-verified end-to-end (r13,
    # operators/dedup.py:connected_components_incremental): the fuzzy
    # edge set is split deterministically in two (md5 parity of
    # name_a), batch 1 is clustered from scratch (star CC), batch 2 is
    # merged INCREMENTALLY — only components touched by new edges are
    # re-clustered (their labels re-enter as star edges, the
    # connectivity-preserving contraction), untouched components pass
    # through. The result must equal the full recompute over ALL
    # edges, so the oracle is the SAME recursive-CTE transitive
    # closure the batch variants gate against — one label off and the
    # hash breaks. The O(new edges + affected clusters) maintenance
    # shape a persisted near-dup index needs per ingest batch at
    # 100 TB.
    _CC_FUZZY_ORACLE,
)
def q_connected_components_incremental_fuzzy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        connected_components_incremental,
        connected_components_star,
    )

    pairs = QUERIES["fuzzy_name_pairs"](spark, sf_dir).select(
        "name_a", "name_b"
    )
    parity = (
        F.conv(F.substring(F.md5("name_a"), 1, 8), 16, 10).cast("long")
        % 2
    )
    batch1 = pairs.filter(parity == 0)
    batch2 = pairs.filter(parity == 1)
    labels1 = connected_components_star(batch1, "name_a", "name_b")
    return connected_components_incremental(
        labels1, batch2, "name_a", "name_b"
    )


@_register(
    "cc_labels_maintained_fuzzy",
    # The PERSISTED maintained-labeling lifecycle, hash-verified
    # end-to-end (r14, VERDICT r13 directive #4 — operators/dedup.py:
    # save_cc_labels/cc_labels_update/read_cc_labels, the store the
    # streaming near-dup loop folds each batch's discovered pairs
    # into): the fuzzy edge set is split deterministically into THREE
    # batches (md5 mod 3 of name_a), the store bootstraps EMPTY (the
    # streaming cold start), each batch writes only its affected-
    # subgraph delta partition, and the read resolves latest-per-node
    # as min(component) (labels only ever decrease — merges relabel
    # every member to the merged min, dead component ids never
    # revive). The resolved labeling must equal the full transitive
    # closure over ALL edges — the same recursive-CTE oracle the
    # batch and incremental CC variants gate against — one stale or
    # unresolved row and the hash breaks. r15 (VERDICT r14 #3): the
    # lifecycle now also compacts after the first batch (node-sorted
    # STRING-typed base + footer manifest) and the remaining updates
    # run with prune_max_nodes on — the manifest-pruned selective
    # store reads the streaming loop uses are what this gate verifies
    # against the closure from r15 on (a file wrongly pruned from the
    # endpoint or members scan breaks the hash).
    _CC_FUZZY_ORACLE,
)
def q_cc_labels_maintained_fuzzy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sensor_data_pipeline___spark.operators.dedup import (
        cc_labels_compact,
        cc_labels_update,
        read_cc_labels,
        save_cc_labels,
    )

    pairs = QUERIES["fuzzy_name_pairs"](spark, sf_dir).select(
        "name_a", "name_b"
    )
    parity = (
        F.conv(F.substring(F.md5("name_a"), 1, 8), 16, 10).cast("long")
        % 3
    )
    path = _run_scoped_store_path(spark, "cc_labels_maint", sf_dir)
    save_cc_labels(
        spark,
        path,
        spark.createDataFrame([], "node string, component string"),
    )
    for i in range(3):
        cc_labels_update(
            spark,
            path,
            pairs.filter(parity == i),
            "name_a",
            "name_b",
            ingest_key=f"b{i}",
            prune_max_nodes=4096,
            # forced open (default 16 would full-scan this small
            # store): the gate must run the SELECTIVE reads
            prune_min_files=1,
        )
        if i == 0:
            # fold batch 0 into a sorted base generation so batches
            # 1-2 exercise the manifest-pruned base selection (the
            # cold-start store has no base files to prune)
            cc_labels_compact(spark, path, rows_per_file=200)
    return read_cc_labels(spark, path)
