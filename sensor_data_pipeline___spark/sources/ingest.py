"""Ingest path: the reference's ``POST /data`` re-expressed for Spark
(S1/S2/S6/S7 + F6 in SURVEY.md §2).

Semantics matched from reference src/api/routes/data.py:39-68 and
src/db/repositories/readings.py:9-22:

- body = newline-separated ``"{ts} {name} {value}"`` lines;
- blank / whitespace-only lines are SKIPPED (not errors);
- ANY invalid line ⇒ the whole batch is rejected and nothing persists
  (the reference wraps all inserts in one transaction);
- bronze stores the RAW LINE (not the parsed values) plus a surrogate id
  and ingest wall-clock timestamp.

:func:`post` is the engine's one ``POST /data``, and it runs one Spark
job, the bronze append:

- The body enters Spark as an Arrow-built local relation
  (:func:`lines_df`). The gate collects the :func:`flag_lines` flags of
  only the blank or invalid lines; the optimizer folds that projection
  and filter into the local relation, so the gate's Spark expressions
  run on the driver and no job starts. That sizes the gate for request
  bodies. The stream body, whose micro-batches are not local, keeps
  the distributed :func:`flag_lines` aggregate.
- A row's surrogate id is its line position (blank lines leave gaps),
  offset past bronze's id high-water (``Warehouse.max_id``, a record at
  the bronze root, so no scan). Ids are unique and increasing, not
  dense, which is all the reference's ``BIGSERIAL`` promises (the id's
  only downstream use is the M1 dedup key).
- ``ingested_at`` is one driver timestamp, a literal in the plan, so
  two POSTs of the same lines never share a plan (a cached frame of the
  first cannot stand in for the second).
- The bronze frame is one partition: a POST appends one file per
  ``ingest_date``, in one atomic directory commit (Spark's
  file-commit protocol), matching the reference's
  one-transaction-per-POST guarantee.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone
from functools import lru_cache

import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sensor_data_pipeline___spark.functions import parsing
from sensor_data_pipeline___spark.warehouse import BRONZE, Warehouse


class IngestRejected(ValueError):
    """Raised when the all-or-nothing gate (F6) rejects a batch."""


@dataclass(frozen=True)
class IngestResult:
    accepted: int  # rows persisted to bronze
    skipped: int   # blank lines skipped


def lines_df(spark: SparkSession, lines: list[str]) -> DataFrame:
    """A list of raw lines (one POST body) as an ``(id, raw_line)``
    DataFrame, ``id`` the line's 1-based position in the body.

    Built from an Arrow table, so the plan is a JVM ``LocalTableScan``
    (whatever ``spark.sql.execution.arrow.pyspark.enabled`` says): the
    optimizer can fold projections and filters over it on the driver,
    and the bronze append scans it without a Python worker round trip,
    which a ``createDataFrame`` over a Python list (a Python-RDD scan)
    costs every action."""
    return spark.createDataFrame(
        pa.table({
            "id": pa.array(range(1, len(lines) + 1), pa.int64()),
            "raw_line": pa.array(lines, pa.string()),
        })
    )


@lru_cache(maxsize=1)
def _gate_columns(sc: SparkContext) -> tuple[Column, Column, Column]:
    """The ``_blank`` and ``_valid`` flag columns and the ``invalid``
    aggregate, built once per SparkContext: every Column call is a few
    py4j round trips (about 60 ms for the set on a 4-core host), and
    the expressions, unresolved until a frame uses them, never
    change."""
    return (
        parsing.is_blank(F.col("raw_line")).alias("_blank"),
        parsing.gate_valid(F.col("raw_line")).alias("_valid"),
        F.sum(
            F.when(~F.col("_blank") & ~F.col("_valid"), 1).otherwise(0)
        ).alias("invalid"),
    )


def flag_lines(raw: DataFrame) -> tuple[DataFrame, Column]:
    """The F6 gate flags. Returns ``raw``'s columns with the lines'
    ``_blank`` and ``_valid`` flags, and the aggregate column
    ``invalid``: the count of non-blank lines that fail the gate. The
    stream body folds that column into its single aggregate job; the
    POST gate (:func:`validate_batch`) collects the flagged lines."""
    blank, valid, invalid = _gate_columns(raw.sparkSession.sparkContext)
    return raw.select("*", blank, valid), invalid


def validate_batch(raw: DataFrame) -> tuple[list[int], int]:
    """Apply the ingest gate to a :func:`lines_df` frame. Returns
    (ids of the blank lines, number of invalid lines).

    Collects the flags of just the blank or invalid lines. Over a local
    relation the optimizer evaluates that filter on the driver
    (``ConvertToLocalRelation``), so the collect launches no job."""
    flagged, _ = flag_lines(raw)
    bad = flagged.filter("_blank OR NOT _valid").select("id", "_blank").collect()
    blank = [r["id"] for r in bad if r["_blank"]]
    return blank, len(bad) - len(blank)


def ingest_batch(
    spark: SparkSession, lines: list[str]
) -> tuple[DataFrame, IngestResult]:
    """Full POST /data semantics. Returns the bronze rows (one
    partition, ids = line positions from 1; the caller offsets them
    past the table's id high-water before appending), or raises
    :class:`IngestRejected`. Launches no Spark job."""
    raw = lines_df(spark, lines)
    blank, n_invalid = validate_batch(raw)
    if n_invalid > 0:
        raise IngestRejected(f"{n_invalid} invalid line(s); batch rejected")
    if blank:
        raw = raw.filter(~F.col("id").isin(blank))
    bronze = raw.select(
        "id",
        "raw_line",
        F.lit(datetime.now(timezone.utc)).alias("ingested_at"),
    ).coalesce(1)
    return bronze, IngestResult(
        accepted=len(lines) - len(blank), skipped=len(blank)
    )


def post(wh: Warehouse, lines: list[str]) -> IngestResult:
    """``POST /data`` into ``wh``'s bronze table: gate the body, offset
    its ids past bronze's id high-water, append it in one commit. One
    Spark job (the append; none for a body of blank lines). Raises
    :class:`IngestRejected` with nothing written.

    Two POSTs into one table must not run at once: both would read the
    same high-water and reuse ids."""
    bronze, result = ingest_batch(wh.spark, lines)
    if result.accepted:
        wh.append(BRONZE, bronze.withColumn("id", F.col("id") + wh.max_id(BRONZE)))
    return result
