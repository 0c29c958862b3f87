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

Scale notes: the POST body enters Spark as an Arrow-built local
relation (:func:`lines_df`), so no action on it starts a Python worker.
Validation is a single aggregate over the batch (one Spark
job, map-side combined count — no collect of data rows). The surrogate
id uses ``monotonically_increasing_id()``, which the caller offsets by
the bronze table's current max id (``Warehouse.max_id``) — unique and
increasing, not dense, which is all the reference needs (the
id's only downstream use is the M1 dedup key). At 100 TB the bronze
append is an atomic directory commit per batch (Spark's file-commit
protocol), matching the reference's one-transaction-per-POST guarantee.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sensor_data_pipeline___spark.functions import parsing


class IngestRejected(ValueError):
    """Raised when the all-or-nothing gate (F6) rejects a batch."""


@dataclass(frozen=True)
class IngestResult:
    accepted: int  # rows persisted to bronze
    skipped: int   # blank lines skipped


def lines_df(spark: SparkSession, lines: list[str]) -> DataFrame:
    """A list of raw lines (one POST body) as a single-column DataFrame.

    Built from an Arrow table, so the plan is a JVM ``LocalTableScan``
    (whatever ``spark.sql.execution.arrow.pyspark.enabled`` says): the
    gate aggregate and the bronze append each scan it without a Python
    worker round trip, which a ``createDataFrame`` over a Python list
    (a Python-RDD scan) costs every action."""
    return spark.createDataFrame(
        pa.table({"raw_line": pa.array(lines, pa.string())})
    )


def flag_lines(raw: DataFrame) -> tuple[DataFrame, Column]:
    """The F6 gate flags. Returns ``raw``'s lines with their ``_blank``
    and ``_valid`` flags, and the aggregate column ``invalid``: the
    count of non-blank lines that fail the gate. Callers fold that
    column into their own single aggregate job."""
    flagged = raw.select(
        "raw_line",
        parsing.is_blank(F.col("raw_line")).alias("_blank"),
        parsing.gate_valid(F.col("raw_line")).alias("_valid"),
    )
    invalid = F.sum(
        F.when(~F.col("_blank") & ~F.col("_valid"), 1).otherwise(0)
    ).alias("invalid")
    return flagged, invalid


def validate_batch(raw: DataFrame) -> tuple[DataFrame, int, int]:
    """Apply the ingest gate. Returns (valid_rows, n_invalid, n_blank).

    One aggregate pass computes both counts; the returned DataFrame is
    the non-blank subset (valid iff n_invalid == 0).
    """
    flagged, invalid = flag_lines(raw)
    counts = flagged.agg(
        invalid,
        F.sum(F.when(F.col("_blank"), 1).otherwise(0)).alias("blank"),
    ).first()
    n_invalid = int(counts["invalid"] or 0)
    n_blank = int(counts["blank"] or 0)
    return flagged.filter(~F.col("_blank")).select("raw_line"), n_invalid, n_blank


def stamp_bronze(valid: DataFrame) -> DataFrame:
    """Attach surrogate id (S6, from 1) and ingest timestamp (S7)."""
    return valid.select(
        (F.monotonically_increasing_id() + 1).alias("id"),
        F.col("raw_line"),
        F.current_timestamp().alias("ingested_at"),
    )


def ingest_batch(
    spark: SparkSession, lines: list[str]
) -> tuple[DataFrame, IngestResult]:
    """Full POST /data semantics. Returns the bronze rows, ids from 1
    (the caller offsets them past the table's max id before
    appending), or raises :class:`IngestRejected`."""
    raw = lines_df(spark, lines)
    valid, n_invalid, n_blank = validate_batch(raw)
    if n_invalid > 0:
        raise IngestRejected(f"{n_invalid} invalid line(s); batch rejected")
    n_accepted = len(lines) - n_blank
    return stamp_bronze(valid), IngestResult(accepted=n_accepted, skipped=n_blank)
