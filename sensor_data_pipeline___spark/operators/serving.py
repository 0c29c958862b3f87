"""Serving query: ``GET /data?from=&to=`` — the flagship query
(reference src/db/repositories/readings.py:25-49 + route
src/api/routes/data.py:89-123; operators F4, F8, U1, O1, P12 in
SURVEY.md §3.2).

Plan shape: two partition-pruned parquet scans (both tables partitioned
by ``reading_date`` on disk, so the half-open date filter prunes whole
partitions), a UNION ALL, and a sort of the union inside ONE task. No
stage is wide: the GET is a single Spark job with no exchange, and its
cost is bounded by the date range's selectivity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sensor_data_pipeline___spark.functions.datetime_fmt import (
    format_timestamp_col,
    normalize_range,
)


def _range_filter(date_col: Column, from_d, to_d) -> Column:
    """F4: half-open ``reading_date >= from AND reading_date < to``
    (readings.py:37,43) — prunes partitions when the table is
    partitioned by the date column."""
    return (date_col >= F.lit(from_d)) & (date_col < F.lit(to_d))


def readings_by_date_range(
    silver: DataFrame, gold: DataFrame, from_str: str, to_str: str
) -> DataFrame:
    """(silver σ_range ∪ALL gold σ_range) sorted by (time, name)
    — exactly the reference's serving SQL (readings.py:32-46).

    The sort runs in one task (``coalesce(1)`` then
    ``sortWithinPartitions``), not as a global ``orderBy``: a global
    sort plans a range exchange, which costs a sampling job, a map job
    and a sort job per GET. The trade is deliberate. The result goes
    whole to one driver response anyway, and the pruned range is what
    one response holds, so a single task scanning and sorting it is
    the same order of work as the driver receiving it; a range far
    larger than one response would want the exchange back. Rows tied
    on ``(reading_time, metric_name)`` come back in no defined order,
    as under ``orderBy`` and in the reference."""
    rng = normalize_range(from_str, to_str)
    if rng is None:
        raise ValueError(f"invalid date range: from={from_str!r} to={to_str!r}")
    from_d, to_d = rng
    silver_sel = silver.filter(_range_filter(F.col("reading_date"), from_d, to_d)).select(
        F.col("reading_time"), F.col("metric_name"), F.col("metric_value")
    )
    gold_sel = gold.filter(_range_filter(F.col("reading_date"), from_d, to_d)).select(
        F.col("reading_time"), F.col("metric_name"), F.col("metric_value")
    )
    return (
        silver_sel.unionByName(gold_sel)
        .coalesce(1)
        .sortWithinPartitions("reading_time", "metric_name")
    )


def to_wire_format(readings: DataFrame) -> DataFrame:
    """JSON wire shape: ISO-8601 ms-truncated ``time``, ``name``,
    ``value`` (reference data.py:115-123,150-153)."""
    return readings.select(
        format_timestamp_col(F.col("reading_time")).alias("time"),
        F.col("metric_name").alias("name"),
        F.col("metric_value").alias("value"),
    )
