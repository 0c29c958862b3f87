"""Partitioned overwrites keep their meaning on a session whose
``partitionOverwriteMode`` is Spark's own default, STATIC — under which
an unpinned partitioned "overwrite" first drops EVERY partition of the
target. Each write pins the mode it needs (operators/_writes.py); these
tests run the medallion writes on a static session, and check that the
session still says static afterwards."""

from __future__ import annotations

import datetime
import time

import pytest
from pyspark.sql import functions as F

from sensor_data_pipeline___spark.operators import incremental
from sensor_data_pipeline___spark.sources import ingest
from sensor_data_pipeline___spark.streaming import pipeline as sp
from sensor_data_pipeline___spark.warehouse import BRONZE, GOLD, SILVER, Warehouse
from tests.conftest import GOLDEN_LINES

_CONF = "spark.sql.sources.partitionOverwriteMode"


@pytest.fixture()
def static_spark(spark):
    prior = spark.conf.get(_CONF, None)
    spark.conf.set(_CONF, "static")
    try:
        yield spark
    finally:
        if prior is None:
            spark.conf.unset(_CONF)
        else:
            spark.conf.set(_CONF, prior)


def _days(df):
    return sorted({str(r["reading_date"]) for r in df.collect()})


def test_hourly_cycles_keep_every_day(static_spark, tmp_path):
    """Two POST + run_pipeline cycles on different days: the second
    cycle's merge must rewrite only its own day of silver and gold."""
    spark = static_spark
    wh = Warehouse(spark, str(tmp_path / "wh"))
    day2 = ["1650028217 Voltage 2.0", "1650028217 Current 10.0"]
    for lines in (GOLDEN_LINES, day2):
        ingest.post(wh, lines)
        incremental.run_pipeline(wh)
        time.sleep(1.1)  # watermark separation between cycles
    assert wh.read(SILVER).count() == 6
    assert _days(wh.read(SILVER)) == ["2022-04-14", "2022-04-15"]
    assert _days(wh.read(GOLD)) == ["2022-04-14", "2022-04-15"]
    assert spark.conf.get(_CONF) == "static"


def test_stream_batches_keep_every_bronze_partition(static_spark, tmp_path):
    """Two micro-batches of the stream body: each writes its own
    ``batch_id`` bronze partition and must leave the other's."""
    spark = static_spark
    wh = Warehouse(spark, str(tmp_path / "wh"))
    process = sp._ingest_batch_fn(wh, None)
    batches = [
        ["1649941817 Voltage 1.34", "1649941818 Current 12.0"],
        ["1649941819 Voltage 2.0", "1650028220 Current 13.0"],
    ]
    for batch_id, lines in enumerate(batches):
        process(spark.createDataFrame([(ln,) for ln in lines], "value string"), batch_id)
    assert wh.read(BRONZE).count() == 4
    assert wh.read(SILVER).count() == 4
    assert _days(wh.read(SILVER)) == ["2022-04-14", "2022-04-15"]
    assert spark.conf.get(_CONF) == "static"


def test_compact_keeps_partitions_it_does_not_rewrite(static_spark, tmp_path):
    """A fragmented day is compacted; a healthy one-file day is not in
    the rewrite and must keep its rows."""
    spark = static_spark
    wh = Warehouse(spark, str(tmp_path / "wh"))

    def rows(day: str, first_id: int):
        return spark.range(first_id, first_id + 20).select(
            F.col("id").alias("raw_id"),
            F.to_timestamp(F.lit(f"{day} 10:00:00")).alias("reading_timestamp"),
            F.lit("Voltage").alias("metric_name"),
            (F.col("id") * 1.5).alias("metric_value"),
            F.current_timestamp().alias("processed_at"),
            F.to_date(F.lit(day)).alias("reading_date"),
        ).coalesce(1)

    for i in range(3):
        wh.append(SILVER, rows("2022-04-14", i * 20))
    wh.append(SILVER, rows("2022-04-15", 100))
    assert wh.compact(SILVER, target_file_bytes=1 << 30) == [
        "reading_date=2022-04-14"
    ]
    silver = wh.read(SILVER)
    assert silver.count() == 80
    assert (
        silver.filter(F.col("reading_date") == F.lit(datetime.date(2022, 4, 15))).count()
        == 20
    )
    assert spark.conf.get(_CONF) == "static"


def test_changelog_batches_keep_every_partition(static_spark, tmp_path):
    """The stateful streams' changelog sink: batch 1 must not drop
    batch 0's partition."""
    spark = static_spark
    out = str(tmp_path / "changelog")
    for batch_id in (0, 1):
        sp._write_changelog_batch(
            spark.createDataFrame([("Voltage", 1.0)], "metric_name string, v double"),
            batch_id,
            out,
        )
    assert sorted(r["batch_id"] for r in spark.read.parquet(out).collect()) == [0, 1]
    assert spark.conf.get(_CONF) == "static"
