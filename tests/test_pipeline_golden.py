"""End-to-end golden test: the reference's e2e shell test
(scripts/test_all.sh:161-268) re-expressed over the Spark pipeline.

Goldens: bronze 4 rows, silver 4 rows, gold 1 row with power
17.485 = AVG(1.34,1.35) × AVG(12.0,14.0), GET 2022-04-14..15 → 5 rows
(4 readings + 1 Power at midnight), ordered by (time, name), exact ISO
millisecond strings.
"""

from __future__ import annotations

import pytest

from sensor_data_pipeline___spark.operators.gold import silver_to_gold
from sensor_data_pipeline___spark.operators.serving import (
    readings_by_date_range,
    to_wire_format,
)
from sensor_data_pipeline___spark.operators.silver import bronze_to_silver
from sensor_data_pipeline___spark.sources import ingest
from tests.conftest import DIVERGENCE_LINES, GOLDEN_LINES, INVALID_LINES


@pytest.fixture(scope="module")
def bronze(spark):
    df, result = ingest.ingest_batch(spark, GOLDEN_LINES)
    assert result.accepted == 4 and result.skipped == 0
    df = df.cache()
    yield df
    # a cached POST frame stays in the session's cache manager, which
    # would serve its frozen ingested_at to every later POST of the
    # same lines (their plans match the cached one)
    df.unpersist()


def test_bronze_counts(bronze):
    assert bronze.count() == 4
    ids = [r["id"] for r in bronze.select("id").collect()]
    assert len(set(ids)) == 4  # surrogate ids unique


def test_silver_golden(spark, bronze):
    silver = bronze_to_silver(bronze)
    rows = silver.orderBy("reading_time", "metric_name").collect()
    assert len(rows) == 4
    assert {r["metric_name"] for r in rows} == {"Voltage", "Current"}
    assert all(str(r["reading_date"]) == "2022-04-14" for r in rows)
    assert rows[0]["reading_time"].isoformat().startswith("2022-04-14T13:10:17")


def test_gold_golden(spark, bronze):
    gold = silver_to_gold(bronze_to_silver(bronze))
    rows = gold.collect()
    assert len(rows) == 1
    row = rows[0]
    assert row["metric_name"] == "Power"
    assert row["metric_value"] == pytest.approx(17.485)
    assert round(row["metric_value"], 2) == 17.49
    assert str(row["reading_date"]) == "2022-04-14"
    assert row["reading_time"].isoformat().startswith("2022-04-14T00:00:00")


def test_serving_golden(spark, bronze):
    silver = bronze_to_silver(bronze)
    gold = silver_to_gold(silver)
    out = to_wire_format(
        readings_by_date_range(silver, gold, "2022-04-14", "2022-04-15")
    ).collect()
    assert len(out) == 5  # 4 readings + 1 Power
    # Power row is at midnight → sorts first; then (time, name) order.
    assert [(r["time"], r["name"]) for r in out] == [
        ("2022-04-14T00:00:00.000Z", "Power"),
        ("2022-04-14T13:10:17.000Z", "Current"),
        ("2022-04-14T13:10:17.000Z", "Voltage"),
        ("2022-04-14T13:10:18.000Z", "Current"),
        ("2022-04-14T13:10:18.000Z", "Voltage"),
    ]
    power = [r for r in out if r["name"] == "Power"][0]
    assert power["value"] == pytest.approx(17.485)


def test_serving_range_semantics(spark, bronze):
    silver = bronze_to_silver(bronze)
    gold = silver_to_gold(silver)
    # Date-only `to` is inclusive; `to` with a time component is
    # truncated to midnight → exclusive (reference data.py:104-108).
    assert readings_by_date_range(silver, gold, "2022-04-14", "2022-04-14").count() == 5
    assert readings_by_date_range(
        silver, gold, "2022-04-14", "2022-04-14T13:10:17.123Z"
    ).count() == 0
    assert readings_by_date_range(silver, gold, "2022-04-15", "2022-04-16").count() == 0


def test_invalid_batch_rejected(spark):
    for bad in INVALID_LINES:
        with pytest.raises(ingest.IngestRejected):
            ingest.ingest_batch(spark, GOLDEN_LINES + [bad])


def test_blank_lines_skipped(spark):
    df, result = ingest.ingest_batch(spark, ["", "   "] + GOLDEN_LINES + ["\t"])
    assert result.accepted == 4 and result.skipped == 3
    assert df.count() == 4


def test_divergence_corpus(spark):
    # Accepted at the ingest gate, silently dropped by the silver parse
    # (SURVEY.md §2.9: bronze ⊇ silver).
    df, result = ingest.ingest_batch(spark, GOLDEN_LINES + DIVERGENCE_LINES)
    assert result.accepted == 8
    silver = bronze_to_silver(df)
    assert silver.count() == 4
    assert silver.filter("metric_value > 100").count() == 0  # 1e3 dropped
