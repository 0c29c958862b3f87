"""Data-quality assertion library (the dbt schema tests re-expressed —
SURVEY.md §5 tier 2), exercised against silver/gold like the
reference's _staging.yml / _marts.yml suites."""

from __future__ import annotations

import pytest

from sensor_data_pipeline___spark.functions import quality as q
from sensor_data_pipeline___spark.operators.gold import silver_to_gold
from sensor_data_pipeline___spark.operators.silver import bronze_to_silver
from sensor_data_pipeline___spark.sources import ingest
from tests.conftest import GOLDEN_LINES


@pytest.fixture(scope="module")
def silver(spark):
    bronze, _ = ingest.ingest_batch(spark, GOLDEN_LINES)
    df = bronze_to_silver(bronze).cache()
    yield df
    df.unpersist()  # see tests/test_pipeline_golden.py::bronze


def test_silver_suite_passes(spark, silver):
    # _staging.yml:13-46 — one Spark action for the whole suite
    results = q.assert_checks(
        q.unique(silver, "raw_id"),
        q.not_null(silver, "raw_id"),
        q.not_null(silver, "reading_time"),
        q.not_null(silver, "metric_value"),
        q.not_null(silver, "reading_date"),
        q.not_null(silver, "processed_at"),
        q.not_null(silver, "metric_name"),
        q.accepted_values(silver, "metric_name", ["Voltage", "Current"]),
    )
    assert all(r.passed for r in results)


def test_gold_suite_passes(spark, silver):
    gold = silver_to_gold(silver)
    results = q.assert_checks(
        q.accepted_values(gold, "metric_name", ["Power"]),
        q.unique(gold, "reading_date"),
        q.not_null(gold, "reading_date"),
        q.not_null(gold, "metric_value"),
        q.expression_is_true(gold, "metric_value >= 0", severity="warn"),
    )
    assert all(r.passed for r in results)


def test_violations_detected(spark):
    df = spark.createDataFrame(
        [(1, "Voltage"), (1, "Current"), (None, "Temperature")],
        "raw_id int, metric_name string",
    )
    results = q.run_checks(
        q.unique(df, "raw_id"),
        q.not_null(df, "raw_id"),
        q.accepted_values(df, "metric_name", ["Voltage", "Current"]),
    )
    by_check = {(r.check, r.column): r.violations for r in results}
    assert by_check[("unique", "raw_id")] == 1  # one value duplicated
    assert by_check[("not_null", "raw_id")] == 1
    assert by_check[("accepted_values", "metric_name")] == 1
    with pytest.raises(AssertionError):
        q.assert_checks(q.not_null(df, "raw_id"))


def test_warn_severity_does_not_raise(spark):
    df = spark.createDataFrame([(-1.0,)], "metric_value double")
    results = q.assert_checks(
        q.expression_is_true(df, "metric_value >= 0", severity="warn")
    )
    assert results[0].violations == 1  # reported but not raised
