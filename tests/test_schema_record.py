"""The warehouse's per-table schema record (``_schema.json``): reads
through it match a ``mergeSchema`` read of the same files, launch no
Spark job, and writes keep it consistent with the data (union before
the commit, replace after a full refresh, reject a type conflict before
anything is written)."""

from __future__ import annotations

import collections
import datetime
import os
import time

import pytest
from pyspark.sql import functions as F

from sensor_data_pipeline___spark.operators import incremental, serving
from sensor_data_pipeline___spark.plans import explain
from sensor_data_pipeline___spark.sources import ingest
from sensor_data_pipeline___spark.warehouse import _RECORD, GOLD, SILVER, Warehouse
from tests.conftest import GOLDEN_LINES

DAY2 = ["1650028217 Voltage 2.0", "1650028218 Current 10.0"]  # 2022-04-15


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def _silver_frame(spark, rows, extra=False):
    ddl = "raw_id long, metric_name string, metric_value double, reading_date date"
    return spark.createDataFrame(rows, ddl + (", extra string" if extra else ""))


def _record_path(wh, table):
    return os.path.join(wh.path(table), _RECORD)


def _files(root):
    """{relative path: bytes} of every file under ``root``."""
    return {
        os.path.relpath(os.path.join(d, f), root): os.path.getsize(os.path.join(d, f))
        for d, _dirs, names in os.walk(root)
        for f in names
    }


def _evolve(spark, wh):
    """run_pipeline, then a manual enrichment appends silver files that
    carry a new ``sensor_location`` column (the evolution of
    test_silver_schema_evolution_mid_stream)."""
    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    patch = (
        wh.read(SILVER)
        .filter(F.col("metric_name") == "Voltage")
        .withColumn("sensor_location", F.lit("rack-7"))
        .withColumn("processed_at", F.current_timestamp())
    )
    wh.append(SILVER, patch)


def _first_write(spark, wh):
    d = datetime.date(2022, 4, 14)
    wh.write(SILVER, _silver_frame(spark, [(1, "Voltage", 1.5, d)]))


def _append(spark, wh):
    d = datetime.date(2022, 4, 14)
    wh.write(SILVER, _silver_frame(spark, [(1, "Voltage", 1.5, d)]))
    wh.append(SILVER, _silver_frame(spark, [(2, "Current", 2.5, d)]))


def _narrower_append(spark, wh):
    d = datetime.date(2022, 4, 14)
    wh.write(SILVER, _silver_frame(spark, [(1, "Voltage", 1.5, d, "x")], extra=True))
    wh.append(SILVER, _silver_frame(spark, [(2, "Current", 2.5, d)]))


def _wipe_after_evolution(spark, wh):
    _evolve(spark, wh)
    narrowed = (
        wh.read(SILVER).drop("sensor_location").localCheckpoint(eager=True)
    )
    wh.write(SILVER, narrowed, wipe=True)
    assert "sensor_location" not in wh.read(SILVER).columns


def _compact(spark, wh):
    _evolve(spark, wh)
    assert wh.compact(SILVER, target_file_bytes=1 << 20)


def _second_instance(spark, wh):
    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    # another Warehouse on the same root evolves the table; `wh` never
    # wrote the evolved column, yet must read it
    other = Warehouse(spark, wh.root)
    patch = other.read(SILVER).withColumn("sensor_location", F.lit("rack-7"))
    other.append(SILVER, patch.localCheckpoint(eager=True))
    assert "sensor_location" in wh.read(SILVER).columns


def _no_record(spark, wh):
    _evolve(spark, wh)
    os.remove(_record_path(wh, SILVER))


def _unrecorded_then_narrower_append(spark, wh):
    # the first write to a table without a record adopts the footers'
    # merged schema, so the narrower append cannot hide sensor_location
    _no_record(spark, wh)
    narrow = wh.read(SILVER).drop("sensor_location").limit(1)
    wh.append(SILVER, narrow.withColumn("raw_id", F.lit(99).cast("long")))
    assert "sensor_location" in wh.read(SILVER).columns


@pytest.mark.parametrize(
    "build",
    [
        _first_write,
        _append,
        _narrower_append,
        _evolve,
        _wipe_after_evolution,
        _compact,
        _second_instance,
        _no_record,
        _unrecorded_then_narrower_append,
    ],
    ids=[
        "first_write",
        "append",
        "narrower_append",
        "evolving_append",
        "wipe_after_evolution",
        "compact",
        "second_instance",
        "no_record",
        "unrecorded_then_narrower_append",
    ],
)
def test_read_matches_merge_schema(spark, wh, build):
    """``wh.read`` equals an explicit ``mergeSchema`` read of the same
    files: column names, types and rows (nullability ignored)."""
    build(spark, wh)
    assert os.path.exists(_record_path(wh, SILVER)) == (build is not _no_record)
    got = wh.read(SILVER)
    want = spark.read.option("mergeSchema", "true").parquet(wh.path(SILVER))

    def cols(df):
        return sorted((f.name, f.dataType.simpleString()) for f in df.schema.fields)

    assert cols(got) == cols(want)
    names = sorted(want.columns)

    def rows(df):
        return collections.Counter(map(tuple, df.select(*names).collect()))

    assert rows(got) == rows(want)


def test_type_conflict_raises_before_any_write(spark, wh):
    """A column whose type conflicts with the record fails the write
    itself (``mergeSchema`` would only fail at the next read), and the
    table — files, record and rows — is unchanged."""
    d = datetime.date(2022, 4, 14)
    wh.write(SILVER, _silver_frame(spark, [(1, "Voltage", 1.5, d)]))
    files = _files(wh.path(SILVER))
    rows = sorted(map(tuple, wh.read(SILVER).collect()))

    bad = spark.createDataFrame(
        [(2, "Current", "2.5", datetime.date(2022, 4, 15))],
        "raw_id long, metric_name string, metric_value string, reading_date date",
    )
    with pytest.raises(TypeError, match="metric_value"):
        wh.append(SILVER, bad)

    assert _files(wh.path(SILVER)) == files
    assert sorted(map(tuple, wh.read(SILVER).collect())) == rows


def test_failed_write_adding_a_column_leaves_rows_unchanged(spark, wh):
    """A write that adds a column and then fails mid-job: the record
    was unioned before the commit, so the new column may show up, but
    only all-null — the table's rows are unchanged and nothing on disk
    is hidden."""
    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    cols = wh.read(GOLD).columns
    before = sorted(map(tuple, wh.read(GOLD).collect()))

    @F.udf("string")
    def boom(v):
        raise RuntimeError("injected task failure")

    poisoned = wh.read(GOLD).withColumn("note", boom("metric_value"))
    with pytest.raises(Exception, match="injected task failure"):
        wh.write(GOLD, poisoned)

    after = wh.read(GOLD)
    assert sorted(map(tuple, after.select(*cols).collect())) == before
    assert after.filter(F.col("note").isNotNull()).count() == 0
    on_disk = spark.read.option("mergeSchema", "true").parquet(wh.path(GOLD))
    assert set(on_disk.columns) <= set(after.columns)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(None, None)
    return n, out


def test_recorded_read_fires_no_job(spark, wh):
    """Reading a recorded table is driver-side only; the footer job
    comes back only for a table without a record."""
    ingest.post(wh, GOLDEN_LINES + DAY2)
    incremental.run_pipeline(wh)
    n, _ = _jobs(spark, "read-recorded", lambda: (wh.read(SILVER), wh.read(GOLD)))
    assert n == 0
    os.remove(_record_path(wh, GOLD))
    n, _ = _jobs(spark, "read-unrecorded", lambda: wh.read(GOLD))
    assert n >= 1


def test_get_job_budget_pinned(spark, wh):
    """One ``GET /data`` over a small silver+gold warehouse is ONE
    job: the two reads fire no footer job, and the sort runs inside
    the fetch's single task (a global ``orderBy`` added a sampling
    and a sort job; a ``mergeSchema`` read one more per table). A
    re-introduced footer job or range exchange fails here."""
    ingest.post(wh, GOLDEN_LINES + DAY2)
    incremental.run_pipeline(wh)

    def get():
        return serving.to_wire_format(
            serving.readings_by_date_range(
                wh.read(SILVER), wh.read(GOLD), "2022-04-14", "2022-04-16"
            )
        ).collect()

    n, rows = _jobs(spark, "get-pin", get)
    assert len(rows) == 8
    assert n == 1, n


def test_get_over_separately_written_days_is_sorted_without_exchange(spark, wh):
    """A GET spanning three silver days, each written by its own POST
    and ``run_pipeline``, plus their three gold rows: the rows come
    back in ``(time, name)`` order although each day's file is sorted
    by metric name and gold is a second scan, and the plan has no
    Exchange."""
    day3 = ["1650114617 Current 11.0", "1650114616 Voltage 3.0"]  # 2022-04-16
    for lines in (DAY2, GOLDEN_LINES, day3):
        ingest.post(wh, lines)
        incremental.run_pipeline(wh)
        time.sleep(1.1)  # watermark separation between the runs
    df = serving.to_wire_format(
        serving.readings_by_date_range(
            wh.read(SILVER), wh.read(GOLD), "2022-04-14", "2022-04-17"
        )
    )
    assert "Exchange" not in explain.formatted_plan(df)
    rows = [(r["time"], r["name"], r["value"]) for r in df.collect()]
    assert len(rows) == 11
    assert sum(name == "Power" for _t, name, _v in rows) == 3
    assert rows == sorted(rows, key=lambda r: (r[0], r[1]))
