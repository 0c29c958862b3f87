"""``ingest.post``, the engine's one ``POST /data``: it runs one Spark
job (the bronze append), its ids come from bronze's id record
(``_ids.json``) instead of a ``MAX(id)`` scan, and no crash, compaction
or lost record makes it hand out an id twice (a reused id is a
reused ``raw_id``, the M1 upsert key, and would silently replace a
silver row)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from sensor_data_pipeline___spark import warehouse
from sensor_data_pipeline___spark.operators import incremental
from sensor_data_pipeline___spark.sources import ingest
from sensor_data_pipeline___spark.warehouse import BRONZE, SILVER, Warehouse
from tests.conftest import GOLDEN_LINES

LATE = ["1649941819 Voltage 2.65", "1649941819 Current 13.0"]  # 2022-04-14
DAY2 = ["1650028217 Voltage 2.0", "1650028218 Current 10.0"]  # 2022-04-15


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(None, None)
    return n, out


def _bronze_files(wh):
    return sum(n for n, _b in wh.file_stats(BRONZE).values())


def _assert_silver_distinct(wh, n_rows):
    silver = wh.read(SILVER)
    assert silver.count() == n_rows
    assert silver.select("raw_id").distinct().count() == n_rows


def test_post_job_counts_pinned(spark, wh):
    """The gate and the high-water read launch no Spark job; a POST
    launches exactly one (the append), which adds one file per
    ``ingest_date``; a body of blank lines launches none."""
    n, (bronze, res) = _jobs(
        spark, "gate-pin", lambda: ingest.ingest_batch(spark, ["", *GOLDEN_LINES])
    )
    assert n == 0, n
    assert res == ingest.IngestResult(accepted=4, skipped=1)
    assert bronze.rdd.getNumPartitions() == 1
    assert dict(bronze.dtypes)["ingested_at"] == "timestamp"

    n, res = _jobs(spark, "post-pin-1", lambda: ingest.post(wh, GOLDEN_LINES))
    assert (n, res.accepted) == (1, 4)
    assert _bronze_files(wh) == 1
    n, hw = _jobs(spark, "max-id-pin", wh.max_id)
    assert (n, hw) == (0, 4)

    n, _ = _jobs(spark, "post-pin-2", lambda: ingest.post(wh, ["  ", *DAY2, "\t"]))
    assert n == 1, n
    assert _bronze_files(wh) == 2
    n, hw = _jobs(spark, "max-id-pin-2", wh.max_id)
    assert (n, hw) == (0, 7)  # blank line 1 and 4 left gaps: ids 6, 7

    n, res = _jobs(spark, "post-blank", lambda: ingest.post(wh, ["", " "]))
    assert (n, res) == (0, ingest.IngestResult(accepted=0, skipped=2))
    ids = sorted(r["id"] for r in wh.read(BRONZE).collect())
    assert ids == [1, 2, 3, 4, 6, 7]


def test_cached_post_frame_does_not_freeze_ingested_at(spark, wh):
    """A cached POST frame of some lines must not stand in for a later
    POST of the same lines: with ``current_timestamp()`` in the plan,
    the cache manager matched the later plan to the cached one, the
    append carried the cached (old) ``ingested_at``, and the watermark
    run skipped it."""
    cached, _ = ingest.ingest_batch(spark, GOLDEN_LINES)
    cached = cached.cache()
    try:
        cached.count()
        time.sleep(1.1)
        ingest.post(wh, GOLDEN_LINES)
        assert incremental.run_pipeline(wh) == (4, 1)
        time.sleep(1.1)  # watermark separation
        ingest.post(wh, GOLDEN_LINES)
        assert incremental.run_pipeline(wh) == (4, 1)
    finally:
        cached.unpersist()
    _assert_silver_distinct(wh, 8)


def _crash_on_record_save(monkeypatch):
    def boom(self, table, high_water, files):
        raise OSError("injected crash after the bronze commit")

    monkeypatch.setattr(Warehouse, "_save_ids", boom)


def test_crash_after_commit_reuses_no_id(spark, tmp_path, monkeypatch):
    """The append commits, then the record save fails: the record is
    stale, and the next POST must still number past the committed
    rows. On a ``file:`` root, where the new files' max id comes from
    a Spark aggregate instead of their footers."""
    wh = Warehouse(spark, "file://" + str(tmp_path / "warehouse"))
    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    with monkeypatch.context() as m:
        _crash_on_record_save(m)
        with pytest.raises(OSError, match="injected crash"):
            ingest.post(wh, DAY2)
    assert wh.read(BRONZE).count() == 6  # committed, unrecorded
    time.sleep(1.1)
    ingest.post(wh, LATE)
    assert wh.max_id() == 8
    incremental.run_pipeline(wh)
    _assert_silver_distinct(wh, 8)


def test_compaction_reuses_no_id(spark, wh):
    """``compact`` rewrites bronze's files behind the record: the next
    POST scans the rewritten files and numbers past them."""
    for lines in (GOLDEN_LINES, DAY2):
        ingest.post(wh, lines)
    incremental.run_pipeline(wh)
    assert wh.compact(BRONZE) != []
    assert _bronze_files(wh) == 1
    time.sleep(1.1)
    ingest.post(wh, LATE)
    assert wh.max_id() == 8
    incremental.run_pipeline(wh)
    _assert_silver_distinct(wh, 8)


def test_lost_record_is_adopted(spark, wh):
    """A bronze without a record (deleted, or written before records
    existed) adopts its MAX(id) once, then answers from the record."""
    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    os.remove(os.path.join(wh.path(BRONZE), warehouse._IDS))
    time.sleep(1.1)
    ingest.post(wh, DAY2)
    n, hw = _jobs(spark, "max-id-adopted", wh.max_id)
    assert (n, hw) == (0, 6)
    incremental.run_pipeline(wh)
    _assert_silver_distinct(wh, 6)


def test_high_water_never_decreases(spark, wh):
    """A full refresh of bronze that drops its highest ids keeps the
    high-water, like a sequence after a DELETE."""
    ingest.post(wh, GOLDEN_LINES + DAY2)
    kept = wh.read(BRONZE).filter(F.col("id") <= 2).drop("ingest_date")
    wh.write(BRONZE, kept.localCheckpoint(), wipe=True)
    assert wh.read(BRONZE).count() == 2
    assert wh.max_id() == 6
    ingest.post(wh, LATE)
    ids = sorted(r["id"] for r in wh.read(BRONZE).collect())
    assert ids == [1, 2, 7, 8]
