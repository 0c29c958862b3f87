"""Incremental-layer properties (SURVEY.md §7.1 step 4): re-run with no
new data is a no-op; late old-date rows re-open and correct that day's
gold; full refresh rebuilds; merge is idempotent on raw_id."""

from __future__ import annotations

import datetime
import time

import pytest

from sensor_data_pipeline___spark.operators import incremental
from sensor_data_pipeline___spark.plans import explain
from sensor_data_pipeline___spark.sources import ingest
from sensor_data_pipeline___spark.warehouse import BRONZE, GOLD, SILVER, Warehouse
from tests.conftest import GOLDEN_LINES


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def _post_increment(wh, lines):
    """POST ``lines`` and return the bronze rows it appended: the
    increment the stream body hands to ``run_pipeline``."""
    from pyspark.sql import functions as F

    hw = wh.max_id(BRONZE)
    ingest.post(wh, lines)
    return wh.read(BRONZE).filter(F.col("id") > hw).drop("ingest_date")


def test_first_run_and_noop_rerun(spark, wh):
    ingest.post(wh, GOLDEN_LINES)
    n_silver, n_gold = incremental.run_pipeline(wh)
    assert (n_silver, n_gold) == (4, 1)
    gold1 = wh.read(GOLD).collect()
    assert gold1[0]["metric_value"] == pytest.approx(17.485)

    # no new data → both layers no-op, gold untouched (M1/M2 idempotency)
    time.sleep(1.1)  # ensure a later wall-clock for watermark separation
    n_silver2, n_gold2 = incremental.run_pipeline(wh)
    assert (n_silver2, n_gold2) == (0, 0)
    gold2 = wh.read(GOLD).collect()
    assert gold2[0]["calculated_at"] == gold1[0]["calculated_at"]


def test_late_data_reopens_day(spark, wh):
    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    time.sleep(1.1)

    # a late Voltage reading for the SAME old day (2022-04-14) arrives
    ingest.post(wh, ["1649941819 Voltage 2.65"])
    n_silver, n_gold = incremental.run_pipeline(wh)
    assert n_silver == 1
    assert n_gold == 1  # the old day was recomputed

    gold = wh.read(GOLD).collect()
    assert len(gold) == 1
    # full-day recompute: AVG(1.34, 1.35, 2.65) × AVG(12.0, 14.0)
    assert gold[0]["metric_value"] == pytest.approx(((1.34 + 1.35 + 2.65) / 3) * 13.0)


def test_new_day_does_not_touch_old_gold(spark, wh):
    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    old_calc = wh.read(GOLD).collect()[0]["calculated_at"]
    time.sleep(1.1)

    # next day's readings (2022-04-15)
    ingest.post(wh, ["1650028217 Voltage 2.0", "1650028217 Current 10.0"])
    incremental.run_pipeline(wh)
    gold = {str(r["reading_date"]): r for r in wh.read(GOLD).collect()}
    assert len(gold) == 2
    assert gold["2022-04-15"]["metric_value"] == pytest.approx(20.0)
    # untouched day's partition was NOT rewritten
    assert gold["2022-04-14"]["calculated_at"] == old_calc


def test_reprocessed_bronze_dedups_on_raw_id(spark, wh):
    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    # silver watermark is wall-clock; force every bronze row to look
    # "new" again by re-running silver with full_refresh (M5) — result
    # must be identical, not duplicated
    incremental.run_silver(wh, full_refresh=True)
    silver = wh.read(SILVER)
    assert silver.count() == 4
    assert silver.select("raw_id").distinct().count() == 4


def test_full_refresh_rebuilds(spark, wh):
    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    n_silver, n_gold = incremental.run_pipeline(wh, full_refresh=True)
    assert (n_silver, n_gold) == (4, 1)
    assert wh.read(GOLD).collect()[0]["metric_value"] == pytest.approx(17.485)


def test_table_diff_classifies_all_change_types(spark):
    from sensor_data_pipeline___spark.operators.incremental import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (3, "c", 30.0), (5, "e", 50.0)],
        "k int, s string, v double",
    )
    out = {r.k: r.change_type for r in table_diff(old, new, ["k"]).collect()}
    # 1 unchanged (absent), 2 updated, 3 null→value update, 4 deleted,
    # 5 inserted
    assert out == {2: "update", 3: "update", 4: "delete", 5: "insert"}


def test_table_diff_null_not_confused_with_shifted_value(spark):
    """(x, NULL) vs (NULL, x): concat_ws drops nulls, so without the
    sentinel both sides would digest to md5('x') and the update would
    be silently missed."""
    from sensor_data_pipeline___spark.operators.incremental import table_diff

    old = spark.createDataFrame([(1, "x", None)], "k int, a string, b string")
    new = spark.createDataFrame([(1, None, "x")], "k int, a string, b string")
    out = table_diff(old, new, ["k"]).collect()
    assert len(out) == 1 and out[0].change_type == "update"


def test_table_diff_separator_in_value_not_confused(spark):
    """Values containing a would-be separator byte must not shift
    field boundaries: ("a\\x1f", "b") vs ("a", "\\x1fb") are different
    rows and must classify as update (a plain \\x1f-join digests both
    to the same string). Same for embedded NUL vs SQL NULL."""
    from sensor_data_pipeline___spark.operators.incremental import table_diff

    old = spark.createDataFrame(
        [(1, "a\x1f", "b"), (2, "\x00", "z")], "k int, a string, b string"
    )
    new = spark.createDataFrame(
        [(1, "a", "\x1fb"), (2, None, "z")], "k int, a string, b string"
    )
    out = {r.k: r.change_type for r in table_diff(old, new, ["k"]).collect()}
    assert out == {1: "update", 2: "update"}


def test_table_diff_null_distinct_from_literal_null_string(spark):
    """SQL NULL and the string "null" must digest differently (JSON
    renders them as null vs "null")."""
    from sensor_data_pipeline___spark.operators.incremental import table_diff

    old = spark.createDataFrame([(1, None)], "k int, a string")
    new = spark.createDataFrame([(1, "null")], "k int, a string")
    out = table_diff(old, new, ["k"]).collect()
    assert len(out) == 1 and out[0].change_type == "update"


def test_backfill_gold_range(spark, wh):
    """Bounded-range backfill: repairs a manually patched day the
    watermark can't see, drops gold partitions whose silver vanished,
    and leaves out-of-range days byte-untouched."""
    from pyspark.sql import functions as F

    day2 = ["1650028217 Voltage 2.0", "1650028218 Current 10.0"]  # 2022-04-15
    day4 = ["1650201017 Voltage 1.0", "1650201018 Current 2.0"]  # 2022-04-17
    ingest.post(wh, GOLDEN_LINES + day2 + day4)
    incremental.run_pipeline(wh)
    gold0 = {str(r["reading_date"]): r for r in wh.read(GOLD).collect()}
    assert set(gold0) == {"2022-04-14", "2022-04-15", "2022-04-17"}

    # manual silver patch WITHOUT bumping processed_at: drop 04-15's
    # Current rows and double 04-14's Voltage; the watermark path
    # would never recompute either day
    silver = wh.read(SILVER)
    patched = silver.filter(
        ~(
            (F.col("reading_date") == F.lit("2022-04-15").cast("date"))
            & (F.col("metric_name") == "Current")
        )
    ).withColumn(
        "metric_value",
        F.when(
            (F.col("reading_date") == F.lit("2022-04-14").cast("date"))
            & (F.col("metric_name") == "Voltage"),
            F.col("metric_value") * 2,
        ).otherwise(F.col("metric_value")),
    )
    wh.write(SILVER, patched.localCheckpoint())

    # watermark-incremental run sees nothing new -> gold unchanged
    assert incremental.run_gold(wh) == 0

    n = incremental.backfill_gold(wh, "2022-04-14", "2022-04-16")
    assert n == 1  # only 04-14 still has both metrics in range
    gold = {str(r["reading_date"]): r for r in wh.read(GOLD).collect()}
    # 04-14 recomputed with doubled voltage
    assert gold["2022-04-14"]["metric_value"] == pytest.approx(
        2 * ((1.34 + 1.35) / 2) * 13.0
    )
    # 04-15 lost its Current rows -> no power row -> partition dropped
    assert "2022-04-15" not in gold
    # 04-17 out of range: bitwise-identical row (same calculated_at)
    assert gold["2022-04-17"]["calculated_at"] == gold0["2022-04-17"]["calculated_at"]
    assert gold["2022-04-17"]["metric_value"] == gold0["2022-04-17"]["metric_value"]

    # idempotent: same range again -> same content
    incremental.backfill_gold(wh, "2022-04-14", "2022-04-16")
    gold2 = {str(r["reading_date"]): r for r in wh.read(GOLD).collect()}
    assert set(gold2) == set(gold)
    assert gold2["2022-04-14"]["metric_value"] == gold["2022-04-14"]["metric_value"]


def test_crashed_overwrite_leaves_old_partition_intact(spark, wh):
    """Fault-injected commit atomicity — the Spark analog of the
    reference's transaction rollback (reference src/db/connection.py:
    71-89). A dynamic-partition-overwrite that dies mid-write (a task
    raising before job commit) must leave the destination exactly as it
    was: the FileOutputCommitter stages task output under _temporary/
    and only swaps partition directories at JOB commit, so an abort is
    a rollback. A subsequent reader must see the OLD partition in full
    — never a torn mix — and re-running the write must converge."""
    from pyspark.sql import functions as F

    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    before = sorted(map(tuple, wh.read(GOLD).collect()))
    assert len(before) == 1

    @F.udf("double")
    def boom(v):
        raise RuntimeError("injected task failure")

    poisoned = wh.read(GOLD).withColumn("metric_value", boom("metric_value"))
    with pytest.raises(Exception, match="injected task failure"):
        wh.write(GOLD, poisoned)

    # reader sees the old partition, complete and uncorrupted
    after = sorted(map(tuple, wh.read(GOLD).collect()))
    assert after == before
    # the aborted write's staging debris is invisible to readers
    assert wh.read(GOLD).count() == 1

    # re-running the same merge converges to the correct state
    n_gold = incremental.run_gold(wh, full_refresh=True)
    assert n_gold == 1
    final = wh.read(GOLD).collect()
    assert final[0]["metric_value"] == pytest.approx(17.485)


def test_crashed_multiday_overwrite_is_all_or_nothing(spark, wh):
    """Two-day variant: a write that REPLACES one day and ADDS another
    aborts mid-flight — neither partition may change (no 'new day
    committed, old day half-replaced' state)."""
    from pyspark.sql import functions as F

    ingest.post(wh, GOLDEN_LINES)  # 2022-04-14
    ingest.post(wh, ["1650028217 Voltage 2.0", "1650028218 Current 10.0"])  # 2022-04-15
    incremental.run_pipeline(wh)
    before = sorted(map(tuple, wh.read(GOLD).collect()))
    assert len(before) == 2

    # poison only the NEW day's rows: the old day's tasks may finish
    # cleanly, but job abort must roll back both
    @F.udf("double")
    def boom_new_day(v, d):
        if str(d) >= "2022-04-15":
            raise RuntimeError("injected task failure")
        return v

    poisoned = wh.read(GOLD).withColumn(
        "metric_value", boom_new_day("metric_value", "reading_date")
    ).repartition("reading_date")
    with pytest.raises(Exception, match="injected task failure"):
        wh.write(GOLD, poisoned)

    assert sorted(map(tuple, wh.read(GOLD).collect())) == before


def test_silver_schema_evolution_mid_stream(spark, wh):
    """Schema evolution without a catalog: new silver files gain a
    column old files lack. The merged read must expose the union schema
    (nulls for pre-evolution files), the incremental merge must keep
    evolved values on untouched rows while re-derived rows carry null,
    and the gold recompute must be unaffected."""
    from pyspark.sql import functions as F

    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)

    # evolution event: a manual enrichment lands files that carry a new
    # sensor_location column (old partition files untouched)
    patch = (
        wh.read(SILVER)
        .filter(F.col("metric_name") == "Voltage")
        .withColumn("sensor_location", F.lit("rack-7"))
        # fresh processed_at so the patch is itself late-arriving data
        .withColumn("processed_at", F.current_timestamp())
    )
    wh.append(SILVER, patch)

    evolved = wh.read(SILVER)
    assert "sensor_location" in evolved.columns  # mergeSchema read path
    # old files surface null, new files their value
    locs = {
        (r["metric_name"], r["sensor_location"])
        for r in evolved.select("metric_name", "sensor_location").collect()
    }
    assert ("Voltage", "rack-7") in locs
    assert ("Current", None) in locs

    # quality assertions tolerate the evolution (column-targeted)
    from sensor_data_pipeline___spark.functions import quality as q

    results = q.assert_checks(
        q.not_null(evolved, "raw_id"),
        q.not_null(evolved, "metric_value"),
        q.accepted_values(evolved, "metric_name", ["Voltage", "Current"]),
    )
    assert all(r.passed for r in results)

    # gold recompute sees the evolved silver and is unaffected by it
    n_gold = incremental.run_gold(wh, full_refresh=True)
    assert n_gold == 1
    gold = wh.read(GOLD).collect()
    assert gold[0]["metric_value"] == pytest.approx(17.485)
    assert "sensor_location" not in wh.read(GOLD).columns


def test_silver_merge_after_evolution(spark, wh):
    """New bronze data arriving AFTER the evolution: the merge must not
    fail on the column mismatch; re-derived rows carry null in the
    evolved column, surviving evolved rows keep their values."""
    import time as _time

    from pyspark.sql import functions as F

    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)

    # materialize before overwriting the files being read
    evolved_all = (
        wh.read(SILVER)
        .withColumn("sensor_location", F.lit("rack-7"))
        .localCheckpoint(eager=True)
    )
    # rewrite the whole table with the evolved schema (static overwrite)
    wh.write(SILVER, evolved_all, wipe=True)

    _time.sleep(1.1)
    # a late reading for the same day re-opens the partition
    ingest.post(wh, ["1649941819 Voltage 2.65"])
    n = incremental.run_silver(wh)
    assert n == 1

    silver = wh.read(SILVER)
    assert silver.count() == 5
    by_val = {
        r["metric_value"]: r["sensor_location"] for r in silver.collect()
    }
    assert by_val[2.65] is None  # re-derived row: no evolved value
    assert by_val[1.34] == "rack-7"  # surviving row kept its value


def test_increment_fast_path_matches_watermark_path(spark, tmp_path):
    """VERDICT r6 directive #6: the streaming fast path (increment +
    affected_days handed in, no watermark scans, gold fused into its
    write) must leave silver and gold in exactly the state the
    watermark path produces, across multi-batch, multi-day, and
    late-data sequences — including the superset-days tolerance."""
    from pyspark.sql import functions as F

    batches = [
        ["1649941817 Voltage 1.34", "1649941818 Current 12.0"],
        ["1649941819 Voltage 2.66", "1649941820 Current 13.0"],
        # late data: a day-1 row arriving alongside day-2 rows (day 2
        # gets both metrics so it produces a gold row — F5)
        ["1650028219 Voltage 3.00", "1650028220 Current 14.0",
         "1649941821 Current 11.5"],
    ]

    def run(mode):
        wh2 = Warehouse(spark, str(tmp_path / f"wh_{mode}"))
        for i, lines in enumerate(batches):
            inc = _post_increment(wh2, lines)
            if mode == "watermark" or i == 0:
                # batch 0 has no silver yet → both modes take the
                # classic path (the fast path requires exists(SILVER))
                incremental.run_pipeline(wh2)
            else:
                days = [
                    r["d"]
                    for r in inc.select(
                        F.to_date(
                            F.timestamp_seconds(
                                F.split("raw_line", " ")[0].cast("long")
                            )
                        ).alias("d")
                    ).distinct().collect()
                ]
                assert incremental.run_pipeline(
                    wh2, increment=inc, affected_days=days
                ) == (-1, -1)
            time.sleep(1.05)  # watermark separation between batches
        silver = sorted(
            (r["raw_id"], r["metric_name"], r["metric_value"],
             str(r["reading_date"]))
            for r in wh2.read(SILVER).collect()
        )
        gold = sorted(
            (str(r["reading_date"]), r["metric_name"],
             round(r["metric_value"], 6))
            for r in wh2.read(GOLD).collect()
        )
        return silver, gold

    s_wm, g_wm = run("watermark")
    s_inc, g_inc = run("increment")
    assert s_inc == s_wm
    assert g_inc == g_wm
    assert len(g_inc) == 2  # two distinct days present


def test_increment_fast_path_empty_gold_write_is_noop(spark, tmp_path):
    """The increment path folds the gold aggregate into the write with
    no emptiness guard — an empty aggregate under dynamic partition
    overwrite must write NO partitions and leave existing gold
    untouched (the invariant the fusion relies on)."""
    from pyspark.sql import functions as F

    wh2 = Warehouse(spark, str(tmp_path / "wh"))
    # day 1: both metrics -> a gold row
    ingest.post(wh2, ["1649941817 Voltage 1.34", "1649941818 Current 12.0"])
    incremental.run_pipeline(wh2)
    gold0 = wh2.read(GOLD).collect()
    assert len(gold0) == 1

    # day 2 increment: ONLY Voltage -> silver_to_gold aggregates to
    # zero rows (F5 both-metrics filter)
    b1 = _post_increment(wh2, ["1650028219 Voltage 3.00"])
    n, g = incremental.run_pipeline(
        wh2, increment=b1,
        affected_days=[__import__("datetime").date(2022, 4, 15)],
    )
    assert (n, g) == (-1, -1)
    gold1 = wh2.read(GOLD).collect()
    assert len(gold1) == 1  # day 1's row intact, no day-2 partition
    assert gold1[0]["calculated_at"] == gold0[0]["calculated_at"]
    # the silver row DID land
    assert wh2.read(SILVER).count() == 3


def test_increment_fast_path_subset_days_never_deletes(spark, tmp_path):
    """ADVICE r7 (medium): an affected_days list that is a SUBSET of
    the increment's actual reading dates must never destroy data. The
    unlisted day's existing silver partition used to be overwritten
    with increment-only rows (the parse emitted them into the merged
    frame); the contract guard now restricts the parse to the listed
    days, so the unlisted day's partition is untouched and only the
    listed day's rows land. An increment with no days list at all is
    refused before anything is written."""
    import datetime

    from pyspark.sql import functions as F

    wh2 = Warehouse(spark, str(tmp_path / "wh"))
    # seed day 1 (2022-04-14) with two rows via the classic path
    ingest.post(wh2, ["1649941817 Voltage 1.34", "1649941818 Current 12.0"])
    incremental.run_pipeline(wh2)
    day1 = datetime.date(2022, 4, 14)
    before = sorted(
        (r["raw_id"], r["metric_name"])
        for r in wh2.read(SILVER)
        .filter(F.col("reading_date") == F.lit(day1))
        .collect()
    )
    assert len(before) == 2

    # increment touches day 1 AND day 2, but the caller only lists
    # day 2 — the day-1 increment row must be IGNORED, not merged, and
    # day 1's existing partition must survive byte-identically
    b1 = _post_increment(
        wh2,
        ["1650028219 Voltage 3.00", "1650028220 Current 14.0",
         "1649941819 Voltage 9.99"],
    )
    with pytest.raises(ValueError, match="affected_days"):
        incremental.run_pipeline(wh2, increment=b1)
    assert wh2.read(SILVER).count() == 2
    incremental.run_pipeline(
        wh2, increment=b1,
        affected_days=[datetime.date(2022, 4, 15)],
    )
    silver = wh2.read(SILVER)
    after = sorted(
        (r["raw_id"], r["metric_name"])
        for r in silver.filter(
            F.col("reading_date") == F.lit(day1)
        ).collect()
    )
    assert after == before  # day 1 untouched — no deletion, no 9.99 row
    day2 = silver.filter(
        F.col("reading_date") == F.lit(datetime.date(2022, 4, 15))
    )
    assert day2.count() == 2  # listed day landed normally


def test_schema_record_survives_narrower_append(spark, tmp_path):
    """Review r8: the table's schema record must be the UNION across
    writes, not last-write-wins — an append missing an evolved column
    must not make reads drop that column (on-disk files still carry
    it; a later merge would make the loss permanent)."""
    from pyspark.sql import functions as F

    wh2 = Warehouse(spark, str(tmp_path / "wh"))
    import datetime

    d = datetime.date(2022, 4, 14)
    wide = spark.createDataFrame(
        [(1, "Voltage", 1.5, d, "x")],
        "raw_id long, metric_name string, metric_value double, "
        "reading_date date, extra string",
    )
    wh2.write(SILVER, wide)
    narrow = spark.createDataFrame(
        [(2, "Current", 2.5, d)],
        "raw_id long, metric_name string, metric_value double, "
        "reading_date date",
    )
    wh2.append(SILVER, narrow)

    got = wh2.read(SILVER)
    assert "extra" in got.columns
    rows = {r.raw_id: r.extra for r in got.collect()}
    assert rows == {1: "x", 2: None}


def test_backfill_gold_drops_stale_day_on_file_uri(spark, tmp_path):
    """The warehouse on a ``file:`` URI root: table existence, the
    schema record and backfill's stale-day drop all go through the
    Hadoop FileSystem branch of operators/_fsio.py."""
    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.operators import _fsio
    from sensor_data_pipeline___spark.warehouse import _RECORD

    wh = Warehouse(spark, "file:" + str(tmp_path / "wh_uri"))
    assert _fsio.is_uri(wh.root)
    day2 = ["1650028217 Voltage 2.0", "1650028218 Current 10.0"]  # 2022-04-15
    ingest.post(wh, GOLDEN_LINES + day2)
    assert incremental.run_pipeline(wh) == (6, 2)
    for table in (BRONZE, SILVER, GOLD):
        assert wh.exists(table)
        assert _fsio.exists(wh.path(table) + "/" + _RECORD)

    # 04-15 loses its Current rows in silver: its gold day goes stale
    d2 = F.lit("2022-04-15").cast("date")
    patched = wh.read(SILVER).filter(
        (F.col("reading_date") == d2) & (F.col("metric_name") == "Voltage")
    )
    wh.write(SILVER, patched.localCheckpoint(eager=True))
    assert incremental.backfill_gold(wh, "2022-04-14", "2022-04-15") == 1
    gold = {str(r["reading_date"]) for r in wh.read(GOLD).collect()}
    assert gold == {"2022-04-14"}
    assert not _fsio.exists(wh.path(GOLD) + "/reading_date=2022-04-15")


def test_watermark_path_recovers_lagging_gold(spark, wh):
    """A bare run_silver after a late line leaves gold behind silver
    (gold's watermark is older than silver's). The next run_pipeline
    must not take the one-pass path — it finds no new bronze rows, so
    it would recompute nothing — but fall back to run_gold, which
    recomputes the late line's day from its own watermark."""
    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    time.sleep(1.1)

    ingest.post(wh, ["1649941819 Voltage 2.65"])
    assert incremental.run_silver(wh) == 1
    assert incremental.run_pipeline(wh) == (0, 1)
    gold = wh.read(GOLD).collect()
    assert len(gold) == 1
    # AVG(1.34, 1.35, 2.65) × AVG(12.0, 14.0)
    assert gold[0]["metric_value"] == pytest.approx(((1.34 + 1.35 + 2.65) / 3) * 13.0)


def test_watermark_path_one_metric_day_lands_with_its_pair(spark, wh):
    """A new day with only Voltage writes its silver row and no gold
    row: the one-pass path returns (1, 0) (its gold Observation reads
    0 on an empty write). Gold then lags silver, so the run that adds
    the day's Current recomputes the day: AVG(V) × AVG(I) = 3 × 14."""
    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    time.sleep(1.1)

    ingest.post(wh, ["1650028219 Voltage 3.00"])
    assert incremental.run_pipeline(wh) == (1, 0)
    assert wh.read(GOLD).count() == 1
    time.sleep(1.1)

    ingest.post(wh, ["1650028220 Current 14.0"])
    assert incremental.run_pipeline(wh) == (1, 1)
    gold = {str(r["reading_date"]): r["metric_value"] for r in wh.read(GOLD).collect()}
    assert gold["2022-04-15"] == pytest.approx(42.0)
    assert gold["2022-04-14"] == pytest.approx(17.485)


def test_steady_hourly_run_job_count_pinned(spark, wh):
    """The one-pass watermark path runs FOUR actions — the two-table
    watermark aggregate, the new rows' parse checkpoint (its row count
    and days are observed inside it), the merged-days checkpoint and
    the silver write — plus the gold write, which AQE splits into at
    most 8 jobs on this shape. The run_silver + run_gold pair it
    replaces took 18. Pin the ceiling so a re-introduced count,
    distinct or gold checkpoint fails here rather than as a drift."""
    ingest.post(wh, GOLDEN_LINES)
    incremental.run_pipeline(wh)
    time.sleep(1.1)
    ingest.post(wh, ["1649941819 Voltage 2.0", "1650028220 Current 13.0"])

    sc = spark.sparkContext
    sc.setJobGroup("hourly-pin", "steady hourly run_pipeline job-count pin")
    try:
        counts = incremental.run_pipeline(wh)
    finally:
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("hourly-pin"))
        sc.setJobGroup(None, None)
    assert counts == (2, 1)
    assert 0 < n_jobs <= 8, n_jobs


def test_pipeline_writes_one_silver_file_per_day(spark, wh):
    """Every pipeline write leaves one parquet file per silver day it
    writes: the history load on an empty warehouse (rebalanced by
    day), a watermark-path hourly run with late lines, and an
    increment run (both a one-task write of the merged days)."""
    from pyspark.sql import functions as F

    def assert_one_file_per_day(n_days):
        stats = wh.file_stats(SILVER)
        assert len(stats) == n_days, stats
        assert all(
            rel.startswith("reading_date=") and n == 1
            for rel, (n, _b) in stats.items()
        ), stats

    day2 = ["1650028217 Voltage 2.0", "1650028218 Current 10.0"]  # 2022-04-15
    ingest.post(wh, GOLDEN_LINES + day2)
    assert incremental.run_pipeline(wh) == (6, 2)
    assert_one_file_per_day(2)
    time.sleep(1.1)

    # late lines for both old days, and a new day
    ingest.post(wh, [
        "1649941819 Voltage 2.65",
        "1650028219 Current 14.0",
        "1650114617 Voltage 3.0",
        "1650114618 Current 11.0",
    ])
    assert incremental.run_pipeline(wh) == (4, 3)
    assert_one_file_per_day(3)
    time.sleep(1.1)

    # an increment with a late day-2 line and a new day
    inc = _post_increment(
        wh, ["1650028220 Voltage 4.0", "1650201017 Voltage 5.0",
             "1650201018 Current 2.0"]
    )
    days = [datetime.date(2022, 4, 15), datetime.date(2022, 4, 17)]
    assert incremental.run_pipeline(wh, increment=inc, affected_days=days) == (-1, -1)
    assert_one_file_per_day(4)

    silver = wh.read(SILVER)
    assert silver.count() == 13
    assert silver.select("raw_id").distinct().count() == 13
    gold = {str(r["reading_date"]): r["metric_value"] for r in wh.read(GOLD).collect()}
    assert gold == pytest.approx({
        "2022-04-14": ((1.34 + 1.35 + 2.65) / 3) * 13.0,
        "2022-04-15": ((2.0 + 4.0) / 2) * 12.0,
        "2022-04-16": 3.0 * 11.0,
        "2022-04-17": 5.0 * 2.0,
    })


def test_lines_df_is_a_local_table_scan(spark):
    """A POST body becomes a JVM local relation, not a Python-RDD
    scan, whether or not Arrow is enabled for pandas conversion; blank,
    whitespace-only and non-ASCII lines come back unchanged."""
    lines = ["1649941817 Voltage 1.34", "", "   ", "1649941818 Völtage 1.35 ☃", ""]
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(conf)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(conf, arrow)
            df = ingest.lines_df(spark, lines)
            plan = explain.formatted_plan(df)
            assert "LocalTableScan" in plan, plan
            assert "ExistingRDD" not in plan and "Python" not in plan, plan
            assert [r["raw_line"] for r in df.collect()] == lines
    finally:
        spark.conf.set(conf, prev)
    assert ingest.lines_df(spark, []).count() == 0
