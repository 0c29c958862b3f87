"""Skew (salting) and bucketing (co-located join) scale strategies."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sensor_data_pipeline___spark.operators.skew import salted_join, two_phase_agg
from sensor_data_pipeline___spark.plans import explain
from sensor_data_pipeline___spark.sources import readers
from sensor_data_pipeline___spark.warehouse import write_bucketed

SF = "/root/testdata/sf0.001"


def test_salted_join_matches_plain_join(spark):
    # skewed big side: every lineitem of one hot order replicated
    li = readers.table(spark, "lineitem", SF).select("l_orderkey", "l_quantity")
    orders = readers.table(spark, "orders", SF).select("o_orderkey", "o_orderstatus")
    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )
    salted = (
        salted_join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), orders, on="o_orderkey", salt=4
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_rejects_replica_duplicating_how(spark):
    # right/full outer would emit each unmatched small-side row once per
    # salt replica — must refuse, not silently duplicate
    li = readers.table(spark, "lineitem", SF).select("l_orderkey")
    orders = readers.table(spark, "orders", SF).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    for how in ("right", "right_outer", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="not result-preserving"):
            salted_join(li, orders, on="l_orderkey", how=how)


def test_salted_join_left_family_matches_plain(spark):
    # left outer keeps unmatched BIG rows exactly once (one salt each);
    # semi/anti see every replica of their key, so membership is exact
    orders = readers.table(spark, "orders", SF).select("o_custkey")
    cust = readers.table(spark, "customer", SF).filter(
        F.col("c_acctbal") > 5000
    ).select(F.col("c_custkey").alias("o_custkey"), "c_name")
    for how in ("left", "left_semi", "left_anti"):
        plain = orders.join(cust, on="o_custkey", how=how)
        salted = salted_join(orders, cust, on="o_custkey", salt=4, how=how)
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        ), how


def test_two_phase_agg_rejects_non_decomposable_aggregates(spark):
    li = readers.table(spark, "lineitem", SF)
    for bad in (
        F.avg("l_quantity"),
        F.count_distinct("l_partkey"),
        F.sum_distinct(F.col("l_quantity")),
        F.median("l_quantity"),
    ):
        with pytest.raises(ValueError, match="two_phase_agg"):
            two_phase_agg(li, "l_returnflag", {"x": bad}, salt=4)


def test_two_phase_agg_matches_plain_agg(spark):
    li = readers.table(spark, "lineitem", SF)
    plain = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("qty"),
        F.count("*").alias("n"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    two = two_phase_agg(
        li,
        "l_returnflag",
        {
            "qty": F.sum("l_quantity"),
            "n": F.count("*"),
            "lo": F.min("l_extendedprice"),
            "hi": F.max("l_extendedprice"),
        },
        salt=4,
    )
    a = {r["l_returnflag"]: (round(r["qty"], 2), r["n"], r["lo"], r["hi"]) for r in plain.collect()}
    b = {r["l_returnflag"]: (round(r["qty"], 2), r["n"], r["lo"], r["hi"]) for r in two.collect()}
    assert a == b


def test_bucketed_join_has_no_shuffle(spark):
    # saveAsTable writes under spark.sql.warehouse.dir (static conf);
    # DROP TABLE below removes the managed data
    li = readers.table(spark, "lineitem", SF).select("l_orderkey", "l_quantity")
    orders = readers.table(spark, "orders", SF).select("o_orderkey", "o_totalprice")
    write_bucketed(li, "b_lineitem", "l_orderkey", num_buckets=8)
    write_bucketed(orders, "b_orders", "o_orderkey", num_buckets=8)
    bl = spark.table("b_lineitem")
    bo = spark.table("b_orders")
    # disable broadcast so the co-located sort-merge path is exercised
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        assert explain.exchange_count(joined) == 0, explain.formatted_plan(joined)
        assert joined.count() == 6000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_zorder_layout_prunes_files_in_both_dimensions(spark, tmp_path):
    """A Z-ordered layout must let footer min/max stats prune files for
    a predicate on EITHER clustered column; a single-column sort prunes
    only its own column (every file spans the full other dimension).
    Pruning is measured directly from the parquet footers — the same
    stats Spark's scan uses."""
    import glob
    import os

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.sources import readers
    from sensor_data_pipeline___spark.warehouse import write_zordered

    ev = readers.table(spark, "events", "/root/testdata/sf0.01").select(
        "user_id", "value"
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(ev, zpath, "user_id", "value", num_files=16)
    (
        ev.repartitionByRange(16, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(spath)
    )

    def files_overlapping(path, colname, qlo, qhi):
        hit, tot = 0, 0
        for f in glob.glob(os.path.join(path, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            mn, mx = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == colname:
                        st = c.statistics
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
            tot += 1
            if not (mx < qlo or mn > qhi):
                hit += 1
        return hit, tot

    lo_v, hi_v = ev.agg(F.min("value"), F.max("value")).first()
    q_lo, q_hi = lo_v + 0.25 * (hi_v - lo_v), lo_v + 0.30 * (hi_v - lo_v)
    z_hit, z_tot = files_overlapping(zpath, "value", q_lo, q_hi)
    s_hit, s_tot = files_overlapping(spath, "value", q_lo, q_hi)
    # single-column sort cannot prune the other dimension at all...
    assert s_hit == s_tot == 16
    # ...z-order prunes most files for the same 5%-slice predicate
    assert z_hit <= z_tot // 2, (z_hit, z_tot)
    # and the z layout loses no rows
    assert spark.read.parquet(zpath).count() == ev.count()


def test_warehouse_compaction(spark, tmp_path):
    """Small-files compaction: repeated micro-appends fragment a
    partition into one file each; compact() rewrites fragmented
    partitions to the target file size, preserves every row, leaves
    healthy partitions' files untouched, and re-running is a no-op."""
    import os

    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.warehouse import SILVER, Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = spark.range(40).select(
        F.col("id").alias("raw_id"),
        F.to_timestamp(F.lit("2022-04-14 10:00:00")).alias("reading_timestamp"),
        F.concat(F.lit("M"), (F.col("id") % 4).cast("string")).alias("metric_name"),
        (F.col("id") * 1.5).alias("metric_value"),
        F.current_timestamp().alias("processed_at"),
        F.to_date(F.lit("2022-04-14")).alias("reading_date"),
    )
    # 6 micro-appends -> >=6 files in the one partition
    for i in range(6):
        wh.append(SILVER, base.withColumn("raw_id", F.col("raw_id") + i * 40))
    before = wh.file_stats(SILVER)
    (frag_dir,) = before.keys()
    assert before[frag_dir][0] >= 6
    rows_before = sorted(
        (r["raw_id"], r["metric_name"], r["metric_value"])
        for r in wh.read(SILVER).collect()
    )

    rewritten = wh.compact(SILVER, target_file_bytes=1 << 30)
    assert rewritten == [frag_dir]
    after = wh.file_stats(SILVER)
    assert after[frag_dir][0] == 1  # everything fits one target file
    rows_after = sorted(
        (r["raw_id"], r["metric_name"], r["metric_value"])
        for r in wh.read(SILVER).collect()
    )
    assert rows_after == rows_before

    # re-run: single healthy file -> nothing fragmented -> no-op
    mtimes = {
        f: os.path.getmtime(os.path.join(wh.path(SILVER), frag_dir, f))
        for f in os.listdir(os.path.join(wh.path(SILVER), frag_dir))
        if f.endswith(".parquet")
    }
    assert wh.compact(SILVER, target_file_bytes=1 << 30) == []
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(wh.path(SILVER), frag_dir, f)) == m

    # tiny target: the same data re-splits into multiple right-sized
    # files via maxRecordsPerFile
    frag_bytes = after[frag_dir][1]
    per_row = frag_bytes / 240
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    for i in range(6):
        wh2.append(SILVER, base.withColumn("raw_id", F.col("raw_id") + i * 40))
    wh2.compact(SILVER, target_file_bytes=max(int(per_row * 60), 1))
    n_files, _ = wh2.file_stats(SILVER)[frag_dir]
    assert n_files >= 3  # 240 rows / ~60-row files
    assert wh2.read(SILVER).count() == 240


def test_warehouse_compaction_on_file_uri(spark, tmp_path):
    """``file_stats`` and ``compact`` list the table through the Hadoop
    FileSystem branch of ``operators/_fsio`` on a ``file:`` root: a
    fragmented day is found and rewritten to one file, a healthy day
    keeps its file, and no row changes."""
    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.warehouse import SILVER, Warehouse

    wh = Warehouse(spark, "file:" + str(tmp_path / "wh_uri"))
    base = spark.range(40).select(
        F.col("id").alias("raw_id"),
        F.concat(F.lit("M"), (F.col("id") % 4).cast("string")).alias("metric_name"),
        (F.col("id") * 1.5).alias("metric_value"),
        F.to_date(F.lit("2022-04-14")).alias("reading_date"),
    )
    wh.write(
        SILVER,
        base.withColumn("reading_date", F.to_date(F.lit("2022-04-15"))).coalesce(1),
    )
    for i in range(4):
        wh.append(SILVER, base.withColumn("raw_id", F.col("raw_id") + i * 40))
    before = wh.file_stats(SILVER)
    assert set(before) == {"reading_date=2022-04-14", "reading_date=2022-04-15"}
    assert before["reading_date=2022-04-14"][0] >= 4
    assert before["reading_date=2022-04-15"][0] == 1
    rows_before = sorted(map(tuple, wh.read(SILVER).collect()))

    assert wh.compact(SILVER, target_file_bytes=1 << 30) == ["reading_date=2022-04-14"]
    after = wh.file_stats(SILVER)
    assert after["reading_date=2022-04-14"][0] == 1
    assert after["reading_date=2022-04-15"] == before["reading_date=2022-04-15"]
    assert sorted(map(tuple, wh.read(SILVER).collect())) == rows_before
    assert wh.compact(SILVER, target_file_bytes=1 << 30) == []


def test_crashed_compaction_rolls_back(spark, tmp_path, monkeypatch):
    """Compaction is maintenance, not a transform — a compact() that
    dies mid-rewrite (task failure before job commit) must leave every
    partition's content AND file layout exactly as they were (the
    same FileOutputCommitter rollback the merge crash tests pin), and
    a re-run must complete the rewrite."""
    import os

    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.warehouse import SILVER, Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = spark.range(40).select(
        F.col("id").alias("raw_id"),
        F.to_timestamp(F.lit("2022-04-14 10:00:00")).alias("reading_timestamp"),
        F.concat(F.lit("M"), (F.col("id") % 4).cast("string")).alias("metric_name"),
        (F.col("id") * 1.5).alias("metric_value"),
        F.current_timestamp().alias("processed_at"),
        F.to_date(F.lit("2022-04-14")).alias("reading_date"),
    )
    for i in range(4):
        wh.append(SILVER, base.withColumn("raw_id", F.col("raw_id") + i * 40))
    stats_before = wh.file_stats(SILVER)
    rows_before = sorted(
        (r["raw_id"], r["metric_value"]) for r in wh.read(SILVER).collect()
    )

    @F.udf("double")
    def boom(v):
        raise RuntimeError("injected task failure")

    real_read = wh.read

    def poisoned_read(table):
        return real_read(table).withColumn("metric_value", boom("metric_value"))

    monkeypatch.setattr(wh, "read", poisoned_read)
    with pytest.raises(Exception, match="injected task failure"):
        wh.compact(SILVER, target_file_bytes=1 << 30)
    monkeypatch.undo()

    # rollback: content and file layout identical, no staging debris
    # visible to the reader
    assert wh.file_stats(SILVER) == stats_before
    assert (
        sorted((r["raw_id"], r["metric_value"]) for r in wh.read(SILVER).collect())
        == rows_before
    )
    leftovers = [
        d for d in os.listdir(wh.path(SILVER)) if d.startswith("_temporary")
    ]
    assert leftovers == []

    # the re-run completes the interrupted maintenance
    (frag_dir,) = stats_before.keys()
    assert wh.compact(SILVER, target_file_bytes=1 << 30) == [frag_dir]
    assert wh.file_stats(SILVER)[frag_dir][0] == 1
    assert (
        sorted((r["raw_id"], r["metric_value"]) for r in wh.read(SILVER).collect())
        == rows_before
    )
