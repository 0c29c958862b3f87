"""Physical-plan assertions: the properties the 100 TB design depends
on — pushdown reaching the parquet scan, column pruning, broadcast
joins for small dims, codegen coverage (SURVEY.md §4.2)."""

from __future__ import annotations


from pyspark.sql import functions as F

from sensor_data_pipeline___spark.plans import explain
from sensor_data_pipeline___spark.queries import QUERIES
from sensor_data_pipeline___spark.sources import readers

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    li = readers.table(spark, "lineitem", SF)
    df = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")).select(
        "l_orderkey", "l_quantity"
    )
    assert explain.has_pushed_filter(df, "l_shipdate"), explain.formatted_plan(df)


def test_column_pruning(spark):
    li = readers.table(spark, "lineitem", SF)
    df = li.select("l_orderkey", "l_quantity")
    schema = explain.read_schema(df)
    assert "l_orderkey" in schema and "l_quantity" in schema
    assert "l_extendedprice" not in schema, schema


def test_q5_broadcasts_small_dims(spark):
    df = QUERIES["q5_region_revenue"](spark, SF)
    # nation and region must be broadcast (never shuffle KB-sized dims)
    assert explain.broadcast_join_count(df) >= 2, explain.formatted_plan(df)


def test_q1_single_shuffle(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF)
    # one groupBy → exactly one hash exchange (partial agg map-side);
    # the reader's parallelism floor may add a round-robin spread,
    # which is file-layout compensation, not an operator shuffle
    assert explain.hash_exchange_count(df) <= 1, explain.formatted_plan(df)
    assert "partial" in explain.formatted_plan(df).lower()


def test_silver_transform_is_narrow(spark):
    from sensor_data_pipeline___spark.operators.silver import bronze_to_silver

    bronze = spark.createDataFrame(
        [(1, "1649941817 Voltage 1.34", None)],
        "id long, raw_line string, ingested_at timestamp",
    )
    df = bronze_to_silver(bronze)
    assert explain.exchange_count(df) == 0, explain.formatted_plan(df)


def test_serving_prunes_by_date(spark):
    # the serving scan over a reading_date-partitioned table must show
    # a partition filter, not a post-scan filter
    import tempfile

    ev = readers.table(spark, "events", SF).select(
        F.col("event_id").alias("raw_id"),
        F.col("ts").alias("reading_time"),
        F.col("event_type").alias("metric_name"),
        F.col("value").alias("metric_value"),
        F.to_date("ts").alias("reading_date"),
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.partitionBy("reading_date").parquet(f"{d}/silver")
        part = spark.read.parquet(f"{d}/silver")
        served = part.filter(
            (F.col("reading_date") >= F.lit("2024-01-10"))
            & (F.col("reading_date") < F.lit("2024-01-12"))
        )
        plan = explain.formatted_plan(served)
        assert "PartitionFilters" in plan
        # the partition predicate appears in PartitionFilters lines
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert any("reading_date" in ln for ln in pf), plan
        assert served.count() == ev.filter(
            (F.col("reading_date") >= F.lit("2024-01-10"))
            & (F.col("reading_date") < F.lit("2024-01-12"))
        ).count()


def test_observation_metrics(spark):
    """Observation metrics arrive with the single action — no second
    scan — and match a direct aggregation."""
    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.plans.observability import (
        QueryTimer,
        freshness_metrics,
        observed,
    )
    from sensor_data_pipeline___spark.sources import readers

    li = readers.table(spark, "lineitem", "/root/testdata/sf0.001")
    df, obs = observed(
        li,
        "li_health",
        n_rows=F.count(F.lit(1)),
        total_qty=F.sum("l_quantity"),
    )
    timer = QueryTimer()
    with timer.run("lineitem_scan", obs):
        n = df.count()
    m = timer.records[0]["metrics"]
    assert m["n_rows"] == n
    exact = li.agg(F.sum("l_quantity")).collect()[0][0]
    assert m["total_qty"] == exact
    assert timer.records[0]["ok"] and timer.records[0]["seconds"] >= 0

    ev = readers.table(spark, "events", "/root/testdata/sf0.001")
    edf, eobs = freshness_metrics(ev, "ts")
    edf.write.format("noop").mode("overwrite").save()
    fm = eobs.get
    assert fm["n_rows"] == ev.count() and fm["null_ts"] == 0
    assert fm["min_ts"] <= fm["max_ts"]


def test_gapfill_window_reuses_join_partitioning(spark):
    df = QUERIES["gapfill_forward_fill"](spark, SF)
    plan = explain.formatted_plan(df)
    # the date spine is tiny and generated — it must be the broadcast
    # side of the cross join, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan, plan
    # forward-fill window partitions by user_id, which the left-outer
    # join already provides: exchanges = the aggregations only (3 legs
    # on the same events scan), none added for the Window sort
    window_section = plan.split("Window")[0]
    assert "Exchange" not in window_section.split("Sort")[0], plan


def test_string_agg_broadcasts_region(spark):
    df = QUERIES["string_agg_nations"](spark, SF)
    assert explain.broadcast_join_count(df) >= 1, explain.formatted_plan(df)


def test_hash_split_is_narrow(spark):
    from sensor_data_pipeline___spark.operators import sampling

    docs = readers.table(spark, "documents", SF)
    df = sampling.hash_split(docs, "doc_id")
    # split assignment must add no hash shuffle — it's a projection
    # (the reader's round-robin parallelism floor is file-layout
    # compensation, not part of the operator)
    assert explain.hash_exchange_count(df) == 0, explain.formatted_plan(df)


def test_set_similarity_join_never_goes_cartesian(spark):
    """The prefix filter's whole point: candidate generation is a
    token-keyed equi-join, not a cross join over document pairs. The
    only cross join allowed in the plan is broadcast-scalar (bounds /
    count rows), never row×row."""
    df = QUERIES["set_similarity_pairs"](spark, SF)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_histogram_bounds_are_broadcast_scalar(spark):
    """Two-pass equi-width histogram: the bounds side must reach the
    row scan as a broadcast (1-row build), not a shuffle."""
    for name in ("value_histogram", "psi_value_drift"):
        df = QUERIES[name](spark, SF)
        plan = explain.formatted_plan(df)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
            name,
            plan,
        )
        assert "CartesianProduct" not in plan, (name, plan)


def test_tfidf_document_frequency_join_is_broadcast(spark):
    """The per-term document-frequency table is vocabulary-sized —
    must join broadcast, not shuffle the (doc, term) pairs twice."""
    df = QUERIES["tfidf_top_terms"](spark, SF)
    assert explain.broadcast_join_count(df) >= 1, explain.formatted_plan(df)


def test_blocked_joins_never_go_cartesian(spark):
    """PIT, forward-as-of, and fuzzy joins are equi-blocked with a
    secondary range/verify predicate — the block key must appear as a
    join key, never a nested-loop over the full product."""
    for name in ("pit_join_click_version", "asof_next_click", "fuzzy_name_pairs"):
        df = QUERIES[name](spark, SF)
        plan = explain.formatted_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_sharded_windows_never_single_partition(spark):
    """The round-3 resharded formulations (range-shard + partitioned
    window + stitched offsets) must never collapse a stage to one
    task — the failure mode of a global ORDER BY window at scale."""
    for name in ("pack_sequences", "equi_depth_histogram", "ntile_deciles"):
        df = QUERIES[name](spark, SF)
        assert explain.single_partition_exchange_count(df) == 0, (
            name,
            explain.formatted_plan(df),
        )


def test_inverted_index_topk_is_take_ordered(spark):
    """Top-20 terms must compile to TakeOrderedAndProject (distributed
    partial top-k), not a global row_number window."""
    df = QUERIES["inverted_index_sample"](spark, SF)
    plan = explain.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert explain.single_partition_exchange_count(df) == 0, plan


def test_ewma_daily_value_plan_shape(spark):
    """The EWMA fold must shuffle on the group key, never collapse to
    one task, and partially aggregate the daily means before the
    exchange (map-side combine ahead of the applyInPandas stage)."""
    df = QUERIES["ewma_daily_value"](spark, SF)
    plan = explain.formatted_plan(df)
    assert explain.single_partition_exchange_count(df) == 0, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "partial_avg" in plan or "partial_" in plan, plan


def test_export_shard_assign_never_single_partition(spark):
    """The training-export permutation (shard_assign) must stay
    n_shards-way parallel: shard id is a narrow projection and the
    per-shard position window partitions by shard — a global ORDER BY
    (the orderBy(rand()) anti-pattern it replaces) would show up here
    as a SinglePartition exchange."""
    df = QUERIES["shard_assignment"](spark, SF)
    assert explain.single_partition_exchange_count(df) == 0, (
        explain.formatted_plan(df)
    )
    # corpus_pipeline_stats reports seven SCALAR stage counts; each
    # final count merge is a legitimate SinglePartition exchange over
    # O(partitions) partial-count rows, never over data. Pin that no
    # OTHER stage collapses (window/dedup/decontaminate/mixture all
    # stay parallel): the single-partition count is exactly the number
    # of scalar aggregates, no more.
    pipe = QUERIES["corpus_pipeline_stats"](spark, SF)
    assert explain.single_partition_exchange_count(pipe) == 7, (
        explain.formatted_plan(pipe)
    )


def test_mixture_sample_quota_is_literal_not_join(spark):
    """The quota map must compile to a literal map expression — a join
    against a 5-row quota frame would add an exchange per stratum
    lookup. One window exchange on the stratum is the whole cost."""
    from sensor_data_pipeline___spark.operators.export import mixture_sample

    docs = readers.table(spark, "documents", SF)
    df = mixture_sample(docs, "lang", "doc_id", {"en": 5, "de": 3})
    plan = explain.formatted_plan(df)
    assert "Join" not in plan, plan
    assert explain.single_partition_exchange_count(df) == 0, plan


def test_round5_additions_plan_shapes(spark):
    """The round-5 analytics keep the shapes their docstrings claim:
    winsorize joins its per-group bounds as a BROADCAST (two-pass
    stats pattern, no shuffled join for an O(groups) frame);
    duplicated_gram_fraction and histogram_sketch_quantiles never
    collapse a data stage to one task (their only SinglePartition
    exchanges are scalar bound/total merges over O(partitions) rows)."""
    df = QUERIES["winsorize_event_values"](spark, SF)
    plan = explain.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert explain.single_partition_exchange_count(df) == 0, plan

    for name, max_scalar in (
        ("duplicated_gram_fraction", 0),
        # one scalar agg: the global min/max bounds row
        ("histogram_sketch_quantiles", 1),
    ):
        q = QUERIES[name](spark, SF)
        assert explain.single_partition_exchange_count(q) <= max_scalar, (
            name,
            explain.formatted_plan(q),
        )


def test_round9_additions_plan_shapes(spark):
    """The r9 additions keep their docstrings' physical shapes: the
    exact-recall simhash pairs join is segment-blocked (equi join on
    (seg_idx, seg_val) — never a cartesian or nested loop over the
    doc product), and the CCNet band queries are vocabulary-join +
    partial-aggregated per-doc rollups with no cartesian anywhere
    (their only cross join is the broadcast one-row LM-constants
    frame, which Spark plans as a broadcast nested loop over exactly
    one row, not a product)."""
    df = QUERIES["simhash_near_dup_exact"](spark, SF)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    for name in ("unigram_lm_band_assign", "band_stratified_admission"):
        q = QUERIES[name](spark, SF)
        p = explain.formatted_plan(q)
        assert "CartesianProduct" not in p, (name, p)


def test_bpe_encode_is_map_only(spark, tmp_path):
    """Encoding a corpus against a persisted BPE vocabulary must be a
    pure map — zero exchanges of any kind (the merges are inlined
    literals, never a join side), and the expression shape must be the
    LINEAR per-round composition: each merge round's fold appears
    exactly once in the plan (the exponential chained-string shape
    re-embeds earlier rounds ~4x per level — SCALING.md r11)."""
    from sensor_data_pipeline___spark.operators import text as T

    docs = readers.table(spark, "documents", SF)
    path = str(tmp_path / "bpe")
    T.save_bpe_vocab(docs, path, k=5)
    df = T.encode_against_vocab(spark, path, docs)
    plan = explain.formatted_plan(df)
    assert "Exchange" not in plan, plan
    # one boundary-guarded regexp_replace round per learned merge,
    # each exactly once (r16: the merge round is a codegen'd greedy
    # regex pass — the (?<![^ ]) lookbehind is its unique marker)
    assert plan.count("(?<![^ ])") == 5, plan


def test_bpe_word_cache_encode_plan_shape(spark, tmp_path):
    """The large-k encode strategy (word-cache, VERDICT r11 #1), JVM
    fold word-encoder: the corpus side must pay joins/aggregation
    INDEPENDENT of k — the merge-fold chain runs only on the
    distinct-word table — and the chunked localCheckpoint must
    actually cut the live plan: with checkpoint_every=2 and k=5, at
    most the LAST chunk's folds (≤2) survive in the optimized plan,
    the rest hidden behind the checkpoint's RDD scan."""
    from sensor_data_pipeline___spark.operators import text as T

    docs = readers.table(spark, "documents", SF)
    path = str(tmp_path / "bpe")
    T.save_bpe_vocab(docs, path, k=5)
    df = T.encode_against_vocab(
        spark, path, docs, strategy="word_cache", checkpoint_every=2,
        word_encoder="fold",
    )
    plan = explain.formatted_plan(df)
    # plan is cut: the checkpointed word table scans as an RDD
    assert "ExistingRDD" in plan, plan
    # only the post-checkpoint chunk's merge rounds remain visible
    # (k=5, chunks of 2 -> final chunk has 1 round), not all 5
    assert 1 <= plan.count("(?<![^ ])") <= 2, plan
    # corpus-side cost independent of k: explode + one join + one
    # final groupBy — no per-merge exchange anywhere
    assert plan.count("Exchange") <= 6, plan


def test_bpe_word_cache_arrow_plan_shape(spark, tmp_path):
    """The word-cache auto word-encoder (Arrow): the Python pass must
    touch ONLY the distinct-word table — exactly one MapInPandas node,
    fed by the word-side aggregate, never the corpus scan — with zero
    merge folds anywhere (k lives in the task closure, not the plan)
    and the same k-independent corpus shape."""
    from sensor_data_pipeline___spark.operators import text as T

    docs = readers.table(spark, "documents", SF)
    path = str(tmp_path / "bpe")
    T.save_bpe_vocab(docs, path, k=5)
    df = T.encode_against_vocab(
        spark, path, docs, strategy="word_cache", word_encoder="arrow"
    )
    plan = explain.formatted_plan(df)
    import re

    # count OPERATORS via the detail-section headers (formatted
    # explain prints each node in the tree AND in the details)
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    assert ops.count("MapInPandas") == 1, plan
    assert "(?<![^ ])" not in plan, plan
    # corpus-side cost independent of k; the encoded word table comes
    # back BROADCAST (suite-sized), never a corpus-sized shuffle side
    n_exch = sum(1 for o in ops if o in ("Exchange", "BroadcastExchange"))
    assert n_exch <= 5, (ops, plan)
    assert "BroadcastExchange" in ops, plan


def test_round13_additions_plan_shapes(spark):
    """r13 operators keep the shapes their docstrings claim:
    temperature_sample_tokens broadcasts its strata-sized quota table
    (never shuffles the corpus against it); the split-leakage /
    cluster-split chain plans no cartesian product (the pair source
    is the blocked set-similarity join, the rest is id-keyed
    equi-joins); cluster_aware_split's md5 projection stays off the
    SinglePartition path."""
    df = QUERIES["temperature_mixture_tokens"](spark, SF)
    plan = explain.formatted_plan(df)
    assert explain.broadcast_join_count(df) >= 1, plan
    assert "CartesianProduct" not in plan, plan

    for name in ("split_leakage_stats", "cluster_aware_split"):
        df = QUERIES[name](spark, SF)
        plan = explain.formatted_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)


def test_round14_additions_plan_shapes(spark):
    """r14 operators keep the shapes their docstrings claim: the
    rep-level release_audit plans no cartesian product (every stitch
    is a hash-keyed equi/left join; the simhash pair join is
    segment-blocked), and the maintained-labels split variant is one
    id-keyed left join plus the md5 projection — no CC rounds, no
    cartesian."""
    df = QUERIES["release_audit"](spark, SF)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan

    from sensor_data_pipeline___spark.operators.sampling import (
        cluster_hash_split_from_labels,
    )

    docs = spark.range(100).select(F.col("id").alias("doc_id"))
    labels = spark.createDataFrame(
        [(5, 1), (6, 1)], "node long, component long"
    )
    out = cluster_hash_split_from_labels(docs, labels)
    plan = explain.formatted_plan(out)
    assert "CartesianProduct" not in plan, plan
    # exactly ONE join node in the whole plan — the id-keyed left join
    # of corpus against labels (equi: SMJ at corpus scale / broadcast
    # under AQE when the label table is small); crucially NO iterative
    # CC rounds — that work was paid at maintenance time
    import re as _re

    join_nodes = _re.findall(r"^\(\d+\) \w*Join\w*", plan, _re.M)
    assert len(join_nodes) == 1, (join_nodes, plan)


def test_t_wide_rebalances_only_undersplit_scans(spark):
    """The r15 undersplit-scan guard (queries._t_wide): a scan with
    fewer partitions than the session default gets rebalanced UP to
    default parallelism so CPU-heavy first stages (BPE folds,
    shingling, fingerprint hashing) aren't serialized on one task —
    and an input that is already wide enough is returned UNTOUCHED
    (the 100 TB no-op branch: cluster-scale scans carry far more
    splits than cores, so the loader must add no shuffle there).
    Values are identical either way — the guard only moves rows."""
    from sensor_data_pipeline___spark.queries import _t, _t_wide

    target = spark.sparkContext.defaultParallelism
    plain = _t(spark, SF, "documents")
    import sensor_data_pipeline___spark.queries as Q

    orig = Q.readers.table

    def _with_input(df):
        try:
            Q.readers.table = lambda *_a, **_k: df
            return _t_wide(spark, SF, "documents")
        finally:
            Q.readers.table = orig

    # engage branch, pinned DETERMINISTICALLY (not gated on how this
    # environment happens to split the scan): a 1-partition input must
    # come back at exactly default parallelism, via an exchange
    narrow = plain.coalesce(1)
    wide = _with_input(narrow)
    assert wide.rdd.getNumPartitions() == target
    assert "Exchange" in explain.formatted_plan(wide)
    # no-op branch 1: already-wide inputs pass through untouched
    prewide = plain.repartition(target + 7)
    assert _with_input(prewide) is prewide
    # no-op branch 2: the size gate — an undersplit input whose scan
    # estimate exceeds the cap must NOT be shuffled
    cap = Q._T_WIDE_MAX_BYTES
    try:
        Q._T_WIDE_MAX_BYTES = 0
        assert _with_input(narrow) is narrow
    finally:
        Q._T_WIDE_MAX_BYTES = cap
    # same rows either way
    a = sorted(r["doc_id"] for r in plain.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in wide.select("doc_id").collect())
    assert a == b


def test_t_wide_size_gate_decodes_file_uris(spark, tmp_path, monkeypatch):
    """The size gate stats each ``inputFiles()`` entry, and those are
    percent-encoded ``file:`` URIs: a table under a directory whose
    name holds a space must still be sized (and so rebalanced when
    small), not counted as unstattable. The sum stops at the first
    total over the cap."""
    import os

    import sensor_data_pipeline___spark.queries as Q

    path = str(tmp_path / "dir with space" / "t")
    spark.range(300).repartition(3).write.parquet(path)
    narrow = spark.read.parquet(path).coalesce(1)
    assert any("%20" in f for f in narrow.inputFiles())
    monkeypatch.setattr(Q.readers, "table", lambda *_a, **_k: narrow)

    wide = Q._t_wide(spark, SF, "t")
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    sized = []
    getsize = os.path.getsize
    monkeypatch.setattr(
        os.path, "getsize", lambda p: sized.append(p) or getsize(p)
    )
    monkeypatch.setattr(Q, "_T_WIDE_MAX_BYTES", 0)
    assert Q._t_wide(spark, SF, "t") is narrow
    assert len(sized) == 1 and " " in sized[0], sized
