"""Structured Streaming front-end tests: file-drop ingest →
foreachBatch medallion runs (checkpointed, exactly-once), and the
idiomatic watermark+window variant."""

from __future__ import annotations

import os

import pytest

from sensor_data_pipeline___spark.streaming import pipeline as sp
from sensor_data_pipeline___spark.warehouse import BRONZE, GOLD, SILVER, Warehouse
from tests.conftest import GOLDEN_LINES


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "drop": tmp_path / "drop",
        "wh": tmp_path / "wh",
        "ckpt": tmp_path / "ckpt",
        "out": tmp_path / "out",
        "reject": tmp_path / "reject",
    }
    d["drop"].mkdir()
    return {k: str(v) for k, v in d.items()}


def _drop(dirs, name: str, lines: list[str]) -> None:
    with open(os.path.join(dirs["drop"], name), "w") as f:
        f.write("\n".join(lines))


def test_stream_ingest_end_to_end(spark, dirs):
    wh = Warehouse(spark, dirs["wh"])
    _drop(dirs, "batch1.txt", GOLDEN_LINES)
    q = sp.ingest_stream(spark, dirs["drop"], wh, dirs["ckpt"])
    q.awaitTermination(120)

    assert wh.read(BRONZE).count() == 4
    assert wh.read(SILVER).count() == 4
    gold = wh.read(GOLD).collect()
    assert len(gold) == 1
    assert gold[0]["metric_value"] == pytest.approx(17.485)

    # restart with the same checkpoint: file already processed → no-op
    # (exactly-once file-source tracking replaces the J1 watermark)
    q2 = sp.ingest_stream(spark, dirs["drop"], wh, dirs["ckpt"])
    q2.awaitTermination(120)
    assert wh.read(BRONZE).count() == 4

    # new file with a late reading for the old day → day recomputed
    _drop(dirs, "batch2.txt", ["1649941819 Voltage 2.65"])
    q3 = sp.ingest_stream(spark, dirs["drop"], wh, dirs["ckpt"])
    q3.awaitTermination(120)
    assert wh.read(BRONZE).count() == 5
    gold = wh.read(GOLD).collect()
    assert len(gold) == 1
    assert gold[0]["metric_value"] == pytest.approx(((1.34 + 1.35 + 2.65) / 3) * 13.0)


def test_ingest_batch_replay_is_idempotent(spark, dirs):
    """A micro-batch that replays after a failure between the bronze
    write and the checkpoint commit (at-least-once delivery) must not
    duplicate rows: the batch body overwrites its own batch_id
    partition with deterministic ids and the silver merge keys on
    raw_id."""
    from sensor_data_pipeline___spark.sources.ingest import lines_df

    wh = Warehouse(spark, dirs["wh"])
    process = sp._ingest_batch_fn(wh, None)
    batch = lines_df(spark, GOLDEN_LINES).withColumnRenamed("raw_line", "value")

    process(batch, 0)
    first = sorted(
        (r["id"], r["raw_line"]) for r in wh.read(BRONZE).collect()
    )
    process(batch, 0)  # replay of the SAME batch id
    second = sorted(
        (r["id"], r["raw_line"]) for r in wh.read(BRONZE).collect()
    )
    assert first == second  # same rows, same deterministic ids
    assert wh.read(SILVER).count() == 4
    gold = wh.read(GOLD).collect()
    assert len(gold) == 1
    assert gold[0]["metric_value"] == pytest.approx(17.485)

    # a DIFFERENT batch id appends (ids strictly above batch 0's)
    late = lines_df(
        spark, ["1649941819 Voltage 2.65"]
    ).withColumnRenamed("raw_line", "value")
    process(late, 1)
    assert wh.read(BRONZE).count() == 5
    assert wh.read(SILVER).count() == 5


def test_stream_rejects_invalid_batch(spark, dirs):
    wh = Warehouse(spark, dirs["wh"])
    _drop(dirs, "bad.txt", GOLDEN_LINES + ["notanumber Voltage 1.34"])
    q = sp.ingest_stream(spark, dirs["drop"], wh, dirs["ckpt"], dirs["reject"])
    q.awaitTermination(120)
    # F6 per-batch: nothing persisted, batch diverted to reject dir
    assert not wh.exists(BRONZE)
    rejected = spark.read.parquet(dirs["reject"])
    assert rejected.count() == 5


def test_windowed_power_stream(spark, dirs):
    # two days of data; day 1's window closes once day 2's data moves
    # the watermark past it
    day2 = ["1650028217 Voltage 2.0", "1650028218 Current 10.0"]
    day4 = ["1650201017 Voltage 1.0", "1650201018 Current 1.0"]
    _drop(dirs, "b1.txt", GOLDEN_LINES + day2 + day4)
    q = sp.windowed_power_stream(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], watermark="1 day"
    )
    q.awaitTermination(120)
    out = spark.read.parquet(dirs["out"])
    rows = {str(r["reading_date"]): r["metric_value"] for r in out.collect()}
    # 2022-04-14 and 2022-04-15 windows are closed by the 04-17 data;
    # 04-17's own window stays open (append mode) — the documented trade
    assert rows["2022-04-14"] == pytest.approx(17.485)
    assert rows["2022-04-15"] == pytest.approx(20.0)
    assert "2022-04-17" not in rows


def test_stateful_totals_across_restarts(spark, dirs):
    # GOLDEN_LINES: 2 Voltage (1.34, 1.35) + 2 Current (12.0, 14.0)
    _drop(dirs, "batch1.txt", GOLDEN_LINES)
    q = sp.stateful_totals_stream(spark, dirs["drop"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    first = {
        r["metric_name"]: (r["n_readings"], round(r["total"], 2))
        for r in spark.read.parquet(dirs["out"]).collect()
    }
    assert first == {"Voltage": (2, 2.69), "Current": (2, 26.0)}

    # restart with new data: state must resume from the checkpoint
    _drop(dirs, "batch2.txt", ["1649941817 Voltage 0.31", "1649941817 Temperature 21.5"])
    q2 = sp.stateful_totals_stream(spark, dirs["drop"], dirs["out"], dirs["ckpt"])
    q2.awaitTermination(120)
    rows = spark.read.parquet(dirs["out"]).collect()
    # changelog: last value per key wins — reduce by max n_readings
    latest = {}
    for r in rows:
        if r["metric_name"] not in latest or r["n_readings"] > latest[r["metric_name"]][0]:
            latest[r["metric_name"]] = (r["n_readings"], round(r["total"], 2))
    assert latest == {
        "Voltage": (3, 3.0),
        "Current": (2, 26.0),
        "Temperature": (1, 21.5),
    }


def test_compact_changelog_latest_per_key(spark, dirs):
    _drop(dirs, "b1.txt", GOLDEN_LINES)
    sp.stateful_totals_stream(spark, dirs["drop"], dirs["out"], dirs["ckpt"]).awaitTermination(120)
    _drop(dirs, "b2.txt", ["1649941819 Voltage 0.31"])
    sp.stateful_totals_stream(spark, dirs["drop"], dirs["out"], dirs["ckpt"]).awaitTermination(120)

    compacted = {
        r["metric_name"]: (r["n_readings"], round(r["total"], 2))
        for r in sp.compact_changelog(spark, dirs["out"]).collect()
    }
    assert compacted == {"Voltage": (3, 3.0), "Current": (2, 26.0)}


def test_stream_stream_join(spark, tmp_path):
    """Stream-stream attribution join == the equivalent batch inner
    join when everything arrives in one availableNow drain (no state
    eviction can fire before the data is seen)."""
    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.sources import readers

    ev = readers.table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    clicks_dir = str(tmp_path / "clicks")
    purchases_dir = str(tmp_path / "purchases")
    # both dirs get the full feed; the operator filters by event_type
    ev.filter(F.col("event_type") == "click").repartition(2).write.parquet(clicks_dir)
    ev.filter(F.col("event_type") == "purchase").repartition(2).write.parquet(
        purchases_dir
    )

    q = sp.click_purchase_join_stream(
        spark,
        clicks_dir,
        purchases_dir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "out"))

    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("user_id").alias("click_user"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("purchase_user"),
    )
    expected = p.join(
        c,
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    assert got.count() == expected.count()
    assert got.count() > 0
    assert (
        got.select("purchase_id", "click_id").exceptAll(
            expected.select("purchase_id", "click_id")
        ).count()
        == 0
    )


def test_dedup_stream_drops_redelivered_lines(spark, dirs):
    """At-least-once redelivery (same lines in a later file) is
    collapsed by dropDuplicatesWithinWatermark; distinct lines all
    survive."""
    batch1 = GOLDEN_LINES + [GOLDEN_LINES[0]]  # dup within one batch
    batch2 = GOLDEN_LINES[:2] + ["1649941900 Voltage 9.99"]  # redelivery + new
    _drop(dirs, "b1.txt", batch1)
    _drop(dirs, "b2.txt", batch2)
    q = sp.dedup_stream(spark, dirs["drop"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    out = [r["raw_line"] for r in spark.read.parquet(dirs["out"]).collect()]
    assert sorted(out) == sorted(set(batch1 + batch2))


def test_session_window_stream_matches_batch_closed_sessions(spark, tmp_path):
    """Streaming session_window output == the batch session_window
    aggregation restricted to sessions the final watermark closed."""
    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.sources import readers

    ev = readers.table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    ev.repartition(2).write.parquet(src)

    q = sp.session_window_stream(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        gap="30 minutes", watermark="1 hour",
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]),
         r["n_events"], round(r["session_value"], 4))
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }

    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("wm")
    ).first()["wm"]
    expected = {
        (r["user_id"], str(r["w"]["start"]), str(r["w"]["end"]),
         r["n_events"], round(r["session_value"], 4))
        for r in (
            ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
            .filter(F.col("w.end") < F.lit(wm))
            .collect()
        )
    }
    assert len(got) > 0
    assert got == expected


def test_ewma_drift_stream(spark, dirs):
    """Stateful EWMA drift: one EWMA step per (micro-batch, key),
    state surviving a restart through the checkpoint, drift =
    |batch_mean - previous ewma|."""
    _drop(dirs, "b1.txt", GOLDEN_LINES)
    q = sp.ewma_drift_stream(spark, dirs["drop"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    first = {
        r["metric_name"]: r
        for r in spark.read.parquet(dirs["out"]).collect()
    }
    # first batch: ewma == batch mean, drift 0
    assert first["Voltage"]["n_readings"] == 2
    assert first["Voltage"]["batch_mean"] == pytest.approx(1.345)
    assert first["Voltage"]["ewma"] == pytest.approx(1.345)
    assert first["Voltage"]["drift"] == 0.0
    assert first["Current"]["ewma"] == pytest.approx(13.0)

    # restart: Voltage jumps to 2.0 — EWMA pulls 30% toward it and the
    # drift column records the jump; Current state must persist intact
    _drop(dirs, "b2.txt", ["1649941819 Voltage 2.0", "1649941819 Voltage 2.0"])
    q2 = sp.ewma_drift_stream(spark, dirs["drop"], dirs["out"], dirs["ckpt"])
    q2.awaitTermination(120)
    rows = spark.read.parquet(dirs["out"]).collect()
    volt = max(
        (r for r in rows if r["metric_name"] == "Voltage"),
        key=lambda r: r["n_readings"],
    )
    assert volt["n_readings"] == 4
    assert volt["drift"] == pytest.approx(abs(2.0 - 1.345))
    assert volt["ewma"] == pytest.approx(0.3 * 2.0 + 0.7 * 1.345)
    # Current saw no rows in batch 2 -> exactly one changelog row ever
    assert sum(1 for r in rows if r["metric_name"] == "Current") == 1


def test_changelog_batch_replay_is_idempotent(spark, dirs):
    """A changelog micro-batch that replays after a failure between the
    parquet write and the checkpoint commit must REPLACE its own
    batch_id partition, not append a duplicate — the invariant behind
    the soak test's one-row-per-(batch, key) check."""
    rows = spark.createDataFrame(
        [("Voltage", 2, 1.345, 1.345, 0.0)],
        "metric_name string, n_readings long, batch_mean double, "
        "ewma double, drift double",
    )
    sp._write_changelog_batch(rows, 0, dirs["out"])
    sp._write_changelog_batch(rows, 0, dirs["out"])  # replay of batch 0
    log = spark.read.parquet(dirs["out"])
    assert log.count() == 1
    # a genuinely new batch still appends alongside the old one
    sp._write_changelog_batch(rows, 1, dirs["out"])
    assert spark.read.parquet(dirs["out"]).count() == 2
    assert {r["batch_id"] for r in log.select("batch_id").collect()} == {0}


def _drop_jsonl(dirs, name: str, docs: list[dict]) -> None:
    import gzip
    import json

    path = os.path.join(dirs["drop"], name)
    if name.endswith(".gz"):
        with gzip.open(path, "wt") as f:
            for d in docs:
                f.write(json.dumps(d) + "\n")
    else:
        with open(path, "w") as f:
            for d in docs:
                f.write(json.dumps(d) + "\n")


GOOD_TEXT = "tok " * 24 + "end"  # 25 tokens, short tokens -> passes gate
JUNK_SHORT = "too short"  # 2 tokens < min_tokens
JUNK_LONG_TOKENS = " ".join(["x" * 40] * 30)  # avg token len 40 > 10


def test_corpus_ingest_stream_gates_and_dedups(spark, dirs):
    """Streaming corpus ingest: the quality gate drops junk, the
    content-hash dedup drops cross-micro-batch duplicates within the
    watermark, gzip'd JSONL reads transparently, and a checkpointed
    re-run emits nothing new (effectively-once)."""
    ts = "2024-01-01T00:00:00Z"
    _drop_jsonl(
        dirs,
        "b1.jsonl",
        [
            {"doc_id": 1, "text": GOOD_TEXT, "lang": "en", "source": "s1", "fetched_at": ts},
            {"doc_id": 2, "text": JUNK_SHORT, "lang": "en", "source": "s1", "fetched_at": ts},
            {"doc_id": 3, "text": JUNK_LONG_TOKENS, "lang": "en", "source": "s1", "fetched_at": ts},
        ],
    )
    q = sp.corpus_ingest_stream(spark, dirs["drop"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    out1 = spark.read.parquet(dirs["out"])
    assert [r.doc_id for r in out1.collect()] == [1]

    # batch 2: an exact duplicate of doc 1 (different id — a re-crawl),
    # plus a fresh doc, delivered gzip-compressed
    _drop_jsonl(
        dirs,
        "b2.jsonl.gz",
        [
            {"doc_id": 9, "text": GOOD_TEXT, "lang": "en", "source": "s2", "fetched_at": ts},
            {"doc_id": 10, "text": "fresh " + GOOD_TEXT, "lang": "de", "source": "s2", "fetched_at": ts},
        ],
    )
    q = sp.corpus_ingest_stream(spark, dirs["drop"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    ids = sorted(r.doc_id for r in spark.read.parquet(dirs["out"]).collect())
    assert ids == [1, 10]  # re-crawl deduped, fresh doc admitted

    # checkpointed re-run with no new files: nothing re-emitted
    q = sp.corpus_ingest_stream(spark, dirs["drop"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    assert sorted(
        r.doc_id for r in spark.read.parquet(dirs["out"]).collect()
    ) == [1, 10]


def test_sketch_psi_drift_stream(spark, dirs):
    """Distribution drift: the first batch freezes a key's reference
    histogram; a same-shaped later batch scores near-zero PSI, a
    shifted batch scores large PSI, and the reference survives a
    restart through the checkpoint."""
    import math

    # reference: 40 Voltage readings uniform-ish over [0, 50)
    ref_lines = [f"1649941819 Voltage {float(v % 50)}" for v in range(40)]
    _drop(dirs, "b1.txt", ref_lines)
    q = sp.sketch_psi_drift_stream(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], lo=0.0, hi=100.0,
        n_bins=10,
    )
    q.awaitTermination(120)
    first = spark.read.parquet(dirs["out"]).collect()
    assert len(first) == 1 and first[0]["is_reference"]
    assert first[0]["psi"] == 0.0 and first[0]["batch_rows"] == 40

    # same shape -> tiny PSI; then a hard shift into [50, 100) -> large
    same_lines = [f"1649941820 Voltage {float(v % 50)}" for v in range(40)]
    _drop(dirs, "b2.txt", same_lines)
    q = sp.sketch_psi_drift_stream(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], lo=0.0, hi=100.0,
        n_bins=10,
    )
    q.awaitTermination(120)
    shifted_lines = [f"1649941821 Voltage {50.0 + v % 50}" for v in range(40)]
    _drop(dirs, "b3.txt", shifted_lines)
    q = sp.sketch_psi_drift_stream(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], lo=0.0, hi=100.0,
        n_bins=10,
    )
    q.awaitTermination(120)

    rows = sorted(
        (r for r in spark.read.parquet(dirs["out"]).collect()),
        key=lambda r: r["batch_id"],
    )
    assert [r["is_reference"] for r in rows] == [True, False, False]
    same, shifted = rows[1], rows[2]
    assert same["psi"] < 0.05, same["psi"]  # identical shape
    assert shifted["psi"] > 1.0, shifted["psi"]  # disjoint support
    assert math.isfinite(shifted["psi"])


def test_sketch_psi_stream_drops_nonfinite_values(spark, dirs):
    """A digits-only token like 1 followed by 400 zeros passes the
    silver value regex but casts to double infinity; floor(inf)
    .astype(int64) is undefined (typically INT64_MIN) and clip would
    silently land it in bin 0, corrupting the reference histogram.
    Non-finite values must be dropped before binning."""
    huge = "1" + "0" * 400  # passes ^-?\d+\.?\d*$, casts to +inf
    lines = [f"1649941819 Voltage {float(v % 50)}" for v in range(40)]
    lines += [f"1649941819 Voltage {huge}" for _ in range(5)]
    _drop(dirs, "b1.txt", lines)
    q = sp.sketch_psi_drift_stream(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], lo=0.0, hi=100.0,
        n_bins=10,
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(dirs["out"]).collect()
    # the 5 inf readings contribute to NO bin: 40 counted, not 45
    assert len(rows) == 1 and rows[0]["batch_rows"] == 40
    assert rows[0]["is_reference"] and rows[0]["psi"] == 0.0


def _mk_doc(doc_id, words, ts="2024-01-01T00:00:00Z", lang="en", src="s1"):
    return {"doc_id": doc_id, "text": " ".join(words), "lang": lang,
            "source": src, "fetched_at": ts}


def _corpus_words(seed, n=60):
    # varied-vocabulary text (25-90 tokens): near-dup detection needs
    # distinct shingles, unlike GOOD_TEXT's single repeated token
    return [f"w{(seed * 37 + i * 13) % 211}x{i}" for i in range(n)]


def test_corpus_ingest_stream_neardup_probe_drop_append(spark, dirs):
    """VERDICT r7 directive #4: streaming corpus ingest with the
    persisted minhash index composed in. Across micro-batches with
    straddling near-dups: (1) cross-batch near-dups are dropped at
    ingest; (2) batch-internal near-dups keep only the smallest id;
    (3) the clean store ends with NO near-dup pairs at the threshold;
    (4) the index equals a from-scratch save_minhash_index build over
    exactly the admitted corpus (signatures AND band keys)."""
    from sensor_data_pipeline___spark.operators import dedup

    idx = os.path.join(dirs["wh"], "mh_index")
    seed_rows = [(1000 + i, " ".join(_corpus_words(i))) for i in range(6)]
    seed = spark.createDataFrame(seed_rows, "doc_id long, text string")
    dedup.save_minhash_index(seed, idx)

    # batch 1: two fresh docs + an internal near-dup pair (31 ~ 32,
    # one word changed in 60) + a cross near-dup of seed doc 1002
    w7, w8, w9 = _corpus_words(7), _corpus_words(8), _corpus_words(9)
    near_w9 = w9[:-1] + ["changed"]
    near_seed2 = _corpus_words(2)[:-1] + ["tweak"]
    _drop_jsonl(dirs, "b1.jsonl", [
        _mk_doc(30, w7),
        _mk_doc(31, w9),
        _mk_doc(32, near_w9),
        _mk_doc(33, near_seed2),
    ])
    q = sp.corpus_ingest_stream_neardup(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], idx
    )
    q.awaitTermination(120)
    ids1 = sorted(r.doc_id for r in spark.read.parquet(dirs["out"]).collect())
    assert ids1 == [30, 31]  # 32 internal-dropped, 33 cross-dropped

    # batch 2: a near-dup of batch 1's admitted doc 31 (cross-BATCH,
    # not just cross-seed) + one fresh doc
    near_w9_b = w9[:-1] + ["other"]
    _drop_jsonl(dirs, "b2.jsonl", [
        _mk_doc(40, near_w9_b),
        _mk_doc(41, w8),
    ])
    q = sp.corpus_ingest_stream_neardup(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], idx
    )
    q.awaitTermination(120)
    store = spark.read.parquet(dirs["out"])
    ids2 = sorted(r.doc_id for r in store.collect())
    assert ids2 == [30, 31, 41]

    # (3) clean store holds no near-dup pairs at all
    assert dedup.minhash_near_dup(
        store.select("doc_id", "text")
    ).count() == 0

    # (4) incremental index == from-scratch build on the admitted docs
    # (seed ∪ survivors), modulo the ingest_key partition column
    scratch = os.path.join(dirs["wh"], "mh_scratch")
    admitted = seed.unionByName(store.select("doc_id", "text"))
    dedup.save_minhash_index(admitted, scratch)
    for sub in ("/signatures", "/bands"):
        inc = sorted(map(tuple, spark.read.parquet(idx + sub)
                         .drop("ingest_key").collect()))
        fs = sorted(map(tuple, spark.read.parquet(scratch + sub)
                        .drop("ingest_key").collect()))
        assert inc == fs, sub


def test_corpus_neardup_stream_maintains_cc_labels(spark, dirs):
    """VERDICT r13 directive #4: the streaming near-dup loop with
    ``cc_labels_path`` composed in maintains a persisted (node,
    component) labeling that — after N streamed batches — equals the
    full star-CC recompute over every pair the loop discovered
    (cross probe hits ∪ batch-internal pairs, kept AND dropped docs),
    and ``cluster_hash_split_from_labels`` over the maintained store
    assigns exactly what ``cluster_hash_split`` over those pairs
    would."""
    from sensor_data_pipeline___spark.operators import dedup
    from sensor_data_pipeline___spark.operators.sampling import (
        cluster_hash_split,
        cluster_hash_split_from_labels,
    )

    idx = os.path.join(dirs["wh"], "mh_index")
    lab = os.path.join(dirs["wh"], "cc_labels")
    seed = spark.createDataFrame(
        [(1000 + i, " ".join(_corpus_words(i))) for i in range(4)],
        "doc_id long, text string",
    )
    dedup.save_minhash_index(seed, idx)
    dedup.save_cc_labels(
        spark,
        lab,
        spark.createDataFrame([], "node long, component long"),
    )

    # batch 1: internal pair (31, 32); cross pair (33, seed 1002)
    w7, w8, w9 = _corpus_words(7), _corpus_words(8), _corpus_words(9)
    _drop_jsonl(dirs, "b1.jsonl", [
        _mk_doc(30, w7),
        _mk_doc(31, w9),
        _mk_doc(32, w9[:-1] + ["changed"]),
        _mk_doc(33, _corpus_words(2)[:-1] + ["tweak"]),
    ])
    q = sp.corpus_ingest_stream_neardup(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], idx,
        cc_labels_path=lab,
    )
    q.awaitTermination(120)
    # batch 2: cross pair (40, admitted 31); fresh 41; cross pair
    # (42, seed 1002) — merging into 33's component
    _drop_jsonl(dirs, "b2.jsonl", [
        _mk_doc(40, w9[:-1] + ["other"]),
        _mk_doc(41, w8),
        _mk_doc(42, _corpus_words(2)[:-1] + ["tweak2"]),
    ])
    q = sp.corpus_ingest_stream_neardup(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], idx,
        cc_labels_path=lab,
    )
    q.awaitTermination(120)

    got = sorted(
        map(tuple, dedup.read_cc_labels(spark, lab).collect())
    )
    discovered = spark.createDataFrame(
        [(31, 32), (33, 1002), (31, 40), (42, 1002)],
        "doc_a long, doc_b long",
    )
    want = sorted(
        map(
            tuple,
            dedup.connected_components_star(discovered).collect(),
        )
    )
    assert got == want
    assert got == [
        (31, 31), (32, 31), (33, 33), (40, 31), (42, 33), (1002, 33),
    ]

    # split assignment off the maintained store == off the pair set
    corpus = spark.createDataFrame(
        [(i,) for i in (30, 31, 32, 33, 40, 41, 42, 1002)], "doc_id long"
    )
    via_labels = {
        (r.doc_id, r.split_key, r.split)
        for r in cluster_hash_split_from_labels(
            corpus, dedup.read_cc_labels(spark, lab)
        ).collect()
    }
    via_pairs = {
        (r.doc_id, r.split_key, r.split)
        for r in cluster_hash_split(corpus, discovered).collect()
    }
    assert via_labels == via_pairs


def test_corpus_neardup_batch_replay_is_effectively_once(spark, dirs):
    """The probe→drop→append loop under at-least-once foreachBatch:
    replaying a batch (same batch_id) after its first attempt fully
    landed must leave the store AND the index byte-equal — the
    self-ingest-key exclusion keeps the replay's probe from matching
    the batch against its own first-attempt signatures (which would
    reject every doc and overwrite the store partition with nothing).
    Also covers the crash-after-append window: the append lands before
    the store write, so a replay that finds its key already present
    must still admit the same survivors."""
    from sensor_data_pipeline___spark.operators import dedup
    from sensor_data_pipeline___spark.streaming.pipeline import (
        corpus_neardup_batch_fn,
    )

    idx = os.path.join(dirs["wh"], "mh_index")
    out = os.path.join(dirs["wh"], "clean")
    seed = spark.createDataFrame(
        [(1000 + i, " ".join(_corpus_words(i))) for i in range(4)],
        "doc_id long, text string",
    )
    dedup.save_minhash_index(seed, idx)

    w5 = _corpus_words(5)
    batch = spark.createDataFrame(
        [
            (50, " ".join(w5), "en", "s1"),
            (51, " ".join(_corpus_words(3)[:-1] + ["tweak"]), "en", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    fn = corpus_neardup_batch_fn(spark, out, idx)
    fn(batch, 7)
    snap = lambda p: sorted(
        map(tuple, spark.read.parquet(p).collect())
    )
    store1 = snap(out)
    sig1 = snap(idx + "/signatures")
    bands1 = snap(idx + "/bands")
    assert sorted(r[0] for r in store1) != []  # doc 50 admitted
    assert 51 not in {r[0] for r in store1}  # near-dup of seed dropped

    fn(batch, 7)  # full replay
    assert snap(out) == store1
    assert snap(idx + "/signatures") == sig1
    assert snap(idx + "/bands") == bands1


def test_corpus_neardup_stream_with_decontam_index_composed(spark, dirs):
    """The full streaming hygiene stack with BOTH persisted indexes
    composed in: quality gate → exact dedup → benchmark
    decontamination (decontam store) → near-dup loop (minhash store).
    A doc sharing one 8-gram with the benchmark suite must never reach
    the clean store OR occupy index signatures, while clean docs flow
    through unchanged; the batch-fn replay stays effectively-once with
    the decontam filter in the loop (it reads a store the loop never
    writes — deterministic, so the survivor set is replay-stable)."""
    from sensor_data_pipeline___spark.operators import decontam, dedup
    from sensor_data_pipeline___spark.streaming.pipeline import (
        corpus_neardup_batch_fn,
    )

    idx = os.path.join(dirs["wh"], "mh_index")
    dix = os.path.join(dirs["wh"], "decontam_index")
    seed = spark.createDataFrame(
        [(1000 + i, " ".join(_corpus_words(i))) for i in range(4)],
        "doc_id long, text string",
    )
    dedup.save_minhash_index(seed, idx)
    bench_words = _corpus_words(90)
    bench = spark.createDataFrame(
        [(1, " ".join(bench_words))], "doc_id long, text string"
    )
    decontam.save_contamination_index(bench, dix, n=8, key="xxhash64")

    # doc 60: clean and fresh. doc 61: fresh vocabulary BUT contains
    # one verbatim 8-token benchmark window -> contaminated (and NOT a
    # near-dup of anything, so only the decontam stage can catch it).
    w10, w11 = _corpus_words(10), _corpus_words(11)
    contaminated = w11[:26] + bench_words[:8] + w11[26:]
    _drop_jsonl(dirs, "b1.jsonl", [
        _mk_doc(60, w10),
        _mk_doc(61, contaminated),
    ])
    q = sp.corpus_ingest_stream_neardup(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], idx,
        decontam_index_path=dix,
    )
    q.awaitTermination(120)
    assert sorted(
        r.doc_id for r in spark.read.parquet(dirs["out"]).collect()
    ) == [60]
    assert sorted(
        r.doc_id for r in spark.read.parquet(idx + "/signatures")
        .filter("doc_id between 60 and 99").collect()
    ) == [60]

    # replay the same composed loop directly: byte-equal store + index
    out2 = os.path.join(dirs["wh"], "clean2")
    batch = spark.createDataFrame(
        [
            (70, " ".join(_corpus_words(12)), "en", "s1"),
            (71, " ".join(contaminated), "en", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    fn = corpus_neardup_batch_fn(
        spark, out2, idx, decontam_index_path=dix
    )
    fn(batch, 9)
    snap = lambda p: sorted(map(tuple, spark.read.parquet(p).collect()))
    store1, sig1 = snap(out2), snap(idx + "/signatures")
    assert sorted(r[0] for r in store1) == [70]
    fn(batch, 9)  # full replay
    assert snap(out2) == store1
    assert snap(idx + "/signatures") == sig1


def _vec_rows(emb_df, ids, new_base, scale=1.0):
    """Re-id (and optionally rescale) embedding rows as JSONL dicts.
    Scaling preserves cosine EXACTLY (scalar multiples), so a scaled
    copy is a semantic near-dup with a different content hash — it
    passes the stream's exact dedup and must be caught by the index
    probe."""
    from pyspark.sql import functions as F

    rows = emb_df.filter(F.col("vec_id").isin(ids)).collect()
    return [
        {
            "vec_id": new_base + i,
            "embedding": [float(x) * scale for x in r.embedding],
            "label": int(r.label),
            "fetched_at": "2024-01-01T00:00:00Z",
        }
        for i, r in enumerate(sorted(rows, key=lambda r: r.vec_id))
    ]


def test_vector_ingest_stream_probe_drop_append(spark, dirs):
    """The IVF twin of the corpus near-dup ingest: streaming embedding
    batches probe the persisted store (semantic near-dups to stored
    vectors dropped), dedup internally cell-blocked (smallest id
    kept), and append survivors effectively-once. Exactness via
    nprobe == ncells; scaled copies (cosine exactly 1.0, different
    bytes) are the plants, so the exact-dedup state can't mask the
    semantic path."""
    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.operators import similarity as sim
    from sensor_data_pipeline___spark.sources import readers

    emb = readers.table(spark, "embeddings", "/root/testdata/sf0.001")
    idx = os.path.join(dirs["wh"], "ivf_index")
    sim.save_ivf_index(
        emb.filter(F.col("vec_id") < 100), idx, ncells=4, iters=1
    )

    # b1: two fresh vectors (copies of 200/201 under new ids), one
    # scaled copy of SEED vector 5 (cross near-dup -> dropped), one
    # scaled copy of fresh vector 200 (internal near-dup -> larger id
    # dropped)
    b1 = (
        _vec_rows(emb, [200, 201], 1000)        # 1000, 1001 fresh
        + _vec_rows(emb, [5], 1100, scale=1.5)  # 1100 cross near-dup
        + _vec_rows(emb, [200], 1200, scale=2.0)  # 1200 internal dup of 1000
    )
    _drop_jsonl(dirs, "v1.jsonl", b1)
    q = sp.vector_ingest_stream(
        spark, dirs["drop"], dirs["ckpt"], idx, threshold=0.95, nprobe=4
    )
    q.awaitTermination(120)
    stored = {
        r.vec_id
        for r in spark.read.parquet(idx + "/vectors")
        .filter("vec_id >= 1000").collect()
    }
    assert stored == {1000, 1001}

    # b2: a scaled copy of b1-ADMITTED 1001 (cross-BATCH near-dup) +
    # one fresh vector
    b2 = _vec_rows(emb, [201], 2000, scale=3.0) + _vec_rows(
        emb, [300], 2100
    )
    _drop_jsonl(dirs, "v2.jsonl", b2)
    q = sp.vector_ingest_stream(
        spark, dirs["drop"], dirs["ckpt"], idx, threshold=0.95, nprobe=4
    )
    q.awaitTermination(120)
    store = spark.read.parquet(idx + "/vectors").filter("vec_id >= 1000")
    assert {r.vec_id for r in store.collect()} == {1000, 1001, 2100}

    # every appended row's cell matches assignment against the STORED
    # centroids (search semantics over appended rows == rebuilt-index
    # semantics)
    cents = sim._read_centroids(spark, idx)
    want = {
        (r.vec_id, r.cell)
        for r in sim.ivf_assign(
            store.select("vec_id", "embedding"), cents
        ).collect()
    }
    assert {(r.vec_id, r.cell) for r in store.collect()} == want


def test_vector_ingest_batch_replay_is_effectively_once(spark, dirs):
    """Replaying the same micro-batch (same batch_id) after its first
    attempt fully landed leaves the index byte-equal: the
    self-ingest-key-excluded probe sees the pre-append store state, so
    the replay admits the same survivors and overwrites only its own
    partitions."""
    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.operators import similarity as sim
    from sensor_data_pipeline___spark.sources import readers
    from sensor_data_pipeline___spark.streaming.pipeline import (
        vector_ingest_batch_fn,
    )

    emb = readers.table(spark, "embeddings", "/root/testdata/sf0.001")
    idx = os.path.join(dirs["wh"], "ivf_index")
    sim.save_ivf_index(
        emb.filter(F.col("vec_id") < 100), idx, ncells=4, iters=1
    )
    batch = (
        emb.filter(F.col("vec_id").isin([200, 7]))
        .withColumn(
            "vec_id",
            F.when(F.col("vec_id") == 200, F.lit(5000)).otherwise(
                F.lit(5001)
            ),
        )
        .withColumn(
            "embedding",
            F.when(
                F.col("vec_id") == 5001,
                F.transform("embedding", lambda x: x * F.lit(1.25)),
            ).otherwise(F.col("embedding")),
        )
    )
    fn = vector_ingest_batch_fn(spark, idx, threshold=0.95, nprobe=4)
    fn(batch, 7)
    snap = lambda: sorted(
        map(
            tuple,
            spark.read.parquet(idx + "/vectors")
            .filter("vec_id >= 5000").collect(),
        )
    )
    s1 = snap()
    assert [r[0] for r in s1] == [5000]  # 5001 = scaled seed 7, dropped
    fn(batch, 7)  # full replay
    assert snap() == s1


def test_sensor_steady_state_batch_job_count_pinned(spark, dirs):
    """VERDICT r7 directive #7: the streaming fast path's per-trigger
    cost is dominated by a fixed scheduling constant per Spark job
    (~150 ms on the bench host), so the batch body's job count IS the
    latency floor. Steady state runs FIVE actions — gate aggregate,
    bronze write, merge checkpoint, silver write, gold write — which
    AQE splits into at most 11 jobs on this shape (each shuffle stage
    materializes as its own job; the silver read takes its schema from
    the table's schema record, so NO per-trigger mergeSchema footer
    job).
    Pin the ceiling so a regression that re-introduces a per-trigger
    materialization (watermark scan, days distinct+collect, gold
    count) fails structurally instead of showing up as a silent p50
    drift."""
    from sensor_data_pipeline___spark.streaming.pipeline import (
        _ingest_batch_fn,
    )

    wh = Warehouse(spark, dirs["wh"])
    fn = _ingest_batch_fn(wh, None)
    b0 = spark.createDataFrame(
        [("1649941817 Voltage 1.34",), ("1649941818 Current 12.0",)],
        "value string",
    )
    fn(b0, 0)  # batch 0: classic path (no silver yet) — not pinned

    sc = spark.sparkContext
    b1 = spark.createDataFrame(
        [("1649941819 Voltage 2.0",), ("1649941820 Current 13.0",)],
        "value string",
    )
    sc.setJobGroup("steady-pin", "steady-state batch job-count pin")
    try:
        fn(b1, 1)
    finally:
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("steady-pin"))
        sc.setJobGroup(None, None)
    assert 0 < n_jobs <= 11, n_jobs


def test_vector_ingest_replay_after_compaction_adds_nothing(spark, dirs):
    """The crash window ivf_maintenance's docstring argues about: batch
    lands -> compaction folds its ingest_key into 'base' -> crash
    BEFORE the checkpoint commit -> full replay. Key-partition
    overwrite can't save this replay (the folded copies no longer
    carry the batch key) and the cosine probe can't either (same-id
    pairs are excluded from ranking) — the IDENTITY gate is what
    holds: the replay's id anti-join against the store finds every
    batch vec_id already present and appends nothing; the store is
    unchanged. Effectively-once survives maintenance."""
    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.operators import similarity as sim
    from sensor_data_pipeline___spark.sources import readers
    from sensor_data_pipeline___spark.streaming.pipeline import (
        vector_ingest_batch_fn,
    )

    emb = readers.table(spark, "embeddings", "/root/testdata/sf0.001")
    idx = os.path.join(dirs["wh"], "ivf_index")
    sim.save_ivf_index(
        emb.filter(F.col("vec_id") < 100), idx, ncells=4, iters=1
    )
    batch = emb.filter(F.col("vec_id").isin([200, 201, 202])).withColumn(
        "vec_id", F.col("vec_id") + 5000
    )
    fn = vector_ingest_batch_fn(spark, idx, threshold=0.95, nprobe=4)
    fn(batch, 3)
    sim.ivf_index_compact(spark, idx)
    snap = lambda: sorted(
        map(
            tuple,
            spark.read.parquet(sim._store_root(idx) + "/vectors")
            .drop("ingest_key").collect(),
        )
    )
    s1 = snap()
    assert len([t for t in s1 if t[0] >= 5000]) == 3
    fn(batch, 3)  # full replay against the compacted generation
    assert snap() == s1


def test_vector_ingest_stream_runs_maintenance_on_cadence(spark, dirs):
    """maintenance_every composes the policy into the streaming loop:
    with compact_after_keys=1 and a per-file trigger, the second
    batch's tick compacts the store (CURRENT advances, keys fold to
    'base') while admitted vectors and search semantics are
    unchanged."""
    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.operators import similarity as sim
    from sensor_data_pipeline___spark.sources import readers

    emb = readers.table(spark, "embeddings", "/root/testdata/sf0.001")
    idx = os.path.join(dirs["wh"], "ivf_index")
    sim.save_ivf_index(
        emb.filter(F.col("vec_id") < 100), idx, ncells=4, iters=1
    )
    _drop_jsonl(dirs, "v1.jsonl", _vec_rows(emb, [200, 201], 1000))
    _drop_jsonl(dirs, "v2.jsonl", _vec_rows(emb, [300, 301], 2000))
    q = sp.vector_ingest_stream(
        spark, dirs["drop"], dirs["ckpt"], idx, threshold=0.95, nprobe=4,
        max_files_per_trigger=1,
        maintenance_every=2,
        maintenance_kwargs={"retrain_balance": 1e9, "compact_after_keys": 1},
    )
    q.awaitTermination(180)
    root = sim._store_root(idx)
    assert os.path.basename(root).startswith("v")  # CURRENT advanced
    import glob as _glob

    keys = {
        os.path.basename(d)
        for d in _glob.glob(os.path.join(root, "vectors", "*", "*"))
        if os.path.isdir(d)
    }
    assert keys == {"ingest_key=base"}
    stored = {
        r.vec_id
        for r in spark.read.parquet(root + "/vectors")
        .filter("vec_id >= 1000").collect()
    }
    assert stored == {1000, 1001, 2000, 2001}


def test_corpus_neardup_replay_after_compaction_adds_nothing(spark, dirs):
    """The minhash twin of the IVF compaction-replay pin: batch lands
    -> minhash_index_compact folds its ingest_key into a new
    generation's 'base' -> crash BEFORE the checkpoint commit -> full
    replay. Key overwrite can't save it (the folded signatures lost
    the batch key) and the probe can't either (same-id candidate pairs
    are excluded) — the identity gate's band-store anti-join is what
    drops the already-indexed ids, so the replay appends nothing to
    the index, while the clean-store write (gate-free by design)
    idempotently rewrites its own partition."""
    from sensor_data_pipeline___spark.operators import dedup
    from sensor_data_pipeline___spark.streaming.pipeline import (
        corpus_neardup_batch_fn,
    )

    idx = os.path.join(dirs["wh"], "mh_index")
    out = os.path.join(dirs["wh"], "clean")
    seed = spark.createDataFrame(
        [(1000 + i, " ".join(_corpus_words(i))) for i in range(4)],
        "doc_id long, text string",
    )
    dedup.save_minhash_index(seed, idx)
    batch = spark.createDataFrame(
        [
            (50, " ".join(_corpus_words(5)), "en", "s1"),
            (51, " ".join(_corpus_words(3)[:-1] + ["tweak"]), "en", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    fn = corpus_neardup_batch_fn(spark, out, idx)
    fn(batch, 7)
    dedup.minhash_index_compact(spark, idx)
    root = dedup._mh_root(idx)
    snap = lambda p: sorted(map(tuple, spark.read.parquet(p).collect()))
    store1, sig1, bands1 = (
        snap(out), snap(root + "/signatures"), snap(root + "/bands")
    )
    assert {r[-1] for r in sig1} == {"base"}  # keys folded
    fn(batch, 7)  # full replay across the generation swap
    assert snap(out) == store1
    assert snap(root + "/signatures") == sig1
    assert snap(root + "/bands") == bands1


def test_corpus_neardup_replay_heals_torn_index_append(spark, dirs):
    """The torn-append window the identity gate must NOT freeze: the
    append's first write (signatures) committed, the second (bands)
    did not. Because the gate reads the BANDS table, the replay sees
    the batch as un-indexed, re-runs the full append (same-key dynamic
    overwrite replaces the orphaned signature partition), and the
    index ends consistent — identical to a never-crashed run."""
    import glob
    import shutil

    from sensor_data_pipeline___spark.operators import dedup
    from sensor_data_pipeline___spark.streaming.pipeline import (
        corpus_neardup_batch_fn,
    )

    idx = os.path.join(dirs["wh"], "mh_index")
    out = os.path.join(dirs["wh"], "clean")
    seed = spark.createDataFrame(
        [(1000 + i, " ".join(_corpus_words(i))) for i in range(4)],
        "doc_id long, text string",
    )
    dedup.save_minhash_index(seed, idx)
    batch = spark.createDataFrame(
        [(50, " ".join(_corpus_words(5)), "en", "s1")],
        "doc_id long, text string, lang string, source string",
    )
    fn = corpus_neardup_batch_fn(spark, out, idx)
    fn(batch, 7)
    snap = lambda p: sorted(map(tuple, spark.read.parquet(p).collect()))
    sig1, bands1 = snap(idx + "/signatures"), snap(idx + "/bands")
    # tear: drop the batch's band partitions, keep its signatures
    torn = glob.glob(os.path.join(idx, "bands", "*", "ingest_key=b7"))
    assert torn  # the batch's key is present under every band_idx
    for d in torn:
        shutil.rmtree(d)
    assert snap(idx + "/bands") != bands1
    fn(batch, 7)  # replay heals the tear
    assert snap(idx + "/signatures") == sig1
    assert snap(idx + "/bands") == bands1


def test_corpus_stream_runs_maintenance_on_cadence(spark, dirs):
    """maintenance_every composes minhash_maintenance into the corpus
    ingest stream: with compact_after_keys=1 and a per-file trigger,
    the second batch's tick compacts the index (CURRENT advances, keys
    fold to 'base') while the clean store and admitted set are
    unchanged."""
    from sensor_data_pipeline___spark.operators import dedup

    idx = os.path.join(dirs["wh"], "mh_index")
    seed = spark.createDataFrame(
        [(1000 + i, " ".join(_corpus_words(i))) for i in range(4)],
        "doc_id long, text string",
    )
    dedup.save_minhash_index(seed, idx)
    _drop_jsonl(dirs, "b1.jsonl", [_mk_doc(30, _corpus_words(7))])
    _drop_jsonl(dirs, "b2.jsonl", [_mk_doc(31, _corpus_words(8))])
    q = sp.corpus_ingest_stream_neardup(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], idx,
        max_files_per_trigger=1,
        maintenance_every=2,
        maintenance_kwargs={"compact_after_keys": 1},
    )
    q.awaitTermination(180)
    root = dedup._mh_root(idx)
    assert os.path.basename(root).startswith("v")  # CURRENT advanced
    sig = spark.read.parquet(root + "/signatures")
    assert {r.ingest_key for r in sig.select("ingest_key").distinct().collect()} == {"base"}
    assert sorted(
        r.doc_id for r in spark.read.parquet(dirs["out"]).collect()
    ) == [30, 31]
    # the compacted index mirrors the admitted corpus exactly
    assert sorted(r.doc_id for r in sig.collect()) == [
        30, 31, 1000, 1001, 1002, 1003,
    ]


def test_vector_ingest_replay_with_internal_neardup_keeps_incumbent(
    spark, dirs
):
    """Review r8 finding: the identity gate must filter the APPEND, not
    the decision input. Batch = {A, B} where B is a scaled copy of A
    (batch-internal near-dup, different ids): attempt 1 admits A,
    drops B, appends A under the batch key — then crashes before the
    commit. A gate applied to the batch itself would hand the replay
    {B} alone (A is already stored, and the self-key-excluded probe
    cannot see it), admit B, and dynamic overwrite would replace the
    first attempt's partition — deleting A for its own duplicate. The
    replay must leave the store EXACTLY as attempt 1 wrote it: A
    present, B absent."""
    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.operators import similarity as sim
    from sensor_data_pipeline___spark.sources import readers
    from sensor_data_pipeline___spark.streaming.pipeline import (
        vector_ingest_batch_fn,
    )

    emb = readers.table(spark, "embeddings", "/root/testdata/sf0.001")
    idx = os.path.join(dirs["wh"], "ivf_index")
    sim.save_ivf_index(
        emb.filter(F.col("vec_id") < 100), idx, ncells=4, iters=1
    )
    a = emb.filter(F.col("vec_id") == 200).withColumn(
        "vec_id", F.lit(5000)
    )
    b = a.select(
        F.lit(5001).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.25)).alias(
            "embedding"
        ),
        *[c for c in a.columns if c not in ("vec_id", "embedding")],
    )
    batch = a.unionByName(b.select(a.columns))
    fn = vector_ingest_batch_fn(spark, idx, threshold=0.95, nprobe=4)
    fn(batch, 7)
    snap = lambda: sorted(
        r.vec_id
        for r in spark.read.parquet(sim._store_root(idx) + "/vectors")
        .filter("vec_id >= 5000").collect()
    )
    assert snap() == [5000]  # A admitted, its duplicate B dropped
    fn(batch, 7)  # full crash-replay
    assert snap() == [5000]  # incumbent intact, duplicate still out
    # and the same holds across a maintenance fold of the batch key
    sim.ivf_index_compact(spark, idx)
    fn(batch, 7)
    assert snap() == [5000]


def test_corpus_stream_band_stratified_admission_gate(spark, dirs):
    """CCNet quality-band admission composed into the streaming stack
    (VERDICT r8 directive #7): docs are scored against the persisted
    unigram LM store, banded by its tercile cuts, and admitted per
    band by deterministic hash sampling. Planted violation class:
    all-OOV gibberish docs score at the smoothing ceiling -> 'tail'
    band, and with tail fraction 0.0 they must NEVER reach the clean
    store or occupy index signatures (exact zero tolerance — the gate
    is deterministic, not probabilistic), while a reference-like doc
    (a permutation of a head-band reference doc's tokens — same
    unigram multiset, same score) flows through. The batch fn stays
    effectively-once with the band gate composed."""
    from sensor_data_pipeline___spark.operators import dedup
    from sensor_data_pipeline___spark.operators import text as T
    from sensor_data_pipeline___spark.streaming.pipeline import (
        corpus_neardup_batch_fn,
    )

    idx = os.path.join(dirs["wh"], "mh_index")
    lm = os.path.join(dirs["wh"], "lm_store")
    vocab = [f"tok{j}" for j in range(50)]
    ref_rows = [
        (2000 + i, " ".join(vocab[(i * 7 + k * 3) % 50] for k in range(40)))
        for i in range(30)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    dedup.save_minhash_index(ref.filter("doc_id < 2004"), idx)
    T.save_unigram_lm(ref, lm)

    # pick a head-band reference doc and permute its tokens: same
    # unigram multiset => same score => same band, different md5/shingles
    banded_ref = {
        r.doc_id: r.band
        for r in T.unigram_bands_against_lm(spark, lm, ref).collect()
    }
    head_id = min(d for d, b in banded_ref.items() if b == "head")
    head_words = dict(ref_rows)[head_id].split(" ")
    good_words = head_words[1::2] + head_words[0::2]

    gib = lambda i: [f"zzq{i}w{k}vv" for k in range(40)]  # noqa: E731
    _drop_jsonl(dirs, "b1.jsonl", [
        _mk_doc(60, good_words),
        _mk_doc(61, gib(61)),
        _mk_doc(62, gib(62)),
    ])
    q = sp.corpus_ingest_stream_neardup(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], idx,
        lm_store_path=lm,
        lm_band_fractions={"head": 1.0, "middle": 1.0, "tail": 0.0},
    )
    q.awaitTermination(120)
    assert sorted(
        r.doc_id for r in spark.read.parquet(dirs["out"]).collect()
    ) == [60]
    assert sorted(
        r.doc_id for r in spark.read.parquet(idx + "/signatures")
        .filter("doc_id between 60 and 99").collect()
    ) == [60]

    # direct replay with the band gate composed: byte-equal outputs
    out2 = os.path.join(dirs["wh"], "clean_band2")
    batch = spark.createDataFrame(
        [
            (70, " ".join(good_words[::-1]), "en", "s1"),
            (71, " ".join(gib(71)), "en", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    fn = corpus_neardup_batch_fn(
        spark, out2, idx, lm_store_path=lm,
        lm_band_fractions={"head": 1.0, "middle": 1.0, "tail": 0.0},
    )
    fn(batch, 9)
    snap = lambda p: sorted(map(tuple, spark.read.parquet(p).collect()))  # noqa: E731
    store1, sig1 = snap(out2), snap(idx + "/signatures")
    assert sorted(r[0] for r in store1) == [70]
    fn(batch, 9)  # full replay
    assert snap(out2) == store1
    assert snap(idx + "/signatures") == sig1


def test_vector_ingest_replay_after_retrain_adds_nothing(spark, dirs):
    """The RETRAIN variant of the compaction-replay pin (review r9):
    batch lands -> ivf_retrain rebuilds the store under NEW centroids
    (every vector reassigned, possibly to a different cell) -> crash
    before the checkpoint commit -> full replay. The replay's
    identity gate must still find every batch vec_id — the gate is
    cell-pruned against the REPLAYED batch's assignment under the new
    centroids, and the folded copies sit wherever the new centroids
    put them — so nothing is appended and the store is unchanged."""
    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.operators import similarity as sim
    from sensor_data_pipeline___spark.sources import readers
    from sensor_data_pipeline___spark.streaming.pipeline import (
        vector_ingest_batch_fn,
    )

    emb = readers.table(spark, "embeddings", "/root/testdata/sf0.001")
    idx = os.path.join(dirs["wh"], "ivf_index")
    sim.save_ivf_index(
        emb.filter(F.col("vec_id") < 100), idx, ncells=4, iters=1
    )
    batch = emb.filter(F.col("vec_id").isin([200, 201, 202])).withColumn(
        "vec_id", F.col("vec_id") + 5000
    )
    fn = vector_ingest_batch_fn(spark, idx, threshold=0.95, nprobe=4)
    fn(batch, 3)
    # retrain with more k-means iterations and a different seed:
    # centroids move, every stored vector is reassigned (cell count is
    # preserved by design — the geometry shake is the new assignment)
    sim.ivf_retrain(spark, idx, iters=3, seed=7)
    snap = lambda: sorted(  # noqa: E731
        map(
            tuple,
            spark.read.parquet(sim._store_root(idx) + "/vectors")
            .drop("ingest_key").collect(),
        )
    )
    s1 = snap()
    assert len([t for t in s1 if t[0] >= 5000]) == 3
    fn(batch, 3)  # full replay against the retrained generation
    assert snap() == s1


def test_corpus_ingest_stream_tokenizes_at_ingest(spark, dirs, tmp_path):
    """tokenizer_vocab_path composes the persisted BPE vocabulary into
    the ingest path: every admitted doc is stamped with n_tokens_bpe,
    and the streamed counts are IDENTICAL to the batch
    encode_against_vocab over the same docs (the replay-stable
    map-only enrichment contract); junk is still gated before it is
    ever tokenized."""
    from sensor_data_pipeline___spark.operators import text as T

    fit = spark.createDataFrame(
        [(0, GOOD_TEXT), (1, "tok tok end end")],
        "doc_id long, text string",
    )
    vocab = str(tmp_path / "bpe_vocab")
    T.save_bpe_vocab(fit, vocab, k=3)

    ts = "2024-01-01T00:00:00Z"
    _drop_jsonl(
        dirs,
        "b1.jsonl",
        [
            {"doc_id": 1, "text": GOOD_TEXT, "lang": "en", "source": "s1", "fetched_at": ts},
            {"doc_id": 2, "text": JUNK_SHORT, "lang": "en", "source": "s1", "fetched_at": ts},
            {"doc_id": 3, "text": "fresh " + GOOD_TEXT, "lang": "en", "source": "s1", "fetched_at": ts},
        ],
    )
    q = sp.corpus_ingest_stream(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"],
        tokenizer_vocab_path=vocab,
    )
    q.awaitTermination(120)
    out = spark.read.parquet(dirs["out"])
    got = {r.doc_id: r.n_tokens_bpe for r in out.collect()}
    assert set(got) == {1, 3}  # junk gated before tokenization
    batch = {
        r.doc_id: r.n_tokens
        for r in T.encode_against_vocab(
            spark, vocab, out.select("doc_id", "text")
        ).collect()
    }
    assert got == batch
    # the learned merge actually engaged: 'tok' is one token, so the
    # count is below the whitespace word count
    n_words = len(GOOD_TEXT.split())
    assert got[1] < 3 * n_words  # chars per word ~3-4, merges fold them


def test_neardup_stream_tokenizes_survivors(spark, dirs, tmp_path):
    """tokenizer_vocab_path on the NEARDUP stream: survivors of the
    full probe→drop loop carry n_tokens_bpe identical to the batch
    encode; dropped near-dups never reach the store at all."""
    from sensor_data_pipeline___spark.operators import dedup
    from sensor_data_pipeline___spark.operators import text as T

    idx = os.path.join(dirs["wh"], "mh_index_tok")
    seed = spark.createDataFrame(
        [(1000 + i, " ".join(_corpus_words(i))) for i in range(4)],
        "doc_id long, text string",
    )
    dedup.save_minhash_index(seed, idx)
    vocab = str(tmp_path / "bpe_vocab")
    T.save_bpe_vocab(seed, vocab, k=3)

    w7, w9 = _corpus_words(7), _corpus_words(9)
    near_seed2 = _corpus_words(2)[:-1] + ["tweak"]
    _drop_jsonl(dirs, "b1.jsonl", [
        _mk_doc(30, w7),
        _mk_doc(31, w9),
        _mk_doc(33, near_seed2),  # cross near-dup of seed 1002
    ])
    q = sp.corpus_ingest_stream_neardup(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"], idx,
        tokenizer_vocab_path=vocab,
    )
    q.awaitTermination(120)
    out = spark.read.parquet(dirs["out"])
    got = {r.doc_id: r.n_tokens_bpe for r in out.collect()}
    assert set(got) == {30, 31}  # near-dup dropped before tokenization
    batch = {
        r.doc_id: r.n_tokens
        for r in T.encode_against_vocab(
            spark, vocab, out.select("doc_id", "text")
        ).collect()
    }
    assert got == batch


def test_corpus_ingest_stream_classifier_gate(spark, dirs, tmp_path):
    """classifier_path composes the persisted learned quality
    classifier into the ingest path as an admission gate AHEAD of the
    dedup state: spam-marked docs (which pass the heuristic gate) are
    dropped, survivors carry quality_score, and the streamed score is
    the row-local expression's — agreeing with the batch
    classifier_score_against_index to float-order tolerance."""
    from sensor_data_pipeline___spark.operators import classifier as C

    spam_text = "spamword " * 12 + "tok " * 12 + "end"  # 25 toks, gated in
    fit = spark.createDataFrame(
        [
            (0, GOOD_TEXT, 1.0),
            (1, "tok tok tok end end end", 1.0),
            (2, spam_text, 0.0),
            (3, "spamword spamword tok end", 0.0),
        ],
        "doc_id long, text string, label double",
    )
    store = str(tmp_path / "clf_gate")
    C.save_classifier(
        fit.select("doc_id", "text"), fit.select("doc_id", "label"), store
    )
    # pick the threshold from the fitted scores themselves: anything
    # separating the planted classes works, the midpoint is stable
    s = {
        r["doc_id"]: r["score"]
        for r in C.classifier_score_against_index(
            spark, store, fit.select("doc_id", "text")
        ).collect()
    }
    assert max(s[2], s[3]) < min(s[0], s[1])  # planted signal learned
    thr = (max(s[2], s[3]) + min(s[0], s[1])) / 2

    ts = "2024-01-01T00:00:00Z"
    _drop_jsonl(
        dirs,
        "b1.jsonl",
        [
            {"doc_id": 1, "text": GOOD_TEXT, "lang": "en", "source": "s1", "fetched_at": ts},
            {"doc_id": 2, "text": spam_text, "lang": "en", "source": "s1", "fetched_at": ts},
            {"doc_id": 3, "text": JUNK_SHORT, "lang": "en", "source": "s1", "fetched_at": ts},
        ],
    )
    q = sp.corpus_ingest_stream(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"],
        classifier_path=store, min_quality_score=thr,
    )
    q.awaitTermination(120)
    out = spark.read.parquet(dirs["out"])
    got = {r.doc_id: r.quality_score for r in out.collect()}
    assert set(got) == {1}  # spam dropped by the learned gate, junk by the heuristic one
    batch = C.classifier_score_against_index(
        spark, store, out.select("doc_id", "text")
    ).collect()[0]["score"]
    assert abs(got[1] - batch) < 1e-9


def test_corpus_ingest_stream_tokenizes_production_k(spark, dirs, tmp_path):
    """A > 64-merge store flips the tokenize-at-ingest enrichment onto
    the rank-dict Arrow pass (stamp_bpe_token_count dispatch — the
    inline fold chain's plan is linear in k and prohibitive at
    production k): streamed counts must still be IDENTICAL to the
    batch encode_against_vocab over the same docs, and the quality
    gate still runs before tokenization."""
    from sensor_data_pipeline___spark.operators import text as T
    from sensor_data_pipeline___spark.operators._local import local_df

    # well-formed synthetic prefix-chain merges over the streamed
    # vocabulary (the bpe_encode_scale_check --synthetic-ks
    # construction) — > 64 so the dispatcher takes the rankdict path
    words = [f"tok{i}" for i in range(200)] + ["end"]
    seen: set = set()
    merges: list = []
    for w in words:
        for i in range(1, len(w)):
            p = (w[:i], w[i])
            if p not in seen:
                seen.add(p)
                merges.append(p)
    assert len(merges) > 64
    vocab = str(tmp_path / "bpe_vocab_bigk")
    rows = [
        (rank, left, right, 0)
        for rank, (left, right) in enumerate(merges, start=1)
    ]
    local_df(
        spark, rows, "merge_rank int, left string, right string, n long"
    ).coalesce(1).write.mode("overwrite").parquet(vocab + "/merges")

    text = " ".join(f"tok{i % 200}" for i in range(24)) + " end"
    ts = "2024-01-01T00:00:00Z"
    _drop_jsonl(
        dirs,
        "b1.jsonl",
        [
            {"doc_id": 1, "text": text, "lang": "en", "source": "s1", "fetched_at": ts},
            {"doc_id": 2, "text": JUNK_SHORT, "lang": "en", "source": "s1", "fetched_at": ts},
        ],
    )
    q = sp.corpus_ingest_stream(
        spark, dirs["drop"], dirs["out"], dirs["ckpt"],
        tokenizer_vocab_path=vocab,
    )
    q.awaitTermination(120)
    out = spark.read.parquet(dirs["out"])
    got = {r.doc_id: r.n_tokens_bpe for r in out.collect()}
    assert set(got) == {1}
    batch = {
        r.doc_id: r.n_tokens
        for r in T.encode_against_vocab(
            spark, vocab, out.select("doc_id", "text")
        ).collect()
    }
    assert got == batch
    # the chain merges fully fold each tokN word -> one token per word
    assert got[1] == 25
