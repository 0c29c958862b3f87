"""DSIR importance resampling (operators/dsir.py): weights match a
pure-Python reference exactly, selection is deterministic Gumbel-top-k,
and the plan keeps both distribution joins broadcast."""

from __future__ import annotations

import hashlib
import math

import pytest

from pyspark.sql import functions as F

from sensor_data_pipeline___spark.operators import dsir
from sensor_data_pipeline___spark.plans import explain
from sensor_data_pipeline___spark.sources import readers

SF = "/root/testdata/sf0.001"


def _py_bucket(s: str, salt: str, n_buckets: int = dsir.N_BUCKETS) -> int:
    h = hashlib.md5(f"{salt}|{s}".encode()).hexdigest()
    return int(h[:8], 16) % n_buckets


def _py_grams(text: str) -> list[str]:
    t = text.split(" ")
    return t + [f"{a} {b}" for a, b in zip(t, t[1:])]


def test_log_weights_match_python_reference(spark):
    """End-to-end weight parity on a real corpus slice: tokenization,
    bucket hashing, add-1 smoothing, and the factored normalizer
    constant all agree with an independent reference implementation to
    float tolerance."""
    docs = readers.table(spark, "documents", SF).filter(
        F.col("doc_id") < 120
    )
    rows = [(r.doc_id, r.text, r.lang) for r in docs.collect()]
    tcnt: dict[int, int] = {}
    rcnt: dict[int, int] = {}
    grams = {}
    for did, text, lang in rows:
        bs = [_py_bucket(g, "dsir-v1") for g in _py_grams(text)]
        grams[did] = bs
        for b in bs:
            rcnt[b] = rcnt.get(b, 0) + 1
            if lang == "en":
                tcnt[b] = tcnt.get(b, 0) + 1
    tt, tr = sum(tcnt.values()), sum(rcnt.values())
    const = math.log((tr + dsir.N_BUCKETS) / (tt + dsir.N_BUCKETS))
    want = {
        did: sum(
            math.log((tcnt.get(b, 0) + 1.0) / (rcnt[b] + 1.0)) for b in bs
        )
        + len(bs) * const
        for did, bs in grams.items()
    }

    got = {
        r.doc_id: (r.log_weight, r.n_grams)
        for r in dsir.dsir_log_weights(
            docs, docs.filter(F.col("lang") == "en")
        ).collect()
    }
    assert set(got) == set(want)
    for did, (lw, ng) in got.items():
        assert ng == len(grams[did])
        assert abs(lw - want[did]) < 1e-9, (did, lw, want[did])


def test_weights_separate_target_from_offtarget(spark):
    """The whole point: documents from the target language score
    higher than off-target ones against an English target."""
    docs = readers.table(spark, "documents", SF)
    w = dsir.dsir_log_weights(
        docs, docs.filter(F.col("lang") == "en")
    ).join(docs.select("doc_id", "lang"), "doc_id")
    means = {
        r.lang: r.m
        for r in w.groupBy("lang")
        .agg(F.avg(F.col("log_weight") / F.col("n_grams")).alias("m"))
        .collect()
    }
    assert all(means["en"] > m for lang, m in means.items() if lang != "en")


def test_resample_is_deterministic_gumbel_topk(spark):
    """dsir_resample == add hash-Gumbel noise to the weights, take the
    k largest keys; repeat runs identical; a different noise salt
    redraws the sample."""
    docs = readers.table(spark, "documents", SF)
    target = docs.filter(F.col("lang") == "en")
    w = {
        r.doc_id: r.log_weight
        for r in dsir.dsir_log_weights(docs, target).collect()
    }

    def key(did: int, salt: str = "dsir-gumbel-v1") -> float:
        h = hashlib.md5(f"{salt}|{did}".encode()).hexdigest()
        u = (int(h[:8], 16) + 0.5) / 2**32
        return w[did] - math.log(-math.log(u))

    want = sorted(w, key=lambda d: (-key(d), d))[:50]
    got = [r.doc_id for r in dsir.dsir_resample(docs, target, k=50).collect()]
    assert got == want
    assert got == [
        r.doc_id for r in dsir.dsir_resample(docs, target, k=50).collect()
    ]
    redrawn = [
        r.doc_id
        for r in dsir.dsir_resample(
            docs, target, k=50, noise_salt="v2"
        ).collect()
    ]
    assert redrawn == sorted(w, key=lambda d: (-key(d, "v2"), d))[:50]
    assert redrawn != got  # a new salt actually redraws


def test_dsir_plan_broadcasts_distributions_no_global_sort(spark):
    """Scale shape: the two bucket-count joins and the two 1-row totals
    are all broadcast (no sort-merge join anywhere — nothing shuffles
    on bucket), and the top-k is TakeOrdered, not a global Sort+limit.
    The only hash exchanges are the groupBys (bucket counts + per-doc
    sum), all partial-aggregated."""
    docs = readers.table(spark, "documents", SF)
    sel = dsir.dsir_resample(docs, docs.filter(F.col("lang") == "en"), k=25)
    plan = explain.formatted_plan(sel)
    assert explain.sort_merge_join_count(sel) == 0, plan
    assert explain.broadcast_join_count(sel) >= 3, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial" in plan.lower(), plan


def test_persisted_index_probe_equals_inmemory(spark, tmp_path):
    """dsir_weights_against_index on a store fit from (target, raw)
    returns exactly dsir_log_weights(raw, target) for any probe batch
    drawn from the same universe — store round-trip, meta totals, and
    probe arithmetic are lossless. Probe-side smoothing re-tunes
    without refitting."""
    docs = readers.table(spark, "documents", SF)
    target = docs.filter(F.col("lang") == "en")
    path = str(tmp_path / "dsir")
    dsir.save_dsir_index(target, docs, path)

    got = {
        r.doc_id: (r.log_weight, r.n_grams)
        for r in dsir.dsir_weights_against_index(spark, path, docs).collect()
    }
    want = {
        r.doc_id: (r.log_weight, r.n_grams)
        for r in dsir.dsir_log_weights(docs, target).collect()
    }
    assert set(got) == set(want)
    for did in want:
        assert got[did][1] == want[did][1]
        assert abs(got[did][0] - want[did][0]) < 1e-9

    # smoothing is a probe-time knob: s=5 shrinks |weights| toward the
    # uniform prior without touching the store
    s5 = {
        r.doc_id: r.log_weight
        for r in dsir.dsir_weights_against_index(
            spark, path, docs, smoothing=5.0
        ).collect()
    }
    assert any(abs(s5[d] - got[d][0]) > 1e-6 for d in s5)


def test_streaming_dsir_gate_filters_offtarget_docs(spark, tmp_path):
    """The DSIR gate composed into the corpus ingest batch body: with a
    store fit on English docs as target, off-target (zh) batch docs
    score below the threshold and never reach the index or the clean
    store, while on-target docs flow through. Replay stays
    effectively-once with the gate in the loop (deterministic score
    against a store the loop never writes)."""
    import os

    from sensor_data_pipeline___spark.operators import dedup
    from sensor_data_pipeline___spark.streaming.pipeline import (
        corpus_neardup_batch_fn,
    )

    docs = readers.table(spark, "documents", SF)
    dsir_path = str(tmp_path / "dsir")
    dsir.save_dsir_index(docs.filter(F.col("lang") == "en"), docs, dsir_path)

    # per-gram average weight separates en from zh on this corpus:
    # pick a threshold strictly between the two class means
    w = dsir.dsir_weights_against_index(spark, dsir_path, docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    means = {
        r.lang: r.m
        for r in w.groupBy("lang")
        .agg(F.avg(F.col("log_weight") / F.col("n_grams")).alias("m"))
        .collect()
    }
    thr = (means["en"] + means["zh"]) / 2.0

    idx = str(tmp_path / "mh")
    out = str(tmp_path / "clean")
    dedup.save_minhash_index(
        spark.createDataFrame([], "doc_id long, text string"), idx
    )
    en_ids = {
        r.doc_id
        for r in docs.filter(F.col("lang") == "en").select("doc_id").collect()
    }
    zh_ids = {
        r.doc_id
        for r in docs.filter(F.col("lang") == "zh").select("doc_id").collect()
    }
    batch = docs.filter(F.col("lang").isin(["en", "zh"])).select(
        "doc_id", "text", "lang", "source"
    )
    fn = corpus_neardup_batch_fn(
        spark, out, idx, dsir_index_path=dsir_path, dsir_min_avg_weight=thr
    )
    fn(batch, 0)
    stored = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert stored  # on-target docs flowed through
    leaked_zh = stored & zh_ids
    dropped_en = en_ids - stored
    # the gate separates the classes (means are well apart; allow the
    # distribution tails to cross the midpoint for a few docs)
    assert len(leaked_zh) <= len(zh_ids) // 10, sorted(leaked_zh)[:5]
    assert len(dropped_en) <= len(en_ids) // 5, sorted(dropped_en)[:5]
    # index mirrors the admitted set
    sig_ids = {
        r.doc_id for r in spark.read.parquet(idx + "/signatures").collect()
    }
    assert sig_ids == stored
    # replay: same survivors, nothing duplicated
    snap = sorted(map(tuple, spark.read.parquet(out).collect()))
    fn(batch, 0)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == snap


def test_persisted_index_xxhash64_kind_recorded_and_replayed(
    spark, tmp_path
):
    """The r14 hash_kind knob (classifier precedent): a store saved
    with hash_kind='xxhash64' records the kind in meta, the probe
    replays it (weights equal the in-memory twin featurized with the
    same kind — fit/probe can never mismatch), and the bucket space
    genuinely differs from md5's (the knob does something). md5-kind
    stores keep carrying the oracle; pre-r14 meta without the column
    resolves to md5."""
    docs = readers.table(spark, "documents", SF)
    target = docs.filter(F.col("lang") == "en")
    path = str(tmp_path / "dsir_xx")
    dsir.save_dsir_index(target, docs, path, hash_kind="xxhash64")
    assert dsir._load_dsir_meta(spark, path)[4] == "xxhash64"

    got = {
        r.doc_id: (r.log_weight, r.n_grams)
        for r in dsir.dsir_weights_against_index(
            spark, path, docs
        ).collect()
    }
    want = {
        r.doc_id: (r.log_weight, r.n_grams)
        for r in dsir.dsir_log_weights(
            docs, target, hash_kind="xxhash64"
        ).collect()
    }
    assert set(got) == set(want)
    for did in want:
        assert got[did][1] == want[did][1]
        assert abs(got[did][0] - want[did][0]) < 1e-9

    # distinct bucket spaces: same doc, different bucket multisets
    sample = docs.limit(5)
    b_md5 = sorted(
        (r.doc_id, r.bucket)
        for r in dsir.hashed_ngram_buckets(sample).collect()
    )
    b_xx = sorted(
        (r.doc_id, r.bucket)
        for r in dsir.hashed_ngram_buckets(
            sample, hash_kind="xxhash64"
        ).collect()
    )
    assert len(b_md5) == len(b_xx)  # same gram count either way
    assert b_md5 != b_xx


def test_target_pred_fit_equals_explicit_target_fit(spark, tmp_path):
    """The one-pass ``target_pred`` fit writes the same store as the
    two-pass fit on the explicit target slice: every target gram is a
    raw gram, so the conditional count equals the target's own count
    bucket for bucket, and the meta totals follow."""
    docs = readers.table(spark, "documents", SF)
    en = F.col("lang") == "en"
    two, one = str(tmp_path / "two_pass"), str(tmp_path / "one_pass")
    dsir.save_dsir_index(docs.filter(en), docs, two)
    dsir.save_dsir_index(None, docs, one, target_pred=en)

    def store(path, part):
        return sorted(map(tuple, spark.read.parquet(f"{path}/{part}").collect()))

    assert store(one, "counts") == store(two, "counts")
    assert store(one, "meta") == store(two, "meta")
    assert len(store(one, "counts")) > 0


def test_save_dsir_index_needs_exactly_one_target(spark, tmp_path):
    docs = readers.table(spark, "documents", SF)
    path = str(tmp_path / "dsir")
    with pytest.raises(ValueError, match="exactly one"):
        dsir.save_dsir_index(None, docs, path)
    with pytest.raises(ValueError, match="exactly one"):
        dsir.save_dsir_index(docs, docs, path, target_pred=F.col("lang") == "en")
