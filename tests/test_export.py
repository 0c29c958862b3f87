"""Training-export operators: deterministic shuffle/shard assignment,
shard writing, and exact-quota mixture sampling
(sensor_data_pipeline___spark/operators/export.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sensor_data_pipeline___spark.operators.export import (
    mixture_sample,
    shard_assign,
    write_shards,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_shard_assign_layout_invariant(spark, docs):
    """The permutation is content-keyed: repartitioning the input must
    not move a single row's (shard, pos)."""
    a = {
        r.doc_id: (r.shard, r.pos)
        for r in shard_assign(docs, "doc_id", 8).collect()
    }
    b = {
        r.doc_id: (r.shard, r.pos)
        for r in shard_assign(docs.repartition(7), "doc_id", 8).collect()
    }
    assert a == b
    assert len(a) == docs.count()


def test_shard_assign_is_a_permutation(spark, docs):
    """Every shard's positions are exactly 1..shard_size — the shards
    concatenate to one permutation of the corpus, no gaps, no dups."""
    assigned = shard_assign(docs, "doc_id", 8)
    per_shard = (
        assigned.groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.min("pos").alias("lo"),
            F.max("pos").alias("hi"),
            F.countDistinct("pos").alias("npos"),
        )
        .collect()
    )
    assert {r.shard for r in per_shard} == set(range(8))
    for r in per_shard:
        assert (r.lo, r.hi, r.npos) == (1, r.n, r.n)


def test_write_shards_roundtrip(spark, docs, tmp_path):
    out = os.path.join(str(tmp_path), "shards")
    write_shards(docs, out, "doc_id", n_shards=4)
    dirs = sorted(
        d for d in os.listdir(out) if d.startswith("shard=")
    )
    assert dirs == [f"shard={k}" for k in range(4)]
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    # each shard directory holds ONE file (plus markers): the
    # repartition-before-partitionBy co-location worked
    for d in dirs:
        files = [
            f
            for f in os.listdir(os.path.join(out, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)
    # within EVERY shard file, rows are in stream order (hash
    # collisions can co-locate shards in one writer task — order must
    # hold per shard regardless)
    for d in dirs:
        one = spark.read.parquet(os.path.join(out, d))
        pos = [r.pos for r in one.select("pos").collect()]
        assert pos == sorted(pos), d


def test_mixture_sample_quota_semantics(spark, docs):
    sizes = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    langs = sorted(sizes)
    assert len(langs) >= 2
    over, under = langs[0], langs[1]
    quotas = {over: max(1, sizes[over] - 1), under: sizes[under] + 100}
    got = {
        r.lang: r.n
        for r in mixture_sample(docs, "lang", "doc_id", quotas)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # capped stratum hits its quota exactly; under-filled stratum keeps
    # everything; strata absent from the quota map are dropped
    assert got == {over: quotas[over], under: sizes[under]}


def test_mixture_sample_stable_under_growth(spark, docs):
    """Growing the corpus can only evict border rows: the winners on a
    half-corpus that still win on the full corpus keep identical
    membership (subset property of fixed-k smallest-hash selection)."""
    half = docs.filter(F.col("doc_id") % 2 == 0)
    quotas = {"en": 5}
    w_half = {
        r.doc_id
        for r in mixture_sample(half, "lang", "doc_id", quotas).collect()
    }
    w_full = {
        r.doc_id
        for r in mixture_sample(docs, "lang", "doc_id", quotas).collect()
    }
    # full-corpus winners that exist in the half corpus must also be
    # half-corpus winners (hash order is global, not layout-relative)
    half_ids = {r.doc_id for r in half.collect()}
    assert (w_full & half_ids) <= w_half


def test_mixture_sample_empty_quotas_rejected(spark, docs):
    with pytest.raises(ValueError):
        mixture_sample(docs, "lang", "doc_id", {})


def test_user_event_sequences_order_truncation_and_plan(spark):
    """Sequences are (ts, event_id)-ordered, truncated at max_len with
    the loss counted, and the plan has no global window (ordering via
    per-group array sort — no SinglePartition stage)."""
    import datetime as dt

    from sensor_data_pipeline___spark.operators.export import (
        user_event_sequences,
    )
    from sensor_data_pipeline___spark.plans import explain

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: 5 events, one ts TIE broken by event_id (ids 2,3)
        (10, t0, 1, "a"), (11, t0 + dt.timedelta(seconds=1), 1, "b"),
        (13, t0 + dt.timedelta(seconds=2), 1, "d"),
        (12, t0 + dt.timedelta(seconds=2), 1, "c"),
        (14, t0 + dt.timedelta(seconds=3), 1, "e"),
        # user 2: single event
        (20, t0, 2, "z"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {r.user_id: r for r in user_event_sequences(ev, max_len=3).collect()}
    assert out[1]["seq"] == "a b c"  # tie at +2s: id 12 before id 13
    assert out[1]["n_events"] == 5 and out[1]["n_truncated"] == 2
    assert out[2]["seq"] == "z" and out[2]["n_truncated"] == 0

    plan = explain.formatted_plan(user_event_sequences(ev, max_len=3))
    assert "Window" not in plan, plan


def test_webdataset_shards_roundtrip_and_byte_determinism(spark, tmp_path):
    """WebDataset tar export: (1) every doc round-trips (key ordering =
    stream order, text bytes intact, metadata json alongside);
    (2) the tar BYTES are identical when the input layout changes —
    content-addressable training artifacts; (3) the manifest counts
    match the tars."""
    import hashlib
    import json
    import tarfile

    from pyspark.sql import functions as F

    from sensor_data_pipeline___spark.operators import export
    from sensor_data_pipeline___spark.sources import readers

    docs = readers.table(spark, "documents", "/root/testdata/sf0.001")

    d1 = str(tmp_path / "w1")
    man = export.write_webdataset_shards(
        docs, d1, "doc_id", 4, meta_cols=("lang", "source")
    ).collect()
    assert sum(r.n_records for r in man) == docs.count()

    seen = {}
    for r in sorted(man, key=lambda r: r.shard):
        with tarfile.open(r.path) as tf:
            names = tf.getnames()
            # members come in (pos-ordered key).txt/.json pairs
            txt = [n for n in names if n.endswith(".txt")]
            assert txt == sorted(txt)  # stream order == pos order
            assert len(txt) == r.n_records
            for n in txt:
                doc_id = int(n.split("-")[1].split(".")[0])
                seen[doc_id] = tf.extractfile(n).read().decode()
            j = json.loads(
                tf.extractfile(names[1]).read()
            ) if names[1].endswith(".json") else None
            assert j is None or set(j) == {"lang", "source"}
    by_id = {r.doc_id: r.text for r in docs.collect()}
    assert seen == by_id  # every doc exported exactly once, bytes intact

    # byte determinism across layouts
    d2 = str(tmp_path / "w2")
    export.write_webdataset_shards(
        docs.repartition(13).orderBy(F.desc("n_chars")), d2, "doc_id", 4,
        meta_cols=("lang", "source"),
    )
    for k in range(4):
        h1 = hashlib.md5(
            open(f"{d1}/shard-{k:05d}.tar", "rb").read()
        ).hexdigest()
        h2 = hashlib.md5(
            open(f"{d2}/shard-{k:05d}.tar", "rb").read()
        ).hexdigest()
        assert h1 == h2, k


def test_next_event_pairs_null_event_type_windows_dropped(spark):
    """Engine-divergence guard (review r9): a NULL event_type anywhere
    in the context window drops the example in BOTH twins — Spark's
    concat_ws would otherwise silently shorten the context string
    where ANSI || nulls it, splitting the engines on the same rows."""
    import datetime as dt

    from sensor_data_pipeline___spark.operators.export import (
        next_event_training_pairs,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("u1", i, typ, t0 + dt.timedelta(minutes=i))
        for i, typ in enumerate(["a", None, "b", "c", "d", "e"])
    ]
    ev = spark.createDataFrame(
        rows, "user_id string, event_id long, event_type string, ts timestamp"
    )
    got = {
        r.event_id: (r.context, r.label)
        for r in next_event_training_pairs(ev, context=3).collect()
    }
    # event 3's window is (a, NULL, b) and event 4's is (NULL, b, c):
    # both dropped; event 5's (b, c, d) is the first complete window
    assert got == {5: ("b c d", "e")}


def test_release_audit_keeps_null_text_docs(spark):
    """Review r11: a NULL-text candidate must appear in the audit (the
    'one row per candidate' contract) instead of vanishing through a
    NULL md5 join key. NULL and empty texts group as one exact-dup
    cluster; the representative fails quality, the rest are
    exact_dup."""
    from sensor_data_pipeline___spark.operators.export import release_audit

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, " ".join([f"word{i}xy" for i in range(32)] + ["the", "of"])),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "b1 b2 b3 b4 b5 b6 b7 b8")], "bench_id long, text string"
    )
    audit = {
        r.doc_id: r.drop_reason
        for r in release_audit(docs, bench, gram_key="string").collect()
    }
    assert set(audit) == {1, 2, 3}
    assert audit[1] == "quality"    # min-id representative of ('' , NULL)
    assert audit[2] == "exact_dup"  # same content hash, larger id
    assert audit[3] == "kept"


def test_temperature_quotas_upsample_low_resource(spark):
    """τ=0.5 quotas: bounded by k_total, never negative, and the
    low-resource stratum's SHARE of the sample strictly exceeds its
    natural share (the rebalancing point), while ordering by size is
    preserved."""
    from sensor_data_pipeline___spark.operators.export import (
        temperature_quotas,
    )

    rows = [(i, "big") for i in range(900)] + [
        (i + 1000, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    q = {
        r["source"]: (r["n"], r["quota"])
        for r in temperature_quotas(df, "source", k_total=200).collect()
    }
    assert q["big"][0] == 900 and q["small"][0] == 100
    total = q["big"][1] + q["small"][1]
    assert total <= 200
    # natural share of small = 10%; sqrt share = 10/(30+10) = 25%
    assert q["small"][1] / total > 0.2
    assert q["big"][1] > q["small"][1]  # size order preserved


def test_temperature_sample_is_layout_invariant_and_exact_quota(spark):
    """The winning set is identical under a different partition layout
    (md5 rank, not partition order) and each stratum emits exactly its
    quota when the stratum is large enough."""
    from sensor_data_pipeline___spark.operators.export import (
        temperature_quotas,
        temperature_sample,
    )

    rows = [(i, "big") for i in range(900)] + [
        (i + 1000, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got1 = {
        (r["doc_id"], r["source"])
        for r in temperature_sample(
            df, "source", "doc_id", k_total=200
        ).collect()
    }
    got2 = {
        (r["doc_id"], r["source"])
        for r in temperature_sample(
            df.repartition(13), "source", "doc_id", k_total=200
        ).collect()
    }
    assert got1 == got2
    quotas = {
        r["source"]: r["quota"]
        for r in temperature_quotas(df, "source", 200).collect()
    }
    from collections import Counter

    per = Counter(s for _, s in got1)
    assert per == quotas


def test_temperature_tokens_prefix_semantics(spark):
    """temperature_sample_tokens admits exactly the md5-hash-order
    PREFIX whose running token total stays within the stratum's
    quota — replayed independently in Python (hashlib md5, same
    salt|id recipe) against the collected quotas."""
    import hashlib

    from sensor_data_pipeline___spark.operators.export import (
        temperature_quotas_tokens,
        temperature_sample_tokens,
    )

    rows = [
        (i, "a" if i % 3 else "b", (i * 7) % 50 + 1) for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long"
    )
    budget = 300
    quotas = {
        r.source: r.token_quota
        for r in temperature_quotas_tokens(
            df, "source", "n_tokens", budget
        ).collect()
    }
    # independent replay of the prefix rule
    want: set = set()
    for src in {"a", "b"}:
        members = sorted(
            (r for r in rows if r[1] == src),
            key=lambda r: (
                hashlib.md5(f"mixture-v1|{r[0]}".encode()).hexdigest(),
                r[0],
            ),
        )
        cum = 0
        for doc_id, _, n in members:
            cum += n
            if cum > quotas[src]:
                break
            want.add(doc_id)
    got = {
        r.doc_id
        for r in temperature_sample_tokens(
            df, "source", "doc_id", "n_tokens", budget
        ).collect()
    }
    assert got == want
    # budget respected per stratum, and undershoot is bounded by the
    # cut document (prefix rule), not arbitrary
    by_src = (
        temperature_sample_tokens(df, "source", "doc_id", "n_tokens", budget)
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("tok"))
        .collect()
    )
    for r in by_src:
        assert r.tok <= quotas[r.source]


def test_temperature_tokens_quota_shape(spark):
    """Token quotas follow (Σ tokens)^0.5 shares: equal token masses →
    equal quotas; the low-mass stratum gets MORE than its
    proportional share (τ < 1 upsampling), and Σ quota ≤ budget."""
    from sensor_data_pipeline___spark.operators.export import (
        temperature_quotas_tokens,
    )

    rows = [(i, "big", 100) for i in range(90)] + [
        (1000 + i, "small", 100) for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long"
    )
    q = {
        r.source: r.token_quota
        for r in temperature_quotas_tokens(
            df, "source", "n_tokens", 1000
        ).collect()
    }
    # masses 9000 vs 1000 → weights 3:1 → ideal shares 750/250, each
    # floored one short because the shares are binary-inexact
    # (1000·√9000/(√9000+√1000) = 749.999…) — the documented
    # floor-undershoot contract
    assert q == {"big": 749, "small": 249}
    # proportional would have been 900/100: sqrt lifted 'small' 2.5x
    assert q["small"] > 100
    assert sum(q.values()) <= 1000


def test_write_shards_reexport_replaces_directory(spark, tmp_path):
    """A re-export into a directory holding an earlier, wider export
    replaces it: shards the new export does not write are gone, even
    under the engine session's dynamic partition overwrite."""
    out = os.path.join(str(tmp_path), "shards")
    rows = lambda n: spark.range(n).withColumnRenamed("id", "doc_id")
    write_shards(rows(40), out, "doc_id", n_shards=4)
    assert spark.read.parquet(out).count() == 40
    write_shards(rows(10), out, "doc_id", n_shards=2)
    back = spark.read.parquet(out)
    assert sorted(r.doc_id for r in back.collect()) == list(range(10))
    assert {r.shard for r in back.select("shard").distinct().collect()} <= {0, 1}
