"""Property-based tests (hypothesis) for the dual parse paths and
datetime semantics — each example batch becomes ONE DataFrame so Spark
runs once per hypothesis case, not once per row."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from sensor_data_pipeline___spark.functions import parsing
from sensor_data_pipeline___spark.functions.datetime_fmt import (
    format_timestamp_col,
    normalize_range,
)
from sensor_data_pipeline___spark.operators.silver import bronze_to_silver
from sensor_data_pipeline___spark.sources import ingest
from tests.conftest import INVALID_LINES

#: ASCII only: hypothesis's regex strategy draws Unicode digits for \d
#: (e.g. '٠'), which Python's float() accepts but the engine's
#: ASCII-anchored grammar (like the reference's SQL path) rejects.
_ascii = st.characters(min_codepoint=0, max_codepoint=127)
#: Metric names starting with an ASCII letter (both paths accept).
names = st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,8}", fullmatch=True, alphabet=_ascii)
#: Values in the SILVER-accepted grammar ^-?\d+\.?\d*$
silver_values = st.from_regex(r"-?[0-9]{1,6}(\.[0-9]{0,4})?", fullmatch=True, alphabet=_ascii)
timestamps = st.integers(min_value=0, max_value=2**31 - 1)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(timestamps, names, silver_values), min_size=1, max_size=8))
def test_silver_grammar_roundtrips_both_paths(spark, rows):
    lines = [f"{ts} {nm} {val}" for ts, nm, val in rows]
    df = spark.createDataFrame([(ln,) for ln in lines], "raw_line string")
    # 1) every line passes the ingest gate
    n_gate = df.filter(parsing.gate_valid(F.col("raw_line"))).count()
    assert n_gate == len(lines)
    # 2) silver parses every line to the exact typed values
    bronze = df.select(
        F.monotonically_increasing_id().alias("id"),
        "raw_line",
        F.current_timestamp().alias("ingested_at"),
    )
    got = {
        (r["metric_name"], r["metric_value"], int(r["reading_time"].replace(tzinfo=timezone.utc).timestamp()))
        for r in bronze_to_silver(bronze).collect()
    }
    want = {(nm, float(val), ts) for ts, nm, val in rows}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            timestamps,
            names,
            st.sampled_from(["1e3", ".5", "5e-2", "2E4", ".0"]),  # API-only grammar
        ),
        min_size=1,
        max_size=6,
    )
)
def test_divergent_numerics_pass_gate_but_drop_at_silver(spark, rows):
    lines = [f"{ts} {nm} {val}" for ts, nm, val in rows]
    df = spark.createDataFrame([(ln,) for ln in lines], "raw_line string")
    assert df.filter(parsing.gate_valid(F.col("raw_line"))).count() == len(lines)
    bronze = df.select(
        F.monotonically_increasing_id().alias("id"),
        "raw_line",
        F.current_timestamp().alias("ingested_at"),
    )
    assert bronze_to_silver(bronze).count() == 0  # bronze ⊇ silver (§2.9)


#: Python's ``strip`` removes all of these; the gate's ``\s`` (Java,
#: ASCII) matches space, tab and vertical tab, not NBSP or U+3000.
_ws = st.sampled_from(["", " ", "\t", "\x0b", "\u00a0", "\u3000"])
gate_lines = st.one_of(
    st.builds(
        lambda pre, ts, nm, val, post: f"{pre}{ts} {nm} {val}{post}",
        _ws, timestamps, names, silver_values, _ws,
    ),
    st.sampled_from(INVALID_LINES),
    st.lists(_ws, max_size=3).map("".join),
)


@settings(max_examples=20, deadline=None, derandomize=True)
@given(st.lists(gate_lines, min_size=1, max_size=10))
def test_post_gate_matches_stream_aggregate(spark, lines):
    """The POST gate, folded into the local relation on the driver,
    gives the verdict and counts the stream's distributed
    ``flag_lines`` aggregate gives for the same lines."""
    dist = spark.createDataFrame([(ln,) for ln in lines], "raw_line string")
    flagged, invalid = ingest.flag_lines(dist.repartition(2))
    want = flagged.agg(
        invalid, F.sum(F.col("_blank").cast("int")).alias("blank")
    ).first()
    blank, n_invalid = ingest.validate_batch(ingest.lines_df(spark, lines))
    assert (n_invalid, len(blank)) == (want["invalid"], want["blank"])
    if n_invalid:
        with pytest.raises(ingest.IngestRejected):
            ingest.ingest_batch(spark, lines)
    else:
        _, res = ingest.ingest_batch(spark, lines)
        assert res == ingest.IngestResult(
            accepted=len(lines) - want["blank"], skipped=want["blank"]
        )


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=999_999), min_size=1, max_size=8))
def test_format_timestamp_truncates_micros(spark, micros_list):
    base = int(datetime(2022, 4, 14, 13, 10, 17, tzinfo=timezone.utc).timestamp())
    df = spark.createDataFrame([(base * 1_000_000 + us,) for us in micros_list], "us long")
    out = df.select(format_timestamp_col(F.timestamp_micros(F.col("us"))).alias("s")).collect()
    got = sorted(r["s"] for r in out)
    want = sorted(f"2022-04-14T13:10:17.{us // 1000:03d}Z" for us in micros_list)
    assert got == want  # truncation, never rounding


def test_normalize_range_properties():
    # date-only `to` is inclusive (+1 day)
    assert normalize_range("2022-04-14", "2022-04-15") == (
        datetime(2022, 4, 14).date(),
        datetime(2022, 4, 16).date(),
    )
    # `to` with a time component truncates to ITS midnight (exclusive)
    assert normalize_range("2022-04-14", "2022-04-15T13:10:17") == (
        datetime(2022, 4, 14).date(),
        datetime(2022, 4, 15).date(),
    )
    # unparseable bound → None (F7 gate)
    assert normalize_range("14-04-2022", "2022-04-15") is None
    assert normalize_range("2022-04-14", "nope") is None


# ---------------------------------------------------------------------------
# Connected components: cross-checked against a driver-side union-find
# ---------------------------------------------------------------------------


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark):
    from sensor_data_pipeline___spark.operators.dedup import connected_components

    # chain, clique, star, isolated pair — plus a long path (worst case
    # for propagation rounds)
    edges = (
        [(1, 2), (2, 3), (3, 4)]
        + [(10, 11), (10, 12), (11, 12)]
        + [(20, 21), (20, 22), (20, 23)]
        + [(30, 31)]
        + [(i, i + 1) for i in range(100, 120)]
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    # diameter-20 path: the min label needs 20 propagation rounds, and
    # CONFIRMING the fixpoint needs one more zero-change round — at
    # the default cap of 20 the result is correct but the r13
    # cap-exhaustion warning fires (honestly: convergence unobserved).
    # Give it headroom so this test pins the converged-and-confirmed
    # path; the warning path has its own test below.
    got = {
        r.node: r.component
        for r in connected_components(pairs, max_iterations=25).collect()
    }
    expected = _union_find_components(edges)
    # min-label canonical form on both sides
    assert got == expected


def test_cluster_representatives_keep_one_per_cluster(spark):
    from sensor_data_pipeline___spark.operators.dedup import cluster_representatives

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    kept = sorted(r.doc_id for r in cluster_representatives(docs, pairs).collect())
    # {1,2,3} -> 1; {5,6} -> 5; 4,7,8 untouched
    assert kept == [1, 4, 5, 7, 8]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.sets(st.integers(min_value=0, max_value=24), min_size=2, max_size=20),
        min_size=2,
        max_size=12,
    ),
    st.sampled_from([0.5, 0.7, 0.9]),
)
def test_set_similarity_join_is_lossless(spark, token_sets, threshold):
    """Prefix filtering must find EXACTLY the pairs a brute-force
    Jaccard cross join finds — it is a candidate pruner, not an
    approximation (unlike MinHash)."""
    from sensor_data_pipeline___spark.operators.dedup import set_similarity_join

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{t}" for t in sorted(s))) for i, s in enumerate(token_sets)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in set_similarity_join(docs, threshold=threshold).collect()
    }
    want = set()
    for a in range(len(token_sets)):
        for b in range(a + 1, len(token_sets)):
            inter = len(token_sets[a] & token_sets[b])
            union = len(token_sets[a] | token_sets[b])
            if inter / union >= threshold:
                want.add((a, b))
    assert got == want


def test_set_similarity_join_exact_boundary_pair(spark):
    """J exactly == t with UNEQUAL set sizes (18 vs 20 tokens) — the
    case the 1e-9 slack in the prefix/length filters exists for: with
    no slack, ceil(0.9*20) evaluates to 19 (0.9 is inexact in binary)
    and the pair is silently lost."""
    from sensor_data_pipeline___spark.operators.dedup import set_similarity_join

    small = " ".join(f"w{i}" for i in range(18))
    big = " ".join(f"w{i}" for i in range(20))  # superset: J = 18/20 = 0.9
    docs = spark.createDataFrame(
        [(0, small), (1, big)], "doc_id long, text string"
    )
    rows = set_similarity_join(docs, threshold=0.9).collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(0, 1)]
    assert abs(rows[0].jaccard - 0.9) < 1e-12


# ---- round-5 operator properties -----------------------------------

_words = st.from_regex(r"[a-z]{1,5}", fullmatch=True, alphabet=_ascii)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.lists(_words, min_size=0, max_size=60), min_size=1, max_size=6),
    st.sampled_from([(8, 8), (8, 5), (16, 7), (32, 24)]),
)
def test_chunk_documents_partition_properties(spark, docs_tokens, cfg):
    """For every doc and any (chunk, stride) config: chunk 0 starts at
    token 0, consecutive chunks start exactly `stride` apart, every
    chunk except the last is full-width, the last chunk ends exactly
    at the document's end, and concatenating the chunks at stride
    offsets reproduces the token sequence."""
    from sensor_data_pipeline___spark.operators.text import chunk_documents

    chunk, stride = cfg
    texts = [" ".join(toks) for toks in docs_tokens]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    by_doc: dict[int, list] = {}
    for r in chunk_documents(df, chunk_tokens=chunk, stride=stride).collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, text in enumerate(texts):
        toks = text.split(" ")  # note: "" splits to [""] — 1 token
        rows = sorted(by_doc[i], key=lambda r: r.chunk_ix)
        assert [r.chunk_ix for r in rows] == list(range(len(rows)))
        for j, r in enumerate(rows):
            start = j * stride
            expect = toks[start : start + chunk]
            assert r.chunk_text.split(" ") == expect or (
                expect == [] and r.chunk_text == ""
            )
            if j < len(rows) - 1:
                assert r.chunk_n_tokens == chunk
        # last chunk reaches the end of the document exactly
        last = rows[-1]
        assert (len(rows) - 1) * stride + last.chunk_n_tokens == len(toks)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.lists(_words, min_size=1, max_size=30), min_size=1, max_size=6))
def test_collapse_repeats_properties(spark, docs_tokens):
    """Output never has two adjacent equal tokens, is a subsequence of
    the input, preserves first occurrence of every run, and the
    operator is idempotent."""
    from sensor_data_pipeline___spark.operators.text import collapse_repeats

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs_tokens)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in collapse_repeats(df).collect()}
    for i, toks in enumerate(docs_tokens):
        got = out[i].text.split(" ")
        want = [t for j, t in enumerate(toks) if j == 0 or t != toks[j - 1]]
        assert got == want
        assert all(a != b for a, b in zip(got, got[1:]))
    again = {
        r.doc_id: r.text
        for r in collapse_repeats(
            spark.createDataFrame(
                [(i, out[i].text) for i in out], "doc_id long, text string"
            )
        ).collect()
    }
    assert again == {i: out[i].text for i in out}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.floats(0, 100)),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=2, max_value=5),
)
def test_histogram_sketch_merge_invariants(spark, rows, n_splits):
    """Counts always sum to the row count, bins stay in range, and
    merging ANY partition of the data equals the single-pass sketch —
    associativity under an arbitrary split, not just the by-day one."""
    from sensor_data_pipeline___spark.operators.sketches import (
        histogram_merge,
        histogram_sketch,
    )

    df = spark.createDataFrame(
        [(g, float(v), i % n_splits) for i, (g, v) in enumerate(rows)],
        "grp string, value double, part int",
    )
    lo, hi, bins = 0.0, 100.0, 16
    split = histogram_sketch(df, ["grp", "part"], "value", lo, hi, bins)
    merged = {
        (r.grp, r.bin): r.cnt
        for r in histogram_merge(split, ["grp"]).collect()
    }
    direct = {
        (r.grp, r.bin): r.cnt
        for r in histogram_sketch(df, ["grp"], "value", lo, hi, bins).collect()
    }
    assert merged == direct
    assert sum(merged.values()) == len(rows)
    assert all(0 <= b < bins for _, b in merged)


@settings(max_examples=10, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40),
    st.floats(min_value=0.05, max_value=0.95),
)
def test_hash_stratified_membership_matches_python_md5(spark, ids, frac):
    """hash_stratified_sample membership is a pure function of
    md5(salt|id) — recompute it with Python's hashlib as an
    independent in-process oracle (the same cross-engine argument the
    DuckDB oracle makes, at property-test breadth). Also pins the
    nested-subset law: halving the fraction selects a subset."""
    import hashlib

    from sensor_data_pipeline___spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "s") for i in sorted(ids)], "doc_id long, lang string"
    )
    got = {
        r.doc_id
        for r in sampling.hash_stratified_sample(
            df, "lang", {"s": frac}, "doc_id"
        ).collect()
    }

    def bucket(i):
        h = hashlib.md5(f"strat-v1|{i}".encode()).hexdigest()
        return int(h[:8], 16) % sampling.BUCKETS

    want = {i for i in ids if bucket(i) < int(frac * sampling.BUCKETS)}
    assert got == want

    half = {
        r.doc_id
        for r in sampling.hash_stratified_sample(
            df, "lang", {"s": frac / 2}, "doc_id"
        ).collect()
    }
    assert half <= got


# --- BPE loop vs a pure-Python reference (round 11) -----------------

def _py_bpe_learn(texts: "list[str]", k: int):
    """Reference Sennrich-style BPE: vocabulary-weighted adjacent pair
    counts, (count DESC, pair ASC) argmax, greedy left-to-right
    non-overlapping merge — the operator contract, in ~25 lines of
    plain Python."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in t.split(" "):
            if len(w) >= 2:
                vocab[tuple(w)] += 1
    merges = []
    for _ in range(k):
        counts = Counter()
        for syms, freq in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += freq
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((best[0], best[1], counts[best]))
        new_vocab = Counter()
        for syms, freq in vocab.items():
            new_vocab[tuple(_py_merge_once(list(syms), best))] += freq
        vocab = new_vocab
    return merges


def _py_merge_once(syms: "list[str]", pair):
    out, i = [], 0
    while i < len(syms):
        if (
            i + 1 < len(syms)
            and syms[i] == pair[0]
            and syms[i + 1] == pair[1]
        ):
            out.append(pair[0] + pair[1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _py_bpe_encode(text: str, merges):
    toks = []
    for w in text.split(" "):
        if not w:
            continue
        syms = list(w)
        for left, right, _ in merges:
            syms = _py_merge_once(syms, (left, right))
        toks.extend(syms)
    return toks


#: Words over a 3-letter alphabet force dense pair collisions and
#: tie-breaks — the regime where greedy/ordering bugs actually show.
_bpe_words = st.from_regex(r"[abc]{1,6}", fullmatch=True, alphabet=_ascii)
_bpe_texts = st.lists(
    st.lists(_bpe_words, min_size=1, max_size=6).map(" ".join),
    min_size=1,
    max_size=5,
)


#: Symbols built from regex metacharacters, the quote markers ``\Q`` /
#: ``\E``, ``$`` group references and backslashes: everything that
#: could escape ``_merge_rx``'s literal quoting of the pattern or of
#: the replacement. Symbols never contain spaces (the BPE contract).
_rx_symbols = st.lists(
    st.sampled_from(
        ["\\", "\\E", "\\Q", "$", "$1", "$0", ".", "*", "+", "?", "^",
         "|", "(", ")", "[", "]", "{", "}", "E", "Q", "a"]
    ),
    min_size=1,
    max_size=3,
).map("".join)


@st.composite
def _rx_merge_case(draw):
    """(left, right, words): words are symbol lists drawn mostly from
    the merge's own two symbols, so adjacent and overlapping
    candidate pairs (``l r r``, ``l l l`` with left == right) occur."""
    left, right = draw(_rx_symbols), draw(_rx_symbols)
    sym = st.one_of(st.just(left), st.just(right), _rx_symbols)
    words = draw(
        st.lists(st.lists(sym, min_size=1, max_size=8), min_size=1, max_size=6)
    )
    return left, right, words


@settings(max_examples=40, deadline=None, derandomize=True)
@given(_rx_merge_case())
def test_merge_rx_matches_python_fold_on_adversarial_symbols(spark, case):
    """``_merge_rx`` (one merge as a Java ``regexp_replace``) equals the
    greedy left-to-right non-overlapping fold for symbols full of regex
    metacharacters, ``\\E``, ``$`` and backslashes."""
    from sensor_data_pipeline___spark.operators.text import _merge_rx

    left, right, words = case
    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(words)], "i long, s string"
    )
    got = {
        r.i: r.m
        for r in df.select("i", _merge_rx(F.col("s"), left, right).alias("m"))
        .collect()
    }
    for i, w in enumerate(words):
        assert got[i] == " ".join(_py_merge_once(w, (left, right))), (left, right, w)


@settings(max_examples=10, deadline=None)
@given(_bpe_texts, st.integers(min_value=1, max_value=4))
def test_bpe_learn_and_encode_match_python_reference(spark, texts, k):
    """The Spark BPE loop (vocabulary-weighted learn + greedy fold
    encode) agrees with a direct pure-Python implementation on
    arbitrary small corpora — correctness evidence independent of the
    DuckDB oracle's recursive-CTE formulation."""
    from sensor_data_pipeline___spark.operators.text import (
        bpe_learn_merges,
        encode_against_vocab,
        save_bpe_vocab,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    expected_merges = _py_bpe_learn(texts, k)
    got_merges = [
        (r.pair.split(" ")[0], r.pair.split(" ")[1], r.n)
        for r in bpe_learn_merges(docs, k=k).orderBy("merge_rank").collect()
    ]
    assert got_merges == expected_merges

    path = spark.conf.get("spark.local.dir", "/tmp") + "/bpe_prop"
    save_bpe_vocab(docs, path, k=k)
    got_enc = {
        r.doc_id: (r.n_tokens, r.encoded)
        for r in encode_against_vocab(spark, path, docs).collect()
    }
    for i, t in enumerate(texts):
        toks = _py_bpe_encode(t, expected_merges)
        assert got_enc[i] == (len(toks), " ".join(toks)), (t, toks)


def test_bpe_encode_large_k_matches_python_reference(spark, tmp_path):
    """VERDICT r11 directive #1: encode correctness at k ≥ 32 against
    the pure-Python reference, for BOTH strategies — the inline
    map-only fold chain and the word-cache path (distinct-word encode
    with chunked localCheckpoint + join back) that makes production
    vocabulary sizes viable. Real corpus (sf0.001 documents), k=40;
    also pins k=40 learn parity (the hypothesis twin stops at k=4)."""
    from sensor_data_pipeline___spark.operators.text import (
        encode_against_vocab,
        load_bpe_merges,
        save_bpe_vocab,
    )
    from sensor_data_pipeline___spark.sources import readers

    docs = readers.table(spark, "documents", "/root/testdata/sf0.001")
    rows = docs.select("doc_id", "text").collect()
    texts = {r.doc_id: (r.text or "") for r in rows}

    path = str(tmp_path / "bpe40")
    save_bpe_vocab(docs, path, k=40)
    expected_merges = _py_bpe_learn(list(texts.values()), 40)
    assert len(expected_merges) == 40
    got_merges = load_bpe_merges(spark, path)
    assert got_merges == [(l, r) for l, r, _ in expected_merges]

    expected = {
        i: _py_bpe_encode(t, expected_merges) for i, t in texts.items()
    }
    variants = (
        ("inline", 0, "auto"),
        ("word_cache", 8, "fold"),
        ("word_cache", 0, "arrow"),
        ("word_cache", 0, "rankdict"),
    )
    for strategy, ckpt, enc in variants:
        got = {
            r.doc_id: (r.n_tokens, r.encoded)
            for r in encode_against_vocab(
                spark,
                path,
                docs,
                strategy=strategy,
                checkpoint_every=ckpt,
                word_encoder=enc,
            ).collect()
        }
        assert len(got) == len(expected)
        for i, toks in expected.items():
            assert got[i] == (len(toks), " ".join(toks)), (strategy, enc, i)


@settings(max_examples=5, deadline=None)
@given(_bpe_texts, st.integers(min_value=1, max_value=4))
def test_bpe_word_cache_encode_matches_python_reference(spark, texts, k):
    """The word-cache encode strategy (distinct words + join back)
    agrees with the pure-Python reference on arbitrary small corpora —
    same contract as the inline strategy's hypothesis twin, including
    chunked-checkpoint plan cutting (checkpoint_every=2)."""
    from sensor_data_pipeline___spark.operators.text import (
        encode_against_vocab,
        save_bpe_vocab,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    expected_merges = _py_bpe_learn(texts, k)
    path = spark.conf.get("spark.local.dir", "/tmp") + "/bpe_prop_wc"
    save_bpe_vocab(docs, path, k=k)
    got = {
        r.doc_id: (r.n_tokens, r.encoded)
        for r in encode_against_vocab(
            spark, path, docs, strategy="word_cache", checkpoint_every=2
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = _py_bpe_encode(t, expected_merges)
        assert got[i] == (len(toks), " ".join(toks)), (t, toks)


@settings(max_examples=5, deadline=None)
@given(_bpe_texts, st.integers(min_value=1, max_value=4))
def test_bpe_rankdict_encode_matches_python_reference(spark, texts, k):
    """The rank-dict greedy word encoder (the production-tokenizer
    shape: repeatedly merge the lowest-rank adjacent pair; per-word
    cost independent of k) equals the sequential full-pass reference
    on LEARNED vocabularies — the well-formedness equivalence
    _rankdict_word_encode claims, probed in the dense-pair-collision
    [abc] regime where a greedy/sequential divergence would actually
    surface."""
    from sensor_data_pipeline___spark.operators.text import (
        encode_against_vocab,
        save_bpe_vocab,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    expected_merges = _py_bpe_learn(texts, k)
    path = spark.conf.get("spark.local.dir", "/tmp") + "/bpe_prop_rd"
    save_bpe_vocab(docs, path, k=k)
    got = {
        r.doc_id: (r.n_tokens, r.encoded)
        for r in encode_against_vocab(
            spark,
            path,
            docs,
            strategy="word_cache",
            word_encoder="rankdict",
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = _py_bpe_encode(t, expected_merges)
        assert got[i] == (len(toks), " ".join(toks)), (t, toks)


def test_connected_components_star_matches_union_find(spark):
    """The large-star/small-star alternation (the long-chain
    escalation of min-label propagation) computes the same min-id
    components as a driver-side union-find on every adversarial shape:
    chain, clique, star, isolated pair, and a long path."""
    from sensor_data_pipeline___spark.operators.dedup import (
        connected_components_star,
    )

    edges = (
        [(1, 2), (2, 3), (3, 4)]
        + [(10, 11), (10, 12), (11, 12)]
        + [(20, 21), (20, 22), (20, 23)]
        + [(30, 31)]
        + [(i, i + 1) for i in range(100, 120)]
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.node: r.component
        for r in connected_components_star(pairs).collect()
    }
    assert got == _union_find_components(edges)


def test_connected_components_star_converges_on_long_path(spark):
    """The O(log n) claim, falsifiably: a 300-node path has diameter
    299 — min-label propagation needs ~299 rounds (its default cap of
    20 would return WRONG labels there), while the star alternation
    must finish inside 20 alternations. Also exercised with shuffled
    ids so the path is not aligned with the id order."""
    from sensor_data_pipeline___spark.operators.dedup import (
        connected_components_star,
    )

    n = 300
    # deterministic id shuffle: multiply by a unit mod a prime-ish n
    ids = [(i * 7919) % 100_000 + (i * 7919) // 100_000 for i in range(n)]
    assert len(set(ids)) == n
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.node: r.component
        for r in connected_components_star(
            pairs, max_iterations=20
        ).collect()
    }
    m = min(ids)
    assert got == {i: m for i in ids}  # one component, min-id label


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_star_matches_propagation(spark, raw_edges):
    """Star and propagation agree on arbitrary random graphs
    (self-loops dropped by both; same (node, component) contract)."""
    from sensor_data_pipeline___spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    star = {
        r.node: r.component
        for r in connected_components_star(pairs).collect()
    }
    prop = {
        r.node: r.component
        for r in connected_components(pairs, max_iterations=100).collect()
    }
    assert star == prop


def test_connected_components_star_keeps_self_pair_singletons(spark):
    """A self-pair (a,a) — legal output of a sloppy pair source —
    yields node a as its own singleton component in BOTH algorithms
    (the star variant drops the loop edge but keeps the node)."""
    from sensor_data_pipeline___spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(5, 5), (1, 2)], "doc_a long, doc_b long"
    )
    want = {5: 5, 1: 1, 2: 1}
    got_star = {
        r.node: r.component
        for r in connected_components_star(pairs).collect()
    }
    got_prop = {
        r.node: r.component
        for r in connected_components(pairs).collect()
    }
    assert got_star == want
    assert got_prop == want


def test_connected_components_warn_on_cap_exhaustion(spark):
    """Both CC variants surface a capped (possibly wrong) run as a
    RuntimeWarning instead of silently returning best-so-far labels
    (advisor r12); a converged run stays silent."""
    import warnings

    from sensor_data_pipeline___spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    # a 12-node path needs ~11 propagation rounds / several star
    # rounds — max_iterations=1 cannot converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    for fn in (connected_components, connected_components_star):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            fn(pairs, max_iterations=1).collect()
        assert any(
            issubclass(w.category, RuntimeWarning)
            and "fixpoint" in str(w.message).lower()
            or "max_iterations" in str(w.message)
            for w in caught
        ), fn.__name__
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            fn(pairs, max_iterations=40).collect()
        assert not [
            w for w in caught if issubclass(w.category, RuntimeWarning)
        ], fn.__name__


def test_connected_components_incremental_matches_full(spark):
    """Incremental CC maintenance == full recompute on the union edge
    set, across the interesting regimes: a new edge MERGING two old
    components, a brand-new never-labeled node attaching, an old
    component left completely untouched, and a new isolated pair."""
    from sensor_data_pipeline___spark.operators.dedup import (
        connected_components_incremental,
        connected_components_star,
    )

    batch1 = [
        (1, 2), (2, 3),          # comp {1,2,3}
        (10, 11),                # comp {10,11}
        (20, 21), (21, 22),      # comp {20,21,22} — stays untouched
        (30, 30),                # singleton via self-pair
    ]
    batch2 = [
        (3, 10),                 # merges {1,2,3} with {10,11}
        (11, 40),                # new node 40 attaches
        (50, 51),                # brand-new isolated pair
        (30, 52),                # singleton grows
    ]
    p1 = spark.createDataFrame(batch1, "doc_a long, doc_b long")
    p2 = spark.createDataFrame(batch2, "doc_a long, doc_b long")
    labels1 = connected_components_star(p1)
    incr = {
        r.node: r.component
        for r in connected_components_incremental(labels1, p2).collect()
    }
    full = {
        r.node: r.component
        for r in connected_components_star(p1.union(p2)).collect()
    }
    assert incr == full
    # the untouched component passed through by identity (still keyed
    # to its old min), and the merged one re-keyed to the global min
    assert incr[22] == 20
    assert incr[40] == 1 and incr[11] == 1
    assert incr[51] == 50 and incr[52] == 30
