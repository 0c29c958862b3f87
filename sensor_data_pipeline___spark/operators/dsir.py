"""DSIR-style data selection: hashed n-gram importance resampling.

Selecting pretraining data that "looks like" a curated target corpus is
one of the highest-leverage operations in an LLM data pipeline. This
module implements the DSIR recipe (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling", public arXiv 2302.03169)
Spark-first:

1. featurize every document into HASHED N-GRAM buckets (unigrams +
   bigrams, md5 → one of ``n_buckets`` buckets) — the bag-of-hashed-
   ngrams generative model of the paper;
2. fit target and raw bucket distributions with add-``smoothing``
   estimates;
3. score each raw document with its log importance weight
   ``Σ_g log p_target(b_g) − log p_raw(b_g)``;
4. resample: top-k by ``log_weight + Gumbel noise`` — Gumbel-top-k IS
   sampling-without-replacement proportional to the importance weights
   (the paper's resampling step), and the noise here is derived from a
   salted md5 of the doc id, so selection is DETERMINISTIC and
   cross-engine reproducible (the same graduation trick as
   ``sampling.hash_stratified_sample``: the hash-derived variant
   carries the oracle, a seeded-RNG variant would be rows-only).

Why this shape survives 100 TB:

- the ONLY state shared across documents is the two bucket-count
  tables, each at most ``n_buckets`` rows REGARDLESS of corpus size
  (hashing caps the vocabulary) — always broadcastable, so scoring is
  two map-side broadcast joins plus one partial-aggregated
  ``groupBy(doc_id)``;
- no UDFs anywhere — tokenize/bigram/hash/log are all built-in
  expressions inside whole-stage codegen;
- the final selection is ``orderBy(key).limit(k)`` (TakeOrdered — a
  per-partition top-k then a k-row driver merge), never a global sort.

Bucket hashing defaults to md5 (not xxhash64) so bucket membership
itself is bit-identical in DuckDB and hash-verifiable by the driver
gate — the documented trade of ``operators/sampling.py``. The persisted
store additionally takes ``hash_kind="xxhash64"`` for the hot streaming
ingest probe (r14; the ``classifier`` precedent — the kind is recorded
in the store meta so fit and probe can never mismatch, and the
oracle-gated queries stay on md5).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sensor_data_pipeline___spark.operators._caches import BoundedCache

#: Hashed feature space. 10k buckets ≈ the paper's hashed n-gram dim;
#: both count tables are capped at this many rows, which is what keeps
#: the score join broadcastable at any corpus size.
N_BUCKETS = 10_000

_U32 = 4_294_967_296.0  # 2^32: md5's first 8 hex chars as a uniform


def _bucket(
    col: Column, salt: str, n_buckets: int, hash_kind: str = "md5"
) -> Column:
    """Gram → bucket. ``"md5"`` (default): first 32 bits of
    md5(salt|value) mod ``n_buckets`` — the cross-engine construction
    of ``sampling.hash_bucket``, what every oracle-gated query uses.
    ``"xxhash64"``: pmod(xxhash64(salt, value), n_buckets) — one JVM
    hash pass instead of a 128-bit digest + string slice, the knob for
    the hot streaming ingest probe (the ``classifier._bucket``
    precedent, measured 2.3×/5.5× there — SCALING.md r13); carries no
    oracle claim. Fit and probe must use the SAME kind — the persisted
    store records it in ``meta/`` so they can never mismatch."""
    if hash_kind == "md5":
        h = F.md5(F.concat_ws("|", F.lit(salt), col))
        return (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets
        )
    if hash_kind == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(salt), col), F.lit(n_buckets))
    raise ValueError(f"unknown hash_kind: {hash_kind!r}")


def hashed_ngram_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    salt: str = "dsir-v1",
    hash_kind: str = "md5",
    extra_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """(id, bucket) — one row per gram OCCURRENCE: the document's
    unigrams plus adjacent bigrams, hashed into ``n_buckets``.

    One scan, one explode: the bigram array is built by zipping the
    token array with its own tail (the ``top_bigrams`` shape — no
    per-index slicing), concatenated onto the unigrams, and exploded
    once. Null tail pads (the zip's last element) are filtered inside
    the array before the explode.

    ``extra_cols`` names input columns to carry through unchanged
    (e.g. the target-membership flag of
    :func:`save_dsir_index`'s one-pass subset fit)."""
    t = F.split(F.col(text_col), " ")
    tail = F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0)))
    bigrams = F.filter(
        F.zip_with(
            t, tail,
            lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b)),
        ),
        lambda x: x.isNotNull(),
    )
    keep = [F.col(c) for c in extra_cols]
    return docs.select(
        F.col(id_col), *keep, F.explode(F.concat(t, bigrams)).alias("_g")
    ).select(
        id_col,
        *keep,
        _bucket(F.col("_g"), salt, n_buckets, hash_kind).alias("bucket"),
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    smoothing: float = 1.0,
    salt: str = "dsir-v1",
    hash_kind: str = "md5",
) -> DataFrame:
    """(id, log_weight, n_grams) for every raw document.

    ``log_weight = Σ_g [ln(ct_b + s) − ln(cr_b + s)]
                   + n_grams · ln((Tr + s·B)/(Tt + s·B))``

    where ``ct/cr`` are the target/raw counts of the gram's bucket,
    ``Tt/Tr`` the total gram counts, ``B = n_buckets``, ``s`` the
    smoothing — algebraically the add-s estimate
    ``Σ ln p̂_target(b) − ln p̂_raw(b)`` with the normalizers factored
    into one constant, so only OBSERVED buckets ever need joining (an
    absent bucket's count enters as coalesce(0), not as a row).

    Plan shape: both count tables are ≤ ``n_buckets`` rows and
    broadcast; the totals are broadcast 1-row aggregates; the per-doc
    sum is one partially-aggregated groupBy. The raw corpus is scanned
    twice (once for its distribution, once for scoring) — at 100 TB
    cache nothing, scan twice.
    """
    rf = hashed_ngram_buckets(
        raw, text_col, id_col, n_buckets, salt, hash_kind
    )
    tf = hashed_ngram_buckets(
        target, text_col, id_col, n_buckets, salt, hash_kind
    )
    tcnt = tf.groupBy("bucket").agg(F.count("*").alias("_ct"))
    rcnt = rf.groupBy("bucket").agg(F.count("*").alias("_cr"))
    totals = tcnt.agg(F.sum("_ct").alias("_tt")).crossJoin(
        rcnt.agg(F.sum("_cr").alias("_tr"))
    )
    sb = smoothing * n_buckets
    per_doc = (
        rf.join(F.broadcast(tcnt), "bucket", "left")
        .join(F.broadcast(rcnt), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.log(
                    (F.coalesce(F.col("_ct"), F.lit(0)) + smoothing)
                    / (F.coalesce(F.col("_cr"), F.lit(0)) + smoothing)
                )
            ).alias("_sum"),
            F.count("*").alias("n_grams"),
        )
    )
    return per_doc.crossJoin(F.broadcast(totals)).select(
        id_col,
        (
            F.col("_sum")
            + F.col("n_grams")
            * F.log((F.col("_tr") + sb) / (F.col("_tt") + sb))
        ).alias("log_weight"),
        "n_grams",
    )


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    smoothing: float = 1.0,
    salt: str = "dsir-v1",
    noise_salt: str = "dsir-gumbel-v1",
) -> DataFrame:
    """Gumbel-top-k importance resampling: the ``k`` raw documents
    with the largest ``log_weight + Gumbel(0,1)`` — a without-
    replacement sample proportional to the importance weights (the
    Gumbel-max trick), which is DSIR's resampling step.

    The Gumbel draw is ``−ln(−ln(u))`` with
    ``u = (md5_32(noise_salt|id) + 0.5) / 2^32`` — deterministic,
    content-stable, cross-engine. Changing ``noise_salt`` redraws the
    sample; growing the corpus never changes an existing doc's noise.

    Returns (id, select_key, log_weight, n_grams) — ``select_key``
    ordered descending is the selection order, so a LIMIT-k consumer
    downstream reproduces the exact sample.
    """
    w = dsir_log_weights(
        raw, target, text_col, id_col, n_buckets, smoothing, salt
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(noise_salt), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(_U32)
    key = F.col("log_weight") - F.log(-F.log(u))
    return (
        w.withColumn("select_key", key)
        .orderBy(F.col("select_key").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, "select_key", "log_weight", "n_grams")
    )


# ---------------------------------------------------------------------------
# Persisted DSIR target store: fit once, score every ingest batch.
# ---------------------------------------------------------------------------

#: path -> (n_buckets, salt, tt, tr) — immutable per save, so cached
#: driver-side like the minhash geometry / decontam meta caches.
_META_CACHE: dict = BoundedCache()


def save_dsir_index(
    target: "DataFrame | None",
    raw_sample: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    salt: str = "dsir-v1",
    hash_kind: str = "md5",
    target_pred: "Column | None" = None,
) -> None:
    """Fit the DSIR scorer ONCE and persist it: the target and
    raw-reference hashed-ngram bucket counts (sparse — observed buckets
    only, ≤ ``n_buckets`` rows each) plus the geometry and totals in a
    one-row meta table. The streaming ingest loop then scores every
    micro-batch against the store (:func:`dsir_weights_against_index`)
    without ever touching the fitting corpora again — the same
    fit-once/probe-forever posture as ``save_minhash_index`` and
    ``save_contamination_index``.

    ``raw_sample`` estimates the denominator distribution; at 100 TB
    fit it on a hash-sampled slice of the raw corpus (the estimate
    needs gram coverage, not the full corpus).

    ``hash_kind`` (r14, VERDICT r13 directive #6): the gram-bucket
    hash — ``"md5"`` (default) for cross-engine oracle replay,
    ``"xxhash64"`` for the hot streaming ingest gate (the
    ``classifier.save_classifier`` precedent). Recorded in ``meta/``;
    :func:`dsir_weights_against_index` replays the recorded kind, so
    fit and probe can never mismatch.

    ``target_pred`` (r16): when the target corpus is a PREDICATE-
    DEFINED SUBSET of ``raw_sample`` (the common fit shape — e.g.
    target = the English slice of the reference sample), pass the
    predicate here and ``target=None``: both count tables then come
    from ONE gram pass over ``raw_sample`` with a conditional
    aggregate, instead of tokenizing + hashing the target slice a
    second time. Exact, not an approximation: every target gram IS a
    raw gram under the subset relation, so per-bucket
    ``ct = count(rows where pred)`` and ``cr = count(*)`` equal the
    two-pass counts row for row (pinned by test)."""
    if (target is None) == (target_pred is None):
        raise ValueError("pass exactly one of target or target_pred")
    _META_CACHE.pop(path, None)
    from sensor_data_pipeline___spark.operators import _probe_cache
    from sensor_data_pipeline___spark.operators._local import local_df

    _probe_cache.invalidate(path)  # counts are rewritten under this root

    if target_pred is not None:
        bf = hashed_ngram_buckets(
            raw_sample.withColumn("_is_t", target_pred),
            text_col, id_col, n_buckets, salt, hash_kind,
            extra_cols=("_is_t",),
        )
        counts = bf.groupBy("bucket").agg(
            F.count(F.when(F.col("_is_t"), F.lit(1))).alias("ct"),
            F.count("*").alias("cr"),
        )
    else:
        tf = hashed_ngram_buckets(
            target, text_col, id_col, n_buckets, salt, hash_kind
        )
        rf = hashed_ngram_buckets(
            raw_sample, text_col, id_col, n_buckets, salt, hash_kind
        )
        counts = (
            tf.groupBy("bucket")
            .agg(F.count("*").alias("ct"))
            .join(
                rf.groupBy("bucket").agg(F.count("*").alias("cr")),
                "bucket",
                "full_outer",
            )
            .select(
                "bucket",
                F.coalesce("ct", F.lit(0)).alias("ct"),
                F.coalesce("cr", F.lit(0)).alias("cr"),
            )
        )
    counts.coalesce(1).write.mode("overwrite").parquet(path + "/counts")
    # totals from the file just written — re-aggregating `counts`
    # would replay the whole two-corpus featurize lineage a second
    # time (the fit corpora are the expensive side; the counts file
    # is <= n_buckets rows)
    totals = (
        raw_sample.sparkSession.read.parquet(path + "/counts")
        .agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
        .first()
    )
    meta = local_df(
        raw_sample.sparkSession,
        [
            (
                n_buckets,
                salt,
                int(totals["tt"]),
                int(totals["tr"]),
                str(hash_kind),
            )
        ],
        "n_buckets int, salt string, tt long, tr long, hash_kind string",
    )
    meta.coalesce(1).write.mode("overwrite").parquet(path + "/meta")


def _load_dsir_meta(spark, path: str) -> tuple:
    if path not in _META_CACHE:
        r = spark.read.parquet(path + "/meta").first()
        d = r.asDict()
        _META_CACHE[path] = (
            int(r["n_buckets"]),
            str(r["salt"]),
            int(r["tt"]),
            int(r["tr"]),
            # absent in pre-r14 stores, which are all md5
            str(d.get("hash_kind") or "md5"),
        )
    return _META_CACHE[path]


def dsir_weights_against_index(
    spark,
    path: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
) -> DataFrame:
    """(id, log_weight, n_grams) for a batch, scored against a
    :func:`save_dsir_index` store — identical arithmetic to
    :func:`dsir_log_weights` with the distributions read from disk
    (pinned equal by tests when the store was fit on the same corpora).

    Per batch: featurize (one scan of the batch), broadcast-join the
    ≤ ``n_buckets``-row counts table, one partial-aggregated groupBy.
    The store is scanned once, never shuffled; the totals are cached
    driver scalars, and the counts table — immutable after save, the
    LM-freq pattern — is checkpointed once per store
    (``_probe_cache.immutable_read``) so the per-micro-batch scoring
    loop reads it from executor memory, not parquet. Smoothing is a
    PROBE-time knob (the store holds raw counts), so re-tuning it
    never refits."""
    from sensor_data_pipeline___spark.operators import _probe_cache

    n_buckets, salt, tt, tr, hash_kind = _load_dsir_meta(spark, path)
    sb = smoothing * n_buckets
    const = float(math.log((tr + sb) / (tt + sb)))
    feats = hashed_ngram_buckets(
        docs, text_col, id_col, n_buckets, salt, hash_kind
    )
    counts = _probe_cache.immutable_read(
        spark, path, "counts", "bucket bigint, ct bigint, cr bigint"
    )
    return (
        feats.join(F.broadcast(counts), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + smoothing)
                    / (F.coalesce(F.col("cr"), F.lit(0)) + smoothing)
                )
            ).alias("_sum"),
            F.count("*").alias("n_grams"),
        )
        .select(
            id_col,
            (F.col("_sum") + F.col("n_grams") * F.lit(const)).alias(
                "log_weight"
            ),
            "n_grams",
        )
    )
