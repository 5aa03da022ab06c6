"""Deduplication operators for training-data pipelines.

Five families over ``documents(doc_id, text, ...)``:

- exact          — md5-groupBy, pure Catalyst (one shuffle on the digest)
- ngram Jaccard  — exact pairwise similarity (quadratic verify; used as the
                   oracle for the approximate methods and for small buckets)
- MinHash + LSH  — numpy-vectorized signatures in one Arrow hop, banding →
                   bucket join → candidate pairs → exact-Jaccard verify.
                   The scale path: candidates are generated by an equi-join
                   on (band, band_hash), never a cross join.
- SimHash        — 64-bit signatures, Hamming-≤k candidate generation by
                   block permutation (pigeonhole over 4 blocks), verify by
                   popcount on xor.
- embedding near-dup — cosine ≥ t pairs; brute force for verify, random
                   hyperplane LSH for scale (see similarity.py).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

__all__ = [
    "exact_dedup",
    "segment_dedup",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_signatures",
    "simhash_pairs",
]

# ---------------------------------------------------------------------------
# Exact
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, digest, dup_rank, is_dup): rank 1 = canonical copy.

    One shuffle on the md5 digest; survivors = ``where(~is_dup)``.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("digest").orderBy(id_col)
    return (
        docs.withColumn("digest", F.md5(F.col(text_col)))
        .withColumn("dup_rank", F.row_number().over(w))
        .withColumn("is_dup", F.col("dup_rank") > 1)
        .select(id_col, "digest", "dup_rank", "is_dup")
    )


# ---------------------------------------------------------------------------
# Cross-document segment dedup (line/paragraph dedup, CCNet/RefinedWeb-style)
# ---------------------------------------------------------------------------


def segment_dedup(docs: DataFrame, window: int = 20, min_docs: int = 2,
                  split_re: str | None = None, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Remove segments duplicated ACROSS documents, keeping one copy
    corpus-wide — the line/paragraph-level dedup every web-text training
    pipeline runs (boilerplate, quoted headers, licence blocks survive
    document-level dedup because the *documents* differ).

    Segmentation: ``split_re`` (e.g. ``r"\\n{2,}"`` for paragraphs) when
    given, else non-overlapping windows of ``window`` whitespace tokens
    (the robust unit for single-line corpora).  A segment whose md5
    digest appears in ≥ ``min_docs`` distinct documents is removed from
    every document EXCEPT the minimum-id owner (deterministic,
    partitioning-independent; exactly one copy survives corpus-wide).

    → (doc_id, n_segments, n_removed, clean_text) with segment order
    preserved.  Documents whose text yields no non-empty segment are
    dropped (there is nothing to dedup or keep).

    100 TB shape: the document TEXT never shuffles — only (doc_id,
    seg_idx, digest) rows do.  One shuffle aggregates digest frequency,
    one builds the per-doc drop map (tiny: only docs that LOSE a
    segment), and the drop map joins back to the docs scan where AQE
    broadcasts it whenever the boilerplate set is small (the common
    case); the final projection filters the in-row segment array by
    index, pure Catalyst, zero UDFs.
    """
    toks = F.split(F.col(text_col), split_re if split_re else " ")
    if split_re:
        segments = F.filter(toks, lambda s: F.trim(s) != "")
        segments = F.transform(segments, lambda s: F.trim(s))
    else:
        n_segs = F.ceil(F.size(toks) / float(window)).cast("int")
        # rule 12: sequence(0, n-1) counts DOWN when n < 1 — greatest-guard
        idxs = F.sequence(F.lit(0), F.greatest(n_segs - 1, F.lit(0)))

        def _seg(i):
            return F.concat_ws(" ", F.slice(toks, i * window + 1, window))

        segments = F.filter(F.transform(idxs, _seg), lambda s: s != "")

    from trident_spark.util import ensure_parallelism

    # segmentation + per-segment md5 run in the scan stage — parallelize
    # single-row-group inputs (rule 3); multi-split corpora skip this
    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        segments.alias("segs")).where(F.size("segs") > 0)

    digests = base.select(
        "doc_id",
        F.posexplode(F.transform("segs", lambda s: F.md5(s)))
        .alias("seg_idx", "digest"),
    )
    freq = digests.groupBy("digest").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("owner"),
    )
    drops = (
        digests.join(freq.where(F.col("n_docs") >= min_docs), "digest")
        .where(F.col("doc_id") != F.col("owner"))
        .groupBy("doc_id")
        .agg(F.collect_set("seg_idx").alias("drop_idx"),
             F.count("*").alias("n_removed"))
    )
    drop_idx = F.coalesce("drop_idx", F.array().cast("array<int>"))
    # rule 15: the 2-param higher-order lambda is (element, index) — here
    # that is exactly the contract we want (filter by position)
    kept = F.filter("segs", lambda s, i: ~F.array_contains(drop_idx, i))
    # paragraphs re-join on a blank line (their delimiter class);
    # token windows re-join on the single space they were split on
    sep = "\n\n" if split_re else " "
    return (
        base.join(drops, "doc_id", "left")
        .select(
            "doc_id",
            F.size("segs").cast("long").alias("n_segments"),
            F.coalesce("n_removed", F.lit(0)).cast("long")
            .alias("n_removed"),
            F.concat_ws(sep, kept).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# Word n-gram Jaccard (exact, quadratic — verify/oracle path)
# ---------------------------------------------------------------------------


def _ngrams_col(text_col: str, n: int):
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    if n == 1:
        return F.array_distinct(toks)
    # sliding window of n tokens joined by space — pure Catalyst transform
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact pairwise word-n-gram Jaccard ≥ threshold (a < b pairs).

    Quadratic — intended for verification, oracles and within-bucket
    rescoring; use minhash_lsh_pairs for corpus-scale candidate generation.
    """
    grams = docs.select(
        F.col(id_col).alias("id"), _ngrams_col(text_col, n).alias("grams")
    )
    a = grams.select(F.col("id").alias("a"), F.col("grams").alias("ga"))
    b = grams.select(F.col("id").alias("b"), F.col("grams").alias("gb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        pairs.withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _stable_hash64(s: str) -> int:
    """Deterministic 63-bit string hash (Python hash() is seed-randomized
    per process, which would make signatures differ across executors)."""
    return int.from_bytes(
        hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "big"
    ) & 0x7FFFFFFFFFFFFFFF


def _hash_params(n_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Full-range draws a,b ∈ [0, 2^61): the multiplier must span the whole
    field or (a*x+b) mod p is piecewise-monotonic in x (small a wraps p only
    a few times → argmin correlates across draws and minhash agreement stops
    estimating Jaccard; measured 0.03 agreement at true j=0.73).  The exact
    122-bit product is reduced by :func:`_axb_mod_p`."""
    rng = np.random.RandomState(seed)
    hi = rng.randint(0, 1 << 31, size=n_hashes).astype(np.uint64)
    lo = rng.randint(0, 1 << 30, size=n_hashes).astype(np.uint64)
    a = ((hi << np.uint64(30)) | lo) % np.uint64(_MERSENNE - 1) + np.uint64(1)
    hi = rng.randint(0, 1 << 31, size=n_hashes).astype(np.uint64)
    lo = rng.randint(0, 1 << 30, size=n_hashes).astype(np.uint64)
    b = ((hi << np.uint64(30)) | lo) % np.uint64(_MERSENNE)
    return a, b


def _axb_mod_p(a: np.ndarray, b: np.ndarray, x: np.ndarray) -> np.ndarray:
    """(a*x + b) mod (2^61-1), EXACT, all intermediates < 2^64.

    x < 2^32 (32-bit shingle keys); a,b < p.  Split a = a_hi*2^32 + a_lo:
    a_lo*x < 2^64 is exact in uint64; the a_hi*x*2^32 term reduces with the
    Mersenne identity t*2^32 mod p = ((t mod 2^29) << 32) + (t >> 29)."""
    P = np.uint64(_MERSENNE)
    a_hi = (a >> np.uint64(32))[:, None]          # < 2^29
    a_lo = (a & np.uint64(0xFFFFFFFF))[:, None]   # < 2^32
    lo = (a_lo * x[None, :]) % P                  # exact: product < 2^64
    t = a_hi * x[None, :]                         # exact: < 2^61
    hi = ((t & np.uint64((1 << 29) - 1)) << np.uint64(32)) + (t >> np.uint64(29))
    hi = np.where(hi >= P, hi - P, hi)
    m = lo + hi + b[:, None]                      # < 3*2^61 < 2^64
    return m % P


def minhash_signatures(docs: DataFrame, n_hashes: int = 64, shingle: int = 3,
                       seed: int = 7, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, sig array<long>): one Arrow hop, numpy inside.

    Shingles are word n-grams hashed to 64-bit; the k minhash values use the
    standard (a*x+b) mod p universal family, vectorized over (shingles × k).
    """
    a, b = _hash_params(n_hashes, seed)

    @pandas_udf(ArrayType(LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        # token-level hash cache: corpora share vocabulary heavily, so each
        # distinct token is blake2b-hashed once per batch; shingle hashes are
        # then a vectorized polynomial combination of token hashes
        tok_cache: dict[str, int] = {}

        def tok_hash(tok: str) -> int:
            h = tok_cache.get(tok)
            if h is None:
                h = _stable_hash64(tok)
                tok_cache[tok] = h
            return h

        # 32-bit shingle keys keep every product below 2^64 (exact in uint64);
        # per-doc shingle sets are tiny, so the 2^32 key space is collision-
        # safe in practice, and exact-Jaccard verify kills any false positive
        P1, P2 = np.uint64(1000003), np.uint64(999983)
        MASK32 = np.uint64(0xFFFFFFFF)
        out = []
        for t in texts:
            toks = (t or "").lower().split()
            th = np.array([tok_hash(x) for x in toks], dtype=np.uint64) & MASK32
            if len(th) < shingle:
                hv = np.array([int(th.sum()) & 0xFFFFFFFF if len(th) else 0],
                              dtype=np.uint64)
            else:
                # rolling shingle hash mod 2^32: h = ((h*P1 + t_j) & MASK32);
                # h*P1 < 2^52 so each step is exact before the mask
                hv = th[: len(th) - shingle + 1].copy()
                for j in range(1, shingle):
                    hv = (hv * P1 + th[j : len(th) - shingle + 1 + j]) & MASK32
                hv = (hv * P2) & MASK32
                hv = np.unique(hv)
            m = _axb_mod_p(a, b, hv)
            out.append(m.min(axis=1).astype(np.int64))
        return pd.Series(out)

    from trident_spark.util import ensure_parallelism

    return ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig")
    )


def minhash_lsh_pairs(docs: DataFrame, n_hashes: int = 96, bands: int = 32,
                      shingle: int = 3, threshold: float = 0.5,
                      seed: int = 7, text_col: str = "text",
                      id_col: str = "doc_id",
                      max_bucket: int = 512) -> DataFrame:
    """Near-dup pairs via banding: (band_idx, band_hash) equi-join generates
    candidates; exact n-gram Jaccard verifies them (false positives die,
    emitted pairs are exact-verified).  rows_per_band = n_hashes // bands
    sets the S-curve; the banding cutoff must sit BELOW the verify threshold
    so boundary pairs are caught reliably: 96/32 → rows=3 →
    t ≈ (1/32)^(1/3) ≈ 0.31, giving ~0.99 capture probability for a pair at
    Jaccard 0.5 while random pairs (j≈0.01) collide in a band w.p. 3e-5 —
    the cheapest config that keeps boundary recall (the verify join kills
    every false positive, so extra candidates only cost compute).

    Degenerate hub buckets (a band bucket holding every copy of a
    boilerplate page — millions at web scale) would make the pairwise
    join m² in one key.  Buckets larger than ``max_bucket`` therefore
    degrade to a STAR of anchor pairs (min-id member paired with every
    other member): O(m) candidates, every member still reaches the
    verify stage and stays connected for clustering, and nothing is
    silently dropped — only which within-bucket pairs are enumerated
    changes, and that is this documented cap.  Exact-dedup first remains
    the cheaper mitigation when the corpus has literal duplicates.
    """
    from pyspark.sql import Window

    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(docs, n_hashes, shingle, seed, text_col, id_col)

    banded = sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    F.concat_ws(",", F.slice("sig", i * rows_per_band + 1, rows_per_band))
                ),
            )
        ).alias("band", "band_hash"),
    )

    w = Window.partitionBy("band", "band_hash")
    sized = banded.withColumn("_n", F.count(F.lit(1)).over(w)) \
                  .withColumn("_anchor", F.min("id").over(w))
    small = sized.where(F.col("_n") <= max_bucket)
    left = small.select(F.col("id").alias("a"), "band", "band_hash")
    right = small.select(F.col("id").alias("b"), "band", "band_hash")
    cands_small = (
        left.join(right, ["band", "band_hash"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    cands_big = (
        sized.where((F.col("_n") > max_bucket)
                    & (F.col("id") != F.col("_anchor")))
        .select(F.col("_anchor").alias("a"), F.col("id").alias("b"))
    )
    # materialize the candidate set once: it is referenced three times below
    # (two verify joins + the id prune) and is tiny relative to the corpus
    cands = (cands_small.unionByName(cands_big).dropDuplicates(["a", "b"])
             .localCheckpoint(eager=True))

    # verify candidates with exact n-gram Jaccard — but only compute the
    # (expensive) gram arrays for documents that actually appear in a
    # candidate pair (guide §3.2 semi-join pre-filter).  The checkpointed
    # cands give AQE exact sizes, so the semi-join broadcasts when the
    # candidate id set is small and degrades to a shuffle semi-join at scale.
    cand_ids = cands.select(
        F.explode(F.array("a", "b")).alias(id_col)).distinct()
    need = docs.join(cand_ids, id_col, "leftsemi")
    grams = need.select(F.col(id_col).alias("id"),
                        _ngrams_col(text_col, shingle).alias("grams"))
    verified = (
        cands.join(grams.withColumnRenamed("id", "a").withColumnRenamed("grams", "ga"), "a")
        .join(grams.withColumnRenamed("id", "b").withColumnRenamed("grams", "gb"), "b")
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        verified.withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _md5_hash64(s: str) -> int:
    """First 8 bytes of md5 as uint64 — deterministic across processes AND
    reproducible in SQL engines (DuckDB: ('0x'||substr(md5(t),1,16))::UBIGINT),
    which is what makes the simhash operator end-to-end oracle-checkable."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:16], 16)


def simhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """→ (id, simhash long): 64-bit simhash over word tokens (numpy batch)."""

    @pandas_udf(LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        tok_cache: dict[str, int] = {}

        def tok_hash(tok: str) -> int:
            h = tok_cache.get(tok)
            if h is None:
                h = _md5_hash64(tok)
                tok_cache[tok] = h
            return h

        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = (t or "").lower().split()
            if not toks:
                continue
            hv = np.array([tok_hash(tok) for tok in toks], dtype=np.uint64)
            bits = ((hv[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int32)
            counts = bits.sum(axis=0)
            sig = np.where(counts * 2 >= len(toks), 1, 0).astype(np.uint64)
            out[i] = np.int64((sig << np.arange(64, dtype=np.uint64)).sum().astype(np.uint64))
        return pd.Series(out)

    from trident_spark.util import ensure_parallelism

    return ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), sim_udf(F.col(text_col)).alias("simhash")
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Pairs within Hamming distance ≤ max_hamming of each other.

    Pigeonhole: split 64 bits into max_hamming+1 blocks; any pair within
    distance k agrees exactly on ≥1 block → candidates come from equi-joins
    on (block_idx, block_value), verified by popcount(xor).
    """
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    sigs = simhash_signatures(docs, text_col, id_col)

    blocks = sigs.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    for i in range(n_blocks)
                ]
            )
        ).alias("block", "block_val"),
    )
    left = blocks.select(F.col("id").alias("a"), F.col("simhash").alias("sa"),
                         "block", "block_val")
    right = blocks.select(F.col("id").alias("b"), F.col("simhash").alias("sb"),
                          "block", "block_val")
    cands = (
        left.join(right, ["block", "block_val"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "sa", "sb")
        .dropDuplicates(["a", "b"])
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cands.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: pairs → components → canonical representative
# ---------------------------------------------------------------------------


def dedup_clusters(docs: DataFrame, n_hashes: int = 96, bands: int = 32,
                   shingle: int = 3, threshold: float = 0.5, seed: int = 7,
                   text_col: str = "text",
                   id_col: str = "doc_id",
                   pairs: DataFrame | None = None) -> DataFrame:
    """Cluster near-duplicate documents and pick one canonical doc per
    cluster — the operator a training-data pipeline actually runs (pairs
    alone don't dedup: A~B, B~C must collapse to ONE kept doc even when
    A~C was never a candidate pair).

    MinHash-LSH pairs (exact-Jaccard verified, see
    :func:`minhash_lsh_pairs`) become edges; alternating large-star/
    small-star connected components (diameter-independent O(log²n) rounds,
    `pipeline/cc.py`) assign each doc the MINIMUM reachable doc id as its
    cluster id; docs with no near-dup are their own singleton cluster.
    ``is_canonical`` marks the kept representative (min id — deterministic,
    partitioning-independent).  Output: (doc_id, cluster_id, is_canonical).
    """
    from pyspark.sql import functions as F

    from trident_spark.pipeline.cc import connected_components

    if pairs is None:
        # callers that already hold the (a, b[, jaccard]) pair set for the
        # SAME parameters may pass it to avoid recomputing the candidate
        # pipeline (the clustering itself is parameter-independent)
        pairs = minhash_lsh_pairs(docs, n_hashes, bands, shingle, threshold,
                                  seed, text_col, id_col)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    labels = connected_components(edges)  # (node, component=min id)
    out = (
        docs.select(F.col(id_col))
        .join(labels, docs[id_col] == labels["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )
    return out
