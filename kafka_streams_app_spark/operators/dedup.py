"""Deduplication operators (BASELINE.json north-star: dedup).

Four tiers, each a distributed plan with no driver-side loops:

- exact: hash-groupBy on content (or its md5 fingerprint, so the shuffle
  key is 32 bytes instead of the document).
- n-gram Jaccard: shingle-inverted-index self-join -> exact Jaccard.
- MinHash + LSH: signature -> banded bucketing -> candidate pairs ->
  exact-Jaccard verification. The scale path: candidate generation cost
  is O(sum of bucket sizes squared) instead of O(n^2).
- SimHash: 64-bit signature, banded by 16-bit chunks, Hamming<=k verify
  (see simhash() below; pandas-UDF-free, pure bit arithmetic).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kafka_streams_app_spark.engine import ensure_parallelism
from kafka_streams_app_spark.functions.text import shingle_list, shingles_udf, tokens

# MinHash parameters: 128 perms = 64 bands x 2 rows. For Jaccard s, the
# probability a pair shares no band is (1-s^2)^64 — at s=0.8 that is
# ~4e-29, so candidate recall at the 0.8 threshold is effectively 1.
# Permutation arithmetic stays below 2^62 (p = 2^31-1, a,h < 2^31) so the
# JVM-side long math never overflows under Spark 4's default ANSI mode.
MINHASH_PERMS = 128
LSH_ROWS = 2
MERSENNE = (1 << 31) - 1
_A = [((2 * i + 1) * 0x9E3779B9) % MERSENNE or 1 for i in range(MINHASH_PERMS)]
_B = [(i * 0xC2B2AE3D + 1) % MERSENNE for i in range(MINHASH_PERMS)]


def dedup_exact(df: DataFrame, content: str, id_col: str) -> DataFrame:
    """Exact dedup: one representative (min id) + multiplicity per content.

    Grouping key is the md5 fingerprint of the content so the shuffle
    moves 32-byte keys, not documents.
    """
    return (
        df.groupBy(F.md5(F.col(content)).alias("content_key"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_cnt"))
        .select(id_col, "dup_cnt")
    )


def _doc_shingles(df: DataFrame, text: str, id_col: str, k: int) -> DataFrame:
    # Arrow-batched shingles (functions/text.py:shingles_udf — see its
    # docstring for the ~8x measurement vs the interpreted HOF form).
    # ensure_parallelism: a single-file scan must not serialize the
    # compute-heavy signature/banding chain on one core.
    return (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("_id"), shingles_udf(k)(F.col(text)).alias("_sh"))
        .filter(F.size("_sh") > 0)
    )


def _verify_jaccard(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard on candidate (doc_a, doc_b) pairs via shingle sets.

    Join strategy (r16, measured DECISION): the planner picks
    SortMergeJoin here (no stats on the cached/checkpointed inputs),
    which sorts the wide shingle-array rows — the §8 smell. A
    SHUFFLE_HASH-hinted rewrite was implemented and A/B'd at sf0.1 and
    the x10 corpus: it REGRESSED the base (verify stage 0.35 -> 0.72 s
    best-of-2; whole entry 1.94 -> 2.53 s best-of-5) for a marginal x10
    gain (1.23 -> 1.04 s), because the hint nodes break the
    otherwise-identical cached subtrees that AQE dedups via exchange
    reuse, and the per-partition hash build costs more than sorting
    these (still small) partitions. Kept as SMJ; revisit only with
    cluster-scale partition sizes in hand (OPTIMIZATION_r16.md)."""
    a = sh.select(F.col("_id").alias("doc_a"), F.col("_sh").alias("_sa"))
    b = sh.select(F.col("_id").alias("doc_b"), F.col("_sh").alias("_sb"))
    joined = cand.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    jac = inter.cast("double") / union
    return (
        joined.select("doc_a", "doc_b", jac.alias("jac"))
        .filter((F.col("jac") >= threshold) & (inter > 0))
    )


def dedup_ngram_jaccard(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact k-token-shingle Jaccard >= threshold.

    Plan: explode shingles -> inverted-index self-join on shingle ->
    count common shingles per pair -> Jaccard from per-doc set sizes.
    Only pairs sharing >=1 shingle are ever materialized.

    max_df is the hot-shingle cap: shingles appearing in more than
    max_df documents are excluded from the inverted index BEFORE the
    self-join (the standard posting-list prune). Without it, one
    stop-phrase shingle shared by M documents creates M^2/2 pairs on a
    single shuffle key — quadratic AND skewed at 100 TB. With the cap the
    join cost is bounded by max_df^2 per shingle. Accuracy caveat: the
    common-shingle NUMERATOR is counted from the pruned posting lists
    while set sizes stay uncapped, so any pair sharing hot shingles has
    its Jaccard UNDERESTIMATED by up to (hot overlap)/union — a pair can
    drop below the threshold even though it also shares rare shingles.
    Use max_df as a recall/cost dial, not an exact filter; max_df=None
    keeps every shingle (exact result; the DuckDB oracle runs this
    variant).
    """
    sh = _doc_shingles(df, text, id_col, k)
    sizes = sh.select("_id", F.size("_sh").alias("_n"))
    ex = sh.select("_id", F.explode("_sh").alias("_s"))
    if max_df is not None:
        hot = (
            ex.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("_s")
        )
        # left_anti on the (small) hot-shingle set; broadcast it.
        ex = ex.join(F.broadcast(hot), "_s", "left_anti")
    pairs = (
        ex.alias("x")
        .join(ex.alias("y"), (F.col("x._s") == F.col("y._s")) & (F.col("x._id") < F.col("y._id")))
        .groupBy(F.col("x._id").alias("doc_a"), F.col("y._id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    na = sizes.select(F.col("_id").alias("doc_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col("_id").alias("doc_b"), F.col("_n").alias("_nb"))
    jac = F.col("_common").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_common"))
    return (
        pairs.join(na, "doc_a").join(nb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jac"))
        .filter(F.col("jac") >= threshold)
    )


def _sig_from_shingles(res: list[str], a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """128-permutation minhash signature of one shingle set: (a*h+b)
    mod p over crc32(shingle). crc32 is deterministic C, uniform over
    the 2^31-1 modulus; int64 products stay below 2^62, so the numpy
    arithmetic never wraps. The hash choice only shapes CANDIDATE
    generation (recall (1-s^2)^64 ~ 1 at the threshold for any uniform
    hash); emitted pairs are exact-Jaccard verified downstream, so
    operator output is hash-agnostic (oracle = brute force)."""
    from zlib import crc32

    hv = np.fromiter(
        (crc32(g.encode()) % MERSENNE for g in res),
        dtype=np.int64, count=len(res),
    )[:, None]                                  # (n, 1)
    return np.min((hv * a + b) % MERSENNE, axis=0)  # (128,)


def _band_hashes(sig: np.ndarray) -> np.ndarray:
    """64 single-long band keys from a 128-long signature: band b's key
    mixes (sig[2b], sig[2b+1], b) through a splitmix64 finalizer. The
    pair value sig[2b]*2^31 + sig[2b+1] < 2^62 is collision-free per
    band; the band index is folded in so one flat int64 column replaces
    the (band, hash) pair — the banding shuffle carries HALF the bytes
    and the candidate self-join keys on a single long. A cross-band
    64-bit collision (~buckets^2/2^64, ~5e-9 here) merely merges two
    buckets; candidates are Jaccard-verified, so correctness is
    unaffected."""
    u = sig.astype(np.uint64)
    v = (u[0::LSH_ROWS] << np.uint64(31)) | u[1::LSH_ROWS]
    v = v ^ (np.arange(len(v), dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
    # splitmix64 finalizer
    v = (v ^ (v >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    v = (v ^ (v >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    v = v ^ (v >> np.uint64(31))
    return v.view(np.int64)


def dedup_containment(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Directed containment near-dup pairs: C(A in B) = |A∩B| / |A|
    (Broder 1997's "containment", the asymmetric twin of resemblance).

    Catches the short-doc-inside-long-doc shape symmetric Jaccard
    dilutes: a 50-shingle snippet fully embedded in a 5000-shingle page
    has Jaccard ~0.01 but containment 1.0 — exactly the quote/excerpt/
    wrapper duplication a training-data pipeline wants to flag.

    Output rows are DIRECTED: (doc_sub, doc_super, containment) with
    doc_sub the (near-)contained document; a mutually-near-identical
    pair yields both directions. Same inverted-index plan and max_df
    hot-shingle dial (and the same recall caveat) as
    dedup_ngram_jaccard — only the final ratio differs, so the join
    cost bound is identical.
    """
    sh = _doc_shingles(df, text, id_col, k)
    sizes = sh.select("_id", F.size("_sh").alias("_n"))
    ex = sh.select("_id", F.explode("_sh").alias("_s"))
    if max_df is not None:
        hot = (
            ex.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("_s")
        )
        ex = ex.join(F.broadcast(hot), "_s", "left_anti")
    pairs = (
        ex.alias("x")
        .join(ex.alias("y"), (F.col("x._s") == F.col("y._s")) & (F.col("x._id") < F.col("y._id")))
        .groupBy(F.col("x._id").alias("doc_a"), F.col("y._id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    na = sizes.select(F.col("_id").alias("doc_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col("_id").alias("doc_b"), F.col("_n").alias("_nb"))
    j = pairs.join(na, "doc_a").join(nb, "doc_b")
    a_in_b = j.select(
        F.col("doc_a").alias("doc_sub"),
        F.col("doc_b").alias("doc_super"),
        (F.col("_common").cast("double") / F.col("_na")).alias("containment"),
    )
    b_in_a = j.select(
        F.col("doc_b").alias("doc_sub"),
        F.col("doc_a").alias("doc_super"),
        (F.col("_common").cast("double") / F.col("_nb")).alias("containment"),
    )
    return a_in_b.unionByName(b_in_a).filter(F.col("containment") >= threshold)


@functools.lru_cache(maxsize=32)
def _band_hashes_udf(k: int):
    """Arrow-batched text -> 64 LSH band keys (array<long>), or null
    when the doc has no k-shingle.

    Callers pair this with shingles_udf(k) in ONE projection, so both
    land in a single ArrowEvalPython node: the text crosses to Python
    once and two plain array columns come back. The r14 form fused the
    pair into one struct<sh,bh> column instead; r15 measurement at
    sf0.1: the struct return path costs ~0.4-0.7 s more per corpus
    pass than two flat arrays (dedup_minhash_lsh end-to-end 2.41 s ->
    1.97 s, interleaved best-of-4) — Arrow's struct assembly from a
    pandas DataFrame is far slower than two independent array columns,
    while the duplicated tokenize in the second UDF is ~5 ms/core.
    Tokenizer and signature arithmetic are unchanged (shingle_list /
    _sig_from_shingles / _band_hashes), so band keys are bit-identical.
    """
    a_vec, b_vec = _A, _B

    @pandas_udf("array<long>")
    def _bh(texts: pd.Series) -> pd.Series:
        a = np.asarray(a_vec, dtype=np.int64)
        b = np.asarray(b_vec, dtype=np.int64)
        # .tolist(): list cells convert to Arrow faster than
        # ndarray cells
        return pd.Series([
            _band_hashes(_sig_from_shingles(res, a, b)).tolist()
            if (res := shingle_list(s, k)) else None
            for s in texts
        ])

    return _bh


def _sig_table(df: DataFrame, text: str, id_col: str, k: int) -> DataFrame:
    """(_id, _sh, _bh): distinct xxhash64 shingle hashes and LSH band
    keys per doc, from one scan + one ArrowEvalPython node (two UDFs,
    one Python crossing — see _band_hashes_udf). Docs with no
    k-shingle are dropped (size 0), matching shingle_list's contract.
    _sh is deliberately UNSORTED: every consumer reads it through
    size()/array_intersect(), both order-invariant, so the sort was
    pure waste — O(s log s) per doc that grows with shingle width
    (within measurement noise at sf0.1's ~50-shingle docs)."""
    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("_id"),
            shingles_udf(k)(F.col(text)).alias("_shs"),
            _band_hashes_udf(k)(F.col(text)).alias("_bh"),
        )
        .filter(F.size("_shs") > 0)
        .select(
            "_id",
            F.array_distinct(
                F.transform(F.col("_shs"), lambda s: F.xxhash64(s))
            ).alias("_sh"),
            "_bh",
        )
    )


MINHASH_BAND_CAP_AUTO = 512
MINHASH_BAND_CAP_MIN_BYTES = 8 * 1024**3


def _auto_band_cap(df: DataFrame) -> int | None:
    """Production default for the hot-band cap (r15 verdict ask #3):
    cap = MINHASH_BAND_CAP_AUTO (512) for corpus-sized inputs, off
    below MINHASH_BAND_CAP_MIN_BYTES (8 GiB), both module constants
    (tests patch them). Sizing uses the optimizer's
    COST ESTIMATE (file-size-derived for lake scans) — no counting job
    at any scale. Unknown-stat inputs (opaque UDF parents, RDD scans)
    estimate at Long.MaxValue and get the cap, the safe direction: at
    unknown scale an undialed df-10k boilerplate band alone emits ~50M
    candidate pairs on one shuffle key (§2.5 skew; SCALE.md "MinHash
    band fan-out": 10% verbatim boilerplate at x10 lifted pairs 74x —
    quadratic in the duplication factor — while cap 8 restored
    linearity). 512 sits far above every measured ORGANIC band df
    (max 14 at sf0.1, 30 at the x10 dup-heavy build), so the cap only
    prunes pathological boilerplate buckets; a pair is lost only if
    EVERY band it shares is hot (near-dups above threshold share ~all
    64 bands). Callers pass an int to dial it or None to force the
    exact/oracle path."""
    from kafka_streams_app_spark.engine import estimated_plan_bytes

    if estimated_plan_bytes(df) >= MINHASH_BAND_CAP_MIN_BYTES:
        return MINHASH_BAND_CAP_AUTO
    return None


def dedup_minhash_lsh(
    df: DataFrame, text: str, id_col: str, k: int = 3, threshold: float = 0.8,
    max_band_df: int | None | str = "auto",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified.

    Signature -> 64 bands of 2 rows -> band-hash bucketing self-join ->
    distinct candidates -> exact Jaccard filter. Output == the brute
    force dedup_ngram_jaccard result (recall ~1 at the threshold by the
    band construction), at O(candidates) instead of O(n^2 shingle-pairs).

    Shingles AND band keys are computed in one scan pass — one
    ArrowEvalPython node holding two flat-array UDFs (_sig_table; see
    _band_hashes_udf for the struct-vs-two-arrays measurement) — and
    persisted together: the bucketing stage reads
    bh, the Jaccard verification reads sh, and the corpus is tokenized
    exactly once. Before the persist, the shingle STRINGS are folded to
    sorted distinct xxhash64 longs JVM-side (transform + xxhash64 —
    set cardinalities and intersections are hash-invariant barring a
    64-bit collision, p ~ n_shingles^2/2^65 ~ 1e-8 per corpus-million,
    and any collision could only merge two shingles, perturbing one
    Jaccard by ~1/|union|): the cache holds 8-byte longs instead of
    ~20-byte strings and the verify join intersects long arrays, a
    measured ~20% wall win at sf0.1 that grows with shingle width. At
    cluster scale the persist is a MEMORY_AND_DISK
    cache of (id, shingle hashes, band keys) — strictly smaller than
    re-reading and re-tokenizing the corpus per stage. The result
    (near-dup pairs, orders of magnitude smaller than the corpus) is
    materialized eagerly so the cache is released before returning —
    repeated calls in a long-lived session must not accumulate cached
    blocks for the application lifetime.

    max_band_df (default "auto" — r16: the production skew default;
    resolves via _auto_band_cap to 512 for inputs the optimizer
    estimates at >= 8 GiB and to None — the exact/oracle path — below,
    so test-scale results are byte-identical while corpus-scale runs
    are skew-protected by default) is
    the hot-band cap, the band-bucket analogue of the posting-list
    max_df dial (r14 verdict ask #5): band buckets with more than
    max_band_df members
    are DROPPED before the self-join, bounding per-bucket candidate
    emission at C(max_band_df, 2). Band-join output is
    sum_buckets C(df, 2) — linear in corpus growth while per-bucket df
    stays flat (disjoint content), but QUADRATIC in df where
    boilerplate concentrates (a df-10k boilerplate band alone emits
    ~50M candidate pairs; at 100x duplication-heavy growth this term
    dominates, SCALE.md "MinHash band fan-out"). The trade is recall
    only for pairs whose EVERY shared band is hot (such docs share
    many bands, so near-dups above threshold survive unless the
    boilerplate itself is the near-dup content — exactly the pairs a
    dedup pipeline caps deliberately); the hot-band set is tiny by
    construction (it's the tail of the df histogram), so the prune is
    a broadcast anti-join on the band key, no extra shuffle shape.
    """
    if max_band_df == "auto":
        max_band_df = _auto_band_cap(df)
    sh_sig = _sig_table(df, text, id_col, k).persist()
    sh = sh_sig.select("_id", "_sh")
    bands = sh_sig.select("_id", F.explode("_bh").alias("bh"))
    if max_band_df is not None:
        hot = (
            bands.groupBy("bh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_band_df)
            .select("bh")
        )
        bands = bands.join(F.broadcast(hot), "bh", "left_anti")
    # join strategy: SMJ, deliberately — SHUFFLE_HASH hints were A/B'd
    # here and on the verify joins (one-sided AND both-sided variants)
    # and lost at sf0.1 (entry best-of-5 1.94 -> 2.53 s / 2.17 s): the
    # hint node breaks the identical-subtree exchange reuse AQE applies
    # to this self-join, and hash-building beats sorting only at
    # partition sizes these inputs don't reach. See _verify_jaccard's
    # docstring + OPTIMIZATION_r16.md.
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.bh") == F.col("y.bh")) & (F.col("x._id") < F.col("y._id")),
        )
        .select(F.col("x._id").alias("doc_a"), F.col("y._id").alias("doc_b"))
        .distinct()
    )
    try:
        return _verify_jaccard(cand, sh, threshold).localCheckpoint(eager=True)
    finally:
        sh_sig.unpersist()


# --- SimHash ---------------------------------------------------------------


def _token_hash(hash_fn: str):
    """Per-token 64/60-bit hash Column + bit width.

    xxhash64: fastest (native JVM hash) — the production default.
    md5: 60 bits from the md5 hex prefix via conv(hex, 16, 10) —
    byte-identical in DuckDB (CAST('0x'||substring(md5(t),1,15) AS
    BIGINT)), which is what makes simhash/winnowing oracle-checkable.
    """
    if hash_fn == "xxhash64":
        return F.xxhash64("_t"), 64
    if hash_fn == "md5":
        return (
            F.conv(F.substring(F.md5(F.col("_t")), 1, 15), 16, 10).cast("long"),
            60,
        )
    raise ValueError(f"unknown hash_fn {hash_fn!r} (expected xxhash64|md5)")


def simhash(
    df: DataFrame, text: str, id_col: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """64-bit (60-bit for hash_fn='md5') SimHash per doc from per-token
    hash bit votes.

    Pure column arithmetic: explode tokens, one ±1 vote per bit per
    token, sum votes per doc, reassemble the sign bits. The per-bit
    sums aggregate map-side, so the shuffle is n_bits longs per doc.
    """
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"), F.explode(tokens(text)).alias("_t")
    )
    h, n_bits = _token_hash(hash_fn)
    votes = toks.select(
        "_id",
        *[
            (F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"_b{i}")
            for i in range(n_bits)
        ],
    )
    sums = votes.groupBy("_id").agg(*[F.sum(f"_b{i}").alias(f"_b{i}") for i in range(n_bits)])
    bits = [
        F.when(F.col(f"_b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        for i in range(n_bits)
    ]
    acc = bits[0]
    for b in bits[1:]:
        acc = acc.bitwiseOR(b)
    return sums.select("_id", acc.alias("simhash"))


def dedup_simhash(
    df: DataFrame, text: str, id_col: str, max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    Banding: split the hash into 4 chunks (16 bits for xxhash64, 15 for
    md5); Hamming<=3 pairs must agree on >=1 chunk (pigeonhole), so
    bucketing by chunk value finds all of them without an n^2 scan. The
    pigeonhole guarantee needs max_hamming + 1 <= n_chunks; larger
    distances would silently miss pairs, so they are rejected.
    """
    n_chunks = 4
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee of "
            f"{n_chunks}-chunk banding (max supported: {n_chunks - 1})"
        )
    _, n_bits = _token_hash(hash_fn)
    chunk_bits = n_bits // n_chunks
    chunk_mask = (1 << chunk_bits) - 1
    sim = simhash(df, text, id_col, hash_fn=hash_fn)
    chunks = sim.select(
        "_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.shiftright("simhash", c * chunk_bits)
                     .bitwiseAND(F.lit(chunk_mask)).alias("cv"))
            for c in range(n_chunks)
        ])).alias("ck"),
    ).select("_id", "simhash", "ck.chunk", "ck.cv")
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"),
              (F.col("x.chunk") == F.col("y.chunk")) & (F.col("x.cv") == F.col("y.cv"))
              & (F.col("x._id") < F.col("y._id")))
        .select(F.col("x._id").alias("doc_a"), F.col("x.simhash").alias("_ha"),
                F.col("y._id").alias("doc_b"), F.col("y.simhash").alias("_hb"))
        .distinct()
    )
    ham = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return cand.select("doc_a", "doc_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- embedding-cosine near-dup ---------------------------------------------

def dedup_embedding_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    method: str = "lsh",
    dim: int | None = None,
    n_planes: int | str = 6,
    n_tables: int = 8,
    plane_fn: str = "gaussian",
    target_occupancy: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    method="lsh" (the 100 TB path): random-hyperplane bucketing of the
    corpus against itself — candidates share a (table, bucket) pair, so
    cost is sum-of-bucket-sizes^2, not n^2; exact cosine verifies each
    candidate. Recall at near-dup thresholds (cos >= 0.9) is ~98% with
    the 6x8 defaults (see similarity.lsh_ann_topk's analysis); for
    certainty-critical audits use method="exact".

    n_planes is a SCALE DIAL, not a constant: with p planes per table
    the corpus lands in 2^p buckets, so candidate pairs grow
    O(n^2 / 2^p) — at FIXED p that is quadratic in corpus size
    (measured in the r9 100x smoke: 28M -> 2.84B candidates for 10x
    the vectors at p=6). n_planes="auto" sets
    p = max(6, ceil(log2(n / target_occupancy))) from one count job,
    holding mean bucket occupancy (and therefore per-vector candidate
    cost) CONSTANT as the corpus grows — the linear-cost 100 TB
    setting. The trade is recall: each extra plane cuts per-table
    collision probability by the pair's angular factor, so production
    corpora should raise n_tables (or multi-probe) alongside.
    MEASURED at the 100x smoke scale (200k vecs, auto-p=12,
    tools/scale_smoke.py recall100 — artifacts/scale_smoke_r11/
    recall100.jsonl): realistic near-dups (cos ~ 0.9996) recall 1.0 at
    n_tables=8 AND 16 (400/400 planted twins); THRESHOLD-BOUNDARY
    pairs (cos scattered just above 0.9 — the pairs the dial actually
    fights for) recall 0.813 at 8 tables -> 0.956 at 16 tables for
    1.39x the wall (64 -> 89 s). Deploy rule: 8 tables when the
    near-dup band is all that matters; 16 when boundary pairs at the
    threshold carry value. Auto
    mode derives p deterministically from n, so an oracle that knows n
    replays identical buckets. Auto mode also verifies candidates
    INLINE in the bucket join (constant occupancy => dup factor ~1,
    so deduping before verify would cost two per-pair vector-attach
    joins to save ~0.3% of verifies — see the strategy comment below);
    fixed planes keep the dedup-then-attach form (dup factor ~100 at
    p=6/200k vectors). Both forms emit identical rows.

    method="exact": all-pairs verification (id_a < id_b). O(n^2) — the
    oracle/baseline twin, viable for corpora small enough to broadcast
    one side.

    plane_fn (lsh only): "gaussian" = seeded normal planes (production
    default); "md5" = deterministic Rademacher ±1 planes over integer-
    quantized dots (similarity.rademacher_planes) — bit-reproducible by
    any engine, which is what lets the DuckDB oracle hash-check the LSH
    candidate generation itself, not just the verified pairs.

    Output: id_a, id_b, cos DOUBLE (rounded 6dp for engine-portability).
    """
    from kafka_streams_app_spark.engine import ensure_parallelism
    from kafka_streams_app_spark.functions.vectors import as_double, dot, norm

    # norms are computed ONCE PER VECTOR here, not per candidate pair:
    # the interpreted-HOF fold is the per-pair cost driver at large
    # candidate counts, and cosine(_va,_vb) would re-fold both norms
    # for every pair (3x the HOF work). Same fold per vector => the
    # division below is bit-identical to cosine()'s.
    a = ensure_parallelism(df).select(
        F.col(id_col).alias("id_a"), as_double(F.col(vec_col)).alias("_va")
    ).withColumn("_na", norm(F.col("_va")))
    b = df.select(
        F.col(id_col).alias("id_b"), as_double(F.col(vec_col)).alias("_vb")
    ).withColumn("_nb", norm(F.col("_vb")))
    if method == "exact":
        cand = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        if dim is None:
            raise ValueError("method='lsh' requires dim")
        import math

        from kafka_streams_app_spark.operators.similarity import _bucketed

        if n_planes == "auto":
            n = df.count()  # one cheap count job; deterministic given df
            n_planes = max(6, math.ceil(math.log2(max(n, 1) / target_occupancy)))
            inline_verify = True
        else:
            inline_verify = False
        # Two attach strategies, chosen by the candidate DUP FACTOR
        # (raw bucket-join pairs / distinct pairs) the plane dial
        # implies — measured crossover in the r9 100x smoke:
        #
        # - auto planes hold mean bucket occupancy constant, so a pair
        #   rarely co-buckets in more than one table (measured dup
        #   factor 1.003 at 200k vectors). dropDuplicates saves ~0.3%
        #   of verifies but forces the pairs through an ids-only
        #   shuffle PLUS two vector re-attach joins — at 60M pairs
        #   that is ~60 GB of vector payload through two sort-merge
        #   exchanges, 10x the cost of just verifying every raw pair
        #   where it is born. So: verify INLINE in the bucket join
        #   (vectors and norms ride the 8x-replicated per-vector
        #   bucket rows, ~KB-scale per vector, never per-pair), then
        #   dropDuplicates only the threshold SURVIVORS (tiny).
        # - fixed planes let occupancy grow with n, and a pair that is
        #   close co-buckets in MANY tables (measured dup factor ~100
        #   at p=6/200k vectors: 2.84B raw vs 28M distinct). There the
        #   ids-first dedup-then-attach form wins: 16 B/pair through
        #   the dedup shuffle, vectors attached once per distinct pair.
        va_cols = ["_va", "_na"] if inline_verify else []
        vb_cols = ["_vb", "_nb"] if inline_verify else []
        ab = _bucketed(a, "id_a", "_va", dim, n_planes, n_tables, 42,
                       plane_fn).select("id_a", "_tbl", "_bkt", *va_cols)
        bb = _bucketed(b, "id_b", "_vb", dim, n_planes, n_tables, 42,
                       plane_fn).select("id_b", "_tbl", "_bkt", *vb_cols)
        raw = ab.join(
            bb,
            (ab["_tbl"] == bb["_tbl"]) & (ab["_bkt"] == bb["_bkt"])
            & (ab["id_a"] < bb["id_b"]),
        )
        if inline_verify:
            cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
            return (
                raw.select("id_a", "id_b", F.round(cos, 6).alias("cos"))
                .filter(F.col("cos") >= threshold)
                .dropDuplicates(["id_a", "id_b"])
            )
        cand = (
            raw.select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
            .join(a, "id_a")
            .join(b, "id_b")
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    # dot/(na*nb): same fold, same operation order as cosine(_va,_vb) —
    # bit-identical result with the norms evaluated once per vector
    cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        cand.select("id_a", "id_b", F.round(cos, 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


# --- cross-corpus (incremental) dedup ---------------------------------------

def _fp_halves(content: Column) -> tuple[Column, Column]:
    """md5(content) split into two independent 56-bit integers — the
    (h1, h2) pair for Kirsch-Mitzenmacher double hashing (probe i hits
    position (h1 + i*h2) mod m; two hashes simulate k independent ones
    with no loss in asymptotic FP rate). 14 hex digits = 56 bits keeps
    h1 + 7*h2 < 2^59, far from long overflow under ANSI mode, and the
    same conv() arithmetic is reproducible in any SQL engine."""
    fp = F.md5(content)
    h1 = F.conv(F.substring(fp, 1, 14), 16, 10).cast("long")
    h2 = F.conv(F.substring(fp, 15, 14), 16, 10).cast("long")
    return h1, h2


def dedup_cross_corpus(
    new_df: DataFrame,
    ref_df: DataFrame,
    content: str,
    bits_per_key: int = 16,
    max_bits: int = 1 << 30,
) -> DataFrame:
    """Cross-corpus exact dedup: rows of new_df whose content does NOT
    appear in ref_df — "don't re-ingest documents the last crawl
    already contributed". Incremental dedup against a reference corpus
    is a different shape from self-dedup: ref is typically much larger
    than the increment, and shipping every new row into a shuffle
    against 100 TB of ref fingerprints is the naive plan this operator
    exists to avoid.

    Plan (result is EXACT; the bloom filter only prunes the shuffle):

    1. One pass over ref builds an m-bit bloom bitset DISTRIBUTED: each
       fingerprint explodes into k probe positions, positions reduce to
       (word, bit_or(mask)) via a map-side-combined groupBy — at most
       m/64 longs cross to the driver (bounded by max_bits/64, ~128 MB
       of longs at the default cap), then broadcast.
    2. new rows test membership in one Arrow-vectorized pass (numpy bit
       probes against the broadcast bitset; no shuffle). A bloom MISS
       is definitive (no false negatives): the row is new — it never
       joins, never shuffles.
    3. Only bloom HITS (true dups + the ~0.04% false positives at the
       default 16 bits/key) take the exact left_anti join against ref's
       fingerprint column; FP-hit rows survive the join and are kept.

    At 100 TB-of-ref scale, m is a MEMORY <-> SHUFFLE-SAVINGS dial, not
    a correctness dial: max_bits caps the bitset at executor-broadcast
    size; an undersized filter just passes more rows to step 3's exact
    join (graceful degradation, never a wrong answer). Sizing: m = next
    power of two >= bits_per_key * n_ref (one count job, same bounded-
    collect pattern as the IVF codebook), k = ln2 * m/n capped at 7.

    Null-content rows: a null never equals anything (SQL semantics), so
    null-content new rows are always kept and null-content ref rows
    contribute nothing — both are routed AROUND the bloom (nulls in the
    probe columns would otherwise force the Arrow batch to float64 and
    silently truncate the 56-bit hashes at the 53-bit mantissa).

    Cites /root/reference parity: the reference has no cross-corpus
    operator; this extends the dedup family for training-data builds.
    """
    import math

    ref_nn = ref_df.filter(F.col(content).isNotNull())
    n_ref = ref_nn.count()
    null_new = new_df.filter(F.col(content).isNull())
    if n_ref == 0:
        return new_df
    m = 1 << max(13, min(int(max_bits).bit_length() - 1,
                         math.ceil(math.log2(bits_per_key * n_ref))))
    k = max(1, min(7, round(0.693 * m / n_ref)))

    h1, h2 = _fp_halves(F.col(content))
    probes = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_i")
    pos = F.pmod(F.col("_h1") + F.col("_i") * F.col("_h2"), F.lit(m))
    words = (
        ref_nn.select(h1.alias("_h1"), h2.alias("_h2"))
        .select(F.col("_h1"), F.col("_h2"), probes)
        .select(pos.alias("_p"))
        # shiftleft's python API takes a literal bit count; the SQL
        # form accepts a column
        .select((F.col("_p") / 64).cast("long").alias("_w"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))")
                .alias("_m"))
        .groupBy("_w").agg(F.expr("bit_or(_m)").alias("_bits"))
        .collect()
    )
    bitset = np.zeros(m // 64, dtype=np.uint64)
    for r in words:
        # mask to unsigned: bit_or with bit 63 set arrives as a negative
        # Python long (shiftleft(1,63) = Long.MIN_VALUE); np.uint64 of a
        # negative raises OverflowError on numpy >= 2.0
        bitset[r._w] = np.uint64(r._bits & 0xFFFFFFFFFFFFFFFF)
    spark = new_df.sparkSession
    bc = spark.sparkContext.broadcast(bitset)
    mm, kk = m, k

    @pandas_udf("boolean")
    def _might_contain(s1: pd.Series, s2: pd.Series) -> pd.Series:
        bits = bc.value
        a = s1.to_numpy(dtype=np.uint64)
        b = s2.to_numpy(dtype=np.uint64)
        hit = np.ones(len(a), dtype=bool)
        for i in range(kk):
            p = (a + np.uint64(i) * b) % np.uint64(mm)
            w = (p >> np.uint64(6)).astype(np.int64)
            bit = (bits[w] >> (p & np.uint64(63))) & np.uint64(1)
            hit &= bit.astype(bool)
        return pd.Series(hit)

    nh1, nh2 = _fp_halves(F.col(content))
    tagged = (
        new_df.filter(F.col(content).isNotNull())
        .withColumn("_hit", _might_contain(nh1, nh2))
    )
    misses = tagged.filter(~F.col("_hit")).drop("_hit")
    hits = tagged.filter(F.col("_hit")).drop("_hit")
    survivors = hits.join(
        ref_nn.select(F.md5(F.col(content)).alias("_fp")).distinct(),
        F.md5(F.col(content)) == F.col("_fp"),
        "left_anti",
    )
    return misses.unionByName(survivors).unionByName(null_new)


# --- duplicate clustering ---------------------------------------------------

def dedup_clusters(
    df: DataFrame,
    text: str,
    id_col: str,
    pairs: DataFrame | None = None,
    k: int = 3,
    threshold: float = 0.8,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: every document gets the
    MIN doc id of its duplicate cluster as cluster_id (the canonical
    survivor a training pipeline keeps; singletons map to themselves).

    Min-label propagation with pointer doubling: each round every node
    takes the min of its own and its neighbors' labels, then jumps to
    its label's label (label(x) <- label(label(x))), which halves chain
    lengths — convergence in O(log diameter) rounds, so max_iter=20
    covers diameters up to ~2^20 (pinned on long-path graphs in
    tests/test_property_round3.py). Each round is two distributed
    joins + a partial-aggregating groupBy — state never touches the
    driver; the driver only runs the convergence loop, checking a
    LIMIT-1 count per round.
    """
    if pairs is None:
        pairs = dedup_ngram_jaccard(df, text, id_col, k=k, threshold=threshold)
    fwd = pairs.select(F.col("doc_a").alias("_s"), F.col("doc_b").alias("_d"))
    rev = pairs.select(F.col("doc_b").alias("_s"), F.col("doc_a").alias("_d"))
    edges = fwd.union(rev).persist()
    # localCheckpoint each round: iterative self-referencing plans grow
    # exponentially otherwise (round i embeds all rounds < i), blowing
    # the driver heap around ~8 iterations. Checkpointing materializes
    # the labels and truncates lineage — the standard Spark pattern for
    # fixpoint algorithms.
    lab = df.select(
        F.col(id_col).alias("_id"), F.col(id_col).alias("_lab")
    ).localCheckpoint()
    for _ in range(max_iter):
        prop = edges.join(lab, edges["_s"] == lab["_id"]).select(
            F.col("_d").alias("_id"), F.col("_lab")
        )
        nbr = (
            lab.unionByName(prop)
            .groupBy("_id")
            .agg(F.min("_lab").alias("_lab"))
        )
        # pointer doubling: follow the label one hop (labels are always
        # node ids, so the self-join always resolves)
        jump = nbr.select(F.col("_id").alias("_jid"), F.col("_lab").alias("_jlab"))
        new = (
            nbr.join(jump, nbr["_lab"] == jump["_jid"], "left")
            .select(
                "_id",
                F.coalesce(F.col("_jlab"), F.col("_lab")).alias("_lab"),
            )
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(lab.alias("o"), "_id")
            .filter(F.col("n._lab") != F.col("o._lab"))
            .limit(1)
            .count()
        )
        lab = new
        if changed == 0:
            break
    edges.unpersist()
    return lab.select(F.col("_id").alias(id_col), F.col("_lab").alias("cluster_id"))


def dedup_winnowing(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (the MOSS method, Schleimer
    et al. SIGMOD'03): documents sharing >= min_shared winnowing
    fingerprints — the fifth dedup modality here, complementary to the
    others: any shared run of >= k + window - 1 TOKENS guarantees a
    shared fingerprint, so it catches long verbatim passages inside
    otherwise-different documents that set-similarity scores
    (Jaccard/containment/minhash) dilute away, at ~1/window the index
    size of full shingle hashing.

    Plan: the same inverted-index shape as dedup_ngram_jaccard —
    per-doc DISTINCT fingerprints (pure Column winnowing, zero Python:
    functions/text.py:winnowing_of_hashes) -> posting list keyed by the
    64-bit fingerprint -> self-join -> per-pair shared count. max_df
    caps hot fingerprints (boilerplate runs shared by many documents)
    exactly like the Jaccard path's hot-shingle cap: a fingerprint in
    > max_df docs contributes O(df^2) candidate pairs and no dedup
    signal. O(sum bucket^2), never all-pairs.

    hash_fn='md5' makes the whole pipeline oracle-checkable in DuckDB
    (see token_hashes); 'xxhash64' is the fast production default.

    Contract (ADVICE r15): BATCH-ONLY and EAGER — the posting table is
    persisted and the result returned as an eagerly materialized
    localCheckpoint (executes at call time; the checkpoint blocks are
    not fault-tolerant), mirroring dedup_minhash_lsh. A streaming
    input fails at plan build.
    """
    from kafka_streams_app_spark.functions.text import winnowing_fingerprints

    # The posting table feeds THREE subtrees (the hot-df counter and
    # both sides of the self-join); persisted, the winnowing pass runs
    # once instead of once per subtree. winnowing_fingerprints is the
    # CSE-guarded form — without the guard the tokenize+hash transform
    # additionally re-evaluated per slice reference inside the gram
    # fold (r15: 34.5 s -> see OPTIMIZATION_r15.md; values identical).
    fps_tbl = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("_id"),
            winnowing_fingerprints(
                F.col(text), k=k, window=window, hash_fn=hash_fn
            ).alias("_fps"),
        )
        .filter(F.size("_fps") > 0)
        .select("_id", F.explode("_fps").alias("_fp"))
        .persist()
    )
    fps = fps_tbl
    if max_df is not None:
        hot = (
            fps.groupBy("_fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("_fp")
        )
        fps = fps.join(F.broadcast(hot), "_fp", "left_anti")
    pairs = (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a._fp") == F.col("b._fp"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    try:
        return pairs.filter(F.col("n_shared") >= min_shared).localCheckpoint(
            eager=True
        )
    finally:
        fps_tbl.unpersist()


def dedup_minhash_lsh_cross(
    df: DataFrame,
    new_cond: Column,
    ref_cond: Column,
    text: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Cross-corpus NEAR-duplicate pairs between two slices of one
    table: every (new, ref) document pair with shingle-Jaccard >=
    threshold, where `new` is df.filter(new_cond) and `ref` is
    df.filter(ref_cond) (train/eval splits of the same lake, a holdout
    predicate, an id-range boundary). The fuzzy companion to
    dedup_cross_corpus (exact text equality) and the near-dup form of
    benchmark decontamination: a training doc that paraphrases or
    lightly edits an eval/ref doc shares most of its shingles even
    though no exact span or full-text hash matches.

    Same machinery as dedup_minhash_lsh, two-sided: the single-scan
    shingle+band-key pass runs ONCE over df.filter(new_cond | ref_cond)
    (overlapping slices tokenize each document once — the optimizer
    cannot share that work across two .filter() pipelines of the same
    scan because the Arrow UDF is opaque; r15 measurement at sf0.1:
    the two per-side passes were 2.6 s of a 3.0 s wall). new_cond /
    ref_cond are Columns over df's schema; membership flags ride the
    persisted signature table (2 booleans/row). Band keys from one
    permutation family hash both sides into a shared bucket space,
    candidates are the cross band-join (new x ref only — never new x
    new), and exact Jaccard over xxhash64 shingle sets verifies each
    candidate (_verify_jaccard; ids must be unique in df, as in the
    self variant). Recall at the threshold follows the self variant's
    64-band/2-row construction (miss probability (1 - j^2)^64, ~1e-10
    at j = 0.8).

    Scale: cost is sum over buckets of |new bucket| x |ref bucket| —
    linear in each corpus at bounded occupancy, and the ref side is
    typically benchmark/curated-sized. The sig cache is released
    before returning (eager materialization, as in dedup_minhash_lsh).

    Output: doc_a (new id), doc_b (ref id), jac DOUBLE. A document in
    both slices pairs with itself at jac 1.0 — that IS the
    contamination signal, not an artifact to filter.
    """
    sig = (
        ensure_parallelism(df.filter(new_cond | ref_cond))
        .select(
            F.col(id_col).alias("_id"),
            new_cond.alias("_in_new"),
            ref_cond.alias("_in_ref"),
            shingles_udf(k)(F.col(text)).alias("_shs"),
            _band_hashes_udf(k)(F.col(text)).alias("_bh"),
        )
        .filter(F.size("_shs") > 0)
        .select(
            "_id", "_in_new", "_in_ref",
            F.array_distinct(
                F.transform(F.col("_shs"), lambda s: F.xxhash64(s))
            ).alias("_sh"),
            "_bh",
        )
        .persist()
    )
    a = sig.filter("_in_new").select(
        F.col("_id").alias("doc_a"), F.explode("_bh").alias("bh"))
    b = sig.filter("_in_ref").select(
        F.col("_id").alias("doc_b"), F.explode("_bh").alias("bh"))
    cand = a.join(b, "bh").select("doc_a", "doc_b").distinct()
    try:
        return _verify_jaccard(
            cand, sig.select("_id", "_sh"), threshold
        ).localCheckpoint(eager=True)
    finally:
        sig.unpersist()


def embedding_dedup_candidates_stream(
    df: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.4,
    n_planes: int = 6,
    n_tables: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs AT INGEST (r15) — the embedding-space
    face of the at-ingest dedup family (winnow_candidates is
    the text face; s_ivfpq_search the ANN-search face): each arriving
    vector probes a FROZEN sign-LSH index of the static corpus and
    its verified near-dup pairs land the moment it arrives, instead
    of in a nightly batch self-join.

    Emission contract (the winnow_candidates pattern): a pair
    (id_a < id_b) is emitted EXACTLY ONCE — when its LARGER member
    arrives (candidates are restricted to static ids < the arriving
    id, and cross-table duplicates collapse in the per-query set) —
    so the union over any micro-batch split of the corpus equals the
    batch dedup_embedding_cosine(method='lsh', plane_fn='md5') pair
    set, which is the existing oracle, verbatim.

    Plan: the frozen index is the CLASSIC LSH table — ids only,
    O(n x n_tables) longs (built by one distributed bucket pass and
    collected at index size; vectors do NOT ride the closure).
    Per micro-batch: one stateless Arrow pass computes each arriving
    vector's exact-int Rademacher buckets (bit-identical to
    similarity._bucketed's md5 path) and emits its candidate ids with
    the arriving vector attached; the exact-cosine VERIFY then runs
    JVM-side — the same dot/(na*nb) fold and 6dp round as the batch
    operator, via a broadcast join to the static vectors — so emitted
    values are bit-identical to the batch path by construction, not
    by re-implementation. No shuffle beyond the broadcast, no state.

    At 100 TB: the ids-only index is ~n x n_tables x 8 B (64 GB per
    1e9 vectors at 8 tables — the standard replicated-LSH serving
    footprint); the static-vector attach is a broadcast here and
    becomes a shuffle-hash join on id_a for corpora past broadcast
    size; if even the id index outgrows RAM, verify through PQ codes
    instead (the s_ivfpq_search path). Candidate rows carry a COPY of
    the arriving vector (O(candidates x dim) through the verify join
    — there is no second streaming side to re-attach it from);
    per-arrival candidate count is bucket-occupancy bounded, and the
    n_planes dial holds occupancy flat as the corpus grows (the same
    linear-cost discipline as dedup_embedding_cosine's auto mode —
    raise n_planes ~log2(n/target_occupancy) when deploying at
    corpus scales beyond these defaults).
    """
    from kafka_streams_app_spark.functions.vectors import as_double, dot, norm
    from kafka_streams_app_spark.operators.similarity import (
        _bucketed,
        rademacher_planes,
    )
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    planes = np.stack([
        rademacher_planes(dim, n_planes, t) for t in range(n_tables)
    ])
    powers = 1 << np.arange(n_planes)

    # freeze the ids-only LSH index: distributed bucket pass, collect
    # bounded by index size (n x n_tables rows of 3 ints)
    idx_rows = _bucketed(
        ensure_parallelism(corpus).select(
            F.col(id_col).cast("long").alias("_id"),
            as_double(F.col(vec_col)).alias("_v"),
        ),
        "_id", "_v", dim, n_planes, n_tables, 42, "md5",
    ).select("_id", "_tbl", "_bkt").collect()
    index: dict[tuple[int, int], list[int]] = {}
    for r in idx_rows:
        index.setdefault((r["_tbl"], r["_bkt"]), []).append(r["_id"])
    index_np = {k: np.asarray(v, dtype=np.int64) for k, v in index.items()}

    cand_schema = StructType([
        StructField("id_a", LongType(), True),
        StructField("id_b", LongType(), True),
        StructField("_vb", ArrayType(DoubleType()), True),
    ])

    def probe(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            qids = [int(x) for x in pdf[id_col]]
            qmat = np.stack([
                np.asarray(v, dtype=np.float64) for v in pdf[vec_col]
            ])
            qq = np.floor(qmat * 1e6).astype(np.int64)
            dots = np.einsum("tpd,nd->ntp", planes, qq)
            bkts = ((dots >= 0) * powers).sum(axis=2).astype(np.int32)
            out_a: list[int] = []
            out_b: list[int] = []
            out_v: list[list[float]] = []
            for i, qid in enumerate(qids):
                cand: set[int] = set()
                for t in range(n_tables):
                    hit = index_np.get((t, int(bkts[i, t])))
                    if hit is not None:
                        cand.update(int(x) for x in hit[hit < qid])
                if cand:
                    v = qmat[i].tolist()
                    for a_ in sorted(cand):
                        out_a.append(a_)
                        out_b.append(qid)
                        out_v.append(v)
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "_vb": out_v})

    cand_df = df.select(
        F.col(id_col).cast("long").alias(id_col),
        as_double(F.col(vec_col)).alias(vec_col),
    ).mapInPandas(probe, schema=cand_schema)

    stat = corpus.select(
        F.col(id_col).cast("long").alias("id_a"),
        as_double(F.col(vec_col)).alias("_va"),
    ).withColumn("_na", norm(F.col("_va")))
    cos = dot(F.col("_va"), F.col("_vb")) / (
        F.col("_na") * norm(F.col("_vb"))
    )
    return (
        cand_df.join(F.broadcast(stat), "id_a")
        .select("id_a", "id_b", F.round(cos, 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
