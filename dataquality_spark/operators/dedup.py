"""Corpus deduplication operators: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Semantic graft of the reference's uniqueness dimension
(/root/reference/DataQuality_AI_CaseStudy.md:144-147 — COUNT(DISTINCT),
composite-key dedup) scaled to web-corpus near-duplicate detection as a
large training-data pipeline needs it.

Scale design (the point at 100 TB):

* exact_dedup         one shuffle on a 64-bit content hash; the text
                      itself never shuffles (hash + id only), winner
                      joined back — at 10^12 docs the shuffle payload is
                      16 bytes/doc, not the document bytes.
* minhash_lsh         signatures are computed in ONE Arrow-batched numpy
                      pandas UDF ((k × m) min over affine permutations);
                      docs shuffle only by (band_idx, band_hash) — a doc
                      lands in `bands` buckets. Candidate pairs come from
                      an in-bucket self-join; exact Jaccard verification
                      runs JVM-side on shingle-hash arrays.
* simhash             64-bit signature via numpy bit-bank; candidates by
                      Hamming-band pigeonhole (4×16-bit bands ⇒ any pair
                      with distance ≤3 shares a band), verified with a
                      JVM popcount expression.
* embedding near-dup  random-hyperplane LSH (numpy matmul per Arrow
                      batch) → bucket join → exact cosine verify with
                      zip_with/aggregate fold (JVM, no Python).

Every candidate generator deduplicates pairs with `distinct()` before
verification so a pair colliding in several bands verifies once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

# Mersenne prime 2^61-1: affine MinHash permutations stay exact in uint64.
_MERSENNE = (1 << 61) - 1

# Intermediate frames the pair operators persist (signature/base tables
# feeding both sides of a self-join AND the verification rejoin) go
# through the shared tracked-persist lifecycle — callers materialize,
# then call `unpersist_all()` (re-exported from ..caching).
from ..caching import track_persist as _track_persist  # noqa: E402
from ..caching import unpersist_all  # noqa: E402,F401
from .text_analysis import _words, md5_60, word_ngrams  # noqa: E402


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the first row (min id) per exact text; adds is_dup flag.

    Shuffles (hash, id) pairs only — O(17 bytes/doc) network, then a
    broadcast-friendly winners join when the dup set is small.

    NULL semantics match SQL ``PARTITION BY text``: all NULL-text rows
    form ONE group of their own, distinct from the empty string — the
    group key is (text IS NULL, xxhash64(coalesce(text,''))) so NULL
    and '' never merge and the key columns are never null (plain
    equi-join, no null-safe comparison needed).
    """
    hn = F.col(text_col).isNull()
    h = F.xxhash64(F.coalesce(F.col(text_col), F.lit("")))
    keyed = df.withColumn("_hn", hn).withColumn("_h", h)
    winners = keyed.groupBy("_hn", "_h").agg(F.min(id_col).alias("_win"))
    return (keyed.join(winners, ["_hn", "_h"])
            .withColumn("is_dup", F.col(id_col) != F.col("_win"))
            .withColumn("dup_of", F.when(F.col("is_dup"), F.col("_win")))
            .drop("_hn", "_h", "_win"))


# ---------------------------------------------------------------------------
# Shingling (JVM-side: split → sliding n-gram → xxhash64)
# ---------------------------------------------------------------------------

def shingle_hashes(text, n: int = 3):
    """array<long> of distinct xxhash64'd word n-gram shingles. JVM-side
    but interpreted (higher-order functions do not codegen), so the
    grams come from text_analysis.word_ngrams: linear in doc length."""
    return F.array_distinct(word_ngrams(_words(text), n, F.xxhash64))


def ngram_jaccard(left_sh, right_sh):
    """Exact Jaccard of two shingle-hash arrays (JVM set ops)."""
    inter = F.size(F.array_intersect(left_sh, right_sh)).cast("double")
    union = F.size(F.array_union(left_sh, right_sh)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, num_perm, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, num_perm, dtype=np.uint64)
    return a, b


def make_band_udf(num_perm: int = 128, bands: int = 16, seed: int = 7):
    """pandas UDF: shingle-hash array → array<long> of `bands` band keys.

    Band key = xxhash-free deterministic mix of the band's row minima,
    offset by band index so band i of doc A never collides with band j
    of doc B. All math vectorized uint64 numpy per Arrow batch.
    """
    assert num_perm % bands == 0
    rows = num_perm // bands
    a, b = _minhash_params(num_perm, seed)

    @pandas_udf(ArrayType(LongType()))
    def band_keys(sh: pd.Series) -> pd.Series:
        out = []
        for arr in sh:
            if arr is None or len(arr) == 0:
                out.append(None)
                continue
            x = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            # (k, m) affine permutations mod Mersenne prime, then row min.
            sig = (((a[:, None] * x[None, :]) + b[:, None]) % _MERSENNE
                   ).min(axis=1)                       # (num_perm,)
            bl = sig.reshape(bands, rows)
            # FNV-1a style fold per band — deterministic, collision-safe
            # enough for bucketing (verification is exact anyway).
            key = np.full(bands, 0xcbf29ce484222325, dtype=np.uint64)
            for r in range(rows):
                key ^= bl[:, r]
                key *= np.uint64(0x100000001b3)
            key ^= (np.arange(bands, dtype=np.uint64) << np.uint64(56))
            out.append(key.view(np.int64).tolist())
        return pd.Series(out)

    return band_keys


def _drop_hot_buckets(banded: DataFrame, key: str,
                      max_bucket: int | None) -> DataFrame:
    """Drop candidate buckets larger than the cap before a self-join:
    slim (key, count) aggregate (map-side combined) + broadcast
    anti-join — bounds in-bucket pair generation at C(cap, 2) per
    bucket regardless of corpus pathology. Hot buckets are few by
    definition, so the anti-join build side stays tiny."""
    if max_bucket is None:
        return banded
    hot = (banded.groupBy(key).agg(F.count(F.lit(1)).alias("_sz"))
           .filter(F.col("_sz") > max_bucket).select(key))
    return banded.join(F.broadcast(hot), key, "left_anti")


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      shingle_n: int = 3, num_perm: int = 128,
                      bands: int = 16, jaccard_threshold: float = 0.5,
                      max_bucket: int | None = 10_000) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) with exact verification.

    Stages: shingle (JVM) → minhash bands (one Arrow UDF) → explode →
    hot-bucket cap (boilerplate-identical docs belong to exact_dedup) →
    in-bucket self-join → distinct candidate pairs → exact Jaccard on
    shingle arrays → threshold filter.
    """
    band_udf = make_band_udf(num_perm, bands)
    # persist: the signature frame feeds both sides of the self-join AND
    # the verification rejoin — without it the shingle+minhash UDF chain
    # recomputes up to 4×. (At 10^12-doc scale this is a materialized
    # signatures table, not an in-memory cache.)
    base = (df.select(F.col(id_col).alias("id"),
                      shingle_hashes(F.col(text_col), shingle_n)
                      .alias("shingles"))
            .withColumn("band_key", band_udf("shingles")))
    base = _track_persist(base)
    buckets = _drop_hot_buckets(
        base.select("id", F.explode("band_key").alias("bk")), "bk",
        max_bucket)
    l = buckets.alias("l")
    r = buckets.alias("r")
    cand = (l.join(r, (F.col("l.bk") == F.col("r.bk"))
                      & (F.col("l.id") < F.col("r.id")))
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct())
    sh = base.select("id", "shingles")
    verified = (cand
                .join(sh.withColumnRenamed("id", "id_a")
                        .withColumnRenamed("shingles", "sh_a"), "id_a")
                .join(sh.withColumnRenamed("id", "id_b")
                        .withColumnRenamed("shingles", "sh_b"), "id_b")
                .withColumn("jaccard", ngram_jaccard(F.col("sh_a"),
                                                     F.col("sh_b")))
                .filter(F.col("jaccard") >= jaccard_threshold)
                .select("id_a", "id_b", "jaccard"))
    return verified


def minhash_lsh_pairs_cross(new: DataFrame, ref: DataFrame,
                            text_col: str, id_col: str,
                            shingle_n: int = 3, num_perm: int = 128,
                            bands: int = 16,
                            jaccard_threshold: float = 0.5,
                            max_bucket: int | None = 10_000) -> DataFrame:
    """Cross-corpus near-dup pairs (new_id, ref_id, jaccard): every NEW
    document that near-duplicates anything in an existing REFERENCE
    corpus — the incremental-ingestion scenario (dedup today's crawl
    against everything already kept) that makes the resumable pipeline
    composable across runs.

    Same bucketed machinery as the self-join variant (`minhash_lsh_pairs`:
    shingle → minhash bands → hot-bucket cap → bucket join → exact
    verify), but the join is new×ref on the band key instead of a
    self-join, so candidates are bounded by per-bucket occupancy of the
    SMALLER side and the reference side's signatures are exactly the
    materialized signatures table a production deployment would keep
    between runs. Identical seeds guarantee both corpora hash into the
    same band space.
    """
    band_udf = make_band_udf(num_perm, bands)

    def _sig(df: DataFrame, out_id: str) -> DataFrame:
        return _track_persist(
            df.select(F.col(id_col).alias(out_id),
                      shingle_hashes(F.col(text_col), shingle_n)
                      .alias("shingles"))
            .withColumn("band_key", band_udf("shingles")))

    nb, rb = _sig(new, "new_id"), _sig(ref, "ref_id")
    n_buckets = _drop_hot_buckets(
        nb.select("new_id", F.explode("band_key").alias("bk")), "bk",
        max_bucket)
    r_buckets = _drop_hot_buckets(
        rb.select("ref_id", F.explode("band_key").alias("bk")), "bk",
        max_bucket)
    cand = (n_buckets.join(r_buckets, "bk")
            .select("new_id", "ref_id").distinct())
    verified = (cand
                .join(nb.select("new_id",
                                F.col("shingles").alias("sh_a")), "new_id")
                .join(rb.select("ref_id",
                                F.col("shingles").alias("sh_b")), "ref_id")
                .withColumn("jaccard", ngram_jaccard(F.col("sh_a"),
                                                     F.col("sh_b")))
                .filter(F.col("jaccard") >= jaccard_threshold)
                .select("new_id", "ref_id", "jaccard"))
    return verified


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame, text_col: str,
                        id_col: str, shingle_n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard for an explicit candidate-pair frame
    (columns id_a, id_b) — the brute-force verifier reused standalone."""
    sh = df.select(F.col(id_col).alias("id"),
                   shingle_hashes(F.col(text_col), shingle_n).alias("sh"))
    return (pairs
            .join(sh.withColumnRenamed("id", "id_a")
                    .withColumnRenamed("sh", "sh_a"), "id_a")
            .join(sh.withColumnRenamed("id", "id_b")
                    .withColumnRenamed("sh", "sh_b"), "id_b")
            .select("id_a", "id_b",
                    ngram_jaccard(F.col("sh_a"), F.col("sh_b"))
                    .alias("jaccard")))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

@pandas_udf(LongType())
def simhash64_udf(feature_hashes: pd.Series) -> pd.Series:
    """64-bit SimHash from an array<long> of feature hashes.

    Fully vectorized across the Arrow batch: all rows' features are
    flattened into ONE (total_features, 64) bit matrix, per-row ±1 vote
    sums come from np.add.reduceat over row offsets, and signatures are
    packed with a single matmul against the bit-weight vector — no
    per-row Python loop.
    """
    lens = np.array([0 if a is None else len(a) for a in feature_hashes],
                    dtype=np.int64)
    n = len(lens)
    if n == 0:
        return pd.Series([], dtype="int64")
    sigs = np.zeros(n, dtype=np.int64)
    nonempty = lens > 0
    n_nz = int(nonempty.sum())
    if n_nz == 0:
        return pd.Series(sigs)
    arrs = [np.asarray(a, dtype=np.int64) for a in feature_hashes
            if a is not None and len(a)]
    nzlens = lens[nonempty]
    bitpos = np.arange(64, dtype=np.uint64)
    # Doc-aligned chunks through preallocated buffers: a monolithic
    # (M, 64) bit matrix is tens of MB of fresh pages per batch — 100×+
    # slower under concurrent forked workers (page-fault storms).
    # L2-resident chunks (bits buffer ~512 KB): see langid.score_texts
    cap = max(2_048, int(nzlens.max()))
    flat_buf = np.empty(cap, dtype=np.uint64)
    bits_buf = np.empty((cap, 64), dtype=np.int32)
    votes = np.empty((n_nz, 64), dtype=np.int64)
    di = 0
    while di < n_nz:
        dj, m = di, 0
        while dj < n_nz and m + nzlens[dj] <= cap:
            m += int(nzlens[dj])
            dj += 1
        off = 0
        for k in range(di, dj):
            ln = int(nzlens[k])
            flat_buf[off:off + ln] = arrs[k].astype(np.uint64)
            off += ln
        np.right_shift(flat_buf[:m, None], bitpos[None, :],
                       out=bits_buf[:m], casting="unsafe")
        np.bitwise_and(bits_buf[:m], 1, out=bits_buf[:m])
        starts = np.zeros(dj - di, dtype=np.int64)
        np.cumsum(nzlens[di:dj][:-1], out=starts[1:])
        ones = np.add.reduceat(bits_buf[:m], starts, axis=0)  # per-doc 1s
        votes[di:dj] = 2 * ones - nzlens[di:dj][:, None]      # ±1 votes
        di = dj
    packed = (((votes > 0).astype(np.uint64) << bitpos[None, :])
              .sum(axis=1, dtype=np.uint64))
    sigs[nonempty] = packed.view(np.int64)
    return pd.Series(sigs)


def exact_dedup_cross(new: DataFrame, ref: DataFrame, text_col: str,
                      id_col: str, verify: bool = False) -> DataFrame:
    """Cross-run exact dedup: keep only NEW documents whose text does
    not already exist in the kept REFERENCE corpus (the exact-match
    complement of `minhash_lsh_pairs_cross` for incremental ingestion).

    Anti-join on the same (text IS NULL, xxhash64(coalesce(text,'')))
    key as `exact_dedup` — NULL matches NULL, never '' — so only
    9-byte keys shuffle; at 10^12 docs the reference side is the
    persisted hash table of everything previously kept, not a rescan.

    Collision budget: with a single 64-bit key a new document is
    FALSELY dropped when its hash collides with any of the n_ref
    reference hashes — probability ≈ n_ref / 2^64 per doc (≈ 5e-8 at
    n_ref = 10^12), the same class of bounded loss the Bloom variant
    documents via fpp. Pass ``verify=True`` to extend the join key
    with an independent 128-bit md5 (keys grow to ~41 bytes/row; the
    combined 192-bit collision odds are negligible at any corpus
    size). Text itself never crosses an exchange either way.
    """
    def _key(df: DataFrame) -> DataFrame:
        out = (df.withColumn("_hn", F.col(text_col).isNull())
               .withColumn("_h", F.xxhash64(
                   F.coalesce(F.col(text_col), F.lit("")))))
        if verify:
            out = out.withColumn("_h2", F.md5(
                F.coalesce(F.col(text_col), F.lit(""))))
        return out

    keys = ["_hn", "_h"] + (["_h2"] if verify else [])
    ref_keys = _key(ref).select(*keys).distinct()
    return (_key(new).join(ref_keys, keys, "left_anti").drop(*keys))


def md5_shingle_hashes(text, n: int = 2):
    """array<long> of distinct 60-bit md5'd word n-gram shingles — the
    SQL-portable twin of `shingle_hashes` (DuckDB reproduces
    conv(substr(md5(s),1,15),16,10) bit-identically via a hex cast).
    15 hex chars = 60 bits keeps the value positive in a signed int64
    on both engines."""
    return F.array_distinct(word_ngrams(_words(text), n, md5_60))


def dup_span_stats(df: DataFrame, text_col: str, id_col: str,
                   k: int = 10) -> DataFrame:
    """Lee-et-al-style exact-substring duplication statistics at fixed
    span length `k` tokens ("Deduplicating Training Data Makes Language
    Models Better", 2022): for each doc, how many of its k-token spans
    occur a second time ANYWHERE in the corpus (other docs or the same
    doc), and the fraction of its tokens covered by the union of those
    spans — the decision input for substring-level dedup (cut or drop
    the duplicated region).

    Returns (id, n_tokens, n_dup_spans, dup_token_frac).

    Scale design: the only exchange carries slim (hash, id, pos) rows
    (~24 B per span — 60-bit md5 hashes, text never shuffles); the
    global span count is a partial-agg groupBy on the hash; the
    interval-union coverage is one sorted-positions fold per doc
    (codegen, O(spans) after an in-array sort). A full any-k
    suffix-array pass is deliberately out of scope — the paper's
    production Common-Crawl dedup also operated at a fixed span length.
    """
    base = df.select(F.col(id_col).alias("id"),
                     _words(F.col(text_col)).alias("_w"))
    spans = base.select(
        "id", F.size("_w").cast("long").alias("n_tokens"),
        F.transform(word_ngrams(F.col("_w"), k, md5_60),
                    lambda h, i: F.struct((i + 1).alias("pos"),
                                          h.alias("h"))).alias("_g"))
    # persist: the exploded (id, pos, h) frame feeds the global count
    # AND the dup join — without it the shingle+md5 projection runs
    # twice more (same rationale as the minhash signature persist at
    # minhash_lsh_pairs; callers release via unpersist_all())
    ex = _track_persist(
        spans.select("id", F.explode("_g").alias("g"))
        .select("id", F.col("g.pos").alias("pos"),
                F.col("g.h").alias("h")))
    dup_h = (ex.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
             .where(F.col("c") >= 2).select("h"))
    dup = (ex.join(dup_h, "h")
           .groupBy("id")
           .agg(F.sort_array(F.collect_list("pos")).alias("ps")))
    # |union of [p, p+k)| over sorted starts: first span adds k, each
    # next adds min(k, gap to its predecessor)
    acc0 = F.struct(F.lit(None).cast("int").alias("prev"),
                    F.lit(0).cast("long").alias("cov"))
    cov = F.aggregate(
        F.col("ps"), acc0,
        lambda a, p: F.struct(
            p.alias("prev"),
            (a["cov"] + F.when(a["prev"].isNull(), F.lit(k))
             .otherwise(F.least(F.lit(k), p - a["prev"]))
             .cast("long")).alias("cov")),
        lambda a: a["cov"])
    return (spans.select("id", "n_tokens")
            .join(dup, "id", "left")
            .withColumn("n_dup_spans",
                        F.when(F.col("ps").isNull(), F.lit(0))
                        .otherwise(F.size("ps")).cast("long"))
            .withColumn("_covered",
                        F.when(F.col("ps").isNull(),
                               F.lit(0).cast("long")).otherwise(cov))
            .withColumn("dup_token_frac",
                        F.round(F.when(F.col("n_tokens") > 0,
                                       F.col("_covered").cast("double")
                                       / F.col("n_tokens").cast("double"))
                                .otherwise(F.lit(0.0)), 6))
            .select("id", "n_tokens", "n_dup_spans", "dup_token_frac"))


def remove_dup_spans(df: DataFrame, text_col: str, id_col: str,
                     k: int = 10) -> DataFrame:
    """Lee-et-al-style exact-substring REMOVAL at fixed span length
    `k` tokens ("Deduplicating Training Data Makes Language Models
    Better", 2022 — the acting step dup_span_stats only measures):
    every k-token span that occurs a second time anywhere in the
    corpus is removed EXCEPT its globally-first occurrence
    (lexicographic (id, pos) minimum per span hash), and each doc's
    text is rebuilt from the surviving tokens.

    Returns (id, n_tokens, n_removed, text_dedup). The rebuild is
    token-normalized — surviving tokens joined by single spaces (the
    tokenizer is the contract ASCII-whitespace split, so originals
    with single-space separators round-trip byte-identically; other
    whitespace runs collapse, the same semantics the token stream a
    TRAINING pipeline feeds downstream actually uses).

    Scale design (same skeleton as dup_span_stats): the only
    exchanges carry slim (hash, id, pos) span rows and the per-doc
    removal-position lists — text never shuffles; the winner per hash
    is found with two HASH-aggregable passes (min id, then min pos
    within that id) instead of one min(struct) SortAggregate; the
    interval-union filter is a per-row codegen `exists` over the
    doc's removal starts (O(tokens × removals), removals are few by
    construction). A span whose winner occurrence overlaps a removed
    interval in the same doc keeps only its uncovered tokens — the
    fixed-k interval-union approximation of the paper's suffix-array
    cut, applied identically in the SQL oracle.
    """
    base = df.select(F.col(id_col).alias("id"),
                     _words(F.col(text_col)).alias("_w"))
    spans = base.select(
        "id", "_w",
        F.transform(word_ngrams(F.col("_w"), k, md5_60),
                    lambda h, i: F.struct((i + 1).alias("pos"),
                                          h.alias("h"))).alias("_g"))
    ex = _track_persist(
        spans.select("id", F.explode("_g").alias("g"))
        .select("id", F.col("g.pos").alias("pos"),
                F.col("g.h").alias("h")))
    dup_h = (ex.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
             .where(F.col("c") >= 2).select("h"))
    occ = ex.join(dup_h, "h")
    wid = occ.groupBy("h").agg(F.min("id").alias("_wid"))
    wpos = (occ.join(wid, "h").where(F.col("id") == F.col("_wid"))
            .groupBy("h", "_wid").agg(F.min("pos").alias("_wpos")))
    removals = (occ.join(wpos, "h")
                .where(~((F.col("id") == F.col("_wid"))
                         & (F.col("pos") == F.col("_wpos"))))
                .groupBy("id")
                .agg(F.collect_list("pos").alias("_rm")))
    toks = F.filter(
        F.transform(F.col("_w"),
                    lambda w, i: F.struct((i + 1).alias("p"),
                                          w.alias("w"))),
        lambda s: ~F.exists(
            F.col("_rm"),
            lambda r: (r <= s["p"]) & (s["p"] < r + F.lit(k))))
    return (spans.select("id", "_w")
            .join(removals, "id", "left")
            .withColumn("_rm", F.coalesce(
                F.col("_rm"), F.array().cast("array<int>")))
            .withColumn("_kept", toks)
            .select(
                "id",
                F.size("_w").cast("long").alias("n_tokens"),
                (F.size("_w") - F.size("_kept")).cast("long")
                .alias("n_removed"),
                F.concat_ws(" ", F.transform(
                    F.col("_kept"), lambda s: s["w"]))
                .alias("text_dedup")))


def simhash_md5(df: DataFrame, text_col: str, id_col: str,
                shingle_n: int = 2, bits: int = 60) -> DataFrame:
    """(id, simhash_md5, n_shingles) — the exact-oracle-checkable twin
    of the production SimHash: identical bit-majority semantics
    (bit b set iff ones·2 > n, i.e. votes > 0, ties → 0; empty shingle
    set → signature 0) over md5-derived 60-bit shingle hashes, computed
    entirely in Catalyst (one aggregate per bit over the materialized
    shingle column — static codegen, no Python). The production path
    (`simhash`/`simhash_pairs`) keeps the vectorized xxhash64 bit-bank;
    this twin pins the majority-vote arithmetic against a DuckDB oracle
    that recomputes the same bits with list lambdas."""
    sh = df.select(F.col(id_col),
                   md5_shingle_hashes(F.col(text_col), shingle_n)
                   .alias("_sh"))
    n = F.size("_sh")

    def _ones(b: int):
        # closure keeps the lambda binary — pyspark derives the lambda's
        # arity from its signature, so a `b=b` default would make it
        # ternary and receive a spurious Column
        return F.aggregate(F.col("_sh"), F.lit(0).cast("long"),
                           lambda acc, h: acc + F.shiftright(h, b)
                           .bitwiseAND(F.lit(1)))

    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(_ones(b) * 2 > n, F.lit(1 << b).cast("long")) \
                     .otherwise(F.lit(0).cast("long"))
    return sh.select(id_col,
                     F.when(n > 0, sig).otherwise(F.lit(0).cast("long"))
                     .alias("simhash_md5"),
                     n.cast("long").alias("n_shingles"))


def simhash(df: DataFrame, text_col: str, id_col: str,
            shingle_n: int = 2) -> DataFrame:
    """(id, simhash) — signature over word n-gram features."""
    return df.select(
        F.col(id_col).alias("id"),
        simhash64_udf(shingle_hashes(F.col(text_col), shingle_n))
        .alias("simhash"))


def hamming64(a, b):
    """Popcount of XOR — JVM-side via bin(); no Python."""
    return F.length(F.regexp_replace(F.bin(a.bitwiseXOR(b)), "0", ""))


# Manku-style multi-probe blocking (Manku, Jain, Das Sarma, WWW 2007:
# "Detecting Near-Duplicates for Web Crawling"): split the 64-bit
# signature into 6 blocks; ≤3 flipped bits corrupt ≤3 blocks, so ≥3
# blocks stay intact and SOME C(6,3) combination of 3 intact blocks is
# shared by any pair at Hamming ≤ 3. Each probe key concatenates 3
# blocks (32-33 bits) → ~10^9-10^10 buckets, so bucket occupancy stays
# O(corpus/10^9) and the in-bucket self-join never goes quadratic —
# unlike 16-bit bands whose 65,536 buckets pigeonhole 10^9+ docs into
# ~10^4-row buckets.
_SIMHASH_BLOCKS = [(0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10)]


def _simhash_probe_keys(sim) -> list:
    from itertools import combinations

    def block(i):
        shift, width = _SIMHASH_BLOCKS[i]
        return (F.shiftrightunsigned(sim, shift)
                .bitwiseAND(F.lit((1 << width) - 1)))

    keys = []
    for ci, (i, j, k) in enumerate(combinations(range(6), 3)):
        keys.append((block(i)
                     + F.shiftleft(block(j), 16)
                     + F.shiftleft(block(k), 32)
                     + F.shiftleft(F.lit(ci).cast("long"), 48)))
    return keys


def simhash_pairs(df: DataFrame, text_col: str, id_col: str,
                  shingle_n: int = 2, max_hamming: int = 3,
                  max_bucket: int | None = 10_000) -> DataFrame:
    """Near-dup pairs by SimHash: 6-block C(6,3)=20 probe keys (any pair
    at Hamming ≤ 3 shares at least one fully-intact key) then exact
    popcount verify.

    ``max_bucket`` drops probe buckets larger than the cap before the
    self-join, bounding candidate generation at ≤ C(cap,2) pairs per
    bucket regardless of corpus pathology (mass-identical boilerplate
    lands in exact_dedup's territory anyway; a capped bucket only loses
    pairs whose every other probe bucket is ALSO over cap). Use
    `simhash_bucket_stats` to monitor occupancy/drop counts.
    """
    assert max_hamming <= 3, "6-block probe guarantees Hamming ≤ 3 only"
    sigs = _track_persist(simhash(df, text_col, id_col, shingle_n))
    return simhash_pairs_from_sigs(sigs, max_hamming, max_bucket)


def simhash_pairs_from_sigs(sigs: DataFrame, max_hamming: int = 3,
                            max_bucket: int | None = 10_000) -> DataFrame:
    """`simhash_pairs`' band-join + verify over a PRECOMPUTED
    (id, simhash) frame — the entry point for signatures persisted as a
    table across runs, and for the md5-twin signatures whose pair set a
    SQL oracle can brute-force (any hash family works: the C(6,3)
    probe-key guarantee depends only on bit positions)."""
    assert max_hamming <= 3, "6-block probe guarantees Hamming ≤ 3 only"
    banded = sigs.select(
        "id", "simhash",
        F.explode(F.array(*_simhash_probe_keys(F.col("simhash"))))
        .alias("bk"))
    banded = _drop_hot_buckets(banded, "bk", max_bucket)
    l = banded.alias("l")
    r = banded.alias("r")
    cand = (l.join(r, (F.col("l.bk") == F.col("r.bk"))
                      & (F.col("l.id") < F.col("r.id")))
            .select(F.col("l.id").alias("id_a"),
                    F.col("l.simhash").alias("sh_a"),
                    F.col("r.id").alias("id_b"),
                    F.col("r.simhash").alias("sh_b"))
            .distinct())
    return (cand.withColumn("hamming",
                            hamming64(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def simhash_bucket_stats(df: DataFrame, text_col: str, id_col: str,
                         shingle_n: int = 2,
                         max_bucket: int | None = 10_000) -> DataFrame:
    """Probe-bucket occupancy monitor for `simhash_pairs`: one row with
    n_buckets, max_bucket_size, n_dropped_buckets, n_dropped_rows and the
    worst-case candidate-pair bound sum(size·(size−1)/2) over SURVIVING
    buckets — the lineage/metrics artifact a 100-TB run logs per batch."""
    sigs = simhash(df, text_col, id_col, shingle_n)
    sizes = (sigs.select(F.explode(
                 F.array(*_simhash_probe_keys(F.col("simhash"))))
                 .alias("bk"))
             .groupBy("bk").agg(F.count(F.lit(1)).alias("sz")))
    cap = F.lit(max_bucket if max_bucket is not None else (1 << 62))
    kept = F.col("sz") <= cap
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_bucket_size"),
        F.sum(F.when(~kept, 1).otherwise(0)).cast("long")
        .alias("n_dropped_buckets"),
        F.sum(F.when(~kept, F.col("sz")).otherwise(0)).cast("long")
        .alias("n_dropped_rows"),
        F.sum(F.when(kept, F.col("sz") * (F.col("sz") - 1) / 2)
              .otherwise(0)).cast("long").alias("candidate_pair_bound"))


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (random-hyperplane LSH + exact verify)
# ---------------------------------------------------------------------------

def make_hyperplane_udf(dim: int, n_planes: int = 16, seed: int = 11):
    """pandas UDF: embedding → long LSH bucket (sign bits of random
    projections). One numpy matmul per Arrow batch."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes))

    @pandas_udf(LongType())
    def bucket(emb: pd.Series) -> pd.Series:
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in emb])
        signs = (mat @ planes) > 0                     # (n, planes)
        keys = np.zeros(len(emb), dtype=np.uint64)
        for j in range(n_planes):
            keys |= signs[:, j].astype(np.uint64) << np.uint64(j)
        return pd.Series(keys.view(np.int64))

    return bucket


def cosine_cols(a, b):
    """Exact cosine of two array<float/double> columns — sequential
    zip_with/aggregate folds (deterministic order, stays in codegen)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def embedding_neardup_pairs(df: DataFrame, emb_col: str, id_col: str,
                            dim: int, n_planes: int = 12,
                            cosine_threshold: float = 0.95,
                            n_tables: int = 4,
                            max_bucket: int | None = 10_000) -> DataFrame:
    """Pairs with cosine ≥ threshold. `n_tables` independent hyperplane
    banks raise recall (a pair is a candidate if ANY bank collides);
    `max_bucket` drops degenerate buckets (e.g. a dominant embedding
    cluster collapsing onto one hyperplane cell) before the self-join.
    """
    base = _track_persist(df.select(F.col(id_col).alias("id"),
                                F.col(emb_col).alias("emb")))
    bucket_cols = []
    for t in range(n_tables):
        udf = make_hyperplane_udf(dim, n_planes, seed=11 + t)
        bucket_cols.append(
            F.struct(F.lit(t).alias("t"), udf("emb").alias("b")))
    buckets = _drop_hot_buckets(
        base.withColumn("bk", F.explode(F.array(*bucket_cols)))
            .select("id", "bk"), "bk", max_bucket)
    l = buckets.alias("l")
    r = buckets.alias("r")
    cand = (l.join(r, (F.col("l.bk") == F.col("r.bk"))
                      & (F.col("l.id") < F.col("r.id")))
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct())
    e = base
    return (cand
            .join(e.select(F.col("id").alias("id_a"),
                           F.col("emb").alias("emb_a")), "id_a")
            .join(e.select(F.col("id").alias("id_b"),
                           F.col("emb").alias("emb_b")), "id_b")
            .withColumn("cosine", cosine_cols(F.col("emb_a"),
                                              F.col("emb_b")))
            .filter(F.col("cosine") >= cosine_threshold)
            .select("id_a", "id_b", "cosine"))


def jaccard_join_exact(df: DataFrame, text_col: str, id_col: str,
                       threshold: float = 0.5,
                       lowercase: bool = True,
                       scale: int = 10_000) -> DataFrame:
    """EXACT token-set similarity self-join via prefix filtering
    (Bayardo/Ma/Srikant WWW'07 All-Pairs; Chaudhuri et al. SSJoin) —
    the exact counterpart of the MinHash-LSH path: every unordered
    pair of documents whose distinct-token Jaccard is >= threshold,
    with no false negatives and no probabilistic miss rate.

    Filter correctness: under ANY global token order, J(A,B) >= t
    implies |A∩B| >= ceil(t·|A|), so A and B must share a token
    inside each one's first |X| − ceil(t·|X|) + 1 tokens — pairs are
    generated ONLY from those prefixes. The global order used is
    (document frequency ASC, token ASC): rarest-first prefixes
    minimize candidates (the WWW'07 heuristic). The threshold lives
    on an integer lattice (T = round(t·scale)); both the prefix
    length (ceil via (T·n + scale−1) div scale) and the final
    verify (inter·scale >= T·union) are pure BIGINT comparisons —
    bit-identical in any ANSI engine.

    Output: (id_1, id_2, n_tokens_1, n_tokens_2, inter, uni, jaccard)
    with id_1 < id_2, jaccard rounded to 6 dp.

    Scale design: tokens shuffle ONCE to compute document
    frequencies (slim (token, count) agg with map-side combine);
    the rank join and the prefix self-join move only prefix tokens
    (~(1−t)·|d| per doc); candidate verification joins the
    candidate PAIRS (not the corpus) back to the per-doc token
    arrays and computes array_intersect in codegen. The length
    filter (t·|A| <= |B| <= |A|/t) prunes candidates before the
    array join. Worst case remains quadratic for a token shared by
    k docs in both prefixes (k² candidate rows) — the same hot-key
    caveat as every published exact algorithm; monitor with the
    df table this operator already computes.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    T = int(round(threshold * scale))
    text = F.coalesce(F.col(text_col), F.lit(""))
    if lowercase:
        text = F.lower(text)
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.filter(F.split(text, r"\s+"), lambda w: w != ""))
        .alias("_toks"))
    toks = toks.filter(F.size("_toks") > 0)
    toks = _track_persist(toks)

    from pyspark.sql import Window

    tok = toks.select("_id", F.explode("_toks").alias("_t"))
    dfreq = tok.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    # any TOTAL order serves the prefix guarantee — use the
    # (df, token) tuple itself, so no global rank materializes (a
    # global row_number would single-partition-sort the vocabulary)
    ranked = (tok.join(dfreq, "_t")
              .withColumn("_n", F.count(F.lit(1)).over(
                  Window.partitionBy("_id")).cast("long"))
              .withColumn("_pos", F.row_number().over(
                  Window.partitionBy("_id")
                  .orderBy(F.asc("_df"), F.asc("_t"))).cast("long")))
    ceil_tn = F.floor((F.lit(T) * F.col("_n") + (scale - 1))
                      / F.lit(scale)).cast("long")
    # tracked persist: BOTH sides of the candidate self-join read the
    # prefix — without the cache each side re-runs the whole
    # explode → df-agg → per-doc window chain (observed to ERASE the
    # multi-core speedup). The cache is tiny: ~(1−t)·|d| rows/doc.
    prefix = _track_persist(ranked.filter(
        F.col("_pos") <= F.col("_n") - ceil_tn + 1).select(
        "_t", "_id", "_n"))

    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (a.join(b, (F.col("a._t") == F.col("b._t"))
                   & (F.col("a._id") < F.col("b._id")))
            # length filter: T·nA <= scale·nB (nA >= nB side symmetric)
            .filter((F.lit(T) * F.col("a._n")
                     <= F.lit(scale) * F.col("b._n"))
                    & (F.lit(T) * F.col("b._n")
                       <= F.lit(scale) * F.col("a._n")))
            .select(F.col("a._id").alias("id_1"),
                    F.col("b._id").alias("id_2"))
            .distinct())

    t1 = toks.select(F.col("_id").alias("id_1"),
                     F.col("_toks").alias("_toks1"))
    t2 = toks.select(F.col("_id").alias("id_2"),
                     F.col("_toks").alias("_toks2"))
    verified = (cand.join(t1, "id_1").join(t2, "id_2")
                .withColumn("inter",
                            F.size(F.array_intersect("_toks1", "_toks2"))
                            .cast("long"))
                .withColumn("n_tokens_1", F.size("_toks1").cast("long"))
                .withColumn("n_tokens_2", F.size("_toks2").cast("long"))
                .withColumn("uni", (F.col("n_tokens_1")
                                    + F.col("n_tokens_2")
                                    - F.col("inter")).cast("long"))
                .filter(F.col("inter") * scale >= F.lit(T) * F.col("uni")))
    return verified.select(
        "id_1", "id_2", "n_tokens_1", "n_tokens_2", "inter", "uni",
        F.round(F.col("inter").cast("double")
                / F.col("uni").cast("double"), 6).alias("jaccard"))


def containment_join_exact(contained: DataFrame, corpus: DataFrame,
                           text_col: str, id_col: str,
                           threshold: float = 0.9,
                           lowercase: bool = True,
                           scale: int = 10_000) -> DataFrame:
    """EXACT token-set containment join — every ORDERED pair (A, B)
    with A from `contained`, B from `corpus`, A.id != B.id, and
    C(A,B) = |A∩B| / |A| >= threshold over distinct whitespace
    tokens: the asymmetric counterpart of jaccard_join_exact for
    quote/excerpt/subset detection, where a short text living inside
    a long document scores near 1.0 even though its Jaccard is tiny
    (the near-dup passes deliberately miss it). Pass the same frame
    twice for the self-join form.

    Filter correctness (zero false negatives): C(A,B) >= t implies
    |A∩B| >= ceil(t·|A|), so under ANY global token order A and B
    must share a token inside A's first |A| − ceil(t·|A|) + 1
    tokens. Only the CONTAINED side has a usable prefix — B's prefix
    length would depend on |A| — so candidates are generated by
    joining A-prefix tokens against the corpus's FULL posting list,
    and the rarest-first order (corpus document frequency ASC, token
    ASC — the WWW'07 heuristic, no global rank materialized; tokens
    absent from the corpus get df 0 and sort first, which is
    optimal: their posting lists are empty) is what keeps those
    posting lists short. Length filter: |A∩B| <= |B| forces
    scale·|B| >= T·|A|. The threshold lives on an integer lattice
    (T = round(t·scale)); prefix ceil and the final verify
    (inter·scale >= T·|A|) are pure BIGINT comparisons.

    Output: (id_a, id_b, n_tokens_a, n_tokens_b, inter, containment)
    — id_a is the contained text.

    Scale design: one corpus token shuffle for document frequencies
    (map-side combine); the candidate join moves A-prefix rows
    (~(1−t)·|d| per contained doc) against posting lists of A's
    RAREST tokens only; verification joins candidate PAIRS back to
    the persisted per-side token arrays and computes array_intersect
    in codegen. Both token-array tables are tracked-persisted (the
    jaccard_join lesson: an unpersisted join side feeding two
    consumers is independently recomputed under AQE and erases
    multi-core speedup). Hot-token worst case is the posting-list
    join — the df table this operator computes is the monitor. In
    the decontamination shape (small `contained` set), the prefix
    table is tiny and broadcasts.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    T = int(round(threshold * scale))

    def _tok(frame):
        text = F.coalesce(F.col(text_col), F.lit(""))
        if lowercase:
            text = F.lower(text)
        out = frame.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(
                F.filter(F.split(text, r"\s+"), lambda w: w != ""))
            .alias("_toks"))
        return _track_persist(out.filter(F.size("_toks") > 0))

    toks_a, toks_b = _tok(contained), _tok(corpus)

    from pyspark.sql import Window

    tok_b = toks_b.select("_id", F.explode("_toks").alias("_t"),
                          F.size("_toks").cast("long").alias("_n"))
    dfreq = tok_b.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    tok_a = toks_a.select("_id", F.explode("_toks").alias("_t"),
                          F.size("_toks").cast("long").alias("_n"))
    ranked = (tok_a.join(dfreq, "_t", "left")
              .withColumn("_df", F.coalesce(F.col("_df"), F.lit(0)))
              .withColumn("_pos", F.row_number().over(
                  Window.partitionBy("_id")
                  .orderBy(F.asc("_df"), F.asc("_t"))).cast("long")))
    ceil_tn = F.floor((F.lit(T) * F.col("_n") + (scale - 1))
                      / F.lit(scale)).cast("long")
    prefix = _track_persist(ranked.filter(
        F.col("_pos") <= F.col("_n") - ceil_tn + 1).select(
        "_t", "_id", "_n"))
    # full corpus posting list — the B side
    full = tok_b.select("_t", F.col("_id").alias("id_b"),
                        F.col("_n").alias("_nb"))

    cand = (prefix.join(full, "_t")
            .filter((F.col("_id") != F.col("id_b"))
                    # |B| lower bound: scale·nB >= T·nA
                    & (F.lit(scale) * F.col("_nb")
                       >= F.lit(T) * F.col("_n")))
            .select(F.col("_id").alias("id_a"), "id_b")
            .distinct())

    ta = toks_a.select(F.col("_id").alias("id_a"),
                       F.col("_toks").alias("_toks_a"))
    tb = toks_b.select(F.col("_id").alias("id_b"),
                       F.col("_toks").alias("_toks_b"))
    verified = (cand.join(ta, "id_a").join(tb, "id_b")
                .withColumn("inter",
                            F.size(F.array_intersect("_toks_a", "_toks_b"))
                            .cast("long"))
                .withColumn("n_tokens_a", F.size("_toks_a").cast("long"))
                .withColumn("n_tokens_b", F.size("_toks_b").cast("long"))
                .filter(F.col("inter") * scale
                        >= F.lit(T) * F.col("n_tokens_a")))
    return verified.select(
        "id_a", "id_b", "n_tokens_a", "n_tokens_b", "inter",
        F.round(F.col("inter").cast("double")
                / F.col("n_tokens_a").cast("double"), 6)
        .alias("containment"))
