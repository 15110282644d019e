"""Training-data curation operators: benchmark decontamination,
deterministic hash splits/sampling, stratified dataset mixing, and
intra-document repeated-line removal.

These are the corpus-curation steps a large-scale LLM training-data
pipeline runs AFTER quality filtering (pipeline.decisions) and near-dup
removal (operators.dedup) — the reference's uniqueness/validity
dimensions (/root/reference/DataQuality_AI_CaseStudy.md:144-155)
generalized to the web-corpus setting:

* decontaminate      flag training docs that share word n-grams with an
                     evaluation/benchmark set (the GPT-3/Llama-style
                     13-gram overlap rule).
* split_assign       deterministic, seed-stable train/val/test split by
                     key hash — no `rand()`, so re-runs and resumed jobs
                     assign identical splits.
* stratified_sample  per-stratum deterministic sampling rates (dataset
                     mixing weights) via a broadcast rates table.
* dedupe_lines       drop repeated lines within a document, keeping the
                     first occurrence (Gopher-style repetition removal),
                     plus duplicate-line statistics.

Scale design (the point at 100 TB):

* decontaminate: the eval set's distinct shingle hashes are tiny
  (benchmarks are ~10^4-10^6 docs → at most ~10^8 hashes, 8 B each) and
  are BROADCAST; the training side explodes its shingle hashes map-side,
  joins against the broadcast set, and only the MATCHED (doc, shingle)
  rows — a vanishingly small fraction — reach the per-doc count shuffle.
  Training text never shuffles; the output is a slim per-doc flag table
  to join back on the id.
* split_assign / stratified_sample: pure narrow projections —
  xxhash64(key, salt) % buckets compared to integer thresholds, zero
  shuffle, whole-stage codegen. Deterministic by construction: the same
  key always lands in the same split on any cluster size, which is what
  makes resumable/incremental ingestion possible (rand()-based sampling
  is not reproducible across retries or task re-executions).
* dedupe_lines: per-row array ops in codegen; the first-occurrence
  filter is O(lines²) per document in the worst case, which is bounded
  by the max-doc-length guard the quality pipeline applies upstream.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import track_persist as _track_persist
from .dedup import shingle_hashes

# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------


def _norm_text(col, normalize: bool):
    """Decontamination normalization (GPT-3 appendix C style): lowercase
    and strip punctuation to whitespace, so 'Hello, World' and
    'hello world' share n-grams. Off by default (exact matching)."""
    if not normalize:
        return col
    return F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))),
                            r"[^a-z0-9\s]", " ")


def eval_shingles(eval_df: DataFrame, text_col: str, n: int = 13,
                  normalize: bool = False) -> DataFrame:
    """Distinct xxhash64'd word n-gram shingles of the eval set.

    One column ``eval_shingle: long``. Aggregated to distinct so the
    broadcast payload is minimal and per-match counts stay exact.
    """
    sh = shingle_hashes(_norm_text(F.col(text_col), normalize), n)
    return (eval_df.select(F.explode(sh).alias("eval_shingle"))
            .distinct())


def decontaminate(train: DataFrame, eval_df: DataFrame, text_col: str,
                  id_col: str, n: int = 13,
                  min_overlap: int = 1,
                  normalize: bool = False) -> DataFrame:
    """Per training doc: distinct n-gram shingles shared with the eval
    set and a `contaminated` flag (≥ min_overlap shared shingles).

    Output: (id_col, n_shingles, n_matched, contaminated) — a slim flag
    table; callers join it back on the id (text never shuffles here).

    The eval shingle set is broadcast: the explode→join runs map-side
    and only matched rows enter the per-doc aggregation shuffle. The
    slim (id, shingle-hash array) table feeds both the overlap branch
    and the n_shingles branch, so it goes through the shared tracked
    persist (one text/shingling pass instead of two; ~8 B per shingle
    cached, no text) — callers release it with
    `dataquality_spark.caching.unpersist_all()` like the dedup pair
    operators.
    """
    ev = eval_shingles(eval_df, text_col, n, normalize)
    sh = _track_persist(
        train.select(F.col(id_col),
                     shingle_hashes(_norm_text(F.col(text_col),
                                               normalize), n)
                     .alias("_sh")))
    matched = (sh.select(id_col, F.explode("_sh").alias("_s"))
               .join(F.broadcast(ev), F.col("_s") == F.col("eval_shingle"))
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_matched")))
    return (sh.select(id_col, F.size("_sh").cast("long").alias("n_shingles"))
            .join(matched, id_col, "left")
            .withColumn("n_matched",
                        F.coalesce(F.col("n_matched"), F.lit(0)).cast("long"))
            .withColumn("contaminated",
                        F.col("n_matched") >= F.lit(min_overlap)))


# ---------------------------------------------------------------------------
# Deterministic hash bucketing / splits / stratified sampling
# ---------------------------------------------------------------------------

# glibc LCG constants: portable int64 arithmetic (no overflow for any
# non-negative key < 2^31 after the pre-reduction) that DuckDB evaluates
# bit-identically — the SQL-oracle-checkable twin of the xxhash64 path.
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2147483648


def hash_bucket(key, buckets: int = 1_000_000, salt: int = 0,
                method: str = "xxhash64"):
    """Deterministic bucket in [0, buckets) for a key column.

    method='xxhash64' (production): pmod(xxhash64(key, salt), buckets) —
    full-width avalanche, JVM codegen.
    method='lcg' (portable): glibc LCG over the key's low 31 bits —
    bit-identical in ANSI SQL engines, used by the oracle-checked
    contract queries. Keys must be non-negative integers for this path.
    """
    if method == "xxhash64":
        return F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(buckets))
    if method == "lcg":
        h = ((key % _LCG_M) * _LCG_A + _LCG_C + salt) % _LCG_M
        return h % F.lit(buckets)
    raise ValueError(f"unknown hash method: {method}")


def split_assign(df: DataFrame, key_col: str,
                 fracs: dict[str, float] | None = None,
                 buckets: int = 1_000_000, salt: int = 0,
                 method: str = "xxhash64") -> DataFrame:
    """Assign each row a deterministic train/val/test split by key hash.

    fracs: ordered {split_name: fraction}; fractions must sum to ≤ 1.0
    (any remainder falls into the last split). Adds `bucket` and
    `split` columns; the assignment is a pure projection (no shuffle)
    and stable across runs, cluster sizes, and task retries.
    """
    fracs = fracs or {"train": 0.9, "val": 0.05, "test": 0.05}
    if any(not 0.0 <= v <= 1.0 for v in fracs.values()) \
            or sum(fracs.values()) > 1.0 + 1e-9:
        raise ValueError(f"split fractions must each be in [0,1] and "
                         f"sum to <= 1.0: {fracs}")
    b = hash_bucket(F.col(key_col), buckets, salt, method)
    out = df.withColumn("bucket", b)
    names = list(fracs)
    cum, expr = 0.0, None
    for name in names[:-1]:
        cum += fracs[name]
        thr = int(round(cum * buckets))
        cond = F.col("bucket") < F.lit(thr)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return out.withColumn("split", expr)


def stratified_sample(df: DataFrame, stratum_col: str,
                      rates: dict[str, float], key_col: str,
                      buckets: int = 1_000_000, salt: int = 0,
                      default_rate: float = 0.0,
                      method: str = "xxhash64") -> DataFrame:
    """Deterministic per-stratum sampling (dataset-mixing weights).

    Keeps a row iff hash_bucket(key) < rate(stratum) × buckets. The
    rates dict becomes a broadcast-joined table, so 10^4+ strata cost
    one map-side hash lookup per row — no per-stratum scans, no
    shuffle, and the kept set is reproducible bit-for-bit.
    """
    spark = df.sparkSession
    rate_rows = [(k, int(round(v * buckets))) for k, v in rates.items()]
    schema = T.StructType([T.StructField(stratum_col, T.StringType()),
                           T.StructField("_thr", T.LongType())])
    # explicit schema: an empty rates dict must mean "default_rate for
    # every stratum", not a schema-inference crash
    rates_df = spark.createDataFrame(rate_rows, schema)
    default_thr = int(round(default_rate * buckets))
    b = hash_bucket(F.col(key_col), buckets, salt, method)
    return (df.join(F.broadcast(rates_df), stratum_col, "left")
            .withColumn("_thr", F.coalesce("_thr", F.lit(default_thr)))
            .withColumn("bucket", b)
            .where(F.col("bucket") < F.col("_thr"))
            .drop("_thr"))


# ---------------------------------------------------------------------------
# URL / domain filtering
# ---------------------------------------------------------------------------


def repeat_upsample(df: DataFrame, id_col: str, weight_col: str,
                    buckets: int = 1_000_000, salt: int = 0,
                    method: str = "xxhash64",
                    copy_col: str = "copy_idx") -> DataFrame:
    """Deterministic fractional upsampling for dataset-mixture building
    (Pile/Dolma-style per-source epoch weights): a row with weight w is
    emitted floor(w) times, plus one more iff its hash bucket falls
    below floor(frac(w)·buckets) — so a source weighted 2.3 contributes
    exactly ~2.3× rows, and the SAME rows receive the extra copy on
    every run, cluster size, or task retry (reproducible mixtures, the
    property rand()-based upsampling lacks).

    Adds n_copies and copy_col (1..n_copies). NULL or non-positive
    weights yield zero copies — the row is dropped, like weight 0;
    coalesce the weight column upstream if a default is wanted. Scale:
    a pure projection + explode — zero shuffle, output inherits input
    partitioning; the hash is the same bucketing primitive as
    split_assign, so mixture and split decisions stay independent via
    distinct salts.
    """
    w = F.col(weight_col).cast("double")
    base = F.floor(w).cast("long")
    thr = F.floor((w - F.floor(w)) * buckets).cast("long")
    b = hash_bucket(F.col(id_col), buckets, salt, method)
    n = (base + F.when(b < thr, F.lit(1)).otherwise(F.lit(0))).cast("long")
    return (df.withColumn("n_copies", n)
            .where(F.col("n_copies") > 0)   # guard: sequence(1,0) descends
            .withColumn(copy_col,
                        F.explode(F.sequence(F.lit(1).cast("long"),
                                             F.col("n_copies")))))


def token_budget_sample(df: DataFrame, group_col: str, token_col: str,
                        key_col: str, budget: int,
                        budgets: dict[str, int] | None = None,
                        salt: int = 0, method: str = "xxhash64",
                        buckets: int = _LCG_M) -> DataFrame:
    """Deterministic per-group token-budget sampling (data mixing by
    quota): keep, per group, the documents in a deterministic hash
    priority order until the group's cumulative `token_col` reaches its
    budget. The greedy rule is `tokens_before_this_doc < budget`, so
    every non-empty group with a positive budget keeps at least one
    document and the kept set slightly OVERSHOOTS the budget by at most
    one document — the standard quota semantics (a Pile/Dolma-style
    per-source token target expressed as a cap instead of a weight;
    complements `stratified_sample`, which fixes a RATE, and
    `repeat_upsample`, which fixes an epoch WEIGHT).

    `budget` is the default cap for every group; `budgets` (string
    group → cap) overrides per group, exactly like `stratified_sample`'s
    rates table (broadcast-joined, so millions of groups cost one
    map-side lookup). A budget ≤ 0 keeps nothing from that group.
    Priority is `hash_bucket(key_col)` with ties broken by `key_col`,
    so the kept set is reproducible bit-for-bit across runs, task
    retries, partitionings, and cluster sizes, and is NESTED: raising a
    budget only ever ADDS documents, never swaps them. Keys must be
    non-null (and non-negative ints for method='lcg'); `token_col` must
    be non-negative — the cutoff rewrite below relies on the cumulative
    sum being nondecreasing. NULL tokens count as 0.

    Scale design: document text NEVER shuffles. The running sum runs on
    a slim (group, key, tokens, priority) projection (~32 B/row); the
    window's partition-by-group shuffle and per-group sort touch only
    that projection. The per-row keep decision is then rewritten as a
    comparison against a ONE-ROW-PER-GROUP cutoff — the first document
    in priority order whose preceding cumulative total reaches the
    budget (min over (priority, key) of the crossing rows; the
    aggregate reuses the window's (group, priority, key) sort and
    partitioning, so it adds no exchange) — and the cutoff table
    broadcast-joins back onto the full rows as a pure map-side filter:
    keep iff the group has no cutoff or (priority, key) sorts strictly
    before it. Equivalent to the window formula because the cumulative
    sum is nondecreasing along the priority order. Skew note: one
    giant group sorts on one task's slim rows; if a single group's
    (key, tokens) pairs exceed a task's memory, pre-aggregate to
    coarser keys or split the group upstream — the full-row side is
    never affected.
    """
    from pyspark.sql.window import Window

    spark = df.sparkSession
    prio = hash_bucket(F.col(key_col), buckets, salt, method)
    slim = df.select(F.col(group_col).alias("_g"),
                     F.col(key_col).alias("_k"),
                     F.col(token_col).cast("long").alias("_t"),
                     prio.alias("_prio"))
    if budgets:
        schema = T.StructType([T.StructField("_g", T.StringType()),
                               T.StructField("_budget", T.LongType())])
        bdf = spark.createDataFrame(
            [(g, int(b)) for g, b in budgets.items()], schema)
        slim = (slim.join(F.broadcast(bdf), "_g", "left")
                .withColumn("_budget",
                            F.coalesce("_budget", F.lit(int(budget)))))
    else:
        slim = slim.withColumn("_budget", F.lit(int(budget)))
    w = (Window.partitionBy("_g").orderBy("_prio", "_k")
         .rowsBetween(Window.unboundedPreceding, -1))
    crossing = (slim
                .withColumn("_before",
                            F.coalesce(F.sum("_t").over(w), F.lit(0)))
                .where(F.col("_before") >= F.col("_budget")))
    cutoffs = (crossing.groupBy("_g")
               .agg(F.min(F.struct(F.col("_prio"), F.col("_k")))
                    .alias("_cut")))
    probe = F.struct(prio.alias("_prio"), F.col(key_col).alias("_k"))
    return (df.join(F.broadcast(cutoffs),
                    F.col(group_col).eqNullSafe(F.col("_g")), "left")
            .where(F.col("_cut").isNull() | (probe < F.col("_cut")))
            .drop("_g", "_cut"))


def temperature_sample(df: DataFrame, group_col: str, key_col: str,
                       target_total: int, alpha: float = 0.5,
                       size_col: str | None = None, salt: int = 0,
                       method: str = "xxhash64",
                       buckets: int = 1_000_000,
                       weight_scale: int = 1_000) -> DataFrame:
    """Temperature-scaled corpus mixing (Lample & Conneau 2019 / mT5):
    sample groups with probability p_g ∝ n_g^alpha, realized as a
    deterministic per-group DOWNSAMPLING rate toward an expected
    `target_total` kept size. alpha < 1 flattens the mixture (low-
    resource groups keep a larger share than their corpus share),
    alpha = 1 is a plain uniform global downsample, alpha = 0 gives
    every group the same expected kept size.

    n_g is the group's row count, or its summed `size_col` (e.g.
    tokens) when given — then `target_total` is in the same units.
    Keep rate r_g = min(1, target_total · p_g / n_g); a row is kept iff
    hash_bucket(key) < floor(r_g · buckets), the same deterministic
    primitive as `stratified_sample` (which takes EXPLICIT rates —
    this operator derives them from the data). Rates that the formula
    would push above 1 are capped (downsample-only); compose with
    `repeat_upsample` if true >1 epoch weights are wanted.

    Cross-engine exactness: group weights are put on an integer
    lattice (w_g = floor(n_g^alpha · weight_scale)) and the keep rule
    is evaluated as an integer threshold
    `bucket < min(buckets, (T·w_g·buckets) // (W·n_g))` in
    DECIMAL(38,0) arithmetic, so a SQL oracle reproduces the kept set
    bit-for-bit — no float-summation order sensitivity (the only
    float op is n_g^alpha per group, IEEE-exact for alpha = 0.5/1/0).

    Scale design: one slim groupBy(group) count shuffle (bytes ∝
    #groups), one scalar total, and a broadcast of the per-group
    threshold table back onto the corpus as a pure map-side filter —
    document text never shuffles and the keep decision is stable
    across runs, partitionings, and task retries.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0: {alpha}")
    if target_total <= 0:
        raise ValueError(f"target_total must be positive: {target_total}")
    size = (F.count(F.lit(1)) if size_col is None
            else F.sum(F.coalesce(F.col(size_col).cast("long"), F.lit(0))))
    counts = df.groupBy(F.col(group_col).alias("_g")).agg(
        size.cast("long").alias("_n"))
    nd = F.col("_n").cast("double")
    # alpha=0.5 MUST be sqrt, not pow(x, 0.5): IEEE sqrt is correctly
    # rounded in every engine, pow is only 1-ulp-accurate in Java — the
    # lattice floor would flip at boundaries between engines otherwise.
    pw = (F.sqrt(nd) if alpha == 0.5
          else nd if alpha == 1.0
          else F.lit(1.0) if alpha == 0.0
          else F.pow(nd, F.lit(float(alpha))))
    # tracked persist: the weights table is tiny (one row per group)
    # but feeds BOTH the threshold projection and the scalar total —
    # without it Spark recomputes the groupBy subtree, i.e. a second
    # full pass over the group column at corpus scale. Callers release
    # via dataquality_spark.caching.unpersist_all() like decontaminate.
    weights = _track_persist(counts.withColumn(
        "_w", F.floor(pw * F.lit(int(weight_scale))).cast("long")))
    total = weights.agg(F.sum("_w").cast("long").alias("_wsum"))
    dec = "decimal(38,0)"
    num = (F.lit(int(target_total)).cast(dec) * F.col("_w").cast(dec)
           * F.lit(int(buckets)).cast(dec))
    den = F.col("_wsum").cast(dec) * F.col("_n").cast(dec)
    # `div` = true integral division (SQL oracles use `//`); floor(a/b)
    # would round the decimal quotient to scale 6 FIRST and can step
    # over an integer boundary the exact quotient sits just below.
    # The rate-cap happens on the NUMERATOR — min(num, den·buckets) —
    # which is algebraically identical to least(buckets, num div den)
    # but keeps the quotient ≤ buckets, so a huge target_total can
    # never overflow the BIGINT quotient under ANSI mode.
    thr = (weights.crossJoin(F.broadcast(total))
           .withColumn("_num", F.least(
               num, den * F.lit(int(buckets)).cast(dec)))
           .withColumn("_den", den)
           .withColumn("_thr",
                       F.expr("CAST((_num div _den) AS BIGINT)"))
           .select("_g", "_thr"))
    b = hash_bucket(F.col(key_col), buckets, salt, method)
    return (df.join(F.broadcast(thr),
                    F.col(group_col).eqNullSafe(F.col("_g")), "left")
            .withColumn("bucket", b)
            .where(F.col("bucket") < F.col("_thr"))
            .drop("_g", "_thr"))


def _word_ngrams(text_col: str, n: int):
    """All word n-grams of orders 1..n (DSIR's unigram+bigram feature
    space for n=2) over the contract tokenizer (ASCII-whitespace split,
    empty tokens dropped — text_analysis._words)."""
    from .text_analysis import _words, word_ngrams

    words = _words(F.col(text_col))
    return F.concat(*[word_ngrams(words, order)
                      for order in range(1, n + 1)])


def dsir_importance(train: DataFrame, target: DataFrame, text_col: str,
                    id_col: str, n: int = 2, smoothing: float = 1.0,
                    scale: int = 1_000_000,
                    buckets: int | None = None) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every training
    document by how target-like its hashed-n-gram feature distribution
    is — log p_target(doc)/p_raw(doc) under bag-of-feature unigram
    models — then resample the highest-importance documents (compose
    with quantile_buckets / top-k / temperature_sample downstream).

    Feature space: word n-grams of orders 1..n (DSIR's unigram+bigram
    for n=2); `buckets` hashes grams into a FIXED feature space
    (xxhash64 pmod buckets — the paper's 10^4 hash buckets; the scale
    mode, weight table is buckets rows and broadcasts), `buckets=None`
    keeps exact gram strings (the oracle-checkable mode; weight table
    is vocabulary-sized — fine for corpora whose vocab fits a shuffle
    join, use buckets at 100 TB).

    Per-feature weight on an integer lattice:
      w_f = floor(scale · (ln((ct_f+a)/(T+aV)) − ln((cr_f+a)/(R+aV))))
    with ct/cr = target/raw occurrence counts, T/R their totals, V the
    union feature-space size, a = `smoothing` (Laplace). A document's
    score is the BIGINT sum of w_f over its feature OCCURRENCES —
    integer addition is order-free, so the score is reproducible
    bit-for-bit on any partitioning (the reason for the lattice; the
    only float ops are the per-feature lns, computed once each).

    Returns the slim flag table (id_col, n_feats, dsir_score) —
    callers join it back on the id; training text never shuffles
    beyond its gram explode (same decontaminate-style shape).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0: {smoothing}")

    def feats(d):
        g = F.explode(_word_ngrams(text_col, n)).alias("_f")
        out = d.select(g)
        if buckets:
            out = out.select(
                F.pmod(F.xxhash64("_f"), F.lit(buckets)).alias("_f"))
        return out

    tcnt = feats(target).groupBy("_f").agg(
        F.count(F.lit(1)).cast("long").alias("_ct"))
    rcnt = feats(train).groupBy("_f").agg(
        F.count(F.lit(1)).cast("long").alias("_cr"))
    vocab = (tcnt.join(rcnt, "_f", "full_outer")
             .select("_f",
                     F.coalesce("_ct", F.lit(0)).alias("_ct"),
                     F.coalesce("_cr", F.lit(0)).alias("_cr")))
    tot = vocab.agg(F.sum("_ct").alias("_T"), F.sum("_cr").alias("_R"),
                    F.count(F.lit(1)).cast("long").alias("_V"))
    a = float(smoothing)
    w = F.floor(F.lit(int(scale)) * (
        F.log((F.col("_ct") + a) / (F.col("_T") + a * F.col("_V")))
        - F.log((F.col("_cr") + a) / (F.col("_R") + a * F.col("_V")))
    )).cast("long")
    weights = (vocab.crossJoin(F.broadcast(tot))
               .select("_f", w.alias("_w")))
    if buckets:
        weights = F.broadcast(weights)

    doc_feats = train.select(F.col(id_col), F.explode(
        _word_ngrams(text_col, n)).alias("_f"))
    if buckets:
        doc_feats = doc_feats.withColumn(
            "_f", F.pmod(F.xxhash64("_f"), F.lit(buckets)))
    scored = (doc_feats.join(weights, "_f")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_feats"),
                   F.sum("_w").cast("long").alias("dsir_score")))
    # empty-text docs have no features: score 0 by convention
    return (train.select(id_col).join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_feats", F.lit(0)).cast("long")
                    .alias("n_feats"),
                    F.coalesce("dsir_score", F.lit(0)).cast("long")
                    .alias("dsir_score")))


def quantile_buckets(df: DataFrame, group_col: str, score_col: str,
                     key_col: str, k: int = 3,
                     labels: tuple[str, ...] | None = None,
                     mode: str = "ntile",
                     accuracy: int = 10_000,
                     out_col: str = "qbucket") -> DataFrame:
    """Per-group score-quantile bucketing — the CCNet selection step
    (Wenzek et al. 2020): split each language's documents into
    perplexity head/middle/tail thirds, then train on the head. Generic
    over any (group, score): k buckets, optional labels (e.g.
    ('head', 'middle', 'tail') with k=3; bucket 1 = LOWEST scores).

    mode='ntile' (exact): NTILE(k) over (group, score, key) — ties
    broken by key, so the assignment is a deterministic total order an
    ANSI SQL oracle reproduces bit-for-bit. Scale shape: the window
    sorts only a slim (group, score, key) projection, but one GROUP is
    one window partition = one task — exact ntile is for corpora whose
    largest group's slim rows fit a task (~10^8). Beyond that use:

    mode='thresholds' (100-TB path): per-group boundary scores from
    percentile_approx over the slim projection (one partial-aggregate
    pass, no sort), broadcast back, bucket = 1 + #thresholds below the
    score — a pure map-side comparison. Deterministic for a fixed
    input, but approx boundaries may differ from exact ntile near
    quantile edges (the documented trade; raise `accuracy` to tighten).

    Adds `out_col` (1..k int) and, when labels are given, replaces it
    with the label string. Scores must be non-null; rows with NULL
    group form their own group (standard groupBy semantics).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if labels is not None and len(labels) != k:
        raise ValueError(f"labels must have exactly k={k} entries")
    if mode == "ntile":
        from pyspark.sql.window import Window

        w = (Window.partitionBy(group_col)
             .orderBy(F.col(score_col).asc(), F.col(key_col).asc()))
        out = df.withColumn(out_col, F.ntile(k).over(w))
    elif mode == "thresholds":
        qs = [i / k for i in range(1, k)]
        th = (df.groupBy(F.col(group_col).alias("_g"))
              .agg(F.percentile_approx(
                  F.col(score_col), qs, accuracy).alias("_ths")))
        probe = F.col(score_col)
        bucket = F.lit(1) + F.aggregate(
            F.col("_ths"), F.lit(0),
            lambda acc, t: acc + F.when(probe > t, 1).otherwise(0))
        out = (df.join(F.broadcast(th),
                       F.col(group_col).eqNullSafe(F.col("_g")), "left")
               .withColumn(out_col, bucket.cast("int"))
               .drop("_g", "_ths"))
    else:
        raise ValueError(f"unknown mode: {mode}")
    if labels is not None:
        out = out.withColumn(
            out_col, F.element_at(F.array(*[F.lit(x) for x in labels]),
                                  F.col(out_col)))
    return out


def host_blocklist_filter(df: DataFrame, url_col: str,
                          blocked_hosts: DataFrame,
                          host_col: str = "host") -> DataFrame:
    """Drop documents whose URL host appears in a blocklist (the UT1 /
    adult-domain filtering stage every Common-Crawl pipeline runs first).

    Adds host_col (parse_url HOST) and anti-joins against the
    blocklist's first column. Scale design: blocklists are ~10^6 rows —
    BROADCAST anti-join, so filtering is map-side and the corpus never
    shuffles; extraction itself is a codegen projection.
    """
    bl = blocked_hosts.select(
        F.col(blocked_hosts.columns[0]).alias(host_col)).distinct()
    out = df.withColumn(host_col,
                        F.parse_url(F.col(url_col), F.lit("HOST")))
    return out.join(F.broadcast(bl), host_col, "left_anti")


TRACKING_PARAM_REGEX = (
    r"^(utm_[^=]*|gclid|fbclid|msclkid|mc_cid|mc_eid|ref|igshid)(=|$)")


def canonicalize_url(url, strip_www: bool = True,
                     tracking_regex: str = TRACKING_PARAM_REGEX):
    """Crawl-grade URL canonicalization as one pure-Catalyst string
    expression — the normalization every URL-level dedup runs before
    content dedup so `http://WWW.Site.com:80/a/?utm_source=x&b=2&a=1`
    and `https://site.com/a?a=1&b=2` collapse when they should.

    Rules (each a deliberate, SQL-mirrorable step): drop the fragment;
    lowercase scheme and host (NEVER the path — paths are
    case-sensitive); strip default ports :80/:443; optionally strip a
    leading `www.`; strip one trailing path slash; drop tracking query
    params (utm_*, gclid, fbclid, ...); sort surviving params
    byte-lexicographically. Scale: a codegen projection — zero shuffle,
    zero Python; canonical-URL dedup then rides the existing exact /
    bloom dedup paths on a 16-byte hash of the output."""
    u0 = F.split_part(url, F.lit("#"), F.lit(1))
    base = F.split_part(u0, F.lit("?"), F.lit(1))
    qpos = F.instr(u0, "?")
    qs = F.when(qpos > 0,
                F.substring(u0, qpos + 1, F.length(u0))).otherwise(F.lit(""))
    has_scheme = F.instr(base, "://") > 0
    # schemeless ("example.com/x") and protocol-relative ("//cdn.x/y")
    # crawl urls both normalize to http://
    scheme = F.when(has_scheme,
                    F.lower(F.split_part(base, F.lit("://"), F.lit(1)))) \
              .otherwise(F.lit("http"))
    rest = F.when(has_scheme,
                  F.substring(base, F.instr(base, "://") + 3,
                              F.length(base))) \
            .otherwise(F.regexp_replace(base, "^//", ""))
    host_port = F.split_part(rest, F.lit("/"), F.lit(1))
    path = F.substring(rest, F.length(host_port) + 1, F.length(rest))
    host = F.lower(host_port)
    # default ports are scheme-specific: :443 on http (or :80 on https)
    # is a REAL distinct origin and must survive
    host = F.when(scheme == "http", F.regexp_replace(host, ":80$", "")) \
            .when(scheme == "https",
                  F.regexp_replace(host, ":443$", "")) \
            .otherwise(host)
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_replace(path, "/$", "")
    params = F.filter(F.split(qs, "&"),
                      lambda x: (x != "") & ~x.rlike(tracking_regex))
    q_canon = F.concat_ws("&", F.array_sort(params))
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(q_canon != "", F.concat(F.lit("?"), q_canon))
        .otherwise(F.lit("")))


# ---------------------------------------------------------------------------
# Intra-document repeated-line removal (Gopher-style)
# ---------------------------------------------------------------------------


def dedupe_paragraphs_global(df: DataFrame, text_col: str, id_col: str,
                             sep: str = "\n",
                             out_col: str = "text_kept") -> DataFrame:
    """C4/Dolma-style global paragraph dedup: a paragraph (newline-
    delimited span) that occurs anywhere else in the corpus is removed
    from every document EXCEPT its first occurrence — first = smallest
    (id, position) over the whole corpus, so the result is deterministic
    on any cluster size.

    Output: (id_col, n_paragraphs, n_kept, out_col) with out_col the
    document text reassembled from surviving paragraphs in their
    original order.

    Blank/whitespace-only paragraphs are STRUCTURE, not content — they
    are never deduplicated (otherwise every blank-line separator in the
    corpus after the global first would be deleted, collapsing
    'p1\\n\\np2' into 'p1\\np2' everywhere).

    Scale design: document text NEVER shuffles. Paragraphs are
    posexploded to slim (id, pos, xxhash64(para)) triples (~24 B each)
    map-side. Duplicated hashes are found first with a count-only
    HashAggregate (map-side partial combine — the only aggregate that
    sees every paragraph), and the winner-per-hash `min(struct(id,
    pos))` — sort-based, because struct min is not hash-aggregable —
    runs only over triples that joined a duplicated hash, i.e. the
    DUPLICATED subset (exact_dedup's pattern). Both the winner
    aggregate and the drop join group/join on `_ph`, so they reuse the
    join's partitioning instead of adding shuffles; the drop list —
    (id, [positions to drop]) — is proportional to the duplicated
    subset only and AQE broadcasts it back onto the original rows,
    where a position filter rebuilds the text in place.

    Paragraph identity is 64-bit xxhash64: two distinct paragraphs
    collide (one wrongly deleted) with p ≈ n_paras² / 2^65 — the same
    documented budget as exact_dedup_cross; switch the hash to
    md5-derived 128 bits if that loss rate is unacceptable.
    """
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
    ex = (df.select(F.col(id_col), F.posexplode(lines)
                    .alias("_pos", "_para"))
          .where(F.trim("_para") != "")      # blanks are never dropped
          .select(id_col, "_pos", F.xxhash64("_para").alias("_ph")))
    dup_hashes = (ex.groupBy("_ph")
                  .agg(F.count(F.lit(1)).alias("_n"))
                  .where(F.col("_n") > 1)
                  .select("_ph"))
    dup_triples = ex.join(dup_hashes, "_ph")
    dup_winners = (dup_triples.groupBy("_ph")
                   .agg(F.min(F.struct(id_col, "_pos")).alias("_win")))
    drops = (dup_triples.join(dup_winners, "_ph")
             .where((F.col(f"_win.{id_col}") != F.col(id_col))
                    | (F.col("_win._pos") != F.col("_pos")))
             .groupBy(id_col)
             .agg(F.collect_list("_pos").alias("_drops")))
    with_drops = df.join(drops, id_col, "left")
    kept = F.filter(lines, lambda x, i: F.col("_drops").isNull()
                    | ~F.array_contains("_drops", i))
    return (with_drops
            .withColumn("n_paragraphs", F.size(lines).cast("long"))
            .withColumn("n_kept", F.size(kept).cast("long"))
            .withColumn(out_col, F.concat_ws(sep, kept))
            .drop("_drops"))


def c4_line_filter(df: DataFrame, text_col: str,
                   min_words: int = 3,
                   terminal_punct: str = ".!?\"",
                   banned_substrings: tuple[str, ...] = ("javascript",),
                   min_kept_lines: int = 3,
                   out_col: str = "text_c4") -> DataFrame:
    """C4's line-level cleaning rules (Raffel et al. 2020 §2.2): keep a
    line only if it ends in terminal punctuation AND has at least
    `min_words` whitespace words AND contains none of
    `banned_substrings` (case-insensitive; C4 uses the word
    "javascript" to nuke boilerplate cookie/JS warnings). Doc-level
    flags follow the same paper: `has_brace` ("{" anywhere — code, C4
    drops the doc), `has_lorem` ("lorem ipsum", case-insensitive), and
    `keep_doc` = no brace, no lorem, and ≥ `min_kept_lines` surviving
    lines. The rebuilt text joins surviving lines with "\\n" —
    byte-identical to the ANSI-SQL twin.

    Adds: out_col, n_lines, n_kept_lines, has_brace, has_lorem,
    keep_doc. Filtering on keep_doc is the caller's decision (the flag
    table pattern: this operator never drops rows).

    Scale: a pure per-row codegen projection — zero shuffles, zero
    joins, the same cost class as the scrub bank; composes before
    dedupe_lines / remove_dup_spans in a cleanup chain.
    """
    if min_words < 0 or min_kept_lines < 0:
        raise ValueError("min_words and min_kept_lines must be >= 0")
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(text, "\n")
    punct = [F.lit(c) for c in terminal_punct]

    def line_ok(x):
        t = F.trim(x)
        ends = F.array_contains(F.array(*punct), F.substring(t, -1, 1))
        n_words = F.size(F.filter(F.split(t, r"\s+"),
                                  lambda w: w != ""))
        ok = ends & (n_words >= F.lit(min_words))
        low = F.lower(t)
        for b in banned_substrings:
            ok = ok & ~low.contains(b.lower())
        return ok

    kept = F.filter(lines, line_ok)
    n = F.size(lines).cast("long")
    nk = F.size(kept).cast("long")
    low_text = F.lower(text)
    has_brace = low_text.contains("{")
    has_lorem = low_text.contains("lorem ipsum")
    return (df
            .withColumn(out_col, F.concat_ws("\n", kept))
            .withColumn("n_lines", n)
            .withColumn("n_kept_lines", nk)
            .withColumn("has_brace", has_brace)
            .withColumn("has_lorem", has_lorem)
            .withColumn("keep_doc",
                        ~has_brace & ~has_lorem
                        & (nk >= F.lit(min_kept_lines))))


def dedupe_lines(df: DataFrame, text_col: str,
                 out_col: str = "text_dedup") -> DataFrame:
    """Remove duplicate lines within each document (keep first
    occurrence, preserve order) and report duplicate-line stats.

    Adds: out_col (deduped text), n_lines, n_unique_lines,
    dup_line_frac (rounded to 6 dp). First-occurrence order is pinned
    explicitly via array_position (not array_distinct, whose ordering
    is an implementation detail), so the SQL oracle can mirror it with
    list_position — byte-identical output text on both engines.
    Blank/whitespace-only lines are paragraph separators, not content:
    they are always kept (and counted as unique).
    """
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    kept = F.filter(lines, lambda x, i: (F.trim(x) == "")
                    | (F.array_position(lines, x) == i + 1))
    n = F.size(lines).cast("long")
    nu = F.size(kept).cast("long")
    return (df
            .withColumn(out_col, F.concat_ws("\n", kept))
            .withColumn("n_lines", n)
            .withColumn("n_unique_lines", nu)
            .withColumn("dup_line_frac",
                        F.round(F.when(n > 0, (n - nu) / n.cast("double"))
                                .otherwise(F.lit(0.0)), 6)))


# ---------------------------------------------------------------------------
# Sequence packing (concat-then-chunk assignment for training batches)
# ---------------------------------------------------------------------------


def pack_sequences(df: DataFrame, token_col: str, id_col: str,
                   capacity: int, shards: int = 256,
                   salt: int = 0, method: str = "xxhash64") -> DataFrame:
    """GPT-style corpus chunking: documents are (conceptually)
    concatenated in deterministic order and cut into fixed-capacity
    token sequences; each doc learns WHERE it lands.

    Adds: shard (hash bucket of the id — the parallelism unit),
    tok_offset (exclusive cumulative tokens within the shard, i.e. the
    doc's start position in the shard's token stream), seq_no
    (tok_offset // capacity — which training sequence the doc starts
    in), seq_offset (tok_offset % capacity) and spans_boundary (doc
    crosses into the next sequence).

    Scale design: ONE window cumsum per shard — the shard key is a
    deterministic hash bucket, so the sort+window parallelizes across
    `shards` independent groups (no global ordering bottleneck), and
    assignment is reproducible on any cluster size or retry, which is
    what makes packed-corpus builds resumable. Pure SQL semantics:
    SUM() OVER (PARTITION BY shard ORDER BY id) — the oracle replays
    it exactly.
    """
    from pyspark.sql import Window

    shard = hash_bucket(F.col(id_col), shards, salt, method)
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    out = (df.withColumn("shard", shard)
           .withColumn("tok_offset",
                       F.coalesce(F.sum(token_col).over(w),
                                  F.lit(0)).cast("long")))
    return (out
            .withColumn("seq_no",
                        (F.col("tok_offset") / capacity)
                        .cast("long"))
            .withColumn("seq_offset",
                        F.pmod(F.col("tok_offset"), F.lit(capacity))
                        .cast("long"))
            .withColumn("spans_boundary",
                        (F.col("seq_offset") + F.col(token_col)
                         > F.lit(capacity))))


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_tokens: int = 512,
                    overlap: int = 64, joiner: str = " ") -> DataFrame:
    """Sliding-window sequence chunking (context-window prep for
    training / embedding / RAG ingestion): split each document's
    whitespace tokens into windows of `chunk_tokens` with `overlap`
    tokens shared between consecutive windows.

    Window i covers token positions [i*stride, i*stride + chunk_tokens)
    with stride = chunk_tokens - overlap; a window beyond the first is
    emitted only if it contributes >= 1 NEW token (the canonical
    "skip windows fully contained in the previous one" rule), so the
    last index is (n - overlap - 1) div stride for n > overlap, else 0.
    Empty/NULL documents emit zero chunks. Output: (id_col, chunk_id,
    chunk_tokens, chunk_text) — chunk_text rebuilds the window joined
    by `joiner`, chunk_tokens is the window's actual token count (the
    final window is usually short).

    Scale design: ZERO shuffles — one text scan materializes the token
    array once per doc, Generate explode(sequence(0, i_max)) fans out
    the window indices, and every output row is a pure slice/array_join
    projection (whole-stage codegen end to end). At 10^12 docs the op
    is embarrassingly parallel and output-bound; the ~overlap/stride
    byte amplification is the documented price of windowing.
    """
    if overlap < 0 or chunk_tokens <= overlap:
        raise ValueError(
            f"need chunk_tokens > overlap >= 0, got "
            f"chunk_tokens={chunk_tokens} overlap={overlap}")
    stride = chunk_tokens - overlap
    words = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda w: w != "")
    base = (df.withColumn("_ck_words", words)
              .withColumn("_ck_n", F.size("_ck_words"))
              .filter(F.col("_ck_n") > 0))
    # integer floor-division via floor(double): token counts are far
    # below 2^53, so the double quotient is exact in both engines
    i_max = F.when(
        F.col("_ck_n") > overlap,
        F.floor((F.col("_ck_n") - F.lit(overlap) - 1) / F.lit(stride))
    ).otherwise(F.lit(0)).cast("int")
    out = base.withColumn("chunk_id", F.explode(F.sequence(F.lit(0),
                                                           i_max)))
    sl = F.slice(F.col("_ck_words"),
                 F.col("chunk_id") * F.lit(stride) + F.lit(1),
                 F.lit(chunk_tokens))
    return out.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(sl).cast("long").alias("chunk_tokens"),
        F.array_join(sl, joiner).alias("chunk_text"))


def shard_assign(df: DataFrame, key_col: str, n_shards: int = 1024,
                 salt: int = 0, method: str = "xxhash64") -> DataFrame:
    """Deterministic training-shuffle shard assignment: adds
    (shard, pos) per row — shard = hash(key, salt) mod n_shards, pos =
    0-based rank within the shard by (hash, key). Writing the corpus
    ordered by (shard, pos) is the reproducible global shuffle a
    training run reads back (WebDataset/TFRecord-style shards): the
    permutation depends only on (key, salt) — never on cluster size,
    input partitioning, or task retries — and a new salt is a fresh
    epoch-level reshuffle.

    Scale design: ONE exchange keyed on the shard id, then a per-shard
    sort — n_shards independent sort groups (pick n_shards ~
    corpus_bytes / target_shard_bytes so each group sorts a few GB on
    one task); the hash ordering INSIDE the shard is what de-clusters
    crawl locality: adjacent URLs land in different shards AND far
    apart within any one shard. method='lcg' is the oracle-checkable
    twin of the xxhash64 production path (hash_bucket's contract).
    """
    from pyspark.sql.window import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if method == "lcg":
        # full 31-bit LCG value (buckets = modulus => identity bucket)
        pri = hash_bucket(F.col(key_col), _LCG_M, salt, "lcg")
    else:
        pri = F.xxhash64(F.col(key_col), F.lit(salt))
    out = (df.withColumn("_sh_pri", pri)
             .withColumn("shard",
                         F.pmod(F.col("_sh_pri"), F.lit(n_shards))
                         .cast("long")))
    w = Window.partitionBy("shard").orderBy("_sh_pri", key_col)
    return (out.withColumn(
                "pos", (F.row_number().over(w) - 1).cast("long"))
            .drop("_sh_pri"))


# ---------------------------------------------------------------------------
# Unicode / whitespace text normalization (ftfy-lite cleaning pass)
# ---------------------------------------------------------------------------

# Ordered RE2 rules applied after NFC. RE2 on BOTH sides of the contract
# (Arrow's replace_substring_regex here, DuckDB's regexp_replace in the
# oracle), with explicit character classes — never '\s', whose meaning
# differs between regex engines. Order matters and is load-bearing:
# CR/LF first (so the control-strip class need not handle \r), controls
# before whitespace collapse (a stripped control must not glue two
# spaces into a preserved run), space collapse before newline-padding
# (so ' ?\n ?' only ever sees a single bordering space).
NORM_RULES: list[tuple[str, str]] = [
    (r"\r\n?", "\n"),                             # CRLF / lone CR -> LF
    (r"[\x{00A0}\x{2007}\x{202F}]", " "),         # non-breaking spaces
    (r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""),    # C0/DEL except \t \n
    (r"[ \t]+", " "),                             # space/tab runs
    (r" ?\n ?", "\n"),                            # pad around newlines
    (r"\n{3,}", "\n\n"),                          # >=3 blank lines -> 1
]
NORM_TRIM = " \t\n"


def normalize_text(df: DataFrame, text_col: str = "text",
                   out_col: str = "text_norm", nfc: bool = True) -> DataFrame:
    """Unicode + whitespace normalization for raw webtext: NFC
    composition, CRLF/CR -> LF, non-breaking spaces -> space, C0/DEL
    control stripping (tabs and newlines survive as layout), space/tab
    run collapse, newline de-padding, blank-line-run capping, and edge
    trim — the cleanup pass (ftfy-lite / CCNet's pre-tokenization
    hygiene) that runs between HTML text extraction and quality
    scoring, so that langid/perplexity/dedup never disagree about two
    byte-representations of the same rendered text.

    Execution shape: ONE Arrow crossing (an ArrowEvalPython over the
    text column only), inside which every rule is a vectorized RE2
    kernel (pyarrow.compute.replace_substring_regex — C++, no per-row
    Python). NFC itself falls back to unicodedata.normalize (a C call)
    because this build's pyarrow utf8_normalize is a no-op — but only
    for rows an Arrow-side prescreen proves non-ASCII (NFC is the
    identity on ASCII), so the per-element C loop touches the
    non-ASCII minority only. Map-only: zero shuffles, text crosses to
    Python exactly once, and at 100 TB the column-pruned scan reads
    only `text`. NULL propagates (kernels are null-aware).

    Cross-engine exact: the oracle replays nfc_normalize + the same
    RE2 chain in DuckDB; Python's unicodedata and DuckDB's utf8proc
    agree on NFC (pinned for composition, singletons, and identity
    cases by tests), and both regex engines are RE2 with identical
    leftmost-nonoverlapping global replacement.
    """
    @F.pandas_udf(T.StringType())
    def _norm(s: pd.Series) -> pd.Series:
        import pyarrow as pa
        import pyarrow.compute as pc

        arr = pa.Array.from_pandas(s, type=pa.string())
        if nfc:
            # Arrow-side prescreen: NFC is the identity on pure-ASCII
            # strings, so only rows with a non-ASCII byte pay the
            # unicodedata call.
            import unicodedata
            needs = pc.match_substring_regex(arr, r"[^\x00-\x7F]")
            if pc.any(needs).as_py():
                idx = [i for i, f in enumerate(needs.to_pylist()) if f]
                vals = arr.to_pylist()
                for i in idx:
                    vals[i] = unicodedata.normalize("NFC", vals[i])
                arr = pa.array(vals, type=pa.string())
        for pat, rep in NORM_RULES:
            arr = pc.replace_substring_regex(arr, pattern=pat,
                                             replacement=rep)
        arr = pc.utf8_trim(arr, characters=NORM_TRIM)
        return arr.to_pandas()

    return df.withColumn(out_col, _norm(F.col(text_col)))


# ---------------------------------------------------------------------------
# Cross-document boilerplate line removal (per-domain nav/footer strip)
# ---------------------------------------------------------------------------


def remove_boilerplate_lines(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             group_col: str | None = None,
                             min_docs: int = 3) -> DataFrame:
    """Remove lines that repeat across >= min_docs DISTINCT documents
    (within `group_col` — typically the host/domain — when given):
    the RefinedWeb/CCNet boilerplate pass that strips navigation
    menus, cookie banners, and footers, which survive BOTH intra-doc
    repetition removal (dedupe_lines: the footer appears once per
    doc) and keep-first paragraph dedup (dedupe_paragraphs keeps it
    in ONE doc; boilerplate must leave in ALL docs).

    Matching key = md5 of the space-trimmed line; blank lines are
    never counted or removed (they are layout, not boilerplate).
    Line identity is per group: the same footer text under two hosts
    is two independent keys, so a small host never inherits a big
    host's flags.

    Output: (id, n_lines, n_boiler, text_clean) — text_clean rebuilt
    with the flagged positions dropped, remaining lines byte-intact
    in original order.

    Scale design: the mining side projects text to SLIM
    (id, group, pos, md5) rows immediately after the split — the
    tracked persist holds hashes, never line text — then one
    map-side-combined (group, key, id)-distinct count flags keys and
    one join back yields per-doc drop-position arrays ONLY for docs
    that contain boilerplate. The rebuild reads the original text
    column a second time (two columnar text READS, like the
    dedup-flags branch — at ingest, materialize the line-key table
    the way with_dup_fingerprint materializes text_crc32 to make
    this one read) and drops flagged positions with an indexed
    array filter in codegen: text crosses ZERO exchanges end to end;
    everything that shuffles is (group, 16-B hash, id, pos).
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    grp = (F.coalesce(F.col(group_col).cast("string"), F.lit(""))
           if group_col else F.lit(""))
    ln = df.select(F.col(id_col).alias("_id"), grp.alias("_g"),
                   F.posexplode(lines).alias("_pos", "_line"))
    ln = _track_persist(
        ln.filter(F.trim(F.col("_line")) != "")
          .select("_id", "_g", "_pos",
                  F.md5(F.trim(F.col("_line"))).alias("_key")))
    flags = (ln.groupBy("_g", "_key")
             .agg(F.count_distinct(F.col("_id")).alias("_df"))
             .filter(F.col("_df") >= min_docs)
             .select("_g", "_key"))
    hits = (ln.join(flags, ["_g", "_key"])
            .groupBy("_id")
            .agg(F.sort_array(F.collect_set("_pos")).alias("_drop")))
    base = df.select(F.col(id_col).alias("_id"), lines.alias("_lines"))
    out = (base.join(hits, "_id", "left")
           .withColumn("_drop", F.coalesce(
               F.col("_drop"), F.array().cast("array<int>"))))
    kept = F.filter(
        F.col("_lines"),
        lambda x, i: ~F.array_contains(F.col("_drop"), i))
    return out.select(
        F.col("_id").alias(id_col),
        F.size("_lines").cast("long").alias("n_lines"),
        F.size("_drop").cast("long").alias("n_boiler"),
        F.array_join(kept, "\n").alias("text_clean"))


def weighted_mix(df: DataFrame, group_col: str, key_col: str,
                 weights: dict[str, float], target_total: int | None = None,
                 salt: int = 0, method: str = "xxhash64",
                 buckets: int = 1_000_000,
                 weight_scale: int = 1_000_000) -> DataFrame:
    """Apply an EXPLICIT target mixture over groups (DoReMi-learned
    domain weights, or a hand-set recipe) as deterministic per-group
    downsampling.

    Where `temperature_sample` DERIVES the mixture from corpus sizes
    (p_g ∝ n_g^α), this operator takes the proportions as given —
    the output of a mixture optimizer (Xie et al. 2023, DoReMi) or a
    data card — and realizes the LARGEST corpus that satisfies them
    exactly: T = min_g floor(n_g · W / w_g) (the bottleneck group runs
    out first; every other group is downsampled to keep the ratios),
    optionally capped by `target_total`. Groups absent from `weights`
    (or with weight 0) are dropped; weighted groups absent from the
    corpus simply contribute no rows and do not constrain T.

    Cross-engine exactness: weights land on an integer lattice
    (w_g' = floor(w_g · weight_scale)); T and the per-group keep
    threshold `bucket < (T·w_g'·buckets) div (W'·n_g)` are evaluated
    in DECIMAL(38,0) integer division (`div` — see temperature_sample
    on why floor(a/b) is wrong), so a SQL oracle reproduces the kept
    set bit-for-bit. Keep rule primitive = hash_bucket, stable across
    runs, partitionings, and task retries.

    Scale design: one slim groupBy(group) count (bytes ∝ #groups), a
    broadcast weights table, one scalar min for T, and a broadcast
    threshold table applied as a pure map-side filter — document text
    never shuffles.
    """
    if not weights:
        raise ValueError("weights must be a non-empty {group: weight} dict")
    if any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be >= 0: {weights}")
    if target_total is not None and target_total <= 0:
        raise ValueError(f"target_total must be positive: {target_total}")
    spark = df.sparkSession
    lat = [(str(g), int(w * weight_scale)) for g, w in weights.items()
           if int(w * weight_scale) > 0]
    if not lat:
        raise ValueError("all weights rounded to 0 on the lattice; "
                         "raise weight_scale")
    wtab = spark.createDataFrame(lat, "`_g` string, `_w` long")
    counts = (df.groupBy(F.col(group_col).cast("string").alias("_g"))
              .agg(F.count(F.lit(1)).cast("long").alias("_n"))
              .join(F.broadcast(wtab), "_g"))
    dec = "decimal(38,0)"
    # tracked persist: feeds the W' sum, the T min, and the threshold
    # projection — three subtrees that would each replay the corpus
    # groupBy otherwise.
    counts = _track_persist(counts)
    wsum = counts.agg(F.sum("_w").cast("long").alias("_wsum"))
    with_tot = counts.crossJoin(F.broadcast(wsum))
    # T_g = n_g·W' div w_g' — the total the mixture could reach if g
    # were the bottleneck; T = min over groups (cap by target_total).
    # _T stays on the DECIMAL(38,0) lattice end to end — casting to
    # BIGINT could overflow for a tiny weight over a 10^12-row corpus
    # (T = n·W' div w' can exceed 2^63 while every downstream product
    # still fits decimal38).
    tmax = (with_tot
            .select(F.expr(f"(CAST(_n AS {dec}) * CAST(_wsum AS {dec})"
                           f" div CAST(_w AS {dec}))").alias("_t"))
            .agg(F.min("_t").alias("_T")))
    if target_total is not None:
        tmax = tmax.select(
            F.least(F.col("_T"),
                    F.lit(int(target_total)).cast(dec)).alias("_T"))
    num = (F.col("_T").cast(dec) * F.col("_w").cast(dec)
           * F.lit(int(buckets)).cast(dec))
    den = F.col("_wsum").cast(dec) * F.col("_n").cast(dec)
    thr = (with_tot.crossJoin(F.broadcast(tmax))
           .withColumn("_num", num)
           .withColumn("_den", den)
           .withColumn("_thr", F.expr("CAST((_num div _den) AS BIGINT)"))
           .select("_g", "_thr"))
    b = hash_bucket(F.col(key_col), buckets, salt, method)
    return (df.join(F.broadcast(thr),
                    F.col(group_col).cast("string").eqNullSafe(F.col("_g")),
                    "inner")
            .withColumn("bucket", b)
            .where(F.col("bucket") < F.col("_thr"))
            .drop("_g", "_thr"))


def split_leakage(df: DataFrame, split_col: str, text_col: str = "text",
                  normalize_ws: bool = True) -> DataFrame:
    """Cross-split contamination audit: for every pair of splits,
    how many distinct CONTENTS (md5 of the — optionally whitespace-
    normalized — text) appear in BOTH. The check that belongs after
    any split step (split_assign / stratified_sample): exact dedup
    before splitting guarantees zero leakage by construction, and this
    operator PROVES it — or measures the damage when dedup ran with a
    different normalization than the one training cares about.

    Output: (split_a, split_b, n_shared_contents, n_leaked_docs) with
    split_a < split_b; n_leaked_docs counts documents in EITHER split
    whose content also lives in the other (the rows a decontaminated
    rerun would drop or re-assign).

    Scale shape: one slim distinct over (split, md5) — text is hashed
    in the scan's projection and never shuffles — then a self-join on
    the 32-hex hash whose per-key fan-out is bounded by the number of
    splits (single digits), never by corpus size; doc counts ride on a
    pre-aggregated (split, hash, n_docs) relation, so the widest
    shuffle is ~50 bytes/distinct-content.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    if normalize_ws:
        txt = F.regexp_replace(F.trim(txt), r"\s+", " ")
    slim = (df.select(F.col(split_col).cast("string").alias("_s"),
                      F.md5(F.encode(txt, "UTF-8")).alias("_h"))
            .groupBy("_s", "_h")
            .agg(F.count(F.lit(1)).cast("long").alias("_n")))
    a = slim.select(F.col("_s").alias("split_a"), "_h",
                    F.col("_n").alias("_na"))
    b = slim.select(F.col("_s").alias("split_b"),
                    F.col("_h").alias("_h2"),
                    F.col("_n").alias("_nb"))
    return (a.join(b, (F.col("_h") == F.col("_h2"))
                   & (F.col("split_a") < F.col("split_b")))
            .groupBy("split_a", "split_b")
            .agg(F.count(F.lit(1)).cast("long")
                  .alias("n_shared_contents"),
                 F.sum(F.col("_na") + F.col("_nb")).cast("long")
                  .alias("n_leaked_docs")))


def url_pattern_filter(df: DataFrame, patterns: list[str],
                       url_col: str = "url", mode: str = "block",
                       tag_col: str | None = "url_block_reason"
                       ) -> DataFrame:
    """UT1-blocklist-style URL pattern filtering: drop (mode='block')
    or keep (mode='allow') rows whose url matches ANY of the regex
    `patterns` — the path/query-level complement of host_blocklist
    (adult/gambling path stems, session-id querystrings, calendar
    archives, print/feed variants).

    With `tag_col` set (block mode), matching rows are NOT dropped but
    tagged with the FIRST matching pattern (audit mode — count rule
    hits before committing to a drop list); tag_col=None drops them.

    Execution: the bank compiles to ONE alternation regex evaluated by
    a single codegen rlike per row — no UDF, no join, zero shuffles;
    the first-match tag is a short CASE chain only in audit mode.
    Patterns should stay in the Java∩RE2 subset (see operators/html)
    so a SQL twin replays them; they are applied case-insensitively.
    """
    if mode not in ("block", "allow"):
        raise ValueError(f"mode must be 'block' or 'allow': {mode}")
    if not patterns:
        raise ValueError("patterns must be non-empty")
    url = F.coalesce(F.col(url_col), F.lit(""))
    big = "(?is)" + "|".join(f"(?:{p})" for p in patterns)
    hit = url.rlike(big)
    if mode == "allow":
        return df.where(hit)
    if tag_col is None:
        return df.where(~hit)
    tag = F.lit(None).cast("string")
    for p in reversed(patterns):
        tag = F.when(url.rlike(f"(?is){p}"), F.lit(p)).otherwise(tag)
    return df.withColumn(tag_col, tag)


def cap_per_group(df: DataFrame, group_col: str, key_col: str,
                  max_docs: int, priority_col: str | None = None,
                  salt: int = 0) -> DataFrame:
    """Keep at most `max_docs` documents per group (host/domain) — the
    Gopher-style anti-spam cap that stops one boilerplate-heavy or
    SEO-generated domain from dominating the corpus.

    Which docs survive is deterministic: rank within the group by
    `priority_col` DESC (keep the best-scoring) when given, else by
    the salted hash of `key_col` (an unbiased uniform cap, stable
    across runs and retries); `key_col` breaks all ties, so the kept
    set is unique regardless of partitioning.

    Scale shape: ONE hash-partitioned window keyed by the group —
    per-group state, never a global sort; with text in the row the
    window shuffle carries it once, so for a 100-TB corpus run this
    on a slim (group, key, priority) projection and anti-join the
    drop list back (same recipe as the url-dedup drop-list shape).
    """
    from pyspark.sql.window import Window

    if max_docs <= 0:
        raise ValueError(f"max_docs must be positive: {max_docs}")
    if priority_col is not None:
        order = [F.col(priority_col).desc_nulls_last(),
                 F.col(key_col).asc()]
    else:
        order = [F.xxhash64(F.col(key_col), F.lit(salt)).asc(),
                 F.col(key_col).asc()]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= max_docs)
            .drop("_rk"))


SENTENCE_BOUNDARY = r"""([.!?]+["')\]]*)\s+"""
_SENT_SEP = "\x1e"


def split_sentences(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Rule-based sentence segmentation: a boundary is a run of
    terminal punctuation ([.!?]+), optional closing quotes/brackets,
    then whitespace — the deterministic grain change between document-
    and sentence-level processing (sentence dedup, sentence-granular
    packing, per-sentence langid).

    Mechanism: ONE regexp_replace inserts a 0x1E record separator
    after each boundary (capture-group replacement — `$1` on the Java
    side, `\\1` in an RE2 twin; the PATTERN is shared and lookaround-
    free, so both engines find identical boundaries), then a split +
    filter('') + posexplode. Inter-sentence whitespace is consumed by
    the boundary; inner whitespace is byte-preserved. Abbreviation
    periods ("Dr. Smith") DO split — documented rule-based behavior,
    not a defect; plug a smarter boundary regex via SENTENCE_BOUNDARY
    if the corpus needs it.

    Output: (id, sentence_id 0-based in document order, sentence).
    Pure codegen, zero shuffles; empty/NULL text yields no rows.
    """
    marked = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")),
        SENTENCE_BOUNDARY, "$1" + _SENT_SEP)
    sents = F.filter(F.split(marked, _SENT_SEP),
                     lambda s: s != F.lit(""))
    return (df.select(F.col(id_col), sents.alias("_s"))
            .select(id_col,
                    F.posexplode("_s").alias("sentence_id", "sentence"))
            .withColumn("sentence_id",
                        F.col("sentence_id").cast("long")))
