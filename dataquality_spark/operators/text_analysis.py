"""Text-analysis operators for training-data curation, all JVM-side.

* token_counts — whitespace tokens + a BPE-ish subword proxy count
  (regex segmentation into letter-runs/digit-runs/punct) — the standard
  pre-tokenizer shape (GPT-2 style), enough for token budgeting.
* quality_score — C4/Gopher-flavored 0-1 score from length, punctuation
  density and stopword density (reference validity dimension,
  /root/reference/DataQuality_AI_CaseStudy.md:139-142).
* langid_vote — deterministic stopword-vote language ID (consistency
  dimension, CaseStudy.md:134-137): count per-language stopword matches,
  argmax with a fixed precedence order. Pure Catalyst expressions —
  the pipeline's hashed-n-gram model (functions/langid.py) is the
  higher-accuracy Arrow-UDF variant; this one is the SQL-parity-checkable
  heuristic.
* fingerprints — md5 content fingerprint + 64-bit polynomial rolling
  hash over words (shift-invariant doc signature for fast prefiltering).

Everything here is a single projection — no shuffle, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import config as C
from ..caching import track_persist as _track_persist

# BPE-ish pre-tokenization: letter runs, digit runs, single punct marks.
BPEISH_REGEX = r"[A-Za-zÀ-ɏ]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_CHARS = ".,;:!?"


def _words(text: Column) -> Column:
    return F.filter(F.split(F.coalesce(text, F.lit("")), r"\s+"),
                    lambda w: w != "")


def word_ngrams(words: Column, n: int, f=None) -> Column:
    """Array of the word n-grams of `words` in order, each space-joined
    and mapped through `f` (a Column → Column function; default: the
    gram string itself). Empty for docs with fewer than n words.

    Built from n shifted slices zipped together, so `words` is
    evaluated a fixed number of times per doc. Higher-order-function
    lambdas run interpreted and re-evaluate any Column they reference
    once per element: slicing `words` inside a per-position lambda
    re-splits the text once per gram (quadratic in doc length)."""
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(words, j + 1, k) for j in range(n)])
    f = f or (lambda g: g)
    return F.transform(zipped, lambda z: f(
        F.concat_ws(" ", *[z[str(j)] for j in range(n)])))


def md5_60(s: Column) -> Column:
    """60-bit md5 prefix of a string as a positive BIGINT — the
    SQL-portable gram hash (DuckDB reproduces
    conv(substr(md5(s),1,15),16,10) bit-identically via a hex cast)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_ws_tokens (whitespace) and n_bpeish_tokens (subword proxy)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    return (df
            .withColumn("n_ws_tokens",
                        F.size(_words(F.col(text_col))).cast("long"))
            .withColumn("n_bpeish_tokens",
                        F.regexp_count(text, F.lit(BPEISH_REGEX))
                        .cast("long")))


def quality_score(df: DataFrame, text_col: str = "text",
                  lang: str = "en") -> DataFrame:
    """Adds word_count, mean_word_len, punct_ratio, stopword_frac and a
    composite quality_score in [0,1] (rounded to 4 dp).

    score = 0.4·min(words/100,1) + 0.3·stopword_frac_clamped/0.4
          + 0.3·(1 − min(punct_ratio/0.2, 1))
    Fixed left-to-right double arithmetic — reproducible bit-for-bit.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = _words(F.col(text_col))
    n = F.size(words).cast("double")
    total_chars = F.aggregate(words, F.lit(0).cast("long"),
                              lambda a, w: a + F.length(w)).cast("double")
    n_punct = (F.length(text)
               - F.length(F.translate(text, PUNCT_CHARS, ""))).cast("double")
    stop = [w for w in C.STOPWORDS.get(lang, C.ALL_STOPWORDS)]
    n_stop = F.size(F.filter(words,
                             lambda w: F.lower(w).isin(stop))).cast("double")
    safe_n = F.when(n > 0, n).otherwise(F.lit(1.0))
    word_count = n.cast("long")
    mean_wl = F.round(total_chars / safe_n, 4)
    punct_ratio = F.round(n_punct / safe_n, 4)
    stop_frac = F.round(n_stop / safe_n, 4)
    score = F.round(
        F.least(n / 100.0, F.lit(1.0)) * 0.4
        + F.least(n_stop / safe_n, F.lit(0.4)) / 0.4 * 0.3
        + (1.0 - F.least((n_punct / safe_n) / 0.2, F.lit(1.0))) * 0.3, 4)
    return (df.withColumn("word_count", word_count)
            .withColumn("mean_word_len", mean_wl)
            .withColumn("punct_ratio", punct_ratio)
            .withColumn("stopword_frac", stop_frac)
            .withColumn("quality_score",
                        F.when(n > 0, score).otherwise(F.lit(0.0))))


def langid_vote(df: DataFrame, text_col: str = "text",
                langs: list[str] | None = None) -> DataFrame:
    """Adds lang_votes_<l> per language and lang_pred (argmax, ties by
    fixed order config.LANGS; all-zero votes → 'und')."""
    langs = langs or C.LANGS
    words = _words(F.col(text_col))

    def _stop_filter(sw):
        # single-arg lambda factory: a default-arg closure would make the
        # higher-order filter see TWO parameters and bind the array index
        # to the stopword list.
        return lambda w: F.lower(w).isin(sw)

    votes = {}
    for l in langs:
        votes[l] = F.size(F.filter(words,
                                   _stop_filter(C.STOPWORDS[l]))).cast("long")
    out = df
    for l in langs:
        out = out.withColumn(f"lang_votes_{l}", votes[l])
    # argmax with fixed precedence (earlier lang wins ties): lang l takes
    # the prediction only if its votes strictly exceed the running max.
    pred_expr = F.lit("und")
    taken = F.lit(0).cast("long")
    for l in langs:
        v = F.col(f"lang_votes_{l}")
        pred_expr = F.when(v > taken, F.lit(l)).otherwise(pred_expr)
        taken = F.greatest(taken, v)
    out = out.withColumn("lang_pred_vote", pred_expr)
    return out


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds fingerprint_md5 (hex), fingerprint_roll (order-sensitive
    chained xxhash64 fold over the word array: acc = xxhash64(acc, word)
    — overflow-free under ANSI mode, pure JVM, word-order dependent) and
    fingerprint_roll_md5 (the SQL-portable twin: acc = md5(acc || word),
    init '' — DuckDB reproduces it hex-identically via list_reduce, so
    the chained-fold arithmetic itself is oracle-checkable; the xxhash64
    variant stays the fast production path)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = _words(F.col(text_col))
    roll = F.aggregate(
        words, F.lit(1469598103934665603).cast("long"),
        lambda acc, w: F.xxhash64(acc, w))
    roll_md5 = F.aggregate(words, F.lit(""),
                           lambda acc, w: F.md5(F.concat(acc, w)))
    return (df.withColumn("fingerprint_md5", F.md5(text))
              .withColumn("fingerprint_roll", roll)
              .withColumn("fingerprint_roll_md5", roll_md5))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5, w: int = 4,
                        portable_hash: bool = False) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word k-gram
    positionally, slide a window of w consecutive hashes, select the
    minimum of each full window (RIGHTMOST position on hash ties, per
    the paper), and return the distinct selections
    (id, pos, fp_hash). Guarantee: two documents sharing any run of
    ≥ w+k-1 words share at least one fingerprint, while only ~2/(w+1)
    of positions are selected — a position-aware near-dup/overlap
    index at a fraction of the full shingle set's size.

    Plan shape: posexplode (narrow) → running window per doc (ONE
    shuffle on id — and none at all when the corpus is already
    hash-partitioned by id) → distinct on the selected triples. The
    window state is w rows of (long, long); text never shuffles.

    `portable_hash=True` swaps xxhash64 for the 36-bit md5-prefix twin
    (conv(substr(md5(gram),1,9),16,10)) that DuckDB reproduces
    bit-identically — the contract-oracle path, same selection logic.
    Rightmost-tie selection uses min over struct(hash, -pos): Spark
    orders structs field-lexicographically, so ties on hash fall to
    the smallest -pos = the rightmost gram.
    """
    from pyspark.sql import Window

    grams = word_ngrams(_words(F.col(text_col)), k)
    g = (df.select(F.col(id_col).alias("id"), grams.alias("grams"))
         .where(F.size("grams") > 0)
         .select("id", F.posexplode("grams").alias("pos", "gram")))
    if portable_hash:
        h = F.conv(F.substring(F.md5(F.col("gram")), 1, 9), 16, 10) \
             .cast("long")
    else:
        h = F.xxhash64("gram")
    g = g.select("id", "pos", h.alias("h"))

    win = Window.partitionBy("id").orderBy("pos") \
                .rowsBetween(Window.currentRow, w - 1)
    sel = (g.select(
            "id",
            F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np")))
             .over(win).alias("m"),
            F.count(F.lit(1)).over(win).alias("full"))
           .where(F.col("full") == w)
           .select("id", (-F.col("m.np")).alias("pos"),
                   F.col("m.h").alias("fp_hash"))
           .distinct())
    return sel


def top_ngram_frac(df: DataFrame, text_col: str = "text",
                   n: int = 2) -> DataFrame:
    """Gopher-style repetition statistic: the fraction of word n-gram
    occurrences taken by the single most frequent n-gram (Rae et al.
    2021 drop docs whose top 2-gram exceeds ~0.2 of the text).

    Adds: n_ngrams (total, NON-distinct), top_ngram_count,
    top_ngram_frac (rounded to 6 dp; 0.0 for docs with < n words).

    Scale design: a pure projection — the n-gram multiset is built and
    md5-hashed per row, sorted in-array, and the longest equal run is
    found with one aggregate fold (O(L log L) per doc, zero shuffle;
    the array functions run interpreted, outside whole-stage codegen).
    The relational formulation (explode → groupBy(doc, gram)) would
    shuffle every n-gram occurrence in the corpus; the oracle uses it
    at test scale to cross-check the fold.
    md5-derived 60-bit gram hashes keep the oracle portable
    (dedup.md5_shingle_hashes rationale).
    """
    sorted_g = F.sort_array(word_ngrams(_words(F.col(text_col)), n, md5_60))

    def _merge(acc, x):
        run = (F.when(acc["prev"].isNull() | (acc["prev"] != x),
                      F.lit(1).cast("long"))
               .otherwise(acc["run"] + F.lit(1).cast("long")))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    acc0 = F.struct(F.lit(None).cast("long").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("best"))
    best = F.aggregate(sorted_g, acc0, _merge, lambda a: a["best"])
    total = F.size(sorted_g).cast("long")
    return (df.withColumn("n_ngrams", total)
              .withColumn("top_ngram_count", best)
              .withColumn("top_ngram_frac",
                          F.round(F.when(total > 0,
                                         best / total.cast("double"))
                                  .otherwise(F.lit(0.0)), 6)))


def vocab_coverage(df: DataFrame, vocab: DataFrame,
                   text_col: str = "text", id_col: str = "doc_id",
                   word_col: str = "word") -> DataFrame:
    """Out-of-vocabulary rate per document against a reference
    vocabulary relation — the CCNet-style coverage signal (docs whose
    token occurrences mostly fall outside the corpus/base-LM vocab are
    boilerplate, code, or the wrong register). Composes with
    corpus_top_ngrams(n=1): vocab = the corpus's own top-k unigrams.

    Returns (id_col, n_tokens_v, n_oov, oov_frac) — occurrence-level
    (a repeated OOV word counts every time), empty docs → 0/0/0.0.

    Scale design: vocab is bounded (top-k) → BROADCAST hash join on the
    exploded words, so membership is map-side; the per-doc re-agg
    shuffles one (id, partial counts) row per doc per partition. Text
    itself never shuffles; the explode is slim (id, word)."""
    w = df.select(F.col(id_col), F.explode_outer(_words(F.col(text_col)))
                  .alias("_w"))
    v = vocab.select(F.col(word_col).alias("_w")).distinct() \
             .withColumn("_in", F.lit(1))
    counted = (w.join(F.broadcast(v), "_w", "left")
               .groupBy(id_col)
               .agg(F.count("_w").alias("n_tokens_v"),
                    F.sum(F.when(F.col("_w").isNotNull()
                                 & F.col("_in").isNull(), 1)
                          .otherwise(0)).alias("n_oov")))
    return (counted
            .withColumn("n_tokens_v", F.col("n_tokens_v").cast("long"))
            .withColumn("n_oov", F.col("n_oov").cast("long"))
            .withColumn("oov_frac",
                        F.round(F.when(F.col("n_tokens_v") > 0,
                                       F.col("n_oov").cast("double")
                                       / F.col("n_tokens_v")
                                       .cast("double"))
                                .otherwise(F.lit(0.0)), 6)))


def char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Shannon character entropy (nats) per document — the gibberish /
    compressibility quality signal (low entropy = repeated filler,
    ASCII art, pad tokens; high ≈ 4.2+ on random base64-ish noise;
    clean English prose sits ~2.9-3.3).

    Adds: n_chars_ent (codepoints), n_distinct_chars, char_entropy
    (rounded to 6 dp; 0.0 for empty text).

    H = ln(n) − (Σ c·ln c)/n over per-character counts c. Scale: a pure
    projection — per-doc in-array sort + one run-length fold (codegen,
    O(L log L), no shuffle). Deterministic float math: the Σ c·ln c
    fold runs left-to-right in sorted-character order from 0.0 on both
    engines (the DuckDB oracle replays it with ORDER BY char +
    list_reduce), so values agree bit-for-bit before the ROUND.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    chars = F.sort_array(F.filter(F.split(text, ""),
                                  lambda c: c != ""))
    n = F.size(chars).cast("long")

    def _merge(acc, x):
        boundary = acc["prev"].isNull() | (acc["prev"] != x)
        flushed = (acc["acc"]
                   + F.when(boundary & (acc["run"] > 0),
                            acc["run"].cast("double")
                            * F.log(acc["run"].cast("double")))
                   .otherwise(F.lit(0.0)))
        run = F.when(boundary, F.lit(1).cast("long")) \
               .otherwise(acc["run"] + 1)
        return F.struct(x.alias("prev"), run.alias("run"),
                        flushed.alias("acc"))

    acc0 = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0.0).alias("acc"))
    sum_clnc = F.aggregate(
        chars, acc0, _merge,
        lambda a: a["acc"] + F.when(
            a["run"] > 0,
            a["run"].cast("double") * F.log(a["run"].cast("double")))
        .otherwise(F.lit(0.0)))
    # distinct count via the same runs: boundaries in the sorted array
    distinct = F.size(F.array_distinct(chars)).cast("long")
    h = F.when(n > 0,
               F.log(n.cast("double")) - sum_clnc / n.cast("double")) \
         .otherwise(F.lit(0.0))
    return (df.withColumn("n_chars_ent", n)
              .withColumn("n_distinct_chars", distinct)
              .withColumn("char_entropy", F.round(h, 6)))


def corpus_top_ngrams(df: DataFrame, text_col: str = "text",
                      n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-level n-gram heavy hitters: exact top-k word n-grams by
    total (non-distinct) occurrence count, ties broken gram-ascending —
    the vocabulary/boilerplate-phrase discovery pass (find the nav-bar
    and cookie-banner phrases worth filtering corpus-wide).

    Output: (ngram, n_occurrences) — k rows.

    Scale design: explode feeds a hash aggregate whose PARTIAL (map
    side) combine collapses each partition to one row per distinct gram
    before the exchange, and the final ordering is
    TakeOrderedAndProject (k rows per partition reach the driver-side
    merge — never a global sort). At 10^12 docs the gram key space
    itself is the cost: bound it first (count-min prefilter or
    stop-gram cap) — the exact semantics here stay the ground truth."""
    grams = word_ngrams(_words(F.col(text_col)), n)
    return (df.select(F.explode(grams).alias("ngram"))
            .groupBy("ngram")
            .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("ngram")).limit(k))


def _seg_dup_stats(segs: Column) -> tuple[Column, Column, Column]:
    """(n, dup_frac, dup_char_frac) over a segment array: occurrences
    beyond the first of each distinct segment count as duplicates, both
    by segment count and by character mass."""
    n = F.size(segs).cast("long")
    distinct = F.array_distinct(segs)
    nd = F.size(distinct).cast("long")
    zero = F.lit(0).cast("long")
    tot = F.aggregate(segs, zero,
                      lambda a, x: a + F.length(x).cast("long"))
    dist_chars = F.aggregate(distinct, zero,
                             lambda a, x: a + F.length(x).cast("long"))
    dup_frac = F.round(
        F.when(n > 0, (n - nd).cast("double") / n.cast("double"))
         .otherwise(F.lit(0.0)), 6)
    dup_char_frac = F.round(
        F.when(tot > 0, (tot - dist_chars).cast("double")
               / tot.cast("double"))
         .otherwise(F.lit(0.0)), 6)
    return n, dup_frac, dup_char_frac


def _top_gram_cover(sorted_grams: Column) -> Column:
    """Character mass of the most frequent gram: count × char length,
    ties on count broken toward the longer gram (then the product is
    tie-free). One fold over the sorted gram array — O(L) after the
    O(L log L) sort, zero shuffle."""
    def _merge(a, x):
        run = (F.when(a["prev"].isNull() | (a["prev"] != x),
                      F.lit(1).cast("long"))
               .otherwise(a["run"] + F.lit(1).cast("long")))
        ln = F.length(x).cast("long")
        better = (run > a["bc"]) | ((run == a["bc"]) & (ln > a["bl"]))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.when(better, run).otherwise(a["bc"]).alias("bc"),
            F.when(better, ln).otherwise(a["bl"]).alias("bl"))

    acc0 = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("bc"),
                    F.lit(0).cast("long").alias("bl"))
    return F.aggregate(sorted_grams, acc0, _merge,
                       lambda a: a["bc"] * a["bl"])


def _dup_gram_chars(sorted_grams: Column) -> Column:
    """struct(dup, tot) char mass over gram OCCURRENCES: every
    occurrence of a gram that appears more than once contributes its
    char length to the duplicated mass (including the first occurrence,
    which is charged retroactively when the second arrives)."""
    def _merge(a, x):
        run = (F.when(a["prev"].isNull() | (a["prev"] != x),
                      F.lit(1).cast("long"))
               .otherwise(a["run"] + F.lit(1).cast("long")))
        ln = F.length(x).cast("long")
        add = (F.when(run == 2, ln + ln)
               .when(run > 2, ln)
               .otherwise(F.lit(0).cast("long")))
        return F.struct(x.alias("prev"), run.alias("run"),
                        (a["dup"] + add).alias("dup"),
                        (a["tot"] + ln).alias("tot"))

    acc0 = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("dup"),
                    F.lit(0).cast("long").alias("tot"))
    return F.aggregate(sorted_grams, acc0, _merge,
                       lambda a: F.struct(a["dup"].alias("dup"),
                                          a["tot"].alias("tot")))


def _validate_terms(terms: list[str]) -> None:
    if not terms:
        raise ValueError("terms must be non-empty")
    if len(set(terms)) != len(terms):
        raise ValueError("terms must be distinct")


def _bm25_score(n_terms: int, k1: float, b: float) -> Column:
    """BM25 sum over tf_0..tf_{n-1} / df_0..df_{n-1} / dl / avgdl /
    n_docs columns, accumulated in FIXED term order (float addition is
    non-associative — both engines must add in the same order)."""
    score = F.lit(0.0)
    for i in range(n_terms):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(F.lit(1.0)
                    + ((F.col("n_docs") - F.col(f"df_{i}")).cast("double")
                       + F.lit(0.5))
                    / (F.col(f"df_{i}").cast("double") + F.lit(0.5)))
        norm = tf + F.lit(k1) * (F.lit(1.0 - b)
                                 + F.lit(b) * F.col("dl").cast("double")
                                 / F.col("avgdl"))
        score = score + idf * tf * F.lit(k1 + 1.0) / norm
    return score


def bm25_topk(df: DataFrame, terms: list[str], text_col: str = "text",
              id_col: str = "doc_id", k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              lowercase: bool = True) -> DataFrame:
    """BM25 full-scan retrieval: score every document against a bounded
    bag of query terms (Robertson/Lucene idf:
    ln(1 + (N - df + 0.5)/(df + 0.5))) and return the top k by rounded
    score, ties broken id-ascending.

    Output: (id_col, dl, tf_<term>..., bm25) — k rows; tf columns are
    exact BIGINTs, bm25 rounded to 6 dp.

    Scale design: the text column is scanned ONCE into a slim
    projection (id, dl, per-term tf — text survives zero operators);
    the projection is tracked-persisted (~8 B × (2+|terms|) per doc —
    ~5% of typical web-text bytes) because BOTH the scoring branch and
    the stats aggregate consume it: without the persist Catalyst
    re-derives each branch from the parquet scan and the corpus text
    is read twice (observed in the physical plan). Corpus stats
    (N, avgdl, per-term df) are ONE tree-aggregated row cross-joined
    back via broadcast; the ranking is TakeOrderedAndProject (k rows
    per partition to the driver merge — never a global sort). Callers
    release the cache via `dataquality_spark.caching.unpersist_all()`
    like the dedup/decontaminate passes. At 10^12 docs this is the
    honest cold-query cost; a repeated-query workload should
    materialize an inverted index ((term, doc, tf) posting lists)
    instead — this operator is the index builder's scoring ground
    truth.
    """
    _validate_terms(terms)
    text = F.coalesce(F.col(text_col), F.lit(""))
    if lowercase:
        text = F.lower(text)
        terms = [t.lower() for t in terms]
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")

    def _eq(term):
        # bind via closure — a 2-param lambda would receive the array
        # INDEX as its second argument, clobbering a `t=t` default
        lit = F.lit(term)
        return lambda w: w == lit

    proj = _track_persist(df.select(
        F.col(id_col),
        F.size(words).cast("long").alias("dl"),
        *[F.size(F.filter(words, _eq(t)))
          .cast("long").alias(f"tf_{i}")
          for i, t in enumerate(terms)]))
    # avgdl from the EXACT integer token total (not F.avg, whose
    # double partial sums are accumulation-order-dependent) — one
    # deterministic double division, bit-identical across engines.
    stats = proj.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(terms))])
    stats = stats.withColumn(
        "avgdl", F.col("sum_dl").cast("double")
        / F.col("n_docs").cast("double"))
    scored = proj.crossJoin(F.broadcast(stats))
    out = scored.withColumn(
        "bm25", F.round(_bm25_score(len(terms), k1, b), 6))
    sel = [F.col(id_col), F.col("dl")]
    sel += [F.col(f"tf_{i}").alias(f"tf_{t}")
            for i, t in enumerate(terms)]
    sel += [F.col("bm25")]
    return (out.select(*sel)
            .orderBy(F.desc("bm25"), F.asc(id_col)).limit(k))


def bm25_build_postings(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", lowercase: bool = True,
                        term_partitions: int | None = None
                        ) -> tuple[DataFrame, DataFrame]:
    """Build the inverted index bm25_topk's docstring promises for
    repeated-query workloads: posting lists (term, doc_id, tf, dl) plus
    a one-row corpus-stats frame (n_docs, sum_dl).

    dl is DENORMALIZED into every posting (Lucene stores per-doc norms
    with the postings for the same reason): the query path then scores
    matching postings without ever joining back to a doc-length table.

    Scale design: one text scan → explode → groupBy(term, doc_id) with
    map-side combine (tf partials collapse before the shuffle; shuffle
    rows ≈ distinct (term, doc) pairs, bytes ≈ 30/pair — the text
    itself never shuffles). Pass term_partitions to hash-cluster the
    output by term before writing, so a query's `term IN (...)` prunes
    to the handful of files holding those terms. Corpus stats are a
    separate slim aggregate because empty docs (dl=0) never reach the
    postings yet still count toward n_docs/avgdl.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    if lowercase:
        text = F.lower(text)
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    base = df.select(F.col(id_col), words.alias("words"))
    postings = (base
                .select(F.col(id_col),
                        F.size("words").cast("long").alias("dl"),
                        F.explode("words").alias("term"))
                .groupBy("term", id_col)
                .agg(F.count(F.lit(1)).cast("long").alias("tf"),
                     F.max("dl").alias("dl")))
    if term_partitions is not None:
        postings = postings.repartition(term_partitions, "term")
    doc_stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.size("words").cast("long")),
                   F.lit(0).cast("long")).alias("sum_dl"))
    return postings, doc_stats


def bm25_topk_postings(postings: DataFrame, doc_stats: DataFrame,
                       terms: list[str], id_col: str = "doc_id",
                       k: int = 10, k1: float = 1.2, b: float = 0.75,
                       lowercase: bool = True) -> DataFrame:
    """BM25 retrieval over a materialized inverted index (the
    repeated-query scale path — bm25_topk rescans all text per query;
    this touches ONLY the query terms' posting lists).

    Output: identical schema and scores to bm25_topk, restricted to
    documents matching ≥1 query term (an inverted index never sees
    zero-match docs; their full-scan score is exactly 0.0).

    Scale design: `term IN (...)` prunes the index scan to the query
    terms (partition/file pruning when the index was written clustered
    by term); the ≤|terms| surviving postings per doc pivot into fixed
    tf_i columns via ONE hash aggregate keyed on doc_id (integer sums —
    exact regardless of accumulation order); per-term df and the
    corpus stats broadcast as one row; ranking is
    TakeOrderedAndProject. The float score re-accumulates in the same
    fixed term order as bm25_topk, so scores are bit-identical.
    """
    _validate_terms(terms)
    if lowercase:
        terms = [t.lower() for t in terms]
    hit = postings.filter(F.col("term").isin(terms))
    pivoted = hit.groupBy(F.col(id_col)).agg(
        F.max("dl").alias("dl"),
        *[F.sum(F.when(F.col("term") == t, F.col("tf"))
                .otherwise(F.lit(0))).cast("long").alias(f"tf_{i}")
          for i, t in enumerate(terms)])
    qstats = pivoted.agg(
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(terms))])
    stats = (doc_stats.crossJoin(F.broadcast(qstats))
             .withColumn("avgdl", F.col("sum_dl").cast("double")
                         / F.col("n_docs").cast("double")))
    scored = pivoted.crossJoin(F.broadcast(stats))
    out = scored.withColumn(
        "bm25", F.round(_bm25_score(len(terms), k1, b), 6))
    sel = [F.col(id_col), F.col("dl")]
    sel += [F.col(f"tf_{i}").alias(f"tf_{t}")
            for i, t in enumerate(terms)]
    sel += [F.col("bm25")]
    return (out.select(*sel)
            .orderBy(F.desc("bm25"), F.asc(id_col)).limit(k))


def fineweb_line_stats(df: DataFrame, text_col: str = "text",
                       short_chars: int = 30,
                       terminal_punct: str = ".!?\"'",
                       min_punct_frac: float = 0.12,
                       max_dup_char_frac: float = 0.10,
                       max_short_frac: float = 0.67) -> DataFrame:
    """FineWeb's line-quality filters (Penedo et al. 2024 §3.2, the
    three 'new heuristic filters' that drove their biggest quality
    gain) as one zero-shuffle projection over non-blank lines
    (trim(line) != '' — SQL TRIM semantics, i.e. blank = spaces only,
    identical in Spark and the DuckDB oracle; a tab-only line counts
    as a line):

    * punct_end_frac — fraction of lines whose last character is
      terminal punctuation (FineWeb drops below 0.12).
    * short_line_frac — fraction of lines shorter than `short_chars`
      characters (FineWeb drops above 0.67 at 30 chars).
    * line_dup_char_frac — character mass of line occurrences beyond
      the first of each distinct line, over the newline-free text
      length (FineWeb drops above 0.10).
    * keep_fineweb — all three thresholds pass (flag-table semantics:
      never drops rows itself).

    Adds: n_lines_fw, n_punct_lines, n_short_lines, dup_line_chars,
    text_len_nonl, punct_end_frac, short_line_frac,
    line_dup_char_frac, keep_fineweb. Fractions rounded to 6 dp;
    integer numerators/denominators ride along for the cross-engine
    contract. Scale: pure per-row codegen arithmetic + two array
    folds — the same cost class as gopher_repetition, zero exchanges.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.split(text, "\n", -1),
                     lambda s: F.trim(s) != "")
    out = df.withColumn("_fw_lines", lines)
    lc = F.col("_fw_lines")
    n = F.size(lc).cast("long")
    punct = [F.lit(c) for c in terminal_punct]
    n_punct = F.size(F.filter(
        lc, lambda x: F.array_contains(F.array(*punct),
                                       F.substring(x, -1, 1)))) \
        .cast("long")
    n_short = F.size(F.filter(
        lc, lambda x: F.length(x) < short_chars)).cast("long")
    zero = F.lit(0).cast("long")
    tot_chars = F.aggregate(lc, zero,
                            lambda a, x: a + F.length(x).cast("long"))
    dist_chars = F.aggregate(F.array_distinct(lc), zero,
                             lambda a, x: a + F.length(x).cast("long"))
    text_len = F.length(F.replace(text, F.lit("\n"), F.lit(""))) \
        .cast("long")
    out = (out
           .withColumn("n_lines_fw", n)
           .withColumn("n_punct_lines", n_punct)
           .withColumn("n_short_lines", n_short)
           .withColumn("dup_line_chars", tot_chars - dist_chars)
           .withColumn("text_len_nonl", text_len)
           .drop("_fw_lines"))
    nn = F.col("n_lines_fw")
    punct_frac = F.round(
        F.when(nn > 0, F.col("n_punct_lines").cast("double")
               / nn.cast("double")).otherwise(F.lit(0.0)), 6)
    short_frac = F.round(
        F.when(nn > 0, F.col("n_short_lines").cast("double")
               / nn.cast("double")).otherwise(F.lit(0.0)), 6)
    dup_frac = F.round(
        F.when(F.col("text_len_nonl") > 0,
               F.col("dup_line_chars").cast("double")
               / F.col("text_len_nonl").cast("double"))
         .otherwise(F.lit(0.0)), 6)
    return (out
            .withColumn("punct_end_frac", punct_frac)
            .withColumn("short_line_frac", short_frac)
            .withColumn("line_dup_char_frac", dup_frac)
            .withColumn(
                "keep_fineweb",
                (F.col("punct_end_frac") >= F.lit(min_punct_frac))
                & (F.col("line_dup_char_frac")
                   <= F.lit(max_dup_char_frac))
                & (F.col("short_line_frac") <= F.lit(max_short_frac))))


def gopher_repetition(df: DataFrame, text_col: str = "text",
                      top_ns: tuple[int, ...] = (2, 3, 4),
                      dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10)
                      ) -> DataFrame:
    """The full Gopher repetition-filter statistics (Rae et al. 2021,
    Table A1) as one per-document projection — the signature removal
    suite for machine-generated / boilerplate web text (reference
    uniqueness dimension, /root/reference/DataQuality_AI_CaseStudy.md:
    123-128, generalized from column-level to within-document):

    * dup_para_frac / dup_para_char_frac — paragraph ("\\n\\n" segment)
      occurrences beyond the first of each distinct paragraph, by count
      and by character mass (Gopher drops at 0.30 / 0.20).
    * dup_line_frac / dup_line_char_frac — the same over "\\n" lines
      (Gopher drops at 0.30 / 0.20).
    * top_{n}gram_char_frac for n in top_ns — character mass of the
      single most frequent word n-gram (count × chars of the
      space-joined gram) over the normalized text length
      (`length(concat_ws(' ', words))`); Gopher drops 2/3/4-grams above
      0.20 / 0.18 / 0.16. `top_{n}gram_cover` carries the exact integer
      numerator.
    * dup_{n}gram_char_frac for n in dup_ns — fraction of n-gram
      occurrence character mass belonging to grams seen more than once
      (all occurrences of a duplicated gram count, first included);
      Gopher drops 5..10-grams above 0.15 / 0.14 / 0.13 / 0.12 / 0.11 /
      0.10. `dup_{n}gram_chars` / `ngram_{n}_tot_chars` carry the exact
      integers.

    Also adds n_paras, n_lines_rep, norm_text_len. Fractions are
    rounded to 6 dp; every numerator/denominator is an exact BIGINT so
    the cross-engine contract can pin integers even where a quotient's
    last ulp might differ.

    Scale design: a pure projection — each statistic is an array fold
    over per-document segment/gram arrays (O(L log L) per doc for the
    in-array sorts), zero shuffles, zero joins, embarrassingly parallel
    at 10^12 documents. The relational formulation (explode → groupBy
    (doc, gram)) would shuffle every n-gram occurrence in the corpus;
    the DuckDB oracle uses it at test scale to cross-check the folds.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    # Materialize the segment/word arrays ONCE — every fold below
    # references the column instead of re-splitting the text (the plan
    # otherwise re-runs split+filter per statistic).
    words = F.col("_gr_words")
    norm_len = F.length(F.concat_ws(" ", words)).cast("long")

    n_paras, dup_para_frac, dup_para_char_frac = \
        _seg_dup_stats(F.col("_gr_paras"))
    n_lines, dup_line_frac, dup_line_char_frac = \
        _seg_dup_stats(F.col("_gr_lines"))

    out = (df
           .withColumn("_gr_words", _words(F.col(text_col)))
           .withColumn("_gr_paras",
                       F.filter(F.split(text, "\n\n", -1),
                                lambda s: s != ""))
           .withColumn("_gr_lines",
                       F.filter(F.split(text, "\n", -1),
                                lambda s: s != ""))
           .withColumn("n_paras", n_paras)
           .withColumn("dup_para_frac", dup_para_frac)
           .withColumn("dup_para_char_frac", dup_para_char_frac)
           .withColumn("n_lines_rep", n_lines)
           .withColumn("dup_line_frac", dup_line_frac)
           .withColumn("dup_line_char_frac", dup_line_char_frac)
           .withColumn("norm_text_len", norm_len))
    for n in top_ns:
        cover = _top_gram_cover(F.sort_array(word_ngrams(words, n)))
        out = (out
               .withColumn(f"top_{n}gram_cover", cover)
               .withColumn(
                   f"top_{n}gram_char_frac",
                   F.round(F.when(
                       F.col("norm_text_len") > 0,
                       F.col(f"top_{n}gram_cover").cast("double")
                       / F.col("norm_text_len").cast("double"))
                       .otherwise(F.lit(0.0)), 6)))
    for n in dup_ns:
        dg = _dup_gram_chars(F.sort_array(word_ngrams(words, n)))
        out = (out
               .withColumn(f"_dg{n}", dg)
               .withColumn(f"dup_{n}gram_chars", F.col(f"_dg{n}")["dup"])
               .withColumn(f"ngram_{n}_tot_chars", F.col(f"_dg{n}")["tot"])
               .drop(f"_dg{n}")
               .withColumn(
                   f"dup_{n}gram_char_frac",
                   F.round(F.when(
                       F.col(f"ngram_{n}_tot_chars") > 0,
                       F.col(f"dup_{n}gram_chars").cast("double")
                       / F.col(f"ngram_{n}_tot_chars").cast("double"))
                       .otherwise(F.lit(0.0)), 6)))
    return out.drop("_gr_words", "_gr_paras", "_gr_lines")


def length_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus length distribution in power-of-two buckets — the
    standard first plot of any corpus report (and the input to
    choosing chunk/packing sizes): bucket b holds documents with
    2^(b-1) <= n_tokens < 2^b (bucket 0 = empty docs), with per-bucket
    doc count, token sum, and min/max tokens.

    The bucket is the token count's BIT LENGTH via length(bin(n)) —
    `bin` (integer -> base-2 string) exists with identical semantics
    in Spark and DuckDB, so the bucket edges are engine-exact without
    any floating log2. ONE map-side-combined aggregate; shuffle rows =
    number of occupied buckets (<= 64).
    """
    words = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda w: w != "")
    n = F.size(words).cast("long")
    b = F.when(n == 0, F.lit(0)).otherwise(
        F.length(F.bin(n))).cast("long")
    return (df.select(b.alias("bucket"), n.alias("_n"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("_n").cast("long").alias("token_sum"),
                 F.min("_n").cast("long").alias("min_tokens"),
                 F.max("_n").cast("long").alias("max_tokens"))
            .orderBy("bucket"))


# ---------------------------------------------------------------------------
# Script (writing-system) profile — CCNet-style script detection
# ---------------------------------------------------------------------------

# Explicit BMP codepoint ranges — `\x{...}` character classes have
# identical semantics in Java regex (Spark) and RE2 (DuckDB), and both
# engines' length() counts codepoints, so every count below is
# engine-exact. Deliberately coarse: the use is routing/filtering
# (CCNet drops pages whose dominant script disagrees with the langid
# call), not linguistics.
SCRIPT_RANGES: list[tuple[str, str]] = [
    ("latin", r"[A-Za-z\x{00C0}-\x{024F}]"),
    ("cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("greek", r"[\x{0370}-\x{03FF}]"),
    ("cjk", r"[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
]


def script_profile(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document writing-system profile: codepoint counts for the
    major scripts (Latin, Cyrillic, Greek, CJK, Arabic) plus digits,
    and the dominant script — the CCNet-style signal for dropping
    pages whose script contradicts the language-ID call (a 'ru' page
    that is 90% Latin is mislabeled or boilerplate) and for routing
    script-specific tokenizers.

    Each count is length(text) − length(regexp_replace(text, class,
    '')) — a pure whole-stage-codegen projection: zero UDFs, zero
    shuffles, zero joins; at 100 TB this fuses into any scan that
    already reads the text column. The dominant script is a CASE
    chain over the letter-script counts in declaration order (ties
    break toward the earlier entry, deterministically); documents
    with no letter codepoints report 'none'.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)
    counts = {
        name: (n - F.length(F.regexp_replace(t, cls, ""))).cast("long")
        for name, cls in SCRIPT_RANGES}
    n_digit = (n - F.length(F.regexp_replace(t, "[0-9]", ""))).cast("long")
    m = F.greatest(*counts.values())
    main = F.when(m == 0, F.lit("none"))
    for name, _ in SCRIPT_RANGES:
        main = main.when(counts[name] == m, F.lit(name))
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_chars"),
        *[counts[name].alias(f"n_{name}") for name, _ in SCRIPT_RANGES],
        n_digit.alias("n_digit"),
        main.alias("main_script"))
