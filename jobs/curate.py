"""spark-submit entry point: corpus curation AFTER the quality filter.

    spark-submit --py-files dq.zip jobs/curate.py \
        --input /data/kept_docs.parquet --output /data/curated \
        [--eval /data/benchmarks.parquet] [--ngram 13] [--min-overlap 1] \
        [--near-dedup] [--dedupe-paragraphs] [--quality-model] \
        [--split train=0.9,val=0.05,test=0.05] \
        [--salt 0] [--id-col doc_id] [--text-col text]

Composes the curation operators (operators/curation.py) into the stage a
training-data pipeline runs between filtering and tokenization:

1. within-corpus near-dup cluster dedup (--near-dedup): MinHash+LSH
   pairs → large-star/small-star connected components → keep the
   minimum-id document per cluster (near-dup similarity is not
   transitive, so clusters — not pairs — are the drop unit);
2. benchmark decontamination (only when --eval is given): 13-gram
   overlap flags joined back as `contaminated` / `n_matched`;
3. global paragraph dedup (--dedupe-paragraphs): text rebuilt in place,
   `n_paragraphs` / `n_kept` recorded; C4 line-level cleaning
   (--c4-lines): punctuation/word-count/javascript line rules +
   brace/lorem doc drops (curation.c4_line_filter); plus Lee-et-al exact-substring
   removal (--remove-dup-spans K): every duplicated K-token span keeps
   only its globally-first occurrence (dedup.remove_dup_spans);
4. deterministic split assignment (--split): hash-stable `bucket` and
   `split` columns — reproducible on any cluster size or retry;
5. URL canonicalization + url-level dedup (--url-canon COL
   [--url-dedup]): tracking-param/port/case/www variants collapse to
   one canonical url, keeping the min-id doc;
6. mixture upsampling (--upsample-weight COL): floor(w) copies plus a
   hash-gated extra (curation.repeat_upsample), salted independently
   of --split;
7. per-group token-budget quota (--token-budget N [--budget-group COL]
   [--budget-tokens COL]): greedy deterministic cap per group
   (curation.token_budget_sample), salted independently of --split
   and --upsample-weight;
8. temperature-scaled mixing (--temperature-total N
   [--temperature-alpha 0.5]): per---budget-group downsampling rate
   ∝ n^alpha/n toward an expected N kept docs
   (curation.temperature_sample), salted independently of all above;
8b. explicit DoReMi-style mixture (--mix-weights 'g1=0.5,g2=0.3'
   [--mix-total N]): keep the largest corpus holding exactly the given
   per---budget-group proportions (curation.weighted_mix), the
   bottleneck group setting the total; salted independently;
9. CCNet-style score-quantile bucketing (--quantile-buckets K
   [--quantile-score COL] [--quantile-mode thresholds|ntile]): adds a
   qbucket column per --budget-group (curation.quantile_buckets) —
   filter on it downstream to keep the perplexity head;
10. DSIR importance scoring (--dsir-target PATH [--dsir-buckets N]):
    joins log p_target/p_raw hashed-n-gram importance scores
    (curation.dsir_importance) — chain with --quantile-buckets
    --quantile-score dsir_score to keep the most target-like docs;
10b. CCNet-style LM scoring (--lm-ref PATH [--lm-min-count 2]): trains
    a pruned bigram LM on the reference corpus (ngram_lm.
    train_bigram_lm) and joins each doc's lattice log-likelihood as
    n_bigrams/n_oov/lm_score_q — chain with --quantile-buckets
    --quantile-score lm_score_q to keep the perplexity head, CCNet's
    head/middle/tail recipe with the LM trained in the same plan;
11. sliding-window chunking (--chunk-tokens N [--chunk-overlap K]):
    REPLACES the grain with context-window rows
    (curation.chunk_documents) after every doc-level step;
12. training-shuffle shards (--shards N): deterministic shard/pos
    assignment on the final grain (curation.shard_assign, salt+4) —
    write ordered by (shard, pos) to materialize the reproducible
    global shuffle a training run reads back.

Every step is a DataFrame transform (broadcast joins + narrow
projections; document text never shuffles — see BENCH/PLANS.md), so the
whole job remains one Spark plan with a single output write. Emits ONE
JSON stats line like the other jobs and classifies failures through the
shared error formatter.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dataquality_spark.errors import format_error_response  # noqa: E402
from dataquality_spark.operators import curation  # noqa: E402
from dataquality_spark.session import get_spark  # noqa: E402


# One-command recipes: named expansions of the documented stage
# ordering, so a 100-TB run is `curate --input … --output … --recipe
# webtext-v1` instead of ten hand-composed flags. Expansion happens
# BEFORE argparse, with user-supplied flags appended after the recipe's
# — so value options (e.g. --split, --shards) can be overridden on the
# command line (argparse last-wins); store_true steps can only be added,
# not removed. webtext-v1 expects a bigint `doc_id` (near-dup clusters
# keep the minimum id) and string `url` and `text` columns. It does not
# read run_pipeline's decisions as they are: those have no doc_id, and
# their scrubbed text is `text_scrubbed`.
RECIPES: dict[str, list[str]] = {
    # canonical webtext curation, in the job's fixed execution order:
    # url canonicalize+dedup → MinHash near-dup cluster dedup → C4 line
    # cleaning → global paragraph dedup → distilled quality score →
    # deterministic split → training-shuffle shards
    "webtext-v1": [
        "--url-canon", "url", "--url-dedup",
        "--c4-lines",
        "--dedupe-paragraphs",
        "--near-dedup",
        "--quality-model",
        "--split", "train=0.98,val=0.01,test=0.01",
        "--shards", "64",
    ],
}


def _parse_split(spec: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for part in spec.split(","):
        name, frac = part.split("=")
        out[name.strip()] = float(frac)
    if not out or any(not 0.0 <= v <= 1.0 for v in out.values()) \
            or sum(out.values()) > 1.0 + 1e-9:
        raise ValueError(f"split fractions must each be in [0,1] and "
                         f"sum to <= 1.0: {spec}")
    return out


def run(argv: list[str] | None = None) -> dict:
    try:
        return _run(argv)
    except SystemExit:
        raise
    except Exception as e:
        print(json.dumps(format_error_response(e, job="curate")))
        raise SystemExit(2)


def _run(argv: list[str] | None = None) -> dict:
    if argv is None:
        argv = sys.argv[1:]
    pre = argparse.ArgumentParser(add_help=False)
    pre.add_argument("--recipe", choices=sorted(RECIPES), default=None)
    pre_args, rest = pre.parse_known_args(argv)
    recipe = pre_args.recipe
    if recipe:
        argv = RECIPES[recipe] + rest

    ap = argparse.ArgumentParser()
    ap.add_argument("--recipe", choices=sorted(RECIPES), default=None,
                    help="named flag expansion (see RECIPES): "
                         "webtext-v1 = url-canon/dedup → near-dup "
                         "clusters → c4-lines → paragraph dedup → "
                         "quality score → split → 64 shards; "
                         "flags given after --recipe override its "
                         "value options")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--eval", default=None,
                    help="benchmark/eval parquet with a text column; "
                         "enables decontamination flags")
    ap.add_argument("--ngram", type=int, default=13)
    ap.add_argument("--min-overlap", type=int, default=1)
    ap.add_argument("--normalize", action="store_true",
                    help="lowercase + strip punctuation before "
                         "n-gram matching (GPT-3-style decontamination)")
    ap.add_argument("--drop-contaminated", action="store_true",
                    help="filter flagged docs instead of only flagging")
    ap.add_argument("--dedupe-paragraphs", action="store_true")
    ap.add_argument("--c4-lines", action="store_true",
                    help="C4 line-level cleaning (curation."
                         "c4_line_filter): rebuild text from lines "
                         "ending in terminal punctuation with >=3 "
                         "words and no 'javascript'; DROP docs flagged "
                         "by the brace/lorem/min-lines rules")
    ap.add_argument("--remove-dup-spans", type=int, default=None,
                    metavar="K",
                    help="Lee-et-al exact-substring removal: cut every "
                         "duplicated K-token span except its globally-"
                         "first occurrence and rebuild text "
                         "(dedup.remove_dup_spans)")
    ap.add_argument("--dedup-ref", default=None,
                    help="parquet dir of the previously-kept corpus: "
                         "drop exact text matches (cross-run dedup)")
    ap.add_argument("--dedup-ref-mode", choices=["join", "bloom"],
                    default="join",
                    help="join: hash anti-join against the reference "
                         "(exact). bloom: build a Bloom filter over the "
                         "reference and probe map-only — no reference "
                         "shuffle on later runs, ~--bloom-fpp of "
                         "genuinely-new docs lost to false positives")
    ap.add_argument("--bloom-fpp", type=float, default=1e-4)
    ap.add_argument("--bloom-max-bits", type=int, default=1 << 33,
                    help="refuse to build a Bloom filter wider than this "
                         "(default 2^33 bits = 1 GiB): every map task "
                         "allocates a num_bits/8-byte partial and the "
                         "driver ORs up to 64 of them, so an unbounded "
                         "optimal_params result (huge reference at tiny "
                         "fpp) would OOM. Past the cap, raise --bloom-fpp "
                         "or shard the reference into multiple filters")
    ap.add_argument("--near-dedup-ref", action="store_true",
                    help="with --dedup-ref: also drop near-duplicates "
                         "(MinHash+LSH vs the reference, Jaccard ≥ "
                         "--near-threshold)")
    ap.add_argument("--near-threshold", type=float, default=0.5)
    ap.add_argument("--near-dedup", action="store_true",
                    help="within-corpus near-dup CLUSTER dedup: MinHash"
                         "+LSH pairs → connected components (large-star/"
                         "small-star) → keep the minimum-id doc per "
                         "cluster (operators/graph.py)")
    ap.add_argument("--quality-model", action="store_true",
                    help="attach the distilled classifier score column "
                         "(functions/quality_model.py)")
    ap.add_argument("--split", default=None,
                    help="e.g. train=0.9,val=0.05,test=0.05")
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--audit", default=None,
                    help="directory to APPEND per-partition lineage "
                         "rows to (partition_id, n_docs, "
                         "n_distinct_ids, steps, elapsed_sec) — the "
                         "curate twin of run_pipeline's audit table; "
                         "append-mode so reruns accumulate history")
    ap.add_argument("--url-canon", default=None, metavar="URL_COL",
                    help="add url_canon (curation.canonicalize_url) "
                         "from this url column")
    ap.add_argument("--url-dedup", action="store_true",
                    help="with --url-canon: keep only the min-id doc "
                         "per canonical url")
    ap.add_argument("--split-sentences", action="store_true",
                    help="REPLACE the output grain with one row per "
                         "sentence (curation.split_sentences: id, "
                         "sentence_id, sentence, sentence_key) — "
                         "applied after all doc-level steps; "
                         "mutually exclusive with --chunk-tokens")
    ap.add_argument("--group-cap", type=int, default=None, metavar="N",
                    help="keep at most N docs per --budget-group "
                         "(curation.cap_per_group; Gopher-style "
                         "anti-spam domain cap, salted at salt+6)")
    ap.add_argument("--cap-priority", default=None, metavar="COL",
                    help="with --group-cap: keep the N highest by this "
                         "column instead of a uniform hash cap")
    ap.add_argument("--rrf-signals", default=None, metavar="COLS",
                    help="comma-separated numeric score columns to "
                         "fuse into a single rrf ranking column "
                         "(operators/ranking.rank_fusion — exact "
                         "two-phase global ranks, no single-partition "
                         "window; adds rank_<col> per signal + rrf)")
    ap.add_argument("--rrf-k", type=int, default=60,
                    help="RRF damping constant k (default 60)")
    ap.add_argument("--url-patterns", default=None, metavar="SPEC",
                    help="UT1-style URL regex blocklist: ';;'-separated "
                         "patterns (curation.url_pattern_filter, drop "
                         "mode); requires a 'url' column or --url-canon "
                         "source column")
    ap.add_argument("--upsample-weight", default=None, metavar="W_COL",
                    help="deterministic fractional upsampling by this "
                         "weight column (curation.repeat_upsample; "
                         "salted independently of --split)")
    ap.add_argument("--token-budget", type=int, default=None,
                    metavar="N",
                    help="per-group token cap (curation."
                         "token_budget_sample): keep docs per "
                         "--budget-group in deterministic hash-priority "
                         "order until the group's cumulative "
                         "--budget-tokens reaches N; salted at salt+2 "
                         "so quota, split, and upsample decisions stay "
                         "independent")
    ap.add_argument("--budget-group", default="lang", metavar="COL",
                    help="group column for --token-budget and "
                         "--temperature-total")
    ap.add_argument("--budget-tokens", default="n_chars", metavar="COL",
                    help="token-count column for --token-budget")
    ap.add_argument("--temperature-total", type=int, default=None,
                    metavar="N",
                    help="temperature-scaled mixing (curation."
                         "temperature_sample): downsample toward an "
                         "expected N kept docs with per---budget-group "
                         "rate ∝ n^alpha/n (salted at salt+3)")
    ap.add_argument("--temperature-alpha", type=float, default=0.5,
                    help="mixing temperature exponent alpha "
                         "(0=equal groups, 1=plain global downsample)")
    ap.add_argument("--mix-weights", default=None, metavar="SPEC",
                    help="explicit DoReMi-style mixture over "
                         "--budget-group: 'g1=0.5,g2=0.3,g3=0.2' — "
                         "keep the largest corpus holding exactly these "
                         "proportions (curation.weighted_mix, salted at "
                         "salt+5); groups absent from the spec drop")
    ap.add_argument("--mix-total", type=int, default=None, metavar="N",
                    help="cap the --mix-weights total at N docs")
    ap.add_argument("--quantile-buckets", type=int, default=None,
                    metavar="K",
                    help="CCNet-style per---budget-group score-quantile "
                         "bucketing (curation.quantile_buckets): adds a "
                         "qbucket column (1=lowest --quantile-score)")
    ap.add_argument("--quantile-score", default="n_chars", metavar="COL",
                    help="score column for --quantile-buckets")
    ap.add_argument("--quantile-mode", choices=["ntile", "thresholds"],
                    default="thresholds",
                    help="ntile = exact (per-group sort); thresholds = "
                         "percentile_approx map-side (the scale path, "
                         "default)")
    ap.add_argument("--dsir-target", default=None, metavar="PATH",
                    help="parquet of target-distribution docs: join "
                         "DSIR importance scores (curation."
                         "dsir_importance) onto every doc as "
                         "n_feats/dsir_score — select on them with "
                         "--quantile-buckets --quantile-score "
                         "dsir_score")
    ap.add_argument("--lm-ref", default=None, metavar="PATH",
                    help="reference-corpus parquet: train a pruned "
                         "bigram LM on it (ngram_lm.train_bigram_lm) "
                         "and join each doc's lattice log-likelihood "
                         "as n_bigrams/n_oov/lm_score_q — select with "
                         "--quantile-buckets --quantile-score "
                         "lm_score_q (CCNet head/middle/tail)")
    ap.add_argument("--lm-min-count", type=int, default=2,
                    help="bigram count-pruning threshold for --lm-ref")
    ap.add_argument("--dsir-buckets", type=int, default=10_000,
                    help="hashed feature-space size for --dsir-target "
                         "(0 = exact gram strings)")
    ap.add_argument("--boilerplate-min-docs", type=int, default=None,
                    metavar="K",
                    help="strip lines repeating in >= K distinct docs "
                         "within --boilerplate-group (curation."
                         "remove_boilerplate_lines); runs before "
                         "--c4-lines")
    ap.add_argument("--boilerplate-group", default=None, metavar="COL",
                    help="group column for boilerplate identity "
                         "(default: corpus-global)")
    ap.add_argument("--chunk-tokens", type=int, default=None,
                    metavar="N",
                    help="REPLACE the output grain with sliding token "
                         "windows of N tokens (curation.chunk_documents"
                         "): emits (id, chunk_id, chunk_tokens, "
                         "chunk_text, chunk_key) rows — applied after "
                         "every doc-level step")
    ap.add_argument("--chunk-overlap", type=int, default=0,
                    help="overlap tokens between consecutive windows "
                         "for --chunk-tokens")
    ap.add_argument("--shards", type=int, default=None, metavar="N",
                    help="deterministic training-shuffle shard "
                         "assignment (curation.shard_assign, salt+4): "
                         "adds shard/pos on the final grain (chunk_key "
                         "when --chunk-tokens is on, else --id-col); "
                         "write ordered by (shard, pos) to materialize "
                         "the shuffle")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if args.split_sentences and args.chunk_tokens is not None:
        raise SystemExit("--split-sentences and --chunk-tokens both "
                         "replace the output grain; pick one")

    spark = get_spark("dq-curate", master=args.master)
    t0 = time.monotonic()

    df = spark.read.parquet(args.input)
    id_col, text_col = args.id_col, args.text_col
    n_in = df.count()
    steps: list[str] = []

    if args.url_canon:
        df = df.withColumn(
            "url_canon", curation.canonicalize_url(F.col(args.url_canon)))
        steps.append("url_canon")
        if args.url_dedup:
            # keep the min-id doc per canonical url with the
            # dedupe_paragraphs_global drop-list shape: only slim
            # (hash, id) rows shuffle, losers broadcast back as an
            # anti-join — document text never crosses an exchange
            # (drop-list size = number of url duplicates; for a corpus
            # where most urls are unique it broadcasts comfortably).
            # Identity is 64-bit xxhash64 of the canonical url: a pair
            # of distinct urls merges with p ≈ n²/2^65 (birthday bound;
            # same documented budget as exact_dedup_cross).
            keyed = df.select(F.xxhash64("url_canon").alias("_h"),
                              F.col(id_col))
            winners = keyed.groupBy("_h").agg(
                F.min(id_col).alias("_win"))
            losers = (keyed.join(winners, "_h")
                      .where(F.col(id_col) != F.col("_win"))
                      .select(id_col))
            df = df.join(F.broadcast(losers), id_col, "left_anti")
            steps.append("url_dedup")

    if args.url_patterns:
        url_col = args.url_canon or "url"
        df = curation.url_pattern_filter(
            df, args.url_patterns.split(";;"), url_col=url_col,
            tag_col=None)
        steps.append("url_patterns")

    if args.group_cap:
        df = curation.cap_per_group(
            df, args.budget_group, id_col, args.group_cap,
            priority_col=args.cap_priority, salt=args.salt + 6)
        steps.append("group_cap")

    if args.rrf_signals:
        from dataquality_spark.operators import ranking

        fused = ranking.rank_fusion(
            df, id_col, args.rrf_signals.split(","), k=args.rrf_k)
        df = df.join(fused, id_col)
        steps.append("rrf")

    if args.dedup_ref:
        from dataquality_spark.operators import dedup
        ref = spark.read.parquet(args.dedup_ref)
        if args.dedup_ref_mode == "bloom":
            from dataquality_spark.operators import bloom
            n_ref = ref.count()
            bits, k = bloom.optimal_params(max(n_ref, 1), args.bloom_fpp)
            if bits > args.bloom_max_bits:
                raise SystemExit(
                    f"--dedup-ref-mode=bloom: optimal filter needs "
                    f"{bits} bits ({bits >> 33} GiB) for n_ref={n_ref} "
                    f"at fpp={args.bloom_fpp}, above --bloom-max-bits="
                    f"{args.bloom_max_bits}. Raise --bloom-fpp, raise "
                    f"--bloom-max-bits if the executors have headroom, "
                    f"or shard the reference into multiple filters.")
            filt = bloom.build_bloom(ref, text_col,
                                     num_bits=bits, num_hashes=k)
            df = bloom.bloom_dedup_cross(df, filt, text_col,
                                         num_hashes=k)
            steps.append("bloom_dedup_ref")
        else:
            df = dedup.exact_dedup_cross(df, ref, text_col, id_col)
            steps.append("exact_dedup_ref")
        if args.near_dedup_ref:
            hits = (dedup.minhash_lsh_pairs_cross(
                        df, ref, text_col, id_col,
                        jaccard_threshold=args.near_threshold)
                    .select(F.col("new_id").alias(id_col)).distinct())
            df = df.join(hits, id_col, "left_anti")
            steps.append("near_dedup_ref")

    if args.near_dedup:
        from dataquality_spark.operators import dedup, graph
        pairs = dedup.minhash_lsh_pairs(
            df, text_col, id_col,
            jaccard_threshold=args.near_threshold)
        df = (graph.resolve_duplicates(df, pairs, id_col)
              .where(~F.col("is_dup"))
              .drop("component", "is_dup", "dup_of"))
        steps.append("near_dedup_clusters")

    if args.eval:
        ev = spark.read.parquet(args.eval)
        flags = curation.decontaminate(df, ev, text_col, id_col,
                                       n=args.ngram,
                                       min_overlap=args.min_overlap,
                                       normalize=args.normalize)
        df = df.join(flags.select(id_col, "n_matched", "contaminated"),
                     id_col, "left")
        if args.drop_contaminated:
            df = df.where(~F.col("contaminated"))
            steps.append("decontaminate:drop")
        else:
            steps.append("decontaminate:flag")

    if args.boilerplate_min_docs is not None:
        df = (curation.remove_boilerplate_lines(
                  df, text_col, id_col,
                  group_col=args.boilerplate_group,
                  min_docs=args.boilerplate_min_docs)
              .join(df.drop(text_col), id_col)
              .withColumn(text_col, F.col("text_clean"))
              .drop("text_clean", "n_lines", "n_boiler"))
        steps.append("boilerplate_lines")

    if args.c4_lines:
        df = (curation.c4_line_filter(df, text_col)
              .where(F.col("keep_doc"))
              .withColumn(text_col, F.col("text_c4"))
              .drop("text_c4", "n_lines", "n_kept_lines",
                    "has_brace", "has_lorem", "keep_doc"))
        steps.append("c4_lines")

    if args.dedupe_paragraphs:
        df = (curation.dedupe_paragraphs_global(df, text_col, id_col)
              .withColumn(text_col, F.col("text_kept")).drop("text_kept"))
        steps.append("dedupe_paragraphs")

    if args.remove_dup_spans is not None:
        from dataquality_spark.operators import dedup as _dedup
        spans = (_dedup.remove_dup_spans(df, text_col, id_col,
                                         k=args.remove_dup_spans)
                 .select(F.col("id").alias(id_col), "text_dedup"))
        df = (df.join(spans, id_col)
              .withColumn(text_col, F.col("text_dedup"))
              .drop("text_dedup"))
        steps.append("remove_dup_spans")

    if args.quality_model:
        from dataquality_spark.functions import quality_model as qm
        df = qm.quality_scores(df, text_col)
        steps.append("quality_model")

    if args.split:
        df = curation.split_assign(df, id_col, _parse_split(args.split),
                                   salt=args.salt)
        steps.append("split")

    if args.upsample_weight:
        df = curation.repeat_upsample(df, id_col, args.upsample_weight,
                                      salt=args.salt + 1)
        steps.append("upsample")

    if args.token_budget is not None:
        df = curation.token_budget_sample(
            df, args.budget_group, args.budget_tokens, id_col,
            budget=args.token_budget, salt=args.salt + 2)
        steps.append("token_budget")

    if args.temperature_total is not None:
        df = curation.temperature_sample(
            df, args.budget_group, id_col, args.temperature_total,
            alpha=args.temperature_alpha, salt=args.salt + 3)
        steps.append("temperature_mix")

    if args.mix_weights:
        try:
            w = {k.strip(): float(v) for k, v in
                 (kv.split("=", 1) for kv in args.mix_weights.split(","))}
        except ValueError as exc:
            raise SystemExit(
                f"--mix-weights must be 'g1=0.5,g2=0.3,...': {exc}")
        df = curation.weighted_mix(
            df, args.budget_group, id_col, w,
            target_total=args.mix_total, salt=args.salt + 5)
        steps.append("weighted_mix")

    if args.dsir_target:
        tgt = spark.read.parquet(args.dsir_target)
        scores = curation.dsir_importance(
            df, tgt, text_col, id_col,
            buckets=args.dsir_buckets or None)
        df = df.join(scores, id_col, "left")
        steps.append("dsir")

    if args.lm_ref:
        from dataquality_spark.operators import ngram_lm
        ref = spark.read.parquet(args.lm_ref)
        model = ngram_lm.train_bigram_lm(ref, text_col,
                                         min_count=args.lm_min_count)
        lm_scores = ngram_lm.score_bigram_lm(df, model, text_col, id_col)
        df = df.join(lm_scores, id_col, "left")
        steps.append("lm_score")

    if args.quantile_buckets is not None:
        df = curation.quantile_buckets(
            df, args.budget_group, args.quantile_score, id_col,
            k=args.quantile_buckets, mode=args.quantile_mode)
        steps.append("quantile_buckets")

    shard_key = id_col
    if args.chunk_tokens is not None:
        # grain change: one row per sliding window; chunk_key is the
        # synthesized unique shard/sort key for the new grain (docs
        # with >2^20 windows would collide — that is >10^8 tokens/doc)
        df = (curation.chunk_documents(df, text_col, id_col,
                                       chunk_tokens=args.chunk_tokens,
                                       overlap=args.chunk_overlap)
              .withColumn("chunk_key",
                          F.col(id_col) * F.lit(1 << 20)
                          + F.col("chunk_id")))
        shard_key = "chunk_key"
        steps.append("chunk")

    if args.split_sentences:
        # grain change: one row per sentence; sentence_key is the
        # synthesized unique shard/sort key (docs with >2^20 sentences
        # would collide — that is a degenerate document)
        df = (curation.split_sentences(df, text_col, id_col)
              .withColumn("sentence_key",
                          F.col(id_col) * F.lit(1 << 20)
                          + F.col("sentence_id")))
        shard_key = "sentence_key"
        steps.append("sentences")

    if args.shards is not None:
        df = curation.shard_assign(df, shard_key, n_shards=args.shards,
                                   salt=args.salt + 4)
        steps.append("shards")

    # The output stats are observed on the write itself: no read-back
    # count or groupBy, so no extra Spark job per statistic.
    # Chunking replaces the grain — doc-level flag and split columns
    # are gone.
    metrics = [F.count(F.lit(1)).alias("n_docs_out")]
    if args.eval and not args.drop_contaminated \
            and args.chunk_tokens is None:
        metrics.append(F.count_if("contaminated").alias("n_contaminated"))
    splits = (list(_parse_split(args.split))
              if args.split and args.chunk_tokens is None else [])
    metrics += [F.count_if(F.col("split") == name).alias(f"split_{i}")
                for i, name in enumerate(splits)]
    written = Observation("written")
    df.observe(written, *metrics).write.mode("overwrite").parquet(
        args.output)
    from dataquality_spark.caching import unpersist_all
    unpersist_all()  # release the decontamination shingle cache

    seen = written.get
    stats = {"n_docs_in": n_in, "n_docs_out": seen["n_docs_out"],
             "steps": steps,
             "elapsed_sec": round(time.monotonic() - t0, 3)}
    if recipe:
        stats["recipe"] = recipe
    if "n_contaminated" in seen:
        stats["n_contaminated"] = seen["n_contaminated"]
    if splits:
        # only splits that received rows, as a groupBy would report
        stats["split_counts"] = {
            name: seen[f"split_{i}"] for i, name in enumerate(splits)
            if seen[f"split_{i}"]}
    if args.audit:
        out = spark.read.parquet(args.output)
        aud = (out.groupBy(F.spark_partition_id().alias("partition_id"))
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.count_distinct(id_col).alias("n_distinct_ids"))
               .withColumn("steps", F.lit(",".join(steps)))
               .withColumn("elapsed_sec",
                           F.lit(stats["elapsed_sec"])))
        aud.write.mode("append").parquet(args.audit)
        stats["audit_rows"] = aud.count()
    print(json.dumps(stats))
    return stats


if __name__ == "__main__":
    run()
