"""Per-partition audit lineage + rule-hit metrics (FIXTURES.md §3).

Reference ancestry: the AgentResult envelope + execution timing
(/root/reference/agents/base_agent.py:60-103) and usage-stats accumulator
(/root/reference/services/llm_service.py:127-136, main.py:518-539) become
one audit row per corpus partition; the reference's canonical
row-count / distinct-count assessment (/root/reference/main.py:100-103 —
including its invalid `COUNT(DISTINCT *)`, which we define properly as
distinct-url count per SURVEY.md §7 risk 5) becomes the n_docs /
n_distinct_urls columns; per-column completeness is the reference's
completeness ratio aggregate (DataQuality_AI_CaseStudy.md:111).

All metrics come from ONE groupBy over partition_id (partial+final
HashAggregate, map-side combined, plus the exchange exact distinct-url
counting needs). The per-rule hit counts are count_if columns of that
same aggregate, so the rule_hits arrays are never exploded and
re-joined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import config as C

# completeness_<name> is the non-null fraction of its source column. Text
# completeness reads text_scrubbed, which is NULL exactly when text is
# (the scrub never invents text), so the same audit row comes out of the
# with_decisions() frame and of the written decisions table, which
# carries no raw text.
COMPLETENESS_COLUMNS = {"url": "url", "warc_ts": "warc_ts",
                        "text": "text_scrubbed", "lang": "lang"}

# Columns audit_metrics reads: what a read-back of the decisions table
# must project.
AUDIT_INPUT_COLUMNS = [C.PARTITION_COL, "keep", "rule_hits",
                       "pii_email", "pii_phone", "pii_ipv4", "pii_toxicity",
                       *COMPLETENESS_COLUMNS.values()]


def audit_metrics(enriched: DataFrame,
                  approx_distinct: bool = False) -> DataFrame:
    """One audit row per partition_id from a with_decisions() frame or
    the decisions table it was written to.

    `approx_distinct=True` switches distinct-url counting to HLL
    (approx_count_distinct) — the 10^12-doc setting where exact
    count_distinct would add an extra expand/shuffle.
    """
    distinct_urls = (F.approx_count_distinct("url") if approx_distinct
                     else F.count_distinct("url"))
    n = F.count(F.lit(1))
    completeness = [
        F.round(F.count(src).cast("double") / n,
                C.SCORE_DECIMALS).alias(f"completeness_{name}")
        for name, src in COMPLETENESS_COLUMNS.items()
    ]
    # rule -> docs hitting it, keys sorted, rules with no hit left out
    # (a rule occurs at most once in a doc's rule_hits)
    rules = sorted(C.ALL_RULES)
    hit_counts = F.map_filter(
        F.map_from_arrays(
            F.array(*[F.lit(r) for r in rules]),
            F.array(*[F.count_if(F.array_contains("rule_hits", r))
                      for r in rules])),
        lambda _, v: v > 0)
    return enriched.groupBy(C.PARTITION_COL).agg(
        n.alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        distinct_urls.alias("n_distinct_urls"),
        F.sum("pii_email").cast("long").alias("n_pii_email"),
        F.sum("pii_phone").cast("long").alias("n_pii_phone"),
        F.sum("pii_ipv4").cast("long").alias("n_pii_ipv4"),
        F.sum("pii_toxicity").cast("long").alias("n_pii_toxicity"),
        *completeness,
        hit_counts.alias("rule_hit_counts"),
    )
