"""Audit lineage metrics match the decisions they summarize
(reference ancestors: main.py:100-103 count/distinct assessment,
CaseStudy.md:111 completeness ratio, base_agent.py:60-103 envelope)."""

import pandas as pd
from pyspark.sql import functions as F

from dataquality_spark import audit, config as C, pipeline


def test_audit_totals(pages_sdf, golden):
    enriched = pipeline.with_decisions(pages_sdf)
    a = audit.audit_metrics(enriched).toPandas()

    assert a.n_docs.sum() == len(golden)
    assert a.n_kept.sum() == int(golden.keep.sum())

    # rule_hit_counts map sums to the oracle's per-rule totals
    from collections import Counter
    want = Counter(r for hs in golden.rule_hits for r in hs)
    got = Counter()
    for m in a.rule_hit_counts:
        for k, v in (m or {}).items():
            got[k] += v
    assert got == want

    # completeness fractions are in [0,1]; url is always present
    assert (a.completeness_url == 1.0).all()
    assert a.completeness_text.between(0, 1).all()


def test_audit_distinct_urls(pages_sdf):
    enriched = pipeline.with_decisions(pages_sdf)
    a = audit.audit_metrics(enriched)
    per_part = (enriched.groupBy(C.PARTITION_COL)
                .agg(F.count_distinct("url").alias("want")))
    j = a.join(per_part, C.PARTITION_COL).toPandas()
    assert (j.n_distinct_urls == j.want).all()


def test_audit_one_row_per_partition(pages_sdf):
    enriched = pipeline.with_decisions(pages_sdf)
    a = audit.audit_metrics(enriched).toPandas()
    n_parts = enriched.select(C.PARTITION_COL).distinct().count()
    assert len(a) == n_parts
    assert a[C.PARTITION_COL].is_unique


def _hostile(spark, pages_sdf, pages_input):
    """pages_sdf plus null, empty and whitespace-only text, in a
    partition of their own and in one shared with ordinary docs."""
    ts = pages_input.warc_ts.iloc[0]
    extra = pd.DataFrame({
        "url": [f"https://hostile.example/{i}" for i in range(5)],
        "warc_ts": [pd.Timestamp("2031-02-01"), pd.Timestamp("2031-02-02"),
                    ts, ts, ts],
        "html": [None] * 5,
        "text": [None, "", None, "", " \n\t "],
        "lang": ["en", None, "en", "de", None],
    })
    return pages_sdf.unionByName(
        spark.createDataFrame(extra, schema=pages_sdf.schema))


def _audit_reference(enriched):
    """The explode-based audit rollup: base aggregate, rule_hits exploded
    and counted per (partition, rule), collected into a sorted map and
    joined back; text completeness from the raw text column."""
    pid = C.PARTITION_COL
    n = F.count(F.lit(1))
    base = enriched.groupBy(pid).agg(
        n.alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.count_distinct("url").alias("n_distinct_urls"),
        *[F.sum(c).cast("long").alias(f"n_{c}")
          for c in ("pii_email", "pii_phone", "pii_ipv4", "pii_toxicity")],
        *[F.round(F.count(c).cast("double") / n, C.SCORE_DECIMALS)
          .alias(f"completeness_{c}")
          for c in ("url", "warc_ts", "text", "lang")])
    hits = (enriched
            .select(pid, F.explode("rule_hits").alias("rule"))
            .groupBy(pid, "rule").agg(F.count(F.lit(1)).alias("n"))
            .groupBy(pid)
            .agg(F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("rule", "n"))))
                .alias("rule_hit_counts")))
    return base.join(hits, pid, "left").withColumn(
        "rule_hit_counts",
        F.coalesce("rule_hit_counts",
                   F.map_from_arrays(F.array().cast("array<string>"),
                                     F.array().cast("array<bigint>"))))


def _assert_same_rows(a, b):
    a = a.toPandas().sort_values(C.PARTITION_COL).reset_index(drop=True)
    b = b.toPandas().sort_values(C.PARTITION_COL).reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) > 0
    for c in a.columns:
        if c == "rule_hit_counts":
            assert [dict(x) for x in a[c]] == [dict(x) for x in b[c]], c
        else:
            assert a[c].tolist() == b[c].tolist(), c


def test_audit_single_aggregate_equals_explode_reference(
        spark, pages_sdf, pages_input):
    enriched = pipeline.with_decisions(
        _hostile(spark, pages_sdf, pages_input)).persist()
    try:
        got = audit.audit_metrics(enriched)
        # the null-text rows make some partition's text incomplete
        rows = got.toPandas()
        assert (rows.completeness_text < 1).any()
        _assert_same_rows(got, _audit_reference(enriched))
    finally:
        enriched.unpersist()


def test_audit_from_decisions_readback_equals_enriched(
        spark, pages_sdf, pages_input, tmp_path):
    """What run_pipeline audits (a slim read-back of the written
    decisions) gives the same rows as the with_decisions() frame."""
    from dataquality_spark.sources import io

    enriched = pipeline.with_decisions(
        _hostile(spark, pages_sdf, pages_input)).persist()
    try:
        decisions = enriched.select(*pipeline.DECISION_COLUMNS)
        out = str(tmp_path / "decisions")
        io.write_decisions(decisions, out)
        slim = (spark.read.schema(decisions.schema).parquet(out)
                .select(*audit.AUDIT_INPUT_COLUMNS))
        _assert_same_rows(audit.audit_metrics(slim),
                          audit.audit_metrics(enriched))
    finally:
        enriched.unpersist()
