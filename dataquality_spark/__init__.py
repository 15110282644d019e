"""dataquality_spark — a PySpark-native web-text quality-filter engine.

A from-scratch re-expression of the data-quality semantics of
kishorem-mf/DataQuality (reference snapshot at /root/reference) as an
idiomatic Spark pipeline over Common-Crawl-style web pages:

* six quality dimensions (completeness, accuracy, consistency, validity,
  uniqueness, timeliness — reference DataQuality_AI_CaseStudy.md:104-161)
  realized as Catalyst column expressions and Arrow-batched pandas UDFs;
* fastText-style language ID + KenLM-style n-gram perplexity scoring;
* Gopher/C4-style heuristic rules;
* compiled-regex PII/toxicity scrubbing (ancestor: the reference's SQL
  safety regex layer, agents/unity_sql_agent.py:127-159);
* per-partition audit lineage, which is also the resume record
  (ancestor: agents/base_agent.py:60-103 result envelope + retry logic).

Everything is DataFrame/SQL-first: no RDDs, no per-row Python UDFs.
"""

__version__ = "0.1.0"
