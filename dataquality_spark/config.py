"""Shared rule constants — the single source of truth for quality semantics.

Both the Spark pipeline (dataquality_spark.pipeline) and the pure-pandas
oracle (dataquality_spark.oracle) import ONLY the constants below; their
implementations are independent (Catalyst expressions / Arrow pandas UDFs
vs. plain pandas), so the oracle-vs-pipeline tests are non-circular.

Rule thresholds follow the published Gopher (Rae et al. 2021) and C4
(Raffel et al. 2020) web-text filtering heuristics; the six-dimension
mapping mirrors the reference's quality-metric semantics
(/root/reference/DataQuality_AI_CaseStudy.md:104-161).
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Rule identifiers (fixed vocabulary; rule_hits arrays are sorted by these)
# ---------------------------------------------------------------------------
R_EMPTY = "empty_text"              # completeness: null/blank text
R_SHORT = "too_few_words"           # completeness: Gopher word-count floor
R_LONG = "too_many_words"           # completeness: Gopher word-count ceiling
R_MEAN_WORD_LEN = "mean_word_len"   # validity: Gopher mean-word-length band
R_SYMBOL_RATIO = "symbol_ratio"     # validity: symbol-to-word ratio
R_STOPWORD = "stopword_density"     # validity: C4/Gopher stopword floor
R_REPEATED_LINES = "repeated_lines" # uniqueness: dup-line fraction in doc
R_DUP_URL = "duplicate_url"         # uniqueness: corpus-level url dedup
R_LANG_MISMATCH = "lang_mismatch"   # consistency: langid vs declared lang
R_PPL = "high_perplexity"           # accuracy: KenLM-style LM score
R_STALE = "stale_timestamp"         # timeliness: warc_ts recency window

# Evaluation order is fixed so rule_hits arrays are deterministic.
ALL_RULES = [
    R_EMPTY, R_SHORT, R_LONG, R_MEAN_WORD_LEN, R_SYMBOL_RATIO,
    R_STOPWORD, R_REPEATED_LINES, R_DUP_URL, R_LANG_MISMATCH, R_PPL,
    R_STALE,
]

# ---------------------------------------------------------------------------
# Thresholds
# ---------------------------------------------------------------------------
MIN_WORDS = 50                  # Gopher: 50 <= word count <= 100,000
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 1.5         # Gopher: mean word length in [3, 10]; we
MAX_MEAN_WORD_LEN = 10.0        # relax the floor to 1.5 so CJK-token docs pass
MAX_SYMBOL_WORD_RATIO = 0.10    # Gopher: '#'/'...' to word ratio <= 0.1
MIN_STOPWORD_FRACTION = 0.06    # Gopher: >=80% words ... we use density floor
MIN_STOPWORD_COUNT = 2          # Gopher: doc must contain >=2 stopwords
MAX_REPEATED_LINE_FRACTION = 0.30  # Gopher: fraction of duplicated lines
LANGID_MIN_SCORE = 0.50         # langid confidence needed to vote a mismatch
MAX_PPL = 1_000.0               # accuracy: word-bigram perplexity ceiling
TS_MIN_ISO = "2024-07-01 00:00:00"  # timeliness: fixed recency cutoff (no
                                    # wall clock anywhere — determinism)

# Arrow batch sizing for pandas UDF stages (docs per batch).
# Round 2 (per-doc loop UDF) swept to 10k. Round 3's vectorized UDF
# changes the economics: every stat is now a full-batch kernel pass,
# so the batch's text (~0.8 KB/doc) plus temporaries must stay
# cache-resident per worker or 32 concurrent workers saturate the
# DRAM bus. Re-swept at 32 slots on 320k docs (system Arrow pool,
# min-of-3): 512→132k, 1024→184k, 4096→216k, 10000→64k docs/s —
# 4096 (~3.3 MB text/batch) is the new knee.
ARROW_MAX_RECORDS_PER_BATCH = 4_096

# ---------------------------------------------------------------------------
# Tokenization contract
# ---------------------------------------------------------------------------
# A "word" is a maximal run of non-ASCII-whitespace characters; the synthetic
# corpus only ever emits ' ' and '\n' separators so Python str.split() and
# Spark split(text, '[ \\n\\t\\r]+') agree exactly.
WORD_SPLIT_REGEX = "[ \\n\\t\\r]+"

# A "line" is a '\n'-separated segment with surrounding spaces stripped.
LINE_SEP = "\n"

# Symbol characters counted by the symbol-to-word-ratio rule.
SYMBOL_CHARS = "#$%^&*{}|\\~…"

# ---------------------------------------------------------------------------
# Languages and stopwords
# ---------------------------------------------------------------------------
LANGS = ["en", "fr", "es", "de", "zh"]

STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "was", "that", "for",
           "with", "as", "on", "at", "by", "an", "be", "this", "are"],
    "fr": ["le", "la", "les", "de", "des", "et", "en", "un", "une", "est",
           "que", "qui", "dans", "pour", "sur", "avec", "pas", "au"],
    "es": ["el", "los", "de", "y", "en", "un", "una", "es", "que",
           "se", "del", "las", "por", "con", "para", "su", "al", "lo"],
    "de": ["der", "die", "das", "und", "von", "zu", "mit", "ist", "den",
           "im", "für", "auf", "ein", "eine", "nicht", "sich", "dem", "als"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "他", "这", "中",
           "大", "来", "上", "国", "个", "到", "说", "们"],
}

# Union stopword set used by the density rule (lang-agnostic floor).
ALL_STOPWORDS = sorted({w for ws in STOPWORDS.values() for w in ws})

# Per-language content vocabularies for the synthetic corpus and the
# langid / perplexity model training streams.
CONTENT_WORDS: dict[str, list[str]] = {
    "en": ["data", "quality", "filter", "system", "report", "value",
           "table", "record", "measure", "market", "people", "world",
           "house", "water", "night", "light", "story", "paper", "number",
           "point", "right", "place", "group", "hand", "week", "company"],
    "fr": ["qualité", "données", "système", "rapport", "valeur", "tableau",
           "mesure", "marché", "gens", "monde", "maison", "eau", "nuit",
           "lumière", "histoire", "papier", "nombre", "point", "droit",
           "lieu", "groupe", "main", "semaine", "société", "temps", "ville"],
    "es": ["calidad", "datos", "sistema", "informe", "valor", "tabla",
           "registro", "medida", "mercado", "gente", "mundo", "casa",
           "agua", "noche", "luz", "historia", "papel", "número", "punto",
           "derecho", "lugar", "grupo", "mano", "semana", "empresa", "tiempo"],
    "de": ["qualität", "daten", "system", "bericht", "wert", "tabelle",
           "eintrag", "messung", "markt", "leute", "welt", "haus", "wasser",
           "nacht", "licht", "geschichte", "papier", "nummer", "punkt",
           "recht", "ort", "gruppe", "hand", "woche", "firma", "zeit"],
    "zh": ["数据", "质量", "系统", "报告", "价值", "表格", "记录", "测量",
           "市场", "人们", "世界", "房子", "水面", "夜晚", "灯光", "故事",
           "纸张", "数字", "要点", "权利", "地方", "团队", "手上", "星期",
           "公司", "时间"],
}

# ---------------------------------------------------------------------------
# PII / toxicity scrub patterns (semantic graft of the reference's
# forbidden-operation regex layer, agents/unity_sql_agent.py:127-159).
#
# Applied IN THIS ORDER via Python `re` on both the oracle and the Spark
# pandas-UDF side — byte-identical output depends on fixed order + fixed
# replacement tokens. Patterns are re2-safe (no backrefs/lookbehind) so the
# SQL-expressible variants in __spark_entry__ behave identically in DuckDB.
# ---------------------------------------------------------------------------
SCRUB_PATTERNS: list[tuple[str, str, str]] = [
    # (rule_id, regex, replacement)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{1,3}[-.][0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}", "<PHONE>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
]

# Synthetic toxicity blocklist (placeholder lexicon per FIXTURES.md §1).
BLOCKLIST_WORDS = [f"badword{i}" for i in range(1, 17)]
SCRUB_PATTERNS.append(
    ("toxicity", r"\b(?:" + "|".join(BLOCKLIST_WORDS) + r")\b", "<BAD>")
)

# ---------------------------------------------------------------------------
# Partitioning / skew
# ---------------------------------------------------------------------------
PARTITION_COL = "partition_id"       # derived: date_format(warc_ts,'yyyy-MM')
SALT_BUCKETS = 16                    # salt modulus for skewed-host repartition
# Broadcast the url-dedup flag frame when the duplicated-url set is at
# most this many rows (~60 B/row ⇒ ≤ ~300 MB build side); beyond it the
# flag join falls back to a shuffle join.
BROADCAST_FLAGS_MAX_ROWS = 5_000_000
# Near-dup connected components run as a union-find on the driver when
# the pair graph has at most this many distinct edges (≤ ~550 B/edge of
# driver Python memory at peak for the collected rows and the
# union-find map ⇒ ≤ ~110 MB; the broadcast (node, component) map is
# ≤ 2 nodes/edge × 16 B ⇒ ≤ ~6.4 MB); beyond it
# graph.connected_components runs the distributed large-star/small-star
# loop. The benchmark's kept docs (~15% planted near-dups) verify 283
# edges per 1k docs, so at that rate the cap covers ~700k docs.
COMPONENTS_DRIVER_MAX_EDGES = 200_000

# Optional ingest-materialized content fingerprint. When the pages input
# carries this column (= crc32 of the UTF-8 bytes of coalesce(text,''),
# exactly pipeline._dup_hash / zlib.crc32 semantics — writers add it via
# pipeline.with_dup_fingerprint), the url-dedup flags branch reads
# (url, warc_ts, text_crc32) ≈ 20 B/row instead of re-reading the
# dominant text column, cutting the second corpus scan ~40× at 100 TB.
FINGERPRINT_COL = "text_crc32"

# Float rounding applied before any cross-engine comparison.
SCORE_DECIMALS = 6
