"""Linear word n-gram shingling vs the per-position reference.

`text_analysis.word_ngrams` zips n shifted slices of the word array so
the array is built once per doc. The reference below is the earlier
expression, which slices the word array inside a per-position lambda
(quadratic: higher-order lambdas are interpreted and re-split the text
per shingle). Both must agree row for row on hostile text.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataquality_spark.operators import dedup, text_analysis

# null, empty, whitespace-only, fewer than n words, tabs/newlines,
# NBSP and U+3000 (Java's \s does not split on them), repeated words
HOSTILE = [
    None,
    "",
    "   \t\n  ",
    "one",
    "one two",
    "a\tb\nc  d\r\ne",
    "x\u00a0y z\u3000w v",
    "\u00a0\u3000",
    "the the the the the the",
    "a b a b a b a b c",
    " leading and trailing spaces ",
]


def _reference_grams(text, n, f):
    """The per-position expression word_ngrams replaced."""
    words = F.filter(F.split(F.coalesce(text, F.lit("")), r"\s+"),
                     lambda w: w != "")
    k = F.size(words) - (n - 1)
    return F.when(k > 0, F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: f(F.concat_ws(" ", F.slice(words, i, n)))))


def _hostile(spark):
    return spark.createDataFrame(list(enumerate(HOSTILE)),
                                 "doc_id long, text string")


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingle_hashes_equal_reference(spark, n):
    ref = _reference_grams(F.col("text"), n, F.xxhash64) \
        .otherwise(F.array().cast("array<long>"))
    rows = (_hostile(spark)
            .select("doc_id",
                    dedup.shingle_hashes(F.col("text"), n).alias("got"),
                    F.array_distinct(ref).alias("want"))
            .orderBy("doc_id").collect())
    assert len(rows) == len(HOSTILE)
    for r in rows:
        assert r["got"] == r["want"], (n, HOSTILE[r["doc_id"]])
    # at least one doc shingles at every n, so the check is not vacuous
    assert any(r["got"] for r in rows)


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_word_ngrams_strings_and_md5_equal_reference(spark, n):
    words = text_analysis._words(F.col("text"))
    empty_s = F.array().cast("array<string>")
    empty_l = F.array().cast("array<long>")
    rows = (_hostile(spark)
            .select(
                "doc_id",
                text_analysis.word_ngrams(words, n).alias("got_s"),
                _reference_grams(F.col("text"), n, lambda g: g)
                .otherwise(empty_s).alias("want_s"),
                dedup.md5_shingle_hashes(F.col("text"), n).alias("got_m"),
                F.array_distinct(
                    _reference_grams(F.col("text"), n,
                                     text_analysis.md5_60)
                    .otherwise(empty_l)).alias("want_m"))
            .orderBy("doc_id").collect())
    for r in rows:
        assert r["got_s"] == r["want_s"], (n, HOSTILE[r["doc_id"]])
        assert r["got_m"] == r["want_m"], (n, HOSTILE[r["doc_id"]])
    # grams keep order and multiplicity (repeated words stay repeated)
    rep = rows[HOSTILE.index("the the the the the the")]["got_s"]
    assert rep == [" ".join(["the"] * n)] * (6 - n + 1)


def test_simhash_udf_fed_straight_from_shingles(spark):
    """A pandas UDF applied directly to shingle_hashes(...) must run:
    binding the word array through a nested lambda instead fails there
    with INTERNAL_ERROR 'Cannot evaluate expression'."""
    rows = (_hostile(spark)
            .select("doc_id",
                    dedup.simhash64_udf(
                        dedup.shingle_hashes(F.col("text"), 2))
                    .alias("sig"))
            .orderBy("doc_id").collect())
    sigs = {HOSTILE[r["doc_id"]]: r["sig"] for r in rows}
    assert sigs[None] == sigs[""] == 0          # no shingles → 0
    assert sigs["the the the the the the"] != 0
