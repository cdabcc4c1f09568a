"""Value-for-value pin of the row-local document metrics.

``repetition_metrics`` and ``contamination_check`` compute each
document's numbers from its own row: a sorted bigram array with one
run-length pass, and an ``array_intersect`` against one broadcast
benchmark-shingle set. The references are the earlier Spark plans,
kept here verbatim: bigrams exploded and grouped by ``(doc, gram)``
then by ``doc``; 5-gram shingles exploded and joined to the distinct
benchmark shingles, grouped by doc and joined back to the sizes. On
unique non-NULL ids the two forms must agree on every column, so the
oracle hashes of the catalog queries do not move.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pasta_pipeline_spark.functions.text import tokenize_ws
from pasta_pipeline_spark.operators.text_analysis import (
    contamination_check,
    repetition_metrics,
)
from pasta_pipeline_spark.operators.text_dedup import shingles

TEXTS = [
    None,
    "",
    "   \t\n ",
    "one",
    "two tokens",
    "a b c d",                           # < 5 tokens: whole-text shingle
    "a b a b a b a b c",                 # repeated bigrams
    "The the THE cat Cat the the",       # mixed case folds to one token
    "a\tb\nc  d\t\ta b\n\na b",          # tabs and newlines split too
    "x y z x y z x y z w v u t",
    "p q p q r s r s",                   # tied top bigrams
    "Éclair éclair ÉCLAIR naïve café café",
    " ".join(f"w{i % 7}" for i in range(60)),
]

BENCH = [
    "a b c d",
    "x y z x y z x y",
    None,                                # its one shingle is the empty text
    "the the the cat cat",
    "w1 w2 w3 w4 w5 w6",
]


def _reference_repetition(docs, id_col="doc_id", text_col="text", scale=10000):
    toks = tokenize_ws(F.col(text_col))
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    b = (
        docs.withColumn("__n", n)
        .filter(F.col("__n") >= 2)
        .select(F.col(id_col), F.explode(bigrams).alias("g"))
    )
    counts = b.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("cnt"))
    m = counts.groupBy(id_col).agg(
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("top"),
        F.count(F.lit(1)).alias("dist"),
    )
    return m.select(
        F.col(id_col),
        F.col("total").cast("long").alias("n_bigrams"),
        F.expr(f"({scale} * top) div total").cast("long").alias("top2_frac_fp"),
        F.expr(f"({scale} * (total - dist)) div total")
        .cast("long")
        .alias("dup2_frac_fp"),
    )


def _reference_contamination(
    corpus, benchmark, id_col="doc_id", text_col="text", n=5, scale=10000
):
    c_grams = corpus.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("g")
    )
    b_grams = (
        benchmark.select(F.explode(shingles(F.col(text_col), n)).alias("g"))
        .distinct()
    )
    sizes = c_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        c_grams.join(b_grams, "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        sizes.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            F.expr(f"({scale} * coalesce(n_contaminated, 0)) div n_grams")
            .cast("long")
            .alias("contam_frac_fp"),
        )
    )


def _by_id(df) -> dict:
    return {r[0]: tuple(r[1:]) for r in df.collect()}


def _docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS, start=1)), "doc_id long, text string"
    )


def test_repetition_metrics_matches_two_shuffle_reference(spark):
    docs = _docs(spark)
    got = _by_id(repetition_metrics(docs))
    want = _by_id(_reference_repetition(docs))
    assert got == want
    # the short texts (NULL, empty, blank, one token) have no bigrams
    assert set(want) == set(range(5, len(TEXTS) + 1))
    # the fixture exercises both ratios away from zero
    assert any(v[1] > 0 and v[2] > 0 for v in want.values())
    assert len({v[1] for v in want.values()}) > 3


def test_contamination_check_matches_join_reference(spark):
    docs = _docs(spark)
    bench = spark.createDataFrame(
        list(enumerate(BENCH, start=100)), "doc_id long, text string"
    )
    got = _by_id(contamination_check(docs, bench, n=5))
    want = _by_id(_reference_contamination(docs, bench, n=5))
    assert got == want
    assert set(want) == set(range(1, len(TEXTS) + 1))
    # hits through a 5-gram, the whole-text shingle and the empty text
    assert sum(1 for v in want.values() if v[1] > 0) >= 4


def test_contamination_check_with_an_empty_benchmark(spark):
    docs = _docs(spark)
    bench = spark.createDataFrame([], "doc_id long, text string")
    got = _by_id(contamination_check(docs, bench, n=5))
    assert got == _by_id(_reference_contamination(docs, bench, n=5))
    assert all(v[1] == 0 for v in got.values())
