"""End-to-end training-data preparation plan — the LLM-pipeline
composite (SURVEY.md §2.12 capstone).

Where ``plans/pipeline.py`` restates the reference's ETL DAG, this is
the engine's OWN flagship dataflow: raw corpus in, training-ready
corpus out, every stage an operator that is individually
oracle-checked elsewhere in the catalog:

    1. quality gate      — length + repetition thresholds
                           (text_analysis.with_repetition, the row-local
                           step of repetition_metrics)
    2. exact dedup       — keep lowest doc_id per content md5, NULL last
                           (the W2 keep-first policy, dedup ladder tier 0)
    3. decontamination   — drop docs sharing any 5-gram with the
                           benchmark set (text_analysis.with_contamination,
                           the row-local step of contamination_check)
    4. temperature mix   — √n per-source quotas, md5-rank selection
                           (sampling.temperature_sample)

The composite stays one lazy DataFrame — Catalyst sees the whole
plan, and building it submits no Spark job. Every stage's arithmetic
is cross-engine exact, so the ENTIRE pipeline carries a single DuckDB
oracle (queries/catalog.py::training_corpus) — end-to-end
correctness, not just per-stage.

Scale shape: the three gates (words, repetition, contamination) are
one row-local projection over the corpus scan — no (doc, gram)
shuffle; the benchmark shingles are one ``collect_set`` row,
broadcast. The only shuffles are the (md5) keep-first window and the
(source) window of the mix. The deduplicated (id, source, n_words)
frame is persisted lazily, so the two branches of the mix (per-source
counts and the rank window) read it instead of re-running the corpus
side; it is released through ``attach_cached_deps``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pasta_pipeline_spark.functions.text import tokenize_ws, word_count
from pasta_pipeline_spark.operators.sampling import temperature_sample
from pasta_pipeline_spark.operators.text_analysis import (
    with_contamination,
    with_repetition,
)
from pasta_pipeline_spark.operators.util import attach_cached_deps


def prepare_training_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    min_words: int = 20,
    max_dup2_frac_fp: int = 6000,
    target_total: int = 150,
) -> DataFrame:
    """Quality-gate, dedup, decontaminate, and temperature-mix ``docs``
    into a training corpus of ~``target_total`` documents.

    Returns (id, source, n_words) — deterministic: same inputs give
    the identical corpus on any engine, partitioning, or run. A row is
    a document: every gate judges a row on its own text, so rows that
    share an id (NULL included) are never merged, and a NULL id ranks
    after every real id, as in the oracle.
    """
    # 1 + 3. the three gates — enough words, not repetition-dominated,
    # no 5-gram shared with the benchmark — as one row-local projection
    toks = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.col(text_col),
        word_count(F.col(text_col)).cast("long").alias("n_words"),
        tokenize_ws(F.col(text_col)).alias("__toks"),
    )
    scored = with_contamination(
        with_repetition(toks, "__toks"), benchmark, "__toks", text_col, n=5
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.coalesce(F.col("dup2_frac_fp"), F.lit(0)) <= max_dup2_frac_fp)
        & (F.col("n_contaminated") == 0)
    )

    # 2. exact dedup: keep-first (lowest id) per content hash — W2
    # policy. Each gate is a function of the text alone, so every copy
    # in an md5 group gets the same verdict: keeping the first copy and
    # then applying the verdict equals gating first. Filtering above
    # the window also stops Catalyst from pushing the gates below the
    # projection, which would evaluate the token arrays twice.
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(
        F.col(id_col).asc_nulls_last()
    )
    deduped = (
        scored.select(id_col, source_col, text_col, "n_words", keep.alias("__keep"))
        .withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & F.col("__keep"))
        .select(id_col, source_col, "n_words")
        .persist()
    )

    # 4. temperature mixing to the target size
    mixed = temperature_sample(
        deduped,
        id_col=id_col,
        source_col=source_col,
        target_total=target_total,
    )
    return attach_cached_deps(mixed.select(id_col, source_col, "n_words"), [deduped])
