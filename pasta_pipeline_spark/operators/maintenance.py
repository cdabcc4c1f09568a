"""Maintenance composite — O6 / lifecycle §3.2 of SURVEY.md.

Parity source: run_full_cleanup
(/root/reference/dags/processors/duplicate_remover.py:314-355), which
sequences stats → five cleanups → stats → summary. Each Postgres
DELETE/UPDATE becomes a pure transform here; the caller persists the
returned DataFrames atomically (plans/pipeline.py owns the table swap).

Deleted-row counts come from one tagged aggregate (each row tagged
with the step that drops it; see :func:`run_full_cleanup`), the analog
of the reference's ``cur.rowcount`` collection.

Documented deviation (step order): the reference nulls orphan links
*before* the failed-link and retention deletes (duplicate_remover.py:
327-329); we run the orphan rewrite *last*, against the final content
set. Links pointing at rows deleted in the current run are therefore
nulled one run earlier here, and ``cleaned_links`` counts those extra
rewrites — strictly more consistent output (no link ever survives a
run pointing at a row that run deleted), but a different per-run stats
split than the reference would report.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pasta_pipeline_spark.functions.timestamps import age_predicate
from pasta_pipeline_spark.operators.antijoin import anti_join, null_out_orphans
from pasta_pipeline_spark.operators.dedup import RANK, rank_content, rank_latest
from pasta_pipeline_spark.operators.stats import cleanup_summary

#: Give-up set for failed fetches (duplicate_remover.py:162).
FAILED_STATUSES = ("error", "timeout", "client_error", "server_error")

#: The per-step deleted counts, in the order the stats report them.
STEPS = (
    "deleted_messages",
    "deleted_content",
    "cleaned_links",
    "deleted_failed",
    "deleted_old_messages",
    "deleted_old_content",
)
TAG = "__cleanup_step"


def _tag(df: DataFrame, steps: list[tuple[str, Column]]) -> DataFrame:
    """``df`` plus :data:`TAG`: the name of the first step whose
    predicate holds, else NULL (the row survives). A NULL predicate
    drops nothing, as in the reference's WHERE clauses."""
    tag = None
    for name, pred in steps:
        hit = F.coalesce(pred, F.lit(False))
        tag = F.when(hit, name) if tag is None else tag.when(hit, name)
    return df.withColumn(TAG, tag)


@dataclass
class CleanupResult:
    messages: DataFrame
    content: DataFrame
    stats: dict


def _live_data_file_count(store) -> int:
    """Data files in a TableStore's live version dir (metadata and
    dot-files excluded) — the small-file metric index compaction is
    judged by."""
    import os

    v = store.current_version()
    if v is None:
        return 0
    n = 0
    for _root, _dirs, files in os.walk(os.path.join(store.path, v)):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


def run_full_cleanup(
    messages: DataFrame,
    content: DataFrame,
    retention_days: int = 90,
    now: Column | None = None,
    lsh_index_store=None,
    lsh_index_buckets: int = 32,
) -> CleanupResult:
    """The weekly maintenance job (duplicate_remover.py:314-355):
    dedup both tables, null out orphan links, drop exhausted failures,
    apply retention, and report per-step deleted counts.

    ``lsh_index_store``: when the deployment also runs the streaming
    near-dup index (streaming/dedup.py lsh_index_batch), pass its
    TableStore here and the SAME maintenance job compacts the
    signature store (streaming/dedup.py compact_lsh_index — the
    lakehouse-OPTIMIZE analog): micro-batch merges accrete one file
    per touched bucket per batch, and compaction rewrites the live
    version to ~one file per bucket while preserving the ``__bkt``
    layout so subsequent merges stay differential. The stats dict
    gains ``index_files_before`` / ``index_files_after`` so the run
    report shows the reclaim, alongside the table-cleanup counts.

    Counting: each row is tagged with the first step that drops it,
    in the reference's step order, and a surviving message whose link
    matches no surviving content url is tagged ``cleaned_links``. All
    six counts come from one ``groupBy(tag)`` over the union of those
    tags — one driver action, the analog of the reference's
    per-statement ``cur.rowcount``. The returned frames are the
    untagged rows (orphan links nulled); they are not cached, so the
    caller's table write evaluates their plans once more.
    """
    loser = F.col(RANK) != 1
    # W1 keep-latest per message_id (duplicate_remover.py:28-47; see
    # dedup.py for the reference-bug note on its DELETE predicate),
    # then retention on the message date (:196-202)
    messages = _tag(rank_latest(messages, "message_id", "processed_at"), [
        ("deleted_messages", loser),
        ("deleted_old_messages", age_predicate("date", retention_days, now=now)),
    ])
    # W2 keep-first per content_hash (:74-95), then failed fetches that
    # exhausted retries and were not checked for 7+ days (:158-165),
    # then retention on processed_at, successes kept forever (:205-211)
    content = _tag(rank_content(content), [
        ("deleted_content", loser),
        ("deleted_failed", F.col("status").isin(*FAILED_STATUSES)
         & (F.col("retry_count") >= 3)
         & age_predicate("last_checked", 7, now=now)),
        ("deleted_old_content", age_predicate("processed_at", retention_days, now=now)
         & (F.col("status") != "success")),
    ])
    m2 = messages.filter(F.col(TAG).isNull()).drop(RANK, TAG)
    c3 = content.filter(F.col(TAG).isNull()).drop(RANK, TAG)
    # orphan rewrite last, against the final content set
    orphans = anti_join(
        m2.filter(F.col("telegraph_link").isNotNull()), c3, "telegraph_link", "url"
    ).select(F.lit("cleaned_links").alias(TAG))
    tags = messages.select(TAG).unionByName(content.select(TAG)).unionByName(orphans)
    found = dict(tags.filter(F.col(TAG).isNotNull()).groupBy(TAG).count().collect())
    counts = {step: found.get(step, 0) for step in STEPS}
    stats = cleanup_summary(counts)
    if lsh_index_store is not None and lsh_index_store.exists():
        from pasta_pipeline_spark.streaming.dedup import compact_lsh_index

        # after the summary: file metrics are not deleted-row counts
        # and must not inflate total_cleaned
        stats["index_files_before"] = _live_data_file_count(lsh_index_store)
        compact_lsh_index(lsh_index_store, index_buckets=lsh_index_buckets)
        stats["index_files_after"] = _live_data_file_count(lsh_index_store)
    return CleanupResult(messages=null_out_orphans(m2, c3), content=c3, stats=stats)
