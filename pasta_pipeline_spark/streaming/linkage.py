"""Streaming entity resolution / golden-record maintenance (the MDM
capstone, incremental).

Batch ``operators/linkage.py`` + ``operators/golden.py`` answer "which
part records are the same real-world entity, and what are the golden
field values" over a full dimension scan. This module maintains that
answer over micro-batches of arriving/updated records, so the matched
clusters and golden records are current at ANY moment without
re-comparing the whole dimension:

- ``parts_store``: the live linkage projection of every record seen so
  far, keyed LWW by ``p_partkey`` (a re-ingested key replaces its
  attributes).
- ``pairs_store``: every matched pair among the live records. Each
  micro-batch compares ONLY its own records against the (updated)
  state within the blocking key — the work per batch is
  |batch| × |block| comparisons, never |state|², which is exactly the
  blocked-comparison bound the batch operator has. A re-ingested key's
  stale pairs are anti-joined out and recomputed from its new
  attributes, so updates converge to the batch answer, not just
  appends.

``entity_resolution_from_state`` / ``golden_records_from_state`` then
equal the batch operators applied to the union of everything ingested
(pytest-pinned), whatever the batch boundaries were.

Exactly-once: both state tables are derived deterministically from the
batch rows plus the PRE-batch versions pinned by
``streaming/sink.apply_state_batch``, and each apply commits full
new versions — a retried micro-batch recomputes byte-identical tables
and overwrites, never double-applies. The pairs table is written first
so its reads of the pinned parts version materialize before the parts
overwrite GCs it.

Scale posture: the per-batch comparison is a blocked equi-join
(batch side is small; the block side is the state filtered to the
batch's blocking keys via the join itself). The two state overwrites
rewrite tables that are O(|entities|) and O(|matches|) — dimension
scale, not fact scale; a 100 TB deployment swaps TableStore for
Delta/Iceberg ``MERGE INTO`` and partitions the pairs table by a
blocking-key bucket so only touched partitions rewrite
(``TableStore.merge_partitioned`` is the local model of that shape).

Reference parity: the reference has no streaming MDM; this extends its
upsert-maintenance pattern (/root/reference/dags/processors/
db_loader.py:166-181 keeps per-key latest state per run) to the
entity-resolution surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pasta_pipeline_spark.operators.linkage import (
    PART_LINK_COLS,
    agreement_score,
    prefixed_link_side,
)
from pasta_pipeline_spark.sources.tables import TableStore
from pasta_pipeline_spark.streaming.exactly_once import start_foreach_batch
from pasta_pipeline_spark.streaming.sink import State, apply_state_batch


def apply_linkage_batch(
    batch: DataFrame,
    batch_id: int,
    parts_store: TableStore,
    pairs_store: TableStore,
    marker_path: str,
    max_adj_lev: int = 3,
    size_tol: int = 2,
    price_tol: float = 5.0,
    min_score: int = 5,
) -> None:
    """One micro-batch of linkage-state maintenance.

    Steps (all reads through the pinned pre-versions):

    1. LWW-dedupe the batch on ``p_partkey`` (deterministic pick by the
       attribute tuple) and fold it over the stored records.
    2. Score batch-vs-live candidates inside the blocking key
       ((noun token, brand) — the batch operator's key), normalize to
       ``a_key < b_key``, keep score >= ``min_score``.
    3. pairs_store := (stored pairs not touching a batch key) ∪ new
       pairs — stale pairs of re-ingested keys drop out here.
    4. parts_store := merged records.
    """
    cols = PART_LINK_COLS

    def deltas(batch: DataFrame, prior: dict) -> dict:
        w = Window.partitionBy("p_partkey").orderBy(*[F.col(c) for c in cols[1:]])
        b = (
            batch.select(*cols)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        keys = b.select("p_partkey").distinct()

        all_parts = b
        if prior["parts"] is not None:
            all_parts = (
                prior["parts"].select(*cols).join(keys, "p_partkey", "left_anti").unionByName(b)
            )

        # batch side vs the full merged state, blocked — candidates where
        # at least one endpoint is a batch record; batch-batch pairs appear
        # in both orientations and collapse in the normalized distinct
        a = prefixed_link_side(b, "a")
        s = prefixed_link_side(all_parts, "b")
        j = a.join(
            s,
            (F.col("a_noun") == F.col("b_noun"))
            & (F.col("a_p_brand") == F.col("b_p_brand"))
            & (F.col("a_p_partkey") != F.col("b_p_partkey")),
        )
        score = agreement_score("a", "b", max_adj_lev, size_tol, price_tol)
        out_pairs = (
            j.select(
                F.least(F.col("a_p_partkey"), F.col("b_p_partkey")).alias("a_key"),
                F.greatest(F.col("a_p_partkey"), F.col("b_p_partkey")).alias("b_key"),
                score.cast("long").alias("score"),
            )
            .where(F.col("score") >= min_score)
            .distinct()
        )
        if prior["pairs"] is not None:
            kept = (
                prior["pairs"]
                .select("a_key", "b_key", "score")
                .join(keys.withColumnRenamed("p_partkey", "a_key"), "a_key", "left_anti")
                .join(keys.withColumnRenamed("p_partkey", "b_key"), "b_key", "left_anti")
            )
            out_pairs = kept.unionByName(out_pairs)
        return {"pairs": out_pairs, "parts": all_parts}

    # pairs first: its plan reads the PINNED parts version, which the
    # parts overwrite below may garbage-collect
    apply_state_batch(
        batch, batch_id, marker_path,
        {"pairs": State(pairs_store), "parts": State(parts_store)},
        deltas,
    )


def incremental_linkage_sink(
    stream: DataFrame,
    parts_store: TableStore,
    pairs_store: TableStore,
    checkpoint_dir: str,
    trigger_once: bool = True,
    **link_kwargs,
):
    """foreachBatch sink maintaining entity-resolution state over a
    stream of part records. Query with
    :func:`entity_resolution_from_state` /
    :func:`golden_records_from_state` at any time."""
    return start_foreach_batch(
        stream,
        lambda b, i: apply_linkage_batch(
            b, i, parts_store, pairs_store,
            marker_path=os.path.join(checkpoint_dir, "_linkage_mb.json"), **link_kwargs,
        ),
        checkpoint_dir, trigger_once, upsert=True,
    )


def entity_resolution_from_state(pairs_store: TableStore) -> DataFrame:
    """Current matched pairs — equals ``part_linkage_pairs`` over the
    union of everything ingested (same columns, same order)."""
    return pairs_store.read().select("a_key", "b_key", "score").orderBy(
        "a_key", "b_key"
    )


def golden_records_from_state(
    parts_store: TableStore,
    pairs_store: TableStore,
    min_members: int = 2,
) -> DataFrame:
    """Current golden records — equals ``golden_part_records`` over the
    union of everything ingested: the stored pairs short-circuit the
    comparison stage, then clustering + survivorship run over the
    (dimension-scale) state exactly as in batch."""
    from pasta_pipeline_spark.operators.golden import golden_part_records

    return golden_part_records(
        parts_store.read(),
        pairs=pairs_store.read().select("a_key", "b_key", "score"),
        min_members=min_members,
    )
