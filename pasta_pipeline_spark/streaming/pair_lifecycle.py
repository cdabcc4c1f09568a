"""Streaming maintenance of the dedup-pair lifecycle report.

The batch operator (operators/pair_ttl.py pair_history_report) scans
the FULL pair-detection history every time it runs. This module
maintains the same report incrementally so the history is touched
once, as it streams in:

- ``pair_state`` (a TableStore): per pair, the first-seen batch and
  the one OPEN alive-interval ``[s, e]`` under the TTL. Bounded by the
  number of distinct pairs, keyed-merge maintained (differential
  bucket rewrites), never rescanned.
- ``closed_deltas/`` (append-only parquet): when a pair's island
  closes (a re-detection arrives past its TTL horizon), the island is
  frozen as two deltas (+1 at start, -1 past end) — the
  delta-encoding the batch operator derives from scratch.
- ``batch_stats/`` (append-only parquet): per observed batch,
  ``n_new`` / ``n_redetected`` counts — decided against the state at
  arrival time, no first-seen window over history.

:func:`lifecycle_report` assembles the exact
``(batch_id, n_new, n_redetected, n_active)`` report from those three
pieces: closed deltas ∪ open-island deltas, running-summed over the
batch spine (metadata-scale, same class as the batch operator's
spine). Equivalence with the batch operator is pytest-pinned.

Contract: micro-batches must arrive with non-decreasing ``batch_id``
per pair (the order streaming/dedup.py's LSH sink appends them);
within one micro-batch any mix of batch ids is handled (islands are
merged by an expression fold, no per-row Python).

Retry safety (exactly-once): the step performs three writes — deltas
append, stats append, state merge — which foreachBatch may re-run
with the same micro-batch id after a mid-step crash. All three are
made idempotent via streaming/exactly_once.py: the state is read AT
THE PINNED pre-batch version (marker written before any mutation, so
a retry recomputes byte-identical outputs even if the merge already
landed), appended frames are INSERT-OVERWRITten into their own
``__mb`` partition, and re-merging identical keyed rows is a no-op.
"new pair" is decided against the PINNED state, which a retry
reproduces exactly even after the merge landed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pasta_pipeline_spark.streaming.exactly_once import start_foreach_batch
from pasta_pipeline_spark.streaming.sink import State, apply_state_batch


def _merge_islands(all_islands):
    """Fold a sorted array of (s, e) intervals (TTL-extended alive
    intervals, sorted by start) into (open: the last merged interval,
    closed: every interval frozen before it). Pure expression — both
    branches produce identical struct shapes."""
    empty_closed = F.array().cast("array<struct<s:bigint,e:bigint>>")
    init = F.struct(
        F.element_at(all_islands, 1).alias("open"), empty_closed.alias("closed")
    )
    tail = F.slice(all_islands, 2, F.greatest(F.size(all_islands) - 1, F.lit(0)))

    def step(acc, isl):
        ext = isl["s"] <= acc["open"]["e"] + 1
        merged_open = F.struct(
            acc["open"]["s"].alias("s"),
            F.greatest(acc["open"]["e"], isl["e"]).alias("e"),
        )
        return F.when(
            ext, F.struct(merged_open.alias("open"), acc["closed"].alias("closed"))
        ).otherwise(
            F.struct(
                F.struct(isl["s"].alias("s"), isl["e"].alias("e")).alias("open"),
                F.concat(acc["closed"], F.array(acc["open"])).alias("closed"),
            )
        )

    return F.aggregate(tail, init, step)


def pair_lifecycle_sink(
    pairs_stream: DataFrame,
    state_store,
    aux_dir: str,
    checkpoint_dir: str,
    ttl: int = 3,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    batch_col: str = "batch_id",
    n_buckets: int = 16,
    trigger_once: bool = True,
):
    """Maintain the pair-lifecycle state from a stream of detections
    ``(a_col, b_col, batch_col)`` (the rows streaming/dedup.py appends
    to its pairs history). Each micro-batch: detections reduce to
    per-pair islands (the batch operator's gaps-and-islands window,
    scoped to the BATCH), merge with the pair's stored open island via
    one expression fold, frozen islands append to the delta log, and
    the state upserts differentially (bucket-keyed merge). Work per
    micro-batch is linear in the batch's pair count — history is never
    rescanned."""
    if ttl < 1:
        raise ValueError("ttl must be >= 1")

    def step(batch: DataFrame, _mb_id: int) -> None:
        apply_lifecycle_batch(
            batch, _mb_id, state_store, aux_dir, ttl=ttl,
            a_col=a_col, b_col=b_col, batch_col=batch_col,
            n_buckets=n_buckets,
        )

    return start_foreach_batch(pairs_stream, step, checkpoint_dir, trigger_once)


def apply_lifecycle_batch(
    batch: DataFrame,
    _mb_id: int,
    state_store,
    aux_dir: str,
    ttl: int = 3,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    batch_col: str = "batch_id",
    n_buckets: int = 16,
) -> None:
    """One micro-batch of lifecycle maintenance — the foreachBatch step
    body, module-level so tests can drive a simulated intra-batch
    retry (same ``_mb_id`` twice). Idempotent under re-execution: see
    the module notes and streaming/exactly_once.py."""
    apply_state_batch(
        batch, _mb_id, f"{aux_dir}/_pair_lifecycle_mb.json",
        {"state": State(
            state_store, keys=["a", "b"],
            bucket=F.pmod(F.xxhash64(F.col("a"), F.col("b")), F.lit(n_buckets)),
        )},
        lambda b, pinned: _lifecycle_deltas(
            b, pinned["state"], _mb_id, aux_dir, ttl, a_col, b_col, batch_col
        ),
    )


def _lifecycle_deltas(batch, pinned, _mb_id, aux_dir, ttl, a_col, b_col, batch_col) -> dict:
    """The lifecycle step against the state ``pinned`` at the batch's
    start: writes the closed-island deltas and the batch stats (each
    overwriting its own ``__mb`` partition) and returns the state
    updates; nothing for an empty batch."""
    from pyspark.sql import Window

    from pasta_pipeline_spark.streaming.exactly_once import overwrite_by_batch

    deltas_dir = f"{aux_dir}/closed_deltas"
    stats_dir = f"{aux_dir}/batch_stats"
    det = (
        batch.select(
            F.col(a_col).alias("a"),
            F.col(b_col).alias("b"),
            F.col(batch_col).cast("long").alias("bt"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if not det.take(1):
        return {}
    if pinned is not None:
        state = pinned.drop("__bkt")
    else:
        # typed empty frame — id columns inherit the stream's types
        state = (
            det.select("a", "b")
            .limit(0)
            .withColumn("first_b", F.lit(None).cast("long"))
            .withColumn("s", F.lit(None).cast("long"))
            .withColumn("e", F.lit(None).cast("long"))
        )
    # within-batch islands per pair (same idiom as the batch op)
    wo = Window.partitionBy("a", "b").orderBy("bt")
    prev_max_end = F.max(F.col("bt") + F.lit(ttl - 1)).over(
        wo.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = (
        det.withColumn(
            "brk",
            (
                F.col("bt") > F.coalesce(prev_max_end, F.lit(-(1 << 60))) + 1
            ).cast("long"),
        )
        .withColumn(
            "island", F.sum("brk").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("a", "b", "island")
        .agg(F.min("bt").alias("s"), (F.max("bt") + F.lit(ttl - 1)).alias("e"))
        .groupBy("a", "b")
        .agg(
            F.array_sort(F.collect_list(F.struct("s", "e"))).alias("islands"),
            F.min("s").alias("batch_first_bt"),
        )
    )
    j = isl.alias("n").join(
        state.alias("o").withColumnRenamed("a", "oa").withColumnRenamed("b", "ob"),
        (F.col("n.a") == F.col("oa")) & (F.col("n.b") == F.col("ob")),
        "left",
    )
    prior = F.when(
        F.col("o.s").isNotNull(),
        F.array(F.struct(F.col("o.s").alias("s"), F.col("o.e").alias("e"))),
    ).otherwise(F.array().cast("array<struct<s:bigint,e:bigint>>"))
    folded = j.select(
        F.col("n.a").alias("a"),
        F.col("n.b").alias("b"),
        F.least(
            F.coalesce(F.col("o.first_b"), F.col("batch_first_bt")),
            F.col("batch_first_bt"),
        ).alias("first_b"),
        F.col("o.first_b").isNull().alias("is_new_pair"),
        F.col("batch_first_bt"),
        _merge_islands(
            F.array_sort(F.concat(prior, F.col("islands")))
        ).alias("acc"),
    ).localCheckpoint(eager=True)

    closed = folded.select(F.explode(F.col("acc.closed")).alias("c")).select(
        F.col("c.s").alias("s"), F.col("c.e").alias("e")
    )
    overwrite_by_batch(
        closed.select(
            F.col("s").alias("bt"), F.lit(1).cast("long").alias("d")
        ).unionByName(
            closed.select(
                (F.col("e") + 1).alias("bt"), F.lit(-1).cast("long").alias("d")
            )
        ),
        _mb_id,
        deltas_dir,
    )

    # per-batch new/redetected, decided against pre-batch state
    stats = (
        det.join(
            folded.select("a", "b", "is_new_pair", "batch_first_bt"), ["a", "b"]
        )
        .groupBy("bt")
        .agg(
            F.sum(
                (F.col("is_new_pair") & (F.col("bt") == F.col("batch_first_bt"))).cast(
                    "long"
                )
            ).alias("n_new"),
            F.sum(
                (
                    ~F.col("is_new_pair") | (F.col("bt") != F.col("batch_first_bt"))
                ).cast("long")
            ).alias("n_redetected"),
        )
    )
    overwrite_by_batch(stats, _mb_id, stats_dir)

    return {"state": folded.select(
        "a",
        "b",
        "first_b",
        F.col("acc.open.s").alias("s"),
        F.col("acc.open.e").alias("e"),
    )}


def lifecycle_report(
    spark: SparkSession, state_store, aux_dir: str
) -> DataFrame:
    """Assemble the per-batch lifecycle report from maintained state:
    identical schema and values to operators/pair_ttl.py
    pair_history_report over the full history (pytest-pinned). Cost is
    linear in state + delta-log size (pairs and islands), never in
    detection history."""
    from pyspark.sql import Window

    deltas_dir = f"{aux_dir}/closed_deltas"
    stats_dir = f"{aux_dir}/batch_stats"
    stats = (
        spark.read.parquet(stats_dir)
        .groupBy("bt")
        .agg(F.sum("n_new").alias("n_new"), F.sum("n_redetected").alias("n_redetected"))
    )
    open_deltas = (
        state_store.read()
        .select(F.col("s"), F.col("e"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("s").alias("bt"), F.lit(1).cast("long").alias("d")),
                    F.struct((F.col("e") + 1).alias("bt"), F.lit(-1).cast("long").alias("d")),
                )
            ).alias("x")
        )
        .select("x.bt", "x.d")
    )
    try:
        closed_deltas = spark.read.parquet(deltas_dir).select("bt", "d")
    except Exception:
        closed_deltas = open_deltas.limit(0)
    dsum = open_deltas.unionByName(closed_deltas).groupBy("bt").agg(
        F.sum("d").alias("d")
    )
    spine = stats.agg(F.min("bt").alias("__lo"), F.max("bt").alias("__hi")).select(
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("bt")
    )
    active = spine.join(dsum, "bt", "left").withColumn(
        "n_active",
        F.sum(F.coalesce(F.col("d"), F.lit(0))).over(
            Window.orderBy("bt").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return active.join(stats, "bt", "left").select(
        F.col("bt").alias("batch_id"),
        F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
        F.coalesce(F.col("n_redetected"), F.lit(0)).cast("long").alias("n_redetected"),
        F.col("n_active").cast("long").alias("n_active"),
    )
