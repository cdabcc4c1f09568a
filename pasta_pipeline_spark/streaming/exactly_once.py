"""Exactly-once guard for the ``foreachBatch`` sinks of this package.

Structured Streaming's ``foreachBatch`` body runs AT-LEAST-ONCE: a
micro-batch whose step crashes midway (or completes but dies before
the checkpoint commit) is re-run with the SAME ``batch_id`` and the
same input rows. A step that performs several non-atomic writes —
append deltas, append stats, merge state — therefore double-applies
whatever completed before the crash. Checkpointing alone does NOT
prevent this: the checkpoint only dedups across *committed* batches,
never within a retried one.

Every sink starts through :func:`start_foreach_batch` (the one
checkpoint check and query start), and each sink restores idempotence
by one of three mechanisms:

1. **Keyed last-writer-wins upsert** (``foreach_batch_merge``,
   ``foreach_batch_merge_partitioned``, ``incremental_frontier_sink``,
   ``incremental_lsh_dedup``'s signature index): re-merging the same
   keyed rows is a no-op, so a rerun needs no guard.

2. **State merges → pre-version pinning** (:class:`MicroBatchPin`):
   every other stateful sink in ``sink.py``, plus
   ``incremental_linkage_sink`` and ``pair_lifecycle_sink``, runs its
   batch through ``sink.apply_state_batch``. Before the first state
   mutation it records ``{batch_id → the current version of every
   state table}`` in a marker file. All reads that feed the batch's
   computation use the PINNED versions (TableStore time travel — the
   predecessor of every commit is GC-retained), so a retry recomputes
   byte-identical updates even when some merges already landed;
   re-merging identical keyed rows is then a no-op.

3. **Append → partition overwrite** (:func:`overwrite_by_batch`):
   every appended frame is stamped with the micro-batch id and written
   with ``mode("overwrite")`` + ``partitionOverwriteMode=dynamic``
   partitioned by that id — a retry REPLACES the batch's own
   partition instead of re-appending (the INSERT OVERWRITE idiom a
   lakehouse job uses for reruns). ``pair_lifecycle_sink``'s delta
   and stats logs, ``expectations_gated_merge_sink``'s quarantine
   (partitioned by ``__batch_id``) and ``incremental_lsh_dedup``'s
   pair history (partitioned by ``batch_id``) are written this way.

The marker is one tiny JSON per sink, written with the same atomic
write as the TableStore version pointer. Only the latest batch is
retained — Structured Streaming never retries anything older than
the last uncommitted batch.
"""

from __future__ import annotations

import json
import os

from pasta_pipeline_spark.sources.tables import atomic_write


def start_foreach_batch(
    stream, step, checkpoint_dir: str, trigger_once: bool = True, upsert: bool = False
):
    """Start ``step(batch, batch_id)`` as a ``foreachBatch`` query and
    return the StreamingQuery (caller awaits/stops). ``trigger_once``
    processes what is available now, then stops.

    Output mode: ``update`` when the step is a keyed last-writer-wins
    upsert (``upsert=True``) — an aggregated input re-emits its changed
    rows each batch, and upserting them again is what the sink is for.
    ``append`` for every step that accumulates: in ``update`` mode the
    re-emitted rows of an aggregated input would be added a second
    time; in ``append`` mode Spark refuses an aggregated input without
    a watermark at start, and emits each finalized row once with one.

    ``checkpoint_dir`` is required: without offset tracking a restart
    replays from scratch, and pinned sinks keep their marker there."""
    if not checkpoint_dir:
        raise ValueError(
            "a foreachBatch sink requires checkpoint_dir: offset tracking "
            "is what makes the sink exactly-once"
        )
    writer = (
        stream.writeStream.outputMode("update" if upsert else "append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(step)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class MicroBatchPin:
    """Per-sink marker recording the pre-state versions of the batch
    being applied. ``pre_versions`` is the only entry point: call it
    at the top of the ``foreachBatch`` step, BEFORE any mutation, and
    read all state through the returned versions."""

    def __init__(self, marker_path: str):
        self.marker_path = marker_path

    def _read(self) -> dict | None:
        try:
            with open(self.marker_path, encoding="utf-8") as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _write(self, doc: dict) -> None:
        os.makedirs(os.path.dirname(self.marker_path), exist_ok=True)
        atomic_write(self.marker_path, json.dumps(doc))

    def pre_versions(self, batch_id: int, stores: dict) -> dict:
        """Versions of ``stores`` (name → TableStore) as of the START
        of micro-batch ``batch_id`` — live versions on first
        execution, the recorded ones on a retry. Values are version
        strings or None (store did not exist yet)."""
        marker = self._read()
        if marker is not None and marker.get("mb_id") == batch_id:
            return marker["pre"]
        pre = {name: s.current_version() for name, s in stores.items()}
        self._write({"mb_id": batch_id, "pre": pre})
        return pre


def overwrite_by_batch(df, batch_id: int, path: str, col: str = "__mb") -> None:
    """Idempotent micro-batch append: stamp ``col`` with the batch id
    and INSERT OVERWRITE only that partition, so a retried batch
    replaces its own rows. Readers select their data columns explicitly
    and never see ``col`` unless they ask for it.

    A read of a dir partitioned by ``col`` silently skips data files at
    its root, so a dir that already holds one (a flat, unpartitioned
    append log) raises ValueError before anything is written."""
    from pyspark.sql import functions as F

    try:
        with os.scandir(path) as entries:
            flat = [e.name for e in entries if e.is_file() and not e.name.startswith(("_", "."))]
    except FileNotFoundError:
        flat = []
    if flat:
        raise ValueError(
            f"{path} holds data files at its root (e.g. {flat[0]}), which a read "
            f"partitioned by {col} would skip: move them into a {col}=<n>/ dir first"
        )
    (
        df.withColumn(col, F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )
