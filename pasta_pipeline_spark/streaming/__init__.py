"""Structured Streaming surface — SURVEY.md §2.9.

The reference is batch-scheduled but streaming-shaped: incremental
tail-consume with a time bound, at-least-once delivery absorbed by an
idempotent upsert, and a retry state machine. This package restates
those semantics Spark-natively:

- ``windows``: tumbling / sliding / session event-time windows with
  watermarked late-data handling;
- ``sink``: the idempotent ``foreachBatch`` merge sinks (the canonical
  Spark pattern for exactly-once-effective upserts into a table) and
  every stateful sink — sketches, counters, sufficient statistics, the
  expectations-gated merge — on one protocol: ``apply_state_batch``
  pins each store's version, reads it pinned, and merges the batch's
  delta by a keyed law or a merge function;
- ``exactly_once``: the one query start every sink in this package
  shares (``start_foreach_batch``), the version pin, and the
  overwrite-by-batch append;
- ``dedup``, ``frontier``, ``linkage``, ``pair_lifecycle``: ingest
  dedup and the incremental near-dup index, the crawl frontier, entity
  resolution and the dedup-pair lifecycle, maintained per micro-batch.
"""

from pasta_pipeline_spark.streaming.windows import (
    tumbling_counts,
    sliding_counts,
    session_counts,
    with_watermark,
)
from pasta_pipeline_spark.streaming.sink import foreach_batch_merge

__all__ = [
    "tumbling_counts",
    "sliding_counts",
    "session_counts",
    "with_watermark",
    "foreach_batch_merge",
]
