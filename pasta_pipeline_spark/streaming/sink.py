"""Idempotent and stateful streaming sinks — foreachBatch + merge
(SURVEY.md §2.9).

The reference absorbs at-least-once scrape overlap with a primary-key
upsert (db_loader.py:166-181). The Spark-native restatement: every
micro-batch merges into the target table through the same
``merge_upsert`` operator the batch pipeline uses, so replayed batches
are no-ops (last-writer-wins on the key) — exactly-once *effect* on
top of at-least-once delivery.

Every query here starts through one helper
(``exactly_once.start_foreach_batch``: the checkpoint check, the output
mode, the trigger). The keyed upsert sinks (``foreach_batch_merge*``)
merge each batch as is. Every stateful sink — sketches, counters,
sufficient statistics, the gated merge — runs its batch through one
step, :func:`apply_state_batch`: pin the versions of all of the sink's
stores, read each at its pinned version, and fold the batch's delta in
through a keyed merge law (:func:`merge_keyed_state`) or a sketch's own
merge function, differentially per ``__bkt`` partition where the store
is bucketed. A rerun of a batch therefore recomputes the same state.
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pasta_pipeline_spark.operators.merge import merge_upsert
from pasta_pipeline_spark.sources.tables import TableStore
from pasta_pipeline_spark.streaming.exactly_once import (
    MicroBatchPin,
    overwrite_by_batch,
    start_foreach_batch,
)


def foreach_batch_merge(
    stream: DataFrame,
    store: TableStore,
    key: str | list[str],
    order_col: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Start a foreachBatch query merging each micro-batch into
    ``store``. Returns the StreamingQuery (caller awaits/stops)."""

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        merged = merge_upsert(store.read(), batch, key=key, order_col=order_col)
        store.overwrite(merged)

    return start_foreach_batch(stream, merge_batch, checkpoint_dir, trigger_once, upsert=True)


def foreach_batch_merge_partitioned(
    stream: DataFrame,
    store: TableStore,
    key: str | list[str],
    partition_col: str,
    order_col: str | None,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Partition-differential variant of the idempotent merge sink: each
    micro-batch lands via ``TableStore.merge_partitioned``, so a batch
    touching one day rewrites one day — the steady-state cost a
    streaming ingest actually needs (the plain sink's full-table merge
    is quadratic-ish in table size over a long stream). Replays stay
    no-ops: merge semantics are unchanged, only the write scope
    shrinks.

    ``checkpoint_dir`` is required (as for every sink here): without a
    checkpoint the stream has no offset tracking, so a restart replays
    from scratch or fails — an omission raises ValueError."""

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        store.merge_partitioned(
            batch, key=key, partition_col=partition_col, order_col=order_col
        )

    return start_foreach_batch(stream, merge_batch, checkpoint_dir, trigger_once, upsert=True)


# ---------------------------------------------------------------------------
# The stateful-sink protocol: pin, read pinned, merge, commit
# ---------------------------------------------------------------------------

#: per-column merge laws: every law is associative + commutative with
#: absence as identity, so ANY batch boundaries yield the same state
_MERGE_LAWS = {"sum": F.sum, "min": F.min, "max": F.max, "bit_or": F.bit_or}


def merge_keyed_state(
    prev: DataFrame,
    delta: DataFrame,
    keys: str | list[str],
    merge_laws: dict[str, str],
) -> DataFrame:
    """union + one groupBy — the merge tree's associativity means this
    equals folding row-level facts directly (maintained == batch)."""
    ks = [keys] if isinstance(keys, str) else list(keys)
    aggs = [
        _MERGE_LAWS[law](F.col(c)).cast("long").alias(c)
        for c, law in merge_laws.items()
    ]
    return prev.unionByName(delta).groupBy(*ks).agg(*aggs)


class State(NamedTuple):
    """One store of a stateful sink and how a batch's delta folds into
    it: through the keyed ``laws`` (:func:`merge_keyed_state` on
    ``keys``), through ``merge(prior, delta)``, or — with neither — as
    is. ``bucket`` is the store's ``__bkt`` formula: the store is then
    written with ``merge_partitioned`` (a last-writer-wins upsert on
    ``keys``), and a law or merge sees only the prior rows of the
    delta's keys. Without ``bucket`` the merged frame overwrites the
    store."""

    store: TableStore
    keys: list[str] | None = None
    laws: dict[str, str] | None = None
    merge: Callable[[DataFrame, DataFrame], DataFrame] | None = None
    bucket: Column | None = None


def apply_state_batch(
    batch: DataFrame,
    batch_id: int,
    marker_path: str,
    states: dict[str, State],
    deltas: Callable[[DataFrame, dict], dict],
) -> None:
    """One micro-batch of a stateful sink. Pins the versions of all
    ``states`` stores at the batch's first execution (MicroBatchPin,
    marker at ``marker_path``) and reads each at its pinned version
    (None if the store did not exist yet). ``deltas(batch, prior)``
    maps names to the batch's delta frames (a name left out is not
    written); each merges into its store as its :class:`State` says,
    in ``states`` order. A rerun of the same ``batch_id`` — a retry, or
    a replay after a lost checkpoint commit — reads the same pinned
    versions and so commits the same state."""
    pre = MicroBatchPin(marker_path).pre_versions(
        batch_id, {name: s.store for name, s in states.items()}
    )
    prior = {
        name: None if v is None else states[name].store.read(version=v)
        for name, v in pre.items()
    }
    out = deltas(batch, prior)
    for name, s in states.items():
        if name not in out:
            continue
        new, old = out[name], prior[name]
        if old is not None and (s.laws or s.merge):
            if s.bucket is not None:
                old = old.drop("__bkt").join(new.select(*s.keys), s.keys, "semi")
            new = merge_keyed_state(old, new, s.keys, s.laws) if s.laws else s.merge(old, new)
        if s.bucket is None:
            s.store.overwrite(new)
        else:
            s.store.merge_partitioned(
                new.withColumn("__bkt", s.bucket.cast("int")),
                key=s.keys,
                partition_col="__bkt",
            )


def _start_pinned(stream, checkpoint_dir, trigger_once, apply, *args, upsert=False, **params):
    """Start a stateful sink: each batch runs ``apply(batch, batch_id,
    *args, marker_path=..., **params)``, the pin marker kept in the
    checkpoint dir the sink owns."""
    return start_foreach_batch(
        stream,
        lambda b, i: apply(
            b, i, *args, marker_path=os.path.join(checkpoint_dir, "_state_mb.json"), **params
        ),
        checkpoint_dir, trigger_once, upsert,
    )


def incremental_summary_sink(
    stream: DataFrame,
    store: TableStore,
    keys: str | list[str],
    value_col: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Incrementally maintained corpus statistics: each micro-batch's
    mergeable summary (operators/summaries.py — exact int64 algebraic
    state: n, sum, min, max, sumsq) merges into a persisted summary
    table, so corpus-wide stats stay current WITHOUT ever rescanning
    the corpus — the 100 TB answer to "recompute the stats nightly".

    The summary table is |keys| rows of integer state (KB-scale at any
    corpus size), so the per-batch merge cost is the batch scan plus a
    tiny overwrite; merge associativity/commutativity (proven by the
    mergeable_summary oracle) makes the maintained table EQUAL to a
    from-scratch summary over all data ever ingested, whatever the
    batch boundaries were. The per-column laws replicate
    operators/summaries.py merge_summaries exactly (counts/sums add,
    min/max fold, absence is the identity). Intra-batch retries are
    idempotent via pre-version pinning (apply_state_batch): a re-run
    merges against the state recorded BEFORE the batch's first
    mutation, so the recomputed overwrite is byte-identical. Duplicate
    ROWS from a non-checkpointed source are a different failure — feed
    from the deduplicated stream (streaming/dedup.py) for those.
    """
    from pasta_pipeline_spark.operators.summaries import partial_summary

    return sufficient_stats_sink(
        stream, store, checkpoint_dir,
        delta_fn=lambda b: partial_summary(b, keys, value_col),
        keys=keys,
        merge_laws={"n": "sum", "sum_x": "sum", "min_x": "min", "max_x": "max", "sumsq_x": "sum"},
        trigger_once=trigger_once,
    )


def incremental_histogram_sink(
    stream: DataFrame,
    store: TableStore,
    keys: str | list[str],
    value_col: str,
    lo: float,
    hi: float,
    checkpoint_dir: str,
    n_bins: int = 64,
    trigger_once: bool = True,
):
    """Incrementally maintained quantile state: each micro-batch's
    fixed-bin histogram (operators/summaries.py partial_histogram —
    pure int64 counts) adds into a persisted histogram table, so
    percentiles (histogram_quantile_bin) stay current at bin-width
    resolution without ever rescanning the corpus — the streaming
    completion of mergeable_quantiles. Same contracts as
    incremental_summary_sink: state is |keys|·n_bins int64 rows keyed on
    (keys..., bin) under the single additive law (exactly
    operators/summaries.py merge_histograms), merge-of-batches == direct
    under any batch boundaries, and intra-batch retries recompute
    against the pinned pre-version (idempotent; retry-pytest-pinned)."""
    from pasta_pipeline_spark.operators.summaries import partial_histogram

    ks = [keys] if isinstance(keys, str) else list(keys)
    return sufficient_stats_sink(
        stream, store, checkpoint_dir,
        delta_fn=lambda b: partial_histogram(b, ks, value_col, lo=lo, hi=hi, n_bins=n_bins),
        keys=ks + ["bin"],
        merge_laws={"bin_n": "sum"},
        trigger_once=trigger_once,
    )


def apply_heavy_hitter_batch(
    batch: DataFrame,
    batch_id: int,
    store: TableStore,
    marker_path: str,
    keys: str | list[str],
    item_col: str,
    m: int = 64,
    partition_cap: int | None | str = "auto",
) -> None:
    """One micro-batch of heavy-hitter-state maintenance; idempotent
    under re-execution via pre-version pinning (apply_state_batch)."""
    from pasta_pipeline_spark.operators.sketches import (
        merge_heavy_hitters,
        partial_heavy_hitters,
    )

    apply_state_batch(
        batch, batch_id, marker_path,
        {"hh": State(store, merge=lambda p, d: merge_heavy_hitters(p, d, keys, m=m))},
        lambda b, _: {
            "hh": partial_heavy_hitters(b, keys, item_col, m=m, partition_cap=partition_cap)
        },
    )


def incremental_heavy_hitter_sink(
    stream: DataFrame,
    store: TableStore,
    keys: str | list[str],
    item_col: str,
    checkpoint_dir: str,
    m: int = 64,
    partition_cap: int | None | str = "auto",
    trigger_once: bool = True,
):
    """Incrementally maintained heavy hitters: each micro-batch's
    truncated-counter state (operators/sketches.py
    partial_heavy_hitters) merges into a persisted per-key top-``m``
    table whose travelling dropped-mass bound stays valid across any
    number of batches — streaming frequent-item tracking with
    m+1 rows of state per key and no corpus rescans, the streaming
    completion of the mergeable heavy-hitter contract.

    The merged estimate only ever UNDERCOUNTS, by at most the stored
    dropped mass (`count + dropped` upper-bounds truth); a heavy item
    that stays in every batch's top-``m`` is exact. Intra-batch
    retries recompute against the pinned pre-version (idempotent;
    retry-pytest-pinned). ``partition_cap`` forwards to the
    per-partition bounded pre-aggregation for wide batches (default
    ``"auto"`` = ``4 * m``, the bounded-shuffle path; ``None`` =
    exact)."""
    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_heavy_hitter_batch, store,
        keys=keys, item_col=item_col, m=m, partition_cap=partition_cap,
    )


def apply_token_distribution_batch(
    batch: DataFrame,
    batch_id: int,
    store: TableStore,
    marker_path: str,
    text_col: str = "text",
    n_buckets: int = 32,
) -> None:
    """One micro-batch of token-count-state maintenance; idempotent
    under re-execution via pre-version pinning (apply_state_batch).
    The previous counts fold in via a semi-join against the BATCH
    vocabulary only — linear in batch tokens, not corpus vocabulary —
    read at the pinned version so a retry recomputes the identical
    keyed rows and the LWW merge is a no-op."""
    from pasta_pipeline_spark.operators.divergence import token_distribution

    apply_state_batch(
        batch, batch_id, marker_path,
        {"td": State(
            store, keys=["tok"], laws={"c": "sum"},
            bucket=F.pmod(F.xxhash64(F.col("tok")), F.lit(n_buckets)),
        )},
        lambda b, _: {"td": token_distribution(b, text_col=text_col)},
    )


def incremental_token_distribution_sink(
    stream: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    text_col: str = "text",
    n_buckets: int = 32,
    trigger_once: bool = True,
):
    """Incrementally maintained corpus token distribution: each
    micro-batch's unigram counts (operators/divergence.py
    token_distribution — mergeable by addition) fold into a persisted
    ``(tok, c)`` table, bucketed on a token hash so the merge is
    differential (merge_partitioned rewrites only touched buckets).
    The streaming completion of drift detection: compare the live
    store against a frozen reference with ``js_between`` at any
    moment — no corpus rescans, state linear in VOCABULARY (not
    corpus) size. Intra-batch retries recompute the batch's token
    rows against the pinned pre-version (idempotent LWW re-upsert;
    retry-pytest-pinned)."""
    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_token_distribution_batch, store,
        text_col=text_col, n_buckets=n_buckets,
    )


def apply_cms_batch(
    batch: DataFrame,
    batch_id: int,
    store: TableStore,
    marker_path: str,
    item_col: str,
    width: int = 256,
    depth: int = 4,
) -> None:
    """One micro-batch of CMS-state maintenance; idempotent under
    re-execution via pre-version pinning (apply_state_batch)."""
    from pasta_pipeline_spark.operators.sketches import count_min_sketch, merge_cms

    apply_state_batch(
        batch, batch_id, marker_path,
        {"cms": State(store, merge=merge_cms)},
        lambda b, _: {"cms": count_min_sketch(b, item_col, width=width, depth=depth)},
    )


def incremental_cms_sink(
    stream: DataFrame,
    store: TableStore,
    item_col: str,
    checkpoint_dir: str,
    width: int = 256,
    depth: int = 4,
    trigger_once: bool = True,
):
    """Incrementally maintained count-min sketch: each micro-batch's
    sketch (operators/sketches.py count_min_sketch) adds into a
    persisted depth×width cell table — streaming point-query counts
    with FIXED state (depth·width int64 cells) no matter how many
    distinct items the stream ever carries, the unbounded-cardinality
    complement to incremental_heavy_hitter_sink. Because cell merge is
    exact addition, the maintained sketch EQUALS the sketch of all
    data ever ingested, under any batch boundaries. Intra-batch
    retries recompute against the pinned pre-version (idempotent;
    retry-pytest-pinned)."""
    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_cms_batch, store,
        item_col=item_col, width=width, depth=depth,
    )


def incremental_hll_sink(
    stream: DataFrame,
    store: TableStore,
    item_col: str,
    keys: list[str] | None = None,
    checkpoint_dir: str = "",
    m: int = 64,
    trigger_once: bool = True,
):
    """Incrementally maintained HyperLogLog registers: each
    micro-batch's state (operators/sketches.py hll_state) MAXes into a
    persisted register table — streaming per-key distinct counts with
    <= m rows of state per key at ANY cardinality. Unlike every
    additive accumulate sink in this module, register merge is
    IDEMPOTENT (MAX), so this sink tolerates at-least-once delivery:
    a re-delivered batch changes nothing, and the maintained state
    EQUALS the state of all data ever ingested under any batch
    boundaries or replays. Query it with hll_estimate at any moment."""
    from pasta_pipeline_spark.operators.sketches import hll_state, merge_hll

    ks = list(keys) if keys else None
    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_state_batch,
        states={"hll": State(store, merge=lambda p, d: merge_hll(p, d, keys=ks))},
        deltas=lambda b, _: {"hll": hll_state(b, item_col, keys=ks, m=m)},
    )


def incremental_reservoir_sink(
    stream: DataFrame,
    store: TableStore,
    id_col: str,
    weight_col: str,
    k: int,
    group_col: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Streaming fixed-size weighted sample per group: maintain, per
    ``group_col``, the ``k`` rows a full-corpus
    ``sampling.weighted_sample_topk`` would pick over ALL data ever
    ingested — without ever rescanning it. Works because A-ES
    priorities are a deterministic function of the row id (no RNG
    state): the per-group top-k BY PRIORITY is a mergeable aggregate,
    so each micro-batch scores its own rows, unions with the stored
    <= k survivors, and re-takes the top-k. State is k rows per group
    at ANY stream length, and because a row's priority never changes,
    re-delivered rows merge idempotently (a duplicate loses the
    row-id tiebreak against itself harmlessly).

    The maintained sample EXACTLY equals the batch operator over the
    concatenated input (pytest-pinned) — the streaming member of the
    sampling ladder."""
    from pasta_pipeline_spark.operators.sampling import weighted_sample_topk

    if k < 1:
        raise ValueError("k must be >= 1")

    def top(df: DataFrame) -> DataFrame:
        return weighted_sample_topk(
            df.dropDuplicates([group_col, id_col]), id_col, weight_col, k,
            group_col=group_col,
        )

    # a state row is an input row plus its rank ``rk``
    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_state_batch,
        states={"rsv": State(store, merge=lambda p, d: top(d.unionByName(p).drop("rk")))},
        deltas=lambda b, _: {"rsv": top(b)},
    )


def incremental_bloom_sink(
    stream: DataFrame,
    store: TableStore,
    item_col: str,
    checkpoint_dir: str,
    n_words: int = 256,
    k: int = 4,
    trigger_once: bool = True,
):
    """Incrementally maintained Bloom filter: each micro-batch's
    filter ORs into the persisted word table — the streaming
    decontamination/dedup-prefilter side of sketches.bloom_build.
    Like the HLL sink (and unlike every additive sink), bitwise-OR
    merge is IDEMPOTENT, so at-least-once delivery and replays cannot
    corrupt the state, and the maintained filter EQUALS the filter of
    all data ever ingested under any batch boundaries. Probe the live
    store with bloom_probe at any moment — e.g. 'has this URL/text
    hash ever been seen' at O(n_words) broadcast cost."""
    from pasta_pipeline_spark.operators.sketches import bloom_build

    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_state_batch,
        states={"bloom": State(store, keys=["word_idx"], laws={"word": "bit_or"})},
        deltas=lambda b, _: {"bloom": bloom_build(b, item_col, n_words=n_words, k=k)},
    )


def incremental_pq_codes_sink(
    stream: DataFrame,
    store: TableStore,
    codebooks: DataFrame,
    checkpoint_dir: str,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: int = 16,
    trigger_once: bool = True,
):
    """Streaming maintenance of the PQ codes table: each micro-batch
    of new embeddings encodes against the FROZEN codebook
    (similarity.pq_encode) and upserts into the persisted
    ``(vec_id, m, code)`` store via bucket-keyed differential merge —
    the ANN index ingests continuously while queries
    (similarity.pq_adc_topk) run over the live store without touching
    float vectors. Because encoding is a pure function of (vector,
    codebook), re-delivered rows upsert to identical codes —
    effectively idempotent. Freeze the codebook (train once, persist)
    before pointing a stream here: retraining would silently re-home
    codes for OLD vectors, which is a batch re-encode, not a
    streaming operation."""
    from pasta_pipeline_spark.operators.similarity import pq_encode

    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_state_batch, upsert=True,
        states={"pq": State(
            store, keys=[id_col, "m"],
            bucket=F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)),
        )},
        deltas=lambda b, _: {"pq": pq_encode(b, codebooks, n_subspaces, dim, id_col, vec_col)},
    )


def incremental_datacard_sink(
    stream: DataFrame,
    source_store: TableStore,
    text_store: TableStore,
    lang_store: TableStore,
    checkpoint_dir: str,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
    n_buckets: int = 16,
    trigger_once: bool = True,
):
    """Streaming maintenance of every corpus-data-card component
    (operators/stats.py corpus_datacard), so the card is available at
    ANY moment without rescanning the corpus:

    - ``source_store``: per-source (n_docs, total_chars) — additive;
    - ``text_store``: per-md5(text) occurrence counts — additive,
      bucketed for differential merges (the duplication-mass input);
    - ``lang_store``: the distinct language set — idempotent.

    State is linear in sources + DISTINCT texts + languages, not in
    documents ever ingested. Assemble with
    :func:`datacard_from_state`; equivalence with the batch card is
    pytest-pinned.

    Retry safety: the additive counters are made idempotent under
    foreachBatch's intra-batch retry by pre-version pinning
    (apply_state_batch) — the step reads every store at the version
    recorded BEFORE the batch's first mutation, so a retry recomputes
    identical merged rows even when some merges already landed, and
    re-upserting them is a no-op."""
    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_datacard_batch,
        source_store, text_store, lang_store, text_col=text_col,
        source_col=source_col, lang_col=lang_col, n_buckets=n_buckets,
    )


def apply_datacard_batch(
    batch: DataFrame,
    batch_id: int,
    source_store: TableStore,
    text_store: TableStore,
    lang_store: TableStore,
    marker_path: str,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
    n_buckets: int = 16,
) -> None:
    """One micro-batch of data-card maintenance — the foreachBatch step
    body, module-level so tests can drive a simulated intra-batch retry
    (same ``batch_id`` twice). Idempotent under re-execution via
    pre-version pinning (apply_state_batch)."""

    def deltas(b: DataFrame, _prior: dict) -> dict:
        base = b.where(F.col(text_col).isNotNull())
        return {
            "source": base.groupBy(F.col(source_col).alias("source")).agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.length(text_col)).cast("long").alias("total_chars"),
            ),
            "text": base.groupBy(F.md5(F.col(text_col)).alias("h")).agg(
                F.count(F.lit(1)).cast("long").alias("n")
            ),
            "lang": base.select(F.col(lang_col).alias("lang"))
            .where(F.col("lang").isNotNull())
            .distinct(),
        }

    apply_state_batch(
        batch, batch_id, marker_path,
        {
            "source": State(
                source_store, keys=["source"],
                laws={"n_docs": "sum", "total_chars": "sum"}, bucket=F.lit(0),
            ),
            "text": State(
                text_store, keys=["h"], laws={"n": "sum"},
                bucket=F.pmod(F.xxhash64("h"), F.lit(n_buckets)),
            ),
            "lang": State(lang_store, merge=lambda p, d: p.unionByName(d).distinct()),
        },
        deltas,
    )


def datacard_from_state(
    spark, source_store: TableStore, text_store: TableStore, lang_store: TableStore
) -> DataFrame:
    """Assemble the corpus data card from maintained component state —
    identical (metric, value) output to the batch corpus_datacard
    over all ingested documents, at state-scan cost (sources +
    distinct texts + languages, never documents)."""
    from pasta_pipeline_spark.operators.stats import source_concentration

    src = source_store.read().drop("__bkt")
    txt = text_store.read().drop("__bkt")
    langs = lang_store.read()
    vol = src.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("total_chars").cast("long").alias("total_chars"),
        F.expr("sum(total_chars) div sum(n_docs)").cast("long").alias("mean_chars"),
    )
    n_langs = langs.agg(F.count(F.lit(1)).cast("long").alias("n_langs"))
    top = src.agg(
        F.expr("(max(n_docs) * 10000) div sum(n_docs)").cast("long").alias("top_source_bp")
    )
    dup = txt.agg(
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("dup_docs"),
        F.sum((F.col("n") > 1).cast("long")).cast("long").alias("dup_texts"),
    )
    conc = source_concentration(
        src.select("source", "n_docs"), group_col="source", weight_col="n_docs"
    ).select("hhi_bp2", "entropy_fp", "gini_bp")
    wide = (
        vol.crossJoin(F.broadcast(n_langs))
        .crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(conc))
    )
    metrics = [
        "n_docs", "n_sources", "total_chars", "mean_chars", "n_langs",
        "top_source_bp", "dup_docs", "dup_texts",
        "hhi_bp2", "entropy_fp", "gini_bp",
    ]
    stacked = ", ".join(f"'{m}', {m}" for m in metrics)
    return wide.selectExpr(f"stack({len(metrics)}, {stacked}) AS (metric, value)")


def expectations_gated_merge_sink(
    stream: DataFrame,
    store: TableStore,
    rules,
    quarantine_dir: str,
    checkpoint_dir: str,
    key: str = "id",
    order_col: str | None = None,
    trigger_once: bool = True,
):
    """Streaming write-audit-publish at micro-batch granularity: each
    batch runs the declarative expectation suite
    (operators/expectations.py check_expectations) BEFORE touching
    the table — a fully passing batch merges (last-writer-wins upsert
    on ``key``); a failing batch is diverted WHOLE to
    ``quarantine_dir`` as parquet together with nothing written to
    the live table, so a poisoned producer can never land partial
    garbage mid-stream. The audit is one conditional-aggregate scan
    of the batch; the quarantine keeps full rows for replay after the
    upstream fix (re-ingest the quarantine dir through the same
    gate). It is partitioned by ``__batch_id``, and a rerun of a batch
    overwrites that batch's partition instead of appending a second
    copy (exactly_once.overwrite_by_batch).

    The batch-granularity trade is deliberate: per-ROW filtering
    would silently drop data and desynchronize at-least-once
    replays; all-or-nothing keeps every batch auditable and
    re-playable."""
    from pasta_pipeline_spark.operators.expectations import check_expectations

    live = State(store, merge=lambda p, d: merge_upsert(p, d, key, order_col=order_col))

    def apply(batch: DataFrame, batch_id: int, marker_path: str) -> None:
        def deltas(b: DataFrame, _prior: dict) -> dict:
            if check_expectations(b, rules).where(~F.col("passed")).count() > 0:
                overwrite_by_batch(b, batch_id, quarantine_dir, col="__batch_id")
                return {}
            return {"live": b}

        apply_state_batch(batch, batch_id, marker_path, {"live": live}, deltas)

    return _start_pinned(stream, checkpoint_dir, trigger_once, apply, upsert=True)


def incremental_compliance_sink(
    stream: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    required_delay_s: int = 1,
    host_col: str = "host",
    ts_col: str = "fetched_at_s",
    trigger_once: bool = True,
):
    """Streaming politeness monitoring: maintain, per host, the same
    compliance profile operators/politeness.py schedule_compliance
    computes in batch — fetch/gap/violation counts, min gap, worst
    deficit — with ONE row of state per host and no log rescans.
    Each micro-batch contributes its within-batch gaps (window over
    the batch only) plus the boundary gap against the host's stored
    last fetch time; counters add, extrema take min/max, and
    ``last_ts`` advances. Maintained == batch over the whole log
    when batches arrive in time order per host (the streaming
    reality; pytest-pinned). One keyed merge per batch; intra-batch
    retries recompute against the pinned pre-version (idempotent;
    retry-pytest-pinned)."""
    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_compliance_batch, store,
        required_delay_s=required_delay_s, host_col=host_col, ts_col=ts_col,
    )


def _merge_compliance(prior: DataFrame, part: DataFrame, req: int) -> DataFrame:
    """Fold a batch's per-host compliance rows (with its ``first_ts``)
    into the stored profile: counters add, extrema fold, and the gap
    between the stored ``last_ts`` and the batch's first fetch counts
    as one more gap."""
    prev = prior.select(
        F.col("host"),
        F.col("n_fetches").alias("p_n"),
        F.col("n_gaps").alias("p_g"),
        F.col("min_gap_s").alias("p_min"),
        F.col("n_violations").alias("p_v"),
        F.col("worst_deficit_s").alias("p_w"),
        F.col("last_ts").alias("p_last"),
    )
    j = part.join(prev, "host", "full_outer")
    bgap = F.col("first_ts") - F.col("p_last")  # boundary gap
    bviol = bgap.isNotNull() & (bgap < req)
    return j.select(
        "host",
        (F.coalesce(F.col("n_fetches"), F.lit(0))
         + F.coalesce(F.col("p_n"), F.lit(0))).alias("n_fetches"),
        (F.coalesce(F.col("n_gaps"), F.lit(0))
         + F.coalesce(F.col("p_g"), F.lit(0))
         + F.when(bgap.isNotNull(), F.lit(1)).otherwise(F.lit(0))
         ).alias("n_gaps"),
        F.least(
            F.coalesce(F.col("min_gap_s"), F.lit(None)),
            F.coalesce(F.col("p_min"), F.lit(None)),
            bgap,
        ).alias("min_gap_s"),
        (F.coalesce(F.col("n_violations"), F.lit(0))
         + F.coalesce(F.col("p_v"), F.lit(0))
         + bviol.cast("long")).alias("n_violations"),
        F.greatest(
            F.col("worst_deficit_s"), F.col("p_w"),
            F.when(bviol, req - bgap),
        ).alias("worst_deficit_s"),
        F.greatest(
            F.coalesce(F.col("last_ts"), F.lit(-(1 << 60))),
            F.coalesce(F.col("p_last"), F.lit(-(1 << 60))),
        ).alias("last_ts"),
    )


def apply_compliance_batch(
    batch: DataFrame,
    batch_id: int,
    store: TableStore,
    marker_path: str,
    required_delay_s: int = 1,
    host_col: str = "host",
    ts_col: str = "fetched_at_s",
) -> None:
    """One micro-batch of compliance-state maintenance; idempotent
    under re-execution via pre-version pinning (apply_state_batch)."""
    from pyspark.sql import Window

    req = int(required_delay_s)

    def deltas(b: DataFrame, prior: dict) -> dict:
        ts = F.col(ts_col).cast("long")
        w = Window.partitionBy(host_col).orderBy(ts)
        gaps = b.select(
            F.col(host_col).alias("host"), ts.alias("t"),
            (ts - F.lag(ts).over(w)).alias("gap"),
        )
        viol = F.col("gap").isNotNull() & (F.col("gap") < req)
        part = gaps.groupBy("host").agg(
            F.count(F.lit(1)).cast("long").alias("n_fetches"),
            F.count("gap").cast("long").alias("n_gaps"),
            F.min("gap").cast("long").alias("min_gap_s"),
            F.sum(viol.cast("long")).cast("long").alias("n_violations"),
            F.max(F.when(viol, req - F.col("gap"))).cast("long").alias("worst_deficit_s"),
            F.min("t").cast("long").alias("first_ts"),
            F.max("t").cast("long").alias("last_ts"),
        )
        # first_ts only feeds the boundary gap of a merge
        return {"c": part if prior["c"] is not None else part.drop("first_ts")}

    apply_state_batch(
        batch, batch_id, marker_path,
        {"c": State(store, merge=lambda p, d: _merge_compliance(p, d, req))},
        deltas,
    )


def apply_ks_batch(
    batch: DataFrame,
    batch_id: int,
    store: TableStore,
    marker_path: str,
    value_col: str,
    group_a_pred: Column,
) -> None:
    """One micro-batch of KS-drift state maintenance — the
    foreachBatch step body, module-level so tests can drive a
    simulated intra-batch retry. State is the per-distinct-value
    count table ``(x, a, b)`` of operators/divergence.ks_from_counts
    — ADDITIVE, so merging each batch's partial counts keeps the
    exact statistic available at any moment without rescanning.
    Idempotent under re-execution via pre-version pinning
    (apply_state_batch): the merge recomputes against the version
    recorded before the batch's first mutation, and re-upserting
    identical keyed rows is a no-op."""

    def deltas(b: DataFrame, _prior: dict) -> dict:
        v = F.col(value_col).cast("long")
        return {"ks": (
            b.where(v.isNotNull())
            .select(
                v.alias("x"),
                F.when(group_a_pred, 1).otherwise(0).cast("long").alias("in_a"),
            )
            .groupBy("x")
            .agg(
                F.sum("in_a").cast("long").alias("a"),
                F.sum(F.lit(1) - F.col("in_a")).cast("long").alias("b"),
            )
        )}

    apply_state_batch(
        batch, batch_id, marker_path,
        {"ks": State(
            store, keys=["x"], laws={"a": "sum", "b": "sum"},
            bucket=F.pmod(F.xxhash64(F.col("x").cast("string")), F.lit(16)),
        )},
        deltas,
    )


def incremental_ks_sink(
    stream: DataFrame,
    store: TableStore,
    value_col: str,
    group_a_pred: Column,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Streaming drift monitor: maintain the exact two-sample KS
    statistic between two slices of an arriving corpus (old vs new
    pipeline, control vs treatment source) with state linear in
    DISTINCT values, never in rows ingested. Read the current
    statistic at any time with :func:`ks_report_from_state`;
    equivalence with the batch operator and retry idempotence are
    pytest-pinned."""
    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_ks_batch, store,
        value_col=value_col, group_a_pred=group_a_pred,
    )


def ks_report_from_state(store: TableStore, ks_scale: int = 10_000) -> DataFrame:
    """Current KS report from maintained ``(x, a, b)`` state — the
    same reduce the batch operator runs (ks_from_counts), so
    streaming == batch exactly."""
    from pasta_pipeline_spark.operators.divergence import ks_from_counts

    return ks_from_counts(store.read().select("x", "a", "b"), ks_scale=ks_scale)


def apply_funnel_batch(
    batch: DataFrame,
    batch_id: int,
    counts_store: TableStore,
    seen_store: TableStore,
    marker_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
) -> None:
    """One micro-batch of curation-funnel maintenance (the foreachBatch
    step body, module-level for simulated-retry tests). Two pieces of
    state:

    - ``counts_store``: ONE row of running-conjunction counters
      (n0..n4) — additive;
    - ``seen_store``: the md5 set of every text ever ingested
      (signature-only, the streaming/dedup.py discipline — original
      text never stored), which decides the dedup-survivor stage:
      a document survives iff its hash is new to the corpus AND it is
      the first of its hash within the batch (min id).

    Survivorship is keep-first-BY-ARRIVAL: when batches arrive in id
    order this equals the batch operator's min-id contract exactly
    (pytest-pinned); out-of-order arrival keeps the earliest-arriving
    copy instead. Retry-idempotent via pre-version pinning."""
    from pyspark.sql import Window

    from pasta_pipeline_spark.operators.quality_filters import gopher_rules

    def deltas(b: DataFrame, prior: dict) -> dict:
        g = gopher_rules(b, id_col=id_col, text_col=text_col)
        h = F.md5(F.col(text_col).cast("binary"))
        w = Window.partitionBy("__h").orderBy(F.asc(id_col))
        hashed = b.select(
            F.col(id_col),
            h.alias("__h"),
            (F.col(text_col).isNotNull() & (F.length(text_col) > 0)).alias("s1"),
        ).withColumn("__first_in_batch", F.row_number().over(w) == 1)
        if prior["seen"] is not None:
            seen = prior["seen"].select("h")
            hashed = hashed.join(seen, hashed["__h"] == seen["h"], "left_anti")
        # survivors: the batch-local firsts of hashes new to the corpus
        hashed = hashed.withColumn("s4", F.col("__first_in_batch"))
        # rows removed by the anti-join carry s4=false implicitly: the
        # rebuild below marks s4 true ONLY for surviving ids and fills the
        # rest (including anti-joined-away rows) with false.
        all_rows = b.select(
            F.col(id_col),
            (F.col(text_col).isNotNull() & (F.length(text_col) > 0)).alias("s1"),
        )
        flags = (
            all_rows.join(
                hashed.where(F.col("s4")).select(F.col(id_col), F.col("s4")),
                id_col,
                "left",
            )
            .na.fill({"s4": False})
            .join(
                g.select(
                    F.col(id_col),
                    F.col("r_word_count").alias("s2"),
                    F.col("pass_all").alias("s3"),
                ),
                id_col,
            )
        )
        c = lambda e: F.sum(F.when(e, 1).otherwise(0)).cast("long")  # noqa: E731
        counts = flags.agg(
            F.count(F.lit(1)).cast("long").alias("n0"),
            c(F.col("s1")).alias("n1"),
            c(F.col("s1") & F.col("s2")).alias("n2"),
            c(F.col("s1") & F.col("s2") & F.col("s3")).alias("n3"),
            c(F.col("s1") & F.col("s2") & F.col("s3") & F.col("s4")).alias("n4"),
        ).withColumn("k", F.lit(0).cast("int"))
        new_hashes = (
            b.where(F.col(text_col).isNotNull())
            .select(F.md5(F.col(text_col).cast("binary")).alias("h"))
            .distinct()
        )
        return {"counts": counts, "seen": new_hashes}

    apply_state_batch(
        batch, batch_id, marker_path,
        {
            "counts": State(
                counts_store, keys=["k"],
                laws={n: "sum" for n in ("n0", "n1", "n2", "n3", "n4")},
                bucket=F.lit(0),
            ),
            "seen": State(
                seen_store, keys=["h"], bucket=F.pmod(F.xxhash64("h"), F.lit(n_buckets))
            ),
        },
        deltas,
    )


def incremental_funnel_sink(
    stream: DataFrame,
    counts_store: TableStore,
    seen_store: TableStore,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_once: bool = True,
):
    """Streaming curation funnel: the stagewise attrition report stays
    current as documents arrive, with state = 5 counters + the seen-
    hash set (linear in DISTINCT texts, never rows ingested). Read it
    any time with :func:`funnel_from_state`."""
    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_funnel_batch,
        counts_store, seen_store, id_col=id_col, text_col=text_col,
    )


def funnel_from_state(counts_store: TableStore) -> DataFrame:
    """Assemble the 4-row funnel report from maintained counters —
    identical shape to operators/quality_filters.curation_funnel."""
    from pasta_pipeline_spark.operators.quality_filters import FUNNEL_STAGES

    row = counts_store.read().select("n0", "n1", "n2", "n3", "n4")
    stages = [
        (1, FUNNEL_STAGES[0], "n0", "n1"),
        (2, FUNNEL_STAGES[1], "n1", "n2"),
        (3, FUNNEL_STAGES[2], "n2", "n3"),
        (4, FUNNEL_STAGES[3], "n3", "n4"),
    ]
    structs = [
        F.struct(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col(nin).alias("n_in"),
            F.col(nout).alias("n_out"),
            (F.col(nin) - F.col(nout)).cast("long").alias("n_dropped"),
        )
        for i, name, nin, nout in stages
    ]
    return row.select(F.explode(F.array(*structs)).alias("r")).select("r.*")


def apply_dsir_batch(
    batch: DataFrame,
    batch_id: int,
    model_store: TableStore,
    docb_store: TableStore,
    marker_path: str,
    target_pred,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 4096,
    n_buckets: int = 32,
) -> None:
    """One micro-batch of DSIR-state maintenance (operators/dsir.py,
    Xie et al. arXiv:2302.03169, streamed): each arriving document is
    tokenized ONCE and folded into two stores —

    - ``model_store``: the ≤``m``-row hashed-bow bucket table
      ``(b, q_cnt, t_cnt)`` — FIXED-SIZE state (the whole point of
      hashed features), counters add;
    - ``docb_store``: per-document bucket sufficient statistics
      ``(id, b, k)`` — the reusable part of the per-doc score, so
      re-scoring under the CURRENT model never re-reads or
      re-tokenizes the corpus. Keyed LWW merge, bucketed by an
      id-hash so each batch rewrites only touched partitions.

    Scores are NOT materialized per batch — a document's weight
    depends on the live model, so eager scores would go stale the
    moment the next batch lands. :func:`dsir_report_from_state`
    derives current weights from the two stores on demand, exactly
    equal to batch ``dsir_select`` over everything ingested
    (pytest-pinned).

    Idempotent under intra-batch retry: the model merge recomputes
    against the pre-version pinned before the first mutation
    (apply_state_batch), and the docb rows are a deterministic
    function of the batch, so their LWW re-upsert is a no-op."""
    from pasta_pipeline_spark.functions.text import tokenize_ws
    from pasta_pipeline_spark.operators.dsir import hash_bucket

    def deltas(b: DataFrame, _prior: dict) -> dict:
        tok = (
            b.where(F.col(text_col).isNotNull())
            .select(
                F.col(id_col),
                target_pred.alias("__is_target"),
                F.explode(tokenize_ws(F.col(text_col))).alias("token"),
            )
            .withColumn("b", hash_bucket(F.col("token"), m))
        )
        return {
            "model": tok.groupBy("b").agg(
                F.count(F.lit(1)).cast("long").alias("q_cnt"),
                F.sum(F.col("__is_target").cast("long")).cast("long").alias("t_cnt"),
            ),
            "docb": tok.groupBy(id_col, "b").agg(F.count(F.lit(1)).cast("long").alias("k")),
        }

    apply_state_batch(
        batch, batch_id, marker_path,
        {
            "model": State(model_store, keys=["b"], laws={"q_cnt": "sum", "t_cnt": "sum"}),
            "docb": State(
                docb_store, keys=[id_col, "b"],
                bucket=F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets)),
            ),
        },
        deltas,
    )


def incremental_dsir_sink(
    stream: DataFrame,
    model_store: TableStore,
    docb_store: TableStore,
    target_pred,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 4096,
    trigger_once: bool = True,
):
    """Streaming DSIR selection state: maintain the hashed-bow
    importance models and per-doc sufficient statistics over
    micro-batches, so "which k documents look most like the target
    corpus" is answerable at ANY moment (dsir_report_from_state)
    without rescanning or re-tokenizing anything — the selection tier
    of the pretraining data path, streamed. State: ≤m model rows +
    per-doc bucket stats; each batch costs its own token explode plus
    two keyed merges."""
    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_dsir_batch, model_store, docb_store,
        target_pred=target_pred, id_col=id_col, text_col=text_col, m=m,
    )


def dsir_report_from_state(
    model_store: TableStore,
    docb_store: TableStore,
    k: int,
    id_col: str = "doc_id",
    m: int = 4096,
) -> DataFrame:
    """Current top-``k`` DSIR selection from maintained state — the
    same fixed-point formula as batch ``dsir_select``, evaluated over
    the live model and the persisted per-doc bucket stats (one scan of
    state, zero corpus reads). == ``dsir_select`` over the union of
    everything ingested, whatever the batch boundaries were."""
    from pyspark.sql import Window

    from pasta_pipeline_spark.operators.dsir import _lnfp

    models = model_store.read().select("b", "q_cnt", "t_cnt")
    totals = models.agg(
        F.sum("q_cnt").cast("long").alias("Q"),
        F.sum("t_cnt").cast("long").alias("P"),
    )
    doc_b = docb_store.read().select(id_col, "b", "k")
    per_doc = (
        doc_b.join(F.broadcast(models), "b")
        .groupBy(id_col)
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(
                F.col("k") * (_lnfp(F.col("t_cnt") + 1) - _lnfp(F.col("q_cnt") + 1))
            )
            .cast("long")
            .alias("__s"),
        )
    )
    weighted = per_doc.crossJoin(F.broadcast(totals)).select(
        F.col(id_col),
        "n_tokens",
        (
            F.col("__s")
            + F.col("n_tokens")
            * (_lnfp(F.col("Q") + F.lit(m)) - _lnfp(F.col("P") + F.lit(m)))
        )
        .cast("long")
        .alias("weight_fp"),
    )
    order = [F.desc("weight_fp"), F.asc(id_col)]
    top = weighted.orderBy(*order).limit(k)
    w = Window.orderBy(*order)  # over <= k rows — benign
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


def incremental_holt_sink(
    stream: DataFrame,
    day_store: TableStore,
    checkpoint_dir: str,
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    trigger_once: bool = True,
):
    """Streaming Holt-forecast state: maintain the per-day revenue
    table over micro-batches so the level/trend forecast is derivable
    at ANY moment (holt_report_from_state) and late-arriving rows are
    absorbed exactly — the forecasting tier of the corpus-stats
    stack, streamed (the incremental_dsir_sink precedent).

    Each batch adds its per-day exact-cents sums into ``day_store`` (a
    day's revenue may arrive across many batches); the state is bounded
    by the calendar span. Like the DSIR sink, the MODEL is never
    materialized per batch: the Holt level/trend recurrence depends on
    the whole ordered series, so eager state would go stale if an
    earlier day's mass arrives late — late data is simply absorbed into
    its day row, which a running-state implementation could never
    repair. Idempotent under intra-batch retry via pre-version pinning
    (apply_state_batch)."""

    def delta(b: DataFrame) -> DataFrame:
        return b.groupBy(F.col(date_col).cast("date").alias("day")).agg(
            F.sum(F.floor(F.col(amount_col) * 100).cast("long")).alias("y_fp")
        )

    return sufficient_stats_sink(
        stream, day_store, checkpoint_dir,
        delta_fn=delta, keys="day", merge_laws={"y_fp": "sum"},
        trigger_once=trigger_once,
    )


def holt_report_from_state(day_store: TableStore, **kwargs) -> DataFrame:
    """Holt level/trend/forecast-error frame from the CURRENT day
    table — exactly equal to batch
    ``holt_linear_fold(daily_revenue_frame(everything ingested))``
    (pytest-pinned), because the state IS the daily frame."""
    from pasta_pipeline_spark.operators.timeseries import holt_linear_fold

    return holt_linear_fold(day_store.read(), **kwargs)

def apply_sufficient_stats_batch(
    batch: DataFrame,
    batch_id: int,
    store: TableStore,
    marker_path: str,
    *,
    delta_fn,
    keys: str | list[str],
    merge_laws: dict[str, str],
) -> None:
    """One micro-batch of keyed-state maintenance: ``delta_fn(batch)``
    reduces the batch to state rows (keys + int64 stat columns), which
    merge into the store under ``merge_laws``. Idempotent under
    intra-batch retry via pre-version pinning (apply_state_batch): a
    rerun of the same batch_id recomputes the identical merged frame."""
    apply_state_batch(
        batch, batch_id, marker_path,
        {"s": State(store, keys=[keys] if isinstance(keys, str) else keys, laws=merge_laws)},
        lambda b, _: {"s": delta_fn(b)},
    )


def sufficient_stats_sink(
    stream: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    *,
    delta_fn,
    keys: str | list[str],
    merge_laws: dict[str, str],
    trigger_once: bool = True,
):
    """Start a foreachBatch query maintaining keyed sufficient
    statistics. ``delta_fn: batch -> DataFrame`` must emit the key
    columns plus exactly the ``merge_laws`` stat columns (int64), and
    each stat column's law must make absence an identity — then the
    maintained state equals the from-scratch reduction of everything
    ever ingested, under any batch boundaries, with intra-batch
    retries idempotent (apply_sufficient_stats_batch). State size is
    |key domain| rows — the caller's bounded-domain obligation."""
    return _start_pinned(
        stream, checkpoint_dir, trigger_once, apply_sufficient_stats_batch, store,
        delta_fn=delta_fn, keys=keys, merge_laws=merge_laws,
    )


def incremental_isotonic_sink(
    stream: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    score_bin_sql: str,
    label_sql: str,
    trigger_once: bool = True,
):
    """Streaming twin of operators/isotonic.py isotonic_calibration:
    maintain the per-bin (n, s) moment table — the fit's sufficient
    statistics — so the monotone calibrator is derivable at ANY moment
    (isotonic_report_from_state) and late/out-of-order facts are
    absorbed exactly. State is |bins| rows of int64."""

    def delta(batch: DataFrame) -> DataFrame:
        from pasta_pipeline_spark.operators.isotonic import isotonic_bin_moments

        return isotonic_bin_moments(
            batch, F.expr(score_bin_sql), F.expr(label_sql)
        )

    return sufficient_stats_sink(
        stream, store, checkpoint_dir,
        delta_fn=delta, keys="bin", merge_laws={"n": "sum", "s": "sum"}, trigger_once=trigger_once,
    )


def isotonic_report_from_state(store: TableStore) -> DataFrame:
    """PAVA fit from the CURRENT bin-moment state — equal to batch
    isotonic_calibration over everything ingested (pytest-pinned),
    because the state IS the batch operator's bin frame."""
    from pasta_pipeline_spark.operators.isotonic import isotonic_fit_from_bins

    return isotonic_fit_from_bins(store.read())


def incremental_quantiles_sink(
    stream: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    value_col: str,
    value_scale: int = 100,
    trigger_once: bool = True,
):
    """Streaming twin of operators/exact_quantiles.py
    interpolated_quantiles: maintain the exact VALUE HISTOGRAM
    (fixed-point value -> count) — the order statistics' sufficient
    state — so Type-7 quantiles are derivable at any moment
    (quantiles_report_from_state) with no corpus rescans and no global
    sort. State is |distinct quantized values| rows (the fixed-point
    bridge bounds the domain the same way the batch operator's int64
    values do)."""

    def delta(batch: DataFrame) -> DataFrame:
        v = F.floor(F.col(value_col) * value_scale).cast("long")
        return (
            batch.filter(F.col(value_col).isNotNull())
            .groupBy(v.alias("v_fp"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    return sufficient_stats_sink(
        stream, store, checkpoint_dir,
        delta_fn=delta, keys="v_fp", merge_laws={"cnt": "sum"}, trigger_once=trigger_once,
    )


def quantiles_report_from_state(store: TableStore, grid: tuple = None) -> DataFrame:
    """Hyndman-Fan Type-7 quantiles from the maintained value
    histogram — bit-equal to batch interpolated_quantiles over
    everything ingested (pytest-pinned): the histogram's cumulative
    counts give every order statistic exactly (rank r falls in the
    first value whose cumulative count reaches r), and the
    interpolation replays the batch operator's integer/double tree.

    One bounded window over |distinct values| rows + a broadcast
    range join against the |grid|-row target frame — no global sort
    of fact rows at any corpus size."""
    from pyspark.sql import Window

    from pasta_pipeline_spark.operators.exact_quantiles import DEFAULT_GRID

    if grid is None:
        grid = DEFAULT_GRID
    hist = store.read()
    w = Window.partitionBy().orderBy("v_fp")  # bounded: |distinct v|
    # each value owns the rank interval (cum_prev, cum]
    ranked = hist.select("v_fp", "cnt").withColumn(
        "cum",
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn("cum_prev", F.col("cum") - F.col("cnt"))
    n_row = hist.agg(F.sum("cnt").cast("long").alias("__n"))
    targets = n_row.select(
        "__n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(num).cast("long").alias("num"),
                        F.lit(den).cast("long").alias("den"),
                    )
                    for num, den in grid
                ]
            )
        ).alias("g"),
    ).select(
        "__n",
        F.col("g.num").alias("__num"),
        F.col("g.den").alias("__den"),
        (F.expr("((__n - 1) * g.num) div g.den") + 1).alias("__lo"),
        F.when(
            F.expr("((__n - 1) * g.num) % g.den") == 0,
            F.expr("((__n - 1) * g.num) div g.den") + 1,
        )
        .otherwise(F.expr("((__n - 1) * g.num) div g.den") + 2)
        .alias("__hi"),
    )
    # rank r lives in the first value whose cumulative count reaches r:
    # a broadcast range join — |grid| rows against the bounded histogram
    lo_j = ranked.join(
        F.broadcast(targets),
        (targets["__lo"] > ranked["cum_prev"]) & (targets["__lo"] <= ranked["cum"]),
    ).select("__num", "__den", "__n", "__lo", "__hi", F.col("v_fp").alias("__vlo"))
    hi_j = ranked.join(
        F.broadcast(
            targets.select(
                F.col("__num").alias("__num2"),
                F.col("__den").alias("__den2"),
                "__hi",
            )
        ),
        (F.col("__hi") > ranked["cum_prev"]) & (F.col("__hi") <= ranked["cum"]),
    ).select("__num2", "__den2", F.col("v_fp").alias("__vhi"))
    both = lo_j.join(
        F.broadcast(hi_j),
        (lo_j["__num"] == hi_j["__num2"]) & (lo_j["__den"] == hi_j["__den2"]),
    )
    frac = (
        F.expr("((__n - 1) * __num) % __den").cast("double")
        / F.col("__den").cast("double")
    )
    q = F.col("__vlo").cast("double") + frac * (
        F.col("__vhi") - F.col("__vlo")
    ).cast("double")
    return both.select(
        F.expr("(__num * 1000000) div __den").cast("long").alias("p_sc"),
        F.col("__n").cast("long").alias("n"),
        F.col("__lo").cast("long").alias("lo_rank"),
        F.col("__hi").cast("long").alias("hi_rank"),
        F.floor(q * 10000).cast("long").alias("q_sc"),
    ).orderBy("p_sc")


def incremental_cuped_sink(
    stream: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    boundary: str = "2024-01-16",
    value_scale: int = 100,
    trigger_once: bool = True,
):
    """Streaming twin of operators/stat_tests.py cuped_report — the
    LIVE A/B readout: maintain the per-user (x = pre-period sum,
    y = post-period sum) table over micro-batches so the CUPED
    variance-reduced estimate is derivable at ANY moment
    (cuped_report_from_state) while the experiment runs. Late or
    out-of-order events (a user's pre-period rows arriving after post
    rows) are absorbed exactly — the additive user-keyed state makes
    batch boundaries irrelevant, where a running-estimate sink could
    never repair an earlier user's moments. State is |users| rows of
    int64 (the experiment's own bounded domain)."""

    def delta(batch: DataFrame) -> DataFrame:
        from pasta_pipeline_spark.operators.stat_tests import cuped_user_stats

        return cuped_user_stats(
            batch, user_col, ts_col, value_col, boundary, value_scale
        )

    return sufficient_stats_sink(
        stream, store, checkpoint_dir,
        delta_fn=delta, keys="__u", merge_laws={"x": "sum", "y": "sum"}, trigger_once=trigger_once,
    )


def cuped_report_from_state(store: TableStore) -> DataFrame:
    """CUPED report from the CURRENT per-user state — equal to batch
    cuped_report over everything ingested (pytest-pinned): the state
    IS the batch operator's user frame, and the md5 arm assignment is
    a pure function of the user id."""
    from pasta_pipeline_spark.operators.stat_tests import cuped_from_user_stats

    return cuped_from_user_stats(store.read())


def incremental_ratio_delta_sink(
    stream: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    user_col: str = "user_id",
    value_col: str = "value",
    value_scale: int = 100,
    trigger_once: bool = True,
):
    """Streaming twin of operators/stat_tests.py ratio_metric_delta:
    per-user (value sum, event count) state — the delta-method ratio
    readout (diff/SE/z with users as the randomization unit) derivable
    live at any moment (ratio_delta_report_from_state). Same additive
    user-keyed contract as the CUPED sink."""

    def delta(batch: DataFrame) -> DataFrame:
        from pasta_pipeline_spark.operators.stat_tests import ratio_user_stats

        return ratio_user_stats(batch, user_col, value_col, value_scale)

    return sufficient_stats_sink(
        stream, store, checkpoint_dir,
        delta_fn=delta, keys="__u", merge_laws={"x": "sum", "y": "sum"}, trigger_once=trigger_once,
    )


def ratio_delta_report_from_state(store: TableStore) -> DataFrame:
    """Delta-method ratio report from the CURRENT per-user state —
    equal to batch ratio_metric_delta over everything ingested
    (pytest-pinned)."""
    from pasta_pipeline_spark.operators.stat_tests import (
        ratio_delta_from_user_stats,
    )

    return ratio_delta_from_user_stats(store.read())


# ---------------------------------------------------------------------------
# A/B tier II streaming twins: SRM, QTE, post-stratification as live
# readouts on sufficient_stats_sink
# ---------------------------------------------------------------------------


def incremental_srm_sink(
    stream: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    user_col: str = "user_id",
    trigger_once: bool = True,
):
    """Streaming twin of operators/abtest2.py srm_check — the FIRST
    live gate an experiment dashboard needs (a sample-ratio mismatch
    should page within minutes, not at readout time): maintain the
    distinct-user set as keyed state (``__u`` → seen=1, max law) so
    the chi-square split check is derivable at any moment
    (srm_report_from_state). Re-ingesting a user is absorbed by the
    max law; state is |users| rows."""

    def delta(batch: DataFrame) -> DataFrame:
        return (
            batch.select(F.col(user_col).alias("__u"))
            .distinct()
            .withColumn("seen", F.lit(1).cast("long"))
        )

    return sufficient_stats_sink(
        stream, store, checkpoint_dir,
        delta_fn=delta, keys="__u", merge_laws={"seen": "max"}, trigger_once=trigger_once,
    )


def srm_report_from_state(store: TableStore) -> DataFrame:
    """SRM readout from the CURRENT user state — equal to batch
    srm_check over everything ingested (pytest-pinned): the state IS
    the distinct-user frame and the md5 arm is a pure function of the
    id."""
    from pasta_pipeline_spark.operators.abtest2 import srm_from_users

    return srm_from_users(store.read().select("__u"))


def incremental_qte_sink(
    stream: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    user_col: str = "user_id",
    value_col: str = "value",
    value_scale: int = 100,
    trigger_once: bool = True,
):
    """Streaming twin of operators/abtest2.py
    quantile_treatment_effect: per-user int64 value sums as keyed
    state (the same additive contract as the CUPED sink), so the
    distributional treatment readout is derivable live at any moment
    (qte_report_from_state). Late per-user facts are absorbed exactly
    — the sum law repairs ANY earlier user; a maintained quantile
    estimate never could."""

    def delta(batch: DataFrame) -> DataFrame:
        v = F.floor(F.col(value_col) * value_scale).cast("long")
        return batch.groupBy(F.col(user_col).alias("__u")).agg(
            F.coalesce(F.sum(v), F.lit(0)).cast("long").alias("y")
        )

    return sufficient_stats_sink(
        stream, store, checkpoint_dir,
        delta_fn=delta, keys="__u", merge_laws={"y": "sum"}, trigger_once=trigger_once,
    )


def qte_report_from_state(store: TableStore, grid: tuple = None) -> DataFrame:
    """QTE readout from the CURRENT per-user state — equal to batch
    quantile_treatment_effect over everything ingested (pytest-pinned
    via qte_from_per_user, the shared core)."""
    from pasta_pipeline_spark.operators.abtest2 import qte_from_per_user
    from pasta_pipeline_spark.operators.sampling import sample_bucket

    per_user = store.read().withColumn(
        "arm", sample_bucket(F.col("__u"), 2).cast("long")
    )
    return qte_from_per_user(per_user, grid=grid)


def incremental_post_strat_sink(
    stream: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    user_col: str = "user_id",
    strata_col: str = "stratum",
    value_col: str = "value",
    value_scale: int = 100,
    trigger_once: bool = True,
):
    """Streaming twin of operators/abtest2.py post_stratified_effect:
    state keyed on (``__u``, ``s``) with the int64 value sum per cell.
    The stratum rides in the KEY (merge laws cast stats to int64, and
    a user may surface new strata late) — the report derives each
    user's batch-contract stratum (the MIN observed) from the state
    itself, so live == batch under any arrival order."""

    def delta(batch: DataFrame) -> DataFrame:
        v = F.floor(F.col(value_col) * value_scale).cast("long")
        return batch.groupBy(
            F.col(user_col).alias("__u"), F.col(strata_col).alias("s")
        ).agg(F.coalesce(F.sum(v), F.lit(0)).cast("long").alias("y"))

    return sufficient_stats_sink(
        stream, store, checkpoint_dir,
        delta_fn=delta, keys=["__u", "s"], merge_laws={"y": "sum"}, trigger_once=trigger_once,
    )


def post_strat_report_from_state(store: TableStore) -> DataFrame:
    """Post-stratified readout from the CURRENT (user, stratum) state
    — equal to batch post_stratified_effect over everything ingested
    (pytest-pinned): per user, s = MIN observed stratum and y = the
    sum across ALL its strata cells, exactly the batch per-user frame."""
    from pasta_pipeline_spark.operators.abtest2 import post_strat_from_per_user
    from pasta_pipeline_spark.operators.sampling import sample_bucket

    per_user = (
        store.read()
        .groupBy("__u")
        .agg(F.min("s").alias("s"), F.sum("y").cast("long").alias("y"))
        .withColumn("arm", sample_bucket(F.col("__u"), 2).cast("long"))
    )
    return post_strat_from_per_user(per_user)


def trimmed_mean_report_from_state(
    store: TableStore, trim_num: int = 5, trim_den: int = 100
) -> DataFrame:
    """Trimmed-mean treatment effect from the QTE sink's maintained
    per-user state — the per-user int64 sums are the sufficient state
    for EVERY distributional readout, so one ``incremental_qte_sink``
    serves quantiles AND the whale-robust trimmed mean live (equal to
    batch trimmed_mean_effect over everything ingested,
    pytest-pinned)."""
    from pasta_pipeline_spark.operators.abtest2 import trimmed_mean_from_per_user
    from pasta_pipeline_spark.operators.sampling import sample_bucket

    per_user = store.read().withColumn(
        "arm", sample_bucket(F.col("__u"), 2).cast("long")
    )
    return trimmed_mean_from_per_user(per_user, trim_num=trim_num, trim_den=trim_den)


def incremental_srm_by_segment_sink(
    stream: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    user_col: str = "user_id",
    segment_col: str = "event_type",
    trigger_once: bool = True,
):
    """Streaming twin of operators/abtest2.py srm_by_segment: the
    (segment, user) exposure set as keyed state (max law — re-ingests
    collapse), so the per-segment assignment check pages live, not at
    readout time. State is |segment × exposed users| rows."""

    def delta(batch: DataFrame) -> DataFrame:
        return (
            batch.select(
                F.col(segment_col).alias("segment"),
                F.col(user_col).alias("__u"),
            )
            .distinct()
            .withColumn("seen", F.lit(1).cast("long"))
        )

    return sufficient_stats_sink(
        stream, store, checkpoint_dir,
        delta_fn=delta, keys=["segment", "__u"], merge_laws={"seen": "max"}, trigger_once=trigger_once,
    )


def incremental_group_sequential_sink(
    stream: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    value_scale: int = 100,
    trigger_once: bool = True,
):
    """Streaming twin of operators/abtest2.py group_sequential_check —
    the ONE tier-II readout whose whole point is being read
    mid-experiment (interim looks that may stop it early): state is
    the (``__u``, ``ts_us``) → int64 value-sum histogram. That
    granularity is the sufficient state, not an optimization miss:
    the O'Brien-Fleming look boundaries derive from the global
    (min, max) timestamp and MOVE as ingestion extends the range, so
    any per-look pre-aggregation would be unreplayable the moment a
    new batch shifts a boundary. Late or repeated (user, ts) facts are
    absorbed exactly by the sum law; the report re-derives every look
    from current state (group_sequential_report_from_state)."""

    def delta(batch: DataFrame) -> DataFrame:
        v = F.floor(F.col(value_col) * value_scale).cast("long")
        return batch.groupBy(
            F.col(user_col).alias("__u"),
            F.unix_micros(F.col(ts_col)).alias("ts_us"),
        ).agg(
            F.coalesce(F.sum(F.coalesce(v, F.lit(0))), F.lit(0))
            .cast("long")
            .alias("yv")
        )

    return sufficient_stats_sink(
        stream, store, checkpoint_dir,
        delta_fn=delta, keys=["__u", "ts_us"], merge_laws={"yv": "sum"}, trigger_once=trigger_once,
    )


def group_sequential_report_from_state(
    store: TableStore, n_looks: int = 4
) -> DataFrame:
    """Group-sequential interim readout from the CURRENT (user, ts)
    state — equal to batch group_sequential_check over everything
    ingested BY CONSTRUCTION (shared group_sequential_from_events
    core): every look boundary, z statistic, and OBF crossing flag is
    re-derived from the live state, so a dashboard may act on a
    crossed look at any moment without alpha inflation."""
    from pasta_pipeline_spark.operators.abtest2 import (
        group_sequential_from_events,
    )

    return group_sequential_from_events(
        store.read().select("__u", "ts_us", "yv"), n_looks=n_looks
    )


def srm_by_segment_report_from_state(store: TableStore) -> DataFrame:
    """Per-segment SRM from the CURRENT exposure state — equal to
    batch srm_by_segment over everything ingested BY CONSTRUCTION: the
    state IS the distinct (segment, user) frame and both paths call
    the same srm_by_segment_from_users core (r10 advisor — the other
    three tier-II twins already shared their cores)."""
    from pasta_pipeline_spark.operators.abtest2 import srm_by_segment_from_users

    return srm_by_segment_from_users(store.read().select("segment", "__u"))
