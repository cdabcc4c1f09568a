"""Streaming ingest deduplication (SURVEY.md §2.9 extension).

The batch dedup ladder (operators/dedup.py, operators/text_dedup.py)
removes duplicates already in the table; this is the *ingest-time*
form: re-delivered artifacts (at-least-once sources re-send scrape
batches; the reference tolerates this via ON CONFLICT upserts) are
dropped before they ever reach the sink.

``dropDuplicatesWithinWatermark`` keys the state on the dedup columns
and evicts entries older than the watermark — bounded state at any
scale, which plain streaming ``dropDuplicates`` (state grows forever)
cannot promise. The guarantee: two rows with equal keys whose event
times fall within the watermark horizon of each other dedup to one;
re-deliveries farther apart than the horizon are the table-side
merge's job (idempotent by key — streaming/sink.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pasta_pipeline_spark.streaming.exactly_once import (
    overwrite_by_batch,
    start_foreach_batch,
)


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Drop re-delivered rows by key within the watermark horizon.
    Batch DataFrames fall back to plain ``dropDuplicates`` (the whole
    frame is the horizon)."""
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return df.dropDuplicates(key_cols)


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH dedup index (streaming near-dup detection)
# ---------------------------------------------------------------------------


def lsh_index_batch(
    batch: "DataFrame",
    index_store,
    pairs_dir: str | None = None,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    min_agree_frac: float = 0.5,
    index_buckets: int = 32,
):
    """One incremental-dedup step: detect near-dups of ``batch``
    against everything indexed so far (plus within the batch), then
    fold the batch into the index. Returns the detected pair frame
    ``(doc_a, doc_b, agree_fp)``.

    Index state = the per-doc MinHash signature table ``(doc, sig
    array<bigint>, __bkt)`` — k int64s per document in one column,
    compact enough to keep forever; band buckets derive from it by
    projection. Signatures, banding and scoring are the batch tier's
    shared helpers (operators/text_dedup.py: the one signature kernel,
    ``_lsh_bands``, ``_agree_bp``). Candidate generation joins the
    batch's band buckets against the index's; scoring is the signature
    agreement fraction (the standard unbiased Jaccard estimator —
    agree/k), surfaced as exact integer basis points
    ``agree * 10000 div k``. ``bands`` must divide ``num_hashes``
    (ValueError otherwise, raised before the index is touched). A
    NULL- or empty-text doc signs the one whole-text shingle ``""``
    (operators/text_dedup.py ``shingles``), so it is indexed and pairs
    only with other such docs. Exact shingle-level verification of the
    emitted pairs is a downstream batch job (operators/text_dedup.py
    jaccard machinery) — the streaming path never needs old documents'
    TEXT, only their signatures, which is what makes the state small.

    Scale shape: signatures merge into the store at partition
    granularity (merge_partitioned on a stable doc-hash bucket); the
    bucket join shuffles on (band, bh); within-batch pairs come from
    the same banded frame self-joined. Re-delivered documents are
    no-ops: merge is keyed on doc, and a doc never pairs with itself
    (a replayed batch re-detects the same pairs).

    No collect anywhere: the returned frame is always THIS batch's
    pair plan, lazy over the CURRENT index version — TableStore keeps
    one predecessor version, so it stays valid until the NEXT merge
    (materialize before then; documented contract). When
    ``pairs_dir`` is given the batch's pairs are ALSO written there as
    parquet, into the ``batch_id=<batch_id>/`` partition
    (exactly_once.overwrite_by_batch): a replay of the batch overwrites
    its own partition, so the directory accumulates the full pair
    history across batches, each pair once per detecting batch, for
    separate consumption (read it directly for the cumulative view;
    ``batch_id`` comes back as a partition column, which
    operators/pair_ttl.py ``pair_history_report`` keys its TTL windows
    on) — it is not what this function returns. ``pairs_dir`` requires
    ``batch_id`` (ValueError otherwise, raised before the index is
    touched). A batch that finds no pair writes no file, so a
    directory in which every batch found nothing holds no parquet
    footer: read it with an explicit schema
    (``doc_a, doc_b, agree_fp, batch_id``) or check for files first.
    """
    if pairs_dir is not None and batch_id is None:
        raise ValueError(
            "pairs_dir requires batch_id: the pair history is written one "
            "batch_id partition per micro-batch"
        )
    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.text_dedup import (
        _agree_bp,
        _join_sig_pair,
        _lsh_bands,
        _minhash_sigs,
        _shingle_table,
    )

    sh = _shingle_table(batch, id_col, text_col, n)
    # collect_list, not a set: a doc repeated within the batch signs
    # the union of its rows' shingles
    xs = sh.groupBy("doc").agg(F.collect_list("sh").alias("xs"))
    sigs_new = _minhash_sigs(xs, num_hashes)
    if index_store.exists():
        sigs_old = index_store.read().drop("__bkt")
    else:
        sigs_old = batch.sparkSession.createDataFrame([], sigs_new.schema)
    banded_new = _lsh_bands(sigs_new, num_hashes, bands)
    banded_old = _lsh_bands(sigs_old, num_hashes, bands)
    sigs_new.persist()  # after banding: a bad ``bands`` raises before anything is cached

    # cross (new vs indexed) + within-batch candidates, doc_a < doc_b
    a, b = banded_new.alias("a"), banded_old.alias("b")
    cross = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.doc") != F.col("b.doc")),
    ).select(
        F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
        F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
    )
    w1, w2 = banded_new.alias("a"), banded_new.alias("b")
    within = w1.join(
        w2,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.doc") < F.col("b.doc")),
    ).select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
    cand = cross.union(within).distinct()

    all_sigs = sigs_old.unionByName(sigs_new).dropDuplicates(["doc"])
    pairs = (
        _join_sig_pair(cand, all_sigs)
        .select(
            "doc_a",
            "doc_b",
            _agree_bp(F.col("__sa"), F.col("__sb"), num_hashes).alias("agree_fp"),
        )
        .filter(F.col("agree_fp") >= int(min_agree_frac * 10000))
    )

    with_bkt = sigs_new.withColumn(
        "__bkt", F.pmod(F.xxhash64(F.col("doc")), F.lit(index_buckets)).cast("int")
    )
    # merge BEFORE the pair write: a crash in between replays the batch
    # against an index that already contains it — the same pairs are
    # re-detected (a doc never pairs with itself), nothing is lost.
    # The pair plan stays valid across the merge because TableStore
    # retains the predecessor version it was built on.
    index_store.merge_partitioned(with_bkt, key="doc", partition_col="__bkt")
    if pairs_dir is not None:
        overwrite_by_batch(pairs, batch_id, pairs_dir, col="batch_id")
    sigs_new.unpersist()
    return pairs


def compact_lsh_index(index_store, index_buckets: int = 32) -> None:
    """Periodic maintenance for the signature store ``lsh_index_batch``
    accretes into: every micro-batch merge adds one file per touched
    ``__bkt`` partition, so after months of batches the store is
    thousands of tiny files even though the DATA is compact (one
    k-int64 ``sig`` array per doc). One compaction pass rewrites the
    live version to ~one file per bucket partition, preserving the
    ``__bkt`` layout so the NEXT merge is still differential. Run it
    on a cadence (every N batches / nightly), exactly like a lakehouse
    OPTIMIZE; detection results are unaffected — the store's contents
    don't change, only the file count."""
    index_store.compact(index_buckets, partition_by="__bkt")


def incremental_lsh_dedup(
    stream: "DataFrame",
    index_store,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_once: bool = True,
    **lsh_kwargs,
):
    """Streaming near-dup detection: every micro-batch is checked
    against the accumulated signature index and folded in; detected
    pairs go to ``pairs_dir`` as parquet, one ``batch_id=<n>/``
    partition per micro-batch (see :func:`lsh_index_batch`). The index
    survives restarts (TableStore versioning) and replayed batches are
    no-ops (doc-keyed merge; a doc never pairs with itself; the pair
    write overwrites the batch's own partition)."""
    # lsh_index_batch is looked up when each batch runs, not bound here
    return start_foreach_batch(
        stream,
        lambda b, i: lsh_index_batch(
            b, index_store, pairs_dir=pairs_dir, batch_id=i,
            id_col=id_col, text_col=text_col, **lsh_kwargs,
        ),
        checkpoint_dir, trigger_once,
    )
