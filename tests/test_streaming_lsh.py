"""Incremental MinHash-LSH dedup index tests (batch step + streaming e2e)."""

from __future__ import annotations

import json
import os

import pytest

from pasta_pipeline_spark.sources.tables import TableStore
from pasta_pipeline_spark.streaming.dedup import incremental_lsh_dedup, lsh_index_batch

TEXT_A = "the quick brown fox jumps over the lazy dog and then runs far away home"
TEXT_B = "completely different content about spark shuffles and partition pruning strategies"


def test_lsh_index_batch_detects_cross_batch_dups(spark, tmp_table_dir):
    store = TableStore(spark, f"{tmp_table_dir}/lshidx")
    b1 = spark.createDataFrame(
        [(1, TEXT_A), (2, TEXT_B)], "doc_id long, text string"
    )
    p1 = lsh_index_batch(b1, store).collect()
    assert p1 == []  # no dups within batch 1

    # doc 100 duplicates doc 1 (exact text), doc 101 is novel
    b2 = spark.createDataFrame(
        [(100, TEXT_A), (101, "yet another unrelated set of words entirely")],
        "doc_id long, text string",
    )
    p2 = {(r["doc_a"], r["doc_b"]): r["agree_fp"] for r in lsh_index_batch(b2, store).collect()}
    assert (1, 100) in p2
    assert p2[(1, 100)] == 10000  # identical text -> all hashes agree
    assert all(a == 1 and b == 100 for (a, b) in p2)

    # index now holds all four signatures
    assert store.read().count() == 4


def test_lsh_index_batch_redelivery_is_noop_on_index(spark, tmp_table_dir):
    store = TableStore(spark, f"{tmp_table_dir}/lshr")
    b = spark.createDataFrame([(1, TEXT_A), (2, TEXT_B)], "doc_id long, text string")
    lsh_index_batch(b, store)
    n1 = store.read().count()
    pairs = lsh_index_batch(b, store).collect()  # replay of the same batch
    assert store.read().count() == n1  # merge keyed on doc: no growth
    # a doc never pairs with itself; replay emits nothing new here
    assert pairs == []


def test_docs_without_tokens_sign_the_empty_shingle(spark, tmp_table_dir):
    """A NULL-text and an empty-text doc both have no tokens, so each
    keeps the one whole-text shingle "" (shorter-than-n docs stay
    comparable, as perfbench/models.py ``shingle_set`` models): both
    are indexed, they pair with each other at full agreement and with
    no real-text doc — in the streaming index and in the batch tier
    alike. The index stores one ``sig`` array per doc."""
    from pasta_pipeline_spark.operators.text_dedup import minhash_lsh_pairs

    batch = spark.createDataFrame(
        [(1, TEXT_A), (2, TEXT_B), (3, None), (4, "")], "doc_id long, text string"
    )
    store = TableStore(spark, f"{tmp_table_dir}/empty")
    got = {
        (r["doc_a"], r["doc_b"]): r["agree_fp"]
        for r in lsh_index_batch(batch, store).collect()
    }
    assert got == {(3, 4): 10000}
    idx = store.read()
    assert idx.columns == ["doc", "sig", "__bkt"]
    assert idx.schema["sig"].dataType.simpleString() == "array<bigint>"
    assert sorted(r["doc"] for r in idx.collect()) == [1, 2, 3, 4]
    assert all(len(r["sig"]) == 64 for r in idx.collect())

    pairs = minhash_lsh_pairs(batch, "doc_id", "text", threshold=0.0).collect()
    assert {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs} == {(3, 4): 1.0}


def test_lsh_index_compaction_bounds_files_and_preserves_detection(spark, tmp_table_dir):
    """After N micro-batches the signature store has accreted files per
    touched bucket per batch; compact_lsh_index rewrites to ~one file
    per bucket partition, the NEXT merge is still differential (the
    __bkt layout survives), and pair detection is unchanged."""
    import os as _os

    from pasta_pipeline_spark.streaming.dedup import compact_lsh_index

    store = TableStore(spark, f"{tmp_table_dir}/cmp")
    buckets = 4
    for i in range(5):  # 5 micro-batches, distinct docs
        b = spark.createDataFrame(
            [(i * 10 + j, f"batch {i} doc {j} unique words {i}-{j} " + TEXT_B)
             for j in range(4)],
            "doc_id long, text string",
        )
        lsh_index_batch(b, store, index_buckets=buckets)
    n_docs = store.read().count()
    assert n_docs == 20

    def data_files():
        count = 0
        v = _os.path.join(store.path, store.current_version())
        for root, _dirs, files in _os.walk(v):
            count += sum(1 for f in files if f.endswith(".parquet"))
        return count

    # At local scale AQE coalesces each merge's write to one file per
    # bucket; at real scale every merge writes one file per shuffle
    # task per touched bucket. Simulate that fragmentation so the test
    # exercises what compaction exists for.
    store.overwrite(store.read().repartition(12), partition_by=["__bkt"])
    before = data_files()
    assert before > buckets  # genuinely fragmented
    compact_lsh_index(store, index_buckets=buckets)
    after = data_files()
    assert after < before
    assert after <= buckets  # ~one file per bucket partition
    assert store.read().count() == n_docs

    # detection across the compaction boundary: a dup of a pre-
    # compaction doc is still caught, and the merge stays differential
    # (only the touched bucket partitions rewritten in the new version)
    dup = spark.createDataFrame(
        [(999, "batch 0 doc 0 unique words 0-0 " + TEXT_B)],
        "doc_id long, text string",
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             lsh_index_batch(dup, store, index_buckets=buckets).collect()}
    assert (0, 999) in pairs
    v_dir = _os.path.join(store.path, store.current_version())
    physically_written = {
        d for d in _os.listdir(v_dir) if d.startswith("__bkt=")
        and any(not f.startswith((".", "_")) for f in _os.listdir(_os.path.join(v_dir, d)))
    }
    assert len(physically_written) >= 1  # layout survived: partition dirs, not flat


def test_incremental_lsh_dedup_streaming_e2e(spark, tmp_table_dir):
    src = f"{tmp_table_dir}/src"
    os.makedirs(src)
    with open(f"{src}/b1.json", "w", encoding="utf-8") as f:
        f.write(json.dumps({"doc_id": 1, "text": TEXT_A}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": TEXT_B}) + "\n")

    store = TableStore(spark, f"{tmp_table_dir}/idx")
    pairs_dir = f"{tmp_table_dir}/pairs"
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = incremental_lsh_dedup(
        stream, store, pairs_dir, checkpoint_dir=f"{tmp_table_dir}/ckpt"
    )
    q.awaitTermination(120)
    assert store.read().count() == 2

    # second file arrives: duplicate of doc 1 across the restart
    with open(f"{src}/b2.json", "w", encoding="utf-8") as f:
        f.write(json.dumps({"doc_id": 50, "text": TEXT_A}) + "\n")
    stream2 = spark.readStream.schema("doc_id long, text string").json(src)
    q2 = incremental_lsh_dedup(
        stream2, store, pairs_dir, checkpoint_dir=f"{tmp_table_dir}/ckpt"
    )
    q2.awaitTermination(120)

    assert store.read().count() == 3
    got = {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(pairs_dir).collect()}
    assert (1, 50) in got


def test_pair_history_ttl_report_end_to_end(spark, tmp_table_dir):
    """lsh_index_batch tags appended pairs with their batch id; the
    pair_history_report consumer computes new/redetected/active counts
    per batch, with TTL islands merging across re-detections."""
    from pasta_pipeline_spark.operators.pair_ttl import pair_history_report
    from pasta_pipeline_spark.operators.util import release_cached_deps

    store = TableStore(spark, f"{tmp_table_dir}/ttl_idx")
    pairs_dir = f"{tmp_table_dir}/ttl_pairs"
    # batch 0: two docs, one duplicate pair within the batch
    b0 = spark.createDataFrame(
        [(1, TEXT_A), (2, TEXT_A)], "doc_id long, text string"
    )
    lsh_index_batch(b0, store, pairs_dir=pairs_dir, batch_id=0)
    # batch 1: doc 3 duplicates doc 1 (new pair 1-3 and new pair 2-3)
    b1 = spark.createDataFrame([(3, TEXT_A)], "doc_id long, text string")
    lsh_index_batch(b1, store, pairs_dir=pairs_dir, batch_id=1)
    # batch 5: replay doc 2 -> re-detects (1,2) after a gap
    b5 = spark.createDataFrame([(2, TEXT_A)], "doc_id long, text string")
    lsh_index_batch(b5, store, pairs_dir=pairs_dir, batch_id=5)

    history = spark.read.parquet(pairs_dir)
    assert "batch_id" in history.columns
    rep = pair_history_report(history, ttl=2)
    rows = {r["batch_id"]: r for r in rep.collect()}
    release_cached_deps(rep)
    assert sorted(rows) == [0, 1, 2, 3, 4, 5]  # full spine incl. silent batches
    assert rows[0]["n_new"] == 1 and rows[0]["n_redetected"] == 0
    assert rows[1]["n_new"] == 2
    # replay detections of already-known pairs are redetections
    assert rows[5]["n_new"] == 0 and rows[5]["n_redetected"] >= 1
    # ttl=2: alive interval [d, d+1] — (1,2) from batch 0 is active
    # through 1; the two batch-1 pairs through 2; all gone by 3
    assert rows[1]["n_active"] == 3
    assert rows[2]["n_active"] == 2
    assert rows[3]["n_active"] == 0 and rows[4]["n_active"] == 0
    assert rows[5]["n_active"] >= 1


def test_pair_lifecycle_sink_equals_batch_report(spark, tmp_table_dir):
    """Streaming lifecycle maintenance == batch pair_history_report
    over the full history, under a scenario that exercises every state
    transition: new pairs, same-batch redetection, island extension,
    island closure + reopening past the TTL, multi-source-batch
    micro-batches, and batches with no detections in the spine."""
    from pasta_pipeline_spark.operators.pair_ttl import pair_history_report
    from pasta_pipeline_spark.streaming.pair_lifecycle import (
        lifecycle_report,
        pair_lifecycle_sink,
    )

    # (doc_a, doc_b, batch_id) detection history; ttl=2
    hist = [
        (1, 2, 0), (3, 4, 0),          # two new pairs
        (1, 2, 1),                     # extension (island stays open)
        (5, 6, 4),                     # new pair after a silent gap
        (1, 2, 5),                     # reopens PAST ttl → old island closed
        (3, 4, 5), (3, 4, 5),         # duplicate detection rows collapse
        (7, 8, 8), (1, 2, 8),         # another wave
    ]
    schema = "doc_a long, doc_b long, batch_id long"
    batch_df = spark.createDataFrame(hist, schema)
    expected = {
        tuple(r)
        for r in pair_history_report(batch_df, ttl=2).collect()
    }

    from pasta_pipeline_spark.sources.tables import TableStore

    src = f"{tmp_table_dir}/pl_src"
    state = TableStore(spark, f"{tmp_table_dir}/pl_state")
    aux = f"{tmp_table_dir}/pl_aux"
    ckpt = f"{tmp_table_dir}/pl_ckpt"

    # feed in three waves; the middle wave spans TWO source batch ids
    # inside one micro-batch (the fold must merge them in order)
    waves = [
        [r for r in hist if r[2] <= 1],
        [r for r in hist if 2 <= r[2] <= 5],
        [r for r in hist if r[2] > 5],
    ]
    for wave in waves:
        spark.createDataFrame(wave, schema).write.parquet(src, mode="append")
        stream = spark.readStream.schema(schema).parquet(src)
        pair_lifecycle_sink(
            stream, state, aux, checkpoint_dir=ckpt, ttl=2
        ).awaitTermination(120)

    got = {tuple(r) for r in lifecycle_report(spark, state, aux).collect()}
    assert got == expected

    # state is bounded: one open island per distinct pair
    st = state.read().collect()
    assert len(st) == 4 and all(r["e"] >= r["s"] for r in st)


def test_pairs_dir_without_batch_id_raises_before_indexing(spark, tmp_table_dir):
    """The pair history is partitioned by batch_id, so a pairs_dir needs
    one; the index is not touched."""
    store = TableStore(spark, f"{tmp_table_dir}/nobid_idx")
    b = spark.createDataFrame([(1, TEXT_A), (2, TEXT_A)], "doc_id long, text string")
    with pytest.raises(ValueError, match="batch_id"):
        lsh_index_batch(b, store, pairs_dir=f"{tmp_table_dir}/nobid_pairs")
    assert not store.exists()
    assert not os.path.exists(f"{tmp_table_dir}/nobid_pairs")


def test_pairs_dir_replayed_batch_overwrites_its_partition(spark, tmp_table_dir):
    """Each batch's pairs land in its own ``batch_id=<n>/`` partition; a
    rerun of batch 0 replaces that partition instead of appending a
    second copy, and batch 1's partition sits beside it."""
    pairs_dir = f"{tmp_table_dir}/replay_pairs"
    store = TableStore(spark, f"{tmp_table_dir}/replay_idx")
    b0 = spark.createDataFrame([(1, TEXT_A), (2, TEXT_A), (3, TEXT_B)], "doc_id long, text string")
    lsh_index_batch(b0, store, pairs_dir=pairs_dir, batch_id=0)

    def rows():
        return sorted(
            tuple(r) for r in spark.read.parquet(pairs_dir)
            .select("doc_a", "doc_b", "batch_id").collect()
        )

    assert rows() == [(1, 2, 0)]
    lsh_index_batch(b0, store, pairs_dir=pairs_dir, batch_id=0)  # replay
    assert rows() == [(1, 2, 0)]

    b1 = spark.createDataFrame([(10, TEXT_B)], "doc_id long, text string")
    lsh_index_batch(b1, store, pairs_dir=pairs_dir, batch_id=1)
    assert rows() == [(1, 2, 0), (3, 10, 1)]
    parts = sorted(f for f in os.listdir(pairs_dir) if not f.startswith(("_", ".")))
    assert parts == ["batch_id=0", "batch_id=1"]


def test_pairs_dir_batch_without_pairs_writes_no_data_file(spark, tmp_table_dir):
    """A batch that finds no pair leaves no parquet file, so the history
    is only readable once some batch found one."""
    pairs_dir = f"{tmp_table_dir}/empty_pairs"
    store = TableStore(spark, f"{tmp_table_dir}/empty_idx")
    b0 = spark.createDataFrame([(1, TEXT_A), (2, TEXT_B)], "doc_id long, text string")
    assert lsh_index_batch(b0, store, pairs_dir=pairs_dir, batch_id=0).collect() == []
    data = [
        f for _, _, fs in os.walk(pairs_dir) for f in fs if f.endswith(".parquet")
    ] if os.path.isdir(pairs_dir) else []
    assert data == []

    b1 = spark.createDataFrame([(5, TEXT_A)], "doc_id long, text string")
    lsh_index_batch(b1, store, pairs_dir=pairs_dir, batch_id=1)
    got = [tuple(r) for r in spark.read.parquet(pairs_dir).select("doc_a", "doc_b", "batch_id").collect()]
    assert got == [(1, 5, 1)]
