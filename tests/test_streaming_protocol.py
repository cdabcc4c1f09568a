"""The streaming-state protocol through the real engine: every stateful
sink in streaming/sink.py, the incremental LSH dedup and the pair
lifecycle survive a replay of their last micro-batch, every
foreachBatch entry point rejects a missing checkpoint_dir before it
starts a query, a per-batch partition overwrite refuses a dir whose
flat root files it would hide, and the pointer and pin-marker writes
are durable (fsync before the rename, the directory after it)."""

from __future__ import annotations

import datetime as dt
import importlib
import inspect
import json
import os
import pkgutil
import re
import stat

import pytest
from pyspark.sql import functions as F

from pasta_pipeline_spark.sources.tables import TableStore

SCHEMA = (
    "id long, k string, v double, text string, source string, lang string, "
    "user_id long, ts timestamp, value double, event_type string, stratum string, "
    "host string, fetched_at_s long, o_orderdate date, o_totalprice double, "
    "score double, label long, w long, g long, embedding array<double>"
)
TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "a slow green turtle walks along the sandy shore of the quiet lake",
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "data pipelines move records from sources into tables every single day",
    None,
]
ROWS = [
    (
        i, f"k{i % 3}", float(i % 7), TEXTS[i % len(TEXTS)], f"s{i % 3}",
        "en" if i % 2 else "de", 100 + i % 5, dt.datetime(2024, 1, 10 + i % 10),
        float(i * 3 % 11), ["view", "click"][i % 2], f"st{i % 2}", f"h{i % 2}",
        1000 + 2 * i, dt.date(2020, 1, 1 + i % 4), 10.0 + i, float(i % 10 * 10),
        i % 2, 1 + i % 4, i % 2, [float(i % 3), float(i % 5), 1.0, float(i)],
    )
    for i in range(16)
]


def _sink_cases():
    """Every stateful entry point of streaming/sink.py: id -> (number of
    state stores, start(stream, stores, checkpoint_dir, root))."""
    from pasta_pipeline_spark.operators.expectations import max_value, not_null
    from pasta_pipeline_spark.streaming import sink as S

    def pq(st, t, ck, root):
        from pasta_pipeline_spark.operators.similarity import _pq_seed_codebooks

        spark = st.sparkSession
        vecs = spark.createDataFrame([(r[0], r[-1]) for r in ROWS], "id long, embedding array<double>")
        cb = _pq_seed_codebooks(vecs, 2, 2, 4, "id", "embedding").localCheckpoint(eager=True)
        return S.incremental_pq_codes_sink(
            st, t[0], cb, ck, n_subspaces=2, dim=4, id_col="id", vec_col="embedding"
        )

    laws = {"n": "sum", "sum_x": "sum"}
    return {
        "foreach_batch_merge": (1, lambda st, t, ck, r: S.foreach_batch_merge(st, t[0], "id", "v", ck)),
        "foreach_batch_merge_partitioned": (1, lambda st, t, ck, r: S.foreach_batch_merge_partitioned(
            st, t[0], "id", "k", "v", ck)),
        "incremental_summary_sink": (1, lambda st, t, ck, r: S.incremental_summary_sink(
            st, t[0], "k", "v", ck)),
        "incremental_histogram_sink": (1, lambda st, t, ck, r: S.incremental_histogram_sink(
            st, t[0], "k", "v", 0.0, 10.0, ck, n_bins=5)),
        "incremental_heavy_hitter_sink": (1, lambda st, t, ck, r: S.incremental_heavy_hitter_sink(
            st, t[0], "k", "source", ck, m=2)),
        "incremental_token_distribution_sink": (1, lambda st, t, ck, r: (
            S.incremental_token_distribution_sink(st.where("text IS NOT NULL"), t[0], ck))),
        "incremental_cms_sink": (1, lambda st, t, ck, r: S.incremental_cms_sink(
            st, t[0], "k", ck, width=16, depth=2)),
        "incremental_hll_sink": (1, lambda st, t, ck, r: S.incremental_hll_sink(
            st, t[0], "source", keys=["k"], checkpoint_dir=ck)),
        "incremental_reservoir_sink": (1, lambda st, t, ck, r: S.incremental_reservoir_sink(
            st, t[0], "id", "w", 3, "k", ck)),
        "incremental_bloom_sink": (1, lambda st, t, ck, r: S.incremental_bloom_sink(
            st, t[0], "source", ck, n_words=16)),
        "incremental_pq_codes_sink": (1, pq),
        "incremental_datacard_sink": (3, lambda st, t, ck, r: S.incremental_datacard_sink(
            st, *t, ck)),
        "expectations_gated_merge_sink": (1, lambda st, t, ck, r: S.expectations_gated_merge_sink(
            st, t[0], [not_null("id"), max_value("v", 5)], f"{r}/quarantine", ck)),
        "incremental_compliance_sink": (1, lambda st, t, ck, r: S.incremental_compliance_sink(
            st, t[0], ck, required_delay_s=3)),
        "incremental_ks_sink": (1, lambda st, t, ck, r: S.incremental_ks_sink(
            st, t[0], "v", F.col("g") == 0, ck)),
        "incremental_funnel_sink": (2, lambda st, t, ck, r: S.incremental_funnel_sink(
            st, *t, ck, id_col="id")),
        "incremental_dsir_sink": (2, lambda st, t, ck, r: S.incremental_dsir_sink(
            st, *t, F.col("g") == 0, ck, id_col="id", m=64)),
        "incremental_holt_sink": (1, lambda st, t, ck, r: S.incremental_holt_sink(st, t[0], ck)),
        "sufficient_stats_sink": (1, lambda st, t, ck, r: S.sufficient_stats_sink(
            st, t[0], ck, keys="k", merge_laws=laws,
            delta_fn=lambda b: b.groupBy("k").agg(
                F.count(F.lit(1)).alias("n"), F.sum("w").alias("sum_x")))),
        "incremental_isotonic_sink": (1, lambda st, t, ck, r: S.incremental_isotonic_sink(
            st, t[0], ck, "CAST(score / 10 AS BIGINT)", "label = 1")),
        "incremental_quantiles_sink": (1, lambda st, t, ck, r: S.incremental_quantiles_sink(
            st, t[0], ck, "value")),
        "incremental_cuped_sink": (1, lambda st, t, ck, r: S.incremental_cuped_sink(
            st, t[0], ck, boundary="2024-01-15")),
        "incremental_ratio_delta_sink": (1, lambda st, t, ck, r: S.incremental_ratio_delta_sink(
            st, t[0], ck)),
        "incremental_srm_sink": (1, lambda st, t, ck, r: S.incremental_srm_sink(st, t[0], ck)),
        "incremental_qte_sink": (1, lambda st, t, ck, r: S.incremental_qte_sink(st, t[0], ck)),
        "incremental_post_strat_sink": (1, lambda st, t, ck, r: S.incremental_post_strat_sink(
            st, t[0], ck)),
        "incremental_srm_by_segment_sink": (1, lambda st, t, ck, r: (
            S.incremental_srm_by_segment_sink(st, t[0], ck))),
        "incremental_group_sequential_sink": (1, lambda st, t, ck, r: (
            S.incremental_group_sequential_sink(st, t[0], ck))),
    }


def _replay_cases():
    """The stateful sinks plus the incremental LSH dedup (its signature
    index and its pair history under ``<root>/pairs``) and the pair
    lifecycle (its state and its two logs under ``<root>/aux``; pairs
    (k, source) detected every 6 ``fetched_at_s`` ticks, so with the
    default ttl of 3 islands close and both logs get a partition)."""
    from pasta_pipeline_spark.streaming.dedup import incremental_lsh_dedup
    from pasta_pipeline_spark.streaming.pair_lifecycle import pair_lifecycle_sink

    return {
        **_sink_cases(),
        "incremental_lsh_dedup": (1, lambda st, t, ck, r: incremental_lsh_dedup(
            st, t[0], f"{r}/pairs", ck, id_col="id")),
        "pair_lifecycle_sink": (1, lambda st, t, ck, r: pair_lifecycle_sink(
            st, t[0], f"{r}/aux", ck, a_col="k", b_col="source", batch_col="fetched_at_s")),
    }


def _snapshot(spark, stores, root):
    """Every state table's rows, and those of each per-batch log
    (quarantine, pair history, lifecycle logs) there is."""
    snap = [sorted(repr(tuple(row)) for row in s.read().collect()) for s in stores]
    for log in ("quarantine", "pairs", "aux/closed_deltas", "aux/batch_stats"):
        if os.path.isdir(f"{root}/{log}"):
            snap.append(sorted(repr(tuple(row)) for row in spark.read.parquet(f"{root}/{log}").collect()))
    return snap


@pytest.mark.parametrize("entry", sorted(_replay_cases()))
def test_replayed_batch_leaves_state_unchanged(spark, tmp_path, entry):
    """Run one wave, delete the newest ``commits/<n>`` of the checkpoint
    (and its .crc), restart: Spark reruns batch n with the same id, and
    every state table (and the gated sink's quarantine, the LSH pair
    history, the lifecycle logs) is unchanged."""
    n_stores, start = _replay_cases()[entry]
    root = str(tmp_path)
    src, ckpt = f"{root}/src", f"{root}/ckpt"
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(src)
    schema = spark.createDataFrame([], SCHEMA).schema
    stores = [TableStore(spark, f"{root}/state{j}", schema=schema) for j in range(n_stores)]

    def run():
        q = start(spark.readStream.schema(SCHEMA).parquet(src), stores, ckpt, root)
        q.awaitTermination(120)
        assert q.exception() is None
        return [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]

    assert run() == [0]
    once = _snapshot(spark, stores, root)
    commits = f"{ckpt}/commits"
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(f"{commits}/{last}")
    if os.path.exists(f"{commits}/.{last}.crc"):
        os.remove(f"{commits}/.{last}.crc")
    assert run() == [last]  # the engine really reran the batch, same id
    assert _snapshot(spark, stores, root) == once


@pytest.mark.parametrize("log", ["quarantine", "pairs", "closed_deltas", "batch_stats"])
def test_flat_files_at_partitioned_root_raise(spark, tmp_path, log):
    """A quarantine, pair history or pair-lifecycle log written flat (one
    unpartitioned append per batch) would vanish from a read once a
    ``<col>=<n>/`` partition sits beside its root files: the
    partitioned write refuses it with a ValueError naming the dir and
    leaves the dir as it was."""
    from pasta_pipeline_spark.operators.expectations import max_value, not_null
    from pasta_pipeline_spark.streaming.dedup import lsh_index_batch
    from pasta_pipeline_spark.streaming.pair_lifecycle import apply_lifecycle_batch
    from pasta_pipeline_spark.streaming.sink import expectations_gated_merge_sink

    root = str(tmp_path)
    store = TableStore(spark, f"{root}/state")
    if log in ("closed_deltas", "batch_stats"):
        # (1, 2) detected at batches 0 and 5 with ttl=2: the first island
        # closes, so both lifecycle logs get a partition
        batch = spark.createDataFrame(
            [(1, 2, 0), (1, 2, 5), (3, 4, 5)], "doc_a long, doc_b long, batch_id long"
        )
        flat = f"{root}/aux/{log}"
    else:
        batch = spark.createDataFrame(ROWS, SCHEMA)
        flat = f"{root}/{log}"
    batch.limit(3).coalesce(1).write.parquet(flat)
    before = sorted(os.listdir(flat))
    if log == "pairs":
        with pytest.raises(ValueError, match=f"{re.escape(flat)}.*batch_id=<n>/"):
            lsh_index_batch(batch, store, pairs_dir=flat, batch_id=0, id_col="id")
    elif log == "quarantine":
        src = f"{root}/src"
        batch.coalesce(1).write.parquet(src)
        q = expectations_gated_merge_sink(
            spark.readStream.schema(SCHEMA).parquet(src), store,
            [not_null("id"), max_value("v", 5)], flat, f"{root}/ckpt",
        )
        with pytest.raises(Exception, match="move them into a __batch_id=<n>/ dir"):
            q.awaitTermination(120)
    else:
        with pytest.raises(ValueError, match=f"{re.escape(flat)}.*__mb=<n>/"):
            apply_lifecycle_batch(batch, 0, store, f"{root}/aux", ttl=2)
    assert sorted(os.listdir(flat)) == before
    assert spark.read.parquet(flat).count() == 3


def test_overwrite_by_batch_writes_beside_hidden_root_files(spark, tmp_path):
    """The flat-file check passes a new dir and one whose root holds only
    Spark's ``_SUCCESS`` and hidden ``.crc`` files beside its
    partitions: batches land in their own partitions and a rerun
    replaces its own."""
    from pasta_pipeline_spark.streaming.exactly_once import overwrite_by_batch

    path = f"{tmp_path}/log"
    df = spark.createDataFrame([(1,), (2,)], "x long")
    overwrite_by_batch(df, 0, path)
    with open(f"{path}/.stray.crc", "w") as fh:
        fh.write("x")
    overwrite_by_batch(df.limit(1), 1, path)
    overwrite_by_batch(df.where("x = 2"), 0, path)  # rerun of batch 0
    got = sorted(tuple(r) for r in spark.read.parquet(path).select("x", "__mb").collect())
    assert got == [(1, 1), (2, 0)]


ENTRY_POINTS = {
    "pasta_pipeline_spark.streaming.sink": sorted(_sink_cases()),
    "pasta_pipeline_spark.streaming.dedup": ["incremental_lsh_dedup"],
    "pasta_pipeline_spark.streaming.frontier": ["incremental_frontier_sink"],
    "pasta_pipeline_spark.streaming.linkage": ["incremental_linkage_sink"],
    "pasta_pipeline_spark.streaming.pair_lifecycle": ["pair_lifecycle_sink"],
}


def test_entry_point_list_is_complete():
    """Every public streaming function taking a checkpoint_dir is listed
    (exactly_once holds the start helper they all share)."""
    import pasta_pipeline_spark.streaming as pkg

    for info in pkgutil.iter_modules(pkg.__path__):
        mod_name = f"{pkg.__name__}.{info.name}"
        if info.name == "exactly_once":
            continue
        mod = importlib.import_module(mod_name)
        found = {
            n for n, f in vars(mod).items()
            if inspect.isfunction(f) and f.__module__ == mod_name and not n.startswith("_")
            and "checkpoint_dir" in inspect.signature(f).parameters
        }
        assert found == set(ENTRY_POINTS.get(mod_name, [])), mod_name
    assert sum(len(v) for v in ENTRY_POINTS.values()) == 32


@pytest.mark.parametrize("bad", ["", None])
@pytest.mark.parametrize(
    "entry", [f"{m}:{n}" for m, names in ENTRY_POINTS.items() for n in names]
)
def test_missing_checkpoint_dir_raises_value_error(spark, entry, bad):
    """A missing checkpoint_dir is a ValueError raised before any query
    starts — not an IllegalArgumentException from inside Spark."""
    mod_name, name = entry.split(":")
    fn = getattr(importlib.import_module(mod_name), name)
    overrides = {"k": 1, "keys": "k", "checkpoint_dir": bad}
    kwargs = {
        p.name: overrides.get(p.name)
        for p in inspect.signature(fn).parameters.values()
        if p.kind not in (p.VAR_KEYWORD, p.VAR_POSITIONAL)
        and (p.default is p.empty or p.name == "checkpoint_dir")
    }
    first = next(iter(inspect.signature(fn).parameters))
    kwargs[first] = spark.readStream.format("rate").load()
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="checkpoint_dir"):
        fn(**kwargs)
    assert len(spark.streams.active) == active


def test_pointer_and_marker_writes_fsync_before_replace(spark, tmp_path, monkeypatch):
    """Both atomic sites — the TableStore version pointer and the
    MicroBatchPin marker — fsync the temp file, then rename it over the
    target, then fsync the directory."""
    from pasta_pipeline_spark.streaming.exactly_once import MicroBatchPin

    store = TableStore(spark, str(tmp_path / "t"))
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append("fsync dir" if stat.S_ISDIR(os.fstat(fd).st_mode) else "fsync file")
        real_fsync(fd)

    def replace(src, dst):
        events.append(f"replace {os.path.basename(dst)}")
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)

    store.overwrite(spark.range(3))
    assert events == ["fsync file", "replace _CURRENT", "fsync dir"]
    assert store.read().count() == 3

    events.clear()
    marker = tmp_path / "ckpt" / "_state_mb.json"
    pre = MicroBatchPin(str(marker)).pre_versions(7, {"t": store})
    assert events == ["fsync file", "replace _state_mb.json", "fsync dir"]
    assert json.loads(marker.read_text()) == {"mb_id": 7, "pre": pre}
    assert sorted(os.listdir(marker.parent)) == ["_state_mb.json"]  # no temp file left
