"""TableStore atomic-overwrite protocol tests."""

from __future__ import annotations

import os

from pasta_pipeline_spark.sources.tables import TableStore


def test_read_before_write_returns_empty_with_schema(spark, tmp_table_dir):
    from pasta_pipeline_spark.schemas import MESSAGE_SCHEMA

    store = TableStore(spark, f"{tmp_table_dir}/t", MESSAGE_SCHEMA)
    assert not store.exists()
    df = store.read()
    assert df.count() == 0
    assert df.schema == MESSAGE_SCHEMA


def test_overwrite_swaps_versions_atomically(spark, tmp_table_dir):
    store = TableStore(spark, f"{tmp_table_dir}/t")
    store.overwrite(spark.range(5))
    v1 = store.current_version()
    assert store.read().count() == 5

    store.overwrite(spark.range(7))
    v2 = store.current_version()
    assert v1 != v2
    assert store.read().count() == 7
    # the superseded version survives one write (concurrent readers
    # that resolved the pointer pre-flip still see a full snapshot)
    dirs = set(d for d in os.listdir(store.path) if d.startswith("v-"))
    assert dirs == {v1, v2}

    store.overwrite(spark.range(9))
    v3 = store.current_version()
    # v1 (two writes stale) is garbage-collected; v2 kept as previous
    dirs = set(d for d in os.listdir(store.path) if d.startswith("v-"))
    assert dirs == {v2, v3}


def test_overwrite_gc_reclaims_leaked_versions(spark, tmp_table_dir):
    """A crash between the parquet write and the pointer flip leaves an
    unreferenced v-* dir; the next successful write reclaims it."""
    store = TableStore(spark, f"{tmp_table_dir}/t")
    store.overwrite(spark.range(5))
    v1 = store.current_version()
    # simulate the crash leak: a version dir no pointer references
    leaked = os.path.join(store.path, "v-deadbeef0000")
    os.makedirs(leaked)
    store.overwrite(spark.range(6))
    dirs = set(d for d in os.listdir(store.path) if d.startswith("v-"))
    assert dirs == {v1, store.current_version()}


def test_overwrite_derived_from_own_read(spark, tmp_table_dir):
    """The merge path reads the table and overwrites it with a plan
    derived from that read — the version layout must make this safe
    (the new version is fully written before the pointer flips)."""
    store = TableStore(spark, f"{tmp_table_dir}/t")
    store.overwrite(spark.range(10))
    doubled = store.read().selectExpr("id * 2 AS id")
    store.overwrite(doubled)
    assert sorted(r["id"] for r in store.read().collect()) == list(range(0, 20, 2))


def test_compact_reduces_file_count(spark, tmp_table_dir):
    store = TableStore(spark, f"{tmp_table_dir}/t")
    store.overwrite(spark.range(1000).repartition(16))
    v_files = lambda: len(  # noqa: E731
        [f for f in os.listdir(os.path.join(store.path, store.current_version()))
         if f.endswith(".parquet")]
    )
    assert v_files() == 16
    store.compact(2)
    assert v_files() == 2
    assert store.read().count() == 1000


def test_bucketed_join_has_no_shuffle(spark, tmp_table_dir):
    """Co-located join: two tables bucketed on the key join without an
    Exchange (SURVEY.md §4 — the B-tree-index replacement)."""
    import re

    from pyspark.sql import functions as F

    from pasta_pipeline_spark.sources.tables import write_bucketed_table

    import shutil

    spark.sql("DROP TABLE IF EXISTS b_left")
    spark.sql("DROP TABLE IF EXISTS b_right")
    # a previous session may have left the managed-table dirs behind
    # (DROP in a fresh session doesn't know them) — clear the locations
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_left", "b_right"):
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    left = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    right = spark.range(500).select(F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
    write_bucketed_table(left, "b_left", "k", num_buckets=8, sort_col="k")
    write_bucketed_table(right, "b_right", "k", num_buckets=8, sort_col="k")

    joined = spark.table("b_left").join(spark.table("b_right"), "k")
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.MULTILINE)) == 0
    assert joined.count() == 500


def test_partitioned_layout_prunes(spark, tmp_table_dir):
    """Date-partitioned table layout — the replacement for the
    reference's B-tree index on `date` (SURVEY.md §4): a date-equality
    filter reads only the matching partition directory."""
    from datetime import date

    from pyspark.sql import functions as F

    store = TableStore(spark, f"{tmp_table_dir}/t")
    df = spark.createDataFrame(
        [(i, date(2024, 1, 1 + i % 3), float(i)) for i in range(300)],
        "id long, day date, value double",
    )
    store.overwrite(df, partition_by=["day"])

    scan = store.read().where(F.col("day") == date(2024, 1, 2))
    plan = scan._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [isnotnull(day" in plan
    assert scan.count() == 100
    # physical layout: one dir per day under the live version
    import os as _os

    vdir = _os.path.join(store.path, store.current_version())
    assert sorted(d for d in _os.listdir(vdir) if d.startswith("day=")) == [
        "day=2024-01-01", "day=2024-01-02", "day=2024-01-03",
    ]


def _inodes(dirpath):
    import os as _os

    return {
        f: _os.stat(_os.path.join(dirpath, f)).st_ino
        for f in _os.listdir(dirpath)
        if _os.path.isfile(_os.path.join(dirpath, f)) and not f.startswith("_")
    }


def test_merge_partitioned_rewrites_only_touched_partitions(spark, tmp_table_dir):
    import os as _os

    from pyspark.sql import functions as F

    store = TableStore(spark, f"{tmp_table_dir}/mp")
    base = spark.createDataFrame(
        [(i, i % 10, f"v{i}", i) for i in range(1000)],
        "id long, day int, payload string, seq long",
    )
    store.overwrite(base, partition_by=["day"])
    v0 = _os.path.join(store.path, store.current_version())
    untouched_before = {
        d: _inodes(_os.path.join(v0, d))
        for d in _os.listdir(v0)
        if d.startswith("day=") and d not in ("day=3", "day=7")
    }

    updates = spark.createDataFrame(
        [(3, 3, "NEW3", 99), (7, 7, "NEW7", 99), (2000, 3, "ADD", 1)],
        "id long, day int, payload string, seq long",
    )
    store.merge_partitioned(updates, key="id", partition_col="day", order_col="seq")

    v1 = _os.path.join(store.path, store.current_version())
    assert v1 != v0

    # untouched partitions: identical file names AND inodes (hardlinked,
    # not rewritten, not copied)
    for d, inodes in untouched_before.items():
        assert _inodes(_os.path.join(v1, d)) == inodes, d

    # semantics: equal to a full merge
    got = store.read()
    assert got.count() == 1001
    row3 = {r["id"]: r for r in got.filter(F.col("day") == 3).collect()}
    assert row3[3]["payload"] == "NEW3"
    assert row3[2000]["payload"] == "ADD"
    assert row3[13]["payload"] == "v13"  # unmerged row in a touched partition survives
    assert got.filter(F.col("id") == 7).collect()[0]["payload"] == "NEW7"
    # untouched partition content intact
    assert got.filter(F.col("id") == 5).collect()[0]["payload"] == "v5"


def test_merge_partitioned_new_partition_value(spark, tmp_table_dir):
    import os as _os

    store = TableStore(spark, f"{tmp_table_dir}/np")
    base = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id long, day int, v double"
    )
    store.overwrite(base, partition_by=["day"])
    updates = spark.createDataFrame([(100, 9, 1.5)], "id long, day int, v double")
    store.merge_partitioned(updates, key="id", partition_col="day")

    assert store.read().count() == 31
    v1 = _os.path.join(store.path, store.current_version())
    assert "day=9" in _os.listdir(v1)


def test_merge_partitioned_first_write_and_idempotence(spark, tmp_table_dir):
    store = TableStore(spark, f"{tmp_table_dir}/fw")
    batch = spark.createDataFrame(
        [(1, 0, "a", 1), (2, 1, "b", 1)], "id long, day int, p string, seq long"
    )
    # no live version yet: degrade to a partitioned overwrite
    store.merge_partitioned(batch, key="id", partition_col="day", order_col="seq")
    assert store.read().count() == 2
    # re-applying the same batch changes nothing (upsert idempotence)
    store.merge_partitioned(batch, key="id", partition_col="day", order_col="seq")
    got = {r["id"]: r["p"] for r in store.read().collect()}
    assert got == {1: "a", 2: "b"}


def test_streaming_sink_merge_partitioned(spark, tmp_table_dir):
    """Streaming ingest → partition-differential merge sink: the second
    micro-batch touches only day=1, so day=0's files survive by
    hardlink (same inodes) while the merged content is correct."""
    import json as _json
    import os as _os

    from pasta_pipeline_spark.streaming.sink import foreach_batch_merge_partitioned

    store = TableStore(spark, f"{tmp_table_dir}/stream_mp")
    base = spark.createDataFrame(
        [(i, i % 2, f"v{i}", 0) for i in range(20)],
        "id long, day int, payload string, seq long",
    )
    store.overwrite(base, partition_by=["day"])
    v0 = _os.path.join(store.path, store.current_version())
    day0_before = _inodes(_os.path.join(v0, "day=0"))

    src_dir = f"{tmp_table_dir}/incoming"
    _os.makedirs(src_dir)
    with open(f"{src_dir}/batch.json", "w", encoding="utf-8") as f:
        f.write(_json.dumps({"id": 1, "day": 1, "payload": "NEW", "seq": 5}) + "\n")
        f.write(_json.dumps({"id": 101, "day": 1, "payload": "ADD", "seq": 5}) + "\n")

    stream = spark.readStream.schema(
        "id long, day int, payload string, seq long"
    ).json(src_dir)
    q = foreach_batch_merge_partitioned(
        stream,
        store,
        key="id",
        partition_col="day",
        order_col="seq",
        checkpoint_dir=f"{tmp_table_dir}/ckpt",
    )
    q.awaitTermination(60)

    v1 = _os.path.join(store.path, store.current_version())
    assert v1 != v0
    assert _inodes(_os.path.join(v1, "day=0")) == day0_before  # untouched by hardlink
    got = {r["id"]: r["payload"] for r in store.read().collect()}
    assert got[1] == "NEW" and got[101] == "ADD" and got[0] == "v0" and len(got) == 21


def test_merge_partitioned_null_and_escaped_partition_values(spark, tmp_table_dir):
    """Partition dirs are Hive-ENCODED (NULL -> __HIVE_DEFAULT_PARTITION__,
    special chars URL-escaped), so the untouched set must come from the
    dirs Spark actually wrote, never an f-string reconstruction — and
    the touched-subset filter must be null-safe (isin drops NULLs)."""
    import os as _os

    from pyspark.sql import functions as F

    store = TableStore(spark, f"{tmp_table_dir}/esc")
    base = spark.createDataFrame(
        [
            (1, "a b", "old-ab", 1),
            (2, "a b", "keep-ab", 1),
            (3, "x:y", "keep-xy", 1),
            (4, None, "old-null", 1),
            (5, None, "keep-null", 1),
        ],
        "id long, cat string, payload string, seq long",
    )
    store.overwrite(base, partition_by=["cat"])
    v0 = _os.path.join(store.path, store.current_version())
    dirs0 = {d for d in _os.listdir(v0) if d.startswith("cat=")}
    # sanity: the encoding genuinely differs from str()
    assert "cat=__HIVE_DEFAULT_PARTITION__" in dirs0
    assert "cat=x%3Ay" in dirs0  # colon is URL-escaped
    xy_dir = "cat=x%3Ay"
    xy_inodes = _inodes(_os.path.join(v0, xy_dir))

    updates = spark.createDataFrame(
        [(1, "a b", "NEW-ab", 9), (4, None, "NEW-null", 9), (6, None, "ADD-null", 9)],
        "id long, cat string, payload string, seq long",
    )
    store.merge_partitioned(updates, key="id", partition_col="cat", order_col="seq")

    got = store.read()
    rows = {r["id"]: r for r in got.collect()}
    # no duplicates anywhere (a stale hardlink next to a rewrite would dup)
    assert got.count() == 6 and len(rows) == 6
    assert rows[1]["payload"] == "NEW-ab"
    assert rows[2]["payload"] == "keep-ab"  # unmerged row in touched partition
    assert rows[4]["payload"] == "NEW-null"
    assert rows[5]["payload"] == "keep-null"  # NULL partition not dropped by isin
    assert rows[6]["payload"] == "ADD-null"
    # untouched escaped partition carried by hardlink, not rewritten
    v1 = _os.path.join(store.path, store.current_version())
    assert _inodes(_os.path.join(v1, xy_dir)) == xy_inodes


def _assert_live_and_predecessor(store, predecessor):
    """After a commit, GC leaves exactly the live snapshot and the one
    it superseded."""
    assert set(store.versions()) == {store.current_version(), predecessor}


def test_merge_partitioned_manifest_lists_snapshot_files(spark, tmp_table_dir):
    """Every commit writes a manifest whose partition map alone
    reconstructs the snapshot's exact file set, all inside the live
    version dir (untouched partitions are hardlinked in)."""
    import os as _os

    store = TableStore(spark, f"{tmp_table_dir}/mm")
    base = spark.createDataFrame(
        [(i, i % 4, f"v{i}", 0) for i in range(400)],
        "id long, day int, payload string, seq long",
    )
    store.overwrite(base, partition_by=["day"])
    v0 = store.current_version()

    updates = spark.createDataFrame(
        [(1, 1, "NEW1", 9), (401, 1, "ADD", 9)],
        "id long, day int, payload string, seq long",
    )
    store.merge_partitioned(updates, key="id", partition_col="day", order_col="seq")
    v1 = store.current_version()
    _assert_live_and_predecessor(store, v0)

    # the manifest alone reconstructs the snapshot file set: every
    # entry names files that exist in the live version dir, and
    # reading exactly those files yields the merged table
    parts = store.snapshot_partitions()
    assert set(parts) == {"day=0", "day=1", "day=2", "day=3"}
    for d, entry in parts.items():
        assert entry["version"] == v1
        assert entry["files"]
        for fname in entry["files"]:
            p = _os.path.join(store.path, v1, d, fname)
            assert _os.path.isfile(p), p
    got = {r["id"]: r["payload"] for r in store.read().collect()}
    assert len(got) == 401 and got[1] == "NEW1" and got[401] == "ADD" and got[2] == "v2"

    updates2 = spark.createDataFrame(
        [(2, 2, "NEW2", 9)], "id long, day int, payload string, seq long"
    )
    store.merge_partitioned(updates2, key="id", partition_col="day", order_col="seq")
    _assert_live_and_predecessor(store, v1)
    got2 = {r["id"]: r["payload"] for r in store.read().collect()}
    assert got2[2] == "NEW2" and got2[1] == "NEW1" and len(got2) == 401

    # partition pruning still reaches the scan of the schema'd read
    from pyspark.sql import functions as F

    plan = store.read().where(F.col("day") == 3)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [isnotnull(day" in plan


def test_manifest_carry_null_and_escaped_partitions(spark, tmp_table_dir):
    """Carry with Hive-encoded dirs: NULL and URL-escaped partition
    values survive a merge that leaves them untouched, and a later
    merge touching ONLY the NULL partition."""
    store = TableStore(spark, f"{tmp_table_dir}/mnull")
    base = spark.createDataFrame(
        [(1, "a b", "keep-ab", 1), (2, "x:y", "old-xy", 1), (3, None, "keep-null", 1)],
        "id long, cat string, payload string, seq long",
    )
    store.overwrite(base, partition_by=["cat"])
    v0 = store.current_version()
    updates = spark.createDataFrame(
        [(2, "x:y", "NEW-xy", 9)], "id long, cat string, payload string, seq long"
    )
    store.merge_partitioned(updates, key="id", partition_col="cat", order_col="seq")
    _assert_live_and_predecessor(store, v0)
    rows = {r["id"]: (r["cat"], r["payload"]) for r in store.read().collect()}
    assert rows == {
        1: ("a b", "keep-ab"),
        2: ("x:y", "NEW-xy"),
        3: (None, "keep-null"),
    }
    parts = store.snapshot_partitions()
    assert "cat=__HIVE_DEFAULT_PARTITION__" in parts

    v1 = store.current_version()
    u2 = spark.createDataFrame(
        [(4, None, "ADD-null", 9)], "id long, cat string, payload string, seq long"
    )
    store.merge_partitioned(u2, key="id", partition_col="cat", order_col="seq")
    _assert_live_and_predecessor(store, v1)
    rows2 = {r["id"]: r["payload"] for r in store.read().collect()}
    assert rows2 == {1: "keep-ab", 2: "NEW-xy", 3: "keep-null", 4: "ADD-null"}


def test_streaming_sink_partitioned_requires_checkpoint(spark, tmp_table_dir):
    import pytest as _pytest

    from pasta_pipeline_spark.streaming.sink import foreach_batch_merge_partitioned

    store = TableStore(spark, f"{tmp_table_dir}/ckpt_req")
    stream = spark.readStream.format("rate").load()
    with _pytest.raises(ValueError, match="checkpoint_dir"):
        foreach_batch_merge_partitioned(
            stream, store, key="id", partition_col="day", order_col=None,
            checkpoint_dir="",
        )


def test_time_travel_read_predecessor(spark, tmp_table_dir):
    """read(version=...) returns the retained predecessor snapshot;
    GC'd versions raise."""
    import pytest as _pytest

    store = TableStore(spark, f"{tmp_table_dir}/tt")
    store.overwrite(spark.range(5))
    v1 = store.current_version()
    store.overwrite(spark.range(9))
    assert store.read().count() == 9
    assert store.read(version=v1).count() == 5  # time travel
    assert set(store.versions()) == {v1, store.current_version()}
    store.overwrite(spark.range(3))  # v1 now GC'd
    with _pytest.raises(FileNotFoundError, match=v1):
        store.read(version=v1)


def _seeded_store(spark, monkeypatch, path, hexes):
    """TableStore whose version names come from a fixed hex sequence —
    pins the round-4 flake: with random v-<uuid> names, a version
    holding ONLY the NULL partition dir could sort lexicographically
    first and decide the partition column's type as NullType."""
    from pasta_pipeline_spark.sources import tables as _tables

    seq = iter(hexes)

    class _FakeUUID:
        def __init__(self, h):
            self.hex = h

    monkeypatch.setattr(
        _tables.uuid, "uuid4", lambda: _FakeUUID(next(seq)), raising=True
    )
    return TableStore(spark, path)


def test_manifest_null_only_group_sorts_first(spark, monkeypatch, tmp_table_dir):
    """Regression for the round-4 flake: force the version written by a
    NULL-only merge to sort lexicographically FIRST. The manifest
    records the schema at commit, so the read is deterministic
    regardless of version-name order."""
    store = _seeded_store(
        spark,
        monkeypatch,
        f"{tmp_table_dir}/mnull_first",
        # overwrite: version, ptr-tmp; merge1: version, ptr-tmp;
        # merge2 (NULL-only): version sorts FIRST, ptr-tmp
        ["fff00000000a", "aaaaaa", "fff00000000b", "bbbbbb",
         "000000000001", "cccccc"],
    )
    base = spark.createDataFrame(
        [(1, "a b", "keep-ab", 1), (2, "x:y", "old-xy", 1), (3, None, "keep-null", 1)],
        "id long, cat string, payload string, seq long",
    )
    store.overwrite(base, partition_by=["cat"])
    u1 = spark.createDataFrame(
        [(2, "x:y", "NEW-xy", 9)], "id long, cat string, payload string, seq long"
    )
    store.merge_partitioned(u1, key="id", partition_col="cat", order_col="seq")
    _assert_live_and_predecessor(store, "v-fff00000000a")
    u2 = spark.createDataFrame(
        [(4, None, "ADD-null", 9)], "id long, cat string, payload string, seq long"
    )
    store.merge_partitioned(u2, key="id", partition_col="cat", order_col="seq")
    assert store.current_version() == "v-000000000001"
    _assert_live_and_predecessor(store, "v-fff00000000b")
    rows = {r["id"]: (r["cat"], r["payload"]) for r in store.read().collect()}
    assert rows == {
        1: ("a b", "keep-ab"),
        2: ("x:y", "NEW-xy"),
        3: (None, "keep-null"),
        4: (None, "ADD-null"),
    }
    # the commit recorded the declared partition type, partition column last
    m = store._manifest(store.current_version())
    assert m["schema"].endswith("cat STRING")
    # the recorded schema kept the declared type end-to-end
    assert dict(store.read().dtypes)["cat"] == "string"


def test_merge_into_null_partition_keeps_string_type(spark, monkeypatch, tmp_table_dir):
    """A merge whose only touched partition is NULL, written to a version
    that sorts first, reads back with the declared string type."""
    store = _seeded_store(
        spark,
        monkeypatch,
        f"{tmp_table_dir}/mnull_legacy",
        ["fff00000000a", "aaaaaa", "fff00000000b", "bbbbbb",
         "000000000001", "cccccc"],
    )
    base = spark.createDataFrame(
        [(1, "a b", "keep-ab", 1), (3, None, "keep-null", 1)],
        "id long, cat string, payload string, seq long",
    )
    store.overwrite(base, partition_by=["cat"])
    u1 = spark.createDataFrame(
        [(1, "a b", "NEW-ab", 9)], "id long, cat string, payload string, seq long"
    )
    store.merge_partitioned(u1, key="id", partition_col="cat", order_col="seq")
    _assert_live_and_predecessor(store, "v-fff00000000a")
    u2 = spark.createDataFrame(
        [(4, None, "ADD-null", 9)], "id long, cat string, payload string, seq long"
    )
    store.merge_partitioned(u2, key="id", partition_col="cat", order_col="seq")
    _assert_live_and_predecessor(store, "v-fff00000000b")
    rows = {r["id"]: (r["cat"], r["payload"]) for r in store.read().collect()}
    assert rows == {
        1: ("a b", "NEW-ab"),
        3: (None, "keep-null"),
        4: (None, "ADD-null"),
    }
    assert dict(store.read().dtypes)["cat"] == "string"


def test_string_partition_that_looks_numeric_stays_string(spark, tmp_table_dir):
    """Partition values "007" and "010" are strings, not ints 7 and 10:
    an inferred int type would write the merged key under code=7 next
    to the carried code=007 dir and leave id 1 in the snapshot twice."""
    store = TableStore(spark, f"{tmp_table_dir}/numstr")
    store.overwrite(
        spark.createDataFrame([(1, "007"), (2, "010")], "id long, code string"),
        partition_by=["code"],
    )
    assert dict(store.read().dtypes)["code"] == "string"
    assert sorted(store.read().collect()) == [(1, "007"), (2, "010")]

    store.merge_partitioned(
        spark.createDataFrame([(3, "007")], "id long, code string"),
        key="id", partition_col="code",
    )
    got = store.read()
    assert dict(got.dtypes)["code"] == "string"
    ids = [r["id"] for r in got.collect()]
    assert sorted(ids) == [1, 2, 3]  # each key once
    assert {r["id"]: r["code"] for r in got.collect()} == {1: "007", 2: "010", 3: "007"}


def test_empty_partitioned_first_commit_reads_back_empty(spark, tmp_table_dir):
    """A first commit of an empty frame with ``partition_by`` writes no
    data file to infer a schema from; the read still returns an empty
    frame with the written schema, and a merge can follow it."""
    store = TableStore(spark, f"{tmp_table_dir}/empty")
    schema = "id long, day int, payload string"
    store.overwrite(spark.createDataFrame([], schema), partition_by=["day"])
    got = store.read()
    assert got.count() == 0
    assert got.dtypes == [("id", "bigint"), ("payload", "string"), ("day", "int")]

    store.merge_partitioned(
        spark.createDataFrame([(1, 3, "a")], schema), key="id", partition_col="day"
    )
    assert store.read().collect() == [(1, "a", 3)]


def test_read_submits_no_spark_jobs(spark, tmp_table_dir):
    """The schema recorded at commit replaces schema inference, so a
    read of a partitioned or an unpartitioned snapshot plans without a
    single Spark job."""
    part = TableStore(spark, f"{tmp_table_dir}/jobs_part")
    part.overwrite(
        spark.createDataFrame([(1, 0), (2, 1), (3, None)], "id long, day int"),
        partition_by=["day"],
    )
    part.merge_partitioned(
        spark.createDataFrame([(4, 1)], "id long, day int"), key="id", partition_col="day"
    )
    flat = TableStore(spark, f"{tmp_table_dir}/jobs_flat")
    flat.overwrite(spark.range(10))

    sc = spark.sparkContext
    group = "tables-read-jobs-probe"
    sc.setJobGroup(group, "TableStore.read")
    try:
        part.read()
        flat.read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_live_bytes_sums_live_snapshot_data_files(spark, tmp_table_dir):
    """The benchmark's ``space_amp`` sizes live snapshots from the
    manifest (perfbench/measure.py ``live_bytes``): it must equal the
    summed size of the live version's data files."""
    import importlib.util
    import os as _os

    here = _os.path.dirname(_os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "perfbench_measure", _os.path.join(here, "..", "perfbench", "measure.py")
    )
    measure = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(measure)

    def data_bytes(store):
        vdir = _os.path.join(store.path, store.current_version())
        return sum(
            _os.path.getsize(_os.path.join(dirpath, name))
            for dirpath, _dirs, names in _os.walk(vdir)
            for name in names
            if not name.startswith(("_", "."))
        )

    store = TableStore(spark, f"{tmp_table_dir}/live")
    store.overwrite(
        spark.createDataFrame(
            [(i, i % 3, f"v{i}") for i in range(60)], "id long, day int, p string"
        ),
        partition_by=["day"],
    )
    assert measure.live_bytes(store) == data_bytes(store) > 0
    store.merge_partitioned(
        spark.createDataFrame([(1, 1, "NEW"), (100, 5, "ADD")], "id long, day int, p string"),
        key="id", partition_col="day",
    )
    assert measure.live_bytes(store) == data_bytes(store) > 0


def test_write_audit_publish(spark, tmp_table_dir):
    """WAP: a staged version is readable for auditing but invisible to
    readers until publish; a failed audit discards it without touching
    the live snapshot; publish is the same atomic flip as overwrite."""
    import pytest as _pytest

    store = TableStore(spark, f"{tmp_table_dir}/wap")
    store.overwrite(spark.range(10))
    live = store.current_version()

    # stage a bad batch, audit, discard
    bad = store.stage(spark.range(0))  # audit rule: must be non-empty
    assert store.current_version() == live          # readers unaffected
    assert store.read(version=bad).count() == 0     # audit the staged data
    assert store.read().count() == 10
    store.discard(bad)
    assert bad not in store.versions()

    # stage a good batch, audit, publish
    good = store.stage(spark.range(25))
    assert store.read().count() == 10               # still pre-publish
    assert store.read(version=good).count() == 25
    store.publish(good)
    assert store.current_version() == good
    assert store.read().count() == 25

    # guard rails
    with _pytest.raises(ValueError, match="refusing to discard"):
        store.discard(good)
    with _pytest.raises(FileNotFoundError, match="not staged"):
        store.publish("v-nonexistent00")


def test_wap_with_expectations_gate(spark, tmp_table_dir):
    """The full write-audit-publish loop with the expectations suite
    as the audit: a staged batch violating the rules is discarded
    (readers never see it); a clean batch publishes."""
    from pasta_pipeline_spark.operators import expectations as E

    store = TableStore(spark, f"{tmp_table_dir}/wapx")
    store.overwrite(
        spark.createDataFrame([(1, 50), (2, 70)], "id long, score long")
    )
    rules = [E.not_null("id"), E.unique("id"), E.min_value("score", 0),
             E.max_value("score", 100)]

    def audit_ok(version):
        rep = E.check_expectations(store.read(version=version), rules)
        return rep.where("NOT passed").count() == 0

    bad = store.stage(
        spark.createDataFrame([(3, 120), (3, -5)], "id long, score long")
    )  # duplicate id, out-of-range scores
    assert not audit_ok(bad)
    store.discard(bad)
    assert store.read().count() == 2  # untouched

    good = store.stage(
        spark.createDataFrame([(3, 80), (4, 90)], "id long, score long")
    )
    assert audit_ok(good)
    store.publish(good)
    assert store.read().count() == 2 and set(
        r["id"] for r in store.read().collect()
    ) == {3, 4}


def test_check_expectations_kinds(spark):
    """Each rule kind counts its violations in the shared scan; empty
    frames pass everything."""
    from pasta_pipeline_spark.operators import expectations as E

    df = spark.createDataFrame(
        [(1, "a", 5, "x1"), (2, None, 50, "x2"), (2, "c", -1, "zz")],
        "id long, name string, v long, code string",
    )
    rules = [
        E.not_null("name"),
        E.unique("id"),
        E.min_value("v", 0),
        E.max_value("v", 10),
        E.in_set("name", ["a", "b", "c"]),
        E.matches("code", "^x[0-9]$"),
        E.predicate("v >= id", "v_at_least_id"),
    ]
    rep = {r["rule"]: (r["n_violations"], r["passed"])
           for r in E.check_expectations(df, rules).collect()}
    assert rep["not_null_name"] == (1, False)
    assert rep["unique_id"] == (1, False)
    assert rep["min_v"] == (1, False)
    assert rep["max_v"] == (1, False)
    assert rep["in_set_name"] == (0, True)   # NULL ignored
    assert rep["matches_code"] == (1, False)
    assert rep["v_at_least_id"] == (1, False)  # v=-1 < id=2

    empty = spark.createDataFrame([], "id long, name string, v long, code string")
    rep0 = E.check_expectations(empty, rules)
    assert rep0.count() == len(rules)
    assert rep0.where("NOT passed").count() == 0


def test_table_diff_classifies_changes(spark, tmp_table_dir):
    """Version diff over the time-travel machinery: upserted keys read
    as changed, new keys as added, dropped keys as removed, untouched
    keys as unchanged; the key-derived __bkt partition column never
    counts as payload."""
    from pyspark.sql import functions as F

    store = TableStore(spark, f"{tmp_table_dir}/diff")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "id long, name string, v long",
    ).withColumn("__bkt", (F.col("id") % 2).cast("int"))
    store.overwrite(base, partition_by=["__bkt"])
    v1 = store.current_version()

    nxt = spark.createDataFrame(
        [(1, "a", 10),          # unchanged
         (2, "b", 99),          # changed value
         (3, "cc", 30),         # changed name
         (5, "e", 50)],         # added (4 removed)
        "id long, name string, v long",
    ).withColumn("__bkt", (F.col("id") % 2).cast("int"))
    store.overwrite(nxt, partition_by=["__bkt"])

    got = {r["id"]: r["change"] for r in store.diff("id", v1).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "changed",
                   4: "removed", 5: "added"}

    # diff of a version against itself: everything unchanged
    same = store.diff("id", store.current_version(), store.current_version())
    assert {r["change"] for r in same.collect()} == {"unchanged"}
