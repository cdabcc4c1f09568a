"""apply_cdc and snapshot_diff unit tests (operators/merge.py)."""

from __future__ import annotations

from pasta_pipeline_spark.operators.merge import apply_cdc, snapshot_diff


def _t(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _c(spark, rows):
    return spark.createDataFrame(rows, "id long, v string, op string, seq long")


def test_cdc_replay_semantics(spark):
    target = _t(spark, [(1, "a"), (2, "b"), (3, "c")])
    changes = _c(
        spark,
        [
            (2, None, "D", 1),        # delete existing
            (3, "c2", "U", 1),        # update existing
            (4, "d", "I", 1),         # insert new
            (5, "e", "I", 1),         # insert then delete: gone
            (5, None, "D", 2),
            (6, None, "D", 1),        # delete then insert: resurrected
            (6, "f", "I", 2),
        ],
    )
    got = {r["id"]: r["v"] for r in apply_cdc(target, changes, "id").collect()}
    assert got == {1: "a", 3: "c2", 4: "d", 6: "f"}


def test_cdc_latest_op_wins_within_key(spark):
    target = _t(spark, [(1, "old")])
    changes = _c(spark, [(1, "first", "U", 1), (1, "second", "U", 2), (1, "third", "U", 3)])
    got = apply_cdc(target, changes, "id").collect()
    assert len(got) == 1 and got[0]["v"] == "third"


def test_cdc_delete_of_absent_key_is_noop(spark):
    target = _t(spark, [(1, "a")])
    changes = _c(spark, [(9, None, "D", 1)])
    got = {r["id"]: r["v"] for r in apply_cdc(target, changes, "id").collect()}
    assert got == {1: "a"}


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a", None), (2, "b", "x"), (3, "c", None), (4, "d", "y"), (None, "n", "z")],
        "id long, v string, extra string",
    )
    new = spark.createDataFrame(
        [(2, "b", "x"), (3, "C!", None), (4, "d", None), (5, "e", "z"), (None, "n", "z")],
        "id long, v string, extra string",
    )
    got = sorted(
        ((r["id"], r["diff_status"]) for r in snapshot_diff(old, new, "id").collect()),
        key=repr,
    )
    assert got == sorted([
        (None, "unchanged"),  # a NULL key is one key, present on both sides
        (1, "removed"),
        (2, "unchanged"),   # null-safe equality on 'extra'
        (3, "changed"),
        (4, "changed"),     # y -> NULL is a change, not a match
        (5, "added"),
    ], key=repr)


def test_snapshot_diff_plan_single_join(spark):
    old = _t(spark, [(i, "a") for i in range(50)])
    new = _t(spark, [(i, "a") for i in range(50)])
    df = snapshot_diff(old, new, "id")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    assert len(re.findall(r"^\(\d+\) \w*Join", plan, flags=re.MULTILINE)) == 1
    assert "CartesianProduct" not in plan



def test_snapshot_diff_null_keys_on_one_side(spark):
    """A NULL key on one side only reads once, as added or removed; on
    both sides with a new payload, as changed; a composite key with a
    NULL component matches null-safe."""
    def diff(old, new, key="id", schema="id long, v string"):
        d = snapshot_diff(spark.createDataFrame(old, schema), spark.createDataFrame(new, schema), key)
        return sorted((tuple(r) for r in d.collect()), key=repr)

    assert diff([(None, "x"), (1, "a")], [(1, "a"), (None, "y")]) == [(1, "unchanged"), (None, "changed")]
    assert diff([(None, "x")], [(1, "a")]) == [(1, "added"), (None, "removed")]
    assert diff([(1, "a")], [(None, "x")]) == [(1, "removed"), (None, "added")]
    assert diff([(None, 1, "p"), (2, None, "q")], [(None, 1, "p"), (2, None, "Q")],
                ["a", "b"], "a long, b long, v string") == [(2, None, "changed"), (None, 1, "unchanged")]
