"""Merge / upsert — the engine's one genuinely custom operator.

Re-expresses the reference's ``INSERT … ON CONFLICT … DO UPDATE``
sinks (SURVEY.md §2.1 S7/S8/S9):

- S7 messages upsert  — /root/reference/dags/processors/db_loader.py:166-181
- S8 content upsert   — /root/reference/dags/processors/telegraph_processor.py:269-286
- S9 status upsert    — /root/reference/dags/processors/telegraph_processor.py:301-321
  (the one non-last-writer-wins path: ``retry_count`` *accumulates*)

Strategy: union + window-dedup. The incoming batch gets priority over
the existing table; within each side, the newest ``order_col`` wins;
ties break on the key for determinism (a documented deviation — the
reference's row-at-a-time loop is last-executed-wins, i.e.
nondeterministic under concurrency).

Scale notes (100 TB posture):
- one shuffle on the key, no driver state;
- for hot keys, AQE skew-join/aggregation handles imbalance;
- on a real deployment over Delta/Iceberg this operator swaps for
  ``MERGE INTO`` with identical semantics (kept behind this API).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PRIO = "__merge_priority"
_RN = "__merge_rn"


def _align(df: DataFrame, columns: list[str]) -> DataFrame:
    """Project ``df`` to ``columns``, adding missing ones as NULL."""
    cols = []
    for name in columns:
        if name in df.columns:
            cols.append(F.col(name))
        else:
            cols.append(F.lit(None).alias(name))
    return df.select(*cols)


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str | list[str],
    order_col: str | None = None,
    set_on_update: dict[str, Column] | None = None,
) -> DataFrame:
    """Last-writer-wins upsert of ``updates`` into ``target``.

    - rows whose key exists only in ``target`` are kept unchanged;
    - rows whose key exists in ``updates`` take the update's values for
      every non-key column (matching the ``EXCLUDED.*`` set list at
      db_loader.py:171-180);
    - ``set_on_update`` columns are stamped on the surviving row when
      it came from ``updates`` (e.g. ``processed_at = run_ts``,
      matching ``processed_at = CURRENT_TIMESTAMP`` at db_loader.py:180);
    - duplicate keys *within* ``updates`` resolve by ``order_col``
      descending (newest wins), then by a struct of the remaining
      orderable columns, so the result is deterministic (rows that
      still tie are identical in every orderable column) and the
      operator idempotent.
    """
    from pasta_pipeline_spark.operators.util import orderable_tiebreak

    keys = [key] if isinstance(key, str) else list(key)
    columns = target.columns
    upd = _align(updates, columns).withColumn(_PRIO, F.lit(1))
    tgt = _align(target, columns).withColumn(_PRIO, F.lit(0))
    unioned = upd.unionByName(tgt)

    order = [F.desc(_PRIO)]
    if order_col is not None:
        order.append(F.desc_nulls_last(order_col))
    tie = orderable_tiebreak(
        unioned, exclude=[*keys, _PRIO, *( [order_col] if order_col else [] )]
    )
    if tie is not None:
        order.append(F.desc(tie))
    w = Window.partitionBy(*keys).orderBy(*order)
    merged = (
        unioned.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )
    if set_on_update:
        for name, expr in set_on_update.items():
            merged = merged.withColumn(
                name, F.when(F.col(_PRIO) == 1, expr).otherwise(F.col(name))
            )
    return merged.drop(_PRIO)


def upsert_accumulate(
    target: DataFrame,
    updates: DataFrame,
    key: str | list[str],
    accumulate: dict[str, str] | None = None,
    set_always: dict[str, Column] | None = None,
) -> DataFrame:
    """Read-modify-write upsert — the S9 status path
    (telegraph_processor.py:308-315): most columns take the update's
    value, but ``accumulate`` columns combine old and new:

    - ``accumulate={"retry_count": "increment"}`` →
      ``coalesce(old.retry_count, 0) + 1`` (insert starts at 1 — the
      reference inserts ``retry_count=1`` on first failure, :310);
    - ``accumulate={"views": "add"}`` → ``coalesce(old,0) + coalesce(new,0)``.

    Columns the update batch does not carry keep the target's value on
    conflict (matching the reference's partial SET list — the S9 upsert
    only touches status/retry_count/last_checked, never the parsed
    content columns).

    Duplicate keys *within* the batch collapse before the join (the
    reference's row-at-a-time ON CONFLICT applies them sequentially, so
    a full-outer join would otherwise fan out into duplicate result
    rows): ``increment`` columns advance by the number of batch rows,
    ``add`` columns by their sum — exactly the sequential outcome — and
    other carried columns take the per-key greatest value (the
    reference's arrival order is connection-dependent, so "last wins"
    is not reproducible; greatest is the deterministic stand-in).

    Implemented as per-key pre-aggregation of the batch + a full outer
    join on the key: two shuffles on the same key (one exchange reused),
    no window, both sides stream.
    """
    keys = [key] if isinstance(key, str) else list(key)
    accumulate = accumulate or {}
    columns = target.columns
    carried = set(updates.columns)  # columns the batch actually provides

    # collapse duplicate keys in the batch to sequential-apply semantics
    n_rows = "__upd_n_rows"
    aggs = [F.count(F.lit(1)).alias(n_rows)]
    for name in columns:
        if name in keys or name not in carried:
            continue
        if accumulate.get(name) == "increment":
            continue  # value unused; the row count drives the increment
        if accumulate.get(name) == "add":
            aggs.append(F.sum(name).alias(name))
        else:
            aggs.append(F.max(name).alias(name))
    upd = _align(updates.groupBy(*keys).agg(*aggs), columns + [n_rows])

    t = target.alias("t")
    u = upd.alias("u")
    cond = None
    for k in keys:
        c = F.col(f"t.{k}").eqNullSafe(F.col(f"u.{k}"))
        cond = c if cond is None else (cond & c)
    joined = t.join(u, cond, "full_outer")

    has_update = F.col(f"u.{keys[0]}").isNotNull()
    out_cols = []
    for name in columns:
        tcol, ucol = F.col(f"t.{name}"), F.col(f"u.{name}")
        if name in keys:
            out = F.coalesce(ucol, tcol)
        elif name in accumulate:
            mode = accumulate[name]
            if mode == "increment":
                out = F.when(
                    has_update, F.coalesce(tcol, F.lit(0)) + F.col(f"u.{n_rows}")
                ).otherwise(tcol)
            elif mode == "add":
                out = F.when(
                    has_update, F.coalesce(tcol, F.lit(0)) + F.coalesce(ucol, F.lit(0))
                ).otherwise(tcol)
            else:
                raise ValueError(f"unknown accumulate mode {mode!r} for {name}")
        elif name in carried:
            out = F.when(has_update, ucol).otherwise(tcol)
        else:
            out = tcol  # not in the batch's SET list — keep old value
        out_cols.append(out.alias(name))
    merged = joined.select(*out_cols, has_update.alias("__has_update"))
    if set_always:
        for name, expr in set_always.items():
            merged = merged.withColumn(
                name, F.when(F.col("__has_update"), expr).otherwise(F.col(name))
            )
    return merged.drop("__has_update")


def apply_cdc(
    target: DataFrame,
    changes: DataFrame,
    key: str | list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a change-data-capture log to a snapshot — the upsert
    family member the reference's ON CONFLICT surface cannot express:
    deletes. ``changes`` carries ``op_col`` ∈ {'I','U','D'} and a
    monotonically increasing ``seq_col``; the result equals replaying
    the log row-by-row in seq order:

    - the log collapses to each key's LATEST op (window by seq desc,
      deterministic struct tiebreak on equal seq);
    - latest op D → the key is absent from the result, whatever the
      target held (a later I resurrects it — only the latest op
      counts);
    - latest op I/U → last-writer-wins upsert of that row.

    Shape: one window shuffle over the log + one anti-join + the
    merge_upsert join — all on the same key, no driver state. This is
    the batch form of the streaming foreachBatch+merge sink; on
    Delta/Iceberg it becomes MERGE INTO ... WHEN MATCHED AND op='D'
    THEN DELETE.
    """
    keys = [key] if isinstance(key, str) else list(key)
    from pasta_pipeline_spark.operators.dedup import keep_latest

    latest = keep_latest(changes, keys, seq_col)
    deletes = latest.filter(F.col(op_col) == "D").select(*keys)
    upserts = latest.filter(F.col(op_col) != "D").drop(op_col, seq_col)
    base = target.join(deletes, keys, "left_anti")
    return merge_upsert(base, upserts, keys)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str | list[str],
) -> DataFrame:
    """Per-key diff of two table snapshots: 'added' (key only in
    ``new``), 'removed' (only in ``old``), 'changed' (present in both,
    some shared non-key column differs, null-safe), 'unchanged'.

    The audit complement to the merge family: validate a migration,
    quantify a backfill's blast radius, or build a CDC log after the
    fact from two versions (TableStore keeps the previous snapshot for
    exactly this). One full-outer join on the key; column comparison
    is a single null-safe conjunction, no per-column shuffles. Keys
    match null-safe too, so a NULL key is one key like any other;
    presence on each side comes from a marker column, not from the key
    being non-NULL.
    """
    keys = [key] if isinstance(key, str) else list(key)
    shared = [c for c in old.columns if c in set(new.columns) and c not in keys]
    o = old.withColumn("__present", F.lit(True)).alias("o")
    n = new.withColumn("__present", F.lit(True)).alias("n")
    cond = None
    for k in keys:
        c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = c if cond is None else (cond & c)
    joined = o.join(n, cond, "full_outer")
    in_old = F.col("o.__present").isNotNull()
    in_new = F.col("n.__present").isNotNull()
    same = F.lit(True)
    for c in shared:
        same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    status = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    key_cols = [
        F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in keys
    ]
    return joined.select(*key_cols, status.alias("diff_status"))
