"""Window-function dedup — W1/W2 in SURVEY.md §2.5, plus exact dedup.

Parity sources:
- keep-latest (messages): /root/reference/dags/processors/duplicate_remover.py:28-47
- keep-first (content):   /root/reference/dags/processors/duplicate_remover.py:74-95

Documented deviations from the reference:

1. The reference's message-dedup DELETE is keyed on ``message_id IN
   (SELECT message_id … WHERE rn > 1)`` — but the rn=1 row shares that
   message_id, so Postgres deletes *every* copy of a duplicated id
   (duplicate_remover.py:37-42). The stated policy ("keeping the
   latest processed version", README.md:170 and the function docstring)
   is what we implement: keep rn=1.
2. Ties on ``processed_at`` are nondeterministic in the reference; we
   add a deterministic secondary sort on the key column(s).

Scale notes: row_number over a key-partitioned window is one shuffle;
no global sort. For heavily-skewed keys at 100 TB, AQE handles
partition splitting; where the keep-column is an aggregate-computable
extremum (min/max), Catalyst can also express this as a groupBy+join,
but the window form pipelines better with downstream per-row logic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: The rank column :func:`rank_latest`, :func:`rank_first` and
#: :func:`rank_content` add: 1 on the row a key keeps, >1 on the rows
#: it drops. :func:`kept` is the filter that turns a ranked frame into
#: the deduplicated one.
RANK = "__dedup_rn"


def _rank(
    df: DataFrame,
    keys: list[str],
    order: list[Column],
    exempt: Column | None = None,
) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(*order)
    if exempt is None:
        return df.withColumn(RANK, F.row_number().over(w))
    # exempt rows bypass the window and are all kept; a row whose
    # ``exempt`` is NULL passes neither filter, as in the SQL form
    ranked = df.filter(~exempt).withColumn(RANK, F.row_number().over(w))
    return ranked.unionByName(df.filter(exempt).withColumn(RANK, F.lit(1)))


def kept(ranked: DataFrame) -> DataFrame:
    """The rows a ranked frame keeps, without the rank column."""
    return ranked.filter(F.col(RANK) == 1).drop(RANK)


def _tie_order(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak: str | list[str] | None,
    direction,
) -> list[Column]:
    """Secondary sort terms. Explicit ``tiebreak`` columns win;
    otherwise fall back to a struct of every orderable non-key,
    non-order column — ordering by the partition key itself would be a
    no-op inside its own window, so it cannot serve as a tiebreak."""
    from pasta_pipeline_spark.operators.util import orderable_tiebreak

    if tiebreak is not None:
        ties = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak)
        return [direction(t) for t in ties]
    struct = orderable_tiebreak(df, exclude=[*keys, order_col])
    return [direction(struct)] if struct is not None else []


def rank_latest(
    df: DataFrame,
    key: str | list[str],
    order_col: str,
    tiebreak: str | list[str] | None = None,
) -> DataFrame:
    """``df`` ranked for :func:`keep_latest` (adds :data:`RANK`)."""
    keys = [key] if isinstance(key, str) else list(key)
    order = [F.desc_nulls_last(order_col)] + _tie_order(
        df, keys, order_col, tiebreak, F.desc
    )
    return _rank(df, keys, order)


def keep_latest(
    df: DataFrame,
    key: str | list[str],
    order_col: str,
    tiebreak: str | list[str] | None = None,
) -> DataFrame:
    """One row per key, newest ``order_col`` (W1 keep-latest;
    duplicate_remover.py:31-36 window, README.md:170 policy).

    Default tiebreak: a struct of all remaining orderable columns —
    same-key same-``order_col`` rows resolve to the column-wise
    greatest row, so the survivor is deterministic (rows that still tie
    are identical in every orderable column)."""
    return kept(rank_latest(df, key, order_col, tiebreak))


def rank_first(
    df: DataFrame,
    key: str | list[str],
    order_col: str,
    tiebreak: str | list[str] | None = None,
    exempt: Column | None = None,
) -> DataFrame:
    """``df`` ranked for :func:`keep_first` (adds :data:`RANK`)."""
    keys = [key] if isinstance(key, str) else list(key)
    order = [F.asc_nulls_last(order_col)] + _tie_order(
        df, keys, order_col, tiebreak, F.asc
    )
    return _rank(df, keys, order, exempt=exempt)


def keep_first(
    df: DataFrame,
    key: str | list[str],
    order_col: str,
    tiebreak: str | list[str] | None = None,
    exempt: Column | None = None,
) -> DataFrame:
    """One row per key, oldest ``order_col`` (W2 keep-first — "first
    URL wins", duplicate_remover.py:77-84, README.md:171).

    ``exempt`` rows bypass dedup entirely and are all preserved —
    the reference exempts null/empty content_hash rows
    (duplicate_remover.py:82-83).

    Default tiebreak mirrors :func:`keep_latest` (struct of remaining
    orderable columns, ascending).
    """
    return kept(rank_first(df, key, order_col, tiebreak, exempt))


def rank_content(df: DataFrame) -> DataFrame:
    """``df`` ranked for :func:`dedup_content` (adds :data:`RANK`)."""
    exempt = F.col("content_hash").isNull() | (F.col("content_hash") == "")
    return rank_first(df, "content_hash", "processed_at", tiebreak="url", exempt=exempt)


def dedup_content(df: DataFrame) -> DataFrame:
    """The reference's content dedup, exactly: partition by
    ``content_hash``, keep oldest ``processed_at`` (tiebreak ``url``),
    null/empty hashes exempt (duplicate_remover.py:74-95)."""
    return kept(rank_content(df))


def dedup_exact(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact-duplicate removal over ``cols`` (default: all columns) —
    hash-aggregate distinct, the cheapest tier of the dedup ladder."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()
