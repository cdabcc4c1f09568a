"""Anti/semi joins — J1–J4 in SURVEY.md §2.3.

Parity sources:
- J1 work selection:  /root/reference/dags/processors/telegraph_processor.py:81-91
- J2/J3 orphan sweep: /root/reference/dags/processors/duplicate_remover.py:112-147,273-279

NULL semantics note (SURVEY.md §7 hard part 3): SQL ``NOT IN`` yields
zero rows if the subquery produces any NULL; Spark ``left_anti`` keeps
non-matching rows. In the reference both subqueries select ``url``,
the content table's primary key (never NULL), so ``left_anti`` is
behavior-identical. Oracle SQL for these operators must therefore use
``NOT IN`` only over provably non-null keys — or ``NOT EXISTS``.

Scale notes: the "processed set" side (distinct urls) is typically a
small fraction of the fact side; Catalyst auto-broadcasts it under the
threshold and AQE converts to broadcast at runtime otherwise. We
project the right side to the join key *before* the join so the
broadcast payload is minimal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pasta_pipeline_spark.functions.urls import clean_link, is_valid_telegraph_url


def anti_join(left: DataFrame, right: DataFrame, left_key: str, right_key: str) -> DataFrame:
    """Rows of ``left`` whose key has no match in ``right`` (J2)."""
    rk = right.select(F.col(right_key).alias("__rk")).where(F.col(right_key).isNotNull())
    return left.join(rk, left[left_key] == rk["__rk"], "left_anti")


def semi_join(left: DataFrame, right: DataFrame, left_key: str, right_key: str) -> DataFrame:
    """Rows of ``left`` whose key has a match in ``right`` (J4)."""
    rk = right.select(F.col(right_key).alias("__rk"))
    return left.join(rk, left[left_key] == rk["__rk"], "left_semi")


def select_unprocessed_links(
    messages: DataFrame,
    content: DataFrame,
    limit: int = 1000,
    validate: bool = True,
) -> DataFrame:
    """The work-selection query (J1+A1+P6+P7+L1) — "which links still
    need crawling" (telegraph_processor.py:81-91):

    distinct non-empty telegraph_link from messages, minus urls already
    crawled successfully, cleaned + validated, capped at ``limit``.

    Returns a single-column DataFrame ``telegraph_link``, ordered for
    determinism (the reference's LIMIT without ORDER BY is
    arbitrary-order; deviation documented).
    """
    links = (
        messages.select("telegraph_link")
        .where(F.col("telegraph_link").isNotNull() & (F.col("telegraph_link") != ""))
        .distinct()
    )
    done = content.where(F.col("status") == "success").select(F.col("url"))
    pending = links.join(done, links["telegraph_link"] == done["url"], "left_anti")
    cleaned = pending.select(clean_link("telegraph_link").alias("telegraph_link"))
    cleaned = cleaned.where(F.col("telegraph_link").isNotNull())
    if validate:
        cleaned = cleaned.where(is_valid_telegraph_url("telegraph_link"))
    return cleaned.orderBy("telegraph_link").limit(limit)


def null_out_orphans(
    messages: DataFrame,
    content: DataFrame,
    link_col: str = "telegraph_link",
    url_col: str = "url",
) -> DataFrame:
    """J3 — the anti-join-driven UPDATE (duplicate_remover.py:120-129):
    set ``telegraph_link`` to NULL wherever it points at no content row.

    Rewrite-on-join: left join on the (distinct, pre-projected) url
    set; unmatched non-null links become NULL. One shuffle (or a
    broadcast when the url set is small).
    """
    urls = content.select(F.col(url_col).alias("__url")).where(
        F.col(url_col).isNotNull()
    ).distinct()
    joined = messages.join(
        urls, messages[link_col] == urls["__url"], "left"
    )
    keep = F.when(
        F.col(link_col).isNotNull() & F.col("__url").isNull(), F.lit(None)
    ).otherwise(F.col(link_col))
    return joined.withColumn(link_col, keep).drop("__url")

