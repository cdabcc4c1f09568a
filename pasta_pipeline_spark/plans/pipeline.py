"""Pipeline assembly — lifecycle §3.1/§3.2/§3.3 of SURVEY.md as one
driver program.

The reference's three Airflow DAGs (/root/reference/dags/pipelines/
dag.py:45-188) become two methods on :class:`PastaPipeline`:

- ``run_batch`` — the daily ETL (scrape-artifact ingest → message
  upsert → work selection → fetch → parse → content/status upserts →
  stats). ``mode='incremental'`` applies the 7-day lookback predicate
  (S2); ``mode='full'`` scans everything. The reference's L2 quirk —
  the 1000-message cap applying even in full mode (message_scraper.py:97
  vs dag.py:136) — is fixed here: full mode is uncapped, as the DAG
  description promises.
- ``run_maintenance`` — the weekly cleanup composite (O6).

XCom handoffs disappear (DataFrames flow in-plan); the only external
boundary left is the injectable fetch transport. All timestamps come
from one frozen ``run_ts`` per run (F13 policy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pasta_pipeline_spark.functions.hashing import md5_or_empty
from pasta_pipeline_spark.functions.text import (
    extract_hashtags,
    extract_telegraph_links,
    word_count,
)
from pasta_pipeline_spark.functions.urls import scalarize_link
from pasta_pipeline_spark.operators.antijoin import select_unprocessed_links
from pasta_pipeline_spark.operators.maintenance import run_full_cleanup
from pasta_pipeline_spark.operators.merge import merge_upsert, upsert_accumulate
from pasta_pipeline_spark.operators.stats import content_stats, message_stats
from pasta_pipeline_spark.schemas import CONTENT_SCHEMA, MESSAGE_SCHEMA
from pasta_pipeline_spark.sources.fetch import Transport, fetch_links
from pasta_pipeline_spark.sources.tables import TableStore


def ingest_raw_messages(raw: DataFrame, run_ts: Column) -> DataFrame:
    """P1 + P2 — raw scrape artifact → loaded-table shape
    (format_message, message_scraper.py:24-50 + load-time
    scalarization, db_loader.py:57-78).

    Text-derived columns are recomputed natively (F1/F2) when the
    artifact doesn't carry them; the link array scalarizes to its
    first element.
    """
    cols = raw.columns
    hashtags = (
        F.coalesce(F.col("hashtags"), extract_hashtags("text"))
        if "hashtags" in cols
        else extract_hashtags("text")
    )
    links = (
        F.coalesce(F.col("telegraph_links"), extract_telegraph_links("text"))
        if "telegraph_links" in cols
        else extract_telegraph_links("text")
    )
    return raw.select(
        F.col("message_id").cast("long").alias("message_id"),
        F.col("date").cast("timestamp").alias("date"),
        F.col("text"),
        F.col("views").cast("int").alias("views"),
        F.col("forwards").cast("int").alias("forwards"),
        hashtags.alias("hashtags"),
        scalarize_link(links).alias("telegraph_link"),
        (F.col("reactions") if "reactions" in cols else F.lit(None)).alias("reactions"),
        (
            F.col("scraped_at").cast("timestamp")
            if "scraped_at" in cols
            else run_ts
        ).alias("scraped_at"),
        run_ts.alias("processed_at"),
    )


def parse_fetched(fetched: DataFrame, run_ts: Column) -> DataFrame:
    """Fetch results → content-table rows (the parse half of
    telegraph_processor.py:190-237): HTML field extraction (F10-F12),
    hashes (F4/F5), word count over the raw HTML markup included (A5),
    success bookkeeping (status, retry_count=0, timestamps)."""
    from pasta_pipeline_spark.functions.html import with_html_fields

    ok = fetched.where(F.col("status") == "success")
    parsed = with_html_fields(ok, html_col="html")
    return parsed.select(
        F.col("url"),
        F.col("title"),
        F.col("html").alias("content"),
        F.col("description"),
        md5_or_empty("html").alias("content_hash"),
        F.when(F.col("description").isNull(), F.lit(""))
        .otherwise(md5_or_empty("description"))
        .alias("description_hash"),
        F.col("date_published"),
        word_count("html").alias("word_count"),
        F.lit("success").alias("status"),
        F.lit(0).alias("retry_count"),
        run_ts.alias("processed_at"),
        run_ts.alias("last_checked"),
    )


class PastaPipeline:
    """The engine's replacement for the three Airflow DAGs."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.messages = TableStore(spark, f"{base_dir}/telegram_messages", MESSAGE_SCHEMA)
        self.content = TableStore(spark, f"{base_dir}/telegraph_content", CONTENT_SCHEMA)

    # -- daily ETL (lifecycle §3.1 / §3.3) ------------------------------

    def run_batch(
        self,
        raw_messages: DataFrame,
        transport: Transport,
        run_ts: Column | None = None,
        mode: str = "incremental",
        lookback_days: int = 7,
        max_links: int = 1000,
        max_messages: int | None = 1000,
        rate_limit_delay: float = 0.0,
    ) -> dict:
        """One ETL run. ``raw_messages`` is the scrape artifact (the
        live Telegram source sits outside the engine, like the
        reference's Telethon session); everything downstream is
        in-plan."""
        if mode not in ("incremental", "full"):
            # the reference declares refresh_old/daily but never
            # implements them (config.py:88) — we expose the two real ones
            raise ValueError(f"mode must be 'incremental' or 'full', got {mode!r}")
        run_ts = run_ts if run_ts is not None else F.current_timestamp()

        # S1/S2/L2 — ingest with incremental lookback + newest-first cap
        batch = ingest_raw_messages(raw_messages, run_ts)
        if mode == "incremental":
            batch = batch.where(
                F.col("date") >= run_ts - F.expr(f"INTERVAL {lookback_days} DAYS")
            )
            if max_messages:
                from pasta_pipeline_spark.operators.topk import latest_messages

                batch = latest_messages(batch, max_messages)

        # S7 — idempotent message upsert (last-writer-wins)
        merged_messages = merge_upsert(
            self.messages.read(),
            batch,
            key="message_id",
            order_col="processed_at",
            set_on_update={"processed_at": run_ts},
        )
        self.messages.overwrite(merged_messages)

        # J1 — work selection against current content state
        todo = select_unprocessed_links(
            self.messages.read(), self.content.read(), limit=max_links
        )

        # S10 — fetch stage (partition-parallel, rate-limited)
        fetched = fetch_links(
            todo, transport, rate_limit_delay=rate_limit_delay
        ).persist()

        # S8 — successes: full parse, last-writer-wins upsert
        successes = parse_fetched(fetched, run_ts)
        content_after_success = merge_upsert(
            self.content.read(),
            successes,
            key="url",
            order_col="processed_at",
        )

        # S9 — failures: accumulate retry_count, stamp status/last_checked
        failures = fetched.where(F.col("status") != "success").select(
            "url", "status"
        )
        content_final = upsert_accumulate(
            content_after_success,
            failures,
            key="url",
            accumulate={"retry_count": "increment"},
            set_always={"last_checked": run_ts},
        )
        self.content.overwrite(content_final)

        # A2/A3 — run report, one action: the two one-row stats
        # aggregates cross-joined with the fetch statuses as an array
        # of (status, n) structs (not a map: a NULL status must not
        # raise). The replicate hint joins the one-row sides in the
        # result stage; a broadcast would cost a Spark job per side.
        m_stats = message_stats(self.messages.read())
        c_stats = content_stats(self.content.read())
        fetch_counts = (
            fetched.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.collect_list(F.struct("status", "n")).alias("__fetch"))
        )
        row = (
            m_stats.crossJoin(c_stats.hint("shuffle_replicate_nl"))
            .crossJoin(fetch_counts.hint("shuffle_replicate_nl"))
            .collect()[0]
        )
        fetched.unpersist()
        return {
            "messages": {c: row[c] for c in m_stats.columns},
            "content": {c: row[c] for c in c_stats.columns},
            "fetch": {r["status"]: r["n"] for r in row["__fetch"]},
        }

    # -- weekly maintenance (lifecycle §3.2) ----------------------------

    def run_maintenance(
        self, retention_days: int = 90, run_ts: Column | None = None
    ) -> dict:
        result = run_full_cleanup(
            self.messages.read(),
            self.content.read(),
            retention_days=retention_days,
            now=run_ts,
        )
        self.messages.overwrite(result.messages)
        self.content.overwrite(result.content)
        return result.stats
