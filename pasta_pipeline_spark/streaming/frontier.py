"""Streaming crawl frontier — discoveries arrive, the frontier is
maintained.

The batch capstone (plans/frontier.py build_frontier) recomputes the
whole discovery→workload cascade every run. A real crawler discovers
sitemaps CONTINUOUSLY; this module keeps the frontier current without
ever reprocessing old discoveries:

- each micro-batch of ``(host, sitemap_xml)`` rows runs stages 1-4
  (``admit_discoveries``: parse → canonicalize → robots admission →
  processed anti-join) on the BATCH alone — per-batch work is linear
  in the batch's discoveries;
- the admitted fresh URLs merge into a ``frontier_state`` TableStore
  keyed by url (bucketed differential merge — re-discovered URLs are
  upsert no-ops, which is also what makes foreachBatch's
  at-least-once retry harmless here: the step's ONLY side effect is
  an idempotent keyed merge);
- :func:`frontier_from_state` derives the executable workload —
  budget apportionment, per-host rank cap, optional politeness
  schedule (``frontier_workload``, stages 5-6) — from the maintained
  set. Budgets depend on the WHOLE frontier's per-host mass, so they
  are a read-time view over host-count-scale aggregates, not
  streaming state.

Exactness: ``admit_discoveries`` is a pure set-valued function of the
discoveries (rules and processed are static inputs), and the state
merge maintains the UNION of per-batch outputs keyed by url — so the
maintained frontier equals ``build_frontier`` over the union of every
discovery batch, schedule included (pytest-pinned e2e, micro-batch
boundaries varied).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pasta_pipeline_spark.plans.frontier import admit_discoveries, frontier_workload
from pasta_pipeline_spark.streaming.exactly_once import start_foreach_batch


def incremental_frontier_sink(
    sitemap_stream: DataFrame,
    robots_rules: DataFrame,
    processed: DataFrame,
    state_store,
    checkpoint_dir: str,
    agent: str = "*",
    n_buckets: int = 16,
    trigger_once: bool = True,
):
    """Maintain ``frontier_state`` from a stream of sitemap
    discoveries ``(host, sitemap_xml)``. ``robots_rules`` (the
    parse_robots_txt shape) and ``processed`` (completed-fetch urls)
    are static frames — refresh them between runs; for continuously
    completed fetches, anti-join again at read time via
    :func:`frontier_from_state`'s ``processed`` parameter."""

    def step(batch: DataFrame, _mb_id: int) -> None:
        fresh = admit_discoveries(batch, robots_rules, processed, agent=agent)
        updates = fresh.withColumn(
            "__bkt", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
        )
        if not updates.take(1):
            return
        state_store.merge_partitioned(updates, key="url", partition_col="__bkt")

    return start_foreach_batch(sitemap_stream, step, checkpoint_dir, trigger_once, upsert=True)


def frontier_from_state(
    state_store,
    total_budget: int = 10_000,
    agent: str = "*",
    schedule: bool = False,
    crawl_delay_s: int = 1,
    per_host_concurrency: int = 1,
    start_ts_s: int = 0,
    crawl_delays: DataFrame | None = None,
    processed: DataFrame | None = None,
) -> DataFrame:
    """The executable fetch workload over the maintained frontier:
    identical output to ``build_frontier`` on the union of all
    ingested discoveries (pytest-pinned). ``processed`` (optional)
    anti-joins fetches completed SINCE the discoveries were admitted,
    so the budget never re-allocates to done work."""
    fresh = state_store.read().drop("__bkt")
    if processed is not None:
        fresh = fresh.join(processed.select(F.col("url")), "url", "left_anti")
    return frontier_workload(
        fresh,
        total_budget=total_budget,
        agent=agent,
        schedule=schedule,
        crawl_delay_s=crawl_delay_s,
        per_host_concurrency=per_host_concurrency,
        start_ts_s=start_ts_s,
        crawl_delays=crawl_delays,
    )
