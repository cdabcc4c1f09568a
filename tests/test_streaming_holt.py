"""Streaming Holt-forecast state: == batch on the union, late-data
absorption, retry idempotence (MicroBatchPin)."""

from __future__ import annotations

import datetime as dt


WAVES = [
    [
        (1, dt.date(2020, 1, 1), 100.00),
        (2, dt.date(2020, 1, 2), 110.00),
        (3, dt.date(2020, 1, 3), 95.50),
    ],
    [
        # wave 2 includes LATE data for day 1 — a running-state Holt
        # could never repair this; the day-table state absorbs it
        (4, dt.date(2020, 1, 1), 50.00),
        (5, dt.date(2020, 1, 4), 120.25),
        (6, dt.date(2020, 1, 5), 130.75),
    ],
]
SCHEMA = "o_orderkey long, o_orderdate date, o_totalprice double"


def _run_waves(spark, tmp_table_dir, waves):
    from pasta_pipeline_spark.sources.tables import TableStore
    from pasta_pipeline_spark.streaming.sink import incremental_holt_sink

    src_dir = f"{tmp_table_dir}/holt_src"
    days = TableStore(spark, f"{tmp_table_dir}/holt_days")
    ckpt = f"{tmp_table_dir}/holt_ckpt"
    for wave in waves:
        spark.createDataFrame(wave, SCHEMA).write.parquet(src_dir, mode="append")
        stream = spark.readStream.schema(SCHEMA).parquet(src_dir)
        incremental_holt_sink(stream, days, checkpoint_dir=ckpt).awaitTermination(
            120
        )
    return days


def test_incremental_holt_sink_equals_batch(spark, tmp_table_dir):
    from pasta_pipeline_spark.operators.timeseries import (
        daily_revenue_frame,
        holt_linear_fold,
    )
    from pasta_pipeline_spark.streaming.sink import holt_report_from_state

    days = _run_waves(spark, tmp_table_dir, WAVES)
    all_orders = spark.createDataFrame(WAVES[0] + WAVES[1], SCHEMA)
    want = [
        tuple(r)
        for r in holt_linear_fold(daily_revenue_frame(all_orders)).collect()
    ]
    got = [tuple(r) for r in holt_report_from_state(days).collect()]
    assert got == want
    # the late day-1 row was absorbed: day 1 carries both contributions
    d1 = {r["day"]: r["y_fp"] for r in days.read().collect()}[dt.date(2020, 1, 1)]
    assert d1 == 15000  # (100.00 + 50.00) in cents


def test_holt_batch_apply_is_retry_idempotent(spark, tmp_table_dir):
    """Crash-mid-batch contract: re-applying the SAME batch id must
    not double-count the additive day sums (MicroBatchPin recomputes
    against the pinned pre-version)."""
    from pasta_pipeline_spark.sources.tables import TableStore
    from pyspark.sql import functions as F

    from pasta_pipeline_spark.streaming.sink import State, apply_state_batch

    days = TableStore(spark, f"{tmp_table_dir}/holt_retry_days")
    marker = f"{tmp_table_dir}/holt_retry_ckpt/_holt_mb.json"
    # incremental_holt_sink's state and law, through the protocol step
    states = {"s": State(days, keys=["day"], laws={"y_fp": "sum"})}

    def daily(b, _prior):
        return {"s": b.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("y_fp")
        )}

    b0 = spark.createDataFrame(WAVES[0], SCHEMA)
    apply_state_batch(b0, 0, marker, states, daily)
    once = sorted(tuple(r) for r in days.read().collect())
    # retry of batch 0 (same id): state must be byte-identical
    apply_state_batch(b0, 0, marker, states, daily)
    again = sorted(tuple(r) for r in days.read().collect())
    assert once == again
    # next batch id advances the pin and adds
    b1 = spark.createDataFrame(WAVES[1], SCHEMA)
    apply_state_batch(b1, 1, marker, states, daily)
    total = sum(r["y_fp"] for r in days.read().collect())
    assert total == sum(int(v * 100) for _, _, v in WAVES[0] + WAVES[1])
