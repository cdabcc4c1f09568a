"""Intra-batch retry idempotence for the stateful foreachBatch sinks.

Structured Streaming re-runs a crashed micro-batch with the SAME batch
id and rows (at-least-once foreachBatch). These tests drive the
extracted step bodies directly and apply every micro-batch TWICE with
the same id — the worst retry case (all side effects of the first
attempt landed, then the whole step re-runs) — and assert the final
state/report is byte-identical to the single-application run. Partial
crashes (a prefix of the step's writes landed) are strictly easier:
the appends are INSERT OVERWRITE by ``__mb`` partition and the state
rows recompute against the pinned pre-version (streaming/
exactly_once.py), so a retry replaces rather than re-applies.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_pair_lifecycle_retry_is_idempotent(spark, tmp_table_dir):
    """Every micro-batch applied twice (same mb id) == applied once ==
    the batch pair_history_report, including the hard case: a retried
    batch whose first attempt CLOSED an island and merged the new open
    island into state. Without pre-version pinning the retry would
    re-derive islands against post-merge state and lose the closed
    delta; without __mb overwrite it would double-append."""
    from pasta_pipeline_spark.operators.pair_ttl import pair_history_report
    from pasta_pipeline_spark.sources.tables import TableStore
    from pasta_pipeline_spark.streaming.pair_lifecycle import (
        apply_lifecycle_batch,
        lifecycle_report,
    )

    hist = [
        (1, 2, 0), (3, 4, 0),
        (1, 2, 1),
        (5, 6, 4),
        (1, 2, 5),            # reopens past ttl=2 -> first island CLOSES
        (3, 4, 5), (3, 4, 5),
        (7, 8, 8), (1, 2, 8),
    ]
    schema = "doc_a long, doc_b long, batch_id long"
    expected = {
        tuple(r)
        for r in pair_history_report(
            spark.createDataFrame(hist, schema), ttl=2
        ).collect()
    }

    state = TableStore(spark, f"{tmp_table_dir}/rl_state")
    aux = f"{tmp_table_dir}/rl_aux"
    waves = [
        [r for r in hist if r[2] <= 1],
        [r for r in hist if 2 <= r[2] <= 5],
        [r for r in hist if r[2] > 5],
    ]
    for mb_id, wave in enumerate(waves):
        batch = spark.createDataFrame(wave, schema)
        apply_lifecycle_batch(batch, mb_id, state, aux, ttl=2)
        # simulated intra-batch retry: same id, same rows, full re-run
        apply_lifecycle_batch(batch, mb_id, state, aux, ttl=2)

    got = {tuple(r) for r in lifecycle_report(spark, state, aux).collect()}
    assert got == expected
    st = state.read().collect()
    assert len(st) == 4 and all(r["e"] >= r["s"] for r in st)

    # the delta log holds each closed island ONCE (overwrite, not
    # re-append). Closed islands in this history with ttl=2:
    # (1,2) [0,2] and (3,4) [0,1] close at wave 2; (1,2) [5,6]
    # closes at wave 3 — exactly 3 islands = 6 delta rows.
    deltas = sorted(
        (r["bt"], r["d"])
        for r in spark.read.parquet(f"{aux}/closed_deltas").collect()
    )
    assert deltas == sorted([(0, 1), (3, -1), (0, 1), (2, -1), (5, 1), (7, -1)])


def test_datacard_retry_is_idempotent(spark, tmp_table_dir):
    """Additive data-card counters survive a full re-run of each
    micro-batch: live card == batch card, with no double counting of
    n_docs / total_chars / duplication mass."""
    from pasta_pipeline_spark.operators.stats import corpus_datacard
    from pasta_pipeline_spark.sources.tables import TableStore
    from pasta_pipeline_spark.streaming.sink import (
        apply_datacard_batch,
        datacard_from_state,
    )

    schema = "doc_id long, text string, source string, lang string"
    waves = [
        [(i, f"text {i % 9}" if i % 4 else "dup text", f"s{i % 3}",
          "en" if i % 2 else "de") for i in range(40)],
        [(100 + i, f"more {i % 5}", f"s{i % 5}", "fr" if i % 3 == 0 else "en")
         for i in range(35)],
    ]
    stores = [
        TableStore(spark, f"{tmp_table_dir}/rdc_{k}")
        for k in ("src", "txt", "lang")
    ]
    marker = f"{tmp_table_dir}/rdc_marker.json"
    for mb_id, wave in enumerate(waves):
        batch = spark.createDataFrame(wave, schema)
        apply_datacard_batch(batch, mb_id, *stores, marker_path=marker)
        apply_datacard_batch(batch, mb_id, *stores, marker_path=marker)

    all_df = spark.createDataFrame(waves[0] + waves[1], schema)
    batch_card = {r["metric"]: r["value"] for r in corpus_datacard(all_df).collect()}
    live = {
        r["metric"]: r["value"]
        for r in datacard_from_state(spark, *stores).collect()
    }
    assert live == batch_card


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_summary_retry_is_idempotent(spark, tmp_table_dir):
    """Applied-twice summary state == applied-once == direct summary
    over the union (r6 verdict #2: the additive sinks adopt the
    pinning machinery)."""
    from pasta_pipeline_spark.operators.summaries import partial_summary
    from pasta_pipeline_spark.sources.tables import TableStore
    from pasta_pipeline_spark.streaming.sink import State, apply_state_batch

    schema = "k string, v double"
    waves = [
        [(f"k{i % 3}", float(i)) for i in range(30)],
        [(f"k{i % 4}", float(i * 7 % 50)) for i in range(25)],
    ]
    store = TableStore(spark, f"{tmp_table_dir}/rsum")
    marker = f"{tmp_table_dir}/rsum_mb.json"
    # incremental_summary_sink's state and laws, through the protocol step
    laws = {"n": "sum", "sum_x": "sum", "min_x": "min", "max_x": "max", "sumsq_x": "sum"}
    states = {"s": State(store, keys=["k"], laws=laws)}
    for mb_id, wave in enumerate(waves):
        batch = spark.createDataFrame(wave, schema)
        for _attempt in range(2):
            apply_state_batch(
                batch, mb_id, marker, states,
                lambda b, _: {"s": partial_summary(b, "k", "v")},
            )

    direct = partial_summary(
        spark.createDataFrame(waves[0] + waves[1], schema), "k", "v"
    )
    assert _rows(store.read().select(*direct.columns)) == _rows(direct)


def test_histogram_retry_is_idempotent(spark, tmp_table_dir):
    from pasta_pipeline_spark.operators.summaries import partial_histogram
    from pasta_pipeline_spark.sources.tables import TableStore
    from pasta_pipeline_spark.streaming.sink import State, apply_state_batch

    schema = "k string, v double"
    waves = [
        [(f"k{i % 2}", float(i % 10)) for i in range(40)],
        [(f"k{i % 3}", float(i % 8)) for i in range(30)],
    ]
    store = TableStore(spark, f"{tmp_table_dir}/rhist")
    marker = f"{tmp_table_dir}/rhist_mb.json"
    # incremental_histogram_sink's state and law, through the protocol step
    states = {"s": State(store, keys=["k", "bin"], laws={"bin_n": "sum"})}
    for mb_id, wave in enumerate(waves):
        batch = spark.createDataFrame(wave, schema)
        for _attempt in range(2):
            apply_state_batch(
                batch, mb_id, marker, states,
                lambda b, _: {"s": partial_histogram(b, ["k"], "v", lo=0.0, hi=10.0, n_bins=5)},
            )

    direct = partial_histogram(
        spark.createDataFrame(waves[0] + waves[1], schema), "k", "v",
        lo=0.0, hi=10.0, n_bins=5,
    )
    assert _rows(store.read().select(*direct.columns)) == _rows(direct)


def test_heavy_hitter_retry_is_idempotent(spark, tmp_table_dir):
    """Lossless regime (m exceeds the distinct-item count) so
    maintained == direct exactly; the retry must not inflate counts
    or the dropped-mass bound."""
    from pasta_pipeline_spark.operators.sketches import partial_heavy_hitters
    from pasta_pipeline_spark.sources.tables import TableStore
    from pasta_pipeline_spark.streaming.sink import apply_heavy_hitter_batch

    schema = "k string, item string"
    waves = [
        [("g", f"i{i % 5}") for i in range(50)],
        [("g", f"i{i % 7}") for i in range(35)],
    ]
    store = TableStore(spark, f"{tmp_table_dir}/rhh")
    marker = f"{tmp_table_dir}/rhh_mb.json"
    for mb_id, wave in enumerate(waves):
        batch = spark.createDataFrame(wave, schema)
        apply_heavy_hitter_batch(batch, mb_id, store, marker,
                                 keys="k", item_col="item", m=16)
        apply_heavy_hitter_batch(batch, mb_id, store, marker,
                                 keys="k", item_col="item", m=16)

    direct = partial_heavy_hitters(
        spark.createDataFrame(waves[0] + waves[1], schema), "k", "item", m=16
    )
    assert _rows(store.read().select(*direct.columns)) == _rows(direct)


def test_token_distribution_retry_is_idempotent(spark, tmp_table_dir):
    from pasta_pipeline_spark.operators.divergence import token_distribution
    from pasta_pipeline_spark.sources.tables import TableStore
    from pasta_pipeline_spark.streaming.sink import (
        apply_token_distribution_batch,
    )

    schema = "doc_id long, text string"
    waves = [
        [(i, f"alpha beta w{i % 6}") for i in range(20)],
        [(100 + i, f"beta gamma w{i % 4}") for i in range(15)],
    ]
    store = TableStore(spark, f"{tmp_table_dir}/rtd")
    marker = f"{tmp_table_dir}/rtd_mb.json"
    for mb_id, wave in enumerate(waves):
        batch = spark.createDataFrame(wave, schema)
        apply_token_distribution_batch(batch, mb_id, store, marker)
        apply_token_distribution_batch(batch, mb_id, store, marker)

    direct = token_distribution(
        spark.createDataFrame(waves[0] + waves[1], schema)
    )
    assert _rows(store.read().select("tok", "c")) == _rows(direct)


def test_cms_retry_is_idempotent(spark, tmp_table_dir):
    from pasta_pipeline_spark.operators.sketches import count_min_sketch
    from pasta_pipeline_spark.sources.tables import TableStore
    from pasta_pipeline_spark.streaming.sink import apply_cms_batch

    schema = "v string"
    waves = [
        [(f"x{i % 9}",) for i in range(45)],
        [(f"x{i % 11}",) for i in range(33)],
    ]
    store = TableStore(spark, f"{tmp_table_dir}/rcms")
    marker = f"{tmp_table_dir}/rcms_mb.json"
    for mb_id, wave in enumerate(waves):
        batch = spark.createDataFrame(wave, schema)
        apply_cms_batch(batch, mb_id, store, marker, item_col="v",
                        width=64, depth=3)
        apply_cms_batch(batch, mb_id, store, marker, item_col="v",
                        width=64, depth=3)

    direct = count_min_sketch(
        spark.createDataFrame(waves[0] + waves[1], schema), "v",
        width=64, depth=3,
    )
    assert _rows(store.read().select(*direct.columns)) == _rows(direct)


def test_compliance_retry_is_idempotent(spark, tmp_table_dir):
    """Counters, extrema, and the boundary-gap bookkeeping all survive
    a full re-run of each micro-batch — including the hard case where
    the first attempt already advanced last_ts past the batch (a
    naive re-merge would see the batch's own last fetch as the
    previous one and invent a zero-gap violation)."""
    from pasta_pipeline_spark.operators.politeness import schedule_compliance
    from pasta_pipeline_spark.sources.tables import TableStore
    from pasta_pipeline_spark.streaming.sink import apply_compliance_batch

    schema = "host string, fetched_at_s long"
    waves = [
        [("a", 100), ("a", 103), ("b", 50), ("c", 7)],
        [("a", 104), ("a", 110), ("b", 60)],
        [("d", 500), ("d", 501)],
    ]
    store = TableStore(spark, f"{tmp_table_dir}/rcmp")
    marker = f"{tmp_table_dir}/rcmp_mb.json"
    for mb_id, wave in enumerate(waves):
        batch = spark.createDataFrame(wave, schema)
        apply_compliance_batch(batch, mb_id, store, marker, required_delay_s=3)
        apply_compliance_batch(batch, mb_id, store, marker, required_delay_s=3)

    all_df = spark.createDataFrame([r for w in waves for r in w], schema)
    direct = schedule_compliance(all_df, required_delay_s=3)
    cols = ["host", "n_fetches", "n_gaps", "min_gap_s",
            "n_violations", "worst_deficit_s"]
    assert _rows(store.read().select(*cols)) == _rows(direct.select(*cols))


def test_dsir_retry_is_idempotent(spark, tmp_table_dir):
    """Model counters and per-doc bucket stats survive a full re-run
    of each micro-batch; the derived selection == batch dsir_select
    on the union."""
    from pasta_pipeline_spark.operators.dsir import dsir_select
    from pasta_pipeline_spark.sources.tables import TableStore
    from pasta_pipeline_spark.streaming.sink import (
        apply_dsir_batch,
        dsir_report_from_state,
    )

    schema = "doc_id long, text string, source string"
    waves = [
        [(1, "alpha beta alpha", "curated"), (2, "gamma delta", "crawl"),
         (3, "alpha alpha beta beta", "crawl")],
        [(4, "delta epsilon", "crawl"), (5, "alpha beta gamma", "curated"),
         (6, "zeta zeta zeta", "crawl")],
    ]
    model = TableStore(spark, f"{tmp_table_dir}/rdsir_model")
    docb = TableStore(spark, f"{tmp_table_dir}/rdsir_docb")
    marker = f"{tmp_table_dir}/rdsir_mb.json"
    pred = F.col("source") == "curated"
    for mb_id, wave in enumerate(waves):
        batch = spark.createDataFrame(wave, schema)
        apply_dsir_batch(batch, mb_id, model, docb, marker, pred)
        apply_dsir_batch(batch, mb_id, model, docb, marker, pred)

    all_docs = spark.createDataFrame(waves[0] + waves[1], schema)
    want = [tuple(r) for r in dsir_select(all_docs, pred, k=6).collect()]
    got = [tuple(r) for r in dsir_report_from_state(model, docb, k=6).collect()]
    assert got == want
