"""Round-2 extension operators: TF-IDF top-k, int8 quantization,
gap-fill/LOCF resampling — semantics on hand-computed fixtures (the
catalog oracle checks cross-engine equality; these pin the intended
math)."""

from __future__ import annotations

from datetime import datetime

import math

import pytest
from pyspark.sql import functions as F


def test_tfidf_top_terms_math(spark):
    from pasta_pipeline_spark.operators.text_analysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)

    # doc 1: apple tf=2 df=1 → 2*ln(3); banana tf=1 df=2 → ln(1.5)
    top = by_doc[1][0]
    assert (top["term"], top["tf"], top["df"]) == ("apple", 2, 1)
    assert top["score_fp"] == math.floor(2 * math.log(3.0) * 10000)
    assert by_doc[1][1]["term"] == "banana"
    # doc 3: only one distinct term
    assert [r["term"] for r in by_doc[3]] == ["cherry"]
    # ranks are 1-based and dense per doc
    assert [r["rnk"] for r in sorted(by_doc[1], key=lambda r: r["rnk"])] == [1, 2]


def test_quantize_int8_roundtrip_and_edges(spark):
    from pasta_pipeline_spark.operators.similarity import quantize_embeddings_int8

    emb = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5]),
            (2, [0.0, 0.0]),          # zero vector
        ],
        "vec_id long, embedding array<float>",
    )
    rows = quantize_embeddings_int8(emb).collect()
    v1 = {r["pos"]: r for r in rows if r["vec_id"] == 1}
    # scale = 127/2 = 63.5 → q = round(v*63.5)
    assert [v1[p]["q"] for p in (0, 1, 2)] == [64, -127, 32]
    assert v1[0]["scale_fp"] == math.floor(63.5 * 10000)
    # max-magnitude component always lands within int8
    assert all(-127 <= r["q"] <= 127 for r in rows)
    # zero vector → all-zero q, NULL scale
    v2 = [r for r in rows if r["vec_id"] == 2]
    assert all(r["q"] == 0 and r["scale_fp"] is None for r in v2)
    # dequantization error bound: |v - q/scale| <= 0.5/scale
    scale = 63.5
    for p, v in [(0, 1.0), (1, -2.0), (2, 0.5)]:
        assert abs(v - v1[p]["q"] / scale) <= 0.5 / scale + 1e-12


def test_resample_locf_gaps(spark):
    from pasta_pipeline_spark.operators.timeseries import resample_locf

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 10), 1.0),
            (1, datetime(2024, 1, 1, 0, 50), 2.0),
            # hours 1-2 silent
            (1, datetime(2024, 1, 1, 3, 5), 7.0),
            (2, datetime(2024, 1, 1, 5, 0), 9.0),  # single-hour key
        ],
        "user_id long, ts timestamp, value double",
    )
    out = resample_locf(
        ev,
        key_col="user_id",
        ts_col="ts",
        value_fp_agg=F.sum(F.floor(F.col("value") * 10000).cast("long")),
    ).collect()
    g1 = {r["slot"].hour: r for r in out if r["user_id"] == 1}
    # grid spans the key's own bounds: hours 0..3 inclusive
    assert sorted(g1) == [0, 1, 2, 3]
    assert (g1[0]["n_events"], g1[0]["is_gap"], g1[0]["slot_value"]) == (2, False, 30000)
    assert (g1[1]["n_events"], g1[1]["is_gap"], g1[1]["slot_value"]) == (0, True, None)
    # LOCF carries hour 0's aggregate through the silent hours
    assert g1[1]["slot_value_locf"] == 30000
    assert g1[2]["slot_value_locf"] == 30000
    assert g1[3]["slot_value_locf"] == 70000
    # single-observation key: a one-row grid
    g2 = [r for r in out if r["user_id"] == 2]
    assert len(g2) == 1 and g2[0]["n_events"] == 1 and not g2[0]["is_gap"]


def test_resample_locf_plan_no_calendar_join(spark):
    """The grid must come from sequence()+explode of per-key bounds —
    no cartesian/nested-loop join against a calendar."""
    from pasta_pipeline_spark.operators.timeseries import resample_locf

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1.0)], "user_id long, ts timestamp, value double"
    )
    out = resample_locf(
        ev, "user_id", "ts", F.sum(F.floor(F.col("value") * 10000).cast("long"))
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _py_pagerank(edges, iterations, scale=1_000_000, d_num=85, d_den=100):
    """Reference implementation of the exact integer contract.
    Matches the operator's documented asymmetric-graph semantics: a
    node absent from the current rank set (no in-edges) contributes
    nothing in later rounds — no default-to-initial fallback."""
    from collections import defaultdict

    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    ranks = {s: scale for s, _ in edges}
    base = (scale * (d_den - d_num)) // d_den
    for _ in range(iterations):
        acc = defaultdict(int)
        for s, d in edges:
            if s in ranks:
                acc[d] += ranks[s] // outdeg[s]
        ranks = {n: base + (d_num * total) // d_den for n, total in acc.items()}
    return ranks


def test_pagerank_source_only_node_decays(spark):
    """Asymmetric contract pinned: a source-only node (out-edges, no
    in-edges) feeds round 1 and then stops contributing."""
    from pasta_pipeline_spark.operators.graph import pagerank_fixed

    # 0 → 1, 1 ↔ 2 : node 0 never receives an edge
    edges = [(0, 1), (1, 2), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (1, 2, 3):
        got = {
            r["id"]: r["rank_fp"]
            for r in pagerank_fixed(df, iterations=iters).collect()
        }
        assert got == _py_pagerank(edges, iters)
        assert 0 not in got  # source-only node has no rank row


def test_pagerank_fixed_matches_reference_math(spark):
    from pasta_pipeline_spark.operators.graph import pagerank_fixed

    edges = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank_fp"] for r in pagerank_fixed(df, iterations=2).collect()}
    assert got == _py_pagerank(edges, 2)
    # symmetric triangle → equal centrality
    assert len(set(got.values())) == 1


def test_pagerank_hub_outranks_leaves(spark):
    from pasta_pipeline_spark.operators.graph import pagerank_fixed

    # star: hub 0 <-> leaves 1..4
    edges = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank_fp"] for r in pagerank_fixed(df, iterations=3).collect()}
    assert got == _py_pagerank(edges, 3)
    assert got[0] > max(got[i] for i in range(1, 5))


def test_bipartite_edges_closed(spark):
    from pasta_pipeline_spark.operators.graph import bipartite_edges

    df = spark.createDataFrame([(10, 7), (10, 8), (11, 7)], "p long, s long")
    e = bipartite_edges(df, "p", "s")
    rows = {(r["src"], r["dst"]) for r in e.collect()}
    # both directions, namespaced; every dst also appears as a src
    assert (20, 15) in rows and (15, 20) in rows
    assert {d for _, d in rows} <= {s for s, _ in rows}


def test_repetition_metrics_math(spark):
    from pasta_pipeline_spark.operators.text_analysis import repetition_metrics

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),     # bigrams: ab,ba,ab,ba,ab → top=3/5, dist=2
            (2, "x y z w"),         # all distinct: top=1/3, dup=0
            (3, "solo"),            # <2 tokens → excluded
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_bigrams"] == 5
    assert got[1]["top2_frac_fp"] == (10000 * 3) // 5
    assert got[1]["dup2_frac_fp"] == (10000 * 3) // 5   # 5 total - 2 distinct
    assert got[2]["top2_frac_fp"] == 10000 // 3
    assert got[2]["dup2_frac_fp"] == 0


def test_contamination_check_hits_and_zeroes(spark):
    from pasta_pipeline_spark.operators.text_analysis import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix the quick brown fox jumps over suffix"),  # shares 5-grams
            (2, "completely different words here entirely now"),   # clean
            (3, "tiny doc"),                                       # whole-text shingle, no match
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in contamination_check(corpus, bench, n=5).collect()}
    assert set(got) == {1, 2, 3}                 # clean docs stay in the output
    # "the quick brown fox jumps" and "quick brown fox jumps over" match
    assert got[1]["n_contaminated"] == 2
    assert got[1]["contam_frac_fp"] == (10000 * 2) // got[1]["n_grams"]
    assert got[2]["n_contaminated"] == 0
    assert got[3]["n_contaminated"] == 0



def test_repetition_metrics_null_ids_are_separate_documents(spark):
    """A row is a document: two NULL-id rows are measured on their own
    texts, not merged into one id group."""
    from pasta_pipeline_spark.operators.text_analysis import repetition_metrics

    docs = spark.createDataFrame(
        [(None, "a b a b a b"), (None, "x y z w"), (1, "a b a b a b")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"] is None, r["n_bigrams"], r["top2_frac_fp"], r["dup2_frac_fp"])
        for r in repetition_metrics(docs).collect()
    )
    assert got == [
        (False, 5, 6000, 6000),
        (True, 3, 3333, 0),
        (True, 5, 6000, 6000),
    ]


def test_contamination_check_null_ids_are_separate_documents(spark):
    """Each NULL-id row keeps its own shingle count and hit count."""
    from pasta_pipeline_spark.operators.text_analysis import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (None, "prefix the quick brown fox jumps over suffix"),  # 4 grams, 2 hits
            (None, "completely different words here entirely now"),   # 2 grams, 0 hits
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r["n_grams"], r["n_contaminated"])
        for r in contamination_check(corpus, bench, n=5).collect()
    )
    assert got == [(2, 0), (4, 2)]

# ---------------------------------------------------------------------------
# Approximate sketches: verified by error bound against exact aggregates
# (hash equality is the wrong contract for engine-specific sketches)
# ---------------------------------------------------------------------------

SF_DIR = "/root/testdata/sf0.01"


def test_approx_distinct_within_rsd(spark):
    from pasta_pipeline_spark.operators.sketches import approx_distinct
    from pasta_pipeline_spark.schemas import load_table

    orders = load_table(spark, SF_DIR, "orders")
    exact = orders.select(F.countDistinct("o_custkey")).collect()[0][0]
    approx = approx_distinct(orders, "o_custkey", rsd=0.02).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05  # 2% rsd → 5% is a safe gate


def test_approx_quantiles_within_rank_error(spark):
    from pasta_pipeline_spark.operators.sketches import approx_quantiles
    from pasta_pipeline_spark.schemas import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    got = approx_quantiles(li, "l_extendedprice", [0.5], accuracy=10000).collect()[0][
        "quantiles"
    ][0]
    # rank error <= n/accuracy: the approximate median's rank must sit
    # within that band of the true median rank
    n = li.count()
    rank = li.filter(F.col("l_extendedprice") <= got).count()
    assert abs(rank - n / 2) <= n / 10000 + 1


def test_frequent_items_exact_threshold(spark):
    from pasta_pipeline_spark.operators.sketches import frequent_items

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "v string"
    )
    got = [(r["value"], r["cnt"]) for r in frequent_items(df, "v", min_count=3).collect()]
    assert got == [("a", 5), ("b", 3)]


def test_zvalue2_locality_and_bounds(spark):
    from pasta_pipeline_spark.operators.layout import zvalue2

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 3), (1024, 1024)],
        "a long, b long",
    )
    got = {(r["a"], r["b"]): r["z"] for r in df.select("a", "b", zvalue2("a", "b")).collect()}
    # hand-interleave: a even bits, b odd bits
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    assert got[(1, 1)] == 3
    assert got[(2, 0)] == 4
    assert got[(3, 3)] == 15
    assert got[(1024, 1024)] == (1 << 20) | (1 << 21)
    assert all(z >= 0 for z in got.values())


def test_zorder_layout_partitions_are_contiguous_z_ranges(spark):
    from pasta_pipeline_spark.operators.layout import zorder_layout, zvalue2

    df = spark.createDataFrame(
        [(i % 37, (i * 7) % 41) for i in range(2000)], "a long, b long"
    )
    out = zorder_layout(df, "a", "b", n_partitions=4)
    # re-derive z per partition; ranges must not overlap across partitions
    parts = (
        out.withColumn("z", zvalue2("a", "b"))
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(parts) > 1
    for prev, cur in zip(parts, parts[1:]):
        assert prev["hi"] <= cur["lo"], "z-ranges overlap across partitions"


def test_compaction_partitions():
    from pasta_pipeline_spark.operators.layout import compaction_partitions

    mb = 1024 * 1024
    assert compaction_partitions(0) == 1
    assert compaction_partitions(1) == 1
    assert compaction_partitions(128 * mb) == 1
    assert compaction_partitions(128 * mb + 1) == 2
    assert compaction_partitions(10_000 * mb, 512 * mb) == 20


def test_temperature_sample_quotas(spark):
    from pasta_pipeline_spark.operators.sampling import temperature_sample

    rows = [(i, "big") for i in range(900)] + [(i + 1000, "rare") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_sample(df, "doc_id", "source", target_total=100)
    got = {r["source"]: 0 for r in out.collect()}
    for r in out.collect():
        got[r["source"]] += 1
    # sqrt weighting: big gets 100*30/(30+10)=75, rare 100*10/40=25 —
    # vs proportional 90/10: the rare source is upweighted 2.5×
    assert got == {"big": 75, "rare": 25}
    # determinism: same input → identical sample membership
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in temperature_sample(df, "doc_id", "source", target_total=100).collect()
    )
    assert ids1 == ids2


def test_temperature_sample_ranks_null_ids_last(spark):
    """The md5(id), id rank puts a NULL id after every real id (as the
    DuckDB twin's default NULLS LAST does), so a quota below the source
    size drops the NULL-id row first."""
    from pasta_pipeline_spark.operators.sampling import temperature_sample

    df = spark.createDataFrame(
        [(1, "s"), (2, "s"), (3, "s"), (None, "s")], "doc_id long, source string"
    )
    ids = [r["doc_id"] for r in temperature_sample(df, "doc_id", "source", 3).collect()]
    assert None not in ids
    assert sorted(ids) == [1, 2, 3]


def test_edit_distance_shifted_catches_indels(spark):
    """A single deletion at the front shifts every downstream slice, so
    fixed-position blocking misses it; PassJoin shifted probing must
    not."""
    from pasta_pipeline_spark.operators.text_dedup import (
        edit_distance_pairs_shifted,
    )

    docs = spark.createDataFrame(
        [
            (1, "abcdefghijklmnopqrstuvwxyz0123456789abcd"),
            (2, "bcdefghijklmnopqrstuvwxyz0123456789abcd"),   # del 'a' → dist 1
            (3, "Xabcdefghijklmnopqrstuvwxyz0123456789abc"),  # ins 'X' → dist ≤ 2
            (4, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),  # unrelated
            (5, "ab"),                                        # shorter than k → excluded
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in edit_distance_pairs_shifted(docs, "doc_id", "text", tau=2).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 2  # one insertion + trailing char drop (40-char window)
    # (2,3) is distance 3 (two front inserts + trailing delete) → excluded at tau=2
    assert (2, 3) not in got
    assert all(4 not in pair and 5 not in pair for pair in got)


def test_edit_distance_default_api_routes_small_tau_to_passjoin(spark):
    """edit_distance_pairs(max_dist<=2) delegates to the PassJoin
    variant, so the DEFAULT API catches an insertion-shifted near-dup
    that the fixed-position chunk gate alone misses."""
    from pasta_pipeline_spark.operators.text_dedup import edit_distance_pairs

    docs = spark.createDataFrame(
        [
            (1, "abcdefghijklmnopqrstuvwxyz0123456789abcd"),
            (2, "bcdefghijklmnopqrstuvwxyz0123456789abcd"),  # front deletion
            (4, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),
        ],
        "doc_id long, text string",
    )
    # sanity: with the chunk gate forced (larger max_dist but same
    # pair), fixed-position blocking misses the shifted pair entirely
    # — every 8-char slice of doc 2 is displaced by one
    chunked = {
        (r["doc_a"], r["doc_b"])
        for r in edit_distance_pairs(
            docs, "doc_id", "text", max_dist=3, n_chunks=5
        ).collect()
    }
    assert (1, 2) not in chunked
    # the default API at small tau routes through PassJoin and finds it
    got = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in edit_distance_pairs(docs, "doc_id", "text", max_dist=1).collect()
    }
    assert got[(1, 2)] == 1
    assert all(4 not in p for p in got)


def test_edit_distance_shifted_no_cartesian(spark):
    from pasta_pipeline_spark.operators.text_dedup import (
        edit_distance_pairs_shifted,
    )

    docs = spark.createDataFrame(
        [(i, f"string number {i} with some shared words") for i in range(50)],
        "doc_id long, text string",
    )
    out = edit_distance_pairs_shifted(docs, "doc_id", "text", tau=2)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_char_entropy_ordering_and_exact_value(spark):
    import math

    from pasta_pipeline_spark.operators.text_analysis import char_entropy

    docs = spark.createDataFrame(
        [
            (1, "aaaaaaaa"),    # zero entropy
            (2, "abababab"),    # 1 bit = ln 2 nats
            (3, "abcdefgh"),    # ln 8 nats (max for 8 chars)
            (4, ""),            # excluded
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert set(got) == {1, 2, 3}
    S = 1_000_000_000
    assert got[1]["entropy_fp"] == 0
    # exact contract: (n*lnfp(n) - sum cnt*lnfp(cnt)) div n
    def lnfp(x):
        return math.floor(math.log(x) * S)
    assert got[2]["entropy_fp"] == (8 * lnfp(8) - 2 * 4 * lnfp(4)) // 8
    assert got[3]["entropy_fp"] == (8 * lnfp(8) - 8 * lnfp(1)) // 8
    # monotone: uniform > alternating > constant
    assert got[3]["entropy_fp"] > got[2]["entropy_fp"] > got[1]["entropy_fp"]
    # and the fixed-point value is within 2/n of true entropy
    assert abs(got[2]["entropy_fp"] / S - math.log(2)) < 1e-8


def test_aspect_bucket_ladder(spark):
    from pasta_pipeline_spark.operators.multimodal import aspect_bucket

    df = spark.createDataFrame(
        [(100, 200), (300, 400), (100, 100), (400, 300), (200, 100), (1000, 100)],
        "width long, height long",
    )
    got = [r["b"] for r in df.select(aspect_bucket("width", "height").alias("b")).collect()]
    assert got == [
        "tall_1_2",       # ap=50
        "portrait_3_4",   # ap=75
        "square_1_1",     # ap=100
        "landscape_4_3",  # ap=133
        "wide_2_1",       # ap=200
        "wide_2_1",       # ap=1000 clamps into the last bucket
    ]


def test_prepare_training_corpus_stages(spark):
    """Each stage of the end-to-end prep plan removes exactly the docs
    it should: short → quality gate, repeated → repetition gate,
    identical → dedup, benchmark-overlapping → decontamination; the
    survivors get temperature-mixed."""
    from pasta_pipeline_spark.plans.training_data import prepare_training_corpus

    long_text = " ".join(f"w{i}" for i in range(30))          # 30 distinct words
    repeated = "spam ham " * 15                                # dup2 ≈ 9655 > 6000
    leaked = "the secret benchmark sentence is hidden here " + " ".join(
        f"x{i}" for i in range(25)
    )
    corpus = spark.createDataFrame(
        [
            (1, long_text, "a"),
            (2, "too short", "a"),            # < 20 words
            (3, repeated.strip(), "a"),       # repetition-dominated
            (4, long_text, "b"),              # exact dup of 1 → keep-first drops it
            (5, leaked, "b"),                 # contaminated
            (6, " ".join(f"y{i}" for i in range(40)), "b"),
        ],
        "doc_id long, text string, source string",
    )
    bench = spark.createDataFrame(
        [(100, "the secret benchmark sentence is hidden here")],
        "doc_id long, text string",
    )
    out = prepare_training_corpus(corpus, bench, target_total=10).collect()
    survivors = sorted(r["doc_id"] for r in out)
    assert survivors == [1, 6]
    assert {r["source"] for r in out} == {"a", "b"}
    assert {r["n_words"] for r in out} == {30, 40}


def _training_fixture(spark, rows):
    long_text = " ".join(f"w{i}" for i in range(30))
    repeated = ("spam ham " * 15).strip()
    leaked = "the secret benchmark sentence is hidden here " + " ".join(
        f"x{i}" for i in range(25)
    )
    texts = {"long": long_text, "repeated": repeated, "leaked": leaked, "solo": "solo"}
    corpus = spark.createDataFrame(
        [(i, texts[t], src) for i, t, src in rows],
        "doc_id long, text string, source string",
    )
    bench = spark.createDataFrame(
        [(100, "the secret benchmark sentence is hidden here")],
        "doc_id long, text string",
    )
    return corpus, bench


def test_prepare_training_corpus_gates_null_id_rows(spark):
    """A NULL id does not let a row skip a gate: the repetition and
    decontamination verdicts are taken from the row's own text."""
    from pasta_pipeline_spark.plans.training_data import prepare_training_corpus

    corpus, bench = _training_fixture(
        spark,
        [
            (1, "leaked", "a"),
            (2, "repeated", "a"),
            (None, "leaked", "b"),
            (None, "repeated", "b"),
            (None, "solo", "b"),
            (3, "long", "b"),
        ],
    )
    out = prepare_training_corpus(corpus, bench, target_total=10).collect()
    assert [(r["doc_id"], r["source"]) for r in out] == [(3, "b")]


def test_prepare_training_corpus_keep_first_ranks_null_id_last(spark):
    """Keep-first keeps the lowest real id of a content group; a NULL-id
    copy ranks after it, as in the DuckDB oracle."""
    from pasta_pipeline_spark.plans.training_data import prepare_training_corpus

    corpus, bench = _training_fixture(
        spark, [(None, "long", "a"), (5, "long", "a")]
    )
    out = prepare_training_corpus(corpus, bench, target_total=10).collect()
    assert [r["doc_id"] for r in out] == [5]


def test_check_constraints_and_quarantine(spark):
    from pasta_pipeline_spark.operators.quality_checks import (
        check_constraints,
        extract_violations,
    )

    df = spark.createDataFrame(
        [
            (1, 10.0, "O"),
            (2, -5.0, "O"),     # bad price
            (3, 7.0, "X"),      # bad status
            (3, 2.0, "O"),      # duplicate key (both rows count)
            (4, None, "O"),     # NULL price → violation (CHECK semantics)
        ],
        "k long, price double, status string",
    )
    rules = {
        "positive_price": F.col("price") > 0,
        "valid_status": F.col("status").isin("O", "F"),
    }
    got = {
        r["rule"]: (r["n_violations"], r["n_rows"])
        for r in check_constraints(df, rules, unique_keys={"unique_k": ["k"]}).collect()
    }
    assert got == {
        "positive_price": (2, 5),   # -5.0 and NULL
        "valid_status": (1, 5),
        "unique_k": (2, 5),         # both rows of the duplicated key
    }

    quarantined = {
        r["k"]: sorted(r["failed_rules"])
        for r in extract_violations(df, rules).collect()
    }
    assert quarantined == {
        2: ["positive_price"],
        3: ["valid_status"],
        4: ["positive_price"],
    }


def test_zone_map_prunes_sorted_layout(spark, tmp_path):
    """Range-partitioned layout -> disjoint per-file ranges -> a point
    range prunes to ~1 file; the same data written hash-shuffled
    overlaps everywhere and prunes nothing. The zone map makes that
    difference measurable."""
    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.layout import file_zone_map, pruned_files

    df = spark.range(0, 4000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    sorted_path = str(tmp_path / "sorted")
    random_path = str(tmp_path / "random")
    df.repartitionByRange(4, "k").write.parquet(sorted_path)
    df.repartition(4, "v").write.parquet(random_path)

    zm_sorted = file_zone_map(spark, sorted_path, ["k"])
    zm_random = file_zone_map(spark, random_path, ["k"])
    assert zm_sorted.count() == 4 and zm_random.count() == 4
    # total rows accounted for in both manifests
    assert zm_sorted.groupBy().sum("n_rows").collect()[0][0] == 4000

    n_sorted = pruned_files(zm_sorted, "k", 100, 150).count()
    n_random = pruned_files(zm_random, "k", 100, 150).count()
    assert n_sorted == 1
    assert n_random == 4


def test_heavy_hitter_state_merge_bound(spark):
    """Merged truncated-counter estimates equal exact counts for items
    that stayed in both states, and NEVER overshoot; the tracked
    dropped mass upper-bounds any undercount."""
    import random

    from pasta_pipeline_spark.operators.sketches import (
        merge_heavy_hitters,
        partial_heavy_hitters,
    )

    rng = random.Random(7)
    # zipf-ish: item i appears ~ 600/i times, in one group
    rows = [("g", f"item{i}") for i in range(1, 40) for _ in range(600 // i)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k string, item string")
    half1 = spark.createDataFrame(rows[: len(rows) // 2], "k string, item string")
    half2 = spark.createDataFrame(rows[len(rows) // 2 :], "k string, item string")

    m = 8
    merged = merge_heavy_hitters(
        partial_heavy_hitters(half1, "k", "item", m=m),
        partial_heavy_hitters(half2, "k", "item", m=m),
        "k",
        m=m,
    )
    exact = {
        r["item"]: r["n"]
        for r in df.groupBy("item").agg(__import__("pyspark").sql.functions.count("*").alias("n")).collect()
    }
    got = {r["item"]: r["n"] for r in merged.collect()}
    dropped = got.pop(None)
    assert len(got) == m
    total_err = 0
    for item, n in got.items():
        assert n <= exact[item]  # truncation only ever undercounts
        total_err += exact[item] - n
    assert total_err <= dropped  # the bound travels with the state
    # the top item is heavy enough to be exact through both halves
    assert got["item1"] == exact["item1"]


def test_heavy_hitter_partition_cap_bounds_shuffle(spark):
    """With partition_cap set, the pre-aggregation stage emits at most
    (cap+1) rows per (input partition, key) — the SpaceSaving shuffle
    bound — and the travelling error contract still holds."""
    import random

    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.sketches import (
        _partition_truncated_counts,
        partial_heavy_hitters,
    )

    rng = random.Random(11)
    rows = [("g", f"item{i}") for i in range(1, 60) for _ in range(500 // i)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k string, item string").repartition(4)
    n_parts = df.rdd.getNumPartitions()

    cap = 12
    pre = _partition_truncated_counts(df, ["k"], "item", cap)
    # shuffle-bound check: the stage's emission, not the final state
    assert pre.count() <= (cap + 1) * n_parts  # one key group

    m = 6
    state = partial_heavy_hitters(df, "k", "item", m=m, partition_cap=cap)
    got = {r["item"]: r["n"] for r in state.collect()}
    dropped = got.pop(None, 0)
    assert len(got) == m
    exact = {
        r["item"]: r["n"]
        for r in df.groupBy("item").agg(F.count("*").alias("n")).collect()
    }
    total_err = 0
    for item, n in got.items():
        assert n <= exact[item]
        total_err += exact[item] - n
    assert total_err <= dropped
    # heavy head survives every partition's truncation → exact
    assert got["item1"] == exact["item1"]


def test_heavy_hitter_null_items_excluded(spark):
    """Genuine NULL items are excluded from counting (count(col)
    convention) so the NULL row stays an unambiguous dropped-mass
    sentinel through merges."""
    from pasta_pipeline_spark.operators.sketches import (
        merge_heavy_hitters,
        partial_heavy_hitters,
    )

    rows = [("g", "a")] * 5 + [("g", None)] * 50 + [("g", "b")] * 3 + [("g", "c")]
    df = spark.createDataFrame(rows, "k string, item string")
    state = partial_heavy_hitters(df, "k", "item", m=2)
    got = {r["item"]: r["n"] for r in state.collect()}
    # NULL row is dropped mass (item "c"), never the 50 NULL items
    assert got == {"a": 5, "b": 3, None: 1}
    merged = merge_heavy_hitters(state, state, "k", m=2)
    mgot = {r["item"]: r["n"] for r in merged.collect()}
    assert mgot == {"a": 10, "b": 6, None: 2}


def test_cluster_rollup_accumulates_member_attributes(spark):
    from pasta_pipeline_spark.operators.text_dedup import cluster_rollup

    clusters = spark.createDataFrame(
        [(1, 1), (5, 1), (9, 1), (2, 2), (7, 7)],
        "doc_id long, cluster_id long",
    )
    docs = spark.createDataFrame(
        [(1, 100), (5, 50), (9, 25), (2, 10), (7, 3)],
        "doc_id long, n_chars int",
    )
    got = {
        r["cluster_id"]: r
        for r in cluster_rollup(clusters, docs, ["n_chars"]).collect()
    }
    assert got[1]["canonical_id"] == 1
    assert got[1]["n_members"] == 3
    assert got[1]["sum_n_chars"] == 175
    assert got[7]["n_members"] == 1 and got[7]["sum_n_chars"] == 3


def test_quantized_topk_tracks_exact_ranking(spark):
    """Int8 top-k approximates the exact cosine order: on
    well-separated vectors the top result matches, scores are exact
    integers, and zero vectors are excluded."""
    from pasta_pipeline_spark.operators.similarity import cosine_topk, quantized_topk

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 0.0]),  # zero vector: no scale, excluded
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([( [1.0, 0.0, 0.0, 0.0],)], "qv array<double>")
    got = quantized_topk(emb, q, k=3).collect()
    ids = [r["vec_id"] for r in got]
    # exact baseline over the non-zero vectors (cosine is undefined on
    # the zero vector; quantized_topk excludes it by its NULL scale)
    exact = [
        r["vec_id"]
        for r in cosine_topk(emb.filter("vec_id != 5"), q, k=3).collect()
    ]
    assert ids[0] == exact[0] == 1
    assert 5 not in ids
    # negative similarity ranks last among candidates
    all_rows = {r["vec_id"]: r["score_fp"] for r in quantized_topk(emb, q, k=4).collect()}
    assert all_rows[4] < 0 < all_rows[1]


def test_heavy_hitter_default_is_bounded_and_null_key_safe(spark):
    """The DEFAULT partition_cap ("auto" = 4*m) routes through the
    bounded Arrow pre-truncation; rows with NULL key columns bypass
    the pandas stage and are still counted exactly — the default is
    safe for NULL-keyed groups. partition_cap=None remains the exact
    opt-in and agrees on this data (cap ≥ distinct items → lossless)."""
    from pasta_pipeline_spark.operators.sketches import partial_heavy_hitters

    rows = (
        [("g", "a")] * 5 + [("g", "b")] * 3 + [("g", "c")]
        + [(None, "x")] * 4 + [(None, "y")] * 2
    )
    df = spark.createDataFrame(rows, "k string, item string")
    m = 2  # auto cap = 8 >= 3 distinct items per key → lossless
    for cap in ("auto", None):
        state = partial_heavy_hitters(df, "k", "item", m=m, partition_cap=cap)
        got = {(r["k"], r["item"]): r["n"] for r in state.collect()}
        assert got == {
            ("g", "a"): 5, ("g", "b"): 3, ("g", None): 1,
            (None, "x"): 4, (None, "y"): 2,
        }, cap


def test_cluster_merge_text_fused_single_shuffle(spark):
    """cluster_merge_text emits the survivor's text + merged metadata
    per cluster: best-score survivor with smallest-id tiebreak in both
    policy directions, and the fused plan has exactly ONE exchange
    after the join (no window + groupBy double shuffle)."""
    from pasta_pipeline_spark.operators.text_dedup import cluster_merge_text

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (7, 70)], "doc_id long, cluster_id long"
    )
    docs = spark.createDataFrame(
        [(1, 5, "short"), (2, 9, "the longest text"), (3, 9, "also nine"),
         (7, 4, "solo"), (99, 1, "not clustered")],
        "doc_id long, n_chars long, text string",
    )
    got = {
        r["cluster_id"]: r
        for r in cluster_merge_text(
            clusters, docs, score_col="n_chars", sum_cols=["n_chars"]
        ).collect()
    }
    # score tie between 2 and 3 → smallest id (2) survives
    assert got[10]["canonical_id"] == 2
    assert got[10]["canonical_text"] == "the longest text"
    assert got[10]["n_members"] == 3 and got[10]["sum_n_chars"] == 23
    assert got[70]["canonical_id"] == 7 and got[70]["canonical_text"] == "solo"
    assert 99 not in {r for c, r in got.items()}  # unclustered rows don't appear

    asc = {
        r["cluster_id"]: r
        for r in cluster_merge_text(
            clusters, docs, score_col="n_chars", sum_cols=[], ascending=True
        ).collect()
    }
    assert asc[10]["canonical_id"] == 1 and asc[10]["canonical_text"] == "short"

    plan = cluster_merge_text(
        clusters, docs, score_col="n_chars", sum_cols=["n_chars"]
    )._jdf.queryExecution().executedPlan().toString()
    # aggregation after the join contributes exactly one exchange on
    # the cluster id; no Window operator anywhere
    assert "Window" not in plan
    assert plan.count("hashpartitioning(cluster_id") <= 2  # partial+final share one exchange


def test_edit_distance_shifted_ultrashort_complete(spark):
    """Strings shorter than tau+1 chars (no indexable segments) are
    covered by the length-windowed supplement: identical 2-char
    titles, single chars, and the empty string all pair correctly —
    the ADVICE r4 recall gap."""
    import itertools

    from pasta_pipeline_spark.operators.text_dedup import (
        edit_distance_pairs,
        edit_distance_pairs_shifted,
    )

    texts = {1: "ab", 2: "ab", 3: "x", 4: "", 5: "abcd",
             6: "abcde fghij", 7: "abcdeXfghij"}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    truth = {
        (a, b): lev(texts[a], texts[b])
        for a, b in itertools.combinations(sorted(texts), 2)
        if lev(texts[a], texts[b]) <= 2
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in edit_distance_pairs_shifted(df, "doc_id", "text", tau=2).collect()
    }
    assert got == truth
    # the default API (max_dist<=2 delegates here) carries the same contract
    via_default = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in edit_distance_pairs(df, "doc_id", "text", max_dist=2).collect()
    }
    assert via_default == truth


def test_quantized_topk_huge_magnitude_not_dropped(spark):
    """A corpus vector with max |component| > 1.27e6 used to floor its
    fixed-point scale to 0 and vanish from ranking; the clamp keeps it
    scoring (reduced precision), while the all-zero vector stays
    excluded (NULL scale)."""
    from pasta_pipeline_spark.operators.similarity import quantized_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [5.0e6, 5.0e6]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    query = spark.createDataFrame([([1.0, 1.0],)], "qv array<double>")
    rows = {r["vec_id"]: r for r in quantized_topk(emb, query, k=10).collect()}
    assert 2 in rows            # huge-magnitude vector ranks
    assert rows[2]["scale_fp"] == 1  # clamped to the smallest step
    assert rows[2]["score_fp"] > rows[1]["score_fp"]  # and wins on alignment
    assert 3 not in rows        # all-zero vector still excluded


def test_source_divergence_properties(spark):
    """JS divergence: ~0 for identical distributions, ln2-bounded,
    monotone in distribution distance; zero-overlap pairs omitted
    (documented)."""
    import math

    from pasta_pipeline_spark.operators.divergence import (
        JS_SCALE,
        source_token_divergence,
    )

    docs = spark.createDataFrame(
        [
            ("s1", "alpha beta gamma alpha beta"),
            ("s2", "alpha beta gamma alpha beta"),   # identical to s1
            ("s3", "alpha beta delta epsilon zeta"), # partial overlap
            ("s4", "omega psi chi"),                 # disjoint from s1/s2
        ],
        "source string, text string",
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in source_token_divergence(docs).collect()
    }
    ln2_fp = int(math.log(2) * JS_SCALE)
    assert got[("s1", "s2")]["js_fp"] <= 2  # identical → ~0 (floor slack)
    assert 0 < got[("s1", "s3")]["js_fp"] < ln2_fp
    assert got[("s1", "s3")]["js_fp"] > got[("s1", "s2")]["js_fp"]
    # disjoint pairs are omitted (their JS is exactly ln 2)
    assert ("s1", "s4") not in got and ("s2", "s4") not in got
    assert got[("s3", "s4")] if ("s3", "s4") in got else True
    # symmetry of the construction: only a<b emitted, never both
    assert all(a < b for (a, b) in got)


def test_rendezvous_shard_stability_and_balance(spark):
    """Rendezvous invariants: assignment in range and balanced-ish;
    growing N->N+1 moves ONLY keys whose new argmax is the added shard
    (every mover lands on shard N), at roughly 1/(N+1) rate — the
    property mod-N sharding lacks."""
    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.sharding import rendezvous_shard

    n = 8
    df = spark.range(0, 2000).select(F.col("id"))
    pair = df.select(
        rendezvous_shard(F.col("id"), n).alias("s8"),
        rendezvous_shard(F.col("id"), n + 1).alias("s9"),
    )
    rows = pair.collect()
    assert all(0 <= r["s8"] < n and 0 <= r["s9"] < n + 1 for r in rows)
    movers = [r for r in rows if r["s8"] != r["s9"]]
    # minimal-disruption property: every mover goes TO the new shard
    assert movers and all(r["s9"] == n for r in movers)
    frac = len(movers) / len(rows)
    assert 0.05 < frac < 0.20  # ~1/9 = 0.111 expected
    # balance: no shard holds more than 2.5x the fair share
    from collections import Counter

    counts = Counter(r["s8"] for r in rows)
    assert max(counts.values()) < 2.5 * (2000 / n)


def test_js_between_matches_pairwise_and_handles_disjoint(spark):
    """js_between on two slices' count frames equals the pairwise
    source_token_divergence entry for the same two sources; fully
    disjoint vocabularies yield exactly ln2 (no omission)."""
    import math

    from pasta_pipeline_spark.operators.divergence import (
        JS_SCALE,
        js_between,
        source_token_divergence,
        token_distribution,
    )

    docs = spark.createDataFrame(
        [("s1", "alpha beta gamma alpha"), ("s2", "alpha beta delta")],
        "source string, text string",
    )
    pairwise = source_token_divergence(docs).collect()[0]
    a = token_distribution(docs.where("source = 's1'"))
    b = token_distribution(docs.where("source = 's2'"))
    direct = js_between(a, b).collect()[0]
    assert direct["js_fp"] == pairwise["js_fp"]
    assert direct["n_common_tokens"] == pairwise["n_common_tokens"]

    # disjoint vocabularies: exactly ln2 (the pairwise form omits)
    c = token_distribution(
        spark.createDataFrame([("x", "omega psi chi")], "source string, text string")
    )
    dj = js_between(a, c).collect()[0]
    assert dj["n_common_tokens"] == 0
    assert dj["js_fp"] == int(0.5 * math.log(2) * 2 * JS_SCALE) or \
        abs(dj["js_fp"] - math.log(2) * JS_SCALE) <= 1


def test_cluster_split_eliminates_leakage(spark):
    """The id-hash split leaks near-dup pairs across the boundary on
    the driver corpus; the cluster-keyed split produces ZERO crossing
    pairs by construction while holding the holdout rate near target."""
    from pasta_pipeline_spark.operators.splits import cluster_split, split_leakage
    from pasta_pipeline_spark.operators.text_dedup import (
        duplicate_clusters,
        jaccard_pairs,
    )
    from pasta_pipeline_spark.operators.util import release_cached_deps
    from pasta_pipeline_spark.schemas import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).persist()
    leaks = split_leakage(pairs, holdout_frac=0.1).count()
    assert leaks > 0  # the naive split DOES leak on this corpus

    clusters = duplicate_clusters(docs.select("doc_id"), pairs, id_col="doc_id")
    release_cached_deps(pairs)
    pairs.unpersist()
    assigned = cluster_split(clusters, holdout_frac=0.1)
    # zero near-dup pairs cross: both members of every pair share a
    # cluster, and split is a function of the cluster id
    a = assigned.selectExpr("doc_id AS doc_a", "split AS sa")
    b = assigned.selectExpr("doc_id AS doc_b", "split AS sb")
    crossing = (
        jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
        .join(a, "doc_a").join(b, "doc_b")
        .where("sa <> sb")
        .count()
    )
    assert crossing == 0
    # holdout rate stays near the 10% target
    total = assigned.count()
    held = assigned.where("split = 'holdout'").count()
    assert 0.04 < held / total < 0.2


def test_robots_parse_and_verdict(spark):
    """RFC 9309 semantics end-to-end: UA group reconstruction from raw
    robots.txt (windows over line numbers), exact-agent group
    preference over *, longest-match with allow winning ties, $
    anchors, empty Disallow dropped, rule-less hosts allowed."""
    from pasta_pipeline_spark.operators.robots import (
        parse_robots_txt,
        robots_pattern_regex,
        robots_verdict,
    )

    robots = (
        "# policy\n"
        "User-agent: goodbot\n"
        "Disallow: /private/\n"
        "Allow: /private/pub*\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /tmp/\n"
        "Disallow: /*.json$\n"
        "Disallow:\n"          # empty: matches nothing, dropped
        "Allow: /tmp/ok\n"
    )
    df = spark.createDataFrame(
        [("example.com", robots), ("open.net", "")], "host string, robots_txt string"
    )
    rules = parse_robots_txt(df)
    parsed = {(r["agent"], r["rule"], r["pattern"]) for r in rules.collect()}
    assert ("goodbot", "disallow", "/private/") in parsed
    assert ("*", "allow", "/tmp/ok") in parsed
    assert not any(p == "" for (_, _, p) in parsed)  # empty Disallow gone

    urls = spark.createDataFrame(
        [("example.com", "/private/x"), ("example.com", "/private/pub/ok"),
         ("example.com", "/tmp/anything"), ("example.com", "/tmp/ok/sub"),
         ("example.com", "/data.json"), ("example.com", "/data.json.txt"),
         ("nobots.org", "/x")],
        "host string, path string",
    )
    star = {(r["host"], r["path"]): r["allowed"]
            for r in robots_verdict(urls, rules, agent="*").collect()}
    assert star[("example.com", "/private/x")] is True      # goodbot group doesn't apply
    assert star[("example.com", "/tmp/anything")] is False
    assert star[("example.com", "/tmp/ok/sub")] is True     # longer allow wins
    assert star[("example.com", "/data.json")] is False     # $ anchor
    assert star[("example.com", "/data.json.txt")] is True  # anchor respected
    assert star[("nobots.org", "/x")] is True               # no rules → allow

    good = {(r["host"], r["path"]): r["allowed"]
            for r in robots_verdict(urls, rules, agent="goodbot").collect()}
    assert good[("example.com", "/private/x")] is False     # exact group applies
    assert good[("example.com", "/private/pub/ok")] is True # wildcard allow, longest
    assert good[("example.com", "/tmp/anything")] is True   # star group NOT mixed in

    # the Python regex twin agrees with the SQL conversion's behavior
    assert robots_pattern_regex("/*.json$") == "^/.*\\.json$"
    assert robots_pattern_regex("/a+b") == "^/a\\+b"

    # rule PATHS are case-sensitive (RFC 9309); directive names and
    # UA tokens are not
    cs = spark.createDataFrame(
        [("c.com", "USER-AGENT: GoodBot\nDISALLOW: /Private/\n")],
        "host string, robots_txt string",
    )
    cs_rules = parse_robots_txt(cs)
    assert {(r["agent"], r["pattern"]) for r in cs_rules.collect()} == {
        ("goodbot", "/Private/")
    }
    cs_urls = spark.createDataFrame(
        [("c.com", "/Private/x"), ("c.com", "/private/x")], "host string, path string"
    )
    v = {r["path"]: r["allowed"]
         for r in robots_verdict(cs_urls, cs_rules, agent="goodbot").collect()}
    assert v == {"/Private/x": False, "/private/x": True}


def test_allocate_budget_exact_apportionment(spark):
    """Largest-remainder invariants: SUM(budget) == total exactly,
    every key within 1 unit of its exact proportional share, and a
    known tie-break case distributes leftovers to the largest
    remainders with key-ascending ties."""
    from pasta_pipeline_spark.operators.sharding import allocate_budget

    w = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], "key string, weight long"
    )
    got = {r["key"]: r["budget"] for r in allocate_budget(w, total=10).collect()}
    # 10/3: quotas 3,3,3; remainders equal → leftover to 'a' (key asc)
    assert got == {"a": 4, "b": 3, "c": 3}
    assert sum(got.values()) == 10

    w2 = spark.createDataFrame(
        [("x", 7), ("y", 2), ("z", 1)], "key string, weight long"
    )
    got2 = {r["key"]: r["budget"] for r in allocate_budget(w2, total=97).collect()}
    assert sum(got2.values()) == 97
    for k, wt in {"x": 7, "y": 2, "z": 1}.items():
        exact = 97 * wt / 10
        assert abs(got2[k] - exact) < 1  # within one unit of proportionality


def test_parse_sitemap_entries_and_index(spark):
    """Sitemap parse: multiline entries, whitespace-padded locs,
    optional lastmod, loc-less entries dropped, and sitemap-INDEX
    files parse through the same path (recursion hook)."""
    from pasta_pipeline_spark.operators.sitemaps import parse_sitemap

    urlset = (
        '<?xml version="1.0"?>\n<urlset>\n'
        "  <url>\n    <loc>https://a.com/x</loc>\n"
        "    <lastmod>2026-08-01</lastmod>\n  </url>\n"
        "  <url><loc>  https://a.com/y  </loc></url>\n"
        "  <url><lastmod>2026-01-01</lastmod></url>\n"  # no loc: dropped
        "</urlset>"
    )
    index = (
        "<sitemapindex>"
        "<sitemap><loc>https://b.com/sitemap1.xml</loc>"
        "<lastmod>2026-02-02</lastmod></sitemap>"
        "</sitemapindex>"
    )
    df = spark.createDataFrame(
        [("a.com", urlset), ("b.com", index)], "host string, sitemap_xml string"
    )
    rows = {(r["host"], r["loc"]): r["lastmod"] for r in parse_sitemap(df).collect()}
    assert rows == {
        ("a.com", "https://a.com/x"): "2026-08-01",
        ("a.com", "https://a.com/y"): None,
        ("b.com", "https://b.com/sitemap1.xml"): "2026-02-02",
    }


def test_allocate_budget_zero_weights_degenerate(spark):
    """All-zero weights yield budget 0 everywhere (no mid-pipeline
    error), and SUM(budget) is 0, not total — the documented
    degenerate contract."""
    from pasta_pipeline_spark.operators.sharding import allocate_budget

    w = spark.createDataFrame([("a", 0), ("b", 0)], "key string, weight long")
    got = {r["key"]: r["budget"] for r in allocate_budget(w, total=10).collect()}
    assert got == {"a": 0, "b": 0}


def test_ingest_anomaly_detection(spark):
    """Spike and collapse both flag; a steady source doesn't; a new
    source (no history) and a zero-variance history yield NULL z
    instead of errors."""
    from pasta_pipeline_spark.operators.anomaly import ingest_anomaly

    hist = spark.createDataFrame(
        [("steady", b, 100 + (b % 3)) for b in range(6)]
        + [("spiky", b, 100 + (b % 3)) for b in range(6)]
        + [("dying", b, 100 + (b % 3)) for b in range(6)]
        + [("flat", b, 50) for b in range(6)],
        "source string, batch long, n_docs long",
    )
    cur = spark.createDataFrame(
        [("steady", 101), ("spiky", 500), ("dying", 2), ("flat", 55),
         ("brand_new", 10)],
        "source string, n_docs long",
    )
    rows = {r["source"]: r for r in ingest_anomaly(hist, cur).collect()}
    assert rows["steady"]["is_anomaly"] is False
    assert rows["spiky"]["is_anomaly"] is True and rows["spiky"]["z_fp"] > 0
    assert rows["dying"]["is_anomaly"] is True and rows["dying"]["z_fp"] < 0
    # zero-variance history: NULL z (dev still reports the shift)
    assert rows["flat"]["z_fp"] is None and rows["flat"]["dev"] == 6 * 55 - 300
    # no history at all: NULL z, NULL verdict, zeros for the sums
    assert rows["brand_new"]["z_fp"] is None
    assert rows["brand_new"]["is_anomaly"] is None
    assert rows["brand_new"]["n_hist"] == 0


def test_count_min_sketch_properties(spark):
    """CMS invariants: estimates NEVER underestimate true counts;
    with width >> distinct items they are exact; merging two
    half-sketches equals sketching the whole; NULL items ignored."""
    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
        merge_cms,
    )

    rows = [(f"item{i % 13}",) for i in range(400)] + [(None,)] * 7
    df = spark.createDataFrame(rows, "v string")
    exact = {
        r["v"]: r["n"]
        for r in df.where("v IS NOT NULL").groupBy("v").agg(F.count("*").alias("n")).collect()
    }
    probes = df.where("v IS NOT NULL").select(F.col("v").alias("item")).distinct()

    sk = count_min_sketch(df, "v", width=256, depth=4)
    est = {r["item"]: r["est"] for r in cms_estimate(sk, probes, width=256, depth=4).collect()}
    assert all(est[k] >= exact[k] for k in exact)       # one-sided error
    assert est == exact                                  # wide sketch → exact
    # total mass per row equals the non-null input size
    per_row = {r["row_idx"]: r["s"] for r in
               sk.groupBy("row_idx").agg(F.sum("cnt").alias("s")).collect()}
    assert set(per_row.values()) == {400}

    # merge == direct under any split
    h1 = spark.createDataFrame(rows[:200], "v string")
    h2 = spark.createDataFrame(rows[200:], "v string")
    merged = merge_cms(
        count_min_sketch(h1, "v", width=256, depth=4),
        count_min_sketch(h2, "v", width=256, depth=4),
    )
    m_est = {r["item"]: r["est"]
             for r in cms_estimate(merged, probes, width=256, depth=4).collect()}
    assert m_est == est

    # narrow sketch: collisions overestimate but never underestimate
    nk = count_min_sketch(df, "v", width=4, depth=2)
    n_est = {r["item"]: r["est"] for r in cms_estimate(nk, probes, width=4, depth=2).collect()}
    assert all(n_est[k] >= exact[k] for k in exact)


def test_hll_sketch_properties(spark):
    """HLL invariants: estimate within the ~1.04/sqrt(m) error band of
    the true cardinality; merge is idempotent AND equals the direct
    sketch of the union (even with overlapping halves); small
    cardinalities route through linear counting and land near-exact;
    NULL items ignored; state is bounded by m rows per key."""
    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_state,
        merge_hll,
    )

    n = 5000
    df = spark.createDataFrame(
        [(f"g{i % 2}", f"val-{i}") for i in range(n)] + [("g0", None)] * 9,
        "k string, v string",
    )
    state = hll_state(df, "v", keys=["k"], m=64)
    assert state.groupBy("k").count().agg(F.max("count")).collect()[0][0] <= 64
    est = {r["k"]: r["est"] for r in hll_estimate(state, keys=["k"], m=64).collect()}
    for k, true in (("g0", n // 2), ("g1", n // 2)):
        assert abs(est[k] - true) / true < 0.40, (k, est[k], true)

    # merge of OVERLAPPING halves == direct sketch of the union
    h1 = df.where("v IS NULL OR substr(v, 5) % 3 != 2")
    h2 = df.where("v IS NOT NULL AND substr(v, 5) % 3 != 0")
    merged = merge_hll(
        hll_state(h1, "v", keys=["k"], m=64),
        hll_state(h2, "v", keys=["k"], m=64),
        keys=["k"],
    )
    direct = {tuple(r) for r in state.collect()}
    assert {tuple(r) for r in merged.collect()} == direct
    # idempotence: merging a state with itself is a no-op
    self_merged = merge_hll(state, state, keys=["k"])
    assert {tuple(r) for r in self_merged.collect()} == direct

    # small range → linear counting, near-exact at tiny cardinality
    small = spark.createDataFrame([(f"x{i}",) for i in range(8)], "v string")
    s_est = hll_estimate(hll_state(small, "v", m=64), m=64).collect()[0]
    assert abs(s_est["est"] - 8) <= 2
    assert s_est["filled_buckets"] <= 8


def test_mixture_allocation_water_filling(spark):
    """Water-filling invariants: saturated domains get exactly their
    availability, nothing exceeds availability, the total is exact,
    unsaturated allocations stay proportional within 1 unit, and the
    recursive redistribution matches the closed form (a hand-computed
    cascade where one domain's cap overflows into the rest)."""
    from pasta_pipeline_spark.operators.mixture import mixture_allocation

    # weights 5/3/2, avail caps: tiny(a) saturates, then b, c absorbs
    doms = spark.createDataFrame(
        [("a", 5, 100), ("b", 3, 600), ("c", 2, 10_000), ("z", 0, 50)],
        "key string, weight long, avail long",
    )
    got = {r["key"]: r for r in mixture_allocation(doms, 2000, "key", "weight", "avail").collect()}
    # hand cascade: a wants 1000 has 100 -> saturated; remaining 1900
    # over w 3:2 -> b wants 1140 has 600 -> saturated; c gets 1300
    assert (got["a"]["saturated"], got["a"]["alloc"]) == (True, 100)
    assert (got["b"]["saturated"], got["b"]["alloc"]) == (True, 600)
    assert (got["c"]["saturated"], got["c"]["alloc"]) == (False, 1300)
    assert (got["z"]["saturated"], got["z"]["alloc"]) == (False, 0)
    assert sum(r["alloc"] for r in got.values()) == 2000

    # budget exceeds availability: everything saturates at its cap
    got2 = {r["key"]: r["alloc"] for r in mixture_allocation(doms, 10**9).collect()}
    assert got2 == {"a": 100, "b": 600, "c": 10_000, "z": 0}

    # no caps bind: pure Hamilton apportionment, exact total
    loose = spark.createDataFrame(
        [(f"d{i}", 1 + i % 3, 10**9) for i in range(7)],
        "key string, weight long, avail long",
    )
    rows = mixture_allocation(loose, 1001).collect()
    assert sum(r["alloc"] for r in rows) == 1001
    W = sum(r["weight"] for r in rows)
    for r in rows:
        assert abs(r["alloc"] - 1001 * r["weight"] / W) <= 1
        assert not r["saturated"]

    # total = 0 allocates nothing but still returns every domain
    assert all(r["alloc"] == 0 for r in mixture_allocation(doms, 0).collect())


def test_politeness_schedule_contract(spark):
    """Politeness invariants: never more than per_host_concurrency
    fetches inside any delay window on one host, priority order
    respected within a host, hosts scheduled independently, NULL
    crawl-delay falls back to the default."""
    from pasta_pipeline_spark.operators.politeness import politeness_schedule

    rows = [
        ("a.com", f"https://a.com/{i}", 100 - i, 5 if i % 2 else None)
        for i in range(6)
    ] + [("b.org", f"https://b.org/{i}", 0, 2) for i in range(4)]
    # NB delay is a HOST property; give a.com a mixed column to test
    # the per-row fallback (NULL -> default 5)
    df = spark.createDataFrame(rows, "host string, url string, priority long, delay_s long")
    got = politeness_schedule(
        df, delay_col="delay_s", default_delay_s=5,
        per_host_concurrency=2, priority_col="priority",
    ).collect()

    a = sorted((r for r in got if r["host"] == "a.com"), key=lambda r: r["host_rank"])
    # priority desc == url asc here; ranks 1..6, waves 0,0,1,1,2,2
    assert [r["url"][-1] for r in a] == ["0", "1", "2", "3", "4", "5"]
    assert [r["wave"] for r in a] == [0, 0, 1, 1, 2, 2]
    assert all(r["fetch_at_s"] == r["wave"] * 5 for r in a)
    # no more than 2 concurrent per wave per host
    from collections import Counter

    per_wave = Counter((r["host"], r["wave"]) for r in got)
    assert max(per_wave.values()) <= 2
    b = sorted((r for r in got if r["host"] == "b.org"), key=lambda r: r["host_rank"])
    assert [r["fetch_at_s"] for r in b] == [0, 0, 2, 2]


def test_confusable_stats_classification(spark):
    """Skeleton semantics: a Latin word with Cyrillic lookalikes is
    spoofable; genuine bilingual mixing is mixed-but-not-spoofable;
    pure single-script text and empty text are clean; share is in
    basis points of whitespace tokens."""
    from pasta_pipeline_spark.operators.text_analysis import confusable_stats

    rows = [
        (1, "visit pаypal for your аccоunt"),   # 2 spoofable (Cyr а/о)
        (2, "привет мир it works"),              # bilingual, unmixed tokens
        (3, "словоmix ok"),                      # mixed, not confusable-only
        (4, "plain latin only"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in df.select("doc_id", *confusable_stats("text")).collect()}
    assert (got[1]["n_mixed_script"], got[1]["n_spoofable"]) == (2, 2)
    assert got[1]["spoof_bp"] == 2 * 10000 // 5
    assert (got[2]["n_mixed_script"], got[2]["n_spoofable"]) == (0, 0)
    assert (got[3]["n_mixed_script"], got[3]["n_spoofable"]) == (1, 0)
    assert got[4]["n_spoofable"] == 0 and got[5]["n_ws_tokens"] == 0


def test_bloom_filter_properties(spark):
    """Bloom invariants: zero false negatives (every built item
    probes TRUE), false positives exist at a deliberately tiny width
    but vanish at a generous one, OR-merge == build-over-union and is
    idempotent, NULL items probe FALSE, and state never exceeds
    n_words rows."""
    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
        merge_bloom,
    )

    members = spark.createDataFrame([(f"in-{i}",) for i in range(200)], "v string")
    others = spark.createDataFrame(
        [(f"out-{i}",) for i in range(500)] + [(None,)], "v string"
    )
    bl = bloom_build(members, "v", n_words=256, k=4)
    assert bl.count() <= 256

    hits = bloom_probe(members, "v", bl, n_words=256, k=4).collect()
    assert all(r["maybe_member"] for r in hits)          # no false negatives
    out_hits = bloom_probe(others, "v", bl, n_words=256, k=4).collect()
    assert not any(r["maybe_member"] for r in out_hits if r["v"] is None)
    fp_wide = sum(r["maybe_member"] for r in out_hits if r["v"] is not None)
    assert fp_wide <= 5                                   # ~0 at this width

    # tiny filter: FPs appear (the approximation is real), FNs never
    tiny = bloom_build(members, "v", n_words=4, k=2)
    tiny_in = bloom_probe(members, "v", tiny, n_words=4, k=2).collect()
    assert all(r["maybe_member"] for r in tiny_in)
    tiny_out = bloom_probe(others.where("v IS NOT NULL"), "v", tiny, n_words=4, k=2)
    assert tiny_out.where("maybe_member").count() > 0

    # merge == direct, and self-merge is a no-op
    h1 = spark.createDataFrame([(f"in-{i}",) for i in range(100)], "v string")
    h2 = spark.createDataFrame([(f"in-{i}",) for i in range(100, 200)], "v string")
    merged = merge_bloom(
        bloom_build(h1, "v", n_words=256, k=4), bloom_build(h2, "v", n_words=256, k=4)
    )
    direct = {(r["word_idx"], r["word"]) for r in bl.collect()}
    assert {(r["word_idx"], r["word"]) for r in merged.collect()} == direct
    assert {(r["word_idx"], r["word"]) for r in merge_bloom(bl, bl).collect()} == direct


def test_source_concentration_extremes(spark):
    """Concentration measures against hand math: equal shares give
    Gini 0 and HHI n*(10000/n)^2; a 97% monopoly gives Gini > 0.7,
    HHI near 10000^2, and entropy within a floor-term of the exact
    Shannon value; weighted mode follows the weight column."""
    import math

    from pasta_pipeline_spark.operators.stats import source_concentration

    eq = spark.createDataFrame([(f"s{i % 4}",) for i in range(400)], "source string")
    r = source_concentration(eq).collect()[0]
    assert r["gini_bp"] == 0 and r["hhi_bp2"] == 4 * 2500 ** 2
    assert abs(r["entropy_fp"] / 1e9 - math.log(4)) < 1e-6

    mono = spark.createDataFrame(
        [("big",)] * 97 + [("a",), ("b",), ("c",)], "source string"
    )
    m = source_concentration(mono).collect()[0]
    assert m["gini_bp"] > 7000 and m["hhi_bp2"] > 9000 ** 2
    exp = -(0.97 * math.log(0.97) + 3 * 0.01 * math.log(0.01))
    assert abs(m["entropy_fp"] / 1e9 - exp) < 1e-6

    wtd = spark.createDataFrame(
        [("a", 90), ("b", 5), ("c", 5)], "source string, n_tokens long"
    )
    w = source_concentration(wtd, weight_col="n_tokens").collect()[0]
    assert w["total_w"] == 100 and w["hhi_bp2"] == 9000**2 + 2 * 500**2


def test_calibration_report_and_ece(spark):
    """Calibration contracts: a near-calibrated synthetic yields a
    small ECE; injecting systematic overconfidence inflates it; bins
    partition all rows; NULL scores/labels are excluded."""
    from pasta_pipeline_spark.operators.quality_checks import (
        calibration_ece,
        calibration_report,
    )

    rows = []
    for i in range(8000):
        s = (i * 7919) % 10000
        y = 1 if ((i * 104729) % 10000) < s else 0
        rows.append((s, y))
    rows.append((None, 1))
    rows.append((5000, None))
    df = spark.createDataFrame(rows, "score_bp long, label long")
    rep = calibration_report(df, "score_bp", "label")
    good = calibration_ece(rep).collect()[0]
    assert good["n_total"] == 8000
    assert good["ece_bp"] < 300

    # overconfident variant: same scores, labels drawn at s - 3000
    bad_rows = [
        ((i * 7919) % 10000,
         1 if ((i * 104729) % 10000) < max((i * 7919) % 10000 - 3000, 0) else 0)
        for i in range(8000)
    ]
    bdf = spark.createDataFrame(bad_rows, "score_bp long, label long")
    bad = calibration_ece(calibration_report(bdf, "score_bp", "label")).collect()[0]
    assert bad["ece_bp"] > 2000 > good["ece_bp"]
    assert rep.agg({"n": "sum"}).collect()[0][0] == 8000


def test_auc_report_extremes(spark):
    """AUC via rank-sum: perfect separation 10000, reversed 0,
    all-tied 5000 exactly, single-class NULL; tie-averaging is exact
    (a half-overlap fixture lands at the hand-computed value)."""
    from pasta_pipeline_spark.operators.quality_checks import auc_report

    perf = spark.createDataFrame(
        [(i, 1 if i >= 50 else 0) for i in range(100)], "s long, y long"
    )
    assert auc_report(perf, "s", "y").collect()[0]["auc_bp"] == 10000
    rev = spark.createDataFrame(
        [(i, 0 if i >= 50 else 1) for i in range(100)], "s long, y long"
    )
    assert auc_report(rev, "s", "y").collect()[0]["auc_bp"] == 0
    tie = spark.createDataFrame([(7, i % 2) for i in range(100)], "s long, y long")
    assert auc_report(tie, "s", "y").collect()[0]["auc_bp"] == 5000
    one = spark.createDataFrame([(i, 1) for i in range(10)], "s long, y long")
    assert auc_report(one, "s", "y").collect()[0]["auc_bp"] is None

    # hand case: scores {0:(neg), 1:(one pos one neg), 2:(pos)}
    # pairs: (pos=1 vs neg=0): win; (pos=1 vs neg=1): tie 0.5;
    # (pos=2 vs both negs): 2 wins -> U = 3.5 of 4 -> 8750
    hand = spark.createDataFrame(
        [(0, 0), (1, 1), (1, 0), (2, 1)], "s long, y long"
    )
    assert auc_report(hand, "s", "y").collect()[0]["auc_bp"] == 8750


def test_lexical_diversity_mattr(spark):
    """MATTR semantics: all-distinct text scores 10000 at any length,
    a single repeated token scores 1/window, short docs fall back to
    raw TTR, and MATTR is length-stable where raw TTR is not (same
    repeating pattern at 2x length keeps MATTR, halves-ish TTR)."""
    from pasta_pipeline_spark.operators.text_analysis import lexical_diversity

    pat = "a b c d e"  # 5-token cycle
    rows = [
        (1, " ".join(f"w{i}" for i in range(60))),
        (2, " ".join("spam" for _ in range(60))),
        (3, "a b c"),
        (4, " ".join([pat] * 10)),    # 50 tokens of a 5-cycle
        (5, " ".join([pat] * 20)),    # 100 tokens, same local structure
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in lexical_diversity(df, window=25).collect()}
    assert out[1]["mattr_bp"] == 10000
    assert out[2]["mattr_bp"] == 10000 // 25
    assert out[3]["mattr_bp"] == out[3]["ttr_bp"] == 10000
    # length invariance of MATTR vs length sensitivity of TTR
    assert out[4]["mattr_bp"] == out[5]["mattr_bp"]
    assert out[5]["ttr_bp"] < out[4]["ttr_bp"]


def test_compression_ratio_differential(spark):
    """Arrow-batched DEFLATE compressibility equals direct
    zlib.compress byte-for-byte in counts; repetitive text
    compresses far below varied text; NULL and empty texts degrade
    to NULL ratios."""
    import zlib

    from pasta_pipeline_spark.operators.text_analysis import compression_ratio

    texts = [
        (1, "spam " * 400),
        (2, " ".join(f"w{i * 7919 % 1000}x{i}" for i in range(400))),
        (3, ""),
        (4, None),
        (5, "short"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    for did, txt in texts:
        if txt is None:
            assert got[did]["compression_bp"] is None
            continue
        raw = txt.encode("utf-8")
        if not raw:
            assert got[did]["compression_bp"] is None
            continue
        comp = zlib.compress(raw, 6)
        assert got[did]["n_bytes"] == len(raw)
        assert got[did]["n_compressed"] == len(comp)
        assert got[did]["compression_bp"] == len(comp) * 10000 // len(raw)
    assert got[1]["compression_bp"] < 500 < 2000 < got[2]["compression_bp"]


def test_corpus_datacard_values(spark):
    """Data-card facts against hand counts: volumes, language and
    source counts, top-source share, duplication mass, and the
    concentration block all reconcile on a constructed corpus."""
    from pasta_pipeline_spark.operators.stats import corpus_datacard

    rows = [(i, f"text {i % 7}" if i % 3 else "same text",
             f"s{i % 4}", "en" if i % 2 else "ru") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string, lang string")
    card = {r["metric"]: r["value"] for r in corpus_datacard(df).collect()}
    assert card["n_docs"] == 60 and card["n_sources"] == 4 and card["n_langs"] == 2
    assert card["top_source_bp"] == 2500        # perfectly balanced sources
    assert card["dup_texts"] == 8               # 7 cycle texts + 'same text'
    assert card["dup_docs"] == 60               # every doc's text repeats
    assert card["gini_bp"] == 0 and card["hhi_bp2"] == 4 * 2500 ** 2
    assert card["total_chars"] == sum(len(t) for _, t, _, _ in rows)


def test_rank_normalize_groups_and_nulls(spark):
    """Rank normalization: per-group percentile ranks with RANK tie
    semantics, single-row groups at 0, NULL scores preserved as rows
    with NULL output (the window NULL-ordering pitfall), and the
    cross-source comparability property — identical within-source
    positions get identical normalized ranks regardless of the
    sources' absolute scales."""
    from pasta_pipeline_spark.operators.normalize import rank_normalize

    rows = [("a", 10), ("a", 20), ("a", 30), ("a", 30), ("a", 50),
            ("b", 1000), ("b", 2000), ("c", 7), ("a", None)]
    df = spark.createDataFrame(rows, "src string, score long")
    out = sorted(
        ((r["src"], r["score"], r["rank_bp"])
         for r in rank_normalize(df, "score", "src").collect()),
        key=lambda x: (x[0], x[1] if x[1] is not None else -1),
    )
    assert out == [
        ("a", None, None), ("a", 10, 0), ("a", 20, 2500), ("a", 30, 5000),
        ("a", 30, 5000), ("a", 50, 10000),
        ("b", 1000, 0), ("b", 2000, 10000), ("c", 7, 0),
    ]


def test_schema_drift_report(spark):
    """Drift kinds: missing, added, type_changed, and the dangerous
    nullability direction only; agreement yields an empty report;
    works from DataFrames or raw StructTypes."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from pasta_pipeline_spark.operators.expectations import schema_drift

    expected = StructType([
        StructField("id", LongType(), False),
        StructField("text", StringType(), True),
        StructField("source", StringType(), True),
    ])
    ok = spark.createDataFrame([], expected)
    assert schema_drift(expected, ok) == []

    drifted = StructType([
        StructField("id", LongType(), True),          # nullability loosened
        StructField("text", LongType(), True),        # retyped
        StructField("extra", StringType(), True),     # new column
    ])                                                 # source dropped
    got = {(d["column"], d["kind"]) for d in schema_drift(expected, drifted)}
    assert got == {
        ("id", "nullability_tightened"),
        ("text", "type_changed"),
        ("source", "missing"),
        ("extra", "added"),
    }
    # expected side MAY be stricter than actual without flagging the
    # reverse direction
    looser_exp = StructType([StructField("id", LongType(), True)])
    stricter_act = StructType([StructField("id", LongType(), False)])
    assert schema_drift(looser_exp, stricter_act) == []


def test_brier_score_extremes(spark):
    """Proper-scoring-rule anchors: perfect 0, coin-flip 2.5e7,
    perfectly wrong 1e8; NULLs excluded from n."""
    from pasta_pipeline_spark.operators.quality_checks import brier_score

    perfect = spark.createDataFrame([(10000, 1), (0, 0)] * 5, "s long, y long")
    assert brier_score(perfect, "s", "y").collect()[0]["brier_e8"] == 0
    mid = spark.createDataFrame([(5000, 1), (5000, 0)] * 5, "s long, y long")
    assert brier_score(mid, "s", "y").collect()[0]["brier_e8"] == 25_000_000
    wrong = spark.createDataFrame([(0, 1), (10000, 0)], "s long, y long")
    r = brier_score(wrong, "s", "y").collect()[0]
    assert r["brier_e8"] == 100_000_000 and r["n"] == 2
    with_null = spark.createDataFrame([(10000, 1), (None, 0), (5000, None)], "s long, y long")
    assert brier_score(with_null, "s", "y").collect()[0]["n"] == 1


def test_schedule_compliance_audit(spark):
    """Compliance semantics: gaps below the required delay count as
    violations with their deficit tracked; per-row delay overrides
    the global one; single-fetch hosts report zero gaps; duplicate
    timestamps give a deterministic zero gap."""
    from pasta_pipeline_spark.operators.politeness import schedule_compliance

    rows = [("a", 100, 3), ("a", 103, 3), ("a", 104, 3), ("a", 110, 3),
            ("b", 50, 10), ("b", 55, 10),      # per-row delay 10 -> violation
            ("c", 7, 1), ("d", 20, 2), ("d", 20, 2)]
    df = spark.createDataFrame(rows, "host string, fetched_at_s long, req long")
    out = {r["host"]: r for r in
           schedule_compliance(df, required_delay_s=3, delay_col="req").collect()}
    assert (out["a"]["n_violations"], out["a"]["worst_deficit_s"]) == (1, 2)
    assert (out["b"]["n_violations"], out["b"]["worst_deficit_s"]) == (1, 5)
    assert out["c"]["n_gaps"] == 0 and out["c"]["n_violations"] == 0
    assert (out["d"]["min_gap_s"], out["d"]["n_violations"]) == (0, 1)
