"""Physical-plan property tests (SCALING.md regression guard).

These assert the *plan shapes* the 100 TB posture depends on —
predicate pushdown into the parquet scan, column pruning, broadcast
dimension joins, TakeOrderedAndProject for top-k, a single shuffle for
the merge operator — so a refactor that silently degrades a plan
(e.g., a filter that stops pushing, a join that falls back to
sort-merge-with-shuffle on a dimension) fails CI, not production.
"""

from __future__ import annotations

import pytest

from pasta_pipeline_spark.queries.catalog import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].spark_fn(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: exactly the 7 needed columns reach the scan
    readschema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_tax",
                "l_returnflag", "l_linestatus", "l_shipdate"):
        assert col in readschema
    assert "l_orderkey" not in readschema  # unneeded column pruned


def test_work_selection_is_broadcast_anti_topk(spark):
    plan = _plan(spark, "work_selection")
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    # both the status filter and the returnflag filter reach parquet
    assert "EqualTo(l_returnflag,R)" in plan
    assert "Not(EqualTo(o_orderstatus,F))" in plan


def test_dimension_joins_broadcast(spark):
    plan = _plan(spark, "join_agg_nation_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all sides under threshold here


def test_merge_upsert_single_shuffle(spark):
    plan = _plan(spark, "merge_upsert")
    # union + window-dedup: exactly one exchange in the operator list
    import re

    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.MULTILINE))
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}"
    # bonus property: the rn=1 filter is pushed below the shuffle as a
    # per-partition group limit (WindowGroupLimit), shrinking shuffle IO
    assert "WindowGroupLimit" in plan


def test_top_orders_no_global_sort(spark):
    plan = _plan(spark, "top_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_minhash_verification_no_unconditional_broadcast(spark):
    """The LSH candidate set grows with corpus size on boilerplate-heavy
    data, so the verification joins must NOT carry a broadcast hint —
    AQE may still pick broadcast at runtime when the set is actually
    small, but a hard F.broadcast(cand) is a driver-OOM at 100 TB."""
    df = REGISTRY["minhash_lsh_pairs"].spark_fn(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, "unconditional broadcast hint in minhash plan"


def test_minhash_is_one_python_kernel_not_min_aggregates(spark):
    """Signatures come from ONE Python map node — computed once and
    cached, read by both sides of the band self-join — never from the
    k-``min`` aggregate it replaced, so neither a second kernel pass
    nor the 64-column path can creep back."""
    import re

    plan = _plan(spark, "minhash_lsh_pairs")
    blocks = plan.split("\n\n")
    maps = [b for b in blocks if re.match(r"\(\d+\) MapInPandas\b", b)]
    udfs = {m for b in maps for m in re.findall(r"Arguments: (\w+\(.*?\)#\d+)", b)}
    assert len(maps) == 1, f"{len(maps)} Python map nodes in the minhash plan"
    assert all(u.startswith("minhash_kernel(") for u in udfs), udfs
    aggs = [b for b in blocks if re.match(r"\(\d+\) (Object)?HashAggregate\b", b)]
    assert aggs
    assert all(b.count("min(") < 64 for b in aggs), "64-min signature aggregate is back"


def test_training_corpus_scans_its_corpus_once(spark):
    """The training-corpus plan evaluates its per-document frame once:
    the gates are one row-local projection and the two branches of the
    temperature mix read one cached frame, so ``documents`` is scanned
    once for the corpus and once for the benchmark (21 scans when each
    operator and branch re-read the corpus)."""
    import re

    plan = _plan(spark, "training_corpus")
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 2, f"{len(scans)} parquet scans"
    assert "MapInPandas" not in plan


def test_semantic_dedup_auto_dispatch_is_one_action(spark):
    """Below the anchor the front door takes its dispatch count and its
    LSH calibration count from one aggregate row and passes the
    resolved config down: building the frame submits exactly the jobs
    of one aggregate action (under AQE a map-stage job and a result
    job), where a dispatch count and a calibration count (which also
    materialised the gate's cached scan) ran six."""
    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.similarity import semantic_dedup_auto
    from pasta_pipeline_spark.operators.util import release_cached_deps
    from pasta_pipeline_spark.queries.catalog._core import _t

    sc = spark.sparkContext

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    emb = _t(spark, SF_DIR, "embeddings")
    _, one_action = jobs_of("dispatch-ref", lambda: emb.agg(F.count(F.lit(1))).first())
    df, jobs = jobs_of(
        "dispatch-auto", lambda: semantic_dedup_auto(emb, threshold=0.4, dim=64)
    )
    release_cached_deps(df)
    assert len(jobs) == len(one_action), (jobs, one_action)


def test_cosine_dup_pairs_is_bucket_gated(spark):
    """The registered near-dup query must be the LSH-bucketed form:
    the pair join carries the bucket-equality key (a hash-partitionable
    equi-join), not a pure inequality theta-join (O(n²) cartesian)."""
    plan = _plan(spark, "cosine_dup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_fires_on_shuffle_semi_join(spark):
    """Runtime bloom-filter join pruning (SCALING.md): Spark injects a
    bloom filter built from the small filtered side into the big side's
    scan for shuffle joins. Default-on, but gated by a 10 GB
    application-side scan threshold — invisible at local scale, active
    exactly where it matters at 100 TB. This test lowers the gates to
    prove the semi-join work-selection shape is inject-eligible (no
    disqualifying plan pattern), then restores them."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        sel = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
        j = orders.join(sel, orders.o_orderkey == sel.l_orderkey, "left_semi")
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in plan, "bloom filter not injected on semi-join"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_shipping_priority_broadcasts_and_pushes_filters(spark):
    plan = _plan(spark, "shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # dim filter at the scan
    assert "l_shipdate" in [l for l in plan.splitlines() if "PushedFilters" in l][0] or any(
        "GreaterThan(l_shipdate" in l for l in plan.splitlines()
    )


def test_ivf_cells_as_partition_column_prune_scans(spark, tmp_path):
    """The IVF scale story (SCALING.md): cell_id becomes a partition
    column, so an n_probe query physically reads only its probed
    cells' files — partition pruning does the ANN candidate cut at the
    storage layer. This writes the assigned corpus partitioned by
    cell_id and asserts (a) the filter shows up as a PartitionFilter,
    (b) only the probed cells' files are scanned."""
    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.similarity import (
        assign_ivf_cells,
        train_ivf_centroids,
    )
    from pasta_pipeline_spark.schemas import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = train_ivf_centroids(emb, n_cells=8, iterations=1)
    assigned = assign_ivf_cells(emb, cents)

    out = str(tmp_path / "ivf_parts")
    assigned.write.partitionBy("cell_id").mode("overwrite").parquet(out)

    reread = spark.read.parquet(out)
    n_cells_on_disk = reread.select("cell_id").distinct().count()
    probed = reread.filter(F.col("cell_id").isin(0, 1))

    plan = probed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "cell_id" in plan

    # physical proof: rows can only come from files execution actually
    # read (inputFiles() lists the pre-pruning relation, so it can't
    # prove anything) — every touched file lives under a probed cell dir
    touched = {
        r[0].rsplit("/", 2)[1]
        for r in probed.select(F.input_file_name()).distinct().collect()
    }
    assert touched == {"cell_id=0", "cell_id=1"}
    assert n_cells_on_disk > 2


def test_tpch_shapes_cartesian_free_and_broadcast(spark):
    """Round-2 TPC-H shapes: every dim join is broadcast, no plan
    contains a cartesian product or broadcast nested-loop join, and
    the date filter of volume_shipping reaches the lineitem scan."""
    for name in (
        "volume_shipping",
        "market_share",
        "promo_revenue_share",
        "large_orders",
        "disjunctive_part_revenue",
        "waiting_suppliers",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
    plan = _plan(spark, "volume_shipping")
    assert "GreaterThanOrEqual(l_shipdate" in plan  # pushed to parquet


def test_waiting_suppliers_reuses_key_partitioning(spark):
    """The per-(order,supplier) and per-order aggregates must not add a
    third shuffle of the fact table: grouping by (l_orderkey, l_suppkey)
    then by l_orderkey reuses the key-prefix partitioning."""
    import re

    plan = _plan(spark, "waiting_suppliers")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.MULTILINE))
    # join shuffle + (order,supp) agg + order agg rollup side = bounded
    assert n_exchanges <= 4, f"plan has {n_exchanges} exchanges"


# Fact-heavy queries whose whole point is to never funnel the corpus
# through one task: a SinglePartition exchange appearing in any of
# these plans is a scale regression (per-query allowances like 1-row
# scalar handoffs don't apply here — these plans have none today).
_NO_SINGLE_PARTITION = [
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "containment_pairs",
    "dedup_exact",
    "sequential_ids",
    "byte_budget_sample",
    "global_budget_sample",
    "keep_latest_dedup",
    "salted_group_agg",
    "bloom_prejoin_revenue",
    "gopher_quality_rules",
    "text_normalization",
    "media_chunk_manifest",
    "quality_top_quartile",
    "cluster_survivors",
    "trigram_search",
]


def test_fact_heavy_queries_have_no_single_partition_exchange(spark):
    bad = {}
    for name in _NO_SINGLE_PARTITION:
        plan = _plan(spark, name)
        n = plan.count("SinglePartition")
        if n:
            bad[name] = n
    assert not bad, f"SinglePartition exchange crept into: {bad}"
