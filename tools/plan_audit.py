"""Physical-plan audit across the whole query catalog.

For every registered query, compile the physical plan at a given sf
dir and report the scale-relevant shape: number of exchanges
(shuffles), broadcast joins/exchanges, sort-merge joins, nested-loop/
cartesian joins (almost always a bug at 100 TB), and pushdown
counts. (Codegen spans are invisible in AQE's pre-execution formatted
plan, so they are deliberately not reported.) One JSON line per query + a summary; exits non-zero
if any plan contains a cartesian product or broadcast nested-loop
join, so this doubles as a CI sweep.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit_plan(plan: str) -> dict:
    ops = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, flags=re.MULTILINE)
    return {
        "exchanges": sum(1 for o in ops if o == "Exchange"),
        "broadcast_joins": sum(1 for o in ops if o == "BroadcastHashJoin"),
        "smj": sum(1 for o in ops if o == "SortMergeJoin"),
        "bnlj": sum(1 for o in ops if o == "BroadcastNestedLoopJoin"),
        "cartesian": sum(1 for o in ops if o == "CartesianProduct"),
        "pushed_filters": plan.count("PushedFilters: ["),
        # reported, not fatal: an Exchange SinglePartition is the
        # whole-input-through-one-task shape (empty-OVER windows, global
        # sorts). Benign when the input is already tiny (a dimension
        # aggregate, a LIMITed frame); a scale-killer when it is the
        # fact table — eyeball nonzero counts against the query's shape.
        "single_partition": plan.count("SinglePartition"),
    }


#: Queries whose BroadcastNestedLoopJoin is the benign scalar-handoff
#: pattern: `crossJoin(broadcast(<single-row aggregate>))` — a frozen
#: run_ts watermark, a corpus-total N, a funnel level count, or a
#: query-vector matrix. A 1-row broadcast build side costs O(1) per
#: probe row at any scale; it is NOT the quadratic nested loop the
#: audit exists to catch. Every entry here must be that shape
#: (`BroadcastNestedLoopJoin Cross BuildRight` over an Aggregate with
#: no grouping keys); anything else stays flagged.
SCALAR_CROSSJOIN_OK = {
    "basket_lift": "1-row distinct-basket total broadcast",
    "attribution_last_touch": "1-row revenue total for the share ratio",
    "rfm_segments": "1-row reference timestamp (max(ts)) broadcast",
    "trending_decay": "1-row reference timestamp (max(ts)) broadcast",
    "incremental_scan": "frozen run_ts watermark (1-row max(ts))",
    "retention_filter": "frozen run_ts watermark (1-row max(ts))",
    "cosine_topk": "broadcast 1-row query vector",
    "quantized_topk": "broadcast 1-row quantized query vector",
    "knn_join": "broadcast Q-row query matrix (Q small by contract)",
    "ann_ivf_topk": "broadcast 1-row query vector",
    "funnel_steps": "1-row per-level counts",
    "temperature_sample": "1-row sum of per-source sqrt quotas",
    "tfidf_top_terms": "1-row corpus total N",
    "training_corpus": "1-row totals inside temperature mixing + the "
    "1-row benchmark-shingle set of the decontamination gate",
    "contamination_check": "1-row benchmark-shingle set (collect_set) "
    "probed per document",
    "constraint_checks": "1-row expected-total scalar for the rule report",
    "dormant_rich_customers": "1-row Q22 balance-threshold scalar subquery",
    "semantic_dedup_clustered": "broadcast k-row centroid matrix (k = "
    "auto_ivf_cells = sqrt(n), bounded metadata like knn_join's query "
    "matrix) for the nearest-cell assignment scans",
    "cluster_gate_recall": "broadcast k-row centroid matrix for the "
    "audited gate's assignment scans + 1-row count scalars for the "
    "recall readout",
    "ivf_cell_profile": "broadcast k-row centroid matrix (bounded "
    "metadata) for the nearest-cell assignment scans",
    "semantic_dedup_diverse": "broadcast k-row centroid matrix (bounded "
    "metadata) for the nearest-cell assignment scans",
    "ivf_threshold_sweep": "broadcast k-row centroid matrix (bounded "
    "metadata) for the nearest-cell assignment scans",
    "semantic_dedup_2l": "broadcast centroid metadata at BOTH levels "
    "(k-row fine matrix + sqrt(k)-row coarse matrix + the fine->group "
    "map) for the two slim argmax passes — all sqrt(n)-bounded",
    "cluster_gate_recall_2l": "two-level centroid/coarse broadcasts + "
    "1-row count scalars for the recall readout",
    "ivf_assign_profile": "two-level centroid/coarse broadcasts + "
    "1-row n/used-groups scalars combined into the one-row profile",
    "planted_ivf_recall": "broadcast k-row centroid matrix for the "
    "audited gate over the planted corpus + 1-row recall scalars",
    "planted_ivf_recall_2l": "two-level centroid/coarse broadcasts "
    "over the planted corpus + 1-row recall scalars",
    "minhash_gate_recall": "1-row n_docs/n_true/n_gated aggregates "
    "combined into the one-row recall readout",
    "crawl_budget": "1-row weight-total scalar for the apportionment",
    "unigram_nll": "1-row corpus token total for the unigram model",
    "shard_manifest": "1-row total N for equal-depth shard arithmetic",
    "important_parts": "1-row grand-total/part-count scalar for the Q11 share test",
    "domain_blocklist_stats": "1-row corpus total for the domain share",
    "key_skew_profile": "1-row total/max/n_keys scalar for the skew factor",
    "quality_disparity": "1-row best-rate reference group (LIMIT 1 over the "
    "bounded group dimension) for the four-fifths ratio",
    "dup_graph_transitivity": "two 1-row scalar handoffs (edge count + "
    "triangle count) combined with the 1-row degree summary",
    "mixture_allocation": "1-row weight-total and remaining-budget scalars "
    "over the metadata-scale domain table (water-fill handoffs)",
    "bigram_nll": "1-row model token+vocab total (T+V) scalar for the "
    "interpolated-probability denominator",
    "unigram_vocab": "1-row vocabulary-total scalar per EM round + final "
    "(the ln_fp cost normalizer in unigram_lm._with_costs)",
    "unigram_fertility": "the unigram_vocab cost-normalizer scalars plus "
    "the 1-row unigram-totals x BPE-totals combine",
    "unigram_doc_nll": "the unigram_vocab cost-normalizer scalars (train "
    "chain reused by the apply path)",
    "unigram_em_curve": "the unigram_vocab cost-normalizer scalars plus "
    "per-round 1-row totals x 1-row vocab-size combines",
    "post_stratified_effect": "1-row stratified moments x 1-row raw-diff "
    "combine",
    "quantile_treatment_effect": "per-arm exact_quantiles machinery "
    "(1-row n broadcast into the rank-grid joins)",
    "ab_power_grid": "1-row pooled moments exploded over the constant "
    "MDE grid",
    "srm_check": "1-row distinct-user split (no joins at all)",
    "source_concentration": "1-row totals and 1-row HHI handoffs over the "
    "metadata-scale source table (diversity report)",
    "corpus_datacard": "1-row card blocks (volume/top-share/dup/concentration) "
    "cross-joined into the skinny metric frame",
    "datacard_diff": "two 1-row card instances plus the 1-row mean-length "
    "threshold scalar",
    "dsir_selection": "1-row model token totals (Q, P) scalar for the "
    "smoothing denominators",
    "perplexity_buckets": "1-row corpus token total for the unigram model "
    "(inherited from unigram_nll)",
    "length_drift_ks": "1-row sample totals (n_a, n_b) and 1-row sup scalar "
    "over the distinct-value frame",
    "balanced_label_sample": "1-row min-class-count scalar for the balance floor",
    "bm25_topk": "1-row corpus totals (N docs, T tokens) scalar for the "
    "BM25 length normalization",
    "ivf_pq_topk": "broadcast index-metadata frames (n_cells=16 coarse "
    "centroids, n_subspaces x n_codes codebook rows — small by contract, "
    "the knn_join precedent); probe side is the only fact frame",
    "pretrain_pipeline": "1-row DSIR model token totals (Q, P) inherited "
    "from the selection stage",
    "equidepth_histogram": "1-row total N scalar for the closed-form "
    "ntile bucket arithmetic (the shard_manifest pattern; replaced the "
    "r6 verdict's empty-OVER ntile single-task sort)",
    "bm25_fielded": "1-row corpus totals (N docs, T weighted tokens) "
    "scalar for the BM25F length normalization (the bm25_topk shape)",
    "dsir_bigram_selection": "1-row model token totals (Q, P) scalar "
    "for the smoothing denominators (the dsir_selection shape)",
    "source_nb_confusion": "S-row per-class token totals broadcast for "
    "the smoothing denominators (class-count metadata scale)",
    "label_centroid_similarity": "pairwise label_a < label_b join over "
    "the <=|labels|-row centroid-profile frames — dim-table scale by "
    "construction (one row per label)",
    "ann_recall_report": "broadcast 1-row query vector into both the "
    "IVF and the exact ranking (the ann_ivf_topk / cosine_topk "
    "shapes, composed)",
    "jl_ann_topk": "broadcast 1-row query projection (coarse stage) "
    "and 1-row query vector (rerank stage) — the cosine_topk shape "
    "twice",
    "journey_paths": "1-row grand-total user count broadcast for the "
    "path-share ratio (the tfidf_top_terms shape)",
    "nearest_centroid_confusion": "<=|labels|-row centroid-sum frame "
    "broadcast-scored against every vector — label-count metadata "
    "scale (the label_centroid_similarity precedent)",
    "term_burstiness": "1-row corpus-N broadcast for the zeros-included "
    "dispersion denominator (the tfidf_top_terms shape)",
    "logistic_quality_gd": "1-row scalar handoffs only: the moments row "
    "(feature standardization) and one weight-vector row per unrolled "
    "GD step — the in-plan training data flow (gradient crosses the "
    "network, data never moves)",
    "bpe_merge_learning": "one 1-row elected-merge broadcast per BPE "
    "round onto the vocabulary-scale word frame (the logistic_quality_gd "
    "shape: only the winning pair crosses the network)",
    "bpe_compression_curve": "the bpe_merge_learning handoffs (shared "
    "learning loop) — one 1-row elected-merge broadcast per round",
    "hll_overlap_audit": "three 1-row HLL-estimate scalars + the 1-row "
    "exact-overlap aggregate combined into the report row",
    "hybrid_rrf_topk": "the bm25_topk corpus-totals scalar + the "
    "cosine_topk 1-row query vector (both inherited); fusion joins two "
    "LIMITed 50-row rank frames",
    "trimmed_mean_effect": "1-row control-arm x 1-row treatment-arm "
    "trimmed-moment combine (the post_stratified_effect shape)",
    "retrieval_rank_agreement": "the bm25/cosine 1-row scalar handoffs "
    "(inherited) plus 1-row size/count combines over the bounded "
    "common-rank frame",
    "group_sequential_check": "1-row (min, max) epoch-micros scalar "
    "broadcast for the look thresholds (the incremental_scan "
    "frozen-watermark shape)",
    "semantic_gate_recall": "the brute-force ground truth IS an "
    "all-pairs id_a < id_b join — over the md5-ranked subsample "
    "bounded by max_n (default 4000), never the corpus — plus three "
    "1-row count scalars combined into the report row; the audit's "
    "quadratic side is the point of the query and is subsample-"
    "bounded by construction",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from pasta_pipeline_spark.queries.catalog import REGISTRY
    from pasta_pipeline_spark.session import get_spark

    spark = get_spark("plan-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    bad = []
    for name, spec in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        try:
            df = spec.spark_fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"query": name, "error": str(e)[:200]}))
            bad.append(name)
            continue
        row = {"query": name, **audit_plan(plan)}
        if row["cartesian"]:
            bad.append(name)
            row["FLAG"] = "cartesian product"
        elif row["bnlj"]:
            # allowlisted shapes: the scalar crossJoin handoff
            # (`Cross BuildRight` over a no-grouping aggregate) and the
            # bounded inequality self-join over dim-table-scale frames
            # (`BuildRight, Inner` with a non-equi condition, e.g.
            # label_a < label_b over one-row-per-label profiles)
            if name in SCALAR_CROSSJOIN_OK and (
                "Cross BuildRight" in plan or "Inner BuildRight" in plan
            ):
                row["bnlj_ok"] = SCALAR_CROSSJOIN_OK[name]
            else:
                bad.append(name)
                row["FLAG"] = "nested-loop join (not a known scalar handoff)"
        print(json.dumps(row))

    print(
        json.dumps(
            {
                "summary": "plan_audit",
                "queries": len(REGISTRY) if not only else len(only),
                "flagged": bad,
            }
        )
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
