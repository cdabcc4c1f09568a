"""Catalog tier: wave 32 (r12) — the cluster-gated SemDedup frontier.

The r11 scale ladder's one flag (``sf10:semantic_dedup``,
second-decade ratio 15.4; its output is in the tree at commit
0a831ac) is inherent to LSH-BAND gating at fixed recall: pair volume
follows band-collision statistics the corpus controls (NOTES #66).
The SemDedup paper's own gate is a k-means CLUSTER (Abbas et al.
2023, arXiv:2303.09540 §3) — pair volume bounded by Σ|cell|²/2
with the cell count a direct knob. This wave registers that variant
with a full oracle (the DuckDB twin replays the deterministic
Lloyd's training, unrolled iteration by iteration) plus its measured
recall audit.

Registration stays APPEND-ONLY: this module is imported LAST by the
package __init__, so the driver's correctness window over the earlier
327 queries is byte-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pasta_pipeline_spark.queries.catalog._core import _t, register


def _ivf_pairs_sql(
    dim: int = 64,
    n_cells: int = 8,
    iterations: int = 2,
    threshold: float = 0.4,
    fp_scale: int = 10_000_000,
    carry_csim: bool = False,
    src_table: str = "embeddings",
) -> str:
    """WITH-clause chain replaying similarity.ivf_dup_pairs bit for
    bit, ending in ``dup(id_a, id_b, sim)``:

    - ``src``: valid-dim vectors as DOUBLE[] + one norm per vector
      (the same sequential list_dot_product fold Spark's F.aggregate
      runs — NOTES #45);
    - ``cent0``: the ``n_cells`` lowest-id vectors as seeds;
    - per unrolled iteration: nearest-cell assignment (cosine DESC,
      cell_id ASC — the total tie order both engines share) and
      fixed-point per-dimension means — int64 sums of
      floor(v·fp_scale) are order-FREE, which is the whole reason
      train_ivf_centroids_fp exists next to the F.avg trainer; empty
      cells COALESCE to their previous centroid;
    - ``af``: final assignment carrying emb + nrm;
    - ``dup``: within-cell pairs (id_a < id_b) clearing the exact
      cosine threshold, mirroring the carried-sidecar in-join verify.
    """
    parts = [
        f"""src AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM {src_table} WHERE len(embedding) = {dim}
    ),
    cent0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
             emb AS cv
      FROM (SELECT vec_id, emb FROM src ORDER BY vec_id LIMIT {n_cells})
    )"""
    ]
    for i in range(iterations):
        parts.append(
            f"""centn{i} AS (
      SELECT cell_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM cent{i}
    ),
    asg{i + 1} AS (
      SELECT vec_id, emb, cell_id FROM (
        SELECT s.vec_id, s.emb, c.cell_id,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY list_dot_product(s.emb, c.cv) / (s.nrm * c.cnrm) DESC,
                          c.cell_id) AS rn
        FROM src s CROSS JOIN centn{i} c) WHERE rn = 1
    ),
    mean{i + 1} AS (
      SELECT cell_id, pos,
             (CAST(SUM(CAST(FLOOR(v * {fp_scale}) AS BIGINT)) AS DOUBLE)
                / {float(fp_scale)!r}) / COUNT(*) AS m
      FROM (SELECT cell_id, unnest(emb) AS v,
                   generate_subscripts(emb, 1) AS pos
            FROM asg{i + 1})
      GROUP BY cell_id, pos
    ),
    cent{i + 1} AS (
      SELECT c.cell_id, COALESCE(n.cv, c.cv) AS cv
      FROM cent{i} c
      LEFT JOIN (SELECT cell_id, list(m ORDER BY pos) AS cv
                 FROM mean{i + 1} GROUP BY cell_id) n USING (cell_id)
    )"""
        )
    cs_proj = ", cs" if carry_csim else ""
    cs_pair = ", a.cs AS cs_a, b.cs AS cs_b" if carry_csim else ""
    cs_dup = ", cs_a, cs_b" if carry_csim else ""
    parts.append(
        f"""centf AS (
      SELECT cell_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
      FROM cent{iterations}
    ),
    af AS (
      SELECT vec_id, emb, nrm, cell_id{cs_proj} FROM (
        SELECT s.vec_id, s.emb, s.nrm, c.cell_id,
               list_dot_product(s.emb, c.cv) / (s.nrm * c.cnrm) AS cs,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY list_dot_product(s.emb, c.cv) / (s.nrm * c.cnrm) DESC,
                          c.cell_id) AS rn
        FROM src s CROSS JOIN centf c) WHERE rn = 1
    ),
    dup AS (
      SELECT id_a, id_b, sim{cs_dup} FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS sim{cs_pair}
        FROM af a JOIN af b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id)
      WHERE sim >= {threshold!r}
    )"""
    )
    return ",\n    ".join(parts)


def _semantic_dedup_clustered_oracle(
    dim: int = 64,
    n_cells: int = 8,
    iterations: int = 2,
    threshold: float = 0.4,
) -> str:
    """DuckDB twin of semantic_dedup_clustered: the unrolled Lloyd's
    chain, then the same NOT-EXISTS keep contract as the banded
    _semantic_dedup_oracle. The inlined ``n_cells`` is valid at the
    oracle gate scales because the Spark side auto-resolves from the
    full corpus count (auto_ivf_cells) and the gate corpora are
    pinned <= LSH_CALIBRATED_N by test_tooling_consistency, where
    auto == the base cell count."""
    return f"""
    WITH {_ivf_pairs_sql(dim, n_cells, iterations, threshold)},
    drops AS (SELECT DISTINCT id_b AS vec_id FROM dup)
    SELECT e.vec_id,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM embeddings e LEFT JOIN drops d ON e.vec_id = d.vec_id
    """


@register(
    "semantic_dedup_clustered",
    _semantic_dedup_clustered_oracle(),
    doc="SemDedup with the paper's own k-means cluster gate "
    "(similarity.semantic_dedup_clustered; Abbas et al. 2023 §3): "
    "deterministic Lloyd's cells (lowest-id seeds, fixed-point means, "
    "total tie order) confine candidate pairs, bounding gate volume at "
    "Sum(|cell|^2)/2 with cells = sqrt(n) by default — the "
    "bounded-second-decade answer to the r11 scale ladder's one flag "
    "(output in the tree at commit 0a831ac), where "
    "LSH-band gating at fixed recall cost n*sqrt(n/calibrated) "
    "verifies. Same keep contract as semantic_dedup (smallest id of "
    "every near-dup group survives). Oracle replays the ENTIRE "
    "pipeline including the 2-round Lloyd's training, unrolled "
    "iteration by iteration in SQL.",
)
def q_semantic_dedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.similarity import semantic_dedup_clustered

    emb = _t(spark, sf_dir, "embeddings")
    # n_cells=None engages the auto recipe (similarity.auto_ivf_cells):
    # at the oracle gate scales (n <= LSH_CALIBRATED_N) it resolves to
    # exactly the 8-cell base the DuckDB twin replays; at bigger
    # corpora cells grow as sqrt(n) so assignment and verify balance
    # at n^1.5 with bounded pair volume.
    return semantic_dedup_clustered(
        emb, threshold=0.4, dim=64, n_cells=None, iterations=2
    )


def _cluster_gate_recall_oracle(
    dim: int = 64,
    n_cells: int = 8,
    iterations: int = 2,
    threshold: float = 0.4,
    max_n: int = 4000,
    recall_scale: int = 1_000_000,
) -> str:
    """DuckDB twin of similarity.cluster_gate_recall_report: the same
    unrolled production gate over the FULL corpus, brute-force ground
    truth over the md5-ranked subsample, recall = gated-in-subsample /
    true-in-subsample. The gate's exact verify admits no false
    positives, so the numerator is a subset of the denominator by
    construction."""
    return f"""
    WITH {_ivf_pairs_sql(dim, n_cells, iterations, threshold)},
    samp AS (
      SELECT vec_id FROM src
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {max_n}
    ),
    tp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_true_pairs
      FROM src a JOIN src b ON a.vec_id < b.vec_id
      JOIN samp sa ON sa.vec_id = a.vec_id
      JOIN samp sb ON sb.vec_id = b.vec_id
      WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= {threshold!r}
    ),
    gt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_gated_pairs
      FROM dup
      JOIN samp sa ON sa.vec_id = dup.id_a
      JOIN samp sb ON sb.vec_id = dup.id_b
    ),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM samp)
    SELECT n_vectors, n_true_pairs, n_gated_pairs,
           CASE WHEN n_true_pairs > 0 THEN
             CAST(FLOOR(CAST(n_gated_pairs AS DOUBLE)
                        / CAST(n_true_pairs AS DOUBLE)
                        * {recall_scale}) AS BIGINT) END AS recall_sc
    FROM nv CROSS JOIN tp CROSS JOIN gt
    """


@register(
    "cluster_gate_recall",
    _cluster_gate_recall_oracle(),
    doc="Measured recall of the IVF cluster gate at the dedup tier's "
    "threshold (similarity.cluster_gate_recall_report) — the "
    "gate_recall_report instrument pointed at semantic_dedup_clustered. "
    "Because a cluster gate's recall depends on trained centroid "
    "GEOMETRY (not just a config), the audit runs the PRODUCTION gate "
    "over the full corpus and scores it against brute-force ground "
    "truth on the bounded md5-ranked subsample: recall = gate pairs "
    "with both endpoints in the subsample / true subsample pairs. "
    "Ground truth stays ~constant-cost at any corpus size.",
)
def q_cluster_gate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.similarity import cluster_gate_recall_report

    return cluster_gate_recall_report(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )
