"""Catalog tier: wave 33 (r12) — depth on the IVF cluster gate.

Two companions to wave 32's semantic_dedup_clustered:

- ``ivf_cell_profile`` — the occupancy readout (the gate's pair volume
  IS Σ n·(n−1)/2 over these rows), the key_skew_profile counterpart
  for the vector tier;
- ``semantic_dedup_diverse`` — the SemDedup paper's own keep policy
  (keep the duplicate-group member LEAST similar to its cluster
  centroid — diversity-preserving), a different deterministic order
  over the same gate.

Registration stays APPEND-ONLY: imported after t24 by the package
__init__, so every earlier query's driver window is byte-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pasta_pipeline_spark.queries.catalog._core import _t, register
from pasta_pipeline_spark.queries.catalog.t24_wave32 import _ivf_pairs_sql


def _cell_profile_oracle(dim: int = 64, n_cells: int = 8, iterations: int = 2) -> str:
    """Reuses the unrolled-Lloyd's chain up to the final assignment
    ``af`` (the dup CTE is built but unreferenced — DuckDB prunes
    unused CTEs), then one GROUP BY cell."""
    return f"""
    WITH {_ivf_pairs_sql(dim, n_cells, iterations)}
    SELECT cell_id,
           CAST(count(*) AS BIGINT) AS n_members,
           min(vec_id) AS min_id,
           max(vec_id) AS max_id,
           CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS gate_pairs
    FROM af GROUP BY cell_id
    """


@register(
    "ivf_cell_profile",
    _cell_profile_oracle(),
    doc="Occupancy profile of the trained IVF cells "
    "(similarity.ivf_cell_profile): per cell, member count, min/max "
    "member ids, and the exact gate pair volume n*(n-1)/2 — the "
    "observability a curation team reads BEFORE running the "
    "cluster-gated dedup (a hot cell here IS the cost), the "
    "key_skew_profile counterpart for the vector tier. Same "
    "deterministic training + assignment as ivf_dup_pairs, so the "
    "profile describes the gate that would actually run; the oracle "
    "replays the whole chain and aggregates per cell.",
)
def q_ivf_cell_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.similarity import ivf_cell_profile

    return ivf_cell_profile(_t(spark, sf_dir, "embeddings"), dim=64, n_cells=None)


def _dedup_diverse_oracle(
    dim: int = 64,
    n_cells: int = 8,
    iterations: int = 2,
    threshold: float = 0.4,
) -> str:
    """The carry_csim chain (af and dup expose the winning centroid
    similarity), then the paper's loser rule: the pair member whose
    (centroid_sim, id) is lexicographically LARGER is dropped."""
    return f"""
    WITH {_ivf_pairs_sql(dim, n_cells, iterations, threshold, carry_csim=True)},
    drops AS (
      SELECT DISTINCT
        CASE WHEN cs_a < cs_b OR (cs_a = cs_b AND id_a < id_b)
             THEN id_b ELSE id_a END AS vec_id
      FROM dup
    )
    SELECT e.vec_id,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM embeddings e LEFT JOIN drops d ON e.vec_id = d.vec_id
    """


@register(
    "semantic_dedup_diverse",
    _dedup_diverse_oracle(),
    doc="Cluster-gated SemDedup with the PAPER'S keep policy "
    "(similarity.semantic_dedup_diverse; Abbas et al. 2023 §3.2: keep "
    "the duplicate-group member with the LOWEST cosine similarity to "
    "its cluster centroid — the least redundant representative) "
    "instead of the smallest-id convention: for every cell-confined "
    "pair clearing the threshold, the side whose (centroid_sim, id) "
    "is lexicographically larger is dropped. Same bounded gate volume "
    "as semantic_dedup_clustered; the oracle replays training, the "
    "centroid-sim carry, and the loser rule bit for bit.",
)
def q_semantic_dedup_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.similarity import semantic_dedup_diverse

    return semantic_dedup_diverse(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, dim=64, n_cells=None
    )


def _ivf_sweep_oracle(
    dim: int = 64,
    n_cells: int = 8,
    iterations: int = 2,
    sim_scale: int = 20,
) -> str:
    """The unrolled chain at threshold -2.0 (every cell-confined pair
    survives), then the cosine_threshold_sweep histogram contract."""
    return f"""
    WITH {_ivf_pairs_sql(dim, n_cells, iterations, threshold=-2.0)},
    hist AS (
      SELECT CAST(FLOOR(sim * {sim_scale}) AS BIGINT) AS sim_bucket,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM dup GROUP BY 1
    )
    SELECT sim_bucket, n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY sim_bucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_pairs_ge
    FROM hist ORDER BY sim_bucket DESC
    """


@register(
    "ivf_threshold_sweep",
    _ivf_sweep_oracle(),
    doc="Dedup-threshold planning sweep over the CLUSTER gate "
    "(similarity.ivf_threshold_sweep): the banded dedup_threshold_sweep "
    "keeps EVERY gated pair, making it the catalog's most "
    "pair-volume-sensitive query (sf10 fresh 226.6s / ratio 15.75, the "
    "r12 scale ladder's flag, commit 0a831ac); this variant reads the "
    "same histogram over exactly the pair population semantic_dedup_clustered would see — "
    "bounded at Sum(|cell|^2)/2 by construction. Same (sim_bucket, "
    "n_pairs, cum_pairs_ge) contract; oracle replays training + "
    "assignment + histogram.",
)
def q_ivf_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.similarity import ivf_threshold_sweep

    return ivf_threshold_sweep(
        _t(spark, sf_dir, "embeddings"), dim=64, n_cells=None
    )
