"""Catalog tier: wave 35 (r13) — the planted-near-duplicate fixture
tier, making the SemDedup paper's θ ≈ 0.92 OPERATING regime measurable
(the r12 verdict's ask #2; NOTES #70/#75(b): the raw synthetic
embedding fixtures have no true pairs above ~0.9, so every earlier
gate-recall audit could only run at the loose θ=0.4 point).

The fixture is an OPERATOR, not a data file: ``plant_near_dups``
(operators/similarity.py) emits one twin per ``rate_mod``-th base
vector at an EXACT target cosine via a global Givens rotation — a
closed-form expression with no RNG, so both engines build the corpus
bit for bit and the planted pair set itself is full-population ground
truth (no subsample variance, no quadratic truth side). Targets cycle
through 0.90/0.92/0.94/0.96/0.98, bracketing the paper's θ=0.92, and
recall is reported PER TARGET.

Three gates are audited over the same planted corpus: the flat IVF
cluster gate, the two-level (coarse-quantizer) assignment that bounds
its third decade (wave 34), and the banded sign-LSH gate — so the
regime-recall cost of every scale path is MEASURED next to the
others, not assumed. Every oracle replays the whole pipeline —
the Givens twin construction, Lloyd's training (both levels where
applicable), assignment, the within-cell/bucket pair gate, and the
per-target recall aggregation — unrolled in SQL.

Registration stays APPEND-ONLY: imported after t26 by the package
__init__, so every earlier query's driver window is byte-stable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from pasta_pipeline_spark.queries.catalog._core import _t, register
from pasta_pipeline_spark.queries.catalog.t05_multimodal import (
    _banded_eb_sql,
    _banded_planes_sql,
)
from pasta_pipeline_spark.queries.catalog.t24_wave32 import _ivf_pairs_sql
from pasta_pipeline_spark.queries.catalog.t26_wave34 import _two_level_sql

#: Audit threshold — pinned just BELOW the lowest planted target so
#: the gates' own exact-cosine filters never exclude a planted pair on
#: float32 wobble; misses are then purely geometric (cell/band
#: boundaries), which is what the audit measures.
PLANT_THRESHOLD = 0.895


def _planted_sql(
    dim: int = 64,
    rate_mod: int = 4,
    id_offset: int = 10_000_000,
    src_table: str = "embeddings",
) -> str:
    """CTE chain ending in ``planted(vec_id, embedding)`` — the DuckDB
    twin of similarity.plant_near_dups, bit for bit: for every base
    vector with id % rate_mod == 0, a twin at id + id_offset rotated
    by the global Givens rotation whose angle hits the row's target
    cosine (targets cycle by (id % (rate_mod·n_targets)) // rate_mod).
    Arithmetic replays Spark's exactly: float32 elements upcast to
    double, cph/sph double literals (sin from the same Python
    math.sqrt that built the Spark plan), per-element result cast back
    to float32. DuckDB's list_transform index is 1-based where Spark's
    transform index is 0-based, so 'p % 2 = 1' here IS Spark's even-i
    branch."""
    from pasta_pipeline_spark.operators.similarity import PLANT_COSINES

    n_t = len(PLANT_COSINES)
    mod = rate_mod * n_t
    carr = "[" + ", ".join(repr(float(c)) for c in PLANT_COSINES) + "]"
    sarr = "[" + ", ".join(
        repr(math.sqrt(1.0 - c * c)) for c in PLANT_COSINES
    ) + "]"
    pick = f"CAST((vec_id % {mod}) // {rate_mod} + 1 AS INT)"
    cph = f"({carr})[{pick}]"
    sph = f"({sarr})[{pick}]"
    return f"""ptw AS (
      SELECT vec_id + {id_offset} AS vec_id,
             list_transform(embedding, (x, p) -> CAST(
               CASE WHEN p % 2 = 1
                 THEN {cph} * CAST(x AS DOUBLE)
                      - {sph} * CAST(embedding[p + 1] AS DOUBLE)
                 ELSE {sph} * CAST(embedding[p - 1] AS DOUBLE)
                      + {cph} * CAST(x AS DOUBLE)
               END AS FLOAT)) AS embedding
      FROM {src_table}
      WHERE vec_id % {rate_mod} = 0 AND len(embedding) = {dim}
    ),
    planted AS (
      SELECT vec_id, embedding FROM {src_table}
      UNION ALL
      SELECT vec_id, embedding FROM ptw
    )"""


def _planted_recall_tail(
    pairs_cte: str,
    dim: int = 64,
    rate_mod: int = 4,
    id_offset: int = 10_000_000,
    recall_scale: int = 1_000_000,
) -> str:
    """The shared per-target recall aggregation: planted pair set as
    ground truth (exact by the Givens construction), left-joined
    against the gate's emitted pairs, one row per target cosine."""
    from pasta_pipeline_spark.operators.similarity import PLANT_COSINES

    n_t = len(PLANT_COSINES)
    mod = rate_mod * n_t
    tarr = "[" + ", ".join(str(int(round(c * 100))) for c in PLANT_COSINES) + "]"
    return f"""truth AS (
      SELECT vec_id AS id_a, vec_id + {id_offset} AS id_b,
             CAST(({tarr})[CAST((vec_id % {mod}) // {rate_mod} + 1 AS INT)]
                  AS INT) AS target_pc
      FROM embeddings
      WHERE vec_id % {rate_mod} = 0 AND len(embedding) = {dim}
    )
    SELECT t.target_pc,
           CAST(count(*) AS BIGINT) AS n_planted,
           CAST(SUM(CASE WHEN h.id_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gated,
           CAST(FLOOR(CAST(SUM(CASE WHEN h.id_a IS NOT NULL THEN 1 ELSE 0 END)
                           AS DOUBLE)
                      / CAST(count(*) AS DOUBLE) * {recall_scale})
                AS BIGINT) AS recall_sc
    FROM truth t
    LEFT JOIN {pairs_cte} h ON h.id_a = t.id_a AND h.id_b = t.id_b
    GROUP BY t.target_pc
    ORDER BY t.target_pc"""


def _planted_ivf_oracle(two_level: bool) -> str:
    """Planted corpus → the full IVF chain (flat wave-32 or two-level
    wave-34, src_table='planted') → per-target recall."""
    if two_level:
        chain = _two_level_sql(
            threshold=PLANT_THRESHOLD, src_table="planted"
        )
        pairs = "dup2"
    else:
        chain = _ivf_pairs_sql(
            threshold=PLANT_THRESHOLD, src_table="planted"
        )
        pairs = "dup"
    return f"""
    WITH {_planted_sql()},
    {chain},
    {_planted_recall_tail(pairs)}
    """


def _planted_lsh_oracle(
    dim: int = 64,
    num_planes: int = 4,
    num_bands: int = 2,
) -> str:
    """Planted corpus → the banded sign-LSH gate (t05's chain pointed
    at the planted CTE, hot-bucket cap replayed) → per-target recall.
    Only pairs clearing the exact threshold count as gated, exactly
    the Spark path's verify."""
    from pasta_pipeline_spark.operators.similarity import DEFAULT_BUCKET_CAP

    cos = (
        "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
    )
    return f"""
    WITH {_planted_sql(dim)},
    planes(band, pidx, pv) AS (VALUES
        {_banded_planes_sql(dim, num_planes, num_bands)}),
    {_banded_eb_sql(DEFAULT_BUCKET_CAP, src_table="planted").lstrip().lstrip(",")},
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM eb a JOIN eb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    hits AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN planted a ON a.vec_id = c.id_a
      JOIN planted b ON b.vec_id = c.id_b
      WHERE {cos} >= {PLANT_THRESHOLD!r}
    ),
    {_planted_recall_tail("hits", dim)}
    """


@register(
    "planted_ivf_recall",
    _planted_ivf_oracle(two_level=False),
    doc="Flat IVF cluster-gate recall in the SemDedup paper's "
    "OPERATING regime (similarity.planted_gate_recall(gate='ivf')): "
    "plant_near_dups emits one exact-cosine twin per 4th vector via a "
    "global Givens rotation (targets 0.90/0.92/0.94/0.96/0.98 — "
    "cos(v, R_φ v) = cosφ for ANY v because the cross terms cancel "
    "pairwise, so no RNG and no normalization), the wave-32 cluster "
    "gate runs over the planted corpus at θ=0.895 (just below the "
    "lowest target, so misses are purely geometric), and recall is "
    "reported PER TARGET against the planted pair set itself — "
    "full-population ground truth at any corpus size, no subsample "
    "variance. This is the θ≥0.9 audit NOTES #70/#75(b) said was "
    "impossible on the raw fixtures. Oracle replays the Givens twin "
    "construction, Lloyd's training, assignment, the within-cell "
    "gate, and the recall aggregation bit for bit.",
)
def q_planted_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.similarity import planted_gate_recall

    return planted_gate_recall(
        _t(spark, sf_dir, "embeddings"),
        gate="ivf",
        gate_threshold=PLANT_THRESHOLD,
        dim=64,
        n_cells=None,
        iterations=2,
        two_level=False,
    )


@register(
    "planted_ivf_recall_2l",
    _planted_ivf_oracle(two_level=True),
    doc="Two-level (coarse-quantizer) IVF gate recall in the paper "
    "regime (similarity.planted_gate_recall(gate='ivf', "
    "two_level=True)): the wave-34 n^1.25 assignment pointed at the "
    "planted-twin corpus, so the regime-recall cost of the coarse "
    "routing (a twin whose true nearest fine cell lives in another "
    "coarse group) is measured per planted target next to the flat "
    "gate's planted_ivf_recall. Oracle replays both trainings, both "
    "argmax passes, the within-cell gate, and the recall aggregation.",
)
def q_planted_ivf_recall_2l(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.similarity import planted_gate_recall

    return planted_gate_recall(
        _t(spark, sf_dir, "embeddings"),
        gate="ivf",
        gate_threshold=PLANT_THRESHOLD,
        dim=64,
        n_cells=None,
        iterations=2,
        two_level=True,
        n_coarse=3,
    )


@register(
    "planted_lsh_recall",
    _planted_lsh_oracle(),
    doc="Banded sign-LSH gate recall in the paper regime "
    "(similarity.planted_gate_recall(gate='lsh')): the t05 banded "
    "gate (4 planes × 2 bands, hot-bucket cap replayed) over the "
    "planted-twin corpus at θ=0.895, recall per planted target — the "
    "Goemans-Williamson collision curve 1-(1-q^4)^2 made measurable "
    "at the θ≈0.92 operating point (q = 1 - acos(θ)/π ≈ 0.86 → "
    "expected ~0.79 at target 0.90, rising with the target), next to "
    "the cluster gates' geometric misses. Oracle replays the twin "
    "construction, banding, bucket cap, and recall aggregation.",
)
def q_planted_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.similarity import planted_gate_recall

    return planted_gate_recall(
        _t(spark, sf_dir, "embeddings"),
        gate="lsh",
        gate_threshold=PLANT_THRESHOLD,
        dim=64,
        num_planes=4,
        num_bands=2,
    )


def _minhash_gate_recall_oracle() -> str:
    from pasta_pipeline_spark.operators.text_dedup import (
        minhash_gate_recall_oracle_sql,
    )

    return minhash_gate_recall_oracle_sql(
        n=3, num_hashes=64, num_bands=16, threshold=0.5, max_n=400
    )


@register(
    "minhash_gate_recall",
    _minhash_gate_recall_oracle(),
    doc="Measured recall of the banded MinHash gate at the dedup "
    "tier's θ=0.5 (text_dedup.minhash_gate_recall) — the r12 verdict's "
    "ask #5: the Broder-bound pytest pin (NOTES #71) promoted to a "
    "full-oracle catalog query. Signatures run the md5 hash family of "
    "minhash_error_report (same 31-bit base hash, same permutation "
    "constants), so the WHOLE audit — shingling, 64-slot signatures, "
    "16-band production banding, exact-Jaccard truth, recall — "
    "replays hash-exactly in DuckDB (xxhash64 only blocked the "
    "production-signature replay, not this family's). Truth is exact "
    "shingle Jaccard on the md5-ranked 400-doc subsample "
    "(gate_recall_report's bound on the quadratic side); the gate "
    "runs over the FULL corpus as production would. One row: "
    "(n_docs, n_true_pairs, n_gated_pairs, recall_sc).",
)
def q_minhash_gate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.text_dedup import minhash_gate_recall

    return minhash_gate_recall(
        _t(spark, sf_dir, "documents"),
        n=3,
        num_hashes=64,
        num_bands=16,
        threshold=0.5,
        max_n=400,
    )


def _semantic_dedup_auto_oracle() -> str:
    # at the oracle gate scale the front door resolves to the banded
    # path with the (4, 2) base config — exactly the t09 twin
    from pasta_pipeline_spark.queries.catalog.t09_tpch_round2_hygiene import (
        _semantic_dedup_oracle,
    )

    return _semantic_dedup_oracle()


@register(
    "semantic_dedup_auto",
    _semantic_dedup_auto_oracle(),
    doc="SemDedup front door (similarity.semantic_dedup_auto) — the "
    "r12 verdict's ask #3: gate selection made explicit so the banded "
    "recipe's known super-linear pair volume is never the DEFAULT "
    "path at scale. n <= the calibration anchor routes to the banded "
    "semantic_dedup (better measured recall at gate scale, NOTES "
    "#70); above it, semantic_dedup_clustered (pair volume capped at "
    "Σ|cell|²/2, two-level n^1.25 assignment past 64 cells — "
    "r12 scale ladder sf10, commit 0a831ac: clustered ratio 7.7 vs "
    "banded 14.49). Keep contract identical either way; the switch logs the same growth "
    "breadcrumb as auto_lsh_config. At this gate scale the oracle is "
    "the banded twin, bit for bit; the above-anchor path is pinned by "
    "the dispatch-equivalence pytest and was measured by that sf10 "
    "ladder.",
)
def q_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.similarity import semantic_dedup_auto

    return semantic_dedup_auto(_t(spark, sf_dir, "embeddings"), threshold=0.4, dim=64)


def _planted_minhash_oracle() -> str:
    from pasta_pipeline_spark.operators.text_dedup import (
        planted_minhash_recall_oracle_sql,
    )

    return planted_minhash_recall_oracle_sql()


@register(
    "planted_minhash_recall",
    _planted_minhash_oracle(),
    doc="Banded-MinHash gate recall over a PLANTED text-twin corpus "
    "(text_dedup.planted_minhash_recall) — the token tier's wave-35: "
    "plant_near_dup_texts replaces every m-th token of every 4th doc "
    "with a globally-unique marker (m cycles 6/10/16/24, spanning "
    "Jaccard bands ~0.28-0.78 that bracket θ=0.5 from both sides), "
    "and recall is reported per band against exact-Jaccard truth on "
    "EVERY planted pair — full population, no subsample, so the gate "
    "is exercised near its operating edge where the raw fixture has "
    "almost no pairs. md5-family signatures (minhash_error_report's "
    "constants) make the whole audit — twin construction, shingling, "
    "signatures, 16-band banding, truth, recall — DuckDB-replayable.",
)
def q_planted_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pasta_pipeline_spark.operators.text_dedup import planted_minhash_recall

    return planted_minhash_recall(_t(spark, sf_dir, "documents"))
