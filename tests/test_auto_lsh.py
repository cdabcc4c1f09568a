"""Sign-LSH auto-calibration (similarity.auto_lsh_config, r8 verdict
ask #1): the growth recipe — planes += round(log2(n/n0)) to hold bucket
occupancy, bands doubled per two extra planes to hold recall — is the
DEFAULT for every LSH-gated operator, and resolves to the former fixed
configs at the oracle gate scales so catalog hashes are unchanged."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pasta_pipeline_spark.operators.similarity import (
    LSH_CALIBRATED_N,
    auto_lsh_config,
    semantic_dedup,
)


def test_base_config_at_and_below_anchor():
    # the oracle-gate corpora (500 vectors at sf0.001/sf0.01) and the
    # calibration corpus itself resolve to the base config exactly —
    # this is what keeps the DuckDB twins byte-stable
    for n in (0, 1, 500, 1999, LSH_CALIBRATED_N):
        assert auto_lsh_config(n, 4, 2) == (4, 2)
        assert auto_lsh_config(n, 4, 4) == (4, 4)
        assert auto_lsh_config(n, 8, 1) == (8, 1)


def test_growth_recipe_matches_measured_recalibration():
    # the r8 scale ladder's *_recalibrated rows (in the tree at commit
    # 0a831ac) measured (7, 4) / (7, 8) at the 20k-vector sf1 fixture as the configs that restore linear
    # scaling — auto must reproduce them
    assert auto_lsh_config(20_000, 4, 2) == (7, 4)   # semantic_dedup
    assert auto_lsh_config(20_000, 4, 4) == (7, 8)   # default recipe (hard_negatives uses linear_pair_growth since r11)
    # another 10x: +3 or +4 more planes, bands keep pace
    assert auto_lsh_config(200_000, 4, 2) == (11, 16)


def test_bucket_occupancy_stays_bounded():
    # the quadratic footgun is expected occupancy n/2^planes growing
    # with n; under auto it stays within sqrt(2) of the anchor's
    base_occ = LSH_CALIBRATED_N / 2**4
    for exp in range(1, 8):  # up to 10^7 x the anchor corpus
        n = LSH_CALIBRATED_N * 10**exp
        planes, _ = auto_lsh_config(n, 4, 2)
        occ = n / 2**planes
        assert occ <= base_occ * math.sqrt(2) + 1e-9, (n, planes, occ)


def test_monotonic_and_bands_nondecreasing():
    prev_p, prev_b = 0, 0
    for n in (1_000, 4_000, 16_000, 64_000, 256_000, 1_024_000):
        p, b = auto_lsh_config(n, 4, 4)
        assert p >= prev_p and b >= prev_b
        prev_p, prev_b = p, b


@pytest.fixture()
def tiny_emb(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_auto_equals_pinned_below_anchor(spark, tiny_emb):
    # below the anchor, num_planes=None must be bit-identical to the
    # former fixed default — the oracle-stability contract
    auto = semantic_dedup(tiny_emb, 0.99, dim=4).orderBy("vec_id").collect()
    pinned = (
        semantic_dedup(tiny_emb, 0.99, dim=4, num_planes=4)
        .orderBy("vec_id")
        .collect()
    )
    assert auto == pinned
    kept = {r.vec_id: r.kept for r in auto}
    assert kept[1] == 1 and kept[2] == 0  # near-dup drops, head stays
