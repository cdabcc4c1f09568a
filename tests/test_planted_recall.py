"""Planted-near-duplicate fixture tier (wave 35): the θ ≥ 0.9
operating-regime recall audit the raw fixtures couldn't support
(NOTES #70/#75(b) — no true pairs above ~0.9 exist there).

Pins: the Givens construction's exact-cosine guarantee (the whole
fixture rests on cos(v, R_φ v) = cosφ for ANY v), corpus shape,
per-target recall floors at the paper's θ=0.92 point (so a gate
misconfiguration that silently zeroes regime recall fails loudly),
and multiprobe superset monotonicity on the planted corpus.
"""

from __future__ import annotations

import math

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_planted_cosines_exact(spark, emb):
    """Every twin's measured cosine to its base hits the row's target
    to float32 rounding — the Givens guarantee, checked numerically
    over every planted pair (no sampling)."""
    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.similarity import (
        PLANT_COSINES,
        plant_near_dups,
    )

    planted = plant_near_dups(emb, dim=64)
    base = planted.where("vec_id < 10000000").select(
        F.col("vec_id"), F.col("embedding").alias("va")
    )
    twin = planted.where("vec_id >= 10000000").select(
        (F.col("vec_id") - 10_000_000).alias("vec_id"),
        F.col("embedding").alias("vb"),
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rows = (
        base.join(twin, "vec_id")
        .select(
            "vec_id",
            (
                dot(F.col("va"), F.col("vb"))
                / (
                    F.sqrt(dot(F.col("va"), F.col("va")))
                    * F.sqrt(dot(F.col("vb"), F.col("vb")))
                )
            ).alias("cos"),
        )
        .collect()
    )
    assert len(rows) == 125  # 500 base / rate_mod 4
    n_t = len(PLANT_COSINES)
    for r in rows:
        target = PLANT_COSINES[(r.vec_id % (4 * n_t)) // 4]
        assert abs(r.cos - target) < 1e-5, (r.vec_id, r.cos, target)


def test_planted_norms_preserved(spark, emb):
    """R is an isometry: |twin| == |base| to float32 rounding, so the
    planted corpus doesn't shift the norm distribution the gates'
    cosine arithmetic sees."""
    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.similarity import plant_near_dups

    dot = lambda a: F.aggregate(  # noqa: E731
        F.zip_with(a, a, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    planted = plant_near_dups(emb, dim=64)
    nrm = planted.select(
        "vec_id", F.sqrt(dot(F.col("embedding"))).alias("n")
    )
    a = {r.vec_id: r.n for r in nrm.where("vec_id < 10000000").collect()}
    b = {r.vec_id - 10_000_000: r.n for r in nrm.where("vec_id >= 10000000").collect()}
    for k, nb in b.items():
        assert math.isclose(a[k], nb, rel_tol=1e-5), (k, a[k], nb)


@pytest.mark.parametrize("gate", ["ivf", "lsh"])
def test_planted_recall_floor_at_paper_theta(spark, emb, gate):
    """Regime recall floors: at the θ=0.92 planted target the measured
    recall of BOTH gate families stays above 0.4 at fixture scale
    (measured sf0.001/sf0.01: IVF 0.84-0.92, LSH 0.56-1.0 across
    targets), and every target has nonzero recall. A config or gate
    regression that zeroes paper-regime recall fails here before the
    catalog ever sees it."""
    from pasta_pipeline_spark.operators.similarity import planted_gate_recall

    kw = dict(gate=gate, dim=64)
    if gate == "ivf":
        kw.update(n_cells=None, iterations=2, two_level=False)
    else:
        kw.update(num_planes=4, num_bands=2)
    rows = {r.target_pc: r for r in planted_gate_recall(emb, **kw).collect()}
    assert set(rows) == {90, 92, 94, 96, 98}
    for pc, r in rows.items():
        assert r.n_planted == 25
        assert r.n_gated > 0, (gate, pc)
    assert rows[92].recall_sc >= 400_000, (gate, rows[92])


def test_planted_recall_two_level_close_to_flat(spark, emb):
    """The n^1.25 two-level routing may only cost bounded regime
    recall vs the flat assignment (coarse-boundary misses): total
    gated-planted count within 30% of flat's on the fixture."""
    from pasta_pipeline_spark.operators.similarity import planted_gate_recall

    def total(two_level):
        rows = planted_gate_recall(
            emb, gate="ivf", dim=64, n_cells=None, iterations=2,
            two_level=two_level, n_coarse=3,
        ).collect()
        return sum(r.n_gated for r in rows)

    flat, tl = total(False), total(True)
    assert tl >= 0.7 * flat, (flat, tl)


def test_planted_recall_multiprobe_superset(spark, emb):
    """n_probe=2 probes a superset of n_probe=1's cells, so per-target
    gated counts are monotone — the planted corpus's version of the
    wave-32 multiprobe contract."""
    from pasta_pipeline_spark.operators.similarity import planted_gate_recall

    def per_target(n_probe):
        return {
            r.target_pc: r.n_gated
            for r in planted_gate_recall(
                emb, gate="ivf", dim=64, n_cells=None, iterations=2,
                two_level=False, n_probe=n_probe,
            ).collect()
        }

    p1, p2 = per_target(1), per_target(2)
    for pc in p1:
        assert p2[pc] >= p1[pc], (pc, p1[pc], p2[pc])


def test_planted_unknown_gate_raises(spark, emb):
    from pasta_pipeline_spark.operators.similarity import planted_gate_recall

    with pytest.raises(ValueError):
        planted_gate_recall(emb, gate="cosine").collect()


# ---- minhash_gate_recall (wave 35, r12 ask #5) ----


def test_minhash_gate_recall_floor(spark):
    """The md5-family banded gate catches the fixture's true pairs at
    the catalog config (64 hashes / 16 bands / θ=0.5): measured 1.0
    at sf0.001 (19/19) and sf0.01 (15/15) — pin a 0.85 floor so a
    banding/hash regression fails loudly (same contract as the Broder
    pytest in test_properties.py, now with the oracle-replayable
    family)."""
    from pasta_pipeline_spark.operators.text_dedup import minhash_gate_recall

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    row = minhash_gate_recall(docs).collect()[0]
    assert row.n_docs == 400
    assert row.n_true_pairs > 0
    assert row.n_gated_pairs <= row.n_true_pairs
    assert row.recall_sc >= 850_000, row


@pytest.mark.parametrize(
    "entry",
    [
        "minhash_gate_recall",
        "planted_minhash_recall",
        "minhash_lsh_pairs",
        "lsh_index_batch",
    ],
)
def test_minhash_gate_recall_bad_bands_raises(spark, tmp_table_dir, entry):
    """64 hashes in 10 bands would leave the trailing 4 slots unbanded:
    every banded-MinHash entry point refuses it when the plan is built,
    and the streaming index is never written."""
    from pasta_pipeline_spark.operators import text_dedup as td
    from pasta_pipeline_spark.sources.tables import TableStore
    from pasta_pipeline_spark.streaming.dedup import lsh_index_batch

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    store = TableStore(spark, f"{tmp_table_dir}/lsh")
    calls = {
        "minhash_gate_recall": lambda: td.minhash_gate_recall(
            docs, num_hashes=64, num_bands=10
        ),
        "planted_minhash_recall": lambda: td.planted_minhash_recall(
            docs, num_hashes=64, num_bands=10
        ),
        "minhash_lsh_pairs": lambda: td.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=64, bands=10
        ),
        "lsh_index_batch": lambda: lsh_index_batch(
            docs, store, num_hashes=64, bands=10
        ),
    }
    with pytest.raises(ValueError):
        calls[entry]()
    assert not store.exists()


# ---- planted text twins (wave 37) ----


def test_plant_near_dup_texts_shape(spark):
    """One twin per 4th non-null-text doc; twin text carries its own
    globally-unique markers (zq<twin_id>x<pos>) and nothing else
    foreign — the fixture's uniqueness guarantee."""
    from pyspark.sql import functions as F

    from pasta_pipeline_spark.operators.text_dedup import plant_near_dup_texts

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    planted = plant_near_dup_texts(docs)
    twins = planted.where("doc_id >= 10000000")
    n_expected = docs.where(
        (F.col("doc_id") % 4 == 0) & F.col("text").isNotNull()
    ).count()
    rows = twins.select("doc_id", "text").collect()
    assert len(rows) == n_expected
    for r in rows[:20]:
        assert f"zq{r.doc_id}x" in r.text, r.doc_id


def test_edit_distance_block_cap(spark):
    """The r13 hot-block guard on the edit-distance tier: block_cap=1
    keeps one member per block (no same-block pairs → empty result),
    a binding cap yields a subset of the uncapped pairs, and the
    capped membership replays hash-exactly in DuckDB (the
    cap_band_buckets md5-rank contract)."""
    import duckdb

    from pasta_pipeline_spark.operators.text_dedup import edit_distance_pairs
    from pasta_pipeline_spark.queries.catalog.t05_multimodal import (
        _edit_distance_oracle,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert (
        edit_distance_pairs(docs, "doc_id", "text", block_cap=1).count() == 0
    )
    full = {
        (r.doc_a, r.doc_b, r.dist)
        for r in edit_distance_pairs(docs, "doc_id", "text", block_cap=None).collect()
    }
    capped = {
        (r.doc_a, r.doc_b, r.dist)
        for r in edit_distance_pairs(docs, "doc_id", "text", block_cap=5).collect()
    }
    assert capped <= full
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    duck = {tuple(r) for r in con.execute(_edit_distance_oracle(block_cap=5)).fetchall()}
    assert capped == duck


def test_planted_minhash_recall_bands(spark):
    """Per-band contracts at fixture scale: the m=6 band sits almost
    entirely below θ=0.5 (the fixture brackets the threshold by
    construction), and recall climbs the Broder curve with m —
    measured sf0.001: m10 0.84, m16 0.94, m24 1.0; floors pinned a
    band under the measurements so a banding regression fails loudly
    while fixture drift doesn't."""
    from pasta_pipeline_spark.operators.text_dedup import planted_minhash_recall

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = {r.drop_mod: r for r in planted_minhash_recall(docs).collect()}
    assert set(rows) == {6, 10, 16, 24}
    assert rows[6].n_true <= rows[6].n_planted // 4  # mostly below θ
    for m in (10, 16, 24):
        assert rows[m].n_true == rows[m].n_planted  # above θ by design
    assert rows[10].recall_sc >= 600_000, rows[10]
    assert rows[16].recall_sc >= 800_000, rows[16]
    assert rows[24].recall_sc >= 950_000, rows[24]
