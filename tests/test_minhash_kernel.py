"""Bit-exact pin of the MinHash signature kernel and the banding helper.

The reference is the pre-kernel Spark plan, kept here verbatim: one
``groupBy(doc)`` with k ``min(pmod(a_i * (x & 0x7FFFFFFF) + b_i, M31))``
aggregates writing columns ``mh0..mh{k-1}``, banded as
``xxhash64(mh{j*r}, ..., mh{j*r+r-1})``. The kernel must reproduce it
value for value, so oracle hashes and benchmark recall do not move.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pasta_pipeline_spark.operators.text_dedup import (
    _MERSENNE31,
    _hash60,
    _lsh_bands,
    _md5_minhash_sigs,
    _minhash_params,
    _minhash_sigs,
    _shingle_table,
)

K = 64
BANDS = 16


def _reference_sigs(xh, num_hashes: int = K):
    """The old 64-``min`` aggregate over a (doc, x) frame."""
    x = F.col("x").bitwiseAND(F.lit(0x7FFFFFFF))
    return xh.groupBy("doc").agg(
        *[
            F.min(
                F.pmod(
                    F.lit(a).cast("long") * x + F.lit(b).cast("long"),
                    F.lit(_MERSENNE31).cast("long"),
                )
            ).alias(f"mh{i}")
            for i, (a, b) in enumerate(_minhash_params(num_hashes))
        ]
    )


def _kernel_sigs(xh, num_hashes: int = K):
    xs = xh.groupBy("doc").agg(F.collect_list("x").alias("xs"))
    return _minhash_sigs(xs, num_hashes)


def _by_doc_ref(ref, num_hashes: int = K) -> dict:
    return {r["doc"]: [r[f"mh{i}"] for i in range(num_hashes)] for r in ref.collect()}


def _by_doc_sig(sigs) -> dict:
    return {r["doc"]: list(r["sig"]) for r in sigs.collect()}


def test_kernel_matches_min_aggregate_on_xxhash64_shingles(spark):
    """xxhash64 base hashes — negative ones, the long extremes (the
    mask must drop the sign bit exactly as bitwiseAND does), docs with
    a single shingle and docs repeating a shingle."""
    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "single"),
        (4, "a b a b a b a b a b"),
        (5, "spark shuffles partitions and spark shuffles again"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sh = _shingle_table(docs, "doc_id", "text", 3).select("doc", F.col("sh").alias("x"))
    extremes = spark.createDataFrame(
        [
            (6, -(1 << 63)),
            (6, (1 << 63) - 1),
            (6, -1),
            (6, 0),
            (7, -123456789012345),
            (7, -123456789012345),  # repeated shingle hash
            (8, -(1 << 31)),
        ],
        "doc long, x long",
    )
    xh = sh.unionByName(extremes)
    assert xh.where(F.col("x") < 0).count() > 0  # negative hashes are covered

    ref = _by_doc_ref(_reference_sigs(xh))
    got = _by_doc_sig(_kernel_sigs(xh))
    assert set(got) == set(ref) == set(range(1, 9))
    for doc, row in ref.items():
        assert got[doc] == row, doc


def test_kernel_matches_min_aggregate_on_md5_family(spark):
    """The audits' md5 base hash (first 15 hex digits of md5 of the
    shingle string), exactly as the old audits spelled it inline."""
    texts = [
        (10, "Near duplicate detection keeps the training corpus clean"),
        (11, "near duplicate detection keeps the training corpus clean!"),
        (12, "one two"),
        (13, "x y z x y z x y z"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sh = _shingle_table(docs, "doc_id", "text", 3, hashed=False)
    old_x = F.conv(F.substring(F.md5(F.col("sh").cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )
    ref = _by_doc_ref(_reference_sigs(sh.select("doc", old_x.alias("x"))))
    got = _by_doc_sig(_md5_minhash_sigs(sh, K))
    assert set(got) == set(ref) == {10, 11, 12, 13}
    for doc, row in ref.items():
        assert got[doc] == row, doc
    # the helper's base hash is the shared _hash60 column, same values
    same = sh.select((_hash60(F.col("sh")) == old_x).alias("eq"))
    assert same.where(~F.col("eq")).count() == 0


def test_band_hash_matches_per_column_xxhash64(spark):
    """``bh`` of band j equals ``xxhash64(mh{4j}, ..., mh{4j+3})`` over
    the old column layout, for every doc and band."""
    texts = [(i, f"doc {i} shares some words with doc {i % 3} and more") for i in range(12)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    xh = _shingle_table(docs, "doc_id", "text", 3).select("doc", F.col("sh").alias("x"))
    r = K // BANDS
    band_cols = [
        F.struct(
            F.lit(j).alias("band"),
            F.xxhash64(*[F.col(f"mh{j * r + i}") for i in range(r)]).alias("bh"),
        )
        for j in range(BANDS)
    ]
    ref = _reference_sigs(xh).select("doc", F.explode(F.array(*band_cols)).alias("b"))
    want = {(x["doc"], x["b"]["band"]): x["b"]["bh"] for x in ref.collect()}
    got = {
        (x["doc"], x["band"]): x["bh"]
        for x in _lsh_bands(_kernel_sigs(xh), K, BANDS).collect()
    }
    assert len(want) == 12 * BANDS
    assert got == want


def test_kernel_drops_empty_lists(spark):
    """A doc with an empty base-hash list produces no signature row —
    the same rows an exploded groupBy yields."""
    xs = spark.createDataFrame(
        [(1, [5, 7]), (2, []), (3, [-9]), (4, [])], "doc long, xs array<bigint>"
    )
    ref = _by_doc_ref(_reference_sigs(xs.select("doc", F.explode("xs").alias("x")), 8), 8)
    got = _by_doc_sig(_minhash_sigs(xs, 8))
    assert set(ref) == {1, 3}
    assert got == ref
