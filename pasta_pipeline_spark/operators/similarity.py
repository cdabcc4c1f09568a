"""Embedding similarity search (SURVEY.md §7 M6).

Brute-force cosine top-k as the exact baseline, plus a sign-LSH
(random-hyperplane) bucketed variant as the scale path.

Numeric discipline: elements are cast float→double *before* any
arithmetic and accumulated left-to-right (``F.aggregate`` folds
sequentially), which makes the result bit-identical to DuckDB's
``list_dot_product`` over ``DOUBLE[]`` — verified empirically — so the
exact paths are oracle-checkable with no tolerance games.

Scale notes (100 TB posture):
- brute-force top-k for Q queries is a broadcast of the Q×d query
  matrix + one scan: fine for small Q at any corpus size (compiles to
  TakeOrderedAndProject per query via window top-k);
- the LSH path shuffles on bucket id; multiprobe widens recall without
  rescanning. IVF (k-means cells) would slot in the same API but needs
  a training step — LSH is stateless and deterministic, the right
  first rung.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pasta_pipeline_spark.operators.util import localize_small


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product of two array<float|double>."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Exact top-k by cosine against a single-row query DataFrame.
    Returns (vec_id, sim) with deterministic id tiebreak."""
    from pasta_pipeline_spark.operators.util import ensure_parallelism

    j = ensure_parallelism(embeddings).crossJoin(F.broadcast(query))
    sim = cosine(F.col(vec_col), F.col(query_vec_col)).alias("sim")
    return (
        j.select(F.col(id_col), sim)
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def knn_join(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Exact k-NN join: for every query row, its k nearest corpus
    vectors by cosine. Broadcast the (small) query side; rank with a
    per-query window — one scan of the corpus regardless of |Q|."""
    from pasta_pipeline_spark.operators.util import ensure_parallelism

    j = ensure_parallelism(embeddings).crossJoin(F.broadcast(queries))
    sim = cosine(F.col(vec_col), F.col(query_vec_col)).alias("sim")
    ranked = j.select(F.col(query_id_col), F.col(id_col), sim).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
        ),
    )
    return ranked.filter(F.col("rank") <= k).drop("rank")


# ---------------------------------------------------------------------------
# sign-LSH (random hyperplane) bucketing — the approximate scale path
# ---------------------------------------------------------------------------


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components in [-1, 1):
    splitmix64-mixed (plane, dim) index — no RNG state, reproducible
    across runs and languages."""
    comps = []
    for d in range(dim):
        z = (plane_idx * 0x9E3779B97F4A7C15 + d * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB) % (
            1 << 64
        )
        z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
        z = (z ^ (z >> 27)) * 0x94D049BB133111EB % (1 << 64)
        z ^= z >> 31
        comps.append((z % 2000001) / 1000000.0 - 1.0)
    return comps


def with_lsh_bucket(
    df: DataFrame, vec_col: str, dim: int, num_planes: int = 12, out_col: str = "bucket"
) -> DataFrame:
    """Append a sign-LSH bucket id: bit p = sign(<vec, plane_p>)."""
    bucket = None
    for p in range(num_planes):
        plane = F.array(*[F.lit(c) for c in _hyperplane(dim, p)])
        bit = F.when(dot(F.col(vec_col), plane) >= 0, F.lit(1)).otherwise(F.lit(0))
        term = F.shiftleft(bit.cast("long"), p)
        bucket = term if bucket is None else bucket + term
    return df.withColumn(out_col, bucket)


def with_lsh_bands(
    df: DataFrame,
    vec_col: str,
    dim: int,
    num_planes: int = 4,
    num_bands: int = 1,
    band_col: str = "band",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Explode each row into ``num_bands`` (band, bucket) rows; band b
    buckets with its OWN deterministic plane set (global plane indices
    ``b*num_planes + p``), so band 0 reproduces the single-band
    :func:`with_lsh_bucket` gate exactly.

    OR-of-bands is the scale-safe LSH structure (the same banding
    MinHash-LSH uses for text): candidate recall for a pair with
    per-plane agreement probability q is ``1-(1-q^planes)^bands`` —
    monotonically INCREASING in bands — so growing the corpus 100×
    adds bands (recall up, candidates bounded per band) instead of
    planes (recall down exponentially). A single 2^planes-bucket table
    must choose between bucket size and recall; L independent band
    tables get both.
    """
    entries = []
    for band in range(num_bands):
        bucket = None
        for p in range(num_planes):
            plane = F.array(
                *[F.lit(c) for c in _hyperplane(dim, band * num_planes + p)]
            )
            bit = F.when(dot(F.col(vec_col), plane) >= 0, F.lit(1)).otherwise(F.lit(0))
            term = F.shiftleft(bit.cast("long"), p)
            bucket = term if bucket is None else bucket + term
        entries.append(
            F.struct(
                F.lit(band).cast("int").alias(band_col), bucket.alias(bucket_col)
            )
        )
    return (
        df.withColumn("__bb", F.explode(F.array(*entries)))
        .select(
            *df.columns,
            F.col(f"__bb.{band_col}").alias(band_col),
            F.col(f"__bb.{bucket_col}").alias(bucket_col),
        )
        .drop("__bb")
    )


#: Default per-(band, bucket) membership cap for LSH candidate
#: generation (see :func:`cap_band_buckets`). High enough that it
#: never binds on a healthy population at test scales; at 100 TB it is
#: the guard that keeps a degenerate bucket from going quadratic.
DEFAULT_BUCKET_CAP = 4096


def cap_band_buckets(
    banded: DataFrame,
    order_col: str,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    band_col: str = "band",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Bound every (band, bucket) group of a :func:`with_lsh_bands`
    frame to its first ``bucket_cap`` members — the hot-bucket guard
    for every sign-LSH candidate generator (the vector-tier analog of
    the text tiers' Jaccard hot-key fallback / winnowing hot-fp cap).

    Why: pair generation inside a bucket is quadratic in its size. A
    degenerate population — embedding-space hubs, near-zero vectors
    that all land on the same side of every hyperplane, a single-topic
    corpus — can concentrate one (band, bucket) and turn the
    "near-linear" gate into O(B²) on a single join key. The cap bounds
    any bucket's pair contribution at cap², making worst-case candidate
    volume ``bands · 2^planes · cap²`` regardless of the data.

    Membership is deterministic and population-unbiased: rows rank by
    ``md5(cast(id as string))`` (tie-broken by the id), so the kept
    subset is a stable pseudo-random sample rather than an id-prefix —
    both engines (Spark and the DuckDB oracle twins, which replay this
    exact rank) agree bit-for-bit.

    Recall effect (documented contract): a pair is lost only if in
    EVERY band where the two rows collide, at least one of them ranks
    past the cap. OR-of-bands softens the loss the same way it builds
    recall — independent plane sets keep independent samples — and the
    default (:data:`DEFAULT_BUCKET_CAP`) is far above any healthy
    bucket at test scale, so the cap only engages on populations where
    the uncapped plan would not finish anyway.

    Cost: one narrow row_number window over (band, bucket, id) — the
    hot bucket sorts O(B log B) three-column rows in one task instead
    of emitting O(B²) join rows; vector columns are pruned below the
    window by Catalyst when callers project them away afterwards.

    ``bucket_cap=None`` disables the guard (exact banding).

    The frame is hash-repartitioned on (band, bucket) with an EXPLICIT
    width first (util.pair_verify_parallelism): the window needs that
    clustering anyway, the downstream band join reuses it, and the
    stage after this exchange is where every candidate pays the exact
    verify (cosine fold / JL estimate) — compute-dense rows whose byte
    volume is tiny, exactly the shape AQE's byte-based coalescing
    serializes to one task (r13 stage profile; the r14 targeted fix).
    """
    from pasta_pipeline_spark.operators.util import pair_verify_parallelism

    banded = pair_verify_parallelism(banded, band_col, bucket_col)
    if bucket_cap is None:
        return banded
    w = Window.partitionBy(band_col, bucket_col).orderBy(
        F.md5(F.col(order_col).cast("string")), F.col(order_col)
    )
    return (
        banded.withColumn("__bkrn", F.row_number().over(w))
        .where(F.col("__bkrn") <= bucket_cap)
        .drop("__bkrn")
    )


def bucket_cap_rank_sql(id_sql: str) -> str:
    """ORDER BY key of the cap rank as DuckDB SQL — must stay in
    lockstep with :func:`cap_band_buckets` (md5 of the decimal string
    rendering, id tiebreak) so oracle twins replay the identical
    membership at any scale."""
    return f"md5(CAST({id_sql} AS VARCHAR)), {id_sql}"


#: Anchor corpus size for the sign-LSH auto-calibration: the
#: operators' base (planes, bands) defaults were tuned at ~2k vectors
#: (the sf0.1 embeddings corpus). At or below this size auto resolves
#: to the base config exactly, so the sf0.01/sf0.001 oracle gates are
#: byte-stable; above it the growth recipe engages.
LSH_CALIBRATED_N = 2000


def auto_lsh_config(
    n: int,
    base_planes: int = 4,
    base_bands: int = 1,
    calibrated_n: int = LSH_CALIBRATED_N,
    linear_pair_growth: bool = False,
) -> tuple[int, int]:
    """Resolve the sign-LSH (num_planes, num_bands) for a corpus of
    ``n`` vectors — the growth recipe as the DEFAULT, not documentation
    (r8 verdict ask #1: fixed-plane configs are calibrated to one
    corpus size; at 10× the vectors, bucket occupancy n/2^planes grows
    10× and in-bucket pair generation ~100× — super-linear BY CONFIG).

    Recipe (measured in the r8 scale ladder's *_recalibrated rows, in
    the tree at commit 0a831ac —
    hard_negatives 37× → 8.2×, semantic_dedup 12.4× → 2.6× on the same
    10× data):

    - ``planes += round(log2(n / calibrated_n))`` — each extra plane
      halves expected bucket occupancy, so candidate volume per band
      stays ~linear in n instead of quadratic;
    - ``bands <<= extra_planes // 2`` — sharper gates lose per-pair
      recall; OR-of-bands restores it with independent plane sets
      (recall = 1-(1-q^planes)^bands grows in bands) while each band's
      buckets stay small.

    ``linear_pair_growth=True`` (r11) caps the band growth at 4× the
    base (two doublings) and folds it back into the planes —
    ``planes += extra + min(extra // 2, 2)`` — so per-band bucket
    occupancy SHRINKS as bands multiply and the per-row candidate
    count stays ~constant instead of growing with the band factor:
    total gate pair volume becomes ~linear in n (occ·bands ≈
    occ₀·bands₀) rather than n·2^(extra/2), and the per-VECTOR banding
    cost planes·bands stays ~log n (the r11 sf10 profile: uncapped
    band growth made banding itself the super-linear term — 448
    hyperplane folds per vector at 200k). The price is per-band
    selectivity q^planes for moderate-similarity pairs, partially
    repaid by the extra bands — the right trade for TOP-K MINING
    consumers (hard negatives / positives), where candidates are
    ranked and the contract is the best k, not an exhaustive
    above-threshold pair list. Threshold-DEDUP consumers
    (semantic_dedup: a missed pair is a kept duplicate) stay on the
    default recipe, which buys recall with band growth. Measured r11
    at sf1 (20k vectors): gate pairs 24.3M → 12.4M, same planted-
    partner recall contract.

    At ``n <= calibrated_n`` this is exactly the base config, which is
    what keeps the catalog oracles (replaying fixed plane constants in
    DuckDB) bit-stable at the gate scale factors. When the recipe DOES
    grow past the base it logs a warning naming n and both configs —
    if a correctness-gate fixture ever outgrows ``calibrated_n``, the
    otherwise-opaque oracle hash mismatch comes with this breadcrumb
    (r9 advisor finding); ``tests/test_tooling_consistency.py`` pins
    the gate corpora at <= calibrated_n so the drift fails a test
    before it fails the gate.
    """
    if n <= calibrated_n or calibrated_n <= 0:
        return base_planes, base_bands
    extra = int(math.floor(math.log2(n / calibrated_n) + 0.5))
    band_shift = min(extra // 2, 2) if linear_pair_growth else extra // 2
    planes_extra = extra + band_shift if linear_pair_growth else extra
    resolved = (base_planes + planes_extra, base_bands << band_shift)
    logging.getLogger(__name__).warning(
        "auto_lsh_config: n=%d grew base (planes=%d, bands=%d) -> %s; "
        "fixed-plane-constant oracles will NOT match at this corpus size",
        n, base_planes, base_bands, resolved,
    )
    return resolved


def ann_topk_lsh(
    embeddings: DataFrame,
    query: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to the
    query's LSH bucket plus all 1-bit-flip neighbor buckets
    (multiprobe). Recall is tunable via num_planes / probe radius;
    results are deterministic. No oracle — inherently approximate."""
    emb_b = with_lsh_bucket(embeddings, vec_col, dim, num_planes)
    q_b = with_lsh_bucket(query, query_vec_col, dim, num_planes, out_col="qbucket")
    probes = F.array(
        F.col("qbucket"),
        *[F.col("qbucket").bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)],
    )
    q_probed = q_b.select(
        F.col(query_vec_col), F.explode(probes).alias("bucket")
    )
    cand = emb_b.join(F.broadcast(q_probed), "bucket")
    sim = cosine(F.col(vec_col), F.col(query_vec_col)).alias("sim")
    return (
        cand.select(F.col(id_col), sim)
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = False,
    dim: int | None = None,
    num_planes: int | None = None,
    num_bands: int = 1,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    base_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the vector tier of the
    dedup ladder): all (id_a < id_b) with cosine >= threshold.

    ``num_planes=None`` (the default) auto-calibrates (planes, bands)
    from the corpus size via :func:`auto_lsh_config`, with this
    operator's base config (8, ``num_bands``) — a 100× corpus cannot
    silently run a one-size gate. Explicit ``num_planes`` pins the
    config (the catalog oracles do, replaying fixed plane constants).

    Exact mode self-joins the corpus (right for corpora that fit a
    broadcast or where exactness is required — it is the oracle for
    the LSH mode). ``use_lsh=True`` restricts candidates to sign-LSH
    band-bucket collisions first (OR over ``num_bands`` independent
    plane sets — :func:`with_lsh_bands`) — the scale path: near-linear
    for high thresholds, and recall GROWS with bands, so a 100× corpus
    tunes up bands rather than trading bucket size against recall.
    Every emitted pair truly clears the threshold (exact cosine on
    candidates); banding only affects which pairs are considered, and
    each (band, bucket) is bounded by ``bucket_cap``
    (:func:`cap_band_buckets` — the hot-bucket guard).
    """
    from pasta_pipeline_spark.operators.util import (
        attach_cached_deps,
        ensure_parallelism,
    )

    # one norm fold per VECTOR up front instead of two per candidate
    # pair in the verify — bit-identical to the inline cosine (same
    # sequential fold, same sqrt; the DuckDB twins keep inline norms)
    src = ensure_parallelism(
        embeddings.select(
            F.col(id_col),
            F.col(vec_col),
            F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
        )
    )
    if use_lsh:
        if dim is None:
            raise ValueError("use_lsh=True requires dim")
        # the banded gate + two vector joinbacks read src three times —
        # persist the one-column-pair scan; the caller releases via
        # util.release_cached_deps (bench/oracle runners do)
        src = src.persist()
        if num_planes is None:
            # one count over the persisted two-column scan (planning
            # metadata, not row data) resolves the growth recipe;
            # callers with a different base (semantic_dedup's (4, b))
            # pass base_planes through so the calibration count rides
            # THIS persisted scan instead of re-counting upstream
            num_planes, num_bands = auto_lsh_config(
                src.count(), base_planes=base_planes, base_bands=num_bands
            )
        banded = cap_band_buckets(
            with_lsh_bands(src, vec_col, dim, num_planes, num_bands),
            id_col,
            bucket_cap,
        )
        # the vector + norm ride THROUGH the band join and every
        # collision row computes the exact cosine IN the join
        # projection (r11 sf10 finding: the old shape distinct-ed the
        # candidate frame and joined the corpus vectors back onto it —
        # two shuffles of a pair-scale frame once the vector side
        # outgrows the broadcast threshold; in-join the pair frame
        # never re-shuffles and the distinct runs AFTER the threshold
        # filter, over the true-duplicate survivors only). A pair
        # colliding in several bands pays the fold once per collision
        # (measured dedup factor ~1.0 — independent plane sets rarely
        # agree twice) and the sim is a pure function of the pair, so
        # the post-filter distinct yields the identical output set.
        ab = banded.select(
            F.col(id_col).alias("id_a"),
            "band",
            "bucket",
            F.col(vec_col).alias("va"),
            F.col("__nrm").alias("__na"),
        )
        bb = banded.select(
            F.col(id_col).alias("id_b"),
            "band",
            "bucket",
            F.col(vec_col).alias("vb"),
            F.col("__nrm").alias("__nb"),
        )
        pairs = ab.join(bb, ["band", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
        # NOTE: the zip_with fold stays — a 64-term static element_at
        # sum (the 16-dim jl coarse-rank trick) measured 5x SLOWER
        # here: ~300 expression nodes blow the whole-stage-codegen
        # budget and the projection falls back to interpreted eval
        # (sf1 fresh 9.3 s → 44 s). The static-sum trick is for SHORT
        # folds only.
        sim = (
            dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))
        ).alias("sim")
        out = (
            pairs.select("id_a", "id_b", sim)
            .filter(F.col("sim") >= threshold)
            .distinct()
        )
        return attach_cached_deps(out, [src])
    a = src.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("__nrm").alias("__na"),
    )
    b = src.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("__nrm").alias("__nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    sim = (dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))).alias(
        "sim"
    )
    return pairs.select("id_a", "id_b", sim).filter(F.col("sim") >= threshold)


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid, one row per (label, dimension):
    posexplode → per-(label, pos) mean. Row form (not reassembled
    arrays) keeps the result order-insensitive-hash friendly and the
    shuffle one-phase; `F.array_agg` over a sorted window would
    reassemble if a vector column is needed downstream.

    Sums go through the fixed-point bridge so the means are
    cross-engine exact (see queries/catalog.py module docstring).
    """
    exploded = embeddings.select(
        F.col(label_col).alias("label"), F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    fp = F.floor(F.col("v").cast("double") * 10000000).cast("long")
    return (
        exploded.groupBy("label", "pos")
        .agg((F.sum(fp) / 10000000.0 / F.count(F.lit(1))).alias("centroid"))
    )


def assign_ivf_cells(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine).
    ``centroids`` is a small (cell_id, cv) DataFrame — broadcast; the
    corpus is scanned once and ranked per-vector with a window."""
    j = embeddings.crossJoin(F.broadcast(centroids))
    sim = cosine(F.col(vec_col), F.col("cv")).alias("csim")
    ranked = j.select(F.col(id_col), F.col(vec_col), F.col("cell_id"), sim).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(F.desc("csim"), F.asc("cell_id"))
        ),
    )
    return ranked.filter(F.col("rk") == 1).select(id_col, vec_col, "cell_id")


def train_ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means trainer for IVF cells — pure DataFrame ops,
    fully deterministic (no RNG): seeds are the ``n_cells`` lowest-id
    vectors; each iteration assigns every vector to its nearest
    centroid by cosine (one corpus scan, centroids broadcast) and
    recomputes per-cell dimension means via posexplode. Cells that
    lose every member keep their previous centroid.

    The k×d centroid matrix is localized driver-side per round — it is the
    algorithm's shared state (exactly as in MLlib KMeans) and stays a
    broadcast-sized DataFrame; all per-vector work is distributed. At
    100 TB, train on a deterministic sample (e.g. ``vec_id % m == 0``)
    — centroid quality converges long before the full corpus is seen.

    Returns (cell_id, cv: array<double>).
    """
    w = Window.orderBy(F.asc(id_col))
    cent = (
        embeddings.orderBy(F.asc(id_col))
        .limit(n_cells)
        .select(
            (F.row_number().over(w) - 1).alias("cell_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
    )
    cent = localize_small(cent)
    for _ in range(iterations):
        assigned = assign_ivf_cells(embeddings, cent, id_col, vec_col)
        means = (
            assigned.select("cell_id", F.posexplode(F.col(vec_col)).alias("pos", "v"))
            .groupBy("cell_id", "pos")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
        )
        new_cent = means.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cv")
        )
        cent = (
            cent.alias("o")
            .join(new_cent.alias("n"), "cell_id", "left")
            .select(
                "cell_id", F.coalesce(F.col("n.cv"), F.col("o.cv")).alias("cv")
            )
        )
        cent = localize_small(cent)
    return cent


def ivf_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
    train_iterations: int = 0,
) -> DataFrame:
    """IVF-flavored ANN: deterministic seeding (the ``n_cells``
    lowest-id vectors act as centroids) — or, with
    ``train_iterations > 0``, Lloyd's-trained cells from
    :func:`train_ivf_centroids` — one-scan cell assignment, then exact
    cosine ranking restricted to the query's ``n_probe`` nearest cells.

    At scale the assignment table is computed once and persisted
    alongside the corpus (a partition column — cell-pruned scans);
    queries touch n_probe/n_cells of the data. Training improves
    recall (balanced cells ⇒ the true neighbors concentrate in the
    probed cells) without changing the query path.
    """
    from pasta_pipeline_spark.operators.util import ensure_parallelism

    if train_iterations > 0:
        centroids = train_ivf_centroids(
            embeddings, n_cells, train_iterations, id_col, vec_col
        )
    else:
        w = Window.orderBy(F.asc(id_col))
        centroids = (
            embeddings.orderBy(F.asc(id_col))
            .limit(n_cells)
            .select(
                (F.row_number().over(w) - 1).alias("cell_id"),
                F.col(vec_col).alias("cv"),
            )
        )
    assigned = assign_ivf_cells(
        ensure_parallelism(embeddings), centroids, id_col, vec_col
    )
    qcells = (
        query.crossJoin(F.broadcast(centroids))
        .select(
            F.col(query_vec_col),
            F.col("cell_id"),
            cosine(F.col(query_vec_col), F.col("cv")).alias("csim"),
        )
        .orderBy(F.desc("csim"), F.asc("cell_id"))
        .limit(n_probe)
        .select(query_vec_col, "cell_id")
    )
    cand = assigned.join(F.broadcast(qcells), "cell_id")
    sim = cosine(F.col(vec_col), F.col(query_vec_col)).alias("sim")
    return (
        cand.select(F.col(id_col), sim)
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def write_ivf_partitioned(
    embeddings: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index the way it deploys at 100 TB: the
    corpus written as parquet PARTITIONED BY its cell assignment, so
    a query that probes ``n_probe`` cells reads n_probe/n_cells of
    the files at the SCAN level — partition pruning does the index
    lookup, no runtime filter of the full corpus ever happens.
    Pair with :func:`ivf_topk_pruned`; pruning is pytest-proven via
    the files actually read."""
    assigned = assign_ivf_cells(embeddings, centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(path)


def ivf_topk_pruned(
    spark,
    path: str,
    query: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
) -> DataFrame:
    """IVF query over a :func:`write_ivf_partitioned` index: rank the
    query's ``n_probe`` nearest cells (broadcast centroid table), then
    scan ONLY those cell partitions — the ``cell_id IN (...)`` filter
    lands on the partition column, so Catalyst prunes the other cells'
    files before any IO. Exact cosine rerank inside the probed cells;
    same result contract as ivf_topk over the same assignment."""
    qcells = (
        query.crossJoin(F.broadcast(centroids))
        .select(
            F.col("cell_id"),
            cosine(F.col(query_vec_col), F.col("cv")).alias("csim"),
        )
        .orderBy(F.desc("csim"), F.asc("cell_id"))
        .limit(n_probe)
        .select("cell_id")
    )
    # metadata-scale collect: n_probe small ints — this is the one
    # place a literal IN list is the right tool, because only a
    # literal predicate prunes partitions at planning time
    cells = [r["cell_id"] for r in qcells.collect()]
    scan = spark.read.parquet(path).where(F.col("cell_id").isin(cells))
    sim = cosine(F.col(vec_col), F.col(query_vec_col)).alias("sim")
    return (
        scan.crossJoin(F.broadcast(query.select(query_vec_col)))
        .select(F.col(id_col), sim)
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def quantize_embeddings_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_fp_factor: int = 10000,
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the storage/
    bandwidth step before ANN at scale (int8 vectors are 4× smaller
    than float32; dot products stay proportional within one vector's
    scale).

    scale = 127 / max(|v|); q_i = round(v_i * scale), round half away
    from zero in both engines. Zero vectors quantize to all-zero with a
    NULL scale. Everything is array expressions in one scan — no UDF,
    no shuffle; output is posexploded to (id, pos, q) rows plus the
    fixed-point scale so the result is hash-comparable (q and pos are
    exact integers; the only double — scale — crosses the fixed-point
    bridge).
    """
    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    mx = F.array_max(F.transform(vd, F.abs))
    scale = F.when(mx > 0, F.lit(127.0) / mx)
    q = F.transform(
        vd, lambda v: F.round(v * F.coalesce(scale, F.lit(0.0))).cast("int")
    )
    return (
        embeddings.withColumn("__scale", scale)
        .select(
            F.col(id_col),
            F.floor(F.col("__scale") * scale_fp_factor).cast("long").alias("scale_fp"),
            F.posexplode(q).alias("pos", "q"),
        )
        .select(
            F.col(id_col),
            F.col("pos").cast("long").alias("pos"),
            F.col("q"),
            "scale_fp",
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    num_planes: int | None = None,
    num_bands: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): mark documents whose *embedding* nearly
    duplicates an earlier document's, even when their surface text
    shares nothing — the tier above MinHash in the dedup ladder.

    Keep contract (deterministic, order-free): a vector is dropped iff
    some band-bucket-colliding neighbor (OR over ``num_bands``
    sign-LSH plane sets) with a SMALLER id has cosine >= threshold.
    The smallest id of every near-dup group always survives; chains
    (a~b, b~c, a!~c) keep the chain heads — same greedy contract as
    the paper's per-cluster keep-one, with the LSH band buckets
    standing in for the k-means cluster (both are cheap locality gates
    before the exact cosine check).

    ``num_planes=None`` (the default) auto-calibrates (planes, bands)
    from the corpus size via :func:`auto_lsh_config` with this
    operator's base config (4, ``num_bands``): a 100× corpus gets
    sharper buckets AND more bands without the caller knowing the
    recipe. Explicit ``num_planes`` pins the config. The calibration
    count happens INSIDE :func:`cosine_dup_pairs`, after it persists
    its two-column scan — not on the raw input — so auto-calibration
    costs one cached count, never an extra lineage recomputation (the
    r9 advisor finding).

    Scale shape: band-gated pair join (near-linear for tight
    thresholds) + one distinct + one left join on the id — no O(n²)
    scan, no collect. Returns (id_col, kept 0/1).
    """
    pairs = cosine_dup_pairs(
        embeddings,
        threshold,
        id_col=id_col,
        vec_col=vec_col,
        use_lsh=True,
        dim=dim,
        num_planes=num_planes,
        num_bands=num_bands,
        bucket_cap=bucket_cap,
        base_planes=4,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    out = (
        embeddings.select(id_col)
        .join(dropped.withColumn("__drop", F.lit(1)), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__drop").isNull(), 1).otherwise(0).cast("int").alias("kept"),
        )
    )
    # forward the pair stage's persisted scan to the final frame so
    # the runner's release walks it
    return attach_cached_deps(out, getattr(pairs, "_pasta_cached_deps", []))


#: Anchor corpus size for the IVF cell-count auto-recipe — shared with
#: the LSH calibration anchor so the two gate families grow from the
#: same baseline, and gate-scale fixtures (pinned <= LSH_CALIBRATED_N
#: by tests/test_tooling_consistency.py) resolve to the base config in
#: both.
IVF_BASE_CELLS = 8


def auto_ivf_cells(
    n: int,
    base_cells: int = IVF_BASE_CELLS,
    calibrated_n: int = LSH_CALIBRATED_N,
) -> int:
    """Resolve the IVF cell count for a corpus of ``n`` vectors —
    ``max(base_cells, round(sqrt(n)))`` above the calibration anchor.

    Why √n: a cluster gate's two cost terms are the centroid
    assignment (n·cells cosines) and the within-cell exact verify
    (Σ|cell|² ≈ n²/cells for balanced cells); their sum n·c + n²/c is
    minimized at c = √n, where BOTH terms are n^1.5 — the same
    asymptotic as the recall-first LSH banding recipe (NOTES #66's
    n·√(n/calibrated) verifies) but with a directly CONTROLLABLE
    knob and no per-vector banding cost growing with n. Unlike the
    LSH recipe, pair volume is Σ|cell|²/2 — a quantity the cell
    count bounds at ~n²/(2c) in the BALANCED/expected-occupancy case
    (√n per cell at c = √n). k-means does NOT balance cells by
    construction: a tightly clustered corpus can pile most vectors
    into one cell and push the within-cell verify back toward n²/2,
    which is exactly what :func:`ivf_cell_profile` exists to catch —
    run it as the mandatory pre-flight skew check before trusting a
    cell budget on a new corpus.

    At ``n <= calibrated_n`` resolves to ``base_cells`` exactly, which
    keeps the catalog oracles (replaying an unrolled fixed-cell
    Lloyd's in DuckDB) bit-stable at the gate scale factors; past the
    anchor it logs the growth breadcrumb, same contract as
    :func:`auto_lsh_config`.
    """
    if n <= calibrated_n or calibrated_n <= 0:
        return base_cells
    resolved = max(base_cells, int(round(math.sqrt(float(n)))))
    logging.getLogger(__name__).warning(
        "auto_ivf_cells: n=%d grew base_cells=%d -> %d; fixed-cell "
        "oracles will NOT match at this corpus size",
        n, base_cells, resolved,
    )
    return resolved


def _nearest_cells(
    src: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    id_col: str,
    vec_col: str,
    carry_norm: bool,
    emit_csim: bool = False,
) -> DataFrame:
    """Assign every ``src`` vector to its ``n_probe`` nearest centroids
    by cosine (ties broken by cell_id asc — a total order, so both
    engines pick the same cell). ``centroids`` is (cell_id, cv,
    __cnrm) — broadcast; ``src`` must carry ``__nrm``.

    n_probe=1 (every catalog gate) runs as ONE Arrow map stage (guide
    §4.2): the centroid matrix is metadata the algorithm already holds
    driver-side (it was the broadcast build), so it rides the task
    closure and each batch computes every cosine with vectorized
    per-dim accumulation — the same sequential fold order as the
    interpreted zip_with/aggregate tree, so scores are bit-identical
    (see :func:`_seq_dots`), with the same max(struct(csim, -cell))
    argmax semantics (:func:`_argmax_rows`; pytest-pinned). This
    replaces a crossJoin + argmax exchange + corpus-scale id join-back
    with zero exchanges, and swaps the per-row interpreted HOF fold
    (the r13 profile's dominant per-task cost) for NumPy batch math.

    n_probe>1 (multiprobe, test/tooling paths) keeps the JVM shape:
    the slim (id, cell_id, csim) rank window — carrying the vector
    through that sort multiplied its byte volume ~12× (measured sf1:
    24 s → 12 s fresh after slimming), so the vector is re-attached by
    one id join; callers must distinct their pair output (a pair
    sharing several probed cells collides once per cell).
    """
    if n_probe == 1:
        return _assign_cells_arrow(src, centroids, id_col, vec_col, carry_norm, emit_csim)
    payload = [F.col(id_col), F.col(vec_col)] + (
        [F.col("__nrm")] if carry_norm else []
    )
    j = src.select(F.col(id_col), F.col(vec_col), F.col("__nrm")).crossJoin(
        F.broadcast(centroids)
    )
    csim = (dot(F.col(vec_col), F.col("cv")) / (F.col("__nrm") * F.col("__cnrm"))).alias(
        "__csim"
    )
    slim = j.select(F.col(id_col), F.col("cell_id"), csim)
    assigned = _argmax_cells(slim, n_probe, id_col, "cell_id", emit_csim)
    return assigned.join(src.select(*payload), id_col)


def _assign_cells_arrow(
    src: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    carry_norm: bool,
    emit_csim: bool = False,
) -> DataFrame:
    """The n_probe=1 assignment as one mapInPandas stage — see
    :func:`_nearest_cells`. The payload (vector + norm) passes THROUGH
    the kernel, so no join re-attaches it and the stage adds zero
    exchanges. Requires uniform vector length (every caller filters
    ``size(vec) == dim`` upstream)."""
    crows = sorted(
        centroids.select("cell_id", "cv", "__cnrm").collect(),
        key=lambda r: r["cell_id"],
    )
    cells = [int(r["cell_id"]) for r in crows]
    cvs = [[float(x) for x in r["cv"]] for r in crows]
    cnrms = [float(r["__cnrm"]) for r in crows]
    return _assign_cells_arrow_prepared(
        src, cells, cvs, cnrms, id_col, vec_col, carry_norm, emit_csim
    )


def _assign_cells_arrow_prepared(
    src: DataFrame,
    cells: list[int],
    cvs: list[list[float]],
    cnrms: list[float],
    id_col: str,
    vec_col: str,
    carry_norm: bool,
    emit_csim: bool = False,
) -> DataFrame:
    """:func:`_assign_cells_arrow` over already-collected centroid
    state (cells ASCENDING — the argmax tie order)."""
    from pasta_pipeline_spark.operators.util import ensure_package_on_workers

    ensure_package_on_workers(src.sparkSession)
    idt = src.schema[id_col].dataType.simpleString()
    vt = src.schema[vec_col].dataType.simpleString()
    fields = [f"{id_col} {idt}", "cell_id int", f"{vec_col} {vt}"]
    if carry_norm:
        fields.append("__nrm double")
    if emit_csim:
        fields.append("__ccsim double")
    schema = ", ".join(fields)

    def assign(batches):
        import numpy as np
        import pandas as pd

        C = np.array(cvs)
        cn = np.array(cnrms)
        cid = np.array(cells, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].values]
            )
            nr = pdf["__nrm"].to_numpy(dtype=np.float64)
            with np.errstate(all="ignore"):
                scores = [
                    _seq_dots(V, C[c]) / (nr * cn[c]) for c in range(len(cells))
                ]
            best, bestpos = _argmax_rows(scores)
            out = {
                id_col: pdf[id_col].values,
                "cell_id": cid[bestpos].astype("int32"),
                vec_col: pdf[vec_col].values,
            }
            if carry_norm:
                out["__nrm"] = nr
            if emit_csim:
                out["__ccsim"] = best
            yield pd.DataFrame(out)

    return src.select(F.col(id_col), F.col(vec_col), F.col("__nrm")).mapInPandas(
        assign, schema
    )


def _argmax_cells(
    slim: DataFrame,
    n_probe: int,
    id_col: str,
    cell_col: str,
    emit_csim: bool = False,
) -> DataFrame:
    """The slim deterministic argmax both assignment shapes share: from
    (id, cell, __csim) rows pick each id's ``n_probe`` best cells
    (cosine desc, cell asc — a total order). n_probe=1 runs as a
    map-side-combining max-of-struct (partial SortAggregate collapses
    the cross frame's consecutive same-id runs before the exchange);
    n_probe>1 takes the rank window."""
    extra = [F.col("__st.s").alias("__ccsim")] if emit_csim else []
    if n_probe == 1:
        st = F.max(
            F.struct(
                F.col("__csim").alias("s"),
                (-F.col(cell_col)).cast("long").alias("nc"),
            )
        ).alias("__st")
        return (
            slim.groupBy(id_col)
            .agg(st)
            .select(
                F.col(id_col),
                (-F.col("__st.nc")).cast("int").alias(cell_col),
                *extra,
            )
        )
    w = Window.partitionBy(id_col).orderBy(F.desc("__csim"), F.asc(cell_col))
    return (
        slim.withColumn("__prn", F.row_number().over(w))
        .where(F.col("__prn") <= n_probe)
        .select(
            F.col(id_col),
            F.col(cell_col),
            *([F.col("__csim").alias("__ccsim")] if emit_csim else []),
        )
    )



def train_ivf_centroids_fp(
    embeddings: DataFrame,
    n_cells: int = IVF_BASE_CELLS,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fp_scale: int = 10_000_000,
    sample_mod: int = 1,
) -> DataFrame:
    """Lloyd's k-means trainer with CROSS-ENGINE-EXACT arithmetic —
    the oracle-replayable sibling of :func:`train_ivf_centroids`
    (which keeps its F.avg means; its consumers' contracts are pinned
    on that). Fully deterministic, no RNG: seeds are the ``n_cells``
    lowest-id vectors; each round assigns every vector to its nearest
    centroid (cosine desc, cell_id asc — a total tie order) and
    recomputes per-cell dimension means through the fixed-point bridge
    — ``(Σ floor(v·fp_scale)) / fp_scale / count`` with an int64 sum,
    order-FREE where a double mean is not, so an unrolled DuckDB twin
    reproduces every centroid bit for bit. Cells that lose every
    member keep their previous centroid.

    ``sample_mod`` trains on the deterministic ``id % sample_mod == 0``
    subset (the train_ivf_centroids docstring's 100 TB recipe, made a
    knob): centroid quality converges long before the full corpus is
    seen, and training cost drops from n·cells to (n/mod)·cells per
    round. The k×d centroid state is localized driver-side per round,
    exactly as the avg-based trainer does.

    (r14 measured-and-rejected: computing the means as ``dim``
    element_at sums in one groupBy(cell) — one exchange instead of two
    — ran 1.7x SLOWER than this posexplode shape at sf0.1: the 64
    aggregate buffers blow the codegen budget and the update falls
    back to interpreted eval. The narrow posexplode rows stay.)
    """
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        _train_ivf_rows(
            embeddings, n_cells, iterations, id_col, vec_col, fp_scale, sample_mod
        ),
        "cell_id int, cv array<double>",
    )


def _train_ivf_rows(
    embeddings: DataFrame,
    n_cells: int,
    iterations: int,
    id_col: str,
    vec_col: str,
    fp_scale: int = 10_000_000,
    sample_mod: int = 1,
) -> list[tuple[int, list[float]]]:
    """:func:`train_ivf_centroids_fp` returning the centroid state as
    PYTHON rows — the form every driver-side consumer (norms, coarse
    quantizer, assignment-kernel closures) actually wants. On this
    engine a single driver ACTION costs ~0.45 s of fixed overhead
    (py4j + planning + job), so keeping the k×d state out of
    DataFrames between rounds is the difference between ~1 and ~6
    actions per training run."""
    if "__nrm" in embeddings.columns:
        # caller already carries the norm (the IVF operators' cached
        # src) — reuse it instead of re-deriving the interpreted fold
        # on every training scan (same expression over the same rows)
        src = embeddings.select(F.col(id_col), F.col(vec_col), F.col("__nrm"))
    else:
        src = embeddings.select(
            F.col(id_col),
            F.col(vec_col),
            F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
        )
    if sample_mod > 1:
        src = src.where(F.col(id_col) % sample_mod == 0)
    w = Window.orderBy(F.asc(id_col))
    seed = (
        src.orderBy(F.asc(id_col))
        .limit(n_cells)
        .select(
            (F.row_number().over(w) - 1).cast("int").alias("cell_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
    )
    # centroid state lives DRIVER-SIDE between rounds (it is the
    # broadcast build anyway): one collect per round — the kernel
    # assignment plus the means aggregate — and the empty-cell
    # coalesce, the norm computation, and the array re-assembly all
    # happen on the collected rows instead of as LocalRelation plans
    # (a Project-with-HOF over a LocalRelation does NOT constant-fold:
    # it ran as a 32-task job whose per-task interpreted-projection
    # instantiation cost ~300 ms — the r14 stage profile's top line)
    cent_rows = sorted(
        ((int(r["cell_id"]), [float(x) for x in r["cv"]]) for r in seed.collect()),
        key=lambda r: r[0],
    )

    def _py_norm(v: list[float]) -> float:
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return math.sqrt(acc)

    for _ in range(iterations):
        cells = [c for c, _ in cent_rows]
        cvs = [v for _, v in cent_rows]
        cnrms = [_py_norm(v) for v in cvs]
        assigned = _assign_cells_arrow_prepared(
            src, cells, cvs, cnrms, id_col, vec_col, carry_norm=False
        )
        fp = F.floor(F.col("v").cast("double") * fp_scale).cast("long")
        means = (
            assigned.select(
                "cell_id", F.posexplode(F.col(vec_col)).alias("pos", "v")
            )
            .groupBy("cell_id", "pos")
            .agg(
                (
                    (F.sum(fp).cast("double") / F.lit(float(fp_scale)))
                    / F.count(F.lit(1))
                ).alias("m")
            )
        ).collect()
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(int(r["cell_id"]), {})[int(r["pos"])] = float(r["m"])
        cent_rows = [
            (
                c,
                [m[p] for p in sorted(m)] if (m := by_cell.get(c)) else old,
            )
            for c, old in cent_rows
        ]
    return cent_rows


def _with_cnrm_rows(
    cent_rows: list[tuple[int, list[float]]],
) -> tuple[list[int], list[list[float]], list[float]]:
    """(cells, cvs, cnrms) from trainer rows — norms via the exact
    sequential fold, driver-side (a Project-with-HOF over a
    LocalRelation does not constant-fold — it ran as a 32-task job)."""

    def nrm(v: list[float]) -> float:
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return math.sqrt(acc)

    cells = [c for c, _ in cent_rows]
    cvs = [v for _, v in cent_rows]
    return cells, cvs, [nrm(v) for v in cvs]


#: Cell count past which the FINAL full-corpus assignment defaults to
#: the two-level (coarse-quantizer) shape: below it the flat n·cells
#: cross frame is cheaper than a second argmax pass, and the oracle
#: gate scales (cells = IVF_BASE_CELLS) stay on the flat path their
#: DuckDB twins replay.
IVF_TWO_LEVEL_MIN_CELLS = 64


def auto_coarse_cells(n_cells: int) -> int:
    """Coarse-quantizer size for a two-level assignment over
    ``n_cells`` fine cells: √cells balances the two scoring passes
    (n·coarse for the coarse argmax, n·cells/coarse expected for the
    within-group fine argmax), dropping the full-corpus assignment
    from n·cells cosines to ~2·n·√cells — with cells = √n that is
    n^1.25 instead of n^1.5, the third-decade term named in NOTES
    #75(a). Balance is expected-case (k-means does not balance group
    occupancy by construction)."""
    return max(2, int(round(math.sqrt(float(n_cells)))))


def _seq_norms(mat):
    """Row norms of an n×d float64 matrix with the SEQUENTIAL per-dim
    accumulation order: acc starts at 0.0 and adds one dimension's
    square at a time, so every row's value is bit-identical to the
    interpreted ``sqrt(aggregate(zip_with(v, v, *), 0.0, +))`` fold the
    Spark/DuckDB twins evaluate (IEEE double add/mul are deterministic;
    only the ORDER had to be pinned)."""
    import numpy as np

    acc = np.zeros(mat.shape[0])
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * mat[:, j]
    return np.sqrt(acc)


def _seq_dots(mat, vec):
    """dot(row, vec) for every row, same sequential per-dim order."""
    import numpy as np

    acc = np.zeros(mat.shape[0])
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * vec[j]
    return acc


def _argmax_rows(score_cols):
    """Deterministic per-row argmax over score columns in ascending
    cell order — ``max(struct(csim, -cell))`` semantics: strictly
    greater wins, NaN outranks every number (Spark double ordering),
    ties keep the earlier (smaller) cell. ``score_cols`` is a list of
    n-length arrays, one per cell id 0..k-1. Returns (best, bestc)."""
    import numpy as np

    n = score_cols[0].shape[0]
    best = np.zeros(n)
    bestc = np.zeros(n, dtype=np.int64)
    have = np.zeros(n, dtype=bool)
    for c, s in enumerate(score_cols):
        better = ~have | (s > best) | (np.isnan(s) & ~np.isnan(best))
        best = np.where(better, s, best)
        bestc = np.where(better, c, bestc)
        have |= better
    return best, bestc


def _lloyd_fp_rows(
    rows: list[tuple[int, list[float]]],
    n_cells: int,
    iterations: int,
    fp_scale: int,
) -> list[tuple[int, list[float]]]:
    """Driver-side twin of :func:`train_ivf_centroids_fp` over already-
    collected (id, vec) rows — the METADATA-SCALE fast path (coarse
    quantizer training over the fine centroids: k×d input, the frame is
    broadcast state anyway). Bit-identical arithmetic: lowest-id seeds,
    sequential-fold cosines (per-dim vectorized accumulation keeps the
    fold order, see :func:`_seq_norms`), the same strict-greater /
    NaN-greatest / smallest-cell tie argmax as ``max(struct(csim,
    -cell))``, and fixed-point means ``(double(Σ floor(v·fp)) /
    fp_scale) / count`` with exact int64 sums. Cells that lose every
    member keep their previous centroid. Equivalence to the distributed
    trainer is pytest-pinned (tests/test_local_lloyd.py)."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    V = np.array([r[1] for r in rows], dtype=np.float64)
    n, d = V.shape
    cents = [V[i].copy() for i in range(min(n_cells, n))]
    nrm = _seq_norms(V)
    for _ in range(iterations):
        C = np.array(cents)
        cnrm = _seq_norms(C)
        with np.errstate(all="ignore"):
            scores = [
                _seq_dots(V, C[c]) / (nrm * cnrm[c]) for c in range(len(cents))
            ]
            _, bestc = _argmax_rows(scores)
        vfp = np.floor(V * float(fp_scale)).astype(np.int64)
        new = []
        for c in range(len(cents)):
            m = bestc == c
            cnt = int(m.sum())
            if cnt == 0:
                new.append(cents[c])
                continue
            sums = vfp[m].sum(axis=0)
            new.append(
                np.array(
                    [
                        (float(int(s)) / float(fp_scale)) / float(cnt)
                        for s in sums
                    ]
                )
            )
        cents = new
    return [(c, [float(x) for x in cv]) for c, cv in enumerate(cents)]


def _two_level_structs(
    centroids: DataFrame,
    n_cells: int,
    n_coarse: int | None,
    coarse_iterations: int,
    fp_scale: int,
) -> tuple[DataFrame, DataFrame]:
    """Build the two-level gate's metadata structures from the fine
    centroid frame (cell_id, cv, __cnrm): coarse centroids trained
    over the fine ones (deterministic fixed-point Lloyd's, lowest-
    cell_id seeds), the fine-cell → coarse-group argmax map ``c2c``
    (cell_id, coarse_id, cv, __cnrm), and ``used`` — the coarse rows
    (coarse_id, gv, __gnrm) that won at least one fine cell (a vector
    routed to an empty group would vanish in the member join).

    Everything here is METADATA scale — k×d state that downstream
    consumers broadcast — so the whole construction runs DRIVER-SIDE
    (:func:`_lloyd_fp_rows`): the r13 profile showed the distributed
    form spending ~6 s of pure job round trips training 3 coarse
    centroids over 8 fine rows at sf0.1, and at any scale these
    frames must fit the driver anyway (they are the broadcast build
    side). Arithmetic is bit-identical to the distributed trainer
    (pytest-pinned; the semantic_dedup_2l DuckDB twin replays the
    whole chain hash-exact)."""
    if n_coarse is None:
        n_coarse = auto_coarse_cells(n_cells)
    fine = centroids.select("cell_id", "cv", "__cnrm").collect()
    c2c_rows, used_rows = _two_level_structs_rows(
        [int(r["cell_id"]) for r in fine],
        [[float(x) for x in r["cv"]] for r in fine],
        [float(r["__cnrm"]) for r in fine],
        n_coarse,
        coarse_iterations,
        fp_scale,
    )
    # values are exact (binary IEEE doubles both ways through the
    # collect/createDataFrame round trip), so the downstream broadcast
    # joins see the identical map
    spark = centroids.sparkSession
    c2c = spark.createDataFrame(
        c2c_rows, "cell_id int, coarse_id int, cv array<double>, __cnrm double"
    )
    used = spark.createDataFrame(
        used_rows, "coarse_id int, gv array<double>, __gnrm double"
    )
    return c2c, used


def _two_level_structs_rows(
    fine_ids: list[int],
    fine_vecs: list[list[float]],
    fine_cnrm: list[float],
    n_coarse: int,
    coarse_iterations: int,
    fp_scale: int,
) -> tuple[list[tuple], list[tuple]]:
    """Pure driver-side core of :func:`_two_level_structs`: returns
    (c2c_rows, used_rows) as Python tuples, so the fused assignment
    kernel consumes them with no DataFrame round trip (a collect of
    even a LocalRelation costs ~0.45 s of fixed action overhead on
    this engine)."""
    import numpy as np

    coarse = _lloyd_fp_rows(
        list(zip(fine_ids, fine_vecs)), n_coarse, coarse_iterations, fp_scale
    )
    G = np.array([gv for _, gv in coarse], dtype=np.float64)
    gnrm = _seq_norms(G)
    Vf = np.array(fine_vecs, dtype=np.float64)
    cn = np.array(fine_cnrm)
    with np.errstate(all="ignore"):
        scores = [
            _seq_dots(Vf, G[g]) / (cn * gnrm[g]) for g in range(len(coarse))
        ]
        _, bestg = _argmax_rows(scores)
    c2c_rows = [
        (fine_ids[i], int(bestg[i]), fine_vecs[i], fine_cnrm[i])
        for i in range(len(fine_ids))
    ]
    won = sorted(set(int(b) for b in bestg))
    used_rows = [(g, coarse[g][1], float(gnrm[g])) for g in won]
    return c2c_rows, used_rows


def _nearest_cells_two_level(
    src: DataFrame,
    centroids: DataFrame,
    n_cells: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    carry_norm: bool,
    emit_csim: bool = False,
    n_coarse: int | None = None,
    coarse_iterations: int = 2,
    coarse_probe: int = 1,
    fp_scale: int = 10_000_000,
) -> DataFrame:
    """Two-level (coarse-quantizer) variant of :func:`_nearest_cells`
    — the FAISS IVF production shape for the assignment itself: train
    √cells coarse centroids OVER the fine centroids (metadata-scale
    Lloyd's, same deterministic fixed-point trainer), map each fine
    cell to its nearest coarse group, then assign each vector in two
    slim argmax passes — nearest coarse group first (n·√cells
    cosines), nearest fine cell among that group's members second
    (n·cells/√cells expected). Total scoring ~2·n·√cells vs the flat
    n·cells — the bound on the third-decade assignment term (NOTES
    #75(a): 89M cosines at sf10 flat, 2.8B at 2M vectors).

    The approximation is the standard IVF one: a vector whose true
    nearest fine centroid lives in a different coarse group gets its
    group's best member instead; ``coarse_probe > 1`` scores the
    members of the several nearest coarse groups to buy that boundary
    back at coarse_probe× the fine-pass cost. Every step keeps the
    determinism contract (lowest-id seeds, cosine-desc/cell-asc total
    tie orders, fixed-point means), so an unrolled DuckDB twin
    replays coarse training, the cell→group map, and both argmax
    passes bit for bit.

    ``centroids`` is the fine frame (cell_id, cv, __cnrm) — metadata
    scale (√n rows), broadcast everywhere; ``src`` must carry
    ``__nrm``. Coarse groups that win no fine cell are excluded from
    the vector-level coarse argmax (their member list is empty, so a
    vector sent there would vanish).
    """
    c2c, used = _two_level_structs(
        centroids, n_cells, n_coarse, coarse_iterations, fp_scale
    )
    if n_probe == 1 and coarse_probe == 1:
        # both passes fused into ONE Arrow map stage (guide §4.2): c2c
        # and used are driver-local metadata, so each batch runs the
        # coarse argmax then the within-group fine argmax with the
        # bit-exact kernels (_seq_dots/_argmax_rows) and the payload
        # passes through — zero exchanges and no interpreted per-row
        # folds, vs 2 crossjoins + 2 argmax exchanges + 2 id joins.
        # Multiprobe (n_probe/coarse_probe > 1 — tooling and recall
        # tests) keeps the JVM window shape below.
        return _assign_two_level_arrow(
            src, c2c, used, id_col, vec_col, carry_norm, emit_csim
        )
    # pass 1: vector -> coarse group(s), slim (n·n_coarse cross frame)
    vg = (
        src.select(F.col(id_col), F.col(vec_col), F.col("__nrm"))
        .crossJoin(F.broadcast(used))
        .select(
            F.col(id_col),
            F.col("coarse_id"),
            (
                dot(F.col(vec_col), F.col("gv")) / (F.col("__nrm") * F.col("__gnrm"))
            ).alias("__csim"),
        )
    )
    v2g = _argmax_cells(vg, coarse_probe, id_col, "coarse_id")
    # pass 2: vector -> fine cell among its group's members (expected
    # cells/n_coarse candidates per vector; the vector rides a linear
    # id join into the streamed broadcast expansion, and only slim
    # (id, cell, csim) rows reach the argmax)
    cand = (
        v2g.join(src.select(F.col(id_col), F.col(vec_col), F.col("__nrm")), id_col)
        .join(F.broadcast(c2c), "coarse_id")
        .select(
            F.col(id_col),
            F.col("cell_id"),
            (
                dot(F.col(vec_col), F.col("cv")) / (F.col("__nrm") * F.col("__cnrm"))
            ).alias("__csim"),
        )
    )
    assigned = _argmax_cells(cand, n_probe, id_col, "cell_id", emit_csim)
    payload = [F.col(id_col), F.col(vec_col)] + (
        [F.col("__nrm")] if carry_norm else []
    )
    return assigned.join(src.select(*payload), id_col)


def _assign_two_level_arrow(
    src: DataFrame,
    c2c: DataFrame,
    used: DataFrame,
    id_col: str,
    vec_col: str,
    carry_norm: bool,
    emit_csim: bool = False,
) -> DataFrame:
    """The n_probe=1/coarse_probe=1 two-level assignment as one
    mapInPandas stage — see :func:`_nearest_cells_two_level`. Same
    deterministic contract: coarse argmax (csim desc, coarse asc, NaN
    greatest), then fine argmax over that group's member cells (cell
    asc ties). Requires uniform vector length (callers filter
    ``size(vec) == dim``)."""
    return _assign_two_level_arrow_prepared(
        src,
        [
            (int(r["cell_id"]), int(r["coarse_id"]), [float(x) for x in r["cv"]], float(r["__cnrm"]))
            for r in c2c.collect()
        ],
        [
            (int(r["coarse_id"]), [float(x) for x in r["gv"]], float(r["__gnrm"]))
            for r in used.collect()
        ],
        id_col,
        vec_col,
        carry_norm,
        emit_csim,
    )


def _assign_two_level_arrow_prepared(
    src: DataFrame,
    c2c_rows: list[tuple],
    used_rows: list[tuple],
    id_col: str,
    vec_col: str,
    carry_norm: bool,
    emit_csim: bool = False,
) -> DataFrame:
    """:func:`_assign_two_level_arrow` over already-collected metadata
    rows (c2c: (cell, coarse, cv, cnrm); used: (coarse, gv, gnrm))."""
    from pasta_pipeline_spark.operators.util import ensure_package_on_workers

    ensure_package_on_workers(src.sparkSession)
    urows = sorted(used_rows, key=lambda r: r[0])
    groups = [int(r[0]) for r in urows]
    gvs = [[float(x) for x in r[1]] for r in urows]
    gnrms = [float(r[2]) for r in urows]
    members: dict[int, list] = {g: [] for g in groups}
    for r in sorted(c2c_rows, key=lambda r: r[0]):
        members[int(r[1])].append(
            (int(r[0]), [float(x) for x in r[2]], float(r[3]))
        )
    idt = src.schema[id_col].dataType.simpleString()
    vt = src.schema[vec_col].dataType.simpleString()
    fields = [f"{id_col} {idt}", "cell_id int", f"{vec_col} {vt}"]
    if carry_norm:
        fields.append("__nrm double")
    if emit_csim:
        fields.append("__ccsim double")
    schema = ", ".join(fields)

    def assign(batches):
        import numpy as np
        import pandas as pd

        G = np.array(gvs)
        gn = np.array(gnrms)
        mem = {
            gi: (
                np.array([cv for _, cv, _ in members[g]]),
                np.array([cn for _, _, cn in members[g]]),
                np.array([cid for cid, _, _ in members[g]], dtype=np.int64),
            )
            for gi, g in enumerate(groups)
        }
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].values]
            )
            nr = pdf["__nrm"].to_numpy(dtype=np.float64)
            with np.errstate(all="ignore"):
                gscores = [
                    _seq_dots(V, G[gi]) / (nr * gn[gi])
                    for gi in range(len(groups))
                ]
            _, gpos = _argmax_rows(gscores)
            cell_out = np.zeros(n, dtype=np.int64)
            csim_out = np.zeros(n)
            for gi in range(len(groups)):
                m = gpos == gi
                if not m.any():
                    continue
                Cm, cn_m, cid_m = mem[gi]
                Vm = V[m]
                nrm_m = nr[m]
                with np.errstate(all="ignore"):
                    fscores = [
                        _seq_dots(Vm, Cm[c]) / (nrm_m * cn_m[c])
                        for c in range(len(cid_m))
                    ]
                fbest, fpos = _argmax_rows(fscores)
                cell_out[m] = cid_m[fpos]
                csim_out[m] = fbest
            out = {
                id_col: pdf[id_col].values,
                "cell_id": cell_out.astype("int32"),
                vec_col: pdf[vec_col].values,
            }
            if carry_norm:
                out["__nrm"] = nr
            if emit_csim:
                out["__ccsim"] = csim_out
            yield pd.DataFrame(out)

    return src.select(F.col(id_col), F.col(vec_col), F.col("__nrm")).mapInPandas(
        assign, schema
    )


def ivf_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    n_cells: int | None = None,
    iterations: int = 2,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_mod: int | None = None,
    fp_scale: int = 10_000_000,
    two_level: bool | None = None,
    n_coarse: int | None = None,
    coarse_probe: int = 1,
) -> DataFrame:
    """Embedding near-duplicate pairs gated by Lloyd's-trained IVF
    cells instead of sign-LSH bands — the SemDedup paper's own gate
    (Abbas et al. 2023 cluster k-means, then dedup within clusters):
    all (id_a < id_b) sharing a probed cell with exact cosine >=
    ``threshold``.

    Why this exists next to the banded :func:`cosine_dup_pairs`
    (r11's flagged frontier, NOTES #66): at fixed recall the banding
    recipe's pair volume grows with band count and bucket occupancy —
    statistics the corpus controls; a cluster gate caps the candidate
    set at Σ|cell|²/2 with the cell count a direct knob
    (:func:`auto_ivf_cells` resolves c = √n, putting assignment and
    verify both at n^1.5 under balanced occupancy — k-means does not
    guarantee balance, so audit a new corpus with
    :func:`ivf_cell_profile` first). The trade is geometric recall (a near-dup
    pair straddling a cell boundary is missed) instead of statistical
    recall — measured, not assumed, via
    :func:`cluster_gate_recall_report`; ``n_probe > 1`` assigns each
    vector to its several nearest cells (multiprobe) to buy boundary
    recall at n_probe× the assignment and pair volume.

    Determinism: seeds, assignment tie-order, and fixed-point means
    (:func:`train_ivf_centroids_fp`) are all total-ordered, so an
    unrolled DuckDB twin replays the whole pipeline — training
    included — bit for bit. Every emitted pair truly clears the
    threshold (exact cosine, carried vector + norm in the join
    projection — the r11 carried-sidecar shape; the pair frame never
    re-shuffles).

    ``n_cells=None`` auto-resolves via :func:`auto_ivf_cells`;
    ``train_sample_mod=None`` auto-trains on ~64·cells vectors above
    the calibration anchor (full corpus at gate scales), the
    deterministic ``id % mod == 0`` subset.

    ``two_level=None`` auto-switches the FINAL full-corpus assignment
    to the coarse-quantizer shape (:func:`_nearest_cells_two_level`)
    once ``n_cells >= IVF_TWO_LEVEL_MIN_CELLS`` — sampled training
    is already linear, so the flat n·cells assignment was the last
    super-linear term (n^1.5 with cells = √n; two-level is ~n^1.25).
    ``two_level=False`` forces flat (what the fixed-config oracles
    replay); ``two_level=True`` forces the two-level path at any cell
    count (what its own oracle replays at gate scale). ``coarse_probe``
    buys back coarse-boundary recall at coarse_probe× the fine pass.
    """
    from pasta_pipeline_spark.operators.util import (
        attach_cached_deps,
        pair_verify_parallelism,
    )

    # ONE explicit hash exchange on the id, cached: every downstream
    # groupBy(id) argmax (trainer + assignment passes) and id join-back
    # reuses the cached partitioning with NO further exchange (guide
    # §2.4 — operations keyed the same way share one exchange). The
    # old round-robin ensure_parallelism bought scan parallelism but
    # left every argmax/join to re-shuffle the corpus; explicit width
    # keeps AQE's byte-based coalescing from serializing the
    # compute-dense cosine stages (r14 targeted fix).
    src = pair_verify_parallelism(
        embeddings.where(F.size(F.col(vec_col)) == dim).select(
            F.col(id_col),
            F.col(vec_col),
            F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
        ),
        id_col,
    ).persist()
    n = None
    if n_cells is None:
        n = src.count()
        n_cells = auto_ivf_cells(n)
    if train_sample_mod is None:
        if n is None:
            n = src.count()
        train_sample_mod = (
            1 if n <= LSH_CALIBRATED_N else max(1, n // (64 * n_cells))
        )
    # centroid state stays in PYTHON rows end to end (training, norms,
    # coarse structs, assignment-kernel closures): on this engine a
    # single driver action costs ~0.45 s fixed, so every avoided
    # DataFrame round trip of k×d metadata is real wall time. The
    # multiprobe paths (n_probe/coarse_probe > 1 — tooling and recall
    # tests) still build the frames the JVM window shape needs.
    cent_rows = _train_ivf_rows(
        src, n_cells, iterations, id_col, vec_col, fp_scale, train_sample_mod
    )
    cells, cvs, cnrms = _with_cnrm_rows(cent_rows)
    if two_level is None:
        two_level = n_cells >= IVF_TWO_LEVEL_MIN_CELLS
        if two_level:
            logging.getLogger(__name__).warning(
                "ivf_dup_pairs: n_cells=%d >= %d — full-corpus assignment "
                "auto-switched to the two-level coarse-quantizer shape "
                "(~2·n·sqrt(cells) scoring vs flat n·cells); fixed-config "
                "oracles replay the FLAT path only",
                n_cells, IVF_TWO_LEVEL_MIN_CELLS,
            )
    cent_df = lambda: src.sparkSession.createDataFrame(  # noqa: E731
        list(zip(cells, cvs, cnrms)),
        "cell_id int, cv array<double>, __cnrm double",
    )
    if two_level:
        if n_probe == 1 and coarse_probe == 1:
            c2c_rows, used_rows = _two_level_structs_rows(
                cells,
                cvs,
                cnrms,
                n_coarse if n_coarse is not None else auto_coarse_cells(n_cells),
                2,
                fp_scale,
            )
            assigned = _assign_two_level_arrow_prepared(
                src, c2c_rows, used_rows, id_col, vec_col, carry_norm=True
            )
        else:
            assigned = _nearest_cells_two_level(
                src,
                cent_df(),
                n_cells,
                n_probe,
                id_col,
                vec_col,
                carry_norm=True,
                n_coarse=n_coarse,
                coarse_probe=coarse_probe,
                fp_scale=fp_scale,
            )
    elif n_probe == 1:
        assigned = _assign_cells_arrow_prepared(
            src, cells, cvs, cnrms, id_col, vec_col, carry_norm=True
        )
    else:
        assigned = _nearest_cells(
            src, cent_df(), n_probe, id_col, vec_col, carry_norm=True
        )
    # pin the pair-verify exchange: the within-cell join's stage pays a
    # 64-dim cosine per candidate row — compute-dense, byte-light, the
    # exact shape AQE's byte-based coalescing serializes to one task
    # (r13 stage profile: a 1.77 s single-task verify over a 548 KB
    # shuffle). Both pair sides derive from this one frame, so the
    # explicit exchange is shared.
    assigned = pair_verify_parallelism(assigned, "cell_id")
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        "cell_id",
        F.col(vec_col).alias("va"),
        F.col("__nrm").alias("__na"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        "cell_id",
        F.col(vec_col).alias("vb"),
        F.col("__nrm").alias("__nb"),
    )
    sim = (dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))).alias(
        "sim"
    )
    pairs = (
        a.join(b, "cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim)
        .filter(F.col("sim") >= threshold)
    )
    if n_probe > 1:
        pairs = pairs.distinct()
    return attach_cached_deps(pairs, [src])


def semantic_dedup_clustered(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    n_cells: int | None = None,
    iterations: int = 2,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    two_level: bool | None = None,
    n_coarse: int | None = None,
    coarse_probe: int = 1,
) -> DataFrame:
    """SemDedup with the paper's own cluster gate (Abbas et al. 2023,
    arXiv:2303.09540 §3: k-means the embeddings, dedup WITHIN each
    cluster) — the bounded-pair-volume sibling of
    :func:`semantic_dedup`, built for the second decade the LSH-band
    recipe could not hold at fixed cost (the r11 scale ladder's one
    flag; its output is in the tree at commit 0a831ac).

    Same keep contract: a vector is dropped iff some cell-sharing
    neighbor with a SMALLER id has cosine >= threshold; the smallest
    id of every near-dup group always survives, chains keep their
    heads. Returns (id_col, kept 0/1). Gate volume is Σ|cell|²/2 with
    cells = √n by default (:func:`auto_ivf_cells`) — ~n^1.5 total
    work with a controllable constant, vs the banded recipe's
    n·√(n/calibrated)·bands. Recall is geometric (cell-boundary
    misses); audit it with :func:`cluster_gate_recall_report` before
    trusting a threshold. ``two_level=None`` auto-switches the
    full-corpus assignment to the coarse-quantizer shape past
    ``IVF_TWO_LEVEL_MIN_CELLS`` fine cells (n^1.25 scoring instead of
    the flat n^1.5 — the third-decade bound, NOTES #75(a)).
    """
    pairs = ivf_dup_pairs(
        embeddings,
        threshold,
        dim=dim,
        n_cells=n_cells,
        iterations=iterations,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        two_level=two_level,
        n_coarse=n_coarse,
        coarse_probe=coarse_probe,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    out = (
        embeddings.select(id_col)
        .join(dropped.withColumn("__drop", F.lit(1)), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__drop").isNull(), 1).otherwise(0).cast("int").alias("kept"),
        )
    )
    return attach_cached_deps(out, getattr(pairs, "_pasta_cached_deps", []))


def semantic_dedup_auto(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchor: int | None = None,
    num_bands: int = 2,
    n_probe: int = 1,
) -> DataFrame:
    """SemDedup front door — picks the gate the corpus size calls for
    (the r12 verdict's ask #3: stop running the banded recipe at
    scales where its band-collision pair volume is the known flag):

    - ``n <= anchor`` (default :data:`LSH_CALIBRATED_N`): the banded
      :func:`semantic_dedup` — at gate scale its measured recall is
      the better of the two families (NOTES #70: sf0.01 LSH 0.424 vs
      IVF 0.441 is a wash; sf1 LSH 0.158 vs IVF-n_probe-1 0.088) and
      its pair volume is harmless below the calibration anchor.
    - above the anchor: :func:`semantic_dedup_clustered` — pair volume
      capped at Σ|cell|²/2 by the cell count (√n cells; audit skew
      with :func:`ivf_cell_profile`), and past
      :data:`IVF_TWO_LEVEL_MIN_CELLS` cells the assignment itself
      auto-switches to the two-level n^1.25 shape. Measured sf10:
      clustered 100.0s ratio 7.7 vs banded 115.3s ratio 14.49 (r12
      scale ladder, in the tree at commit 0a831ac) — the banded
      recipe's flag is a price tag this front door simply stops paying
      at scale.

    Keep contract is IDENTICAL either way (smallest id of every gated
    near-dup group survives; returns ``(id_col, kept 0/1)``); what
    changes across the anchor is which locality gate proposes pairs —
    the same growth-breadcrumb contract as :func:`auto_lsh_config`
    (the switch is logged, and fixed-config oracles replay the
    at-anchor path).

    The dispatch count is one aggregate over the id column — metadata
    scale, same class as the auto-calibration counts both branches
    already pay.
    """
    if anchor is None:
        anchor = LSH_CALIBRATED_N
    n = embeddings.where(F.size(F.col(vec_col)) == dim).count()
    if n <= anchor:
        return semantic_dedup(
            embeddings, threshold, dim=dim,
            num_planes=None, num_bands=num_bands,
            id_col=id_col, vec_col=vec_col,
        )
    logging.getLogger(__name__).warning(
        "semantic_dedup_auto: n=%d > anchor %d — routing to the "
        "cluster gate (banded band-collision volume is the known "
        "super-linear term past the anchor; r12 scale ladder sf10 banded "
        "ratio 14.49 vs clustered 7.7)",
        n, anchor,
    )
    return semantic_dedup_clustered(
        embeddings, threshold, dim=dim,
        n_cells=None, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )


def cluster_gate_recall_report(
    embeddings: DataFrame,
    threshold: float,
    dim: int = 64,
    n_cells: int | None = None,
    iterations: int = 2,
    n_probe: int = 1,
    max_n: int | None = 4000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recall_scale: int = 1_000_000,
    two_level: bool | None = None,
    n_coarse: int | None = None,
    coarse_probe: int = 1,
) -> DataFrame:
    """Measured recall of the IVF cluster gate at ``threshold`` — the
    :func:`gate_recall_report` instrument pointed at
    :func:`semantic_dedup_clustered`'s gate.

    Unlike the LSH audit (whose per-pair recall depends only on the
    config, so it replays the gate over the subsample), a cluster
    gate's recall depends on the trained centroid GEOMETRY — replaying
    it on a subsample with subsample-sized cells would audit different
    geometry than production runs. So this audit runs the PRODUCTION
    gate over the FULL corpus (config resolved from the full count,
    training included) and measures it against brute-force ground
    truth on the bounded md5-ranked subsample: recall = |gate pairs
    with both endpoints in the subsample| / |true subsample pairs|.
    The gate's exact verify admits no false positives, so the
    numerator is automatically a subset of the denominator. Ground
    truth stays ~constant-cost at any corpus size; the gate side is
    the production run being audited anyway. Returns ONE row:
    (n_vectors, n_true_pairs, n_gated_pairs, recall_sc) — n_vectors is
    the subsample size, recall_sc = floor(recall·1e6), NULL when no
    true pairs exist.
    """
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    valid = embeddings.where(F.size(F.col(vec_col)) == dim).select(
        F.col(id_col), F.col(vec_col)
    )
    sub = valid
    if max_n is not None:
        sub = sub.orderBy(
            F.md5(F.col(id_col).cast("string")), F.col(id_col).asc()
        ).limit(max_n)
    sub = sub.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
    ).persist()
    a = sub.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("__nrm").alias("__na"),
    )
    b = sub.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("__nrm").alias("__nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))
    true_pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(sim >= threshold)
        .select("id_a", "id_b")
    )
    gated_raw = ivf_dup_pairs(
        valid,
        threshold,
        dim=dim,
        n_cells=n_cells,
        iterations=iterations,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        two_level=two_level,
        n_coarse=n_coarse,
        coarse_probe=coarse_probe,
    )
    sub_ids = sub.select(F.col(id_col))
    gated_in_sub = (
        gated_raw.join(
            sub_ids.select(F.col(id_col).alias("id_a")), "id_a", "left_semi"
        ).join(sub_ids.select(F.col(id_col).alias("id_b")), "id_b", "left_semi")
    )
    n_vec = sub.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    n_true = true_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    n_gated = gated_in_sub.agg(
        F.count(F.lit(1)).cast("long").alias("n_gated_pairs")
    )
    out = (
        n_vec.crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(n_gated))
        .select(
            "n_vectors",
            "n_true_pairs",
            "n_gated_pairs",
            F.when(
                F.col("n_true_pairs") > 0,
                F.floor(
                    F.col("n_gated_pairs").cast("double")
                    / F.col("n_true_pairs").cast("double")
                    * recall_scale
                ).cast("long"),
            ).alias("recall_sc"),
        )
    )
    return attach_cached_deps(
        out, [sub] + list(getattr(gated_raw, "_pasta_cached_deps", []))
    )


def ivf_threshold_sweep(
    embeddings: DataFrame,
    dim: int,
    n_cells: int | None = None,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_scale: int = 20,
) -> DataFrame:
    """Dedup-threshold planning sweep over the CLUSTER gate — the
    histogram read before committing a :func:`semantic_dedup_clustered`
    threshold, over exactly the pair population that gate would see.

    Exists because the banded :func:`cosine_threshold_sweep` keeps
    EVERY gated pair (no threshold filter can prune it), which makes
    it the catalog's most pair-volume-sensitive query: at sf10 it
    inherits the recall-first banding recipe's full n·√(n/calibrated)
    pair volume (measured 226.6 s / ratio 15.75, the r12 scale ladder's
    flag; its output is in the tree at commit 0a831ac).
    The cluster gate bounds the same readout at Σ|cell|²/2 by
    construction — the sweep's cost is the profile
    :func:`ivf_cell_profile` prints, with cells = √n by default.

    Same output contract as cosine_threshold_sweep: (sim_bucket,
    n_pairs, cum_pairs_ge) ordered by bucket descending, sim_bucket =
    floor(sim·sim_scale); the cumulative window runs over ≤
    2·sim_scale+1 rows.
    """
    pairs = ivf_dup_pairs(
        embeddings,
        threshold=-2.0,  # keep every gated pair; cosine >= -1 always
        dim=dim,
        n_cells=n_cells,
        iterations=iterations,
        id_col=id_col,
        vec_col=vec_col,
    )
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    hist = (
        pairs.select(
            F.floor(F.col("sim") * sim_scale).cast("long").alias("sim_bucket")
        )
        .groupBy("sim_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    w = (
        Window.orderBy(F.desc("sim_bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = hist.withColumn(
        "cum_pairs_ge", F.sum("n_pairs").over(w).cast("long")
    ).orderBy(F.desc("sim_bucket"))
    return attach_cached_deps(out, getattr(pairs, "_pasta_cached_deps", []))


def ivf_cell_profile(
    embeddings: DataFrame,
    dim: int,
    n_cells: int | None = None,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Occupancy profile of the trained IVF cells — the observability
    a curation team reads BEFORE running the cluster-gated dedup
    (the key_skew_profile counterpart for the vector tier): per cell,
    the member count and the deterministic min/max member ids. The
    gate's pair volume is exactly Σ n_members·(n_members−1)/2, so a
    hot cell here IS the cost and the multiprobe/recall discussion,
    made visible as data. One bounded row per cell (cells = √n by
    default via :func:`auto_ivf_cells`). Same deterministic training
    and assignment as :func:`ivf_dup_pairs`, so the profile describes
    the gate that would actually run.
    """
    from pasta_pipeline_spark.operators.util import (
        attach_cached_deps,
        pair_verify_parallelism,
    )

    # ONE explicit hash exchange on the id, cached: every downstream
    # groupBy(id) argmax (trainer + assignment passes) and id join-back
    # reuses the cached partitioning with NO further exchange (guide
    # §2.4 — operations keyed the same way share one exchange). The
    # old round-robin ensure_parallelism bought scan parallelism but
    # left every argmax/join to re-shuffle the corpus; explicit width
    # keeps AQE's byte-based coalescing from serializing the
    # compute-dense cosine stages (r14 targeted fix).
    src = pair_verify_parallelism(
        embeddings.where(F.size(F.col(vec_col)) == dim).select(
            F.col(id_col),
            F.col(vec_col),
            F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
        ),
        id_col,
    ).persist()
    if n_cells is None:
        n_cells = auto_ivf_cells(src.count())
    cells, cvs, cnrms = _with_cnrm_rows(
        _train_ivf_rows(src, n_cells, iterations, id_col, vec_col)
    )
    assigned = _assign_cells_arrow_prepared(
        src, cells, cvs, cnrms, id_col, vec_col, carry_norm=False
    )
    out = (
        assigned.groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min(F.col(id_col)).alias("min_id"),
            F.max(F.col(id_col)).alias("max_id"),
            (
                F.count(F.lit(1)).cast("long")
                * (F.count(F.lit(1)).cast("long") - F.lit(1))
                / F.lit(2)
            )
            .cast("long")
            .alias("gate_pairs"),
        )
    )
    return attach_cached_deps(out, [src])


def ivf_assign_profile(
    embeddings: DataFrame,
    dim: int,
    n_cells: int | None = None,
    iterations: int = 2,
    n_coarse: int | None = None,
    coarse_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assignment-cost profile of the IVF gate — the exact cosine
    counts each assignment shape would pay on THIS corpus with THIS
    trained geometry, made data (the :func:`ivf_cell_profile`
    counterpart for the assignment term, NOTES #75(a)):

    - ``cosines_flat`` = n·cells — what :func:`_nearest_cells` scores;
    - ``cosines_coarse_pass`` = n·used_groups and
      ``cosines_fine_pass`` = Σ_g assigned(g)·members(g) — the two
      passes :func:`_nearest_cells_two_level` scores, summed in
      ``cosines_two_level``.

    The fine pass is computed from the REAL coarse assignment counts,
    not the balanced expectation, so a skewed coarse map shows up here
    the same way a hot cell shows up in the cell profile. One row.
    """
    from pasta_pipeline_spark.operators.util import (
        attach_cached_deps,
        pair_verify_parallelism,
    )

    # ONE explicit hash exchange on the id, cached: every downstream
    # groupBy(id) argmax (trainer + assignment passes) and id join-back
    # reuses the cached partitioning with NO further exchange (guide
    # §2.4 — operations keyed the same way share one exchange). The
    # old round-robin ensure_parallelism bought scan parallelism but
    # left every argmax/join to re-shuffle the corpus; explicit width
    # keeps AQE's byte-based coalescing from serializing the
    # compute-dense cosine stages (r14 targeted fix).
    src = pair_verify_parallelism(
        embeddings.where(F.size(F.col(vec_col)) == dim).select(
            F.col(id_col),
            F.col(vec_col),
            F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
        ),
        id_col,
    ).persist()
    if n_cells is None:
        n_cells = auto_ivf_cells(src.count())
    if n_coarse is None:
        n_coarse = auto_coarse_cells(n_cells)
    cells, cvs, cnrms = _with_cnrm_rows(
        _train_ivf_rows(src, n_cells, iterations, id_col, vec_col)
    )
    c2c_rows, used_rows = _two_level_structs_rows(
        cells, cvs, cnrms, n_coarse, coarse_iterations, 10_000_000
    )
    spark = src.sparkSession
    c2c = spark.createDataFrame(
        c2c_rows, "cell_id int, coarse_id int, cv array<double>, __cnrm double"
    )
    used = spark.createDataFrame(
        used_rows, "coarse_id int, gv array<double>, __gnrm double"
    )
    vg = (
        src.select(F.col(id_col), F.col(vec_col), F.col("__nrm"))
        .crossJoin(F.broadcast(used))
        .select(
            F.col(id_col),
            F.col("coarse_id"),
            (
                dot(F.col(vec_col), F.col("gv")) / (F.col("__nrm") * F.col("__gnrm"))
            ).alias("__csim"),
        )
    )
    v2g = _argmax_cells(vg, 1, id_col, "coarse_id")
    members = c2c.groupBy("coarse_id").agg(
        F.count(F.lit(1)).cast("long").alias("__members")
    )
    per_group = (
        v2g.groupBy("coarse_id")
        .agg(F.count(F.lit(1)).cast("long").alias("__assigned"))
        .join(F.broadcast(members), "coarse_id")
        .agg(
            F.sum(F.col("__assigned") * F.col("__members"))
            .cast("long")
            .alias("cosines_fine_pass")
        )
    )
    n_vec = src.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    n_used = used.agg(
        F.count(F.lit(1)).cast("long").alias("n_coarse_used")
    )
    out = (
        n_vec.crossJoin(F.broadcast(n_used))
        .crossJoin(F.broadcast(per_group))
        .select(
            "n_vectors",
            F.lit(n_cells).cast("long").alias("n_cells"),
            F.lit(n_coarse).cast("long").alias("n_coarse"),
            "n_coarse_used",
            (F.col("n_vectors") * F.lit(n_cells)).cast("long").alias("cosines_flat"),
            (F.col("n_vectors") * F.col("n_coarse_used"))
            .cast("long")
            .alias("cosines_coarse_pass"),
            "cosines_fine_pass",
            (
                F.col("n_vectors") * F.col("n_coarse_used")
                + F.col("cosines_fine_pass")
            )
            .cast("long")
            .alias("cosines_two_level"),
        )
    )
    return attach_cached_deps(out, [src])


def semantic_dedup_diverse(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    n_cells: int | None = None,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-gated SemDedup with the PAPER'S keep policy (Abbas et
    al. 2023 §3.2: within a duplicate group, keep the example with
    the LOWEST cosine similarity to its cluster centroid — the least
    redundant representative, preserving diversity at the cluster
    boundary) instead of the smallest-id convention
    :func:`semantic_dedup_clustered` shares with the banded tier.

    Contract (deterministic, order-free): for every cell-confined
    pair with cosine >= threshold, the LOSER — dropped — is the side
    whose (centroid_sim, id) is lexicographically LARGER (more
    central ⇒ more redundant; ties break on the larger id). A vector
    is dropped iff it loses ANY pair — the same greedy shape as the
    keep-smallest-id contract, just under the paper's diversity
    order, so chains keep their least-central heads. Returns
    (id_col, kept 0/1); wrong-dim vectors are excluded from the gate
    and kept. The DuckDB twin replays training, assignment (centroid
    sim carried out of the argmax), and the loser rule bit for bit.
    """
    from pasta_pipeline_spark.operators.util import (
        attach_cached_deps,
        pair_verify_parallelism,
    )

    # ONE explicit hash exchange on the id, cached: every downstream
    # groupBy(id) argmax (trainer + assignment passes) and id join-back
    # reuses the cached partitioning with NO further exchange (guide
    # §2.4 — operations keyed the same way share one exchange). The
    # old round-robin ensure_parallelism bought scan parallelism but
    # left every argmax/join to re-shuffle the corpus; explicit width
    # keeps AQE's byte-based coalescing from serializing the
    # compute-dense cosine stages (r14 targeted fix).
    src = pair_verify_parallelism(
        embeddings.where(F.size(F.col(vec_col)) == dim).select(
            F.col(id_col),
            F.col(vec_col),
            F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
        ),
        id_col,
    ).persist()
    if n_cells is None:
        n_cells = auto_ivf_cells(src.count())
    cells, cvs, cnrms = _with_cnrm_rows(
        _train_ivf_rows(src, n_cells, iterations, id_col, vec_col)
    )
    assigned = _assign_cells_arrow_prepared(
        src, cells, cvs, cnrms, id_col, vec_col, carry_norm=True, emit_csim=True
    )
    # pin the pair-verify exchange (see ivf_dup_pairs): both pair sides
    # share this one explicit-width exchange
    assigned = pair_verify_parallelism(assigned, "cell_id")
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        "cell_id",
        F.col(vec_col).alias("va"),
        F.col("__nrm").alias("__na"),
        F.col("__ccsim").alias("cs_a"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        "cell_id",
        F.col(vec_col).alias("vb"),
        F.col("__nrm").alias("__nb"),
        F.col("__ccsim").alias("cs_b"),
    )
    sim = (dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))).alias(
        "sim"
    )
    pairs = (
        a.join(b, "cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cs_a", "cs_b", sim)
        .filter(F.col("sim") >= threshold)
    )
    a_wins = (F.col("cs_a") < F.col("cs_b")) | (
        (F.col("cs_a") == F.col("cs_b")) & (F.col("id_a") < F.col("id_b"))
    )
    dropped = (
        pairs.select(
            F.when(a_wins, F.col("id_b")).otherwise(F.col("id_a")).alias(id_col)
        )
        .distinct()
    )
    out = (
        embeddings.select(id_col)
        .join(dropped.withColumn("__drop", F.lit(1)), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__drop").isNull(), 1).otherwise(0).cast("int").alias("kept"),
        )
    )
    return attach_cached_deps(out, [src])


def embedding_outliers(
    embeddings: DataFrame,
    k: int = 5,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_fp_scale: int = 10_000_000,
) -> DataFrame:
    """Embedding-space outlier detection: the ``k`` vectors FARTHEST
    from their label's centroid, per label — the embedding-level
    quality gate (mislabeled/garbage vectors sit far from their
    cluster's mass; CLIP-score-style filtering is this same shape with
    a learned centroid).

    Exactness contract: the centroid reuses label_centroids' exact
    fixed-point mean; each dimension's squared deviation is floored to
    int64 BEFORE summing (``Σ floor((v_i-c_i)² · scale)``), so the
    distance is an order-free integer in both engines and the top-k
    (dist desc, id asc) is hash-stable.

    Scale shape: centroid table is |labels|·dims rows — broadcast; the
    deviation sum is one groupBy on the vector id; the top-k window
    partitions by label. No UDF, no driver state.
    """
    from pyspark.sql import Window

    cents = label_centroids(embeddings, label_col=label_col, vec_col=vec_col)
    exploded = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    dev_fp = F.floor(
        (F.col("v").cast("double") - F.col("centroid"))
        * (F.col("v").cast("double") - F.col("centroid"))
        * F.lit(dist_fp_scale)
    ).cast("long")
    dists = (
        exploded.join(F.broadcast(cents), ["label", "pos"])
        .groupBy("vid", "label")
        .agg(F.sum(dev_fp).alias("dist_fp"))
    )
    w = Window.partitionBy("label").orderBy(F.desc("dist_fp"), F.asc("vid"))
    return (
        dists.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("vid").alias(id_col),
            "label",
            "dist_fp",
            F.col("rk").cast("long").alias("rk"),
        )
    )


def cross_corpus_cosine_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float,
    dim: int,
    num_planes: int | None = None,
    num_bands: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Embedding-level benchmark-contamination pairs: (train, eval)
    vector pairs with cosine >= threshold, gated by sign-LSH
    band-bucket collision (OR over ``num_bands`` plane sets) — the
    semantic complement to the shingle-based contamination_check
    (paraphrased leakage has no shared n-grams but lands in the same
    embedding neighborhood).

    The join is BETWEEN corpora (never a self-join): each side bands
    independently with the same deterministic hyperplanes, candidates
    come from the (band, bucket) equi-join deduped across bands, and
    only candidates pay the exact cosine. Contract (same as
    cosine_dup_pairs): every emitted pair truly clears the threshold.
    ``num_planes=None`` (the default) auto-calibrates via
    :func:`auto_lsh_config` on the LARGER side's count (bucket
    occupancy is driven by the bigger corpus), base (4, ``num_bands``).
    """
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    tsrc = train.select(
        F.col(id_col).alias("train_id"), F.col(vec_col).alias("tv")
    ).persist()
    esrc = eval_df.select(
        F.col(id_col).alias("eval_id"), F.col(vec_col).alias("ev")
    ).persist()
    if num_planes is None:
        num_planes, num_bands = auto_lsh_config(
            max(tsrc.count(), esrc.count()), base_planes=4, base_bands=num_bands
        )
    tb = cap_band_buckets(
        with_lsh_bands(tsrc, "tv", dim, num_planes, num_bands),
        "train_id",
        bucket_cap,
    )
    eb = cap_band_buckets(
        with_lsh_bands(esrc, "ev", dim, num_planes, num_bands),
        "eval_id",
        bucket_cap,
    )
    cand = (
        tb.select("train_id", "band", "bucket")
        .join(eb.select("eval_id", "band", "bucket"), ["band", "bucket"])
        .select("train_id", "eval_id")
        .distinct()
    )
    sim = cosine(F.col("tv"), F.col("ev"))
    out = (
        cand.join(tsrc, "train_id")
        .join(esrc, "eval_id")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("train_id", "eval_id", "sim")
    )
    return attach_cached_deps(out, [tsrc, esrc])


def _quantize_arr(vec: Column) -> tuple[Column, Column]:
    """(q array<long>, scale_fp long) symmetric int8 quantization of a
    vector column as array expressions — same recipe as
    :func:`quantize_embeddings_int8` (scale = 127/max|v|, round half
    away from zero), kept in array form for integer dot products.

    ``scale_fp`` is clamped to >= 1: a vector whose max |component|
    exceeds 127*10000 would floor its fixed-point scale to 0 and be
    silently dropped from ranking by the ``scale_fp > 0`` guard (which
    exists for the all-zero vector, where scale is NULL). Such a
    vector still ranks — with a scale quantized to the smallest
    representable step, i.e. reduced precision beyond |v| ~ 1.27e6,
    the documented supported-magnitude edge."""
    vd = F.transform(vec, lambda v: v.cast("double"))
    mx = F.array_max(F.transform(vd, F.abs))
    scale = F.when(mx > 0, F.lit(127.0) / mx)
    q = F.transform(
        vd, lambda v: F.round(v * F.coalesce(scale, F.lit(0.0))).cast("long")
    )
    # NULL-preserving clamp: Spark's greatest() skips NULL inputs, so
    # guard explicitly — the all-zero vector must stay NULL/excluded
    return q, F.when(
        scale.isNotNull(), F.greatest(F.lit(1), F.floor(scale * 10000))
    ).cast("long")


def quantized_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Top-k by INT8-quantized dot product — the memory-bandwidth tier
    of similarity search: both sides quantize symmetrically (4× less
    data moved than float32; real ANN systems scan int8), the dot
    product is an exact int64 fold over int8 values, and ranking
    divides out the corpus vector's scale in integer arithmetic:

        score_fp = qdot * 10000 div scale_fp_b

    (the query's scale is a constant factor across all candidates, so
    it cannot change the order). Everything after quantization is
    int64 — no float in the ranking key — which makes this the one
    approximate-similarity tier whose ENTIRE path is hash-exact, not
    just deterministic: the oracle replays quantization, integer dot,
    and integer rescale bit for bit.

    |qdot| <= 127*127*dim (~1e6 at dim 64); * 10000 stays far inside
    int64. One corpus scan, broadcast query, TakeOrderedAndProject —
    the same plan shape as cosine_topk.
    """
    from pasta_pipeline_spark.operators.util import ensure_parallelism

    qe, _qs = _quantize_arr(F.col(query_vec_col))
    qb = query.select(qe.alias("qq"))
    ce, cs = _quantize_arr(F.col(vec_col))
    corpus = ensure_parallelism(
        embeddings.select(F.col(id_col), ce.alias("cq"), cs.alias("scale_fp"))
    )
    j = corpus.crossJoin(F.broadcast(qb))
    qdot = F.aggregate(
        F.zip_with(F.col("cq"), F.col("qq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    score = F.expr("qdot * 10000 div scale_fp")
    return (
        j.select(F.col(id_col), qdot.alias("qdot"), F.col("scale_fp"))
        .filter(F.col("scale_fp").isNotNull() & (F.col("scale_fp") > 0))
        .withColumn("score_fp", score)
        .orderBy(F.desc("score_fp"), F.asc(id_col))
        .limit(k)
        .select(id_col, "qdot", "scale_fp", "score_fp")
    )


def _pq_slices(col, n_subspaces: int, sub: int):
    """posexplode a dim-length vector into (m, subvector) rows; the
    subspace width must be a plan-time constant for slice()."""
    return F.posexplode(
        F.array(*[F.slice(col, m * sub + 1, sub) for m in range(n_subspaces)])
    )


def _pq_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_l2fp(a, b):
    """Fixed-point (1e7) subspace L2² via the a·a - 2a·b + b·b
    decomposition — sequential folds, bit-identical to DuckDB
    list_dot_product, one floor."""
    return F.floor(
        (_pq_dot(a, a) - F.lit(2.0) * _pq_dot(a, b) + _pq_dot(b, b))
        * F.lit(10_000_000.0)
    ).cast("long")


def _pq_seed_codebooks(
    embeddings: DataFrame,
    n_subspaces: int,
    sub: int,
    n_codes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Seed codebooks: per subspace, the subvectors of the ``n_codes``
    lowest-id vectors. Returns (m, code, cv: array<double>)."""
    w = Window.orderBy(F.asc(id_col))
    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    return (
        embeddings.orderBy(id_col)
        .limit(n_codes)
        .select(F.col(id_col), vd.alias("v"))
        .withColumn("code", F.row_number().over(w) - 1)
        .select("code", _pq_slices(F.col("v"), n_subspaces, sub).alias("m", "cv"))
    )


def train_pq_codebooks(
    embeddings: DataFrame,
    n_subspaces: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace Lloyd's trainer for PQ codebooks (Jégou et al.
    TPAMI'11 §III: PQ training IS k-means run independently in each
    subspace). Deterministic, no RNG: seeds are the subvectors of the
    ``n_codes`` lowest-id vectors; each round assigns every (vector,
    subspace) slice to its nearest code by the same fixed-point L2²
    the query path uses (broadcast codebook, one corpus scan) and
    recomputes per-(subspace, code) dimension means; codes that lose
    every member keep their previous centroid.

    All ``n_subspaces`` k-means problems train in the SAME scan —
    subspace is just a grouping column — so training cost doesn't grow
    with n_subspaces. The codebook (n_subspaces·n_codes rows) is the
    broadcast-sized shared state, localized driver-side per round exactly
    like train_ivf_centroids; at 100 TB train on a deterministic
    sample (vec_id % s == 0) — codebook quality converges long before
    the corpus is seen. Returns (m, code, cv: array<double>)."""
    if dim % n_subspaces != 0:
        raise ValueError("dim must be divisible by n_subspaces")
    sub = dim // n_subspaces
    cb = localize_small(
        _pq_seed_codebooks(embeddings, n_subspaces, sub, n_codes, id_col, vec_col)
    )
    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    corpus = embeddings.select(F.col(id_col), vd.alias("v")).select(
        id_col, _pq_slices(F.col("v"), n_subspaces, sub).alias("m", "sv")
    )
    for _ in range(iterations):
        scored = corpus.join(F.broadcast(cb), "m").select(
            id_col, "m", "sv", "code", _pq_l2fp(F.col("sv"), F.col("cv")).alias("fp")
        )
        wa = Window.partitionBy(id_col, "m").orderBy(F.asc("fp"), F.asc("code"))
        assigned = (
            scored.withColumn("rk", F.row_number().over(wa))
            .filter(F.col("rk") == 1)
            .select("m", "code", "sv")
        )
        means = (
            assigned.select("m", "code", F.posexplode(F.col("sv")).alias("pos", "x"))
            .groupBy("m", "code", "pos")
            .agg(F.avg("x").alias("mu"))
        )
        new_cb = means.groupBy("m", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))), lambda s: s["mu"]
            ).alias("cv")
        )
        cb = localize_small(
            cb.alias("o")
            .join(new_cb.alias("n"), ["m", "code"], "left")
            .select("m", "code", F.coalesce(F.col("n.cv"), F.col("o.cv")).alias("cv"))
        )
    return cb


def pq_distortion(
    embeddings: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Total PQ quantization distortion: SUM over (vector, subspace)
    of the min-code fixed-point L2² — the k-means objective Lloyd's
    minimizes, as a 1-row DataFrame ``(distortion_fp)``. The codebook
    quality dial: compare seed vs trained codebooks, or n_codes
    candidates, before paying for a full corpus encode. One broadcast
    join + one aggregate; int64 end-to-end (each term is already the
    floored fixed-point the assignment path ranks by)."""
    if dim % n_subspaces != 0:
        raise ValueError("dim must be divisible by n_subspaces")
    sub = dim // n_subspaces
    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    corpus = embeddings.select(F.col(id_col), vd.alias("v")).select(
        id_col, _pq_slices(F.col("v"), n_subspaces, sub).alias("m", "sv")
    )
    per_slice = (
        corpus.join(F.broadcast(codebooks), "m")
        .select(id_col, "m", _pq_l2fp(F.col("sv"), F.col("cv")).alias("fp"))
        .groupBy(id_col, "m")
        .agg(F.min("fp").alias("fp"))
    )
    return per_slice.agg(F.sum("fp").cast("long").alias("distortion_fp"))


def pq_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_subspaces: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
    train_iterations: int = 0,
) -> DataFrame:
    """Product-quantization ANN top-k (Jégou et al., TPAMI'11 — the
    memory tier below int8): vectors compress to ``n_subspaces`` code
    ids (here 4 bytes per 64-dim vector, a 64× reduction over f32),
    and query scoring is ADC — one distance-table lookup per subspace
    instead of a full dot product. The scan moves CODES, not vectors:
    at 100 TB this is the difference between scanning the corpus and
    scanning 1/64th of it, with the exact tier (cosine_topk) as the
    rerank stage over the ADC short-list.

    Default codebooks are SEED codebooks — subvectors of the first
    ``n_codes`` vectors by id; with ``train_iterations > 0`` they are
    Lloyd's-trained per subspace by :func:`train_pq_codebooks` without
    changing the query shape (exactly like ivf_topk's knob). Training
    improves recall — balanced codes mean the ADC distance table
    separates the true neighbors — and the query path stays
    hash-deterministic either way. Everything downstream of the
    doubles is deterministic: subspace
    L2² distances use the dot-product decomposition
    ``a·a - 2a·b + b·b`` (sequential folds, bit-identical to DuckDB
    ``list_dot_product``), floor to fixed point PER TABLE ENTRY, and
    the ADC score is an int64 sum of per-subspace entries — so code
    assignment, the distance table, and the final ranking are all
    hash-exact and the 'approximate' path replays fully in SQL.

    Returns ``(vec_id, adc_fp)`` — the ``k`` smallest approximate
    squared distances (ascending, id tiebreak), fixed-point 1e7.
    ``query`` must be a single row (the same contract as cosine_topk;
    for query batches run one call per query or use knn_join's shape).
    """
    if dim % n_subspaces != 0:
        raise ValueError("dim must be divisible by n_subspaces")
    sub = dim // n_subspaces
    if train_iterations > 0:
        cb = train_pq_codebooks(
            embeddings, n_subspaces, n_codes, dim, train_iterations, id_col, vec_col
        )
    else:
        cb = _pq_seed_codebooks(
            embeddings, n_subspaces, sub, n_codes, id_col, vec_col
        )
    enc = pq_encode(embeddings, cb, n_subspaces, dim, id_col, vec_col)
    return pq_adc_topk(
        enc, query, cb, k, n_subspaces, dim, id_col, query_vec_col
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Encode the corpus against a codebook: per (vector, subspace),
    the nearest code by fixed-point L2² — broadcast join + one groupBy
    with integer-deterministic (fp, code) ties. Returns
    ``(id, m, code)``, the table you PERSIST: at 100 TB the corpus is
    encoded once (n_subspaces small ints per vector — the 64×
    compression), written next to the corpus, and every subsequent
    query runs :func:`pq_adc_topk` over the stored codes without ever
    touching the float vectors again.

    ``carry_cols``: extra columns functionally dependent on the id
    (e.g. an IVF ``cell_id``) carried through the encode groupBy so
    composites don't need a re-join on the id."""
    if dim % n_subspaces != 0:
        raise ValueError("dim must be divisible by n_subspaces")
    from pasta_pipeline_spark.operators.util import ensure_parallelism

    carry = list(carry_cols or [])
    sub = dim // n_subspaces
    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    corpus = ensure_parallelism(
        embeddings.select(F.col(id_col), *carry, vd.alias("v"))
    ).select(
        id_col, *carry, _pq_slices(F.col("v"), n_subspaces, sub).alias("m", "sv")
    )
    return (
        corpus.join(F.broadcast(codebooks), "m")
        .select(
            id_col, *carry, "m", "code",
            _pq_l2fp(F.col("sv"), F.col("cv")).alias("fp"),
        )
        .groupBy(id_col, *carry, "m")
        .agg(
            F.min_by(
                F.col("code"), F.struct(F.col("fp"), F.col("code"))
            ).alias("code")
        )
    )


def pq_adc_topk(
    codes: DataFrame,
    query: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """ADC scoring over PRE-ENCODED codes (:func:`pq_encode`): the
    query builds its n_subspaces×n_codes distance table (fixed-point
    L2² per entry), broadcasts it, and the ranking is one scan of the
    CODES table — an int64 sum of table lookups, no float vectors
    read. Same hash-exact contract and return shape as pq_topk."""
    if dim % n_subspaces != 0:
        raise ValueError("dim must be divisible by n_subspaces")
    sub = dim // n_subspaces
    qsub = query.select(
        _pq_slices(
            F.transform(F.col(query_vec_col), lambda v: v.cast("double")),
            n_subspaces,
            sub,
        ).alias("m", "sv")
    )
    dist_table = qsub.join(F.broadcast(codebooks), "m").select(
        "m", "code", _pq_l2fp(F.col("sv"), F.col("cv")).alias("qfp")
    )
    return (
        codes.join(F.broadcast(dist_table), ["m", "code"])
        .groupBy(id_col)
        .agg(F.sum("qfp").cast("long").alias("adc_fp"))
        .orderBy(F.asc("adc_fp"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-PQ composite — the FAISS IVFADC production shape (Jégou et al.
# TPAMI'11 §V): coarse IVF cells select which inverted lists a query
# touches, and each list stores RESIDUAL product-quantization codes
# scored by ADC. At 100 TB both halves matter: IVF pruning means a
# query scans n_probe/n_cells of the index, and PQ codes mean the
# scanned bytes are n_subspaces small ints per vector instead of the
# float corpus. Residual encoding (quantize v - centroid, not v) is
# what makes a SHARED codebook accurate across cells — residuals from
# every cell live near the origin, so one n_codes codebook covers
# them where raw vectors would need per-cell codebooks.
#
# Everything stays hash-deterministic (double zip_with subtraction,
# the a·a - 2a·b + b·b fixed-point L2², int64 ADC sums), so the whole
# coarse-quantize -> residual -> encode -> probe -> ADC cascade
# replays exactly in SQL — an 'approximate' index with an exact
# oracle, like the IVF and PQ tiers it composes.
# ---------------------------------------------------------------------------


def ivf_residuals(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest IVF cell and subtract the
    centroid: ``(id, cell_id, rv: array<double>)`` — the residual
    frame IVF-PQ encodes. One corpus scan + broadcast centroid join;
    element-wise double subtraction (zip_with), bit-identical to the
    SQL oracle's per-element list arithmetic."""
    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    assigned = assign_ivf_cells(embeddings, centroids, id_col, vec_col)
    return assigned.join(F.broadcast(centroids), "cell_id").select(
        F.col(id_col),
        F.col("cell_id"),
        F.zip_with(vd, F.col("cv"), lambda x, y: x - y).alias("rv"),
    )


def ivfpq_encode(
    embeddings: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ index build: residual-encode the corpus against the
    shared PQ codebook, keeping the cell assignment — returns
    ``(id, cell_id, m, code)``, the inverted-list table you persist
    (partition by ``cell_id``: :func:`write_ivfpq_index`)."""
    res = ivf_residuals(embeddings, centroids, id_col, vec_col)
    return pq_encode(
        res, codebooks, n_subspaces, dim, id_col, vec_col="rv",
        carry_cols=["cell_id"],
    )


def ivfpq_adc_topk(
    codes: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """ADC scoring over an IVF-PQ codes table: the query ranks its
    ``n_probe`` nearest cells (broadcast centroids), builds ONE
    distance table per probed cell from its per-cell residual
    (n_probe × n_subspaces × n_codes fixed-point entries — broadcast),
    and the ranking is a single scan of the codes table: the inner
    join on (cell_id, m, code) both prunes to the probed cells and
    looks up the table entries; the ADC score is an int64 sum.
    Returns ``(vec_id, adc_fp)`` ascending (id tiebreak), same
    contract as :func:`pq_adc_topk`. ``query`` must be a single row."""
    if dim % n_subspaces != 0:
        raise ValueError("dim must be divisible by n_subspaces")
    sub = dim // n_subspaces
    qd = F.transform(F.col(query_vec_col), lambda v: v.cast("double"))
    qcells = (
        query.crossJoin(F.broadcast(centroids))
        .select(
            F.col(query_vec_col),
            F.col("cell_id"),
            F.col("cv"),
            cosine(F.col(query_vec_col), F.col("cv")).alias("csim"),
        )
        .orderBy(F.desc("csim"), F.asc("cell_id"))
        .limit(n_probe)
    )
    qres = qcells.select(
        "cell_id", F.zip_with(qd, F.col("cv"), lambda x, y: x - y).alias("qr")
    )
    qsub = qres.select(
        "cell_id", _pq_slices(F.col("qr"), n_subspaces, sub).alias("m", "sv")
    )
    dist = qsub.join(F.broadcast(codebooks), "m").select(
        "cell_id", "m", "code", _pq_l2fp(F.col("sv"), F.col("cv")).alias("qfp")
    )
    return (
        codes.join(F.broadcast(dist), ["cell_id", "m", "code"])
        .groupBy(id_col)
        .agg(F.sum("qfp").cast("long").alias("adc_fp"))
        .orderBy(F.asc("adc_fp"), F.asc(id_col))
        .limit(k)
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
    train_iterations: int = 0,
) -> DataFrame:
    """End-to-end IVF-PQ (IVFADC) top-k: seed (or Lloyd's-train) the
    coarse centroids exactly as :func:`ivf_topk` does, residual-encode
    the corpus against a shared seed (or per-subspace-trained) PQ
    codebook built FROM THE RESIDUALS, then probe + ADC-score. With
    ``train_iterations > 0`` both quantizers train (coarse k-means,
    then per-subspace k-means on the residuals) without changing the
    query shape. Deterministic end to end; the composite's full-hash
    SQL oracle replays every stage."""
    if dim % n_subspaces != 0:
        raise ValueError("dim must be divisible by n_subspaces")
    sub = dim // n_subspaces
    if train_iterations > 0:
        centroids = train_ivf_centroids(
            embeddings, n_cells, train_iterations, id_col, vec_col
        )
    else:
        w = Window.orderBy(F.asc(id_col))
        centroids = (
            embeddings.orderBy(F.asc(id_col))
            .limit(n_cells)
            .select(
                (F.row_number().over(w) - 1).alias("cell_id"),
                F.col(vec_col).cast("array<double>").alias("cv"),
            )
        )
    res = ivf_residuals(embeddings, centroids, id_col, vec_col)
    if train_iterations > 0:
        cb = train_pq_codebooks(
            res, n_subspaces, n_codes, dim, train_iterations, id_col, "rv"
        )
    else:
        cb = _pq_seed_codebooks(res, n_subspaces, sub, n_codes, id_col, "rv")
    codes = pq_encode(
        res, cb, n_subspaces, dim, id_col, vec_col="rv", carry_cols=["cell_id"]
    )
    return ivfpq_adc_topk(
        codes, query, centroids, cb, k, n_probe, n_subspaces, dim,
        id_col, query_vec_col,
    )


def write_ivfpq_index(
    embeddings: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    path: str,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-PQ index the way it deploys at 100 TB:
    residual codes written as parquet PARTITIONED BY ``cell_id`` —
    the on-disk form of FAISS's inverted lists. A query then reads
    n_probe cell directories of n_subspaces-small-int rows: partition
    pruning does the coarse lookup and the scanned bytes are codes,
    never float vectors. Pair with :func:`ivfpq_topk_pruned`."""
    codes = ivfpq_encode(
        embeddings, centroids, codebooks, n_subspaces, dim, id_col, vec_col
    )
    codes.write.mode("overwrite").partitionBy("cell_id").parquet(path)


def ivfpq_topk_pruned(
    spark,
    path: str,
    query: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """IVF-PQ query over a :func:`write_ivfpq_index` layout: rank the
    probed cells, collect their ids (metadata-scale — n_probe small
    ints, the one sanctioned literal-IN so pruning happens at PLANNING
    time), scan only those cell partitions of the CODES table, and
    ADC-score. Same results as :func:`ivfpq_adc_topk` over the full
    codes frame; the scan reads n_probe/n_cells of the files
    (pytest-verified via PartitionFilters)."""
    qcells = (
        query.crossJoin(F.broadcast(centroids))
        .select(
            F.col("cell_id"),
            cosine(F.col(query_vec_col), F.col("cv")).alias("csim"),
        )
        .orderBy(F.desc("csim"), F.asc("cell_id"))
        .limit(n_probe)
        .select("cell_id")
    )
    cells = [r["cell_id"] for r in qcells.collect()]
    codes = spark.read.parquet(path).where(F.col("cell_id").isin(cells))
    return ivfpq_adc_topk(
        codes, query, centroids, codebooks, k, n_probe, n_subspaces, dim,
        id_col, query_vec_col,
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss sign projection (r6)
# ---------------------------------------------------------------------------

#: Fixed-point scale for JL components (floor(e * 1e6) — float32
#: inputs widen to the same double in both engines, so the floored
#: int64 is engine-identical).
JL_SCALE = 1_000_000


def jl_signs(k: int, d: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix (k rows × d cols) derived
    from md5 — Achlioptas (2003) showed Rademacher entries satisfy the
    JL lemma just like Gaussians, and a hash-derived matrix needs no
    RNG state, no seed file, and replays identically in SQL. Row j,
    column i uses the parity of the first hex digit of md5("j_i")."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for i in range(d)
        ]
        for j in range(k)
    ]


def jl_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    d: int = 64,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Project embeddings to ``k`` dimensions with the sign matrix of
    :func:`jl_signs` — the cheap dimensionality-reduction tier in
    front of ANN / clustering when 64+ dims are overkill:
    ``proj[j] = sum_i sign[j][i] * floor(e_i * JL_SCALE)`` (int64,
    order-free — the sum is evaluated left-to-right over a fixed-size
    array in both engines, and integer addition commutes anyway).

    Scale shape: PURE per-row expressions — no shuffle, no join, no
    UDF; the projection matrix is a plan literal (k·d signs). Output
    ``(id, proj array<long>)``.

    Rows whose vector is not exactly ``d`` components are EXCLUDED
    (matching the oracle's ``len(v) = d`` filter): Spark's zip_with
    pads short vectors with NULL while DuckDB's list_sum skips NULLs,
    so a malformed embedding would otherwise silently diverge between
    the engines instead of failing consistently.

    ``extra_cols`` carries the named input columns through unchanged
    (e.g. a precomputed norm), so a consumer that needs projection +
    scalar sidecar pays ONE join instead of two.
    """
    return df.where(F.size(F.col(vec_col)) == d).select(
        F.col(id_col),
        jl_project_expr(F.col(vec_col), k=k, d=d).alias("proj"),
        *[F.col(c) for c in (extra_cols or [])],
    )


def jl_project_expr(vec: Column, k: int = 16, d: int = 64) -> Column:
    """The :func:`jl_project` projection as a COLUMN expression —
    array<long> of ``k`` components — for consumers that attach the
    projection in place (e.g. before a banding explode) instead of
    joining a projected frame. Caller owns the ``size(vec) = d``
    filter that keeps malformed vectors out (jl_project's contract)."""
    signs = jl_signs(k, d)

    def proj_row(row: list[int]) -> Column:
        lits = F.array(*[F.lit(s) for s in row])
        return F.aggregate(
            F.zip_with(
                vec,
                lits,
                lambda e, s: F.floor(e.cast("double") * JL_SCALE).cast("long") * s,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return F.array(*[proj_row(r) for r in signs])


def jl_project_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    k: int = 16,
    d: int = 64,
) -> str:
    """DuckDB twin of :func:`jl_project`, generated from the SAME sign
    matrix (playbook #11)."""
    signs = jl_signs(k, d)
    comps = []
    for row in signs:
        row_lit = "[" + ", ".join(str(s) for s in row) + "]"
        comps.append(
            f"list_sum(list_transform(generate_series(1, {d}), i -> "
            # cast the float32 component to DOUBLE before scaling —
            # float32 arithmetic would round differently than Spark's
            # double path and shift the floor by one ulp-scale unit
            f"CAST(FLOOR(CAST({vec_col}[i] AS DOUBLE) * {JL_SCALE}) AS BIGINT)"
            f" * ({row_lit})[i]))"
        )
    proj = "[" + ",\n             ".join(
        f"CAST({c} AS BIGINT)" for c in comps
    ) + "]"
    return f"""
    SELECT {id_col},
           {proj} AS proj
    FROM {table}
    WHERE len({vec_col}) = {d}
    """


# ---------------------------------------------------------------------------
# Label-centroid similarity audit (r7)
# ---------------------------------------------------------------------------

#: Fixed-point scale for centroid component sums. int64 headroom: with
#: s_i = sum of FLOOR(e_i * 1e4) over a label's vectors, the final
#: cosine is computed in DOUBLE from the int64 sums (one shared
#: expression fold — bit-identical cross-engine), so the only overflow
#: surface is the component sum itself: |s_i| < 1e4 * n_vecs * max|e|,
#: safe past 1e12 vectors per label.
CENTROID_SCALE = 10_000
CENTROID_COS_SCALE = 1_000_000


def label_centroid_similarity(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    d: int = 64,
) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    CENTROIDS — the corpus-level geometry audit: two labels (sources,
    languages, snapshots) whose centroids are near-parallel occupy the
    same region of embedding space (candidate merge / contamination /
    drift signal), orthogonal centroids are genuinely distinct
    populations. The embedding-space counterpart of
    ``source_nb_confusion``'s token-space answer.

    Cosine of mean vectors equals cosine of SUM vectors (the 1/n
    scalars cancel), so the whole computation runs on int64
    fixed-point component sums: one posexplode scan → (label, dim)
    sums → ≤ |labels| rows of 64-component state → pairwise zip_with
    dot in double (sequential fold, engine-identical). Malformed
    vectors (size ≠ d) are excluded, like :func:`jl_project`.

    Returns ``(label_a, label_b, n_a, n_b, cos_fp)`` for label_a <
    label_b, cos_fp = FLOOR(cos * 1e6).
    """
    exploded = (
        df.where(F.size(F.col(vec_col)) == d)
        .select(
            F.col(label_col).alias("lbl"),
            F.posexplode(F.col(vec_col)).alias("i", "e"),
        )
        .groupBy("lbl", "i")
        .agg(
            F.sum(F.floor(F.col("e").cast("double") * CENTROID_SCALE).cast("long"))
            .cast("long")
            .alias("s")
        )
    )
    sums = exploded.groupBy("lbl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s"))), lambda st: st["s"]
        ).alias("sv")
    )
    counts = (
        df.where(F.size(F.col(vec_col)) == d)
        .groupBy(F.col(label_col).alias("lbl"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    prof = sums.join(counts, "lbl")
    a = prof.select(
        F.col("lbl").alias("label_a"), F.col("sv").alias("sa"), F.col("n").alias("n_a")
    )
    b = prof.select(
        F.col("lbl").alias("label_b"), F.col("sv").alias("sb"), F.col("n").alias("n_b")
    )
    dot = F.aggregate(
        F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.floor(dot / (nrm(F.col("sa")) * nrm(F.col("sb"))) * CENTROID_COS_SCALE)
            .cast("long")
            .alias("cos_fp"),
        )
    )


def label_centroid_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    d: int = 64,
) -> str:
    """DuckDB twin of :func:`label_centroid_similarity` — same
    fixed-point sums, same sequential-fold double dot (playbook #5)."""
    return f"""
    WITH ex AS (
      SELECT {label_col} AS lbl, i,
             CAST(SUM(CAST(FLOOR(CAST({vec_col}[i] AS DOUBLE) * {CENTROID_SCALE})
                           AS BIGINT)) AS BIGINT) AS s
      FROM {table} CROSS JOIN (SELECT unnest(generate_series(1, {d})) AS i) ix
      WHERE len({vec_col}) = {d}
      GROUP BY 1, 2
    ), prof AS (
      SELECT lbl, list(CAST(s AS DOUBLE) ORDER BY i) AS sv
      FROM ex GROUP BY lbl
    ), cnt AS (
      SELECT {label_col} AS lbl, CAST(count(*) AS BIGINT) AS n
      FROM {table} WHERE len({vec_col}) = {d} GROUP BY 1
    ), p AS (
      SELECT prof.lbl, sv, n FROM prof JOIN cnt USING (lbl)
    )
    SELECT a.lbl AS label_a, b.lbl AS label_b, a.n AS n_a, b.n AS n_b,
           CAST(FLOOR(list_dot_product(a.sv, b.sv)
                      / (sqrt(list_dot_product(a.sv, a.sv))
                         * sqrt(list_dot_product(b.sv, b.sv)))
                      * {CENTROID_COS_SCALE}) AS BIGINT) AS cos_fp
    FROM p a JOIN p b ON a.lbl < b.lbl
    """


def jl_ann_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_candidates: int = 50,
    jl_k: int = 16,
    d: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
) -> DataFrame:
    """JL-prefiltered ANN: rank the corpus by squared L2 distance in
    the 16-dim Johnson–Lindenstrauss sign projection (pure int64
    expressions — 4× fewer multiplies than the raw dot product and no
    floats until the rerank), keep the best ``n_candidates``, then
    rerank ONLY those by exact cosine in the original space. The
    cheap-ANN tier NOTES flagged as the natural JL composition: the JL
    lemma bounds the distance distortion, so with a modest candidate
    multiple (c·k) the exact top-k survives the prefilter w.h.p. —
    and because both stages are deterministic, the whole pipeline
    (prefilter included) is hash-oracle-able, unlike a sampled ANN.

    Scale shape: projection is per-row expressions (no shuffle); the
    coarse ranking is TakeOrderedAndProject over 16 ints/row; only
    ``n_candidates`` rows ever touch the 64-dim rerank.
    """
    proj = jl_project(df.select(id_col, vec_col), id_col, vec_col, k=jl_k, d=d)
    qproj = jl_project(
        query.select(F.lit(0).alias("__qid"), F.col(query_vec_col)),
        "__qid",
        query_vec_col,
        k=jl_k,
        d=d,
    ).select(F.col("proj").alias("qproj"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("proj"), F.col("qproj"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cand = (
        proj.crossJoin(F.broadcast(qproj))
        .select(F.col(id_col), d2.alias("d2"))
        .orderBy(F.asc("d2"), F.asc(id_col))
        .limit(n_candidates)
    )
    rerank = (
        df.select(id_col, vec_col)
        .join(cand.select(id_col), id_col)
        .crossJoin(F.broadcast(query))
        .select(
            F.col(id_col),
            cosine(F.col(vec_col), F.col(query_vec_col)).alias("sim"),
        )
    )
    return rerank.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def jl_ann_oracle_sql(
    k: int = 10,
    n_candidates: int = 50,
    jl_k: int = 16,
    d: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`jl_ann_topk` (query = lowest-id vector),
    generated from the SAME sign matrix."""
    signs = jl_signs(jl_k, d)
    comps = []
    for row in signs:
        row_lit = "[" + ", ".join(str(s) for s in row) + "]"
        comps.append(
            f"CAST(list_sum(list_transform(generate_series(1, {d}), i -> "
            f"CAST(FLOOR(CAST(v[i] AS DOUBLE) * {JL_SCALE}) AS BIGINT)"
            f" * ({row_lit})[i])) AS BIGINT)"
        )
    proj = "[" + ",\n             ".join(comps) + "]"
    return f"""
    WITH src AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table}
      WHERE len({vec_col}) = {d}
    ), proj AS (
      SELECT {id_col}, {proj} AS p FROM src
    ), qp AS (
      SELECT p AS qproj FROM proj
      WHERE {id_col} = (SELECT min({id_col}) FROM proj)
    ), coarse AS (
      SELECT {id_col},
             CAST(list_sum(list_transform(generate_series(1, {jl_k}),
                  j -> (p[j] - qproj[j]) * (p[j] - qproj[j]))) AS BIGINT) AS d2
      FROM proj CROSS JOIN qp
      ORDER BY d2 ASC, {id_col} ASC LIMIT {n_candidates}
    ), q AS (
      SELECT {vec_col}::DOUBLE[] AS qv FROM {table}
      WHERE {id_col} = (SELECT min({id_col}) FROM {table})
    )
    SELECT s.{id_col},
           list_dot_product(s.v, q.qv)
             / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(q.qv, q.qv)))
             AS sim
    FROM src s JOIN coarse USING ({id_col}) CROSS JOIN q
    ORDER BY sim DESC, s.{id_col} ASC LIMIT {k}
    """


# ---------------------------------------------------------------------------
# PCA (dominant eigenvector) via all-integer power iteration
# ---------------------------------------------------------------------------

#: fixed-point scale for per-row Gram products floor(x_i*x_j*GRAM_SCALE)
GRAM_SCALE = 1_000_000
#: fixed-point scale of the power-iteration vector
PCA_V_SCALE = 1_000_000


def gram_matrix_fp(
    embeddings: DataFrame, dim: int = 64, vec_col: str = "embedding"
) -> DataFrame:
    """Distributed int64 Gram (uncentered second-moment) matrix.

    Per Arrow batch, numpy accumulates ``floor(x_i * x_j * GRAM_SCALE)``
    into a d x d int64 matrix (float64 multiply is IEEE-identical to the
    engines' double multiply and ``np.floor`` to SQL FLOOR), emitting
    d^2 ``(i, j, s, n)`` rows per partition; one groupBy SUM merges
    them. Shuffle volume = partitions x d^2, never rows x d^2 — the
    map-side-combine form of covariance accumulation, the shape that
    survives a 100 TB corpus (the scan is linear; the shuffled state is
    fixed-size). Sanctioned Arrow stage (SURVEY §2.10): per-row outer
    products are quadratic-in-d arithmetic that a posexplode² expression
    path would pay rows x d^2 shuffle for.
    """
    import pandas as pd

    from pasta_pipeline_spark.operators.util import (
        ensure_package_on_workers,
        ensure_parallelism,
    )

    ensure_package_on_workers(embeddings.sparkSession)
    src = ensure_parallelism(
        embeddings.select(F.col(vec_col).alias("v")).where(F.size("v") == dim)
    )

    def run(batches):
        import numpy as np

        acc = np.zeros((dim, dim), dtype=np.int64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            n += len(X)
            # row-chunked so the (chunk, d, d) product tensor stays small
            for c in range(0, len(X), 256):
                blk = X[c : c + 256]
                acc += (
                    np.floor(blk[:, :, None] * blk[:, None, :] * GRAM_SCALE)
                    .astype(np.int64)
                    .sum(axis=0)
                )
        ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
        yield pd.DataFrame(
            {
                "i": ii.ravel(),
                "j": jj.ravel(),
                "s": acc.ravel(),
                "n": np.full(dim * dim, n, dtype=np.int64),
            }
        )

    out = src.mapInPandas(run, "i int, j int, s long, n long")
    return out.groupBy("i", "j").agg(F.sum("s").alias("s"), F.sum("n").alias("n"))


def pca_power_iteration(
    embeddings: DataFrame, dim: int = 64, iters: int = 8, vec_col: str = "embedding"
) -> DataFrame:
    """Dominant eigenvector of the (uncentered) Gram matrix / n via
    all-integer power iteration — PCA's top component without any
    library eigensolver, exactly replayable in SQL.

    Distributed part: :func:`gram_matrix_fp` (one linear scan, d^2
    map-side state). The d^2-entry matrix is then a metadata-scale
    collect (sanctioned, like Lloyd's centroids and BPE merge rounds)
    and the O(iters * d^2) iteration runs driver-side in exact int64
    plus deterministic double steps, so the DuckDB oracle (unrolled
    MATERIALIZED CTEs — inlined CTE chains re-evaluate exponentially)
    reproduces it bit-identically (determinism playbook #10).

    Iteration: ``u = S_norm @ v`` (int64 exact, S_norm = floor(S/n));
    ``m = max|u|`` (order-free); ``v' = floor(double(u) * 1e6 / m)``.
    The result is sign-normalized so the largest-|v| component (lowest
    dim on ties) is positive. ``lambda_sc`` is the final ``m`` — the
    eigenvalue estimate in fixed-point units (growth factor of one
    application of S_norm on the 1e6-scaled unit-max vector).
    Precondition: a non-degenerate corpus (m stays > 0; all-zero
    matrices break out early and would diverge from the SQL twin).
    """
    import math

    g = gram_matrix_fp(embeddings, dim=dim, vec_col=vec_col)
    rows = g.collect()  # d^2 rows — metadata-scale
    if not rows:
        raise ValueError("no valid embeddings")
    n = rows[0]["n"]
    S = {(r["i"], r["j"]): math.floor(float(r["s"]) / n) for r in rows}
    v = [PCA_V_SCALE] * dim
    m = 0
    for _ in range(iters):
        u = [sum(S[(i, j)] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in u)
        if m == 0:  # degenerate input; documented precondition
            break
        v = [math.floor(x * 1000000.0 / m) for x in u]
    mx = max(abs(x) for x in v)
    piv = next(i for i in range(dim) if abs(v[i]) == mx)
    if v[piv] < 0:
        v = [-x for x in v]
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(i, v[i], m) for i in range(dim)],
        "dim int, loading_sc long, lambda_sc long",
    )


# ---------------------------------------------------------------------------
# Margin-scored bitext mining (CCMatrix / LASER margin criterion)
# ---------------------------------------------------------------------------


def bitext_margin_pairs(
    embeddings: DataFrame,
    label_a: int = 0,
    label_b: int = 1,
    dim: int = 64,
    num_planes: int | None = None,
    num_bands: int = 4,
    k: int = 4,
    min_cos_sc: int = 300_000,
    min_margin_sc: int = 1_050_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """CCMatrix/LASER-style margin-scored bitext mining between two
    corpora (labels standing in for languages): candidate pairs are
    gated by shared sign-LSH band buckets (both sides banded with the
    SAME global plane set so buckets are comparable), exact cosine on
    candidates, then the ratio-margin criterion
    ``margin = cos(x, y) / ((avgk(x) + avgk(y)) / 2)`` where ``avgk``
    is the mean of that side's top-k candidate cosines — high-margin
    pairs are mutual near-translations rather than embedding-space
    hubs (Artetxe & Schwenk's margin fixes the hubness failure of raw
    cosine retrieval).

    Scale: both sides shuffle once on (band, bucket); per-side top-k
    runs as bounded window frames over candidate lists. A growing
    corpus re-calibrates planes+bands AUTOMATICALLY:
    ``num_planes=None`` (the default) resolves via
    :func:`auto_lsh_config` on the larger side's count, base
    (4, ``num_bands``); explicit ``num_planes`` pins the config
    (the catalog oracle does). Determinism: cosine is floored to an
    int ``cos_sc``; avgk sums ints; the only doubles —
    ``(sa/ka + sb/kb)/2`` and ``cos_sc/denom*1e6`` — are fixed
    expression trees, so margins hash-match the replayed DuckDB twin.
    """
    from pasta_pipeline_spark.operators.util import (
        attach_cached_deps,
        ensure_parallelism,
    )

    base = embeddings.where(F.size(F.col(vec_col)) == dim)
    A = ensure_parallelism(
        base.where(F.col(label_col) == label_a).select(
            F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec")
        )
    ).persist()
    B = ensure_parallelism(
        base.where(F.col(label_col) == label_b).select(
            F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec")
        )
    ).persist()
    if num_planes is None:
        num_planes, num_bands = auto_lsh_config(
            max(A.count(), B.count()), base_planes=4, base_bands=num_bands
        )
    Ab = cap_band_buckets(
        with_lsh_bands(A, "a_vec", dim, num_planes, num_bands), "a_id", bucket_cap
    )
    Bb = cap_band_buckets(
        with_lsh_bands(B, "b_vec", dim, num_planes, num_bands), "b_id", bucket_cap
    )
    cand = (
        Ab.select("a_id", "band", "bucket")
        .join(Bb.select("b_id", "band", "bucket"), ["band", "bucket"])
        .select("a_id", "b_id")
        .distinct()
    )
    pairs = cand.join(A, "a_id").join(B, "b_id")
    cos_sc = F.floor(cosine(F.col("a_vec"), F.col("b_vec")) * 1_000_000).cast("long")
    scored = pairs.select("a_id", "b_id", cos_sc.alias("cos_sc")).persist()
    wa = Window.partitionBy("a_id").orderBy(F.desc("cos_sc"), F.asc("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.desc("cos_sc"), F.asc("a_id"))
    ra = (
        scored.withColumn("rk", F.row_number().over(wa))
        .where(F.col("rk") <= k)
        .groupBy("a_id")
        .agg(F.sum("cos_sc").alias("sa"), F.count(F.lit(1)).alias("ka"))
    )
    rb = (
        scored.withColumn("rk", F.row_number().over(wb))
        .where(F.col("rk") <= k)
        .groupBy("b_id")
        .agg(F.sum("cos_sc").alias("sb"), F.count(F.lit(1)).alias("kb"))
    )
    denom = (
        F.col("sa").cast("double") / F.col("ka")
        + F.col("sb").cast("double") / F.col("kb")
    ) / 2.0
    out = (
        scored.join(ra, "a_id")
        .join(rb, "b_id")
        .withColumn("denom", denom)
        .where(F.col("denom") > 0)
        .withColumn(
            "margin_sc",
            F.floor(
                F.col("cos_sc").cast("double") / F.col("denom") * 1_000_000
            ).cast("long"),
        )
        .where(
            (F.col("cos_sc") >= min_cos_sc) & (F.col("margin_sc") >= min_margin_sc)
        )
        .select("a_id", "b_id", "cos_sc", "margin_sc")
    )
    return attach_cached_deps(out, [A, B, scored])


def cosine_threshold_sweep(
    embeddings: DataFrame,
    dim: int,
    num_planes: int | None = None,
    num_bands: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    sim_scale: int = 20,
) -> DataFrame:
    """Dedup-threshold planning sweep — the histogram a curation team
    reads BEFORE committing to a semantic-dedup threshold: all
    LSH-gated candidate pairs pay one exact cosine, bucketed at
    1/``sim_scale`` resolution, with the suffix-cumulative count
    ("how many pairs — i.e. how much of the corpus — would a
    threshold of b/scale drop?"). Because the sweep runs through the
    SAME banded gate as :func:`semantic_dedup`, the counts are
    exactly the pair population that dedup would see, not an
    idealized all-pairs number.

    Returns (sim_bucket, n_pairs, cum_pairs_ge) ordered by bucket
    descending — sim_bucket = floor(sim·sim_scale), so [-sim_scale,
    sim_scale]. The cumulative window runs over ≤ 2·sim_scale+1 rows.

    ``num_planes=None`` (the default) auto-calibrates with the
    semantic_dedup base (4, ``num_bands``) — this operator keeps EVERY
    gated pair, so it is the catalog's most pair-volume-sensitive
    query and a pinned config goes quadratic-by-config fastest (the
    r10 ladder measured 13.8× at sf1 pinned vs in-band auto).
    Explicit ``num_planes`` pins (the oracle gate scales, where auto
    resolves to the same base).
    """
    pairs = cosine_dup_pairs(
        embeddings,
        threshold=-2.0,  # keep every gated pair; cosine >= -1 always
        id_col=id_col,
        vec_col=vec_col,
        use_lsh=True,
        dim=dim,
        num_planes=num_planes,
        num_bands=num_bands,
        bucket_cap=bucket_cap,
        base_planes=4,
    )
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    hist = (
        pairs.select(
            F.floor(F.col("sim") * sim_scale).cast("long").alias("sim_bucket")
        )
        .groupBy("sim_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    w = (
        Window.orderBy(F.desc("sim_bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = hist.withColumn(
        "cum_pairs_ge", F.sum("n_pairs").over(w).cast("long")
    ).orderBy(F.desc("sim_bucket"))
    return attach_cached_deps(out, getattr(pairs, "_pasta_cached_deps", []))


def gate_recall_report(
    embeddings: DataFrame,
    threshold: float,
    dim: int = 64,
    num_planes: int | None = None,
    num_bands: int = 2,
    max_n: int | None = 4000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recall_scale: int = 1_000_000,
    base_planes: int = 4,
) -> DataFrame:
    """Measured recall of the sign-LSH candidate gate at ``threshold``
    — the observability a curation team reads BEFORE trusting
    LSH-gated dedup (r11's second-decade finding made this concrete:
    the banding recipe's recall is a moving, θ-dependent quantity, so
    it should be MEASURED on the corpus, not assumed). Ground truth is
    the brute-force all-pairs cosine over a bounded deterministic
    subsample; the gated side runs :func:`cosine_dup_pairs` with the
    SAME config over the SAME subsample, and since its exact verify
    admits no false positives, recall = n_gated / n_true.

    ``max_n`` bounds the inherently-quadratic ground truth: the
    md5-ranked TakeOrderedAndProject subsample (the cap_band_buckets
    idiom — population-unbiased, deterministic, oracle-replayable)
    keeps the audit ~constant-cost at ANY corpus size; pass ``None``
    to audit the full corpus (gate/test scales only). Returns ONE row:
    (n_vectors, n_true_pairs, n_gated_pairs, recall_sc) with
    recall_sc = floor(recall · 1e6), NULL when no true pairs exist.

    Config parity (r12, the r11 advisor's medium finding): with
    ``num_planes=None`` the (planes, bands) are resolved from the
    FULL corpus count — counted BEFORE subsampling — exactly as the
    production gate resolves them, and passed into
    :func:`cosine_dup_pairs` pinned. Resolving from the subsample
    count would audit a config the production gate never runs the
    moment the corpus outgrows ``max_n``'s window (corpus 2001–4000+
    with LSH_CALIBRATED_N=2000: production grows to e.g. (11, 16) at
    200k while the subsample audit stayed at the grown-from-4000
    config) — the docstring's "SAME config" claim must hold at
    exactly the scales the audit exists for. An explicit
    ``num_planes`` still pins the config verbatim (the catalog oracle
    replays fixed plane constants and additionally pins its gate
    corpus <= LSH_CALIBRATED_N, where full-corpus auto == base).
    """
    src = embeddings.where(F.size(F.col(vec_col)) == dim).select(
        F.col(id_col), F.col(vec_col)
    )
    if num_planes is None:
        # one column-pruned metadata count over the FULL valid-vector
        # corpus — the config the PRODUCTION gate would resolve
        num_planes, num_bands = auto_lsh_config(
            src.count(), base_planes=base_planes, base_bands=num_bands
        )
    if max_n is not None:
        src = (
            src.orderBy(
                F.md5(F.col(id_col).cast("string")), F.col(id_col).asc()
            )
            .limit(max_n)
        )
    src = src.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
    ).persist()
    a = src.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("__nrm").alias("__na"),
    )
    b = src.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("__nrm").alias("__nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))
    true_pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(sim >= threshold)
        .select("id_a", "id_b")
    )
    # base_planes defaults to 4 — the SEMANTIC-DEDUP tier's base
    # (semantic_dedup passes base_planes=4 into cosine_dup_pairs; the
    # standalone cosine_dup_pairs default is a sharper 8) — because
    # the audit must replay the gate it audits, config for config
    gated_raw = cosine_dup_pairs(
        src.select(id_col, vec_col),
        threshold,
        use_lsh=True,
        dim=dim,
        num_planes=num_planes,
        num_bands=num_bands,
        base_planes=base_planes,
    )
    gated_pairs = gated_raw.select("id_a", "id_b")
    n_vec = src.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    n_true = true_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    n_gated = gated_pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_gated_pairs")
    )
    out = (
        n_vec.crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(n_gated))
        .select(
            "n_vectors",
            "n_true_pairs",
            "n_gated_pairs",
            F.when(
                F.col("n_true_pairs") > 0,
                F.floor(
                    F.col("n_gated_pairs").cast("double")
                    / F.col("n_true_pairs").cast("double")
                    * recall_scale
                ).cast("long"),
            ).alias("recall_sc"),
        )
    )
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    return attach_cached_deps(
        out, [src] + list(getattr(gated_raw, "_pasta_cached_deps", []))
    )


#: Planted-twin target cosines — the SemDedup paper's operating regime
#: (θ ≈ 0.9+), cycled by id so every target is represented. The sin
#: values are precomputed in Python doubles and inlined as literals so
#: a SQL twin replays the exact same arithmetic.
PLANT_COSINES = (0.90, 0.92, 0.94, 0.96, 0.98)


def plant_near_dups(
    embeddings: DataFrame,
    dim: int,
    rate_mod: int = 4,
    cosines: tuple[float, ...] = PLANT_COSINES,
    id_offset: int = 10_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic planted-near-duplicate corpus builder — the
    fixture tier that makes the SemDedup paper's θ ≈ 0.92 operating
    regime MEASURABLE (NOTES #70/#75(b): the synthetic embedding
    fixtures have no pairs above ~0.9, so every gate-recall audit
    could only run at the loose θ=0.4 point).

    For every base vector with ``id % rate_mod == 0`` a twin is
    emitted at ``id + id_offset`` whose cosine to its base is EXACTLY
    a chosen target: the twin is the base rotated by a global Givens
    rotation — angle φ applied to every dimension pair (2k, 2k+1) —
    and for ANY vector v, cos(v, R_φ v) = Σ_k cosφ·(v_{2k}²+v_{2k+1}²)
    / |v|² = cosφ, because the cross terms cancel pairwise. So the
    construction needs no RNG, no normalization, and no per-dimension
    hashing: target cosines are exact (up to the final float32 cast),
    |Rv| = |v|, and the whole transform is a closed-form expression
    both engines replay bit for bit. The target cycles through
    ``cosines`` by ``id % (rate_mod·len(cosines))`` so every regime
    point is planted at every scale.

    Geometry guarantees (why truth stays clean): R is an isometry, so
    twin–twin cosines equal their bases' cosines (< the regime) and
    base–other-twin cosines are within φ of the base–base angle;
    recall audits over the planted corpus still use brute-force
    subsample truth, so none of this is assumed — it just keeps the
    regime's true-pair population dominated by the planted pairs.

    Returns base ∪ twins with the input schema (id, vector, any other
    columns carried from the base row). Twins cast back to the input
    element type via float32 so the corpus stays homogeneous.
    """
    others = [
        c for c in embeddings.columns if c not in (id_col, vec_col)
    ]
    sin_lits = [math.sqrt(1.0 - c * c) for c in cosines]
    n_t = len(cosines)
    pick = (F.col(id_col) % F.lit(rate_mod * n_t)) / F.lit(rate_mod)
    c_arr = F.array(*[F.lit(float(c)) for c in cosines])
    s_arr = F.array(*[F.lit(float(s)) for s in sin_lits])
    cph = F.element_at(c_arr, pick.cast("int") + 1)
    sph = F.element_at(s_arr, pick.cast("int") + 1)
    v = F.col(vec_col)
    # Givens on (2k, 2k+1), 0-based index i from transform's lambda:
    # even i pairs with i+1, odd i pairs with i-1 (element_at 1-based)
    rotated = F.transform(
        v,
        lambda x, i: F.when(
            i % 2 == 0,
            cph * x.cast("double")
            - sph * F.element_at(v, i.cast("int") + 2).cast("double"),
        )
        .otherwise(
            sph * F.element_at(v, i.cast("int")).cast("double")
            + cph * x.cast("double")
        )
        .cast("float"),
    )
    twins = (
        embeddings.where(
            (F.col(id_col) % rate_mod == 0) & (F.size(v) == dim)
        )
        .select(
            (F.col(id_col) + F.lit(id_offset)).alias(id_col),
            rotated.alias(vec_col),
            *[F.col(c) for c in others],
        )
    )
    return embeddings.select(id_col, vec_col, *others).unionByName(twins)


def planted_gate_recall(
    embeddings: DataFrame,
    gate: str = "ivf",
    gate_threshold: float = 0.895,
    dim: int = 64,
    rate_mod: int = 4,
    cosines: tuple[float, ...] = PLANT_COSINES,
    id_offset: int = 10_000_000,
    n_cells: int | None = None,
    iterations: int = 2,
    n_probe: int = 1,
    two_level: bool | None = None,
    n_coarse: int | None = None,
    coarse_probe: int = 1,
    num_planes: int | None = None,
    num_bands: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recall_scale: int = 1_000_000,
) -> DataFrame:
    """Gate recall in the SemDedup paper's OPERATING regime (θ ≈
    0.9–0.98), measured on the planted-twin corpus — the audit NOTES
    #70/#75(b) said was impossible on the raw fixtures (no true pairs
    above ~0.9 exist there, so every earlier recall number was a
    θ=0.4 extrapolation).

    :func:`plant_near_dups` builds the corpus (one exact-cosine twin
    per ``rate_mod``-th vector, targets cycling through ``cosines``),
    the chosen gate runs over it at ``gate_threshold`` — pinned just
    BELOW the lowest target so the gate's own exact-cosine filter
    never excludes a planted pair on float32 wobble; misses are then
    purely geometric (cell/band boundaries, what this audit measures)
    — and recall is reported PER TARGET: (target_pc, n_planted,
    n_gated, recall_sc), one row per planted cosine, recall_sc =
    floor(n_gated/n_planted·1e6). Ground truth is the planted pair
    set itself (exact by the Givens construction), so the audit is
    full-population at ANY corpus size — no subsample variance, no
    quadratic truth side.

    ``gate``: ``"ivf"`` (:func:`ivf_dup_pairs` — flat or two-level
    via the usual knobs) or ``"lsh"`` (:func:`cosine_dup_pairs`
    banded).
    """
    planted = plant_near_dups(
        embeddings,
        dim=dim,
        rate_mod=rate_mod,
        cosines=cosines,
        id_offset=id_offset,
        id_col=id_col,
        vec_col=vec_col,
    )
    if gate == "ivf":
        pairs = ivf_dup_pairs(
            planted,
            gate_threshold,
            dim=dim,
            n_cells=n_cells,
            iterations=iterations,
            n_probe=n_probe,
            id_col=id_col,
            vec_col=vec_col,
            two_level=two_level,
            n_coarse=n_coarse,
            coarse_probe=coarse_probe,
        )
    elif gate == "lsh":
        pairs = cosine_dup_pairs(
            planted,
            gate_threshold,
            id_col=id_col,
            vec_col=vec_col,
            use_lsh=True,
            dim=dim,
            num_planes=num_planes,
            num_bands=num_bands,
        )
    else:
        raise ValueError(f"unknown gate {gate!r}: expected 'ivf' or 'lsh'")
    n_t = len(cosines)
    pick = (F.col(id_col) % F.lit(rate_mod * n_t)) / F.lit(rate_mod)
    t_arr = F.array(*[F.lit(int(round(c * 100))) for c in cosines])
    truth = (
        embeddings.where(
            (F.col(id_col) % rate_mod == 0) & (F.size(F.col(vec_col)) == dim)
        )
        .select(
            F.col(id_col).alias("id_a"),
            (F.col(id_col) + F.lit(id_offset)).alias("id_b"),
            F.element_at(t_arr, pick.cast("int") + 1).alias("target_pc"),
        )
    )
    hit = pairs.select("id_a", "id_b").withColumn("__hit", F.lit(1))
    out = (
        truth.join(hit, ["id_a", "id_b"], "left")
        .groupBy("target_pc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_planted"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_gated"),
        )
        .select(
            "target_pc",
            "n_planted",
            "n_gated",
            F.floor(
                F.col("n_gated").cast("double")
                / F.col("n_planted").cast("double")
                * recall_scale
            )
            .cast("long")
            .alias("recall_sc"),
        )
        .orderBy("target_pc")
    )
    from pasta_pipeline_spark.operators.util import attach_cached_deps

    return attach_cached_deps(out, getattr(pairs, "_pasta_cached_deps", []))
