"""Deterministic corpus sampling & sequence packing (training-data
pipeline extension surface, SURVEY.md §7 M6).

Two operators a 100 TB training-data pipeline runs constantly:

- :func:`stratified_sample` — reproducible per-stratum downsampling
  (domain mixing weights) with **no RNG**: membership is a pure
  function of the row id, so the sample is stable across runs, Spark
  versions, partitionings and engines (exactly SQL-expressible —
  oracle-checkable, unlike ``DataFrame.sample``'s
  partition-index-seeded Bernoulli draw).
- :func:`pack_sequences` — concat-and-chunk sequence packing: documents
  are laid out in a deterministic order per partition-key and chunk
  boundaries fall every ``budget`` tokens; each document gets its
  context-window bin (= start offset // budget) and a flag for
  straddling a boundary. This is the standard "pack then split at
  block boundaries" layout used to build fixed-length training
  batches.

Scale posture: the sample filter is scan-local (no shuffle, pushes
nothing but survives column pruning); packing is one window shuffle on
the partition key — at 100 TB the partition key is the shard/domain
column, so no global ordering is ever required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Sampling-threshold resolution: fractions quantize to 1/10000.
SAMPLE_DENOMINATOR = 10000


def sample_bucket(id_col: Column | str, denominator: int = SAMPLE_DENOMINATOR) -> Column:
    """Deterministic bucket in [0, denominator) from the row id:
    md5-hex→int60 of the id rendered as a string (cross-engine exact;
    DuckDB twin ``('0x' || substr(md5(CAST(id AS VARCHAR)), 1,
    15))::BIGINT % denominator``)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(F.substring(F.md5(c.cast("string").cast("binary")), 1, 15), 16, 10)
    return h.cast("long") % denominator


def stratified_sample(
    df: DataFrame,
    id_col: str,
    fractions: float | dict[str, float],
    strata_col: str | None = None,
    default_fraction: float = 0.0,
    denominator: int = SAMPLE_DENOMINATOR,
) -> DataFrame:
    """Keep each row iff ``sample_bucket(id) < fraction * denominator``
    for its stratum — a deterministic, join-free Bernoulli-style sample
    whose membership never changes between runs.

    ``fractions`` is either a single float (uniform sample) or a
    ``{stratum_value: fraction}`` dict keyed by ``strata_col`` values
    (strata not listed fall back to ``default_fraction`` — the usual
    "keep 100% of rare domains, x% of the crawl" mixing shape).
    """
    bucket = sample_bucket(id_col, denominator)
    if isinstance(fractions, dict):
        if strata_col is None:
            raise ValueError("per-stratum fractions require strata_col")
        thr: Column = F.lit(int(default_fraction * denominator))
        expr = None
        for value, frac in fractions.items():
            cond = F.col(strata_col) == value
            branch = F.lit(int(frac * denominator))
            expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
        thr = expr.otherwise(thr) if expr is not None else thr
    else:
        thr = F.lit(int(fractions * denominator))
    return df.where(bucket < thr)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    partition_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk packing assignment: within each
    ``partition_col`` group (ordered by ``id_col``), documents occupy
    consecutive token ranges; chunk boundaries fall every ``budget``
    tokens. Appends:

    - ``start_offset`` — the document's first token position in the
      concatenated stream (exclusive running sum);
    - ``bin`` — ``start_offset // budget``, the context-window index
      the document starts in;
    - ``crosses_boundary`` — true when the document's token span
      straddles a chunk boundary (its tail lands in a later window —
      the rows a loss-masking or re-packing pass needs to see).

    Exact integer window arithmetic — bit-identical across engines.
    One shuffle (the window partition); empty-token documents occupy
    zero width and never "cross".
    """
    part = [partition_col] if partition_col else [F.lit(0)]
    w = (
        Window.partitionBy(*part)
        .orderBy(F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(tokens_col).over(w), F.lit(0)).cast("long")
    n = F.col(tokens_col).cast("long")
    bin_ = F.floor(start / budget).cast("long")
    end_bin = F.floor((start + F.greatest(n, F.lit(1)) - 1) / budget).cast("long")
    return (
        df.withColumn("start_offset", start)
        .withColumn("bin", bin_)
        .withColumn("crosses_boundary", (n > 0) & (end_bin > bin_))
    )


def temperature_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    target_total: int,
    sqrt_fp_scale: int = 1_000_000,
) -> DataFrame:
    """Temperature-based source mixing (T=2 ⇒ weights ∝ √n): draw a
    deterministic sample whose per-source allocation follows
    ``m_s = (target_total * √n_s) / Σ√n_t`` — the standard rebalancing
    that up-weights rare sources relative to raw proportional sampling
    (multilingual / multi-domain training mixes).

    Exactness contract: √n is IEEE-correctly-rounded in both engines,
    so ``floor(√n * scale)`` is a reproducible int64; every weight
    thereafter is INTEGER arithmetic (``(target * sqrt_fp) div Σ``),
    never a float sum whose order could differ. Row selection is
    rank-by-md5 within source (row_number ≤ m_s) — exact sample sizes,
    no RNG, no threshold-float boundary. A NULL id ranks after every
    real id (NULLS LAST on both rank keys, as in DuckDB's default
    order).

    Scale: one count per source (tiny), broadcast of the per-source
    quota table, one window shuffle on source for the md5 rank. A
    mega-source's rank window is the usual hot-key; at 100 TB
    pre-filter with ``stratified_sample`` at ~2× the target fraction,
    then rank the survivors.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    counts = counts.withColumn(
        "__sqrt_fp", F.floor(F.sqrt(F.col("__n")) * sqrt_fp_scale).cast("long")
    )
    total = counts.agg(F.sum("__sqrt_fp").alias("__tot"))
    quota = (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            "__m",
            F.least(
                F.col("__n"),
                F.expr(f"({target_total} * __sqrt_fp) div __tot"),
            ),
        )
        .select(source_col, "__m")
    )
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string").cast("binary")).asc_nulls_last(),
        F.col(id_col).asc_nulls_last(),
    )
    ranked = df.withColumn("__rnk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quota), source_col)
        .filter(F.col("__rnk") <= F.col("__m"))
        .drop("__rnk", "__m")
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float] | None = None,
    denominator: int = SAMPLE_DENOMINATOR,
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's split is a
    pure function of its id (same md5 bucket as
    :func:`sample_bucket`), so the partition is stable across runs,
    engines, and re-partitionings — re-running the pipeline after new
    data lands never moves an old document between splits, which is
    the property that keeps eval sets uncontaminated.

    ``splits`` maps name → fraction (must sum to <= 1; any remainder
    falls in the last split listed). Buckets are assigned to splits in
    dict order via cumulative thresholds, e.g. the default
    ``{"train": .8, "val": .1, "test": .1}`` gives train = buckets
    [0, 8000), val = [8000, 9000), test = [9000, 10000).

    Scan-local: adds one column, no shuffle, no RNG, survives column
    pruning. The catalog query hash-checks the assignment itself.
    """
    splits = splits or {"train": 0.8, "val": 0.1, "test": 0.1}
    bucket = sample_bucket(id_col, denominator)
    expr = None
    acc = 0
    names = list(splits)
    for name in names[:-1]:
        acc += int(round(splits[name] * denominator))
        cond = bucket < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1])
        if expr is None
        else expr.otherwise(names[-1])
    )
    return df.withColumn("split", expr)


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES, Inf. Process. Lett. 97(5), 2006): each
    row draws u = md5-uniform(id) ∈ (0,1] and scores ln(u)/weight; the
    k largest scores (per group) are distributed exactly like a
    sequential weighted draw without replacement. Heavier rows pull u's
    log toward 0 proportionally more often — but every positive-weight
    row can win, unlike a plain top-k-by-weight.

    Deterministic across runs AND engines: u derives from md5 of the
    id (no RNG state), ln is bit-stable on (0,1] in JVM/DuckDB/libm,
    and the score comparison needs no epsilon because distinct ids
    yield distinct u w.h.p. (id tiebreak regardless). Rows with
    weight <= 0 or NULL are excluded (zero mass cannot be drawn).

    Grouped: one window shuffle on the group key. Ungrouped: a global
    top-k must NOT be an empty-partition window (that compiles to
    Exchange SinglePartition — the whole corpus through one task, the
    exact shape ids.py exists to avoid), so it goes through
    ``orderBy().limit(k)`` = TakeOrderedAndProject (per-partition heap
    + driver merge of k rows); only the ≤k survivors pass through a
    single-partition rank to materialize ``rk``.
    """
    c = F.col(id_col)
    h = F.conv(F.substring(F.md5(c.cast("string").cast("binary")), 1, 15), 16, 10)
    u = (h.cast("long") + 1).cast("double") / F.lit(float(1 << 60))
    score = F.log(u) / F.col(weight_col).cast("double")
    scored = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("__score", score)
    order = [F.desc("__score"), F.asc(id_col)]
    if group_col:
        w = Window.partitionBy(group_col).orderBy(*order)
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .drop("__score")
        )
    top = scored.orderBy(*order).limit(k)
    w = Window.orderBy(*order)  # over <= k rows — benign
    return top.withColumn("rk", F.row_number().over(w)).drop("__score")


def budget_sample(
    df: DataFrame,
    id_col: str,
    size_col: str,
    budget: int,
    group_col: str,
) -> DataFrame:
    """Deterministic per-group sampling to a SIZE budget (bytes,
    tokens, documents — whatever ``size_col`` measures): rows are
    taken in md5-shuffled order until the group's running total would
    exceed ``budget``. The per-source token budget of a training mix,
    as an operator.

    Contract: a row is kept iff the running total BEFORE it is under
    the budget — so every non-empty group keeps at least one row (a
    mix never silently drops a source), and overshoot is bounded by
    one row. Ordering is md5(id) with id tiebreak: deterministic
    across runs and engines, uncorrelated with any data column (a
    sorted-by-size take would bias the sample).

    One window shuffle on the group key. The group is required: an
    ungrouped budget take is a global sequential cumsum — use
    ``assign_sequential_ids``'s range-partition scheme and filter on
    the prefix sums if a corpus-global budget is ever needed.
    """
    if not group_col:
        raise ValueError(
            "budget_sample requires group_col: the ungrouped form is a "
            "single-task global cumsum (see assign_sequential_ids for "
            "the scalable global idiom)"
        )
    c = F.col(id_col)
    rnd = F.md5(c.cast("string").cast("binary"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.asc("__rnd"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = df.withColumn("__rnd", rnd).withColumn(
        "__cum", F.sum(F.col(size_col).cast("long")).over(w)
    )
    before = F.col("__cum") - F.col(size_col).cast("long")
    return (
        sized.filter(before < budget)
        .withColumn("cum_size", F.col("__cum"))
        .drop("__rnd", "__cum")
    )


def budget_sample_global(
    df: DataFrame,
    id_col: str,
    size_col: str,
    budget: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Corpus-GLOBAL size-budget sampling without a single-task sort:
    the scalable form of :func:`budget_sample` when the budget spans
    the whole corpus rather than a group.

    The global running total decomposes exactly like
    ``assign_sequential_ids``: range-partition on the md5 order key,
    per-partition size sums (a metadata-scale aggregate), exclusive
    prefix-sum of those P numbers on the driver, then each row's
    global running total = its partition's offset + its within-
    partition cumsum. Same keep rule as the grouped form: a row stays
    iff the total BEFORE it is under budget (so a non-empty corpus
    keeps at least one row; overshoot bounded by one row).

    The ranged frame is persisted before the offsets collect —
    repartitionByRange samples split points per job, so an unpersisted
    second pass could land rows in different partitions than the ones
    summed (the ids.py lesson). Cache handed to the caller via
    release_cached_deps.
    """
    from pyspark.sql import functions as F

    from .util import attach_cached_deps

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    rnd = F.md5(F.col(id_col).cast("string").cast("binary"))
    ranged = (
        df.withColumn("__rnd", rnd)
        .repartitionByRange(n_parts, F.col("__rnd"), F.col(id_col))
        .sortWithinPartitions("__rnd", id_col)
        .withColumn("__pid", F.spark_partition_id())
    ).persist()
    sums = sorted(
        (r["__pid"], r["s"])
        for r in ranged.groupBy("__pid")
        .agg(F.sum(F.col(size_col).cast("long")).alias("s"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, s in sums:
        offsets.append((pid, acc))
        acc += s
    off_df = df.sparkSession.createDataFrame(offsets, "__pid int, __offset long")
    w = (
        Window.partitionBy("__pid")
        .orderBy("__rnd", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.col("__offset") + F.sum(F.col(size_col).cast("long")).over(w)
    result = (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn("cum_size", cum.cast("long"))
        .filter(F.col("cum_size") - F.col(size_col).cast("long") < budget)
        .drop("__rnd", "__pid", "__offset")
    )
    return attach_cached_deps(result, [ranged])


def greedy_pack(
    df: DataFrame,
    id_col: str,
    size_col: str,
    budget: int,
    group_col: str,
) -> DataFrame:
    """NO-SPLIT greedy sequence packing (next-fit): within each
    ``group_col`` shard (ordered by ``id_col``), documents are placed
    whole into consecutive packs; a new pack opens when the current one
    cannot fit the next document. The truncation-free alternative to
    :func:`pack_sequences` — concat-and-chunk splits ~(mean_len /
    budget) of documents across window boundaries, which measurably
    hurts downstream models (Ding et al. 2024, "Fewer Truncations
    Improve Language Modeling", arXiv:2404.10830); next-fit never
    splits, trading a bounded amount of padding instead.

    Placement rule (exact contract the oracle replays): a document of
    ``n = max(size, 0)`` units joins the current pack iff the pack is
    empty or ``fill + n <= budget``; otherwise it opens the next pack.
    Oversize documents (n > budget) therefore occupy a pack alone.
    Emits ``(group_col, id_col, n_units, pack_id, offset_in_pack)``.

    The running fill is a cumulative sum WITH RESET — not expressible
    as a closed-form window function (each reset depends on the
    previous reset), so this is a sanctioned Arrow stage: one
    ``applyInPandas`` per shard, sequential only WITHIN a shard (the
    packing order a training pipeline wants anyway — cross-shard
    global packing would serialize the corpus). One shuffle on the
    shard key; state per task is one (fill, pack) pair. The SQL twin
    is a per-group recursive CTE (:func:`greedy_pack_oracle_sql`).
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            df.schema[group_col],
            df.schema[id_col],
            StructField("n_units", LongType()),
            StructField("pack_id", LongType()),
            StructField("offset_in_pack", LongType()),
        ]
    )

    def pack_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col, kind="mergesort")
        sizes = (
            pdf[size_col].fillna(0).astype("int64").clip(lower=0).to_numpy()
        )
        pack_ids, offsets = [], []
        pack, fill = 0, 0
        for n in sizes:
            if fill > 0 and fill + int(n) > budget:
                pack, fill = pack + 1, 0
            pack_ids.append(pack)
            offsets.append(fill)
            fill += int(n)
        return pd.DataFrame(
            {
                group_col: pdf[group_col].to_numpy(),
                id_col: pdf[id_col].to_numpy(),
                "n_units": sizes,
                "pack_id": pack_ids,
                "offset_in_pack": offsets,
            }
        )

    return (
        df.select(group_col, id_col, size_col)
        .groupBy(group_col)
        .applyInPandas(pack_group, out_schema)
    )


def greedy_pack_oracle_sql(
    table: str,
    id_col: str,
    size_sql: str,
    budget: int,
    group_col: str,
) -> str:
    """DuckDB twin of :func:`greedy_pack`: the cumsum-with-reset
    replayed as a recursive CTE stepping one row per group per
    iteration (recursion depth = largest group, all groups advance in
    the same step). ``size_sql`` is the SQL expression for the
    document size in units — spliced verbatim, code by contract (the
    Spark side takes the matching Column); never pass untrusted
    strings, and SQL-escape any literals inside it (``sql_quote``)."""
    return f"""
    WITH RECURSIVE base AS (
      SELECT {group_col}, {id_col},
             CAST(greatest(COALESCE(({size_sql}), 0), 0) AS BIGINT) AS n_units,
             CAST(row_number() OVER (PARTITION BY {group_col}
                                     ORDER BY {id_col} ASC) AS BIGINT) AS rn
      FROM {table}
    ), packed AS (
      SELECT {group_col}, {id_col}, n_units, rn,
             CAST(0 AS BIGINT) AS pack_id,
             CAST(0 AS BIGINT) AS offset_in_pack,
             n_units AS fill
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.{group_col}, b.{id_col}, b.n_units, b.rn,
             CASE WHEN p.fill > 0 AND p.fill + b.n_units > {budget}
                  THEN p.pack_id + 1 ELSE p.pack_id END,
             CASE WHEN p.fill > 0 AND p.fill + b.n_units > {budget}
                  THEN CAST(0 AS BIGINT) ELSE p.fill END,
             CASE WHEN p.fill > 0 AND p.fill + b.n_units > {budget}
                  THEN b.n_units ELSE p.fill + b.n_units END
      FROM packed p
      JOIN base b ON b.{group_col} = p.{group_col} AND b.rn = p.rn + 1
    )
    SELECT {group_col}, {id_col}, n_units, pack_id, offset_in_pack
    FROM packed
    """


def balanced_label_sample(
    df: DataFrame, id_col: str, label_col: str
) -> DataFrame:
    """Class-balanced downsampling: every label keeps exactly
    ``min(class count)`` rows — the prep step before training any
    classifier on skewed labels (quality/toxicity/language heads),
    where majority-class dominance otherwise swamps the loss.

    Which rows survive is md5-shuffled per class (id tiebreak):
    deterministic across runs and engines, uncorrelated with any data
    column — a sorted-by-id take would keep the oldest rows per class
    and bias time-correlated features. The min count rides in as a
    1-row broadcast scalar (metadata aggregate); the only fact-scale
    shuffle is the per-label rank window.
    """
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).cast("long").alias("c"))
    floor_row = counts.agg(F.min("c").cast("long").alias("m"))
    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    w = Window.partitionBy(label_col).orderBy(F.asc("__rnd"), F.asc(id_col))
    return (
        df.withColumn("__rnd", h)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(floor_row))
        .where(F.col("rk") <= F.col("m"))
        .drop("__rnd", "m")
    )
