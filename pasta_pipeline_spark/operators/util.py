"""Operator-internal utilities."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship pasta_pipeline_spark to Python workers via addPyFile.

    Cloudpickle serializes module-level functions by reference, so any
    pandas-UDF / mapInPandas / applyInPandas stage requires the worker
    interpreter to import this package. When the driver imported us by
    file path (sys.path mutation), workers inherit no such path and
    fail with ModuleNotFoundError — caught by running the driver
    contract from a foreign cwd. Zipping the package once per
    SparkContext and registering it with addPyFile makes workers
    self-sufficient regardless of how the driver found us.
    """
    sc = spark.sparkContext
    if getattr(sc, "_pasta_pkg_shipped", False):
        return
    import pasta_pipeline_spark

    pkg_dir = os.path.dirname(os.path.abspath(pasta_pipeline_spark.__file__))
    root = os.path.dirname(pkg_dir)
    base = os.path.join(
        tempfile.gettempdir(), f"pasta_pipeline_spark_pyfiles_{os.getpid()}"
    )
    archive = shutil.make_archive(base, "zip", root_dir=root, base_dir="pasta_pipeline_spark")
    sc.addPyFile(archive)
    sc._pasta_pkg_shipped = True


def attach_cached_deps(result: DataFrame, deps: list[DataFrame]) -> DataFrame:
    """Record persisted intermediates the result plan depends on.

    Operators that cache an intermediate (e.g. a shingle table feeding
    several branches of one plan) cannot unpersist it before the caller
    materializes the result — so they attach it here, and the caller
    releases it with :func:`release_cached_deps` once the result has
    been collected/written. Runners in this repo (perfbench/,
    tools/check_oracle.py) do this after every query; long-lived
    sessions that skip it accumulate executor storage."""
    result._pasta_cached_deps = list(deps)  # type: ignore[attr-defined]
    return result


def release_cached_deps(df: DataFrame) -> None:
    """Unpersist intermediates attached by :func:`attach_cached_deps`
    (no-op for frames without any)."""
    for dep in getattr(df, "_pasta_cached_deps", []):
        dep.unpersist()


def orderable_tiebreak(df: DataFrame, exclude: list[str]):
    """A deterministic tiebreak column for key-partitioned windows: a
    struct of every orderable column outside ``exclude``. Ordering by
    the partition key inside its own window is a no-op, so windows that
    claim a deterministic secondary sort order by this instead — two
    rows that still tie are identical in every orderable column, making
    any survivor choice the same row. Returns None when nothing
    orderable remains (all-excluded or map-typed frames).

    Map columns are not comparable in Spark and are skipped (so a frame
    whose only varying column is a map keeps nondeterministic ties —
    callers that need strict determinism should exclude maps upstream).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, AtomicType, MapType, StructType

    def orderable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return orderable(dt.elementType)
        if isinstance(dt, StructType):
            return all(orderable(f.dataType) for f in dt.fields)
        return isinstance(dt, AtomicType)

    cols = [
        f.name
        for f in df.schema.fields
        if f.name not in exclude and orderable(f.dataType)
    ]
    return F.struct(*[F.col(c) for c in cols]) if cols else None


def pair_verify_parallelism(df: DataFrame, *cols: str) -> DataFrame:
    """Explicit fixed-width hash repartition for the pair tiers'
    compute-dense verify exchanges.

    Why not AQE: the exchanges feeding an exact-verify stage (cosine
    folds, array-set intersections) carry only a few hundred KB at
    small scale — bytes badly understate per-row cost there, and AQE's
    byte-based coalescing (minPartitionSize floor, 1 MiB default)
    collapses them to ONE task, serializing 25-45% of the pair tiers'
    wall (r13 stage profile). The r13 answer — a session-wide 64 KiB
    floor — widened every tiny exchange in the engine and regressed the
    driver bench portfolio (geomean 0.81x); this helper is the targeted
    replacement: an explicit-N repartition on the verify keys, which
    AQE's coalescer leaves alone (REPARTITION_BY_NUM origin), applied
    ONLY at the verify exchanges.

    Width: ``$SPARK_GRAFT_VERIFY_PARTS`` if set (cluster deploys size
    it like shuffle.partitions), else the session default parallelism.
    ``off`` disables (returns df unchanged) — the A/B control. At
    production scale these exchanges carry hundreds of MB and the
    deploy sets the env alongside shuffle.partitions; the default is
    never a local[32]-only constant, it is "one task per core", the
    same rule at every scale.
    """
    from pyspark.sql import functions as F

    raw = os.environ.get("SPARK_GRAFT_VERIFY_PARTS", "")
    if raw == "off":
        return df
    n = int(raw) if raw else df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(c) for c in cols])


def localize_small(df: DataFrame) -> DataFrame:
    """Materialize a METADATA-SCALE frame (centroid matrices, cell→group
    maps — bounded at k×d, already broadcast everywhere downstream) as a
    driver-local relation.

    Drop-in for ``df.localCheckpoint(eager=True)`` on such frames: the
    collect is the same single blocking action the eager checkpoint
    was — same driver memory footprint as the BroadcastExchange these
    frames feed anyway — but downstream ``F.broadcast`` builds from the
    local rows without launching a job, AQE has no checkpoint-RDD scan
    stages to re-materialize per consumer, and the lineage cut the
    checkpoint provided is preserved (a LocalRelation has no lineage).
    The r13 driver bench showed the checkpoint-heavy iterative
    operators (two-level IVF: 63 jobs) paying more in job round trips
    than in compute at bench scale; at cluster scale the same round
    trips are driver barriers on the critical path. Values are exact:
    rows cross as binary-serialized IEEE doubles / longs, so the
    oracle-replayed arithmetic is bit-identical.

    Do NOT use on data-scale frames — only on state the algorithm
    already holds driver-side (the broadcast build).
    """
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the input arrives with fewer
    partitions than the session's parallelism.

    Small dimension files (one parquet row group) arrive as a single
    partition; a compute-heavy operator (shingling, hashing, Python
    stages) would then run on one core no matter how wide the cluster
    is — a single unsplittable row group cannot be parallelized by
    ``maxPartitionBytes``. The repartition shuffle is tiny relative to
    the compute it unlocks. At real scale inputs already have many
    partitions and this is a no-op.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


