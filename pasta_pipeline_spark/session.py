"""SparkSession construction with scale-conscious defaults.

The local test envelope is ``local[N]`` single-JVM; the production
posture is a multi-executor cluster reading ~100 TB. Every conf set
here is chosen to be correct at both ends:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast),
- shuffle partitions sized for the local envelope but overridable via
  env (a real cluster would set this to 2-3x total cores, or rely on
  AQE coalescing from a high initial value),
- Arrow enabled for every pandas-UDF boundary,
- partition-size caps so parquet scans split into parallel tasks even
  for a handful of files.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pasta-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Parameters mirror what a cluster deploy would set via
    ``spark-submit --conf``; in local mode we default to
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Driver/executor heap: in local mode the driver JVM hosts
        # every executor thread, so Spark's 1g default is the binding
        # limit for the WHOLE engine — long multi-query runs (bench,
        # scale ladder, oracle gate) accumulate broadcast/cache/codegen
        # state and OOM at 1g (bit the r8 ladder on its 41st query).
        # Only honored at JVM start; a cluster deploy sizes executors
        # via spark-submit instead.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # --- Adaptive Query Execution: runtime re-planning --------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor: back at the Spark default (1 MiB). The
        # r13 session-wide 64 KiB floor split EVERY sub-MiB exchange to
        # session parallelism, and the per-task instantiation of this
        # engine's large interpreted projections cost more than the
        # parallelism bought on most of the bench portfolio (driver
        # ground truth: geomean 0.81x, 22/26 regressed, 8-core beating
        # 32-core on six queries). The real finding under that change —
        # byte-based coalescing serializes the compute-dense pair-tier
        # VERIFY stages — is now fixed where it lives: an explicit
        # fixed-width repartition at those exchanges only
        # (operators/util.py pair_verify_parallelism), which AQE leaves
        # alone, instead of a one-size session floor.
        # --- Shuffle sizing ---------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # --- Scan parallelism: split files into <=128MB tasks ------------
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- Arrow for every pandas-UDF / toPandas boundary --------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- Broadcast threshold: dims up to 32MB broadcast free ---------
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # --- Timestamps: engine canon is UTC ------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # Read TIMESTAMP(NANOS) parquet columns (unsupported by Spark's
        # reader) as raw nanos-since-epoch longs; schemas.load_table
        # converts them to microsecond timestamps (DuckDB-equivalent
        # truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    # Scale-dependent knobs stay parameterized (optimization-round
    # rule): SPARK_GRAFT_CONF="key=value;key=value" overrides the
    # defaults above without code edits — the spark-submit --conf
    # analog. Precedence: defaults < SPARK_GRAFT_CONF env < extra_conf
    # (programmatic callers like tools/stage_profile.py win on purpose:
    # they set instrumentation confs the measurement needs). Note all
    # of these only apply when THIS call creates the session —
    # getOrCreate returns any pre-existing session's config untouched.
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in env_conf.split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
