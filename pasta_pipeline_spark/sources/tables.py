"""Parquet-backed mutable tables with atomic overwrite.

The reference's two Postgres tables (SURVEY.md §1.1) become
directory-per-table Parquet with a crash-safe swap protocol — the
"upsert atomicity without Delta" hard part (SURVEY.md §7):

    table/
      _CURRENT            # pointer file: name of the live version dir
      v-<uuid>/           # immutable parquet snapshot + _MANIFEST.json
      v-<uuid>/           # previous snapshot (kept until next write)

Every write goes through one commit routine: the frame lands in a fresh
version dir, hardlinked copies of any carried partitions join it, and a
``_MANIFEST.json`` records the snapshot — the written frame's schema as
a DDL string (partition columns last, as a partitioned read returns
them) and each partition dir's data files. Only then does
the pointer flip via write-temp + os.replace (atomic on POSIX). Readers
resolve the pointer, then read an immutable, self-contained dir with the
recorded schema, so a read never infers a type and never runs a Spark
job; a crash mid-write never corrupts the live table and a crash
mid-flip leaves the old pointer intact.

The class needs a POSIX filesystem (``os.replace``, ``os.link``). On a
real deployment it swaps for Delta/Iceberg tables (ACID commit protocol,
MERGE INTO, time travel, object stores); the API is kept minimal so
that swap is mechanical.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_POINTER = "_CURRENT"
_MANIFEST = "_MANIFEST.json"


def _data_files(root: str) -> list[str]:
    """Data files under ``root``, as paths relative to it (Spark's
    ``_SUCCESS`` and Hadoop's hidden ``.crc`` sidecars excluded)."""
    return sorted(
        os.path.relpath(os.path.join(dirpath, name), root)
        for dirpath, _dirs, names in os.walk(root)
        for name in names
        if not name.startswith(("_", "."))
    )


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


class TableStore:
    """Versioned parquet table rooted at ``path``. ``schema`` is what
    :meth:`read` returns before the first write; afterwards every
    snapshot carries its own schema."""

    def __init__(self, spark: SparkSession, path: str, schema: StructType | None = None):
        self.spark = spark
        self.path = path
        self.schema = schema

    # -- resolution ---------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.path, _POINTER)

    def current_version(self) -> str | None:
        try:
            with open(self._pointer_path(), encoding="utf-8") as f:
                v = f.read().strip()
            return v or None
        except FileNotFoundError:
            return None

    def exists(self) -> bool:
        return self.current_version() is not None

    def _manifest(self, version: str) -> dict:
        """The committed manifest of ``version``:
        ``{"schema": <DDL>, "partitions": {dir: {"version", "files"}}}``."""
        try:
            with open(os.path.join(self.path, version, _MANIFEST), encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"version {version} of table {self.path} does not exist (GC'd?)"
            ) from None

    def snapshot_partitions(self, version: str | None = None) -> dict | None:
        """The snapshot's partition map
        ``{partition_dir: {"version": version, "files": [...]}}`` from
        the manifest alone (no data-directory listing); empty for an
        unpartitioned snapshot, None if the table was never written."""
        v = version or self.current_version()
        return None if v is None else self._manifest(v)["partitions"]

    # -- read ----------------------------------------------------------

    def read(self, version: str | None = None) -> DataFrame:
        """Snapshot read with the schema recorded at commit; the declared
        (possibly empty) ``schema`` if the table was never written.

        ``version``: time travel — read a retained snapshot instead of
        the live one (the predecessor survives every commit; see
        :meth:`versions`). Reading a GC'd version raises
        FileNotFoundError."""
        v = version or self.current_version()
        if v is None:
            if self.schema is None:
                raise FileNotFoundError(f"table {self.path} does not exist and no schema given")
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self._manifest(v)["schema"]).parquet(
            os.path.join(self.path, v)
        )

    # -- commit --------------------------------------------------------

    def _commit(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        carry_from: str | None = None,
        carry: set[str] = frozenset(),
    ) -> str:
        """Write ``df`` as a new version dir, hardlink into it each
        ``carry`` partition dir of version ``carry_from`` that ``df`` did
        not rewrite, then write the snapshot's manifest. Returns the new
        version; the pointer is not touched.

        The rewritten partition dirs are listed from what Spark actually
        wrote, never rebuilt from values with an f-string: Hive dir
        encoding is not str() (NULL becomes __HIVE_DEFAULT_PARTITION__,
        special characters are URL-escaped), and a mismatch would carry
        a stale copy of a rewritten partition next to its rewrite."""
        partition_by = list(partition_by or [])
        version = f"v-{uuid.uuid4().hex[:12]}"
        target = os.path.join(self.path, version)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)

        def partition_dirs() -> set[str]:
            if not partition_by:
                return set()
            prefix = f"{partition_by[0]}="
            return {
                e for e in os.listdir(target)
                if e.startswith(prefix) and os.path.isdir(os.path.join(target, e))
            }

        # hardlinks (copy fallback) keep every snapshot self-contained
        # at zero data copied; .crc sidecars come along
        for part in sorted(carry - partition_dirs()):
            shutil.copytree(
                os.path.join(self.path, carry_from, part),
                os.path.join(target, part),
                copy_function=_link_or_copy,
            )
        # partition columns last, where a partitioned read puts them
        # (also when there is no partition dir to read); DDL, not the
        # 3-5x longer JSON form, because every retained version carries
        # its manifest and a small table's snapshot is a few KiB
        fields = df.schema.fields
        schema = StructType(
            [f for f in fields if f.name not in partition_by]
            + [f for c in partition_by for f in fields if f.name == c]
        )
        manifest = {
            "schema": schema.toDDL(),
            "partitions": {
                d: {"version": version, "files": _data_files(os.path.join(target, d))}
                for d in sorted(partition_dirs())
            },
        }
        with open(os.path.join(target, _MANIFEST), "w", encoding="utf-8") as f:
            json.dump(manifest, f, sort_keys=True, separators=(",", ":"))
        return version

    def _flip(self, version: str, gc: bool) -> None:
        """Atomically point the table at ``version``. With ``gc``, then
        remove every version dir except the new live one and its
        predecessor: the predecessor stays for readers that resolved the
        pointer before the flip, and dirs leaked by a crash between a
        write and its flip are reclaimed."""
        old = self.current_version()
        os.makedirs(self.path, exist_ok=True)
        tmp = self._pointer_path() + f".tmp-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(version)
        os.replace(tmp, self._pointer_path())  # atomic flip
        if gc:
            for entry in self.versions():
                if entry not in (version, old):
                    shutil.rmtree(os.path.join(self.path, entry), ignore_errors=True)

    # -- write ---------------------------------------------------------

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None) -> None:
        """Commit ``df`` as a new version, flip the pointer to it, and
        GC every version but the new live one and its predecessor."""
        self._flip(self._commit(df, partition_by), gc=True)

    def merge_partitioned(
        self,
        updates: DataFrame,
        key: str | list[str],
        partition_col: str,
        order_col: str | None = None,
    ) -> None:
        """Differential upsert at partition granularity — the cost-model
        fix for ``overwrite``-per-batch at scale: only the partitions
        the update batch touches are read, merged (merge.merge_upsert
        semantics), and rewritten; every untouched partition is carried
        into the new version dir by hardlink, without rewriting a byte
        of data. Commit, pointer flip and GC are ``overwrite``'s. This
        is the same copy-on-write shape a Delta/Iceberg MERGE produces
        (new files for changed partitions, metadata reuse for the
        rest), expressed on plain parquet; at a real deployment the
        class swaps for the table format and this method becomes
        ``MERGE INTO``.

        The first write commits ``updates`` as is; a live version not
        partitioned by ``partition_col`` gets a full merge.

        Contract: a key's partition value must be stable across upserts
        (partition by a key-derived bucket or a creation date, never a
        mutable attribute) — otherwise a key could survive in two
        partitions. The distinct partition values of the batch are
        collected to the driver: that is metadata (one scalar per
        touched partition), the same scale class as a lakehouse
        commit's file list.

        Non-goals (documented, not silent): schema evolution and
        concurrent writers — single-writer per table, like
        ``overwrite``.
        """
        from pasta_pipeline_spark.operators.merge import merge_upsert

        old = self.current_version()
        prefix = f"{partition_col}="
        old_parts = {d for d in self.snapshot_partitions(old) or {} if d.startswith(prefix)}
        if old is None:
            merged = updates
        elif not old_parts:
            merged = merge_upsert(self.read(), updates, key, order_col=order_col)
        else:
            touched_vals = [
                r[0] for r in updates.select(partition_col).distinct().collect()
            ]
            # Null-safe touched-partition selection: isin() is
            # three-valued and silently drops NULL-partition rows from
            # the subset, which would lose every non-updated key in the
            # NULL partition once the new version's
            # __HIVE_DEFAULT_PARTITION__ dir supersedes the old one.
            non_null_vals = [v for v in touched_vals if v is not None]
            cond = F.lit(False)
            if non_null_vals:
                cond = cond | F.col(partition_col).isin(non_null_vals)
            if any(v is None for v in touched_vals):
                cond = cond | F.col(partition_col).isNull()
            merged = merge_upsert(
                self.read().filter(cond), updates, key, order_col=order_col
            )
        self._flip(
            self._commit(merged, [partition_col], carry_from=old, carry=old_parts),
            gc=True,
        )

    # -- write-audit-publish ------------------------------------------

    def stage(self, df: DataFrame, partition_by: list[str] | None = None) -> str:
        """Write-audit-publish, step one: write a complete immutable
        version WITHOUT flipping the pointer. Readers keep seeing the
        current snapshot; the returned version id hands to
        :meth:`read` (audit the staged data with any query) and then
        to :meth:`publish` — or to :meth:`discard` if the audit fails.
        This is the lakehouse WAP pattern (Iceberg's stage-commit /
        branch-audit-publish) on the same version-dir machinery every
        other write here uses: publish is a pointer flip, so the
        gate adds zero data movement.

        Staged versions are invisible to GC-triggering writes only
        until the next ``overwrite``/``merge_partitioned`` commit runs
        GC — stage/audit/publish is a single logical transaction, not
        long-lived parallel branches (documented contract)."""
        return self._commit(df, partition_by)

    def publish(self, version: str) -> None:
        """Write-audit-publish, final step: atomically flip the live
        pointer to a previously :meth:`stage`-d version (the audit
        passed). Identical crash semantics to ``overwrite``'s flip;
        the superseded version is retained for in-flight readers and
        GC'd on the next write."""
        if not os.path.isdir(os.path.join(self.path, version)):
            raise FileNotFoundError(
                f"cannot publish {version}: not staged in {self.path}"
            )
        self._flip(version, gc=False)

    def discard(self, version: str) -> None:
        """Drop a staged version whose audit failed. Refuses to remove
        the LIVE version."""
        if version == self.current_version():
            raise ValueError(f"refusing to discard live version {version}")
        shutil.rmtree(os.path.join(self.path, version), ignore_errors=True)

    def versions(self) -> list[str]:
        """Version dirs currently on disk (the live one, its predecessor
        and any version staged since the last commit), sorted; the set
        :meth:`read` can time-travel to."""
        try:
            return sorted(
                e for e in os.listdir(self.path)
                if e.startswith("v-") and os.path.isdir(os.path.join(self.path, e))
            )
        except FileNotFoundError:
            return []

    def diff(
        self,
        key: str | list[str],
        from_version: str,
        to_version: str | None = None,
    ) -> DataFrame:
        """Row-level change audit between two versions (the time-travel
        machinery's payoff): full outer join on ``key`` between
        ``from_version`` and ``to_version`` (default: live), each key
        classified ``added`` / ``removed`` / ``changed`` /
        ``unchanged`` by null-safe payload-struct comparison. Returns
        the key columns plus ``change`` — filter it for the delta a
        pipeline run produced, or aggregate it for the audit summary.
        One shuffle on the key; the internal ``__bkt`` partition
        column (key-derived, hence stable) is excluded from payload
        comparison so repartitioning alone never reads as a change."""
        ks = [key] if isinstance(key, str) else list(key)
        old = self.read(version=from_version)
        new = self.read(version=to_version)
        payload = [
            c for c in new.columns if c not in ks and c != "__bkt"
        ]

        def packed(df, alias):
            body = (
                F.struct(*[df[c] for c in payload]) if payload else F.lit(True)
            )
            return df.select(
                *[df[c] for c in ks], body.alias(alias)
            )

        o = packed(old, "__old")
        n = packed(new, "__new")
        j = o.join(n, ks, "full_outer")
        change = (
            F.when(F.col("__old").isNull(), F.lit("added"))
            .when(F.col("__new").isNull(), F.lit("removed"))
            .when(
                ~F.col("__old").eqNullSafe(F.col("__new")), F.lit("changed")
            )
            .otherwise(F.lit("unchanged"))
        )
        return j.select(*ks, change.alias("change"))

    def compact(self, target_partitions: int, partition_by: str | None = None) -> None:
        """Small-file compaction: rewrite the live version into
        ``target_partitions`` files. Streaming merges and incremental
        runs accrete one file per shuffle partition per run; periodic
        compaction keeps scan task counts and footer overhead bounded
        (at real scale: the table format's OPTIMIZE).

        ``partition_by``: preserve a partition layout through the
        rewrite — rows shuffle on the partition column so each
        partition dir compacts to (about) one file, and subsequent
        ``merge_partitioned`` calls stay differential instead of
        degrading to a full merge against an unpartitioned version."""
        if partition_by:
            df = self.read().repartition(target_partitions, F.col(partition_by))
            self.overwrite(df, partition_by=[partition_by])
        else:
            self.overwrite(self.read().coalesce(target_partitions))


def write_bucketed_table(
    df, name: str, bucket_col: str, num_buckets: int = 16, sort_col: str | None = None
) -> None:
    """Bucketed managed table — the co-located-join layout (SURVEY.md
    §4: the replacement for the reference's B-tree indexes on join
    keys). Two tables bucketed on the same key with the same bucket
    count join WITHOUT a shuffle: each task reads matching bucket
    files from both sides. ``sortBy`` additionally pre-sorts within
    buckets so sort-merge joins skip their sort."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(name)
