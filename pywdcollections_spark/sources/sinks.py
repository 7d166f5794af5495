"""Table sinks: last-wins MERGE semantics behind a swappable interface.

The reference's four SQLite tables all use ``ON CONFLICT REPLACE``
upserts (pywdcollections.py:47-50,165,181,184,188,410-411). On a lake
that is Iceberg ``MERGE INTO``; this sandbox has no Iceberg runtime,
so the production swap-in is a CONFIG choice, not a rewrite: both
backends implement the same ``UpsertSink`` interface and
``get_sink(spark, kind=...)`` selects one.

 * ``ParquetUpsertSink`` — set-operation merge + whole-table
   overwrite (the portable fallback; fully tested in-sandbox).
 * ``IcebergUpsertSink`` — emits a single ``MERGE INTO`` per upsert
   (row-level merge-on-read at cluster scale; requires an Iceberg
   catalog on the session, which this sandbox lacks — construction
   fails fast with a clear error, the SQL shape is unit-tested).
"""

from __future__ import annotations

import os
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def path_not_found(e: Exception) -> bool:
    """Whether ``e`` is Spark's missing-path error: the one read failure
    that means "no table yet". Any other read error on an existing
    path is a real fault and must propagate."""
    return isinstance(e, AnalysisException) and e.getCondition() == "PATH_NOT_FOUND"


def merge_last_wins(existing: DataFrame, updates: DataFrame,
                    keys: list[str], order_col: str) -> DataFrame:
    """UPSERT: one row per key, the highest ``order_col`` wins; updates
    beat existing rows on ties (REPLACE semantics)."""
    tagged = (existing.withColumn("_src", F.lit(0))
              .unionByName(updates.withColumn("_src", F.lit(1))))
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col), F.desc("_src"))
    return (tagged.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1").drop("_rn", "_src"))


def _dedupe_batch(updates: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """One row per key of an update batch: the highest ``order_col``."""
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return (updates.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1").drop("_rn"))


def write_atomic(df: DataFrame, path: str, partition_by: list[str] | None = None):
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def compact_parquet(spark: SparkSession, path: str, target_file_mb: int = 128,
                    partition_by: list[str] | None = None) -> tuple[int, int]:
    """K4 table maintenance — the reference's cache VACUUM
    (pywdcollections.py:532-533) re-expressed for a lake: rewrite a
    fragmented parquet directory into ~target-size files (the
    small-files problem after many incremental bucket commits), swapped
    in via two directory renames. At 100 TB this is Iceberg
    ``rewrite_data_files`` (IcebergUpsertSink.maintain); this is the
    portable parquet fallback. Returns (files_before, files_after).

    Crash/reader window (local-FS fallback only): POSIX has no atomic
    two-directory swap, so between rename(path, old) and
    rename(tmp, path) a concurrent reader sees ``path`` missing. A
    crash in that window is recovered two ways: (a) this function rolls
    ``old`` back to ``path`` if the second rename fails, and (b) a
    later call finds the data intact at ``path + '.old'`` and restores
    it before compacting. Single-writer discipline is assumed (same as
    the per-bucket commit protocol); the no-window version of this
    operation is the Iceberg backend, where the swap is a metadata
    pointer commit. glob/os.rename make this local-FS-only — on object
    stores use the Iceberg sink."""
    import glob
    import math
    import shutil

    old = path.rstrip("/") + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        # recover from a crash inside a previous swap window
        os.rename(old, path)
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    df = (df.repartition(n_out, *partition_by) if partition_by
          else df.repartition(n_out))
    tmp = path.rstrip("/") + ".compacting"
    write_atomic(df, tmp, partition_by)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old, path)   # roll back: table visible again at path
        raise
    shutil.rmtree(old)
    return len(files), n_out


class UpsertSink:
    """Last-wins upsert of ``updates`` into a target table."""

    def upsert(self, updates: DataFrame, keys: list[str], order_col: str) -> None:
        raise NotImplementedError

    def read(self) -> DataFrame:
        raise NotImplementedError

    def read_if_exists(self) -> DataFrame | None:
        """The first-run probe: the table, or None when there is none
        yet. Only a missing path means "no table"; every other read
        error (a corrupt or unreadable file) propagates, so a caller
        never reseeds over existing state."""
        try:
            return self.read()
        except AnalysisException as e:
            if not path_not_found(e):
                raise
            return None

    def maintain(self) -> None:
        """K4: compaction / file maintenance. Optional."""
        raise NotImplementedError


class ParquetUpsertSink(UpsertSink):
    """Portable backend: read-merge-overwrite on a parquet directory.
    Every upsert after the first rewrites the whole table (a full
    ``merge_last_wins``); the Iceberg backend is the row-level scale
    path."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark, self.path = spark, path

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def maintain(self, target_file_mb: int = 128) -> None:
        compact_parquet(self.spark, self.path, target_file_mb)

    def upsert(self, updates: DataFrame, keys: list[str], order_col: str) -> None:
        existing = self.read_if_exists()
        if existing is None:
            # first write: no target yet
            write_atomic(_dedupe_batch(updates, keys, order_col), self.path)
            return
        merged = merge_last_wins(existing, updates, keys, order_col)
        # materialize before overwriting the path the plan reads from
        write_atomic(merged.localCheckpoint(), self.path)


def iceberg_merge_sql(table: str, keys: list[str], columns: list[str],
                      order_col: str, source_view: str = "_updates") -> str:
    """The MERGE INTO statement the Iceberg backend runs — one
    statement per commit, row-level upsert, last-wins via the
    pre-deduplicated source (ON CONFLICT REPLACE analogue). Column and
    view identifiers are backtick-quoted; the table name is passed
    through as-is (it is a dotted catalog path, validated at sink
    construction)."""
    def q(ident: str) -> str:
        return "`" + ident.replace("`", "``") + "`"
    sv = q(source_view)
    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
    sets = ", ".join(f"t.{q(c)} = s.{q(c)}" for c in columns if c not in keys)
    cols = ", ".join(q(c) for c in columns)
    vals = ", ".join(f"s.{q(c)}" for c in columns)
    return (f"MERGE INTO {table} t USING {sv} s ON {on} "
            f"WHEN MATCHED AND s.{q(order_col)} >= t.{q(order_col)} "
            f"THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})")


class IcebergUpsertSink(UpsertSink):
    """Iceberg MERGE INTO backend (SURVEY.md §1.4 K1 mapping). Needs an
    Iceberg catalog configured on the SparkSession; the sandbox has
    none, so construction verifies the catalog and fails fast — in
    production this is enabled purely by config (catalog conf + sink
    kind), with no engine-code change."""

    def __init__(self, spark: SparkSession, table: str):
        self.spark, self.table = spark, table
        try:
            spark.sql(f"DESCRIBE TABLE {table}").collect()
        except Exception as exc:  # pragma: no cover - no Iceberg in sandbox
            raise RuntimeError(
                f"Iceberg table {table!r} not reachable — configure an "
                "Iceberg catalog (spark.sql.catalog.*) and create the "
                "table, or select the parquet sink") from exc

    def read(self) -> DataFrame:
        return self.spark.table(self.table)

    def read_if_exists(self) -> DataFrame:
        # construction proved the table exists: every read error is a
        # real fault, never "no table yet"
        return self.read()

    def maintain(self) -> None:  # pragma: no cover - needs Iceberg catalog
        catalog = self.table.split(".")[0]
        self.spark.sql(
            f"CALL {catalog}.system.rewrite_data_files(table => '{self.table}')")

    def upsert(self, updates: DataFrame, keys: list[str], order_col: str) -> None:
        # dedupe the batch first so MERGE sees one row per key
        batch = _dedupe_batch(updates, keys, order_col)
        # per-call unique view name: two sinks upserting concurrently in
        # one session must not race on a shared temp view
        view = f"_updates_{uuid.uuid4().hex}"
        batch.createOrReplaceTempView(view)
        try:
            self.spark.sql(iceberg_merge_sql(
                self.table, keys, batch.columns, order_col, source_view=view))
        finally:
            self.spark.catalog.dropTempView(view)


def write_bucketed_table(df: DataFrame, table: str, bucket_col: str,
                         n_buckets: int = 32) -> None:
    """Persist a table hash-bucketed (and sorted) by ``bucket_col``:
    two tables bucketed the same way join WITHOUT an exchange on
    either side — the co-location contract for the recurring
    entity-keyed merges (claims x entities x labels) at 100 TB, where
    the join shuffle would otherwise dominate every sync cycle.
    Uses the session catalog (saveAsTable is what carries the bucket
    spec; plain parquet files cannot)."""
    (df.write.mode("overwrite")
       .bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
       .format("parquet").saveAsTable(table))


def get_sink(spark: SparkSession, kind: str = "parquet", **kwargs) -> UpsertSink:
    """Sink selection is configuration: 'parquet' (portable, default)
    or 'iceberg' (production lake)."""
    if kind == "parquet":
        return ParquetUpsertSink(spark, **kwargs)
    if kind == "iceberg":
        return IcebergUpsertSink(spark, **kwargs)
    raise ValueError(f"unknown sink kind {kind!r}")
