"""Checkpoint/resume: per-url-hash-bucket lineage enables re-running
only the failed partition ranges (north rule; replaces the reference's
per-(entity,site) last_harvested watermark, pywdcollections.py:397).

Layout under ``out_dir``:
    triples/   parquet partitioned by bucket
    rejects/   parquet partitioned by bucket
    lineage/   parquet append-only: one row per completed bucket, with
               the n_buckets that defines it

A run processes only buckets absent from lineage. Crash-window
discipline: data lands with dynamic-partition OVERWRITE keyed on
bucket and the lineage row commits last, so a kill anywhere — between
groups OR between the data write and the lineage write — leaves a
state whose re-run replaces the partial bucket partitions instead of
appending them twice, yielding tables identical to a single
uninterrupted run (both windows tested in tests/test_checkpoint.py).
Every bucket in a group gets a lineage row, including buckets with
zero pages, so sparse inputs are not reprocessed forever. A bucket id
means nothing without its n_buckets, so a resume under a different
n_buckets refuses instead of overlapping the committed partitions.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pywdcollections_spark.config import CollectionConfig
from pywdcollections_spark.localtable import local_table
from pywdcollections_spark.plans.pipeline import build_kg, unpersist_all
from pywdcollections_spark.sources.sinks import path_not_found


#: auto grouping's target commit-unit size: ``bucket_groups=None``
#: runs ceil(pages / PAGES_PER_GROUP) groups, clamped to [1, n_buckets]
PAGES_PER_GROUP = 500_000


def bucket_col(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


def completed_buckets(spark: SparkSession, out_dir: str, n_buckets: int) -> list[int]:
    """Buckets with a committed lineage row. Only a missing lineage
    directory means "nothing done yet"; any other read error (a corrupt
    or unreadable lineage file) propagates — treating it as empty would
    re-run every bucket over committed data. The explicit schema makes
    a lineage directory with no committed file (a kill inside the first
    lineage write) read as empty rather than fail schema inference.

    Raises ValueError when a committed row was written under another
    ``n_buckets``, or under none (a null ``n_buckets``, as in lineage
    written before the column existed): its bucket ids hash an unknown
    url split, so resuming would append overlapping partitions."""
    lineage_path = os.path.join(out_dir, "lineage")
    try:
        lin = spark.read.schema("bucket long, n_buckets long").parquet(lineage_path)
    except AnalysisException as e:
        if not path_not_found(e):
            raise
        return []
    rows = lin.distinct().collect()
    other = {r["n_buckets"] for r in rows} - {n_buckets}
    if None in other:
        raise ValueError(
            f"{lineage_path} holds rows with a null n_buckets; their bucket "
            f"ids cannot be matched to this run's n_buckets={n_buckets}. "
            "Write to a fresh out_dir.")
    if other:
        raise ValueError(
            f"{lineage_path} was committed with n_buckets="
            f"{', '.join(map(str, sorted(other)))}; this run has n_buckets={n_buckets}. "
            "Resume with the committed n_buckets or write to a fresh out_dir.")
    return sorted({r["bucket"] for r in rows})


def _write_bucketed(df: DataFrame, path: str, n_buckets: int) -> None:
    """Dynamic-partition overwrite on bucket: re-running a bucket
    REPLACES its partition directory instead of appending a second
    copy — the idempotency unit for the crash window between the data
    write and the lineage write.

    Repartitioned on bucket first, so each bucket directory receives
    exactly ONE file per commit: without it every write task emits a
    file into every bucket directory it touches — tasks x buckets
    small files per group (measured: 4096 files / 26 s for a 20k-page
    group vs 64 files / 11 s repartitioned, BENCH/BASELINE.md round-6)
    — and at lake scale the file count grows as tasks x buckets x
    groups. One task per bucket is safe on skew because the bucket IS
    a url-hash (uniform by construction)."""
    (df.repartition(n_buckets, F.col("bucket"))
       .write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("bucket").parquet(path))


def group_lineage(spark: SparkSession, todo: list[int], templates: DataFrame,
                  validated: DataFrame, n_buckets: int) -> DataFrame:
    """The lineage rows one commit group appends: bucket, n_pages,
    n_triples, n_buckets, completed_at. EVERY bucket in ``todo`` gets a row —
    including zero-page buckets, which would otherwise be retried
    forever.

    The page census is build_kg's persisted ``templates`` frame, which
    holds one or more rows for every input page, so the pages table is
    not re-scanned per group. A page is one distinct (url, warc_ts)
    snapshot (ADVICE r4); the distinct partial-aggregates per partition
    before the bucket shuffle. ``n_triples`` counts the valid rows of
    ``validated``. Both sides bucket with ``bucket_col``, the hash the
    data writes partition on."""
    bucket = bucket_col(F.col("url"), n_buckets).alias("bucket")
    pg = (templates.groupBy(bucket)
          .agg(F.countDistinct(F.struct("url", "warc_ts")).alias("n_pages")))
    tr = (validated.groupBy(bucket)
          .agg(F.sum(F.col("valid").cast("long")).alias("n_triples")))
    todo_df = local_table(spark, [(b,) for b in todo], "bucket long")
    return (todo_df
            .join(pg.join(tr, "bucket", "left"), "bucket", "left")
            .fillna(0, ["n_pages", "n_triples"])
            .withColumns({"n_buckets": F.lit(n_buckets).cast("long"),
                          "completed_at": F.current_timestamp()}))


def run_with_checkpoint(spark: SparkSession, pages: DataFrame,
                        config: CollectionConfig, dims: dict[str, DataFrame],
                        out_dir: str, n_buckets: int = 16,
                        bucket_groups: int | None = None) -> dict:
    """Process pages in ``bucket_groups`` commit units (each covering
    n_buckets/bucket_groups url-hash buckets). ``bucket_groups=None``
    (default) sizes the commit units to the INPUT: enough groups that
    each covers ~``PAGES_PER_GROUP`` pages, so a small input runs as
    one commit instead of paying the per-group fixed cost (plan
    re-analysis, template-cache persist, overwrite commit, lineage
    append — measured ~9 s/group at bench scale, BENCH/BASELINE.md
    round-6) eight times over. Groups are COMMIT batches only — the
    resume unit is the bucket, so re-running the same --out with a
    different grouping is safe: completed buckets are skipped whatever
    group they once belonged to; a different ``n_buckets`` is not
    (``completed_buckets`` refuses it). Returns progress counters."""
    if bucket_groups is None:
        # parquet row-count is footer metadata — no data scan
        n_pages = pages.count()
        bucket_groups = min(n_buckets,
                            max(1, -(-n_pages // PAGES_PER_GROUP)))
    done = set(completed_buckets(spark, out_dir, n_buckets))
    # contiguous chunks with the remainder spread over the first groups:
    # EVERY bucket must land in exactly one commit unit — a plain
    # n_buckets // bucket_groups split silently drops the last
    # n_buckets % bucket_groups buckets (data loss, not a crash)
    base, rem = divmod(n_buckets, bucket_groups)
    groups, start = [], 0
    for g in range(bucket_groups):
        size = base + (1 if g < rem else 0)
        if size:
            groups.append(list(range(start, start + size)))
        start += size

    processed = 0
    for group in groups:
        todo = [b for b in group if b not in done]
        if not todo:
            continue
        subset = pages.filter(bucket_col(F.col("url"), n_buckets).isin(todo))
        out = build_kg(spark, subset, config, dims)
        # validated fans out into triples, rejects and lineage: one
        # barrier, flat columns -> in-memory columnar cache with disk
        # spill. out["triples"] and out["rejects"], derived before this
        # call, read the cache too: Spark substitutes cached subplans
        # when a plan runs
        validated = out["validated"].persist(StorageLevel.MEMORY_AND_DISK)
        out["persisted"].append(validated)
        triples = out["triples"].withColumn("bucket", bucket_col(F.col("url"), n_buckets))
        rejects = out["rejects"].withColumn("bucket", bucket_col(F.col("url"), n_buckets))
        _write_bucketed(triples, os.path.join(out_dir, "triples"), n_buckets)
        _write_bucketed(rejects, os.path.join(out_dir, "rejects"), n_buckets)
        # lineage rows commit last: a bucket is "done" only after its
        # data lands
        (group_lineage(spark, todo, out["templates"], validated, n_buckets)
         .write.mode("append").parquet(os.path.join(out_dir, "lineage")))
        # this group's outputs are all committed: release the pipeline
        # persists so per-group DISK_ONLY caches don't accumulate for
        # the life of a long multi-group session
        unpersist_all(out)
        done.update(todo)
        processed += 1
    return {"groups_processed": processed,
            "buckets_done": len(done), "n_buckets": n_buckets}
