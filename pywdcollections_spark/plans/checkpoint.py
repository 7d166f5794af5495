"""Checkpoint/resume: per-url-hash-bucket lineage enables re-running
only the failed partition ranges (north rule; replaces the reference's
per-(entity,site) last_harvested watermark, pywdcollections.py:397).

Layout under ``out_dir``:
    triples/   parquet partitioned by bucket
    rejects/   parquet partitioned by bucket
    lineage/   parquet append-only: one row per completed bucket

A run processes only buckets absent from lineage. Crash-window
discipline: data lands with dynamic-partition OVERWRITE keyed on
bucket and the lineage row commits last, so a kill anywhere — between
groups OR between the data write and the lineage write — leaves a
state whose re-run replaces the partial bucket partitions instead of
appending them twice, yielding tables identical to a single
uninterrupted run (both windows tested in tests/test_checkpoint.py).
Every bucket in a group gets a lineage row, including buckets with
zero pages, so sparse inputs are not reprocessed forever.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pywdcollections_spark.config import CollectionConfig
from pywdcollections_spark.localtable import local_table
from pywdcollections_spark.plans.pipeline import build_kg, unpersist_all
from pywdcollections_spark.sources.sinks import path_not_found


def bucket_col(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


def completed_buckets(spark: SparkSession, out_dir: str) -> list[int]:
    """Buckets with a committed lineage row. Only a missing lineage
    directory means "nothing done yet"; any other read error (a corrupt
    or unreadable lineage file) propagates — treating it as empty would
    re-run every bucket over committed data. The explicit schema makes
    a lineage directory with no committed file (a kill inside the first
    lineage write) read as empty rather than fail schema inference."""
    lineage_path = os.path.join(out_dir, "lineage")
    try:
        lin = spark.read.schema("bucket long").parquet(lineage_path)
    except AnalysisException as e:
        if not path_not_found(e):
            raise
        return []
    return [r["bucket"] for r in lin.distinct().collect()]


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


def _stage_input(spark: SparkSession, pages_b: DataFrame, out_dir: str,
                 n_buckets: int) -> DataFrame:
    """Write the bucketed input ONCE as a bucket-partitioned staging
    table and return a reader over it: the per-group bucket filter
    then PRUNES partition directories instead of re-scanning the full
    input per commit unit (measured at 3M pages / 6 groups: the
    unstaged path costs ~one full input scan per group because the
    url-hash predicate cannot prune an unpartitioned layout —
    BENCH/BASELINE.md round-6). One extra full write of the corpus
    buys G reads -> 1 read + 1 write + 1 pruned-read-total; worth it
    from G >= 3, and unnecessary when the input is ALREADY stored
    bucket-partitioned (point the job at it and skip staging).

    Crash-safe reuse: a completed staging write carries parquet's
    _SUCCESS marker; a kill mid-staging leaves no marker and the next
    run rewrites it (mode=overwrite)."""
    staging = os.path.join(out_dir, "_staged_pages")
    done_marker = os.path.join(staging, "_SUCCESS")
    try:
        marker_exists = (spark._jvm.org.apache.hadoop.fs.Path(done_marker)
                         .getFileSystem(spark._jsc.hadoopConfiguration())
                         .exists(spark._jvm.org.apache.hadoop.fs.Path(done_marker)))
    except Exception:
        marker_exists = os.path.exists(done_marker)
    if not marker_exists:
        (pages_b.repartition(n_buckets, F.col("bucket"))
         .write.mode("overwrite").partitionBy("bucket").parquet(staging))
    return spark.read.parquet(staging)


def group_lineage(spark: SparkSession, todo: list[int],
                  lineage: DataFrame) -> DataFrame:
    """The lineage rows one commit group appends. EVERY bucket in
    ``todo`` gets a row — including zero-page buckets, which would
    otherwise be retried forever. The census comes from build_kg's own
    lineage frame (bucketed on the run's n_buckets via
    lineage_buckets): n_pages = distinct (url, warc_ts) snapshots — the
    page identity all lineage forms share (ADVICE r4) — counted from
    the persisted parse pass, so the pages table is not re-scanned per
    group."""
    todo_df = local_table(spark, [(b,) for b in todo], "bucket long")
    return (todo_df
            .join(lineage.select("bucket", "n_pages", "n_triples"), "bucket", "left")
            .fillna(0, ["n_pages", "n_triples"])
            .withColumn("completed_at", F.current_timestamp()))


def run_with_checkpoint(spark: SparkSession, pages: DataFrame,
                        config: CollectionConfig, dims: dict[str, DataFrame],
                        out_dir: str, n_buckets: int = 16,
                        bucket_groups: int | None = None,
                        pages_per_group: int = 500_000,
                        stage_input: bool = False,
                        max_groups: int | None = None,
                        fail_before_lineage: int | None = None,
                        **kg_kwargs) -> dict:
    """Process pages in ``bucket_groups`` commit units (each covering
    n_buckets/bucket_groups url-hash buckets). ``bucket_groups=None``
    (default) sizes the commit units to the INPUT: enough groups that
    each covers ~``pages_per_group`` pages, so a small input runs as
    one commit instead of paying the per-group fixed cost (plan
    re-analysis, template-cache persist, overwrite commit, lineage
    append — measured ~9 s/group at bench scale, BENCH/BASELINE.md
    round-6) eight times over. Groups are COMMIT batches only — the
    resume unit is the bucket, so re-running the same --out with a
    different grouping is safe: completed buckets are skipped whatever
    group they once belonged to. ``max_groups`` simulates a kill
    between groups; ``fail_before_lineage`` simulates a kill INSIDE
    group ``i``'s data->lineage window (data written, lineage not) —
    both for tests. Returns progress counters.

    ``stage_input`` (opt-in): when more than one commit unit will run,
    pre-bucket the input once into a bucket-PARTITIONED staging table
    under out_dir so each group's filter partition-prunes instead of
    re-scanning the whole input (see _stage_input; skip it when the
    input is already stored bucket-partitioned)."""
    if bucket_groups is None:
        # parquet row-count is footer metadata — no data scan
        n_pages = pages.count()
        bucket_groups = min(n_buckets,
                            max(1, -(-n_pages // max(1, pages_per_group))))
    done = set(completed_buckets(spark, out_dir))
    pages_b = pages.withColumn("bucket", bucket_col(F.col("url"), n_buckets))
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

    # stage only when the REMAINING work spans >1 commit unit: a
    # single-group run (or a fully-committed resume) reads the input
    # once anyway, so staging would be pure overhead
    n_pending = sum(1 for g in groups if any(b not in done for b in g))
    if stage_input and n_pending > 1:
        pages_b = _stage_input(spark, pages_b, out_dir, n_buckets)

    processed = 0
    for gi, group in enumerate(groups):
        todo = [b for b in group if b not in done]
        if not todo:
            continue
        if max_groups is not None and processed >= max_groups:
            break
        subset = pages_b.filter(F.col("bucket").isin(todo))
        out = build_kg(spark, subset.drop("bucket"), config, dims,
                       lineage_buckets=n_buckets, **kg_kwargs)
        triples = out["triples"].withColumn("bucket", bucket_col(F.col("url"), n_buckets))
        rejects = out["rejects"].withColumn("bucket", bucket_col(F.col("url"), n_buckets))
        _write_bucketed(triples, os.path.join(out_dir, "triples"), n_buckets)
        _write_bucketed(rejects, os.path.join(out_dir, "rejects"), n_buckets)
        if fail_before_lineage is not None and processed == fail_before_lineage:
            raise RuntimeError("simulated kill inside data->lineage window")
        # lineage rows commit last: a bucket is "done" only after its
        # data lands
        (group_lineage(spark, todo, out["lineage"])
         .write.mode("append").parquet(os.path.join(out_dir, "lineage")))
        # this group's outputs are all committed: release the pipeline
        # persists so per-group DISK_ONLY caches don't accumulate for
        # the life of a long multi-group session
        unpersist_all(out)
        done.update(todo)
        processed += 1
    return {"groups_processed": processed,
            "buckets_done": len(done), "n_buckets": n_buckets}
