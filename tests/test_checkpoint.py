"""Resumability (north rule): a run killed after some bucket groups
resumes from lineage and ends with tables identical to an
uninterrupted run."""

import glob
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from pywdcollections_spark.config import demo_config
from pywdcollections_spark.plans import checkpoint
from pywdcollections_spark.plans.checkpoint import completed_buckets, run_with_checkpoint
from pywdcollections_spark.testkit import spark_tables as TK

N = 200
SEED = 7


@pytest.fixture(scope="module")
def env(spark):
    pages = TK.pages_df(spark, N, SEED, head_templates=20).cache()
    dims = TK.dim_dfs(spark, N, SEED)
    return pages, dims


def _triples(spark, out_dir):
    return (spark.read.parquet(f"{out_dir}/triples")
            .select("subj", "pred", "obj_norm", "source"))


def test_interrupted_run_resumes_identically(spark, env, tmp_path_factory):
    pages, dims = env
    full_dir = str(tmp_path_factory.mktemp("full"))
    part_dir = str(tmp_path_factory.mktemp("partial"))

    # uninterrupted run (auto group sizing: one commit at this scale)
    r_full = run_with_checkpoint(spark, pages, demo_config(), dims, full_dir)
    assert r_full["buckets_done"] == r_full["n_buckets"]
    assert r_full["groups_processed"] == 1

    # killed after 2 of 4 groups
    r1 = run_with_checkpoint(spark, pages, demo_config(), dims, part_dir,
                             bucket_groups=4, max_groups=2)
    assert r1["groups_processed"] == 2
    n_partial = _triples(spark, part_dir).count()

    # resume: only the remaining groups run
    r2 = run_with_checkpoint(spark, pages, demo_config(), dims, part_dir,
                             bucket_groups=4)
    assert r2["groups_processed"] == 2
    assert r2["buckets_done"] == r2["n_buckets"]

    a = _triples(spark, full_dir)
    b = _triples(spark, part_dir)
    assert a.count() == b.count() > n_partial
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # idempotent: a third run processes nothing and changes nothing
    # (run with AUTO grouping: the resume unit is the bucket, so a
    # different grouping across runs of the same --out is safe)
    r3 = run_with_checkpoint(spark, pages, demo_config(), dims, part_dir)
    assert r3["groups_processed"] == 0
    assert _triples(spark, part_dir).count() == a.count()

    # lineage covers every bucket with correct page counts
    lin = spark.read.parquet(f"{part_dir}/lineage")
    assert lin.select("bucket").distinct().count() == r2["n_buckets"]
    assert lin.agg(F.sum("n_pages")).first()[0] == N


def test_crash_inside_data_lineage_window_no_duplicates(spark, env, tmp_path_factory):
    """Kill AFTER a group's data write but BEFORE its lineage commit:
    the re-run must replace that group's bucket partitions (dynamic
    partition overwrite), not append them a second time."""
    pages, dims = env
    full_dir = str(tmp_path_factory.mktemp("full2"))
    crash_dir = str(tmp_path_factory.mktemp("crash"))

    run_with_checkpoint(spark, pages, demo_config(), dims, full_dir)

    with pytest.raises(RuntimeError, match="simulated kill"):
        run_with_checkpoint(spark, pages, demo_config(), dims, crash_dir,
                            bucket_groups=4,
                            fail_before_lineage=1)  # group 0 committed, group 1 data-only
    # group 1's data is on disk but unrecorded; resume must not
    # duplicate it — even resuming under a DIFFERENT grouping (auto =
    # one group here): dynamic-partition overwrite replaces the
    # partial bucket partitions whatever commit unit re-covers them
    r = run_with_checkpoint(spark, pages, demo_config(), dims, crash_dir)
    assert r["buckets_done"] == r["n_buckets"]

    a = _triples(spark, full_dir)
    b = _triples(spark, crash_dir)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_zero_page_buckets_get_lineage_rows(spark, env, tmp_path_factory):
    """Sparse input: buckets with no pages must still be marked done,
    so a re-run is a no-op (idempotent-third-run property)."""
    pages, dims = env
    out_dir = str(tmp_path_factory.mktemp("sparse"))
    sparse = pages.limit(5)   # 16 buckets, ~5 occupied

    r1 = run_with_checkpoint(spark, sparse, demo_config(), dims, out_dir)
    assert r1["buckets_done"] == r1["n_buckets"]
    lin = spark.read.parquet(f"{out_dir}/lineage")
    assert lin.select("bucket").distinct().count() == r1["n_buckets"]

    r2 = run_with_checkpoint(spark, sparse, demo_config(), dims, out_dir)
    assert r2["groups_processed"] == 0


def test_auto_group_sizing(spark, env, tmp_path_factory):
    """bucket_groups=None (the CLI default) sizes commit units to the
    input: ~pages_per_group pages per commit, clamped to [1, n_buckets].
    Small inputs run as ONE commit (the per-group fixed cost is paid
    once); a tiny pages_per_group forces many groups."""
    pages, dims = env
    one = str(tmp_path_factory.mktemp("auto1"))
    r1 = run_with_checkpoint(spark, pages, demo_config(), dims, one)
    assert r1["groups_processed"] == 1
    assert r1["buckets_done"] == r1["n_buckets"]

    many = str(tmp_path_factory.mktemp("auto4"))
    r4 = run_with_checkpoint(spark, pages, demo_config(), dims, many,
                             pages_per_group=50)   # 200 pages -> 4 groups
    assert r4["groups_processed"] == 4

    a, b = _triples(spark, one), _triples(spark, many)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stage_input_identical_and_pruned(spark, env, tmp_path_factory):
    """stage_input=True pre-buckets the input once into a
    bucket-PARTITIONED staging table; outputs must be identical to the
    unstaged run, the per-group scan must partition-prune (pushed
    partition filter, no url-hash recompute on the scan side), resume
    must reuse the completed staging (_SUCCESS marker), and a staging
    dir WITHOUT the marker (kill mid-staging) must be rewritten."""
    import os

    pages, dims = env
    plain = str(tmp_path_factory.mktemp("plain"))
    staged = str(tmp_path_factory.mktemp("staged"))

    run_with_checkpoint(spark, pages, demo_config(), dims, plain,
                        bucket_groups=4)
    r = run_with_checkpoint(spark, pages, demo_config(), dims, staged,
                            bucket_groups=4, stage_input=True)
    assert r["groups_processed"] == 4
    staging = os.path.join(staged, "_staged_pages")
    assert os.path.exists(os.path.join(staging, "_SUCCESS"))
    # partition layout: one directory per occupied bucket
    assert any(n.startswith("bucket=") for n in os.listdir(staging))

    a, b = _triples(spark, plain), _triples(spark, staged)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # the group filter prunes the staged scan: with a partition filter
    # on bucket, the scan's partition count at one bucket is 1 dir
    sub = spark.read.parquet(staging).filter(F.col("bucket") == 3)
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        sub.explain("formatted")
    assert "PartitionFilters: [isnotnull(bucket" in buf.getvalue() \
        or "bucket = 3" in buf.getvalue()

    # fully-committed resume: no pending group -> staging untouched,
    # nothing reprocessed
    r2 = run_with_checkpoint(spark, pages, demo_config(), dims, staged,
                             bucket_groups=4, stage_input=True)
    assert r2["groups_processed"] == 0

    # kill-mid-staging: a partial staging dir WITHOUT _SUCCESS must be
    # rewritten (not trusted) and the run still completes identically
    crash = str(tmp_path_factory.mktemp("stagecrash"))
    partial = os.path.join(crash, "_staged_pages", "bucket=0")
    os.makedirs(partial)
    with open(os.path.join(partial, "garbage.parquet"), "wb") as f:
        f.write(b"\x00not parquet")
    r3 = run_with_checkpoint(spark, pages, demo_config(), dims, crash,
                             bucket_groups=4, stage_input=True)
    assert r3["groups_processed"] == 4
    assert os.path.exists(os.path.join(crash, "_staged_pages", "_SUCCESS"))
    c = _triples(spark, crash)
    assert c.count() == a.count()
    assert a.exceptAll(c).count() == 0 and c.exceptAll(a).count() == 0


def test_non_divisible_bucket_groups_cover_all_buckets(spark, env, tmp_path_factory):
    """n_buckets not divisible by bucket_groups must still assign every
    bucket to a commit unit — the naive floor split silently dropped
    the remainder buckets (never processed, never marked done)."""
    pages, dims = env
    out_dir = str(tmp_path_factory.mktemp("nondiv"))
    r = run_with_checkpoint(spark, pages, demo_config(), dims, out_dir,
                            n_buckets=10, bucket_groups=4)
    assert r["buckets_done"] == 10
    lin = spark.read.parquet(f"{out_dir}/lineage")
    assert lin.select("bucket").distinct().count() == 10
    # and the remainder buckets actually carry their data
    tr = spark.read.parquet(f"{out_dir}/triples")
    assert tr.select("bucket").distinct().count() >= 8


def test_corrupt_lineage_file_raises_not_reruns(spark, env, tmp_path_factory):
    """Only a MISSING lineage directory means "nothing done": a
    lineage file that cannot be read must fail the run, not be taken
    as an empty lineage that re-runs every bucket over committed data."""
    pages, dims = env
    out_dir = str(tmp_path_factory.mktemp("corrupt"))
    assert completed_buckets(spark, out_dir) == []          # missing: fresh run
    run_with_checkpoint(spark, pages, demo_config(), dims, out_dir)
    assert sorted(completed_buckets(spark, out_dir)) == list(range(16))

    lineage = os.path.join(out_dir, "lineage")
    victim = sorted(glob.glob(os.path.join(lineage, "*.parquet")))[0]
    with open(victim, "wb") as f:
        f.write(b"not a parquet file")
    triples = sorted(glob.glob(os.path.join(out_dir, "triples", "*", "*.parquet")))
    mtimes = [os.path.getmtime(p) for p in triples]

    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        completed_buckets(spark, out_dir)
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        run_with_checkpoint(spark, pages, demo_config(), dims, out_dir)
    # the committed data was not rewritten
    assert [os.path.getmtime(p) for p in triples] == mtimes


def test_lineage_dir_without_committed_file_reads_empty(spark, tmp_path):
    """A kill inside the first lineage write leaves the directory with
    no committed parquet file: nothing is done yet, not a read error."""
    (tmp_path / "lineage" / "_temporary").mkdir(parents=True)
    assert completed_buckets(spark, str(tmp_path)) == []


def test_bucketed_writes_read_the_validated_cache(spark, env, tmp_path, monkeypatch):
    """run_with_checkpoint persists build_kg's validated frame, the one
    fan-out into triples, rejects and lineage. Both bucketed writes must
    read that cache, though their frames were derived before the
    persist call: the plan Spark runs holds an InMemoryRelation whose
    output carries validate's reject_reason column."""
    pages, dims = env
    plans = {}
    write = checkpoint._write_bucketed

    def recording(df, path, n_buckets):
        plans[os.path.basename(path)] = \
            df._jdf.queryExecution().withCachedData().toString()
        write(df, path, n_buckets)

    monkeypatch.setattr(checkpoint, "_write_bucketed", recording)
    run_with_checkpoint(spark, pages, demo_config(), dims, str(tmp_path),
                        n_buckets=4, bucket_groups=2, max_groups=1)
    assert set(plans) == {"triples", "rejects"}
    for name, plan in plans.items():
        assert any("InMemoryRelation" in ln and "reject_reason#" in ln
                   for ln in plan.splitlines()), name
