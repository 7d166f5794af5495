"""Streaming ingest == batch pipeline on the same pages, and a
restarted stream with the same checkpoint reprocesses nothing."""

import glob

import pytest

from pywdcollections_spark.config import demo_config
from pywdcollections_spark.plans.pipeline import build_kg, unpersist_all
from pywdcollections_spark.plans.streaming import stream_harvest
from pywdcollections_spark.testkit import spark_tables as TK

N = 120
SEED = 11


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    pages_dir = str(base / "pages")
    pages = TK.pages_df(spark, N, SEED, head_templates=10)
    # two file chunks -> two micro-batches at maxFilesPerTrigger=1
    pages.filter("length(url) % 2 = 0").coalesce(1).write.mode("append").parquet(pages_dir)
    pages.filter("length(url) % 2 = 1").coalesce(1).write.mode("append").parquet(pages_dir)
    dims = TK.dim_dfs(spark, N, SEED)
    return pages, pages_dir, dims, str(base)


def test_stream_matches_batch_and_resumes_cleanly(spark, env):
    pages, pages_dir, dims, base = env
    out_dir, ckpt = f"{base}/out", f"{base}/ckpt"

    prog = stream_harvest(spark, pages_dir, out_dir, demo_config(), dims, ckpt)
    assert prog["batches"] >= 1 and prog["rows_in"] == N

    got = (spark.read.parquet(f"{out_dir}/triples")
           .select("subj", "pred", "obj_norm", "source"))
    batch = build_kg(spark, spark.read.parquet(pages_dir), demo_config(), dims)
    exp = batch["triples"].select("subj", "pred", "obj_norm", "source")
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    unpersist_all(batch)

    # restart with the same checkpoint: nothing new to process
    prog2 = stream_harvest(spark, pages_dir, out_dir, demo_config(), dims, ckpt)
    assert prog2["batches"] == 0
    assert (spark.read.parquet(f"{out_dir}/triples").count() == got.count())
    # committed as per-batch partitions (idempotent replay unit)
    assert glob.glob(f"{out_dir}/triples/batch_id=*")
