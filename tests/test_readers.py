"""Pages wire formats: the JSONL profile round-trips byte-identically
and feeds the pipeline to the same triples as the parquet path."""

import pytest

from pywdcollections_spark.config import demo_config
from pywdcollections_spark.plans.pipeline import build_kg, unpersist_all
from pywdcollections_spark.sources.readers import read_pages, write_pages_jsonl
from pywdcollections_spark.testkit import spark_tables as TK

N = 100
SEED = 13


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("fmt")
    pages = TK.pages_df(spark, N, SEED, head_templates=10)
    pq = str(base / "pages_parquet")
    jl = str(base / "pages_jsonl")
    pages.write.parquet(pq)
    write_pages_jsonl(spark.read.parquet(pq), jl)
    return pq, jl


def test_jsonl_roundtrip_byte_identical(spark, paths):
    pq, jl = paths
    a = read_pages(spark, pq, "parquet")
    b = read_pages(spark, jl, "jsonl")
    assert a.schema == b.schema
    assert a.count() == b.count() == N
    key = ["url", "warc_ts", "html", "text", "lang"]
    assert a.select(key).exceptAll(b.select(key)).count() == 0
    assert b.select(key).exceptAll(a.select(key)).count() == 0


def test_jsonl_pages_build_identical_kg(spark, paths):
    pq, jl = paths
    dims = TK.dim_dfs(spark, N, SEED)
    key = ["subj", "pred", "obj_norm", "source"]
    out_pq = build_kg(spark, read_pages(spark, pq, "parquet"), demo_config(), dims)
    out_jl = build_kg(spark, read_pages(spark, jl, "jsonl"), demo_config(), dims)
    t_pq, t_jl = out_pq["triples"].select(key), out_jl["triples"].select(key)
    assert t_pq.count() == t_jl.count() > 0
    assert t_pq.exceptAll(t_jl).count() == 0 and t_jl.exceptAll(t_pq).count() == 0
    unpersist_all(out_pq)
    unpersist_all(out_jl)


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unknown pages format"):
        read_pages(spark, "/nonexistent", "csv")
