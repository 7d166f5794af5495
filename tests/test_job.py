"""spark-submit entrypoint (pywdcollections_spark/job.py): argument
wiring, contract-schema dim loading, checkpointed run + resume, and
loud failure on a missing required dim."""

import json
import os
import pathlib
from collections import Counter

import pytest

from pywdcollections_spark import job as J
from pywdcollections_spark.sources.readers import DIM_SCHEMAS, read_dims
from pywdcollections_spark.testkit import spark_tables as TK

N = 150
SEED = 11


@pytest.fixture(scope="module")
def data_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("jobdata")
    pages_path = str(root / "pages.parquet")
    TK.pages_df(spark, N, SEED, head_templates=20) \
      .write.mode("overwrite").parquet(pages_path)
    dims_dir = str(root / "dims")
    TK.write_dim_parquet(spark, N, SEED, dims_dir)
    return pages_path, dims_dir


def test_job_end_to_end_and_resume(spark, data_dirs, tmp_path, capsys):
    pages_path, dims_dir = data_dirs
    out = str(tmp_path / "kg_out")
    argv = ["--pages", pages_path, "--dims-dir", dims_dir, "--out", out,
            "--n-buckets", "8", "--bucket-groups", "4"]
    summary = J.main(argv)
    assert summary["buckets_done"] == 8
    assert summary["groups_processed"] == 4
    assert summary["config"] == "cemeteries"
    # the one stdout line is the driver-parseable JSON summary
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(line)["out"] == out

    triples = spark.read.parquet(os.path.join(out, "triples"))
    assert triples.count() > 0
    assert {"subj", "pred", "obj_norm", "bucket"} <= set(triples.columns)

    # second invocation over the same --out: everything already
    # committed -> resume-by-default processes nothing
    again = J.main(argv)
    assert again["groups_processed"] == 0
    assert again["buckets_done"] == 8


def test_job_entities_promotion_and_idempotence(spark, data_dirs, tmp_path):
    """--entities materializes the wide entity table from the COMMITTED
    triples through the upsert sink; a second run over the same input
    finds zero changed rows (NULL-gated merge idempotence)."""
    pages_path, dims_dir = data_dirs
    out = str(tmp_path / "kg_ent")
    argv = ["--pages", pages_path, "--dims-dir", dims_dir, "--out", out,
            "--n-buckets", "8", "--bucket-groups", "2", "--entities"]
    s1 = J.main(argv)
    assert s1["entities_changed"] > 0
    ents = spark.read.parquet(os.path.join(out, "entities"))
    assert ents.select("qid").distinct().count() == ents.count()
    # promoted values actually landed: some property column gained a
    # value for a subject that appears in the committed triples
    triples = spark.read.parquet(os.path.join(out, "triples"))
    preds = {r["pred"] for r in triples.select("pred").distinct().collect()}
    assert any(p in ents.columns for p in preds)

    s2 = J.main(argv)
    assert s2["groups_processed"] == 0
    assert s2["entities_changed"] == 0


def test_job_entities_and_sync_cycle_commit_identically(spark, data_dirs, tmp_path):
    """One entity commit: ``--entities`` over the committed triples and
    the sync cycle over build_kg's triples leave identical entity tables
    for the same pages and dims."""
    from pywdcollections_spark.config import demo_config
    from pywdcollections_spark.plans.sync import run_promotion_cycle
    from pywdcollections_spark.sources.readers import read_pages
    from pywdcollections_spark.sources.sinks import ParquetUpsertSink

    pages_path, dims_dir = data_dirs
    out = str(tmp_path / "kg_job")
    s = J.main(["--pages", pages_path, "--dims-dir", dims_dir, "--out", out,
                "--n-buckets", "8", "--bucket-groups", "2", "--entities"])
    sink = ParquetUpsertSink(spark, str(tmp_path / "entities_sync"))
    r = run_promotion_cycle(spark, read_pages(spark, pages_path), demo_config(),
                            read_dims(spark, dims_dir), sink)
    assert s["entities_changed"] == r["entities_changed"] > 0

    job_ents = spark.read.parquet(os.path.join(out, "entities"))
    sync_ents = sink.read()
    assert job_ents.columns == sync_ents.columns
    rows = lambda df: Counter(tuple(r) for r in df.collect())
    assert rows(job_ents) == rows(sync_ents)


def test_job_missing_required_dim_fails_loudly(spark, data_dirs, tmp_path):
    """Every dim is required: a dims dir missing any table fails in
    read_dims, before a plan is built or an output written, with one
    error naming every missing table. Without commons_files the job
    would otherwise commit the file_missing rejects as valid triples."""
    import re
    import shutil
    pages_path, dims_dir = data_dirs
    for names in (["sitelinks"], ["commons_files"],
                  ["commons_files", "file_redirects"]):
        tag = "_".join(names)
        broken = str(tmp_path / f"dims_no_{tag}")
        shutil.copytree(dims_dir, broken)
        for name in names:
            shutil.rmtree(os.path.join(broken, f"dim_{name}.parquet"))
        out = str(tmp_path / f"out_no_{tag}")
        with pytest.raises(ValueError, match=re.escape(
                f"missing dim tables under {broken}: {', '.join(names)}")):
            J.main(["--pages", pages_path, "--dims-dir", broken, "--out", out])
        assert not os.path.exists(out), names


def test_read_dims_contract_schemas(spark, data_dirs):
    _, dims_dir = data_dirs
    # a plain path and a URI (how --dims-dir names hdfs:// or s3a://
    # tables) read the same tables
    for where in (dims_dir, pathlib.Path(dims_dir).as_uri()):
        dims = read_dims(spark, where)
        assert set(dims) == set(DIM_SCHEMAS), where
        # contract schema applied verbatim where declared
        assert [f.name for f in dims["sitelinks"].schema] == ["site", "title", "qid"]
        assert dict(dims["target_p31"].dtypes)["p31"] == "bigint"
    # every declared contract name round-trips (entities_seed inferred)
    assert DIM_SCHEMAS["entities_seed"] is None


def test_load_config_rejects_non_config():
    with pytest.raises(TypeError, match="expected CollectionConfig"):
        J.load_config("builtins:dict")


def test_job_default_canonicalize_is_single_phase(spark):
    """The job runs the configuration the round-5 A/B measured fastest
    (VERDICT r5 #1): single-phase map-side-combined max_by (one
    exchange, join-free), and auto commit-unit sizing
    (bucket_groups=None)."""
    import io
    from contextlib import redirect_stdout

    from pywdcollections_spark.operators.canonicalize import last_wins

    args = J.build_parser().parse_args(
        ["--pages", "p", "--dims-dir", "d", "--out", "o"])
    assert args.bucket_groups is None

    # non-unique key so the planner cannot elide the exchange
    df = spark.range(100).selectExpr("id % 5 as k", "id as o",
                                     "string(id) as v")
    out = last_wins(df, keys=["k"], order_cols=["o"], payload_cols=["v"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    assert tree.count("Exchange") == 1 and "Join" not in tree
