"""End-to-end pipeline parity: engine vs golden fixtures (SURVEY.md §5.2).

P/R computed on (subj, pred, obj_raw, source) exactly as the driver's
north-star check; target >= 0.95 but the suite asserts exact equality
— any asymmetry is a semantics bug.
"""

import pytest
from pyspark.sql import functions as F

from pywdcollections_spark.config import demo_config
from pywdcollections_spark.localtable import local_table
from pywdcollections_spark.operators.parse import text_parity
from pywdcollections_spark.operators.promote import promote_to_entities
from pywdcollections_spark.plans.checkpoint import bucket_col, group_lineage
from pywdcollections_spark.plans.pipeline import build_kg, unpersist_all
from pywdcollections_spark.testkit import spark_tables as TK

N_PAGES = 300
SEED = 42
HEAD = 50


@pytest.fixture(scope="module")
def fixture_tables(spark):
    pages = TK.pages_df(spark, N_PAGES, SEED, head_templates=HEAD).cache()
    dims = TK.dim_dfs(spark, N_PAGES, SEED)
    golden = TK.expected_harvested_df(spark, N_PAGES, SEED, head_templates=HEAD).cache()
    return pages, dims, golden


def _lineage(spark, out, n_buckets=64):
    """The lineage rows a single commit group over every bucket writes."""
    return group_lineage(spark, list(range(n_buckets)), out["templates"],
                         out["validated"], n_buckets)


def test_text_extraction_byte_parity(spark, fixture_tables):
    pages, _, _ = fixture_tables
    par = text_parity(pages).cache()
    n = par.count()
    assert n == N_PAGES
    assert par.filter(~F.col("matches_text_col")).count() == 0
    exp = TK.expected_text_df(spark, N_PAGES, SEED, head_templates=HEAD)
    joined = par.join(exp, "url")
    assert joined.filter(F.col("extracted_sha256") != F.col("text_sha256")).count() == 0


def test_harvest_matches_golden_exactly(spark, fixture_tables):
    pages, dims, golden = fixture_tables
    staged = build_kg(spark, pages, demo_config(), dims)["staged"].cache()
    key = ["subj", "pred", "obj_raw", "source"]
    got = staged.select(*key)
    exp = golden.select(*key)
    missing = exp.exceptAll(got)
    extra = got.exceptAll(exp)
    n_missing, n_extra = missing.count(), extra.count()
    if n_missing or n_extra:
        print("MISSING (expected, not produced):")
        missing.join(golden, key).show(30, truncate=120)
        print("EXTRA (produced, not expected):")
        extra.show(30, truncate=120)
    n_exp = exp.count()
    precision = 1 - n_extra / max(got.count(), 1)
    recall = 1 - n_missing / max(n_exp, 1)
    print(f"n_exp={n_exp} precision={precision:.4f} recall={recall:.4f}")
    assert n_missing == 0 and n_extra == 0


def test_full_build_outputs(spark, fixture_tables):
    pages, dims, _ = fixture_tables
    out = build_kg(spark, pages, demo_config(), dims)
    triples = out["triples"].cache()
    rejects = out["rejects"].cache()
    assert triples.count() > 0
    assert rejects.count() > 0
    # valid triples carry provenance and normalized objects
    assert triples.filter(F.col("site_qid").isNull()).count() == 0
    assert triples.filter(F.col("obj_norm").isNull()).count() == 0
    # expected reject kinds all observed
    reasons = {r["reject_reason"] for r in rejects.select("reject_reason").distinct().collect()}
    assert "writer_not_implemented" in reasons     # dates (P571)
    assert "bad_coordinates" in reasons            # '%s|%s|0' defect rows
    # lineage counts pages in exactly the buckets that hold pages
    lin = _lineage(spark, out)
    page_buckets = {r[0] for r in pages.select(bucket_col(F.col("url"), 64))
                    .distinct().collect()}
    assert {r["bucket"] for r in lin.filter("n_pages > 0").collect()} == page_buckets
    # promoted entity table: every valid triple's value landed unless the
    # entity already had one (F4 null-gate)
    ents = promote_to_entities(dims["entities_seed"], triples).cache()
    assert ents.count() == dims["entities_seed"].count()
    promoted = (triples.groupBy("subj").count()
                .join(ents, triples["subj"] == ents["qid"]))
    assert promoted.count() > 0


def test_lineage_census_counts_pages_without_staged_rows(spark, fixture_tables):
    """Single-pass lineage (VERDICT r3 #6): the page census rides the
    persisted parse, so pages that stage NOTHING — garbage html (zero
    templates) or a title with no sitelink — must still be counted,
    and the staged/triple output must be unchanged by census mode."""
    pages, dims, _ = fixture_tables
    extra = spark.createDataFrame(
        [("https://en.fixture.example/wiki/No_Such_Sitelink_Page",
          "2024-01-01 00:00:00", b"<html><body>{{Infobox x|p=q}}</body></html>",
          "{{Infobox x|p=q}}", "en"),
         ("https://en.fixture.example/wiki/Garbage_Html_Page",
          "2024-01-01 00:00:00", b"\xff\xfe not html at all", "", "en")],
        "url string, warc_ts string, html binary, text string, lang string") \
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    both = pages.select("url", "warc_ts", "html", "text", "lang") \
                .unionByName(extra)

    out = build_kg(spark, both, demo_config(), dims)
    baseline = build_kg(spark, pages, demo_config(), dims)
    assert _lineage(spark, out).agg(F.sum("n_pages")).first()[0] == N_PAGES + 2
    # the two census-only pages contribute no staged rows
    assert out["staged"].count() == baseline["staged"].count()


def test_lineage_page_identity_is_url_warc_ts(spark, fixture_tables):
    """ADVICE r4: lineage counts a page as one distinct (url, warc_ts)
    snapshot — a url captured under two warc_ts is two pages in the
    census."""
    pages, dims, _ = fixture_tables
    cols = ["url", "warc_ts", "html", "text", "lang"]
    shifted = (pages.select(*cols).limit(5)
               .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")))
    both = pages.select(*cols).unionByName(shifted)
    census = _lineage(spark, build_kg(spark, both, demo_config(), dims))
    assert census.agg(F.sum("n_pages")).first()[0] == N_PAGES + 5


def _driver_rdd_leaves(df) -> list[str]:
    """Plan nodes that scan an RDD: a ``LogicalRDD`` leaf in the
    optimized plan, or the ``Scan ExistingRDD`` it becomes inside a
    cached subtree (InMemoryRelation prints its physical plan)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln.strip() for ln in plan.splitlines()
            if "LogicalRDD" in ln or "ExistingRDD" in ln]


def test_kg_plans_have_no_driver_rdd_leaves(spark, tmp_path_factory):
    """The pipeline's constant tables (template map, property
    constraints, validator dispatch, a commit group's bucket list) are
    LocalRelations: no plan leaf is a list-built RDD, whose every scan
    would re-run Python workers. Inputs are parquet, so any RDD leaf
    left would be the pipeline's own."""
    base = str(tmp_path_factory.mktemp("plan_inputs"))
    TK.pages_df(spark, 40, SEED, head_templates=5).write.parquet(f"{base}/pages")
    pages = spark.read.parquet(f"{base}/pages")
    dims = TK.read_dim_parquet(spark, TK.write_dim_parquet(spark, 40, SEED, base))
    out = build_kg(spark, pages, demo_config(), dims)
    try:
        assert _driver_rdd_leaves(out["triples"]) == []
        lin = group_lineage(spark, [0, 1, 2], out["templates"], out["validated"], 8)
        assert _driver_rdd_leaves(lin) == []
    finally:
        unpersist_all(out)


def test_local_table_schema_and_round_trip(spark):
    ddl = "pred string, constraints array<long>, n int"
    empty = local_table(spark, [], ddl)
    assert empty.schema.simpleString() == "struct<pred:string,constraints:array<bigint>,n:int>"
    assert empty.count() == 0
    rows = [{"pred": "P1", "constraints": [2**62, -(2**40), 0], "n": 2**31 - 1},
            ("P2", [], -(2**31)),
            ("P3", None, None)]
    df = local_table(spark, rows, ddl)
    assert _driver_rdd_leaves(df) == []
    got = sorted(tuple(r) for r in df.collect())
    assert got == [("P1", [2**62, -(2**40), 0], 2**31 - 1),
                   ("P2", [], -(2**31)),
                   ("P3", None, None)]
