"""Validation/promotion parity: engine validate stage vs the pure-Python
golden oracle (testkit.validate_golden — independent reimplementation
of the reference writers, pywdcollections.py:1061-1337)."""

import pytest
from pyspark.sql import functions as F

from pywdcollections_spark.config import demo_config
from pywdcollections_spark.plans.pipeline import build_kg
from pywdcollections_spark.testkit import spark_tables as TK
from pywdcollections_spark.testkit.validate_golden import expected_validation

N_PAGES = 250
SEED = 1729
HEAD = 30


@pytest.fixture(scope="module")
def outputs(spark):
    pages = TK.pages_df(spark, N_PAGES, SEED, head_templates=HEAD)
    dims = TK.dim_dfs(spark, N_PAGES, SEED)
    return build_kg(spark, pages, demo_config(), dims)


def test_valid_triples_match_golden(spark, outputs):
    golden_valid, _ = expected_validation(N_PAGES, SEED, head_templates=HEAD)
    exp = spark.createDataFrame(
        [(r["subj"], r["pred"], r["obj_norm"], r["source"]) for r in golden_valid],
        "subj string, pred string, obj_norm string, source string")
    got = outputs["triples"].select("subj", "pred", "obj_norm", "source")
    missing = exp.exceptAll(got)
    extra = got.exceptAll(exp)
    nm, ne = missing.count(), extra.count()
    if nm or ne:
        print("MISSING:"); missing.show(30, truncate=80)
        print("EXTRA:"); extra.show(30, truncate=80)
    assert nm == 0 and ne == 0


def test_rejects_match_golden(spark, outputs):
    _, golden_rejects = expected_validation(N_PAGES, SEED, head_templates=HEAD)
    exp = spark.createDataFrame(
        [(r["subj"], r["pred"], r["reason"]) for r in golden_rejects],
        "subj string, pred string, reject_reason string")
    got = outputs["rejects"].select("subj", "pred", "reject_reason")
    missing = exp.exceptAll(got)
    extra = got.exceptAll(exp)
    nm, ne = missing.count(), extra.count()
    if nm or ne:
        print("MISSING:"); missing.show(30, truncate=80)
        print("EXTRA:"); extra.show(30, truncate=80)
    assert nm == 0 and ne == 0


def test_category_redirect_followed_to_target(spark, outputs):
    """P373 category-redirect following (pywdcollections.py:966-967 via
    :1205-1223): a harvested category that is a redirect lands with its
    TARGET title; a redirect to a missing target rejects on the exists
    check."""
    from pywdcollections_spark.testkit import generate as G

    cases = {i: G.cat_redirect_case(SEED, i) for i in range(N_PAGES)}
    assert any(c and c[2] for c in cases.values()), "fixture lacks redirect->existing"
    assert any(c and not c[2] for c in cases.values()), "fixture lacks redirect->missing"

    triples = outputs["triples"].filter(F.col("pred") == "P373") \
        .select("subj", "obj_raw", "obj_norm").collect()
    rejects = {(r["subj"], r["obj_raw"]): r["reject_reason"]
               for r in outputs["rejects"].filter(F.col("pred") == "P373").collect()}

    resolved = [r for r in triples
                if r["obj_norm"].startswith("Canonical category of ")]
    assert resolved, "no redirected category harvested as its target"
    for r in resolved:
        # claim target = redirect target, raw value = original title
        assert r["obj_raw"].startswith("Category of ")

    # redirect-to-missing: no valid P373 triple, reject reason is the
    # exists check (the redirect WAS followed — the target is missing)
    missing_rejected = [k for k, v in rejects.items()
                        if v == "category_missing"
                        and cases.get(int(k[0][1:]) - 1000)
                        and not cases[int(k[0][1:]) - 1000][2]]
    assert missing_rejected, "no redirect->missing case rejected"


def test_file_redirect_followed_and_missing_file_rejected(spark, outputs):
    """File-page semantics (write_prop_image, pywdcollections.py:
    1162-1172 via FilePage :977-981): a redirected file lands with its
    resolved title (recursively — 2-hop chains resolve to the final
    target), and an image whose file page does not exist rejects with
    the exists check."""
    from pywdcollections_spark.testkit import generate as G

    cases = {i: G.file_case(SEED, i) for i in range(N_PAGES)}
    assert "redirect" in cases.values() and "redirect2" in cases.values() \
        and "missing" in cases.values()

    image_preds = ("P18", "P154")
    triples = outputs["triples"].filter(F.col("pred").isin(*image_preds)).collect()
    rejects = outputs["rejects"].filter(F.col("pred").isin(*image_preds)).collect()

    archived = [r for r in triples if "(archived)." in r["obj_norm"]]
    assert archived, "no file redirect resolved in the pipeline"
    for r in archived:
        assert "photo.jp" in r["obj_raw"]       # raw keeps the original name

    missing = [r for r in rejects if r["reject_reason"] == "file_missing"]
    assert missing, "no missing-file rejection"
    for r in missing:
        assert cases[int(r["subj"][1:]) - 1000] == "missing"


def test_file_redirect_chain_collapses_recursively(spark):
    """collapse_redirect_chains resolves multi-hop chains to the final
    target (the FilePage recursion, :977-981) and terminates on cycles
    instead of recursing forever."""
    from pywdcollections_spark.operators.validate import collapse_redirect_chains

    redirects = spark.createDataFrame(
        [("a.jpg", "b.jpg"), ("b.jpg", "c.jpg"), ("c.jpg", "d.jpg"),
         ("x.jpg", "y.jpg"), ("y.jpg", "x.jpg")],       # 3-hop chain + cycle
        "from_title string, to_title string")
    got = {r["from_title"]: r["to_title"]
           for r in collapse_redirect_chains(redirects).collect()}
    assert got["a.jpg"] == "d.jpg"      # recursion past 2 hops
    assert got["b.jpg"] == "d.jpg"
    assert got["x.jpg"] in ("x.jpg", "y.jpg")   # cycle: terminates


def test_full_sources_map_provenance(spark):
    """Any wiki site — not just the fixture's en/fr/de — resolves a
    site_qid through the provenance join (the reference's ~330-row
    sources map, pywdcollections.py:605-936)."""
    from pyspark.sql import functions as F
    from pywdcollections_spark.registry import SOURCE_SITES, source_rows

    rows = source_rows()
    assert len(rows) == 330
    src = spark.createDataFrame(rows, "site string, site_qid long") \
               .select(F.col("site").alias("source"), "site_qid")
    triples = spark.createDataFrame(
        [("Q1", "P373", "eswiki"), ("Q2", "P373", "itwiki"),
         ("Q3", "P373", "jawiki"), ("Q4", "P373", "be_x_oldwiki")],
        "subj string, pred string, source string")
    got = {r["source"]: r["site_qid"]
           for r in triples.join(src, "source", "left").collect()}
    assert got == {"eswiki": 8449, "itwiki": 11920,
                   "jawiki": 177837, "be_x_oldwiki": 8937989}
    assert SOURCE_SITES["enwiki"] == 328


def test_redirect_dim_with_duplicate_targets_does_not_fan_out(spark):
    """A redirect dim carrying TWO targets for one from_title must not
    duplicate staged rows through the dim join (ADVICE r3): the
    reference's per-title cache holds exactly one mapping, so the
    engine collapses to one deterministic target (min) per title."""
    from pywdcollections_spark.operators.linking import target_classes
    from pywdcollections_spark.operators.validate import dispatch_table, validate

    staged = spark.createDataFrame(
        [("Q1", "P373", "Old name", "string", "enwiki", "u1", "2024-01-01"),
         ("Q1", "P18", "pic.jpg", "string", "enwiki", "u1", "2024-01-01")],
        "subj string, pred string, obj_raw string, datatype string, "
        "source string, url string, warc_ts string")
    seed = spark.createDataFrame([("Q1", None)], "qid string, P17 string")
    items = spark.createDataFrame([], "qid string")
    p31 = spark.createDataFrame([], "qid string, p31 long")
    p279 = spark.createDataFrame([], "class_qid long, super_qid long")
    cats = spark.createDataFrame([("A target",), ("B target",)], "title string")
    # duplicate from_title -> two different targets, in BOTH redirect dims
    cat_redir = spark.createDataFrame(
        [("Old name", "B target"), ("Old name", "A target")],
        "from_title string, to_title string")
    files = spark.createDataFrame([("a.jpg",), ("b.jpg",)], "title string")
    file_redir = spark.createDataFrame(
        [("pic.jpg", "b.jpg"), ("pic.jpg", "a.jpg")],
        "from_title string, to_title string")

    out = validate(staged, dispatch_table(spark), seed, items,
                   target_classes(p31, p279), cats,
                   commons_redirects=cat_redir, commons_files=files,
                   file_redirects=file_redir).collect()
    assert len(out) == 2                       # no fan-out
    by_pred = {r["pred"]: r for r in out}
    assert by_pred["P373"].obj_norm == "A target"   # min(to_title), exists
    assert by_pred["P18"].obj_norm == "a.jpg"


def test_whitespace_edged_titles_match_the_oracle(spark):
    """Positional params reach validate unstripped. The image and P373
    title cleanups must strip like the reference's str.strip(), so a
    tab-edged image title and a U+3000/U+00A0-edged category resolve to
    the same titles, and the same verdicts, as the golden oracle's."""
    from pywdcollections_spark.operators.linking import target_classes
    from pywdcollections_spark.operators.validate import dispatch_table, validate
    from pywdcollections_spark.testkit.validate_golden import category_title, image_title

    img, cat = "\tpic.jpg", "\u3000Some cat\xa0"
    files, cats = {"pic.jpg"}, {"Some cat"}
    # the oracle's verdicts: the stripped titles exist, so both are valid
    assert image_title(img) in files and category_title(cat) in cats

    staged = spark.createDataFrame(
        [("Q1", "P18", img, "string", "enwiki", "u1", "2024-01-01"),
         ("Q1", "P373", cat, "string", "enwiki", "u1", "2024-01-01")],
        "subj string, pred string, obj_raw string, datatype string, "
        "source string, url string, warc_ts string")
    seed = spark.createDataFrame([("Q1", None)], "qid string, P17 string")
    redirects = spark.createDataFrame([], "from_title string, to_title string")
    out = validate(staged, dispatch_table(spark), seed,
                   spark.createDataFrame([], "qid string"),
                   target_classes(spark.createDataFrame([], "qid string, p31 long"),
                                  spark.createDataFrame([], "class_qid long, super_qid long")),
                   spark.createDataFrame([(t,) for t in cats], "title string"),
                   commons_redirects=redirects,
                   commons_files=spark.createDataFrame([(t,) for t in files], "title string"),
                   file_redirects=redirects).collect()
    got = {r["pred"]: (r["valid"], r["obj_norm"], r["reject_reason"]) for r in out}
    assert got == {"P18": (True, image_title(img), None),
                   "P373": (True, category_title(cat), None)}
