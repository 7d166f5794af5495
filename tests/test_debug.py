"""Single-page debug harness (pywdcollections.py:240-249 analogue):
every stage's rows for one fixture page, selectable by url or by
(site, title)."""

import pytest

from pywdcollections_spark.config import demo_config
from pywdcollections_spark.plans.debug import debug_page
from pywdcollections_spark.testkit import generate as G
from pywdcollections_spark.testkit import spark_tables as TK

N, SEED, HEAD = 60, 31, 10


@pytest.fixture(scope="module")
def env(spark):
    pages = TK.pages_df(spark, N, SEED, head_templates=HEAD).cache()
    dims = TK.dim_dfs(spark, N, SEED)
    return pages, dims


def _rich_page():
    """First fixture page with at least two harvested predicates."""
    for i in range(1, N):
        rows = G.expected_harvested_rows(SEED, i, N, HEAD)
        if len(rows) >= 2:
            return i, rows
    raise AssertionError("fixture has no multi-predicate page")


def test_debug_page_by_url_traces_all_stages(spark, env):
    pages, dims = env
    i, exp = _rich_page()
    out = debug_page(spark, pages, demo_config(), dims, url=exp[0]["url"])

    assert len(out["page"]) == 1
    assert [r["url"] for r in out["page"]] == [exp[0]["url"]]
    assert out["templates"], "no parsed templates for a harvesting page"
    assert out["candidates"], "mapping stage produced nothing"

    # staged == the golden expected harvest for exactly this page
    got = {(r["pred"], r["obj_raw"]) for r in out["staged"]}
    want = {(r["pred"], r["obj_raw"]) for r in exp}
    assert got == want

    # validation verdict present for every staged row
    assert len(out["validated"]) == len(out["staged"])
    for r in out["validated"]:
        assert r["valid"] in (True, False)
        assert r["valid"] or r["reject_reason"]


def test_debug_page_by_site_title_matches_url_mode(spark, env):
    pages, dims = env
    i, exp = _rich_page()
    lang = G.page_lang(SEED, i)
    out = debug_page(spark, pages, demo_config(), dims,
                     site=f"{lang}wiki", title=G.page_title(i, lang))
    got = {(r["pred"], r["obj_raw"]) for r in out["staged"]}
    assert got == {(r["pred"], r["obj_raw"]) for r in exp}


def test_debug_page_shows_census_row_for_template_less_page(spark, env):
    """debug_page runs build_kg, so ``templates`` is the page census: a
    page with no template still shows exactly one row (null tname) —
    the answer to "why no triples?" — and nothing downstream."""
    pages, dims = env
    i = next(i for i in range(N) if not G.page_spec(SEED, i, N, HEAD)["templates"])
    url = G.page_spec(SEED, i, N, HEAD)["url"]
    out = debug_page(spark, pages, demo_config(), dims, url=url)

    assert [r["url"] for r in out["page"]] == [url]
    assert len(out["templates"]) == 1
    row = out["templates"][0]
    assert row["url"] == url and row["tname"] is None and row["params"] is None
    assert out["candidates"] == [] and out["staged"] == []


def test_debug_page_requires_a_selector(spark, env):
    pages, dims = env
    with pytest.raises(ValueError):
        debug_page(spark, pages, demo_config(), dims)
