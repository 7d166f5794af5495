"""Single-page debug harness — the ``debug_templates`` affordance
(pywdcollections.py:240-249) for the batch pipeline.

The reference's only debugging tool runs the full harvest path for ONE
(site, title) and prints each step. ``debug_page`` does the batch
analogue: select one page (by url, or by site+title), run it through
every stage — extract/parse -> subject join -> mapping -> linking ->
canonicalize -> validate — and return EACH stage's rows, so an
operator can see exactly where a value was produced, transformed, or
rejected.

Collecting is deliberate: this is a one-page control-plane tool (a few
dozen rows per stage), not a data-plane operator — Catalyst still
prunes the scan to the single page via the pushed url/lang filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pywdcollections_spark.config import CollectionConfig
from pywdcollections_spark.operators import canonicalize as C
from pywdcollections_spark.operators import linking as L
from pywdcollections_spark.operators import mapping as M
from pywdcollections_spark.operators import parse as P
from pywdcollections_spark.operators import validate as V
from pywdcollections_spark.plans.pipeline import prop_constraints_df, template_map_df


def debug_page(spark: SparkSession, pages: DataFrame, config: CollectionConfig,
               dims: dict[str, DataFrame], url: str | None = None,
               site: str | None = None, title: str | None = None,
               use_html: bool = True, verbose: bool = False) -> dict[str, list]:
    """Run the full KG pipeline for ONE page; returns
    {stage -> [Row, ...]} for stages page/templates/candidates/linked/
    staged/validated. Select the page by ``url`` or by
    (``site``, ``title``) — the reference's debug_templates signature
    (pywdcollections.py:240)."""
    if url is None and (site is None or title is None):
        raise ValueError("pass url= or both site= and title=")

    one = pages
    if url is not None:
        one = one.filter(F.col("url") == url)
    else:
        # site/title derive from url+lang exactly as the pipeline does
        one = P.page_identity(one) \
               .filter((F.col("site") == site) & (F.col("title") == title)) \
               .drop("site", "title")

    out: dict[str, list] = {}
    out["page"] = one.drop("html").collect()

    templates = P.extract_and_parse(one, use_html=use_html)
    templates = P.resolve_subjects(templates, dims["sitelinks"])
    out["templates"] = templates.collect()

    cands = M.map_parameters(templates, template_map_df(spark, config),
                             dims["template_redirects"])
    out["candidates"] = cands.collect()

    linked = L.link_entity_values(
        cands, dims["sitelinks"], dims["redirects"],
        dims["target_p31"], dims["class_p279"], prop_constraints_df(spark))
    out["linked"] = linked.collect()

    staged = C.canonicalize(linked, salt_buckets=1)
    out["staged"] = staged.collect()

    validated = V.validate(staged, spark, dims["entities_seed"], dims["items"],
                           dims["target_p31"], dims["class_p279"],
                           dims["commons_categories"],
                           dims.get("commons_redirects"),
                           dims.get("commons_files"),
                           dims.get("file_redirects"))
    out["validated"] = validated.collect()

    if verbose:
        for stage, rows in out.items():
            print(f"== {stage} ({len(rows)} rows)")
            for r in rows:
                print("  ", r.asDict())
    return out
