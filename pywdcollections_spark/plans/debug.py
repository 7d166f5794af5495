"""Single-page debug harness — the ``debug_templates`` affordance
(pywdcollections.py:240-249) for the batch pipeline.

The reference's only debugging tool runs the full harvest path for ONE
(site, title) and prints each step. ``debug_page`` does the batch
analogue: select one page (by url, or by site+title), run it through
``build_kg`` — the same stage chain every batch run builds — and
return EACH stage's rows, so an operator can see exactly where a value
was produced, transformed, or rejected.

``templates`` is build_kg's page census: a page with no template or no
sitelink still shows one row (null ``tname`` or null ``qid``), which is
the answer to "why no triples?".

Collecting is deliberate: this is a one-page control-plane tool (a few
dozen rows per stage), not a data-plane operator — Catalyst still
prunes the scan to the single page via the pushed url/lang filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pywdcollections_spark.config import CollectionConfig
from pywdcollections_spark.operators import parse as P
from pywdcollections_spark.plans.pipeline import build_kg, unpersist_all

STAGES = ("templates", "candidates", "linked", "staged", "validated")


def debug_page(spark: SparkSession, pages: DataFrame, config: CollectionConfig,
               dims: dict[str, DataFrame], url: str | None = None,
               site: str | None = None, title: str | None = None,
               verbose: bool = False) -> dict[str, list]:
    """Run build_kg for ONE page; returns {stage -> [Row, ...]} for
    stages page/templates/candidates/linked/staged/validated. Select
    the page by ``url`` or by (``site``, ``title``) — the reference's
    debug_templates signature (pywdcollections.py:240)."""
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

    out: dict[str, list] = {"page": one.drop("html").collect()}
    kg = build_kg(spark, one, config, dims)
    try:
        out.update({stage: kg[stage].collect() for stage in STAGES})
    finally:
        unpersist_all(kg)

    if verbose:
        for stage, rows in out.items():
            print(f"== {stage} ({len(rows)} rows)")
            for r in rows:
                print("  ", r.asDict())
    return out
