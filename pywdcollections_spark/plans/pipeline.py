"""End-to-end KG-construction pipeline (SURVEY.md §3.2 flagship job).

pages scan -> repartition(url-hash) -> extract_text -> parse_templates
-> outer explode -> left subject join (J1) -> persisted page census ->
template_map broadcast join -> coercions -> entity linking (J4/J5/J6)
-> last-wins canonicalization (A5; map-side-combined max_by —
operators/canonicalize.py) -> validation (§2.8) -> triples + rejects.

One linear declarative plan, built one way; Catalyst handles
pushdown/pruning, AQE handles runtime coalescing and join skew. The
per-bucket lineage rows are computed from the returned census by
plans.checkpoint.group_lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pywdcollections_spark.config import CollectionConfig
from pywdcollections_spark.localtable import local_table
from pywdcollections_spark.operators import canonicalize as C
from pywdcollections_spark.operators import linking as L
from pywdcollections_spark.operators import mapping as M
from pywdcollections_spark.operators import parse as P
from pywdcollections_spark.operators import validate as V
from pywdcollections_spark.registry import PROP_SPECS


def prop_constraints_df(spark: SparkSession) -> DataFrame:
    rows = [{"pred": f"P{s.pid}", "constraints": [int(c) for c in s.constraints]}
            for s in PROP_SPECS.values()]
    return local_table(spark, rows, "pred string, constraints array<long>")


def template_map_df(spark: SparkSession, config: CollectionConfig) -> DataFrame:
    """The config's template -> property map (``template_map_rows``) as
    the mapping stage's broadcast-join side."""
    return local_table(spark, config.template_map_rows(),
                       "site string, template_lc string, param_lc string, "
                       "prop_key string, pred string, datatype string")


def build_kg(spark: SparkSession, pages: DataFrame, config: CollectionConfig,
             dims: dict[str, DataFrame], n_partitions: int | None = None,
             use_html: bool = True) -> dict[str, DataFrame]:
    """Full pipeline. Returns:

    - ``templates``: the persisted parse in PAGE-CENSUS form — an outer
      explode (template-less pages survive with null tname) and a LEFT
      sitelink join (unlinked pages survive with null qid), so it holds
      one or more rows for EVERY input page and lineage counts pages
      from it without re-scanning the pages table;
    - ``staged`` (the `harvested` staging analogue), ``validated``,
      ``triples`` (valid only, with provenance) and ``rejects``;
    - ``persisted``: every frame this call persisted. Per-batch and
      per-bucket callers pass the dict to ``unpersist_all`` once their
      outputs are written, so DISK_ONLY caches do not accumulate for the
      session lifetime (and never ``clearCache()`` the whole session).

    Two persists keep the parse single: the mapping stage fans out into
    four union branches (named plain / named-625 / 625a-b pairs /
    positional) and the linking stage into two, and without them EVERY
    branch re-runs the extract+parse pandas UDFs over the full pages
    scan. ``validated`` is not persisted here: only a caller that
    materializes more than one of triples / rejects / lineage needs
    that barrier (plans.checkpoint does; persist only at real fan-outs).

    Entity promotion (the copy_harvested_properties/update_item cycle,
    pywdcollections.py:476-498,416-434) is not part of the result:
    callers that need it run ``operators.promote.promote_to_entities``
    over the triples they read or committed."""
    templates = P.extract_and_parse(pages, n_partitions=n_partitions,
                                    use_html=use_html, keep_unparsed_pages=True)
    templates = P.resolve_subjects(templates, dims["sitelinks"], how="left")
    # template rows are small (html/text already dropped at the parse
    # stage). DISK_ONLY because templates carries the params ARRAY
    # column: measured ~50x faster to materialize than the in-memory
    # columnar cache on array columns
    templates = templates.persist(StorageLevel.DISK_ONLY)
    # the mapping stage sees the inner-join / inner-explode rows exactly
    cands = M.map_parameters(templates.filter(F.col("tname").isNotNull()
                                              & F.col("qid").isNotNull()),
                             template_map_df(spark, config),
                             dims["template_redirects"])
    # cands is flat strings/ints (no arrays): the in-memory columnar
    # cache is cheap and spills to disk only under pressure — keeps the
    # linking fan-out off the shared disk
    cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    linked = L.link_entity_values(
        cands, dims["sitelinks"], dims["redirects"],
        dims["target_p31"], dims["class_p279"], prop_constraints_df(spark))
    staged = C.canonicalize(linked)
    validated = V.validate(staged, spark, dims["entities_seed"], dims["items"],
                           dims["target_p31"], dims["class_p279"],
                           dims["commons_categories"],
                           dims.get("commons_redirects"),
                           dims.get("commons_files"),
                           dims.get("file_redirects"))
    src = dims["sources"].select(F.col("site").alias("source"), "site_qid")
    triples = (validated.filter("valid")
               .join(src, "source", "left")   # provenance P143 analogue (:993-1009)
               .select("subj", "pred", "obj_norm", "obj_raw", "datatype",
                       "source", "site_qid", "url", "warc_ts"))
    rejects = validated.filter(~F.col("valid")) \
                       .select("subj", "pred", "obj_raw", "source", "url", "reject_reason")
    return {
        "templates": templates,
        "staged": staged,
        "validated": validated,
        "triples": triples,
        "rejects": rejects,
        "persisted": [templates, cands],
    }


def unpersist_all(out: dict) -> None:
    """Release exactly the frames a build_kg call persisted (never the
    caller's own caches — clearCache() would)."""
    for df in out.get("persisted", []):
        df.unpersist()
