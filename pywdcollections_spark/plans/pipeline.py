"""End-to-end KG-construction pipeline (SURVEY.md §3.2 flagship job).

pages scan -> repartition(url-hash) -> extract_text -> parse_templates
-> explode -> subject join (J1) -> template_map broadcast join ->
coercions -> entity linking (J4/J5/J6) -> skew-aware last-wins
canonicalization (A5; map-side-combined max_by by default, explicit
salted two-phase via salt_buckets — operators/canonicalize.py) ->
validation (§2.8) -> triples + lineage.

One linear declarative plan; Catalyst handles pushdown/pruning, AQE
handles runtime coalescing and join skew.
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


def harvest(spark: SparkSession, pages: DataFrame, config: CollectionConfig,
            dims: dict[str, DataFrame], n_partitions: int | None = None,
            use_html: bool = True, salt_buckets: int = 1,
            persist: bool = True,
            persisted_out: list | None = None,
            templates_out: list | None = None) -> DataFrame:
    """pages -> staged triples (the `harvested` staging analogue).

    ``persist`` materializes the parsed-template rows once: the mapping
    stage fans out into four union branches (named plain / named-625 /
    625a-b pairs / positional) and the linking stage into two — without
    persistence EVERY branch re-runs the extract+parse pandas UDFs over
    the full pages scan, which at corpus scale is the dominant cost
    (measured: the unpersisted plan carries four ArrowEvalPython+scan
    subtrees). DISK_ONLY: measured ~50x faster to materialize than the
    in-memory columnar cache on array-typed columns (the columnar build
    dominates), and at cluster scale this is where a production job
    would checkpoint to a staging table anyway.

    ``persisted_out``: optional accumulator; every frame this call
    persists is appended so the caller can unpersist exactly those
    handles once its outputs are written (per-bucket/per-batch callers
    must not let DISK_ONLY caches accumulate for the session lifetime,
    and must not clearCache() the whole session either).

    ``templates_out``: optional accumulator for the parsed-template
    frame. When set, the parse keeps PAGE-CENSUS rows — an outer
    explode (template-less pages survive with null tname) and a LEFT
    sitelink join (unlinked pages survive with null qid) — and appends
    the frame, so lineage can count every input page from the SAME
    single materialized pass instead of re-scanning the pages table;
    the mapping stage filters the census rows back out, leaving staged
    output byte-identical.
    """
    census = templates_out is not None
    templates = P.extract_and_parse(pages, n_partitions=n_partitions,
                                    use_html=use_html,
                                    keep_unparsed_pages=census)
    templates = P.resolve_subjects(templates, dims["sitelinks"],
                                   how="left" if census else "inner")
    if persist:
        # template rows are small (html/text already dropped at the
        # parse stage) — persisting here is what keeps the parse single.
        # DISK_ONLY because templates carries the params ARRAY column
        # (measured ~50x columnar-build pathology on array columns)
        templates = templates.persist(StorageLevel.DISK_ONLY)
        if persisted_out is not None:
            persisted_out.append(templates)
    if census:
        templates_out.append(templates)
        # recover the inner-join / inner-explode semantics exactly
        templates = templates.filter(F.col("tname").isNotNull()
                                     & F.col("qid").isNotNull())
    cands = M.map_parameters(templates, template_map_df(spark, config),
                             dims["template_redirects"])
    if persist:
        # cands is flat strings/ints (no arrays): the in-memory columnar
        # cache is cheap and spills to disk only under pressure — keeps
        # the linking fan-out off the shared disk
        cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
        if persisted_out is not None:
            persisted_out.append(cands)
    cands = L.link_entity_values(
        cands, dims["sitelinks"], dims["redirects"],
        dims["target_p31"], dims["class_p279"], prop_constraints_df(spark))
    return C.canonicalize(cands, salt_buckets=salt_buckets)


def build_kg(spark: SparkSession, pages: DataFrame, config: CollectionConfig,
             dims: dict[str, DataFrame], n_partitions: int | None = None,
             use_html: bool = True, persist: bool = True,
             persist_validated: bool | None = None,
             salt_buckets: int = 1,
             lineage_buckets: int = 64) -> dict[str, DataFrame]:
    """Full pipeline. Returns staged, validated, triples (valid only),
    rejects, and the per-partition lineage/metrics table (bucketed on
    ``lineage_buckets`` url-hash buckets — checkpoint callers pass
    their own n_buckets so the lineage frame doubles as the per-group
    commit census without a second pages scan).

    ``persist_validated``: the validated frame only needs a barrier
    when the caller materializes MORE THAN ONE of triples / rejects /
    lineage / entities (the checkpoint and test paths do); a job that
    writes triples alone should not pay a full extra materialization —
    pass False there (bench does). Default follows ``persist``.

    The returned dict's ``persisted`` entry lists every frame this call
    persisted; per-batch/per-bucket callers pass it to
    ``unpersist_all`` after their writes (see harvest docstring).

    Entity promotion (the copy_harvested_properties/update_item cycle,
    pywdcollections.py:476-498,416-434) is not part of the result:
    callers that need it run ``operators.promote.promote_to_entities``
    over the triples they read or committed."""
    persisted: list[DataFrame] = []
    # census rows ride the persisted parse only when it IS persisted —
    # unpersisted, the census branch would re-run the parse UDFs, which
    # is exactly the second pass the census exists to avoid
    templates_acc: list[DataFrame] = [] if persist else None
    staged = harvest(spark, pages, config, dims,
                     n_partitions=n_partitions, use_html=use_html, persist=persist,
                     salt_buckets=salt_buckets,
                     persisted_out=persisted, templates_out=templates_acc)
    validated = V.validate(staged, spark, dims["entities_seed"], dims["items"],
                           dims["target_p31"], dims["class_p279"],
                           dims["commons_categories"],
                           dims.get("commons_redirects"),
                           dims.get("commons_files"),
                           dims.get("file_redirects"))
    if persist_validated is None:
        persist_validated = persist
    if persist_validated:
        # validated fans out into triples / rejects / lineage; flat
        # columns -> in-memory columnar cache with disk spill
        validated = validated.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(validated)
    src = dims["sources"].select(F.col("site").alias("source"), "site_qid")
    triples = (validated.filter("valid")
               .join(src, "source", "left")   # provenance P143 analogue (:993-1009)
               .select("subj", "pred", "obj_norm", "obj_raw", "datatype",
                       "source", "site_qid", "url", "warc_ts"))
    rejects = validated.filter(~F.col("valid")) \
                       .select("subj", "pred", "obj_raw", "source", "url", "reject_reason")
    return {
        "staged": staged,
        "validated": validated,
        "triples": triples,
        "rejects": rejects,
        "lineage": (lineage_from_parse(templates_acc[0], validated,
                                       n_buckets=lineage_buckets)
                    if templates_acc
                    else lineage(pages, validated,
                                 n_buckets=lineage_buckets)),
        "persisted": persisted,
    }


def unpersist_all(out: dict) -> None:
    """Release exactly the frames a build_kg call persisted (never the
    caller's own caches — clearCache() would)."""
    for df in out.get("persisted", []):
        df.unpersist()


def lineage(pages: DataFrame, validated: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Per url-hash-bucket lineage/metrics rows — the checkpoint-resume
    unit required by the north rule (replaces the reference's
    last_harvested/errors watermark columns, pywdcollections.py:397).
    This form re-scans ``pages`` for the census (column-pruned to
    url/warc_ts); build_kg uses lineage_from_parse instead whenever the
    parse pass is persisted, so the pages table is scanned exactly once.

    A "page" is one distinct (url, warc_ts) snapshot — the SAME
    identity lineage_from_parse and the checkpoint lineage count
    (ADVICE r4), so both lineage forms report identical n_pages even
    when a url appears under several warc_ts snapshots."""
    bucket = lambda col: F.pmod(F.xxhash64(col), F.lit(n_buckets)).alias("bucket")
    pg = (pages.groupBy(bucket(F.col("url")))
          .agg(F.countDistinct(F.struct("url", "warc_ts")).alias("n_pages")))
    tr = (validated.groupBy(bucket(F.col("url")))
          .agg(F.count("*").alias("n_staged"),
               F.sum(F.col("valid").cast("long")).alias("n_triples"),
               F.sum((~F.col("valid")).cast("long")).alias("n_rejects")))
    return (pg.join(tr, "bucket", "left")
            .fillna(0, ["n_staged", "n_triples", "n_rejects"])
            .withColumn("completed_at", F.current_timestamp()))


def lineage_from_parse(templates_all: DataFrame, validated: DataFrame,
                       n_buckets: int = 64) -> DataFrame:
    """Single-pass lineage (VERDICT r3 #6): the page census comes from
    the PERSISTED parse output — which carries one-or-more rows for
    EVERY input page when harvest runs in census mode (outer explode +
    left sitelink join) — so the bucket metrics derive entirely from
    the one materialized pass and the pages table is never re-scanned.
    A "page" is one distinct (url, warc_ts) snapshot, the same identity
    ``lineage`` and the checkpoint lineage use (ADVICE r4). The
    distinct partial-aggregates per partition before the bucket
    shuffle; at 10^12 pages that is the cheap direction."""
    bucket = lambda col: F.pmod(F.xxhash64(col), F.lit(n_buckets)).alias("bucket")
    pg = (templates_all.groupBy(bucket(F.col("url")))
          .agg(F.countDistinct(F.struct("url", "warc_ts")).alias("n_pages")))
    tr = (validated.groupBy(bucket(F.col("url")))
          .agg(F.count("*").alias("n_staged"),
               F.sum(F.col("valid").cast("long")).alias("n_triples"),
               F.sum((~F.col("valid")).cast("long")).alias("n_rejects")))
    return (pg.join(tr, "bucket", "left")
            .fillna(0, ["n_staged", "n_triples", "n_rejects"])
            .withColumn("completed_at", F.current_timestamp()))
