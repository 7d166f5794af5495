"""Validation/promotion stage: staged triples -> valid triples + rejects.

Collapses the reference's 12 typed writers
(pywdcollections.py:1061-1337) into one declarative stage: a broadcast
dispatch/validator dim join plus per-family predicates, producing
``valid`` / ``reject_reason`` / ``obj_norm`` columns. Per-family
check PRECEDENCE mirrors each writer's statement order:

 * item (:1090-1107): constraint check first, then already-present;
 * image (:1139-1172): extension, already-present, cross-property
   duplicate (J7), empty-title;
 * everything else: already-present, then format rules.

The already-present gate is the copy-eligibility predicate F4
(``w.P<p> IS NULL``, :482) plus each writer's claims check. Dates,
sounds and any unlisted property fall through write_prop's dispatch
(:1084-1085) -> 'writer_not_implemented' (staged but never promoted).

Commons-category redirects (:966-967, via write_prop_373 :1217) are
followed ONE hop through the ``commons_redirects`` dim (from_title ->
to_title) BEFORE the existence check, and the claim lands with the
TARGET title — the batch analogue of pywikibot's isCategoryRedirect()/
getCategoryRedirectTarget. FILE pages (write_prop_image :1162-1172 via
FilePage :977-981) follow redirects RECURSIVELY — here the
``file_redirects`` dim is chain-collapsed with pointer doubling
(collapse_redirect_chains) and the resolved title feeds the
``commons_files`` existence check; the claim lands with the resolved
title, a missing file page rejects with 'file_missing' (the
reference's 'image does not exist!'). On a redirect CYCLE the
reference recurses forever; the bounded collapse terminates instead
(documented deviation, pathological input only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pywdcollections_spark import registry
from pywdcollections_spark.functions.udfs import (
    coord_parse_udf, int_parse_ok_udf, python_trim, url_normalize_udf)
from pywdcollections_spark.localtable import local_table

_SPECIFIC_WRITERS = {281, 373, 625, 856, 1047, 1866, 6788, 8389}

KEY = ["subj", "pred", "source"]

#: pointer-doubling rounds of collapse_redirect_chains: file-redirect
#: chains of up to 2^4 = 16 hops resolve to their final title
REDIRECT_DOUBLINGS = 4


def dispatch_rows() -> list[dict]:
    """write_prop's dispatch order (:1061-1085): list membership first,
    then the specific-id writers. One row per property: its writer
    family, link constraints and string-shape rules. Every entity-
    datatype spec is an ITEM_PROPS member, so the rows carry each
    entity pred's constraints for linking too."""
    rows = {}
    for pid in registry.ITEM_PROPS:
        rows[pid] = "item"
    for pid in registry.INTEGER_PROPS:
        rows.setdefault(pid, "integer")
    for pid in registry.IMAGE_PROPS:
        rows.setdefault(pid, "image")
    for pid in _SPECIFIC_WRITERS:
        rows.setdefault(pid, f"p{pid}")
    out = []
    for pid, family in rows.items():
        spec = registry.PROP_SPECS.get(pid)
        out.append({
            "pred": f"P{pid}",
            "family": family,
            "constraints": [int(c) for c in (spec.constraints if spec else ())],
            "min_len": spec.min_len if spec else None,
            "max_len": spec.max_len if spec else None,
            "exact_len": spec.exact_len if spec else None,
        })
    return out


def dispatch_table(spark) -> DataFrame:
    """``dispatch_rows`` as one LocalRelation, the property-rule table
    build_kg builds once and hands to linking and to validate."""
    return local_table(
        spark, dispatch_rows(),
        "pred string, family string, constraints array<long>, "
        "min_len int, max_len int, exact_len int")


def melt_entity_claims(entities_seed: DataFrame) -> DataFrame:
    """Wide entity table -> long (qid, pred, existing_val) for the
    NULL-gated anti-join patterns (F4/F9/J7)."""
    pcols = [c for c in entities_seed.columns if c.startswith("P")]
    stack = ", ".join(f"'{c}', {c}" for c in pcols)
    return (entities_seed
            .select("qid", F.expr(f"stack({len(pcols)}, {stack}) as (pred, existing_val)"))
            .filter(F.col("existing_val").isNotNull()))


def collapse_redirect_chains(redirects: DataFrame) -> DataFrame:
    """(from_title, to_title) chains -> (from_title, final to_title)
    via pointer doubling: k = ``REDIRECT_DOUBLINGS`` rounds resolve
    chains up to 2^k hops, each round ONE dim-sized equi self-join (the
    set-based analogue of the reference's recursive FilePage following,
    pywdcollections.py:977-981). Cycles simply stop resolving — the
    row keeps the last reached title (the reference would recurse
    forever)."""
    r = redirects.select(F.col("from_title").alias("src"),
                         F.col("to_title").alias("dst"))
    for _ in range(REDIRECT_DOUBLINGS):
        hop = r.select(F.col("src").alias("h_src"), F.col("dst").alias("h_dst"))
        r = (r.join(hop, r["dst"] == hop["h_src"], "left")
             .select("src", F.coalesce("h_dst", "dst").alias("dst")))
    return r.select(F.col("src").alias("from_title"),
                    F.col("dst").alias("to_title"))


def validate(staged: DataFrame, rules: DataFrame, entities_seed: DataFrame,
             items: DataFrame, classes: DataFrame,
             commons_categories: DataFrame, commons_redirects: DataFrame,
             commons_files: DataFrame, file_redirects: DataFrame) -> DataFrame:
    """-> staged columns + family, valid, reject_reason, obj_norm.

    ``rules`` is ``dispatch_table`` and ``classes`` is
    ``linking.target_classes`` output: the same frames linking reads,
    so link time and the item writer check one rule table against one
    class set (the reference's one check_constraints, :1017-1039).

    The four Commons dims are required, as the reference always asks
    Commons: a category resolves one redirect hop and must exist in
    ``commons_categories``; a file follows ``file_redirects`` chains
    and must exist in ``commons_files``. An empty redirect dim means
    "no redirects"; nothing is assumed to exist."""
    # no broadcast hints: AQE auto-broadcasts the dims (see linking.py note)
    df = staged.join(rules, "pred", "left")

    # NB (r7): every DataFrame op below re-analyzes the whole plan
    # eagerly in the JVM, so each join+drop+withColumn triple is
    # collapsed into join+select (capturing the pre-join column list)
    # and adjacent withColumn chains into one withColumns — same
    # columns, same values, ~40% less of the per-build driver
    # construction time this stage used to cost.
    existing = melt_entity_claims(entities_seed)
    # already-present for the triple's own pred (claims check + F4)
    own = (existing.select(F.col("qid").alias("e_qid"), F.col("pred").alias("e_pred"))
           .withColumn("already", F.lit(True)))
    cols = df.columns
    df = (df.join(own, (df["subj"] == own["e_qid"]) & (df["pred"] == own["e_pred"]), "left")
            .select(*cols, F.coalesce("already", F.lit(False)).alias("already")))

    # J7: identical image title under ANY image property (:1151-1157)
    image_preds = [f"P{p}" for p in registry.IMAGE_PROPS]
    img_existing = (existing.filter(F.col("pred").isin(image_preds))
                    .select(F.col("qid").alias("i_qid"),
                            F.col("existing_val").alias("i_val"))
                    .distinct().withColumn("img_dup", F.lit(True)))
    cols = df.columns
    df = (df.join(img_existing, (df["subj"] == img_existing["i_qid"])
                  & (df["obj_raw"] == img_existing["i_val"]), "left")
            .select(*cols, F.coalesce("img_dup", F.lit(False)).alias("img_dup")))

    # item-family strict constraint check (:1092 -> :1017-1039)
    it = items.select(F.col("qid").alias("t_qid")).withColumn("t_exists", F.lit(True))
    cols = df.columns
    df = (df.join(it, df["obj_raw"] == it["t_qid"], "left")
            .select(*cols, F.coalesce("t_exists", F.lit(False)).alias("t_exists")))
    # per-target class-set dim join (no shuffle of the triple table)
    cols = df.columns
    df = (df.join(classes, df["obj_raw"] == classes["cls_qid"], "left")
            .select(*cols, "classes",
                    F.coalesce(F.arrays_overlap("constraints", "classes"),
                               F.lit(False)).alias("hop_pass")))

    # image/category title cleanup (:1158, :1212) — chained replaces,
    # with the reference's str.strip()
    clean_img = F.regexp_replace(python_trim(F.regexp_replace(
        F.regexp_replace("obj_raw", r"File:", ""), r"file:", "")), r"::", ":")
    clean_cat_s1 = python_trim(F.regexp_replace(F.regexp_replace("obj_raw", r"Category:", ""), r"category:", ""))
    clean_cat = F.translate(F.regexp_replace(clean_cat_s1, r"::", ":"), "{}[]", "")

    df = df.withColumns({"clean_img": clean_img, "clean_cat": clean_cat})
    # one-hop category-redirect resolution (:966-967): the resolved
    # title feeds both the exists check and the claim target. Exactly
    # ONE target per from_title: the reference's per-title redirect
    # cache can only hold one mapping (pywikibot
    # getCategoryRedirectTarget), so a dim carrying two targets for one
    # title must not fan staged rows out — min(to_title) is the
    # deterministic pick
    redir = (commons_redirects
             .groupBy(F.col("from_title").alias("r_from"))
             .agg(F.min("to_title").alias("r_to")))
    cols = df.columns
    df = (df.join(redir, df["clean_cat"] == redir["r_from"], "left")
            .select(*cols, F.coalesce("r_to", "clean_cat").alias("resolved_cat")))
    cats = (commons_categories.select(F.col("title").alias("cat_title"))
            .distinct().withColumn("cat_exists", F.lit(True)))
    cols = df.columns
    df = (df.join(cats, df["resolved_cat"] == cats["cat_title"], "left")
            .select(*cols, F.coalesce("cat_exists", F.lit(False)).alias("cat_exists")))

    # file-page redirect following (RECURSIVE, :977-981) + existence
    # check (:1164); one resolved target per source title (same fan-out
    # guard as the category-redirect dim above)
    fredir = (collapse_redirect_chains(file_redirects)
              .groupBy(F.col("from_title").alias("f_from"))
              .agg(F.min("to_title").alias("f_to")))
    cols = df.columns
    df = (df.join(fredir, df["clean_img"] == fredir["f_from"], "left")
            .select(*cols, F.coalesce("f_to", "clean_img").alias("resolved_img")))
    fdim = (commons_files.select(F.col("title").alias("file_title"))
            .distinct().withColumn("file_exists", F.lit(True)))
    cols = df.columns
    df = (df.join(fdim, df["resolved_img"] == fdim["file_title"], "left")
            .select(*cols,
                    F.coalesce("file_exists", F.lit(False)).alias("file_exists")))

    # UDF inputs are NULL-gated by family: a when() OUTSIDE a UDF does
    # not stop the ArrowEvalPython node evaluating it for every row, so
    # the family filter rides INSIDE the argument — Python work is then
    # proportional to the family's rows (each UDF maps None -> None)
    gated = lambda fam_name: F.when(F.col("family") == fam_name, F.col("obj_raw"))
    # integer gate is literally int(value) in the reference
    # (:1182-1185) — a pandas UDF calling int() for bit parity
    # ('1_234', unicode digits), same pattern as the coord/url gates
    df = df.withColumns({"coord": coord_parse_udf(gated("p625")),
                         "url_norm": url_normalize_udf(gated("p856")),
                         "int_ok": int_parse_ok_udf(gated("integer"))})

    # image extension predicate (:1141-1144)
    t_ = F.lower("obj_raw")
    ext_ok = (t_.rlike(r"(jpg|jpeg)$")
              | (F.col("pred").isin("P94", "P3311") & t_.rlike(r"(svg|png)$")
                 & ~t_.contains("template") & ~t_.contains("coa ") & ~t_.contains("coa.")))

    length_ok = ((F.col("exact_len").isNull() | (F.length("obj_raw") == F.col("exact_len")))
                 & (F.col("min_len").isNull() | (F.length("obj_raw") >= F.col("min_len")))
                 & (F.col("max_len").isNull() | (F.length("obj_raw") <= F.col("max_len"))))

    fam = F.col("family")
    constraint_ok = F.col("t_exists") & ((F.size("constraints") == 0) | F.col("hop_pass"))

    reason = (
        F.when(fam.isNull(), "writer_not_implemented")
        # item: constraints first (:1092-1095), then already (:1099)
        .when((fam == "item") & ~constraint_ok, "constraint_failed")
        .when((fam == "item") & F.col("already"), "already_present")
        # image: ext (:1141), already (:1148), J7 (:1151), empty (:1159)
        .when((fam == "image") & ~ext_ok, "bad_extension")
        .when((fam == "image") & F.col("already"), "already_present")
        .when((fam == "image") & F.col("img_dup"), "image_duplicate")
        .when((fam == "image") & (F.col("clean_img") == ""), "empty_title")
        # FilePage exists-check LAST, on the redirect-resolved title
        # (:1162-1172 — 'image does not exist!')
        .when((fam == "image") & ~F.col("file_exists"), "file_missing")
        # remaining writers: already-present first, then format
        .when(fam.isin("integer", "p281", "p373", "p625", "p856",
                       "p1047", "p1866", "p6788", "p8389") & F.col("already"),
              "already_present")
        .when((fam == "integer") & ~F.coalesce("int_ok", F.lit(False)), "bad_integer")
        .when(fam.isin("p281", "p1047", "p1866", "p6788", "p8389") & ~length_ok,
              "bad_length")
        .when((fam == "p373") & (F.col("clean_cat") == ""), "empty_title")
        .when((fam == "p373") & ~F.col("cat_exists"), "category_missing")
        .when((fam == "p625") & F.col("coord.norm").isNull(), "bad_coordinates")
        .when((fam == "p856") & F.col("url_norm").isNull(), "bad_url")
    )

    obj_norm = (
        # claim target is the redirect-RESOLVED file title (:1163-1165
        # — claim.setTarget(filepage) after FilePage resolution)
        F.when(fam == "image", F.col("resolved_img"))
         # claim target is the RESOLVED category title (:1220 —
         # commonscat.title() after redirect following)
         .when(fam == "p373", F.col("resolved_cat"))
         .when(fam == "p625", F.col("coord.norm"))
         .when(fam == "p856", F.col("url_norm"))
         .otherwise(F.col("obj_raw"))
    )

    return (df
            .withColumn("reject_reason", reason)
            .select("subj", "pred", "obj_raw",
                    F.when(F.col("reject_reason").isNull(), obj_norm)
                     .alias("obj_norm"),
                    "datatype", "source", "url", "warc_ts", "family",
                    F.col("reject_reason").isNull().alias("valid"),
                    "reject_reason"))
