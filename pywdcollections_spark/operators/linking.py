"""Entity-linking stage: wikilink mentions -> canonical QIDs.

Re-expresses find_items_in_value (pywdcollections.py:203-224) as
broadcast map-side joins — the "batched dictionary scorer" of the
north star. Semantics preserved exactly, including the quirks:

 * mentions = non-greedy DOTALL ``[[...]]`` capture, stripped,
   namespace (':') links skipped (:204-209);
 * resolution = page exists (sitelinks dim) after redirect following
   (:211-216);
 * constraint check is ONE-hop: any P31 of the target in the
   constraint set, or any P279 of that P31-class in it (:1017-1039 via
   :217) — deliberately not the transitive closure of the seed query;
 * selection for multiple=False (every entity prop, registry): the
   first constraint-PASSING mention wins (early return :218-219);
   otherwise constraint-failing resolved mentions accumulate
   (:222-223 — quirk: they are kept) and exactly one resolved mention
   wins anyway; otherwise NULL -> no triple (:224).

The plan carries no broadcast hints: AQE broadcasts every dim that
sits under autoBroadcastJoinThreshold (all of them at fixture scale);
at web scale sitelinks is a big table and the join degrades gracefully
to shuffle joins with AQE skew handling (head titles like country
names are the classic skew key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pywdcollections_spark.functions.udfs import wikilink_mentions_udf

_GRAIN = ["url", "warc_ts", "site", "qid", "template_idx", "param_idx",
          "prop_key", "pred", "datatype"]


def target_classes(target_p31: DataFrame, class_p279: DataFrame) -> DataFrame:
    """(cls_qid, classes: array<long>) — every P31 of the target plus the
    one-hop P279 supers of those classes (check_constraints semantics,
    pywdcollections.py:1017-1039). Dim-sized groupBy, aggregated on the
    DIM side so the big mention table is never shuffled for the
    constraint check. build_kg builds it once and hands the same frame
    to linking and to validate — the reference's one check_constraints
    serves both link time (:217) and the item writer (:1092)."""
    aug = (target_p31
           .join(class_p279, target_p31["p31"] == class_p279["class_qid"], "left")
           .select(F.col("qid").alias("cls_qid"), "p31",
                   F.col("super_qid").alias("p279")))
    return (aug.groupBy("cls_qid")
            .agg(F.array_distinct(F.flatten(F.collect_list(
                F.array_compact(F.array("p31", "p279"))))).alias("classes")))


def link_entity_values(cands: DataFrame, sitelinks: DataFrame, redirects: DataFrame,
                       classes: DataFrame, rules: DataFrame) -> DataFrame:
    """Replace ``val`` of entity-datatype candidate rows with the linked
    QID; rows that resolve to nothing are dropped (no triple).

    ``classes`` is ``target_classes`` output; ``rules`` is the
    property-rule table (``validate.dispatch_table``), of which only
    ``pred`` and ``constraints`` are read."""
    # NOTE: no explicit broadcast() hints — dims sit far under
    # autoBroadcastJoinThreshold so AQE plans broadcast joins from stats;
    # an explicit hint on a persisted downstream plan triggers a measured
    # ~10x materialization pathology (AQE + hint + InMemoryRelation).

    ent = cands.filter(F.col("datatype") == "entity")
    rest = cands.filter(F.col("datatype") != "entity")

    mentions = (ent
                .select(*_GRAIN, "val",
                        F.posexplode(wikilink_mentions_udf("val"))
                         .alias("mention_idx", "mention")))

    # redirect-resolved lookup dim, built ONCE dim-side: direct titles
    # plus redirect aliases mapped to their target's qid (a title is
    # either a page or a redirect in MediaWiki, so the union is
    # collision-free) — one broadcast instead of two chained joins
    direct = sitelinks.select("site", "title", "qid")
    via_redirect = (redirects
                    .join(sitelinks,
                          (redirects["site"] == sitelinks["site"])
                          & (redirects["to_title"] == sitelinks["title"]))
                    .select(redirects["site"],
                            F.col("from_title").alias("title"), "qid"))
    sl = (direct.unionByName(via_redirect)
          .select(F.col("site").alias("sl_site"),
                  F.col("title").alias("sl_title"),
                  F.col("qid").alias("target_qid")))
    m = mentions.join(sl, (mentions["site"] == sl["sl_site"])
                      & (mentions["mention"] == sl["sl_title"]), "inner") \
                .drop("sl_site", "sl_title")

    # one-hop class SET per target (target_classes):
    # classes(qid) = {all P31} ∪ {one-hop P279 supers of each P31}
    pc = rules.select(F.col("pred").alias("pc_pred"), "constraints")

    # two joins + one select (not join/drop/join/drop/withColumn —
    # each DataFrame op re-analyzes the plan eagerly, r7)
    mcols = m.columns
    m = (m.join(pc, m["pred"] == pc["pc_pred"], "left")
          .join(classes, m["target_qid"] == classes["cls_qid"], "left")
          .select(*mcols,
                  ((F.size(F.coalesce("constraints", F.array())) > 0)
                   & F.coalesce(F.arrays_overlap("constraints", "classes"),
                                F.lit(False))).alias("cpass")))

    # value-level selection (reference return rule :218-224)
    picked = (m
              .groupBy(*_GRAIN)
              .agg(F.sort_array(F.collect_list(
                  F.struct("mention_idx", "cpass", "target_qid"))).alias("ms"))
              .withColumn("passing", F.expr("filter(ms, x -> x.cpass)"))
              .withColumn("val", F.expr(
                  "CASE WHEN size(passing) > 0 THEN element_at(passing, 1).target_qid "
                  "WHEN size(ms) = 1 THEN element_at(ms, 1).target_qid "
                  "ELSE NULL END"))
              .filter(F.col("val").isNotNull())
              .select(*_GRAIN, "val"))

    return rest.unionByName(picked)
