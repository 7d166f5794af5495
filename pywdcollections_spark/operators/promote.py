"""Promotion: valid triples -> updated wide entity table + labels.

Re-expresses copy_harvested_properties / update_item
(pywdcollections.py:476-498,416-434) as one set-based merge:

 * per (subj, pred) exactly one winner — the reference writes whichever
   staging row it reaches first and the live already-present check
   blocks the rest (:1099); batch-side we make the choice deterministic
   (lowest source site id wins);
 * entity gains a value only where it had NULL (F4 — validation already
   rejected 'already_present' rows, the coalesce here keeps the merge
   idempotent);
 * label/description writes keep the per-language 'mul' fallback chain
   (:429-431, C16).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pywdcollections_spark.localtable import local_table


def winners_per_subject_pred(valid_triples: DataFrame) -> DataFrame:
    """One obj_norm per (subj, pred): deterministic first-writer."""
    return (valid_triples
            .groupBy("subj", "pred")
            .agg(F.min_by(F.col("obj_norm"), F.struct("source", "url")).alias("obj_norm")))


def promote_to_entities(entities: DataFrame, valid_triples: DataFrame) -> DataFrame:
    """Merge winners into the wide entity table: NULL columns gain the
    promoted value, non-NULL columns keep theirs (F4)."""
    pcols = [c for c in entities.columns if c.startswith("P")]
    win = winners_per_subject_pred(valid_triples)
    wide = win.groupBy(F.col("subj").alias("qid")).agg(*[
        F.max(F.when(F.col("pred") == p, F.col("obj_norm"))).alias(f"_new_{p}")
        for p in pcols])
    # one select, not a per-property withColumn+drop loop: every
    # DataFrame op re-analyzes the whole plan eagerly in the JVM, so
    # the 2×|pcols| loop cost ~0.3 s of driver time per build (r7
    # construction profile); the single select is the same merge with
    # the entities column order preserved
    pset = set(pcols)
    merged = [F.coalesce(F.col(c), F.col(f"_new_{c}")).alias(c)
              if c in pset else F.col(c) for c in entities.columns]
    # promoted rows become outdated for the next sync cycle
    # (mark_outdated, pywdcollections.py:413-414)
    return entities.join(wide, "qid", "left").select(*merged)


def labels_with_fallback(texts: DataFrame, languages: list[str]) -> DataFrame:
    """(qid, lang, label, description) incl. 'mul' rows -> one row per
    (qid, requested lang) with label/description falling back
    lang -> mul -> '' (pywdcollections.py:186-187,429-431)."""
    langs = local_table(texts.sparkSession, [(l,) for l in sorted(languages)],
                        "lang string")
    base = texts.select("qid").distinct().crossJoin(langs)
    own = texts.select("qid", "lang", F.col("label").alias("l_own"),
                       F.col("description").alias("d_own"))
    mul = (texts.filter(F.col("lang") == "mul")
           .select("qid", F.col("label").alias("l_mul"),
                   F.col("description").alias("d_mul")))
    return (base.join(own, ["qid", "lang"], "left")
            .join(mul, "qid", "left")
            .select("qid", "lang",
                    F.coalesce("l_own", "l_mul", F.lit("")).alias("label"),
                    F.coalesce("d_own", "d_mul", F.lit("")).alias("description")))


def merge_labels(existing: DataFrame, incoming: DataFrame,
                 overwrite: bool = False,
                 value_col: str = "label") -> DataFrame:
    """Write-side label/description merge — write_label /
    write_descriptions semantics (pywdcollections.py:1109-1137) as one
    set-based merge keyed on (qid, lang):

     * missing in existing            -> 'add' (always);
     * present and different incoming -> 'fix' iff ``overwrite``;
     * everything else                -> 'keep'.

    Descriptions use the same merge with ``value_col='description'``.
    Returns (qid, lang, <value_col>, action). ``existing`` plays the
    reference's live item.labels/.descriptions; feeding only qids whose
    item exists mirrors the ItemPage.exists() gate (:1110,:1128)."""
    ex = existing.select("qid", "lang", F.col(value_col).alias("l_old"))
    inc = incoming.select("qid", "lang", F.col(value_col).alias("l_new"))
    merged = ex.join(inc, ["qid", "lang"], "full_outer")
    action = (
        F.when(F.col("l_old").isNull(), F.lit("add"))
         .when(F.col("l_new").isNull() | (F.col("l_new") == F.col("l_old")),
               F.lit("keep"))
         .when(F.lit(bool(overwrite)), F.lit("fix"))
         .otherwise(F.lit("keep")))
    return (merged
            .withColumn("action", action)
            .withColumn(value_col,
                        F.when(F.col("action") == "keep", F.col("l_old"))
                         .otherwise(F.col("l_new")))
            .select("qid", "lang", value_col, "action"))


def incremental_changes(snapshot: DataFrame, incoming: DataFrame,
                        key: str = "qid", ts_col: str = "last_modified") -> DataFrame:
    """F3: rows whose (key, ts) is absent from the snapshot — the
    skip-unchanged filter of fetch() (pywdcollections.py:144-165)."""
    return incoming.join(snapshot.select(key, ts_col), [key, ts_col], "left_anti")
