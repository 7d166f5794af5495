"""Promotion / merge / closure / labels operators (SURVEY.md §3.3)."""

import pytest
from pyspark.sql import functions as F

from pywdcollections_spark.operators.closure import descendants, seed_filter
from pywdcollections_spark.operators.promote import (
    incremental_changes,
    labels_with_fallback,
    promote_to_entities,
    winners_per_subject_pred,
)
from pywdcollections_spark.sources.sinks import merge_last_wins


def test_merge_last_wins(spark):
    existing = spark.createDataFrame(
        [("Q1", "a", 1), ("Q2", "b", 5)], "qid string, v string, ts long")
    updates = spark.createDataFrame(
        [("Q1", "new", 3), ("Q2", "older", 2), ("Q3", "c", 1), ("Q2", "tie", 5)],
        "qid string, v string, ts long")
    out = {r["qid"]: r["v"] for r in merge_last_wins(existing, updates, ["qid"], "ts").collect()}
    assert out == {"Q1": "new",   # newer ts wins
                   "Q2": "tie",   # tie -> update beats existing (REPLACE)
                   "Q3": "c"}


def test_promote_null_gated(spark):
    entities = spark.createDataFrame(
        [("Q1", None, "keep.jpg"), ("Q2", None, None)],
        "qid string, P373 string, P18 string")
    triples = spark.createDataFrame(
        [("Q1", "P373", "CatB", "bwiki", "u2"),
         ("Q1", "P373", "CatA", "awiki", "u1"),   # lowest source wins
         ("Q1", "P18", "clobber.jpg", "awiki", "u1"),
         ("Q2", "P18", "new.jpg", "awiki", "u1")],
        "subj string, pred string, obj_norm string, source string, url string")
    win = {(r["subj"], r["pred"]): r["obj_norm"]
           for r in winners_per_subject_pred(triples).collect()}
    assert win[("Q1", "P373")] == "CatA"
    out = {r["qid"]: (r["P373"], r["P18"])
           for r in promote_to_entities(entities, triples).collect()}
    assert out["Q1"] == ("CatA", "keep.jpg")   # non-NULL column kept (F4)
    assert out["Q2"] == (None, "new.jpg")


def test_labels_mul_fallback(spark):
    texts = spark.createDataFrame(
        [("Q1", "en", "Label EN", "Desc EN"),
         ("Q1", "mul", "Label MUL", "Desc MUL"),
         ("Q2", "mul", "Only MUL", None)],
        "qid string, lang string, label string, description string")
    out = {(r["qid"], r["lang"]): (r["label"], r["description"])
           for r in labels_with_fallback(texts, ["en", "fr"]).collect()}
    assert out[("Q1", "en")] == ("Label EN", "Desc EN")
    assert out[("Q1", "fr")] == ("Label MUL", "Desc MUL")   # mul fallback
    assert out[("Q2", "en")] == ("Only MUL", "")            # '' final fallback
    assert len(out) == 4


def test_incremental_changes(spark):
    snap = spark.createDataFrame([("Q1", 1), ("Q2", 2)], "qid string, last_modified long")
    inc = spark.createDataFrame([("Q1", 1), ("Q2", 3), ("Q3", 1)],
                                "qid string, last_modified long")
    got = sorted(r["qid"] for r in incremental_changes(snap, inc).collect())
    assert got == ["Q2", "Q3"]   # changed ts + new row; unchanged skipped


def test_closure_descendants(spark):
    # chain: 10 <- 20 <- 30, plus 40 <- 10 unrelated direction
    edges = spark.createDataFrame(
        [(20, 10), (30, 20), (10, 40)], "sub_qid long, super_qid long")
    got = sorted(r["cls"] for r in descendants(edges, [10]).collect())
    assert got == [10, 20, 30]   # transitive subclasses of 10 (not 40)


def test_seed_filter(spark):
    entities = spark.createDataFrame(
        [("Q100", "Q600000", "Q20"), ("Q101", "Q600000", "Q99"),
         ("Q102", None, None)],
        "qid string, P17 string, P31 string")
    p31 = spark.createDataFrame(
        [("Q100", 20), ("Q101", 99), ("Q102", 30)], "qid string, p31 long")
    edges = spark.createDataFrame([(20, 10), (30, 20)], "sub_qid long, super_qid long")
    got = sorted(r["qid"] for r in
                 seed_filter(entities, p31, edges, main_type=10).collect())
    assert got == ["Q100", "Q102"]   # p31 in closure {10,20,30}; Q101 (99) out
    got2 = sorted(r["qid"] for r in
                  seed_filter(entities, p31, edges, 10, country=600000).collect())
    assert got2 == ["Q100"]
    # excluded types (pywdcollections.py:76-97): an entity whose P31 is
    # excluded drops out; one whose P31 is null stays
    got3 = sorted(r["qid"] for r in
                  seed_filter(entities, p31, edges, 10, excluded_types=[20]).collect())
    assert got3 == ["Q102"]


def test_merge_labels_both_flags(spark):
    from pywdcollections_spark.operators.promote import merge_labels
    existing = spark.createDataFrame(
        [("Q1", "en", "Old"), ("Q1", "fr", "Vieux"), ("Q2", "en", "Same")],
        "qid string, lang string, label string")
    incoming = spark.createDataFrame(
        [("Q1", "en", "New"),        # differs -> fix iff overwrite
         ("Q2", "en", "Same"),       # identical -> keep
         ("Q2", "de", "Neu")],       # missing lang -> add (always)
        "qid string, lang string, label string")

    def got(overwrite):
        return {(r["qid"], r["lang"]): (r["label"], r["action"])
                for r in merge_labels(existing, incoming, overwrite).collect()}

    no = got(False)
    assert no[("Q1", "en")] == ("Old", "keep")     # overwrite off: keep old
    assert no[("Q1", "fr")] == ("Vieux", "keep")   # not in incoming
    assert no[("Q2", "en")] == ("Same", "keep")
    assert no[("Q2", "de")] == ("Neu", "add")      # add-if-missing always
    yes = got(True)
    assert yes[("Q1", "en")] == ("New", "fix")     # overwrite-if-different
    assert yes[("Q1", "fr")] == ("Vieux", "keep")
    assert yes[("Q2", "en")] == ("Same", "keep")   # identical never 'fix'
    assert yes[("Q2", "de")] == ("Neu", "add")


def test_merge_labels_idempotent(spark):
    """Re-merging the SAME incoming batch into the merge result is all
    'keep' — the write path converges in one application (the property
    the reference gets from add/fix being conditional edits)."""
    from pywdcollections_spark.operators.promote import merge_labels
    existing = spark.createDataFrame(
        [("Q1", "en", "Old"), ("Q2", "en", "Same")],
        "qid string, lang string, label string")
    incoming = spark.createDataFrame(
        [("Q1", "en", "New"), ("Q2", "en", "Same"), ("Q3", "fr", "Neu")],
        "qid string, lang string, label string")
    once = merge_labels(existing, incoming, overwrite=True).select(
        "qid", "lang", "label")
    twice = merge_labels(once, incoming, overwrite=True)
    assert twice.filter("action <> 'keep'").count() == 0
    a = once
    b = twice.select("qid", "lang", "label")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
