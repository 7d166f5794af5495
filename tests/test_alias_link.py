"""Alias-trie scorer (operators/alias_link.py): longest-prefix
semantics, deterministic tie-breaks, integer-exact score threshold,
punctuation-folding normalization, and the exact-link fallback wrapper
(reference path byte-identical, residue gains alias links)."""

import pytest
from pyspark.sql import functions as F

from pywdcollections_spark.operators.alias_link import (
    alias_link, link_with_alias_fallback, normalize_aliases)
from pywdcollections_spark.operators.linking import target_classes


def _aliases(spark, rows):
    return normalize_aliases(
        spark.createDataFrame(rows, "alias string, qid string"))


def _mentions(spark, *texts):
    return spark.createDataFrame([(t,) for t in texts], "mention string")


def _linked(spark, texts, alias_rows, **kw):
    out = alias_link(_mentions(spark, *texts), _aliases(spark, alias_rows), **kw)
    return {r["mention"]: (r["qid"], r["matched_len"], r["mention_len"])
            for r in out.collect()}


def test_longest_prefix_wins(spark):
    got = _linked(spark, ["united kingdom office"],
                  [("united", "Q1"), ("united kingdom", "Q2")])
    assert got["united kingdom office"][0] == "Q2"
    assert got["united kingdom office"][1] == 14


def test_prefix_must_be_word_boundary(spark):
    # 'paris' is a word-boundary prefix; 'par' is not a whole word and
    # 'france' is not a prefix at all
    got = _linked(spark, ["Paris, France", "parisian cafe"],
                  [("paris", "Q90"), ("france", "Q142")])
    assert got["Paris, France"] == ("Q90", 5, 12)   # norm: 'paris france'
    assert "parisian cafe" not in got


def test_ambiguous_alias_min_qid(spark):
    got = _linked(spark, ["springfield usa"],
                  [("springfield", "Q9"), ("springfield", "Q3")])
    assert got["springfield usa"][0] == "Q3"


def test_min_score_integer_boundary(spark):
    # matched 4 / mention 10 lands EXACTLY on the 0.4 threshold: the
    # integer cross-multiply keeps >= with no float round-off
    got = _linked(spark, ["abcd efghi", "abcd efghij klmn"],
                  [("abcd", "Q1")], min_score=0.4)
    assert got["abcd efghi"] == ("Q1", 4, 10)       # 0.4 == threshold
    assert "abcd efghij klmn" not in got            # 4/16 = 0.25


def test_normalization_folds_punct_and_case(spark):
    got = _linked(spark, ["  MIDDLE---EAST  (zone) "],
                  [("middle east", "Q7")])
    (qid, ml, nl), = got.values()
    assert qid == "Q7" and ml == 11
    assert nl == len("middle east zone")


def test_duplicate_rows_without_key_cols_raise(spark):
    """VERDICT r4 #4: the all-columns default key would silently
    collapse duplicate mention rows; alias_link must fail loudly
    instead when no key_cols identify the grain."""
    m = _mentions(spark, "paris", "paris")
    with pytest.raises(ValueError, match="key_cols"):
        alias_link(m, _aliases(spark, [("paris", "Q90")]))
    # an explicit key keeps intentional duplicates working
    m2 = (m.withColumn("rid", F.monotonically_increasing_id()))
    out = alias_link(m2, _aliases(spark, [("paris", "Q90")]),
                     key_cols=["rid"])
    assert out.count() == 2


def test_fallback_keeps_exact_path_and_links_residue(spark):
    # minimal cands grain: one row the exact dictionary resolves, one
    # row it drops that the alias scorer rescues
    grain = ("url string, warc_ts timestamp, site string, qid string, "
             "template_idx int, param_idx int, prop_key string, "
             "pred string, datatype string, val string")
    cands = spark.createDataFrame([
        ("u1", None, "enwiki", "Q100", 0, 0, "131", "P131", "entity",
         "[[Known Town]]"),
        ("u2", None, "enwiki", "Q200", 0, 0, "131", "P131", "entity",
         "[[Paris, France]]"),
    ], grain)
    sitelinks = spark.createDataFrame(
        [("enwiki", "Known Town", "Q77")], "site string, title string, qid string")
    redirects = spark.createDataFrame(
        [], "site string, from_title string, to_title string")
    target_p31 = spark.createDataFrame([("Q77", 515)], "qid string, p31 long")
    class_p279 = spark.createDataFrame([], "class_qid long, super_qid long")
    constraints = spark.createDataFrame([("P131", [515])],
                                        "pred string, constraints array<long>")
    aliases = spark.createDataFrame([("Paris", "Q90")], "alias string, qid string")

    classes = target_classes(target_p31, class_p279)
    out = link_with_alias_fallback(cands, sitelinks, redirects, classes,
                                   constraints, aliases, min_score=0.3)
    vals = {r["url"]: r["val"] for r in out.collect()}
    assert vals == {"u1": "Q77", "u2": "Q90"}

    # and WITHOUT an alias hit the residue row simply stays dropped
    out2 = link_with_alias_fallback(cands, sitelinks, redirects, classes,
                                    constraints,
                                    spark.createDataFrame(
                                        [("Nothing", "Q0")],
                                        "alias string, qid string"))
    assert {r["url"] for r in out2.collect()} == {"u1"}


def test_fallback_scores_every_mention_best_wins(spark):
    """VERDICT r4 #6: the residue scorer considers ALL extracted
    mentions, not just the first — mention #2 with the better score
    must win; with equal scores the earliest mention keeps winning."""
    grain = ("url string, warc_ts timestamp, site string, qid string, "
             "template_idx int, param_idx int, prop_key string, "
             "pred string, datatype string, val string")
    cands = spark.createDataFrame([
        # mention #1 has no alias at all; #2 links
        ("u1", None, "enwiki", "Q100", 0, 0, "131", "P131", "entity",
         "[[Someplace Unknown]] and [[Paris]]"),
        # mention #1 scores 5/21, #2 scores 4/4 -> Lyon wins
        ("u2", None, "enwiki", "Q200", 0, 0, "131", "P131", "entity",
         "[[Paris More Words Here]] near [[Lyon]]"),
        # equal perfect scores -> earliest mention (Paris) wins
        ("u3", None, "enwiki", "Q300", 0, 0, "131", "P131", "entity",
         "[[Paris]] or [[Lyon]]"),
    ], grain)
    empty_sl = spark.createDataFrame([], "site string, title string, qid string")
    redirects = spark.createDataFrame(
        [], "site string, from_title string, to_title string")
    target_p31 = spark.createDataFrame([], "qid string, p31 long")
    class_p279 = spark.createDataFrame([], "class_qid long, super_qid long")
    constraints = spark.createDataFrame([("P131", [515])],
                                        "pred string, constraints array<long>")
    aliases = spark.createDataFrame([("Paris", "Q90"), ("Lyon", "Q456")],
                                    "alias string, qid string")
    out = link_with_alias_fallback(cands, empty_sl, redirects,
                                   target_classes(target_p31, class_p279),
                                   constraints, aliases, min_score=0.2)
    vals = {r["url"]: r["val"] for r in out.collect()}
    assert vals == {"u1": "Q90", "u2": "Q456", "u3": "Q90"}
