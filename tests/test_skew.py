"""Skew hardening (SURVEY.md §5.5): the single-phase map-side-combined
canonicalization keeps the last save of a head key under skew, and
row order must not matter."""

from pyspark.sql import functions as F

from pywdcollections_spark.operators.canonicalize import canonicalize, last_wins


def _cands(spark):
    rows = []
    # head subject: 5000 saves on one (subj, source, pred)
    for i in range(5000):
        rows.append(("https://x/head", "enwiki", "Qh", i, 0, "P373", f"v{i}"))
    # normal subjects
    for s in range(50):
        for t in range(3):
            rows.append((f"https://x/{s}", "enwiki", f"Q{s}", t, 1, "P18", f"img{s}_{t}"))
    df = spark.createDataFrame(
        rows, "url string, site string, qid string, template_idx int, "
              "param_idx int, pred string, val string")
    return (df.withColumn("warc_ts", F.lit("2026-01-01").cast("timestamp"))
              .withColumn("datatype", F.lit("string")))


def test_head_key_last_save_wins(spark):
    staged = canonicalize(_cands(spark)).cache()
    head = {r["obj_raw"] for r in staged.filter("subj = 'Qh'").collect()}
    assert head == {"v4999"}  # last save wins on the head key
    # one row per (subj, source, pred), each the key's last save
    rest = {(r["subj"], r["obj_raw"]) for r in staged.filter("subj != 'Qh'").collect()}
    assert rest == {(f"Q{s}", f"img{s}_2") for s in range(50)}


def test_order_invariance(spark):
    cands = _cands(spark)
    shuffled = cands.orderBy(F.rand(seed=7))
    a = canonicalize(cands).select("subj", "pred", "obj_raw").collect()
    b = canonicalize(shuffled).select("subj", "pred", "obj_raw").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_last_wins_tie_break_deterministic(spark):
    # identical order keys -> max_by must still be deterministic because
    # payloads are totally ordered by the order columns upstream; here we
    # verify equal (template_idx, param_idx) rows collapse consistently
    df = spark.createDataFrame(
        [("Q1", "s", "P1", 0, 0, "a"), ("Q1", "s", "P1", 0, 1, "b")],
        "subj string, source string, pred string, template_idx int, "
        "param_idx int, obj_raw string")
    out = last_wins(df, ["subj", "source", "pred"],
                    ["template_idx", "param_idx"], ["obj_raw"])
    assert out.collect()[0]["obj_raw"] == "b"


def test_ngram_jaccard_hot_shingle_cap(spark):
    """Capping shingle doc-frequency prunes candidate pairs whose only
    common shingles are hot, keeps exact Jaccard for survivors."""
    from pywdcollections_spark.operators.dedup import ngram_jaccard_pairs
    rows = [(i, f"of the unique{i} token{i}") for i in range(20)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma epsilon")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    full = ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.01)
    capped = ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.01,
                                 max_shingle_freq=5)
    fp = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in full.collect()}
    cp = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
    # 'of the' links all 20 head docs pairwise in the uncapped join...
    assert sum(1 for (x, y) in fp if x < 20 and y < 20) == 190
    # ...and the cap removes every pair that shared only the hot shingle
    assert not any(x < 20 and y < 20 for (x, y) in cp)
    # the genuine near-dup pair survives with the IDENTICAL exact score
    assert cp[(100, 101)] == fp[(100, 101)] > 0.3


def test_minhash_hot_bucket_cap(spark):
    """A large exact-duplicate group floods every band bucket; the cap
    drops those buckets while distinct near-dup pairs keep their exact
    Jaccard scores."""
    from pywdcollections_spark.operators.dedup import minhash_lsh_pairs
    rows = [(i, "the same exact flood document text here") for i in range(60)]
    rows += [(200, "rare alpha beta gamma delta words"),
             (201, "rare alpha beta gamma delta terms")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    full = minhash_lsh_pairs(df, "doc_id", "text", n=2, threshold=0.1)
    capped = minhash_lsh_pairs(df, "doc_id", "text", n=2, threshold=0.1,
                               max_bucket_size=10)
    fp = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in full.collect()}
    cp = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
    assert sum(1 for (x, y) in fp if x < 60 and y < 60) == 60 * 59 // 2
    assert not any(x < 60 and y < 60 for (x, y) in cp)
    assert cp[(200, 201)] == fp[(200, 201)] > 0.1
