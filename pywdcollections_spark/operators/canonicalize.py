"""Canonicalization: last-wins dedup of candidate saves -> staged triples.

The reference stages values with UPDATE-on-key upserts, so within one
page the LAST save of a (subject, source, pred) wins
(pywdcollections.py:407-411); pages are unique per (entity, site)
(interwiki unique key :48), so (subj, source, pred) is the staging key
and (template_idx, param_idx) the save order.

Skew: one head subject carries ~10^4x the median saves (FIXTURES.md
skew clause). The skew handling is explicit (north rule): a
single-phase ``max_by`` whose argmax buffer is partially aggregable, so
a hot key leaves each map task as AT MOST ONE pre-reduced row — the
exchange carries <= n_map_tasks rows per key regardless of skew. That
is the hot-key taming a salt provides, without a second full-data
exchange. Round-5 A/B (1.5M pages, 4 pinned cores, interleaved ABBA,
full KG job): a two-phase salted argmax (16 salts) walled 138.8/137.6 s
vs single-phase 134.0/136.4 s, identical 2,518,965 triples in all four
legs; see BENCH/BASELINE.md round-5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STAGE_KEY = ["subj", "source", "pred"]


def last_wins(df: DataFrame, keys: list[str], order_cols: list[str],
              payload_cols: list[str]) -> DataFrame:
    """Skew-aware argmax, deterministic for any row order: one
    map-side-combined ``max_by`` per key (see module docstring).

    max_by with a struct payload lowers to SortAggregate (string/struct
    buffers are not hash-aggregable). That is DELIBERATE, not an
    oversight: a hash-aggregable rewrite (packed-long order key, two
    salted HashAggregates, shuffle-hash join-back — no sorts) was built
    and A/B-measured in round 5 at 1.5M pages / 4 pinned cores,
    interleaved ABBA: sort-based 88.8/91.3 s vs hash+join 104.9/140.1 s.
    The staging key is mostly UNIQUE (one save per (subj, source, pred)
    for most pages), so hash aggregation gets no reduction — it builds
    a hash table of nearly every row and falls back to sort-based
    spilling, then pays a 2.5M-row hash-join build on top; the two
    straight sorts are cheaper. See BENCH/BASELINE.md round-5 notes."""
    ordk = F.struct(*[F.col(c) for c in order_cols])
    pay = F.struct(*[F.col(c) for c in order_cols + payload_cols])
    return (df.groupBy(*keys).agg(F.max_by(pay, ordk).alias("_w"))
            .select(*keys, *[F.col(f"_w.{c}").alias(c)
                             for c in order_cols + payload_cols]))


def canonicalize(cands: DataFrame) -> DataFrame:
    """Candidate saves -> staged triples (the `harvested` analogue):
    subj, pred, obj_raw, datatype, source, url, warc_ts."""
    df = (cands
          .withColumnRenamed("qid", "subj")
          .withColumn("source", F.col("site"))
          .select("subj", "source", "pred", "datatype", "url", "warc_ts",
                  "template_idx", "param_idx", F.col("val").alias("obj_raw")))
    return (last_wins(df, STAGE_KEY,
                      order_cols=["template_idx", "param_idx"],
                      payload_cols=["obj_raw", "datatype", "url", "warc_ts"])
            .select("subj", "pred", "obj_raw", "datatype", "source", "url", "warc_ts"))
