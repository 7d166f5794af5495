"""Transitive class closure — the P31/P279* semantics of the seed query
(S1, pywdcollections.py:86): the remote SPARQL engine computed the
closure; Spark-side it is a bounded fixed-point loop of self-joins
over a (small, broadcastable) class-edge dim.

Deliberately distinct from the ONE-hop constraint check of link time
(J6, :1017-1039) — the two semantics must not be unified
(SURVEY.md §7.3.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pywdcollections_spark.localtable import local_table


def descendants(class_edges: DataFrame, roots: list[int],
                max_iters: int = 32) -> DataFrame:
    """All classes reachable from ``roots`` via sub->super edges
    reversed (i.e. every subclass, transitively, plus the roots).
    class_edges: (sub_qid long, super_qid long)."""
    reach = local_table(class_edges.sparkSession, [(r,) for r in roots], "cls long")
    frontier = reach
    for i in range(max_iters):
        step = (frontier.join(class_edges,
                              frontier["cls"] == class_edges["super_qid"])
                .select(F.col("sub_qid").alias("cls")).distinct())
        frontier = step.join(reach, "cls", "left_anti").distinct()
        if frontier.isEmpty():
            break
        reach = reach.unionByName(frontier).distinct()
        # cut the per-iteration union/distinct lineage so a deep
        # hierarchy doesn't rebuild i plans at iteration i (and the
        # optimizer doesn't re-analyze an O(depth) tree each pass)
        reach = reach.localCheckpoint(eager=False)
        frontier = frontier.localCheckpoint(eager=False)
    return reach


def seed_filter(entities_seed: DataFrame, target_p31: DataFrame,
                class_edges: DataFrame, main_type: int,
                country: int | None = None,
                excluded_types: list[int] | None = None) -> DataFrame:
    """S1 seed selection: entities whose P31 lies in the transitive
    subclass closure of main_type, optional P17=country filter,
    minus excluded types (pywdcollections.py:76-97)."""
    cls = descendants(class_edges, [main_type])
    keep = (target_p31.join(cls, target_p31["p31"] == cls["cls"])
            .select("qid").distinct())
    out = entities_seed.join(keep, "qid", "inner")
    if country is not None:
        out = out.filter(F.col("P17") == f"Q{country}")
    if excluded_types:
        out = out.filter(~F.coalesce(F.col("P31"), F.lit("")).isin(
            [f"Q{t}" for t in excluded_types]))
    return out
