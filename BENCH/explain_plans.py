"""Dump formatted physical plans for the flagship pipeline + key
queries to BENCH/PLANS.md, with the scan-pushdown assertions the
100 TB design depends on (SURVEY.md §4):

 * the pages scan must NOT read html into post-parse stages
   (ReadSchema pruning);
 * predicate pushdown must reach the parquet scans (PushedFilters);
 * dims must come in as broadcast joins;
 * relational stages must sit inside WholeStageCodegen spans.

Run: ``python BENCH/explain_plans.py``. The fixture tables are written
to a fresh temporary directory (removed afterwards), so every run plans
over the current generator's tables; the query plans read the sf0.01
tables in ``perfbench/data`` (or ``$SPARK_GRAFT_SF_DIR``). Local paths
in the plan text are replaced by ``<fixtures>``, ``<sf>`` and
``<repo>``, so the written file does not depend on where it ran.
"""

from __future__ import annotations

import io
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

from pyspark.storagelevel import StorageLevel

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pywdcollections_spark.config import demo_config  # noqa: E402
from pywdcollections_spark.plans.checkpoint import group_lineage  # noqa: E402
from pywdcollections_spark.plans.pipeline import build_kg  # noqa: E402
from pywdcollections_spark.session import get_spark  # noqa: E402
from pywdcollections_spark.testkit import spark_tables as TK  # noqa: E402


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    base = tempfile.mkdtemp(prefix="pywdc_explain_")
    try:
        plans_md = explain(base)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write(plans_md)


def explain(base: str) -> str:
    """Plan the flagship pipeline and the key queries over fixture
    tables written under ``base``; returns PLANS.md's text."""
    spark = get_spark("explain", cores=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    # materialize small fixture tables as parquet so plans show real scans
    TK.pages_df(spark, 500, 42, head_templates=20).write.mode("overwrite") \
        .parquet(f"{base}/pages.parquet")
    dim_paths = TK.write_dim_parquet(spark, 500, 42, base)
    pages = spark.read.parquet(f"{base}/pages.parquet")
    dims = TK.read_dim_parquet(spark, dim_paths)

    # the parsed-template rows materialize once and the mapping fan-out
    # reads the cache — the plan must show exactly ONE ArrowEvalPython
    # (extract+parse) branch. validated is persisted and the lineage
    # plan is one commit group's rows, as run_with_checkpoint does
    out = build_kg(spark, pages, demo_config(), dims)
    validated = out["validated"].persist(StorageLevel.MEMORY_AND_DISK)
    out["triples"].count()  # execute so AQE finalizes (codegen ids visible)
    triples_plan = formatted(out["triples"])
    lineage = group_lineage(spark, list(range(16)), out["templates"],
                            validated, 16)
    lineage_plan = formatted(lineage)

    # the parse stage in isolation (pipeline step 1-2) in its one form,
    # the page census (outer explode + left sitelink join): the one
    # subtree the template cache materializes
    from pywdcollections_spark.operators import parse as P
    templates = P.resolve_subjects(
        P.extract_and_parse(pages, n_partitions=4), dims["sitelinks"])
    templates_plan = formatted(templates)

    from pywdcollections_spark.queries import QUERIES
    sf = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.join(REPO, "perfbench", "data", "sf0.01"))
    q1_plan = formatted(QUERIES["q1_pricing_summary"](spark, sf))
    lsh_plan = formatted(QUERIES["dedup_minhash_lsh"](spark, sf))
    emb_plan = formatted(QUERIES["dedup_embedding_cosine"](spark, sf))
    ann_plan = formatted(QUERIES["similarity_topk_lsh"](spark, sf))
    ivfk_plan = formatted(QUERIES["similarity_topk_ivf_kmeans"](spark, sf))
    clus_plan = formatted(QUERIES["dedup_clusters"](spark, sf))

    checks = []
    def check(name, cond, detail=""):
        checks.append(f"- [{'x' if cond else ' '}] {name}{': ' + detail if detail else ''}")

    check("pages ReadSchema excludes nothing it needs / html confined to scan",
          "html" in triples_plan and "ReadSchema" in triples_plan)
    check("broadcast joins planned for dims",
          triples_plan.count("BroadcastHashJoin") >= 5,
          f"{triples_plan.count('BroadcastHashJoin')} BroadcastHashJoin nodes")
    # Spark 4 AQE explain never prints codegen span markers; assert the
    # enabling conf + codegen-capable operators instead
    check("whole-stage codegen enabled, relational stages codegen-capable",
          spark.conf.get("spark.sql.codegen.wholeStage", "true") == "true"
          and "HashAggregate" in triples_plan,
          f"{triples_plan.count('HashAggregate')} HashAggregate nodes")
    check("q1 filter pushed to parquet scan",
          "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in q1_plan
          or "PushedFilters" in q1_plan)
    check("q1 column pruning (ReadSchema subset)",
          "l_comment" not in q1_plan)
    # Single-parse evidence. NB: formatted explain reprints a cached
    # relation's subtree at EVERY InMemoryTableScan reference, so node
    # counts over the text overcount; the structural facts are (a) the
    # parse stage's own plan has exactly one ArrowEvalPython chain over
    # one pages scan, and (b) in the flagship plan every ArrowEvalPython
    # sits BEHIND an InMemoryRelation (computed once by the cache
    # contract) — the plan outside the caches is pure relational.
    tree = templates_plan.split("\n\n")[0]  # tree section, not node details
    n_parse = tree.count("- ArrowEvalPython")
    n_scans = tree.count("- Scan parquet")
    check("parse stage = ONE Arrow crossing over ONE pages scan",
          n_parse == 1 and n_scans == 2,
          f"{n_parse} ArrowEvalPython, {n_scans} scans (pages+sitelinks)")
    check("mapping fan-out reads the template cache (Union over InMemoryTableScan)",
          "ArrowEvalPython" not in triples_plan.split("InMemoryRelation")[0],
          "no Python crossing outside a cache in the flagship plan")
    # r4: the page census rides the persisted parse (outer explode +
    # left sitelink join), so lineage must not open the pages table a
    # second time — every parquet scan in its plan sits BEHIND a cache
    # constant tables (template map, constraints, dispatch) must be
    # LocalRelations: a list-built createDataFrame plans as a LogicalRDD
    # over a PythonRDD and re-runs Python workers on every scan. The
    # inputs here are parquet, so every RDD leaf is the pipeline's own.
    # Counts logical leaves plus the "Scan ExistingRDD" nodes an
    # InMemoryRelation prints for its cached subtree
    def rdd_leaves(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return sum(1 for ln in plan.splitlines()
                   if "LogicalRDD" in ln or "ExistingRDD" in ln)
    n_rdd = rdd_leaves(out["triples"]) + rdd_leaves(lineage)
    check("KG constant tables are LocalRelations: 0 LogicalRDD leaves",
          n_rdd == 0, f"{n_rdd} LogicalRDD/ExistingRDD leaves in triples+lineage")
    check("lineage is one pass: no pages scan outside the parse cache",
          "Scan parquet" not in lineage_plan.split("InMemoryRelation")[0],
          "census + metrics both read InMemoryTableScan")
    # r5: canonicalize's SortAggregate shape is DELIBERATE — the
    # hash-aggregable rewrite (packed order key + shuffle-hash
    # join-back) measured 15-50% slower on the mostly-unique staging
    # key (interleaved ABBA A/B, BENCH/BASELINE.md round-5). Pin the
    # operator's OWN plan (the flagship text overcounts via cached-
    # subtree reprints). Default = single phase: partial+final
    # SortAggregate around ONE exchange (map-side combine is the skew
    # taming) and NO join node (the slower rewrite's signature).
    from pywdcollections_spark.operators.canonicalize import last_wins
    # key must not be provably unique (a range id key lets the planner
    # elide the exchange entirely and hides the shape under audit)
    slw_in = spark.range(100).selectExpr(
        "id % 5 as k", "id as o", "string(id) as v")
    slw_tree = formatted(last_wins(
        slw_in, keys=["k"], order_cols=["o"],
        payload_cols=["v"])).split("\n\n")[0]
    check("canonicalize: single-phase max_by (partial+final, one "
          "exchange, no join)",
          slw_tree.count("SortAggregate") == 2
          and slw_tree.count("Exchange") == 1 and "Join" not in slw_tree,
          f"{slw_tree.count('SortAggregate')} SortAggregate nodes, "
          f"{slw_tree.count('Exchange')} Exchange, join-free")
    check("embedding dedup has NO cartesian/nested-loop node",
          "BroadcastNestedLoopJoin" not in emb_plan
          and "CartesianProduct" not in emb_plan)
    check("ANN LSH top-k has NO cartesian/nested-loop node (equi bucket join)",
          "BroadcastNestedLoopJoin" not in ann_plan
          and "CartesianProduct" not in ann_plan)
    # band exchange carries keys only: no Exchange/Broadcast output
    # that includes the band key also carries the shingle array
    band_outs = [ln for ln in lsh_plan.splitlines()
                 if ln.startswith(("Output", "Arguments")) and "bkey" in ln]
    check("minhash band join carries keys only (no shingle array in exchange)",
          bool(band_outs) and not any("sh#" in ln or "sh_" in ln for ln in band_outs),
          f"{len(band_outs)} band-keyed node outputs checked")
    # k-means IVF: the ONLY nested-loop nodes are the intended k-row
    # centroid broadcasts (assignment/probe fan-out); the data-sized
    # probe join must be an equi join, never a CartesianProduct
    check("kmeans-IVF: no CartesianProduct; probe/scan joins are hash joins",
          "CartesianProduct" not in ivfk_plan
          and ("BroadcastHashJoin" in ivfk_plan or "SortMergeJoin" in ivfk_plan),
          f"{ivfk_plan.count('BroadcastNestedLoopJoin')} centroid-broadcast "
          "cross joins (k-row side, intended)")
    check("dedup_clusters: label propagation is equi-join only",
          "CartesianProduct" not in clus_plan
          and "BroadcastNestedLoopJoin" not in clus_plan)

    # r6: corpusops scale claims pinned as plan facts (VERDICT r5 #3).
    # pii_scrub and quality_repetition are per-row statistics: their
    # plans must be row-local projections — zero Generate, and no
    # exchange EXCEPT the r7 scale-adaptive scan-spreading RoundRobin
    # repartition (queries._spread — present only when the scan has
    # fewer splits than the cluster has cores; a no-op at lake scale).
    # A hashpartitioning/rangepartitioning/SinglePartition exchange
    # would mean a real shuffle crept in (the measured 19 s
    # explode->groupBy first cut of repetition would fail this).
    def row_local_ok(plan):
        # the partitioning is the first word of the Arguments line of
        # each "(n) Exchange" node-detail block — never any other
        # node's Arguments line
        import re
        ex_args = re.findall(r"^\(\d+\) Exchange\n(?:.+\n)*?Arguments: (\w+)",
                             plan, re.M)
        bad = [a for a in ex_args
               if a in ("hashpartitioning", "rangepartitioning",
                        "SinglePartition")]
        return "Generate" not in plan and not bad
    pii_plan = formatted(QUERIES["pii_scrub"](spark, sf))
    rep_plan = formatted(QUERIES["quality_repetition"](spark, sf))
    check("pii_scrub is row-local: no Generate, no shuffle beyond scan-spread",
          row_local_ok(pii_plan),
          f"{pii_plan.count('RoundRobinPartitioning')} spread exchange")
    check("quality_repetition is row-local: no Generate, no shuffle beyond scan-spread",
          row_local_ok(rep_plan),
          f"{rep_plan.count('RoundRobinPartitioning')} spread exchange")
    # decontam: the benchmark shingle set must come in as a BROADCAST
    # build side (AQE decides at runtime -> execute, then read the
    # final adaptive plan); the corpus stream is never sort-merge
    # joined. The size guard in operators/corpusops.py warns + pins a
    # shuffled hash join when the probe set cannot broadcast.
    dec_df = QUERIES["decontam_ngram"](spark, sf)
    dec_df.write.format("noop").mode("overwrite").save()
    dec_plan = formatted(dec_df)
    check("decontam probe side broadcasts (no SMJ over corpus shingles)",
          "BroadcastHashJoin" in dec_plan and "SortMergeJoin" not in dec_plan,
          f"{dec_plan.count('BroadcastHashJoin')} BroadcastHashJoin")
    # pack_sequences: the running sum is per-bucket LANES — the Window
    # must partition on bucket and nothing may collapse to a single
    # partition (the global-window formulation would)
    pack_plan = formatted(QUERIES["pack_sequences"](spark, sf))
    check("pack_sequences window is lane-parallel (no single-partition exchange)",
          "Window" in pack_plan
          and "Exchange SinglePartition" not in pack_plan
          and "hashpartitioning(bucket" in pack_plan)

    md = io.StringIO()
    md.write("# Physical plans (explain 'formatted')\n\n")
    md.write("Checks:\n" + "\n".join(checks) + "\n\n")
    md.write("## Parse stage (the cached template subtree)\n\n```\n")
    md.write(templates_plan[:8000])
    md.write("\n```\n\n## Flagship KG pipeline -> triples\n\n```\n")
    md.write(triples_plan[:20000])
    md.write("\n```\n\n## q1_pricing_summary\n\n```\n")
    md.write(q1_plan[:8000])
    md.write("\n```\n\n## dedup_minhash_lsh\n\n```\n")
    md.write(lsh_plan[:8000])
    md.write("\n```\n\n## dedup_embedding_cosine (LSH-bucketed)\n\n```\n")
    md.write(emb_plan[:8000])
    md.write("\n```\n\n## similarity_topk_lsh (multi-probe)\n\n```\n")
    md.write(ann_plan[:8000])
    md.write("\n```\n\n## similarity_topk_ivf_kmeans (trained centroids)\n\n```\n")
    md.write(ivfk_plan[:8000])
    md.write("\n```\n\n## dedup_clusters (connected components, final round)\n\n```\n")
    md.write(clus_plan[:8000])
    md.write("\n```\n\n## quality_repetition (row-local, zero shuffle)\n\n```\n")
    md.write(rep_plan[:6000])
    md.write("\n```\n\n## decontam_ngram (broadcast probe, final AQE plan)\n\n```\n")
    md.write(dec_plan[:8000])
    md.write("\n```\n\n## pack_sequences (per-bucket lane window)\n\n```\n")
    md.write(pack_plan[:6000])
    md.write("\n```\n")
    print("\n".join(checks))
    # the fixture dir first: it may sit under the repo or the sf dir
    text = md.getvalue()
    for path, tag in ((base, "<fixtures>"), (sf, "<sf>"), (REPO, "<repo>")):
        text = text.replace(path.rstrip("/"), tag)
    return text


if __name__ == "__main__":
    main()
