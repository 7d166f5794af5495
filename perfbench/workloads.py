"""The benchmark's workloads: what one operation runs and how its output
is checked. The per-workload rationale, generator parameters and the
layer -> end-to-end metric map live in ``perfbench/workloads.json``.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import sys
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import inputs

HERE = os.path.dirname(os.path.abspath(__file__))

#: 7 of bench.py's 24 HEADLINE queries, in its order: every operator
#: family (relational, dedup, similarity, text, corpus), taking the
#: member that runs the most of that family's code (dedup_clusters
#: runs minhash LSH pairs and then connected components). Cold, each
#: query pays ~1-5 s of plan compilation and Python-worker start-up,
#: and all 24 cold do not fit one run's time budget.
QUERY_SET = [
    "q1_pricing_summary", "j1_entity_sitelink_join", "a5_last_wins_upsert",
    "dedup_clusters", "similarity_topk_ivf_kmeans", "corpus_clean_pipeline",
    "decontam_ngram",
]


def _norm(v):
    if isinstance(v, float):
        return format(v, ".9g")
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    if isinstance(v, (datetime, date, Decimal, bytes)):
        return str(v)
    return v


def digest(rows) -> dict:
    """Order-independent digest: row count plus a hash of the sorted
    row renderings (floats to 9 significant digits)."""
    lines = sorted(json.dumps(_norm(list(r)), ensure_ascii=False) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()[:16]
    return {"rows": len(lines), "digest": h}


def _table_rows(path: str, columns=None) -> list[tuple]:
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    cols = [t.column(c).to_pylist() for c in t.column_names]
    return list(zip(*cols))


def reference() -> dict:
    with open(os.path.join(HERE, "reference.json")) as f:
        return json.load(f)


def control_pages(work: str) -> str:
    """The pages the weather gauge hashes: the kg workload's input at a
    fixed seed, so every run of every workload hashes the same bytes."""
    p = KgCommitGroups.params
    return inputs.kg_input(work, p["n_pages"], 42, p["head_templates"])["pages"]


class KgCommitGroups:
    """The job CLI (``job.main``) end to end: a checkpointed run, one
    commit group (what the job's automatic grouping picks for an input
    this size), that also promotes the committed triples into the
    entity table through the parquet upsert sink, then a resume of the
    same ``--out`` that must commit nothing."""

    name = "kg_commit_groups"
    params = {"n_pages": 2000, "head_templates": 200, "bucket_groups": 1,
              "n_buckets": 16}

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.inp = inputs.kg_input(work, self.params["n_pages"], seed,
                                   self.params["head_templates"])
        self.out = os.path.join(work, "run", "kg_out")
        self.n_input_rows = self.params["n_pages"]

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self, ctx) -> dict:
        from pywdcollections_spark import job as J
        argv = ["--pages", self.inp["pages"], "--dims-dir", self.inp["dims_dir"],
                "--out", self.out, "--entities",
                "--n-buckets", str(self.params["n_buckets"]),
                "--bucket-groups", str(self.params["bucket_groups"])]
        # the CLI prints its summary line; keep stdout for the result
        with contextlib.redirect_stdout(sys.stderr):
            first = J.main(argv)
            resume = J.main(argv)
        return {"first": first, "resume": resume}

    def files_written(self) -> int:
        return sum(1 for sub in ("triples", "rejects", "lineage", "entities")
                   for _, _, files in os.walk(os.path.join(self.out, sub))
                   for f in files if not f.startswith((".", "_")))

    def check(self, ctx, result: dict) -> tuple[list[str], dict]:
        """-> (problems, digests). The triples and rejects must equal the
        independent golden oracle's; the resume must commit nothing."""
        problems = []
        first, resume = result["first"], result["resume"]
        if first["groups_processed"] != self.params["bucket_groups"]:
            problems.append(f"first run committed {first['groups_processed']} groups")
        if resume["groups_processed"] != 0 or resume["entities_changed"] != 0:
            problems.append(f"resume was not a no-op: {resume}")
        if first["entities_changed"] <= 0:
            problems.append("first run promoted no entity rows")
        tables = {}
        for kind in ("triples", "rejects"):
            golden = pq.read_table(self.inp[f"golden_{kind}"])
            tables[kind] = _table_rows(os.path.join(self.out, kind))
            got = Counter(_table_rows(os.path.join(self.out, kind), golden.column_names))
            exp = Counter(zip(*[golden.column(c).to_pylist() for c in golden.column_names]))
            if got != exp:
                problems.append(f"{kind} differ from golden: {sum((got - exp).values())} "
                                f"extra, {sum((exp - got).values())} missing")
        digests = {"triples": digest(tables["triples"]), "rejects": digest(tables["rejects"]),
                   "entities": digest(_table_rows(os.path.join(self.out, "entities"))),
                   "entities_changed": [first["entities_changed"],
                                        resume["entities_changed"]]}
        ref = reference()[self.name].get(str(self.seed))
        if ref is not None and ref != digests:
            problems.append(f"digests {digests} != reference {ref}")
        return problems, digests


class OperatorQueries:
    """The QUERY_SET operator queries in a fixed order over the
    repository's sf0.01 test tables (a byte-identical copy in
    perfbench/data, the tables tests/test_queries.py checks against
    DuckDB), each written to the ``noop`` sink as bench.py does. The
    check collects every query again after the clock stops and compares
    its row count and digest with the reference."""

    name = "operator_queries"
    sf_dir = os.path.join(HERE, "data", "sf0.01")
    params = {"tables": "perfbench/data/sf0.01", "documents": 500}

    def __init__(self, work: str, seed: int):
        self.seed = seed          # the tables are fixed; the seed is recorded
        self.n_input_rows = self.params["documents"]

    def reset(self) -> None:
        pass

    def op(self, ctx) -> None:
        from pywdcollections_spark.queries import QUERIES
        for q in QUERY_SET:
            with ctx.span(f"queries.{q}"):
                QUERIES[q](ctx.spark, self.sf_dir).write.format("noop") \
                    .mode("overwrite").save()

    def check(self, ctx, result: None) -> tuple[list[str], dict]:
        from pywdcollections_spark.queries import QUERIES
        digests = {q: digest(QUERIES[q](ctx.spark, self.sf_dir).collect())
                   for q in QUERY_SET}
        ref = reference()[self.name]
        return ([f"{q}: {d} != reference {ref.get(q)}"
                 for q, d in digests.items() if ref.get(q) != d], digests)


WORKLOADS = {w.name: w for w in (KgCommitGroups, OperatorQueries)}
