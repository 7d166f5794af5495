"""Seeded KG benchmark inputs, written as parquet under the work directory.

Everything here runs in the driver process with pyarrow, not
through Spark, so generating an input costs a few seconds and never
touches the code under measurement. Each input directory is written
once per (workload parameters, seed) and reused by later runs in the
same checkout; a ``_DONE`` marker makes a half-written directory
regenerate.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from pywdcollections_spark.testkit import generate as G
from pywdcollections_spark.testkit.validate_golden import expected_validation

PAGES_SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])
ENTITY_PROPS = ("P17", "P18", "P131", "P154", "P281", "P373",
                "P571", "P625", "P856", "P1866", "P2971")
DIM_SCHEMAS = {
    "class_p279": pa.schema([("class_qid", pa.int64()), ("super_qid", pa.int64())]),
    "target_p31": pa.schema([("qid", pa.string()), ("p31", pa.int64())]),
    "sources": pa.schema([("site", pa.string()), ("site_qid", pa.int64())]),
    "entities_seed": pa.schema([("qid", pa.string()),
                                ("last_modified", pa.timestamp("us", tz="UTC"))]
                               + [(p, pa.string()) for p in ENTITY_PROPS]),
}


def _fresh(path: str) -> bool:
    """True when ``path`` must be (re)generated; clears a partial one."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return False
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return True


def _done(path: str) -> None:
    open(os.path.join(path, "_DONE"), "w").close()


def kg_input(work: str, n_pages: int, seed: int, head_templates: int) -> dict:
    """Fixture pages + dimension tables in the job CLI's on-disk layout
    (``pages.parquet`` and ``dims/dim_<name>.parquet``), plus the
    golden valid/reject rows from the independent oracle
    (testkit.validate_golden) that the output check compares against."""
    path = os.path.join(work, "inputs", f"kg_n{n_pages}_h{head_templates}_s{seed}")
    pages = os.path.join(path, "pages.parquet")
    dims_dir = os.path.join(path, "dims")
    golden = os.path.join(path, "golden")
    if _fresh(path):
        rows = [G.page_row(seed, i, n_pages, head_templates) for i in range(n_pages)]
        # several row groups, so the scan splits across cores
        pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), pages,
                       row_group_size=max(1, n_pages // 8))
        for name, table_rows in G.dim_rows(n_pages, seed).items():
            d = os.path.join(dims_dir, f"dim_{name}.parquet")
            os.makedirs(d)
            pq.write_table(pa.Table.from_pylist(table_rows,
                                                schema=DIM_SCHEMAS.get(name)),
                           os.path.join(d, "part-0.parquet"))
        valid, rejects = expected_validation(n_pages, seed, head_templates)
        os.makedirs(golden)
        pq.write_table(pa.Table.from_pylist(
            [{k: r[k] for k in ("subj", "pred", "obj_norm", "source")} for r in valid]),
            os.path.join(golden, "triples.parquet"))
        pq.write_table(pa.Table.from_pylist(
            [{"subj": r["subj"], "pred": r["pred"], "reject_reason": r["reason"]}
             for r in rejects]),
            os.path.join(golden, "rejects.parquet"))
        _done(path)
    return {"pages": pages, "dims_dir": dims_dir, "n_pages": n_pages,
            "golden_triples": os.path.join(golden, "triples.parquet"),
            "golden_rejects": os.path.join(golden, "rejects.parquet")}

