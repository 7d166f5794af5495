"""spark-submit entrypoint for the KG-construction job (north rule:
"run via spark-submit --py-files on a multi-executor cluster").

    spark-submit --py-files pywdcollections_spark.zip \
        -m ... # or: spark-submit job.py-style wrapper
    python -m pywdcollections_spark.job \
        --pages /data/pages.parquet --dims-dir /data/dims \
        --out /data/kg_out --n-buckets 256 --bucket-groups 16

Under spark-submit the active SparkSession (with the cluster's conf —
executors, AQE, shuffle partitions) is reused; standalone it falls
back to the local session factory. The run is checkpointed per
url-hash bucket group (plans/checkpoint.py): a re-run of the same
--out resumes from the lineage table and processes only the buckets
that never committed, which is also the crash-recovery story — no
flag needed, resume is the default because completed buckets are
skipped by construction.

The collection config is importable, not hard-coded: ``--config
package.module:factory`` names a zero-arg callable returning a
CollectionConfig (the reference's Collection-subclass declaration,
pywdcollections.py:22-45, as a deployable artifact).
"""

from __future__ import annotations

import argparse
import importlib
import json
import sys

from pyspark.sql import SparkSession

from pywdcollections_spark.config import CollectionConfig

#: dims build_kg unconditionally joins; read_dims() omits absent
#: tables, so missing ones must fail loudly here, not as a KeyError
#: three stages into the plan
REQUIRED_DIMS = ["sitelinks", "redirects", "template_redirects",
                 "target_p31", "class_p279", "items", "sources",
                 "entities_seed", "commons_categories"]


def load_config(spec: str) -> CollectionConfig:
    """``module.path:factory`` -> CollectionConfig."""
    mod_name, _, attr = spec.partition(":")
    factory = getattr(importlib.import_module(mod_name),
                      attr or "config")
    cfg = factory() if callable(factory) else factory
    if not isinstance(cfg, CollectionConfig):
        raise TypeError(f"--config {spec!r} produced {type(cfg).__name__}, "
                        "expected CollectionConfig")
    return cfg


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="pywdcollections_spark.job",
        description="Checkpointed KG-construction over a web-pages table")
    p.add_argument("--pages", required=True,
                   help="pages table path (url/warc_ts/html/text/lang)")
    p.add_argument("--pages-format", default="parquet",
                   choices=["parquet", "jsonl"])
    p.add_argument("--dims-dir", required=True,
                   help="directory of dim_<name>.parquet tables")
    p.add_argument("--out", required=True,
                   help="output dir (triples/ rejects/ lineage/)")
    p.add_argument("--config",
                   default="pywdcollections_spark.config:demo_config",
                   help="module.path:factory returning a CollectionConfig")
    p.add_argument("--n-buckets", type=int, default=64,
                   help="url-hash buckets (checkpoint/lineage unit)")
    p.add_argument("--bucket-groups", type=int, default=None,
                   help="commit units per run (buckets per commit = "
                        "n-buckets / bucket-groups). Default: auto — "
                        "sized so each commit covers ~--pages-per-group "
                        "pages (small inputs run as ONE commit; commit "
                        "overhead is a per-group constant, see "
                        "plans/checkpoint.py)")
    p.add_argument("--pages-per-group", type=int, default=500_000,
                   help="auto bucket-groups target: pages per commit "
                        "unit (ignored when --bucket-groups is set)")
    p.add_argument("--stage-input", action="store_true",
                   help="pre-bucket the pages table once into a "
                        "bucket-partitioned staging table so each "
                        "commit unit partition-prunes its scan instead "
                        "of re-reading the full input (one extra full "
                        "write; pays off from ~3 commit units; skip "
                        "when the input is already bucket-partitioned)")
    p.add_argument("--n-partitions", type=int, default=None,
                   help="parse-stage partition count (default: "
                        "spark.default.parallelism)")
    p.add_argument("--no-html", action="store_true",
                   help="parse the text column only (html absent/opaque)")
    p.add_argument("--entities", action="store_true",
                   help="after the triples commit, promote winners into "
                        "the wide entity table at <out>/entities through "
                        "the upsert sink (changed rows only; a re-run "
                        "over unchanged triples writes nothing)")
    return p


def main(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)

    spark = SparkSession.getActiveSession()
    if spark is None:
        # standalone (no spark-submit): local factory, which also ships
        # the package to worker processes the way --py-files would
        from pywdcollections_spark.session import get_spark
        spark = get_spark("pywdc-job")

    from pywdcollections_spark.sources.readers import read_dims, read_pages
    from pywdcollections_spark.plans.checkpoint import run_with_checkpoint

    pages = read_pages(spark, args.pages, fmt=args.pages_format)
    dims = read_dims(spark, args.dims_dir)
    missing = [d for d in REQUIRED_DIMS if d not in dims]
    if missing:
        raise SystemExit(f"missing required dim tables under "
                         f"{args.dims_dir}: {', '.join(missing)}")

    config = load_config(args.config)
    summary = run_with_checkpoint(
        spark, pages, config, dims, out_dir=args.out,
        n_buckets=args.n_buckets, bucket_groups=args.bucket_groups,
        pages_per_group=args.pages_per_group,
        stage_input=args.stage_input,
        n_partitions=args.n_partitions, use_html=not args.no_html)
    summary = {"out": args.out, "config": config.name, **summary}

    if args.entities:
        # the entity-table half of the north rule's "triple and entity
        # tables": promote the COMMITTED triples (not the lazy pipeline
        # handles) through the same sink seam the sync cycle uses —
        # NULL-gated merge, changed-rows-only upsert, idempotent re-run
        import os
        from pywdcollections_spark.operators.promote import promote_to_entities
        from pywdcollections_spark.plans.sync import changed_entity_rows, read_or_seed
        from pywdcollections_spark.sources.sinks import ParquetUpsertSink
        sink = ParquetUpsertSink(spark, os.path.join(args.out, "entities"))
        # the sink's own probe works on ANY --out filesystem (hdfs://,
        # s3a://); only a missing table means "first run" (ADVICE r4/r5)
        current = read_or_seed(sink, dims["entities_seed"])
        triples = spark.read.parquet(os.path.join(args.out, "triples"))
        # localCheckpoint: the change-detection join runs once, not
        # once for the count and again inside the upsert
        changed = changed_entity_rows(
            current, promote_to_entities(current, triples)).localCheckpoint()
        n_changed = changed.count()
        if n_changed:
            sink.upsert(changed, keys=["qid"], order_col="last_modified")
        summary["entities_changed"] = n_changed

    print(json.dumps(summary), flush=True)
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
