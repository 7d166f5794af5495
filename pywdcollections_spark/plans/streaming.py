"""Structured Streaming ingest — an extension; the reference is
batch-only (its incrementality is timestamp filters, SURVEY.md §2.9).

A pages directory is consumed as a file stream and every micro-batch
runs through the SAME batch pipeline (plans.pipeline.build_kg) inside
``foreachBatch`` — one code path for batch and streaming. Idempotency:
triples land partitioned by batch_id with dynamic-partition OVERWRITE,
so a batch replayed after a crash (foreachBatch is at-least-once;
the streaming checkpoint dedupes source files, not sink writes)
replaces its own partition instead of appending a duplicate — the same
crash-window discipline as plans.checkpoint.

``availableNow`` + ``maxFilesPerTrigger`` drains a backlog in bounded
micro-batches and stops: the production backfill shape. A long-lived
harvest is the same call with a continuous trigger.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pywdcollections_spark.config import CollectionConfig
from pywdcollections_spark.plans.pipeline import build_kg, unpersist_all


def stream_harvest(spark: SparkSession, pages_dir: str, out_dir: str,
                   config: CollectionConfig, dims: dict[str, DataFrame],
                   checkpoint_dir: str, max_files_per_trigger: int = 1) -> dict:
    """Drain all currently-available page files through the KG pipeline
    in micro-batches; returns progress counters. Restarting with the
    same checkpoint_dir processes only files not yet committed."""
    schema = spark.read.parquet(pages_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(pages_dir))
    progress = {"batches": 0, "rows_in": 0}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = build_kg(spark, batch_df, config, dims)
        (out["triples"].withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(os.path.join(out_dir, "triples")))
        progress["batches"] += 1
        progress["rows_in"] += batch_df.count()
        # drop exactly this batch's pipeline persists — NOT clearCache(),
        # which would evict caller-owned caches (persisted dims, other jobs)
        unpersist_all(out)

    q = (stream.writeStream.foreachBatch(process)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return progress
