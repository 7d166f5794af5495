"""SparkSession factory tuned for the KG-construction workload.

Defaults favor the production shape (many executors, AQE, Arrow); in
the sandbox they run on local[N]. Every knob here is plain public
Spark configuration; the only environment overrides are the driver
memory and core count the scaling benchmarks set for their child
processes.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# At cluster scale these are overridden by spark-submit conf; the
# values below are sized for local[8..32] on the synthetic tables.
_DEFAULT_CONFS = {
    # Adaptive execution: runtime coalescing + skew-join splitting is
    # required by the north rule (head-entity skew in sitelink joins).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batching for every Python crossing (no per-row Python).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # batch size bounds the per-worker Arrow working set: 10k pages x
    # ~1-3 KB html = 10-30 MB per batch per worker, which busts the
    # shared LLC when 8+ workers stream concurrently (the measured
    # single-box scaling limiter); smaller batches trade per-batch
    # overhead for cache locality
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # config-derived dims (template maps, validators, class sets)
    # broadcast; corpus-scale dims (sitelinks at millions of rows) are
    # ABOVE this threshold on purpose — their join must take the
    # parallel shuffle path, exactly as it would at web scale where
    # sitelinks cannot be broadcast (measured: also faster locally)
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # local-scale inputs are ~100s of MB; smaller splits keep every core
    # scanning (at cluster scale with TB inputs, raise back to 128m)
    "spark.sql.files.maxPartitionBytes": "16m",
    # shuffle/persist/broadcast block codec: zstd trades CPU for bytes,
    # which measured 6-22% slower on one box, where shuffle never leaves
    # the page cache (BENCH/BASELINE.md codec A/B)
    "spark.io.compression.codec": "lz4",
    # serialized persist blocks (the DISK_ONLY template cache) stay
    # uncompressed: compressing them measured no gain (BENCH/BASELINE.md)
    "spark.rdd.compress": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "pywdcollections-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` pins local parallelism (used by the two-cluster-size
    scaling bench: local[8] vs local[32]); shuffle partitions scale
    with cores so the plan shape is the same at both sizes.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = SparkSession.builder.appName(app_name).master(f"local[{cores}]")
    confs = dict(_DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs["spark.default.parallelism"] = str(cores)
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to the Python workers (the local-mode analogue
    of ``spark-submit --py-files``): pandas-UDF closures reference
    pywdcollections_spark.* and must be importable on executors
    regardless of the driver's cwd."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"pywdcollections_spark_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
