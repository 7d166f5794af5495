"""Spark builders for the fixture tables — distributed generation.

Page generation fans out over ``spark.range(n_pages)`` with
``mapInPandas`` (each page derives from seed+page_id alone), so the
bench-scale table (~2M pages) renders in parallel without a driver
loop. Dim tables carry their contract schemas (sources.readers.
DIM_SCHEMAS); small fixtures build them on the driver, large ones fan
their page-derived rows (generate.page_dim_rows) out the same way.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pywdcollections_spark.sources.readers import DIM_SCHEMAS, PAGES_SCHEMA
from pywdcollections_spark.testkit import generate as G

HARVESTED_SCHEMA = T.StructType([
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj_raw", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("url", T.StringType()),
])

ENTITIES_SEED_SCHEMA = T.StructType(
    [T.StructField("qid", T.StringType()),
     T.StructField("last_modified", T.TimestampType())]
    + [T.StructField(p, T.StringType(), True)
       for p in ("P17", "P18", "P131", "P154", "P281", "P373",
                 "P571", "P625", "P856", "P1866", "P2971")]
)


def pages_df(spark: SparkSession, n_pages: int, seed: int = 42,
             head_templates: int = 200, partitions: int | None = None) -> DataFrame:
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            rows = [G.page_row(seed, int(i), n_pages, head_templates)
                    for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA])

    return (spark.range(n_pages).repartition(parts)
            .mapInPandas(gen, schema=PAGES_SCHEMA))


def expected_harvested_df(spark: SparkSession, n_pages: int, seed: int = 42,
                          head_templates: int = 200) -> DataFrame:
    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rows.extend(G.expected_harvested_rows(seed, int(i), n_pages, head_templates))
            yield pd.DataFrame(rows, columns=[f.name for f in HARVESTED_SCHEMA])

    return (spark.range(n_pages)
            .repartition(max(8, spark.sparkContext.defaultParallelism))
            .mapInPandas(gen, schema=HARVESTED_SCHEMA))


def expected_text_df(spark: SparkSession, n_pages: int, seed: int = 42,
                     head_templates: int = 200) -> DataFrame:
    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("text_sha256", T.StringType())])

    def gen(batches):
        for pdf in batches:
            rows = [G.expected_text_rows(seed, int(i), n_pages, head_templates)
                    for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "text_sha256"])

    return (spark.range(n_pages)
            .repartition(max(8, spark.sparkContext.defaultParallelism))
            .mapInPandas(gen, schema=schema))


def _dim_schema(name: str) -> T.StructType:
    """Dim ``name``'s contract schema (sources.readers.DIM_SCHEMAS); the
    fixture's entities_seed, which the contract leaves to the collection
    config, has a known one."""
    ddl = DIM_SCHEMAS[name]
    return ENTITIES_SEED_SCHEMA if ddl is None else T.StructType.fromDDL(ddl)


def dim_dfs(spark: SparkSession, n_pages: int, seed: int = 42,
            distributed: bool | None = None) -> dict[str, DataFrame]:
    """Fixture dim tables, one per DIM_SCHEMAS entry, each typed with
    its contract schema. For large n_pages the page-derived dims
    (sitelinks / items / entities_seed / commons_* — O(n_pages) rows)
    are generated DISTRIBUTED via mapInPandas: a driver-built
    LocalRelation of 10^6 rows otherwise enters every join as a
    single-task local scan (measured ~60 s single-threaded phase)."""
    if distributed is None:
        distributed = n_pages >= 20_000
    if distributed:
        return _dim_dfs_distributed(spark, n_pages, seed)
    d = G.dim_rows(n_pages, seed)
    return {name: spark.createDataFrame(d[name], _dim_schema(name))
            for name in DIM_SCHEMAS}


def _dim_dfs_distributed(spark: SparkSession, n_pages: int, seed: int) -> dict[str, DataFrame]:
    base = spark.range(n_pages).repartition(max(8, spark.sparkContext.defaultParallelism))

    def page_rows(name: str) -> DataFrame:
        """Dim ``name``'s page-derived rows, generated per page."""
        schema = _dim_schema(name)
        cols = [f.name for f in schema]

        def gen(batches):
            for pdf in batches:
                rows = [r for i in pdf["id"]
                        for r in G.page_dim_rows(seed, int(i))[name]]
                yield pd.DataFrame(rows, columns=cols)
        return base.mapInPandas(gen, schema)

    # small (place/country/config) dims stay driver-side — pool size
    # still scales with n_pages
    small = G.small_dim_rows(n_pages, seed)
    out = {name: spark.createDataFrame(rows, _dim_schema(name))
           for name, rows in small.items()}
    out["commons_categories"] = spark.createDataFrame(
        G.head_category_rows(), _dim_schema("commons_categories"))
    for name in G.page_dim_rows(seed, 0):   # the page-derived dim names
        out[name] = (out[name].unionByName(page_rows(name)) if name in out
                     else page_rows(name))
    return out


def write_dim_parquet(spark: SparkSession, n_pages: int, seed: int,
                      out_dir: str) -> dict[str, str]:
    """Materialize dims as parquet tables (the production shape: the
    pipeline joins against on-disk dimension tables, not driver
    objects). Returns name -> path."""
    import os
    dims = dim_dfs(spark, n_pages, seed)
    paths = {}
    for name, df in dims.items():
        p = os.path.join(out_dir, f"dim_{name}.parquet")
        if not os.path.exists(p):
            df.write.mode("overwrite").parquet(p)
        paths[name] = p
    return paths


def read_dim_parquet(spark: SparkSession, paths: dict[str, str]) -> dict[str, DataFrame]:
    """Read dims with their contract schemas (sources.readers.DIM_SCHEMAS)
    — skips the per-table footer-inference job; the fixture
    entities_seed additionally has a known schema, so nothing here
    infers."""
    return {name: spark.read.schema(_dim_schema(name)).parquet(p)
            for name, p in paths.items()}
