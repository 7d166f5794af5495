"""Pages-table readers: one schema (BASELINE.json input_hint), several
wire formats.

A web corpus arrives as parquet (the fast path: columnar, predicate
pushdown) or as JSON-lines dumps (the common crawl-style interchange
shape). Binary html cannot ride raw JSON, so the JSONL profile carries
it base64-encoded in ``html_b64`` and the reader unbase64s it back to
binary JVM-side — the downstream pipeline sees the identical schema
either way. CSV is deliberately NOT offered: multiline wikitext +
binary payloads make it a corruption trap.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pywdcollections_spark.sources.sinks import path_not_found

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

_JSONL_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.StringType()),      # ISO-8601 string on the wire
    T.StructField("html_b64", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


#: contract schemas for the dimension tables the pipeline joins
#: against (sitelinks / redirects / class closure / commons existence
#: dims — SURVEY.md §2.3), and the package's one list of dim names:
#: read_dims requires every table, and the fixture builders type each
#: table with its entry here. Supplying them at read time skips parquet
#: footer schema-inference, which is one driver-blocking job PER table
#: per session (measured ~4 s of zero-task preamble across the 12 dims
#: + pages at bench scale); at production scale the Iceberg catalog
#: supplies the schema and inference never runs.
DIM_SCHEMAS: dict[str, object] = {
    "sitelinks": "site string, title string, qid string",
    "redirects": "site string, from_title string, to_title string",
    "template_redirects": "site string, alias_lc string, canonical_lc string",
    "target_p31": "qid string, p31 long",
    "class_p279": "class_qid long, super_qid long",
    "items": "qid string",
    "sources": "site string, site_qid long",
    # entities_seed carries harvested-property columns that vary by
    # collection config — schema stays inferred (or catalog-supplied)
    "entities_seed": None,
    "commons_categories": "title string",
    "commons_redirects": "from_title string, to_title string",
    "commons_files": "title string",
    "file_redirects": "from_title string, to_title string",
}


def read_dims(spark: SparkSession, dims_dir: str) -> dict[str, DataFrame]:
    """Load every table of ``DIM_SCHEMAS`` from
    ``dims_dir/dim_<name>.parquet`` with its contract schema (inference
    only where the schema is config-dependent). ``dims_dir`` is a local
    path or any URI Spark reads (``file://``, ``hdfs://``, ``s3a://``).

    All 12 tables are required: a deployment with no category or file
    redirects supplies an empty table. A table whose path does not
    exist is missing, and one ``ValueError`` names every missing table
    before any plan is built. Any other read error propagates (the same
    rule as ``UpsertSink.read_if_exists``)."""
    out: dict[str, DataFrame] = {}
    missing: list[str] = []
    for name, sch in DIM_SCHEMAS.items():
        path = f"{dims_dir.rstrip('/')}/dim_{name}.parquet"
        reader = spark.read if sch is None else spark.read.schema(sch)
        try:
            out[name] = reader.parquet(path)
        except AnalysisException as e:
            if not path_not_found(e):
                raise
            missing.append(name)
    if missing:
        raise ValueError(f"missing dim tables under {dims_dir}: "
                         f"{', '.join(missing)}")
    return out


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Load a pages table in the input_hint schema from ``fmt``
    ('parquet' | 'jsonl')."""
    if fmt == "parquet":
        return spark.read.schema(PAGES_SCHEMA).parquet(path)
    if fmt == "jsonl":
        raw = spark.read.schema(_JSONL_SCHEMA).json(path)
        return raw.select(
            "url",
            F.to_timestamp("warc_ts").alias("warc_ts"),
            F.unbase64("html_b64").alias("html"),
            "text", "lang")
    raise ValueError(f"unknown pages format {fmt!r}")


def write_pages_jsonl(pages: DataFrame, path: str) -> None:
    """Inverse profile writer (round-trip testing / interchange)."""
    (pages.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").alias("warc_ts"),
        F.base64("html").alias("html_b64"),
        "text", "lang")
     .write.mode("overwrite").json(path))
