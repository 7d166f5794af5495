"""Parse stage: pages scan -> per-template rows (SURVEY.md §3.2 step 1-2).

Spark shape: one fused Arrow-batched extract+parse UDF over the
``html`` column, ``posexplode_outer`` to template granularity (one
census row per template-less page). The html binary column is dropped
immediately after extraction so it never enters a shuffle (SURVEY.md
§4 column-pruning note). The parsed rows keep the scan's partitioning
unless the caller passes ``n_partitions``: then, and only then, they
are repartitioned by url hash (bench.py passes ``defaultParallelism``;
the job passes none).

Replaces the reference's threaded page fetch + pywikibot parse
(pywdcollections.py:275-290,344,1041-1044).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pywdcollections_spark.functions.udfs import (
    extract_and_parse_udf, extract_text_udf)


def page_identity(pages: DataFrame) -> DataFrame:
    """Derive (site, title) from url/lang — the reference's decode()
    (pywdcollections.py:69-70): url tail after '/', percent-decoded,
    '_' -> ' '. Stays JVM-side (built-in functions only)."""
    return pages.withColumns({
        "site": F.concat(F.col("lang"), F.lit("wiki")),
        "title": F.regexp_replace(
            F.url_decode(F.element_at(F.split(F.col("url"), "/"), -1)),
            "_", " ")})


def extract_and_parse(pages: DataFrame,
                      n_partitions: int | None = None) -> DataFrame:
    """pages -> one row per template instance, plus one row for each
    page that has none.

    Output: url, warc_ts, site, title, template_idx, tname, params.
    ``template_idx`` is document order — the last-wins canonicalization
    key (upsert order, pywdcollections.py:410-411).

    The explode is OUTER: a page whose html yields zero templates still
    emits one row (null template_idx/tname/params), so the single parse
    pass doubles as the per-bucket page census the lineage table needs —
    downstream stages filter ``tname IS NOT NULL`` to recover the
    per-template rows.
    """
    # fused single Arrow crossing (extract + tokenize in one UDF)
    df = (page_identity(pages)
          .withColumn("templates", extract_and_parse_udf("html"))
          .drop("html", "text"))  # the wide columns stop here
    out = (df
           .select("url", "warc_ts", "site", "title",
                   F.posexplode_outer("templates").alias("template_idx", "template"))
           .select("url", "warc_ts", "site", "title", "template_idx",
                   F.trim(F.lower(F.col("template.name"))).alias("tname"),
                   F.col("template.params").alias("params")))
    if n_partitions:
        # co-locate by url hash AFTER the heavy columns are gone — a
        # pre-extraction repartition would shuffle the full html/text
        # payload (~page size x corpus), which is pure disk burn
        out = out.repartition(n_partitions, F.xxhash64("url"))
    return out


def text_parity(pages: DataFrame) -> DataFrame:
    """Per-url extraction parity check (BASELINE.json input_hint):
    sha256 of extracted text; compared against expected_text fixtures
    and against the table's own text column."""
    return (page_identity(pages)
            .withColumn("wikitext", extract_text_udf("html"))
            .select(
                "url",
                F.sha2(F.encode(F.col("wikitext"), "UTF-8"), 256).alias("extracted_sha256"),
                (F.col("wikitext") == F.col("text")).alias("matches_text_col"),
            ))


def resolve_subjects(templates: DataFrame, sitelinks: DataFrame) -> DataFrame:
    """J1: pair each page with its entity via (site, title) sitelinks
    (pywdcollections.py:243,253-267). No broadcast hint: AQE broadcasts
    the dim when it is small and picks sort-merge with skew splitting
    when it is not. The join is LEFT, so unlinked pages survive (null
    qid) in the page census; downstream filters ``qid IS NOT NULL`` to
    recover J1."""
    return templates.join(sitelinks.select("site", "title", "qid"),
                          ["site", "title"], "left")
