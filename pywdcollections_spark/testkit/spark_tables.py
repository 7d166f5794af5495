"""Spark builders for the fixture tables — distributed generation.

Page generation fans out over ``spark.range(n_pages)`` with
``mapInPandas`` (each page derives from seed+page_id alone), so the
bench-scale table (~2M pages) renders in parallel without a driver
loop. Dim tables are driver-built (config-sized) and broadcast at join
time.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pywdcollections_spark.sources.readers import PAGES_SCHEMA
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


def _per_page_dim_rows(seed: int, i: int):
    """The page-derived slices of the dim tables for page i (the
    O(n_pages) parts of generate.dim_rows, factored for distributed
    generation)."""
    lang = G.page_lang(seed, i)
    title = G.page_title(i, lang)
    qid = G.entity_qid(i)
    import random
    rng = random.Random(f"{seed}:seed_entity:{i}")
    ent = {"qid": qid, "last_modified": G.EPOCH,
           "P17": None, "P18": None, "P131": None, "P154": None,
           "P281": None, "P373": None, "P571": None, "P625": None,
           "P856": None, "P1866": None, "P2971": None}
    if rng.random() < 0.3:
        ent["P373"] = f"Existing category {i}"
    if rng.random() < 0.2:
        ent["P18"] = f"Existing {i}.jpg"
    if G.forced_dup_image(seed, i):
        ent["P154"] = f"{title} photo.jpg"
    cats = [f"Category of {title}", f"Catégorie de {title}", title]
    redirs = []
    case = G.cat_redirect_case(seed, i)
    if case is not None:
        frm, to, target_exists = case
        redirs.append({"from_title": frm, "to_title": to})
        if target_exists:
            cats.append(to)
    files, file_redirs = G.file_dim_rows(seed, i)
    return {"sitelink": {"site": f"{lang}wiki", "title": title, "qid": qid},
            "item": {"qid": qid}, "entity": ent, "cats": cats,
            "cat_redirects": redirs,
            "files": files, "file_redirects": file_redirs}


def dim_dfs(spark: SparkSession, n_pages: int, seed: int = 42,
            distributed: bool | None = None) -> dict[str, DataFrame]:
    """Fixture dim tables. For large n_pages the page-derived dims
    (sitelinks / items / entities_seed / commons_categories — O(n_pages)
    rows) are generated DISTRIBUTED via mapInPandas: a driver-built
    LocalRelation of 10^6 rows otherwise enters every join as a
    single-task local scan (measured ~60 s single-threaded phase)."""
    if distributed is None:
        distributed = n_pages >= 20_000
    if distributed:
        return _dim_dfs_distributed(spark, n_pages, seed)
    d = G.dim_rows(n_pages, seed)
    out = {}
    out["sitelinks"] = spark.createDataFrame(d["sitelinks"], "site string, title string, qid string")
    out["redirects"] = spark.createDataFrame(d["redirects"], "site string, from_title string, to_title string")
    out["template_redirects"] = spark.createDataFrame(
        d["template_redirects"], "site string, alias_lc string, canonical_lc string")
    out["target_p31"] = spark.createDataFrame(d["target_p31"], "qid string, p31 long")
    out["class_p279"] = spark.createDataFrame(d["class_p279"], "class_qid long, super_qid long")
    out["items"] = spark.createDataFrame(d["items"], "qid string")
    out["entities_seed"] = spark.createDataFrame(
        [tuple(r[f.name] for f in ENTITIES_SEED_SCHEMA) for r in d["entities_seed"]],
        ENTITIES_SEED_SCHEMA)
    out["commons_categories"] = spark.createDataFrame(d["commons_categories"], "title string")
    out["commons_redirects"] = spark.createDataFrame(
        [(r["from_title"], r["to_title"]) for r in d["commons_redirects"]],
        "from_title string, to_title string")
    out["commons_files"] = spark.createDataFrame(
        [(r["title"],) for r in d["commons_files"]], "title string")
    out["file_redirects"] = spark.createDataFrame(
        [(r["from_title"], r["to_title"]) for r in d["file_redirects"]],
        "from_title string, to_title string")
    out["sources"] = spark.createDataFrame(d["sources"], "site string, site_qid long")
    return out


def _dim_dfs_distributed(spark: SparkSession, n_pages: int, seed: int) -> dict[str, DataFrame]:
    parts = max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(n_pages).repartition(parts)

    def gen_sitelinks(batches):
        for pdf in batches:
            rows = [_per_page_dim_rows(seed, int(i))["sitelink"] for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["site", "title", "qid"])

    def gen_items(batches):
        for pdf in batches:
            yield pd.DataFrame({"qid": [G.entity_qid(int(i)) for i in pdf["id"]]})

    def gen_entities(batches):
        cols = [f.name for f in ENTITIES_SEED_SCHEMA]
        for pdf in batches:
            rows = [_per_page_dim_rows(seed, int(i))["entity"] for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=cols)

    def gen_cats(batches):
        for pdf in batches:
            titles = []
            for i in pdf["id"]:
                titles.extend(_per_page_dim_rows(seed, int(i))["cats"])
            yield pd.DataFrame({"title": titles})

    def gen_cat_redirects(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rows.extend(_per_page_dim_rows(seed, int(i))["cat_redirects"])
            yield pd.DataFrame(rows, columns=["from_title", "to_title"])

    def gen_files(batches):
        for pdf in batches:
            titles = []
            for i in pdf["id"]:
                titles.extend(_per_page_dim_rows(seed, int(i))["files"])
            yield pd.DataFrame({"title": titles})

    def gen_file_redirects(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rows.extend(_per_page_dim_rows(seed, int(i))["file_redirects"])
            yield pd.DataFrame(rows, columns=["from_title", "to_title"])

    # small (place/country/config) dims stay driver-side — pool size
    # still scales with n_pages
    d = G.small_dim_rows(n_pages, seed)
    small = {
        "sitelinks": spark.createDataFrame(d["sitelinks"], "site string, title string, qid string"),
        "redirects": spark.createDataFrame(d["redirects"], "site string, from_title string, to_title string"),
        "template_redirects": spark.createDataFrame(
            d["template_redirects"], "site string, alias_lc string, canonical_lc string"),
        "target_p31": spark.createDataFrame(d["target_p31"], "qid string, p31 long"),
        "class_p279": spark.createDataFrame(d["class_p279"], "class_qid long, super_qid long"),
        "items": spark.createDataFrame(d["items"], "qid string"),
        "sources": spark.createDataFrame(d["sources"], "site string, site_qid long"),
    }
    page_sl = base.mapInPandas(gen_sitelinks, "site string, title string, qid string")
    page_items = base.mapInPandas(gen_items, "qid string")
    head_cats = spark.createDataFrame(
        [(f"Head category {t}",) for t in range(2000)], "title string")

    out = dict(small)
    out["sitelinks"] = small["sitelinks"].unionByName(page_sl)
    out["items"] = small["items"].unionByName(page_items)
    out["entities_seed"] = base.mapInPandas(gen_entities, ENTITIES_SEED_SCHEMA)
    out["commons_categories"] = head_cats.unionByName(
        base.mapInPandas(gen_cats, "title string"))
    out["commons_redirects"] = base.mapInPandas(
        gen_cat_redirects, "from_title string, to_title string")
    out["commons_files"] = base.mapInPandas(gen_files, "title string")
    out["file_redirects"] = base.mapInPandas(
        gen_file_redirects, "from_title string, to_title string")
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
    from pywdcollections_spark.sources.readers import DIM_SCHEMAS

    def rd(name, p):
        sch = DIM_SCHEMAS.get(name) or \
            (ENTITIES_SEED_SCHEMA if name == "entities_seed" else None)
        return (spark.read.schema(sch).parquet(p) if sch is not None
                else spark.read.parquet(p))
    return {name: rd(name, p) for name, p in paths.items()}
