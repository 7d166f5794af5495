"""Promotion commit cycle through the UpsertSink seam (VERDICT r2 #7):
cycle 1 promotes harvested values into the entities/labels tables,
cycle 2 over the same pages is a committed no-op (a5/c16b idempotence
through the sink API, mirroring the reference's already-present guard
holding on re-run, pywdcollections.py:1099)."""

import glob
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from pywdcollections_spark.config import demo_config
from pywdcollections_spark.plans.sync import changed_entity_rows, run_promotion_cycle
from pywdcollections_spark.sources.sinks import ParquetUpsertSink
from pywdcollections_spark.testkit import spark_tables as TK

N = 120
SEED = 11


@pytest.fixture(scope="module")
def env(spark):
    pages = TK.pages_df(spark, N, SEED, head_templates=20).cache()
    dims = TK.dim_dfs(spark, N, SEED)
    return pages, dims


class RecordingSink(ParquetUpsertSink):
    """Parquet sink that records every batch handed to ``upsert``."""

    def __init__(self, spark, path):
        super().__init__(spark, path)
        self.batches = []

    def upsert(self, updates, keys, order_col):
        self.batches.append(updates)
        super().upsert(updates, keys, order_col)


def _snapshot(sink):
    return {tuple(r) for r in sink.read().collect()}


def test_two_cycle_promotion_idempotent(spark, env, tmp_path):
    pages, dims = env
    esink = ParquetUpsertSink(spark, str(tmp_path / "entities"))
    lsink = ParquetUpsertSink(spark, str(tmp_path / "labels"))
    labels_in = spark.createDataFrame(
        [("Q600000", "en", "Entity 0"), ("Q600001", "en", "Entity 1")],
        "qid string, lang string, label string")

    r1 = run_promotion_cycle(spark, pages, demo_config(), dims, esink,
                             incoming_labels=labels_in, labels_sink=lsink)
    assert r1["entities_changed"] > 0          # harvest promoted something
    assert r1["labels_written"] == 2           # both labels were new -> 'add'
    snap_e, snap_l = _snapshot(esink), _snapshot(lsink)

    # NULL-gating (F4): promoted values landed only where seed was NULL
    seed = {r["qid"]: r.asDict() for r in dims["entities_seed"].collect()}
    for row in esink.read().collect():
        d = row.asDict()
        s = seed[d["qid"]]
        for p, v in s.items():
            if p.startswith("P") and v is not None:
                assert d[p] == v, f"non-NULL seed column {p} was clobbered"

    # cycle 2: same pages, same labels -> committed no-op
    r2 = run_promotion_cycle(spark, pages, demo_config(), dims, esink,
                             incoming_labels=labels_in, labels_sink=lsink)
    assert r2["entities_changed"] == 0
    assert r2["labels_written"] == 0
    assert _snapshot(esink) == snap_e          # tables byte-identical
    assert _snapshot(lsink) == snap_l


def test_upsert_batch_materialized_once(spark, env, tmp_path):
    """VERDICT r4 #3: the change-detection join must evaluate once per
    cycle — the frame handed to the sink is localCheckpoint-ed (its
    optimized plan is an ExistingRDD scan, not the live qid-join plan
    that the count already ran)."""
    pages, dims = env
    esink = RecordingSink(spark, str(tmp_path / "entities_once"))
    r = run_promotion_cycle(spark, pages, demo_config(), dims, esink)
    assert r["entities_changed"] > 0
    # batches[0] is the first-cycle seed; batches[-1] the changed batch
    plan = esink.batches[-1]._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan


def test_changed_entity_rows_null_safe(spark):
    cur = spark.createDataFrame(
        [("Q1", None, "x"), ("Q2", "a", None)],
        "qid string, P17 string, P18 string")
    promoted = spark.createDataFrame(
        [("Q1", None, "x"),          # identical incl. NULL -> not changed
         ("Q2", "a", "new")],        # NULL -> value = changed
        "qid string, P17 string, P18 string")
    got = [r["qid"] for r in changed_entity_rows(cur, promoted).collect()]
    assert got == ["Q2"]


def test_corrupt_entities_table_raises_and_is_not_reseeded(spark, env, tmp_path):
    """Only a missing entity table is a first cycle: a table that exists
    but cannot be read fails the cycle before any write — no reseed
    attempt, and the stored files stay byte-identical."""
    pages, dims = env
    path = str(tmp_path / "entities")
    ParquetUpsertSink(spark, path).upsert(dims["entities_seed"], keys=["qid"],
                                          order_col="last_modified")
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    for p in files:
        with open(p, "wb") as f:
            f.write(b"not a parquet file")
    before = {p: open(p, "rb").read() for p in files}

    esink = RecordingSink(spark, path)
    with pytest.raises(Py4JJavaError):
        run_promotion_cycle(spark, pages, demo_config(), dims, esink)
    assert esink.batches == []
    after = {p: open(p, "rb").read()
             for p in sorted(glob.glob(os.path.join(path, "*.parquet")))}
    assert after == before
