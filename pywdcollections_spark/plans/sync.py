"""Promotion commit cycle: build_kg -> promote -> UpsertSink.

The reference's sync loop (pywdcollections.py:476-498 copy_harvested_
properties -> :416-434 update_item) writes each promoted value straight
back into its SQLite tables via ON CONFLICT REPLACE. Here the same
cycle commits through the swappable ``UpsertSink`` seam the triples use
(sources.sinks), so batch KG construction and entity-table maintenance
share one write path:

 * entities — the wide entity table is read from the sink (seeded on
   first cycle), merged NULL-gated (operators.promote.promote_to_
   entities, F4 semantics), and only the rows that actually CHANGED are
   upserted. NULL-gating makes the merge idempotent: a second cycle
   over the same triples finds zero changed rows and performs no write
   — the sync-loop analogue of the reference's already-present guard
   (:1099) holding on re-run.
 * labels/descriptions — write_label/write_descriptions semantics
   (c16b, operators.promote.merge_labels): only 'add'/'fix' actions are
   committed; a repeat cycle yields all-'keep' and writes nothing.

Scale shape: the change-detection join is qid-equi (broadcastable for
config-sized promotion batches, shuffle-on-qid otherwise), the sink
write is the same last-wins MERGE the triples use, and skipping no-op
cycles is what keeps a scheduled sync loop from rewriting a 10^9-row
entity table every period.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pywdcollections_spark.config import CollectionConfig
from pywdcollections_spark.operators.promote import merge_labels, promote_to_entities
from pywdcollections_spark.plans.pipeline import build_kg, unpersist_all
from pywdcollections_spark.sources.sinks import UpsertSink


def changed_entity_rows(current: DataFrame, promoted: DataFrame) -> DataFrame:
    """Promoted rows that differ from the current table in ANY property
    column (null-safe) — the minimal upsert batch for a sync cycle."""
    pcols = [c for c in promoted.columns if c.startswith("P")]
    cur = current.select("qid", *[F.col(p).alias(f"_cur_{p}") for p in pcols])
    diff = reduce(lambda a, b: a | b,
                  [~F.col(p).eqNullSafe(F.col(f"_cur_{p}")) for p in pcols])
    return (promoted.join(cur, "qid", "left")
            .filter(diff)
            .drop(*[f"_cur_{p}" for p in pcols]))


def read_or_seed(sink: UpsertSink, seed: DataFrame) -> DataFrame:
    """The sink's entity table, seeded from ``seed`` on the first cycle.
    Only a missing table is a first cycle (``UpsertSink.read_if_exists``):
    a read error on an existing table propagates instead of reseeding
    over the state it holds."""
    current = sink.read_if_exists()
    if current is None:
        sink.upsert(seed, keys=["qid"], order_col="last_modified")
        current = sink.read()
    return current


def run_promotion_cycle(spark: SparkSession, pages: DataFrame,
                        config: CollectionConfig, dims: dict[str, DataFrame],
                        entities_sink: UpsertSink,
                        incoming_labels: DataFrame | None = None,
                        labels_sink: UpsertSink | None = None,
                        overwrite_labels: bool = False) -> dict:
    """One harvest->promote->commit cycle through the sink seam.

    Returns counters; a cycle re-run over unchanged pages reports
    ``entities_changed == 0`` / ``labels_written == 0`` and leaves the
    sink tables byte-identical (idempotence, tested in tests/test_sync.py).
    """
    current = read_or_seed(entities_sink, dims["entities_seed"])
    out = build_kg(spark, pages, config, dims)
    promoted = promote_to_entities(current, out["triples"])
    # materialize the change-detection join ONCE: without this the
    # count and the upsert would each re-run the qid join against the
    # full entity table (twice per cycle at a 10^9-row table —
    # VERDICT r4 #3); localCheckpoint also truncates lineage past the
    # pipeline caches released below
    changed = changed_entity_rows(current, promoted).localCheckpoint()
    n_changed = changed.count()
    if n_changed:
        # last_modified is carried over unchanged; merge_last_wins'
        # tie-break (update beats existing) applies the new row — the
        # ON CONFLICT REPLACE analogue
        entities_sink.upsert(changed, keys=["qid"], order_col="last_modified")

    n_labels = 0
    if incoming_labels is not None and labels_sink is not None:
        existing = labels_sink.read_if_exists()
        if existing is None:
            existing = incoming_labels.limit(0)
        merged = merge_labels(existing, incoming_labels,
                              overwrite=overwrite_labels, value_col="label")
        # only add/fix actions hit the sink; the stored table carries a
        # rev counter as the upsert order column (higher rev wins)
        prev_rev = 0 if "rev" not in existing.columns else \
            (existing.agg(F.max("rev")).first()[0] or 0)
        writes = (merged.filter(F.col("action").isin("add", "fix"))
                  .drop("action").withColumn("rev", F.lit(int(prev_rev) + 1))
                  .localCheckpoint())   # computed once: count + upsert
        n_labels = writes.count()
        if n_labels:
            labels_sink.upsert(writes, keys=["qid", "lang"], order_col="rev")
    unpersist_all(out)
    # counters only: the pipeline caches are released above, so handing
    # back the lazy triples frame would silently recompute the full
    # harvest in any consumer — callers needing triples run build_kg (or
    # run_with_checkpoint, which commits them) directly
    return {"entities_changed": n_changed, "labels_written": n_labels}
