"""Benchmark-side spans around the program's public functions.

``Tracer.install`` replaces each traced function at module-attribute
level: in its defining module and in every ``pywdcollections_spark``
module that imported the name (``plans.checkpoint`` and ``plans.sync``
bind ``build_kg`` and ``promote_to_entities`` at import time), and on
the class for methods. Each wrapper records a span (name, start, end,
parent, run id) in memory and sets the Spark job group to the span for
the call, so the event log attributes every job to the innermost span
that submitted it.

Operator-layer wrappers also persist and count the frame they return
inside the span: execution then lands in the layer that owns it, and
the span splits into ``construct_s`` (building the plan) and
``exec_s`` (running it). A frame the pipeline persists itself is
persisted at the pipeline's own storage level, so its later persist
call finds the same cache. The count runs under the job group
``span-<id>-probe``, so the jobs the program submits can be told from
the ones the tracer adds. Materializing still changes the plan's
pipelining, which is why traced runs never feed the end-to-end
samples.
"""

from __future__ import annotations

import importlib
import sys
import time
import uuid
from contextlib import contextmanager

from pyspark.storagelevel import StorageLevel

DISK, MEM = StorageLevel.DISK_ONLY, StorageLevel.MEMORY_AND_DISK

#: (module, attribute, storage level to materialize the returned frame
#: at, or None); the span name is the module path below the package plus
#: the attribute. The levels of resolve_subjects, map_parameters and
#: validate are the ones plans.pipeline persists their frames at; the
#: frames it does not persist go to disk, off the driver's heap.
TRACED = [
    ("sources.readers", "read_pages", None),
    ("sources.readers", "read_dims", None),
    ("plans.pipeline", "build_kg", None),
    ("operators.parse", "extract_and_parse", DISK),
    ("operators.parse", "resolve_subjects", DISK),
    ("operators.mapping", "map_parameters", MEM),
    ("operators.linking", "link_entity_values", DISK),
    ("operators.canonicalize", "canonicalize", DISK),
    ("operators.validate", "validate", MEM),
    ("operators.promote", "promote_to_entities", DISK),
    ("plans.checkpoint", "run_with_checkpoint", None),
    ("plans.checkpoint", "completed_buckets", None),
    ("plans.checkpoint", "_write_bucketed", None),
    ("plans.sync", "changed_entity_rows", None),
    ("sources.sinks", "ParquetUpsertSink.upsert", None),
]

PROBE = "-probe"


def span_group(sid: int) -> str:
    return f"span-{sid}"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple] = []
        self._persisted: list = []

    # -- spans --------------------------------------------------------
    def _set_group(self, sid, suffix: str = "") -> None:
        self.sc.setLocalProperty("spark.jobGroup.id",
                                 None if sid is None else span_group(sid) + suffix)

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    # -- wrappers -----------------------------------------------------
    def _wrapper(self, fn, name: str, level):
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                rec["construct_s"] = time.time() - rec["start"]
                if level is not None:
                    t = time.time()
                    out = out.persist(level)
                    self._persisted.append(out)
                    self._set_group(rec["id"], PROBE)
                    rec["rows_out"] = out.count()
                    self._set_group(rec["id"])
                    rec["exec_s"] = time.time() - t
                if isinstance(out, dict):
                    rec["result"] = {k: v for k, v in out.items()
                                     if isinstance(v, (int, float, str))}
                return out
        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for mod_name, attr, level in TRACED:
            mod = importlib.import_module(f"pywdcollections_spark.{mod_name}")
            name = f"{mod_name}.{attr}"
            if "." in attr:                       # Class.method
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._restore.append((cls, meth, orig))
                setattr(cls, meth, self._wrapper(orig, name, level))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrapper(orig, name, level)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith("pywdcollections_spark")
                        and getattr(m, attr, None) is orig):
                    self._restore.append((m, attr, orig))
                    setattr(m, attr, wrapped)

    def uninstall(self) -> None:
        """Restore the originals and unpersist the frames the operator
        wrappers materialized."""
        for target, attr, orig in reversed(self._restore):
            setattr(target, attr, orig)
        self._restore.clear()
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()


def self_time(spans: list[dict], rec: dict) -> float:
    """A span's duration minus the part its direct children cover."""
    kids = [s for s in spans if s["parent"] == rec["id"]]
    return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)


def covered_s(spans: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end] inside at least one span."""
    iv = sorted((max(s["start"], start), min(s["end"], end)) for s in spans
                if s["end"] > start and s["start"] < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
