"""Per-layer metrics of a traced run: spans joined to the event log.

Layers are named by module. Every metric is reported on every
workload; a layer the workload never calls reads 0, which is the
"no change" prediction of perfbench/workloads.json for that pairing.
"""

from __future__ import annotations

from perfbench import eventlog
from perfbench.tracing import PROBE, covered_s, self_time, span_group
from perfbench.workloads import QUERY_SET


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(spans: list[dict], log: eventlog.EventLog, wl, result: dict,
                  op: tuple[float, float], digests: dict, get_spark_s: float,
                  control_s: float) -> dict:
    """``op``: (start, end) epoch seconds of the traced operation, the
    session's first. The ``spark.*`` totals cover the jobs the program
    submitted in it, not the operator wrappers' materializing counts
    (``trace.probe_jobs``); an operator's own metrics cover both, since
    its frame executes in the count."""

    def of(prefix):
        return [s for s in spans if s["name"].startswith(prefix)]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def field(ss, key):
        return sum(s.get(key, 0) for s in ss)

    def ev(ss):
        return eventlog.totals(log, groups={span_group(s["id"]) + x
                                            for s in ss for x in ("", PROBE)})

    win = (op[0] * 1000, op[1] * 1000)
    all_groups = {j["group"] for j in log.jobs.values()}
    probes = {g for g in all_groups if g and g.endswith(PROBE)}
    spark = eventlog.totals(log, groups=all_groups - probes, window=win)
    named = [s for s in spans if s["name"] != "op"]
    m = {
        "session.get_spark_s": get_spark_s,
        "control.sha256_s": control_s,
        "trace.wall_s": op[1] - op[0],
        "trace.span_coverage": _ratio(covered_s(named, *op), op[1] - op[0]),
        "trace.probe_jobs": eventlog.totals(log, groups=probes, window=win)["jobs"],
        "spark.jobs": spark["jobs"], "spark.stages": spark["stages"],
        "spark.tasks": spark["tasks"], "spark.task_s": spark["task_s"],
        "spark.shuffle_write_bytes": spark["shuffle_write_bytes"],
        "spark.spill_bytes": spark["spill_bytes"],
        "spark.driver_only_s": eventlog.zero_task_s(log, *win),
        "sources.readers.construct_s": dur(of("sources.readers.")),
    }

    build = of("plans.pipeline.build_kg")
    m["plans.pipeline.build_kg.calls"] = len(build)
    m["plans.pipeline.build_kg.construct_s"] = sum(self_time(spans, s) for s in build)

    parse, subjects = of("operators.parse.extract_and_parse"), of("operators.parse.resolve_subjects")
    mapping, linking = of("operators.mapping."), of("operators.linking.")
    canon, validate = of("operators.canonicalize."), of("operators.validate.")
    ev_parse = ev(parse + subjects)
    m.update({
        "operators.parse.construct_s": field(parse + subjects, "construct_s"),
        "operators.parse.exec_s": field(parse + subjects, "exec_s"),
        "operators.parse.task_s": ev_parse["task_s"],
        "operators.parse.rows_out": field(parse, "rows_out"),
        "operators.parse.python_bytes": ev_parse["python_bytes"],
        "operators.parse.templates_per_page": (
            _ratio(field(parse, "rows_out"), wl.n_input_rows) if parse else 0.0),
        "operators.mapping.exec_s": field(mapping, "exec_s"),
        "operators.mapping.task_s": ev(mapping)["task_s"],
        "operators.mapping.cands_per_template": _ratio(field(mapping, "rows_out"),
                                                       field(subjects, "rows_out")),
        "operators.linking.exec_s": field(linking, "exec_s"),
        "operators.linking.task_s": ev(linking)["task_s"],
        "operators.linking.shuffle_bytes": ev(linking)["shuffle_write_bytes"],
        "operators.linking.linked_ratio": _ratio(field(linking, "rows_out"),
                                                 field(mapping, "rows_out")),
        "operators.canonicalize.exec_s": field(canon, "exec_s"),
        "operators.canonicalize.shuffle_bytes": ev(canon)["shuffle_write_bytes"],
        "operators.canonicalize.kept_ratio": _ratio(field(canon, "rows_out"),
                                                    field(linking, "rows_out")),
        "operators.validate.exec_s": field(validate, "exec_s"),
        "operators.validate.shuffle_bytes": ev(validate)["shuffle_write_bytes"],
        "operators.validate.valid_ratio": _ratio(
            digests.get("triples", {}).get("rows", 0), field(validate, "rows_out")),
    })

    runs = of("plans.checkpoint.run_with_checkpoint")
    committed = lambda run: run.get("result", {}).get("groups_processed", 0)  # noqa: E731
    committing = [s for s in runs if committed(s)]
    groups = sum(committed(s) for s in committing)
    cb = of("plans.checkpoint.completed_buckets")
    cb_in = lambda run: dur(s for s in cb if s["parent"] == run["id"])  # noqa: E731
    writes = of("plans.checkpoint._write_bucketed")
    m.update({
        "plans.checkpoint.groups": groups,
        "plans.checkpoint.group_s": _ratio(
            sum(s["end"] - s["start"] - cb_in(s) for s in committing), groups),
        "plans.checkpoint.completed_buckets_s": dur(cb),
        "plans.checkpoint.resume_s": dur(s for s in runs if not committed(s)),
        "plans.checkpoint.write_jobs": ev(writes + runs)["jobs"],
        "plans.checkpoint.files_written": wl.files_written() if runs else 0,
    })

    upserts = of("sources.sinks.")
    first_call = (result or {}).get("first", {})   # None: the traced op raised
    m.update({
        "plans.sync.changed_rows": first_call.get("entities_changed", 0),
        "operators.promote.exec_s": field(of("operators.promote."), "exec_s"),
        "sources.sinks.upsert_s": dur(upserts),
        "sources.sinks.upserts": len(upserts),
        "sources.sinks.rows_rewritten": ev(upserts)["records_written"],
    })
    for q in QUERY_SET:
        m[f"queries.{q}_s"] = dur(s for s in spans if s["name"] == f"queries.{q}")
    return m
