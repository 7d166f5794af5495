"""Benchmark entry point: one workload, one process, local[4].

    python3 perfbench/run.py --workload kg_commit_groups --seed 1 \
        --seconds 1 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
into ``.perfbench_work/`` (reused across runs); Spark's local, temp,
warehouse and event-log directories live there too. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` the per-layer ones; details go to stderr.

Untraced run: ``setup_s`` times the session start; ``wall_s`` times
the session's first operation, which is what one job submission pays,
and ``peak_rss_mb`` is the process tree's peak up to its end. The
output digests go to stderr. Further operations run closed loop, each
starting when the previous one returned, while ``--seconds`` (counted
from the first operation's start) last; they are checked and counted,
and their walls go to stderr. Every operation's output is checked after its clock stops; a
failed check or an exception counts as a failed operation.

Traced run: the session's first operation under perfbench/tracing.py's
wrappers with the Spark event log on, and nothing more, so it is as
cold as the one ``wall_s`` times: the tracing overhead is
``trace.wall_s`` minus the median untraced ``wall_s``. Its outputs pass
the same checks (golden oracle, reference digests).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import nullcontext

ROOT = os.getcwd()
CORES = 4


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


class Context:
    """What an operation needs: the session, and spans when traced."""

    def __init__(self, spark, tracer=None):
        self.spark, self.tracer = spark, tracer

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


def start_spark(work: str, app: str, event_log: str | None):
    from pywdcollections_spark.session import get_spark
    # 2g, not the factory's 8g: the same median wall on these inputs,
    # but a steadier one across runs, and 3 GB instead of 5 GB peak RSS
    conf = {"spark.driver.memory": "2g",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if event_log:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(app, cores=CORES, shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the driver launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def control_s(spark, path: str, column: str, rounds: int = 50) -> float:
    """The weather gauge (BENCH/control.py): sha256 over one column via
    mapInPandas, no shuffle. Moves only with the machine, not the code."""
    def h(batches):
        import hashlib

        import pandas as pd
        for pdf in batches:
            out = []
            for x in pdf[column]:
                b = x if isinstance(x, bytes) else str(x).encode("utf-8")
                for _ in range(rounds):
                    b = hashlib.sha256(b).digest()
                out.append(b.hex())
            yield pd.DataFrame({"d": out})
    df = spark.read.parquet(path).select(column).repartition(CORES)
    t = time.time()
    df.mapInPandas(h, schema="d string").count()
    return time.time() - t


def run_op(wl, ctx):
    """-> ((start, end), result, error). Traced, the operation is the
    ``op`` span; an exception is a failed operation."""
    wl.reset()
    t = time.time()
    try:
        with ctx.span("op"):
            result = wl.op(ctx)
    except Exception as e:          # the operation failed: count it, go on
        import traceback
        traceback.print_exc()
        return (t, time.time()), None, f"{type(e).__name__}: {e}"
    return (t, time.time()), result, None


def check_op(wl, ctx, result, error):
    """-> (problems, digests), after the clock stopped."""
    if error is not None:
        return [error], {}
    try:
        return wl.check(ctx, result)
    except Exception as e:
        import traceback
        traceback.print_exc()
        return [f"check raised {type(e).__name__}: {e}"], {}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pywdcollections_spark")):
        print("perfbench: pywdcollections_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    for d in (tmp, local):          # per-process temp files of earlier runs
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # both JVMs (spark-submit's launcher and the driver): temp files in
    # the work directory, and no hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # import the benchmark as the ``perfbench`` package from the root, so
    # its module names (inputs, run, ...) stay out of the top level
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]

    from perfbench.procmem import PeakSampler
    from perfbench.workloads import WORKLOADS, control_pages

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](work, args.seed)
    attempted = failed = 0
    problems_seen: list[str] = []

    def count(problems) -> None:
        nonlocal attempted, failed
        attempted += 1
        if problems:
            failed += 1
            problems_seen.extend(problems)

    event_log = None
    if args.trace:
        event_log = os.path.join(work, f"eventlog-{os.getpid()}")
        shutil.rmtree(event_log, ignore_errors=True)
        os.makedirs(event_log)

    with PeakSampler() as mem:
        t0 = time.time()
        spark = start_spark(work, f"perfbench-{args.workload}", event_log)
        setup_s = time.time() - t0
        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer
            tracer = Tracer(spark)
            tracer.install()
        ctx = Context(spark, tracer)
        # the session's first operation: what one job submission pays
        try:
            first, result, error = run_op(wl, ctx)
        finally:
            if tracer:
                tracer.uninstall()
        # the peak of the operation wall_s times, not of what follows it
        peak_rss_mb = mem.peak_mb
        # traced, the same output checks as untraced
        problems, digests = check_op(wl, ctx, result, error)
        count(problems)
        ctl = control_s(spark, control_pages(work), "html")
        warm_walls = []
        # closed loop: further untraced operations while --seconds last
        while not args.trace and time.time() - first[0] < args.seconds:
            window, result_w, error = run_op(wl, ctx)
            count(check_op(wl, ctx, result_w, error)[0])
            warm_walls.append(window[1] - window[0])
        stop_spark(spark)

    for p in problems_seen:
        print(f"perfbench: FAILED CHECK: {p}", file=sys.stderr)
    if args.trace:
        from perfbench import eventlog
        from perfbench.layers import layer_metrics
        log = eventlog.load(eventlog.find_log(event_log))
        shutil.rmtree(event_log)
        values = layer_metrics(tracer.spans, log, wl, result, first, digests, setup_s, ctl)
        os.makedirs(os.path.join(work, "trace"), exist_ok=True)
        with open(os.path.join(work, "trace", f"{args.workload}_s{args.seed}.spans.json"),
                  "w") as f:
            json.dump(tracer.spans, f, indent=1, default=str)
        declared = spec["per_layer"]
    else:
        wall_s = first[1] - first[0]
        values = {"wall_s": wall_s, "setup_s": setup_s,
                  "pages_per_s": wl.n_input_rows / wall_s, "peak_rss_mb": peak_rss_mb}
        print(json.dumps({"detail": {"warm_walls": warm_walls, "control.sha256_s": ctl,
                                     "seed": args.seed, "params": wl.params,
                                     "digests": digests}}),
              file=sys.stderr)
        declared = spec["end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics declared in BENCHMARK.json but not produced: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
