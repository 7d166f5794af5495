"""Generic same-window A/B of one environment knob on the full KG job.

Protocol: pinned 4-core child JVMs, interleaved
ABBA legs so linear VM drift cancels, warmup run per child before the
timed run, triple-count equality asserted across all legs.

Usage: python BENCH/ab_env.py VAR VALUE_A VALUE_B [n_pages] [n_pairs] [cores]
e.g.:  python BENCH/ab_env.py SPARK_GRAFT_IO_CODEC zstd lz4 1500000 2 4
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys
sys.path.insert(0, %(repo)r)
from pywdcollections_spark.session import get_spark
import bench

cores = int(sys.argv[1]); n_pages = int(sys.argv[2])
spark = get_spark("abenv", cores=cores, shuffle_partitions=cores)
spark.sparkContext.setLogLevel("ERROR")
bench.run_kg(spark, max(50_000, n_pages // 10), out_dir="/tmp/pywdc_abenv_warm")
r = bench.run_kg(spark, n_pages, out_dir="/tmp/pywdc_abenv_out")
print("RESULT " + json.dumps(r))
"""


def run_leg(cores: int, n_pages: int, var: str, value: str) -> dict:
    code = CHILD % {"repo": REPO}
    cmd = ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code,
           str(cores), str(n_pages)]
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO, timeout=3600,
        env={**os.environ,
             "SPARK_GRAFT_DRIVER_MEM": f"{max(8, int(cores * 1.5))}g",
             "SPARK_GRAFT_BENCH_NPARTS": str(4 * cores),
             var: value})
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT {var}={value}:\n"
                       f"{out.stdout[-2000:]}\n{out.stderr[-3000:]}")


def main():
    var, val_a, val_b = sys.argv[1], sys.argv[2], sys.argv[3]
    n_pages = int(sys.argv[4]) if len(sys.argv) > 4 else 1_500_000
    n_pairs = int(sys.argv[5]) if len(sys.argv) > 5 else 2
    cores = int(sys.argv[6]) if len(sys.argv) > 6 else 4
    walls = {val_a: [], val_b: []}
    triples = set()
    for i in range(n_pairs):
        order = [val_a, val_b] if i % 2 == 0 else [val_b, val_a]
        for v in order:
            r = run_leg(cores, n_pages, var, v)
            walls[v].append(r["wall_s"])
            triples.add(r["n_triples"])
            print(json.dumps({"pair": i + 1, var: v, "wall_s": r["wall_s"],
                              "n_triples": r["n_triples"]}), flush=True)
    assert len(triples) == 1, f"triple counts diverged: {triples}"
    print(json.dumps({
        "var": var, "n_pages": n_pages, "cores": cores,
        f"{val_a}_walls": walls[val_a], f"{val_b}_walls": walls[val_b],
        f"{val_a}_median": statistics.median(walls[val_a]),
        f"{val_b}_median": statistics.median(walls[val_b]),
        "n_triples": triples.pop(),
    }))


if __name__ == "__main__":
    main()
