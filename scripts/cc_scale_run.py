#!/usr/bin/env python
"""At-size evidence for the DISTRIBUTED connected-components path.

Generates the SF-scalable synthetic synonym graph (datagen/graphs.py) ABOVE
the 2M-edge local-union-find gate, runs the large-star/small-star fixpoint
at two parallelism levels, and reports:
- iterations to fixpoint + per-iteration wall + per-iteration edge counts
  (the contraction curve),
- closed-form correctness (mismatches vs expected_rep_col — must be 0),
- determinism across the two parallelism levels (full-output hash equality),
- wall at both levels.

connected_components picks its side from the measured edge count; the
distributed side fills stats["iterations"], so a run below the gate (no
iterations) exits non-zero instead of reporting the driver union-find.

Usage: python scripts/cc_scale_run.py [n_nodes] [cores_small] [cores_big]
Defaults: 4,000,000 nodes (~4.57M edges), local[8] vs local[32].

Prints one JSON line; paste the numbers into BENCH/BASELINE.md §0c.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from robokop_build_spark.session import get_spark
from robokop_build_spark.datagen.graphs import expected_rep_col, synonym_graph
from robokop_build_spark.operators.canonicalize import connected_components

n_nodes, cores = {n_nodes}, {cores}
spark = get_spark(app_name="cc_scale", master=f"local[{{cores}}]",
                  shuffle_partitions=max(cores, 16))
spark.sparkContext.setLogLevel("ERROR")
edges = synonym_graph(spark, n_nodes, block=64, hub_stride=50)
n_edges = edges.count()
stats = {{}}
t0 = time.time()
reps = connected_components(edges, stats=stats)
reps = reps.persist()
n_rows = reps.count()
wall = round(time.time() - t0, 2)
mism = reps.filter(
    F.col("rep") != expected_rep_col(F.col("curie"), block=64, hub_stride=50)
).count()
h = reps.agg(F.coalesce(F.bit_xor(F.xxhash64("curie", "rep")), F.lit(0))).collect()[0][0]
print("CCRESULT " + json.dumps({{
    "cores": cores, "n_nodes": n_nodes, "n_edges": n_edges,
    "wall_sec": wall, "iterations": stats.get("iterations"),
    "iter_secs": stats.get("iter_secs"), "iter_edges": stats.get("iter_edges"),
    "rows": n_rows, "mismatches": mism, "output_hash": h,
}}))
"""


def run(n_nodes: int, cores: int) -> dict:
    code = CHILD.format(repo=REPO, n_nodes=n_nodes, cores=cores)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=3600
    )
    for line in out.stdout.splitlines():
        if line.startswith("CCRESULT "):
            res = json.loads(line[len("CCRESULT "):])
            if not res["iterations"]:
                sys.exit(
                    f"{res['n_edges']} edges took the local union-find, not the "
                    "distributed side; raise n_nodes above the CC gate"
                )
            return res
    raise RuntimeError(f"child failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main() -> None:
    n_nodes = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    c_small = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    c_big = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    small = run(n_nodes, c_small)
    big = run(n_nodes, c_big)
    print(json.dumps({
        "metric": "distributed_cc_at_size",
        "small": small,
        "big": big,
        "deterministic_across_parallelism": small["output_hash"] == big["output_hash"],
        "correct_small": small["mismatches"] == 0,
        "correct_big": big["mismatches"] == 0,
        "speedup": round(small["wall_sec"] / big["wall_sec"], 3),
    }))


if __name__ == "__main__":
    main()
