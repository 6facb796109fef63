"""Paired heap-config A/B: is the 48g-heap throughput tax real at a
given size, measured the only way this VM permits?

Round 6 measured two identical pinned solo 16M/48g legs at 24.3k and
85.5k e/s — a 3.5x same-config spread (tools/scaling_history.md), so
single-leg cross-config comparisons are meaningless. This harness runs
the same SCC job at two driver-heap settings in ABBA order (A=24g,
B=48g, B, A by default), fresh pinned JVM per leg, back to back within
one machine phase, and reports per-config medians + the B/A ratio.
Same child-job shape as tools/scaling_bench.py.

  SPARK_GRAFT_BENCH_FILES=16000000 python tools/heap_pair_bench.py

Writes tools/heap_pair_result.json and appends a row to
tools/scaling_history.md.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from detectingscc_spark.session import get_spark
from detectingscc_spark.corpus import generate_corpus
from detectingscc_spark.ingest import ingest
from detectingscc_spark.operators.scc import strongly_connected_components

n_files = int(os.environ["SPARK_GRAFT_BENCH_FILES"])
heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
spark = get_spark(app_name=f"heap-pair-{heap}", master="local[32]",
                  shuffle_partitions=32)
corpus = generate_corpus(spark, n_files).persist(); corpus.count()
verts, edges, _ = ingest(spark, corpus)
edges = edges.persist(); n_edges = edges.count()
t0 = time.time()
n = strongly_connected_components(spark, edges, verts.select("id")).count()
dt = time.time() - t0
assert n == n_files
print(json.dumps({"heap": heap, "wall_sec": round(dt, 1), "edges": n_edges,
                  "edges_per_sec": round(n_edges / dt, 1)}))
"""


def run_leg(heap: str, n_files: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=heap,
               SPARK_GRAFT_BENCH_FILES=str(n_files))
    cmd = [sys.executable, "-c", CHILD % {"repo": REPO}]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", "0-31"] + cmd
    out = subprocess.run(
        cmd, env=env, capture_output=True, text=True,
        timeout=int(os.environ.get("SPARK_GRAFT_CHILD_TIMEOUT", "10800")),
    )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            r = json.loads(line)
            print(f"leg heap={heap}: {line}", flush=True)
            return r
    dump = os.path.join(REPO, "tools", f"heap_pair_fail_{heap}.log")
    with open(dump, "w") as f:
        f.write("=== stdout ===\n" + out.stdout + "\n=== stderr ===\n" + out.stderr)
    raise RuntimeError(f"no result from heap={heap} (full output: {dump})")


def main():
    n_files = int(os.environ.get("SPARK_GRAFT_BENCH_FILES", "16000000"))
    a_heap = os.environ.get("SPARK_GRAFT_HEAP_A", "24g")
    b_heap = os.environ.get("SPARK_GRAFT_HEAP_B", "48g")
    # ABBA: each config sees one early and one late slot, so a
    # monotone machine-phase drift cancels in the medians
    order = [a_heap, b_heap, b_heap, a_heap]
    legs = [run_leg(h, n_files) for h in order]
    by = {a_heap: [], b_heap: []}
    for leg in legs:
        by[leg["heap"]].append(leg["edges_per_sec"])
    med = lambda xs: sorted(xs)[len(xs) // 2]
    a_tp, b_tp = med(by[a_heap]), med(by[b_heap])
    result = {
        "job": "scc on synthetic import graph, local[32] pinned, fresh JVM/leg",
        "n_files": n_files,
        "order": order,
        "legs": legs,
        f"{a_heap}_median_eps": round(a_tp, 1),
        f"{b_heap}_median_eps": round(b_tp, 1),
        "b_over_a": round(b_tp / a_tp, 3),
        "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    with open(os.path.join(REPO, "tools", "heap_pair_result.json"), "w") as f:
        json.dump(result, f, indent=2)
    row = (
        f"\n| heap pair run {result['ts']} ({n_files / 1e6:g}M files, ABBA "
        f"{a_heap}/{b_heap}) | {a_heap}: "
        + "/".join(f"{x:.0f}" for x in by[a_heap])
        + f" e/s (med {a_tp:.0f}) | {b_heap}: "
        + "/".join(f"{x:.0f}" for x in by[b_heap])
        + f" e/s (med {b_tp:.0f}) | {b_heap}/{a_heap} throughput ratio "
        f"{result['b_over_a']:.3f} |"
    )
    with open(os.path.join(REPO, "tools", "scaling_history.md"), "a") as f:
        f.write(row + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
