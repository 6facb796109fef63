"""ABBA-paired N->4N scaling measurement: the north-rule efficiency
number measured under the repo's own round-6 operational rule.

BASELINE.md (round-6 revision) established that on this VM cross-config
claims need paired, order-alternated draws taken back to back — a
pinned solo 16M leg swung 3.5x between two identical-config draws hours
apart. Every scaling row in tools/scaling_history.md predates that rule:
each ran local[8] once then local[32] once, so a machine-phase drift
during the run biases the efficiency in whichever direction the phase
moved. This harness runs the same fully-distributed SCC job (same child
shape as tools/scaling_bench.py) in ABBA order — A=local[8], B=local[32],
B, A — fresh pinned JVM per leg, and reports per-config throughputs plus
scaling efficiency from both the paired means and the leg-wise extremes
(a spread band, not a point).

  SPARK_GRAFT_BENCH_FILES=4000000 python tools/scaling_pair_bench.py

Writes tools/scaling_pair_result.json and appends a row to
tools/scaling_history.md (summary curated in BASELINE.md).
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

cpus = int(os.environ["SPARK_GRAFT_CPUS"])
n_files = int(os.environ["SPARK_GRAFT_BENCH_FILES"])
spark = get_spark(app_name=f"scaling-pair-{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)
corpus = generate_corpus(spark, n_files).persist(); corpus.count()
verts, edges, _ = ingest(spark, corpus)
edges = edges.persist(); n_edges = edges.count()
t0 = time.time()
n = strongly_connected_components(spark, edges, verts.select("id")).count()
dt = time.time() - t0
assert n == n_files
print(json.dumps({"cpus": cpus, "wall_sec": round(dt, 1), "edges": n_edges,
                  "edges_per_sec": round(n_edges / dt, 1)}))
"""


def run_leg(cpus: int, n_files: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_BENCH_FILES=str(n_files))
    cmd = [sys.executable, "-c", CHILD % {"repo": REPO}]
    # pin the whole tree to exactly `cpus` cores: an N-core executor HAS
    # only N cores (same rationale as tools/scaling_bench.py)
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd, env=env, capture_output=True, text=True,
        timeout=int(os.environ.get("SPARK_GRAFT_CHILD_TIMEOUT", "10800")),
    )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            r = json.loads(line)
            print(f"leg cpus={cpus}: {line}", flush=True)
            return r
    dump = os.path.join(REPO, "tools", f"scaling_pair_fail_{cpus}.log")
    with open(dump, "w") as f:
        f.write("=== stdout ===\n" + out.stdout + "\n=== stderr ===\n" + out.stderr)
    raise RuntimeError(f"no result from cpus={cpus} (full output: {dump})")


def main():
    n_files = int(os.environ.get("SPARK_GRAFT_BENCH_FILES", "4000000"))
    a_cpus = int(os.environ.get("SPARK_GRAFT_CPUS_A", "8"))
    b_cpus = int(os.environ.get("SPARK_GRAFT_CPUS_B", "32"))
    factor = b_cpus / a_cpus
    # ABBA: each config gets one early and one late slot, so a monotone
    # machine-phase drift cancels in the per-config aggregates
    order = [a_cpus, b_cpus, b_cpus, a_cpus]
    legs = [run_leg(c, n_files) for c in order]
    by: dict[int, list[float]] = {a_cpus: [], b_cpus: []}
    for leg in legs:
        by[leg["cpus"]].append(leg["edges_per_sec"])
    mean = lambda xs: sum(xs) / len(xs)
    a_tp, b_tp = mean(by[a_cpus]), mean(by[b_cpus])
    eff_mean = (b_tp / a_tp) / factor
    # spread band: the pairing can bound the efficiency, not pin it —
    # report the leg-wise extremes alongside the mean
    eff_lo = (min(by[b_cpus]) / max(by[a_cpus])) / factor
    eff_hi = (max(by[b_cpus]) / min(by[a_cpus])) / factor
    result = {
        "job": "scc on synthetic import graph, fresh pinned JVM per leg",
        "n_files": n_files,
        "order": order,
        "legs": legs,
        f"local{a_cpus}_mean_eps": round(a_tp, 1),
        f"local{b_cpus}_mean_eps": round(b_tp, 1),
        "efficiency_mean": round(eff_mean, 3),
        "efficiency_band": [round(eff_lo, 3), round(eff_hi, 3)],
        "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    if os.environ.get("SPARK_GRAFT_SMOKE"):
        # harness self-test: print the result but record nothing
        print(json.dumps(result))
        return
    with open(os.path.join(REPO, "tools", "scaling_pair_result.json"), "w") as f:
        json.dump(result, f, indent=2)
    row = (
        f"\n| scaling pair run {result['ts']} ({n_files / 1e6:g}M files, ABBA "
        f"local[{a_cpus}]/local[{b_cpus}]) | local[{a_cpus}]: "
        + "/".join(f"{x:.0f}" for x in by[a_cpus])
        + f" e/s (mean {a_tp:.0f}) | local[{b_cpus}]: "
        + "/".join(f"{x:.0f}" for x in by[b_cpus])
        + f" e/s (mean {b_tp:.0f}) | efficiency {eff_mean:.3f} "
        f"(band {eff_lo:.3f}-{eff_hi:.3f}) |"
    )
    with open(os.path.join(REPO, "tools", "scaling_history.md"), "a") as f:
        f.write(row + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
