"""Paired, order-alternated, pinned A/B regression trial for the
headline SCC bench (VERDICT round-4 item 1: settle the 68.4s-vs-42.2s
BENCH_r03/r02 gap — code regression or VM noise?).

Two checkouts of this repo (A = suspect/old code, B = current HEAD) run
the IDENTICAL job — bench.py's headline `scc` (100k-file synthetic
import graph, local[32]) — in fresh pinned JVMs,
order-alternated (A,B / B,A / A,B ...) so hypervisor phase drift hits
both sides equally. This is the same discipline as scaling_bench.py;
single unpaired runs on this VM have a documented 1.8-2x spread and
decide nothing.

Usage:
  python tools/regression_bench.py --a /tmp/scc_r2_worktree --b /root/repo \
      [--trials 3] [--files 100000] [--out tools/regression_result.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from detectingscc_spark.session import get_spark
from detectingscc_spark.corpus import generate_corpus
from detectingscc_spark.ingest import ingest
from detectingscc_spark.operators.scc import strongly_connected_components

cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
n_files = int(os.environ["SPARK_GRAFT_BENCH_FILES"])
spark = get_spark(app_name="regbench", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)
corpus = generate_corpus(spark, n_files).persist(); corpus.count()
verts, edges, _ = ingest(spark, corpus)
edges = edges.persist(); n_edges = edges.count()
t0 = time.time()
n = strongly_connected_components(spark, edges, verts.select("id")).count()
dt = time.time() - t0
assert n == n_files
print(json.dumps({"wall_sec": dt, "edges": n_edges,
                  "edges_per_sec": n_edges / dt}))
"""


def run_one(repo: str, n_files: int, cpus: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_BENCH_FILES=str(n_files),
               SPARK_GRAFT_CPUS=str(cpus))
    cmd = [sys.executable, "-c", CHILD % {"repo": repo}]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(cmd, env=env, capture_output=True, text=True,
                         timeout=3600, cwd=repo)
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no result from {repo}: {out.stderr[-2000:]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="checkout A (suspect/old code)")
    ap.add_argument("--b", required=True, help="checkout B (current code)")
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--files", type=int, default=100_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "regression_result.json"))
    args = ap.parse_args()

    res: dict = {"a": args.a, "b": args.b, "files": args.files,
                 "cpus": args.cpus, "a_walls": [], "b_walls": [], "pairs": []}
    for t in range(args.trials):
        order = ["a", "b"] if t % 2 == 0 else ["b", "a"]
        pair = {}
        for side in order:
            repo = args.a if side == "a" else args.b
            t0 = time.time()
            r = run_one(repo, args.files, args.cpus)
            r["total_proc_sec"] = round(time.time() - t0, 1)
            pair[side] = r
            res[f"{side}_walls"].append(round(r["wall_sec"], 1))
            print(f"trial {t} {side}: scc {r['wall_sec']:.1f}s "
                  f"({r['edges_per_sec']:.0f} e/s)", flush=True)
        res["pairs"].append(pair)

    med = lambda xs: sorted(xs)[len(xs) // 2]
    res["a_median"] = med(res["a_walls"])
    res["b_median"] = med(res["b_walls"])
    res["b_over_a"] = round(res["b_median"] / res["a_median"], 3)
    # per-pair ratio removes the slow-hypervisor-phase confound entirely
    res["pairwise_b_over_a"] = [
        round(p["b"]["wall_sec"] / p["a"]["wall_sec"], 3) for p in res["pairs"]
    ]
    with open(args.out, "w") as f:
        json.dump(res, f, indent=2)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
