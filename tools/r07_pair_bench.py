"""Paired, order-alternated, pinned A/B trials for EVERY heavy bench leg
(round-7 evidence). Same discipline as tools/regression_bench.py — fresh
JVM per run, A/B order alternated per trial so hypervisor phase drift
hits both sides equally; the per-pair ratio is the signal, medians are
context. A = round-start checkout, B = current HEAD.

Usage:
  python tools/r07_pair_bench.py --a /tmp/r06tree --b /root/repo \
      [--trials 2] [--files 100000] [--legs scc,wcc,...] [--out ...]
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
repo = %(repo)r
sys.path.insert(0, repo)
os.chdir(repo)
leg = %(leg)r
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
n_files = int(os.environ.get("SPARK_GRAFT_BENCH_FILES", "100000"))
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
from detectingscc_spark.session import get_spark
spark = get_spark(app_name=f"pair-{leg}", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)
verts = edges = None
if leg in ("scc", "scc_coloring", "scc_partitioned",
           "pagerank_20it", "wcc", "lpa_5r", "hits_10it"):
    from detectingscc_spark.corpus import generate_corpus
    from detectingscc_spark.ingest import ingest
    corpus = generate_corpus(spark, n_files).persist(); corpus.count()
    verts, edges, _ = ingest(spark, corpus)
    edges = edges.persist(); edges.count()
t0 = time.time()
if leg == "scc":
    from detectingscc_spark.operators.scc import strongly_connected_components
    n = strongly_connected_components(spark, edges, verts.select("id")).count()
elif leg == "scc_coloring":
    from detectingscc_spark.operators.coloring import scc_coloring
    n = scc_coloring(spark, edges, verts.select("id")).count()
elif leg == "scc_partitioned":
    from detectingscc_spark.operators.partitioned import scc_partitioned
    n = scc_partitioned(spark, edges, verts.select("id")).count()
elif leg == "pagerank_20it":
    from detectingscc_spark.operators.pagerank import pagerank
    n = pagerank(spark, edges, verts.select("id"), fixed_iters=20).count()
elif leg == "wcc":
    from detectingscc_spark.operators.components import connected_components
    n = connected_components(spark, edges, verts.select("id")).count()
elif leg == "lpa_5r":
    from detectingscc_spark.operators.lpa import label_propagation
    n = label_propagation(spark, edges, verts.select("id"), rounds=5).count()
elif leg == "hits_10it":
    from detectingscc_spark.operators.hits import hits
    n = hits(spark, edges, verts.select("id"), iters=10).count()
elif leg == "ann_lsh_build":
    import __spark_entry__ as entry
    entry.ensure_lsh_index(spark, SF, n_tables=8, rebuild=True); n = 0
elif leg == "ann_probe":
    import __spark_entry__ as entry
    entry.ensure_lsh_index(spark, SF, n_tables=8)
    n = entry.queries()["ann_lsh_indexed"](spark, SF).count()
else:
    import __spark_entry__ as entry
    n = entry.queries()[leg](spark, SF).count()
dt = time.time() - t0
print(json.dumps({"wall_sec": dt, "n": n}))
"""

DEFAULT_LEGS = ("scc,scc_coloring,scc_partitioned,"
                "pagerank_20it,wcc,lpa_5r,hits_10it,ann_lsh_build,ann_probe")


def run_one(repo: str, leg: str, n_files: int, cpus: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_BENCH_FILES=str(n_files),
               SPARK_GRAFT_CPUS=str(cpus))
    cmd = [sys.executable, "-c", CHILD % {"repo": repo, "leg": leg}]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(cmd, env=env, capture_output=True, text=True,
                         timeout=3600, cwd=repo)
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no result from {repo} leg {leg}: {out.stderr[-2000:]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True)
    ap.add_argument("--b", required=True)
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--files", type=int, default=100_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--legs", default=DEFAULT_LEGS)
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "r07_pair_result.json"))
    args = ap.parse_args()

    res: dict = {"a": args.a, "b": args.b, "files": args.files,
                 "cpus": args.cpus, "legs": {}}
    for leg in args.legs.split(","):
        rec = {"a_walls": [], "b_walls": [], "pair_ratio_b_over_a": []}
        for t in range(args.trials):
            order = ["a", "b"] if t % 2 == 0 else ["b", "a"]
            pair = {}
            for side in order:
                repo = args.a if side == "a" else args.b
                r = run_one(repo, leg, args.files, args.cpus)
                pair[side] = r["wall_sec"]
                rec[f"{side}_walls"].append(round(r["wall_sec"], 2))
                print(f"{leg} trial {t} {side}: {r['wall_sec']:.1f}s", flush=True)
            rec["pair_ratio_b_over_a"].append(round(pair["b"] / pair["a"], 3))
        med = lambda xs: sorted(xs)[len(xs) // 2]
        rec["a_median"] = med(rec["a_walls"])
        rec["b_median"] = med(rec["b_walls"])
        res["legs"][leg] = rec
        with open(args.out, "w") as f:
            json.dump(res, f, indent=2)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
