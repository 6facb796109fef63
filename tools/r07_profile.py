"""Round-7 per-leg profiler (guide §1: measure first).

Runs ONE bench leg in a fresh JVM, timing it exactly like bench.py does
(same inputs, same call), and additionally records:
  * Spark job count (statusTracker before/after)
  * per-phase wall time derived from the SuperstepRunner metrics list
    (for legs that expose a runner)
  * optional .explain("formatted") capture to plans/r07/

Usage: python tools/r07_profile.py <leg> [--explain out.txt] [--trials N]
Legs: scc scc_coloring scc_partitioned pagerank_20it wcc
      lpa_5r triangles edge_support hits_10it clustering_coeff
      assortativity ingest minhash_pairs embedding_topk exact_dedup
      text_stats repetition_stats bm25_topk stratified_sample
      decontaminate pricing_summary top_orders degrees sessionize
      ann_lsh_build ann_probe ann_ivf_build ann_ivf_probe
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_FILES = int(os.environ.get("SPARK_GRAFT_BENCH_FILES", "100000"))


def job_count(spark):
    try:
        t = spark.sparkContext.statusTracker()
        ids = t.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0
    except Exception:
        return -1


def main():
    leg = sys.argv[1]
    trials = 1
    explain_out = None
    args = sys.argv[2:]
    while args:
        a = args.pop(0)
        if a == "--trials":
            trials = int(args.pop(0))
        elif a == "--explain":
            explain_out = args.pop(0)

    from detectingscc_spark.corpus import generate_corpus
    from detectingscc_spark.ingest import ingest
    from detectingscc_spark.session import get_spark
    from detectingscc_spark.plans.superstep import SuperstepRunner

    import __spark_entry__ as entry

    spark = get_spark(app_name=f"profile-{leg}")

    need_graph = leg in {
        "scc", "scc_coloring", "scc_partitioned",
        "pagerank_20it", "wcc", "lpa_5r", "triangles", "edge_support",
        "hits_10it", "clustering_coeff", "assortativity", "ingest",
    }
    verts = edges = None
    if need_graph:
        corpus = generate_corpus(spark, N_FILES).persist()
        corpus.count()
        verts, edges, _ = ingest(spark, corpus)
        edges = edges.persist()
        edges.count()

    runner_holder = {}

    def with_runner(run_id):
        r = SuperstepRunner(spark, run_id=run_id)
        runner_holder["r"] = r
        return r

    def fn():
        if leg == "scc":
            from detectingscc_spark.operators.scc import strongly_connected_components
            return strongly_connected_components(
                spark, edges, verts.select("id"), runner=with_runner("scc"),
            ).count()
        if leg == "scc_coloring":
            from detectingscc_spark.operators.coloring import scc_coloring
            return scc_coloring(
                spark, edges, verts.select("id"), runner=with_runner("scc_coloring")
            ).count()
        if leg == "scc_partitioned":
            from detectingscc_spark.operators.partitioned import scc_partitioned
            return scc_partitioned(spark, edges, verts.select("id")).count()
        if leg == "pagerank_20it":
            from detectingscc_spark.operators.pagerank import pagerank
            return pagerank(
                spark, edges, verts.select("id"), fixed_iters=20,
                runner=with_runner("pagerank"),
            ).count()
        if leg == "wcc":
            from detectingscc_spark.operators.components import connected_components
            return connected_components(
                spark, edges, verts.select("id"), runner=with_runner("cc")
            ).count()
        if leg == "lpa_5r":
            from detectingscc_spark.operators.lpa import label_propagation
            return label_propagation(
                spark, edges, verts.select("id"), rounds=5, runner=with_runner("lpa")
            ).count()
        if leg == "triangles":
            from detectingscc_spark.operators.triangles import triangle_count
            return triangle_count(spark, edges)
        if leg == "edge_support":
            from detectingscc_spark.operators.truss import edge_support
            return edge_support(spark, edges).count()
        if leg == "hits_10it":
            from detectingscc_spark.operators.hits import hits
            return hits(spark, edges, verts.select("id"), iters=10).count()
        if leg == "clustering_coeff":
            from detectingscc_spark.operators.triangles import clustering_coefficient
            return clustering_coefficient(spark, edges).count()
        if leg == "assortativity":
            from detectingscc_spark.operators.triangles import degree_assortativity
            return degree_assortativity(spark, edges).count()
        if leg == "ingest":
            v2, e2, _ = ingest(spark, generate_corpus(spark, N_FILES))
            return e2.count()
        if leg == "ann_lsh_build":
            entry.ensure_lsh_index(spark, SF_DIR, n_tables=8, rebuild=True)
            return 0
        if leg == "ann_probe":
            entry.ensure_lsh_index(spark, SF_DIR, n_tables=8)
            return entry.queries()["ann_lsh_indexed"](spark, SF_DIR).count()
        if leg == "ann_ivf_build":
            entry.ensure_ivf_index(spark, SF_DIR, n_centroids=16, rebuild=True)
            return 0
        if leg == "ann_ivf_probe":
            entry.ensure_ivf_index(spark, SF_DIR, n_centroids=16)
            return entry.queries()["ann_ivf_indexed"](spark, SF_DIR).count()
        # entry-table legs
        return entry.queries()[leg](spark, SF_DIR).count()

    if explain_out:
        # build the lazy frame and capture the plan without running it
        q = entry.queries()[leg]
        df = q(spark, SF_DIR)
        os.makedirs(os.path.dirname(explain_out), exist_ok=True)
        with open(explain_out, "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        print(f"wrote {explain_out}")
        return

    walls = []
    out = None
    for i in range(trials):
        j0 = job_count(spark)
        t0 = time.time()
        out = fn()
        w = time.time() - t0
        j1 = job_count(spark)
        walls.append(round(w, 3))
        phases = {}
        r = runner_holder.get("r")
        if r is not None and r.metrics:
            prev = None
            for m in r.metrics:
                if prev is not None:
                    phases[m["phase"]] = round(
                        phases.get(m["phase"], 0.0) + (m["wall_ts"] - prev), 3
                    )
                prev = m["wall_ts"]
            phases["_n_metrics"] = len(r.metrics)
            phases["_counters"] = dict(r.counters)
        print(json.dumps({
            "leg": leg, "trial": i, "wall_s": round(w, 3),
            "jobs": (j1 - j0) if j0 >= 0 and j1 >= 0 else None,
            "result": out, "phases": phases,
        }))
    print(json.dumps({"leg": leg, "walls": walls,
                      "median": sorted(walls)[len(walls) // 2]}))


if __name__ == "__main__":
    main()
