"""spark-submit entry point — the analog of the reference CLI
(/root/reference/src/scc.cu:33-102: `-a g|h|x|y|d`, `-p`, `-q`, `-f`).

  python -m detectingscc_spark --algo scc --input edges.parquet --output out/
  spark-submit --py-files detectingscc_spark.zip -m detectingscc_spark ...

Algorithms: scc (FB-Trim ~ vHong/wHong), scc-coloring (~ vSlota/wSlota),
scc-partitioned (~ detectSCC), cc, pagerank, ppr, lpa, triangles, kcore,
bfs, hits, salsa, eigen, harmonic, ktruss. Input is an
edge parquet/GTgraph file; outputs parquet + a metrics JSON
(reference prints `Number Of Sccs` + `Time`, scc_WCC.cu:538-539 — we
persist the same plus the per-phase counters it tracks at :600-603).
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main():
    ap = argparse.ArgumentParser(prog="detectingscc_spark")
    ap.add_argument("--algo", required=True,
                    choices=["scc", "scc-coloring", "scc-partitioned", "cc", "pagerank",
                             "ppr", "lpa", "triangles", "kcore", "bfs", "hits", "salsa",
                             "eigen", "harmonic", "ktruss", "linkpred", "ann-build",
                             "ann-probe"])
    ap.add_argument("--topk-pairs", type=int, default=100,
                    help="result size for --algo linkpred")
    ap.add_argument("--k", type=int, default=3, help="k for --algo kcore / ktruss")
    ap.add_argument("--iters", type=int, default=10,
                    help="power iterations for hits/salsa/eigen")
    ap.add_argument("--sources-mod", type=int, default=100,
                    help="ppr/bfs source set: vertices with id %% mod == 0")
    ap.add_argument("--input", required=True, help="edge parquet dir or GTgraph .gr file")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--state-format", default=None,
                    help="datasource format for durable superstep state "
                    "(default parquet; 'iceberg' on a cluster with the "
                    "runtime jar — see plans/superstep.py)")
    ap.add_argument("--no-trim2", action="store_true", help="reference -q off")
    ap.add_argument("--trim-iters", type=int, default=4, help="reference -p depth")
    ap.add_argument("--index-path", default=None,
                    help="persisted ANN index dir (required for "
                    "--algo ann-build / ann-probe)")
    ap.add_argument("--index-kind", choices=["lsh", "ivf"], default="lsh")
    ap.add_argument("--query-ids", default="0,1,2,3,4",
                    help="comma-separated vec_ids to probe (ann-probe)")
    ap.add_argument("--topk", type=int, default=5)
    ap.add_argument("--n-tables", type=int, default=8,
                    help="LSH hash tables (ann-build/ann-probe, must match)")
    ap.add_argument("--recall-against", choices=["brute"], default=None,
                    help="ann-probe: also compute recall@k of the index "
                    "probe vs exact brute-force top-k on the same session "
                    "and record it in metrics.json — lets a cluster "
                    "operator see result quality without Python")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "-w", "--warp-size", type=int, default=None,
        help="reference -w parity (src/scc.cu:48-50). GPU warp size has no "
        "Spark analog; when set it is mapped to the closest knob — "
        "spark.sql.shuffle.partitions (shuffle-side parallelism grain).",
    )
    args = ap.parse_args()

    from .session import get_spark
    from .sources.gtgraph import gtgraph_meta, read_gtgraph

    spark = get_spark(
        app_name=f"detectingscc-{args.algo}", master=args.master,
        shuffle_partitions=args.warp_size,
    )

    if args.algo in ("ann-build", "ann-probe"):
        # production ANN read path, drivable without Python: --input is the
        # embedding parquet (vec_id, embedding); ann-build persists the
        # partitioned index at --index-path, ann-probe answers top-k
        # against it with the pruned partition scan (functions/ann_index).
        if not args.index_path:
            ap.error("--index-path is required for ann-build/ann-probe")
        emb = spark.read.parquet(args.input)
        os.makedirs(args.output, exist_ok=True)
        t0 = time.time()
        if args.algo == "ann-build":
            if args.index_kind == "lsh":
                from .functions.ann_index import write_lsh_index

                write_lsh_index(emb, args.index_path, n_tables=args.n_tables)
            else:
                from .functions.ann_index import write_ivf_index

                write_ivf_index(emb, args.index_path)
            metrics = {"algo": args.algo, "kind": args.index_kind,
                       "index_path": args.index_path,
                       "time_sec": round(time.time() - t0, 3)}
        else:
            qids = [int(x) for x in args.query_ids.split(",") if x.strip()]
            if args.index_kind == "lsh":
                from .functions.ann_index import ann_topk_lsh_indexed

                result = ann_topk_lsh_indexed(
                    spark, args.index_path, emb, qids, k=args.topk,
                    n_tables=args.n_tables,
                )
            else:
                from .functions.ann_index import ann_topk_ivf_indexed

                result = ann_topk_ivf_indexed(
                    spark, args.index_path, emb, qids, k=args.topk,
                )
            n_rows = result.count()
            result.write.mode("overwrite").parquet(os.path.join(args.output, "result"))
            metrics = {"algo": args.algo, "kind": args.index_kind,
                       "index_path": args.index_path, "rows": int(n_rows),
                       "probe_time_sec": round(time.time() - t0, 3)}
            if args.recall_against == "brute":
                # recall@k of the probe vs the exact scan, both bounded
                # (k x |qids| rows) — quality visible in metrics.json
                from .functions.similarity import brute_force_topk

                truth = {
                    (r["query_id"], r["vec_id"])
                    for r in brute_force_topk(emb, qids, k=args.topk)
                    .select("query_id", "vec_id").collect()
                }
                got = {
                    (r["query_id"], r["vec_id"])
                    for r in result.select("query_id", "vec_id").collect()
                }
                metrics["recall"] = round(
                    len(truth & got) / max(1, len(truth)), 4
                )
        with open(os.path.join(args.output, "metrics.json"), "w") as f:
            json.dump(metrics, f, indent=2)
        print(json.dumps(metrics))
        return

    if args.input.endswith(".gr"):
        edges = read_gtgraph(spark, args.input)
        v, _ = gtgraph_meta(spark, args.input)
        vertices = spark.range(1, v + 1)
    else:
        edges = spark.read.parquet(args.input)
        vertices = None

    from .plans.superstep import SuperstepRunner

    import hashlib

    fp = hashlib.sha256(
        "|".join(
            str(x)
            for x in (args.input, args.algo, args.no_trim2, args.trim_iters,
                      # result-shaping knobs of the companion algos: a
                      # rerun on the same --checkpoint-dir with a
                      # different k / iteration count / source set must
                      # never resume the old run's state
                      args.k, args.iters, args.sources_mod)
        ).encode()
    ).hexdigest()[:16]
    runner = SuperstepRunner(
        spark, checkpoint_dir=args.checkpoint_dir, run_id=args.algo, fingerprint=fp,
        state_format=args.state_format,
    )
    t0 = time.time()
    scc_flags = dict(runner=runner, trim2_enabled=not args.no_trim2, trim_iters=args.trim_iters)
    if args.algo == "scc":
        from .operators.scc import strongly_connected_components

        result = strongly_connected_components(spark, edges, vertices, **scc_flags)
        n_groups = result.select("scc_id").distinct().count()
    elif args.algo == "scc-coloring":
        from .operators.coloring import scc_coloring

        result = scc_coloring(spark, edges, vertices, runner=runner)
        n_groups = result.select("scc_id").distinct().count()
    elif args.algo == "scc-partitioned":
        from .operators.partitioned import scc_partitioned

        result = scc_partitioned(spark, edges, vertices, **scc_flags)
        n_groups = result.select("scc_id").distinct().count()
    elif args.algo == "cc":
        from .operators.components import connected_components

        result = connected_components(spark, edges, vertices, runner=runner)
        n_groups = result.select("cc_id").distinct().count()
    elif args.algo == "pagerank":
        from .operators.pagerank import pagerank

        result = pagerank(spark, edges, vertices, runner=runner)
        n_groups = result.count()
    elif args.algo == "lpa":
        from .operators.lpa import label_propagation

        result = label_propagation(spark, edges, vertices, runner=runner)
        n_groups = result.select("label").distinct().count()
    elif args.algo == "kcore":
        from .operators.kcore import kcore

        result = kcore(spark, edges, k=args.k, runner=runner)
        n_groups = result.count()
    elif args.algo in ("hits", "salsa", "eigen"):
        from pyspark.sql import functions as F

        if args.algo == "eigen":
            from .operators.hits import eigencentrality

            result = eigencentrality(spark, edges, iters=args.iters)
        else:
            verts = vertices if vertices is not None else (
                edges.select(F.col("src").alias("id")).union(
                    edges.select(F.col("dst").alias("id"))
                ).distinct()
            )
            if args.algo == "hits":
                from .operators.hits import hits as op
            else:
                from .operators.hits import salsa as op
            result = op(spark, edges, verts.select("id"), iters=args.iters)
        n_groups = result.count()
    elif args.algo == "ktruss":
        from .operators.truss import ktruss

        result = ktruss(spark, edges, k=args.k, runner=runner)
        n_groups = result.count()
    elif args.algo == "linkpred":
        from .operators.linkpred import link_prediction

        result = link_prediction(spark, edges, top_k=args.topk_pairs)
        n_groups = result.count()
    elif args.algo in ("ppr", "bfs", "harmonic"):
        from pyspark.sql import functions as F

        ids = edges.select(F.col("src").alias("id")).union(
            edges.select(F.col("dst").alias("id"))
        ).distinct()
        sources = ids.where(F.col("id") % args.sources_mod == 0)
        if args.algo == "ppr":
            from .operators.pagerank import personalized_pagerank

            result = personalized_pagerank(spark, edges, sources, runner=runner)
        elif args.algo == "harmonic":
            from .operators.centrality import harmonic_centrality

            result = harmonic_centrality(spark, edges, sources, runner=runner)
        else:
            from .operators.bfs import bfs_distances

            result = bfs_distances(spark, edges, sources, runner=runner)
        n_groups = result.count()
    else:
        from .operators.triangles import triangle_count_per_vertex

        result = triangle_count_per_vertex(spark, edges)
        n_groups = result.agg({"triangles": "sum"}).first()[0] or 0

    wall = time.time() - t0
    result.write.mode("overwrite").parquet(os.path.join(args.output, "result"))
    metrics = {
        "algo": args.algo,
        "groups": int(n_groups),  # 'Number Of Sccs' analog
        "time_sec": round(wall, 3),
        "counters": runner.counters,
    }
    with open(os.path.join(args.output, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2)
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
