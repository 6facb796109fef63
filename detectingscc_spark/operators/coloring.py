"""SCC via coloring / MultiStep (the reference's `vSlota`/`wSlota`
variants, /root/reference/src/scc_Coloring.cu:403-701 and :6-400).

Algorithm per round (host loop at /root/reference/src/scc_Coloring.cu:
590-637):
  1. max-color propagation to fixpoint over forward edges:
     color(v) = max(v, colors of out-neighbors)
     (`colorPropagation`, /root/reference/src/scc_kernels.cu:539-564) —
     at fixpoint color(v) = max id forward-reachable from v;
  2. roots: color(v) == v (`selectPivotColoring`, scc_kernels.cu:567-580);
  3. forward BFS from each root CONFINED to its color class
     (`fwdColoring`, scc_kernels.cu:584-610): every reached w has
     color w = root, i.e. w reaches root, and root reaches w — so the
     visited set is exactly root's SCC; retire it with
     scc_id = min member id;
  4. survivors reset (`updateColoring`, scc_kernels.cu:614-623); repeat.

trim1 runs once per round like vSlota (scc_Coloring.cu:507-508), not to
fixpoint. Like vHong, an initial single-pivot FB round knocks out the
giant SCC first — we skip that and let color classes handle it: the max
root's class IS the giant SCC's closure, and pointer-jumping keeps the
propagation rounds logarithmic.

Superstep fixed-cost discipline (round-7, guide §2.4 — the leg was
job-count-bound, ~85 ms of scheduling+planning per Spark job at any
scale):
  * the round-entry residual refresh is skipped in round 1 (every vertex
    is active — a no-op filter); trim1 is the FB engine's
    `scc.trim1_fixpoint` with one iteration, which skips its residual
    refresh when it removed nothing;
  * each propagation tick is one pull-max `label_step`
    (operators/components.py, shared with WCC and the FB engine's
    decomposition): two pointer jumps FIRST, against the already-
    MATERIALIZED color frame (cheap broadcast self-lookups), then one
    pull-max. Two jumps per tick triple path-shortening per round; any
    trajectory reaches the same unique fixpoint (max forward-reachable
    id), detected by the monotone color-sum observation;
  * the edge copies of the propagation (`prop_re`) and of the class BFS
    (`ce`) persist through `SuperstepRunner.keyed_edges`, so while the
    color frame broadcasts each tick's aggregation is exchange-free;
  * the class-confined BFS is `operators/bfs.py::reach`, whose visited
    set is a compacting `Fragments` set (plans/superstep.py): one tick
    per hop instead of re-materializing the whole visited set every hop;
  * retired vertices accumulate in a non-compacting `Fragments` set
    unioned once at the end instead of rewriting the whole done set
    every round.

Same output contract as operators/scc.py; equivalence tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import canonical_edges, vertex_universe
from ..plans.superstep import Fragments, SuperstepRunner, bc
from .bfs import reach
from .components import label_step
from .scc import COLOR_MAX_ITERS, endpoint_join, trim1_fixpoint


def scc_coloring(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    runner: SuperstepRunner | None = None,
    max_rounds: int = 64,
    max_bfs_hops: int = 10_000,
) -> DataFrame:
    runner = runner or SuperstepRunner(spark, run_id="scc_coloring")
    E = canonical_edges(edges)

    active, a_cnt = runner.tick("active", vertex_universe(E, vertices).select("id"))
    re, re_cnt = runner.tick("re", E, detach=False)

    done = Fragments(runner, "done", compact=False)
    done.add(spark.createDataFrame([], "id long, scc_id long"))

    rnd = 0
    while a_cnt > 0:
        rnd += 1
        runner.bump("iterations")
        runner.superstep = rnd
        if rnd > max_rounds:
            raise RuntimeError("coloring SCC did not converge")

        # residual edges between active vertices (round 1: every vertex is
        # active, the filter is a no-op — skip the tick entirely)
        if rnd > 1:
            re, re_cnt = runner.tick("re", endpoint_join(re, bc(active, a_cnt), "left_semi"), detach=False)

        # trim1 once (vSlota style): the FB engine's trim with one iteration
        active, a_cnt, re, re_cnt = trim1_fixpoint(runner, re, re_cnt, active, a_cnt, done, max_iters=1)
        if a_cnt == 0:
            break

        # ---- max-color propagation with pointer jumping ---------------
        # color(v) = max id forward-reachable: one pull-max `label_step`
        # per tick. Monotone increasing; sum fixpoint = converged.
        prop_re = runner.keyed_edges("prop_re", re, "src", "dst", a_cnt, rows=re_cnt)
        col_df, _ = runner.tick("color", active.select("id", F.col("id").alias("label")))
        prev = None
        for prop_iters in range(1, COLOR_MAX_ITERS + 1):
            runner.bump("FWD_iterations")
            col_df, cur_sum = label_step(runner, "color", prop_re, col_df, a_cnt, "max")
            if cur_sum == prev:
                break
            prev = cur_sum
        else:
            # stale colors would let the class-confined BFS split an SCC
            # silently; fail loudly like the FB engine's max_rounds guard
            raise RuntimeError(
                f"color propagation did not converge in {COLOR_MAX_ITERS} iterations"
            )
        runner.log("color_prop_done", iters=prop_iters)

        # ---- forward BFS from roots within color class -> SCCs --------
        ce = (
            re.join(bc(col_df.select(F.col("id").alias("src"), F.col("label").alias("sc")), a_cnt), "src")
            .join(bc(col_df.select(F.col("id").alias("dst"), F.col("label").alias("dc")), a_cnt), "dst")
            .where(F.col("sc") == F.col("dc"))
            .select("src", "dst")
        )
        ce = runner.keyed_edges("ce", ce, "dst", "src", a_cnt, rows=re_cnt)
        vis, hops, left = reach(
            runner, "vis", ce, col_df.where(F.col("label") == F.col("id")).select("id"), max_bfs_hops
        )
        if left:
            raise RuntimeError("coloring BFS exceeded max hops")
        runner.bump("BWD_iterations", hops)
        runner.log("class_bfs_done", hops=hops)
        # retired = visited; scc label = min member id per color class
        retired = vis.view.join(bc(col_df, a_cnt), "id")
        reps = retired.groupBy("label").agg(F.min("id").alias("scc_id"))
        done.add(retired.join(bc(reps, a_cnt), "label").select("id", "scc_id"))
        active, a_cnt = runner.tick("active", active.join(bc(vis.view, vis.count), "id", "left_anti"))
        runner.log("coloring_round", round=rnd, active=a_cnt, prop_iters=prop_iters, bfs_hops=hops)
        vis.release()
        for s in ("color", "ce", "prop_re"):
            runner.release(s)

    # the result reads only the done fragments
    runner.release("active")
    runner.release("re")
    return done.view.select(F.col("id").cast("long"), F.col("scc_id").cast("long"))
