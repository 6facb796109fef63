"""Strongly connected components via forward-backward reachability with
trim-1/trim-2 pruning (FB-Trim), as iterative DataFrame supersteps.

Re-expresses the reference's `vHong` driver
(/root/reference/src/scc_WCC.cu:568-967) Spark-first:

  phase                reference                       here
  -----                ---------                       ----
  trim1 fixpoint       scc_kernels.cu:187-233          degree semi-joins + anti-join
  trim2                scc_kernels.cu:236-357          indeg==1 mutual-only-neighbor self-join
  pivot election       scc_kernels.cu:57-74,643-656    groupBy(range).agg(max_by(id, struct(prod,-id)))
                       (racy argmax)                   -> deterministic tie-break
  FW/BW BFS            scc_kernels.cu:360-386,419-445  frontier join vs residual edges
  update 3r+fw+2bw     scc_kernels.cu:124-142          (range,sub)->min(id) re-labeling
                                                       (bounded labels, no 3^k overflow)
  WCC decomposition    scc_WCC.cu:829-840              hash-min + pointer jumping

Output contract: (id: long, scc_id: long) with scc_id = min member id
(canonical labels; the reference's racy pivots make its raw labels
nondeterministic, but the partition itself is identical).

Scale design (100 TB): the full edge table is joined exactly ONCE (round
1 residual materialization); afterwards every phase — trims, pivots,
BFS, decomposition — operates on the monotonically shrinking residual
edge set, which is filtered in place as vertices retire (the Spark analog
of the reference keeping all state device-resident and masking retired
rows per kernel). From round 2 on, right after the residual refresh,
every range within FINISH_MAX_EDGES edges and FINISH_MAX_VERTS vertices
is finished in ONE executor-side Tarjan job (`_finish_ranges`): FB ranges
are SCC-closed, so range-local SCCs are final, and nothing is collected
to the driver (intent of detectSCC's merge phase, scc_WCC.cu:1345-1528,
without its quadratic closure sets). Larger ranges go on through
decomposition, trims, pivots and BFS.

Superstep fixed-cost discipline (the scaling-efficiency levers):
  * ONE driver action per tick — row counts ride as observed metrics of
    the materialization job itself (superstep.py), never a second count.
  * ONE join per BFS hop — FW/BW edges and frontiers share a dir tag,
    and each hop is materialized on its own: Spark does not reuse
    subplans, so fusing hops into one job recomputes the inner levels.
    The hop loop is `operators/bfs.py::reach`, shared with coloring,
    `bfs_distances` and the landmark BFS.
  * Frontier joins and visited anti-joins broadcast while the driver-
    known row count is under BROADCAST_ROW_LIMIT (plans/superstep.py);
    past it they are shuffle joins. The BFS edges persist through
    `SuperstepRunner.keyed_edges`, keyed for whichever regime runs.
  * Visited and retired vertices accumulate as materialized fragments
    of a `Fragments` set (plans/superstep.py); the `done` set is their
    lazy union (no O(done) rewrite per emit).
  * trim1 re-derives the residual lazily per iteration and materializes
    it once per fixpoint.
Every superstep localCheckpoints to truncate lineage and periodically
commits a durable parquet checkpoint + manifest for resume (north_rule).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import canonical_edges, vertex_universe
from ..plans.superstep import Fragments, SuperstepRunner, bc
from .bfs import reach
from .components import label_step

# Range-finish caps, read at call time (tests patch them). A range is
# finished by one Python task: `_tarjan_local` costs about 10 µs and 125
# bytes of Python heap per edge (617 MB at the 5M-edge cap). When the
# round-1 pivot misses a giant SCC, the whole SCC is one range; on a
# 4-core local[4] machine finishing it still beat FB rounds at every size
# measured, up to the cap (warm, per call: 80k edges 12.7 s vs 24.7 s;
# 1.3M: 56-68 s vs 98-103 s; 5M: 153 s vs over 190 s). With many
# executors FB gains parallelism the finish does not, so there the
# crossover may sit below the caps; it is unmeasured.
FINISH_MAX_EDGES = 5_000_000
FINISH_MAX_VERTS = 5_000_000
# Decomposition runs in rounds 2, 2 + DECOMPOSE_EVERY, ... for at most
# DECOMPOSE_ITERS label steps; coloring's propagation gets COLOR_MAX_ITERS.
DECOMPOSE_EVERY = 4
DECOMPOSE_ITERS = 12
COLOR_MAX_ITERS = 200


def _tarjan_local(edge_rows, vertex_ids):
    """Iterative Tarjan on a small graph held in memory (one group of
    `tarjan_groups`).
    Returns {vertex: scc_min_id}."""
    adj: dict = {v: [] for v in vertex_ids}
    for s, d in edge_rows:
        if s in adj and d in adj:
            adj[s].append(d)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    result = {}
    counter = [0]
    for root in vertex_ids:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            nbrs = adj[v]
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    if index[w] < low[v]:
                        low[v] = index[w]
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    result[w] = m
            work.pop()
            if work:
                p, _ = work[-1]
                if low[v] < low[p]:
                    low[p] = low[v]
    return result


def _tarjan_group(key, epdf: pd.DataFrame, vpdf: pd.DataFrame) -> pd.DataFrame:
    ids = vpdf["id"].tolist()
    labels = _tarjan_local(zip(epdf["src"].tolist(), epdf["dst"].tolist()), ids)
    return pd.DataFrame({"id": ids, "scc_id": [labels[v] for v in ids]})


def small_groups(edges: DataFrame, verts: DataFrame, key: str) -> DataFrame:
    """(key, ne, nv) of the `key` groups with at most FINISH_MAX_EDGES
    edges and FINISH_MAX_VERTS vertices: ONE aggregate over the tagged
    union of edges(key, ...) and verts(key, ...), so a group without
    edges still appears."""
    return (
        edges.select(key, F.lit(1).alias("e"))
        .unionByName(verts.select(key, F.lit(0).alias("e")))
        .groupBy(key)
        .agg(F.sum("e").alias("ne"), F.sum(1 - F.col("e")).alias("nv"))
        .where((F.col("ne") <= FINISH_MAX_EDGES) & (F.col("nv") <= FINISH_MAX_VERTS))
    )


def tarjan_groups(edges: DataFrame, verts: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """(id, scc_id) for the vertices of the groups listed in `small`:
    edges(key, src, dst) and verts(key, id) are cogrouped by `key` and
    each group runs `_tarjan_local` executor-side. The labels are the
    SCCs of each group's induced subgraph: final when the groups are
    SCC-closed (FB ranges), group-local otherwise (METIS parts)."""
    keys = small.select(key)
    return (
        edges.join(keys, key, "left_semi").groupBy(key)
        .cogroup(verts.join(keys, key, "left_semi").groupBy(key))
        .applyInPandas(_tarjan_group, "id long, scc_id long")
    )


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    runner: SuperstepRunner | None = None,
    checkpoint_dir: str | None = None,
    max_rounds: int = 64,
    max_bfs_hops: int = 10_000,
    local_finish_edges: int | None = None,
    trim2_enabled: bool = True,
    trim_iters: int = 4,
) -> DataFrame:
    """Compute SCCs of a directed graph given as edges(src, dst).

    `vertices(id)` optionally supplies isolated vertices (GTgraph declares
    V explicitly; vertices without arcs are singleton SCCs — e.g.
    /root/reference/data/sample0.gr has V=6 with two arcless vertices).

    `local_finish_edges` is accepted and ignored (benchmark callers pass it).
    """
    runner = runner or SuperstepRunner(spark, checkpoint_dir=checkpoint_dir)

    resumed = runner.resume()
    if resumed is not None:
        _, states = resumed
        active, a_cnt = runner.tick("active", states["active"])
        re, _ = runner.tick("re", states["re"])
        rnd = runner.superstep
        first_done = states["done"]
    else:
        E = canonical_edges(edges)
        init = vertex_universe(E, vertices).select("id", F.lit(0).cast("long").alias("range"))
        active, a_cnt = runner.tick("active", init)
        # round-1 residual: the ONLY pass over the full edge table
        re, re_cnt = runner.tick("re", E.withColumn("range", F.lit(0).cast("long")).repartition("src"), detach=False)
        rnd = 0
        first_done = spark.createDataFrame([], "id long, scc_id long")

    # retired vertices accumulate as MATERIALIZED FRAGMENTS; the logical
    # `done` set is their lazy union. Ticking only the (small) new
    # fragment avoids rewriting the whole done set on every emit — the
    # old design's O(done) localCheckpoint per trim/update was a large
    # share of the superstep fixed cost.
    done = Fragments(runner, "done", compact=False)
    done.add(first_done.select("id", "scc_id"))

    while a_cnt > 0:
        rnd += 1
        runner.superstep = rnd
        runner.bump("iterations")
        if rnd > max_rounds:
            raise RuntimeError(f"SCC did not converge in {max_rounds} rounds")

        def refresh_residual(re, active, a_cnt):
            a_src = bc(active, a_cnt).select(F.col("id").alias("src"), F.col("range").alias("srange"))
            a_dst = bc(active, a_cnt).select(F.col("id").alias("dst"), F.col("range").alias("drange"))
            return runner.tick(
                "re",
                re.select("src", "dst")
                .join(a_src, "src")
                .join(a_dst, "dst")
                .where(F.col("srange") == F.col("drange"))
                .select("src", "dst", F.col("srange").alias("range")),
                detach=False,
            )

        # ---- refresh residual for current membership + ranges ---------
        # (round 1 after a cold start is a no-op: every vertex is active
        # in range 0 and the initial residual IS the canonical edge set)
        if rnd > 1 or resumed is not None:
            re, re_cnt = refresh_residual(re, active, a_cnt)
            active, a_cnt, re, re_cnt = _finish_ranges(runner, re, re_cnt, active, a_cnt, done)
            if a_cnt == 0:
                break

        # ---- optional range decomposition (weak components of residual)
        # (after refresh: must only see same-CURRENT-range edges, else it
        # would partially undo the previous round's FB split)
        if rnd > 1 and (rnd - 2) % DECOMPOSE_EVERY == 0:
            active, a_cnt = _decompose(runner, re, active, a_cnt)
            runner.log("decompose", active=a_cnt)
            re, re_cnt = refresh_residual(re, active, a_cnt)
        runner.log("residual", active=a_cnt, edges=re_cnt)

        # ---- trim1 (bounded fixpoint; stragglers become singleton
        # ranges and retire via later pivots — correctness unaffected) --
        active, a_cnt, re, re_cnt = trim1_fixpoint(
            runner, re, re_cnt, active, a_cnt, done, trim_iters
        )
        if a_cnt == 0:
            break
        if trim2_enabled:
            active, a_cnt, re, re_cnt, fired = _trim2(runner, re, re_cnt, active, a_cnt, done)
            if fired and a_cnt > 0:
                active, a_cnt, re, re_cnt = trim1_fixpoint(
                    runner, re, re_cnt, active, a_cnt, done, trim_iters
                )
            if a_cnt == 0:
                break

        # ---- pivot election: per-range argmax of indeg*outdeg ---------
        # both degrees in ONE tagged-union agg (1 exchange) instead of
        # two groupBys + a full join (3): a one-sided endpoint has the
        # other degree 0, so the product matches the old coalesce form
        degs = (
            re.select(F.col("src").alias("id"), F.lit(1).alias("o"))
            .unionByName(re.select(F.col("dst").alias("id"), F.lit(0).alias("o")))
            .groupBy("id")
            .agg((F.sum("o") * F.sum(1 - F.col("o"))).alias("prod"))
        )
        pivots = (
            active.join(bc(degs, a_cnt), "id", "left")
            .select("id", "range", F.coalesce("prod", F.lit(0)).alias("prod"))
            .groupBy("range")
            .agg(F.expr("max_by(id, struct(prod, -id))").alias("pivot"))
        )
        pivots, p_cnt = runner.tick("pivots", pivots)
        runner.log("pivots", ranges=p_cnt)

        # ---- FW + BW BFS from all pivots, confined to their range -----
        # state stays LAZY: it is a broadcast join of two materialized
        # frames, and every consumer (the BFS seed tick, the final
        # assembled-state tick) materializes its own derivation — a
        # dedicated state tick was one more job per round for nothing
        state = active.join(
            bc(pivots, p_cnt).select(F.col("range"), F.col("pivot")), "range", "left"
        ).select(
            "id",
            "range",
            F.coalesce(F.col("id") == F.col("pivot"), F.lit(False)).alias("fw"),
            F.coalesce(F.col("id") == F.col("pivot"), F.lit(False)).alias("bw"),
        )

        state, hops = _bfs_join(runner, re, re_cnt, state, max_bfs_hops, n_active=a_cnt)
        runner.log("bfs", hops=hops)

        # ---- update: FW∩BW = pivot's SCC; survivors re-ranged ---------
        in_scc = state.where(F.col("fw") & F.col("bw"))
        reps = in_scc.groupBy("range").agg(F.min("id").alias("scc_id"))
        done.add(in_scc.join(bc(reps, p_cnt), "range").select("id", "scc_id"))

        surv = state.where(~(F.col("fw") & F.col("bw"))).withColumn(
            "sub", F.when(F.col("fw"), 1).when(F.col("bw"), 2).otherwise(0)
        )
        regroup = surv.groupBy("range", "sub").agg(F.min("id").alias("new_range"))
        active = surv.join(bc(regroup, a_cnt), ["range", "sub"]).select(
            "id", F.col("new_range").alias("range")
        )
        active, a_cnt = runner.tick("active", active)
        runner.log("update", active=a_cnt)

        runner.maybe_checkpoint({"active": active, "done": done.view, "re": re})
        runner.release("pivots")

    runner.maybe_checkpoint({"active": active, "done": done.view, "re": re}, force=True)
    # the result reads only the done fragments
    for slot in ("active", "re", "state"):
        runner.release(slot)
    return done.view.select(F.col("id").cast("long"), F.col("scc_id").cast("long"))


def _emptied(df: DataFrame) -> DataFrame:
    """`df`'s schema with no rows, for state whose every row has retired."""
    return df.where(F.lit(False))


def endpoint_join(edges: DataFrame, ids: DataFrame, how: str) -> DataFrame:
    """The `edges` rows with both endpoints in `ids(id, ...)` (how=
    "left_semi") or neither (how="left_anti"), in `edges`' column order."""
    ids = ids.select("id")
    return (
        edges.join(ids.withColumnRenamed("id", "src"), "src", how)
        .join(ids.withColumnRenamed("id", "dst"), "dst", how)
        .select(*edges.columns)
    )


def _finish_ranges(runner, re, re_cnt, active, a_cnt, done):
    """Retire every range within FINISH_MAX_EDGES / FINISH_MAX_VERTS in
    ONE executor-side Tarjan job (`tarjan_groups` keyed by range). When
    all of them are edgeless (the usual round 2 on the corpus graphs:
    a few vertices whose edges left with the pivot's SCC), every vertex
    is its own SCC and no Python task runs: a cold Python worker costs
    seconds.

    Called right after a round >= 2 refreshes the residual. Every range
    is then SCC-closed: an FB split and a weak-component refinement never
    cut an SCC, and the refreshed residual holds only same-range edges,
    so a range's local SCCs are its global ones and no contraction is
    needed. Larger ranges stay for decomposition, trims and BFS.
    Returns (active, a_cnt, re, re_cnt) without the finished ranges."""
    from pyspark.sql import Observation

    obs = Observation()
    small = small_groups(re, active, "range")
    small, s_cnt = runner.tick(
        "small", small.observe(obs, F.sum("ne").alias("ne"), F.sum("nv").alias("nv"))
    )
    fin_e, fin_v = obs.get["ne"] or 0, obs.get["nv"] or 0
    if fin_v:
        keys = bc(small, s_cnt)
        if fin_e:
            done.add(tarjan_groups(re, active, keys, "range"))
        else:
            done.add(active.join(keys, "range", "left_semi").select("id", F.col("id").alias("scc_id")))
        runner.log("finish_ranges", ranges=s_cnt, vertices=fin_v, edges=fin_e)
        if fin_v == a_cnt:
            active, re = _emptied(active), _emptied(re)
        else:
            active, _ = runner.tick("active", active.join(keys, "range", "left_anti"), count=False)
            re, _ = runner.tick("re", re.join(keys, "range", "left_anti"), count=False, detach=False)
    runner.release("small")
    return active, a_cnt - fin_v, re, re_cnt - fin_e


def _assemble_state(runner, state, vis_f, vis_b, vis_cnt):
    """Rebuild (id, range, fw, bw) from the two visited id-sets, which
    hold at most `vis_cnt` rows each."""
    out = (
        state.select("id", "range")
        .join(bc(vis_f.withColumn("nf", F.lit(True)), vis_cnt), "id", "left")
        .join(bc(vis_b.withColumn("nb", F.lit(True)), vis_cnt), "id", "left")
        .select(
            "id",
            "range",
            F.coalesce(F.col("nf"), F.lit(False)).alias("fw"),
            F.coalesce(F.col("nb"), F.lit(False)).alias("bw"),
        )
    )
    out, _ = runner.tick("state", out, count=False)
    return out


def _bfs_join(runner, re_f, re_cnt, state, max_bfs_hops, n_active):
    """Bidirectional frontier BFS: ONE `reach` over FW and BW edges.

    FW and BW edges are unioned into ONE frame tagged `dir` (0=fwd edge
    (src->dst), 1=bwd edge (dst->src)); the seeds carry the same tag, so
    both directions advance in ONE join per hop, and each hop is one
    materialized level — the next frontier.

    While the active set is broadcast-able the hop is a map-side hash
    join, and `keyed_edges` keys the edges by the hop's dedup key (dir,
    dst), so the per-hop distinct is exchange-free. Past
    BROADCAST_ROW_LIMIT the hop is a shuffle join on (dir, src), the key
    the edges then carry, so only the frontier is shuffled (and AQE
    cannot split a hub's adjacency: it needs both sides shuffled)."""
    ed = re_f.select(F.lit(0).alias("dir"), "src", "dst").unionByName(
        re_f.select(F.lit(1).alias("dir"), F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ed = runner.keyed_edges("bfs_ed", ed, ["dir", "dst"], ["dir", "src"], n_active, rows=2 * re_cnt)

    seeds = state.where("fw").select(F.lit(0).alias("dir"), "id").unionByName(
        state.where("bw").select(F.lit(1).alias("dir"), "id")
    )
    vis, hops, left = reach(runner, "bfs", ed, seeds, max_bfs_hops)
    if left:
        raise RuntimeError("BFS exceeded max hops")
    runner.bump("FWD_iterations", hops)
    runner.bump("BWD_iterations", hops)
    final = _assemble_state(
        runner, state,
        vis.view.where("dir = 0").select("id"),
        vis.view.where("dir = 1").select("id"),
        vis.count,
    )
    vis.release()
    runner.release("bfs_ed")
    return final, hops


def trim1_fixpoint(runner, re, re_cnt, active, a_cnt, done, max_iters=4):
    """Iteratively retire vertices with zero residual in- or out-edges
    (singleton SCCs) — reference trim1,
    /root/reference/src/scc_kernels.cu:187-233. Bounded at max_iters per
    round: the geometric tail isn't worth a Spark job per handful of
    rows, and missed stragglers retire in later rounds.

    Edge filtering by a monotone-shrinking vertex set is idempotent, so
    each iteration derives the current residual LAZILY from the
    round-entry residual and the live survivor set (a frame that is
    always materialized when used), and the residual is materialized
    exactly ONCE after the fixpoint — 2 driver actions per trim
    iteration instead of 4."""
    re0 = re
    iters = 0
    trimmed_any = False
    while a_cnt > 0 and iters < max_iters:
        iters += 1
        runner.bump("Trimm_iterations")
        cur = endpoint_join(re0, bc(active, a_cnt), "left_semi") if trimmed_any else re0
        # raw endpoint columns: the semi-join hash build dedups, so the
        # old per-side .distinct() only added an exchange each
        has_out = cur.select(F.col("src").alias("id"))
        has_in = cur.select(F.col("dst").alias("id"))
        survivors = active.join(has_out, "id", "left_semi").join(has_in, "id", "left_semi")
        survivors, s_cnt = runner.tick("active_next", survivors)
        trimmed_cnt = a_cnt - s_cnt
        runner.log("trim1", trimmed=trimmed_cnt, active=s_cnt)
        if trimmed_cnt > 0:
            trimmed = active.join(bc(survivors, s_cnt).select("id"), "id", "left_anti").select(
                "id", F.col("id").alias("scc_id")
            )
            done.add(trimmed)
            trimmed_any = True
        runner.promote("active_next", "active")
        active, a_cnt = survivors, s_cnt
        if trimmed_cnt == 0:
            break
    if trimmed_any and a_cnt:
        re, re_cnt = runner.tick("re", endpoint_join(re0, bc(active, a_cnt), "left_semi"), detach=False)
    elif trimmed_any:
        re, re_cnt = _emptied(re0), 0
    return active, a_cnt, re, re_cnt


def _trim2(runner, re, re_cnt, active, a_cnt, done):
    """Retire 2-cycle SCCs {u,k} where each is the other's only residual
    in-neighbor (or only out-neighbor) — reference trim2,
    /root/reference/src/scc_kernels.cu:236-357. scc_id = min(u,k)."""
    only_in = (
        re.groupBy("dst").agg(F.count("*").alias("c"), F.min("src").alias("nbr"))
        .where("c = 1")
        .select(F.col("dst").alias("id"), "nbr")
    )
    only_out = (
        re.groupBy("src").agg(F.count("*").alias("c"), F.min("dst").alias("nbr"))
        .where("c = 1")
        .select(F.col("src").alias("id"), "nbr")
    )

    def mutual(only_nbr):
        a = only_nbr.alias("a")
        b = only_nbr.alias("b")
        return (
            a.join(b, (F.col("a.nbr") == F.col("b.id")) & (F.col("b.nbr") == F.col("a.id")))
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("u"), F.col("b.id").alias("k"))
        )

    pairs = mutual(only_in).unionByName(mutual(only_out)).distinct()
    pairs, pair_cnt = runner.tick("t2pairs", pairs)
    if pair_cnt == 0:
        runner.release("t2pairs")
        return active, a_cnt, re, re_cnt, False
    retired = pairs.select(F.col("u").alias("id"), F.col("u").alias("scc_id")).unionByName(
        pairs.select(F.col("k").alias("id"), F.col("u").alias("scc_id"))
    ).distinct()
    retired, r_cnt = runner.tick("t2retired", retired)
    done.add(retired)
    active, a_cnt = runner.tick("active", active.join(bc(retired, r_cnt).select("id"), "id", "left_anti"))
    re, re_cnt = runner.tick("re", endpoint_join(re, bc(retired, r_cnt), "left_anti"), detach=False)
    runner.log("trim2", retired=r_cnt, active=a_cnt)
    runner.release("t2pairs")
    runner.release("t2retired")
    return active, a_cnt, re, re_cnt, True


def _decompose(runner, re, active, a_cnt):
    """Refine ranges to weak components of the residual graph via
    hash-min label propagation + pointer jumping (reference's 'WCC
    decomposition', /root/reference/src/scc_WCC.cu:829-840 /
    scc_kernels.cu:496-536; one `label_step` per iteration). Any partial
    refinement is correct: an SCC is weakly connected, so min-labels
    never split an SCC across ranges."""
    und = re.select("src", "dst").unionByName(
        re.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    und = runner.keyed_edges("dec_edges", und, "src", "dst", a_cnt)
    lab, _ = runner.tick("dec_lab", active.select("id", F.col("id").alias("label")))
    prev_sum = None  # labels are monotone non-increasing; sum fixpoint = converged
    for _ in range(DECOMPOSE_ITERS):
        lab, new_sum = label_step(runner, "dec_lab", und, lab, a_cnt, "min")
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    active, a_cnt = runner.tick(
        "active", active.join(bc(lab, a_cnt), "id").select("id", F.col("label").alias("range"))
    )
    runner.release("dec_edges")
    runner.release("dec_lab")
    return active, a_cnt
