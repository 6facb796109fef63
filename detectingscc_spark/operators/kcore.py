"""k-core decomposition by iterative peeling (SURVEY.md §2.11 companion
family; absent from the reference — standard link-graph analysis op).

The k-core of the undirected view of the link graph (graph.py
`undirected_edges`; degrees are `undirected_degrees`) is the maximal
subgraph in which every vertex has degree >= k. Peeling: drop every
vertex whose degree (distinct undirected neighbors) within the surviving
subgraph is < k; repeat. Each round is a pure integer computation, so a
fixed-round run is exactly expressible as unrolled SQL CTEs (KCORE_SQL
in __spark_entry__ mirrors it round by round).

Scale notes: the engine keeps a MATERIALIZED shrinking residual edge set
— each round filters the previous round's residual (not the full edge
table) by the new survivor set with two semi-joins (survivors are a
shrinking id set, broadcastable once small), so per-round scan size
decreases monotonically instead of re-reading O(E) every peel. Two jobs
per round (residual checkpoint + degree/survivor tick); lineage is
truncated per round through the SuperstepRunner. No driver-side data
motion — the fixpoint test rides as the tick's observed row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import undirected_degrees, undirected_edges
from ..plans.superstep import SuperstepRunner


def kcore(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 3,
    *,
    rounds: int | None = None,
    max_rounds: int = 64,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Return the ids of vertices in the k-core: (id: long).

    rounds=None (default) peels to fixpoint (bounded by max_rounds,
    raising if the bound is hit unconverged — same guard discipline as
    the coloring engine); rounds=r runs exactly r peeling rounds, the
    fixed-depth form the DuckDB oracle unrolls.
    """
    runner = runner or SuperstepRunner(spark, run_id=f"kcore{k}")
    und, _ = runner.tick("und", undirected_edges(edges), detach=False)
    alive, n_alive = runner.tick("alive", undirected_degrees(und).select("id"))

    # resid = the surviving edge set, MATERIALIZED and re-filtered from
    # itself each round (alive shrinks monotonically, so residual-filtered-
    # by-new-survivors == full-table-filtered-by-new-survivors); round 1's
    # residual is `und` itself (every vertex starts alive)
    resid = und
    n_iters = rounds if rounds is not None else max_rounds
    for i in range(n_iters):
        runner.superstep = i + 1
        runner.bump("iterations")
        survivors = undirected_degrees(resid).where(F.col("deg") >= k).select("id")
        survivors, n_next = runner.tick("alive", survivors)
        converged = n_next == n_alive
        alive, n_alive = survivors, n_next
        if rounds is None and converged:
            break
        if n_next == 0:
            break
        if rounds is not None and i + 1 == n_iters:
            break  # fixed-round run done; skip a residual no one will read
        # shrink the residual for the next round: both endpoints must have
        # survived this peel
        nxt = (
            resid.join(alive.withColumnRenamed("id", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("id", "b"), "b", "left_semi")
        )
        # detach=False: the residual is a large edge frame whose stats
        # compound additively (semi-join shrink), same as the und tick —
        # the Row round trip is for multiplicative-stats state frames
        resid, _ = runner.tick("resid", nxt, count=False, detach=False)
    else:
        if rounds is None:
            raise RuntimeError(f"kcore: no fixpoint within max_rounds={max_rounds}")
    result = alive.select("id")
    runner.release("und")
    runner.release("resid")
    return result
