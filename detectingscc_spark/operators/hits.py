"""HITS (hubs & authorities, Kleinberg 1999) — link-graph companion to
PageRank (north-rule tier; the reference's domain is link-graph
analytics, SURVEY.md §2.11).

Synchronous power iteration on the adjacency matrix pair:
  auth_k(v) = sum_{(u,v) in E} hub_{k-1}(u),  then L1-normalize
  hub_k(u)  = sum_{(u,v) in E} auth_k(v),     then L1-normalize
L1 normalization (not L2) keeps every operation a plain sum/division —
no sqrt — so the DuckDB oracle (unrolled CTE chain in __spark_entry__)
mirrors the arithmetic op-for-op and the final round(8) absorbs
double-sum reordering, exactly the proven PageRank-oracle pattern.

100 TB shape + round-7 action halving: state between half-steps is the
UN-normalized push (id, raw) — only vertices actually receiving score —
plus its L1 total as a 1-row frame. The normalizer division raw/total
rides INSIDE the next half-step's join as a broadcast scalar (the
pagerank dangling-mass pattern), so each half-step is ONE driver action
(the eager checkpoint of the raw push: one hash join + one map-side-
partial agg over 2-column frames) instead of the round-6 two (raw push +
materialized full-universe normalized frame). Arithmetic is unchanged
bit-for-bit: s(u) = raw(u)/t is computed per edge row by the identical
double division before entering the sum, vertices absent from the raw
frame contributed exactly 0.0 before, and the full-universe
coalesce(raw,0)/t frame is built once at the end instead of every
half-step. Duplicate edges contribute multiplicity, matching the
reference loader's keep-duplicates semantics
(/root/reference/src/load.cpp:43).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import symmetric_edges, undirected_degrees, undirected_edges
from ..plans.superstep import SuperstepRunner


def _normalized(v: DataFrame, raw: DataFrame, total: DataFrame, out: str) -> DataFrame:
    """Full-universe normalized scores: coalesce(raw, 0)/t over verts."""
    return (
        v.join(raw, "id", "left")
        .crossJoin(F.broadcast(total))
        .select("id", (F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("t")).alias(out))
    )


def _push(edges: DataFrame, raw_prev: DataFrame, total_prev: DataFrame | None,
          key_in: str, key_out: str, weight: str | None = None):
    """One matrix application: raw_out(v) = Σ_{edges} raw_prev(u)/t
    (times the edge's `weight` column, if given: (raw/t)*w, the same
    div-then-mul order as the round-6 materialized s*w form). The
    division by the carried normalizer happens per edge row — the
    identical double op the round-6 materialized-scores form applied per
    vertex — so sums see bit-identical terms. Seed half-step (total_prev
    None): scores are already normalized. ONE driver action: the eager
    checkpoint of the raw push (the normalizer and the next half-step
    both read it). Returns (raw, 1-row total frame)."""
    j = edges.join(raw_prev.withColumnRenamed("id", key_in), key_in)
    if total_prev is None:
        s = F.col("raw")
    else:
        j = j.crossJoin(F.broadcast(total_prev))
        s = F.col("raw") / F.col("t")
    if weight is not None:
        s = s * F.col(weight)
    raw = j.groupBy(F.col(key_out).alias("id")).agg(F.sum(s).alias("raw")).localCheckpoint(eager=True)
    return raw, raw.agg(F.sum("raw").alias("t"))


def _hub_authority(spark: SparkSession, run_id: str, e: DataFrame, v: DataFrame, n: int,
                   iters: int, w_auth: str | None = None, w_hub: str | None = None) -> DataFrame:
    """(id, auth, hub) after `iters` alternating auth/hub half-steps over
    e(src, dst, ...) from the uniform hub start, optionally weighted by
    the edge columns `w_auth` / `w_hub`. The edges are persisted twice —
    the dual forward/backward adjacency layout the reference itself
    keeps: the auth push joins on src and aggregates by dst, the hub push
    the reverse. Cost: the edge bytes twice, the CSR+CSC trade."""
    runner = SuperstepRunner(spark, run_id=run_id)
    try:
        auth_e = runner.keyed_edges("auth_e", e, "dst", "src", n)
        hub_e = runner.keyed_edges("hub_e", e, "src", "dst", n)
        hub_raw = v.select("id", (F.lit(1.0) / F.lit(float(n))).alias("raw"))
        h_t = None
        for _ in range(iters):
            auth_raw, a_t = _push(auth_e, hub_raw, h_t, "src", "dst", w_auth)
            hub_raw, h_t = _push(hub_e, auth_raw, a_t, "dst", "src", w_hub)
    finally:
        # safe to release: the result plan reads only v and the
        # checkpointed raw frames, never the edge copies
        runner.release_all()
    return (
        _normalized(v, auth_raw, a_t, "auth")
        .join(_normalized(v, hub_raw, h_t, "hub"), "id")
        .select("id", "auth", "hub")
    )


def hits(
    spark: SparkSession,
    edges: DataFrame,
    verts: DataFrame,
    iters: int = 10,
) -> DataFrame:
    """(id, auth, hub) after `iters` L1-normalized sync iterations.

    Vertices with no in-edges have auth 0 (and symmetrically for hub);
    both columns are defined over the full vertex universe `verts(id)`.
    """
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    v = verts.select(F.col("id").cast("long").alias("id"))
    n = v.count()
    if n == 0:
        # ANSI mode constant-folds the 1/n seed at plan time, so an empty
        # universe must short-circuit rather than build a 1/0 literal
        return v.select("id", F.lit(0.0).alias("auth"), F.lit(0.0).alias("hub"))
    return _hub_authority(spark, "hits", e, v, n, iters)


def eigencentrality(
    spark: SparkSession,
    edges: DataFrame,
    iters: int = 10,
) -> DataFrame:
    """Eigenvector centrality of the undirected simple view: (id, score)
    after `iters` L1-normalized power iterations x ← A·x / ‖A·x‖₁ from
    the uniform start. L1 (not L2) keeps every op a sum/division so the
    unrolled-CTE DuckDB oracle mirrors it exactly (the HITS pattern —
    same carried-normalizer half-step shape: one hash join + one scalar
    agg per iteration over 2-column frames, one driver action each)."""
    und = undirected_edges(edges)
    v = undirected_degrees(und).select("id")
    n = v.count()
    if n == 0:
        # see hits(): the 1/n seed would constant-fold to 1/0 under ANSI
        return v.select("id", F.lit(0.0).alias("score"))
    # every iteration reads the symmetrized table: persist it once
    runner = SuperstepRunner(spark, run_id="eigen")
    try:
        sym = runner.keyed_edges("sym", symmetric_edges(und), "dst", "src", n)
        raw = v.select("id", (F.lit(1.0) / F.lit(float(n))).alias("raw"))
        total = None
        for _ in range(iters):
            raw, total = _push(sym, raw, total, "src", "dst")
    finally:
        runner.release_all()
    return _normalized(v, raw, total, "score")


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    verts: DataFrame,
    iters: int = 10,
) -> DataFrame:
    """SALSA (Lempel & Moran 2000): HITS with COLUMN-normalized pushes —
    each push divides a vertex's score by its degree before sending, so
    the walk is the stochastic hub<->authority random walk rather than
    the raw adjacency power iteration. (id, auth, hub) after `iters`
    L1-normalized sync iterations over the vertex universe `verts(id)`.

    Same carried-normalizer half-step shape as hits(): the degree
    weights are folded into the edge table ONCE (w_out = 1/outdeg(src),
    w_in = 1/indeg(dst) — the pagerank edge-fold trick), then each
    half-step is one hash join + one agg of (raw/t)*w, one driver
    action. Duplicate edges keep multiplicity in both the degree and the
    push, mirroring hits().
    """
    if iters < 1:
        raise ValueError(f"salsa: iters must be >= 1, got {iters}")
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    v = verts.select(F.col("id").cast("long").alias("id"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("ind"))
    ew = (
        e.join(outdeg, "src")
        .join(indeg, "dst")
        .select(
            "src",
            "dst",
            (F.lit(1.0) / F.col("od")).alias("w_out"),
            (F.lit(1.0) / F.col("ind")).alias("w_in"),
        )
    )
    n = v.count()
    if n == 0:
        # see hits(): the 1/n seed would constant-fold to 1/0 under ANSI
        return v.select("id", F.lit(0.0).alias("auth"), F.lit(0.0).alias("hub"))
    return _hub_authority(spark, "salsa", ew, v, n, iters, "w_out", "w_in")
