"""Graph input helpers.

`canonical_edges` and `vertex_universe` turn an operator's raw edge input
into the simple directed graph and vertex set every operator runs on.
`undirected_edges`, `symmetric_edges` and `undirected_degrees` give the
undirected simple view the triangle, truss, core, link-prediction,
label-propagation and eigencentrality operators run on.

`derived_edges` builds a deterministic directed graph from the driver's
TPC-H-ish testdata so graph operators can be correctness-checked against
a DuckDB oracle on the exact same input: the rule is plain modular
arithmetic, expressible verbatim in ANSI SQL (see
__spark_entry__.oracle_sql — `DERIVED_EDGES_SQL`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DERIVED_V = 997  # prime vertex-space size for the testdata-derived graph


def canonical_edges(edges: DataFrame) -> DataFrame:
    """edges(src, dst) as longs, deduplicated, without self loops: the
    simple directed graph the operators compute on. SCC membership is
    invariant under both (the reference keeps duplicate edges,
    /root/reference/src/load.cpp; results agree — see tests on the
    dup-edge fixture)."""
    return (
        edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def vertex_universe(E: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """(id: long) = every endpoint of `E`, widened by the optional
    `vertices(id)` frame (isolated vertices)."""
    verts = (
        E.select(F.col("src").cast("long").alias("id"))
        .union(E.select(F.col("dst").cast("long").alias("id")))
        .distinct()
    )
    if vertices is not None:
        verts = verts.union(vertices.select(F.col("id").cast("long"))).distinct()
    return verts


def undirected_edges(edges: DataFrame) -> DataFrame:
    """(a: long, b: long), a < b: the undirected simple view of
    edges(src, dst) — each endpoint pair once, without self loops.

    The self-loop filter sits on a and b, not on src and dst: then a and
    b are provably non-null, the joins on them add no null filters, and
    every read of this frame in one plan can share one exchange."""
    e = edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
    return (
        e.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def symmetric_edges(und: DataFrame) -> DataFrame:
    """(src, dst): both orientations of the undirected view `und`, with no
    dedup: `und` is distinct with a < b, so the two never overlap.

    Each row yields both orientations from ONE read of `und`. A unionAll of
    two reads plans `und`'s dedup twice once its input is a cached frame
    (AQE reuses neither the cache stage nor the exchange above it): one
    job and one shuffle more per call."""
    return und.select(
        F.inline(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        )
    )


def undirected_degrees(und: DataFrame) -> DataFrame:
    """(id, deg): distinct neighbors per vertex of the undirected view
    `und`. `.select("id")` is its vertex set: column pruning plans it as
    the same aggregate a union-distinct of the endpoints would."""
    return (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def derived_edges(spark: SparkSession, sf_dir: str, v: int = DERIVED_V) -> DataFrame:
    """edges(src, dst) = distinct (l_orderkey % v, l_partkey % v), no
    self-loops. Matches DERIVED_EDGES_SQL in __spark_entry__ verbatim."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            (F.col("l_orderkey") % v).cast("long").alias("src"),
            (F.col("l_partkey") % v).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def derived_vertices(spark: SparkSession, sf_dir: str, v: int = DERIVED_V) -> DataFrame:
    return vertex_universe(derived_edges(spark, sf_dir, v))
