"""Triangle counting — north_rule companion algorithm (SURVEY.md §2.11).

Degree-ordered wedge join over the undirected view (graph.py): `oriented`
points each edge from the lower-(degree, id) endpoint to the higher one
(standard skew mitigation — every triangle is counted exactly once and
hub vertices never fan out as wedge centers beyond their forward degree),
then `closed_wedges` runs one self-join to form wedges plus one join to
close them. This is the one triangle-listing kernel: the truss support
(operators/truss.py) runs on it too.

Per-vertex counts credit all three corners (`corner_credits`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import undirected_degrees, undirected_edges, vertex_universe


def oriented(und: DataFrame, deg: DataFrame) -> DataFrame:
    """(lo, hi): each edge of the undirected view `und` pointed from its
    lower-(degree, id) endpoint to the higher one; `deg` is
    `undirected_degrees(und)`."""
    return (
        und.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e")
        )
        .select(F.col("e.lo").alias("lo"), F.col("e.hi").alias("hi"))
    )


def closed_wedges(o: DataFrame) -> DataFrame:
    """(u, v, w) triangles of the oriented frame `o`: one wedge self-join
    plus the closing join, each triangle exactly once."""
    e1 = o.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    e2 = o.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    wedges = e1.join(e2, "v").select("u", "v", "w")
    closing = o.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    return wedges.join(closing, ["u", "w"]).select("u", "v", "w")


def corner_credits(tris: DataFrame) -> DataFrame:
    """(id, triangles): how many of the (u, v, w) triangles each corner
    vertex lies in; vertices in none are absent."""
    return (
        tris.select(F.col("u").alias("id"))
        .unionAll(tris.select(F.col("v").alias("id")))
        .unionAll(tris.select(F.col("w").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )


def triangle_triples(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """All triangles as (x, y, z) vertex triples, each exactly once."""
    und = undirected_edges(edges)
    return closed_wedges(oriented(und, undirected_degrees(und)).persist())


def triangle_count(spark: SparkSession, edges: DataFrame) -> int:
    # the count is eager, so the persisted oriented frame is released here
    und = undirected_edges(edges)
    o = oriented(und, undirected_degrees(und)).persist()
    try:
        return closed_wedges(o).count()
    finally:
        o.unpersist()


def triangle_count_per_vertex(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """(id: long, triangles: long) — vertices in no triangle get 0 only if
    they appear in the edge set (join back against vertex universe)."""
    credits = corner_credits(triangle_triples(spark, edges))
    return vertex_universe(edges).join(credits, "id", "left").select(
        "id", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
    )


def clustering_coefficient(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """(id, deg, cc) — local clustering coefficient over the undirected
    simple graph: cc = 2*t / (deg*(deg-1)), 0 when deg < 2. Universe =
    vertices with >= 1 non-loop undirected edge (degree is undefined for
    self-loop-only vertices).

    Reuses the degree-oriented triangle machinery, so the expensive part
    (the wedge join) keeps its skew mitigation; the coefficient itself is
    one join + codegen arithmetic on exact integers (rounded to 6
    decimals for engine-portable comparison). The degrees that orient
    the edges are the ones the coefficient divides by.
    """
    und = undirected_edges(edges)
    deg = undirected_degrees(und)
    credits = corner_credits(closed_wedges(oriented(und, deg).persist()))
    return (
        deg.join(credits, "id", "left")
        .select("id", "deg", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"))
        .select(
            "id",
            "deg",
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("cc"),
        )
    )


def degree_assortativity(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Single-row (assortativity) — Pearson degree assortativity of the
    undirected simple graph (Newman 2002): corr of (deg(a), deg(b)) over
    symmetrized edge endpoint pairs.

    Numerics: with symmetrized pairs the x/y marginals coincide, so
    r = (n*Sxy - Sx^2) / (n*Sxx - Sx^2) — every term an EXACT integer
    sum (decimal(38,0): no float accumulation order to disagree with
    another engine), one double division + round(6) at the end. NaN if
    the graph is degree-regular (den is cast to double before the
    division, so zero variance yields 0.0/0.0 = NaN in both engines —
    not NULL). One shuffle for the degree agg, one for the edge-degree
    join, one scalar agg.

    The symmetrized union is folded into the aggregation instead of
    materializing both orientations (it duplicated the whole und⋈deg⋈deg
    subtree — 10 parquet scans / 12 exchanges in the physical plan): per
    canonical pair, n gains 2, Sx gains dx+dy, Sxy gains 2·dx·dy, and
    Sxx gains dx²+dy². Every product is the same LONG multiply cast to
    the same decimal(38,0) as before, and decimal sums are exact, so all
    four terms — and therefore the final double division — are
    bit-identical to the explicit-union form.
    """
    und = undirected_edges(edges)
    deg = undirected_degrees(und)
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("dx"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("dy"))
    pairs = und.join(da, "a").join(db, "b")
    d38 = "decimal(38,0)"
    agg = pairs.agg(
        (F.count("*") * 2).cast(d38).alias("n"),
        F.sum(F.col("dx").cast(d38) + F.col("dy").cast(d38)).alias("sx"),
        (F.sum((F.col("dx") * F.col("dy")).cast(d38)) * 2).cast(d38).alias("sxy"),
        F.sum(
            (F.col("dx") * F.col("dx")).cast(d38)
            + (F.col("dy") * F.col("dy")).cast(d38)
        ).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return agg.select(F.round(num / den, 6).alias("assortativity"))
