"""Triangle counting — north_rule companion algorithm (SURVEY.md §2.11).

Degree-ordered wedge join: canonicalize to undirected simple edges,
orient each edge from the lower-(degree, id) endpoint to the higher one
(standard skew mitigation — every triangle is counted exactly once and
hub vertices never fan out as wedge centers beyond their forward degree),
then one self-join to form wedges plus one semi-ish join to close them.

Per-vertex counts credit all three corners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _oriented(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Return (undirected canonical edges (a<b), degree-oriented edges)."""
    und = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).cast("long").alias("a"),
            F.greatest(F.col("src"), F.col("dst")).cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("db"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
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
    return und, oriented


def _closed_wedges(o: DataFrame) -> DataFrame:
    """(u, v, w) triangles of the oriented frame `o`: one wedge self-join
    plus the closing join, each triangle exactly once."""
    e1 = o.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    e2 = o.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    wedges = e1.join(e2, "v").select("u", "v", "w")
    closing = o.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    return wedges.join(closing, ["u", "w"]).select("u", "v", "w")


def triangle_triples(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """All triangles as (x, y, z) vertex triples, each exactly once."""
    _, o = _oriented(edges)
    return _closed_wedges(o.persist())


def triangle_count(spark: SparkSession, edges: DataFrame) -> int:
    # the count is eager, so the persisted oriented frame is released here
    _, o = _oriented(edges)
    o = o.persist()
    try:
        return _closed_wedges(o).count()
    finally:
        o.unpersist()


def triangle_count_per_vertex(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """(id: long, triangles: long) — vertices in no triangle get 0 only if
    they appear in the edge set (join back against vertex universe)."""
    tris = triangle_triples(spark, edges)
    credits = (
        tris.select(F.col("u").alias("id"))
        .unionAll(tris.select(F.col("v").alias("id")))
        .unionAll(tris.select(F.col("w").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    verts = (
        edges.select(F.col("src").cast("long").alias("id"))
        .union(edges.select(F.col("dst").cast("long").alias("id")))
        .distinct()
    )
    return verts.join(credits, "id", "left").select(
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
    decimals for engine-portable comparison).
    """
    und, o = _oriented(edges)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    # triangle credits built directly on THIS derivation's oriented frame
    # instead of calling triangle_count_per_vertex (which re-derived und,
    # the degrees and a separate vertex universe from scratch). The old
    # tpv-inner-join universe was exactly deg's id set, and tpv's
    # coalesce-0 is reproduced on the left join below, so rows and
    # values are identical.
    tris = _closed_wedges(o.persist())
    credits = (
        tris.select(F.col("u").alias("id"))
        .unionAll(tris.select(F.col("v").alias("id")))
        .unionAll(tris.select(F.col("w").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
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
    und, _ = _oriented(edges)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
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
