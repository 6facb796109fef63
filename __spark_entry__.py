"""Driver contract for the spark-graft builder (PySpark target).

queries() cover SURVEY.md §2 (graph operators over a testdata-derived
edge table) plus the training-data pipeline operators (dedup, similarity,
text analysis). EVERY query has a DuckDB oracle whose arithmetic mirrors
the Spark expressions verbatim: fixed-depth iterative algorithms
(pagerank 20 iters, LPA 4 rounds) are unrolled as generated CTE chains;
simhash/ANN use sha256-derived hash/weight families available in both
engines; the corpus SCC round-trips its extracted edge table through
parquet so the recursive-CTE SCC oracle can read it.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

V = 997  # derived-graph vertex space (detectingscc_spark.graph.DERIVED_V)

DERIVED_EDGES_SQL = (
    f"SELECT DISTINCT l_orderkey % {V} AS src, l_partkey % {V} AS dst "
    f"FROM lineitem WHERE l_orderkey % {V} <> l_partkey % {V}"
)


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from detectingscc_spark.graph import derived_edges

    return derived_edges(spark, sf_dir)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: SCC decomposition of the sf0.001 derived link graph."""
    from detectingscc_spark.operators.scc import strongly_connected_components

    edges = _edges(spark, "/root/testdata/sf0.001")
    return strongly_connected_components(spark, edges)


# --------------------------------------------------------------------
# queries
# --------------------------------------------------------------------

def q_scc(spark, sf_dir):
    from detectingscc_spark.operators.scc import strongly_connected_components

    return strongly_connected_components(spark, _edges(spark, sf_dir))


def q_scc_partitioned(spark, sf_dir):
    """detectSCC analog: FB rounds whose SCC-closed ranges finish in one
    executor-side Tarjan job (same output contract as q_scc -> same SQL
    oracle)."""
    from detectingscc_spark.operators.partitioned import scc_partitioned

    return scc_partitioned(spark, _edges(spark, sf_dir))


def q_scc_coloring(spark, sf_dir):
    """vSlota/wSlota analog: max-color propagation + class-confined BFS
    (same output contract as q_scc -> same SQL oracle)."""
    from detectingscc_spark.operators.coloring import scc_coloring

    return scc_coloring(spark, _edges(spark, sf_dir))


def q_scc_sizes(spark, sf_dir):
    scc = q_scc(spark, sf_dir)
    return (
        scc.groupBy("scc_id").agg(F.count("*").alias("members"))
        .groupBy("members").agg(F.count("*").alias("n_sccs"))
    )


def _sparse_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically sparsified derived graph ((src*31+dst)%13==0 —
    ~1/13 of the edges): the full derived graph is one giant SCC at the
    driver's scale factors, so DAG-structure queries use this subgraph,
    which decomposes into dozens of SCCs with real cross edges."""
    e = _edges(spark, sf_dir)
    return e.where((F.col("src") * 31 + F.col("dst")) % 13 == 0)


def q_scc_dag(spark, sf_dir):
    """Condensation DAG: distinct (scc_id(src) -> scc_id(dst)) edges
    between different components — the contracted graph the partitioned
    engine's merge phase operates on (operators/partitioned.py), exposed
    as a first-class query over the sparsified derived graph."""
    from detectingscc_spark.operators.scc import strongly_connected_components

    e = _sparse_edges(spark, sf_dir)
    scc = strongly_connected_components(spark, e)
    s = scc.withColumnRenamed("id", "src").withColumnRenamed("scc_id", "from_scc")
    t = scc.withColumnRenamed("id", "dst").withColumnRenamed("scc_id", "to_scc")
    return (
        e.join(s, "src").join(t, "dst")
        .where(F.col("from_scc") != F.col("to_scc"))
        .select("from_scc", "to_scc")
        .distinct()
    )


def q_dag_reach(spark, sf_dir):
    """Descendant counts over the condensation DAG of the sparsified
    derived graph (path-doubling transitive closure; universe = every
    component, sinks get 0)."""
    from detectingscc_spark.operators.condensation import dag_reachability
    from detectingscc_spark.operators.scc import strongly_connected_components

    e = _sparse_edges(spark, sf_dir)
    scc = strongly_connected_components(spark, e)
    s = scc.withColumnRenamed("id", "src").withColumnRenamed("scc_id", "from_scc")
    t = scc.withColumnRenamed("id", "dst").withColumnRenamed("scc_id", "to_scc")
    dag = (
        e.join(s, "src").join(t, "dst")
        .where(F.col("from_scc") != F.col("to_scc"))
        .select(F.col("from_scc").alias("src"), F.col("to_scc").alias("dst"))
        .distinct()
    )
    comps = scc.select(F.col("scc_id")).distinct()
    return dag_reachability(spark, dag, comps=comps)


def q_degree_hist(spark, sf_dir):
    """Log2-binned degree distribution of the undirected simple view —
    the power-law summary every web-graph report leads with. The bucket
    is the BIT LENGTH of the degree (length of its binary string):
    exact integer arithmetic on both engines, no floating log2 whose
    boundary values could round differently."""
    from detectingscc_spark.graph import undirected_degrees, undirected_edges

    return (
        undirected_degrees(undirected_edges(_edges(spark, sf_dir)))
        .groupBy(
            F.length(F.conv(F.col("deg").cast("string"), 10, 2)).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
        )
        .orderBy("bucket")
    )


def q_harmonic(spark, sf_dir):
    """Landmark harmonic centrality: one keyed frontier advances every
    landmark's BFS wave simultaneously (landmarks = id % 100 == 0, the
    bfs_dist source predicate; walk depth capped at 32 in both
    engines)."""
    from detectingscc_spark.operators.centrality import harmonic_centrality

    e = _edges(spark, sf_dir)
    lm = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .where(F.col("id") % 100 == 0)
    )
    return harmonic_centrality(spark, e, lm, max_hops=32)


def q_dist_quantiles(spark, sf_dir):
    """Distance-distribution summary over the landmark BFS waves (the
    effective-diameter report metric): exact discrete quantiles of the
    positive (landmark, vertex) hop distances — value at index
    floor(q*(n-1)) of the sorted multiset — computed from the <=32-row
    per-distance histogram, never a global sort."""
    from pyspark.sql import Window
    from detectingscc_spark.operators.centrality import landmark_distances

    e = _edges(spark, sf_dir)
    lm = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .where(F.col("id") % 100 == 0)
    )
    d = landmark_distances(spark, e, lm, max_hops=32).where(F.col("dist") > 0)
    hist = d.groupBy("dist").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.withColumn("cum", F.sum("c").over(Window.orderBy("dist")))
    tot = d.agg(F.count(F.lit(1)).alias("n"))

    def pick(p):
        t = F.floor(F.lit(p) * (F.col("n") - 1)) + 1
        return F.min(F.when(F.col("cum") >= t, F.col("dist")))

    return cum.crossJoin(F.broadcast(tot)).agg(
        F.first("n").alias("n_pairs"),
        pick(0.5).alias("p50"),
        pick(0.9).alias("p90"),
        pick(0.99).alias("p99"),
        F.max("dist").alias("dmax"),
    )


def q_dag_layers(spark, sf_dir):
    """Longest-path layering of the condensation DAG (the level schedule
    of the contracted graph; roots and isolated components at layer 0)."""
    from detectingscc_spark.operators.condensation import dag_layers
    from detectingscc_spark.operators.scc import strongly_connected_components

    e = _sparse_edges(spark, sf_dir)
    scc = strongly_connected_components(spark, e)
    s = scc.withColumnRenamed("id", "src").withColumnRenamed("scc_id", "from_scc")
    t = scc.withColumnRenamed("id", "dst").withColumnRenamed("scc_id", "to_scc")
    dag = (
        e.join(s, "src").join(t, "dst")
        .where(F.col("from_scc") != F.col("to_scc"))
        .select(F.col("from_scc").alias("src"), F.col("to_scc").alias("dst"))
        .distinct()
    )
    comps = scc.select(F.col("scc_id").alias("id")).distinct()
    res = dag_layers(spark, dag, comps=comps)
    return res.select(F.col("id").alias("scc_id"), "layer")


def q_bipartiteness(spark, sf_dir):
    """BFS-forest parity bipartiteness report over the sparsified derived
    graph (the dense full graph is trivially non-bipartite; the sparse
    cut leaves a mix of odd and even structures worth reporting)."""
    from detectingscc_spark.operators.components import bipartiteness

    return bipartiteness(spark, _sparse_edges(spark, sf_dir), max_hops=64)


def q_wcc(spark, sf_dir):
    from detectingscc_spark.operators.components import connected_components

    return connected_components(spark, _edges(spark, sf_dir))


def q_degrees(spark, sf_dir):
    e = _edges(spark, sf_dir)
    out_d = e.groupBy("src").agg(F.count("*").alias("out_deg")).withColumnRenamed("src", "id")
    in_d = e.groupBy("dst").agg(F.count("*").alias("in_deg")).withColumnRenamed("dst", "id")
    return (
        out_d.join(in_d, "id", "full")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def q_trim1_round1(spark, sf_dir):
    """Vertices trimmed by the FIRST trim1 sweep: zero in-deg or out-deg
    (reference trim1 semantics, one iteration, whole graph one range)."""
    e = _edges(spark, sf_dir)
    has_out = e.select(F.col("src").alias("id")).distinct()
    has_in = e.select(F.col("dst").alias("id")).distinct()
    verts = has_out.union(has_in).distinct()
    return verts.join(has_out.intersect(has_in), "id", "left_anti").select("id")


def q_triangle_total(spark, sf_dir):
    from detectingscc_spark.operators.triangles import triangle_count

    n = triangle_count(spark, _edges(spark, sf_dir))
    return spark.createDataFrame([(n,)], "triangles long")


def q_triangle_per_vertex(spark, sf_dir):
    from detectingscc_spark.operators.triangles import triangle_count_per_vertex

    return triangle_count_per_vertex(spark, _edges(spark, sf_dir))


def q_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient per vertex (undirected simple graph;
    degree-oriented triangle machinery + one join of exact-int
    arithmetic)."""
    from detectingscc_spark.operators.triangles import clustering_coefficient

    return clustering_coefficient(spark, _edges(spark, sf_dir))


def q_assortativity(spark, sf_dir):
    """Pearson degree assortativity (Newman 2002) — exact integer sums,
    one final double division."""
    from detectingscc_spark.operators.triangles import degree_assortativity

    return degree_assortativity(spark, _edges(spark, sf_dir))


def q_edge_support(spark, sf_dir):
    """Per-edge triangle support over the undirected simple view —
    exact integers (the k-truss building block)."""
    from detectingscc_spark.operators.truss import edge_support

    return edge_support(spark, _edges(spark, sf_dir))


def q_ktruss4(spark, sf_dir):
    """4-truss surviving edges after a fixed 6-round peel (the depth the
    DuckDB oracle unrolls; the fixpoint is unique, and a separate test
    pins fixed-rounds == fixpoint on a cascading fixture)."""
    from detectingscc_spark.operators.truss import ktruss

    return ktruss(spark, _edges(spark, sf_dir), k=4, rounds=6)


def q_link_prediction(spark, sf_dir):
    """Top-20 predicted links by common-neighbor count (Jaccard +
    Adamic-Adar ride along, rounded 6dp); all-integer deterministic
    ranking so the cut is engine-portable."""
    from detectingscc_spark.operators.linkpred import link_prediction

    return link_prediction(spark, _edges(spark, sf_dir), top_k=20)


def q_eigencentrality(spark, sf_dir):
    """Eigenvector centrality, 10 L1-normalized power iterations over
    the undirected simple view (unrolled-CTE oracle, HITS pattern)."""
    from detectingscc_spark.operators.hits import eigencentrality

    res = eigencentrality(spark, _edges(spark, sf_dir), iters=10)
    return res.select("id", F.round("score", 8).alias("score8"))


def q_hits(spark, sf_dir):
    """HITS hubs/authorities, 10 L1-normalized sync iterations (unrolled
    CTE oracle mirroring the arithmetic op-for-op; round(8) absorbs
    double-sum reordering — the proven pagerank-oracle pattern)."""
    from detectingscc_spark.operators.hits import hits

    e = _edges(spark, sf_dir)
    v = e.select(F.col("src").alias("id")).union(
        e.select(F.col("dst").alias("id"))
    ).distinct()
    res = hits(spark, e, v, iters=10)
    return res.select(
        "id",
        F.round("auth", 8).alias("auth8"),
        F.round("hub", 8).alias("hub8"),
    )


def q_salsa(spark, sf_dir):
    """SALSA hubs/authorities, 10 L1-normalized iterations of the
    column-normalized (stochastic) hub<->authority walk."""
    from detectingscc_spark.operators.hits import salsa

    e = _edges(spark, sf_dir)
    v = e.select(F.col("src").alias("id")).union(
        e.select(F.col("dst").alias("id"))
    ).distinct()
    res = salsa(spark, e, v, iters=10)
    return res.select(
        "id",
        F.round("auth", 8).alias("auth8"),
        F.round("hub", 8).alias("hub8"),
    )


def q_pagerank(spark, sf_dir):
    from detectingscc_spark.operators.pagerank import pagerank

    pr = pagerank(spark, _edges(spark, sf_dir), fixed_iters=20)
    return pr.select("id", F.round("rank", 8).alias("rank8"))


def q_lpa(spark, sf_dir):
    from detectingscc_spark.operators.lpa import label_propagation

    return label_propagation(spark, _edges(spark, sf_dir), rounds=4)


def q_modularity(spark, sf_dir):
    """Newman modularity of the LPA(4) community assignment over the
    undirected simple view: Q = sum_c [in_c/m - (deg_c/2m)^2] — the
    community-quality score a link-graph report pairs with LPA. Exact
    integer counts, one final double fold (rounded 6dp; community-sum
    reordering absorbed)."""
    from detectingscc_spark.graph import undirected_degrees, undirected_edges
    from detectingscc_spark.operators.lpa import label_propagation

    e = _edges(spark, sf_dir)
    labels = label_propagation(spark, e, rounds=4)
    und = undirected_edges(e)
    la = labels.select(F.col("id").alias("a"), F.col("label").alias("lab_a"))
    lb = labels.select(F.col("id").alias("b"), F.col("label").alias("lab_b"))
    intra = (
        und.join(la, "a").join(lb, "b")
        .where(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("c"))
        .agg(F.count(F.lit(1)).alias("inc"))
    )
    dc = (
        undirected_degrees(und).join(labels, "id")
        .groupBy(F.col("label").alias("c"))
        .agg(F.sum("deg").alias("dc"))
    )
    m = und.agg(
        F.count(F.lit(1)).alias("m_edges"),
    )
    ncomm = labels.agg(F.count_distinct("label").alias("n_comms"))
    per_c = dc.join(intra, "c", "left").select(
        "c", F.coalesce(F.col("inc"), F.lit(0)).alias("inc"), "dc"
    )
    return (
        per_c.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(ncomm))
        .agg(
            F.first("m_edges").alias("m_edges"),
            F.first("n_comms").alias("n_comms"),
            F.round(
                F.sum(
                    F.col("inc") / F.col("m_edges")
                    - (F.col("dc") / (2.0 * F.col("m_edges")))
                    * (F.col("dc") / (2.0 * F.col("m_edges")))
                ),
                6,
            ).alias("modularity6"),
        )
    )


PPR_MOD = 50  # personalization source set: ids divisible by 50


def q_ppr(spark, sf_dir):
    """Personalized PageRank (random walk with restart) to the vertices
    with id % 50 == 0 — 10 fixed iterations, rank rounded to 8dp."""
    from detectingscc_spark.graph import derived_vertices
    from detectingscc_spark.operators.pagerank import personalized_pagerank

    sources = derived_vertices(spark, sf_dir).where(F.col("id") % PPR_MOD == 0)
    ppr = personalized_pagerank(spark, _edges(spark, sf_dir), sources, fixed_iters=10)
    return ppr.select("id", F.round("rank", 8).alias("rank8"))


def q_kcore(spark, sf_dir):
    """3-core of the undirected link graph, 8 peeling rounds (fixed depth
    for the unrolled-CTE oracle; the pytest asserts 8 reaches fixpoint)."""
    from detectingscc_spark.operators.kcore import kcore

    return kcore(spark, _edges(spark, sf_dir), k=3, rounds=8)


def q_bfs_dist(spark, sf_dir):
    """Multi-source directed BFS hop distances from the vertices with
    id % 100 == 0 (capped at 64 hops; unreachable vertices absent)."""
    from detectingscc_spark.graph import derived_vertices
    from detectingscc_spark.operators.bfs import bfs_distances

    sources = derived_vertices(spark, sf_dir).where(F.col("id") % 100 == 0)
    return bfs_distances(spark, _edges(spark, sf_dir), sources, max_hops=64)


def q_reciprocity(spark, sf_dir):
    """Edge reciprocity of the directed link graph: share of edges whose
    reverse edge also exists (standard web-graph shape metric).

    ONE job / ONE edge-table scan pair: the reverse-edge existence test is
    a marker left join (edges are distinct, so the join cannot multiply
    rows) and both counters come out of a single aggregation — the round-3
    form burned two driver actions (semi-join .count() + .count())."""
    e = _edges(spark, sf_dir)
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(1).alias("has_rev")
    )
    return (
        e.join(rev, ["src", "dst"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.coalesce(F.sum("has_rev"), F.lit(0)).cast("long").alias("n_recip"),
        )
        .select(
            "n_edges",
            "n_recip",
            F.round(F.col("n_recip") / F.col("n_edges"), 8).alias("reciprocity"),
        )
    )


def q_token_counts(spark, sf_dir):
    from detectingscc_spark.functions.text import token_counts

    return token_counts(_docs(spark, sf_dir))


_MEDIA_ART = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".artifacts", "media"
)


def q_media_features(spark, sf_dir):
    """Multimodal pipeline end-to-end: synthetic binary media -> Arrow
    mapInPandas feature extraction (the deterministic fake decoder, dim=16
    = first 16 bytes of sha256(payload) / 256). The media table
    round-trips through parquet (payload as its ASCII form) so the DuckDB
    oracle recomputes the same features from the same bytes — full value
    gate for the multimodal plumbing, not just a pytest shape check.

    Output is exploded to scalar rows (media_id, kind, dim_idx, value) —
    one row per feature dimension — because the driver's pandas
    canonicalizer cannot sort/hash array<double> cells."""
    from detectingscc_spark.functions.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, 256)
    media.select(
        "media_id", "kind", F.col("payload").cast("string").alias("payload")
    ).write.mode("overwrite").parquet(_MEDIA_ART)
    feats = extract_features(media, dim=16)
    return feats.select(
        "media_id", "kind", F.posexplode("feature").alias("dim_idx", "value")
    ).withColumn("dim_idx", F.col("dim_idx").cast("long"))


_CORPUS_ART = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".artifacts", "corpus_scc"
)


def q_corpus_scc(spark, sf_dir):
    """Ingest path end-to-end: synthetic corpus -> pandas-UDF edge
    extraction -> SCC. The extracted vertex/edge tables are written to
    parquet so the DuckDB recursive-CTE SCC oracle checks the SAME graph
    this query decomposes (full-value gate, not rows-only)."""
    from detectingscc_spark.corpus import generate_corpus
    from detectingscc_spark.ingest import ingest
    from detectingscc_spark.operators.scc import strongly_connected_components

    corpus = generate_corpus(spark, 2000)
    verts, edges, _ = ingest(spark, corpus, use_pandas=True)
    verts = verts.select("id")
    edges = edges.select("src", "dst")
    edges.write.mode("overwrite").parquet(f"{_CORPUS_ART}/edges")
    verts.write.mode("overwrite").parquet(f"{_CORPUS_ART}/verts")
    return strongly_connected_components(spark, edges, verts)


# ---- TPC-H-ish relational layer -------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_orders(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q_nation_volume(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("volume"), F.count("*").alias("n_orders"))
    )


# ---- training-data pipeline ops --------------------------------------

def q_exact_dedup(spark, sf_dir):
    from detectingscc_spark.functions.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_text_stats(spark, sf_dir):
    from detectingscc_spark.functions.text import text_stats

    return text_stats(_docs(spark, sf_dir))


def q_lang_guess(spark, sf_dir):
    from detectingscc_spark.functions.text import lang_guess

    return lang_guess(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    from detectingscc_spark.functions.text import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_minhash_pairs(spark, sf_dir):
    from detectingscc_spark.functions.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir))


def q_near_dup_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard on the MinHash-LSH candidate pairs (the
    standard two-stage near-dup pipeline)."""
    from detectingscc_spark.functions.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    cands = minhash_lsh_pairs(docs)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr("array_distinct(transform(sequence(1, greatest(1, length(text)-2)), i -> substring(text, i, 3)))")
        ).alias("g"),
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), "g")
    gb = grams.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        cands.join(ga, "doc_a").join(gb, ["doc_b", "g"]).groupBy("doc_a", "doc_b").agg(F.count("*").alias("i"))
    )
    return (
        cands.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sza"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "szb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce(F.col("i"), F.lit(0)) / (F.col("sza") + F.col("szb") - F.coalesce(F.col("i"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def q_simhash(spark, sf_dir):
    from detectingscc_spark.functions.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def q_quality_filter(spark, sf_dir):
    """Training-corpus quality gate composed from text_stats: the
    keep/drop decision a curation pipeline persists per document."""
    from detectingscc_spark.functions.text import text_stats

    st = text_stats(_docs(spark, sf_dir))
    keep = (
        (F.col("quality") >= 0.5)
        & (F.col("n_tokens") >= 10)
        & (F.col("avg_token_len") >= 2.0)
        & (F.col("avg_token_len") <= 20.0)
    )
    return st.select("doc_id", keep.alias("keep"))


def q_lang_histogram(spark, sf_dir):
    """Corpus composition by guessed language — one hash agg."""
    from detectingscc_spark.functions.text import lang_guess

    return lang_guess(_docs(spark, sf_dir)).groupBy("lang_guess").agg(
        F.count("*").alias("n")
    )


def q_ngram_topk(spark, sf_dir):
    """Top-20 word trigrams across the corpus (deterministic tie-break:
    count desc, gram asc) — the n-gram frequency pass of a contamination
    / boilerplate scan. Explode + hash agg + top-k: at 100 TB the agg is
    map-side partial and the final top-k is a single reduced
    TakeOrderedAndProject (`orderBy().limit(20)`), no global sort — the
    round-3 row_number()-over-unpartitioned-window form forced every
    distinct trigram into ONE task; rank is derived from the collected
    20-row result (bounded constant, not a scale surface)."""
    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) >= 3,
        F.expr(
            "transform(sequence(1, size(split(text, ' ')) - 2),"
            " i -> concat(element_at(split(text, ' '), i), ' ',"
            " element_at(split(text, ' '), i + 1), ' ',"
            " element_at(split(text, ' '), i + 2)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    counted = (
        _docs(spark, sf_dir)
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql.window import Window

    # stay LAZY (nothing executes at build time): orderBy().limit(20) is a
    # TakeOrderedAndProject, and the rank window's input is that bounded
    # 20-row frame, so the unpartitioned window is a constant, not a scale
    # surface
    top = counted.orderBy(F.col("n").desc(), F.col("gram").asc()).limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("gram").asc())
    return top.select("gram", "n", F.row_number().over(w).alias("rank"))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filter signals (dup-word fraction, top
    bigram mass) per document — the standard pre-training repetition
    gate. Codegen word stats + one bounded explode/agg keyed by doc_id."""
    from detectingscc_spark.functions.text import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_stratified_sample(spark, sf_dir):
    """Deterministic sha-nibble sampling audited per language stratum:
    the reproducible (seed-free, partitioning-free) subsampling step of a
    corpus curation run, with the realised per-stratum rates a pipeline
    persists next to the sample."""
    from detectingscc_spark.functions.sampling import stratified_sample_stats

    return stratified_sample_stats(_docs(spark, sf_dir), "lang", rate_16ths=2)


BM25_TERMS = ("query", "join", "hash")


def q_bm25_topk(spark, sf_dir):
    """Top-15 BM25 hits for a fixed term bag — the lexical-retrieval
    primitive of an eval-set decontamination scan. Corpus stats and the
    |terms|-row df frame are broadcast; the only data-sized shuffle is
    the map-side-partial (doc_id, term) tf agg; top-k is a
    TakeOrderedAndProject."""
    from detectingscc_spark.functions.retrieval import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), BM25_TERMS, k=15)


def q_decontaminate(spark, sf_dir):
    """Eval-set decontamination scan: which training docs share a word
    trigram with the (deterministic doc_id % 97) eval slice. Eval side
    broadcast; corpus side one shingle explode + distinct. (Real runs
    use 8-13-grams; the synthetic fixture's short shuffled-vocab docs
    need n=3 for a discriminative result set — 171 hits at sf0.01.)"""
    from detectingscc_spark.functions.retrieval import ngram_contamination

    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return ngram_contamination(train, ev, n=3)


def q_dedup_sweep(spark, sf_dir):
    """End-to-end dedup keep-list: exact sha256 dedup THEN MinHash-LSH
    near-dup removal (the drop-doc_b rule — every candidate pair's higher
    id is dropped, deterministic without union-find). Emits the decision
    a curation pipeline writes back: (doc_id, keep, reason)."""
    from detectingscc_spark.functions.dedup import exact_dedup, minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    ex = exact_dedup(docs).select("doc_id", F.col("keep").alias("exact_keep"))
    near_b = minhash_lsh_pairs(docs).select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        ex.join(near_b.withColumn("near_dup", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            (F.col("exact_keep") & F.coalesce(~F.col("near_dup"), F.lit(True))).alias("keep"),
            F.when(~F.col("exact_keep"), F.lit("exact_dup"))
            .when(F.coalesce(F.col("near_dup"), F.lit(False)), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("reason"),
        )
    )


def q_dedup_clusters(spark, sf_dir):
    """Fuzzy-dedup cluster assignment: exact + MinHash-LSH pairs closed
    transitively by connected components — the one-representative-per-
    duplicate-cluster shape dedup_sweep's pairwise rule can't express
    (a~b, b~c put a and c in one cluster even when (a,c) never shared a
    band). cluster_id = min doc_id; singletons cluster to themselves."""
    from detectingscc_spark.functions.dedup import dedup_clusters

    return dedup_clusters(spark, _docs(spark, sf_dir))


def q_embedding_topk(spark, sf_dir):
    from detectingscc_spark.functions.similarity import brute_force_topk

    return brute_force_topk(_emb(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=5)


def q_embedding_dups(spark, sf_dir):
    from detectingscc_spark.functions.dedup import embedding_dup_pairs

    return embedding_dup_pairs(_emb(spark, sf_dir), threshold=0.30)


def q_ann_lsh(spark, sf_dir):
    from detectingscc_spark.functions.similarity import ann_topk_lsh

    return ann_topk_lsh(_emb(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=5)


def q_ann_ivf(spark, sf_dir):
    from detectingscc_spark.functions.similarity import ann_topk_ivf

    return ann_topk_ivf(_emb(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=5)


_IVF_CENT_ART = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".artifacts", "ivf_centroids"
)


def q_ann_ivf_trained(spark, sf_dir):
    """IVF with a TRAINED spherical-k-means coarse quantizer
    (deterministic sample + farthest-point init + Lloyd iterations, see
    similarity.train_ivf_centroids). The trained centroids are persisted
    to parquet so the DuckDB oracle probes the SAME quantizer — the
    training itself is deterministic, so repeated runs re-derive
    identical centroids."""
    from detectingscc_spark.functions.similarity import ann_topk_ivf, train_ivf_centroids

    emb = _emb(spark, sf_dir)
    cents = train_ivf_centroids(emb, n_centroids=16, iters=5)
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid int, cv array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(_IVF_CENT_ART)
    return ann_topk_ivf(emb, query_ids=[0, 1, 2, 3, 4], k=5, centroids=cents)


def _ann_index_path(kind: str, sf_dir: str, params: str) -> str:
    """Artifact path keyed by (sf_dir, params, source parquet file
    names + sizes + mtimes): concurrent drivers on different inputs can
    never race on a shared directory, and a stale index is never reused
    after the source table changes — a rewrite that happens to preserve
    every file size still shifts the digest via the mtimes. The build
    itself is idempotent-by-key: callers skip it when the keyed
    _SUCCESS exists."""
    import hashlib

    src = os.path.join(sf_dir, "embeddings.parquet")
    sig = []
    if os.path.isdir(src):
        for root, _dirs, files in os.walk(src):
            for fn in sorted(files):
                p = os.path.join(root, fn)
                st = os.stat(p)
                sig.append(f"{os.path.relpath(p, src)}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(src):
        st = os.stat(src)
        sig.append(f"f:{st.st_size}:{st.st_mtime_ns}")
    digest = hashlib.sha256(
        "|".join([os.path.abspath(sf_dir), params] + sig).encode()
    ).hexdigest()[:16]
    return os.path.join(_artifacts_dir(), f"{kind}_{digest}")


def _artifacts_dir() -> str:
    """Keyed-index artifact root; env-overridable so tests (and a
    deployment that wants artifacts off the checkout) can redirect it."""
    return os.environ.get(
        "SPARK_GRAFT_ARTIFACTS_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".artifacts"),
    )


def _prune_superseded(kind: str, keep: str) -> None:
    """Delete sibling digests of the same kind that the live key has
    superseded (a source rewrite or param change shifts the digest and
    the old directory would otherwise accumulate forever — two stale IVF
    digests had already piled up by round 5). Only entries matching
    `{kind}_<16-hex>` with a digest other than the live one are removed;
    the live digest's own suffix dirs (`_centroids`) and in-flight
    `.build-*` tmps are untouched. A deployment that intentionally runs
    concurrent drivers against DIFFERENT source tables from one checkout
    can set SPARK_GRAFT_KEEP_ARTIFACTS=1 to keep every digest."""
    import re
    import shutil

    if os.environ.get("SPARK_GRAFT_KEEP_ARTIFACTS"):
        return
    base, keep_name = os.path.dirname(keep), os.path.basename(keep)
    pat = re.compile(re.escape(kind) + r"_[0-9a-f]{16}")
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        m = pat.match(name)
        if m and m.group(0) != keep_name:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def _swap_in(tmp: str, final: str) -> None:
    """Atomically install a complete build dir at its keyed path. Losing
    a same-key race is benign: the loser discards its tmp and uses the
    winner's identical (deterministic-by-key) artifact."""
    import shutil
    import uuid

    stale = None
    if os.path.exists(final):
        stale = f"{final}.stale-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(final, stale)
        except OSError:
            stale = None
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(final, "_SUCCESS")):
            # non-race failure (no winner appeared at the key): restore
            # the displaced artifact so the keyed path is never left
            # empty with its predecessor leaking as a .stale-* sibling
            if stale and os.path.exists(stale):
                try:
                    os.rename(stale, final)
                    stale = None
                except OSError:
                    pass
            raise
    if stale:
        shutil.rmtree(stale, ignore_errors=True)


def _build_published(path: str, build_to, suffixes=("",), replace=False) -> None:
    """Atomic-publish discipline for keyed index artifacts: the Spark
    write lands in a unique tmp sibling, renamed into place only when
    complete. A reader therefore never observes Spark's clear-then-
    rewrite window (the race the shared keyed path hit when a forced
    rebuild ran concurrently with a same-input probe), and two same-key
    builders resolve to one winner instead of an 'unable to clear
    output directory' crash: with replace=False a builder that finds a
    complete artifact at its key after building discards its tmp — the
    artifact is deterministic-by-key, and swapping it would yank files
    out from under the first builder's in-flight probe (measured: a
    concurrent-builder race test hit FILE_NOT_EXIST exactly that way).
    replace=True (forced rebuild) still swaps — a measurement-harness
    knob, documented single-driver."""
    import shutil
    import uuid

    tmp = f"{path}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    build_to(tmp)
    # publish order makes the primary dir's _SUCCESS — the existence
    # check ensure_* trusts — the LAST thing to appear, so its presence
    # implies every secondary is already in place. The skip condition
    # mirrors the callers' own check over EVERY suffix: a primary-only
    # check would discard a fresh rebuild forever when a crash between
    # suffix swaps left the primary complete but a secondary (e.g.
    # _centroids) missing — the exact state ensure_ivf_index rebuilds
    # for.
    if not replace and all(
        os.path.exists(os.path.join(path + suf, "_SUCCESS")) for suf in suffixes
    ):
        for suf in suffixes:
            shutil.rmtree(tmp + suf, ignore_errors=True)
        return
    for suf in sorted(suffixes, key=lambda s: s == ""):
        _swap_in(tmp + suf, path + suf)


def ensure_lsh_index(spark, sf_dir, n_tables=8, rebuild=False) -> str:
    """Build the persisted LSH index for (sf_dir, params) if the keyed
    artifact doesn't exist yet; return its path. `rebuild=True` forces a
    fresh build (bench uses it to time the build leg honestly)."""
    from detectingscc_spark.functions.ann_index import write_lsh_index

    path = _ann_index_path("ann_lsh", sf_dir, f"lsh:planes=8:tables={n_tables}:seed=7")
    if rebuild or not os.path.exists(os.path.join(path, "_SUCCESS")):
        _build_published(
            path,
            lambda tmp: write_lsh_index(_emb(spark, sf_dir), tmp, n_tables=n_tables),
            replace=rebuild,
        )
    _prune_superseded("ann_lsh", path)
    return path


def ensure_ivf_index(spark, sf_dir, n_centroids=16, rebuild=False) -> str:
    """Build the persisted IVF index (+ centroid table) for (sf_dir,
    params) if the keyed artifact doesn't exist yet; return its path."""
    from detectingscc_spark.functions.ann_index import write_ivf_index

    path = _ann_index_path("ann_ivf", sf_dir, f"ivf:k={n_centroids}:anchor")
    if (
        rebuild
        or not os.path.exists(os.path.join(path, "_SUCCESS"))
        or not os.path.exists(os.path.join(path + "_centroids", "_SUCCESS"))
    ):
        _build_published(
            path,
            lambda tmp: write_ivf_index(_emb(spark, sf_dir), tmp, n_centroids=n_centroids),
            suffixes=("_centroids", ""),
            replace=rebuild,
        )
    _prune_superseded("ann_ivf", path)
    return path


def q_ann_lsh_indexed(spark, sf_dir):
    """LSH ANN against a PERSISTED index: build the (tbl, bucket)-
    partitioned parquet index ONCE per (sf_dir, params) — the artifact
    path is content-keyed and reused when its _SUCCESS exists, so the
    query times the probe path, not the build — then answer the query
    with a pruned scan of only the probed bucket directories (the write
    side that similarity.lsh_buckets_multi's docstring promises). Same
    parameters as q_ann_lsh except n_tables=8 (8 x 256 = 2k index
    partitions — the 20-table fan-out is recall overkill for a persisted
    index and its 5k-directory commit dominates at fixture scale), so the
    oracle is _ann_lsh_sql(n_tables=8) — equal results from the persisted
    path IS the check."""
    from detectingscc_spark.functions.ann_index import ann_topk_lsh_indexed

    path = ensure_lsh_index(spark, sf_dir, n_tables=8)
    return ann_topk_lsh_indexed(
        spark, path, _emb(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=5, n_tables=8
    )


def q_ann_ivf_indexed(spark, sf_dir):
    """IVF ANN against PERSISTED inverted lists + centroid table (built
    once per (sf_dir, params), content-keyed path): probe cells are
    derived from the persisted centroids and pushed as a literal
    partition predicate, so only the probed cells' directories are read.
    Same anchor quantizer and parameters as q_ann_ivf → oracle is
    ANN_IVF_SQL verbatim."""
    from detectingscc_spark.functions.ann_index import ann_topk_ivf_indexed

    path = ensure_ivf_index(spark, sf_dir, n_centroids=16)
    return ann_topk_ivf_indexed(
        spark, path, _emb(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=5
    )


def q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min) via analytic windows — the batch
    equivalent of the streaming session-window operator."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    # microsecond integers for exact cross-engine gap parity
    # (ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast is stable)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    marked = ev.select(
        "user_id", "ts", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0).alias("new_s")
    )
    sid = marked.withColumn("session_seq", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return sid.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "scc": q_scc,
        "scc_partitioned": q_scc_partitioned,
        "scc_coloring": q_scc_coloring,
        "scc_sizes": q_scc_sizes,
        "scc_dag": q_scc_dag,
        "wcc": q_wcc,
        "degrees": q_degrees,
        "trim1_round1": q_trim1_round1,
        "triangle_total": q_triangle_total,
        "triangle_per_vertex": q_triangle_per_vertex,
        "clustering_coeff": q_clustering_coeff,
        "assortativity": q_assortativity,
        "edge_support": q_edge_support,
        "ktruss4": q_ktruss4,
        "link_prediction": q_link_prediction,
        "eigencentrality": q_eigencentrality,
        "dag_reach": q_dag_reach,
        "dag_layers": q_dag_layers,
        "bipartiteness": q_bipartiteness,
        "degree_hist": q_degree_hist,
        "harmonic": q_harmonic,
        "dist_quantiles": q_dist_quantiles,
        "hits": q_hits,
        "salsa": q_salsa,
        "pagerank": q_pagerank,
        "lpa": q_lpa,
        "modularity": q_modularity,
        "ppr": q_ppr,
        "kcore3": q_kcore,
        "bfs_dist": q_bfs_dist,
        "reciprocity": q_reciprocity,
        "corpus_scc": q_corpus_scc,
        "pricing_summary": q_pricing_summary,
        "top_orders": q_top_orders,
        "nation_volume": q_nation_volume,
        "exact_dedup": q_exact_dedup,
        "text_stats": q_text_stats,
        "lang_guess": q_lang_guess,
        "fingerprint": q_fingerprint,
        "token_counts": q_token_counts,
        "media_features": q_media_features,
        "minhash_pairs": q_minhash_pairs,
        "near_dup_jaccard": q_near_dup_jaccard,
        "simhash": q_simhash,
        "embedding_topk": q_embedding_topk,
        "embedding_dups": q_embedding_dups,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_trained": q_ann_ivf_trained,
        "ann_lsh_indexed": q_ann_lsh_indexed,
        "ann_ivf_indexed": q_ann_ivf_indexed,
        "quality_filter": q_quality_filter,
        "lang_histogram": q_lang_histogram,
        "ngram_topk": q_ngram_topk,
        "repetition_stats": q_repetition_stats,
        "stratified_sample": q_stratified_sample,
        "bm25_topk": q_bm25_topk,
        "decontaminate": q_decontaminate,
        "dedup_sweep": q_dedup_sweep,
        "dedup_clusters": q_dedup_clusters,
        "events_hourly": q_events_hourly,
        "sessionize": q_sessionize,
    }


# --------------------------------------------------------------------
# oracles (DuckDB SQL, same parquet views)
# --------------------------------------------------------------------

_E = f"e AS ({DERIVED_EDGES_SQL})"
_VERTS = "v AS (SELECT src AS id FROM e UNION SELECT dst FROM e)"
_REACH = (
    "reach(a, b) AS (SELECT src, dst FROM e UNION "
    "SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src)"
)

SCC_SQL = f"""
WITH RECURSIVE {_E}, {_VERTS}, {_REACH},
mutual AS (
  SELECT r1.a, r1.b FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
)
SELECT v.id AS id, least(v.id, coalesce(min(m.b), v.id)) AS scc_id
FROM v LEFT JOIN mutual m ON v.id = m.a
GROUP BY v.id
"""

SCC_SIZES_SQL = f"""
WITH RECURSIVE {_E}, {_VERTS}, {_REACH},
mutual AS (
  SELECT r1.a, r1.b FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
scc AS (
  SELECT v.id AS id, least(v.id, coalesce(min(m.b), v.id)) AS scc_id
  FROM v LEFT JOIN mutual m ON v.id = m.a GROUP BY v.id
),
sz AS (SELECT scc_id, count(*) AS members FROM scc GROUP BY scc_id)
SELECT members, count(*) AS n_sccs FROM sz GROUP BY members
"""

DEGREE_HIST_SQL = f"""
WITH {_E},
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst),
deg AS (SELECT id, count(*) AS deg FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und
        ) ends GROUP BY id)
SELECT length(bin(deg)) AS bucket, count(*) AS n_vertices,
       min(deg) AS min_deg, max(deg) AS max_deg
FROM deg GROUP BY 1 ORDER BY 1
"""


DAG_REACH_SQL = f"""
WITH RECURSIVE {_E},
es AS (SELECT src, dst FROM e WHERE (src * 31 + dst) % 13 = 0),
v AS (SELECT src AS id FROM es UNION SELECT dst FROM es),
reach(a, b) AS (SELECT src, dst FROM es UNION
                SELECT r.a, es.dst FROM reach r JOIN es ON r.b = es.src),
mutual AS (
  SELECT r1.a, r1.b FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
scc AS (
  SELECT v.id AS id, least(v.id, coalesce(min(m.b), v.id)) AS scc_id
  FROM v LEFT JOIN mutual m ON v.id = m.a GROUP BY v.id
),
dag AS (
  SELECT DISTINCT s.scc_id AS a, t.scc_id AS b
  FROM es JOIN scc s ON es.src = s.id JOIN scc t ON es.dst = t.id
  WHERE s.scc_id <> t.scc_id
),
dreach(a, b) AS (SELECT a, b FROM dag UNION
                 SELECT r.a, d.b FROM dreach r JOIN dag d ON r.b = d.a),
comps AS (SELECT DISTINCT scc_id FROM scc),
cnt AS (SELECT a, count(*) AS n FROM dreach GROUP BY a)
SELECT comps.scc_id, coalesce(cnt.n, 0) AS n_desc
FROM comps LEFT JOIN cnt ON comps.scc_id = cnt.a
"""


DAG_LAYERS_SQL = f"""
WITH RECURSIVE {_E},
es AS (SELECT src, dst FROM e WHERE (src * 31 + dst) % 13 = 0),
v AS (SELECT src AS id FROM es UNION SELECT dst FROM es),
reach(a, b) AS (SELECT src, dst FROM es UNION
                SELECT r.a, es.dst FROM reach r JOIN es ON r.b = es.src),
mutual AS (
  SELECT r1.a, r1.b FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
scc AS (
  SELECT v.id AS id, least(v.id, coalesce(min(m.b), v.id)) AS scc_id
  FROM v LEFT JOIN mutual m ON v.id = m.a GROUP BY v.id
),
dag AS (
  SELECT DISTINCT s.scc_id AS a, t.scc_id AS b
  FROM es JOIN scc s ON es.src = s.id JOIN scc t ON es.dst = t.id
  WHERE s.scc_id <> t.scc_id
),
comps AS (SELECT DISTINCT scc_id FROM scc),
roots AS (SELECT c.scc_id FROM comps c
          WHERE NOT EXISTS (SELECT 1 FROM dag WHERE dag.b = c.scc_id)),
lwalk(id, d) AS (SELECT scc_id, 0 FROM roots UNION
                 SELECT dag.b, w.d + 1 FROM lwalk w JOIN dag ON dag.a = w.id)
SELECT id AS scc_id, max(d) AS layer FROM lwalk GROUP BY id
"""


SCC_DAG_SQL = f"""
WITH RECURSIVE {_E},
es AS (SELECT src, dst FROM e WHERE (src * 31 + dst) % 13 = 0),
v AS (SELECT src AS id FROM es UNION SELECT dst FROM es),
reach(a, b) AS (SELECT src, dst FROM es UNION
                SELECT r.a, es.dst FROM reach r JOIN es ON r.b = es.src),
mutual AS (
  SELECT r1.a, r1.b FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
scc AS (
  SELECT v.id AS id, least(v.id, coalesce(min(m.b), v.id)) AS scc_id
  FROM v LEFT JOIN mutual m ON v.id = m.a GROUP BY v.id
)
SELECT DISTINCT s.scc_id AS from_scc, t.scc_id AS to_scc
FROM es JOIN scc s ON es.src = s.id JOIN scc t ON es.dst = t.id
WHERE s.scc_id <> t.scc_id
"""

BIPARTITE_SQL = f"""
WITH RECURSIVE {_E},
es AS (SELECT src, dst FROM e WHERE (src * 31 + dst) % 13 = 0),
v AS (SELECT src AS id FROM es UNION SELECT dst FROM es),
u AS (SELECT src, dst FROM es UNION SELECT dst, src FROM es),
reach(a, b) AS (
  SELECT src, dst FROM u UNION SELECT r.a, u.dst FROM reach r JOIN u ON r.b = u.src
),
cc AS (
  SELECT vv.id, least(vv.id, coalesce(min(r.b), vv.id)) AS cc_id
  FROM (SELECT DISTINCT id FROM v) vv LEFT JOIN reach r ON vv.id = r.a
  GROUP BY vv.id
),
roots AS (SELECT DISTINCT cc_id AS id FROM cc),
bwalk(id, d) AS (SELECT id, 0 FROM roots UNION
                 SELECT u.dst, w.d + 1 FROM bwalk w JOIN u ON w.id = u.src
                 WHERE w.d < 64),
md AS (SELECT id, min(d) AS d FROM bwalk GROUP BY id),
su AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       FROM es WHERE src <> dst),
odd AS (
  SELECT count(*) AS n_odd FROM su
  JOIN md ma ON su.a = ma.id JOIN md mb ON su.b = mb.id
  WHERE ma.d % 2 = mb.d % 2
)
SELECT (SELECT count(*) FROM roots) AS n_components,
       odd.n_odd AS n_odd_edges, odd.n_odd = 0 AS is_bipartite
FROM odd
"""


WCC_SQL = f"""
WITH RECURSIVE {_E}, {_VERTS},
u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
reach(a, b) AS (
  SELECT src, dst FROM u UNION SELECT r.a, u.dst FROM reach r JOIN u ON r.b = u.src
)
SELECT v.id AS id, least(v.id, coalesce(min(r.b), v.id)) AS cc_id
FROM v LEFT JOIN reach r ON v.id = r.a
GROUP BY v.id
"""

DEGREES_SQL = f"""
WITH {_E},
od AS (SELECT src AS id, count(*) AS out_deg FROM e GROUP BY src),
idg AS (SELECT dst AS id, count(*) AS in_deg FROM e GROUP BY dst)
SELECT coalesce(od.id, idg.id) AS id,
       coalesce(out_deg, 0) AS out_deg,
       coalesce(in_deg, 0) AS in_deg
FROM od FULL OUTER JOIN idg ON od.id = idg.id
"""

TRIM1_SQL = f"""
WITH {_E}, {_VERTS},
both_deg AS (SELECT src AS id FROM e INTERSECT SELECT dst FROM e)
SELECT id FROM v WHERE id NOT IN (SELECT id FROM both_deg)
"""

_TRI_ORIENT = f"""
{_E},
und AS (SELECT least(src,dst) AS a, greatest(src,dst) AS b FROM e WHERE src <> dst GROUP BY 1,2),
deg AS (SELECT id, count(*) AS d FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id),
o AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b) THEN und.a ELSE und.b END AS lo,
         CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b) THEN und.b ELSE und.a END AS hi
  FROM und JOIN deg da ON und.a = da.id JOIN deg db ON und.b = db.id
),
tri AS (
  SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
  FROM o e1 JOIN o e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN o e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
  UNION ALL
  SELECT e1.lo, e1.hi, e2.hi
  FROM o e1 JOIN o e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN o e3 ON e3.lo = e2.hi AND e3.hi = e1.hi
)
"""

TRIANGLE_TOTAL_SQL = f"WITH {_TRI_ORIENT} SELECT count(*) AS triangles FROM tri"

# Per-edge triangle support: id-ordered triangle enumeration (x<y<z) on
# the canonical undirected edge set — same triangle multiset as the
# engine's degree-oriented enumeration (orientation changes join cost,
# not which triangles exist), all-integer so the hash compare is exact.
_SUPPORT_BODY = """
tri AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM {src} e1 JOIN {src} e2 ON e2.a = e1.b
  JOIN {src} e3 ON e3.a = e1.a AND e3.b = e2.b
),
cr AS (
  SELECT x AS a, y AS b FROM tri
  UNION ALL SELECT x, z FROM tri
  UNION ALL SELECT y, z FROM tri
),
sup AS (SELECT a, b, count(*) AS s FROM cr GROUP BY a, b)
"""

EDGE_SUPPORT_SQL = f"""
WITH {_E},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst),
{_SUPPORT_BODY.format(src="und").strip()}
SELECT und.a, und.b, coalesce(sup.s, 0) AS support
FROM und LEFT JOIN sup ON und.a = sup.a AND und.b = sup.b
"""


def _ktruss_sql(k: int = 4, rounds: int = 6) -> str:
    """k-truss peeling unrolled as `rounds` (support, survivor) CTE
    pairs — mirrors operators/truss.py round by round. All-integer:
    exact."""
    steps = []
    prev = "u0"
    for r in range(1, rounds + 1):
        steps.append(
            f"""tri{r} AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM {prev} e1 JOIN {prev} e2 ON e2.a = e1.b
  JOIN {prev} e3 ON e3.a = e1.a AND e3.b = e2.b
),
sup{r} AS MATERIALIZED (
  SELECT a, b, count(*) AS s FROM (
    SELECT x AS a, y AS b FROM tri{r}
    UNION ALL SELECT x, z FROM tri{r}
    UNION ALL SELECT y, z FROM tri{r}
  ) cr GROUP BY a, b
),
u{r} AS MATERIALIZED (
  SELECT a, b FROM sup{r} WHERE s >= {k - 2}
)"""
        )
        prev = f"u{r}"
    chain = ",\n".join(steps)
    return f"""
WITH {_E},
u0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst),
{chain}
SELECT a, b FROM {prev}
"""


KTRUSS_SQL = _ktruss_sql(k=4, rounds=6)

# Link prediction: one wedge self-join through shared centers — mirrors
# operators/linkpred.py (uncapped); all-integer ranking, doubles rounded.
LINK_PREDICTION_SQL = f"""
WITH {_E},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst),
nbrs AS MATERIALIZED (
  SELECT a AS id, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
deg AS MATERIALIZED (SELECT id, count(*) AS deg FROM nbrs GROUP BY id),
cand AS MATERIALIZED (
  SELECT n1.nbr AS a, n2.nbr AS b, count(*) AS common,
         sum(1.0 / ln(d.deg)) AS aa
  FROM nbrs n1 JOIN nbrs n2 ON n1.id = n2.id AND n1.nbr < n2.nbr
  JOIN deg d ON d.id = n1.id
  GROUP BY n1.nbr, n2.nbr
),
nonadj AS (
  SELECT c.a, c.b, c.common, c.aa
  FROM cand c ANTI JOIN und ON und.a = c.a AND und.b = c.b
)
SELECT na.a, na.b, na.common,
       round(na.common::DOUBLE / (da.deg + db.deg - na.common), 6) AS jaccard6,
       round(na.aa, 6) AS adamic_adar6
FROM nonadj na JOIN deg da ON da.id = na.a JOIN deg db ON db.id = na.b
ORDER BY na.common DESC, na.a, na.b LIMIT 20
"""

TRIANGLE_PER_VERTEX_SQL = f"""
WITH {_TRI_ORIENT},
verts AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
credit AS (
  SELECT id, count(*) AS triangles FROM (
    SELECT u AS id FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri
  ) GROUP BY id
)
SELECT verts.id, coalesce(credit.triangles, 0) AS triangles
FROM verts LEFT JOIN credit ON verts.id = credit.id
"""

CLUSTERING_COEFF_SQL = f"""
WITH {_TRI_ORIENT},
d2 AS (SELECT id, count(*) AS deg FROM (
         SELECT a AS id FROM und UNION ALL SELECT b FROM und
       ) GROUP BY id),
credit AS (
  SELECT id, count(*) AS triangles FROM (
    SELECT u AS id FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri
  ) GROUP BY id
)
SELECT d2.id, d2.deg::BIGINT AS deg,
       CASE WHEN d2.deg >= 2
            THEN round(2.0 * coalesce(credit.triangles, 0)
                       / (d2.deg * (d2.deg - 1)), 6)
            ELSE 0.0 END AS cc
FROM d2 LEFT JOIN credit ON d2.id = credit.id
"""

ASSORTATIVITY_SQL = f"""
WITH {_E},
und AS (SELECT least(src,dst) AS a, greatest(src,dst) AS b FROM e
        WHERE src <> dst GROUP BY 1,2),
deg AS (SELECT id, count(*) AS d FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und
        ) GROUP BY id),
pairs AS (SELECT da.d AS dx, db.d AS dy FROM und
          JOIN deg da ON und.a = da.id JOIN deg db ON und.b = db.id),
sym AS (SELECT dx, dy FROM pairs UNION ALL SELECT dy, dx FROM pairs),
s AS (SELECT count(*)::HUGEINT AS n, sum(dx::HUGEINT) AS sx,
             sum((dx*dy)::HUGEINT) AS sxy, sum((dx*dx)::HUGEINT) AS sxx
      FROM sym)
SELECT round(CAST(n*sxy - sx*sx AS DOUBLE)
             / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS assortativity FROM s
"""

PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

TOP_ORDERS_SQL = """
SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""

NATION_VOLUME_SQL = """
SELECT n_name, round(sum(o_totalprice), 2) AS volume, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

EXACT_DEDUP_SQL = """
WITH h AS (SELECT doc_id, sha256(text) AS content_sha FROM documents),
k AS (SELECT content_sha, min(doc_id) AS keeper FROM h GROUP BY content_sha)
SELECT h.doc_id, h.content_sha, h.doc_id = k.keeper AS keep
FROM h JOIN k ON h.content_sha = k.content_sha
"""

_STOP_TERMS = " + ".join(
    f"(length(text) - length(replace(text, ' {w} ', ''))) / {len(w) + 2}"
    for w in ("the", "and", "data", "query", "table")
)

TEXT_STATS_SQL = f"""
SELECT doc_id,
       length(text)::BIGINT AS n_chars,
       (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS n_tokens,
       round(length(text)::DOUBLE / (length(text) - length(replace(text, ' ', '')) + 1), 4) AS avg_token_len,
       ({_STOP_TERMS})::BIGINT AS stop_hits,
       round(least(1.0, (length(text) - length(replace(text, ' ', '')) + 1) / 50.0) * 0.5
             + least(1.0, ({_STOP_TERMS}) / 10.0) * 0.5, 4) AS quality
FROM documents
"""

# same pattern string functions/text.py::BPE_TOKEN_RE passes to the JVM
# regex — explicit character classes only, so Java regex and RE2 agree
_BPE_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\r\\n]"

TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '{_BPE_RE}'))::BIGINT AS n_bpe_tokens
FROM documents
"""

_OCC = "(length(text) - length(replace(text, '{m}', ''))) / {L}"


def _occ(m):
    return _OCC.format(m=m, L=len(m))


_S_EN = f"({_occ(' the ')} + {_occ(' and ')})"
_S_DA = f"({_occ(' data ')} + {_occ(' table ')})"
_S_SP = f"({_occ(' spark ')} + {_occ(' batch ')})"

LANG_GUESS_SQL = f"""
SELECT doc_id,
  CASE WHEN {_S_EN} >= {_S_DA} AND {_S_EN} >= {_S_SP} THEN 'en'
       WHEN {_S_DA} >= {_S_SP} THEN 'dataish'
       ELSE 'sparkish' END AS lang_guess
FROM documents
"""

FINGERPRINT_SQL = """
SELECT doc_id, min(sha256(substr(text, i, 8))) AS fp
FROM documents, LATERAL unnest(generate_series(1, greatest(1, length(text) - 7), 4)) AS t(i)
GROUP BY doc_id
"""

_MINHASH_BANDS = """
grams AS (
  SELECT doc_id, substr(text, i, 8) AS s
  FROM documents, LATERAL unnest(generate_series(1, greatest(1, length(text) - 7), 4)) AS t(i)
),
mins AS (
  SELECT doc_id, h, min(sha256('h' || h || '|' || s)) AS m
  FROM grams, LATERAL unnest(generate_series(0, 15)) AS hh(h)
  GROUP BY doc_id, h
),
sigs AS (SELECT doc_id, array_agg(m ORDER BY h) AS sig FROM mins GROUP BY doc_id),
bands AS (
  SELECT doc_id, b, sha256(array_to_string(sig[b*4+1 : b*4+4], '|')) AS bh
  FROM sigs, LATERAL unnest(generate_series(0, 3)) AS bb(b)
),
cand AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
"""

MINHASH_PAIRS_SQL = f"WITH {_MINHASH_BANDS} SELECT doc_a, doc_b FROM cand"

QUALITY_FILTER_SQL = f"""
WITH st AS ({TEXT_STATS_SQL})
SELECT doc_id,
       (quality >= 0.5 AND n_tokens >= 10
        AND avg_token_len >= 2.0 AND avg_token_len <= 20.0) AS keep
FROM st
"""

LANG_HISTOGRAM_SQL = f"""
WITH lg AS ({LANG_GUESS_SQL})
SELECT lang_guess, count(*)::BIGINT AS n FROM lg GROUP BY lang_guess
"""

NGRAM_TOPK_SQL = """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]) AS gram
  FROM toks WHERE len(t) >= 3
),
counted AS (SELECT gram, count(*)::BIGINT AS n FROM grams GROUP BY gram),
ranked AS (
  SELECT gram, n, row_number() OVER (ORDER BY n DESC, gram ASC) AS rank FROM counted
)
SELECT gram, n, rank FROM ranked WHERE rank <= 20
"""

REPETITION_STATS_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
base AS (
  SELECT doc_id, len(ws)::BIGINT AS n_words,
         len(list_distinct(ws))::BIGINT AS n_distinct
  FROM w
),
bgrams AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
),
bg AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS total_bg
  FROM (SELECT doc_id, g, count(*) AS c FROM bgrams GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_words,
       round(1.0 - b.n_distinct / CAST(b.n_words AS DOUBLE), 6) AS dup_word_frac,
       round(coalesce(bg.top_c / CAST(bg.total_bg AS DOUBLE), 0.0), 6) AS top_bigram_frac
FROM base b LEFT JOIN bg USING (doc_id)
"""

STRATIFIED_SAMPLE_SQL = """
SELECT lang AS stratum, count(*)::BIGINT AS total,
       sum(CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 1)
                IN ('0', '1') THEN 1 ELSE 0 END)::BIGINT AS sampled,
       round(sum(CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 1)
                      IN ('0', '1') THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS rate
FROM documents GROUP BY lang
"""

# float literals (2.2 = k1+1, 0.25 = 1-b, 1.2 = k1, 0.75 = b) mirror
# detectingscc_spark/functions/retrieval.py verbatim
BM25_TOPK_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
dl AS (SELECT doc_id, len(ws) AS dl FROM w),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS term FROM w)
  WHERE term IN ('query', 'join', 'hash')
  GROUP BY doc_id, term
),
dfp AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln((stats.n_docs - dfp.df + 0.5) / (dfp.df + 0.5) + 1.0)
           * tf.tf * 2.2
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
         ), 6) AS score
  FROM tf
  JOIN dfp USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 15
"""

DECONTAMINATE_SQL = """
WITH tr AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE doc_id % 97 <> 0),
ev AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       WHERE doc_id % 97 = 0),
tg AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS g
       FROM tr, unnest(generate_series(1, len(ws) - 2)) AS t(i)
       WHERE len(ws) >= 3),
eg AS (SELECT DISTINCT doc_id AS eval_id, array_to_string(ws[i:i+2], ' ') AS g
       FROM ev, unnest(generate_series(1, len(ws) - 2)) AS t(i)
       WHERE len(ws) >= 3)
SELECT tg.doc_id, count(DISTINCT eg.eval_id)::BIGINT AS n_eval_docs,
       count(DISTINCT tg.g)::BIGINT AS n_shared_ngrams
FROM tg JOIN eg USING (g) GROUP BY tg.doc_id
"""

DEDUP_SWEEP_SQL = f"""
WITH h AS (SELECT doc_id, sha256(text) AS content_sha FROM documents),
k AS (SELECT content_sha, min(doc_id) AS keeper FROM h GROUP BY content_sha),
ex AS (SELECT h.doc_id, h.doc_id = k.keeper AS exact_keep FROM h JOIN k USING (content_sha)),
{_MINHASH_BANDS},
nb AS (SELECT DISTINCT doc_b AS doc_id FROM cand)
SELECT ex.doc_id,
       (exact_keep AND nb.doc_id IS NULL) AS keep,
       CASE WHEN NOT exact_keep THEN 'exact_dup'
            WHEN nb.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'kept' END AS reason
FROM ex LEFT JOIN nb ON ex.doc_id = nb.doc_id
"""

DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_MINHASH_BANDS},
h AS (SELECT doc_id, sha256(text) AS s FROM documents),
ex AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM h a JOIN h b ON a.s = b.s AND a.doc_id < b.doc_id
),
pairs AS (SELECT doc_a, doc_b FROM cand UNION SELECT doc_a, doc_b FROM ex),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
reach(a, b) AS (SELECT a, b FROM sym UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
lbl AS (
  SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
  GROUP BY d.doc_id
)
SELECT doc_id, cluster_id, count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lbl
"""

NEAR_DUP_JACCARD_SQL = f"""
WITH {_MINHASH_BANDS},
g3 AS (
  SELECT DISTINCT doc_id, substr(text, i, 3) AS g
  FROM documents, LATERAL unnest(generate_series(1, greatest(1, length(text) - 2))) AS t(i)
),
sz AS (SELECT doc_id, count(*) AS sz FROM g3 GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c JOIN g3 a ON a.doc_id = c.doc_a JOIN g3 b ON b.doc_id = c.doc_b AND b.g = a.g
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       round(coalesce(i.i, 0)::DOUBLE / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) AS jaccard
FROM cand c
LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
JOIN sz sa ON sa.doc_id = c.doc_a
JOIN sz sb ON sb.doc_id = c.doc_b
"""

EMBEDDING_TOPK_SQL = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS norm
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, norm AS qn FROM base WHERE vec_id IN (0,1,2,3,4)),
scored AS (
  SELECT q.query_id, b.vec_id,
         round(list_dot_product(q.qv, b.v) / (q.qn * b.norm), 6) AS cos
  FROM q JOIN base b ON b.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 5
"""

EMBEDDING_DUPS_SQL = """
WITH base AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS norm
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS cos
FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) >= 0.30
"""

EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""

SESSIONIZE_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sid AS (
  SELECT user_id, ts,
         -- ::BIGINT: DuckDB window sum yields HUGEINT; Spark yields BIGINT
         -- (values identical, typed-row hash differs without the cast)
         (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_seq
  FROM marked
)
SELECT user_id, session_seq, count(*) AS n_events, min(ts) AS session_start
FROM sid GROUP BY user_id, session_seq
"""


def _pagerank_sql(iters: int = 20, damping: float = 0.85) -> str:
    """PageRank unrolled as `iters` chained CTEs — mirrors
    operators/pagerank.py expression by expression ((1-d)/n, dangling
    mass dm/n, contrib sum(rank*w)) in the same IEEE-754 op order, so the
    doubles agree bit-for-bit modulo sum reordering (final round to 8dp
    absorbs that)."""
    steps = []
    prev = "r0"
    for k in range(1, iters + 1):
        steps.append(
            f"""r{k} AS MATERIALIZED (
  SELECT v.id,
         (1.0::DOUBLE - {damping}::DOUBLE) / nn.n
         + {damping}::DOUBLE * (coalesce(c.c, 0.0::DOUBLE) + dm.dm / nn.n) AS rank
  FROM v
  CROSS JOIN nn
  CROSS JOIN (SELECT coalesce(sum(rank), 0.0::DOUBLE) AS dm
              FROM {prev} WHERE id IN (SELECT id FROM dang)) dm
  LEFT JOIN (SELECT ew.dst AS id, sum(r.rank * ew.w) AS c
             FROM ew JOIN {prev} r ON ew.src = r.id GROUP BY ew.dst) c
    ON v.id = c.id
)"""
        )
        prev = f"r{k}"
    chain = ",\n".join(steps)
    return f"""
WITH {_E}, {_VERTS},
nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM v),
od AS MATERIALIZED (SELECT src AS id, count(*)::DOUBLE AS od FROM e GROUP BY src),
ew AS MATERIALIZED (SELECT e.src, e.dst, 1.0::DOUBLE / od.od AS w FROM e JOIN od ON e.src = od.id),
dang AS MATERIALIZED (SELECT id FROM v WHERE id NOT IN (SELECT id FROM od)),
r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE / (SELECT n FROM nn) AS rank FROM v),
{chain}
SELECT id, round(rank, 8) AS rank8 FROM {prev}
"""


PAGERANK_SQL = _pagerank_sql(iters=20, damping=0.85)


def _hits_sql(iters: int = 10) -> str:
    """HITS unrolled as chained CTEs — mirrors operators/hits.py
    expression by expression (raw push sum, L1 total, coalesce-0 over
    the vertex universe), so doubles agree modulo sum reordering (final
    round to 8dp absorbs that)."""
    steps = []
    prev_h = "h0"
    for k in range(1, iters + 1):
        steps.append(
            f"""ar{k} AS MATERIALIZED (
  SELECT e.dst AS id, sum(h.s) AS raw FROM e JOIN {prev_h} h ON e.src = h.id
  GROUP BY e.dst
),
a{k} AS MATERIALIZED (
  SELECT v.id, coalesce(ar.raw, 0.0::DOUBLE) / t.t AS s
  FROM v LEFT JOIN ar{k} ar ON v.id = ar.id
  CROSS JOIN (SELECT sum(raw) AS t FROM ar{k}) t
),
hr{k} AS MATERIALIZED (
  SELECT e.src AS id, sum(a.s) AS raw FROM e JOIN a{k} a ON e.dst = a.id
  GROUP BY e.src
),
h{k} AS MATERIALIZED (
  SELECT v.id, coalesce(hr.raw, 0.0::DOUBLE) / t.t AS s
  FROM v LEFT JOIN hr{k} hr ON v.id = hr.id
  CROSS JOIN (SELECT sum(raw) AS t FROM hr{k}) t
)"""
        )
        prev_h = f"h{k}"
    chain = ",\n".join(steps)
    return f"""
WITH {_E}, {_VERTS},
nn AS (SELECT count(*)::DOUBLE AS n FROM v),
h0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE / (SELECT n FROM nn) AS s FROM v),
{chain}
SELECT a{iters}.id, round(a{iters}.s, 8) AS auth8, round(h{iters}.s, 8) AS hub8
FROM a{iters} JOIN h{iters} ON a{iters}.id = h{iters}.id
"""


def _eigen_sql(iters: int = 10) -> str:
    """Eigenvector centrality unrolled — mirrors
    operators/hits.py::eigencentrality expression by expression over the
    symmetric undirected edge view."""
    steps = []
    prev = "x0"
    for k in range(1, iters + 1):
        steps.append(
            f"""r{k} AS MATERIALIZED (
  SELECT s.w AS id, sum(x.s) AS raw FROM sym s JOIN {prev} x ON s.u = x.id
  GROUP BY s.w
),
x{k} AS MATERIALIZED (
  SELECT uv.id, coalesce(r.raw, 0.0::DOUBLE) / t.t AS s
  FROM uv LEFT JOIN r{k} r ON uv.id = r.id
  CROSS JOIN (SELECT sum(raw) AS t FROM r{k}) t
)"""
        )
        prev = f"x{k}"
    chain = ",\n".join(steps)
    return f"""
WITH {_E},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst),
sym AS MATERIALIZED (SELECT a AS u, b AS w FROM und UNION ALL SELECT b, a FROM und),
uv AS MATERIALIZED (SELECT a AS id FROM und UNION SELECT b FROM und),
nn AS (SELECT count(*)::DOUBLE AS n FROM uv),
x0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE / (SELECT n FROM nn) AS s FROM uv),
{chain}
SELECT id, round(s, 8) AS score8 FROM {prev}
"""


EIGEN_SQL = _eigen_sql(iters=10)


HITS_SQL = _hits_sql(iters=10)


def _salsa_sql(iters: int = 10) -> str:
    """SALSA unrolled — mirrors operators/hits.py::salsa expression by
    expression: degree weights folded into the edge table once, weighted
    push sums, L1 totals, coalesce-0 over the vertex universe."""
    steps = []
    prev_h = "h0"
    for k in range(1, iters + 1):
        steps.append(
            f"""ar{k} AS MATERIALIZED (
  SELECT ew.dst AS id, sum(h.s * ew.w_out) AS raw
  FROM ew JOIN {prev_h} h ON ew.src = h.id GROUP BY ew.dst
),
a{k} AS MATERIALIZED (
  SELECT v.id, coalesce(ar.raw, 0.0::DOUBLE) / t.t AS s
  FROM v LEFT JOIN ar{k} ar ON v.id = ar.id
  CROSS JOIN (SELECT sum(raw) AS t FROM ar{k}) t
),
hr{k} AS MATERIALIZED (
  SELECT ew.src AS id, sum(a.s * ew.w_in) AS raw
  FROM ew JOIN a{k} a ON ew.dst = a.id GROUP BY ew.src
),
h{k} AS MATERIALIZED (
  SELECT v.id, coalesce(hr.raw, 0.0::DOUBLE) / t.t AS s
  FROM v LEFT JOIN hr{k} hr ON v.id = hr.id
  CROSS JOIN (SELECT sum(raw) AS t FROM hr{k}) t
)"""
        )
        prev_h = f"h{k}"
    chain = ",\n".join(steps)
    return f"""
WITH {_E}, {_VERTS},
od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
ind AS (SELECT dst, count(*) AS ind FROM e GROUP BY dst),
ew AS MATERIALIZED (
  SELECT e.src, e.dst, 1.0 / od.od AS w_out, 1.0 / ind.ind AS w_in
  FROM e JOIN od ON e.src = od.src JOIN ind ON e.dst = ind.dst),
nn AS (SELECT count(*)::DOUBLE AS n FROM v),
h0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE / (SELECT n FROM nn) AS s FROM v),
{chain}
SELECT a{iters}.id, round(a{iters}.s, 8) AS auth8, round(h{iters}.s, 8) AS hub8
FROM a{iters} JOIN h{iters} ON a{iters}.id = h{iters}.id
"""


SALSA_SQL = _salsa_sql(iters=10)


def _ppr_sql(iters: int = 10, damping: float = 0.85, mod: int = 50) -> str:
    """Personalized PageRank unrolled — mirrors
    operators/pagerank.py::personalized_pagerank expression by expression:
    restart AND dangling mass teleport to p(v) = 1[id % mod == 0]/|S|.
    Final round to 8dp absorbs float sum-reorder noise (same technique as
    the global-pagerank oracle)."""
    steps = []
    prev = "r0"
    for k in range(1, iters + 1):
        steps.append(
            f"""r{k} AS MATERIALIZED (
  SELECT vp.id,
         (1.0::DOUBLE - {damping}::DOUBLE) * vp.p
         + {damping}::DOUBLE * (coalesce(c.c, 0.0::DOUBLE) + dm.dm * vp.p) AS rank
  FROM vp
  CROSS JOIN (SELECT coalesce(sum(rank), 0.0::DOUBLE) AS dm
              FROM {prev} WHERE id IN (SELECT id FROM dang)) dm
  LEFT JOIN (SELECT ew.dst AS id, sum(r.rank * ew.w) AS c
             FROM ew JOIN {prev} r ON ew.src = r.id GROUP BY ew.dst) c
    ON vp.id = c.id
)"""
        )
        prev = f"r{k}"
    chain = ",\n".join(steps)
    return f"""
WITH {_E}, {_VERTS},
ns AS MATERIALIZED (SELECT count(*)::DOUBLE AS ns FROM v WHERE id % {mod} = 0),
vp AS MATERIALIZED (
  SELECT id, (CASE WHEN id % {mod} = 0 THEN 1 ELSE 0 END)::DOUBLE / (SELECT ns FROM ns) AS p
  FROM v),
od AS MATERIALIZED (SELECT src AS id, count(*)::DOUBLE AS od FROM e GROUP BY src),
ew AS MATERIALIZED (SELECT e.src, e.dst, 1.0::DOUBLE / od.od AS w FROM e JOIN od ON e.src = od.id),
dang AS MATERIALIZED (SELECT id FROM v WHERE id NOT IN (SELECT id FROM od)),
r0 AS MATERIALIZED (SELECT id, p AS rank FROM vp),
{chain}
SELECT id, round(rank, 8) AS rank8 FROM {prev}
"""


PPR_SQL = _ppr_sql(iters=10, damping=0.85, mod=50)


def _kcore_sql(k: int = 3, rounds: int = 8) -> str:
    """k-core peeling unrolled as `rounds` CTE pairs (surviving edges,
    surviving ids) — mirrors operators/kcore.py round by round.
    All-integer: exact."""
    steps = []
    prev = "s0"
    for r in range(1, rounds + 1):
        steps.append(
            f"""e{r} AS MATERIALIZED (
  SELECT und.a, und.b FROM und
  JOIN {prev} sa ON und.a = sa.id
  JOIN {prev} sb ON und.b = sb.id
),
s{r} AS MATERIALIZED (
  SELECT id FROM (
    SELECT id, count(*) AS deg FROM (
      SELECT a AS id FROM e{r} UNION ALL SELECT b AS id FROM e{r}
    ) ends GROUP BY id
  ) d WHERE deg >= {k}
)"""
        )
        prev = f"s{r}"
    chain = ",\n".join(steps)
    return f"""
WITH {_E},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst),
s0 AS MATERIALIZED (SELECT a AS id FROM und UNION SELECT b FROM und),
{chain}
SELECT id FROM {prev}
"""


KCORE_SQL = _kcore_sql(k=3, rounds=8)


MEDIA_FEATURES_SQL = f"""
WITH m AS (
  SELECT media_id, kind, sha256(payload) AS hx
  FROM read_parquet('{_MEDIA_ART}/*.parquet')
)
SELECT media_id, kind, i AS dim_idx,
       ((strpos('0123456789abcdef', substr(hx, 2*i + 1, 1)) - 1) * 16.0
        + (strpos('0123456789abcdef', substr(hx, 2*i + 2, 1)) - 1)) / 256.0 AS value
FROM m, generate_series(0, 15) AS t(i)
"""


DIST_QUANTILES_SQL = f"""
WITH RECURSIVE {_E}, {_VERTS},
lm AS (SELECT DISTINCT id FROM v WHERE id % 100 = 0),
walk(lm, id, dist) AS (
  SELECT id, id, 0 FROM lm
  UNION
  SELECT w.lm, e.dst, w.dist + 1 FROM walk w JOIN e ON w.id = e.src
  WHERE w.dist < 32
),
md AS (SELECT lm, id, min(dist) AS d FROM walk GROUP BY lm, id),
dd AS (SELECT d FROM md WHERE d > 0),
hist AS (SELECT d, count(*) AS c FROM dd GROUP BY d),
cum AS (SELECT d, sum(c) OVER (ORDER BY d) AS cum FROM hist),
tot AS (SELECT count(*) AS n FROM dd)
SELECT max(n) AS n_pairs,
       min(CASE WHEN cum >= floor(0.5 * (n - 1)) + 1 THEN d END) AS p50,
       min(CASE WHEN cum >= floor(0.9 * (n - 1)) + 1 THEN d END) AS p90,
       min(CASE WHEN cum >= floor(0.99 * (n - 1)) + 1 THEN d END) AS p99,
       max(d) AS dmax
FROM cum CROSS JOIN tot
"""


HARMONIC_SQL = f"""
WITH RECURSIVE {_E}, {_VERTS},
lm AS (SELECT id FROM v WHERE id % 100 = 0),
walk(lm, id, dist) AS (
  SELECT id, id, 0 FROM lm
  UNION
  SELECT w.lm, e.dst, w.dist + 1 FROM walk w JOIN e ON w.id = e.src
  WHERE w.dist < 32
),
md AS (SELECT lm, id, min(dist) AS d FROM walk GROUP BY lm, id),
agg AS (
  SELECT id, count(*) AS n_reached, round(sum(1.0 / d), 6) AS harmonic6
  FROM md WHERE d > 0 GROUP BY id
),
uni AS (SELECT DISTINCT id FROM v)
SELECT uni.id, coalesce(agg.n_reached, 0) AS n_reached,
       coalesce(agg.harmonic6, 0.0::DOUBLE) AS harmonic6
FROM uni LEFT JOIN agg ON uni.id = agg.id
"""


BFS_DIST_SQL = f"""
WITH RECURSIVE {_E}, {_VERTS},
s AS (SELECT id FROM v WHERE id % 100 = 0),
walk(id, dist) AS (
  SELECT id, 0 FROM s
  UNION
  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON w.id = e.src WHERE w.dist < 64
)
SELECT id, min(dist)::BIGINT AS dist FROM walk GROUP BY id
"""


RECIPROCITY_SQL = f"""
WITH {_E},
t AS (SELECT count(*) AS n_edges FROM e),
r AS (SELECT count(*) AS n_recip
      FROM e e1 JOIN e e2 ON e1.src = e2.dst AND e1.dst = e2.src)
SELECT t.n_edges::BIGINT AS n_edges, r.n_recip::BIGINT AS n_recip,
       round(r.n_recip / t.n_edges::DOUBLE, 8) AS reciprocity
FROM t, r
"""


def _lpa_sql(rounds: int = 4) -> str:
    """Synchronous LPA unrolled as `rounds` CTEs. Winner per vertex =
    neighbor label with max count, ties -> MIN label — exactly
    max_by(nl, struct(c, -nl)) in operators/lpa.py. All-integer: exact."""
    steps = []
    prev = "l0"
    for k in range(1, rounds + 1):
        steps.append(
            f"""l{k} AS MATERIALIZED (
  SELECT l.id, coalesce(w.winner, l.label) AS label
  FROM {prev} l LEFT JOIN (
    SELECT dst AS id, nl AS winner FROM (
      SELECT und.dst, p.label AS nl, count(*) AS c,
             row_number() OVER (PARTITION BY und.dst
                                ORDER BY count(*) DESC, p.label ASC) AS rn
      FROM und JOIN {prev} p ON und.src = p.id
      GROUP BY und.dst, p.label
    ) t WHERE rn = 1
  ) w ON l.id = w.id
)"""
        )
        prev = f"l{k}"
    chain = ",\n".join(steps)
    return f"""
WITH {_E},
und AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
v AS (SELECT DISTINCT src AS id FROM und),
l0 AS MATERIALIZED (SELECT id, id AS label FROM v),
{chain}
SELECT id, label FROM {prev}
"""


LPA_SQL = _lpa_sql(rounds=4)


MODULARITY_SQL = f"""
WITH labels AS ({_lpa_sql(rounds=4).strip()}),
e2 AS ({DERIVED_EDGES_SQL}),
su AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       FROM e2 WHERE src <> dst),
mm AS (SELECT count(*) AS m_edges FROM su),
nc AS (SELECT count(DISTINCT label) AS n_comms FROM labels),
deg AS (SELECT id, count(*) AS d FROM (
          SELECT a AS id FROM su UNION ALL SELECT b FROM su
        ) ends GROUP BY id),
intra AS (
  SELECT la.label AS c, count(*) AS inc
  FROM su JOIN labels la ON su.a = la.id JOIN labels lb ON su.b = lb.id
  WHERE la.label = lb.label GROUP BY la.label
),
dc AS (SELECT l.label AS c, sum(deg.d) AS dc
       FROM deg JOIN labels l ON deg.id = l.id GROUP BY l.label),
per_c AS (SELECT dc.c, coalesce(intra.inc, 0) AS inc, dc.dc
          FROM dc LEFT JOIN intra ON dc.c = intra.c)
SELECT max(mm.m_edges) AS m_edges, max(nc.n_comms) AS n_comms,
       round(sum(inc / mm.m_edges::DOUBLE
                 - (dc / (2.0 * mm.m_edges)) * (dc / (2.0 * mm.m_edges))), 6)
         AS modularity6
FROM per_c CROSS JOIN mm CROSS JOIN nc
"""




CORPUS_SCC_SQL = f"""
WITH RECURSIVE
e AS (SELECT DISTINCT src, dst
      FROM read_parquet('{_CORPUS_ART}/edges/*.parquet') WHERE src <> dst),
v AS (SELECT DISTINCT id FROM read_parquet('{_CORPUS_ART}/verts/*.parquet')),
reach(a, b) AS (SELECT src, dst FROM e UNION
                SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
mutual AS (
  SELECT r1.a, r1.b FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
)
SELECT v.id AS id, least(v.id, coalesce(min(m.b), v.id)) AS scc_id
FROM v LEFT JOIN mutual m ON v.id = m.a
GROUP BY v.id
"""


def _simhash_sql() -> str:
    """Mirrors functions/dedup.py simhash: token hash = first 16 hex of
    sha256(token); 64 per-bit strict-majority votes; 16-char hex output."""
    hex_ = "0123456789abcdef"
    sums, chars = [], []
    for j in range(1, 17):
        dig = f"(strpos('{hex_}', substring(sha, {j}, 1)) - 1)"
        for b in range(4):
            sums.append(f"sum(({dig} >> {b}) & 1) AS s{j}_{b}")
        val = " + ".join(
            f"(CASE WHEN 2 * s{j}_{b} > n THEN {1 << b} ELSE 0 END)" for b in range(4)
        )
        chars.append(f"substring('{hex_}', 1 + ({val}), 1)")
    return f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM documents, LATERAL unnest(string_split_regex(text, '[ \\t\\r\\n\\x0B\\f]+')) AS t(tok)
  WHERE length(tok) > 0
),
h AS (SELECT doc_id, sha256(tok) AS sha FROM toks),
agg AS (SELECT doc_id, count(*) AS n, {", ".join(sums)} FROM h GROUP BY doc_id),
sh AS (SELECT doc_id, concat({", ".join(chars)}) AS simhash FROM agg)
SELECT d.doc_id, coalesce(sh.simhash, '{"0" * 16}') AS simhash
FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
"""


SIMHASH_SQL = _simhash_sql()


def _ann_lsh_sql(
    query_ids=(0, 1, 2, 3, 4), k: int = 5, n_planes: int = 8,
    n_tables: int = 20, probe_hamming: int = 1, seed: int = 7, dims: int = 64,
) -> str:
    """Mirrors functions/similarity.py ann_topk_lsh with the SAME literal
    plane-weight matrices and probe mask list (both sha256-derived and
    generated by the shared Python helpers)."""
    from detectingscc_spark.functions.similarity import plane_weights, probe_offsets

    def bucket_expr(table_seed: int) -> str:
        W = plane_weights(n_planes, table_seed, dims)
        return " + ".join(
            "(CASE WHEN list_dot_product(v[1:{d}], [{w}]::DOUBLE[]) >= 0"
            " THEN {v2p} ELSE 0 END)".format(
                d=dims, w=",".join(repr(x) for x in W[p]), v2p=1 << p
            )
            for p in range(n_planes)
        )

    bk_parts = "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS tbl, ({bucket_expr(seed + 1000 * t)}) AS bucket FROM base"
        for t in range(n_tables)
    )
    probes = ", ".join(f"xor(bucket, {m})" for m in probe_offsets(n_planes, probe_hamming))
    ids = ",".join(str(int(i)) for i in query_ids)
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS norm
  FROM embeddings
),
bk AS MATERIALIZED ({bk_parts}),
qp AS (
  SELECT q.vec_id AS query_id, q.tbl, p.b AS bucket
  FROM (SELECT * FROM bk WHERE vec_id IN ({ids})) q,
       LATERAL unnest([{probes}]) AS p(b)
),
cand AS (
  SELECT DISTINCT qp.query_id, bk.vec_id
  FROM qp JOIN bk ON bk.tbl = qp.tbl AND bk.bucket = qp.bucket
  WHERE bk.vec_id <> qp.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
         round(list_dot_product(q.v, b.v) / (q.norm * b.norm), 6) AS cos
  FROM cand c JOIN base b ON b.vec_id = c.vec_id JOIN base q ON q.vec_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= {k}
"""


ANN_LSH_SQL = _ann_lsh_sql()


def _ann_ivf_sql(
    query_ids=(0, 1, 2, 3, 4), k: int = 5, n_centroids: int = 16, n_probe: int = 8,
    cents_sql: str | None = None,
) -> str:
    """Mirrors functions/similarity.py ann_topk_ivf: centroid j =
    embedding j (or `cents_sql` — e.g. the persisted TRAINED centroids);
    cell = argmax cosine (ties -> lowest cid); probe the n_probe nearest
    cells; exact re-rank."""
    ids = ",".join(str(int(i)) for i in query_ids)
    if cents_sql is None:
        cents_sql = f"SELECT vec_id AS cid, v AS cv, norm AS cn FROM base WHERE vec_id < {n_centroids}"
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x*x), 'sum')) AS norm
  FROM embeddings
),
cents AS ({cents_sql}),
ascore AS MATERIALIZED (
  SELECT b.vec_id, c.cid,
         round(list_dot_product(b.v, c.cv) / (b.norm * c.cn), 6) AS ccos
  FROM base b CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
    FROM ascore
  ) t WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS pr
    FROM ascore WHERE vec_id IN ({ids})
  ) t WHERE pr <= {n_probe}
),
cand AS (
  SELECT q.query_id, a.vec_id
  FROM qprobe q JOIN assign a ON a.cell = q.cell
  WHERE a.vec_id <> q.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
         round(list_dot_product(qb.v, b.v) / (qb.norm * b.norm), 6) AS cos
  FROM cand c JOIN base b ON b.vec_id = c.vec_id JOIN base qb ON qb.vec_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= {k}
"""


ANN_IVF_SQL = _ann_ivf_sql()

ANN_IVF_TRAINED_SQL = _ann_ivf_sql(
    cents_sql=(
        "SELECT cid, cv, "
        "sqrt(list_aggregate(list_transform(cv, x -> x*x), 'sum')) AS cn "
        f"FROM read_parquet('{_IVF_CENT_ART}/*.parquet')"
    )
)


def oracle_sql() -> dict[str, str]:
    return {
        "scc": SCC_SQL,
        "scc_partitioned": SCC_SQL,
        "scc_coloring": SCC_SQL,
        "scc_sizes": SCC_SIZES_SQL,
        "scc_dag": SCC_DAG_SQL,
        "wcc": WCC_SQL,
        "degrees": DEGREES_SQL,
        "trim1_round1": TRIM1_SQL,
        "triangle_total": TRIANGLE_TOTAL_SQL,
        "triangle_per_vertex": TRIANGLE_PER_VERTEX_SQL,
        "clustering_coeff": CLUSTERING_COEFF_SQL,
        "assortativity": ASSORTATIVITY_SQL,
        "pricing_summary": PRICING_SUMMARY_SQL,
        "top_orders": TOP_ORDERS_SQL,
        "nation_volume": NATION_VOLUME_SQL,
        "exact_dedup": EXACT_DEDUP_SQL,
        "text_stats": TEXT_STATS_SQL,
        "lang_guess": LANG_GUESS_SQL,
        "fingerprint": FINGERPRINT_SQL,
        "minhash_pairs": MINHASH_PAIRS_SQL,
        "near_dup_jaccard": NEAR_DUP_JACCARD_SQL,
        "dedup_clusters": DEDUP_CLUSTERS_SQL,
        "embedding_topk": EMBEDDING_TOPK_SQL,
        "embedding_dups": EMBEDDING_DUPS_SQL,
        "events_hourly": EVENTS_HOURLY_SQL,
        "sessionize": SESSIONIZE_SQL,
        "pagerank": PAGERANK_SQL,
        "edge_support": EDGE_SUPPORT_SQL,
        "ktruss4": KTRUSS_SQL,
        "link_prediction": LINK_PREDICTION_SQL,
        "eigencentrality": EIGEN_SQL,
        "dag_reach": DAG_REACH_SQL,
        "dag_layers": DAG_LAYERS_SQL,
        "bipartiteness": BIPARTITE_SQL,
        "degree_hist": DEGREE_HIST_SQL,
        "harmonic": HARMONIC_SQL,
        "dist_quantiles": DIST_QUANTILES_SQL,
        "hits": HITS_SQL,
        "salsa": SALSA_SQL,
        "lpa": LPA_SQL,
        "modularity": MODULARITY_SQL,
        "ppr": PPR_SQL,
        "kcore3": KCORE_SQL,
        "bfs_dist": BFS_DIST_SQL,
        "reciprocity": RECIPROCITY_SQL,
        "token_counts": TOKEN_COUNTS_SQL,
        "media_features": MEDIA_FEATURES_SQL,
        "corpus_scc": CORPUS_SCC_SQL,
        "simhash": SIMHASH_SQL,
        "ann_lsh": ANN_LSH_SQL,
        "ann_ivf": ANN_IVF_SQL,
        "ann_ivf_trained": ANN_IVF_TRAINED_SQL,
        "ann_lsh_indexed": _ann_lsh_sql(n_tables=8),
        "ann_ivf_indexed": ANN_IVF_SQL,
        "quality_filter": QUALITY_FILTER_SQL,
        "lang_histogram": LANG_HISTOGRAM_SQL,
        "ngram_topk": NGRAM_TOPK_SQL,
        "repetition_stats": REPETITION_STATS_SQL,
        "stratified_sample": STRATIFIED_SAMPLE_SQL,
        "bm25_topk": BM25_TOPK_SQL,
        "decontaminate": DECONTAMINATE_SQL,
        "dedup_sweep": DEDUP_SWEEP_SQL,
    }
