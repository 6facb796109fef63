"""Persisted ANN indexes with pruned-scan probes.

The in-memory ANN operators (similarity.ann_topk_lsh / ann_topk_ivf)
recompute buckets / cells from raw embeddings on every query. A real
100 TB pipeline builds the index ONCE and serves queries against the
persisted artifact. This module is that write side plus the matching
read side:

  write_lsh_index    (tbl, bucket, vec_id, v, norm) parquet, PARTITIONED
                     BY (tbl, bucket) — one directory per LSH bucket per
                     hash table. Vector + norm are stored in the index
                     rows, so a probe never touches the raw table.
  ann_topk_lsh_indexed  probes the persisted index: the query set's
                     multi-probe (tbl, bucket) pairs are collected (a
                     tiny |Q| x L x offsets list) and pushed as LITERAL
                     partition predicates, so the scan reads ONLY the
                     probed bucket directories (static partition
                     pruning — no full-index read, no recompute).
  write_ivf_index    (cell, vec_id, v, norm) parquet PARTITIONED BY
                     cell (the inverted lists), plus the centroid table
                     at <path>_centroids — the Faiss-IVF on-disk shape.
  ann_topk_ivf_indexed  loads the K persisted centroids (tiny), derives
                     each query's n_probe cells with EXACTLY the
                     operator's arithmetic (same rounding/tie-break),
                     and scans only those cell directories.

Both probes return the same (query_id, vec_id, cos, rank) rows as their
recompute-everything counterparts with the same parameters — that
equivalence is the correctness gate (oracle + tests), and partition
pruning is asserted at runtime via input_file_name() in
tests/test_ann_index.py.

At cluster scale the only change is the path (object store instead of a
local directory): partitioned parquet + literal partition predicates
prune identically on any Spark deployment.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .similarity import (
    ANN_DIMS,
    _centroid_frame,
    _dot,
    _norm,
    ivf_cells,
    lsh_buckets_multi,
    probe_offsets,
)


def _vec_frame(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("norm", _norm(F.col("v")))


def write_lsh_index(
    emb: DataFrame,
    path: str,
    n_planes: int = 8,
    n_tables: int = 20,
    seed: int = 7,
    dims: int = ANN_DIMS,
) -> None:
    """Build and persist the multi-table LSH index: one parquet dataset
    partitioned by (tbl, bucket). ONE scan of the embedding table
    computes all L bucket ids (lsh_buckets_multi); vectors ride along so
    the probe side is self-contained."""
    b = lsh_buckets_multi(emb, n_planes, n_tables, seed, dims)
    rows = b.join(_vec_frame(emb), "vec_id").select("tbl", "bucket", "vec_id", "v", "norm")
    # pin the writer parallelism: an un-sized repartition lets AQE
    # coalesce the tiny pre-write shuffle to ~1 task, which then creates
    # all n_tables * 2^n_planes partition-dir files SERIALLY (~11 ms of
    # open/close each — measured 24 s of a 30 s build at fixture scale).
    # Hashing the SAME keys over more tasks spreads file creation without
    # changing the layout: each (tbl, bucket) still lands in exactly one
    # task -> one file per bucket directory.
    n_dirs = n_tables * (1 << n_planes)
    spark = emb.sparkSession
    n_write = min(n_dirs, max(32, spark.sparkContext.defaultParallelism * 4))
    (
        rows.repartition(n_write, "tbl", "bucket")
        .write.mode("overwrite")
        .partitionBy("tbl", "bucket")
        .parquet(path)
    )


def pruned_lsh_scan(
    spark: SparkSession, path: str, probe_pairs: list[tuple[int, int]]
) -> DataFrame:
    """Read ONLY the probed (tbl, bucket) partitions of a persisted LSH
    index. The predicate is a literal OR of per-table bucket IN-lists
    over the two partition columns, so Catalyst resolves it against
    partition metadata (static partition pruning) — zero data files
    outside the probed directories are opened."""
    by_tbl: dict[int, set[int]] = {}
    for t, bkt in probe_pairs:
        by_tbl.setdefault(int(t), set()).add(int(bkt))
    if not by_tbl:
        # no probes (query ids matched no embedding rows): an empty
        # result with the index schema, not a reduce() TypeError
        return spark.read.parquet(path).where(F.lit(False))
    # hand the reader ONLY the probed bucket directories (basePath keeps
    # the partition columns), so file listing touches |probes|
    # directories instead of every bucket of every table — the listing
    # job was most of the probe's wall at fixture scale. They are listed
    # through the Hadoop FileSystem of `path`, so a local path, a file://
    # URI and an object store take the same route: one glob per table.
    # Pairs whose bucket holds no vectors have no directory and are
    # skipped — they contribute no rows either way.
    Path = spark._jvm.org.apache.hadoop.fs.Path
    root = Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    dirs = []
    for t, bs in sorted(by_tbl.items()):
        glob = Path(root, f"tbl={t}/bucket={{{','.join(map(str, sorted(bs)))}}}")
        dirs += [st.getPath().toString() for st in fs.globStatus(glob) or [] if st.isDirectory()]
    if not dirs:
        return spark.read.parquet(path).where(F.lit(False))
    idx = spark.read.option("basePath", path).parquet(*dirs)
    pred = reduce(
        lambda a, b: a | b,
        [
            (F.col("tbl") == t) & F.col("bucket").isin(sorted(bs))
            for t, bs in sorted(by_tbl.items())
        ],
    )
    return idx.where(pred)


def ann_topk_lsh_indexed(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 20,
    probe_hamming: int = 1,
    seed: int = 7,
    dims: int = ANN_DIMS,
) -> DataFrame:
    """Top-k probe of a persisted LSH index: same results as
    similarity.ann_topk_lsh with the same parameters, but candidates come
    from a pruned scan of the index instead of a full recompute. The
    probe list (|Q| x n_tables x offsets pairs) is tiny by construction
    and is collected to drive the literal partition predicate."""
    qids = [int(x) for x in query_ids]
    qb = lsh_buckets_multi(
        emb.where(F.col("vec_id").isin(qids)), n_planes, n_tables, seed, dims
    )
    offsets = probe_offsets(n_planes, probe_hamming)
    probes_expr = "array(" + ",".join(f"bucket ^ {m}" for m in offsets) + ")"
    probes = qb.select(
        F.col("vec_id").alias("query_id"),
        "tbl",
        F.explode(F.expr(probes_expr)).alias("bucket"),
    )
    probe_rows = probes.collect()
    pairs = sorted({(r["tbl"], r["bucket"]) for r in probe_rows})
    probe_df = spark.createDataFrame(
        [(r["query_id"], r["tbl"], r["bucket"]) for r in probe_rows],
        "query_id long, tbl int, bucket int",
    )
    cand = (
        pruned_lsh_scan(spark, path, pairs)
        .join(F.broadcast(probe_df), ["tbl", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "v", "norm")
        .dropDuplicates(["query_id", "vec_id"])
    )
    qv = _vec_frame(emb.where(F.col("vec_id").isin(qids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    scored = cand.join(F.broadcast(qv), "query_id").select(
        "query_id",
        "vec_id",
        F.round(_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("norm")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def write_ivf_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    centroids: list[list[float]] | None = None,
) -> None:
    """Persist the IVF inverted lists — (cell, vec_id, v, norm) parquet
    partitioned by cell — plus the quantizer's centroid table at
    <path>_centroids (cid, cv). Pass trained centroids from
    similarity.train_ivf_centroids for the production quantizer; the
    default persists the anchor-point quantizer's effective centroids so
    the probe side never needs the raw table."""
    assign = ivf_cells(emb, n_centroids, centroids)
    rows = assign.join(_vec_frame(emb), "vec_id").select("cell", "vec_id", "v", "norm")
    rows.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(path)
    cents = _centroid_frame(emb, n_centroids, centroids).select(
        F.col("cid").cast("int").alias("cid"), F.col("cv").cast("array<double>").alias("cv")
    )
    cents.coalesce(1).write.mode("overwrite").parquet(path + "_centroids")


def ann_topk_ivf_indexed(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 8,
) -> DataFrame:
    """Top-k probe of a persisted IVF index: same results as
    similarity.ann_topk_ivf with the same quantizer. The K persisted
    centroids are loaded (tiny) and each query's n_probe cells are
    derived with the operator's exact scoring expression (F.round to 6,
    ties -> lowest cid), then pushed as a literal `cell IN (...)`
    partition predicate — only the probed inverted lists are read."""
    qids = [int(x) for x in query_ids]
    cents = spark.read.parquet(path + "_centroids").withColumn("cn", _norm(F.col("cv")))
    qbase = _vec_frame(emb.where(F.col("vec_id").isin(qids)))
    qcent = qbase.crossJoin(F.broadcast(cents)).select(
        F.col("vec_id").alias("query_id"),
        "cid",
        F.round(_dot(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cn")), 6).alias("ccos"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cid").asc())
    probe_rows = (
        qcent.withColumn("pr", F.row_number().over(w_probe))
        .where(F.col("pr") <= n_probe)
        .select("query_id", F.col("cid").alias("cell"))
        .collect()
    )
    cells = sorted({int(r["cell"]) for r in probe_rows})
    probe_df = spark.createDataFrame(
        [(r["query_id"], r["cell"]) for r in probe_rows], "query_id long, cell int"
    )
    cand = (
        spark.read.parquet(path)
        .where(F.col("cell").isin(cells))
        .join(F.broadcast(probe_df), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "v", "norm")
    )
    qv = qbase.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    scored = cand.join(F.broadcast(qv), "query_id").select(
        "query_id",
        "vec_id",
        F.round(_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("norm")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
