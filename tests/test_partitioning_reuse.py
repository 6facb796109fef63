"""Round-7 load-bearing mechanism guard.

The iterative engines persist their loop-invariant edge frames through
`SuperstepRunner.keyed_edges`, keyed by the aggregation key (broadcast
regime) so every superstep's aggregation plans as a partial+final
HashAggregate pair with NO shuffle Exchange: this works because
`persist()` preserves a frame's physical partitioning through
`tick(truncate=False)` while `localCheckpoint()` does not.
Every persisted edge frame goes through `keyed_edges`: WCC, LPA,
PageRank, HITS/SALSA/eigencentrality, the FB engine's decomposition and
BFS edges (keyed by (dir, dst) / (dir, src)), and coloring's propagation
and class-BFS copies (the SCC callers also size theirs by edge count,
OPTIMIZATION_r07.md).
If a Spark upgrade ever stops propagating partitioning through
persist + broadcast join + projection, these assertions flag it before
the bench does.
"""

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def _n_shuffle_exchanges_outside_cache(df) -> int:
    """Count shuffle Exchange operators in the TOP-LEVEL plan only (the
    one-time cached-build subtree inside InMemoryRelation is expected to
    contain the keying exchange)."""
    s = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    total = 0
    for line in s.splitlines():
        if "InMemoryRelation" in line:
            break  # everything below is the cached build
        if "Exchange" in line and "BroadcastExchange" not in line:
            total += 1
    return total


def test_persist_preserves_partitioning_for_exchange_free_agg(spark):
    e = spark.range(50_000).select(
        (F.col("id") % 997).alias("src"), ((F.col("id") * 7) % 997).alias("dst")
    )
    lab = (
        spark.range(997)
        .select(F.col("id"), F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    ep = e.repartition("src").persist(StorageLevel.MEMORY_AND_DISK)
    ep.write.format("noop").mode("overwrite").save()
    # the tick(detach=False) alias projection must not drop partitioning
    ep = ep.select([F.col(c).alias(c) for c in ep.columns])
    pull = (
        ep.join(
            F.broadcast(lab.select(F.col("id").alias("dst"), F.col("label").alias("nl"))),
            "dst",
        )
        .groupBy("src")
        .agg(F.min("nl").alias("nmin"))
    )
    assert _n_shuffle_exchanges_outside_cache(pull) == 0, (
        "broadcast join + projection no longer carry persisted hash "
        "partitioning into the aggregation — the engines' exchange-free "
        "superstep shape (OPTIMIZATION_r07.md) is broken"
    )
    # result sanity: the exchange-free plan computes the same aggregate
    expected = (
        e.join(lab.select(F.col("id").alias("dst"), F.col("label").alias("nl")), "dst")
        .groupBy("src")
        .agg(F.min("nl").alias("nmin"))
    )
    got = {(r["src"], r["nmin"]) for r in pull.collect()}
    want = {(r["src"], r["nmin"]) for r in expected.collect()}
    assert got == want
    ep.unpersist()


def test_localcheckpoint_does_not_preserve_partitioning(spark):
    """Documents the asymmetry the engines code around: if this ever
    starts passing the exchange-free way, the persist work-arounds can
    be simplified (and this test updated) — either way it should be a
    conscious decision, not a silent plan change."""
    e = spark.range(50_000).select(
        (F.col("id") % 997).alias("src"), ((F.col("id") * 7) % 997).alias("dst")
    )
    ck = e.repartition("src").localCheckpoint(eager=True)
    agg = ck.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    assert _n_shuffle_exchanges_outside_cache(agg) >= 1


def test_keyed_edges_picks_the_key_by_regime(spark):
    """Under the broadcast limit the edges are keyed by the aggregation
    key (the per-superstep aggregation needs no exchange) and, given
    `rows`, sized by `part_target`; past it they are keyed by the join
    key. Keys may span columns."""
    from detectingscc_spark.plans import superstep
    from detectingscc_spark.plans.superstep import SuperstepRunner

    e = spark.range(50_000).select(
        (F.col("id") % 997).alias("src"), ((F.col("id") * 7) % 997).alias("dst")
    )
    lab = spark.range(997).select(F.col("id").alias("src"), F.col("id").alias("nl"))
    runner = SuperstepRunner(spark)

    ke = runner.keyed_edges("edges", e, "dst", "src", 997)
    pull = ke.join(superstep.bc(lab, 997), "src").groupBy("dst").agg(F.sum("nl").alias("s"))
    assert _n_shuffle_exchanges_outside_cache(pull) == 0
    assert _n_shuffle_exchanges_outside_cache(ke.groupBy("src").count()) >= 1

    past = superstep.BROADCAST_ROW_LIMIT + 1
    ke = runner.keyed_edges("edges", e, "dst", "src", past)
    assert _n_shuffle_exchanges_outside_cache(ke.groupBy("src").count()) == 0
    assert _n_shuffle_exchanges_outside_cache(ke.groupBy("dst").count()) >= 1
    # the result sanity of the keyed frame: same rows as its input
    assert ke.count() == e.count()

    # the FB BFS edges: keyed by (dir, dst), the hop's dedup key, and sized
    # by the caller's row count under the limit; by (dir, src), the hop's
    # join key, past it
    ed = spark.range(50_000).select(
        (F.col("id") % 2).alias("dir"), (F.col("id") % 997).alias("src"), ((F.col("id") * 7) % 997).alias("dst")
    )
    front = spark.range(0, 997, 3).select(F.lit(0).cast("long").alias("dir"), F.col("id").alias("src"))
    rows = 1_500_000
    parts = superstep.part_target(rows)
    assert 1 < parts < int(spark.conf.get("spark.sql.shuffle.partitions"))
    ke = runner.keyed_edges("bfs_ed", ed, ["dir", "dst"], ["dir", "src"], 997, rows=rows)
    assert ke.rdd.getNumPartitions() == parts
    hop = ke.join(superstep.bc(front, 333), ["dir", "src"]).select("dir", F.col("dst").alias("id")).distinct()
    assert _n_shuffle_exchanges_outside_cache(hop) == 0
    assert _n_shuffle_exchanges_outside_cache(ke.groupBy("dir", "src").count()) >= 1

    ke = runner.keyed_edges("bfs_ed", ed, ["dir", "dst"], ["dir", "src"], past, rows=rows)
    assert _n_shuffle_exchanges_outside_cache(ke.groupBy("dir", "src").count()) == 0
    assert _n_shuffle_exchanges_outside_cache(ke.groupBy("dir", "dst").count()) >= 1
    assert ke.count() == ed.count()
    runner.release_all()
