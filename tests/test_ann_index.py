"""Persisted ANN index: the pruned-scan probe must (a) return exactly
the recompute-everything operator's rows, and (b) actually PRUNE — the
files opened by the probe scan must be a strict subset of the index,
confined to the probed (tbl, bucket) / cell directories."""

import os
import re

from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_SF_TEST", "/root/testdata/sf0.001")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _rows(df):
    return sorted(
        (r["query_id"], r["vec_id"], r["cos"], r["rank"]) for r in df.collect()
    )


def test_lsh_indexed_matches_recompute_and_prunes(spark, tmp_path):
    from detectingscc_spark.functions.ann_index import (
        ann_topk_lsh_indexed,
        pruned_lsh_scan,
        write_lsh_index,
    )
    from detectingscc_spark.functions.similarity import (
        ann_topk_lsh,
        lsh_buckets_multi,
        probe_offsets,
    )

    emb = _emb(spark)
    path = str(tmp_path / "lsh_index")
    # small table count keeps the fixture's directory fan-out sane
    n_tables = 4
    write_lsh_index(emb, path, n_tables=n_tables)
    qids = [0, 1, 2, 3, 4]

    live = ann_topk_lsh(emb, qids, k=5, n_tables=n_tables)
    idx = ann_topk_lsh_indexed(spark, path, emb, qids, k=5, n_tables=n_tables)
    assert _rows(idx) == _rows(live)

    # pruning: reconstruct the probe pairs and assert the pruned scan
    # opens ONLY files under the probed partition directories, and fewer
    # files than the whole index holds
    qb = lsh_buckets_multi(emb.where(F.col("vec_id").isin(qids)), 8, n_tables)
    offs = probe_offsets(8, 1)
    pairs = sorted(
        {
            (r["tbl"], r["bucket"] ^ m)
            for r in qb.collect()
            for m in offs
        }
    )
    scan = pruned_lsh_scan(spark, path, pairs)
    read_files = [r[0] for r in scan.select(F.input_file_name()).distinct().collect()]
    assert read_files, "pruned scan read nothing"
    allowed = {f"tbl={t}/bucket={b}/" for t, b in pairs}
    for f in read_files:
        m = re.search(r"(tbl=\d+/bucket=\d+)/", f)
        assert m and (m.group(1) + "/") in allowed, f"file outside probed buckets: {f}"
    all_files = [
        r[0]
        for r in spark.read.parquet(path).select(F.input_file_name()).distinct().collect()
    ]
    assert len(read_files) < len(all_files), "probe scanned the whole index"


def test_lsh_pruned_scan_lists_probed_dirs_of_a_uri(spark, tmp_path):
    """A file:// URI takes the same pruned listing as a local path: the
    scan's input files all lie under a probed tbl=/bucket= directory."""
    from detectingscc_spark.functions.ann_index import pruned_lsh_scan

    rows = [(t, b, 10 * t + b, [1.0, float(b)], 1.0) for t in range(2) for b in range(4)]
    root = tmp_path / "lsh_2x4"
    (
        spark.createDataFrame(rows, "tbl int, bucket int, vec_id long, v array<double>, norm double")
        .write.partitionBy("tbl", "bucket")
        .parquet(str(root))
    )
    pairs = [(0, 1), (1, 2), (1, 3)]
    scan = pruned_lsh_scan(spark, root.as_uri(), pairs)
    files = scan.inputFiles()
    assert files
    for f in files:
        m = re.search(r"tbl=(\d+)/bucket=(\d+)/", f)
        assert m and (int(m.group(1)), int(m.group(2))) in pairs, f"file outside probed buckets: {f}"
    assert sorted(r["vec_id"] for r in scan.collect()) == [1, 12, 13]


def test_ivf_indexed_matches_recompute_and_prunes(spark, tmp_path):
    from detectingscc_spark.functions.ann_index import (
        ann_topk_ivf_indexed,
        write_ivf_index,
    )
    from detectingscc_spark.functions.similarity import ann_topk_ivf

    emb = _emb(spark)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, path, n_centroids=16)
    qids = [0, 1, 2, 3, 4]

    live = ann_topk_ivf(emb, qids, k=5, n_centroids=16, n_probe=4)
    idx = ann_topk_ivf_indexed(spark, path, emb, qids, k=5, n_probe=4)
    assert _rows(idx) == _rows(live)

    # with n_probe=4 of 16 cells, the probe must not touch every cell dir
    cents = spark.read.parquet(path + "_centroids")
    assert cents.count() == 16
    # the probe's literal `cell IN (...)` predicate prunes at the
    # partition-directory level: a 2-cell filter opens only those dirs
    some = [
        int(r["cell"])
        for r in spark.read.parquet(path).select("cell").distinct().limit(2).collect()
    ]
    scan = spark.read.parquet(path).where(F.col("cell").isin(some))
    read_files = [r[0] for r in scan.select(F.input_file_name()).distinct().collect()]
    assert read_files
    for f in read_files:
        m = re.search(r"cell=(\d+)/", f)
        assert m and int(m.group(1)) in some, f"file outside probed cells: {f}"
    all_files = [
        r[0]
        for r in spark.read.parquet(path).select(F.input_file_name()).distinct().collect()
    ]
    assert len(read_files) < len(all_files), "cell filter scanned the whole index"


def test_ivf_indexed_trained_quantizer(spark, tmp_path):
    from detectingscc_spark.functions.ann_index import (
        ann_topk_ivf_indexed,
        write_ivf_index,
    )
    from detectingscc_spark.functions.similarity import ann_topk_ivf, train_ivf_centroids

    emb = _emb(spark)
    cents = train_ivf_centroids(emb, n_centroids=8, iters=3)
    path = str(tmp_path / "ivf_trained")
    write_ivf_index(emb, path, n_centroids=8, centroids=cents)
    qids = [0, 1, 2]
    live = ann_topk_ivf(emb, qids, k=5, n_centroids=8, n_probe=3, centroids=cents)
    idx = ann_topk_ivf_indexed(spark, path, emb, qids, k=5, n_probe=3)
    assert _rows(idx) == _rows(live)


def test_cli_ann_ivf_build_then_probe_inprocess(spark, tmp_path, monkeypatch):
    """The --index-kind ivf branch of the ann-build/ann-probe CLI
    (the LSH branch is covered end-to-end via spark-submit in
    test_submit.py): build persists the inverted lists + centroid
    table, probe writes result parquet + metrics with probe_time_sec.
    In-process (main() never stops the session), so it reuses the
    suite's SparkSession instead of paying a fresh JVM."""
    import json
    import sys

    from detectingscc_spark.__main__ import main

    emb_path = f"{SF}/embeddings.parquet"
    idx = tmp_path / "ivf_idx"
    monkeypatch.setattr(sys, "argv", [
        "detectingscc_spark", "--algo", "ann-build", "--index-kind", "ivf",
        "--input", emb_path, "--index-path", str(idx),
        "--output", str(tmp_path / "build_out"),
    ])
    main()
    assert os.path.exists(idx / "_SUCCESS")
    assert os.path.exists(str(idx) + "_centroids/_SUCCESS")

    monkeypatch.setattr(sys, "argv", [
        "detectingscc_spark", "--algo", "ann-probe", "--index-kind", "ivf",
        "--query-ids", "0,1,2", "--topk", "3", "--recall-against", "brute",
        "--input", emb_path, "--index-path", str(idx),
        "--output", str(tmp_path / "probe_out"),
    ])
    main()
    with open(tmp_path / "probe_out" / "metrics.json") as f:
        metrics = json.load(f)
    assert metrics["algo"] == "ann-probe" and metrics["rows"] > 0
    assert "probe_time_sec" in metrics
    assert 0.0 < metrics["recall"] <= 1.0
    got = spark.read.parquet(str(tmp_path / "probe_out" / "result"))
    assert got.count() == metrics["rows"]
