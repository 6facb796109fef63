"""Checkpoint/resume: a run restarted from a mid-algorithm durable
checkpoint must reproduce the uninterrupted run's output exactly
(north_rule resumability requirement)."""

import json
import os
import shutil

from detectingscc_spark.operators.scc import strongly_connected_components
from detectingscc_spark.plans.superstep import SuperstepRunner
from detectingscc_spark.sources.gtgraph import gtgraph_meta, read_gtgraph

from .conftest import FIXTURE_DATA


def _result_set(df):
    return sorted((r["id"], r["scc_id"]) for r in df.collect())


def test_scc_resume_identical(spark, tmp_path):
    path = os.path.join(FIXTURE_DATA, "sample128.gr")
    v, _ = gtgraph_meta(spark, path)
    edges = read_gtgraph(spark, path)
    verts = spark.range(1, v + 1)

    ck1 = str(tmp_path / "ck_full")
    r1 = SuperstepRunner(spark, checkpoint_dir=ck1, run_id="full", checkpoint_interval=1)
    full = _result_set(strongly_connected_components(spark, edges, verts, runner=r1))

    # simulate a crash: copy the checkpoint dir, drop everything after the
    # first mid-run manifest, and resume from it
    manifests = sorted(
        int(f.split("_")[1].split(".")[0])
        for f in os.listdir(ck1)
        if f.startswith("manifest_")
    )
    assert len(manifests) >= 2, "expected multiple durable checkpoints"
    cut = manifests[0]
    ck2 = str(tmp_path / "ck_resume")
    shutil.copytree(ck1, ck2)
    for f in os.listdir(ck2):
        if f.startswith("manifest_"):
            step = int(f.split("_")[1].split(".")[0])
            if step > cut:
                os.remove(os.path.join(ck2, f))

    r2 = SuperstepRunner(spark, checkpoint_dir=ck2, run_id="resumed", checkpoint_interval=1)
    resumed = _result_set(strongly_connected_components(spark, edges, verts, runner=r2))
    assert resumed == full
    # resumed run must have started at the cut superstep, not from scratch
    assert r2.superstep >= cut


def test_resume_orc_state_format(spark, tmp_path):
    """state_format is passed verbatim to the datasource writer/reader
    (parquet default; 'iceberg' on a cluster with the runtime jar). Proven
    format-agnostic here with ORC: the state files on disk are ORC, the
    manifest records the format, and resume from an ORC checkpoint
    reproduces the uninterrupted run exactly — reading with the MANIFEST's
    format even when the restarted runner is configured differently."""
    path = os.path.join(FIXTURE_DATA, "sample128.gr")
    v, _ = gtgraph_meta(spark, path)
    edges = read_gtgraph(spark, path)
    verts = spark.range(1, v + 1)

    ck = str(tmp_path / "ck_orc")
    r1 = SuperstepRunner(spark, checkpoint_dir=ck, run_id="orc",
                         checkpoint_interval=1, state_format="orc")
    full = _result_set(strongly_connected_components(spark, edges, verts, runner=r1))

    manifests = sorted(
        int(f.split("_")[1].split(".")[0])
        for f in os.listdir(ck) if f.startswith("manifest_")
    )
    assert manifests
    with open(os.path.join(ck, f"manifest_{manifests[0]}.json")) as f:
        assert json.load(f)["format"] == "orc"
    state_files = [
        f
        for root, _dirs, files in os.walk(os.path.join(ck, f"state_{manifests[0]}"))
        for f in files if not f.startswith((".", "_"))
    ]
    assert state_files and all(f.endswith(".orc") for f in state_files)

    # drop all but the first manifest, then resume with a runner whose OWN
    # format is the parquet default: the manifest's recorded format wins
    for step in manifests[1:]:
        os.remove(os.path.join(ck, f"manifest_{step}.json"))
    r2 = SuperstepRunner(spark, checkpoint_dir=ck, run_id="orc", checkpoint_interval=1)
    assert r2.resume() is not None, "ORC checkpoint must be resumable"
    r2b = SuperstepRunner(spark, checkpoint_dir=ck, run_id="orc", checkpoint_interval=1)
    resumed = _result_set(strongly_connected_components(spark, edges, verts, runner=r2b))
    assert resumed == full


def test_manifest_contents(spark, tmp_path):
    path = os.path.join(FIXTURE_DATA, "sample5.gr")
    v, _ = gtgraph_meta(spark, path)
    edges = read_gtgraph(spark, path)
    ck = str(tmp_path / "ck")
    r = SuperstepRunner(spark, checkpoint_dir=ck, run_id="m", checkpoint_interval=1)
    strongly_connected_components(spark, edges, spark.range(1, v + 1), runner=r)
    manifests = [f for f in os.listdir(ck) if f.startswith("manifest_")]
    assert manifests
    with open(os.path.join(ck, sorted(manifests)[-1])) as f:
        m = json.load(f)
    # counters (reference parity: scc_WCC.cu:600-603) + per-partition lineage
    assert m["counters"]["iterations"] >= 1
    assert m["counters"]["Trimm_iterations"] >= 1
    assert "active" in m["lineage"] and "done" in m["lineage"]
    for part in m["lineage"]["done"]:
        assert set(part) == {"partition", "rows"}
