"""The benchmark's own tests: `python3 -m pytest perfbench -q` from the
repository root. The end-to-end cases start Spark once per workload and
trace mode, so the whole file takes a few minutes."""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import oracles  # noqa: E402
import run  # noqa: E402
from tracing import TICK_TAG, LayerStats, parse_event_log  # noqa: E402
from workloads import WORKLOADS, Call  # noqa: E402

from tests.oracles import pagerank_numpy  # noqa: E402

SPEC = run.load_spec()
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in SPEC[key]]
    assert len(names) == len(set(names))
    for key in ("end_to_end", "per_layer"):
        for m in SPEC[key]:
            assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
            assert m["better"] in ("higher", "lower"), m
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    bounds = [m["bound"] for m in SPEC["end_to_end"]]
    assert all(0 < b <= 0.25 for b in bounds) and setup[0]["bound"] == max(bounds)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_metric_assembly_covers_spec(workload):
    """Every named metric is produced for every workload, without Spark."""
    steps = WORKLOADS[workload].steps
    it = SimpleNamespace(
        calls={s: Call(s, 1.0) for s in steps}, stats=LayerStats(), sha_mismatch=0,
        checkpoint_bytes=0, resume_s=0.0, job_wall_s=float(len(steps)), job_cpu_s=1.0,
    )
    bench = SimpleNamespace(session_s=[1.0], corpus_s=[1.0], cores=4)
    per_layer = run.layer_metrics(bench, it, {}, {}, n_edges=10) | {"peak_rss_mb": 100.0}
    assert {m["name"] for m in SPEC["per_layer"]} <= per_layer.keys()
    e2e = run.end_to_end_metrics([1.0, 2.0, 3.0], [4.0], n_edges=10)
    assert {m["name"] for m in SPEC["end_to_end"]} <= e2e.keys()


def test_event_log_totals(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "scc", "spark.job.tags": TICK_TAG}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "scc"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    ]
    task = {"Executor Run Time": 500, "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}
    events += [{"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": task} for sid in (0, 1, 2, 3)]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups, tags = parse_event_log(str(log))
    assert set(groups) == {"scc"}
    scc = groups["scc"]
    assert (scc.jobs, scc.tasks, scc.shuffle_read_bytes, scc.shuffle_write_bytes) == (2, 3, 9, 15)
    assert scc.run_time_s == pytest.approx(1.5)
    # stage 1 belongs to the first job that listed it, which carried the tag
    assert (tags[TICK_TAG].jobs, tags[TICK_TAG].tasks) == (1, 2)


def test_vectorized_pagerank_matches_loop_oracle():
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 3), (4, 0), (0, 1)]
    verts = [0, 1, 2, 3, 4, 5]
    want = pagerank_numpy(edges, verts, iters=20, tol=0.0)
    got = oracles.pagerank_fixed(edges, verts, iters=20)
    assert oracles.ranks_match(got, want, rtol=1e-12)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_run_emits_every_metric_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
