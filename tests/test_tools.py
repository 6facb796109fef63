"""The measurement tools under tools/, without a JVM: `phases.py` on a
synthetic event log, `ab.py`'s verdict on canned pairs, and a compile
check of every tool so one that goes stale fails here."""

import json
import os
import py_compile
import sys
from glob import glob

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

import ab  # noqa: E402
import phases  # noqa: E402


def _job(jid, t0, t1, stages, tags=None, group=None):
    props = {}
    if tags:
        props["spark.job.tags"] = tags
    if group:
        props["spark.jobGroup.id"] = group
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
    ]


def _task(stage, run_ms, read=0, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms,
        "Shuffle Read Metrics": {"Remote Bytes Read": read, "Local Bytes Read": 0},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
    }}


def test_phases_table(tmp_path):
    start0, end0 = _job(0, 1000, 3000, [0, 1], "superstep-tick,phase:scc/bfs_new", "scc")
    start1, end1 = _job(1, 3000, 4000, [2], "phase:scc/done", "scc")
    start2, end2 = _job(2, 4000, 4500, [3], None, "scc")
    events = [
        start0, _task(0, 200, written=50), _task(1, 300, read=50), end0,
        start1, _task(2, 100), _task(2, 100), end1,
        start2, _task(3, 400, read=7, written=9), end2,
    ]
    log = tmp_path / "app-1"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))

    rows, coverage = phases.phase_table(str(log))
    assert set(rows) == {"phase:scc/bfs_new", "phase:scc/done", phases.UNTAGGED}
    bfs = rows["phase:scc/bfs_new"]
    assert (bfs.totals.jobs, bfs.totals.tasks, bfs.job_s) == (1, 2, 2.0)
    assert (bfs.totals.shuffle_read_bytes, bfs.totals.shuffle_write_bytes) == (50, 50)
    assert bfs.totals.run_time_s == pytest.approx(0.5)
    done = rows["phase:scc/done"]
    assert (done.totals.jobs, done.totals.tasks, done.job_s) == (1, 2, 1.0)
    un = rows[phases.UNTAGGED]
    assert (un.totals.jobs, un.totals.tasks, un.job_s) == (1, 1, 0.5)
    assert (un.totals.shuffle_read_bytes, un.totals.shuffle_write_bytes) == (7, 9)
    assert un.totals.run_time_s == pytest.approx(0.4)
    for key in (None, "scc"):
        c = coverage[key]
        assert (c.jobs, c.tagged_jobs, c.job_s, c.tagged_job_s) == (3, 2, 3.5, 3.0)
    text = phases.render(rows, coverage)
    assert "tagged 2/3 jobs (66.7%), 3.00/3.50 s job time (85.7%)" in text
    assert "phase:scc/bfs_new" in text.splitlines()[1]


A = [100.0, 102.0, 98.0, 101.0, 99.0, 100.0, 103.0, 97.0, 100.0, 101.0]


def test_ab_gain():
    b = [x - 10 for x in A]
    b[0] = 200.0  # one lost pair of ten
    assert ab.b_wins(A, b, "lower") == 9
    assert ab.verdict(A, b, "lower", 0.25) == "gain"
    assert ab.verdict([1 / x for x in A], [1 / y for y in b], "higher", 0.25) == "gain"
    assert ab.verdict(A[1:], b[1:], "lower", 0.25) == "within bound"  # 9 pairs claim nothing


def test_ab_within_bound_unresolved_and_worse():
    assert ab.verdict(A, [x + 1 for x in A], "lower", 0.25) == "within bound"
    wide = [50.0, 150.0] * 5
    assert ab.verdict(wide, wide[::-1], "lower", 0.25) == "unresolved"
    assert ab.verdict(A, [x * 1.4 for x in A], "lower", 0.25) == "worse"
    assert ab.verdict(A, [x * 0.7 for x in A], "higher", 0.25) == "worse"


@pytest.mark.parametrize("path", sorted(glob(os.path.join(TOOLS, "*.py"))), ids=os.path.basename)
def test_tool_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)
