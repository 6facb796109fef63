"""Per-phase table of a Spark event log: `python3 tools/phases.py EVENT_LOG`.

The engine tags the jobs of each `SuperstepRunner.tick` `phase:<run_id>/<slot
stem>` (`bfs_7` -> `bfs`), of checkpoints `phase:<run_id>/checkpoint`
and of resumes `.../resume`. Per tag: jobs, tasks, shuffle bytes, executor
run time and job time (the sum of JobStart->JobEnd spans); then `(untagged)`
and the tagged share of jobs and job time, overall and per job group. Spark
writes the log with `spark.eventLog.enabled=true` and `.compress=false`.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]

from tracing import GroupTotals, parse_event_log  # noqa: E402

PREFIX = "phase:"
UNTAGGED = "(untagged)"


@dataclass
class Phase:
    totals: GroupTotals = field(default_factory=GroupTotals)
    job_s: float = 0.0


@dataclass
class Coverage:
    jobs: int = 0
    tagged_jobs: int = 0
    job_s: float = 0.0
    tagged_job_s: float = 0.0


def phase_table(path: str) -> tuple[dict[str, Phase], dict[str | None, Coverage]]:
    """Rows per phase tag plus `(untagged)`; coverage per job group (None: all)."""
    _, by_tag = parse_event_log(path)
    rows = {t: Phase(tot) for t, tot in by_tag.items() if t.startswith(PREFIX)}
    untagged = rows[UNTAGGED] = Phase()
    coverage: dict[str | None, Coverage] = defaultdict(Coverage)
    open_jobs: dict[int, tuple[tuple[str, ...], str | None, int]] = {}
    # as in parse_event_log, a stage belongs to the first job that lists it
    seen_stages: set[int] = set()
    untagged_stages: set[int] = set()
    with open(path) as f:
        for ev in map(json.loads, f):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tags = tuple(t for t in (props.get("spark.job.tags") or "").split(",") if t.startswith(PREFIX))
                open_jobs[ev["Job ID"]] = (tags, props.get("spark.jobGroup.id"), ev["Submission Time"])
                stages = set(ev.get("Stage IDs", [])) - seen_stages
                seen_stages |= stages
                if not tags:
                    untagged.totals.jobs += 1
                    untagged_stages |= stages
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in open_jobs:
                tags, group, submitted = open_jobs.pop(ev["Job ID"])
                span = (ev["Completion Time"] - submitted) / 1000.0
                for t in tags or (UNTAGGED,):
                    rows[t].job_s += span
                for key in {None, group}:
                    cov = coverage[key]
                    cov.jobs += 1
                    cov.job_s += span
                    cov.tagged_jobs += bool(tags)
                    cov.tagged_job_s += span if tags else 0.0
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in untagged_stages:
                m, tot = ev.get("Task Metrics") or {}, untagged.totals
                rd = m.get("Shuffle Read Metrics") or {}
                tot.tasks += 1
                tot.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                tot.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                tot.run_time_s += m.get("Executor Run Time", 0) / 1000.0
    return rows, dict(coverage)


def render(rows: dict[str, Phase], coverage: dict[str | None, Coverage]) -> str:
    lines = [f"{'phase':<36}{'jobs':>6}{'tasks':>7}{'shuf_read_B':>13}{'shuf_write_B':>13}{'run_s':>9}{'job_s':>9}"]
    for t in sorted(rows, key=lambda t: (t == UNTAGGED, -rows[t].job_s)):
        tot = rows[t].totals
        lines.append(f"{t:<36}{tot.jobs:>6}{tot.tasks:>7}{tot.shuffle_read_bytes:>13}"
                     f"{tot.shuffle_write_bytes:>13}{tot.run_time_s:>9.2f}{rows[t].job_s:>9.2f}")
    for key, c in sorted(coverage.items(), key=lambda kv: (kv[0] is not None, str(kv[0]))):
        lines.append(f"{'all jobs' if key is None else f'group {key}'}: tagged {c.tagged_jobs}/{c.jobs} jobs "
                     f"({c.tagged_jobs / c.jobs:.1%}), {c.tagged_job_s:.2f}/{c.job_s:.2f} s job time "
                     f"({c.tagged_job_s / (c.job_s or 1):.1%})")
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(render(*phase_table(sys.argv[1])))
