"""Tracing for the benchmark's traced runs.

Everything here lives on the benchmark side; the engine is not edited:

* `LayerStats` holds the per-layer counters of one traced iteration.
* `TracingRunner` is a `SuperstepRunner` subclass that the benchmark passes
  as `runner=` to the operators. It times `tick`, `maybe_checkpoint` and
  `resume`, and tags every Spark job issued inside a tick with `TICK_TAG`.
* `parse_event_log` reads Spark's uncompressed event log and sums jobs,
  tasks, shuffle bytes and executor run time per job group (one group per
  operator call) and per job tag.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from dataclasses import dataclass

from detectingscc_spark.plans.superstep import SuperstepRunner

TICK_TAG = "superstep-tick"


@dataclass
class LayerStats:
    ticks: int = 0
    tick_s: float = 0.0
    checkpoints: int = 0
    checkpoint_s: float = 0.0
    resume_load_s: float = 0.0
    # time spent in the benchmark's own tracing calls
    hook_s: float = 0.0


class TracingRunner(SuperstepRunner):
    """SuperstepRunner that records tick, checkpoint and resume costs."""

    def __init__(self, spark, stats: LayerStats, **kwargs):
        super().__init__(spark, **kwargs)
        self._stats = stats
        # wall-clock end of each durable checkpoint, in `log`'s time base
        self.checkpoint_ends: list[float] = []

    def tick(self, *args, **kwargs):
        sc = self.spark.sparkContext
        h0 = time.perf_counter()
        sc.addJobTag(TICK_TAG)
        t0 = time.perf_counter()
        try:
            return super().tick(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self._stats.tick_s += t1 - t0
            self._stats.ticks += 1
            sc.removeJobTag(TICK_TAG)
            self._stats.hook_s += (t0 - h0) + (time.perf_counter() - t1)

    def maybe_checkpoint(self, states, force=False):
        t0 = time.perf_counter()
        wrote = super().maybe_checkpoint(states, force=force)
        if wrote:
            self._stats.checkpoint_s += time.perf_counter() - t0
            self._stats.checkpoints += 1
            self.checkpoint_ends.append(time.time())
        return wrote

    def resume(self):
        t0 = time.perf_counter()
        try:
            return super().resume()
        finally:
            self._stats.resume_load_s += time.perf_counter() - t0


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    run_time_s: float = 0.0


def parse_event_log(path: str) -> tuple[dict[str, GroupTotals], dict[str, GroupTotals]]:
    """Totals per job group and per job tag from an uncompressed event log.

    A stage is credited to the first job that lists it; later jobs that
    reuse it skip it and run no tasks for it.
    """
    by_group: dict[str, GroupTotals] = defaultdict(GroupTotals)
    by_tag: dict[str, GroupTotals] = defaultdict(GroupTotals)
    stage_owner: dict[int, tuple[str | None, tuple[str, ...]]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                tags = tuple(t for t in (props.get("spark.job.tags") or "").split(",") if t)
                if group is not None:
                    by_group[group].jobs += 1
                for t in tags:
                    by_tag[t].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_owner.setdefault(sid, (group, tags))
            elif kind == "SparkListenerTaskEnd":
                group, tags = stage_owner.get(ev.get("Stage ID"), (None, ()))
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                read = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                written = wr.get("Shuffle Bytes Written", 0)
                run_s = m.get("Executor Run Time", 0) / 1000.0
                targets = ([by_group[group]] if group is not None else []) + [by_tag[t] for t in tags]
                for tot in targets:
                    tot.tasks += 1
                    tot.shuffle_read_bytes += read
                    tot.shuffle_write_bytes += written
                    tot.run_time_s += run_s
    return dict(by_group), dict(by_tag)
