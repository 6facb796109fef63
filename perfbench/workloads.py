"""The benchmark's workloads: which engine calls run, on what corpus size.

Every workload is closed loop: one driver thread issues each call after
the previous one has returned. A step calls one module of the engine and
collects its result to the driver inside the timed region.

* scc-hops: SCC, its resume from a durable checkpoint, coloring and
  partitioned SCC. Its cost is the number of supersteps and Spark jobs,
  not data volume, so it shows changes to per-tick and per-hop fixed cost
  in `plans.superstep` and the SCC operators, and to checkpoint writes
  and reads.
* bulk-iterative: PageRank, WCC, LPA and triangles on a 2x larger corpus.
  Per-iteration joins and shuffles carry more data; it never runs SCC's
  trim, pivot or BFS code.
"""

from __future__ import annotations

import gc
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from detectingscc_spark.ingest import ingest
from detectingscc_spark.operators.coloring import scc_coloring
from detectingscc_spark.operators.components import connected_components
from detectingscc_spark.operators.lpa import label_propagation
from detectingscc_spark.operators.pagerank import pagerank
from detectingscc_spark.operators.partitioned import scc_partitioned
from detectingscc_spark.operators.scc import strongly_connected_components
from detectingscc_spark.operators.triangles import triangle_count
from detectingscc_spark.plans.superstep import SuperstepRunner

from tracing import LayerStats, TracingRunner

PAGERANK_ITERS = 20
LPA_ROUNDS = 5
PARTITIONED_PARTS = 32


@dataclass(frozen=True)
class Workload:
    name: str
    n_files: int
    steps: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("scc-hops", 5_000, ("ingest", "scc", "scc_resume", "coloring", "partitioned")),
        Workload("bulk-iterative", 10_000, ("ingest", "pagerank", "wcc", "lpa", "triangles")),
    )
}


@dataclass
class Call:
    step: str
    wall_s: float
    output: Any = None
    error: str | None = None
    cached_rdds_left: int = 0
    runner: SuperstepRunner | None = None
    start_ts: float = 0.0


@dataclass
class Iteration:
    """One pass over a workload's steps against an already set-up corpus."""

    spark: SparkSession
    corpus: DataFrame
    workload: Workload
    workdir: Path
    traced: bool
    stats: LayerStats = field(default_factory=LayerStats)
    calls: dict[str, Call] = field(default_factory=dict)
    edges: DataFrame | None = None
    verts: DataFrame | None = None
    manifest: DataFrame | None = None
    resume_s: float = 0.0
    resume_cut: int = 0
    sha_mismatch: int = 0
    checkpoint_bytes: int = 0
    job_wall_s: float = 0.0
    job_cpu_s: float = 0.0
    _runner: SuperstepRunner | None = None

    def runner(self, run_id: str, checkpoint: str | None = None) -> SuperstepRunner | None:
        """The runner handed to the next operator call. Untraced calls
        without a checkpoint directory get the engine's own default."""
        kwargs: dict[str, Any] = {"run_id": run_id}
        if checkpoint is not None:
            kwargs.update(checkpoint_dir=str(self.workdir / checkpoint), checkpoint_interval=1)
        if self.traced:
            self._runner = TracingRunner(self.spark, self.stats, **kwargs)
        elif checkpoint is not None:
            self._runner = SuperstepRunner(self.spark, **kwargs)
        else:
            self._runner = None
        return self._runner

    def run(self) -> None:
        sc = self.spark.sparkContext
        t_start = time.perf_counter()
        for step in self.workload.steps:
            self._runner = None
            if self.traced:
                h0 = time.perf_counter()
                sc.setJobGroup(step, step)
                before = _live_cached_rdds(sc)
                self.stats.hook_s += time.perf_counter() - h0
            call = Call(step, 0.0, start_ts=time.time())
            t0 = time.perf_counter()
            try:
                call.output = STEPS[step](self)
            except Exception as exc:  # a failed call is counted, not fatal
                call.error = f"{type(exc).__name__}: {exc}"
            call.wall_s = time.perf_counter() - t0
            call.runner = self._runner
            if self.traced:
                h0 = time.perf_counter()
                call.cached_rdds_left = _live_cached_rdds(sc) - before
                sc.setJobGroup("untimed", "untimed")
                self.stats.hook_s += time.perf_counter() - h0
            self.calls[step] = call
        self.job_wall_s = time.perf_counter() - t_start

    def release(self) -> None:
        """Unpersist the ingested frames and delete the checkpoints, after
        recording how many bytes the uninterrupted SCC run checkpointed."""
        for df in (self.edges, self.verts, self.manifest):
            if df is not None:
                df.unpersist()
        for dirpath, _dirs, files in os.walk(self.workdir / "ck_scc"):
            self.checkpoint_bytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        shutil.rmtree(self.workdir, ignore_errors=True)


def _live_cached_rdds(sc) -> int:
    """Persisted RDDs still reachable. Spark holds them by weak reference,
    so collect garbage on both sides first to make the count repeatable."""
    gc.collect()
    sc._jvm.System.gc()
    return len(sc._jsc.getPersistentRDDs())


def _collect(df: DataFrame, col: str) -> dict[int, Any]:
    return {r["id"]: r[col] for r in df.collect()}


def _ingest(it: Iteration) -> int:
    verts, edges, manifest = ingest(it.spark, it.corpus)
    it.edges = edges.persist()
    n_edges = it.edges.count()
    it.verts = verts.select("id").persist()
    it.verts.count()
    it.manifest = manifest.persist()
    it.manifest.count()
    return n_edges


def _scc(it: Iteration) -> dict[int, int]:
    """SCC with a durable checkpoint every superstep, which `scc_resume`
    resumes from."""
    r = it.runner("scc", "ck_scc")
    out = strongly_connected_components(it.spark, it.edges, it.verts, runner=r, local_finish_edges=0)
    return _collect(out, "scc_id")


def _coloring(it: Iteration) -> dict[int, int]:
    out = scc_coloring(it.spark, it.edges, it.verts, runner=it.runner("scc_coloring"))
    return _collect(out, "scc_id")


def _partitioned(it: Iteration) -> dict[int, int]:
    out = scc_partitioned(
        it.spark, it.edges, it.verts, n_parts=PARTITIONED_PARTS, local_finish_edges=0,
        runner=it.runner("scc_partitioned"),
    )
    return _collect(out, "scc_id")


def _pagerank(it: Iteration) -> dict[int, float]:
    out = pagerank(it.spark, it.edges, it.verts, fixed_iters=PAGERANK_ITERS, runner=it.runner("pagerank"))
    return _collect(out, "rank")


def _wcc(it: Iteration) -> dict[int, int]:
    out = connected_components(it.spark, it.edges, it.verts, runner=it.runner("cc"))
    return _collect(out, "cc_id")


def _lpa(it: Iteration) -> dict[int, int]:
    out = label_propagation(it.spark, it.edges, it.verts, rounds=LPA_ROUNDS, runner=it.runner("lpa"))
    return _collect(out, "label")


def _triangles(it: Iteration) -> int:
    return triangle_count(it.spark, it.edges)


def manifest_steps(ckdir: Path) -> list[int]:
    return sorted(
        int(f[len("manifest_") : -len(".json")])
        for f in os.listdir(ckdir)
        if f.startswith("manifest_") and f.endswith(".json")
    )


def _scc_resume(it: Iteration) -> dict[int, int]:
    """Simulated crash: keep only the first SCC manifest, then resume SCC
    from it with a fresh runner of the same run id. The first manifest is
    mid-run when SCC takes more than one round, else it is the last one
    and the resumed run only reloads the finished state."""
    full = it.workdir / "ck_scc"
    steps = manifest_steps(full)
    if not steps:
        raise RuntimeError("the durable SCC run wrote no checkpoint")
    it.resume_cut = steps[0]
    cut = it.workdir / "ck_cut"
    shutil.copytree(full, cut)
    for step in steps[1:]:
        os.remove(cut / f"manifest_{step}.json")
    t0 = time.perf_counter()
    r = it.runner("scc", "ck_cut")
    out = strongly_connected_components(it.spark, it.edges, it.verts, runner=r, local_finish_edges=0)
    labels = _collect(out, "scc_id")
    it.resume_s = time.perf_counter() - t0
    return labels


STEPS: dict[str, Callable[[Iteration], Any]] = {
    "ingest": _ingest,
    "scc": _scc,
    "coloring": _coloring,
    "partitioned": _partitioned,
    "pagerank": _pagerank,
    "wcc": _wcc,
    "lpa": _lpa,
    "triangles": _triangles,
    "scc_resume": _scc_resume,
}
