"""Repository benchmark: seeded link-graph jobs on the engine's public API.

    python3 perfbench/run.py --workload scc-hops --seed 42 --seconds 20 --trace 0

Run from the repository root. One run:

1. Pins its own Spark session to the machine (local[<=4 cores]), sets
   Spark's local and temp directories under `.perfbench_work/`, and sets
   the session and corpus up several times; `setup_s` is the median.
2. Runs the workload's steps (see `workloads.py`) until `--seconds` would
   be overrun, at least once, timing each engine call from outside.
3. Checks every call against an independent oracle (see `oracles.py`),
   outside the timed region. A call that raises or disagrees is failed.
4. Prints one info line, then, as the last line, the result object with
   the end-to-end metrics (`--trace 0`) or the per-layer ones (`--trace 1`).

A traced run runs one traced iteration: a Spark job group per call, a
`TracingRunner` passed as `runner=`, and an uncompressed event log (see
`tracing.py`). Its `trace.overhead_frac` is the time spent in the
benchmark's tracing calls over the rest of the iteration's wall time;
the event log is written on Spark's listener thread and is not in it.
End-to-end metrics come only from untraced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3
MAX_CORES = 4
SCC_PHASES = ("residual", "trim", "pivots", "bfs", "update")
# runner log record -> the SCC phase that ends at it
PHASE_OF_RECORD = {
    "decompose": "residual",
    "residual": "residual",
    "trim1": "trim",
    "trim2": "trim",
    "pivots": "pivots",
    "bfs": "bfs",
    "update": "update",
}
# calls traced with their own job group; the group name is the metric prefix
TRACED_OPS = ("ingest", "scc", "coloring", "partitioned", "pagerank", "wcc", "lpa", "triangles")
T0 = time.perf_counter()


def progress(what: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.2f}s {what}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def meminfo_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by this process, `root_pid` and every
    process under it, reaped children included."""
    total = 0
    for pid in ["self", root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since it was listed
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class Bench:
    """One benchmark run: session, corpus, iterations and their checks."""

    def __init__(self, workload, seed: int, traced: bool, work: Path):
        self.workload = workload
        self.seed = seed
        self.traced = traced
        self.work = work
        self.cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
        self.ram_mb = meminfo_mb()
        self.driver_mem_mb = min(2048, self.ram_mb // 4)
        self.spark = None
        self.corpus = None
        self.session_s: list[float] = []
        self.corpus_s: list[float] = []
        self.setup_s: list[float] = []
        self._oracle: dict | None = None

    # ---- session -----------------------------------------------------

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.memory": f"{self.driver_mem_mb}m",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "events").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self) -> None:
        from detectingscc_spark.corpus import generate_corpus
        from detectingscc_spark.session import get_spark

        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload.name}",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf=self.conf(),
            )
            t1 = time.perf_counter()
            self.corpus = generate_corpus(self.spark, self.workload.n_files, seed=self.seed).persist()
            self.corpus.count()
            t2 = time.perf_counter()
            self.session_s.append(t1 - t0)
            self.corpus_s.append(t2 - t1)
            self.setup_s.append(t2 - t0)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM and every process under it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = gateway.proc
        tree = descendants(proc.pid)
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.time() + 20
        for pid in tree:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass

    # ---- iterations --------------------------------------------------

    def iteration(self, k: int, traced: bool):
        from workloads import Iteration

        it = Iteration(self.spark, self.corpus, self.workload, self.work / f"iter{k}", traced)
        it.workdir.mkdir(parents=True)
        cpu0 = tree_cpu_s(self.jvm_pid())
        it.run()
        it.job_cpu_s = tree_cpu_s(self.jvm_pid()) - cpu0
        return it

    def oracle(self) -> dict:
        """Oracle answers for this corpus, computed once per run."""
        if self._oracle is None:
            import oracles
            from detectingscc_spark.corpus import expected_edges
            from workloads import LPA_ROUNDS, PAGERANK_ITERS

            n = self.workload.n_files
            edges = sorted((r["src"], r["dst"]) for r in expected_edges(self.spark, n, self.seed).collect())
            verts = list(range(n))
            steps = set(self.workload.steps)
            o: dict = {"edges": edges}
            if steps & {"scc", "coloring", "partitioned"}:
                o["scc"] = oracles.kosaraju_scc(edges, verts)
            if "pagerank" in steps:
                o["pagerank"] = oracles.pagerank_fixed(edges, verts, PAGERANK_ITERS)
            if "wcc" in steps:
                o["wcc"] = oracles.cc_unionfind(edges, verts)
            if "lpa" in steps:
                o["lpa"] = oracles.lpa_sync(edges, verts, rounds=LPA_ROUNDS)
            if "triangles" in steps:
                o["triangles"] = oracles.triangles_brute(edges)[0]
            self._oracle = o
        return self._oracle

    def check(self, it) -> dict[str, str | None]:
        """Per call: None when correct, else why it failed."""
        import oracles
        from detectingscc_spark.ingest import verify_sha256

        want = self.oracle()
        verdict: dict[str, str | None] = {}
        for step, call in it.calls.items():
            if call.error is not None:
                verdict[step] = call.error
                continue
            got = call.output
            if step == "ingest":
                it.sha_mismatch = verify_sha256(it.manifest, self.corpus)
                ingested = sorted((r["src"], r["dst"]) for r in it.edges.select("src", "dst").collect())
                ok = it.sha_mismatch == 0 and ingested == want["edges"]
            elif step in ("scc", "coloring", "partitioned"):
                ok = got == want["scc"]
            elif step == "scc_resume":
                # a fresh start would log superstep 1, which is <= the cut
                resumed = all(r["superstep"] > it.resume_cut for r in call.runner.metrics)
                ok = got == it.calls["scc"].output == want["scc"] and resumed
            elif step == "pagerank":
                ok = oracles.ranks_match(got, want["pagerank"])
            else:
                ok = got == want[step]
            verdict[step] = None if ok else "output differs from the oracle"
        return verdict


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def scc_phase_seconds(call) -> dict[str, float]:
    """Seconds per SCC phase, from consecutive `wall_ts` in the runner log.
    A durable checkpoint's end also closes an interval, so its write is
    not billed to the next phase."""
    out = dict.fromkeys(SCC_PHASES, 0.0)
    if call is None or call.runner is None:
        return out
    marks = [(rec["wall_ts"], PHASE_OF_RECORD.get(rec["phase"])) for rec in call.runner.metrics]
    marks += [(ts, None) for ts in call.runner.checkpoint_ends]
    prev = call.start_ts
    for ts, phase in sorted(marks, key=lambda m: m[0]):
        if phase is not None:
            out[phase] += ts - prev
        prev = ts
    return out


def layer_metrics(bench: Bench, it, groups, tags, n_edges: int) -> dict[str, float]:
    from tracing import TICK_TAG

    m: dict[str, float] = {
        "session.start_s": median(bench.session_s),
        "corpus.generate_s": median(bench.corpus_s),
        "ingest.edges": n_edges,
        "ingest.sha_mismatch": it.sha_mismatch,
        "superstep.ticks": it.stats.ticks,
        "superstep.tick_s": it.stats.tick_s,
        "superstep.tick_jobs": tags.get(TICK_TAG).jobs if TICK_TAG in tags else 0,
        "superstep.checkpoints": it.stats.checkpoints,
        "superstep.checkpoint_s": it.stats.checkpoint_s,
        "superstep.checkpoint_bytes": it.checkpoint_bytes,
        "superstep.resume_load_s": it.stats.resume_load_s,
        "resume_s": it.resume_s,
        "trace.overhead_frac": it.stats.hook_s / (it.job_wall_s - it.stats.hook_s),
        "job_cpu_s": it.job_cpu_s,
    }
    for op in TRACED_OPS:
        call = it.calls.get(op)
        g = groups.get(op)
        wall = call.wall_s if call else 0.0
        m[f"{op}.wall_s"] = wall
        m[f"{op}.jobs"] = g.jobs if g else 0
        m[f"{op}.tasks"] = g.tasks if g else 0
        m[f"{op}.shuffle_read_bytes"] = g.shuffle_read_bytes if g else 0
        m[f"{op}.shuffle_write_bytes"] = g.shuffle_write_bytes if g else 0
        m[f"{op}.slot_busy_frac"] = g.run_time_s / (wall * bench.cores) if g and wall > 0 else 0.0
        m[f"{op}.cached_rdds_left"] = call.cached_rdds_left if call else 0
    scc = it.calls.get("scc")
    counters = scc.runner.counters if scc and scc.runner else {}
    m["scc.rounds"] = counters.get("iterations", 0)
    m["scc.bfs_hops"] = counters.get("FWD_iterations", 0)
    m["scc.trim_iters"] = counters.get("Trimm_iterations", 0)
    for phase, secs in scc_phase_seconds(scc).items():
        m[f"scc.phase.{phase}_s"] = secs
    wcc = it.calls.get("wcc")
    m["wcc.iters"] = wcc.runner.counters.get("iterations", 0) if wcc and wcc.runner else 0
    return m


def end_to_end_metrics(setup_s: list[float], job_walls: list[float], n_edges: int) -> dict[str, float]:
    job_wall = median(job_walls)
    return {"setup_s": median(setup_s), "job_wall_s": job_wall, "edges_per_s": n_edges / job_wall}


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def measure(args: argparse.Namespace, workload, work: Path) -> tuple[dict, dict]:
    """Set up, iterate, check and stop Spark; returns (info, result)."""
    spec = load_spec()
    bench = Bench(workload, args.seed, bool(args.trace), work)
    try:
        progress("start")
        bench.setup()
        progress(f"set up {len(bench.setup_s)} times")
        iters = []
        t_measure = time.perf_counter()
        # iterate until the next one would overrun --seconds, at least once;
        # a traced run makes one iteration so its event-log totals are per call
        while True:
            iters.append(bench.iteration(len(iters), traced=bool(args.trace)))
            elapsed = time.perf_counter() - t_measure
            if args.trace or elapsed + iters[-1].job_wall_s > args.seconds:
                break
        progress(f"{len(iters)} iteration(s) done")
        verdicts = [bench.check(it) for it in iters]
        progress("outputs checked")
        for it in iters:
            it.release()
        n_edges = len(bench.oracle()["edges"])
        # driver JVM plus this process (psutil is not a dependency)
        peak_rss = vm_hwm_mb(bench.jvm_pid()) + vm_hwm_mb("self")
        app_id = bench.spark.sparkContext.applicationId
        info = {
            "workload": workload.name,
            "seed": args.seed,
            "n_files": workload.n_files,
            "n_edges": n_edges,
            "nproc": os.cpu_count(),
            "cores_used": bench.cores,
            "ram_mb": bench.ram_mb,
            "driver_memory_mb": bench.driver_mem_mb,
            "spark": bench.spark.version,
            "java": bench.spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "samples": {"setup_s": len(bench.setup_s), "job_wall_s": len(iters)},
            "setup_samples_s": bench.setup_s,
            "job_wall_samples_s": [it.job_wall_s for it in iters],
            "job_cpu_samples_s": [it.job_cpu_s for it in iters],
            "call_wall_s": [{step: c.wall_s for step, c in it.calls.items()} for it in iters],
        }
    finally:
        bench.shutdown()
        progress("spark stopped")
    if args.trace:
        from tracing import parse_event_log

        groups, tags = parse_event_log(str(work / "events" / app_id))
        metrics = layer_metrics(bench, iters[-1], groups, tags, n_edges)
        metrics["peak_rss_mb"] = peak_rss
        wanted = spec["per_layer"]
    else:
        metrics = end_to_end_metrics(bench.setup_s, [it.job_wall_s for it in iters], n_edges)
        wanted = spec["end_to_end"]
    failures = [(step, why) for v in verdicts for step, why in v.items() if why is not None]
    info["failures"] = failures
    result = {
        "correct": not failures,
        "attempted": sum(len(v) for v in verdicts),
        "failed": len(failures),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    return info, result


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "detectingscc_spark").is_dir() or not (ROOT / "tests" / "oracles.py").is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    for d in ("spark-local", "tmp", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    try:
        info, result = measure(args, WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    for step, why in info["failures"]:
        print(f"perfbench: {step} failed: {why}", file=sys.stderr)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
