"""Order-alternated A/B pairs of the repository benchmark.

    python3 tools/ab.py PARENT CHANGE --workload scc-hops --seeds 1,2,3 [--cpus-a 0,1] [--cpus-b 0,1,2,3]

Per seed, BENCHMARK.json's command runs once in each checkout, each in a
fresh process (so a fresh JVM), the side that runs first alternating from
seed to seed. `--cpus-*` pins a side with `os.sched_setaffinity`, which
sizes perfbench's `local[n]`: one checkout pinned twice measures scaling.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path


def ints(text: str) -> list[int]:
    return [int(x) for x in text.split(",")]


def iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def b_wins(a: list[float], b: list[float], better: str) -> int:
    """Pairs (a[i], b[i]) in which B is better; ties count for neither."""
    sign = 1.0 if better == "higher" else -1.0
    return sum(sign * (y - x) > 0 for x, y in zip(a, b))


def verdict(a: list[float], b: list[float], better: str, bound: float) -> str:
    """Paired runs (a[i], b[i]), A the parent, by BENCHMARK.json's rules:
    `worse` beyond `bound`; `gain` on >= 10 pairs with 9 in 10 won and a
    median gap above A's IQR; `unresolved` when a side's IQR exceeds `bound`
    of its median, unless every B run beats every A run; else `within bound`."""
    sign = 1.0 if better == "higher" else -1.0
    ma, mb = statistics.median(a), statistics.median(b)
    if sign * (ma - mb) > bound * abs(ma):
        return "worse"
    if len(a) >= 10 and b_wins(a, b, better) >= 0.9 * len(a) and sign * (mb - ma) > iqr(a):
        return "gain"
    spread = max(iqr(a) / abs(ma), iqr(b) / abs(mb))
    if spread > bound and not min(sign * y for y in b) > max(sign * x for x in a):
        return "unresolved"
    return "within bound"


def run(checkout: str, command: list[str], workload: str, seed: int, cpus: list[int] | None) -> dict:
    """One benchmark run; returns its result object (the last stdout line)."""
    proc = subprocess.run(
        command + ["--workload", workload, "--seed", str(seed)],
        cwd=checkout, capture_output=True, text=True,
        preexec_fn=(lambda: os.sched_setaffinity(0, cpus)) if cpus else None,
    )
    if proc.returncode != 0:
        sys.exit(f"ab: {checkout} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=ints)
    ap.add_argument("--cpus-a", type=ints)
    ap.add_argument("--cpus-b", type=ints)
    args = ap.parse_args(argv)
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    sides = {"A": (args.a, args.cpus_a), "B": (args.b, args.cpus_b)}
    results: dict[str, list[dict]] = {"A": [], "B": []}
    for i, seed in enumerate(args.seeds):
        for side in ("AB" if i % 2 == 0 else "BA"):
            checkout, cpus = sides[side]
            res = run(checkout, spec["command"], args.workload, seed, cpus)
            results[side].append(res)
            values = {m: v["value"] for m, v in res["metrics"].items()}
            print(f"seed {seed} {side}: failed {res['failed']}/{res['attempted']} {json.dumps(values)}", flush=True)
    print(f"{'metric':<14}{'A median':>12}{'B median':>12}{'A IQR':>10}{'B wins':>8}  verdict")
    for m in spec["end_to_end"]:
        a = [r["metrics"][m["name"]]["value"] for r in results["A"]]
        b = [r["metrics"][m["name"]]["value"] for r in results["B"]]
        wins = b_wins(a, b, m["better"])
        print(
            f"{m['name']:<14}{statistics.median(a):>12.4g}{statistics.median(b):>12.4g}"
            f"{iqr(a):>10.3g}{f'{wins}/{len(a)}':>8}  {verdict(a, b, m['better'], m['bound'])}"
        )
    (fa, na), (fb, nb) = ([sum(r[k] for r in results[s]) for k in ("failed", "attempted")] for s in "AB")
    worse = " (B fails a larger share: no gain counts)" if fb * na > fa * nb else ""
    print(f"failed operations: A {fa}/{na}, B {fb}/{nb}{worse}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
