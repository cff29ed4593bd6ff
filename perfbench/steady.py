"""Steadiness check: run workloads in two sets of runs, each run with its
own seed, and compare the sets metric by metric.

    python3 perfbench/steady.py --workload alert_etl --workload query_mix --runs 5

The first set of every workload runs before the second set of any, so the
two sets of a workload lie apart in time by at least one whole set of the
others (``--pause`` adds a wait between the sets). For every end-to-end
metric in BENCHMARK.json it prints each set's median and quartiles, their
spread (quartile distance over median), the spread of both sets pooled,
and whether the sets agree: each set's spread within the metric's bound,
and the two medians apart by no more than the bound, in either direction.
Run from the root of a checkout. Exits 1 when any workload's sets do not
agree.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed}: {result['failed']} of "
                         f"{result['attempted']} ops failed")
    return {k: v["value"] for k, v in result["metrics"].items()}


def stats(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, spread) with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def agree(metric: dict, first: list[float], second: list[float]) -> tuple[bool, str]:
    """Whether two sets of one metric agree within its bound: both spreads
    within it, and the medians apart by no more than it, either way."""
    bound = metric["bound"]
    m1, _, _, s1 = stats(first)
    m2, _, _, s2 = stats(second)
    drift = (m2 - m1) / m1
    problems = [f"set {k} spread {s:.3f} > {bound}" for k, s in ((1, s1), (2, s2)) if s > bound]
    if abs(drift) > bound:
        problems.append(f"medians apart by {drift:+.3f}, beyond {bound}")
    return not problems, "; ".join(problems) or f"agree (drift {drift:+.3f})"


def report(workload: str, bench: dict, sets: tuple[list[dict], list[dict]]) -> bool:
    ok = True
    print(f"== {workload}")
    print(f"{'metric':16} {'set':>4} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7}  verdict")
    for metric in bench["end_to_end"]:
        name = metric["name"]
        cols = [[r[name] for r in s] for s in sets]
        for k, values in [("1", cols[0]), ("2", cols[1]), ("both", cols[0] + cols[1])]:
            med, q1, q3, spread = stats(values)
            print(f"{name:16} {k:>4} {med:11.4f} {q1:11.4f} {q3:11.4f} {spread:7.3f}")
        good, verdict = agree(metric, *cols)
        ok &= good
        print(f"{'':16} bound {metric['bound']}: {verdict}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", required=True,
                    help="a workload to run; repeat for several")
    ap.add_argument("--runs", type=int, default=5, help="runs per set (at least 2)")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--pause", type=float, default=0.0, help="seconds to wait between the sets")
    args = ap.parse_args()
    if args.runs < 2:
        ap.error("--runs must be at least 2")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    runs: dict[str, list[list[dict]]] = {w: [[], []] for w in args.workload}
    seed = args.first_seed
    for k in range(2):
        if k == 1 and args.pause:
            time.sleep(args.pause)
        for _ in range(args.runs):
            for w in args.workload:
                values = one_run(w, seed, bench["run_seconds"])
                runs[w][k].append(values)
                print(f"set {k + 1} {w} seed {seed}: "
                      + " ".join(f"{m}={v:.4f}" for m, v in values.items()),
                      file=sys.stderr, flush=True)
                seed += 1
    ok = True
    for w in args.workload:
        ok &= report(w, bench, tuple(runs[w]))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
