"""Run every benchmark workload on several seeds, print the end-to-end
metrics one row per workload, and check that the figures are steady.

    python3 perfbench/steady.py                      # one run per workload
    python3 perfbench/steady.py --runs 5 --sets 2    # steadiness self-check

Seeds are ``--seed0 + i`` over all runs, so no two runs share one. Each
set's spread is the distance between the first and third quartile of its
values (``statistics.quantiles(n=4)``) over their median; a spread above a
third of the metric's bound in ``BENCHMARK.json`` is flagged, and so is a
set whose median is worse than the first set's by more than the bound
(``setup_s`` is exempt from the spread rule, as set-up is cold). Exits 1
when a run fails or an output check fails, 2 when a figure is not steady.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(command, workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        command + ["--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    if proc.returncode or result is None or not result["correct"]:
        tail = proc.stderr.strip().splitlines()[-3:]
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}: {tail}")
    return result


def spread(values) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, later: float, better: str) -> float:
    return (later - first) / first if better == "lower" else (first - later) / first


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=1, help="runs per set")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", default="", help="comma list; default all")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    seed = args.seed0
    unsteady = []
    for w in workloads:
        sets = []
        for _ in range(args.sets):
            results = []
            for _ in range(args.runs):
                try:
                    results.append(run_once(bench["command"], w, seed,
                                            bench["run_seconds"], args.trace))
                except (RuntimeError, subprocess.TimeoutExpired) as err:
                    print(f"FAIL {err}")
                    return 1
                seed += 1
                row = results[-1]["metrics"]
                print(f"{w:20s} seed={seed - 1:<6d} " + "  ".join(
                    f"{k}={v['value']:.4g} {v['unit']}" for k, v in sorted(row.items())),
                    flush=True)
            sets.append(results)
        if args.trace or args.runs < 2:
            continue
        for name, spec in metrics.items():
            values = [[r["metrics"][name]["value"] for r in s] for s in sets]
            medians = [statistics.median(v) for v in values]
            spreads = [spread(v) for v in values]
            if len(values) > 1:  # and over all runs together
                spreads.append(spread([x for v in values for x in v]))
            shift = max(worse_by(medians[0], m, spec["better"]) for m in medians)
            flags = []
            if name != "setup_s" and max(spreads) > spec["bound"] / 3:
                flags.append("spread")
            if shift > spec["bound"]:
                flags.append("shift")
            print(f"  {w:20s} {name:16s} medians=" + ",".join(f"{m:.4g}" for m in medians)
                  + " spreads(sets,all)=" + ",".join(f"{s:.3f}" for s in spreads)
                  + f" worst_shift={shift:+.3f} bound={spec['bound']}"
                  + (f"  NOT STEADY ({'+'.join(flags)})" if flags else ""), flush=True)
            if flags:
                unsteady.append((w, name))
    return 2 if unsteady else 0


if __name__ == "__main__":
    sys.exit(main())
