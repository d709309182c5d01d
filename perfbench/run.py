"""httpspark benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload lookup_get --seed 1 --seconds 8 --trace 0

Run from the repository root. A run sets the workload up once, from
process start (``setup_s``), and measures it for ``seconds``.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics. With ``--trace 1`` passes alternate
between untraced and traced (``tracing.py``) and the metrics are the
per-layer ones, with the tracing overhead measured between the two halves.
A JSON object with every detail goes to standard error.
Exits 1 when an output check fails,
3 when the run is invalid (the harness, not the engine, was measured), and
non-zero without a result line when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

from harness import WORK, RssSampler, jvm_pid, process_age, stop_jvm  # noqa: E402


def run(workload, seconds: float, trace: bool) -> dict:
    t0 = time.monotonic() - process_age()
    window = None
    if trace:
        import tracing

        window = tracing.Window(workload)
    workload.setup()
    setup_s = time.monotonic() - t0
    sampler = RssSampler(jvm_pid(workload.spark))
    if window is not None:
        window.begin()
    out = workload.measure(seconds)
    if window is not None:
        window.end()
    out.update(peak_rss_mb=sampler.stop(), setup_s=setup_s)
    if window is not None:
        out["layers"] = window.layers(out)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import flink_connector_http_spark  # noqa: F401 — fail fast without the engine

    from workloads import CONFIG, E2E_METRICS, WORKLOADS, cleanup_work, dumps

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cleanup_work()
    # every file a run writes stays under WORK
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        (WORK / sub).mkdir(parents=True)
        os.environ[var] = str(WORK / sub)
    worker_env = {"PYTHONPATH": os.pathsep.join(
        p for p in (str(HERE.parent), os.environ.get("PYTHONPATH", "")) if p)}
    workload = WORKLOADS[args.workload](args.seed, worker_env)
    try:
        out = run(workload, args.seconds, bool(args.trace))
    finally:
        workload.close()
        stop_jvm()
        cleanup_work()
    if args.trace:
        metrics = {k: v for k, (v, _unit) in out["layers"].items()}
        units = {k: unit for k, (_v, unit) in out["layers"].items()}
    else:
        metrics = {k: out[k] for k in E2E_METRICS}
        units = E2E_METRICS
    print(dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                 "config": CONFIG[args.workload], "detail": out}), file=sys.stderr)
    print(dumps({
        "correct": not out["failed"],
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    if out["failed"]:
        print(f"output check failed: {out['failed']} of {out['attempted']}",
              file=sys.stderr)
        return 1
    if out["invalid"]:
        print(f"invalid run: {'; '.join(out['invalid'])}", file=sys.stderr)
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
