"""Benchmark of the anytomd_spark conversion job on seeded workloads.

    python3 perfbench/run.py --workload transcripts_mixed --seed 1 \\
        --seconds 10 --trace 0

Load model: closed loop, one ``pipeline.run_pipeline`` job at a time from
this process, on a Spark session sized to the host (``local[N]`` with N the
CPU affinity count, driver heap from available memory). Each run:

1. generates (or reuses) the seeded input table of the workload;
2. starts the session and times it until the package is shipped, the
   native HTML walker is loaded and a Python worker is warm on every core
   (``setup_s``);
3. runs one first pass, then warm passes until the passes together reach
   ``--seconds`` (at least one warm pass; the first pass alone outlasts
   ``--seconds 10``, so that is one warm pass). The gated metric is
   ``cpu_s``, the CPU seconds of this process and its descendants during
   the median warm pass; the context line carries the first pass's CPU
   time (``first_pass_cpu_s``), the wall times (``first_pass_s``,
   ``wall_s``, ``turns_per_s``), the steal meanwhile, and
   ``peak_rss_mb``, the peak summed RSS of the JVM and the Python workers
   during all passes;
4. gates every pass for correctness outside the timed region (gate.py).

``--trace 1`` runs the separate per-layer measurement of layers.py instead.
The last line of stdout is the result object; the line before it carries
the run's context (host sizing, pass times, the same-window host
control). The exit code is non-zero when any correctness check fails.
All files the run writes stay under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import session
from session import ROOT, SALTED, WORK

# the end-to-end metrics of BENCHMARK.json, with their units: the CPU
# time of a warm pass, not its wall time, which the hypervisor's steal on
# a shared host spreads past any bound (see README.md)
END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
}
MIN_WARM_PASSES = 1


def host_control(cpus: int) -> float | None:
    """Pure-Python kernel rows/s per core with every core busy and no
    Spark (scripts/run_scaling.py), reported as context only."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        from run_scaling import host_control as control

        return round(control(cpus, n_rows=1000, reps=1), 1)
    except Exception as e:  # noqa: BLE001 - context must never fail a run
        print(f"host control unavailable: {e!r}", file=sys.stderr)
        return None


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    })


def measure(workload: str, seed: int, seconds: float, sizing: dict,
            input_path: str, table) -> tuple[dict, dict, list[str]]:
    """The untraced run: end-to-end metrics, context and gate problems."""
    salted = SALTED[workload]
    runs_dir = os.path.join(WORK, "runs", str(os.getpid()))
    problems: list[str] = []
    failed = 0
    gate_s = 0.0

    def gate(res, gate_seed):
        nonlocal failed, gate_s
        failed += res["failures"]
        t = time.perf_counter()
        problems.extend(session.gate_pass(table, runs_dir, res, gate_seed))
        gate_s += time.perf_counter() - t

    t0 = time.perf_counter()
    spark = session.start_session(sizing)
    setup_s = time.perf_counter() - t0
    try:
        with session.RssSampler() as rss:
            first, res = session.run_pass(spark, input_path, runs_dir, salted)
            gate(res, seed)
            warm: list[session.PassTimes] = []
            while (first.wall_s + sum(w.wall_s for w in warm) < seconds
                   or len(warm) < MIN_WARM_PASSES):
                t, res = session.run_pass(spark, input_path, runs_dir, salted)
                warm.append(t)
                gate(res, seed * 1000 + len(warm))
    finally:
        session.stop_session(spark)
        shutil.rmtree(runs_dir, ignore_errors=True)
    wall = statistics.median(w.wall_s for w in warm)
    attempted = len(table) * (1 + len(warm))
    metrics = {
        "setup_s": setup_s,
        "cpu_s": statistics.median(w.cpu_s for w in warm),
    }
    context = {
        # not gated: steal moves wall time run to run, and the first
        # pass's CPU time with it (0.12 of its median over five seeds)
        "first_pass_s": {"value": first.wall_s, "unit": "s"},
        "first_pass_cpu_s": {"value": first.cpu_s, "unit": "s"},
        "wall_s": {"value": wall, "unit": "s"},
        "turns_per_s": {"value": len(table) / wall, "unit": "turns/s"},
        # not gated: the JVM's share grows as G1 commits heap, run to run
        # it spread 0.30 of its median
        "peak_rss_mb": {"value": rss.peak_kb / 1024, "unit": "MB"},
        "passes": [t._asdict() for t in [first] + warm],
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "gate_s": round(gate_s, 3),
    }
    return metrics, context, problems


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    sys.path.insert(0, ROOT)
    try:
        import anytomd_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}",
              file=sys.stderr)
        return 2
    import inputs
    import pyarrow.parquet as pq

    if args.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(inputs.WORKLOADS)}", file=sys.stderr)
        return 2

    session.isolate_env()
    sizing = session.host_sizing()
    input_path = inputs.ensure_input(os.path.join(WORK, "inputs"),
                                     args.workload, args.seed)
    table = pq.read_table(input_path).to_pandas()
    context = {"workload": args.workload, "seed": args.seed, **sizing,
               "turns": len(table), "salted": SALTED[args.workload],
               "input_s": round(time.perf_counter() - started, 3)}

    if args.trace:
        import layers

        metrics, units, extra, problems = layers.trace_run(
            args.workload, args.seed, sizing, input_path, table)
        attempted, failed = extra.pop("attempted"), extra.pop("failed")
    else:
        metrics, extra, problems = measure(
            args.workload, args.seed, args.seconds, sizing, input_path, table)
        units = END_TO_END_UNITS
        attempted, failed = extra["attempted"], extra["failed"]
    context.update(extra)
    context["host_control_rows_per_s_per_core"] = host_control(sizing["cpus"])
    context["problems"] = problems[:20]
    context["run_s"] = round(time.perf_counter() - started, 3)
    print(json.dumps({"context": context}))
    print(result_line(not problems, attempted, failed, metrics, units))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
