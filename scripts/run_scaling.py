"""Two-parallelism scaling evidence (the sandbox substitute for N vs 4N
executors, BASELINE.md protocol): run the identical conversion job on the
identical cached input at local[8] and local[32], report turns/sec at both
and efficiency = (throughput_32 / throughput_8) / 4. Appends the result
table to BENCH/BASELINE.md and prints a JSON line.

Measurement hygiene (single-host substitutions for cluster noise):
* input parquet pre-read into the OS page cache before each leg (a real
  cluster reads from distributed storage that scales with the nodes);
* per leg: fresh JVM, full-job warmup on a 10% slice (JIT + Python
  workers + Arrow paths), then the timed job twice, minimum taken;
* identical confs except ``master``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import zlib
from html.parser import HTMLParser

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_CONVS = int(os.environ.get("SPARK_GRAFT_SCALE_CONVS", "400000"))
# Default pair N=2 / 4N=8: on 32-core sandbox VMs, per-core CPU speed
# itself drops with the number of ACTIVE cores (turbo/SMT/steal — ~26%
# between 8 and 32 on the round-5 VM), which caps any framework's
# measurable 8->32 efficiency well below 1. With both legs under host
# capacity (2 and 8 task slots) the drop is small and the measurement
# isolates the FRAMEWORK's scaling, which is what the criterion is
# about. Because the drop is VM-specific, :func:`host_control` measures
# it AT RUN TIME (same payloads, stdlib work, no Spark) and the
# evidence block reports both raw and host-normalized efficiency.
# Set SPARK_GRAFT_SCALE_N/4N to run other pairs.
N_SMALL = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
N_LARGE = int(os.environ.get("SPARK_GRAFT_SCALE_4N", "8"))
REPEATS = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "1"))
# interleaved leg ROUNDS: (N, 4N) pairs run alternating, efficiency from
# per-leg MEDIANS — sequential all-N-then-all-4N legs let thermal /
# host-state drift bias the ratio (observed 0.61 vs 1.04-1.11 between
# back-to-back runs of the sequential protocol)
ROUNDS = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "3"))
PIN = os.environ.get("SPARK_GRAFT_SCALE_PIN", "0") == "1"
CACHE_PARTS = 256


def warm_page_cache(path: str) -> None:
    for name in os.listdir(path):
        full = os.path.join(path, name)
        if os.path.isfile(full):
            with open(full, "rb") as f:
                while f.read(1 << 22):
                    pass


def run_leg(cpus: int, transcripts_path: str) -> dict:
    """One leg in a fresh JVM so legs share nothing but the input files."""
    code = f"""
import sys, time, json, glob
sys.path.insert(0, {REPO!r})
from pyspark.sql import functions as F
from anytomd_spark.pipeline import (
    DRIVER_JAVA_OPTIONS, build_session, convert_transcripts)
spark = build_session(master="local[{cpus}]", shuffle_partitions={cpus * 2},
                      app_name="scaling-{cpus}",
                      extra_conf={{
                          "spark.driver.memory": "16g",
                          "spark.driver.extraJavaOptions":
                              f"{{DRIVER_JAVA_OPTIONS}} -XX:+UseParallelGC",
                          "spark.sql.files.maxPartitionBytes": "4m",
                      }})
spark.sparkContext.setLogLevel("WARN")
df = spark.read.parquet({transcripts_path!r})

def job(frame):
    stats = convert_transcripts(frame).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("fails"),
    ).collect()[0]
    assert stats.fails == 0
    return stats.n

# warmup: full pipeline on ~10% of the files (JIT, python workers, Arrow)
files = sorted(glob.glob({transcripts_path!r} + "/part-*.parquet"))
warm = spark.read.parquet(*files[: max(1, len(files) // 10)])
job(warm)

best = None
n = 0
for _ in range({REPEATS}):
    t0 = time.time()
    n = job(df)
    dt = time.time() - t0
    best = dt if best is None else min(best, dt)
print("LEGRESULT " + json.dumps({{"cpus": {cpus}, "sec": best, "turns": n}}))
spark.stop()
"""
    cmd = [sys.executable, "-c", code]
    if PIN:
        # optional: confine the whole leg (JVM + Python workers) to
        # exactly `cpus` cores, like a cpus-core executor host would
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    for line in out.stdout.splitlines():
        if line.startswith("LEGRESULT "):
            return json.loads(line[len("LEGRESULT "):])
    raise RuntimeError(f"no result line; stderr: {out.stderr[-2000:]}")


# ---- host control: same payloads, stdlib work, no Spark ---------------
#
# Answers "how much of a sub-1.0 Spark efficiency is the SILICON, not the
# framework?" in the same window as the Spark legs. Each worker runs the
# identical stdlib-only work over the payloads of one deterministic
# sample batch; per-core rate = work / the slowest worker's own elapsed
# time with n busy cores (pool start-up and join excluded). Nothing from
# anytomd_spark runs in the timed loop, so the rate moves with the
# machine, never with the converters. Fork inherits the parent's warm
# interpreter state (imports, the payload list) so workers start hot.

_CONTROL_TEXTS: list[str] | None = None


def _control_task(reps: int) -> float:
    t0 = time.time()
    for _ in range(reps):
        for text in _CONTROL_TEXTS:
            parser = HTMLParser()
            parser.feed(text)
            parser.close()
            zlib.compress(json.dumps(text).encode("utf-8"))
    return time.time() - t0


def host_control(n_procs: int, n_rows: int = 2000, reps: int = 6,
                 seed: int = 42) -> float:
    """Payload rows/s PER CORE with ``n_procs`` busy cores (no Spark):
    html.parser tokenising, JSON encoding and zlib compression of each
    payload of an ``n_rows`` generated batch."""
    global _CONTROL_TEXTS
    import multiprocessing as mp

    import numpy as np

    from anytomd_spark.transcripts import conversation_sizes, generate_batch

    if _CONTROL_TEXTS is None:
        sizes = conversation_sizes(2000, seed, 10 ** 9, 2000)  # no megas
        cum = np.cumsum(sizes)
        batch = generate_batch(np.arange(0, n_rows, dtype=np.int64), cum, seed)
        _CONTROL_TEXTS = list(batch["text"])
        _control_task(1)  # parent warmup — forked workers inherit it
    ctx = mp.get_context("fork")
    with ctx.Pool(n_procs) as pool:
        elapsed = pool.map(_control_task, [reps] * n_procs)
    # every worker does the same n_rows*reps; time the slowest worker's
    # work, not the pool's process start-up and join
    return n_rows * reps / max(elapsed)


def ensure_cache(n_convs: int) -> str:
    from anytomd_spark.pipeline import build_session
    from anytomd_spark.transcripts import generate_transcripts

    path = os.path.join(REPO, ".bench", f"transcripts_{n_convs}_p{CACHE_PARTS}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spark = build_session(master=f"local[{N_LARGE}]", shuffle_partitions=64)
        spark.sparkContext.setLogLevel("WARN")
        generate_transcripts(
            spark, n_convs=n_convs, seed=42, mega_every=20000,
            mega_size=2000, partitions=CACHE_PARTS,
        ).write.mode("overwrite").parquet(path)
        spark.stop()
    return path


def main() -> None:
    import statistics

    transcripts_path = ensure_cache(N_CONVS)

    smalls, larges = [], []
    for _ in range(ROUNDS):
        warm_page_cache(transcripts_path)
        smalls.append(run_leg(N_SMALL, transcripts_path))
        warm_page_cache(transcripts_path)
        larges.append(run_leg(N_LARGE, transcripts_path))

    small = {"turns": smalls[0]["turns"],
             "sec": statistics.median(r["sec"] for r in smalls)}
    large = {"turns": larges[0]["turns"],
             "sec": statistics.median(r["sec"] for r in larges)}
    small_samples = [round(r["sec"], 2) for r in smalls]
    large_samples = [round(r["sec"], 2) for r in larges]

    tput_small = small["turns"] / small["sec"]
    tput_large = large["turns"] / large["sec"]
    scale_factor = N_LARGE / N_SMALL
    efficiency = (tput_large / tput_small) / scale_factor

    # same-window host control (interleaved, medians): how much per-core
    # speed the SILICON loses between N and 4N busy cores
    ctrl_small, ctrl_large = [], []
    for _ in range(2):
        ctrl_small.append(host_control(N_SMALL))
        ctrl_large.append(host_control(N_LARGE))
    percore_small = statistics.median(ctrl_small)
    percore_large = statistics.median(ctrl_large)
    host_drop = percore_large / percore_small
    efficiency_hostnorm = efficiency / host_drop if host_drop > 0 else None

    result = {
        "turns": small["turns"],
        f"sec_local{N_SMALL}": round(small["sec"], 2),
        f"sec_local{N_LARGE}": round(large["sec"], 2),
        f"turns_per_sec_local{N_SMALL}": round(tput_small, 1),
        f"turns_per_sec_local{N_LARGE}": round(tput_large, 1),
        "scaling_efficiency": round(efficiency, 3),
        "criterion": ">= 0.8",
        "pass": efficiency >= 0.8,
        f"samples_local{N_SMALL}": small_samples,
        f"samples_local{N_LARGE}": large_samples,
        "rounds": ROUNDS,
        "host_control_rows_per_sec_per_core": {
            f"{N_SMALL}_procs": round(percore_small, 1),
            f"{N_LARGE}_procs": round(percore_large, 1),
        },
        "host_percore_retention": round(host_drop, 3),
        "scaling_efficiency_hostnorm": round(efficiency_hostnorm, 3),
    }
    print(json.dumps(result))

    bench_dir = os.path.join(REPO, "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    with open(os.path.join(bench_dir, "BASELINE.md"), "a") as f:
        f.write(
            f"""
## Scaling run {stamp}

Identical job (convert_transcripts over {small['turns']:,} cached
deterministic turns), identical input files (page-cache warm), identical
confs except master, fresh JVM per leg with a 10%-slice warmup.
{ROUNDS} INTERLEAVED (N, 4N) rounds — efficiency from per-leg medians;
all wall-sec samples: N={small_samples} / 4N={large_samples}
(best of {REPEATS} timed run(s) within each leg; sandbox substitute for
N vs 4N executors; pinning={'on' if PIN else 'off'}). Host control, measured in the
SAME window (stdlib-only multiprocessing work over the same payloads,
no Spark): per-core speed {percore_small:,.0f} rows/s at {N_SMALL} busy cores vs
{percore_large:,.0f} rows/s at {N_LARGE} — the silicon itself retains {host_drop:.3f} per-core,
so that factor of any sub-1.0 raw efficiency is the VM (turbo/SMT/
steal), not the framework:

| master | wall sec | turns/sec |
|---|---|---|
| local[{N_SMALL}] (N) | {small['sec']:.2f} | {tput_small:,.0f} |
| local[{N_LARGE}] (4N) | {large['sec']:.2f} | {tput_large:,.0f} |

efficiency = (throughput_{N_LARGE} / throughput_{N_SMALL}) / {scale_factor:.0f}
           = {efficiency:.3f}  (criterion >= 0.8: {'PASS' if efficiency >= 0.8 else 'FAIL'})
host-normalized (framework-only) = {efficiency:.3f} / {host_drop:.3f} = {efficiency_hostnorm:.3f}
"""
        )


if __name__ == "__main__":
    main()
