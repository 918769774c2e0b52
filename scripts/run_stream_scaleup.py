"""Streaming scale-up evidence (VERDICT r4 #7): the two headline
Structured Streaming operators run as availableNow catch-up jobs over
the bench transcripts at 1x (40k convs, ~266k turns) and 10x (400k
convs, ~2.66M turns), fresh JVM per leg, reporting throughput, the
state store's peak row count / memory from the query progress, and the
JVM peak RSS (VmHWM).

Legs:
  * stateful: ``stateful_turn_dedup`` (applyInPandasWithState, one
    state row per conversation, bounded FIFO hash set per row).
  * windowed: ``convert_transcripts`` -> ``metrics_stream`` (watermarked
    5-minute windows x fmt — state bounded by the window span, NOT by
    input size).

Pass criterion (mirrors run_scaleup.py): per-row throughput at 10x
within ~15% of 1x (or better), state rows growing with the keyspace
(convs / windows) rather than the turn count, VmHWM sublinear.

    python scripts/run_stream_scaleup.py              # both legs, both scales
    python scripts/run_stream_scaleup.py --leg stateful --mult 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_CONVS_1X = int(os.environ.get("SPARK_GRAFT_STREAM_CONVS", "40000"))


def _jvm_vmhwm_kb(spark) -> int:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM"):
                return int(line.split()[1])
    return -1


def run_leg(leg: str, mult: int) -> None:
    import shutil
    import tempfile

    import bench
    from anytomd_spark.pipeline import build_session, convert_transcripts
    from anytomd_spark.streaming import (
        metrics_stream,
        read_transcripts_stream,
        stateful_turn_dedup,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus * 2,
        app_name=f"anytomd-stream-scaleup-{leg}-{mult}x",
        extra_conf={"spark.sql.files.maxPartitionBytes": "4m"},
    )
    spark.sparkContext.setLogLevel("WARN")
    spark.range(0, cpus, 1, cpus).mapInPandas(lambda it: it, "id long").count()

    n_convs = N_CONVS_1X * mult
    inp = bench.ensure_transcripts(spark, n_convs)
    n_turns = spark.read.parquet(inp).count()

    base = tempfile.mkdtemp(prefix=f"anytomd_stream_scale_{leg}_")
    ckpt = os.path.join(base, "ckpt")
    counts: list[int] = []

    stream = read_transcripts_stream(spark, inp, max_files_per_trigger=32)
    if leg == "stateful":
        out_df = stateful_turn_dedup(stream)
        mode = "update"
    else:
        out_df = metrics_stream(convert_transcripts(stream))
        mode = "complete"

    t0 = time.time()
    q = (
        out_df.writeStream.foreachBatch(
            lambda df, _e: counts.append(df.count())
        )
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(1800):
        q.stop()
        sys.exit("stream did not finish in 30 min")
    sec = time.time() - t0

    state_rows = 0
    state_mb = 0.0
    for p in q.recentProgress:
        for so in (p.get("stateOperators") or []):
            state_rows = max(state_rows, so.get("numRowsTotal") or 0)
            state_mb = max(
                state_mb, (so.get("memoryUsedBytes") or 0) / 1e6
            )
    out = {
        "leg": leg, "mult": mult, "cpus": cpus, "n_convs": n_convs,
        "n_turns": int(n_turns), "sec": round(sec, 2),
        "turns_per_sec": round(n_turns / sec, 1),
        "n_batches": len(counts), "rows_out_last": counts[-1] if counts else 0,
        "state_rows_peak": int(state_rows),
        "state_mb_peak": round(state_mb, 1),
        "jvm_vmhwm_mb": round(_jvm_vmhwm_kb(spark) / 1024),
    }
    spark.stop()
    shutil.rmtree(base, ignore_errors=True)
    print("STREAMSCALE " + json.dumps(out))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--leg", choices=["stateful", "windowed"])
    ap.add_argument("--mult", type=int)
    args = ap.parse_args()
    if args.leg:
        run_leg(args.leg, args.mult or 1)
        return
    results = []
    for leg in ("stateful", "windowed"):
        for mult in (1, 10):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--leg", leg, "--mult", str(mult)],
                capture_output=True, text=True, cwd=REPO,
            )
            line = [ln for ln in p.stdout.splitlines()
                    if ln.startswith("STREAMSCALE ")]
            if not line:
                sys.exit(f"{leg} x{mult} failed:\n{p.stdout[-2000:]}"
                         f"\n{p.stderr[-4000:]}")
            results.append(json.loads(line[-1][12:]))
            print(line[-1], flush=True)
    by = {(r["leg"], r["mult"]): r for r in results}
    summary = {}
    for leg in ("stateful", "windowed"):
        r1, r10 = by[(leg, 1)], by[(leg, 10)]
        summary[f"{leg}_tps_1x"] = r1["turns_per_sec"]
        summary[f"{leg}_tps_10x"] = r10["turns_per_sec"]
        summary[f"{leg}_tps_ratio_10x_vs_1x"] = round(
            r10["turns_per_sec"] / r1["turns_per_sec"], 3)
        summary[f"{leg}_state_rows"] = [r1["state_rows_peak"],
                                        r10["state_rows_peak"]]
        summary[f"{leg}_vmhwm_mb"] = [r1["jvm_vmhwm_mb"],
                                      r10["jvm_vmhwm_mb"]]
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
