"""Spark timing harness for named legs (bench.py is frozen).

A leg is any ``queries()`` name, or ``convert_pipeline`` /
``convert_pipeline_salted``: ``bench.bench_convert`` over the cached
``bench.ensure_transcripts`` table of ``$SPARK_GRAFT_BENCH_CONVS``
conversations. Legs run under the exact bench.py session configuration
(``local[$SPARK_GRAFT_CPUS]``, inputs under ``$SPARK_GRAFT_SF_DIR``):
noop sink (guide §1.4), job descriptions (§1.5), one warm-up pass over
the named legs (JIT, Arrow, Python workers, page cache, one-time input
caches), timed on its own as ``cold_first_pass``, then ``--n``
interleaved rounds, each running every named leg once in order so slow
host drift spreads over all of them.

Prints one JSON line: every sample, the per-leg median, the cold pass,
the driver JVM's peak RSS (``jvm_vmhwm_mb``, which in local mode covers
the executors), and the same-window host control
(``scripts/run_scaling.host_control``) at ``$SPARK_GRAFT_CPUS`` processes,
taken after the session stops. Optional ``.explain("formatted")``
capture of the query legs to a file (the plans/r07 evidence). README
"Running" gives the scale-up, convert, N-vs-4N and stream recipes.

Usage:
    python bench_extra.py LEG [LEG ...] [--n 3] [--explain-dir plans/r07] [--suffix before]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _jvm_vmhwm_kb(spark) -> int:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM"):
                return int(line.split()[1])
    return -1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    import bench
    from anytomd_spark import pipeline

    # the legs read ``spark`` when they run, after the session starts
    # below; the table exists first so a bad name starts no JVM
    spark = None

    def query_leg(q):
        return lambda: q(spark, SF_DIR).write.format("noop").mode(
            "overwrite").save()

    def convert_leg(salted: bool):
        return lambda: bench.bench_convert(
            spark, bench.ensure_transcripts(spark, bench.N_CONVS),
            salted=salted,
        )

    qs = entrymod.queries()
    legs = {name: query_leg(q) for name, q in qs.items()}
    legs["convert_pipeline"] = convert_leg(False)
    legs["convert_pipeline_salted"] = convert_leg(True)
    unknown = [name for name in args.queries if name not in legs]
    if unknown:
        ap.error(f"unknown legs: {unknown}")

    spark = pipeline.build_session(
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS * 2,
        app_name="anytomd-bench-extra",
        extra_conf={"spark.sql.files.maxPartitionBytes": "4m"},
    )
    spark.sparkContext.setLogLevel("WARN")
    # same worker warmup as bench.py
    spark.range(0, CPUS, 1, CPUS).mapInPandas(lambda it: it, "id long").count()

    def timed(name: str, tag: str) -> float:
        spark.sparkContext.setJobDescription(f"{name}#{tag}")
        t0 = time.time()
        legs[name]()
        return round(time.time() - t0, 3)

    cold = {name: timed(name, "warmup") for name in args.queries}
    samples: dict[str, list[float]] = {name: [] for name in args.queries}
    for i in range(args.n):
        for name in args.queries:
            samples[name].append(timed(name, str(i)))
    spark.sparkContext.setJobDescription(None)

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        for name in args.queries:
            if name not in qs:
                continue
            buf = io.StringIO()
            with redirect_stdout(buf):
                qs[name](spark, SF_DIR).explain("formatted")
            path = os.path.join(
                args.explain_dir, f"{name}_{args.suffix}.txt"
            )
            with open(path, "w") as f:
                f.write(buf.getvalue())
    vmhwm_mb = round(_jvm_vmhwm_kb(spark) / 1024)
    spark.stop()

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from run_scaling import host_control

    print(json.dumps({
        "sf_dir": SF_DIR, "cpus": CPUS, "rounds": args.n,
        "note": "1 warm-up pass (cold_first_pass), then interleaved rounds",
        "cold_first_pass": cold,
        "samples": samples,
        "medians": {name: round(statistics.median(v), 3)
                    for name, v in samples.items()},
        "jvm_vmhwm_mb": vmhwm_mb,
        "host_control_rows_per_s_per_core": round(host_control(CPUS), 1),
    }))


if __name__ == "__main__":
    main()
