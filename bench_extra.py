"""Extra benchmarks for the optimization round (bench.py is frozen).

Re-measures single declared queries under the exact bench.py session
configuration: noop sink (guide §1.4), job descriptions (§1.5), one
untimed warm-up pass over the named queries (JIT, Arrow, Python workers,
page cache), then ``--n`` interleaved rounds, each running every named
query once in order so slow host drift spreads over all of them. Prints
one JSON line with every sample and the per-query median. Optional
``.explain("formatted")`` capture to a file (the plans/r07 evidence).

Usage:
    python bench_extra.py QUERY [QUERY ...] [--n 3] [--explain-dir plans/r07] [--suffix before]
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from anytomd_spark.pipeline import build_session

    qs = entrymod.queries()
    unknown = [name for name in args.queries if name not in qs]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = build_session(
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS * 2,
        app_name="anytomd-bench-extra",
        extra_conf={"spark.sql.files.maxPartitionBytes": "4m"},
    )
    spark.sparkContext.setLogLevel("WARN")
    # same worker warmup as bench.py
    spark.range(0, CPUS, 1, CPUS).mapInPandas(lambda it: it, "id long").count()

    def run(name: str) -> None:
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    for name in args.queries:
        spark.sparkContext.setJobDescription(f"{name}#warmup")
        run(name)
    samples: dict[str, list[float]] = {name: [] for name in args.queries}
    for i in range(args.n):
        for name in args.queries:
            spark.sparkContext.setJobDescription(f"{name}#{i}")
            t0 = time.time()
            run(name)
            samples[name].append(round(time.time() - t0, 3))
    spark.sparkContext.setJobDescription(None)

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        for name in args.queries:
            buf = io.StringIO()
            with redirect_stdout(buf):
                qs[name](spark, SF_DIR).explain("formatted")
            path = os.path.join(
                args.explain_dir, f"{name}_{args.suffix}.txt"
            )
            with open(path, "w") as f:
                f.write(buf.getvalue())
    spark.stop()
    print(json.dumps({
        "sf_dir": SF_DIR, "cpus": CPUS, "rounds": args.n,
        "note": "1 untimed warmup pass, then interleaved rounds",
        "samples": samples,
        "medians": {name: round(statistics.median(v), 3)
                    for name, v in samples.items()},
    }))


if __name__ == "__main__":
    main()
