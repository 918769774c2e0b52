"""spark-submit entry point for the extraction job.

    zip -r anytomd_spark.zip anytomd_spark
    spark-submit --py-files anytomd_spark.zip scripts/submit_job.py \\
        --input  /data/transcripts \\
        --output /data/converted \\
        --lineage /data/converted_lineage \\
        [--strict] [--salted] [--buckets N] [--max-input-bytes 8GiB]

(spark-submit has no ``-m`` module mode; scripts/submit_job.py is the
thin submit target that imports this module from the --py-files zip.
``python -m anytomd_spark.job`` also works for local runs.)

JIT mode: ``build_session`` makes the driver JVM C1-only
(``pipeline.DRIVER_JAVA_OPTIONS``), which ``python -m anytomd_spark.job``
gets on its own because that call starts the JVM. Under spark-submit the
driver JVM already exists when ``build_session`` runs, so the default
cannot apply; pass ``--driver-java-options "-XX:TieredStopAtLevel=1
-XX:ReservedCodeCacheSize=240m"`` to get the same mode.

Reads the transcripts table (parquet; an Iceberg table resolves through
``spark.read.table`` when a catalog is configured — pass --table instead
of --input), converts every turn, writes bucket-partitioned output with
a lineage sidecar, and resumes from completed buckets on re-run.

Bucket count: the lineage records the count each bucket was written
with, and a resume adopts it (a ``--buckets`` that differs raises before
anything is written). A first run with no ``--buckets`` takes one bucket
per ``pipeline.BUCKET_INPUT_BYTES`` (4 MiB) of input, 1 to 4,096, or 64
when the input's size is unknown. Each bucket is one output file and
costs about 10 ms of CPU a pass whatever its size; post-kernel
parallelism is ``min(n_buckets, spark.sql.shuffle.partitions)``. That
the rule's count costs no wall time against 64 buckets was measured at
local[4] only; at cluster parallelism it is unverified. A
``--no-resume`` rerun with no ``--buckets`` also runs at the recorded
count. The printed JSON line reports ``n_buckets`` and
``n_buckets_from`` (``explicit``, ``lineage`` or ``input_bytes``).
"""

from __future__ import annotations

import argparse
import json
import sys

from anytomd_spark.kernels.parse import ByteSizeError, byte_size
from anytomd_spark.pipeline import build_session, run_pipeline


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts parquet path")
    src.add_argument("--table", help="catalog table name (e.g. Iceberg)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--buckets", type=int, default=None,
                    help="output/lineage bucket count (resume granularity); "
                         "default: the count the lineage records, else one "
                         "bucket per 4 MiB of input, 1 to 4096")
    ap.add_argument("--partitions", type=int, default=None,
                    help="pin the --salted shuffle to this many partitions "
                         "(Python tasks); default: AQE sizes it by shuffle "
                         "bytes, about one partition per core and none "
                         "below 1 MiB. Ignored without --salted")
    ap.add_argument("--salted", action="store_true",
                    help="salted repartition before the kernel (use when "
                         "the source layout is conversation-clustered)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--max-input-bytes", default="8GiB",
                    help="per-turn payload size guard (human-readable)")
    ap.add_argument("--strict", action="store_true",
                    help="fail a row on its first conversion warning")
    ap.add_argument("--storage", choices=("iceberg", "parquet"), default=None,
                    help="output/lineage backend; default auto-detects the "
                         "Iceberg runtime and falls back to parquet")
    args = ap.parse_args(argv)

    try:
        max_input_bytes = byte_size(args.max_input_bytes)  # validate early
    except ByteSizeError as e:
        ap.error(f"--max-input-bytes: {e}")

    spark = build_session(master=args.master, app_name="anytomd-convert")
    if args.table:
        transcripts = spark.read.table(args.table)
    else:
        transcripts = spark.read.parquet(args.input)

    result = run_pipeline(
        spark,
        transcripts,
        output_path=args.output,
        lineage_path=args.lineage,
        run_id=args.run_id,
        n_buckets=args.buckets,
        resume=not args.no_resume,
        partitions=args.partitions,
        salted=args.salted,
        strict=args.strict,
        max_input_bytes=max_input_bytes,
        storage=args.storage,
    )
    print(json.dumps(result))
    return 0 if result["failures"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
