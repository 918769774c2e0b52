"""spark-submit launcher for the extraction job.

spark-submit runs a SCRIPT (it has no ``-m`` module mode), so this file
is the submit target; the package itself arrives via ``--py-files`` and
is importable from the zip on both the driver and the executors:

    cd /root/repo && zip -qr /tmp/anytomd_spark.zip anytomd_spark
    spark-submit --master local[32] \
        --py-files /tmp/anytomd_spark.zip \
        scripts/submit_job.py \
        --input  /data/transcripts.parquet \
        --output /data/converted \
        --lineage /data/converted_lineage

The driver JVM already exists when the job calls ``build_session``, so
its C1-only default (``pipeline.DRIVER_JAVA_OPTIONS``) cannot apply
here; add ``--driver-java-options "-XX:TieredStopAtLevel=1
-XX:ReservedCodeCacheSize=240m"`` to the command for the same JIT mode
(``python -m anytomd_spark.job`` gets it on its own).

On a real cluster replace ``--master`` with the cluster manager and size
``--num-executors`` / ``--executor-cores`` as usual; everything the job
needs ships in the one zip (pure stdlib + pyspark/pandas/numpy, which
the executors' Python already has). End-to-end exercised by
tests/test_spark_pipeline.py::test_job_spark_submit_py_files.
"""

import sys

from anytomd_spark.job import main

if __name__ == "__main__":
    sys.exit(main())
