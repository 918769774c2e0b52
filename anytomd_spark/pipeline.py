"""The Spark extraction pipeline.

Lifecycle (SURVEY.md §3.4):

    read transcripts -> anti-join completed lineage buckets (resume)
      -> (optional) salted repartition -> mapInPandas(convert_batch)
      -> bucket-keyed shuffle + window-ordered output
      -> idempotent per-bucket overwrite, one file per bucket
      -> lineage rows (bytes in, chars out, fmt histogram, failures)

Scale notes (designed for 10^12 turns / 1000 executors; validated on
local[32]):
  * The only JVM<->Python crossing is the Arrow-batched ``mapInPandas``;
    everything else is Catalyst-planned (scan pruning, AQE coalescing).
  * Arrow batches carry ``ARROW_BATCH_ROWS`` = 4096 rows
    (``spark.sql.execution.arrow.maxRecordsPerBatch``).
  * Skewed mega-conversations are split by a turn-derived salt BEFORE the
    shuffle: the kernel is per-row, so rows of one conversation do not need
    to be co-located for conversion — only the final per-conversation
    ordering needs a shuffle, and that one is handled by the window sort.
  * The salted shuffle is sized by bytes, not by
    ``spark.sql.shuffle.partitions``: with no ``partitions`` it has no
    fixed count, so AQE coalesces neighbouring partitions up to
    ``min(64 MiB, shuffle bytes / defaultParallelism)`` each, never
    below 1 MiB (Spark's defaults). A caller's ``partitions``
    (``job.py --partitions``, ``bench.py``'s ``CPUS * 2``) pins it. Every
    Python task has a fixed cost whatever its rows. On a 4-core VM, a
    reused worker spent a median 31 ms of CPU between the end of one
    conversion task and the start of the next. An identity
    ``mapInPandas`` over 6k web turns cost 1.0-1.3 CPU-s in the workers
    at 32 partitions and 0.14-0.32 at 4. A warm salted 6k-turn web pass
    ran 32 conversion tasks at ``spark.sql.shuffle.partitions`` and runs
    4 sized by bytes: worker CPU 1.45 -> 0.48 CPU-s, wall 1.16 -> 0.89 s.
  * Resume is bucket-granular: output is written partitioned by
    ``bucket = pmod(xxhash64(conv_id), n_buckets)`` with dynamic partition
    overwrite, so a re-run overwrites exactly the buckets it recomputes.
    The lineage records ``n_buckets``; a resume runs at the recorded count
    and raises, before writing, when told another one.
  * The bucket count follows the input's size: a first run with no
    explicit count takes one bucket per ``BUCKET_INPUT_BYTES`` (4 MiB) of
    input, 1 to ``MAX_BUCKETS`` (4,096), from the optimized plan's size
    (no Spark job). Every bucket is one output file, and costs ~10-14 ms
    of CPU a pass whatever its size: a parquet writer and footer, a file
    in the lineage re-read, and ``/bin/chmod`` forks (Hadoop's local file
    system forks one per file or directory it creates when libhadoop is
    not loaded; a warm pass makes ~6.6 new pids a bucket). Too few
    buckets cost wall time instead, since the post-kernel sort and write
    run one task per bucket. Warm passes on a 4-core VM (local[4]), CPU s
    / wall s, median of 4: 40k turns (7.8 MB) 2.25 / 1.13 at 1 bucket,
    2.32 / 0.95 at 2, 2.42 / 0.95 at 4, 3.17 / 1.19 at 64; 200k turns
    (38.4 MB) 9.79 / 4.26 at 1, 9.56 / 2.77 at 8, 9.54 / 2.84 at 10,
    10.57 / 3.17 at 64. The wall-time side was measured only at local[4]:
    on a cluster with many more cores, an input of tens of MB gets a
    handful of post-kernel tasks, and whether that costs wall time there
    is unmeasured.
  * The one post-kernel payload shuffle is keyed on ``bucket`` (a pure
    function of conv_id, so the per-conversation window is unchanged):
    its sort ``(bucket, conv_id, turn_idx)`` is the partitioned write's
    required ordering, so each bucket is written by one task into one
    file with no second sort. Post-kernel parallelism is therefore at
    most ``min(n_buckets, spark.sql.shuffle.partitions)``.
  * The ordering's skew check is a metadata bound first and a Spark job
    only when the bound declines (``ordered_output``): an input whose
    parquet footers hold fewer rows than ``seq_bucket`` (2^20) cannot
    hold a conversation that reaches it, so no probe runs. On a 4-core
    VM a warm pass over a 16-file input of 40k turns (unsalted) or 6k
    turns (salted) launches 5 Spark jobs instead of 8, or 6 instead of
    9; the bound took a median 11-12 ms over 20 warm calls on either
    input, and perfbench's warm-pass ``cpu_s`` fell 10% salted (lower
    in 9 of 10 interleaved pairs) and 4% unsalted (7 of 10).
  * The driver JVM runs on the C1 JIT tier only (``DRIVER_JAVA_OPTIONS``
    = ``-XX:TieredStopAtLevel=1``). In local mode every task runs in that
    JVM, and a batch run lives for a few passes. CPU seconds on a 4-core
    VM over 40k turns: C2's compile threads took 6.9-7.7 s of a 16.4-19.0 s
    first warm pass and were still 2.7-2.9 s of the sixth; C1-only code
    costs the executor tasks ~0.9 s more a pass, and the warm pass drops
    to 11.8-12.2 s. Over six warm passes C1 stays ahead in total (70 vs
    79-91 s). On a 120k-turn input the first pass drops 47.9 -> 31.8 s
    and the first warm pass 29.0 -> 23.9 s; from the second warm pass
    the two are even (24.5/23.7 s C2 vs 25.3/24.3 s C1). A long session
    over a large input can return to C2 with
    ``extra_conf={"spark.driver.extraJavaOptions": ""}``. No executor
    option is set, so executors on a cluster keep C2; under
    ``spark-submit`` the driver JVM already exists, so pass
    ``--driver-java-options`` there instead.
  * The conversion binding drops the worker's cached ``zipimporter``s
    before its first batch (``_drop_zip_importers``). pyspark calls
    ``importlib.invalidate_caches()`` at every task start, and on
    CPython 3.11 each cached ``zipimporter`` then re-reads its archive's
    whole directory: on a 4-core VM with Spark 4.1.2, 17 reads a task,
    mostly ``pyspark.zip`` (1,328 entries, 12 times) and ``spark-core``'s
    jar (5,359 entries, twice), about 0.19 CPU-s per Python task
    whatever its size. On a warm 6k-turn web pass (32 Python tasks) that
    was 6.1 of the workers' 14.1 CPU-s, nearly as much as the
    ``mapInPandas`` generator itself (6.3). The drop sits in the one
    conversion binding, so ``run_pipeline``, ``job.py`` and the stream
    all get it, and every conversion task after a worker's first skips
    the re-reads.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from anytomd_spark.batch import OUTPUT_SPARK_SCHEMA, convert_batch

# rows per Arrow batch across the mapInPandas crossing
# (spark.sql.execution.arrow.maxRecordsPerBatch; extra_conf may override)
ARROW_BATCH_ROWS = 4096

# JVM options of the driver, which in local mode is also the executor
# (spark.driver.extraJavaOptions; extra_conf may override): C1 only, with
# the code cache C2's tiers would get (a C1-only JVM reserves 48 MB, and
# a 34-pass session filled it: "CodeCache is full. Compiler has been
# disabled.")
DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def driver_memory(meminfo: str = "/proc/meminfo") -> str | None:
    """Driver heap for ``build_session``: half of ``MemAvailable`` in
    whole GiB, between 1g and 16g; ``None`` (Spark's own default) when
    available memory cannot be read. 16g is the ceiling because the
    suite runs ~60 queries in one long-lived local JVM and an 8g heap
    spent measurable wall time in GC late in the session; the other half
    of memory is left to the Python workers, which hold the payload
    batches."""
    try:
        with open(meminfo) as f:
            kib = next(
                int(line.split()[1]) for line in f
                if line.startswith("MemAvailable:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return None
    half_gib = (kib >> 20) // 2
    return f"{max(1, min(16, half_gib))}g"


def session_conf(
    shuffle_partitions: int = 32,
    extra_conf: dict | None = None,
) -> dict:
    """The Spark settings ``build_session`` applies; ``extra_conf`` wins."""
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # list up to 4,096 paths (job.py's largest documented --buckets)
        # serially on the driver instead of in a Spark job. Above Spark's
        # default of 32, run_pipeline's lineage re-read of 64 bucket
        # directories ran a 64-task listing job, 1.3-1.6 CPU-s on 4 cores
        # even with the paths named; serial listing took 0.07 CPU-s. At
        # 4,096 buckets the job took 19 s wall and 65 CPU-s, serial
        # listing 1.2 s and 1.4 CPU-s. The re-read names only the buckets
        # a run wrote, which bounds the list. Iceberg reads never list;
        # a parquet output on an object store may want Spark's default
        # back through extra_conf
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
        "spark.sql.parquet.compression.codec": "zstd",
        # payloads are fat strings: smaller splits -> >=2 tasks/core so
        # heterogeneous per-row conversion cost doesn't leave stragglers
        "spark.sql.files.maxPartitionBytes": "32m",
        # headless batch runs: the UI listener processes every task
        # event on the driver for a UI nobody opens here; opt back in
        # via extra_conf when debugging interactively (guide §7.1)
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # short-lived batch JVM: C2's compile threads cost more CPU than
        # its faster code saves until a session has run several passes
        # over a large input (measured trade-off in the module
        # docstring); extra_conf {"spark.driver.extraJavaOptions": ""}
        # restores C2. pyspark hands this to the launcher, so it only
        # applies when this call starts the JVM
        "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
    }
    # sized to the host (driver-side only; executors on a cluster size
    # independently)
    heap = driver_memory()
    if heap is not None:
        conf["spark.driver.memory"] = heap
    conf.update(extra_conf or {})
    return conf


def build_session(
    master: str | None = None,
    app_name: str = "anytomd-spark",
    shuffle_partitions: int = 32,
    extra_conf: dict | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in session_conf(shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    # pre-build the native HTML walker on the driver: in local mode the
    # workers share /tmp, so this removes the 32-parallel-cc race from
    # the first conversion task of a cold container (workers on a
    # cluster still build once per node, or silently fall back)
    try:
        from anytomd_spark.kernels._html_native import _get_lib

        _get_lib()
    except Exception:
        pass
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship anytomd_spark to the Python workers (the --py-files analogue
    for library/driver-side use; idempotent per session).

    The zip holds the package's ``.py`` files and the native walker's C
    source. It is rebuilt on every ship, under a temporary name and then
    moved onto ``anytomd_spark_<pid>.zip`` in the temp dir, so a file
    that an earlier process with the same pid left there is never
    shipped."""
    sc = spark.sparkContext
    if getattr(sc, "_anytomd_shipped", False):
        return
    import os
    import tempfile
    import zipfile

    import anytomd_spark

    pkg_dir = os.path.dirname(os.path.abspath(anytomd_spark.__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"anytomd_spark_{os.getpid()}.zip"
    )
    fd, tmp = tempfile.mkstemp(
        suffix=".zip.tmp", dir=os.path.dirname(zip_path)
    )
    try:
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for name in files:
                    if name.endswith((".py", ".c")):
                        full = os.path.join(root, name)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    except BaseException:
        os.unlink(tmp)
        raise
    sc.addPyFile(zip_path)
    sc._anytomd_shipped = True


def _drop_zip_importers() -> None:
    """Forget the cached ``zipimporter`` of every zip on the import path.

    A Python worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and on CPython 3.11 each cached ``zipimporter`` then
    re-reads its archive's whole directory. Dropping them is safe: the
    path hook rebuilds a finder from ``zipimport._zip_directory_cache``
    without reading the archive again, modules already imported keep
    their own loaders, and a newly shipped zip has a new path."""
    import sys
    import zipimport

    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


# salt width of convert_transcripts' repartition: a mega-conversation is
# spread over up to this many tasks
SALT_BUCKETS = 16


def convert_transcripts(
    df: DataFrame,
    partitions: int | None = None,
    repartition: bool = False,
    strict: bool = False,
    max_input_bytes: int | None = None,
) -> DataFrame:
    """transcripts -> converted turns (adds markdown/plain/fmt/... columns).

    The conversion kernel is per-row — embarrassingly parallel — so by
    default NO shuffle precedes it: at 100 TB a full payload shuffle in
    front of a map stage is the single biggest avoidable cost, and
    file-split inputs are already balanced by ``maxPartitionBytes``.

    Set ``repartition=True`` when the source layout is conv-clustered
    (e.g. an Iceberg table partitioned by conversation): then the salted
    key ``(hash(conv_id), pmod(turn_idx, SALT_BUCKETS))`` splits
    mega-conversations so no task inherits a whole one — payload-byte
    skew that AQE's row-count heuristics can miss. The per-conversation
    output ordering is ``ordered_output``'s job regardless (in
    ``run_pipeline`` its shuffle is keyed on ``bucket``).

    With ``partitions`` None the salted shuffle has no fixed count, and
    AQE's coalescing sizes the conversion stage by shuffle bytes: about
    ``defaultParallelism`` tasks, fewer when that would make them
    smaller than 1 MiB (``session_conf`` turns the coalescing on). It
    merges neighbouring hash partitions, so a conversation's salt
    values still reach several tasks once its bytes exceed a partition.
    Each Python task costs a fixed amount of worker CPU whatever its
    rows (module docstring), so fewer, larger tasks are cheaper. An
    explicit ``partitions`` pins the count exactly (``job.py
    --partitions``).
    """
    out = df
    if repartition:
        salt = (
            F.xxhash64("conv_id"),
            F.pmod(F.col("turn_idx"), F.lit(SALT_BUCKETS)),
        )
        # no count: AQE may coalesce the shuffle; a count pins it
        out = (df.repartition(*salt) if partitions is None
               else df.repartition(partitions, *salt))
    # passthrough columns survive the kernel: output schema = input + outputs
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    def _convert_iter(iterator):
        # runs in the worker: later tasks there skip the zip re-reads
        _drop_zip_importers()
        for pdf in iterator:
            yield convert_batch(
                pdf, strict=strict, max_input_bytes=max_input_bytes
            )

    return out.mapInPandas(
        _convert_iter, schema=f"{schema}, {OUTPUT_SPARK_SCHEMA}"
    )


# files input_row_bound reads footers of at most; an input of more files
# runs the skew probe's Spark job instead. On a 4-core VM, local files:
# the bound over 1,024 files took 0.14-0.18 s (py4j's per-file list
# included), less than the probe's 0.21-0.34 s over 16 files of the same
# 40k rows and its 1.5-2.1 s over the 1,024
ROW_BOUND_MAX_FILES = 1024

# URI schemes whose footers input_row_bound reads on the driver: a local
# file costs one open and one read. An object store or HDFS client built
# on the driver would not share Hadoop's credentials and settings, and
# its credential or region lookups can stall; those inputs run the probe
FOOTER_SCHEMES = ("file",)


def input_row_bound(df: DataFrame, stop_at: int | None = None) -> int | None:
    """An upper bound on ``df``'s rows, from metadata: no Spark job.

    Spark's own ``maxRows`` of the optimized plan when it is defined (a
    local relation, ``range``, a limit, a union of those). Otherwise,
    when the plan is only ``Project``/``Filter`` nodes over one parquet
    file relation, the sum of the footers' ``num_rows`` over the files
    Spark listed when it built the relation, read on the driver with
    pyarrow; with ``stop_at``, the reading stops once the sum reaches it
    and returns None. None too for any other plan (an RDD, an Iceberg
    table, a partitioned catalog table, whose files Spark lists only when
    a query runs, another file format, a join or ``explode`` above the
    scan), a scheme outside ``FOOTER_SCHEMES``, more than
    ``ROW_BOUND_MAX_FILES`` files, or any error (a footer that does not
    read). On a 4-core VM a warm bound over 16 local files of 40k
    two-column rows took 4-7 ms and the probe's 3 jobs 0.21-0.34 s wall;
    on a busier host, 11-12 ms over perfbench's 16-file inputs."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        rows = plan.maxRows()
        if rows.isDefined():
            return int(rows.get())
        files = _parquet_scan_files(plan)
        return None if files is None else _footer_rows(files, stop_at)
    except Exception:
        return None


def _parquet_scan_files(plan) -> list[str] | None:
    """The already-listed files of the parquet relation under a chain of
    ``Project``/``Filter`` nodes, which pass on at most their child's
    rows; None for any other plan or past ``ROW_BOUND_MAX_FILES``."""
    node = plan
    while node.getClass().getSimpleName() in ("Project", "Filter"):
        node = node.child()
    if node.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = node.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName()
            != "ParquetFileFormat"
            or rel.location().getClass().getSimpleName()
            != "InMemoryFileIndex"):
        return None
    files = rel.location().inputFiles()
    if len(files) > ROW_BOUND_MAX_FILES:
        return None
    return list(files)


def _footer_rows(files: list[str], stop_at: int | None) -> int | None:
    """The sum of the footers' ``num_rows``; None when a file's scheme
    is not in ``FOOTER_SCHEMES`` or the sum reaches ``stop_at``."""
    from urllib.parse import urlsplit

    import pyarrow.parquet as pq
    from pyarrow import fs

    total = 0
    for uri in files:
        if urlsplit(uri).scheme not in FOOTER_SCHEMES:
            return None
        filesystem, path = fs.FileSystem.from_uri(uri)
        with filesystem.open_input_file(path) as f:
            total += pq.read_metadata(f).num_rows
        if stop_at is not None and total >= stop_at:
            return None
    return total


def ordered_output(
    converted: DataFrame,
    turns: DataFrame,
    seq_bucket: int = 1 << 20,
) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering (north rule: per-turn equality
    under stable turn ordering): assigns ``turn_seq`` = rank of turn_idx
    within its conversation.

    Skew-safe two-level rank: a plain ``Window.partitionBy(conv_id)``
    puts an ENTIRE conversation on one task — a 10^8-turn
    mega-conversation at 100x scale lands on a single executor core with
    its full payload width. Instead, turn_idx is
    bucketed into ``seq_bucket``-wide ranges; per-(conv, bucket) counts
    aggregate on the SLIM pre-kernel ``turns`` side (conv_id, turn_idx
    only — never re-running the conversion kernel and never shuffling
    payloads twice), cross-bucket offsets come from a per-conv window
    over *bucket rows* (a 10^8-turn conv is ~100 rows there), and the
    payload-side window partitions on (conv_id, bucket) — bounded at
    ``seq_bucket`` rows per task regardless of conversation size.

    ``turns`` must contain exactly the (conv_id, turn_idx) rows of
    ``converted`` (i.e. the kernel's input).

    Before committing to the two-level plan, the largest conversation is
    bounded; when every conversation fits in a single bucket the legacy
    single-window path runs instead — the common small-conversation
    case skips the composite-key join + extra aggregate entirely (it
    paid ~+50% on the sf0.1 bench for skew safety it didn't need), while
    any conversation ≥ ``seq_bucket`` rows keeps the bounded-task
    guarantee. The bound is metadata first: when
    :func:`input_row_bound` puts all of ``turns`` below ``seq_bucket``
    rows, no conversation can reach it, and no Spark job runs. Only
    when that bound declines does the probe run: one aggregate over the
    SLIM ``turns`` side (rows per conv_id, then their max), an eager
    driver-side scalar job (3 Spark jobs) on conv_id only — payloads
    never move. Both pick the same plan whenever the metadata bound
    applies, so the output and ``turn_seq`` do not depend on which one
    ran. The per-(conv, bucket) counts are built only when the two-level
    plan is taken. A small ``seq_bucket`` forces the two-level plan on
    small inputs.

    When ``converted`` carries a ``bucket`` column (see
    :func:`bucketed`), the single-window path shuffles on ``bucket`` so
    the ordering is also the partitioned write's clustering (see
    :func:`_single_window`); ``turn_seq`` is the same either way.
    """
    bound = input_row_bound(turns, stop_at=seq_bucket)
    if bound is not None and bound < seq_bucket:
        return _single_window(converted)
    biggest = (
        turns.groupBy("conv_id").count().agg(F.max("count")).collect()[0][0]
    )
    if biggest is None or biggest < seq_bucket:
        return _single_window(converted)
    bkt = F.floor(
        F.coalesce(F.col("turn_idx"), F.lit(0)) / F.lit(seq_bucket)
    ).cast("long")
    counts = (
        turns.select("conv_id", bkt.alias("_seq_bkt"))
        .groupBy("conv_id", "_seq_bkt")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w_off = Window.partitionBy("conv_id").orderBy("_seq_bkt")
    offsets = counts.select(
        "conv_id", "_seq_bkt",
        (F.sum("_n").over(w_off) - F.col("_n")).cast("long").alias("_off"),
    )
    w_seq = Window.partitionBy("conv_id", "_seq_bkt").orderBy("turn_idx")
    # null-safe on conv_id: a plain inner equi-join would silently DROP
    # rows with a null conv_id (null never equals null) even though the
    # same rows exist on the counts side; the legacy window kept them
    off = offsets.select(
        F.col("conv_id").alias("_oc"), F.col("_seq_bkt").alias("_ob"),
        "_off",
    )
    return (
        converted.withColumn("_seq_bkt", bkt)
        .join(
            off,
            F.col("conv_id").eqNullSafe(F.col("_oc"))
            & (F.col("_seq_bkt") == F.col("_ob")),
        )
        .withColumn(
            "turn_seq",
            (F.col("_off") + F.row_number().over(w_seq)).cast("int"),
        )
        .drop("_seq_bkt", "_off", "_oc", "_ob")
        .sortWithinPartitions("conv_id", "turn_idx")
    )


def _single_window(converted: DataFrame) -> DataFrame:
    """One window over whole conversations. With a ``bucket`` column
    (a pure function of conv_id, see :func:`bucketed`) the payload
    shuffle is keyed on ``bucket`` and the window's sort
    ``(bucket, conv_id, turn_idx)`` is the partitioned write's required
    ordering: each bucket lands in one task, which writes one file and
    needs no second sort. The window groups, hence ``turn_seq``, are the
    same either way."""
    if "bucket" not in converted.columns:
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        return (
            converted.withColumn("turn_seq", F.row_number().over(w))
            .sortWithinPartitions("conv_id", "turn_idx")
        )
    w = Window.partitionBy("bucket", "conv_id").orderBy("turn_idx")
    return (
        converted.repartition("bucket")
        .withColumn("turn_seq", F.row_number().over(w))
        .sortWithinPartitions("bucket", "conv_id", "turn_idx")
    )


# --------------------------------------------------------------------------
# lineage sidecar + resumable run
# --------------------------------------------------------------------------

LINEAGE_SCHEMA = (
    "bucket int, n_rows long, bytes_in long, chars_out long, "
    "n_failures long, n_warnings long, fmt_hist map<string,long>, "
    "run_id string, status string, ts double, n_buckets int, storage string"
)

# input bytes per bucket on a first run with no explicit count (the size
# rule in run_pipeline's docstring), the cap, and the count when the
# input's size is unknown
BUCKET_INPUT_BYTES = 4 << 20
MAX_BUCKETS = 4096
UNSIZED_BUCKETS = 64


def input_bucket_count(df: DataFrame) -> int:
    """``ceil(input bytes / BUCKET_INPUT_BYTES)`` in ``1..MAX_BUCKETS``,
    from the optimized plan's size estimate: for a parquet read, the file
    bytes Spark listed when it built the relation; for a catalog table,
    its own estimate. No Spark job. ``UNSIZED_BUCKETS`` when the size is
    unknown (Long.MaxValue: a DataFrame built from an RDD). Spark sizes a
    DataFrame built on the driver (pandas, a list) from its rows, so such
    an input gets few buckets; pass a count for it."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size >= 2**63 - 1:  # Spark's unknown size
        return UNSIZED_BUCKETS
    return min(MAX_BUCKETS, max(1, -(-size // BUCKET_INPUT_BYTES)))


def resolve_bucket_count(
    requested: int | None, recorded: set[int | None], df: DataFrame
) -> tuple[int, str]:
    """The bucket count of a run and where it came from (``"explicit"``,
    ``"lineage"`` or ``"input_bytes"``). ``recorded`` is the set of
    ``n_buckets`` values of the sidecar's done rows (empty on a first
    run; None for rows written before the column existed). Raises, before
    anything is written, when the sidecar holds two counts, when the
    caller's count differs from the recorded one, or when only pre-column
    rows exist and the caller names no count: any of these would bucket
    one conversation two ways and convert it twice."""
    if requested is not None and requested < 1:
        raise ValueError(f"n_buckets must be at least 1, got {requested}")
    known = recorded - {None}
    if len(known) > 1:
        raise ValueError(
            f"the lineage records more than one bucket count {sorted(known)}:"
            " its output cannot be resumed"
        )
    if known:
        (count,) = known
        if requested is not None and requested != count:
            raise ValueError(
                f"n_buckets={requested} but the lineage was written with "
                f"n_buckets={count}: resume with {count}, or write to a new "
                "output and lineage"
            )
        return count, "explicit" if requested is not None else "lineage"
    if recorded and requested is None:
        raise ValueError(
            "the lineage was written before it recorded its bucket count: "
            "pass the n_buckets that wrote it"
        )
    if requested is not None:
        return requested, "explicit"
    return input_bucket_count(df), "input_bytes"


def bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def compute_lineage(
    converted_with_bucket: DataFrame, run_id: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """Per-bucket extraction metrics incl. a format histogram map
    (SURVEY.md §2.5). One partial-aggregable pass per (bucket, fmt),
    rolled up per bucket; no join, no collect. ``n_buckets`` is the count
    the buckets were computed with (null when None)."""
    per_fmt = converted_with_bucket.groupBy("bucket", "fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("chars_out").alias("chars_out"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_failures"),
        F.sum("n_warnings").alias("n_warnings"),
    )
    return (
        per_fmt.groupBy("bucket").agg(
            F.sum("n").alias("n_rows"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("chars_out").alias("chars_out"),
            F.sum("n_failures").alias("n_failures"),
            F.sum("n_warnings").cast("long").alias("n_warnings"),
            F.map_from_entries(
                F.collect_list(F.struct(F.coalesce("fmt", F.lit("unknown")), "n"))
            ).alias("fmt_hist"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("status", F.lit("done"))
        .withColumn("ts", F.lit(time.time()))
        .withColumn("n_buckets", F.lit(n_buckets).cast("int"))
    )


def verify_against_expected(converted: DataFrame, expected: DataFrame) -> dict:
    """Golden verification (SURVEY §2.5): join produced markdown against an
    expected table on (conv_id, turn_idx); returns mismatch/missing counts.
    ``expected`` schema: conv_id string, turn_idx int, markdown string."""
    joined = converted.select(
        "conv_id", "turn_idx", F.col("markdown").alias("got")
    ).join(
        expected.select(
            "conv_id", "turn_idx", F.col("markdown").alias("want")
        ),
        ["conv_id", "turn_idx"],
        "full_outer",
    )
    row = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("got").isNull(), 1).otherwise(0)).alias("missing"),
        F.sum(F.when(F.col("want").isNull(), 1).otherwise(0)).alias("extra"),
        F.sum(
            F.when(
                F.col("got").isNotNull()
                & F.col("want").isNotNull()
                & (F.col("got") != F.col("want")),
                1,
            ).otherwise(0)
        ).alias("mismatched"),
    ).collect()[0]
    return {
        "rows": row.n,
        "missing": row.missing or 0,
        "extra": row.extra or 0,
        "mismatched": row.mismatched or 0,
        "ok": not (row.missing or row.extra or row.mismatched),
    }


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    lineage_path: str,
    run_id: str | None = None,
    n_buckets: int | None = None,
    resume: bool = True,
    partitions: int | None = None,
    salted: bool = False,
    strict: bool = False,
    max_input_bytes: int | None = None,
    storage: str | None = None,
) -> dict:
    """Resumable conversion run with a lineage sidecar.

    Completed buckets (recorded in the lineage table for this output) are
    filtered away on resume; each bucket's output partition is
    idempotently overwritten, so a crashed run re-executes only its
    unfinished buckets. ``storage`` picks Iceberg when the runtime jar is
    present (``output_path``/``lineage_path`` are then table
    identifiers), the parquet shim otherwise; the active mode is recorded
    in every lineage row.

    ``n_buckets`` is recorded in every lineage row too (the column holds
    a value of the lineage, not a table property, on both backends). A
    run with ``n_buckets`` None adopts the recorded count, with or
    without ``resume`` (a rerun at another count would leave the old
    count's bucket directories, holding the same keys, beside the new
    ones); a resume raises before writing anything when ``n_buckets``
    differs from it (``resolve_bucket_count`` has the cases). A first
    run with None takes ``input_bucket_count``, one bucket per
    ``BUCKET_INPUT_BYTES`` of input (the module docstring has the
    trade-off, measured at local[4] only). An explicit count with
    ``resume=False`` reads nothing from the sidecar. The result reports
    the count and where it came from (``n_buckets_from``: ``explicit``,
    ``lineage`` or ``input_bytes``). An Iceberg lineage table created
    before a ``LINEAGE_SCHEMA`` column existed gains it before anything
    is written (``table_io.upgrade_lineage``).

    I/O budget (the 100 TB design constraint): ONE read of the input
    (the conversion+write job — run/failure counts ride on it as an
    ``observe`` metric, costing nothing), and one METRIC-COLUMNS-ONLY
    read of the just-written output for the per-bucket lineage — the
    explicit slim projection guarantees the parquet scan materializes
    only the ~6 narrow metric columns, never the markdown/text payloads
    that dominate the bytes (at 100 TB output this is ~1-2% extra read,
    and it buys the durability property: lineage describes the rows
    actually committed, not the rows we believe we wrote). The re-read
    names only the bucket directories this run wrote, so its listing is
    O(buckets written), runs on the driver (see ``session_conf``), and
    takes the schema just written instead of inferring it from footers:
    no Spark job before the lineage aggregate. Nor does any Spark job
    check the ordering for skew when the input's metadata bounds its
    rows below ``seq_bucket`` (``input_row_bound``); the probe's 3 jobs
    run only when that bound declines. A warm pass over a 16-file
    parquet input into a fresh output runs 5 Spark jobs unsalted (2 for
    the conversion+write, 3 for the lineage aggregate and append) and 6
    salted, where it ran 8 and 9; a rerun over an existing sidecar adds
    the resume probe's one.

    The conversion+write job shuffles the payload ONCE, keyed on
    ``bucket``; that shuffle's sort also satisfies the write, so every
    written bucket is one file from one task (the lineage read scans
    one file per bucket). The price is post-kernel parallelism of at
    most ``min(n_buckets, spark.sql.shuffle.partitions)`` tasks; the
    kernel itself runs before the shuffle at input-split parallelism.
    Inputs with a conversation of at least ``seq_bucket`` turns take
    ``ordered_output``'s two-level plan instead, which shuffles on
    ``(conv_id, _seq_bkt)`` and sorts again for the write.
    """
    from pyspark.sql import Observation

    from anytomd_spark import table_io

    storage = table_io.probe_storage(spark, storage)
    run_id = run_id or uuid.uuid4().hex[:12]

    done: set[tuple[int, int | None]] = set()
    # an absent sidecar is a first run; any other failure to read it
    # (corrupt file, permissions, catalog outage) raises rather than
    # silently reconverting every bucket
    if table_io.lineage_exists(spark, lineage_path, storage):
        table_io.upgrade_lineage(spark, lineage_path, storage)
        if resume or n_buckets is None:
            done = table_io.done_buckets(spark, lineage_path, storage)
    n_buckets, n_buckets_from = resolve_bucket_count(
        n_buckets, {n for _, n in done}, transcripts
    )
    # resume=False read the sidecar for its count only
    done_buckets = {b for b, _ in done} if resume else set()
    df = bucketed(transcripts, n_buckets)
    no_work = {"run_id": run_id, "rows": 0, "failures": 0, "buckets": 0,
               "storage": storage, "n_buckets": n_buckets,
               "n_buckets_from": n_buckets_from}

    # bucket arithmetic is driver-side (bounded by n_buckets) — no
    # key-scan of the input just to enumerate what remains
    run_buckets = [b for b in range(n_buckets) if b not in done_buckets]
    if not run_buckets:
        return no_work
    if done_buckets:
        df = df.filter(~F.col("bucket").isin(sorted(done_buckets)))

    converted = convert_transcripts(
        df.drop("bucket"), partitions=partitions, repartition=salted,
        strict=strict, max_input_bytes=max_input_bytes,
    )
    # bucket is a pure function of conv_id — recompute it post-kernel
    # (it stays off the Arrow crossing) and BEFORE ordering, so the
    # ordering shuffle is the write's clustering: one task and one file
    # per bucket, no second sort. The slim pre-kernel projection feeds
    # the skew-safe turn_seq counts.
    ordered = ordered_output(
        bucketed(converted, n_buckets),
        turns=df.select("conv_id", "turn_idx"),
    )

    # run totals + the set of buckets actually written ride on the write
    # job itself (no extra pass); the observed bucket set — not
    # range(n_buckets) — scopes the lineage read, so stale buckets left
    # by earlier runs are never re-attributed to this run_id
    obs = Observation(f"anytomd_run_{run_id}")
    observed = ordered.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            F.when(F.col("error").isNotNull(), 1).otherwise(0)
        ).alias("failures"),
        F.collect_set("bucket").alias("buckets"),
    )
    table_io.write_output(observed, output_path, storage)
    stats = obs.get
    written_buckets = sorted(stats["buckets"] or [])
    if not written_buckets:
        # empty input: nothing written (and possibly no parquet files to
        # re-read at all) — report zero work, append no lineage
        return no_work

    # per-bucket lineage from the committed output, metric columns only
    # (only the written buckets' directories, with the written schema:
    # no listing or footer-inference job; payloads never read)
    out_slim = table_io.read_buckets(
        spark, output_path, storage, written_buckets, observed.schema
    ).select("bucket", "fmt", "bytes_in", "chars_out", "error", "n_warnings")
    lineage_rows = compute_lineage(out_slim, run_id, n_buckets).withColumn(
        "storage", F.lit(storage)
    )
    table_io.append_lineage(lineage_rows, lineage_path, storage)

    return {
        **no_work,
        "rows": stats["rows"],
        "failures": stats["failures"] or 0,
        "buckets": len(written_buckets),
    }
