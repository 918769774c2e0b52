"""End-to-end Spark tests: fixture-golden equality through mapInPandas,
stable window ordering, lineage + resume semantics, synthetic generation
determinism. Runs on local[2] to keep CI fast."""

from __future__ import annotations

import contextlib
import datetime
import itertools
import os

import pytest

from tests.conftest import (
    FIXTURE_NAMES,
    FIXTURES,
    fixture_transcripts,
    normalize,
)

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from anytomd_spark.pipeline import (  # noqa: E402
    build_session,
    bucketed,
    compute_lineage,
    convert_transcripts,
    ordered_output,
    run_pipeline,
)
from anytomd_spark.transcripts import (  # noqa: E402
    TRANSCRIPTS_SCHEMA,
    generate_transcripts,
)


@pytest.fixture(scope="module")
def spark():
    s = build_session(master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    return buf.getvalue()


def test_driver_memory_follows_available_memory(tmp_path, monkeypatch):
    """The driver heap is half of MemAvailable in whole GiB, 1g..16g;
    unreadable meminfo leaves Spark's default; extra_conf still wins."""
    from anytomd_spark import pipeline

    def meminfo(kib):
        path = tmp_path / f"meminfo_{kib}"
        path.write_text(
            f"MemTotal:       {kib * 2} kB\nMemAvailable:   {kib} kB\n"
        )
        return str(path)

    gib = 1 << 20
    assert pipeline.driver_memory(meminfo(15 * gib)) == "7g"
    assert pipeline.driver_memory(meminfo(64 * gib)) == "16g"
    assert pipeline.driver_memory(meminfo(gib)) == "1g"
    assert pipeline.driver_memory(str(tmp_path / "absent")) is None

    monkeypatch.setattr(pipeline, "driver_memory", lambda: "7g")
    assert pipeline.session_conf()["spark.driver.memory"] == "7g"
    conf = pipeline.session_conf(extra_conf={"spark.driver.memory": "2g"})
    assert conf["spark.driver.memory"] == "2g"
    monkeypatch.setattr(pipeline, "driver_memory", lambda: None)
    assert "spark.driver.memory" not in pipeline.session_conf()


def test_driver_jvm_runs_c1_only(spark):
    """The driver JVM is C1-only by default, extra_conf replaces the
    option, and the running JVM really carries it (a launch path that
    drops spark.driver.extraJavaOptions fails here)."""
    from anytomd_spark import pipeline

    key = "spark.driver.extraJavaOptions"
    assert pipeline.session_conf()[key] == pipeline.DRIVER_JAVA_OPTIONS
    conf = pipeline.session_conf(extra_conf={key: "-XX:+UseParallelGC"})
    assert conf[key] == "-XX:+UseParallelGC"

    jvm = spark._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert hotspot.getVMOption("TieredStopAtLevel").getValue() == "1"


def test_driver_jvm_code_cache_is_240_mib(spark):
    """A C1-only JVM reserves a 48 MiB code cache by default, which a
    long session can fill ("CodeCache is full. Compiler has been
    disabled."): the driver option reserves 240 MiB, and the running
    JVM's code-cache pools add up to it."""
    from anytomd_spark import pipeline

    assert "-XX:ReservedCodeCacheSize=240m" in (
        pipeline.DRIVER_JAVA_OPTIONS.split())
    mf = spark._jvm.java.lang.management.ManagementFactory
    code = [p for p in mf.getMemoryPoolMXBeans()
            if p.getName() == "CodeCache" or p.getName().startswith("CodeHeap")]
    assert code
    assert sum(p.getUsage().getMax() for p in code) == 240 << 20


def test_fixture_conversation_golden_equality(spark):
    """Port of the reference golden e2e suite through the Spark pipeline:
    each turn's markdown must match the golden under stable ordering.
    Input rows are shuffled (FIXTURES.md: correctness must come from the
    window-based sort, not arrival order)."""
    shuffled = fixture_transcripts().sample(frac=1.0, random_state=7)
    df = spark.createDataFrame(shuffled)
    converted = ordered_output(
        convert_transcripts(df, partitions=4),
        turns=df.select("conv_id", "turn_idx"),
    )
    rows = converted.orderBy("conv_id", "turn_idx").collect()
    assert len(rows) == len(FIXTURE_NAMES)
    for row, name in zip(rows, FIXTURE_NAMES):
        with open(os.path.join(FIXTURES, "expected", f"{name}.md")) as f:
            expected = f.read()
        assert row.error is None, f"{name}: {row.error}"
        assert normalize(row.markdown) == normalize(expected), name
        assert row.turn_seq == row.turn_idx + 1


def test_fmt_histogram(spark):
    """The fmt column counts every format exactly, over the committed
    binary fixtures (hint-less: ZIP and OLE magic) and generated
    html/code/txt/xml turns."""
    import random

    from anytomd_spark.binfixtures import BIN_FIXTURES
    from anytomd_spark.transcripts import (
        build_code,
        build_html,
        build_txt,
        build_xml,
    )

    rng = random.Random(5)
    turns = [(BIN_FIXTURES[f][0], "") for f in ("docx", "pptx", "xlsx")]
    turns += [(BIN_FIXTURES["xls"][0], "")] * 2
    turns.append((BIN_FIXTURES["ipynb"][0], "ipynb"))
    turns += [(build_html(rng), "") for _ in range(3)]
    turns += [build_code(rng) for _ in range(2)]
    turns += [build_txt(rng) for _ in range(4)]
    turns += [(build_xml(rng), "") for _ in range(2)]
    ts = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("c", i, "user", text, tool, ts)
         for i, (text, tool) in enumerate(turns)],
        schema=TRANSCRIPTS_SCHEMA,
    )
    converted = convert_transcripts(df)
    hist = {
        r.fmt: r.n
        for r in converted.groupBy("fmt").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert hist == {"docx": 1, "pptx": 1, "xlsx": 1, "xls": 2, "ipynb": 1,
                    "html": 3, "code": 2, "txt": 4, "xml": 2}
    assert converted.filter(F.col("error").isNotNull()).count() == 0


def test_generated_transcripts_deterministic(spark):
    a = generate_transcripts(spark, n_convs=40, seed=7, mega_every=0, partitions=2)
    b = generate_transcripts(spark, n_convs=40, seed=7, mega_every=0, partitions=5)
    rows_a = sorted(a.collect(), key=lambda r: (r.conv_id, r.turn_idx))
    rows_b = sorted(b.collect(), key=lambda r: (r.conv_id, r.turn_idx))
    assert rows_a == rows_b
    assert len(rows_a) > 40


def test_generated_transcripts_convert_clean(spark):
    df = generate_transcripts(spark, n_convs=60, seed=11, mega_every=0, partitions=2)
    converted = convert_transcripts(df, partitions=4)
    stats = converted.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("failures"),
        F.countDistinct("fmt").alias("n_fmts"),
    ).collect()[0]
    assert stats.failures == 0
    assert stats.n_fmts >= 6


def test_lineage_and_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    lineage = str(tmp_path / "lineage")
    df = generate_transcripts(spark, n_convs=30, seed=3, mega_every=0, partitions=2)

    r1 = run_pipeline(spark, df, out, lineage, run_id="run1", n_buckets=8)
    assert r1["rows"] == df.count()
    assert r1["failures"] == 0

    lin = spark.read.parquet(lineage)
    assert lin.filter(F.col("status") == "done").count() > 0

    # resume: everything is complete -> zero new rows converted
    r2 = run_pipeline(spark, df, out, lineage, run_id="run2", n_buckets=8)
    lin2 = spark.read.parquet(lineage).filter(F.col("run_id") == "run2")
    assert lin2.count() == 0 or lin2.agg(F.sum("n_rows")).collect()[0][0] in (0, None)

    # output readable and ordered
    out_df = spark.read.parquet(out)
    assert out_df.count() == r1["rows"]


def test_warm_run_pipeline_reuses_generated_code(spark, tmp_path):
    """A second identical run_pipeline call compiles at most one new
    class. Spark caches generated code by its source text, so a per-run
    literal spliced into a hot stage (an output path, a run id, a
    timestamp) would recompile that stage on every pass. The one known
    miss is compute_lineage's ``F.lit(time.time())``: a double literal is
    written into the generated source, so each pass's ``ts`` compiles one
    new class (with a frozen clock, none)."""
    inp = str(tmp_path / "in")
    generate_transcripts(
        spark, n_convs=30, seed=29, mega_every=0, partitions=2
    ).write.parquet(inp)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run(name):
        return run_pipeline(
            spark, spark.read.parquet(inp), str(tmp_path / name / "out"),
            str(tmp_path / name / "lineage"), n_buckets=8,
        )

    first = run("a")
    compiled = codegen.METRIC_COMPILATION_TIME().getCount()
    second = run("b")
    new_classes = codegen.METRIC_COMPILATION_TIME().getCount() - compiled
    assert second["rows"] == first["rows"] > 0
    assert new_classes <= 1, new_classes


def test_storage_probe_and_lineage_mode(spark, tmp_path):
    """Iceberg probe: no runtime jar in this sandbox -> parquet shim
    auto-selected and recorded in lineage; forcing iceberg fails loudly;
    snapshot pinning is an iceberg-only contract."""
    from anytomd_spark import table_io

    assert table_io.iceberg_available(spark) is False
    assert table_io.probe_storage(spark) == "parquet"
    assert table_io.probe_storage(spark, "parquet") == "parquet"
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        table_io.probe_storage(spark, "iceberg")
    with pytest.raises(ValueError):
        table_io.probe_storage(spark, "delta")

    df = generate_transcripts(spark, n_convs=6, seed=5, mega_every=0,
                              partitions=2)
    res = run_pipeline(spark, df, str(tmp_path / "out"),
                       str(tmp_path / "lin"), n_buckets=4)
    assert res["storage"] == "parquet"
    lin = spark.read.parquet(str(tmp_path / "lin"))
    assert {r.storage for r in lin.select("storage").collect()} == {"parquet"}

    with pytest.raises(ValueError, match="snapshot"):
        table_io.read_output(spark, str(tmp_path / "out"), "parquet",
                             snapshot_id=1)


def test_iceberg_write_call_chain_mocked(spark, monkeypatch):
    """The Iceberg live branch can't execute offline (no runtime jar —
    SURVEY §7.5), so pin its exact DataFrameWriterV2 call chains with
    mocks (VERDICT r3 #9): existing table -> writeTo(t).
    overwritePartitions(); missing table -> writeTo(t).partitionedBy(
    'bucket').create(); lineage -> append()/create(); snapshot read ->
    option('snapshot-id', id).table(t)."""
    from anytomd_spark import table_io

    calls: list = []

    class FakeWriterV2:
        def __init__(self, target):
            calls.append(("writeTo", target))

        def partitionedBy(self, *cols):
            calls.append(("partitionedBy", cols))
            return self

        def overwritePartitions(self):
            calls.append(("overwritePartitions",))

        def create(self):
            calls.append(("create",))

        def append(self):
            calls.append(("append",))

    exists = {"flag": True}
    df = spark.range(3).withColumn("bucket", F.lit(0))
    # patch the CONCRETE classes (pyspark 4: instances are the .classic
    # subclasses, which override the base-class methods)
    monkeypatch.setattr(type(df), "writeTo",
                        lambda self, target: FakeWriterV2(target))
    monkeypatch.setattr(type(spark.catalog), "tableExists",
                        lambda self, name: exists["flag"])

    table_io.write_output(df, "cat.db.out", "iceberg")
    assert calls == [("writeTo", "cat.db.out"), ("overwritePartitions",)]

    calls.clear()
    exists["flag"] = False
    table_io.write_output(df, "cat.db.out", "iceberg")
    assert calls == [("writeTo", "cat.db.out"),
                     ("partitionedBy", ("bucket",)), ("create",)]

    calls.clear()
    exists["flag"] = True
    table_io.append_lineage(df, "cat.db.lin", "iceberg")
    assert calls == [("writeTo", "cat.db.lin"), ("append",)]

    calls.clear()
    exists["flag"] = False
    table_io.append_lineage(df, "cat.db.lin", "iceberg")
    assert calls == [("writeTo", "cat.db.lin"), ("create",)]

    reads: list = []
    monkeypatch.setattr(
        type(spark.read), "option",
        lambda self, k, v: (reads.append(("option", k, v)), self)[1])
    monkeypatch.setattr(
        type(spark.read), "table",
        lambda self, name: (reads.append(("table", name)), df)[1])
    out = table_io.read_output(spark, "cat.db.out", "iceberg",
                               snapshot_id=42)
    assert out is df
    assert reads == [("option", "snapshot-id", "42"), ("table", "cat.db.out")]

    reads.clear()
    table_io.read_output(spark, "cat.db.out", "iceberg")
    assert reads == [("table", "cat.db.out")]

    # the lineage re-read: the table read plus a partition filter (no
    # listing to scope); the resume probe asks the catalog
    reads.clear()
    scoped = table_io.read_buckets(spark, "cat.db.out", "iceberg", [0],
                                   df.schema)
    assert reads == [("table", "cat.db.out")]
    assert scoped.count() == 3
    assert table_io.read_buckets(spark, "cat.db.out", "iceberg", [1],
                                 df.schema).count() == 0
    exists["flag"] = True
    assert table_io.lineage_exists(spark, "cat.db.lin", "iceberg") is True
    exists["flag"] = False
    assert table_io.lineage_exists(spark, "cat.db.lin", "iceberg") is False


def _lineage_inputs(monkeypatch) -> list:
    """Record every DataFrame ``run_pipeline`` hands to ``compute_lineage``:
    the slim re-read of the written output, exactly as it runs."""
    from anytomd_spark import pipeline

    seen: list = []
    real = pipeline.compute_lineage

    def spy(df, *args):
        seen.append(df)
        return real(df, *args)

    monkeypatch.setattr(pipeline, "compute_lineage", spy)
    return seen


def _jobs_of(spark, group: str, action):
    """Run ``action`` under a job group; return its result and the
    (job id, [(stage name, tasks)]) of every Spark job it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = []
    for job_id in sorted(st.getJobIdsForGroup(group)):
        stages = [st.getStageInfo(s) for s in st.getJobInfo(job_id).stageIds]
        jobs.append((job_id, [(s.name, s.numTasks) for s in stages if s]))
    return result, jobs


def test_lineage_read_is_metric_columns_only(spark, tmp_path, monkeypatch):
    """The post-write lineage scan must never materialize the payload
    columns (VERDICT r2 'What's wrong #3'): the slim projection
    run_pipeline runs must push down to a ReadSchema without
    markdown/plain_text/text, and run totals come from the write job's
    observe metrics (no third scan)."""
    import contextlib
    import io

    seen = _lineage_inputs(monkeypatch)
    df = generate_transcripts(spark, n_convs=8, seed=9, mega_every=0,
                              partitions=2)
    out = str(tmp_path / "out")
    res = run_pipeline(spark, df, out, str(tmp_path / "lin"), n_buckets=4)
    assert res["rows"] == df.count() and res["failures"] == 0

    (slim,) = seen
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        slim.explain("formatted")
    plan = buf.getvalue()
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "markdown" not in read_schema
    assert "plain_text" not in read_schema
    assert "text" not in read_schema.replace("plain_text", "")
    assert slim.columns == ["bucket", "fmt", "bytes_in", "chars_out",
                            "error", "n_warnings"]
    # lineage totals agree with the observed write metrics
    lin = spark.read.parquet(str(tmp_path / "lin"))
    assert lin.agg(F.sum("n_rows")).collect()[0][0] == res["rows"]


def test_lineage_reread_lists_only_its_own_buckets(spark, tmp_path,
                                                   monkeypatch):
    """Three runs into one output over conversation sets with disjoint
    buckets: each run's re-read reads only its own bucket directories
    (never the others already in the output), and each run's lineage
    covers only the buckets it wrote."""
    from urllib.parse import urlparse

    seen = _lineage_inputs(monkeypatch)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    n_buckets = 12
    df = bucketed(
        generate_transcripts(spark, n_convs=60, seed=21, mega_every=0,
                             partitions=2),
        n_buckets,
    )
    expected: dict[str, set[int]] = {}
    for k in range(3):
        part = df.filter(F.col("bucket") % 3 == k)
        expected[f"run{k}"] = {
            r.bucket for r in part.select("bucket").distinct().collect()
        }
        res = run_pipeline(spark, part.drop("bucket"), out, lin,
                           run_id=f"run{k}", n_buckets=n_buckets)
        assert res["buckets"] == len(expected[f"run{k}"])
        dirs = {os.path.dirname(urlparse(f).path)
                for f in seen[-1].inputFiles()}
        assert dirs == {os.path.join(out, f"bucket={b}")
                        for b in expected[f"run{k}"]}, k
    assert set().union(*expected.values()) == set(range(n_buckets))
    lineage = spark.read.parquet(lin)
    for run_id, buckets in expected.items():
        got = {r.bucket for r in lineage.filter(F.col("run_id") == run_id)
               .select("bucket").collect()}
        assert got == buckets, run_id


def test_lineage_reread_launches_no_listing_or_inference_job(
    spark, tmp_path, monkeypatch
):
    """A run writing more than 32 bucket directories (Spark's default
    parallel-listing threshold) re-reads them with no Spark job: no
    partition-discovery job, no footer schema inference. Against the
    root-directory read at the default threshold, the same pass runs
    exactly 2 fewer jobs, and its lineage rows are the same (values and
    types; ``ts`` aside)."""
    from anytomd_spark import pipeline, table_io

    inp = str(tmp_path / "in")
    generate_transcripts(
        spark, n_convs=200, seed=3, mega_every=0, partitions=2
    ).write.parquet(inp)

    def run(name):
        source = spark.read.parquet(inp)  # input inference: outside the group
        return _jobs_of(spark, name, lambda: run_pipeline(
            spark, source, str(tmp_path / name / "out"),
            str(tmp_path / name / "lin"), run_id=name, n_buckets=64,
        ))

    # the re-read itself, on an output of 33+ buckets: no job at all
    res, jobs = run("scoped")
    assert res["buckets"] > 32
    written = sorted(
        int(d.split("=")[1]) for d in os.listdir(tmp_path / "scoped" / "out")
        if d.startswith("bucket=")
    )
    assert len(written) == res["buckets"]
    schema = spark.read.parquet(str(tmp_path / "scoped" / "out")).schema
    _, read_jobs = _jobs_of(spark, "read", lambda: table_io.read_buckets(
        spark, str(tmp_path / "scoped" / "out"), "parquet", written, schema))
    assert read_jobs == []
    # stage "parquet at ..." is a listing or a footer-inference job
    assert not [j for j in jobs if any(n.startswith("parquet at ")
                                       for n, _ in j[1])], jobs

    # the root-directory read at Spark's default threshold
    def root_read(spark_, target, storage, buckets, schema):
        return table_io.read_output(spark_, target, storage).filter(
            F.col("bucket").isin(buckets))

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    monkeypatch.setattr(table_io, "read_buckets", root_read)
    spark.conf.set(key, "32")
    try:
        _, root_jobs = run("root")
    finally:
        spark.conf.set(key, pipeline.session_conf()[key])
    assert len(root_jobs) - len(jobs) == 2, (root_jobs, jobs)
    assert [t for _, stages in root_jobs for n, t in stages
            if n.startswith("parquet at ")] == [res["buckets"], 1]

    def rows(name):
        lineage = spark.read.parquet(str(tmp_path / name / "lin")).drop(
            "ts", "run_id")
        got = sorted(
            (r.asDict() for r in lineage.collect()), key=lambda d: d["bucket"]
        )
        return lineage.dtypes, [
            {**d, "fmt_hist": dict(d["fmt_hist"])} for d in got
        ]

    assert rows("scoped") == rows("root")


def test_resume_probe_raises_on_unreadable_lineage(spark, tmp_path):
    """Only an absent lineage sidecar means "first run": one that exists
    but cannot be read raises instead of silently reconverting every
    bucket."""
    from anytomd_spark import table_io

    lin = tmp_path / "lin"
    assert not table_io.lineage_exists(spark, str(lin), "parquet")
    lin.mkdir()
    (lin / "part-00000.parquet").write_bytes(b"not a parquet file")
    assert table_io.lineage_exists(spark, str(lin), "parquet")
    df = generate_transcripts(spark, n_convs=4, seed=5, mega_every=0,
                              partitions=1)
    with pytest.raises(Exception):
        run_pipeline(spark, df, str(tmp_path / "out"), str(lin),
                     n_buckets=4)
    assert not (tmp_path / "out").exists()
    # resume=False never reads the sidecar
    res = run_pipeline(spark, df, str(tmp_path / "out"), str(lin),
                       n_buckets=4, resume=False)
    assert res["rows"] == df.count()


def test_compute_lineage_histogram(spark):
    """Per-bucket lineage equals a pandas groupby of the converted rows:
    counts, sums and the format histogram, with LINEAGE_SCHEMA's column
    order and types."""
    from anytomd_spark.pipeline import LINEAGE_SCHEMA

    # failing rows, one with no fmt at all (-> the "unknown" key)
    bad = spark.createDataFrame(
        [("bad-conv", 0, "user", "%PDF-1.7 x", "pdf", None),
         ("bad-conv", 1, "user", None, None, None)],
        schema=TRANSCRIPTS_SCHEMA,
    )
    df = generate_transcripts(spark, n_convs=40, seed=17, mega_every=0,
                              partitions=2).unionByName(bad)
    converted = bucketed(convert_transcripts(df), n_buckets=4)
    lin = compute_lineage(converted, "t")
    # storage is added by run_pipeline
    want = spark.createDataFrame([], LINEAGE_SCHEMA).drop("storage")
    assert [(f.name, f.dataType.simpleString()) for f in lin.schema] \
        == [(f.name, f.dataType.simpleString()) for f in want.schema]

    pdf = converted.select(
        "bucket", "fmt", "bytes_in", "chars_out", "error", "n_warnings"
    ).toPandas()
    pdf["failed"] = pdf["error"].notna().astype("int64")
    sums = pdf.groupby("bucket").agg(
        n_rows=("fmt", "size"), bytes_in=("bytes_in", "sum"),
        chars_out=("chars_out", "sum"), n_failures=("failed", "sum"),
        n_warnings=("n_warnings", "sum"),
    )
    hists = pdf.fillna({"fmt": "unknown"}).groupby(["bucket", "fmt"]).size()
    got = {r.bucket: r for r in lin.collect()}
    assert sorted(got) == sorted(sums.index)
    for bucket, want in sums.iterrows():
        row = got[bucket]
        assert (row.n_rows, row.bytes_in, row.chars_out, row.n_failures,
                row.n_warnings) == tuple(int(v) for v in want)
        assert row.fmt_hist == {
            fmt: int(n) for fmt, n in hists.loc[bucket].items()
        }
        assert (row.run_id, row.status) == ("t", "done")
    assert sum(r.n_rows for r in got.values()) == df.count()
    assert sum(r.n_failures for r in got.values()) >= 2
    assert any("unknown" in r.fmt_hist for r in got.values())


def _final_write_plan(spark, output_path: str) -> list[str]:
    """Node lines of the final (post-AQE) plan of the latest partitioned
    write into ``output_path``, read from the session's SQL status store
    (kept with the UI disabled)."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(execs.size())):
        plan = execs.apply(i).physicalPlanDescription()
        if "WriteFiles" in plan and f"{output_path}, false, [bucket" in plan:
            final = plan.split("== Final Plan ==")[1].split("== Initial Plan")[0]
            return [
                ln.lstrip(" +-*").split(" (")[0]
                for ln in final.splitlines() if ln.strip()
            ]
    raise AssertionError(f"no write into {output_path} in the status store")


def test_run_pipeline_bucket_aligned_plan_matches_old_composition(
    spark, tmp_path
):
    """run_pipeline keys its ordering shuffle on ``bucket``: the rows it
    writes (turn_seq included) equal the old composition
    ``bucketed(ordered_output(convert_transcripts(df), turns=...))``, each
    bucket directory holds exactly one file, and the write's final plan
    has one Exchange and no Sort between CollectMetrics and WriteFiles.
    Covers a multi-file input, null conv_ids, a mega-conversation and a
    resume run over partly done buckets. Partition coalescing is off so
    every post-shuffle task is a real task: without bucket-aligned
    shuffling each of them would write into every bucket."""
    import glob

    n_buckets = 8
    gen = generate_transcripts(spark, n_convs=40, seed=23, mega_every=20,
                               mega_size=300, partitions=2)
    first = gen.select("conv_id").first().conv_id
    nulls = gen.filter(F.col("conv_id") == first).withColumn(
        "conv_id", F.lit(None).cast("string"))
    inp = str(tmp_path / "in")
    gen.unionByName(nulls).repartition(3).write.parquet(inp)
    src = spark.read.parquet(inp)
    assert len(glob.glob(os.path.join(inp, "*.parquet"))) == 3
    megas = [r[0] for r in src.groupBy("conv_id").count().collect()
             if r[1] >= 300]
    assert megas and src.filter(F.col("conv_id").isNull()).count() > 1

    key = lambda r: (r["conv_id"] or "", r["turn_idx"])  # noqa: E731
    want = sorted(
        (r.asDict() for r in bucketed(
            ordered_output(convert_transcripts(src),
                           turns=src.select("conv_id", "turn_idx")),
            n_buckets,
        ).collect()),
        key=key,
    )
    all_buckets = {r["bucket"] for r in want}
    early = set(sorted(all_buckets)[: len(all_buckets) // 2])
    assert early and all_buckets - early

    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(conf, "false")
    try:
        r1 = run_pipeline(
            spark, bucketed(src, n_buckets).filter(
                F.col("bucket").isin(sorted(early))).drop("bucket"),
            out, lin, run_id="early", n_buckets=n_buckets,
        )
        assert r1["buckets"] == len(early)
        r2 = run_pipeline(spark, src, out, lin, run_id="rest",
                          n_buckets=n_buckets)
        assert r2["buckets"] == len(all_buckets - early)
        plan = _final_write_plan(spark, out)
    finally:
        spark.conf.unset(conf)

    got = sorted(
        (r.asDict() for r in spark.read.parquet(out).collect()), key=key
    )
    assert got == want
    for d in glob.glob(os.path.join(out, "bucket=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    assert len(glob.glob(os.path.join(out, "bucket=*"))) == len(all_buckets)

    assert sum(node == "Exchange" for node in plan) == 1, plan
    write = plan.index("WriteFiles")
    assert plan[write + 1] == "CollectMetrics", plan


def test_verify_against_expected(spark):
    from anytomd_spark.pipeline import verify_against_expected

    df = generate_transcripts(spark, n_convs=8, seed=17, mega_every=0,
                              partitions=2)
    converted = convert_transcripts(df)
    expected = converted.select("conv_id", "turn_idx", "markdown")
    assert verify_against_expected(converted, expected)["ok"]

    first = df.select("conv_id", "turn_idx").first()
    tampered = expected.withColumn(
        "markdown",
        F.when(
            (F.col("conv_id") == first.conv_id)
            & (F.col("turn_idx") == first.turn_idx),
            F.lit("WRONG"),
        ).otherwise(F.col("markdown")),
    )
    report = verify_against_expected(converted, tampered)
    assert report["mismatched"] == 1 and not report["ok"]


def test_salted_equals_unsalted_on_skewed_input(spark):
    """Mega-conversation skew: the salted repartition path must produce
    exactly the same converted rows as the shuffle-free path, at a pinned
    count and at the count AQE picks."""
    df = generate_transcripts(
        spark, n_convs=12, seed=13, mega_every=6, mega_size=120, partitions=3
    )
    plain = convert_transcripts(df, repartition=False)
    key = lambda r: (r.conv_id, r.turn_idx)  # noqa: E731
    rows_a = sorted(plain.collect(), key=key)
    for partitions in (4, None):
        salted = convert_transcripts(
            df, partitions=partitions, repartition=True
        )
        assert sorted(salted.collect(), key=key) == rows_a, partitions
    # skew actually present: one conversation dominates
    sizes = {r.conv_id: r.n for r in df.groupBy("conv_id").count()
             .withColumnRenamed("count", "n").collect()}
    assert max(sizes.values()) >= 100


@contextlib.contextmanager
def _sql_conf(spark, conf: dict):
    """Set runtime SQL settings for the block; restore them after."""
    before = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _task_ids(df, *cols):
    """(spark_partition_id, *cols) of every row of ``df``: the tasks of
    the stage that produced it."""
    return df.select(F.spark_partition_id().alias("_task"), *cols).collect()


def test_salted_shuffle_count_is_aqes_unless_pinned(spark):
    """With no ``partitions`` the salted shuffle has no fixed count, so
    AQE coalesces it by bytes: a small input converts in at most
    ``defaultParallelism`` tasks, not ``spark.sql.shuffle.partitions``
    (4 here, 32 in ``build_session``). An explicit count is kept
    exactly."""
    sc = spark.sparkContext
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert shuffle_partitions > sc.defaultParallelism
    df = generate_transcripts(
        spark, n_convs=12, seed=13, mega_every=6, mega_size=120, partitions=3
    )
    sized = {r._task for r in _task_ids(
        convert_transcripts(df, repartition=True))}
    assert 1 <= len(sized) <= sc.defaultParallelism
    pinned = {r._task for r in _task_ids(
        convert_transcripts(df, partitions=3, repartition=True))}
    assert pinned == {0, 1, 2}


def test_salted_mega_conversation_spans_coalesced_tasks(spark):
    """A conversation whose payload exceeds AQE's coalescing target still
    lands on at least two conversion tasks with ``partitions=None``: the
    salt spreads its turns over the hash partitions, and coalescing cuts
    neighbouring partitions by bytes, so no task inherits the whole
    conversation. Two targets: the session's own (``max(minPartitionSize,
    shuffle bytes / defaultParallelism)``, about half the conversation on
    local[2]) and the 1 MiB floor alone (a quarter of it), which is the
    target once ``defaultParallelism`` is large, as on a cluster."""
    import base64

    import numpy as np
    import pandas as pd

    n_turns, turn_bytes = 64, 64 << 10
    rng = np.random.default_rng(5)
    # random base64, a plain-text tool result: the shuffle's lz4 cannot
    # shrink it below the target
    mega = pd.DataFrame({
        "conv_id": "mega",
        "turn_idx": np.arange(n_turns, dtype="int32"),
        "role": "tool",
        "text": [base64.b64encode(rng.bytes(turn_bytes * 3 // 4)).decode()
                 for _ in range(n_turns)],
        "tool": "txt",
        "ts": pd.Timestamp("2024-01-01"),
    })
    df = spark.createDataFrame(mega, schema=TRANSCRIPTS_SCHEMA).unionByName(
        generate_transcripts(spark, n_convs=6, seed=3, mega_every=0,
                             partitions=1)
    )
    payload = n_turns * turn_bytes
    floor = 1 << 20  # spark.sql.adaptive.coalescePartitions.minPartitionSize
    total = df.agg(F.sum(F.length("text"))).collect()[0][0]
    target = max(floor, total / spark.sparkContext.defaultParallelism)
    assert payload > 1.5 * target and payload / total > 0.9

    def mega_tasks():
        rows = _task_ids(convert_transcripts(df, repartition=True),
                         "conv_id", "error")
        assert sum(r.conv_id == "mega" for r in rows) == n_turns
        assert all(r.error is None for r in rows)
        return {r._task for r in rows if r.conv_id == "mega"}

    # build_session's shuffle width, so the salt has 32 partitions to use
    with _sql_conf(spark, {"spark.sql.shuffle.partitions": "32"}):
        assert len(mega_tasks()) >= 2
        with _sql_conf(spark, {
            "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(floor),
        }):
            assert len(mega_tasks()) >= 3


def test_ordered_output_mega_conversation_two_level(spark):
    """A single 1M-turn conversation through the skew-safe turn_seq path:
    exact rank values, and the payload-side window partitions on
    (conv_id, _seq_bkt) — a whole conversation never lands on one task
    (VERDICT r2 'What's wrong #2')."""
    n = 1_000_000
    turns = spark.range(n).select(
        F.lit("megaconv").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
    )
    # shuffled arrival order: ordering must come from the operator
    converted = turns.withColumn("payload", F.lit("x")).orderBy(
        F.xxhash64("turn_idx")
    )
    out = ordered_output(converted, turns=turns, seq_bucket=65536)
    assert out.filter(F.col("turn_seq") != F.col("turn_idx") + 1).count() == 0

    plan = _plan(out)
    # the two-level path is active: bucket key present in the plan, and
    # every row_number window spec includes it next to conv_id
    assert "_seq_bkt" in plan
    for line in plan.splitlines():
        if "row_number()" in line and "windowspecdefinition" in line:
            assert "_seq_bkt" in line, line


def test_ordered_output_adaptive_small_convs_take_legacy_plan(spark):
    """When no conversation reaches seq_bucket rows, the adaptive check
    must fall back to the legacy single-window plan — no composite-key
    join, no _seq_bkt anywhere (VERDICT r3 #5: the small-conv common
    case paid the two-level cost unconditionally)."""
    df = spark.createDataFrame(
        [("a", 0), ("a", 1), ("b", 0)], "conv_id string, turn_idx int"
    ).withColumn("payload", F.lit("p"))
    turns = df.select("conv_id", "turn_idx")
    out = ordered_output(df, turns=turns, seq_bucket=64)
    got = {(r.conv_id, r.turn_idx): r.turn_seq for r in out.collect()}
    assert got == {("a", 0): 1, ("a", 1): 2, ("b", 0): 1}
    assert "_seq_bkt" not in _plan(out)


def test_ordered_output_sparse_turn_idx_matches_legacy(spark):
    """Gappy, non-dense turn_idx across bucket boundaries: the two-level
    rank must equal the legacy single-window row_number."""
    import pandas as pd

    rows = [
        ("a", 3), ("a", 10), ("a", 70_000), ("a", 2_000_000),
        ("b", 0), ("b", 65_536),
        ("c", 5),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx"])
    df = spark.createDataFrame(pdf).withColumn("payload", F.lit("p"))
    turns = df.select("conv_id", "turn_idx")
    # at the default seq_bucket the probe picks the single window
    legacy = {
        (r.conv_id, r.turn_idx): r.turn_seq
        for r in ordered_output(df, turns=turns).collect()
    }
    # seq_bucket=2: conversation "a" has 4 rows, so the probe picks the
    # two-level plan
    out = ordered_output(df, turns=turns, seq_bucket=2)
    two_level = {(r.conv_id, r.turn_idx): r.turn_seq for r in out.collect()}
    assert two_level == legacy
    assert "_seq_bkt" in _plan(out)


def test_catalog_table_source(spark, tmp_path):
    """The job's --table path: transcripts registered in the session
    catalog (saveAsTable -> spark.read.table) convert identically to the
    parquet-path source — the sandbox stand-in for an Iceberg catalog
    table (SURVEY §7.6: Iceberg resolves through spark.read.table)."""
    df = generate_transcripts(spark, n_convs=12, seed=19, mega_every=0,
                              partitions=2)
    n_turns = df.count()
    # managed table in the session warehouse; dropped (with data) below
    df.write.mode("overwrite").saveAsTable("transcripts_tbl")
    try:
        via_table = spark.read.table("transcripts_tbl")
        result = run_pipeline(
            spark, via_table,
            output_path=str(tmp_path / "out"),
            lineage_path=str(tmp_path / "lineage"),
            n_buckets=4,
        )
        assert result["rows"] == n_turns
        assert result["failures"] == 0
        got = spark.read.parquet(str(tmp_path / "out"))
        assert got.filter("markdown is null").count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS transcripts_tbl")


def test_run_pipeline_empty_input(spark, tmp_path):
    """Zero input rows: run_pipeline must report zero work, append no
    lineage, and NOT crash on re-reading a nonexistent output (review
    finding: range(n_buckets) scoping + empty write)."""
    from anytomd_spark.transcripts import TRANSCRIPTS_SCHEMA

    empty = spark.createDataFrame([], schema=TRANSCRIPTS_SCHEMA)
    res = run_pipeline(spark, empty, str(tmp_path / "out"),
                       str(tmp_path / "lin"), n_buckets=4)
    assert res == {"run_id": res["run_id"], "rows": 0, "failures": 0,
                   "buckets": 0, "storage": "parquet", "n_buckets": 4,
                   "n_buckets_from": "explicit"}
    assert not (tmp_path / "lin").exists()


def test_run_pipeline_no_resume_does_not_reattribute_stale_buckets(
    spark, tmp_path
):
    """resume=False over an output holding ANOTHER run's buckets: lineage
    for the new run must cover only the buckets it actually wrote, never
    re-attributing the stale ones (review finding)."""
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    df_all = generate_transcripts(spark, n_convs=30, seed=3, mega_every=0,
                                  partitions=2)
    run_pipeline(spark, df_all, out, lin, run_id="first", n_buckets=8)
    first_buckets = {
        r.bucket for r in spark.read.parquet(lin)
        .filter("run_id = 'first'").select("bucket").collect()
    }
    assert len(first_buckets) > 1

    # second run over a SUBSET of conversations, resume off
    one_conv = df_all.filter(
        F.col("conv_id") == df_all.select("conv_id").first().conv_id
    )
    res = run_pipeline(spark, one_conv, out, lin, run_id="second",
                       n_buckets=8, resume=False)
    second = spark.read.parquet(lin).filter("run_id = 'second'")
    second_buckets = {r.bucket for r in second.select("bucket").collect()}
    assert second_buckets < first_buckets  # strictly fewer
    assert res["buckets"] == len(second_buckets)
    assert second.agg(F.sum("n_rows")).collect()[0][0] == one_conv.count()


def test_ordered_output_null_conv_id_not_dropped(spark):
    """A null conv_id must survive the two-level path (null-safe join),
    exactly as the legacy window kept it (review finding)."""
    import pandas as pd

    pdf = pd.DataFrame(
        [(None, 0), (None, 1), ("c", 0)],
        columns=["conv_id", "turn_idx"],
    )
    df = spark.createDataFrame(pdf, "conv_id string, turn_idx int") \
        .withColumn("payload", F.lit("p"))
    turns = df.select("conv_id", "turn_idx")
    # seq_bucket=2: the null conversation's 2 rows force the two-level plan
    out = ordered_output(df, turns=turns, seq_bucket=2)
    assert "_seq_bkt" in _plan(out)
    rows = out.collect()
    assert len(rows) == 3
    got = {(r.conv_id, r.turn_idx): r.turn_seq for r in rows}
    assert got[(None, 0)] == 1 and got[(None, 1)] == 2 and got[("c", 0)] == 1


_probe_groups = itertools.count()


def _probe_jobs(spark, turns, seq_bucket: int = 1 << 20) -> list:
    """The Spark jobs building ``ordered_output`` over ``turns`` launches:
    the skew probe's, or none when the metadata bound picks the plan."""
    converted = turns.withColumn("payload", F.lit("p"))
    _, jobs = _jobs_of(
        spark, f"probe{next(_probe_groups)}",
        lambda: ordered_output(converted, turns=turns, seq_bucket=seq_bucket),
    )
    return jobs


@pytest.fixture(scope="module")
def bounded_src(spark, tmp_path_factory):
    """A 3-file parquet transcripts input with a 120-turn conversation."""
    inp = str(tmp_path_factory.mktemp("bounded_src") / "in")
    generate_transcripts(
        spark, n_convs=40, seed=37, mega_every=20, mega_size=120,
        partitions=3,
    ).write.parquet(inp)
    return inp


def test_row_bound_skips_the_skew_probe(spark, tmp_path, monkeypatch,
                                        bounded_src):
    """A parquet input whose footers hold fewer rows than seq_bucket runs
    no skew probe. ``input_row_bound`` itself launches no Spark job; the
    pass launches exactly the probe's jobs fewer than the same pass with
    the bound declining, and writes the same rows in every column
    (``turn_seq`` included) and the same lineage rows (``ts`` and
    ``run_id`` aside)."""
    from anytomd_spark import pipeline

    src = spark.read.parquet(bounded_src)
    turns = src.select("conv_id", "turn_idx")
    n = src.count()
    bound, bound_jobs = _jobs_of(spark, "bound",
                                 lambda: pipeline.input_row_bound(turns))
    assert bound == n and bound_jobs == []
    assert _probe_jobs(spark, turns) == []
    _, probe = _jobs_of(spark, "probe_alone", lambda: turns.groupBy(
        "conv_id").count().agg(F.max("count")).collect())
    assert probe

    def run(name):
        source = spark.read.parquet(bounded_src)
        return _jobs_of(spark, name, lambda: run_pipeline(
            spark, source, str(tmp_path / name / "out"),
            str(tmp_path / name / "lin"), run_id=name,
        ))

    bounded, bounded_jobs = run("bounded")
    monkeypatch.setattr(pipeline, "input_row_bound", lambda *a, **k: None)
    declined, declined_jobs = run("declined")
    assert bounded["rows"] == declined["rows"] == n
    assert len(declined_jobs) - len(bounded_jobs) == len(probe), (
        declined_jobs, bounded_jobs)

    def written(name):
        out = spark.read.parquet(str(tmp_path / name / "out"))
        assert "turn_seq" in out.columns
        return out.dtypes, sorted(
            (r.asDict() for r in out.collect()),
            key=lambda d: (d["conv_id"], d["turn_idx"]))

    def lineage(name):
        lin = spark.read.parquet(str(tmp_path / name / "lin")).drop(
            "ts", "run_id")
        return lin.dtypes, sorted(
            ({**r.asDict(), "fmt_hist": dict(r.fmt_hist)}
             for r in lin.collect()),
            key=lambda d: d["bucket"])

    assert written("bounded") == written("declined")
    assert lineage("bounded") == lineage("declined")


def test_inputs_the_row_bound_cannot_bound_run_the_probe(
    spark, tmp_path, monkeypatch, bounded_src
):
    """Every input with no metadata bound below seq_bucket still runs the
    skew probe: an RDD, a JSON file source, a join or an ``explode``
    above the parquet scan, a non-parquet file in the input directory,
    files on a scheme outside FOOTER_SCHEMES, more files than
    ROW_BOUND_MAX_FILES, and a footer sum that reaches seq_bucket."""
    import shutil

    from anytomd_spark import pipeline

    src = spark.read.parquet(bounded_src)
    turns = src.select("conv_id", "turn_idx")
    n = src.count()

    def declines(df, seq_bucket=1 << 20):
        assert pipeline.input_row_bound(df, stop_at=seq_bucket) is None
        assert _probe_jobs(spark, df, seq_bucket)

    declines(spark.createDataFrame(
        spark.sparkContext.parallelize([("a", 0), ("a", 1), ("b", 0)]),
        "conv_id string, turn_idx int"))
    json_dir = str(tmp_path / "json")
    turns.write.json(json_dir)
    declines(spark.read.json(json_dir).select(
        "conv_id", F.col("turn_idx").cast("int")))
    firsts = src.filter(F.col("turn_idx") == 0).select("conv_id")
    declines(turns.join(firsts, "conv_id"))
    declines(src.select(
        "conv_id", F.explode(F.array("turn_idx")).alias("turn_idx")))

    mixed = tmp_path / "mixed"
    shutil.copytree(bounded_src, mixed)
    (mixed / "notes.txt").write_text("not a parquet file")
    mixed_turns = spark.read.schema(src.schema).parquet(str(mixed)).select(
        "conv_id", "turn_idx")
    assert any(f.endswith("notes.txt") for f in mixed_turns.inputFiles())
    with _sql_conf(spark, {"spark.sql.files.ignoreCorruptFiles": "true"}):
        declines(mixed_turns)

    # the footer sum stops at seq_bucket, so its reads stop there too
    import pyarrow.parquet as pq

    reads: list = []
    real_read = pq.read_metadata
    monkeypatch.setattr(pq, "read_metadata",
                        lambda f: (reads.append(f), real_read(f))[1])
    assert len(src.inputFiles()) == 3
    assert pipeline.input_row_bound(turns) == n and len(reads) == 3
    reads.clear()
    assert pipeline.input_row_bound(turns, stop_at=1) is None
    assert len(reads) == 1
    declines(turns, seq_bucket=n)

    monkeypatch.setattr(pipeline, "ROW_BOUND_MAX_FILES", 2)
    declines(turns)
    monkeypatch.undo()

    monkeypatch.setattr(
        pipeline, "_parquet_scan_files",
        lambda plan: ["s3a://bucket/in/part-00000.parquet"])
    declines(turns)
    monkeypatch.undo()
    assert pipeline._footer_rows(["s3a://bucket/part-0.parquet"], None) is None
    assert _probe_jobs(spark, turns) == []


def test_parquet_input_below_the_bound_keeps_small_seq_buckets_two_level(
    spark, bounded_src
):
    """A small ``seq_bucket`` still takes the two-level plan on a parquet
    input whose row bound is below the default: the bound is compared
    with the ``seq_bucket`` asked for, and ``turn_seq`` is unchanged."""
    src = spark.read.parquet(bounded_src)
    turns = src.select("conv_id", "turn_idx")
    converted = turns.withColumn("payload", F.lit("p"))
    legacy = ordered_output(converted, turns=turns)
    assert "_seq_bkt" not in _plan(legacy)
    out = ordered_output(converted, turns=turns, seq_bucket=2)
    assert "_seq_bkt" in _plan(out)
    seq = lambda df: {  # noqa: E731
        (r.conv_id, r.turn_idx): r.turn_seq for r in df.collect()}
    assert seq(out) == seq(legacy)


def test_storage_mode_is_detected_once_per_session(spark, tmp_path,
                                                   monkeypatch):
    """The auto-detected storage mode is kept on the SparkContext: two
    passes in one session look for the Iceberg runtime once. An explicit
    request is checked on every call, as before."""
    from anytomd_spark import table_io

    calls: list = []
    real = table_io.iceberg_available
    monkeypatch.setattr(table_io, "iceberg_available",
                        lambda s: (calls.append(s), real(s))[1])
    monkeypatch.delattr(spark.sparkContext, "_anytomd_storage",
                        raising=False)
    df = generate_transcripts(spark, n_convs=4, seed=5, mega_every=0,
                              partitions=1)
    for name in ("a", "b"):
        res = run_pipeline(spark, df, str(tmp_path / name / "out"),
                           str(tmp_path / name / "lin"), n_buckets=2)
        assert res["storage"] == "parquet"
    assert len(calls) == 1
    assert table_io.probe_storage(spark, "parquet") == "parquet"
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        table_io.probe_storage(spark, "iceberg")
    assert len(calls) == 2


def test_job_spark_submit_py_files(spark, tmp_path):
    """The north-rule run surface, end to end: package the library as a
    --py-files zip, launch scripts/submit_job.py through a REAL
    spark-submit subprocess from a neutral cwd (so every import resolves
    from the zip, not the repo checkout), and check the converted output
    and lineage sidecar land; a second submit resumes (no bucket
    reconverted, reported via the resume summary line)."""
    import shutil
    import subprocess
    import sys
    import zipfile

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = str(tmp_path / "anytomd_spark.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        pkg = os.path.join(repo, "anytomd_spark")
        for root, _dirs, files in os.walk(pkg):
            for name in files:
                if name.endswith((".py", ".c")):
                    full = os.path.join(root, name)
                    zf.write(full, os.path.relpath(full, repo))

    inp = str(tmp_path / "transcripts.parquet")
    generate_transcripts(
        spark, n_convs=25, seed=9, mega_every=0, partitions=2
    ).write.parquet(inp)

    out_dir = str(tmp_path / "converted")
    lin_dir = str(tmp_path / "lineage")
    cmd = [
        spark_submit, "--master", "local[4]",
        "--py-files", zpath,
        os.path.join(repo, "scripts", "submit_job.py"),
        "--input", inp, "--output", out_dir, "--lineage", lin_dir,
        "--run-id", "submit-e2e",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    def run_and_parse(label):
        p = subprocess.run(
            cmd, cwd=str(tmp_path), env=env, capture_output=True,
            text=True, timeout=600,
        )
        assert p.returncode == 0, f"{label}: {p.stderr[-4000:]}"
        summaries = [ln for ln in p.stdout.splitlines()
                     if ln.startswith('{"run_id"')]
        assert summaries, f"{label}: no summary line\n{p.stdout[-2000:]}"
        import json as _json
        return _json.loads(summaries[-1])

    from anytomd_spark.pipeline import input_bucket_count

    n_in = spark.read.parquet(inp).count()
    first = run_and_parse("first submit")
    assert first["rows"] == n_in and first["failures"] == 0
    # no --buckets: the size rule picks the count
    assert first["n_buckets_from"] == "input_bytes"
    assert first["n_buckets"] == input_bucket_count(spark.read.parquet(inp))

    out = spark.read.parquet(out_dir)
    assert out.count() == n_in
    assert out.filter(F.col("error").isNotNull()).count() == 0
    lineage = spark.read.parquet(lin_dir)
    assert lineage.agg(F.sum("n_rows")).collect()[0][0] == n_in

    # resume, again with no --buckets: the recorded count is adopted and
    # every bucket is already committed -> zero work, zero rewrites
    second = run_and_parse("resume submit")
    assert second["rows"] == 0 and second["buckets"] == 0
    assert (second["n_buckets"], second["n_buckets_from"]) == (
        first["n_buckets"], "lineage")


# bucket count: the size rule and the recorded count
# --------------------------------------------------------------------------

_ROW_KEY = ("conv_id", "turn_idx", "turn_seq", "markdown", "fmt", "error")


def _out_rows(spark, out) -> list[tuple]:
    return sorted(
        (tuple(r) for r in spark.read.parquet(out).select(*_ROW_KEY).collect()),
        key=lambda t: tuple("" if v is None else v for v in t),
    )


def _assert_each_key_once(spark, src, out, lin):
    got = spark.read.parquet(out).select("conv_id", "turn_idx").collect()
    want = src.select("conv_id", "turn_idx").collect()
    assert len(got) == len(set(got)) == len(want)
    assert set(got) == set(want)
    lineage = spark.read.parquet(lin)
    assert lineage.agg(F.sum("n_rows")).collect()[0][0] == len(want)


def _file_bytes(*roots) -> dict:
    from pathlib import Path

    return {p: p.read_bytes() for root in roots
            for p in Path(root).rglob("*") if p.is_file()}


@pytest.fixture(scope="module")
def bucket_src(spark, tmp_path_factory):
    """A parquet transcripts input of 40 conversations, and the half of
    them that falls in buckets 0-3 of 8."""
    inp = str(tmp_path_factory.mktemp("bucket_src") / "in")
    generate_transcripts(
        spark, n_convs=40, seed=31, mega_every=0, partitions=2
    ).write.parquet(inp)
    src = spark.read.parquet(inp)
    half = bucketed(src, 8).filter(F.col("bucket") < 4).drop("bucket")
    assert 0 < half.count() < src.count()
    return src, half


def test_resolve_bucket_count_cases():
    """The resume contract: a recorded count is adopted, or checked
    against the caller's; pre-column rows need the caller's count; two
    recorded counts never resume. Null rows beside one recorded count
    come from a resume that named that count, so the count holds."""
    from anytomd_spark.pipeline import resolve_bucket_count

    assert resolve_bucket_count(None, {8}, None) == (8, "lineage")
    assert resolve_bucket_count(8, {8}, None) == (8, "explicit")
    assert resolve_bucket_count(None, {None, 8}, None) == (8, "lineage")
    assert resolve_bucket_count(8, {None}, None) == (8, "explicit")
    assert resolve_bucket_count(16, set(), None) == (16, "explicit")
    with pytest.raises(ValueError, match="n_buckets=16 .* n_buckets=8"):
        resolve_bucket_count(16, {8}, None)
    with pytest.raises(ValueError, match="pass the n_buckets"):
        resolve_bucket_count(None, {None}, None)
    for requested in (None, 8):
        with pytest.raises(ValueError, match=r"\[8, 16\]"):
            resolve_bucket_count(requested, {8, 16, None}, None)
    with pytest.raises(ValueError, match="at least 1"):
        resolve_bucket_count(0, set(), None)


def test_input_bucket_count_follows_file_bytes(spark, tmp_path, monkeypatch):
    """On a parquet input the count is ceil(file bytes /
    BUCKET_INPUT_BYTES), capped at MAX_BUCKETS, read from the plan with
    no Spark job. An input of unknown size (built from an RDD, alone or
    in a union) gets UNSIZED_BUCKETS."""
    from anytomd_spark import pipeline

    inp = tmp_path / "in"
    generate_transcripts(
        spark, n_convs=20, seed=7, mega_every=0, partitions=3
    ).write.parquet(str(inp))
    size = sum(p.stat().st_size for p in inp.glob("*.parquet"))
    src = spark.read.parquet(str(inp))

    assert pipeline.input_bucket_count(src) == 1
    for per_bucket in (size // 3 + 1, size // 7, 1):
        monkeypatch.setattr(pipeline, "BUCKET_INPUT_BYTES", per_bucket)
        got, jobs = _jobs_of(spark, f"size{per_bucket}",
                             lambda: pipeline.input_bucket_count(src))
        assert jobs == []
        assert got == min(pipeline.MAX_BUCKETS, -(-size // per_bucket))
    assert got == pipeline.MAX_BUCKETS == 4096

    from_rdd = spark.createDataFrame(src.rdd, src.schema)
    for unsized in (from_rdd, src.unionByName(from_rdd)):
        assert pipeline.input_bucket_count(unsized) == 64


def test_rule_count_output_equals_64_buckets(spark, tmp_path, monkeypatch):
    """A first run with no count takes the size rule's count, records it
    in every lineage row and reports where it came from; its output rows
    equal a 64-bucket run's."""
    from anytomd_spark import pipeline

    inp = tmp_path / "in"
    generate_transcripts(
        spark, n_convs=40, seed=37, mega_every=20, mega_size=150,
        partitions=2,
    ).write.parquet(str(inp))
    size = sum(p.stat().st_size for p in inp.glob("*.parquet"))
    monkeypatch.setattr(pipeline, "BUCKET_INPUT_BYTES", size // 3 + 1)
    src = spark.read.parquet(str(inp))

    fixed = run_pipeline(spark, src, str(tmp_path / "o64"),
                         str(tmp_path / "l64"), n_buckets=64)
    ruled = run_pipeline(spark, src, str(tmp_path / "o"), str(tmp_path / "l"))
    assert (fixed["n_buckets"], fixed["n_buckets_from"]) == (64, "explicit")
    assert (ruled["n_buckets"], ruled["n_buckets_from"]) == (3, "input_bytes")
    assert ruled["rows"] == fixed["rows"] == src.count()
    assert ruled["buckets"] == 3
    assert _out_rows(spark, str(tmp_path / "o")) == _out_rows(
        spark, str(tmp_path / "o64"))
    for lin, n in (("l", 3), ("l64", 64)):
        assert {r.n_buckets for r in spark.read.parquet(
            str(tmp_path / lin)).collect()} == {n}


def test_resume_probe_is_one_job(spark, tmp_path):
    """The resume probe reads the sidecar with LINEAGE_SCHEMA: over a
    64-bucket sidecar it runs exactly one Spark job, where a read that
    infers the schema from footers runs a job of its own first."""
    from anytomd_spark import table_io

    lin = str(tmp_path / "lin")
    df = generate_transcripts(spark, n_convs=400, seed=41, mega_every=0,
                              partitions=2)
    res = run_pipeline(spark, df, str(tmp_path / "out"), lin, n_buckets=64)
    assert res["buckets"] == 64

    done, jobs = _jobs_of(spark, "probe", lambda: table_io.done_buckets(
        spark, lin, "parquet"))
    assert len(jobs) == 1, jobs
    assert done == {(b, 64) for b in range(64)}
    _, infer = _jobs_of(spark, "infer", lambda: spark.read.parquet(lin))
    assert len(infer) == 1, infer


def test_resume_with_another_count_raises_and_adopts(spark, tmp_path,
                                                     bucket_src):
    """Half the conversations at n_buckets=8, then a resume over all of
    them at 16: it raises, naming both counts, and leaves every output
    and lineage file byte-unchanged (before, it wrote 294 duplicate rows
    in this shape). A resume with no count adopts 8, and each input key
    is in the output exactly once."""
    src, half = bucket_src
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    first = run_pipeline(spark, half, out, lin, run_id="half", n_buckets=8)
    assert first["rows"] == half.count()
    before = _file_bytes(out, lin)

    with pytest.raises(ValueError, match="n_buckets=16 .* n_buckets=8"):
        run_pipeline(spark, src, out, lin, run_id="sixteen", n_buckets=16)
    assert _file_bytes(out, lin) == before

    rest = run_pipeline(spark, src, out, lin, run_id="rest")
    assert (rest["n_buckets"], rest["n_buckets_from"]) == (8, "lineage")
    assert rest["rows"] == src.count() - half.count()
    _assert_each_key_once(spark, src, out, lin)


def test_resume_over_a_sidecar_from_before_the_count(spark, tmp_path,
                                                     bucket_src):
    """A sidecar written before the n_buckets column existed reads the
    column as null: a resume with no count raises before writing, one
    with the count that wrote it proceeds and records it, and a later
    resume with no count adopts it."""
    src, half = bucket_src
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    new = str(tmp_path / "lin_new")
    run_pipeline(spark, half, out, new, run_id="half", n_buckets=8)
    spark.read.parquet(new).drop("n_buckets").write.parquet(lin)
    assert "n_buckets" not in spark.read.parquet(lin).columns
    before = _file_bytes(out, lin)

    with pytest.raises(ValueError, match="pass the n_buckets"):
        run_pipeline(spark, src, out, lin)
    assert _file_bytes(out, lin) == before

    rest = run_pipeline(spark, src, out, lin, run_id="rest", n_buckets=8)
    assert rest["rows"] == src.count() - half.count()
    _assert_each_key_once(spark, src, out, lin)
    recorded = spark.read.schema(
        "run_id string, n_buckets int").parquet(lin).collect()
    assert {(r.run_id, r.n_buckets) for r in recorded} == {
        ("half", None), ("rest", 8)}
    again = run_pipeline(spark, src, out, lin)
    assert (again["rows"], again["n_buckets"], again["n_buckets_from"]) == (
        0, 8, "lineage")


def test_crash_shaped_resumes_keep_each_key_once(spark, tmp_path,
                                                 bucket_src, monkeypatch):
    """Two crashes of a resume over half-done output, each followed by a
    plain rerun with no count: (a) the output is committed but the
    lineage append never happens; (b) a task raises inside the write
    job. Each rerun leaves every input key in the output exactly once,
    and the lineage counts every row once."""
    from anytomd_spark import pipeline, table_io

    src, half = bucket_src
    victim = src.select("conv_id").orderBy("conv_id").first().conv_id

    def lost_append(*_):
        raise OSError("lineage append lost")

    real_ordered = pipeline.ordered_output

    def raising_ordered(*args, **kwargs):
        return real_ordered(*args, **kwargs).withColumn(
            "markdown",
            F.when(F.col("conv_id") == victim, F.raise_error(F.lit("boom")))
            .otherwise(F.col("markdown")),
        )

    for name, target, fake in (
        ("append", table_io, ("append_lineage", lost_append)),
        ("task", pipeline, ("ordered_output", raising_ordered)),
    ):
        out, lin = str(tmp_path / name / "out"), str(tmp_path / name / "lin")
        run_pipeline(spark, half, out, lin, run_id="half", n_buckets=8)
        with monkeypatch.context() as m:
            m.setattr(target, *fake)
            with pytest.raises(Exception):
                run_pipeline(spark, src, out, lin, run_id="crash")
        if name == "append":  # the crashed run's rows are committed
            assert spark.read.parquet(out).count() == src.count()
        rerun = run_pipeline(spark, src, out, lin, run_id="rerun")
        assert rerun["n_buckets"] == 8, name
        _assert_each_key_once(spark, src, out, lin)


def test_no_resume_rerun_adopts_the_recorded_count(spark, tmp_path,
                                                   bucket_src, monkeypatch):
    """resume=False with no count, into an output and lineage written at
    the size rule's count, over an input the rule sizes differently (a
    larger one, then a smaller one): the rerun adopts the recorded count,
    so it overwrites the same bucket directories and each key is in the
    output exactly once. At the rule's own count, the smaller input would
    leave the first count's other directories beside the new ones,
    holding keys the new buckets hold too."""
    from anytomd_spark import pipeline

    src, half = bucket_src
    small = tmp_path / "small"
    half.write.parquet(str(small))
    small_df = spark.read.parquet(str(small))
    size = sum(p.stat().st_size for p in small.glob("*.parquet"))
    monkeypatch.setattr(pipeline, "BUCKET_INPUT_BYTES", size // 2 + 1)
    assert pipeline.input_bucket_count(small_df) == 2
    assert pipeline.input_bucket_count(src) > 2

    for name, first, second in (("grow", small_df, src),
                                ("shrink", src, small_df)):
        out, lin = str(tmp_path / name / "out"), str(tmp_path / name / "lin")
        ran = run_pipeline(spark, first, out, lin, run_id="first")
        assert ran["n_buckets_from"] == "input_bytes", name
        again = run_pipeline(spark, second, out, lin, run_id="again",
                             resume=False)
        assert (again["n_buckets"], again["n_buckets_from"]) == (
            ran["n_buckets"], "lineage"), name
        assert again["rows"] == second.count(), name
        # the rerun's buckets hold its own keys; the others keep the
        # first run's
        n = ran["n_buckets"]
        keyed = {r.bucket: r for r in bucketed(second, n)
                 .select("bucket").distinct().collect()}
        want = set(second.select("conv_id", "turn_idx").collect()) | set(
            bucketed(first, n).filter(~F.col("bucket").isin(list(keyed)))
            .select("conv_id", "turn_idx").collect())
        got = spark.read.parquet(out).select("conv_id", "turn_idx").collect()
        assert len(got) == len(set(got)), name
        assert set(got) == want, name
        recorded = spark.read.parquet(lin).select("n_buckets").distinct()
        assert [r.n_buckets for r in recorded.collect()] == [
            ran["n_buckets"]], name


def test_iceberg_lineage_gains_the_count_column_before_the_write(
    spark, tmp_path, monkeypatch
):
    """A lineage table created before n_buckets existed gains the column
    by ALTER TABLE (run here on a session-catalog table, the offline
    stand-in for an Iceberg identifier); its old rows read it as null,
    and a second upgrade changes nothing. run_pipeline upgrades before
    it writes any output."""
    from anytomd_spark import table_io
    from anytomd_spark.pipeline import LINEAGE_SCHEMA

    old = LINEAGE_SCHEMA.replace(" n_buckets int,", "")
    assert old != LINEAGE_SCHEMA
    spark.createDataFrame(
        [(0, 1, 1, 1, 0, 0, {"html": 1}, "old", "done", 0.0, "parquet")], old
    ).write.saveAsTable("lineage_before_count")
    try:
        for _ in range(2):
            table_io.upgrade_lineage(spark, "lineage_before_count", "iceberg")
            lineage = table_io.read_lineage(
                spark, "lineage_before_count", "iceberg")
            assert sorted(lineage.columns) == sorted(
                spark.createDataFrame([], LINEAGE_SCHEMA).columns)
            assert table_io.done_buckets(
                spark, "lineage_before_count", "iceberg") == {(0, None)}
    finally:
        spark.sql("DROP TABLE IF EXISTS lineage_before_count")

    calls: list = []
    for fn in ("upgrade_lineage", "write_output"):
        real = getattr(table_io, fn)
        monkeypatch.setattr(
            table_io, fn,
            lambda *a, _fn=fn, _real=real: (calls.append(_fn), _real(*a))[1])
    df = generate_transcripts(spark, n_convs=4, seed=5, mega_every=0,
                              partitions=1)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    run_pipeline(spark, df, out, lin, n_buckets=2)
    assert calls == ["write_output"]
    calls.clear()
    run_pipeline(spark, df, out, lin, n_buckets=2, resume=False)
    assert calls == ["upgrade_lineage", "write_output"]
