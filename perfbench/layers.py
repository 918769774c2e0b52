"""The traced run: per-layer metrics for one workload.

Never part of the timed runs. On one session with Spark's event log on:

1. a first pass warms the session (not measured);
2. *staged isolation*: each stage adds one layer to the stage before and
   runs as its own Spark action to a noop sink; each layer is charged the
   difference from the stage before it (``stage_metrics``);
3. an untraced ``run_pipeline`` pass gives the reference wall time;
4. one traced ``run_pipeline`` pass, whose Spark jobs the event log
   attributes to it (``EVENT_METRICS``); the stage times plus
   ``pipeline.unattributed_s`` add up to its wall time, and its wall time
   minus the untraced pass is the tracing overhead;
5. *direct calls*: the kernels this process calls on a seeded sample of
   the workload's rows, each through ``kernels.convert.convert_bytes``.

Spans are recorded from this file only, around each stage and each layer
call, kept in memory and written to ``.perfbench/traces/`` at the end.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import time
import uuid

import numpy as np
import pandas as pd

import gate
import inputs
import session

SAMPLE_ROWS = 600
KERNEL_REPS = 3
N_BUCKETS = 64  # run_pipeline's default
OOXML = ("docx", "pptx", "xlsx")
SIMPLE = ("json", "csv", "xml", "code", "txt", "ipynb")
COUNT_FMTS = ("html",) + OOXML + SIMPLE

# metric name -> (unit, better); the per_layer list of BENCHMARK.json
STAGE_METRICS = {
    "table_io.scan_s": ("s", "lower"),
    "pipeline.arrow_s": ("s", "lower"),
    "batch.kernel_s": ("s", "lower"),
    "pipeline.salt_shuffle_s": ("s", "lower"),
    "pipeline.order_s": ("s", "lower"),
    "table_io.write_s": ("s", "lower"),
    "pipeline.lineage_s": ("s", "lower"),
    "pipeline.unattributed_s": ("s", "lower"),
    "trace.untraced_wall_s": ("s", "lower"),
    "trace.traced_wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
EVENT_METRICS = {
    "pipeline.python_init_s": ("s", "lower"),
    "pipeline.python_bytes_sent": ("bytes", "lower"),
    "pipeline.python_bytes_returned": ("bytes", "lower"),
    "pipeline.task_cpu_s": ("s", "lower"),
    "pipeline.gc_s": ("s", "lower"),
    "pipeline.shuffle_write_bytes": ("bytes", "lower"),
    "pipeline.shuffle_read_bytes": ("bytes", "lower"),
    "table_io.output_bytes": ("bytes", "lower"),
    "pipeline.kernel_task_max_over_median": ("ratio", "lower"),
}
DIRECT_METRICS = {
    "batch.classify_us_per_row": ("us", "lower"),
    "batch.memo_repeat_frac": ("ratio", "higher"),
    "kernels._html_native.hit_frac": ("ratio", "higher"),
    "kernels._html_native.us_per_doc": ("us", "lower"),
    "kernels.html_conv.python_us_per_doc": ("us", "lower"),
    **{f"kernels.{f}_conv.{m}": u for f in OOXML
       for m, u in (("us_per_doc", ("us", "lower")),
                    ("mb_per_s", ("MB/s", "higher")))},
    **{f"kernels.simple.{f}.{m}": u for f in SIMPLE
       for m, u in (("us_per_doc", ("us", "lower")),
                    ("mb_per_s", ("MB/s", "higher")))},
    "kernels.sniff.zip_detect_us_per_doc": ("us", "lower"),
    **{f"sample.{f}.{m}": ("count", "higher") for f in COUNT_FMTS
       for m in ("rows", "bytes")},
}
PER_LAYER = {**STAGE_METRICS, **EVENT_METRICS, **DIRECT_METRICS}


class Tracer:
    """In-memory spans: name, start, end, parent span and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --------------------------------------------------------------------------
# staged isolation
# --------------------------------------------------------------------------

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def staged(spark, tracer: Tracer, input_path: str, out_dir: str,
           salted: bool) -> dict:
    """Stage times in seconds, one round (a second round, to keep the
    fastest, made a traced run last up to 173 s on a slow 4-core host,
    against a 180 s limit). Each stage runs the plan of the one before
    plus one layer, mirroring ``run_pipeline``'s plan."""
    from anytomd_spark import table_io
    from anytomd_spark.pipeline import (
        bucketed, compute_lineage, convert_transcripts, ordered_output,
    )
    from pyspark.sql import functions as F

    df = bucketed(spark.read.parquet(input_path), N_BUCKETS)
    turns = df.drop("bucket")
    slim = df.select("conv_id", "turn_idx")
    plain = convert_transcripts(turns)
    salted_conv = convert_transcripts(turns, repartition=True)
    conv = salted_conv if salted else plain
    out, lin = os.path.join(out_dir, "out"), os.path.join(out_dir, "lineage")

    def ordered():
        # built inside the timed stage, as run_pipeline does on every pass:
        # with adaptive ordering, ordered_output runs an eager probe here
        return bucketed(ordered_output(conv, turns=slim), N_BUCKETS)

    def lineage_tail():
        storage = table_io.probe_storage(spark, None)
        try:
            table_io.read_lineage(spark, lin, storage).collect()
        except Exception:  # noqa: BLE001 - first run: no lineage yet
            pass
        slim_out = table_io.read_output(spark, out, storage).select(
            "bucket", "fmt", "bytes_in", "chars_out", "error", "n_warnings")
        table_io.append_lineage(
            compute_lineage(slim_out, "staged").withColumn(
                "storage", F.lit(storage)), lin, storage)

    steps = [
        ("scan", lambda: _noop(spark.read.parquet(input_path))),
        ("identity",
         lambda: _noop(turns.mapInPandas(lambda it: it, turns.schema))),
        ("convert", lambda: _noop(plain)),
        ("convert_salted", lambda: _noop(salted_conv)),
        ("ordered", lambda: _noop(ordered())),
        ("write", lambda: table_io.write_output(ordered(), out, "parquet")),
        ("lineage", lineage_tail),
    ]
    times: dict[str, float] = {}
    shutil.rmtree(out_dir, ignore_errors=True)
    with tracer.span("staged"):
        for name, action in steps:
            spark.sparkContext.setLocalProperty("perfbench.stage", name)
            with tracer.span(f"stage.{name}") as span:
                action()
            times[name] = span["end"] - span["start"]
    spark.sparkContext.setLocalProperty("perfbench.stage", None)
    shutil.rmtree(out_dir, ignore_errors=True)
    return times


def stage_metrics(times: dict, salted: bool, traced_wall: float,
                  untraced_wall: float) -> dict:
    """Charge each layer the difference from the stage before it. The
    chain follows the workload's plan, so salt_shuffle_s is in the chain
    only for the salted workload; it is reported on both."""
    before_order = times["convert_salted"] if salted else times["convert"]
    m = {
        "table_io.scan_s": times["scan"],
        "pipeline.arrow_s": times["identity"] - times["scan"],
        "batch.kernel_s": times["convert"] - times["identity"],
        "pipeline.salt_shuffle_s": times["convert_salted"] - times["convert"],
        "pipeline.order_s": times["ordered"] - before_order,
        "table_io.write_s": times["write"] - times["ordered"],
        "pipeline.lineage_s": times["lineage"],
    }
    chain = times["write"] + times["lineage"]
    m["pipeline.unattributed_s"] = traced_wall - chain
    m["trace.untraced_wall_s"] = untraced_wall
    m["trace.traced_wall_s"] = traced_wall
    m["trace.overhead_s"] = traced_wall - untraced_wall
    return m


def chain_sum(m: dict, salted: bool) -> float:
    """The stage times of the workload's chain plus the unattributed rest:
    equals ``trace.traced_wall_s``."""
    names = ["table_io.scan_s", "pipeline.arrow_s", "batch.kernel_s",
             "pipeline.order_s", "table_io.write_s", "pipeline.lineage_s",
             "pipeline.unattributed_s"]
    if salted:
        names.append("pipeline.salt_shuffle_s")
    return sum(m[n] for n in names)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_PY_INIT = ("time to start Python workers",
            "time to initialize Python workers")
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def event_metrics(log_path: str, stage_tag: str) -> dict:
    """Task metrics of the Spark jobs whose ``perfbench.stage`` local
    property is ``stage_tag``."""
    stages: set[int] = set()
    tasks = []
    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get("perfbench.stage") == stage_tag:
                    stages.update(ev.get("Stage IDs", ()))
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
                tasks.append(ev)
    m = dict.fromkeys(EVENT_METRICS, 0.0)
    kernel_runs = []
    for ev in tasks:
        tm = ev.get("Task Metrics") or {}
        m["pipeline.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["pipeline.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics") or {}
        m["pipeline.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        m["pipeline.shuffle_read_bytes"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
        m["table_io.output_bytes"] += (
            (tm.get("Output Metrics") or {}).get("Bytes Written", 0))
        python_task = False
        for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
            name = acc.get("Name", "")
            if name.startswith(_PY_INIT):  # SQL "timing" metrics are in ms
                m["pipeline.python_init_s"] += float(acc.get("Update", 0)) / 1e3
            elif name == _PY_SENT:
                m["pipeline.python_bytes_sent"] += float(acc.get("Update", 0))
                python_task = True
            elif name == _PY_RETURNED:
                m["pipeline.python_bytes_returned"] += float(acc.get("Update", 0))
        if python_task:
            kernel_runs.append(tm.get("Executor Run Time", 0))
    if kernel_runs and statistics.median(kernel_runs) > 0:
        m["pipeline.kernel_task_max_over_median"] = (
            max(kernel_runs) / statistics.median(kernel_runs))
    return m


# --------------------------------------------------------------------------
# direct single-process kernel calls
# --------------------------------------------------------------------------

def _timed_reps(fn, docs: list) -> float:
    """Median over KERNEL_REPS of the seconds ``fn`` takes over ``docs``."""
    reps = []
    for _ in range(KERNEL_REPS):
        t0 = time.perf_counter()
        for d in docs:
            fn(*d)
        reps.append(time.perf_counter() - t0)
    return statistics.median(reps)


def direct(tracer: Tracer, table, seed: int, workload: str) -> dict:
    from anytomd_spark.batch import classify_formats
    from anytomd_spark.kernels import sniff
    from anytomd_spark.kernels._html_native import convert_html_native
    from anytomd_spark.kernels.convert import convert_bytes

    rng = np.random.default_rng(seed)
    idx = np.sort(rng.choice(len(table), size=min(SAMPLE_ROWS, len(table)),
                             replace=False))
    sample = table.iloc[idx]
    text, tool = sample["text"].fillna(""), sample["tool"]
    m = dict.fromkeys(DIRECT_METRICS, 0.0)

    with tracer.span("direct"):
        with tracer.span("batch.classify_formats"):
            secs = _timed_reps(classify_formats, [(text, tool)])
        m["batch.classify_us_per_row"] = secs / len(sample) * 1e6
        fmts = classify_formats(text, tool)
        with tracer.span("batch.memo_repeat_frac"):
            ordered = pd.concat(inputs.file_slices(workload, table))
            m["batch.memo_repeat_frac"] = inputs.repeat_frac(
                ordered, classify_formats(ordered["text"], ordered["tool"]))

        by_fmt: dict[str, list] = {}
        zips = []
        for t, h, f in zip(text, tool, fmts):
            target = gate.resolve(t, h, f)
            if target is None:
                continue
            if f == "zipb64":
                zips.append((target[0],))
            # code and txt rows keep their concrete extension as ext
            by_fmt.setdefault(f if f in ("code", "txt") else target[1],
                              []).append(target)
        for f in COUNT_FMTS:
            docs = by_fmt.get(f, [])
            m[f"sample.{f}.rows"] = len(docs)
            m[f"sample.{f}.bytes"] = sum(len(d) for d, _ in docs)

        html = by_fmt.get("html", [])
        pages = [d.decode("utf-8").removeprefix("\ufeff") for d, _ in html]
        hits = [convert_html_native(p) is not None for p in pages]
        native = [(p,) for p, hit in zip(pages, hits) if hit]
        declined = [doc for doc, hit in zip(html, hits) if not hit]
        if html:
            m["kernels._html_native.hit_frac"] = len(native) / len(html)
        with tracer.span("kernels._html_native"):
            if native:
                m["kernels._html_native.us_per_doc"] = (
                    _timed_reps(convert_html_native, native) / len(native) * 1e6)
        with tracer.span("kernels.html_conv"):
            if declined:
                m["kernels.html_conv.python_us_per_doc"] = (
                    _timed_reps(convert_bytes, declined) / len(declined) * 1e6)

        for f in OOXML + SIMPLE:
            prefix = f"kernels.{f}_conv" if f in OOXML else f"kernels.simple.{f}"
            docs = by_fmt.get(f, [])
            if not docs:
                continue
            with tracer.span(prefix):
                secs = _timed_reps(convert_bytes, docs)
            m[f"{prefix}.us_per_doc"] = secs / len(docs) * 1e6
            m[f"{prefix}.mb_per_s"] = (
                sum(len(d) for d, _ in docs) / secs / 1e6 if secs else 0.0)
        if zips:
            with tracer.span("kernels.sniff"):
                secs = _timed_reps(sniff.detect_zip_format, zips)
            m["kernels.sniff.zip_detect_us_per_doc"] = secs / len(zips) * 1e6
    return m


# --------------------------------------------------------------------------
# the traced run
# --------------------------------------------------------------------------

def trace_run(workload: str, seed: int, sizing: dict, input_path: str,
              table) -> tuple[dict, dict, dict, list[str]]:
    """Returns (metrics, units, context, gate problems)."""
    salted = session.SALTED[workload]
    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(run_id)
    work = os.path.join(session.WORK, "runs", str(os.getpid()))
    log_dir = os.path.join(session.WORK, "eventlog", run_id)
    problems: list[str] = []
    failed = 0

    with tracer.span("setup"):
        spark = session.start_session(sizing, event_log_dir=log_dir)
    try:
        with tracer.span("first_pass"):
            _, res = session.run_pass(spark, input_path, work, salted)
        problems += session.gate_pass(table, work, res, seed)
        times = staged(spark, tracer, input_path, work, salted)
        with tracer.span("untraced_pass"):
            t, res = session.run_pass(spark, input_path, work, salted)
        untraced = t.wall_s
        failed += res["failures"]
        problems += session.gate_pass(table, work, res, seed * 1000 + 1)

        spark.sparkContext.setLocalProperty("perfbench.stage", "full")
        with tracer.span("run_pipeline"):
            t, res = session.run_pass(spark, input_path, work, salted)
        traced = t.wall_s
        spark.sparkContext.setLocalProperty("perfbench.stage", None)
        failed += res["failures"]
        problems += session.gate_pass(table, work, res, seed * 1000 + 2)
    finally:
        session.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = stage_metrics(times, salted, traced, untraced)
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if os.path.isfile(p)]
    if logs:
        metrics.update(event_metrics(logs[0], "full"))
    else:
        problems.append("no Spark event log was written")
    metrics.update(direct(tracer, table, seed, workload))
    tracer.dump(os.path.join(session.WORK, "traces", f"{workload}-{run_id}.json"))
    shutil.rmtree(log_dir, ignore_errors=True)

    units = {k: u for k, (u, _) in PER_LAYER.items()}
    context = {
        "run_id": run_id,
        "properties": inputs.properties(workload, table),
        "stage_s": {k: round(v, 4) for k, v in times.items()},
        "chain_sum_s": chain_sum(metrics, salted),
        "attempted": 2 * len(table),
        "failed": failed,
    }
    return metrics, units, context, problems
