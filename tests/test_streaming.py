"""Structured Streaming conversion: availableNow catch-up runs over
generated transcripts, checkpointed parquet sink, incremental resume, and
golden equality of the reference fixture conversation."""

from __future__ import annotations

import os

import pytest

pyspark = pytest.importorskip("pyspark")

from anytomd_spark.pipeline import build_session  # noqa: E402
from anytomd_spark.streaming import start_conversion_stream  # noqa: E402
from tests.conftest import FIXTURES, fixture_transcripts, normalize  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    s = build_session(master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


def test_streaming_conversion_and_resume(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    from anytomd_spark.transcripts import (
        TRANSCRIPTS_SCHEMA,
        generate_transcripts,
    )

    pdf = generate_transcripts(
        spark, n_convs=6, seed=23, mega_every=0, partitions=1
    ).toPandas()
    half = len(pdf) // 2
    first = spark.createDataFrame(pdf.iloc[:half], schema=TRANSCRIPTS_SCHEMA)
    first.write.mode("append").parquet(inp)

    q = start_conversion_stream(spark, inp, out, ckpt, trigger_once=True)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == half
    assert got.filter("error is not null").count() == 0

    # append more turns -> a second availableNow pass picks up ONLY them
    second = spark.createDataFrame(pdf.iloc[half:], schema=TRANSCRIPTS_SCHEMA)
    second.write.mode("append").parquet(inp)
    q2 = start_conversion_stream(spark, inp, out, ckpt, trigger_once=True)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out)
    assert got2.count() == len(pdf)
    keys = {(r.conv_id, r.turn_idx) for r in got2.collect()}
    assert keys == set(zip(pdf["conv_id"], pdf["turn_idx"]))


def test_streaming_golden_equality(spark, tmp_path):
    """Golden equality survives the streaming path."""
    from anytomd_spark.transcripts import TRANSCRIPTS_SCHEMA

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        fixture_transcripts(), schema=TRANSCRIPTS_SCHEMA
    ).write.parquet(inp)
    q = start_conversion_stream(
        spark, inp, out, str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)
    row = spark.read.parquet(out).filter("turn_idx = 0").collect()[0]
    with open(os.path.join(FIXTURES, "expected", "sample.html.md")) as f:
        assert normalize(row.markdown) == normalize(f.read())


def test_stateful_turn_dedup_across_restarts(spark, tmp_path):
    """applyInPandasWithState: per-conversation exact dedup whose state
    (bounded hash window + counters) persists across availableNow
    restarts via the checkpoint."""
    from anytomd_spark.streaming import (
        read_transcripts_stream,
        stateful_turn_dedup,
    )
    from anytomd_spark.transcripts import TRANSCRIPTS_SCHEMA

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")

    import pandas as pd
    rows1 = pd.DataFrame(
        [("c1", 0, "user", "hello", "txt", None),
         ("c1", 1, "user", "world", "txt", None),
         ("c1", 2, "user", "hello", "txt", None),   # dup of turn 0
         ("c2", 0, "user", "hello", "txt", None)],  # NOT a dup (other conv)
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    spark.createDataFrame(rows1, schema=TRANSCRIPTS_SCHEMA).write.mode(
        "append").parquet(inp)

    sink = str(tmp_path / "sink")

    def run_pass(name):
        # foreachBatch sink: supports update output AND checkpoint recovery
        deduped = stateful_turn_dedup(read_transcripts_stream(spark, inp))
        q = (deduped.writeStream.foreachBatch(
                lambda df, _epoch: df.write.mode("append").parquet(sink))
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {(r.conv_id, r.turn_idx): r
                for r in spark.read.parquet(sink).collect()}

    got = run_pass("dedup_pass1")
    assert got[("c1", 0)].is_dup is False
    assert got[("c1", 1)].is_dup is False
    assert got[("c1", 2)].is_dup is True      # same conv, same text
    assert got[("c2", 0)].is_dup is False     # state is per-conversation

    # restart with MORE data: state must survive the checkpoint
    rows2 = pd.DataFrame(
        [("c1", 3, "user", "world", "txt", None),   # dup vs pass-1 state
         ("c1", 4, "user", "fresh", "txt", None)],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    spark.createDataFrame(rows2, schema=TRANSCRIPTS_SCHEMA).write.mode(
        "append").parquet(inp)
    got2 = run_pass("dedup_pass2")
    assert got2[("c1", 3)].is_dup is True     # remembered across restart
    assert got2[("c1", 4)].is_dup is False
    assert got2[("c1", 4)].n_seen == 5        # counters persisted too


def test_stateful_dedup_bounded_state(spark, tmp_path):
    """FIFO eviction keeps per-conv state bounded: after the window rolls
    past an old hash, its text is no longer treated as a duplicate."""
    from anytomd_spark.streaming import (
        read_transcripts_stream,
        stateful_turn_dedup,
    )
    from anytomd_spark.transcripts import TRANSCRIPTS_SCHEMA
    import pandas as pd

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    rows = [("c", i, "user", f"text-{i}", "txt", None) for i in range(4)]
    rows.append(("c", 4, "user", "text-0", "txt", None))  # evicted by then
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA).write.mode(
        "append").parquet(inp)

    deduped = stateful_turn_dedup(
        read_transcripts_stream(spark, inp), max_hashes_per_conv=2)
    q = (deduped.writeStream.format("memory").queryName("dedup_bounded")
         .outputMode("update").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.turn_idx: r for r in
           spark.sql("select * from dedup_bounded").collect()}
    # only 2 hashes retained -> text-0 was evicted before turn 4 arrived
    assert got[4].is_dup is False
    assert got[4].n_seen == 5


def test_metrics_stream_windows_and_watermark(spark, tmp_path):
    """Watermarked windowed metrics (streaming.metrics_stream): 5-minute
    event-time windows, append mode emits a window only once its end is
    behind the watermark, and a late arrival for a closed window is
    DROPPED (state stays bounded at 10^12-turn scale)."""
    import pandas as pd

    from anytomd_spark.pipeline import convert_transcripts
    from anytomd_spark.streaming import metrics_stream, read_transcripts_stream
    from anytomd_spark.transcripts import TRANSCRIPTS_SCHEMA

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = pd.Timestamp("2026-01-01 00:00:00")

    def write_rows(rows):
        pdf = pd.DataFrame(
            rows,
            columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
        )
        spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA).write.mode(
            "append").parquet(inp)

    def run_pass():
        met = metrics_stream(
            convert_transcripts(read_transcripts_stream(spark, inp))
        )
        q = (met.writeStream.format("parquet").option("path", out)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {
            (r.window_start.minute, r.fmt): r
            for r in spark.read.parquet(out).collect()
        }

    # pass 1: two turns in window [0,5), one at minute 20. watermark after
    # the batch = 20min - 10min = 10min -> only the first window is closed.
    write_rows([
        ("c", 0, "user", "alpha", "txt", base),
        ("c", 1, "user", "beta", "txt", base + pd.Timedelta(minutes=1)),
        ("c", 2, "user", "gamma", "txt", base + pd.Timedelta(minutes=20)),
    ])
    got = run_pass()
    assert got[(0, "txt")].n_turns == 2
    assert (20, "txt") not in got  # not closed yet

    # pass 2 (checkpoint restart): a LATE turn for the closed [0,5) window
    # must be dropped; minute 40 advances the watermark past window [20,25).
    write_rows([
        ("c", 3, "user", "late-dropped", "txt",
         base + pd.Timedelta(minutes=1)),
        ("c", 4, "user", "delta", "txt", base + pd.Timedelta(minutes=40)),
    ])
    got2 = run_pass()
    assert got2[(0, "txt")].n_turns == 2   # late row did NOT re-emit/merge
    assert got2[(20, "txt")].n_turns == 1  # now closed and emitted once


def test_streaming_corrupt_payloads_become_error_rows(spark, tmp_path):
    """Chaos through the streaming path: malformed payloads must land as
    per-row errors in the sink — the query itself never fails."""
    import base64

    import pandas as pd

    from anytomd_spark.transcripts import TRANSCRIPTS_SCHEMA

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = pd.DataFrame(
        [
            ("c", 0, "user", "fine text", "txt", None),
            ("c", 1, "user", '{"broken": ', "json", None),
            ("c", 2, "user",
             base64.b64encode(b"PK\x03\x04garbage").decode(), "", None),
            ("c", 3, "user", "%PDF-1.7 nope", "pdf", None),
            ("c", 4, "user", "<ok>xml</ok>", "xml", None),
        ],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    spark.createDataFrame(rows, schema=TRANSCRIPTS_SCHEMA).write.mode(
        "append").parquet(inp)

    q = start_conversion_stream(spark, inp, out, ckpt, trigger_once=True)
    q.awaitTermination(120)

    got = {r.turn_idx: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 5
    assert got[0].error is None and got[0].markdown == "fine text"
    assert got[1].error is not None
    assert got[2].error is not None
    assert got[3].error is not None  # PDF intentionally rejected
    assert got[4].error is None and "```xml" in got[4].markdown
