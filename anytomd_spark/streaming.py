"""Structured Streaming variant of the extraction pipeline.

The reference is a batch CLI (no streaming), but the transcripts table at
10^12-turn scale is append-only in practice; this module lets the same
Arrow-batched kernel run incrementally:

    readStream (file source over the transcripts directory)
      -> pipeline.convert_transcripts        # same binding as batch
      -> writeStream (parquet sink, checkpointed, exactly-once files)

plus a windowed extraction-metrics stream (events-per-format with
watermarked event-time windows) for monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anytomd_spark.pipeline import convert_transcripts
from anytomd_spark.transcripts import TRANSCRIPTS_SCHEMA


def read_transcripts_stream(spark: SparkSession, input_path: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )


def start_conversion_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    trigger_once: bool = True,
):
    """Checkpointed file-to-file conversion stream. ``trigger_once`` runs
    one incremental catch-up pass (the batch-resume analogue); otherwise
    it micro-batches continuously."""
    converted = convert_transcripts(
        read_transcripts_stream(spark, input_path)
    )
    writer = (
        converted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_turn_dedup(
    stream_df: DataFrame,
    max_hashes_per_conv: int = 256,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): exact
    per-conversation turn dedup with bounded state.

    State per conv_id: the md5 hashes of up to ``max_hashes_per_conv``
    recently seen turn texts (FIFO eviction keeps state bounded at
    10^12-turn scale) plus running counters. Output: one row per input
    turn with ``is_dup`` set when the text hash was already in state —
    the streaming analogue of ``analysis.dedup.exact_dedup`` for
    append-only transcript feeds.
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "conv_id string, turn_idx int, content_md5 string, is_dup boolean, "
        "n_seen long"
    )
    state_schema = "hashes array<string>, n_seen long"

    def fn(key, pdf_iter, state):
        conv_id = key[0]
        if state.exists:
            hashes_list, n_seen = state.get
            seen = list(hashes_list)
        else:
            seen, n_seen = [], 0
        seen_set = set(seen)
        rows = []
        # a micro-batch delivers the group in arbitrary chunk/row order;
        # process in turn order (the stream's canonical ordering)
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        batch = batch.sort_values("turn_idx")
        for turn_idx, text in zip(batch["turn_idx"], batch["text"]):
            h = hashlib.md5(
                (text or "").encode("utf-8", "surrogatepass")
            ).hexdigest()
            dup = h in seen_set
            if not dup:
                seen.append(h)
                seen_set.add(h)
                if len(seen) > max_hashes_per_conv:
                    seen_set.discard(seen.pop(0))
            n_seen += 1
            rows.append((conv_id, int(turn_idx), h, dup, n_seen))
        state.update((seen, n_seen))
        yield pd.DataFrame(
            rows,
            columns=["conv_id", "turn_idx", "content_md5", "is_dup",
                     "n_seen"],
        )

    return stream_df.groupBy("conv_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def metrics_stream(converted: DataFrame) -> DataFrame:
    """Watermarked 5-minute-window extraction metrics (late turns tolerated
    up to the 10-minute watermark; state is bounded)."""
    return (
        converted.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "fmt")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("chars_out").alias("chars_out"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "n_failures"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "fmt", "n_turns", "bytes_in", "chars_out", "n_failures",
        )
    )
