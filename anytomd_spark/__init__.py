"""anytomd_spark — a PySpark-native document→Markdown extraction engine.

A from-scratch reimplementation of the conversion semantics of
``developer0hye/anytomd-rs`` (reference at /root/reference) as a vectorized
per-turn map pipeline over a table of multi-turn conversation transcripts:

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

Layout:
    kernels/   pure-Python conversion kernels (no Spark imports)
    batch.py   Arrow-batched pandas kernel: DataFrame -> DataFrame
    pipeline.py Spark job: scan -> mapInPandas -> bucketed, ordered write
    analysis/  large-scale training-data operators (dedup, ANN, text quality)
"""

__version__ = "0.1.0"
