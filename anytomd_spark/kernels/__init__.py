"""Pure-Python conversion kernels (no Spark imports).

Each module reimplements the semantics of one reference converter
(the reference's ``src/converter/*.rs``). They run inside Arrow-batched
pandas UDF workers behind ``batch.convert_batch``, which detects each
turn's format and dispatches to :func:`convert_bytes`; keep them
dependency-free and deterministic.
"""

from anytomd_spark.kernels.convert import convert_bytes  # noqa: F401
