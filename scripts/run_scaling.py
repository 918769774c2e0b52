"""Host control: the machine's per-core speed in the same window as a
Spark measurement, with no Spark.

:func:`host_control` forks ``n_procs`` workers. Each runs the identical
stdlib-only work over the text payloads of one deterministic generated
batch: ``html.parser`` tokenising, ``json`` encoding and ``zlib``
compression of every payload, ``reps`` times. The result is payload rows
per second per core: the rows each worker handled, divided by the
slowest worker's own elapsed time (pool start-up and join excluded).
Nothing from anytomd_spark runs in the timed loop, so the rate moves
with the machine, never with the converters.

``bench.py``, ``bench_extra.py`` and ``perfbench/run.py`` report it
beside their Spark numbers. Two ``bench_extra.py`` runs at N and 4N
``SPARK_GRAFT_CPUS`` each carry it at their own parallelism, so the
ratio of the two controls is how much per-core speed the silicon itself
loses between N and 4N busy cores (turbo, SMT, steal), and a raw Spark
scaling efficiency divided by it is the framework's own.
"""

from __future__ import annotations

import json
import time
import zlib
from html.parser import HTMLParser

# set once per process; fork inherits the parent's warm interpreter state
# (imports, this payload list) so workers start hot
_CONTROL_TEXTS: list[str] | None = None


def _control_task(reps: int) -> float:
    t0 = time.time()
    for _ in range(reps):
        for text in _CONTROL_TEXTS:
            parser = HTMLParser()
            parser.feed(text)
            parser.close()
            zlib.compress(json.dumps(text).encode("utf-8"))
    return time.time() - t0


def host_control(n_procs: int, n_rows: int = 2000, reps: int = 6,
                 seed: int = 42) -> float:
    """Payload rows/s PER CORE with ``n_procs`` busy cores (no Spark):
    html.parser tokenising, JSON encoding and zlib compression of each
    payload of an ``n_rows`` generated batch."""
    global _CONTROL_TEXTS
    import multiprocessing as mp

    import numpy as np

    from anytomd_spark.transcripts import conversation_sizes, generate_batch

    if _CONTROL_TEXTS is None:
        sizes = conversation_sizes(2000, seed, 10 ** 9, 2000)  # no megas
        cum = np.cumsum(sizes)
        batch = generate_batch(np.arange(0, n_rows, dtype=np.int64), cum, seed)
        _CONTROL_TEXTS = list(batch["text"])
        _control_task(1)  # parent warmup — forked workers inherit it
    ctx = mp.get_context("fork")
    with ctx.Pool(n_procs) as pool:
        elapsed = pool.map(_control_task, [reps] * n_procs)
    # every worker does the same n_rows*reps; time the slowest worker's
    # work, not the pool's process start-up and join
    return n_rows * reps / max(elapsed)
