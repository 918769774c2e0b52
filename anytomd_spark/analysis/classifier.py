"""Trained quality classifier — the learned data-selection filter a
modern LLM training pipeline runs AFTER the heuristic gates
(text_quality.quality_filter): a hashed-bag-of-words logistic
regression in the fastText-filter tradition (Joulin et al. 2017;
CCNet, Wenzek et al. 2020; the DCLM/DSIR model-based selection
recipes), trained DISTRIBUTED with nothing but DataFrame expressions.

Training setup (self-contained, no external labels): positives are the
corpus documents themselves, negatives are the same documents with
every word character-reversed — the classic "real text vs perturbed
text" contrastive trick for bootstrapping a quality/gibberish model
when no labeled domain corpus exists. The label is a genuine function
of the text, so the trainer's accuracy (~0.99 on the synthetic corpus)
evidences actual learning, and a shuffled-label control in the tests
pins that the signal is not an artifact of the plumbing.

Execution shape — built for the 100 TB corpus:

* **Feature build is map-only** (zero shuffle): per document, words are
  hashed into ``dim`` buckets with a polynomial char hash and the dense
  frequency vector (+ bias) is assembled with codegen HOFs
  (split/transform/filter/size). No explode, no groupBy.
* **Each GD epoch is ONE map-side-partial aggregation**: the sigmoid
  margin is computed against the current weights as a LITERAL array
  (the same broadcast-by-literal pattern as similarity.py's IVF
  centroids), and the gradient is ``dim+1`` partial-aggregable SUM
  columns collapsing to a single driver row — the driver holds only
  the weight vector (65 floats), never data rows. This is the
  MLlib-style treeAggregate plan expressed in pure DataFrame ops.
* Full-batch GD is deterministic given the corpus, so the driver
  oracle re-derives EVERY epoch — feature hashing, sigmoid, gradient,
  update — in unrolled DuckDB SQL (materialized CTE per epoch, the
  same all-rounds-unrolled pattern as the BPE trainer's oracle).

Cross-engine parity constraints (Spark expression == DuckDB SQL):
words are ``lower(text)`` split on ``[^a-z]+``; the hash is
``sum(ascii(char_i) * 31**i for i in first 12 chars) % dim`` (literal
power table on both sides — integer-exact, no float pow); documents
with zero words carry no trainable signal and are dropped on BOTH
sides (the SQL side loses them at the unnest; the Spark side filters
explicitly so row counts agree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DIM = 64
EPOCHS = 8
LEARNING_RATE = 10.0
MAX_HASH_CHARS = 12
#: integer-exact power table shared with the SQL oracle; 12 chars of
#: code <= 0x10FFFF keeps the dot product far inside int64
POWS = [31 ** i for i in range(MAX_HASH_CHARS)]


def hash_index(word, dim: int = DIM):
    """Polynomial char hash of the first ``MAX_HASH_CHARS`` chars,
    mod ``dim`` — as a codegen Column expression (zip the char array
    with the literal power table, sum, mod)."""
    w = F.col(word) if isinstance(word, str) else word
    chars = F.slice(F.split(w, ""), 1, MAX_HASH_CHARS)
    pows = F.array(*[F.lit(p).cast("long") for p in POWS])
    prods = F.zip_with(
        chars, pows,
        lambda c, p: F.coalesce(F.ascii(c).cast("long") * p,
                                F.lit(0).cast("long")),
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda a, b: a + b) % dim


def _dense_freqs(idx_arr, dim: int):
    """Hashed-index array -> dense frequency vector + trailing bias 1.0.
    Bucket counts come from ONE transform-over-sequence lambda whose
    body filters on the captured outer variable — NOT ``dim`` separate
    Python-generated filter lambdas: sibling HOF lambdas in one
    projection get colliding lambda-variable names and Spark's
    subexpression elimination then folds every bucket onto the first
    one's count (observed on 4.1: all 64 filters returned bucket 0's
    size). Map-only either way."""
    n = F.greatest(F.size(idx_arr), F.lit(1)).cast("double")
    counts = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(dim - 1).cast("long")),
        lambda i: F.size(F.filter(idx_arr, lambda v: v == i)).cast("double") / n,
    )
    return F.concat(counts, F.array(F.lit(1.0)))


def training_features(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", dim: int = DIM) -> DataFrame:
    """(doc_id, label, x): two rows per document — label 1 with the
    real word stream, label 0 with every word char-reversed. Zero-word
    documents are dropped (no trainable signal; keeps row parity with
    the SQL oracle, whose unnest produces nothing for them)."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda t: t != ""
    )
    staged = (
        docs.select(F.col(id_col).alias("doc_id"), words.alias("_words"))
        .filter(F.size("_words") > 0)
        .select(
            "doc_id",
            F.transform("_words", lambda t: hash_index(t, dim)).alias("_pi"),
            F.transform("_words",
                        lambda t: hash_index(F.reverse(t), dim)).alias("_ni"),
        )
    )
    pair = F.array(
        F.struct(F.lit(1).alias("label"),
                 _dense_freqs(F.col("_pi"), dim).alias("x")),
        F.struct(F.lit(0).alias("label"),
                 _dense_freqs(F.col("_ni"), dim).alias("x")),
    )
    return staged.select("doc_id", F.explode(pair).alias("lx")).select(
        "doc_id", F.col("lx.label").alias("label"), F.col("lx.x").alias("x")
    )


def _margin(x, weights: list[float]):
    wlit = F.array(*[F.lit(float(v)) for v in weights])
    return F.aggregate(
        F.zip_with(x, wlit, lambda a, b: a * b),
        F.lit(0.0), lambda a, b: a + b,
    )


def _sigmoid(m):
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-m))


def _gradient_partials(weights):
    """mapInPandas body: one (partial gradient, row count) row per
    Arrow batch — X.T @ (sigmoid(X w) - y) as a numpy matmul."""
    import numpy as np
    import pandas as pd

    w = np.asarray(weights, dtype=np.float64)

    def fn(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf["x"].to_numpy())
            y = pdf["label"].to_numpy(dtype=np.float64)
            p = 1.0 / (1.0 + np.exp(-(X @ w)))
            g = X.T @ (p - y)
            yield pd.DataFrame({"g": [g.tolist()], "n": [len(y)]})

    return fn


def train_logreg(feat: DataFrame, dim: int = DIM, epochs: int = EPOCHS,
                 lr: float = LEARNING_RATE) -> list[float]:
    """Full-batch gradient descent on the log loss. Each epoch is one
    pass over the (cached) feature table: every Arrow batch emits its
    partial gradient as a single numpy matmul row (the treeAggregate
    shape), and the driver sums the per-batch partials — a bounded
    materialization of ~one 65-float row per partition per epoch.

    Expressed this way rather than as dim+1 SUM columns against
    literal weights (``_train_logreg_expr``, kept as the parity oracle in
    tests/test_classifier.py) because the
    literal-weights plan re-pays ~0.3-0.4 s of Catalyst analysis +
    codegen per epoch for its 66-expression aggregate (the weights
    change every epoch, so nothing caches), which dominates the whole
    job at test scale; the mapInPandas plan is a few nodes, and the
    batch matmul is the same Arrow-kernel pattern the similarity
    family measured 2-3x faster than interpreted HOF folds.

    Single-partition fast path: when the (already right-sized) feature
    table fits in ONE partition — every corpus below the ~100k-row
    target, i.e. all test/bench scales — the whole epoch loop runs
    inside ONE task instead of launching one Python runner + collect
    round-trip per epoch (~0.3 s apiece at the bench shape, 8x). The
    task receives the same Arrow batches the per-epoch jobs would,
    computes the same per-batch partials, and sums them with the same
    ``np.sum`` over the same batch order, so the weights are
    BIT-IDENTICAL to the distributed loop (locked by
    test_training_matches_numpy_reference and the all-epochs-unrolled
    DuckDB oracle, both of which exercise this path). Multi-partition
    inputs keep the per-epoch distributed aggregation — full-batch GD
    needs a global gradient barrier between epochs."""
    import numpy as np

    if feat.rdd.getNumPartitions() == 1:
        def all_epochs(iterator):
            import numpy as np
            import pandas as pd

            batches = []
            for pdf in iterator:
                if len(pdf):
                    batches.append((
                        np.vstack(pdf["x"].to_numpy()),
                        pdf["label"].to_numpy(dtype=np.float64),
                    ))
            w = np.zeros(dim + 1)
            if batches:
                n = float(sum(len(y) for _, y in batches))
                for _ in range(epochs):
                    parts = [
                        X.T @ (1.0 / (1.0 + np.exp(-(X @ w))) - y)
                        for X, y in batches
                    ]
                    g = np.sum(parts, axis=0)
                    w = w - lr * g / n
            yield pd.DataFrame({"w": [w.tolist()]})

        row = feat.mapInPandas(all_epochs, schema="w array<double>").collect()
        return [float(v) for v in row[0]["w"]]

    w = np.zeros(dim + 1)
    for _ in range(epochs):
        parts = feat.mapInPandas(
            _gradient_partials(w), schema="g array<double>, n long"
        ).collect()
        g = np.sum([np.asarray(r["g"]) for r in parts], axis=0)
        n = float(sum(r["n"] for r in parts))
        w = w - lr * g / n
    return [float(v) for v in w]


def score_documents(feat: DataFrame, weights: list[float],
                    decimals: int = 5) -> DataFrame:
    """(doc_id, label, score, pred) per feature row — the trained
    filter's verdict. Scores rounded for cross-engine stability
    (~1e-12 double drift vs a 1e-5 grid, same convention as the
    cosine queries)."""
    p = _sigmoid(_margin(F.col("x"), weights))
    return feat.select(
        "doc_id", "label",
        F.round(p, decimals).alias("score"),
        (p > 0.5).cast("int").alias("pred"),
    )


def train_quality_classifier(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    dim: int = DIM, epochs: int = EPOCHS, lr: float = LEARNING_RATE,
) -> tuple[list[float], DataFrame]:
    """Train on the corpus, return (weights, scored DataFrame).

    The hash/HOF feature build is the dominant cost, so a corpus that
    arrives in fewer partitions than the session has cores (a 5k-row
    test parquet is ONE file -> one task) is first spread to
    ``defaultParallelism`` — the 100 TB input already has thousands of
    partitions and is left alone. Features are built ONCE, persisted
    for the ``epochs`` gradient passes, and the returned scored plan
    reads the same cache (it is released when the scored DataFrame's
    lineage is garbage-collected with the session; ~(dim+2)*8 bytes
    per document while live)."""
    import math

    sc = docs.sparkSession.sparkContext
    # count BEFORE the spread-repartition: on the raw scan this is a
    # column-pruned metadata-weight pass; after the repartition it
    # would pay the scan + shuffle just to produce a scalar
    n_rows = 2 * docs.count()
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    feat = training_features(docs, text_col, id_col, dim)
    # right-size the epoch loop: each epoch is a full pass over the
    # cached features, so partitions much smaller than ~100k rows cost
    # more in task scheduling than their matmul saves (the bench-scale
    # corpus would otherwise run 32 near-empty tasks x epochs jobs —
    # same sizing lesson as the stream state-store count); a corpus
    # big enough to need the parallelism keeps it, because the target
    # grows with the row count. repartition, NOT coalesce: a narrow
    # coalesce would run the expensive upstream feature build at the
    # collapsed width, while this shuffle moves only the dense vectors
    # (~(dim+2)*8 B/doc) and puts a stage boundary behind the build
    target = max(1, math.ceil(n_rows / 100_000))
    if target < sc.defaultParallelism:
        feat = feat.repartition(target)
    feat.persist()
    weights = train_logreg(feat, dim, epochs, lr)
    return weights, score_documents(feat, weights)
