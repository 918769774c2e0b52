"""Trained quality classifier (analysis/classifier.py): hash parity,
feature correctness vs an independent numpy reference, learning
evidence (high accuracy on the real-vs-reversed signal, chance-level
on a signal-free control), determinism, and DuckDB oracle parity on
the driver's sf0.001 table."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403  (sys.path side effect)
from anytomd_spark.analysis.classifier import (  # noqa: E402
    DIM,
    EPOCHS,
    LEARNING_RATE,
    MAX_HASH_CHARS,
    POWS,
    _margin,
    _sigmoid,
    hash_index,
    score_documents,
    train_logreg,
    train_quality_classifier,
    training_features,
)
from anytomd_spark.pipeline import build_session  # noqa: E402

SF = "/root/testdata/sf0.001"


def _train_logreg_expr(feat: DataFrame, dim: int = DIM,
                       epochs: int = EPOCHS,
                       lr: float = LEARNING_RATE) -> list[float]:
    """Pure-expression twin of :func:`train_logreg` (no Python
    workers): sigmoid error against the literal current weights, then
    ``dim+2`` partially-aggregated SUM/COUNT columns collapsing to one
    driver row per epoch. The parity oracle for the Arrow path (same
    role as the HOF twins in tests/test_analysis.py)."""
    w = [0.0] * (dim + 1)
    for _ in range(epochs):
        err = (_sigmoid(_margin(F.col("x"), w))
               - F.col("label").cast("double"))
        staged = feat.select("x", err.alias("_err"))
        row = staged.agg(
            *[F.sum(F.col("_err") * F.col("x")[j]).alias(f"g{j}")
              for j in range(dim + 1)],
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        n = float(row["n"])
        w = [w[j] - lr * float(row[f"g{j}"]) / n for j in range(dim + 1)]
    return w


@pytest.fixture(scope="module")
def spark():
    s = build_session(master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def ref_hash(word: str) -> int:
    return sum(
        ord(c) * POWS[i] for i, c in enumerate(word[:MAX_HASH_CHARS])
    ) % DIM


def ref_features(text: str, reverse: bool) -> np.ndarray:
    words = [w for w in re.split("[^a-z]+", text.lower()) if w]
    if reverse:
        words = [w[::-1] for w in words]
    x = np.zeros(DIM + 1)
    for w in words:
        x[ref_hash(w)] += 1.0
    x /= max(len(words), 1)
    x[DIM] = 1.0
    return x


def ref_train(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    w = np.zeros(DIM + 1)
    for _ in range(EPOCHS):
        p = 1.0 / (1.0 + np.exp(-X @ w))
        w -= LEARNING_RATE * (X.T @ (p - y) / len(y))
    return w


class TestHashAndFeatures:
    def test_hash_matches_reference(self, spark):
        words = ["a", "the", "spark", "internationalization", "zz",
                 "partition", "x" * 30, "qrstuvwxyzab"]
        df = spark.createDataFrame([(w,) for w in words], "word string")
        got = [r["h"] for r in
               df.select(hash_index("word").alias("h")).collect()]
        assert got == [ref_hash(w) for w in words]

    def test_features_match_reference(self, spark):
        rows = [(0, "the quick brown fox"), (1, "spark shuffle spark")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        feat = {(r["doc_id"], r["label"]): np.array(r["x"])
                for r in training_features(docs).collect()}
        assert len(feat) == 4
        for did, text in rows:
            for lab in (0, 1):
                expect = ref_features(text, reverse=(lab == 0))
                np.testing.assert_allclose(
                    feat[(did, lab)], expect, atol=1e-12)

    def test_every_bucket_independent(self, spark):
        """Regression for the sibling-HOF lambda collision: a corpus
        hitting many buckets must produce that many DISTINCT nonzero
        bucket counts, not 64 copies of bucket 0's."""
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        row = training_features(docs).filter("label = 1").limit(1).collect()[0]
        x = np.array(row["x"])[:DIM]
        nz = int((x > 0).sum())
        assert 1 < nz < DIM  # some buckets hit, not all

    def test_zero_word_docs_dropped(self, spark):
        docs = spark.createDataFrame(
            [(0, "real words here"), (1, "123 456 !!!"), (2, "")],
            "doc_id long, text string",
        )
        got = training_features(docs).select("doc_id").distinct().collect()
        assert sorted(r["doc_id"] for r in got) == [0]


class TestTraining:
    @pytest.fixture(scope="class")
    def corpus_feat(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        feat = training_features(docs).persist()
        feat.count()
        yield feat
        feat.unpersist()

    def test_learns_real_vs_reversed(self, corpus_feat):
        w = train_logreg(corpus_feat)
        scored = score_documents(corpus_feat, w)
        acc = (
            scored.select(
                F.avg((F.col("pred") == F.col("label")).cast("double"))
                .alias("acc")
            ).collect()[0]["acc"]
        )
        assert acc >= 0.95

    def test_signal_free_control_stays_at_chance(self, corpus_feat):
        """Same trainer, label decoupled from the text (doc_id parity
        on the positive features only): accuracy must stay near
        chance, pinning that the learned signal is the text, not a
        plumbing artifact."""
        control = corpus_feat.filter("label = 1").select(
            "doc_id", (F.col("doc_id") % 2).cast("int").alias("label"), "x"
        )
        w = train_logreg(control)
        acc = (
            score_documents(control, w)
            .select(F.avg((F.col("pred") == F.col("label")).cast("double"))
                    .alias("acc"))
            .collect()[0]["acc"]
        )
        assert acc <= 0.65

    def test_training_matches_numpy_reference(self, spark):
        rows = [(i, t) for i, t in enumerate(
            ["alpha beta gamma", "delta epsilon zeta", "eta theta iota",
             "kappa lambda mu", "alpha delta eta kappa"]
        )]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        feat = training_features(docs)
        w = train_logreg(feat)
        X, y = [], []
        for _, text in rows:
            for lab in (1, 0):
                X.append(ref_features(text, reverse=(lab == 0)))
                y.append(float(lab))
        expect = ref_train(np.array(X), np.array(y))
        np.testing.assert_allclose(w, expect, atol=1e-9)

    def test_arrow_path_matches_expression_path(self, corpus_feat):
        """The Arrow-batched gradient (mapInPandas matmul partials)
        against the pure-expression twin: same model up to
        summation-order float noise."""
        w_arrow = train_logreg(corpus_feat)
        w_expr = _train_logreg_expr(corpus_feat)
        np.testing.assert_allclose(w_arrow, w_expr, atol=1e-9)

    def test_deterministic(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        w1, s1 = train_quality_classifier(docs)
        w2, s2 = train_quality_classifier(docs)
        assert w1 == w2
        p1 = s1.toPandas().sort_values(["doc_id", "label"]).reset_index(drop=True)
        p2 = s2.toPandas().sort_values(["doc_id", "label"]).reset_index(drop=True)
        assert p1.equals(p2)


class TestOracleParity:
    def test_duckdb_oracle_matches(self, spark):
        """The driver gate at sf0.001: per-(doc, label) scores equal to
        5 decimals between the Spark trainer and the all-epochs-unrolled
        SQL twin."""
        import duckdb

        import __spark_entry__ as entry

        sdf = (
            entry.queries()["text_classifier"](spark, SF)
            .toPandas()
            .sort_values(["doc_id", "label"])
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS "
            f"SELECT * FROM '{SF}/documents.parquet'"
        )
        odf = (
            con.execute(entry.oracle_sql()["text_classifier"])
            .df()
            .sort_values(["doc_id", "label"])
            .reset_index(drop=True)
        )
        assert len(sdf) == len(odf) > 0
        assert (sdf["pred"].to_numpy() == odf["pred"].to_numpy()).all()
        np.testing.assert_allclose(
            sdf["score"].to_numpy(), odf["score"].to_numpy(), atol=2e-5)
