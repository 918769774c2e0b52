"""Driver-contract emulation: run every queries() entry at sf0.01 and
compare against its oracle_sql() twin via DuckDB (row count + sorted
order-insensitive values), the same check CORRECTNESS_r{N}.json records."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from anytomd_spark.pipeline import build_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def spark():
    s = build_session(master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _normalize_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return str(v)


def _canon(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_normalize_cell(r[i]) for i in order) for r in rows]
    return sorted(out), [columns[i] for i in order]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "conv_id"
    failures = [r for r in rows if r.error is not None]
    assert not failures, failures[:3]


ORACLES = entrymod.oracle_sql()
ALL_QUERIES = entrymod.queries()


def _dtype_kind(dt) -> str:
    """Coarse dtype class for driver-hash compatibility: the driver's
    value hash is dtype-sensitive for object-boxed values (e.g. DuckDB
    HUGEINT -> object of Python ints vs Spark BIGINT -> int64), so flag
    any column whose pandas dtype kind diverges between the two engines."""
    k = dt.kind
    return "i" if k == "u" else k


@pytest.mark.parametrize("name", sorted(ORACLES), ids=sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    q = ALL_QUERIES[name]
    sdf = q(spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    spark_rows = [tuple(r) for r in spark_pdf.itertuples(index=False)]
    spark_cols = list(spark_pdf.columns)

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    duck_pdf = duck.execute(ORACLES[name]).fetchdf()
    for col in spark_cols:
        if col in duck_pdf.columns and len(spark_pdf) and len(duck_pdf):
            sk = _dtype_kind(spark_pdf[col].dtype)
            dk = _dtype_kind(duck_pdf[col].dtype)
            assert sk == dk, (
                f"{name}.{col}: pandas dtype kind differs "
                f"(spark {spark_pdf[col].dtype} vs duckdb {duck_pdf[col].dtype})"
                " — the driver's value hash will mismatch; cast in the oracle"
            )

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    s_canon, cols = _canon(spark_rows, spark_cols)
    d_canon, _ = _canon(duck_rows, duck_cols)
    assert len(s_canon) == len(d_canon), (
        f"{name}: row count {len(s_canon)} vs {len(d_canon)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_canon, d_canon) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]} cols={cols}"


ROWS_ONLY = sorted(set(ALL_QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", ROWS_ONLY, ids=ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    sdf = ALL_QUERIES[name](spark, SF_DIR)
    n = sdf.count()
    assert n >= 0
    if name in ("text_fingerprints", "media_features", "sim_ann_lsh"):
        assert n > 0


def test_signature_cache_follows_the_code_token(spark, tmp_path, monkeypatch):
    """A signature table lands under the source-derived token and the
    oracle's alias path points at it. Under a new token (changed source)
    the table is written again and the alias follows; the oracle SQL
    reads the alias, never the token."""
    monkeypatch.setattr(entrymod, "ORACLE_INPUTS", str(tmp_path))
    sf, kind = "/data/sf0.01", "simhash_sigs"
    alias = entrymod._oracle_alias(kind, sf)
    # a table an older checkout wrote straight under the alias name
    os.makedirs(alias)
    open(os.path.join(alias, "_SUCCESS"), "w").close()

    def rows_via_alias():
        return duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{alias}/*.parquet')"
        ).fetchone()[0]

    first = entrymod._write_sig_once(spark.range(3), kind, sf)
    assert first == entrymod._sig_path(kind, sf) != alias
    assert first.endswith("_" + entrymod._code_token())
    assert os.path.realpath(alias) == first and rows_via_alias() == 3
    # same token: the complete table is reused, not rewritten
    assert entrymod._write_sig_once(spark.range(5), kind, sf) == first
    assert rows_via_alias() == 3

    monkeypatch.setattr(entrymod, "_code_token", lambda: "0123456789")
    second = entrymod._write_sig_once(spark.range(5), kind, sf)
    assert second == f"{tmp_path}/{kind}_sf0.01_0123456789"
    assert os.path.realpath(alias) == second and rows_via_alias() == 5
    # the earlier token's table is deleted once the new one is complete
    assert sorted(os.listdir(tmp_path)) == sorted(
        os.path.basename(p) for p in (alias, second)
    )

    oracle = entrymod.oracle_sql()["dedup_simhash"]
    assert entrymod._oracle_alias(kind, entrymod._CORRECTNESS_SF) in oracle
    assert "0123456789" not in oracle


def test_stream_input_drops_earlier_token_directories(spark, tmp_path,
                                                      monkeypatch):
    """Writing a stream input under the current token deletes the inputs
    earlier tokens left beside it (the pinned-token name included) and
    nothing of another kind or scale factor."""
    monkeypatch.setattr(entrymod, "ORACLE_INPUTS", str(tmp_path))
    planted = ("stream_metrics_sf0.01_4cd376545b",
               "stream_metrics_sf0.01_ea4b64158f")
    kept = ("stream_metrics_sf0.1_4cd376545b",
            "stream_qualgate_sf0.01_4cd376545b",
            "simhash_sigs_sf0.01_4cd376545b", "stream_metrics_sf0.01_notes")
    for name in planted + kept:
        os.makedirs(tmp_path / name)
        open(tmp_path / name / "_SUCCESS", "w").close()
    path = entrymod._stream_input_once(spark.range(4), "metrics",
                                       "/data/sf0.01", n_files=1)
    assert path == entrymod._sig_path("stream_metrics", "/data/sf0.01")
    assert sorted(os.listdir(tmp_path)) == sorted(
        (os.path.basename(path),) + kept)
