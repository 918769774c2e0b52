"""Correctness gate for one ``run_pipeline`` pass, run outside the timed
region.

Checks, each reported as a problem string (an empty list means the pass
is correct):

* rows out equal rows in;
* ``turn_seq`` runs 1..n within every conversation, in ``turn_idx`` order;
* the lineage ``n_rows`` and ``n_failures`` totals equal the ``rows`` and
  ``failures`` that ``run_pipeline`` returned;
* on a seeded sample, HTML Markdown is byte-equal to the stdlib reference
  tier ``html_conv.convert_html(data, fast=False)`` and every other format
  is byte-equal to a direct ``kernels.convert.convert_bytes`` call.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from anytomd_spark.batch import classify_formats
from anytomd_spark.kernels import sniff
from anytomd_spark.kernels.convert import convert_bytes
from anytomd_spark.kernels.html_conv import convert_html

# rows byte-compared per pass; one altered cell of a 40,000-row output is
# caught with probability SAMPLE_ROWS / rows on each pass
SAMPLE_ROWS = 300
OUTPUT_COLUMNS = ["conv_id", "turn_idx", "turn_seq", "text", "tool",
                  "markdown", "fmt", "error"]


def resolve(text: str, tool: str, fmt: str | None) -> tuple[bytes, str] | None:
    """(bytes, extension) that ``batch.convert_batch`` hands to
    ``convert_bytes`` for a row classified as ``fmt``, or None when the row
    never reaches a kernel."""
    if fmt is None or fmt == "pdf":
        return None
    if fmt in ("zipb64", "xls"):
        data = sniff.maybe_base64_binary(text)
        if data is None:
            return None
        ext = sniff.detect_zip_format(data) if fmt == "zipb64" else "xls"
        return (data, ext) if ext else None
    ext = fmt
    if fmt in ("code", "txt", "image"):
        h = (tool or "").strip().lstrip(".").lower()
        if h and h != fmt:
            ext = h
    return text.encode("utf-8"), ext


def reference_markdown(data: bytes, ext: str) -> str:
    if ext in ("html", "htm"):
        return convert_html(data, fast=False)["markdown"]
    return convert_bytes(data, ext)["markdown"]


def check_rows(inp: pd.DataFrame, out: pd.DataFrame) -> list[str]:
    problems = []
    if len(out) != len(inp):
        problems.append(f"rows out {len(out)} != rows in {len(inp)}")
    keys_in = set(zip(inp["conv_id"], inp["turn_idx"]))
    keys_out = set(zip(out["conv_id"], out["turn_idx"]))
    if keys_in != keys_out:
        problems.append(
            f"{len(keys_in - keys_out)} input turns missing, "
            f"{len(keys_out - keys_in)} unexpected turns in output"
        )
    return problems


def check_turn_seq(out: pd.DataFrame) -> list[str]:
    o = out.sort_values(["conv_id", "turn_idx"], kind="stable")
    want = o.groupby("conv_id", sort=False).cumcount().to_numpy() + 1
    bad = int((o["turn_seq"].to_numpy() != want).sum())
    return [f"{bad} rows with turn_seq out of 1..n order"] if bad else []


def check_lineage(lineage: pd.DataFrame, result: dict) -> list[str]:
    problems = []
    n_rows = int(lineage["n_rows"].sum())
    n_fail = int(lineage["n_failures"].sum())
    if n_rows != result["rows"]:
        problems.append(f"lineage n_rows {n_rows} != run rows {result['rows']}")
    if n_fail != result["failures"]:
        problems.append(
            f"lineage n_failures {n_fail} != run failures {result['failures']}"
        )
    return problems


def check_sample(out: pd.DataFrame, sample_rows: int, seed: int) -> list[str]:
    """Byte-compare the Markdown of ``sample_rows`` seeded rows against the
    reference kernels."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(out), size=min(sample_rows, len(out)), replace=False)
    sample = out.iloc[np.sort(idx)]
    fmts = classify_formats(sample["text"].fillna(""), sample["tool"])
    problems = []
    for (_, row), fmt in zip(sample.iterrows(), fmts):
        where = f"{row['conv_id']}#{row['turn_idx']}"
        target = resolve(row["text"] or "", row["tool"], fmt)
        if target is None:
            continue
        try:
            want = reference_markdown(*target)
        except Exception as e:  # noqa: BLE001 - the pipeline must agree
            if row["error"] is None:
                problems.append(f"{where}: reference raised {e!r}, "
                                "pipeline returned no error")
            continue
        if row["error"] is not None:
            problems.append(f"{where}: pipeline error {row['error']!r}")
        elif row["markdown"] != want:
            problems.append(f"{where}: {target[1]} markdown differs "
                            "from the reference")
    return problems


def check_pass(inp: pd.DataFrame, out: pd.DataFrame, lineage: pd.DataFrame,
               result: dict, seed: int,
               sample_rows: int = SAMPLE_ROWS) -> list[str]:
    return (check_rows(inp, out) + check_turn_seq(out)
            + check_lineage(lineage, result)
            + check_sample(out, sample_rows, seed))


def read_output(path: str) -> pd.DataFrame:
    return pq.read_table(path, columns=OUTPUT_COLUMNS).to_pandas()


def read_lineage(path: str) -> pd.DataFrame:
    return pq.read_table(path, columns=["n_rows", "n_failures"]).to_pandas()
