"""Arrow-batched conversion kernel: pandas DataFrame -> pandas DataFrame.

This is the single JVM<->Python crossing of the pipeline (SURVEY.md §3.4).
Format resolution is vectorized with pandas string ops over the whole batch
(the reference's per-file ``detect_format`` priority, detection.rs:18-48,
re-expressed as column masks); the per-format kernels then run over each
format's sub-frame. No per-row Python dispatch happens on the driver.
"""

from __future__ import annotations

import base64 as _b64
import binascii as _ba
import re as _re

import numpy as np
import pandas as pd

from anytomd_spark.kernels import sniff
from anytomd_spark.kernels.convert import convert_bytes

OUTPUT_FIELDS = [
    ("markdown", "string"),
    ("plain_text", "string"),
    ("title", "string"),
    ("fmt", "string"),
    ("error", "string"),
    ("n_warnings", "int32"),
    ("warning_codes", "object"),  # list[str]
    ("bytes_in", "int64"),
    ("chars_out", "int64"),
]

OUTPUT_SPARK_SCHEMA = (
    "markdown string, plain_text string, title string, fmt string, "
    "error string, n_warnings int, warning_codes array<string>, "
    "bytes_in long, chars_out long"
)

# tool-column hint -> format, precomputed from the detection tables
_HINT_TO_FMT: dict[str, str] = {}
for _ext in list(sniff.CODE_EXTS):
    _HINT_TO_FMT[_ext] = "code"
for _ext in ("html", "htm"):
    _HINT_TO_FMT[_ext] = "html"
for _ext in ("docx", "pptx", "xlsx", "xls", "csv", "ipynb", "json", "pdf", "xml"):
    _HINT_TO_FMT[_ext] = _ext
for _ext in ("txt", "text", "log", "md", "markdown", "rst", "ini", "cfg",
             "conf", "toml", "yaml", "yml"):
    _HINT_TO_FMT[_ext] = "txt"
for _ext in sniff._IMAGE_EXTS:
    _HINT_TO_FMT[_ext] = "image"


_WS_SET = frozenset(" \t\r\n\x0b\x0c")
_MARKUP_RE = _re.compile(
    r"<head|<body|<div|<p>|<p |<table|<h1|<ul|<span|<br"
)
_MISSING = object()


def classify_formats(text: pd.Series, tool: pd.Series) -> pd.Series:
    """Format resolution over a batch (detection priority: base64 binary
    magic -> %PDF -> tool hint -> JSON heuristic -> markup).

    One positional Python pass. The previous pandas ``.str``-chain version
    (kept in tests/test_chaos.py as ``_classify_formats_pandas``, the
    reference for ``test_classify_loop_matches_pandas_reference``) cost
    ~7 object-dtype series passes — each a per-row lambda map — plus
    full-string ``lstrip`` copies of megabyte payloads on the
    JSON-heuristic step; the loop form touches at most a 256-char slice
    per unhinted row and memoizes hint normalization per distinct hint
    string.
    """
    n = len(text)
    tvals = text.to_numpy(dtype=object)
    hvals = tool.to_numpy(dtype=object)
    out: list = [None] * n
    hint_memo: dict[str, str | None] = {}
    hint_get = _HINT_TO_FMT.get
    ws = _WS_SET
    search = _MARKUP_RE.search
    for i in range(n):
        s = tvals[i]
        if not isinstance(s, str):  # None/NaN -> "" (fillna semantics)
            s = ""
        # 1. magic prefixes (first chars are mutually exclusive)
        c0 = s[:1]
        if c0 == "U":
            if s.startswith("UEsDB"):
                out[i] = "zipb64"  # refined per-row (ZIP introspection)
                continue
        elif c0 == "0":
            if s.startswith("0M8R"):
                out[i] = "xls"
                continue
        elif c0 == "%":
            if s.startswith("%PDF"):
                out[i] = "pdf"
                continue
        # 2. tool hint
        h = hvals[i]
        if isinstance(h, str) and h:
            f = hint_memo.get(h, _MISSING)
            if f is _MISSING:
                f = hint_get(h.strip().lstrip(".").lower())
                hint_memo[h] = f
            if f is not None:
                out[i] = f
                continue
        # 3. JSON heuristic: first non-ws char (skipping one BOM) is { or [
        j = 0
        ln = len(s)
        seen_bom = False
        while j < ln:
            ch = s[j]
            if ch in ws:
                j += 1
            elif ch == "﻿" and not seen_bom:
                seen_bom = True
                j += 1
            else:
                break
        if j < ln:
            ch = s[j]
            if ch == "{" or ch == "[":
                out[i] = "json"
                continue
        # 4. markup fallback over the 256-char lowered prefix (BOM kept:
        # only ASCII whitespace lstrips, matching the reference heuristic)
        k = 0
        while k < ln and s[k] in ws:
            k += 1
        low = s[k:k + 256].lower()
        if (low.startswith("<!doctype html") or low.startswith("<html")
                or search(low)):
            out[i] = "html"
        elif low.startswith("<?xml") or (low.startswith("<") and ">" in low):
            out[i] = "xml"
    return pd.Series(out, index=text.index, dtype=object)


def _convert_one(
    payload: str,
    row_fmt: str | None,
    hint: str,
    strict: bool,
    kw: dict,
) -> tuple:
    """One turn -> (markdown, plain_text, title, fmt, error, n_warnings,
    warning_codes, bytes_in, chars_out). Pure function of its arguments
    (for fixed strict / max_input_bytes), which is what makes the
    within-batch memoization in :func:`convert_batch` sound."""
    if row_fmt is None:
        return (None, None, None, None, "unsupported format",
                0, None, len(payload.encode("utf-8")), 0)
    data = None
    if row_fmt == "image":
        # image payloads may arrive base64-encoded (like the binary
        # formats) — decode for magic-based mime sniffing if possible
        try:
            data = _b64.b64decode(payload, validate=True)
        except (_ba.Error, ValueError):
            data = None
    elif row_fmt in ("zipb64", "xls") and (
        payload.startswith("UEsDB") or payload.startswith("0M8R")
    ):
        data = sniff.maybe_base64_binary(payload)
        if data is None:
            return (None, None, None, None,
                    "invalid base64 binary payload",
                    0, None, len(payload.encode("utf-8")), 0)
        if row_fmt == "zipb64":
            row_fmt = sniff.detect_zip_format(data)
            if row_fmt is None:
                return (None, None, None, "zip",
                        "unsupported format: unrecognized ZIP",
                        0, None, len(data), 0)
    if data is None:
        data = payload.encode("utf-8")
    n_bytes = len(data)
    if row_fmt == "pdf":
        return (None, None, None, "pdf", "unsupported format: pdf",
                0, None, n_bytes, 0)
    ext = row_fmt
    if row_fmt in ("code", "txt", "image"):
        # keep the concrete extension (language tag / image filename)
        h = hint.strip().lstrip(".").lower()
        if h and h != row_fmt:
            ext = h
    try:
        result = convert_bytes(data, ext, strict=strict, **kw)
    except Exception as e:  # noqa: BLE001 best-effort row semantics
        return (None, None, None, row_fmt, f"{type(e).__name__}: {e}",
                0, None, n_bytes, 0)
    warns = result["warnings"]
    return (result["markdown"], result["plain_text"], result["title"],
            row_fmt, None, len(warns),
            [w["code"] for w in warns] if warns else None,
            n_bytes, len(result["markdown"]))


def convert_batch(
    pdf: pd.DataFrame,
    strict: bool = False,
    max_input_bytes: int | None = None,
) -> pd.DataFrame:
    """Convert a batch of turns. Requires ``text`` and ``tool`` columns;
    passthrough columns are preserved. Never raises on a row."""
    n = len(pdf)
    text = pdf["text"].astype(object).fillna("")
    tool = pdf.get("tool", pd.Series([""] * n, index=pdf.index))

    fmt = classify_formats(text, tool)

    markdown = np.full(n, None, dtype=object)
    plain = np.full(n, None, dtype=object)
    title = np.full(n, None, dtype=object)
    error = np.full(n, None, dtype=object)
    n_warnings = np.zeros(n, dtype=np.int32)
    warning_codes = np.full(n, None, dtype=object)
    bytes_in = np.zeros(n, dtype=np.int64)
    chars_out = np.zeros(n, dtype=np.int64)
    out_fmt = np.full(n, None, dtype=object)

    text_arr = text.to_numpy(dtype=object)
    fmt_arr = fmt.to_numpy(dtype=object)
    hints_arr = tool.fillna("").astype(str).to_numpy(dtype=object)

    # Within-batch content memoization: convert_bytes is a pure function
    # of (payload, format, hint) for fixed strict/max_input_bytes, so a
    # batch that repeats a payload (boilerplate attachments, templated
    # documents — extremely common in real corpora) converts each
    # distinct one ONCE. Scope is a single Arrow batch: no cross-batch
    # state, deterministic, and the overhead when every payload is
    # unique is one dict probe per row. Differential-locked against the
    # unmemoized path in tests/test_chaos.py::TestBatchMemoization.
    memo: dict[tuple, tuple] = {}
    kw = {} if max_input_bytes is None else {
        "max_input_bytes": max_input_bytes
    }

    for i in range(n):
        row_fmt = fmt_arr[i]
        # the hint only affects output for code/txt/image (language tag /
        # image filename), and only in normalized form — key on exactly
        # that so 'txt' vs '.TXT' copies (or hint variants on formats
        # that ignore the hint) still collapse to one conversion
        h = hints_arr[i]
        key_hint = (h.strip().lstrip(".").lower()
                    if row_fmt in ("code", "txt", "image") else "")
        key = (row_fmt, key_hint, text_arr[i])
        row = memo.get(key)
        if row is None:
            row = _convert_one(text_arr[i], row_fmt, h, strict, kw)
            memo[key] = row
        (markdown[i], plain[i], title[i], out_fmt[i], error[i],
         n_warnings[i], warning_codes[i], bytes_in[i], chars_out[i]) = row

    # shallow copy: the passthrough columns are read-only here and the
    # input frame is an Arrow-batch temporary — deep-copying object
    # columns measured ~1% of batch CPU for no aliasing benefit
    out = pdf.copy(deep=False)
    out["markdown"] = markdown
    out["plain_text"] = plain
    out["title"] = title
    out["fmt"] = out_fmt
    out["error"] = error
    out["n_warnings"] = n_warnings
    out["warning_codes"] = warning_codes
    out["bytes_in"] = bytes_in
    out["chars_out"] = chars_out
    return out
