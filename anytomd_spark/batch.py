"""Arrow-batched conversion kernel: pandas DataFrame -> pandas DataFrame.

This is the single JVM<->Python crossing of the pipeline (SURVEY.md §3.4)
and the one definition of how a turn payload is detected
(:func:`classify_formats`, the reference's ``detect_format`` priority,
detection.rs:18-48) and converted (:func:`_convert_one`, its dispatch,
lib.rs:95-209). The batch job, the stream and the fixture generator all
convert turns through :func:`convert_batch`.
"""

from __future__ import annotations

import base64 as _b64
import binascii as _ba

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

_MISSING = object()


def classify_formats(text: pd.Series, tool: pd.Series) -> pd.Series:
    """Format resolution over a batch: the one definition of the
    reference's ``detect_format`` priority (detection.rs:18-48) for turn
    payloads — base64 binary magic (``zipb64``, refined by ZIP
    introspection in :func:`_convert_one`; ``xls``) -> ``%PDF`` -> tool
    hint (``sniff.detect_by_extension`` of the stripped, lowercased hint
    with every leading dot removed) -> ``sniff.sniff_text`` (JSON
    heuristic, then markup). None when nothing matches.

    One positional Python pass. The previous pandas ``.str``-chain version
    (kept in tests/test_chaos.py as ``_classify_formats_pandas``, the
    reference for ``test_classify_loop_matches_pandas_reference``) cost
    ~7 object-dtype series passes; the loop form touches at most a
    256-char slice per unhinted row and memoizes hint normalization per
    distinct hint string.
    """
    n = len(text)
    tvals = text.to_numpy(dtype=object)
    hvals = tool.to_numpy(dtype=object)
    out: list = [None] * n
    hint_memo: dict[str, str | None] = {}
    by_ext = sniff.detect_by_extension
    sniff_text = sniff.sniff_text
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
                f = by_ext(h.strip().lstrip(".").lower())
                hint_memo[h] = f
            if f is not None:
                out[i] = f
                continue
        # 3 + 4. JSON heuristic, then markup
        out[i] = sniff_text(s)
    return pd.Series(out, index=text.index, dtype=object)


def _convert_one(
    payload: str,
    row_fmt: str | None,
    hint: str,
    strict: bool,
    kw: dict,
) -> tuple:
    """One turn -> (markdown, plain_text, title, fmt, error, n_warnings,
    warning_codes, bytes_in, chars_out): the one dispatch of a classified
    turn (the reference's lib.rs:95-209). ``hint`` is the normalized tool
    hint for code/txt/image rows and "" otherwise, as keyed by
    :func:`convert_batch`. Pure function of its arguments (for fixed
    strict / max_input_bytes), which is what makes the within-batch
    memoization in :func:`convert_batch` sound."""
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
    # code/txt/image keep the concrete extension (language tag / image
    # filename); ``hint`` is already normalized, "" for other formats
    ext = hint if hint and hint != row_fmt else row_fmt
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
            row = _convert_one(text_arr[i], row_fmt, key_hint, strict, kw)
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
