"""Golden end-to-end kernel tests against the reference fixtures.

Mirrors the reference golden suite (tests/test_{html,csv,json,xml,docx,
pptx,xlsx,xls,ipynb,code,plain_text}.rs): each fixture converts and
compares normalized (tests/common/mod.rs) against the checked-in golden.
We additionally assert byte-equality where the goldens are byte-exact.
"""

from __future__ import annotations

import base64
import os

import pandas as pd
import pytest

from anytomd_spark.batch import convert_batch
from anytomd_spark.kernels.docx_conv import convert_docx
from anytomd_spark.kernels.html_conv import convert_html
from anytomd_spark.kernels.pptx_conv import convert_pptx
from anytomd_spark.kernels.simple import (
    convert_code,
    convert_csv,
    convert_ipynb,
    convert_json,
    convert_plain_text,
    convert_xml,
)
from anytomd_spark.kernels.xls_conv import convert_xls
from anytomd_spark.kernels.xlsx_conv import convert_xlsx
from tests.conftest import FIXTURES, normalize

CASES = [
    ("sample.csv", convert_csv, True),
    ("sample.json", convert_json, True),
    ("sample.xml", convert_xml, True),
    ("sample.txt", convert_plain_text, True),
    ("sample.py", lambda d: convert_code(d, "py"), True),
    ("sample.ipynb", convert_ipynb, False),  # golden has file trailing \n
    ("sample.html", convert_html, False),  # golden is line-trimmed
    ("sample.docx", convert_docx, True),
    ("sample.pptx", convert_pptx, True),
    ("sample.xlsx", convert_xlsx, True),
    ("sample.xls", convert_xls, True),
    ("sample_unicode.xls", convert_xls, True),
]


def _load(name: str) -> tuple[bytes, str]:
    with open(os.path.join(FIXTURES, name), "rb") as f:
        data = f.read()
    with open(os.path.join(FIXTURES, "expected", f"{name}.md")) as f:
        expected = f.read()
    return data, expected


@pytest.mark.parametrize("name,fn,byte_exact", CASES, ids=[c[0] for c in CASES])
def test_golden(name, fn, byte_exact):
    data, expected = _load(name)
    result = fn(data)
    assert normalize(result["markdown"]) == normalize(expected)
    if byte_exact:
        assert result["markdown"] == expected


def test_golden_titles():
    assert convert_html(_load("sample.html")[0])["title"] == "Sample HTML Document"
    assert convert_docx(_load("sample.docx")[0])["title"] == "Sample Document"
    assert convert_pptx(_load("sample.pptx")[0])["title"] == "Sample Presentation"
    assert convert_ipynb(_load("sample.ipynb")[0])["title"] == "Sample Notebook"


# ---- dispatcher end-to-end over payload strings (the pipeline entry) ----

_BINARY = {"sample.docx", "sample.pptx", "sample.xlsx", "sample.xls",
           "sample_unicode.xls"}


def _dispatch(payload: str, hint: str | None, **kw):
    """One turn through the production kernel (``convert_batch``)."""
    out = convert_batch(
        pd.DataFrame([(payload, hint)], columns=["text", "tool"]), **kw
    )
    return next(out.itertuples())


@pytest.mark.parametrize("name,fn,byte_exact", CASES, ids=[c[0] for c in CASES])
def test_dispatch_payload(name, fn, byte_exact):
    data, expected = _load(name)
    if name in _BINARY:
        payload = base64.b64encode(data).decode("ascii")
        hint = None  # binary formats are sniffed from base64 magic
    else:
        payload = data.decode("utf-8")
        hint = name.rsplit(".", 1)[-1]
    out = _dispatch(payload, hint)
    assert out.error is None, out.error
    assert normalize(out.markdown) == normalize(expected)
    assert out.chars_out == len(out.markdown)


def test_dispatch_pdf_rejected():
    out = _dispatch("%PDF-1.4 fake", "pdf")
    assert out.fmt == "pdf"
    assert out.error is not None and "unsupported" in out.error


def test_dispatch_unknown_format():
    out = _dispatch("hello world", None)
    assert out.fmt is None
    assert out.error is not None


def test_dispatch_json_heuristic_no_hint():
    out = _dispatch('  {"b": 1, "a": 2}', None)
    assert out.fmt == "json"
    assert '"a": 2' in out.markdown


def test_dispatch_html_sniff_no_hint():
    out = _dispatch("<html><body><h1>Hi</h1></body></html>", None)
    assert out.fmt == "html"
    assert out.markdown == "# Hi\n"


def test_dispatch_strict_mode():
    # cp1252 payload decodes with a warning -> strict converts it to error
    payload = b"Name,City\nAlice,Montr\xe9al\n".decode("cp1252")
    ok = _dispatch(payload, "csv", strict=False)
    assert ok.error is None
    # the payload re-encodes to valid UTF-8, so no warning fires here; strict
    # semantics are exercised at the bytes level instead
    from anytomd_spark.kernels.convert import convert_bytes
    from anytomd_spark.kernels.simple import MalformedDocument
    try:
        convert_bytes(b"Name,City\nAlice,Montr\xe9al\n", "csv", strict=True)
        raise AssertionError("strict mode should have raised")
    except MalformedDocument as e:
        assert "strict mode" in str(e)
