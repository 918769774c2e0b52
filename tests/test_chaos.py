"""Best-effort semantics under corrupt input: every malformed payload
becomes a per-row ``error`` (lib.rs:211-231 generalized) — the Spark job
itself never fails, and valid rows in the same batch still convert."""

from __future__ import annotations

import base64

import pandas as pd
import pytest

from anytomd_spark.batch import convert_batch
from anytomd_spark.kernels import sniff
from anytomd_spark.kernels.convert import convert_bytes
from anytomd_spark.kernels.ooxml import InputTooLarge


def _zip_bytes(members: dict[str, str | bytes]) -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, body in members.items():
            zf.writestr(name, body)
    return buf.getvalue()


def _convert_rows(rows, **kw) -> pd.DataFrame:
    """(text, tool) rows through the production kernel."""
    return convert_batch(pd.DataFrame(rows, columns=["text", "tool"]), **kw)


# (name, payload, hint, pinned fmt, pinned error prefix)
CORRUPT_CASES = [
    ("truncated-zip-docx", base64.b64encode(b"PK\x03\x04garbage").decode(), "",
     "zip", "unsupported format: unrecognized ZIP"),
    ("truncated-ole-xls", base64.b64encode(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 64).decode(), "",
     "xls", "error: "),
    ("invalid-json", '{"unterminated": ', "json",
     "json", "MalformedDocument: invalid JSON"),
    ("invalid-xml", "<a><b></a>", "xml",
     "xml", "MalformedDocument: invalid XML"),
    ("empty-xml", "   ", "xml", "xml", "MalformedDocument: empty XML input"),
    ("pdf", "%PDF-1.7 binary", "pdf", "pdf", "unsupported format: pdf"),
    ("invalid-ipynb", '{"cells": "not-a-list"}', "ipynb",
     "ipynb", "MalformedDocument: notebook missing"),
    ("bad-base64-zip", "UEsDB!!!not-base64!!!", "",
     None, "invalid base64 binary payload"),
    # a well-formed ZIP with no OOXML part
    ("unrecognized-zip",
     base64.b64encode(_zip_bytes({"notes/readme.txt": "hi"})).decode(), "",
     "zip", "unsupported format: unrecognized ZIP"),
    # binary magic outranks the hint, and an undecodable body stays an error
    ("bad-base64-zip-txt-hint", "UEsDB!!!not-base64!!!", "txt",
     None, "invalid base64 binary payload"),
    ("pdf-txt-hint", "%PDF-1.7 binary", "txt",
     "pdf", "unsupported format: pdf"),
    ("unknown-hint", "hello world", "xyz", None, "unsupported format"),
]


@pytest.mark.parametrize("name,payload,hint,fmt,error", CORRUPT_CASES,
                         ids=[c[0] for c in CORRUPT_CASES])
def test_corrupt_payload_yields_error_row(name, payload, hint, fmt, error):
    out = _convert_rows([(payload, hint)])
    assert out["error"][0] is not None, name
    assert out["error"][0].startswith(error), out["error"][0]
    assert out["fmt"][0] == fmt
    assert out["markdown"][0] is None
    assert out["chars_out"][0] == 0


def test_batch_mixes_good_and_bad_rows():
    rows = [
        ("c", 0, "user", "# fine markdown", "md", None),
        ("c", 1, "user", '{"bad": ', "json", None),
        ("c", 2, "user", "col\nv\n", "csv", None),
        ("c", 3, "user", base64.b64encode(b"PK\x03\x04junk").decode(), "", None),
        ("c", 4, "user", "<r><x>ok</x></r>", "xml", None),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    out = convert_batch(pdf)
    errors = out["error"].tolist()
    assert errors[0] is None and out["markdown"][0] == "# fine markdown"
    assert errors[1] is not None
    assert errors[2] is None and "| col |" in out["markdown"][2]
    assert errors[3] is not None
    assert errors[4] is None and "```xml" in out["markdown"][4]
    # metrics reflect the split
    assert out["chars_out"][1] == 0
    assert out["bytes_in"].tolist()[0] > 0


def test_encoding_fallback_payloads():
    # cp1252-ish content arrives as a str already (Spark string column);
    # at the bytes level the decoder falls back with a warning
    out = _convert_rows([
        ("Name,City\nAlice,Montréal\n", "csv"),
        # UTF-16LE BOM carried via base64? Not a ZIP/OLE magic -> treated
        # as opaque text; the txt path passes it through unchanged
        ("plain text with BOM \ufeff inside", "txt"),
    ])
    assert out["error"].isna().all()
    assert "Montréal" in out["markdown"][0]


def test_huge_payload_rejected_by_size_guard():
    out = _convert_rows([("x" * 1000, "txt")], max_input_bytes=100)
    assert out["fmt"][0] == "txt" and out["bytes_in"][0] == 1000
    assert out["error"][0].startswith("InputTooLarge: ")
    assert "exceeds limit" in out["error"][0]


def test_zip_budget_guard():
    # the ZIP budget lives in convert_bytes (the batch kernel keeps its
    # default); the declared uncompressed size alone trips it
    data = _zip_bytes({"word/document.xml": "A" * 100_000})  # compresses tiny
    with pytest.raises(InputTooLarge, match="exceeds limit"):
        convert_bytes(data, "docx", max_zip_bytes=1000)

def test_adversarial_zip_rejected_without_decompression():
    """A 256 MB-uncompressed / ~KB-file zip bomb must be rejected from the
    central directory alone (TECH_SPEC.md:842 'abort ZIP-based parsing if
    uncompressed size exceeds budget'): the rejection has to be near-
    instant — decompressing first would take seconds and 256 MB of RAM."""
    import time

    data = _zip_bytes({"word/document.xml": b"\x00" * (256 << 20)})
    assert len(data) < (1 << 20)  # ~250KB file claiming 256MB

    t0 = time.perf_counter()
    with pytest.raises(InputTooLarge, match="exceeds limit"):
        convert_bytes(data, "docx", max_zip_bytes=64 << 20)
    dt = time.perf_counter() - t0
    assert dt < 0.5, f"rejection took {dt:.2f}s — central dir not used?"


def test_near_limit_turn_in_memory_capped_worker():
    """A turn near max_input_bytes through the Arrow-batch kernel (what a
    Spark Python worker executes under mapInPandas) inside an
    RLIMIT_AS-capped subprocess: the conversion must succeed and its
    marginal peak RSS must stay within the batch-level 6.5x bound
    (TECH_SPEC.md:836's 4x is a single-document target; the batch holds
    input + both outputs — see scripts/memory_probe.py)."""
    import json
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent("""
        import json, resource, sys
        resource.setrlimit(resource.RLIMIT_AS, (2 << 30, 2 << 30))
        import pandas as pd
        from anytomd_spark.batch import convert_batch

        def vm_hwm_kb():
            with open("/proc/self/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
            return 0

        n_bytes = 24 << 20  # near a 32MB max_input_bytes ceiling
        body = "<p>chunk of body text for the memory probe</p>" * 512
        html = ("<html><body>" + body * (n_bytes // len(body))
                + "</body></html>")
        rows = [("c", 0, "user", html, "html", None)]
        rows += [("c", i, "user", f"turn {i} text", "txt", None)
                 for i in range(1, 64)]
        pdf = pd.DataFrame(rows, columns=[
            "conv_id", "turn_idx", "role", "text", "tool", "ts"])
        base_kb = vm_hwm_kb()
        out = convert_batch(pdf, max_input_bytes=32 << 20)
        peak_kb = vm_hwm_kb()
        print(json.dumps({
            "errors": int(out["error"].notna().sum()),
            "rows": len(out),
            "chars_out": int(out["chars_out"][0]),
            "input_mb": len(html) / 1048576,
            "marginal_peak_mb": (peak_kb - base_kb) / 1024,
        }))
    """)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rep = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rep["errors"] == 0 and rep["rows"] == 64
    assert rep["chars_out"] > 1 << 20
    # batch-level bound: the Arrow batch model holds input + markdown +
    # plain_text concurrently resident (~3x floor for 1:1 formats);
    # walker transients + parser buffer make up the rest. The single-doc
    # OOXML kernels meet the reference's strict 4x — see
    # scripts/memory_probe.py / BENCH/BASELINE.md.
    assert rep["marginal_peak_mb"] <= 6.5 * rep["input_mb"], rep


def test_batch_image_hint_dispatch():
    """tool='png' dispatches to the image converter, which emits the
    reference's empty-alt stub."""
    png = base64.b64encode(
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 16
    ).decode()
    pdf = pd.DataFrame(
        [("c", 0, "user", png, "png", None),
         ("c", 1, "user", "not-even-base64", "jpg", None)],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    out = convert_batch(pdf)
    assert out["error"][0] is None
    assert out["markdown"][0] == "![](image.png)\n"
    assert out["fmt"][0] == "image"
    # junk payload with image hint: filename comes from magic ONLY
    # (image.rs passes the literal name "image" — hints never name it)
    assert out["error"][1] is None
    assert out["markdown"][1] == "![](image)\n"


def test_batch_max_input_bytes_threaded():
    pdf = pd.DataFrame(
        [("c", 0, "user", "x" * 1000, "txt", None)],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    out = convert_batch(pdf, max_input_bytes=100)
    assert out["error"][0] is not None and "exceeds limit" in out["error"][0]
    ok = convert_batch(pdf)
    assert ok["error"][0] is None


def test_batch_strict_mode_threaded():
    # cp1252 fallback emits a warning -> strict turns it into a row error
    latin1 = base64.b64encode("caf\xe9,x\n1,2\n".encode("cp1252")).decode()
    pdf = pd.DataFrame(
        [("c", 0, "user", "ok", "txt", None)],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    out = convert_batch(pdf, strict=True)
    assert out["error"][0] is None  # warning-free row unaffected


class TestImageConverterParity:
    """ImageConverter default-path parity (image.rs:41-146 + its tests)."""

    PNG = b"\x89PNG\r\n\x1a\n" + b"\x00" * 8
    JPEG = b"\xff\xd8\xff\xe0\x00\x10JF"

    def test_png_no_describer(self):
        from anytomd_spark.kernels.convert import convert_image
        out = convert_image(self.PNG)
        assert out["markdown"] == "![](image.png)\n"
        assert out["plain_text"] == "\n"
        assert out["warnings"] == []

    def test_jpeg_filename(self):
        from anytomd_spark.kernels.convert import convert_image
        assert convert_image(self.JPEG)["markdown"] == "![](image.jpg)\n"

    def test_unknown_magic_plain_filename(self):
        from anytomd_spark.kernels.convert import convert_image
        assert convert_image(b"not an image")["markdown"] == "![](image)\n"

    def test_oversized_image_warning(self):
        from anytomd_spark.kernels.convert import convert_image
        out = convert_image(self.PNG, max_image_bytes=4)
        assert out["markdown"] == "" and out["plain_text"] == ""
        (w,) = out["warnings"]
        assert w["code"] == "ResourceLimitReached"
        assert "exceeds limit (4)" in w["message"]
        assert w["location"] == "image.png"

    def test_describer_sets_alt(self):
        from anytomd_spark.kernels.convert import convert_image
        out = convert_image(
            self.PNG, describer=lambda d, m, p: "A tiny png"
        )
        assert out["markdown"] == "![A tiny png](image.png)\n"
        assert out["plain_text"] == "A tiny png\n"

    def test_describer_failure_falls_back(self):
        from anytomd_spark.kernels.convert import convert_image

        def boom(d, m, p):
            raise RuntimeError("llm down")

        out = convert_image(self.PNG, describer=boom)
        assert out["markdown"] == "![](image.png)\n"
        (w,) = out["warnings"]
        assert w["code"] == "SkippedElement"
        assert "image description failed for 'image.png'" in w["message"]


def _classify_formats_pandas(text: pd.Series, tool: pd.Series) -> pd.Series:
    """Reference implementation of ``batch.classify_formats`` (the original
    vectorized pandas form), retained ONLY as the differential-test oracle
    of ``TestBatchMemoization.test_classify_loop_matches_pandas_reference``."""
    n = len(text)
    # work on a RangeIndex internally: the masked-subset passes below
    # assign BY LABEL, which would over-assign under duplicate index
    # labels (e.g. a concat'ed frame); the caller's index is restored
    # on return
    orig_index = text.index
    t = text.fillna("").reset_index(drop=True)
    tool = tool.reset_index(drop=True)
    fmt = pd.Series([None] * n, dtype=object)

    # 1. magic prefixes
    is_zip = t.str.startswith("UEsDB")
    is_ole = t.str.startswith("0M8R")
    is_pdf = t.str.startswith("%PDF")
    fmt[is_zip] = "zipb64"  # refined per-row below (needs ZIP introspection)
    fmt[is_ole] = "xls"
    fmt[is_pdf & fmt.isna()] = "pdf"

    # 2. tool hint
    hints = tool.fillna("").str.strip().str.lstrip(".").str.lower()
    hinted = hints.map(sniff.detect_by_extension)
    take_hint = fmt.isna() & hinted.notna()
    fmt[take_hint] = hinted[take_hint]

    # steps 3-4 run ONLY over still-unresolved rows: hinted batches skip
    # the (object-dtype-expensive) lstrip/lower/regex passes entirely
    todo = fmt.isna()
    if not todo.any():
        fmt.index = orig_index
        return fmt
    sub = t[todo]

    # 3. JSON heuristic: first non-ws char is { or [
    head = sub.str.replace("﻿", "", n=1).str.lstrip(" \t\r\n\x0b\x0c").str[:1]
    fmt[head.index[head.isin(("{", "["))]] = "json"

    # 4. markup fallback for hint-less turns
    sub = t[fmt.isna()]
    low = sub.str.lstrip(" \t\r\n\x0b\x0c").str[:256].str.lower()
    html_like = (
        low.str.startswith("<!doctype html")
        | low.str.startswith("<html")
        | low.str.contains(
            r"<(?:head|body|div|p|table|h1|ul|span|br)[\s>/]",
            regex=True,
        )
    )
    fmt[low.index[html_like]] = "html"
    sub = low[~html_like]
    xml_like = sub.str.startswith("<?xml") | (
        sub.str.startswith("<") & sub.str.contains(">", regex=False)
    )
    fmt[sub.index[xml_like]] = "xml"
    fmt.index = orig_index
    return fmt


class TestBatchMemoization:
    """convert_batch converts each distinct (fmt, hint, payload) ONCE per
    batch; the memoized output must be row-identical to an unmemoized
    per-row evaluation (soundness: _convert_one is a pure function)."""

    MIXED_ROWS = [
        ("plain words here", "txt"),
        ("plain words here", "txt"),          # dup
        ("print('x')", "py"),
        ("print('x')", "py"),                 # dup
        ("<html><body><p>a</p></body></html>", ""),
        ("<html><body><p>a</p></body></html>", ""),  # dup
        ('{"k": 1}', "json"),
        ("%PDF-1.7 binary", "pdf"),
        ("%PDF-1.7 binary", "pdf"),           # dup error row
        ("UEsDB!!!not-base64!!!", ""),
        ("UEsDB!!!not-base64!!!", ""),        # dup bad-b64 error row
        (None, ""),
        ("unique one", "txt"),
        ("plain words here", "md"),           # same text, DIFFERENT hint
        (None, None),                         # null payload, null tool
        ("<p>shared</p>", None),              # null tool
        ("<p>shared</p>", None),              # dup under a null tool
    ]

    def _unmemoized(self, pdf):
        from anytomd_spark import batch as B
        fmt = B.classify_formats(
            pdf["text"].astype(object).fillna(""), pdf["tool"]
        )
        # _convert_one takes the normalized hint for code/txt/image rows
        # and "" otherwise
        rows = [
            B._convert_one(
                t if t is not None else "", f,
                h.strip().lstrip(".").lower()
                if f in ("code", "txt", "image") else "",
                False, {},
            )
            for t, f, h in zip(
                pdf["text"].fillna(""), fmt, pdf["tool"].fillna("")
            )
        ]
        return rows

    def test_memoized_equals_unmemoized(self):
        from anytomd_spark.batch import OUTPUT_FIELDS
        pdf = pd.DataFrame(self.MIXED_ROWS, columns=["text", "tool"])
        out = convert_batch(pdf)
        expected = self._unmemoized(pdf)
        names = [f for f, _ in OUTPUT_FIELDS]
        got = list(zip(*(out[c].tolist() for c in names)))
        # normalize numpy scalars for comparison
        got = [tuple(x.item() if hasattr(x, "item") else x for x in r)
               for r in got]
        # _convert_one's tuple order matches OUTPUT_FIELDS exactly
        assert got == [tuple(r) for r in expected]

    def test_each_distinct_payload_converted_once(self, monkeypatch):
        import anytomd_spark.batch as B
        calls = []
        real = B.convert_bytes

        def counting(data, ext, **kw):
            calls.append((ext, bytes(data)))
            return real(data, ext, **kw)

        monkeypatch.setattr(B, "convert_bytes", counting)
        pdf = pd.DataFrame(self.MIXED_ROWS, columns=["text", "tool"])
        convert_batch(pdf)
        assert len(calls) == len(set(calls))
        # 17 rows, but only the distinct convertible keys hit the kernel
        assert len(calls) == 7

    def test_memo_keys_include_hint(self):
        # same payload under txt vs md hints: both dispatch as plain text
        # (md IS txt family) but via different keys — outputs still equal
        pdf = pd.DataFrame(
            [("same body", "txt"), ("same body", "md")],
            columns=["text", "tool"],
        )
        out = convert_batch(pdf)
        assert out["markdown"][0] == out["markdown"][1] == "same body"

    def test_duplicate_index_labels_stay_rowwise(self):
        # concat'ed frames carry duplicate index labels; classification
        # and conversion must stay positional (label-based assignment
        # would smear one row's format onto its label-twin)
        pdf = pd.concat([
            pd.DataFrame({"text": ["<html><body><p>x</p></body></html>",
                                   "plain words"], "tool": ["", ""]}),
            pd.DataFrame({"text": ['{"k": 1}', "<doc><a>1</a></doc>"],
                          "tool": ["", ""]}),
        ])
        from anytomd_spark.batch import classify_formats
        fmt = classify_formats(pdf["text"], pdf["tool"])
        assert list(fmt) == ["html", None, "json", "xml"]
        assert list(fmt.index) == [0, 1, 0, 1]
        out = convert_batch(pdf)
        assert out["fmt"].tolist() == ["html", None, "json", "xml"]

    def test_classify_loop_matches_pandas_reference(self):
        # the single-pass loop form of classify_formats must agree with
        # the original vectorized pandas implementation (kept as the
        # reference oracle) row-for-row, including BOM/whitespace edge
        # shapes, magic-vs-hint priority, and non-string cells
        import random

        from anytomd_spark.batch import classify_formats

        pool = [
            ("UEsDBxyzzy", ""), ("0M8Rabc", ""), ("%PDF-1.4", ""),
            ('{"a":1}', ""), ("  ﻿[1,2]", ""), ("﻿﻿{", ""),
            ("x﻿{", ""), ("<!DOCTYPE html><html>", ""), ("<html>", ""),
            ("hello <div>world</div>", ""), ("<?xml version='1.0'?>", ""),
            ("<root>v</root>", ""), ("<onlyopen", ""), ("plain text", ""),
            ("code x=1", "py"), ("T", ".HTML"), ("T", " docx "),
            ("T", "unknownhint"), ("{j}", "html"), ("UEsDB", "txt"),
            ("", ""), ("   ", ""), ("\t\n< >", ""),
            ("<" + "a" * 300 + ">", ""), ("﻿plain", ""),
            (" \x0b\x0c{}", ""), ("[", ""),
        ]
        rng = random.Random(11)
        payloads, hints = [], []
        for _ in range(4000):
            p, h = pool[rng.randrange(len(pool))]
            payloads.append(p)
            hints.append(h if rng.random() < 0.8 else None)
        payloads[7] = None  # fillna path
        t = pd.Series(payloads, dtype=object)
        tool = pd.Series(hints, dtype=object)
        assert list(classify_formats(t, tool)) == list(
            _classify_formats_pandas(t, tool)
        )

    def test_hint_variants_share_memo_entries(self, monkeypatch):
        # normalized-hint keying: case/dot variants of the same hint, and
        # hint variants on formats that ignore the hint, convert ONCE
        import anytomd_spark.batch as B
        calls = []
        real = B.convert_bytes

        def counting(data, ext, **kw):
            calls.append((ext, bytes(data)))
            return real(data, ext, **kw)

        monkeypatch.setattr(B, "convert_bytes", counting)
        pdf = pd.DataFrame(
            [
                ("same body", "txt"), ("same body", ".TXT"),
                ("same body", "TXT "),
                ("<p>x</p>", ""), ("<p>x</p>", "html"),
                ("<p>x</p>", ".HTML"),
            ],
            columns=["text", "tool"],
        )
        out = convert_batch(pdf)
        assert out["error"].isna().all()
        assert len(calls) == 2  # one txt conversion + one html conversion
        assert out["markdown"].tolist()[:3] == ["same body"] * 3
        assert len(set(out["markdown"].tolist()[3:])) == 1
