"""Property-based tests (hypothesis), mirroring the reference's proptest
fuzz of the byte-size parser (src/parse.rs:132-172) and adding invariants
for the Markdown emitters and converters: never panic, structural
guarantees hold for arbitrary input."""

from __future__ import annotations

import os as _os

# deep-fuzz knob: SPARK_GRAFT_FUZZ_MULT=50 multiplies every
# max_examples for long background fuzz runs (default 1)
_FUZZ_MULT = int(_os.environ.get("SPARK_GRAFT_FUZZ_MULT", "1"))

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from anytomd_spark.kernels.markdown import build_table, build_table_plain, escape_cell
from anytomd_spark.kernels.parse import ByteSizeError, byte_size
from anytomd_spark.kernels.simple import (
    MalformedDocument,
    convert_code,
    convert_csv,
    convert_json,
    convert_plain_text,
)
from anytomd_spark.kernels.html_conv import convert_html


class TestByteSize:
    def test_examples(self):
        assert byte_size("1024") == 1024
        assert byte_size("1KB") == 1000
        assert byte_size("1KiB") == 1024
        assert byte_size("1.5GB") == 1_500_000_000
        assert byte_size("0.5MiB") == 524_288
        assert byte_size("  500 MB  ") == 500_000_000
        assert byte_size("2GiB") == 2_147_483_648

    @pytest.mark.parametrize(
        "bad", ["", "0", "0MB", "-1", "-5GB", "NaN", "inf", "MB", "5XB",
                "5abc", "16777216TiB", "1e5"],
    )
    def test_rejections(self, bad):
        with pytest.raises(ByteSizeError):
            byte_size(bad)

    @given(st.text(max_size=40))
    @settings(max_examples=300 * _FUZZ_MULT)
    def test_never_panics(self, s):
        try:
            result = byte_size(s)
            assert result > 0  # successes are always positive
        except ByteSizeError:
            pass

    @given(st.integers(min_value=1, max_value=10**12),
           st.sampled_from(["", "b", "kb", "kib", "mb", "mib", "gb", "gib"]))
    @settings(max_examples=200 * _FUZZ_MULT)
    def test_valid_round_trips(self, n, suffix):
        mult = {"": 1, "b": 1, "kb": 10**3, "kib": 2**10, "mb": 10**6,
                "mib": 2**20, "gb": 10**9, "gib": 2**30}[suffix]
        expected = n * mult
        if expected < (1 << 53):  # exact in f64, like the reference
            assert byte_size(f"{n}{suffix.upper()}") == expected


class TestEmitterInvariants:
    @given(st.text(max_size=80))
    @settings(max_examples=200 * _FUZZ_MULT)
    def test_escape_cell_single_line_no_bare_pipes(self, s):
        out = escape_cell(s)
        assert "\n" not in out and "\r" not in out
        # every pipe is escaped
        i = 0
        while True:
            i = out.find("|", i)
            if i < 0:
                break
            assert i > 0 and out[i - 1] == "\\"
            i += 1

    @given(st.lists(st.text(max_size=10), min_size=1, max_size=5),
           st.lists(st.lists(st.text(max_size=10), max_size=7), max_size=5))
    @settings(max_examples=100 * _FUZZ_MULT)
    def test_build_table_shape(self, headers, rows):
        out = build_table(headers, rows)
        # NB: str.splitlines also splits on \x1c-\x1e/\x85/U+2028 — table
        # rows are delimited by \n only, so split on that
        lines = out.split("\n")[:-1]
        assert len(lines) == 2 + len(rows)
        assert lines[1] == "|" + "---|" * len(headers)
        # plain TSV does no escaping (markdown.rs:74-97): embedded newlines
        # legitimately break line structure, so only check newline-free data
        if all("\n" not in h for h in headers) and all(
            "\n" not in c for row in rows for c in row
        ):
            plain = build_table_plain(headers, rows)
            for line in plain.split("\n")[:-1]:
                assert line.count("\t") >= len(headers) - 1


class TestConverterInvariants:
    @given(st.text(max_size=300))
    @settings(max_examples=150 * _FUZZ_MULT)
    def test_plain_text_identity(self, s):
        out = convert_plain_text(s.encode("utf-8"))
        expect = s[1:] if s.startswith("﻿") else s
        assert out["markdown"] == expect

    @given(st.text(max_size=200))
    @settings(max_examples=150 * _FUZZ_MULT)
    def test_code_fence_shape(self, s):
        out = convert_code(s.encode("utf-8"), "py")
        assert out["markdown"].startswith("```python\n")
        assert out["markdown"].endswith("\n```\n")

    @given(st.text(max_size=150))
    @settings(max_examples=100 * _FUZZ_MULT)
    def test_csv_never_panics(self, s):
        try:
            out = convert_csv(s.encode("utf-8"))
            assert isinstance(out["markdown"], str)
        except MalformedDocument:
            pass

    @given(st.recursive(
        st.none() | st.booleans() | st.integers(min_value=-10**9, max_value=10**9)
        | st.text(max_size=12),
        lambda children: st.lists(children, max_size=3)
        | st.dictionaries(st.text(max_size=6), children, max_size=3),
        max_leaves=8,
    ))
    @settings(max_examples=150 * _FUZZ_MULT)
    def test_json_roundtrip_sorted(self, value):
        payload = json.dumps(value).encode("utf-8")
        out = convert_json(payload)
        body = out["markdown"].removeprefix("```json\n").removesuffix("\n```\n")
        assert json.loads(body) == value

    @given(st.recursive(
        st.none() | st.booleans()
        | st.integers(min_value=-10**18, max_value=10**18)
        | st.floats(allow_nan=True, allow_infinity=True)
        | st.text(max_size=12),
        lambda children: st.lists(children, max_size=4)
        | st.dictionaries(st.text(max_size=6), children, max_size=4),
        max_leaves=12,
    ))
    @settings(max_examples=200 * _FUZZ_MULT)
    def test_json_pretty_matches_stdlib(self, value):
        """The hand-rolled pretty emitter must be byte-identical to
        json.dumps(indent=2, ensure_ascii=False, sort_keys=True) on every
        loads-producible value (NaN keys included via the loads round
        trip below, which also pins the exact input types)."""
        from anytomd_spark.kernels.simple import _pretty_sorted

        value = json.loads(json.dumps(value))  # exact loads types
        out: list[str] = []
        _pretty_sorted(value, "", out)
        assert "".join(out) == json.dumps(
            value, indent=2, ensure_ascii=False, sort_keys=True
        )

    @given(st.text(max_size=300))
    @settings(max_examples=100 * _FUZZ_MULT, deadline=1000)
    def test_html_never_panics(self, s):
        out = convert_html(s.encode("utf-8"))
        md = out["markdown"]
        assert md == "" or md.endswith("\n")


class TestFastTokenizerDifferential:
    """convert_html's default path (the native walker, falling back to
    the stdlib parser walk) must behave exactly like the stdlib
    html.parser path alone (``fast=False``) on the synthetic corpus and
    fixtures."""

    def test_corpus_equivalence(self):
        import random

        from anytomd_spark.transcripts import build_html

        for i in range(200):
            payload = build_html(random.Random(i)).encode("utf-8")
            assert convert_html(payload, fast=True) == convert_html(
                payload, fast=False
            ), f"divergence at corpus doc {i}"

    def test_fixture_equivalence(self):
        with open("/root/reference/tests/fixtures/sample.html", "rb") as f:
            data = f.read()
        assert convert_html(data, fast=True) == convert_html(data, fast=False)

    # a whole page built here, so the differential above also runs where
    # the reference fixtures are absent: head/title, tables, nested lists,
    # links, images and named, decimal and hex character references
    _DOCUMENT = """<!DOCTYPE html>
<html lang="en">
<head>
  <meta charset="utf-8">
  <title>Quarterly report &mdash; caf&eacute; &amp; bar</title>
  <style>p { color: red; }</style>
  <script>var x = "<p>not markup</p>";</script>
</head>
<body>
  <h1>Results for Q&#51; &#x2014; &quot;final&quot;</h1>
  <p>Revenue rose <strong>12&nbsp;%</strong> over <em>Q2</em>;
     see the <a href="https://example.com/report?id=7&amp;v=2"
     title="Full &lt;report&gt;">full report</a>.</p>
  <img src="chart.png" alt="Revenue chart &copy; 2024">
  <table>
    <thead><tr><th>Region</th><th>Sales &euro;</th><th>Note</th></tr></thead>
    <tbody>
      <tr><td>North</td><td>1&#44;200</td><td><a href="/n">details</a></td></tr>
      <tr><td>S&uuml;d</td><td>980</td><td>a | b</td></tr>
      <tr><td colspan="2">Total</td><td>2&#x2C;180</td></tr>
    </tbody>
  </table>
  <ul>
    <li>First &lt;item&gt;</li>
    <li>Second with <code>x &gt; y</code>
      <ol><li>nested one</li><li>nested &#8220;two&#8221;</li></ol>
    </li>
  </ul>
  <blockquote><p>Quoted &hellip; text</p></blockquote>
  <pre>line 1
  line &lt;2&gt;</pre>
  <h2>Links</h2>
  <p><a href="mailto:a@example.com">mail</a> &middot;
     <img src="logo.svg" alt=""> <a href="#top">top &uarr;</a></p>
</body>
</html>
"""

    def test_built_document_equivalence(self):
        from anytomd_spark.kernels._html_native import (
            _get_lib,
            convert_html_native,
        )

        data = self._DOCUMENT.encode("utf-8")
        fast = convert_html(data, fast=True)
        assert fast == convert_html(data, fast=False)
        # the native walker took the page: the check above compared two
        # tiers, not the stdlib walk with itself
        if _get_lib() is not None:
            assert convert_html_native(data) is not None
        assert fast["title"] == "Quarterly report — café & bar"
        for part in ("| Region |", "Süd", "nested “two”",
                     "[full report](", "![Revenue chart © 2024]("):
            assert part in fast["markdown"], part

    @given(st.text(max_size=200))
    @settings(max_examples=150 * _FUZZ_MULT, deadline=2000)
    def test_fast_never_panics(self, s):
        out = convert_html(s.encode("utf-8"), fast=True)
        assert out["markdown"] == "" or out["markdown"].endswith("\n")

    # structured tag soup: random nesting of handled/unhandled/void tags,
    # deliberately mismatched closes, attributes, comments and entities —
    # guards the round-3 hot-path rewrites (set-guarded dispatch,
    # top-of-stack fast path, open-p counter)
    _SOUP_TAGS = ("p", "div", "span", "strong", "em", "li", "ul", "ol",
                  "table", "tr", "td", "th", "h1", "h2", "a", "blockquote",
                  "pre", "code", "title", "dt", "dd", "dl", "section")

    @given(st.lists(
        st.one_of(
            st.sampled_from([f"<{t}>" for t in _SOUP_TAGS]),
            st.sampled_from([f"</{t}>" for t in _SOUP_TAGS]),
            st.sampled_from(['<a href="x">', '<img src="i" alt="A">',
                             "<br>", "<hr>", "<br/>", "<!-- c -->",
                             "&amp;", "&lt;", "<", ">"]),
            st.text(
                alphabet="abc X\n\t", min_size=1, max_size=12
            ),
        ),
        max_size=40,
    ))
    @settings(max_examples=300 * _FUZZ_MULT, deadline=5000)
    def test_fast_tag_soup_differential(self, parts):
        data = "".join(parts).encode("utf-8")
        assert convert_html(data, fast=True) == convert_html(
            data, fast=False
        )


class TestWinnowBitParity:
    """The numpy-vectorized winnowing hash must stay bit-identical to the
    original per-character rolling-hash formulation (the spec)."""

    @staticmethod
    def _fp_reference(text: str) -> int:
        K, W, MOD, BASE = 8, 4, (1 << 61) - 1, 257
        s = text.lower()
        n = len(s)
        if n < K:
            h = 0
            for ch in s:
                h = (h * BASE + ord(ch)) % MOD
            return h
        hashes = []
        h = 0
        power = pow(BASE, K - 1, MOD)
        for i, ch in enumerate(s):
            h = (h * BASE + ord(ch)) % MOD
            if i >= K - 1:
                hashes.append(h)
                h = (h - ord(s[i - K + 1]) * power) % MOD
        out = 0
        for i in range(0, max(1, len(hashes) - W + 1), W):
            out ^= min(hashes[i: i + W])
        return out - (1 << 63) if out >= (1 << 63) else out

    @staticmethod
    def _fp_vectorized(text: str) -> int:
        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        from anytomd_spark.analysis.text_quality import _WIN_W, _poly_hashes

        s = text.lower()
        if not s:
            return 0
        codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
        hashes = _poly_hashes(codes)
        if len(hashes) <= _WIN_W:
            return int(hashes.min())
        mins = sliding_window_view(hashes, _WIN_W)[::_WIN_W].min(axis=1)
        return int(__import__("numpy").bitwise_xor.reduce(mins))

    @given(st.text(max_size=300))
    @settings(max_examples=300 * _FUZZ_MULT, deadline=None)
    def test_parity(self, text):
        assert self._fp_vectorized(text) == self._fp_reference(text)

    def test_parity_boundary_lengths(self):
        for n in range(0, 20):
            t = "abcdefghij"[: n % 11] * (n // 10 + 1)
            t = t[:n]
            assert self._fp_vectorized(t) == self._fp_reference(t), n


class TestSimhashKernelParity:
    """The Arrow numpy bit-majority must match the pure-JVM fold spec:
    bit b set iff 2 * count_of_set_bits_b > n_tokens."""

    @given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                    max_size=40))
    @settings(max_examples=200 * _FUZZ_MULT, deadline=None)
    def test_parity(self, hashes):
        import pandas as pd

        from anytomd_spark.analysis._simhash_udf import simhash_from_hashes

        # reference formulation in plain Python ints
        sig = 0
        n = len(hashes)
        for b in range(64):
            count = sum(((h >> b) & 1) if h >= 0 else
                        (((h + (1 << 64)) >> b) & 1) for h in hashes)
            if 2 * count > n:
                sig |= 1 << b
        if sig >= 1 << 63:
            sig -= 1 << 64

        fn = simhash_from_hashes.func  # unwrap the pandas_udf
        got = fn(pd.Series([hashes])).iloc[0]
        assert int(got) == sig


class TestNewKernelsNeverPanic:
    """Round-4 kernels (PNG / PDF / main-content) on arbitrary bytes:
    typed error or clean result, never an unexpected exception or hang.
    Mirrors the reference's never-panic proptest posture."""

    @given(st.binary(max_size=512))
    @settings(max_examples=200 * _FUZZ_MULT, deadline=None)
    def test_png_decode_total(self, data):
        from anytomd_spark.kernels.png import MAGIC, PngError, decode_png

        try:
            decode_png(MAGIC + data)
        except PngError:
            pass

    @given(st.binary(max_size=512))
    @settings(max_examples=200 * _FUZZ_MULT, deadline=None)
    def test_pdf_extract_total(self, data):
        from anytomd_spark.kernels.pdf_text import (
            PdfError,
            extract_pdf_layout,
            extract_pdf_text,
        )

        for fn in (extract_pdf_text, extract_pdf_layout):
            try:
                fn(b"%PDF-1.4\n" + data)
            except PdfError:
                pass

    @given(st.text(max_size=400))
    @settings(max_examples=200 * _FUZZ_MULT, deadline=None)
    def test_main_content_total(self, text):
        from anytomd_spark.kernels.main_content import extract_main_content

        out = extract_main_content(text)
        assert out["n_content_blocks"] <= out["n_blocks"]
        assert 0.0 <= out["boilerplate_ratio"] <= 1.0

    @given(st.lists(st.lists(st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=40), min_size=1, max_size=4), min_size=1, max_size=3),
        st.booleans())
    @settings(max_examples=100 * _FUZZ_MULT, deadline=None)
    def test_pdf_writer_round_trip_printable(self, pages, compress):
        from anytomd_spark.kernels.pdf_text import build_pdf, extract_pdf_text

        data = build_pdf(pages, compress=compress)
        out = extract_pdf_text(data)
        expected = "\n".join(
            line for page in pages for line in page
            if line.strip(" ")  # blank-only lines collapse away
        )
        # whitespace-lenient: the extractor's line assembly drops empty
        # shows; word sequence must survive exactly
        assert out["text"].split() == expected.split()

    @given(st.binary(max_size=512))
    @settings(max_examples=200 * _FUZZ_MULT, deadline=None)
    def test_gif_decode_total(self, data):
        from anytomd_spark.kernels.gif import GifError, decode_gif

        try:
            decode_gif(b"GIF89a" + data)
        except GifError:
            pass

    @given(st.binary(max_size=512))
    @settings(max_examples=200 * _FUZZ_MULT, deadline=None)
    def test_wav_decode_total(self, data):
        from anytomd_spark.kernels.wav import WavError, decode_wav

        try:
            decode_wav(b"RIFF" + data)
        except WavError:
            pass

    @given(st.binary(max_size=400))
    @settings(max_examples=200 * _FUZZ_MULT, deadline=None)
    def test_warc_parse_total(self, data):
        from anytomd_spark.kernels.warc import WarcError, parse_warc

        try:
            parse_warc(b"WARC/1.0\r\n" + data)
        except WarcError:
            pass


class TestOoxmlWalkerSoup:
    """The rewritten nonlocal-scalar slide/document walkers must be total
    over arbitrary element soup: random nesting of handled and unhandled
    elements, mismatched closes, stray text — never an exception, always
    the documented return shapes."""

    _PPTX_PARTS = (
        "<p:sp>", "</p:sp>", "<p:graphicFrame>", "</p:graphicFrame>",
        "<p:pic>", "</p:pic>", "<p:grpSp>", "</p:grpSp>",
        "<p:txBody>", "</p:txBody>", "<a:p>", "</a:p>", "<a:r>", "</a:r>",
        "<a:t>", "</a:t>", "<a:br/>", '<p:ph type="title"/>',
        '<p:ph type="body"/>', "<a:tbl>", "</a:tbl>", "<a:tr>", "</a:tr>",
        "<a:tc>", "</a:tc>", '<a:blip r:embed="rId9"/>',
        '<p:cNvPr descr="alt text"/>', "text run", "&amp;", "\n",
    )

    @given(st.lists(st.sampled_from(_PPTX_PARTS), max_size=30))
    @settings(max_examples=200 * _FUZZ_MULT, deadline=2000)
    def test_parse_slide_total(self, parts):
        from anytomd_spark.kernels.pptx_conv import parse_slide
        from anytomd_spark.transcripts import _P_NS

        xml = (
            f'<?xml version="1.0"?><p:sld {_P_NS}><p:cSld><p:spTree>'
            f"{''.join(parts)}</p:spTree></p:cSld></p:sld>"
        )
        shapes, warnings = parse_slide(xml)
        for shape in shapes:
            assert shape[0] in ("title", "body", "table", "image")

    _DOCX_PARTS = (
        "<w:p>", "</w:p>", "<w:r>", "</w:r>", "<w:t>", "</w:t>",
        "<w:tbl>", "</w:tbl>", "<w:tr>", "</w:tr>", "<w:tc>", "</w:tc>",
        "<w:pPr>", "</w:pPr>", '<w:pStyle w:val="Heading1"/>',
        "<w:hyperlink>", "</w:hyperlink>", "<w:br/>", "<w:b/>", "<w:i/>",
        "<mc:AlternateContent>", "</mc:AlternateContent>",
        "<mc:Choice>", "</mc:Choice>", "<mc:Fallback>", "</mc:Fallback>",
        "<w:pict>", "</w:pict>", "<w:txbxContent>", "</w:txbxContent>",
        "<w:drawing>", "</w:drawing>", "body text", "&lt;", "\n",
    )

    @given(st.lists(st.sampled_from(_DOCX_PARTS), max_size=30))
    @settings(max_examples=200 * _FUZZ_MULT, deadline=2000)
    def test_docx_body_total(self, parts):
        import io
        import zipfile

        from anytomd_spark.kernels.docx_conv import convert_docx
        from anytomd_spark.transcripts import _RELS_NS, _W

        document = (
            f'<?xml version="1.0"?><w:document {_W} '
            'xmlns:mc="http://schemas.openxmlformats.org/markup-'
            'compatibility/2006">'
            f"<w:body>{''.join(parts)}</w:body></w:document>"
        )
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("word/document.xml", document)
            zf.writestr("word/_rels/document.xml.rels",
                        f"<Relationships {_RELS_NS}/>")
        out = convert_docx(buf.getvalue())
        assert isinstance(out["markdown"], str)
        assert isinstance(out["plain_text"], str)
