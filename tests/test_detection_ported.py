"""Port of the reference detection test suite (the reference's
src/detection.rs tests), mapped onto the transcript-turn detection API:
``detect_by_extension`` mirrors the extension table; a one-row
``batch.classify_formats`` mirrors detect_format's magic/heuristic
priority (binary magics arrive base64-encoded in a text column, so ZIP
magic classifies as ``zipb64`` and is introspected at conversion)."""

from __future__ import annotations

import base64

import pandas as pd
import pytest

from anytomd_spark.batch import classify_formats
from anytomd_spark.kernels import sniff


def _classify(payload: str, hint: str | None) -> str | None:
    """One turn through the pipeline's format resolution."""
    return classify_formats(
        pd.Series([payload], dtype=object), pd.Series([hint], dtype=object)
    )[0]


class TestDetectByExtension:
    @pytest.mark.parametrize("ext,want", [
        ("docx", "docx"), ("pptx", "pptx"), ("xlsx", "xlsx"),
        ("csv", "csv"), ("json", "json"), ("txt", "txt"),
        ("pdf", "pdf"), ("html", "html"), ("htm", "html"),
        ("ipynb", "ipynb"), ("xml", "xml"), ("xls", "xls"),
    ])
    def test_direct_extensions(self, ext, want):
        assert sniff.detect_by_extension(ext) == want

    @pytest.mark.parametrize("ext", [
        "log", "md", "markdown", "rst", "ini", "cfg", "conf", "toml",
        "yaml", "yml",
    ])
    def test_text_variants(self, ext):
        assert sniff.detect_by_extension(ext) == "txt"

    @pytest.mark.parametrize("ext", [
        "png", "jpg", "jpeg", "gif", "webp", "bmp", "tiff", "tif", "svg",
        "heic", "heif", "avif",
    ])
    def test_image_variants(self, ext):
        assert sniff.detect_by_extension(ext) == "image"

    @pytest.mark.parametrize("ext", sorted(sniff.CODE_EXTS))
    def test_code_variants(self, ext):
        assert sniff.detect_by_extension(ext) == "code"

    def test_unknown_returns_none(self):
        assert sniff.detect_by_extension("xyz") is None

    def test_no_extension_returns_none(self):
        assert sniff.detect_by_extension("") is None


class TestSniffPriority:
    def test_zip_magic_overrides_extension(self):
        # a base64 ZIP in a turn hinted csv still resolves by introspection
        payload = base64.b64encode(b"PK\x03\x04junk").decode()
        assert _classify(payload, "csv") == "zipb64"
        assert sniff.maybe_base64_binary(payload).startswith(b"PK\x03\x04")

    def test_pdf_magic_overrides_extension(self):
        assert _classify("%PDF-1.7 content", "txt") == "pdf"

    def test_json_heuristic_object(self):
        assert _classify('  { "key": "value" }', None) == "json"

    def test_json_heuristic_array(self):
        assert _classify("[1, 2, 3]", None) == "json"

    def test_txt_hint_beats_json_heuristic(self):
        assert _classify("{ this is just a text file }", "txt") == "txt"

    def test_csv_hint_beats_bracket_heuristic(self):
        assert _classify("[header1],header2\nval1,val2", "csv") == "csv"

    def test_json_heuristic_with_utf8_bom(self):
        assert _classify('\ufeff{"key":"value"}', None) == "json"

    def test_ipynb_hint_not_caught_by_json_heuristic(self):
        assert _classify('{ "cells": [] }', "ipynb") == "ipynb"

    def test_ole_magic_is_xls(self):
        payload = base64.b64encode(
            b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 8
        ).decode()
        assert _classify(payload, None) == "xls"
        assert sniff.maybe_base64_binary(payload) is not None


class TestTextHeuristicSharedByArchiveMembers:
    """Archive members (``sniff_bytes``) and hint-less turns
    (``classify_formats``) run the same textual heuristic."""

    @pytest.mark.parametrize("head", [
        '\ufeff{"k": 1}',
        ' \ufeff[1, 2]',
        "<!doctype html><title>t</title>",
        "\ufeff<html>hi</html>",
        "\ufeff<?xml version='1.0'?><r/>",
        "some words then <p>a paragraph</p>",
        "<?xml version='1.0'?><r/>",
        "plain text",
        "<" + "a" * 300 + ">",
    ], ids=["json-bom", "ws-bom-json", "doctype", "bom-html", "bom-xml", "p-mid",
            "xml-decl", "plain", "late-gt"])
    def test_sniff_bytes_matches_hintless_classify(self, head):
        assert sniff.sniff_bytes(head.encode()) == _classify(head, None)


class TestMarkupTagBoundary:
    """The html tag list matches whole tag names only: XML elements
    that start with a listed name (``<heading>``, ``<paragraph>``,
    ``<division>``) leave a document ``xml``."""

    def test_generated_xml_documents_are_xml(self):
        import random

        from anytomd_spark.transcripts import build_xml

        docs = [build_xml(random.Random(seed)) for seed in range(40)]
        assert all("<heading>" in d for d in docs)
        fmts = classify_formats(
            pd.Series(docs, dtype=object), pd.Series([""] * 40, dtype=object)
        )
        assert list(fmts) == ["xml"] * 40

    @pytest.mark.parametrize("head,fmt", [
        ("<doc><head>t</head></doc>", "html"),
        ("<doc><head\n>t</head></doc>", "html"),
        ("<x><br/></x>", "html"),
        ("<x><p class='a'>t</p></x>", "html"),
        ("<x><p>t</p></x>", "html"),
        ("<x><division>t</division><paragraph/></x>", "xml"),
        ("<x><header>t</header><spans/><ulist/><tables/></x>", "xml"),
    ])
    def test_tag_names_end_at_a_boundary(self, head, fmt):
        assert _classify(head, None) == fmt
        assert sniff.sniff_bytes(head.encode()) == fmt
