"""Pinned-value battery for ``parse_sheet_cells``, the worksheet parser.

Every test pins the ``(cells, errors)`` maps the expat parse yields for
one sheet shape. The class names are kept from when a size-gated regex
scanner sat beside the expat parse: ``TestFastPathEngages`` holds the
regular shapes that scanner took, ``TestFallsBack`` the constructs it
declined (markup, DTDs, prefixes, malformed XML).
"""

from __future__ import annotations

import os as _os

# deep-fuzz knob: SPARK_GRAFT_FUZZ_MULT=50 multiplies every
# max_examples for long background fuzz runs (default 1)
_FUZZ_MULT = int(_os.environ.get("SPARK_GRAFT_FUZZ_MULT", "1"))

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import anytomd_spark.kernels.xlsx_conv as X

_X_NS = (
    'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
    'relationships"'
)


def sheet(body: str, ns: str = _X_NS) -> str:
    return (
        f'<?xml version="1.0"?><worksheet {ns}>'
        f"<sheetData>{body}</sheetData></worksheet>"
    )


def cells(xml, shared=(), date_styles=frozenset()):
    return X.parse_sheet_cells(xml, list(shared), set(date_styles))


def key(row: int, col: int) -> int:
    """0-based (row, col) -> parse_sheet_cells' packed key."""
    return (row << 32) | col


class TestFastPathEngages:
    def test_plain_numeric(self):
        out = cells(sheet(
            '<row r="1"><c r="A1"><v>1.5</v></c><c r="B1"><v>2</v></c></row>'
        ))
        assert out == ({0: "1.5", 1: "2"}, {})

    def test_inline_str(self):
        out = cells(sheet(
            '<row r="1"><c r="A1" t="inlineStr"><is><t>hello</t></is></c>'
            "</row>"
        ))
        assert out == ({0: "hello"}, {})

    def test_shared_strings_and_styles(self):
        out = cells(sheet(
            '<row r="2"><c r="B2" t="s"><v>1</v></c>'
            '<c r="C2" s="0"><v>45000</v></c></row>'
        ), shared=["zero", "one"], date_styles={0})
        assert out[0][(1 << 32) | 1] == "one"
        assert out[0][(1 << 32) | 2] == "2023-03-15"

    def test_bool_error_str_types(self):
        out = cells(sheet(
            '<row r="1"><c r="A1" t="b"><v>1</v></c>'
            '<c r="B1" t="e"><v>#DIV/0!</v></c>'
            '<c r="C1" t="str"><v>=A1</v></c></row>'
        ))
        assert out[0][0] == "TRUE"
        assert out[0][1] == "#DIV/0!"
        assert out[1] == {1: "#DIV/0!"}
        assert out[0][2] == "=A1"

    def test_missing_refs_use_running_position(self):
        # cells without r=, rows without r=: an r-less row advances the
        # row counter from its start value 0, so the first row lands on 1
        out = cells(sheet(
            "<row><c><v>1</v></c><c><v>2</v></c></row>"
            "<row><c><v>3</v></c></row>"
        ))
        assert out == ({key(1, 0): "1", key(1, 1): "2", key(2, 0): "3"}, {})

    def test_formula_cells_and_empty(self):
        # an empty <v/> or a v-less cell writes nothing; a body-less
        # inlineStr cell writes ""
        out = cells(sheet(
            '<row r="1"><c r="A1"><f>SUM(B1:C1)</f><v>5</v></c>'
            '<c r="B1"/><c r="C1"><v/></c>'
            '<c r="D1" t="inlineStr"/></row>'
        ))
        assert out == ({0: "5", 3: ""}, {})

    def test_entities_and_charrefs(self):
        out = cells(sheet(
            '<row r="1"><c r="A1" t="inlineStr"><is><t>a&amp;b&#65;&#x42;'
            "</t></is></c>"
            '<c r="B1" t="str"><v>&lt;x&gt;</v></c></row>'
        ))
        assert out[0][0] == "a&bAB"
        assert out[0][1] == "<x>"

    def test_crlf_normalization(self):
        # literal CRLF in text -> \n (expat newline normalization)
        out = cells(sheet(
            '<row r="1"><c r="A1" t="inlineStr"><is><t>a\r\nb\rc</t></is>'
            "</c></row>"
        ))
        assert out == ({0: "a\nb\nc"}, {})

    def test_rich_inline_str_runs(self):
        out = cells(sheet(
            '<row r="1"><c r="A1" t="inlineStr"><is><r><t>a</t></r>'
            "<r><t>b</t></r></is></c></row>"
        ))
        assert out[0][0] == "ab"

    def test_out_of_order_and_duplicate_refs(self):
        # later write to the same ref wins; huge/invalid refs fall back to
        # the running position
        out = cells(sheet(
            '<row r="3"><c r="A3"><v>1</v></c></row>'
            '<row r="1"><c r="A1"><v>2</v></c><c r="A3"><v>9</v></c></row>'
            '<row><c r="AAAA1"><v>7</v></c><c r="A99999999"><v>8</v></c>'
            "</row>"
        ))
        assert out == ({key(2, 0): "9", key(0, 0): "2", key(3, 0): "7",
                        key(3, 1): "8"}, {})

    def test_nonstandard_attr_order_still_fast(self):
        # t before r, s before r
        out = cells(sheet(
            '<row r="1"><c t="inlineStr" r="A1"><is><t>x</t></is></c>'
            '<c s="0" r="B1"><v>45000</v></c></row>'
        ), date_styles={0})
        assert out[0][0] == "x"
        assert out[0][1] == "2023-03-15"

    def test_extra_attributes(self):
        out = cells(sheet(
            '<row r="1" spans="1:2" ht="15" customHeight="1">'
            '<c r="A1" cm="1" vm="2"><v>1</v></c></row>'
        ))
        assert out == ({0: "1"}, {})

    def test_multiple_v_elements_concatenate(self):
        out = cells(sheet(
            '<row r="1"><c r="A1" t="str"><v>a</v><v>b</v></c></row>'
        ))
        assert out == ({0: "ab"}, {})

    def test_row_counter_interplay_with_cell_refs(self):
        # a cell ref advances the row var; a following r-less row continues
        # from it (start-c sets row from the ref's digits)
        out = cells(sheet(
            '<row r="1"><c r="A5"><v>1</v></c></row>'
            "<row><c><v>2</v></c></row>"
        ))
        assert out == ({key(4, 0): "1", key(5, 0): "2"}, {})

    def test_trailing_junk_ref(self):
        # _CELL_REF.match tolerates trailing junk: r="A1B2" parses as A1
        assert cells(sheet('<row><c r="A1B2"><v>3</v></c></row>')) \
            == ({0: "3"}, {})

    def test_xml_space_preserve_t(self):
        out = cells(sheet(
            '<row r="1"><c r="A1" t="inlineStr"><is>'
            '<t xml:space="preserve"> padded </t></is></c></row>'
        ))
        assert out == ({0: " padded "}, {})


class TestFallsBack:
    def test_malformed_truncates_identically(self):
        # stray close tag: the parse keeps what it saw before the error
        # (xlsx.rs Err(_) => break)
        xml = sheet('<row r="1"><c r="A1"><v>1</v></c></extra></row>')
        assert cells(xml) == ({0: "1"}, {})

    def test_doctype(self):
        # a DTD-defined entity expands
        xml = (
            '<?xml version="1.0"?><!DOCTYPE worksheet [<!ENTITY e "v">]>'
            f"<worksheet {_X_NS}><sheetData>"
            '<row r="1"><c r="A1" t="str"><v>&e;</v></c></row>'
            "</sheetData></worksheet>"
        )
        assert cells(xml) == ({0: "v"}, {})

    def test_cdata(self):
        assert cells(sheet(
            '<row r="1"><c r="A1" t="inlineStr"><is><t><![CDATA[x]]></t>'
            "</is></c></row>"
        )) == ({0: "x"}, {})

    def test_comment(self):
        assert cells(sheet(
            '<row r="1"><!-- note --><c r="A1"><v>1</v></c></row>'
        )) == ({0: "1"}, {})

    def test_processing_instruction(self):
        assert cells(sheet(
            '<row r="1"><?pi data?><c r="A1"><v>1</v></c></row>'
        )) == ({0: "1"}, {})

    def test_prefixed_elements(self):
        xml = (
            '<?xml version="1.0"?><x:worksheet xmlns:x='
            '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            '<x:sheetData><x:row r="1"><x:c r="A1"><x:v>1</x:v></x:c>'
            "</x:row></x:sheetData></x:worksheet>"
        )
        assert cells(xml) == ({0: "1"}, {})

    def test_single_quoted_attrs(self):
        assert cells(sheet("<row r='1'><c r='A1'><v>1</v></c></row>")) \
            == ({0: "1"}, {})

    def test_gt_in_attr_value(self):
        assert cells(sheet(
            '<row r="1"><c r="A1" x="a>b"><v>1</v></c></row>'
        )) == ({0: "1"}, {})

    def test_markup_inside_v(self):
        # only character data inside <v> counts; the element is skipped
        assert cells(sheet(
            '<row r="1"><c r="A1" t="str"><v>a<b/>c</v></c></row>'
        )) == ({0: "ac"}, {})

    def test_undefined_entity_truncates(self):
        # &nbsp; is undefined in XML: expat errors mid-parse and the parse
        # keeps only what it saw before the error
        xml = sheet(
            '<row r="1"><c r="A1"><v>1</v></c>'
            '<c r="B1" t="str"><v>&nbsp;</v></c></row>'
        )
        assert cells(xml) == ({0: "1"}, {})


def _grid_markdown(name: str, grid: list[list[str]]) -> str:
    """Reference Markdown for one sheet: ``## name`` + a pipe table whose
    first row is the header (xlsx.rs convert_inner), built from the cell
    strings without the converter."""
    def line(row):
        return "| " + " | ".join(
            v.replace("\\", "\\\\").replace("|", "\\|") for v in row
        ) + " |\n"

    header, *rest = grid
    return (f"## {name}\n" + line(header) + "|---" * len(header) + "|\n"
            + "".join(map(line, rest)))


def _xlsx(sheet_xml: str, name: str = "Data") -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", (
            f'<?xml version="1.0"?><workbook {_X_NS}><sheets>'
            f'<sheet name="{name}" sheetId="1" r:id="rId1"/>'
            "</sheets></workbook>"
        ))
        zf.writestr("xl/_rels/workbook.xml.rels", (
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
            'openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/worksheet" '
            'Target="worksheets/sheet1.xml"/></Relationships>'
        ))
        zf.writestr("xl/worksheets/sheet1.xml", sheet_xml)
    return buf.getvalue()


class TestConvertIntegration:
    def test_large_sheet_markdown_matches_cells(self):
        """A sheet past 64 KB, with inline strings, escapes, numbers,
        booleans and error cells, converts to the Markdown built
        directly from the cells that generated it."""
        grid, cells_xml = [], []
        for r in range(1, 1200):
            row = [f"v{r}|x", f"{r}.5", ("TRUE", "FALSE")[r % 2], "#N/A"]
            grid.append(row)
            cells_xml.append(
                f'<row r="{r}">'
                f'<c r="A{r}" t="inlineStr"><is><t>v{r}|x</t></is></c>'
                f'<c r="B{r}"><v>{r}.5</v></c>'
                f'<c r="C{r}" t="b"><v>{1 - r % 2}</v></c>'
                f'<c r="D{r}" t="e"><v>#N/A</v></c></row>'
            )
        xml = sheet("".join(cells_xml))
        assert len(xml) >= 65536
        out = X.convert_xlsx(_xlsx(xml))
        assert out["markdown"] == _grid_markdown("Data", grid)
        assert out["plain_text"] == "Data\n" + "".join(
            "\t".join(row) + "\n" for row in grid
        )
        assert out["title"] is None
        assert [w["location"] for w in out["warnings"]] \
            == [f"Data!D{r}" for r in range(1, 1200)]

    def test_golden_fixture_unchanged(self):
        import pathlib
        fx = pathlib.Path("/root/reference/tests/fixtures/sample.xlsx")
        expected = pathlib.Path(
            "/root/reference/tests/fixtures/expected/sample.xlsx.md"
        )
        if not fx.exists() or not expected.exists():
            pytest.skip("reference fixtures unavailable")
        out = X.convert_xlsx(fx.read_bytes())
        assert out["markdown"] == expected.read_text()


_TYPES = ["", ' t="s"', ' t="str"', ' t="b"', ' t="e"', ' t="inlineStr"',
          ' t="x"']
_VALS = ["", "1", "1.5", "0", "true", "#REF!", "abc", "a&amp;b", " x ",
         "1e3", "nan", "-2.5", "99999999999999999999"]


class TestSoupDifferential:
    """Crash freedom over a soup of cell types and values (the battery
    that found the NaN-date-serial crash in excel_serial_to_datetime):
    every generated sheet parses, and every key and value is well
    formed."""

    @given(st.lists(st.tuples(
        st.sampled_from(["row", "rowr", "cell"]),
        st.sampled_from(_TYPES),
        st.sampled_from(_VALS),
        st.integers(min_value=0, max_value=9),
    ), min_size=0, max_size=12))
    @settings(max_examples=200 * _FUZZ_MULT, deadline=2000)
    def test_generated_sheets(self, parts):
        body = []
        for kind, t, val, n in parts:
            if kind == "row":
                body.append("<row>")
            elif kind == "rowr":
                body.append(f'<row r="{n + 1}">')
            elif t == ' t="inlineStr"':
                body.append(f'<c r="{chr(65 + n)}{n + 1}"{t}>'
                            f"<is><t>{val}</t></is></c>")
            else:
                body.append(f'<c r="{chr(65 + n)}{n + 1}"{t} s="{n}">'
                            f"<v>{val}</v></c>")
        got, errors = cells(sheet("".join(body)), shared=["s0", "s1"],
                            date_styles={3})
        for k, v in got.items():
            assert isinstance(k, int) and isinstance(v, str)
            assert (k >> 32) <= 1048576 and (k & 0xFFFFFFFF) < 16384
        assert set(errors) <= set(got)
        assert all(got[k] == v for k, v in errors.items())


class TestWhitespaceAttrSeparators:
    """XML allows any whitespace run (tab/newline/CR) between
    attributes and pretty-printing writers emit them."""

    def test_tab_before_type_attr(self):
        out = cells(sheet('<row r="1"><c\tt="s"><v>1</v></c></row>'),
                    shared=["s0", "s1"])
        assert out[0][0] == "s1"

    def test_newline_separated_refs(self):
        out = cells(sheet('<row\nr="7"><c\nr="B7"><v>42</v></c></row>'))
        assert out[0][(6 << 32) | 1] == "42"

    @pytest.mark.parametrize("ws", ["\t", "\n", "\t\n ", " \t"])
    def test_every_attr_position(self, ws):
        out = cells(sheet(
            f'<row{ws}r="2"><c{ws}r="A2"{ws}s="3"{ws}t="s"><v>0</v></c>'
            f'<c{ws}t="inlineStr"{ws}r="C2"><is><t>inl</t></is></c></row>'
        ), shared=["hit"], date_styles={3})
        assert out[0][(1 << 32) | 0] == "hit"
        assert out[0][(1 << 32) | 2] == "inl"

    def test_leftover_attrs_whitespace_separated(self):
        # out-of-order AND tab/newline separated
        out = cells(sheet(
            '<row spans="1:2"\tr="3"><c\tt="s"\nr="A3"><v>0</v></c></row>'
        ), shared=["hit"])
        assert out[0][(2 << 32) | 0] == "hit"

    def test_value_containing_attr_lookalike(self):
        # an attribute VALUE containing ' r="' must not be misread as
        # the r attribute
        out = cells(sheet(
            '<row r="1"><c ph="x r=" t="s" r="B1"><v>0</v></c></row>'
        ), shared=["v0"])
        assert out[0][1] == "v0"

    def test_error_cells_with_tab_separator(self):
        # t="e" behind a tab still populates the errors map
        out = cells(sheet('<row r="1"><c\tt="e"><v>#DIV/0!</v></c></row>'))
        assert out == ({0: "#DIV/0!"}, {0: "#DIV/0!"})

    @given(st.lists(st.sampled_from([" ", "\t", "\n", " \t", "\n  "]),
                    min_size=4, max_size=4))
    @settings(max_examples=60 * _FUZZ_MULT, deadline=2000)
    def test_separator_soup(self, seps):
        a, b, c, d = seps
        xml = sheet(
            f'<row{a}r="1"><c{b}r="A1"{c}t="s"><v>1</v></c>'
            f'<c{d}s="0"><v>45000</v></c></row>'
        )
        out = cells(xml, shared=["s0", "s1"], date_styles={0})
        assert out == ({0: "s1", 1: "2023-03-15"}, {})


_SST_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'


def sst(body: str, ns: str = _SST_NS) -> str:
    return f'<?xml version="1.0"?><sst {ns}>{body}</sst>'


class TestSharedStringsSemantics:
    """parse_shared_strings is expat only (a single-regex fast path
    measured 0.81x — PLANS.md round-6 negative result); these pin the
    semantics that experiment's differential battery exercised:
    phonetic-run exclusion, rich-run concatenation, entity decoding."""

    def test_plain_strings(self):
        assert X.parse_shared_strings(
            sst("<si><t>alpha</t></si><si><t>beta</t></si>")
        ) == ["alpha", "beta"]

    def test_rich_text_runs_concatenate(self):
        assert X.parse_shared_strings(sst(
            "<si><r><rPr><b/></rPr><t>bold</t></r><r><t> tail</t></r></si>"
        )) == ["bold tail"]

    def test_entities_charrefs_and_crlf(self):
        out = X.parse_shared_strings(sst(
            "<si><t>a&amp;b&#xE9;&#233;</t></si>"
            "<si><t>line1&#13;&#10;line2</t></si>"
        ))
        assert out[0] == "a&b\xe9\xe9"
        assert out[1] == "line1\r\nline2"

    def test_space_preserve_empty_t_and_empty_si(self):
        assert X.parse_shared_strings(sst(
            '<si><t xml:space="preserve"> padded </t></si>'
            "<si><t/></si><si/>"
        )) == [" padded ", "", ""]

    def test_phonetic_runs_excluded(self):
        # rPh furigana and phoneticPr must not leak into the string
        assert X.parse_shared_strings(sst(
            '<si><t>\u6f22\u5b57</t><rPh sb="0" eb="2">'
            '<t>\u304b\u3093\u3058</t></rPh>'
            '<phoneticPr fontId="1"/></si>'
        )) == ["\u6f22\u5b57"]

    def test_text_outside_t_ignored(self):
        assert X.parse_shared_strings(
            sst("<si>stray<t>kept</t>stray2</si>")
        ) == ["kept"]

    def test_malformed_truncates_at_error(self):
        # expat silent-truncation semantics (xlsx.rs Err(_) => break)
        assert X.parse_shared_strings(
            '<?xml version="1.0"?><sst><si><t>ok</t></si><si><t>bad'
        ) == ["ok"]

    def test_prefixed_elements_still_parse(self):
        assert X.parse_shared_strings(
            '<?xml version="1.0"?><x:sst xmlns:x="urn:x">'
            "<x:si><x:t>x</x:t></x:si></x:sst>"
        ) == ["x"]
