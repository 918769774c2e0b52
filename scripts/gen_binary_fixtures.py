"""Generate anytomd_spark/binfixtures.py: fixed base64 payloads for the
five binary formats (DOCX/PPTX/XLSX/XLS/IPYNB) plus their expected
Markdown, captured from the production kernel (``batch.convert_batch``)
and written next to the imported ``anytomd_spark`` package.

    python scripts/gen_binary_fixtures.py

The payloads are deterministic in-memory documents (fixed ZIP timestamps,
stored compression) exercising real converter features — headings, bold
runs, tables, notes, mixed cell types — in the spirit of the reference
golden fixtures (tests/test_docx.rs, test_pptx.rs, test_xlsx.rs,
test_xls.rs, test_ipynb.rs). Re-run this script only when a converter's
intended output changes; the generated module is committed so the
derivation and its DuckDB oracle stay stable.
"""

from __future__ import annotations

import base64
import io
import os
import struct
import sys
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

import anytomd_spark  # noqa: E402
from anytomd_spark.batch import convert_batch  # noqa: E402

W = ('xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main" '
     'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"')
P = ('xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
     'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" '
     'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"')
X = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" ' \
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
RELS_NS = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'

FIXED_DATE = (2020, 1, 1, 0, 0, 0)


def _zip(parts: dict[str, str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for name, content in parts.items():
            zi = zipfile.ZipInfo(name, date_time=FIXED_DATE)
            zf.writestr(zi, content)
    return buf.getvalue()


def build_docx() -> bytes:
    body = (
        '<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
        "<w:r><w:t>Quarterly Report</w:t></w:r></w:p>"
        "<w:p><w:r><w:rPr><w:b/></w:rPr><w:t>Revenue</w:t></w:r>"
        '<w:r><w:t xml:space="preserve"> grew across all segments.</w:t></w:r></w:p>'
        "<w:tbl>"
        "<w:tr><w:tc><w:p><w:r><w:t>Segment</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>Growth</w:t></w:r></w:p></w:tc></w:tr>"
        "<w:tr><w:tc><w:p><w:r><w:t>Cloud</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>12%</w:t></w:r></w:p></w:tc></w:tr>"
        "</w:tbl>"
    )
    styles = ('<w:style w:styleId="Heading1">'
              '<w:name w:val="heading 1"/></w:style>')
    return _zip({
        "word/document.xml":
            f'<?xml version="1.0"?><w:document {W}><w:body>{body}</w:body>'
            "</w:document>",
        "word/styles.xml":
            f'<?xml version="1.0"?><w:styles {W}>{styles}</w:styles>',
        "word/_rels/document.xml.rels":
            f"<Relationships {RELS_NS}></Relationships>",
    })


def build_pptx() -> bytes:
    def sp(ph_type: str, text: str) -> str:
        return (f'<p:sp><p:nvSpPr><p:nvPr><p:ph type="{ph_type}"/></p:nvPr>'
                f"</p:nvSpPr><p:txBody><a:p><a:r><a:t>{text}</a:t></a:r>"
                f"</a:p></p:txBody></p:sp>")

    slides = [
        sp("title", "Roadmap") + sp("body", "Ship the pipeline"),
        sp("title", "Metrics") + sp("body", "Throughput up"),
    ]
    parts = {}
    sld_ids, rels = [], []
    for i, slide in enumerate(slides, 1):
        parts[f"ppt/slides/slide{i}.xml"] = (
            f'<?xml version="1.0"?><p:sld {P}><p:cSld><p:spTree>{slide}'
            "</p:spTree></p:cSld></p:sld>"
        )
        sld_ids.append(f'<p:sldId id="{255 + i}" r:id="rId{i}"/>')
        rels.append(f'<Relationship Id="rId{i}" Type=".../slide" '
                    f'Target="slides/slide{i}.xml"/>')
    parts["ppt/presentation.xml"] = (
        f'<?xml version="1.0"?><p:presentation {P}><p:sldIdLst>'
        f"{''.join(sld_ids)}</p:sldIdLst></p:presentation>"
    )
    parts["ppt/_rels/presentation.xml.rels"] = (
        f"<Relationships {RELS_NS}>{''.join(rels)}</Relationships>"
    )
    return _zip(parts)


def build_xlsx() -> bytes:
    data = (
        '<row r="1"><c r="A1" t="inlineStr"><is><t>item</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>count</t></is></c></row>'
        '<row r="2"><c r="A2" t="s"><v>0</v></c><c r="B2"><v>3</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>1</v></c><c r="B3"><v>2.5</v></c></row>'
    )
    shared = "".join(f"<si><t>{s}</t></si>" for s in ("widget", "gadget"))
    return _zip({
        "xl/workbook.xml":
            f'<?xml version="1.0"?><workbook {X}><sheets>'
            '<sheet name="Inventory" sheetId="1" r:id="rId1"/></sheets>'
            "</workbook>",
        "xl/_rels/workbook.xml.rels":
            f'<Relationships {RELS_NS}><Relationship Id="rId1" '
            'Type=".../worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        "xl/worksheets/sheet1.xml":
            f'<?xml version="1.0"?><worksheet {X}><sheetData>{data}'
            "</sheetData></worksheet>",
        "xl/sharedStrings.xml":
            f'<?xml version="1.0"?><sst {X}>{shared}</sst>',
    })


# ---------------------------------------------------------------------------
# minimal OLE2 + BIFF8 writer (just enough for xls_conv.parse_xls)
# ---------------------------------------------------------------------------

def _biff_record(opcode: int, payload: bytes) -> bytes:
    return struct.pack("<HH", opcode, len(payload)) + payload


def _biff_label(row: int, col: int, text: str) -> bytes:
    s = struct.pack("<H", len(text)) + b"\x00" + text.encode("latin-1")
    return _biff_record(0x0204, struct.pack("<HHH", row, col, 0) + s)


def _biff_number(row: int, col: int, val: float) -> bytes:
    return _biff_record(
        0x0203, struct.pack("<HHH", row, col, 0) + struct.pack("<d", val)
    )


def build_xls() -> bytes:
    sheet_name = "Ledger"
    # sheet substream
    sheet = (
        _biff_record(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        + _biff_label(0, 0, "account")
        + _biff_label(0, 1, "balance")
        + _biff_label(1, 0, "ops")
        + _biff_number(1, 1, 1250.0)
        + _biff_label(2, 0, "r&d")
        + _biff_number(2, 1, 99.5)
        + _biff_record(0x000A, b"")
    )
    # globals substream: BOF + BOUNDSHEET (offset patched) + EOF
    name_s = bytes([len(sheet_name)]) + b"\x00" + sheet_name.encode("latin-1")
    bof_g = _biff_record(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    bsheet_payload = struct.pack("<I", 0) + b"\x00\x00" + name_s
    bsheet = _biff_record(0x0085, bsheet_payload)
    eof_g = _biff_record(0x000A, b"")
    sheet_offset = len(bof_g) + len(bsheet) + len(eof_g)
    bsheet = _biff_record(
        0x0085, struct.pack("<I", sheet_offset) + b"\x00\x00" + name_s
    )
    stream = bof_g + bsheet + eof_g + sheet
    # pad above the 4096-byte mini-stream cutoff so the stream lives in
    # regular FAT sectors (keeps the container to header+FAT+dir+data)
    stream = stream + b"\x00" * max(0, 4096 - len(stream))

    sector_size = 512
    n_stream_sectors = (len(stream) + sector_size - 1) // sector_size
    stream = stream.ljust(n_stream_sectors * sector_size, b"\x00")

    FREESECT, ENDOFCHAIN, FATSECT = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD
    # layout: sector 0 = FAT, sector 1 = directory, sectors 2.. = stream
    fat = [FATSECT, ENDOFCHAIN]  # FAT itself, directory
    for i in range(n_stream_sectors):
        fat.append(2 + i + 1 if i < n_stream_sectors - 1 else ENDOFCHAIN)
    fat += [FREESECT] * (sector_size // 4 - len(fat))
    fat_sector = struct.pack(f"<{sector_size // 4}I", *fat)

    def dir_entry(name: str, obj_type: int, start: int, size: int) -> bytes:
        raw = name.encode("utf-16-le")
        return (
            raw.ljust(64, b"\x00")
            + struct.pack("<H", len(raw) + 2)
            + bytes([obj_type, 1])
            + struct.pack("<iii", -1, -1, -1)
            + b"\x00" * 16          # clsid
            + b"\x00" * 4           # state
            + b"\x00" * 16          # ctime/mtime
            + struct.pack("<I", start)
            + struct.pack("<Q", size)
        )

    directory = (
        dir_entry("Root Entry", 5, ENDOFCHAIN, 0)
        + dir_entry("Workbook", 2, 2, len(stream))
        + b"\x00" * 128 * 2
    )

    header = (
        b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
        + b"\x00" * 16                     # clsid
        + struct.pack("<HH", 0x003E, 0x0003)   # minor, major
        + struct.pack("<H", 0xFFFE)        # little-endian
        + struct.pack("<HH", 9, 6)         # sector/mini shifts
        + b"\x00" * 6                      # reserved
        + struct.pack("<I", 0)             # num dir sectors (v3: 0)
        + struct.pack("<I", 1)             # num FAT sectors
        + struct.pack("<I", 1)             # first dir sector
        + struct.pack("<I", 0)             # transaction
        + struct.pack("<I", 4096)          # mini cutoff
        + struct.pack("<I", ENDOFCHAIN)    # first minifat
        + struct.pack("<I", 0)             # num minifat
        + struct.pack("<I", ENDOFCHAIN)    # first difat
        + struct.pack("<I", 0)             # num difat
        + struct.pack("<I", 0)             # DIFAT[0] -> FAT at sector 0
        + struct.pack("<108I", *([FREESECT] * 108))
    )
    assert len(header) == 512, len(header)
    return header + fat_sector + directory.ljust(512, b"\x00") + stream


IPYNB = """{
 "cells": [
  {"cell_type": "markdown", "metadata": {},
   "source": ["# Analysis notebook\\n", "Loads the table."]},
  {"cell_type": "code", "execution_count": 1, "metadata": {},
   "outputs": [{"name": "stdout", "output_type": "stream",
                "text": ["rows: 42\\n"]}],
   "source": ["print('rows:', 6 * 7)"]}
 ],
 "metadata": {"language_info": {"name": "python"}},
 "nbformat": 4, "nbformat_minor": 5
}"""


def main() -> None:
    cases = [
        ("docx", base64.b64encode(build_docx()).decode("ascii"), None),
        ("pptx", base64.b64encode(build_pptx()).decode("ascii"), None),
        ("xlsx", base64.b64encode(build_xlsx()).decode("ascii"), None),
        ("xls", base64.b64encode(build_xls()).decode("ascii"), None),
        ("ipynb", IPYNB, "ipynb"),
    ]
    # the production kernel: binary formats are sniffed from base64 magic
    out = convert_batch(pd.DataFrame(
        [(payload, hint) for _, payload, hint in cases],
        columns=["text", "tool"],
    ))
    fixtures = {}
    for (fmt, payload, _), row in zip(cases, out.itertuples()):
        assert row.error is None, (fmt, row.error)
        assert row.fmt == fmt, (fmt, row.fmt)
        assert row.n_warnings == 0, (fmt, row.warning_codes)
        fixtures[fmt] = (payload, row.markdown, int(row.bytes_in))
        print(f"{fmt}: {row.bytes_in} bytes, md {len(row.markdown)} chars")

    lines = [
        '"""Fixed binary-format fixtures for the driver correctness gate.',
        "",
        "Generated by scripts/gen_binary_fixtures.py (committed output; see",
        "that script for the document structure). Each entry: (payload",
        "literal carried in the transcripts text column, expected Markdown,",
        "decoded payload size in bytes).",
        '"""',
        "",
        "BIN_FIXTURES = {",
    ]
    for fmt, (payload, md, nbytes) in fixtures.items():
        lines.append(f"    {fmt!r}: (")
        lines.append(f"        {payload!r},")
        lines.append(f"        {md!r},")
        lines.append(f"        {nbytes},")
        lines.append("    ),")
    lines.append("}")
    path = os.path.join(os.path.dirname(anytomd_spark.__file__),
                        "binfixtures.py")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
