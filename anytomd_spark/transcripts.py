"""Deterministic synthetic transcripts generation.

Produces the input table of the north rule:

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

Every payload is a function of ``(seed, conv_id, turn_idx)`` only, so the
table is identical regardless of partitioning or parallelism — required for
the two-parallelism scaling benchmark to run on byte-identical input.

Payloads cover the full format surface of the reference converter: HTML
pages with boilerplate (script/style/nav), CSV with quoting and multiline
cells, JSON, XML, source code, markdown/plain text, ipynb notebooks, and
base64-carried DOCX/PPTX/XLSX built as minimal OOXML ZIPs in-memory.

Skew: conversation lengths are Zipf-ish with a configurable fraction of
mega-conversations, exercising the salted-repartition path.
"""

from __future__ import annotations

import base64
import datetime as _dt
import io
import random
import zipfile
import zlib

import numpy as np
import pandas as pd

_WORDS = (
    "data pipeline spark convert markdown table heading extraction cluster "
    "shuffle partition arrow batch kernel format payload transcript turn "
    "quality tokens language dedup similarity vector embedding sketch "
    "window ordered lineage checkpoint resume metric throughput scale"
).split()
_CJK = "한국어 테스트 中文文本 日本語テキスト"
_EMOJI = "🚀✨🌍🎉"


def _sentence(rng: random.Random, lo: int = 4, hi: int = 12) -> str:
    n = rng.randint(lo, hi)
    words = [rng.choice(_WORDS) for _ in range(n)]
    if rng.random() < 0.08:
        words.append(rng.choice(_CJK.split()))
    if rng.random() < 0.05:
        words.append(rng.choice(_EMOJI))
    return " ".join(words)


# --------------------------------------------------------------------------
# per-format payload builders
# --------------------------------------------------------------------------

def build_html(rng: random.Random) -> str:
    parts = [
        "<!DOCTYPE html>\n<html>\n<head>\n",
        f"<title>{_sentence(rng, 2, 5)}</title>\n",
        "<style>body { color: #222; }</style>\n",
        '<script>console.log("boilerplate");</script>\n',
        "</head>\n<body>\n",
        f"<h1>{_sentence(rng, 2, 5)}</h1>\n",
    ]
    for _ in range(rng.randint(2, 6)):
        kind = rng.randrange(6)
        if kind == 0:
            parts.append(
                f"<p>{_sentence(rng)} <strong>{rng.choice(_WORDS)}</strong> "
                f"and <em>{rng.choice(_WORDS)}</em> with "
                f"<code>{rng.choice(_WORDS)}()</code>.</p>\n"
            )
        elif kind == 1:
            items = "".join(
                f"<li>{_sentence(rng, 1, 4)}</li>" for _ in range(rng.randint(2, 5))
            )
            tag = rng.choice(("ul", "ol"))
            parts.append(f"<{tag}>{items}</{tag}>\n")
        elif kind == 2:
            ncol = rng.randint(2, 4)
            header = "".join(f"<th>c{i}</th>" for i in range(ncol))
            rows = "".join(
                "<tr>"
                + "".join(f"<td>{rng.randint(0, 999)}</td>" for _ in range(ncol))
                + "</tr>"
                for _ in range(rng.randint(1, 4))
            )
            parts.append(
                f"<table><thead><tr>{header}</tr></thead>"
                f"<tbody>{rows}</tbody></table>\n"
            )
        elif kind == 3:
            parts.append(
                f"<h2>{_sentence(rng, 2, 4)}</h2>\n"
                f'<p>Visit <a href="https://example.com/{rng.choice(_WORDS)}">'
                f"{_sentence(rng, 1, 3)}</a> for details.</p>\n"
            )
        elif kind == 4:
            parts.append(
                f"<blockquote><p>{_sentence(rng)}</p></blockquote>\n<hr>\n"
            )
        else:
            parts.append(
                f"<pre><code>def f():\n    return {rng.randint(0, 99)}"
                f"</code></pre>\n"
            )
    parts.append("</body>\n</html>\n")
    return "".join(parts)


def build_csv(rng: random.Random) -> str:
    ncol = rng.randint(2, 5)
    lines = [",".join(f"col{i}" for i in range(ncol))]
    for _ in range(rng.randint(2, 8)):
        cells = []
        for _ in range(ncol):
            r = rng.random()
            if r < 0.1:
                cells.append(f'"multi\nline {rng.choice(_WORDS)}"')
            elif r < 0.2:
                cells.append(f'"pipe|{rng.choice(_WORDS)}"')
            elif r < 0.3:
                cells.append(rng.choice(_CJK.split()))
            else:
                cells.append(str(rng.randint(0, 9999)))
        lines.append(",".join(cells))
    return "\n".join(lines) + "\n"


def build_json(rng: random.Random) -> str:
    import json as _json

    obj = {
        "title": _sentence(rng, 2, 4),
        "version": rng.randint(1, 9),
        "tags": [rng.choice(_WORDS) for _ in range(rng.randint(1, 4))],
        "metadata": {"lang": rng.choice(("en", "ko", "zh")), "id": rng.randint(0, 1 << 30)},
        "items": [
            {"id": i, "name": rng.choice(_WORDS)} for i in range(rng.randint(1, 4))
        ],
    }
    return _json.dumps(obj)  # compact input; kernel pretty-prints


def build_xml(rng: random.Random) -> str:
    sections = "".join(
        f'<section id="{i}"><heading>{_sentence(rng, 1, 3)}</heading>'
        f"<paragraph>{_sentence(rng)}</paragraph></section>"
        for i in range(rng.randint(1, 4))
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f"<document><meta><title>{_sentence(rng, 2, 4)}</title></meta>"
        f"<sections>{sections}</sections></document>"
    )


def build_code(rng: random.Random) -> tuple[str, str]:
    ext = rng.choice(("py", "js", "rs", "go", "sql"))
    body = "\n".join(
        f"# {_sentence(rng, 2, 6)}" if ext == "py" else f"// {_sentence(rng, 2, 6)}"
        for _ in range(rng.randint(2, 6))
    )
    return f"{body}\nvalue = {rng.randint(0, 999)}\n", ext


def build_txt(rng: random.Random) -> tuple[str, str]:
    ext = rng.choice(("txt", "md", "log"))
    paras = "\n\n".join(_sentence(rng, 6, 20) for _ in range(rng.randint(1, 4)))
    return paras + "\n", ext


def build_ipynb(rng: random.Random) -> str:
    import json as _json

    cells = [
        {"cell_type": "markdown", "source": f"# {_sentence(rng, 2, 4)}"},
        {"cell_type": "code", "source": f"x = {rng.randint(0, 99)}\nprint(x)"},
    ]
    if rng.random() < 0.5:
        cells.append({"cell_type": "markdown", "source": _sentence(rng)})
    return _json.dumps({
        "cells": cells,
        "metadata": {"kernelspec": {"language": "python"}},
        "nbformat": 4,
    })


_ZIP_DATE = (2020, 1, 1, 0, 0, 0)  # fixed entry timestamps for determinism


def _make_zip(entries: dict[str, str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, content in entries.items():
            info = zipfile.ZipInfo(name, date_time=_ZIP_DATE)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, content)
    return buf.getvalue()


_W = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
_RELS_NS = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'


def build_docx(rng: random.Random) -> bytes:
    paras = [
        f'<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
        f"<w:r><w:t>{_sentence(rng, 2, 5)}</w:t></w:r></w:p>"
    ]
    for _ in range(rng.randint(2, 5)):
        if rng.random() < 0.3:
            paras.append(
                f"<w:p><w:r><w:rPr><w:b/></w:rPr><w:t>{rng.choice(_WORDS)}</w:t>"
                f"</w:r><w:r><w:t xml:space=\"preserve\"> {_sentence(rng)}</w:t>"
                f"</w:r></w:p>"
            )
        else:
            paras.append(f"<w:p><w:r><w:t>{_sentence(rng)}</w:t></w:r></w:p>")
    document = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f"<w:document {_W}><w:body>{''.join(paras)}</w:body></w:document>"
    )
    styles = (
        f'<?xml version="1.0"?><w:styles {_W}>'
        f'<w:style w:styleId="Heading1"><w:name w:val="heading 1"/></w:style>'
        f"</w:styles>"
    )
    return _make_zip({
        "word/document.xml": document,
        "word/styles.xml": styles,
        "word/_rels/document.xml.rels": f'<Relationships {_RELS_NS}/>',
    })


_P_NS = (
    'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
    'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
)


def build_pptx(rng: random.Random) -> bytes:
    n_slides = rng.randint(1, 3)
    entries: dict[str, str] = {}
    sld_ids = []
    rels = []
    for i in range(1, n_slides + 1):
        title = _sentence(rng, 2, 4)
        body = _sentence(rng)
        entries[f"ppt/slides/slide{i}.xml"] = (
            f'<?xml version="1.0"?><p:sld {_P_NS}><p:cSld><p:spTree>'
            f'<p:sp><p:nvSpPr><p:nvPr><p:ph type="title"/></p:nvPr></p:nvSpPr>'
            f"<p:txBody><a:p><a:r><a:t>{title}</a:t></a:r></a:p></p:txBody></p:sp>"
            f'<p:sp><p:nvSpPr><p:nvPr><p:ph type="body"/></p:nvPr></p:nvSpPr>'
            f"<p:txBody><a:p><a:r><a:t>{body}</a:t></a:r></a:p></p:txBody></p:sp>"
            f"</p:spTree></p:cSld></p:sld>"
        )
        sld_ids.append(f'<p:sldId id="{255 + i}" r:id="rId{i}"/>')
        rels.append(
            f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/'
            f'officeDocument/2006/relationships/slide" Target="slides/slide{i}.xml"/>'
        )
    entries["ppt/presentation.xml"] = (
        f'<?xml version="1.0"?><p:presentation {_P_NS}>'
        f"<p:sldIdLst>{''.join(sld_ids)}</p:sldIdLst></p:presentation>"
    )
    entries["ppt/_rels/presentation.xml.rels"] = (
        f'<Relationships {_RELS_NS}>{"".join(rels)}</Relationships>'
    )
    return _make_zip(entries)


_X_NS = (
    'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
)


def build_xlsx(rng: random.Random) -> bytes:
    ncol = rng.randint(2, 4)
    nrow = rng.randint(2, 6)
    header = "".join(
        f'<c r="{chr(65 + c)}1" t="inlineStr"><is><t>h{c}</t></is></c>'
        for c in range(ncol)
    )
    rows = [f'<row r="1">{header}</row>']
    for r in range(2, nrow + 2):
        cells = []
        for c in range(ncol):
            if rng.random() < 0.25:
                cells.append(
                    f'<c r="{chr(65 + c)}{r}" t="inlineStr"><is>'
                    f"<t>{rng.choice(_WORDS)}</t></is></c>"
                )
            else:
                val = rng.randint(0, 9999) if rng.random() < 0.7 else round(rng.uniform(0, 100), 2)
                cells.append(f'<c r="{chr(65 + c)}{r}"><v>{val}</v></c>')
        rows.append(f'<row r="{r}">{"".join(cells)}</row>')
    sheet = (
        f'<?xml version="1.0"?><worksheet {_X_NS}>'
        f"<sheetData>{''.join(rows)}</sheetData></worksheet>"
    )
    workbook = (
        f'<?xml version="1.0"?><workbook {_X_NS}><sheets>'
        f'<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        f'<Relationships {_RELS_NS}><Relationship Id="rId1" '
        f'Type="http://schemas.openxmlformats.org/officeDocument/2006/'
        f'relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>'
    )
    return _make_zip({
        "xl/workbook.xml": workbook,
        "xl/_rels/workbook.xml.rels": rels,
        "xl/worksheets/sheet1.xml": sheet,
    })


# --------------------------------------------------------------------------
# turn assembly
# --------------------------------------------------------------------------

# (weight, kind) — html-heavy per the north rule's boilerplate-strip focus
_FORMAT_MIX = (
    (34, "html"), (12, "json"), (10, "csv"), (8, "xml"), (10, "code"),
    (14, "txt"), (4, "ipynb"), (4, "docx"), (2, "pptx"), (2, "xlsx"),
)
_MIX_TOTAL = sum(w for w, _ in _FORMAT_MIX)
_BASE_TS = _dt.datetime(2026, 1, 1)


def _pick_format(rng: random.Random) -> str:
    r = rng.randrange(_MIX_TOTAL)
    acc = 0
    for w, kind in _FORMAT_MIX:
        acc += w
        if r < acc:
            return kind
    return "txt"


def turn_payload(seed: int, conv_id: str, turn_idx: int) -> tuple[str, str, str]:
    """Deterministic (role, text, tool) for one turn."""
    key = f"{seed}:{conv_id}:{turn_idx}".encode()
    rng = random.Random(zlib.crc32(key))
    role = ("user", "assistant", "tool")[turn_idx % 3]
    kind = _pick_format(rng)
    tool = ""
    if kind == "html":
        text = build_html(rng)
    elif kind == "json":
        text = build_json(rng)
    elif kind == "csv":
        text = build_csv(rng)
        tool = "csv"
    elif kind == "xml":
        text = build_xml(rng)
    elif kind == "code":
        text, tool = build_code(rng)
    elif kind == "txt":
        text, tool = build_txt(rng)
    elif kind == "ipynb":
        text = build_ipynb(rng)
        tool = "ipynb"
    elif kind == "docx":
        text = base64.b64encode(build_docx(rng)).decode("ascii")
    elif kind == "pptx":
        text = base64.b64encode(build_pptx(rng)).decode("ascii")
    else:
        text = base64.b64encode(build_xlsx(rng)).decode("ascii")
    return role, text, tool


def conversation_sizes(
    n_convs: int, seed: int, mega_every: int = 5000, mega_size: int = 2000
) -> np.ndarray:
    """Zipf-ish turn counts with periodic mega-conversations (skew)."""
    rng = np.random.default_rng(seed)
    sizes = np.minimum(rng.zipf(1.7, n_convs), 60).astype(np.int64)
    sizes = np.maximum(sizes, 1)
    if mega_every > 0:
        sizes[::mega_every] = mega_size
    return sizes


def generate_batch(
    global_ids: np.ndarray, cum_sizes: np.ndarray, seed: int
) -> pd.DataFrame:
    """Materialize the turn rows for a batch of global turn indices."""
    conv_nums = np.searchsorted(cum_sizes, global_ids, side="right")
    conv_starts = np.where(conv_nums > 0, cum_sizes[conv_nums - 1], 0)
    turn_idxs = (global_ids - conv_starts).astype(np.int64)

    rows = []
    for gid, conv_num, turn_idx in zip(global_ids, conv_nums, turn_idxs):
        conv_id = f"conv-{conv_num:08d}"
        role, text, tool = turn_payload(seed, conv_id, int(turn_idx))
        ts = _BASE_TS + _dt.timedelta(seconds=int(gid) % 86400)
        rows.append((conv_id, int(turn_idx), role, text, tool, ts))
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )


TRANSCRIPTS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def generate_transcripts(spark, n_convs: int, seed: int = 42,
                         mega_every: int = 5000, mega_size: int = 2000,
                         partitions: int = 64):
    """Distributed deterministic generation via mapInPandas over a range."""
    sizes = conversation_sizes(n_convs, seed, mega_every, mega_size)
    cum = np.cumsum(sizes)
    total_turns = int(cum[-1])
    cum_list = cum.tolist()

    def gen(iterator):
        cum_arr = np.asarray(cum_list, dtype=np.int64)
        for pdf in iterator:
            ids = pdf["id"].to_numpy()
            yield generate_batch(ids, cum_arr, seed)

    return (
        spark.range(0, total_turns, 1, partitions)
        .mapInPandas(gen, schema=TRANSCRIPTS_SCHEMA)
    )
