"""XLSX to Markdown conversion kernel (direct OOXML parse, no calamine).

Reimplements ``/root/reference/src/converter/xlsx.rs`` semantics:
per-sheet ``## SheetName`` + pipe table with first row as header
(convert_inner :246-329), cell formatting (format_cell :184-237 — whole
floats -> int, bools -> TRUE/FALSE, datetimes -> ``YYYY-MM-DD[ HH:MM:SS]``,
error cells -> text + MalformedSegment warning), empty sheets skipped,
sections joined by ``\\n``, Excel column letters in warning locations
(col_letter :161-172). The bounding-box range semantics match calamine's
``worksheet_range``: iteration starts at the minimal (row, col) corner that
holds data and pads gaps with empty cells.
"""

from __future__ import annotations

import datetime as _dt
import re

from anytomd_spark.kernels.decode import MALFORMED_SEGMENT, SKIPPED_ELEMENT, warning
from anytomd_spark.kernels.markdown import (
    escape_cell,
    format_heading,
)
from anytomd_spark.kernels.ooxml import (
    attr_suffix,
    open_zip,
    parse_relationships,
    parse_xml_events,
    parse_xml_events_raw,
    read_zip_text,
    validate_zip_budget,
)
from anytomd_spark.kernels.simple import MalformedDocument

_CELL_REF = re.compile(r"([A-Z]+)([0-9]+)")

# Built-in date/time number formats (ECMA-376 §18.8.30), as calamine detects
_BUILTIN_DATE_FMTS = set(range(14, 23)) | set(range(45, 48))
_DATE_TOKEN = re.compile(r"[ymdhs]", re.IGNORECASE)


def col_letter(col: int) -> str:
    """0-based column index -> Excel letters (xlsx.rs:161-172)."""
    result = ""
    n = col
    while True:
        result = chr(ord("A") + n % 26) + result
        if n < 26:
            break
        n = n // 26 - 1
    return result


def _col_index(letters: str) -> int:
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


_INF = float("inf")


def format_float(f: float) -> str:
    """Rust ``f64::to_string`` = shortest round-trip, like Python repr.

    Branch order is the whole-number fast path first: ``is_integer`` is
    one C call (False for NaN/inf, so those fall through safely) and
    spreadsheet cells are overwhelmingly whole numbers."""
    if f.is_integer():
        if -1e17 < f < 1e17:
            return str(int(f))  # format_cell: fract()==0 -> "{:.0}"
        # Rust {:.0}/Display expand digits positionally even for huge
        # whole values; repr() would switch to '1e+20'-style notation
        return f"{f:.0f}"
    if f != f:
        return "NaN"
    if f == _INF:
        return "inf"
    if f == -_INF:
        return "-inf"
    return repr(f)


def excel_serial_to_datetime(serial: float) -> _dt.datetime | None:
    """1900 date system; serial 1 = 1900-01-01 (base 1899-12-30 after the
    Lotus leap bug for serials >= 60, matching calamine's as_datetime)."""
    # NaN/inf serials: int() would raise (found by the worksheet
    # Hypothesis soup); treat as non-dates -> format_float fallback
    if serial < 0 or serial != serial or serial == float("inf"):
        return None
    base = _dt.datetime(1899, 12, 30)
    if serial < 60:
        base = _dt.datetime(1899, 12, 31)
    days = int(serial)
    frac = serial - days
    seconds = round(frac * 86400)
    try:
        return base + _dt.timedelta(days=days, seconds=seconds)
    except OverflowError:
        return None


def _format_datetime(serial: float) -> str:
    ndt = excel_serial_to_datetime(serial)
    if ndt is None:
        return format_float(serial)
    if ndt.hour == 0 and ndt.minute == 0 and ndt.second == 0:
        return f"{ndt.year:04d}-{ndt.month:02d}-{ndt.day:02d}"
    return (
        f"{ndt.year:04d}-{ndt.month:02d}-{ndt.day:02d} "
        f"{ndt.hour:02d}:{ndt.minute:02d}:{ndt.second:02d}"
    )


def parse_shared_strings(xml: str) -> list[str]:
    """sharedStrings.xml -> list of strings (rich-text runs concatenated).

    Expat only: a single-regex fast scan was built and
    interleaved-A/B'd at 0.81x (sst has ~5 expat events per string, so
    the guard battery + 120k match objects cost more than the callbacks
    they remove) — see PLANS.md round-6 negative result."""
    strings: list[str] = []
    st = {"in_si": False, "in_t": False, "parts": [], "in_rph": 0}

    def start(local, attrs):
        if local == "si":
            st["in_si"] = True
            st["parts"] = []
        elif local in ("rPh", "phoneticPr"):
            st["in_rph"] += 1
        elif local == "t" and st["in_si"] and not st["in_rph"]:
            st["in_t"] = True

    def text(data):
        if st["in_t"]:
            st["parts"].append(data)

    def end(local):
        if local == "si":
            strings.append("".join(st["parts"]))
            st["in_si"] = False
        elif local in ("rPh", "phoneticPr"):
            st["in_rph"] = max(0, st["in_rph"] - 1)
        elif local == "t":
            st["in_t"] = False

    parse_xml_events(xml, start, end, text)
    return strings


def parse_date_styles(styles_xml: str) -> set[int]:
    """Indices into cellXfs whose numFmt is date/time-like."""
    custom_date_fmts: set[int] = set()
    xf_fmt_ids: list[int] = []
    st = {"in_cellxfs": False}

    def _is_date_code(code: str) -> bool:
        # strip bracketed sections, quoted literals, colors
        cleaned = re.sub(r"\[[^\]]*\]|\"[^\"]*\"|\\.", "", code)
        return bool(_DATE_TOKEN.search(cleaned))

    def start(local, attrs):
        if local == "numFmt":
            fmt_id = attrs.get("numFmtId")
            code = attrs.get("formatCode", "")
            if fmt_id is not None and fmt_id.isdigit() and _is_date_code(code):
                custom_date_fmts.add(int(fmt_id))
        elif local == "cellXfs":
            st["in_cellxfs"] = True
        elif local == "xf" and st["in_cellxfs"]:
            fmt_id = attrs.get("numFmtId", "0")
            xf_fmt_ids.append(int(fmt_id) if fmt_id.isdigit() else 0)

    def end(local):
        if local == "cellXfs":
            st["in_cellxfs"] = False

    parse_xml_events(styles_xml, start, end, lambda d: None)

    date_styles: set[int] = set()
    for i, fmt_id in enumerate(xf_fmt_ids):
        if fmt_id in _BUILTIN_DATE_FMTS or fmt_id in custom_date_fmts:
            date_styles.add(i)
    return date_styles


def parse_sheet_cells(
    xml: str, shared: list[str], date_styles: set[int]
) -> tuple[dict[int, str], dict[int, str]]:
    """sheetData cells -> ({row<<32 | col: formatted string},
    {row<<32 | col: error text}) — keys are packed ints (a two-int
    tuple key costs ~80B more per cell; see the memory note below).

    Cells are formatted to their final strings AT PARSE TIME (whole
    floats -> int, bools -> TRUE/FALSE, date serials -> ISO, xlsx.rs
    format_cell :184-237): a 210k-cell sheet otherwise holds a
    per-cell value tuple + boxed payload (~220 B/cell of pure Python
    object overhead) until a second formatting pass — measured ~40% of
    the 10 MB conversion's peak RSS. Error cells keep their text in the
    second map so the caller can emit MalformedSegment warnings with
    range-relative locations once the bounding box is known; a later
    write to the same cell ref clears any earlier error there (last
    write wins, exactly like the single-map design).
    """
    # one handler call per XML event: nonlocal scalars instead of a
    # state dict, branches ordered by event frequency (c/v/t dominate;
    # row is 1-per-row)
    cells: dict[int, str] = {}
    errors: dict[int, str] = {}
    row, col, next_col = 0, -1, 0
    t = s = None
    in_v = in_is_t = False
    # accumulators reused across cells (cleared, not reallocated)
    v: list[str] = []
    is_t: list[str] = []
    v_append, is_t_append = v.append, is_t.append
    v_clear, is_t_clear = v.clear, is_t.clear
    n_shared = len(shared)
    # raw-name handlers (parse_xml_events_raw): the qualified->local
    # memoization lives inline so expat calls these directly — one
    # Python call per element instead of two (~10% of the 10 MB path)
    local_names: dict[str, str] = {}

    def start(name, attrs):
        nonlocal row, col, next_col, t, s, in_v, in_is_t
        try:
            local = local_names[name]
        except KeyError:
            local = local_names[name] = name[name.rfind(":") + 1:]
        if local == "c":
            ref = attrs.get("r")
            if ref:
                m = _CELL_REF.match(ref)
                # spreadsheet bounds guard (Excel caps at XFD/1048576):
                # a malformed ref like AAAAAAA1 would otherwise produce a
                # col that bleeds into the packed key's row bits AND a
                # multi-billion-column bounding box in the grid loop
                if m and len(m.group(1)) <= 3 and len(m.group(2)) <= 7:
                    letters, digits = m.group(1, 2)
                    col = _col_index(letters)
                    row = int(digits) - 1
                else:
                    col = next_col
            else:
                col = next_col
            next_col = col + 1
            t = attrs.get("t", "n")
            sref = attrs.get("s")
            s = int(sref) if sref and sref.isdigit() else None
            v_clear()
            is_t_clear()
        elif local == "v":
            in_v = True
        elif local == "t":
            in_is_t = True
        elif local == "row":
            # mirror the cell-ref bounds guard: a crafted <row
            # r="99999999999"> would otherwise set a multi-billion-row
            # bounding box and an unbounded grid-building loop (Excel
            # caps rows at 1048576)
            r = attrs.get("r")
            row = (
                int(r) - 1
                if r and r.isdigit() and len(r) <= 7 and 0 < int(r) <= 1048576
                else row + 1
            )
            next_col = 0

    def text(data):
        if in_v:
            v_append(data)
        elif in_is_t:
            is_t_append(data)

    def end(name):
        nonlocal in_v, in_is_t
        try:
            local = local_names[name]
        except KeyError:
            local = local_names[name] = name[name.rfind(":") + 1:]
        if local == "v":
            in_v = False
        elif local == "c":
            raw = "".join(v)
            key = (row << 32) | col  # packed key: ~80B/cell cheaper than a tuple
            # numeric: "n" (the default type, checked first) or any
            # unknown explicit type
            if t == "n" or t not in {"s", "inlineStr", "str", "b", "e"}:
                if raw:
                    try:
                        f = float(raw)
                    except ValueError:
                        cells[key] = raw
                    else:
                        if s is not None and s in date_styles:
                            cells[key] = _format_datetime(f)
                        else:
                            cells[key] = format_float(f)
                    if errors:
                        errors.pop(key, None)
            elif t == "s":
                if raw.isdigit():
                    idx = int(raw)
                    if idx < n_shared:
                        cells[key] = shared[idx]
                        if errors:
                            errors.pop(key, None)
            elif t == "inlineStr":
                cells[key] = "".join(is_t)
                if errors:
                    errors.pop(key, None)
            elif t == "str":
                cells[key] = raw
                if errors:
                    errors.pop(key, None)
            elif t == "b":
                if raw:
                    cells[key] = (
                        "TRUE" if raw.strip() in ("1", "true", "TRUE")
                        else "FALSE"
                    )
                    if errors:
                        errors.pop(key, None)
            elif t == "e":
                if raw:
                    err = raw.strip()
                    cells[key] = err
                    errors[key] = err
        elif local == "t":
            in_is_t = False

    parse_xml_events_raw(xml, start, end, text)
    return cells, errors


def _format_cell(
    value: tuple | None, location: str, warnings: list[dict]
) -> str:
    if value is None:
        return ""
    kind, v = value
    if kind == "s":
        return v
    if kind == "f":
        return format_float(v)
    if kind == "b":
        return "TRUE" if v else "FALSE"
    if kind == "d":
        return _format_datetime(v)
    if kind == "e":
        warnings.append(warning(
            MALFORMED_SEGMENT, f"cell contains error: {v}", location
        ))
        return v
    return ""


def _sheet_targets(zf) -> list[tuple[str, str]]:
    """workbook.xml sheet order -> [(name, worksheet path)]."""
    workbook_xml = read_zip_text(zf, "xl/workbook.xml")
    if workbook_xml is None:
        raise MalformedDocument("missing xl/workbook.xml")
    rels_xml = read_zip_text(zf, "xl/_rels/workbook.xml.rels")
    rels = parse_relationships(rels_xml) if rels_xml is not None else {}

    sheets: list[tuple[str, str]] = []

    def start(local, attrs):
        if local == "sheet":
            name = attrs.get("name", "")
            rid = attr_suffix(attrs, "id")
            target = None
            if rid is not None and rid in rels:
                target = rels[rid][0]
            if target is None:
                target = f"worksheets/sheet{len(sheets) + 1}.xml"
            if target.startswith("/"):
                path = target[1:]
            elif target.startswith("xl/"):
                path = target
            else:
                path = f"xl/{target}"
            sheets.append((name, path))

    parse_xml_events(workbook_xml, start, lambda l: None, lambda d: None)
    return sheets


def parse_drawing_blips(xml: str) -> list[str]:
    """Drawing XML -> ordered blip relationship ids (xlsx.rs:130-160)."""
    rel_ids: list[str] = []

    def start(local, attrs):
        if local == "blip":
            rid = attr_suffix(attrs, "embed")
            if rid is not None:
                rel_ids.append(rid)

    parse_xml_events(xml, start, lambda l: None, lambda d: None)
    return rel_ids


def extract_sheet_images(zf, sheet_path: str) -> list[tuple[str, bytes]]:
    """(filename, bytes) for every image anchored on the sheet, via
    sheet rels -> drawing XML blips -> drawing rels -> media bytes
    (xlsx.rs extract_sheet_images :32-128)."""
    from anytomd_spark.kernels.markdown import (
        derive_rels_path,
        resolve_relative_path,
    )
    from anytomd_spark.kernels.ooxml import read_zip_bytes

    images: list[tuple[str, bytes]] = []
    sheet_rels_xml = read_zip_text(zf, derive_rels_path(sheet_path))
    if sheet_rels_xml is None:
        return images
    sheet_rels = parse_relationships(sheet_rels_xml)
    for target, _rel_type in sheet_rels.values():
        if "drawing" not in target:
            continue
        if target.startswith("/"):
            drawing_path = target[1:]
        elif target.startswith("../"):
            drawing_path = f"xl/{target[3:]}"
        else:
            drawing_path = f"xl/worksheets/{target}"
        drawing_xml = read_zip_text(zf, drawing_path)
        if drawing_xml is None:
            continue
        blip_ids = parse_drawing_blips(drawing_xml)
        if not blip_ids:
            continue
        drawing_rels_xml = read_zip_text(zf, derive_rels_path(drawing_path))
        if drawing_rels_xml is None:
            continue
        drawing_rels = parse_relationships(drawing_rels_xml)
        drawing_dir = drawing_path.rsplit("/", 1)[0] if "/" in drawing_path else ""
        for rel_id in blip_ids:
            rel = drawing_rels.get(rel_id)
            if rel is None:
                continue
            image_target = rel[0]
            if image_target.startswith("/"):
                image_path = image_target[1:]
            else:
                image_path = resolve_relative_path(drawing_dir, image_target)
            data = read_zip_bytes(zf, image_path)
            if data is not None:
                images.append((image_path.rsplit("/", 1)[-1], data))
    return images


def convert_xlsx(
    data: bytes,
    max_uncompressed_zip_bytes: int = 16 << 30,
    extract_images: bool = False,
    describer=None,
    max_image_bytes: int = 4 << 30,
) -> dict:
    from anytomd_spark.kernels.decode import RESOURCE_LIMIT_REACHED
    from anytomd_spark.kernels.ooxml import resolve_image_placeholders

    try:
        zf = open_zip(data)
    except Exception as e:
        raise MalformedDocument(f"invalid ZIP: {e}") from e
    warnings: list[dict] = []
    sections: list[str] = []
    plain_sections: list[str] = []
    need_image_bytes = extract_images or describer is not None
    images: list[tuple[str, bytes]] = []
    bytes_map: dict[str, bytes] = {}
    image_infos: list[dict] = []
    image_counter = 0
    total_image_bytes = 0
    with zf:
        validate_zip_budget(zf, max_uncompressed_zip_bytes)
        shared_xml = read_zip_text(zf, "xl/sharedStrings.xml")
        shared = parse_shared_strings(shared_xml) if shared_xml is not None else []
        styles_xml = read_zip_text(zf, "xl/styles.xml")
        date_styles = parse_date_styles(styles_xml) if styles_xml is not None else set()

        for name, path in _sheet_targets(zf):
            sheet_xml = read_zip_text(zf, path)
            if sheet_xml is None:
                warnings.append(warning(
                    SKIPPED_ELEMENT,
                    f"failed to read sheet '{name}': not found",
                    name,
                ))
                continue
            cells, cell_errors = parse_sheet_cells(
                sheet_xml, shared, date_styles
            )
            if not cells:
                continue
            # packed keys sort row-major: min/max key give the row bounds
            min_row = min(cells) >> 32
            max_row = max(cells) >> 32
            min_col = min(k & 0xFFFFFFFF for k in cells)
            max_col = max(k & 0xFFFFFFFF for k in cells)

            # warning locations are range-relative, like the reference's
            # enumerate() over calamine's trimmed range — emitted in
            # row-major grid order, exactly as the old per-cell pass did
            for k in sorted(cell_errors):
                r, c = k >> 32, k & 0xFFFFFFFF
                warnings.append(warning(
                    MALFORMED_SEGMENT,
                    f"cell contains error: {cell_errors[k]}",
                    f"{name}!{col_letter(c - min_col)}{r - min_row + 1}",
                ))

            # fused grid walk + render: one pass over the bounding box
            # emitting both tables, instead of materializing a row-list
            # grid and iterating it twice (build_table /
            # build_table_plain). Output is byte-identical to those
            # emitters for the equal-width rows a bounding box yields
            # (padding/truncation is a no-op); locked by the goldens and
            # test_xlsx_fast_scan's large-sheet Markdown check.
            get = cells.get
            empty = ""
            cols = range(min_col, max_col + 1)
            md_parts: list[str] = []
            plain_parts: list[str] = []
            for r in range(min_row, max_row + 1):
                base = r << 32
                vals = [get(base | c, empty) for c in cols]
                md_parts.append(
                    "| " + " | ".join(map(escape_cell, vals)) + " |\n"
                )
                plain_parts.append("\t".join(vals))
                plain_parts.append("\n")
                if r == min_row:
                    md_parts.append("|" + "---|" * len(vals) + "\n")
            section = format_heading(2, name) + "".join(md_parts)
            plain_section = f"{name}\n" + "".join(plain_parts)

            if need_image_bytes:
                image_lines: list[str] = []
                plain_image_lines: list[str] = []
                for filename, img_data in extract_sheet_images(zf, path):
                    total_image_bytes += len(img_data)
                    if total_image_bytes <= max_image_bytes:
                        placeholder = f"__img_{image_counter}__"
                        image_counter += 1
                        image_infos.append({
                            "placeholder": placeholder,
                            "original_alt": "",
                            "filename": filename,
                            "bytes_key": placeholder,
                        })
                        image_lines.append(f"![{placeholder}]({filename})")
                        plain_image_lines.append(placeholder)
                        if extract_images:
                            images.append((filename, img_data))
                        bytes_map[placeholder] = img_data
                    else:
                        warnings.append(warning(
                            RESOURCE_LIMIT_REACHED,
                            f"total image bytes exceeded limit "
                            f"({max_image_bytes})",
                            filename,
                        ))
                if image_lines:
                    section += "\n" + "\n".join(image_lines)
                    plain_section += "\n" + "\n".join(plain_image_lines)

            sections.append(section)
            plain_sections.append(plain_section)

    markdown = "\n".join(sections)
    plain_text = "\n".join(plain_sections)
    markdown, plain_text = resolve_image_placeholders(
        markdown, plain_text, image_infos,
        image_bytes=bytes_map, describer=describer, warnings=warnings,
    )
    return {
        "markdown": markdown,
        "plain_text": plain_text,
        "title": None,
        "warnings": warnings,
        "images": images,
    }
