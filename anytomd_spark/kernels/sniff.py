"""Format detection for turn payloads.

Mirrors ``/root/reference/src/detection.rs`` (detect_format :18-48,
detect_zip_format :54-74, detect_by_extension :77-100) and the dispatcher
priority of ``src/lib.rs:95-139``: magic bytes -> container introspection ->
extension hint -> JSON heuristic.

Transcript turns carry payloads in a *string* column, so binary formats
(DOCX/PPTX/XLSX ZIPs, XLS compound files) arrive base64-encoded
(SURVEY.md §7.4): ``PK\\x03\\x04`` -> ``UEsDB``, OLE2 ``\\xd0\\xcf\\x11\\xe0``
-> ``0M8R``. The ``tool`` column plays the role of the filename extension.
"""

from __future__ import annotations

import base64
import binascii
import io
import re
import zipfile

# detection.rs:90-98 extension tables
_TXT_EXTS = {
    "txt", "text", "log", "md", "markdown", "rst", "ini", "cfg", "conf",
    "toml", "yaml", "yml",
}
_IMAGE_EXTS = {
    "png", "jpg", "jpeg", "gif", "webp", "bmp", "tiff", "tif", "svg",
    "heic", "heif", "avif",
}
CODE_EXTS = {
    "c", "h", "cpp", "cc", "cxx", "hpp", "hxx", "hh", "py", "pyw", "js",
    "mjs", "cjs", "jsx", "ts", "mts", "cts", "tsx", "rs", "go", "java",
    "kt", "kts", "rb", "swift", "cs", "php", "sh", "bash", "zsh", "fish",
    "pl", "pm", "lua", "r", "scala", "dart", "ex", "exs", "erl", "hs",
    "ml", "mli", "sql", "m", "mm", "zig", "nim", "v", "groovy", "ps1",
    "bat", "cmd",
}

_DIRECT = {"docx", "pptx", "xlsx", "xls", "csv", "ipynb", "json", "pdf", "xml"}


def normalize_extension(ext: str) -> str:
    """Trim, strip one leading dot, lowercase (lib.rs:233-238)."""
    ext = ext.strip()
    if ext.startswith("."):
        ext = ext[1:]
    return ext.lower()


def detect_by_extension(ext: str) -> str | None:
    """Extension -> format name (detection.rs:77-100). ``ext`` pre-normalized."""
    if ext in _DIRECT:
        return ext
    if ext in ("html", "htm"):
        return "html"
    if ext in _TXT_EXTS:
        return "txt"
    if ext in _IMAGE_EXTS:
        return "image"
    if ext in CODE_EXTS:
        return "code"
    return None


def _zip_names_raw(data: bytes) -> "list[bytes] | None":
    """Entry name bytes from the central directory, in directory order,
    or None when the archive doesn't parse cleanly (caller falls back
    to zipfile). A fraction of ZipFile's cost: no ZipInfo objects, no
    name decoding — the introspection prefixes are ASCII, identical
    under both cp437 and utf-8, so raw bytes suffice."""
    try:
        eocd = data.rfind(b"PK\x05\x06", max(0, len(data) - 65557))
        if eocd < 0 or eocd + 22 > len(data):
            return None
        n_entries = int.from_bytes(data[eocd + 10:eocd + 12], "little")
        cd_off = int.from_bytes(data[eocd + 16:eocd + 20], "little")
        names: list[bytes] = []
        pos = cd_off
        for _ in range(n_entries):
            if data[pos:pos + 4] != b"PK\x01\x02":
                return None
            nlen = int.from_bytes(data[pos + 28:pos + 30], "little")
            elen = int.from_bytes(data[pos + 30:pos + 32], "little")
            clen = int.from_bytes(data[pos + 32:pos + 34], "little")
            names.append(data[pos + 46:pos + 46 + nlen])
            pos += 46 + nlen + elen + clen
        return names
    except Exception:
        return None


def detect_zip_format(data: bytes) -> str | None:
    """Introspect ZIP entry names (detection.rs:54-74)."""
    names = _zip_names_raw(data)
    if names is not None:
        for raw in names:
            if raw.startswith(b"word/"):
                return "docx"
            if raw.startswith(b"ppt/"):
                return "pptx"
            if raw.startswith(b"xl/"):
                return "xlsx"
        return None
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            for name in zf.namelist():
                if name.startswith("word/"):
                    return "docx"
                if name.startswith("ppt/"):
                    return "pptx"
                if name.startswith("xl/"):
                    return "xlsx"
    except Exception:
        return None
    return None


def maybe_base64_binary(payload: str) -> bytes | None:
    """Decode payloads that look like base64-carried ZIP/OLE binaries.

    ``UEsDB`` is base64 of ``PK\\x03\\x04``; ``0M8R`` is base64 of the OLE2
    compound-document magic ``\\xd0\\xcf\\x11\\xe0`` (legacy .xls).
    """
    if payload.startswith("UEsDB") or payload.startswith("0M8R"):
        try:
            return base64.b64decode(payload, validate=True)
        except (binascii.Error, ValueError):
            return None
    return None


# ASCII whitespace the JSON and markup heuristics skip (a BOM is not)
_WS = frozenset(" \t\r\n\x0b\x0c")
# html-ish tag names, each ended by whitespace, '>' or '/' so that
# XML elements such as <heading> or <paragraph> do not count
_MARKUP_RE = re.compile(r"<(?:head|body|div|p|table|h1|ul|span|br)[\s>/]")


def sniff_text(s: str) -> str | None:
    """Textual content heuristics for hint-less turn payloads
    (``batch.classify_formats``) and archive members (:func:`sniff_bytes`).

    JSON when the first char after ASCII whitespace and at most one BOM
    is ``{`` or ``[`` (detection.rs:38-46); else markup over the 256-char
    lowered prefix after ASCII whitespace, BOM kept: html-ish tags, then
    ``<?xml`` or a ``<`` closed by a ``>`` inside that prefix. Reads a
    bounded prefix only; never copies the whole payload.
    """
    ws = _WS
    ln = len(s)
    k = 0
    while k < ln and s[k] in ws:
        k += 1
    c = s[k:k + 1]
    if c == "\ufeff":
        j = k + 1
        while j < ln and s[j] in ws:
            j += 1
        c = s[j:j + 1]
    if c == "{" or c == "[":
        return "json"
    low = s[k:k + 256].lower()
    if (low.startswith("<!doctype html") or low.startswith("<html")
            or _MARKUP_RE.search(low)):
        return "html"
    if low.startswith("<?xml") or (low.startswith("<") and ">" in low):
        return "xml"
    return None


def sniff_bytes(data: bytes) -> str | None:
    """Magic-first detection for raw member bytes (archive ingestion).

    Mirrors the reference's detection priority (detection.rs:18-48):
    magic bytes first — ZIP magic -> container introspection (OOXML or
    a plain ``zip`` the dispatcher will reject loudly), OLE2 -> xls,
    ``%PDF`` -> pdf — then the shared textual heuristics over a lossy
    UTF-8 decode of the head. Returns None when nothing matches (the
    caller falls back to plain text, detection.rs's final arm).
    """
    if data[:4] == b"PK\x03\x04":
        return detect_zip_format(data) or "zip"
    if data[:4] == b"\xd0\xcf\x11\xe0":
        return "xls"
    if data[:4] == b"%PDF":
        return "pdf"
    return sniff_text(data[:4096].decode("utf-8", errors="replace"))
