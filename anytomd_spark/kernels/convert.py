"""Per-document conversion: extension dispatch over raw bytes.

Mirrors the reference's ``src/lib.rs``: ``convert_bytes`` dispatch
(:142-209 — size guard, PDF rejection, code special-case, ordered
converter chain), ``enforce_strict_mode`` (:211-231) and, for real files,
``convert_file`` (:95-139). Turn payloads are detected and converted by
``batch.convert_batch``, which calls :func:`convert_bytes` once per
distinct classified payload and turns exceptions into per-row errors.
"""

from __future__ import annotations

from anytomd_spark.kernels import sniff
from anytomd_spark.kernels.docx_conv import convert_docx
from anytomd_spark.kernels.html_conv import convert_html
from anytomd_spark.kernels.ooxml import InputTooLarge
from anytomd_spark.kernels.pptx_conv import convert_pptx
from anytomd_spark.kernels.simple import (
    MalformedDocument,
    convert_code,
    convert_csv,
    convert_ipynb,
    convert_json,
    convert_plain_text,
    convert_xml,
)
from anytomd_spark.kernels.xls_conv import convert_xls
from anytomd_spark.kernels.xlsx_conv import convert_xlsx

DEFAULT_MAX_INPUT_BYTES = 8 << 30
DEFAULT_MAX_ZIP_BYTES = 16 << 30

_PDF_REASON = (
    "PDF is intentionally unsupported — Gemini, ChatGPT, and Claude "
    "handle PDF natively"
)


DEFAULT_MAX_IMAGE_BYTES = 4 << 30  # ConversionOptions default (mod.rs:120)

# ext_from_mime (image.rs:24-37)
_EXT_FROM_MIME = {
    "image/png": "png", "image/jpeg": "jpg", "image/gif": "gif",
    "image/webp": "webp", "image/bmp": "bmp", "image/tiff": "tiff",
    "image/svg+xml": "svg", "image/heic": "heic", "image/avif": "avif",
}


def convert_image(
    data: bytes,
    max_image_bytes: int = DEFAULT_MAX_IMAGE_BYTES,
    describer=None,
) -> dict:
    """Standalone image conversion — ImageConverter (image.rs:41-146).

    The filename comes from magic-byte MIME sniffing only (the reference
    passes the literal name "image", so an extension hint never names the
    file). Over-budget images return an empty result plus a
    ResourceLimitReached warning (image.rs:62-79). The placeholder
    machinery runs for real: ``![__img_0__](file)`` is built, then
    resolved through replace_image_alt_by_placeholder with the
    describer's text, the original alt on describer failure (with a
    SkippedElement warning), or empty alt with no describer —
    ooxml_utils.rs:148-212."""
    from anytomd_spark.kernels.decode import (
        RESOURCE_LIMIT_REACHED,
        SKIPPED_ELEMENT,
        mime_from_image,
    )
    from anytomd_spark.kernels.markdown import replace_image_alt_by_placeholder

    warnings: list[dict] = []
    mime = mime_from_image("image", data)
    ext = _EXT_FROM_MIME.get(mime, "")
    filename = f"image.{ext}" if ext else "image"

    if len(data) > max_image_bytes:
        warnings.append({
            "code": RESOURCE_LIMIT_REACHED,
            "message": (
                f"image size ({len(data)} bytes) exceeds limit "
                f"({max_image_bytes})"
            ),
            "location": filename,
        })
        return {"markdown": "", "plain_text": "", "title": None,
                "warnings": warnings}

    placeholder = "__img_0__"
    markdown = f"![{placeholder}]({filename})\n"
    plain_text = f"{placeholder}\n"
    alt = ""
    if describer is not None:
        try:
            alt = describer(
                data, mime,
                "Describe this image concisely for use as alt text.",
            )
        except Exception as e:  # noqa: BLE001 - fall back to original alt
            warnings.append({
                "code": SKIPPED_ELEMENT,
                "message": f"image description failed for '{filename}': {e}",
                "location": filename,
            })
            alt = ""
    markdown = replace_image_alt_by_placeholder(
        markdown, placeholder, alt, filename
    )
    plain_text = plain_text.replace(placeholder, alt, 1)
    return {"markdown": markdown, "plain_text": plain_text, "title": None,
            "warnings": warnings}


def convert_bytes(
    data: bytes,
    extension: str,
    strict: bool = False,
    max_input_bytes: int = DEFAULT_MAX_INPUT_BYTES,
    max_zip_bytes: int = DEFAULT_MAX_ZIP_BYTES,
    max_image_bytes: int = DEFAULT_MAX_IMAGE_BYTES,
) -> dict:
    """Dispatch by normalized extension; raises on unrecoverable errors."""
    ext = sniff.normalize_extension(extension)
    if len(data) > max_input_bytes:
        raise InputTooLarge(
            f"input size {len(data)} exceeds limit {max_input_bytes}"
        )
    if ext == "pdf":
        raise MalformedDocument(_PDF_REASON)

    if ext in sniff.CODE_EXTS or ext == "code":
        result = convert_code(data, ext)
    elif ext == "docx":
        result = convert_docx(data, max_zip_bytes)
    elif ext == "pptx":
        result = convert_pptx(data, max_zip_bytes)
    elif ext == "xlsx":
        result = convert_xlsx(data, max_zip_bytes)
    elif ext == "xls":
        result = convert_xls(data)
    elif ext == "ipynb":
        result = convert_ipynb(data)
    elif ext == "json":
        result = convert_json(data)
    elif ext == "xml":
        result = convert_xml(data)
    elif ext == "csv":
        result = convert_csv(data)
    elif ext in ("html", "htm"):
        result = convert_html(data)
    elif sniff.detect_by_extension(ext) == "image":
        result = convert_image(data, max_image_bytes=max_image_bytes)
    elif sniff.detect_by_extension(ext) == "txt" or ext == "txt":
        result = convert_plain_text(data)
    else:
        raise MalformedDocument(f"unsupported format: {ext!r}")

    if strict and result["warnings"]:
        first = result["warnings"][0]
        loc = f" ({first['location']})" if first.get("location") else ""
        raise MalformedDocument(
            f"strict mode: encountered warning [{first['code']}] "
            f"{first['message']}{loc}"
        )
    return result


def detect_format_path(path: str, header: bytes) -> str | None:
    """detection.rs:18-48 for real files: magic -> extension -> JSON
    heuristic. Returns "zip" for ZIP magic (caller introspects)."""
    if len(header) >= 4:
        if header.startswith(b"PK\x03\x04"):
            return "zip"
        if header.startswith(b"%PDF"):
            return "pdf"
    import os

    ext = os.path.splitext(path)[1].lstrip(".").lower()
    if ext:
        by_ext = sniff.detect_by_extension(ext)
        if by_ext is not None:
            return by_ext
    body = header[3:] if header.startswith(b"\xef\xbb\xbf") else header
    for b in body:
        if b in (0x20, 0x09, 0x0A, 0x0D, 0x0B, 0x0C):
            continue
        if b in (0x7B, 0x5B):  # { or [
            return "json"
        break
    return None


def convert_file(
    path: str,
    strict: bool = False,
    max_input_bytes: int = DEFAULT_MAX_INPUT_BYTES,
    max_zip_bytes: int = DEFAULT_MAX_ZIP_BYTES,
    max_image_bytes: int = DEFAULT_MAX_IMAGE_BYTES,
) -> dict:
    """File-level conversion mirroring lib.rs convert_file (:95-139):
    size guard, magic/extension/heuristic detection, ZIP introspection,
    code files keep their extension for the language tag."""
    import os

    size = os.path.getsize(path)
    if size > max_input_bytes:
        raise InputTooLarge(
            f"input size {size} exceeds limit {max_input_bytes}"
        )
    with open(path, "rb") as f:
        data = f.read()

    fmt = detect_format_path(path, data)
    is_zip_magic = fmt == "zip"
    if is_zip_magic:
        fmt = sniff.detect_zip_format(data)

    file_ext = os.path.splitext(path)[1].lstrip(".")
    if fmt == "code":
        extension = file_ext or "code"
    elif fmt is not None:
        extension = fmt
    elif is_zip_magic:
        raise MalformedDocument("unsupported format: 'zip'")
    else:
        extension = file_ext

    return convert_bytes(
        data, extension, strict=strict,
        max_input_bytes=max_input_bytes, max_zip_bytes=max_zip_bytes,
        max_image_bytes=max_image_bytes,
    )
