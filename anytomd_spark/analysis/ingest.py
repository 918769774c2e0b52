"""Archive-shard corpus ingestion — the third real document SOURCE
format after parquet tables and WARC crawls (kernels/warc.py): training
corpora very often arrive as tar or zip shards (WebDataset layout,
Common Crawl derivative dumps, dataset exports), one archive blob per
row.

:func:`tar_extract` / :func:`zip_extract` are the container->document
edge: each shard blob is opened with stdlib ``tarfile`` (plain tar and
gzip-compressed tar via ``r:*`` autodetection) or ``zipfile``, every
regular member is converted to Markdown by the SAME dispatcher the
transcript pipeline uses (kernels/convert.convert_bytes), and
per-member errors are captured as rows rather than failing the shard —
one bad member in a million-member shard must not kill the task.
Archive-level corruption yields a single error row for the shard.
Map-side mapInPandas over the blob column; no shuffle.

Safety at the untrusted edge (same posture as the OOXML zip-bomb
budget, kernels/ooxml.py:validate_zip_budget): a member's DECLARED size
— tar header ``m.size``, zip central-directory ``file_size`` — is
checked against ``max_member_bytes`` BEFORE any decompression, so one
crafted multi-GiB-inflating member becomes an error row, never an OOM.
Zip and plain tar additionally SEEK past a rejected member (no
decompression CPU at all); a COMPRESSED tar cannot seek — reaching the
next header would stream-decompress the whole oversized body — so an
over-budget member in a .tar.gz aborts the remainder of that shard with
an explicit error row rather than paying a decompression-CPU DoS.

Member format resolution mirrors the reference's detection priority
(``/root/reference/src/detection.rs:18-48``): the filename extension
when it is a known one, else magic-first content sniffing
(kernels/sniff.sniff_bytes), else plain text. Warning telemetry is
first-class like the transcript pipeline (reference
``src/converter/mod.rs:70-78``): each converted member row carries
``n_warnings``.
"""

from __future__ import annotations

import io
import tarfile
import zipfile

import pandas as pd
from pyspark.sql import DataFrame

from anytomd_spark.kernels import convert as C
from anytomd_spark.kernels import sniff
from anytomd_spark.kernels.ooxml import InputTooLarge

ARCHIVE_DOCS_SCHEMA = (
    "shard_id long, member string, fmt string, n_bytes long, "
    "n_warnings int, markdown string, error string"
)

_COLUMNS = ["shard_id", "member", "fmt", "n_bytes", "n_warnings",
            "markdown", "error"]

DEFAULT_MAX_MEMBER_BYTES = 256 << 20


def _resolve_member(name: str, body: bytes) -> tuple[str, str]:
    """(dispatch_hint, fmt_label) for one archive member.

    Extension-first when the extension is a known one (the reference
    dispatcher trusts filenames, lib.rs:95-139); magic-first content
    sniffing (detection.rs:18-48 priority) when the extension is
    missing or unknown; plain text as the final fallback.
    """
    base = name.rsplit("/", 1)[-1]
    ext = sniff.normalize_extension(base.rsplit(".", 1)[-1]) if "." in base else ""
    if ext:
        fmt = sniff.detect_by_extension(ext)
        if fmt is not None:
            # dispatch with the real extension (code fences need the
            # language), label with the format family
            return ext, fmt
    sniffed = sniff.sniff_bytes(body)
    if sniffed is not None:
        return sniffed, sniffed
    return "txt", "txt"


def _member_row(shard_id: int, name: str, body: bytes,
                memo: dict | None = None) -> tuple:
    """One converted-member row. ``memo`` (scoped to one Arrow batch of
    shards, same pattern as batch.convert_batch) collapses members with
    identical (dispatch hint, bytes) — e.g. the same README/license file
    shipped in every shard of a batch — to a single conversion; the
    conversion tail is a pure function of that key."""
    hint, fmt = _resolve_member(name, body)
    key = (hint, fmt, body)
    tail = memo.get(key) if memo is not None else None
    if tail is None:
        try:
            r = C.convert_bytes(body, hint)
            tail = (fmt, len(body), len(r["warnings"]), r["markdown"], None)
        except (C.MalformedDocument, InputTooLarge, ValueError) as e:
            tail = (fmt, len(body), None, None, str(e))
        if memo is not None:
            memo[key] = tail
    return (shard_id, name, *tail)


def tar_extract(
    shards: DataFrame,
    shard_col: str = "shard_id",
    payload_col: str = "payload",
    max_members: int = 1 << 20,
    max_member_bytes: int = DEFAULT_MAX_MEMBER_BYTES,
) -> DataFrame:
    """One row per regular archive member: (shard_id, member, fmt,
    n_bytes, n_warnings, markdown, error). Members whose tar header
    declares more than ``max_member_bytes`` are rejected as error rows
    WITHOUT being read; in a COMPRESSED shard (gz/bz2/xz, where merely
    skipping would decompress the oversized body) the rejection also
    aborts the remaining members with an explicit error row."""

    def run(iterator):
        for pdf in iterator:
            rows = []
            memo: dict = {}  # per-batch member-conversion memo
            for shard_id, payload in zip(pdf[shard_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                # plain tar on a seekable buffer SEEKS past a skipped
                # member; gz/bz2/xz must stream-decompress the body to
                # reach the next header, so an over-budget member there
                # aborts the shard (decompression-CPU DoS guard)
                compressed = (data[:2] == b"\x1f\x8b" or data[:3] == b"BZh"
                              or data[:6] == b"\xfd7zXZ\x00")
                try:
                    tf = tarfile.open(fileobj=io.BytesIO(data), mode="r:*")
                except (tarfile.TarError, EOFError, OSError) as e:
                    rows.append((int(shard_id), None, None, None, None,
                                 None, f"bad archive: {e}"))
                    continue
                n_seen = 0
                with tf:
                    for m in tf:
                        if not m.isreg():
                            continue
                        n_seen += 1
                        if n_seen > max_members:
                            rows.append((int(shard_id), None, None, None,
                                         None, None,
                                         f"member count exceeds "
                                         f"{max_members}"))
                            break
                        if m.size > max_member_bytes:
                            rows.append((int(shard_id), m.name, None,
                                         int(m.size), None, None,
                                         f"member size {m.size} exceeds "
                                         f"budget {max_member_bytes}"))
                            if compressed:
                                rows.append((int(shard_id), None, None,
                                             None, None, None,
                                             "compressed shard aborted "
                                             "after oversized member "
                                             f"{m.name}"))
                                break
                            continue
                        try:
                            body = tf.extractfile(m).read()
                        except (tarfile.TarError, OSError) as e:
                            rows.append((int(shard_id), m.name, None, None,
                                         None, None, f"bad member: {e}"))
                            continue
                        rows.append(_member_row(int(shard_id), m.name,
                                                body, memo))
            yield pd.DataFrame(rows, columns=_COLUMNS)

    return shards.mapInPandas(run, schema=ARCHIVE_DOCS_SCHEMA)


def zip_extract(
    shards: DataFrame,
    shard_col: str = "shard_id",
    payload_col: str = "payload",
    max_members: int = 1 << 20,
    max_member_bytes: int = DEFAULT_MAX_MEMBER_BYTES,
) -> DataFrame:
    """The zip twin of :func:`tar_extract`: same output schema, same
    fail-soft row semantics, stdlib zipfile. Encrypted members and
    per-member decompression errors become error rows; a shard with
    more than ``max_members`` members yields the first ``max_members``
    plus an explicit truncation error row (never a silent drop); a
    member whose CENTRAL DIRECTORY declares more than
    ``max_member_bytes`` uncompressed is rejected before inflation."""

    def run(iterator):
        for pdf in iterator:
            rows = []
            memo: dict = {}  # per-batch member-conversion memo
            for shard_id, payload in zip(pdf[shard_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                try:
                    zf = zipfile.ZipFile(io.BytesIO(data))
                except (zipfile.BadZipFile, OSError, EOFError) as e:
                    rows.append((int(shard_id), None, None, None, None,
                                 None, f"bad archive: {e}"))
                    continue
                with zf:
                    infos = [zi for zi in zf.infolist() if not zi.is_dir()]
                    truncated = len(infos) > max_members
                    for zi in infos[:max_members]:
                        if zi.file_size > max_member_bytes:
                            rows.append((int(shard_id), zi.filename, None,
                                         int(zi.file_size), None, None,
                                         f"member size {zi.file_size} "
                                         f"exceeds budget "
                                         f"{max_member_bytes}"))
                            continue
                        try:
                            # read by ZipInfo, not name: duplicate member
                            # names resolve by-name to the LAST entry,
                            # which would both mis-attribute content and
                            # let a small-declared first entry smuggle an
                            # over-budget last entry past the size check
                            body = zf.read(zi)
                        except (zipfile.BadZipFile, RuntimeError,
                                NotImplementedError, OSError) as e:
                            rows.append((int(shard_id), zi.filename, None,
                                         None, None, None,
                                         f"bad member: {e}"))
                            continue
                        rows.append(_member_row(int(shard_id), zi.filename,
                                                body, memo))
                    if truncated:
                        rows.append((int(shard_id), None, None, None, None,
                                     None,
                                     f"member count exceeds {max_members}"))
            yield pd.DataFrame(rows, columns=_COLUMNS)

    return shards.mapInPandas(run, schema=ARCHIVE_DOCS_SCHEMA)


# --------------------------------------------------------------------------
# deterministic synthetic shards (tests + driver oracle)
# --------------------------------------------------------------------------

def build_zip(members: list[tuple[str, bytes]],
              compressed: bool = True) -> bytes:
    """In-memory zip with pinned timestamps (deterministic bytes)."""
    buf = io.BytesIO()
    comp = zipfile.ZIP_DEFLATED if compressed else zipfile.ZIP_STORED
    with zipfile.ZipFile(buf, "w", compression=comp) as zf:
        for name, body in members:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = comp
            zf.writestr(zi, body)
    return buf.getvalue()


def build_tar(members: list[tuple[str, bytes]], gzipped: bool = False) -> bytes:
    """In-memory tar (optionally .tar.gz) from (name, bytes) members,
    with pinned metadata (member mtime 0; gzip wrapped manually with
    mtime=0) so the bytes are fully deterministic."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, body in members:
            info = tarfile.TarInfo(name=name)
            info.size = len(body)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(body))
    raw = buf.getvalue()
    if not gzipped:
        return raw
    import gzip

    out = io.BytesIO()
    with gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as gz:
        gz.write(raw)
    return out.getvalue()


def _member_of(s: int, i: int, kind: int) -> tuple[str, bytes]:
    """Deterministic member content, a pure function of (shard, index):
    kind 0 txt passthrough, 1 python code fence, 2 CSV table, 3 a
    ``.bin`` member carrying JSON bytes — the magic-first sniffing
    path (extension unknown -> content detection)."""
    if kind == 0:
        return (f"doc_{i:03d}.txt", f"shard {s} member {i} plain text".encode())
    if kind == 1:
        return (f"doc_{i:03d}.py", f"print('shard {s} member {i}')\n".encode())
    if kind == 2:
        return (f"doc_{i:03d}.csv", f"shard,member\n{s},{i}\n".encode())
    return (f"doc_{i:03d}.bin",
            f'{{"shard": {s}, "member": {i}}}'.encode())


def tar_shard_payloads(n_shards: int = 8, members_per: int = 6) -> list[dict]:
    """Deterministic tar shards + per-member structural truth. Member
    contents are pure functions of (shard, index) in SQL-reproducible
    formats, so the driver oracle rebuilds every member's expected
    Markdown from those two integers — same pattern as derive.py's
    transcript payloads. Odd shards are gzip-compressed."""
    shards = []
    for s in range(n_shards):
        members = []
        truth = []
        for i in range(members_per):
            kind = i % 3
            name, body = _member_of(s, i, kind)
            members.append((name, body))
            truth.append({"member": name, "kind": kind, "s": s, "i": i,
                          "n_bytes": len(body)})
        payload = build_tar(members, gzipped=(s % 2 == 1))
        shards.append({"shard_id": s, "payload": payload,
                       "members": truth})
    return shards


def zip_shard_payloads(n_shards: int = 6, members_per: int = 7) -> list[dict]:
    """Zip twin of :func:`tar_shard_payloads`: kinds cycle 0..3 so each
    shard exercises the sniffed ``.bin``-with-JSON path alongside the
    extension-dispatched formats. Even shards are STORED, odd shards
    DEFLATED — both zip storage modes ride the same oracle."""
    shards = []
    for s in range(n_shards):
        members = []
        truth = []
        for i in range(members_per):
            kind = i % 4
            name, body = _member_of(s, i, kind)
            members.append((name, body))
            truth.append({"member": name, "kind": kind, "s": s, "i": i,
                          "n_bytes": len(body)})
        payload = build_zip(members, compressed=(s % 2 == 1))
        shards.append({"shard_id": s, "payload": payload,
                       "members": truth})
    return shards


def synthesize_tar_shards(spark, n_shards: int = 8,
                          members_per: int = 6) -> DataFrame:
    rows = [
        (r["shard_id"], bytearray(r["payload"]))
        for r in tar_shard_payloads(n_shards, members_per)
    ]
    pdf = pd.DataFrame(rows, columns=["shard_id", "payload"])
    return spark.createDataFrame(pdf, schema="shard_id long, payload binary")


CORRUPT_ZIP_SHARD_ID = 999
CORRUPT_ZIP_PAYLOAD = b"this is not a zip shard at all"


def synthesize_zip_shards(spark, n_shards: int = 6, members_per: int = 7,
                          include_corrupt: bool = False) -> DataFrame:
    rows = [
        (r["shard_id"], bytearray(r["payload"]))
        for r in zip_shard_payloads(n_shards, members_per)
    ]
    if include_corrupt:
        rows.append((CORRUPT_ZIP_SHARD_ID, bytearray(CORRUPT_ZIP_PAYLOAD)))
    pdf = pd.DataFrame(rows, columns=["shard_id", "payload"])
    return spark.createDataFrame(pdf, schema="shard_id long, payload binary")
