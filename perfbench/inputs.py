"""Seeded input tables for the benchmark workloads.

Every table is a pure function of ``(workload, seed)``: the same seed gives
byte-identical rows. Tables are written as parquet files in the layout the
workload names and cached per seed, so the program only ever receives the
generated table.

``transcripts_mixed``
    The production common case: ``transcripts.generate_batch`` with its
    default format mix (34% HTML, ten formats, per-turn-unique payloads,
    Zipf conversation lengths), split into equal files by row order.

``web_clustered``
    Real-web-shaped pages in conversation-clustered files: HTML with named
    and numeric character references, non-ASCII bytes inside tag markup, a
    few pages over 1 MiB, and a small pool of OOXML attachments that repeats
    across turns. Mega-conversations make some files much larger than others.
"""

from __future__ import annotations

import base64
import datetime as _dt
import multiprocessing
import os
import random
import shutil
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from anytomd_spark import transcripts as tx

WORKLOADS = ("transcripts_mixed", "web_clustered")

# bump when a generator changes, so cached tables are rebuilt
GEN_VERSION = 2

N_FILES = 16
MIXED_TURNS = 40000
WEB_TURNS = 6000
# conversations with at least this many turns count as mega-conversations
MEGA_TURNS = 500
# Arrow batch rows of build_session's default: the memo's scope
ARROW_BATCH_ROWS = 4096
CACHE_KEEP = 4
# slices the generators split a table into
_N_PARTS = 16

ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

_BASE_TS = _dt.datetime(2026, 1, 1)


def _parallel(fn, arg_lists: list[tuple]) -> list:
    """``[fn(*args) for args in arg_lists]`` on one forked process per CPU;
    the processes are joined before it returns."""
    procs = min(len(os.sched_getaffinity(0)), len(arg_lists))
    if procs <= 1:
        return [fn(*args) for args in arg_lists]
    pool = multiprocessing.get_context("fork").Pool(procs)
    try:
        return pool.starmap(fn, arg_lists)
    finally:
        pool.terminate()
        pool.join()


# --------------------------------------------------------------------------
# transcripts_mixed
# --------------------------------------------------------------------------

def mixed_table(seed: int, n_turns: int = MIXED_TURNS) -> pd.DataFrame:
    """``n_turns`` consecutive turns of the default transcripts generator,
    starting after its first conversation (a 2000-turn mega-conversation).
    Every turn is a pure function of its global index, so the generator
    runs on slices of the index range in parallel."""
    sizes = tx.conversation_sizes(max(n_turns, 1000), seed)
    cum = np.cumsum(sizes)
    start = int(cum[0])
    ids = np.arange(start, start + n_turns, dtype=np.int64)
    parts = _parallel(tx.generate_batch, [
        (chunk, cum, seed) for chunk in np.array_split(ids, _N_PARTS)])
    return pd.concat(parts, ignore_index=True)


# --------------------------------------------------------------------------
# web_clustered
# --------------------------------------------------------------------------

# named and numeric references html.unescape resolves (the native walker
# declines any document containing '&')
_CHARREFS = (
    "&amp;", "&nbsp;", "&lt;b&gt;", "&quot;", "&#169;", "&#8212;",
    "&#x2019;", "&eacute;", "&hellip;", "&#xA0;",
)
# non-ASCII bytes inside tag markup (attribute values)
_NON_ASCII_ATTRS = (
    ' title="café"', ' class="über-nav"', ' data-label="日本語"',
    ' alt="naïve"', ' lang="한국어"',
)
_BIG_PAGE_BYTES = (1 << 20) + 50_000
_N_BIG_PAGES = 2
_POOL_SIZE = 6  # 2 docx, 2 pptx, 2 xlsx
_SIMPLE_KINDS = ("json", "csv", "xml", "code", "txt", "ipynb")


def _web_body(rng: random.Random, sections: int) -> str:
    """Body sections of ``sections`` generated pages, with character
    references spliced into the text and non-ASCII bytes into tags."""
    out = []
    for _ in range(sections):
        page = tx.build_html(rng)
        body = page[page.index("<body>") + 6:page.index("</body>")]
        if rng.random() < 0.6:
            words = body.split(" ")
            for _ in range(rng.randint(1, 4)):
                k = rng.randrange(len(words))
                words[k] = f"{words[k]} {rng.choice(_CHARREFS)}"
            body = " ".join(words)
        if rng.random() < 0.5:
            tag = rng.choice(("<p>", "<h2>", "<li>", "<td>"))
            body = body.replace(
                tag, f"{tag[:-1]}{rng.choice(_NON_ASCII_ATTRS)}>", 1
            )
        out.append(body)
    return "".join(out)


def web_page(rng: random.Random, min_bytes: int = 0) -> str:
    """One real-web-shaped HTML page; at least ``min_bytes`` UTF-8 bytes."""
    parts = [
        "<!DOCTYPE html>\n<html>\n<head>\n",
        f"<title>{tx._sentence(rng, 2, 5)} &amp; more</title>\n",
        '<meta charset="utf-8">\n<style>body { color: #222; }</style>\n',
        "</head>\n<body>\n",
        f'<nav class="top">Home &gt; {tx._sentence(rng, 1, 3)}</nav>\n',
        _web_body(rng, rng.randint(3, 8)),
    ]
    size = sum(len(p.encode("utf-8")) for p in parts)
    while size < min_bytes:
        chunk = _web_body(rng, 8)
        parts.append(chunk)
        size += len(chunk.encode("utf-8"))
    parts.append("<footer>&copy; 2026 example.org</footer>\n</body>\n</html>\n")
    return "".join(parts)


def attachment_pool(seed: int) -> list[str]:
    """The repeated OOXML attachments, base64-carried like real uploads."""
    rng = random.Random(zlib.crc32(f"{seed}:pool".encode()))
    builders = (tx.build_docx, tx.build_pptx, tx.build_xlsx)
    return [
        base64.b64encode(builders[i // 2](rng)).decode("ascii")
        for i in range(_POOL_SIZE)
    ]


def web_sizes(seed: int) -> np.ndarray:
    """Conversation lengths: Zipf-ish, plus two mega-conversations that
    together hold about a third of the turns."""
    rng = np.random.default_rng(seed)
    mega = WEB_TURNS // 6
    sizes = [mega, mega]
    rest = WEB_TURNS - 2 * mega
    while rest > 0:
        s = int(min(max(rng.zipf(1.7), 1), 60, rest))
        sizes.append(s)
        rest -= s
    order = rng.permutation(len(sizes))
    return np.asarray(sizes, dtype=np.int64)[order]


def _web_rows(seed: int, pool: list[str], big_at: set[int],
              convs: list[tuple[int, int, int]]) -> list[tuple]:
    """Rows of the conversations ``(conv_num, size, first_gid)``; every
    turn draws from its own generator, so any split gives the same rows."""
    rows = []
    for conv_num, size, gid in convs:
        conv_id = f"web-{conv_num:06d}"
        for turn_idx in range(size):
            trng = random.Random(zlib.crc32(f"{seed}:{conv_id}:{turn_idx}".encode()))
            role = ("user", "assistant", "tool")[turn_idx % 3]
            r = trng.random()
            tool = ""
            if gid in big_at:
                text = web_page(trng, _BIG_PAGE_BYTES)
            elif r < 0.62:
                text = web_page(trng)
            elif r < 0.72:
                # plain generated page: inside the native envelope
                text = tx.build_html(trng)
            elif r < 0.86:
                text = trng.choice(pool)
            else:
                kind = trng.choice(_SIMPLE_KINDS)
                if kind in ("code", "txt"):
                    text, tool = getattr(tx, f"build_{kind}")(trng)
                else:
                    text = getattr(tx, f"build_{kind}")(trng)
                    tool = kind if kind in ("csv", "ipynb") else ""
            ts = _BASE_TS + _dt.timedelta(seconds=gid % 86400)
            rows.append((conv_id, turn_idx, role, text, tool, ts))
            gid += 1
    return rows


def web_table(seed: int) -> pd.DataFrame:
    sizes = web_sizes(seed)
    pool = attachment_pool(seed)
    rng = random.Random(seed)
    big_at = set(rng.sample(range(WEB_TURNS), _N_BIG_PAGES))
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    convs = [(i, int(n), int(g)) for i, (n, g) in enumerate(zip(sizes, starts))]
    # round-robin split: the two mega-conversations land in different parts
    parts = _parallel(_web_rows, [(seed, pool, big_at, convs[k::_N_PARTS])
                                  for k in range(_N_PARTS)])
    rows = sorted((r for part in parts for r in part), key=lambda r: r[0])
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])


# --------------------------------------------------------------------------
# layout, cache and property shares
# --------------------------------------------------------------------------

def make_table(workload: str, seed: int) -> pd.DataFrame:
    if workload == "transcripts_mixed":
        return mixed_table(seed)
    if workload == "web_clustered":
        return web_table(seed)
    raise ValueError(f"unknown workload {workload!r}")


def file_slices(workload: str, table: pd.DataFrame) -> list[pd.DataFrame]:
    """``transcripts_mixed``: equal row-order splits. ``web_clustered``:
    whole conversations per file, assigned by a hash of conv_id, so the
    mega-conversations make their files several times larger."""
    if workload == "transcripts_mixed":
        bounds = np.linspace(0, len(table), N_FILES + 1).astype(int)
        return [table.iloc[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
    key = table["conv_id"].map(lambda c: zlib.crc32(c.encode()) % N_FILES)
    return [table[key == i] for i in range(N_FILES)]


def write_table(workload: str, table: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, part in enumerate(file_slices(workload, table)):
        if len(part):
            pq.write_table(
                pa.Table.from_pandas(part, schema=ARROW_SCHEMA,
                                     preserve_index=False),
                os.path.join(tmp, f"part-{i:03d}.parquet"),
            )
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def ensure_input(cache_dir: str, workload: str, seed: int) -> str:
    """Path of the cached parquet table for ``(workload, seed)``, generated
    on first use. Keeps the CACHE_KEEP most recently used tables."""
    path = os.path.join(cache_dir, f"{workload}-s{seed}-v{GEN_VERSION}")
    if not os.path.isdir(path):
        os.makedirs(cache_dir, exist_ok=True)
        write_table(workload, make_table(workload, seed), path)
    os.utime(path)
    cached = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
         if not d.endswith(".tmp")),
        key=os.path.getmtime, reverse=True,
    )
    for old in cached[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def repeat_frac(table: pd.DataFrame, fmts: pd.Series,
                batch_rows: int = ARROW_BATCH_ROWS) -> float:
    """Share of rows whose (fmt, normalized hint, payload) key, the memo key
    of ``batch.convert_batch``, repeats an earlier row of the same
    ``batch_rows``-row chunk, in file order."""
    repeats = 0
    texts = table["text"].to_numpy(dtype=object)
    hints = table["tool"].to_numpy(dtype=object)
    fm = fmts.to_numpy(dtype=object)
    for start in range(0, len(table), batch_rows):
        seen = set()
        for i in range(start, min(start + batch_rows, len(table))):
            h = (hints[i] or "") if fm[i] in ("code", "txt", "image") else ""
            key = (fm[i], h.strip().lstrip(".").lower(), texts[i])
            if key in seen:
                repeats += 1
            else:
                seen.add(key)
    return repeats / max(len(table), 1)


def properties(workload: str, table: pd.DataFrame) -> dict:
    """Measured shares that decide which layers a workload stresses."""
    from anytomd_spark.batch import classify_formats
    from anytomd_spark.kernels._html_native import convert_html_native

    ordered = pd.concat(file_slices(workload, table))
    fmts = classify_formats(ordered["text"], ordered["tool"])
    html = ordered["text"][fmts == "html"]
    declined = sum(
        convert_html_native(t.removeprefix("\ufeff")) is None
        for t in html
    )
    conv_sizes = table.groupby("conv_id").size()
    mix = fmts.fillna("none").value_counts(normalize=True)
    return {
        "turns": len(table),
        "html_native_decline_frac": round(declined / max(len(html), 1), 4),
        "batch_repeat_frac": round(repeat_frac(ordered, fmts), 4),
        "mega_conv_turn_frac": round(
            conv_sizes[conv_sizes >= MEGA_TURNS].sum() / len(table), 4),
        "fmt_mix": {k: round(float(v), 4) for k, v in sorted(mix.items())},
    }
