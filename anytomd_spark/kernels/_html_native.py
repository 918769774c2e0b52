"""ctypes loader for the native HTML walker (_html_fast.c).

Compiles the C walker on first use: :func:`_c_source` prepends to
_html_fast.c the character-reference tables generated from the running
interpreter's ``html`` module (every key of ``html.entities.html5`` and
the codepoints ``html.unescape`` remaps or drops), and the .so is cached
in a temp dir keyed by the md5 of those bytes, so a changed kernel or
table never reuses a stale library.  :func:`convert_html_native` returns
``None`` whenever the native walker declines — build unavailable, an
allocation failure, or the C side bailed on a construct outside its
verified envelope (deep lists or stack, non-ASCII bytes in tag markup,
marked sections; never a character reference).  The caller then runs
the stdlib ``html.parser`` walk, so this module can only make
conversion faster, never different: byte-parity on the accepted domain
is locked by tests/test_html_native.py.
"""

from __future__ import annotations

import ctypes
import hashlib
import html
import html.entities
import os
import pkgutil
import subprocess
import tempfile
import threading

_lib = None
_tried = False


def _c_source() -> bytes:
    """The exact bytes compiled into the native walker: the tables its
    character-reference decode reads, then _html_fast.c.

    ``ENTITY_NAME``/``ENTITY_VALUE`` hold every key of
    ``html.entities.html5`` (its ``;`` included, in byte order for binary
    search) and its UTF-8 value; ``CP_REMAP`` holds
    ``html._invalid_charrefs`` and ``CP_DROPPED`` the ranges of
    ``html._invalid_codepoints`` it does not remap."""
    entities = sorted(
        (name.encode("ascii"), value.encode("utf-8"))
        for name, value in html.entities.html5.items()
    )
    remap = sorted(
        (cp, ord(ch)) for cp, ch in html._invalid_charrefs.items()
    )
    ranges: list[list[int]] = []
    dropped = set(html._invalid_codepoints) - set(html._invalid_charrefs)
    for cp in sorted(dropped):
        if ranges and cp == ranges[-1][1] + 1:
            ranges[-1][1] = cp
        else:
            ranges.append([cp, cp])

    def rows(items: list[str], per_line: int) -> str:
        return ",\n".join(
            "    " + ", ".join(items[i:i + per_line])
            for i in range(0, len(items), per_line)
        )

    names = [f'"{name.decode()}"' for name, _ in entities]
    octal = [f"\\{b:03o}" for b in range(256)]
    values = ['"' + "".join(map(octal.__getitem__, v)) + '"' for _, v in entities]
    table = (
        "/* generated by _html_native._c_source() from the html module */\n"
        f"#define N_ENTITIES {len(entities)}\n"
        "static const char *const ENTITY_NAME[N_ENTITIES] = {\n"
        f"{rows(names, 8)}\n}};\n"
        "static const char *const ENTITY_VALUE[N_ENTITIES] = {\n"
        f"{rows(values, 8)}\n}};\n"
        "static const unsigned int CP_REMAP[][2] = {\n"
        f"{rows([f'{{{cp:#x}, {to:#x}}}' for cp, to in remap], 4)}\n}};\n"
        "static const unsigned int CP_DROPPED[][2] = {\n"
        f"{rows([f'{{{lo:#x}, {hi:#x}}}' for lo, hi in ranges], 4)}\n}};\n"
    )
    # through the package loader, so the source is found when the
    # package is imported from a zip (--py-files, the shipped zip)
    return table.encode("ascii") + pkgutil.get_data(__package__, "_html_fast.c")


def _so_path(src: bytes) -> str:
    """Where the library compiled from ``src`` is cached."""
    token = hashlib.md5(src).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"anytomd_html_fast_{token}.so")


def _build() -> "ctypes.CDLL | None":
    try:
        src = _c_source()
        so_path = _so_path(src)
        if not os.path.exists(so_path):
            tmp = so_path + f".build{os.getpid()}"
            subprocess.run(
                ["cc", "-O2", "-fPIC", "-shared", "-o", tmp, "-x", "c", "-"],
                input=src,
                check=True,
                capture_output=True,
                timeout=120,
            )
            os.replace(tmp, so_path)  # atomic: concurrent builders race safely
        lib = ctypes.CDLL(so_path)
        lib.html_convert.restype = ctypes.c_int
        lib.html_convert.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t,
            ctypes.POINTER(ctypes.c_char_p), ctypes.POINTER(ctypes.c_size_t),
            ctypes.POINTER(ctypes.c_char_p), ctypes.POINTER(ctypes.c_size_t),
            ctypes.POINTER(ctypes.c_char_p), ctypes.POINTER(ctypes.c_size_t),
            ctypes.POINTER(ctypes.c_int),
        ]
        lib.html_free.restype = None
        lib.html_free.argtypes = [ctypes.c_char_p]
        return lib
    except Exception:
        return None


def _get_lib():
    global _lib, _tried
    if not _tried:
        _tried = True
        _lib = _build()
    return _lib


# reusable scratch out-params, one set per thread: constructing 7
# ctypes objects + 8 byrefs per call measured ~27 us each at bench
# volume, and a set shared across threads would let a concurrent call
# overwrite the result pointers between html_convert and the reads
_tls = threading.local()


def _out_params() -> tuple:
    params = getattr(_tls, "params", None)
    if params is None:
        vals = (
            ctypes.c_char_p(), ctypes.c_size_t(),
            ctypes.c_char_p(), ctypes.c_size_t(),
            ctypes.c_char_p(), ctypes.c_size_t(),
            ctypes.c_int(),
        )
        params = _tls.params = (vals, tuple(ctypes.byref(v) for v in vals))
    return params


def convert_html_native(data: "bytes | str") -> "dict | None":
    """Native conversion of ``data`` (UTF-8 bytes or text, BOM already
    stripped), or ``None`` when the stdlib parser walk must run instead."""
    lib = _get_lib()
    if lib is None:
        return None
    if isinstance(data, str):
        data = data.encode("utf-8")
    (md, mdn, pl, pln, ti, tin, has_ti), args = _out_params()
    rc = lib.html_convert(data, len(data), *args)
    if rc != 0:
        return None  # 1 = oom, 2 = bail -> stdlib parser path
    try:
        markdown = ctypes.string_at(md, mdn.value).decode("utf-8")
        plain = ctypes.string_at(pl, pln.value).decode("utf-8")
        title = (
            ctypes.string_at(ti, tin.value).decode("utf-8")
            if has_ti.value
            else None
        )
    finally:
        lib.html_free(md)
        lib.html_free(pl)
        if has_ti.value:
            lib.html_free(ti)
    return {
        "markdown": markdown,
        "plain_text": plain,
        "title": title,
        "warnings": [],
    }
