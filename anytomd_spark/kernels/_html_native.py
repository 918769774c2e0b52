"""ctypes loader for the native HTML fast path (_html_fast.c).

Compiles the C twin on first import (cached in a temp dir keyed by the
md5 of the C source, so a changed kernel never reuses a stale .so) and
exposes :func:`convert_html_native`, which returns ``None`` whenever the
native walker declines — build unavailable, input contains ``&``
(html.unescape must run, Python path), or the C side bailed on a
construct outside its verified envelope.  The caller falls back to the
pure-Python walker in every ``None`` case, so this module can only make
conversion faster, never different: byte-parity on the accepted domain
is locked by tests/test_html_native.py.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import pkgutil
import subprocess
import tempfile
import threading

_lib = None
_tried = False


def _build() -> "ctypes.CDLL | None":
    try:
        # through the package loader, so the source is found when the
        # package is imported from a zip (--py-files, the shipped zip)
        src = pkgutil.get_data(__package__, "_html_fast.c")
        token = hashlib.md5(src).hexdigest()[:16]
        so_path = os.path.join(
            tempfile.gettempdir(), f"anytomd_html_fast_{token}.so"
        )
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


def convert_html_native(text: str) -> "dict | None":
    """Native conversion of ``text`` (BOM already stripped), or ``None``
    when the Python walker must run instead."""
    if "&" in text:  # html.unescape must apply; identity only without '&'
        return None
    if len(text) > (1 << 20):
        # the C walker trades memory for speed (growable output buffers
        # with doubling, whole-buffer copies at heading/link close); the
        # Python walker carries the audited marginal-peak bound
        # (test_chaos::test_near_limit_turn_in_memory_capped_worker), so
        # multi-MB documents stay on it — the native win is throughput
        # on the many-small-docs shape, not single-giant-doc latency
        return None
    lib = _get_lib()
    if lib is None:
        return None
    (md, mdn, pl, pln, ti, tin, has_ti), args = _out_params()
    data = text.encode("utf-8")
    rc = lib.html_convert(data, len(data), *args)
    if rc != 0:
        return None  # 1 = oom, 2 = bail -> Python path
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
