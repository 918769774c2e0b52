"""HTML to Markdown conversion kernel.

Reimplements the DOM edge-walk of ``/root/reference/src/converter/html.rs``
(WalkerState :67-225, handle_open :255-420, handle_close :424-548,
handle_text :552-645, collapse_whitespace :648-663, render_table :669-691,
extract_title :44-63) on top of the stdlib ``html.parser`` tokenizer with a
small WHATWG-ish implied-end-tag layer (html5ever's tree builder closes
unclosed ``li``/``p``/``tr``/``td`` elements; we synthesize the same close
edges so the walker sees an equivalent Open/Close stream).
"""

from __future__ import annotations

from html import unescape as _unescape
from html.parser import HTMLParser

from anytomd_spark.kernels import markdown as md

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Block-level tags that implicitly close an open <p> (WHATWG "close a p element")
_P_CLOSERS = frozenset(
    (
        "address article aside blockquote details div dl fieldset figcaption "
        "figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr main menu nav "
        "ol p pre section table ul"
    ).split()
)
# Inline/formatting tags that may sit between an open <p> and the stack top
_FORMATTING = frozenset(
    "a b i u s em strong code span small big font sub sup mark abbr".split()
)
_SKIP_TAGS = frozenset(("script", "style", "head"))

# hot-path early-outs: the walker's open/close chains only act on these
# tags (plus the title/h1 captures and _SKIP_TAGS bookkeeping, which MUST
# run before the skip check — title lives inside the skipped <head>).
# Unhandled tags (div, span, section, ...) cost two set probes, not a
# ~25-branch elif scan.
_CAPTURE_OR_SKIP = frozenset(("title", "h1")) | _SKIP_TAGS
_OPEN_TAGS = frozenset((
    "h1", "h2", "h3", "h4", "h5", "h6", "p", "a", "img", "strong", "b",
    "em", "i", "code", "pre", "ul", "ol", "li", "table", "thead", "tbody",
    "tr", "th", "td", "blockquote", "hr", "br", "input",
))
_CLOSE_TAGS = frozenset((
    "h1", "h2", "h3", "h4", "h5", "h6", "p", "a", "strong", "b", "em",
    "i", "code", "pre", "ul", "ol", "li", "table", "tr", "th", "td",
    "blockquote",
))
# tags that trigger implied-end-tag synthesis beyond the _P_CLOSERS set
_IMPLIED_TRIGGERS = frozenset(
    ("li", "dt", "dd", "td", "th", "tr", "thead", "tbody", "tfoot")
)


class _StrBuf:
    """Append-mostly string buffer with O(1) length and cheap tail truncation."""

    __slots__ = ("chunks", "length")

    def __init__(self) -> None:
        self.chunks: list[str] = []
        self.length = 0

    def push(self, s: str) -> None:
        if s:
            self.chunks.append(s)
            self.length += len(s)

    def tail_from(self, pos: int) -> str:
        """Return buffer[pos:] without mutating."""
        if pos >= self.length:
            return ""
        out: list[str] = []
        remaining = self.length - pos
        for chunk in reversed(self.chunks):
            if remaining <= 0:
                break
            if len(chunk) >= remaining:
                out.append(chunk[len(chunk) - remaining:])
                remaining = 0
            else:
                out.append(chunk)
                remaining -= len(chunk)
        return "".join(reversed(out))

    def truncate(self, pos: int) -> None:
        if pos >= self.length:
            return
        remove = self.length - pos
        while remove > 0 and self.chunks:
            last = self.chunks[-1]
            if len(last) <= remove:
                self.chunks.pop()
                remove -= len(last)
            else:
                self.chunks[-1] = last[: len(last) - remove]
                remove = 0
        self.length = pos

    def last_char(self) -> str:
        for chunk in reversed(self.chunks):
            if chunk:
                return chunk[-1]
        return ""

    def tail_newline_count(self) -> int:
        count = 0
        for chunk in reversed(self.chunks):
            stripped = len(chunk.rstrip("\n"))
            count += len(chunk) - stripped
            if stripped:
                break
        return count

    def value(self) -> str:
        joined = "".join(self.chunks)
        self.chunks = [joined] if joined else []
        return joined

    def take(self) -> str:
        """Join and RELEASE the buffer (terminal read): on multi-MB
        documents keeping [joined] alive would hold an extra copy of the
        whole output through the caller's strip() — measured ~20% of the
        conversion's peak RSS on a 24 MB document."""
        joined = "".join(self.chunks)
        self.chunks = []
        self.length = 0
        return joined


import re as _re

# Rust u8::is_ascii_whitespace = space, \t, \n, \r, \x0c (NO vertical tab)
_WS_RUN = _re.compile(r"[ \t\n\r\x0c]+")


def collapse_whitespace(s: str) -> str:
    """Collapse runs of ASCII whitespace into single spaces (html.rs:648-663).

    Only ASCII whitespace collapses (matching Rust's is_ascii_whitespace);
    unicode spaces pass through untouched. A string whose only ASCII
    whitespace is isolated single spaces is already collapsed — returned
    as-is (C-speed containment scans beat the regex rebuild on the hot
    text path, where most runs are plain prose).
    """
    if ("\n" in s or "  " in s or "\t" in s or "\r" in s or "\x0c" in s):
        return _WS_RUN.sub(" ", s)
    return s


class _Walker:
    """Dual-buffer markdown/plain emitter; one Open/Close edge per element."""

    def __init__(self) -> None:
        self.out = _StrBuf()
        self.plain = _StrBuf()
        self.stack: list[str] = []  # open-element stack (edge synthesis)
        self._p_open = 0  # open <p> count: guards the per-tag p-scan
        self.list_stack: list[list] = []  # [ordered, item_count]
        self.in_pre = False
        self.skip_depth = 0
        self.blockquote_depth = 0
        self.trailing_newlines = 0
        self.plain_trailing_newlines = 0
        self.pending_heading: tuple[int, int, int] | None = None  # (level, md_pos, plain_pos)
        self.pending_link: tuple[str, int] | None = None  # (href, md_pos)
        self.table: dict | None = None
        # title extraction (html.rs:44-63): first <title>, fallback first <h1>
        self.title_text: str | None = None
        self.first_h1_text: str | None = None
        self._title_capture: list[str] | None = None
        self._h1_capture: list[str] | None = None

    # ---- buffer helpers ----

    def push_str(self, s: str) -> None:
        if not s:
            return
        # inlined _StrBuf.push: this + plain_push_str are the two hottest
        # per-event calls (~450k/doc-batch) — one attribute hop, no frame
        buf = self.out
        buf.chunks.append(s)
        buf.length += len(s)
        if s[-1] != "\n":  # common case: no trailing newline
            self.trailing_newlines = 0
            return
        stripped = len(s.rstrip("\n"))
        if stripped == 0:
            self.trailing_newlines += len(s)
        else:
            self.trailing_newlines = len(s) - stripped

    def ensure_newline(self) -> None:
        if self.trailing_newlines < 1 and self.out.length:
            self.push_str("\n")

    def ensure_blank_line(self) -> None:
        if not self.out.length:
            return
        if self.blockquote_depth > 0:
            prefix = "> " * self.blockquote_depth
            self.ensure_newline()
            if self.trailing_newlines < 2:
                self.push_str(prefix)
                self.push_str("\n")
        else:
            need = 2 - self.trailing_newlines
            if need > 0:  # one batched chunk (buffer value is identical)
                buf = self.out
                buf.chunks.append("\n" if need == 1 else "\n\n")
                buf.length += need
                self.trailing_newlines = 2

    def plain_push_str(self, s: str) -> None:
        if not s:
            return
        buf = self.plain
        buf.chunks.append(s)
        buf.length += len(s)
        if s[-1] != "\n":
            self.plain_trailing_newlines = 0
            return
        stripped = len(s.rstrip("\n"))
        if stripped == 0:
            self.plain_trailing_newlines += len(s)
        else:
            self.plain_trailing_newlines = len(s) - stripped

    def plain_ensure_newline(self) -> None:
        if self.plain_trailing_newlines < 1 and self.plain.length:
            self.plain_push_str("\n")

    def plain_ensure_blank_line(self) -> None:
        if not self.plain.length:
            return
        need = 2 - self.plain_trailing_newlines
        if need > 0:
            buf = self.plain
            buf.chunks.append("\n" if need == 1 else "\n\n")
            buf.length += need
            self.plain_trailing_newlines = 2

    def both_push_str(self, s: str) -> None:
        self.push_str(s)
        self.plain_push_str(s)

    def both_ensure_newline(self) -> None:
        self.ensure_newline()
        self.plain_ensure_newline()

    def both_ensure_blank_line(self) -> None:
        self.ensure_blank_line()
        self.plain_ensure_blank_line()

    def in_table_cell(self) -> bool:
        return self.table is not None and self.table["in_cell"]

    # ---- open edge ----

    # Per-tag open-edge actions (html.rs handle_open :255-420), dict-
    # dispatched: one hash probe instead of a ~19-branch elif scan per
    # tag event on the hottest walker path.

    def _open_heading(self, tag: str, attrs) -> None:
        self.both_ensure_blank_line()
        self.pending_heading = (int(tag[1]), self.out.length, self.plain.length)

    def _open_p(self, tag: str, attrs) -> None:
        if not self.in_table_cell():
            self.both_ensure_blank_line()

    def _open_a(self, tag: str, attrs) -> None:
        self.pending_link = (attrs.get("href") or "", self.out.length)

    def _open_img(self, tag: str, attrs) -> None:
        alt = attrs.get("alt") or ""
        src = attrs.get("src") or ""
        self.push_str(f"![{alt}]({src})")
        self.plain_push_str(alt)

    def _open_strong(self, tag: str, attrs) -> None:
        self.push_str("**")

    def _open_em(self, tag: str, attrs) -> None:
        self.push_str("*")

    def _open_code(self, tag: str, attrs) -> None:
        if not self.in_pre:
            self.push_str("`")

    def _open_pre(self, tag: str, attrs) -> None:
        self.in_pre = True
        self.both_ensure_blank_line()
        self.push_str("```\n")

    def _open_list(self, tag: str, attrs) -> None:
        if self.list_stack:
            self.both_ensure_newline()
        else:
            self.both_ensure_blank_line()
        self.list_stack.append([tag == "ol", 0])

    def _open_li(self, tag: str, attrs) -> None:
        indent = "  " * max(0, len(self.list_stack) - 1)
        if self.list_stack:
            ctx = self.list_stack[-1]
            ctx[1] += 1
            prefix = f"{indent}{ctx[1]}. " if ctx[0] else f"{indent}- "
        else:
            prefix = f"{indent}- "
        self.push_str(prefix)
        self.plain_push_str(indent)

    def _open_table(self, tag: str, attrs) -> None:
        self.both_ensure_blank_line()
        self.table = {
            "headers": [], "rows": [], "current_row": [],
            "current_cell": [], "in_header": False, "in_cell": False,
        }

    def _open_thead(self, tag: str, attrs) -> None:
        if self.table is not None:
            self.table["in_header"] = True

    def _open_tbody(self, tag: str, attrs) -> None:
        if self.table is not None:
            self.table["in_header"] = False

    def _open_tr(self, tag: str, attrs) -> None:
        if self.table is not None:
            self.table["current_row"] = []

    def _open_cell(self, tag: str, attrs) -> None:
        if self.table is not None:
            self.table["current_cell"] = []
            self.table["in_cell"] = True

    def _open_blockquote(self, tag: str, attrs) -> None:
        self.blockquote_depth += 1
        self.ensure_newline()
        self.plain_ensure_newline()

    def _open_hr(self, tag: str, attrs) -> None:
        self.ensure_blank_line()
        self.push_str("---\n")
        self.plain_ensure_blank_line()

    def _open_br(self, tag: str, attrs) -> None:
        if self.in_pre:
            self.both_push_str("\n")
        elif self.in_table_cell():
            pass  # table cells: newline dropped (html.rs:392-394)
        else:
            self.both_push_str("\n")
            if self.blockquote_depth > 0:
                self.push_str("> " * self.blockquote_depth)

    def _open_input(self, tag: str, attrs) -> None:
        if (attrs.get("type") or "") == "checkbox":
            self.push_str("[x] " if "checked" in attrs else "[ ] ")

    _OPEN_DISPATCH = {
        "h1": _open_heading, "h2": _open_heading, "h3": _open_heading,
        "h4": _open_heading, "h5": _open_heading, "h6": _open_heading,
        "p": _open_p, "a": _open_a, "img": _open_img,
        "strong": _open_strong, "b": _open_strong,
        "em": _open_em, "i": _open_em,
        "code": _open_code, "pre": _open_pre,
        "ul": _open_list, "ol": _open_list, "li": _open_li,
        "table": _open_table, "thead": _open_thead, "tbody": _open_tbody,
        "tr": _open_tr, "th": _open_cell, "td": _open_cell,
        "blockquote": _open_blockquote, "hr": _open_hr, "br": _open_br,
        "input": _open_input,
    }
    assert frozenset(_OPEN_DISPATCH) == _OPEN_TAGS

    def handle_open(self, tag: str, attrs: dict[str, str | None]) -> None:
        if tag in _CAPTURE_OR_SKIP:
            if (self._title_capture is None and tag == "title"
                    and self.title_text is None):
                self._title_capture = []
            if (self._h1_capture is None and tag == "h1"
                    and self.first_h1_text is None):
                self._h1_capture = []
            if tag in _SKIP_TAGS:
                self.skip_depth += 1
                return
        if self.skip_depth > 0:
            return
        handler = self._OPEN_DISPATCH.get(tag)
        if handler is not None:
            handler(self, tag, attrs)

    # ---- close edge ----

    # Per-tag close-edge actions (html.rs handle_close :422-520), dict-
    # dispatched like _OPEN_DISPATCH.

    def _close_heading(self, tag: str) -> None:
        if self.pending_heading is not None:
            level, start, plain_start = self.pending_heading
            self.pending_heading = None
            text = self.out.tail_from(start)
            self.out.truncate(start)
            self.trailing_newlines = self.out.tail_newline_count()
            self.push_str(md.format_heading(level, text.strip()))
            plain_text = self.plain.tail_from(plain_start)
            self.plain.truncate(plain_start)
            self.plain_trailing_newlines = self.plain.tail_newline_count()
            trimmed = plain_text.strip()
            if trimmed:
                self.plain_push_str(trimmed)
                self.plain_push_str("\n")

    def _close_p(self, tag: str) -> None:
        if not self.in_table_cell():
            self.both_ensure_blank_line()

    def _close_a(self, tag: str) -> None:
        if self.pending_link is not None:
            href, start = self.pending_link
            self.pending_link = None
            text = self.out.tail_from(start)
            self.out.truncate(start)
            self.trailing_newlines = self.out.tail_newline_count()
            if not href:
                self.push_str(text.strip())
            else:
                self.push_str(f"[{text.strip()}]({href})")

    def _close_strong(self, tag: str) -> None:
        self.push_str("**")

    def _close_em(self, tag: str) -> None:
        self.push_str("*")

    def _close_code(self, tag: str) -> None:
        if not self.in_pre:
            self.push_str("`")

    def _close_pre(self, tag: str) -> None:
        self.ensure_newline()
        self.push_str("```\n")
        self.plain_ensure_newline()
        self.in_pre = False

    def _close_list(self, tag: str) -> None:
        if self.list_stack:
            self.list_stack.pop()
        if not self.list_stack:
            self.both_ensure_blank_line()

    def _close_li(self, tag: str) -> None:
        self.both_ensure_newline()

    def _close_table(self, tag: str) -> None:
        if self.table is not None:
            tc = self.table
            self.table = None
            self.push_str(_render_table(tc, plain=False))
            self.plain_push_str(_render_table(tc, plain=True))

    def _close_tr(self, tag: str) -> None:
        if self.table is not None:
            row = self.table["current_row"]
            self.table["current_row"] = []
            if self.table["in_header"]:
                self.table["headers"] = row
            else:
                self.table["rows"].append(row)

    def _close_cell(self, tag: str) -> None:
        if self.table is not None:
            cell = "".join(self.table["current_cell"]).strip()
            self.table["current_cell"] = []
            self.table["current_row"].append(cell)
            self.table["in_cell"] = False

    def _close_blockquote(self, tag: str) -> None:
        self.blockquote_depth = max(0, self.blockquote_depth - 1)
        self.both_ensure_newline()

    _CLOSE_DISPATCH = {
        "h1": _close_heading, "h2": _close_heading, "h3": _close_heading,
        "h4": _close_heading, "h5": _close_heading, "h6": _close_heading,
        "p": _close_p, "a": _close_a,
        "strong": _close_strong, "b": _close_strong,
        "em": _close_em, "i": _close_em,
        "code": _close_code, "pre": _close_pre,
        "ul": _close_list, "ol": _close_list, "li": _close_li,
        "table": _close_table, "tr": _close_tr,
        "th": _close_cell, "td": _close_cell,
        "blockquote": _close_blockquote,
    }
    assert frozenset(_CLOSE_DISPATCH) == _CLOSE_TAGS

    def handle_close(self, tag: str) -> None:
        if tag in _CAPTURE_OR_SKIP:
            if tag == "title" and self._title_capture is not None:
                text = "".join(self._title_capture).strip()
                if text and self.title_text is None:
                    self.title_text = text
                self._title_capture = None
            if tag == "h1" and self._h1_capture is not None:
                text = "".join(self._h1_capture).strip()
                if text and self.first_h1_text is None:
                    self.first_h1_text = text
                self._h1_capture = None
            if tag in _SKIP_TAGS:
                self.skip_depth = max(0, self.skip_depth - 1)
                return
        if self.skip_depth > 0:
            return
        handler = self._CLOSE_DISPATCH.get(tag)
        if handler is not None:
            handler(self, tag)

    # ---- text ----

    def handle_text(self, raw: str) -> None:
        if self._title_capture is not None:
            self._title_capture.append(raw)
        if self._h1_capture is not None:
            self._h1_capture.append(raw)
        if self.skip_depth > 0:
            return
        if self.table is not None:
            if self.table["in_cell"]:
                self.table["current_cell"].append(raw)
            return  # text between table tags outside cells is dropped
        if self.in_pre:
            self.both_push_str(raw)
            return
        collapsed = collapse_whitespace(raw)
        if not collapsed:
            return
        if collapsed == " ":
            if self.out.length and self.trailing_newlines == 0:
                last = self.out.last_char()
                if last not in (" ", "\t"):
                    self.push_str(" ")
            if self.plain.length and self.plain_trailing_newlines == 0:
                last = self.plain.last_char()
                if last not in (" ", "\t"):
                    self.plain_push_str(" ")
            return
        md_collapsed = collapsed
        if collapsed.startswith(" ") and self.out.length:
            if self.out.last_char() in (" ", "\t"):
                md_collapsed = collapsed[1:]
        plain_collapsed = collapsed
        if collapsed.startswith(" ") and self.plain.length:
            if self.plain.last_char() in (" ", "\t"):
                plain_collapsed = collapsed[1:]
        if md_collapsed:
            if self.blockquote_depth > 0:
                prefix = "> " * self.blockquote_depth
                if self.trailing_newlines > 0 or not self.out.length:
                    self.push_str(prefix)
                for i, line in enumerate(md_collapsed.split("\n")):
                    if i > 0:
                        self.push_str("\n")
                        self.push_str(prefix)
                    self.push_str(line)
            else:
                self.push_str(md_collapsed)
        if plain_collapsed:
            self.plain_push_str(plain_collapsed)

    # ---- tree construction (Open/Close edge synthesis) ----
    #
    # Implied end tags (subset of WHATWG tree construction: html5ever
    # closes unclosed li/p/tr/td; we synthesize the same close edges) and
    # stack discipline live HERE; the stdlib html.parser tokenizer adapts
    # onto these methods through _EdgeParser, and kernels/_html_fast.c
    # mirrors them in C.

    # The per-event membership probes (void / implied-trigger / p-closer /
    # capture + the open/close dispatch .get) are folded into ONE
    # precomputed descriptor lookup: _TAG_INFO[tag] = (flags, open_h,
    # close_h), built after the class body. Tags outside every set (span,
    # font, ...) miss the dict entirely — the most common boilerplate
    # events cost a single hash probe. Flag-order preserves the original
    # semantics exactly: VOID wins before the implied check (so <hr>,
    # though a _P_CLOSER, never closes an open <p> — html.rs parity), and
    # capture/skip bookkeeping still runs before the skip_depth gate.

    def edge_starttag(self, tag: str, attrs: dict[str, str | None]) -> None:
        info = _TAG_INFO.get(tag)
        if info is None:
            # unknown element: no void/implied/capture semantics, no
            # open action — stack discipline only
            self.stack.append(tag)
            return
        flags, open_h, _close_h = info
        if flags & 1:  # void
            self.handle_open(tag, attrs)
            self.handle_close(tag)
            return
        if flags & 2 or (self._p_open and flags & 4):
            self._close_implied_for(tag)
        self.stack.append(tag)
        if flags & 16:  # <p>
            self._p_open += 1
        # handle_open, inlined (the hottest per-event call chain)
        if flags & 8:  # title/h1 capture + skip bookkeeping
            self.handle_open(tag, attrs)
            return
        if self.skip_depth > 0:
            return
        if open_h is not None:
            open_h(self, tag, attrs)

    def edge_endtag(self, tag: str) -> None:
        info = _TAG_INFO.get(tag)
        if info is not None and info[0] & 1:  # void
            return
        stack = self.stack
        # fast path: well-formed HTML closes the top of the stack
        if stack and stack[-1] == tag:
            stack.pop()
            if info is None:
                return
            flags = info[0]
            if flags & 16:  # <p>
                self._p_open -= 1
            # handle_close, inlined
            if flags & 8:
                self.handle_close(tag)
                return
            if self.skip_depth > 0:
                return
            close_h = info[2]
            if close_h is not None:
                close_h(self, tag)
            return
        # scan from the top without building a reversed copy
        for i in range(len(stack) - 1, -1, -1):
            if stack[i] == tag:
                while len(stack) > i:
                    self._pop_close()
                return
        # stray end tag with no matching open: ignored

    def edge_text(self, data: str) -> None:
        # RCDATA decode: html.parser's cdata mode delivers title/textarea
        # content raw, in one piece — convert_charrefs does not apply
        # inside CDATA elements.
        stack = self.stack
        if stack and stack[-1] in ("title", "textarea") and "&" in data:
            data = _unescape(data)
        self.handle_text(data)

    def edge_eof(self) -> None:
        while self.stack:
            self._pop_close()

    # -- implied end-tag synthesis helpers --

    def _close_implied_for(self, tag: str) -> None:
        if tag in _IMPLIED_TRIGGERS:
            if tag == "li":
                self._close_up_to("li", stop_at=("ul", "ol"))
            elif tag in ("dt", "dd"):
                self._close_up_to_any(("dt", "dd"), stop_at=("dl",))
            elif tag in ("td", "th"):
                self._close_up_to_any(("td", "th"), stop_at=("tr", "table"))
            elif tag == "tr":
                self._close_up_to(
                    "tr", stop_at=("table", "thead", "tbody", "tfoot")
                )
            else:  # thead / tbody / tfoot
                self._close_up_to("tr", stop_at=("table",))
        if self._p_open and tag in _P_CLOSERS:
            stack = self.stack
            for idx in range(len(stack) - 1, -1, -1):
                if stack[idx] == "p":
                    if all(t in _FORMATTING for t in stack[idx + 1:]):
                        while len(stack) > idx:
                            self._pop_close()
                    break

    def _close_up_to(self, target: str, stop_at: tuple[str, ...]) -> None:
        self._close_up_to_any((target,), stop_at)

    def _close_up_to_any(
        self, targets: tuple[str, ...], stop_at: tuple[str, ...]
    ) -> None:
        for i in range(len(self.stack) - 1, -1, -1):
            t = self.stack[i]
            if t in stop_at:
                return
            if t in targets:
                while len(self.stack) > i:
                    self._pop_close()
                return

    def _pop_close(self) -> None:
        t = self.stack.pop()
        if t == "p":
            self._p_open -= 1
        self.handle_close(t)


def _render_table(tc: dict, plain: bool) -> str:
    """No <thead> -> first row becomes the header (html.rs:669-691)."""
    if not tc["headers"] and tc["rows"]:
        headers, data_rows = tc["rows"][0], tc["rows"][1:]
    else:
        headers, data_rows = tc["headers"], tc["rows"]
    if not headers:
        return ""
    if plain:
        return md.build_table_plain(headers, data_rows)
    return md.build_table(headers, data_rows)


_EMPTY_ATTRS: dict = {}


def _build_tag_info() -> dict[str, tuple]:
    """tag -> (flags, open_handler, close_handler) for every tag any
    walker edge treats specially; tags outside every set miss the dict.
    Flag bits: 1=void, 2=implied-end trigger, 4=p-closer, 8=capture/skip
    bookkeeping, 16=<p> itself (open-p counter)."""
    tags = (VOID_ELEMENTS | _IMPLIED_TRIGGERS | _P_CLOSERS
            | _CAPTURE_OR_SKIP | _OPEN_TAGS | _CLOSE_TAGS)
    info = {}
    for t in tags:
        flags = ((1 if t in VOID_ELEMENTS else 0)
                 | (2 if t in _IMPLIED_TRIGGERS else 0)
                 | (4 if t in _P_CLOSERS else 0)
                 | (8 if t in _CAPTURE_OR_SKIP else 0)
                 | (16 if t == "p" else 0))
        info[t] = (flags, _Walker._OPEN_DISPATCH.get(t),
                   _Walker._CLOSE_DISPATCH.get(t))
    return info


_TAG_INFO = _build_tag_info()


class _EdgeParser(HTMLParser):
    """stdlib-tokenizer adapter onto the walker's edge layer.

    Tree construction (implied end tags, stack discipline) lives in
    _Walker.edge_*; this class only adapts html.parser's callback shapes
    and EOF quirks.
    """

    # html.parser only treats script/style as raw text; the WHATWG spec
    # (and html5ever, which the reference uses) also parses title and
    # textarea as RCDATA — '<p>' inside <title> is TEXT, not a tag.
    # Registering them here keeps the stdlib path equivalent to the native
    # walker's raw-text mode (differential-fuzz-found divergence on
    # unterminated titles).
    CDATA_CONTENT_ELEMENTS = ("script", "style", "title", "textarea")

    def __init__(self, walker: _Walker) -> None:
        super().__init__(convert_charrefs=True)
        self.walker = walker

    def handle_starttag(self, tag: str, attrs: list) -> None:
        # walkers only read attrs; share one empty dict for the common case
        self.walker.edge_starttag(
            tag, dict(attrs) if attrs else _EMPTY_ATTRS
        )

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        w = self.walker
        attrs_dict = dict(attrs) if attrs else _EMPTY_ATTRS
        w.handle_open(tag, attrs_dict)
        w.handle_close(tag)

    def handle_endtag(self, tag: str) -> None:
        self.walker.edge_endtag(tag)

    def handle_data(self, data: str) -> None:
        self.walker.edge_text(data)

    def close(self) -> None:
        # unterminated markup declaration at EOF ('<!...' / '<?...' with
        # no '>'): the WHATWG bogus-comment state swallows it (html5ever
        # and the native walker agree); html.parser would emit it as
        # data — drop the buffered tail instead
        if (not self.cdata_elem and self.rawdata
                and self.rawdata.startswith(("<!", "<?"))
                and ">" not in self.rawdata):
            self.rawdata = ""
        # unterminated RCDATA/raw-text element at EOF: html.parser's
        # goahead() buffers the tail forever (never emits it), but the
        # WHATWG spec — and html5ever, and the native walker — emit the
        # pending content as text. Flush it before closing.
        if self.cdata_elem and self.rawdata:
            elem = self.cdata_elem
            data, self.rawdata = self.rawdata, ""
            self.clear_cdata_mode()
            self.handle_data(data)
            self.handle_endtag(elem)
        super().close()
        self.walker.edge_eof()


def convert_html(data: bytes, fast: bool = True) -> dict:
    """Convert HTML bytes to (markdown, plain, title) per html.rs:22-40.

    Two tiers: the native C walker (kernels/_html_fast.c) for documents
    of any size inside its verified envelope (plain tag markup, every
    character reference decoded exactly like ``html.unescape``; it BAILS
    on anything else — deep lists or stack, non-ASCII bytes in tag
    markup — so it can only be faster, never different: byte-parity
    locked by tests/test_html_native.py over fixtures + fuzz + the bench
    corpus + the entity sweep of scripts/html_parity_sweep.py), then the
    stdlib html.parser walk, which is also the differential oracle
    (``fast=False`` runs it alone)."""
    # html.rs:27 errors on invalid UTF-8; once the bytes are known valid,
    # C reads them as they are, with no decoded copy alive meanwhile
    data.decode("utf-8")
    if data.startswith(b"\xef\xbb\xbf"):
        data = data[3:]
    if fast:
        from anytomd_spark.kernels._html_native import convert_html_native

        native = convert_html_native(data)
        if native is not None:
            return native
    walker = _Walker()
    parser = _EdgeParser(walker)
    parser.feed(data.decode("utf-8"))
    parser.close()

    out = walker.out.take().strip()
    if out:
        out += "\n"
    plain = walker.plain.take().strip()
    if plain:
        plain += "\n"
    title = walker.title_text or walker.first_h1_text
    return {
        "markdown": out,
        "plain_text": plain,
        "title": title,
        "warnings": [],
    }
