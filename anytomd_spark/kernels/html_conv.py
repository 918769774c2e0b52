"""HTML to Markdown conversion kernel.

Reimplements the DOM edge-walk of ``/root/reference/src/converter/html.rs``
(WalkerState :67-225, handle_open :255-420, handle_close :424-548,
handle_text :552-645, collapse_whitespace :648-663, render_table :669-691,
extract_title :44-63) on top of the stdlib ``html.parser`` tokenizer with a
small WHATWG-ish implied-end-tag layer (html5ever's tree builder closes
unclosed ``li``/``p``/``tr``/``td`` elements; we synthesize the same close
edges so the walker sees an equivalent Open/Close stream).

The native C walker (``kernels/_html_fast.c``) converts nearly every
document; this stdlib walk is the reference it is checked against
(``convert_html(fast=False)``) and the fallback for the documents it
declines, so it is written to be read, not to be fast.
"""

from __future__ import annotations

import html
import html.parser
import re
import sys
import types
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
# Other implied end tags: opening tag -> (tags it closes, tags that stop
# the search down the stack)
_IMPLIED_END = {
    "li": (("li",), ("ul", "ol")),
    "dt": (("dt", "dd"), ("dl",)),
    "dd": (("dt", "dd"), ("dl",)),
    "td": (("td", "th"), ("tr", "table")),
    "th": (("td", "th"), ("tr", "table")),
    "tr": (("tr",), ("table", "thead", "tbody", "tfoot")),
    "thead": (("tr",), ("table",)),
    "tbody": (("tr",), ("table",)),
    "tfoot": (("tr",), ("table",)),
}
_SKIP_TAGS = frozenset(("script", "style", "head"))
# first non-empty <title>, else first non-empty <h1> (html.rs:44-63)
_CAPTURE_TAGS = ("title", "h1")

_DECIMAL_REF = re.compile(r"&#([0-9]+)")


def _unescape(s: str) -> str:
    """``html.unescape(s)``, except where it raises: a decimal reference
    with more digits than ``int()`` parses. Such a reference decodes as
    html5ever reads it: leading zeros dropped, then U+FFFD when more than
    ``sys.get_int_max_str_digits()`` digits are left, else the value."""
    try:
        return html.unescape(s)
    except ValueError:
        limit = sys.get_int_max_str_digits()

        def shorten(m: re.Match) -> str:
            digits = m[1].lstrip("0") or "0"
            return "&#" + ("65533" if len(digits) > limit else digits)

        return html.unescape(_DECIMAL_REF.sub(shorten, s))


def _with_our_unescape(method):
    """An ``html.parser.HTMLParser`` method whose calls to the module's
    ``unescape`` reach :func:`_unescape` instead."""
    return types.FunctionType(
        method.__code__, {**vars(html.parser), "unescape": _unescape},
        method.__name__, method.__defaults__, method.__closure__,
    )


class _StrBuf:
    """Append-mostly string buffer with O(1) length, cheap tail removal
    and a count of the newlines it ends with."""

    __slots__ = ("chunks", "length", "trailing_newlines")

    def __init__(self) -> None:
        self.chunks: list[str] = []
        self.length = 0
        self.trailing_newlines = 0

    def push(self, s: str) -> None:
        if not s:
            return
        self.chunks.append(s)
        self.length += len(s)
        stripped = len(s.rstrip("\n"))
        if stripped:
            self.trailing_newlines = len(s) - stripped
        else:
            self.trailing_newlines += len(s)

    def ensure_newline(self) -> None:
        if self.length and self.trailing_newlines < 1:
            self.push("\n")

    def ensure_blank_line(self) -> None:
        if self.length and self.trailing_newlines < 2:
            self.push("\n" * (2 - self.trailing_newlines))

    def cut(self, pos: int) -> str:
        """Remove and return buffer[pos:]."""
        if pos >= self.length:
            return ""
        chunks = self.chunks
        tail: list[str] = []
        remove = self.length - pos
        while remove:
            last = chunks.pop()
            if len(last) > remove:
                chunks.append(last[:-remove])
                last = last[-remove:]
            tail.append(last)
            remove -= len(last)
        self.length = pos
        self.trailing_newlines = 0
        for chunk in reversed(chunks):
            stripped = len(chunk.rstrip("\n"))
            self.trailing_newlines += len(chunk) - stripped
            if stripped:
                break
        return "".join(reversed(tail))

    def last_char(self) -> str:
        # push and cut never leave an empty chunk
        return self.chunks[-1][-1] if self.chunks else ""

    def take(self) -> str:
        """Join and RELEASE the buffer (terminal read): on multi-MB
        documents keeping [joined] alive would hold an extra copy of the
        whole output through the caller's strip() — measured ~20% of the
        conversion's peak RSS on a 24 MB document."""
        joined = "".join(self.chunks)
        self.chunks = []
        self.length = 0
        return joined


# Rust u8::is_ascii_whitespace = space, \t, \n, \r, \x0c (NO vertical tab)
_WS_RUN = re.compile(r"[ \t\n\r\x0c]+")


def collapse_whitespace(s: str) -> str:
    """Collapse runs of ASCII whitespace into single spaces (html.rs:648-663).

    Only ASCII whitespace collapses (matching Rust's is_ascii_whitespace);
    unicode spaces pass through untouched.
    """
    return _WS_RUN.sub(" ", s)


def _drop_leading_space(buf: _StrBuf, text: str) -> str:
    """``text`` without its leading space when ``buf`` ends in one."""
    if text.startswith(" ") and buf.last_char() in (" ", "\t"):
        return text[1:]
    return text


class _Walker:
    """Dual-buffer markdown/plain emitter; one Open/Close edge per element."""

    def __init__(self) -> None:
        self.out = _StrBuf()
        self.plain = _StrBuf()
        self.stack: list[str] = []  # open-element stack (edge synthesis)
        self.list_stack: list[list] = []  # [ordered, item_count]
        self.in_pre = False
        self.skip_depth = 0
        self.blockquote_depth = 0
        self.pending_heading: tuple[int, int, int] | None = None  # (level, md_pos, plain_pos)
        self.pending_link: tuple[str, int] | None = None  # (href, md_pos)
        self.table: dict | None = None
        self.captures: dict[str, list[str]] = {}  # open title/h1 captures
        self.captured: dict[str, str] = {}  # their first non-empty text

    # ---- buffer helpers ----

    def both_push(self, s: str) -> None:
        self.out.push(s)
        self.plain.push(s)

    def both_ensure_newline(self) -> None:
        self.out.ensure_newline()
        self.plain.ensure_newline()

    def both_ensure_blank_line(self) -> None:
        # inside a blockquote the Markdown blank line is a "> " line
        out = self.out
        if self.blockquote_depth and out.length:
            out.ensure_newline()
            if out.trailing_newlines < 2:
                out.push("> " * self.blockquote_depth + "\n")
        else:
            out.ensure_blank_line()
        self.plain.ensure_blank_line()

    def in_table_cell(self) -> bool:
        return self.table is not None and self.table["in_cell"]

    # ---- open edge (html.rs handle_open :255-420) ----

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
        self.out.push(f"![{alt}]({src})")
        self.plain.push(alt)

    def _open_strong(self, tag: str, attrs) -> None:
        self.out.push("**")

    def _open_em(self, tag: str, attrs) -> None:
        self.out.push("*")

    def _open_code(self, tag: str, attrs) -> None:
        if not self.in_pre:
            self.out.push("`")

    def _open_pre(self, tag: str, attrs) -> None:
        self.in_pre = True
        self.both_ensure_blank_line()
        self.out.push("```\n")

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
        self.out.push(prefix)
        self.plain.push(indent)

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
        self.both_ensure_newline()

    def _open_hr(self, tag: str, attrs) -> None:
        self.both_ensure_blank_line()
        self.out.push("---\n")

    def _open_br(self, tag: str, attrs) -> None:
        if self.in_pre:
            self.both_push("\n")
        elif self.in_table_cell():
            pass  # table cells: newline dropped (html.rs:392-394)
        else:
            self.both_push("\n")
            if self.blockquote_depth > 0:
                self.out.push("> " * self.blockquote_depth)

    def _open_input(self, tag: str, attrs) -> None:
        if (attrs.get("type") or "") == "checkbox":
            self.out.push("[x] " if "checked" in attrs else "[ ] ")

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

    def handle_open(self, tag: str, attrs: dict[str, str | None]) -> None:
        # title lives inside the skipped <head>: capture before the skip check
        if (tag in _CAPTURE_TAGS and tag not in self.captures
                and tag not in self.captured):
            self.captures[tag] = []
        if tag in _SKIP_TAGS:
            self.skip_depth += 1
            return
        if self.skip_depth > 0:
            return
        handler = self._OPEN_DISPATCH.get(tag)
        if handler is not None:
            handler(self, tag, attrs)

    # ---- close edge (html.rs handle_close :424-548) ----

    def _close_heading(self, tag: str) -> None:
        if self.pending_heading is not None:
            level, start, plain_start = self.pending_heading
            self.pending_heading = None
            text = self.out.cut(start).strip()
            self.out.push(md.format_heading(level, text))
            plain_text = self.plain.cut(plain_start).strip()
            if plain_text:
                self.plain.push(plain_text + "\n")

    def _close_p(self, tag: str) -> None:
        if not self.in_table_cell():
            self.both_ensure_blank_line()

    def _close_a(self, tag: str) -> None:
        if self.pending_link is not None:
            href, start = self.pending_link
            self.pending_link = None
            text = self.out.cut(start).strip()
            self.out.push(f"[{text}]({href})" if href else text)

    def _close_strong(self, tag: str) -> None:
        self.out.push("**")

    def _close_em(self, tag: str) -> None:
        self.out.push("*")

    def _close_code(self, tag: str) -> None:
        if not self.in_pre:
            self.out.push("`")

    def _close_pre(self, tag: str) -> None:
        self.both_ensure_newline()
        self.out.push("```\n")
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
            self.out.push(_render_table(tc, plain=False))
            self.plain.push(_render_table(tc, plain=True))

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

    def handle_close(self, tag: str) -> None:
        capture = self.captures.pop(tag, None)
        if capture is not None:
            text = "".join(capture).strip()
            if text:
                self.captured[tag] = text
        if tag in _SKIP_TAGS:
            self.skip_depth = max(0, self.skip_depth - 1)
            return
        if self.skip_depth > 0:
            return
        handler = self._CLOSE_DISPATCH.get(tag)
        if handler is not None:
            handler(self, tag)

    # ---- text (html.rs handle_text :552-645) ----

    def handle_text(self, raw: str) -> None:
        for capture in self.captures.values():
            capture.append(raw)
        if self.skip_depth > 0:
            return
        if self.table is not None:
            if self.table["in_cell"]:
                self.table["current_cell"].append(raw)
            return  # text between table tags outside cells is dropped
        if self.in_pre:
            self.both_push(raw)
            return
        collapsed = collapse_whitespace(raw)
        if collapsed == " ":
            # a lone space joins words, never starts a line or doubles up
            for buf in (self.out, self.plain):
                if (buf.length and not buf.trailing_newlines
                        and buf.last_char() not in (" ", "\t")):
                    buf.push(" ")
            return
        # collapsed text holds no newline, so one prefix covers it
        out = self.out
        md_text = _drop_leading_space(out, collapsed)
        if md_text:
            if self.blockquote_depth and (out.trailing_newlines
                                          or not out.length):
                out.push("> " * self.blockquote_depth)
            out.push(md_text)
        self.plain.push(_drop_leading_space(self.plain, collapsed))

    # ---- tree construction (Open/Close edge synthesis) ----
    #
    # Implied end tags (subset of WHATWG tree construction: html5ever
    # closes unclosed li/p/tr/td; we synthesize the same close edges) and
    # stack discipline live HERE; the stdlib html.parser tokenizer adapts
    # onto these methods through _EdgeParser, and kernels/_html_fast.c
    # mirrors them in C.

    def edge_starttag(self, tag: str, attrs: dict[str, str | None]) -> None:
        # a void element never closes an open <p>, not even <hr>
        # (html.rs parity)
        if tag in VOID_ELEMENTS:
            self.handle_open(tag, attrs)
            self.handle_close(tag)
            return
        implied = _IMPLIED_END.get(tag)
        if implied is not None:
            self._close_up_to(*implied)
        if tag in _P_CLOSERS:
            self._close_p_for_block()
        self.stack.append(tag)
        self.handle_open(tag, attrs)

    def edge_endtag(self, tag: str) -> None:
        if tag not in VOID_ELEMENTS:
            # a stray end tag with no matching open is ignored
            self._close_up_to((tag,), ())

    def edge_text(self, data: str) -> None:
        # RCDATA decode: html.parser's cdata mode delivers title/textarea
        # content raw, in one piece — convert_charrefs does not apply
        # inside CDATA elements.
        stack = self.stack
        if stack and stack[-1] in ("title", "textarea") and "&" in data:
            data = _unescape(data)
        self.handle_text(data)

    def edge_eof(self) -> None:
        self._close_to(0)

    # -- implied end-tag synthesis helpers --

    def _close_p_for_block(self) -> None:
        """Close the innermost <p> if only formatting elements are open
        above it."""
        stack = self.stack
        for i in range(len(stack) - 1, -1, -1):
            if stack[i] == "p":
                self._close_to(i)
                return
            if stack[i] not in _FORMATTING:
                return

    def _close_up_to(
        self, targets: tuple[str, ...], stop_at: tuple[str, ...]
    ) -> None:
        """Close down to and including the innermost open element in
        ``targets``, unless one in ``stop_at`` is open above it."""
        stack = self.stack
        for i in range(len(stack) - 1, -1, -1):
            if stack[i] in targets:
                self._close_to(i)
                return
            if stack[i] in stop_at:
                return

    def _close_to(self, depth: int) -> None:
        while len(self.stack) > depth:
            self.handle_close(self.stack.pop())


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

    # text runs and attribute values decode here, not in a handler
    goahead = _with_our_unescape(HTMLParser.goahead)
    parse_starttag = _with_our_unescape(HTMLParser.parse_starttag)

    def __init__(self, walker: _Walker) -> None:
        super().__init__(convert_charrefs=True)
        self.walker = walker

    def handle_starttag(self, tag: str, attrs: list) -> None:
        self.walker.edge_starttag(tag, dict(attrs))

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        self.walker.handle_open(tag, dict(attrs))
        self.walker.handle_close(tag)

    def handle_endtag(self, tag: str) -> None:
        self.walker.edge_endtag(tag)

    def handle_data(self, data: str) -> None:
        self.walker.edge_text(data)

    def parse_marked_section(self, i: int, report: int = 1) -> int:
        # html.parser raises on a marked section with an unknown keyword
        # or none ('<![foo[x]]>', '<![ x]]>'); html5ever reads it as a
        # bogus comment, which ends at the next '>'. With no '>', -1
        # leaves it to close(), which drops it.
        try:
            return super().parse_marked_section(i, report)
        except AssertionError:
            end = self.rawdata.find(">", i + 3)
            return -1 if end < 0 else end + 1

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

    Two tiers. The native C walker (kernels/_html_fast.c) takes documents
    of any size inside its verified envelope (plain tag markup, every
    character reference decoded exactly like :func:`_unescape`). It
    declines anything else — deep lists or stack, non-ASCII bytes in tag
    markup, marked sections — and so can only be faster, never
    different: byte parity is locked by tests/test_html_native.py over
    fixtures, fuzz, the bench corpus and the entity sweep of
    scripts/html_parity_sweep.py. The stdlib html.parser walk converts
    what it declines and is the differential oracle (``fast=False`` runs
    it alone)."""
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
    return {
        "markdown": out,
        "plain_text": plain,
        "title": walker.captured.get("title") or walker.captured.get("h1"),
        "warnings": [],
    }
