"""Parity sweep of the native HTML walker's character-reference decode.

Generates entity-bearing HTML documents (one per seed, see
:func:`entity_doc`) and checks that ``convert_html(fast=True)`` — the
native C walker wherever it accepts — returns exactly what the stdlib
``html.parser`` path, ``convert_html(fast=False)``, returns. Prints one
JSON line: documents, native accepts, mismatches (with the first few
mismatching seeds).

    python scripts/html_parity_sweep.py --start 0 --docs 1000000 --procs 3

tests/test_html_native.py runs the same sweep over a few thousand seeds.
"""

from __future__ import annotations

import argparse
import html.entities
import json
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_NAMED = sorted(k for k in html.entities.html5 if k.endswith(";"))
_LEGACY = sorted(k for k in html.entities.html5 if not k.endswith(";"))
_WORDS = ("alpha", "Beta", "x", "1", "é", "한", "🚀", "a|b", "c\\d", "*", "_")
_SPACES = (" ", " ", "  ", "\n", "\t", "\r\n", "\xa0", "　", "\x0b")
_TAGS = (
    "<p>", "</p>", "<div>", "</div>", "<span>", "</span>", "<b>", "</b>",
    "<em>", "</em>", "<h1>", "</h1>", "<h2>", "</h2>", "<ul>", "</ul>",
    "<ol>", "</ol>", "<li>", "</li>", "<table>", "</table>", "<thead>",
    "</thead>", "<tr>", "</tr>", "<td>", "</td>", "<th>", "</th>",
    "<pre>", "</pre>", "<code>", "</code>", "<blockquote>", "</blockquote>",
    "<br>", "<hr>", "</a>", "<dl>", "<dt>", "<dd>", "</dl>",
)
# codepoints html.unescape remaps, drops or replaces, and their edges
_EDGE_CPS = (
    0, 1, 8, 9, 10, 11, 12, 13, 14, 31, 32, 38, 60, 126, 127, 128, 133,
    159, 160, 0xAD, 0x2028, 0xD7FF, 0xD800, 0xDFFF, 0xE000, 0xFDCF, 0xFDD0,
    0xFDEF, 0xFDF0, 0xFFFD, 0xFFFE, 0xFFFF, 0x10000, 0x1FFFE, 0x10FFFD,
    0x10FFFE, 0x10FFFF, 0x110000, 1 << 32, 10 ** 40,
)
# one digit more than int() parses: html.unescape raises on such a
# decimal reference, both walkers read it as html5ever does
_PAST_LIMIT = sys.get_int_max_str_digits() + 1


def _codepoint(rng: random.Random) -> int:
    r = rng.random()
    if r < 0.15:
        return rng.choice(_EDGE_CPS)
    if r < 0.45:
        return rng.randint(32, 126)
    if r < 0.65:
        return rng.randint(160, 0x7FF)
    if r < 0.9:
        return rng.randint(0x800, 0xFFFF)
    return rng.randint(0x10000, 0x10FFFF)


def _ref(rng: random.Random) -> str:
    """One character reference, or a bare or malformed '&' shape."""
    r = rng.random()
    if r < 0.45:
        return "&" + rng.choice(_NAMED)
    if r < 0.8:
        cp = _codepoint(rng)
        if rng.random() < 0.5:
            return "&#" + rng.choice(("{:d};", "{:04d};")).format(cp)
        return "&#" + rng.choice("xX") + rng.choice(
            ("{:x};", "{:X};", "{:06x};")).format(cp)
    if r < 0.96:
        return "&" + rng.choice((" ", "<", "&", "\t", "\n", "\x0c"))
    # semicolon-less, unknown, partly known and over-long references,
    # and decimal ones past the digit limit, with and without leading
    # zeros
    return rng.choice((
        "&" + rng.choice(_LEGACY), "&amp", "&ampx;", "&bogus;", "&;",
        "&#;", "&#x;", "&#65", "&#x41", "&#" + "9" * 40 + ";",
        "&" + "a" * 31 + ";", "&" + "a" * 32 + ";", "&" + "a" * 33 + ";",
        "&é;", "&a-b;", "&\r", "&#", "&" + rng.choice(_NAMED)[:-1],
        "&" + rng.choice(_NAMED)[:-1] + "x;",
        "&#" + "1" * _PAST_LIMIT + ";", "&#" + "0" * _PAST_LIMIT + "65;",
        "&#" + "0" * _PAST_LIMIT + "0;", "&#00" + "9" * _PAST_LIMIT,
    ))


def _text(rng: random.Random, n: int) -> str:
    parts = []
    for _ in range(n):
        r = rng.random()
        if r < 0.3:
            parts.append(_ref(rng))
        elif r < 0.6:
            parts.append(rng.choice(_WORDS))
        else:
            parts.append(rng.choice(_SPACES))
    return "".join(parts)


def _attr_value(rng: random.Random) -> str:
    return _text(rng, rng.randint(0, 4)).replace('"', "").replace("<", "")


def entity_doc(seed: int) -> str:
    """An HTML document with character references in text, attribute
    values, title/textarea content and script/style content, some of
    them decimal references past ``int()``'s digit limit."""
    rng = random.Random(seed)
    parts = []
    if rng.random() < 0.5:
        parts.append(f"<title>{_text(rng, rng.randint(1, 6))}</title>")
    for _ in range(rng.randint(1, 14)):
        r = rng.random()
        if r < 0.35:
            parts.append(_text(rng, rng.randint(1, 8)))
        elif r < 0.6:
            parts.append(rng.choice(_TAGS))
        elif r < 0.7:
            parts.append(f'<a href="{_attr_value(rng)}">')
        elif r < 0.75:
            parts.append(f'<img alt="{_attr_value(rng)}" '
                         f"src='{_attr_value(rng)}'>")
        elif r < 0.78:
            value = rng.choice(("checkbox", "check&#98;ox", "&#99;heckbox",
                                "checkbox&amp;", "text"))
            parts.append(f'<input type="{value}"'
                         + rng.choice((" checked>", ">")))
        elif r < 0.81:
            parts.append(f'<p class="{_attr_value(rng)}">')
        elif r < 0.84:
            # unquoted: ASCII without whitespace (anything else bails)
            value = "".join(c for c in _attr_value(rng)
                            if c.isascii() and not c.isspace() and c != ">")
            parts.append(f"<a href={value or 'x'}>")
        elif r < 0.9:
            tag = rng.choice(("textarea", "title", "script", "style"))
            parts.append(f"<{tag}>{_text(rng, rng.randint(1, 6))}</{tag}>")
        else:
            # a script inside the first h1 reaches the title capture raw
            parts.append(f"<h1>{_text(rng, 2)}<script>"
                         f"{_text(rng, 3)}</script></h1>")
    if rng.random() < 0.1:
        parts.append("&")  # a bare '&' at the end of the input
    return "".join(parts)


def sweep(start: int, stop: int) -> dict:
    """Parity over seeds [start, stop)."""
    from anytomd_spark.kernels._html_native import convert_html_native
    from anytomd_spark.kernels.html_conv import convert_html

    accepted = 0
    bad: list[int] = []
    for seed in range(start, stop):
        text = entity_doc(seed)
        if convert_html_native(text) is not None:
            accepted += 1
        data = text.encode("utf-8")
        if convert_html(data, fast=True) != convert_html(data, fast=False):
            bad.append(seed)
    return {"docs": stop - start, "native_accepted": accepted,
            "mismatches": len(bad), "first_mismatch_seeds": bad[:10]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--procs", type=int, default=1)
    args = ap.parse_args()
    chunk = 10_000
    bounds = [(s, min(s + chunk, args.start + args.docs))
              for s in range(args.start, args.start + args.docs, chunk)]
    if args.procs > 1:
        import multiprocessing

        with multiprocessing.get_context("spawn").Pool(args.procs) as pool:
            parts = pool.starmap(sweep, bounds)
    else:
        parts = [sweep(*b) for b in bounds]
    total = {"start": args.start, "docs": 0, "native_accepted": 0,
             "mismatches": 0, "first_mismatch_seeds": []}
    for part in parts:
        for key in ("docs", "native_accepted", "mismatches"):
            total[key] += part[key]
        total["first_mismatch_seeds"] += part["first_mismatch_seeds"]
    total["first_mismatch_seeds"] = total["first_mismatch_seeds"][:10]
    print(json.dumps(total))


if __name__ == "__main__":
    main()
