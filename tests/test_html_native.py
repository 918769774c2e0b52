"""Byte-parity gate for the native HTML fast path (kernels/_html_fast.c).

The native walker may either produce EXACTLY the Python fast walker's
output or decline (return None -> caller falls back), never a third
thing.  These tests drive both implementations over the reference
fixture, the synthetic corpus generator, and adversarial tag soup
(including the constructs the C side is expected to BAIL on: charrefs,
unicode whitespace inside tags, slash separators, exotic names) and
assert that equivalence.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from anytomd_spark.kernels._html_native import _get_lib, convert_html_native
from anytomd_spark.kernels.html_conv import _Walker, _fast_feed, convert_html

_FUZZ_MULT = 1


def _py_fast(text: str) -> tuple:
    w = _Walker()
    _fast_feed(w, text)
    w.edge_eof()
    out = w.out.take().strip()
    if out:
        out += "\n"
    plain = w.plain.take().strip()
    if plain:
        plain += "\n"
    return out, plain, (w.title_text or w.first_h1_text)


def _assert_native_matches(text: str) -> bool:
    """True when the native path accepted the doc (and matched)."""
    r = convert_html_native(text)
    if r is None:
        return False
    assert (r["markdown"], r["plain_text"], r["title"]) == _py_fast(text)
    return True


needs_native = pytest.mark.skipif(
    _get_lib() is None, reason="no C toolchain in this environment"
)


@needs_native
class TestNativeDifferential:
    def test_fixture(self):
        with open("/root/reference/tests/fixtures/sample.html", "rb") as f:
            text = f.read().decode("utf-8")
        # fixture may contain charrefs; either accept+match or decline
        _assert_native_matches(text)

    def test_corpus_generator(self):
        from anytomd_spark.transcripts import build_html

        accepted = 0
        for i in range(300):
            text = build_html(random.Random(i))
            if _assert_native_matches(text):
                accepted += 1
        # the bench corpus is squarely inside the envelope
        assert accepted >= 290

    def test_charref_declines(self):
        assert convert_html_native("<p>a &amp; b</p>") is None

    def test_convert_html_equal_with_and_without_native(self):
        from anytomd_spark.transcripts import build_html

        for i in range(50):
            data = build_html(random.Random(1000 + i)).encode("utf-8")
            fast = convert_html(data, fast=True)
            ref = convert_html(data, fast=False)
            assert fast == ref

    def test_concurrent_calls_get_their_own_results(self):
        """The out-parameters are per thread: html_convert releases the
        GIL, so two threads converting different documents at once must
        each read back their own document's Markdown."""
        import threading

        from anytomd_spark.transcripts import build_html

        docs = [build_html(random.Random(seed)) * 4 for seed in (1, 2)]
        want = [convert_html_native(d) for d in docs]
        assert None not in want and want[0] != want[1]
        start = threading.Barrier(2)
        bad = [0, 0]

        def work(i):
            start.wait()
            for _ in range(1500):
                if convert_html_native(docs[i]) != want[i]:
                    bad[i] += 1

        threads = [threading.Thread(target=work, args=(i,)) for i in (0, 1)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert bad == [0, 0]

    _SOUP = (
        "<p>", "</p>", "<div>", "</div>", "<span>", "</span>",
        "<strong>", "</strong>", "<em>", "</em>", "<li>", "</li>",
        "<ul>", "</ul>", "<ol>", "</ol>", "<table>", "</table>",
        "<thead>", "</thead>", "<tbody>", "</tbody>",
        "<tr>", "</tr>", "<td>", "</td>", "<th>", "</th>",
        "<h1>", "</h1>", "<h2>", "</h2>", "<a href=\"x\">", "</a>",
        "<a href=''>", "<a>", "<blockquote>", "</blockquote>",
        "<pre>", "</pre>", "<code>", "</code>", "<dt>", "<dd>", "<dl>",
        "</dl>", "<title>", "</title>", "<script>", "</script>",
        "<style>", "</style>", "<head>", "</head>", "<textarea>",
        "</textarea>", "<br>", "<br/>", "<br />", "<hr>",
        "<img src=\"i\" alt=\"A\">", "<img>",
        "<input type=\"checkbox\" checked>", "<input type=\"checkbox\">",
        "<input type=\"text\">",
        "<!-- comment -->", "<!---->", "<!doctype html>", "<?pi?>",
        "<![CDATA[x]]>", "<!", "<?", "</", "<", ">", "</ p>", "</junk x>",
        "<p  class=c>", "<p class='q'>", "<p class>", "<p a=1 b=2>",
        "<x<p>", "<p/ >", "<p / >", "&amp;", "&#65;", "&bogus",
        " ", "　", "\x0b", "\x85",
        "<p class=x>",  # unicode ws inside tag -> C bails
    )

    @given(st.lists(
        st.one_of(
            st.sampled_from(_SOUP),
            st.text(alphabet="abc X\n\t\r 한🚀", min_size=1, max_size=10),
        ),
        max_size=40,
    ))
    @settings(max_examples=400 * _FUZZ_MULT, deadline=5000)
    def test_tag_soup_native_differential(self, parts):
        text = "".join(parts)
        _assert_native_matches(text)

    @given(st.text(max_size=250))
    @settings(max_examples=200 * _FUZZ_MULT, deadline=2000)
    def test_arbitrary_text_native_differential(self, s):
        _assert_native_matches(s)
