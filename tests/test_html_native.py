"""Byte-parity gate for the native HTML walker (kernels/_html_fast.c).

The native walker may either produce EXACTLY the stdlib parser walk's
output (``convert_html(data, fast=False)``) or decline (return None ->
caller falls back to that walk), never a third thing.  These tests drive
both implementations over the reference fixture, the synthetic corpus
generator, adversarial tag soup, generated entity-bearing documents,
every shape of character reference ``html.unescape`` knows, and
documents of several megabytes, and assert that equivalence.
"""

from __future__ import annotations

import html.entities
import importlib.util
import json
import os
import random
import subprocess
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from anytomd_spark.kernels import _html_native
from anytomd_spark.kernels._html_native import _get_lib, convert_html_native
from anytomd_spark.kernels.html_conv import convert_html

_FUZZ_MULT = 1


def _assert_native_matches(text: str) -> bool:
    """True when the native path accepted the doc (and matched)."""
    text = text.removeprefix("\ufeff")  # convert_html strips one BOM
    r = convert_html_native(text)
    if r is None:
        return False
    assert r == convert_html(text.encode("utf-8"), fast=False)
    return True


needs_native = pytest.mark.skipif(
    _get_lib() is None, reason="no C toolchain in this environment"
)


def _load_parity_sweep():
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "html_parity_sweep.py")
    spec = importlib.util.spec_from_file_location("_html_parity_sweep", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


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

    def test_charrefs_decode_like_html_unescape(self):
        for text in (
            "<p>a &amp; b &#65;&#x42;&#X43; &eacute;&hellip;</p>",
            "<a href='/q?a=1&amp;b=&#50;'>go &gt; on</a>",
            "<img alt='&quot;A&quot; &amp; B' src='/i?x=1&amp;y=2'>",
            "<title>Fish &amp; Chips &#8212; menu</title><p>x</p>",
            "<textarea>&lt;b&gt; &copy;</textarea><p>y</p>",
            "<p>&lt;b&gt;bold?&lt;/b&gt;</p>",  # decodes to literal <b>
            "<p>a &nbsp; b&nbsp;</p><h1>&nbsp;Head&nbsp;</h1>",
            "<p>&NotEqualTilde; &bne; &fjlig;</p>",  # two codepoints each
            "<p>a & b &<i>c</i> &&amp; &\tx &\n</p> &",  # literal '&'
            "<pre>a&#10;b&Tab;c</pre><td>&#124;|</td>",
            "<input type='check&#98;ox' checked> <a href=x&amp;y>z</a>",
            "<p>&#x1F680; &#xFFFD; &#0065; &#x00041;</p>",
            '<a href="/q?a=1&b=2">x</a>',  # semicolon-less, on real pages
            "<p>AT&T</p><p>Q&A</p><p>&copy 2026</p>",
        ):
            assert _assert_native_matches(text), text
        for ref in (
            # references without ';', unknown or partly known names,
            # remapped, dropped and out-of-range codepoints, long runs
            "&amp", "&ampx;", "&ampx", "&#128;", "&#0;", "&#xD800;",
            "&#x110000;", "&#1;", "&#;", "&#" + "1" * 40 + ";",
            "&" + "a" * 33 + ";", "&" + "a" * 40, "&é;", "&#13;", "&#x;",
            "&#65", "&#x41x", "&;", "&notit;", "&notin", "&copyé", "&lt=;",
            "&CounterClockwiseContourIntegral;", "&#", "&\r", "&#x1FFFE",
            "&#4294967361;", "&#x100000041;",  # 2**32 + 65: no wrap to 'A'
        ):
            for text in (f"<p>x {ref} y</p>", f"<a href='{ref}'>l</a>",
                         f"<title>{ref}</title>",
                         f"<img alt='{ref}' src='{ref}'>"):
                assert _assert_native_matches(text), text

    def test_charrefs_outside_the_accepted_forms_decline(self):
        """The one reference the walker does not decode is a decimal one
        longer than int() parses: it declines, and both tiers raise as
        html.unescape does."""
        text = "<p>&#" + "1" * (sys.get_int_max_str_digits() + 1) + ";</p>"
        assert convert_html_native(text) is None
        with pytest.raises(ValueError):
            convert_html(text.encode("utf-8"), fast=False)
        with pytest.raises(ValueError):
            convert_html(text.encode("utf-8"))

    def test_tag_soup_reads_like_html_parser(self):
        """Where html.parser departs from a plain regex reading of tags,
        the native walker reads the markup as html.parser does, or
        declines."""
        for text in (
            "<p>a<!-- x -- >b</p>",  # a comment closes at --\s*>
            "<p>a<!-->b</p>",  # an unclosed comment is text up to '>'
            "<p>a<!-- b",  # ... and the rest of the input with no '>'
            "<title>T</ title><p>b</p>",  # raw text closes at </\s*name
            "<p>a</ p x>b</p>",  # '</ ' + junk: a bogus comment
            "<a href=x\x1cy>l</a>",  # \x1c is \s inside a tag
            "<x<p>a</x>b",  # '<' inside a tag name
            "<p>a<b c='d'",  # an unterminated tag is text
            "<b>a<a b='<i>' c",  # ... up to the next '>'
            "<p>a<!-->b<title>lost",  # after one, unclosed raw text is lost
        ):
            assert _assert_native_matches(text), text
        for text in ("<p/ >x", "<p\x00>", "<![CDATA[x]]>", "<a b='x",
                     "</a,b>", "<b\u212a>x"):
            assert convert_html_native(text) is None, text

    def test_charrefs_in_script_and_style_stay_raw(self):
        # script content inside the first <h1> reaches the title raw
        text = ("<h1>T <script>a &amp; &bogus &#0;</script></h1>"
                "<style>p::after { content: '&lt;' }</style><p>&lt;</p>")
        assert _assert_native_matches(text)
        assert convert_html_native(text)["title"] == "T a &amp; &bogus &#0;"

    def test_entity_sweep_matches_the_stdlib_parser(self):
        """A few thousand seeds of the parity sweep script's generator:
        wherever the native walker accepts, its output is the stdlib
        parser path's."""
        sweep = _load_parity_sweep()
        res = sweep.sweep(0, 3000)
        assert res["mismatches"] == 0, res
        assert res["native_accepted"] >= 2950, res

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
        "&lt;b&gt;", "&nbsp;", "&#x1F680;", "&NotEqualTilde;", "&amp",
        "&ampx;", "&#128;", "&#0;", "&#xD800;", "&#x110000;", "&#;", "&",
        "& ", "&#" + "9" * 40 + ";", "&" + "a" * 33 + ";", "&é;",
        "<a href='?a=1&amp;b=2'>", "<img alt=\"&quot;q&quot;\" src=\"&#47;\">",
        "<input type=\"check&#98;ox\">",
        " ", "　", "\x0b", "\x85",
        "<p class=x>",  # unicode ws: part of the tag name
        # where html.parser departs from a plain regex reading of tags:
        # '/' separators, \x1c-\x1f as \s, '\0' ending a tag name,
        # unclosed quotes, comment and cdata closes with whitespace,
        # marked sections, bogus end tags, and what follows the first
        # unterminated construct
        "<p/ >", "<br / >", "<a href=x\x1cy>", "<p\x00>", "<a b='x",
        "<!-->", "<!--->", "-- >", "--!>", "</ title>", "</ a x>",
        "</a,b>", "</a\x0b>", "<![CDATA[", "<![if x]>", "<!x", "<?x",
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


# Force-included ahead of _html_fast.c: allocation number k fails (and,
# when sticky, every one after it), and every live allocation is counted
# so a leak shows.
_BUDGET_H = r"""
#define _GNU_SOURCE
#include <stdlib.h>
static long fail_at = -1, n_calls, n_live;
static int sticky;
static int budget_spent(void) {
    n_calls++;
    return fail_at >= 0 &&
           (n_calls == fail_at + 1 || (sticky && n_calls > fail_at));
}
static void *budget_malloc(size_t n) {
    void *p = budget_spent() ? NULL : malloc(n);
    if (p) n_live++;
    return p;
}
static void *budget_realloc(void *q, size_t n) {
    void *p = budget_spent() ? NULL : realloc(q, n);
    if (p && !q) n_live++;
    return p;
}
static void budget_free(void *p) {
    if (p) n_live--;
    free(p);
}
void budget_set(long k, int all_after) {
    fail_at = k;
    sticky = all_after;
    n_calls = 0;
}
long budget_calls(void) { return n_calls; }
long budget_live(void) { return n_live; }
#define malloc budget_malloc
#define realloc budget_realloc
#define free budget_free
"""

# Runs in a child process, so a crash fails the test instead of the run.
_SWEEP = r"""
import ctypes, json, sys
lib = ctypes.CDLL(sys.argv[1])
doc = open(sys.argv[2], "rb").read()
P = ctypes.POINTER
lib.html_convert.restype = ctypes.c_int
lib.html_convert.argtypes = (
    [ctypes.c_char_p, ctypes.c_size_t]
    + [P(ctypes.c_char_p), P(ctypes.c_size_t)] * 3 + [P(ctypes.c_int)])
lib.html_free.restype = None
lib.html_free.argtypes = [ctypes.c_char_p]
lib.budget_set.restype = None
lib.budget_set.argtypes = [ctypes.c_long, ctypes.c_int]
lib.budget_calls.restype = lib.budget_live.restype = ctypes.c_long
out = [ctypes.c_char_p(), ctypes.c_size_t(), ctypes.c_char_p(),
       ctypes.c_size_t(), ctypes.c_char_p(), ctypes.c_size_t(),
       ctypes.c_int()]

def run(k, sticky=0):
    lib.budget_set(k, sticky)
    rc = lib.html_convert(doc, len(doc), *[ctypes.byref(v) for v in out])
    live = lib.budget_live()
    got = None
    if rc == 0:
        md, mdn, pl, pln, ti, tin, has_ti = out
        got = [ctypes.string_at(md, mdn.value).decode(),
               ctypes.string_at(pl, pln.value).decode(),
               ctypes.string_at(ti, tin.value).decode()
               if has_ti.value else None]
        for p in (md, pl, ti):
            lib.html_free(p)
    return rc, got, live, lib.budget_live()

rc, want, _, left = run(-1)
n_allocs = lib.budget_calls()
runs = [run(k, sticky) for sticky in (0, 1) for k in range(n_allocs + 1)]
print(json.dumps({"rc": rc, "want": want, "left": left,
                  "n_allocs": n_allocs, "runs": runs}))
"""


def _table_heavy_doc() -> str:
    rows = "".join(
        f"<tr><td>r{r} a|b</td><td>back\\slash {r}</td>"
        f"<td>line\none\r\ntwo</td>"
        + "".join(f"<td>c{c}</td>" for c in range(10)) + "</tr>"
        for r in range(12)
    )
    head = "<thead><tr>" + "".join(
        f"<th>h{c}</th>" for c in range(13)) + "</tr></thead>"
    return (
        # title, h1 and href outgrow their 32-byte starting buffers; the
        # references in them and in the text make the decode buffer grow
        "<html><head><title>Quarterly tables &amp; charts, with every "
        "cell escaped &#8212; in full</title></head><body><h1>Report on "
        "the quarterly tables, in full</h1><p>Intro &lt;b&gt; &nbsp; "
        + "&eacute;&#x1F680;" * 20 + " AT&T, Q&A, &copy 2026, &ampx &#x41x &"
        + "z" * 40 + " <a href='/reports/2024/quarterly/"
        "tables.html?year=2024&amp;q=4&amp;format=&#104;tml&b=2'>"
        "link</a> and <b>bold</b>.</p>"
        f"<table>{head}<tbody>{rows}</tbody></table>"
        "<ul><li>one</li><li>two</li></ul>"
        f"<table>{rows}</table><pre>x  y\n z</pre>"
        "<blockquote><p>quoted</p></blockquote><table><tr><td>open"
    )


@needs_native
def test_allocation_failures_return_oom_or_identical_output(tmp_path):
    """Every allocation of a table-heavy, reference-bearing document is
    failed in turn, alone and with all later ones: the walker either
    returns 0 with the unbudgeted output or returns 1, never crashes, and
    an error leaves no allocation behind. The library is built from the
    same generated source the product build compiles."""
    header = tmp_path / "budget.h"
    header.write_text(_BUDGET_H)
    lib = tmp_path / "html_fast_budget.so"
    subprocess.run(
        ["cc", "-O2", "-fPIC", "-shared", "-include", str(header),
         "-o", str(lib), "-x", "c", "-"],
        input=_html_native._c_source(),
        check=True, capture_output=True, timeout=120,
    )
    doc = tmp_path / "doc.html"
    doc.write_text(_table_heavy_doc())
    child = subprocess.run(
        [sys.executable, "-c", _SWEEP, str(lib), str(doc)],
        capture_output=True, text=True, timeout=300,
    )
    assert child.returncode == 0, child.stderr[-2000:]
    res = json.loads(child.stdout)
    assert res["rc"] == 0 and res["left"] == 0
    assert res["want"][0].count("|---|") >= 2  # the tables rendered
    assert res["n_allocs"] > 50
    codes = set()
    for k, (rc, got, live, left) in enumerate(res["runs"]):
        codes.add(rc)
        assert rc in (0, 1), k
        if rc == 0:
            assert got == res["want"], k
            assert left == 0, k
        else:
            assert live == 0, k
    assert codes == {0, 1}
    # the unbudgeted document is what the product walker returns
    assert convert_html_native(_table_heavy_doc())["markdown"] == res["want"][0]
    assert res["want"][2] == (
        "Quarterly tables & charts, with every cell escaped \u2014 in full")


@needs_native
def test_multi_megabyte_pages_convert_natively():
    """Size is no reason to decline: a 1.1 MB page of the benchmark's
    real-web generator and the 24 MB document of
    test_chaos::test_near_limit_turn_in_memory_capped_worker convert
    natively, to exactly what the stdlib parser walk returns."""
    from perfbench.inputs import web_page

    body = "<p>chunk of body text for the memory probe</p>" * 512
    chaos = ("<html><body>" + body * ((24 << 20) // len(body))
             + "</body></html>")
    for text in (web_page(random.Random(3), 1_100_000), chaos):
        assert _assert_native_matches(text), len(text)


def test_changed_entity_table_builds_a_different_library(monkeypatch):
    """The .so is keyed on the generated source, tables included, so a
    library built against another interpreter's entity table is never
    loaded for this one."""
    src = _html_native._c_source()
    monkeypatch.setitem(html.entities.html5, "zzentity;", "z")
    changed = _html_native._c_source()
    assert changed != src and b'"zzentity;"' in changed
    assert _html_native._so_path(changed) != _html_native._so_path(src)
