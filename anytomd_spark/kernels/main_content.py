"""Main-content extraction from HTML: block segmentation + shallow-text
-feature boilerplate classification (link density / word-count rules).

The north rule names "HTML boilerplate strip ... DOM heuristics" with
link-density and text-density features; this implements the classic
densometric classifier of Kohlschütter, Fankhauser & Nejdl,
"Boilerplate Detection using Shallow Text Features" (WSDM 2010) — the
NumWordsRulesClassifier decision rules published in the boilerpipe
library (public code, Apache-2.0):

    curr.link_density > 1/3                 -> boilerplate
    elif prev.link_density > 0.555:
        content iff curr.words > 40 or next.words > 17
    else:
        content iff curr.words > 16 or next.words > 15
                 or prev.words > 4

Segmentation: the page is cut into text BLOCKS at block-level tag
boundaries (p, div, headings, li, table cells, ...); script/style/
template subtrees contribute nothing; words inside <a> subtrees count
toward the block's linked-word total. Per block: word count, linked
words, link_density = linked/words, text_density = words per 80-char
wrapped line (Kohlschütter's line definition).

This goes beyond the reference converter (html.rs converts the whole
DOM; its boilerplate handling is the tag skip-list) — the extractor is
the training-pipeline operator that keeps ONLY the article text.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser

BLOCK_TAGS = frozenset((
    "address", "article", "aside", "blockquote", "body", "br", "caption",
    "dd", "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "li",
    "main", "nav", "ol", "p", "pre", "section", "table", "tbody", "td",
    "tfoot", "th", "thead", "tr", "ul",
))
SKIP_TAGS = frozenset(("script", "style", "template", "noscript", "svg"))


@dataclass
class Block:
    """One segmented text block with its shallow features."""
    text: str
    words: int
    linked_words: int
    is_content: bool = False

    @property
    def link_density(self) -> float:
        return self.linked_words / self.words if self.words else 0.0

    @property
    def text_density(self) -> float:
        """Words per wrapped 80-char line (Kohlschütter's density)."""
        if not self.words:
            return 0.0
        lines = max(1, -(-len(self.text) // 80))
        return self.words / lines


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._words: list[str] = []
        self._linked = 0
        self._anchor_depth = 0
        self._skip_depth = 0

    def _flush(self) -> None:
        if self._words:
            self.blocks.append(Block(
                text=" ".join(self._words),
                words=len(self._words),
                linked_words=self._linked,
            ))
        self._words, self._linked = [], 0

    def handle_starttag(self, tag, attrs):
        if tag in SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag in BLOCK_TAGS:
            self._flush()
        elif tag == "a":
            self._anchor_depth += 1

    def handle_startendtag(self, tag, attrs):
        if not self._skip_depth and tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag in BLOCK_TAGS:
            self._flush()
        elif tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)

    def handle_data(self, data):
        if self._skip_depth:
            return
        ws = data.split()
        self._words.extend(ws)
        if self._anchor_depth:
            self._linked += len(ws)


def html_blocks(html: str) -> list[Block]:
    """Segment an HTML document into text blocks with shallow features."""
    p = _BlockParser()
    try:
        p.feed(html)
        p.close()
    except Exception:  # malformed tail: keep what parsed
        pass
    p._flush()
    return p.blocks


def classify_blocks(blocks: list[Block]) -> list[Block]:
    """Apply the NumWordsRules decision table (WSDM'10) in place."""
    for i, cur in enumerate(blocks):
        prev = blocks[i - 1] if i else None
        nxt = blocks[i + 1] if i + 1 < len(blocks) else None
        prev_words = prev.words if prev else 0
        prev_ld = prev.link_density if prev else 0.0
        next_words = nxt.words if nxt else 0
        if cur.link_density > 1 / 3:
            cur.is_content = False
        elif prev_ld > 0.555:
            cur.is_content = cur.words > 40 or next_words > 17
        else:
            cur.is_content = (cur.words > 16 or next_words > 15
                              or prev_words > 4)
    return blocks


def extract_main_content(html: str) -> dict:
    """Full pipeline: segment -> classify -> join content blocks.

    Returns {"content", "n_blocks", "n_content_blocks", "n_words",
    "n_content_words", "boilerplate_ratio"} with ``content`` = the
    content blocks' whitespace-collapsed texts joined by blank lines.
    """
    blocks = classify_blocks(html_blocks(html or ""))
    content = [b for b in blocks if b.is_content]
    n_words = sum(b.words for b in blocks)
    n_cwords = sum(b.words for b in content)
    return {
        "content": "\n\n".join(b.text for b in content),
        "n_blocks": len(blocks),
        "n_content_blocks": len(content),
        "n_words": n_words,
        "n_content_words": n_cwords,
        "boilerplate_ratio": (
            round(1.0 - n_cwords / n_words, 6) if n_words else 0.0
        ),
    }
