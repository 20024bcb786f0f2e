"""Outlink extraction — tokenizer-level, no DOM build needed.

The link graph is the other half of a web corpus (in-degree is a
classic quality/spam prior; host edges drive crawl scheduling). Reuses
the streaming tokenizer's one forward pass: hrefs come straight off the
``("start", "a", attr_src, _)`` tokens, so a page that never needs its
DOM for text extraction still yields its edges in O(bytes).

Total like the rest of core: malformed HTML never raises, anchors
without an href are skipped, the first href attribute wins (duplicate
attributes follow _parse_attrs' first-occurrence rule).
"""

from __future__ import annotations

from ocr_spark.core.tokenizer import _parse_attrs, tokenize


def outlinks(html: str) -> list[str]:
    """Raw href values of <a> start tags, in document order. Total."""
    out: list[str] = []
    for tok in tokenize(html).tokens:
        if tok[0] == "start" and tok[1] == "a":
            for k, v in _parse_attrs(tok[2]):
                if k == "href":
                    if v:
                        out.append(v)
                    break
    return out


# Block-level elements auto-close an open <a> (the browser recovery
# rule) — without this, one unclosed anchor swallows the whole page
# body as its "anchor text".
_A_CLOSERS = frozenset((
    "p", "div", "section", "article", "aside", "main", "nav", "header",
    "footer", "ul", "ol", "li", "table", "tr", "td", "th", "form",
    "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6"))

# Anchor text beyond this many buffered chars is dropped (real anchors
# are short; the cap keeps a malformed page from pushing page-sized
# strings into the (host, anchor) shuffle downstream).
ANCHOR_TEXT_CAP = 256


def anchored_outlinks(html: str) -> list[tuple[str, str]]:
    """(href, anchor_text) pairs of <a> start tags, in document order.
    Anchor text = whitespace-normalized concatenation of the raw text
    tokens up to the matching </a> (nested inline tags contribute their
    text; entities stay raw — the op is a link-graph signal, not a
    renderer). Total AND bounded: an unclosed <a> flushes at the next
    <a>, any block-level start tag (browser auto-close rule), or EOF;
    buffered anchor text is capped at ``ANCHOR_TEXT_CAP`` chars so a
    malformed page cannot emit a page-sized anchor; a self-closing or
    href-less <a> yields ''/no pair respectively.
    """
    out: list[tuple[str, str]] = []
    cur: str | None = None
    buf: list[str] = []
    buf_len = 0

    def flush() -> None:
        nonlocal cur, buf, buf_len
        if cur is not None:
            out.append((cur, " ".join(" ".join(buf).split())))
        cur, buf, buf_len = None, [], 0

    for tok in tokenize(html).tokens:
        kind = tok[0]
        if kind == "start" and tok[1] == "a":
            flush()
            for k, v in _parse_attrs(tok[2]):
                if k == "href":
                    if v:
                        cur = v
                    break
            if tok[3]:  # self-closing: no text can follow
                flush()
        elif kind == "start" and cur is not None and tok[1] in _A_CLOSERS:
            flush()
        elif kind == "end" and tok[1] == "a":
            flush()
        elif kind == "text" and cur is not None:
            if buf_len < ANCHOR_TEXT_CAP:
                buf.append(tok[1][:ANCHOR_TEXT_CAP - buf_len])
                buf_len += len(buf[-1])
    flush()
    return out
