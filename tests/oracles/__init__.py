"""Equality oracles for the extraction core.

Independently-readable reference spellings that the shipped hot-path
code is pinned against — tests only, never imported by ``ocr_spark``:

* :func:`tokenize_reference` — explicit find / char-dispatch /
  per-branch regex; ``ocr_spark.core.tokenizer.tokenize`` (master
  regex) must be token- and recovery-identical to it;
* :func:`build_dom` + :func:`segment_blocks` — materialize the
  document tree, then DFS it into blocks;
  ``ocr_spark.core.blocks.segment_html`` (fused tokenize + segment, no
  tree, no token list) must be field-identical to
  ``segment_blocks(build_dom(tokenize(html).tokens))``;
* :data:`_WS_RE` — the regex spelling of
  ``ocr_spark.core.blocks.normalize_ws``.

The tree builder applies the recovery rules that ``segment_html``
simulates on its open stack (the tables in ``core/blocks.py``).
"""

from __future__ import annotations

import html as _htmlmod
import re

from ocr_spark.core.blocks import (
    _IMPLICIT_CLOSE, _SCOPE_TAGS, BLOCK_TAGS, BOILER_CONTAINERS, SKIP_TAGS,
    VOID_TAGS, Block, _words, normalize_ws)
from ocr_spark.core.tokenizer import (
    _RAWTEXT_CLOSE_RE, _TAG_NAME_RE, RAWTEXT_TAGS, TokenStream)

# Canonical whitespace normalization: explicit ASCII class so the exact
# semantics are reproducible in Spark/DuckDB regexes (SURVEY.md §7).
_WS_RE = re.compile(r"[ \t\n\r\f\v]+")

# The per-branch patterns the master regex (core/tokenizer.py
# _MASTER_RE, branches 1 and 2-4, where the start-tag rules are
# explained) reuses verbatim.
_END_TAG_RE = re.compile(r"</\s*([a-zA-Z][a-zA-Z0-9:_\-]*)[^>]*>")
_START_TAG_RE = re.compile(
    r"""<([a-zA-Z][a-zA-Z0-9:_\-]*)"""
    r"""((?:"[^"]*"|'[^']*'|[^>"'])*?)"""
    r"""\s*(/?)>"""
)


def tokenize_reference(html: str) -> TokenStream:
    """The dispatch-loop spelling of ``tokenize``: one decision at a
    time, one branch-specific regex per tag."""
    tokens: list[tuple] = []
    recoveries = 0
    n = len(html)
    i = 0
    find = html.find
    append = tokens.append

    while i < n:
        lt = find("<", i)
        if lt < 0:
            if i < n:
                append(("text", html[i:]))
            break
        if lt > i:
            append(("text", html[i:lt]))

        nxt_c = html[lt + 1] if lt + 1 < n else ""

        if nxt_c == "!" or nxt_c == "?":
            # Comment
            if html.startswith("<!--", lt):
                end = find("-->", lt + 4)
                if end < 0:  # unterminated comment: swallow to EOF
                    recoveries += 1
                    break
                append(("comment", html[lt + 4 : end]))
                i = end + 3
                continue

            # CDATA (emitted as text per the XML-ish convention)
            if html.startswith("<![CDATA[", lt):
                end = find("]]>", lt + 9)
                if end < 0:
                    recoveries += 1
                    break
                append(("text", html[lt + 9 : end]))
                i = end + 3
                continue

            # Doctype / bogus markup declaration
            end = find(">", lt + 2)
            if end < 0:
                recoveries += 1
                break
            append(("doctype", html[lt + 2 : end]))
            i = end + 1
            continue

        # End tag
        if nxt_c == "/":
            m = _END_TAG_RE.match(html, lt)
            if m is None:
                # "</" followed by non-letter: HTML5 calls this a bogus
                # comment; consume to '>' (or EOF).
                end = find(">", lt + 2)
                recoveries += 1
                if end < 0:
                    break
                i = end + 1
                continue
            append(("end", m.group(1).lower()))
            i = m.end()
            continue

        # Start tag
        m = _START_TAG_RE.match(html, lt)
        if m is None:
            nxt = html[lt + 1 : lt + 2]
            if nxt and _TAG_NAME_RE.match(nxt):
                # Looks like a tag but unterminated at EOF: drop remainder.
                recoveries += 1
                break
            # Literal '<' in text.
            append(("text", "<"))
            i = lt + 1
            continue

        tag, attr_src, slash = m.group(1, 2, 3)
        tag = tag.lower()
        self_closing = slash == "/"
        append(("start", tag, attr_src, self_closing))
        i = m.end()

        # RAWTEXT mode: consume verbatim until the matching close tag.
        if tag in RAWTEXT_TAGS and not self_closing:
            cm = _RAWTEXT_CLOSE_RE[tag].search(html, i)
            close = cm.start() if cm else -1
            if close < 0:
                # Unterminated rawtext: content runs to EOF, no close token.
                recoveries += 1
                append(("text", html[i:]))
                append(("end", tag))
                break
            append(("text", html[i:close]))
            gt = find(">", close)
            append(("end", tag))
            i = (gt + 1) if gt >= 0 else n
            continue

    return TokenStream(tokens, recoveries)


class Node:
    """One element or text node: only what :func:`segment_blocks` reads."""

    __slots__ = ("tag", "depth", "children", "text")

    def __init__(self, tag: str, depth: int,
                 text: str | None = None) -> None:
        self.tag = tag  # "#text" for text nodes
        self.depth = depth
        self.children: list[Node] = []
        self.text = text


def build_dom(tokens: list[tuple]) -> Node:
    """Token stream -> document tree rooted at a synthetic '#document'."""
    root = Node("#document", 0)
    open_stack: list[Node] = [root]

    for tok in tokens:
        kind = tok[0]
        if kind == "text":
            data = tok[1]
            if not data:
                continue
            parent = open_stack[-1]
            parent.children.append(Node("#text", parent.depth + 1, data))
        elif kind == "start":
            tag, self_closing = tok[1], tok[3]
            closes = _IMPLICIT_CLOSE.get(tag)
            if closes is not None:
                # Search up the open stack for an implicitly-closeable
                # element, without crossing a scope boundary; pop down to
                # and including it if found.
                idx = None
                for k in range(len(open_stack) - 1, 0, -1):
                    t = open_stack[k].tag
                    if t in closes:
                        idx = k
                        break
                    if t in _SCOPE_TAGS:
                        break
                if idx is not None:
                    del open_stack[idx:]
            parent = open_stack[-1]
            node = Node(tag, parent.depth + 1)
            parent.children.append(node)
            if tag not in VOID_TAGS and not self_closing:
                open_stack.append(node)
        elif kind == "end":
            tag = tok[1]
            if tag in VOID_TAGS:
                continue  # </br> etc: ignored
            # Find nearest matching open element (never pop the root:
            # the scan stops above index 0; stray end tags are ignored).
            idx = None
            for k in range(len(open_stack) - 1, 0, -1):
                if open_stack[k].tag == tag:
                    idx = k
                    break
            if idx is None:
                continue
            del open_stack[idx:]
        # comments/doctypes contribute nothing to the tree

    return root


def segment_blocks(root: Node) -> list[Block]:
    """Walk the DOM emitting text blocks in document order.

    A block accumulates inline text between block-level boundaries. Text
    under <a> is tallied separately for link density. Subtrees under
    SKIP_TAGS are excluded entirely.
    """
    blocks: list[Block] = []
    frags: list[str] = []          # raw fragments of the current block
    anchor_frags: list[str] = []   # subset that sits under an <a>
    # block-context stack: (tag, depth, boiler); base covers stray text
    ctx: list[tuple[str, int, bool]] = [("body", 0, False)]

    def flush() -> None:
        nonlocal frags, anchor_frags
        if frags:
            raw = "".join(frags)
            text = normalize_ws(raw)
            if text:
                tag, depth, boiler = ctx[-1]
                n_words = _words(text)
                # most blocks carry no anchors — skip the second split
                # entirely for them. For the rest, len(raw.split()) ==
                # _words(normalize_ws(raw)): translate/collapse/strip maps
                # ws to ws and never merges or splits a maximal non-ws
                # run, and .split() already splits on every Unicode ws.
                a_words = (min(len("".join(anchor_frags).split()), n_words)
                           if anchor_frags else 0)
                blocks.append(Block(
                    block_id=len(blocks),
                    tag=tag,
                    depth=depth,
                    text=text,
                    n_chars=len(text),
                    n_words=n_words,
                    anchor_words=a_words,
                    link_density=(a_words / n_words) if n_words else 0.0,
                    in_boiler_container=boiler,
                ))
        frags = []
        anchor_frags = []

    # Iterative DFS with explicit enter/exit events; recursion would blow
    # the Python stack on nested-div-soup fixtures (FIXTURES.md template 3).
    events: list[tuple[str, Node, int, bool]] = [("enter", root, 0, False)]
    # hot loop: ~60 boundary events per document are flushes of an EMPTY
    # fragment list — guard at the call sites to skip the call entirely
    # (safe: anchor_frags only ever grows in lockstep with frags, so
    # empty frags implies empty anchor_frags)
    while events:
        ev, node, anchor_depth, boiler = events.pop()
        if ev == "exit":
            if frags:
                flush()
            ctx.pop()
            continue
        tag = node.tag
        if tag == "#text":
            data = _htmlmod.unescape(node.text or "")
            if data:
                frags.append(data)
                if anchor_depth > 0:
                    anchor_frags.append(data)
            continue
        if tag in SKIP_TAGS:
            continue
        child_boiler = boiler or (tag in BOILER_CONTAINERS)
        child_anchor = anchor_depth + (1 if tag == "a" else 0)
        if tag in ("br", "hr"):
            if frags:
                flush()  # pure separators (void, no subtree)
            continue
        if tag in BLOCK_TAGS:
            if frags:
                flush()
            ctx.append((tag, node.depth, child_boiler))
            events.append(("exit", node, 0, False))
        for child in reversed(node.children):
            events.append(("enter", child, child_anchor, child_boiler))

    if frags:
        flush()
    return blocks
