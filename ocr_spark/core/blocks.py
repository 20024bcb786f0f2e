"""Hierarchical block segmentation + text-density boilerplate classification.

Reference analog: line segmentation by horizontal projection profile
(/root/reference/utils.py:47-127) followed by per-character CNN
classification (/root/reference/ocr_project/ocr_app/services/func.py:19-31).
Here the "lines" are DOM text blocks delimited by block-level elements and
the "classifier" is a deterministic shallow-text-feature rule in the style
of Boilerpipe's NumWordsRulesClassifier (Kohlschütter et al., "Boilerplate
Detection using Shallow Text Features", WSDM 2010 — public method).

All thresholds are fixed constants; classification is pure and total.
"""

from __future__ import annotations

import html as _htmlmod
from dataclasses import dataclass

from ocr_spark.core.tokenizer import (
    _MASTER_RE, _RAWTEXT_CLOSE_RE, _TAG_NAME_RE)

# Malformed-markup recovery rules. They are the SPEC (oracle and UDF
# share this code), chosen to be sensible and — critically — total and
# deterministic:
#   * void elements never push onto the open stack;
#   * a small fixed implicit-close table (e.g. <p> closes an open <p>);
#   * an end tag pops to the nearest matching open element, emitting
#     implicit closes on the way; with no match it is ignored;
#   * EOF closes everything still open.
# No dict/set iteration order is observable in the output (SURVEY.md §7
# "Hard parts: determinism").
VOID_TAGS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
})

# tag -> set of open tags it implicitly closes (nearest first)
_IMPLICIT_CLOSE = {
    "p": frozenset({"p"}),
    "li": frozenset({"li"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "tr": frozenset({"tr", "td", "th"}),
    "td": frozenset({"td", "th"}),
    "th": frozenset({"td", "th"}),
    "option": frozenset({"option"}),
    "optgroup": frozenset({"option", "optgroup"}),
    "thead": frozenset({"thead", "tbody", "tfoot"}),
    "tbody": frozenset({"thead", "tbody", "tfoot"}),
    "tfoot": frozenset({"thead", "tbody", "tfoot"}),
}

# Block-level elements also act as a boundary that an implicit close will
# not cross (e.g. <p> inside <div> does not close a <p> outside the div).
_SCOPE_TAGS = frozenset({
    "html", "body", "div", "section", "article", "aside", "nav", "header",
    "footer", "main", "table", "td", "th", "blockquote", "figure", "ul",
    "ol", "li", "form",
})

# Elements whose subtree contributes no visible text.
SKIP_TAGS = frozenset({
    "script", "style", "noscript", "template", "head", "svg", "math",
    "iframe", "object", "select", "datalist", "title", "textarea",
})

# Elements that open a new text block.
BLOCK_TAGS = frozenset({
    "html", "body", "div", "main", "section", "article", "aside", "nav",
    "header", "footer", "p", "h1", "h2", "h3", "h4", "h5", "h6", "li",
    "dt", "dd", "td", "th", "tr", "table", "thead", "tbody", "tfoot",
    "ul", "ol", "dl", "blockquote", "pre", "figure", "figcaption",
    "form", "fieldset", "address", "center", "caption", "summary",
    "details", "hr", "br",
})

# Ancestor tags that force a block to boilerplate.
BOILER_CONTAINERS = frozenset({"nav", "header", "footer", "aside", "form"})

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# Classifier constants (NumWordsRulesClassifier).
MAX_LINK_DENSITY = 1.0 / 3.0
PREV_LINK_DENSITY_HIGH = 0.555556
CURR_WORDS_HIGH = 40
NEXT_WORDS_HIGH_AFTER_LINKY = 17
CURR_WORDS_MIN = 16
NEXT_WORDS_MIN = 15
PREV_WORDS_MIN = 4


_WS_TRANS = str.maketrans({c: " " for c in "\t\n\r\f\v"})


def normalize_ws(text: str) -> str:
    """Collapse runs of ASCII whitespace to single spaces and strip.

    Hot path (every flushed block runs through here): translate + a
    split/join collapse is ~3x faster than the regex it replaces and
    BYTE-IDENTICAL to the regex spelling (each run of the explicit ASCII
    class `[ \\t\\n\\r\\f\\v]` -> one space, then `.strip()`; the
    class Spark/DuckDB regexes reproduce, SURVEY.md §7) — verified over
    adversarial fuzz including the Unicode-whitespace edge (the final
    unguarded `.strip()` removes unicode ws at the ENDS in both
    spellings, while interior `\\xa0`/`\\x1c` stay untouched in both);
    the double-space guard skips the collapse for the common
    already-collapsed fragment. ~16% end-to-end extraction throughput.
    """
    s = text.translate(_WS_TRANS)
    if "  " in s:
        s = " ".join([p for p in s.split(" ") if p])
    return s.strip()


@dataclass(slots=True)
class Block:
    """One segmented text block with shallow features.

    Analog of the reference's character-candidate record
    {mask,x,y,w,h,area,centroid} (/root/reference/utils.py:164-172):
    a span plus the statistics the classifier consumes.
    """

    block_id: int
    tag: str            # nearest enclosing block-level tag
    depth: int          # DOM depth of that element
    text: str           # whitespace-normalized, entity-unescaped
    n_chars: int
    n_words: int
    anchor_words: int
    link_density: float
    in_boiler_container: bool
    is_content: bool = False


def _words(text: str) -> int:
    return len(text.split()) if text else 0


def segment_html(html: str) -> tuple[list[Block], int]:
    """Fused tokenize + segment: one pass from the decoded document
    straight to blocks, materializing neither a token list nor a tree.

    Each master-regex match feeds the segmentation state machine
    directly: the tokenizer's dispatch (branch order, recovery
    counting, rawtext mode, EOF truncation — :func:`tokenize`
    semantics) is interleaved with a simulation of the tree builder's
    open stack (the recovery rules above: implicit-close table bounded
    by scope tags, nearest-match end-tag popping, void / self-closing
    never pushed, EOF closes all). Every flush therefore fires at the
    same point with the same (tag, depth, boiler) context as a DFS over
    the built tree. Depth falls out of the stack: an element created
    when the open stack holds k elements has DOM depth k+1. SKIP_TAGS
    subtrees contribute nothing, but their elements still occupy the
    open stack, so end tags that pop THROUGH a skipped subtree close
    the same outer elements.

    Returns ``(blocks, recoveries)``; blocks are unclassified (callers
    run :func:`classify_blocks`).

    The equality oracle is the tree spelling in ``tests/oracles``
    (build the DOM from ``tokenize(html).tokens``, then DFS it);
    tests/test_fuzz_properties.py pins field-identity + recovery-count
    identity over hypothesis soup, targeted edge lists and two
    synthetic corpus sweeps.
    """
    blocks: list[Block] = []
    frags: list[str] = []
    anchor_frags: list[str] = []
    # block-context stack: (tag, depth, boiler); base covers stray text
    ctx: list[tuple[str, int, bool]] = [("body", 0, False)]
    # open-element stack, root excluded: (tag, pushed_ctx, anchor_inc,
    # boiler inside this element)
    stack: list[tuple[str, bool, int, bool]] = []
    skip_from: int | None = None   # stack index of the skip-subtree root
    anchor = 0                     # enclosing-<a> count (active path)
    recoveries = 0
    n = len(html)
    i = 0
    find = html.find
    search = _MASTER_RE.search
    unescape = _htmlmod.unescape

    def flush() -> None:
        nonlocal frags, anchor_frags
        raw = "".join(frags)
        text = normalize_ws(raw)
        if text:
            tag, depth, boiler = ctx[-1]
            n_words = _words(text)
            # len(raw.split()) == _words(normalize_ws(raw)): translate/
            # collapse/strip maps ws to ws and never merges or splits a
            # maximal non-ws run, and .split() splits on every Unicode ws
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

    def pop_to(idx: int) -> None:
        """Close stack[idx:] innermost-first — each closed block element
        flushes under ITS context then pops it, exactly the tree walk's
        exit-event order."""
        nonlocal skip_from, anchor
        if idx == len(stack) - 1:
            _t, pushed, a_inc, _b = stack.pop()
            anchor -= a_inc
            if pushed:
                if frags:
                    flush()
                ctx.pop()
        else:
            for _t, pushed, a_inc, _b in reversed(stack[idx:]):
                anchor -= a_inc
                if pushed:
                    if frags:
                        flush()
                    ctx.pop()
            del stack[idx:]
        if skip_from is not None and len(stack) <= skip_from:
            skip_from = None

    def on_end(tag: str) -> None:
        """An end tag pops to the nearest matching open element (void
        filter at call sites where statically known); the well-nested
        close — the overwhelmingly common case — pops inline instead of
        delegating to pop_to (same body as pop_to's single-entry fast
        path)."""
        nonlocal skip_from, anchor
        if stack and stack[-1][0] == tag:
            _t, pushed, a_inc, _b = stack.pop()
            anchor -= a_inc
            if pushed:
                if frags:
                    flush()
                ctx.pop()
            if skip_from is not None and len(stack) <= skip_from:
                skip_from = None
            return
        for k in range(len(stack) - 2, -1, -1):
            if stack[k][0] == tag:
                pop_to(k)
                return

    while True:
        m = search(html, i)
        if m is None:
            if i < n and skip_from is None:
                data = unescape(html[i:])
                if data:
                    frags.append(data)
                    if anchor > 0:
                        anchor_frags.append(data)
            break
        lt = m.start()
        if lt > i and skip_from is None:
            data = unescape(html[i:lt])
            if data:
                frags.append(data)
                if anchor > 0:
                    anchor_frags.append(data)
        g = m.lastindex

        if g == 4:  # start tag (groups 2=name, 3=soup, 4=slash)
            tag, slash = m.group(2, 4)
            tag = tag.lower()
            self_closing = slash == "/"
            i = m.end()

            # --- segmentation "start" transitions ---
            closes = _IMPLICIT_CLOSE.get(tag)
            if closes is not None:
                idx = None
                for k in range(len(stack) - 1, -1, -1):
                    t = stack[k][0]
                    if t in closes:
                        idx = k
                        break
                    if t in _SCOPE_TAGS:
                        break
                if idx is not None:
                    pop_to(idx)
            real = tag not in VOID_TAGS and not self_closing
            if skip_from is not None:
                if real:
                    stack.append((tag, False, 0, False))
            elif tag in SKIP_TAGS:
                if real:
                    stack.append((tag, False, 0,
                                  stack[-1][3] if stack else False))
                    skip_from = len(stack) - 1
            elif tag == "br" or tag == "hr":
                if frags:
                    flush()
            else:
                boiler = stack[-1][3] if stack else False
                child_boiler = boiler or (tag in BOILER_CONTAINERS)
                pushed = False
                if tag in BLOCK_TAGS:
                    if frags:
                        flush()
                    ctx.append((tag, len(stack) + 1, child_boiler))
                    pushed = True
                if real:
                    a_inc = 1 if tag == "a" else 0
                    anchor += a_inc
                    stack.append((tag, pushed, a_inc, child_boiler))
                elif pushed:
                    # self-closing block element: enter+exit back to back
                    if frags:
                        flush()
                    ctx.pop()

            # --- rawtext mode (tokenizer spelling, fed straight in) ---
            if tag in _RAWTEXT_CLOSE_RE and not self_closing:
                cm = _RAWTEXT_CLOSE_RE[tag].search(html, i)
                close = cm.start() if cm else -1
                if close < 0:
                    recoveries += 1
                    if skip_from is None:
                        data = unescape(html[i:])
                        if data:
                            frags.append(data)
                            if anchor > 0:
                                anchor_frags.append(data)
                    on_end(tag)  # rawtext tags are never void
                    break
                if skip_from is None:
                    data = unescape(html[i:close])
                    if data:
                        frags.append(data)
                        if anchor > 0:
                            anchor_frags.append(data)
                gt = find(">", close)
                on_end(tag)
                i = (gt + 1) if gt >= 0 else n
            continue

        if g == 1:  # end tag
            tag = m.group(1).lower()
            i = m.end()
            if tag not in VOID_TAGS:
                on_end(tag)
            continue

        if g == 5:  # comment — contributes nothing
            end = find("-->", m.end())
            if end < 0:
                recoveries += 1
                break
            i = end + 3
            continue

        if g == 6:  # CDATA: emitted as text
            end = find("]]>", m.end())
            if end < 0:
                recoveries += 1
                break
            if skip_from is None:
                data = unescape(html[m.end():end])
                if data:
                    frags.append(data)
                    if anchor > 0:
                        anchor_frags.append(data)
            i = end + 3
            continue

        if g == 7:  # doctype / bogus markup decl — contributes nothing
            end = find(">", m.end())
            if end < 0:
                recoveries += 1
                break
            i = end + 1
            continue

        if g == 8:  # bogus end tag: consume to '>'
            end = find(">", m.end())
            recoveries += 1
            if end < 0:
                break
            i = end + 1
            continue

        # g == 9: nothing tag-shaped completed at this '<'.
        nxt = html[lt + 1: lt + 2]
        if nxt and _TAG_NAME_RE.match(nxt):
            recoveries += 1
            break
        if skip_from is None:
            frags.append("<")
            if anchor > 0:
                anchor_frags.append("<")
        i = lt + 1

    pop_to(0)
    if frags:
        flush()
    return blocks, recoveries


def classify_blocks(blocks: list[Block]) -> list[Block]:
    """Mark each block content/boilerplate in place and return the list.

    Rule set (fixed, order matters):
      1. block in a nav/header/footer/aside/form subtree -> boilerplate;
      2. link_density > 1/3 -> boilerplate;
      3. context rule over (prev, curr, next) word counts as in
         NumWordsRulesClassifier;
      4. heading promotion: a heading block otherwise rejected by rule 3
         becomes content if the next block is content (title attaches to
         its article — analog of line-offset rebasing,
         /root/reference/hebrew-letter-segmentation.py:164-166).
    """
    n = len(blocks)
    # Context sequence excludes boiler-container blocks: a <nav> must not
    # poison the prev/next features of the adjacent article text.
    cand = [i for i, b in enumerate(blocks) if not b.in_boiler_container]
    pos_in_cand = {bi: j for j, bi in enumerate(cand)}
    for i, b in enumerate(blocks):
        if b.in_boiler_container:
            b.is_content = False
            continue
        j = pos_in_cand[i]
        prev_b = blocks[cand[j - 1]] if j > 0 else None
        next_b = blocks[cand[j + 1]] if j + 1 < len(cand) else None
        if b.link_density > MAX_LINK_DENSITY:
            b.is_content = False
            continue
        prev_ld = prev_b.link_density if prev_b else 0.0
        prev_w = prev_b.n_words if prev_b else 0
        next_w = next_b.n_words if next_b else 0
        if prev_ld > PREV_LINK_DENSITY_HIGH:
            b.is_content = (b.n_words > CURR_WORDS_HIGH
                            or next_w > NEXT_WORDS_HIGH_AFTER_LINKY)
        else:
            b.is_content = (b.n_words > CURR_WORDS_MIN
                            or next_w > NEXT_WORDS_MIN
                            or prev_w > PREV_WORDS_MIN)

    # Heading promotion pass (right-to-left so chains of headings resolve).
    for i in range(n - 2, -1, -1):
        b = blocks[i]
        if (not b.is_content and b.tag in HEADING_TAGS
                and not b.in_boiler_container
                and b.link_density <= MAX_LINK_DENSITY
                and blocks[i + 1].is_content):
            b.is_content = True
    return blocks
