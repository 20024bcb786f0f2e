"""Streaming HTML tokenizer — a total, deterministic state machine.

Written from scratch (no bs4/lxml/html5lib in the environment, and the
north rule demands from-scratch). The design is the analog of the
reference's sliding-window ink scan (/root/reference/overflow/
test_sliding_window.py:37-92): a single forward pass with explicit open/
close state transitions, emitting interval-shaped tokens.

Scanning is `str.find`-based rather than per-character so a 10 MB document
costs O(#tags) Python-level iterations, not O(#chars) — the hot inner work
stays in C string primitives (the "vectorized inner math" discipline of
BASELINE.json:6).

Token kinds: ("start", tag, attr_src, self_closing), ("end", tag),
("text", data), ("comment", data), ("doctype", data).

attr_src is the RAW attribute soup (the exact source slice between the
tag name and '>'), parsed on demand via _parse_attrs: nothing in the
extraction hot path ever reads attributes (block segmentation and link
density key off tag names alone), so eager per-tag attribute parsing was
pure overhead — measured ~8% of tokenize+DOM time on the bench mix.
Consumers that need attributes call _parse_attrs on a start token's
attr_src, as headmeta and links do.

Totality: malformed input NEVER raises. Unterminated constructs at EOF are
consumed silently (dropped); a lone '<' that opens no construct is literal
text. Recovery events are counted in TokenStream.recoveries for the
metrics table.
"""

from __future__ import annotations

import re

# RAWTEXT elements: content is character data until the matching close tag.
RAWTEXT_TAGS = frozenset({"script", "style", "textarea", "title", "xmp"})

# ASCII-case-insensitive close-tag search per rawtext tag (HTML5 matches
# '</script' ASCII-case-insensitively). Searching a lowercased COPY of the
# document is wrong: str.lower() can change string length ('İ' U+0130
# lowercases to TWO code points), silently misaligning every rawtext slice
# after such a character — a Turkish page with İ before a <script> leaked
# the close tag into the script text and swallowed following content.
# re.ASCII restricts IGNORECASE to ASCII folding (no 'ſ' matching 's').
_RAWTEXT_CLOSE_RE = {t: re.compile("</" + t, re.IGNORECASE | re.ASCII)
                     for t in RAWTEXT_TAGS}

_TAG_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9:_\-]*")
_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][a-zA-Z0-9_:.\-]*)"""
    r"""(?:\s*=\s*("([^"]*)"|'([^']*)'|[^\s>]*))?"""
)


class TokenStream:
    """Result of tokenize(): the token list plus recovery diagnostics."""

    __slots__ = ("tokens", "recoveries")

    def __init__(self, tokens: list[tuple], recoveries: int) -> None:
        self.tokens = tokens
        self.recoveries = recoveries


def _parse_attrs(attr_src: str) -> list[tuple[str, str]]:
    """Attribute soup -> ordered [(name, value)] list, first occurrence wins
    downstream. Unquoted / valueless attributes handled; order preserved so
    consumers are deterministic."""
    if not attr_src or attr_src.isspace():
        return []
    attrs: list[tuple[str, str]] = []
    for m in _ATTR_RE.finditer(attr_src):
        name = m.group(1).lower()
        if m.group(3) is not None:
            value = m.group(3)
        elif m.group(4) is not None:
            value = m.group(4)
        elif m.group(2):
            value = m.group(2)
        else:
            value = ""
        attrs.append((name, value))
    return attrs


# One alternation, tried in order at each '<'. Branch payload groups:
#   1       end-tag name
#   2,3,4   start-tag name / soup / slash
#   5       comment open  '!--'
#   6       CDATA open    '![CDATA['
#   7       doctype / bogus markup decl   '[!?]'
#   8       bogus end tag '/'  (reached only when branch 1 failed)
#   9       empty — literal '<' or a tag-shaped prefix unterminated at EOF
# Branch order encodes the reference dispatch: '!--' before '![CDATA['
# before '[!?]' (longest first), '/' after the end-tag branch, the empty
# branch last so every '<' matches SOMETHING and the scan never skips a
# construct the reference loop would have handled. Branches 1 and 2-4
# are the reference loop's end-tag and start-tag patterns verbatim
# (tests/oracles). The start-tag soup may hold '>' inside quoted values;
# the soup group is LAZY so a '/' immediately before '>' is captured as
# the self-closing marker (fixed rule: trailing '/' is a marker, not part
# of an unquoted attribute value).
_MASTER_RE = re.compile(
    "<(?:"
    r"/\s*([a-zA-Z][a-zA-Z0-9:_\-]*)[^>]*>"
    "|"
    r"""([a-zA-Z][a-zA-Z0-9:_\-]*)((?:"[^"]*"|'[^']*'|[^>"'])*?)\s*(/?)>"""
    "|(!--)"
    r"|(!\[CDATA\[)"
    "|([!?])"
    "|(/)"
    "|()"
    ")"
)


def tokenize(html: str) -> TokenStream:
    """One forward pass over the document; returns TokenStream. Total.

    Master-regex spelling: a single compiled alternation does scan +
    dispatch + tag parse in ONE C call per construct (the dispatch-loop
    reference spelling in tests/oracles pays a find, a char dispatch,
    and a branch-specific regex per tag at Python level). Token-for-token
    identical to that reference — each branch reuses its exact
    sub-pattern, so a construct matches here iff the reference branch
    matched, with the same groups and resume index; pinned by
    `test_tokenize_master_matches_reference` over templates, corpus and
    hypothesis soup.
    """
    tokens: list[tuple] = []
    recoveries = 0
    n = len(html)
    i = 0
    find = html.find
    append = tokens.append
    search = _MASTER_RE.search

    while True:
        m = search(html, i)
        if m is None:
            if i < n:
                append(("text", html[i:]))
            break
        lt = m.start()
        if lt > i:
            append(("text", html[i:lt]))
        g = m.lastindex

        if g == 4:  # start tag (groups 2=name, 3=soup, 4=slash)
            tag, attr_src, slash = m.group(2, 3, 4)
            tag = tag.lower()
            self_closing = slash == "/"
            append(("start", tag, attr_src, self_closing))
            i = m.end()
            if tag in RAWTEXT_TAGS and not self_closing:
                cm = _RAWTEXT_CLOSE_RE[tag].search(html, i)
                close = cm.start() if cm else -1
                if close < 0:
                    recoveries += 1
                    append(("text", html[i:]))
                    append(("end", tag))
                    break
                append(("text", html[i:close]))
                gt = find(">", close)
                append(("end", tag))
                i = (gt + 1) if gt >= 0 else n
            continue

        if g == 1:  # end tag
            append(("end", m.group(1).lower()))
            i = m.end()
            continue

        if g == 5:  # comment: m.end() == lt + 4
            end = find("-->", m.end())
            if end < 0:
                recoveries += 1
                break
            append(("comment", html[m.end() : end]))
            i = end + 3
            continue

        if g == 6:  # CDATA (emitted as text): m.end() == lt + 9
            end = find("]]>", m.end())
            if end < 0:
                recoveries += 1
                break
            append(("text", html[m.end() : end]))
            i = end + 3
            continue

        if g == 7:  # doctype / bogus markup decl: m.end() == lt + 2
            end = find(">", m.end())
            if end < 0:
                recoveries += 1
                break
            append(("doctype", html[m.end() : end]))
            i = end + 1
            continue

        if g == 8:  # "</" + non-name: bogus comment, consume to '>'
            end = find(">", m.end())
            recoveries += 1
            if end < 0:
                break
            i = end + 1
            continue

        # g == 9: nothing tag-shaped completed at this '<'.
        nxt = html[lt + 1 : lt + 2]
        if nxt and _TAG_NAME_RE.match(nxt):
            # Looks like a tag but unterminated at EOF: drop remainder.
            recoveries += 1
            break
        append(("text", "<"))
        i = lt + 1

    return TokenStream(tokens, recoveries)
