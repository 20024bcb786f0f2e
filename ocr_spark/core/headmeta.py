"""<head> metadata in one cheap pass: robots noindex, rel=canonical, title.

Three signals every production crawl pipeline consumes before spending
anything on a page:
  * ``<meta name="robots" content="...noindex...">`` — compliance gate;
  * ``<link rel="canonical" href="...">`` — the SITE's own dedup key
    (stronger than URL normalization: it collapses mobile/AMP/print
    variants that no string rule can);
  * ``<title>`` — display/debug metadata.

Early exit: only the byte prefix up to ``</head`` is tokenized (located
with an ASCII-case-insensitive regex on the ORIGINAL string — never a
lowercased copy, per the tokenizer's İ-misalignment lesson). Total:
malformed input never raises; absent signals come back falsy/None.
"""

from __future__ import annotations

import re

from ocr_spark.core.tokenizer import _parse_attrs, tokenize

_HEAD_END_RE = re.compile(r"</head|<body", re.IGNORECASE | re.ASCII)


def _attrs_first(attr_src: str) -> dict[str, str]:
    """First occurrence wins (the _parse_attrs duplicate rule)."""
    d: dict[str, str] = {}
    for k, v in _parse_attrs(attr_src):
        d.setdefault(k, v)
    return d


def head_meta(html: str) -> tuple[bool, str | None, str | None]:
    """(noindex, canonical_href, title) from the document head. Total."""
    m = _HEAD_END_RE.search(html)
    prefix = html[: m.start()] if m else html
    noindex = False
    canonical: str | None = None
    title: str | None = None
    toks = tokenize(prefix).tokens
    for idx, tok in enumerate(toks):
        if tok[0] != "start":
            continue
        tag = tok[1]
        if tag == "meta":
            attrs = _attrs_first(tok[2])
            if (attrs.get("name", "").lower() == "robots"
                    and "noindex" in attrs.get("content", "").lower()):
                noindex = True
        elif tag == "link" and canonical is None:
            attrs = _attrs_first(tok[2])
            if attrs.get("rel", "").lower() == "canonical":
                canonical = attrs.get("href") or None
        elif tag == "title" and title is None:
            # rawtext: content is the single text token that follows
            if idx + 1 < len(toks) and toks[idx + 1][0] == "text":
                title = toks[idx + 1][1].strip()
    return noindex, canonical, title
