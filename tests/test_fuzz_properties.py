"""Property-based fuzzing of the extraction core's totality contract:
for ANY input bytes, extract() returns (never raises), is deterministic,
and yields a UTF-8-encodable string (the Arrow StringType invariant,
SURVEY.md §7 "Hard parts: byte identity across Arrow").

No Spark session needed — the core is pure Python, so hypothesis can run
hundreds of examples cheaply.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

import oracles
from ocr_spark.core.extract import extract
from ocr_spark.core.pdf import extract_pdf_text
from ocr_spark.core.tokenizer import tokenize
from ocr_spark.synth import make_pdf

# HTML-ish soup: interleaved fragments that exercise every tokenizer state.
_FRAGMENTS = st.sampled_from([
    "<div>", "</div>", "<p>", "</p>", "<a href='/x'>", "</a>", "<br>",
    "<script>", "</script>", "var a = '<p>';", "<!-- c ", "-->",
    "<![CDATA[", "]]>", "<!DOCTYPE html>", "<?pi?>", "text & more",
    "&amp;", "<", ">", "</", "<b", "\"", "'", " ", "\n", "éא",
    "<td>", "<tr>", "<table>", "</table>", "<li>", "<ul>", "<nav>",
    "</nav>", "<h1>", "</h1>", "<style>", "</style>", "x=1<2>3",
    "<img src=x>", "<input value='>'>", "<p class=a id=b>",
])
html_soup = st.lists(_FRAGMENTS, min_size=0, max_size=60).map("".join)


@settings(max_examples=300, deadline=None)
@given(html_soup)
def test_extract_total_and_deterministic_on_soup(soup: str):
    data = soup.encode("utf-8")
    r1 = extract(data, "en")
    r2 = extract(data, "en")
    assert r1.text == r2.text
    assert r1.n_blocks == r2.n_blocks
    r1.text.encode("utf-8")  # must be encodable (no lone surrogates)


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=512))
def test_extract_total_on_arbitrary_bytes(data: bytes):
    r = extract(data, None)
    assert isinstance(r.text, str)
    r.text.encode("utf-8")
    assert extract(data, None).text == r.text


@settings(max_examples=200, deadline=None)
@given(html_soup)
def test_tokenizer_roundtrip_invariants(soup: str):
    """Token boundaries never overlap and text tokens are substrings of
    the input modulo rawtext/entity handling; totality is the contract."""
    stream = tokenize(soup)
    assert stream.recoveries >= 0
    for tok in stream.tokens:
        assert tok[0] in ("text", "start", "end", "comment", "doctype")


@settings(max_examples=100, deadline=None)
@given(st.data())
def test_pdf_truncation_total(data):
    """Any prefix of a valid PDF (the classic crash corpus) extracts
    without raising."""
    pdf = make_pdf(["alpha beta", "gamma delta", "epsilon"])
    cut = data.draw(st.integers(min_value=0, max_value=len(pdf)))
    mutated = pdf[:cut]
    out = extract_pdf_text(mutated)
    assert isinstance(out, str)
    out.encode("utf-8")


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=1, max_size=64), st.integers(0, 1 << 30))
def test_pdf_byteflip_total(noise: bytes, pos: int):
    pdf = make_pdf(["one two three", "four five"])
    p = pos % len(pdf)
    mutated = pdf[:p] + noise + pdf[p + len(noise):]
    out = extract_pdf_text(b"%PDF-" + mutated)
    assert isinstance(out, str)
    out.encode("utf-8")


@given(html_soup)
@settings(max_examples=200, deadline=None)
def test_block_span_invariants(soup):
    """Span-column contract for ANY input: counts line up, densities are
    bounded, ids are dense preorder, content flags match the classifier
    aggregate the UDF also emits."""
    r = extract(soup.encode(), None, keep_blocks=True)
    assert len(r.blocks) == r.n_blocks
    assert sum(1 for b in r.blocks if b.is_content) == r.n_content_blocks
    assert [b.block_id for b in r.blocks] == list(range(len(r.blocks)))
    for b in r.blocks:
        assert 0.0 <= b.link_density <= 1.0
        assert b.n_words >= 1  # empty blocks are never emitted
        assert b.depth >= 0


@given(st.lists(st.text(alphabet=" abcdefg", max_size=30), max_size=6),
       st.booleans())
@settings(max_examples=60, deadline=None)
def test_pdf_block_span_invariants(lines, two_col):
    """Same span contract for the PDF path: multi-band joins must not
    leak phantom empty line-blocks, and counts line up."""
    data = make_pdf(lines, two_column=two_col)
    r = extract(data, None, keep_blocks=True)
    assert r.kind in ("pdf",)
    assert len(r.blocks) == r.n_blocks == r.n_content_blocks
    assert [b.block_id for b in r.blocks] == list(range(len(r.blocks)))
    for b in r.blocks:
        assert b.n_words >= 1 and b.text


# the reference spelling normalize_ws must stay byte-identical to (the
# fast translate/split path replaced it for ~16% extraction throughput)
@given(st.text(alphabet=st.sampled_from(
    list("ab c\t\n\r\f\v") + ["\x1c", "\xa0", " ", "\x85"]),
    max_size=60))
@settings(max_examples=400)
def test_normalize_ws_matches_regex_reference(s):
    from ocr_spark.core.blocks import normalize_ws
    assert normalize_ws(s) == oracles._WS_RE.sub(" ", s).strip()


# --- fused tokenize+segment vs the DOM-tree reference spelling ---

def _fused_equal(html: str):
    from ocr_spark.core.blocks import segment_html
    stream = tokenize(html)
    ref = oracles.segment_blocks(oracles.build_dom(stream.tokens))
    fast_blocks, fast_rec = segment_html(html)
    assert fast_blocks == ref  # dataclass: full field-wise equality
    assert fast_rec == stream.recoveries


@given(html_soup)
@settings(max_examples=400, deadline=None)
def test_segment_html_matches_stream_reference(soup):
    """The fused one-pass segmenter (no token list, no tree
    materialized) must be FIELD-IDENTICAL — including recovery counts —
    to segment_blocks(build_dom(tokenize(html).tokens)), the pinned
    reference spelling, on adversarial soup."""
    _fused_equal(soup)


def test_segment_html_matches_on_targeted_edges():
    """The fused loop interleaves the tokenizer's dispatch with an
    open-stack simulation of the tree builder, so it must clear the
    closed-form edges of both: implicit closes (incl. popping THROUGH a
    skipped subtree), scope boundaries, self-closing block tags,
    stray/void end tags, nested anchors, rawtext skip subtrees,
    depth-sensitive contexts; every tokenizer branch and EOF
    truncation; plus fusion-specific edges (rawtext inside a skip
    subtree, xmp — rawtext but NOT a skip tag —, unterminated rawtext
    closing mid-stack, CDATA text inside anchors)."""
    cases = [
        # segmenter edges
        "<div><p>a<p>b</div>c", "<ul><li>x<li>y</ul>",
        "<table><tr><td>1<td>2<tr><td>3</table>",
        "<div><p>out<div><p>in</div>more</div>",
        "<p>text<select><p>inner</select>tail",
        "<p>pre<select><div>s</div></p>post",
        "<div/>x<p/>y", "<p>a</br>b</p>", "</p>stray<p>ok</q></p>",
        "<a href=x>l1<a>l2</a>l3</a>tail",
        "<nav><p>boiler</p></nav><p>body text</p>",
        "<script>var a='<p>x</p>';</script><p>real</p>",
        "<title>t</title><p>kept</p>",
        "<h1>head<article><p>deep</p></article>",
        "<p>&amp;\tx  y&#10;</p>",
        "<div>" * 60 + "deep" + "</div>" * 60,
        "text only, no tags at all",
        "<body><header>h</header><p>" + "w " * 20 + "</p></body>",
        # tokenizer edges
        "<div class='a>b'>quoted gt</div>", "<img src=x/>", "<br/>",
        "<p/>tail", "</ div >ws end", "</3>bogus", "</",
        "<!-- unterminated", "<![CDATA[ unterminated", "<! unterminated",
        "<!-- c --><p>x</p><!doctype html><?pi?>",
        "<![CDATA[ <p>raw</p> ]]>after", "a < b > c", "x<", "<  ",
        "<3 not a tag", "<div", "<div class=",
        "<script>var a='</scr'+'ipt>';</script>ok",
        "<SCRIPT>S</SCRIPT>t", "<style>p{}</style>",
        "<textarea>&amp;</textarea>", "<title>t",
        "<p hidden>valueless</p>", "<p a = 'x' b=\"y\" c=z>m</p>",
        "<my-tag>x</my-tag>", "<a:b>x</a:b>", "<T_1>x</T_1>",
        "<p\nclass='x'>nl soup</p>", "</p attr=1>end soup",
        "﻿<p>bom</p>", "İ<script>s</script>tail", "",
        # fusion-specific edges
        "<select><script>skip me</script></select><p>after</p>",
        "<xmp>&amp; <p>literal</p></xmp><p>tail</p>",
        "<xmp>unterminated rawtext, not a skip tag",
        "<a><script>s</a>crippled",      # unterminated rawtext in anchor
        "<p>x<script>never closed",      # unterminated rawtext mid-block
        "<a>l<![CDATA[ c ]]>t</a>",      # CDATA text inside an anchor
        "<select><![CDATA[ hidden ]]></select>done",
        "<p><script/>self-closing rawtext</p>",
        "<li>a<script>x</script><li>b",  # implicit close after rawtext
    ]
    for html in cases:
        _fused_equal(html)


def test_segment_html_matches_on_synth_corpus():
    """Corpus-level pin: every synthetic page (all templates, incl. the
    malformed/adversarial ones) segments identically fused and via the
    tree, over two independently seeded corpora."""
    from ocr_spark.core.encoding import decode_bytes
    from ocr_spark.synth import make_pages
    for seed in (1234, 777):
        n = 0
        for p in make_pages(400, seed=seed):
            html = p["html"]
            if html is None or html[:5] == b"%PDF-":
                continue
            decoded, _ = decode_bytes(bytes(html))
            _fused_equal(decoded)
            n += 1
        assert n > 300, seed


# --- master-regex tokenizer vs dispatch-loop reference spelling ---

def _tokens_equal(html: str):
    ref = oracles.tokenize_reference(html)
    fast = tokenize(html)
    assert fast.tokens == ref.tokens
    assert fast.recoveries == ref.recoveries


@given(html_soup)
@settings(max_examples=400, deadline=None)
def test_tokenize_master_matches_reference(soup):
    """The master-regex tokenizer (one alternation per construct) must be
    TOKEN-IDENTICAL — including recovery counts — to the dispatch-loop
    reference spelling on adversarial soup."""
    _tokens_equal(soup)


def test_tokenize_master_matches_on_targeted_edges():
    """Closed-form nasty cases for the alternation-order simulation:
    every branch boundary, every EOF truncation, bogus constructs."""
    cases = [
        "<div class='a>b'>quoted gt</div>",      # '>' inside quotes
        "<img src=x/>", "<br/>", "<p/>tail",     # self-closing
        "</ div >ws end", "</3>bogus", "</",     # end-tag variants + EOF
        "<!-- unterminated", "<![CDATA[ unterminated", "<! unterminated",
        "<!-- c --><p>x</p><!doctype html><?pi?>",
        "<![CDATA[ <p>raw</p> ]]>after",
        "a < b > c", "x<", "<  ", "<3 not a tag",
        "<div", "<div class=",                   # unterminated start @ EOF
        "<script>var a='</scr'+'ipt>';</script>ok",
        "<SCRIPT>S</SCRIPT>t", "<style>p{}</style>",
        "<textarea>&amp;</textarea>", "<title>t",
        "<p hidden>valueless</p>", "<p a = 'x' b=\"y\" c=z>m</p>",
        "<my-tag>x</my-tag>", "<a:b>x</a:b>", "<T_1>x</T_1>",
        "<p\nclass='x'>nl soup</p>", "</p attr=1>end soup",
        "﻿<p>bom</p>", "İ<script>s</script>tail",  # NFKC-length trap
        "",
    ]
    for html in cases:
        _tokens_equal(html)


def test_tokenize_master_matches_on_synth_corpus():
    """Corpus-level pin: every synthetic page tokenizes identically."""
    from ocr_spark.core.encoding import decode_bytes
    from ocr_spark.synth import make_pages
    n = 0
    for p in make_pages(400, seed=4321):
        html = p["html"]
        if html is None or html[:5] == b"%PDF-":
            continue
        decoded, _ = decode_bytes(bytes(html))
        _tokens_equal(decoded)
        n += 1
    assert n > 300


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4000))
def test_lzw_roundtrip_property(data: bytes):
    """decode(encode(x)) == x for arbitrary bytes (both EarlyChange
    conventions) — the LZW pair is an exact codec, not best-effort."""
    from ocr_spark.core.pdf import _lzw_decode
    from ocr_spark.synth import lzw_encode
    assert _lzw_decode(lzw_encode(data)) == data
    assert _lzw_decode(lzw_encode(data, early=0), early=0) == data


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2000))
def test_lzw_decoder_total_on_garbage(data: bytes):
    """The decoder never raises on arbitrary input: it returns bytes
    (a valid prefix decoded) or None (malformed code)."""
    from ocr_spark.core.pdf import _lzw_decode
    out = _lzw_decode(data)
    assert out is None or isinstance(out, bytes)
