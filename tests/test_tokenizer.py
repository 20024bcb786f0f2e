from __future__ import annotations

from ocr_spark.core.tokenizer import _parse_attrs, tokenize


def toks(html):
    return tokenize(html).tokens


def test_plain_text():
    assert toks("hello") == [("text", "hello")]


def test_simple_tag():
    assert toks("<p>x</p>") == [
        ("start", "p", "", False), ("text", "x"), ("end", "p")]


def test_attrs_quoted_unquoted():
    ts = toks('<a href="/x" class=\'c\' data-k=v disabled>t</a>')
    assert ts[0][0] == "start" and ts[0][1] == "a"
    # tokens carry the RAW attr soup; consumers parse it on demand
    attrs = dict(_parse_attrs(ts[0][2]))
    assert attrs == {"href": "/x", "class": "c", "data-k": "v",
                     "disabled": ""}
    # duplicates keep source order, so consumers' first-wins is stable
    assert _parse_attrs('id="a" ID=b') == [("id", "a"), ("id", "b")]


def test_gt_inside_quoted_attr():
    ts = toks('<img alt="a > b">after')
    assert ts[0][:2] == ("start", "img")
    assert dict(_parse_attrs(ts[0][2]))["alt"] == "a > b"
    assert ("text", "after") in ts


def test_self_closing():
    assert toks("<br/>")[0] == ("start", "br", "", True)


def test_comment_and_doctype():
    ts = toks("<!DOCTYPE html><!-- c<p>x -->t")
    assert ts[0][0] == "doctype"
    assert ts[1] == ("comment", " c<p>x ")
    assert ts[2] == ("text", "t")


def test_script_rawtext():
    ts = toks("<script>if (a<b) { x = '</div>'; }</script>rest")
    # raw content preserved verbatim, including the fake close inside quotes
    # (we close at the first '</script' like HTML5 does at '</script')
    assert ts[0][:2] == ("start", "script")
    assert ts[1][0] == "text"
    assert ts[2] == ("end", "script")


def test_rawtext_case_insensitive_close():
    ts = toks("<STYLE>p{}</StYlE>x")
    assert ts[0][1] == "style"
    assert ("end", "style") in ts
    assert ts[-1] == ("text", "x")


def test_unterminated_tag_at_eof():
    s = tokenize("text<div class=")
    assert s.tokens == [("text", "text")]
    assert s.recoveries == 1


def test_lone_lt_is_text():
    ts = toks("a < b")
    assert "".join(t[1] for t in ts if t[0] == "text") == "a < b"


def test_bogus_end_tag():
    s = tokenize("a</ >b")
    assert [t for t in s.tokens if t[0] == "text"] == [("text", "a"),
                                                       ("text", "b")]
    assert s.recoveries == 1


def test_cdata():
    ts = toks("<![CDATA[x<y]]>")
    assert ts == [("text", "x<y")]


def test_unterminated_comment():
    s = tokenize("a<!-- never closed")
    assert s.tokens == [("text", "a")]
    assert s.recoveries == 1


def test_never_raises_on_garbage():
    for garbage in ["<", "</", "<!", "<p", "<<<>>>", "\x00<a\x00>",
                    "<p a='b><i>"]:
        tokenize(garbage)  # must not raise


def test_total_on_random_bytes():
    import random
    rng = random.Random(7)
    for _ in range(200):
        s = "".join(chr(rng.randrange(32, 127)) for _ in range(rng.randrange(0, 200)))
        tokenize(s)


def test_rawtext_close_after_length_changing_unicode():
    """Regression: 'İ' (U+0130) lowercases to TWO code points, so a
    lowercased-copy search misaligns every index after it — the script
    close tag leaked into the script text and following content was
    swallowed. Close-tag search must be ASCII-case-insensitive on the
    ORIGINAL string."""
    ts = toks("<p>İstanbul İzmir İstanbul</p>"
              "<script>var x=1;</script><p>after</p>")
    script_text = [t[1] for t in ts if t[0] == "text"]
    assert "var x=1;" in script_text
    assert ("text", "after") in ts
    # and ASCII-case-insensitive close still matched (</SCRIPT etc.)
    ts2 = toks("<p>İİİ</p><script>y</SCRIPT>z")
    assert ("text", "y") in ts2 and ("text", "z") in ts2


def test_rawtext_close_not_full_unicode_casefold():
    """HTML5 close-tag matching is ASCII-case-insensitive only: 'ſ'
    (LATIN SMALL LETTER LONG S) must NOT close a <script>."""
    s = tokenize("<script>a</ſcript>b</script>")
    text = "".join(t[1] for t in s.tokens if t[0] == "text")
    assert text == "a</ſcript>b"
