from __future__ import annotations

from ocr_spark.core.blocks import classify_blocks, normalize_ws, segment_html


def blocks_of(html):
    return segment_html(html)[0]


def test_normalize_ws():
    assert normalize_ws("  a\t\tb\n\nc  ") == "a b c"
    assert normalize_ws("") == ""


def test_simple_blocks():
    bs = blocks_of("<body><p>one two</p><p>three</p></body>")
    assert [b.text for b in bs] == ["one two", "three"]
    assert [b.tag for b in bs] == ["p", "p"]


def test_inline_does_not_split():
    bs = blocks_of("<p>a <b>b</b> c</p>")
    assert [b.text for b in bs] == ["a b c"]


def test_br_splits():
    bs = blocks_of("<p>a<br>b</p>")
    assert [b.text for b in bs] == ["a", "b"]


def test_script_style_head_excluded():
    bs = blocks_of(
        "<head><title>T</title><style>x{}</style></head>"
        "<body><script>var a=1;</script><p>keep</p></body>")
    assert [b.text for b in bs] == ["keep"]


def test_implicit_p_close():
    bs = blocks_of("<p>one<p>two")
    assert [b.text for b in bs] == ["one", "two"]


def test_implicit_li_close():
    bs = blocks_of("<ul><li>a<li>b</ul>")
    assert [b.text for b in bs] == ["a", "b"]


def test_stray_end_tag_ignored():
    # adjacent inline fragments join without injected whitespace
    bs = blocks_of("<p>a</div></span>b</p>")
    assert [b.text for b in bs] == ["ab"]


def test_link_density():
    bs = blocks_of('<p><a href="/">click here now</a> and one word</p>')
    assert len(bs) == 1
    assert bs[0].n_words == 6
    assert bs[0].anchor_words == 3
    assert abs(bs[0].link_density - 0.5) < 1e-9


def test_boiler_container_flag():
    bs = blocks_of("<nav><p>menu item</p></nav><p>real</p>")
    assert bs[0].in_boiler_container is True
    assert bs[1].in_boiler_container is False


def test_entities_unescaped():
    bs = blocks_of("<p>fish &amp; chips &lt;ok&gt;</p>")
    assert bs[0].text == "fish & chips <ok>"


def test_deep_nesting_no_recursion_error():
    html = "<div>" * 5000 + "<p>deep</p>" + "</div>" * 5000
    bs = blocks_of(html)
    assert any(b.text == "deep" for b in bs)


def test_classifier_word_thresholds():
    long_p = "<p>" + " ".join(f"w{i}" for i in range(20)) + "</p>"
    short_p = "<p>tiny</p>"
    bs = classify_blocks(blocks_of(long_p))
    assert bs[0].is_content  # 20 words > 16
    bs = classify_blocks(blocks_of(short_p))
    assert not bs[0].is_content


def test_classifier_linky_block_rejected():
    html = '<p><a href="/">' + " ".join(f"w{i}" for i in range(30)) + "</a></p>"
    bs = classify_blocks(blocks_of(html))
    assert not bs[0].is_content


def test_heading_promotion():
    html = ("<h1>short title</h1><p>" +
            " ".join(f"w{i}" for i in range(25)) + "</p>")
    bs = classify_blocks(blocks_of(html))
    assert bs[0].is_content and bs[1].is_content
