"""Boundary/limit behavior — ported from boundary_test.go and
panic_protection_test.go (error rows instead of exceptions)."""

from htmlx.core.extract import Config, Extractor, extract
from htmlx.core.links import extract_all_links


def test_empty_inputs():
    assert extract(b"").error == ""
    assert extract(b"").text == ""
    assert extract_all_links(b"") == []


def test_whitespace_only():
    r = extract(b" \t\r\n  ")
    assert r.text == "" and r.error == ""


def test_max_input_size_boundary():
    cfg = Config(max_input_size=100)
    assert Extractor(cfg).extract(b"x" * 100).error == ""
    assert Extractor(cfg).extract(b"x" * 101).error == "input_too_large"


def test_depth_boundary():
    cfg = Config(max_depth=50)
    ok = b"<div>" * 25 + b"x" + b"</div>" * 25
    too_deep = b"<div>" * 60 + b"x" + b"</div>" * 60
    assert Extractor(cfg).extract(ok).error == ""
    assert Extractor(cfg).extract(too_deep).error == "max_depth_exceeded"


def test_unclosed_tags():
    r = extract(b"<div><p>Unclosed content")
    assert r.error == ""
    assert "Unclosed content" in r.text


def test_garbage_bytes_no_exception():
    for blob in (b"\x00\x01\x02\xff\xfe", b"<" * 1000, b"&#" * 500, b"<a href=" * 100):
        r = extract(blob)
        assert isinstance(r.text, str)  # never raises


def test_broken_entities():
    r = extract(b"<p>&amp &#x; &#999999999999; &notarealentity; &lt;ok&gt;</p>")
    assert r.error == ""
    assert "<ok>" in r.text


def test_url_length_cap():
    # 2000-char URL cap (constants.go:6) — longer hrefs dropped
    long_url = "https://x.com/" + "a" * 2000
    html = f'<article><p>Real paragraph content sits right here now.</p><a href="{long_url}">L</a><a href="/ok">O</a></article>'.encode()
    r = extract(html)
    assert [l["url"] for l in r.links] == ["/ok"]
    # the dropped link still consumed position 1
    assert r.links[0]["position"] == 2


def test_attribute_edge_cases():
    r = extract(b'<article><p>Paragraph content for scoring goes here now.</p>'
                b'<img src="a.jpg" alt width height><a href>x</a></article>')
    assert r.error == ""
    assert r.images[0]["alt"] == "" and r.images[0]["is_decorative"] is True


def test_deeply_nested_lists():
    html = b"<ul>" + b"<li>x<ul>" * 10 + b"<li>deep</li>" + b"</ul></li>" * 10 + b"</ul>"
    r = extract(html)
    assert r.error == ""
    assert "deep" in r.text


def test_processing_timeout_guard():
    # wall-clock guard: with a zero-ish budget, post-sanitize stages abort
    # and the row degrades to error='timeout' (extract.go:603-665 analogue)
    cfg = Config(processing_timeout_s=0.000001)
    r = Extractor(cfg).extract(b"<article><p>some content here</p></article>")
    assert r.error == "timeout"
    # timeout disabled -> normal result
    cfg2 = Config(processing_timeout_s=0)
    assert Extractor(cfg2).extract(b"<p>ok</p>").error == ""


def test_media_scan_gate_is_utf8_bytes():
    """The 1 MB raw-scan gate is a UTF-8 BYTE cap (extract.go:790, Go len()).

    A CJK page of 600k chars = 1.8 MB bytes must SKIP the raw scan (no
    regex-found media), while the same structure under 1 MB bytes finds it.
    """
    from htmlx.core.extract import Extractor

    media_url = "https://cdn.example.com/clip.mp4"
    # plain-text mention only (no <video> tag) => only the raw regex scan can find it
    pad_small = "汉" * 1000          # 3 KB of CJK text
    pad_big = "汉" * 600_000         # 600k chars = 1.8 MB UTF-8
    tmpl = "<html><body><p>see {url} and {pad}</p></body></html>"

    small = tmpl.format(url=media_url, pad=pad_small).encode("utf-8")
    big = tmpl.format(url=media_url, pad=pad_big).encode("utf-8")
    assert len(big) > 1_000_000 and len(tmpl.format(url=media_url, pad=pad_big)) < 1_000_000

    ex = Extractor()
    assert any(v["url"] == media_url for v in ex.extract(small).videos)
    assert ex.extract(big).videos == []  # reference skips the scan: byte cap


def test_url_length_cap_is_utf8_bytes():
    """MAX_URL_LENGTH=2000 counts UTF-8 bytes (helpers.go:1000, Go len())."""
    from htmlx.core.urlutil import is_valid_url

    # 700 CJK chars = 2100 bytes > 2000, but only 712 chars
    non_ascii = "https://x.cn/" + "汉" * 700
    assert len(non_ascii) < 2000 and len(non_ascii.encode("utf-8")) > 2000
    assert is_valid_url(non_ascii) is False

    ok = "https://x.cn/" + "汉" * 600  # 1813 bytes
    assert len(ok.encode("utf-8")) <= 2000
    assert is_valid_url(ok) is True


def test_truncation_replacement_per_stray_byte():
    """Go's utf8.DecodeRune consumes invalid bytes one at a time, so a
    multibyte char split by a byte cap renders one U+FFFD PER BYTE — not
    Python's one-per-subsequence (ADVICE r2)."""
    from htmlx.core.sanitize import _replace_per_byte, _truncate_bytes

    assert _truncate_bytes("ab中", 4, "") == "ab��"  # 3-byte cut at 2
    assert _replace_per_byte(b"\xc3") == "�"
    assert _replace_per_byte("\U0001f600".encode()[:3]) == "�" * 3
    assert _replace_per_byte(b"\xe4\xb8z") == "��z"
    assert _truncate_bytes("café", 5, "...") == "café"  # fits: untouched


def test_count_words_splits_on_four_bytes_only():
    # str.split() is taken only when the text has no str.isspace character
    # besides space, tab, NL and CR; every other one keeps words together
    import re
    import sys

    from htmlx.core.extract import _OTHER_SPACE, count_words

    every = "".join(map(chr, range(sys.maxunicode + 1)))
    spaces = [c for c in every if c.isspace()]
    assert set(_OTHER_SPACE.findall(every)) == set(spaces) - set(" \t\n\r")
    runs = re.compile(r"[^ \t\n\r]+")
    for c in spaces + ["x", "​"]:
        for text in (f"a{c}b c\td", f"{c}", f" {c} ", f"one\r\ntwo{c}{c}three"):
            assert count_words(text) == len(runs.findall(text)), repr(text)
