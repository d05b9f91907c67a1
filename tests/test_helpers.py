"""Golden tests for text helpers, entities, and URL validation.

Ported from internal/helpers_test.go (CleanText :278-395, entities :400-430,
IsValidURL :736-825, GetTextContent :110-170, link density :225-270).
"""

import pytest

from htmlx.core.dom import parse
from htmlx.core.entities import replace_html_entities
from htmlx.core.scorer import collect_content_metrics
from htmlx.core.textnorm import clean_text, get_text_content
from htmlx.core.urlutil import is_external_url, is_valid_url

# helpers_test.go:278-395
CLEAN_TEXT_CASES = [
    ("HTML entities", "&lt;html&gt; &amp;", "<html> &"),
    ("empty", "", ""),
    ("simple text", "Hello World", "Hello World"),
    ("newlines preserved", "Line1\nLine2", "Line1\nLine2"),
    ("multiple spaces", "Hello    World", "Hello World"),
    ("tabs and spaces", "Hello\t\t\tWorld", "Hello World"),
    ("mixed whitespace", "Hello  \t  \n  World", "Hello\n  World"),
    ("leading spaces", "    Hello", "    Hello"),
    ("trailing spaces", "Hello    ", "Hello"),
    ("multiple newlines collapsed", "Line1\n\n\nLine2", "Line1\n\nLine2"),
    ("only whitespace", "     ", ""),
    ("unicode characters", "Hello   世界   Test", "Hello 世界 Test"),
]


@pytest.mark.parametrize("name,inp,want", CLEAN_TEXT_CASES, ids=[c[0] for c in CLEAN_TEXT_CASES])
def test_clean_text(name, inp, want):
    assert clean_text(inp) == want


def test_clean_text_checkboxes():
    # helpers.go:232-236 unwantedCharReplacer (forces slow path via newline)
    assert clean_text("a ☒ b\n☐ c ☑") == "a [X] b\n[ ] c [X]"


# helpers_test.go:400-430
ENTITY_CASES = [
    ("&nbsp;", " "),
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&mdash;", "—"),
    ("&ndash;", "–"),
    ("&#8212;", "—"),
    ("&#x2014;", "—"),
    ("&#160;", " "),
    ("&#xa0;", " "),
    ("&hellip;", "…"),
    ("&copy;", "©"),
    ("no entities", "no entities"),
    ("", ""),
]


@pytest.mark.parametrize("inp,want", ENTITY_CASES, ids=[repr(c[0]) for c in ENTITY_CASES])
def test_replace_html_entities(inp, want):
    assert replace_html_entities(inp) == want


def test_entities_edge_cases():
    # invalid entities preserved literally (not html.unescape semantics)
    assert replace_html_entities("Tom & Jerry") == "Tom & Jerry"
    assert replace_html_entities("&unknownent;") == "&unknownent;"
    assert replace_html_entities("&#xD800;") == "�"  # surrogate -> U+FFFD
    assert replace_html_entities("&#1114112;") == "&#1114112;"  # > 0x10FFFF kept
    assert replace_html_entities("&#65;&#x41;") == "AA"
    # double-escaped: the common-entity fast pass yields "&amp;", then the
    # full pass decodes again — matching the reference's two-stage pipeline
    # (helpers.go:686-689: "If we replaced entities, still need to handle
    # numeric ones" runs replaceHTMLEntitiesFull over the fast-pass output).
    assert replace_html_entities("&amp;amp;") == "&"
    assert replace_html_entities("&#12345678901;") == "&#12345678901;"  # >10 digits


# helpers_test.go:736-800
URL_CASES = [
    ("/path/to/resource", True),
    ("image.jpg", True),
    ("http://example.com", True),
    ("https://example.com/path", True),
    ("/path?query=value", True),
    ("/path#section", True),
    ("data:text/plain;base64,SGVsbG8=", True),
    ("//example.com/path", True),
    ("http://example.com:8080/path", True),
    ("./image.png", True),
    ("", False),
    ("http://example.com\nmalicious", False),
    ("http://example.com\tmalicious", False),
    ("http://example.com\x00malicious", False),
    ("http://example.com<script>", False),
    ("http://example.com'onclick", False),
    ('http://example.com"onclick', False),
    ("a" * 2001, False),
    ("a" * 2000, True),
    ("data:text/plain;base64," + "A" * 100001, False),
    ("data:text/plain;base64,\x00invalid", False),
    ("/../etc/passwd", False),
    ("././etc/passwd", False),
    ("//javascript:alert(1)", False),
    ("//vbscript:alert(1)", False),
    ("//file:///etc/passwd", False),
    ("javascript:alert(1)", True),  # accepted by IsValidURL (blocked by sanitizer)
    ("file:///etc/passwd", True),
    ("#section", False),
    ("data:text/plain,Hello", True),
    ("data:image/png;base64,iVBORw0KGgo=", True),
    ("data:text/html,<script>alert(1)</script>", False),
    ("data:text/plain,\x01", False),
    ("data:image/svg+xml,<svg></svg>", False),
]


@pytest.mark.parametrize("url,want", URL_CASES, ids=[repr(c[0][:40]) for c in URL_CASES])
def test_is_valid_url(url, want):
    assert is_valid_url(url) is want


def test_is_external_url():
    # helpers_test.go:434-457
    assert is_external_url("http://example.com")
    assert is_external_url("https://example.com")
    assert is_external_url("//example.com")
    assert not is_external_url("/page.html")
    assert not is_external_url("page.html")
    assert not is_external_url("#anchor")
    assert not is_external_url("")


# helpers_test.go:110-170
TEXT_CONTENT_CASES = [
    ("simple text", "<p>Hello World</p>", "Hello World"),
    ("nested text", "<div><p>Hello <strong>World</strong></p></div>", "Hello World"),
    ("empty", "<p></p>", ""),
    ("whitespace only", "<p>   </p>", ""),
    ("inline without space", '<span>F-<a href="#">2</a></span>', "F-2"),
    ("inline with space in HTML", '<span>F- <a href="#">2</a></span>', "F- 2"),
    ("nested span without space", "<div><span>Hello</span><span>World</span></div>", "HelloWorld"),
    ("nested span with space", "<div><span>Hello</span> <span>World</span></div>", "Hello World"),
]


@pytest.mark.parametrize("name,html,want", TEXT_CONTENT_CASES, ids=[c[0] for c in TEXT_CONTENT_CASES])
def test_get_text_content(name, html, want):
    assert get_text_content(parse(html)) == want


# GetTextLength / GetLinkDensity: the scorer's single-walk metrics compute both
def _metrics(html):
    return collect_content_metrics(parse(html))


def _link_density(m):
    """GetLinkDensity (scoring.go:114-119) over the scorer's metrics."""
    return m.link_text_length / m.text_length if m.text_length else 0.0


def test_get_text_length():
    assert _metrics("<p>Hello</p>").text_length == 5
    assert _metrics("<div><p>Hello</p><p>World</p></div>").text_length == 10
    assert _metrics("<p></p>").text_length == 0


def test_get_link_density():
    assert _link_density(_metrics("<p>Hello World</p>")) == 0.0
    assert abs(_link_density(_metrics('<p><a href="test.html">Hello World</a></p>')) - 1.0) < 0.1
    assert abs(_link_density(_metrics('<p>Hello <a href="test.html">World</a></p>')) - 0.5) < 0.1
    assert _link_density(_metrics("<p></p>")) == 0.0
