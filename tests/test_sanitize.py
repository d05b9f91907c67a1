"""Sanitization + security — ported from internal/sanitize_test.go and
security_test.go (XSS vectors, scheme smuggling, fullwidth Unicode,
data-URL abuse)."""

from htmlx.core.dom import ELEMENT, parse, walk_nodes
from htmlx.core.extract import Extractor
from htmlx.core.sanitize import AuditRecorder, sanitize_dom


def sanitize(html: str):
    doc = parse(html)
    audit = AuditRecorder()
    sanitize_dom(doc, audit)
    return doc, audit


def tags_in(doc):
    tags = []

    def visit(n):
        if n.type == ELEMENT:
            tags.append(n.data)
        return True

    walk_nodes(doc, visit)
    return tags


def find_attrs(doc, tag):
    out = []

    def visit(n):
        if n.type == ELEMENT and n.data == tag:
            out.append(dict(n.attrs))
        return True

    walk_nodes(doc, visit)
    return out


def test_removes_dangerous_tags():
    doc, audit = sanitize(
        "<div><script>evil()</script><style>x{}</style><iframe src='x'></iframe>"
        "<embed src='x'><object data='x'></object><svg></svg><math></math>"
        "<input value='x'><button>b</button><noscript>n</noscript>ok</div>"
    )
    tags = tags_in(doc)
    for t in ("script", "style", "iframe", "embed", "object", "svg", "math", "input", "button", "noscript"):
        assert t not in tags, t
    assert "div" in tags
    assert len(audit.events) >= 10


def test_strips_event_handlers():
    doc, audit = sanitize('<div onclick="evil()" onmouseover="x()" id="keep">text</div>')
    attrs = find_attrs(doc, "div")[0]
    assert "onclick" not in attrs and "onmouseover" not in attrs
    assert attrs.get("id") == "keep"
    assert sum(1 for e in audit.events if e["event_type"] == "blocked_attr") == 2


def test_strips_formaction_autofocus():
    doc, _ = sanitize('<form formaction="http://x"><p autofocus>t</p></form>')
    assert "formaction" not in find_attrs(doc, "form")[0]
    assert "autofocus" not in find_attrs(doc, "p")[0]


def test_javascript_urls_blocked():
    doc, audit = sanitize('<a href="javascript:alert(1)">x</a>')
    assert "href" not in find_attrs(doc, "a")[0]
    assert any(e["event_type"] == "blocked_url" for e in audit.events)


def test_fullwidth_javascript_blocked():
    # security_test.go fullwidth Unicode scheme smuggling
    doc, _ = sanitize('<a href="ｊａｖａｓｃｒｉｐｔ:alert(1)">x</a>')
    assert "href" not in find_attrs(doc, "a")[0]


def test_vbscript_and_file_blocked():
    doc, _ = sanitize('<a href="vbscript:x">a</a><img src="file:///etc/passwd">')
    assert "href" not in find_attrs(doc, "a")[0]
    assert "src" not in find_attrs(doc, "img")[0]


def test_protocol_relative_dangerous_blocked():
    doc, _ = sanitize('<a href="// javascript:alert(1)">x</a>')
    assert "href" not in find_attrs(doc, "a")[0]


def test_svg_data_url_blocked():
    doc, _ = sanitize('<img src="data:image/svg+xml;base64,PHN2Zz4=">')
    assert "src" not in find_attrs(doc, "img")[0]


def test_safe_data_url_kept():
    doc, _ = sanitize('<img src="data:image/png;base64,iVBORw0KGgo=">')
    assert find_attrs(doc, "img")[0].get("src") == "data:image/png;base64,iVBORw0KGgo="


def test_unsafe_data_media_type_blocked():
    doc, _ = sanitize('<a href="data:text/html;base64,PGh0bWw+">x</a>')
    assert "href" not in find_attrs(doc, "a")[0]


def test_dangerous_css_stripped():
    doc, audit = sanitize('<div style="width:100px;expression(alert(1))">x</div>')
    assert "style" not in find_attrs(doc, "div")[0]
    # safe style values survive
    doc2, _ = sanitize('<div style="text-align:center">x</div>')
    assert find_attrs(doc2, "div")[0].get("style") == "text-align:center"


def test_safe_urls_kept():
    doc, _ = sanitize('<a href="https://example.com/page">x</a><img src="/img.png">')
    assert find_attrs(doc, "a")[0].get("href") == "https://example.com/page"
    assert find_attrs(doc, "img")[0].get("src") == "/img.png"


def test_e2e_sanitization_removes_script_content():
    # security_test.go end-to-end: script content must not leak into text
    r = Extractor().extract(b"<div>Visible<script>document.cookie</script> text</div>")
    assert "cookie" not in r.text
    assert "Visible" in r.text


def test_ascii_uri_check_matches_normalizing_path():
    # an ASCII URI skips NFC and the fullwidth mapping; a str whose
    # isascii() says False takes that path with the same characters
    from htmlx.core.sanitize import _is_safe_uri

    class NotAscii(str):
        def isascii(self):
            return False

    uris = [
        "JavaScript:alert(1)", " //vbscript:msgbox(1)", "\x1fjavascript:alert(1)",
        "//\tdata:text/html,x", "FILE:///etc/passwd", "data:text/html,<b>x</b>",
        "data:image/png;base64,iVBORw0KGgo=", "data:image/svg+xml,<svg/>", "data:,",
        "https://example.com/a?b=c", "/relative/path", "  mailto:a@b.c  ", "vbscript",
    ]

    def untimed(rec):
        return [{k: v for k, v in e.items() if k != "ts"} for e in rec.events]

    for uri in uris:
        fast, slow = AuditRecorder(), AuditRecorder()
        assert _is_safe_uri(uri, fast) == _is_safe_uri(NotAscii(uri), slow), uri
        assert untimed(fast) == untimed(slow), uri
    for uri in ("ｊａｖａｓｃｒｉｐｔ:alert(1)", "//ｖｂｓｃｒｉｐｔ:x", "ＦＩＬＥ:///x"):
        assert not _is_safe_uri(uri, AuditRecorder()), uri
