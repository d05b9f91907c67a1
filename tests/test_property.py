"""Property tests (hypothesis): no exception on arbitrary bytes, determinism
across runs — the engine analogue of fuzz_test.go:13-138."""

from hypothesis import HealthCheck, given, settings, strategies as st

from htmlx.core.extract import Extractor, extract
from htmlx.core.links import extract_all_links

_ex = Extractor()


@settings(max_examples=120, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.binary(max_size=4096))
def test_extract_never_raises(blob):
    r = _ex.extract(blob)
    assert isinstance(r.text, str)
    assert isinstance(r.word_count, int)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.text(max_size=2048))
def test_extract_text_input_never_raises(s):
    r = _ex.extract(s.encode("utf-8", errors="ignore"))
    assert isinstance(r.text, str)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.binary(max_size=2048))
def test_all_links_never_raises(blob):
    try:
        links = extract_all_links(blob)
    except ValueError:
        return  # size/depth errors are contract errors, not crashes
    assert all(set(l) == {"url", "title", "type"} for l in links)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.binary(max_size=2048))
def test_determinism(blob):
    a = _ex.extract(blob)
    b = _ex.extract(blob)
    assert a.text == b.text
    assert a.title == b.title
    assert a.images == b.images
    assert a.links == b.links
    assert a.videos == b.videos


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.sampled_from(
            ["<p>", "</p>", "<div>", "</div>", "<b>", "</b>", "text ", "&amp;", "<br>",
             "<table>", "<tr>", "<td>x</td>", "</tr>", "</table>", "<li>item</li>",
             "<ul>", "</ul>", "&#65;", "<a href='/x'>l</a>", "<img src='i.jpg'>"]
        ),
        max_size=40,
    )
)
def test_tag_soup_roundtrip(parts):
    html = "".join(parts).encode()
    r = _ex.extract(html)
    assert r.error == "" or r.error.startswith("internal_panic") is False


TAG_SOUP = st.lists(
    st.sampled_from(
        ["<p>", "</p>", "<div class='a b'>", "</div>", "text & more ", "&amp;", "&#65;",
         "<br>", "<br/>", "<img src='x.jpg' alt=\"A&B\">", "<a href=/x title=T>", "</a>",
         "<script>var a='</div>';</script>", "<style>p{}</style>", "<!-- comment -->",
         "<!doctype html>", "<?pi?>", "< notatag", "<table><tr><td>c", "</td></tr></table>",
         "<ul><li>i", "</ul>", "&unknown;", "&lt;", "\n  ", "<em>e</em>", "<SPAN ID=Q>",
         "</span>", "<input value=3>", "<sec-doc>", "</sec-doc>",
         "<ix:nonnumeric>7</ix:nonnumeric>", "<title>T</title>", "<td colspan=2>",
         # duplicate, uppercase and valueless attributes (first name wins)
         "<a HREF=/a href=/b Href=/c>", "<span id=x ID=y hidden>", "<input disabled checked=c>",
         # mis-nested and stray end tags
         "<b><i></b></i>", "</b>", "<b>", "</i>",
         # first newline after pre/textarea/listing
         "<pre>\n", "</pre>", "<textarea>\nt", "</textarea>",
         # text directly in table structure (foster-parented)
         "<table>x", "<table><tr>y", "<tbody>z", "</tr>", "</table>",
         # implied-end runs
         "<dl><dt>a<dd>b<dt>c", "</dl>", "<select><option>1<option>2", "</select>",
         # structure tags with attributes
         "<html lang=en>", "<body class=b>", "<head id=h>", "</body>", "</html>"]
    ),
    max_size=30,
)


def _tree_sig(node):
    from htmlx.core.dom import COMMENT, ELEMENT, TEXT

    parts = []
    stack = [node]
    while stack:
        n = stack.pop()
        if n.type == ELEMENT:
            parts.append(("E", n.data, tuple(n.attrs)))  # in source order
        elif n.type == TEXT:
            parts.append(("T", n.data))
        elif n.type == COMMENT:
            parts.append(("C", n.data))
        c = n.last_child
        while c is not None:
            stack.append(c)
            c = c.prev_sibling
    return parts


@settings(max_examples=80, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(TAG_SOUP)
def test_fast_tokenizer_matches_stdlib(parts):
    """The fast tokenizer must build the identical tree to the stdlib-driven
    parser on arbitrary tag soup (differential regression guard)."""
    from htmlx.core.dom import parse
    from tests.oracles import parse_stdlib

    doc = "".join(parts)
    assert _tree_sig(parse(doc)) == _tree_sig(parse_stdlib(doc))
