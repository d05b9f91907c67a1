"""ExtractAllLinks mode — ported from links.go semantics, group_links_test.go
and links_order_test.go."""

from htmlx.core.extract import Config
from htmlx.core.links import extract_all_links


def urls_of(links):
    return [l["url"] for l in links]


def test_basic_enumeration_and_sort():
    html = b"""<html><body>
        <a href="https://example.com/a">A</a>
        <a href="https://example.com/b">B</a>
        <img src="https://example.com/img/d.png">
        <link rel="stylesheet" href="https://example.com/e.css">
        <script src="https://example.com/f.js"></script>
    </body></html>"""
    links = extract_all_links(html)
    # deterministic URL-ascending order (links.go:321-325)
    assert urls_of(links) == sorted(urls_of(links))
    types = {l["url"]: l["type"] for l in links}
    assert types["https://example.com/a"] == "link"
    assert types["https://example.com/img/d.png"] == "image"
    assert types["https://example.com/e.css"] == "css"
    assert types["https://example.com/f.js"] == "js"


def test_determinism_20_runs():
    html = b'<a href="https://e.com/x">X</a><img src="https://e.com/i.png"><script src="https://e.com/s.js"></script>'
    first = extract_all_links(html)
    for _ in range(19):
        assert extract_all_links(html) == first


def test_no_sanitization():
    # links.go:20-23: ExtractAllLinks runs on the unsanitized DOM, so script
    # src URLs are enumerated (the Extract path would have removed them).
    links = extract_all_links(b'<script src="https://cdn.com/app.js"></script>')
    assert urls_of(links) == ["https://cdn.com/app.js"]


def test_base_href_resolution():
    # NormalizeBaseURL truncates an absolute base to scheme://domain/
    # (url.go:80-87: first slash after the domain), so dir/ is dropped.
    html = b"""<html><head><base href="https://site.com/dir/"></head>
    <body><a href="page.html">P</a><img src="img.png"></body></html>"""
    links = extract_all_links(html)
    assert "https://site.com/page.html" in urls_of(links)
    assert "https://site.com/img.png" in urls_of(links)


def test_og_url_base_detection():
    html = b"""<html><head><meta property="og:url" content="https://site.com/article/x"></head>
    <body><a href="/abs.html">A</a></body></html>"""
    links = extract_all_links(html)
    assert "https://site.com/abs.html" in urls_of(links)


def test_dot_segments_not_collapsed():
    # url.go:134-145: ./ and ../ intentionally NOT collapsed (base href is
    # first normalized to scheme://domain/, url.go:80-87)
    html = b"""<html><head><base href="https://s.com/a/b/"></head>
    <body><a href="./x.html">X</a></body></html>"""
    links = extract_all_links(html)
    assert "https://s.com/./x.html" in urls_of(links)


def test_dedup_last_writer_wins():
    html = b'<a href="https://e.com/x" title="First">F</a><a href="https://e.com/x" title="Second">S</a>'
    links = extract_all_links(html)
    assert len(links) == 1
    assert links[0]["title"] == "Second"


def test_title_fallbacks():
    html = b"""<body>
    <a href="https://e.com/notitle"></a>
    <img src="https://e.com/path/pic.jpg">
    <video src="https://e.com/v.mp4"></video>
    </body>"""
    links = {l["url"]: l for l in extract_all_links(html)}
    assert links["https://e.com/notitle"]["title"] == "Link"
    assert links["https://e.com/path/pic.jpg"]["title"] == "pic.jpg"
    assert links["https://e.com/v.mp4"]["title"] == "v.mp4"


def test_source_type_dispatch():
    html = b"""<video><source src="https://e.com/v.webm" type="video/webm"></video>
    <audio><source src="https://e.com/a.mp3"></audio>"""
    links = {l["url"]: l for l in extract_all_links(html)}
    assert links["https://e.com/v.webm"]["type"] == "video"
    assert links["https://e.com/a.mp3"]["type"] == "audio"


def test_icons_and_preload():
    html = b"""<head>
    <link rel="icon" href="https://e.com/favicon.ico">
    <link rel="preload" as="script" href="https://e.com/pre.js">
    <link rel="preload" as="style" href="https://e.com/pre.css">
    </head>"""
    links = {l["url"]: l for l in extract_all_links(html)}
    assert links["https://e.com/favicon.ico"]["type"] == "icon"
    assert links["https://e.com/pre.js"]["type"] == "js"
    assert links["https://e.com/pre.css"]["type"] == "css"


def test_embed_video_only():
    html = b"""<iframe src="https://www.youtube.com/embed/abc"></iframe>
    <iframe src="https://example.com/not-a-video"></iframe>"""
    links = extract_all_links(html)
    assert urls_of(links) == ["https://www.youtube.com/embed/abc"]
    assert links[0]["title"] == "YouTube Video"


def test_external_filter():
    cfg = Config(include_external_links=False, base_url="https://mine.com/")
    html = b'<a href="https://other.com/x">O</a><a href="/local">L</a>'
    links = extract_all_links(html, cfg)
    assert urls_of(links) == ["https://mine.com/local"]


def test_group_links_by_type():
    html = b'<a href="https://e.com/a">A</a><img src="https://e.com/i.png"><script src="https://e.com/s.js"></script>'
    links = extract_all_links(html)
    assert {l["type"] for l in links} == {"link", "image", "js"}
    assert [l["type"] for l in links].count("link") == 1


def test_empty_and_blank():
    assert extract_all_links(b"") == []
    assert extract_all_links(b"   ") == []
