"""Deterministic golden-fixture corpus (FIXTURES.md §3).

One or more documents per behavior category, each with a stable url. The
expected outputs are computed ONCE by the core and frozen under
tests/fixtures/golden.json (tests compare against the frozen file, so any
semantic drift in the core is caught). Everything is deterministic — fixed
strings, no randomness, no external data.
"""

from __future__ import annotations

# category -> list of (case_id, html_bytes)
def corpus() -> list[tuple[str, bytes]]:
    docs: list[tuple[str, bytes]] = []

    def add(category: str, case_id: str, html, encoding: str = "utf-8"):
        url = f"https://fixture.test/{category}/{case_id}"
        payload = html.encode(encoding) if isinstance(html, str) else html
        docs.append((url, payload))

    # simple-article
    add(
        "simple-article",
        "readme",
        "<html><head><title>Hello World</title></head><body>"
        "<nav>Navigation menu</nav>"
        "<article><h1>Hello World</h1><p>Content here...</p></article>"
        "<footer>Footer content</footer></body></html>",
    )

    # structure-blocks
    add(
        "structure-blocks",
        "mixed",
        "<body><div>Text1</div><blockquote>Quoted wisdom</blockquote>"
        "<pre>  code block</pre><figure>Fig<figcaption>Caption</figcaption></figure>"
        "<details><summary>More</summary>Hidden body</details>"
        "<address>1 Main St</address><center>Centered</center>"
        "<p>One<br>Two<br>Three</p></body>",
    )

    # lists
    add(
        "lists",
        "nested",
        "<body><ul><li>Alpha<ul><li>A1</li><li>A2</li></ul></li><li>Beta</li></ul>"
        "<ol><li>First</li><li>Second</li></ol>"
        "<dl><dt>Term 1</dt><dd>Def 1</dd><dt>Term 2</dt><dd>Def 2</dd></dl></body>",
    )

    # tables-markdown
    add(
        "tables-markdown",
        "aligned",
        '<table><tr><th align="left">Name</th><th align="right">Qty</th></tr>'
        "<tr><td>Apples</td><td>10</td></tr>"
        '<tr><td colspan="2">Total row</td></tr></table>',
    )
    add(
        "tables-markdown",
        "structure-row",
        '<table><tr><td width="100"> </td><td width="200"> </td></tr>'
        "<tr><td>K</td><td>V</td></tr><tr><td>a</td><td>b</td></tr></table>",
    )

    # links
    add(
        "links",
        "variants",
        "<article><p>Paragraph body text with sufficient length for scoring.</p>"
        '<p><a href="https://other.com/x" title="T" rel="nofollow">External</a>'
        ' <a href="/local/page">Local</a>'
        ' <a href="javascript:alert(1)">Bad</a></p></article>',
    )

    # images
    add(
        "images",
        "variants",
        "<article><p>Paragraph body text with sufficient length for scoring.</p>"
        '<img src="a.jpg" alt="A" title="TA" width="10" height="20">'
        '<img src="b.png" alt="">'
        '<img src="bad url with spaces"></article>',
    )

    # media
    add(
        "media",
        "variants",
        "<article><p>Watch our video content on this long enough page.</p>"
        '<video src="https://cdn.test/v.mp4" poster="p.jpg"></video>'
        '<video><source src="https://cdn.test/s.webm" type="video/webm"></video>'
        '<audio src="https://cdn.test/a.mp3"></audio>'
        '<iframe src="https://www.youtube.com/embed/xyz"></iframe>'
        "<p>Bare https://cdn.test/raw.mkv link</p></article>",
    )

    # inline-formats (rendered under multiple configs in the golden builder)
    add(
        "inline-formats",
        "base",
        "<article><p>Intro paragraph with plenty of words to score well.</p>"
        '<img src="pic.jpg" alt="Pic"><p>See <a href="/doc">the doc</a> now.</p></article>',
    )

    # entities
    add(
        "entities",
        "mixtape",
        "<p>&amp; &nbsp; &lt;tag&gt; &#65;&#x41; &#xa0; &hellip; &copy; bare& "
        "☒yes ☐no ☑ok</p>",
    )

    # whitespace
    add(
        "whitespace",
        "runs",
        "<body><p>multi   space\t\ttabs</p>\n\n\n<p>  indented</p>"
        "<p>trailing   </p></body>",
    )

    # encodings
    zh = "中文测试页面，包含足够长度的中文内容用于评分测试。"
    add(
        "encodings",
        "gbk",
        '<html><head><meta charset="gbk"><title>标题</title></head><body><article><p>'
        + zh
        + "</p></article></body></html>",
        encoding="gbk",
    )
    ru = "Русский текст достаточной длины для проверки кодировки страницы."
    add(
        "encodings",
        "cp1251",
        '<html><head><meta charset="windows-1251"><title>Заголовок</title></head><body><article><p>'
        + ru
        + "</p></article></body></html>",
        encoding="cp1251",
    )
    add(
        "encodings",
        "utf16le",
        b"\xff\xfe"
        + ('<html><head><title>UTF16</title></head><body><article><p>UTF-16 body with 中文 text.</p></article></body></html>').encode("utf-16-le"),
    )

    # sanitize
    add(
        "sanitize",
        "xss",
        "<body><div>Visible<script>document.cookie</script></div>"
        '<a href="javascript:alert(1)">j</a>'
        '<a href="ｊａｖａｓｃｒｉｐｔ:alert(1)">fw</a>'
        '<img src="data:image/svg+xml;base64,PHN2Zz4=">'
        '<div style="display:none">hidden stuff</div>'
        '<p onclick="x()">Click text</p></body>',
    )

    # boilerplate-heavy
    add(
        "boilerplate-heavy",
        "layout",
        '<body><div class="sidebar"><p>side junk</p></div>'
        '<article class="post-with-sidebar"><h1>Title</h1>'
        "<p>Main body content of the article, long enough to win scoring easily here.</p></article>"
        '<div class="ads"><p>ad junk</p></div>'
        '<div id="divSiteMap"><a href="/a">a</a></div></body>',
    )

    # scoring-edge
    add(
        "scoring-edge",
        "two-candidates",
        '<body><div id="low"><a href="/1">l1</a> <a href="/2">l2</a> <a href="/3">l3</a> tiny</div>'
        '<div id="high"><p>Prose, with commas, more commas, and plenty of text that goes on, '
        "and on, describing things in a way real articles do, at length.</p>"
        "<p>Second paragraph to boost the count further still.</p>"
        "<p>Third paragraph for the many-paragraphs bonus now.</p></div></body>",
    )

    # namespace-xbrl
    add(
        "namespace-xbrl",
        "sec",
        '<div>(<ix:nonnumeric name="dei:CityAreaCode">707</ix:nonnumeric>) '
        "<ix:nonnumeric>774-7000</ix:nonnumeric></div>"
        "<sec-document><acceptance-datetime>20240101</acceptance-datetime></sec-document>",
    )

    # limits
    add("limits", "blank", "   \n\t  ")
    add("limits", "deep", "<div>" * 501 + "x" + "</div>" * 501)

    # all-links-mode
    add(
        "all-links-mode",
        "resources",
        '<html><head><base href="https://site.test/">'
        '<link rel="stylesheet" href="/main.css">'
        '<link rel="icon" href="/favicon.ico">'
        '<script src="/app.js"></script></head>'
        '<body><a href="page.html">Page</a><img src="/hero.jpg" alt="Hero"></body></html>',
    )

    # unicode
    add(
        "unicode",
        "mixed",
        "<article><p>Emoji 🎉 CJK 漢字 punctuation «quotes» — dash … ellipsis, plus "
        "enough additional filler text for candidate scoring.</p></article>",
    )

    return docs


def build_golden() -> dict:
    """Compute the golden expected outputs with the core (frozen to disk by
    tools/freeze_goldens.py; tests compare against the frozen file)."""
    from .core.extract import Extractor, markdown_config
    from .core.links import extract_all_links

    default = Extractor()
    md = Extractor(markdown_config())
    golden = {}
    for url, payload in corpus():
        r = default.extract(payload)
        entry = {
            "title": r.title,
            "text": r.text,
            "word_count": r.word_count,
            "error": r.error,
            "n_images": len(r.images),
            "n_links": len(r.links),
            "n_videos": len(r.videos),
            "n_audios": len(r.audios),
            "images": r.images,
            "links": r.links,
            "videos": r.videos,
            "audios": r.audios,
        }
        if "/inline-formats/" in url:
            entry["markdown_text"] = md.extract(payload).text
        if "/all-links-mode/" in url:
            entry["link_resources"] = extract_all_links(payload)
        golden[url] = entry
    return golden
