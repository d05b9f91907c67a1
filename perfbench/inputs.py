"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the same
documents table, the same realistic pages and the same crawl table.

- ``documents``: a table with the schema and the statistics of the sf0.01
  and sf0.1 ``documents`` tables the repo's tests and tools read (measured on
  both): doc_id 0..n-1; text of 10-100 words, uniform (quartiles 32/55/76),
  drawn uniformly from the same 30-word vocabulary; lang en/zh/es/fr/de at
  0.41/0.15/0.15/0.15/0.14; source ``src{doc_id % 20}``; n_chars the text
  length; and 5% of rows a copy of another row's text plus `` dup``. The
  benchmark reads nothing outside the repository, so it draws this table
  from the seed rather than subsetting those files.
- ``web_pages``: 30-100 KB pages (median ~60 KB) that compose the
  ``htmlx.spark.pages`` article templates, the golden fixture fragments and
  document text inside the boilerplate of a real site: a nav with hundreds of
  links, a sidebar, ads, share/related widgets, comments and a footer.
- ``crawl pages``: every ``pages.py`` template over the documents table, one
  page per (document, template).
"""

from __future__ import annotations

import os
import random
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_SHARE = 0.05
WEB_DOCS = 500  # documents whose text and template bodies fill the web pages

# Fixture categories left out of the realistic pages: ``limits`` holds the
# depth bomb and the blank page (a 501-deep fragment turns the whole page
# into max_depth_exceeded), ``encodings`` holds non-UTF-8 bytes.
EXCLUDED_FIXTURES = ("limits", "encodings")


def documents(seed: int, n: int) -> pa.Table:
    rng = random.Random(seed)
    texts = []
    for _ in range(n):
        k = rng.randint(10, 100)
        texts.append(" ".join(rng.choice(VOCAB) for _ in range(k)))
    for i in rng.sample(range(n), int(n * DUP_SHARE)):
        j = rng.randrange(n)
        if j != i:
            texts[i] = texts[j] + " dup"
    langs = rng.choices(LANGS, LANG_WEIGHTS, k=n)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(seed: int, n: int, sf_dir: str) -> None:
    """Write the documents table where entry queries look for it
    (``<sf_dir>/documents.parquet``)."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(documents(seed, n), os.path.join(sf_dir, "documents.parquet"))


def _write_parts(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


# -- realistic pages ---------------------------------------------------------

_BODY = re.compile(rb"<body[^>]*>(.*?)(?:</body>|$)", re.S | re.I)
_WRAPPERS = re.compile(rb"</?(?:html|head|body)[^>]*>|<title>.*?</title>|<!doctype[^>]*>", re.S | re.I)


def fixture_fragments() -> list[str]:
    """Body markup of every golden fixture outside EXCLUDED_FIXTURES."""
    from htmlx.fixtures import corpus

    out = []
    for url, payload in corpus():
        if url.split("/")[3] in EXCLUDED_FIXTURES:
            continue
        m = _BODY.search(payload)
        body = m.group(1) if m else payload
        out.append(_WRAPPERS.sub(b"", body).decode("utf-8"))
    return out


def template_bodies(docs: pa.Table) -> list[str]:
    """The article bodies of all eleven ``pages.py`` templates, rendered for
    every document by DuckDB from the same portable SQL the queries use."""
    from htmlx.spark import pages

    inner = [
        pages.INNER_TEXT, pages.INNER_LINKS, pages.INNER_IMAGES,
        pages.INNER_MEDIA, pages.INNER_BOILERPLATE, pages.INNER_TABLE,
        pages.INNER_ENTITIES, pages.INNER_NESTED, pages.INNER_COLSPAN,
        pages.INNER_DEEPLIST, pages.INNER_AUDIT,
    ]
    con = duckdb.connect()
    con.register("documents", docs)
    sql = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS t, {body} AS body FROM documents"
        for i, body in enumerate(inner)
    )
    rows = con.execute(f"SELECT body FROM ({sql}) ORDER BY doc_id, t").fetchall()
    con.close()
    return [r[0] for r in rows]


def _words(rng: random.Random, k: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(k))


def _nav(rng, n_links: int) -> str:
    items = "".join(
        f'<li class="menu-item"><a href="/section/{rng.randrange(10_000)}" '
        f'class="nav-link">{_words(rng, 2).title()}</a></li>'
        for _ in range(n_links)
    )
    return (
        '<header class="site-header"><div class="logo"><a href="/">'
        '<img src="/static/logo.png" alt="Example"></a></div>'
        f'<nav class="nav main-menu"><ul>{items}</ul></nav></header>'
    )


def _sidebar(rng) -> str:
    widgets = "".join(
        f'<div class="widget"><h3>{_words(rng, 2)}</h3><ul>'
        + "".join(
            f'<li><a href="/tag/{rng.randrange(500)}">{_words(rng, 3)}</a></li>'
            for _ in range(rng.randint(8, 20))
        )
        + "</ul></div>"
        for _ in range(rng.randint(2, 5))
    )
    return f'<aside class="sidebar">{widgets}</aside>'


def _ad(rng) -> str:
    return (
        f'<div class="ads advert"><a href="https://ads.example.net/c/{rng.randrange(10**6)}">'
        f'<img src="https://ads.example.net/b/{rng.randrange(999)}.gif" width="300" height="250">'
        f"</a><p>{_words(rng, 6)}</p>"
        '<iframe src="https://ads.example.net/frame"></iframe></div>'
    )


def _share_related(rng) -> str:
    share = "".join(
        f'<a href="https://share.example.org/{s}?u={rng.randrange(10**6)}">{s}</a>'
        for s in ("mail", "post", "link", "print")
    )
    related = "".join(
        f'<li><a href="/story/{rng.randrange(10**5)}"><img src="/thumb/{rng.randrange(999)}.jpg" '
        f'alt=""><span>{_words(rng, 5)}</span></a></li>'
        for _ in range(rng.randint(6, 12))
    )
    return (
        f'<div class="share-buttons social">{share}</div>'
        f'<div class="related"><h3>Related</h3><ul>{related}</ul></div>'
    )


def _comments(rng) -> str:
    items = "".join(
        f'<li class="comment"><div class="comment-meta"><a href="/user/{rng.randrange(9999)}">'
        f"user{rng.randrange(9999)}</a></div><p>{_words(rng, rng.randint(5, 30))}</p></li>"
        for _ in range(rng.randint(5, 25))
    )
    return f'<section id="comments" class="comments"><ol>{items}</ol></section>'


def _footer(rng) -> str:
    cols = "".join(
        "<ul>" + "".join(
            f'<li><a href="/info/{rng.randrange(999)}">{_words(rng, 2)}</a></li>'
            for _ in range(12)
        ) + "</ul>"
        for _ in range(4)
    )
    return f'<footer class="footer site-footer">{cols}<p>Copyright Example Corp</p></footer>'


def _head(rng, title: str) -> str:
    metas = "".join(
        f'<meta name="m{i}" content="{_words(rng, 4)}">' for i in range(rng.randint(10, 25))
    )
    return (
        f"<head><meta charset=\"utf-8\"><title>{title}</title>{metas}"
        '<link rel="stylesheet" href="/static/site.css">'
        f"<style>.x{{color:#{rng.randrange(4096):03x}}}</style>"
        f"<script>var cfg = {{id: {rng.randrange(10**6)}}}; track(cfg);</script></head>"
    )


def realistic_page(rng: random.Random, target_bytes: int, bodies: list[str],
                   fragments: list[str], docs_text: list[str]) -> bytes:
    title = _words(rng, 6).title()
    article = [f"<h1>{title}</h1>"]
    shell = [
        "<!doctype html><html>", _head(rng, title), "<body>",
        _nav(rng, rng.randint(150, 400)), '<div class="page"><div class="content-wrap">',
        _ad(rng),
    ]
    tail = [
        "</article>", _share_related(rng), _comments(rng), "</div>",
        _sidebar(rng), _ad(rng), "</div>", _footer(rng),
        "<script>analytics();</script></body></html>",
    ]
    size = sum(map(len, shell)) + sum(map(len, tail)) + len(article[0])
    while size < target_bytes:
        r = rng.random()
        if r < 0.45:
            part = "<p>" + " ".join(rng.choice(docs_text) for _ in range(3)) + "</p>"
        elif r < 0.80:
            part = f"<section>{rng.choice(bodies)}</section>"
        elif r < 0.92:
            part = f"<div class=\"block\">{rng.choice(fragments)}</div>"
        else:
            part = _ad(rng)
        article.append(part)
        size += len(part)
    shell.append('<article class="post">')
    return ("".join(shell) + "".join(article) + "".join(tail)).encode("utf-8")


def web_pages(seed: int, n_pages: int, n_docs: int = WEB_DOCS) -> pa.Table:
    """``n_pages`` realistic pages; sizes are triangular on 30-100 KB with
    mode 55 KB, so the median is ~60 KB."""
    rng = random.Random(seed)
    docs = documents(seed, n_docs)
    bodies = template_bodies(docs)
    fragments = fixture_fragments()
    docs_text = docs.column("text").to_pylist()
    urls, htmls = [], []
    for i in range(n_pages):
        target = int(rng.triangular(30_000, 100_000, 55_000))
        urls.append(f"https://site{rng.randrange(40)}.example.com/story/{i}")
        htmls.append(realistic_page(rng, target, bodies, fragments, docs_text))
    return pa.table({"url": urls, "html": pa.array(htmls, pa.binary())})


def write_web_pages(seed: int, n_pages: int, path: str, files: int) -> pa.Table:
    table = web_pages(seed, n_pages)
    _write_parts(table, path, files)
    return table


# -- crawl pages -------------------------------------------------------------

def write_crawl_pages(seed: int, n_docs: int, path: str, files: int) -> tuple[pa.Table, int]:
    """Every ``pages.py`` template over a ``n_docs`` documents table, one page
    per (document, template), rendered by DuckDB from the same portable SQL
    the Spark side uses and written as a ``files``-file parquet table.
    Returns the table and its number of audit-template pages (each carries
    exactly three sanitizer audit events)."""
    from htmlx.spark.pages import PAGE_TEMPLATES, URL_SQL

    con = duckdb.connect()
    con.register("documents", documents(seed, n_docs))
    sql = " UNION ALL ".join(
        f"SELECT {URL_SQL} || '/{name}' AS url, encode({page}) AS html FROM documents"
        for name, page in PAGE_TEMPLATES.items()
    )
    table = con.execute(f"SELECT url, html FROM ({sql}) ORDER BY url").arrow()
    con.close()
    _write_parts(table, path, files)
    return table, n_docs
