"""Sitemap crawl-frontier construction (sitemaps.org protocol):
sitemap_entries XML parsing over raw page bytes, Sitemap: discovery
from robots.txt, and the uncrawled-frontier anti-join. Spec rules
pinned: entity unescaping in <loc>, the 50k-entry cap, the 2,048-char
loc bound, and the same-host cross-submission default."""

import pytest
from pyspark.sql import functions as F

from htmlx.spark import analytics
from htmlx.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-sitemap-test")
    yield s
    s.stop()


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, bytearray(x.encode())) for u, x in rows], "url string, html binary"
    )


URLSET = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
    " <url><loc>https://a.com/p/1</loc>"
    "<lastmod>2024-05-01</lastmod></url>\n"
    " <url>\n  <loc> https://a.com/p/2?x=1&amp;y=2 </loc>\n </url>\n"
    " <url><loc>https://OTHER.org/evil</loc></url>\n"
    "</urlset>"
)
INDEX = (
    "<sitemapindex><sitemap><loc>https://a.com/sitemap-1.xml.gz</loc>"
    "<lastmod>2024-01-01T00:00:00Z</lastmod></sitemap>"
    "<sitemap>\n<loc>https://a.com/sitemap-2.xml</loc>\n</sitemap>"
    "</sitemapindex>"
)


def test_urlset_entries_parse_unescape_and_same_host(spark):
    df = analytics.sitemap_entries(
        _pages(spark, [("https://a.com/sitemap.xml", URLSET)])
    )
    rows = sorted((r["loc"], r["lastmod"], r["kind"]) for r in df.collect())
    # the foreign-host loc is dropped by the cross-submission default;
    # the &amp; entity unescapes; whitespace around loc strips
    assert rows == [
        ("https://a.com/p/1", "2024-05-01", "url"),
        ("https://a.com/p/2?x=1&y=2", None, "url"),
    ]
    assert {r["host"] for r in df.collect()} == {"a.com"}


def test_sitemapindex_entries(spark):
    df = analytics.sitemap_entries(
        _pages(spark, [("https://a.com/sitemap.xml", INDEX)])
    )
    rows = sorted((r["loc"], r["lastmod"], r["kind"]) for r in df.collect())
    assert rows == [
        ("https://a.com/sitemap-1.xml.gz", "2024-01-01T00:00:00Z", "sitemap"),
        ("https://a.com/sitemap-2.xml", None, "sitemap"),
    ]


def test_non_sitemap_pages_yield_nothing(spark):
    df = analytics.sitemap_entries(
        _pages(
            spark,
            [
                ("https://a.com/", "<html><body><url><loc>x</loc></url></body>"),
                ("https://a.com/x", "plain text, no xml"),
            ],
        )
    )
    assert df.count() == 0


def test_entry_cap_and_loc_length_bound(spark, monkeypatch):
    many = "<urlset>" + "".join(
        f"<url><loc>https://a.com/p/{i}</loc></url>" for i in range(10)
    ) + f"<url><loc>https://a.com/{'q' * 2100}</loc></url></urlset>"
    # at the spec's cap all 10 short locs stay; the >=2048-char loc never
    # survives
    unc = analytics.sitemap_entries(_pages(spark, [("https://a.com/s.xml", many)]))
    assert unc.count() == 10
    # the entry cap, lowered from the spec's 50,000 so 11 entries exceed
    # it: only the first 7 entries are read
    monkeypatch.setattr(analytics, "SITEMAP_MAX_ENTRIES", 7)
    df = analytics.sitemap_entries(_pages(spark, [("https://a.com/s.xml", many)]))
    locs = {r["loc"] for r in df.collect()}
    assert locs == {f"https://a.com/p/{i}" for i in range(7)}


def test_sitemap_urls_from_robots(spark):
    robots = spark.createDataFrame(
        [
            (
                "a.com",
                "User-agent: *\nDisallow: /x\n"
                "Sitemap: https://a.com/sitemap.xml\n"
                "sitemap:https://a.com/news.xml\n"
                "# Sitemap: https://a.com/commented.xml is still a field? no:\n"
                "NotSitemap: https://a.com/nope.xml\n",
            ),
            ("b.org", "User-agent: *\nAllow: /\n"),
        ],
        "host string, robots_txt string",
    )
    got = sorted(
        (r["host"], r["sitemap_url"])
        for r in analytics.sitemap_urls_from_robots(robots).collect()
    )
    assert got == [
        ("a.com", "https://a.com/news.xml"),
        ("a.com", "https://a.com/sitemap.xml"),
    ]


def test_sitemap_frontier_anti_join(spark):
    entries = analytics.sitemap_entries(
        _pages(spark, [("https://a.com/sitemap.xml", URLSET)])
    )
    pages = spark.createDataFrame(
        [("https://a.com/p/1",)], "url string"
    )
    got = {r["url"]: r["lastmod"] for r in
           analytics.sitemap_frontier(entries, pages).collect()}
    # p/1 is already crawled; p/2 is the frontier
    assert got == {"https://a.com/p/2?x=1&y=2": None}


def test_sitemap_scan_side_plan(spark):
    """The parse itself is zero-Python zero-shuffle: no Exchange and no
    Python evaluation below the explode."""
    df = analytics.sitemap_entries(
        _pages(spark, [("https://a.com/sitemap.xml", URLSET)])
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_frontier_planner_cli_e2e(spark, tmp_path, monkeypatch):
    """jobs/frontier.py: the whole recrawl plan from a crawl's own
    captures — robots table (5xx fail-closed), sitemap discovery from
    robots + captured XML, frontier anti-join, RFC compliance filter,
    Crawl-delay politeness slots — with no side inputs."""
    import sys

    from jobs.frontier import main

    urlset = (
        "<urlset>"
        "<url><loc>https://a.com/p/1</loc></url>"            # crawled
        "<url><loc>https://a.com/p/2</loc></url>"            # frontier
        "<url><loc>https://a.com/p/3</loc></url>"            # frontier
        "<url><loc>https://a.com/private/x</loc></url>"      # robots-blocked
        "</urlset>"
    )
    index = ("<sitemapindex><sitemap><loc>https://a.com/sub.xml</loc>"
             "</sitemap></sitemapindex>")
    b_urlset = "<urlset><url><loc>https://b.com/q/1</loc></url></urlset>"
    rows = [
        # a.com robots: blocks /private/, 30s delay, names an extra sitemap
        ("https://a.com/robots.txt", 200,
         "User-agent: *\nDisallow: /private/\nCrawl-delay: 30\n"
         "Sitemap: https://a.com/sitemap-extra.xml\n"),
        # b.com robots fetch failed 503 -> fail-closed, nothing planned
        ("https://b.com/robots.txt", 503, "User-agent: *\nAllow: /\n"),
        ("https://a.com/sitemap.xml", 200, urlset),
        ("https://a.com/sitemap-index.xml", 200, index),
        ("https://b.com/sitemap.xml", 200, b_urlset),
        ("https://a.com/p/1", 200, "<html><body>already crawled</body></html>"),
    ]
    import datetime as _dt

    pages = spark.createDataFrame(
        [(u, st, bytearray(x.encode()), _dt.datetime(2024, 1, 1))
         for u, st, x in rows],
        "url string, http_status int, html binary, warc_ts timestamp",
    )
    inp = str(tmp_path / "pages.parquet")
    pages.write.parquet(inp)
    out = str(tmp_path / "plan")
    monkeypatch.setattr(sys, "argv", [
        "frontier.py", "--input", inp, "--output", out, "--window", "60",
    ])
    main()
    plan = {r["url"]: r for r in
            spark.read.parquet(out + "/fetch_plan.parquet").collect()}
    # /p/1 crawled; /private/x robots-blocked; b.com fail-closed
    assert set(plan) == {"https://a.com/p/2", "https://a.com/p/3"}
    for r in plan.values():
        assert r["crawl_delay"] == 30.0
    # window 60 / delay 30 -> 2 slots: both scheduled
    assert all(r["scheduled"] for r in plan.values())
    sm = {r["url"] for r in spark.read.parquet(
        out + "/sitemaps_to_fetch.parquet").collect()}
    # the index-listed sub-sitemap AND the robots-discovered sitemap are
    # both uncaptured; the captured sitemap.xml files are not re-listed
    assert sm == {"https://a.com/sub.xml", "https://a.com/sitemap-extra.xml"}


def test_frontier_cdx_delta_and_politeness_windows(spark, tmp_path, monkeypatch):
    """--cdx-previous/--cdx-current: the recrawl decision happens at
    INDEX cost (cdx_snapshot_delta) and folds into the plan with
    priorities (0 site-listed-uncrawled, 1 changed, 2 added);
    unchanged/removed are never planned. fetch_window then assigns
    every url a politeness window: Crawl-delay 10 / window 30 -> 3
    slots, so no window holds more than 3 of the host's urls — and
    jobs/extract.py --fetch-plan executes exactly one window."""
    import datetime as _dt
    import sys

    from jobs.frontier import main as frontier_main
    from htmlx.spark.warc import write_cdxj

    urlset = (
        "<urlset>"
        "<url><loc>https://a.com/p/2</loc></url>"
        "<url><loc>https://a.com/p/3</loc></url>"
        "</urlset>"
    )
    rows = [
        ("https://a.com/robots.txt", 200,
         "User-agent: *\nAllow: /\nCrawl-delay: 10\n"),
        ("https://a.com/sitemap.xml", 200, urlset),
    ]
    pages = spark.createDataFrame(
        [(u, st, bytearray(x.encode()), _dt.datetime(2024, 1, 1))
         for u, st, x in rows],
        "url string, http_status int, html binary, warc_ts timestamp",
    )
    inp = str(tmp_path / "pages.parquet")
    pages.write.parquet(inp)

    def cdx(rows_):
        return spark.createDataFrame(
            [(None, _dt.datetime(2024, 1, 1, 0, 0, i), u,
              "text/html", 200, dg, 100, 0, "f.warc.gz")
             for i, (u, dg) in enumerate(rows_)],
            "surt string, warc_ts timestamp, url string, mime string, "
            "status int, digest string, length long, offset long, filename string",
        )

    old = cdx([("https://a.com/c/1", "AAA"), ("https://a.com/c/2", "BBB"),
               ("https://a.com/c/5", "EEE"), ("https://a.com/c/4", "DDD")])
    new = cdx([("https://a.com/c/1", "AAA"),          # unchanged
               ("https://a.com/c/2", "B22"),          # changed
               ("https://a.com/c/5", "E55"),          # changed
               ("https://a.com/c/3", "CCC")])         # added
    op, np_ = str(tmp_path / "cdx_old"), str(tmp_path / "cdx_new")
    write_cdxj(old, op)
    write_cdxj(new, np_)

    out = str(tmp_path / "plan")
    monkeypatch.setattr(sys, "argv", [
        "frontier.py", "--input", inp, "--output", out, "--window", "30",
        "--cdx-previous", op, "--cdx-current", np_,
    ])
    frontier_main()
    plan = {r["url"]: r for r in
            spark.read.parquet(out + "/fetch_plan.parquet").collect()}
    # unchanged c/1 and removed c/4 never planned
    assert set(plan) == {
        "https://a.com/p/2", "https://a.com/p/3",
        "https://a.com/c/2", "https://a.com/c/5", "https://a.com/c/3",
    }
    assert plan["https://a.com/p/2"]["priority"] == 0
    assert plan["https://a.com/c/2"]["priority"] == 1
    assert plan["https://a.com/c/3"]["priority"] == 2
    assert plan["https://a.com/c/2"]["plan_source"] == "changed"
    # (priority, url) order: p/2, p/3, c/2, c/5, c/3 -> slots 3
    assert plan["https://a.com/p/2"]["fetch_window"] == 0
    assert plan["https://a.com/p/3"]["fetch_window"] == 0
    assert plan["https://a.com/c/2"]["fetch_window"] == 0
    assert plan["https://a.com/c/5"]["fetch_window"] == 1
    assert plan["https://a.com/c/3"]["fetch_window"] == 1
    assert {u for u, r in plan.items() if r["scheduled"]} == {
        "https://a.com/p/2", "https://a.com/p/3", "https://a.com/c/2"}
    # no window exceeds the host's 3-slot quota
    from collections import Counter
    per_window = Counter(r["fetch_window"] for r in plan.values())
    assert all(n <= 3 for n in per_window.values())

    # --- extract executes exactly one politeness window ---
    import jobs.extract as je

    body = ("<html><head><title>T</title></head><body><article><h1>T</h1>"
            "<p>window body words for scoring here</p></article></body></html>")
    crawl = spark.createDataFrame(
        [(u, bytearray(body.encode())) for u in sorted(plan)],
        "url string, html binary",
    )
    cinp = str(tmp_path / "crawl.parquet")
    crawl.write.parquet(cinp)
    xout = str(tmp_path / "xout")
    monkeypatch.setattr(sys, "argv", [
        "extract.py", "--input", cinp, "--output", xout,
        "--fetch-plan", out + "/fetch_plan.parquet", "--fetch-window", "1",
        "--run-id", "w1", "--groups", "4",
    ])
    je.main()
    got = {r["url"] for r in spark.read.parquet(xout + "/data").collect()}
    assert got == {"https://a.com/c/5", "https://a.com/c/3"}


def test_host_fetch_quota_windows_and_starvation_guard(spark):
    from htmlx.spark.robotstxt import host_fetch_quota

    urls = spark.createDataFrame(
        [(f"https://s.com/{i:02d}",) for i in range(7)], "url string"
    )
    delays = spark.createDataFrame(
        [("s.com", 10.0)], "host string, crawl_delay double"
    )
    q = {r["url"]: r for r in
         host_fetch_quota(urls, delays, window_s=30.0).collect()}
    # 3 slots: windows 0,0,0,1,1,1,2
    wins = [q[f"https://s.com/{i:02d}"]["fetch_window"] for i in range(7)]
    assert wins == [0, 0, 0, 1, 1, 1, 2]
    # delay > window: slots 0 -> nothing 'scheduled', but the host still
    # drains (no starvation) at a rate that honors the delay
    q2 = {r["url"]: r for r in host_fetch_quota(
        urls, spark.createDataFrame([("s.com", 120.0)],
                                    "host string, crawl_delay double"),
        window_s=30.0).collect()}
    assert not any(r["scheduled"] for r in q2.values())
    # delay 120 / window 30 -> one url every ceil(120/30)=4 windows:
    # draining must never beat the declared Crawl-delay (r9 review)
    assert sorted(r["fetch_window"] for r in q2.values()) == [0, 4, 8, 12, 16, 20, 24]
