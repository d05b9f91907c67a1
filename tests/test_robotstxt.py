"""robots.txt / RFC 9309 compliance (htmlx.spark.robotstxt): parser,
pattern matching, longest-match precedence, and the corpus-scale Spark
filter.

The pure functions are pinned against the RFC's own published semantics
(§2.2.1 group merging and UA selection, §2.2.2 longest-match with
allow-on-tie, §2.2.3 `*`/`$` wildcards, §2.3.1.3 fail-open); the Spark
op is checked end-to-end against robots_allowed() row by row."""

import pytest

from htmlx.spark.robotstxt import parse_robots, robots_filter, robots_rules
from htmlx.spark.session import get_spark
from tests.oracles import pattern_matches, robots_allowed


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-robots-test")
    yield s
    s.stop()


ROBOTS = """# example file
User-agent: googlebot
Disallow: /private/

User-agent: *
Disallow: /cgi-bin/
Allow: /cgi-bin/public
Disallow: /*.gif$

User-agent: *
Disallow: /tmp/
"""


def test_group_selection_and_merge():
    star = parse_robots(ROBOTS, "*")
    # the two `*` groups MERGE (RFC §2.2.1)
    assert ("/cgi-bin/", False) in star and ("/tmp/", False) in star
    assert ("/cgi-bin/public", True) in star
    # exact-token agent gets ITS group, not `*`
    g = parse_robots(ROBOTS, "GoogleBot")
    assert g == [("/private/", False)]
    # unknown agent falls back to `*`
    assert parse_robots(ROBOTS, "otherbot") == star


def test_multi_agent_group_header():
    txt = "User-agent: a\nUser-agent: b\nDisallow: /x\n"
    assert parse_robots(txt, "a") == [("/x", False)]
    assert parse_robots(txt, "b") == [("/x", False)]


def test_empty_disallow_and_garbage_fail_open():
    assert parse_robots("User-agent: *\nDisallow:\n", "*") == []
    assert robots_allowed([], "/anything") is True
    assert parse_robots("\x00binary garbage no fields", "*") == []


def test_wildcards_and_anchor():
    assert pattern_matches("/foo", "/foo")
    assert pattern_matches("/foo", "/foobar")       # prefix semantics
    assert pattern_matches("/foo", "/foo/bar")
    assert not pattern_matches("/foo", "/bar/foo")  # anchored at start
    assert pattern_matches("/*.gif$", "/a/b.gif")
    assert not pattern_matches("/*.gif$", "/a/b.gifx")  # $ anchors end
    assert pattern_matches("/a*b", "/a-anything-b")
    assert not pattern_matches("/fish*.php", "/Fish.PHP")  # case-sensitive


def test_longest_match_and_allow_tie():
    rules = [("/page", True), ("/*.ph", False)]
    # equal length (5): least restrictive (allow) wins — RFC §2.2.2
    assert robots_allowed(rules, "/page.php") is True
    rules2 = [("/folder/", True), ("/folder", False)]
    assert robots_allowed(rules2, "/folder/page") is True  # 8 > 7
    rules3 = [("/", True), ("/admin/", False)]
    assert robots_allowed(rules3, "/admin/secret") is False
    assert robots_allowed(rules3, "/public") is True


def test_spark_filter_end_to_end(spark):
    robots = spark.createDataFrame(
        [
            ("a.com", ROBOTS),
            ("b.com", "User-agent: *\nDisallow: /\nAllow: /open/\n"),
            # c.com has a robots row yielding no rules for us
            ("c.com", "User-agent: onlybot\nDisallow: /\n"),
        ],
        "host string, robots_txt string",
    )
    docs = spark.createDataFrame(
        [
            (1, "https://a.com/cgi-bin/script"),     # disallow /cgi-bin/
            (2, "https://a.com/cgi-bin/public/x"),   # allow beats it (longer)
            (3, "https://a.com/img/pic.gif"),        # /*.gif$
            (4, "https://a.com/tmp/x"),              # merged 2nd * group
            (5, "https://a.com/fine"),               # no match -> allowed
            (6, "https://b.com/anything"),           # Disallow: /
            (7, "https://b.com/open/page"),          # Allow: /open/ longer
            (8, "https://c.com/x"),                  # no rules for * agent
            (9, "https://nohost.example/x"),         # no robots row at all
            (10, "https://A.COM:443/tmp/y"),         # host case/port fold
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: (r["robots_allowed"], r["matched_pattern"])
           for r in robots_filter(docs, robots).collect()}
    assert out[1] == (False, "/cgi-bin/")
    assert out[2] == (True, "/cgi-bin/public")
    assert out[3] == (False, "/*.gif$")
    assert out[4] == (False, "/tmp/")
    assert out[5] == (True, None)
    assert out[6] == (False, "/")
    assert out[7] == (True, "/open/")
    assert out[8] == (True, None)
    assert out[9] == (True, None)
    assert out[10] == (False, "/tmp/")
    # googlebot sees its own group only
    gout = {r["doc_id"]: r["robots_allowed"]
            for r in robots_filter(docs, robots, user_agent="googlebot").collect()}
    assert gout[1] is True and gout[4] is True  # `*` rules don't apply


def test_octet_length_precedence():
    """RFC 9309 §2.2.2 defines longest-match in OCTETS: '/éé' is 3 chars
    but 5 UTF-8 octets, so it outranks the 4-char/4-octet '/*xy' — under
    character-length precedence the allow would (wrongly) win."""
    rules = [("/éé", False), ("/*xy", True)]
    assert robots_allowed(rules, "/ééxy") is False
    # and the exploded rule table carries octet lengths
    assert len("/éé".encode("utf-8")) == 5


def test_rule_table_pattern_len_is_octets(spark):
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /éé\nAllow: /*xy\n")],
        "host string, robots_txt string",
    )
    lens = {r["pattern"]: r["pattern_len"] for r in robots_rules(robots).collect()}
    assert lens == {"/éé": 5, "/*xy": 4}
    # end-to-end: the Spark longest-match agrees with the RFC octet rule
    docs = spark.createDataFrame([(1, "https://a.com/ééxy")], "doc_id long, url string")
    out = robots_filter(docs, robots).collect()[0]
    assert out["robots_allowed"] is False and out["matched_pattern"] == "/éé"


def test_fail_closed_statuses(spark):
    """RFC 9309 §2.3.1.2-2.3.1.4 via status_col: 5xx ('unreachable')
    hosts are complete-disallow even when the stale body would allow;
    4xx ('unavailable') fails open even when the body would block;
    2xx/NULL-status hosts parse normally."""
    robots = spark.createDataFrame(
        [
            ("ok.com", "User-agent: *\nDisallow: /b\n", 200),
            ("down.com", "User-agent: *\nAllow: /\n", 503),
            ("gone.com", "User-agent: *\nDisallow: /\n", 404),
            ("nostatus.com", "User-agent: *\nDisallow: /b\n", None),
        ],
        "host string, robots_txt string, status int",
    )
    docs = spark.createDataFrame(
        [
            (1, "https://ok.com/b/x"),
            (2, "https://ok.com/fine"),
            (3, "https://down.com/anything"),
            (4, "https://gone.com/anything"),
            (5, "https://nostatus.com/b/x"),
            (6, "https://norow.com/x"),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: (r["robots_allowed"], r["matched_pattern"])
           for r in robots_filter(docs, robots, status_col="status").collect()}
    assert out[1] == (False, "/b")
    assert out[2] == (True, None)
    assert out[3] == (False, None)   # fail-closed, no pattern attribution
    assert out[4] == (True, None)    # fail-open, body ignored
    assert out[5] == (False, "/b")   # NULL status parses normally
    assert out[6] == (True, None)
    # without status_col the r5 fail-open behavior is unchanged
    out3 = {r["doc_id"]: r["robots_allowed"]
            for r in robots_filter(docs, robots.drop("status")).collect()}
    assert out3[3] is True and out3[4] is False


def test_spark_rule_eval_is_jvm_side(spark):
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /x\n")], "host string, robots_txt string"
    )
    docs = spark.createDataFrame([(1, "https://a.com/x")], "doc_id long, url string")
    plan = robots_filter(docs, robots)._jdf.queryExecution().executedPlan().toString()
    # exactly ONE Python stage: the per-HOST parse; corpus-side eval is JVM
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan


def test_parser_totality_on_garbage():
    """parse_robots must never raise on arbitrary crawl bytes — robots
    files in the wild are full of garbage (RFC §2.2: ignore what you
    don't understand; unparseable fails open upstream)."""
    import random

    rng = random.Random(23)
    pool = "Uuser-agent: *\nDisallow/al: low#$\x00é%böt \r\t"
    for _ in range(300):
        s = "".join(rng.choice(pool) for _ in range(rng.randrange(0, 120)))
        rules = parse_robots(s, "anybot")
        for pattern, allow in rules:
            assert pattern and isinstance(allow, bool)
            robots_allowed(rules, "/some/path")  # matcher total too


def test_robots_table_from_warc_captures(spark, tmp_path):
    """The full crawl seam: robots.txt WARC captures -> read_warc ->
    robots_table_from_pages (newest capture per host wins, body decoded
    errors=replace, status carried) -> robots_filter with the RFC 9309
    fetch-status policy. Covers: recrawl supersedence (old allow, new
    disallow), a 503 host that must fail CLOSED though its body would
    allow, and a 404 host that must fail OPEN though its body would
    block."""
    import gzip
    import os

    from htmlx.spark.robotstxt import robots_table_from_pages
    from htmlx.spark.warc import read_warc

    def record(block, url, date, status=b"200 OK"):
        http = b"HTTP/1.1 " + status + b"\r\nContent-Type: text/plain\r\n\r\n" + block
        f = [b"WARC/1.1", b"WARC-Type: response",
             b"WARC-Record-ID: <urn:uuid:1>", b"WARC-Date: " + date,
             b"WARC-Target-URI: " + url,
             b"Content-Length: " + str(len(http)).encode()]
        return b"\r\n".join(f) + b"\r\n\r\n" + http + b"\r\n\r\n"

    allow_all = b"User-agent: *\nDisallow:\n"
    block_priv = b"User-agent: *\nDisallow: /private/\n"
    block_all = b"User-agent: *\nDisallow: /\n"
    members = [
        # a.com: older capture allows everything, NEWER one blocks /private/
        record(allow_all, b"https://a.com/robots.txt", b"2020-01-01T00:00:00Z"),
        record(block_priv, b"https://A.COM:443/robots.txt", b"2021-06-01T00:00:00Z"),
        # err.com: 503 — body would allow, policy must fail CLOSED
        record(allow_all, b"https://err.com/robots.txt",
               b"2021-01-01T00:00:00Z", status=b"503 Service Unavailable"),
        # gone.com: 404 — body would block, policy must fail OPEN
        record(block_all, b"https://gone.com/robots.txt",
               b"2021-01-01T00:00:00Z", status=b"404 Not Found"),
    ]
    d = str(tmp_path / "robotswarc")
    os.makedirs(d)
    with open(os.path.join(d, "seg.warc.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(m) for m in members))

    robots = robots_table_from_pages(read_warc(spark, d))
    tbl = {r["host"]: r for r in robots.collect()}
    assert set(tbl) == {"a.com", "err.com", "gone.com"}  # shared grammar merged A.COM:443
    assert "private" in tbl["a.com"]["robots_txt"]  # newest capture won
    assert tbl["err.com"]["status"] == 503

    docs = spark.createDataFrame(
        [(0, "https://a.com/private/x"), (1, "https://a.com/ok"),
         (2, "https://err.com/anything"), (3, "https://gone.com/anything")],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: r["robots_allowed"]
        for r in robots_filter(docs, robots, status_col="status").collect()
    }
    assert got == {0: False, 1: True, 2: False, 3: True}


# ---- Crawl-delay (de-facto field) + politeness quota (r8) ----


def test_crawl_delay_group_selection():
    from htmlx.spark.robotstxt import crawl_delay_for

    txt = ("User-agent: *\nCrawl-delay: 10\nDisallow: /x\n\n"
           "User-agent: fastbot\nCrawl-delay: 0.5\nAllow: /\n\n"
           "User-agent: quietbot\nDisallow: /y\n")
    assert crawl_delay_for(txt, "fastbot") == 0.5
    assert crawl_delay_for(txt, "SomeOther") == 10.0   # falls to *
    # quietbot HAS its own group with no delay: * does not govern it
    assert crawl_delay_for(txt, "quietbot") is None
    assert crawl_delay_for(txt) == 10.0
    # invalid / negative values are ignored; first valid wins
    assert crawl_delay_for("User-agent: *\nCrawl-delay: nope\n"
                           "Crawl-delay: -3\nCrawl-delay: 7\n") == 7.0
    assert crawl_delay_for("User-agent: *\nDisallow: /\n") is None


def test_crawl_delay_does_not_change_rule_parse():
    """The shared state machine must leave rule semantics untouched:
    a Crawl-delay between the UA line and the rules neither ends the
    group header nor becomes a rule."""
    from htmlx.spark.robotstxt import parse_robots

    txt = ("User-agent: a\nCrawl-delay: 5\nUser-agent: b\n"
           "Disallow: /x\n")
    # b joined a's still-open group header (other records don't close it)
    assert parse_robots(txt, "a") == [("/x", False)]
    assert parse_robots(txt, "b") == [("/x", False)]


def test_robots_crawl_delay_table_and_fetch_quota(spark):
    from pyspark.sql import functions as F

    from htmlx.spark.robotstxt import host_fetch_quota, robots_crawl_delay

    robots = spark.createDataFrame(
        [
            ("slow.com", "User-agent: *\nCrawl-delay: 30\n"),
            ("fast.com", "User-agent: *\nCrawl-delay: 0.1\n"),
            ("nodelay.com", "User-agent: *\nDisallow: /private\n"),
            ("broken.com", None),
        ],
        "host string, robots_txt string",
    )
    delays = robots_crawl_delay(robots)
    got = {r["host"]: r["crawl_delay"] for r in delays.collect()}
    assert got == {"slow.com": 30.0, "fast.com": 0.1}
    urls = spark.createDataFrame(
        [(f"https://slow.com/p/{i:02d}",) for i in range(5)]
        + [(f"https://nodelay.com/p/{i:02d}",) for i in range(4)],
        "url string",
    )
    # window 60s: slow.com gets floor(60/30)=2 slots; nodelay.com gets
    # floor(60/default 1.0)=60 -> all 4 scheduled. Assignment is the
    # deterministic per-host url order.
    q = host_fetch_quota(urls, delays, window_s=60.0)
    sched = {r["url"]: (r["fetch_rank"], r["scheduled"]) for r in q.collect()}
    slow_scheduled = [u for u, (_, s) in sched.items()
                      if s and "slow.com" in u]
    assert sorted(slow_scheduled) == [
        "https://slow.com/p/00", "https://slow.com/p/01"]
    assert all(s for u, (_, s) in sched.items() if "nodelay.com" in u)
    # the fast host: floor(60/max(0.1, default 1.0)) = 60 — the default
    # is a politeness FLOOR, a site cannot grant more than 1 rps here
    q2 = {r["url"]: r["scheduled"] for r in host_fetch_quota(
        spark.createDataFrame([(f"https://fast.com/{i}",) for i in range(3)],
                              "url string"),
        delays, window_s=2.0).collect()}
    assert sum(q2.values()) == 2  # floor(2/1.0) = 2 of 3


def test_pipeline_robots_stage(tmp_path):
    """--robots in pipeline mode gates docs before URL filtering."""
    from jobs.curate import parser, run_pipeline
    from htmlx.spark.session import get_spark

    spark = get_spark(cores=4, app_name="htmlx-robots-pipeline-test")
    try:
        docs = spark.createDataFrame(
            [
                (1, "unique text one body words " * 8, "https://a.com/private/x"),
                (2, "unique text two body words " * 8, "https://a.com/pub"),
                (3, "unique text three body words " * 8, "https://b.com/y"),
            ],
            "doc_id long, text string, url string",
        )
        rb = tmp_path / "robots.parquet"
        spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /private/\n")],
            "host string, robots_txt string",
        ).write.parquet(str(rb))
        args = parser().parse_args([
            "--mode", "pipeline", "--input", str(tmp_path / "unused"),
            "--output", str(tmp_path / "out"), "--quality-rule", "none",
            "--seq-len", "64", "--pack-buckets", "2", "--robots", str(rb),
        ])
        manifest = run_pipeline(spark, docs, args)
        done = manifest["completed"]
        assert done["robots"]["docs_in"] == 3
        assert done["robots"]["docs_out"] == 2  # /private/ dropped first
        assert done["urlfilter"]["docs_in"] == 2
    finally:
        spark.stop()
