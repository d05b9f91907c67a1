"""robots.txt (RFC 9309) parsing and corpus-scale compliance filtering.

The crawl-compliance sibling of the meta-robots pre-filter
(analytics.meta_robots): recrawl/filter pipelines re-check stored
robots.txt snapshots before re-using captured pages. Implements the
published Robots Exclusion Protocol semantics:

- groups: one or more `User-agent:` lines followed by allow/disallow
  rules; the crawler obeys the group whose token matches its product
  token EXACTLY (case-insensitive), falling back to the `*` group;
  multiple groups for the same agent merge (RFC 9309 §2.2.1).
- matching: rules are path-prefix patterns where `*` matches any
  character sequence and a trailing `$` anchors the end (§2.2.2-2.2.3).
- precedence: the LONGEST (most octets) matching pattern wins; on a
  length tie the least restrictive rule (allow) wins (§2.2.2).
- an empty `Disallow:` value means no restriction; no matching rule
  means allowed; unparseable/absent robots.txt means allowed (§2.3.1.3
  fail-open for 4xx). Pass `status_col` to robots_filter to also
  encode §2.3.1.4: "unreachable" (5xx) hosts are
  treated as complete disallow (fail-closed) while 4xx stays fail-open.

100 TB plan (robots_filter): parsing runs ONLY over the per-host robots
table (one mapInPandas over hosts — bounded by host count, never by
corpus size); the corpus side joins the exploded rule table by host
(rules are the small side — AQE broadcasts or co-partitions), evaluates
pattern regexes JVM-side (`regexp_like` with a column pattern), and
takes one doc-keyed max_by for the longest-match decision. Documents on
hosts with no robots rows short-circuit to allowed with no join
amplification.
"""

from __future__ import annotations

import re
from typing import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


def _robots_groups(text: str) -> tuple[dict, dict]:
    """ONE robots.txt group state machine for every consumer: returns
    (rules_by_agent, delay_by_agent). Same-agent groups merge; rules
    with empty values drop per the RFC; lines that are not
    `field: value` (or are comments) are ignored. Crawl-delay is
    NON-standard (RFC 9309 doesn't define it) but universally honored;
    it is recorded for the groups open at its line — like de-facto
    parsers treat it — with the FIRST valid value per agent winning and
    invalid/negative values ignored. Like sitemap/unknown fields it
    does not end a group header (§2.2.4 keeps other records outside the
    group grammar, so a User-agent line after it still joins the open
    group — the pre-r8 behavior, unchanged)."""
    rules: dict[str, list[tuple[str, bool]]] = {}
    delays: dict[str, float] = {}
    current_agents: list[str] = []
    in_group_header = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            agent = value.lower()
            if in_group_header:
                current_agents.append(agent)
            else:
                current_agents = [agent]
                in_group_header = True
            for a in current_agents:
                rules.setdefault(a, [])
        elif field in ("allow", "disallow"):
            in_group_header = False
            if not current_agents or not value:
                continue  # rule before any group, or empty value: no-op
            for a in current_agents:
                rules.setdefault(a, []).append((value, field == "allow"))
        elif field == "crawl-delay":
            try:
                delay = float(value)
            except ValueError:
                continue
            if delay < 0:
                continue
            for a in current_agents:
                delays.setdefault(a, delay)
        else:
            # sitemap/unknown fields do not end a group header per
            # RFC 9309 §2.2.4 (other records are outside groups)
            continue
    return rules, delays


def parse_robots(text: str, user_agent: str = "*") -> list[tuple[str, bool]]:
    """Parse robots.txt and return the rule list [(pattern, allow), ...]
    of the group governing `user_agent` (exact case-insensitive token
    match preferred over the `*` group; same-agent groups merged)."""
    ua = user_agent.lower()
    rules, _ = _robots_groups(text)
    if ua in rules:
        return rules[ua]
    return rules.get("*", [])


def crawl_delay_for(text: str, user_agent: str = "*") -> float | None:
    """The Crawl-delay governing `user_agent`, with the SAME group
    selection parse_robots applies: the exact-token group wins over the
    `*` group, and when the agent's own group exists but sets no delay,
    the answer is None (our matched group requests no delay — the `*`
    group does not govern us), mirroring how the rule list ignores `*`
    once an exact group matches."""
    ua = user_agent.lower()
    rules, delays = _robots_groups(text)
    if ua in delays:
        return delays[ua]
    if ua in rules:
        return None
    return delays.get("*")


def pattern_to_regex(pattern: str) -> str:
    """RFC 9309 pattern -> anchored Java/RE2-safe regex: `*` -> `.*`, a
    trailing `$` anchors, everything else is literal; match is from the
    start of the path."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    out = "".join(".*" if c == "*" else re.escape(c) for c in body)
    return "^" + out + ("$" if anchored else "")


RULES_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("pattern", StringType()),
        StructField("rule_regex", StringType()),
        StructField("allow", BooleanType()),
        StructField("pattern_len", IntegerType()),
    ]
)


def robots_rules(robots: DataFrame, user_agent: str = "*") -> DataFrame:
    """Parse a per-host robots.txt table into the exploded rule table
    (host, pattern, rule_regex, allow, pattern_len) for `user_agent`.
    Hosts whose file yields no rules for the agent emit no rows (=
    allowed). mapInPandas over the HOST table only."""
    import pandas as pd

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in RULES_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for host, txt in zip(pdf["host"], pdf["robots_txt"]):
                try:
                    rules = parse_robots(txt or "", user_agent)
                except Exception:
                    rules = []  # unparseable: fail open per §2.3.1.3
                for pattern, allow in rules:
                    rows.append(
                        {
                            "host": host,
                            "pattern": pattern,
                            "rule_regex": pattern_to_regex(pattern),
                            "allow": allow,
                            # RFC 9309 §2.2.2 precedence is in OCTETS —
                            # UTF-8 byte length, matching robots_allowed
                            # and the repo-wide byte-length convention
                            "pattern_len": len(pattern.encode("utf-8")),
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return robots.select("host", "robots_txt").mapInPandas(parse_batch, RULES_SCHEMA)


def robots_crawl_delay(robots: DataFrame, user_agent: str = "*") -> DataFrame:
    """Per-host Crawl-delay table (host, crawl_delay) for `user_agent`
    — the politeness input to fetch scheduling. Hosts requesting no
    delay emit no rows. Same host-bounded mapInPandas shape as
    robots_rules; the grammar and group selection are the shared
    _robots_groups machine, so the delay a scheduler honors and the
    rules a filter honors come from the SAME group by construction."""
    import pandas as pd

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host, txt in zip(pdf["host"], pdf["robots_txt"]):
                try:
                    delay = crawl_delay_for(txt or "", user_agent)
                except Exception:
                    delay = None  # unparseable: no delay requested
                if delay is not None:
                    rows.append({"host": host, "crawl_delay": float(delay)})
            yield pd.DataFrame(rows, columns=["host", "crawl_delay"])

    return robots.select("host", "robots_txt").mapInPandas(
        parse_batch, "host string, crawl_delay double"
    )


def host_fetch_quota(
    urls: DataFrame,
    delays: DataFrame,
    window_s: float = 3600.0,
    default_delay: float = 1.0,
    priority_col: str | None = None,
) -> DataFrame:
    """Politeness budget for a fetch frontier: a host whose Crawl-delay
    is d gets floor(window_s / max(d, default)) fetch slots per
    scheduling window, assigned deterministically (row_number over urls
    sorted per host — the same url order every run; with priority_col,
    sorted by (priority, url) so urgent rows take the early slots).
    Returns the frontier with (host, crawl_delay, fetch_rank, scheduled,
    fetch_window): `scheduled` marks this window's quota and
    fetch_window assigns EVERY url its politeness window — window k
    holds at most `slots` urls of the host, so the plan is executable
    as-is, one window per fetch round. A host whose delay exceeds the
    window (slots=0) gets one url every ceil(delay/window) windows —
    it drains without starving AND without ever beating its declared
    Crawl-delay (r9 review: one-per-window would fetch a 7200s-delay
    host every 3600s window); scheduled=false marks the quota overrun.
    One host-keyed join (the delay table is one row per host that
    requests a delay — broadcastable) and one window per host; per-host
    row counts are crawl frontiers, not corpus volumes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .analytics import _host_of

    d = F.greatest(
        F.coalesce(F.col("crawl_delay"), F.lit(float(default_delay))),
        F.lit(float(default_delay)),
    )
    slots = F.floor(F.lit(float(window_s)) / d).cast("long")
    order = ([priority_col] if priority_col else []) + ["url"]
    w = Window.partitionBy("host").orderBy(*order)
    return (
        urls.withColumn("host", _host_of("url"))
        .join(F.broadcast(delays), "host", "left")
        .withColumn("fetch_rank", F.row_number().over(w).cast("long"))
        .withColumn("scheduled", F.col("fetch_rank") <= slots)
        .withColumn(
            "fetch_window",
            F.when(
                slots > 0, F.floor((F.col("fetch_rank") - 1) / slots)
            )
            .otherwise(
                (F.col("fetch_rank") - 1)
                * F.ceil(d / F.lit(float(window_s))).cast("long")
            )
            .cast("long"),
        )
    )


ROBOTS_TABLE_SCHEMA = "host string, robots_txt string, status int"


def robots_table_from_pages(
    pages: DataFrame,
    status_col: str | None = "http_status",
    ts_col: str | None = "warc_ts",
) -> DataFrame:
    """Build the per-host (host, robots_txt, status) table robots_filter
    consumes, straight from crawl captures of /robots.txt (e.g.
    warc.read_warc over a robots WARC segment — Common Crawl publishes
    robots responses as ordinary response records).

    Semantics: host = the shared URL grammar (analytics._host_of);
    NEWEST capture per host wins (max_by on ts_col when present — the
    recrawl convention latest_capture uses); body decoded UTF-8
    errors='replace' in a mapInPandas pass AFTER the per-host collapse,
    so the Python stage is bounded by host count, never capture count
    (Spark's strict decode() would raise on crawl dirt). status rides
    through for robots_filter's RFC 9309 fetch-status policy (5xx
    fail-closed / 4xx fail-open)."""
    from pyspark.sql import functions as F

    from .analytics import _host_of

    st = (
        F.col(status_col).cast("int")
        if status_col is not None
        else F.lit(None).cast("int")
    )
    ts = F.col(ts_col) if ts_col is not None else F.lit(0)
    latest = (
        pages.select(
            _host_of("url").alias("host"),
            F.col("html").alias("__body"),
            st.alias("__status"),
            ts.alias("__ts"),
        )
        .where(F.col("host") != "")
        .groupBy("host")
        .agg(
            F.max_by(F.struct("__body", "__status"), F.col("__ts")).alias("__r")
        )
        .select("host", F.col("__r.__body").alias("__body"), F.col("__r.__status").alias("__status"))
    )

    def decode_batch(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "host": pdf["host"],
                    "robots_txt": [
                        (bytes(b).decode("utf-8", "replace") if b is not None else "")
                        for b in pdf["__body"]
                    ],
                    "status": pdf["__status"],
                }
            )

    return latest.mapInPandas(decode_batch, ROBOTS_TABLE_SCHEMA)


#: RFC 9309 §2.3.1.4: a robots.txt fetch that ended in one of these
#: ("unreachable") means complete disallow for the host.
FAIL_CLOSED_STATUSES = range(500, 600)


def robots_filter(
    docs: DataFrame,
    robots: DataFrame,
    user_agent: str = "*",
    status_col: str | None = None,
) -> DataFrame:
    """Per-document robots.txt compliance over the corpus: join the
    parsed rule table by host, evaluate the RFC longest-match decision,
    and emit (doc_id, url, robots_allowed, matched_pattern). Docs on hosts
    with no rules (or no robots row) are allowed with matched_pattern
    NULL. All rule evaluation is JVM-side regexp_like; the only Python
    is the per-HOST parse.

    Fetch-status policy (RFC 9309 §2.3.1.2-2.3.1.4): pass `status_col`
    naming an HTTP status column on the robots table to encode it fully —
    hosts whose fetch status is in FAIL_CLOSED_STATUSES (5xx, the RFC's
    "unreachable" class, which MUST be treated as complete disallow) get
    robots_allowed=false for every document with matched_pattern NULL;
    4xx ("unavailable") and other non-2xx statuses fail OPEN with the
    body ignored; rules parse only from 2xx (or NULL-status) rows. Without `status_col` the r5 behavior is unchanged
    (fail-open everywhere, callers drop unreachable hosts upstream).
    The blocked-host set is one per-HOST row each — broadcastable."""
    from .analytics import _host_of

    usable = robots
    blocked_hosts = None
    if status_col is not None:
        st = F.col(status_col).cast("int")
        usable = robots.where(st.isNull() | ((st >= 200) & (st < 300)))
        blocked_hosts = (
            robots.where(st.isin(list(FAIL_CLOSED_STATUSES)))
            .select(F.col("host").alias("__bhost"))
            .distinct()
            .withColumn("__blocked", F.lit(True))
        )
    rules = robots_rules(usable, user_agent=user_agent)
    id_col, url_col = "doc_id", "url"
    u = F.col(url_col)
    base = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        u.alias(url_col),
        _host_of(url_col).alias("__host"),
        F.coalesce(
            F.nullif(
                F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1),
                F.lit(""),
            ),
            F.lit("/"),
        ).alias("__path"),
    )
    matched = (
        base.join(rules, base["__host"] == rules["host"], "inner")
        .where(F.expr("regexp_like(__path, rule_regex)"))
        .groupBy(id_col)
        .agg(
            F.max_by(
                F.struct(F.col("allow"), F.col("pattern")),
                # longest pattern wins; ties -> allow; remaining ties ->
                # lexicographically-greatest pattern (pure determinism)
                F.struct(
                    F.col("pattern_len"),
                    F.col("allow").cast("int"),
                    F.col("pattern"),
                ),
            ).alias("__best")
        )
        .select(
            id_col,
            F.col("__best.allow").alias("__allow"),
            F.col("__best.pattern").alias("matched_pattern"),
        )
    )
    out = base.join(matched, id_col, "left")
    if blocked_hosts is not None:
        out = out.join(
            blocked_hosts, out["__host"] == blocked_hosts["__bhost"], "left"
        )
        return out.select(
            id_col,
            url_col,
            F.when(F.col("__blocked"), F.lit(False))
            .otherwise(F.coalesce(F.col("__allow"), F.lit(True)))
            .alias("robots_allowed"),
            F.when(F.col("__blocked"), F.lit(None).cast("string"))
            .otherwise(F.col("matched_pattern"))
            .alias("matched_pattern"),
        )
    return out.select(
        id_col,
        url_col,
        F.coalesce(F.col("__allow"), F.lit(True)).alias("robots_allowed"),
        "matched_pattern",
    )
