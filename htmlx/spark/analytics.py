"""Large-scale training-data pipeline operators over `documents` and
`embeddings` — deduplication, similarity search, text analysis.

Design rule: everything that CAN be a built-in `pyspark.sql.functions`
expression IS one (stays in WholeStageCodegen / JVM); Python appears only in
the genuinely bit-twiddly ops (simhash, language-ID profiles) as
Arrow-vectorized pandas UDFs.

Scale notes (100 TB / 1000 executors):
- exact dedup: hash-groupBy on md5(text) — one shuffle keyed by digest, no
  skew (digests are uniform).
- MinHash+LSH: signatures computed scan-side (map-only), bands exploded and
  shuffled by (band_id, band_hash) — candidate buckets are tiny; the
  quadratic pair expansion happens per-bucket, never globally.
- ANN: brute-force top-k broadcasts the (small) query set and computes
  partial top-k per partition before the final shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def spread_small_input(df: DataFrame) -> DataFrame:
    """Scale-adaptive fan-out for expression-heavy per-row compute
    (optimization guide §2.2/§2.5 'make partitioning scale-adaptive').

    A tiny corpus — in particular the bench/driver documents table, ONE
    small parquet file with one row group — arrives as a single input
    split, which serializes every scan-side expression chain (md5/minhash
    draws, simhash bit votes, lang-ID regex ladders, shingle builds) onto
    one core while the rest of the cluster idles (the same input-split
    lesson the r5 extraction fix addressed; measured r10: simhash 1.6 s ->
    0.36 s, minhash signatures 2.5 s -> 0.65 s at local[32]/sf0.1). The
    mapInPandas decode tiers in entryqueries route through here for the
    same reason.

    Width is 1x defaultParallelism — exactly one Python-task wave. The r5
    extraction fix used 2x (the production skew heuristic), but each
    EXTRA wave of python tasks costs worker dispatch while adding
    nothing: per-task work is row-count-uniform after the round-robin
    repartition (measured r7, BENCH/BASELINE.md: extract_text 0.89 s @1x
    vs 1.16 s @2x vs 1.50 s @3x; media/jpeg decode tiers -0.6 s each).

    When the input already carries at least defaultParallelism partitions
    — any real at-scale scan — the frame is returned UNTOUCHED: zero
    added shuffle, so the zero-exchange scale story of the JVM-side
    operators still holds (plan-pinned with pre-spread inputs in
    tests/test_plans.py). The round-robin repartition is deterministic
    under task retry (sortBeforeRepartition is on by default). Streaming
    frames keep their source partitioning."""
    if getattr(df, "isStreaming", False):
        return df
    # memo: the .rdd partition probe costs a plan->RDD conversion (~0.1 s
    # of driver time under load); composite builders route the SAME frame
    # object through several spread-aware helpers, so mark it once
    if getattr(df, "_htmlx_spread_checked", False):
        return df
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    out = df.repartition(p) if n < p else df
    try:
        out._htmlx_spread_checked = True
    except Exception:
        pass
    return out


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

def _keep_policy_agg(keep_by: str | None, descending: bool):
    """The keep-doc aggregate for exact/paragraph dedup.

    Default policy keeps the minimum doc_id. Real pipelines keep
    newest-by-crawl-timestamp or highest-by-quality-score instead: pass
    the ordering column as keep_by (descending=True keeps the highest
    value). doc_id is ALWAYS the deterministic tie-break (minimum wins),
    so a policy column with ties reproduces bit-identically across
    engines — min_by/max_by over a (policy, doc_id) struct stays a
    single-shuffle hash aggregate, same plan shape as min(doc_id)."""
    d = F.col("doc_id")
    if keep_by is None:
        return F.min("doc_id").cast("long").alias("keep_doc_id")
    if descending:
        # highest policy value wins; ties fall to the SMALLEST doc_id,
        # hence the negated tie-break under max_by
        return F.max_by(d, F.struct(F.col(keep_by), (-d).alias("tb"))).cast("long").alias("keep_doc_id")
    return F.min_by(d, F.struct(F.col(keep_by), d.alias("tb"))).cast("long").alias("keep_doc_id")


#: Latin accent fold table for ccnet_norm_col — one explicit pair of
#: translate() strings used VERBATIM by both engines (DuckDB translate
#: takes the same arguments), so normalization is byte-reproducible
#: across Spark and the oracle. Deliberately the common Latin-1 set;
#: full Unicode NFD folding would need a Python UDF and diverge.
CCNET_ACC_FROM = "àáâãäåçèéêëìíîïñòóôõöøùúûüýÿ"
CCNET_ACC_TO = "aaaaaaceeeeiiiinoooooouuuuyy"


def ccnet_norm_col(col):
    """CCNet's dedup normalization (Wenzek et al. 2020 §4.1) as one pure
    Catalyst expression: case-fold, accent-fold (explicit Latin table),
    every digit -> '0', strip punctuation (anything that is not a
    letter, '0', or whitespace), collapse whitespace runs to one space,
    trim. Hashing the NORMALIZED text makes dedup robust to cosmetic
    edits (case, punctuation, numbers) that near-dup MinHash would
    spend a full signature on. Scan-side, zero shuffle, reproducible in
    SQL (DuckDB needs the 'g' regexp_replace flag — Spark is global by
    default)."""
    t = F.lower(col if not isinstance(col, str) else F.col(col))
    t = F.translate(t, CCNET_ACC_FROM, CCNET_ACC_TO)
    t = F.regexp_replace(t, "[0-9]", "0")
    t = F.regexp_replace(t, r"[^\p{L}0\s]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def dedup_exact(
    documents: DataFrame,
    keep_by: str | None = None,
    descending: bool = False,
    normalize: bool = False,
) -> DataFrame:
    """Exact dedup via content digest group-by: one row per distinct text
    with the kept doc_id and the duplicate count. The keep policy is
    min doc_id by default; keep_by/descending select the survivor by a
    caller-supplied ordering column (newest warc_ts, highest quality
    score) — see _keep_policy_agg. normalize=True hashes the CCNet
    normalization of the text instead of the raw bytes (ccnet_norm_col),
    collapsing case/punctuation/digit variants of the same document;
    text_md5 is then the digest of the NORMALIZED form."""
    key = ccnet_norm_col("text") if normalize else F.col("text")
    return (
        documents.groupBy(F.md5(key).alias("text_md5"))
        .agg(
            _keep_policy_agg(keep_by, descending),
            F.count("*").cast("long").alias("dup_count"),
        )
    )


def split_paragraphs(
    documents: DataFrame, delimiter: str = "\n", extra_cols: tuple = ()
) -> DataFrame:
    """Explode documents into (doc_id, para_idx, paragraph) rows — the
    unit CCNet-style paragraph dedup operates on. Real corpora split on
    newlines/blank lines; the driver corpus synthesizes delimiters
    deterministically (see q_dedup_exact). posexplode keeps the in-doc
    position so the keep decision can be (doc, position)-stable.
    extra_cols carries per-doc columns (e.g. a keep-policy ordering
    column) through the explode."""
    return documents.select(
        F.col("doc_id").cast("long"),
        *[F.col(c) for c in extra_cols],
        F.posexplode(F.split(F.col("text"), delimiter)).alias("para_idx", "paragraph"),
    )


def dedup_paragraphs(
    paras: DataFrame,
    keep_by: str | None = None,
    descending: bool = False,
    normalize: bool = False,
) -> DataFrame:
    """CCNet-style (Wenzek et al. 2020) paragraph-level dedup: one row
    per distinct paragraph digest with the kept doc_id and the
    occurrence count — the cross-document shape that strips boilerplate
    (nav/footer/subscribe blocks) repeated across a crawl. Same
    uniform-digest-key shuffle as dedup_exact: scales to 100 TB because
    only (digest, doc_id) pairs move, never the corpus text order.
    keep_by/descending select the surviving doc by a caller-supplied
    ordering column present in `paras` (see _keep_policy_agg); default
    keeps the minimum doc_id. normalize=True groups by the CCNet
    normalization of each paragraph (ccnet_norm_col) — the published
    CCNet pipeline hashes normalized paragraphs, not raw bytes."""
    key = ccnet_norm_col("paragraph") if normalize else F.col("paragraph")
    return paras.groupBy(F.md5(key).alias("content_md5")).agg(
        _keep_policy_agg(keep_by, descending),
        F.count("*").cast("long").alias("dup_count"),
    )


_TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=")


#: The ONE URL grammar every host-keyed operator parses with (VERDICT r6
#: item 6 — previously canonical_url_col, url_filter and _host_of each
#: re-derived it and agreed only by discipline): an RFC 3986 scheme token,
#: then everything up to the first /?# as the authority ("hostport").
#: Deliberately conservative: userinfo@ is RETAINED inside hostport (a URL
#: carrying embedded credentials names a different fetch — collapsing it
#: would merge distinct captures in dedup), IPv6 brackets pass through
#: verbatim, and only an all-digit trailing :port is ever stripped (so
#: '[::1]' survives port-stripping intact). The oracle SQL in
#: entryqueries.py mirrors these regexes literally; cross-operator
#: agreement is pinned by tests/test_url_grammar.py against an
#: independent Python `re` replay.
URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
URL_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
URL_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"


def _scheme_of(u):
    """Lowercased scheme of a URL Column ('' when not an absolute URL)."""
    return F.lower(F.regexp_extract(u, URL_SCHEME_RE, 1))


def _hostport_of(u):
    """Lowercased authority (userinfo@host:port) of a URL Column."""
    return F.lower(F.regexp_extract(u, URL_HOSTPORT_RE, 1))


def _strip_any_port(hostport):
    """Drop a trailing all-digit :port from an authority expression."""
    return F.regexp_replace(hostport, ":\\d+$", "")


def canonical_url_col(url_col: str = "url"):
    """Crawl-style URL canonicalization as one Catalyst expression:
    lowercase scheme+host, strip the fragment, drop the scheme's default
    port (:80/:443), collapse a bare '/' path, drop tracking parameters
    (utm_*, fbclid, gclid), and sort the remaining query params so
    semantically-equal capture URLs compare equal. The exact rule set is
    the common crawl-dedup subset — deliberately conservative: nothing
    that could change which resource the URL names (no %-decoding, no
    path-segment collapsing). Pure string/array functions, scan-side,
    reproducible in ANSI-ish SQL for the oracle."""
    u = F.col(url_col)
    scheme = _scheme_of(u)
    hostport = _hostport_of(u)
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(u, URL_PATH_RE, 1)
    path = F.when(path == "/", F.lit("")).otherwise(path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    keep = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~p.startswith(_TRACKING_PREFIXES[0])
        & ~p.startswith(_TRACKING_PREFIXES[1])
        & ~p.startswith(_TRACKING_PREFIXES[2]),
    )
    params = F.sort_array(keep)
    qs = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    # a string with no scheme:// is not a canonicalizable absolute URL:
    # pass it through verbatim rather than collapsing every malformed row
    # onto the degenerate '://' key (which would merge them in dedup)
    return F.when(
        scheme == "", u
    ).otherwise(F.concat(scheme, F.lit("://"), host, path, qs))


def latest_capture(
    df: DataFrame, url_col: str = "url", ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-level recrawl dedup: one row per canonical URL keeping the
    NEWEST capture (max ts, ties to the smallest id — deterministic
    across engines). The real Common-Crawl shape: the same page is
    captured many times under cosmetically-different URLs; training
    corpora keep the latest. Single hash-aggregate shuffle keyed by
    canonical URL (uniform after canonicalization), max_by partial-aggs
    map-side — same 100 TB profile as dedup_exact."""
    i = F.col(id_col)
    return (
        df.select(
            canonical_url_col(url_col).alias("canonical_url"),
            F.col(ts_col).alias("__ts"),
            i.cast("long").alias("__id"),
        )
        .groupBy("canonical_url")
        .agg(
            F.max_by(F.col("__id"), F.struct(F.col("__ts"), (-F.col("__id")).alias("tb")))
            .cast("long")
            .alias("keep_id"),
            F.count("*").cast("long").alias("n_captures"),
        )
    )


#: Conservative URL-keyword rule set (RefinedWeb-style; Penedo 2023 uses a
#: curated soft-match word list — this is the deterministic exact-substring
#: subset so both engines agree byte-for-byte).
DEFAULT_URL_KEYWORDS = ("porn", "xxx", "casino", "viagra", "escort")

#: Byte cap on the whole URL, aligned with the reference's validation cap
#: (reference urlutil: 2000 UTF-8 bytes).
URL_BYTE_CAP = 2000


def url_filter(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    keywords: tuple = DEFAULT_URL_KEYWORDS,
) -> DataFrame:
    """Crawl URL filtering (the RefinedWeb/UT1-blocklist pipeline stage):
    per document, keep/drop + first-match reason:

      bad_scheme      — scheme is not http/https
      url_too_long    — whole URL over URL_BYTE_CAP UTF-8 bytes
      blocked_host    — host equals, or is a subdomain of, a blocklist
                        entry (label-boundary suffix match: 'b.com'
                        blocks 'a.b.com' but NOT 'notb.com')
      blocked_keyword — lowercased URL contains a keyword
      kept            — none of the above

    Precedence: structural invalidity first (cheap scan checks), then
    blocklist, then keywords — deterministic and documented, matching
    the composite-corpus-filter convention (exact_dup > near_dup > ...).

    100 TB plan: the blocklist (UT1-style lists are a few MB) collapses
    to ONE array row and broadcast-crossJoins onto the scan — the corpus
    side stays a single pruned scan with zero shuffle and zero Python;
    suffix matching is an arrays_overlap against the per-doc host suffix
    chain (<= #labels entries), not a LIKE scan per blocklist entry."""
    u = F.col(url_col)
    scheme = _scheme_of(u)
    host = _strip_any_port(_hostport_of(u))
    labels = F.split(host, "\\.")
    n = F.size(labels)
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )
    bl = blocklist.agg(
        F.collect_set(F.lower(F.col("host"))).alias("__blocked_hosts")
    )
    low = F.lower(u)
    kw = F.array(*[F.lit(k) for k in keywords])
    reason = (
        F.when(~scheme.isin("http", "https"), F.lit("bad_scheme"))
        .when(F.octet_length(u) > URL_BYTE_CAP, F.lit("url_too_long"))
        .when(
            F.arrays_overlap(suffixes, F.col("__blocked_hosts")),
            F.lit("blocked_host"),
        )
        .when(
            F.exists(kw, lambda k: low.contains(k)), F.lit("blocked_keyword")
        )
        .otherwise(F.lit("kept"))
    )
    return (
        df.crossJoin(F.broadcast(bl))
        .select(
            F.col(id_col).cast("long").alias(id_col),
            u.alias(url_col),
            reason.alias("reason"),
        )
        .withColumn("keep", F.col("reason") == "kept")
    )


def host_rank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str | None = None,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Host-level PageRank over the crawl link graph — the domain-
    reputation prior real curation pipelines feed into quality scoring
    (a host linked from many reputable hosts is itself a prior-good
    source). Standard damped formulation with uniform teleport and
    dangling-mass redistribution:

        pr' = (1-d)/N + d * (inflow + dangling_mass/N)

    run for a FIXED iteration count (deterministic, oracle-replayable;
    power iteration converges geometrically so 3-10 rounds rank hosts
    stably — callers needing convergence loop outside).

    100 TB plan: edges collapse to per-(src,dst) weights first (one
    shuffle, bounded by distinct host pairs, not by links). Each round
    is two host-keyed hash joins (rank and out-weight are host-keyed,
    uniform) plus two SCALAR aggregates (N, dangling mass) that
    broadcast as single rows — no driver collect, no cartesian. Rank
    state is one row per host (~10^7 at web scale — always the small
    side; Catalyst/AQE broadcasts it when it fits). Every
    `checkpoint_every` rounds the rank table is localCheckpoint-ed
    (eager) to truncate lineage. This is not optional hygiene: each
    iteration consumes `pr` TWICE (the inflow join and the dangling-mass
    aggregate), so the unrolled logical tree DOUBLES per iteration —
    plan size is 2^iters, not linear (measured: an 8-iteration unrolled
    executedPlan carries >10k codegen spans), and analysis/codegen blow
    up long before 30 iterations. checkpoint_every=4 caps every segment
    at 2^4 subtree copies; materializing the identical one-row-per-host
    state changes no values, so determinism is preserved (pinned by
    test_link_graph.py::test_host_rank_checkpoint_determinism). Pass
    checkpoint_every=0 to disable (only sensible for iters <= ~8).

    Checkpoint RELIABILITY: when the SparkContext has a checkpoint
    directory configured (sc.setCheckpointDir — the normal cluster
    setup), the RELIABLE df.checkpoint is used: localCheckpoint stores
    blocks on executors, and losing one executor after lineage
    truncation kills the whole job — unacceptable on a 1000-executor
    run. Without a checkpoint dir (local dev), localCheckpoint is the
    only option and is used as before."""
    e = edges.groupBy(src_col, dst_col).agg(
        (
            F.sum(weight_col) if weight_col else F.count(F.lit(1))
        ).cast("double").alias("__w")
    )
    nodes = (
        e.select(F.col(src_col).alias("host"))
        .union(e.select(F.col(dst_col).alias("host")))
        .distinct()
    )
    n_row = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    outw = e.groupBy(src_col).agg(F.sum("__w").alias("__outw"))
    pr = (
        nodes.crossJoin(F.broadcast(n_row))
        .select("host", (F.lit(1.0) / F.col("__n")).alias("rank"))
    )
    for it in range(iters):
        inflow = (
            e.join(pr.withColumnRenamed("host", src_col), src_col)
            .join(outw, src_col)
            .select(
                F.col(dst_col).alias("host"),
                (F.col("rank") * F.col("__w") / F.col("__outw")).alias("__c"),
            )
            .groupBy("host")
            .agg(F.sum("__c").alias("__inflow"))
        )
        dangling = pr.join(
            outw.withColumnRenamed(src_col, "host"), "host", "left_anti"
        ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
        pr = (
            nodes.join(inflow, "host", "left")
            .crossJoin(F.broadcast(n_row))
            .crossJoin(F.broadcast(dangling))
            .select(
                "host",
                (
                    F.lit((1.0 - damping)) / F.col("__n")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__inflow"), F.lit(0.0))
                        + F.col("__dm") / F.col("__n")
                    )
                ).alias("rank"),
            )
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0 and (it + 1) < iters:
            sc = pr.sparkSession.sparkContext
            if sc._jsc.sc().checkpointDir().isDefined():
                pr = pr.checkpoint(eager=True)
            else:
                pr = pr.localCheckpoint(eager=True)
    return pr


def _host_of(url_col):
    """Lowercased host (port stripped) parsed from a URL column (name or
    Column) — built from the module-level URL grammar (URL_HOSTPORT_RE +
    _strip_any_port) so every host-keyed operator (url_filter,
    canonical_url_col, link_graph, anchor_text_agg, robots joins) agrees
    on what 'host' means by construction, not by discipline
    (tests/test_url_grammar.py pins the agreement on adversarial URLs)."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    return _strip_any_port(_hostport_of(u))


def surt_col(url_col: str = "url"):
    """SURT sort key (Sort-friendly URI Reordering Transform — the
    Internet Archive / Common-Crawl cc-index key format) as one Catalyst
    expression: `com,example)/path?query`. Built ON the shared URL
    grammar (_hostport_of/_strip_any_port) so the index's authority
    parse agrees with every host-keyed operator by construction; the
    SURT-specific refinements on top are documented public convention,
    not new grammar: userinfo@ is dropped (SURT is a sort key, not a
    fetch identity — unlike _host_of, where credentials name a
    different fetch), a leading `www.` label is dropped and host labels
    reverse comma-joined (the cc-index canonicalization), scheme and
    fragment are dropped, an empty path becomes '/', and the path/query
    portion is LOWERCASED like published cc-index urlkeys (r9: without
    this a join against a real Common-Crawl index on surt mismatches
    any mixed-case path). Ports are stripped with the grammar's own
    rule. NULL (not '') for relative URLs — a sort key for an unknown
    authority would collide real ones. Remaining gap vs the full IA
    canonicalizer, documented not hidden: query parameters keep their
    original ORDER (cc-index sorts them), so a surt built here matches
    a real index row only when the URL's params were already sorted —
    within self-built indexes (cdx_from_warc) keys are always
    consistent."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    host = _strip_any_port(_hostport_of(u))
    host = F.regexp_replace(host, "^[^@]*@", "")
    host = F.regexp_replace(host, r"^www\.", "")
    revhost = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    pathq = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    )
    pathq = F.when(pathq == "", F.lit("/")).otherwise(pathq)
    return F.when(host == "", F.lit(None)).otherwise(
        F.concat(revhost, F.lit(")"), pathq)
    )


def link_graph(
    results: DataFrame,
    url_col: str = "url",
    links_col: str = "links",
    respect_nofollow: bool = True,
    cross_host_only: bool = False,
) -> DataFrame:
    """Crawl link-graph construction from the extraction pipeline's own
    output — the glue between run_extraction and host_rank /
    anchor_text_agg: explode each document's extracted links (LINK_TYPE
    structs: url, text, is_nofollow, ... — reference links.go) into
    per-host-pair weighted edges (src_host, dst_host, weight).

    Semantics: relative link URLs (no scheme://) resolve to the SOURCE
    host — a relative link cannot leave its site. rel=nofollow links are
    excluded by default: nofollow exists precisely to withhold the
    endorsement PageRank propagates (pass respect_nofollow=False to keep
    them). cross_host_only=True drops intra-site edges for
    endorsement-style analyses (host_rank wants them kept — self-edges
    model internal link mass).

    100 TB plan: explode is scan-side; ONE hash-aggregate keyed by the
    (src_host, dst_host) pair — bounded by distinct host pairs, not by
    links, with popular-pair skew absorbed map-side. Zero Python. Feed
    the output straight into host_rank(edges)."""
    ex = results.select(
        _host_of(url_col).alias("src_host"), F.explode(links_col).alias("l")
    )
    if respect_nofollow:
        ex = ex.where(~F.coalesce(F.col("l.is_nofollow"), F.lit(False)))
    lurl = F.col("l.url")
    dst = F.when(
        lurl.rlike(URL_SCHEME_RE), _host_of(lurl)
    ).otherwise(F.col("src_host"))
    pairs = ex.select("src_host", dst.alias("dst_host")).where(
        F.col("dst_host") != ""
    )
    if cross_host_only:
        pairs = pairs.where(F.col("src_host") != F.col("dst_host"))
    return pairs.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("long").alias("weight")
    )


def anchor_text_agg(
    links: DataFrame,
    src_url_col: str = "src_url",
    dst_url_col: str = "dst_url",
    anchor_col: str = "anchor_text",
    cross_host_only: bool = True,
) -> DataFrame:
    """Inlink anchor-text aggregation per target host — the classic web
    quality prior (a host referenced by many OTHER hosts, with real anchor
    text, is prior-good; link farms show few distinct source hosts and
    empty/boilerplate anchors). Input is a link table as produced by the
    extraction pipeline's link stage (reference links.go collects href +
    anchor text per page; this is its corpus-level rollup). Per dst_host:

      n_inlinks       — inlink count (cross-host only by default:
                        intra-host links are navigation, not endorsement)
      n_src_hosts     — distinct referring hosts (endorsement breadth)
      anchor_bytes    — total UTF-8 BYTE length of anchor text (byte
                        semantics per the reference's Go len() convention)
      n_empty_anchors — links whose anchor is NULL/whitespace-only

    100 TB plan: one hash-aggregate keyed by dst_host. Count/sum are
    algebraic, so the popular-host skew (google.com-scale inlink counts)
    is absorbed by map-side partial aggregation — each task emits one row
    per distinct dst_host regardless of how many inlinks it scanned. The
    distinct-source count rewrites to a two-phase (dst_host, src_host)
    partial aggregate, bounded by distinct host PAIRS, not by links. Zero
    Python, zero joins, no broadcast."""
    df = links.select(
        _host_of(src_url_col).alias("src_host"),
        _host_of(dst_url_col).alias("dst_host"),
        F.coalesce(F.col(anchor_col), F.lit("")).alias("__anchor"),
    )
    if cross_host_only:
        df = df.where(F.col("src_host") != F.col("dst_host"))
    return df.groupBy("dst_host").agg(
        F.count(F.lit(1)).cast("long").alias("n_inlinks"),
        F.countDistinct("src_host").cast("long").alias("n_src_hosts"),
        F.sum(F.octet_length("__anchor")).cast("long").alias("anchor_bytes"),
        F.sum((F.trim(F.col("__anchor")) == "").cast("long"))
        .cast("long")
        .alias("n_empty_anchors"),
    )


def host_template_lines(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    host_col: str | None = None,
    min_docs: int = 3,
    min_frac: float = 0.5,
) -> DataFrame:
    """Per-host template-line removal — intra-site boilerplate that the
    per-DOCUMENT scorer cannot see (RefinedWeb/Dolma-style corpus pass):
    a line occurring byte-identically in >= min_frac of a host's documents
    (and in >= min_docs of them, so tiny hosts don't degenerate) is site
    template (nav, cookie banner, footer) and is removed from EVERY
    document of that host. Complements the in-document DOM boilerplate
    strip (scorer.py) and the global paragraph dedup (dedup_paragraphs,
    which keeps ONE copy — template lines must keep ZERO).

    Lines are exact newline-split byte strings; empty lines are never
    template candidates (blank separators stay). A line repeated within
    one document counts that document once, but removal strips all copies.
    min_frac is compared as count >= min_frac * host_docs in double — use
    dyadic fractions (0.5, 0.25) when cross-engine parity matters.

    Returns one row per input doc: doc_id, cleaned_text, n_lines,
    n_removed.

    100 TB plan: the counting side shuffles (host, line) pairs — keys are
    line text, uniform; the distinct-doc count is a two-phase partial
    aggregate. The template table collapses to ONE small array row per
    host (template lines are frequent by definition, so few), and the
    cleaning side is a host-keyed join against it (AQE broadcasts it at
    real scale) followed by a scan-side array filter — the corpus text is
    never re-shuffled. Zero Python."""
    host = F.col(host_col) if host_col else _host_of(url_col)
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        host.alias("__host"),
        F.split(F.col(text_col), "\n").alias("__lines"),
    )
    ex = base.select(
        "doc_id", "__host", F.explode("__lines").alias("__line")
    ).where(F.col("__line") != "")
    freq = ex.groupBy("__host", "__line").agg(
        F.countDistinct("doc_id").alias("__c")
    )
    hd = base.groupBy("__host").agg(F.count(F.lit(1)).alias("__n"))
    tmpl = (
        freq.join(hd, "__host")
        .where(
            (F.col("__c") >= min_docs)
            & (F.col("__c") >= F.lit(float(min_frac)) * F.col("__n"))
        )
        .groupBy("__host")
        .agg(F.collect_set("__line").alias("__tmpl"))
    )
    cleaned = F.filter(
        F.col("__lines"),
        lambda l: ~F.coalesce(F.array_contains(F.col("__tmpl"), l), F.lit(False)),
    )
    return (
        base.join(tmpl, "__host", "left")
        .select(
            "doc_id",
            F.array_join(cleaned, "\n").alias("cleaned_text"),
            F.size("__lines").cast("long").alias("n_lines"),
            (F.size("__lines") - F.size(cleaned)).cast("long").alias("n_removed"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Crawl snapshot diff — the incremental-pipeline primitive: given two
    crawl snapshots of (url, warc_ts, text), classify every canonical URL
    as added / removed / changed / unchanged so downstream stages
    (extraction, dedup, index refresh) touch only the delta instead of
    re-processing the full corpus. Each side is first collapsed to its
    latest capture per canonical URL (same rule as latest_capture: max
    ts, ties to smallest id), then compared by content digest.

    Returns one row per canonical URL seen in either snapshot:
    canonical_url, status, old_doc_id, new_doc_id (NULL on the absent
    side).

    100 TB plan: one hash-aggregate per side keyed by canonical URL
    (uniform after canonicalization, max_by partial-aggs map-side) and
    ONE full-outer join on the same key — Catalyst aligns the join with
    the aggregate partitioning so the second shuffle is avoided per
    side. Only (url, digest, id) rows move; document text never
    shuffles. Zero Python."""
    def _snap(df):
        return (
            df.select(
                canonical_url_col(url_col).alias("canonical_url"),
                F.col(ts_col).alias("__ts"),
                F.col(id_col).cast("long").alias("__id"),
                F.md5(F.col(text_col)).alias("__h"),
            )
            .groupBy("canonical_url")
            .agg(
                F.max_by(
                    F.struct(F.col("__id").alias("i"), F.col("__h").alias("h")),
                    F.struct(F.col("__ts"), (-F.col("__id")).alias("tb")),
                ).alias("__kept")
            )
            .select(
                "canonical_url",
                F.col("__kept.i").alias("doc_id"),
                F.col("__kept.h").alias("h"),
            )
        )

    o = _snap(old).alias("o")
    n = _snap(new).alias("n")
    return o.join(n, "canonical_url", "full_outer").select(
        "canonical_url",
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .when(F.col("o.h") != F.col("n.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        F.col("o.doc_id").alias("old_doc_id"),
        F.col("n.doc_id").alias("new_doc_id"),
    )


def meta_robots(
    pages: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    head_bytes: int = 65536,
) -> DataFrame:
    """Meta-robots compliance pre-filter over RAW page bytes — the
    standard crawl-pipeline step that drops noindex pages before any
    expensive extraction runs. Scans the first head_bytes of the page
    (meta robots must live in <head>; a tag beyond 64 KB is pathological
    and deliberately out of contract) with one case-insensitive regex
    pass, tolerating attribute-order flips (content before name),
    single/double/unquoted values, and the 'none' shorthand
    (== noindex,nofollow). The name match is exact-token ('robots', not
    'robotsish'). This is a PRE-filter by design: it reads raw bytes so
    it can run scan-side on the binary column before parse; the DOM
    pipeline still sees the tag via its normal parse for anything
    needing full fidelity.

    Directives union across ALL robots meta tags (real CMSes emit e.g.
    one noindex tag and one nofollow tag; crawlers OR them together —
    a single-tag scan under-reports). robots_content joins the tags'
    content values with ',' in document order.

    Returns id_col, robots_content (NULL when no robots tag),
    noindex/nofollow booleans, keep = NOT noindex.

    100 TB plan: pure Catalyst regexp on a bounded prefix — zero
    shuffle, zero Python, pushes the cheapest possible drop to the
    scan."""
    head = F.substring(F.col(html_col).cast("string"), 1, head_bytes)
    tags = F.regexp_extract_all(
        head,
        F.lit(
            r"(?i)<meta\b[^>]*\bname\s*=\s*(?:\"robots\"|'robots'|robots(?=[\s/>]))[^>]*>"
        ),
        0,
    )

    def _content(t):
        cq = F.regexp_extract(t, "(?i)\\bcontent\\s*=\\s*[\"']([^\"']*)[\"']", 1)
        cu = F.regexp_extract(t, "(?i)\\bcontent\\s*=\\s*([^\\s\"'>]+)", 1)
        return F.lower(F.when(cq != "", cq).otherwise(cu))

    contents = F.transform(tags, _content)
    content = F.array_join(contents, ",")
    dirs = F.flatten(
        F.transform(contents, lambda c: F.transform(F.split(c, ","), lambda x: F.trim(x)))
    )

    def has(v):
        return F.exists(dirs, lambda x: x == v)

    present = F.size(tags) > 0
    noindex = present & (has("noindex") | has("none"))
    nofollow = present & (has("nofollow") | has("none"))
    return pages.select(
        F.col(id_col).cast("long").alias(id_col),
        F.when(present, content).alias("robots_content"),
        noindex.alias("noindex"),
        nofollow.alias("nofollow"),
        (~noindex).alias("keep"),
    )


def _xml_unescape(col):
    """Undo the five predefined XML entities (the escaping the sitemap
    protocol REQUIRES for loc values — sitemaps.org/protocol.html
    'Entity escaping'). &amp; last, so '&amp;lt;' round-trips to '&lt;'
    and not '<' (standard unescape ordering)."""
    out = col
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&apos;", "'"), ("&amp;", "&"),
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


#: sitemaps.org limits: <= 50,000 entries and <= 50 MB uncompressed per
#: sitemap file; a <loc> must be < 2,048 characters.
SITEMAP_MAX_ENTRIES = 50000
SITEMAP_MAX_BYTES = 50 * 1024 * 1024
SITEMAP_LOC_MAX_CHARS = 2048


def sitemap_entries(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    same_host_only: bool = True,
    max_entries: int = SITEMAP_MAX_ENTRIES,
    max_bytes: int = SITEMAP_MAX_BYTES,
) -> DataFrame:
    """Parse sitemap XML captures (sitemaps.org protocol) out of a pages
    table into crawl-frontier entries — the discovery step between
    robots.txt compliance and fetch scheduling: a <urlset> yields
    kind='url' rows (the site's own listing of crawlable URLs, with
    optional <lastmod> for recrawl prioritization) and a <sitemapindex>
    yields kind='sitemap' rows (sub-sitemaps to fetch next). Non-sitemap
    captures yield nothing, so the input can be the raw pages table.

    Protocol rules enforced: the five predefined XML entities are
    unescaped in <loc>; entries past the spec's 50,000-per-file cap and
    bytes past 50 MB are ignored (array slice / bounded substring —
    caps are the spec's own, not silent); a <loc> of >= 2,048 chars is
    dropped; and with same_host_only (the spec's cross-submission
    default — a sitemap may only list URLs of its own host unless
    robots.txt cross-submits) entries whose host differs from the
    sitemap capture's host are dropped, using the shared URL grammar
    (_host_of) on both sides.

    Returns (host, sitemap_url, kind, loc, lastmod). 100 TB plan: pure
    Catalyst regexp over a bounded prefix of the binary column +
    explode — zero Python, zero shuffle; the frontier anti-join
    downstream is the only exchange."""
    body = F.substring(F.col(html_col).cast("string"), 1, max_bytes)

    def block_entries(container_re, block_re):
        blocks = F.slice(
            F.regexp_extract_all(body, F.lit(block_re), 0), 1, max_entries
        )
        ent = F.transform(
            blocks,
            lambda b: F.struct(
                _xml_unescape(
                    F.regexp_extract(b, r"(?is)<loc\s*>\s*(.*?)\s*</loc>", 1)
                ).alias("loc"),
                F.nullif(
                    F.regexp_extract(
                        b, r"(?is)<lastmod\s*>\s*(.*?)\s*</lastmod>", 1
                    ),
                    F.lit(""),
                ).alias("lastmod"),
            ),
        )
        return F.when(body.rlike(container_re), ent)

    entries = F.coalesce(
        block_entries(
            r"(?is)<\s*sitemapindex[\s>]",
            r"(?is)<sitemap[\s>].*?</sitemap\s*>",
        ),
        block_entries(r"(?is)<\s*urlset[\s>]", r"(?is)<url[\s>].*?</url\s*>"),
    )
    kind = F.when(
        body.rlike(r"(?is)<\s*sitemapindex[\s>]"), F.lit("sitemap")
    ).otherwise(F.lit("url"))
    out = (
        pages.select(
            _host_of(url_col).alias("host"),
            F.col(url_col).alias("sitemap_url"),
            kind.alias("kind"),
            F.explode(entries).alias("e"),
        )
        .select(
            "host", "sitemap_url", "kind",
            F.col("e.loc").alias("loc"),
            F.col("e.lastmod").alias("lastmod"),
        )
        .where(
            (F.col("loc") != "")
            & (F.length("loc") < SITEMAP_LOC_MAX_CHARS)
        )
    )
    if same_host_only:
        out = out.where(_host_of(F.col("loc")) == F.col("host"))
    return out


def sitemap_urls_from_robots(
    robots: DataFrame, host_col: str = "host", robots_col: str = "robots_txt"
) -> DataFrame:
    """Sitemap discovery from robots.txt captures: the `Sitemap:` field
    (sitemaps.org 'Sitemap location' / RFC 9309 §2.2.4 other records —
    group-independent, so it matches ANYWHERE in the file,
    case-insensitive key, absolute URL value). Input is the per-host
    robots table robots_table_from_pages builds; output (host,
    sitemap_url) seeds the sitemap fetch list. Zero Python, zero
    shuffle."""
    urls = F.regexp_extract_all(
        F.col(robots_col), F.lit(r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)"), 1
    )
    return robots.select(
        F.col(host_col).alias("host"), F.explode(urls).alias("sitemap_url")
    )


def sitemap_frontier(
    entries: DataFrame, pages: DataFrame, url_col: str = "url"
) -> DataFrame:
    """The uncrawled frontier: sitemap-listed page URLs (kind='url')
    not yet captured in the pages table — what a recrawl scheduler
    fetches next. One distinct + one left-anti join on url (uniform
    key); lastmod rides along (max per url when sitemaps disagree)."""
    listed = (
        entries.where(F.col("kind") == "url")
        .groupBy(F.col("loc").alias("url"))
        .agg(F.max("lastmod").alias("lastmod"))
    )
    return listed.join(
        pages.select(F.col(url_col).alias("url")).distinct(), "url", "left_anti"
    )


def _char_trigrams(docs: DataFrame, text_col: str, id_col: str | None):
    """(__id?, __t) exploded character trigrams — shared by training
    and scoring so both sides tokenize identically by construction."""
    t = F.col(text_col)
    cols = ([F.col(id_col).cast("long").alias("__id")] if id_col else []) + [
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - 2),
                lambda i: t.substr(i, F.lit(3)),
            )
        ).alias("__t")
    ]
    return docs.where(F.length(t) >= 3).select(*cols)


def train_char_trigram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Train the character-trigram reference model on a corpus slice:
    one (trigram, count) row per distinct trigram. Write it once and
    score every later batch against it (char_trigram_perplexity's
    `model=`) — the CCNet shape, where the LM is a FIXED reference
    artifact, not retrained per scoring run. One uniform-key hash-agg
    with map-side combine; ~1e6-1e7 rows at web scale."""
    return (
        _char_trigrams(docs, text_col, None)
        .groupBy(F.col("__t").alias("trigram"))
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
    )


def char_trigram_perplexity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    model: DataFrame | None = None,
) -> DataFrame:
    """Corpus-self-perplexity quality scoring — the third CCNet pillar
    (Wenzek 2020 §4.3 scores documents with a pre-trained KenLM 5-gram
    and head/middle/tail-partitions the corpus by perplexity; this is
    the self-contained variant: train an add-one-smoothed CHARACTER
    trigram model on the corpus itself, score each document's mean
    bits-per-trigram under it). High bits = text atypical for the
    corpus — garbled bytes, wrong-language fragments, symbol soup —
    exactly what the perplexity tail catches in real pipelines; a
    character model needs no tokenizer or external LM file.

        P(t) = (count(t) + 1) / (N + V)      (add-one over seen vocab)
        tri_bits(doc) = round(mean(-log2 P(t)), 2)

    Docs shorter than 3 chars score NULL (no trigrams).

    100 TB plan: three uniform-key shuffles — trigram count (hash-agg,
    map-side combine), score join keyed by trigram (the model is one
    row per DISTINCT trigram, ~1e6-1e7 at web scale — AQE broadcasts
    when it fits), per-doc mean (doc_id-keyed). N and V are scalar
    broadcast aggregates. Zero Python. Cross-engine parity: the
    2dp round sits ~1e9 float-sum-noise-widths from any boundary and
    log2 of a rational is never exactly on one.

    `model` (r8): score against a PRE-TRAINED (trigram, count) table
    (train_char_trigram output, typically loaded from parquet) instead
    of retraining on the scoring batch — the CCNet train-once /
    score-many shape. Trigrams unseen by the model take the add-one
    floor P = 1/(N+V) (left join, count coalesced to 0); with
    model=None (self-scoring) every trigram is seen and the left join
    degenerates to the original inner-join semantics, so oracle parity
    is unchanged by construction."""
    tri = _char_trigrams(docs, text_col, id_col)
    if model is None:
        m = tri.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    else:
        m = model.select(
            F.col("trigram").alias("__t"), F.col("count").alias("__c")
        )
    scal = F.broadcast(
        m.agg(
            F.sum("__c").cast("double").alias("__n"),
            F.count(F.lit(1)).cast("double").alias("__v"),
        )
    )
    scored = (
        tri.join(m, "__t", "left")
        .crossJoin(scal)
        .select(
            "__id",
            (
                -F.log2(
                    (F.coalesce(F.col("__c"), F.lit(0)) + 1.0)
                    / (F.col("__n") + F.col("__v"))
                )
            ).alias("__bits"),
        )
        .groupBy("__id")
        .agg(F.round(F.avg("__bits"), 2).cast("double").alias("tri_bits"))
    )
    return docs.select(F.col(id_col).cast("long").alias(id_col)).join(
        scored.withColumnRenamed("__id", id_col), id_col, "left"
    )


def _window_key(text_expr, hash_basis: str):
    """Hashable key for one W-token window string. xxhash64 (JVM, 64-bit)
    is the production default; md5 exists so the DuckDB oracle can
    reproduce keys exactly (same dual-basis convention as minhash)."""
    if hash_basis == "xxhash64":
        return F.xxhash64(text_expr)
    if hash_basis == "md5":
        return F.md5(text_expr)
    raise ValueError(f"hash_basis must be 'xxhash64' or 'md5', got {hash_basis!r}")


def _span_windows(
    documents: DataFrame, w: int, hash_basis: str
) -> DataFrame:
    """(doc_id, toks) -> exploded (doc_id, pos, wkey) sliding-window rows
    shared by dedup_spans and span_window_stats (byte-identical subtrees
    so ReusedExchange can merge their shuffles when both run in one
    plan)."""
    toks = F.split(F.col("text"), " ")
    d = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), toks.alias("toks")
    )
    starts = F.when(
        F.size("toks") >= w, F.sequence(F.lit(0), F.size("toks") - w)
    ).otherwise(F.array().cast("array<int>"))
    return d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                starts,
                lambda i: _window_key(
                    F.concat_ws(" ", F.slice("toks", i + 1, w)), hash_basis
                ),
            )
        ).alias("pos", "wkey"),
    )


def dedup_spans(
    documents: DataFrame,
    w: int = 15,
    hash_basis: str = "xxhash64",
    max_occurrences: int | None = None,
) -> DataFrame:
    """Cross-document EXACT SUBSTRING dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): remove every duplicated
    run of >= w tokens, keeping only its globally-first occurrence —
    the span-level complement to doc-level dedup_exact (whole text equal)
    and paragraph-level dedup_paragraphs (newline units). The reference
    has no analytics engine (its scope ends at per-document extraction,
    reference extractor.go:1-60); this is the corpus-curation layer a
    training pipeline runs downstream.

    The published implementation builds a corpus-wide suffix array — a
    global sort no Spark cluster should attempt. The Spark-first shape
    replaces it with hashed sliding windows, which finds exactly the same
    duplicated-span set for spans >= w tokens (every length-w window of a
    duplicated run collides; merged, they reconstruct the maximal span):

      1. scan-side: tokenize, hash all n-w+1 overlapping w-token windows
         (posexplode — linear volume, ~n_tokens rows/doc, map-only);
      2. ONE shuffle keyed by window hash: min(struct(doc_id, pos)) marks
         the survivor per distinct window (partial agg map-side, so a
         boilerplate window repeated in every document combines before
         the shuffle — no hot-key blowup);
      3. non-survivor occurrences shuffle back to doc_id (uniform keys)
         where gaps-and-islands (running max of pos+w) merges overlapping
         windows into maximal removed spans;
      4. cleaned text is rebuilt JVM-side: filter each token array against
         the (small) merged-interval list, re-join on ' '.

    Everything is Catalyst (zero Python rows); per-token work in step 4 is
    O(n_tokens x n_islands) per document, bounded because islands are
    merged maximal spans. Returns one row per input document:
    (doc_id, n_windows, n_dup_windows, tokens_removed, cleaned_text).
    Documents shorter than w tokens pass through untouched (cleaned_text
    = canonical single-space re-join, same as any no-dup document).

    max_occurrences is the hot-key cap (the span twin of
    minhash_lsh_candidates' max_bucket_size): step 2's groupBy absorbs a
    boilerplate window repeated in 10^8 documents via map-side combine,
    but the step-3 back-join would still drag every one of those
    occurrences through the wkey join and on into the doc_id shuffle.
    Windows occurring more than max_occurrences times are dropped from
    the survivor table BEFORE the back-join (inner join -> their
    occurrences never re-shuffle) and are NOT treated as duplicate spans
    — at that frequency they are corpus template text, which is
    host_template_lines' job to strip, not span dedup's. None disables
    the cap (exact Lee-2022 semantics). Use span_window_stats for the
    'no silent caps' report of what a cap would drop. To run several cap
    policies over one corpus (an uncapped oracle next to the production
    cap, or a cap ablation) use dedup_spans_variants — ONE window pass
    for all of them."""
    out = dedup_spans_variants(
        documents, w=w, hash_basis=hash_basis, caps={"": max_occurrences}
    )
    return out.drop("variant")


def dedup_spans_variants(
    documents: DataFrame,
    w: int = 15,
    hash_basis: str = "xxhash64",
    caps: dict | None = None,
) -> DataFrame:
    """dedup_spans under SEVERAL hot-key-cap policies in ONE pass:
    `caps` maps variant name -> max_occurrences (None = uncapped). The
    expensive work — window hashing (posexplode over every token), the
    wkey survivor aggregate, the wkey back-join — runs ONCE; each dup
    occurrence then fans out to the variants whose cap admits its window
    (a scan-side literal-array filter+explode, no extra shuffle of the
    corpus), and the gaps-and-islands merge + text rebuild run per
    (variant, doc_id). Running k cap policies as separate dedup_spans
    calls costs k full window passes (Catalyst does not reuse the
    exchanges across the union's branches — measured r7: the driver's
    span+spancap union executed SIX posexplode chains); this shape pays
    ~1 + k·epsilon. Returns one row per (variant, document):
    (variant, doc_id, n_windows, n_dup_windows, tokens_removed,
    cleaned_text)."""
    caps = caps if caps is not None else {"": None}
    d = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.col("text"), " ").alias("toks"),
    )
    wins = _span_windows(documents, w, hash_basis)
    firsts = wins.groupBy("wkey").agg(
        F.min(F.struct("doc_id", "pos")).alias("first"),
        F.count(F.lit(1)).alias("__occ"),
    )
    # When EVERY variant is capped, windows over the loosest cap can be
    # dropped from the survivor table BEFORE the back-join: the inner
    # join then never re-shuffles a boilerplate window's 10^8
    # occurrences (the hot-key motivation of the cap). With any
    # uncapped variant in the mix the filter must wait until after the
    # join (per-variant, below) — those occurrences are genuine dup
    # spans for the uncapped variant.
    if all(cap is not None for cap in caps.values()):
        firsts = firsts.where(F.col("__occ") <= max(caps.values()))
    # cap = -1 encodes "uncapped" inside the literal struct array (Spark
    # literals can't be NULL-typed per-field here); occurrence counts are
    # >= 1 so -1 never collides with a real cap
    vlist = F.array(
        *[
            F.struct(
                F.lit(name).alias("v"),
                F.lit(-1 if cap is None else int(cap)).alias("cap"),
            )
            for name, cap in caps.items()
        ]
    )
    dups = (
        wins.join(firsts, "wkey")
        .where(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select(
            "doc_id",
            "pos",
            F.explode(
                F.filter(
                    vlist,
                    lambda s: (s["cap"] < 0) | (F.col("__occ") <= s["cap"]),
                )
            ).alias("vs"),
        )
        .select(F.col("vs.v").alias("variant"), "doc_id", "pos")
    )
    # gaps-and-islands: a new island starts when this window begins past
    # every previous window's end (all windows have length w)
    wspec = Window.partitionBy("variant", "doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + w).over(
        wspec.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dups.select(
        "variant",
        "doc_id",
        "pos",
        F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    islands = (
        flagged.withColumn("island_id", F.sum("new_island").over(wspec))
        .groupBy("variant", "doc_id", "island_id")
        .agg(
            F.min("pos").cast("long").alias("s"),
            (F.max("pos") + w).cast("long").alias("e"),
            F.count("*").alias("nw"),
        )
    )
    per_doc = islands.groupBy("variant", "doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("rm"),
        F.sum("nw").cast("long").alias("n_dup_windows"),
    )
    base = d.select(
        "doc_id",
        "toks",
        F.explode(F.transform(vlist, lambda s: s["v"])).alias("variant"),
    )
    joined = base.join(per_doc, ["variant", "doc_id"], "left")
    # single-SQL-string tail (r10): the nested transform/filter/exists/
    # aggregate lambdas cost ~150 py4j round trips of pure driver build
    # latency per call; the expression tree is equivalent (same lambdas,
    # same casts) and the shared survivor-aggregate subtree BELOW this
    # projection — the exchange-reuse key with span_window_stats — is
    # untouched
    rm_sql = "coalesce(rm, CAST(array() AS array<struct<s:bigint,e:bigint>>))"
    kept_sql = (
        "filter(transform(toks, (t, i) -> struct(t AS t, CAST(i AS BIGINT) AS i)), "
        f"s -> NOT exists({rm_sql}, r -> r.s <= s.i AND s.i < r.e))"
    )
    return joined.selectExpr(
        "variant",
        "doc_id",
        f"CAST(greatest(size(toks) - {w} + 1, 0) AS BIGINT) AS n_windows",
        "CAST(coalesce(n_dup_windows, 0) AS BIGINT) AS n_dup_windows",
        f"aggregate({rm_sql}, CAST(0 AS BIGINT), (acc, r) -> acc + (r.e - r.s)) "
        "AS tokens_removed",
        f"concat_ws(' ', transform({kept_sql}, s -> s.t)) AS cleaned_text",
    )


def span_window_stats(
    documents: DataFrame,
    w: int = 15,
    max_occurrences: int | None = None,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Window-occurrence distribution + what a dedup_spans hot-key cap
    drops — the 'no silent caps' companion, mirroring lsh_bucket_stats.
    One row: (n_distinct_windows, max_window_occurrences, capped_wkeys,
    capped_occurrences); the capped_* columns are 0 when max_occurrences
    is None.

    The per-wkey aggregate below is deliberately IDENTICAL to
    dedup_spans_variants' survivor aggregate (min(struct) + count, in
    that order) even though stats only needs the count: exchange reuse
    keys on the canonicalized subtree, and partial aggregation runs
    map-side BEFORE the exchange, so a count-only aggregate here would
    ship different buffers and recompute the whole posexplode window
    chain when a plan runs both (measured r8 at sf0.1: the driver's
    span+spancap+spanstats union dropped 6.0 -> 4.5 s once aligned —
    the stats pass became a reused stage instead of a second scan)."""
    counts = (
        _span_windows(documents, w, hash_basis)
        .groupBy("wkey")
        .agg(
            F.min(F.struct("doc_id", "pos")).alias("first"),
            F.count(F.lit(1)).alias("occ"),
        )
    )
    over = (
        (F.col("occ") > max_occurrences)
        if max_occurrences is not None
        else F.lit(False)
    )
    # F.sum over ZERO rows is NULL, not 0 — on an empty corpus the NULLs
    # would silently vanish inside Spark's concat_ws while DuckDB's '||'
    # propagates NULL, a latent cross-engine divergence (r7 ADVICE).
    return counts.agg(
        F.count("*").cast("long").alias("n_distinct_windows"),
        F.coalesce(F.max("occ"), F.lit(0)).cast("long").alias(
            "max_window_occurrences"
        ),
        F.coalesce(F.sum(F.when(over, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("capped_wkeys"),
        F.coalesce(F.sum(F.when(over, F.col("occ")).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("capped_occurrences"),
    )


def shingles_col(text_col: str = "text", k: int = 3):
    """k-word shingles as an array<string> column (pure SQL, no Python)."""
    return F.expr(
        f"CASE WHEN size(split({text_col}, ' ')) < {k} THEN array({text_col}) "
        f"ELSE transform(sequence(1, size(split({text_col}, ' ')) - {k - 1}), "
        f"i -> concat_ws(' ', slice(split({text_col}, ' '), i, {k}))) END"
    )


# MinHash spec (engine-defined): one base hash per shingle reduced mod the
# Mersenne prime P=2^31-1, then num_hashes draws from the classic universal
# family sig[j] = min over shingles of (a_j * h + b_j) mod P, with a_j/b_j
# md5-derived constants (a_j forced odd).
#
# TWO base-hash modes (hash_basis param), same family on top:
#   "xxhash64" (production default): Spark's native 64-bit hash — pure JVM
#     integer work, several× cheaper per shingle than md5 at 100 TB.
#   "md5" (oracle mode): DuckDB computes identical md5, so signatures, band
#     hashes and the candidate-pair join are fully oracle-checkable across
#     engines — the driver-gate queries run this mode.
# Candidate-set equivalence between the two bases on the test corpus is
# pinned by tests/test_hash_basis.py.
MINHASH_PRIME = 2147483647


def _minhash_base_expr(hash_basis: str) -> str:
    """Per-shingle base hash (SQL lambda body over `__shingles`)."""
    if hash_basis == "xxhash64":
        return f"transform(__shingles, s -> pmod(xxhash64(s), {MINHASH_PRIME}))"
    if hash_basis == "md5":
        return (
            f"transform(__shingles, s -> CAST(conv(substr(md5(s), 1, 15), 16, 10) "
            f"AS BIGINT) % {MINHASH_PRIME})"
        )
    raise ValueError(f"hash_basis must be 'xxhash64' or 'md5', got {hash_basis!r}")


def minhash_params(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_j, b_j) constants for the universal hash family —
    derived from md5 of a fixed tag, so any engine (or the DuckDB oracle
    generator) reproduces them from the spec alone."""
    import hashlib

    def const(tag: str, j: int, odd: bool) -> int:
        v = int(hashlib.md5(f"htmlx-minhash-{tag}-{j}".encode()).hexdigest()[:7], 16)
        v %= MINHASH_PRIME
        return (v | 1) if odd else v

    return (
        [const("a", j, odd=True) for j in range(num_hashes)],
        [const("b", j, odd=False) for j in range(num_hashes)],
    )


def minhash_signatures(
    documents: DataFrame,
    num_hashes: int = 32,
    shingle_k: int = 3,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures, all JVM-side with zero shuffles. Tokenization,
    shingles and the per-shingle base hash are staged as separate
    projections so each is computed once per row, not once per hash
    function (Catalyst does not CSE across the per-hash lambdas) — the 32
    draws are then pure integer arithmetic over the staged hash array."""
    k = shingle_k
    a, b = minhash_params(num_hashes)
    tokens = F.split(F.col("text"), " ")
    sh = F.expr(
        f"CASE WHEN size(__tokens) < {k} THEN array(text) "
        f"ELSE transform(sequence(1, size(__tokens) - {k - 1}), "
        f"i -> concat_ws(' ', slice(__tokens, i, {k}))) END"
    )
    base = F.expr(_minhash_base_expr(hash_basis))
    # ONE SQL expression for all draws (r10): the per-draw F.array_min /
    # F.expr construction cost ~70 py4j round trips per basis of pure
    # driver latency at build time; the generated tree is identical
    sig = F.expr(
        "array("
        + ",".join(
            f"array_min(transform(__hm, h -> ({a[j]} * h + {b[j]}) % {MINHASH_PRIME}))"
            for j in range(num_hashes)
        )
        + ")"
    )
    return (
        spread_small_input(documents)
        .withColumn("__tokens", tokens)
        .withColumn("__shingles", sh)
        .withColumn("__hm", base)
        .withColumn("minhash_sig", sig)
        .drop("__tokens", "__shingles", "__hm")
    )


def minhash_lsh_candidates(
    documents: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket_size: int | None = 1024,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """LSH banding: split each signature into `bands` bands of
    num_hashes/bands rows, hash each band, shuffle by (band, hash), and emit
    candidate near-duplicate pairs that collide in any band (deduped).

    max_bucket_size caps the per-(band_id, band_hash) bucket: a mega-bucket
    of k near-identical docs (boilerplate-only pages surviving exact dedup)
    would emit k²/2 pairs; buckets over the cap are dropped from pair
    expansion (the docs inside remain candidates through their other,
    smaller buckets). None disables the cap. Use lsh_bucket_stats to count
    dropped buckets for a run report."""
    banded = _lsh_banded(documents, num_hashes, bands, shingle_k, hash_basis)
    if max_bucket_size is not None:
        # Window-count cap, NOT a separate agg + anti-join: keeping both
        # self-join inputs byte-identical subtrees lets Spark's
        # ReuseExchange kick in, so the (expensive) signatures are computed
        # and shuffled ONCE — an anti-join variant recomputed them ~4x.
        w = Window.partitionBy("band_id", "band_hash")
        banded = (
            banded.withColumn("__bn", F.count(F.lit(1)).over(w))
            .where(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").cast("long").alias("doc_a"),
            F.col("b.doc_id").cast("long").alias("doc_b"),
        )
        .distinct()
    )
    return pairs


def minhash_lsh_candidates_variants(
    documents: DataFrame,
    variants: dict,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """minhash_lsh_candidates under SEVERAL (hash_basis, max_bucket_size)
    policies in ONE pass: `variants` maps name -> (hash_basis,
    max_bucket_size | None). Returns (variant, doc_a, doc_b).

    The dedup_spans_variants lesson applied to LSH: Catalyst does not
    reuse exchanges across union branches, so k separate candidate calls
    pay k signature scans and k bucket shuffles. Here variants SHARING a
    hash basis share one signature scan and one (band, hash) window
    count, then fan out to their caps scan-side (literal-array
    filter+explode — cap admission is a per-row predicate on the bucket
    count, exactly the span-cap shape); the variant key rides the
    self-join so each variant's pair set stays exact. Only genuinely
    different bases pay a second signature scan (inherent — the
    signatures differ), and even those stay map-side until their own
    single bucket shuffle."""
    by_basis: dict = {}
    for name, (basis, cap) in variants.items():
        by_basis.setdefault(basis, {})[name] = cap
    parts = []
    for basis, caps in by_basis.items():
        banded = _lsh_banded(documents, num_hashes, bands, shingle_k, basis)
        w = Window.partitionBy("band_id", "band_hash")
        counted = banded.withColumn("__bn", F.count(F.lit(1)).over(w))
        vlist = F.array(
            *[
                F.struct(
                    F.lit(n).alias("v"),
                    F.lit(-1 if c is None else int(c)).alias("cap"),
                )
                for n, c in caps.items()
            ]
        )
        tagged = counted.select(
            "doc_id",
            "band_id",
            "band_hash",
            F.explode(
                F.filter(
                    vlist,
                    lambda s: (s["cap"] < 0) | (F.col("__bn") <= s["cap"]),
                )
            ).alias("vs"),
        ).select(F.col("vs.v").alias("variant"), "doc_id", "band_id", "band_hash")
        # identical subtrees on both join sides -> ReuseExchange: the
        # windowed+exploded bucket set shuffles ONCE per basis
        pairs = (
            tagged.alias("a")
            .join(
                tagged.alias("b"),
                on=[
                    F.col("a.variant") == F.col("b.variant"),
                    F.col("a.band_id") == F.col("b.band_id"),
                    F.col("a.band_hash") == F.col("b.band_hash"),
                    F.col("a.doc_id") < F.col("b.doc_id"),
                ],
            )
            .select(
                F.col("a.variant").alias("variant"),
                F.col("a.doc_id").cast("long").alias("doc_a"),
                F.col("b.doc_id").cast("long").alias("doc_b"),
            )
            .distinct()
        )
        parts.append(pairs)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _band_hash_expr(b: int, rows: int, hash_basis: str) -> str:
    """Per-band bucket key over a signature slice — a cheap bigint shuffle
    key. xxhash64 hashes the int array directly (no string building); the
    md5 form goes through a canonical comma-joined string so DuckDB can
    replicate it byte-for-byte."""
    sl = f"slice(minhash_sig, {b * rows + 1}, {rows})"
    if hash_basis == "xxhash64":
        return f"xxhash64({sl})"
    return (
        f"CAST(conv(substr(md5(concat_ws(',', CAST({sl} AS array<string>)"
        ")), 1, 15), 16, 10) AS BIGINT)"
    )


def _lsh_banded(
    documents: DataFrame, num_hashes: int, bands: int, shingle_k: int,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    rows = num_hashes // bands
    with_sig = minhash_signatures(documents, num_hashes, shingle_k, hash_basis).select(
        "doc_id", "minhash_sig"
    )
    # single-expression band array (r10): same tree, ~30 fewer py4j
    # round trips per basis at build time
    band_array = F.expr(
        "array("
        + ",".join(
            f"named_struct('band_id', {b}, "
            f"'band_hash', {_band_hash_expr(b, rows, hash_basis)})"
            for b in range(bands)
        )
        + ")"
    )
    return with_sig.select(
        "doc_id",
        F.explode(band_array).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")


def lsh_bucket_stats(
    documents: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket_size: int = 1024,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Bucket-size distribution + dropped-bucket count for the LSH cap —
    the 'no silent caps' companion to minhash_lsh_candidates."""
    sizes = _lsh_banded(documents, num_hashes, bands, shingle_k, hash_basis).groupBy(
        "band_id", "band_hash"
    ).agg(F.count("*").alias("bucket_size"))
    return sizes.agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.max("bucket_size").cast("long").alias("max_bucket"),
        F.sum(F.when(F.col("bucket_size") > max_bucket_size, 1).otherwise(0))
        .cast("long")
        .alias("dropped_buckets"),
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    candidates: DataFrame,
    shingle_k: int = 3,
    carry_cols: tuple = (),
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (array_intersect/union —
    JVM-side). Join candidates back to shingle sets; at scale the candidate
    set is tiny relative to the corpus, so both joins broadcast-build.
    carry_cols names extra candidate columns (e.g. a policy-variant tag)
    passed through to the output — verifying TAGGED pairs directly saves
    the caller a distinct + re-join round trip (the per-pair jaccard does
    not depend on the tag; the expensive shingle-set joins are the same
    either way)."""
    sets = spread_small_input(documents).select(
        F.col("doc_id"), F.array_distinct(shingles_col("text", shingle_k)).alias("sh")
    )
    return (
        candidates.join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            *carry_cols,
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )


# SimHash spec (engine-defined; no reference counterpart): 60-bit signature,
# one ±1 vote per token OCCURRENCE per bit, bit set iff vote sum > 0.
# Per-token hash by hash_basis:
#   "xxhash64" (production default): xxhash64(token) masked to 60 bits —
#     pure JVM integer work.
#   "md5" (oracle mode): first 15 hex digits of md5(token) as an integer —
#     both Spark and DuckDB compute identical md5, making the signature
#     fully oracle-checkable across engines (the driver query runs this).
SIMHASH_BITS = 60
_SIMHASH_MASK = (1 << SIMHASH_BITS) - 1


def _simhash_token_hashes(hash_basis: str) -> str:
    if hash_basis == "xxhash64":
        return f"transform(split(text, ' '), t -> xxhash64(t) & {_SIMHASH_MASK})"
    if hash_basis == "md5":
        return (
            "transform(split(text, ' '), "
            "t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))"
        )
    raise ValueError(f"hash_basis must be 'xxhash64' or 'md5', got {hash_basis!r}")


def simhash_expr(hash_basis: str = "xxhash64") -> str:
    votes = (
        f"aggregate({_simhash_token_hashes(hash_basis)}, array_repeat(0, {SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}), "
        "(a, b) -> a + (CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)))"
    )
    return (
        f"aggregate(zip_with({votes}, sequence(0, {SIMHASH_BITS - 1}), "
        "(v, b) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


# the md5-basis constant: what the DuckDB oracle replicates (entryqueries)
SIMHASH_EXPR = simhash_expr("md5")


def simhash_docs(documents: DataFrame, hash_basis: str = "xxhash64") -> DataFrame:
    """SimHash signatures, entirely JVM-side (one pass over the token-hash
    array accumulating all 60 bit votes — no Python, no shuffle). Replaces
    the round-1 per-character Python FNV loop (~interpreter-rate) with
    whole-stage-codegen expressions."""
    return spread_small_input(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(simhash_expr(hash_basis)).alias("simhash"),
    )


def embedding_near_dup(
    embeddings: DataFrame, threshold: float = 0.95, num_blocks: int = 8
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs above `threshold`, via
    block-pair decomposition instead of a single cartesian join.

    Every vector is hashed to one of `num_blocks` blocks and replicated to
    the `num_blocks` block-pair tasks it participates in; the self-join is
    then an EQUI-join on the (p, q) task key — each unordered pair of
    vectors meets in exactly one task, so the result is exact while the
    pairwise work is spread evenly over B(B+1)/2 shuffle buckets (no
    BroadcastNestedLoopJoin / CartesianProduct over the full table, no
    single-task hot spot). Shuffle volume is num_blocks × n vectors; pick
    num_blocks ~ sqrt(desired parallelism) at scale.

    All-pairs work is inherent to an EXACT threshold join; for the
    approximate/cheap path at 100 TB, bucket with ivf_assign first and
    join on the IVF bucket id (see ann_topk_ivf), trading recall for
    ~num_centroids× less pair work.

    Ulp-boundary caveat (ADVICE r2): the BLAS matmul here and the DuckDB
    oracle's list_cosine_similarity sum in different orders, so two
    engines can disagree in the last float ulp. The >= threshold predicate
    is therefore input-dependent at exact boundary values; the test corpus
    keeps a ±1.3e-4 gap around the threshold (TESTDATA.md), ~12 orders of
    magnitude wider than the ulp noise, so the driver-gate check is stable
    there. For adversarial inputs, pre-quantize (round both sides before
    comparing) or treat boundary pairs as tied."""
    B = num_blocks
    norm = _normalized(embeddings)
    rep = (
        norm.withColumn("block", F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int"))
        .select(
            "vec_id",
            "nvec",
            "block",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {B - 1}), "
                    "qq -> struct(least(block, qq) AS p, greatest(block, qq) AS q))"
                )
            ).alias("task"),
        )
        .select("vec_id", "nvec", "block", F.col("task.p").alias("p"), F.col("task.q").alias("q"))
    )

    # Per-task pair scoring as a BLAS matmul (applyInPandas): a SQL self-join
    # with a higher-order-function dot product evaluates interpreted
    # per-element — ~6x slower at sf0.1. Semantics identical: within task
    # (p, q), cross-block pairs score A x B^T once; the diagonal task scores
    # its upper triangle.
    thr = float(threshold)

    def score_task(key, pdf):
        import numpy as np
        import pandas as pd

        p, q = key
        M = np.stack(pdf["nvec"].to_numpy())
        ids = pdf["vec_id"].to_numpy()
        if p == q:
            sims = M @ M.T
            iu, ju = np.triu_indices(len(ids), k=1)
            keep = sims[iu, ju] >= thr
            ia, jb = iu[keep], ju[keep]
        else:
            amask = (pdf["block"] == p).to_numpy()
            A, Bm = M[amask], M[~amask]
            aid, bid = ids[amask], ids[~amask]
            if len(aid) == 0 or len(bid) == 0:
                return pd.DataFrame(columns=["vec_a", "vec_b", "cosine"])
            sims = A @ Bm.T
            ia, jb = np.nonzero(sims >= thr)
        rows_a = (ids if p == q else aid)[ia]
        rows_b = (ids if p == q else bid)[jb]
        cos = sims[ia, jb]
        lo = np.minimum(rows_a, rows_b)
        hi = np.maximum(rows_a, rows_b)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": cos})

    return rep.groupBy("p", "q").applyInPandas(
        score_task, "vec_a long, vec_b long, cosine double"
    )


def _normalized(embeddings: DataFrame) -> DataFrame:
    vec_d = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    norm = F.sqrt(F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x))
    embeddings = spread_small_input(embeddings)
    return embeddings.select(
        "vec_id", F.expr(
            "transform(embedding, x -> CAST(x AS DOUBLE) / "
            "sqrt(aggregate(transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, y) -> acc + y)))"
        ).alias("nvec"),
    )


def _dot(a: str, b: str):
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def embedding_near_dup_ivf(
    embeddings: DataFrame, threshold: float = 0.95, num_centroids: int = 8
) -> DataFrame:
    """APPROXIMATE near-dup pairs: IVF-bucket the vectors, score pairs only
    within a bucket (BLAS matmul per bucket). The cheap 100 TB path when
    exact all-pairs (embedding_near_dup) is too expensive: pair work drops
    ~num_centroids-fold; recall is high for tight thresholds (near-dups
    land in the same cell) and is measured in tests/test_ann.py."""
    assigned, _ = ivf_assign(embeddings, num_centroids)
    thr = float(threshold)

    def score_bucket(key, pdf):
        import numpy as np
        import pandas as pd

        M = np.stack(pdf["nvec"].to_numpy())
        ids = pdf["vec_id"].to_numpy()
        sims = M @ M.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= thr
        ia, jb = iu[keep], ju[keep]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ids[ia], ids[jb]),
                "vec_b": np.maximum(ids[ia], ids[jb]),
                "cosine": sims[ia, jb],
            }
        )

    return assigned.groupBy("bucket").applyInPandas(
        score_bucket, "vec_a long, vec_b long, cosine double"
    )


def ivf_assign(
    embeddings: DataFrame,
    num_centroids: int = 8,
    lloyd_iters: int = 1,
    centroids: DataFrame | None = None,
) -> tuple:
    """IVF bucketing: deterministic seed centroids (smallest xxhash64 of
    vec_id — no RNG, reproducible across runs/parallelism) refined with
    `lloyd_iters` Lloyd iterations, then every vector assigned to its
    nearest centroid. Fully lazy/distributed: the bucket mean is computed
    dimension-agnostically (posexplode -> per-(bucket, position) average ->
    positional reassembly), so no driver-side lookup of the embedding
    dimensionality exists anywhere.

    Returns (assigned_df with bucket column, centroids_df). At 100 TB scale
    this replaces the ANN cross join: queries probe nprobe buckets and the
    candidate join keys on bucket id, so the pairwise work shrinks by
    ~num_centroids/nprobe.

    `centroids` (r8): a PRE-TRAINED (centroid_id, cvec) table (this
    function's own second return, typically persisted to parquet) —
    skip seeding and Lloyd entirely and just assign, the FAISS shape
    where the coarse quantizer is a fixed index artifact trained once
    on a sample and reused by every ingest batch (retraining per batch
    would put the same vector in different buckets across batches,
    breaking incremental index maintenance)."""
    norm = _normalized(embeddings)
    if centroids is not None:
        cents = centroids.select("centroid_id", "cvec")

        def assign_fixed(vectors: DataFrame) -> DataFrame:
            scored = vectors.crossJoin(F.broadcast(cents)).select(
                "vec_id", "nvec", "centroid_id", _dot("nvec", "cvec").alias("sim")
            )
            w = Window.partitionBy("vec_id").orderBy(
                F.col("sim").desc(), F.col("centroid_id")
            )
            return (
                scored.withColumn("__r", F.row_number().over(w))
                .where(F.col("__r") == 1)
                .select("vec_id", "nvec", F.col("centroid_id").alias("bucket"))
            )

        return assign_fixed(norm), cents
    seeds = (
        norm.withColumn("__h", F.xxhash64(F.col("vec_id")))
        .orderBy("__h")
        .limit(num_centroids)
        .select(F.col("vec_id").alias("centroid_id"), F.col("nvec").alias("cvec"))
    )
    centroids = seeds.withColumn(
        "centroid_id", F.row_number().over(Window.orderBy("centroid_id")) - 1
    )

    def assign(vectors: DataFrame, cents: DataFrame) -> DataFrame:
        scored = vectors.crossJoin(F.broadcast(cents)).select(
            "vec_id", "nvec", "centroid_id", _dot("nvec", "cvec").alias("sim")
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("centroid_id"))
        return (
            scored.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") == 1)
            .select("vec_id", "nvec", F.col("centroid_id").alias("bucket"))
        )

    assigned = assign(norm, centroids)
    for _ in range(lloyd_iters):
        # recompute centroids as bucket means (renormalized): explode to
        # (bucket, pos, value), average per cell, reassemble positionally —
        # tiny shuffles (num_centroids x dim cells), no dim known up front
        means = (
            assigned.select("bucket", F.posexplode("nvec").alias("pos", "v"))
            .groupBy("bucket", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("bucket")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                F.col("bucket").alias("centroid_id"),
                F.expr("transform(pm, x -> x.m)").alias("raw"),
            )
            .select(
                "centroid_id",
                F.expr(
                    "transform(raw, x -> x / sqrt(aggregate(transform(raw, y -> y * y), "
                    "CAST(0.0 AS DOUBLE), (a, y) -> a + y)))"
                ).alias("cvec"),
            )
        )
        assigned = assign(norm, means)
        centroids = means
    return assigned, centroids


def ann_topk_ivf(
    embeddings: DataFrame,
    num_queries: int = 5,
    k: int = 5,
    num_centroids: int = 8,
    nprobe: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-bucketed approximate top-k: probe only the nprobe buckets whose
    centroids are nearest each query. Same output contract as ann_topk
    (query_id, neighbor_id, rank); approximate recall traded for a
    bucket-join instead of a full cross product — the 100 TB path.
    Pass `centroids` (a persisted ivf_assign artifact) to skip Lloyd
    training and query against the fixed index."""
    assigned, centroids = ivf_assign(embeddings, num_centroids, centroids=centroids)
    queries = assigned.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("nvec").alias("qvec")
    )
    qprobe = (
        queries.crossJoin(F.broadcast(centroids))
        .select("query_id", "qvec", "centroid_id", _dot("qvec", "cvec").alias("csim"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("centroid_id"))
    probes = (
        qprobe.withColumn("__r", F.row_number().over(wq))
        .where(F.col("__r") <= nprobe)
        .select("query_id", "qvec", F.col("centroid_id").alias("bucket"))
    )
    scored = (
        assigned.join(F.broadcast(probes), on="bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), _dot("qvec", "nvec").alias("cosine")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            F.col("rank").cast("long"),
        )
    )


def quantize_embeddings(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector affine int8 quantization of an embedding column —
    the storage/shuffle lever for embedding ops at 100 TB: an
    array<tinyint> plus two doubles is 4-8x smaller than the float
    vector it encodes, and every exchange in the ANN / near-dup plans
    (block-pair join, IVF bucket join, index writes) moves that many
    fewer bytes. q = round((x - min) / scale) - 128 with
    scale = (max - min) / 255; a constant vector takes scale 0 and
    round-trips EXACTLY (guarded division). Pure Catalyst transforms,
    scan-side, zero shuffle. Returns (id, qvec, scale, offset);
    dequantize_embeddings inverts with worst-case per-element error
    scale/2 (pinned by test)."""
    v = F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")
    mn, mx = F.array_min(v), F.array_max(v)
    scale = (mx - mn) / F.lit(255.0)
    q = F.when(
        scale == 0.0,
        F.expr(f"transform({vec_col}, x -> CAST(-128 AS TINYINT))"),
    ).otherwise(
        F.transform(
            v,
            lambda x: (F.round((x - mn) / scale).cast("int") - 128).cast(
                "tinyint"
            ),
        )
    )
    return embeddings.select(
        F.col(id_col),
        q.alias("qvec"),
        scale.alias("scale"),
        mn.alias("offset"),
    )


def dequantize_embeddings(
    quantized: DataFrame, id_col: str = "vec_id", out_col: str = "embedding"
) -> DataFrame:
    """Invert quantize_embeddings: x ≈ offset + (q + 128) * scale,
    emitted as array<double> under `out_col` so the result drops
    straight into ann_topk / ann_topk_ivf / embedding_near_dup (they
    normalize internally — quantization error perturbs each dimension
    by at most scale/2, which the recall test bounds end-to-end)."""
    deq = F.transform(
        F.col("qvec"),
        lambda qv: F.col("offset") + (qv.cast("double") + 128.0) * F.col("scale"),
    )
    return quantized.select(F.col(id_col), deq.alias(out_col))


def ann_topk(embeddings: DataFrame, num_queries: int = 5, k: int = 5) -> DataFrame:
    """Brute-force cosine top-k: the query set (vec_id < num_queries) is tiny
    and broadcast; ranks tie-break on neighbor id for determinism.

    Scale path: replace the broadcast-cross-join with an IVF bucketing
    (kmeans-lite on a sample -> bucket join) — same output contract."""
    norm = _normalized(embeddings)
    queries = norm.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("nvec").alias("qvec")
    )
    scored = (
        norm.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _dot("qvec", "nvec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long"),
            F.col("neighbor_id").cast("long"),
            F.col("rank").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def token_stats(documents: DataFrame, include_bpe: bool = False) -> DataFrame:
    """Whitespace token counting + distinct-token counts (JVM-side).

    With include_bpe=True the BPE-ish pre-tokenizer counts
    (BPE_PRETOKEN_PATTERN) are computed in the SAME single-scan projection —
    one pass over the corpus yields both token-budget estimates."""
    toks = F.split(F.col("text"), " ")
    cols = [
        F.col("doc_id").cast("long"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    ]
    if include_bpe:
        bpe = F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_PATTERN), 0)
        nb = F.size(bpe)
        cols += [
            nb.cast("long").alias("n_bpe_tokens"),
            F.floor(F.length("text") * 10 / nb).cast("long").alias("chars_per_token_x10"),
        ]
    return spread_small_input(documents).select(*cols)


def quality_scores(documents: DataFrame) -> DataFrame:
    """Heuristic quality scoring: length band, type-token ratio, stopword
    ratio, mean token length, and a Gopher-style repetition signal — the
    share of bigrams taken by the single most frequent bigram (Rae et
    al. 2021's "top n-gram fraction" class of filters). All integer
    outputs (scaled pct) for stable cross-engine comparison; the bigram
    mode count is computed shuffle-free inside Catalyst by sorting the
    per-doc bigram array and folding a longest-equal-run accumulator.

    The published C4/Gopher rule families live in c4_gopher_quality
    (real newline-split lines — the production filter the curate CLI
    ships); the driver merges both onto one row, feeding
    c4_gopher_quality deterministically synthesized multi-line text so
    every predicate is oracle-checked (see entryqueries
    q_quality_scores)."""
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stopwords = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "in")))
    grams2 = F.when(
        n_tokens >= 2,
        F.transform(
            F.sequence(F.lit(1), n_tokens - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top2 = F.aggregate(
        F.array_sort(grams2),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best, F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return documents.select(
        F.col("doc_id").cast("long"),
        F.floor(n_distinct * 100 / n_tokens).cast("long").alias("ttr_pct"),
        F.floor(stopwords * 100 / n_tokens).cast("long").alias("stopword_pct"),
        F.floor(F.length("text") * 10 / n_tokens).cast("long").alias("mean_token_len_x10"),
        F.floor(top2 * 100 / F.greatest(n_tokens - 1, F.lit(1)))
        .cast("long")
        .alias("top_2gram_pct"),
        (F.length("text") >= 100).cast("boolean").alias("len_ok"),
    )


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _top_ngram_count(words, n_words, n: int):
    """Occurrence count of the single most frequent word n-gram,
    computed shuffle-free: build the gram array, sort it, fold a
    longest-equal-run accumulator (linear, all-JVM)."""
    grams = F.when(
        n_words >= n,
        F.transform(
            F.sequence(F.lit(1), n_words - n + 1),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.aggregate(
        F.array_sort(grams),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best, F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )


def c4_gopher_quality(documents: DataFrame) -> DataFrame:
    """The published C4 (Raffel et al. 2020 §2.2) and Gopher (Rae et
    al. 2021 §A.1.1) quality-rule families over a document's REAL lines
    (text split on newlines) — the production filter the curate CLI
    ships. Thresholds are the published ones, unmodified:

    Gopher: 50..100k words, mean word length 3..10, symbol-to-word
    ('...' and '#') <= 10%, >= 80% words with an alphabetic char, >= 2
    of 8 required stopwords, <= 90% bullet lines, <= 30% ellipsis
    lines, duplicate-line share <= 30%, duplicate-line CHARACTER share
    <= 20% (characters of occurrences beyond each line's first),
    top-2/3/4-gram shares <= 20/18/16%.
    C4: lorem-ipsum / '{' / 'javascript' markers, lines kept when >= 3
    words AND terminal punctuation, >= 5 terminal-punctuated lines.

    Declared omission: the paper's duplicate-5..10-gram CHARACTER
    fractions need a positional interval union (mark every char covered
    by any >=2x n-gram) — a linear two-pass that Catalyst folds can
    only express by materializing per-position arrays with quadratic
    accumulator copies; at 100k-word docs that is not 100 TB-safe, so
    those six signals are intentionally not computed here rather than
    shipped with a quadratic plan. Dup-line char share (linear) covers
    the same failure mode at line granularity.

    Word conventions (shared with the DuckDB oracle): words are the
    space-split tokens of every line; mean word length assumes
    single-space/newline separation (char count = length - words + 1).
    All-Catalyst zero-shuffle scan-side projection — the line arrays
    never leave the JVM and nothing is corpus-global, so the filter
    runs at any scale as a pure map."""
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    words = F.flatten(F.transform(lines, lambda l: F.split(l, " ")))
    n_words = F.size(words)
    bullet_lines = F.size(F.filter(lines, lambda l: l.startswith("- ")))
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.endswith("...")))
    # C4 terminal punctuation: period / exclamation / question mark /
    # closing quote (Raffel 2020 §2.2)
    terminal_lines = F.size(F.filter(lines, lambda l: l.rlike('[.!?"]$')))
    # C4 line filter: >=3 words AND terminal punctuation
    keep_lines = F.size(
        F.filter(lines, lambda l: l.rlike('[.!?"]$') & (F.size(F.split(l, " ")) >= 3))
    )
    # Gopher: word has at least one alphabetic character — case matters
    # (ALL-CAPS words count)
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS]),
        )
    )
    n_symbols = F.regexp_count(F.col("text"), F.lit(r"\.\.\.")) + F.regexp_count(
        F.col("text"), F.lit("#")
    )
    symbol_pct = F.floor(n_symbols * 100 / n_words).cast("long")
    alpha_pct = F.floor(alpha_words * 100 / n_words).cast("long")
    bullet_pct = F.floor(bullet_lines * 100 / n_lines).cast("long")
    ellipsis_pct = F.floor(ellipsis_lines * 100 / n_lines).cast("long")
    # single-space/newline separation: character sum = length - (words-1)
    mean_x10 = F.floor((F.length("text") - n_words + 1) * 10 / n_words)
    top2_pct = F.floor(
        _top_ngram_count(words, n_words, 2) * 100 / F.greatest(n_words - 1, F.lit(1))
    )
    top3_pct = F.floor(
        _top_ngram_count(words, n_words, 3) * 100 / F.greatest(n_words - 2, F.lit(1))
    )
    top4_pct = F.floor(
        _top_ngram_count(words, n_words, 4) * 100 / F.greatest(n_words - 3, F.lit(1))
    )
    # duplicate lines: occurrences beyond each distinct line's first;
    # char share = sum (count-1)*len(line) / sum len(line), linear via
    # total-minus-distinct sums
    line_chars = F.aggregate(
        lines, F.lit(0), lambda acc, l: acc + F.length(l)
    )
    distinct_line_chars = F.aggregate(
        F.array_distinct(lines), F.lit(0), lambda acc, l: acc + F.length(l)
    )
    dup_line_pct = F.floor(
        (n_lines - F.size(F.array_distinct(lines))) * 100 / n_lines
    ).cast("long")
    dup_line_char_pct = F.floor(
        (line_chars - distinct_line_chars) * 100 / F.greatest(line_chars, F.lit(1))
    ).cast("long")
    has_lorem = F.col("text").contains("lorem ipsum")
    has_curly = F.col("text").contains("{")
    has_js = F.array_contains(words, "javascript")
    gopher_pass = (
        (n_words >= 50) & (n_words <= 100000)
        & (mean_x10 >= 30) & (mean_x10 <= 100)
        & (symbol_pct <= 10) & (alpha_pct >= 80) & (stop_hits >= 2)
        & (bullet_pct <= 90) & (ellipsis_pct <= 30)
        & (dup_line_pct <= 30) & (dup_line_char_pct <= 20)
        & (top2_pct <= 20) & (top3_pct <= 18) & (top4_pct <= 16)
    )
    c4_pass = (terminal_lines >= 5) & ~has_lorem & ~has_curly & ~has_js
    return documents.select(
        F.col("doc_id").cast("long"),
        n_words.cast("long").alias("n_words"),
        n_lines.cast("long").alias("n_lines"),
        bullet_pct.alias("bullet_line_pct"),
        ellipsis_pct.alias("ellipsis_line_pct"),
        symbol_pct.alias("symbol_word_pct"),
        alpha_pct.alias("alpha_word_pct"),
        stop_hits.cast("long").alias("gopher_stop_hits"),
        dup_line_pct.alias("dup_line_pct"),
        dup_line_char_pct.alias("dup_line_char_pct"),
        top3_pct.cast("long").alias("top_3gram_pct"),
        top4_pct.cast("long").alias("top_4gram_pct"),
        gopher_pass.cast("boolean").alias("gopher_pass"),
        has_lorem.cast("boolean").alias("has_lorem_ipsum"),
        has_curly.cast("boolean").alias("has_curly_brace"),
        has_js.cast("boolean").alias("has_javascript"),
        terminal_lines.cast("long").alias("n_sentences"),
        F.floor(keep_lines * 100 / n_lines).cast("long").alias("c4_keep_line_pct"),
        c4_pass.cast("boolean").alias("c4_pass"),
    )


GOPHER_DUP_NGRAM_THRESHOLDS = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}


def dup_ngram_char_fractions(documents: DataFrame, ns=(5, 6, 7, 8, 9, 10)) -> DataFrame:
    """Gopher's duplicate-n-gram CHARACTER fractions (Rae et al. 2021
    §A.1.1): for each n, the share of the document's characters covered
    by any word n-gram that occurs >= 2x in the doc (overlaps counted
    once — a positional interval union). Characters = token characters
    (spaces excluded), documented and shared with the DuckDB oracle.

    Not a scan-side fold (c4_gopher_quality documents why); instead the
    100 TB-safe shuffle shape: posexplode grams -> per-(doc, n, gram)
    window count -> explode covered positions of duplicated starts ->
    distinct -> join token lengths -> per-doc sums. Every shuffle keys
    on (doc_id, ...) — uniform, corpus never broadcast, data volume
    bounded by ~|ns| x token count."""
    from pyspark.sql import Window

    toks = F.split(F.col("text"), " ")
    base = documents.select(F.col("doc_id").cast("long"), toks.alias("toks"))
    # token table: (doc_id, pos, len) + per-doc char totals
    tok_tbl = base.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    ).select("doc_id", "pos", F.length("tok").alias("tok_len"))
    totals = tok_tbl.groupBy("doc_id").agg(F.sum("tok_len").alias("total_chars"))

    gram_frames = []
    for n in ns:
        grams = F.when(
            F.size("toks") >= n,
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.struct(
                    i.alias("start"),
                    F.concat_ws(" ", F.slice("toks", i + 1, n)).alias("gram"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<start:int,gram:string>>"))
        gram_frames.append(
            base.select(
                "doc_id", F.lit(n).alias("n"), F.explode(grams).alias("g")
            ).select("doc_id", "n", F.col("g.start").alias("start"), F.col("g.gram").alias("gram"))
        )
    g = gram_frames[0]
    for f in gram_frames[1:]:
        g = g.unionByName(f)
    cnt_w = Window.partitionBy("doc_id", "n", "gram")
    dup_starts = (
        g.withColumn("cnt", F.count("*").over(cnt_w))
        .where(F.col("cnt") >= 2)
        .select("doc_id", "n", "start")
    )
    covered = (
        dup_starts.select(
            "doc_id", "n",
            F.explode(F.sequence(F.col("start"), F.col("start") + F.col("n") - 1)).alias("pos"),
        )
        .distinct()
        .join(tok_tbl, ["doc_id", "pos"])
        .groupBy("doc_id", "n")
        .agg(F.sum("tok_len").alias("dup_chars"))
    )
    out = totals
    pivoted = (
        covered.groupBy("doc_id")
        .pivot("n", list(ns))
        .agg(F.first("dup_chars"))
    )
    out = out.join(pivoted, "doc_id", "left")
    cols = [F.col("doc_id")]
    for n in ns:
        cols.append(
            F.floor(
                F.coalesce(F.col(str(n)), F.lit(0)) * 100
                / F.greatest(F.col("total_chars"), F.lit(1))
            )
            .cast("long")
            .alias(f"dup_{n}gram_char_pct")
        )
    return out.select(*cols)


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """Content fingerprint (md5 digest — portable across engines)."""
    return documents.select(
        F.col("doc_id").cast("long"), F.md5(F.col("text")).alias("fingerprint")
    )


# Language-ID spec (engine-defined, deterministic, SQL-expressible in both
# Spark and DuckDB so the driver oracle can pin it):
#   1. empty/null text -> 'und'
#   2. script detection on the first 200 chars, checked in LANG_SCRIPTS
#      order (kana before han: Japanese text contains han characters;
#      hangul first).
#   3. otherwise Latin-script stopword profiles: score = |distinct lowered
#      tokens ∩ profile|; winner = highest score, ties broken by
#      lexicographically-first language code; all-zero -> 'und'.
def _char_range(lo: int, hi: int) -> str:
    return f"[{chr(lo)}-{chr(hi)}]"


LANG_SCRIPTS = [
    ("ko", _char_range(0xAC00, 0xD7AF)),  # hangul syllables
    ("ja", _char_range(0x3040, 0x30FF)),  # hiragana + katakana
    ("zh", _char_range(0x4E00, 0x9FFF)),  # CJK unified ideographs
    ("ru", _char_range(0x0400, 0x04FF)),  # cyrillic
    ("ar", _char_range(0x0600, 0x06FF)),  # arabic
    ("hi", _char_range(0x0900, 0x097F)),  # devanagari
    ("el", _char_range(0x0370, 0x03FF)),  # greek
    ("he", _char_range(0x0590, 0x05FF)),  # hebrew
    ("th", _char_range(0x0E00, 0x0E7F)),  # thai
]

LANG_PROFILES = {
    # Latin-script stopword profiles (7 distinctive high-frequency words
    # each; overlaps are fine — argmax with deterministic tie-break)
    "ca": ("els", "amb", "per", "aquest", "més", "també", "què"),
    "cs": ("že", "jsem", "ale", "tak", "této", "být", "už"),
    "da": ("og", "det", "til", "af", "ikke", "på", "som"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht"),
    "en": ("the", "and", "of", "to", "in", "is", "that"),
    "es": ("el", "la", "los", "que", "una", "es", "por"),
    "fi": ("ja", "on", "ei", "että", "oli", "mutta", "hän"),
    "fr": ("le", "la", "et", "les", "des", "une", "est"),
    "hu": ("és", "hogy", "nem", "egy", "az", "meg", "már"),
    "id": ("yang", "dan", "di", "dengan", "untuk", "tidak", "ini"),
    "it": ("che", "di", "il", "per", "con", "sono", "della"),
    "nl": ("de", "het", "een", "van", "dat", "niet", "zijn"),
    "no": ("og", "det", "er", "jeg", "ikke", "å", "fra"),
    "pl": ("się", "nie", "jest", "na", "do", "tak", "jak"),
    "pt": ("que", "não", "uma", "para", "com", "mais", "como"),
    "ro": ("și", "să", "nu", "este", "cu", "pentru", "dar"),
    "sv": ("och", "att", "det", "som", "inte", "på", "är"),
    "tr": ("bir", "ve", "bu", "için", "ile", "ama", "çok"),
    "vi": ("của", "và", "các", "là", "có", "không", "được"),
}


_LANG_PRED_SQL: str | None = None


def _lang_pred_sql() -> str:
    """The full classifier ladder as ONE SQL expression string over a
    staged `__toks` column (r10): building it Column-by-Column cost
    ~150 py4j round trips of driver latency per query build; the parsed
    expression tree is identical (same CASE order, same intersect
    scores, same script regexes — profile words and script classes
    contain no quotes/backslashes, so plain single-quoted literals are
    exact). Memoized: the ladder is a pure function of the constant
    tables."""
    global _LANG_PRED_SQL
    if _LANG_PRED_SQL is None:
        scores = {
            lang: (
                "size(array_intersect(__toks, array("
                + ", ".join(f"'{w}'" for w in words)
                + ")))"
            )
            for lang, words in LANG_PROFILES.items()
        }
        m = "greatest(" + ", ".join(scores.values()) + ")"
        latin = (
            f"CASE WHEN {m} = 0 THEN 'und' "
            + " ".join(
                f"WHEN {scores[lang]} = {m} THEN '{lang}'"
                for lang in sorted(LANG_PROFILES)
            )
            + " ELSE 'und' END"
        )
        _LANG_PRED_SQL = (
            "CASE WHEN text IS NULL OR text = '' THEN 'und' "
            + " ".join(
                f"WHEN substring(text, 1, 200) RLIKE '{pattern}' THEN '{lang}'"
                for lang, pattern in LANG_SCRIPTS
            )
            + f" ELSE {latin} END"
        )
    return _LANG_PRED_SQL


def with_lang_pred(df: DataFrame, out_col: str = "pred_lang") -> DataFrame:
    """Append the lang-ID prediction as a COLUMN, keeping every existing
    column: the classifier is a pure per-row projection, so composite
    consumers (corpus_filter's base frame) fold it into their own scan
    instead of paying a corpus-wide doc_id join against lang_id_docs
    (guide §2.4 — remove shuffles outright). The token array is staged
    as a real column so the 27 per-language intersects don't re-split
    the text (same staging lang_id_docs always used)."""
    return (
        df.withColumn(
            "__toks", F.array_distinct(F.split(F.lower(F.col("text")), " "))
        )
        .withColumn(out_col, F.expr(_lang_pred_sql()))
        .drop("__toks")
    )


def lang_id_docs(documents: DataFrame, id_cols: tuple = ("doc_id",)) -> DataFrame:
    """Language ID, entirely JVM-side: script regexes + stopword-profile
    argmax as Catalyst expressions (27 languages + 'und'). Replaces the
    round-1 4-language pandas UDF — no Python in the path, and the exact
    same logic is expressible in DuckDB SQL for the driver oracle.
    `id_cols` generalizes the key so the SAME classifier runs at other
    granularities (lang_mix_docs scores (doc_id, line_no) lines with it
    — one grammar, not a per-line reimplementation)."""
    keys = [
        (F.col(c).cast("long") if c == "doc_id" else F.col(c)) for c in id_cols
    ]
    return with_lang_pred(spread_small_input(documents)).select(*keys, "pred_lang")


def lang_mix_docs(documents: DataFrame, min_line_chars: int = 20) -> DataFrame:
    """Per-LINE language mixing — the signal that catches code-switched
    and boilerplate-contaminated pages doc-level lang-ID averages away
    (a page whose nav/footer is English around a French article scores
    'fr' doc-level while a third of its lines disagree; multilingual
    curation routes or drops on exactly this). Lines shorter than
    min_line_chars are too small for the stopword argmax to mean
    anything and are excluded (the scored-line count says how much
    evidence remains).

    Per doc: dominant_line_lang (most common per-line prediction, ties
    broken by lang string — deterministic), dom_line_cnt, n_scored_lines
    and n_line_langs, ALL integers/strings — consumers derive the
    mixing fraction themselves (an int/int ratio rounded to a fixed
    point is exactly the cross-engine .5-boundary hazard CLAUDE.md
    documents; integer outputs are parity-exact by construction).
    Docs with no scorable line keep a row with NULL lang and zero
    counts. Plan: one explode + the scan-side classifier + two hash
    aggregations keyed by doc — no Python."""
    lines = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("line_no", "text"),
    ).where(F.length("text") >= min_line_chars)
    per_line = lang_id_docs(lines, id_cols=("doc_id", "line_no"))
    counts = per_line.groupBy("doc_id", "pred_lang").agg(
        F.count(F.lit(1)).alias("__c")
    )
    agg = counts.groupBy("doc_id").agg(
        F.max_by(
            "pred_lang", F.struct(F.col("__c"), F.col("pred_lang"))
        ).alias("dominant_line_lang"),
        F.max(F.struct(F.col("__c"), F.col("pred_lang")))["__c"]
        .cast("long")
        .alias("dom_line_cnt"),
        F.sum("__c").cast("long").alias("n_scored_lines"),
        F.count(F.lit(1)).cast("long").alias("n_line_langs"),
    )
    return (
        documents.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "dominant_line_lang",
            F.coalesce("dom_line_cnt", F.lit(0)).alias("dom_line_cnt"),
            F.coalesce("n_scored_lines", F.lit(0)).alias("n_scored_lines"),
            F.coalesce("n_line_langs", F.lit(0)).alias("n_line_langs"),
        )
    )


# ---------------------------------------------------------------------------
# Near-duplicate clustering -> dedup keep-list
# ---------------------------------------------------------------------------

def near_dup_components(
    documents: DataFrame,
    pairs: DataFrame,
    max_iters: int = 5,
    until_converged: bool = False,
    group_col: str | None = None,
) -> DataFrame:
    """Connected components over verified near-dup pairs -> the dedup
    KEEP-LIST: every doc labeled with the minimum doc_id of its component
    (keep_doc_id) and an is_dup flag. This is the step that turns candidate
    pairs into an actual drop set — without it, transitive near-dups
    (A~B, B~C, A!~C) dedup inconsistently.

    Min-label propagation (Pregel-style): labels start as doc_id and each
    round takes the min over neighbors; converges in graph-diameter rounds.
    Near-dup components are dense (LSH + verify emits most clique edges),
    so the diameter is tiny — max_iters=5 covers diameter-5 chains, far
    beyond what a 0.9-Jaccard transitive chain produces. Each round is one
    shuffle of the (small) edge set joined against labels; the full corpus
    joins in only at the end. until_converged=True instead iterates until a
    round changes nothing (one scalar count() action per round — an
    aggregate, not a data collect), the production mode when the diameter
    is unknown.

    group_col (r8): run SEVERAL independent component problems in ONE
    iteration chain — pairs and documents both carry the group column
    (e.g. a policy-variant tag) and every join/aggregate is additionally
    keyed by it. k variants' propagation rounds collapse from k
    blocking per-round count() actions to one chain over the k×-volume
    keyed edge set (the corpus_filter_variants shape); convergence is
    reached when EVERY group's labels stop changing."""
    g = [group_col] if group_col else []
    labels = propagate_min_labels(
        pairs, g, max_iters=max_iters, until_converged=until_converged
    )
    if g:
        # documents must carry the group column (one row per group x doc);
        # name-based join coalesces the keys, no ambiguity
        return (
            documents.select(*g, F.col("doc_id").cast("long").alias("doc_id"))
            .join(labels, g + ["doc_id"], "left")
            .select(
                *g,
                "doc_id",
                F.coalesce("label", "doc_id").cast("long").alias("keep_doc_id"),
            )
            .withColumn(
                "is_dup", (F.col("doc_id") != F.col("keep_doc_id")).cast("boolean")
            )
        )
    return (
        documents.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(labels.withColumnRenamed("doc_id", "ldoc"), F.col("doc_id") == F.col("ldoc"), "left")
        .select(
            "doc_id",
            F.coalesce("label", "doc_id").cast("long").alias("keep_doc_id"),
        )
        .withColumn("is_dup", (F.col("doc_id") != F.col("keep_doc_id")).cast("boolean"))
    )


def propagate_min_labels(
    pairs: DataFrame,
    g: list,
    max_iters: int = 5,
    until_converged: bool = False,
) -> DataFrame:
    """The min-label propagation core of near_dup_components, exposed so
    composite plans (corpus_filter) can join the converged label table
    ONCE into their own output row instead of going through the
    documents-shaped wrapper (which re-scans the corpus and adds a second
    join). Returns (g..., doc_id, label) for EDGE ENDPOINTS only — docs
    with no edge keep their own id (callers left-join + coalesce).
    The returned frame is persisted (it is the keep-list; bounded by the
    near-dup edge-endpoint count)."""
    sym = pairs.select(
        *g, F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select(*g, F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    # Persist the edge set: every propagation round joins against it, and
    # without a materialization Spark would re-derive the FULL upstream
    # pipeline (LSH + Jaccard verification) once per round. The verified
    # edge list is tiny relative to the corpus (near-dup rate), so caching
    # it is the standard iterative-graph pattern at any scale.
    sym = sym.persist()
    # only docs that appear in an edge can change label; singletons join
    # back at the end (keeps every iteration's working set = edge endpoints)
    labels = (
        sym.select(*g, F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )

    def first_round():
        # Round 1 folds THREE operators into one aggregate (r10): the
        # initial labels are the identity (label(dst) == dst) and every
        # endpoint appears as src of the symmetrized edge set, so the
        # endpoint distinct, the edge->label join and the label-update
        # join all collapse to min(dst) grouped by src. Labels identical
        # to a one_round over the identity label table.
        mn = F.min("dst")
        src = F.col("doc_id")
        return (
            sym.groupBy(*g, F.col("src").alias("doc_id"))
            .agg(mn.alias("__mn"))
            .select(
                *g,
                "doc_id",
                F.least(F.col("__mn"), src).alias("label"),
                (F.col("__mn") < src).alias("__changed"),
            )
        )

    def one_round(cur):
        prop = (
            sym.alias("e")
            .join(
                cur.alias("l"),
                [F.col("e.dst") == F.col("l.doc_id")]
                + [F.col(f"e.{c}") == F.col(f"l.{c}") for c in g],
            )
            .groupBy(*[F.col(f"e.{c}") for c in g], F.col("e.src").alias("src"))
            .agg(F.min(F.col("l.label")).alias("nl"))
        )
        # The changed-flag is computable DURING the label update (the new
        # label differs from the old one iff a propagated neighbor min is
        # strictly smaller), so convergence detection needs no third join
        # back to the previous labels — one join and its exchanges saved
        # per round (r10; the count scans the just-persisted frame in the
        # same action that materializes it).
        return (
            cur.alias("l")
            .join(
                prop.alias("p"),
                [F.col("l.doc_id") == F.col("p.src")]
                + [F.col(f"l.{c}") == F.col(f"p.{c}") for c in g],
                "left",
            )
            .select(
                *[F.col(f"l.{c}") for c in g],
                F.col("l.doc_id").alias("doc_id"),
                F.least(
                    F.col("l.label"), F.coalesce(F.col("p.nl"), F.col("l.label"))
                ).alias("label"),
                (F.coalesce(F.col("p.nl"), F.col("l.label")) < F.col("l.label")).alias(
                    "__changed"
                ),
            )
        )

    if until_converged:
        # Convergence is checked every TWO propagation rounds (r10): the
        # blocking count() only sees the LAST round's changed-flag, and
        # "the final round changed nothing" alone already implies the
        # labels are stable, so pairing rounds halves the blocking
        # actions on the critical path (near-dup components are dense —
        # most graphs converge by round 2, paying ONE count instead of
        # two). The extra propagation executed when convergence lands on
        # an odd round is lazy transformations over the persisted
        # previous labels + cached edge set — round overhead, not data
        # cost. Labels are bit-identical either way.
        prev_persisted = None
        done = 0
        while done < max_iters:
            span = min(2, max_iters - done)
            new_labels = first_round() if done == 0 else one_round(labels)
            for _ in range(span - 1):
                new_labels = one_round(new_labels.drop("__changed"))
            done += span
            new_labels = new_labels.persist()
            changed = new_labels.where(F.col("__changed")).count()
            # unpersist the PERSISTED frame of the previous pair (labels
            # is a projection over it; unpersisting the projection would
            # leak the parent's cached blocks)
            old = prev_persisted
            prev_persisted = new_labels
            labels = new_labels.drop("__changed")
            if old is not None:
                old.unpersist()
            if changed == 0:
                break
    else:
        for i in range(max_iters):
            labels = (first_round() if i == 0 else one_round(labels)).drop(
                "__changed"
            )
    # cache-scope discipline: materialize the (tiny) final labels once,
    # then release the edge cache — otherwise every call leaks sym's
    # blocks for the session lifetime. What remains cached is the
    # keep-list itself, bounded by the near-dup edge-endpoint count.
    # (in until_converged mode the loop already persisted+counted labels)
    if not until_converged:
        labels = labels.persist()
        labels.count()
    sym.unpersist()
    return labels


# BPE-ish pre-tokenizer (GPT-2-style, restricted to the regex subset Java
# and RE2 interpret identically): optional leading space + letter run /
# digit run / punctuation run. Subword vocabularies split these further,
# but THIS split is the pre-tokenization boundary — its count is the
# standard cheap token-budget estimate for corpus accounting.
BPE_PRETOKEN_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


# ---- corpus-trained BPE (Sennrich 2016 "Neural Machine Translation of
# Rare Words with Subword Units"; GPT-2-style Ġ space marker) ----------------
#
# The trainer follows the published recipe exactly: pre-tokenize, count
# word frequencies, then iteratively merge the most frequent adjacent
# symbol pair (ties broken by pair lexicographic order so training is
# fully deterministic). Scale shape is the one real tokenizer trainers
# use: the CORPUS pass is one distributed word-count shuffle; the merge
# loop then runs on the (bounded, max_vocab-capped) word-frequency
# table on the driver — vocabulary size, not corpus size, is the loop's
# input, so 100 TB costs the same loop as 100 MB. The merges table is a
# persisted model artifact (the train_char_trigram shape): train once,
# encode every later batch against it.
#
# ENCODING is expressible scan-side with zero Python: a word is encoded
# as its symbols joined by a DOUBLED \x1e separator, and one literal
# replace('\x1e a \x1e\x1e b \x1e' -> '\x1e ab \x1e') is then EXACTLY
# one greedy left-to-right non-overlapping BPE merge (the doubled
# separator donates one \x1e to each side of a match, so adjacent
# matches don't fight over a shared boundary — verified against a pure
# Python reference including the a==b overlap case). Applying the M
# trained merges in rank order is therefore a chain of M literal
# replaces inside whole-stage codegen — and DuckDB's replace() has the
# same left-to-right semantics, which is what makes the driver oracle
# able to replay BOTH training (recursive CTE over the word-frequency
# table) and encoding character-for-character.
BPE_SYMSEP = "\x1e"  # doubled between symbols inside an encoded word
BPE_WORDSEP = "\x1d"  # between pretokens in the whole-doc encoding
BPE_PAIRSEP = "\x1f"  # (left, right) pair-key / merges serialization
BPE_SPACE_MARK = "Ġ"  # 'Ġ': GPT-2's printable stand-in for ' '


def bpe_pretokens_col(text_col: str = "text", mark_spaces: bool = True):
    """Array column of BPE pretokens: control separators stripped,
    BPE_PRETOKEN_PATTERN applied, leading spaces mapped to Ġ. The
    Python twin is _bpe_pretokens_py — keep them identical.
    mark_spaces=False yields RAW tokens (the byte-level path maps the
    space BYTE through the GPT-2 table instead — Ġ-marking first would
    double-encode it)."""
    cleaned = F.translate(
        F.col(text_col), BPE_WORDSEP + BPE_SYMSEP + BPE_PAIRSEP, ""
    )
    toks = F.regexp_extract_all(cleaned, F.lit(BPE_PRETOKEN_PATTERN), 0)
    if not mark_spaces:
        return toks
    return F.transform(
        toks, lambda t: F.replace(t, F.lit(" "), F.lit(BPE_SPACE_MARK))
    )


def _bytes_to_unicode() -> dict:
    """GPT-2's published byte<->unicode table (Radford 2019, encoder.py
    bytes_to_unicode — public domain recipe): printable latin-1 bytes map
    to themselves, every other byte b maps to chr(256 + i) in first-gap
    order. Byte 0x20 lands on 'Ġ' (chr(288)) — which is where the
    codepoint-level path's space marker convention comes from. Bijective,
    so byte-level tokens decode back to exact bytes."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(0xA1, 0xAC + 1))
        + list(range(0xAE, 0xFF + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


_B2U = _bytes_to_unicode()
_U2B = {c: b for b, c in _B2U.items()}


def bpe_byte_alphabet() -> list:
    """The fixed 256-symbol byte-level alphabet in BYTE order (id ==
    byte value under bpe_vocab) — byte-level models never need UNK."""
    return [_B2U[b] for b in range(256)]


def _bpe_pretokens_py(text: str, byte_level: bool = False) -> list:
    import re

    cleaned = text.translate(
        {ord(BPE_WORDSEP): None, ord(BPE_SYMSEP): None, ord(BPE_PAIRSEP): None}
    )
    toks = re.findall(BPE_PRETOKEN_PATTERN, cleaned)
    if byte_level:
        return ["".join(_B2U[b] for b in t.encode("utf-8")) for t in toks]
    return [t.replace(" ", BPE_SPACE_MARK) for t in toks]


def bpe_merge_step(syms, a: str, b: str):
    """One greedy left-to-right non-overlapping merge of pair (a, b) —
    the pure-Python reference the replace-chain is pinned against."""
    out, i = [], 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_apply_merges(word: str, merges) -> list:
    """Encode one pretoken: apply trained merges in rank order. Rank
    order equals iterate-lowest-rank (the GPT-2 encoder loop) because
    training can only ever rank a composite pair AFTER the merges that
    built its symbols. Reference implementation — O(M * len) per word;
    the production encoder is bpe_encode_word (rank-dict loop, cost
    scales with the word, not the merges table; pinned equal in
    test_bpe.py)."""
    syms = list(word)
    for a, b in merges:
        if len(syms) < 2:
            break
        syms = bpe_merge_step(syms, a, b)
    return syms


def bpe_ranks(merges) -> dict:
    """merges list -> {(a, b): rank} lookup for bpe_encode_word."""
    return {pair: i for i, pair in enumerate(merges)}


def bpe_encode_word(word: str, ranks: dict, merges) -> list:
    """Production single-word encoder: repeatedly merge the LOWEST-rank
    adjacent pair present (greedy left-to-right within that rank) until
    none applies — the GPT-2 encoder loop. Equivalent to rank-order
    application (bpe_apply_merges) by the training-order property
    (composite pairs always rank after their components), but costs
    O(len * merges_applied) instead of O(M * len): with a 32k-merge
    tokenizer that is the difference between an encoder and a stall."""
    syms = list(word)
    while len(syms) > 1:
        best = None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best is None or r < best):
                best = r
        if best is None:
            break
        syms = bpe_merge_step(syms, *merges[best])
    return syms


def train_bpe_merges(word_freqs, num_merges: int):
    """Driver-side merge loop over a (word, freq) list: repeatedly count
    adjacent symbol pairs weighted by word frequency and merge the most
    frequent (ties -> lexicographically smallest 'a\\x1fb' CONCAT key on
    BOTH engines — NOT tuple order: symbols may legally contain chars
    below 0x1f such as \\t/\\n, only \\x1d/\\x1e/\\x1f are stripped from
    pretokens, so tuple comparison would re-order those ties and flip
    the training-replay oracle; see CLAUDE.md). Deterministic replay
    target for the DuckDB recursive-CTE oracle.

    r10: incremental formulation (the Sennrich/HF trainer shape). The
    previous version rebuilt the FULL pair Counter over every word per
    merge — O(num_merges x corpus symbols), days-impractical at
    production merge counts. Now: one initial counting pass builds the
    pair counts plus a pair -> {word ids} index; each merge rewrites
    ONLY the words that contain the merged pair (subtract their old
    adjacent-pair counts, apply the greedy left-to-right merge, add the
    new ones) and the best pair comes from a lazy max-heap keyed exactly
    like the old argmin — (-count, concat key), stale entries discarded
    against the live counts on pop. The concat key is injective (symbols
    never contain \\x1f), so selection is bit-identical to the full
    rescan (pinned by tests/test_bpe.py equivalence + the token_stats
    oracle hash)."""
    import heapq
    from collections import Counter, defaultdict

    corpus = [(list(w), int(f)) for w, f in word_freqs]
    pc: Counter = Counter()
    where: dict = defaultdict(set)  # pair -> word ids that (maybe) contain it
    for wid, (syms, f) in enumerate(corpus):
        for a, b in zip(syms, syms[1:]):
            pc[(a, b)] += f
            where[(a, b)].add(wid)
    heap = [
        (-c, p[0] + BPE_PAIRSEP + p[1], p) for p, c in pc.items()
    ]
    heapq.heapify(heap)
    merges = []
    while len(merges) < num_merges and heap:
        negc, _key, best = heap[0]
        cur = pc.get(best, 0)
        if cur <= 0 or cur != -negc:
            heapq.heappop(heap)  # stale entry (count changed since push)
            continue
        merges.append(best)
        touched: set = set()
        for wid in where.pop(best, ()):
            syms, f = corpus[wid]
            # stale index entries are possible (the word was rewritten by
            # a later merge since this pair was indexed) — verify live
            if not any(
                a == best[0] and b == best[1] for a, b in zip(syms, syms[1:])
            ):
                continue
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] -= f
                touched.add((a, b))
            new_syms = bpe_merge_step(syms, *best)
            corpus[wid] = (new_syms, f)
            for a, b in zip(new_syms, new_syms[1:]):
                pc[(a, b)] += f
                touched.add((a, b))
                where[(a, b)].add(wid)
        for p in touched:
            c = pc.get(p, 0)
            if c <= 0:
                pc.pop(p, None)
                where.pop(p, None)
            else:
                heapq.heappush(heap, (-c, p[0] + BPE_PAIRSEP + p[1], p))
    return merges


def _bpe_word_freqs(documents, max_vocab, text_col, byte_level):
    """Shared word-frequency collection: ONE distributed word-count
    shuffle over JVM-extracted pretokens (the grouping key is the RAW
    token for byte_level — the byte mapping is injective, so mapping
    driver-side after the collect counts identically), capped by a total
    order (count desc, word asc). Bounded by max_vocab, never corpus
    size."""
    wf = (
        spread_small_input(documents).select(
            F.explode(
                bpe_pretokens_col(text_col, mark_spaces=not byte_level)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .orderBy(F.col("f").desc(), F.col("word").asc())
        .limit(max_vocab)
    )
    rows = [(r["word"], r["f"]) for r in wf.collect()]
    if byte_level:
        rows = [
            ("".join(_B2U[b] for b in w.encode("utf-8")), f) for w, f in rows
        ]
    return rows


def train_bpe(
    documents: DataFrame,
    num_merges: int = 1000,
    max_vocab: int = 1_000_000,
    text_col: str = "text",
    byte_level: bool = False,
):
    """Train BPE on a corpus: ONE distributed word-count shuffle, then
    the merge loop on the top-max_vocab word-frequency table (ordered
    count desc, word asc — a total order, so the cap is deterministic).
    The driver collect is bounded by max_vocab, never corpus size —
    the standard tokenizer-training shape. Returns the merges list;
    persist with bpe_merges_df(...).write.parquet(...).

    byte_level=True trains over UTF-8 BYTES mapped through the GPT-2
    byte<->unicode table: fixed 256-symbol base alphabet, no UNK ever,
    CJK/emoji handled without alphabet blowup — the published design
    for web-scale multilingual corpora."""
    rows = _bpe_word_freqs(documents, max_vocab, text_col, byte_level)
    return train_bpe_merges(rows, num_merges)


def train_bpe_full(
    documents: DataFrame,
    num_merges: int = 1000,
    max_vocab: int = 1_000_000,
    text_col: str = "text",
    byte_level: bool = False,
):
    """train_bpe plus the training ALPHABET — sorted distinct characters
    of the capped word-frequency table, or the fixed byte alphabet in
    byte order when byte_level — together they define the id space
    bpe_vocab/bpe_encode_ids use. Same single corpus pass."""
    rows = _bpe_word_freqs(documents, max_vocab, text_col, byte_level)
    alphabet = (
        bpe_byte_alphabet()
        if byte_level
        else sorted({c for w, _ in rows for c in w})
    )
    return train_bpe_merges(rows, num_merges), alphabet


def bpe_vocab(merges, alphabet) -> dict:
    """Deterministic symbol -> id table: the sorted training alphabet
    takes ids 0..A-1, merge k's composite symbol takes A+k (the
    standard BPE vocab layout). Two merges CAN produce the same
    composite string (both splits of a trigram merged); the first
    (lowest-rank) id wins and later duplicates keep it, so ids stay a
    bijection onto symbols. The UNK id is the fixed
    len(alphabet)+len(merges) (NOT len(dict) — that would alias a real
    token's id whenever a duplicate composite collapsed the dict;
    r9 review)."""
    vocab = {c: i for i, c in enumerate(alphabet)}
    base = len(vocab)
    for k, (a, b) in enumerate(merges):
        vocab.setdefault(a + b, base + k)
    return vocab


def bpe_unk_id(merges, alphabet) -> int:
    """The collision-free UNK id for bpe_vocab's layout."""
    return len(alphabet) + len(merges)


def bpe_encode_ids(
    documents: DataFrame,
    merges,
    alphabet,
    id_col: str = "doc_id",
    text_col: str = "text",
    byte_level: bool | None = None,
) -> DataFrame:
    """Exact token-ID sequences per document — what a training run
    actually consumes (pack_sequences' counts tell it where bins end;
    this is the bin CONTENT). One mapInPandas pass with the rank-dict
    encoder and a per-batch distinct-word cache; characters outside the
    training alphabet take the UNK id (bpe_unk_id — the fixed
    len(alphabet)+len(merges), NEVER len(vocab)) — impossible by
    construction on the byte-level path. byte_level=None auto-detects
    from the alphabet (the fixed 256-char byte table IS the marker).
    Returns (id_col, token_ids array<int>, n_tokens)."""
    import pandas as pd

    if not isinstance(merges, list):
        merges = _merges_from_df(merges)
    if byte_level is None:
        byte_level = list(alphabet) == bpe_byte_alphabet()
    vocab = bpe_vocab(merges, alphabet)
    unk = bpe_unk_id(merges, alphabet)
    ranks = bpe_ranks(merges)
    src = documents.select(F.col(id_col).cast("long"), F.col(text_col))

    def encode_batches(batches):
        cache = {}
        for pdf in batches:
            out_ids, out_n = [], []
            for text in pdf[text_col]:
                ids = []
                for w in _bpe_pretokens_py(text or "", byte_level=byte_level):
                    if w not in cache:
                        cache[w] = [
                            vocab.get(s, unk)
                            for s in bpe_encode_word(w, ranks, merges)
                        ]
                    ids.extend(cache[w])
                out_ids.append(ids)
                out_n.append(len(ids))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "token_ids": out_ids, "n_tokens": out_n}
            )

    return src.mapInPandas(
        encode_batches, f"{id_col} long, token_ids array<int>, n_tokens long"
    )


def bpe_merges_df(spark, merges) -> DataFrame:
    """Merges list -> persisted model table (rank, left, right)."""
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, left string, right string",
    )


def _merges_from_df(df) -> list:
    """Rank-ordered (left, right) list from a merges table frame — the
    ONE place the model-table layout is interpreted."""
    return [(r["left"], r["right"]) for r in df.orderBy("rank").collect()]


def load_bpe_merges(spark, path: str):
    """Read a persisted merges table back into rank order."""
    return _merges_from_df(spark.read.parquet(path))


def save_bpe_model(spark, path: str, merges, alphabet) -> None:
    """Persist the full tokenizer model: <path>/merges.parquet (rank,
    left, right) + <path>/alphabet.parquet (id, char) — everything
    bpe_vocab/bpe_encode_ids need, the train-once artifact layout."""
    bpe_merges_df(spark, merges).write.mode("overwrite").parquet(
        path.rstrip("/") + "/merges.parquet"
    )
    spark.createDataFrame(
        list(enumerate(alphabet)), "id long, char string"
    ).write.mode("overwrite").parquet(path.rstrip("/") + "/alphabet.parquet")


def load_bpe_model(spark, path: str):
    """(merges, alphabet) from save_bpe_model's layout; a bare merges
    parquet (no alphabet.parquet sibling) loads as (merges, None) for
    count-only use."""
    from pyspark.errors import AnalysisException

    def _read(p):
        # FS-agnostic layout probe: os.path would misjudge hdfs://s3a://
        # model dirs (r9 review) — let the reader that will be used
        # anyway decide whether the dataset exists
        try:
            return spark.read.parquet(p)
        except AnalysisException:
            return None

    root = path.rstrip("/")
    # model-dir layout first: <root>/merges.parquet wins even when the
    # dir itself is NAMED merges.parquet
    mdf = _read(root + "/merges.parquet")
    if mdf is None and root.endswith("merges.parquet"):
        mdf = _read(root)
    if mdf is None:
        return load_bpe_merges(spark, root), None
    merges = _merges_from_df(mdf)
    adf = _read(root + "/alphabet.parquet")
    if adf is None and root.endswith("merges.parquet"):
        import os

        # dirname, NOT suffix slicing: a bare relative 'merges.parquet'
        # or a '*_merges.parquet' name must probe ITS directory
        parent = os.path.dirname(root) or "."
        adf = _read(parent + "/alphabet.parquet")
    if adf is not None:
        return merges, [r["char"] for r in adf.orderBy("id").collect()]
    return merges, None


def bpe_encode_counts(
    documents: DataFrame,
    merges,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "replace",
    byte_level: bool = False,
) -> DataFrame:
    """Exact per-document BPE token counts under a trained merges list.
    byte_level=True counts under a byte-level model (pandas path only —
    the scan-side replace chain is codepoint-level).

    method='replace' (default): the whole document becomes ONE string —
    pretokens joined by \\x1d, each pretoken's chars joined by doubled
    \\x1e — and the M merges apply as M literal replaces, all inside
    whole-stage codegen (zero Python, zero shuffle). The count falls
    out of separator arithmetic: each encoded word of n symbols holds
    2(n+1) \\x1e chars, so n_total = (#\\x1e)/2 - #words. Right choice
    for model-artifact-sized merge lists (the driver oracle's shape).

    method='pandas': one mapInPandas pass with a per-batch distinct-word
    cache — the production path when M is tokenizer-sized (32k) and a
    32k-deep replace chain would be absurd. Both methods are pinned
    equal in tests/test_bpe.py."""
    if not isinstance(merges, list):
        merges = _merges_from_df(merges)
    out_id = F.col(id_col).cast("long").alias(id_col)
    if byte_level and method != "pandas":
        raise ValueError(
            "byte_level encoding needs method='pandas' — the scan-side "
            "replace chain operates on codepoint symbols"
        )
    if method == "pandas":
        import pandas as pd

        ranks = bpe_ranks(merges)
        src = documents.select(F.col(id_col).cast("long"), F.col(text_col))

        def count_batches(batches):
            cache = {}
            for pdf in batches:
                counts = []
                for text in pdf[text_col]:
                    n = 0
                    for w in _bpe_pretokens_py(text or "", byte_level=byte_level):
                        if w not in cache:
                            cache[w] = len(bpe_encode_word(w, ranks, merges))
                        n += cache[w]
                    counts.append(n)
                yield pd.DataFrame({id_col: pdf[id_col], "n_bpe_real": counts})

        return src.mapInPandas(count_batches, f"{id_col} long, n_bpe_real long")

    ss = BPE_SYMSEP + BPE_SYMSEP
    toks = bpe_pretokens_col(text_col)
    words = F.transform(
        toks,
        # (?s): dot must match line terminators too — \n/\r are legal
        # symbols (the third pretoken alternative), and Java '.' would
        # skip them, desyncing the separator arithmetic (r9 review)
        lambda t: F.concat(F.lit(ss), F.regexp_replace(t, "(?s)(.)", "$1" + ss)),
    )
    s = F.array_join(words, BPE_WORDSEP)
    for a, b in merges:
        s = F.replace(
            s,
            F.lit(BPE_SYMSEP + a + ss + b + BPE_SYMSEP),
            F.lit(BPE_SYMSEP + a + b + BPE_SYMSEP),
        )
    n_sep = F.length(s) - F.length(F.replace(s, F.lit(BPE_SYMSEP), F.lit("")))
    n_real = ((n_sep - F.size(toks) * 2) / 2).cast("long")
    return spread_small_input(documents).select(out_id, n_real.alias("n_bpe_real"))


def hash_split(
    documents: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
    keep_cols: tuple = (),
) -> DataFrame:
    """Deterministic train/val/test split by content-independent id hash:
    bucket = md5(id) mod 100, split by cumulative percentage. Reproducible
    across runs, engines, partitionings and cluster sizes — the property a
    random sample() lacks — and md5-based so the assignment is
    oracle-checkable. Scan-side projection, zero shuffles."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return documents.select(
        F.col(id_col).cast("long").alias(id_col),
        bucket.alias("bucket"),
        split.alias("split"),
        *[F.col(c) for c in keep_cols],
    )


def weighted_sample(
    documents: DataFrame,
    weight_expr,
    id_col: str = "doc_id",
    resolution: int = 10_000,
) -> DataFrame:
    """Deterministic per-row weighted sampling for data mixing: keep a row
    iff md5(id) bucket < weight * resolution, where weight in [0, 1] is a
    Column (typically derived per source/domain — the 'mixing ratio' knob
    a training-data pipeline tunes per corpus slice). Reproducible across
    runs/engines/cluster sizes, scan-side, zero shuffles; expected kept
    fraction per slice = its weight to 1/resolution granularity."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10)
        .cast("long")
        % resolution
    )
    # floor() BEFORE the long cast: Spark's double->long cast truncates
    # toward zero while DuckDB's CAST(.. AS BIGINT) rounds to nearest, so an
    # explicit floor on BOTH engines is the only engine-independent threshold.
    return documents.withColumn(
        "sample_keep",
        (bucket < F.floor(weight_expr * resolution).cast("long")).cast("boolean"),
    )


def temperature_sample(
    documents: DataFrame,
    group_col: str = "source",
    alpha: float = 0.7,
    target_frac: float | None = None,
    id_col: str = "doc_id",
    resolution: int = 10_000,
) -> DataFrame:
    """Temperature-based domain rebalancing — the standard mixture rule
    for multilingual / multi-domain LM corpora (sampling exponent alpha,
    alpha < 1 upweights tail domains relative to their raw counts):

        target share  q_d ∝ n_d^alpha
        keep rate     r_d = min(1, T * q_d / n_d)

    where T (target corpus size in docs) defaults to the largest size
    that honors the q distribution WITHOUT upsampling any domain
    (T = min_d n_d / q_d: the scarcest domain keeps 100%, head domains
    downsample), or target_frac * N when given. Rows are kept by the
    deterministic md5-bucket threshold of weighted_sample, so the
    assignment reproduces across runs, engines and cluster sizes.

    100 TB plan: one count aggregate keyed by domain (output = #domains
    rows), two scalar aggregates (norm, T) that broadcast as single
    rows, and a broadcast join of the tiny per-domain rate table back
    onto the scan — the corpus itself is never shuffled. Emits the input
    columns used plus (n_domain, keep_rate, sample_keep)."""
    g = F.col(group_col)
    counts = documents.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("__n")
    )
    weighted = counts.select(
        group_col, "__n", F.pow("__n", F.lit(float(alpha))).alias("__w")
    )
    norm = weighted.agg(F.sum("__w").alias("__norm"))
    q = weighted.crossJoin(F.broadcast(norm)).select(
        group_col, "__n", (F.col("__w") / F.col("__norm")).alias("__q")
    )
    if target_frac is None:
        t_row = q.agg(F.min(F.col("__n") / F.col("__q")).alias("__t"))
    else:
        t_row = documents.agg(
            (F.count(F.lit(1)) * F.lit(float(target_frac))).alias("__t")
        )
    # the argmin domain's rate is (n/q)*q/n in doubles — one ulp below
    # 1.0 on one engine and clamped to exactly 1.0 on the other flips
    # floor(rate*resolution) between 9999/10000. Snap near-1 rates to
    # exactly 1.0 (identically on both engines; semantically a no-op at
    # 1e-9) so the no-upsampling domain is a true fixpoint.
    raw_rate = F.least(F.lit(1.0), F.col("__t") * F.col("__q") / F.col("__n"))
    rates = q.crossJoin(F.broadcast(t_row)).select(
        group_col,
        F.col("__n").cast("long").alias("n_domain"),
        F.when(raw_rate > 1.0 - 1e-9, F.lit(1.0)).otherwise(raw_rate).alias(
            "keep_rate"
        ),
    )
    joined = documents.select(F.col(id_col).cast("long").alias(id_col), g).join(
        F.broadcast(rates), group_col
    )
    return weighted_sample(joined, F.col("keep_rate"), id_col=id_col, resolution=resolution)


def word_ngram_hash_col(n: int, hash_basis: str, text_col: str = "text"):
    """Column of distinct whitespace-word n-gram hashes for a text column.
    Pure Catalyst — sequence + slice + array_join, hashed xxhash64
    (production) or md5 (oracle basis, DuckDB-shared)."""
    toks = F.split(F.col(text_col), " ")
    joined = F.transform(
        F.sequence(F.lit(1), F.size(toks) - n + 1),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    grams = F.when(F.size(toks) >= n, joined).otherwise(
        F.array().cast("array<string>")
    )
    return F.transform(
        F.array_distinct(grams),
        (lambda g: F.xxhash64(g)) if hash_basis == "xxhash64" else (lambda g: F.md5(g)),
    )


def _word_ngram_hashes(df: DataFrame, n: int, hash_basis: str):
    """Exploded (doc_id, gram) form of word_ngram_hash_col."""
    return spread_small_input(df).select(
        F.col("doc_id"), F.explode(word_ngram_hash_col(n, hash_basis)).alias("gram")
    )


def decontaminate(
    documents: DataFrame, eval_docs: DataFrame, n: int = 13,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    whitespace-word n-gram (default 13, the standard eval-overlap window)
    with an evaluation set. `eval_docs` needs a `text` column.

    100 TB plan: the eval side is tiny (benchmark suites are KBs-MBs), so
    its distinct gram set BROADCASTS (bounded by the eval suite) and the
    corpus side is a single pruned scan -> n-gram projection ->
    broadcast semi-join -> partial-agg groupBy. The HIT set is bounded
    by the corpus contamination rate, not the eval size, so it is NOT
    force-broadcast — AQE broadcasts it in the common low-contamination
    case and falls back to a shuffle join of (doc_id, count) pairs
    (never the text) when contamination is pathological."""
    if hash_basis not in ("xxhash64", "md5"):
        raise ValueError(f"hash_basis must be 'xxhash64' or 'md5', got {hash_basis!r}")
    eval_grams = (
        _word_ngram_hashes(
            eval_docs.select(F.lit(0).cast("long").alias("doc_id"), "text"),
            n, hash_basis,
        )
        .select("gram")
        .distinct()
    )
    doc_grams = _word_ngram_hashes(documents, n, hash_basis)
    hits = (
        doc_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_gram_hits"))
    )
    return (
        documents.select(F.col("doc_id").cast("long"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_gram_hits", F.lit(0)).cast("long").alias("n_gram_hits"),
            (F.coalesce("n_gram_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# PII patterns (training-data hygiene: the C4/Dolma/FineWeb redaction
# class). Deliberately restricted to a regex subset with identical
# semantics in Java (Spark) and RE2 (DuckDB oracle) — char classes, bounded
# repetition, \b, \d — so redaction is cross-engine byte-identical.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PII_LONG_DIGITS = r"\b\d{7,}\b"  # phone-ish runs; after IPs are consumed


def pii_scrub(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction: emails -> <EMAIL>, IPv4s -> <IP>, 7+-digit runs ->
    <NUM> (in that order, so IP octets aren't re-matched as digit runs),
    plus per-kind match counts. Each count is taken on the PREVIOUS
    redaction stage's output, so counts agree exactly with what
    clean_text redacts (an IP inside an email is consumed by <EMAIL> and
    never counted as an IP). Pure Catalyst regexp projections — zero
    shuffle, scan-side at 100 TB."""
    t = F.col(text_col)
    s1 = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    s2 = F.regexp_replace(s1, PII_IPV4, "<IP>")
    s3 = F.regexp_replace(s2, PII_LONG_DIGITS, "<NUM>")
    return documents.select(
        F.col("doc_id").cast("long"),
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(s1, F.lit(PII_IPV4)).cast("long").alias("n_ips"),
        F.regexp_count(s2, F.lit(PII_LONG_DIGITS)).cast("long").alias("n_nums"),
        s3.alias("clean_text"),
    )


#: Mojibake (encoding-artifact) detection patterns. Kept in the shared
#: Java==RE2 regex subset as character classes of LITERAL chars, so the
#: exact same pattern strings drive Spark and the DuckDB oracle:
#: - double-UTF-8: a 2-byte UTF-8 sequence re-decoded as Latin-1 shows
#:   as 'Ã' + the continuation byte's codepoint (U+0080-00BF) — e.g.
#:   'é' -> 'Ã©'. Plain Portuguese 'SÃO' (Ã + ASCII letter) does NOT
#:   match.
#: - cp1252 punctuation: U+2018-201D quotes re-decoded via cp1252 start
#:   'â€' ('’' -> 'â€™').
#: - U+FFFD replacement chars from lossy decode steps.
MOJIBAKE_DOUBLE_UTF8 = "\u00c3[" + chr(0x80) + "-" + chr(0xBF) + "]"
MOJIBAKE_CP1252_PUNCT = "â€"
MOJIBAKE_REPLACEMENT = "�"


def mojibake_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-artifact (mojibake) detection — the corpus-QA signal that
    catches double-encoded or lossily-transcoded documents before they
    pollute training text: per-doc counts of the three standard artifact
    families plus an any-artifact flag. Pure Catalyst regexp_count
    projections — zero shuffle, scan-side at 100 TB."""
    t = F.col(text_col)
    n1 = F.regexp_count(t, F.lit(MOJIBAKE_DOUBLE_UTF8)).cast("long")
    n2 = F.regexp_count(t, F.lit(MOJIBAKE_CP1252_PUNCT)).cast("long")
    n3 = F.regexp_count(t, F.lit(MOJIBAKE_REPLACEMENT)).cast("long")
    return documents.select(
        F.col("doc_id").cast("long"),
        n1.alias("n_moji_utf8"),
        n2.alias("n_moji_punct"),
        n3.alias("n_moji_repl"),
        ((n1 + n2 + n3) > 0).alias("mojibake"),
    )


def pack_sequences(
    documents: DataFrame,
    seq_len: int = 512,
    num_buckets: int = 8,
    counts: DataFrame | None = None,
    eod_tokens: int = 0,
) -> DataFrame:
    """Greedy no-split NEXT-FIT sequence packing (the pretraining
    batch-prep op): docs fill fixed-capacity token bins in doc_id order;
    a doc that would overflow the open bin closes it and starts the next
    (closed bins are never revisited — next-fit, the streaming choice,
    trades some density for a single sequential pass)
    (docs longer than seq_len get a bin of their own). Packing is
    inherently sequential, so the corpus is split into `num_buckets`
    independent units (doc_id % num_buckets) packed in parallel with
    applyInPandas — at 100 TB num_buckets scales to O(cores) and the only
    corpus shuffle is the bucket repartition of (doc_id, n_tokens) pairs,
    never the text. Returns (doc_id, pack_bucket, pack_bin, pack_offset).

    `counts`: optional (doc_id, n_tokens) frame — pack on EXACT token
    counts (e.g. bpe_encode_counts under a trained merges table) instead
    of the whitespace proxy, so bins match what a training run sees.

    `eod_tokens`: reserve this many separator tokens per document (the
    <|endofdoc|> convention) — each doc occupies n + eod_tokens of bin
    capacity, so offsets/boundaries match a run that actually inserts
    the separators."""
    import pandas as pd

    if counts is not None:
        sized = counts.select(
            F.col("doc_id").cast("long"),
            (F.col("doc_id") % num_buckets).cast("long").alias("pack_bucket"),
            (F.col("n_tokens") + eod_tokens).cast("long").alias("n_tokens"),
        )
    else:
        sized = documents.select(
            F.col("doc_id").cast("long"),
            (F.col("doc_id") % num_buckets).cast("long").alias("pack_bucket"),
            (F.size(F.split(F.col("text"), " ")) + eod_tokens)
            .cast("long")
            .alias("n_tokens"),
        )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        bins, offs = [], []
        bin_id, fill = 0, 0
        first = True
        for n in pdf.n_tokens:
            if not first and fill + n > seq_len:
                bin_id += 1
                fill = 0
            first = False
            offs.append(fill)
            bins.append(bin_id)
            fill += int(n)
        return pd.DataFrame(
            {
                "doc_id": pdf.doc_id,
                "pack_bucket": pdf.pack_bucket,
                "pack_bin": bins,
                "pack_offset": offs,
            }
        )

    return sized.groupBy("pack_bucket").applyInPandas(
        pack, "doc_id long, pack_bucket long, pack_bin long, pack_offset long"
    )


WET_AB_SCHEMA = (
    "url string, engine_chars long, wet_chars long, "
    "length_ratio double, char_f1 double"
)


def wet_ab_compare(
    results: DataFrame,
    wet: DataFrame,
    text_col: str = "text",
    wet_text_col: str = "text",
) -> DataFrame:
    """Per-url A/B between THIS engine's extracted text and the crawl's
    published WET text (warc.read_wet) — the comparator that keeps the
    WET ingest from being write-only (r7 VERDICT item 7). One row per
    url in EITHER side (full outer join — coverage gaps are findings,
    not join losses):

      engine_chars / wet_chars  UTF-8 CHARACTER counts (NULL side -> 0)
      length_ratio              engine_chars / wet_chars (NULL when the
                                WET side is missing/empty — a ratio
                                against nothing is not 0)
      char_f1                   character-multiset F1 (SQuAD-style but
                                chars: overlap = sum over chars of
                                min(count_e, count_w); P = overlap/|e|,
                                R = overlap/|w|, F1 = 2PR/(P+R)); 0.0
                                when either side is missing/empty,
                                1.0 only for identical multisets.

    The multiset intersection runs in mapInPandas (collections.Counter
    — O(chars) per row; no JVM primitive computes per-row frequency
    maps without exploding the corpus to one row per char, which would
    shuffle 100 TB to compare it). This is a diagnostic/QA report, not
    a curation hot path; volume is one pass over the joined texts."""
    joined = (
        results.select(F.col("url"), F.col(text_col).alias("__e"))
        .join(
            wet.select(F.col("url"), F.col(wet_text_col).alias("__w")),
            "url",
            "full_outer",
        )
    )

    def compare(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            rows = []
            for url, e, w in zip(pdf["url"], pdf["__e"], pdf["__w"]):
                e = e if isinstance(e, str) else None
                w = w if isinstance(w, str) else None
                ne, nw = len(e or ""), len(w or "")
                ratio = (ne / nw) if nw else None
                if ne and nw:
                    overlap = sum((Counter(e) & Counter(w)).values())
                    p, r = overlap / ne, overlap / nw
                    f1 = (2 * p * r / (p + r)) if (p + r) else 0.0
                else:
                    f1 = 0.0
                rows.append((url, ne, nw, ratio, f1))
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "engine_chars", "wet_chars", "length_ratio", "char_f1",
                ],
            )

    return joined.mapInPandas(compare, WET_AB_SCHEMA)


def wet_ab_report(
    results: DataFrame,
    wet: DataFrame,
    text_col: str = "text",
    wet_text_col: str = "text",
) -> DataFrame:
    """One-row distribution summary of wet_ab_compare: coverage (urls on
    both sides / engine-only / wet-only) and the char-F1 + length-ratio
    distribution (mean, p10/p50/p90) over urls present on BOTH sides.
    The per-url frame is the drill-down; this is the run report a crawl
    A/B dashboard ingests."""
    cmp = wet_ab_compare(results, wet, text_col, wet_text_col)
    both = (F.col("engine_chars") > 0) & (F.col("wet_chars") > 0)
    f1 = F.when(both, F.col("char_f1"))
    lr = F.when(both, F.col("length_ratio"))
    return cmp.agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.sum(both.cast("long")).cast("long").alias("n_both"),
        F.sum((F.col("wet_chars") == 0).cast("long")).cast("long").alias(
            "n_engine_only"
        ),
        F.sum((F.col("engine_chars") == 0).cast("long")).cast("long").alias(
            "n_wet_only"
        ),
        F.avg(f1).alias("char_f1_mean"),
        F.percentile(f1, F.lit(0.1)).alias("char_f1_p10"),
        F.percentile(f1, F.lit(0.5)).alias("char_f1_p50"),
        F.percentile(f1, F.lit(0.9)).alias("char_f1_p90"),
        F.percentile(lr, F.lit(0.5)).alias("length_ratio_p50"),
        F.percentile(lr, F.lit(0.9)).alias("length_ratio_p90"),
    )
