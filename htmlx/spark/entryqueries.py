"""Query registry for the driver contract (__spark_entry__.py).

Each entry pairs a Spark callable (spark, sf_dir) -> DataFrame with a DuckDB
oracle SQL string computing the SAME result directly from the parquet tables.
The extraction queries synthesize pages from `documents` (see pages.py — the
template algebra is shared), run the REAL engine (mapInPandas), and flatten
to scalar columns; the oracle reconstructs the expected extraction output
symbolically. Column names and types are aligned on both sides (BIGINT/long).
"""

from __future__ import annotations

import gzip
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.extract import Config, markdown_config
from . import analytics, relational, warc
from .job import run_all_links, run_extraction
from .pages import PAGE_TEMPLATES, URL_SQL, pages_from_documents

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _adaptive(spark: SparkSession, on: bool = True) -> None:
    """Declare a query family's AQE mode at build time (optimization
    guide §2.2 'let AQE coalesce small partitions').

    The JVM analytics rows (dedup/LSH/joins/aggregations) opt IN: their
    static shuffle width (2x cores, session.py) is a constant tuned for
    neither a 5k-row bench corpus nor a 100 TB cluster, while AQE's
    runtime coalescing sizes every post-shuffle stage from the observed
    bytes (measured r10 at sf0.1: dedup_exact 7-10 s -> ~3 s; scale
    safety: at real volume coalescing is a no-op on already-large
    partitions and skew-join splitting only helps). The extraction and
    Python-decode tiers keep AQE OFF (session.py default; the
    query-stage barrier measurably cost fleet throughput — BASELINE r4)
    — each builder states its mode idempotently so bench/correctness
    execution order cannot leak one family's mode into the other."""
    spark.conf.set("spark.sql.adaptive.enabled", "true" if on else "false")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _extract(spark, sf_dir, template: str, config: Config | None = None) -> DataFrame:
    pages = pages_from_documents(_docs(spark, sf_dir), template)
    # the documents table is a single small parquet file -> ONE input
    # split; without an explicit repartition the mapInPandas extraction
    # stage runs on one core (measured: extract_text 2.1s at local[32]
    # with 31 idle workers). Salted repartition (job.salted_repartition)
    # is the production skew-defeating shape; width 1x parallelism = ONE
    # python-task wave (r7 A/B: 0.89s @1x vs 1.16s @2x — see
    # analytics.spread_small_input).
    return run_extraction(
        pages, config or Config(),
        num_partitions=spark.sparkContext.defaultParallelism,
    )


_ORACLE_URL = URL_SQL
_DOCTITLE = "'Doc ' || CAST(doc_id AS VARCHAR)"
_NL2 = "chr(10) || chr(10)"
_WC = "(2 + len(string_split(text, ' ')))"


# ---------------------------------------------------------------------------
# extraction queries
# ---------------------------------------------------------------------------

def q_extract_text(spark, sf_dir):
    return _extract(spark, sf_dir, "text").select(
        "url",
        "title",
        "text",
        F.col("word_count").cast("long").alias("word_count"),
        F.col("reading_time_ms").cast("long").alias("reading_time_ms"),
        "error",
    )


O_EXTRACT_TEXT = f"""
SELECT {_ORACLE_URL} AS url,
       {_DOCTITLE} AS title,
       {_DOCTITLE} || {_NL2} || text AS text,
       CAST({_WC} AS BIGINT) AS word_count,
       CAST(floor({_WC} / 200.0 * 60000) AS BIGINT) AS reading_time_ms,
       '' AS error
FROM documents
"""


def q_extract_links(spark, sf_dir):
    r = _extract(spark, sf_dir, "links")
    return r.select("url", F.explode("links").alias("l")).select(
        "url",
        F.col("l.url").alias("link_url"),
        F.col("l.text").alias("link_text"),
        F.col("l.title").alias("link_title"),
        F.col("l.is_external").alias("is_external"),
        F.col("l.is_nofollow").alias("is_nofollow"),
        F.col("l.position").cast("long").alias("position"),
    )


O_EXTRACT_LINKS = f"""
SELECT {_ORACLE_URL} AS url,
       'https://ref.example.org/p/' || CAST(doc_id AS VARCHAR) AS link_url,
       'reference' AS link_text, 'ref' AS link_title,
       TRUE AS is_external, FALSE AS is_nofollow, CAST(1 AS BIGINT) AS position
FROM documents
UNION ALL
SELECT {_ORACLE_URL}, '/local/' || CAST(doc_id AS VARCHAR), 'local docs', '',
       FALSE, FALSE, CAST(2 AS BIGINT)
FROM documents
"""


def q_extract_images(spark, sf_dir):
    r = _extract(spark, sf_dir, "images")
    return r.select("url", F.explode("images").alias("i")).select(
        "url",
        F.col("i.url").alias("img_url"),
        F.col("i.alt").alias("img_alt"),
        F.col("i.width").alias("img_width"),
        F.col("i.height").alias("img_height"),
        F.col("i.is_decorative").alias("is_decorative"),
        F.col("i.position").cast("long").alias("position"),
    )


O_EXTRACT_IMAGES = f"""
SELECT {_ORACLE_URL} AS url,
       'https://img.example.com/' || CAST(doc_id AS VARCHAR) || '.jpg' AS img_url,
       'Figure ' || CAST(doc_id AS VARCHAR) AS img_alt,
       '640' AS img_width, '480' AS img_height,
       FALSE AS is_decorative, CAST(1 AS BIGINT) AS position
FROM documents
UNION ALL
SELECT {_ORACLE_URL}, 'https://img.example.com/deco.png', '', '', '',
       TRUE, CAST(2 AS BIGINT)
FROM documents
"""


def q_extract_media(spark, sf_dir):
    r = _extract(spark, sf_dir, "media")
    return r.select(
        "url",
        F.element_at("videos", 1)["url"].alias("video_url"),
        F.element_at("videos", 1)["poster"].alias("video_poster"),
        F.element_at("videos", 1)["width"].alias("video_width"),
        F.size("videos").cast("long").alias("n_videos"),
        F.element_at("audios", 1)["url"].alias("audio_url"),
        F.size("audios").cast("long").alias("n_audios"),
    )


O_EXTRACT_MEDIA = f"""
SELECT {_ORACLE_URL} AS url,
       'https://cdn.example.com/v/' || CAST(doc_id AS VARCHAR) || '.mp4' AS video_url,
       'https://cdn.example.com/p/' || CAST(doc_id AS VARCHAR) || '.jpg' AS video_poster,
       '640' AS video_width, CAST(1 AS BIGINT) AS n_videos,
       'https://cdn.example.com/a/' || CAST(doc_id AS VARCHAR) || '.mp3' AS audio_url,
       CAST(1 AS BIGINT) AS n_audios
FROM documents
"""


def q_extract_boilerplate(spark, sf_dir):
    return _extract(spark, sf_dir, "boilerplate").select("url", "title", "text")


O_EXTRACT_BOILERPLATE = f"""
SELECT {_ORACLE_URL} AS url, {_DOCTITLE} AS title,
       {_DOCTITLE} || {_NL2} || text AS text
FROM documents
"""


def q_extract_tables(spark, sf_dir):
    return _extract(spark, sf_dir, "table").select("url", "text")


O_EXTRACT_TABLES = f"""
SELECT {_ORACLE_URL} AS url,
       {_DOCTITLE} || {_NL2} || text || {_NL2} ||
       '| K | V |' || chr(10) || '| --- | --- |' || chr(10) ||
       '| id | ' || CAST(doc_id AS VARCHAR) || ' |' || chr(10) ||
       '| lang | ' || lang || ' |' AS text
FROM documents
"""


def q_extract_markdown(spark, sf_dir):
    return _extract(spark, sf_dir, "links", markdown_config()).select("url", "text")


O_EXTRACT_MARKDOWN = f"""
SELECT {_ORACLE_URL} AS url,
       {_DOCTITLE} || {_NL2} || text || {_NL2} ||
       'See [reference](https://ref.example.org/p/' || CAST(doc_id AS VARCHAR) ||
       ') and [local docs](/local/' || CAST(doc_id AS VARCHAR) || ') now' AS text
FROM documents
"""


def q_extract_all_links(spark, sf_dir):
    pages = pages_from_documents(_docs(spark, sf_dir), "links")
    # salted spread like every other extract row (r10: this was the ONE
    # extraction row still running its mapInPandas stage on the single
    # input split — 1 of 32 cores; see _extract / BASELINE r5)
    r = run_all_links(pages, num_partitions=spark.sparkContext.defaultParallelism)
    return r.select("url", F.posexplode("link_resources").alias("idx", "res")).select(
        "url",
        F.col("idx").cast("long").alias("idx"),
        F.col("res.url").alias("res_url"),
        F.col("res.title").alias("res_title"),
        F.col("res.type").alias("res_type"),
    )


O_EXTRACT_ALL_LINKS = f"""
SELECT {_ORACLE_URL} AS url, CAST(0 AS BIGINT) AS idx,
       'https://ref.example.org/about' AS res_url, 'About' AS res_title, 'link' AS res_type
FROM documents
UNION ALL
SELECT {_ORACLE_URL}, CAST(1 AS BIGINT), 'https://ref.example.org/home', 'Home', 'link' FROM documents
UNION ALL
SELECT {_ORACLE_URL}, CAST(2 AS BIGINT),
       'https://ref.example.org/local/' || CAST(doc_id AS VARCHAR), 'local docs', 'link' FROM documents
UNION ALL
SELECT {_ORACLE_URL}, CAST(3 AS BIGINT),
       'https://ref.example.org/p/' || CAST(doc_id AS VARCHAR), 'ref', 'link' FROM documents
"""


# encoding round-trip: html bytes in 7 charsets chosen by (lang, doc_id):
# gbk + big5 (zh, split by doc parity), iso-8859-1 (de), iso-8859-15 (fr),
# windows-1252 (es and any other), utf-8 / BOM'd utf-16 (en, split by
# parity, no meta tag — utf-16 exercises BOM detection)
def _enc_marker_charset(lang: str, doc_id: int) -> tuple[str, str]:
    if lang == "zh":
        return ("中文标记 ", "gbk") if doc_id % 2 == 0 else ("繁體中文標記 ", "big5")
    if lang == "en":
        return ("", "utf-8") if doc_id % 2 == 0 else ("", "utf-16")
    if lang == "de":
        return ("straße größer ", "iso-8859-1")
    if lang == "fr":
        return ("élève français ", "iso-8859-15")
    return ("café mañana ", "windows-1252")


def q_extract_encoding(spark, sf_dir):
    import pandas as pd

    docs = _docs(spark, sf_dir)

    def build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for doc_id, text, lang, source in zip(pdf.doc_id, pdf.text, pdf.lang, pdf.source):
                marker, charset = _enc_marker_charset(lang, int(doc_id))
                meta = "" if charset in ("utf-8", "utf-16") else f'<meta charset="{charset}">'
                page = (
                    f"<html><head>{meta}<title>Doc {doc_id}</title></head><body>"
                    f'<nav class="nav">Home About</nav>'
                    f"<article><h1>Doc {doc_id}</h1><p>{marker}{text}</p></article>"
                    f"<footer>Copyright</footer></body></html>"
                )
                rows.append(
                    {
                        "url": f"https://{source}.example.com/doc/{doc_id}",
                        "html": page.encode(charset),
                    }
                )
            yield pd.DataFrame(rows, columns=["url", "html"])

    pages = analytics.spread_small_input(docs).mapInPandas(build, "url string, html binary")
    return run_extraction(pages).select("url", "title", "text", "error")


O_EXTRACT_ENCODING = f"""
SELECT {_ORACLE_URL} AS url, {_DOCTITLE} AS title,
       {_DOCTITLE} || {_NL2} ||
       (CASE WHEN lang = 'zh' AND doc_id % 2 = 0 THEN '中文标记 '
             WHEN lang = 'zh' THEN '繁體中文標記 '
             WHEN lang = 'en' THEN ''
             WHEN lang = 'de' THEN 'straße größer '
             WHEN lang = 'fr' THEN 'élève français '
             ELSE 'café mañana ' END) || text AS text,
       '' AS error
FROM documents
"""


def q_extract_entities(spark, sf_dir):
    """Entity gauntlet: named + numeric + nbsp + the reference's &amp;amp;
    double-decode quirk, pinned end-to-end by the DuckDB oracle."""
    return _extract(spark, sf_dir, "entities").select("url", "title", "text")


O_EXTRACT_ENTITIES = f"""
SELECT {_ORACLE_URL} AS url, {_DOCTITLE} AS title,
       {_DOCTITLE} || {_NL2} || 'AT&T <x> "q" — a b & café ' || text AS text
FROM documents
"""


def q_extract_nested_boilerplate(spark, sf_dir):
    """Boilerplate nested INSIDE content containers: sidebar/ads divs are
    pruned while the surrounding content chain survives."""
    return _extract(spark, sf_dir, "nested").select("url", "title", "text")


O_EXTRACT_NESTED = f"""
SELECT {_ORACLE_URL} AS url, {_DOCTITLE} AS title,
       {_DOCTITLE} || {_NL2} || text || {_NL2} || 'beta body' || {_NL2} || 'gamma body' AS text
FROM documents
"""


def q_extract_colspan_table(spark, sf_dir):
    """colspan/rowspan markdown rendering: spanned cells pad with empties,
    short rows pad to the header width."""
    return _extract(spark, sf_dir, "colspan").select("url", "text")


O_EXTRACT_COLSPAN = f"""
SELECT {_ORACLE_URL} AS url,
       {_DOCTITLE} || {_NL2} || text || {_NL2} ||
       '| Doc ' || CAST(doc_id AS VARCHAR) || ' | | L |' || chr(10) ||
       '| --- | --- | --- |' || chr(10) ||
       '| a | ' || lang || ' | c |' || chr(10) ||
       '| d | e | |' AS text
FROM documents
"""


def q_extract_deeplist(spark, sf_dir):
    """Nested ordered-inside-unordered list rendering: bullet/number
    markers, two-space indent, blank line after the nested list."""
    return _extract(spark, sf_dir, "deeplist").select("url", "text")


O_EXTRACT_DEEPLIST = f"""
SELECT {_ORACLE_URL} AS url,
       {_DOCTITLE} || {_NL2} || text || {_NL2} ||
       '- one ' || CAST(doc_id AS VARCHAR) || chr(10) ||
       '- two' || chr(10) || '  1. s1' || chr(10) || '  2. s2' || {_NL2} ||
       '- three' AS text
FROM documents
"""


class _SidebarScorer:
    """Custom Scorer (the §2.10 extension point): scores ONLY the sidebar
    div, flipping candidate selection away from the article — module-level
    so cloudpickle ships it to the Python workers."""

    def score(self, node) -> int:
        for k, v in node.attrs:
            if k == "class" and v == "sidebar":
                return 1000
        return 0


def q_custom_scorer(spark, sf_dir):
    """The custom-Scorer protocol end-to-end THROUGH Spark: a user scorer
    object rides the Config through cloudpickle into the mapInPandas
    workers and flips candidate selection — with the boilerplate template
    the engine now extracts the sidebar instead of the article."""
    return _extract(
        spark, sf_dir, "boilerplate", Config(scorer=_SidebarScorer())
    ).select("url", "title", "text", F.col("word_count").cast("long").alias("word_count"))


O_CUSTOM_SCORER = f"""
SELECT {_ORACLE_URL} AS url, {_DOCTITLE} AS title,
       'junk sidebar words' AS text, CAST(3 AS BIGINT) AS word_count
FROM documents
"""


def q_lineage_rollup(spark, sf_dir):
    """Drives the FUSED results+metrics+audit pipeline through the driver
    gate: pages whose sanitizer strips exactly 3 dangerous constructs each,
    one extraction pass, metrics derived JVM-side, rolled up globally.
    Oracle-countable: bytes_in = page byte length (templates are ASCII),
    audit_events = 3 per document."""
    from .job import derive_metrics, run_extraction_full

    pages = pages_from_documents(_docs(spark, sf_dir), "audit")
    outs = run_extraction_full(pages, Config(), run_id="lineage")
    m = derive_metrics(outs["results"])
    return m.agg(
        F.sum("docs_in").cast("long").alias("n_docs"),
        F.sum("docs_ok").cast("long").alias("n_ok"),
        F.sum("bytes_in").cast("long").alias("bytes_in"),
        F.sum("audit_events").cast("long").alias("audit_events"),
    )


def _lineage_rollup_oracle() -> str:
    page_sql = PAGE_TEMPLATES["audit"]
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_ok,
       CAST(sum(octet_length(CAST({page_sql} AS BLOB))) AS BIGINT) AS bytes_in,
       CAST(3 * count(*) AS BIGINT) AS audit_events
FROM documents
"""


O_LINEAGE_ROLLUP = _lineage_rollup_oracle()


# ---------------------------------------------------------------------------
# training-data pipeline queries
# ---------------------------------------------------------------------------

_BOILER_PARA = "subscribe to our newsletter for updates and offers today"

# 18 tokens (>= the 15-token span-dedup window) — planted cross-document so
# the span level provably exercises removal, mirroring _BOILER_PARA's role
_SPAN_BOILER = (
    "follow us on social media and never miss another exclusive member "
    "only deal discount or seasonal promotion announcement"
)


def q_dedup_exact(spark, sf_dir):
    """Document-level AND CCNet-style paragraph-level exact dedup merged
    into one level-tagged row (driver caps at 50 queries). The corpus
    has no paragraph structure, so paragraphs are synthesized as
    20-token chunks joined by newlines, and every doc with
    doc_id % 11 == 0 gets a SHARED boilerplate paragraph appended — the
    cross-document repeated nav/footer/subscribe block paragraph dedup
    exists to strip (Wenzek et al. 2020). The oracle rebuilds the same
    chunking and grouping; the planted paragraph must collapse to ONE
    row with keep_doc_id=0 and dup_count = |{d : d%11==0}|."""
    # NO scale-adaptive fan-out here, deliberately (r10, measured): the
    # 8 level branches below are independent subtrees that execute
    # CONCURRENTLY from their own scans; a shared repartition would put
    # one exchange barrier under all of them and cost ~3.5 s first-run
    # at sf0.1 (6.5-7.0 s nospread vs 9.3-10.5 s spread, 3/3 fresh
    # sessions) while at real scan widths it is a no-op anyway
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    toks = F.split(F.col("text"), " ")
    chunks = F.transform(
        F.sequence(
            F.lit(0),
            F.greatest(F.floor((F.size(toks) + 19) / 20).cast("int"), F.lit(1)) - 1,
        ),
        lambda j: F.concat_ws(" ", F.slice(toks, j * 20 + 1, 20)),
    )
    para_text = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.when(
                d % 11 == 0, F.concat(chunks, F.array(F.lit(_BOILER_PARA)))
            ).otherwise(chunks),
        ).alias("text"),
    )
    paras = analytics.dedup_paragraphs(analytics.split_paragraphs(para_text))
    doc_level = analytics.dedup_exact(docs).select(
        F.lit("doc").alias("level"),
        F.col("text_md5").alias("content_md5"),
        "keep_doc_id",
        "dup_count",
    )
    # keep-policy variant (VERDICT r5 item 6): survivor chosen by a
    # caller-supplied ordering column instead of min doc_id — stand-in
    # prio = doc_id % 7 varies WITHIN duplicate groups (a text-derived
    # column like n_chars would not), keep highest, ties -> min doc_id
    policy_level = analytics.dedup_exact(
        docs.withColumn("prio", (d % 7).cast("long")), keep_by="prio", descending=True
    ).select(
        F.lit("doc_keep_prio").alias("level"),
        F.col("text_md5").alias("content_md5"),
        "keep_doc_id",
        "dup_count",
    )
    # span level (r6): exact substring dedup — docs with doc_id % 7 == 0
    # share a planted 18-token sentence; every occurrence after the first
    # must be removed from the cleaned text, which content_md5 pins
    # byte-exactly. dup_count carries tokens_removed for this level.
    span_docs = docs.select(
        "doc_id",
        F.when(d % 7 == 0, F.concat_ws(" ", F.col("text"), F.lit(_SPAN_BOILER)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # span + spancap levels (r6/r7, VERDICT r6 item 5): exact substring
    # dedup uncapped AND under the hot-key cap, in ONE window pass
    # (dedup_spans_variants — two separate dedup_spans calls executed SIX
    # posexplode chains, measured r7; Catalyst does not reuse exchanges
    # across union branches). At sf0.01 the planted _SPAN_BOILER windows
    # occur in ~500/7 docs — over the cap of 20, so spancap must KEEP
    # them (template text, host_template_lines' job) while still removing
    # every under-cap organic duplicate. spanstats is the 'no silent
    # caps' report (all four stats folded into content_md5; keep_doc_id /
    # dup_count carry capped_wkeys / capped_occurrences). The oracle
    # replays all three from the same window CTE, so a cap off by one
    # window flips the hash.
    span_levels = analytics.dedup_spans_variants(
        span_docs, w=15, hash_basis="md5", caps={"span": None, "spancap": 20}
    ).select(
        F.col("variant").alias("level"),
        F.md5(F.col("cleaned_text")).alias("content_md5"),
        F.col("doc_id").alias("keep_doc_id"),
        F.col("tokens_removed").alias("dup_count"),
    )
    spanstats_level = analytics.span_window_stats(
        span_docs, w=15, max_occurrences=20, hash_basis="md5"
    ).select(
        F.lit("spanstats").alias("level"),
        F.md5(
            F.concat_ws(
                "|",
                "n_distinct_windows",
                "max_window_occurrences",
                "capped_wkeys",
                "capped_occurrences",
            )
        ).alias("content_md5"),
        F.col("capped_wkeys").alias("keep_doc_id"),
        F.col("capped_occurrences").alias("dup_count"),
    )
    # hosttmpl level (r6): per-host template-line removal. Docs are
    # assigned hosts h(doc_id%10); every doc gets a host-wide 'NAV-k'
    # first line (100% of the host -> template, removed from ALL docs)
    # and docs with doc_id%3==0 get a 'PROMO' line (~1/3 of each host,
    # under min_frac=0.5 -> kept). content_md5 pins the cleaned text
    # byte-exactly; dup_count carries n_removed for this level.
    tk = (d % 10).cast("long").cast("string")
    tds = d.cast("long").cast("string")
    tmpl_docs = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://h"), tk, F.lit(".example.com/p/"), tds
        ).alias("url"),
        F.concat(
            F.lit("NAV-"), tk, F.lit("\n"), F.col("text"),
            F.when(d % 3 == 0, F.lit("\nPROMO subscribe now for offers"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    tmpl_level = analytics.host_template_lines(tmpl_docs).select(
        F.lit("hosttmpl").alias("level"),
        F.md5("cleaned_text").alias("content_md5"),
        F.col("doc_id").alias("keep_doc_id"),
        F.col("n_removed").alias("dup_count"),
    )
    # docnorm level (r6): CCNet-NORMALIZED exact dedup (Wenzek 2020
    # §4.1 — case/accent/digit/punct/whitespace fold before hashing).
    # Adjacent doc pairs synthesize cosmetic variants of one logical
    # text; the pair key is LETTERIZED (digits a-j) because digit
    # folding would otherwise merge every same-digit-count pair, while
    # the '42' / '4,2' tail exercises the digit fold itself (both
    # normalize to '00'). Every pair must collapse to dup_count 2
    # keeping the even doc; the digest is of the NORMALIZED form
    # (oracle replays the same translate/regexp chain, 'g' flag).
    pkl = F.translate(
        F.floor(d / 2).cast("long").cast("string"), "0123456789", "abcdefghij"
    )
    norm_docs = docs.select(
        "doc_id",
        F.when(
            d % 2 == 0,
            F.concat(F.lit("resume sample text number "), pkl, F.lit(" 42")),
        )
        .otherwise(
            F.concat(
                F.lit("RÉSUMÉ  Sample, Text!! Number "), pkl, F.lit(" 4,2")
            )
        )
        .alias("text"),
    )
    norm_level = analytics.dedup_exact(norm_docs, normalize=True).select(
        F.lit("docnorm").alias("level"),
        F.col("text_md5").alias("content_md5"),
        "keep_doc_id",
        "dup_count",
    )
    return (
        doc_level.unionByName(paras.select(F.lit("para").alias("level"), "*"))
        .unionByName(policy_level)
        .unionByName(span_levels)
        .unionByName(spanstats_level)
        .unionByName(tmpl_level)
        .unionByName(norm_level)
    )


O_DEDUP_EXACT = """
WITH span_docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' follow us on social media and never miss another exclusive member only deal discount or seasonal promotion announcement'
              ELSE text END AS text
  FROM documents
), span_toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM span_docs
), span_wins AS (
  SELECT doc_id, u.pos, u.wkey FROM (
    SELECT doc_id,
           unnest([{'pos': i, 'wkey': md5(array_to_string(t[i+1 : i+15], ' '))}
                   FOR i IN generate_series(0, len(t) - 15)]) AS u
    FROM span_toks)
), span_first AS (
  SELECT wkey, min(doc_id * 4294967296 + pos) AS fk, count(*) AS occ
  FROM span_wins GROUP BY wkey
), span_dups AS (
  SELECT vs.v, w.doc_id, w.pos
  FROM span_wins w
  JOIN span_first f ON w.wkey = f.wkey
  CROSS JOIN (SELECT unnest(['span', 'spancap']) AS v) vs
  WHERE w.doc_id * 4294967296 + w.pos <> f.fk
    AND (vs.v = 'span' OR f.occ <= 20)
), span_islands AS (
  SELECT v, doc_id, iid, min(pos) AS s, max(pos) + 15 AS e
  FROM (
    SELECT v, doc_id, pos,
           sum(flag) OVER (PARTITION BY v, doc_id ORDER BY pos) AS iid
    FROM (
      SELECT v, doc_id, pos,
             CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END AS flag
      FROM (
        SELECT v, doc_id, pos,
               max(pos + 15) OVER (PARTITION BY v, doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM span_dups)))
  GROUP BY v, doc_id, iid
), span_rm AS (
  SELECT v, doc_id, list({'s': s, 'e': e} ORDER BY s) AS rm, sum(e - s) AS removed
  FROM span_islands GROUP BY v, doc_id
), tmpl_docs AS (
  SELECT doc_id, 'h' || CAST(doc_id % 10 AS VARCHAR) AS host,
         'NAV-' || CAST(doc_id % 10 AS VARCHAR) || chr(10) || text ||
         CASE WHEN doc_id % 3 = 0
              THEN chr(10) || 'PROMO subscribe now for offers'
              ELSE '' END AS t
  FROM documents
), tmpl_freq AS (
  SELECT host, line, count(DISTINCT doc_id) AS c
  FROM (SELECT doc_id, host, unnest(string_split(t, chr(10))) AS line
        FROM tmpl_docs)
  WHERE line <> '' GROUP BY 1, 2
), tmpl_hd AS (
  SELECT host, count(*) AS n FROM tmpl_docs GROUP BY 1
), tmpl_set AS (
  SELECT f.host, list(f.line) AS tl
  FROM tmpl_freq f JOIN tmpl_hd h ON f.host = h.host
  WHERE f.c >= 3 AND f.c >= 0.5 * h.n GROUP BY 1
), tmpl_out AS (
  SELECT d.doc_id,
         array_to_string(
           [l FOR l IN string_split(d.t, chr(10))
            IF NOT list_contains(coalesce(s.tl, []::VARCHAR[]), l)],
           chr(10)) AS cleaned,
         len(string_split(d.t, chr(10)))
           - len([l FOR l IN string_split(d.t, chr(10))
                  IF NOT list_contains(coalesce(s.tl, []::VARCHAR[]), l)])
           AS n_removed
  FROM tmpl_docs d LEFT JOIN tmpl_set s ON d.host = s.host
), span_out AS (
  SELECT vs.v, t.doc_id,
         COALESCE(array_to_string(
           [t.t[i+1] FOR i IN generate_series(0, len(t.t) - 1)
            IF len(list_filter(COALESCE(r.rm, []::STRUCT(s BIGINT, e BIGINT)[]),
                               x -> x.s <= i AND i < x.e)) = 0], ' '), '') AS cleaned,
         COALESCE(r.removed, 0) AS tokens_removed
  FROM span_toks t
  CROSS JOIN (SELECT unnest(['span', 'spancap']) AS v) vs
  LEFT JOIN span_rm r ON t.doc_id = r.doc_id AND vs.v = r.v
)
SELECT 'doc' AS level, md5(text) AS content_md5,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY text
UNION ALL
SELECT 'para', md5(para), CAST(min(doc_id) AS BIGINT), CAST(count(*) AS BIGINT)
FROM (
  SELECT doc_id, unnest(
           [array_to_string(t[j*20+1 : j*20+20], ' ')
            FOR j IN generate_series(0, greatest((len(t) + 19) // 20, 1) - 1)]
           || CASE WHEN doc_id % 11 = 0
                   THEN ['subscribe to our newsletter for updates and offers today']
                   ELSE []::VARCHAR[] END) AS para
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
) GROUP BY para
UNION ALL
SELECT 'doc_keep_prio', content_md5, keep_doc_id, dup_count FROM (
  SELECT md5(text) AS content_md5,
         CAST(FIRST_VALUE(doc_id) OVER w AS BIGINT) AS keep_doc_id,
         CAST(COUNT(*) OVER (PARTITION BY text) AS BIGINT) AS dup_count,
         ROW_NUMBER() OVER w AS rn
  FROM documents
  WINDOW w AS (PARTITION BY text ORDER BY doc_id % 7 DESC, doc_id ASC)
) WHERE rn = 1
UNION ALL
SELECT v, md5(cleaned), CAST(doc_id AS BIGINT), CAST(tokens_removed AS BIGINT)
FROM span_out
UNION ALL
SELECT 'spanstats',
       md5(CAST(count(*) AS VARCHAR) || '|' || CAST(max(occ) AS VARCHAR)
           || '|' || CAST(sum(CASE WHEN occ > 20 THEN 1 ELSE 0 END) AS VARCHAR)
           || '|' || CAST(sum(CASE WHEN occ > 20 THEN occ ELSE 0 END) AS VARCHAR)),
       CAST(sum(CASE WHEN occ > 20 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN occ > 20 THEN occ ELSE 0 END) AS BIGINT)
FROM span_first
UNION ALL
SELECT 'hosttmpl', md5(cleaned), CAST(doc_id AS BIGINT), CAST(n_removed AS BIGINT)
FROM tmpl_out
UNION ALL
SELECT 'docnorm', md5(nt), CAST(min(doc_id) AS BIGINT), CAST(count(*) AS BIGINT)
FROM (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(
           translate(lower(CASE WHEN doc_id % 2 = 0
                THEN 'resume sample text number '
                     || translate(CAST(doc_id // 2 AS VARCHAR),
                                  '0123456789', 'abcdefghij') || ' 42'
                ELSE 'RÉSUMÉ  Sample, Text!! Number '
                     || translate(CAST(doc_id // 2 AS VARCHAR),
                                  '0123456789', 'abcdefghij') || ' 4,2'
                END),
             'àáâãäåçèéêëìíîïñòóôõöøùúûüýÿ', 'aaaaaaceeeeiiiinoooooouuuuyy'),
           '[0-9]', '0', 'g'),
           '[^\\p{L}0\\s]', '', 'g'),
           '\\s+', ' ', 'g')) AS nt
  FROM documents)
GROUP BY nt
"""


def q_token_stats(spark, sf_dir):
    """Whitespace AND BPE-ish pre-tokenizer counting, one scan-side
    projection, PLUS greedy next-fit sequence packing
    (analytics.pack_sequences: doc_id-ordered bins of 512 whitespace
    tokens across 8 parallel buckets), PLUS (r9) a CORPUS-TRAINED BPE
    level: analytics.train_bpe learns 16 merges on this very corpus
    (one word-count shuffle + the bounded driver merge loop), the
    replace-chain encoder counts exact subword tokens per doc entirely
    inside whole-stage codegen, and a second packing runs on those REAL
    counts (seq_len 128) — the token-accounting surfaces merged into
    one driver row (the driver's correctness artifact records at most
    50 queries, observed round 3). The oracle replays packing with a
    recursive CTE AND replays BPE training itself (recursive CTE over
    the word-frequency table, identical tie-breaks) plus the
    merge-by-merge encode, so one wrong merge choice, one wrong greedy
    boundary, or one wrong bin flips the hash."""
    docs = _docs(spark, sf_dir)
    stats = analytics.token_stats(docs, include_bpe=True)
    packed = analytics.pack_sequences(docs, seq_len=512, num_buckets=8)
    merges = analytics.train_bpe(docs, num_merges=16, max_vocab=100_000)
    real = analytics.bpe_encode_counts(docs, merges)
    packed_real = analytics.pack_sequences(
        docs,
        seq_len=128,
        num_buckets=8,
        counts=real.withColumnRenamed("n_bpe_real", "n_tokens"),
    )
    return (
        stats.join(
            packed.select("doc_id", "pack_bucket", "pack_bin", "pack_offset"),
            "doc_id",
        )
        .join(real, "doc_id")
        .join(
            packed_real.select(
                "doc_id",
                F.col("pack_bin").alias("pack_bin_bpe"),
                F.col("pack_offset").alias("pack_offset_bpe"),
            ),
            "doc_id",
        )
    )


O_TOKEN_STATS = r"""
WITH RECURSIVE sized AS (
  SELECT doc_id, doc_id % 8 AS bucket, len(string_split(text, ' ')) AS n,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents),
packed AS (
  SELECT bucket, rn, doc_id, n, CAST(0 AS BIGINT) AS bin, n AS fill
  FROM sized WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.n,
         CASE WHEN p.fill + d.n <= 512 THEN p.bin ELSE p.bin + 1 END,
         CASE WHEN p.fill + d.n <= 512 THEN p.fill + d.n ELSE d.n END
  FROM packed p JOIN sized d ON d.bucket = p.bucket AND d.rn = p.rn + 1),
-- corpus-trained BPE replay. Pretokens: control separators stripped,
-- BPE pattern, ' ' -> 'Ġ'. A word is its symbols joined by DOUBLED
-- chr(30); one replace() = one exact greedy left-to-right merge.
wfreq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS f FROM (
    SELECT replace(unnest(regexp_extract_all(
             replace(replace(replace(text, chr(29), ''), chr(30), ''), chr(31), ''),
             ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')), ' ', 'Ġ') AS word
    FROM documents)
  GROUP BY word ORDER BY f DESC, word LIMIT 100000),
-- trainer: state is ONE row carrying the whole (bounded) word-freq
-- corpus; each step picks the max-count pair (ties -> smallest
-- 'a<US>b' key, = tuple order since chr(31) sorts below text chars)
-- and merges it everywhere. Mirrors analytics.train_bpe_merges.
bpe(i, merges, corpus) AS (
  SELECT 0, CAST([] AS VARCHAR[]),
         list(struct_pack(w := chr(30)||chr(30)||
                regexp_replace(word, '(?s)(.)', '\1'||chr(30)||chr(30), 'g'),
              f := f) ORDER BY word)
  FROM wfreq
  UNION ALL
  SELECT s.i + 1,
         list_append(s.merges, s.best.p),
         list_transform(s.corpus, x -> struct_pack(
           w := replace(x.w,
                chr(30)||replace(s.best.p, chr(31), chr(30)||chr(30))||chr(30),
                chr(30)||replace(s.best.p, chr(31), '')||chr(30)),
           f := x.f))
  FROM (
    SELECT i, merges, corpus,
      list_sort(list_transform(
        list_distinct(list_transform(pwf, x -> x.p)),
        d -> struct_pack(
          negc := -list_aggregate(list_transform(list_filter(pwf, x -> x.p = d), x -> x.f), 'sum'),
          p := d)))[1] AS best,
      pwf
    FROM (
      SELECT i, merges, corpus,
        flatten(list_transform(corpus, x ->
          list_transform(range(1, len(string_split(x.w, chr(30)||chr(30))) - 2),
            j -> struct_pack(
              p := string_split(x.w, chr(30)||chr(30))[j+1] || chr(31) ||
                   string_split(x.w, chr(30)||chr(30))[j+2],
              f := x.f))
        )) AS pwf
      FROM bpe WHERE i < 16
    )
  ) s
  WHERE len(s.pwf) > 0),
fm AS (SELECT merges FROM bpe ORDER BY i DESC LIMIT 1),
-- encode: whole doc as one string (words joined by chr(29), symbols by
-- doubled chr(30)); apply the trained merges in rank order
pret AS (
  SELECT doc_id,
    list_transform(regexp_extract_all(
        replace(replace(replace(text, chr(29), ''), chr(30), ''), chr(31), ''),
        ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'),
      t -> replace(t, ' ', 'Ġ')) AS toks
  FROM documents),
docenc(r, doc_id, s, nw) AS (
  SELECT 0, doc_id,
         array_to_string(list_transform(toks, t -> chr(30)||chr(30)||
           regexp_replace(t, '(?s)(.)', '\1'||chr(30)||chr(30), 'g')), chr(29)),
         len(toks)
  FROM pret
  UNION ALL
  SELECT e.r + 1, e.doc_id,
         replace(e.s,
           chr(30)||replace(m.merges[e.r+1], chr(31), chr(30)||chr(30))||chr(30),
           chr(30)||replace(m.merges[e.r+1], chr(31), '')||chr(30)),
         e.nw
  FROM docenc e, fm m WHERE e.r < len(m.merges)),
-- each encoded word of n symbols holds 2(n+1) chr(30)s
realc AS (
  SELECT e.doc_id,
         CAST(((length(e.s) - length(replace(e.s, chr(30), ''))) - 2 * e.nw) / 2 AS BIGINT) AS n_bpe_real
  FROM docenc e, fm m WHERE e.r = len(m.merges)),
rsized AS (
  SELECT doc_id, doc_id % 8 AS bucket, n_bpe_real AS n,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM realc),
rpacked AS (
  SELECT bucket, rn, doc_id, n, CAST(0 AS BIGINT) AS bin, n AS fill
  FROM rsized WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.n,
         CASE WHEN p.fill + d.n <= 128 THEN p.bin ELSE p.bin + 1 END,
         CASE WHEN p.fill + d.n <= 128 THEN p.fill + d.n ELSE d.n END
  FROM rpacked p JOIN rsized d ON d.bucket = p.bucket AND d.rn = p.rn + 1)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split(t.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(t.text, ' '))) AS BIGINT) AS n_distinct_tokens,
       CAST(length(t.text) AS BIGINT) AS n_chars,
       CAST(len(regexp_extract_all(t.text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS BIGINT) AS n_bpe_tokens,
       CAST(floor(length(t.text) * 10 / len(regexp_extract_all(t.text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))) AS BIGINT) AS chars_per_token_x10,
       CAST(p.bucket AS BIGINT) AS pack_bucket,
       CAST(p.bin AS BIGINT) AS pack_bin,
       CAST(p.fill - p.n AS BIGINT) AS pack_offset,
       CAST(rc.n_bpe_real AS BIGINT) AS n_bpe_real,
       CAST(rp.bin AS BIGINT) AS pack_bin_bpe,
       CAST(rp.fill - rp.n AS BIGINT) AS pack_offset_bpe
FROM documents t
JOIN packed p ON p.doc_id = t.doc_id
JOIN realc rc ON rc.doc_id = t.doc_id
JOIN rpacked rp ON rp.doc_id = t.doc_id
"""


def synth_lines_frame(docs):
    """Deterministic multi-line corpus synthesis for the C4/Gopher rule
    suite: the corpus text is clean single-line lowercase words, so the
    line/punctuation rules would be degenerate on it. Each doc is
    rebuilt with the SAME algebra on both engines (the synthetic-PII
    pattern): "lines" are 8-token chunks joined by newlines, chunk j of
    doc d gets a "- " bullet prefix when (d+j)%5==0 and a "..." / "."
    suffix when (d+j)%7 / %3 == 0; docs with d%31/37/41==0 get
    "lorem ipsum" / "{code}" / "javascript" markers appended, and even
    doc_ids get the Gopher stopword marker " and that have with" (the
    synthetic vocabulary carries almost none of the paper's 8 required
    stopwords — without planting, gopher_pass would be all-False and
    its pass branch driver-unexercised; chunk size 8 likewise keeps the
    >=5-sentence C4 gate reachable at the corpus's <=99-token docs).
    The PRODUCTION rule computation (analytics.c4_gopher_quality) then
    runs on this frame exactly as it would on real multi-line pages."""
    d = F.col("doc_id")
    text2 = F.concat(
        F.col("text"),
        F.when(d % 31 == 0, F.lit(" lorem ipsum")).otherwise(F.lit("")),
        F.when(d % 37 == 0, F.lit(" {code}")).otherwise(F.lit("")),
        F.when(d % 41 == 0, F.lit(" javascript")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit(" and that have with")).otherwise(F.lit("")),
    )
    toks2 = F.split(text2, " ")
    n2 = F.size(toks2)
    n_chunks = F.greatest(F.floor((n2 + 7) / 8).cast("int"), F.lit(1))
    lines = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda j: F.concat(
            F.when((d + j) % 5 == 0, F.lit("- ")).otherwise(F.lit("")),
            F.concat_ws(" ", F.slice(toks2, j * 8 + 1, 8)),
            F.when((d + j) % 7 == 0, F.lit("...")).otherwise(
                F.when((d + j) % 3 == 0, F.lit(".")).otherwise(F.lit(""))
            ),
        ),
    )
    return docs.select("doc_id", F.array_join(lines, "\n").alias("text"))


_LANGMIX_FR = "le chat est sur le tapis et la vie est une chanson de paris"
_LANGMIX_DE = "der hund ist im haus und das ist gut so denn es regnet"


def q_quality_scores(spark, sf_dir):
    """Quality-signal suite on one merged row (driver caps at 50): the
    base TTR/stopword/length/top-bigram signals over the raw text,
    joined with the PRODUCTION C4/Gopher rule suite
    (analytics.c4_gopher_quality — real newline-split lines, published
    thresholds) computed over deterministically synthesized multi-line
    text (synth_lines_frame), PLUS the duplicate-n-gram CHARACTER
    fractions (analytics.dup_ngram_char_fractions, n=5..10) over text
    where every 13th doc re-appends its own first 12 words — the corpus
    has no natural within-doc n-gram repeats, so without planting the
    interval-union machinery would hash as all-zeros driver-side. Every
    predicate re-scans the synthesized text on both engines, so a
    dialect divergence flips the hash. gopher_pass_full adds the six
    published dup-n-gram gates (<=15/14/13/12/11/10%) on top of the
    scan-side gopher_pass.

    r8 adds per-LINE language mixing (analytics.lang_mix_docs) over
    synthesized multilingual text — doc_id%3 gains a French line and
    %5 a German line, so dominance/line counts genuinely vary; the
    oracle replays the SAME generated classifier SQL per line
    (_lang_pred_sql, one source of truth at both granularities) and
    re-derives dominance with the identical (count, lang) struct-max
    tie rule. All four new columns are integers/strings — no float
    rounding surface."""
    docs = _docs(spark, sf_dir)
    base = analytics.quality_scores(docs)
    ext = analytics.c4_gopher_quality(synth_lines_frame(docs))
    d = F.col("doc_id")
    rep = docs.select(
        "doc_id",
        F.when(
            d % 13 == 0,
            F.concat(
                F.col("text"), F.lit(" "),
                F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 12)),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    dup = analytics.dup_ngram_char_fractions(rep)
    # r6: corpus-self-perplexity (CCNet's third pillar) — add-one char
    # trigram model trained on the corpus itself, mean bits per trigram,
    # 2dp-rounded DOUBLE on both engines (log2 of a rational never sits
    # exactly on a rounding boundary; float-sum noise is ~1e9x smaller
    # than the 0.005 step)
    tri = analytics.char_trigram_perplexity(docs)
    # r8: per-line language mixing over synthesized multilingual text —
    # every doc keeps its base (single-line) text, docs with doc_id%3==0
    # gain a French line and %5==0 a German line, so the mix counts
    # genuinely vary (1-3 scored lines, 1-3 languages). Spark runs the
    # real explode->classify->aggregate; the oracle replays the SAME
    # generated classifier SQL per line (_lang_pred_sql — one source of
    # truth at both granularities).
    mixed = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 3 == 0, F.lit("\n" + _LANGMIX_FR)).otherwise(F.lit("")),
            F.when(d % 5 == 0, F.lit("\n" + _LANGMIX_DE)).otherwise(F.lit("")),
        ).alias("text"),
    )
    mix = analytics.lang_mix_docs(mixed)
    joined = (
        base.join(ext, "doc_id").join(dup, "doc_id").join(tri, "doc_id")
        .join(mix, "doc_id")
    )
    gates = F.lit(True)
    for n, thr in analytics.GOPHER_DUP_NGRAM_THRESHOLDS.items():
        gates = gates & (F.col(f"dup_{n}gram_char_pct") <= thr)
    return joined.withColumn(
        "gopher_pass_full", (F.col("gopher_pass") & gates).cast("boolean")
    )


# The bigram/g2 CTE mirrors the Spark longest-equal-run fold; the aug
# CTEs rebuild the SAME deterministic line/marker synthesis as
# synth_lines_frame, then every C4/Gopher predicate recomputes from the
# rebuilt multi-line text exactly as analytics.c4_gopher_quality does
# from its `text` column (production semantics: words/markers/symbols
# are scanned post-synthesis, decorations included).
O_QUALITY_SCORES = """
WITH t0 AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
t1 AS (SELECT doc_id, text, t,
              [array_to_string(t[i:i+1], ' ') FOR i IN generate_series(1, len(t) - 1)] AS g2
       FROM t0),
a0 AS (SELECT doc_id, text, t, g2,
              text || CASE WHEN doc_id % 31 = 0 THEN ' lorem ipsum' ELSE '' END
                   || CASE WHEN doc_id % 37 = 0 THEN ' {code}' ELSE '' END
                   || CASE WHEN doc_id % 41 = 0 THEN ' javascript' ELSE '' END
                   || CASE WHEN doc_id % 2 = 0 THEN ' and that have with' ELSE '' END AS text2
       FROM t1),
a1 AS (SELECT *, string_split(text2, ' ') AS t2,
              greatest((len(string_split(text2, ' ')) + 7) // 8, 1) AS nch
       FROM a0),
a2 AS (SELECT *,
              [CASE WHEN (doc_id + j) % 5 = 0 THEN '- ' ELSE '' END
               || array_to_string(t2[j*8+1 : j*8+8], ' ')
               || CASE WHEN (doc_id + j) % 7 = 0 THEN '...'
                       WHEN (doc_id + j) % 3 = 0 THEN '.' ELSE '' END
               FOR j IN generate_series(0, nch - 1)] AS lines
       FROM a1),
a3 AS (SELECT *,
              array_to_string(lines, chr(10)) AS ftext,
              len(lines) AS n_lines,
              len(list_filter(lines, l -> starts_with(l, '- '))) AS bullet_lines,
              len(list_filter(lines, l -> ends_with(l, '...'))) AS ellipsis_lines,
              len(list_filter(lines, l -> regexp_matches(l, '[.!?"]$'))) AS terminal_lines,
              len(list_filter(lines, l -> regexp_matches(l, '[.!?"]$')
                  AND len(string_split(l, ' ')) >= 3)) AS keep_lines,
              flatten([string_split(l, ' ') FOR l IN lines]) AS aw
       FROM a2),
a4 AS (SELECT *,
              len(aw) AS n_words,
              len(list_intersect(list_distinct(aw),
                  ['the','be','to','of','and','that','have','with'])) AS stop_hits,
              floor((length(ftext) - len(aw) + 1) * 10 / len(aw)) AS mean_x10,
              floor((len(regexp_extract_all(ftext, '\\.\\.\\.'))
                     + len(regexp_extract_all(ftext, '#'))) * 100 / len(aw)) AS symbol_pct,
              floor(len(list_filter(aw, w -> regexp_matches(w, '[A-Za-z]'))) * 100 / len(aw)) AS alpha_pct,
              floor(bullet_lines * 100 / n_lines) AS bullet_pct,
              floor(ellipsis_lines * 100 / n_lines) AS ellipsis_pct,
              floor((n_lines - len(list_distinct(lines))) * 100 / n_lines) AS dup_line_pct,
              floor((list_sum(list_transform(lines, l -> length(l)))
                     - list_sum(list_transform(list_distinct(lines), l -> length(l))))
                    * 100 / greatest(list_sum(list_transform(lines, l -> length(l))), 1)) AS dup_line_char_pct,
              contains(ftext, 'lorem ipsum') AS has_lorem,
              contains(ftext, '{') AS has_curly,
              list_contains(aw, 'javascript') AS has_js
       FROM a3),
-- top n-gram counts per doc: explode + group-by (linear; the per-doc
-- list-comprehension form is O(n^2) and was measured 6x slower here)
gx AS (SELECT doc_id, unnest([
          {'n': 2, 'g': [aw[i] || ' ' || aw[i+1]
                         FOR i IN generate_series(1, len(aw) - 1)]},
          {'n': 3, 'g': [aw[i] || ' ' || aw[i+1] || ' ' || aw[i+2]
                         FOR i IN generate_series(1, len(aw) - 2)]},
          {'n': 4, 'g': [aw[i] || ' ' || aw[i+1] || ' ' || aw[i+2] || ' ' || aw[i+3]
                         FOR i IN generate_series(1, len(aw) - 3)]}
       ]) AS e FROM a3),
gc AS (SELECT doc_id, e.n AS n, g, count(*) AS cnt
       FROM (SELECT doc_id, e, unnest(e.g) AS g FROM gx) GROUP BY doc_id, e.n, g),
gt AS (SELECT doc_id,
              coalesce(max(CASE WHEN n = 2 THEN cnt END), 0) AS top2_cnt,
              coalesce(max(CASE WHEN n = 3 THEN cnt END), 0) AS top3_cnt,
              coalesce(max(CASE WHEN n = 4 THEN cnt END), 0) AS top4_cnt
       FROM gc GROUP BY doc_id),
a5 AS (SELECT a4.*,
              floor(gt.top2_cnt * 100 / greatest(len(aw) - 1, 1)) AS top2a_pct,
              floor(gt.top3_cnt * 100 / greatest(len(aw) - 2, 1)) AS top3a_pct,
              floor(gt.top4_cnt * 100 / greatest(len(aw) - 3, 1)) AS top4a_pct
       FROM a4 JOIN gt USING (doc_id)),
-- duplicate-n-gram char fractions over the repetition-planted text
-- (every 13th doc re-appends its own first 12 words); interval-union
-- coverage of >=2x grams, token characters only — mirrors
-- analytics.dup_ngram_char_fractions exactly
r0 AS (SELECT doc_id, string_split(
          CASE WHEN doc_id % 13 = 0
               THEN text || ' ' || array_to_string(string_split(text, ' ')[1:12], ' ')
               ELSE text END, ' ') AS rt FROM documents),
rtok AS (SELECT doc_id, s.i - 1 AS pos, length(rt[s.i]) AS tok_len
         FROM r0, unnest(generate_series(1, len(rt))) AS s(i)),
rtot AS (SELECT doc_id, sum(tok_len) AS total_chars FROM rtok GROUP BY doc_id),
rgr AS (SELECT doc_id, nn.n AS n, s.i - 1 AS start,
               array_to_string(rt[s.i : s.i + nn.n - 1], ' ') AS gram
        FROM r0, unnest([5,6,7,8,9,10]) AS nn(n),
             unnest(generate_series(1, greatest(len(rt) - nn.n + 1, 0))) AS s(i)),
rds AS (SELECT doc_id, n, start FROM
         (SELECT *, count(*) OVER (PARTITION BY doc_id, n, gram) AS cnt FROM rgr)
        WHERE cnt >= 2),
rcov AS (SELECT DISTINCT doc_id, n, p.pos
         FROM rds, unnest(generate_series(start, start + n - 1)) AS p(pos)),
rdch AS (SELECT doc_id, n, sum(tok_len) AS dup_chars
         FROM rcov JOIN rtok USING (doc_id, pos) GROUP BY doc_id, n),
rpct AS (SELECT rtot.doc_id AS doc_id,
         CAST(floor(coalesce(max(CASE WHEN rdch.n=5 THEN rdch.dup_chars END), 0) * 100 / greatest(rtot.total_chars, 1)) AS BIGINT) AS dup_5gram_char_pct,
         CAST(floor(coalesce(max(CASE WHEN rdch.n=6 THEN rdch.dup_chars END), 0) * 100 / greatest(rtot.total_chars, 1)) AS BIGINT) AS dup_6gram_char_pct,
         CAST(floor(coalesce(max(CASE WHEN rdch.n=7 THEN rdch.dup_chars END), 0) * 100 / greatest(rtot.total_chars, 1)) AS BIGINT) AS dup_7gram_char_pct,
         CAST(floor(coalesce(max(CASE WHEN rdch.n=8 THEN rdch.dup_chars END), 0) * 100 / greatest(rtot.total_chars, 1)) AS BIGINT) AS dup_8gram_char_pct,
         CAST(floor(coalesce(max(CASE WHEN rdch.n=9 THEN rdch.dup_chars END), 0) * 100 / greatest(rtot.total_chars, 1)) AS BIGINT) AS dup_9gram_char_pct,
         CAST(floor(coalesce(max(CASE WHEN rdch.n=10 THEN rdch.dup_chars END), 0) * 100 / greatest(rtot.total_chars, 1)) AS BIGINT) AS dup_10gram_char_pct
         FROM rtot LEFT JOIN rdch ON rtot.doc_id = rdch.doc_id
         GROUP BY rtot.doc_id, rtot.total_chars),
tri AS (
  SELECT doc_id,
         unnest([substr(text, i, 3) FOR i IN generate_series(1, len(text) - 2)]) AS tg
  FROM documents WHERE len(text) >= 3),
tm AS (SELECT tg, count(*) AS c FROM tri GROUP BY tg),
ts AS (SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM tm),
tb AS (SELECT tri.doc_id,
              CAST(round(avg(-log2((tm.c + 1.0) / (ts.n + ts.v))), 2) AS DOUBLE)
              AS tri_bits
       FROM tri JOIN tm USING (tg), ts GROUP BY tri.doc_id),
-- per-line language mixing over the synthesized multilingual text
-- (doc_id%3 gains a French line, %5 a German line); the lmp body is
-- GENERATED from the same constants as the Spark expression
-- (_lang_pred_sql, token-spliced after both are defined)
lmx0 AS (SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '__LMFR__' ELSE '' END
              || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '__LMDE__' ELSE '' END AS mtext
         FROM documents),
lml0 AS (SELECT doc_id, string_split(mtext, chr(10)) AS ls FROM lmx0),
lml AS (SELECT doc_id, u.i AS line_no, ls[u.i] AS text
        FROM lml0, unnest(generate_series(1, len(ls))) AS u(i)
        WHERE length(ls[u.i]) >= 20),
lmp AS (__LANGMIX_PRED__),
lmc AS (SELECT doc_id, pred_lang, count(*) AS c FROM lmp GROUP BY 1, 2),
lma AS (SELECT doc_id, max(struct_pack(c := c, l := pred_lang)) AS mm,
               sum(c) AS ns, count(*) AS nl
        FROM lmc GROUP BY 1)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       (lma.mm).l AS dominant_line_lang,
       CAST(coalesce((lma.mm).c, 0) AS BIGINT) AS dom_line_cnt,
       CAST(coalesce(lma.ns, 0) AS BIGINT) AS n_scored_lines,
       CAST(coalesce(lma.nl, 0) AS BIGINT) AS n_line_langs,
       CAST(floor(len(list_distinct(t)) * 100 / len(t)) AS BIGINT) AS ttr_pct,
       CAST(floor(len(list_filter(t, x -> x IN ('the','a','of','and','in'))) * 100 / len(t)) AS BIGINT) AS stopword_pct,
       CAST(floor(length(text) * 10 / len(t)) AS BIGINT) AS mean_token_len_x10,
       CAST(floor(coalesce(list_max([len(list_filter(g2, x -> x = d)) FOR d IN list_distinct(g2)]), 0) * 100 / greatest(len(g2), 1)) AS BIGINT) AS top_2gram_pct,
       length(text) >= 100 AS len_ok,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(bullet_pct AS BIGINT) AS bullet_line_pct,
       CAST(ellipsis_pct AS BIGINT) AS ellipsis_line_pct,
       CAST(symbol_pct AS BIGINT) AS symbol_word_pct,
       CAST(alpha_pct AS BIGINT) AS alpha_word_pct,
       CAST(stop_hits AS BIGINT) AS gopher_stop_hits,
       CAST(dup_line_pct AS BIGINT) AS dup_line_pct,
       CAST(dup_line_char_pct AS BIGINT) AS dup_line_char_pct,
       CAST(top3a_pct AS BIGINT) AS top_3gram_pct,
       CAST(top4a_pct AS BIGINT) AS top_4gram_pct,
       (n_words BETWEEN 50 AND 100000 AND mean_x10 BETWEEN 30 AND 100
        AND symbol_pct <= 10 AND alpha_pct >= 80 AND stop_hits >= 2
        AND bullet_pct <= 90 AND ellipsis_pct <= 30
        AND dup_line_pct <= 30 AND dup_line_char_pct <= 20
        AND top2a_pct <= 20 AND top3a_pct <= 18 AND top4a_pct <= 16) AS gopher_pass,
       -- (reads from a5, which joins the per-doc top n-gram counts)
       has_lorem AS has_lorem_ipsum,
       has_curly AS has_curly_brace,
       has_js AS has_javascript,
       CAST(terminal_lines AS BIGINT) AS n_sentences,
       CAST(floor(keep_lines * 100 / n_lines) AS BIGINT) AS c4_keep_line_pct,
       (terminal_lines >= 5 AND NOT has_lorem AND NOT has_curly AND NOT has_js) AS c4_pass,
       rpct.dup_5gram_char_pct, rpct.dup_6gram_char_pct, rpct.dup_7gram_char_pct,
       rpct.dup_8gram_char_pct, rpct.dup_9gram_char_pct, rpct.dup_10gram_char_pct,
       ((n_words BETWEEN 50 AND 100000 AND mean_x10 BETWEEN 30 AND 100
         AND symbol_pct <= 10 AND alpha_pct >= 80 AND stop_hits >= 2
         AND bullet_pct <= 90 AND ellipsis_pct <= 30
         AND dup_line_pct <= 30 AND dup_line_char_pct <= 20
         AND top2a_pct <= 20 AND top3a_pct <= 18 AND top4a_pct <= 16)
        AND rpct.dup_5gram_char_pct <= 15 AND rpct.dup_6gram_char_pct <= 14
        AND rpct.dup_7gram_char_pct <= 13 AND rpct.dup_8gram_char_pct <= 12
        AND rpct.dup_9gram_char_pct <= 11 AND rpct.dup_10gram_char_pct <= 10) AS gopher_pass_full,
       tb.tri_bits AS tri_bits
FROM a5 JOIN rpct USING (doc_id) LEFT JOIN tb USING (doc_id)
     LEFT JOIN lma USING (doc_id)
"""


def q_doc_fingerprints(spark, sf_dir):
    """Content fingerprint + PII redaction (analytics.pii_scrub) on one
    row (driver caps at 50 queries; clean_text itself is exercised via
    clean_md5, and the n_nums count via the digit-run tier). The corpus
    is PII-free, so each doc gets deterministic synthetic PII appended — an email, an IPv4 and a
    long digit run derived from doc_id, built with identical string
    expressions on both engines — and the oracle recomputes the redacted
    text verbatim: one regex-dialect divergence flips clean_md5.

    PLUS (r6) mojibake detection (analytics.mojibake_stats): doc_id % 3
    appends the classic artifact families — double-UTF-8 'cafÃ© menÃ¼'
    (tier 0: two hits, and the ranges must exclude ASCII so 'SÃO'-style
    legit text stays clean), cp1252 quotes + a U+FFFD (tier 1), nothing
    (tier 2) — and the oracle recounts all three regex families (RE2
    hex-escape spelling of the same char class) over the same appended
    text."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact"), d.cast("string"), F.lit("@mail.example.com"),
            F.lit(" from 10."), (d % 200).cast("string"), F.lit(".0."),
            (d % 250).cast("string"),
            F.lit(" ref 00"), (d + 1234567).cast("string"),
        ).alias("text"),
    )
    scrub = analytics.pii_scrub(pii)
    moji_append = (
        F.when(d % 3 == 0, F.lit(" cafÃ© menÃ¼"))
        .when(d % 3 == 1, F.lit(" itâ€™s â€œquoted�"))
        .otherwise(F.lit(""))
    )
    moji = analytics.mojibake_stats(
        docs.select("doc_id", F.concat(F.col("text"), moji_append).alias("text"))
    )
    return (
        analytics.doc_fingerprints(docs)
        .join(
            scrub.select(
                "doc_id", "n_emails", "n_ips", "n_nums",
                F.md5("clean_text").alias("clean_md5"),
            ),
            "doc_id",
        )
        .join(moji, "doc_id")
    )


O_DOC_FINGERPRINTS = """
WITH pii AS (
  SELECT doc_id,
         text || ' contact' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
              || ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.'
              || CAST(doc_id % 250 AS VARCHAR)
              || ' ref 00' || CAST(doc_id + 1234567 AS VARCHAR) AS t
  FROM documents),
staged AS (
  SELECT doc_id, t,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS s1
  FROM pii),
staged2 AS (
  SELECT doc_id, t, s1,
         regexp_replace(s1, '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS s2
  FROM staged),
moji AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0 THEN ' cafÃ© menÃ¼'
                      WHEN doc_id % 3 = 1 THEN ' itâ€™s â€œquoted�'
                      ELSE '' END AS mt
  FROM documents),
mojic AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(mt, 'Ã[\\x{80}-\\x{bf}]')) AS BIGINT) AS n_moji_utf8,
         CAST(len(regexp_extract_all(mt, 'â€')) AS BIGINT) AS n_moji_punct,
         CAST(len(regexp_extract_all(mt, '�')) AS BIGINT) AS n_moji_repl
  FROM moji)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       md5(d.text) AS fingerprint,
       CAST(len(regexp_extract_all(p.t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(p.s1, '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(p.s2, '\\b\\d{7,}\\b')) AS BIGINT) AS n_nums,
       md5(regexp_replace(p.s2, '\\b\\d{7,}\\b', '<NUM>', 'g')) AS clean_md5,
       m.n_moji_utf8, m.n_moji_punct, m.n_moji_repl,
       (m.n_moji_utf8 + m.n_moji_punct + m.n_moji_repl) > 0 AS mojibake
FROM documents d
JOIN staged2 p ON p.doc_id = d.doc_id
JOIN mojic m ON m.doc_id = d.doc_id
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (analytics.decontaminate): the eval set is
    synthesized as words 4..40 of the doc BELOW each doc_id % 97 == 0 (so
    planted contamination lands on NON-eval docs — except doc 0, whose
    eval slice comes from itself at the greatest(-1, 0) boundary), plus
    whatever other
    corpus docs naturally share a 13-gram. Eval grams broadcast; the
    corpus is never shuffled. Driver oracle runs the md5 hash basis
    (production default is xxhash64; basis equivalence pinned in
    tests/test_hash_basis.py)."""
    docs = _docs(spark, sf_dir)
    src = docs.select(F.col("doc_id").alias("src_id"), F.col("text").alias("src_text"))
    ev = (
        docs.where(F.col("doc_id") % 97 == 0)
        .select(F.greatest(F.col("doc_id") - 1, F.lit(0)).alias("src_id"))
        .join(src, "src_id")
        .select(F.array_join(F.slice(F.split("src_text", " "), 4, 37), " ").alias("text"))
    )
    out = analytics.decontaminate(docs, ev, n=13, hash_basis="md5")
    return out.select(
        "doc_id", "n_gram_hits", "contaminated",
        (F.col("doc_id") % 97 == 0).alias("is_eval"),
    )


O_DECONTAMINATE = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
ev_src AS (
  SELECT s.text AS text
  FROM documents e JOIN documents s ON s.doc_id = greatest(e.doc_id - 1, 0)
  WHERE e.doc_id % 97 = 0),
ev_tok AS (SELECT (string_split(text, ' '))[4:40] AS t FROM ev_src),
ev_g AS (SELECT DISTINCT unnest([md5(array_to_string(t[i:i+12], ' '))
                                 FOR i IN generate_series(1, len(t) - 12)]) AS g
         FROM ev_tok),
doc_g AS (SELECT doc_id, unnest(list_distinct([md5(array_to_string(t[i:i+12], ' '))
                                               FOR i IN generate_series(1, len(t) - 12)])) AS g
          FROM tok),
hits AS (SELECT doc_id, count(*) AS n FROM doc_g JOIN ev_g USING (g) GROUP BY 1)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_gram_hits,
       coalesce(h.n, 0) > 0 AS contaminated,
       d.doc_id % 97 = 0 AS is_eval
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


def q_ann_topk(spark, sf_dir):
    return analytics.ann_topk(_emb(spark, sf_dir), num_queries=5, k=5)


O_ANN_TOPK = """
SELECT CAST(q.vec_id AS BIGINT) AS query_id, CAST(e.vec_id AS BIGINT) AS neighbor_id,
       CAST(row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC, e.vec_id
       ) AS BIGINT) AS rank
FROM embeddings q, embeddings e
WHERE q.vec_id < 5 AND e.vec_id != q.vec_id
QUALIFY rank <= 5
"""


def q_media_sniff(spark, sf_dir):
    """Multimodal metadata plumbing: synthesize header payloads (dims
    derived from doc_id) across a 6-container matrix — PNG IHDR / WebP
    VP8L header bits / WebP VP8X canvas (the lossy-file shape whose PIXEL
    decode degrades but whose metadata must still come out) / ICO
    directory / SVG root-tag attributes / AVIF ispe property box — and
    run the binary sniff + header-dimension stage."""
    import struct

    import pandas as pd

    from .multimodal import extract_media_metadata

    docs = _docs(spark, sf_dir)

    def build(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                w = 100 + d % 500
                h = 50 + d % 300
                mode = d % 6
                if mode == 0:  # PNG IHDR
                    payload = (
                        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
                        + struct.pack(">II", w, h) + b"\x08"
                    )
                elif mode == 1:  # WebP VP8L: 14-bit minus-one dims, LSB-first
                    bits = (w - 1) | ((h - 1) << 14)
                    body = b"\x2f" + bits.to_bytes(4, "little")
                    payload = (
                        b"RIFF" + struct.pack("<I", 4 + 8 + len(body))
                        + b"WEBPVP8L" + struct.pack("<I", len(body)) + body
                    )
                elif mode == 2:  # WebP VP8X: 24-bit minus-one canvas
                    body = (
                        b"\x00\x00\x00\x00"
                        + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
                    )
                    payload = (
                        b"RIFF" + struct.pack("<I", 4 + 8 + len(body))
                        + b"WEBPVP8X" + struct.pack("<I", len(body)) + body
                    )
                elif mode == 3:  # ICO directory (single-byte dims, 1..255)
                    wi, hi = 1 + d % 255, 1 + d % 200
                    payload = (
                        b"\x00\x00\x01\x00\x01\x00"
                        + bytes([wi, hi, 0, 0]) + struct.pack("<HHII", 1, 32, 0, 22)
                    )
                elif mode == 4:  # SVG root tag
                    payload = (
                        b'<?xml version="1.0"?>\n<svg xmlns="http://www.w3.org/2000/svg"'
                        b' width="' + str(w).encode() + b'px" height="'
                        + str(h).encode() + b'"><rect/></svg>'
                    )
                else:  # AVIF: ftyp + meta{iprp{ipco{ispe}}}
                    def _box(t, body):
                        return (8 + len(body)).to_bytes(4, "big") + t + body
                    ispe = _box(
                        b"ispe",
                        b"\x00\x00\x00\x00" + w.to_bytes(4, "big") + h.to_bytes(4, "big"),
                    )
                    payload = _box(b"ftyp", b"avifmif1") + _box(
                        b"meta",
                        b"\x00\x00\x00\x00" + _box(b"iprp", _box(b"ipco", ispe)),
                    )
                rows.append({"media_id": d, "kind": "image", "payload": payload,
                             "mime": "", "source_url": ""})
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "mime", "source_url"])

    media = analytics.spread_small_input(docs).mapInPandas(
        build, "media_id long, kind string, payload binary, mime string, source_url string"
    )
    return extract_media_metadata(media).select(
        "media_id",
        "mime_sniffed",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "error",
    )


O_MEDIA_SNIFF = """
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CASE doc_id % 6 WHEN 0 THEN 'image/png'
                       WHEN 3 THEN 'image/x-icon'
                       WHEN 4 THEN 'image/svg+xml'
                       WHEN 5 THEN 'image/avif'
                       ELSE 'image/webp' END AS mime_sniffed,
       CAST(CASE WHEN doc_id % 6 = 3 THEN 1 + doc_id % 255
                 ELSE 100 + doc_id % 500 END AS BIGINT) AS width,
       CAST(CASE WHEN doc_id % 6 = 3 THEN 1 + doc_id % 200
                 ELSE 50 + doc_id % 300 END AS BIGINT) AS height,
       '' AS error
FROM documents
"""


# Portable payload construction (PNG header + md5-derived filler), shared
# verbatim by the Spark builder and the DuckDB oracle so the byte-feature
# stage is value-verifiable without any codec.
_MEDIA_PAYLOAD_HEX = (
    "'89504e470d0a1a0a0000000d49484452' || lpad(lower(hex(100 + doc_id % 500)), 8, '0') || "
    "lpad(lower(hex(50 + doc_id % 300)), 8, '0') || '08' || "
    "repeat(md5('htmlx-media-' || CAST(doc_id AS VARCHAR)), 4)"
)


def q_media_frame_features(spark, sf_dir):
    """Frame-sampling / byte-feature plumbing MERGED with perceptual
    dHash near-dup into one level-tagged row (driver caps at 50).

    level='features': deterministic binary payloads -> mapInPandas
    feature stage (hex-basis digests, sampled frame hashes, byte
    entropy) — the codec-free analogue of the decode/resize/frame-sample
    stage. The per-media digests fold into one md5 chain (k) so a single
    wrong frame digest still flips the row.

    level='dhash' (r6): REAL decode -> perceptual difference hash.
    Each doc synthesizes a 24-bit BMP horizontal gradient (w = 9 +
    doc_id%60, h = 8 + doc_id%8, value 2x so integer block means stay
    STRICTLY monotonic at every size): even docs left-to-right (dHash =
    all-ones = 0xffff...ff), odd docs right-to-left (all-zero), and the
    doc_id%12==0 subset zeroes the top-right block so exactly bit (0,7)
    flips — three known hash constants across varying dims pin decode +
    grayscale + block-mean + bit order end-to-end. k = 16-hex dhash,
    n1 = bucket size, n2 = sum(doc_id) membership checksum.

    level='dhashpair' (r6): dhash_near_dup over the distinct hash set
    (one representative per bucket, min media_id): banded-LSH + XOR
    popcount verify must find exactly the Hamming-1 pair between the
    perturbed and all-ones classes. k = 'hex_a:hex_b', n1 = hamming,
    n2 = pair count.

    level='ehash'/'ehashpair' (r6): the AUDIO twin — REAL WAV decode ->
    envelope difference hash (audio_ehash). Each doc synthesizes a
    PCM-16 WAV amplitude ramp (n = 72 + doc_id%100 frames, rate
    8000 + 4000*(doc_id%3), even docs STEREO increasing -> all-ones
    hash, odd docs mono decreasing -> all-zero, doc_id%12==0 zeroes the
    final 1/72 segment so exactly the LAST comparison flips ->
    ...fffe); constants across varying length/rate/channels pin decode
    + mono mix + segment means + bit order, and the pairing level must
    find exactly the Hamming-1 (fffe, ffff) pair through the SAME
    hash-agnostic banded machinery as images."""
    import pandas as pd

    from .multimodal import (
        dhash_near_dup,
        extract_audio_ehash,
        extract_image_dhash,
        extract_media_features,
    )

    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.unhex(F.expr(_MEDIA_PAYLOAD_HEX.replace("AS VARCHAR", "AS STRING"))).alias("payload"),
    )
    # extract_media_features is a Python (mapInPandas) stage: spread it
    # off the single input split like every other decode tier
    feat_level = extract_media_features(analytics.spread_small_input(media)).select(
        F.lit("features").alias("level"),
        F.col("media_id"),
        F.md5(
            F.concat_ws("|", "payload_md5", "frame0", "frame1", "frame2", "frame3")
        ).alias("k"),
        F.col("byte_len").cast("long").alias("n1"),
        F.col("entropy_x1000").cast("long").alias("n2"),
    )

    def build_gradients(batches):
        import numpy as np

        from .tiffbmp import encode_bmp

        for pdf in batches:
            rows = []
            for doc_id in pdf.media_id:
                d = int(doc_id)
                w, h = 9 + d % 60, 8 + d % 8
                if d % 2 == 0:
                    g = np.tile((2 * np.arange(w)).astype(np.uint8), (h, 1))
                    if d % 12 == 0:
                        g = g.copy()
                        g[: h // 8, 8 * w // 9 :] = 0
                else:
                    g = np.tile(
                        (2 * (w - 1 - np.arange(w))).astype(np.uint8), (h, 1)
                    )
                rows.append(
                    {
                        "media_id": d,
                        "payload": bytearray(encode_bmp(np.stack([g] * 3, axis=2))),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    grads = analytics.spread_small_input(
        docs.select(F.col("doc_id").cast("long").alias("media_id"))
    ).mapInPandas(build_gradients, "media_id long, payload binary")
    hashes = extract_image_dhash(grads)
    hex16 = F.lpad(F.lower(F.hex("dhash")), 16, "0")
    dhash_level = (
        hashes.groupBy("dhash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n1"),
            F.sum("media_id").cast("long").alias("n2"),
        )
        .select(
            F.lit("dhash").alias("level"),
            F.lit(-1).cast("long").alias("media_id"),
            hex16.alias("k"),
            "n1",
            "n2",
        )
    )
    reps = hashes.groupBy("dhash").agg(F.min("media_id").alias("media_id"))
    pair_level = (
        dhash_near_dup(reps)
        .join(reps.select(F.col("media_id").alias("id_a"), F.col("dhash").alias("__ha")), "id_a")
        .join(reps.select(F.col("media_id").alias("id_b"), F.col("dhash").alias("__hb")), "id_b")
        .groupBy(
            F.concat(
                F.lpad(F.lower(F.hex("__ha")), 16, "0"),
                F.lit(":"),
                F.lpad(F.lower(F.hex("__hb")), 16, "0"),
            ).alias("k"),
            F.col("hamming").cast("long").alias("n1"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n2"))
        .select(
            F.lit("dhashpair").alias("level"),
            F.lit(-1).cast("long").alias("media_id"),
            "k",
            "n1",
            "n2",
        )
    )
    def build_waves(batches):
        import numpy as np

        from .multimodal import encode_wav

        for pdf in batches:
            rows = []
            for doc_id in pdf.media_id:
                d = int(doc_id)
                n = 72 + d % 100
                rate = 8000 + 4000 * (d % 3)
                x = 2 * np.arange(n)
                if d % 2 == 1:
                    x = x[::-1].copy()
                elif d % 12 == 0:
                    x = x.copy()
                    x[71 * n // 72:] = 0
                samples = np.stack([x, x], axis=1) if d % 2 == 0 else x
                rows.append(
                    {"media_id": d, "payload": bytearray(encode_wav(samples, rate))}
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    waves = analytics.spread_small_input(
        docs.select(F.col("doc_id").cast("long").alias("media_id"))
    ).mapInPandas(build_waves, "media_id long, payload binary")
    ehashes = extract_audio_ehash(waves)
    ehex16 = F.lpad(F.lower(F.hex("ehash")), 16, "0")
    ehash_level = (
        ehashes.groupBy("ehash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n1"),
            F.sum("media_id").cast("long").alias("n2"),
        )
        .select(
            F.lit("ehash").alias("level"),
            F.lit(-1).cast("long").alias("media_id"),
            ehex16.alias("k"),
            "n1",
            "n2",
        )
    )
    ereps = ehashes.groupBy("ehash").agg(F.min("media_id").alias("media_id"))
    epair_level = (
        dhash_near_dup(ereps, hash_col="ehash")
        .join(
            ereps.select(F.col("media_id").alias("id_a"), F.col("ehash").alias("__ha")),
            "id_a",
        )
        .join(
            ereps.select(F.col("media_id").alias("id_b"), F.col("ehash").alias("__hb")),
            "id_b",
        )
        .groupBy(
            F.concat(
                F.lpad(F.lower(F.hex("__ha")), 16, "0"),
                F.lit(":"),
                F.lpad(F.lower(F.hex("__hb")), 16, "0"),
            ).alias("k"),
            F.col("hamming").cast("long").alias("n1"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n2"))
        .select(
            F.lit("ehashpair").alias("level"),
            F.lit(-1).cast("long").alias("media_id"),
            "k",
            "n1",
            "n2",
        )
    )
    # level='imgtext' (r9): (image, caption, quality) PAIR construction
    # over the SAME decoded gradient set (pix=hashes — one decode pass).
    # Captions synthesized per doc_id exercise the alt->title fallback
    # and every caption gate; dedup runs the real banded-Hamming +
    # connected-components machinery over the three hash classes, so
    # the keepers (min gate-passing doc per component; the zero class
    # alone, feff merged into ones at Hamming 1) fall out of the
    # pipeline, while the oracle recomputes them from the same modular
    # arithmetic. k folds caption, replayed language, reason, and the
    # pinned dhash constant per row.
    from .multimodal import image_text_pairs

    d = F.col("doc_id")
    alt = (
        F.when(d % 29 == 0, F.lit(""))
        .when(d % 19 == 0, F.repeat(F.lit("very "), 120))
        .when(d % 7 == 0, F.lit("tiny"))
        .when(d % 13 == 0, F.lit(_LANGMIX_FR))
        .when(d % 5 == 0, F.lit(""))
        .otherwise(F.lit("a nice photo of the sea"))
    )
    title = F.when(
        (d % 29 != 0) & (d % 19 != 0) & (d % 7 != 0) & (d % 13 != 0) & (d % 5 == 0),
        F.lit("a calm photo of the lake"),
    ).otherwise(F.lit(""))
    imgs = docs.select(
        d.cast("long").alias("page_id"),
        d.cast("long").alias("media_id"),
        F.concat(
            F.lit("https://h"),
            (d % 50).cast("string"),
            F.lit(".example/img"),
            d.cast("string"),
            F.lit(".bmp"),
        ).alias("src"),
        alt.alias("alt"),
        title.alias("title"),
    )
    itp = image_text_pairs(imgs, pix=hashes)
    imgtext_level = itp.select(
        F.lit("imgtext").alias("level"),
        F.col("media_id"),
        F.md5(
            F.concat_ws(
                ":",
                F.coalesce(F.col("caption"), F.lit("")),
                F.col("caption_lang"),
                F.col("reason"),
                F.lpad(F.lower(F.hex("dhash")), 16, "0"),
            )
        ).alias("k"),
        F.col("caption_bytes").cast("long").alias("n1"),
        F.col("keep").cast("long").alias("n2"),
    )
    return (
        feat_level.unionByName(dhash_level)
        .unionByName(pair_level)
        .unionByName(ehash_level)
        .unionByName(epair_level)
        .unionByName(imgtext_level)
    )


O_MEDIA_FRAME_FEATURES = f"""
WITH p AS (SELECT doc_id, {_MEDIA_PAYLOAD_HEX} AS h FROM documents),
b AS (SELECT doc_id, h, CAST(length(h) / 2 AS BIGINT) AS byte_len FROM p),
e AS (SELECT *, [substr(h, 2 * i - 1, 2) FOR i IN generate_series(1, CAST(byte_len AS INTEGER))] AS pairs FROM b),
-- imgtext level: caption synthesis (alt->title fallback pre-collapsed),
-- pinned dhash constants, component = zero class alone / feff+ones
-- merged at Hamming 1 (the pair structure the dhashpair level pins)
icaps AS (
  SELECT doc_id,
    CASE WHEN doc_id % 29 = 0 THEN NULL
         WHEN doc_id % 19 = 0 THEN trim(repeat('very ', 120))
         WHEN doc_id % 7 = 0 THEN 'tiny'
         WHEN doc_id % 13 = 0 THEN '__LMFR__'
         WHEN doc_id % 5 = 0 THEN 'a calm photo of the lake'
         ELSE 'a nice photo of the sea' END AS caption,
    CASE WHEN doc_id % 2 = 1 THEN '0000000000000000'
         WHEN doc_id % 12 = 0 THEN 'feffffffffffffff'
         ELSE 'ffffffffffffffff' END AS dh,
    CASE WHEN doc_id % 2 = 1 THEN 'z' ELSE 'm' END AS comp
  FROM documents),
icapt AS (SELECT doc_id, caption AS text FROM icaps),
ilang AS (SELECT doc_id, pred_lang FROM (__IMGTEXT_LANG__)),
ikeep AS (
  SELECT comp, min(c.doc_id) AS keeper
  FROM icaps c JOIN ilang l ON l.doc_id = c.doc_id
  WHERE c.caption IS NOT NULL AND strlen(c.caption) >= 5
        AND strlen(c.caption) <= 512 AND l.pred_lang = 'en'
  GROUP BY comp),
irows AS (
  SELECT c.doc_id, c.caption, l.pred_lang, c.dh,
         CASE WHEN c.caption IS NULL THEN 'no_caption'
              WHEN strlen(c.caption) < 5 THEN 'caption_too_short'
              WHEN strlen(c.caption) > 512 THEN 'caption_too_long'
              WHEN l.pred_lang <> 'en' THEN 'caption_lang'
              WHEN c.doc_id <> k.keeper THEN 'near_dup_image'
              ELSE '' END AS reason
  FROM icaps c
  JOIN ilang l ON l.doc_id = c.doc_id
  JOIN ikeep k ON k.comp = c.comp)
SELECT 'features' AS level, CAST(doc_id AS BIGINT) AS media_id,
  md5(md5(h) || '|'
      || md5(substr(h, 2 * ((0 * (byte_len - 16)) // 3) + 1, 32)) || '|'
      || md5(substr(h, 2 * ((1 * (byte_len - 16)) // 3) + 1, 32)) || '|'
      || md5(substr(h, 2 * ((2 * (byte_len - 16)) // 3) + 1, 32)) || '|'
      || md5(substr(h, 2 * ((3 * (byte_len - 16)) // 3) + 1, 32))) AS k,
  byte_len AS n1,
  CAST(floor(1000 * list_sum(list_transform(
        map_values(list_aggregate(pairs, 'histogram')),
        c -> -(c * 1.0 / byte_len) * log2(c * 1.0 / byte_len)))) AS BIGINT) AS n2
FROM e
UNION ALL
SELECT 'dhash', -1,
       CASE WHEN doc_id % 2 = 1 THEN '0000000000000000'
            WHEN doc_id % 12 = 0 THEN 'feffffffffffffff'
            ELSE 'ffffffffffffffff' END AS k,
       CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
FROM documents GROUP BY 3
UNION ALL
SELECT 'dhashpair', -1, 'feffffffffffffff:ffffffffffffffff', 1, 1
UNION ALL
SELECT 'ehash', -1,
       CASE WHEN doc_id % 2 = 1 THEN '0000000000000000'
            WHEN doc_id % 12 = 0 THEN 'fffffffffffffffe'
            ELSE 'ffffffffffffffff' END AS k,
       CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
FROM documents GROUP BY 3
UNION ALL
SELECT 'ehashpair', -1, 'fffffffffffffffe:ffffffffffffffff', 1, 1
UNION ALL
SELECT 'imgtext', CAST(doc_id AS BIGINT),
       md5(coalesce(caption, '') || ':' || pred_lang || ':' || reason || ':' || dh),
       CAST(coalesce(strlen(caption), 0) AS BIGINT),
       CAST((reason = '') AS BIGINT)
FROM irows
"""


def q_pdf_metadata(spark, sf_dir):
    """PDF structural parse + EMBEDDED IMAGE XOBJECT decode in ONE pass
    (pdf.extract_pdf_profile): each synthesized PDF carries one image
    stream, doc_id % 4 picking the tier —
      0 -> DCTDecode baseline grayscale (in-repo jpeg.decode_jpeg)
      1 -> DCTDecode PROGRESSIVE color 4:4:4 (SOF2; gray triplets)
      2 -> FlateDecode raw DeviceRGB samples
      3 -> JPXDecode (genuinely external: per-image decoder_unavailable,
           structural fields still real)
    DCT rasters are block-constant JFIFs (8x8 luma block b follows
    v = (doc_id*31 + b*7) % 256, all-ones quant => bit-exact), so the
    oracle recomputes the pixel digest from the formula with no codec.
    ODD doc_ids use the modern-PDF layout: page dicts + the Info dict
    packed into a Flate-compressed /Type /ObjStm — n_pages and title
    only come out if the structural parse decodes object streams, and
    n_objects/n_streams shift to the layout's counts (oracle branches
    on parity)."""
    import pandas as pd

    from .pdf import extract_pdf_profile

    docs = _docs(spark, sf_dir)

    def build(batches):
        import numpy as np

        from .jpeg import encode_jpeg

        for pdf in batches:
            rows = []
            for doc_id, source in zip(pdf.doc_id, pdf.source):
                d = int(doc_id)
                k = d // 4
                pages = 1 + d % 5
                # encrypted tier (r6): did%7==3 docs use the standard
                # security handler (empty user password, cycling
                # RC4-128/AES-128/AES-256-R6) — every structural field,
                # the decrypted Info title (plain layout: encrypted
                # STRING; ObjStm layout: title inside the encrypted
                # stream), and the image pixel digest must come out
                # IDENTICAL to the unencrypted layout (+1 n_objects for
                # the /Encrypt dict). Encryption must be transparent.
                crypto = None
                if d % 7 == 3:
                    entry = _pdf_enc_tiers()["tiers"][d % 3]
                    crypto = entry[0]
                body = b"%PDF-1.7\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
                objstm = d % 2 == 1
                if objstm:
                    # modern-PDF layout: page dicts + the Info dict live
                    # INSIDE a compressed /Type /ObjStm — the structural
                    # parse must decode it or n_pages/title break
                    from .pdf import encode_object_stream

                    packed = [(2 + i, b"<< /Type /Page >>") for i in range(pages)]
                    packed.append((9, b"<< /Title (Doc %d) >>" % d))
                    stm = encode_object_stream(packed)
                    if crypto is not None:
                        # encrypt the ObjStm stream body (packed strings
                        # are then covered by it, §7.6.2 note 2)
                        ds = stm.index(b">>\nstream\n")
                        head, raw = stm[: ds + 2], stm[ds + 10 : -len(b"\nendstream")]
                        enc = crypto.encrypt(raw, 7, 0, iv=_ENC_IV)
                        head = head.replace(
                            b"/Length %d" % len(raw), b"/Length %d" % len(enc)
                        )
                        stm = head + b"\nstream\n" + enc + b"\nendstream"
                    body += b"7 0 obj\n" + stm + b"\nendobj\n"
                else:
                    for i in range(pages):
                        body += b"%d 0 obj\n<< /Type /Page >>\nendobj\n" % (2 + i)
                mode = d % 4
                if mode in (0, 1):
                    w, h = 8 * (1 + k % 4), 8 * (1 + k % 3)
                    bw = w // 8
                    bi = np.arange((h // 8) * bw)
                    vals = ((d * 31 + bi * 7) % 256).astype(np.uint8).reshape(h // 8, bw)
                    y = np.repeat(np.repeat(vals, 8, 0), 8, 1)
                    if mode == 0:
                        data = encode_jpeg(y)
                    else:
                        ycc = np.stack([y, np.full_like(y, 128), np.full_like(y, 128)], 2)
                        data = encode_jpeg(ycc, subsampling=(1, 1), progressive=True)
                    filt = b" /Filter /DCTDecode"
                    geom = b""
                elif mode == 2:
                    import zlib

                    w, h = 5 + k % 9, 3 + k % 5
                    raw = ((d * 31 + np.arange(w * h * 3) * 7) % 256).astype(np.uint8)
                    data = zlib.compress(raw.tobytes())
                    filt = b" /Filter /FlateDecode"
                    geom = (
                        b" /Width " + str(w).encode() + b" /Height " + str(h).encode()
                        + b" /BitsPerComponent 8 /ColorSpace /DeviceRGB"
                    )
                else:
                    data = b"\x00jp2-not-decodable" + bytes([d % 256]) * 16
                    filt = b" /Filter /JPXDecode"
                    geom = b" /Width 4 /Height 4"
                if crypto is not None:
                    data = crypto.encrypt(data, 8, 0, iv=_ENC_IV)
                body += (
                    b"8 0 obj\n<< /Subtype /Image" + geom + filt
                    + b" /Length " + str(len(data)).encode()
                    + b" >>\nstream\n" + data + b"\nendstream\nendobj\n"
                )
                if not objstm:
                    if crypto is not None:
                        # Info strings are encrypted under /StrF: emit the
                        # title as a ciphertext hex string
                        ct = crypto.encrypt(b"Doc %d" % d, 9, 0, iv=_ENC_IV)
                        body += (
                            b"9 0 obj\n<< /Title <" + ct.hex().encode()
                            + b"> >>\nendobj\n"
                        )
                    else:
                        body += b"9 0 obj\n<< /Title (Doc %d) >>\nendobj\n" % d
                if crypto is not None:
                    body += _enc_tail(_pdf_enc_tiers()["tiers"][d % 3], num=20)
                body += b"%%EOF\n"
                rows.append(
                    {"url": f"https://{source}.example.com/doc/{doc_id}.pdf", "payload": body}
                )
            yield pd.DataFrame(rows, columns=["url", "payload"])

    pdfs = analytics.spread_small_input(docs).mapInPandas(build, "url string, payload binary")
    return extract_pdf_profile(pdfs).select(
        "url",
        "pdf_version",
        F.col("n_pages").cast("long").alias("n_pages"),
        F.col("n_objects").cast("long").alias("n_objects"),
        F.col("n_streams").cast("long").alias("n_streams"),
        "title",
        F.col("n_images").cast("long").alias("n_images"),
        "img_width",
        "img_height",
        "img_channels",
        "img_filter",
        "img_px_md5",
        "img_error",
        "error",
    )


O_PDF_METADATA = """
WITH d AS (
  SELECT doc_id, source, doc_id // 4 AS k, doc_id % 4 AS mode FROM documents),
geom AS (
  SELECT *, CASE WHEN mode IN (0, 1) THEN 8 * (1 + k % 4)
                 WHEN mode = 2 THEN 5 + k % 9 ELSE 0 END AS w,
            CASE WHEN mode IN (0, 1) THEN 8 * (1 + k % 3)
                 WHEN mode = 2 THEN 3 + k % 5 ELSE 0 END AS h,
            CASE WHEN mode = 0 THEN 1 WHEN mode = 3 THEN 0 ELSE 3 END AS c
  FROM d),
px AS (
  SELECT *, CASE
     WHEN mode = 0 THEN
       [(doc_id * 31 + ((i // w) // 8 * (w // 8) + (i % w) // 8) * 7) % 256
        FOR i IN generate_series(0, w * h - 1)]
     WHEN mode = 1 THEN
       flatten([[(doc_id * 31 + ((i // w) // 8 * (w // 8) + (i % w) // 8) * 7) % 256,
                 (doc_id * 31 + ((i // w) // 8 * (w // 8) + (i % w) // 8) * 7) % 256,
                 (doc_id * 31 + ((i // w) // 8 * (w // 8) + (i % w) // 8) * 7) % 256]
                FOR i IN generate_series(0, w * h - 1)])
     WHEN mode = 2 THEN
       [(doc_id * 31 + i * 7) % 256 FOR i IN generate_series(0, w * h * 3 - 1)]
     ELSE [] END AS raster
  FROM geom)
SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) || '.pdf' AS url,
       '1.7' AS pdf_version,
       CAST(1 + doc_id % 5 AS BIGINT) AS n_pages,
       -- odd docs: catalog + objstm + image top-level (3) plus /N
       -- packed objects (pages + the Info dict)
       -- encrypted docs (did%7==3) carry one extra top-level object
       -- (the /Encrypt dict); everything else must match unencrypted
       CAST(CASE WHEN doc_id % 2 = 1 THEN 5 + doc_id % 5
                 ELSE 4 + doc_id % 5 END
            + CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END AS BIGINT) AS n_objects,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 1 END AS BIGINT) AS n_streams,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       CAST(1 AS BIGINT) AS n_images,
       CAST(w AS BIGINT) AS img_width,
       CAST(h AS BIGINT) AS img_height,
       CAST(c AS BIGINT) AS img_channels,
       CASE WHEN mode IN (0, 1) THEN 'dct' WHEN mode = 2 THEN 'raw' ELSE '' END AS img_filter,
       CASE WHEN mode = 3 THEN ''
            ELSE md5(array_to_string([lpad(lower(to_hex(x)), 2, '0') FOR x IN raster], ''))
       END AS img_px_md5,
       CASE WHEN mode = 3 THEN 'decoder_unavailable' ELSE '' END AS img_error,
       '' AS error
FROM px
"""


def _tiny_dct_jpeg(d: int) -> bytes:
    """One flat 8x8 DCT-baseline JFIF (block-constant => bit-exact)."""
    import numpy as np

    from .jpeg import encode_jpeg

    return encode_jpeg(np.full((8, 8), (d * 31) % 256, np.uint8))


_ENC_IV = bytes(range(16))  # deterministic IV: byte-stable synthesized corpus

_PDF_ENC_TIERS = None


def _pdf_enc_tiers():
    """Deterministic empty-user-password encryption contexts for the
    synthesized PDF corpora — (PdfEncryption, encrypt_obj_bytes,
    trailer_bytes) per tier, plus a real-password variant whose /U never
    authenticates. The expensive file-key/O/U derivations (Algorithm 2 /
    2.A) run ONCE per Python worker and are cached; per-document work is
    only the per-object key MD5 + the stream cipher itself."""
    global _PDF_ENC_TIERS
    if _PDF_ENC_TIERS is not None:
        return _PDF_ENC_TIERS
    from .pdfcrypt import (
        PdfEncryption,
        derive_legacy_file_key,
        make_owner_value,
        make_user_value,
        make_v5_user_values,
    )

    id0 = bytes(range(16))

    def hx(b):
        return b"<" + b.hex().encode() + b">"

    # RC4 V2/R3/128
    o3 = make_owner_value(b"ownerpw", b"", r=3, length_bits=128)
    k3 = derive_legacy_file_key(o3, -44, id0, 3, 128)
    u3 = make_user_value(k3, id0, 3)
    rc4_dict = (
        b"<< /Filter /Standard /V 2 /R 3 /Length 128 /O " + hx(o3)
        + b" /U " + hx(u3) + b" /P -44 >>"
    )
    # AES-128 V4/R4 /CFM /AESV2
    o4 = make_owner_value(b"ownerpw", b"", r=4, length_bits=128)
    k4 = derive_legacy_file_key(o4, -44, id0, 4, 128)
    u4 = make_user_value(k4, id0, 4)
    aes128_dict = (
        b"<< /Filter /Standard /V 4 /R 4 /Length 128"
        b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
        b" /O " + hx(o4) + b" /U " + hx(u4) + b" /P -44 >>"
    )
    # AES-256 V5/R6 /CFM /AESV3 (no /ID needed)
    fk = bytes(range(32))
    u5, ue5 = make_v5_user_values(fk, r=6)
    aes256_dict = (
        b"<< /Filter /Standard /V 5 /R 6 /Length 256"
        b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF"
        b" /O " + hx(b"\x00" * 48) + b" /OE " + hx(b"\x00" * 32)
        + b" /U " + hx(u5) + b" /UE " + hx(ue5) + b" /P -44 >>"
    )
    # real-password variant: content genuinely RC4-encrypted, but /U can
    # never authenticate the empty password -> whole-row error='encrypted'
    bad_dict = rc4_dict.replace(hx(u3), hx(b"\xaa" * 32))
    _PDF_ENC_TIERS = {
        "idhex": hx(id0),
        "tiers": [
            (PdfEncryption(3, 2, k3, "rc4", ok=True), rc4_dict, True),
            (PdfEncryption(4, 4, k4, "aesv2", ok=True), aes128_dict, True),
            (PdfEncryption(6, 5, fk, "aesv3", ok=True), aes256_dict, False),
        ],
        "bad": (PdfEncryption(3, 2, k3, "rc4", ok=True), bad_dict, True),
    }
    return _PDF_ENC_TIERS


def _enc_tail(entry, num: int = 5) -> bytes:
    """/Encrypt object + trailer bytes for one fixture tier, with the
    encrypt dict at object `num` (callers pick a number their corpus
    doesn't already use)."""
    _crypto, dict_body, needs_id = entry
    idhex = _pdf_enc_tiers()["idhex"]
    obj = b"%d 0 obj\n" % num + dict_body + b"\nendobj\n"
    tr = b"trailer\n<< /Encrypt %d 0 R" % num
    if needs_id:
        tr += b" /ID [" + idhex + idhex + b"]"
    return obj + tr + b" >>\n"


def q_pdf_text(spark, sf_dir):
    """REAL PDF text extraction (pdf.py): synthesize single-page PDFs whose
    content stream carries the document text — doc_id%5 picks the filter:
    FlateDecode / LZWDecode (EarlyChange 0 on every other one) / raw /
    ASCIIHexDecode / an [ASCII85Decode FlateDecode] chain — and recover
    the text through the stdlib + pure-Python decoders + Tj/TJ operator
    evaluation. The oracle is exact
    because decode(encode(text)) must be byte-identical: latin-1-encodable
    text ships byte-per-char, anything else as a UTF-16BE-with-BOM text
    string (the PDF spec's other text encoding), and control bytes go out
    as octal \\ddd escapes — so the round-trip is exact for ALL unicode
    text, not just the latin-1-clean corpus of the moment. did%7==2 docs
    additionally ship ENCRYPTED (standard security handler, empty user
    password, cycling RC4-128/AES-128/AES-256-R6): the text must survive
    decrypt+defilter byte-identically, and the did%11==0 subset carries an
    unauthenticatable /U pinning the whole-row error='encrypted' degrade."""
    import pandas as pd

    from .pdf import encode_pdf_text_string, extract_pdf_documents, lzw_encode_pdf

    docs = _docs(spark, sf_dir)

    def build(batches):
        import zlib

        for pdf in batches:
            rows = []
            for doc_id, text, source in zip(pdf.doc_id, pdf.text, pdf.source):
                esc = encode_pdf_text_string(text)
                content = b"BT /F1 12 Tf 72 720 Td (" + esc + b") Tj ET"
                did = int(doc_id)
                if did % 5 == 0:
                    data = zlib.compress(content)
                    filt = b" /Filter /FlateDecode"
                elif did % 5 == 1:
                    ec = did % 2  # exercise both EarlyChange modes
                    data = lzw_encode_pdf(content, early_change=ec)
                    filt = (
                        b" /Filter /LZWDecode /DecodeParms << /EarlyChange "
                        + str(ec).encode() + b" >>"
                    )
                elif did % 5 == 3:
                    data = content.hex().encode("ascii") + b">"
                    filt = b" /Filter /ASCIIHexDecode"
                elif did % 5 == 4:
                    import base64

                    data = base64.a85encode(zlib.compress(content), adobe=True)[2:]
                    filt = b" /Filter [/ASCII85Decode /FlateDecode]"
                else:
                    data = content
                    filt = b""
                # every third doc also carries a DCT image XObject: the text
                # walk must SKIP image streams (a real PDF full of photos
                # still yields its text), so these rows pin n_streams=2 with
                # identical text
                # encrypted tier (r6): did%7==2 docs ship under the standard
                # security handler (cycling RC4-128 / AES-128 / AES-256-R6,
                # empty user password) — text must round-trip identically
                # through decryption; did%11==0 among them carries a /U that
                # never authenticates -> whole-row error='encrypted'
                crypto = tail = None
                if did % 7 == 2:
                    fx = _pdf_enc_tiers()
                    entry = fx["bad"] if did % 11 == 0 else fx["tiers"][did % 3]
                    crypto, tail = entry[0], _enc_tail(entry, num=5)
                    data = crypto.encrypt(data, 3, 0, iv=_ENC_IV)
                img = b""
                if did % 3 == 0:
                    jp = _tiny_dct_jpeg(did)
                    if crypto is not None:
                        jp = crypto.encrypt(jp, 4, 0, iv=_ENC_IV)
                    img = (
                        b"4 0 obj\n<< /Subtype /Image /Filter /DCTDecode /Length "
                        + str(len(jp)).encode() + b" >>\nstream\n" + jp
                        + b"\nendstream\nendobj\n"
                    )
                body = (
                    b"%PDF-1.7\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
                    b"2 0 obj\n<< /Type /Page /Contents 3 0 R >>\nendobj\n"
                    b"3 0 obj\n<< /Length " + str(len(data)).encode() + filt
                    + b" >>\nstream\n" + data + b"\nendstream\nendobj\n" + img
                    + (tail or b"") + b"%%EOF\n"
                )
                rows.append(
                    {"url": f"https://{source}.example.com/doc/{doc_id}.pdf", "payload": body}
                )
            yield pd.DataFrame(rows, columns=["url", "payload"])

    pdfs = analytics.spread_small_input(docs).mapInPandas(build, "url string, payload binary")
    return extract_pdf_documents(pdfs).select(
        "url", "text", F.col("n_streams").cast("long").alias("n_streams"), "error"
    )


O_PDF_TEXT = """
SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) || '.pdf' AS url,
       CASE WHEN doc_id % 7 = 2 AND doc_id % 11 = 0 THEN '' ELSE text END AS text,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_streams,
       CASE WHEN doc_id % 7 = 2 AND doc_id % 11 = 0 THEN 'encrypted' ELSE '' END AS error
FROM documents
"""


def q_media_pixel_decode(spark, sf_dir):
    """REAL pixel decode across the image-container matrix: byte i of the
    raster is (doc_id*31 + i*7) % 256 and doc_id % 6 picks the container —
    PNG gray sequential (filters y%5) / RGBA alternating PNG Adam7 with
    WebP VP8L (cycling predictor modes, subtract-green, color cache,
    LZ77) / palette alternating PNG PLTE with BMP RLE8 (runs + absolute
    segments) / PNG RGB Adam7 / BMP 24-bit
    alternating with TIFF RGB planar-config strips / TIFF gray
    cycling LZW+predictor big-endian strips, Deflate+predictor 5x4 tiles
    (edge tiles cropped), 16-bit big-endian, and CCITT bitonal (T.6/T.4/MH
    in turn — real T.4/T.6 run-length Huffman decode, ccitt.py) — then
    recover pixel-level features. The oracle
    recomputes the features from the generation formula, so a single
    wrong reconstructed byte in ANY container flips the digest."""
    import pandas as pd

    from .multimodal import encode_png, extract_pixel_features
    from .tiffbmp import encode_bmp, encode_tiff

    docs = _docs(spark, sf_dir)

    def build(batches):
        import numpy as np

        pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
        for pdf in batches:
            rows = []
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                w, h = 8 + d % 8, 4 + d % 4
                mode = d % 6
                if mode == 2:  # palette tier: PNG / BMP RLE8 (alternating),
                    # index raster follows the formula, gray-identity PLTE;
                    # the RLE variant repeats each value 3x so the stream
                    # mixes ENCODED RUNS with absolute segments
                    if (d // 6) % 2:
                        idx = ((d * 31 + (np.arange(w * h) // 3) * 7) % 256).astype(np.uint8)
                        payload = encode_bmp(idx.reshape(h, w), palette=pal, rle=True)
                    else:
                        idx = ((d * 31 + np.arange(w * h) * 7) % 256).astype(np.uint8)
                        payload = encode_png(
                            idx.reshape(h, w), palette=pal, row_filter=lambda y: y % 5
                        )
                elif mode == 4:  # BMP 24-bit / TIFF RGB planar (alternating)
                    raw = ((d * 31 + np.arange(w * h * 3) * 7) % 256).astype(np.uint8)
                    if (d // 6) % 2:
                        payload = encode_tiff(
                            raw.reshape(h, w, 3), compression=5, predictor=2,
                            planar=2, rows_per_strip=3,
                        )
                    else:
                        payload = encode_bmp(raw.reshape(h, w, 3))
                elif mode == 5:  # TIFF gray: LZW strips / Deflate tiles /
                    # 16-bit big-endian (high byte carries the formula) /
                    # CCITT bitonal (T.6, T.4, MH cycling by d % 3; ink
                    # where the formula byte < 128, decoded 0/255 gray)
                    raw = ((d * 31 + np.arange(w * h) * 7) % 256).astype(np.uint8)
                    variant = (d // 6) % 4
                    if variant == 3:
                        from .ccitt import encode_tiff_ccitt

                        ink = (raw < 128).astype(np.uint8)
                        payload = encode_tiff_ccitt(
                            ink.reshape(h, w), compression=(4, 3, 2)[d % 3]
                        )
                    elif variant == 1:
                        payload = encode_tiff(
                            raw.reshape(h, w), compression=8, predictor=2,
                            tile=(5, 4),
                        )
                    elif variant == 2:
                        deep = (raw.astype(np.uint16) << 8) | ((d + np.arange(w * h)) % 256)
                        payload = encode_tiff(
                            deep.reshape(h, w), compression=8, predictor=2,
                            byte_order=">", rows_per_strip=2, bit_depth=16,
                        )
                    else:
                        payload = encode_tiff(
                            raw.reshape(h, w), compression=5, predictor=2,
                            byte_order=">", rows_per_strip=3,
                        )
                elif mode == 1 and (d // 6) % 2:  # WebP VP8L (lossless RGBA)
                    from .vp8l import encode_vp8l

                    raw = ((d * 31 + np.arange(w * h * 4) * 7) % 256).astype(np.uint8)
                    payload = encode_vp8l(
                        raw.reshape(h, w, 4),
                        predictor_mode=(d // 12) % 14,
                        subtract_green=d % 3 == 0,
                        cache_bits=4 if d % 5 == 0 else 0,
                        lz77=True,
                    )
                else:
                    c = {0: 1, 1: 4, 3: 3}[mode]
                    raw = ((d * 31 + np.arange(w * h * c) * 7) % 256).astype(np.uint8)
                    payload = encode_png(
                        raw.reshape(h, w, c),
                        row_filter=lambda y: y % 5,
                        interlace=1 if mode in (1, 3) else 0,
                    )
                rows.append({"media_id": d, "payload": payload})
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = analytics.spread_small_input(docs).mapInPandas(build, "media_id long, payload binary")
    return extract_pixel_features(media).select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        "px_md5",
        "mean_x1000",
        "error",
    )


O_MEDIA_PIXEL_DECODE = """
WITH d AS (
  SELECT doc_id, 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h,
         CASE doc_id % 6 WHEN 0 THEN 1 WHEN 1 THEN 4 WHEN 5 THEN 1 ELSE 3 END AS c,
         doc_id % 6 AS mode
  FROM documents),
v AS (
  SELECT doc_id, w, h, c,
         CASE WHEN mode = 2 AND (doc_id // 6) % 2 = 1
              -- BMP RLE8 variant: values repeat 3x (run-friendly), index
              -- v expands to (v, v, v) via the gray-identity PLTE
              THEN flatten([[(doc_id * 31 + (i // 3) * 7) % 256,
                             (doc_id * 31 + (i // 3) * 7) % 256,
                             (doc_id * 31 + (i // 3) * 7) % 256]
                            FOR i IN generate_series(0, w * h - 1)])
              WHEN mode = 2
              -- PNG palette variant: index v expands to (v, v, v)
              THEN flatten([[(doc_id * 31 + i * 7) % 256,
                             (doc_id * 31 + i * 7) % 256,
                             (doc_id * 31 + i * 7) % 256]
                            FOR i IN generate_series(0, w * h - 1)])
              WHEN mode = 5 AND (doc_id // 6) % 4 = 3
              -- CCITT bitonal variant: ink where formula byte < 128,
              -- decoded to 0/255 gray (WhiteIsZero)
              THEN [CASE WHEN (doc_id * 31 + i * 7) % 256 < 128
                         THEN 0 ELSE 255 END
                    FOR i IN generate_series(0, w * h - 1)]
              ELSE [(doc_id * 31 + i * 7) % 256
                    FOR i IN generate_series(0, w * h * c - 1)] END AS px
  FROM d)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(c AS BIGINT) AS channels,
       md5(array_to_string([lpad(lower(to_hex(x)), 2, '0') FOR x IN px], '')) AS px_md5,
       CAST(list_sum(px) * 1000 // (w * h * c) AS BIGINT) AS mean_x1000,
       '' AS error
FROM v
"""


def q_jpeg_pixel_decode(spark, sf_dir):
    """REAL baseline JPEG decode (jpeg.decode_jpeg — numpy huffman +
    dequant + IDCT, no codec library): synthesize block-constant JFIFs
    whose 8x8 luma blocks follow v = (doc_id*31 + block_index*7) % 256 —
    DC-only coefficients are exactly 8*(v-128), so with an all-ones quant
    table the (normally lossy) round-trip is bit-exact and the oracle can
    recompute the pixel digest from the formula. doc_id % 4 picks the
    tier: baseline grayscale / PROGRESSIVE color 4:4:4 (SOF2: DC
    first+refine, AC first+refine scans; Cb=Cr=128 so RGB decodes to
    exact gray triplets) / baseline color 4:2:0 with restart intervals
    every 2 MCUs / PROGRESSIVE grayscale. Half of the grayscale docs
    (doc_id % 8 in {4, 7}) encode at 12-BIT precision (SOF1 extended
    sequential / 12-bit SOF2) with samples v<<4 — the decoder emits the
    high byte (16-bit-TIFF convention), so the oracle formula is
    unchanged while any 12-bit decode error breaks the digest."""
    import pandas as pd

    from .jpeg import encode_jpeg
    from .multimodal import extract_pixel_features

    docs = _docs(spark, sf_dir)

    def build(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                mode = d % 4
                if mode == 2:
                    w, h = 16 * (1 + d % 2), 16 * (1 + (d // 2) % 2)
                else:
                    w, h = 8 * (1 + d % 4), 8 * (1 + d % 3)
                bw = w // 8
                bi = np.arange((h // 8) * bw)
                vals = ((d * 31 + bi * 7) % 256).astype(np.uint8).reshape(h // 8, bw)
                y = np.repeat(np.repeat(vals, 8, 0), 8, 1)
                if mode == 0:
                    if d % 8 == 4:
                        payload = encode_jpeg(y.astype(np.uint16) << 4, precision=12)
                    else:
                        payload = encode_jpeg(y)
                elif mode == 3:
                    if d % 8 == 7:
                        payload = encode_jpeg(
                            y.astype(np.uint16) << 4, progressive=True, precision=12
                        )
                    else:
                        payload = encode_jpeg(y, progressive=True)
                else:
                    ycc = np.stack([y, np.full_like(y, 128), np.full_like(y, 128)], 2)
                    payload = encode_jpeg(
                        ycc,
                        subsampling=(2, 2) if mode == 2 else (1, 1),
                        restart_interval=2 if mode == 2 else 0,
                        progressive=(mode == 1),
                    )
                rows.append({"media_id": d, "payload": payload})
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = analytics.spread_small_input(docs).mapInPandas(build, "media_id long, payload binary")
    return extract_pixel_features(media).select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        "px_md5",
        "mean_x1000",
        "error",
    )


O_JPEG_PIXEL_DECODE = """
WITH d AS (
  SELECT doc_id, doc_id % 4 AS mode,
         CASE WHEN doc_id % 4 = 2 THEN 16 * (1 + doc_id % 2)
              ELSE 8 * (1 + doc_id % 4) END AS w,
         CASE WHEN doc_id % 4 = 2 THEN 16 * (1 + (doc_id // 2) % 2)
              ELSE 8 * (1 + doc_id % 3) END AS h
  FROM documents),
v AS (
  SELECT doc_id, mode, w, h,
         CASE WHEN mode IN (0, 3) THEN 1 ELSE 3 END AS c,
         -- pixel i sits in luma block (y//8, x//8); its value follows the
         -- block formula; color tiers decode to exact gray triplets
         CASE WHEN mode IN (0, 3)
              THEN [(doc_id * 31 + ((i // w) // 8 * (w // 8) + (i % w) // 8) * 7) % 256
                    FOR i IN generate_series(0, w * h - 1)]
              ELSE flatten([[(doc_id * 31 + ((i // w) // 8 * (w // 8) + (i % w) // 8) * 7) % 256,
                             (doc_id * 31 + ((i // w) // 8 * (w // 8) + (i % w) // 8) * 7) % 256,
                             (doc_id * 31 + ((i // w) // 8 * (w // 8) + (i % w) // 8) * 7) % 256]
                            FOR i IN generate_series(0, w * h - 1)]) END AS px
  FROM d)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(c AS BIGINT) AS channels,
       md5(array_to_string([lpad(lower(to_hex(x)), 2, '0') FOR x IN px], '')) AS px_md5,
       CAST(list_sum(px) * 1000 // (w * h * c) AS BIGINT) AS mean_x1000,
       '' AS error
FROM v
"""


def q_events_hourly(spark, sf_dir):
    """Tumbling-window event rollup (the batch analogue of the streaming
    windowed aggregation surface)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    # value is a 2dp money-like double: cast to DECIMAL(12,2) BEFORE the sum
    # so the aggregate is exact and order-independent (a double sum's result
    # depends on partial-aggregation order), then emit the hash-stable
    # round+DOUBLE form — same rule as relational.py.
    return (
        events.groupBy(
            F.window("ts", "1 hour").start.alias("hour"), F.col("event_type")
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12, 2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )


O_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_token_topk(spark, sf_dir):
    """Corpus token top-k: the classic explode -> count -> rank shape.
    The limit runs as TakeOrderedAndProject (map-side partial top-k), so
    only k rows reach the final ranking — the 100 TB-safe formulation."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), "token").limit(100)
    w = Window.orderBy(F.col("n").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


O_TOKEN_TOPK = """
SELECT token, CAST(count(*) AS BIGINT) AS n,
       CAST(row_number() OVER (ORDER BY count(*) DESC, token) AS BIGINT) AS rank
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
QUALIFY rank <= 100
"""


def q_user_sessions(spark, sf_dir):
    """Sessionization: per-user sessions split on >30 min inactivity gaps
    (lag + running sum over a user-partitioned window) with per-session
    rollups — the canonical event-log window-function workload. Shuffles
    once on user_id; deterministic ordering ties on event_id."""
    from pyspark.sql import Window

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP. The session zone is
    # pinned to UTC (session.py), so the cast is a pure reinterpretation —
    # no DST transition can make two gap-adjacent events shift differently.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = us - F.lag(us).over(w)
    with_new = events.withColumn(
        "is_new", F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    )
    with_sess = with_new.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return with_sess.groupBy(
        F.col("user_id").cast("long").alias("user_id"), "session_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


O_USER_SESSIONS = """
WITH e AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events),
s AS (
  SELECT user_id, ts,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM e)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY 1, 2
"""


def q_events_json_props(spark, sf_dir):
    """JSON property extraction + rollup (scalar JSON surface, §2.8):
    props is a JSON string column; extract $.k and aggregate per type."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(k).cast("long").alias("sum_k"),
        F.max(k).cast("long").alias("max_k"),
    )


O_EVENTS_JSON_PROPS = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY 1
"""


def q_minhash_lsh(spark, sf_dir):
    # oracle mode: md5 base so DuckDB replicates the full hash family
    return analytics.minhash_lsh_candidates(_docs(spark, sf_dir), hash_basis="md5")


def _minhash_lsh_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """DuckDB replica of the full MinHash+LSH candidate pipeline, generated
    from the SAME hash-family constants as the Spark expressions (md5 base
    hash mod P + universal (a_j*h+b_j) mod P draws + md5 band keys)."""
    a, b = analytics.minhash_params(num_hashes)
    P = analytics.MINHASH_PRIME
    rows = num_hashes // bands
    dhm = (
        f"list_transform({_DUCK_SHINGLES}, "
        f"s -> CAST(CAST(concat('0x', substr(md5(s), 1, 15)) AS UBIGINT) AS BIGINT) % {P})"
    )
    sig_entries = ", ".join(
        f"list_min(list_transform(hm, h -> ({a[j]} * h + {b[j]}) % {P}))"
        for j in range(num_hashes)
    )

    def band_hash(bi: int) -> str:
        lo, hi = bi * rows + 1, bi * rows + rows
        joined = (
            f"array_to_string(list_transform(sig[{lo}:{hi}], x -> CAST(x AS VARCHAR)), ',')"
        )
        return f"CAST(CAST(concat('0x', substr(md5({joined}), 1, 15)) AS UBIGINT) AS BIGINT)"

    banded = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band_id, {band_hash(bi)} AS band_hash FROM sig"
        for bi in range(bands)
    )
    return f"""
WITH hm AS (SELECT doc_id, {dhm} AS hm FROM documents),
sig AS (SELECT doc_id, [{sig_entries}] AS sig FROM hm),
banded AS ({banded})
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""


_DUCK_SHINGLES = (
    "list_distinct(CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] "
    "ELSE [array_to_string(string_split(text, ' ')[i:i+2], ' ') "
    "FOR i IN generate_series(1, len(string_split(text, ' ')) - 2)] END)"
)


def q_ngram_jaccard(spark, sf_dir):
    """LSH candidates -> exact n-gram Jaccard verification, keeping verified
    near-dups (J >= 0.9). Oracle-checkable because LSH recall at J >= 0.9
    with 8 bands x 4 rows is 1 - (1 - 0.9^4)^8 ≈ 0.9998 per pair and the
    hash family is deterministic — the driver compares against DuckDB's
    exact all-pairs Jaccard at the same threshold (uncapped buckets so the
    guarantee is not weakened)."""
    docs = _docs(spark, sf_dir)
    cands = analytics.minhash_lsh_candidates(docs, max_bucket_size=None, hash_basis="md5")
    return (
        analytics.ngram_jaccard_pairs(docs, cands)
        .where(F.col("jaccard") >= 0.9)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


O_NGRAM_JACCARD = f"""
WITH sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS s FROM documents)
SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b,
       round(len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) >= 0.9
"""


def q_near_dup_components(spark, sf_dir):
    """Near-dup clustering -> dedup keep-list: verified near-dup pairs
    (LSH -> exact Jaccard >= 0.9) -> connected components -> every doc
    labeled with its component minimum. The oracle computes the same
    transitive closure with a recursive CTE over DuckDB's exact all-pairs
    edge set."""
    docs = _docs(spark, sf_dir)
    cands = analytics.minhash_lsh_candidates(docs, max_bucket_size=None, hash_basis="md5")
    verified = (
        analytics.ngram_jaccard_pairs(docs, cands)
        .where(F.col("jaccard") >= 0.9)
        .select("doc_a", "doc_b")
    )
    # converge-on-count, not a fixed round budget: the oracle computes the
    # EXACT transitive closure, so a corpus with a deeper chain than any
    # fixed budget must still match
    return analytics.near_dup_components(docs, verified, max_iters=50, until_converged=True)


O_NEAR_DUP_COMPONENTS = f"""
WITH RECURSIVE sh AS MATERIALIZED (SELECT doc_id, {_DUCK_SHINGLES} AS s FROM documents),
edges AS MATERIALIZED (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) >= 0.9
),
reach AS (
  SELECT doc_id AS doc, doc_id AS r FROM documents
  UNION
  SELECT reach.doc, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT CAST(doc AS BIGINT) AS doc_id,
       CAST(min(r) AS BIGINT) AS keep_doc_id,
       doc <> min(r) AS is_dup
FROM reach GROUP BY doc
"""


def q_lsh_bucket_stats(spark, sf_dir):
    """The 'no silent caps' companion: bucket-size distribution + dropped
    count for the LSH mega-bucket cap, value-verified."""
    return analytics.lsh_bucket_stats(_docs(spark, sf_dir), max_bucket_size=1024, hash_basis="md5")


def _lsh_bucket_stats_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    base = _minhash_lsh_oracle(num_hashes, bands)
    banded_cte = base[: base.index("SELECT DISTINCT")].rstrip()
    return f"""{banded_cte},
sizes AS (SELECT band_id, band_hash, count(*) AS c FROM banded GROUP BY 1, 2)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(c) AS BIGINT) AS max_bucket,
       CAST(sum(CASE WHEN c > 1024 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_buckets
FROM sizes
"""


def q_simhash(spark, sf_dir):
    # oracle mode: md5 token hashes so DuckDB replicates the signature
    return analytics.simhash_docs(_docs(spark, sf_dir), hash_basis="md5")


# Same 60-bit md5-basis signature, DuckDB dialect (see analytics.SIMHASH_EXPR)
O_SIMHASH = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(list_sum(
  [ CASE WHEN list_sum(list_transform(string_split(text, ' '),
      t -> CASE WHEN (CAST(concat('0x', substr(md5(t), 1, 15)) AS UBIGINT) >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      THEN CAST(1 AS BIGINT) << b ELSE 0 END
    FOR b IN generate_series(0, {analytics.SIMHASH_BITS - 1}) ]) AS BIGINT) AS simhash
FROM documents
"""


def corpus_filter_frame(docs, hash_basis: str, max_bucket_size):
    """The composite training-corpus filter plan over a documents frame.
    The DRIVER query runs it in oracle configuration (md5 basis, uncapped
    buckets — exact, DuckDB-replicable); production runs ship xxhash64 +
    capped buckets (see jobs/curate.py and the corpus_filter_production
    bench row).

    r10 shape (guide §2.4 — remove shuffles outright): the exact-dup
    keeper is a min-window over the SAME md5 digest the base row already
    computes (one digest shuffle; the former dedup_exact groupBy +
    join-back paid the digest shuffle AND a corpus-wide join), lang-ID is
    a scan-side COLUMN of base (it is a pure projection — the former
    doc_id join shuffled the corpus once more for it), and the converged
    component labels join in once (edge endpoints only). Two corpus-wide
    exchanges total (digest window + label join) instead of five."""
    from pyspark.sql import Window

    docs = analytics.spread_small_input(docs)
    base = analytics.with_lang_pred(docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
    )).select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.length("text").alias("n_chars"),
        "pred_lang",
    ).withColumn(
        "exact_keep", F.min("doc_id").over(Window.partitionBy("text_md5"))
    )
    cands = analytics.minhash_lsh_candidates(
        docs, max_bucket_size=max_bucket_size, hash_basis=hash_basis
    )
    verified = (
        analytics.ngram_jaccard_pairs(docs, cands)
        .where(F.col("jaccard") >= 0.9)
        .select("doc_a", "doc_b")
    )
    labels = analytics.propagate_min_labels(
        verified, [], max_iters=50, until_converged=True
    )
    # no broadcast hints: every side here is corpus-sized at scale (the
    # label table is bounded by near-dup endpoints but still grows with
    # the corpus) — shuffle joins on uniform doc_id keys, right at 100 TB
    joined = base.join(
        labels.withColumnRenamed("doc_id", "__ldoc"),
        F.col("doc_id") == F.col("__ldoc"),
        "left",
    ).withColumn(
        "near_dup", F.col("doc_id") != F.coalesce("label", "doc_id")
    )
    reason = (
        F.when(F.col("doc_id") != F.col("exact_keep"), F.lit("exact_dup"))
        .when(F.col("near_dup"), F.lit("near_dup"))
        .when(F.col("n_chars") < 100, F.lit("low_quality"))
        .when(F.col("pred_lang") == "und", F.lit("und_lang"))
        .otherwise(F.lit(""))
    )
    return joined.select(
        "doc_id", reason.alias("reason")
    ).withColumn("keep", (F.col("reason") == "").cast("boolean"))


#: previous invocation's persisted LSH pair set — evicted on the next
#: call so repeated corpus_filter runs in one session cache O(1) frames
_CF_PAIRS_CACHE = None


def corpus_filter_variants_frame(docs, variants: dict):
    """The composite training-corpus filter under SEVERAL (hash_basis,
    max_bucket_size) policies in ONE pass — the dedup_spans_variants
    pattern applied to the heaviest bench pair (r7 VERDICT item 3: the
    separate corpus_filter + corpus_filter_production queries recomputed
    the full exact-dedup/lang-ID/verify/components subplan twice).

    Shared once across all variants: the base scan (which since r10 also
    carries the lang-ID column and the exact-dup keeper — see below), the
    Jaccard verification, and the label-propagation iteration chain
    (variant-keyed via propagate_min_labels — one blocking count() per
    round for ALL variants instead of one per variant per round).
    Per-variant: the LSH candidate generation (basis-sharing inside
    minhash_lsh_candidates_variants) and the final reason fan-out.
    Returns (variant, doc_id, reason, keep).

    r10 restructure (guide §2.4 — remove shuffles outright; measured and
    oracle-pinned equivalent):
    - exact-dup keeper = min(doc_id) window over the SAME text_md5 the
      base row computes (exactly the oracle's own shape) — the former
      dedup_exact groupBy + corpus-wide join-back collapses into the one
      digest exchange.
    - lang-ID is a scan-side COLUMN of base (pure projection), not a
      corpus-wide doc_id join.
    - Jaccard verifies the VARIANT-TAGGED pairs directly
      (ngram_jaccard_pairs carry_cols): a pair's jaccard does not depend
      on the tag, and the expensive shingle-set joins are identical
      either way, so the former distinct() + tag-re-join round trip is
      gone. Pairs shared by k variants pay k (trivial) array_intersect
      evaluations instead — bounded by the variant count, never the
      corpus.
    - the converged labels join base ONCE on (variant, doc_id); the old
      comp chain re-scanned docs for the variant fan-out and joined
      twice."""
    from pyspark.sql import Window

    # one scale-adaptive fan-out shared by every consumer below (base,
    # both bases' signature scans, the shingle sets) — no-op at real
    # scan widths
    docs = analytics.spread_small_input(docs)
    base = analytics.with_lang_pred(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    ).select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.length("text").alias("n_chars"),
        "pred_lang",
    ).withColumn(
        "exact_keep", F.min("doc_id").over(Window.partitionBy("text_md5"))
    )
    # The VERIFIED pair set is referenced twice in the DAG (both union
    # branches of the symmetric edge set inside propagate_min_labels);
    # without a materialization both hash bases' signature scans and the
    # Jaccard verification run twice when the components chain first
    # executes. The verified table is tiny (near-dup pairs only), so
    # persisting it is safe at any scale. The cache cannot be
    # unpersisted inside this (lazy) builder, so accumulation across
    # repeated invocations in one driver session (bench loops, sweeps)
    # is bounded to ONE cached frame: each call evicts the previous
    # call's set (r8 advice — the leak was unbounded before).
    global _CF_PAIRS_CACHE
    if _CF_PAIRS_CACHE is not None:
        try:
            _CF_PAIRS_CACHE.unpersist(blocking=False)
        except Exception:
            pass
    pairs = analytics.minhash_lsh_candidates_variants(docs, variants)
    verified = (
        analytics.ngram_jaccard_pairs(docs, pairs, carry_cols=("variant",))
        .where(F.col("jaccard") >= 0.9)
        .select("variant", "doc_a", "doc_b")
        .persist()
    )
    _CF_PAIRS_CACHE = verified
    labels = analytics.propagate_min_labels(
        verified, ["variant"], max_iters=50, until_converged=True
    )
    base_v = base.select(
        F.explode(F.array(*[F.lit(v) for v in variants])).alias("variant"), "*"
    )
    # no broadcast hints: every side here is corpus-sized at scale (see
    # corpus_filter_frame) — shuffle joins on uniform keys (md5 / doc_id)
    joined = base_v.join(labels, ["variant", "doc_id"], "left").withColumn(
        "near_dup", F.col("doc_id") != F.coalesce("label", "doc_id")
    )
    reason = (
        F.when(F.col("doc_id") != F.col("exact_keep"), F.lit("exact_dup"))
        .when(F.col("near_dup"), F.lit("near_dup"))
        .when(F.col("n_chars") < 100, F.lit("low_quality"))
        .when(F.col("pred_lang") == "und", F.lit("und_lang"))
        .otherwise(F.lit(""))
    )
    return joined.select(
        "variant", "doc_id", reason.alias("reason")
    ).withColumn("keep", (F.col("reason") == "").cast("boolean"))


def q_corpus_filter(spark, sf_dir):
    """The composite training-corpus filter — the end-to-end decision a
    100 TB data pipeline actually ships: every doc keeps or drops with a
    precedence-ordered reason (exact_dup > near_dup > low_quality >
    und_lang). Composes the already-verified building blocks (md5 dedup,
    LSH->Jaccard->components keep-list, lang-ID, quality length gate); the
    oracle composes the same pieces' SQL as nested CTEs.

    Since r8 this is the MERGED variants row: variant='oracle' is the
    exact DuckDB-replicable configuration (md5 basis, uncapped buckets);
    variant='production' is the shipping configuration (xxhash64 basis,
    buckets capped at 1024 — jobs/curate.py defaults), both in one pass.
    The oracle replays ONE computation cross-joined to both variant
    tags: legitimate because the VERIFIED pair sets coincide across
    bases on this corpus (near-dup pairs here are >=0.9-Jaccard, whose
    all-band LSH miss probability is ~2e-4 per pair per basis —
    equivalence pinned deterministically by tests/test_hash_basis.py
    and by this row's own hash at every SF) and the 1024 bucket cap
    cannot bind below 1025 near-identical docs (lsh_bucket_stats row
    reports dropped_buckets=0 on this corpus). A real basis/cap
    divergence would flip the production rows' hash."""
    return corpus_filter_variants_frame(
        _docs(spark, sf_dir),
        {"oracle": ("md5", None), "production": ("xxhash64", 1024)},
    )


def _corpus_filter_oracle() -> str:
    return f"""
WITH comp AS ({{components}}),
langp AS ({{lang}}),
exact AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS ekeep,
         len(text) AS n_chars
  FROM documents)
SELECT v.variant, doc_id, reason, reason = '' AS keep FROM (
  SELECT CAST(e.doc_id AS BIGINT) AS doc_id,
         CASE WHEN e.doc_id <> e.ekeep THEN 'exact_dup'
              WHEN c.is_dup THEN 'near_dup'
              WHEN e.n_chars < 100 THEN 'low_quality'
              WHEN l.pred_lang = 'und' THEN 'und_lang'
              ELSE '' END AS reason
  FROM exact e
  JOIN comp c ON c.doc_id = e.doc_id
  JOIN langp l ON l.doc_id = e.doc_id)
CROSS JOIN (SELECT unnest(['oracle', 'production']) AS variant) v
"""


def q_doc_length_percentiles(spark, sf_dir):
    """Exact per-group percentiles (p50/p95 of doc length per language),
    carrying per-lang n_docs:
    Spark's `percentile` and DuckDB's `quantile_cont` share the same
    linear-interpolation definition (index = (n-1)*p over the sorted
    values), verified bit-identical on this corpus — the exact-quantile
    surface; approx_percentile/t-digest is the sketch path at 100 TB."""
    docs = _docs(spark, sf_dir)
    ln = F.length("text")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.percentile(ln, F.lit(0.5)).alias("p50_len"),
            F.percentile(ln, F.lit(0.95)).alias("p95_len"),
        )
    )


O_DOC_LENGTH_PERCENTILES = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       quantile_cont(len(text), 0.5) AS p50_len,
       quantile_cont(len(text), 0.95) AS p95_len
FROM documents GROUP BY 1
"""


_WARC_FIXTURE_DIR = "/tmp/htmlx_warc_oracle_v1"


def _br_codec_available() -> bool:
    """True when a brotli codec is importable in this runtime — the
    SAME gate warc._brotli_decompress uses, so the oracle's expected
    marker for fixture record 23 tracks what read_warc actually does:
    no codec -> body kept raw + content_encoding_unavailable:br; codec
    present -> the (deliberately non-brotli) payload fails to inflate,
    body kept raw + content_encoding_corrupt:br. Body bytes are
    identical in both states; only the marker flips, so gating the
    marker makes the row deterministic in EITHER environment instead
    of silently coupled to worker site-packages (r8 advice)."""
    import importlib.util

    return any(
        importlib.util.find_spec(m) is not None
        for m in ("brotli", "brotlicffi")
    )


_BR_ORACLE_ERR = (
    "content_encoding_corrupt:br"
    if _br_codec_available()
    else "content_encoding_unavailable:br"
)


def _warc_fix_body(i: int) -> bytes:
    """Decoded page body for fixture record i — ASCII-only so the DuckDB
    oracle can replay md5/strlen over a VARCHAR twin."""
    if i == 23:
        return b"br-payload-23"  # kept RAW either way (see _BR_ORACLE_ERR)
    return b"<!doctype html><p>warc page %d %s</p>" % (i, b"x" * i)


def _warc_fix_http(i: int) -> bytes:
    """HTTP response block for record i, cycling the wire encodings
    read_warc must undo: i%4 = 0 plain / 1 gzip / 2 chunked / 3 chunked
    OVER gzip; i==23 is Content-Encoding: br (no codec in the runtime —
    body kept raw + named warc_error, pinning the degradation contract
    on the oracle). Status 404 when i%6==5, else 200."""
    body = _warc_fix_body(i)
    status = b"404 Not Found" if i % 6 == 5 else b"200 OK"
    hdrs = [b"Content-Type: text/html; charset=utf-8"]
    if i == 23:
        payload = body
        hdrs.append(b"Content-Encoding: br")
    elif i % 4 == 1:
        payload = gzip.compress(body)
        hdrs.append(b"Content-Encoding: gzip")
    elif i % 4 in (2, 3):
        inner = body
        if i % 4 == 3:
            inner = gzip.compress(body)
            hdrs.append(b"Content-Encoding: gzip")
        hdrs.append(b"Transfer-Encoding: chunked")
        h = len(inner) // 2
        payload = (
            hex(h)[2:].encode() + b";x=1\r\n" + inner[:h] + b"\r\n"
            + hex(len(inner) - h)[2:].encode() + b"\r\n" + inner[h:]
            + b"\r\n0\r\n\r\n"
        )
    else:
        payload = body
    return b"HTTP/1.1 " + status + b"\r\n" + b"\r\n".join(hdrs) + b"\r\n\r\n" + payload


def _warc_fix_record(i: int) -> bytes:
    http = _warc_fix_http(i)
    hdr = (
        b"WARC/1.1\r\nWARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:%08d>\r\n"
        b"WARC-Target-URI: https://warc%d.example.org/page/%d\r\n"
        b"WARC-Date: 2024-01-01T00:00:%02dZ\r\n"
        b"Content-Length: %d" % (i, i % 5, i, i, len(http))
    )
    return hdr + b"\r\n\r\n" + http + b"\r\n\r\n"


def _warc_fix_aux(wtype: bytes, block: bytes) -> bytes:
    """A non-response record (warcinfo / request) read_warc must skip."""
    return (
        b"WARC/1.1\r\nWARC-Type: " + wtype
        + b"\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: "
        + str(len(block)).encode() + b"\r\n\r\n" + block + b"\r\n\r\n"
    )


def synth_warc_fixture(dirpath: str = _WARC_FIXTURE_DIR) -> str:
    """Write the deterministic 24-record WARC fixture set the host_stats
    'warc' level reads back through the REAL ingest path (binaryFile ->
    gzip member split -> record grammar -> HTTP envelope decode):

      w0.warc.gz  records 0..7, one gzip member each, plus a warcinfo
                  member that must be filtered out;
      w1.warc.gz  records 8..15 with a CORRUPT gzip member and a
                  request-record member in the middle — the magic-scan
                  re-sync and the type filter are both on the oracle;
      w2.warc     records 16..23 uncompressed (the plain container path).

    Bodies/urls/dates/statuses are pure functions of the record index so
    the DuckDB oracle replays the EXPECTED decoded rows from
    generate_series — no parquet twin, no filesystem coupling. Writes
    are atomic (tmp + os.replace) and leftover '_tmp_*' files are
    invisible to Spark's file source, so concurrent query runs are safe."""
    os.makedirs(dirpath, exist_ok=True)

    def write(name: str, data: bytes) -> None:
        tmp = os.path.join(dirpath, f"_tmp_{os.getpid()}_{name}")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, os.path.join(dirpath, name))

    gz = gzip.compress
    w0 = gz(_warc_fix_aux(b"warcinfo", b"software: htmlx-fixture\r\n")) + b"".join(
        gz(_warc_fix_record(i)) for i in range(0, 8)
    )
    corrupt = b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\x03corrupt-deflate-junk"
    req = _warc_fix_aux(b"request", b"GET / HTTP/1.1\r\nHost: warc0.example.org\r\n\r\n")
    w1 = (
        b"".join(gz(_warc_fix_record(i)) for i in range(8, 12))
        + corrupt + gz(req)
        + b"".join(gz(_warc_fix_record(i)) for i in range(12, 16))
    )
    w2 = b"".join(_warc_fix_record(i) for i in range(16, 24))
    write("w0.warc.gz", w0)
    write("w1.warc.gz", w1)
    write("w2.warc", w2)
    return dirpath


def q_host_stats(spark, sf_dir):
    """Per-host crawl accounting (the batch twin of the streaming host
    counters) MERGED with URL-canonicalization recrawl dedup into one
    level-tagged row (driver caps at 50 queries).

    level='host': host parsed from the url with the same regex on both
    engines, doc counts + byte totals per host.

    level='canon' (r6): each adjacent doc_id pair synthesizes two
    captures of the same logical page under cosmetically-different URLs
    (case-folded host, :443 default port, utm_ tracking param, reordered
    query, fragment) with warc_ts = doc_id; latest_capture must collapse
    them to one canonical row keeping the NEWEST capture. key carries
    the canonical url, n_docs the capture count, total_chars the kept
    doc_id — the DuckDB oracle re-derives the full canonicalization
    (scheme/host folding, port, params, fragment) in SQL.

    level='urlfilter' (r6): RefinedWeb-style URL filtering. doc_id % 5
    synthesizes one case per rule — a subdomain of a blocklist entry,
    an ftp:// scheme, a keyword URL, a >2000-byte URL, and a clean one
    (plus the exact blocked host and a case+port variant riding on the
    %20 host cycle); url_filter's first-match reason is aggregated as
    key=reason, n_docs=count, total_chars=sum(doc_id) checksum. The
    oracle re-derives scheme/host parsing, byte cap (strlen), the
    label-boundary suffix match, and keyword containment in SQL.

    level='rank' (r6): host-level PageRank prior. Each doc contributes
    one edge h(doc_id%20) -> h((doc_id^2+1)%20); host_rank runs the
    damped 3-iteration power iteration; key=host, n_docs=out-degree,
    total_chars=round(rank*1e5) (fixed-point BIGINT so the row schema
    stays integral; the scale is 1e5 DELIBERATELY — the ranks here are
    exact rationals (damping 17/20, integer weights) and an exact-
    Fraction replay shows they land EXACTLY on .5 rounding boundaries
    at 1e6 and 1e4 at every SF, so engine sum-order decides the round
    and the row flakes — measured: h5 at sf0.01 is exactly 116087.5e-6;
    at 1e5 the minimum boundary distance is 0.25 across all SFs, five
    orders above double noise). Quadratic residues mod 20 are NON-uniform, so
    in-degrees (and therefore ranks) genuinely differ across hosts —
    a symmetric graph would pass on any symmetry-preserving bug — and
    hosts outside the residue set exercise the teleport-only
    coalesce(inflow, 0) path. Sources cover every host (no dangling
    mass in this graph), so the oracle unrolls the 3 iterations as CTEs
    without the (identically-zero) dangling term, which pytest covers
    on crafted graphs instead.

    level='anchor' (r6): inlink anchor-text aggregation. Each doc
    contributes one link h(doc_id%12) -> h((3*doc_id+6)%20) — coprime
    moduli, so every dst host sees 3 distinct src hosts and docs with
    doc_id%12 == (3*doc_id+6)%20 synthesize SELF-links that
    cross_host_only must drop; anchors cycle empty (%7==0) /
    multibyte 'résumé N' (%3==0, exercises UTF-8 BYTE semantics —
    strlen vs octet_length) / 'link N'. key=dst_host,
    n_docs=n_inlinks, total_chars packs anchor_bytes*100+n_src_hosts
    (n_src_hosts <= 20 < 100, lossless) so one BIGINT checksum
    verifies both aggregates; the oracle re-derives host parsing,
    the self-link filter, byte lengths, and the distinct count in
    SQL. n_empty_anchors is pinned by pytest (test_anchor_agg).

    level='snapdiff' (r6): crawl snapshot diff. Old snapshot = docs
    with doc_id%5!=0 (ts=1); new = docs with doc_id%7!=0 (ts=2, text
    suffixed ' v2' when doc_id%3==0). snapshot_diff's full-outer
    digest compare must classify added (%5==0, new only) / removed
    (%7==0, old only) / changed (both + %3==0) / unchanged; docs with
    both %5==0 and %7==0 are in neither snapshot and must not appear.
    key=status, n_docs=count, total_chars=sum(doc_id). The oracle
    derives the statuses INDEPENDENTLY from the modular conditions —
    the Spark side runs the real aggregate+join machinery.

    level='robots' (r6): meta-robots compliance pre-filter. doc_id%6
    synthesizes one markup variant per class — quoted noindex,follow /
    unquoted uppercase NOFOLLOW / order-flipped 'none' shorthand /
    unquoted nofollow,noindex / a non-robots meta / no meta — and
    meta_robots' raw-byte regex must classify noindex / nofollow /
    both / missing; the oracle derives the classes independently from
    doc_id%6 while Spark parses the actual synthesized markup.
    key=class, n_docs=count, total_chars=sum(doc_id).

    level='robotstxt' (r6, grown r7): RFC 9309 robots.txt compliance.
    Five synthesized 200-status hosts share 'Disallow: /blocked/ +
    Allow: /blocked/open/'; doc paths cycle /blocked/ (doc_id%4==0,
    must be blocked) / /blocked/open/ (%4==1, the LONGER allow must
    win) / /ok/ (allowed). r7 adds the fetch-status policy pins:
    doc_id%7==5 routes to a 503 host whose body would ALLOW (must be
    fail-closed BLOCKED, §2.3.1.4) and %7==6 to a 404 host whose body
    would BLOCK (must be fail-open ALLOWED, §2.3.1.3). Spark runs the
    real parse->rule-join->regexp->longest-match machinery
    (robotstxt.robots_filter with status_col); the oracle derives the
    verdicts independently from doc_id%7 / doc_id%4.
    key=allowed|blocked, n_docs=count, total_chars=sum(doc_id).

    level='warc' (r8): the WARC ingest front-end on the oracle. A
    deterministic 24-record fixture set (synth_warc_fixture: two
    .warc.gz with per-record gzip members — one with a corrupt member
    mid-file the magic-scan re-sync must skip — plus one plain .warc;
    warcinfo/request records to filter; bodies cycling plain/gzip/
    chunked/chunked+gzip wire encodings; one brotli record that must
    degrade NAMED with its raw bytes kept) is read back through the
    REAL read_warc path. key=url|formatted warc_ts|md5(decoded body)|
    warc_error, n_docs=http_status, total_chars=body byte length; the
    oracle replays the expected decoded rows from generate_series —
    any slip in member splitting, record grammar, date parsing,
    envelope stripping, dechunking, inflation, or the degradation
    contract flips the hash.

    level='warcidx' (r8): cdx_from_warc over the SAME fixture set —
    the index builder on the oracle. surt (shared-grammar label
    reversal), url, ts, cleaned mime, and status replay exactly from
    generate_series; byte offsets are zlib-dependent so the oracle
    pins their invariants instead: every span positive and
    non-overlapping in offset order (span_ok must print 'true'), and
    offset order must equal record-index order within each container
    (row_number rank = i mod 8). The corrupt member and the
    warcinfo/request chaff must not index (row count 24). sha1-b32
    digests have no DuckDB twin; they're pinned by pytest
    (test_cdx_from_warc_and_cdxj_roundtrip).

    level='sitemap' (r8): crawl-frontier construction (sitemaps.org
    protocol). doc_id%4 synthesizes one capture class each — urlset
    with lastmod + entity-escaped entries, sitemapindex, a urlset whose
    foreign-host entry the cross-submission default must drop, and a
    non-sitemap page that parses to nothing. Spark runs the real
    bounded-regexp XML parse over raw bytes (analytics.sitemap_entries);
    the oracle derives survivors independently from doc_id%4.
    key=kind|loc|lastmod, n_docs=count, total_chars=strlen(loc).

    level='cdxdelta' (r8): incremental recrawl at index cost. doc_id%5
    synthesizes added/changed/removed/unchanged plus the
    latest-capture trap (two old captures where only the NEWEST digest
    matches — an any-capture compare would misclassify); Spark runs the
    real cdx_snapshot_delta (max_by + full-outer digest compare), the
    oracle derives classes from the modular conditions.

    level='wetpub' (r8): WET publishing round trip — a deterministic
    24-doc frame goes through the REAL write_wet (member-per-record
    .warc.wet.gz into /tmp/htmlx_wetpub_oracle_v1, byte-deterministic
    so concurrent runs converge) and back through read_wet; the oracle
    replays url/ts/md5(text)/byte-length from generate_series. Any slip
    in record serialization, member framing, or the read path flips
    the hash."""
    docs = _docs(spark, sf_dir)
    url = F.expr(
        "concat('https://', source, '.example.com/doc/', CAST(doc_id AS STRING))"
    )
    host_level = (
        docs.select(
            F.regexp_extract(url, r"^https?://([^/]+)", 1).alias("key"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(F.lit("host").alias("level"), "key", "n_docs", "total_chars")
    )
    d = F.col("doc_id")
    pk = F.floor(d / 2).cast("long").cast("string")
    messy = docs.select(
        "doc_id",
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit("https://h"), (F.floor(d / 2) % 20).cast("long").cast("string"),
                F.lit(".example.com/page/"), pk, F.lit("?a=1&b=2"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("HTTPS://H"), (F.floor(d / 2) % 20).cast("long").cast("string"),
                F.lit(".EXAMPLE.COM:443/page/"), pk,
                F.lit("?utm_source=feed&b=2&a=1#frag"),
            )
        )
        .alias("url"),
        d.alias("warc_ts"),
    )
    canon_level = analytics.latest_capture(messy).select(
        F.lit("canon").alias("level"),
        F.col("canonical_url").alias("key"),
        F.col("n_captures").alias("n_docs"),
        F.col("keep_id").alias("total_chars"),
    )
    m5 = d % 5
    hk = (d % 20).cast("long").cast("string")
    ds = d.cast("long").cast("string")
    furl = (
        F.when(
            (m5 == 0) & (d % 2 == 0),
            F.concat(F.lit("https://deep.sub.blocked.example.com/p/"), ds),
        )
        .when(m5 == 0, F.concat(F.lit("https://BLOCKED.EXAMPLE.COM:8080/p/"), ds))
        .when(m5 == 1, F.concat(F.lit("ftp://h"), hk, F.lit(".example.com/p/"), ds))
        .when(
            m5 == 2,
            F.concat(F.lit("https://h"), hk, F.lit(".example.com/free-xxx-vids/"), ds),
        )
        .when(
            m5 == 3,
            F.concat(
                F.lit("https://h"), hk, F.lit(".example.com/p/"), ds,
                F.lit("?pad="), F.repeat(F.lit("a"), 2100),
            ),
        )
        .otherwise(F.concat(F.lit("https://h"), hk, F.lit(".example.com/article/"), ds))
    )
    bl = spark.createDataFrame([("Blocked.Example.com",)], "host string")
    filt_level = (
        analytics.url_filter(docs.select("doc_id", furl.alias("url")), bl)
        .groupBy("reason")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("total_chars"),
        )
        .select(
            F.lit("urlfilter").alias("level"), F.col("reason").alias("key"),
            "n_docs", "total_chars",
        )
    )
    edges = docs.select(
        F.concat(F.lit("h"), (d % 20).cast("long").cast("string")).alias("src_host"),
        F.concat(
            F.lit("h"), ((d * d + 1) % 20).cast("long").cast("string")
        ).alias("dst_host"),
    )
    outdeg = edges.groupBy("src_host").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    rank_level = (
        analytics.host_rank(edges)
        .join(outdeg, F.col("host") == F.col("src_host"))
        .select(
            F.lit("rank").alias("level"),
            F.col("host").alias("key"),
            "n_docs",
            F.round(F.col("rank") * 1e5, 0).cast("long").alias("total_chars"),
        )
    )
    links = docs.select(
        F.concat(
            F.lit("https://h"), (d % 12).cast("long").cast("string"),
            F.lit(".example.com/p/"), ds,
        ).alias("src_url"),
        F.concat(
            F.lit("https://h"), ((3 * d + 6) % 20).cast("long").cast("string"),
            F.lit(".example.com/t/"), ds,
        ).alias("dst_url"),
        F.when(d % 7 == 0, F.lit(""))
        .when(d % 3 == 0, F.concat(F.lit("résumé "), ds))
        .otherwise(F.concat(F.lit("link "), ds))
        .alias("anchor_text"),
    )
    anchor_level = analytics.anchor_text_agg(links).select(
        F.lit("anchor").alias("level"),
        F.col("dst_host").alias("key"),
        F.col("n_inlinks").alias("n_docs"),
        (F.col("anchor_bytes") * 100 + F.col("n_src_hosts"))
        .cast("long")
        .alias("total_chars"),
    )
    snap_url = F.concat(F.lit("https://s.example.com/p/"), ds)
    old_snap = docs.where(d % 5 != 0).select(
        "doc_id", snap_url.alias("url"), "text",
        F.lit(1).cast("long").alias("warc_ts"),
    )
    new_snap = docs.where(d % 7 != 0).select(
        "doc_id", snap_url.alias("url"),
        F.when(d % 3 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
        F.lit(2).cast("long").alias("warc_ts"),
    )
    snap_level = (
        analytics.snapshot_diff(old_snap, new_snap)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("new_doc_id"), F.col("old_doc_id")))
            .cast("long")
            .alias("total_chars"),
        )
        .select(
            F.lit("snapdiff").alias("level"), F.col("status").alias("key"),
            "n_docs", "total_chars",
        )
    )
    m6 = d % 6
    meta = (
        F.when(m6 == 0, F.lit('<meta name="robots" content="noindex, follow">'))
        .when(m6 == 1, F.lit("<meta NAME=ROBOTS CONTENT=\"NOFOLLOW\">"))
        .when(m6 == 2, F.lit("<meta content='none' name='robots'>"))
        .when(m6 == 3, F.lit('<meta name="robots" content=nofollow,noindex>'))
        .when(m6 == 4, F.lit('<meta name="description" content="x">'))
        .otherwise(F.lit(""))
    )
    robots_pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>t</title>"), meta,
            F.lit("</head><body><p>"), F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    rb = analytics.meta_robots(robots_pages)
    robots_level = (
        rb.select(
            "doc_id",
            F.when(F.col("noindex") & F.col("nofollow"), F.lit("both"))
            .when(F.col("noindex"), F.lit("noindex"))
            .when(F.col("nofollow"), F.lit("nofollow"))
            .when(F.col("robots_content").isNull(), F.lit("missing"))
            .otherwise(F.lit("plain"))
            .alias("key"),
        )
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("total_chars"),
        )
        .select(F.lit("robots").alias("level"), "key", "n_docs", "total_chars")
    )
    from .robotstxt import robots_filter

    m4 = d % 4
    m7 = d % 7
    rb_docs = docs.select(
        "doc_id",
        F.when(
            m7 == 5, F.concat(F.lit("https://unreachable.example.com/ok/p"), ds)
        )
        .when(
            m7 == 6, F.concat(F.lit("https://unavailable.example.com/blocked/p"), ds)
        )
        .otherwise(
            F.concat(
                F.lit("https://h"), (d % 5).cast("long").cast("string"),
                F.lit(".example.com"),
                F.when(m4 == 0, F.concat(F.lit("/blocked/p"), ds))
                .when(m4 == 1, F.concat(F.lit("/blocked/open/p"), ds))
                .otherwise(F.concat(F.lit("/ok/p"), ds)),
            )
        )
        .alias("url"),
    )
    # fetch-status policy pins (r7): the 503 host's body would ALLOW and
    # must be fail-closed blocked; the 404 host's body would BLOCK and
    # must be fail-open allowed (RFC 9309 §2.3.1.2-2.3.1.4)
    rb_tbl = spark.createDataFrame(
        [
            (
                f"h{k}.example.com",
                "User-agent: *\nDisallow: /blocked/\nAllow: /blocked/open/\n",
                200,
            )
            for k in range(5)
        ]
        + [
            ("unreachable.example.com", "User-agent: *\nAllow: /\n", 503),
            ("unavailable.example.com", "User-agent: *\nDisallow: /\n", 404),
        ],
        "host string, robots_txt string, status int",
    )
    rbtxt_level = (
        robots_filter(rb_docs, rb_tbl, status_col="status")
        .groupBy(
            F.when(F.col("robots_allowed"), F.lit("allowed"))
            .otherwise(F.lit("blocked"))
            .alias("key")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("total_chars"),
        )
        .select(F.lit("robotstxt").alias("level"), "key", "n_docs", "total_chars")
    )
    warc_level = warc.read_warc(spark, synth_warc_fixture()).select(
        F.lit("warc").alias("level"),
        F.concat_ws(
            "|",
            "url",
            F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss"),
            F.md5("html"),
            F.coalesce("warc_error", F.lit("")),
        ).alias("key"),
        F.col("http_status").cast("long").alias("n_docs"),
        F.length("html").cast("long").alias("total_chars"),
    )
    # sitemap (r8): crawl-frontier construction. doc_id%4 synthesizes
    # one sitemap-capture variant per class — a urlset with a lastmod
    # entry and an entity-escaped (&amp;) entry; a sitemapindex; a
    # urlset whose FOREIGN-host entry the cross-submission default must
    # drop (keeping the own-host one); and a non-sitemap page that must
    # parse to nothing. Spark runs the real bounded-regexp XML parse
    # (analytics.sitemap_entries) over synthesized raw bytes; the
    # oracle derives the surviving entries independently from doc_id%4.
    # key=kind|loc|lastmod, n_docs=count, total_chars=strlen(loc).
    sk = (d % 10).cast("long").cast("string")
    sds = d.cast("long").cast("string")
    sm_host = F.concat(F.lit("https://h"), sk, F.lit(".example.com"))
    sm_xml = (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("<urlset><url><loc>"), sm_host, F.lit("/sm/"), sds,
                F.lit("/1</loc><lastmod>2024-05-01</lastmod></url>"),
                F.lit("<url><loc> "), sm_host, F.lit("/sm/"), sds,
                F.lit("/2?a=1&amp;b=2 </loc></url></urlset>"),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("<sitemapindex><sitemap><loc>"), sm_host,
                F.lit("/sub/"), sds,
                F.lit(".xml</loc></sitemap></sitemapindex>"),
            ),
        )
        .when(
            d % 4 == 2,
            F.concat(
                F.lit("<urlset><url><loc>https://foreign.example.net/x/"),
                sds, F.lit("</loc></url><url><loc>"), sm_host,
                F.lit("/keep/"), sds, F.lit("</loc></url></urlset>"),
            ),
        )
        .otherwise(F.lit("<html><body>not a sitemap</body></html>"))
    )
    sm_pages = docs.select(
        F.concat(sm_host, F.lit("/sitemap"), sds, F.lit(".xml")).alias("url"),
        F.encode(sm_xml, "utf-8").alias("html"),
    )
    sitemap_level = (
        analytics.sitemap_entries(sm_pages)
        .groupBy(
            F.concat_ws(
                "|", "kind", "loc", F.coalesce("lastmod", F.lit(""))
            ).alias("key")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("loc")).cast("long").alias("total_chars"),
        )
        .select(F.lit("sitemap").alias("level"), "key", "n_docs", "total_chars")
    )
    # cdxdelta (r8): incremental-recrawl classification at index cost.
    # doc_id%5 synthesizes one class per value — 0 unchanged / 1 changed
    # / 2 unchanged-but-only-via-the-LATEST-old-capture (two old
    # captures; a naive any-capture compare would misclassify) /
    # 3 removed / 4 added. Both indexes are pure Catalyst functions of
    # doc_id; Spark runs the real max_by + full-outer digest compare
    # (warc.cdx_snapshot_delta), the oracle derives the classes from the
    # modular conditions. key=url|status|digests|filename,
    # n_docs=count, total_chars=new capture length (-1 when none).
    m5d = d % 5
    cdx_url = F.concat(F.lit("https://cdx.example.com/p/"), sds)
    dig = F.concat(F.lit("D"), sds)
    old_rows = docs.select(
        cdx_url.alias("url"), F.timestamp_seconds(F.lit(2)).alias("warc_ts"),
        dig.alias("digest"),
        F.concat(F.lit("old-"), sds).alias("filename"),
        d.cast("long").alias("offset"), F.lit(10).cast("long").alias("length"),
    ).where(m5d != 4)
    old_extra = docs.select(
        cdx_url.alias("url"), F.timestamp_seconds(F.lit(1)).alias("warc_ts"),
        F.concat(F.lit("A"), sds).alias("digest"),
        F.concat(F.lit("oldA-"), sds).alias("filename"),
        d.cast("long").alias("offset"), F.lit(10).cast("long").alias("length"),
    ).where(m5d == 2)
    new_rows = docs.select(
        cdx_url.alias("url"), F.timestamp_seconds(F.lit(3)).alias("warc_ts"),
        F.when(m5d == 1, F.concat(F.lit("X"), sds)).otherwise(dig).alias("digest"),
        F.concat(F.lit("new-"), sds).alias("filename"),
        d.cast("long").alias("offset"), F.lit(11).cast("long").alias("length"),
    ).where(m5d != 3)
    cdxdelta_level = (
        warc.cdx_snapshot_delta(old_rows.unionByName(old_extra), new_rows)
        .groupBy(
            F.concat_ws(
                "|", "url", "status",
                F.coalesce("digest_old", F.lit("")),
                F.coalesce("digest_new", F.lit("")),
                F.coalesce("filename", F.lit("")),
            ).alias("key")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce("length", F.lit(-1))).cast("long").alias(
                "total_chars"
            ),
        )
        .select(F.lit("cdxdelta").alias("level"), "key", "n_docs", "total_chars")
    )
    # wetpub (r8): the WET publishing round trip through the REAL
    # write_wet -> read_wet machinery on a deterministic 24-doc frame
    # (spark.range — SF-independent): member-per-record gzip archives
    # land in a /tmp fixture dir (atomic tmp+rename; write_wet output
    # is byte-deterministic so concurrent query runs converge) and the
    # read-back rows must match the generate_series replay.
    # key=url|ts|md5(text), n_docs=strlen(text), total_chars=i.
    wet_src = spark.range(24).select(
        F.concat(
            F.lit("https://wet"), (F.col("id") % 3).cast("string"),
            F.lit(".example.org/t/"), F.col("id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("wet text "), F.col("id").cast("string"), F.lit(" "),
            F.repeat(F.lit("y"), F.col("id").cast("int")),
        ).alias("text"),
        F.to_timestamp(
            F.concat(
                F.lit("2024-02-02 00:00:"),
                F.lpad(F.col("id").cast("string"), 2, "0"),
            )
        ).alias("warc_ts"),
        F.col("id"),
    )
    wet_dir = "/tmp/htmlx_wetpub_oracle_v1"
    warc.write_wet(wet_src, wet_dir, n_files=2, ts_col="warc_ts").collect()
    wetpub_level = warc.read_wet(spark, wet_dir).select(
        F.lit("wetpub").alias("level"),
        F.concat_ws(
            "|", "url",
            F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss"),
            F.md5("text"),
        ).alias("key"),
        F.length("text").cast("long").alias("n_docs"),
        F.regexp_extract("url", r"/t/(\d+)$", 1).cast("long").alias(
            "total_chars"
        ),
    )
    from pyspark.sql import Window

    # warcidx (r8): the index builder over the same fixture set. Byte
    # offsets are zlib-dependent (not SQL-replayable), so the oracle
    # pins their INVARIANTS instead: spans are positive, non-overlapping
    # in offset order (span_ok, window lag), and offset order equals
    # record-index order within each file (row_number rank = i mod 8 —
    # the fixture writes 8 records per container in index order).
    # surt/url/ts/mime/status replay exactly from generate_series.
    iw = Window.partitionBy("filename").orderBy("offset")
    span_ok = (
        (F.col("offset") >= 0)
        & (F.col("length") > 0)
        & (
            F.col("offset")
            >= F.coalesce(
                F.lag(F.col("offset") + F.col("length")).over(iw), F.lit(0)
            )
        )
    )
    warcidx_level = warc.cdx_from_warc(spark, synth_warc_fixture()).select(
        F.lit("warcidx").alias("level"),
        F.concat_ws(
            "|",
            F.coalesce("surt", F.lit("")),
            "url",
            F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss"),
            "mime",
            span_ok.cast("string"),
        ).alias("key"),
        F.col("status").cast("long").alias("n_docs"),
        (F.row_number().over(iw) - 1).cast("long").alias("total_chars"),
    )
    return (
        host_level.unionByName(canon_level)
        .unionByName(filt_level)
        .unionByName(rank_level)
        .unionByName(anchor_level)
        .unionByName(snap_level)
        .unionByName(robots_level)
        .unionByName(rbtxt_level)
        .unionByName(warc_level)
        .unionByName(warcidx_level)
        .unionByName(sitemap_level)
        .unionByName(cdxdelta_level)
        .unionByName(wetpub_level)
    )


O_HOST_STATS = f"""
SELECT 'host' AS level,
       regexp_extract({URL_SQL}, '^https?://([^/]+)', 1) AS key,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY 2
UNION ALL
SELECT 'canon', canonical_url, CAST(count(*) AS BIGINT), CAST(max(doc_id) AS BIGINT)
FROM (
  SELECT doc_id,
         scheme || '://'
         || (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                  WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END)
         || (CASE WHEN path0 = '/' THEN '' ELSE path0 END)
         || (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END)
         AS canonical_url
  FROM (
    SELECT doc_id,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
           list_sort([p FOR p IN string_split(regexp_extract(url, '\\?([^#]*)', 1), '&')
                      IF p <> '' AND NOT starts_with(p, 'utm_')
                         AND NOT starts_with(p, 'fbclid=') AND NOT starts_with(p, 'gclid=')])
           AS params
    FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN 'https://h' || CAST((doc_id // 2) % 20 AS VARCHAR) || '.example.com/page/'
                       || CAST(doc_id // 2 AS VARCHAR) || '?a=1&b=2'
                  ELSE 'HTTPS://H' || CAST((doc_id // 2) % 20 AS VARCHAR) || '.EXAMPLE.COM:443/page/'
                       || CAST(doc_id // 2 AS VARCHAR) || '?utm_source=feed&b=2&a=1#frag'
             END AS url
      FROM documents)))
GROUP BY 2
UNION ALL
SELECT 'urlfilter', reason, CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
FROM (
  SELECT doc_id,
         CASE
           WHEN lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                NOT IN ('http', 'https') THEN 'bad_scheme'
           WHEN strlen(url) > 2000 THEN 'url_too_long'
           WHEN fhost = 'blocked.example.com'
                OR ends_with(fhost, '.blocked.example.com') THEN 'blocked_host'
           WHEN contains(lower(url), 'porn') OR contains(lower(url), 'xxx')
                OR contains(lower(url), 'casino') OR contains(lower(url), 'viagra')
                OR contains(lower(url), 'escort') THEN 'blocked_keyword'
           ELSE 'kept'
         END AS reason
  FROM (
    SELECT doc_id, url,
           regexp_replace(
             lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
             ':[0-9]+$', '') AS fhost
    FROM (
      SELECT doc_id,
             CASE
               WHEN doc_id % 5 = 0 AND doc_id % 2 = 0
                 THEN 'https://deep.sub.blocked.example.com/p/' || CAST(doc_id AS VARCHAR)
               WHEN doc_id % 5 = 0
                 THEN 'https://BLOCKED.EXAMPLE.COM:8080/p/' || CAST(doc_id AS VARCHAR)
               WHEN doc_id % 5 = 1
                 THEN 'ftp://h' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/'
                      || CAST(doc_id AS VARCHAR)
               WHEN doc_id % 5 = 2
                 THEN 'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/free-xxx-vids/'
                      || CAST(doc_id AS VARCHAR)
               WHEN doc_id % 5 = 3
                 THEN 'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/'
                      || CAST(doc_id AS VARCHAR) || '?pad=' || repeat('a', 2100)
               ELSE 'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/article/'
                    || CAST(doc_id AS VARCHAR)
             END AS url
      FROM documents)))
GROUP BY 2
UNION ALL
SELECT 'rank', pr3.host, ow.n_docs, CAST(round(pr3.rank * 100000, 0) AS BIGINT)
FROM (
  WITH e AS (
    SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS src,
           'h' || CAST((doc_id * doc_id + 1) % 20 AS VARCHAR) AS dst,
           CAST(count(*) AS DOUBLE) AS w
    FROM documents GROUP BY 1, 2
  ),
  nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
  nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
  ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
  pr0 AS (SELECT host, 1.0 / n AS rank FROM nodes, nn),
  it1 AS (SELECT e.dst AS host, sum(pr0.rank * e.w / ow.outw) AS inflow
          FROM e JOIN pr0 ON pr0.host = e.src JOIN ow ON ow.src = e.src GROUP BY 1),
  pr1 AS (SELECT nodes.host, (1.0 - 0.85) / n + 0.85 * coalesce(it1.inflow, 0) AS rank
          FROM nodes LEFT JOIN it1 ON it1.host = nodes.host, nn),
  it2 AS (SELECT e.dst AS host, sum(pr1.rank * e.w / ow.outw) AS inflow
          FROM e JOIN pr1 ON pr1.host = e.src JOIN ow ON ow.src = e.src GROUP BY 1),
  pr2 AS (SELECT nodes.host, (1.0 - 0.85) / n + 0.85 * coalesce(it2.inflow, 0) AS rank
          FROM nodes LEFT JOIN it2 ON it2.host = nodes.host, nn),
  it3 AS (SELECT e.dst AS host, sum(pr2.rank * e.w / ow.outw) AS inflow
          FROM e JOIN pr2 ON pr2.host = e.src JOIN ow ON ow.src = e.src GROUP BY 1),
  pr3 AS (SELECT nodes.host, (1.0 - 0.85) / n + 0.85 * coalesce(it3.inflow, 0) AS rank
          FROM nodes LEFT JOIN it3 ON it3.host = nodes.host, nn)
  SELECT host, rank FROM pr3
) pr3
JOIN (
  SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
) ow ON ow.host = pr3.host
UNION ALL
SELECT 'anchor', dst_host, CAST(count(*) AS BIGINT),
       CAST(sum(strlen(anchor)) * 100 + count(DISTINCT src_host) AS BIGINT)
FROM (
  SELECT 'h' || CAST(doc_id % 12 AS VARCHAR) || '.example.com' AS src_host,
         'h' || CAST((3 * doc_id + 6) % 20 AS VARCHAR) || '.example.com' AS dst_host,
         CASE WHEN doc_id % 7 = 0 THEN ''
              WHEN doc_id % 3 = 0 THEN 'résumé ' || CAST(doc_id AS VARCHAR)
              ELSE 'link ' || CAST(doc_id AS VARCHAR) END AS anchor
  FROM documents)
WHERE src_host <> dst_host
GROUP BY 2
UNION ALL
SELECT 'snapdiff', status, CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN 'added'
              WHEN doc_id % 7 = 0 THEN 'removed'
              WHEN doc_id % 3 = 0 THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM documents
  WHERE NOT (doc_id % 5 = 0 AND doc_id % 7 = 0)
) GROUP BY 2
UNION ALL
SELECT 'robots', cls, CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
FROM (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN 'noindex'
           WHEN 1 THEN 'nofollow'
           WHEN 2 THEN 'both'
           WHEN 3 THEN 'both'
           ELSE 'missing'
         END AS cls
  FROM documents)
GROUP BY 2
UNION ALL
SELECT 'robotstxt', CASE WHEN doc_id % 7 = 5 THEN 'blocked'  -- 5xx fail-closed
                         WHEN doc_id % 7 = 6 THEN 'allowed'  -- 4xx fail-open
                         WHEN doc_id % 4 = 0 THEN 'blocked' ELSE 'allowed' END,
       CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
FROM documents GROUP BY 2
UNION ALL
SELECT 'warc',
       'https://warc' || CAST(i % 5 AS VARCHAR) || '.example.org/page/'
         || CAST(i AS VARCHAR)
         || '|2024-01-01 00:00:' || lpad(CAST(i AS VARCHAR), 2, '0')
         || '|' || md5(body) || '|' || err,
       CAST(CASE WHEN i % 6 = 5 THEN 404 ELSE 200 END AS BIGINT),
       CAST(strlen(body) AS BIGINT)
FROM (
  SELECT i,
         CASE WHEN i = 23 THEN 'br-payload-23'
              ELSE '<!doctype html><p>warc page ' || CAST(i AS VARCHAR) || ' '
                   || repeat('x', i) || '</p>' END AS body,
         CASE WHEN i = 23 THEN '{_BR_ORACLE_ERR}' ELSE '' END AS err
  FROM (SELECT unnest(generate_series(0, 23)) AS i))
UNION ALL
SELECT 'warcidx',
       'org,example,warc' || CAST(i % 5 AS VARCHAR) || ')/page/'
         || CAST(i AS VARCHAR)
         || '|https://warc' || CAST(i % 5 AS VARCHAR) || '.example.org/page/'
         || CAST(i AS VARCHAR)
         || '|2024-01-01 00:00:' || lpad(CAST(i AS VARCHAR), 2, '0')
         || '|text/html|true',
       CAST(CASE WHEN i % 6 = 5 THEN 404 ELSE 200 END AS BIGINT),
       CAST(i % 8 AS BIGINT)
FROM (SELECT unnest(generate_series(0, 23)) AS i)
UNION ALL
SELECT 'cdxdelta',
       'https://cdx.example.com/p/' || CAST(doc_id AS VARCHAR) || '|'
         || CASE doc_id % 5 WHEN 1 THEN 'changed' WHEN 3 THEN 'removed'
                            WHEN 4 THEN 'added' ELSE 'unchanged' END || '|'
         || CASE WHEN doc_id % 5 = 4 THEN ''
                 ELSE 'D' || CAST(doc_id AS VARCHAR) END || '|'
         || CASE WHEN doc_id % 5 = 3 THEN ''
                 WHEN doc_id % 5 = 1 THEN 'X' || CAST(doc_id AS VARCHAR)
                 ELSE 'D' || CAST(doc_id AS VARCHAR) END || '|'
         || CASE WHEN doc_id % 5 = 3 THEN ''
                 ELSE 'new-' || CAST(doc_id AS VARCHAR) END,
       CAST(1 AS BIGINT),
       CAST(CASE WHEN doc_id % 5 = 3 THEN -1 ELSE 11 END AS BIGINT)
FROM documents
UNION ALL
SELECT 'wetpub',
       'https://wet' || CAST(i % 3 AS VARCHAR) || '.example.org/t/'
         || CAST(i AS VARCHAR)
         || '|2024-02-02 00:00:' || lpad(CAST(i AS VARCHAR), 2, '0')
         || '|' || md5('wet text ' || CAST(i AS VARCHAR) || ' ' || repeat('y', i)),
       CAST(9 + strlen(CAST(i AS VARCHAR)) + 1 + i AS BIGINT),
       CAST(i AS BIGINT)
FROM (SELECT unnest(generate_series(0, 23)) AS i)
UNION ALL
SELECT 'sitemap', key, CAST(count(*) AS BIGINT),
       CAST(sum(strlen(loc)) AS BIGINT)
FROM (
  SELECT CASE kind WHEN 'sitemap'
           THEN 'sitemap|' || loc || '|'
           ELSE 'url|' || loc || '|' || lastmod END AS key, loc
  FROM (
    SELECT u.kind, u.loc, u.lastmod FROM documents d, LATERAL (
      SELECT * FROM (VALUES
        ('url',
         'https://h' || CAST(d.doc_id % 10 AS VARCHAR) || '.example.com/sm/'
           || CAST(d.doc_id AS VARCHAR) || '/1',
         '2024-05-01', 0),
        ('url',
         'https://h' || CAST(d.doc_id % 10 AS VARCHAR) || '.example.com/sm/'
           || CAST(d.doc_id AS VARCHAR) || '/2?a=1&b=2', '', 0),
        ('sitemap',
         'https://h' || CAST(d.doc_id % 10 AS VARCHAR) || '.example.com/sub/'
           || CAST(d.doc_id AS VARCHAR) || '.xml', '', 1),
        ('url',
         'https://h' || CAST(d.doc_id % 10 AS VARCHAR) || '.example.com/keep/'
           || CAST(d.doc_id AS VARCHAR), '', 2)
      ) AS v(kind, loc, lastmod, m)
      WHERE d.doc_id % 4 = v.m) u))
GROUP BY 2
"""


def q_hash_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment by md5 id bucket,
    PLUS per-source mixing-ratio sample flags (weight (1 + n % 5) / 5 from
    the source id digits), PLUS (r6) temperature-based domain rebalancing
    (alpha=0.7, no-upsampling T): analytics.temperature_sample derives
    per-domain keep rates from the corpus's own domain counts (count
    aggregate -> scalar norm/T broadcasts -> tiny rate table broadcast
    back onto the scan) and thresholds the same md5 bucket. The domain
    is a SYNTHESIZED SKEWED partition (60/30/10 by doc_id decade — the
    real `source` column is uniform, which would pin only the
    degenerate all-rates-1 case): the tail domain must keep 100% and
    the head must downsample. Emitted as n_domain + rate_x1e6 (1e-6
    fixed-point BIGINT) + temp_keep; the oracle re-derives the whole
    pipeline (pow/norm/min-T/least) in SQL. One driver row (driver
    artifact caps at 50 queries, observed r3)."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    w = (1 + F.regexp_extract("source", r"(\d+)", 1).cast("long") % 5) / 5
    sampled = analytics.weighted_sample(docs, w)
    base = analytics.hash_split(sampled, keep_cols=("source", "sample_keep"))
    dom = (
        F.when(F.col("doc_id") % 10 < 6, F.lit("dA"))
        .when(F.col("doc_id") % 10 < 9, F.lit("dB"))
        .otherwise(F.lit("dC"))
    )
    skewed = docs.select("doc_id", dom.alias("domain"))
    temp = analytics.temperature_sample(skewed, group_col="domain", alpha=0.7).select(
        "doc_id",
        "n_domain",
        F.round(F.col("keep_rate") * 1e6, 0).cast("long").alias("rate_x1e6"),
        F.col("sample_keep").alias("temp_keep"),
    )
    return base.join(temp, "doc_id")


O_HASH_SPLIT = """
WITH d AS (SELECT doc_id, CASE WHEN doc_id % 10 < 6 THEN 'dA'
                               WHEN doc_id % 10 < 9 THEN 'dB'
                               ELSE 'dC' END AS domain FROM documents),
c AS (SELECT domain, CAST(count(*) AS DOUBLE) AS n FROM d GROUP BY 1),
w AS (SELECT domain, n, pow(n, 0.7) AS wt FROM c),
nrm AS (SELECT sum(wt) AS norm FROM w),
q AS (SELECT domain, n, wt / norm AS q FROM w, nrm),
t AS (SELECT min(n / q) AS tt FROM q),
r0 AS (SELECT domain, n, least(1.0, tt * q / n) AS rr FROM q, t),
r AS (SELECT domain, CAST(n AS BIGINT) AS n_domain,
             CASE WHEN rr > 1.0 - 1e-9 THEN 1.0 ELSE rr END AS rate FROM r0)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS UBIGINT) AS BIGINT) % 100 AS bucket,
       CASE WHEN CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS UBIGINT) AS BIGINT) % 100 < 90 THEN 'train'
            WHEN CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS UBIGINT) AS BIGINT) % 100 < 95 THEN 'val'
            ELSE 'test' END AS split,
       documents.source AS source,
       CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS UBIGINT) AS BIGINT) % 10000
         < CAST(floor(((1 + CAST(regexp_extract(documents.source, '([0-9]+)', 1) AS BIGINT) % 5) / 5) * 10000) AS BIGINT)
       AS sample_keep,
       r.n_domain AS n_domain,
       CAST(round(r.rate * 1000000, 0) AS BIGINT) AS rate_x1e6,
       CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS UBIGINT) AS BIGINT) % 10000
         < CAST(floor(r.rate * 10000) AS BIGINT) AS temp_keep
FROM documents
JOIN d USING (doc_id)
JOIN r ON r.domain = d.domain
"""


def q_gif_pixel_decode(spark, sf_dir):
    """REAL GIF decode (multimodal.decode_gif / decode_gif_frames —
    pure-Python LZW + palette + animation compositing): synthesize GIFs
    whose first-frame index raster follows the pixel formula with a
    grayscale-identity palette. doc_id % 3 picks the tier: plain
    sequential / 4-pass interlaced / 3-frame ANIMATION (base frame;
    patch1 erased by disposal 3 restore-to-previous; patch2 with
    transparent index 0 composited into the final canvas). The oracle
    recomputes the first frame AND the final composited canvas from the
    formulas — a wrong disposal, transparency skip, or placement flips
    anim_md5."""
    import pandas as pd

    from .multimodal import encode_gif, encode_gif_animation, extract_pixel_features

    docs = _docs(spark, sf_dir)

    def build(batches):
        import numpy as np

        pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)  # v -> (v,v,v)
        for pdf in batches:
            rows = []
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                w, h = 6 + d % 6, 3 + d % 5
                idx = ((d * 31 + np.arange(w * h) * 7) % 256).astype(np.uint8)
                if d % 3 == 2:  # animated: base + erased patch1 + patch2
                    p1 = ((d * 13 + np.arange((w - 2) * (h - 2)) * 5) % 256)
                    p2 = ((d * 17 + np.arange((w - 3) * (h - 2)) * 11) % 256)
                    p2 = np.where(p2 % 4 == 0, 0, p2)  # 0 is the transparent index
                    payload = encode_gif_animation(pal, (w, h), [
                        dict(indices=idx.reshape(h, w), disposal=1, delay_cs=3),
                        dict(x=1, y=1, indices=p1.astype(np.uint8).reshape(h - 2, w - 2),
                             disposal=3, delay_cs=4),
                        dict(x=2, y=1, indices=p2.astype(np.uint8).reshape(h - 2, w - 3),
                             transparent=0, delay_cs=5),
                    ])
                else:
                    # interlaced tier: the stream carries rows in
                    # 0%8/4%8/2%4/1%2 order, decode must reorder
                    payload = encode_gif(
                        idx.reshape(h, w), pal, interlace=(d % 3 == 1)
                    )
                rows.append({"media_id": d, "payload": payload})
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = analytics.spread_small_input(docs).mapInPandas(build, "media_id long, payload binary")
    return extract_pixel_features(media).select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        "px_md5",
        "mean_x1000",
        "n_frames",
        "anim_ms",
        "anim_md5",
        "error",
    )


O_GIF_PIXEL_DECODE = """
WITH d AS (
  SELECT doc_id, 6 + doc_id % 6 AS w, 3 + doc_id % 5 AS h, doc_id % 3 AS m
  FROM documents),
v AS (
  SELECT doc_id, w, h, m,
         [(doc_id * 31 + i * 7) % 256 FOR i IN generate_series(0, w * h - 1)] AS px,
         -- final composited canvas: patch2 (transparent where val%4=0)
         -- over the base frame restored by patch1's disposal-3
         [CASE WHEN m = 2
                AND (i // w) BETWEEN 1 AND h - 2
                AND (i % w) BETWEEN 2 AND w - 2
                AND ((doc_id * 17 + (((i // w) - 1) * (w - 3) + (i % w) - 2) * 11) % 256) % 4 != 0
               THEN (doc_id * 17 + (((i // w) - 1) * (w - 3) + (i % w) - 2) * 11) % 256
               ELSE (doc_id * 31 + i * 7) % 256 END
          FOR i IN generate_series(0, w * h - 1)] AS fin
  FROM d)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       md5(array_to_string([repeat(lpad(lower(to_hex(x)), 2, '0'), 3) FOR x IN px], '')) AS px_md5,
       CAST(list_sum(px) * 3 * 1000 // (w * h * 3) AS BIGINT) AS mean_x1000,
       CAST(CASE WHEN m = 2 THEN 3 ELSE 1 END AS BIGINT) AS n_frames,
       CAST(CASE WHEN m = 2 THEN 120 ELSE 0 END AS BIGINT) AS anim_ms,
       md5(array_to_string([repeat(lpad(lower(to_hex(x)), 2, '0'), 3) FOR x IN fin], '')) AS anim_md5,
       '' AS error
FROM v
"""


def q_audio_pcm_decode(spark, sf_dir):
    """REAL audio decode + header-walk ladder (multimodal.decode_audio /
    audio_stream_info) over a 6-container matrix on doc_id % 4:
      0 -> WAV / AIFF / AU cycling on (d//4)//2 % 3 (PCM-16, mono/stereo
           by (d//4)%2; AIFF is the big-endian IFF walk with the 80-bit
           extended rate, AU the Sun .snd header) — full decode; features
           are container-independent so the oracle formula is SHARED and
           any AIFF/AU parse error breaks the row
      1 -> FLAC  (Rice FIXED/LPC, stereo decorrelation cycling
                  left/mid/right-side, CRC + PCM-MD5 verified) — full decode
      2 -> MP3   (CBR MPEG1 Layer III frame sequence) — header_only walk
      3 -> OGG   (Vorbis ident header + EOS granule) — header_only walk
    PCM sample i is (doc_id*7 + i*13) % 2048 - 1024; the PCM containers
    being lossless means ONE oracle recomputes RMS/peak from the formula,
    and the MP3/OGG tiers oracle-check the frame-header math
    (duration/rate/channels/bitrate) without any codec. The G.711 mu-law
    AU path is lossy so it stays off the formula row — it is pinned
    bit-exactly against the JDK's independent UlawCodec decode instead
    (tests/test_real_anchors.py)."""
    import pandas as pd

    from .multimodal import (
        encode_aiff,
        encode_au,
        encode_mp3_headers,
        encode_ogg_vorbis,
        encode_wav,
        extract_audio_features,
    )

    docs = _docs(spark, sf_dir)

    def build(batches):
        import numpy as np

        from .flac import encode_flac

        for pdf in batches:
            rows = []
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                k = d // 4
                mode = d % 4
                if mode in (0, 1):
                    c = 2 if mode == 1 else 1 + k % 2
                    frames = 256 + d % 128
                    rate = 8000 + (k % 4) * 4000
                    flat = ((d * 7 + np.arange(frames * c) * 13) % 2048) - 1024
                    pcm = flat.reshape(frames, c)
                    if mode == 1:
                        smode = ("left_side", "mid_side", "right_side")[k % 3]
                        payload = encode_flac(
                            pcm, rate, block_size=128,
                            stereo_mode=smode, lpc=(k % 2 == 1),
                        )
                    else:
                        enc = (encode_wav, encode_aiff, encode_au)[(k // 2) % 3]
                        payload = enc(pcm, rate)
                elif mode == 2:
                    payload = encode_mp3_headers(
                        n_mp3_frames=6 + k % 6, kbps_idx=1 + k % 14,
                        rate_idx=k % 3, mono=(k % 2 == 0),
                    )
                else:
                    payload = encode_ogg_vorbis(
                        granule=1000 + d % 500, rate=8000 + (k % 4) * 4000,
                        channels=1 + k % 2, nominal_bps=(32 + k % 64) * 1000,
                    )
                rows.append({"media_id": d, "payload": payload})
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = analytics.spread_small_input(docs).mapInPandas(build, "media_id long, payload binary")
    return extract_audio_features(media).select(
        "media_id",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("channels").cast("long").alias("channels"),
        "n_frames",
        "duration_ms",
        "bitrate_kbps",
        "rms_x1000",
        "peak",
        "error",
    )


O_AUDIO_PCM_DECODE = """
WITH d AS (
  SELECT doc_id, doc_id // 4 AS k, doc_id % 4 AS mode FROM documents),
pcm AS (
  SELECT doc_id,
         CASE WHEN mode = 1 THEN 2 ELSE 1 + k % 2 END AS c,
         256 + doc_id % 128 AS frames,
         8000 + (k % 4) * 4000 AS rate
  FROM d WHERE mode IN (0, 1)),
pcm_v AS (
  SELECT doc_id, c, frames, rate,
         [(doc_id * 7 + i * 13) % 2048 - 1024 FOR i IN generate_series(0, frames * c - 1)] AS s
  FROM pcm),
pcm_rows AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(c AS BIGINT) AS channels,
       CAST(frames AS BIGINT) AS n_frames,
       CAST(frames * 1000 // rate AS BIGINT) AS duration_ms,
       CAST(rate * c * 16 // 1000 AS BIGINT) AS bitrate_kbps,
       CAST(floor(1000 * sqrt(list_sum(list_transform(s, x -> x * x)) * 1.0 / (frames * c))) AS BIGINT) AS rms_x1000,
       CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak,
       '' AS error
  FROM pcm_v),
mp3_rows AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(([44100, 48000, 32000])[1 + k % 3] AS BIGINT) AS sample_rate,
       CAST(CASE WHEN k % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS channels,
       CAST((6 + k % 6) * 1152 AS BIGINT) AS n_frames,
       CAST((6 + k % 6) * 1152 * 1000 // ([44100, 48000, 32000])[1 + k % 3] AS BIGINT) AS duration_ms,
       CAST(([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[1 + k % 14] AS BIGINT) AS bitrate_kbps,
       CAST(0 AS BIGINT) AS rms_x1000, CAST(0 AS BIGINT) AS peak,
       'header_only' AS error
  FROM d WHERE mode = 2),
ogg_rows AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(8000 + (k % 4) * 4000 AS BIGINT) AS sample_rate,
       CAST(1 + k % 2 AS BIGINT) AS channels,
       CAST(1000 + doc_id % 500 AS BIGINT) AS n_frames,
       CAST((1000 + doc_id % 500) * 1000 // (8000 + (k % 4) * 4000) AS BIGINT) AS duration_ms,
       CAST(32 + k % 64 AS BIGINT) AS bitrate_kbps,
       CAST(0 AS BIGINT) AS rms_x1000, CAST(0 AS BIGINT) AS peak,
       'header_only' AS error
  FROM d WHERE mode = 3)
SELECT * FROM pcm_rows UNION ALL SELECT * FROM mp3_rows UNION ALL SELECT * FROM ogg_rows
"""


def q_lang_id(spark, sf_dir):
    return analytics.lang_id_docs(_docs(spark, sf_dir))


def _lang_pred_sql(src: str, keys: str) -> str:
    """DuckDB replica of the lang-ID spec over an arbitrary relation
    `src` with columns ({keys}, text), generated from the SAME profile
    constants the Spark expression is built from (single source of
    truth) — the doc-level lang_id oracle and the per-LINE lang-mix
    replay both instantiate this, exactly as lang_id_docs serves both
    granularities Spark-side."""
    profiles = analytics.LANG_PROFILES
    score_exprs = ",\n       ".join(
        f"len(list_intersect(tk, [{', '.join(repr(w) for w in words)}])) AS s_{lang}"
        for lang, words in profiles.items()
    )
    m_expr = "greatest(" + ", ".join(f"s_{l}" for l in profiles) + ")"
    latin = (
        "CASE WHEN m = 0 THEN 'und' "
        + " ".join(f"WHEN s_{l} = m THEN '{l}'" for l in sorted(profiles))
        + " ELSE 'und' END"
    )
    scripts = " ".join(
        f"WHEN regexp_matches(head, '{pat}') THEN '{lang}'"
        for lang, pat in analytics.LANG_SCRIPTS
    )
    return f"""
SELECT {keys},
  CASE WHEN text IS NULL OR text = '' THEN 'und' {scripts} ELSE {latin} END AS pred_lang
FROM (SELECT *, {m_expr} AS m FROM (
  SELECT {keys}, text, head,
       {score_exprs}
  FROM (
    SELECT {keys}, text, substr(text, 1, 200) AS head,
           list_distinct(string_split(lower(text), ' ')) AS tk
    FROM {src})))
"""


def _lang_id_oracle() -> str:
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, pred_lang FROM ("
        + _lang_pred_sql("documents", "doc_id")
        + ")"
    )


# Splice the GENERATED per-line classifier into the quality oracle's
# lang-mix CTEs (O_QUALITY_SCORES is defined before _lang_pred_sql;
# token replacement keeps the SQL literal free of brace-format hazards
# — the quality SQL contains '{code}' and struct literals)
O_QUALITY_SCORES = (
    O_QUALITY_SCORES
    .replace("__LANGMIX_PRED__", _lang_pred_sql("lml", "doc_id, line_no"))
    .replace("__LMFR__", _LANGMIX_FR)
    .replace("__LMDE__", _LANGMIX_DE)
)

# Same splice for the imgtext level's caption-language replay
O_MEDIA_FRAME_FEATURES = (
    O_MEDIA_FRAME_FEATURES
    .replace("__IMGTEXT_LANG__", _lang_pred_sql("icapt", "doc_id"))
    .replace("__LMFR__", _LANGMIX_FR)
)


O_LANG_ID = _lang_id_oracle()


def q_embedding_near_dup(spark, sf_dir):
    return analytics.embedding_near_dup(_emb(spark, sf_dir), threshold=0.4).select(
        "vec_a", "vec_b", F.round("cosine", 4).alias("cosine")
    )


O_EMBEDDING_NEAR_DUP = """
SELECT CAST(a.vec_id AS BIGINT) AS vec_a, CAST(b.vec_id AS BIGINT) AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
"""


def _with_aqe(fn, on: bool = True):
    """Bind a query builder to its AQE mode (see _adaptive): the mode is
    declared at registration so bench/correctness execution ORDER cannot
    leak one family's mode into the other — every build states its own."""

    def wrapped(spark, sf_dir):
        _adaptive(spark, on)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    wrapped.__wrapped__ = fn
    return wrapped


# Extraction + Python-decode tiers keep AQE OFF (the tuned status quo:
# explicit salted repartition, one python-task wave); JVM analytics rows
# opt IN for scale-adaptive shuffle coalescing. Rationale in _adaptive.
QUERIES = {
    "extract_text": _with_aqe(q_extract_text, on=False),
    "extract_links": _with_aqe(q_extract_links, on=False),
    "extract_images": _with_aqe(q_extract_images, on=False),
    "extract_media": _with_aqe(q_extract_media, on=False),
    "extract_boilerplate": _with_aqe(q_extract_boilerplate, on=False),
    "extract_tables": _with_aqe(q_extract_tables, on=False),
    "extract_markdown": _with_aqe(q_extract_markdown, on=False),
    "extract_all_links": _with_aqe(q_extract_all_links, on=False),
    "extract_encoding": _with_aqe(q_extract_encoding, on=False),
    "extract_entities": _with_aqe(q_extract_entities, on=False),
    "extract_nested_boilerplate": _with_aqe(q_extract_nested_boilerplate, on=False),
    "extract_colspan_table": _with_aqe(q_extract_colspan_table, on=False),
    "extract_deeplist": _with_aqe(q_extract_deeplist, on=False),
    "lineage_rollup": _with_aqe(q_lineage_rollup, on=False),
    "custom_scorer_extraction": _with_aqe(q_custom_scorer, on=False),
    "dedup_exact": _with_aqe(q_dedup_exact),
    "token_stats": _with_aqe(q_token_stats),
    "quality_scores": _with_aqe(q_quality_scores),
    "doc_fingerprints": _with_aqe(q_doc_fingerprints),
    "decontaminate": _with_aqe(q_decontaminate),
    "ann_cosine_topk": _with_aqe(q_ann_topk),
    "embedding_near_dup": _with_aqe(q_embedding_near_dup),
    "events_hourly_rollup": _with_aqe(q_events_hourly),
    "token_topk": _with_aqe(q_token_topk),
    "user_sessions": _with_aqe(q_user_sessions),
    "events_json_props": _with_aqe(q_events_json_props),
    "tpch_pricing_summary": _with_aqe(relational.pricing_summary),
    "tpch_top_revenue_orders": _with_aqe(relational.top_revenue_orders),
    "tpch_regional_revenue": _with_aqe(relational.regional_revenue),
    "regional_rollup": _with_aqe(relational.regional_rollup),
    "events_distribution_stats": _with_aqe(relational.events_distribution_stats),
    "top_order_per_customer": _with_aqe(relational.top_order_per_customer),
    "media_sniff_metadata": _with_aqe(q_media_sniff, on=False),
    "media_frame_features": _with_aqe(q_media_frame_features, on=False),
    "pdf_structural_parse": _with_aqe(q_pdf_metadata, on=False),
    "pdf_text_extract": _with_aqe(q_pdf_text, on=False),
    "media_pixel_decode": _with_aqe(q_media_pixel_decode, on=False),
    "jpeg_pixel_decode": _with_aqe(q_jpeg_pixel_decode, on=False),
    "minhash_lsh_candidates": _with_aqe(q_minhash_lsh),
    "lsh_bucket_stats": _with_aqe(q_lsh_bucket_stats),
    "near_dup_components": _with_aqe(q_near_dup_components),
    "ngram_jaccard_verify": _with_aqe(q_ngram_jaccard),
    "simhash": _with_aqe(q_simhash),
    "lang_id": _with_aqe(q_lang_id),
    "corpus_filter": _with_aqe(q_corpus_filter),
    "doc_length_percentiles": _with_aqe(q_doc_length_percentiles),
    "host_stats": _with_aqe(q_host_stats),
    "hash_split": _with_aqe(q_hash_split),
    "audio_pcm_decode": _with_aqe(q_audio_pcm_decode, on=False),
    "gif_pixel_decode": _with_aqe(q_gif_pixel_decode, on=False),
}

ORACLES = {
    "extract_text": O_EXTRACT_TEXT,
    "extract_links": O_EXTRACT_LINKS,
    "extract_images": O_EXTRACT_IMAGES,
    "extract_media": O_EXTRACT_MEDIA,
    "extract_boilerplate": O_EXTRACT_BOILERPLATE,
    "extract_tables": O_EXTRACT_TABLES,
    "extract_markdown": O_EXTRACT_MARKDOWN,
    "extract_all_links": O_EXTRACT_ALL_LINKS,
    "extract_encoding": O_EXTRACT_ENCODING,
    "extract_entities": O_EXTRACT_ENTITIES,
    "extract_nested_boilerplate": O_EXTRACT_NESTED,
    "extract_colspan_table": O_EXTRACT_COLSPAN,
    "extract_deeplist": O_EXTRACT_DEEPLIST,
    "lineage_rollup": O_LINEAGE_ROLLUP,
    "custom_scorer_extraction": O_CUSTOM_SCORER,
    "dedup_exact": O_DEDUP_EXACT,
    "token_stats": O_TOKEN_STATS,
    "quality_scores": O_QUALITY_SCORES,
    "doc_fingerprints": O_DOC_FINGERPRINTS,
    "decontaminate": O_DECONTAMINATE,
    "ann_cosine_topk": O_ANN_TOPK,
    "events_hourly_rollup": O_EVENTS_HOURLY,
    "token_topk": O_TOKEN_TOPK,
    "user_sessions": O_USER_SESSIONS,
    "events_json_props": O_EVENTS_JSON_PROPS,
    "tpch_pricing_summary": relational.O_PRICING_SUMMARY,
    "tpch_top_revenue_orders": relational.O_TOP_REVENUE_ORDERS,
    "tpch_regional_revenue": relational.O_REGIONAL_REVENUE,
    "regional_rollup": relational.O_REGIONAL_ROLLUP,
    "events_distribution_stats": relational.O_EVENTS_DISTRIBUTION,
    "top_order_per_customer": relational.O_TOP_ORDER_PER_CUSTOMER,
    "media_sniff_metadata": O_MEDIA_SNIFF,
    "media_frame_features": O_MEDIA_FRAME_FEATURES,
    "pdf_structural_parse": O_PDF_METADATA,
    "pdf_text_extract": O_PDF_TEXT,
    "media_pixel_decode": O_MEDIA_PIXEL_DECODE,
    "jpeg_pixel_decode": O_JPEG_PIXEL_DECODE,
    "ngram_jaccard_verify": O_NGRAM_JACCARD,
    "simhash": O_SIMHASH,
    "lang_id": O_LANG_ID,
    "doc_length_percentiles": O_DOC_LENGTH_PERCENTILES,
    "host_stats": O_HOST_STATS,
    "hash_split": O_HASH_SPLIT,
    "audio_pcm_decode": O_AUDIO_PCM_DECODE,
    "gif_pixel_decode": O_GIF_PIXEL_DECODE,
    "corpus_filter": _corpus_filter_oracle().format(
        components=O_NEAR_DUP_COMPONENTS, lang=O_LANG_ID),
    "embedding_near_dup": O_EMBEDDING_NEAR_DUP,
    "minhash_lsh_candidates": _minhash_lsh_oracle(),
    "lsh_bucket_stats": _lsh_bucket_stats_oracle(),
    "near_dup_components": O_NEAR_DUP_COMPONENTS,
}
