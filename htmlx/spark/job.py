"""The extraction job: salted repartition + vectorized mapInPandas stage.

Spark-first design (SURVEY.md §3.3, §4.3):
  spark.read...  -> select(url, html)            [Catalyst prunes columns]
  -> repartition(N, xxhash64(url, salt))         [defeat host-domain skew]
  -> mapInPandas(extract_batch, RESULT_SCHEMA)   [Arrow-vectorized transport;
                                                  per-document tree work runs
                                                  inside the batch function]
  -> append to results + metrics tables

The per-row error column replaces the reference's BatchResult.Errors
(batch.go:10-23); Spark's task scheduler replaces its worker pool
(batch.go:205-314); metrics rows replace Statistics (processor.go:254-271).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core.extract import Config, Extractor
from .schemas import ALL_LINKS_SCHEMA, RESULT_SCHEMA


def _partition_id() -> int:
    try:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        return ctx.partitionId() if ctx is not None else -1
    except Exception:
        return -1


def make_extract_batch(config: Config, run_id: str = "", doc_counter=None):
    """Build the mapInPandas batch function for the main extraction stage.

    The Extractor is constructed once per Python worker (module-level
    amortization replaces the reference's processor pool,
    processor_pool.go:21-89). One pass computes everything downstream
    stages need: result fields, the per-event audit array (when
    config.audit_enabled) and input_bytes — metrics and the audit table
    are then pure JVM derivations (derive_metrics / derive_audit), so a
    results+metrics+audit run extracts each document exactly ONCE.

    doc_counter: optional Spark accumulator incremented once per document
    extracted — the hard signal tests use to prove single-pass behavior."""

    def extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        extractor = Extractor(config)
        pid = _partition_id()
        collect_audit = config.audit_enabled
        empty_audit: list = []
        for pdf in batches:
            urls = pdf["url"].tolist()
            htmls = pdf["html"].tolist()
            n = len(urls)
            # columnar result build (dict-of-lists): cheaper pandas/Arrow
            # conversion than a list of per-row dicts
            titles = [None] * n
            texts = [None] * n
            images = [None] * n
            links = [None] * n
            videos = [None] * n
            audios = [None] * n
            word_counts = [0] * n
            reading = [0] * n
            proc_ms = [0] * n
            proc_us = [0] * n
            errors = [""] * n
            in_bytes = [0] * n
            audits = [empty_audit] * n if not collect_audit else [None] * n
            for i in range(n):
                html = htmls[i]
                if html is None:
                    html = b""
                elif isinstance(html, (bytearray, memoryview)):
                    html = bytes(html)
                r = extractor.extract(html)
                titles[i] = r.title
                texts[i] = r.text
                images[i] = r.images
                links[i] = r.links
                videos[i] = r.videos
                audios[i] = r.audios
                word_counts[i] = r.word_count
                reading[i] = r.reading_time_ms
                proc_ms[i] = r.processing_time_ms
                proc_us[i] = r.processing_time_us
                errors[i] = r.error
                in_bytes[i] = len(html)
                if collect_audit:
                    audits[i] = r.audit
            if doc_counter is not None:
                doc_counter.add(n)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "title": titles,
                    "text": texts,
                    "images": images,
                    "links": links,
                    "videos": videos,
                    "audios": audios,
                    "word_count": word_counts,
                    "reading_time_ms": reading,
                    "processing_time_ms": proc_ms,
                    "processing_time_us": proc_us,
                    "error": errors,
                    "input_bytes": in_bytes,
                    "audit": audits,
                    "run_id": run_id,
                    "partition_id": pid,
                }
            )

    return extract_batch


def derive_metrics(results: DataFrame, extra_keys: tuple = ()) -> DataFrame:
    """Per-partition metrics rollup derived from the results table — a pure
    JVM groupBy over already-extracted rows (no second extraction pass;
    Spark-native replacement for Statistics, processor.go:254-271).

    extract_ms is the sum of per-document processing times (the wall clock
    the extraction actually consumed in that partition). extra_keys adds
    grouping columns (e.g. the resume url-group) for finer lineage."""
    return results.groupBy("run_id", "partition_id", *extra_keys).agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.when(F.col("error") == "", 1).otherwise(0)).alias("docs_ok"),
        F.sum(F.when(F.col("error") != "", 1).otherwise(0)).alias("docs_error"),
        F.sum("input_bytes").alias("bytes_in"),
        # sum micros, truncate ONCE at the rollup: per-doc ms truncation
        # would under-report a 0.3 ms/doc partition's wall time ~3x
        (F.sum("processing_time_us") / 1000).cast("long").alias("extract_ms"),
        F.sum(F.size("audit")).alias("audit_events"),
    )


def derive_audit(results: DataFrame) -> DataFrame:
    """Audit table derived from results.audit — explode + flatten, all
    JVM-side. One row per blocked tag/attr/URL/violation, tagged with
    (run_id, partition_id, url) lineage; the Spark-native replacement for
    the reference's audit sink zoo (audit.go:157-640): events are DATA."""
    ev = F.col("ev")
    return results.select(
        "run_id", "partition_id", "url", F.explode("audit").alias("ev")
    ).select(
        "run_id",
        "partition_id",
        "url",
        F.timestamp_seconds(ev["ts"]).alias("ts"),
        ev["level"].alias("level"),
        ev["event_type"].alias("event_type"),
        ev["message"].alias("message"),
        ev["tag"].alias("tag"),
        ev["attribute"].alias("attribute"),
        ev["blocked_url"].alias("blocked_url"),
        ev["input_size"].alias("input_size"),
        ev["max_size"].alias("max_size"),
        ev["depth"].alias("depth"),
        ev["max_depth"].alias("max_depth"),
        ev["raw_value"].alias("raw_value"),
    )


def dedup_pages_by_content(df: DataFrame) -> DataFrame:
    """Content-hash dedup BEFORE extraction — the Spark-idiomatic
    replacement for the reference's result cache (SURVEY.md §4.1): at
    10^12 docs an LRU is pointless, but crawls repeat pages; extracting
    each distinct html once is the scalable equivalent. Returns one
    representative row per distinct html (min url for determinism).

    Implemented as min_by over the digest: ONE shuffle, and only the
    digest + the kept row's columns move — the earlier agg+join variant
    shuffled the fat html column twice."""
    hashed = df.withColumn("__h", F.sha2(F.col("html"), 256))
    cols = list(df.columns)
    kept = hashed.groupBy("__h").agg(
        # min_by on the whole-row struct keeps the row atomic (per-column
        # min_by could mix rows when urls tie)
        F.min_by(F.struct(*cols), F.col("url")).alias("__r")
    )
    return kept.select(*[F.col("__r")[c].alias(c) for c in cols])


def to_json_results(results: DataFrame) -> DataFrame:
    """JSON serialization of results — ExtractToJSON analogue
    (output.go:44-66) via the built-in `to_json` (ms durations, same field
    names as the reference's MarshalJSON, output.go:270-302)."""
    payload = F.struct(
        F.col("text"),
        F.col("title"),
        F.col("images"),
        F.col("links"),
        F.col("videos"),
        F.col("audios"),
        F.col("word_count"),
        F.col("reading_time_ms"),
        F.col("processing_time_ms"),
    )
    return results.select("url", F.to_json(payload).alias("json"))


def salted_repartition(df: DataFrame, num_partitions: int, salt: str = "htmlx") -> DataFrame:
    """Explicit skew-defeating shuffle on url-hash (north_rule requirement).

    Host-domain skew (many pages per domain) concentrates work when data is
    partitioned by crawl order or host; hashing the full url with a salt
    spreads rows uniformly. xxhash64 stays JVM-side (no Python roundtrip)."""
    return df.repartition(num_partitions, F.xxhash64(F.col("url"), F.lit(salt)))


def run_extraction(
    df: DataFrame,
    config: Config | None = None,
    run_id: str = "",
    num_partitions: int | None = None,
    with_audit: bool | None = None,
    doc_counter=None,
) -> DataFrame:
    """Main entry: pages DataFrame (url, html, ...) -> results DataFrame.

    Selects only (url, html) so Catalyst prunes every other column down to
    the parquet scan — `html` is the fat column; never read `text` here.

    with_audit: collect per-event audit arrays on the result rows (None =
    follow config.audit_enabled). Off by default: result rows then carry
    empty arrays at ~zero Arrow cost."""
    config = config or Config()
    if with_audit is not None and with_audit != config.audit_enabled:
        config = Config(**{**config.__dict__, "audit_enabled": with_audit})
    projected = df.select("url", "html")
    if num_partitions:
        projected = salted_repartition(projected, num_partitions)
    return projected.mapInPandas(
        make_extract_batch(config, run_id, doc_counter), RESULT_SCHEMA
    )


def run_extraction_full(
    df: DataFrame,
    config: Config | None = None,
    run_id: str = "",
    num_partitions: int | None = None,
    doc_counter=None,
) -> dict[str, DataFrame]:
    """Results + metrics + audit from ONE extraction pass.

    Returns {"results", "metrics", "audit"}: metrics/audit are JVM
    derivations of the results DataFrame. The caller must materialize
    results once before (or while) consuming the derived frames —
    persist() locally, or write results to the sink table and derive from
    the read-back (what run_with_resume does at scale); otherwise Spark's
    lazy evaluation re-runs the extraction per consumed output."""
    results = run_extraction(
        df, config, run_id, num_partitions, with_audit=True, doc_counter=doc_counter
    )
    return {
        "results": results,
        "metrics": derive_metrics(results),
        "audit": derive_audit(results),
    }


def make_all_links_batch(config: Config, run_id: str = ""):
    """mapInPandas batch function for the ExtractAllLinks mode
    (links.go:24-61: resource enumeration, no sanitization)."""
    from ..core.links import extract_all_links

    def links_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = _partition_id()
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                b = bytes(html) if html is not None else b""
                try:
                    resources = extract_all_links(b, config)
                    err = ""
                except Exception as exc:
                    resources, err = [], f"internal_panic: {type(exc).__name__}"
                rows.append(
                    {
                        "url": url,
                        "link_resources": resources,
                        "error": err,
                        "run_id": run_id,
                        "partition_id": pid,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in ALL_LINKS_SCHEMA.fields])

    return links_batch


def run_all_links(
    df: DataFrame,
    config: Config | None = None,
    run_id: str = "",
    num_partitions: int | None = None,
) -> DataFrame:
    config = config or Config()
    projected = df.select("url", "html")
    if num_partitions:
        projected = salted_repartition(projected, num_partitions)
    return projected.mapInPandas(make_all_links_batch(config, run_id), ALL_LINKS_SCHEMA)
