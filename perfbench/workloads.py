"""The three workloads: one pass each, its output check and its layer split.

A pass is one complete batch job from input to its full result:

- ``web_pages``: realistic 30-100 KB pages through ``run_extraction`` to a
  noop sink. The ``htmlx.core`` Python work is nearly the whole pass.
- ``crawl_resume``: 5,500 template pages of ~0.6 KB through the ship path,
  ``run_with_resume``, into fresh results, metrics and audit tables.
- ``curate``: the ``dedup_exact`` query row over a 2,500-row documents
  table, built, planned and written to a noop sink. Its output is checked
  against the row's DuckDB oracle on the same table.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import duckdb
from pyspark.sql import functions as F

from htmlx.core.extract import Config, Extractor
from htmlx.spark.entryqueries import ORACLES, QUERIES
from htmlx.spark.io import ParquetTableIO, group_bucket, run_with_resume
from htmlx.spark.job import run_extraction
from htmlx.spark.schemas import LINK_TYPE

import inputs

SAMPLE = 8  # pages per run whose Spark output is compared with in-process extraction
LINK_FIELDS = LINK_TYPE.fieldNames()
DOCS_PER_SF = 50_000  # the documents table holds 5000 rows at sf0.1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _links(links) -> list[tuple]:
    return [
        tuple((l.asDict() if hasattr(l, "asDict") else l).get(f) for f in LINK_FIELDS)
        for l in links or ()
    ]


def _compare_sample(rows: dict, htmls: dict) -> int:
    """Mismatches between Spark rows {url: (text, links)} and in-process
    ``Extractor.extract`` on the same bytes."""
    ex = Extractor(Config())
    bad = 0
    for url, html in htmls.items():
        r = ex.extract(html)
        text, links = rows.get(url, (None, None))
        bad += text != r.text or _links(links) != _links(r.links)
    return bad


def clear_state(spark) -> int:
    """Persisted RDDs still held, then drop every cached frame and RDD."""
    held = spark.sparkContext._jsc.getPersistentRDDs()
    left = held.size()
    spark.catalog.clearCache()
    for rdd in list(held.values()):
        rdd.unpersist(True)
    return left


class Workload:
    """A pass, its output check, and what the traced run needs from it."""

    name = ""
    # warm passes run before the measured ones, while the JVM still
    # compiles and pass times fall
    warmup = 1
    min_passes = 4  # measured passes a run makes at least
    core_sample = 0  # pages of the input traced through ``htmlx.core``
    persisted_left: dict = {}  # query row -> persisted RDDs it left behind
    # ``extract_only(spark, tracer)``: the extraction inside the io spans, to
    # a noop sink, so the traced run can take it out of them
    extract_only = None

    def before_pass(self):
        """Untimed preparation of the next pass."""

    def core_pages(self) -> list[bytes]:
        """A seeded sample of the input pages for the single-process
        ``htmlx.core`` trace."""
        if not self.core_sample:
            return []
        htmls = self.table.column("html").to_pylist()
        return random.Random(len(htmls)).sample(htmls, min(self.core_sample, len(htmls)))

    def hooks(self, tracer) -> list:
        """Wrap the workload's public calls in spans; returns undo callables."""
        return []

    def output_stats(self) -> tuple[int, int]:
        """(files, bytes) the last pass wrote."""
        return 0, 0


class WebPages(Workload):
    name = "web_pages"
    n_pages = 128
    core_sample = 40

    def setup(self, seed, nproc, work):
        self.nproc = nproc
        self.path = os.path.join(work, "pages")
        self.table = inputs.write_web_pages(seed, self.n_pages, self.path, files=nproc)
        self.sample = random.Random(seed).sample(self.table.column("url").to_pylist(), SAMPLE)
        sizes = sorted(len(h) for h in self.table.column("html").to_pylist())
        return {
            "docs": self.n_pages,
            "html_mb": sum(sizes) / 1e6,
            "page_kb": {q: sizes[int(q * (len(sizes) - 1))] / 1e3 for q in (0.1, 0.5, 0.9)},
            "sf": inputs.WEB_DOCS / DOCS_PER_SF,
        }

    def run_pass(self, spark, tracer, verify):
        with tracer.span("job.run_extraction"):
            res = run_extraction(spark.read.parquet(self.path), Config(), num_partitions=self.nproc)
        with tracer.span("job.write"):
            if verify:
                # the cold pass collects every page's error and the
                # sample's text and links instead of dropping them
                pick = F.col("url").isin(self.sample)
                self.collected = res.select(
                    "url", "error", F.when(pick, F.col("text")), F.when(pick, F.col("links"))
                ).collect()
            else:
                _noop(res)

    def check(self, spark):
        urls = self.table.column("url").to_pylist()
        htmls = dict(zip(urls, self.table.column("html").to_pylist()))
        rows = self.collected
        errors = sum(bool(r[1]) for r in rows)
        got = {r[0]: (r[2], r[3]) for r in rows if r[0] in self.sample}
        bad = _compare_sample(got, {u: htmls[u] for u in self.sample})
        missing = len(set(urls) - {r[0] for r in rows})
        return len(urls), errors + bad + missing, {"errors": errors, "sample_mismatch": bad, "missing": missing}


class CrawlResume(Workload):
    name = "crawl_resume"
    n_docs = 500  # x 11 templates = 5,500 pages
    groups = 8
    core_sample = 1000
    warmup = 2  # pass times fall for about three passes
    min_passes = 2
    run_id = "bench"

    def setup(self, seed, nproc, work):
        self.nproc = nproc
        self.partitions_per_group = max(1, 2 * nproc // self.groups)
        self.work = work
        self.path = os.path.join(work, "pages")
        self.table, self.audit_pages = inputs.write_crawl_pages(seed, self.n_docs, self.path, files=2 * nproc)
        self.sample = random.Random(seed).sample(self.table.column("url").to_pylist(), SAMPLE)
        self.out = None
        self.passes = 0
        html_bytes = sum(len(h) for h in self.table.column("html").to_pylist())
        return {"docs": self.table.num_rows, "html_mb": html_bytes / 1e6, "sf": self.n_docs / DOCS_PER_SF}

    def before_pass(self):
        """A fresh output root per pass, so no pass resumes another's."""
        if self.out is not None:
            shutil.rmtree(self.out, ignore_errors=True)
        self.passes += 1
        self.out = os.path.join(self.work, f"out-{self.passes}")
        self.tables = [ParquetTableIO(os.path.join(self.out, t)) for t in ("results", "metrics", "audit")]

    def run_pass(self, spark, tracer, verify):
        results, metrics, audit = self.tables
        with tracer.span("io.run_with_resume"):
            run_with_resume(
                spark, spark.read.parquet(self.path), results, metrics, self.run_id,
                num_groups=self.groups,
                partitions_per_group=self.partitions_per_group,
                audit_out=audit,
            )

    def extract_only(self, spark, tracer):
        """The extraction ``run_with_resume`` hands to the results write, to
        a noop sink instead: the part of ``append_groups`` that is not io."""
        with tracer.span("baseline.extract_noop"):
            res = run_extraction(
                spark.read.parquet(self.path), Config(), self.run_id,
                self.groups * self.partitions_per_group, with_audit=True,
            )
            _noop(res.withColumn("group", group_bucket(self.groups)))

    def check(self, spark):
        results, metrics, audit = self.tables
        uncommitted = sum(
            t.committed_groups(self.run_id) != set(range(self.groups)) for t in self.tables
        )
        res = results.read(spark)
        n = self.table.num_rows
        rows_out = res.count()
        errors = res.where(F.col("error") != "").count()
        audit_rows = audit.read(spark).count()
        urls = self.table.column("url").to_pylist()
        htmls = dict(zip(urls, self.table.column("html").to_pylist()))
        got = {
            r[0]: (r[1], r[2])
            for r in res.where(F.col("url").isin(self.sample)).select("url", "text", "links").collect()
        }
        bad = _compare_sample(got, {u: htmls[u] for u in self.sample})
        failed = errors + bad + abs(n - rows_out)
        failed += uncommitted + (audit_rows != 3 * self.audit_pages)
        return n, failed, {
            "errors": errors, "sample_mismatch": bad, "rows_out": rows_out,
            "uncommitted_tables": uncommitted, "audit_rows": audit_rows,
            "audit_rows_expected": 3 * self.audit_pages,
        }

    def output_stats(self):
        files = size = 0
        for d, _, names in os.walk(self.out):
            for f in names:
                files += 1
                size += os.path.getsize(os.path.join(d, f))
        return files, size

    def hooks(self, tracer):
        span_of = {"results": "io.append_results", "metrics": "io.derive_metrics", "audit": "io.derive_audit"}
        return [
            tracer.wrap(ParquetTableIO, "append_groups",
                        lambda t, *a, **k: span_of[os.path.basename(t.root)]),
            tracer.wrap(ParquetTableIO, "committed_groups", "io.committed_groups"),
        ]


class Curate(Workload):
    name = "curate"
    rows = ("dedup_exact",)
    n_docs = 2500
    # planning and codegen keep getting faster for about four passes
    warmup = 3
    min_passes = 2

    def setup(self, seed, nproc, work):
        self.docs_dir = os.path.join(work, "sf")
        inputs.write_documents(seed, self.n_docs, self.docs_dir)
        self.collected = {}
        self.persisted_left = {}
        return {"docs": self.n_docs, "html_mb": 0.0, "sf": self.n_docs / DOCS_PER_SF}

    def run_pass(self, spark, tracer, verify):
        for row in self.rows:
            with tracer.span(f"query.{row}.build"):
                df = QUERIES[row](spark, self.docs_dir)
            with tracer.span(f"query.{row}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span(f"query.{row}.exec"):
                if verify:
                    self.collected[row] = digest(df.columns, [r.asDict() for r in df.collect()])
                else:
                    _noop(df)
            self.persisted_left[row] = clear_state(spark)

    def check(self, spark):
        """Each row's output against its DuckDB oracle on the same table."""
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.docs_dir, 'documents.parquet')}')")
        detail = {}
        for row in self.rows:
            rel = con.execute(ORACLES[row])
            cols = [d[0] for d in rel.description]
            want = digest(cols, [dict(zip(cols, r)) for r in rel.fetchall()])
            detail[row] = {"rows": self.collected[row][0], "ok": self.collected[row] == want}
        con.close()
        return len(self.rows), sum(not d["ok"] for d in detail.values()), detail


def digest(cols, rows) -> tuple[int, str]:
    """Row count and an order-independent hash, with values normalized as the
    repo's oracle check does (floats rounded to 6 places)."""
    keys = sorted(cols)
    lines = []
    for r in rows:
        vals = []
        for c in keys:
            v = r[c]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(repr(v))
        lines.append("|".join(vals))
    h = hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()
    return len(rows), h


WORKLOADS = {w.name: w for w in (WebPages, CrawlResume, Curate)}
