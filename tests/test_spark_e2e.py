"""Spark end-to-end tests: mapInPandas extraction job, metrics, resume,
partition-count invariance (determinism across parallelism — the sandbox
analogue of the reference's concurrency tests, SURVEY.md §5)."""

import os
import shutil
import uuid

import pytest

from pyspark.sql import functions as F

from htmlx.core.extract import Config
from htmlx.spark.io import ParquetTableIO, run_with_resume
from htmlx.spark.job import run_all_links, run_extraction, run_extraction_full
from htmlx.spark.pages import pages_from_documents
from htmlx.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-test")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60).cache()


def test_extraction_job(spark, docs):
    pages = pages_from_documents(docs, "links")
    out = run_extraction(pages, Config(), run_id="t1", num_partitions=4)
    rows = out.collect()
    assert len(rows) == 60
    assert all(r.error == "" for r in rows)
    r0 = sorted(rows, key=lambda r: r.url)[0]
    assert r0.title.startswith("Doc ")
    assert r0.text.startswith(r0.title + "\n\n")
    assert len(r0.links) == 2
    assert r0.partition_id >= 0
    assert r0.run_id == "t1"


def test_partition_count_invariance(spark, docs):
    pages = pages_from_documents(docs, "text")
    a = {
        (r.url, r.text, r.word_count)
        for r in run_extraction(pages, Config(), num_partitions=1).collect()
    }
    b = {
        (r.url, r.text, r.word_count)
        for r in run_extraction(pages, Config(), num_partitions=7).collect()
    }
    assert a == b


def test_metrics_stage(spark, docs):
    pages = pages_from_documents(docs, "text")
    full = run_extraction_full(pages, Config(), run_id="tm", num_partitions=2)
    m = full["metrics"].collect()
    assert sum(r.docs_in for r in m) == 60
    assert sum(r.docs_error for r in m) == 0
    assert all(r.run_id == "tm" for r in m)
    assert {r.partition_id for r in m} <= {0, 1}


def test_all_links_job(spark, docs):
    pages = pages_from_documents(docs, "links")
    out = run_all_links(pages).collect()
    assert len(out) == 60
    for r in out:
        urls = [x.url for x in r.link_resources]
        assert urls == sorted(urls)
        assert len(urls) == 4


def test_resume_skips_committed_groups(spark, docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("htmlx_out"))
    out = ParquetTableIO(os.path.join(root, "results"))
    metrics = ParquetTableIO(os.path.join(root, "metrics"))
    pages = pages_from_documents(docs, "text")
    run_id = uuid.uuid4().hex[:8]

    res = run_with_resume(spark, pages, out, metrics, run_id, num_groups=4)
    assert res.count() == 60
    assert out.committed_groups(run_id) == {0, 1, 2, 3}

    # simulate restart: drop one group's data+commit, rerun -> only it redone
    manifest = out._read_manifest()
    manifest["committed"][run_id] = [0, 1, 2]
    out._write_manifest(manifest)
    shutil.rmtree(os.path.join(out.data_dir, f"run_id={run_id}", "group=3"))
    res2 = run_with_resume(spark, pages, out, None, run_id, num_groups=4)
    assert res2.count() == 60
    assert out.committed_groups(run_id) == {0, 1, 2, 3}

    # results identical to a fresh full run
    fresh = run_extraction(pages, Config()).select("url", "text")
    assert {(r.url, r.text) for r in res2.select("url", "text").collect()} == {
        (r.url, r.text) for r in fresh.collect()
    }


def test_error_rows_not_task_failures(spark):
    # oversize + broken rows must land in the error column, not kill tasks
    rows = [
        ("u1", b"<p>fine</p>"),
        ("u2", b"\x00\xff" * 10),
        ("u3", None),
        ("u4", b"<div>" * 600),  # exceeds MaxDepth
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = {r.url: r for r in run_extraction(pages, Config()).collect()}
    assert out["u1"].error == "" and "fine" in out["u1"].text
    assert out["u4"].error == "max_depth_exceeded"
    assert len(out) == 4


def test_column_pruning_pushdown(spark, tmp_path_factory):
    """The scan under the extraction job must read ONLY url+html (html is
    the fat column; `text` must be pruned) — .explain-based assertion."""
    root = str(tmp_path_factory.mktemp("pages_pq"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
    pages_from_documents(docs, "text").write.mode("overwrite").parquet(root)
    pages = spark.read.parquet(root)
    plan = run_extraction(pages, Config())._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"url", "html"}, cols


def test_legacy_layout_rejected(spark, tmp_path_factory):
    """A table root written under the pre-run_id layout (data/group=<gid>)
    must fail loudly on read/is_empty — not silently return zero rows while
    the manifest still claims its groups committed."""
    import pytest

    root = str(tmp_path_factory.mktemp("htmlx_legacy"))
    out = ParquetTableIO(os.path.join(root, "results"))
    os.makedirs(os.path.join(out.data_dir, "group=0"))
    with pytest.raises(RuntimeError, match="legacy table layout"):
        out.is_empty()
    with pytest.raises(RuntimeError, match="legacy table layout"):
        out.read(spark)
