"""Audit stage, JSON output, skew balancing."""

import pytest

from pyspark.sql import functions as F

from htmlx.core.extract import Config
from htmlx.spark.job import (
    run_extraction,
    run_extraction_full,
    salted_repartition,
)
from htmlx.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-stage-test")
    yield s
    s.stop()


def test_audit_stage_rows(spark):
    rows = [
        ("u1", b'<div onclick="x()"><script>evil</script><a href="javascript:y">l</a>ok</div>'),
        ("u2", b"<p>clean page</p>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    audit = run_extraction_full(pages, Config(), run_id="ar")["audit"].collect()
    by_url = {}
    for r in audit:
        by_url.setdefault(r.url, []).append(r)
    assert "u2" not in by_url
    events = {r.event_type for r in by_url["u1"]}
    assert events == {"blocked_tag", "blocked_attr", "blocked_url"}
    assert all(r.run_id == "ar" and r.partition_id >= 0 for r in audit)


def test_to_json_results(spark):
    import json

    pages = spark.createDataFrame(
        [("u1", b"<article><h1>T</h1><p>Hello world text.</p></article>")],
        "url string, html binary",
    )
    # JSON output is Spark's own serializer over the results frame
    payload = json.loads(run_extraction(pages, Config()).toJSON().first())
    assert payload["title"] == "T"
    assert payload["word_count"] == 4
    assert "reading_time_ms" in payload


def test_salted_repartition_balances_host_skew(spark):
    # 80% of rows on one synthetic host (FIXTURES.md skew-bench category)
    rows = [(f"https://bighost.example.com/p/{i}", b"<p>x</p>") for i in range(800)]
    rows += [(f"https://host{i}.example.com/", b"<p>x</p>") for i in range(200)]
    pages = spark.createDataFrame(rows, "url string, html binary")
    parts = 8
    sizes = (
        salted_repartition(pages, parts)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == parts
    # every partition within 2x of the mean — skew defeated
    mean = sum(counts) / len(counts)
    assert max(counts) < 2 * mean
    assert min(counts) > mean / 2
