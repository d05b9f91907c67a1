"""Single-pass proof for the fused results+metrics+audit pipeline: every
document is extracted exactly ONCE no matter how many derived outputs are
consumed (VERDICT r1 item #1 — the old stages re-extracted 2-3x)."""

import uuid

import pytest

from htmlx.core.extract import Config
from htmlx.spark.io import ParquetTableIO, run_with_resume
from htmlx.spark.job import derive_audit, derive_metrics, run_extraction_full
from htmlx.spark.pages import pages_from_documents
from htmlx.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-fused-test")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50).cache()


def test_full_pipeline_extracts_each_doc_once(spark, docs):
    pages = pages_from_documents(docs, "links")
    counter = spark.sparkContext.accumulator(0)
    outs = run_extraction_full(pages, Config(), run_id="fp", doc_counter=counter)
    results = outs["results"].persist()
    try:
        n = results.count()
        m = derive_metrics(results)  # derive from the persisted frame
        a = derive_audit(results)
        m_rows = m.collect()
        a_count = a.count()
        assert n == 50
        assert sum(r.docs_in for r in m_rows) == 50
        assert a_count >= 0
        # THE invariant: one extractor.extract call per document, total,
        # across results + metrics + audit consumption
        assert counter.value == 50
    finally:
        results.unpersist()


def test_metrics_and_audit_reconcile(spark, docs):
    pages = pages_from_documents(docs, "text")
    outs = run_extraction_full(pages, Config(), run_id="rc")
    results = outs["results"].persist()
    try:
        m = derive_metrics(results).collect()
        a = derive_audit(results)
        total_events = sum(r.audit_events for r in m)
        assert a.count() == total_events
        assert sum(r.docs_ok for r in m) + sum(r.docs_error for r in m) == sum(
            r.docs_in for r in m
        )
        assert all(r.bytes_in > 0 for r in m)
        assert all(r.extract_ms >= 0 for r in m)
    finally:
        results.unpersist()


def test_derived_audit_table_fields(spark):
    rows = [
        ("u1", b'<div onclick="x()"><script>e</script><a href="javascript:y">l</a>ok</div>'),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    outs = run_extraction_full(pages, Config(), run_id="af")
    audit = derive_audit(outs["results"]).collect()
    by_type = {r.event_type: r for r in audit}
    assert set(by_type) == {"blocked_tag", "blocked_attr", "blocked_url"}
    tag = by_type["blocked_tag"]
    assert tag.level == "warning"
    assert tag.message == "Blocked dangerous HTML tag: script"
    assert tag.ts is not None  # JVM timestamp_seconds conversion
    url_ev = by_type["blocked_url"]
    assert url_ev.blocked_url == "javascript:y"
    assert url_ev.raw_value == ""  # IncludeRawValues defaults off
    assert all(r.url == "u1" and r.run_id == "af" for r in audit)


def test_resume_single_pass_with_metrics_and_audit(spark, docs, tmp_path_factory):
    """Resume path: N groups + metrics + audit = each doc extracted once,
    input scanned once (the old loop scanned the input once per group and
    re-extracted for metrics)."""
    import os

    root = str(tmp_path_factory.mktemp("fused_resume"))
    out = ParquetTableIO(os.path.join(root, "results"))
    metrics_out = ParquetTableIO(os.path.join(root, "metrics"))
    audit_out = ParquetTableIO(os.path.join(root, "audit"))
    adversarial = spark.createDataFrame(
        [("https://adv.example.com/", bytearray(b'<div onclick="x()"><script>e</script>body text</div>'))],
        "url string, html binary",
    )
    pages = pages_from_documents(docs, "links").unionByName(
        adversarial, allowMissingColumns=True
    )
    run_id = uuid.uuid4().hex[:8]
    counter = spark.sparkContext.accumulator(0)

    res = run_with_resume(
        spark, pages, out, metrics_out, run_id,
        num_groups=4, audit_out=audit_out, doc_counter=counter,
    )
    assert res.count() == 51
    assert counter.value == 51  # one extraction per doc across all 3 tables
    assert out.committed_groups(run_id) == {0, 1, 2, 3}
    assert metrics_out.committed_groups(run_id) == {0, 1, 2, 3}

    m = metrics_out.read(spark).collect()
    assert sum(r.docs_in for r in m) == 51
    a = audit_out.read(spark)
    assert a.count() == sum(r.audit_events for r in m)
    assert a.where("url = 'https://adv.example.com/'").count() == 2

    # restart with one group uncommitted -> only that group's docs redone
    manifest = out._read_manifest()
    manifest["committed"][run_id] = [0, 1, 2]
    out._write_manifest(manifest)
    counter2 = spark.sparkContext.accumulator(0)
    res2 = run_with_resume(
        spark, pages, out, None, run_id, num_groups=4, doc_counter=counter2,
    )
    assert res2.count() == 51
    assert 0 < counter2.value < 51  # only group 3 re-extracted


def test_resume_rederives_lagging_metrics_audit_without_reextraction(
    spark, docs, tmp_path_factory
):
    """Crash window between the results commit and the derived-table
    commits (ADVICE r2): results groups committed, metrics/audit groups
    not. Resume must fill the derived tables from the WRITTEN results —
    zero re-extraction — instead of silently losing those rows forever."""
    import os

    root = str(tmp_path_factory.mktemp("fused_lag"))
    out = ParquetTableIO(os.path.join(root, "results"))
    metrics_out = ParquetTableIO(os.path.join(root, "metrics"))
    audit_out = ParquetTableIO(os.path.join(root, "audit"))
    adversarial = spark.createDataFrame(
        [("https://adv.example.com/", bytearray(b"<div><script>e</script>body text</div>"))],
        "url string, html binary",
    )
    pages = pages_from_documents(docs, "links").unionByName(
        adversarial, allowMissingColumns=True
    )
    run_id = uuid.uuid4().hex[:8]

    run_with_resume(
        spark, pages, out, metrics_out, run_id, num_groups=4, audit_out=audit_out
    )
    full_metrics = sum(r.docs_in for r in metrics_out.read(spark).collect())
    full_audit = audit_out.read(spark).count()

    # simulate the crash: roll the derived manifests back, delete their data
    import shutil

    for t in (metrics_out, audit_out):
        manifest = t._read_manifest()
        manifest["committed"][run_id] = [0, 1]
        t._write_manifest(manifest)
        for g in (2, 3):
            shutil.rmtree(
                os.path.join(t.data_dir, f"run_id={run_id}", f"group={g}"),
                ignore_errors=True,
            )

    counter = spark.sparkContext.accumulator(0)
    run_with_resume(
        spark, pages, out, metrics_out, run_id,
        num_groups=4, audit_out=audit_out, doc_counter=counter,
    )
    assert counter.value == 0  # results all committed -> no extraction at all
    assert metrics_out.committed_groups(run_id) == {0, 1, 2, 3}
    assert audit_out.committed_groups(run_id) == {0, 1, 2, 3}
    assert sum(r.docs_in for r in metrics_out.read(spark).collect()) == full_metrics
    assert audit_out.read(spark).count() == full_audit


def test_multi_run_coexistence_in_one_table_root(spark, docs, tmp_path_factory):
    """Two run_ids share a table root (ADVICE r2): the second run's dynamic
    overwrite must only replace its OWN run_id=<rid>/group=* dirs, never
    another run's rows in the same group numbers."""
    import os

    root = str(tmp_path_factory.mktemp("fused_multirun"))
    out = ParquetTableIO(os.path.join(root, "results"))
    pages = pages_from_documents(docs, "links")

    res_a = run_with_resume(spark, pages, out, None, "run-a", num_groups=4)
    count_a = res_a.where("run_id = 'run-a'").count()
    res_b = run_with_resume(spark, pages, out, None, "run-b", num_groups=4)
    both = res_b.groupBy("run_id").count().collect()
    counts = {r.run_id: r["count"] for r in both}
    assert counts == {"run-a": count_a, "run-b": count_a}
    # manifests stay truthful per run
    assert out.committed_groups("run-a") == {0, 1, 2, 3}
    assert out.committed_groups("run-b") == {0, 1, 2, 3}


def test_extract_ms_sums_micros_not_truncated_ms(spark, docs):
    """Metrics must sum MICROSECONDS and truncate once at the rollup: these
    docs extract in ~0.3 ms, so summing per-doc truncated ms would report
    near-zero partition wall time (VERDICT r2 item #6)."""
    pages = pages_from_documents(docs, "text")
    outs = run_extraction_full(pages, Config(), run_id="us")
    results = outs["results"].persist()
    try:
        m = derive_metrics(results).collect()
        rows = results.select("processing_time_us", "processing_time_ms").collect()
        total_us = sum(r.processing_time_us for r in rows)
        got = sum(r.extract_ms for r in m)
        # per-partition floors: within len(m) ms of the exact total
        assert total_us // 1000 - len(m) <= got <= total_us // 1000
        # the error the old formulation made: truncated-ms sum loses ~3x
        truncated = sum(r.processing_time_ms for r in rows)
        assert got >= truncated
        # the per-doc ms field keeps its truncated (Go len-parity) meaning
        assert all(r.processing_time_ms == r.processing_time_us // 1000 for r in rows)
    finally:
        results.unpersist()


def test_all_digit_run_id_survives_readback(spark, docs, tmp_path_factory):
    """Partition-dir type inference is disabled on read-back: a run_id of
    '0012345678' must come back as that string (inference would parse the
    dir value as a number and drop the leading zeros)."""
    import os

    root = str(tmp_path_factory.mktemp("digit_rid"))
    out = ParquetTableIO(os.path.join(root, "results"))
    pages = pages_from_documents(docs.limit(10), "text")
    rid = "0012345678"
    run_with_resume(spark, pages, out, None, rid, num_groups=2)
    vals = {r.run_id for r in out.read(spark).select("run_id").distinct().collect()}
    assert vals == {rid}
