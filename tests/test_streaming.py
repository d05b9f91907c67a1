"""Structured Streaming extraction — availableNow trigger over a parquet
file source, results appended per micro-batch (htmlx/spark/streaming.py)."""

import os

import pytest

from htmlx.core.extract import Config
from htmlx.spark.job import run_extraction
from htmlx.spark.pages import pages_from_documents
from htmlx.spark.session import get_spark
from htmlx.spark.streaming import read_pages_stream, start_extraction_stream

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-stream-test")
    yield s
    s.stop()


def test_streaming_matches_batch(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("stream"))
    pages_dir = os.path.join(root, "pages")
    out_dir = os.path.join(root, "out")
    ckpt_dir = os.path.join(root, "ckpt")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    pages = pages_from_documents(docs, "text")
    pages.repartition(4).write.parquet(pages_dir)

    stream = read_pages_stream(spark, pages_dir, max_files_per_trigger=2)
    q = start_extraction_stream(stream, out_dir, ckpt_dir, Config(), available_now=True)
    q.awaitTermination(120)

    got = {(r.url, r.text) for r in spark.read.parquet(out_dir).select("url", "text").collect()}
    want = {
        (r.url, r.text)
        for r in run_extraction(spark.read.parquet(pages_dir), Config()).select("url", "text").collect()
    }
    assert got == want
    assert len(got) == 50


def test_stateful_host_stats(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from htmlx.spark.streaming import host_stats_stream

    root = str(tmp_path_factory.mktemp("hostcustomers"))
    pages_dir = os.path.join(root, "pages")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    base = pages_from_documents(docs, "text")
    # mixed-case host + explicit port on some rows: the streaming rollup
    # must key on the SHARED grammar (_host_of — lowercase, port stripped),
    # merging these with their plain-host siblings
    cased = base.withColumn(
        "url",
        F.when(
            F.xxhash64("url") % 3 == 0,
            F.concat(
                F.lit("https://"),
                F.upper(F.regexp_extract("url", r"^https?://([^/]+)", 1)),
                F.lit(":443/"),
                F.regexp_extract("url", r"^https?://[^/]+/(.*)$", 1),
            ),
        ).otherwise(F.col("url")),
    )
    cased.repartition(4).write.parquet(pages_dir)

    stream = read_pages_stream(spark, pages_dir, max_files_per_trigger=2)
    stats = host_stats_stream(stream)
    # memory sink: parquet doesn't support update mode
    q = (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName("hoststats")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # final state per host = totals from the batch table
    got = {
        r.host: (r.docs, r.bytes)
        for r in spark.sql(
            "SELECT host, max(docs) AS docs, max(bytes) AS bytes FROM hoststats GROUP BY host"
        ).collect()
    }
    from htmlx.spark.analytics import _host_of

    pages = spark.read.parquet(pages_dir)
    want = {
        r.host: (r.docs, r.bytes)
        for r in pages.withColumn("host", _host_of("url"))
        .groupBy("host")
        .agg(F.count("*").alias("docs"), F.sum(F.length("html")).alias("bytes"))
        .collect()
    }
    assert got == want
    assert len(got) >= 2
    # the cased/ported variants merged: no uppercase or :port key survives
    assert all(h == h.lower() and not h.endswith(":443") for h in got)


def test_watermarked_window_rollup_matches_batch(spark, tmp_path_factory):
    """Watermarked tumbling-window stream over events == the batch rollup
    when the stream drains fully (availableNow); late-data semantics are
    bounded-state by construction (append mode requires the watermark)."""
    import os

    from pyspark.sql import functions as F

    from htmlx.spark.streaming import windowed_event_rollup_stream

    root = str(tmp_path_factory.mktemp("evstream"))
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    events_dir = os.path.join(root, "events")

    batch_events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # The file stream source needs a DIRECTORY, and the files must arrive in
    # EVENT-TIME order (the source processes in mtime order): randomly-split
    # files would advance the watermark past later files' events and drop
    # them as late. Write one file per time quartile, sequentially.
    bounds = batch_events.selectExpr(
        "percentile(unix_micros(CAST(ts AS TIMESTAMP)), array(0.25, 0.5, 0.75))"
    ).first()[0]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    lo = None
    for hi in list(bounds) + [None]:
        part = batch_events
        if lo is not None:
            part = part.where(us >= lo)
        if hi is not None:
            part = part.where(us < hi)
        part.coalesce(1).write.mode("append").parquet(events_dir)
        lo = hi
    stream = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    rollup = windowed_event_rollup_stream(stream)
    q = (
        rollup.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (str(r.hour), r.event_type, r.n_events, r.sum_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (str(r.hour), r.event_type, r.n_events, r.sum_value)
        for r in (
            batch_events.withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(F.window("ts", "1 hour").start.alias("hour"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.round(F.sum("value").cast("double"), 4).alias("sum_value"),
            )
            .collect()
        )
    }
    # append mode only emits windows the final watermark passed; with
    # availableNow the watermark lands at max(ts) - 2h, so the last windows
    # stay open: the emitted set is a prefix of the batch result
    assert got <= want
    assert len(got) >= len(want) - 3  # only the trailing open windows differ


def test_streaming_exact_dedup(spark, tmp_path_factory):
    """dedup_stream: the first arrival of each content digest (across
    micro-batches) is first_seen=true, all later arrivals false — keyed
    state persists between batches."""
    from pyspark.sql import functions as F

    from htmlx.spark.streaming import dedup_stream

    root = str(tmp_path_factory.mktemp("streamdedup"))
    pages_dir = os.path.join(root, "pages")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    # 30 distinct docs, each duplicated 3x under different urls, spread
    # over many files so duplicates land in DIFFERENT micro-batches
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    pages = pages_from_documents(docs, "text")
    dup = pages
    for i in (1, 2):
        dup = dup.unionByName(
            pages.withColumn("url", F.concat(F.col("url"), F.lit(f"?copy={i}")))
        )
    dup.repartition(10).write.parquet(pages_dir)

    stream = read_pages_stream(spark, pages_dir, max_files_per_trigger=1)
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 90
    by_digest = {}
    for r in rows:
        by_digest.setdefault(r.text_md5, []).append(r.first_seen)
    assert len(by_digest) == 30
    for flags in by_digest.values():
        assert sorted(flags, reverse=True) == [True, False, False]


def test_event_time_session_stream(spark, tmp_path_factory):
    """user_sessions_stream: sessions close on an in-stream gap (later
    event past the gap) AND on watermark-driven timeout (idle user whose
    last_event + gap falls behind the advancing watermark)."""
    import datetime as dt
    import os as _os
    import time as _time

    from htmlx.spark.streaming import user_sessions_stream

    root = str(tmp_path_factory.mktemp("sessstream"))
    ev_dir = os.path.join(root, "events")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    _os.makedirs(ev_dir)

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def rows(specs):
        return [(uid, t0 + dt.timedelta(minutes=m), i) for i, (uid, m) in enumerate(specs)]

    schema = "user_id long, ts timestamp_ntz, event_id long"
    # chunk 1: u1 session A (0,5 min); u2 lone session (0,3 min)
    c1 = spark.createDataFrame(rows([(1, 0), (1, 5), (2, 0), (2, 3)]), schema)
    c1.coalesce(1).write.parquet(os.path.join(ev_dir, "c1"))
    _time.sleep(1.1)
    # chunk 2: u1 returns at 120 min (splits session A); u3 events push the
    # watermark far past u2's last+gap, so u2's idle session times out
    c2 = spark.createDataFrame(rows([(1, 120), (3, 200), (3, 201)]), schema)
    c2.coalesce(1).write.parquet(os.path.join(ev_dir, "c2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(ev_dir + "/*/")
    )
    q = (
        user_sessions_stream(stream, gap_minutes=30, watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    def mins(ts):
        return int((ts - t0).total_seconds() // 60)

    got = {
        (r.user_id, mins(r.session_start), mins(r.session_end), r.n_events)
        for r in spark.read.parquet(out_dir).collect()
    }
    # closed: u1's first session (0-5) split by its 120-min event; u2's
    # (0-3) via watermark timeout; u1's SECOND session (120-120) also
    # times out — u3's events put the watermark at 191 > 120+30. Only
    # u3's own session (200-201, timeout 231 > watermark) stays open.
    assert got == {(1, 0, 5, 2), (2, 0, 3, 2), (1, 120, 120, 1)}


def test_streaming_decontamination_matches_batch(spark, tmp_path_factory):
    """decontaminate_stream over a file stream == analytics.decontaminate
    over the same rows (stateless stream-static design), including docs
    arriving in different micro-batches."""
    import pandas as pd

    from htmlx.spark.analytics import decontaminate
    from htmlx.spark.streaming import decontaminate_stream

    tmp = tmp_path_factory.mktemp("decon_stream")
    src, out_dir, ckpt = tmp / "src", tmp / "out", tmp / "ckpt"
    src.mkdir()
    docs = [
        (0, " ".join(f"w{i}" for i in range(30))),
        (1, " ".join(f"w{i}" for i in range(13)) + " zz"),
        (2, " ".join(f"x{i}" for i in range(30))),
        (3, "short text"),
    ]
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame(docs[:2], "doc_id long, text string").write.parquet(
        str(src / "a")
    )
    spark.createDataFrame(docs[2:], "doc_id long, text string").write.parquet(
        str(src / "b")
    )
    ev = spark.createDataFrame(
        [(" ".join(f"w{i}" for i in range(30)),)], "text string"
    )
    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    expected = {r.doc_id: (r.n_gram_hits, r.contaminated)
                for r in decontaminate(batch_df, ev).collect()}
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        decontaminate_stream(stream, ev)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: (r.n_gram_hits, r.contaminated)
           for r in spark.read.parquet(str(out_dir)).collect()}
    assert got == expected, (got, expected)


def test_streaming_quality_filter_matches_batch(spark, tmp_path_factory):
    """c4_gopher_quality over a file stream == c4_gopher_quality over
    the same rows as a batch (stateless projection), docs split across
    micro-batches; the multi-line/marker rules exercised in-stream."""
    from htmlx.spark.analytics import c4_gopher_quality

    tmp = tmp_path_factory.mktemp("quality_stream")
    src, out_dir, ckpt = tmp / "src", tmp / "out", tmp / "ckpt"
    src.mkdir()
    docs = [
        (0, "\n".join(
            f"the number w{i:03d} and item x{i:03d} of list y{i:03d} have value z{i:03d}."
            for i in range(12))),              # passes both gates
        (1, "- bullet\n- bullet\nlorem ipsum here"),  # markers + bullets
        (2, "short one"),
        (3, "{ javascript } code..."),
    ]
    spark.createDataFrame(docs[:2], "doc_id long, text string").write.parquet(
        str(src / "a")
    )
    spark.createDataFrame(docs[2:], "doc_id long, text string").write.parquet(
        str(src / "b")
    )
    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    expected = {r.doc_id: r.asDict() for r in c4_gopher_quality(batch_df).collect()}
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        c4_gopher_quality(stream)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r.asDict() for r in spark.read.parquet(str(out_dir)).collect()}
    assert got == expected, (got, expected)
    assert expected[0]["gopher_pass"] and expected[0]["c4_pass"]
    assert expected[1]["has_lorem_ipsum"] and not expected[1]["c4_pass"]


def test_streaming_latest_capture_matches_batch(spark, tmp_path_factory):
    """Stateful recrawl dedup: after the stream drains, the final winner
    per canonical URL equals analytics.latest_capture on the same table —
    including a winner REPLACEMENT across micro-batches (the newest
    capture arrives in a later file than an older one)."""
    from pyspark.sql import functions as F

    from htmlx.spark.analytics import latest_capture
    from htmlx.spark.streaming import latest_capture_stream

    root = str(tmp_path_factory.mktemp("recrawl"))
    caps_dir = os.path.join(root, "caps")
    ckpt = os.path.join(root, "ckpt")

    rows = [
        # page A: old capture first file, newer cosmetic variant later file
        (1, "https://a.com/p?x=1", 100),
        (2, "https://A.COM:443/p?utm_source=t&x=1", 300),
        (3, "https://a.com/p?x=1#frag", 200),
        # page B: tie on ts -> smallest id wins
        (4, "https://b.com/q", 70),
        (5, "https://B.com/q", 70),
        # singleton
        (6, "https://c.com/r", 9),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, warc_ts long")
    # one file per row so state must persist and update across micro-batches
    df.repartition(6, "doc_id").write.parquet(caps_dir)

    stream = (
        spark.readStream.schema("doc_id long, url string, warc_ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(caps_dir)
    )
    q = (
        latest_capture_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("recrawl")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # the LAST update per key is the final state (memory/update appends
    # every emission; max n_captures identifies the final one)
    final = {
        r.canonical_url: (r.keep_id, r.n_captures)
        for r in spark.sql(
            "SELECT canonical_url, max_by(keep_id, n_captures) AS keep_id, "
            "max(n_captures) AS n_captures FROM recrawl GROUP BY 1"
        ).collect()
    }
    want = {
        r.canonical_url: (r.keep_id, r.n_captures)
        for r in latest_capture(spark.read.parquet(caps_dir)).collect()
    }
    assert final == want
    assert final["https://a.com/p?x=1"] == (2, 3)
    assert final["https://b.com/q"] == (4, 2)


def test_streaming_latest_capture_tolerates_nulls(spark, tmp_path_factory):
    """NULL warc_ts / doc_id captures (NaN/None in the pandas state fn)
    must not raise and fail the micro-batch — they count toward
    n_captures and only win when nothing better exists, exactly like the
    batch twin's max_by NULLS-FIRST struct ordering (r6 ADVICE fix)."""
    from htmlx.spark.analytics import latest_capture
    from htmlx.spark.streaming import latest_capture_stream

    root = str(tmp_path_factory.mktemp("recrawl_nulls"))
    caps_dir = os.path.join(root, "caps")
    ckpt = os.path.join(root, "ckpt")

    rows = [
        # page D: a null-ts capture, a null-id capture (newest ts), a real one
        (7, "https://d.com/s", None),
        (None, "https://d.com/s", 50),
        (8, "https://d.com/s", 40),
        # page E: ALL captures have null ts -> tie-break on smallest id
        (9, "https://e.com/t", None),
        (10, "https://e.com/t", None),
        # control singleton
        (11, "https://f.com/u", 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, warc_ts long")
    df.repartition(6).write.parquet(caps_dir)

    stream = (
        spark.readStream.schema("doc_id long, url string, warc_ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(caps_dir)
    )
    q = (
        latest_capture_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("recrawl_nulls")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final = {
        r.canonical_url: (r.keep_id, r.n_captures)
        for r in spark.sql(
            "SELECT canonical_url, max_by(keep_id, n_captures) AS keep_id, "
            "max(n_captures) AS n_captures FROM recrawl_nulls GROUP BY 1"
        ).collect()
    }
    want = {
        r.canonical_url: (r.keep_id, r.n_captures)
        for r in latest_capture(spark.read.parquet(caps_dir)).collect()
    }
    assert final == want
    assert final["https://d.com/s"] == (None, 3)  # newest ts has null id
    assert final["https://e.com/t"] == (9, 2)  # all-null ts: smallest id
    assert final["https://f.com/u"] == (11, 1)


def test_streaming_robots_filter_matches_batch(spark, tmp_path_factory):
    """meta_robots over a file stream == meta_robots over the same rows
    as a batch (stateless bounded-prefix regex), pages split across
    micro-batches, binary html column on the real scan path."""
    from htmlx.spark.analytics import meta_robots

    tmp = tmp_path_factory.mktemp("robots_stream")
    src, out_dir, ckpt = tmp / "src", tmp / "out", tmp / "ckpt"
    src.mkdir()

    def page(meta):
        return bytearray(
            f"<html><head>{meta}</head><body><p>x</p></body></html>", "utf-8"
        )

    rows = [
        (0, page('<meta name="robots" content="noindex">')),
        (1, page("<meta NAME=ROBOTS CONTENT='nofollow'>")),
        (2, page("<meta content='none' name='robots'>")),
        (3, page("")),
    ]
    spark.createDataFrame(rows[:2], "doc_id long, html binary").write.parquet(
        str(src / "a")
    )
    spark.createDataFrame(rows[2:], "doc_id long, html binary").write.parquet(
        str(src / "b")
    )
    batch_df = spark.createDataFrame(rows, "doc_id long, html binary")
    expected = {r.doc_id: r.asDict() for r in meta_robots(batch_df).collect()}
    stream = (
        spark.readStream.schema("doc_id long, html binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        meta_robots(stream)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r.asDict() for r in spark.read.parquet(str(out_dir)).collect()}
    assert got == expected
    assert got[0]["keep"] is False and got[3]["keep"] is True


def test_streaming_url_filter_matches_batch(spark, tmp_path_factory):
    """url_filter over a file stream == url_filter per row as a batch,
    with the static blocklist broadcast into each micro-batch."""
    from htmlx.spark.analytics import url_filter

    tmp = tmp_path_factory.mktemp("urlf_stream")
    src, out_dir, ckpt = tmp / "src", tmp / "out", tmp / "ckpt"
    src.mkdir()
    rows = [
        (0, "https://sub.bad.example/x"),
        (1, "ftp://ok.example/y"),
        (2, "https://ok.example/free-xxx"),
        (3, "https://ok.example/fine"),
    ]
    spark.createDataFrame(rows[:2], "doc_id long, url string").write.parquet(
        str(src / "a")
    )
    spark.createDataFrame(rows[2:], "doc_id long, url string").write.parquet(
        str(src / "b")
    )
    bl = spark.createDataFrame([("bad.example",)], "host string")
    batch_df = spark.createDataFrame(rows, "doc_id long, url string")
    expected = {r.doc_id: r.asDict() for r in url_filter(batch_df, bl).collect()}
    stream = (
        spark.readStream.schema("doc_id long, url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        url_filter(stream, bl)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r.asDict() for r in spark.read.parquet(str(out_dir)).collect()}
    assert got == expected
    reasons = {k: v["reason"] for k, v in got.items()}
    assert reasons == {0: "blocked_host", 1: "bad_scheme",
                       2: "blocked_keyword", 3: "kept"}
