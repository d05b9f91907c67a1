"""Stateless batch filters over a Structured Streaming file source: the
same frame function gives the same rows on a stream (availableNow
trigger, one file per micro-batch) as on a batch."""

import pytest

from htmlx.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-stream-test")
    yield s
    s.stop()


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
