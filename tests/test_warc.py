"""WARC ingest (htmlx.spark.warc): ISO 28500 record grammar, the
Common-Crawl one-gzip-member-per-record convention, HTTP envelope
stripping, and the e2e chain into run_extraction. The WARC bytes are
synthesized HERE with an independent writer built straight from the
spec text (warc-1.1 §4: version line, named fields, CRLF CRLF,
Content-Length octets, CRLF CRLF) — the reader never round-trips its
own serialization."""

import gzip
import os

import pytest

from htmlx.spark.session import get_spark
from htmlx.spark.warc import iter_warc_pages, read_warc

HTML_A = b"<html><head><title>Doc A</title></head><body><article><p>" \
         b"alpha words in the first test document body</p></article></body></html>"
HTML_B = b"<html><body><article><p>beta second doc</p></article></body></html>"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-warc-test")
    yield s
    s.stop()


def _record(wtype: bytes, block: bytes, url: bytes | None = None,
            date: bytes = b"2017-03-22T17:01:03Z") -> bytes:
    fields = [
        b"WARC/1.1",
        b"WARC-Type: " + wtype,
        b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-0000000000aa>",
        b"WARC-Date: " + date,
        b"Content-Length: " + str(len(block)).encode(),
    ]
    if url is not None:
        fields.append(b"WARC-Target-URI: " + url)
    return b"\r\n".join(fields) + b"\r\n\r\n" + block + b"\r\n\r\n"


def _http(body: bytes, status: bytes = b"200 OK",
          headers: bytes = b"Content-Type: text/html; charset=utf-8") -> bytes:
    return b"HTTP/1.1 " + status + b"\r\n" + headers + b"\r\n\r\n" + body


def _corpus() -> bytes:
    return b"".join([
        _record(b"warcinfo", b"software: test\r\n"),
        _record(b"request", b"GET / HTTP/1.1\r\nHost: a.com\r\n\r\n",
                url=b"https://a.com/page"),
        _record(b"response", _http(HTML_A), url=b"https://a.com/page"),
        _record(b"response", _http(HTML_B, status=b"404 Not Found"),
                url=b"<https://b.org/missing>",
                date=b"2019-06-01T00:00:00Z"),
    ])


def test_iter_pages_responses_only_headers_stripped():
    rows = list(iter_warc_pages("x.warc", _corpus()))
    assert len(rows) == 2  # warcinfo + request filtered out
    (url_a, ts_a, body_a, t_a, st_a, ct_a, _, err_a), \
        (url_b, ts_b, body_b, t_b, st_b, _, _, err_b) = rows
    assert err_a is None and err_b is None  # clean records: no degradation
    assert url_a == "https://a.com/page" and body_a == HTML_A
    assert t_a == "response" and st_a == 200 and "text/html" in ct_a
    assert ts_a.isoformat() == "2017-03-22T17:01:03"
    # angle-bracket WARC-Target-URI form unwrapped; non-200 kept with status
    assert url_b == "https://b.org/missing" and st_b == 404 and body_b == HTML_B


def test_gzip_member_per_record_convention():
    members = [
        _record(b"response", _http(HTML_A), url=b"https://a.com/1"),
        _record(b"response", _http(HTML_B), url=b"https://a.com/2"),
    ]
    gz = b"".join(gzip.compress(m) for m in members)
    rows = list(iter_warc_pages("x.warc.gz", gz))
    assert [r[0] for r in rows] == ["https://a.com/1", "https://a.com/2"]
    assert rows[0][2] == HTML_A and rows[1][2] == HTML_B


def test_content_encoding_gzip_payload_inflated():
    body = gzip.compress(HTML_A)
    rec = _record(
        b"response",
        _http(body, headers=b"Content-Type: text/html\r\nContent-Encoding: gzip"),
        url=b"https://a.com/gz",
    )
    rows = list(iter_warc_pages("x.warc", rec))
    assert rows[0][2] == HTML_A


def test_folded_header_continuation_lines():
    """warc-1.1 §4 permits obs-fold: a field value continued on the next
    line behind leading whitespace. The folded WARC-Target-URI must
    reassemble instead of being silently dropped."""
    block = _http(HTML_A)
    hdr = (b"WARC/1.1\r\nWARC-Type: response\r\n"
           b"WARC-Record-ID: <urn:uuid:1>\r\n"
           b"WARC-Date: 2020-01-02T03:04:05Z\r\n"
           b"WARC-Target-URI: https://a.com/very/\r\n\tlong/path\r\n"
           b"Content-Length: " + str(len(block)).encode())
    rec = hdr + b"\r\n\r\n" + block + b"\r\n\r\n"
    rows = list(iter_warc_pages("x.warc", rec))
    assert rows[0][0] == "https://a.com/very/ long/path"
    assert rows[0][2] == HTML_A


def test_chunked_transfer_encoding_dechunked():
    """WARC stores the raw HTTP message: chunked bodies keep their chunk
    framing and must be de-chunked (chunk-extension and trailing-CRLF
    grammar per RFC 9112 §7.1); broken framing degrades to raw bytes."""
    half = len(HTML_A) // 2
    chunked = (
        hex(half)[2:].encode() + b";ext=1\r\n" + HTML_A[:half] + b"\r\n"
        + hex(len(HTML_A) - half)[2:].encode() + b"\r\n" + HTML_A[half:] + b"\r\n"
        + b"0\r\n\r\n"
    )
    rec = _record(
        b"response",
        _http(chunked,
              headers=b"Content-Type: text/html\r\nTransfer-Encoding: chunked"),
        url=b"https://a.com/chunked",
    )
    rows = list(iter_warc_pages("x.warc", rec))
    assert rows[0][2] == HTML_A
    # chunked AND gzip content-encoding: framing undone, then inflated
    gz = gzip.compress(HTML_B)
    chunked_gz = hex(len(gz))[2:].encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n"
    rec2 = _record(
        b"response",
        _http(chunked_gz,
              headers=b"Content-Type: text/html\r\n"
                      b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip"),
        url=b"https://a.com/chunked-gz",
    )
    rows2 = list(iter_warc_pages("x.warc", rec2))
    assert rows2[0][2] == HTML_B
    # unparseable framing: raw bytes kept, never raises
    rec3 = _record(
        b"response",
        _http(b"ZZZ not chunked",
              headers=b"Transfer-Encoding: chunked"),
        url=b"https://a.com/broken",
    )
    row3 = list(iter_warc_pages("x.warc", rec3))[0]
    assert row3[2] == b"ZZZ not chunked"
    assert row3[7] == "chunked_framing_invalid"  # named, not silent


def test_corrupt_gzip_member_resync_recovers_tail():
    """A damaged gzip member mid-archive must not lose the rest of the
    file: the reader scans forward for the next gzip magic and resumes
    (Common-Crawl archives do ship damaged members; r7 ended the scan
    and dropped the remaining ~1 GB)."""
    recs = [
        _record(b"response", _http(HTML_A), url=b"https://a.com/1"),
        _record(b"response", _http(HTML_B), url=b"https://a.com/2"),
        _record(b"response", _http(HTML_A), url=b"https://a.com/3"),
    ]
    good = [gzip.compress(m) for m in recs]
    # corrupt the SECOND member's deflate stream (keep its 10-byte gzip
    # header intact so the damage is mid-member, the harder case)
    bad = good[1][:12] + bytes(b ^ 0xFF for b in good[1][12:20]) + good[1][20:]
    gz = good[0] + bad + good[2]
    rows = list(iter_warc_pages("x.warc.gz", gz))
    assert [r[0] for r in rows] == ["https://a.com/1", "https://a.com/3"]
    # a truncated TRAILING member still just ends the scan
    gz2 = good[0] + good[1][:25]
    assert [r[0] for r in iter_warc_pages("x.warc.gz", gz2)] == ["https://a.com/1"]


def test_brotli_and_zstd_content_encoding_named_degradation():
    """No brotli/zstd codec ships in this runtime: the payload must be
    kept raw with a NAMED warc_error marker instead of decaying into
    invalid_html downstream (the degradation contract)."""
    fake_br = b"\x8b\x03\x80brotli-ish bytes"
    for enc, url in ((b"br", b"https://a.com/br"), (b"zstd", b"https://a.com/zst")):
        rec = _record(
            b"response",
            _http(fake_br,
                  headers=b"Content-Type: text/html\r\nContent-Encoding: " + enc),
            url=url,
        )
        row = list(iter_warc_pages("x.warc", rec))[0]
        assert row[2] == fake_br  # content kept raw
        assert row[7] == "content_encoding_unavailable:" + enc.decode()
    # corrupt gzip payload: same contract, corrupt-flavored marker
    rec = _record(
        b"response",
        _http(b"\x1f\x8bnot really gzip",
              headers=b"Content-Encoding: gzip"),
        url=b"https://a.com/badgz",
    )
    row = list(iter_warc_pages("x.warc", rec))[0]
    assert row[2] == b"\x1f\x8bnot really gzip"
    assert row[7] == "content_encoding_corrupt:gzip"


def test_warc_zst_archive_named_degradation():
    """.warc.zst (newer crawls) with no zstd codec in the runtime: one
    degradation row per archive, html NULL, loss named — never raises."""
    rows = list(iter_warc_pages("x.warc.zst", b"\x28\xb5\x2f\xfdzstd frame-ish"))
    assert len(rows) == 1
    url, ts, html, wtype, status, _, f, err = rows[0]
    assert html is None and wtype == "archive"
    assert err == "archive_codec_unavailable:zstd"


def test_oracle_fixture_set_round_trips(tmp_path):
    """The driver-row fixture set (host_stats 'warc' level): 24 records
    across two .warc.gz (one with a corrupt member + a request record
    mid-file) and one plain .warc must all come back decoded, with only
    the brotli record carrying a degradation marker."""
    from htmlx.spark.entryqueries import _warc_fix_body, synth_warc_fixture

    d = synth_warc_fixture(str(tmp_path))
    rows = []
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            rows += list(iter_warc_pages(name, f.read()))
    assert len(rows) == 24  # warcinfo/request filtered, corrupt member skipped
    by_url = {r[0]: r for r in rows}
    for i in range(24):
        r = by_url[f"https://warc{i % 5}.example.org/page/{i}"]
        assert r[2] == _warc_fix_body(i), i
        assert r[4] == (404 if i % 6 == 5 else 200)
        assert r[1].isoformat() == f"2024-01-01T00:00:{i:02d}"
        assert r[7] == ("content_encoding_unavailable:br" if i == 23 else None)


def test_malformed_record_resync_and_truncation():
    # garbage before a valid record; then a record whose Content-Length
    # runs past EOF (truncated download) — must not raise, must not
    # emit the truncated record
    valid = _record(b"response", _http(HTML_A), url=b"https://a.com/ok")
    broken_hdr = b"WARC/1.1\r\nWARC-Type: response\r\nContent-Length: nope\r\n\r\n"
    truncated = _record(b"response", _http(HTML_B), url=b"https://a.com/cut")[:-30]
    rows = list(iter_warc_pages("x.warc", b"junk" + broken_hdr + valid + truncated))
    assert [r[0] for r in rows] == ["https://a.com/ok"]


def test_read_warc_to_extraction_e2e(spark, tmp_path):
    """The full ingest chain: .warc.gz files on disk -> read_warc ->
    run_extraction; extracted text must equal extracting the same HTML
    fed directly as a pages table."""
    from pyspark.sql import functions as F

    from htmlx.core.extract import Config
    from htmlx.spark.job import run_extraction

    d = str(tmp_path)
    members = [
        _record(b"response", _http(HTML_A), url=b"https://a.com/1"),
        _record(b"request", b"GET /1 HTTP/1.1\r\n\r\n", url=b"https://a.com/1"),
        _record(b"response", _http(HTML_B), url=b"https://b.org/2"),
    ]
    with open(os.path.join(d, "part-0.warc.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(m) for m in members))
    with open(os.path.join(d, "part-1.warc"), "wb") as f:
        f.write(_record(b"response", _http(HTML_A), url=b"https://c.net/3"))

    pages = read_warc(spark, d)
    assert pages.count() == 3
    got = {
        r["url"]: r["text"]
        for r in run_extraction(pages.select("url", "html"), Config()).collect()
    }
    direct = spark.createDataFrame(
        [("https://a.com/1", bytearray(HTML_A))], "url string, html binary"
    )
    want_a = run_extraction(direct, Config()).collect()[0]["text"]
    assert got["https://a.com/1"] == want_a == got["https://c.net/3"]
    assert "beta second doc" in got["https://b.org/2"]


def test_read_wet_conversion_records(spark, tmp_path):
    """WET archives: 'conversion' records hold the crawl's own extracted
    text verbatim (no HTTP envelope); read_wet surfaces them as a text
    column, tolerating undecodable bytes."""
    from htmlx.spark.warc import read_wet

    wet_text = "Extracted text of the page.\nSecond line café.".encode()
    members = [
        _record(b"warcinfo", b"software: wet\r\n"),
        _record(b"conversion", wet_text, url=b"https://a.com/1"),
        _record(b"conversion", b"ok \xff broken", url=b"https://b.org/2"),
    ]
    d = str(tmp_path)
    with open(os.path.join(d, "seg.warc.wet.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(m) for m in members))
    got = {r["url"]: r["text"] for r in read_wet(spark, d).collect()}
    assert got["https://a.com/1"] == wet_text.decode()
    assert got["https://b.org/2"].startswith("ok ")  # malformed byte tolerated
    # and the response-reader ignores conversion records entirely
    assert read_warc(spark, d).count() == 0


def test_extract_cli_input_format_warc(spark, tmp_path, monkeypatch):
    """jobs/extract.py --input-format warc: the real spark-submit entry
    ingests archives and commits results through the resume machinery."""
    import sys

    from jobs.extract import main

    d = str(tmp_path / "crawl")
    os.makedirs(d)
    members = [
        _record(b"response", _http(HTML_A), url=b"https://a.com/1"),
        _record(b"response", _http(HTML_B), url=b"https://b.org/2"),
    ]
    with open(os.path.join(d, "seg-0.warc.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(m) for m in members))
    out = str(tmp_path / "results")
    monkeypatch.setattr(sys, "argv", [
        "extract.py", "--input", d, "--input-format", "warc",
        "--output", out, "--groups", "2", "--run-id", "warctest",
    ])
    main()
    got = {r["url"] for r in spark.read.parquet(out).select("url").collect()}
    assert got == {"https://a.com/1", "https://b.org/2"}


CDXJ_LINE = (
    '{surt} {ts} {{"url": "{url}", "mime": "text/html", "status": "200", '
    '"digest": "sha1:AAAA", "length": "{length}", "offset": "{offset}", '
    '"filename": "{filename}"}}'
)


def test_read_cdx_parses_cdxj(spark, tmp_path):
    """CDXJ capture-index lines (cc-index format: SURT, timestamp14,
    json) parse JVM-side into typed columns; malformed lines drop."""
    import gzip as _gz

    from htmlx.spark.warc import read_cdx

    lines = [
        CDXJ_LINE.format(surt="com,a)/1", ts="20240102030405",
                         url="https://a.com/1", length="523", offset="0",
                         filename="segments/w0.warc.gz"),
        CDXJ_LINE.format(surt="org,b)/2", ts="20230601000000",
                         url="https://b.org/2", length="100", offset="523",
                         filename="segments/w1.warc.gz"),
        "com,broken)/x 20240101000000 {not json at all",
        CDXJ_LINE.format(surt="net,c)/1", ts="not-a-timestamp",
                         url="https://c.net/1", length="7", offset="9",
                         filename="segments/w2.warc.gz"),  # bad ts -> NULL ts, row kept
        "short-line",
    ]
    d = tmp_path / "cdx"
    d.mkdir()
    with _gz.open(d / "cdx-00000.gz", "wt") as f:
        f.write("\n".join(lines) + "\n")
    rows = {r["url"]: r for r in read_cdx(spark, str(d)).collect()}
    assert set(rows) == {"https://a.com/1", "https://b.org/2", "https://c.net/1"}
    assert rows["https://c.net/1"]["warc_ts"] is None
    r = rows["https://a.com/1"]
    assert r["surt"] == "com,a)/1"
    assert r["warc_ts"].isoformat() == "2024-01-02T03:04:05"
    assert (r["status"], r["length"], r["offset"]) == (200, 523, 0)
    assert r["filename"] == "segments/w0.warc.gz"


def test_cdx_pruned_extract_cli(spark, tmp_path, monkeypatch):
    """--cdx/--cdx-urls on jobs/extract.py: archive files are pruned by
    the index BEFORE any archive byte is read (a keep-list url living
    only in an UNINDEXED archive must not appear — proof the file was
    never opened), and indexed-but-unwanted records are filtered."""
    import sys

    from jobs.extract import main

    d = str(tmp_path / "crawl")
    os.makedirs(d)
    recs = {
        "w0.warc.gz": [(b"https://a.com/1", HTML_A), (b"https://a.com/2", HTML_B)],
        "w1.warc.gz": [(b"https://b.org/1", HTML_A)],
        "w2.warc.gz": [(b"https://c.net/1", HTML_B)],  # NOT in the index
    }
    for name, rs in recs.items():
        with open(os.path.join(d, name), "wb") as f:
            f.write(b"".join(
                gzip.compress(_record(b"response", _http(body), url=u))
                for u, body in rs))
    cdx_lines = [
        CDXJ_LINE.format(surt="com,a)/1", ts="20240101000000",
                         url="https://a.com/1", length="1", offset="0",
                         filename="w0.warc.gz"),
        CDXJ_LINE.format(surt="com,a)/2", ts="20240101000000",
                         url="https://a.com/2", length="1", offset="1",
                         filename="w0.warc.gz"),
        CDXJ_LINE.format(surt="org,b)/1", ts="20240101000000",
                         url="https://b.org/1", length="1", offset="0",
                         filename="w1.warc.gz"),
    ]
    cdx = str(tmp_path / "index.cdxj")
    with open(cdx, "w") as f:
        f.write("\n".join(cdx_lines) + "\n")
    keep = str(tmp_path / "keep.parquet")
    spark.createDataFrame(
        [("https://a.com/1",), ("https://c.net/1",)], "url string"
    ).write.parquet(keep)
    out = str(tmp_path / "results")
    monkeypatch.setattr(sys, "argv", [
        "extract.py", "--input", d, "--input-format", "warc",
        "--cdx", cdx, "--cdx-urls", keep,
        "--output", out, "--groups", "2", "--run-id", "cdxtest",
    ])
    main()
    got = {r["url"] for r in spark.read.parquet(out).select("url").collect()}
    # a.com/1: indexed + wanted -> extracted. a.com/2 / b.org/1: indexed,
    # unwanted -> record/file filtered. c.net/1: wanted but unindexed ->
    # its archive was never read.
    assert got == {"https://a.com/1"}


def test_wet_ab_compare_and_report(spark, tmp_path):
    """WET A/B comparator (the read_wet consumer): hand-computed char-F1
    and length-ratio per url, coverage gaps surfaced via the full outer
    join, distribution report aggregates only both-side urls. The WET
    side goes through the REAL read_wet path (conversion records in a
    .warc.wet.gz on disk)."""
    from htmlx.spark.analytics import wet_ab_compare, wet_ab_report

    d = str(tmp_path / "wet")
    os.makedirs(d)
    wet_recs = [
        _record(b"conversion", "alpha beta gamma".encode(), url=b"https://a.com/1"),
        _record(b"conversion", b"abd", url=b"https://a.com/2"),
        _record(b"conversion", b"wet only text", url=b"https://a.com/3"),
    ]
    with open(os.path.join(d, "seg.warc.wet.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(r) for r in wet_recs))
    from htmlx.spark.warc import read_wet

    wet = read_wet(spark, d)
    engine = spark.createDataFrame(
        [
            ("https://a.com/1", "alpha beta gamma"),  # identical -> f1 = 1
            ("https://a.com/2", "abc"),               # abc vs abd -> f1 = 2/3
            ("https://a.com/4", "engine only"),       # engine-only url
        ],
        "url string, text string",
    )
    rows = {r["url"]: r for r in wet_ab_compare(engine, wet).collect()}
    assert len(rows) == 4
    r1 = rows["https://a.com/1"]
    assert r1["char_f1"] == pytest.approx(1.0) and r1["length_ratio"] == pytest.approx(1.0)
    r2 = rows["https://a.com/2"]
    assert r2["char_f1"] == pytest.approx(2 / 3)  # overlap 2: 'a','b'
    assert r2["engine_chars"] == 3 and r2["wet_chars"] == 3
    r3 = rows["https://a.com/3"]  # wet-only: f1 0, ratio 0/13
    assert r3["engine_chars"] == 0 and r3["char_f1"] == 0.0
    assert r3["length_ratio"] == pytest.approx(0.0)
    r4 = rows["https://a.com/4"]  # engine-only: no wet denominator
    assert r4["wet_chars"] == 0 and r4["length_ratio"] is None
    rep = wet_ab_report(engine, wet).collect()[0]
    assert rep["n_urls"] == 4 and rep["n_both"] == 2
    assert rep["n_engine_only"] == 1 and rep["n_wet_only"] == 1
    assert rep["char_f1_p50"] == pytest.approx((1.0 + 2 / 3) / 2)
    assert rep["char_f1_mean"] == pytest.approx((1.0 + 2 / 3) / 2)


# ---- CDX building (cdx_from_warc / write_cdxj) + range reads ----


def _b32sha1(b: bytes) -> str:
    import base64
    import hashlib

    return base64.b32encode(hashlib.sha1(b).digest()).decode()


def test_gzip_member_spans_are_range_readable():
    """Member (offset, length) spans are exact: slicing the archive at a
    span and gunzipping it yields that member alone — the property a CDX
    range fetcher depends on. Expected offsets come from the test
    writer's OWN per-blob lengths, not the splitter."""
    from htmlx.spark.warc import _gzip_member_spans

    blobs = [
        gzip.compress(_record(b"response", _http(HTML_A), url=b"https://a.com/1")),
        gzip.compress(_record(b"request", b"GET / HTTP/1.1\r\n\r\n",
                              url=b"https://a.com/1")),
        gzip.compress(_record(b"response", _http(HTML_B), url=b"https://b.org/2")),
    ]
    data = b"".join(blobs)
    spans = list(_gzip_member_spans(data))
    assert len(spans) == 3
    expect_off = [0, len(blobs[0]), len(blobs[0]) + len(blobs[1])]
    for (off, ln, out), blob, eo in zip(spans, blobs, expect_off):
        assert (off, ln) == (eo, len(blob))
        assert gzip.decompress(data[off : off + ln]) == out


def test_cdx_from_warc_and_cdxj_roundtrip(spark, tmp_path):
    """Index .warc.gz + plain .warc archives: offsets/lengths match the
    writer's own blob arithmetic, digests are sha1-base32 of the stored
    payload, chaff records don't index; then the full CDXJ round trip
    (write_cdxj -> read_cdx) preserves every column."""
    from htmlx.spark.warc import cdx_from_warc, read_cdx, write_cdxj

    d = tmp_path / "crawl"
    d.mkdir()
    blobs = [
        gzip.compress(_record(b"response", _http(HTML_A), url=b"https://a.com/1")),
        gzip.compress(_record(b"request", b"GET / HTTP/1.1\r\n\r\n",
                              url=b"https://a.com/1")),
        gzip.compress(_record(b"response", _http(HTML_B, status=b"404 Not Found"),
                              url=b"https://www.b.org/2",
                              date=b"2019-06-01T00:00:00Z")),
    ]
    (d / "w0.warc.gz").write_bytes(b"".join(blobs))
    plain = _record(b"response", _http(HTML_B), url=b"https://c.net/x")
    (d / "w1.warc").write_bytes(plain)

    rows = {r["url"]: r for r in cdx_from_warc(spark, str(d)).collect()}
    assert set(rows) == {"https://a.com/1", "https://www.b.org/2", "https://c.net/x"}
    a = rows["https://a.com/1"]
    assert (a["offset"], a["length"]) == (0, len(blobs[0]))
    assert a["status"] == 200 and a["mime"] == "text/html"
    assert a["digest"] == _b32sha1(HTML_A)
    assert a["surt"] == "com,a)/1"
    assert a["warc_ts"].isoformat() == "2017-03-22T17:01:03"
    b = rows["https://www.b.org/2"]
    assert (b["offset"], b["length"]) == (len(blobs[0]) + len(blobs[1]), len(blobs[2]))
    assert b["status"] == 404 and b["surt"] == "org,b)/2"  # www. dropped
    c = rows["https://c.net/x"]
    assert (c["offset"], c["length"]) == (0, len(plain))
    assert c["digest"] == _b32sha1(HTML_B)
    assert c["filename"].endswith("w1.warc")

    out = str(tmp_path / "index")
    write_cdxj(cdx_from_warc(spark, str(d)), out)
    back = {r["url"]: r for r in read_cdx(spark, out).collect()}
    assert set(back) == set(rows)
    for url, r in rows.items():
        for col in ("surt", "warc_ts", "mime", "status", "digest",
                    "length", "offset", "filename"):
            assert back[url][col] == r[col], (url, col)


def test_surt_col_shared_grammar_pins(spark):
    """SURT derivation agrees with the shared URL grammar and the
    documented cc-index refinements (www-strip, userinfo-drop,
    label reversal, fragment drop, '/' default path)."""
    from pyspark.sql import functions as F

    from htmlx.spark.analytics import surt_col

    cases = [
        # path/query lowercased like published cc-index urlkeys (r9)
        ("https://www.Example.COM:443/Path?Q=1#frag", "com,example)/path?q=1"),
        ("http://user:pw@sub.example.org/", "org,example,sub)/"),
        ("https://example.net", "net,example)/"),
        ("ftp://Host.TLD/a/b", "tld,host)/a/b"),
        ("relative/x", None),
        ("", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["s"] for r in df.select(surt_col("url").alias("s")).collect()]
    assert got == [s for _, s in cases]


def test_cdx_range_reads_match_full_scan(spark, tmp_path):
    """read_warc_ranges over cdx_record_pruning spans returns the SAME
    rows the full-archive scan returns for the kept urls — record-level
    pruning loses nothing and invents nothing."""
    from pyspark.sql import functions as F

    from htmlx.spark.warc import (
        cdx_from_warc, cdx_record_pruning, read_warc, read_warc_ranges,
    )

    d = tmp_path / "crawl"
    d.mkdir()
    bodies = {f"https://s{i}.com/p": HTML_A.replace(b"alpha", b"doc%d" % i)
              for i in range(6)}
    urls = sorted(bodies)
    for w, chunk in enumerate([urls[:3], urls[3:]]):
        (d / f"w{w}.warc.gz").write_bytes(b"".join(
            gzip.compress(_record(b"response", _http(bodies[u]), url=u.encode()))
            for u in chunk))
    cdx = cdx_from_warc(spark, str(d))
    keep = spark.createDataFrame([(urls[1],), (urls[4],)], "url string")

    def key(df):
        return sorted(
            df.select("url", F.md5("html").alias("h"), "http_status",
                      "content_type", "warc_ts").collect()
        )

    ranged = read_warc_ranges(spark, cdx_record_pruning(cdx, keep))
    full = read_warc(spark, str(d)).join(keep, "url", "left_semi")
    assert key(ranged) == key(full)
    assert {r["url"] for r in ranged.select("url").collect()} == {urls[1], urls[4]}


def test_cdx_index_skips_corrupt_member_offsets_hold(spark, tmp_path):
    """A corrupt mid-archive member neither indexes nor shifts later
    offsets: the record after the damage range-reads correctly from its
    indexed span (index and reader share the re-sync splitter)."""
    from htmlx.spark.warc import cdx_from_warc, read_warc_ranges

    d = tmp_path / "crawl"
    d.mkdir()
    good0 = gzip.compress(_record(b"response", _http(HTML_A), url=b"https://a.com/1"))
    bad = bytearray(gzip.compress(_record(b"response", _http(HTML_B),
                                          url=b"https://dead.com/x")))
    bad[12:40] = b"\x00" * 28  # corrupt the deflate stream mid-member
    good2 = gzip.compress(_record(b"response", _http(HTML_B), url=b"https://c.net/3"))
    (d / "w0.warc.gz").write_bytes(good0 + bytes(bad) + good2)

    rows = {r["url"]: r for r in cdx_from_warc(spark, str(d)).collect()}
    assert set(rows) == {"https://a.com/1", "https://c.net/3"}
    c = rows["https://c.net/3"]
    assert (c["offset"], c["length"]) == (len(good0) + len(bad), len(good2))
    spans = spark.createDataFrame(
        [(c["filename"], c["offset"], c["length"])],
        "filename string, offset long, length long",
    )
    got = read_warc_ranges(spark, spans).collect()
    assert len(got) == 1 and got[0]["url"] == "https://c.net/3"
    assert bytes(got[0]["html"]) == HTML_B


def test_extract_cli_cdx_ranges(spark, tmp_path, monkeypatch):
    """--cdx-ranges end-to-end over a SELF-BUILT index: archives ->
    cdx_from_warc -> write_cdxj -> extract CLI range-reads only the
    keep-list's spans (full lifecycle: index once, prune every job)."""
    import sys

    from jobs.extract import main
    from htmlx.spark.warc import cdx_from_warc, write_cdxj

    d = str(tmp_path / "crawl")
    os.makedirs(d)
    recs = {
        "w0.warc.gz": [(b"https://a.com/1", HTML_A), (b"https://a.com/2", HTML_B)],
        "w1.warc.gz": [(b"https://b.org/1", HTML_B)],
    }
    for name, rs in recs.items():
        with open(os.path.join(d, name), "wb") as f:
            f.write(b"".join(
                gzip.compress(_record(b"response", _http(body), url=u))
                for u, body in rs))
    idx = str(tmp_path / "index")
    write_cdxj(cdx_from_warc(spark, d), idx)
    keep = str(tmp_path / "keep.parquet")
    spark.createDataFrame([("https://a.com/1",)], "url string").write.parquet(keep)
    out = str(tmp_path / "results")
    monkeypatch.setattr(sys, "argv", [
        "extract.py", "--input", d, "--input-format", "warc",
        "--cdx", idx, "--cdx-urls", keep, "--cdx-ranges",
        "--output", out, "--groups", "2", "--run-id", "cdxranges",
    ])
    main()
    res = spark.read.parquet(out)
    assert {r["url"] for r in res.select("url").collect()} == {"https://a.com/1"}
    assert res.where("title = 'Doc A'").count() == 1


def test_cdx_cli_builds_index(spark, tmp_path, monkeypatch, capsys):
    """jobs/cdx.py: archives in, CDXJ index out, summary from the
    written index itself."""
    import sys

    from jobs.cdx import main

    d = str(tmp_path / "crawl")
    os.makedirs(d)
    for w in range(2):
        with open(os.path.join(d, f"w{w}.warc.gz"), "wb") as f:
            f.write(b"".join(
                gzip.compress(_record(b"response", _http(HTML_A),
                                      url=b"https://s%d.com/%d" % (w, i)))
                for i in range(3)))
    out = str(tmp_path / "index")
    monkeypatch.setattr(sys, "argv",
                        ["cdx.py", "--input", d, "--output", out])
    main()
    assert "indexed 6 records from 2 archives" in capsys.readouterr().out
    from htmlx.spark.warc import read_cdx

    assert read_cdx(spark, out).count() == 6


def test_write_wet_roundtrip_and_determinism(spark, tmp_path):
    """write_wet publishes extraction text as member-per-record WET
    archives that read_wet ingests back verbatim; re-publishing the
    same frame yields byte-identical files (mtime=0 gzip, uuid5 record
    ids, url-sorted members)."""
    import datetime as _dt

    from htmlx.spark.warc import _gzip_members, read_wet, write_wet

    rows = [
        (f"https://s{i % 3}.com/p/{i}", f"extracted text {i}\nline two {i}",
         _dt.datetime(2024, 3, 1, 0, 0, i))
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "url string, text string, warc_ts timestamp")
    out1, out2 = str(tmp_path / "wet1"), str(tmp_path / "wet2")
    man = write_wet(df, out1, n_files=3, ts_col="warc_ts").collect()
    assert sum(r["n_records"] for r in man) == 10
    back = {r["url"]: (r["text"], r["warc_ts"])
            for r in read_wet(spark, out1).collect()}
    assert back == {u: (t, ts) for u, t, ts in rows}
    # one gzip member per record (the convention every WET splitter cuts on)
    for r in man:
        with open(r["wet_file"], "rb") as f:
            assert len(list(_gzip_members(f.read()))) == r["n_records"]
    write_wet(df, out2, n_files=3, ts_col="warc_ts").collect()
    for r in man:
        name = os.path.basename(r["wet_file"])
        with open(r["wet_file"], "rb") as a, open(
            os.path.join(out2, name), "rb"
        ) as b:
            assert a.read() == b.read(), name


def test_write_wet_dirty_rows(spark, tmp_path):
    """r9 (r8 advice): write_wet stays byte-deterministic under
    duplicate urls (sort key is (url, record bytes), not url alone),
    DROPS null-url/null-text rows instead of raising, and a NULL
    warc_ts (pandas NaT on the worker) publishes the epoch default
    instead of crashing strftime."""
    import datetime as _dt
    import glob as _glob

    from pyspark.sql import functions as F

    from htmlx.spark.warc import read_wet, write_wet

    rows = [
        ("https://a.com/x", "text one", _dt.datetime(2024, 3, 1)),
        ("https://a.com/x", "text two (dup url)", _dt.datetime(2024, 3, 2)),
        ("https://b.com/y", "text three", None),  # NULL ts -> NaT path
        (None, "null url", _dt.datetime(2024, 3, 1)),
        ("https://c.com/z", None, _dt.datetime(2024, 3, 1)),
    ]
    df = spark.createDataFrame(rows, "url string, text string, warc_ts timestamp")
    blobs = []
    for tag, order in (("f", F.col("url")), ("r", F.desc("text"))):
        d = str(tmp_path / f"wet_{tag}")
        man = write_wet(df.orderBy(order).repartition(3), d, n_files=2,
                        ts_col="warc_ts").collect()
        assert sum(r["n_records"] for r in man) == 3  # nulls dropped
        blobs.append(b"".join(
            open(p, "rb").read() for p in sorted(_glob.glob(d + "/*.gz"))
        ))
    assert blobs[0] == blobs[1]
    back = {(r["url"], r["text"]): r["warc_ts"]
            for r in read_wet(spark, str(tmp_path / "wet_f")).collect()}
    assert back[("https://b.com/y", "text three")].year == 1970


def test_read_warc_ranges_remote_scheme_named_error(spark, tmp_path):
    """r9 (r8 advice): a remote-scheme span filename without fsspec in
    the runtime raises a NAMED NotImplementedError citing fsspec, not a
    misleading FileNotFoundError."""
    import pytest

    from htmlx.spark.warc import read_warc_ranges

    pytest.importorskip("pyspark")
    try:
        import fsspec  # noqa: F401

        pytest.skip("fsspec present: remote opener would engage")
    except ImportError:
        pass
    spans = spark.createDataFrame(
        [("s3://bucket/x.warc.gz", 0, 10)], "filename string, offset long, length long"
    )
    with pytest.raises(Exception) as ei:
        read_warc_ranges(spark, spans).collect()
    assert "fsspec" in str(ei.value) and "s3" in str(ei.value)


def test_extract_cli_wet_output(spark, tmp_path, monkeypatch):
    """--wet-output: the extraction CLI publishes its committed results
    as WET archives whose text read_wet returns verbatim — the full
    lifecycle WARC in, WET out."""
    import sys

    from jobs.extract import main
    from htmlx.spark.warc import read_wet

    d = str(tmp_path / "crawl")
    os.makedirs(d)
    with open(os.path.join(d, "w0.warc.gz"), "wb") as f:
        f.write(b"".join(
            gzip.compress(_record(b"response", _http(body), url=u))
            for u, body in [(b"https://a.com/1", HTML_A),
                            (b"https://b.org/2", HTML_B)]))
    out = str(tmp_path / "results")
    wet = str(tmp_path / "wet")
    monkeypatch.setattr(sys, "argv", [
        "extract.py", "--input", d, "--input-format", "warc",
        "--output", out, "--wet-output", wet,
        "--groups", "2", "--run-id", "wetpub",
    ])
    main()
    results = {r["url"]: r["text"]
               for r in spark.read.parquet(out).select("url", "text").collect()}
    published = {r["url"]: r["text"] for r in read_wet(spark, wet).collect()}
    assert published == results and len(published) == 2


def test_cdx_snapshot_delta_classification(spark):
    """Index-granularity recrawl diff: latest capture per side, digest
    compare -> added/changed/unchanged/removed; the NEW capture's span
    rides along for the pruned read."""
    from htmlx.spark.warc import cdx_snapshot_delta

    schema = ("url string, warc_ts timestamp, digest string, "
              "filename string, offset long, length long")
    import datetime as _dt

    t1, t2 = _dt.datetime(2024, 1, 1), _dt.datetime(2024, 6, 1)
    old = spark.createDataFrame([
        ("https://a.com/same", t1, "D1", "old0.warc.gz", 0, 10),
        ("https://a.com/chg", t1, "D2", "old0.warc.gz", 10, 10),
        ("https://a.com/chg", t2, "D3", "old1.warc.gz", 0, 10),  # latest wins
        ("https://a.com/gone", t1, "D4", "old0.warc.gz", 20, 10),
    ], schema)
    new = spark.createDataFrame([
        ("https://a.com/same", t2, "D1", "new0.warc.gz", 0, 10),
        ("https://a.com/chg", t2, "D9", "new0.warc.gz", 10, 10),
        ("https://a.com/new", t2, "D5", "new1.warc.gz", 0, 10),
    ], schema)
    got = {r["url"]: r for r in cdx_snapshot_delta(old, new).collect()}
    assert {u: r["status"] for u, r in got.items()} == {
        "https://a.com/same": "unchanged",
        "https://a.com/chg": "changed",   # vs D3, the LATEST old capture
        "https://a.com/gone": "removed",
        "https://a.com/new": "added",
    }
    assert got["https://a.com/chg"]["digest_old"] == "D3"
    assert got["https://a.com/new"]["filename"] == "new1.warc.gz"
    assert got["https://a.com/gone"]["filename"] is None


def test_extract_cli_cdx_previous_incremental(spark, tmp_path, monkeypatch):
    """--cdx-previous e2e: two crawls indexed with cdx_from_warc; the
    extraction reads ONLY the added+changed captures' spans (the
    unchanged page never re-extracts, the removed page never appears)."""
    import sys

    from jobs.extract import main
    from htmlx.spark.warc import cdx_from_warc, write_cdxj

    def crawl(name, pages):
        d = str(tmp_path / name)
        os.makedirs(d)
        with open(os.path.join(d, f"{name}.warc.gz"), "wb") as f:
            f.write(b"".join(
                gzip.compress(_record(b"response", _http(body), url=u))
                for u, body in pages))
        return d

    old_dir = crawl("old", [
        (b"https://a.com/same", HTML_A),
        (b"https://a.com/chg", HTML_A),
        (b"https://a.com/gone", HTML_B),
    ])
    new_dir = crawl("new", [
        (b"https://a.com/same", HTML_A),
        (b"https://a.com/chg", HTML_B),   # changed content
        (b"https://a.com/new", HTML_B),   # added
    ])
    idx_old, idx_new = str(tmp_path / "i_old"), str(tmp_path / "i_new")
    write_cdxj(cdx_from_warc(spark, old_dir), idx_old)
    write_cdxj(cdx_from_warc(spark, new_dir), idx_new)
    out = str(tmp_path / "results")
    monkeypatch.setattr(sys, "argv", [
        "extract.py", "--input", new_dir, "--input-format", "warc",
        "--cdx", idx_new, "--cdx-previous", idx_old, "--cdx-ranges",
        "--output", out, "--groups", "2", "--run-id", "incr",
    ])
    main()
    got = {r["url"] for r in spark.read.parquet(out).select("url").collect()}
    assert got == {"https://a.com/chg", "https://a.com/new"}


def test_block_digest_verification():
    """A writer-supplied WARC-Block-Digest is verified on read: a
    matching sha1 (base32 per convention, hex tolerated) passes clean,
    a mismatch becomes the NAMED block_digest_mismatch degradation with
    the bytes still delivered, and non-sha1 algorithms pass through
    unverified."""
    import base64
    import hashlib

    block = _http(HTML_A)
    good32 = base64.b32encode(hashlib.sha1(block).digest()).decode()

    def rec_with(digest_field):
        hdr = (b"WARC/1.1\r\nWARC-Type: response\r\n"
               b"WARC-Target-URI: https://a.com/d\r\n"
               b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
               b"WARC-Block-Digest: " + digest_field + b"\r\n"
               b"Content-Length: " + str(len(block)).encode())
        return hdr + b"\r\n\r\n" + block + b"\r\n\r\n"

    ok = list(iter_warc_pages("x.warc", rec_with(b"sha1:" + good32.encode())))
    assert ok[0][7] is None and ok[0][2] == HTML_A
    okhex = list(iter_warc_pages(
        "x.warc", rec_with(b"sha1:" + hashlib.sha1(block).hexdigest().encode())))
    assert okhex[0][7] is None
    bad = list(iter_warc_pages("x.warc", rec_with(b"sha1:" + b"A" * 32)))
    assert bad[0][7] == "block_digest_mismatch" and bad[0][2] == HTML_A
    other = list(iter_warc_pages("x.warc", rec_with(b"md5:ABCDEF")))
    assert other[0][7] is None  # unverified, not failed


def test_archive_ops_plan_shapes(spark, tmp_path):
    """100 TB shape pins for the new archive ops: read_cdx is entirely
    JVM-side (no Python eval), cdx_snapshot_delta is zero-Python with
    exactly the two per-side url aggregations + one join, and
    read_warc_ranges has exactly ONE exchange (the per-file
    repartition) feeding its single Python stage."""
    from htmlx.spark.warc import cdx_snapshot_delta, read_cdx, read_warc_ranges

    d = tmp_path / "cdx"
    d.mkdir()
    (d / "idx.cdxj").write_text(CDXJ_LINE.format(
        surt="com,a)/1", ts="20240102030405", url="https://a.com/1",
        length="5", offset="0", filename="w.warc.gz") + "\n")
    cdx = read_cdx(spark, str(d))
    py_markers = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")

    plan = cdx._jdf.queryExecution().executedPlan().toString()
    for m in py_markers:
        assert m not in plan

    delta = cdx_snapshot_delta(cdx, cdx)
    dplan = delta._jdf.queryExecution().executedPlan().toString()
    for m in py_markers:
        assert m not in dplan

    spans = spark.createDataFrame(
        [("w.warc.gz", 0, 5)], "filename string, offset long, length long"
    )
    rplan = read_warc_ranges(spark, spans)._jdf.queryExecution() \
        .executedPlan().toString()
    assert rplan.count("Exchange") == 1  # the per-file repartition only
    assert rplan.count("MapInPandas") == 1


def test_wetab_cli_e2e(spark, tmp_path, monkeypatch, capsys):
    """jobs/wetab.py: results parquet + WET archives in, per-url frame
    + one-row report out — the A/B comparison as an operational job."""
    import json
    import sys

    from jobs.wetab import main

    wet_dir = str(tmp_path / "wet")
    os.makedirs(wet_dir)
    recs = [
        _record(b"conversion", b"alpha beta", url=b"https://a.com/1"),
        _record(b"conversion", b"wet only text", url=b"https://a.com/2"),
    ]
    with open(os.path.join(wet_dir, "x.warc.wet.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(r) for r in recs))
    res = str(tmp_path / "results.parquet")
    spark.createDataFrame(
        [("https://a.com/1", "alpha beta")], "url string, text string"
    ).write.parquet(res)
    out = str(tmp_path / "ab")
    monkeypatch.setattr(sys, "argv", [
        "wetab.py", "--results", res, "--wet", wet_dir, "--output", out,
    ])
    main()
    row = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert row["n_both"] == 1 and row["n_wet_only"] == 1
    assert row["char_f1_mean"] == 1.0
    per = {r["url"]: r["char_f1"] for r in
           spark.read.parquet(out + "/per_url.parquet").collect()}
    assert per["https://a.com/1"] == 1.0 and per["https://a.com/2"] == 0.0


def test_write_cdxj_gzipped_by_default(spark, tmp_path):
    """write_cdxj gzips like the published cc-index shards; read_cdx
    reads the .gz files transparently and the round trip holds."""
    from htmlx.spark.warc import cdx_from_warc, read_cdx, write_cdxj

    d = tmp_path / "crawl"
    d.mkdir()
    (d / "w.warc.gz").write_bytes(
        gzip.compress(_record(b"response", _http(HTML_A), url=b"https://a.com/1")))
    out = str(tmp_path / "idx")
    write_cdxj(cdx_from_warc(spark, str(d)), out)
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    assert files and all(f.endswith(".gz") for f in files)
    assert read_cdx(spark, out).collect()[0]["url"] == "https://a.com/1"
