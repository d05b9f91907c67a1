"""WARC ingest: Common-Crawl .warc / .warc.gz archives -> the engine's
pages table (url, warc_ts, html, ...).

The reference engine starts at HTML bytes (extractor.go takes content
[]byte); real crawl pipelines start one step earlier, at WARC archives
(ISO 28500 / WARC 1.1 — the Common Crawl container format). This module
is that ingest step, stdlib-only:

  - `.warc.gz`: each record is its own gzip MEMBER (the Common Crawl
    convention, warc-1.1 annex C) — members are split with
    zlib.decompressobj(31) and `unused_data`. A corrupt member is
    skipped by scanning forward for the next gzip magic
    (`\\x1f\\x8b\\x08`) and resuming there, so one damaged record does
    not poison the remaining ~1 GB of a Common-Crawl file; only a
    TRUNCATED trailing member ends the scan (nothing follows it).
  - record grammar (warc-1.1 §4): `WARC/1.x CRLF`, named fields, CRLF,
    a Content-Length-octets block, CRLF CRLF. Malformed records are
    skipped by re-synchronizing on the next `WARC/` magic.
  - response records carry an HTTP response in the block (§6.3): the
    status line + headers are stripped, `Content-Encoding: gzip/deflate`
    payloads are inflated, and the remaining body is the page html.
    Encodings with no codec in the runtime (`br`, `zstd` unless the
    optional libs are importable) and payloads that fail to inflate are
    kept as raw bytes with a NAMED degradation in the `warc_error`
    column — crawl dirt must degrade visibly, never decay into
    downstream `invalid_html` noise or kill a 100 TB job.

100 TB plan: `spark.read.format("binaryFile")` gives one row per
archive; gzip archives are non-splittable, so parallelism = file count
— exactly the Common Crawl layout (crawls ship as ~1 GB x ~72k files
per snapshot, ample for 1000 executors). Record splitting runs in
mapInPandas (per-file Python work is unavoidable for a byte-level
container format; each yielded batch is one archive's records, bounded
by the archive size). Executors must be sized to hold one archive in
memory (the same requirement any WARC reader has).
"""

from __future__ import annotations

import base64
import hashlib
import zlib
from datetime import datetime, timezone
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

#: Output schema: the engine's pages-table core (url, warc_ts, html)
#: plus the WARC/HTTP envelope fields a curation pipeline filters on.
#: warc_error is the named-degradation channel: NULL for clean records,
#: else a ';'-joined list of markers (content_encoding_unavailable:br,
#: content_encoding_corrupt:gzip, chunked_framing_invalid,
#: archive_codec_unavailable:zstd) — content is kept raw where possible.
WARC_PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, warc_type string, "
    "http_status int, content_type string, warc_file string, "
    "warc_error string"
)

_CRLF2 = b"\r\n\r\n"
_GZ_MAGIC = b"\x1f\x8b\x08"


def _gzip_member_spans(data: bytes) -> Iterator[tuple]:
    """Decompress a multi-member gzip stream member by member (warc.gz:
    one record per member), yielding (offset, compressed_length,
    inflated_bytes) — the byte span is what a CDX index records so a
    later reader can range-GET exactly one record out of a ~1 GB
    archive. A member that fails to inflate is SKIPPED by scanning
    forward for the next gzip magic and resuming there (Common-Crawl
    files do contain damaged members; before r8 the first one ended the
    scan and lost the rest of the archive). A member cut off at EOF ends
    the scan — nothing can follow it. False magic hits inside a corrupt
    member's compressed bytes just fail the next inflate attempt and the
    scan moves on. The tail is passed as a memoryview slice — a bytes
    slice here would COPY the remaining archive once per member, turning
    a 1 GB 100k-record Common-Crawl file into ~50 TB of memcpy."""
    mv = memoryview(data)
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(31)
        try:
            out = d.decompress(mv[pos:])
        except zlib.error:
            nxt = data.find(_GZ_MAGIC, pos + 1)
            if nxt < 0:
                return
            pos = nxt  # re-sync on the next member's magic
            continue
        if not d.eof:
            # consumed all input without finishing the member: a
            # truncated TRAILING member (nothing to recover), unless a
            # later member's magic exists — then this member was corrupt
            # in a way zlib tolerated, and the scan re-syncs like above
            nxt = data.find(_GZ_MAGIC, pos + 1)
            if nxt < 0:
                return
            pos = nxt
            continue
        end = n - len(d.unused_data)
        yield pos, end - pos, out
        if end == n:
            return
        pos = end


def _gzip_members(data: bytes) -> Iterator[bytes]:
    """Member payloads only — see _gzip_member_spans for the contract."""
    for _, _, out in _gzip_member_spans(data):
        yield out


def _parse_warc_date(s: str):
    """warc-1.1 §5.4 WARC-Date: W3C ISO 8601, UTC 'Z' suffix."""
    try:
        return datetime.fromisoformat(s.replace("Z", "+00:00")).astimezone(
            timezone.utc
        ).replace(tzinfo=None)
    except ValueError:
        return None


def _iter_records(raw: bytes) -> Iterator[dict]:
    """Yield {headers: dict, block: bytes, span: (start, end)} per WARC
    record in a raw (already-decompressed) stream, re-syncing on 'WARC/'
    after damage. `span` is the record's byte range within THIS stream
    (trailing CRLF CRLF included when present) — for an uncompressed
    .warc it doubles as the file-level CDX offset/length."""
    pos = 0
    n = len(raw)
    while pos < n:
        start = raw.find(b"WARC/", pos)
        if start < 0:
            return
        hdr_end = raw.find(_CRLF2, start)
        if hdr_end < 0:
            return
        lines = raw[start:hdr_end].split(b"\r\n")
        headers: dict = {}
        last_key = None
        for ln in lines[1:]:
            if ln[:1] in (b" ", b"\t") and last_key is not None:
                # warc-1.1 §4 allows folded (obs-fold) continuation lines
                headers[last_key] += " " + ln.strip().decode("latin-1", "replace")
                continue
            k, sep, v = ln.partition(b":")
            if sep:
                last_key = k.strip().lower().decode("latin-1")
                headers[last_key] = v.strip().decode("latin-1", "replace")
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            pos = start + 5  # malformed: re-sync past this magic
            continue
        block_start = hdr_end + 4
        if block_start + clen > n:
            return  # truncated record at EOF
        end = block_start + clen
        if raw[end : end + 4] == _CRLF2:
            end += 4  # warc-1.1 §4: two CRLFs close the record
        yield {
            "headers": headers,
            "block": raw[block_start : block_start + clen],
            "span": (start, end),
        }
        pos = block_start + clen


def _dechunk(body: bytes) -> bytes | None:
    """Undo HTTP/1.1 chunked transfer framing (RFC 9112 §7.1): hex size
    line (chunk extensions after ';' ignored), chunk octets, CRLF,
    terminated by a zero chunk. None when the framing doesn't parse —
    caller keeps the raw bytes (crawl dirt must degrade, not raise)."""
    out = []
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            return None
        size_field = body[pos:nl].split(b";")[0].strip()
        try:
            size = int(size_field, 16)
        except ValueError:
            return None
        if size == 0:
            return b"".join(out)  # trailers (if any) are not page bytes
        start = nl + 2
        if start + size > len(body):
            return None
        out.append(body[start : start + size])
        pos = start + size + 2  # skip the chunk's trailing CRLF


def _open_span_source(fn: str):
    """Binary reader for a CDX span filename. Local paths and
    file:/file:// URIs use the builtin opener; any other scheme routes
    through fsspec (its seek+read on object stores issues range GETs —
    exactly the access pattern read_warc_ranges wants). No fsspec in
    the runtime -> a NAMED error instead of FileNotFoundError on an
    's3://...' path."""
    if "://" not in fn and not fn.startswith("file:"):
        return open(fn, "rb")
    scheme = fn.split(":", 1)[0].lower()
    if scheme == "file":
        local = fn[5:]
        if local.startswith("//"):  # file://host/path -> strip authority
            local = local[local.index("/", 2):] if "/" in local[2:] else local[2:]
        return open(local, "rb")
    try:
        import fsspec  # type: ignore
    except ImportError:
        raise NotImplementedError(
            f"read_warc_ranges: filename scheme '{scheme}:' needs fsspec "
            "on the workers (not in this runtime); pass local/file: paths "
            "or install fsspec + the filesystem driver"
        )
    return fsspec.open(fn, "rb").open()


def _brotli_decompress(body: bytes) -> bytes | None:
    """Inflate a brotli payload when a codec is importable (brotli /
    brotlicffi are NOT baked into this runtime — the import-try is the
    degradation gate, not an expected path)."""
    try:
        import brotli  # type: ignore
    except ImportError:
        try:
            import brotlicffi as brotli  # type: ignore
        except ImportError:
            return None
    try:
        return brotli.decompress(body)
    except Exception:
        raise zlib.error("brotli payload corrupt")


def _zstd_decompress(body: bytes) -> bytes | None:
    """Inflate a zstd payload when a codec is importable (zstandard /
    stdlib compression.zstd, Python >= 3.14 — neither is in this
    runtime; same degradation gate as brotli)."""
    try:
        from compression import zstd  # type: ignore

        return zstd.decompress(body)
    except ImportError:
        pass
    except Exception:
        raise zlib.error("zstd payload corrupt")
    try:
        import zstandard  # type: ignore
    except ImportError:
        return None
    try:
        return zstandard.ZstdDecompressor().decompress(
            body, max_output_size=1 << 30
        )
    except Exception:
        raise zlib.error("zstd payload corrupt")


def _split_http_response(block: bytes):
    """(status:int|None, content_type:str, body:bytes, error:str|None)
    from an HTTP response block; chunked transfer framing undone first
    (WARC stores the raw HTTP message, so Common-Crawl bodies keep
    their framing), then Content-Encoding payloads inflated. Anything
    that cannot be decoded keeps its raw bytes and gets a NAMED marker
    in `error` (';'-joined when several apply): crawl dirt must degrade
    visibly, not raise mid-100TB-job or decay into invalid_html."""
    hdr_end = block.find(_CRLF2)
    if hdr_end < 0 or not block.startswith(b"HTTP/"):
        return None, "", block, None
    head = block[:hdr_end].decode("latin-1", "replace")
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        status = None
    ctype, cenc, chunked = "", "", False
    for ln in lines[1:]:
        k, sep, v = ln.partition(":")
        if not sep:
            continue
        lk = k.strip().lower()
        if lk == "content-type":
            ctype = v.strip()
        elif lk == "content-encoding":
            cenc = v.strip().lower()
        elif lk == "transfer-encoding" and "chunked" in v.lower():
            chunked = True
    body = block[hdr_end + 4 :]
    errors: list[str] = []
    if chunked:
        dechunked = _dechunk(body)
        if dechunked is not None:
            body = dechunked
        else:
            errors.append("chunked_framing_invalid")
    if cenc in ("gzip", "x-gzip"):
        try:
            body = zlib.decompress(body, 31)
        except zlib.error:
            errors.append("content_encoding_corrupt:gzip")
    elif cenc == "deflate":
        try:
            body = zlib.decompress(body)
        except zlib.error:
            try:
                body = zlib.decompress(body, -15)  # raw-deflate servers
            except zlib.error:
                errors.append("content_encoding_corrupt:deflate")
    elif cenc in ("br", "zstd"):
        decode = _brotli_decompress if cenc == "br" else _zstd_decompress
        try:
            out = decode(body)
        except zlib.error:
            out, errors = body, errors + [f"content_encoding_corrupt:{cenc}"]
        if out is None:
            errors.append(f"content_encoding_unavailable:{cenc}")
        else:
            body = out
    elif cenc not in ("", "identity"):
        errors.append(f"content_encoding_unavailable:{cenc}")
    return status, ctype, body, ";".join(errors) or None


def iter_warc_pages(
    path: str, content: bytes, record_types: tuple = ("response",)
) -> Iterator[tuple]:
    """All wanted-record rows (url, ts, body, type, status, ctype, file,
    error) from one archive's bytes — the per-file worker, pure Python.
    record_types selects WARC-Type values: ('response',) for page
    archives (HTTP envelope stripped); ('conversion',) for WET
    extracted-text archives (block used verbatim — warc-1.1 §6.8 stores
    the derived text directly, no HTTP envelope, status stays NULL).
    A `.warc.zst` archive with no zstd codec in the runtime (the case
    here) yields ONE degradation row (html NULL,
    warc_error='archive_codec_unavailable:zstd') instead of raising —
    the 100 TB job keeps going and the loss is named, not silent."""
    if path.endswith(".zst"):
        try:
            inflated = _zstd_decompress(content)
            marker = "archive_codec_unavailable:zstd"
        except zlib.error:
            inflated, marker = None, "archive_corrupt:zstd"
        if inflated is None:
            yield ("", None, None, "archive", None, "", path, marker)
            return
        streams: Iterator[bytes] = iter((inflated,))
    elif path.endswith(".gz"):
        streams = _gzip_members(content)
    else:
        streams = iter((content,))
    for raw in streams:
        for rec in _iter_records(raw):
            row = _page_row(path, rec, record_types)
            if row is not None:
                yield row


def _record_url(headers: dict) -> str:
    """WARC-Target-URI, unwrapping the warc-1.0 angle-bracket form."""
    url = headers.get("warc-target-uri", "")
    if url.startswith("<") and url.endswith(">"):
        return url[1:-1]
    return url


def _block_digest_error(headers: dict, block: bytes) -> str | None:
    """Verify a writer-supplied WARC-Block-Digest (warc-1.1 §5.8) over
    the stored block — the read-time integrity check a crawl QA pass
    wants: silent bit-rot between crawl and processing becomes a NAMED
    degradation instead of quietly-wrong page bytes. Only sha1 (the
    convention) is checked; other algorithms pass through unverified
    (verifying nothing is better than failing everything). Base32 is
    the convention's encoding; hex is tolerated (some writers emit
    it)."""
    given = headers.get("warc-block-digest", "")
    algo, _, value = given.partition(":")
    if algo.strip().lower() != "sha1" or not value:
        return None
    digest = hashlib.sha1(block).digest()
    v = value.strip()
    want32 = base64.b32encode(digest).decode("ascii")
    if v.upper().rstrip("=") in (want32.rstrip("="), digest.hex().upper()):
        return None
    return "block_digest_mismatch"


def _page_row(path: str, rec: dict, record_types: tuple):
    """One WARC record -> a WARC_PAGES_SCHEMA tuple (None when the
    record's type is not wanted) — shared by the full-archive scan
    (iter_warc_pages) and the CDX range reader (read_warc_ranges) so
    both paths produce byte-identical rows by construction."""
    h = rec["headers"]
    wtype = h.get("warc-type", "")
    if wtype not in record_types:
        return None
    if wtype == "response":
        status, ctype, body, err = _split_http_response(rec["block"])
    else:
        status, ctype, body, err = (
            None, h.get("content-type", ""), rec["block"], None,
        )
    bderr = _block_digest_error(h, rec["block"])
    if bderr:
        err = f"{err};{bderr}" if err else bderr
    return (
        _record_url(h),
        _parse_warc_date(h.get("warc-date", "")),
        body,
        wtype,
        status,
        ctype or h.get("content-type", ""),
        path,
        err,
    )


def _pages_gen():
    """mapInPandas worker over (path, content) archive rows."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                rows = list(iter_warc_pages(path_, bytes(content)))
                if rows:
                    yield pd.DataFrame(
                        rows,
                        columns=[
                            "url", "warc_ts", "html", "warc_type",
                            "http_status", "content_type", "warc_file",
                            "warc_error",
                        ],
                    )

    return gen


def read_warc(spark: SparkSession, path) -> DataFrame:
    """Read .warc/.warc.gz archives under `path` (file, dir, glob, or a
    LIST of paths — e.g. the cdx_archive_pruning selection) into a pages
    DataFrame (WARC_PAGES_SCHEMA) of the HTTP *response* records — ready
    for run_extraction / latest_capture / url_filter.
    One archive = one binaryFile row = one Python task."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(_pages_gen(), WARC_PAGES_SCHEMA)


_CDXJ_JSON_SCHEMA = (
    "url string, mime string, status string, digest string, "
    "length string, offset string, filename string"
)


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """Read a Common-Crawl-style CDXJ capture index (the `cc-index`
    text files: one line per capture, `SURT-key timestamp14 {json}`)
    into (surt string, warc_ts timestamp, url string, mime string,
    status int, digest string, length long, offset long, filename
    string): everything a pruning join needs to decide which archives
    (and which byte ranges, on a range-capable reader) contain wanted
    records. 100 TB plan: real Common-Crawl jobs prune by
    url/host/status BEFORE touching archive bytes — a snapshot's index
    is ~200 GB of text vs ~100 TB of WARC, so a keep-list join against
    this table followed by cdx_archive_pruning cuts the archive scan to
    the files (at byte granularity: the (filename, offset, length)
    triples) that actually contain wanted records.

    Entirely JVM-side: text scan -> one split -> from_json -> casts
    (zero Python; .gz index files are non-splittable per file, matching
    the published ~300-file sharding; plain text splits freely).
    Malformed lines (bad json, missing url/filename) are dropped —
    an INDEX row carries no content, so degradation means falling back
    to reading the archive itself."""
    from pyspark.sql import functions as F

    lines = spark.read.text(path)
    parts = F.split(F.col("value"), " ", 3)
    # try_element_at: a malformed line may split into fewer than 3 parts
    # (element_at would throw mid-scan); NULL json then drops the row
    js = F.from_json(F.try_element_at(parts, F.lit(3)), _CDXJ_JSON_SCHEMA)
    return (
        lines.select(
            F.try_element_at(parts, F.lit(1)).alias("surt"),
            F.try_to_timestamp(
                F.try_element_at(parts, F.lit(2)), F.lit("yyyyMMddHHmmss")
            ).alias("warc_ts"),
            js.alias("j"),
        )
        .where(F.col("j").isNotNull() & F.col("j.url").isNotNull()
               & F.col("j.filename").isNotNull())
        .select(
            "surt",
            "warc_ts",
            F.col("j.url").alias("url"),
            F.col("j.mime").alias("mime"),
            F.col("j.status").cast("int").alias("status"),
            F.col("j.digest").alias("digest"),
            F.col("j.length").cast("long").alias("length"),
            F.col("j.offset").cast("long").alias("offset"),
            F.col("j.filename").alias("filename"),
        )
    )


def cdx_archive_pruning(cdx: DataFrame, keep_urls: DataFrame) -> DataFrame:
    """Join a url keep-list against a CDX index and return the archive
    files worth reading: (filename, n_records, bytes_selected). The
    downstream read then loads ONLY those archives (read_warc over the
    explicit file list) and record-filters by url — file-level pruning
    today, and the byte ranges for a range-read fetcher are one groupBy
    away from the same join. keep_urls needs a `url` column; the join
    key is uniform (url), no broadcast hint — at scale both sides are
    large and AQE picks the build side."""
    from pyspark.sql import functions as F

    return (
        cdx.join(keep_urls.select("url").distinct(), "url")
        .groupBy("filename")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.sum("length").cast("long").alias("bytes_selected"),
        )
    )


def cdx_record_pruning(cdx: DataFrame, keep_urls: DataFrame) -> DataFrame:
    """Byte-granularity sibling of cdx_archive_pruning: the distinct
    (filename, offset, length) spans whose records match the url
    keep-list — exactly what read_warc_ranges consumes. At record
    granularity a 100 TB crawl read collapses to the keep-list's own
    byte volume (Common-Crawl members average ~15 KB compressed)."""
    from pyspark.sql import functions as F

    return (
        cdx.join(keep_urls.select("url").distinct(), "url")
        .select("filename", "offset", "length")
        .where(F.col("offset").isNotNull() & F.col("length").isNotNull())
        .distinct()
    )


def _http_status_mime(block: bytes):
    """(status:int|None, cleaned_mime:str, payload:bytes) from an HTTP
    response block WITHOUT body decoding — the index builder must not
    pay the inflation cost of a full read (CC's own indexer doesn't).
    The payload is the message body AS STORED (warc-1.1 §2.3's payload
    for digesting); mime is the media type alone, parameters dropped
    (the cc-index convention)."""
    hdr_end = block.find(_CRLF2)
    if hdr_end < 0 or not block.startswith(b"HTTP/"):
        return None, "", block
    head = block[:hdr_end].decode("latin-1", "replace")
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        status = None
    mime = ""
    for ln in lines[1:]:
        k, sep, v = ln.partition(":")
        if sep and k.strip().lower() == "content-type":
            mime = v.split(";")[0].strip().lower()
    return status, mime, block[hdr_end + 4 :]


def _payload_digest(headers: dict, payload: bytes) -> str:
    """Base32 sha1 of the stored payload (the cc-index digest value).
    A writer-supplied WARC-Payload-Digest header wins — recomputing
    cannot beat the value captured at crawl time (warc-1.1 §5.9), and
    trusting it keeps indexing O(header) for pre-digested archives."""
    given = headers.get("warc-payload-digest", "")
    if given:
        return given.partition(":")[2] or given
    return base64.b32encode(hashlib.sha1(payload).digest()).decode("ascii")


def iter_warc_index(
    path: str, content: bytes, record_types: tuple = ("response",)
) -> Iterator[tuple]:
    """CDX rows (url, warc_ts, mime, status, digest, length, offset,
    filename) for one archive's bytes — the indexing worker. Offsets and
    lengths are the gzip MEMBER spans for .warc.gz (each independently
    inflatable, so a range read recovers the record) and the record
    spans for a plain .warc. A corrupt member is skipped exactly as the
    page reader skips it (same splitter), so index and read agree on
    which records exist. `.warc.zst` archives are not indexable without
    the codec (frame offsets would be needed) — no rows, same
    degradation the reader names."""
    if path.endswith(".zst"):
        return
    if path.endswith(".gz"):
        spans: Iterator[tuple] = _gzip_member_spans(content)
    else:
        spans = iter(((None, None, content),))
    for m_off, m_len, raw in spans:
        for rec in _iter_records(raw):
            h = rec["headers"]
            if h.get("warc-type", "") not in record_types:
                continue
            block = rec["block"]
            if h.get("warc-type") == "response":
                status, mime, payload = _http_status_mime(block)
            else:
                status, mime, payload = None, h.get("content-type", ""), block
            if m_off is None:  # plain .warc: the record span IS the range
                off, ln = rec["span"][0], rec["span"][1] - rec["span"][0]
            else:
                off, ln = m_off, m_len
            yield (
                _record_url(h),
                _parse_warc_date(h.get("warc-date", "")),
                mime,
                status,
                _payload_digest(h, payload),
                ln,
                off,
                path,
            )


#: iter_warc_index's output: read_cdx's columns minus surt (derived JVM-side).
_CDX_BUILD_SCHEMA = (
    "url string, warc_ts timestamp, mime string, status int, "
    "digest string, length long, offset long, filename string"
)


def cdx_from_warc(
    spark: SparkSession, path, record_types: tuple = ("response",)
) -> DataFrame:
    """Build a CDX capture index (read_cdx's columns) from .warc/.warc.gz
    archives — the complement of read_cdx, for crawls that don't ship
    one: index once (one cheap header-only pass, no payload inflation),
    then every downstream job prunes by url/host/status before touching
    archive bytes. Same binaryFile one-archive-one-task layout as
    read_warc; the SURT sort key is derived scan-side from the shared
    URL grammar (analytics.surt_col) so index joins and host-keyed
    operators agree on authority parsing by construction."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                rows = list(iter_warc_index(path_, bytes(content), record_types))
                if rows:
                    yield pd.DataFrame(
                        rows,
                        columns=[
                            "url", "warc_ts", "mime", "status",
                            "digest", "length", "offset", "filename",
                        ],
                    )

    from htmlx.spark.analytics import surt_col

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    idx = files.mapInPandas(gen, _CDX_BUILD_SCHEMA)
    return idx.select(
        surt_col("url").alias("surt"),
        "warc_ts", "url", "mime", "status", "digest",
        "length", "offset", "filename",
    )


def write_cdxj(cdx: DataFrame, path: str) -> None:
    """Serialize a CDX frame to CDXJ text (`SURT ts14 {json}` — the
    cc-index line format read_cdx parses), entirely JVM-side. Numeric
    json fields are written as strings per the cc-index convention;
    a NULL surt/timestamp falls back to '-' / a zero ts14 so the
    3-field line shape never collapses (concat_ws skips NULLs).
    Gzipped like the published cc-index shards (a ~200 GB index should
    not be stored raw; .gz text is non-splittable PER FILE, matching the
    ~300-shard layout read_cdx documents). Overwrites `path`."""
    from pyspark.sql import functions as F

    line = F.concat_ws(
        " ",
        F.coalesce(F.col("surt"), F.lit("-")),
        F.coalesce(
            F.date_format("warc_ts", "yyyyMMddHHmmss"), F.lit("00000000000000")
        ),
        F.to_json(
            F.struct(
                F.col("url"),
                F.col("mime"),
                F.col("status").cast("string").alias("status"),
                F.col("digest"),
                F.col("length").cast("string").alias("length"),
                F.col("offset").cast("string").alias("offset"),
                F.col("filename"),
            )
        ),
    )
    cdx.select(line.alias("value")).write.mode("overwrite").option(
        "compression", "gzip"
    ).text(path)


def read_warc_ranges(spark: SparkSession, ranges: DataFrame) -> DataFrame:
    """Read ONLY the (filename, offset, length) spans of a
    cdx_record_pruning selection into a pages DataFrame
    (WARC_PAGES_SCHEMA) — the record-granularity endgame of CDX pruning:
    at 100 TB the bytes read collapse from the crawl's size to the
    keep-list's size. Spans are repartitioned by filename and read in
    offset order, so each task seek-reads one file sequentially (on an
    object store this per-span read is a range GET — the same access
    pattern the public cc-pyspark/warcio fetchers use). A span of a
    .warc.gz file must cover whole gzip members (cdx_from_warc /
    Common-Crawl indexes guarantee that); rows come out of the same
    record-to-row builder as the full scan, so both paths agree
    byte-for-byte.

    Filename schemes: local paths and file:/file:// URIs open with the
    builtin opener; any other scheme (s3://, hdfs://, gs://, https://)
    routes through fsspec when it is importable on the workers — the
    same per-span seek+read becomes a range GET. With no fsspec in the
    runtime a remote filename raises a NAMED error up front instead of
    a misleading FileNotFoundError (the r8-advice failure mode where
    jobs/extract.py --cdx-ranges passed hdfs:/s3: filenames through)."""

    def gen(batches):
        import pandas as pd

        fh, cur = None, None
        for pdf in batches:
            rows = []
            for fn, off, ln in zip(pdf["filename"], pdf["offset"], pdf["length"]):
                if fn != cur:
                    if fh is not None:
                        fh.close()
                    fh, cur = _open_span_source(fn), fn
                fh.seek(int(off))
                chunk = fh.read(int(ln))
                if cur.endswith(".gz"):
                    raws: Iterator[bytes] = _gzip_members(chunk)
                else:
                    raws = iter((chunk,))
                for raw in raws:
                    for rec in _iter_records(raw):
                        row = _page_row(fn, rec, ("response",))
                        if row is not None:
                            rows.append(row)
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "url", "warc_ts", "html", "warc_type",
                        "http_status", "content_type", "warc_file",
                        "warc_error",
                    ],
                )
        if fh is not None:
            fh.close()

    spans = ranges.repartition("filename").sortWithinPartitions(
        "filename", "offset"
    )
    return spans.mapInPandas(gen, WARC_PAGES_SCHEMA)


WET_SCHEMA = (
    "url string, warc_ts timestamp, text string, content_type string, "
    "wet_file string"
)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Read WET extracted-text archives (.warc.wet/.warc.wet.gz —
    Common Crawl's own boilerplate-stripped text, stored as
    'conversion' records) into (url, warc_ts, text, content_type,
    wet_file). The natural A/B input for comparing this engine's
    extraction against the crawl's published text (e.g. join on url,
    diff token counts). UTF-8 per the WET convention, decoded in the
    same Python pass that splits records with errors='replace' —
    Spark's own `decode` raises MALFORMED_CHARACTER_CODING on crawl
    dirt, which is unacceptable mid-100TB-job."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                rows = [
                    (url, ts, body.decode("utf-8", "replace"), ctype, path_)
                    for (url, ts, body, _t, _s, ctype, _f, _e) in iter_warc_pages(
                        path_, bytes(content), record_types=("conversion",)
                    )
                ]
                if rows:
                    yield pd.DataFrame(
                        rows,
                        columns=["url", "warc_ts", "text", "content_type", "wet_file"],
                    )

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(gen, WET_SCHEMA)


def _wet_record(url: str, ts, text: str) -> bytes:
    """One warc-1.1 §6.8 'conversion' record holding extracted text —
    the record shape read_wet ingests. Deterministic: the record id is
    uuid5 of (url, ts) so identical inputs publish identical bytes
    (reproducibility is a publishing contract, not an accident)."""
    import uuid

    body = text.encode("utf-8")
    ts_s = (ts.strftime("%Y-%m-%dT%H:%M:%SZ")
            if ts is not None else "1970-01-01T00:00:00Z")
    rid = uuid.uuid5(uuid.NAMESPACE_URL, f"{url}|{ts_s}")
    hdr = (
        "WARC/1.1\r\n"
        "WARC-Type: conversion\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts_s}\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        "Content-Type: text/plain\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("ascii", "replace")
    return hdr + body + b"\r\n\r\n"


def write_wet(
    results: DataFrame,
    out_dir: str,
    n_files: int = 16,
    ts_col: str | None = None,
) -> DataFrame:
    """Publish extracted text as WET archives (.warc.wet.gz, one gzip
    MEMBER per record — the Common-Crawl convention read_wet and every
    other WET consumer splits on) — the publishing end of the archive
    lifecycle this module ingests. Each task writes ONE archive
    atomically (tmp + os.replace inside out_dir, the io.py commit seam:
    a crashed task leaves only a '_tmp_*' file that file sources never
    see) named wet-{partition:05d}.warc.wet.gz.

    Deterministic by construction: rows hash-partition on url
    (repartition(n, url)) and sort by url within the file, gzip members
    are written with mtime=0, and record ids are uuid5 of (url, date) —
    re-publishing the same extraction yields byte-identical archives.

    Returns the (wet_file, n_records, n_bytes) manifest frame; callers
    act on it (it is the job's output). 100 TB plan: n_files sized to
    ~1 GB archives like the crawls themselves ship; one task = one file
    = one sequential gzip write, no shuffle after the repartition."""
    import gzip as _gzip

    from pyspark.sql import functions as F

    url_col, text_col = "url", "text"
    cols = [url_col, text_col] + ([ts_col] if ts_col else [])
    # Null url/text rows are dropped JVM-side BEFORE partitioning: a
    # null url has no fetch identity to publish under and a null text
    # would TypeError mid-write; dropping before repartition keeps the
    # per-file record sets (and so the bytes) deterministic.
    rows = (
        results.select(*cols)
        .where(F.col(url_col).isNotNull() & F.col(text_col).isNotNull())
        .repartition(n_files, url_col)
    )

    def gen(batches):
        import os
        import uuid as _uuid

        import pandas as pd
        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        recs = []
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                url = getattr(r, url_col)
                ts = getattr(r, ts_col) if ts_col else None
                if ts is not None and pd.isna(ts):
                    ts = None  # a NULL timestamp arrives as pandas NaT
                ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                recs.append((url, _wet_record(url, ts, getattr(r, text_col))))
        if recs:
            # sort on (url, record bytes): duplicate urls (two captures
            # published together) would otherwise order by arrival and
            # break the byte-determinism contract
            recs.sort(key=lambda t: (t[0], t[1]))
            data = b"".join(
                _gzip.compress(rec, mtime=0) for _, rec in recs
            )
            final = os.path.join(out_dir, f"wet-{part:05d}.warc.wet.gz")
            tmp = os.path.join(out_dir, f"_tmp_{_uuid.uuid4().hex}")
            os.makedirs(out_dir, exist_ok=True)
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, final)
            yield pd.DataFrame(
                [(final, len(recs), len(data))],
                columns=["wet_file", "n_records", "n_bytes"],
            )

    return rows.mapInPandas(
        gen, "wet_file string, n_records long, n_bytes long"
    )


def cdx_snapshot_delta(cdx_old: DataFrame, cdx_new: DataFrame) -> DataFrame:
    """Classify a recrawl against the prior crawl WITHOUT reading any
    archive bytes: latest capture per url on each side (max_by warc_ts,
    digest tie-break for determinism), then a full-outer digest compare
    -> status in added / changed / unchanged / removed. This is
    snapshot_diff's semantics lifted to INDEX granularity — two ~200 GB
    cc-index tables instead of two ~100 TB page crawls — so the
    incremental keep-list (added+changed urls) exists before any WARC
    byte is touched; feed it to cdx_record_pruning on the NEW index and
    the job reads only the delta's spans. Caveat (inherent to payload
    digests, Common Crawl's included): the digest hashes the STORED
    payload, so a server toggling Content-Encoding between crawls reads
    as 'changed' even when the decoded body is identical — a false
    re-extract, never a missed change. Returns (url, status, digest_old,
    digest_new, filename, offset, length) with the NEW capture's span
    for added/changed rows. One uniform-key (url) shuffle per side."""
    from pyspark.sql import functions as F

    def latest(cdx, tag):
        c = F.max_by(
            F.struct("digest", "filename", "offset", "length"),
            F.struct("warc_ts", "digest"),
        ).alias("c")
        return cdx.groupBy("url").agg(c).select(
            "url", F.col("c.digest").alias(f"digest_{tag}"),
            *(
                [F.col(f"c.{x}").alias(x) for x in ("filename", "offset", "length")]
                if tag == "new" else []
            ),
        )

    o, n = latest(cdx_old, "old"), latest(cdx_new, "new")
    status = (
        F.when(F.col("digest_old").isNull(), F.lit("added"))
        .when(F.col("digest_new").isNull(), F.lit("removed"))
        .when(F.col("digest_old") != F.col("digest_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, "url", "full_outer").select(
        "url", status.alias("status"), "digest_old", "digest_new",
        "filename", "offset", "length",
    )
