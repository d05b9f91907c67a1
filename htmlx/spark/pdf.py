"""PDF/layout-parse surface (north_rule: "HTML boilerplate strip, PDF/layout
parse, DOM heuristics").

Three tiers, by what the container can decode:

- TEXT EXTRACTION (real): content streams stored uncompressed,
  FlateDecode-compressed (stdlib zlib), or LZWDecode-compressed (pure-
  Python MSB-first LZW with EarlyChange, ``lzw_decode_pdf``) — the common
  cases for machine-generated PDFs. ``extract_pdf_text`` walks the object
  table, decodes each content stream, and evaluates the text-show
  operators (Tj / TJ / ' / ") with full PDF string-escape handling.
  Image XObject streams are skipped by the text walk (no text operators);
  non-image streams using a filter that genuinely needs an external codec
  raise ``UnsupportedFilterError`` and the row degrades to
  error='decoder_unavailable'.
- IMAGE XOBJECT DECODE (real): ``extract_pdf_images`` decodes embedded
  /Subtype /Image streams — DCTDecode via the in-repo baseline+progressive
  JPEG decoder (jpeg.decode_jpeg), CCITTFaxDecode G3/G4 via the in-repo
  T.4/T.6 decoder (ccitt.decode_ccitt), raw/Flate/LZW sample streams by
  geometry. Only JPX (JPEG2000) and JBIG2 remain per-image
  'decoder_unavailable' degradations.
- STRUCTURAL PARSE (real, codec-free): header/version sniffing, page
  counting, object/stream census, embedded-metadata extraction via raw
  byte scanning. ``extract_pdf_profile`` fuses structural + first-image
  features in one mapInPandas pass.

ENCRYPTED PDFs (r6): documents using the standard security handler with
an empty user password — the common "owner-password-only" web-PDF class
— decrypt for real (RC4 and AES via htmlx.spark.pdfcrypt, pure-stdlib)
across all three tiers; real-password or non-standard-handler documents
degrade whole-row to error='encrypted'.

The mapInPandas stage shape (schema, batching, error rows, lineage) is
identical to the HTML extraction stage.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator

from .pdfcrypt import (
    EncryptedPdfError,
    get_encryption,
    _parse_string as _crypt_parse_string,
)

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PDF_META_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("pdf_version", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("n_objects", IntegerType()),
        StructField("n_streams", IntegerType()),
        StructField("byte_len", LongType()),
        StructField("title", StringType()),
        StructField("producer", StringType()),
        StructField("error", StringType()),
    ]
)

_VERSION_RE = re.compile(rb"^%PDF-(\d\.\d)")
_PAGE_RE = re.compile(rb"/Type\s*/Page(?![a-zA-Z])")
_OBJ_RE = re.compile(rb"\d+\s+\d+\s+obj\b")
_STREAM_RE = re.compile(rb"\bstream\b")
_INFO_RE = {
    "title": re.compile(rb"/Title\s*\(([^)]{0,512})\)"),
    "producer": re.compile(rb"/Producer\s*\(([^)]{0,512})\)"),
}

MAX_PDF_SCAN = 10 * 1024 * 1024  # structural scan cap (DoS bound)


_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm\b")
_OBJSTM_N_RE = re.compile(rb"/N\s+(\d+)")

_OBJ_HEADER_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_INFO_KEY_RE = {
    "title": re.compile(rb"/Title\s*(?=[(<])"),
    "producer": re.compile(rb"/Producer\s*(?=[(<])"),
}


def _decrypted_info_value(scan: bytes, key: str, crypto) -> str:
    """Info-dict string under encryption: parse the string object at the
    marker (ciphertext may contain ')' — the plain regex capture would
    truncate), find the enclosing 'N G obj' header, decrypt under that
    object's key. Strings inside decoded ObjStms never reach here — they
    are covered by the ObjStm's own stream encryption (§7.6.2 note 2)."""
    m = _INFO_KEY_RE[key].search(scan)
    if not m:
        return ""
    raw = _crypt_parse_string(scan, m.end())
    if not raw:
        return ""
    if not crypto.str_encrypted:
        return raw.decode("latin-1", errors="replace")
    num = gen = 0
    for hm in _OBJ_HEADER_RE.finditer(scan, 0, m.start()):
        num, gen = int(hm.group(1)), int(hm.group(2))
    if not num:
        return ""
    try:
        return crypto.decrypt(raw, num, gen).decode("latin-1", errors="replace")[:512]
    except ValueError:
        return ""


def parse_pdf_structure(payload: bytes) -> dict:
    """Codec-free structural parse of a PDF byte stream.

    Modern PDFs (1.5+) pack page/Info dictionaries into COMPRESSED
    object streams (/Type /ObjStm), invisible to a raw byte scan; each
    ObjStm is decoded with the shared filter machinery and its contents
    scanned too (the spec forbids stream objects inside an ObjStm, so
    content/image streams are always top-level and never need this).
    Packed objects carry no 'N G obj' headers — their count comes from
    the ObjStm's /N entry, which (like /Length) is trusted as a declared
    census even when the stream body is undecodable: a corrupt or
    exotically-filtered ObjStm still contributes /N to n_objects while
    its pages/title degrade to the raw-scan view (pinned by
    test_objstm_exotic_filter_skipped). Decode failures are never fatal,
    and total decoded bytes stay under the same scan cap as the raw pass
    (bomb guard)."""
    out = {
        "pdf_version": "",
        "n_pages": 0,
        "n_objects": 0,
        "n_streams": 0,
        "byte_len": len(payload),
        "title": "",
        "producer": "",
        "error": "",
    }
    if not payload.startswith(b"%PDF-"):
        out["error"] = "not_a_pdf"
        return out
    m = _VERSION_RE.match(payload)
    if m:
        out["pdf_version"] = m.group(1).decode("ascii", errors="replace")
    scan = payload[:MAX_PDF_SCAN]
    out["n_pages"] = len(_PAGE_RE.findall(scan))
    out["n_objects"] = len(_OBJ_RE.findall(scan))
    out["n_streams"] = len(_STREAM_RE.findall(scan))
    crypto = get_encryption(scan)
    if crypto is not None and not crypto.ok:
        # real-password or unsupported handler: the dict-key census above
        # is still plaintext (only strings and streams are encrypted), but
        # Info strings would be ciphertext — degrade them, flag the row
        out["error"] = "encrypted"
        return out
    if crypto is None:
        for key, rx in _INFO_RE.items():
            m = rx.search(scan)
            if m:
                out[key] = m.group(1).decode("latin-1", errors="replace")
    else:
        # empty-user-password document: Info strings are ciphertext that
        # the plain regex would misparse (a ciphertext byte 0x29 reads as
        # ')'), so locate each marker, parse the string object properly,
        # and decrypt it under its enclosing object's key
        for key in _INFO_RE:
            out[key] = _decrypted_info_value(scan, key, crypto)
    budget = MAX_PDF_SCAN
    for onum, ogen, obj_dict, raw in _iter_streams(scan):
        if not _OBJSTM_RE.search(obj_dict):
            continue
        # packed objects carry no 'N G obj' headers, so /N is additive
        # whether or not the stream is compressed
        nm = _OBJSTM_N_RE.search(obj_dict)
        if nm:
            out["n_objects"] += int(nm.group(1))
        if not _FILTER_RE.search(obj_dict) and crypto is None:
            continue  # unfiltered ObjStm content was visible to the raw scan
        try:
            decoded = _decode_stream(obj_dict, raw, crypto, onum, ogen)[:budget]
        except (UnsupportedFilterError, zlib.error, ValueError):
            continue  # exotic filter / corrupt ObjStm: degrade to raw-scan view
        budget -= len(decoded)
        out["n_pages"] += len(_PAGE_RE.findall(decoded))
        for key, rx in _INFO_RE.items():
            if not out[key]:
                dm = rx.search(decoded)
                if dm:
                    out[key] = dm.group(1).decode("latin-1", errors="replace")
        if budget <= 0:
            break
    return out


def encode_object_stream(objects, compress: bool = True) -> bytes:
    """Build a spec-layout /Type /ObjStm stream OBJECT BODY (dict +
    stream..endstream) from [(obj_num, obj_bytes)] pairs — the synthesis
    twin for parse_pdf_structure's ObjStm path. Header is the N pairs of
    'objnum offset', /First points past it."""
    offsets = []
    content = b""
    for num, obj in objects:
        offsets.append((num, len(content)))
        content += obj + b"\n"
    header = b" ".join(b"%d %d" % (n, o) for n, o in offsets) + b"\n"
    body = header + content
    data = zlib.compress(body) if compress else body
    filt = b" /Filter /FlateDecode" if compress else b""
    return (
        b"<< /Type /ObjStm /N %d /First %d%s /Length %d >>\nstream\n"
        % (len(objects), len(header), filt, len(data))
        + data
        + b"\nendstream"
    )


class UnsupportedFilterError(Exception):
    """Stream filter needs a codec not present in this container."""


class InflateBudgetError(zlib.error):
    """Decompressed output exceeded the safety cap (decompression bomb).
    Subclasses zlib.error so every corrupt-stream degradation path already
    catches it."""


MAX_INFLATE = 64 * 1024 * 1024  # per-stream inflate cap (bomb guard)


def inflate_bounded(data: bytes, cap: int = MAX_INFLATE) -> bytes:
    """zlib inflate with a hard output budget: a kilobyte-sized bomb that
    expands to gigabytes must degrade to an error ROW, not OOM the
    executor's Python worker."""
    d = zlib.decompressobj()
    out = d.decompress(data, cap)
    if d.unconsumed_tail:
        raise InflateBudgetError(f"inflated output exceeds {cap} bytes")
    return out + d.flush()


class StreamCorruptError(zlib.error):
    """Malformed filter data (LZW/ASCIIHex/ASCII85/RunLength). Subclasses
    zlib.error so every caller degrades it to error='corrupt_stream'
    exactly like corrupt deflate."""


LZWDecodeError = StreamCorruptError  # historical name, kept for callers


def lzw_decode_pdf(data: bytes, cap: int = MAX_INFLATE, early_change: int = 1) -> bytes:
    """PDF LZWDecode (PDF 1.7 spec 7.4.4): MSB-first bit packing over 8-bit
    symbols, 256=clear and 257=EOD, code width 9..12, and EarlyChange
    (default 1) bumping the width one code sooner. Sibling of the
    GIF-flavor LSB-first decoder (multimodal._lzw_decode); the output is
    budget-capped like inflate_bounded (bomb guard)."""
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev = -1
    acc = 0
    nbits = 0
    started = False
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            acc &= (1 << nbits) - 1  # keep the accumulator bounded
            if code == 256:  # clear
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = -1
                started = True
                continue
            if code == 257:  # EOD
                return bytes(out)
            if not started:
                raise LZWDecodeError("lzw_data_before_clear")
            if prev == -1:
                if code >= 256:
                    raise LZWDecodeError("bad_lzw_code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(table[prev] + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = table[prev] + table[prev][:1]
                table.append(entry)
            else:
                raise LZWDecodeError("bad_lzw_code")
            out += entry
            if len(out) > cap:
                raise InflateBudgetError(f"lzw output exceeds {cap} bytes")
            # the decoder's table lags the encoder's by one entry (it can
            # only reconstruct an entry on the NEXT code), so it widens at
            # 2^w - 1 - early_change entries where the encoder widens at
            # 2^w - early_change: both read/write code k at the same width
            if len(table) + early_change >= (1 << width) - 1 and width < 12:
                width += 1
            prev = code
    return bytes(out)


def lzw_encode_pdf(data: bytes, early_change: int = 1) -> bytes:
    """Real dict-growth PDF LZW compressor (synthesis/tests twin of
    lzw_decode_pdf): grows the string table and widens codes with the same
    EarlyChange rule, so round-trips exercise the decoder's growth and
    width-bump paths, not just literals."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    acc = 0
    nbits = 0
    out = bytearray()

    def emit(code: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        acc &= (1 << nbits) - 1  # keep the accumulator bounded

    emit(256)
    w = b""
    for i in range(len(data)):
        c = data[i : i + 1]
        if w + c in table:
            w += c
            continue
        emit(table[w])
        if next_code < 4096:
            table[w + c] = next_code
            next_code += 1
            if next_code + early_change >= (1 << width) and width < 12:
                width += 1
        w = c
    if w:
        emit(table[w])
        # the decoder appends an entry while processing this final code
        # and may widen; mirror the bump so EOD is read at the width it
        # was written (no entry content is needed — encoding ends here)
        if next_code < 4096:
            next_code += 1
            if next_code + early_change >= (1 << width) and width < 12:
                width += 1
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def ascii_hex_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (PDF 7.4.2): hex pairs, whitespace ignored, '>' ends
    the stream, an odd trailing digit is padded with 0."""
    body = data.split(b">", 1)[0]
    hexdigits = bytes(c for c in body if c not in b" \t\r\n\f\x00")
    if len(hexdigits) % 2:
        hexdigits += b"0"
    try:
        return bytes.fromhex(hexdigits.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise LZWDecodeError(f"bad ascii-hex data: {e}") from None


def ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (PDF 7.4.3): Adobe Ascii85 with 'z' shorthand; the
    stream terminates at '~>' (the leading '<~' frame is not present in
    PDF streams)."""
    import base64

    body = data.split(b"~>", 1)[0]
    body = bytes(c for c in body if c not in b" \t\r\n\f\x00")
    try:
        return base64.a85decode(b"<~" + body + b"~>", adobe=True)
    except ValueError as e:
        raise LZWDecodeError(f"bad ascii85 data: {e}") from None


def run_length_decode(data: bytes, cap: int = MAX_INFLATE) -> bytes:
    """RunLengthDecode (PDF 7.4.5): length byte L copies the next L+1
    literal bytes (L <= 127) or repeats the next byte 257-L times
    (L >= 129); 128 is EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        L = data[i]
        if L == 128:
            break
        if L < 128:
            chunk = data[i + 1 : i + 2 + L]
            if len(chunk) != L + 1:
                raise LZWDecodeError("truncated run-length literal")
            out += chunk
            i += 2 + L
        else:
            if i + 1 >= n:
                raise LZWDecodeError("truncated run-length repeat")
            out += data[i + 1 : i + 2] * (257 - L)
            i += 2
        if len(out) > cap:
            raise InflateBudgetError(f"run-length output exceeds {cap} bytes")
    return bytes(out)


def run_length_encode(data: bytes) -> bytes:
    """Synthesis twin of run_length_decode (literal-runs + repeat-runs)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # find a repeat run of >= 3 (shorter repeats cheaper as literals)
        j = i
        while j + 1 < n and data[j + 1] == data[i] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i = j + 1
            continue
        # literal run until the next >=3 repeat (or 128 bytes)
        k = i
        while k < n and k - i < 128:
            if k + 2 < n and data[k] == data[k + 1] == data[k + 2]:
                break
            k += 1
        out += bytes([k - i - 1]) + data[i:k]
        i = k
    out.append(128)  # EOD
    return bytes(out)


# filters stdlib zlib can handle; everything else is genuinely external
_ZLIB_FILTERS = {b"FlateDecode", b"Fl"}
_LZW_FILTERS = {b"LZWDecode", b"LZW"}
_SIMPLE_FILTERS = {
    b"ASCIIHexDecode": ascii_hex_decode,
    b"AHx": ascii_hex_decode,
    b"ASCII85Decode": ascii85_decode,
    b"A85": ascii85_decode,
    b"RunLengthDecode": run_length_decode,
    b"RL": run_length_decode,
}
_FILTER_RE = re.compile(rb"/Filter\s*(?:\[\s*((?:/\w+\s*)+)\]|/(\w+))")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?![\d\s]*R)")
# the stream KEYWORD: never the tail of "endstream", never a word in text
_STREAM_KW_RE = re.compile(rb"(?<!end)stream\r?\n")

_STR_ESCAPES = {
    ord("n"): b"\n",
    ord("r"): b"\r",
    ord("t"): b"\t",
    ord("b"): b"\b",
    ord("f"): b"\f",
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
}


_OBJ_HDR_TAIL_RE = re.compile(rb"(\d+)\s+(\d+)\s+$")


def _obj_header_nums(payload: bytes, obj_kw_pos: int) -> tuple[int, int]:
    """Object and generation number of the 'N G obj' header whose 'obj'
    keyword sits at obj_kw_pos; (0, 0) when the position is actually an
    'endobj' or no numeric header precedes it. Needed by decryption: the
    per-object RC4/AES key is derived from (num, gen) (§7.6.2 Alg. 1)."""
    if payload[max(0, obj_kw_pos - 3) : obj_kw_pos] == b"end":
        return 0, 0
    m = _OBJ_HDR_TAIL_RE.search(payload, max(0, obj_kw_pos - 24), obj_kw_pos)
    if not m:
        return 0, 0
    return int(m.group(1)), int(m.group(2))


def _iter_streams(payload: bytes):
    """Yield (obj_num, gen_num, object_dict_bytes, raw_stream_bytes) for
    every stream object; (0, 0) object numbers when no 'N G obj' header
    was recoverable.

    The stream body is delimited by /Length when it is a direct integer
    (Flate output can legally contain the bytes ``endstream``); an indirect
    /Length falls back to the endstream keyword scan."""
    pos = 0
    n = len(payload)
    while pos < n:
        m = _STREAM_KW_RE.search(payload, pos)
        if not m:
            return
        start = m.end()
        # the dict region runs from the enclosing object boundary (the
        # "N G obj" header, or the previous object's endobj) to the stream
        # keyword — NOT from the innermost "<<", which would lose /Filter
        # and /Length declared before a nested dict like /DecodeParms <<...>>.
        # The backward search is floored at `pos` (just past the previous
        # stream's endstream): a binary Flate body can legally contain the
        # bytes "obj", and an unfloored rfind landing inside it would let
        # junk /Filter or /Length byte patterns mis-route _decode_stream.
        dict_start = payload.rfind(b"obj", pos, m.start())
        onum = ogen = 0
        if dict_start != -1:
            onum, ogen = _obj_header_nums(payload, dict_start)
        if dict_start == -1:
            dict_start = payload.rfind(b"<<", pos, m.start())
        obj_dict = payload[dict_start : m.start()] if dict_start != -1 else b""
        lm = _LENGTH_RE.search(obj_dict)
        end = -1
        if lm:
            end = start + int(lm.group(1))
            if not payload.startswith((b"endstream", b"\nendstream", b"\r\nendstream"), end):
                end = -1  # /Length lied; rescan
        if end == -1:
            end = payload.find(b"endstream", start)
            if end == -1:
                return
            # strip the EOL that precedes the endstream keyword
            if payload.endswith(b"\r\n", start, end):
                end -= 2
            elif payload.endswith((b"\n", b"\r"), start, end):
                end -= 1
        yield onum, ogen, obj_dict, payload[start:end]
        # resume past the closing keyword, never inside the stream body
        close = payload.find(b"endstream", end)
        pos = (close + len(b"endstream")) if close != -1 else end + 1


_EARLY_CHANGE_RE = re.compile(rb"/EarlyChange\s+(\d+)")


_XREF_TYPE_RE = re.compile(rb"/Type\s*/XRef\b")


def _decode_stream(obj_dict: bytes, raw: bytes, crypto=None, num: int = 0, gen: int = 0) -> bytes:
    if (
        crypto is not None
        and crypto.ok
        and crypto.stm_encrypted
        and num
        and not _XREF_TYPE_RE.search(obj_dict)  # xref streams are never encrypted (§7.5.8.2)
    ):
        raw = crypto.decrypt(raw, num, gen)
    fm = _FILTER_RE.search(obj_dict)
    if not fm:
        return raw
    names = fm.group(1).split() if fm.group(1) else [fm.group(2)]
    names = [x.lstrip(b"/") for x in names]
    data = raw
    for name in names:
        if name in _ZLIB_FILTERS:
            data = inflate_bounded(data)
        elif name in _LZW_FILTERS:
            em = _EARLY_CHANGE_RE.search(obj_dict)
            data = lzw_decode_pdf(
                data, early_change=int(em.group(1)) if em else 1
            )
        elif name in _SIMPLE_FILTERS:
            data = _SIMPLE_FILTERS[name](data)
        else:
            raise UnsupportedFilterError(name.decode("latin-1"))
    return data


_IMAGE_DICT_RE = re.compile(rb"/Subtype\s*/Image\b")
_WIDTH_RE = re.compile(rb"/Width\s+(\d+)")
_HEIGHT_RE = re.compile(rb"/Height\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")
_CS_RE = re.compile(rb"/ColorSpace\s*/(\w+)")
# image filters that genuinely need an external codec in this container
# (JPX = JPEG2000 wavelets, JBIG2 = arithmetic-coded bitonal); CCITT G3/G4
# is pure T.4/T.6 run-length Huffman and decodes in-repo (ccitt.py)
_EXTERNAL_IMAGE_FILTERS = {b"JPXDecode", b"JBIG2Decode"}
MAX_IMAGE_RASTER = 128 * 1024 * 1024  # decoded-raster cap (bomb guard)


def _decode_image_stream(obj_dict: bytes, raw: bytes):
    """Decode one image XObject stream to an (h, w, c) uint8 raster.

    DCTDecode routes to the in-repo baseline/progressive JPEG decoder
    (jpeg.decode_jpeg) — DCT is the most common image filter in real PDFs
    and needs no external codec here. Non-image filters ahead of it in the
    chain (ASCII85, Flate, ...) are applied first. Raw/Flate/LZW sample
    streams reshape by /Width /Height /BitsPerComponent /ColorSpace.
    Returns (raster, filter_label). Reference context: images are
    first-class media in the reference (extract.go:1044-1089, media.go)."""
    import numpy as np

    fm = _FILTER_RE.search(obj_dict)
    names = []
    if fm:
        names = fm.group(1).split() if fm.group(1) else [fm.group(2)]
        names = [x.lstrip(b"/") for x in names]
    data = raw
    for i, name in enumerate(names):
        if name in (b"DCTDecode", b"DCT"):
            if i != len(names) - 1:
                raise ValueError("dct_not_last_filter")
            from .jpeg import decode_jpeg

            px = decode_jpeg(data)
            if px.size > MAX_IMAGE_RASTER:
                raise ValueError("image_too_large")
            return px, "dct"
        if name == b"CCITTFaxDecode" or name == b"CCF":
            if i != len(names) - 1:
                raise ValueError("ccitt_not_last_filter")
            from .ccitt import decode_ccitt

            # CCITT geometry comes from /DecodeParms (falling back to the
            # image dict for /Width /Height); /Columns defaults to 1728
            cm = re.search(rb"/Columns\s+(\d+)", obj_dict)
            hm = _HEIGHT_RE.search(obj_dict)
            rm = re.search(rb"/Rows\s+(\d+)", obj_dict)
            wm = _WIDTH_RE.search(obj_dict)
            w = int(cm.group(1)) if cm else (int(wm.group(1)) if wm else 1728)
            h = int(rm.group(1)) if rm else (int(hm.group(1)) if hm else 0)
            if h <= 0 or w <= 0:
                raise ValueError("missing_image_dims")
            if w * h > MAX_IMAGE_RASTER:
                raise ValueError("image_too_large")  # same bomb cap as DCT/raw
            km = re.search(rb"/K\s+(-?\d+)", obj_dict)
            black1 = re.search(rb"/BlackIs1\s+true", obj_dict) is not None
            ink = decode_ccitt(
                data, w, h, k=int(km.group(1)) if km else 0,
                byte_align=re.search(rb"/EncodedByteAlign\s+true", obj_dict) is not None,
            )
            # filter-output sample convention (PDF /BlackIs1 default false:
            # sample 0 = black), scaled to 8-bit gray
            sample = ink if black1 else (1 - ink)
            return (sample * 255).astype(np.uint8)[:, :, None], "ccitt"
        if name in _EXTERNAL_IMAGE_FILTERS:
            raise UnsupportedFilterError(name.decode("latin-1"))
        if name in _ZLIB_FILTERS:
            data = inflate_bounded(data)
        elif name in _LZW_FILTERS:
            em = _EARLY_CHANGE_RE.search(obj_dict)
            data = lzw_decode_pdf(data, early_change=int(em.group(1)) if em else 1)
        elif name in _SIMPLE_FILTERS:
            data = _SIMPLE_FILTERS[name](data)
        else:
            raise UnsupportedFilterError(name.decode("latin-1"))
    # raw sample stream: reshape by the image dict geometry
    wm, hm = _WIDTH_RE.search(obj_dict), _HEIGHT_RE.search(obj_dict)
    if not (wm and hm):
        raise ValueError("missing_image_dims")
    w, h = int(wm.group(1)), int(hm.group(1))
    if w <= 0 or h <= 0:
        raise ValueError("bad_image_dims")  # 0-area: degrade, don't div/0
    bpc = int(_BPC_RE.search(obj_dict).group(1)) if _BPC_RE.search(obj_dict) else 8
    if bpc != 8:
        raise NotImplementedError(f"image bpc {bpc}")
    cs = _CS_RE.search(obj_dict)
    channels = {b"DeviceRGB": 3, b"DeviceGray": 1, b"CalRGB": 3, b"CalGray": 1}.get(
        cs.group(1) if cs else b"DeviceGray", 1
    )
    if w * h * channels > MAX_IMAGE_RASTER:
        raise ValueError("image_too_large")
    if len(data) < w * h * channels:
        raise ValueError("truncated_image_samples")
    return (
        np.frombuffer(data, np.uint8, w * h * channels).reshape(h, w, channels),
        "raw",
    )


def _image_feature_row(obj_dict: bytes, raw: bytes, crypto=None,
                       num: int = 0, gen: int = 0) -> dict:
    """Decode one image stream to its feature dict with the engine's
    per-row degradation contract (decoder_unavailable / corrupt_image)."""
    import binascii
    import hashlib

    row = {
        "width": 0, "height": 0, "channels": 0,
        "img_filter": "", "px_md5": "", "mean_x1000": 0, "error": "",
    }
    try:
        if crypto is not None and crypto.ok and crypto.stm_encrypted and num:
            raw = crypto.decrypt(raw, num, gen)
        px, label = _decode_image_stream(obj_dict, raw)
        h, w, c = px.shape
        rb = px.tobytes()
        if not rb:
            raise ValueError("empty_image_raster")
        row.update(
            width=w, height=h, channels=c, img_filter=label,
            px_md5=hashlib.md5(binascii.hexlify(rb)).hexdigest(),
            mean_x1000=int(px.astype("int64").sum()) * 1000 // len(rb),
        )
    except (UnsupportedFilterError, NotImplementedError):
        row["error"] = "decoder_unavailable"
    except (ValueError, zlib.error):
        row["error"] = "corrupt_image"
    return row


def _iter_image_streams(payload: bytes):
    for onum, ogen, obj_dict, raw in _iter_streams(payload):
        if _IMAGE_DICT_RE.search(obj_dict):
            yield onum, ogen, obj_dict, raw


def extract_pdf_images(payload: bytes, max_images: int = 64) -> list:
    """Per-image decode walk: every /Subtype /Image stream object yields a
    feature dict (dims, channels, pixel digest in the engine's standard
    md5-over-lowercase-hex basis, mean). Filters needing a genuinely
    external codec (JPX/JBIG2) degrade per-image to
    error='decoder_unavailable'; malformed payloads to 'corrupt_image'."""
    crypto = get_encryption(payload)
    out = []
    for onum, ogen, obj_dict, raw in _iter_image_streams(payload):
        if crypto is not None and not crypto.ok:
            row = {"width": 0, "height": 0, "channels": 0, "img_filter": "",
                   "px_md5": "", "mean_x1000": 0, "error": "encrypted"}
        else:
            row = _image_feature_row(obj_dict, raw, crypto, onum, ogen)
        out.append({"image_index": len(out), **row})
        if len(out) >= max_images:
            break
    return out


def _pdf_string(body: bytes, i: int) -> tuple[bytes, int]:
    """Decode a PDF literal string starting at the '(' at index i; returns
    (decoded bytes, index just past the closing paren). Handles balanced
    unescaped parens, the standard escapes, octal escapes, and
    line-continuation backslashes."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(body)
    while i < n and depth:
        c = body[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = body[i]
            if e in _STR_ESCAPES:
                out += _STR_ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                j = i
                while j < n and j - i < 3 and 0x30 <= body[j] <= 0x37:
                    j += 1
                out.append(int(body[i:j], 8) & 0xFF)
                i = j
            elif e in (0x0A, 0x0D):  # escaped EOL: continuation
                i += 1
                if e == 0x0D and i < n and body[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the backslash is dropped (spec)
                out.append(e)
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _content_text(content: bytes) -> list[bytes]:
    """Evaluate text-show operators in a content stream: every literal
    string immediately consumed by Tj / ' / " or inside a [...] TJ array
    contributes, in stream order."""
    shows: list[bytes] = []
    i = 0
    n = len(content)
    in_array = False
    pending: list[tuple[bytes, int]] = []  # (string, end_idx) awaiting operator
    while i < n:
        c = content[i]
        if c == 0x28:  # (
            s, i = _pdf_string(content, i)
            pending.append((s, i))
            continue
        if c == 0x5B:  # [
            in_array = True
            pending.clear()
            i += 1
            continue
        if c == 0x5D:  # ] — if TJ follows, emit the accumulated strings
            j = i + 1
            while j < n and content[j] in b" \t\r\n":
                j += 1
            if content.startswith(b"TJ", j):
                shows.extend(s for s, _ in pending)
                i = j + 2
            else:
                i += 1
            in_array = False
            pending.clear()
            continue
        if not in_array and pending:
            if content.startswith(b"Tj", i) or content.startswith(b"'", i) or content.startswith(b'"', i):
                shows.append(pending[-1][0])
                pending.clear()
                i += 2 if content.startswith(b"Tj", i) else 1
                continue
            if c not in b" \t\r\n0123456789.-":
                pending.clear()  # some other operator consumed the string
        i += 1
    return shows


def encode_pdf_text_string(text: str) -> bytes:
    """Inverse of the text-string rule, used by corpus synthesis and tests:
    latin-1 byte-per-char when the text allows it, else UTF-16BE with BOM;
    parens/backslash escaped, control bytes (EOL-ambiguous inside literal
    strings) as exact octal \\ddd — decode(encode(t)) == t for ALL str."""
    try:
        raw = text.encode("latin-1")
    except UnicodeEncodeError:
        raw = b"\xfe\xff" + text.encode("utf-16-be")
    out = bytearray()
    for byte in raw:
        if byte in (0x28, 0x29, 0x5C):  # ( ) backslash
            out += b"\\" + bytes([byte])
        elif byte < 0x20:
            out += b"\\%03o" % byte
        else:
            out.append(byte)
    return bytes(out)


def _decode_text_string(b: bytes) -> str:
    """PDF text-string rule: a UTF-16BE BOM selects UTF-16BE, anything else
    is treated byte-per-char (latin-1 stands in for PDFDocEncoding, whose
    printable range coincides). Applied PER show string — one document may
    mix plain-latin and UTF-16 strings."""
    if b.startswith(b"\xfe\xff"):
        return b[2:].decode("utf-16-be", errors="replace")
    return b.decode("latin-1")


def extract_pdf_text(payload: bytes) -> str:
    """Text extraction over uncompressed/Flate content streams (stdlib zlib
    — no external codec). Text shows within one stream concatenate in
    order; streams are separated by newlines. Image XObject streams carry
    no text operators and are SKIPPED here (they get their own decode walk,
    extract_pdf_images) — a real-world PDF full of DCT photos must still
    yield its text, not degrade whole-row. Raises UnsupportedFilterError
    when a non-image stream needs a codec this container lacks."""
    crypto = get_encryption(payload)
    if crypto is not None and not crypto.ok:
        raise EncryptedPdfError("password-protected or unsupported handler")
    parts: list[str] = []
    for onum, ogen, obj_dict, raw in _iter_streams(payload):
        if _IMAGE_DICT_RE.search(obj_dict):
            continue
        data = _decode_stream(obj_dict, raw, crypto, onum, ogen)
        shows = _content_text(data)
        if shows:
            parts.append("".join(_decode_text_string(s) for s in shows))
    return "\n".join(parts)


PDF_TEXT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("n_streams", IntegerType()),
        StructField("error", StringType()),
    ]
)


def extract_pdf_documents(pdfs: DataFrame) -> DataFrame:
    """mapInPandas stage: (url, payload binary) -> extracted text rows.
    Uncompressed/Flate content streams decode for real (stdlib zlib);
    rows whose streams need an external codec degrade to
    error='decoder_unavailable', corrupt deflate data to 'corrupt_stream',
    non-PDFs to 'not_a_pdf'."""
    import pandas as pd

    def text_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in PDF_TEXT_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                text, err = "", ""
                n_streams = len(_STREAM_KW_RE.findall(b[:MAX_PDF_SCAN]))
                if not b.startswith(b"%PDF-"):
                    err = "not_a_pdf"
                else:
                    try:
                        text = extract_pdf_text(b)
                    except EncryptedPdfError:
                        err = "encrypted"
                    except UnsupportedFilterError:
                        err = "decoder_unavailable"
                    except zlib.error:
                        err = "corrupt_stream"
                rows.append(
                    {"url": url, "text": text, "n_streams": n_streams, "error": err}
                )
            yield pd.DataFrame(rows, columns=cols)

    return pdfs.mapInPandas(text_batch, PDF_TEXT_SCHEMA)


PDF_PROFILE_SCHEMA = StructType(
    list(PDF_META_SCHEMA.fields[:-1])  # url..producer (error re-added last)
    + [
        StructField("n_images", IntegerType()),
        StructField("img_width", LongType()),
        StructField("img_height", LongType()),
        StructField("img_channels", LongType()),
        StructField("img_filter", StringType()),
        StructField("img_px_md5", StringType()),
        StructField("img_error", StringType()),
        StructField("error", StringType()),
    ]
)


def _has_unsupported_nonimage_filter(payload: bytes) -> bool:
    """Cheap filter-name probe for the profile row: True when any
    NON-image stream declares a filter outside the decodable set — the
    condition under which extract_pdf_text raises
    UnsupportedFilterError — WITHOUT decompressing anything or
    evaluating text operators (review finding r5: the profile used to
    run a full text extraction and throw the string away, roughly
    doubling per-doc decode CPU on text-heavy corpora). A
    corrupt-but-supported stream no longer flips the profile's
    top-level error; corruption surfaces on the text/image rows that
    actually decode the bytes."""
    supported = _ZLIB_FILTERS | _LZW_FILTERS | set(_SIMPLE_FILTERS)
    for _onum, _ogen, obj_dict, _raw in _iter_streams(payload):
        if _IMAGE_DICT_RE.search(obj_dict):
            continue  # image XObjects carry no text operators
        fm = _FILTER_RE.search(obj_dict)
        if not fm:
            continue
        names = fm.group(1).split() if fm.group(1) else [fm.group(2)]
        for name in names:
            if name.lstrip(b"/") not in supported:
                return True
    return False


def extract_pdf_profile(pdfs: DataFrame) -> DataFrame:
    """ONE-PASS structural + image profile: a single mapInPandas walk per
    document emits the structural census AND the first embedded image's
    decoded features (dims/channels/pixel digest) — no second scan, no
    join, the 100 TB-correct shape for a per-document profile row."""
    import pandas as pd

    def prof_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in PDF_PROFILE_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                meta = parse_pdf_structure(b)
                if not meta["error"] and _has_unsupported_nonimage_filter(b):
                    meta["error"] = "decoder_unavailable"
                # the profile row carries the FIRST image's features plus a
                # count — so only the first image is decoded; the rest are
                # counted from the (already walked) stream dicts (review
                # finding r5: a 64-photo PDF must not pay 64 DCT decodes
                # for a 1-image profile row)
                n_images = 0
                first: dict = {}
                if meta["error"] not in ("not_a_pdf", "encrypted"):
                    crypto = get_encryption(b)
                    for onum, ogen, obj_dict, raw in _iter_image_streams(b):
                        n_images += 1
                        if n_images == 1:
                            first = _image_feature_row(obj_dict, raw, crypto, onum, ogen)
                        if n_images >= 64:
                            break
                rows.append(
                    {
                        "url": url,
                        **meta,
                        "n_images": n_images,
                        "img_width": first.get("width", 0),
                        "img_height": first.get("height", 0),
                        "img_channels": first.get("channels", 0),
                        "img_filter": first.get("img_filter", ""),
                        "img_px_md5": first.get("px_md5", ""),
                        "img_error": first.get("error", ""),
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    return pdfs.mapInPandas(prof_batch, PDF_PROFILE_SCHEMA)
