"""PDF structural parsing + the real Flate/raw text decoder."""

import pytest

from htmlx.spark.pdf import extract_pdf_text, parse_pdf_structure


def _fake_pdf(pages=2):
    body = b"%PDF-1.7\n"
    body += b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    body += b"2 0 obj\n<< /Type /Pages /Count %d >>\nendobj\n" % pages
    for i in range(pages):
        body += b"%d 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n" % (3 + i)
    body += b"9 0 obj\n<< /Title (Test Doc) /Producer (htmlx) >>\nendobj\n"
    body += b"10 0 obj\n<< >>\nstream\nxxxx\nendstream\nendobj\n"
    body += b"%%EOF\n"
    return body


def test_structure():
    meta = parse_pdf_structure(_fake_pdf(3))
    assert meta["pdf_version"] == "1.7"
    assert meta["n_pages"] == 3  # /Type /Pages excluded by the word boundary
    assert meta["n_objects"] == 7
    assert meta["n_streams"] >= 1
    assert meta["title"] == "Test Doc"
    assert meta["producer"] == "htmlx"
    assert meta["error"] == ""


def test_not_a_pdf():
    assert parse_pdf_structure(b"<html></html>")["error"] == "not_a_pdf"
    assert parse_pdf_structure(b"")["error"] == "not_a_pdf"


def test_text_decode_ignores_non_text_streams():
    # the _fake_pdf stream carries no text operators -> empty text, no error
    assert extract_pdf_text(_fake_pdf()) == ""


# ---------------------------------------------------------------------------
# real text extraction (stdlib zlib tier)
# ---------------------------------------------------------------------------

import zlib

from htmlx.spark.pdf import UnsupportedFilterError


def _content_pdf(data: bytes, filt: bytes = b"") -> bytes:
    return (
        b"%PDF-1.7\n1 0 obj\n<< /Type /Page /Contents 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Length " + str(len(data)).encode() + filt
        + b" >>\nstream\n" + data + b"\nendstream\nendobj\n%%EOF\n"
    )


def test_raw_tj():
    pdf = _content_pdf(b"BT /F1 12 Tf (hello world) Tj ET")
    assert extract_pdf_text(pdf) == "hello world"


def test_flate_tj():
    pdf = _content_pdf(zlib.compress(b"BT (compressed text) Tj ET"), b" /Filter /FlateDecode")
    assert extract_pdf_text(pdf) == "compressed text"


def test_tj_array_and_quote_operators():
    pdf = _content_pdf(b"BT [(a) -120 (b) 3 (c)] TJ T* (next line) ' ET")
    assert extract_pdf_text(pdf) == "abcnext line"


def test_string_escapes_and_balanced_parens():
    # \( \) \\ escapes, octal \101 = 'A', balanced unescaped parens nest
    pdf = _content_pdf(rb"BT (par\(en\) back\\slash \101 (nested) ok) Tj ET")
    assert extract_pdf_text(pdf) == r"par(en) back\slash A (nested) ok"


def test_unconsumed_string_not_emitted():
    # a string used by a non-show operator must not leak into the text
    pdf = _content_pdf(b"BT (anno) Do (shown) Tj ET")
    assert extract_pdf_text(pdf) == "shown"


def test_multiple_streams_joined_with_newline():
    body = (
        b"%PDF-1.7\n"
        b"1 0 obj\n<< /Length 16 >>\nstream\n(first page) Tj\nendstream\nendobj\n"
        b"2 0 obj\n<< /Length 17 >>\nstream\n(second page) Tj\nendstream\nendobj\n%%EOF\n"
    )
    assert extract_pdf_text(body) == "first page\nsecond page"


def test_length_guards_endstream_bytes_inside_flate():
    # craft flate data CONTAINING the literal bytes "endstream"; /Length
    # must carry the parser over it
    raw = b"BT (tricky) Tj ET % endstream inside"
    data = zlib.compress(raw)
    assert b"endstream" not in data  # compress hides it; force it instead
    data = raw  # store raw: body contains the word endstream
    pdf = _content_pdf(data)
    assert extract_pdf_text(pdf) == "tricky"


def test_unsupported_filter_raises():
    pdf = _content_pdf(b"\xff\xd8\xff", b" /Filter /DCTDecode")
    with pytest.raises(UnsupportedFilterError):
        extract_pdf_text(pdf)


def test_corrupt_flate_raises_zlib_error():
    pdf = _content_pdf(b"not-deflate-data", b" /Filter /FlateDecode")
    with pytest.raises(zlib.error):
        extract_pdf_text(pdf)


def test_nested_dict_keeps_filter():
    """/DecodeParms << ... >> nests a dict AFTER /Filter; the stream's
    dict region must span back to the object boundary, not the innermost
    '<<' (which would silently skip the inflate)."""
    raw = b"BT (nested dict text) Tj ET"
    data = zlib.compress(raw)
    pdf = (
        b"%PDF-1.7\n2 0 obj\n<< /Length " + str(len(data)).encode()
        + b" /Filter /FlateDecode /DecodeParms << /Predictor 1 >> >>\nstream\n"
        + data + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == "nested dict text"


def test_inflate_bomb_degrades_not_ooms():
    """A kilobyte-scale Flate stream expanding past the inflate cap must
    raise (a zlib.error subclass -> corrupt-stream degradation), never
    materialize the full output."""
    from htmlx.spark.pdf import InflateBudgetError, inflate_bounded

    bomb = zlib.compress(b"\x00" * (200 * 1024 * 1024), 9)  # ~200MB -> ~200KB
    assert len(bomb) < 1024 * 1024
    with pytest.raises(InflateBudgetError):
        inflate_bounded(bomb)
    assert isinstance(InflateBudgetError("x"), zlib.error)
    pdf = _content_pdf(bomb, b" /Filter /FlateDecode")
    with pytest.raises(zlib.error):
        extract_pdf_text(pdf)


def test_utf16_text_string_roundtrip():
    """Non-latin-1 text ships as a UTF-16BE-with-BOM text string (PDF spec
    text-string rule); decode(encode(t)) must be exact for CJK/emoji."""
    from htmlx.spark.pdf import encode_pdf_text_string

    for text in ["café crème", "中文文档 — test", "mixed \U0001f600 emoji", "tab\tand\nnewline"]:
        pdf = _content_pdf(b"BT (" + encode_pdf_text_string(text) + b") Tj ET")
        assert extract_pdf_text(pdf) == text


def test_octal_escapes_decode_exactly():
    # \012 is LF, \051 is ')', \134 is backslash
    pdf = _content_pdf(rb"BT (a\012b\051c\134d) Tj ET")
    assert extract_pdf_text(pdf) == "a\nb)c\\d"


def test_mixed_latin_and_utf16_strings_in_one_stream():
    from htmlx.spark.pdf import encode_pdf_text_string

    content = (
        b"BT (plain latin) Tj ("
        + encode_pdf_text_string("日本語")
        + b") Tj ET"
    )
    pdf = _content_pdf(content)
    assert extract_pdf_text(pdf) == "plain latin日本語"


def test_dict_region_floored_at_previous_endstream():
    """A raw stream body containing the bytes 'obj' + a junk '/Filter
    /DCTDecode' pattern must NOT hijack the NEXT stream's dict region
    (the backward 'obj' search is floored at the previous endstream)."""
    trap = b"BT (first) Tj ET junk obj << /Filter /DCTDecode /Length 3 >>"
    pdf = (
        b"%PDF-1.7\n"
        b"2 0 obj\n<< /Length " + str(len(trap)).encode() + b" >>\nstream\n"
        + trap + b"\nendstream\nendobj\n"
        b"3 0 obj\n<< /Length 19 >>\nstream\nBT (second) Tj ET x\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    assert extract_pdf_text(pdf) == "first\nsecond"


# --- LZWDecode (PDF 1.7 spec 7.4.4) ---------------------------------------

def test_lzw_spec_worked_example():
    """The spec's own example (7.4.4.2): 45x5 65 45x3 66 <-> codes
    [256, 45, 258, 258, 65, 259, 66, 257] <-> bytes 800B6050220C0C8501."""
    from htmlx.spark.pdf import lzw_decode_pdf, lzw_encode_pdf

    data = bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
    assert lzw_encode_pdf(data).hex() == "800b6050220c0c8501"
    assert lzw_decode_pdf(bytes.fromhex("800b6050220c0c8501")) == data


def test_lzw_roundtrip_width_bumps_and_full_table():
    import random

    from htmlx.spark.pdf import lzw_decode_pdf, lzw_encode_pdf

    rnd = random.Random(7)
    small_alphabet = bytes(rnd.randrange(4) for _ in range(50000))
    wide = bytes(rnd.randrange(256) for _ in range(60000))  # fills to 4096
    for data in (b"", b"x", small_alphabet, wide):
        assert lzw_decode_pdf(lzw_encode_pdf(data)) == data
        assert lzw_decode_pdf(lzw_encode_pdf(data, 0), early_change=0) == data


def test_lzw_early_change_mismatch_is_detected_not_silent():
    """ec=1-encoded data decoded as ec=0 must not round-trip (the widths
    desynchronize) — guards against both sides ignoring the parameter."""
    import random

    from htmlx.spark.pdf import StreamCorruptError, lzw_decode_pdf, lzw_encode_pdf

    rnd = random.Random(11)
    data = bytes(rnd.randrange(3) for _ in range(20000))
    enc = lzw_encode_pdf(data, early_change=1)
    try:
        assert lzw_decode_pdf(enc, early_change=0) != data
    except StreamCorruptError:
        pass  # desync may also surface as a bad code — equally correct


def test_lzw_corrupt_and_bomb_guard():
    import zlib

    import pytest

    from htmlx.spark.pdf import (
        InflateBudgetError, StreamCorruptError, lzw_decode_pdf, lzw_encode_pdf)

    with pytest.raises(StreamCorruptError):  # data before any clear code
        lzw_decode_pdf(b"\x00\x00\x00\x00")
    # out-of-range code: clear then code 300 (table has 258)
    acc = (256 << 9) | 300
    raw = acc.to_bytes(3, "big")  # 18 bits -> not byte aligned; pad
    with pytest.raises(StreamCorruptError):
        lzw_decode_pdf(raw + b"\x00")
    # budget: highly compressible input must trip the cap, not materialize
    bomb = lzw_encode_pdf(b"\x00" * 200000)
    with pytest.raises(InflateBudgetError):
        lzw_decode_pdf(bomb, cap=10000)
    assert issubclass(StreamCorruptError, zlib.error)  # corrupt_stream mapping


def test_lzw_filtered_content_stream():
    from htmlx.spark.pdf import lzw_encode_pdf

    data = lzw_encode_pdf(b"BT (lzw text works) Tj ET")
    pdf = _content_pdf(data, b" /Filter /LZWDecode")
    assert extract_pdf_text(pdf) == "lzw text works"
    # EarlyChange=0 via DecodeParms
    from htmlx.spark.pdf import lzw_encode_pdf as enc

    data0 = enc(b"BT (early change zero) Tj ET", early_change=0)
    pdf0 = _content_pdf(
        data0, b" /Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>")
    assert extract_pdf_text(pdf0) == "early change zero"


def test_lzw_then_flate_filter_chain():
    import zlib

    from htmlx.spark.pdf import lzw_encode_pdf

    # filter ARRAY [/LZWDecode /FlateDecode]: applied in order to decode
    inner = b"BT (chained filters) Tj ET"
    data = zlib.compress(lzw_encode_pdf(inner))
    pdf = _content_pdf(data, b" /Filter [/FlateDecode /LZWDecode]")
    assert extract_pdf_text(pdf) == "chained filters"


# --- ASCIIHex / ASCII85 / RunLength filters --------------------------------

def test_ascii_hex_filter():
    content = b"BT (hex text) Tj ET"
    data = content.hex().encode() + b">"
    pdf = _content_pdf(data, b" /Filter /ASCIIHexDecode")
    assert extract_pdf_text(pdf) == "hex text"
    # whitespace ignored, odd trailing digit padded with 0
    from htmlx.spark.pdf import ascii_hex_decode

    assert ascii_hex_decode(b"4 86\n9 >junk") == b"Hi"
    assert ascii_hex_decode(b"47>") == b"G"  # 0x47, odd digit -> "470"? no: "47" even
    assert ascii_hex_decode(b"4>") == b"@"  # odd digit padded -> 0x40


def test_ascii85_filter_chain():
    import base64
    import zlib

    content = b"BT (a85 chained) Tj ET"
    data = base64.a85encode(zlib.compress(content), adobe=True)[2:]
    pdf = _content_pdf(data, b" /Filter [/ASCII85Decode /FlateDecode]")
    assert extract_pdf_text(pdf) == "a85 chained"
    # 'z' zero-group shorthand decodes
    from htmlx.spark.pdf import ascii85_decode

    assert ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"


def test_run_length_filter_roundtrip():
    from htmlx.spark.pdf import run_length_decode, run_length_encode

    for data in (b"", b"x", b"aaaabbbbbcdddd", b"abc" * 50, bytes(range(256)),
                 b"\x00" * 400):
        assert run_length_decode(run_length_encode(data)) == data
    content = b"BT (run length) Tj ET"
    pdf = _content_pdf(run_length_encode(content), b" /Filter /RunLengthDecode")
    assert extract_pdf_text(pdf) == "run length"


def test_filter_corrupt_data_degrades_to_corrupt_stream():
    import zlib

    import pytest

    from htmlx.spark.pdf import (
        StreamCorruptError, ascii85_decode, ascii_hex_decode, run_length_decode)

    for fn, bad in ((ascii_hex_decode, b"zz>"), (ascii85_decode, b"\x01\x02~>"),
                    (run_length_decode, b"\x05ab")):
        with pytest.raises(zlib.error):
            fn(bad)
    assert issubclass(StreamCorruptError, zlib.error)


# --- image XObject decode (DCT wiring, r5) ----------------------------------


def _img_pdf(data, dict_extra):
    return (
        b"%PDF-1.7\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
        b"2 0 obj\n<< /Subtype /Image " + dict_extra
        + b" /Length " + str(len(data)).encode()
        + b" >>\nstream\n" + data + b"\nendstream\nendobj\n%%EOF\n"
    )


def test_pdf_dct_image_decodes_via_inrepo_jpeg():
    import binascii
    import hashlib

    import numpy as np

    from htmlx.spark.jpeg import encode_jpeg
    from tests.oracles import pdf_image_rows

    y = np.repeat(np.repeat(np.array([[10, 200], [77, 140]], np.uint8), 8, 0), 8, 1)
    for progressive in (False, True):
        jp = encode_jpeg(y, progressive=progressive)
        out = pdf_image_rows(_img_pdf(jp, b"/Filter /DCTDecode"))
        assert len(out) == 1
        row = out[0]
        assert (row["width"], row["height"], row["channels"]) == (16, 16, 1)
        assert row["img_filter"] == "dct" and row["error"] == ""
        expect = hashlib.md5(binascii.hexlify(y[:, :, None].tobytes())).hexdigest()
        assert row["px_md5"] == expect  # block-constant JFIF: bit-exact


def test_pdf_raw_flate_image():
    import zlib as z

    import numpy as np

    from tests.oracles import pdf_image_rows

    raw = (np.arange(5 * 3 * 3) % 256).astype(np.uint8)
    data = z.compress(raw.tobytes())
    out = pdf_image_rows(
        _img_pdf(data, b"/Width 5 /Height 3 /BitsPerComponent 8 "
                 b"/ColorSpace /DeviceRGB /Filter /FlateDecode")
    )
    assert out[0]["error"] == "" and out[0]["channels"] == 3
    assert (out[0]["width"], out[0]["height"]) == (5, 3)


def test_pdf_jpx_jbig2_degrade_per_image():
    from tests.oracles import pdf_image_rows

    for filt in (b"/Filter /JPXDecode", b"/Filter /JBIG2Decode"):
        out = pdf_image_rows(_img_pdf(b"\x00opaque", filt + b" /Width 4 /Height 4"))
        assert out[0]["error"] == "decoder_unavailable"
        assert out[0]["px_md5"] == ""


def test_pdf_text_walk_skips_image_streams():
    """A PDF whose only binary stream is a DCT photo must still yield its
    text — image XObjects carry no text operators and must not degrade
    the row (r4 behavior: whole-row decoder_unavailable)."""
    import numpy as np

    from htmlx.spark.jpeg import encode_jpeg
    from htmlx.spark.pdf import extract_pdf_text

    jp = encode_jpeg(np.full((8, 8), 99, np.uint8))
    body = (
        b"%PDF-1.7\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
        b"2 0 obj\n<< /Length 35 >>\nstream\nBT (Hello photos) Tj ET\nendstream\nendobj\n"
        b"3 0 obj\n<< /Subtype /Image /Filter /DCTDecode /Length "
        + str(len(jp)).encode() + b" >>\nstream\n" + jp + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert extract_pdf_text(body) == "Hello photos"


def test_pdf_corrupt_image_degrades_not_raises():
    from tests.oracles import pdf_image_rows

    out = pdf_image_rows(_img_pdf(b"\xff\xd8\xff\xee garbage", b"/Filter /DCTDecode"))
    assert out[0]["error"] == "corrupt_image"


def test_pdf_profile_one_pass_merges_structural_and_image():
    import numpy as np

    from htmlx.spark.session import get_spark

    from htmlx.spark.jpeg import encode_jpeg
    from htmlx.spark.pdf import extract_pdf_profile

    spark = get_spark(cores=2, app_name="htmlx-pdf-profile-test")
    jp = encode_jpeg(np.full((8, 8), 42, np.uint8))
    body = _img_pdf(jp, b"/Filter /DCTDecode")
    pdfs = spark.createDataFrame([("u1", bytearray(body)), ("u2", bytearray(b"nope"))],
                                 "url string, payload binary")
    rows = {r["url"]: r for r in extract_pdf_profile(pdfs).collect()}
    assert rows["u1"]["n_images"] == 1
    assert rows["u1"]["img_filter"] == "dct" and rows["u1"]["img_width"] == 8
    assert rows["u1"]["error"] == ""
    assert rows["u2"]["error"] == "not_a_pdf" and rows["u2"]["n_images"] == 0


# ---------------------------------------------------------------------------
# object streams (modern-PDF layout: /Type /ObjStm packed dictionaries)
# ---------------------------------------------------------------------------

def _objstm_pdf(packed, compress=True, extra=b""):
    from htmlx.spark.pdf import encode_object_stream
    from tests.oracles import encode_object_stream_plain

    encode = encode_object_stream if compress else encode_object_stream_plain
    return (
        b"%PDF-1.5\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
        + b"7 0 obj\n" + encode(packed)
        + b"\nendobj\n" + extra + b"%%EOF\n"
    )


def test_objstm_pages_and_title_visible():
    """Page dicts + the Info dict inside a Flate ObjStm: invisible to a
    raw scan, found once the structural parse decodes object streams."""
    from htmlx.spark.pdf import parse_pdf_structure

    packed = [(2 + i, b"<< /Type /Page >>") for i in range(3)]
    packed.append((9, b"<< /Title (Packed Title) >>"))
    out = parse_pdf_structure(_objstm_pdf(packed))
    assert out["n_pages"] == 3
    assert out["title"] == "Packed Title"
    # 2 top-level 'N G obj' + 4 packed (/N)
    assert out["n_objects"] == 6
    assert out["n_streams"] == 1 and out["error"] == ""


def test_objstm_uncompressed_and_top_level_mix():
    from htmlx.spark.pdf import parse_pdf_structure

    packed = [(2, b"<< /Type /Page >>")]
    extra = b"3 0 obj\n<< /Type /Page >>\nendobj\n"
    out = parse_pdf_structure(_objstm_pdf(packed, compress=False, extra=extra))
    assert out["n_pages"] == 2  # one packed + one top-level
    assert out["n_objects"] == 4  # 3 top-level + 1 packed


def test_objstm_corrupt_degrades_to_raw_view():
    """A truncated Flate body inside the ObjStm must not raise — the
    parse keeps the raw-scan counts (packed objects invisible)."""
    from htmlx.spark.pdf import encode_object_stream, parse_pdf_structure

    good = encode_object_stream([(2, b"<< /Type /Page >>")])
    # corrupt the Flate payload, keep /Length consistent via endstream scan
    bad = good.replace(b"stream\n", b"stream\n\xff\x00", 1)
    body = (b"%PDF-1.5\n1 0 obj\n<< /Type /Catalog >>\nendobj\n7 0 obj\n"
            + bad + b"\nendobj\n%%EOF\n")
    out = parse_pdf_structure(body)
    assert out["error"] == "" and out["n_pages"] == 0


def test_objstm_exotic_filter_skipped():
    from htmlx.spark.pdf import parse_pdf_structure

    body = (b"%PDF-1.5\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
            b"7 0 obj\n<< /Type /ObjStm /N 2 /First 8 /Filter /JPXDecode /Length 4 >>\n"
            b"stream\nabcd\nendstream\nendobj\n%%EOF\n")
    out = parse_pdf_structure(body)
    assert out["error"] == "" and out["n_pages"] == 0
    # /N is a declared census (like /Length) and counts even when the
    # content can't be decoded: 2 raw 'N G obj' + 2 declared packed
    assert out["n_objects"] == 4


def test_profile_probes_filters_without_text_extraction(monkeypatch):
    """The profile derives its decoder_unavailable flag from a
    filter-name probe, not a full (discarded) text extraction: an
    unsupported NON-image filter flips the flag, an image-only JPX does
    not, and extract_pdf_text is never invoked on the profile path."""
    import htmlx.spark.pdf as pdfmod
    from htmlx.spark.pdf import _has_unsupported_nonimage_filter

    def boom(*a, **k):  # pragma: no cover - must not be reached
        raise AssertionError("profile must not run full text extraction")

    monkeypatch.setattr(pdfmod, "extract_pdf_text", boom)

    crypt = (b"%PDF-1.7\n1 0 obj\n<< /Filter /Crypt /Length 4 >>\n"
             b"stream\nabcd\nendstream\nendobj\n%%EOF\n")
    assert _has_unsupported_nonimage_filter(crypt)
    jpx_img = _img_pdf(b"\x00x", b"/Filter /JPXDecode /Width 2 /Height 2")
    assert not _has_unsupported_nonimage_filter(jpx_img)

    from htmlx.spark.session import get_spark

    spark = get_spark(cores=2, app_name="htmlx-pdf-probe-test")
    pdfs = spark.createDataFrame(
        [("a", bytearray(crypt)), ("b", bytearray(jpx_img))],
        "url string, payload binary",
    )
    rows = {r["url"]: r for r in pdfmod.extract_pdf_profile(pdfs).collect()}
    assert rows["a"]["error"] == "decoder_unavailable"
    assert rows["b"]["error"] == "" and rows["b"]["img_error"] == "decoder_unavailable"
