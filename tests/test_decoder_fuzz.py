"""Decoder robustness on arbitrary bytes (the web-scale contract: crawled
payloads are adversarial; every decoder must degrade to one of its
DECLARED error types — never crash with anything else, hang, or blow
memory)."""

import zlib

from hypothesis import HealthCheck, given, settings, strategies as st

from htmlx.spark.multimodal import (
    _PNG_SIG,
    decode_gif,
    decode_image,
    decode_png,
    decode_wav,
    image_dimensions,
    sniff_mime,
)
from htmlx.spark.pdf import (
    UnsupportedFilterError,
    extract_pdf_text,
    parse_pdf_structure,
)

DECODE_OK = (ValueError, NotImplementedError, zlib.error)
_SETTINGS = settings(
    max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _attempt(fn, blob):
    try:
        fn(blob)
    except DECODE_OK:
        pass  # declared degradation path


@given(st.binary(max_size=2048))
@_SETTINGS
def test_image_decoders_never_crash(blob):
    from htmlx.spark.jpeg import decode_jpeg
    from htmlx.spark.tiffbmp import decode_bmp, decode_tiff

    from htmlx.spark.multimodal import decode_pnm, decode_wbmp

    for prefix in (b"", _PNG_SIG, b"GIF89a", b"RIFF", b"\xff\xd8", b"BM",
                   b"II*\x00", b"MM\x00*", b"\x00\x00", b"P4\n", b"P2 "):
        _attempt(decode_image, prefix + blob)
        _attempt(decode_wbmp, prefix + blob)
        _attempt(decode_pnm, prefix + blob)
        _attempt(decode_png, prefix + blob)
        _attempt(decode_gif, prefix + blob)
        _attempt(decode_jpeg, prefix + blob)
        _attempt(decode_bmp, prefix + blob)
        _attempt(decode_tiff, prefix + blob)
        sniff_mime(prefix + blob)
        image_dimensions(prefix + blob)
    from htmlx.spark.tiffbmp import decode_tga

    for prefix in (b"", b"\x00\x00\x02", b"\x00\x01\x01", b"\x00\x00\x0a"):
        _attempt(decode_tga, prefix + blob)


@given(st.binary(max_size=1024))
@_SETTINGS
def test_jpeg_crafted_scan_fragments(blob):
    """Bias the fuzz toward the entropy-decode path: valid headers,
    arbitrary scan bytes."""
    import numpy as np

    from htmlx.spark.jpeg import decode_jpeg, encode_jpeg

    good = encode_jpeg(np.full((8, 8), 128, np.uint8))
    sos_end = good.index(b"\xff\xda") + 14
    _attempt(decode_jpeg, good[:sos_end] + blob)
    # 12-bit SOF1 headers reach the extended DC-size path (cap 15 not 11)
    good12 = encode_jpeg(np.full((8, 8), 2048, np.uint16), precision=12)
    sos12 = good12.index(b"\xff\xda") + 14
    _attempt(decode_jpeg, good12[:sos12] + blob)


@given(st.binary(max_size=2048))
@_SETTINGS
def test_wav_decoder_never_crashes(blob):
    for prefix in (b"", b"RIFF\x00\x00\x00\x00WAVE"):
        _attempt(decode_wav, prefix + blob)


@given(st.binary(max_size=2048))
@_SETTINGS
def test_aiff_au_decoders_never_crash(blob):
    from htmlx.spark.multimodal import decode_aiff, decode_au, decode_audio

    for prefix in (b"", b"FORM\x00\x00\x08\x00AIFF", b"FORM\x00\x00\x08\x00AIFC",
                   b".snd", b"ID3\x04\x00\x00", b"ID3\x03\x00\x00", b"OggS\x00"):
        _attempt(decode_aiff, prefix + blob)
        _attempt(decode_au, prefix + blob)
        _attempt(decode_audio, prefix + blob)


@given(st.binary(max_size=2048))
@_SETTINGS
def test_flac_decoder_never_crashes(blob):
    from htmlx.spark.flac import decode_flac

    import numpy as np

    from htmlx.spark.flac import encode_flac

    # bare, raw-metadata, and a valid STREAMINFO followed by fuzz frames
    good = encode_flac(np.zeros((64, 1), np.int64), 8000)
    valid_head = good[: 4 + 4 + 34]
    for prefix in (b"", b"fLaC", valid_head):
        _attempt(decode_flac, prefix + blob)


@given(st.binary(max_size=2048))
@_SETTINGS
def test_pdf_text_never_crashes(blob):
    for prefix in (b"", b"%PDF-1.7\n"):
        try:
            extract_pdf_text(prefix + blob)
        except DECODE_OK:
            pass
        except UnsupportedFilterError:
            pass
        parse_pdf_structure(prefix + blob)


@given(st.binary(max_size=1024))
@_SETTINGS
def test_pdf_crafted_stream_fragments(blob):
    """Bias the fuzz toward the stream-parsing path: wrap arbitrary bytes
    in stream/endstream scaffolding with arbitrary dicts, across every
    decodable filter."""
    for filt in (b"/FlateDecode", b"/LZWDecode", b"/ASCIIHexDecode",
                 b"/ASCII85Decode", b"/RunLengthDecode",
                 b"[/ASCII85Decode /FlateDecode]"):
        doc = (
            b"%PDF-1.7\n1 0 obj\n<< /Length " + str(len(blob) % 500).encode()
            + b" /Filter " + filt + b" >>\nstream\n" + blob + b"\nendstream\nendobj\n"
        )
        try:
            extract_pdf_text(doc)
        except DECODE_OK:
            pass
        except UnsupportedFilterError:
            pass
        # ObjStm path: arbitrary bytes behind an object-stream dict must
        # degrade to the raw-scan view, never crash the structural parse
        objstm = (
            b"%PDF-1.5\n7 0 obj\n<< /Type /ObjStm /N 3 /First 9 /Filter " + filt
            + b" /Length " + str(len(blob)).encode()
            + b" >>\nstream\n" + blob + b"\nendstream\nendobj\n"
        )
        parse_pdf_structure(objstm)


def test_gif_truncation_points_all_valueerror():
    """Every truncation point of a valid GIF must surface as ValueError
    (or decode successfully for byte counts past the trailer)."""
    import numpy as np
    import pytest

    from htmlx.spark.multimodal import decode_gif, encode_gif

    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    idx = (np.arange(12) % 256).astype(np.uint8).reshape(3, 4)
    gif = encode_gif(idx, pal)
    for cut in range(1, len(gif)):
        try:
            decode_gif(gif[:cut])
        except (ValueError, NotImplementedError):
            pass


@given(st.binary(max_size=2048))
@_SETTINGS
def test_lzw_decoder_never_crashes(blob):
    from htmlx.spark.pdf import lzw_decode_pdf

    for ec in (0, 1):
        try:
            lzw_decode_pdf(blob, cap=1 << 20, early_change=ec)
        except DECODE_OK:  # StreamCorruptError/InflateBudgetError are zlib.error
            pass


@given(st.binary(max_size=512))
@_SETTINGS
def test_pdf_string_escapes_fuzz(blob):
    """Adversarial literal-string content (unbalanced parens, trailing
    backslashes, bogus octal, raw EOLs) through the full text path: must
    return a str or raise a declared degradation, never anything else."""
    for wrap in (
        b"BT (" + blob + b") Tj ET",
        b"BT (" + blob.replace(b")", b"") + b") Tj ET",
        b"BT [(" + blob + b") (x)] TJ ET",
    ):
        doc = (
            b"%PDF-1.7\n1 0 obj\n<< /Length " + str(len(wrap)).encode()
            + b" >>\nstream\n" + wrap + b"\nendstream\nendobj\n"
        )
        try:
            out = extract_pdf_text(doc)
            assert isinstance(out, str)
        except DECODE_OK:
            pass
        except UnsupportedFilterError:
            pass


@given(st.text(max_size=300))
@_SETTINGS
def test_pdf_text_string_roundtrip_property(text):
    """decode(encode(t)) == t for ALL unicode text (the exact-oracle
    contract of pdf_text_extract)."""
    from htmlx.spark.pdf import encode_pdf_text_string

    doc = (
        b"%PDF-1.7\n1 0 obj\n<< >>\nstream\nBT ("
        + encode_pdf_text_string(text) + b") Tj ET\nendstream\nendobj\n"
    )
    assert extract_pdf_text(doc) == text


@given(st.binary(max_size=2048))
@_SETTINGS
def test_vp8l_decoder_never_crashes(blob):
    import numpy as np

    from htmlx.spark.vp8l import decode_webp, encode_vp8l

    good = encode_vp8l(np.zeros((4, 4, 4), np.uint8))
    for prefix in (b"", b"RIFF", good[:21]):  # bare / riff tag / valid header
        _attempt(decode_webp, prefix + blob)


@given(st.binary(max_size=2048))
@_SETTINGS
def test_ico_and_gif_animation_never_crash(blob):
    from htmlx.spark.multimodal import decode_gif_frames
    from htmlx.spark.tiffbmp import decode_ico

    for prefix in (b"", b"\x00\x00\x01\x00", b"\x00\x00\x01\x00\x02\x00"):
        _attempt(decode_ico, prefix + blob)
    for prefix in (b"", b"GIF89a", b"GIF89a\x08\x00\x06\x00\x00\x00\x00"):
        _attempt(decode_gif_frames, prefix + blob)


def test_review_crash_payloads_degrade_declared():
    """Specific malformed payloads found by review: short JPEG SOF/DRI/SOS
    segments, TIFF IFD entries with unknown value types or zero counts,
    GIFs truncated inside a Graphic Control Extension, zero-dimension
    PNGs — all must raise a DECLARED error type."""
    import struct

    import numpy as np
    import pytest

    from htmlx.spark.jpeg import decode_jpeg
    from htmlx.spark.multimodal import decode_gif_frames, decode_png, encode_png
    from htmlx.spark.tiffbmp import decode_tiff, encode_tiff

    for p in (b"\xff\xd8\xff\xc0\x00\x02", b"\xff\xd8\xff\xc0\x00\x05abc",
              b"\xff\xd8\xff\xdd\x00\x03a", b"\xff\xd8\xff\xda\x00\x03a"):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(p)
    good = bytearray(encode_tiff(np.zeros((2, 2), np.uint8)))
    ifd_off = struct.unpack("<I", good[4:8])[0]
    n = struct.unpack("<H", good[ifd_off : ifd_off + 2])[0]
    for probe in range(n):
        e = ifd_off + 2 + probe * 12
        for newtyp, newcnt in ((7, 1), (3, 0)):
            bad = bytearray(good)
            struct.pack_into("<HI", bad, e + 2, newtyp, newcnt)
            try:
                decode_tiff(bytes(bad))
            except (ValueError, NotImplementedError):
                pass
    for p in (b"GIF89a\x02\x00\x02\x00\x00\x00\x00\x21\xf9\x04",
              b"GIF89a\x02\x00\x02\x00\x00\x00\x00\x21\xf9\x04\x00"):
        with pytest.raises(ValueError):
            decode_gif_frames(p)
    zero = bytearray(encode_png(np.zeros((2, 2), np.uint8)))
    struct.pack_into(">I", zero, 20, 0)  # IHDR height = 0 (crc ignored later)
    with pytest.raises(ValueError):
        decode_png(bytes(zero))


def test_bit_io_scales_linearly():
    """The bit-IO accumulators must stay bounded: decode time for a 4x
    larger JPEG entropy stream must grow far less than the quadratic
    ~15x observed before the fix (generous 8x bound for host noise)."""
    import time

    import numpy as np

    from htmlx.spark.jpeg import decode_jpeg, encode_jpeg

    rnd = np.random.RandomState(3)
    times = []
    for side in (96, 192):  # ~4x the entropy bits
        j = encode_jpeg(rnd.randint(0, 256, (side, side, 3)).astype(np.uint8))
        decode_jpeg(j)  # warm
        t0 = time.monotonic()
        decode_jpeg(j)
        times.append(time.monotonic() - t0)
    assert times[1] < times[0] * 8, times


@given(st.binary(max_size=2048))
@_SETTINGS
def test_metadata_sniff_never_crashes(blob):
    """sniff_mime / image_dimensions are total functions: any bytes in,
    (mime, dims) out — including the SVG regex and ISO-BMFF box-walk
    paths."""
    from htmlx.spark.multimodal import image_dimensions, sniff_mime

    for prefix in (b"", b"<svg ", b"\x00\x00\x00\x14ftypavif",
                   b"\x00\x00\x00\x14ftypheic", b"RIFF\x00\x00\x00\x00WEBP"):
        sniff_mime(prefix + blob)
        image_dimensions(prefix + blob)


@given(st.binary(max_size=1024))
@_SETTINGS
def test_bmp_rle8_fuzz(blob):
    """Biased at the RLE8 branch: a valid RLE8 header + palette, arbitrary
    run data — must degrade to declared errors only."""
    import struct as _s

    from htmlx.spark.tiffbmp import decode_bmp

    pal = bytes(1024)
    info = _s.pack("<IiiHHIIiiII", 40, 8, 4, 1, 8, 1, len(blob), 0, 0, 256, 0)
    hdr = b"BM" + _s.pack("<IHHI", 54 + 1024 + len(blob), 0, 0, 54 + 1024)
    _attempt(decode_bmp, hdr + info + pal + blob)


def test_vp8l_exhaustive_truncation_and_bitflips():
    """VERDICT r4 item 8: adversarial truncations at code-length-code
    boundaries. A VALID VP8L stream (meta-huffman code-length codes, LZ77
    back-references, color cache) is truncated at EVERY byte position and
    single-bit-flipped across the entropy-coded region; decode must yield
    a raster or a declared degradation — never IndexError/KeyError/hang.
    (The GIF/PDF versions of this test each caught real escapes.)"""
    import numpy as np

    from htmlx.spark.vp8l import decode_webp, encode_vp8l

    raw = ((np.arange(12 * 9 * 4) * 37 + 11) % 256).astype(np.uint8).reshape(9, 12, 4)
    seeds = [
        encode_vp8l(raw, lz77=True, cache_bits=4, predictor_mode=5),
        encode_vp8l(raw, subtract_green=True, lz77=True),
    ]
    for good in seeds:
        ok = decode_webp(good)
        assert ok.shape == (9, 12, 4)
        for cut in range(len(good)):
            _attempt(decode_webp, good[:cut])
        for pos in range(20, len(good)):  # entropy-coded region
            for bit in (0, 3, 7):
                b = bytearray(good)
                b[pos] ^= 1 << bit
                _attempt(decode_webp, bytes(b))


def test_flac_exhaustive_truncation_and_bitflips():
    """Same adversarial treatment for FLAC's bit-IO: Rice escapes, LPC
    headers, CRC boundaries. CRC verification makes most flips land in
    'corrupt' — the assertion is that NOTHING lands outside the declared
    set."""
    import numpy as np

    from htmlx.spark.flac import decode_flac, encode_flac

    pcm = (((np.arange(300 * 2) * 13 + 7) % 2048) - 1024).reshape(300, 2)
    seeds = [
        encode_flac(pcm, 8000, block_size=64, stereo_mode="mid_side", lpc=True),
        encode_flac(pcm, 16000, block_size=32, stereo_mode="left_side", lpc=False),
    ]
    for good in seeds:
        decode_flac(good)  # sanity: seed is valid
        for cut in range(len(good)):
            _attempt(decode_flac, good[:cut])
        for pos in range(8, len(good), 2):
            b = bytearray(good)
            b[pos] ^= 1 << (pos % 8)
            _attempt(decode_flac, bytes(b))
