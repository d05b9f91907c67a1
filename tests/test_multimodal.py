"""Multimodal plumbing: magic-byte sniffing + header-only dimensions
(no codecs in container; deep decode is stubbed — see multimodal.py)."""

import struct

import pytest

from htmlx.spark.multimodal import decode_image, image_dimensions, sniff_mime


def _png(w, h):
    return b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + struct.pack(">II", w, h) + b"\x08"


def _gif(w, h):
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 4


def _jpeg(w, h):
    # SOI + minimal SOF0 segment
    sof = b"\xff\xc0" + struct.pack(">H", 8 + 3) + b"\x08" + struct.pack(">HH", h, w) + b"\x03"
    return b"\xff\xd8" + sof + b"\xff\xd9"


def test_sniff():
    assert sniff_mime(_png(1, 1)) == "image/png"
    assert sniff_mime(_gif(1, 1)) == "image/gif"
    assert sniff_mime(b"\xff\xd8\xff\xe0JFIF") == "image/jpeg"
    assert sniff_mime(b"RIFF\x00\x00\x00\x00WEBPVP8 ") == "image/webp"
    assert sniff_mime(b"RIFF\x00\x00\x00\x00WAVEfmt ") == "audio/wav"
    assert sniff_mime(b"ID3\x04") == "audio/mpeg"
    assert sniff_mime(b"OggS\x00") == "audio/ogg"
    assert sniff_mime(b"\x00\x00\x00\x18ftypisom") == "video/mp4"
    assert sniff_mime(b"garbage") == "application/octet-stream"
    assert sniff_mime(b"") == ""


def test_dimensions():
    assert image_dimensions(_png(640, 480)) == (640, 480)
    assert image_dimensions(_gif(13, 37)) == (13, 37)
    assert image_dimensions(_jpeg(800, 600)) == (800, 600)
    assert image_dimensions(b"junk") == (0, 0)


def test_decode_dispatch_error_classes():
    # JPEG is real now: a bare header with no scan is malformed, not
    # "unavailable"; same for a PNG header without scanlines and a WebP
    # container without an image chunk. Lossy VP8 frames are the
    # remaining genuinely-external image format.
    with pytest.raises(ValueError):
        decode_image(_jpeg(1, 1))
    with pytest.raises(ValueError):
        decode_image(_png(1, 1))
    with pytest.raises(ValueError):
        decode_image(b"RIFF\x04\x00\x00\x00WEBP")
    with pytest.raises(NotImplementedError):  # well-formed lossy VP8 chunk
        decode_image(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd")


# ---------------------------------------------------------------------------
# real PNG decode tier
# ---------------------------------------------------------------------------

def test_png_roundtrip_all_filters_and_channels():
    import numpy as np

    from htmlx.spark.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    for ch in (1, 2, 3, 4):
        for filt in range(5):
            a = rng.integers(0, 256, (13, 17, ch), dtype=np.uint8)
            assert (decode_png(encode_png(a, row_filter=lambda y, f=filt: f)) == a).all()
    a = rng.integers(0, 256, (31, 9, 3), dtype=np.uint8)
    assert (decode_png(encode_png(a, row_filter=lambda y: y % 5)) == a).all()


def test_png_decode_error_paths():
    import zlib

    import numpy as np
    import pytest

    from htmlx.spark.multimodal import decode_image, decode_png, encode_png

    with pytest.raises(ValueError):
        decode_png(b"not a png")
    # all legal depths decode now; an ILLEGAL depth is the declared stub
    good = encode_png(np.zeros((2, 2), np.uint8))
    deep = bytearray(good)
    deep[24] = 12  # IHDR bit depth byte: 12 is not a legal PNG depth
    with pytest.raises(NotImplementedError):
        decode_png(bytes(deep))
    # truncated IDAT -> zlib error surfaces as corrupt
    cut = good[:40]
    with pytest.raises((ValueError, zlib.error)):
        decode_png(cut + good[-12:])
    # dispatch: JPEG routes to the real decoder (malformed -> ValueError)
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0rest")
    # dispatch: PNG goes through the real decoder
    assert decode_image(good).shape == (2, 2, 1)


def test_png_bomb_guard():
    """A tiny IDAT claiming a multi-GB raster must fail fast (header-size
    cap) before any allocation or inflate."""
    import struct
    import zlib

    import pytest

    from htmlx.spark.multimodal import _PNG_SIG, decode_png

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 100_000, 100_000, 8, 2, 0, 0, 0)  # 30 GB raster
    bomb = _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(b"\x00" * 64)) + chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(bomb)


def test_wav_roundtrip_and_error_paths():
    import numpy as np
    import pytest

    from htmlx.spark.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(3)
    for ch in (1, 2):
        a = rng.integers(-1024, 1024, (301, ch), dtype=np.int16)
        rate, c, out = decode_wav(encode_wav(a, 16000))
        assert (rate, c) == (16000, ch) and (out == a).all()
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")
    # non-PCM format code -> genuinely needs a codec
    import struct

    fmt = struct.pack("<HHIIHH", 85, 1, 8000, 8000, 1, 16)  # 85 = MP3-in-WAV
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", 0)
    with pytest.raises(NotImplementedError):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_aiff_au_roundtrip_and_error_paths():
    import struct

    import numpy as np
    import pytest

    from htmlx.spark.multimodal import (
        _read_ext80,
        _ulaw_to_linear,
        _write_ext80,
        decode_aiff,
        decode_au,
        encode_aiff,
        encode_au,
        linear_to_ulaw,
    )

    rng = np.random.default_rng(5)
    for ch in (1, 2):
        a = rng.integers(-1024, 1024, (211, ch), dtype=np.int16)
        for rate in (8000, 44100):
            r, c, out = decode_aiff(encode_aiff(a, rate))
            assert (r, c) == (rate, ch) and (out == a).all()
            r, c, out = decode_au(encode_au(a, rate))
            assert (r, c) == (rate, ch) and (out == a).all()
    # 80-bit extended float round trip at common rates
    for rate in (8000, 11025, 22050, 44100, 48000, 96000):
        assert _read_ext80(_write_ext80(rate)) == rate
    # G.711 spec endpoints: silence and the +-32124 extremes
    assert int(_ulaw_to_linear(np.array([0xFF], np.uint8))[0]) == 0
    assert int(_ulaw_to_linear(np.array([0x80], np.uint8))[0]) == 32124
    assert int(_ulaw_to_linear(np.array([0x00], np.uint8))[0]) == -32124
    # mu-law is idempotent through its own twin: enc(dec(enc(x))) == enc(x)
    flat = rng.integers(-30000, 30000, 500)
    b = linear_to_ulaw(flat)
    assert (linear_to_ulaw(_ulaw_to_linear(b)) == b).all()
    # mu-law AU end-to-end stays within one quantization step
    a = rng.integers(-2048, 2048, (100, 1), dtype=np.int16)
    _, _, out = decode_au(encode_au(a, 8000, ulaw=True))
    assert np.abs(out.astype(int) - a.astype(int)).max() <= 64
    # error paths
    with pytest.raises(ValueError):
        decode_aiff(b"FORM\x00\x00\x00\x04NOPE")
    with pytest.raises(ValueError):
        decode_au(b".sndxx")
    # compressed AIFC / exotic AU encodings degrade, never mis-decode
    comm = struct.pack(">HIH", 1, 1, 16) + _write_ext80(8000) + b"ima4"
    aifc = (b"FORM" + struct.pack(">I", 4 + 8 + len(comm) + 8 + 8) + b"AIFC"
            + b"COMM" + struct.pack(">I", len(comm)) + comm
            + b"SSND" + struct.pack(">I", 8) + b"\x00" * 8)
    with pytest.raises(NotImplementedError):
        decode_aiff(aifc)
    with pytest.raises(NotImplementedError):  # 23 = G.721 ADPCM
        decode_au(b".snd" + struct.pack(">IIIII", 24, 4, 23, 8000, 1) + b"\x00" * 4)


def _lzw_compress_gif(indices, bits):
    """Real GIF LZW compressor (dict growth + width increases) — exists so
    the decoder's growth path is tested against a conforming encoder, not
    just the clear-per-pixel synthesis stream."""
    clear, end = 1 << bits, (1 << bits) + 1
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = bits + 1
    acc = nbits = 0
    out = bytearray()

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    seq = ()
    for px in indices:
        cand = seq + (int(px),)
        if cand in table:
            seq = cand
        else:
            emit(table[seq])
            table[cand] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
            if next_code >= 4096:
                emit(clear)
                table = {(i,): i for i in range(clear)}
                next_code = end + 1
                width = bits + 1
            seq = (int(px),)
    if seq:
        emit(table[seq])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_gif_decode_real_lzw_stream():
    """Dict-growth LZW (what real encoders emit), repetitive data so the
    table actually grows and the code width increases."""
    import struct

    import numpy as np

    from htmlx.spark.multimodal import decode_gif, decode_image

    rng = np.random.default_rng(5)
    idx = np.repeat(rng.integers(0, 8, (31, 7), dtype=np.uint8), 3, axis=1)  # runs
    h, w = idx.shape
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    bits = 8
    lzw = _lzw_compress_gif(idx.ravel(), bits)
    gif = bytearray(b"GIF89a")
    gif += struct.pack("<HHBBB", w, h, 0x80 | 7, 0, 0) + pal.tobytes()
    gif += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0) + bytes([bits])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        gif += bytes([len(chunk)]) + chunk
    gif += b"\x00\x3b"
    out = decode_gif(bytes(gif))
    assert (out == pal[idx.astype(int)]).all()
    assert decode_image(bytes(gif)).shape == (h, w, 3)


def test_gif_error_paths():
    import pytest

    from htmlx.spark.multimodal import decode_gif

    with pytest.raises(ValueError):
        decode_gif(b"GIF89a\x00")  # truncated
    with pytest.raises(ValueError):
        decode_gif(b"JIF89a_not_a_gif")


# --- PNG palette + Adam7, GIF interlace tiers ------------------------------

def test_png_palette_roundtrip_with_trns_alpha():
    import numpy as np

    from htmlx.spark.multimodal import decode_png, encode_png

    rnd = np.random.RandomState(5)
    pal = rnd.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = rnd.randint(0, 16, (9, 7)).astype(np.uint8)
    png = encode_png(idx, palette=pal, row_filter=lambda y: y % 5)
    out = decode_png(png)
    assert out.shape == (9, 7, 3) and (out == pal[idx]).all()
    # tRNS: alpha per palette entry, entries past the table default 255
    import struct, zlib as _z
    trns = bytes([10, 200, 30])
    chunk = struct.pack(">I", 3) + b"tRNS" + trns + struct.pack(
        ">I", _z.crc32(b"tRNS" + trns) & 0xFFFFFFFF)
    iend = png.index(b"IDAT") - 4
    png_t = png[:iend] + chunk + png[iend:]
    out_t = decode_png(png_t)
    assert out_t.shape == (9, 7, 4)
    exp_alpha = np.full(16, 255, np.uint8); exp_alpha[:3] = [10, 200, 30]
    assert (out_t[:, :, 3] == exp_alpha[idx]).all()
    assert (out_t[:, :, :3] == pal[idx]).all()


def test_png_palette_index_out_of_range():
    import numpy as np
    import pytest

    from htmlx.spark.multimodal import decode_png, encode_png

    pal = np.zeros((4, 3), np.uint8)
    idx = np.full((2, 2), 9, np.uint8)  # index 9 > palette size 4
    with pytest.raises(ValueError, match="palette_index_out_of_range"):
        decode_png(encode_png(idx, palette=pal))


def test_png_adam7_all_channel_counts_and_edge_dims():
    import numpy as np

    from htmlx.spark.multimodal import decode_png, encode_png

    rnd = np.random.RandomState(6)
    # dims straddling the pass grid: some passes empty, single row/col
    for ch in (1, 2, 3, 4):
        for h, w in ((1, 1), (3, 2), (8, 8), (9, 17), (1, 20), (16, 1)):
            a = rnd.randint(0, 256, (h, w, ch)).astype(np.uint8)
            png = encode_png(
                a[:, :, 0] if ch == 1 else a,
                row_filter=lambda y: (y * 3) % 5, interlace=1)
            got = decode_png(png)
            assert got.shape == (h, w, ch)
            assert (got == a).all(), (ch, h, w)


def test_png_palette_adam7_combined():
    import numpy as np

    from htmlx.spark.multimodal import decode_png, encode_png

    rnd = np.random.RandomState(7)
    pal = rnd.randint(0, 256, (32, 3)).astype(np.uint8)
    idx = rnd.randint(0, 32, (13, 11)).astype(np.uint8)
    out = decode_png(encode_png(idx, palette=pal, interlace=1))
    assert (out == pal[idx]).all()


def test_gif_interlace_roundtrip_and_row_order():
    import numpy as np

    from htmlx.spark.multimodal import (
        _gif_interlace_order, decode_gif, encode_gif)

    # the spec's pass order for h=8: 0, 4, 2, 6, 1, 3, 5, 7
    assert _gif_interlace_order(8) == [0, 4, 2, 6, 1, 3, 5, 7]
    assert sorted(_gif_interlace_order(37)) == list(range(37))
    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    rnd = np.random.RandomState(8)
    for h in (1, 2, 5, 8, 23):
        idx = rnd.randint(0, 256, (h, 6)).astype(np.uint8)
        out = decode_gif(encode_gif(idx, pal, interlace=True))
        assert (out == pal[idx]).all(), h
    # interlaced and sequential encodings of the same raster decode equal
    idx = rnd.randint(0, 256, (16, 4)).astype(np.uint8)
    a = decode_gif(encode_gif(idx, pal, interlace=True))
    b = decode_gif(encode_gif(idx, pal))
    assert (a == b).all()


def test_png_missing_plte_is_value_error():
    import struct
    import zlib as _z

    import pytest

    from htmlx.spark.multimodal import _PNG_SIG, decode_png

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    png = _PNG_SIG + struct.pack(">I", 13) + b"IHDR" + ihdr + struct.pack(
        ">I", _z.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="missing_plte"):
        decode_png(png)


def test_png_bit_depths_gray():
    """1/2/4-bit gray scales exactly by 255/(2^d - 1); 16-bit keeps the
    high byte."""
    import numpy as np

    from htmlx.spark.multimodal import decode_png, encode_png

    rnd = np.random.RandomState(9)
    for d in (1, 2, 4):
        raw = rnd.randint(0, 1 << d, (9, 13)).astype(np.uint8)
        out = decode_png(encode_png(raw, depth=d, row_filter=lambda y: y % 5))
        assert out.shape == (9, 13, 1)
        assert (out[:, :, 0] == raw * (255 // ((1 << d) - 1))).all(), d
    v16 = rnd.randint(0, 1 << 16, (5, 7)).astype(np.uint16)
    out = decode_png(encode_png(v16, depth=16, row_filter=lambda y: (y + 1) % 5))
    assert (out[:, :, 0] == (v16 >> 8)).all()
    # 16-bit RGB too
    v16c = rnd.randint(0, 1 << 16, (4, 3, 3)).astype(np.uint16)
    out = decode_png(encode_png(v16c, depth=16))
    assert out.shape == (4, 3, 3)
    assert (out == (v16c >> 8)).all()


def test_png_bit_depths_palette_and_interlace():
    import numpy as np

    from htmlx.spark.multimodal import decode_png, encode_png

    rnd = np.random.RandomState(10)
    for d in (1, 2, 4):
        pal = rnd.randint(0, 256, (1 << d, 3)).astype(np.uint8)
        idx = rnd.randint(0, 1 << d, (11, 6)).astype(np.uint8)
        for il in (0, 1):
            out = decode_png(encode_png(idx, palette=pal, depth=d, interlace=il))
            assert (out == pal[idx]).all(), (d, il)
    # sub-byte gray + Adam7 (odd widths stress per-pass bit packing)
    for d in (1, 2, 4):
        raw = rnd.randint(0, 1 << d, (13, 5)).astype(np.uint8)
        out = decode_png(encode_png(raw, depth=d, interlace=1))
        assert (out[:, :, 0] == raw * (255 // ((1 << d) - 1))).all(), d


# ---------------------------------------------------------------------------
# animated GIF compositing + ICO favicons
# ---------------------------------------------------------------------------

def test_gif_animation_disposal_and_transparency():
    import numpy as np

    from htmlx.spark.multimodal import (
        decode_gif,
        decode_gif_frames,
        encode_gif,
        encode_gif_animation,
    )

    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    rnd = np.random.RandomState(8)
    base = rnd.randint(0, 256, (8, 10)).astype(np.uint8)
    p1 = rnd.randint(0, 256, (4, 5)).astype(np.uint8)
    p2 = rnd.randint(0, 256, (3, 4)).astype(np.uint8)
    anim = encode_gif_animation(pal, (10, 8), [
        dict(indices=base, disposal=1, delay_cs=3),
        dict(x=2, y=1, indices=p1, disposal=3, transparent=0, delay_cs=4),
        dict(x=3, y=2, indices=p2, disposal=2, transparent=7, delay_cs=5),
    ])
    frames, delays = decode_gif_frames(anim)
    assert delays == [30, 40, 50] and len(frames) == 3
    assert (frames[0][:, :, :3] == pal[base]).all()
    exp1 = pal[base].copy()
    m = p1 != 0  # transparent pixels keep the base
    exp1[1:5, 2:7][m] = pal[p1][m]
    assert (frames[1][:, :, :3] == exp1).all()
    exp2 = pal[base].copy()  # disposal 3 restored the base under patch2
    m2 = p2 != 7
    exp2[2:5, 3:7][m2] = pal[p2][m2]
    assert (frames[2][:, :, :3] == exp2).all()
    # disposal 2 clears the frame rect to transparent for a following frame
    anim2 = encode_gif_animation(pal, (6, 4), [
        dict(indices=np.full((4, 6), 9, np.uint8), disposal=2, delay_cs=1),
        dict(x=0, y=0, indices=np.full((1, 1), 5, np.uint8)),
    ])
    f2, _ = decode_gif_frames(anim2)
    assert f2[1][0, 0, 3] == 255 and (f2[1][1:, :, 3] == 0).all()
    # single-frame equivalence with decode_gif (plus opaque alpha)
    idx = rnd.randint(0, 256, (5, 7)).astype(np.uint8)
    g = encode_gif(idx, pal, interlace=True)
    frames, delays = decode_gif_frames(g)
    assert len(frames) == 1 and delays == [0]
    assert (frames[0][:, :, :3] == decode_gif(g)).all()
    assert (frames[0][:, :, 3] == 255).all()


def test_gif_animation_error_paths():
    import numpy as np
    import pytest as _pytest

    from htmlx.spark.multimodal import decode_gif_frames, encode_gif_animation

    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    with _pytest.raises(ValueError, match="frame_outside_canvas"):
        decode_gif_frames(encode_gif_animation(pal, (4, 4), [
            dict(x=2, y=2, indices=np.zeros((3, 3), np.uint8)),
        ]))
    with _pytest.raises(ValueError):
        decode_gif_frames(b"GIF89a\x00\x00")


def test_ico_roundtrips_and_dispatch():
    import numpy as np

    from htmlx.spark.multimodal import decode_image, encode_png
    from htmlx.spark.tiffbmp import decode_ico
    from tests.oracles import encode_ico

    rnd = np.random.RandomState(9)
    a = rnd.randint(0, 256, (7, 9, 4)).astype(np.uint8)
    ico = encode_ico([("bmp", a)])
    assert (decode_ico(ico) == a).all()
    assert (decode_image(ico) == a).all()  # dispatch on 00 00 01 00
    p = rnd.randint(0, 256, (6, 5, 4)).astype(np.uint8)
    assert (decode_ico(encode_ico([("png", encode_png(p))])) == p).all()
    # largest-entry selection
    assert (decode_ico(encode_ico([("png", encode_png(p)), ("bmp", a)])) == a).all()


def test_ico_error_paths():
    import pytest as _pytest

    from htmlx.spark.tiffbmp import decode_ico

    with _pytest.raises(ValueError):
        decode_ico(b"\x00\x00\x02\x00")  # CUR, not ICO
    with _pytest.raises(ValueError):
        decode_ico(b"\x00\x00\x01\x00\x01\x00" + b"\x00" * 10)


def test_webp_and_ico_dimensions_and_sniff():
    """Header-only dims for all three WebP shapes (VP8L bits, VP8X canvas,
    lossy VP8 keyframe) and ICO directories — metadata comes out even
    where pixel decode degrades (lossy VP8)."""
    import struct

    import numpy as np

    from htmlx.spark.multimodal import image_dimensions, sniff_mime
    from tests.oracles import encode_ico
    from htmlx.spark.vp8l import encode_vp8l

    p = encode_vp8l(np.zeros((7, 11, 4), np.uint8))
    assert image_dimensions(p) == (11, 7) and sniff_mime(p) == "image/webp"
    vp8x = b"\x00" * 4 + (15).to_bytes(3, "little") + (9).to_bytes(3, "little")
    w = (b"RIFF" + struct.pack("<I", 22) + b"WEBPVP8X"
         + struct.pack("<I", 10) + vp8x)
    assert image_dimensions(w) == (16, 10)
    body = b"\x00\x00\x00\x9d\x01\x2a" + struct.pack("<HH", 640, 480)
    w2 = (b"RIFF" + struct.pack("<I", 4 + 8 + len(body)) + b"WEBPVP8 "
          + struct.pack("<I", len(body)) + body)
    assert image_dimensions(w2) == (640, 480)
    ico = encode_ico([("bmp", np.zeros((9, 12, 4), np.uint8))])
    assert image_dimensions(ico) == (12, 9)
    assert sniff_mime(ico) == "image/x-icon"
    # real libwebp file (VP8X): 16x16 canvas
    import glob
    anchors = glob.glob("/root/.pyenv/versions/3.13*/lib/python*/test/*/data/python.webp")
    if anchors:
        assert image_dimensions(open(anchors[0], "rb").read()) == (16, 16)


def test_svg_and_avif_sniff_and_dimensions():
    """Modern web image formats whose PIXEL decode genuinely needs a codec
    but whose classification and dims must still come out: SVG (root-tag
    attrs + viewBox fallback), AVIF/HEIC (ispe box walk; ftyp brands no
    longer mis-sniffed as video/mp4)."""
    from htmlx.spark.multimodal import image_dimensions, sniff_mime

    svg = (b'<?xml version="1.0"?>\n<svg xmlns="x" width="120px" '
           b'height="45" viewBox="0 0 120 45"><rect/></svg>')
    assert sniff_mime(svg) == "image/svg+xml"
    assert image_dimensions(svg) == (120, 45)
    assert image_dimensions(b'<svg viewBox="0 0 300 150"/>') == (300, 150)
    assert image_dimensions(b'<svg width="100%" height="5em"/>') == (0, 0)
    assert sniff_mime(b"\xef\xbb\xbf  <svg/>") == "image/svg+xml"
    assert sniff_mime(b"plain text with <svg inside") != "image/svg+xml"

    def box(t, body):
        return (8 + len(body)).to_bytes(4, "big") + t + body

    ispe = box(b"ispe", b"\x00\x00\x00\x00" + (640).to_bytes(4, "big")
               + (360).to_bytes(4, "big"))
    meta = box(b"meta", b"\x00\x00\x00\x00" + box(b"iprp", box(b"ipco", ispe)))
    assert sniff_mime(box(b"ftyp", b"avifmif1") + meta) == "image/avif"
    assert image_dimensions(box(b"ftyp", b"avifmif1") + meta) == (640, 360)
    assert sniff_mime(box(b"ftyp", b"heicmif1") + meta) == "image/heic"
    assert sniff_mime(box(b"ftyp", b"isomiso2")) == "video/mp4"  # unchanged


def test_metadata_probe_degrades_malformed_payloads():
    """Review finding: the metadata stage's decode probe must catch
    declared corruption (ValueError/zlib.error), not just
    decoder_unavailable — a truncated known-mime payload previously
    killed the mapInPandas task. Also pins: weak ICO magic loses to
    ftyp; HTML with inline <svg> is not an SVG; stroke-width doesn't
    shadow width."""
    import pandas as pd

    from htmlx.spark.multimodal import image_dimensions, sniff_mime

    assert sniff_mime(b"<!DOCTYPE html><html><svg width='1'>") == "application/octet-stream"
    assert image_dimensions(b'<svg stroke-width="2" width="120" height="45">') == (120, 45)
    big_ftyp = (256).to_bytes(4, "big") + b"ftypavif" + b"\x00" * 248
    assert sniff_mime(big_ftyp) == "image/avif"
    assert image_dimensions(b"\x00\x00\x01\x00\x01\x00" + b"\x00" * 10) == (0, 0)


def test_alaw_twin_roundtrip_and_endpoints():
    import numpy as np

    from htmlx.spark.multimodal import (
        _alaw_to_linear,
        decode_au,
        encode_au,
        linear_to_alaw,
    )

    rng = np.random.default_rng(11)
    flat = rng.integers(-30000, 30000, 500)
    b = linear_to_alaw(flat)
    # A-law is idempotent through its own twin
    assert (linear_to_alaw(_alaw_to_linear(b)) == b).all()
    # spec endpoints: +-max magnitude 32256, near-zero codes decode small
    assert int(_alaw_to_linear(np.array([0xAA], np.uint8))[0]) == 32256
    assert int(_alaw_to_linear(np.array([0x2A], np.uint8))[0]) == -32256
    assert abs(int(_alaw_to_linear(np.array([0x55], np.uint8))[0])) == 8
    # A-law AU end-to-end stays within one quantization step
    a = rng.integers(-2048, 2048, (100, 2), dtype=np.int16)
    _, _, out = decode_au(encode_au(a, 8000, alaw=True))
    assert np.abs(out.astype(int) - a.astype(int)).max() <= 64


def test_wbmp_roundtrip_dispatch_and_error_paths():
    import numpy as np
    import pytest

    from htmlx.spark.multimodal import decode_image, decode_wbmp
    from tests.oracles import encode_wbmp

    rng = np.random.default_rng(13)
    for hw in ((1, 1), (8, 8), (23, 61), (5, 200)):
        a = (rng.integers(0, 2, hw) * 255).astype(np.uint8)
        payload = encode_wbmp(a)
        assert (decode_wbmp(payload)[:, :, 0] == a).all()
        # magic-less container: dispatch discriminates structurally
        assert (decode_image(payload)[:, :, 0] == a).all()
    # multibyte dims beyond one byte (w=200 exercises the 0x80 chain)
    assert encode_wbmp(np.zeros((5, 200), np.uint8))[2] & 0x80
    with pytest.raises(ValueError):
        decode_wbmp(b"\x01\x00\x05\x05\x00")  # type != 0
    with pytest.raises(ValueError):
        decode_wbmp(b"\x00\x00\x05\x05")  # no row data
    with pytest.raises(ValueError):
        decode_wbmp(b"\x00\x00\x00\x05")  # zero width
    with pytest.raises(ValueError):  # unbounded multibyte dims -> bomb guard
        decode_wbmp(b"\x00\x00\xff\xff\xff\xff\x7f\x01" + b"\x00" * 64)


def test_aifc_sowt_little_endian_roundtrip():
    import numpy as np

    from htmlx.spark.multimodal import decode_aiff, decode_audio, encode_aiff

    rng = np.random.default_rng(17)
    a = rng.integers(-20000, 20000, (150, 2), dtype=np.int16)
    payload = encode_aiff(a, 22050, sowt=True)
    assert payload[8:12] == b"AIFC" and b"sowt" in payload[:64]
    r, c, out = decode_aiff(payload)
    assert (r, c) == (22050, 2) and (out == a).all()
    assert decode_audio(payload)[0] == 22050


def test_pnm_all_six_formats_roundtrip_and_errors():
    import numpy as np
    import pytest

    from htmlx.spark.multimodal import decode_image, decode_pnm
    from tests.oracles import encode_pnm

    rng = np.random.default_rng(29)
    # bitmap kinds: nonzero = black per PBM spec (opposite of WBMP)
    for kind in (1, 4):
        a = (rng.integers(0, 2, (13, 21)) * 255).astype(np.uint8)
        out = decode_pnm(encode_pnm(a, kind=kind))
        assert (out == np.where(a > 0, 0, 255)[:, :, None]).all()
    for kind, c in ((2, 1), (3, 3), (5, 1), (6, 3)):
        a = rng.integers(0, 256, (9, 7, c)).astype(np.uint8)
        assert (decode_pnm(encode_pnm(a, kind=kind)) == a).all()
    # maxval scaling + 16-bit high-byte convention
    a = rng.integers(0, 16, (4, 4, 1)).astype(np.uint8)
    assert (decode_pnm(encode_pnm(a, kind=5, maxval=15))
            == a.astype(int) * 255 // 15).all()
    a16 = rng.integers(0, 65536, (5, 6, 1))
    assert (decode_pnm(encode_pnm(a16, kind=5, maxval=65535))
            == a16 * 255 // 65535).all()
    # header comments anywhere, unseparated P1 digits
    assert decode_pnm(b"P2 # c\n2 1\n#x\n9\n4 9").tolist() == [[[113], [255]]]
    assert decode_pnm(b"P1\n2 2\n0110").tolist() == [[[255], [0]], [[0], [255]]]
    # dispatch
    assert decode_image(encode_pnm(rng.integers(0, 256, (3, 3, 3)).astype(np.uint8))).shape == (3, 3, 3)
    # error paths: truncation, sample > maxval, zero dims
    with pytest.raises(ValueError):
        decode_pnm(b"P5\n4 4\n255\nab")
    with pytest.raises(ValueError):
        decode_pnm(b"P2\n1 1\n10\n11")
    with pytest.raises(ValueError):
        decode_pnm(b"P5\n0 4\n255\n")


def test_png_text_chunks_all_kinds():
    """tEXt, zTXt and iTXt chunks spliced after IHDR leave the decoded
    pixels unchanged: decode_png skips ancillary chunks."""
    import struct
    import zlib

    import numpy as np

    from htmlx.spark.multimodal import decode_png, encode_png

    base = encode_png(np.zeros((2, 2), np.uint8))
    ihdr_end = 8 + 8 + 13 + 4  # sig + len/type + IHDR body + crc
    png = base
    for kind, data in (
        (b"tEXt", b"Software\x00htmlx 1.0"),
        (b"zTXt", b"Comment\x00\x00" + zlib.compress(b"compressed words")),
        (b"iTXt", b"Title\x00\x01\x00en\x00\x00"
         + zlib.compress("unicode — ïtxt".encode("utf-8"))),
    ):
        chunk = struct.pack(">I", len(data)) + kind + data + struct.pack(
            ">I", zlib.crc32(kind + data) & 0xFFFFFFFF)
        png = png[:ihdr_end] + chunk + png[ihdr_end:]
    assert (decode_png(png) == 0).all()


def test_gif_comments_and_svg_title_desc():
    """A spliced two-sub-block GIF comment extension leaves the decoded
    pixels unchanged."""
    import numpy as np

    from htmlx.spark.multimodal import decode_gif, encode_gif

    pal = np.stack([np.arange(256)] * 3, 1).astype(np.uint8)
    g = encode_gif(np.zeros((4, 4), np.uint8), pal)
    # splice a two-sub-block comment extension after header + GCT
    at = 13 + 768
    comment = b"\x21\xfe" + bytes([7]) + b"made by" + bytes([5]) + b" twin" + b"\x00"
    g2 = g[:at] + comment + g[at:]
    assert (decode_gif(g2) == decode_gif(g)).all()


def test_svg_title_desc_doctype_and_comment_prefix():
    """ADVICE r5: sniff_mime accepts DOCTYPE- or comment-prefixed SVGs
    and rejects HTML with an inline <svg>."""
    from htmlx.spark.multimodal import sniff_mime

    doc = (b'<?xml version="1.0"?>\n'
           b'<!DOCTYPE svg PUBLIC "-//W3C//DTD SVG 1.1//EN" "svg11.dtd">\n'
           b'<!-- exported -->\n'
           b'<svg xmlns="x"><title>Doc</title><desc>d</desc></svg>')
    assert sniff_mime(doc) == "image/svg+xml"
    html = b"<!DOCTYPE html><html><body><svg><title>x</title></svg></body></html>"
    assert sniff_mime(html) != "image/svg+xml"


def test_pnm_p1_comments_in_raster():
    """ADVICE r5: '#' comments inside a P1 raster region (spec-legal)
    are stripped before the 0/1 collection — commented digits must not
    shift subsequent pixels."""
    from htmlx.spark.multimodal import decode_pnm

    img = decode_pnm(b"P1\n2 2\n01#comment 10 full of 1s and 0s\n10")
    assert img.tolist() == [[[255], [0]], [[0], [255]]]
