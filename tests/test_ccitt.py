"""CCITT G3/G4 (ITU-T T.4/T.6) decode — twins, containers, edge cases,
fuzz. Real-encoder anchors live in test_real_anchors.py."""

import random

import numpy as np
import pytest

from htmlx.spark.ccitt import (
    decode_ccitt,
    encode_ccitt_g3_1d,
    encode_ccitt_g3_mixed,
    encode_ccitt_g4,
    encode_tiff_ccitt,
)
from tests.oracles import encode_tiff_ccitt_tiled


def _images(rng):
    for trial in range(120):
        h, w = int(rng.integers(1, 16)), int(rng.integers(1, 64))
        kind = trial % 5
        if kind == 0:
            yield (rng.random((h, w)) < 0.5).astype(np.uint8)
        elif kind == 1:
            yield np.zeros((h, w), np.uint8)
        elif kind == 2:
            yield np.ones((h, w), np.uint8)
        elif kind == 3:
            yield (np.add.outer(np.arange(h), np.arange(w)) % 3 == 0).astype(np.uint8)
        else:
            yield (rng.random((h, w)) < 0.05).astype(np.uint8)  # fax-like sparse ink


def test_g4_roundtrip_battery():
    rng = np.random.default_rng(11)
    for img in _images(rng):
        h, w = img.shape
        assert (decode_ccitt(encode_ccitt_g4(img), w, h, k=-1) == img).all()


def test_g3_1d_roundtrip_battery():
    rng = np.random.default_rng(12)
    for img in _images(rng):
        h, w = img.shape
        for ba, eol in ((False, False), (True, False), (False, True), (True, True)):
            enc = encode_ccitt_g3_1d(img, byte_align=ba, with_eol=eol)
            assert (decode_ccitt(enc, w, h, k=0, byte_align=ba) == img).all()


def test_long_runs_use_makeup_codes():
    # fax-width line: extended makeup (1792-2560) + chained makeups
    img = np.zeros((4, 3000), np.uint8)
    img[:, 2900:] = 1
    img[2, :7] = 1
    assert (decode_ccitt(encode_ccitt_g4(img), 3000, 4, k=-1) == img).all()
    assert (decode_ccitt(encode_ccitt_g3_1d(img), 3000, 4, k=0) == img).all()


def test_vertical_pass_horizontal_modes_all_hit():
    # staircase exercises V±1..±3; a wide gap under a narrow mark forces
    # pass mode; alternating noise forces horizontal
    img = np.zeros((8, 40), np.uint8)
    for y in range(8):
        img[y, 5 + y : 9 + y] = 1  # staircase (vertical modes)
    img[0, 20:36] = 1
    img[1, 24:26] = 1  # pass-mode shape
    img[7, ::2] = 1  # horizontal-mode noise
    assert (decode_ccitt(encode_ccitt_g4(img), 40, 8, k=-1) == img).all()


def test_tiff_container_twin_all_compressions():
    ink = (np.add.outer(np.arange(9), np.arange(31)) % 5 < 2).astype(np.uint8)
    from htmlx.spark.tiffbmp import decode_tiff

    for comp in (2, 3, 4):
        px = decode_tiff(encode_tiff_ccitt(ink, comp))
        assert px.shape == (9, 31, 1)
        assert (px[:, :, 0] == 255 * (1 - ink)).all()


def test_pdf_ccittfax_filter():
    """PDF CCITTFaxDecode image XObject: K<0 (G4) and K=0 (MH) routes,
    /BlackIs1 both ways."""
    from tests.oracles import pdf_image_rows

    ink = (np.add.outer(np.arange(7), np.arange(19)) % 4 == 1).astype(np.uint8)
    h, w = ink.shape

    def pdf_with(data, extra):
        return (
            b"%PDF-1.7\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
            b"2 0 obj\n<< /Subtype /Image /Width " + str(w).encode()
            + b" /Height " + str(h).encode()
            + b" /Filter /CCITTFaxDecode " + extra
            + b" /Length " + str(len(data)).encode()
            + b" >>\nstream\n" + data + b"\nendstream\nendobj\n%%EOF\n"
        )

    g4 = encode_ccitt_g4(ink)
    out = pdf_image_rows(pdf_with(g4, b"/DecodeParms << /K -1 /Columns "
                                      + str(w).encode() + b" /Rows " + str(h).encode() + b" >>"))
    assert len(out) == 1 and out[0]["error"] == ""
    assert (out[0]["width"], out[0]["height"], out[0]["img_filter"]) == (w, h, "ccitt")
    import binascii
    import hashlib

    # BlackIs1 default false: sample 0 = black -> pixel 0
    expect = ((1 - ink) * 255).astype(np.uint8)
    assert out[0]["px_md5"] == hashlib.md5(binascii.hexlify(expect.tobytes())).hexdigest()

    mh = encode_ccitt_g3_1d(ink)
    out2 = pdf_image_rows(pdf_with(mh, b"/K 0 /BlackIs1 true"))
    assert out2[0]["error"] == ""
    expect2 = (ink * 255).astype(np.uint8)
    assert out2[0]["px_md5"] == hashlib.md5(binascii.hexlify(expect2.tobytes())).hexdigest()


def test_malformed_inputs_degrade_declared():
    with pytest.raises(ValueError):
        decode_ccitt(b"", 10, 10, k=-1)
    # all-ones is LEGAL (a run of V0s -> all-white rows), so pin that too
    assert (decode_ccitt(b"\xff\xff\xff", 10, 2, k=-1) == 0).all()
    with pytest.raises(ValueError):
        decode_ccitt(b"\x00\x00\x00", 10, 2, k=-1)  # 6+ zeros: no such 2D mode
    with pytest.raises(ValueError):
        decode_ccitt(b"\x00" * 8, 0, 4, k=-1)  # bad geometry
    # truncated mid-row
    img = (np.add.outer(np.arange(6), np.arange(30)) % 7 < 3).astype(np.uint8)
    enc = encode_ccitt_g4(img)
    with pytest.raises(ValueError):
        decode_ccitt(enc[: len(enc) // 3], 30, 6, k=-1)


def test_fuzz_declared_degradations_only():
    """Bit-flip + truncation fuzz: decode must return an array or raise
    ValueError — never IndexError/KeyError (mapInPandas task killers) and
    never hang (the no-progress guards)."""
    rng = random.Random(13)
    img = (np.add.outer(np.arange(8), np.arange(40)) % 6 < 3).astype(np.uint8)
    seeds = [
        (encode_ccitt_g4(img), -1, False),
        (encode_ccitt_g3_1d(img), 0, False),
        (encode_ccitt_g3_1d(img, byte_align=True), 0, True),
        (encode_ccitt_g3_1d(img, with_eol=True), 1, False),
    ]
    for seed, k, ba in seeds:
        for _ in range(150):
            b = bytearray(seed)
            for _ in range(rng.randint(1, 5)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            cut = rng.randrange(len(b) + 1)
            for payload in (bytes(b), bytes(b[:cut])):
                try:
                    out = decode_ccitt(payload, 40, 8, k=k, byte_align=ba)
                    assert out.shape == (8, 40)
                except ValueError:
                    pass


def test_g3_mixed_mode_roundtrip_battery():
    """PDF /K > 0 route: EOL + tag bit per row, alternating and all-2D
    row coding (encode_ccitt_g3_mixed twin)."""
    rng = np.random.default_rng(21)
    for img in _images(rng):
        h, w = img.shape
        for pattern in ("alternate", "all2d"):
            enc = encode_ccitt_g3_mixed(img, pattern)
            assert (decode_ccitt(enc, w, h, k=1) == img).all()


def test_tiff_t4_2d_flag():
    from htmlx.spark.tiffbmp import decode_tiff

    ink = (np.add.outer(np.arange(11), np.arange(37)) % 6 < 3).astype(np.uint8)
    px = decode_tiff(encode_tiff_ccitt(ink, compression=3, mixed=True))
    assert (px[:, :, 0] == 255 * (1 - ink)).all()


def test_pdf_ccitt_k_positive():
    from tests.oracles import pdf_image_rows

    ink = (np.add.outer(np.arange(6), np.arange(23)) % 5 < 2).astype(np.uint8)
    h, w = ink.shape
    data = encode_ccitt_g3_mixed(ink)
    body = (
        b"%PDF-1.7\n1 0 obj\n<< /Subtype /Image /Width " + str(w).encode()
        + b" /Height " + str(h).encode()
        + b" /Filter /CCITTFaxDecode /DecodeParms << /K 1 /Columns "
        + str(w).encode() + b" /Rows " + str(h).encode() + b" >>"
        + b" /Length " + str(len(data)).encode()
        + b" >>\nstream\n" + data + b"\nendstream\nendobj\n%%EOF\n"
    )
    out = pdf_image_rows(body)
    assert out[0]["error"] == "" and (out[0]["width"], out[0]["height"]) == (w, h)


# --- review-finding regressions (r5) ----------------------------------------


def test_t4_fill_bit_option_byte_aligned_eols_decode():
    """T4Options bit 2 (encoder padded fill bits so each EOL ends on a
    byte boundary) needs NO reader-side mode switch — the EOL scan
    tolerates fill zeros; forcing byte_align used to reject these (review
    finding)."""
    import struct

    from htmlx.spark.ccitt import WHITE_CODES, BLACK_CODES, _BitWriter, _runs_of, _write_run
    from htmlx.spark.tiffbmp import decode_tiff

    ink = (np.add.outer(np.arange(5), np.arange(21)) % 4 < 2).astype(np.uint8)
    h, w = ink.shape
    bw = _BitWriter()
    for row in ink:
        # pad fill zeros so the 12-bit EOL ENDS on a byte boundary
        while (bw.nbits + 12) % 8 != 0:
            bw.write("0")
        bw.write("000000000001")
        color = 0
        for run in _runs_of(list(row)):
            _write_run(bw, run, WHITE_CODES if color == 0 else BLACK_CODES)
            color ^= 1
    data = bw.done()
    # minimal TIFF with Compression=3 and T4Options=4 (fill-bit flag)
    entries = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 1), (259, 3, 1, 3),
        (262, 3, 1, 0), (273, 4, 1, 0), (277, 3, 1, 1), (278, 3, 1, h),
        (279, 4, 1, len(data)), (292, 4, 1, 4),
    ]
    data_off = 8 + 2 + 12 * len(entries) + 4
    out = bytearray(b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", len(entries)))
    for tag, typ, cnt, val in entries:
        out += struct.pack("<HHII", tag, typ, cnt, data_off if tag == 273 else val)
    out += struct.pack("<I", 0) + data
    px = decode_tiff(bytes(out))
    assert (px[:, :, 0] == 255 * (1 - ink)).all()


def test_ccitt_strip_count_mismatch_is_valueerror():
    import struct

    from htmlx.spark.ccitt import encode_tiff_ccitt
    from htmlx.spark.tiffbmp import decode_tiff

    ink = np.zeros((4, 10), np.uint8)
    t = bytearray(encode_tiff_ccitt(ink))
    # corrupt StripOffsets count to 2 while StripByteCounts stays 1
    idx = t.find(struct.pack("<HHI", 273, 4, 1))
    assert idx > 0
    t[idx + 4 : idx + 8] = struct.pack("<I", 2)
    with pytest.raises(ValueError):
        decode_tiff(bytes(t))


def test_pdf_zero_area_and_oversized_images_degrade():
    from tests.oracles import pdf_image_rows

    # 0x0 raw image: must be a per-image corrupt row, not ZeroDivisionError
    body = (
        b"%PDF-1.7\n1 0 obj\n<< /Subtype /Image /Width 0 /Height 0"
        b" /BitsPerComponent 8 /Length 0 >>\nstream\n\nendstream\nendobj\n%%EOF\n"
    )
    out = pdf_image_rows(body)
    assert out[0]["error"] == "corrupt_image"
    # CCITT bomb: geometry passing decode_ccitt's 2^30 guard must still be
    # capped by MAX_IMAGE_RASTER (128 MB) at the PDF layer
    body2 = (
        b"%PDF-1.7\n1 0 obj\n<< /Subtype /Image /Filter /CCITTFaxDecode"
        b" /DecodeParms << /K -1 /Columns 32000 /Rows 33000 >>"
        b" /Length 4 >>\nstream\n\x00\x00\x00\x00\nendstream\nendobj\n%%EOF\n"
    )
    out2 = pdf_image_rows(body2)
    assert out2[0]["error"] == "corrupt_image"


def test_pdf_profile_counts_but_decodes_only_first(monkeypatch):
    import htmlx.spark.pdf as P
    from htmlx.spark.jpeg import encode_jpeg

    jp = encode_jpeg(np.full((8, 8), 50, np.uint8))
    img_obj = (
        b"<< /Subtype /Image /Filter /DCTDecode /Length "
        + str(len(jp)).encode() + b" >>\nstream\n" + jp + b"\nendstream\nendobj\n"
    )
    body = b"%PDF-1.7\n" + b"".join(
        b"%d 0 obj\n" % (i + 1) + img_obj for i in range(3)
    ) + b"%%EOF\n"
    calls = []
    real = P._decode_image_stream
    monkeypatch.setattr(P, "_decode_image_stream", lambda d, r: calls.append(1) or real(d, r))
    # the profile walk must decode exactly ONE image but count all three
    rows = []
    for _num, _gen, obj_dict, raw in P._iter_image_streams(body):
        rows.append((obj_dict, raw))
    assert len(rows) == 3
    # emulate the profile stage's walk contract via the public stage
    from htmlx.spark.session import get_spark

    spark = get_spark(cores=2, app_name="pdf-profile-count")
    pdfs = spark.createDataFrame([("u", bytearray(body))], "url string, payload binary")
    out = P.extract_pdf_profile(pdfs).collect()[0]
    assert out["n_images"] == 3 and out["img_filter"] == "dct"


def test_tiled_ccitt_tiff_all_compressions():
    """Tiled CCITT layout (scanned maps/plans): each tile independently
    coded, padded to the grid, edge-cropped on paste."""
    from htmlx.spark.tiffbmp import decode_tiff

    rng = np.random.default_rng(31)
    for trial in range(10):
        h, w = int(rng.integers(3, 40)), int(rng.integers(3, 90))
        ink = (rng.random((h, w)) < 0.3).astype(np.uint8)
        for comp in (2, 3, 4):
            for tile in ((16, 8), (8, 8)):
                px = decode_tiff(encode_tiff_ccitt_tiled(ink, comp, tile))
                assert (px[:, :, 0] == 255 * (1 - ink)).all()


def test_tiled_tiff_fuzz_declared_degradations_only():
    import random

    from htmlx.spark.tiffbmp import decode_tiff

    img = (np.add.outer(np.arange(20), np.arange(50)) % 7 < 3).astype(np.uint8)
    seed = encode_tiff_ccitt_tiled(img, 4, (16, 8))
    rng = random.Random(17)
    for _ in range(250):
        b = bytearray(seed)
        for _ in range(rng.randint(1, 6)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        cut = rng.randrange(len(b) + 1)
        for payload in (bytes(b), bytes(b[:cut])):
            try:
                decode_tiff(payload)
            except (ValueError, NotImplementedError):
                pass


def test_tiled_ccitt_tile_dim_bomb_capped():
    """Declared tile dims are attacker-controlled: a huge TileWidth/Length
    claim on a tiny image must degrade, not allocate ~900 MB per task."""
    import struct

    from htmlx.spark.tiffbmp import decode_tiff

    ink = np.zeros((4, 10), np.uint8)
    t = bytearray(encode_tiff_ccitt_tiled(ink, 4, (8, 8)))
    for tag in (322, 323):  # TileWidth / TileLength -> 30000
        i = t.find(struct.pack("<HHI", tag, 3, 1))
        assert i > 0
        t[i + 8 : i + 12] = struct.pack("<I", 30000)
    with pytest.raises(ValueError):
        decode_tiff(bytes(t))
