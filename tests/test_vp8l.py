"""WebP lossless (VP8L) decode tier: synthesis-twin round-trips over every
decoder path plus a REAL libwebp-produced conformance anchor (the ALPH
alpha chunk of CPython's test-suite python.webp is VP8L-entropy-coded:
color-indexing transform with a 69-entry delta-coded palette, normal
huffman codes and LZ77 backward references)."""

import glob
import os
import struct

import numpy as np
import pytest

from htmlx.spark.vp8l import (
    _DIST_TABLE,
    _decode_image_stream,
    _LsbBits,
    decode_vp8l,
    decode_webp,
    encode_vp8l,
)

_ANCHORS = sorted(
    glob.glob("/root/.pyenv/versions/*/lib/python*/test/*/python.webp")
    + glob.glob("/root/.pyenv/versions/*/lib/python*/test/*/data/python.webp")
)


def test_roundtrip_matrix():
    rnd = np.random.RandomState(1)
    for shape in ((5, 7, 4), (1, 1, 4), (4, 16, 3), (11, 3, 4)):
        a = rnd.randint(0, 256, shape).astype(np.uint8)
        want = (
            a
            if shape[2] == 4
            else np.concatenate([a, np.full(shape[:2] + (1,), 255, np.uint8)], axis=2)
        )
        for sg in (False, True):
            for cb in (0, 4):
                for lz in (False, True):
                    got = decode_webp(
                        encode_vp8l(a, subtract_green=sg, cache_bits=cb, lz77=lz)
                    )
                    assert got.shape == want.shape and (got == want).all(), (
                        shape, sg, cb, lz,
                    )


def test_lz77_runs_and_row_copies():
    rnd = np.random.RandomState(2)
    a = np.tile(rnd.randint(0, 256, (2, 4, 4)).astype(np.uint8), (8, 8, 1))
    for d2 in (False, True):  # linear distances vs 2D neighborhood codes
        got = decode_webp(encode_vp8l(a, cache_bits=6, lz77=True, dist_2d=d2))
        assert (got == a).all(), d2


def test_all_predictor_modes():
    rnd = np.random.RandomState(3)
    a = rnd.randint(0, 256, (9, 13, 4)).astype(np.uint8)
    for mode in range(14):
        got = decode_webp(encode_vp8l(a, predictor_mode=mode))
        assert (got == a).all(), mode


def test_cross_color_transform():
    rnd = np.random.RandomState(4)
    a = rnd.randint(0, 256, (6, 9, 4)).astype(np.uint8)
    for ct in ((0, 0, 0), (34, -20, 7), (-128, 127, -1), (50, 60, 70)):
        got = decode_webp(encode_vp8l(a, color_transform=ct))
        assert (got == a).all(), ct


def test_stacked_transforms_with_cache_and_lz77():
    rnd = np.random.RandomState(5)
    a = rnd.randint(0, 256, (8, 11, 4)).astype(np.uint8)
    got = decode_webp(
        encode_vp8l(
            a, predictor_mode=11, color_transform=(3, -5, 9),
            subtract_green=True, cache_bits=5, lz77=True,
        )
    )
    assert (got == a).all()


def test_distance_table_shape():
    # spec neighborhood: 120 unique offsets, dy 0..7, same-row only left,
    # ordered by squared distance
    assert len(_DIST_TABLE) == 120 and len(set(_DIST_TABLE)) == 120
    assert _DIST_TABLE[0] == (0, 1) and _DIST_TABLE[1] == (1, 0)
    assert _DIST_TABLE[2:4] == [(1, 1), (-1, 1)]
    d2 = [dx * dx + dy * dy for dx, dy in _DIST_TABLE]
    assert d2 == sorted(d2)
    assert all(dy > 0 or dx > 0 for dx, dy in _DIST_TABLE)


def test_error_paths():
    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x00\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        decode_vp8l(b"\x00\x00\x00")
    with pytest.raises(ValueError):  # truncated mid-stream
        good = encode_vp8l(np.zeros((4, 4, 4), np.uint8))
        decode_vp8l(good[20:][: 6])
    with pytest.raises(NotImplementedError):  # lossy VP8 degrades
        decode_webp(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd")


@pytest.mark.skipif(not _ANCHORS, reason="no CPython webp test asset present")
def test_real_libwebp_alpha_stream_anchor():
    """Conformance against a REAL libwebp encoder output: the 16x16
    Python-logo alpha plane (ALPH chunk, compression method 1 = a
    headerless VP8L image stream with a color-indexing transform, no
    filtering), decoded by the same entropy decoder as decode_vp8l with
    alpha in the green channel. Pinned by shape, value histogram edges
    and the exact plane checksum."""
    d = open(_ANCHORS[0], "rb").read()
    pos, alph = 12, None
    while pos + 8 <= len(d):
        tag = d[pos : pos + 4]
        (n,) = struct.unpack("<I", d[pos + 4 : pos + 8])
        if tag == b"ALPH":
            alph = d[pos + 8 : pos + 8 + n]
        pos += 8 + n + (n & 1)
    assert alph is not None and alph[0] == 1  # VP8L-coded, unfiltered alpha
    px = _decode_image_stream(_LsbBits(alph, 8), 16, 16, True)
    plane = ((np.asarray(px, np.uint32).reshape(16, 16) >> 8) & 0xFF).astype(np.uint8)
    assert plane.shape == (16, 16)
    # the logo mask: fully-transparent corners, fully-opaque core
    assert plane[0, 0] == 0 and plane[15, 0] == 0
    assert plane.max() == 255 and (plane == 255).sum() > 100
    # freeze the exact decode so any entropy/palette/LZ77 regression trips
    assert int(plane.astype(np.uint64).sum()) == 38971
    import hashlib

    assert hashlib.md5(plane.tobytes()).hexdigest() == (
        "fa1667e19ae1b259be670911674006a6"
    )
