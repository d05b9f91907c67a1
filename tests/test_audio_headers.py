"""MP3/OGG header-walk metadata (audio_stream_info) — the middle rung of
the audio ladder: full PCM decode -> header_only metadata -> unavailable.

Includes a REAL-ENCODER anchor: tests/fixtures/real_lame_mpeg2.mp3 is a
LAME 3.98.2-encoded MPEG2 Layer III file (Apache-2.0 gsutil test data,
google-cloud-sdk platform/gsutil/gslib/tests/test_data/test.mp3) — a
genuine third-party encoder output, so the frame-header walk cannot share
a spec misreading with an in-repo synthesis twin.

Reference context: the Go reference treats audio as first-class media with
type detection (media.go); full MP3/OGG PCM decode stays a declared
degradation (needs an external codec)."""

import os
import random

import pytest

from htmlx.spark.multimodal import (
    audio_stream_info,
    encode_mp3_headers,
    encode_ogg_vorbis,
)
from tests.oracles import encode_ogg_opus

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "real_lame_mpeg2.mp3")


def test_real_lame_mpeg2_mp3_anchor():
    # Frozen real-encoder fixture: LAME 3.98.2, MPEG2 Layer III, 22050 Hz
    # mono CBR 64 kbps, 45 audio frames x 576 samples. Values pinned from
    # the file's actual frame headers (ID3v2.4 tag skipped, 45 frames
    # walked, no Xing/Info marker in this LAME variant).
    with open(FIXTURE, "rb") as f:
        info = audio_stream_info(f.read())
    assert info == {
        "container": "mp3",
        "sample_rate": 22050,
        "channels": 1,
        "n_frames": 45 * 576,
        "duration_ms": 1175,
        "bitrate_kbps": 64,
    }


def test_mp3_synth_matrix_roundtrip():
    rates = (44100, 48000, 32000)
    kbps_tab = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    for k in range(20):
        nf, ki, ri, mono = 6 + k % 6, 1 + k % 14, k % 3, k % 2 == 0
        info = audio_stream_info(encode_mp3_headers(nf, ki, ri, mono))
        assert info["sample_rate"] == rates[ri]
        assert info["channels"] == (1 if mono else 2)
        assert info["n_frames"] == nf * 1152
        assert info["duration_ms"] == nf * 1152 * 1000 // rates[ri]
        assert info["bitrate_kbps"] == kbps_tab[ki]


def test_mp3_id3v2_and_id3v1_tags_skipped():
    body = encode_mp3_headers(4, 5, 0, True)
    id3v2 = b"ID3\x04\x00\x00\x00\x00\x00\x16" + b"\x00" * 22
    id3v1 = b"TAG" + b"\x00" * 125
    info = audio_stream_info(id3v2 + body + id3v1)
    assert info["n_frames"] == 4 * 1152
    # an ID3v1 trailer that would otherwise look like garbage mid-walk
    # must not be scanned for sync words
    assert info["bitrate_kbps"] == 64


def test_mp3_padding_bit_frame_length():
    # Layer III padding adds exactly one byte to the frame
    kbps, rate = 64, 44100
    flen = 144000 * kbps // rate
    hdr_pad = bytes([0xFF, 0xFB, (5 << 4) | (0 << 2) | 2, 0xC0])
    hdr_nopad = bytes([0xFF, 0xFB, (5 << 4) | (0 << 2), 0xC0])
    payload = (hdr_pad + b"\x00" * (flen + 1 - 4)) + (hdr_nopad + b"\x00" * (flen - 4))
    info = audio_stream_info(payload)
    assert info["n_frames"] == 2 * 1152


def test_mp3_layer1_and_mpeg2():
    # MPEG1 Layer I: 384 samples/frame, flen=(12000*kbps//rate + pad)*4
    hdr = bytes([0xFF, 0xFF, (1 << 4) | (0 << 2), 0xC0])  # L1, 32kbps, 44100
    flen = (12000 * 32 // 44100) * 4
    info = audio_stream_info((hdr + b"\x00" * (flen - 4)) * 3)
    assert info["n_frames"] == 3 * 384 and info["sample_rate"] == 44100
    # MPEG2 Layer III: 576 samples/frame, V2 bitrate table
    hdr2 = bytes([0xFF, 0xF3, (8 << 4) | (0 << 2), 0xC0])  # V2 L3, 64kbps, 22050
    flen2 = 72000 * 64 // 22050
    info2 = audio_stream_info((hdr2 + b"\x00" * (flen2 - 4)) * 5)
    assert info2["n_frames"] == 5 * 576 and info2["sample_rate"] == 22050
    assert info2["bitrate_kbps"] == 64


def test_mp3_xing_frame_excluded_from_duration():
    # A LAME/Xing VBR header frame carries no audio: build a first frame
    # whose payload has "Xing" at the MPEG1-mono offset (4 + 17)
    kbps, rate = 64, 44100
    flen = 144000 * kbps // rate
    first = bytearray(bytes([0xFF, 0xFB, (5 << 4), 0xC0]) + b"\x00" * (flen - 4))
    first[4 + 17 : 4 + 21] = b"Xing"
    audio = bytes([0xFF, 0xFB, (5 << 4), 0xC0]) + b"\x00" * (flen - 4)
    info = audio_stream_info(bytes(first) + audio * 3)
    assert info["n_frames"] == 3 * 1152


def test_ogg_vorbis_roundtrip():
    info = audio_stream_info(encode_ogg_vorbis(44100 * 3, 44100, 2, 128000))
    assert info == {
        "container": "ogg-vorbis",
        "sample_rate": 44100,
        "channels": 2,
        "n_frames": 44100 * 3,
        "duration_ms": 3000,
        "bitrate_kbps": 128,
    }


def test_ogg_opus_head():
    # OpusHead ident: granule clock fixed 48kHz, pre-skip subtracted
    opus = (
        b"OpusHead\x01" + bytes([2]) + (312).to_bytes(2, "little")
        + (48000).to_bytes(4, "little") + b"\x00\x00" + b"\x00"
    )
    page1 = (
        b"OggS\x00\x02" + (0).to_bytes(8, "little") + b"\x01\x00\x00\x00"
        + b"\x00\x00\x00\x00" + b"\x00\x00\x00\x00" + bytes([1, len(opus)]) + opus
    )
    page2 = (
        b"OggS\x00\x04" + (48000 + 312).to_bytes(8, "little") + b"\x01\x00\x00\x00"
        + b"\x01\x00\x00\x00" + b"\x00\x00\x00\x00" + bytes([0])
    )
    info = audio_stream_info(page1 + page2)
    assert info["container"] == "ogg-opus"
    assert info["sample_rate"] == 48000 and info["channels"] == 2
    assert info["n_frames"] == 48000 and info["duration_ms"] == 1000


def test_ogg_unknown_codec_degrades_declared():
    theora = b"\x80theora" + b"\x00" * 20
    page = (
        b"OggS\x00\x02" + (0).to_bytes(8, "little") + b"\x01\x00\x00\x00"
        + b"\x00\x00\x00\x00" + b"\x00\x00\x00\x00" + bytes([1, len(theora)]) + theora
    )
    with pytest.raises(NotImplementedError):
        audio_stream_info(page)


def test_malformed_inputs_raise_declared_types_only():
    with pytest.raises(ValueError):
        audio_stream_info(b"")
    with pytest.raises(ValueError):
        audio_stream_info(b"ID3\x04\x00\x00\x00\x00\x00\x16")  # tag, no frames
    with pytest.raises(ValueError):
        audio_stream_info(b"OggS\x00\x02" + b"\x00" * 10)  # truncated page


def test_header_walk_fuzz_declared_degradations_only():
    # bit-flip/truncation fuzz: the walk must either return a dict or raise
    # a declared type — never IndexError/struct.error/KeyError (those kill
    # mapInPandas tasks)
    rng = random.Random(5)
    seeds = [
        encode_mp3_headers(5, 7, 1, False),
        encode_ogg_vorbis(5000, 16000, 1, 64000),
        open(FIXTURE, "rb").read(),
    ]
    for seed in seeds:
        for _ in range(120):
            b = bytearray(seed)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            cut = rng.randrange(len(b) + 1)
            for payload in (bytes(b), bytes(b[:cut])):
                try:
                    info = audio_stream_info(payload)
                    assert isinstance(info, dict)
                except (ValueError, NotImplementedError):
                    pass


def test_ladder_in_extract_audio_features_schema():
    # the Spark-side contract: header_only rows fill metadata, zero PCM stats
    from htmlx.spark.multimodal import AUDIO_FEATURES_SCHEMA

    names = [f.name for f in AUDIO_FEATURES_SCHEMA.fields]
    assert "bitrate_kbps" in names


def test_mp3_crc_protected_xing_frame_excluded():
    """With protection bit 0 a 16-bit CRC precedes the side info, shifting
    the Xing tag by 2 (review finding r5): the VBR header frame must still
    be excluded from the sample count."""
    kbps, rate = 64, 44100
    flen = 144000 * kbps // rate
    # header with protection_bit=0 (0xFA instead of 0xFB)
    first = bytearray(bytes([0xFF, 0xFA, (5 << 4), 0xC0]) + b"\x00" * (flen - 4))
    first[4 + 2 + 17 : 4 + 2 + 21] = b"Xing"  # CRC(2) + mono MPEG1 side info(17)
    audio = bytes([0xFF, 0xFA, (5 << 4), 0xC0]) + b"\x00" * (flen - 4)
    info = audio_stream_info(bytes(first) + audio * 3)
    assert info["n_frames"] == 3 * 1152


def _ogg_page(htype: int, granule: int, body: bytes, seq: int) -> bytes:
    """One OGG page (serial 1234, CRC zero) with 255-byte lacing."""
    full, last = divmod(len(body), 255)
    segs = b"\xff" * full + bytes([last])
    return (
        b"OggS\x00" + bytes([htype])
        + granule.to_bytes(8, "little", signed=True)
        + (1234).to_bytes(4, "little") + seq.to_bytes(4, "little")
        + b"\x00\x00\x00\x00" + bytes([len(segs)]) + segs + body
    )


def _with_comment_page(ogg: bytes, granule: int, comments: dict, opus: bool) -> bytes:
    """Insert a Vorbis comment / OpusTags page (KEY=value pairs) between
    encode_ogg_vorbis' ident page and its 28-byte empty EOS page."""
    vendor = b"htmlx-twin"
    items = [(k.upper() + "=" + v).encode("utf-8") for k, v in comments.items()]
    packet = (
        (b"OpusTags" if opus else b"\x03vorbis")
        + len(vendor).to_bytes(4, "little") + vendor
        + len(items).to_bytes(4, "little")
        + b"".join(len(i).to_bytes(4, "little") + i for i in items)
    )
    if not opus:
        packet += b"\x01"  # vorbis framing bit
    return (
        ogg[:-28] + _ogg_page(0x00, -1, packet, 1)
        + _ogg_page(0x04, granule, b"", 2)
    )


def test_vorbis_comment_and_opustags():
    """A Vorbis comment / OpusTags page between the ident and EOS pages
    does not disturb the header walk's stream info."""
    ogg = _with_comment_page(
        encode_ogg_vorbis(1000, 8000, 1, 64000), 1000,
        {"title": "Song", "artist": "Band", "x": "y"}, opus=False,
    )
    info = audio_stream_info(ogg)
    assert info["sample_rate"] == 8000 and info["n_frames"] == 1000

    op = _with_comment_page(
        encode_ogg_opus(48000, 48000, 2), 48000,
        {"album": "LP"}, opus=True,
    )
    assert audio_stream_info(op)["sample_rate"] == 48000
