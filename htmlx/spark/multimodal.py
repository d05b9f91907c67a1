"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

Codec tiers, by what the container can decode:
- PNG decodes FOR REAL (``decode_png``: stdlib zlib inflate + numpy
  scanline unfiltering, all 5 filter types, every legal bit depth,
  gray/ga/RGB/RGBA, palette w/ tRNS, Adam7 interlace), with a matching
  deterministic encoder for synthesis/tests.
- GIF decodes FOR REAL (``decode_gif``: pure-Python variable-width LZW +
  palette mapping, 4-pass interlace).
- JPEG decodes FOR REAL, baseline AND progressive (``jpeg.decode_jpeg``:
  numpy huffman + dequant + IDCT, 4:2:0 upsampling, restart intervals,
  SOF2 spectral-selection + successive-approximation scans).
- BMP and baseline TIFF decode FOR REAL (``tiffbmp``: strips,
  None/LZW/Deflate/PackBits, horizontal predictor, palettes, both byte
  orders).
- WAV/PCM and FLAC audio decode FOR REAL (``decode_wav``;
  ``flac.decode_flac``: Rice residuals, FIXED/LPC predictors, stereo
  decorrelation, CRC-8/16 + PCM-MD5 verification).
- WebP LOSSLESS (VP8L) decodes FOR REAL (``vp8l.decode_webp``: canonical
  huffman, LZ77, color cache, all four transforms); ICO favicons decode
  via ``tiffbmp.decode_ico``.
- Lossy VP8 frames, MP3/OGG and audio/video resampling genuinely require
  external codecs (libwebp/ffmpeg/torchaudio) absent here; those paths
  degrade to metadata-only rows with error='decoder_unavailable' (header
  dims still come out for lossy WebP via VP8X/keyframe headers).
- Codec-free fast paths (magic-byte sniffing, header dimensions,
  byte-level features) always run.
"""

from __future__ import annotations

import re
import struct
import zlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("mime_sniffed", StringType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("error", StringType()),
    ]
)

_MAGIC = (
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"RIFF", "riff"),  # webp/wav disambiguated below
    (b"BM", "image/bmp"),
    (b"II*\x00", "image/tiff"),
    (b"MM\x00*", "image/tiff"),
    (b"ID3", "audio/mpeg"),
    (b"\xff\xfb", "audio/mpeg"),
    (b"OggS", "audio/ogg"),
    (b"fLaC", "audio/flac"),
)


def sniff_mime(payload: bytes) -> str:
    """Magic-byte MIME sniff — pure Python, no codec needed."""
    if not payload:
        return ""
    for magic, mime in _MAGIC:
        if payload.startswith(magic):
            if mime == "riff" and len(payload) >= 12:
                sub = payload[8:12]
                return {b"WEBP": "image/webp", b"WAVE": "audio/wav"}.get(sub, "application/octet-stream")
            if mime != "riff":
                return mime
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        brand = payload[8:12]
        if brand in (b"avif", b"avis"):
            return "image/avif"
        if brand in (b"heic", b"heix", b"mif1", b"msf1"):
            return "image/heic"
        return "video/mp4"
    # ICO's magic is weak (a 256-byte first MP4 box collides), so it is
    # only consulted AFTER ftyp, mirroring image_dimensions' order
    if payload[:4] == b"\x00\x00\x01\x00" and len(payload) >= 22:
        return "image/x-icon"
    if _svg_root(payload):
        return "image/svg+xml"
    return "application/octet-stream"


def _svg_root(payload: bytes) -> bool:
    """True only when the FIRST element (after BOM, whitespace, XML decl,
    doctype and comments) is <svg — an HTML page with an inline <svg>
    icon is NOT an SVG image."""
    head = payload[3:2051] if payload[:3] == b"\xef\xbb\xbf" else payload[:2048]
    i, n = 0, len(head)
    while i < n:
        while i < n and head[i] in b" \t\r\n":
            i += 1
        if head.startswith(b"<?", i):
            j = head.find(b"?>", i)
            if j < 0:
                return False
            i = j + 2
        elif head.startswith(b"<!--", i):
            j = head.find(b"-->", i)
            if j < 0:
                return False
            i = j + 3
        elif head.startswith(b"<!", i):  # doctype
            j = head.find(b">", i)
            if j < 0:
                return False
            i = j + 1
        else:
            return head.startswith(b"<svg", i) and (
                len(head) <= i + 4 or head[i + 4 : i + 5] in (b" ", b"\t", b"\r", b"\n", b">", b"/")
            )
    return False


def image_dimensions(payload: bytes) -> tuple[int, int]:
    """Header-only dimension extraction for PNG/GIF/JPEG/BMP/TIFF/WebP/ICO
    (no decoder; WebP covers VP8X canvas, VP8L header bits and the lossy
    VP8 keyframe header — dims come out even where pixel decode degrades)."""
    if payload.startswith(b"\x89PNG\r\n\x1a\n") and len(payload) >= 24:
        w, h = struct.unpack(">II", payload[16:24])
        return w, h
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w, h = struct.unpack("<HH", payload[6:10])
        return w, h
    if payload.startswith(b"\xff\xd8"):
        i = 2
        n = len(payload)
        while i + 9 < n:
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker in (0xC0, 0xC1, 0xC2, 0xC3):
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return w, h
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            i += 2 + seg_len
    if payload[:2] == b"BM" and len(payload) >= 26:
        w = struct.unpack("<i", payload[18:22])[0]
        h = struct.unpack("<i", payload[22:26])[0]
        return max(w, 0), abs(h)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiffbmp import tiff_dimensions

        return tiff_dimensions(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        pos = 12
        while pos + 8 <= len(payload):
            tag = payload[pos : pos + 4]
            (n,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            body = payload[pos + 8 : pos + 8 + n]
            if tag == b"VP8X" and len(body) >= 10:  # 24-bit canvas minus one
                w = 1 + int.from_bytes(body[4:7], "little")
                h = 1 + int.from_bytes(body[7:10], "little")
                return w, h
            if tag == b"VP8L" and len(body) >= 5 and body[0] == 0x2F:
                bits = int.from_bytes(body[1:5], "little")
                return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
            if tag == b"VP8 " and len(body) >= 10:
                if body[3:6] == b"\x9d\x01\x2a":  # keyframe start code
                    w = struct.unpack("<H", body[6:8])[0] & 0x3FFF
                    h = struct.unpack("<H", body[8:10])[0] & 0x3FFF
                    return w, h
            pos += 8 + n + (n & 1)
    if len(payload) >= 12 and payload[4:8] == b"ftyp" and payload[8:12] in (
        b"avif", b"avis", b"heic", b"heix", b"mif1", b"msf1"
    ):
        return _isobmff_dimensions(payload)
    if sniff_mime(payload) == "image/svg+xml":
        return _svg_dimensions(payload)
    if payload[:4] == b"\x00\x00\x01\x00" and len(payload) >= 6:
        (count,) = struct.unpack("<H", payload[4:6])
        best = (0, 0)
        for i in range(min(count, 64)):
            e = payload[6 + i * 16 : 6 + (i + 1) * 16]
            if len(e) != 16:  # structurally truncated directory: no dims
                break
            w, h = e[0] or 256, e[1] or 256  # 0 encodes 256
            if w * h > best[0] * best[1]:
                best = (w, h)
        return best
    return 0, 0


def _isobmff_dimensions(payload: bytes) -> tuple[int, int]:
    """AVIF/HEIC dims from the ispe property box (meta -> iprp -> ipco ->
    ispe; full boxes carry 4 version/flags bytes). Pixel decode genuinely
    needs an AV1/HEVC codec; the metadata does not."""
    FULL = {b"meta", b"ispe"}  # full boxes: 4 extra header bytes
    CONTAINERS = {b"meta", b"iprp", b"ipco"}

    def walk(lo: int, hi: int, depth: int = 0) -> tuple[int, int]:
        if depth > 8:
            return 0, 0
        pos = lo
        while pos + 8 <= hi:
            size = int.from_bytes(payload[pos : pos + 4], "big")
            typ = payload[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize
                if body + 8 > hi:
                    return 0, 0
                size = int.from_bytes(payload[body : body + 8], "big")
                body += 8
            elif size == 0:
                size = hi - pos
            if size < 8 or pos + size > hi:
                return 0, 0
            if typ in FULL:
                body += 4
            if typ == b"ispe":
                if body + 8 <= pos + size:
                    w = int.from_bytes(payload[body : body + 4], "big")
                    h = int.from_bytes(payload[body + 4 : body + 8], "big")
                    return w, h
                return 0, 0
            if typ in CONTAINERS:
                got = walk(body, pos + size, depth + 1)
                if got != (0, 0):
                    return got
            pos += size
        return 0, 0

    return walk(0, len(payload))


_SVG_TAG = re.compile(rb"<svg\b[^>]*>", re.DOTALL)
_SVG_ATTR = {
    "width": re.compile(rb'(?<![-\w])width\s*=\s*["\']\s*(\d+)(?:px)?\s*["\']'),
    "height": re.compile(rb'(?<![-\w])height\s*=\s*["\']\s*(\d+)(?:px)?\s*["\']'),
    "viewbox": re.compile(
        rb'viewBox\s*=\s*["\']\s*[\d.+-]+[\s,]+[\d.+-]+[\s,]+(\d+)[\s,]+(\d+)\s*["\']'
    ),
}


def _svg_dimensions(payload: bytes) -> tuple[int, int]:
    """SVG dims from the root tag's integer width/height attributes (px),
    falling back to the viewBox extent; non-integer/relative units give
    (0, 0) — rendering genuinely needs a rasterizer, the metadata does
    not."""
    m = _SVG_TAG.search(payload[:4096])
    if not m:
        return 0, 0
    tag = m.group(0)
    wm = _SVG_ATTR["width"].search(tag)
    hm = _SVG_ATTR["height"].search(tag)
    if wm and hm:
        return int(wm.group(1)), int(hm.group(1))
    vb = _SVG_ATTR["viewbox"].search(tag)
    if vb:
        return int(vb.group(1)), int(vb.group(2))
    return 0, 0


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_MAX_RASTER_BYTES = 128 * 1024 * 1024  # decode-side allocation cap
# Adam7 pass geometry: (x0, y0, dx, dy) per pass, spec order
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter(raw, off: int, h: int, stride: int, bpp: int):
    """Unfilter one (sub-)image of h scanlines of `stride` BYTES starting
    at byte `off` of the inflated stream (`bpp` = bytes per complete
    pixel, min 1 — the spec's filter distance); returns an (h, stride)
    uint8 array. All 5 PNG filter types. Sub/Average/Paeth rows carry a
    left-neighbor data dependency and run as a per-byte scan; the common
    None/Up rows vectorize."""
    import numpy as np

    out = np.zeros((h, stride), np.uint8)
    zero = np.zeros(stride, np.int32)
    for y in range(h):
        base = off + y * (stride + 1)
        f = raw[base]
        line = np.frombuffer(raw, np.uint8, stride, base + 1).astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else zero
        if f == 0:
            rec = line
        elif f == 2:  # Up
            rec = (line + prev) & 0xFF
        elif f == 1:  # Sub
            rec = line.copy()
            for x in range(bpp, stride):
                rec[x] = (rec[x] + rec[x - bpp]) & 0xFF
        elif f == 3:  # Average
            rec = line.copy()
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            rec = line.copy()
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (rec[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad_filter_{f}")
        out[y] = rec.astype(np.uint8)
    return out


def _adam7_passes(w: int, h: int):
    """Non-empty Adam7 passes as (x0, y0, dx, dy, pass_w, pass_h)."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            out.append((x0, y0, dx, dy, pw, ph))
    return out


def decode_png(payload: bytes):
    """REAL PNG decode for gray/RGB/gray-alpha/RGBA/palette at every legal
    bit depth (1/2/4/8/16 — sub-byte gray scales exactly by 255/(2^d-1),
    palette indices stay raw, 16-bit keeps the high byte), both sequential
    and Adam7-interlaced: stdlib zlib inflate + scanline unfiltering (all
    5 PNG filter types), palette mapping via numpy indexing (tRNS applied
    as an alpha channel when present). Returns an (h, w, channels) uint8
    numpy array. Raises ValueError on malformed input."""
    import struct

    import numpy as np

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not_a_png")
    pos = 8
    idat = b""
    header = None
    plte = None
    trns = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if typ == b"IHDR":
            if len(data) < 13:
                raise ValueError("truncated_ihdr")
            header = struct.unpack(">IIBBBBB", data[:13])
            if header[0] <= 0 or header[1] <= 0:
                raise ValueError("bad_dimensions")
        elif typ == b"PLTE":
            if len(data) % 3:
                raise ValueError("bad_plte")
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"tRNS":
            trns = np.frombuffer(data, np.uint8)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + length
    if header is None:
        raise ValueError("missing_ihdr")
    w, h, depth, ctype, _comp, _filt, interlace = header
    # depths per spec: 1/2/4 only for gray and palette; 16 not for palette
    depth_ok = (depth in (8, 16) and ctype != 3 or depth in (1, 2, 4, 8) and ctype in (0, 3))
    if not depth_ok or interlace > 1 or ctype not in _PNG_CHANNELS:
        raise NotImplementedError(f"png depth={depth} ctype={ctype} interlace={interlace}")
    channels = _PNG_CHANNELS[ctype]
    if ctype == 3 and plte is None:
        raise ValueError("missing_plte")

    def row_bytes(width):
        return (width * channels * depth + 7) // 8

    bpp = max(1, channels * depth // 8)  # the spec's filter byte distance
    if interlace:
        passes = _adam7_passes(w, h)
        expected = sum(ph * (row_bytes(pw) + 1) for *_, pw, ph in passes)
    else:
        expected = h * (row_bytes(w) + 1)
    # bomb guard: the header fixes the exact raster size, so both the
    # allocation and the inflate are capped BEFORE any work happens — a
    # tiny IDAT claiming a multi-GB raster degrades to an error row
    # instead of OOMing the executor's Python worker
    if h * w * channels > _MAX_RASTER_BYTES or expected > _MAX_RASTER_BYTES:
        raise ValueError("image_too_large")
    d = zlib.decompressobj()
    raw = d.decompress(idat, expected)
    if d.unconsumed_tail:
        raise ValueError("bad_scanline_data")
    raw += d.flush()
    if len(raw) != expected:
        raise ValueError("bad_scanline_data")
    def unpack(sub, pw):
        """(ph, row_bytes) filtered bytes -> (ph, pw, channels) uint8.
        Sub-byte gray samples scale by 255/(2^d - 1) (exact: 255/85/17);
        palette indices stay raw; 16-bit takes the high byte."""
        ph = sub.shape[0]
        if depth == 8:
            return sub[:, : pw * channels].reshape(ph, pw, channels)
        if depth == 16:
            pairs = sub[:, : pw * channels * 2].reshape(ph, pw, channels, 2)
            return pairs[:, :, :, 0]
        bits = np.unpackbits(sub, axis=1)[:, : pw * depth].reshape(ph, pw, depth)
        vals = np.zeros((ph, pw), np.uint8)
        for b in range(depth):
            vals = (vals << 1) | bits[:, :, b]
        if ctype == 0:
            vals = vals * (255 // ((1 << depth) - 1))
        return vals[:, :, None]

    if interlace:
        out = np.zeros((h, w, channels), np.uint8)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            sub = _unfilter(raw, off, ph, row_bytes(pw), bpp)
            out[y0::dy, x0::dx] = unpack(sub, pw)
            off += ph * (row_bytes(pw) + 1)
    else:
        out = unpack(_unfilter(raw, 0, h, row_bytes(w), bpp), w)
    if ctype == 3:
        idx = out.reshape(h, w)
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("palette_index_out_of_range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, np.uint8)
            alpha[: len(trns)] = trns
            return np.concatenate([rgb, alpha[idx][:, :, None]], axis=2)
        return rgb
    return out


def encode_png(arr, row_filter=None, palette=None, interlace=0, depth=8) -> bytes:
    """Minimal deterministic PNG encoder (gray/gray-alpha/RGB/RGBA;
    palette via `palette=(n,3)` with `arr` as (h,w) indices; Adam7 via
    `interlace=1`; `depth` 1/2/4 for gray+palette raw samples, 16 taking
    a uint16 array). `row_filter(y) -> 0..4` picks each scanline's filter
    — the synthesis knob that makes the decoder's unfiltering paths
    testable (for Adam7, y counts scanlines in stream order across
    passes). Default None filter everywhere."""
    import struct

    import numpy as np

    a = np.asarray(arr, np.uint16 if depth == 16 else np.uint8)
    if palette is not None:
        if a.ndim != 2:
            raise ValueError("palette png takes (h, w) indices")
        a = a[:, :, None]
        ctype = 3
    else:
        if a.ndim == 2:
            a = a[:, :, None]
        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[a.shape[2]]
    h, w, channels = a.shape
    bpp = max(1, channels * depth // 8)  # filter byte distance

    def pack(sub):
        """(ph, pw, channels) samples -> (ph, row_bytes) scanline bytes."""
        ph, pw = sub.shape[:2]
        if depth == 8:
            return sub.reshape(ph, pw * channels).astype(np.int32)
        if depth == 16:
            s = sub.reshape(ph, pw * channels).astype(np.uint16)
            return (
                np.stack([s >> 8, s & 0xFF], axis=2)
                .reshape(ph, pw * channels * 2)
                .astype(np.int32)
            )
        flat = sub.reshape(ph, pw).astype(np.uint8)
        bits = np.unpackbits(flat[:, :, None], axis=2)[:, :, 8 - depth :]
        bits = bits.reshape(ph, pw * depth)
        pad = (-bits.shape[1]) % 8
        if pad:
            bits = np.concatenate([bits, np.zeros((ph, pad), np.uint8)], axis=1)
        return np.packbits(bits, axis=1).astype(np.int32)

    def filter_rows(flat, y_base):
        # flat: (rows, stride) int32 of ONE (sub-)image; prev resets here
        rows = bytearray()
        for y in range(flat.shape[0]):
            f = row_filter(y_base + y) if row_filter else 0
            cur = flat[y]
            prev = flat[y - 1] if y else np.zeros_like(cur)
            if f == 0:
                filt = cur
            elif f == 1:
                left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
                filt = (cur - left) & 0xFF
            elif f == 2:
                filt = (cur - prev) & 0xFF
            elif f == 3:
                left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
                filt = (cur - ((left + prev) >> 1)) & 0xFF
            elif f == 4:
                left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
                ul = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
                p = left + prev - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
                pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
                filt = (cur - pred) & 0xFF
            else:
                raise ValueError(f"bad_filter_{f}")
            rows.append(f)
            rows += filt.astype(np.uint8).tobytes()
        return rows

    lines = bytearray()
    if interlace:
        y_base = 0
        for x0, y0, dx, dy, pw, ph in _adam7_passes(w, h):
            lines += filter_rows(pack(a[y0::dy, x0::dx]), y_base)
            y_base += ph
    else:
        lines += filter_rows(pack(a), 0)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 1 if interlace else 0)
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", np.asarray(palette, np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(bytes(lines))) + chunk(b"IEND", b"")


def decode_image(payload: bytes):
    """Image decode dispatch: PNG, GIF, baseline+progressive JPEG, BMP,
    TIFF and lossless WebP (VP8L) decode for REAL (stdlib zlib + numpy
    unfiltering; pure-Python LZW + palette; numpy huffman+dequant+IDCT;
    canonical-huffman VP8L with all four transforms — see vp8l.py); lossy
    VP8 and JPEG's arithmetic/lossless/hierarchical modes genuinely need
    an external codec and stay stubbed — the Spark plumbing calls this
    behind a try/except so those rows degrade to metadata-only with
    error='decoder_unavailable'."""
    if payload.startswith(_PNG_SIG):
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload.startswith(b"\xff\xd8"):
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:2] == b"BM":
        from .tiffbmp import decode_bmp

        return decode_bmp(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiffbmp import decode_tiff

        return decode_tiff(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from .vp8l import decode_webp

        return decode_webp(payload)
    if payload[:4] == b"\x00\x00\x01\x00":
        from .tiffbmp import decode_ico

        return decode_ico(payload)
    if len(payload) >= 3 and payload[0] == 0x50 and 0x31 <= payload[1] <= 0x36:
        return decode_pnm(payload)
    # magic-less formats last, each gated by its strict structural check
    # (the standard heuristic): a failed attempt means "not actually this
    # container" and falls through — so random 00 00 payloads stay the
    # honest decoder_unavailable rather than becoming corrupt_image, and
    # a TGA (which typically also starts 00 00) isn't swallowed by WBMP.
    if payload[:2] == b"\x00\x00":
        try:
            return decode_wbmp(payload)
        except ValueError:
            pass
    if (
        len(payload) >= 18
        and payload[1] in (0, 1)
        and payload[2] in (1, 2, 3, 9, 10, 11)
    ):
        from .tiffbmp import decode_tga, tga_header_plausible

        try:
            return decode_tga(payload)
        except ValueError:
            pass
        except NotImplementedError:
            # a declared TGA variant (right-to-left bit, exotic palette
            # depth) only counts as a decoder gap when the header is
            # structurally consistent TGA; random bytes that trip the
            # loose 3-byte gate fall through per the dispatch contract
            if tga_header_plausible(payload):
                raise
    raise NotImplementedError("unknown image container (no codec available)")


def _wbmp_uint(payload: bytes, pos: int):
    """WAP multibyte integer: 7 bits per byte, high bit continues."""
    v = 0
    for _ in range(5):
        if pos >= len(payload):
            raise ValueError("truncated_wbmp")
        b = payload[pos]
        pos += 1
        v = (v << 7) | (b & 0x7F)
        if not (b & 0x80):
            return v, pos
    raise ValueError("bad_wbmp_uint")


def decode_wbmp(payload: bytes):
    """REAL WBMP (WAP wireless bitmap, type 0) decode: multibyte
    width/height then MSB-first 1-bit rows, 1 = white. Returns an
    (h, w, 1) uint8 raster with 0/255 values (the bitonal convention the
    CCITT tiers use). Anchored against javax.imageio's WBMP writer."""
    import numpy as np

    if len(payload) < 4 or payload[0] != 0 or payload[1] != 0:
        raise ValueError("not_a_wbmp")
    w, pos = _wbmp_uint(payload, 2)
    h, pos = _wbmp_uint(payload, pos)
    if w == 0 or h == 0:
        raise ValueError("bad_dimensions")
    if w * h > _MAX_RASTER_BYTES:
        raise ValueError("image_too_large")
    stride = (w + 7) // 8
    need = pos + stride * h
    if len(payload) < need:
        raise ValueError("truncated_wbmp")
    rows = np.frombuffer(payload[pos:need], np.uint8).reshape(h, stride)
    bits = np.unpackbits(rows, axis=1)[:, :w]
    return (bits * 255).astype(np.uint8)[:, :, None]


def _pnm_tokens(payload: bytes, pos: int, count: int):
    """Read `count` whitespace-separated ASCII integers from a PNM
    header/body, skipping '#' comments to end-of-line."""
    vals = []
    n = len(payload)
    while len(vals) < count:
        while pos < n and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < n and payload[pos] == 0x23:  # '#' comment
            eol = payload.find(b"\n", pos)
            if eol == -1:
                raise ValueError("truncated_pnm")
            pos = eol + 1
            continue
        start = pos
        while pos < n and payload[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("bad_pnm_token")
        vals.append(int(payload[start:pos]))
    return vals, pos


def decode_pnm(payload: bytes):
    """REAL netpbm decode, all six formats: P1/P2/P3 (ASCII bitmap/
    gray/RGB) and P4/P5/P6 (binary). PBM polarity follows the spec
    (1 = black -> 0, 0 = white -> 255, the opposite of WBMP); gray/RGB
    samples scale linearly to 8 bits by maxval (2-byte big-endian
    samples for maxval > 255, emitting the high-byte convention).
    Returns (h, w, 1|3) uint8."""
    import numpy as np

    if len(payload) < 3 or payload[0] != 0x50 or not (0x31 <= payload[1] <= 0x36):
        raise ValueError("not_a_pnm")
    kind = payload[1] - 0x30
    bitmap = kind in (1, 4)
    channels = 3 if kind in (3, 6) else 1
    (w, h), pos = _pnm_tokens(payload, 2, 2)
    maxval = 1
    if not bitmap:
        (maxval,), pos = _pnm_tokens(payload, pos, 1)
        if maxval < 1 or maxval > 65535:
            raise ValueError("bad_pnm_maxval")
    if w == 0 or h == 0 or w * h * channels > _MAX_RASTER_BYTES:
        raise ValueError("bad_dimensions")
    nvals = w * h * channels
    if kind in (1, 2, 3):  # ASCII
        if kind == 1:
            # P1 digits may be unseparated ("0110"): read raw 0/1 chars.
            # '#' comments are spec-legal inside the raster too — strip
            # them to end-of-line first so commented digits don't shift
            # every subsequent pixel (same rule _pnm_tokens applies to
            # headers).
            body = re.sub(rb"#[^\n\r]*", b"", payload[pos:])
            bits = [c - 0x30 for c in body if c in (0x30, 0x31)]
            if len(bits) < nvals:
                raise ValueError("truncated_pnm")
            arr = np.array(bits[:nvals], np.int32)
        else:
            vals, _ = _pnm_tokens(payload, pos, nvals)
            arr = np.array(vals, np.int32)
    else:  # binary: exactly one whitespace byte after the header
        pos += 1
        if kind == 4:
            stride = (w + 7) // 8
            need = pos + stride * h
            if len(payload) < need:
                raise ValueError("truncated_pnm")
            rows = np.frombuffer(payload[pos:need], np.uint8).reshape(h, stride)
            arr = np.unpackbits(rows, axis=1)[:, :w].astype(np.int32).ravel()
        elif maxval > 255:
            need = pos + nvals * 2
            if len(payload) < need:
                raise ValueError("truncated_pnm")
            arr = np.frombuffer(payload[pos:need], ">u2").astype(np.int32)
        else:
            need = pos + nvals
            if len(payload) < need:
                raise ValueError("truncated_pnm")
            arr = np.frombuffer(payload[pos:need], np.uint8).astype(np.int32)
    if bitmap:
        px = np.where(arr > 0, 0, 255)  # 1 = black per PBM spec
    else:
        if int(arr.max(initial=0)) > maxval:
            raise ValueError("pnm_sample_exceeds_maxval")
        px = arr * 255 // maxval
    return px.astype(np.uint8).reshape(h, w, channels)


def extract_media_metadata(media: DataFrame) -> DataFrame:
    """mapInPandas stage: binary payload -> typed metadata rows.

    Pure-Python header parsing (sniff + dimensions) runs for real; the
    deep-decode path is stubbed per module docstring."""
    import pandas as pd

    def meta_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, kind, payload in zip(pdf.media_id, pdf.kind, pdf.payload):
                b = bytes(payload) if payload is not None else b""
                mime = sniff_mime(b)
                w = h = 0
                err = ""
                if kind == "image":
                    w, h = image_dimensions(b)
                    if (w, h) == (0, 0) and mime not in ("", "application/octet-stream"):
                        try:
                            decode_image(b)
                        except NotImplementedError:
                            err = "decoder_unavailable"
                        except (ValueError, zlib.error):
                            err = "corrupt_image"
                rows.append(
                    {
                        "media_id": media_id,
                        "kind": kind,
                        "mime_sniffed": mime,
                        "byte_len": len(b),
                        "width": w,
                        "height": h,
                        "error": err,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_META_SCHEMA.fields])

    return media.mapInPandas(meta_batch, MEDIA_META_SCHEMA)


#: Frames sampled per payload and bytes per frame (N and frame_len
#: below); the DuckDB oracle (entryqueries.O_MEDIA_FRAME_FEATURES) reads
#: both too.
MEDIA_FRAMES = 4
MEDIA_FRAME_LEN = 16


# Byte-level feature spec (engine-defined, codec-free, cross-engine
# verifiable on the lowercase-hex basis):
#   hexstr        = lower(hex(payload))
#   payload_md5   = md5(hexstr)
#   frame i of N = MEDIA_FRAMES (frame_len = MEDIA_FRAME_LEN bytes):
#                   off_i = (i * (byte_len - frame_len)) // (N - 1)
#                   frame_hash_i = md5(substr(hexstr, 2*off_i + 1, 2*frame_len));
#                   byte_len <= frame_len -> every frame hash = md5(hexstr)
#   entropy_x1000 = floor(1000 * sum over byte values ASCENDING (count>0)
#                   of -(c/n) * log2(c/n))   [sequential summation]
# This is the deterministic stand-in for the codec stage (real frame
# sampling needs ffmpeg, absent here): the Spark plumbing — binary columns
# through Arrow batches, numpy histogramming, per-frame digests — is real.
MEDIA_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("payload_md5", StringType()),
        StructField("entropy_x1000", LongType()),
        *(StructField(f"frame{i}", StringType()) for i in range(MEDIA_FRAMES)),
    ]
)


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas stage: binary payload -> byte-level features + sampled
    frame digests (numpy histogram + hashlib; Arrow-batched)."""
    import binascii
    import hashlib
    import math

    import numpy as np
    import pandas as pd

    def feat_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf.media_id, pdf.payload):
                b = bytes(payload) if payload is not None else b""
                hx = binascii.hexlify(b)
                n = len(b)
                counts = np.bincount(np.frombuffer(b, np.uint8), minlength=256) if n else []
                ent = 0.0
                for c in counts:  # ascending byte value, sequential sum
                    if c:
                        p = c / n
                        ent += -p * math.log2(p)
                frames = []
                for i in range(MEDIA_FRAMES):
                    if n <= MEDIA_FRAME_LEN:
                        frames.append(hashlib.md5(hx).hexdigest())
                    else:
                        off = (i * (n - MEDIA_FRAME_LEN)) // (MEDIA_FRAMES - 1)
                        frames.append(
                            hashlib.md5(hx[2 * off : 2 * (off + MEDIA_FRAME_LEN)]).hexdigest()
                        )
                rows.append(
                    {
                        "media_id": media_id,
                        "byte_len": n,
                        "payload_md5": hashlib.md5(hx).hexdigest(),
                        "entropy_x1000": math.floor(1000 * ent),
                        **{f"frame{i}": f for i, f in enumerate(frames)},
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_FEATURES_SCHEMA.fields])

    return media.mapInPandas(feat_batch, MEDIA_FEATURES_SCHEMA)


PIXEL_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("px_md5", StringType()),
        StructField("mean_x1000", LongType()),
        StructField("n_frames", LongType()),
        StructField("anim_ms", LongType()),
        StructField("anim_md5", StringType()),
        StructField("error", StringType()),
    ]
)


def extract_pixel_features(media: DataFrame) -> DataFrame:
    """mapInPandas stage over REAL decoded pixels: decode each payload
    (PNG decodes in-container; other formats degrade per decode_image),
    then compute pixel-level features — digest of the raw pixel bytes
    (md5 over the lowercase-hex basis, the engine's cross-engine-verifiable
    convention) and floor(1000 * mean byte value). GIFs additionally run
    the full animation composite (decode_gif_frames): frame count, total
    duration, and the digest of the FINAL composited canvas (RGB part) —
    wrong disposal or transparency handling flips anim_md5. Single-frame
    containers report n_frames=1 and anim_md5 = px_md5's raster."""
    import binascii
    import hashlib

    import pandas as pd

    def feat_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in PIXEL_FEATURES_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf.media_id, pdf.payload):
                b = bytes(payload) if payload is not None else b""
                row = {
                    "media_id": media_id, "width": 0, "height": 0,
                    "channels": 0, "px_md5": "", "mean_x1000": 0,
                    "n_frames": 0, "anim_ms": 0, "anim_md5": "", "error": "",
                }
                try:
                    if b[:6] in (b"GIF87a", b"GIF89a"):
                        # one LZW pass serves both feature sets
                        px, frames, delays = decode_gif_frames(b, _return_first=True)
                        final = frames[-1][:, :, :3].tobytes()
                        row.update(
                            n_frames=len(frames),
                            anim_ms=sum(delays),
                            anim_md5=hashlib.md5(binascii.hexlify(final)).hexdigest(),
                        )
                    else:
                        px = decode_image(b)
                        frames = None
                    h, w, c = px.shape
                    raw = px.tobytes()
                    row.update(
                        width=w, height=h, channels=c,
                        px_md5=hashlib.md5(binascii.hexlify(raw)).hexdigest(),
                        mean_x1000=int(px.astype("int64").sum() * 1000 // len(raw)),
                    )
                    if frames is None:
                        row.update(n_frames=1, anim_md5=row["px_md5"])
                except NotImplementedError:
                    row["error"] = "decoder_unavailable"
                except (ValueError, zlib.error):
                    row["error"] = "corrupt_image"
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(feat_batch, PIXEL_FEATURES_SCHEMA)


def image_dhash(px) -> int:
    """Perceptual difference hash (dHash) of a decoded raster — the
    standard near-duplicate image fingerprint (Krawetz's convention,
    public knowledge): grayscale, downsample to a 9x8 grid, emit one bit
    per horizontally-adjacent cell pair. Deterministic INTEGER arithmetic
    end-to-end so the hash is bit-reproducible across platforms:

      - luma: (299*R + 587*G + 114*B) // 1000 (ITU-R BT.601 weights,
        floor division); single-channel rasters pass through; alpha is
        ignored.
      - 9x8 block-mean downsample: block boundaries at i*W//9 / r*H//8,
        block value = sum // count (floor).
      - bit (r, c) = 1 iff mean[r][c+1] > mean[r][c] (strictly
        brighter rightward), packed row-major MSB-first into 64 bits,
        returned as a SIGNED two's-complement int (Spark LongType).

    Requires w >= 9 and h >= 8 (raises ValueError('image_too_small'))."""
    import numpy as np

    if px.ndim == 2:
        g = px.astype(np.int64)
    else:
        c = px.shape[2]
        s = px.astype(np.int64)
        if c == 1:
            g = s[:, :, 0]
        else:
            g = (299 * s[:, :, 0] + 587 * s[:, :, 1] + 114 * s[:, :, 2]) // 1000
    h, w = g.shape
    if w < 9 or h < 8:
        raise ValueError("image_too_small")
    ys = [r * h // 8 for r in range(8)]
    xs = [c * w // 9 for c in range(9)]
    sums = np.add.reduceat(np.add.reduceat(g, ys, axis=0), xs, axis=1)
    counts = np.outer(np.diff(ys + [h]), np.diff(xs + [w]))
    means = sums // counts
    bits = (means[:, 1:] > means[:, :-1]).astype(np.uint8)
    return int.from_bytes(np.packbits(bits.reshape(-1)).tobytes(), "big", signed=True)


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("dhash", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("error", StringType()),
    ]
)


def extract_image_dhash(media: DataFrame) -> DataFrame:
    """mapInPandas stage: binary image payload -> 64-bit dHash via the
    in-repo decoders (decode_image dispatch). Undecodable containers
    degrade per the decode contract (decoder_unavailable / corrupt_image
    / image_too_small) with dhash=0 and are filtered by callers on
    error=''. Per-doc bounded work; same spread-repartition guidance as
    every decode tier."""
    import pandas as pd

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in DHASH_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf.media_id, pdf.payload):
                b = bytes(payload) if payload is not None else b""
                row = {
                    "media_id": media_id, "dhash": 0,
                    "width": 0, "height": 0, "error": "",
                }
                try:
                    px = decode_image(b)
                    row["height"], row["width"] = px.shape[0], px.shape[1]
                    row["dhash"] = image_dhash(px)
                except NotImplementedError:
                    row["error"] = "decoder_unavailable"
                except (ValueError, zlib.error) as e:
                    row["error"] = (
                        "image_too_small"
                        if str(e) == "image_too_small"
                        else "corrupt_image"
                    )
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(hash_batch, DHASH_SCHEMA)


def dhash_near_dup(
    hashes: DataFrame, max_hamming: int = 3, hash_col: str = "dhash"
) -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance, as banded
    LSH + exact verify — all Catalyst, no Python:

    The 64-bit hash splits into (max_hamming + 1) bands; by pigeonhole,
    any pair within max_hamming bits shares at least one band verbatim,
    so candidates come from equi-joins on (band_index, band_value) —
    never a cartesian. Verification is bit_count(a XOR b) <= max_hamming
    JVM-side. Returns (id_a, id_b, hamming), id_a < id_b, one row per
    pair. Same 100 TB shape as minhash_lsh_candidates: the shuffle is
    keyed by band value (near-uniform for photographic corpora);
    pathological buckets (constant images) should be capped upstream by
    dropping buckets over a size bound, as lsh_bucket_stats does for
    MinHash."""
    from pyspark.sql import functions as F

    n_bands = max_hamming + 1
    width = 64 // n_bands
    mask = (1 << width) - 1
    h = hashes.select(
        F.col("media_id").cast("long").alias("__id"), F.col(hash_col).alias("__h")
    )
    bands = h.select(
        "__id", "__h",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("__h"), b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("val"),
                )
                for b in range(n_bands)
            ])
        ).alias("bv"),
    ).select("__id", "__h", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__h").bitwiseXOR(F.col("b.__h"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def perceptual_keepers(pool: DataFrame, hash_col: str, max_hamming: int) -> DataFrame:
    """The perceptual-hash keep-list over a (media_id, <hash_col>) pool.
    Exact-hash buckets collapse first (groupBy, no pairwise work, keeper
    = min media_id); near-dup pairing then runs over one REPRESENTATIVE
    per distinct hash — bounded by distinct-hash count, never by media
    count — and connected components over those pairs merge buckets, so
    every hash's keeper is the global min media_id of its component.
    The banded-Hamming pairing (dhash_near_dup) is hash-agnostic: image
    dHash and audio eHash share it. Returns (<hash_col>, keep_media_id),
    one row per distinct hash."""
    from pyspark.sql import functions as F

    from .analytics import near_dup_components

    reps = pool.groupBy(hash_col).agg(F.min("media_id").alias("media_id"))
    pairs = dhash_near_dup(
        reps, max_hamming=max_hamming, hash_col=hash_col
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    comp = near_dup_components(
        reps.select(F.col("media_id").alias("doc_id")), pairs
    ).select(F.col("doc_id").alias("media_id"), "keep_doc_id")
    return reps.join(comp, "media_id").select(
        hash_col, F.col("keep_doc_id").alias("keep_media_id")
    )


#: image_text_pairs drops images narrower or shorter than this many pixels.
IMAGE_MIN_DIM = 8

#: image_text_pairs' default caption gates: the UTF-8 byte floor and cap,
#: and the caption languages kept. jobs/curate.py's imgtext defaults and
#: the DuckDB oracle (entryqueries.O_MEDIA_FRAME_FEATURES) read them too.
CAPTION_MIN_BYTES = 5
CAPTION_MAX_BYTES = 512
CAPTION_LANGS = ("en",)


def image_text_pairs(
    images: DataFrame,
    media: DataFrame | None = None,
    min_caption_bytes: int = CAPTION_MIN_BYTES,
    max_caption_bytes: int = CAPTION_MAX_BYTES,
    max_hamming: int = 3,
    allow_langs: tuple = CAPTION_LANGS,
    pix: DataFrame | None = None,
) -> DataFrame:
    """(image, caption, quality) training-pair construction — the step
    that turns the extraction stack's two halves (images arrays with
    alt/title text, reference extract.go:1044-1089; decoded pixels) into
    a multimodal dataset:

      images: (page_id, media_id, src, alt, title) — the exploded
              extraction `images` array joined to fetched media ids
      media:  (media_id, payload binary) — fetched image bytes

    Pipeline: caption = alt, falling back to title (trimmed; empty is
    no caption); caption gates are UTF-8 BYTE lengths (the repo-wide cap
    convention) plus the shared JVM language classifier
    (analytics.lang_id_docs — same grammar as doc/line granularity);
    pixels decode ONCE via extract_image_dhash (dims + dHash + typed
    degradation in one pass); near-dup images dedup through
    perceptual_keepers (exact-dHash buckets merged by banded-Hamming
    pairs and connected components over bucket representatives), so the
    component keeper is the global min media_id. Dedup runs over the
    pool that passed every earlier gate (the corpus_filter shape: a
    quality-dropped image never shadows a keepable duplicate).

    Returns one row per input image: (page_id, media_id, src, caption,
    caption_bytes, caption_lang, width, height, dhash, keep, reason) —
    reason is the FIRST failing gate (the corpus_filter convention), in
    precedence order no_caption > caption_too_short > caption_too_long >
    caption_lang > missing_media > decode_error > image_too_small >
    near_dup_image; '' when kept.

    `pix`: optionally pass a precomputed extract_image_dhash frame
    (media_id, dhash, width, height, error) instead of `media` — the
    one-decode-pass reuse when a dhash table already exists upstream.

    100 TB shape: caption gates + lang are scan-side Catalyst; one
    Python decode pass bounded by media count; dedup joins are keyed by
    dhash/band (never all-pairs); components iterate over the tiny
    representative-pair edge set, not the corpus."""
    from pyspark.sql import functions as F

    from .analytics import lang_id_docs

    caption = F.coalesce(
        F.nullif(F.trim(F.col("alt")), F.lit("")),
        F.nullif(F.trim(F.col("title")), F.lit("")),
    )
    caps = images.select(
        F.col("page_id").cast("long").alias("page_id"),
        F.col("media_id").cast("long").alias("media_id"),
        "src",
        caption.alias("caption"),
    )
    lang = lang_id_docs(
        caps.select("page_id", "media_id", F.col("caption").alias("text")),
        id_cols=("page_id", "media_id"),
    ).withColumnRenamed("pred_lang", "caption_lang")
    caps = caps.join(lang, ["page_id", "media_id"])

    if pix is None:
        pix = extract_image_dhash(media)
    pix = pix.select(
        F.col("media_id").cast("long").alias("media_id"),
        "dhash",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("error").alias("__decode_error"),
    )
    rows = caps.join(pix, "media_id", "left")

    cb = F.coalesce(F.octet_length("caption"), F.lit(0))
    gate = (
        F.when(F.col("caption").isNull(), F.lit("no_caption"))
        .when(cb < min_caption_bytes, F.lit("caption_too_short"))
        .when(cb > max_caption_bytes, F.lit("caption_too_long"))
        .when(
            ~F.col("caption_lang").isin(*allow_langs), F.lit("caption_lang")
        )
        .when(F.col("dhash").isNull(), F.lit("missing_media"))
        .when(
            F.col("__decode_error") == "image_too_small",
            F.lit("image_too_small"),
        )
        .when(F.col("__decode_error") != "", F.lit("decode_error"))
        .when(
            (F.col("width") < IMAGE_MIN_DIM) | (F.col("height") < IMAGE_MIN_DIM),
            F.lit("image_too_small"),
        )
    )
    rows = rows.withColumn("__gate", gate)

    # dedup over the gate-surviving pool, at MEDIA granularity
    pool = (
        rows.where(F.col("__gate").isNull())
        .select("media_id", "dhash")
        .distinct()
    )
    keepers = perceptual_keepers(pool, "dhash", max_hamming).withColumnRenamed(
        "keep_media_id", "__keep_media_id"
    )
    rows = rows.join(keepers, "dhash", "left")

    reason = F.coalesce(
        F.col("__gate"),
        F.when(
            F.col("media_id") != F.col("__keep_media_id"),
            F.lit("near_dup_image"),
        ).otherwise(F.lit("")),
    )
    return rows.select(
        "page_id",
        "media_id",
        "src",
        "caption",
        cb.alias("caption_bytes"),
        "caption_lang",
        "width",
        "height",
        "dhash",
        reason.alias("reason"),
        (reason == "").alias("keep"),
    )


def audio_ehash(rate: int, channels: int, samples) -> int:
    """Perceptual envelope difference hash (eHash) of decoded PCM — the
    audio analogue of image_dhash's convention, deterministic INTEGER
    arithmetic end-to-end so the hash is bit-reproducible:

      - mono mix: per-frame channel sum // channels (floor).
      - 72 equal time segments (boundaries i*N//72), per-segment mean
        absolute amplitude = sum(|x|) // count (floor).
      - bit k = 1 iff seg[k+1] > seg[k] within each row of the 8x9
        row-major grid (8 rows of 9 segments, 8 comparisons per row),
        packed MSB-first into 64 bits, returned SIGNED (Spark LongType).

    Invariances by construction: amplitude scaling (order-preserving),
    sample-rate / duration changes (segments are fractions of total
    length), channel layout (mono mix). NOT time-shift invariant —
    like dHash it fingerprints the clip as framed, for re-encode /
    resample / volume-normalized duplicate detection. Requires
    >= 72 frames (raises ValueError('audio_too_short'))."""
    import numpy as np

    a = np.asarray(samples, np.int64)
    if a.ndim == 2:
        mono = a.sum(axis=1) // a.shape[1]
    else:
        mono = a
    n = mono.shape[0]
    if n < 72:
        raise ValueError("audio_too_short")
    env = np.abs(mono)
    bounds = [i * n // 72 for i in range(72)]
    sums = np.add.reduceat(env, bounds)
    counts = np.diff(bounds + [n])
    means = (sums // counts).reshape(8, 9)
    bits = (means[:, 1:] > means[:, :-1]).astype(np.uint8)
    return int.from_bytes(np.packbits(bits.reshape(-1)).tobytes(), "big", signed=True)


EHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("ehash", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("error", StringType()),
    ]
)


def extract_audio_ehash(media: DataFrame) -> DataFrame:
    """mapInPandas stage: binary audio payload -> 64-bit envelope hash
    via the in-repo decoders (decode_audio dispatch: WAV/AIFF/AU/FLAC).
    Containers needing external codecs degrade to decoder_unavailable
    per the standard contract; pair with dhash_near_dup(hashes,
    hash_col='ehash') for near-duplicate audio — the banded-Hamming
    machinery is hash-agnostic."""
    import pandas as pd

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in EHASH_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf.media_id, pdf.payload):
                b = bytes(payload) if payload is not None else b""
                row = {
                    "media_id": media_id, "ehash": 0,
                    "sample_rate": 0, "n_frames": 0, "error": "",
                }
                try:
                    rate, _ch, samples = decode_audio(b)
                    row["sample_rate"] = rate
                    row["n_frames"] = int(samples.shape[0])
                    row["ehash"] = audio_ehash(rate, _ch, samples)
                except NotImplementedError:
                    row["error"] = "decoder_unavailable"
                except ValueError as e:
                    row["error"] = (
                        "audio_too_short"
                        if str(e) == "audio_too_short"
                        else "corrupt_audio"
                    )
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(hash_batch, EHASH_SCHEMA)


def decode_wav(payload: bytes):
    """REAL WAV decode for PCM (8-bit unsigned / 16-bit signed): RIFF chunk
    walk — no codec needed. Returns (sample_rate, channels, numpy array of
    shape (frames, channels) as int16-range ints). Raises ValueError on
    malformed input, NotImplementedError for non-PCM encodings (MP3/OGG/
    FLAC genuinely need external codecs and stay stubbed)."""
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not_a_wav")
    pos = 12
    fmt = None
    data = None
    n = len(payload)
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        raise ValueError("missing_wav_chunks")
    audio_format, channels, rate, _, _, bits = struct.unpack("<HHIIHH", fmt[:16])
    if audio_format != 1:
        raise NotImplementedError(f"wav format {audio_format} needs a codec")
    if bits == 16:
        samples = np.frombuffer(data[: len(data) - (len(data) % 2)], "<i2").astype(np.int32)
    elif bits == 8:
        samples = np.frombuffer(data, np.uint8).astype(np.int32) - 128
    else:
        raise NotImplementedError(f"pcm bit depth {bits}")
    if channels < 1:
        raise ValueError("bad_channel_count")
    frames = len(samples) // channels
    return rate, channels, samples[: frames * channels].reshape(frames, channels)


def _ulaw_to_linear(u8):
    """G.711 mu-law byte -> linear sample (Sun g711.c algorithm, public
    domain; anchored against the JDK's independent javax.sound ULAW
    converter in tests/test_real_anchors.py)."""
    import numpy as np

    u = (~u8.astype(np.int32)) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84)


def linear_to_ulaw(x):
    """Linear sample -> G.711 mu-law byte (encoder twin of
    _ulaw_to_linear; same segment/mantissa layout as Sun g711.c)."""
    import numpy as np

    x = np.asarray(x, np.int64)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    # segment = bit_length(mag) - 8, clamped to 0..7 (mag <= 0x7FFF so
    # frexp's exponent IS the bit length)
    exp = np.clip(np.frexp(mag.astype(np.float64))[1] - 8, 0, 7)
    mant = (mag >> (exp + 3)) & 0x0F
    return ((~(sign | (exp << 4) | mant)) & 0xFF).astype(np.uint8)


def _alaw_to_linear(a8):
    """G.711 A-law byte -> linear sample (Sun g711.c algorithm, public
    domain; anchored against the JDK's independent javax.sound ALAW
    converter in tests/test_real_anchors.py). Sign bit SET means
    positive — opposite of mu-law."""
    import numpy as np

    a = (a8.astype(np.int32)) ^ 0x55
    seg = (a & 0x70) >> 4
    t = (a & 0x0F) << 4
    t = np.where(seg == 0, t + 8, np.where(seg == 1, t + 0x108, (t + 0x108) << np.maximum(seg - 1, 0)))
    return np.where(a & 0x80, t, -t)


def linear_to_alaw(x):
    """Linear sample -> G.711 A-law byte (encoder twin of
    _alaw_to_linear; Sun g711.c segment search)."""
    import numpy as np

    x = np.asarray(x, np.int64) >> 3
    mask = np.where(x >= 0, 0xD5, 0x55)
    mag = np.where(x >= 0, x, -x - 1)
    # segment = bit_length(mag >> 5) clamped to 0..7 (seg_aend thresholds)
    seg = np.clip(np.frexp((mag >> 5).astype(np.float64))[1], 0, 7)
    shift = np.where(seg < 2, 1, seg)
    aval = np.where(mag >= 0x1000, 0x7F, (seg << 4) | ((mag >> shift) & 0x0F))
    return ((aval ^ mask) & 0xFF).astype(np.uint8)


def _read_ext80(b: bytes) -> int:
    """80-bit IEEE 754 extended float -> int (AIFF sampleRate field):
    1 sign, 15 exponent (bias 16383), 64-bit mantissa with explicit
    integer bit. Sample rates are small positive integers."""
    if len(b) < 10:
        raise ValueError("bad_ext80")
    e = struct.unpack(">H", b[:2])[0] & 0x7FFF
    m = struct.unpack(">Q", b[2:10])[0]
    if e == 0 and m == 0:
        return 0
    shift = e - 16383 - 63
    return m << shift if shift >= 0 else m >> -shift


def _write_ext80(rate: int) -> bytes:
    if rate <= 0:
        return b"\x00" * 10
    exp = rate.bit_length() - 1
    return struct.pack(">HQ", 16383 + exp, rate << (63 - exp))


def decode_aiff(payload: bytes):
    """REAL AIFF/AIFC decode (Audio IFF 1.3): FORM chunk walk, COMM
    (channels/frames/bits/80-bit-extended rate), SSND offset handling.
    8-bit (SIGNED, unlike WAV) and 16-bit PCM; AIFC accepted for
    compressionType NONE (big-endian) and 'sowt' (the Mac-native
    byte-swapped little-endian variant) — genuinely compressed AIFC
    (ima4/ulaw/...) needs a codec and raises NotImplementedError.
    Returns (rate, channels, (frames, channels) int array)."""
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"FORM" or payload[8:12] not in (
        b"AIFF", b"AIFC"
    ):
        raise ValueError("not_an_aiff")
    is_aifc = payload[8:12] == b"AIFC"
    pos = 12
    n = len(payload)
    comm = None
    ssnd = None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack(">I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"COMM":
            comm = body
        elif cid == b"SSND":
            ssnd = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if comm is None or ssnd is None or len(comm) < 18 or len(ssnd) < 8:
        raise ValueError("missing_aiff_chunks")
    channels, frames, bits = struct.unpack(">HIH", comm[:8])
    rate = _read_ext80(comm[8:18])
    little = False
    if is_aifc:
        if len(comm) < 22 or comm[18:22] not in (b"NONE", b"sowt"):
            raise NotImplementedError("aifc compression needs a codec")
        little = comm[18:22] == b"sowt"  # Mac-native byte-swapped PCM
    if channels < 1 or rate <= 0:
        raise ValueError("bad_aiff_params")
    (offset,) = struct.unpack(">I", ssnd[:4])
    data = ssnd[8 + offset :]
    if bits == 16:
        samples = np.frombuffer(
            data[: len(data) - (len(data) % 2)], "<i2" if little else ">i2"
        ).astype(np.int32)
    elif bits == 8:
        samples = np.frombuffer(data, np.int8).astype(np.int32)
    else:
        raise NotImplementedError(f"aiff bit depth {bits}")
    got = len(samples) // channels
    return rate, channels, samples[: got * channels].reshape(got, channels)


def encode_aiff(samples, rate: int = 8000, sowt: bool = False) -> bytes:
    """Minimal deterministic PCM-16 AIFF encoder (synthesis/tests twin).
    sowt=True emits the AIFC little-endian variant."""
    import numpy as np

    a = np.asarray(samples, np.int16)
    if a.ndim == 1:
        a = a[:, None]
    frames, channels = a.shape
    data = a.astype("<i2" if sowt else ">i2").tobytes()
    comm = struct.pack(">HIH", channels, frames, 16) + _write_ext80(rate)
    if sowt:
        comm += b"sowt" + b"\x0enot compressed\x00"
    ssnd = struct.pack(">II", 0, 0) + data
    body = (
        (b"AIFC" if sowt else b"AIFF")
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd + (b"\x00" if len(ssnd) & 1 else b"")
    )
    return b"FORM" + struct.pack(">I", len(body)) + body


def decode_au(payload: bytes):
    """REAL Sun AU (.snd) decode: big-endian header (offset, size,
    encoding, rate, channels); linear PCM 8-bit signed (enc 2) and
    16-bit (enc 3) plus G.711 mu-law (enc 1) and A-law (enc 27), both
    decoded via the formulas above. ADPCM/float encodings raise
    NotImplementedError."""
    import numpy as np

    if len(payload) < 24 or payload[:4] != b".snd":
        raise ValueError("not_an_au")
    offset, size, enc, rate, channels = struct.unpack(">IIIII", payload[4:24])
    if offset < 24 or offset > len(payload) or channels < 1 or rate == 0:
        raise ValueError("bad_au_header")
    data = payload[offset:]
    if size != 0xFFFFFFFF:
        data = data[:size]
    if enc == 3:
        samples = np.frombuffer(data[: len(data) - (len(data) % 2)], ">i2").astype(
            np.int32
        )
    elif enc == 2:
        samples = np.frombuffer(data, np.int8).astype(np.int32)
    elif enc == 1:
        samples = _ulaw_to_linear(np.frombuffer(data, np.uint8)).astype(np.int32)
    elif enc == 27:
        samples = _alaw_to_linear(np.frombuffer(data, np.uint8)).astype(np.int32)
    else:
        raise NotImplementedError(f"au encoding {enc} needs a codec")
    got = len(samples) // channels
    return rate, channels, samples[: got * channels].reshape(got, channels)


def encode_au(samples, rate: int = 8000, ulaw: bool = False, alaw: bool = False) -> bytes:
    """Minimal deterministic AU encoder (synthesis/tests twin): PCM-16
    big-endian, or G.711 via the linear_to_ulaw / linear_to_alaw twins."""
    import numpy as np

    a = np.asarray(samples, np.int16)
    if a.ndim == 1:
        a = a[:, None]
    frames, channels = a.shape
    if ulaw:
        data = linear_to_ulaw(a.ravel()).tobytes()
        enc = 1
    elif alaw:
        data = linear_to_alaw(a.ravel()).tobytes()
        enc = 27
    else:
        data = a.astype(">i2").tobytes()
        enc = 3
    hdr = b".snd" + struct.pack(">IIIII", 24, len(data), enc, rate, channels)
    return hdr + data


def encode_wav(samples, rate: int = 8000) -> bytes:
    """Minimal deterministic PCM-16 WAV encoder (synthesis/tests twin of
    decode_wav). samples: (frames, channels) int array."""
    import numpy as np

    a = np.asarray(samples, np.int16)
    if a.ndim == 1:
        a = a[:, None]
    frames, channels = a.shape
    data = a.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
        StructField("bitrate_kbps", LongType()),
        StructField("rms_x1000", LongType()),
        StructField("peak", LongType()),
        StructField("error", StringType()),
    ]
)


def decode_audio(payload: bytes):
    """Audio decode dispatch: WAV, AIFF/AIFC, AU (incl. G.711 mu-law)
    and FLAC decode for REAL (RIFF/FORM/.snd walks; pure-Python FLAC
    with CRC-8/16 + PCM-MD5 verification — see flac.decode_flac);
    MP3/OGG full PCM decode genuinely needs an external codec and stays
    stubbed (their header-walk METADATA is real — see audio_stream_info).
    Returns (rate, channels, (frames, channels) ints)."""
    if payload[:4] == b"fLaC":
        from .flac import decode_flac

        return decode_flac(payload)
    if payload[:4] == b"RIFF":
        return decode_wav(payload)
    if payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"):
        return decode_aiff(payload)
    if payload[:4] == b".snd":
        return decode_au(payload)
    raise NotImplementedError("MP3/OGG decode requires ffmpeg (not in container)")


# MPEG audio (ISO/IEC 11172-3 / 13818-3) frame-header tables. Bitrates in
# kbps by [version][layer]; sample rates by version bits. Public-spec facts.
_MP3_BITRATES = {
    # version key: 3 = MPEG1, 2 = MPEG2, 0 = MPEG2.5 (header version bits)
    (3, 1): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),  # V1 L3
    (3, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),  # V1 L2
    (3, 3): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),  # V1 L1
    (2, 1): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),  # V2 L3
    (2, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),  # V2 L2
    (2, 3): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),  # V2 L1
}
_MP3_BITRATES[(0, 1)] = _MP3_BITRATES[(2, 1)]  # MPEG2.5 shares MPEG2 tables
_MP3_BITRATES[(0, 2)] = _MP3_BITRATES[(2, 2)]
_MP3_BITRATES[(0, 3)] = _MP3_BITRATES[(2, 3)]
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}


def _parse_mp3(b: bytes) -> dict:
    """MP3/MPEG-audio metadata from a pure frame-header walk — no codec.
    Skips ID3v2 (syncsafe size + optional footer) and trailing ID3v1; walks
    frame headers summing per-frame samples (so VBR durations are exact);
    detects a Xing/Info tag in the first frame (LAME-style VBR header
    carries no audio) and excludes it from the sample count. Reference
    context: the Go reference treats audio as first-class media metadata
    (media.go type detection); full PCM decode stays a declared
    degradation. Raises ValueError when no valid frame is found."""
    pos, n = 0, len(b)
    if b[:3] == b"ID3" and n >= 10:
        size = ((b[6] & 0x7F) << 21) | ((b[7] & 0x7F) << 14) | ((b[8] & 0x7F) << 7) | (b[9] & 0x7F)
        pos = 10 + size + (10 if b[5] & 0x10 else 0)
    end = n - 128 if n >= 128 and b[n - 128 : n - 125] == b"TAG" else n
    frames = samples = kbps_sum = 0
    rate = channels = None
    first_frame = None
    while pos + 4 <= end:
        if b[pos] != 0xFF or (b[pos + 1] & 0xE0) != 0xE0:
            pos += 1
            continue
        ver = (b[pos + 1] >> 3) & 3  # 3=MPEG1 2=MPEG2 0=MPEG2.5 1=reserved
        layer = (b[pos + 1] >> 1) & 3  # 1=III 2=II 3=I 0=reserved
        br_idx = b[pos + 2] >> 4
        sr_idx = (b[pos + 2] >> 2) & 3
        if ver == 1 or layer == 0 or br_idx in (0, 15) or sr_idx == 3:
            pos += 1  # free-format/reserved: not a frame we can size — resync
            continue
        kbps = _MP3_BITRATES[(ver, layer)][br_idx]
        frate = _MP3_RATES[ver][sr_idx]
        pad = (b[pos + 2] >> 1) & 1
        mono = (b[pos + 3] >> 6) == 3
        if layer == 3:  # Layer I
            flen = (12000 * kbps // frate + pad) * 4
            spf = 384
        else:  # Layer II/III
            spf = 576 if (layer == 1 and ver != 3) else 1152
            flen = spf // 8 * 1000 * kbps // frate + pad
        if flen < 4 or pos + flen > end:
            break  # truncated final frame: keep what we walked
        if rate is None:
            rate, channels = frate, 1 if mono else 2
            first_frame = (pos, spf, kbps)
        frames += 1
        samples += spf
        kbps_sum += kbps
        pos += flen
    if frames == 0 or rate is None:
        raise ValueError("no_mp3_frames")
    fpos, fspf, fkbps = first_frame
    side = (17 if channels == 1 else 32) if ((b[fpos + 1] >> 3) & 3) == 3 else (9 if channels == 1 else 17)
    # protection bit 0 => a 16-bit CRC sits between header and side info,
    # shifting the Xing/Info tag by 2 (review finding r5)
    side += 0 if (b[fpos + 1] & 1) else 2
    if b[fpos + 4 + side : fpos + 8 + side] in (b"Xing", b"Info") and frames > 1:
        frames -= 1
        samples -= fspf
        kbps_sum -= fkbps
    return {
        "container": "mp3",
        "sample_rate": rate,
        "channels": channels,
        "n_frames": samples,  # PCM frames (samples per channel), like decode_audio
        "duration_ms": samples * 1000 // rate,
        "bitrate_kbps": kbps_sum // frames,
    }


def _parse_ogg(b: bytes) -> dict:
    """OGG metadata from a pure page walk — no codec. Reads the Vorbis
    identification header (rate/channels/nominal bitrate) or OpusHead
    (channels/pre-skip; granule clock is fixed 48 kHz), then walks page
    headers to the highest granule position = total PCM frames. Page CRCs
    are not verified (metadata walk, not a decode). ValueError on
    malformed pages, NotImplementedError for non-Vorbis/Opus codecs."""
    pos, n = 0, len(b)
    rate = channels = None
    codec = ""
    kbps = 0
    preskip = 0
    last_granule = 0
    while pos + 27 <= n and b[pos : pos + 4] == b"OggS":
        if b[pos + 4] != 0:
            raise ValueError("ogg_version")
        granule = int.from_bytes(b[pos + 6 : pos + 14], "little", signed=True)
        nseg = b[pos + 26]
        seg_table = b[pos + 27 : pos + 27 + nseg]
        if len(seg_table) < nseg:
            raise ValueError("truncated_ogg_page")
        body_len = sum(seg_table)
        if pos + 27 + nseg + body_len > n:
            raise ValueError("truncated_ogg_page")
        body = b[pos + 27 + nseg : pos + 27 + nseg + body_len]
        if codec == "":
            if body[:7] == b"\x01vorbis" and len(body) >= 30:
                codec = "vorbis"
                channels = body[11]
                rate = int.from_bytes(body[12:16], "little")
                nominal = int.from_bytes(body[20:24], "little", signed=True)
                kbps = max(nominal, 0) // 1000
            elif body[:8] == b"OpusHead" and len(body) >= 19:
                codec = "opus"
                channels = body[9]
                preskip = int.from_bytes(body[10:12], "little")
                rate = 48000  # opus granule clock is always 48 kHz
            else:
                raise NotImplementedError("ogg codec beyond vorbis/opus")
        if granule > last_granule:
            last_granule = granule
        pos += 27 + nseg + body_len
    if codec == "" or not rate or not channels:
        raise ValueError("no_ogg_stream")
    samples = max(last_granule - preskip, 0)
    return {
        "container": "ogg-" + codec,
        "sample_rate": rate,
        "channels": channels,
        "n_frames": samples,
        "duration_ms": samples * 1000 // rate,
        "bitrate_kbps": kbps,
    }


def audio_stream_info(payload: bytes) -> dict:
    """Header-walk audio metadata for containers whose PCM decode needs an
    external codec: MP3 (MPEG frame headers) and OGG (Vorbis/Opus ident +
    granule). Returns {container, sample_rate, channels, n_frames,
    duration_ms, bitrate_kbps}. This is the middle rung of the audio
    ladder: decode_audio (full PCM) -> audio_stream_info (header_only) ->
    decoder_unavailable."""
    if payload[:4] == b"OggS":
        return _parse_ogg(payload)
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        return _parse_mp3(payload)
    raise ValueError("not_mp3_or_ogg")


def encode_mp3_headers(n_mp3_frames: int, kbps_idx: int, rate_idx: int, mono: bool) -> bytes:
    """Synthesis twin for _parse_mp3 (tests/oracle): a CBR MPEG1 Layer III
    frame sequence with valid headers and zero-filled audio payloads —
    structurally valid for a header walk (the payload is not decodable
    audio, which is exactly the contract header_only promises)."""
    kbps = _MP3_BITRATES[(3, 1)][kbps_idx]
    rate = _MP3_RATES[3][rate_idx]
    flen = 144 * 1000 * kbps // rate
    hdr = bytes([0xFF, 0xFB, (kbps_idx << 4) | (rate_idx << 2), 0xC0 if mono else 0x00])
    return (hdr + b"\x00" * (flen - 4)) * n_mp3_frames


def encode_ogg_vorbis(granule: int, rate: int, channels: int, nominal_bps: int) -> bytes:
    """Synthesis twin for _parse_ogg: BOS page carrying a Vorbis
    identification header and an EOS page whose granule is the total
    sample count. CRC left zero (the walk doesn't verify CRCs,
    documented)."""
    ident = (
        b"\x01vorbis"
        + (0).to_bytes(4, "little")
        + bytes([channels])
        + rate.to_bytes(4, "little")
        + (0).to_bytes(4, "little", signed=True)
        + nominal_bps.to_bytes(4, "little", signed=True)
        + (0).to_bytes(4, "little", signed=True)
        + b"\xb8\x01"
    )

    def page(htype: int, granule_pos: int, body: bytes, seq: int) -> bytes:
        if body:
            # proper lacing: 255-byte segments + terminating short segment
            full, last = divmod(len(body), 255)
            segs = b"\xff" * full + bytes([last])
        else:
            segs = b"\x00"
        return (
            b"OggS\x00"
            + bytes([htype])
            + granule_pos.to_bytes(8, "little", signed=True)
            + (1234).to_bytes(4, "little")
            + seq.to_bytes(4, "little")
            + b"\x00\x00\x00\x00"
            + bytes([len(segs)])
            + segs
            + body
        )

    return page(0x02, 0, ident, 0) + page(0x04, granule, b"", 1)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """mapInPandas stage over REAL decoded PCM: duration, RMS and peak from
    the sample values. The integer sums are exact, so floor(1000*sqrt(
    sum_sq/n)) is engine-reproducible from the synthesis formula."""
    import math

    import pandas as pd

    def feat_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in AUDIO_FEATURES_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf.media_id, pdf.payload):
                b = bytes(payload) if payload is not None else b""
                row = {
                    "media_id": media_id, "sample_rate": 0, "channels": 0,
                    "n_frames": 0, "duration_ms": 0, "bitrate_kbps": 0,
                    "rms_x1000": 0, "peak": 0, "error": "",
                }
                try:
                    rate, channels, s = decode_audio(b)
                    flat = s.astype("int64").ravel()
                    row.update(
                        sample_rate=rate, channels=channels, n_frames=s.shape[0],
                        duration_ms=s.shape[0] * 1000 // rate,
                        # PCM-equivalent bitrate (decoded samples are
                        # 16-bit range): container-independent, so the
                        # formula oracle can recompute it exactly
                        bitrate_kbps=rate * channels * 16 // 1000,
                        rms_x1000=math.floor(1000 * math.sqrt(int((flat * flat).sum()) / len(flat))) if len(flat) else 0,
                        peak=int(abs(flat).max()) if len(flat) else 0,
                    )
                except NotImplementedError:
                    # middle rung of the ladder: MP3/OGG PCM decode needs an
                    # external codec, but duration/rate/channels/bitrate come
                    # from a pure header walk (audio_stream_info)
                    try:
                        info = audio_stream_info(b)
                        row.update(
                            sample_rate=info["sample_rate"], channels=info["channels"],
                            n_frames=info["n_frames"], duration_ms=info["duration_ms"],
                            bitrate_kbps=info["bitrate_kbps"], error="header_only",
                        )
                    except (ValueError, NotImplementedError):
                        row["error"] = "decoder_unavailable"
                except ValueError:
                    row["error"] = "corrupt_audio"
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(feat_batch, AUDIO_FEATURES_SCHEMA)


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int):
    """GIF-flavor LZW decode (variable code width, clear/end codes).
    max_pixels bounds the output (bomb guard)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = []
    table = None
    width = min_code_size + 1
    prev = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [(i,) for i in range(clear)] + [None, None]
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out
            if table is None:
                raise ValueError("lzw_data_before_clear")
            if prev is None:
                entry = table[code]
                if entry is None:
                    raise ValueError("bad_lzw_code")
            elif code < len(table) and table[code] is not None:
                entry = table[code]
                table.append(table[prev] + (entry[0],))
            elif code == len(table):
                entry = table[prev] + (table[prev][0],)
                table.append(entry)
            else:
                raise ValueError("bad_lzw_code")
            out.extend(entry)
            if len(out) > max_pixels:
                raise ValueError("lzw_output_overflow")
            if len(table) >= (1 << width) and width < 12:
                width += 1
            prev = code
    return out


def decode_gif(payload: bytes):
    """REAL GIF decode (first frame, sequential or interlaced): pure-Python
    LZW + palette mapping — no codec library. Returns (h, w, 3) uint8 RGB.
    Interlaced rasters arrive in 4-pass row order (0%8, 4%8, 2%4, 1%2) and
    are reordered after LZW decode; malformed data raises ValueError."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not_a_gif")
    if len(payload) < 13:
        raise ValueError("truncated_gif_header")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        if pos + n * 3 > len(payload):
            raise ValueError("truncated_color_table")
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("truncated_image_descriptor")
            _x, _y, w, h, iflags = struct.unpack("<HHHHB", payload[pos + 1 : pos + 10])
            pos += 10
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                if pos + n * 3 > len(payload):
                    raise ValueError("truncated_color_table")
                pal = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if pal is None:
                raise ValueError("missing_color_table")
            if w * h * 3 > _MAX_RASTER_BYTES:
                raise ValueError("image_too_large")
            if pos >= len(payload):
                raise ValueError("truncated_image_data")
            min_code = payload[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(payload) and payload[pos]:
                ln = payload[pos]
                lzw += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = _lzw_decode(bytes(lzw), min_code, w * h)
            if len(idx) < w * h:
                raise ValueError("short_pixel_data")
            indices = np.asarray(idx[: w * h], np.int64)
            if indices.max(initial=0) >= len(pal):
                raise ValueError("palette_index_out_of_range")
            raster = indices.reshape(h, w)
            if iflags & 0x40:  # interlaced: rows arrive in 4-pass order
                out = np.empty_like(raster)
                out[_gif_interlace_order(h)] = raster
                raster = out
            return pal[raster.reshape(-1)].reshape(h, w, 3)
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError("bad_gif_block")
    raise ValueError("no_image_data")


def _gif_interlace_order(h: int):
    """Row indices in GIF 4-pass interlace stream order (GIF89a app. E):
    every 8th row from 0, every 8th from 4, every 4th from 2, every 2nd
    from 1."""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, h, step))
    return order


#: decode_gif_frames stops after this many image descriptors.
GIF_MAX_FRAMES = 256


def decode_gif_frames(payload: bytes, _return_first=False):
    """REAL animated-GIF decode: full canvas compositing per GIF89a —
    frame placement rects, per-frame local palettes, transparency index,
    and disposal methods 0/1 (keep), 2 (restore to transparent
    background), 3 (restore to previous canvas). Returns (frames, delays)
    where frames is a list of (canvas_h, canvas_w, 4) uint8 RGBA
    snapshots (one per image descriptor, composited) and delays the
    per-frame GCE delay in ms. `_return_first=True` prepends the first
    descriptor's raw (h, w, 3) raster (== decode_gif's result) so feature
    stages need only one LZW pass. Malformed data raises ValueError."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not_a_gif")
    if len(payload) < 13:
        raise ValueError("truncated_gif_header")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    if sw <= 0 or sh <= 0:
        raise ValueError("bad_dimensions")
    if sw * sh * 4 > _MAX_RASTER_BYTES:
        raise ValueError("image_too_large")
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        if pos + n * 3 > len(payload):
            raise ValueError("truncated_color_table")
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    canvas = np.zeros((sh, sw, 4), np.uint8)
    frames = []
    delays = []
    disposal = 0
    transparent = None
    delay_ms = 0
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension
            if pos + 2 > len(payload):
                raise ValueError("truncated_extension")
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9 and pos < len(payload) and payload[pos] >= 4:
                if pos + 5 > len(payload):
                    raise ValueError("truncated_extension")
                gce_flags = payload[pos + 1]
                delay_ms = struct.unpack("<H", payload[pos + 2 : pos + 4])[0] * 10
                disposal = (gce_flags >> 2) & 7
                transparent = payload[pos + 4] if gce_flags & 1 else None
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            if len(frames) >= GIF_MAX_FRAMES:
                break
            if pos + 10 > len(payload):
                raise ValueError("truncated_image_descriptor")
            fx, fy, w, h, iflags = struct.unpack("<HHHHB", payload[pos + 1 : pos + 10])
            pos += 10
            if fx + w > sw or fy + h > sh or w == 0 or h == 0:
                raise ValueError("frame_outside_canvas")
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                if pos + n * 3 > len(payload):
                    raise ValueError("truncated_color_table")
                pal = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if pal is None:
                raise ValueError("missing_color_table")
            if pos >= len(payload):
                raise ValueError("truncated_image_data")
            min_code = payload[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(payload) and payload[pos]:
                ln = payload[pos]
                lzw += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1  # block terminator
            idx = _lzw_decode(bytes(lzw), min_code, w * h)
            if len(idx) < w * h:
                raise ValueError("short_pixel_data")
            indices = np.asarray(idx[: w * h], np.int64)
            if indices.max(initial=0) >= len(pal):
                raise ValueError("palette_index_out_of_range")
            raster = indices.reshape(h, w)
            if iflags & 0x40:
                out = np.empty_like(raster)
                out[_gif_interlace_order(h)] = raster
                raster = out
            if not frames:
                first_raster = pal[raster.reshape(-1)].reshape(h, w, 3)
            before = canvas.copy() if disposal == 3 else None
            region = canvas[fy : fy + h, fx : fx + w]
            opaque = (
                np.ones((h, w), bool) if transparent is None else raster != transparent
            )
            region[opaque, :3] = pal[raster[opaque]]
            region[opaque, 3] = 255
            frames.append(canvas.copy())
            delays.append(delay_ms)
            if disposal == 2:  # restore to background = transparent
                canvas[fy : fy + h, fx : fx + w] = 0
            elif disposal == 3 and before is not None:
                canvas = before
            disposal = 0
            transparent = None
            delay_ms = 0
        elif b == 0x3B:
            break
        else:
            raise ValueError("bad_gif_block")
    if not frames:
        raise ValueError("no_image_data")
    if _return_first:
        return first_raster, frames, delays
    return frames, delays


def _gif_pixel_stream(flat, bits: int) -> bytes:
    """Per-pixel-clear LZW stream: a clear code before every literal pixel
    code, so the table never grows and the code width stays fixed —
    inefficient but spec-valid, and it exercises the decoder's clear-code
    handling on every pixel."""
    clear = 1 << bits
    width = bits + 1
    acc = 0
    nbits = 0
    stream = bytearray()

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    for px in flat:
        emit(clear)
        emit(int(px))
    emit(clear + 1)  # end
    if nbits:
        stream.append(acc & 0xFF)
    return bytes(stream)


def _gif_sub_blocks(stream: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    return bytes(out) + b"\x00"


def encode_gif(indices, palette, interlace=False) -> bytes:
    """Minimal deterministic GIF encoder (synthesis/tests twin); see
    _gif_pixel_stream for the LZW discipline. `interlace=True` writes
    rows in 4-pass order with the interlace flag."""
    import numpy as np

    a = np.asarray(indices, np.uint8)
    h, w = a.shape
    if interlace:
        a = a[_gif_interlace_order(h)]
    pal = np.asarray(palette, np.uint8)
    npal = len(pal)
    bits = max(2, int(npal - 1).bit_length())
    out = bytearray(b"GIF89a")
    table = bytearray(pal.tobytes()) + b"\x00" * ((1 << bits) - npal) * 3
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0) + table
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, w, h, 0x40 if interlace else 0
    ) + bytes([bits])
    out += _gif_sub_blocks(_gif_pixel_stream(a.ravel(), bits))
    return bytes(out) + b"\x3b"


def encode_gif_animation(palette, size, frames) -> bytes:
    """Synthesis twin for animated GIFs: `size` is (canvas_w, canvas_h),
    `frames` a list of dicts with keys x, y, indices ((h, w) array),
    disposal (0-3), transparent (index or None), delay_cs (centiseconds),
    interlace (bool). Each frame gets a Graphic Control Extension."""
    import numpy as np

    pal = np.asarray(palette, np.uint8)
    npal = len(pal)
    bits = max(2, int(npal - 1).bit_length())
    sw, sh = size
    out = bytearray(b"GIF89a")
    table = bytearray(pal.tobytes()) + b"\x00" * ((1 << bits) - npal) * 3
    out += struct.pack("<HHBBB", sw, sh, 0x80 | (bits - 1), 0, 0) + table
    for f in frames:
        a = np.asarray(f["indices"], np.uint8)
        h, w = a.shape
        if f.get("interlace"):
            a = a[_gif_interlace_order(h)]
        transparent = f.get("transparent")
        gce_flags = ((f.get("disposal", 0) & 7) << 2) | (
            1 if transparent is not None else 0
        )
        out += b"\x21\xf9\x04" + bytes([gce_flags]) + struct.pack(
            "<H", f.get("delay_cs", 0)
        ) + bytes([transparent or 0, 0])
        out += b"\x2c" + struct.pack(
            "<HHHHB", f.get("x", 0), f.get("y", 0), w, h,
            0x40 if f.get("interlace") else 0,
        ) + bytes([bits])
        out += _gif_sub_blocks(_gif_pixel_stream(a.ravel(), bits))
    return bytes(out) + b"\x3b"
