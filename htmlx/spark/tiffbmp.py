"""BMP and baseline TIFF decode — codec-free image containers.

Closes two more image tiers the same way PNG/GIF/JPEG were closed
(reference media surface: media.go, extract.go:1044-1089), reusing
already-validated machinery: TIFF's LZW is the MSB-first EarlyChange=1
variant implemented for PDF (pdf.lzw_decode_pdf), PackBits is the
RunLength scheme with a no-op 128, and Deflate is stdlib zlib.

Scope:
- BMP: BITMAPINFOHEADER (and the larger V4/V5 headers), uncompressed
  8-bit palette / 24-bit BGR / 32-bit BGRA, bottom-up or top-down, with
  4-byte row padding, plus BI_RLE8 (runs, absolute segments, EOL/EOF/
  delta escapes). RLE4 and bitfield compressions degrade.
- TIFF: both byte orders, single-image IFD walk, chunky AND planar
  configs, 8- and 16-bit samples (16-bit decodes to the high byte, the
  PNG convention; the horizontal predictor is undone at sample width)
  plus 1/2/4-bit sub-byte samples (MSB-first, row-padded; grayscale
  scales linearly, palette indexes the ColorMap — javax.imageio-anchored
  in test_real_anchors.py),
  1 or 3+ samples/pixel (extra samples kept as alpha), strip- AND
  tile-based layouts (edge tiles cropped, per-block predictor restart),
  compressions None(1) / LZW(5) / Deflate(8, 32946) / PackBits(32773),
  grayscale (both photometric polarities), RGB, palette-color via
  ColorMap, plus ICO favicons (BMP DIBs w/ AND-mask alpha or embedded
  PNGs).

Each decoder has a deterministic synthesis twin for tests and the
media_pixel_decode formula-oracle corpus. Malformed data raises
ValueError; genuinely-external features raise NotImplementedError and
degrade to error='decoder_unavailable' at the Spark layer.
"""

from __future__ import annotations

import struct
import zlib

_MAX_RASTER = 128 * 1024 * 1024  # shared decode-side allocation cap


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------

def decode_bmp(payload: bytes):
    """Decode a BMP payload to (h, w, channels) uint8 (3 = BGR->RGB,
    4 = BGRA->RGBA, palette expands to RGB)."""
    import numpy as np

    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not_a_bmp")
    data_off = struct.unpack("<I", payload[10:14])[0]
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    if hdr_size < 40:
        raise NotImplementedError("bmp core-header variant")
    w = struct.unpack("<i", payload[18:22])[0]
    h_signed = struct.unpack("<i", payload[22:26])[0]
    _planes, bpp = struct.unpack("<HH", payload[26:30])
    compression = struct.unpack("<I", payload[30:34])[0]
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    if w <= 0 or h <= 0:
        raise ValueError("bad_dimensions")
    if compression not in (0, 1):
        raise NotImplementedError(f"bmp compression={compression}")
    if compression == 1 and (bpp != 8 or top_down):
        raise ValueError("rle8_requires_8bit_bottom_up")
    if bpp not in (8, 24, 32):
        raise NotImplementedError(f"bmp bpp={bpp}")
    if w * h * 4 > _MAX_RASTER:
        raise ValueError("image_too_large")
    palette = None
    if bpp == 8:
        n_colors = struct.unpack("<I", payload[46:50])[0] or 256
        pal_off = 14 + hdr_size
        pal = payload[pal_off : pal_off + n_colors * 4]
        if len(pal) != n_colors * 4:
            raise ValueError("truncated_palette")
        # BGRA quads -> RGB
        palette = np.frombuffer(pal, np.uint8).reshape(-1, 4)[:, [2, 1, 0]]
    nchan = bpp // 8
    if compression == 1:  # BI_RLE8: runs + escapes (EOL/EOF/delta/absolute)
        idx = _decode_rle8(payload[data_off:], w, h)
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("palette_index_out_of_range")
        return palette[idx[::-1]]  # RLE bitmaps are bottom-up
    stride = (w * nchan + 3) & ~3  # rows pad to 4 bytes
    need = stride * h
    if len(payload) < data_off + need:
        raise ValueError("truncated_pixel_data")
    rows = np.frombuffer(payload, np.uint8, need, data_off).reshape(h, stride)
    px = rows[:, : w * nchan].reshape(h, w, nchan)
    if not top_down:
        px = px[::-1]
    if bpp == 8:
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("palette_index_out_of_range")
        return palette[idx]
    if bpp == 24:
        return px[:, :, [2, 1, 0]]  # BGR -> RGB
    return px[:, :, [2, 1, 0, 3]]  # BGRA -> RGBA


def _decode_rle8(data: bytes, w: int, h: int):
    """BI_RLE8 decode to an (h, w) index raster in STORED (bottom-up) row
    order: (count, value) runs; escape 0 + {0: end of line, 1: end of
    bitmap, 2: delta (dx, dy), n>=3: n absolute bytes padded to 16 bits}.
    Pixels skipped by EOL/delta stay index 0 (the spec's background)."""
    import numpy as np

    out = np.zeros((h, w), np.uint8)
    x = y = 0
    i = 0
    n = len(data)
    while i + 1 < n:
        cnt, val = data[i], data[i + 1]
        i += 2
        if x >= w and (cnt > 0 or val >= 3):
            # encoders may omit the EOL escape when a row fills exactly
            # (Pillow/GDI accept this); advance implicitly
            x, y = 0, y + 1
        if cnt > 0:  # encoded run
            if y >= h or x + cnt > w:
                raise ValueError("rle8_run_out_of_bounds")
            out[y, x : x + cnt] = val
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return out
        elif val == 2:  # delta
            if i + 2 > n:
                raise ValueError("truncated_rle8")
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > w or y > h:
                raise ValueError("rle8_delta_out_of_bounds")
        else:  # absolute mode: val literal bytes, word-aligned
            if y >= h or x + val > w or i + val > n:
                raise ValueError("rle8_absolute_out_of_bounds")
            out[y, x : x + val] = np.frombuffer(data, np.uint8, val, i)
            x += val
            i += val + (val & 1)
    raise ValueError("rle8_missing_end_of_bitmap")


def encode_bmp(arr, palette=None, rle=False) -> bytes:
    """Synthesis twin: (h, w) indices + palette(n,3), or (h, w, 3) RGB /
    (h, w, 4) RGBA arrays, stored bottom-up; rle=True emits BI_RLE8
    (requires a palette) mixing encoded runs with absolute segments."""
    import numpy as np

    a = np.asarray(arr, np.uint8)
    if rle:
        if palette is None or a.ndim != 2:
            raise ValueError("rle bmp takes (h, w) indices")
        h, w = a.shape
        body = bytearray()
        for row in a[::-1]:  # stored bottom-up
            x = 0
            while x < w:
                run = 1
                while x + run < w and row[x + run] == row[x] and run < 255:
                    run += 1
                if run >= 3 or w - x <= 2:
                    body += bytes([run, row[x]])
                    x += run
                else:  # short mixed stretch: absolute mode
                    lit = min(255, w - x)
                    seg = bytes(row[x : x + lit])
                    body += bytes([0, lit]) + seg + (b"\x00" if lit & 1 else b"")
                    x += lit
            body += b"\x00\x00"  # end of line
        body += b"\x00\x01"  # end of bitmap
        bpp, compression = 8, 1
    else:
        compression = 0
        if palette is not None:
            if a.ndim != 2:
                raise ValueError("palette bmp takes (h, w) indices")
            h, w = a.shape
            bpp = 8
            rows = a[:, :, None]
        else:
            h, w, nchan = a.shape
            bpp = nchan * 8
            rows = a[:, :, [2, 1, 0]] if nchan == 3 else a[:, :, [2, 1, 0, 3]]
        stride = (w * bpp // 8 + 3) & ~3
        body = bytearray()
        ordered = rows[::-1]
        for y in range(h):
            line = ordered[y].tobytes()
            body += line + b"\x00" * (stride - len(line))
    pal_bytes = b""
    n_colors = 0
    if palette is not None:
        pal = np.asarray(palette, np.uint8)
        n_colors = len(pal)
        quads = np.zeros((n_colors, 4), np.uint8)
        quads[:, :3] = pal[:, [2, 1, 0]]  # RGB -> BGRx
        pal_bytes = quads.tobytes()
    data_off = 14 + 40 + len(pal_bytes)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, compression,
        len(body), 2835, 2835, n_colors, 0,
    )
    hdr = b"BM" + struct.pack("<IHHI", data_off + len(body), 0, 0, data_off)
    return hdr + info + pal_bytes + bytes(body)


# ---------------------------------------------------------------------------
# TIFF
# ---------------------------------------------------------------------------

_TIFF_TAGS = {
    256: "width", 257: "height", 258: "bits_per_sample", 259: "compression",
    262: "photometric", 266: "fill_order", 273: "strip_offsets",
    277: "samples_per_pixel",
    278: "rows_per_strip", 279: "strip_byte_counts", 284: "planar",
    292: "t4_options", 293: "t6_options",
    317: "predictor", 320: "colormap", 322: "tile_width",
    323: "tile_length", 324: "tile_offsets", 325: "tile_byte_counts",
}
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}

# FillOrder=2: bits within each byte are stored LSB-first (common in fax
# archives); reversing every byte restores the default MSB-first order
_BITREV = bytes(int(f"{b:08b}"[::-1], 2) for b in range(256))


def _read_ifd_values(payload, bo, typ, count, value_field):
    size = _TYPE_SIZE.get(typ)
    if size is None:
        return None
    total = size * count
    if total <= 4:
        raw = value_field[:total]
    else:
        off = struct.unpack(bo + "I", value_field)[0]
        raw = payload[off : off + total]
        if len(raw) != total:
            raise ValueError("truncated_ifd_value")
    if typ in (1, 2):
        return list(raw)
    fmt = {3: "H", 4: "I", 5: "Q"}[typ]
    if typ == 5:  # rational: numerator only (unused here)
        return [struct.unpack(bo + "II", raw[i : i + 8])[0] for i in range(0, total, 8)]
    n = count
    return list(struct.unpack(bo + fmt * n, raw))


# ---------------------------------------------------------------------------
# TGA (Truevision TARGA)
# ---------------------------------------------------------------------------

def tga_header_plausible(payload: bytes) -> bool:
    """Strict structural TGA header check for the magic-less dispatch:
    kind/colormap consistency, a standard bpp for the kind, and (for
    uncompressed types) enough payload bytes to hold the raster. Used to
    decide whether a decode_tga NotImplementedError (declared variant,
    e.g. right-to-left ordering) should surface as decoder_unavailable
    or fall through as 'not actually a TGA'."""
    if len(payload) < 18:
        return False
    idlen, cmtype, imgtype = payload[0], payload[1], payload[2]
    cm_len = struct.unpack("<H", payload[5:7])[0]
    cm_bpp = payload[7]
    w, h = struct.unpack("<HH", payload[12:16])
    bpp = payload[16]
    if imgtype not in (1, 2, 3, 9, 10, 11) or cmtype not in (0, 1):
        return False
    if w == 0 or h == 0 or w * h * 4 > _MAX_RASTER:
        return False
    kind = imgtype - 8 if imgtype >= 9 else imgtype
    if kind == 1:
        if cmtype != 1 or cm_len == 0 or cm_bpp not in (15, 16, 24, 32) or bpp != 8:
            return False
    elif kind == 3:
        if bpp != 8:
            return False
    else:
        if bpp not in (15, 16, 24, 32):
            return False
    pal_bytes = cm_len * ((cm_bpp + 7) // 8) if cmtype == 1 else 0
    if imgtype < 9:  # uncompressed: raster length is predictable
        if len(payload) < 18 + idlen + pal_bytes + w * h * ((bpp + 7) // 8):
            return False
    return True


def decode_tga(payload: bytes):
    """REAL TGA decode: uncompressed and RLE image types (1/2/3 and
    9/10/11), 8-bit gray or color-mapped (24/32-bit palettes), 16-bit
    ARGB1555 (5-bit channels scaled to 8, attribute bit ignored —
    documented), 24-bit BGR and 32-bit BGRA; bottom-up default with the
    top-to-bottom descriptor bit honored and right-to-left ordering
    mirrored (r6; it is a pure column flip). Exotic depths raise
    NotImplementedError. Returns (h, w, 1|3|4)
    uint8 (BGR(A) converted to RGB(A)). The format has no magic — the
    caller routes by extension/context; the header sanity checks below
    reject most non-TGA payloads."""
    import numpy as np

    if len(payload) < 18:
        raise ValueError("not_a_tga")
    idlen, cmtype, imgtype = payload[0], payload[1], payload[2]
    cm_first, cm_len = struct.unpack("<HH", payload[3:7])
    cm_bpp = payload[7]
    w, h = struct.unpack("<HH", payload[12:16])
    bpp, desc = payload[16], payload[17]
    if imgtype not in (1, 2, 3, 9, 10, 11) or cmtype not in (0, 1):
        raise ValueError("bad_tga_type")
    if w == 0 or h == 0 or w * h * 4 > _MAX_RASTER:
        raise ValueError("bad_dimensions")
    rle = imgtype >= 9
    kind = imgtype - 8 if rle else imgtype
    pos = 18 + idlen
    palette = None
    if cmtype == 1:
        if kind != 1:
            # palette present but unused by truecolor/gray: skip it
            pos += cm_len * ((cm_bpp + 7) // 8)
        else:
            if cm_bpp not in (24, 32):
                raise NotImplementedError(f"tga palette bpp {cm_bpp}")
            cb = (cm_bpp + 7) // 8
            raw = payload[pos : pos + cm_len * cb]
            if len(raw) < cm_len * cb:
                raise ValueError("truncated_tga_palette")
            pal = np.frombuffer(raw, np.uint8).reshape(cm_len, cb)
            palette = (cm_first, pal)
            pos += cm_len * cb
    elif kind == 1:
        raise ValueError("tga mapped image without colormap")
    if kind == 1:
        px_bytes = 1
        if bpp != 8:
            raise NotImplementedError(f"tga mapped bpp {bpp}")
    elif kind == 3:
        px_bytes = 1
        if bpp != 8:
            raise NotImplementedError(f"tga gray bpp {bpp}")
    else:
        if bpp not in (16, 24, 32):
            raise NotImplementedError(f"tga truecolor bpp {bpp}")
        px_bytes = bpp // 8
    need = w * h * px_bytes
    if rle:
        out = bytearray()
        n = len(payload)
        while len(out) < need:
            if pos >= n:
                raise ValueError("truncated_tga_rle")
            hdr = payload[pos]
            pos += 1
            count = (hdr & 0x7F) + 1
            if hdr & 0x80:  # run packet: one pixel repeated
                px = payload[pos : pos + px_bytes]
                if len(px) < px_bytes:
                    raise ValueError("truncated_tga_rle")
                pos += px_bytes
                out += px * count
            else:  # raw packet
                take = count * px_bytes
                chunk = payload[pos : pos + take]
                if len(chunk) < take:
                    raise ValueError("truncated_tga_rle")
                pos += take
                out += chunk
        data = bytes(out[:need])
    else:
        data = payload[pos : pos + need]
        if len(data) < need:
            raise ValueError("truncated_tga")
    a = np.frombuffer(data, np.uint8)
    if kind == 3:
        img = a.reshape(h, w, 1)
    elif kind == 1:
        first, pal = palette
        idx = a.astype(np.int32) - first
        if idx.min() < 0 or idx.max() >= pal.shape[0]:
            raise ValueError("tga_palette_index_out_of_range")
        m = pal[idx].reshape(h, w, pal.shape[1])  # BGR(A) entries
        if pal.shape[1] == 3:
            img = m[:, :, ::-1]  # BGR -> RGB
        else:
            img = np.stack([m[:, :, 2], m[:, :, 1], m[:, :, 0], m[:, :, 3]], 2)
    elif px_bytes == 2:
        v = a.view("<u2").reshape(h, w).astype(np.int32)
        r = ((v >> 10) & 0x1F) * 255 // 31
        g = ((v >> 5) & 0x1F) * 255 // 31
        b = (v & 0x1F) * 255 // 31
        img = np.stack([r, g, b], 2).astype(np.uint8)
    elif px_bytes == 3:
        m = a.reshape(h, w, 3)
        img = m[:, :, ::-1]  # BGR -> RGB
    else:
        m = a.reshape(h, w, 4)
        img = np.stack([m[:, :, 2], m[:, :, 1], m[:, :, 0], m[:, :, 3]], 2)
    if not desc & 0x20:  # default origin is bottom-left
        img = img[::-1]
    if desc & 0x10:  # right-to-left pixel ordering: mirror columns
        img = img[:, ::-1]
    return np.ascontiguousarray(img.astype(np.uint8))


def tiff_dimensions(payload: bytes) -> tuple[int, int]:
    """Header-only (w, h) from the first IFD; (0, 0) on any damage."""
    try:
        bo = "<" if payload[:4] == b"II*\x00" else ">"
        (ifd_off,) = struct.unpack(bo + "I", payload[4:8])
        (n_entries,) = struct.unpack(bo + "H", payload[ifd_off : ifd_off + 2])
        dims = {}
        for i in range(n_entries):
            e = payload[ifd_off + 2 + i * 12 : ifd_off + 14 + i * 12]
            tag, typ, count = struct.unpack(bo + "HHI", e[:8])
            if tag in (256, 257):
                v = _read_ifd_values(payload, bo, typ, count, e[8:12])
                dims[tag] = v[0] if v else 0
        return dims.get(256, 0), dims.get(257, 0)
    except (struct.error, ValueError, IndexError):
        return 0, 0


def decode_tiff(payload: bytes):
    """Decode the first IFD of a TIFF payload to (h, w, channels) uint8."""
    import numpy as np

    from .pdf import StreamCorruptError, lzw_decode_pdf

    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not_a_tiff")
    if len(payload) < 8:
        raise ValueError("truncated_tiff")
    (ifd_off,) = struct.unpack(bo + "I", payload[4:8])
    if ifd_off + 2 > len(payload):
        raise ValueError("truncated_ifd")
    (n_entries,) = struct.unpack(bo + "H", payload[ifd_off : ifd_off + 2])
    tags = {}
    for i in range(n_entries):
        e = payload[ifd_off + 2 + i * 12 : ifd_off + 14 + i * 12]
        if len(e) != 12:
            raise ValueError("truncated_ifd")
        tag, typ, count = struct.unpack(bo + "HHI", e[:8])
        name = _TIFF_TAGS.get(tag)
        if name:
            v = _read_ifd_values(payload, bo, typ, count, e[8:12])
            if v:  # unknown value type / zero count == tag absent
                tags[name] = v
    tiled = "tile_width" in tags or "tile_offsets" in tags
    try:
        w = tags["width"][0]
        h = tags["height"][0]
        if tiled:
            offsets = tags["tile_offsets"]
            counts = tags["tile_byte_counts"]
        else:
            offsets = tags["strip_offsets"]
            counts = tags["strip_byte_counts"]
    except KeyError as e:
        raise ValueError(f"missing_tag_{e.args[0]}") from None
    spp = tags.get("samples_per_pixel", [1])[0]
    # TIFF 6.0 default when the tag is absent is 1 bit (bilevel writers,
    # javax.imageio included, omit it for uncompressed 1-bit too — not
    # just for CCITT); compliant 8-bit writers always emit the tag
    bits = tags.get("bits_per_sample", [1])
    compression = tags.get("compression", [1])[0]
    photometric = tags.get("photometric", [1])[0]
    predictor = tags.get("predictor", [1])[0]
    rows_per_strip = tags.get("rows_per_strip", [h])[0] or h
    planar = tags.get("planar", [1])[0]
    if planar not in (1, 2):
        raise ValueError(f"bad_planar_config_{planar}")
    fill_order = tags.get("fill_order", [1])[0]
    if fill_order not in (1, 2):
        raise ValueError(f"bad_fill_order_{fill_order}")
    if fill_order == 2 and compression not in (1, 2, 3, 4):
        # LSB-first bit packing only occurs in fax-lineage data
        # (uncompressed bilevel or CCITT); with byte-oriented codecs the
        # combination is spec-discouraged and has no anchor to pin it
        raise NotImplementedError("tiff fill_order=2 with byte-oriented compression")

    def unfill(raw: bytes) -> bytes:
        """Restore MSB-first bit order for FillOrder=2 payloads (fax
        archives) — a per-byte bit reversal."""
        return raw.translate(_BITREV) if fill_order == 2 else raw
    if predictor not in (1, 2):
        raise NotImplementedError(f"tiff predictor={predictor}")
    if compression in (2, 3, 4):
        # CCITT bilevel (the dominant scanned/fax archive format): pure
        # T.4/T.6 run-length Huffman, decoded in-repo (ccitt.py). Each
        # strip is an independently-coded block of rows.
        #   2 = Modified Huffman: 1D, rows byte-aligned, no EOLs
        #   3 = T.4 (G3): T4Options bit0 selects mixed 2D coding
        #   4 = T.6 (G4): pure 2D
        from .ccitt import decode_ccitt

        # BitsPerSample defaults to 1 when absent (TIFF 6.0) — bilevel
        # writers (javax.imageio among them) routinely omit the tag
        if spp != 1 or tags.get("bits_per_sample", [1])[0] != 1:
            raise ValueError("ccitt_requires_bilevel")
        if w <= 0 or h <= 0:
            raise ValueError("bad_dimensions")
        if w * h > _MAX_RASTER:
            raise ValueError("image_too_large")
        if compression == 2:
            k, byte_align = 0, True
        elif compression == 3:
            k = 1 if (tags.get("t4_options", [0])[0] & 1) else 0
            # T4Options bit 2 means the ENCODER padded fill bits so EOLs
            # end on byte boundaries — the EOL scan already tolerates fill
            # zeros, so no reader-side mode change is needed; forcing
            # byte_align here would snap PAST the fill+EOL prefix and
            # reject valid fax TIFFs (review finding r5)
            byte_align = False
        else:
            k, byte_align = -1, False
        if len(counts) != len(offsets):
            raise ValueError("bad_strip_count")
        if tiled:
            # tiled CCITT (scanned maps/plans): each tile is an
            # independently-coded full-width block padded to the tile
            # grid; edge tiles crop on paste
            tw = tags.get("tile_width", [0])[0]
            th = tags.get("tile_length", [0])[0]
            if tw <= 0 or th <= 0:
                raise ValueError("bad_tile_geometry")
            if tw * th > _MAX_RASTER:
                # per-tile allocation cap: declared tile dims are attacker-
                # controlled and independent of the (already-capped) image
                # dims — a 30000x30000 tile claim on a 100x100 image would
                # otherwise allocate ~900 MB per task (review finding r5)
                raise ValueError("image_too_large")
            tiles_x = (w + tw - 1) // tw
            tiles_y = (h + th - 1) // th
            if len(offsets) < tiles_x * tiles_y:
                raise ValueError("bad_tile_count")
            ink = np.zeros((h, w), np.uint8)
            for ty in range(tiles_y):
                for tx in range(tiles_x):
                    i = ty * tiles_x + tx
                    raw = payload[offsets[i] : offsets[i] + counts[i]]
                    if len(raw) != counts[i]:
                        raise ValueError("truncated_tile")
                    block = decode_ccitt(unfill(raw), tw, th, k=k, byte_align=byte_align)
                    y0, x0 = ty * th, tx * tw
                    ink[y0 : y0 + th, x0 : x0 + tw] = block[
                        : min(th, h - y0), : min(tw, w - x0)
                    ]
        else:
            bands = []
            y = 0
            for i in range(len(offsets)):
                rows = min(rows_per_strip, h - y)
                if rows <= 0:
                    break
                raw = payload[offsets[i] : offsets[i] + counts[i]]
                if len(raw) != counts[i]:
                    raise ValueError("truncated_strip")
                bands.append(decode_ccitt(unfill(raw), w, rows, k=k, byte_align=byte_align))
                y += rows
            if y != h:
                raise ValueError("short_strip")
            ink = np.concatenate(bands, axis=0)
        # PhotometricInterpretation 0 = WhiteIsZero (the standard fax
        # pairing): decoded white runs -> gray 255; the rare inverted
        # pairing (1) flips the display mapping.
        gray = 255 * (1 - ink) if photometric == 0 else 255 * ink
        return gray.astype(np.uint8)[:, :, None]
    if bits and all(b == 8 for b in bits):
        sample_bytes, bits0 = 1, 8
    elif bits and all(b == 16 for b in bits):
        sample_bytes, bits0 = 2, 16  # decoded to the high byte (PNG convention)
    elif bits in ([1], [2], [4]) and spp == 1 and planar == 1:
        # sub-byte samples (r6: old scanned archives and small palette
        # images): MSB-first within each byte (FillOrder 1 default;
        # FillOrder=2 fax-lineage files are bit-reversed per byte via
        # `unfill`), each ROW padded to a byte boundary per TIFF 6.0.
        # Samples expand to one byte each after unpacking.
        sample_bytes, bits0 = 1, bits[0]
        if predictor == 2:
            raise NotImplementedError("tiff predictor=2 with sub-byte samples")
    else:
        raise NotImplementedError(f"tiff bits={bits}")
    if spp < 1 or spp > 4:
        raise NotImplementedError(f"tiff spp={spp}")
    if sample_bytes == 2 and photometric == 3:
        raise NotImplementedError("tiff 16-bit palette")
    if w <= 0 or h <= 0:
        raise ValueError("bad_dimensions")
    if w * h * spp * sample_bytes > _MAX_RASTER:
        raise ValueError("image_too_large")

    def decompress(raw, expect):
        if compression == 1:
            out = raw
        elif compression == 5:
            # TIFF 6.0 specifies early code-width change (PDF EarlyChange=1),
            # but real writers disagree — javax.imageio (and some historical
            # encoders) switch one code LATE; libtiff's reader famously
            # tolerates both. Caught by the real-encoder anchor fixture
            # (tests/test_real_anchors.py): try spec mode, retry late mode.
            # A wrong-mode decode can also end WITHOUT an invalid code
            # (misaligned reads mostly land on valid table entries), so a
            # too-short early result triggers the late retry as well.
            try:
                out = lzw_decode_pdf(raw, cap=expect + 8, early_change=1)
            except StreamCorruptError:
                out = None
            if out is None or len(out) < expect:
                try:
                    late = lzw_decode_pdf(raw, cap=expect + 8, early_change=0)
                    if out is None or len(late) > len(out):
                        out = late
                except StreamCorruptError:
                    if out is None:
                        # both modes corrupt: declared degradation at the
                        # TIFF boundary (StreamCorruptError is a
                        # zlib.error subclass, not a ValueError)
                        raise ValueError("corrupt_lzw_strip") from None
        elif compression in (8, 32946):
            try:
                d = zlib.decompressobj()
                out = d.decompress(raw, expect)
                if d.unconsumed_tail:
                    raise ValueError("strip_too_large")
                out += d.flush()
            except zlib.error:  # corrupt Deflate body: declared degradation
                raise ValueError("corrupt_deflate_strip") from None
        elif compression == 32773:  # PackBits
            o = bytearray()
            i = 0
            while i < len(raw) and len(o) < expect:
                n0 = raw[i]
                if n0 < 128:
                    o += raw[i + 1 : i + 2 + n0]
                    i += 2 + n0
                elif n0 > 128:
                    if i + 1 >= len(raw):
                        raise ValueError("truncated_packbits")
                    o += raw[i + 1 : i + 2] * (257 - n0)
                    i += 2
                else:
                    i += 1  # 128: no-op
            out = bytes(o)
        else:
            raise NotImplementedError(f"tiff compression={compression}")
        if len(out) < expect:
            raise ValueError("short_strip")
        return out[:expect]

    def block_expect(rows, cols):
        """Decoded byte count of one strip/tile block: sub-byte rows are
        individually padded to byte boundaries."""
        if bits0 < 8:
            return rows * ((cols * bits0 + 7) // 8)
        return rows * cols * spp_eff * sample_bytes

    def undo_predictor(raw, rows, cols, samples):
        # horizontal differencing restarts at each block row's left edge,
        # so it must be undone per strip/tile block, not post-assembly;
        # for 16-bit samples it operates on 16-bit VALUES in the file's
        # byte order, and the decoded output keeps the high byte
        if bits0 < 8:
            rb = (cols * bits0 + 7) // 8
            a = np.frombuffer(raw, np.uint8).reshape(rows, rb)
            unpacked = np.unpackbits(a, axis=1)[:, : cols * bits0]
            if bits0 == 1:
                v = unpacked
            else:
                weights = (1 << np.arange(bits0 - 1, -1, -1)).astype(np.uint16)
                v = unpacked.reshape(rows, cols, bits0) @ weights
            return v.astype(np.uint8).reshape(rows, cols, 1)
        if sample_bytes == 2:
            a = np.frombuffer(raw, np.dtype(bo + "u2")).reshape(rows, cols, samples)
            if predictor == 2:
                a = np.cumsum(a.astype(np.uint32), axis=1, dtype=np.uint32) & 0xFFFF
            return (a >> 8).astype(np.uint8)
        a = np.frombuffer(raw, np.uint8).reshape(rows, cols, samples)
        if predictor == 2:
            a = np.cumsum(a.astype(np.uint32), axis=1, dtype=np.uint32).astype(np.uint8)
        return a

    # planar config 2 stores each sample plane as its own run of
    # strips/tiles (all of plane 0, then plane 1, ...), 1 sample per block
    spp_eff = 1 if planar == 2 else spp
    n_planes = spp if planar == 2 else 1
    px = np.zeros((h, w, spp), np.uint8)

    def fetch(off, cnt, expect):
        raw = payload[off : off + cnt]
        if len(raw) != cnt:
            raise ValueError("truncated_block")
        # fill_order=2 only reaches here uncompressed (guarded above);
        # the reversal applies to the packed sample bits themselves
        return decompress(unfill(raw), expect)

    if tiled:
        tw = tags.get("tile_width", [0])[0]
        th = tags.get("tile_length", [0])[0]
        if tw <= 0 or th <= 0:
            raise ValueError("bad_tile_dimensions")
        if tw * th * spp_eff * sample_bytes > _MAX_RASTER:
            raise ValueError("image_too_large")
        across = (w + tw - 1) // tw
        down = (h + th - 1) // th
        if len(offsets) != across * down * n_planes or len(counts) != len(offsets):
            raise ValueError("bad_tile_count")
        i = 0
        for p in range(n_planes):
            for ty in range(down):
                for tx in range(across):
                    # tiles are always padded to full tw x th
                    out = fetch(offsets[i], counts[i], block_expect(th, tw))
                    i += 1
                    tile = undo_predictor(out, th, tw, spp_eff)
                    ys, xs = ty * th, tx * tw
                    hh, ww = min(th, h - ys), min(tw, w - xs)
                    if planar == 2:
                        px[ys : ys + hh, xs : xs + ww, p] = tile[:hh, :ww, 0]
                    else:
                        px[ys : ys + hh, xs : xs + ww] = tile[:hh, :ww]
    else:
        per_plane = (h + rows_per_strip - 1) // rows_per_strip
        if len(offsets) != per_plane * n_planes or len(counts) != len(offsets):
            raise ValueError("bad_strip_count")
        i = 0
        for p in range(n_planes):
            y = 0
            for _ in range(per_plane):
                rows = min(rows_per_strip, h - y)
                out = fetch(offsets[i], counts[i], block_expect(rows, w))
                i += 1
                strip = undo_predictor(out, rows, w, spp_eff)
                if planar == 2:
                    px[y : y + rows, :, p] = strip[:, :, 0]
                else:
                    px[y : y + rows] = strip
                y += rows
    if photometric == 3:  # palette-color via ColorMap (16-bit entries)
        cm = tags.get("colormap")
        if not cm or spp != 1:
            raise ValueError("missing_colormap")
        n = len(cm) // 3
        cmap = (np.asarray(cm, np.uint32).reshape(3, n).T >> 8).astype(np.uint8)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= n:
            raise ValueError("palette_index_out_of_range")
        return cmap[idx]
    if bits0 < 8:
        # exact linear expansion: 255/(2^bits-1) is an integer for 1/2/4
        px = px * (255 // ((1 << bits0) - 1))
    if photometric == 0:  # WhiteIsZero: invert to the usual polarity
        return 255 - px
    return px  # BlackIsZero grayscale or RGB(A)


def encode_tiff(
    arr, compression=1, predictor=1, byte_order="<", rows_per_strip=None,
    colormap=None, planar=1, tile=None, bit_depth=8,
) -> bytes:
    """Synthesis twin: little/big endian, strip- or tile-based, chunky or
    planar, 8- or 16-bit. `arr` is (h, w) gray / (h, w, c) / (h, w)
    indices with colormap(n,3) (uint16 when bit_depth=16); `tile=(tw,
    th)` switches to padded tiles."""
    import numpy as np

    from .pdf import lzw_encode_pdf

    bo = byte_order
    dt = np.uint8 if bit_depth == 8 else np.uint16
    a = np.asarray(arr, dt)
    if colormap is not None:
        if a.ndim != 2:
            raise ValueError("palette tiff takes (h, w) indices")
        a = a[:, :, None]
    elif a.ndim == 2:
        a = a[:, :, None]
    h, w, spp = a.shape
    photometric = 3 if colormap is not None else 1 if spp == 1 else 2
    rows_per_strip = rows_per_strip or h
    if planar not in (1, 2):
        raise ValueError("planar must be 1 or 2")
    spp_eff = 1 if planar == 2 else spp

    def compress(block, row_bytes):
        if compression == 1:
            return block
        if compression == 5:
            return lzw_encode_pdf(block)
        if compression in (8, 32946):
            return zlib.compress(block)
        if compression == 32773:  # PackBits, packed per row
            from .pdf import run_length_encode

            out = bytearray()
            for i in range(0, len(block), row_bytes):
                row = run_length_encode(block[i : i + row_bytes])
                out += row[:-1]  # strip RunLength's EOD; PackBits has none
            return bytes(out)
        raise ValueError(f"unsupported encode compression={compression}")

    def diff(block):
        # horizontal differencing within each block row, at sample width
        if predictor != 2:
            return block
        d = block.astype(np.int32)
        d[:, 1:] -= block[:, :-1].astype(np.int32)
        mask = 0xFF if bit_depth == 8 else 0xFFFF
        return (d & mask).astype(dt)

    def raw_bytes(block):
        # samples serialized in the chosen byte order
        if bit_depth == 8:
            return block.astype(np.uint8).tobytes()
        return block.astype(np.dtype(bo + "u2")).tobytes()

    planes = [a[:, :, p : p + 1] for p in range(spp)] if planar == 2 else [a]
    blocks = []
    if tile:
        tw, th = tile
        for src in planes:
            for ty in range(0, h, th):
                for tx in range(0, w, tw):
                    t = np.zeros((th, tw, spp_eff), dt)  # padded
                    part = src[ty : ty + th, tx : tx + tw]
                    t[: part.shape[0], : part.shape[1]] = part
                    blocks.append(
                        compress(raw_bytes(diff(t)), tw * spp_eff * (bit_depth // 8))
                    )
    else:
        for src in planes:
            for y in range(0, h, rows_per_strip):
                s = diff(src[y : y + rows_per_strip])
                blocks.append(
                    compress(raw_bytes(s), w * spp_eff * (bit_depth // 8))
                )

    entries = []  # (tag, type, count, packed_or_data)

    def entry(tag, typ, vals):
        entries.append((tag, typ, vals))

    entry(256, 4, [w])
    entry(257, 4, [h])
    entry(258, 3, [bit_depth] * spp)
    entry(259, 3, [compression])
    entry(262, 3, [photometric])
    entry(277, 3, [spp])
    if tile:
        entry(322, 4, [tile[0]])
        entry(323, 4, [tile[1]])
        entry(325, 4, [len(s) for s in blocks])
        data_tag = 324
    else:
        entry(278, 4, [rows_per_strip])
        entry(279, 4, [len(s) for s in blocks])
        data_tag = 273
    if planar == 2:
        entry(284, 3, [2])
    if predictor != 1:
        entry(317, 3, [predictor])
    if colormap is not None:
        cm = np.asarray(colormap, np.uint8).astype(np.uint16)
        n = len(cm)
        entry(320, 3, list((cm[:, 0] << 8)) + list((cm[:, 1] << 8)) + list((cm[:, 2] << 8)))
    entry(data_tag, 4, [0] * len(blocks))  # patched below
    strips = blocks

    header = struct.pack(bo + "2sHI", b"II" if bo == "<" else b"MM", 42, 8)
    n_ent = len(entries)
    ifd_size = 2 + n_ent * 12 + 4
    heap = bytearray()
    heap_base = 8 + ifd_size
    packed = []
    strip_off_entry_idx = None
    for i, (tag, typ, vals) in enumerate(sorted(entries)):
        size = _TYPE_SIZE[typ] * len(vals)
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        raw = struct.pack(bo + fmt * len(vals), *vals)
        if tag == data_tag:
            strip_off_entry_idx = i
        if size <= 4:
            packed.append((tag, typ, len(vals), raw + b"\x00" * (4 - size), None))
        else:
            packed.append((tag, typ, len(vals), None, raw))
    # lay out heap: oversized values first, then strip data
    offsets_in_heap = []
    for i, (tag, typ, cnt, inline, raw) in enumerate(packed):
        if raw is not None:
            offsets_in_heap.append(heap_base + len(heap))
            heap += raw
        else:
            offsets_in_heap.append(None)
    strip_offsets = []
    for s in strips:
        strip_offsets.append(heap_base + len(heap))
        heap += s
    # rebuild the strip-offsets entry with real offsets
    fmt = "I"
    raw = struct.pack(bo + fmt * len(strip_offsets), *strip_offsets)
    if len(raw) <= 4:
        packed[strip_off_entry_idx] = (data_tag, 4, len(strip_offsets), raw + b"\x00" * (4 - len(raw)), None)
    else:
        off = heap_base + len(heap)
        heap += raw
        offsets_in_heap[strip_off_entry_idx] = off
        packed[strip_off_entry_idx] = (data_tag, 4, len(strip_offsets), None, raw)
    ifd = struct.pack(bo + "H", len(packed))
    for i, (tag, typ, cnt, inline, raw) in enumerate(packed):
        if inline is not None:
            val4 = inline
        else:
            val4 = struct.pack(bo + "I", offsets_in_heap[i])
        ifd += struct.pack(bo + "HHI", tag, typ, cnt) + val4
    ifd += struct.pack(bo + "I", 0)  # no next IFD
    return header + ifd + bytes(heap)


# ---------------------------------------------------------------------------
# ICO (favicons: BMP DIBs with AND masks, or embedded PNGs)
# ---------------------------------------------------------------------------

def decode_ico(payload: bytes):
    """Decode an ICO container to (h, w, 4) uint8 RGBA, picking the
    largest image. Entries are either embedded PNGs (decoded via
    multimodal.decode_png) or headerless BMP DIBs whose BITMAPINFOHEADER
    height covers XOR+AND planes; 32-bit entries carry alpha directly,
    24/8/4/1-bit entries take alpha from the 1-bit AND mask."""
    import numpy as np

    if len(payload) < 6 or payload[:4] != b"\x00\x00\x01\x00":
        raise ValueError("not_an_ico")
    (count,) = struct.unpack("<H", payload[4:6])
    if count == 0 or count > 64:
        raise ValueError("bad_ico_count")
    best = None
    for i in range(count):
        e = payload[6 + i * 16 : 22 + i * 16]
        if len(e) != 16:
            raise ValueError("truncated_ico_directory")
        w, h = e[0] or 256, e[1] or 256
        size, off = struct.unpack("<II", e[8:16])
        if best is None or w * h > best[0]:
            best = (w * h, w, h, size, off)
    _, w, h, size, off = best
    body = payload[off : off + size]
    if len(body) != size:
        raise ValueError("truncated_ico_image")
    if body[:8] == b"\x89PNG\r\n\x1a\n":
        from .multimodal import decode_png

        px = decode_png(body)
        if px.ndim == 2:
            px = px[:, :, None]
        if px.shape[2] == 1:
            px = np.repeat(px, 3, axis=2)
        if px.shape[2] == 3:
            px = np.concatenate(
                [px, np.full(px.shape[:2] + (1,), 255, np.uint8)], axis=2
            )
        return px
    # BMP DIB: header height is XOR + AND planes combined
    if len(body) < 40:
        raise ValueError("truncated_dib")
    hdr_size = struct.unpack("<I", body[0:4])[0]
    if hdr_size < 40:
        raise NotImplementedError("ico core-header dib")
    dw = struct.unpack("<i", body[4:8])[0]
    dh = struct.unpack("<i", body[8:12])[0] // 2
    bpp = struct.unpack("<H", body[14:16])[0]
    compression = struct.unpack("<I", body[16:20])[0]
    if compression != 0:
        raise NotImplementedError(f"ico dib compression={compression}")
    if dw != w or dh != h:
        w, h = dw, dh  # the DIB is authoritative; directory bytes are hints
    if w <= 0 or h <= 0 or w * h * 4 > _MAX_RASTER:
        raise ValueError("bad_dimensions")
    pos = hdr_size
    palette = None
    if bpp <= 8:
        n_colors = struct.unpack("<I", body[32:36])[0] or (1 << bpp)
        pal = body[pos : pos + n_colors * 4]
        if len(pal) != n_colors * 4:
            raise ValueError("truncated_palette")
        palette = np.frombuffer(pal, np.uint8).reshape(-1, 4)[:, [2, 1, 0]]
        pos += n_colors * 4
    if bpp in (24, 32):
        stride = (w * (bpp // 8) + 3) & ~3
        need = stride * h
        if len(body) < pos + need:
            raise ValueError("truncated_pixel_data")
        rows = np.frombuffer(body, np.uint8, need, pos).reshape(h, stride)
        px = rows[:, : w * (bpp // 8)].reshape(h, w, bpp // 8)[::-1]  # bottom-up
        pos += need
        if bpp == 32:
            return px[:, :, [2, 1, 0, 3]].copy()  # BGRA -> RGBA, own alpha
        rgb = px[:, :, [2, 1, 0]]
    elif bpp in (1, 4, 8):
        row_bits = w * bpp
        stride = ((row_bits + 31) // 32) * 4
        need = stride * h
        if len(body) < pos + need:
            raise ValueError("truncated_pixel_data")
        rows = np.frombuffer(body, np.uint8, need, pos).reshape(h, stride)
        if bpp == 8:
            idx = rows[:, :w]
        else:
            bits = np.unpackbits(rows, axis=1)
            if bpp == 1:
                idx = bits[:, :w]
            else:  # 4-bit: each nibble is an index, MSB nibble first
                nib = bits.reshape(h, -1, 4)
                idx = (nib[:, :, 0] * 8 + nib[:, :, 1] * 4
                       + nib[:, :, 2] * 2 + nib[:, :, 3])[:, :w]
        idx = idx[::-1]
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("palette_index_out_of_range")
        rgb = palette[idx]
        pos += need
    else:
        raise NotImplementedError(f"ico bpp={bpp}")
    # AND mask: 1 bit per pixel, rows padded to 32 bits, bottom-up; 1=transparent
    mask_stride = ((w + 31) // 32) * 4
    mask_need = mask_stride * h
    if len(body) < pos + mask_need:
        raise ValueError("truncated_and_mask")
    mrows = np.frombuffer(body, np.uint8, mask_need, pos).reshape(h, mask_stride)
    mbits = np.unpackbits(mrows, axis=1)[:, :w][::-1]
    alpha = np.where(mbits.astype(bool), 0, 255).astype(np.uint8)
    return np.concatenate([rgb, alpha[:, :, None]], axis=2)
