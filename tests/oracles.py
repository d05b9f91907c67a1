"""Reference oracles and fixture encoders that only tests use.

The oracles pin a production path by comparison: `parse_stdlib` the fast
tokenizer, `bpe_apply_merges` the rank-dict BPE encoder,
`corpus_filter_frame` the merged corpus_filter variants frame, and
`robots_allowed` the Spark robots.txt filter row by row. The
encoders build inputs for live decoders (TGA, ICO, PNM, WBMP, Ogg Opus,
top-down BMP, WhiteIsZero and tiled CCITT TIFF, unfiltered ObjStm),
and `pdf_image_rows` runs extract_pdf_profile's per-image decode on every
image of a payload. Nothing a shipped entry point runs reaches them.
"""

import re
import struct
import zlib

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from htmlx.core.dom import Node, _TreeBuilder
from htmlx.spark import analytics
from htmlx.spark.analytics import bpe_merge_step
from htmlx.spark.ccitt import encode_ccitt_g3_1d, encode_ccitt_g4
from htmlx.spark.multimodal import encode_ogg_vorbis
from htmlx.spark.pdf import _image_feature_row, _iter_image_streams, encode_object_stream
from htmlx.spark.pdfcrypt import get_encryption
from htmlx.spark.robotstxt import pattern_to_regex
from htmlx.spark.tiffbmp import encode_bmp, encode_tiff


def parse_stdlib(html_text: str) -> Node:
    """dom.parse driven by html.parser instead of the fast tokenizer: the
    differential oracle for the tokenizer."""
    tb = _TreeBuilder()
    try:
        tb.feed(html_text)
        tb.close()
    except Exception:
        pass
    tb._ensure_body()
    return tb.doc


def pattern_matches(pattern: str, path: str) -> bool:
    """One robots.txt pattern against one path, in Python."""
    return re.match(pattern_to_regex(pattern), path) is not None


def robots_allowed(rules: list[tuple[str, bool]], path: str) -> bool:
    """Longest-match decision for one path: most OCTETS wins (RFC 9309
    §2.2.2 defines precedence in octets, so multibyte UTF-8 patterns
    count their encoded length, not their character count), ties go to
    allow, no match means allowed."""
    best = None  # (octets, allow)
    for pattern, allow in rules:
        if pattern_matches(pattern, path):
            key = (len(pattern.encode("utf-8")), allow)
            if best is None or key > best:
                best = key
    return True if best is None else best[1]


def bpe_apply_merges(word: str, merges) -> list:
    """Encode one pretoken: apply trained merges in rank order. Rank
    order equals iterate-lowest-rank (the GPT-2 encoder loop) because
    training can only ever rank a composite pair AFTER the merges that
    built its symbols. Reference implementation — O(M * len) per word;
    the production encoder is bpe_encode_word (rank-dict loop, cost
    scales with the word, not the merges table; pinned equal in
    test_bpe.py)."""
    syms = list(word)
    for a, b in merges:
        if len(syms) < 2:
            break
        syms = bpe_merge_step(syms, a, b)
    return syms


def corpus_filter_frame(docs, hash_basis: str, max_bucket_size):
    """The composite training-corpus filter plan over a documents frame,
    for ONE (hash_basis, max_bucket_size) policy: the reference that the
    merged analytics.corpus_filter matches per variant (md5 basis
    uncapped for the oracle variant, xxhash64 capped for production).

    r10 shape (guide §2.4 — remove shuffles outright): the exact-dup
    keeper is a min-window over the SAME md5 digest the base row already
    computes (one digest shuffle; the former dedup_exact groupBy +
    join-back paid the digest shuffle AND a corpus-wide join), lang-ID is
    a scan-side COLUMN of base (it is a pure projection — the former
    doc_id join shuffled the corpus once more for it), and the converged
    component labels join in once (edge endpoints only). Two corpus-wide
    exchanges total (digest window + label join) instead of five."""
    docs = analytics.spread_small_input(docs)
    text = F.coalesce("text", F.lit(""))  # NULL text counts as ''
    base = analytics.with_lang_pred(docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
    )).select(
        "doc_id",
        F.md5(text).alias("text_md5"),
        F.length(text).alias("n_chars"),
        "pred_lang",
    ).withColumn(
        "exact_keep", F.min("doc_id").over(Window.partitionBy("text_md5"))
    )
    cands = analytics.minhash_lsh_candidates(
        docs, max_bucket_size=max_bucket_size, hash_basis=hash_basis
    )
    verified = (
        analytics.ngram_jaccard_pairs(docs, cands)
        .where(F.col("jaccard") >= 0.9)
        .select("doc_a", "doc_b")
    )
    labels = analytics.propagate_min_labels(verified, [])
    # no broadcast hints: every side here is corpus-sized at scale (the
    # label table is bounded by near-dup endpoints but still grows with
    # the corpus) — shuffle joins on uniform doc_id keys, right at 100 TB
    joined = base.join(
        labels.withColumnRenamed("doc_id", "__ldoc"),
        F.col("doc_id") == F.col("__ldoc"),
        "left",
    ).withColumn(
        "near_dup", F.col("doc_id") != F.coalesce("label", "doc_id")
    )
    reason = (
        F.when(F.col("doc_id") != F.col("exact_keep"), F.lit("exact_dup"))
        .when(F.col("near_dup"), F.lit("near_dup"))
        .when(F.col("n_chars") < 100, F.lit("low_quality"))
        .when(F.col("pred_lang") == "und", F.lit("und_lang"))
        .otherwise(F.lit(""))
    )
    return joined.select(
        "doc_id", reason.alias("reason")
    ).withColumn("keep", (F.col("reason") == "").cast("boolean"))


def encode_tga(arr, rle: bool = False, top_down: bool = True, palette=None) -> bytes:
    """Deterministic TGA encoder (synthesis/tests twin): gray (type 3),
    truecolor 24/32 (type 2), or color-mapped via `palette` (type 1,
    (n, 3|4) BGR(A) rows with `arr` as indices); +8 when rle."""
    a = np.asarray(arr, np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    if palette is not None:
        pal = np.asarray(palette, np.uint8)
        imgtype, bpp, cmtype = 1, 8, 1
        body_px = a[:, :, 0]
        cm_spec = struct.pack("<HHB", 0, pal.shape[0], pal.shape[1] * 8)
        cm_data = pal.tobytes()
    elif c == 1:
        imgtype, bpp, cmtype = 3, 8, 0
        body_px = a[:, :, 0]
        cm_spec = struct.pack("<HHB", 0, 0, 0)
        cm_data = b""
    else:
        imgtype, bpp, cmtype = 2, c * 8, 0
        if c == 3:
            body_px = a[:, :, ::-1]  # RGB -> BGR
        else:
            body_px = np.stack([a[:, :, 2], a[:, :, 1], a[:, :, 0], a[:, :, 3]], 2)
        cm_spec = struct.pack("<HHB", 0, 0, 0)
        cm_data = b""
    if not top_down:
        body_px = body_px[::-1]
    flat = body_px.reshape(h, -1)
    px_bytes = bpp // 8

    if rle:
        imgtype += 8
        out = bytearray()
        row_px = flat.reshape(h, w, px_bytes)
        for y in range(h):
            x = 0
            while x < w:
                px = row_px[y, x].tobytes()
                run = 1
                while x + run < w and run < 128 and row_px[y, x + run].tobytes() == px:
                    run += 1
                if run > 1:
                    out += bytes([0x80 | (run - 1)]) + px
                    x += run
                else:
                    start = x
                    while (
                        x < w and x - start < 128
                        and not (
                            x + 1 < w
                            and row_px[y, x + 1].tobytes() == row_px[y, x].tobytes()
                        )
                    ):
                        x += 1
                    out += bytes([x - start - 1]) + row_px[y, start:x].tobytes()
        body = bytes(out)
    else:
        body = flat.tobytes()
    hdr = (
        bytes([0, cmtype, imgtype]) + cm_spec
        + struct.pack("<HHHH", 0, 0, w, h)
        + bytes([bpp, 0x20 if top_down else 0x00])
    )
    return hdr + cm_data + body


def encode_ico(images) -> bytes:
    """Synthesis twin: each entry is ('png', png_bytes) or ('bmp', rgba
    (h, w, 4) array) — BMP entries get a 32-bit DIB plus an AND mask
    derived from alpha==0."""
    out = bytearray(b"\x00\x00\x01\x00" + struct.pack("<H", len(images)))
    bodies = []
    for kind, img in images:
        if kind == "png":
            body = img
            w = struct.unpack(">I", img[16:20])[0]
            h = struct.unpack(">I", img[20:24])[0]
        else:
            a = np.asarray(img, np.uint8)
            h, w = a.shape[:2]
            stride = (w * 4 + 3) & ~3
            xor = bytearray()
            for row in a[::-1]:
                line = row[:, [2, 1, 0, 3]].tobytes()
                xor += line + b"\x00" * (stride - len(line))
            mask_stride = ((w + 31) // 32) * 4
            mask = bytearray()
            for row in a[::-1]:
                bits = np.where(row[:, 3] == 0, 1, 0).astype(np.uint8)
                packed = np.packbits(bits)
                line = packed.tobytes()
                mask += line + b"\x00" * (mask_stride - len(line))
            dib = struct.pack(
                "<IiiHHIIiiII", 40, w, h * 2, 1, 32, 0,
                len(xor) + len(mask), 0, 0, 0, 0,
            )
            body = dib + bytes(xor) + bytes(mask)
        bodies.append((w, h, body))
    off = 6 + 16 * len(images)
    for w, h, body in bodies:
        out += bytes([w % 256, h % 256, 0, 0]) + struct.pack(
            "<HHII", 1, 32, len(body), off
        )
        off += len(body)
    for _, _, body in bodies:
        out += body
    return bytes(out)


def encode_pnm(arr, kind: int = 6, maxval: int = 255) -> bytes:
    """Deterministic netpbm encoder (synthesis/tests twin) for any of
    the six formats. Bitmap kinds take 0/nonzero input (nonzero =
    black, matching decode's polarity)."""
    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    bitmap = kind in (1, 4)
    if (kind in (3, 6)) != (c == 3) or (bitmap and c != 1):
        raise ValueError("channel count does not match PNM kind")
    hdr = b"P%d\n# twin\n%d %d\n" % (kind, w, h)
    if not bitmap:
        hdr += b"%d\n" % maxval
    if kind == 1:
        body = b"\n".join(
            b" ".join(b"1" if v else b"0" for v in row) for row in (a[:, :, 0] != 0)
        )
    elif kind in (2, 3):
        body = b" ".join(b"%d" % v for v in a.astype(np.int64).ravel())
    elif kind == 4:
        body = np.packbits((a[:, :, 0] != 0).astype(np.uint8), axis=1).tobytes()
    elif maxval > 255:
        body = a.astype(">u2").tobytes()
    else:
        body = a.astype(np.uint8).tobytes()
    return hdr + body


def encode_wbmp(bitonal) -> bytes:
    """Deterministic WBMP encoder (synthesis/tests twin): any nonzero
    sample becomes a 1 (white) bit."""
    a = np.asarray(bitonal)
    if a.ndim == 3:
        a = a[:, :, 0]
    h, w = a.shape

    def mb(v):
        out = bytearray()
        out.append(v & 0x7F)
        v >>= 7
        while v:
            out.insert(0, 0x80 | (v & 0x7F))
            v >>= 7
        return bytes(out)

    packed = np.packbits((a != 0).astype(np.uint8), axis=1)
    return b"\x00\x00" + mb(w) + mb(h) + packed.tobytes()


def encode_ogg_opus(granule: int, rate: int, channels: int) -> bytes:
    """multimodal.encode_ogg_vorbis with an OpusHead identification packet
    in the BOS page instead of the Vorbis one (same EOS page)."""
    ident = (
        b"OpusHead\x01" + bytes([channels]) + (0).to_bytes(2, "little")
        + rate.to_bytes(4, "little") + (0).to_bytes(2, "little") + b"\x00"
    )
    ogg = encode_ogg_vorbis(granule, rate, channels, 0)
    # the Vorbis BOS page: 26 header bytes, 1 segment of 30 bytes
    return ogg[:26] + bytes([1, len(ident)]) + ident + ogg[26 + 2 + 30:]


def pdf_image_rows(payload: bytes) -> list:
    """extract_pdf_profile's per-image feature row, for every image."""
    crypto = get_encryption(payload)
    return [
        _image_feature_row(obj_dict, raw, crypto, onum, ogen)
        for onum, ogen, obj_dict, raw in _iter_image_streams(payload)
    ]


def encode_bmp_top_down(arr) -> bytes:
    """encode_bmp's RGB/RGBA BMP stored top-down: the rows in file order
    and a negative biHeight (BITMAPINFOHEADER, byte 22)."""
    b = bytearray(encode_bmp(np.asarray(arr)[::-1]))
    (h,) = struct.unpack_from("<i", b, 22)
    struct.pack_into("<i", b, 22, -h)
    return bytes(b)


def encode_tiff_white_is_zero(gray) -> bytes:
    """encode_tiff's gray TIFF with PhotometricInterpretation 0
    (WhiteIsZero) patched into its inline tag-262 entry."""
    t = bytearray(encode_tiff(gray))
    (n,) = struct.unpack_from("<H", t, 8)  # the one IFD, at offset 8
    for off in range(10, 10 + 12 * n, 12):
        if struct.unpack_from("<H", t, off)[0] == 262:
            struct.pack_into("<H", t, off + 8, 0)
            return bytes(t)
    raise ValueError("no PhotometricInterpretation entry")


def encode_tiff_ccitt_tiled(ink, compression: int, tile) -> bytes:
    """encode_tiff_ccitt's TIFF in a TILED layout, tile=(tw, th): each tile
    independently coded, edge tiles zero-padded to the grid (TIFF 6.0
    tile rule)."""
    a = np.asarray(ink, np.uint8)
    rows, cols = a.shape
    code = {
        4: encode_ccitt_g4,
        3: lambda b: encode_ccitt_g3_1d(b, with_eol=True),
        2: lambda b: encode_ccitt_g3_1d(b, byte_align=True),
    }[compression]
    tw, th = tile
    blocks = []
    for y0 in range(0, rows, th):
        for x0 in range(0, cols, tw):
            block = np.zeros((th, tw), np.uint8)
            sub = a[y0 : y0 + th, x0 : x0 + tw]
            block[: sub.shape[0], : sub.shape[1]] = sub
            blocks.append(code(block))
    entries = [
        (256, 3, 1, cols), (257, 3, 1, rows), (258, 3, 1, 1),
        (259, 3, 1, compression), (262, 3, 1, 0), (277, 3, 1, 1),
        (322, 3, 1, tw), (323, 3, 1, th),
        (324, 4, len(blocks), 0),  # tile offsets (patched)
        (325, 4, len(blocks), 0),  # tile byte counts (patched)
    ]
    n = len(entries)
    ifd_off = 8
    arrays_off = ifd_off + 2 + 12 * n + 4
    nb = len(blocks)
    offsets_off = arrays_off
    counts_off = arrays_off + 4 * nb
    data_off = counts_off + 4 * nb
    offs, pos = [], data_off
    for b in blocks:
        offs.append(pos)
        pos += len(b)
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", n)
    for tag, typ, cnt, val in entries:
        if tag == 324:
            val = offs[0] if nb == 1 else offsets_off
        elif tag == 325:
            val = len(blocks[0]) if nb == 1 else counts_off
        out += struct.pack("<HHII", tag, typ, cnt, val)
    out += struct.pack("<I", 0)
    if nb > 1:
        for o in offs:
            out += struct.pack("<I", o)
        for b in blocks:
            out += struct.pack("<I", len(b))
    else:
        # single tile: values inline in the IFD entries; arrays_off
        # region is unused but data must still start at data_off
        out += b"\x00" * (data_off - len(out))
    for b in blocks:
        out += b
    return bytes(out)


def encode_object_stream_plain(objects) -> bytes:
    """encode_object_stream's ObjStm with its body stored unfiltered."""
    head, rest = encode_object_stream(objects).split(b"\nstream\n", 1)
    body = zlib.decompress(rest[: -len(b"\nendstream")])
    head = head.replace(b" /Filter /FlateDecode", b"").rsplit(b" /Length ", 1)[0]
    return head + b" /Length %d >>\nstream\n" % len(body) + body + b"\nendstream"
