"""WebP lossless (VP8L) decode in pure Python/numpy — no external codec.

Closes the WebP tier of the media surface (reference treats images as
first-class: media.go, extract.go:1044-1089) the same way PNG/GIF/JPEG/
TIFF were closed. VP8L is fully decodable without codec libraries: it is
canonical-Huffman entropy coding (DEFLATE-style code-length codes) over
ARGB literals, LZ77 backward references with a 2D distance mapping, an
optional color cache, and four invertible spatial transforms (predictor,
cross-color, subtract-green, color-indexing with pixel bundling), all
specified in the public WebP Lossless Bitstream Specification (RFC 9649).

Lossy VP8 frames genuinely require a full video-intra codec (boolean
arithmetic decoder, DCT, loop filter) and degrade to
error='decoder_unavailable'. The ALPH alpha-plane chunk of lossy files
uses this same VP8L entropy coder (compression method 1), so a
real-encoder-produced ALPH stream serves as a conformance anchor for the
entropy decoder in tests/test_vp8l.py.

The 2D distance table is generated from the spec's neighborhood rule:
the 120 closest (dx, dy) offsets with dy in 0..7, dx in -8..8 (same-row
offsets only to the left), ordered by squared Euclidean distance with
ties broken by larger dy first, then positive dx before negative — this
reproduces the spec's published table.

The synthesis twin (encode_vp8l) emits balanced canonical Huffman codes,
optional subtract-green transform, optional color cache, and optional
LZ77 runs using both linear and 2D distance codes — enough to exercise
every decoder path with round-trip validation.
"""

from __future__ import annotations

import struct

_MAX_PIXELS = 4 * 1024 * 1024  # python per-pixel loop cap

# code-length-code symbol order (RFC 9649)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _distance_table():
    cand = []
    for dy in range(8):
        for dx in range(-8, 9):
            if dy == 0 and dx <= 0:
                continue
            cand.append((dx, dy))
    cand.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    return cand[:120]


_DIST_TABLE = _distance_table()


class _LsbBits:
    """LSB-first bit reader (VP8L convention)."""

    def __init__(self, data: bytes, bitpos: int = 0):
        self.data = data
        self.pos = bitpos

    def read(self, n: int) -> int:
        d = self.data
        p = self.pos
        if p + n > len(d) * 8:
            raise ValueError("truncated_vp8l")
        v = 0
        for i in range(n):
            v |= ((d[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos = p + n
        return v


class _Huffman:
    """Canonical Huffman decoder: codes assigned by increasing length then
    symbol order, read MSB-of-code-first from the LSB-first stream."""

    __slots__ = ("counts", "symbols", "single")

    def __init__(self, lengths, symbols=None):
        # explicit `symbols` (simple-code form): lengths[i] belongs to
        # symbols[i] in GIVEN order, not sorted by symbol value
        if symbols is None:
            pairs = [(l, s) for s, l in enumerate(lengths) if l > 0]
            pairs.sort()
        else:
            pairs = [(l, s) for l, s in zip(lengths, symbols) if l > 0]
        if not pairs:
            raise ValueError("empty_huffman_code")
        if len(pairs) == 1:
            self.single = pairs[0][1]
            self.counts = self.symbols = None
            return
        self.single = None
        max_len = max(l for l, _ in pairs)
        counts = [0] * (max_len + 1)
        for l, _ in pairs:
            counts[l] += 1
        # Kraft check: the code must be complete
        total = 0
        for l in range(1, max_len + 1):
            total = (total << 1) + counts[l]
        if total != (1 << max_len):
            raise ValueError("invalid_huffman_code")
        self.counts = counts
        self.symbols = [s for _, s in pairs]

    def decode(self, bits: _LsbBits) -> int:
        if self.single is not None:
            return self.single
        code = 0
        first = 0
        index = 0
        for l in range(1, len(self.counts)):
            code = (code << 1) | bits.read(1)
            count = self.counts[l]
            if code - first < count:
                return self.symbols[index + code - first]
            index += count
            first = (first + count) << 1
        raise ValueError("invalid_huffman_bits")


def _read_huffman_code(bits: _LsbBits, alphabet_size: int) -> _Huffman:
    if bits.read(1):  # simple code: 1 or 2 symbols
        num_symbols = bits.read(1) + 1
        if bits.read(1):
            first = bits.read(8)
        else:
            first = bits.read(1)
        if num_symbols == 1:
            return _SingleSymbol(first)
        second = bits.read(8)
        return _Huffman([1, 1], [first, second])
    # normal: code lengths are themselves huffman-coded
    num_codes = bits.read(4) + 4
    if num_codes > len(_CLC_ORDER):
        raise ValueError("bad_code_length_count")
    clc_lengths = [0] * len(_CLC_ORDER)
    for i in range(num_codes):
        clc_lengths[_CLC_ORDER[i]] = bits.read(3)
    clc = _build_clc(clc_lengths)
    if bits.read(1):  # explicit max symbol
        length_nbits = 2 + 2 * bits.read(3)
        max_symbol = 2 + bits.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = clc.decode(bits)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev_len = code_len
        else:
            if code_len == 16:
                repeat = bits.read(2) + 3
                fill = prev_len
            elif code_len == 17:
                repeat = bits.read(3) + 3
                fill = 0
            else:
                repeat = bits.read(7) + 11
                fill = 0
            if symbol + repeat > alphabet_size:
                raise ValueError("code_length_overflow")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _Huffman(lengths)


class _SingleSymbol:
    """One-symbol code: decodes without consuming bits."""

    __slots__ = ("single",)

    def __init__(self, sym):
        self.single = sym

    def decode(self, bits):
        return self.single


def _build_clc(lengths) -> _Huffman:
    used = [(l, s) for s, l in enumerate(lengths) if l]
    if len(used) == 1:
        return _SingleSymbol(used[0][1])
    return _Huffman(lengths)


def _prefix_decode(sym: int, bits: _LsbBits) -> int:
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + bits.read(extra) + 1


def _decode_image_stream(bits: _LsbBits, w: int, h: int, level0: bool):
    """Decode one entropy-coded VP8L image to a list of ARGB ints (row-
    major). At level 0, transforms are read and applied inversely."""
    transforms = []
    xsize = w
    if level0:
        seen = set()
        while bits.read(1):
            ttype = bits.read(2)
            if ttype in seen:
                raise ValueError("duplicate_transform")
            seen.add(ttype)
            if ttype == 0:  # predictor
                size_bits = bits.read(3) + 2
                bw = (xsize + (1 << size_bits) - 1) >> size_bits
                bh = (h + (1 << size_bits) - 1) >> size_bits
                sub = _decode_image_stream(bits, bw, bh, False)
                transforms.append(("predictor", size_bits, sub, xsize))
            elif ttype == 1:  # cross-color
                size_bits = bits.read(3) + 2
                bw = (xsize + (1 << size_bits) - 1) >> size_bits
                bh = (h + (1 << size_bits) - 1) >> size_bits
                sub = _decode_image_stream(bits, bw, bh, False)
                transforms.append(("color", size_bits, sub, xsize))
            elif ttype == 2:  # subtract green
                transforms.append(("subtract_green", 0, None, xsize))
            else:  # color indexing
                pal_size = bits.read(8) + 1
                pal = _decode_image_stream(bits, pal_size, 1, False)
                # palette entries are delta-coded componentwise
                out = []
                prev = 0
                for p in pal:
                    cur = (
                        ((((prev >> 24) + (p >> 24)) & 0xFF) << 24)
                        | (((((prev >> 16) & 0xFF) + ((p >> 16) & 0xFF)) & 0xFF) << 16)
                        | (((((prev >> 8) & 0xFF) + ((p >> 8) & 0xFF)) & 0xFF) << 8)
                        | (((prev & 0xFF) + (p & 0xFF)) & 0xFF)
                    )
                    out.append(cur)
                    prev = cur
                if pal_size <= 2:
                    wb = 3
                elif pal_size <= 4:
                    wb = 2
                elif pal_size <= 16:
                    wb = 1
                else:
                    wb = 0
                transforms.append(("palette", wb, out, xsize))
                xsize = (xsize + (1 << wb) - 1) >> wb

    # color cache applies to every entropy-coded image stream
    cache_bits = 0
    if bits.read(1):
        cache_bits = bits.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad_color_cache_bits")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    # meta-huffman (entropy image) only at level 0
    meta = None
    meta_bits = 0
    num_groups = 1
    if level0 and bits.read(1):
        meta_bits = bits.read(3) + 2
        mw = (xsize + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta = _decode_image_stream(bits, mw, mh, False)
        num_groups = max(((p >> 8) & 0xFFFF) for p in meta) + 1

    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(num_groups):
        g = _read_huffman_code(bits, green_size)
        r = _read_huffman_code(bits, 256)
        b = _read_huffman_code(bits, 256)
        a = _read_huffman_code(bits, 256)
        d = _read_huffman_code(bits, 40)
        groups.append((g, r, b, a, d))

    n = xsize * h
    if n > _MAX_PIXELS:
        raise ValueError("image_too_large")
    px = [0] * n
    pos = 0
    mw = (xsize + (1 << meta_bits) - 1) >> meta_bits if meta else 0

    def insert(argb):
        if cache is not None:
            cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)] = argb

    while pos < n:
        if meta is not None:
            x, y = pos % xsize, pos // xsize
            gi = (meta[(y >> meta_bits) * mw + (x >> meta_bits)] >> 8) & 0xFFFF
            cg, cr, cb, ca, cd = groups[gi]
        else:
            cg, cr, cb, ca, cd = groups[0]
        s = cg.decode(bits)
        if s < 256:  # literal: green, then red, blue, alpha
            green = s
            red = cr.decode(bits)
            blue = cb.decode(bits)
            alpha = ca.decode(bits)
            argb = (alpha << 24) | (red << 16) | (green << 8) | blue
            px[pos] = argb
            insert(argb)
            pos += 1
        elif s < 256 + 24:  # backward reference
            length = _prefix_decode(s - 256, bits)
            dist_code = _prefix_decode(cd.decode(bits), bits)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_TABLE[dist_code - 1]
                dist = dy * xsize + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("bad_backward_reference")
            for _ in range(length):
                argb = px[pos - dist]
                px[pos] = argb
                insert(argb)
                pos += 1
        else:  # color-cache hit
            if cache is None:
                raise ValueError("cache_symbol_without_cache")
            px[pos] = cache[s - 256 - 24]
            pos += 1

    # inverse transforms, reverse order of reading
    for kind, param, sub, at_xsize in reversed(transforms):
        if kind == "subtract_green":
            px = _inv_subtract_green(px)
        elif kind == "predictor":
            px = _inv_predictor(px, at_xsize, h, param, sub)
        elif kind == "color":
            px = _inv_color(px, at_xsize, h, param, sub)
        else:  # palette
            px = _inv_palette(px, at_xsize, h, param, sub)
    return px


def _inv_subtract_green(px):
    out = []
    for p in px:
        g = (p >> 8) & 0xFF
        r = ((p >> 16) + g) & 0xFF
        b = (p + g) & 0xFF
        out.append((p & 0xFF00FF00) | (r << 16) | b)
    return out


def _avg2(a, b):
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) >> 1) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8
        | (((a & 0xFF) + (b & 0xFF)) >> 1)
    )


def _select(left, top, tl):
    p_l = 0
    p_t = 0
    for sh in (24, 16, 8, 0):
        lc = (left >> sh) & 0xFF
        tc = (top >> sh) & 0xFF
        tlc = (tl >> sh) & 0xFF
        pred = lc + tc - tlc
        p_l += abs(pred - lc)
        p_t += abs(pred - tc)
    return left if p_l < p_t else top


def _clamp(v):
    return 0 if v < 0 else (255 if v > 255 else v)


def _cas_full(a, b, c):
    out = 0
    for sh in (24, 16, 8, 0):
        out |= _clamp(((a >> sh) & 0xFF) + ((b >> sh) & 0xFF) - ((c >> sh) & 0xFF)) << sh
    return out


def _cas_half(a, c):
    out = 0
    for sh in (24, 16, 8, 0):
        ac = (a >> sh) & 0xFF
        d = ac - ((c >> sh) & 0xFF)
        half = (d >> 1) if d >= 0 else -((-d) >> 1)  # C truncation toward 0
        out |= _clamp(ac + half) << sh
    return out


def _add_px(a, b):
    # per-channel addition mod 256
    return (
        ((((a >> 24) + (b >> 24)) & 0xFF) << 24)
        | (((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16)
        | (((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8)
        | (((a & 0xFF) + (b & 0xFF)) & 0xFF)
    )


def _inv_predictor(px, w, h, size_bits, modes):
    bw = (w + (1 << size_bits) - 1) >> size_bits
    out = [0] * len(px)
    for pos in range(len(px)):
        x, y = pos % w, pos // w
        if x == 0 and y == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = out[pos - 1]  # left
        elif x == 0:
            pred = out[pos - w]  # top
        else:
            mode = (modes[(y >> size_bits) * bw + (x >> size_bits)] >> 8) & 0xFF
            left = out[pos - 1]
            top = out[pos - w]
            tl = out[pos - w - 1]
            # contiguous addressing (libwebp): for the rightmost column this
            # wraps to the CURRENT row's already-decoded leftmost pixel
            tr = out[pos - w + 1]
            if mode == 0:
                pred = 0xFF000000
            elif mode == 1:
                pred = left
            elif mode == 2:
                pred = top
            elif mode == 3:
                pred = tr
            elif mode == 4:
                pred = tl
            elif mode == 5:
                pred = _avg2(_avg2(left, tr), top)
            elif mode == 6:
                pred = _avg2(left, tl)
            elif mode == 7:
                pred = _avg2(left, top)
            elif mode == 8:
                pred = _avg2(tl, top)
            elif mode == 9:
                pred = _avg2(top, tr)
            elif mode == 10:
                pred = _avg2(_avg2(left, tl), _avg2(top, tr))
            elif mode == 11:
                pred = _select(left, top, tl)
            elif mode == 12:
                pred = _cas_full(left, top, tl)
            elif mode == 13:
                pred = _cas_half(_avg2(left, top), tl)
            else:
                raise ValueError("bad_predictor_mode")
        out[pos] = _add_px(px[pos], pred)
    return out


def _s8(v):
    v &= 0xFF
    return v - 256 if v >= 128 else v


def _inv_color(px, w, h, size_bits, elements):
    bw = (w + (1 << size_bits) - 1) >> size_bits
    out = [0] * len(px)
    for pos in range(len(px)):
        x, y = pos % w, pos // w
        e = elements[(y >> size_bits) * bw + (x >> size_bits)]
        g2r = _s8(e)  # stored in the blue channel
        g2b = _s8(e >> 8)  # green channel
        r2b = _s8(e >> 16)  # red channel
        p = px[pos]
        g = (p >> 8) & 0xFF
        red = ((p >> 16) & 0xFF) + ((g2r * _s8(g)) >> 5)
        blue = (p & 0xFF) + ((g2b * _s8(g)) >> 5)
        blue += (r2b * _s8(red)) >> 5
        out[pos] = (p & 0xFF00FF00) | ((red & 0xFF) << 16) | (blue & 0xFF)
    return out


def _inv_palette(px, true_w, h, width_bits, palette):
    if width_bits == 0:
        out = []
        for p in px:
            idx = (p >> 8) & 0xFF
            out.append(palette[idx] if idx < len(palette) else 0)
        return out
    per = 1 << width_bits
    bits_per = 8 >> width_bits
    mask = (1 << bits_per) - 1
    packed_w = (true_w + per - 1) >> width_bits
    out = []
    for y in range(h):
        row = []
        for xp in range(packed_w):
            packed = (px[y * packed_w + xp] >> 8) & 0xFF
            for k in range(per):
                idx = (packed >> (k * bits_per)) & mask
                row.append(palette[idx] if idx < len(palette) else 0)
        out.extend(row[:true_w])  # bundled overshoot cropped per row
    return out


def _finalize(px, w, h):
    """ARGB int list -> (h, w, 4) uint8 RGBA, cropping bundled overshoot."""
    import numpy as np

    a = np.asarray(px, np.uint32)
    full_w = len(px) // h
    a = a.reshape(h, full_w)[:, :w]
    out = np.zeros((h, w, 4), np.uint8)
    out[:, :, 0] = (a >> 16) & 0xFF
    out[:, :, 1] = (a >> 8) & 0xFF
    out[:, :, 2] = a & 0xFF
    out[:, :, 3] = (a >> 24) & 0xFF
    return out


def decode_vp8l(payload: bytes):
    """Decode a raw VP8L chunk payload to (h, w, 4) uint8 RGBA."""
    if not payload or payload[0] != 0x2F:
        raise ValueError("bad_vp8l_signature")
    bits = _LsbBits(payload, 8)
    w = bits.read(14) + 1
    h = bits.read(14) + 1
    bits.read(1)  # alpha-is-used hint
    if bits.read(3) != 0:
        raise ValueError("bad_vp8l_version")
    if w * h > _MAX_PIXELS:
        raise ValueError("image_too_large")
    px = _decode_image_stream(bits, w, h, True)
    return _finalize(px, w, h)


def decode_webp(payload: bytes):
    """Decode a WebP container to (h, w, 4) uint8 RGBA. Lossless (VP8L)
    decodes for real; lossy VP8 degrades (genuine video-intra codec)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not_a_webp")
    pos = 12
    saw_lossy = False
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (n,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + n]
        if len(body) != n:
            raise ValueError("truncated_chunk")
        if tag == b"VP8L":
            return decode_vp8l(body)
        if tag == b"VP8 ":
            saw_lossy = True
        pos += 8 + n + (n & 1)
    if saw_lossy:
        raise NotImplementedError("lossy VP8 decode requires libwebp")
    raise ValueError("no_image_chunk")


# ---------------------------------------------------------------------------
# Synthesis twin
# ---------------------------------------------------------------------------


class _LsbBitsW:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, n: int):
        self.acc |= (v & ((1 << n) - 1)) << self.n
        self.n += n
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def write_code(self, code: int, length: int):
        # huffman codes go MSB-first into the LSB-first stream
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def finish(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def _balanced_lengths(symbols):
    """Complete canonical code over the given symbols: a mix of depth k-1
    and k leaves satisfying Kraft equality exactly."""
    m = len(symbols)
    if m == 1:
        return {symbols[0]: 0}  # single-symbol code: zero bits
    k = (m - 1).bit_length()
    n_long = 2 * m - (1 << k)
    lengths = {}
    ordered = sorted(symbols)
    for i, s in enumerate(ordered):
        lengths[s] = k if i < n_long else k - 1
    return lengths


def _canonical_codes(lengths: dict):
    pairs = sorted((l, s) for s, l in lengths.items() if l > 0)
    codes = {}
    code = 0
    prev_len = 0
    for l, s in pairs:
        code <<= l - prev_len
        codes[s] = (code, l)
        code += 1
        prev_len = l
    return codes


def _write_huffman_code(bw: _LsbBitsW, lengths: dict, alphabet_size: int):
    if len(lengths) == 1:
        sym = next(iter(lengths))
        if sym <= 255:
            bw.write(1, 1)  # simple
            bw.write(0, 1)  # one symbol
            bw.write(1, 1)  # 8-bit symbol
            bw.write(sym, 8)
            return
        # symbols >= 256 can't use the simple form: emit a degenerate
        # normal code (lengths [1] for this symbol and [1] for symbol 0)
        lengths = {sym: 1, 0: 1}
    if len(lengths) == 2 and all(s <= 255 for s in lengths) and all(
        l == 1 for l in lengths.values()
    ):
        a, b = sorted(lengths)
        bw.write(1, 1)  # simple
        bw.write(1, 1)  # two symbols
        bw.write(1, 1)  # 8-bit first symbol
        bw.write(a, 8)
        bw.write(b, 8)
        return
    bw.write(0, 1)  # normal code
    # full code-length vector, emitted one CL symbol per entry (no RLE
    # except zero-runs via symbol 17/18 would go here; plain is simplest)
    vec = [lengths.get(s, 0) for s in range(alphabet_size)]
    while vec and vec[-1] == 0:
        vec.pop()
    used_cl = sorted(set(vec))
    cl_lengths = _balanced_lengths(used_cl)
    # cover every used CL symbol in the fixed order
    need = max(i for i, s in enumerate(_CLC_ORDER) if s in cl_lengths) + 1
    num_codes = max(4, need)
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(cl_lengths.get(_CLC_ORDER[i], 0), 3)
    if len(used_cl) == 1:
        cl_codes = {used_cl[0]: (0, 0)}
    else:
        cl_codes = _canonical_codes(cl_lengths)
    # explicit max symbol so trailing zeros need not be emitted
    max_symbol = max(len(vec), 2)
    bw.write(1, 1)
    bw.write(7, 3)  # length_nbits = 2 + 2*7 = 16
    bw.write(max_symbol - 2, 16)
    for l in vec:
        c, n = cl_codes[l]
        bw.write_code(c, n)


def _prefix_encode(value: int):
    """Inverse of _prefix_decode: (symbol, extra_bits_value, extra_bits)."""
    if value <= 4:
        return value - 1, 0, 0
    for sym in range(4, 40):
        extra = (sym - 2) >> 1
        offset = (2 + (sym & 1)) << extra
        lo = offset + 1
        hi = offset + (1 << extra)
        if lo <= value <= hi:
            return sym, value - lo, extra
    raise ValueError("value out of prefix range")


def _sub_px(a, b):
    # per-channel subtraction mod 256 (forward of _add_px)
    return (
        ((((a >> 24) - (b >> 24)) & 0xFF) << 24)
        | (((((a >> 16) & 0xFF) - ((b >> 16) & 0xFF)) & 0xFF) << 16)
        | (((((a >> 8) & 0xFF) - ((b >> 8) & 0xFF)) & 0xFF) << 8)
        | (((a & 0xFF) - (b & 0xFF)) & 0xFF)
    )


def _predict_forward(px, w, h, mode):
    """Forward predictor with a single mode for the whole image (the twin
    emits one 512x512 block); residual = pixel - pred, edge rules as in
    _inv_predictor."""
    out = [0] * len(px)
    for pos in range(len(px)):
        x, y = pos % w, pos // w
        if x == 0 and y == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = px[pos - 1]
        elif x == 0:
            pred = px[pos - w]
        else:
            left, top, tl = px[pos - 1], px[pos - w], px[pos - w - 1]
            tr = px[pos - w + 1]  # contiguous: wraps to current row start
            pred = {
                0: 0xFF000000, 1: left, 2: top, 3: tr, 4: tl,
                5: _avg2(_avg2(left, tr), top), 6: _avg2(left, tl),
                7: _avg2(left, top), 8: _avg2(tl, top), 9: _avg2(top, tr),
                10: _avg2(_avg2(left, tl), _avg2(top, tr)),
                11: _select(left, top, tl), 12: _cas_full(left, top, tl),
                13: _cas_half(_avg2(left, top), tl),
            }[mode]
        out[pos] = _sub_px(px[pos], pred)
    return out


def _write_sub_single(bw: "_LsbBitsW", argb: int):
    """Write a 1x1 entropy-coded sub-image holding one ARGB value using
    all-single-symbol codes (the pixel itself then costs zero bits)."""
    bw.write(0, 1)  # no color cache
    for sym in ((argb >> 8) & 0xFF, (argb >> 16) & 0xFF, argb & 0xFF, (argb >> 24) & 0xFF, 0):
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        bw.write(1, 1)  # 8-bit form
        bw.write(sym, 8)


def encode_vp8l(
    rgba, subtract_green: bool = False, cache_bits: int = 0, lz77: bool = False,
    dist_2d: bool = False, predictor_mode: int | None = None,
    color_transform: tuple | None = None,
) -> bytes:
    """Deterministic VP8L encoder (synthesis/tests twin) wrapped in a RIFF
    WebP container. Emits balanced canonical Huffman codes, optional
    single-mode predictor and constant cross-color transforms (one
    512x512 block), optional subtract-green, optional color cache, and
    optional LZ77 same-pixel runs (dist 1) / row-copy references (2D code
    (0,1) when dist_2d, else linear distance w+120)."""
    import numpy as np

    a = np.asarray(rgba, np.uint8)
    if a.ndim == 2:
        a = np.stack([a, a, a, np.full_like(a, 255)], axis=2)
    if a.shape[2] == 3:
        a = np.concatenate([a, np.full(a.shape[:2] + (1,), 255, np.uint8)], axis=2)
    h, w = a.shape[:2]
    if (predictor_mode is not None or color_transform is not None) and max(w, h) > 512:
        raise ValueError("twin transforms support one 512x512 block only")
    argb = (
        (a[:, :, 3].astype(np.uint32) << 24)
        | (a[:, :, 0].astype(np.uint32) << 16)
        | (a[:, :, 1].astype(np.uint32) << 8)
        | a[:, :, 2].astype(np.uint32)
    ).ravel()

    # forward transforms in stream order (decode inverts in reverse order)
    if predictor_mode is not None:
        argb = np.asarray(
            _predict_forward(argb.tolist(), w, h, predictor_mode), np.uint32
        )
    if color_transform is not None:
        g2r, g2b, r2b = color_transform
        px = argb.tolist()
        out = []
        for p in px:
            g = _s8((p >> 8) & 0xFF)
            red = (p >> 16) & 0xFF
            stored_r = (red - ((g2r * g) >> 5)) & 0xFF
            stored_b = ((p & 0xFF) - ((g2b * g) >> 5) - ((r2b * _s8(red)) >> 5)) & 0xFF
            out.append((p & 0xFF00FF00) | (stored_r << 16) | stored_b)
        argb = np.asarray(out, np.uint32)
    if subtract_green:
        g = (argb >> 8) & 0xFF
        r = (((argb >> 16) & 0xFF) - g) & 0xFF
        b = ((argb & 0xFF) - g) & 0xFF
        argb = (argb & 0xFF00FF00) | (r << 16) | b

    cache = [0] * (1 << cache_bits) if cache_bits else None

    # tokenize: (kind, payload)
    tokens = []
    px = argb.tolist()
    n = len(px)
    pos = 0
    while pos < n:
        p = px[pos]
        if lz77 and pos >= 1 and px[pos - 1] == p:
            run = 1
            while pos + run < n and px[pos + run] == p and run < 4096:
                run += 1
            tokens.append(("copy", run, 1))
            if cache is not None:
                cache[(0x1E35A7BD * p & 0xFFFFFFFF) >> (32 - cache_bits)] = p
            pos += run
            continue
        if (
            lz77
            and pos >= w
            and pos % w == 0
            and n - pos >= w
            and px[pos - w : pos] == px[pos : pos + w]
        ):
            tokens.append(("copy", w, w))
            if cache is not None:
                for q in px[pos : pos + w]:
                    cache[(0x1E35A7BD * q & 0xFFFFFFFF) >> (32 - cache_bits)] = q
            pos += w
            continue
        if cache is not None:
            idx = (0x1E35A7BD * p & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[idx] == p:
                tokens.append(("cache", idx, 0))
                pos += 1
                continue
            cache[idx] = p
        tokens.append(("lit", p, 0))
        pos += 1

    # symbol usage per alphabet
    green_syms, red_syms, blue_syms, alpha_syms, dist_syms = set(), set(), set(), set(), set()
    for kind, v, d in tokens:
        if kind == "lit":
            green_syms.add((v >> 8) & 0xFF)
            red_syms.add((v >> 16) & 0xFF)
            blue_syms.add(v & 0xFF)
            alpha_syms.add((v >> 24) & 0xFF)
        elif kind == "cache":
            green_syms.add(256 + 24 + v)
        else:
            green_syms.add(256 + _prefix_encode(v)[0])
            if d == 1:
                dist_syms.add(_prefix_encode(2 if dist_2d else 1 + 120)[0])
            else:
                dist_syms.add(_prefix_encode(1 if dist_2d else d + 120)[0])
    for s in (red_syms, blue_syms, alpha_syms, dist_syms):
        if not s:
            s.add(0)

    bw = _LsbBitsW()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1, 1)  # alpha hint
    bw.write(0, 3)  # version
    if predictor_mode is not None:
        bw.write(1, 1)
        bw.write(0, 2)  # predictor transform
        bw.write(7, 3)  # size_bits = 9 -> one 512x512 block
        _write_sub_single(bw, 0xFF000000 | (predictor_mode << 8))
    if color_transform is not None:
        g2r, g2b, r2b = color_transform
        bw.write(1, 1)
        bw.write(1, 2)  # cross-color transform
        bw.write(7, 3)  # size_bits = 9
        elem = 0xFF000000 | ((r2b & 0xFF) << 16) | ((g2b & 0xFF) << 8) | (g2r & 0xFF)
        _write_sub_single(bw, elem)
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
    bw.write(0, 1)  # no (more) transforms
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    bw.write(0, 1)  # no meta huffman

    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    tables = []
    for syms, size in (
        (green_syms, green_size),
        (red_syms, 256),
        (blue_syms, 256),
        (alpha_syms, 256),
        (dist_syms, 40),
    ):
        lengths = _balanced_lengths(sorted(syms))
        _write_huffman_code(bw, lengths, size)
        tables.append(_canonical_codes(lengths) if len(lengths) > 1 else {next(iter(lengths)): (0, 0)})
    cg, crd, cbl, cal, cdi = tables

    def emit(codes, sym):
        c, l = codes[sym]
        bw.write_code(c, l)

    for kind, v, d in tokens:
        if kind == "lit":
            emit(cg, (v >> 8) & 0xFF)
            emit(crd, (v >> 16) & 0xFF)
            emit(cbl, v & 0xFF)
            emit(cal, (v >> 24) & 0xFF)
        elif kind == "cache":
            emit(cg, 256 + 24 + v)
        else:
            sym, extra_v, extra_n = _prefix_encode(v)
            emit(cg, 256 + sym)
            if extra_n:
                bw.write(extra_v, extra_n)
            dist_code = (2 if d == 1 else 1) if dist_2d else d + 120
            dsym, dval, dn = _prefix_encode(dist_code)
            emit(cdi, dsym)
            if dn:
                bw.write(dval, dn)

    body = bw.finish()
    riff_body = b"WEBPVP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        riff_body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body
