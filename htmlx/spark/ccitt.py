"""CCITT Group 3 / Group 4 bitonal decode (ITU-T T.4 / T.6) — pure Python,
no codec library.

Covers the formats real archive corpora use:
- **G4 / T.6 / MMR** (TIFF Compression=4, PDF CCITTFaxDecode /K < 0):
  pure 2D coding — pass / horizontal / vertical modes against a reference
  line, terminated by an optional EOFB.
- **G3 1D / MH** (TIFF Compression=2 and =3 without 2D, PDF /K = 0):
  alternating white/black modified-Huffman run lengths; optional per-row
  EOLs with fill bits; optional byte-aligned rows (TIFF Compression=2
  rows always start on byte boundaries).
- **G3 2D mixed** (PDF /K > 0, TIFF Compression=3 with T4Options bit 0):
  EOL + 1 tag bit selecting 1D or 2D coding per row.

The run-length code tables are transcribed from the public ITU-T T.4
recommendation (terminating codes 0-63, makeup codes 64-1728 per colour,
extended makeup 1792-2560 shared). Decode output is a (rows, cols) uint8
array with **1 = black ink, 0 = white** — callers map to samples per their
container's convention (TIFF PhotometricInterpretation, PDF /BlackIs1).

Reference context: the Go reference treats scanned media as first-class
inputs (media.go); CCITT is the dominant bitonal archive format. The
encoder twin (encode_ccitt_g4 / encode_ccitt_g3_1d) exists for tests and
formula oracles; REAL-encoder anchors (javax.imageio CCITT T.6/T.4/MH
TIFF outputs, frozen in tests/fixtures/real_anchors/, asserted in
tests/test_real_anchors.py) guarantee the twin cannot share a spec
misreading with the decoder.
"""

from __future__ import annotations

# --- T.4 code tables: {run_length: bit-string} -------------------------------

WHITE_CODES = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011", 5: "1100",
    6: "1110", 7: "1111", 8: "10011", 9: "10100", 10: "00111", 11: "01000",
    12: "001000", 13: "000011", 14: "110100", 15: "110101", 16: "101010",
    17: "101011", 18: "0100111", 19: "0001100", 20: "0001000", 21: "0010111",
    22: "0000011", 23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
    # makeup
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100", 768: "011001101",
    832: "011010010", 896: "011010011", 960: "011010100", 1024: "011010101",
    1088: "011010110", 1152: "011010111", 1216: "011011000",
    1280: "011011001", 1344: "011011010", 1408: "011011011",
    1472: "010011000", 1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}

BLACK_CODES = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011", 5: "0011",
    6: "0010", 7: "00011", 8: "000101", 9: "000100", 10: "0000100",
    11: "0000101", 12: "0000111", 13: "00000100", 14: "00000111",
    15: "000011000", 16: "0000010111", 17: "0000011000", 18: "0000001000",
    19: "00001100111", 20: "00001101000", 21: "00001101100",
    22: "00000110111", 23: "00000101000", 24: "00000010111",
    25: "00000011000", 26: "000011001010", 27: "000011001011",
    28: "000011001100", 29: "000011001101", 30: "000001101000",
    31: "000001101001", 32: "000001101010", 33: "000001101011",
    34: "000011010010", 35: "000011010011", 36: "000011010100",
    37: "000011010101", 38: "000011010110", 39: "000011010111",
    40: "000001101100", 41: "000001101101", 42: "000011011010",
    43: "000011011011", 44: "000001010100", 45: "000001010101",
    46: "000001010110", 47: "000001010111", 48: "000001100100",
    49: "000001100101", 50: "000001010010", 51: "000001010011",
    52: "000000100100", 53: "000000110111", 54: "000000111000",
    55: "000000100111", 56: "000000101000", 57: "000001011000",
    58: "000001011001", 59: "000000101011", 60: "000000101100",
    61: "000001011010", 62: "000001100110", 63: "000001100111",
    # makeup
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

# extended makeup codes (T.4 table 4), shared by both colours
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}
WHITE_CODES.update(_EXT_MAKEUP)
BLACK_CODES.update(_EXT_MAKEUP)

# decode maps: (bit-length, code-value) -> run
_WHITE_DECODE = {(len(v), int(v, 2)): run for run, v in WHITE_CODES.items()}
_BLACK_DECODE = {(len(v), int(v, 2)): run for run, v in BLACK_CODES.items()}
_MAX_CODE_LEN = 14

_EOL = "000000000001"


class _BitReader:
    """MSB-first bit reader over bytes. The accumulator is drained and
    masked after every read (bounded-accumulator rule: see
    test_bit_io_scales_linearly for the quadratic-decode failure class)."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if not self.nbits:
            if self.pos >= len(self.data):
                raise ValueError("ccitt_truncated")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def peek_bits(self, n: int) -> int:
        """Peek up to n bits (zero-padded past end); does not consume."""
        acc, nbits, pos = self.acc & ((1 << self.nbits) - 1), self.nbits, self.pos
        while nbits < n:
            acc = (acc << 8) | (self.data[pos] if pos < len(self.data) else 0)
            nbits += 8
            pos += 1
        return (acc >> (nbits - n)) & ((1 << n) - 1)

    def byte_align(self) -> None:
        self.nbits = 0

    def exhausted(self) -> bool:
        return self.nbits == 0 and self.pos >= len(self.data)


def _read_run(r: _BitReader, table: dict) -> int:
    """One full run length: zero or more makeup codes + a terminating code."""
    total = 0
    while True:
        code = 0
        length = 0
        run = None
        while length < _MAX_CODE_LEN:
            code = (code << 1) | r.read_bit()
            length += 1
            run = table.get((length, code))
            if run is not None:
                break
        if run is None:
            raise ValueError("ccitt_bad_code")
        total += run
        if run < 64:  # terminating code ends the run
            return total
        if run % 64 != 0:
            return total  # defensive: all makeups are multiples of 64


def _find_b1(ref: list, a0: int, color: int, width: int) -> int:
    """Index into ref of b1: first changing element > a0 with colour
    opposite to the colour of a0 (= current run colour). ref holds
    transition positions; even indices are white->black changes."""
    import bisect

    i = bisect.bisect_right(ref, a0)
    # even indices are white->black changes. b1 changes TO the opposite of
    # the current run colour: decoding a white run (color=0) needs a
    # white->black change (even index i), a black run an odd index.
    if (i & 1) != color:
        i += 1
    return i


def _decode_2d_row(r: _BitReader, ref: list, width: int) -> list:
    """One 2D-coded row against reference transitions; returns this row's
    transition list."""
    cur: list = []
    a0 = -1
    color = 0
    while a0 < width:
        i = _find_b1(ref, a0, color, width)
        b1 = ref[i] if i < len(ref) else width
        b2 = ref[i + 1] if i + 1 < len(ref) else width
        # mode decision tree (T.4 table 7): V0=1, VR1=011, VL1=010, H=001,
        # P=0001, VR2=000011, VL2=000010, VR3=0000011, VL3=0000010
        if r.read_bit():  # 1 -> V0
            a1 = b1
        elif r.read_bit():  # 01x -> VR1/VL1
            a1 = b1 + 1 if r.read_bit() else b1 - 1
        elif r.read_bit():  # 001 -> horizontal
            a0p = max(a0, 0)
            run1 = _read_run(r, _WHITE_DECODE if color == 0 else _BLACK_DECODE)
            run2 = _read_run(r, _BLACK_DECODE if color == 0 else _WHITE_DECODE)
            a1 = min(a0p + run1, width)
            a2 = min(a1 + run2, width)
            if a2 <= a0 and a2 < width:
                raise ValueError("ccitt_no_progress")  # crafted-loop guard
            cur.append(a1)
            cur.append(a2)
            a0 = a2
            continue
        elif r.read_bit():  # 0001 -> pass
            if b2 <= a0 and b2 < width:
                raise ValueError("ccitt_no_progress")
            a0 = b2
            continue
        elif r.read_bit():  # 00001x -> VR2/VL2
            a1 = b1 + 2 if r.read_bit() else b1 - 2
        elif r.read_bit():  # 000001x -> VR3/VL3
            a1 = b1 + 3 if r.read_bit() else b1 - 3
        else:
            raise ValueError("ccitt_bad_2d_mode")
        if a1 < 0 or a1 > width or a1 <= a0:
            raise ValueError("ccitt_vertical_out_of_range")
        cur.append(min(a1, width))
        color ^= 1
        a0 = a1
    # normalize for the next row's reference: a duplicated position is a
    # zero-length run whose two transitions CANCEL (dropping only one would
    # corrupt the even/odd colour parity of the list); transitions at the
    # line edge are equivalent to none
    out: list = []
    for t in cur:
        if out and out[-1] == t:
            out.pop()
        elif out and t < out[-1]:
            raise ValueError("ccitt_transitions_out_of_order")
        else:
            out.append(t)
    return [t for t in out if t < width]


def _decode_1d_row(r: _BitReader, width: int) -> list:
    """One MH-coded row; returns transition positions."""
    trans = []
    pos = 0
    color = 0
    while pos < width:
        run = _read_run(r, _WHITE_DECODE if color == 0 else _BLACK_DECODE)
        pos += run
        if pos > width:
            raise ValueError("ccitt_row_overrun")
        trans.append(min(pos, width))
        color ^= 1
    return [t for t in trans if t < width]


def _row_bits(trans: list, width: int):
    import numpy as np

    row = np.zeros(width, np.uint8)
    for j in range(0, len(trans), 2):
        start = trans[j]
        end = trans[j + 1] if j + 1 < len(trans) else width
        row[start:end] = 1
    return row


def _skip_eol(r: _BitReader) -> bool:
    """Consume fill bits + one EOL if present at the cursor; returns True
    if an EOL was consumed."""
    # EOL = 11 zero bits + 1; fill = extra leading zeros. Scan a bounded
    # window (T.4 allows fill to pad to byte boundaries).
    zeros = 0
    while not r.exhausted() and zeros < 64:
        if r.peek_bits(1) == 0:
            r.read_bit()
            zeros += 1
            continue
        if zeros >= 11:
            r.read_bit()  # the terminating 1
            return True
        return False  # a 1 with <11 zeros: data, not EOL — but we consumed
        # zeros; callers only use _skip_eol where zeros cannot start data
    return False


def _starts_with_eol(r: _BitReader) -> bool:
    """EOL-presence sniff at stream start, tolerating fill bits BEFORE the
    first EOL (T4Options fill pads EOLs to byte boundaries): >=11 leading
    zeros then a 1 can only be fill+EOL — no legal run code starts with
    more than 8 zeros."""
    zeros = 0
    while zeros < 64 and not (r.peek_bits(zeros + 1) & 1):
        zeros += 1
    return 11 <= zeros < 64


def decode_ccitt(
    data: bytes,
    columns: int,
    rows: int,
    k: int = -1,
    byte_align: bool = False,
):
    """Decode a CCITT G3/G4 stream to a (rows, columns) uint8 INK array
    (1 = black, 0 = white — always; containers map ink to sample values
    per their own convention: TIFF PhotometricInterpretation, PDF
    /BlackIs1).

    k < 0: pure T.6 (G4); k == 0: G3 1D (MH), tolerating optional per-row
    EOLs; k > 0: G3 mixed, EOL + tag bit per row. byte_align: rows start
    on byte boundaries (TIFF Compression=2; PDF /EncodedByteAlign).
    """
    import numpy as np

    if columns <= 0 or rows <= 0 or columns * rows > 1 << 30:
        raise ValueError("ccitt_bad_geometry")
    r = _BitReader(data)
    out = np.zeros((rows, columns), np.uint8)
    ref: list = []  # imaginary all-white reference line above row 0
    if k == 0:
        # G3 1D: data may start with an EOL (T.4 streams) or not (TIFF
        # Compression=2). Detect once and stay consistent.
        has_eol = _starts_with_eol(r)
        for y in range(rows):
            if byte_align:
                r.byte_align()
            if has_eol and not _skip_eol(r):
                raise ValueError("ccitt_missing_eol")
            out[y] = _row_bits(_decode_1d_row(r, columns), columns)
    elif k > 0:
        has_eol = _starts_with_eol(r)
        for y in range(rows):
            if byte_align:
                r.byte_align()
            one_d = True
            if has_eol:
                if not _skip_eol(r):
                    raise ValueError("ccitt_missing_eol")
                one_d = bool(r.read_bit())
            trans = _decode_1d_row(r, columns) if one_d else _decode_2d_row(r, ref, columns)
            out[y] = _row_bits(trans, columns)
            ref = trans
    else:
        for y in range(rows):
            if byte_align:
                r.byte_align()
            trans = _decode_2d_row(r, ref, columns)
            out[y] = _row_bits(trans, columns)
            ref = trans
    return out


# --- encoder twins (tests / formula oracles) --------------------------------


def _runs_of(row) -> list:
    """Alternating white/black run lengths of a 0/1 row (starts white)."""
    runs = []
    pos = 0
    color = 0
    n = len(row)
    while pos < n:
        end = pos
        while end < n and row[end] == color:
            end += 1
        runs.append(end - pos)  # a leading black row yields a natural
        pos = end  # zero-length white run on the first iteration
        color ^= 1
    return runs


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, bits: str) -> None:
        for b in bits:
            self.acc = (self.acc << 1) | (b == "1")
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                self.acc = 0
                self.nbits = 0

    def byte_align(self) -> None:
        while self.nbits:
            self.write("0")

    def done(self) -> bytes:
        self.byte_align()
        return bytes(self.out)


def _write_run(w: _BitWriter, run: int, table: dict) -> None:
    while run >= 64:
        makeup = min(run - run % 64, 2560)
        w.write(table[makeup])
        run -= makeup
    w.write(table[run])


def encode_ccitt_g3_1d(bits, byte_align: bool = False, with_eol: bool = False) -> bytes:
    """MH encoder twin (TIFF Compression=2 shape when byte_align)."""
    w = _BitWriter()
    for row in bits:
        if byte_align:
            w.byte_align()
        if with_eol:
            w.write(_EOL)
        color = 0
        for run in _runs_of(list(row)):
            _write_run(w, run, WHITE_CODES if color == 0 else BLACK_CODES)
            color ^= 1
    return w.done()


def encode_ccitt_g4(bits) -> bytes:
    """T.6 (G4) encoder twin: pass / horizontal / vertical mode selection
    per the standard coder, EOFB-terminated."""
    w = _BitWriter()
    width = len(bits[0])
    ref: list = []
    for row in bits:
        ref = _encode_2d_row(w, row, ref, width)
    w.write(_EOL + _EOL)  # EOFB
    return w.done()


def _encode_2d_row(w: _BitWriter, row, ref: list, width: int) -> list:
    """Encode one row in 2D mode against reference transitions; returns
    this row's transition list (shared by the G4 encoder and the G3 mixed
    encoder)."""
    import bisect

    row = list(row)
    cur = []
    pos = 0
    color = 0
    while pos < width:
        end = pos
        while end < width and row[end] == color:
            end += 1
        if end < width:
            cur.append(end)
        pos = end
        color ^= 1
    a0 = -1
    color = 0
    ci = 0
    while a0 < width:
        a1 = cur[ci] if ci < len(cur) else width
        i = bisect.bisect_right(ref, a0)
        if (i & 1) != color:
            i += 1
        b1 = ref[i] if i < len(ref) else width
        b2 = ref[i + 1] if i + 1 < len(ref) else width
        if b2 < a1:
            w.write("0001")  # pass
            a0 = b2
            continue
        d = a1 - b1
        if -3 <= d <= 3:
            w.write({0: "1", 1: "011", 2: "000011", 3: "0000011",
                     -1: "010", -2: "000010", -3: "0000010"}[d])
            a0 = a1
            color ^= 1
            ci += 1
        else:
            a2 = cur[ci + 1] if ci + 1 < len(cur) else width
            w.write("001")
            a0p = max(a0, 0)
            _write_run(w, a1 - a0p, WHITE_CODES if color == 0 else BLACK_CODES)
            _write_run(w, a2 - a1, BLACK_CODES if color == 0 else WHITE_CODES)
            a0 = a2
            ci += 2
    return cur


def encode_ccitt_g3_mixed(bits, pattern: str = "alternate") -> bytes:
    """G3 mixed 1D/2D encoder twin (PDF CCITTFaxDecode /K > 0, TIFF
    Compression=3 with T4Options bit 0): every row is EOL + 1 tag bit
    (1 = 1D MH row, 0 = 2D row against the previous row). pattern:
    'alternate' codes odd rows 2D, 'all2d' codes every row after the
    first 2D (a 1D row must open the stream — there is no reference
    line yet)."""
    w = _BitWriter()
    ref: list = []
    for y, row in enumerate(bits):
        w.write(_EOL)
        one_d = y == 0 or (pattern == "alternate" and y % 2 == 0)
        w.write("1" if one_d else "0")
        if one_d:
            color = 0
            runs = _runs_of(list(row))
            for run in runs:
                _write_run(w, run, WHITE_CODES if color == 0 else BLACK_CODES)
                color ^= 1
            # rebuild transitions for the next row's reference
            ref = []
            pos = 0
            for run in runs:
                pos += run
                if pos < len(row):
                    ref.append(pos)
        else:
            ref = _encode_2d_row(w, row, ref, len(row))
    return w.done()


def encode_tiff_ccitt(ink, compression: int = 4, mixed: bool = False) -> bytes:
    """Wrap an encoder-twin CCITT stream in a one-strip TIFF
    (little-endian, PhotometricInterpretation=0/WhiteIsZero) for the
    synthesis corpora. compression: 4 = T.6, 3 = T.4 (1D+EOL, or mixed
    1D/2D with T4Options bit 0 when mixed=True), 2 = MH byte-aligned."""
    import struct

    import numpy as np

    a = np.asarray(ink, np.uint8)
    rows, cols = a.shape

    def _code(block) -> bytes:
        if compression == 4:
            return encode_ccitt_g4(block)
        if compression == 3:
            return encode_ccitt_g3_mixed(block) if mixed else encode_ccitt_g3_1d(block, with_eol=True)
        if compression == 2:
            return encode_ccitt_g3_1d(block, byte_align=True)
        raise ValueError("ccitt_tiff_compression")

    t4_options = 1 if (compression == 3 and mixed) else 0
    data = _code(a)
    entries = [
        (256, 3, 1, cols), (257, 3, 1, rows), (258, 3, 1, 1),
        (259, 3, 1, compression), (262, 3, 1, 0),
        (273, 4, 1, 0),  # strip offset patched below
        (277, 3, 1, 1), (278, 3, 1, rows), (279, 4, 1, len(data)),
    ]
    if t4_options:
        entries.append((292, 4, 1, t4_options))
        entries.sort()
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * len(entries) + 4
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        if tag == 273:
            val = data_off
        out += struct.pack("<HHII", tag, typ, cnt, val)
    out += struct.pack("<I", 0)
    out += data
    return bytes(out)
