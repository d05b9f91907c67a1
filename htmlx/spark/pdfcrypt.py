"""PDF standard-security-handler decryption (PDF 32000-1/-2 §7.6).

Pure-stdlib implementation: RC4 and AES are written here from their
public specifications (RC4 from the widely published KSA/PRGA
description; AES from FIPS-197) so the engine carries no runtime
crypto dependency. The test suite anchors both primitives against
independent references — the FIPS-197 Appendix C known-answer vectors
and RFC 6229 RC4 keystreams are hardcoded expectations, and when the
OpenSSL-backed `cryptography` package is present in the container the
AES paths are additionally checked bit-exact against it (same
real-encoder-anchor pattern as the javax.imageio image fixtures).

Scope: the STANDARD security handler (/Filter /Standard) with an
EMPTY USER PASSWORD — the overwhelmingly common "encrypted but
openable" web-PDF class (owner-password-only protection):

  R2 (V1, RC4-40), R3 (V2, RC4 40..128 bits), R4 (V4, RC4-128 or
  AES-128-CBC via crypt filters), R5 (the deprecated Adobe AES-256
  scheme) and R6 (V5, AES-256, ISO 32000-2 with the Algorithm-2.B
  iterated hash).

Documents protected with a real (non-empty) user password fail
authentication and surface upstream as error='encrypted' — password
guessing is out of scope. The /Encrypt dictionary itself, and
cross-reference streams, are never encrypted (§7.5.8.2, §7.6.2);
strings inside object streams are covered by the ObjStm's own stream
encryption and are not decrypted a second time.

Reference context: the Go reference treats fetched media as opaque
first-class inputs (media.go:26-93); this module extends the graft's
PDF ingestion surface the same way the image/audio codecs do.
"""

from __future__ import annotations

import hashlib
import re
import struct

# ---------------------------------------------------------------------------
# RC4 (KSA + PRGA) — anchored against RFC 6229 keystream vectors in tests.


def rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# ---------------------------------------------------------------------------
# AES (FIPS-197) — SubBytes table is the published constant; the inverse
# table and the GF(2^8) multiply tables are derived from it at import.

_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76"
    "ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d83115"
    "04c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f84"
    "53d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa8"
    "51a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d1973"
    "60814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479"
    "e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a"
    "703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df"
    "8ca1890dbfe6426841992d0fb054bb16"
)
_INV_SBOX = bytearray(256)
for _i, _v in enumerate(_SBOX):
    _INV_SBOX[_v] = _i
_INV_SBOX = bytes(_INV_SBOX)


def _gmul_table(factor: int) -> bytes:
    t = bytearray(256)
    for a in range(256):
        p, x, b = 0, a, factor
        while b:
            if b & 1:
                p ^= x
            x = (x << 1) ^ (0x11B if x & 0x80 else 0)
            b >>= 1
        t[a] = p & 0xFF
    return bytes(t)


_M2, _M3 = _gmul_table(2), _gmul_table(3)
_M9, _M11, _M13, _M14 = (_gmul_table(f) for f in (9, 11, 13, 14))
_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36, 0x6C, 0xD8, 0xAB, 0x4D]

# ShiftRows/InvShiftRows as flat-index permutations of the 16-byte state
# laid out column-major (state[r + 4c] per FIPS-197 §3.4).
_SHIFT = [0, 5, 10, 15, 4, 9, 14, 3, 8, 13, 2, 7, 12, 1, 6, 11]
_INV_SHIFT = [0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3]


def _expand_key(key: bytes) -> list[bytes]:
    nk = len(key) // 4
    nr = nk + 6
    words = [key[4 * i : 4 * i + 4] for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = words[i - 1]
        if i % nk == 0:
            t = bytes(_SBOX[b] for b in t[1:] + t[:1])
            t = bytes([t[0] ^ _RCON[i // nk - 1], t[1], t[2], t[3]])
        elif nk > 6 and i % nk == 4:
            t = bytes(_SBOX[b] for b in t)
        words.append(bytes(a ^ b for a, b in zip(words[i - nk], t)))
    return [b"".join(words[4 * r : 4 * r + 4]) for r in range(nr + 1)]


def _encrypt_block(rk: list[bytes], block: bytes) -> bytes:
    s = bytes(a ^ b for a, b in zip(block, rk[0]))
    for rnd in range(1, len(rk) - 1):
        s = bytes(_SBOX[s[_SHIFT[i]]] for i in range(16))
        mixed = bytearray(16)
        for c in range(0, 16, 4):
            a0, a1, a2, a3 = s[c : c + 4]
            mixed[c] = _M2[a0] ^ _M3[a1] ^ a2 ^ a3
            mixed[c + 1] = a0 ^ _M2[a1] ^ _M3[a2] ^ a3
            mixed[c + 2] = a0 ^ a1 ^ _M2[a2] ^ _M3[a3]
            mixed[c + 3] = _M3[a0] ^ a1 ^ a2 ^ _M2[a3]
        s = bytes(a ^ b for a, b in zip(mixed, rk[rnd]))
    s = bytes(_SBOX[s[_SHIFT[i]]] for i in range(16))
    return bytes(a ^ b for a, b in zip(s, rk[-1]))


def _decrypt_block(rk: list[bytes], block: bytes) -> bytes:
    s = bytes(a ^ b for a, b in zip(block, rk[-1]))
    for rnd in range(len(rk) - 2, 0, -1):
        s = bytes(_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16))
        s = bytes(a ^ b for a, b in zip(s, rk[rnd]))
        mixed = bytearray(16)
        for c in range(0, 16, 4):
            a0, a1, a2, a3 = s[c : c + 4]
            mixed[c] = _M14[a0] ^ _M11[a1] ^ _M13[a2] ^ _M9[a3]
            mixed[c + 1] = _M9[a0] ^ _M14[a1] ^ _M11[a2] ^ _M13[a3]
            mixed[c + 2] = _M13[a0] ^ _M9[a1] ^ _M14[a2] ^ _M11[a3]
            mixed[c + 3] = _M11[a0] ^ _M13[a1] ^ _M9[a2] ^ _M14[a3]
        s = bytes(mixed)
    s = bytes(_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16))
    return bytes(a ^ b for a, b in zip(s, rk[0]))


# Fast path: when the OpenSSL-backed `cryptography` package is present
# (import-try — it is NOT a hard dependency), CBC bulk work uses it; the
# pure-Python blocks above remain the always-available fallback and the
# two are asserted bit-identical in tests.
try:  # pragma: no cover - environment-dependent
    from cryptography.hazmat.primitives.ciphers import Cipher as _Cipher
    from cryptography.hazmat.primitives.ciphers.algorithms import AES as _AES
    from cryptography.hazmat.primitives.ciphers.modes import CBC as _CBC
except ImportError:  # pragma: no cover
    _Cipher = None


def _pure_aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """The pure-Python CBC loop: aes_cbc_encrypt's fallback."""
    rk = _expand_key(key)
    out = bytearray()
    prev = iv
    for off in range(0, len(data), 16):
        prev = _encrypt_block(rk, bytes(a ^ b for a, b in zip(data[off : off + 16], prev)))
        out += prev
    return bytes(out)


def _pure_aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """The pure-Python CBC loop: aes_cbc_decrypt's fallback."""
    rk = _expand_key(key)
    out = bytearray()
    prev = iv
    for off in range(0, len(data), 16):
        blk = data[off : off + 16]
        out += bytes(a ^ b for a, b in zip(_decrypt_block(rk, blk), prev))
        prev = blk
    return bytes(out)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC over already-block-aligned data (no padding added)."""
    if len(data) % 16:
        raise ValueError("aes_cbc_encrypt: data not block-aligned")
    if _Cipher is None:
        return _pure_aes_cbc_encrypt(key, iv, data)
    enc = _Cipher(_AES(key), _CBC(iv)).encryptor()
    return enc.update(data) + enc.finalize()


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC decrypt of block-aligned data (no padding removed)."""
    if len(data) % 16:
        raise ValueError("aes_cbc_decrypt: data not block-aligned")
    if _Cipher is None:
        return _pure_aes_cbc_decrypt(key, iv, data)
    dec = _Cipher(_AES(key), _CBC(iv)).decryptor()
    return dec.update(data) + dec.finalize()


# ---------------------------------------------------------------------------
# Standard security handler.

_PAD = bytes.fromhex(
    "28bf4e5e4e758a4164004e56fffa01082e2e00b6d0683e802f0ca9fe6453697a"
)

_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R")
_ENCRYPT_INLINE_RE = re.compile(rb"/Encrypt\s*<<")
_ID_RE = re.compile(rb"/ID\s*\[\s*(<[0-9A-Fa-f\s]*>|\()")
_NUM_RE = {
    "V": re.compile(rb"/V\s+(\d+)"),
    "R": re.compile(rb"/R\s+(\d+)"),
    "Length": re.compile(rb"/Length\s+(\d+)"),
    "P": re.compile(rb"/P\s+(-?\d+)"),
}
_CFM_RE = re.compile(rb"/CFM\s*/(\w+)")
_STMF_RE = re.compile(rb"/StmF\s*/(\w+)")
_STRF_RE = re.compile(rb"/StrF\s*/(\w+)")
_ENCMETA_RE = re.compile(rb"/EncryptMetadata\s+(true|false)")
_FILTER_STD_RE = re.compile(rb"/Filter\s*/Standard\b")


class EncryptedPdfError(ValueError):
    """Raised when a document is encrypted and cannot be decrypted with
    an empty user password (real password, or an unsupported handler)."""


def _parse_string(body: bytes, i: int) -> bytes:
    """Parse a PDF string object starting at body[i] ('(' literal or '<'
    hex); returns the raw bytes. Minimal standalone parser — pdfcrypt
    cannot import pdf.py (pdf.py imports this module)."""
    if i < len(body) and body[i : i + 1] == b"<":
        j = body.find(b">", i)
        # keep hex digits only: corrupt bytes inside a damaged hex string
        # must degrade to a short parse, never raise (fuzz totality)
        hexstr = re.sub(rb"[^0-9A-Fa-f]", b"", body[i + 1 : j if j != -1 else len(body)])
        if len(hexstr) % 2:
            hexstr += b"0"
        return bytes.fromhex(hexstr.decode("ascii"))
    if i >= len(body) or body[i : i + 1] != b"(":
        return b""
    out = bytearray()
    depth = 1
    i += 1
    n = len(body)
    while i < n and depth:
        c = body[i]
        if c == 0x5C and i + 1 < n:  # backslash escape
            nxt = body[i + 1]
            if 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
                k = i + 1
                oct_digits = b""
                while k < n and len(oct_digits) < 3 and 0x30 <= body[k] <= 0x37:
                    oct_digits += body[k : k + 1]
                    k += 1
                out.append(int(oct_digits, 8) & 0xFF)
                i = k
                continue
            esc = {
                ord("n"): 0x0A, ord("r"): 0x0D, ord("t"): 0x09,
                ord("b"): 0x08, ord("f"): 0x0C,
            }.get(nxt)
            if esc is not None:
                out.append(esc)
            elif nxt in (0x0A, 0x0D):
                pass  # line continuation
            else:
                out.append(nxt)
            i += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if not depth:
                break
        out.append(c)
        i += 1
    return bytes(out)


def _mask_strings(body: bytes) -> bytes:
    """Replace the INTERIOR bytes of every string object — literal
    (...) with escape/nesting rules, and hex <...> (but never the
    << >> dict delimiters) — with spaces, preserving length so offsets
    stay aligned with the original. Structural regexes (/V /R /Length,
    crypt-filter names, << >> depth counting) then cannot be spoofed by
    ciphertext bytes inside /O//U//UE values; string values themselves
    are still parsed from the ORIGINAL body at the same offset."""
    out = bytearray(body)
    i = 0
    n = len(body)
    while i < n:
        c = body[i]
        if c == 0x28:  # '(' literal string
            depth = 1
            j = i + 1
            while j < n and depth:
                b = body[j]
                if b == 0x5C:  # backslash: next byte is never a delimiter
                    if j + 1 < n:
                        out[j] = 0x20
                        out[j + 1] = 0x20
                    j += 2
                    continue
                if b == 0x28:
                    depth += 1
                elif b == 0x29:
                    depth -= 1
                    if not depth:
                        break
                out[j] = 0x20
                j += 1
            i = j + 1
            continue
        if c == 0x3C:  # '<'
            if body.startswith(b"<<", i):
                i += 2
                continue
            j = body.find(b">", i + 1)
            if j == -1:
                j = n
            for k in range(i + 1, j):
                out[k] = 0x20
            i = j + 1
            continue
        if c == 0x3E and body.startswith(b">>", i):
            i += 2
            continue
        i += 1
    return bytes(out)


def _dict_string(body: bytes, key: bytes, masked: bytes | None = None) -> bytes:
    """Find /key in `masked` (string-interior-blanked, same offsets) but
    parse the value bytes from the original `body`."""
    m = re.search(rb"/" + key + rb"\s*(?=[(<])", masked if masked is not None else body)
    if not m:
        return b""
    return _parse_string(body, m.end())


def _strip_subdicts(body: bytes) -> bytes:
    """Remove nested << >> regions so the top-level /Length etc. of an
    encryption dictionary cannot be confused with a crypt-filter
    subdictionary's keys. The outermost dict is depth 1 (body text
    between 'obj' and 'endobj' starts outside any dict)."""
    out = bytearray()
    depth = 0
    i = 0
    n = len(body)
    while i < n:
        if body.startswith(b"<<", i):
            depth += 1
            i += 2
            continue
        if body.startswith(b">>", i):
            depth -= 1
            i += 2
            continue
        if depth <= 1:
            out.append(body[i])
        i += 1
    return bytes(out)


class PdfEncryption:
    """Decryption context for one document. `ok` is True only when the
    empty user password authenticated; `decrypt` is then usable."""

    def __init__(self, r: int, v: int, file_key: bytes, cfm: str,
                 ok: bool, stm_encrypted: bool = True, str_encrypted: bool = True):
        self.r = r
        self.v = v
        self.file_key = file_key
        self.cfm = cfm  # 'rc4' | 'aesv2' | 'aesv3'
        self.ok = ok
        self.stm_encrypted = stm_encrypted
        self.str_encrypted = str_encrypted

    def _object_key(self, num: int, gen: int) -> bytes:
        if self.v >= 5:
            return self.file_key  # AES-256: file key used directly
        ext = struct.pack("<I", num)[:3] + struct.pack("<I", gen & 0xFFFF)[:2]
        if self.cfm == "aesv2":
            ext += b"\x73\x41\x6c\x54"  # 'sAlT' (§7.6.2 Algorithm 1 step b)
        key = hashlib.md5(self.file_key + ext).digest()
        return key[: min(len(self.file_key) + 5, 16)]

    def decrypt(self, data: bytes, num: int, gen: int) -> bytes:
        key = self._object_key(num, gen)
        if self.cfm == "rc4":
            return rc4(key, data)
        # AES: 16-byte IV prefix, CBC, PKCS#7 padding (§7.6.3.3)
        if len(data) < 16:
            raise ValueError("aes stream shorter than its IV")
        body = data[16 : 16 + (len(data) - 16) // 16 * 16]
        if not body:
            return b""
        plain = aes_cbc_decrypt(key, data[:16], body)
        pad = plain[-1]
        if 1 <= pad <= 16:
            plain = plain[:-pad]
        return plain

    def encrypt(self, data: bytes, num: int, gen: int, iv: bytes = b"\x00" * 16) -> bytes:
        """Forward direction — the synthesis twin for round-trip tests
        and fuzz corpora (RC4 is symmetric; AES adds IV + PKCS#7)."""
        key = self._object_key(num, gen)
        if self.cfm == "rc4":
            return rc4(key, data)
        pad = 16 - len(data) % 16
        return iv + aes_cbc_encrypt(key, iv, data + bytes([pad]) * pad)


def derive_legacy_file_key(o: bytes, p: int, id0: bytes, r: int,
                           length_bits: int, encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2 with an empty user password (§7.6.4.3.2) — public so
    twins derive the same key the opener will."""
    h = hashlib.md5()
    h.update(_PAD)  # empty password -> the bare pad string
    h.update(o[:32])
    h.update(struct.pack("<i", p))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    n = 5 if r == 2 else max(5, min(16, length_bits // 8))
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _check_user_password_legacy(key: bytes, u: bytes, id0: bytes, r: int) -> bool:
    """Algorithm 6: does the derived key reproduce /U? (§7.6.4.4.10)"""
    if r == 2:
        return rc4(key, _PAD) == u[:32]
    x = hashlib.md5(_PAD + id0).digest()
    x = rc4(key, x)
    for i in range(1, 20):
        x = rc4(bytes(b ^ i for b in key), x)
    return x == u[:16]


def _hash_2b(password: bytes, salt: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B iterated hash (R6), for a user password
    (the algorithm's extra /U input is empty)."""
    k = hashlib.sha256(password + salt).digest()
    i = 0
    e = b"\x00"
    while i < 64 or e[-1] > i - 32:
        k1 = (password + k) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1)
        mod = int.from_bytes(e[:16], "big") % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        i += 1
    return k[:32]


def _file_key_aes256(u: bytes, ue: bytes, r: int) -> bytes | None:
    """Empty-user-password validation + file-key recovery for R5/R6.
    /U is hash(32) + validation salt(8) + key salt(8); /UE holds the
    file key AES-256-CBC-encrypted under the intermediate key."""
    if len(u) < 48 or len(ue) < 32:
        return None
    vsalt, ksalt = u[32:40], u[40:48]
    if r == 6:
        if _hash_2b(b"", vsalt) != u[:32]:
            return None
        inter = _hash_2b(b"", ksalt)
    else:  # deprecated Adobe R5: plain SHA-256, no 2.B loop
        if hashlib.sha256(vsalt).digest() != u[:32]:
            return None
        inter = hashlib.sha256(ksalt).digest()
    return aes_cbc_decrypt(inter, b"\x00" * 16, ue[:32])


# ---------------------------------------------------------------------------
# Forward-direction handler twins (used by tests/fuzz to build encrypted
# documents this module then opens; the primitives they compose are
# anchored independently, so a twin round-trip exercises the spec
# algorithms rather than mirroring a private convention).


def make_owner_value(owner_pwd: bytes, user_pwd: bytes = b"", r: int = 3,
                     length_bits: int = 128) -> bytes:
    """Algorithm 3: the /O entry (owner-password RC4 chain over the
    padded user password; full-digest MD5 iterations per step c)."""
    opad = (owner_pwd + _PAD)[:32]
    upad = (user_pwd + _PAD)[:32]
    key = hashlib.md5(opad).digest()
    n = 5 if r == 2 else max(5, min(16, length_bits // 8))
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:n]
    o = rc4(key, upad)
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in key), o)
    return o


def make_user_value(file_key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / Algorithm 5 (R3+): the /U entry for an empty
    user password given the derived file key."""
    if r == 2:
        return rc4(file_key, _PAD)
    x = hashlib.md5(_PAD + id0).digest()
    x = rc4(file_key, x)
    for i in range(1, 20):
        x = rc4(bytes(b ^ i for b in file_key), x)
    return x + b"\x00" * 16


#: The fixed validation and key salts make_v5_user_values writes.
V5_VALIDATION_SALT = b"VS345678"
V5_KEY_SALT = b"KS345678"


def make_v5_user_values(file_key: bytes, r: int = 6) -> tuple[bytes, bytes]:
    """R5/R6 /U and /UE entries for an empty user password: U carries the
    validation hash + both salts; UE is the file key encrypted under the
    key-salt intermediate (ISO 32000-2 §7.6.4.4)."""
    vsalt, ksalt = V5_VALIDATION_SALT, V5_KEY_SALT
    if r == 6:
        uhash = _hash_2b(b"", vsalt)
        inter = _hash_2b(b"", ksalt)
    else:
        uhash = hashlib.sha256(vsalt).digest()
        inter = hashlib.sha256(ksalt).digest()
    ue = aes_cbc_encrypt(inter, b"\x00" * 16, file_key)
    return uhash + vsalt + ksalt, ue


#: get_encryption looks for the /Encrypt dictionary in this many leading bytes.
ENCRYPT_SCAN_CAP = 10 * 1024 * 1024


def get_encryption(payload: bytes):
    """Return None (unencrypted), or a PdfEncryption whose .ok says
    whether the empty user password opened the document."""
    scan = payload[:ENCRYPT_SCAN_CAP]
    mref = None
    for mref in _ENCRYPT_REF_RE.finditer(scan):
        pass  # incremental updates: the LAST trailer wins
    enc_dict = b""
    if mref is not None:
        num, gen = int(mref.group(1)), int(mref.group(2))
        mobj = re.search(
            rb"(?<![0-9])%d\s+%d\s+obj\b(.*?)endobj" % (num, gen), scan, re.DOTALL
        )
        if mobj:
            enc_dict = mobj.group(1)
    elif _ENCRYPT_INLINE_RE.search(scan):
        mi = _ENCRYPT_INLINE_RE.search(scan)
        enc_dict = scan[mi.end() - 2 : mi.end() + 2048]
    if not enc_dict:
        return None
    # Blank string interiors first: /O//U ciphertext can contain (, ),
    # <<, >> or digit runs that would desync << >> depth counting or
    # spoof /V //R //Length (string values still parse from enc_dict).
    enc_masked = _mask_strings(enc_dict)
    if not _FILTER_STD_RE.search(enc_masked):
        # a non-standard security handler: encrypted, not decryptable here
        return PdfEncryption(0, 0, b"", "rc4", ok=False)

    top = _strip_subdicts(enc_masked)

    def _num(name: str, default: int) -> int:
        m = _NUM_RE[name].search(top)
        return int(m.group(1)) if m else default

    v = _num("V", 0)
    r = _num("R", 2)
    length_bits = _num("Length", 40)
    p = _num("P", -1)
    o = _dict_string(enc_dict, b"O", enc_masked)
    u = _dict_string(enc_dict, b"U", enc_masked)
    em = _ENCMETA_RE.search(enc_masked)
    encrypt_metadata = em is None or em.group(1) == b"true"

    cfm = "rc4"
    stm_enc = str_enc = True
    if v >= 4:
        cm = _CFM_RE.search(enc_masked)
        name = cm.group(1) if cm else b"V2"
        cfm = {b"AESV2": "aesv2", b"AESV3": "aesv3", b"V2": "rc4"}.get(name, "")
        sm = _STMF_RE.search(enc_masked)
        stm_enc = not (sm and sm.group(1) == b"Identity")
        sm = _STRF_RE.search(enc_masked)
        str_enc = not (sm and sm.group(1) == b"Identity")
        if not cfm:
            return PdfEncryption(r, v, b"", "rc4", ok=False)

    if v >= 5:
        ue = _dict_string(enc_dict, b"UE", enc_masked)
        key = _file_key_aes256(u, ue, r)
        if key is None:
            return PdfEncryption(r, v, b"", "aesv3", ok=False)
        return PdfEncryption(r, v, key, "aesv3", ok=True,
                             stm_encrypted=stm_enc, str_encrypted=str_enc)

    # legacy RC4/AES-128 path needs the first file identifier
    id0 = b""
    mid = None
    for mid in _ID_RE.finditer(scan):
        pass
    if mid is not None:
        id0 = _parse_string(scan, mid.start(1))
    key = derive_legacy_file_key(o, p, id0, r, length_bits if v >= 2 else 40,
                                 encrypt_metadata)
    if not _check_user_password_legacy(key, u, id0, r):
        return PdfEncryption(r, v, b"", cfm, ok=False)
    return PdfEncryption(r, v, key, cfm, ok=True,
                         stm_encrypted=stm_enc, str_encrypted=str_enc)
