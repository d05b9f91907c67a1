"""PDF standard-security-handler decryption (htmlx/spark/pdfcrypt.py).

Anchor strategy (same pattern as the javax.imageio image anchors): the
AES and RC4 primitives are pinned against INDEPENDENT references — the
FIPS-197 Appendix C known-answer vectors and the widely published RC4
test vectors are hardcoded expectations, and the pure-Python AES-CBC
fallback is asserted bit-identical to the OpenSSL-backed `cryptography`
package when it is importable. The handler algorithms (2, 2.B, 3, 4, 5,
6) are then exercised by full encrypted-document round trips built from
the forward-direction twins, across every supported revision.
"""

import zlib

import pytest

from htmlx.spark.pdf import (
    EncryptedPdfError,
    extract_pdf_text,
    parse_pdf_structure,
)
from htmlx.spark.pdfcrypt import (
    PdfEncryption,
    _decrypt_block,
    _encrypt_block,
    _expand_key,
    _hash_2b,
    _pure_aes_cbc_decrypt,
    _pure_aes_cbc_encrypt,
    derive_legacy_file_key,
    get_encryption,
    make_owner_value,
    make_user_value,
    make_v5_user_values,
    rc4,
)
from tests.oracles import pdf_image_rows

# ---------------------------------------------------------------------------
# Primitive anchors.

_FIPS_PT = bytes.fromhex("00112233445566778899aabbccddeeff")


@pytest.mark.parametrize(
    "key_hex,ct_hex",
    [
        # FIPS-197 Appendix C.1 / C.2 / C.3
        ("000102030405060708090a0b0c0d0e0f", "69c4e0d86a7b0430d8cdb78070b4c55a"),
        (
            "000102030405060708090a0b0c0d0e0f1011121314151617",
            "dda97ca4864cdfe06eaf70a0ec0d7191",
        ),
        (
            "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f",
            "8ea2b7ca516745bfeafc49904b496089",
        ),
    ],
)
def test_aes_fips197_vectors(key_hex, ct_hex):
    rk = _expand_key(bytes.fromhex(key_hex))
    ct = _encrypt_block(rk, _FIPS_PT)
    assert ct == bytes.fromhex(ct_hex)
    assert _decrypt_block(rk, ct) == _FIPS_PT


@pytest.mark.parametrize(
    "key,plain,ct_hex",
    [
        (b"Key", b"Plaintext", "bbf316e8d940af0ad3"),
        (b"Wiki", b"pedia", "1021bf0420"),
        (b"Secret", b"Attack at dawn", "45a01f645fc35b383552544b9bf5"),
    ],
)
def test_rc4_published_vectors(key, plain, ct_hex):
    assert rc4(key, plain) == bytes.fromhex(ct_hex)
    assert rc4(key, bytes.fromhex(ct_hex)) == plain  # symmetric


def test_pure_cbc_matches_cryptography_when_present():
    cryptography = pytest.importorskip("cryptography")  # noqa: F841
    from cryptography.hazmat.primitives.ciphers import Cipher
    from cryptography.hazmat.primitives.ciphers.algorithms import AES
    from cryptography.hazmat.primitives.ciphers.modes import CBC

    for klen in (16, 32):
        key = bytes(range(klen))
        iv = bytes(range(100, 116))
        data = bytes((i * 7 + 3) & 0xFF for i in range(160))
        enc = Cipher(AES(key), CBC(iv)).encryptor()
        ref = enc.update(data) + enc.finalize()
        assert _pure_aes_cbc_encrypt(key, iv, data) == ref
        assert _pure_aes_cbc_decrypt(key, iv, ref) == data


def test_hash_2b_properties():
    # Algorithm 2.B has no published KAT in the spec body; pin the
    # structural contract: 32 bytes, deterministic, salt-sensitive.
    a = _hash_2b(b"", b"saltsalt")
    assert len(a) == 32
    assert a == _hash_2b(b"", b"saltsalt")
    assert a != _hash_2b(b"", b"SALTSALT")
    assert a != _hash_2b(b"x", b"saltsalt")


# ---------------------------------------------------------------------------
# Encrypted-document round trips.

_CONTENT = b"BT /F1 12 Tf (Hello encrypted world) Tj ET"
_IV = bytes(range(16))


def _hexs(b: bytes) -> bytes:
    return b"<" + b.hex().encode() + b">"


def build_encrypted_pdf(
    cfm="rc4", v=2, r=3, bits=128, good_u=True, objstm=False, image=False
):
    """Forward-direction twin: a complete encrypted document built from
    the spec algorithms (O via Alg 3, file key via Alg 2, U via Alg 4/5)."""
    id0 = bytes(range(16))
    p = -44
    o = make_owner_value(b"ownerpw", b"", r=r, length_bits=bits)
    key = derive_legacy_file_key(o, p, id0, r, bits)
    u = make_user_value(key, id0, r) if good_u else b"\xaa" * 32
    cr = PdfEncryption(r, v, key, cfm, ok=True)

    enc_content = cr.encrypt(zlib.compress(_CONTENT), 4, 0, iv=_IV)
    title = cr.encrypt(b"Secret Title", 5, 0, iv=_IV)
    prod = cr.encrypt(b"CryptProducer 1.0", 5, 0, iv=_IV)

    extra = b""
    if v >= 4:
        name = b"AESV2" if cfm == "aesv2" else b"V2"
        extra = (
            b" /CF << /StdCF << /CFM /" + name + b" /Length 16 >> >>"
            b" /StmF /StdCF /StrF /StdCF"
        )
    pdf = b"%PDF-1.6\n"
    pdf += b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
    pdf += b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
    pdf += b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
    pdf += (
        b"4 0 obj << /Length %d /Filter /FlateDecode >>\nstream\n" % len(enc_content)
        + enc_content
        + b"\nendstream\nendobj\n"
    )
    pdf += b"5 0 obj << /Title " + _hexs(title) + b" /Producer " + _hexs(prod) + b" >> endobj\n"
    if objstm:
        # a packed page dict inside an ENCRYPTED ObjStm: the stream is
        # decrypted under the ObjStm object's own key, after which the
        # packed strings/dicts are plaintext (§7.6.2 note 2)
        from htmlx.spark.pdf import encode_object_stream

        body = encode_object_stream([(20, b"<< /Type /Page /Packed true >>")])
        dict_end = body.index(b">>\nstream\n")
        head, stream_raw = body[: dict_end + 2], body[dict_end + 10 : -len(b"\nendstream")]
        enc_stream = cr.encrypt(stream_raw, 7, 0, iv=_IV)
        head = head.replace(
            b"/Length %d" % len(stream_raw), b"/Length %d" % len(enc_stream)
        )
        pdf += b"7 0 obj " + head + b"\nstream\n" + enc_stream + b"\nendstream\nendobj\n"
    if image:
        # a 2x2 gray raw-sample image XObject, Flate-compressed then encrypted
        px = bytes([0, 64, 128, 255])
        enc_img = cr.encrypt(zlib.compress(px), 8, 0, iv=_IV)
        pdf += (
            b"8 0 obj << /Subtype /Image /Width 2 /Height 2 /BitsPerComponent 8"
            b" /ColorSpace /DeviceGray /Filter /FlateDecode /Length %d >>\nstream\n"
            % len(enc_img)
            + enc_img
            + b"\nendstream\nendobj\n"
        )
    pdf += (
        b"6 0 obj << /Filter /Standard /V %d /R %d /Length %d" % (v, r, bits)
        + extra
        + b" /O "
        + _hexs(o)
        + b" /U "
        + _hexs(u)
        + b" /P %d >> endobj\n" % p
    )
    pdf += (
        b"trailer << /Root 1 0 R /Info 5 0 R /Encrypt 6 0 R /ID ["
        + _hexs(id0)
        + _hexs(id0)
        + b"] >>\n%%EOF"
    )
    return pdf


def build_encrypted_pdf_v5(r=6):
    file_key = bytes(range(32))
    u, ue = make_v5_user_values(file_key, r=r)
    cr = PdfEncryption(r, 5, file_key, "aesv3", ok=True)
    enc_content = cr.encrypt(zlib.compress(_CONTENT), 4, 0, iv=_IV)
    title = cr.encrypt(b"V5 Title", 5, 0, iv=_IV)
    pdf = b"%PDF-2.0\n"
    pdf += b"3 0 obj << /Type /Page /Contents 4 0 R >> endobj\n"
    pdf += (
        b"4 0 obj << /Length %d /Filter /FlateDecode >>\nstream\n" % len(enc_content)
        + enc_content
        + b"\nendstream\nendobj\n"
    )
    pdf += b"5 0 obj << /Title " + _hexs(title) + b" >> endobj\n"
    pdf += (
        b"6 0 obj << /Filter /Standard /V 5 /R %d /Length 256"
        b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF"
        b" /O " + _hexs(b"\x00" * 48) + b" /OE " + _hexs(b"\x00" * 32)
        + b" /U " + _hexs(u) + b" /UE " + _hexs(ue) + b" /P -44 >> endobj\n"
    ) % r
    pdf += b"trailer << /Root 1 0 R /Info 5 0 R /Encrypt 6 0 R >>\n%%EOF"
    return pdf


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(cfm="rc4", v=1, r=2, bits=40),
        dict(cfm="rc4", v=2, r=3, bits=128),
        dict(cfm="rc4", v=2, r=3, bits=40),
        dict(cfm="rc4", v=4, r=4, bits=128),  # V4 crypt filter, /CFM /V2
        dict(cfm="aesv2", v=4, r=4, bits=128),
    ],
)
def test_roundtrip_all_legacy_revisions(kwargs):
    pdf = build_encrypted_pdf(**kwargs)
    meta = parse_pdf_structure(pdf)
    assert meta["error"] == ""
    assert meta["title"] == "Secret Title"
    assert meta["producer"] == "CryptProducer 1.0"
    assert extract_pdf_text(pdf) == "Hello encrypted world"


@pytest.mark.parametrize("r", [5, 6])
def test_roundtrip_aes256(r):
    pdf = build_encrypted_pdf_v5(r=r)
    meta = parse_pdf_structure(pdf)
    assert meta["error"] == ""
    assert meta["title"] == "V5 Title"
    assert extract_pdf_text(pdf) == "Hello encrypted world"


def test_real_password_degrades_not_garbles():
    pdf = build_encrypted_pdf(good_u=False)
    meta = parse_pdf_structure(pdf)
    assert meta["error"] == "encrypted"
    # census stays available (dict keys are plaintext); strings suppressed
    assert meta["n_pages"] == 1
    assert meta["title"] == "" and meta["producer"] == ""
    with pytest.raises(EncryptedPdfError):
        extract_pdf_text(pdf)


def test_unencrypted_unaffected():
    assert get_encryption(b"%PDF-1.4\nno encrypt dict here") is None


def test_non_standard_handler_degrades():
    pdf = (
        b"%PDF-1.6\n6 0 obj << /Filter /MyDRM /V 4 >> endobj\n"
        b"trailer << /Encrypt 6 0 R >>"
    )
    cr = get_encryption(pdf)
    assert cr is not None and not cr.ok
    assert parse_pdf_structure(pdf)["error"] == "encrypted"


def test_encrypted_objstm_pages_counted():
    pdf = build_encrypted_pdf(objstm=True)
    meta = parse_pdf_structure(pdf)
    assert meta["error"] == ""
    # 1 top-level page + 1 packed inside the encrypted ObjStm
    assert meta["n_pages"] == 2


def test_encrypted_image_decodes():
    pdf = build_encrypted_pdf(cfm="aesv2", v=4, r=4, image=True)
    imgs = pdf_image_rows(pdf)
    assert len(imgs) == 1
    img = imgs[0]
    assert img["error"] == ""
    assert (img["width"], img["height"], img["channels"]) == (2, 2, 1)


def test_locked_image_rows_flagged():
    # extract_pdf_profile flags the whole row and decodes no image
    pdf = build_encrypted_pdf(good_u=False, image=True)
    assert parse_pdf_structure(pdf)["error"] == "encrypted"


def test_aes_stream_too_short_is_value_error():
    cr = PdfEncryption(4, 4, b"k" * 16, "aesv2", ok=True)
    with pytest.raises(ValueError):
        cr.decrypt(b"short", 1, 0)


def test_corrupt_ciphertext_degrades_to_corrupt_stream():
    pdf = build_encrypted_pdf()
    # flip bytes inside the content stream ciphertext
    i = pdf.index(b"stream\n") + 7
    broken = pdf[:i] + bytes(b ^ 0xFF for b in pdf[i : i + 8]) + pdf[i + 8 :]
    with pytest.raises(zlib.error):
        extract_pdf_text(broken)


def test_fuzz_get_encryption_total():
    import random

    rng = random.Random(6)
    base = build_encrypted_pdf()
    for _ in range(200):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 8)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        payload = bytes(b)
        try:
            cr = get_encryption(payload)
        except Exception as e:  # noqa: BLE001
            pytest.fail("get_encryption raised %r" % (e,))
        if cr is not None and cr.ok:
            # decryptable docs must flow through the normal error contract
            from htmlx.spark.pdf import UnsupportedFilterError

            try:
                extract_pdf_text(payload)
            except (EncryptedPdfError, UnsupportedFilterError, ValueError, zlib.error):
                pass


# ---------------------------------------------------------------------------
# String-aware /Encrypt dict parsing: ciphertext bytes inside literal
# string values must not desync << >> depth or spoof /V //R //Length.


def _lits(b: bytes) -> bytes:
    """Literal-string encode: escape \\ ( ) and CR, as PDF writers do."""
    out = bytearray(b"(")
    for c in b:
        if c in (0x28, 0x29, 0x5C):
            out += b"\\" + bytes([c])
        elif c == 0x0D:
            out += b"\\r"
        else:
            out.append(c)
    out += b")"
    return bytes(out)


def test_literal_string_o_u_values_decrypt():
    """/O and /U written as literal (...) strings — the common real-world
    encoding — must parse and authenticate exactly like hex strings."""
    id0 = bytes(range(16))
    r, bits = 3, 128
    o = make_owner_value(b"ownerpw", b"", r=r, length_bits=bits)
    key = derive_legacy_file_key(o, -44, id0, r, bits)
    u = make_user_value(key, id0, r)
    pdf = build_encrypted_pdf()
    pdf2 = pdf.replace(b"/O <" + o.hex().encode() + b">", b"/O " + _lits(o))
    pdf2 = pdf2.replace(b"/U <" + u.hex().encode() + b">", b"/U " + _lits(u))
    assert pdf2 != pdf
    assert extract_pdf_text(pdf2) == "Hello encrypted world"


@pytest.mark.parametrize(
    "evil",
    [
        # unbalanced << inside a string: unmasked, _strip_subdicts would
        # never return to depth 1 and every later top-level key vanishes
        b"(junk << unbalanced)",
        # digit-run spoof: unmasked, /Length 9 inside the string is the
        # FIRST _NUM_RE match and corrupts the key length
        b"(/Length 9 /V 9 /R 9)",
        # escaped parens + nested dict noise in one string
        b"(a\\( <<>> << /V 7 \\) b)",
    ],
)
def test_encrypt_dict_string_interiors_are_inert(evil):
    pdf = build_encrypted_pdf()
    pdf2 = pdf.replace(
        b"/Filter /Standard /V", b"/XNote " + evil + b" /Filter /Standard /V"
    )
    assert pdf2 != pdf
    cr = get_encryption(pdf2)
    assert cr is not None and cr.ok
    assert extract_pdf_text(pdf2) == "Hello encrypted world"
