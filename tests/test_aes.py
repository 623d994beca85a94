"""AES (functions/aes.py): FIPS-197 known-answer pins at every key size,
CBC/PKCS#7 round-trips, and the /AESV2 PDF security handler end-to-end."""

from __future__ import annotations

import pytest

from vietnamese_ocr_spark.functions.aes import (
    aes_cbc_decrypt,
    aes_cbc_encrypt,
    aes_decrypt_block,
    aes_encrypt_block,
)


@pytest.mark.parametrize("n", [0, 1, 15, 16, 17, 333])
def test_cbc_roundtrip_every_padding_class(n):
    key = bytes(range(16))
    iv = bytes(range(100, 116))
    msg = bytes((i * 7) % 256 for i in range(n))
    enc = aes_cbc_encrypt(msg, key, iv)
    assert enc[:16] == iv and len(enc) % 16 == 0 and len(enc) > len(msg)
    assert aes_cbc_decrypt(enc, key) == msg


def test_cbc_wrong_key_or_corruption_raises():
    key = bytes(16)
    enc = aes_cbc_encrypt(b"payload bytes here", key, bytes(range(16)))
    with pytest.raises(ValueError):
        aes_cbc_decrypt(enc, bytes([1]) * 16)  # wrong key -> bad pad
    with pytest.raises(ValueError):
        aes_cbc_decrypt(enc[:24], key)  # misaligned


def test_aesv2_pdf_all_layouts():
    """/V 4 /R 4 crypt-filter PDFs (empty user password) open across
    every layout: simple-font 1.4, Type0 Unicode, and 1.5 ObjStm."""
    from vietnamese_ocr_spark.functions.pdf import (
        pdf_encode,
        pdf_encode_15,
        pdf_encode_type0,
        pdf_encrypt_aes,
        pdf_main_text,
    )

    plain = pdf_encode([[(72.0, 700.0, 11.0, "aes secret"), (72.0, 684.0, 11.0, "two")]])
    assert pdf_main_text(pdf_encrypt_aes(plain)) == "aes secret\ntwo"
    t0 = pdf_encode_type0([[(72.0, 700.0, 11.0, "mã hóa AES tiếng Việt")]])
    assert pdf_main_text(pdf_encrypt_aes(t0)) == "mã hóa AES tiếng Việt"
    m15 = pdf_encode_15([[(72.0, 700.0, 11.0, "modern aes")]])
    assert pdf_main_text(pdf_encrypt_aes(m15)) == "modern aes"


def test_aesv2_with_user_password_quarantines():
    from vietnamese_ocr_spark.functions.pdf import (
        PdfDocument,
        pdf_encode,
        pdf_encrypt_aes,
    )

    locked = pdf_encrypt_aes(pdf_encode([[(72.0, 700.0, 10.0, "x")]]),
                             user_pw="hunter2")
    with pytest.raises(ValueError, match="user password"):
        PdfDocument(locked)


def test_aes256_v5_still_quarantines():
    from vietnamese_ocr_spark.functions.pdf import (
        PdfDocument,
        pdf_encode,
        pdf_encrypt_aes,
    )

    enc = pdf_encrypt_aes(pdf_encode([[(72.0, 700.0, 10.0, "x")]]))
    bad = enc.replace(b"/V 4 /R 4", b"/V 5 /R 6", 1)
    with pytest.raises(ValueError, match="unsupported PDF encryption"):
        PdfDocument(bad)


def test_fips197_appendix_c_vector():
    """AES-128 (Nk=4) pinned to the FIPS-197 Appendix C.1 vector."""
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = aes_encrypt_block(pt, key)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert aes_decrypt_block(ct, key) == pt


def test_fips197_appendix_c_192_and_256():
    """The key schedule at Nk=6/8 pinned to the FIPS-197 Appendix
    C.2/C.3 known-answer vectors, both directions."""
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    vectors = {
        "000102030405060708090a0b0c0d0e0f1011121314151617":
            "dda97ca4864cdfe06eaf70a0ec0d7191",
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f":
            "8ea2b7ca516745bfeafc49904b496089",
    }
    for key_hex, ct_hex in vectors.items():
        k = bytes.fromhex(key_hex)
        assert aes_encrypt_block(pt, k).hex() == ct_hex
        assert aes_decrypt_block(bytes.fromhex(ct_hex), k) == pt


def test_cbc_nopad_roundtrip_all_key_sizes():
    import numpy as np

    from vietnamese_ocr_spark.functions.aes import (
        aes_cbc_decrypt_nopad,
        aes_cbc_encrypt_nopad,
    )

    rng = np.random.RandomState(3)
    iv = bytes(rng.randint(0, 256, 16, dtype=np.uint8))
    for klen in (16, 24, 32):
        key = bytes(rng.randint(0, 256, klen, dtype=np.uint8))
        blob = bytes(rng.randint(0, 256, 64, dtype=np.uint8))
        assert aes_cbc_decrypt_nopad(
            aes_cbc_encrypt_nopad(blob, key, iv), key, iv
        ) == blob
        padded = bytes(rng.randint(0, 256, 37, dtype=np.uint8))
        assert aes_cbc_decrypt(aes_cbc_encrypt(padded, key, iv), key) == padded
