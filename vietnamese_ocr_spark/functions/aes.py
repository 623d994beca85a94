"""Pure-Python AES-128/192/256 (FIPS-197) + CBC, for PDF /AESV2+/AESV3.

Entry points, one per mode, every key size (16/24/32-byte keys):

  * `aes_encrypt_block` / `aes_decrypt_block` — single-block ECB (the
    PDF 2.0 /Perms entry);
  * `aes_cbc_encrypt` / `aes_cbc_decrypt` — PKCS#7-padded CBC with the
    IV prefixed (the PDF stream form, /AESV2 and /AESV3);
  * `aes_cbc_encrypt_nopad` / `aes_cbc_decrypt_nopad` — raw CBC over
    aligned data (the PDF 2.0 key wrap, /UE /OE and Algorithm 2.B).

Built from the public standard: the S-box is COMPUTED (GF(2^8)
multiplicative inverse + affine transform, FIPS-197 §5.1.1) rather than
transcribed. The byte-wise block cipher (`_encrypt_block`,
`_decrypt_block`) is pinned to the FIPS-197 Appendix C known-answer
vectors by tests/test_aes.py, and the CBC cores' inlined T-table rounds
are pinned against it. Not constant-time — this decrypts public-spec
PDF streams in a data pipeline, it is not a security boundary.
"""

from __future__ import annotations

import functools

_TABLES: dict | None = None


def _gfmul(a: int, b: int) -> int:
    r = 0
    while b:
        if b & 1:
            r ^= a
        a <<= 1
        if a & 0x100:
            a ^= 0x11B
        b >>= 1
    return r


def _tables() -> dict:
    global _TABLES
    if _TABLES is not None:
        return _TABLES
    inv = [0] * 256
    # brute-force GF(2^8) inverses: unambiguous, runs once per process
    for x in range(1, 256):
        if inv[x]:
            continue
        for y in range(1, 256):
            if _gfmul(x, y) == 1:
                inv[x], inv[y] = y, x
                break

    def rotl(b: int, n: int) -> int:
        return ((b << n) | (b >> (8 - n))) & 0xFF

    sbox = [0] * 256
    for x in range(256):
        b = inv[x]
        sbox[x] = b ^ rotl(b, 1) ^ rotl(b, 2) ^ rotl(b, 3) ^ rotl(b, 4) ^ 0x63
    inv_sbox = [0] * 256
    for i, v in enumerate(sbox):
        inv_sbox[v] = i
    # round constants for key expansion (10 covers all key sizes)
    rcon = [1]
    for _ in range(9):
        rcon.append(_gfmul(rcon[-1], 2))
    # GF(2^8) multiply tables for the (inv)MixColumns constants: one
    # table lookup per byte instead of a bit-loop per byte
    mul = {c: [_gfmul(x, c) for x in range(256)] for c in (2, 3, 9, 11, 13, 14)}
    _TABLES = {"sbox": sbox, "inv_sbox": inv_sbox, "rcon": rcon, "mul": mul}
    return _TABLES


def _expand_key(key: bytes) -> list[list[int]]:
    """FIPS-197 §5.2 for Nk in {4, 6, 8} (AES-128/192/256)."""
    t = _tables()
    sbox, rcon = t["sbox"], t["rcon"]
    nk = len(key) // 4
    if nk not in (4, 6, 8) or len(key) % 4:
        raise ValueError("AES key must be 16/24/32 bytes")
    nr = nk + 6
    w = [list(key[i : i + 4]) for i in range(0, len(key), 4)]
    for i in range(nk, 4 * (nr + 1)):
        tmp = list(w[i - 1])
        if i % nk == 0:
            tmp = tmp[1:] + tmp[:1]
            tmp = [sbox[b] for b in tmp]
            tmp[0] ^= rcon[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            tmp = [sbox[b] for b in tmp]
        w.append([a ^ b for a, b in zip(w[i - nk], tmp)])
    return [sum(w[r * 4 : r * 4 + 4], []) for r in range(nr + 1)]


def _encrypt_block(block: bytes, rk: list[list[int]]) -> bytes:
    sbox = _tables()["sbox"]
    nr = len(rk) - 1
    s = [block[r + 4 * c] for c in range(4) for r in range(4)]  # column-major
    s = [b ^ k for b, k in zip(s, _colmajor(rk[0]))]
    for rnd in range(1, nr + 1):
        s = [sbox[b] for b in s]
        s = _shift_rows(s)
        if rnd < nr:
            s = _mix_columns(s)
        s = [b ^ k for b, k in zip(s, _colmajor(rk[rnd]))]
    return bytes(s[c * 4 + r] for c in range(4) for r in range(4))


def _decrypt_block(block: bytes, rk: list[list[int]]) -> bytes:
    inv_sbox = _tables()["inv_sbox"]
    nr = len(rk) - 1
    s = [block[r + 4 * c] for c in range(4) for r in range(4)]
    s = [b ^ k for b, k in zip(s, _colmajor(rk[nr]))]
    for rnd in range(nr - 1, -1, -1):
        s = _inv_shift_rows(s)
        s = [inv_sbox[b] for b in s]
        s = [b ^ k for b, k in zip(s, _colmajor(rk[rnd]))]
        if rnd > 0:
            s = _inv_mix_columns(s)
    return bytes(s[c * 4 + r] for c in range(4) for r in range(4))


def _colmajor(round_key: list[int]) -> list[int]:
    # round key bytes are word-major; state is column-major by word too
    return round_key


def _shift_rows(s: list[int]) -> list[int]:
    # state s[c*4+r]: shift row r left by r
    out = list(s)
    for r in range(1, 4):
        row = [s[c * 4 + r] for c in range(4)]
        row = row[r:] + row[:r]
        for c in range(4):
            out[c * 4 + r] = row[c]
    return out


def _inv_shift_rows(s: list[int]) -> list[int]:
    out = list(s)
    for r in range(1, 4):
        row = [s[c * 4 + r] for c in range(4)]
        row = row[-r:] + row[:-r]
        for c in range(4):
            out[c * 4 + r] = row[c]
    return out


def _mix_columns(s: list[int]) -> list[int]:
    m2, m3 = _tables()["mul"][2], _tables()["mul"][3]
    out = [0] * 16
    for c in range(4):
        a0, a1, a2, a3 = s[c * 4 : c * 4 + 4]
        out[c * 4 + 0] = m2[a0] ^ m3[a1] ^ a2 ^ a3
        out[c * 4 + 1] = a0 ^ m2[a1] ^ m3[a2] ^ a3
        out[c * 4 + 2] = a0 ^ a1 ^ m2[a2] ^ m3[a3]
        out[c * 4 + 3] = m3[a0] ^ a1 ^ a2 ^ m2[a3]
    return out


def _inv_mix_columns(s: list[int]) -> list[int]:
    mul = _tables()["mul"]
    m9, m11, m13, m14 = mul[9], mul[11], mul[13], mul[14]
    out = [0] * 16
    for c in range(4):
        a0, a1, a2, a3 = s[c * 4 : c * 4 + 4]
        out[c * 4 + 0] = m14[a0] ^ m11[a1] ^ m13[a2] ^ m9[a3]
        out[c * 4 + 1] = m9[a0] ^ m14[a1] ^ m11[a2] ^ m13[a3]
        out[c * 4 + 2] = m13[a0] ^ m9[a1] ^ m14[a2] ^ m11[a3]
        out[c * 4 + 3] = m11[a0] ^ m13[a1] ^ m9[a2] ^ m14[a3]
    return out


def _cbc_encrypt_core(data: bytes, kw: tuple[int, ...], iv: bytes) -> bytearray:
    """CBC over 16-byte-aligned data with the whole T-table round
    function inlined in the block loop (round-7: state stays in four
    int words across the stream — no per-block bytes round-trips, no
    per-byte chaining XOR, final round unrolled). Same FIPS-197
    semantics, pinned by the Appendix C vectors and the CBC test pins."""
    et = _enc_tables()
    te0, te1, te2, te3 = et["te"]
    sbox = et["sbox"]
    p0 = int.from_bytes(iv[0:4], "big")
    p1 = int.from_bytes(iv[4:8], "big")
    p2 = int.from_bytes(iv[8:12], "big")
    p3 = int.from_bytes(iv[12:16], "big")
    out = bytearray()
    inner = len(kw) // 4 - 2
    for i in range(0, len(data), 16):
        s0 = p0 ^ int.from_bytes(data[i : i + 4], "big") ^ kw[0]
        s1 = p1 ^ int.from_bytes(data[i + 4 : i + 8], "big") ^ kw[1]
        s2 = p2 ^ int.from_bytes(data[i + 8 : i + 12], "big") ^ kw[2]
        s3 = p3 ^ int.from_bytes(data[i + 12 : i + 16], "big") ^ kw[3]
        k = 4
        for _ in range(inner):
            t0 = te0[s0 >> 24] ^ te1[(s1 >> 16) & 255] ^ te2[(s2 >> 8) & 255] ^ te3[s3 & 255] ^ kw[k]
            t1 = te0[s1 >> 24] ^ te1[(s2 >> 16) & 255] ^ te2[(s3 >> 8) & 255] ^ te3[s0 & 255] ^ kw[k + 1]
            t2 = te0[s2 >> 24] ^ te1[(s3 >> 16) & 255] ^ te2[(s0 >> 8) & 255] ^ te3[s1 & 255] ^ kw[k + 2]
            t3 = te0[s3 >> 24] ^ te1[(s0 >> 16) & 255] ^ te2[(s1 >> 8) & 255] ^ te3[s2 & 255] ^ kw[k + 3]
            s0, s1, s2, s3 = t0, t1, t2, t3
            k += 4
        p0 = ((sbox[s0 >> 24] << 24) | (sbox[(s1 >> 16) & 255] << 16)
              | (sbox[(s2 >> 8) & 255] << 8) | sbox[s3 & 255]) ^ kw[k]
        p1 = ((sbox[s1 >> 24] << 24) | (sbox[(s2 >> 16) & 255] << 16)
              | (sbox[(s3 >> 8) & 255] << 8) | sbox[s0 & 255]) ^ kw[k + 1]
        p2 = ((sbox[s2 >> 24] << 24) | (sbox[(s3 >> 16) & 255] << 16)
              | (sbox[(s0 >> 8) & 255] << 8) | sbox[s1 & 255]) ^ kw[k + 2]
        p3 = ((sbox[s3 >> 24] << 24) | (sbox[(s0 >> 16) & 255] << 16)
              | (sbox[(s1 >> 8) & 255] << 8) | sbox[s2 & 255]) ^ kw[k + 3]
        out += ((p0 << 96) | (p1 << 64) | (p2 << 32) | p3).to_bytes(16, "big")
    return out


def _cbc_decrypt_core(data: bytes, kwd: tuple[int, ...], iv: bytes,
                      start: int) -> bytearray:
    """CBC decrypt counterpart of _cbc_encrypt_core (equivalent-inverse-
    cipher form), block loop fully inlined; `start` skips an IV prefix."""
    dt = _dec_tables()
    td0, td1, td2, td3 = dt["td"]
    isb = dt["isb"]
    p0 = int.from_bytes(iv[0:4], "big")
    p1 = int.from_bytes(iv[4:8], "big")
    p2 = int.from_bytes(iv[8:12], "big")
    p3 = int.from_bytes(iv[12:16], "big")
    out = bytearray()
    inner = len(kwd) // 4 - 2
    for i in range(start, len(data), 16):
        c0 = int.from_bytes(data[i : i + 4], "big")
        c1 = int.from_bytes(data[i + 4 : i + 8], "big")
        c2 = int.from_bytes(data[i + 8 : i + 12], "big")
        c3 = int.from_bytes(data[i + 12 : i + 16], "big")
        s0 = c0 ^ kwd[0]
        s1 = c1 ^ kwd[1]
        s2 = c2 ^ kwd[2]
        s3 = c3 ^ kwd[3]
        k = 4
        for _ in range(inner):
            t0 = td0[s0 >> 24] ^ td1[(s3 >> 16) & 255] ^ td2[(s2 >> 8) & 255] ^ td3[s1 & 255] ^ kwd[k]
            t1 = td0[s1 >> 24] ^ td1[(s0 >> 16) & 255] ^ td2[(s3 >> 8) & 255] ^ td3[s2 & 255] ^ kwd[k + 1]
            t2 = td0[s2 >> 24] ^ td1[(s1 >> 16) & 255] ^ td2[(s0 >> 8) & 255] ^ td3[s3 & 255] ^ kwd[k + 2]
            t3 = td0[s3 >> 24] ^ td1[(s2 >> 16) & 255] ^ td2[(s1 >> 8) & 255] ^ td3[s0 & 255] ^ kwd[k + 3]
            s0, s1, s2, s3 = t0, t1, t2, t3
            k += 4
        r0 = ((isb[s0 >> 24] << 24) | (isb[(s3 >> 16) & 255] << 16)
              | (isb[(s2 >> 8) & 255] << 8) | isb[s1 & 255]) ^ kwd[k] ^ p0
        r1 = ((isb[s1 >> 24] << 24) | (isb[(s0 >> 16) & 255] << 16)
              | (isb[(s3 >> 8) & 255] << 8) | isb[s2 & 255]) ^ kwd[k + 1] ^ p1
        r2 = ((isb[s2 >> 24] << 24) | (isb[(s1 >> 16) & 255] << 16)
              | (isb[(s0 >> 8) & 255] << 8) | isb[s3 & 255]) ^ kwd[k + 2] ^ p2
        r3 = ((isb[s3 >> 24] << 24) | (isb[(s2 >> 16) & 255] << 16)
              | (isb[(s1 >> 8) & 255] << 8) | isb[s0 & 255]) ^ kwd[k + 3] ^ p3
        out += ((r0 << 96) | (r1 << 64) | (r2 << 32) | r3).to_bytes(16, "big")
        p0, p1, p2, p3 = c0, c1, c2, c3
    return out


def aes_encrypt_block(block: bytes, key: bytes) -> bytes:
    """Single-block ECB for any FIPS-197 key size (PDF /Perms entry)."""
    if len(block) != 16:
        raise ValueError("AES block must be 16 bytes")
    return _encrypt_block(block, _expand_key(key))


def aes_decrypt_block(block: bytes, key: bytes) -> bytes:
    if len(block) != 16:
        raise ValueError("AES block must be 16 bytes")
    return _decrypt_block(block, _expand_key(key))


def aes_cbc_encrypt_nopad(data: bytes, key: bytes, iv: bytes) -> bytes:
    """Raw CBC, no padding, no IV prefix — the PDF 2.0 key-wrap shape
    (Algorithm 2.B's inner encrypt, /UE /OE, ISO 32000-2 §7.6.4.4)."""
    if len(iv) != 16 or len(data) % 16:
        raise ValueError("CBC-nopad needs 16-byte-aligned data and IV")
    kw = _expand_key_words(bytes(key))
    return bytes(_cbc_encrypt_core(data, kw, iv))


def aes_cbc_decrypt_nopad(data: bytes, key: bytes, iv: bytes) -> bytes:
    if len(iv) != 16 or len(data) % 16:
        raise ValueError("CBC-nopad needs 16-byte-aligned data and IV")
    kwd = _expand_key_words_dec(bytes(key))
    return bytes(_cbc_decrypt_core(data, kwd, iv, 0))


def aes_cbc_encrypt(data: bytes, key: bytes, iv: bytes) -> bytes:
    """PKCS#7-pad + CBC, iv-prefixed (the PDF stream form), any key size:
    /AESV2 (128-bit per-object keys) and /AESV3 (256-bit file key)."""
    if len(iv) != 16:
        raise ValueError("bad IV length")
    kw = _expand_key_words(bytes(key))
    pad = 16 - (len(data) % 16)
    data = data + bytes([pad]) * pad
    return bytes(iv) + bytes(_cbc_encrypt_core(data, kw, iv))


def aes_cbc_decrypt(data: bytes, key: bytes) -> bytes:
    """Inverse of aes_cbc_encrypt: data = iv + ciphertext."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("bad AES-CBC stream length")
    kwd = _expand_key_words_dec(bytes(key))
    out = _cbc_decrypt_core(data, kwd, data[:16], 16)
    pad = out[-1]
    if not (1 <= pad <= 16) or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("bad AES padding (wrong key or corrupt stream)")
    return bytes(out[:-pad])


# -- T-tables for the CBC cores ------------------------------------------------
#
# The standard 32-bit-word formulation from the public Rijndael/AES
# proposal: SubBytes+ShiftRows+MixColumns fold into four 256-entry
# word tables (Te1..Te3 are byte rotations of Te0). Same FIPS-197
# semantics as the byte-wise block cipher but ~10x fewer Python
# operations per block, which matters because PDF 2.0's Algorithm 2.B
# runs ~17k sequential CBC block encrypts per hash.

_ENC_T: dict | None = None


def _enc_tables() -> dict:
    global _ENC_T
    if _ENC_T is not None:
        return _ENC_T
    t = _tables()
    sbox, mul = t["sbox"], t["mul"]
    te0 = []
    for x in range(256):
        s = sbox[x]
        te0.append((mul[2][s] << 24) | (s << 16) | (s << 8) | mul[3][s])
    ror8 = lambda w: ((w >> 8) | (w << 24)) & 0xFFFFFFFF
    te1 = [ror8(w) for w in te0]
    te2 = [ror8(w) for w in te1]
    te3 = [ror8(w) for w in te2]
    _ENC_T = {"te": (te0, te1, te2, te3), "sbox": sbox}
    return _ENC_T


@functools.lru_cache(maxsize=32)
def _expand_key_words(key: bytes) -> tuple[int, ...]:
    rk = _expand_key(key)
    out = []
    for rnd in rk:
        for j in range(0, 16, 4):
            out.append(
                (rnd[j] << 24) | (rnd[j + 1] << 16) | (rnd[j + 2] << 8) | rnd[j + 3]
            )
    return tuple(out)


# Decrypt-side T-tables: InvSubBytes+InvShiftRows+InvMixColumns folded
# the same way (equivalent-inverse-cipher form: round keys for rounds
# 1..nr-1 pass through InvMixColumns so the table round applies).

_DEC_T: dict | None = None


def _dec_tables() -> dict:
    global _DEC_T
    if _DEC_T is not None:
        return _DEC_T
    t = _tables()
    isb, mul = t["inv_sbox"], t["mul"]
    td0 = []
    for x in range(256):
        s = isb[x]
        td0.append(
            (mul[14][s] << 24) | (mul[9][s] << 16) | (mul[13][s] << 8) | mul[11][s]
        )
    ror8 = lambda w: ((w >> 8) | (w << 24)) & 0xFFFFFFFF
    td1 = [ror8(w) for w in td0]
    td2 = [ror8(w) for w in td1]
    td3 = [ror8(w) for w in td2]
    _DEC_T = {"td": (td0, td1, td2, td3), "isb": isb}
    return _DEC_T


def _inv_mix_word(w: int) -> int:
    mul = _tables()["mul"]
    out = 0
    a = [(w >> 24) & 255, (w >> 16) & 255, (w >> 8) & 255, w & 255]
    out |= (mul[14][a[0]] ^ mul[11][a[1]] ^ mul[13][a[2]] ^ mul[9][a[3]]) << 24
    out |= (mul[9][a[0]] ^ mul[14][a[1]] ^ mul[11][a[2]] ^ mul[13][a[3]]) << 16
    out |= (mul[13][a[0]] ^ mul[9][a[1]] ^ mul[14][a[2]] ^ mul[11][a[3]]) << 8
    out |= mul[11][a[0]] ^ mul[13][a[1]] ^ mul[9][a[2]] ^ mul[14][a[3]]
    return out


@functools.lru_cache(maxsize=32)
def _expand_key_words_dec(key: bytes) -> tuple[int, ...]:
    """Equivalent-inverse-cipher key schedule: encryption round keys in
    REVERSE round order, inner rounds passed through InvMixColumns."""
    kw = _expand_key_words(key)
    nr = len(kw) // 4 - 1
    out = []
    for rnd in range(nr, -1, -1):
        words = kw[4 * rnd : 4 * rnd + 4]
        if 0 < rnd < nr:
            words = tuple(_inv_mix_word(w) for w in words)
        out.extend(words)
    return tuple(out)
