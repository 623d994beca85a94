"""Minimal PDF text + layout parser (and fixture writer), pure stdlib.

north_rule names "PDF/layout parse" as part of the main-content
extraction pipeline; this module implements the text-bearing subset that
covers machine-generated text PDFs:

  parse:  classic xref-table PDFs AND PDF 1.5+ cross-reference /
          object streams (ObjStm expansion, see `_expand_object_streams`),
          indirect objects, dictionaries / arrays / names / strings
          (literal + hex, with escapes), streams with direct or
          indirect /Length, the text-stream filters (FlateDecode,
          TIFF-variant LZWDecode shared with functions/tiff.py,
          ASCIIHexDecode, ASCII85Decode, RunLengthDecode, chained),
          page tree traversal
          (/Root -> /Pages -> /Kids), content-stream text operators
          BT/ET, Tf, Td, TD, Tm, T*, Tj, ', and TJ.
  layout: each shown string is recorded with its device-space (x, y)
          and font size; `pdf_lines` groups spans into lines by
          y-proximity and orders them top-to-bottom, left-to-right —
          the reading-order reconstruction step of layout parsing.
  write:  `pdf_encode` emits deterministic single-font PDFs (optionally
          Flate-compressed content streams) so fixtures and oracles can
          round-trip without any external PDF library.

Composite (Type0/Identity-H) fonts decode through their /ToUnicode
CMap (bfchar + bfrange, `_parse_tounicode`) — the layout every modern
Unicode-text generator emits — or, when /ToUnicode is absent, by
inverting the embedded /FontFile2 TrueType cmap (functions/truetype.py,
round 6). Encrypted files open with an EMPTY user password — the
owner-password-only form crawls contain (`_setup_encryption`): RC4
(V1/V2, R2/R3), AES-128 (/V 4 /AESV2), and AES-256 (/V 5 /AESV3, R5
and R6 with the Algorithm 2.B hardened hash, ISO 32000-2).
/DecodeParms predictors (TIFF horizontal + PNG 10-15, the
predictor-12 Flate every modern xref-stream writer emits) undo through
the shared PNG unfilter.
Out of scope (quarantined with ValueError, same contract as the image
codecs): files with a real user password, Type0 fonts with neither a
/ToUnicode CMap nor an embedded TrueType font (no recoverable text
mapping), LZW EarlyChange=0, and CCITTFax/JBIG2/JPX image filters
(DCTDecode = JPEG decodes via pdf_page_images).
Coordinates are used as given (no CTM stack beyond Tm), which is exact
for the overwhelmingly common one-transform text PDFs this targets.
"""

from __future__ import annotations

import re
import zlib

from .budget import MAX_PIXELS, check_pixels, inflate

# Decoded-size budget of one Flate, LZW, ASCII85 or RunLength stream
# whose size nothing declares (content streams, fonts, xref streams): an
# 8-bit RGBA frame at the pixel cap. Image XObjects get the exact size
# their dictionary declares instead (pdf_page_images). ASCIIHex output is
# at most half its input, so it needs no budget.
MAX_STREAM_BYTES = 4 * MAX_PIXELS

# -- stream filters (PDF 32000-1 §7.4) ---------------------------------------
# decode + fixture-encode pairs for the non-Flate filters real generators
# emit; /LZWDecode reuses the TIFF-variant LZW (functions/tiff.py).


def _asciihex_decode(data: bytes) -> bytes:
    out = []
    for ch in data:
        c = chr(ch)
        if c == ">":
            break
        if c.isspace():
            continue
        if c not in "0123456789abcdefABCDEF":
            raise ValueError(f"bad ASCIIHex character {c!r}")
        out.append(c)
    if len(out) % 2:
        out.append("0")  # spec: odd final digit behaves as if followed by 0
    return bytes.fromhex("".join(out))


def _asciihex_encode(data: bytes) -> bytes:
    return data.hex().encode("ascii") + b">"


_A85_ZEROS = re.compile(rb"z+")


def _check_budget(name: str, size: int, budget: int) -> None:
    """Raises before a filter's output would grow past `budget` bytes."""
    if size > budget:
        raise ValueError(f"{name} stream exceeds its {budget}-byte budget")


def _ascii85_decode(data: bytes, budget: int = MAX_STREAM_BYTES) -> bytes:
    out = bytearray()
    group: list[int] = []
    i = 0
    while i < len(data):
        c = data[i]
        if data[i : i + 2] == b"~>":
            break
        if c == ord("z"):
            if group:
                raise ValueError("ASCII85 'z' inside a group")
            # a run of 'z' (4 zero bytes each) is checked and appended whole
            run = _A85_ZEROS.match(data, i).end() - i
            _check_budget("ASCII85", len(out) + 4 * run, budget)
            out += bytes(4 * run)
            i += run
            continue
        i += 1
        if chr(c).isspace():
            continue
        if not (ord("!") <= c <= ord("u")):
            raise ValueError(f"bad ASCII85 character {c!r}")
        group.append(c - ord("!"))
        if len(group) == 5:
            n = 0
            for d in group:
                n = n * 85 + d
            if n > 0xFFFFFFFF:
                raise ValueError("ASCII85 group overflow")
            _check_budget("ASCII85", len(out) + 4, budget)
            out += n.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise ValueError("ASCII85 group of one digit")
        k = len(group)
        n = 0
        for d in group + [84] * (5 - k):  # pad with 'u'
            n = n * 85 + d
        _check_budget("ASCII85", len(out) + k - 1, budget)
        out += n.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i : i + 4]
        k = len(chunk)
        n = int.from_bytes(chunk + b"\x00" * (4 - k), "big")
        if k == 4 and n == 0:
            out += b"z"
            continue
        digits = []
        for _ in range(5):
            digits.append(n % 85)
            n //= 85
        out += bytes(ord("!") + d for d in reversed(digits))[: k + 1]
    return bytes(out) + b"~>"


def _runlength_decode(data: bytes, budget: int = MAX_STREAM_BYTES) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        l = data[i]
        i += 1
        if l == 128:  # EOD
            break
        if l < 128:
            chunk = data[i : i + l + 1]
            if len(chunk) != l + 1:
                raise ValueError("truncated RunLength literal")
            _check_budget("RunLength", len(out) + l + 1, budget)
            out += chunk
            i += l + 1
        else:
            if i >= len(data):
                raise ValueError("truncated RunLength run")
            _check_budget("RunLength", len(out) + 257 - l, budget)
            out += bytes([data[i]]) * (257 - l)
            i += 1
    return bytes(out)


def _runlength_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while i + run < len(data) and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + 1
            while (
                j < len(data)
                and j - i < 128
                and not (j + 1 < len(data) and data[j + 1] == data[j])
            ):
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    return bytes(out) + b"\x80"


def _stream_encode(stream: bytes, stream_filter: str | None) -> tuple[bytes, bytes]:
    """Fixture-side: encode a content stream with the named filter ->
    (payload, ' /Filter /Name' dict fragment)."""
    if stream_filter in (None, "none"):
        return stream, b""
    if stream_filter == "flate":
        return zlib.compress(stream, 6), b" /Filter /FlateDecode"
    if stream_filter == "lzw":
        from .tiff import _lzw_encode

        return _lzw_encode(stream), b" /Filter /LZWDecode"
    if stream_filter == "ahx":
        return _asciihex_encode(stream), b" /Filter /ASCIIHexDecode"
    if stream_filter == "a85":
        return _ascii85_encode(stream), b" /Filter /ASCII85Decode"
    if stream_filter == "rl":
        return _runlength_encode(stream), b" /Filter /RunLengthDecode"
    raise ValueError(f"unknown fixture stream filter {stream_filter}")


def _apply_predictor(raw: bytes, parms: dict) -> bytes:
    """Undo a /DecodeParms predictor on filter output (PDF 32000-1
    §7.4.4.4): 2 = TIFF horizontal differencing, 10-15 = PNG row
    predictors (per-row filter tag; the SAME unfilter the PNG codec
    uses — functions/imaging._png_unfilter). Predictor-12 Flate is what
    nearly every real generator emits for xref streams."""
    pred = int(parms.get("/Predictor", 1) or 1)
    if pred <= 1:
        return raw
    colors = int(parms.get("/Colors", 1) or 1)
    bpc = int(parms.get("/BitsPerComponent", 8) or 8)
    cols = int(parms.get("/Columns", 1) or 1)
    if bpc != 8 or colors < 1 or cols < 1:
        raise ValueError(f"unsupported predictor layout ({bpc}-bit)")
    import numpy as np

    rowlen = cols * colors
    if pred == 2:  # TIFF horizontal differencing
        if len(raw) % rowlen:
            raise ValueError("predictor row misalignment")
        arr = np.frombuffer(raw, np.uint8).reshape(-1, cols, colors)
        return (
            (np.cumsum(arr.astype(np.int64), axis=1) & 0xFF)
            .astype(np.uint8)
            .tobytes()
        )
    if 10 <= pred <= 15:  # PNG predictors, one tag byte per row
        from .imaging import _png_unfilter

        stride = rowlen + 1
        if len(raw) % stride:
            raise ValueError("predictor row misalignment")
        flat = np.frombuffer(raw, np.uint8).reshape(-1, stride)
        return _png_unfilter(flat, flat.shape[0], rowlen, colors).tobytes()
    raise ValueError(f"unsupported predictor {pred}")


# -- standard security handler (PDF 32000-1 §7.6.3, RC4 V1/V2) ---------------
# The common crawl case: RC4-encrypted files with an EMPTY user password
# (owner-password-only protection). AES (V4/V5) stays quarantined.

_ENC_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for b in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(b ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def _std_key(user_pw: bytes, o_entry: bytes, p: int, file_id: bytes,
             r: int, n: int) -> bytes:
    """Algorithm 2: the file encryption key."""
    import hashlib

    pw = (user_pw + _ENC_PAD)[:32]
    key = hashlib.md5(
        pw + o_entry[:32] + (p & 0xFFFFFFFF).to_bytes(4, "little") + file_id
    ).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _std_owner_entry(owner_pw: bytes, user_pw: bytes, r: int, n: int) -> bytes:
    """Algorithm 3: the /O dictionary entry."""
    import hashlib

    pw = ((owner_pw or user_pw) + _ENC_PAD)[:32]
    key = hashlib.md5(pw).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:n]
    o = _rc4(key, (user_pw + _ENC_PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in key), o)
    return o


def _std_user_entry(key: bytes, file_id: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3): the /U dictionary entry."""
    import hashlib

    if r == 2:
        return _rc4(key, _ENC_PAD)
    u = _rc4(key, hashlib.md5(_ENC_PAD + file_id).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


def _obj_rc4_key(key: bytes, num: int, gen: int = 0) -> bytes:
    """Algorithm 1: per-object RC4 key."""
    import hashlib

    d = hashlib.md5(
        key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
    ).digest()
    return d[: min(len(key) + 5, 16)]


def _obj_aes_key(key: bytes, num: int, gen: int = 0) -> bytes:
    """Algorithm 1 for /AESV2: the RC4 salt plus the spec's 'sAlT'
    constant; always 16 bytes."""
    import hashlib

    return hashlib.md5(
        key + num.to_bytes(3, "little") + gen.to_bytes(2, "little") + b"sAlT"
    ).digest()[:16]


import functools


@functools.lru_cache(maxsize=64)
def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B (the R6 hardened password hash):
    iterated SHA-256/384/512 selected by an AES-128-CBC mixing step;
    at least 64 rounds, then until E's last byte <= rounds - 32.

    Memoized (round-7): the KDF is spec-mandated ~17k AES/SHA rounds
    (~60ms), and both the fixture writer and the opening parser call it
    with a handful of distinct (password, salt, udata) triples per
    corpus — password validation reuses the same inputs for every
    document encrypted under the same credentials. A pure function of
    its arguments, so the cache can never change a result."""
    import hashlib

    from .aes import aes_cbc_encrypt_nopad

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt_nopad(k1, k[:16], k[16:32])
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _r6_hash(password: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    """R5 (deprecated Adobe extension) is a bare SHA-256; R6 is 2.B."""
    import hashlib

    if r == 5:
        return hashlib.sha256(password + salt + udata).digest()
    return _hash_2b(password, salt, udata)


def _ser_value(v) -> bytes:
    """Serialize a parsed object value back to PDF syntax (fixture
    re-writer for pdf_encrypt_rc4; hex form for strings)."""
    if isinstance(v, dict):
        return (
            b"<< "
            + b" ".join(
                k.encode("ascii") + b" " + _ser_value(val) for k, val in v.items()
            )
            + b" >>"
        )
    if isinstance(v, list):
        return b"[ " + b" ".join(_ser_value(x) for x in v) + b" ]"
    if isinstance(v, tuple) and v and v[0] == "ref":
        return b"%d 0 R" % v[1]
    if isinstance(v, bytes):
        return b"<" + v.hex().encode("ascii") + b">"
    if isinstance(v, bool):
        return b"true" if v else b"false"
    if isinstance(v, int):
        return b"%d" % v
    if isinstance(v, float):
        # PDF real syntax has no exponent form, so '%g'-style 1e-05 is
        # invalid; emit fixed-point and trim trailing zeros.
        s = "%.10f" % v
        s = s.rstrip("0").rstrip(".") or "0"
        return s.encode("ascii")
    if isinstance(v, str):  # names (and keywords) are stored as str
        return v.encode("latin-1")
    if v is None:
        return b"null"
    raise ValueError(f"unserializable PDF value {type(v)}")


def pdf_encrypt_rc4(
    data: bytes, owner_pw: str = "owner", nbits: int = 128, r: int = 3,
    user_pw: str = "",
) -> bytes:
    """Fixture writer: re-emit a classic-xref PDF RC4-encrypted with the
    standard security handler, EMPTY user password (owner-password-only
    — the form that appears in crawls and that the parser must open
    without credentials). r=2 forces 40-bit V1; r=3 is V2/128-bit."""
    import hashlib

    doc = PdfDocument(data)
    file_id = hashlib.md5(data).digest()
    n = (40 if r == 2 else nbits) // 8
    v = 1 if r == 2 else 2
    p = -4  # all content permissions denied except viewing
    upw = user_pw.encode("latin-1")
    o_entry = _std_owner_entry(owner_pw.encode("latin-1"), upw, r, n)
    key = _std_key(upw, o_entry, p, file_id, r, n)
    u_entry = _std_user_entry(key, file_id, r)

    nums = sorted(doc.objects)
    enc_num = max(nums) + 1
    out = bytearray(b"%PDF-1.4\n")
    offsets: dict[int, int] = {}
    for num in nums:
        obj = doc.objects[num]
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + _ser_value(obj)
        if num in doc.streams:
            enc = _rc4(_obj_rc4_key(key, num), doc.streams[num])
            out += b"\nstream\n" + enc + b"\nendstream"
        out += b"\nendobj\n"
    enc_dict = {
        "/Filter": "/Standard", "/V": v, "/R": r, "/Length": n * 8,
        "/O": o_entry, "/U": u_entry, "/P": p,
    }
    offsets[enc_num] = len(out)
    out += b"%d 0 obj\n" % enc_num + _ser_value(enc_dict) + b"\nendobj\n"

    size = enc_num + 1
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for num in range(1, size):
        if num in offsets:
            out += b"%010d 00000 n \n" % offsets[num]
        else:
            out += b"0000000000 65535 f \n"
    root = doc.trailer.get("/Root")
    trailer = {
        "/Size": size, "/Root": root, "/Encrypt": ("ref", enc_num),
        "/ID": [file_id, file_id],
    }
    out += (
        b"trailer\n" + _ser_value(trailer)
        + b"\nstartxref\n%d\n%%%%EOF\n" % xref_at
    )
    return bytes(out)


def pdf_encrypt_aes(
    data: bytes, owner_pw: str = "owner", user_pw: str = ""
) -> bytes:
    """Fixture writer: re-emit a PDF AES-128-encrypted (/V 4 /R 4,
    crypt filter /AESV2) with an empty user password by default. Unlike
    RC4, AES-CBC changes stream lengths (IV + padding), so each stream
    dict's /Length is rewritten. IVs are deterministic per object
    (fixtures must be reproducible; decryption is IV-agnostic)."""
    import hashlib

    doc = PdfDocument(data)
    file_id = hashlib.md5(data).digest()
    n, r, v, p = 16, 4, 4, -4
    upw = user_pw.encode("latin-1")
    o_entry = _std_owner_entry(owner_pw.encode("latin-1"), upw, r, n)
    key = _std_key(upw, o_entry, p, file_id, r, n)
    u_entry = _std_user_entry(key, file_id, r)

    from .aes import aes_cbc_encrypt

    nums = sorted(doc.objects)
    enc_num = max(nums) + 1
    out = bytearray(b"%PDF-1.6\n")
    offsets: dict[int, int] = {}
    for num in nums:
        obj = doc.objects[num]
        offsets[num] = len(out)
        if num in doc.streams:
            iv = hashlib.md5(b"iv%d" % num).digest()[:16]
            enc = aes_cbc_encrypt(doc.streams[num], _obj_aes_key(key, num), iv)
            if isinstance(obj, dict):
                obj = {**obj, "/Length": len(enc)}
            out += b"%d 0 obj\n" % num + _ser_value(obj)
            out += b"\nstream\n" + enc + b"\nendstream"
        else:
            out += b"%d 0 obj\n" % num + _ser_value(obj)
        out += b"\nendobj\n"
    enc_dict = {
        "/Filter": "/Standard", "/V": v, "/R": r, "/Length": 128,
        "/CF": {"/StdCF": {"/CFM": "/AESV2", "/AuthEvent": "/DocOpen",
                           "/Length": 16}},
        "/StmF": "/StdCF", "/StrF": "/StdCF",
        "/O": o_entry, "/U": u_entry, "/P": p,
    }
    offsets[enc_num] = len(out)
    out += b"%d 0 obj\n" % enc_num + _ser_value(enc_dict) + b"\nendobj\n"

    size = enc_num + 1
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for num in range(1, size):
        if num in offsets:
            out += b"%010d 00000 n \n" % offsets[num]
        else:
            out += b"0000000000 65535 f \n"
    trailer = {
        "/Size": size, "/Root": doc.trailer.get("/Root"),
        "/Encrypt": ("ref", enc_num), "/ID": [file_id, file_id],
    }
    out += (
        b"trailer\n" + _ser_value(trailer)
        + b"\nstartxref\n%d\n%%%%EOF\n" % xref_at
    )
    return bytes(out)

def pdf_encrypt_aes256(
    data: bytes, user_pw: str = "", owner_pw: str = "owner", r: int = 6
) -> bytes:
    """Fixture writer: re-emit a PDF AES-256-encrypted (/V 5 /R 6 by
    default, crypt filter /AESV3, ISO 32000-2) with an empty user
    password. Salts, file key and IVs are deterministic (fixtures must
    be reproducible; decryption reads the IV from the stream). r=5
    writes the deprecated bare-SHA-256 Adobe variant."""
    import hashlib

    from .aes import aes_cbc_encrypt, aes_cbc_encrypt_nopad, aes_encrypt_block

    doc = PdfDocument(data)
    upw = user_pw.encode("utf-8")
    opw = owner_pw.encode("utf-8")
    file_key = hashlib.sha256(b"fixture-file-key" + data[:64]).digest()
    u_vs, u_ks = b"UVALSALT", b"UKEYSALT"
    o_vs, o_ks = b"OVALSALT", b"OKEYSALT"
    u_entry = _r6_hash(upw, u_vs, b"", r) + u_vs + u_ks
    ue = aes_cbc_encrypt_nopad(file_key, _r6_hash(upw, u_ks, b"", r), b"\x00" * 16)
    o_entry = _r6_hash(opw, o_vs, u_entry, r) + o_vs + o_ks
    oe = aes_cbc_encrypt_nopad(
        file_key, _r6_hash(opw, o_ks, u_entry, r), b"\x00" * 16
    )
    p = -4
    perms_clear = (
        (p & 0xFFFFFFFF).to_bytes(4, "little")
        + b"\xff\xff\xff\xff" + b"T" + b"adb" + b"fix!"
    )
    perms = aes_encrypt_block(perms_clear, file_key)

    nums = sorted(doc.objects)
    enc_num = max(nums) + 1
    out = bytearray(b"%PDF-2.0\n")
    offsets: dict[int, int] = {}
    for num in nums:
        obj = doc.objects[num]
        offsets[num] = len(out)
        if num in doc.streams:
            iv = hashlib.md5(b"iv256-%d" % num).digest()[:16]
            enc = aes_cbc_encrypt(doc.streams[num], file_key, iv)
            if isinstance(obj, dict):
                obj = {**obj, "/Length": len(enc)}
            out += b"%d 0 obj\n" % num + _ser_value(obj)
            out += b"\nstream\n" + enc + b"\nendstream"
        else:
            out += b"%d 0 obj\n" % num + _ser_value(obj)
        out += b"\nendobj\n"
    enc_dict = {
        "/Filter": "/Standard", "/V": 5, "/R": r, "/Length": 256,
        "/CF": {"/StdCF": {"/CFM": "/AESV3", "/AuthEvent": "/DocOpen",
                           "/Length": 32}},
        "/StmF": "/StdCF", "/StrF": "/StdCF",
        "/O": o_entry, "/U": u_entry, "/OE": oe, "/UE": ue,
        "/P": p, "/Perms": perms,
    }
    offsets[enc_num] = len(out)
    out += b"%d 0 obj\n" % enc_num + _ser_value(enc_dict) + b"\nendobj\n"

    size = enc_num + 1
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for num in range(1, size):
        if num in offsets:
            out += b"%010d 00000 n \n" % offsets[num]
        else:
            out += b"0000000000 65535 f \n"
    file_id = hashlib.md5(data).digest()
    trailer = {
        "/Size": size, "/Root": doc.trailer.get("/Root"),
        "/Encrypt": ("ref", enc_num), "/ID": [file_id, file_id],
    }
    out += (
        b"trailer\n" + _ser_value(trailer)
        + b"\nstartxref\n%d\n%%%%EOF\n" % xref_at
    )
    return bytes(out)


# -- ToUnicode CMaps (composite / Type0 fonts) --------------------------------

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_RE = re.compile(rb"<([0-9a-fA-F]+)>")
_HEX_OR_ARR_RE = re.compile(rb"<([0-9a-fA-F]+)>|\[((?:\s*<[0-9a-fA-F]+>)+)\s*\]")


def _utf16be(hexs: bytes) -> str:
    return bytes.fromhex(hexs.decode("ascii")).decode("utf-16-be")


def _parse_tounicode(cmap: bytes) -> dict[int, str]:
    """Parse a /ToUnicode CMap stream (PDF 32000-1 §9.10.3): bfchar
    pairs and bfrange triples (both the dst-start and dst-array forms)
    -> {CID: unicode string}. Sections other than bf* are ignored."""
    out: dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(cmap):
        hexes = _HEX_RE.findall(m.group(1))
        for src, dst in zip(hexes[0::2], hexes[1::2]):
            out[int(src, 16)] = _utf16be(dst)
    for m in _BFRANGE_RE.finditer(cmap):
        body = m.group(1)
        toks: list = []
        for t in _HEX_OR_ARR_RE.finditer(body):
            toks.append(t.group(1) if t.group(1) is not None else t.group(2))
        for lo_h, hi_h, dst in zip(toks[0::3], toks[1::3], toks[2::3]):
            lo, hi = int(lo_h, 16), int(hi_h, 16)
            if hi < lo or hi - lo > 0xFFFF:
                raise ValueError("bad bfrange bounds")
            if b"<" not in dst:
                # dst-start hex form: decode as UTF-16BE code units and
                # increment only the FINAL code unit (PDF 32000-1
                # §9.10.3) — a multi-unit dst such as a surrogate pair
                # <D835DC00> must not be read as one giant scalar.
                h = dst.decode("ascii")
                if len(h) % 4:  # pad odd/short runs to unit width
                    h = h.zfill(((len(h) + 3) // 4) * 4)
                units = [int(h[j : j + 4], 16) for j in range(0, len(h), 4)]
                for i in range(hi - lo + 1):
                    last = units[-1] + i
                    if last > 0xFFFF:
                        raise ValueError("bfrange dst overflows code unit")
                    seq = units[:-1] + [last]
                    out[lo + i] = b"".join(
                        u.to_bytes(2, "big") for u in seq
                    ).decode("utf-16-be")
            else:
                # array form: one dst string per code
                for i, d in enumerate(_HEX_RE.findall(dst)):
                    if lo + i <= hi:
                        out[lo + i] = _utf16be(d)
    return out


def _cid_decoder(cmap: dict[int, str]):
    """bytes -> str through 2-byte big-endian CIDs (Identity-H, the
    encoding every modern generator uses for Unicode text). Unmapped
    CIDs decode to '' — the same silent-drop PIL-style leniency the
    latin-1 simple-font path gets for free."""

    def dec(raw: bytes) -> str:
        if len(raw) % 2:
            raw = raw[:-1]
        return "".join(
            cmap.get((raw[i] << 8) | raw[i + 1], "") for i in range(0, len(raw), 2)
        )

    return dec


# -- writer (fixtures / oracle side) -----------------------------------------


def _esc(s: str) -> bytes:
    out = s.encode("latin-1", errors="replace")
    return out.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def pdf_encode(
    pages: list[list[tuple[float, float, float, str]]],
    compress: bool = True,
    stream_filter: str | None = None,
) -> bytes:
    """pages = [[(x, y, font_size, text), ...], ...] -> PDF bytes.

    Deterministic; one Helvetica font; each span becomes Tf/Td/Tj inside
    one BT/ET block. `compress=True` Flate-encodes the content streams
    (the common case real parsers must handle); `stream_filter` picks a
    specific filter instead ('none'|'flate'|'lzw'|'ahx'|'a85'|'rl',
    overriding `compress`) so every /Filter path is round-trippable."""
    objs: list[bytes] = []  # 1-indexed

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_ids: list[int] = []
    content_ids: list[int] = []
    for spans in pages:
        parts = [b"BT"]
        for x, y, size, text in spans:
            # Tm (absolute line matrix), not Td (relative): each span is
            # positioned independently at its (x, y)
            parts.append(
                b"/F1 %.2f Tf 1 0 0 1 %.2f %.2f Tm (%s) Tj"
                % (size, x, y, _esc(text))
            )
        parts.append(b"ET")
        stream = b"\n".join(parts)
        if stream_filter is not None:
            stream, filt = _stream_encode(stream, stream_filter)
        elif compress:
            stream, filt = _stream_encode(stream, "flate")
        else:
            filt = b""
        content_ids.append(
            add(
                b"<< /Length %d%s >>\nstream\n" % (len(stream), filt)
                + stream
                + b"\nendstream"
            )
        )
    pages_id = len(objs) + len(pages) + 1  # forward ref: pages node after pages
    for cid in content_ids:
        page_ids.append(
            add(
                b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
                % (pages_id, font, cid)
            )
        )
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    real_pages_id = add(
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_ids))
    )
    assert real_pages_id == pages_id
    catalog = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, catalog, xref_at)
    )
    return bytes(out)


def pdf_encode_type0(
    pages: list[list[tuple[float, float, float, str]]],
    embed_cmap_font: bool = False,
) -> bytes:
    """Fixture writer: same page model as pdf_encode but text is shown
    through a Type0 (Identity-H) composite font with a /ToUnicode CMap
    — the layout every modern generator emits for Unicode (Vietnamese)
    text. CIDs are assigned in codepoint order (1..N); runs of >=3
    consecutive codepoints are emitted as bfrange (dst-start form), the
    rest as bfchar, so BOTH CMap section forms occur in real fixtures;
    content strings are 2-byte-CID hex strings.

    embed_cmap_font=True writes the OTHER real-world layout: NO
    /ToUnicode, but an embedded /FontFile2 whose TrueType cmap maps
    codepoint->gid(=cid) — text is only recoverable by inverting the
    font cmap (page_fonts' fallback path)."""
    charset = sorted({c for spans in pages for (_x, _y, _s, txt) in spans for c in txt})
    cid_of = {c: i + 1 for i, c in enumerate(charset)}

    # split into runs of consecutive codepoints (cids are consecutive by
    # construction, so a codepoint run is a legal dst-start bfrange)
    runs: list[list[str]] = []
    for c in charset:
        if runs and ord(c) == ord(runs[-1][-1]) + 1:
            runs[-1].append(c)
        else:
            runs.append([c])
    bfranges = [r for r in runs if len(r) >= 3]
    bfchars = [c for r in runs if len(r) < 3 for c in r]
    sections = []
    if bfchars:
        rows = "\n".join(f"<{cid_of[c]:04x}> <{ord(c):04x}>" for c in bfchars)
        sections.append(f"{len(bfchars)} beginbfchar\n{rows}\nendbfchar")
    if bfranges:
        rows = "\n".join(
            f"<{cid_of[r[0]]:04x}> <{cid_of[r[-1]]:04x}> <{ord(r[0]):04x}>"
            for r in bfranges
        )
        sections.append(f"{len(bfranges)} beginbfrange\n{rows}\nendbfrange")
    cmap = (
        "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        + "\n".join(sections)
        + "\nendcmap\nend\nend"
    ).encode("ascii")

    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    if embed_cmap_font:
        from .truetype import ttf_encode_cmap

        ttf = ttf_encode_cmap({ord(c): cid for c, cid in cid_of.items()})
        fontfile = add(
            b"<< /Length %d /Length1 %d >>\nstream\n" % (len(ttf), len(ttf))
            + ttf + b"\nendstream"
        )
        fdesc = add(
            b"<< /Type /FontDescriptor /FontName /Fixture /Flags 4 "
            b"/FontFile2 %d 0 R >>" % fontfile
        )
        desc = add(
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fixture "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> /FontDescriptor %d 0 R >>" % fdesc
        )
        font = add(
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture "
            b"/Encoding /Identity-H /DescendantFonts [%d 0 R] >>" % desc
        )
    else:
        tounicode = add(
            b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream"
        )
        desc = add(
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fixture "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> >>"
        )
        font = add(
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture "
            b"/Encoding /Identity-H /DescendantFonts [%d 0 R] "
            b"/ToUnicode %d 0 R >>" % (desc, tounicode)
        )
    content_ids = []
    for spans in pages:
        parts = [b"BT"]
        for x, y, size, text in spans:
            hexs = "".join(f"{cid_of[c]:04x}" for c in text).encode("ascii")
            parts.append(
                b"/F1 %.2f Tf 1 0 0 1 %.2f %.2f Tm <%s> Tj"
                % (size, x, y, hexs)
            )
        parts.append(b"ET")
        stream = zlib.compress(b"\n".join(parts), 6)
        content_ids.append(
            add(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(stream)
                + stream
                + b"\nendstream"
            )
        )
    pages_id = len(objs) + len(pages) + 1
    page_ids = []
    for cid in content_ids:
        page_ids.append(
            add(
                b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
                % (pages_id, font, cid)
            )
        )
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    real_pages_id = add(
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_ids))
    )
    assert real_pages_id == pages_id
    catalog = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, catalog, xref_at)
    )
    return bytes(out)


def pdf_encode_15(
    pages: list[list[tuple[float, float, float, str]]]
) -> bytes:
    """PDF 1.5-style writer: every non-stream object (font, page dicts,
    pages node, catalog) packed into a Flate /ObjStm, with a /Type /XRef
    cross-reference STREAM instead of a classic trailer — the layout
    every modern generator emits, and exactly the shape the parser's
    ObjStm expansion + xref-stream trailer fallback exist for."""
    n_pages = len(pages)
    content_ids = list(range(1, n_pages + 1))
    objstm_id = n_pages + 1
    font_id = n_pages + 2
    page_ids = [n_pages + 3 + i for i in range(n_pages)]
    pages_id = n_pages + 3 + n_pages
    catalog_id = pages_id + 1
    xref_id = catalog_id + 1

    contents = []
    for spans in pages:
        parts = [b"BT"]
        for x, y, size, text in spans:
            parts.append(
                b"/F1 %.2f Tf 1 0 0 1 %.2f %.2f Tm (%s) Tj"
                % (size, x, y, _esc(text))
            )
        parts.append(b"ET")
        contents.append(zlib.compress(b"\n".join(parts), 6))

    packed: list[tuple[int, bytes]] = [
        (font_id, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    ]
    for pid, cid in zip(page_ids, content_ids):
        packed.append(
            (pid,
             b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
             b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
             % (pages_id, font_id, cid))
        )
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    packed.append(
        (pages_id, b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n_pages))
    )
    packed.append((catalog_id, b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id))

    offsets_in_stm = []
    body = bytearray()
    for _num, objbytes in packed:
        offsets_in_stm.append(len(body))
        body += objbytes + b" "
    header = " ".join(
        f"{num} {off}" for (num, _), off in zip(packed, offsets_in_stm)
    ).encode("ascii") + b" "
    stm_payload = zlib.compress(bytes(header) + bytes(body), 6)

    out = bytearray(b"%PDF-1.5\n")
    file_offsets: dict[int, int] = {}
    for cid, stream in zip(content_ids, contents):
        file_offsets[cid] = len(out)
        out += (
            b"%d 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n"
            % (cid, len(stream))
            + stream
            + b"\nendstream\nendobj\n"
        )
    file_offsets[objstm_id] = len(out)
    out += (
        b"%d 0 obj\n<< /Type /ObjStm /N %d /First %d /Length %d "
        b"/Filter /FlateDecode >>\nstream\n"
        % (objstm_id, len(packed), len(header), len(stm_payload))
        + stm_payload
        + b"\nendstream\nendobj\n"
    )
    # /Type /XRef stream: W=[1,2,1]; type-1 entries for top-level objects,
    # type-2 (objstm, index) for packed ones
    size = xref_id + 1
    rows = bytearray()
    for num in range(size):
        if num == 0:
            rows += bytes([0]) + (0).to_bytes(2, "big") + bytes([255])
        elif num in file_offsets:
            rows += bytes([1]) + file_offsets[num].to_bytes(2, "big") + bytes([0])
        elif num == xref_id:
            rows += bytes([1]) + (0).to_bytes(2, "big") + bytes([0])  # patched
        else:
            idx = next(i for i, (n2, _) in enumerate(packed) if n2 == num)
            rows += bytes([2]) + objstm_id.to_bytes(2, "big") + bytes([idx])
    xref_at = len(out)
    rows[xref_id * 4 + 1 : xref_id * 4 + 3] = xref_at.to_bytes(2, "big")
    xdata = zlib.compress(bytes(rows), 6)
    out += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 2 1] /Root %d 0 R "
        b"/Length %d /Filter /FlateDecode >>\nstream\n"
        % (xref_id, size, catalog_id, len(xdata))
        + xdata
        + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


# -- tokenizer / object parser ------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b", re.S)


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d = self.data
        while self.pos < len(d):
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment
                nl = d.find(b"\n", self.pos)
                self.pos = len(d) if nl < 0 else nl + 1
            else:
                break

    def peek_raw(self, n: int) -> bytes:
        self._skip_ws()
        return self.data[self.pos : self.pos + n]

    def value(self):
        """Parse one object value at the cursor."""
        self._skip_ws()
        d, p = self.data, self.pos
        if p >= len(d):
            raise ValueError("unexpected end of PDF data")
        c = d[p]
        if d[p : p + 2] == b"<<":
            return self._dict()
        if c == 0x3C:  # <hex string>
            return self._hex_string()
        if c == 0x28:  # (literal string)
            return self._literal_string()
        if c == 0x2F:  # /Name
            return self._name()
        if c == 0x5B:  # [array]
            self.pos += 1
            arr = []
            while True:
                self._skip_ws()
                if self.data[self.pos : self.pos + 1] == b"]":
                    self.pos += 1
                    return arr
                arr.append(self.value())
        m = _NUM_RE.match(d, p)
        if m:
            # could be "N G R" indirect reference
            self.pos = m.end()
            rest = self.data[self.pos :]
            m2 = re.match(rb"\s+(\d+)\s+R\b", rest)
            if m2 and b"." not in m.group(0):
                self.pos += m2.end()
                return ("ref", int(m.group(0)), int(m2.group(1)))
            txt = m.group(0)
            return float(txt) if b"." in txt else int(txt)
        for kw, val in ((b"true", True), (b"false", False), (b"null", None)):
            if d[p : p + len(kw)] == kw:
                self.pos = p + len(kw)
                return val
        raise ValueError(f"bad PDF token at offset {p}: {d[p:p+16]!r}")

    def _name(self) -> str:
        d = self.data
        p = self.pos + 1
        out = bytearray()
        while p < len(d) and d[p] not in _WS and d[p] not in _DELIM:
            if d[p] == 0x23 and p + 2 < len(d):  # #xx escape
                out.append(int(d[p + 1 : p + 3], 16))
                p += 3
            else:
                out.append(d[p])
                p += 1
        self.pos = p
        return "/" + out.decode("latin-1")

    def _dict(self) -> dict:
        self.pos += 2
        out: dict = {}
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self.value()
            if not isinstance(key, str) or not key.startswith("/"):
                raise ValueError("dictionary key must be a name")
            out[key] = self.value()

    def _hex_string(self) -> bytes:
        end = self.data.find(b">", self.pos)
        if end < 0:
            raise ValueError("unterminated hex string")
        hexed = re.sub(rb"\s", b"", self.data[self.pos + 1 : end])
        if len(hexed) % 2:
            hexed += b"0"
        self.pos = end + 1
        return bytes.fromhex(hexed.decode("ascii"))

    def _literal_string(self) -> bytes:
        d = self.data
        p = self.pos + 1
        depth = 1
        out = bytearray()
        while p < len(d):
            c = d[p]
            if c == 0x5C:  # backslash
                nxt = d[p + 1 : p + 2]
                esc = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
                       b"f": b"\x0c", b"(": b"(", b")": b")", b"\\": b"\\"}
                if nxt in esc:
                    out += esc[nxt]
                    p += 2
                elif nxt.isdigit():  # octal, 1-3 digits
                    m = re.match(rb"\\([0-7]{1,3})", d[p:])
                    out.append(int(m.group(1), 8) & 0xFF)
                    p += m.end()
                elif nxt in (b"\n", b"\r"):  # line continuation
                    p += 2
                else:
                    p += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                p += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos = p + 1
                    return bytes(out)
                out.append(c)
                p += 1
            else:
                out.append(c)
                p += 1
        raise ValueError("unterminated literal string")


class PdfDocument:
    """Parsed object store + page-tree resolution."""

    def __init__(self, data: bytes) -> None:
        if not data.startswith(b"%PDF-"):
            raise ValueError("not a PDF")
        self.data = data
        self.objects: dict[int, object] = {}
        self.streams: dict[int, bytes] = {}
        self._enc_key: bytes | None = None
        self._enc_num: int | None = None
        self._enc_aes = False
        self._enc_v5 = False
        self._scan_objects()
        self.trailer = self._trailer()
        self._setup_encryption()  # before ObjStm expansion: packed
        self._expand_object_streams()  # objects live in encrypted streams

    def _setup_encryption(self) -> None:
        """RC4 standard security handler with an empty user password —
        the common owner-password-only crawl case. Anything else
        (AES/V4+, a real user password) quarantines."""
        enc_ref = self.trailer.get("/Encrypt") if isinstance(self.trailer, dict) else None
        if enc_ref is None:
            return
        if isinstance(enc_ref, tuple) and enc_ref and enc_ref[0] == "ref":
            self._enc_num = enc_ref[1]
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            raise ValueError("malformed /Encrypt dictionary")
        v = int(enc.get("/V", 0) or 0)
        r = int(enc.get("/R", 2) or 2)
        if enc.get("/Filter") != "/Standard":
            raise ValueError("unsupported PDF security handler")
        if v == 5 and r in (5, 6):
            # PDF 2.0 (ISO 32000-2): AES-256 via /AESV3, SHA-2 password
            # hashing (Algorithm 2.B for R6), same file key for every
            # object (no per-object derivation)
            cf = self.resolve(enc.get("/CF"))
            stdcf = self.resolve(cf.get("/StdCF")) if isinstance(cf, dict) else None
            cfm = stdcf.get("/CFM") if isinstance(stdcf, dict) else None
            if cfm != "/AESV3":
                raise ValueError(f"unsupported PDF encryption (V=5 CFM={cfm})")
            self._setup_encryption_v5(enc, r)
            return
        if v == 4 and r == 4:
            # crypt-filter form: AES-128 (/AESV2) only
            cf = self.resolve(enc.get("/CF"))
            stdcf = self.resolve(cf.get("/StdCF")) if isinstance(cf, dict) else None
            cfm = stdcf.get("/CFM") if isinstance(stdcf, dict) else None
            if cfm != "/AESV2":
                raise ValueError(f"unsupported PDF encryption (V=4 CFM={cfm})")
            self._enc_aes = True
            n = 16
        elif v in (1, 2) and r in (2, 3):
            n = int(enc.get("/Length", 40) or 40) // 8
        else:
            raise ValueError(f"unsupported PDF encryption (V={v} R={r})")
        o_entry = enc.get("/O")
        u_entry = enc.get("/U")
        p = int(enc.get("/P", -1) or -1)
        if not isinstance(o_entry, bytes) or not isinstance(u_entry, bytes):
            raise ValueError("malformed /Encrypt O/U entries")
        ids = self.resolve(self.trailer.get("/ID"))
        file_id = ids[0] if isinstance(ids, list) and ids and isinstance(ids[0], bytes) else b""
        key = _std_key(b"", o_entry, p, file_id, r, n)
        want_u = _std_user_entry(key, file_id, r)
        got, want = (u_entry[:16], want_u[:16]) if r >= 3 else (u_entry[:32], want_u[:32])
        if got != want:
            raise ValueError("encrypted PDF requires a user password")
        self._enc_key = key

    def _setup_encryption_v5(self, enc: dict, r: int) -> None:
        """Algorithms 2.A/2.B (ISO 32000-2 §7.6.4.3-4): authenticate the
        EMPTY user password (or the empty owner password) against /U
        (/O) and unwrap the 256-bit file key from /UE (/OE). Files with
        a real password quarantine, same contract as the RC4 path."""
        from .aes import aes_cbc_decrypt_nopad, aes_decrypt_block

        u, o = enc.get("/U"), enc.get("/O")
        ue, oe = enc.get("/UE"), enc.get("/OE")
        if not (isinstance(u, bytes) and len(u) >= 48) or not isinstance(
            ue, bytes
        ) or len(ue) != 32:
            raise ValueError("malformed /Encrypt U/UE entries")
        u_hash, u_vs, u_ks = u[:32], u[32:40], u[40:48]
        if _r6_hash(b"", u_vs, b"", r) == u_hash:
            inter = _r6_hash(b"", u_ks, b"", r)
            key = aes_cbc_decrypt_nopad(ue, inter, b"\x00" * 16)
        elif isinstance(o, bytes) and len(o) >= 48 and isinstance(oe, bytes) \
                and len(oe) == 32 \
                and _r6_hash(b"", o[32:40], u[:48], r) == o[:32]:
            inter = _r6_hash(b"", o[40:48], u[:48], r)
            key = aes_cbc_decrypt_nopad(oe, inter, b"\x00" * 16)
        else:
            raise ValueError("encrypted PDF requires a user password")
        perms = enc.get("/Perms")
        if isinstance(perms, bytes) and len(perms) == 16:
            if aes_decrypt_block(perms, key)[9:12] != b"adb":
                raise ValueError("bad /Perms (wrong key or corrupt)")
        self._enc_aes = True
        self._enc_v5 = True
        self._enc_key = key

    def _scan_objects(self) -> None:
        """Sequential scan for `N G obj` (robust to mild xref damage —
        the same recovery path real readers use)."""
        for m in _OBJ_RE.finditer(self.data):
            num = int(m.group(1))
            lex = _Lexer(self.data, m.end())
            try:
                val = lex.value()
            except ValueError:
                continue
            if lex.peek_raw(6) == b"stream":
                lex.pos += 6
                # EOL after 'stream' keyword: CRLF or LF
                if self.data[lex.pos : lex.pos + 2] == b"\r\n":
                    lex.pos += 2
                elif self.data[lex.pos : lex.pos + 1] == b"\n":
                    lex.pos += 1
                length = val.get("/Length") if isinstance(val, dict) else None
                if isinstance(length, tuple):  # indirect length: resolve later
                    raw_end = self.data.find(b"endstream", lex.pos)
                    raw = self.data[lex.pos : raw_end].rstrip(b"\r\n")
                else:
                    raw = self.data[lex.pos : lex.pos + int(length or 0)]
                self.streams[num] = raw
            self.objects[num] = val

    def _expand_object_streams(self) -> None:
        """PDF 1.5+ packs most non-stream objects into compressed
        /Type /ObjStm streams (the sequential `N G obj` scan cannot see
        them). Expand each: the decompressed stream starts with N
        (objnum, offset) integer pairs, then the objects themselves at
        /First + offset. Direct top-level objects win on conflict."""
        for num, obj in list(self.objects.items()):
            if not (isinstance(obj, dict) and obj.get("/Type") == "/ObjStm"):
                continue
            payload = self.stream_bytes(num)
            n = int(self.resolve(obj.get("/N")) or 0)
            first = int(self.resolve(obj.get("/First")) or 0)
            head = _Lexer(payload)
            pairs = [(head.value(), head.value()) for _ in range(n)]
            for onum, off in pairs:
                onum = int(onum)
                if onum in self.objects:
                    continue  # a direct top-level definition wins
                self.objects[onum] = _Lexer(payload, first + int(off)).value()

    def _trailer(self) -> dict:
        idx = self.data.rfind(b"trailer")
        if idx >= 0:
            return _Lexer(self.data, idx + 7).value()
        # PDF 1.5+ cross-reference STREAM: the trailer dict lives on the
        # /Type /XRef stream object (we never need its index — objects
        # come from the sequential scan + ObjStm expansion — only /Root)
        for obj in self.objects.values():
            if isinstance(obj, dict) and obj.get("/Type") == "/XRef":
                return obj
        raise ValueError("no trailer (classic or xref-stream) found")

    def resolve(self, v):
        hops = 0
        while isinstance(v, tuple) and v and v[0] == "ref":
            v = self.objects.get(v[1])
            hops += 1
            if hops > 1000:  # ref->ref cycles must quarantine, not hang
                raise ValueError("indirect reference cycle")
        return v

    def stream_raw(self, num: int) -> bytes:
        """Length-trimmed, DEcrypted, still-filtered stream bytes (what
        the image path needs for DCTDecode payloads — they are complete
        JPEG containers)."""
        obj = self.objects[num]
        raw = self.streams.get(num, b"")
        if not isinstance(obj, dict):
            raise ValueError("stream object without dictionary")
        length = self.resolve(obj.get("/Length"))
        if isinstance(length, (int, float)):
            raw = raw[: int(length)] if len(raw) > int(length) else raw
        if (
            self._enc_key is not None
            and num != self._enc_num
            and obj.get("/Type") != "/XRef"
        ):  # the encrypt dict and xref streams are never encrypted
            if self._enc_aes:  # /AESV2, or /AESV3 under /V 5
                from .aes import aes_cbc_decrypt

                key = (self._enc_key if self._enc_v5
                       else _obj_aes_key(self._enc_key, num))
                raw = aes_cbc_decrypt(raw, key)
            else:
                raw = _rc4(_obj_rc4_key(self._enc_key, num), raw)
        return raw

    @staticmethod
    def _apply_filter(f: str, raw: bytes, budget: int = MAX_STREAM_BYTES) -> bytes:
        if f == "/FlateDecode":
            return inflate(raw, budget)
        if f == "/LZWDecode":
            # PDF LZW (32000-1 §7.4.4) IS the TIFF 6.0 variant:
            # MSB-first codes, early width change (EarlyChange=1)
            from .tiff import _lzw_decode

            out = _lzw_decode(raw, budget + 1)
            _check_budget("LZW", len(out), budget)
            return out
        if f == "/ASCIIHexDecode":
            return _asciihex_decode(raw)
        if f == "/ASCII85Decode":
            return _ascii85_decode(raw, budget)
        if f == "/RunLengthDecode":
            return _runlength_decode(raw, budget)
        raise ValueError(f"unsupported stream filter {f}")

    def _stream_filters(self, num: int) -> list:
        """[(filter_name, decode_parms_dict_or_None), ...] — DecodeParms
        may be one dict (single filter) or an array parallel to a
        /Filter array (PDF 32000-1 §7.4.1)."""
        obj = self.objects[num]
        filt = self.resolve(obj.get("/Filter")) if isinstance(obj, dict) else None
        filters = filt if isinstance(filt, list) else ([filt] if filt else [])
        parms = self.resolve(obj.get("/DecodeParms")) if isinstance(obj, dict) else None
        if isinstance(parms, list):
            plist = parms
        elif parms is not None and len(filters) > 1:
            # Single parms dict + filter array (malformed but seen in
            # the wild): per §7.4.1 intent the parms belong to the final
            # (data) filter only — replicating them would run the
            # predictor after EVERY stage and corrupt the bytes.
            plist = [None] * (len(filters) - 1) + [parms]
        else:
            plist = [parms] * len(filters)
        out = []
        for f, p in zip(filters, plist + [None] * (len(filters) - len(plist))):
            p = self.resolve(p)
            p = p if isinstance(p, dict) else None
            if p is not None and int(p.get("/EarlyChange", 1)) != 1:
                raise ValueError("unsupported LZW EarlyChange=0")
            out.append((f, p))
        return out

    def stream_bytes(self, num: int, budget: int = MAX_STREAM_BYTES) -> bytes:
        raw = self.stream_raw(num)
        for f, parms in self._stream_filters(num):
            raw = self._apply_filter(f, raw, budget)
            if parms is not None:
                raw = _apply_predictor(raw, parms)
        return raw

    def page_fonts(self, page_num: int) -> dict:
        """Resource-name -> bytes->str decoder map for a page's
        composite (Type0) fonts. Simple fonts are omitted (latin-1
        fallback in _page_spans). A Type0 font WITHOUT a /ToUnicode
        CMap falls back to inverting the embedded /FontFile2 TrueType
        cmap (under Identity-H the CIDs are glyph ids — the
        pdfminer/MuPDF recovery); with neither, it quarantines."""
        node = self.resolve(self.objects.get(page_num))
        out: dict = {}
        if not isinstance(node, dict):
            return out
        res = self.resolve(node.get("/Resources"))
        fonts = self.resolve(res.get("/Font")) if isinstance(res, dict) else None
        if not isinstance(fonts, dict):
            return out
        for name, ref in fonts.items():
            fd = self.resolve(ref)
            if not (isinstance(fd, dict) and fd.get("/Subtype") == "/Type0"):
                continue
            tu = fd.get("/ToUnicode")
            if isinstance(tu, tuple) and tu and tu[0] == "ref":
                out[name] = _cid_decoder(
                    _parse_tounicode(self.stream_bytes(tu[1]))
                )
                continue
            out[name] = self._fontfile_decoder(fd)
        return out

    def _fontfile_decoder(self, fd: dict):
        """No /ToUnicode: invert the embedded TrueType cmap. Only valid
        under Identity-H/V, where content-stream CIDs ARE glyph ids."""
        from .truetype import gid_to_unicode

        if fd.get("/Encoding") not in ("/Identity-H", "/Identity-V"):
            raise ValueError("Type0 font without /ToUnicode CMap")
        desc = self.resolve(fd.get("/DescendantFonts"))
        d0 = self.resolve(desc[0]) if isinstance(desc, list) and desc else None
        fdesc = self.resolve(d0.get("/FontDescriptor")) if isinstance(d0, dict) else None
        ff = fdesc.get("/FontFile2") if isinstance(fdesc, dict) else None
        if not (isinstance(ff, tuple) and ff and ff[0] == "ref"):
            raise ValueError("Type0 font without /ToUnicode CMap")
        return _cid_decoder(gid_to_unicode(self.stream_bytes(ff[1])))

    def pages(self) -> list[int]:
        """Page object numbers in document order (depth-first /Kids)."""
        root = self.resolve(self.trailer.get("/Root"))
        if not isinstance(root, dict):
            raise ValueError("missing /Root catalog")
        out: list[int] = []
        visited: set[int] = set()  # /Kids cycles must quarantine

        def walk(ref) -> None:
            if isinstance(ref, tuple) and len(ref) > 1:
                if ref[1] in visited:
                    raise ValueError("page tree cycle")
                visited.add(ref[1])
            node = self.resolve(ref)
            if not isinstance(node, dict):
                return
            if node.get("/Type") == "/Page":
                out.append(ref[1] if isinstance(ref, tuple) else -1)
                return
            for kid in self.resolve(node.get("/Kids")) or []:
                walk(kid)

        walk(root.get("/Pages"))
        return out

    def page_content(self, page_num: int) -> bytes:
        page = self.objects[page_num]
        contents = self.resolve(page.get("/Contents"))
        refs = contents if isinstance(contents, list) else [page.get("/Contents")]
        parts = []
        for r in refs:
            rr = r if isinstance(r, tuple) else None
            if rr is None:
                continue
            parts.append(self.stream_bytes(rr[1]))
        return b"\n".join(parts)


# -- content-stream text interpreter -----------------------------------------

_OP_RE = re.compile(
    rb"\(|\<(?![<])|\[|/[^\s()<>\[\]{}/%]*|[+-]?(?:\d+\.?\d*|\.\d+)|[A-Za-z'\"*]+"
)


def _page_spans(content: bytes, fonts: dict | None = None) -> list[dict]:
    """Interpret BT/ET text blocks: returns [{x, y, size, text}, ...].

    Tracks Td/TD/Tm/T* line matrices and the current font size; TJ
    array elements concatenate (kerning numbers ignored for text
    purposes). Coordinates are the text-line origin in device space.
    `fonts` maps a resource name selected by Tf ("/F1") to a
    bytes->str decoder (Type0/ToUnicode composite fonts); names absent
    from the map decode latin-1 (simple fonts)."""
    spans: list[dict] = []
    lex = _Lexer(content)
    stack: list = []
    x = y = 0.0
    leading = 0.0
    size = 0.0
    in_text = False
    cur_font: str | None = None

    def _dec(raw: bytes) -> str:
        d = fonts.get(cur_font) if fonts else None
        return d(raw) if d else raw.decode("latin-1")
    while True:
        lex._skip_ws()
        if lex.pos >= len(content):
            break
        c = content[lex.pos]
        if c in b"([</+-.0123456789" or (c == 0x3C):
            stack.append(lex.value())
            continue
        m = _OP_RE.match(content, lex.pos)
        if not m:
            lex.pos += 1
            continue
        op = m.group(0)
        lex.pos = m.end()
        if op == b"BT":
            in_text, x, y = True, 0.0, 0.0
            stack.clear()
        elif op == b"ET":
            in_text = False
            stack.clear()
        elif not in_text:
            stack.clear()
        elif op == b"Tf":
            size = float(stack[-1]) if stack else 0.0
            if len(stack) >= 2 and isinstance(stack[-2], str):
                cur_font = stack[-2]
            stack.clear()
        elif op in (b"Td", b"TD"):
            if len(stack) >= 2:
                x += float(stack[-2])
                y += float(stack[-1])
                if op == b"TD":
                    leading = -float(stack[-1])
            stack.clear()
        elif op == b"Tm":
            if len(stack) >= 6:
                x, y = float(stack[-2]), float(stack[-1])
            stack.clear()
        elif op == b"TL":
            leading = float(stack[-1]) if stack else leading
            stack.clear()
        elif op == b"T*":
            y -= leading if leading else size * 1.2
            stack.clear()
        elif op in (b"Tj", b"'"):
            if op == b"'":
                y -= leading if leading else size * 1.2
            if stack and isinstance(stack[-1], bytes):
                spans.append(
                    {"x": x, "y": y, "size": size, "text": _dec(stack[-1])}
                )
            stack.clear()
        elif op == b"TJ":
            if stack and isinstance(stack[-1], list):
                text = "".join(
                    _dec(el) for el in stack[-1] if isinstance(el, bytes)
                )
                spans.append({"x": x, "y": y, "size": size, "text": text})
            stack.clear()
        else:
            stack.clear()
    return spans


def pdf_extract_spans(data: bytes) -> list[dict]:
    """PDF bytes -> [{page, x, y, size, text}, ...] in emission order."""
    doc = PdfDocument(data)
    out: list[dict] = []
    for pno, pnum in enumerate(doc.pages()):
        fonts = doc.page_fonts(pnum)
        for s in _page_spans(doc.page_content(pnum), fonts):
            out.append({"page": pno, **s})
    return out


def pdf_lines(data: bytes, y_tol: float = 2.0) -> list[dict]:
    """Layout parse: group spans into LINES by y-proximity per page, order
    top-to-bottom then left-to-right — the reading-order reconstruction
    text PDFs need (emission order is arbitrary in real files). Returns
    [{page, line_no, y, text}, ...]."""
    spans = pdf_extract_spans(data)
    out: list[dict] = []
    for page in sorted({s["page"] for s in spans}):
        rows = [s for s in spans if s["page"] == page]
        rows.sort(key=lambda s: (-s["y"], s["x"]))
        lines: list[list[dict]] = []
        for s in rows:
            if lines and abs(lines[-1][0]["y"] - s["y"]) <= y_tol:
                lines[-1].append(s)
            else:
                lines.append([s])
        for i, ln in enumerate(lines):
            ln.sort(key=lambda s: s["x"])
            out.append(
                {
                    "page": page,
                    "line_no": i,
                    "y": round(ln[0]["y"], 2),
                    "text": " ".join(s["text"] for s in ln),
                }
            )
    return out


def pdf_main_text(data: bytes) -> str:
    """Whole-document reading-order text (lines joined with newlines)."""
    return "\n".join(line["text"] for line in pdf_lines(data))


# -- image XObjects (scanned-document PDFs) -----------------------------------


def pdf_page_images(data: bytes) -> list[dict]:
    """Extract /Subtype /Image XObjects per page -> [{page, name,
    payload}] where payload is a decodable image container:

      * /DCTDecode streams ARE complete JPEG files (PDF 32000-1
        §7.4.8) — passed through verbatim for functions/jpeg.py;
      * Flate/LZW/raw 8-bit /DeviceGray and /DeviceRGB bitmaps are
        re-encoded as PNG so every payload speaks the one
        `decode_image` ingestion contract.

    This is the scanned-document path: a page with no text operators
    and one big image is a scan, and its payload routes through the
    SAME OCR stage as any other media span. Unsupported image forms
    (CCITT/JBIG2/JPX, 1/4-bit, indexed) raise -> callers quarantine.
    Deterministic order: pages in document order, names sorted."""
    doc = PdfDocument(data)
    out: list[dict] = []
    for pno, pnum in enumerate(doc.pages()):
        node = doc.resolve(doc.objects.get(pnum))
        res = doc.resolve(node.get("/Resources")) if isinstance(node, dict) else None
        xo = doc.resolve(res.get("/XObject")) if isinstance(res, dict) else None
        if not isinstance(xo, dict):
            continue
        for name in sorted(xo):
            ref = xo[name]
            if not (isinstance(ref, tuple) and ref and ref[0] == "ref"):
                continue
            num = ref[1]
            d = doc.resolve(ref)
            if not (isinstance(d, dict) and d.get("/Subtype") == "/Image"):
                continue
            filters = doc._stream_filters(num)
            if filters and filters[-1][0] == "/DCTDecode":
                raw = doc.stream_raw(num)
                for f, parms in filters[:-1]:  # e.g. ASCII85-wrapped JPEG
                    raw = doc._apply_filter(f, raw)
                    if parms is not None:
                        raw = _apply_predictor(raw, parms)
                payload = raw
            else:
                w = int(doc.resolve(d.get("/Width")) or 0)
                h = int(doc.resolve(d.get("/Height")) or 0)
                bpc = int(doc.resolve(d.get("/BitsPerComponent")) or 8)
                cs = doc.resolve(d.get("/ColorSpace"))
                if bpc != 8 or w <= 0 or h <= 0:
                    raise ValueError(f"unsupported image XObject ({bpc}-bit)")
                if cs not in ("/DeviceRGB", "/DeviceGray"):
                    raise ValueError(f"unsupported image colorspace {cs}")
                check_pixels(w, h, "PDF image")
                import numpy as np

                from .imaging import png_encode

                shape = (h, w, 3) if cs == "/DeviceRGB" else (h, w)
                n = int(np.prod(shape))
                # the declared bitmap plus one PNG-predictor tag per row
                body = doc.stream_bytes(num, n + h)
                if len(body) < n:
                    raise ValueError("truncated image XObject")
                arr = np.frombuffer(body[:n], np.uint8).reshape(shape)
                payload = png_encode(arr.copy())
            out.append({"page": pno, "name": name, "payload": payload})
    return out


def pdf_encode_scanned(
    page_images: list, quality: int = 90, colorspace: str = "gray",
    raw_flate: bool = False,
) -> bytes:
    """Fixture writer: each uint8 HxW (gray) array becomes one page
    containing a single image XObject — the scanned-document layout.
    Default embeds a /DCTDecode (JPEG) stream, the near-universal scan
    encoding; `raw_flate=True` embeds the Flate-compressed raw bitmap
    instead (the other common form)."""
    import numpy as np

    objs: list[bytes] = []
    streams: dict[int, bytes] = {}

    def add(body: bytes, stream: bytes | None = None) -> int:
        objs.append(body)
        if stream is not None:
            streams[len(objs)] = stream
        return len(objs)

    image_ids = []
    content_ids = []
    for arr in page_images:
        if not (isinstance(arr, np.ndarray) and arr.dtype == np.uint8 and arr.ndim == 2):
            raise ValueError("pdf_encode_scanned expects uint8 HxW arrays")
        h, w = arr.shape
        if raw_flate:
            payload = zlib.compress(arr.tobytes(), 6)
            filt = b"/FlateDecode"
        else:
            from .jpeg import jpeg_encode

            payload = jpeg_encode(arr, quality=quality)
            filt = b"/DCTDecode"
        image_ids.append(
            add(
                b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter %s "
                b"/Length %d >>" % (w, h, filt, len(payload)),
                payload,
            )
        )
        content = b"q %d 0 0 %d 72 %d cm /Im1 Do Q" % (w, h, 720 - h)
        content_ids.append(
            add(b"<< /Length %d >>" % len(content), content)
        )
    pages_id = len(objs) + len(page_images) + 1
    page_ids = []
    for img_id, cid in zip(image_ids, content_ids):
        page_ids.append(
            add(
                b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /XObject << /Im1 %d 0 R >> >> /Contents %d 0 R >>"
                % (pages_id, img_id, cid)
            )
        )
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    real = add(b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_ids)))
    assert real == pages_id
    catalog = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body
        if i in streams:
            out += b"\nstream\n" + streams[i] + b"\nendstream"
        out += b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, catalog, xref_at)
    )
    return bytes(out)
