"""Quarantine-contract fuzz: every decoder either succeeds or raises
ValueError-family errors the stages catch — never hangs, never escapes
with something uncatchable. At 10^12 docs every byte pattern WILL occur;
the pipeline's quarantine path (decode_ok=False) depends on decoders
failing fast and cleanly."""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vietnamese_ocr_spark.functions.audio import wav_decode
from vietnamese_ocr_spark.functions.gifbmp import bmp_decode, gif_decode
from vietnamese_ocr_spark.functions.imaging import decode_image, png_decode
from vietnamese_ocr_spark.functions.jpeg import jpeg_decode
from vietnamese_ocr_spark.functions.pdf import pdf_lines
from vietnamese_ocr_spark.functions.pnmico import ico_decode, pnm_decode
from vietnamese_ocr_spark.functions.tiff import tiff_decode
from vietnamese_ocr_spark.functions.webp import webp_decode

_CAUGHT = (ValueError, KeyError, IndexError, OverflowError, TypeError,
           ZeroDivisionError, MemoryError)

_SETTINGS = dict(max_examples=40, deadline=None,
                 suppress_health_check=[HealthCheck.too_slow])


@given(st.binary(min_size=0, max_size=400))
@settings(**_SETTINGS)
def test_random_bytes_never_escape(data):
    for dec in (decode_image, png_decode, jpeg_decode, wav_decode, pdf_lines,
                bmp_decode, gif_decode, tiff_decode, pnm_decode, ico_decode,
                webp_decode):
        try:
            dec(data)
        except _CAUGHT:
            pass
        except Exception as ex:  # zlib.error etc. subclass Exception; fine
            assert isinstance(ex, Exception), type(ex)


@given(st.data())
@settings(**_SETTINGS)
def test_truncated_valid_streams_fail_cleanly(data):
    """Prefixes of VALID streams (the realistic corruption: a cut-off
    upload) must raise cleanly or decode — never hang or segfault-class
    fail."""
    from vietnamese_ocr_spark.functions.imaging import png_encode
    from vietnamese_ocr_spark.functions.jpeg import jpeg_encode
    from vietnamese_ocr_spark.functions.pdf import pdf_encode

    rng = np.random.default_rng(data.draw(st.integers(0, 2**16)))
    img = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    from vietnamese_ocr_spark.functions.gifbmp import bmp_encode, gif_encode
    from vietnamese_ocr_spark.functions.imaging import (
        png_encode_16,
        png_encode_interlaced,
    )
    from vietnamese_ocr_spark.functions.tiff import tiff_encode

    streams = [
        png_encode(img),
        png_encode_interlaced(img, filter_type=3),
        png_encode_16(img.astype(np.uint16) << 8),
        jpeg_encode(img, 80),
        jpeg_encode(img, 80, progressive=True),
        pdf_encode([[(72, 700, 10, "short fuzz doc")]]),
        bmp_encode(img),
        gif_encode(img, interlace=True),
        tiff_encode(img, compression="lzw", predictor=True),
        __import__("vietnamese_ocr_spark.functions.pnmico", fromlist=["x"]).pnm_encode(img),
        __import__("vietnamese_ocr_spark.functions.pnmico", fromlist=["x"]).ico_encode(img),
        __import__("vietnamese_ocr_spark.functions.webp", fromlist=["x"]).webp_encode(img, subtract_green=True),
    ]
    blob = streams[data.draw(st.integers(0, len(streams) - 1))]
    cut = data.draw(st.integers(0, len(blob) - 1))
    for dec in (decode_image, pdf_lines):
        try:
            dec(blob[:cut])
        except Exception as ex:
            assert isinstance(ex, Exception), type(ex)


@given(st.data())
@settings(**_SETTINGS)
def test_bitflipped_streams_fail_cleanly_or_decode(data):
    from vietnamese_ocr_spark.functions.jpeg import jpeg_encode

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (16, 24), dtype=np.uint8)
    blob = bytearray(jpeg_encode(img, 80, progressive=True))
    pos = data.draw(st.integers(0, len(blob) - 1))
    bit = data.draw(st.integers(0, 7))
    blob[pos] ^= 1 << bit
    try:
        out = jpeg_decode(bytes(blob))
        assert out.dtype == np.uint8
    except Exception as ex:
        assert isinstance(ex, Exception), type(ex)


def test_pdf_ref_and_page_tree_cycles_quarantine():
    """Round-6 (verdict item 4): crafted cycles — ref->ref loops and a
    /Kids self-reference — must raise, never hang."""
    import pytest

    from vietnamese_ocr_spark.functions.pdf import pdf_lines

    cyc = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n3 0 R\nendobj\n"
        b"3 0 obj\n2 0 R\nendobj\n"
        b"trailer\n<< /Size 4 /Root 1 0 R >>\n"
    )
    with pytest.raises(ValueError, match="reference cycle"):
        pdf_lines(cyc)
    kidcyc = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [2 0 R] /Count 1 >>\nendobj\n"
        b"trailer\n<< /Size 3 /Root 1 0 R >>\n"
    )
    with pytest.raises(ValueError, match="page tree cycle"):
        pdf_lines(kidcyc)


def _pdf_layout_streams():
    from vietnamese_ocr_spark.functions.pdf import (
        pdf_encode,
        pdf_encode_15,
        pdf_encode_type0,
        pdf_encrypt_aes,
        pdf_encrypt_aes256,
        pdf_encrypt_rc4,
    )

    pages = [[(72.0, 700.0, 10.0, "fuzz doc line")]]
    base = pdf_encode(pages, compress=True)
    return [
        pdf_encode(pages, compress=False),
        base,
        pdf_encode_15(pages),
        pdf_encode_type0(pages),
        pdf_encode_type0(pages, embed_cmap_font=True),
        pdf_encrypt_rc4(base),
        pdf_encrypt_aes(base),
        pdf_encrypt_aes256(base),
    ]


@given(st.data())
@settings(max_examples=24, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_pdf_layouts_truncated_and_corrupted_fail_cleanly(data):
    """Round-6 (verdict item 4): every PDF layout — classic/objstm/
    Type0(+FontFile2)/RC4/AES-128/AES-256 — under truncation and byte
    corruption either parses or raises a catchable error; never hangs
    or escapes."""
    from vietnamese_ocr_spark.functions.pdf import pdf_lines

    streams = _pdf_layout_streams()
    blob = bytearray(streams[data.draw(st.integers(0, len(streams) - 1))])
    if data.draw(st.booleans()):
        blob = blob[: data.draw(st.integers(0, len(blob) - 1))]
    else:
        for _ in range(data.draw(st.integers(1, 4))):
            pos = data.draw(st.integers(0, len(blob) - 1))
            blob[pos] = data.draw(st.integers(0, 255))
    try:
        pdf_lines(bytes(blob))
    except Exception as ex:
        assert isinstance(ex, Exception), type(ex)


@given(st.data())
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_aes_streams_corrupted_fail_cleanly(data):
    """Corrupt AES-CBC ciphertext (any key size) either decrypts to
    garbage-with-valid-padding or raises ValueError — never escapes."""
    import numpy as np

    from vietnamese_ocr_spark.functions.aes import (
        aes_cbc_decrypt,
        aes_cbc_decrypt_nopad,
        aes_cbc_encrypt,
    )

    rng = np.random.default_rng(data.draw(st.integers(0, 2**16)))
    key = bytes(rng.integers(0, 256, data.draw(st.sampled_from([16, 24, 32])),
                             dtype=np.uint8))
    blob = bytearray(aes_cbc_encrypt(b"x" * 100, key, bytes(16)))
    pos = data.draw(st.integers(0, len(blob) - 1))
    blob[pos] ^= 1 << data.draw(st.integers(0, 7))
    cut = data.draw(st.integers(0, len(blob)))
    for payload in (bytes(blob), bytes(blob[:cut])):
        try:
            aes_cbc_decrypt(payload, key)
        except ValueError:
            pass
        try:
            aes_cbc_decrypt_nopad(payload, key, bytes(16))
        except ValueError:
            pass


# -- hostile payloads: bounded decode ----------------------------------------
# Decompression bombs and absurd declared dimensions must quarantine as
# corrupt payloads without growing the worker: the codecs check the pixel
# cap before allocating and inflate no more than the declared size
# (functions/budget.py). Memory is measured as VmHWM growth per fixture
# in a fresh interpreter, after warm-up decodes of one valid payload per
# path, resetting the high-water mark before each fixture.


def _zlib_zero_bomb(mib: int) -> bytes:
    """A valid zlib stream inflating to `mib` MiB of zero bytes. Built in
    O(1 MiB): after a full flush deflate forgets its history, so the
    compressed MiB repeats verbatim; the trailer carries the real
    adler32."""
    import struct
    import zlib

    zeros = bytes(1 << 20)
    c = zlib.compressobj(9)
    head = c.compress(zeros) + c.flush(zlib.Z_FULL_FLUSH)
    chunk = c.compress(zeros) + c.flush(zlib.Z_FULL_FLUSH)
    tail = c.flush()[:-4]
    adler = 1
    for _ in range(mib):
        adler = zlib.adler32(zeros, adler)
    return head + chunk * (mib - 1) + tail + struct.pack(">I", adler)


def _lzw_zero_bomb(tables: int, msb_first: bool) -> bytes:
    """LZW codes inflating to zero bytes, ~7 MiB per table: after CLEAR,
    code 0 and then every next-free code (the KwKwK case, each one zero
    longer than the last) until the 12-bit table is full. TIFF packs
    codes MSB-first with the early width change, GIF LSB-first with the
    deferred one."""
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code if msb_first else acc | (code << nbits)
        nbits += width
        while nbits >= 8:
            nbits -= 8
            if msb_first:
                out.append((acc >> nbits) & 0xFF)
                acc &= (1 << nbits) - 1
            else:
                out.append(acc & 0xFF)
                acc >>= 8

    early = 1 if msb_first else 0
    width = 9
    for _ in range(tables):
        put(256, width)  # CLEAR
        width = 9
        put(0, width)
        size = 258
        while size < 4094:
            put(size, width)
            size += 1
            if size == (1 << width) - early and width < 12:
                width += 1
    put(256, width)
    put(257, 9)  # EOI
    put(0, 7)  # flush the last partial byte
    return bytes(out)


def _png(width: int, height: int, idat: bytes) -> bytes:
    import struct

    from vietnamese_ocr_spark.functions.imaging import _PNG_SIG, _png_chunk

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", idat)
            + _png_chunk(b"IEND", b""))


def _tiff_lzw_gray(width: int, height: int, strip: bytes) -> bytes:
    """One-strip little-endian LZW gray TIFF."""
    import struct

    tags = [(256, 4, width), (257, 4, height), (258, 3, 8), (259, 3, 5),
            (262, 3, 1), (273, 4, 8), (277, 3, 1), (278, 4, height),
            (279, 4, len(strip))]
    ifd = struct.pack("<H", len(tags)) + b"".join(
        struct.pack("<HHII", t, typ, 1, v) for t, typ, v in tags) + b"\0" * 4
    return b"II*\x00" + struct.pack("<I", 8 + len(strip)) + strip + ifd


def _gif_gray(width: int, height: int, lzw: bytes) -> bytes:
    import struct

    pal = bytes(b for i in range(256) for b in (i, i, i))
    blocks = b"".join(bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
                      for i in range(0, len(lzw), 255))
    return (b"GIF89a" + struct.pack("<HHBBB", width, height, 0xF7, 0, 0) + pal
            + b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
            + b"\x08" + blocks + b"\x00\x3b")


def _bmp_header_only(width: int, height: int) -> bytes:
    import struct

    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 8, 0, 0, 2835, 2835, 0, 0)
    return struct.pack("<2sIHHI", b"BM", 54 + 1024, 0, 0, 54 + 1024) + dib + bytes(1024)


def _pdf(objs: list[bytes], streams: dict[int, bytes]) -> bytes:
    """Objects 1..n (1 = catalog) with the given stream payloads."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body
        if i in streams:
            out += b"\nstream\n" + streams[i] + b"\nendstream"
        out += b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref)
    return bytes(out)


def _pdf_content_bomb(bomb: bytes, filt: bytes = b"/FlateDecode") -> bytes:
    return _pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << >> /Contents 4 0 R >>",
        b"<< /Length %d /Filter %s >>" % (len(bomb), filt),
    ], {4: bomb})


def _runlength_zero_bomb(mib: int) -> bytes:
    """A RunLength stream decoding to `mib` MiB of zero bytes: every
    two-byte run (257 - 0x81 = 128 copies) expands 64x."""
    return b"\x81\x00" * (mib << 13) + b"\x80"


def _ascii85_zero_bomb(mib: int, wrap: int = 0) -> bytes:
    """An ASCII85 stream decoding to `mib` MiB of zero bytes: each 'z'
    stands for four. Unwrapped, as pdf._ascii85_encode writes zeros; or in
    lines of `wrap` characters, so the decoder fills up to its budget."""
    if not wrap:
        return b"z" * (mib << 18) + b"~>"
    return (b"z" * wrap + b"\n") * ((mib << 18) // wrap) + b"~>"


def _pdf_image_bomb(width: int, height: int, bomb: bytes) -> bytes:
    content = b"q %d 0 0 %d 72 600 cm /Im1 Do Q" % (width, height)
    return _pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /XObject << /Im1 5 0 R >> >> /Contents 4 0 R >>",
        b"<< /Length %d >>" % len(content),
        b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /FlateDecode "
        b"/Length %d >>" % (width, height, len(bomb)),
    ], {4: content, 5: bomb})


def _jpeg_dht_flood(tables: int) -> bytes:
    """SOI, `tables` DHT segments each holding a distinct one-code table
    (a 1-bit code for symbol i, spread over the 8 legal class/destination
    slots), then EOI: no frame, so it quarantines, but every table is
    parsed and built on the way."""
    import struct

    out = bytearray(b"\xff\xd8")
    for i in range(tables):
        body = bytes([(i & 4) << 2 | (i & 3), 1] + [0] * 15 + [i & 0xFF])
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    return bytes(out + b"\xff\xd9")


_HOSTILE_PROBE = r"""
import json, pickle, sys
import numpy as np
from vietnamese_ocr_spark.functions.imaging import png_encode
from vietnamese_ocr_spark.functions.pdf import pdf_encode, pdf_encode_scanned
from vietnamese_ocr_spark.model.pipeline import recognize_png_batch
from vietnamese_ocr_spark.model.recognizer import Recognizer, build_weights
from vietnamese_ocr_spark.operators.pdfops import pdf_line_rows, scanned_ocr_rows

def reset_hwm():  # Linux: "5" resets VmHWM to the current RSS
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")

def hwm_mib():
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024

rec = Recognizer(build_weights())
def run(path, data):
    if path == "image":
        return recognize_png_batch([data], rec)[2] == [False]
    if path == "pdf_text":
        return [r["decode_ok"] for r in pdf_line_rows("a", data)] == [False]
    return [r["rec_text"] for r in scanned_ocr_rows("a", data, rec)] == [None]

with open(sys.argv[1], "rb") as f:
    fixtures = pickle.load(f)
img = np.full((32, 96), 255, np.uint8)
img[8:24, 8:88] = 0
from vietnamese_ocr_spark.functions.gifbmp import bmp_encode, gif_encode
from vietnamese_ocr_spark.functions.jpeg import jpeg_encode
from vietnamese_ocr_spark.functions.tiff import tiff_encode
for warm in (png_encode(img), tiff_encode(img, compression="lzw"), gif_encode(img), bmp_encode(img),
             jpeg_encode(img, 90)):
    assert recognize_png_batch([warm], rec)[2] == [True]
assert pdf_line_rows("w", pdf_encode([[(72, 700, 10, "warm up")]]))[0]["decode_ok"]
assert scanned_ocr_rows("w", pdf_encode_scanned([img], raw_flate=True), rec)[0]["rec_text"] is not None
out = {}
for name, path, data in fixtures:
    reset_hwm()
    base = hwm_mib()
    quarantined = run(path, data)
    out[name] = [quarantined, hwm_mib() - base]
print(json.dumps(out))
"""


def test_bombs_and_absurd_dimensions_quarantine_with_bounded_memory(tmp_path):
    import json
    import os
    import pickle
    import subprocess
    import sys

    from vietnamese_ocr_spark.functions.pdf import MAX_STREAM_BYTES

    bomb = _zlib_zero_bomb(128)
    fixtures = [  # (name, path, payload, allowed VmHWM growth in MiB)
        ("png_bomb", "image", _png(1024, 1024, bomb), 16),
        ("png_absurd_dims", "image", _png(65535, 65535, bomb), 16),
        ("tiff_absurd_dims", "image",
         _tiff_lzw_gray(65535, 65535, _lzw_zero_bomb(18, msb_first=True)), 16),
        ("gif_absurd_dims", "image",
         _gif_gray(65535, 65535, _lzw_zero_bomb(18, msb_first=False)), 16),
        ("bmp_absurd_dims", "image", _bmp_header_only(65535, 65535), 16),
        # distinct Huffman tables are cached per process: the cache's
        # fixed bound, not the payload's table count, caps the growth
        ("jpeg_dht_flood", "image", _jpeg_dht_flood(100), 16),
        ("pdf_flate_image_bomb", "pdf_scan", _pdf_image_bomb(100, 100, bomb), 16),
        # nothing declares a content stream's size: it gets the fixed
        # budget, so a bomb costs at most that much, not its full size
        ("pdf_flate_content_bomb", "pdf_text", _pdf_content_bomb(_zlib_zero_bomb(256)),
         MAX_STREAM_BYTES / 2**20 + 16),
        ("pdf_runlength_content_bomb", "pdf_text",
         _pdf_content_bomb(_runlength_zero_bomb(80), b"/RunLengthDecode"),
         MAX_STREAM_BYTES / 2**20 + 16),
        ("pdf_ascii85_content_bomb", "pdf_text",
         _pdf_content_bomb(_ascii85_zero_bomb(80), b"/ASCII85Decode"),
         MAX_STREAM_BYTES / 2**20 + 16),
        # filled to the budget in 16 KiB steps: the parser's copy of the
        # 20 MiB raw stream and glibc's heap-to-mmap move of the growing
        # buffer (up to its 32 MiB dynamic mmap threshold) come on top
        ("pdf_ascii85_wrapped_content_bomb", "pdf_text",
         _pdf_content_bomb(_ascii85_zero_bomb(80, wrap=4096), b"/ASCII85Decode"),
         MAX_STREAM_BYTES / 2**20 + 20 + 32 + 16),
    ]
    path = tmp_path / "fixtures.pkl"
    with open(path, "wb") as f:
        pickle.dump([(n, p, d) for n, p, d, _ in fixtures], f)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", _HOSTILE_PROBE, str(path)],
                          capture_output=True, text=True, cwd=repo, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    for name, _p, _d, bound_mib in fixtures:
        quarantined, grew_mib = got[name]
        assert quarantined, name
        assert grew_mib < bound_mib, (name, grew_mib)
