"""Multimodal payload operators: image / audio / video as opaque binary.

Large-scale training-data pipelines treat media as `binary` columns with
typed metadata and run decode / feature-extract / resize / frame-sample as
vectorized stages. This container has no cv2/PIL/ffmpeg, so:

  * IMAGE ops are REAL: 8-bit PNG (gray/RGB/palette/alpha, all five
    scanline filters) and baseline JPEG (4:4:4 and 4:2:0), both pure
    NumPy (functions/imaging.py, functions/jpeg.py);
  * AUDIO is REAL for `audio/wav` (RIFF PCM 8/16-bit), `audio/aiff`
    (big-endian PCM) and `audio/basic` (Sun AU: mu-law + linear) —
    all functions/audio.py
    and VIDEO is REAL for `video/mjpeg` (concatenated-JFIF frames decoded
    by functions/jpeg.py, hashed by the DCT perceptual hash). The digest
    STUBS remain, clearly marked, for container formats that need an
    ffmpeg-class demuxer (`audio/pcm-stub`, `video/frames-stub`); unknown
    mimes raise NotImplementedError. A new decoder lands via
    `register_codec(mime, fn, kind)` — stages snapshot the registry into
    their closures, so no stage code changes.

Asset table schema:
  assets(asset_id string, kind string,           -- image|audio|video
         mime string, payload binary,
         width int, height int,                  -- image/video
         sample_rate int, duration_ms int,       -- audio
         n_frames int)                           -- video
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame

from ..functions.imaging import decode_image, png_encode, resize_bilinear
from .arrow_batch import map_rows

ASSETS_DDL = (
    "asset_id string, kind string, mime string, payload binary, "
    "width int, height int, sample_rate int, duration_ms int, n_frames int"
)

IMAGE_FEATURES_DDL = (
    "asset_id string, width int, height int, mean_lum double, ink_ratio double"
)
RESIZED_DDL = "asset_id string, payload binary, width int, height int"
AUDIO_FEATURES_DDL = (
    "asset_id string, n_samples bigint, features array<float>, features_md5 string"
)
FRAME_SAMPLE_DDL = "asset_id string, frame_idx int, phash string"


def _require_mime(mime: str, supported: tuple[str, ...]) -> None:
    if mime not in supported:
        raise NotImplementedError(
            f"codec for {mime!r} is not available in this runtime "
            f"(supported: {supported}); install the real decoder and "
            "extend this stub"
        )


# -- codec registry (the swap-in contract for real audio/video decoders) -----
#
# register_codec(mime, fn) is how a real decoder lands without touching any
# stage: audio codecs are (payload: bytes, n_samples: int) -> float32 PCM,
# video codecs are (payload: bytes, frame_idx: int) -> phash str. Stages
# SNAPSHOT the registry at DataFrame-construction time and ship it inside
# the stage's closure — a worker process never sees the driver's module
# globals, so late registration on the driver must travel by value.

_AUDIO_CODECS: dict[str, object] = {}
_VIDEO_CODECS: dict[str, object] = {}


def register_codec(mime: str, fn, kind: str = "audio") -> None:
    """Register a decoder for `mime`. kind='audio': fn(payload, n_samples)
    -> np.ndarray float32 PCM; kind='video': fn(payload, frame_idx) ->
    phash string. Registrations apply to stages built AFTER the call."""
    if kind == "audio":
        _AUDIO_CODECS[mime] = fn
    elif kind == "video":
        _VIDEO_CODECS[mime] = fn
    else:
        raise ValueError(f"unknown codec kind {kind!r}")


# -- image: REAL ------------------------------------------------------------

def image_stats(img: np.ndarray) -> dict:
    """Per-image stats on a decoded gray array — shared by the Spark stage
    and the single-process golden generator (golden.py), so the driver's
    value-hash comparison checks one code path against itself run twice."""
    return {
        "width": img.shape[1],
        "height": img.shape[0],
        "mean_lum": round(float(img.mean()), 4),
        "ink_ratio": round(float((img < 128).mean()), 4),
    }


def image_features(assets: DataFrame) -> DataFrame:
    """Decode + per-image stats; real PNG path, vectorized per Arrow batch."""

    def rows(asset_id, mime, payload):
        _require_mime(mime, ("image/png", "image/jpeg"))
        return [{"asset_id": asset_id, **image_stats(decode_image(payload))}]

    images = assets.filter("kind = 'image'").select("asset_id", "mime", "payload")
    return map_rows(images, rows, IMAGE_FEATURES_DDL)


def image_resize(assets: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Real decode -> bilinear resize -> re-encode; binary in, binary out."""

    def rows(asset_id, mime, payload):
        _require_mime(mime, ("image/png", "image/jpeg"))
        img = resize_bilinear(decode_image(payload), out_h, out_w)
        return [
            {
                "asset_id": asset_id,
                "payload": png_encode(img),
                "width": out_w,
                "height": out_h,
            }
        ]

    images = assets.filter("kind = 'image'").select("asset_id", "mime", "payload")
    return map_rows(images, rows, RESIZED_DDL)


# -- audio: STUBBED decode, real plumbing ------------------------------------

def _fake_pcm(payload: bytes, n_samples: int) -> np.ndarray:
    """STUB standing in for a PCM decoder: a deterministic pseudo-signal
    seeded from the payload digest. Replace via register_codec(mime, fn)."""
    seed = int.from_bytes(hashlib.md5(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.standard_normal(n_samples).astype(np.float32)


_AUDIO_CODECS["audio/pcm-stub"] = _fake_pcm


def audio_feature_row(
    payload: bytes, sr: int, dur_ms: int, frame: int = 512, decode=_fake_pcm
) -> dict:
    """One asset's framed-RMS feature vector + its canonical digest —
    shared by the Spark stage and the golden generator (golden.py).
    features_md5 hashes the %.6f rendering of each float32 feature, so the
    driver's canonicalizer gets a scalar column instead of an array."""
    n = max(frame, int(int(sr) * int(dur_ms) / 1000))
    pcm = decode(payload, n)
    if len(pcm) < frame:  # a real container may be shorter than the hint
        pcm = np.pad(pcm, (0, frame - len(pcm)))
    n = len(pcm)  # actual decoded length (== hint for the stub codec)
    usable = (len(pcm) // frame) * frame
    frames = pcm[:usable].reshape(-1, frame)
    rms = np.sqrt(np.einsum("nf,nf->n", frames, frames) / frame)
    pooled = np.interp(
        np.linspace(0, 1, 16), np.linspace(0, 1, len(rms)), rms
    ).astype(np.float32)
    digest = hashlib.md5(
        ",".join(f"{v:.6f}" for v in pooled).encode("ascii")
    ).hexdigest()
    return {"n_samples": n, "features": pooled.tolist(), "features_md5": digest}


def audio_features(assets: DataFrame, frame: int = 512) -> DataFrame:
    """Frame-energy feature vector (MFCC-shaped plumbing, stub decode).

    Output: 16 float32 features per asset — framed RMS energies pooled to a
    fixed-length vector, exactly the batch/shape contract a real MFCC
    stage would have — plus the scalar features_md5 digest."""

    codecs = dict(_AUDIO_CODECS)  # snapshot: rides the closure to workers

    def rows(asset_id, mime, payload, sr, dur):
        _require_mime(mime, tuple(codecs))
        return [
            {
                "asset_id": asset_id,
                **audio_feature_row(payload, sr, dur, frame, decode=codecs[mime]),
            }
        ]

    audio = assets.filter("kind = 'audio'").select(
        "asset_id", "mime", "payload", "sample_rate", "duration_ms"
    )
    return map_rows(audio, rows, AUDIO_FEATURES_DDL)


# -- video: STUBBED decode, real plumbing ------------------------------------

def _fake_frame_digest(payload: bytes, frame_idx: int) -> str:
    """STUB standing in for decode+perceptual-hash of one video frame.
    Replace via register_codec(mime, fn, kind='video')."""
    return hashlib.md5(payload + frame_idx.to_bytes(4, "big")).hexdigest()[:16]


_VIDEO_CODECS["video/frames-stub"] = _fake_frame_digest


def video_frame_sample(assets: DataFrame, every_nth: int = 10) -> DataFrame:
    """Sample every Nth frame -> (asset_id, frame_idx, phash) rows.

    One input row explodes to ~n_frames/every_nth output rows — the
    fan-out shape of real frame extraction; phash is the stub digest."""

    codecs = dict(_VIDEO_CODECS)  # snapshot: rides the closure to workers

    def rows(asset_id, mime, payload, n_frames):
        _require_mime(mime, tuple(codecs))
        decode = codecs[mime]
        return [
            {
                "asset_id": asset_id,
                "frame_idx": idx,
                "phash": decode(payload, idx),
            }
            for idx in range(0, int(n_frames), every_nth)
        ]

    videos = assets.filter("kind = 'video'").select("asset_id", "mime", "payload", "n_frames")
    return map_rows(videos, rows, FRAME_SAMPLE_DDL)


# -- decode-coverage stats (round-4): every format the ingest accepts ---------

DECODE_STATS_DDL = (
    "asset_id string, fmt string, decode_ok boolean, "
    "width int, height int, mean_lum double, ink_ratio double"
)


def decode_stats_row(asset_id: str, fmt: str, payload: bytes) -> dict:
    """Decode one payload (PNG any color type, baseline JPEG) to gray and
    report stats; corrupt payloads are quarantined (decode_ok=False),
    never fatal. Shared by the Spark stage and the golden generator."""
    from ..functions.imaging import decode_image

    try:
        img = decode_image(bytes(payload))
    except Exception:
        return {
            "asset_id": asset_id, "fmt": fmt, "decode_ok": False,
            "width": None, "height": None, "mean_lum": None, "ink_ratio": None,
        }
    return {"asset_id": asset_id, "fmt": fmt, "decode_ok": True, **image_stats(img)}


def image_decode_stats(assets: DataFrame) -> DataFrame:
    """(asset_id, fmt, payload) -> per-asset decode outcome + gray stats.

    The scan ships payload bytes into ONE Arrow-batched stage and returns
    scalars only — binaries never enter a shuffle."""

    return map_rows(
        assets.select("asset_id", "fmt", "payload"),
        lambda *row: [decode_stats_row(*row)], DECODE_STATS_DDL,
    )


# -- REAL audio/video decode paths (round-4) ----------------------------------
#
# WAV (RIFF PCM) and MJPEG (concatenated JFIF frames) are fully decodable
# with the engine's own pure-NumPy codecs, so those mimes get REAL default
# registrations; the digest stubs remain only for container formats with
# no decoder in this runtime (mp4/mkv/ogg need ffmpeg-class demuxers).

def _wav_pcm(payload: bytes, n_samples: int) -> np.ndarray:
    """REAL decode: RIFF/WAVE PCM -> mono float32. The n_samples hint is
    ignored — a real container carries its own length."""
    from ..functions.audio import wav_decode

    pcm, _sr = wav_decode(bytes(payload))
    return pcm


def _aiff_pcm(payload: bytes, n_samples: int) -> np.ndarray:
    """REAL decode: AIFF big-endian PCM -> mono float32 (round 6)."""
    from ..functions.audio import aiff_decode

    pcm, _sr = aiff_decode(bytes(payload))
    return pcm


def _au_pcm(payload: bytes, n_samples: int) -> np.ndarray:
    """REAL decode: Sun AU (mu-law / 8- / 16-bit linear) -> mono
    float32 (round 6). audio/basic is AU's registered mime."""
    from ..functions.audio import au_decode

    pcm, _sr = au_decode(bytes(payload))
    return pcm


def mjpeg_frames(payload: bytes) -> list[bytes]:
    """Split a concatenated-JFIF (MJPEG-style) payload into frames. Raw
    FFD9 never occurs inside entropy data (it would be FF00-stuffed), so
    SOI..EOI spans are unambiguous frame boundaries."""
    frames: list[bytes] = []
    pos = 0
    while True:
        s = payload.find(b"\xff\xd8", pos)
        if s < 0:
            break
        e = payload.find(b"\xff\xd9", s)
        if e < 0:
            raise ValueError("truncated MJPEG frame (no EOI)")
        frames.append(payload[s : e + 2])
        pos = e + 2
    if not frames:
        raise ValueError("no JFIF frames in MJPEG payload")
    return frames


def avi_mjpeg_frames(payload: bytes) -> list[bytes]:
    """Demux an AVI (RIFF 'AVI ') container's 'movi' list into its
    '##dc' video chunks — for MJPEG AVIs each chunk is one JFIF frame
    (round 6: a real container demux beside the raw concatenated-JFIF
    form). Non-video chunks ('##wb' audio, 'idx1') are skipped by
    declared size per the RIFF spec."""
    import struct as _struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI file")
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            tag = payload[pos : pos + 4]
            (size,) = _struct.unpack("<I", payload[pos + 4 : pos + 8])
            body_end = pos + 8 + size
            if body_end > end:
                raise ValueError("truncated AVI chunk")
            if tag == b"LIST":
                walk(pos + 12, body_end)  # skip the 4-byte list type
            elif tag[2:4] in (b"dc", b"db") and all(
                c in b"0123456789ABCDEFabcdef" for c in tag[:2]
            ):  # stream ids are two HEX digits (round-7 advice fix:
                # streams >= 0x0A, e.g. '0Adc', were silently skipped)
                frame = payload[pos + 8 : body_end]
                if frame[:2] == b"\xff\xd8":
                    frames.append(frame)
            pos = body_end + (size & 1)

    walk(12, len(payload))
    if not frames:
        raise ValueError("no MJPEG frames in AVI")
    return frames


def avi_encode_mjpeg(jfif_frames: list[bytes]) -> bytes:
    """Fixture: wrap JFIF frames as a minimal MJPEG AVI (hdrl with an
    avih stub + movi list + idx1), the structure real writers emit."""
    import struct as _struct

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + _struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    avih = chunk(b"avih", _struct.pack("<14I", 33333, 0, 0, 0,
                                       len(jfif_frames), 0, 1, 0, 0, 0,
                                       0, 0, 0, 0))
    hdrl = chunk(b"LIST", b"hdrl" + avih)
    movi_body = b"movi" + b"".join(chunk(b"00dc", f) for f in jfif_frames)
    movi = chunk(b"LIST", movi_body)
    idx1 = chunk(b"idx1", b"")
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + _struct.pack("<I", len(body)) + body


def _avi_mjpeg_phash(payload: bytes, frame_idx: int) -> str:
    """REAL decode: frame `frame_idx` of an MJPEG AVI -> perceptual
    hash, through the container demux + the pure-NumPy JPEG decoder."""
    from ..functions.imaging import decode_image, perceptual_hash

    frames = avi_mjpeg_frames(bytes(payload))
    if frame_idx >= len(frames):
        raise ValueError(f"frame {frame_idx} past end ({len(frames)} frames)")
    return perceptual_hash(decode_image(frames[frame_idx]))


def _mjpeg_phash(payload: bytes, frame_idx: int) -> str:
    """REAL decode: frame `frame_idx` of a concatenated-JFIF payload ->
    64-bit DCT perceptual hash (functions/imaging.perceptual_hash)."""
    from ..functions.imaging import decode_image, perceptual_hash

    frames = mjpeg_frames(bytes(payload))
    if frame_idx >= len(frames):
        raise ValueError(f"frame {frame_idx} past end ({len(frames)} frames)")
    return perceptual_hash(decode_image(frames[frame_idx]))


_AUDIO_CODECS["audio/wav"] = _wav_pcm
_AUDIO_CODECS["audio/aiff"] = _aiff_pcm
_AUDIO_CODECS["audio/basic"] = _au_pcm
_VIDEO_CODECS["video/mjpeg"] = _mjpeg_phash
_VIDEO_CODECS["video/x-msvideo"] = _avi_mjpeg_phash
