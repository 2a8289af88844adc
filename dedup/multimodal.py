"""Multimodal columns: opaque binary payloads + typed metadata, processed by
Arrow-batched UDFs over mapInPandas.

Images are fully real in this sandbox (pure-numpy codecs in imaging.py):
decode, resize, feature-extract (pHash + mean-color). Audio is real for
WAV/PCM payloads (stdlib `wave` — no third-party codec needed): decode to
mono float32, then RMS / zero-crossing features. Video is real for raw-DIB
AVI payloads (RIFF container walked with stdlib struct: uncompressed BGR24
frames -> RGB, evenly-spaced frame sampling). COMPRESSED audio (mp3/ogg)
and compressed video need codec libraries that are NOT in this container,
so those kernels are STUBS behind a deterministic fake (seeded from the
payload hash) with the Spark-side plumbing — schema, partitioning, UDF
signature, Arrow batch shape — real and tested. Swap `_decode_audio_stub` /
`_sample_frames_stub` for soundfile/PyAV on a production cluster; nothing
else changes."""

from __future__ import annotations

import hashlib
import io
import wave

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from . import imaging

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.IntegerType()),
    ]
)

VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_phash", T.LongType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("phash", T.LongType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("thumb_w", T.IntegerType()),
        T.StructField("thumb_h", T.IntegerType()),
    ]
)


# ------------------------------------------------------------------ images


def image_features(images: DataFrame, thumb: int = 8) -> DataFrame:
    """Decode -> resize(thumb) -> feature-extract, one Arrow batch at a time.
    REAL implementation (numpy codecs); the template for all media kernels."""

    def run(batches):
        for pdf in batches:
            rows = []
            for iid, data, fmt, w, h in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"]
            ):
                px = imaging.decode_image(data, fmt, w, h)
                small = imaging._area_resize(imaging._to_gray(px), thumb)
                rows.append(
                    {
                        "image_id": iid,
                        "phash": imaging.phash_to_signed64(imaging.phash64(px)),
                        "mean_r": float(px[:, :, 0].mean()),
                        "mean_g": float(px[:, :, 1].mean()),
                        "mean_b": float(px[:, :, 2].mean()),
                        "thumb_w": small.shape[1],
                        "thumb_h": small.shape[0],
                    }
                )
            yield pd.DataFrame(rows)

    return images.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


# ------------------------------------------------------------------- audio


def encode_wav(samples: np.ndarray, rate: int = 16000, sampwidth: int = 2) -> bytes:
    """Synthesize a RIFF/WAVE payload from float samples in [-1, 1] — the
    audio analog of imaging's PNG emitter, so tests/synth can produce REAL
    decodable bytes with only the stdlib. Mono or (n, channels) input."""
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    full = float(2 ** (8 * sampwidth - 1))
    if sampwidth == 1:  # 8-bit WAV is unsigned, biased at 128
        pcm = np.clip(np.rint(x * 127.0 + 128.0), 0, 255).astype("<u1")
    elif sampwidth == 2:
        pcm = np.clip(np.rint(x * (full - 1)), -full, full - 1).astype("<i2")
    elif sampwidth == 4:
        pcm = np.clip(np.rint(x * (full - 1)), -full, full - 1).astype("<i4")
    else:
        raise ValueError(f"unsupported sampwidth {sampwidth}")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(x.shape[1])
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> np.ndarray:
    """REAL decoder for RIFF/WAVE PCM payloads — stdlib `wave` + numpy, no
    third-party codec. Handles 8/16/32-bit PCM, any channel count; returns
    mono float32 in [-1, 1] (channels averaged)."""
    with wave.open(io.BytesIO(data), "rb") as w:
        nch, sampwidth, nframes = w.getnchannels(), w.getsampwidth(), w.getnframes()
        raw = w.readframes(nframes)
    if sampwidth == 1:
        x = np.frombuffer(raw, dtype="<u1").astype(np.float32)
        x = (x - 128.0) / 128.0
    elif sampwidth == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif sampwidth == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise ValueError(f"unsupported PCM sample width {sampwidth}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x.astype(np.float32)


def _decode_audio_stub(data: bytes, n_samples: int = 4096) -> np.ndarray:
    """STUB for COMPRESSED audio only (no mp3/ogg codecs in this container).
    Deterministic fake: PCM synthesized from the payload's sha256 so the
    distributed plumbing is exercised end-to-end with stable outputs.
    Production: replace body with `soundfile.read(io.BytesIO(data))`."""
    seed = int.from_bytes(hashlib.sha256(data).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.standard_normal(n_samples).astype(np.float32)


def decode_audio(data: bytes) -> np.ndarray:
    """Route: RIFF/WAVE magic -> real PCM decode; anything else -> the
    declared compressed-format stub."""
    if len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return decode_wav(data)
    return _decode_audio_stub(data)


def audio_features(media: DataFrame, id_col: str = "media_id", bytes_col: str = "bytes") -> DataFrame:
    def run(batches):
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf[id_col], pdf[bytes_col]):
                pcm = decode_audio(bytes(data))
                rows.append(
                    {
                        "media_id": mid,
                        "n_samples": int(pcm.size),
                        "rms": float(np.sqrt((pcm.astype(np.float64) ** 2).mean())),
                        "zero_crossings": int((np.diff(np.signbit(pcm)) != 0).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


# ------------------------------------------------------------------- video


def encode_avi_raw(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """Synthesize a RIFF/AVI payload with UNCOMPRESSED BGR24 DIB frames
    ('00db' chunks) — the video analog of encode_wav: real decodable bytes
    from stdlib struct + numpy only. All frames must share one (h, w, 3)
    uint8 shape. Raw AVI is the one video container expressible without a
    codec; compressed formats stay behind the declared stub."""
    import struct

    fr = [np.ascontiguousarray(np.asarray(f, dtype=np.uint8)) for f in frames]
    if not fr:
        raise ValueError("encode_avi_raw needs at least one frame")
    h, w = fr[0].shape[:2]
    if any(f.shape != (h, w, 3) for f in fr):
        raise ValueError("all frames must share one (h, w, 3) uint8 shape")
    row = (w * 3 + 3) & ~3  # DIB rows pad to 4 bytes

    def dib(f: np.ndarray) -> bytes:
        bgr = f[::-1, :, ::-1]  # bottom-up row order, BGR channel order
        buf = np.zeros((h, row), dtype=np.uint8)
        buf[:, : w * 3] = bgr.reshape(h, w * 3)
        return buf.tobytes()

    def ck(fourcc: bytes, payload: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(payload)) + payload + (b"\x00" if len(payload) & 1 else b"")

    def lst(kind: bytes, payload: bytes) -> bytes:
        return ck(b"LIST", kind + payload)

    frame_bytes = h * row
    avih = struct.pack(
        "<14I", 1_000_000 // fps, frame_bytes * fps, 0, 0x10, len(fr), 0, 1,
        frame_bytes, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H", b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0,
        len(fr), frame_bytes, 0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", ck(b"avih", avih) + lst(b"strl", ck(b"strh", strh) + ck(b"strf", strf)))
    movi = lst(b"movi", b"".join(ck(b"00db", dib(f)) for f in fr))
    return ck(b"RIFF", b"AVI " + hdrl + movi)


def decode_avi_frames(data: bytes) -> list[np.ndarray]:
    """REAL decoder for raw-DIB AVI payloads: walks the RIFF chunk tree,
    reads the stream's BITMAPINFOHEADER (24-bit, BI_RGB only), and decodes
    every '..db'/'..dc' movi chunk to an (h, w, 3) uint8 RGB frame."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    dims: list[tuple[int, int, int]] = []
    frames: list[np.ndarray] = []
    # fccType of the most recent strh chunk: an AVI may list its audio
    # stream first, and an audio strf is a WAVEFORMATEX, not a
    # BITMAPINFOHEADER — only the strf following a 'vids' strh may be
    # parsed as the video format (ADVICE r05: the first-strf-in-file-order
    # assumption misparsed audio-first files as "unsupported pixel format")
    cur_stream: list[bytes] = [b""]

    def walk(buf: bytes, pos: int, end: int) -> None:
        while pos + 8 <= end:
            fourcc, size = buf[pos : pos + 4], struct.unpack("<I", buf[pos + 4 : pos + 8])[0]
            body0, body1 = pos + 8, pos + 8 + size
            if fourcc == b"LIST":
                walk(buf, body0 + 4, body1)
                # a strh binds only the strf of its own strl: a stray strf
                # after the LIST closes must not inherit the last stream type
                cur_stream[0] = b""
            elif fourcc == b"strh":
                cur_stream[0] = buf[body0 : body0 + 4]
            elif fourcc == b"strf" and cur_stream[0] == b"vids" and not dims:
                w, h = struct.unpack("<ii", buf[body0 + 4 : body0 + 12])
                bits, comp = struct.unpack("<HI", buf[body0 + 14 : body0 + 20])
                if bits != 24 or comp != 0:
                    raise ValueError(f"unsupported AVI pixel format (bits={bits}, compression={comp})")
                dims.append((w, abs(h), h))
            elif fourcc[2:4] in (b"db", b"dc") and dims:
                w, h, raw_h = dims[0]
                row = (w * 3 + 3) & ~3
                px = np.frombuffer(buf[body0:body1], dtype=np.uint8)[: h * row].reshape(h, row)
                bgr = px[:, : w * 3].reshape(h, w, 3)
                if raw_h > 0:  # positive biHeight = bottom-up rows
                    bgr = bgr[::-1]
                frames.append(np.ascontiguousarray(bgr[:, :, ::-1]))  # BGR -> RGB
            pos = body1 + (size & 1)

    walk(data, 12, len(data))
    if not dims:
        raise ValueError("AVI payload has no stream format header")
    return frames


def _sample_frames_stub(data: bytes, n_frames: int, size: int = 32) -> list[np.ndarray]:
    """STUB for COMPRESSED video only (no PyAV/opencv/ffmpeg in this
    container). Deterministic fake frames seeded from the payload hash +
    frame index. Production: replace body with PyAV keyframe sampling."""
    out = []
    base = hashlib.sha256(data).digest()
    for i in range(n_frames):
        seed = int.from_bytes(hashlib.sha256(base + i.to_bytes(4, "big")).digest()[:8], "big")
        rng = np.random.default_rng(seed)
        out.append(rng.integers(0, 256, size=(size, size, 3), dtype=np.uint8))
    return out


def sample_frames(data: bytes, n_frames: int) -> list[np.ndarray]:
    """Route: RIFF/AVI magic -> real raw-DIB decode with evenly-spaced frame
    sampling (first/last always included); anything else -> the declared
    compressed-format stub."""
    if len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        frames = decode_avi_frames(data)
        if len(frames) <= n_frames:
            return frames
        idx = np.linspace(0, len(frames) - 1, n_frames).round().astype(int)
        return [frames[i] for i in idx]
    return _sample_frames_stub(data, n_frames)


def video_frame_phashes(
    media: DataFrame, n_frames: int = 3, id_col: str = "media_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Frame-sample -> per-frame pHash (the video dedup signature source)."""

    def run(batches):
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf[id_col], pdf[bytes_col]):
                for i, frame in enumerate(sample_frames(bytes(data), n_frames)):
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": i,
                            "frame_phash": imaging.phash_to_signed64(imaging.phash64(frame)),
                        }
                    )
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, VIDEO_FRAMES_SCHEMA)
