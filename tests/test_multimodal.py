"""Multimodal plumbing tests: real image kernels; deterministic stubs for
audio/video (codec libs absent in sandbox) with real Spark schema/batching."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedup import imaging, multimodal, synth
from dedup.deploy import ensure_shipped


def test_image_features(spark, synth_parquet):
    ensure_shipped(spark)
    images = spark.read.parquet(synth_parquet).limit(20)
    feats = multimodal.image_features(images).collect()
    assert len(feats) == 20
    stored = {r["image_id"]: r["phash"] for r in images.collect()}
    for r in feats:
        assert r["phash"] == stored[r["image_id"]]  # recompute == stored column
        assert 0.0 <= r["mean_r"] <= 255.0
        assert (r["thumb_w"], r["thumb_h"]) == (8, 8)


def test_wav_roundtrip_widths():
    # encode -> decode is near-identity for every supported PCM width
    t = np.arange(800) / 16000.0
    x = (0.5 * np.sin(2 * np.pi * 440.0 * t)).astype(np.float32)
    for sampwidth, tol in [(1, 1.0 / 120), (2, 1.0 / 30000), (4, 1e-7)]:
        got = multimodal.decode_wav(multimodal.encode_wav(x, sampwidth=sampwidth))
        assert got.dtype == np.float32 and got.shape == x.shape
        assert np.abs(got - x).max() < tol


def test_wav_stereo_downmix():
    left = np.full(100, 0.5, dtype=np.float32)
    right = np.full(100, -0.25, dtype=np.float32)
    data = multimodal.encode_wav(np.stack([left, right], axis=1))
    got = multimodal.decode_wav(data)
    assert got.shape == (100,)
    assert np.allclose(got, 0.125, atol=1e-3)  # channel mean


def test_audio_features_real_wav_golden(spark):
    """Golden values computed by a pure-Python oracle over the REAL decoded
    samples — the codec-backed path, not the hash-seeded stub."""
    ensure_shipped(spark)
    n, rate, freq, amp = 1600, 16000, 440.0, 0.5
    t = np.arange(n) / rate
    sine = (amp * np.sin(2 * np.pi * freq * t)).astype(np.float32)
    data = multimodal.encode_wav(sine, rate=rate, sampwidth=2)

    # independent oracle: python loop over the decoded samples
    dec = multimodal.decode_wav(data)
    exp_rms = (sum(float(v) * float(v) for v in dec) / n) ** 0.5
    exp_zc = sum(
        1 for a, b in zip(dec[:-1], dec[1:]) if (a < 0) != (b < 0)
    )
    assert abs(exp_rms - amp / 2**0.5) < 1e-3  # sanity: sine RMS = amp/sqrt(2)

    df = spark.createDataFrame([("w1", bytearray(data))], "media_id string, bytes binary")
    row = multimodal.audio_features(df).collect()[0]
    assert row["n_samples"] == n
    assert abs(row["rms"] - exp_rms) < 1e-9
    assert row["zero_crossings"] == exp_zc


def test_audio_features_stub(spark):
    ensure_shipped(spark)
    rows = [("m1", b"payload-a"), ("m2", b"payload-b"), ("m3", b"payload-a")]
    df = spark.createDataFrame(rows, "media_id string, bytes binary")
    out = {r["media_id"]: r for r in multimodal.audio_features(df).collect()}
    assert len(out) == 3
    # deterministic: identical payloads -> identical features
    assert out["m1"]["rms"] == out["m3"]["rms"]
    assert out["m1"]["rms"] != out["m2"]["rms"]
    assert all(r["n_samples"] == 4096 for r in out.values())


def test_avi_roundtrip_exact():
    # raw-DIB AVI encode -> decode is pixel-exact, incl. odd widths (row padding)
    rng = np.random.default_rng(7)
    for w in (32, 33):  # 33*3=99 bytes/row -> 1-byte DIB pad exercised
        frames = [rng.integers(0, 256, size=(24, w, 3), dtype=np.uint8) for _ in range(5)]
        got = multimodal.decode_avi_frames(multimodal.encode_avi_raw(frames))
        assert len(got) == 5
        for a, b in zip(frames, got):
            assert a.shape == b.shape and np.array_equal(a, b)


def test_avi_audio_first_stream_and_empty_frames():
    # an AVI whose FIRST stream is audio (strf = WAVEFORMATEX) must still
    # decode the video stream: only the strf following a 'vids' strh is a
    # BITMAPINFOHEADER (ADVICE r05 — first-strf-in-file-order misparse)
    import struct

    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8) for _ in range(2)]
    data = bytearray(multimodal.encode_avi_raw(frames))

    def ck(fourcc, payload):
        return fourcc + struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) & 1 else b"")

    # splice an audio strl LIST ahead of the video one inside hdrl
    auds_strh = ck(b"strh", struct.pack("<4s4s", b"auds", b"\x00\x00\x00\x00") + b"\x00" * 48)
    auds_strf = ck(b"strf", struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16))
    audio_strl = ck(b"LIST", b"strl" + auds_strh + auds_strf)
    i = bytes(data).index(b"LIST", 12, 200)  # hdrl LIST
    j = bytes(data).index(b"strl")  # video strl payload start - 4
    insert_at = j - 8  # before the video strl's enclosing LIST header
    data[insert_at:insert_at] = audio_strl
    # grow the two enclosing sizes (RIFF and hdrl LIST)
    for pos in (4, i + 4):
        (sz,) = struct.unpack("<I", data[pos : pos + 4])
        data[pos : pos + 4] = struct.pack("<I", sz + len(audio_strl))
    got = multimodal.decode_avi_frames(bytes(data))
    assert len(got) == 2
    for a, b in zip(frames, got):
        assert np.array_equal(a, b)

    with pytest.raises(ValueError, match="at least one frame"):
        multimodal.encode_avi_raw([])


def test_avi_stray_strf_outside_its_strl_is_ignored():
    # malformed file: a strl holding only a 'vids' strh, then a stray strf
    # OUTSIDE that strl with an unsupported pixel format. The strh must not
    # carry over past its own strl, so the stray strf is skipped and the
    # real video strl that follows decodes pixel-exact.
    import struct

    rng = np.random.default_rng(12)
    frames = [rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8) for _ in range(2)]
    data = bytearray(multimodal.encode_avi_raw(frames))

    def ck(fourcc, payload):
        return fourcc + struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) & 1 else b"")

    vids_strh = ck(b"strh", struct.pack("<4s4s", b"vids", b"DIB ") + b"\x00" * 48)
    stray_strf = ck(b"strf", struct.pack("<IiiHHIIiiII", 40, 99, 99, 1, 8, 0, 0, 0, 0, 0, 0))
    splice = ck(b"LIST", b"strl" + vids_strh) + stray_strf
    i = bytes(data).index(b"LIST", 12, 200)  # hdrl LIST
    insert_at = bytes(data).index(b"strl") - 8  # the real video strl's LIST header
    data[insert_at:insert_at] = splice
    for pos in (4, i + 4):  # grow RIFF and hdrl LIST sizes
        (sz,) = struct.unpack("<I", data[pos : pos + 4])
        data[pos : pos + 4] = struct.pack("<I", sz + len(splice))
    got = multimodal.decode_avi_frames(bytes(data))
    assert len(got) == 2
    for a, b in zip(frames, got):
        assert np.array_equal(a, b)


def test_sample_frames_even_spacing_and_route():
    frames = [np.full((16, 16, 3), i * 10, dtype=np.uint8) for i in range(9)]
    data = multimodal.encode_avi_raw(frames)
    got = multimodal.sample_frames(data, 3)
    # evenly spaced: first, middle, last of the 9 frames
    assert [int(f[0, 0, 0]) for f in got] == [0, 40, 80]
    # fewer frames than requested: return all, no padding
    short = multimodal.encode_avi_raw(frames[:2])
    assert len(multimodal.sample_frames(short, 5)) == 2
    # non-AVI payload routes to the declared stub (deterministic fake)
    stub = multimodal.sample_frames(b"not-a-riff-payload", 3)
    assert len(stub) == 3 and stub[0].shape == (32, 32, 3)


def test_video_frame_phashes_real_avi_golden(spark):
    """pHashes computed through the Spark kernel on a REAL decoded AVI equal
    the pHashes of the original frames at the sampled indices."""
    ensure_shipped(spark)
    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 256, size=(40, 40, 3), dtype=np.uint8) for _ in range(7)]
    data = multimodal.encode_avi_raw(frames)
    df = spark.createDataFrame([("v1", bytearray(data))], "media_id string, bytes binary")
    got = {r["frame_idx"]: r["frame_phash"] for r in multimodal.video_frame_phashes(df, n_frames=3).collect()}
    want_idx = [0, 3, 6]  # linspace(0, 6, 3)
    for out_i, src_i in enumerate(want_idx):
        expect = imaging.phash_to_signed64(imaging.phash64(frames[src_i]))
        assert got[out_i] == expect


def test_video_frames_stub(spark):
    ensure_shipped(spark)
    df = spark.createDataFrame([("v1", b"vid-a"), ("v2", b"vid-a")], "media_id string, bytes binary")
    out = multimodal.video_frame_phashes(df, n_frames=3).collect()
    assert len(out) == 6
    by = {}
    for r in out:
        by.setdefault(r["media_id"], {})[r["frame_idx"]] = r["frame_phash"]
    assert by["v1"] == by["v2"]  # same payload -> same frames
    assert len(set(by["v1"].values())) == 3  # distinct frames within a video
