"""Audio/video multimodal path: codec roundtrip invariants (lossless
exact; lossy with a REAL, bounded reconstruction error — the audio
analog of the image PSNR ≥ 40 dB contract), and planted near-dups
recovered through the Spark plumbing (Arrow-batched decode, banded
candidates, frame-sample fan-out)."""

import numpy as np
import pandas as pd
import pytest

from distributed_gpu_lsh_using_sycl_spark.functions import av_codec as AV


def _tone(seed: int, n: int = 6500, rate: int = 8000) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    t = np.arange(n) / rate
    f = 200 + 50 * (seed % 7)
    sig = 0.5 * np.sin(2 * np.pi * f * t) + 0.05 * rng.standard_normal(n)
    return (sig * 20000).clip(-32768, 32767).astype(np.int16)


def _frames(seed: int, n: int = 6) -> list[np.ndarray]:
    rng = np.random.Generator(np.random.PCG64(seed))
    return [rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
            for _ in range(n)]


def test_audio_codec_roundtrip():
    s = _tone(1)
    assert np.array_equal(AV.decode_audio(AV.encode_audio(s, 8000, "wav"))[0], s)
    dec, rate, fmt = AV.decode_audio(AV.encode_audio(s, 8000, "ogg"))
    assert (rate, fmt) == (8000, "ogg")
    assert not np.array_equal(dec, s), "lossy mode must actually lose bits"
    assert AV.audio_snr(s, dec) >= 40.0  # the per-row invariant floor


def test_video_codec_roundtrip_and_sampling():
    frames = _frames(2)
    blob = AV.encode_video(frames, fps=10, fmt="png")
    assert AV.decode_video_meta(blob) == (10, 6)
    got = list(AV.iter_frames(blob))
    assert all(np.array_equal(a, b) for a, b in zip(got, frames))
    sampled = AV.sample_frames(blob, every_k=3)
    assert len(sampled) == 2 and np.array_equal(sampled[0], frames[0])


def test_audio_neardup_pairs_spark(spark):
    from distributed_gpu_lsh_using_sycl_spark.operators.multimodal import (
        AUDIO_SCHEMA, audio_neardup_pairs)

    rows = []
    for i in range(30):
        s = _tone(i)
        rows.append((i, AV.encode_audio(s, 8000, "wav"), 8000, len(s), "wav"))
        if i < 5:  # planted dup: lossy re-encode of the same signal
            rows.append((100 + i, AV.encode_audio(s, 8000, "ogg"),
                         8000, len(s), "ogg"))
    df = spark.createDataFrame(rows, AUDIO_SCHEMA)
    pairs = {(r["a"], r["b"]) for r in
             audio_neardup_pairs(df).collect()}
    for i in range(5):
        assert (i, 100 + i) in pairs, f"planted audio dup {i} missed"


def test_video_neardup_pairs_spark(spark):
    from distributed_gpu_lsh_using_sycl_spark.operators.multimodal import (
        VIDEO_SCHEMA, video_frame_hashes, video_neardup_pairs)

    rows = []
    for i in range(12):
        frames = _frames(i)
        rows.append((i, AV.encode_video(frames, 10, "png"), 32, 24, 10,
                     len(frames), "png"))
        if i < 3:  # planted dup: same frames re-encoded lossily
            rows.append((100 + i, AV.encode_video(frames, 10, "jpeg"),
                         32, 24, 10, len(frames), "jpeg"))
    df = spark.createDataFrame(rows, VIDEO_SCHEMA)

    fh = video_frame_hashes(df, every_k=2).toPandas()
    assert set(fh.columns) == {"video_id", "frame_idx", "phash"}
    assert (fh["frame_idx"] % 2 == 0).all()
    assert len(fh[fh.video_id == 0]) == 3  # 6 frames sampled every 2

    pairs = {(r["a"], r["b"]): r["shared_frames"]
             for r in video_neardup_pairs(df, every_k=2).collect()}
    for i in range(3):
        assert pairs.get((i, 100 + i), 0) >= 2, f"planted video dup {i} missed"


def test_driver_av_queries(spark):
    """The driver-visible av queries recover every planted twin at
    sf0.001 and emit the (a, b, ...) pair shape."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    import pandas as pd_
    ids = pd_.read_parquet(f"{sf}/documents.parquet")["doc_id"]
    planted = {int(i) for i in ids if int(i) % 50 == 0}

    ap = {(r["a"], r["b"]) for r in E.q_audio_neardup_pairs(spark, sf).collect()}
    for i in planted:
        assert (i, i + 1_000_000) in ap, f"audio twin {i} missed"

    vp = {(r["a"], r["b"]) for r in E.q_video_neardup_pairs(spark, sf).collect()}
    for i in planted:
        assert (i, i + 1_000_000) in vp, f"video twin {i} missed"
