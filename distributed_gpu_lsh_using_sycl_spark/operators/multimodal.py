"""Audio / video multimodal operators — the Spark-side plumbing for the
remaining opaque-binary modalities next to the image path
(operators/signatures.make_simhash_udf).

Design, shared with the image path: modality payloads are opaque
``binary`` columns with typed metadata columns beside them; decode +
feature-extract run once per Arrow batch inside numpy (pandas UDF /
mapInPandas — zero per-row Python at the Spark row level); near-dup
candidates then ride the SAME banded machinery as every other 64-bit
fingerprint (banding.hamming_pairs — salted, skew-split, exact recall
at the hamming threshold). The deterministic SAUD/SVID codecs stand in
for libsndfile/libav (not importable in this container) behind the same
2-function swap seam as SIMG (av_codec module docstring).

Schemas:
- audio table: (audio_id long, bytes binary, sample_rate int, n_samples
  int, fmt string)
- video table: (video_id long, bytes binary, w int, h int, fps int,
  n_frames int, fmt string)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig

AUDIO_SCHEMA = ("audio_id long, bytes binary, sample_rate int, "
                "n_samples int, fmt string")
VIDEO_SCHEMA = ("video_id long, bytes binary, w int, h int, fps int, "
                "n_frames int, fmt string")

_AUDIO_FEAT_SCHEMA = T.StructType([
    T.StructField("fingerprint", T.LongType()),
    T.StructField("rms", T.ArrayType(T.DoubleType())),
    T.StructField("zcr", T.ArrayType(T.DoubleType())),
])


def audio_features_col():
    """Series(bytes) -> struct(fingerprint int64, rms array, zcr array).
    Per-blob Python work is one zlib call; dequantize + both window
    kernels run ONCE per (fmt, n_samples) group per Arrow batch
    (av_codec.decode_audio_grouped — loop-free decode)."""
    from distributed_gpu_lsh_using_sycl_spark.functions.av_codec import (
        audio_features_batch, audio_fingerprint64_batch, decode_audio_grouped)

    @F.pandas_udf(_AUDIO_FEAT_SCHEMA)
    def udf(blobs: pd.Series) -> pd.DataFrame:
        n = len(blobs)
        fps = np.zeros(n, dtype=np.int64)
        rms: list = [None] * n
        zcr: list = [None] * n
        for idxs, samples in decode_audio_grouped([bytes(b) for b in blobs]):
            # .view(np.int64): portability-safe reinterpret cast (np.int64
            # on an out-of-range uint64 scalar raises under NumPy 2.x)
            fps[idxs] = audio_fingerprint64_batch(samples).view(np.int64)
            feats = audio_features_batch(samples)
            for j, i in enumerate(idxs):
                rms[i] = feats[j, :, 0].tolist()
                zcr[i] = feats[j, :, 1].tolist()
        return pd.DataFrame({"fingerprint": fps, "rms": rms, "zcr": zcr})

    return udf


def audio_neardup_pairs(audio: DataFrame, cfg: LshConfig | None = None,
                        export_sigs_path: str | None = None) -> DataFrame:
    """(a, b, hamming) audio near-dup pairs via the 64-bit energy-delta
    fingerprint + ``banding.hamming_pairs`` (exact recall at
    ``cfg.hamming_threshold``).

    ``export_sigs_path``: optionally persist the computed (image_id, fp)
    fingerprints to parquet and continue the plan from the READ-BACK copy
    — an external oracle (DuckDB in the driver's correctness gate) can
    then brute-force the banding+verify stage over the exact values this
    query used; the decode stays pinned by pytest."""
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        hamming_pairs)

    cfg = cfg or LshConfig()
    sigs = (audio.select(F.col("audio_id").alias("image_id"),
                         audio_features_col()(F.col("bytes"))["fingerprint"]
                         .alias("fp"))
            .localCheckpoint(eager=True))
    if export_sigs_path:
        sigs.write.mode("overwrite").parquet(export_sigs_path)
        sigs = audio.sparkSession.read.parquet(export_sigs_path)
    return hamming_pairs(sigs, "fp", cfg, source="audio_fp")


def video_frame_hashes(video: DataFrame, every_k: int = 2) -> DataFrame:
    """(video_id, frame_idx, phash) — deterministic every-k-th frame
    sampling + per-frame phash64, via mapInPandas (the fan-out row count
    is data-dependent, which is exactly what mapInPandas is for). Frame
    EXTRACTION is pure payload slicing per blob; frame DECODE + phash run
    batched across all sampled frames of the whole Arrow batch
    (decode_images_grouped + phash64_batch — loop-free)."""
    from distributed_gpu_lsh_using_sycl_spark.functions.av_codec import (
        sampled_frame_blobs)
    from distributed_gpu_lsh_using_sycl_spark.functions.image_codec import (
        decode_images_grouped, phash64_batch)

    out_schema = "video_id long, frame_idx int, phash long"

    def gen(batches):
        for pdf in batches:
            vids, idxs, frame_blobs = [], [], []
            for vid, blob in zip(pdf["video_id"], pdf["bytes"]):
                for i, fb in sampled_frame_blobs(bytes(blob), every_k):
                    vids.append(vid)
                    idxs.append(i)
                    frame_blobs.append(fb)
            hashes = np.zeros(len(frame_blobs), dtype=np.int64)
            for gi, pixels in decode_images_grouped(frame_blobs):
                hashes[gi] = phash64_batch(pixels)
            yield pd.DataFrame({
                "video_id": np.asarray(vids, dtype=np.int64),
                "frame_idx": np.asarray(idxs, dtype=np.int32),
                "phash": hashes})

    return (video.select("video_id", "bytes")
            .mapInPandas(gen, schema=out_schema))


def video_neardup_pairs(video: DataFrame, cfg: LshConfig | None = None,
                        every_k: int = 2, min_shared: int = 2,
                        export_hashes_path: str | None = None) -> DataFrame:
    """(a, b, shared_frames) video near-dup pairs: sampled-frame phashes
    matched EXACTLY (hamming 0 — re-encoded dups share phashes under the
    deterministic codec), pairs counted over shared frame hashes, kept at
    >= min_shared. The frame-hash equi-join shuffles on phash — the same
    bucket-join shape as every LSH stage, so salting applies if a
    degenerate frame (e.g. black) goes hot; here the groupBy count is the
    skew release valve.

    ``export_hashes_path``: optionally persist the (video_id, phash)
    frame hashes and continue from the read-back copy, so an external
    oracle can recompute the shared-frame join over the exact values (it
    also materializes the decode once instead of once per join side)."""
    fh = video_frame_hashes(video, every_k).select(
        F.col("video_id"), F.col("phash"))
    if export_hashes_path:
        fh.write.mode("overwrite").parquet(export_hashes_path)
        fh = video.sparkSession.read.parquet(export_hashes_path)
    else:
        fh = fh.localCheckpoint(eager=True)
    a = fh.select(F.col("video_id").alias("a"), "phash")
    b = fh.select(F.col("video_id").alias("b"), "phash")
    return (a.join(b, "phash")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("shared_frames"))
            .filter(F.col("shared_frames") >= min_shared))


# --------------------------------------------------------------------------- #
# deterministic executor-side synthesis (driver-visible av coverage)
# --------------------------------------------------------------------------- #

def synth_audio_df(ids: DataFrame, id_col: str = "doc_id",
                   dup_every: int = 50) -> DataFrame:
    """Deterministic audio table synthesized ON EXECUTORS from an id
    column (pure function of the id — the fixture convention,
    sources/fixture.row_content): a seeded tone+noise signal per id,
    plus a LOSSY re-encoded twin (id + 1_000_000) for every
    ``dup_every``-th id — the planted near-dup ground truth. mapInPandas
    so synthesis is batch-wise numpy and scales with partitions."""
    from distributed_gpu_lsh_using_sycl_spark.functions.av_codec import (
        encode_audio)

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in
                    ("audio_id", "bytes", "sample_rate", "n_samples", "fmt")}
            for i in pdf[id_col]:
                i = int(i)
                rng = np.random.Generator(np.random.PCG64(i))
                t = np.arange(6500) / 8000.0
                sig = (0.5 * np.sin(2 * np.pi * (200 + 50 * (i % 7)) * t)
                       + 0.05 * rng.standard_normal(6500))
                s = (sig * 20000).clip(-32768, 32767).astype(np.int16)
                emit = [(i, "wav")]
                if i % dup_every == 0:
                    emit.append((i + 1_000_000, "ogg"))
                for aid, fmt in emit:
                    rows["audio_id"].append(aid)
                    rows["bytes"].append(encode_audio(s, 8000, fmt))
                    rows["sample_rate"].append(8000)
                    rows["n_samples"].append(len(s))
                    rows["fmt"].append(fmt)
            yield pd.DataFrame(rows)

    return ids.select(id_col).mapInPandas(gen, schema=AUDIO_SCHEMA)


def synth_video_df(ids: DataFrame, id_col: str = "doc_id",
                   dup_every: int = 50, n_frames: int = 6) -> DataFrame:
    """Deterministic video table synthesized on executors: per id a stack
    of seeded random frames (lossless "png"), plus a lossy re-encoded
    twin every ``dup_every``-th id."""
    from distributed_gpu_lsh_using_sycl_spark.functions.av_codec import (
        encode_video)

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in
                    ("video_id", "bytes", "w", "h", "fps", "n_frames", "fmt")}
            for i in pdf[id_col]:
                i = int(i)
                rng = np.random.Generator(np.random.PCG64(i))
                frames = [rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
                          for _ in range(n_frames)]
                emit = [(i, "png")]
                if i % dup_every == 0:
                    emit.append((i + 1_000_000, "jpeg"))
                for vid, fmt in emit:
                    rows["video_id"].append(vid)
                    rows["bytes"].append(encode_video(frames, 10, fmt))
                    rows["w"].append(32)
                    rows["h"].append(24)
                    rows["fps"].append(10)
                    rows["n_frames"].append(n_frames)
                    rows["fmt"].append(fmt)
            yield pd.DataFrame(rows)

    return ids.select(id_col).mapInPandas(gen, schema=VIDEO_SCHEMA)
