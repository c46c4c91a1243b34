"""Signature stage: caption MinHash + image SimHash, Spark-first.

The reference's ``fit`` builds per-table CSR hash buckets on the GPU
(``hash_tables.hpp:141-210``); our analog computes, per row,

- distinct caption shingle CRC-32s (``shingle_crcs_py``, the exact
  Python twin of the JVM built-in chain ``shingle_crc_col``), the MinHash
  signature (num_bands * rows_per_band rows) and per-band bucket ids via
  the reference's hash_combine chain (random_projections.hpp:72-85
  analog) — all in ONE Arrow-batched pandas UDF;
- the 64-bit image SimHash from the stored phash + decoded-pixel block
  features — one vectorized pandas UDF over (bytes, phash).

Tokenization semantics mirror functions/text.py exactly (and the DuckDB
oracle SQL in __spark_entry__.py) — change all three together.
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.functions import hashing as H


# --------------------------------------------------------------------------- #
# JVM-side shingling (the built-in reference chain; shingle_crcs_py is
# pinned to it)
# --------------------------------------------------------------------------- #

def tokens_col(text: Column) -> Column:
    """Whitespace tokens of lower(trim(text)), empties dropped —
    identical to functions.text.tokenize."""
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda x: x != "")


def shingles_col(text: Column, k: int) -> Column:
    """Distinct word k-shingles; <k tokens → one all-tokens shingle."""
    toks = tokens_col(text)
    n = F.size(toks)
    full = F.array_join(toks, " ")
    kgrams = F.transform(
        F.sequence(F.lit(0), n - F.lit(k)),
        lambda i: F.array_join(F.slice(toks, i + F.lit(1), F.lit(k)), " "),
    )
    return F.array_distinct(
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n < F.lit(k), F.array(full))
        .otherwise(kgrams)
    )


def shingle_crc_col(text: Column, k: int) -> Column:
    """array<long> of CRC-32 values of the distinct shingles (JVM crc32
    == zlib.crc32 — the cross-system-stable shingle hash)."""
    return F.transform(shingles_col(text, k), lambda s: F.crc32(F.encode(s, "utf-8")))


# Java regex \s is ASCII-only ([ \t\n\x0B\f\r]); Python re's \s is
# Unicode-aware — spell the class out so the Python twin splits exactly
# where F.split does. Likewise F.trim strips 0x20 ONLY (probed: it keeps
# \t/\n), hence .strip(" ") below, not .strip().
_JAVA_WS = re.compile(r"[ \t\n\x0B\f\r]+")


def shingle_crcs_py(caption: str, k: int) -> list[int]:
    """Exact Python twin of ``shingle_crc_col`` (tokens -> distinct word
    k-shingles -> CRC-32), used by the blob-scan fast path so signatures
    computed executor-side in Python match the JVM chain bit for bit
    (parity pinned in tests/test_blob_scan.py)."""
    toks = [t for t in _JAVA_WS.split(caption.strip(" ").lower()) if t]
    n = len(toks)
    if n == 0:
        return []
    if n < k:
        grams = [" ".join(toks)]
    else:
        grams = [" ".join(toks[i:i + k]) for i in range(n - k + 1)]
    seen: set[str] = set()
    out: list[int] = []
    for s in grams:
        if s not in seen:
            seen.add(s)
            out.append(zlib.crc32(s.encode("utf-8")))
    return out


def minhash_buckets_batch(crc_arrays: list[np.ndarray], cfg: LshConfig,
                          a: np.ndarray, b: np.ndarray):
    """Shared MinHash + band-bucket batch kernel: list of uint64 shingle
    CRC arrays -> (list of int64 signatures, list of bucket lists with
    None for shingle-less rows). Used by the pandas UDF and blob_scan."""
    sigs = H.minhash_signatures(crc_arrays, a, b)
    buckets = H.band_buckets(sigs, cfg.num_bands, cfg.rows_per_band,
                             cfg.bucket_modulus)
    sig_list = sigs.view(np.int64).tolist()
    bucket_list: list = buckets.tolist()
    for i, arr in enumerate(crc_arrays):
        if len(arr) == 0:
            bucket_list[i] = None
    return sig_list, bucket_list


def text_signature_batch(captions, cfg: LshConfig, a: np.ndarray,
                         b: np.ndarray, with_windows: bool = False) -> dict:
    """The whole text signature chain for one batch of captions (None =
    NULL) -> {"shingles", "minhash", "buckets"[, "whash"]} column lists:
    shingle CRCs via ``shingle_crcs_py``, then ``minhash_buckets_batch``;
    with ``with_windows`` also the winnowed window fingerprints of the
    substring pass (``suffix.winnowed_hashes_batch``), so a pipeline that
    bands both families reads each caption in one Python pass. A NULL
    caption gets NULL shingles, the MinHash of the empty set, NULL
    buckets and no fingerprints. Shared by the text signature UDF and the
    blob scan, so both emit the same rows (parity pinned in
    tests/test_blob_scan.py and tests/test_banding.py)."""
    k = cfg.shingle_size
    crcs = [np.zeros(0, dtype=np.uint64) if c is None
            else np.asarray(shingle_crcs_py(c, k), dtype=np.uint64)
            for c in captions]
    sig_list, bucket_list = minhash_buckets_batch(crcs, cfg, a, b)
    cols = {"shingles": [None if c is None else arr.view(np.int64).tolist()
                         for c, arr in zip(captions, crcs)],
            "minhash": sig_list, "buckets": bucket_list}
    if with_windows:
        from distributed_gpu_lsh_using_sycl_spark.operators.suffix import (
            winnowed_hashes_batch)
        cols["whash"] = winnowed_hashes_batch(
            captions, cfg.min_substring_len, cfg.substring_winnow_stride)
    return cols


# --------------------------------------------------------------------------- #
# Text signature: shingles + MinHash + band buckets (one pandas UDF)
# --------------------------------------------------------------------------- #

#: the window fingerprints ``text_signature_batch(with_windows=True)`` adds
WHASH_FIELD = T.StructField("whash", T.ArrayType(T.LongType()), False)
#: what a signature frame built ``with_windows`` carries besides the
#: fingerprints: the caption itself, as ``text``, so the pairs stage
#: rehydrates the window verdict's texts in the same join as the shingles
WINDOW_FIELDS = [WHASH_FIELD, T.StructField("text", T.StringType(), True)]

_TEXT_SIG_FIELDS = [
    T.StructField("shingles", T.ArrayType(T.LongType()), True),
    T.StructField("minhash", T.ArrayType(T.LongType()), False),
    T.StructField("buckets", T.ArrayType(T.LongType()), True),
]


def make_text_signature_udf(cfg: LshConfig, with_windows: bool = False):
    """Series(text) -> struct(shingles, minhash, buckets[, whash]): the
    WHOLE text signature chain (``text_signature_batch``) in one Arrow
    hop. Measured ~1.4x the JVM shingle chain + separate minhash UDF at
    sf0.1 (one Arrow hop, no interpreted higher-order functions)."""
    a, b = H.minhash_params(cfg.seed, cfg.signature_len, cfg.signature_pool_size)
    schema = T.StructType(_TEXT_SIG_FIELDS + ([WHASH_FIELD] if with_windows else []))

    @F.pandas_udf(schema)
    def text_sig_udf(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(text_signature_batch(texts, cfg, a, b, with_windows))

    return text_sig_udf


# --------------------------------------------------------------------------- #
# Image SimHash (vectorized pandas UDF over bytes + phash)
# --------------------------------------------------------------------------- #

def simhash_batch(blobs: list[bytes], ph: np.ndarray) -> np.ndarray:
    """One batch of (decoded blobs + phash uint64) -> int64 simhash array.

    Features per image: 16 phash nibbles (position-salted) + 64 quantized
    decoded-pixel block means (position-salted). Shared by the pandas UDF
    and the blob-scan fast path (sources/blob_scan.py) so both compute
    bit-identical signatures.
    """
    from distributed_gpu_lsh_using_sycl_spark.functions.image_codec import (
        block_features_batch, decode_images_grouped)

    n = len(blobs)
    # one persistent (n, 80) feature buffer: 16 phash nibbles +
    # 64 block codes, then position-salted hash_combine IN PLACE
    # (fresh multi-MB temporaries are pathologically slow under the
    # sandbox's mmap fault costs — see hashing._SCRATCH).
    feats = H._scratch("simhash_feats", n * 80, np.uint64).reshape(n, 80)
    nib_idx = np.arange(16, dtype=np.uint64)
    np.right_shift(ph[:, None], nib_idx[None, :] * np.uint64(4), out=feats[:, :16])
    np.bitwise_and(feats[:, :16], np.uint64(0xF), out=feats[:, :16])
    # decode batched per shape group: per-blob Python is one zlib
    # call; dequantize + gray + resize + quantize are loop-free
    for idxs, pixels in decode_images_grouped(blobs):
        feats[idxs, 16:] = block_features_batch(pixels).astype(np.uint64)
    salts = np.empty(80, dtype=np.uint64)
    salts[:16] = nib_idx + np.uint64(1)
    salts[16:] = np.arange(64, dtype=np.uint64) + np.uint64(100)
    # in-place: feats = hash_combine(salt, value)
    np.add(feats, salts[None, :] + H.U64(0x9E3779B97F4A7C15), out=feats)
    with np.errstate(over="ignore"):
        np.bitwise_xor(feats, np.right_shift(feats, H.U64(32)), out=feats)
        np.multiply(feats, H.U64(0x0E9846AF9B1A615D), out=feats)
        np.bitwise_xor(feats, np.right_shift(feats, H.U64(32)), out=feats)
        np.multiply(feats, H.U64(0x0E9846AF9B1A615D), out=feats)
        np.bitwise_xor(feats, np.right_shift(feats, H.U64(28)), out=feats)
    offsets = np.arange(n, dtype=np.int64) * 80
    return H.simhash64(feats.reshape(-1), offsets, n).view(np.int64)


def make_simhash_udf(cfg: LshConfig):
    """Series(bytes), Series(phash int64) -> int64 simhash.

    The decode runs once per Arrow batch inside numpy — the batch shape
    is the real plumbing; the SIMG codec stands in for jpeg/png
    (image_codec.py). Body shared with blob_scan via simhash_batch.
    """

    @F.pandas_udf(T.LongType())
    def simhash_udf(blobs: pd.Series, phash: pd.Series) -> pd.Series:
        ph = phash.to_numpy(dtype=np.int64).view(np.uint64)
        sh = simhash_batch([bytes(b) for b in blobs], ph)
        return pd.Series(sh)

    return simhash_udf


# --------------------------------------------------------------------------- #
# the signature stage
# --------------------------------------------------------------------------- #

def spread(df: DataFrame) -> DataFrame:
    """Round-robin a BATCH frame across the session's parallelism when
    its scan plans fewer partitions than cores: tiny inputs (one small
    parquet file, one row group) otherwise run every narrow stage above
    the first exchange, Python UDFs included, on ONE task. Inputs already
    at or above the core count (any real table at scale) pass through and
    pay no shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def compute_signatures(images: DataFrame, cfg: LshConfig,
                       id_col: str = "image_id", text_col: str = "caption",
                       with_image: bool = True,
                       with_windows: bool = False) -> DataFrame:
    """images -> signatures(image_id, shingles, minhash, buckets[, whash,
    text], simhash, phash); ``whash`` (the substring pass's window
    fingerprints) and ``text`` (the caption) only with ``with_windows``.

    Column pruning note: only (id, caption[, bytes, phash]) are read —
    with parquet/Iceberg the scan never materializes ``bytes`` unless the
    image path is on (check ReadSchema in .explain).

    The whole text chain is ONE Arrow hop (``make_text_signature_udf``):
    shingle CRCs via ``shingle_crcs_py`` (pinned against the JVM
    ``shingle_crc_col`` in tests/test_blob_scan.py) feeding the shared
    minhash batch kernel. tests/test_banding.py recomputes the output
    from the JVM shingle chain plus local numpy, NULL captions included.
    """
    sig_udf = make_text_signature_udf(cfg, with_windows)
    out = (
        spread(images)
        .withColumn("sg", sig_udf(F.col(text_col)))
        .select(
            F.col(id_col).alias("image_id"),
            F.col("sg.shingles").alias("shingles"),
            F.col("sg.minhash").alias("minhash"),
            F.col("sg.buckets").alias("buckets"),
            *([F.col("sg.whash").alias("whash"),
               F.col(text_col).alias("text")] if with_windows else []),
            *([F.col("phash"), F.col("bytes")] if with_image else []),
        )
    )
    if with_image:
        simhash_udf = make_simhash_udf(cfg)
        out = (out.withColumn("simhash", simhash_udf(F.col("bytes"), F.col("phash")))
                  .drop("bytes"))
    else:
        out = out.withColumn("simhash", F.lit(None).cast("long")) \
                 .withColumn("phash", F.lit(None).cast("long"))
    return out
