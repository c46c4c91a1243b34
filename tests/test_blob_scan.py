"""Blob-scan pushdown parity: sources/blob_scan.scan_signatures must be
bit-identical to operators/signatures.compute_signatures on the same
parquet table — same ids, shingle CRCs, minhash, buckets, phash,
simhash. The fast path exists purely for transport (blobs skip the JVM);
any semantic drift is a correctness bug."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.operators.signatures import (
    compute_signatures, shingle_crc_col, shingle_crcs_py)
from distributed_gpu_lsh_using_sycl_spark.sources import blob_scan
from distributed_gpu_lsh_using_sycl_spark.sources.fixture import make_fixture_spark

CFG = LshConfig()


# adversarial tokenization inputs: Java \s is ASCII-only, F.trim strips
# 0x20 only, NBSP/thin-space must NOT split, casing must fold identically;
# NULL must stay NULL
_EDGE_CAPTIONS = [
    None,
    "  Hello   World  ",
    "\tTab\nNewline\x0bVt\x0cFf\rCr end",
    "one",
    "",
    "   ",
    "a b c d e f",
    "ÜNICODE Ss   nbsp",
    "x thinspace y",
    "UPPER lower MiXeD",
    "dup dup dup dup dup",
]


def test_shingle_crcs_py_matches_jvm(spark):
    df = spark.createDataFrame([(c,) for c in _EDGE_CAPTIONS], "caption string")
    jvm = df.select(
        "caption", shingle_crc_col(F.col("caption"), CFG.shingle_size).alias("crcs")
    ).collect()
    for row in jvm:
        if row.caption is None:
            assert row.crcs is None
            continue
        assert shingle_crcs_py(row.caption, CFG.shingle_size) == row.crcs, row.caption


@pytest.fixture(scope="module")
def fixture_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("blobscan") / "images.parquet")
    # several files and >1 row group per file so the split planner is
    # exercised beyond the one-file case
    make_fixture_spark(spark, 180, seed=11, partitions=3) \
        .write.option("parquet.block.size", 64 * 1024) \
        .mode("overwrite").parquet(path)
    return path


def _key(df):
    rows = df.collect()
    return {
        r.image_id: (list(r.shingles or []), list(r.minhash),
                     None if r.buckets is None else list(r.buckets),
                     r.phash, r.simhash)
        for r in rows
    }, len(rows)


def test_scan_signatures_parity(spark, fixture_parquet):
    fast = blob_scan.scan_signatures(spark, fixture_parquet, CFG)
    ref = compute_signatures(spark.read.parquet(fixture_parquet), CFG)
    fast_map, n_fast = _key(fast)
    ref_map, n_ref = _key(ref)
    assert n_fast == n_ref == 180  # no dup/missing rows across splits
    assert fast_map == ref_map


def test_scan_signatures_no_image_parity(spark, fixture_parquet):
    fast = blob_scan.scan_signatures(spark, fixture_parquet, CFG, with_image=False)
    ref = compute_signatures(spark.read.parquet(fixture_parquet), CFG,
                             with_image=False)
    cols = ["image_id", "shingles", "minhash", "buckets", "phash", "simhash"]
    fast_map, _ = _key(fast.select(cols))
    ref_map, _ = _key(ref.select(cols))
    assert fast_map == ref_map


def test_scan_signatures_null_and_edge_captions(spark, tmp_path):
    """NULL captions: shingles = NULL (not []), minhash = empty-set
    signature, buckets = NULL on both paths; int64 ids keep their type
    through the inferred schema."""
    path = str(tmp_path / "edge.parquet")
    rows = [(i, c) for i, c in enumerate([None, "", "   ", "one",
                                          "a b c d", "  Mixed   CASE  "])]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    fast = blob_scan.scan_signatures(spark, path, CFG, with_image=False,
                                     id_col="doc_id", text_col="text")
    ref = compute_signatures(spark.read.parquet(path), CFG,
                             id_col="doc_id", text_col="text",
                             with_image=False)
    cols = ["image_id", "shingles", "minhash", "buckets"]
    fast_rows = {r.image_id: (r.shingles, list(r.minhash), r.buckets)
                 for r in fast.select(cols).collect()}
    ref_rows = {r.image_id: (r.shingles, list(r.minhash), r.buckets)
                for r in ref.select(cols).collect()}
    assert fast_rows == ref_rows
    assert dict(fast.dtypes)["image_id"] == "bigint"


def test_scan_signatures_window_fingerprints(spark, tmp_path):
    """with_windows: both signature paths add ``whash`` equal to
    suffix._winnowed_hashes of each caption (NULL as ""), including NULL,
    empty, below-L and non-ASCII captions, and the other columns do not
    change."""
    from distributed_gpu_lsh_using_sycl_spark.operators.suffix import (
        _winnowed_hashes)

    path = str(tmp_path / "win.parquet")
    caps = [None, "", "x" * (CFG.min_substring_len - 1),
            "x" * CFG.min_substring_len,
            "ÜNICODE captions déjà vu with enough characters to winnow",
            "the quick brown fox jumps over the lazy dog again and again"]
    spark.createDataFrame(list(enumerate(caps)), "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    want = {i: _winnowed_hashes(c or "", CFG.min_substring_len,
                                CFG.substring_winnow_stride).tolist()
            for i, c in enumerate(caps)}
    kw = dict(id_col="doc_id", text_col="text", with_image=False)
    for with_windows in (False, True):
        fast = blob_scan.scan_signatures(spark, path, CFG,
                                         with_windows=with_windows, **kw)
        ref = compute_signatures(spark.read.parquet(path), CFG,
                                 with_windows=with_windows, **kw)
        assert ("whash" in fast.columns) == ("whash" in ref.columns) \
            == with_windows
        assert _key(fast.drop("whash")) == _key(ref.drop("whash"))
        if with_windows:
            for df in (fast, ref):
                assert {r.image_id: list(r.whash)
                        for r in df.collect()} == want


def test_pipeline_scan_path_same_clusters(spark, fixture_parquet):
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import run_dedup

    images = spark.read.parquet(fixture_parquet)
    base = run_dedup(spark, images, CFG)["clusters"].collect()
    fast = run_dedup(spark, images, CFG, scan_path=fixture_parquet)["clusters"].collect()
    assert {(r.image_id, r.cluster_id) for r in base} == \
           {(r.image_id, r.cluster_id) for r in fast}


def test_parquet_splits_cover_all_row_groups(fixture_parquet):
    import pyarrow.parquet as pq

    splits = blob_scan.parquet_splits(fixture_parquet)
    assert len(splits) == len(set(splits))
    total = sum(
        pq.ParquetFile(f).metadata.row_group(rg).num_rows for f, rg in splits)
    assert total == 180


def test_scan_partitions_rule():
    """One task per max_partition_bytes of row-group bytes, at least
    parallelism tasks, at most one per split, never fewer than one."""
    cap = 128 << 20
    assert blob_scan.scan_partitions(16, 5 << 20, 4, cap) == 4
    assert blob_scan.scan_partitions(100, 10 * cap, 4, cap) == 10
    assert blob_scan.scan_partitions(100, 10 * cap + 1, 4, cap) == 11
    assert blob_scan.scan_partitions(3, 10 * cap, 4, cap) == 3
    assert blob_scan.scan_partitions(2, 0, 8, cap) == 2
    assert blob_scan.scan_partitions(1, 0, 0, cap) == 1
    assert blob_scan.scan_partitions(0, 0, 0, cap) == 1


def test_scan_signatures_small_input_is_one_wave(spark, fixture_parquet):
    n_splits = len(blob_scan.parquet_splits(fixture_parquet))
    sigs = blob_scan.scan_signatures(spark, fixture_parquet, CFG)
    assert sigs.rdd.getNumPartitions() == min(
        n_splits, spark.sparkContext.defaultParallelism)
