"""Blob-scan pushdown: the signature stage's scan path for parquet-backed
image+caption tables.

Why it exists (the 100-TB argument): the default DataFrame path ships
every multi-KB image blob parquet -> JVM column vector -> InternalRow ->
Arrow batch -> Python socket -> pandas before the decode UDF ever sees
it — four full passes over the corpus's largest column through a
memory-bandwidth-bound host. This path instead has Spark plan only the
SPLITS (one row per parquet row group, the parquet unit of independent
IO) and reads the blob bytes with pyarrow INSIDE the Python stage that
consumes them, so the bytes take exactly one hop: page cache/object
store -> Arrow -> numpy. Measured on the bench fixture (96k images, 64
files, local[8] pinned): 9.9s -> ~6s for the full signature+banding
stage; at local[32] it matches the host's own no-framework throughput
roof. On a real cluster each task reads its splits straight from the
object store — the shape of Spark's native scan, minus the JVM detour
for the blob column.

Task sizing follows Spark's own scan rule: one task per
``spark.sql.files.maxPartitionBytes`` of row-group bytes (read from the
parquet footers), but never fewer tasks than ``defaultParallelism`` and
never more than there are row groups (``scan_partitions``). Every
Python task start costs a fixed ~0.3-0.45 s on a 4-CPU host, so a small
table runs as one wave (16 row groups at parallelism 4: 4 tasks, not
16 in four waves) while a corpus-scale table still gets one task per
~128 MB.

Signatures are bit-identical to operators/signatures.compute_signatures
(the shingle/CRC chain has an exact Python twin, the minhash/simhash
kernels are literally shared functions); parity is pinned in
tests/test_blob_scan.py. Reference analog: this stage stands in for the
reference's device-side hash-table build over data_set chunks
(hash_tables.hpp:141-210) — the reference likewise never routes raw
points through its host runtime twice.

Semantics note: rows are emitted in (file, row group) order per split,
and splits are Spark-partitioned — downstream must not rely on row
order (same contract as any Spark scan).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.functions import hashing as H
from distributed_gpu_lsh_using_sycl_spark.operators.signatures import (
    WINDOW_FIELDS, simhash_batch, text_signature_batch)
from distributed_gpu_lsh_using_sycl_spark.sources.tables import parquet_footer


def signature_schema(id_type: T.DataType,
                     with_windows: bool) -> T.StructType:
    """Signature schema, id type inferred from the table (image ids are
    strings; the documents table keys by int64 doc_id)."""
    return T.StructType([
        T.StructField("image_id", id_type, False),
        T.StructField("shingles", T.ArrayType(T.LongType()), True),
        T.StructField("minhash", T.ArrayType(T.LongType()), False),
        T.StructField("buckets", T.ArrayType(T.LongType()), True),
        *(WINDOW_FIELDS if with_windows else []),
        T.StructField("phash", T.LongType(), True),
        T.StructField("simhash", T.LongType(), True),
    ])


def _row_groups(path: str | list[str]) -> list[tuple[str, int, int]]:
    """(file, row_group, on-disk bytes) for every row group under a
    parquet file/directory or a list of files, from the footers alone.
    pyarrow.dataset handles dirs, single files, file lists and
    object-store URIs alike."""
    import pyarrow.dataset as ds

    out: list[tuple[str, int, int]] = []
    for frag in ds.dataset(path, format="parquet").get_fragments():
        _, sizes = parquet_footer(frag)
        out.extend((frag.path, rg, size) for rg, size in enumerate(sizes))
    if not out:
        raise ValueError(f"no parquet row groups under {path!r}")
    return out


def parquet_splits(path: str) -> list[tuple[str, int]]:
    """(file, row_group) split list for a parquet file/directory — a row
    group is the parquet unit of independent IO."""
    return [(f, rg) for f, rg, _ in _row_groups(path)]


def scan_partitions(n_splits: int, total_bytes: int, parallelism: int,
                    max_partition_bytes: int) -> int:
    """Task count for a blob scan: Spark's scan rule (one task per
    ``max_partition_bytes``), at least ``parallelism`` tasks so every
    core has work, at most one task per split, and never fewer than 1."""
    by_bytes = -(-total_bytes // max_partition_bytes)
    return max(1, min(n_splits, max(parallelism, by_bytes)))


#: rows per in-worker read slice. The blob work is sliced WELL below the
#: row-group size so a worker's live set (bytes objects + decode
#: buffers) stays ~10 MB and pymalloc/arena reuse kicks in: on this
#: sandbox (and any mmap-fault-expensive host) materializing a whole
#: 6000-row/114 MB row group costs more in page faults than the decode
#: itself — measured at 384k images, 32 pinned procs, same-work kernel:
#: whole row group 12.5k img/s, 1500-row slices 22.1k, 512-row slices
#: 58.8k. Output frames (signatures) are small, so the per-split concat
#: is noise.
SLICE_ROWS = 512


def _compute_batch(t, cfg: LshConfig, a: np.ndarray, b: np.ndarray,
                   with_image: bool, id_col: str, text_col: str,
                   with_windows: bool) -> pd.DataFrame:
    """Signature frame for one in-memory Arrow batch/table slice."""
    caps = t.column(text_col).to_pylist()
    out = {"image_id": t.column(id_col).to_pylist(),
           **text_signature_batch(caps, cfg, a, b, with_windows)}
    if with_windows:
        out["text"] = caps
    if with_image:
        ph = t.column("phash").to_numpy().astype(np.int64).view(np.uint64)
        out["phash"] = ph.view(np.int64)
        out["simhash"] = simhash_batch(t.column("bytes").to_pylist(), ph)
    else:
        out["phash"] = pd.array([None] * len(caps), dtype="Int64")
        out["simhash"] = pd.array([None] * len(caps), dtype="Int64")
    return pd.DataFrame(out)


def compute_split(file: str, rg: int, cfg: LshConfig,
                  a: np.ndarray, b: np.ndarray, with_image: bool = True,
                  id_col: str = "image_id", text_col: str = "caption",
                  with_windows: bool = False) -> pd.DataFrame:
    """Scan one parquet row group and compute its signature frame — the
    entire per-split work of the fused stage in one framework-free
    function. Called by scan_signatures' mapInPandas tasks AND verbatim
    by bench.py's host-ceiling control, so the stage-vs-ceiling
    comparison is over literally the same code. The row group is
    streamed in SLICE_ROWS batches so blob bytes never pile up in the
    worker."""
    import pyarrow.parquet as pq

    cols = [id_col, text_col] + (["phash", "bytes"] if with_image else [])
    frames = [
        _compute_batch(batch, cfg, a, b, with_image, id_col, text_col,
                       with_windows)
        for batch in pq.ParquetFile(file).iter_batches(
            batch_size=SLICE_ROWS, row_groups=[rg], columns=cols)
    ]
    if not frames:
        return _compute_batch(
            pq.ParquetFile(file).read_row_group(rg, columns=cols),
            cfg, a, b, with_image, id_col, text_col, with_windows)
    return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)


def scan_signatures(spark: SparkSession, path: str | list[str],
                    cfg: LshConfig,
                    with_image: bool = True,
                    id_col: str = "image_id", text_col: str = "caption",
                    with_windows: bool = False) -> DataFrame:
    """Fused scan+signature stage over a parquet image table: returns the
    same DataFrame as ``compute_signatures(spark.read.parquet(path))``
    — (image_id, shingles, minhash, buckets[, whash, text], phash,
    simhash) —
    without moving blob bytes through the JVM.

    ``path`` is a parquet file, a directory or a list of files. Spark
    plans the (file, row_group) splits as the ids of a range sliced
    evenly into ``scan_partitions`` tasks — one per
    ``spark.sql.files.maxPartitionBytes`` of row-group bytes, at least
    ``defaultParallelism``, at most one per split. Each task looks its
    ids up in the split list the UDF carries, pyarrow-reads only the
    pruned columns of those row groups and runs the shared numpy
    signature kernels; only small signature rows ever enter the JVM.
    """
    import pyarrow.dataset as ds
    import pyarrow.types as pat

    row_groups = _row_groups(path)
    splits = [(f, rg) for f, rg, _ in row_groups]
    arrow_id = ds.dataset(path, format="parquet").schema.field(id_col).type
    # Map the id column by Arrow TYPE FAMILY, not by the type's string
    # form: signed ints (and unsigned up to uint32, which fit a long) ->
    # LongType, any string flavor (string / large_string) -> StringType.
    # uint64 would silently wrap past 2^63 and binary has no stable
    # DataFrame key semantics here — refuse both loudly.
    if pat.is_integer(arrow_id):
        if pat.is_unsigned_integer(arrow_id) and arrow_id.bit_width >= 64:
            raise TypeError(
                f"id column {id_col!r} is {arrow_id} — uint64 ids can exceed "
                "LongType's 2^63-1 and would wrap; cast the table's id to "
                "int64 or string first")
        id_type: T.DataType = T.LongType()
    elif pat.is_string(arrow_id) or pat.is_large_string(arrow_id):
        id_type = T.StringType()
    else:
        raise TypeError(
            f"unsupported id column type {arrow_id} for {id_col!r}: expected "
            "an integer or string id (binary/struct ids are not supported)")
    a, b = H.minhash_params(cfg.seed, cfg.signature_len, cfg.signature_pool_size)
    want_image = with_image
    id_name, text_name = id_col, text_col

    def read_splits(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in pdf["id"]:
                file, rg = splits[i]
                yield compute_split(file, rg, cfg, a, b,
                                    with_image=want_image,
                                    id_col=id_name, text_col=text_name,
                                    with_windows=with_windows)

    n_parts = scan_partitions(
        len(splits), sum(size for _, _, size in row_groups),
        spark.sparkContext.defaultParallelism,
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
    # A range slices the split ids exactly evenly (no hash-collision
    # skew: a hash repartition leaves ~1/e of the tasks empty and doubles
    # up others — measured stragglers). It runs as a JVM RDD: the
    # planner then has no size for the signatures (a Range's row count
    # would make them look tiny and broadcastable), so their joins
    # follow the sizes the pipeline observes, and no Python RDD
    # (``parallelize``) starts a second pool of Python workers beside
    # the one every Arrow UDF of the session uses.
    jspark = spark._jsparkSession
    ids = jspark.range(0, len(splits), 1, n_parts)
    splits_df = DataFrame(
        jspark.createDataFrame(ids.toDF().javaRDD(), ids.schema()), spark)
    return splits_df.mapInPandas(
        read_splits, schema=signature_schema(id_type, with_windows))
