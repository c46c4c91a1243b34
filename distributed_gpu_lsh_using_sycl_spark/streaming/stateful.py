"""Stateful streaming candidate generation: incremental LSH bucket join.

Batch banding joins a bucket's members all-at-once; when images arrive
continuously, re-joining the full table per micro-batch is O(n) work per
batch. This operator keeps the bucket membership AS STREAM STATE
(``applyInPandasWithState`` keyed by (band_id, bucket)) and emits, per
micro-batch, exactly the NEW candidate pairs: each previously-unseen
member pairs with the members already in state plus its new-batch
predecessors. While no bucket reaches the cap (below), the union over
batches equals the batch bucket join's pair set (asserted in
tests/test_resume_and_streaming.py), so downstream verify/CC stay
unchanged.

State discipline at 10^12-image scale (the part that matters):
- state per key is a bounded member list: buckets at ``max_bucket_size``
  stop admitting members (a boilerplate bucket would otherwise grow
  state AND emit O(n²) pairs forever). The stream keeps the FIRST
  ``max_bucket_size`` arrivals and drops later ones without counting
  them: no output column or stats stream reports the drop. The batch
  cap (``banding._downsample_keep``) keeps a hash-chosen subset instead,
  so drain == batch holds only while every bucket stays under the cap;
- keys are (band_id, bucket % state_group_buckets) — bucket-congruent
  packing of the batch-banding shuffle key, so state still spreads
  across executors like the batch shuffle while per-key overhead is
  amortized over many (mostly singleton) buckets; exact per-bucket keys
  via state_group_buckets <= 0 when per-key state VOLUME is the binding
  constraint instead (see config.py);
- no event-time: bucket membership never expires (a dup is a dup however
  late it arrives), so NoTimeout state — eviction is by the size cap.

The reference is single-shot batch (main.cpp:46-55); this is new surface
for the continuous-ingest regime, same contract as the batch operator.
The stream is always drained with an availableNow trigger; continuous
ingest is a scheduler re-running the drain per wave
(``streaming/e2e.streaming_dedup_cycle``), and the state carries across
drains through the checkpoint.
"""

from __future__ import annotations

import os
from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig

_OUT_SCHEMA = T.StructType([
    T.StructField("a", T.StringType(), False),
    T.StructField("b", T.StringType(), False),
    T.StructField("band_id", T.IntegerType(), False),
    T.StructField("bucket", T.LongType(), False),
])
# One state row per COARSE key (band_id, bucket % state_group_buckets):
# a parallel-array bucket -> members table covering every bucket that
# hashes into the key. Exact (band, bucket) keying (state_group_buckets
# <= 0) is the degenerate one-bucket-per-key case of the same layout.
_STATE_SCHEMA = T.StructType([
    T.StructField("buckets", T.ArrayType(T.LongType()), True),
    T.StructField("members", T.ArrayType(T.ArrayType(T.StringType())), True),
])

#: State-store layout version. BUMP THIS whenever _STATE_SCHEMA or the
#: grouping key changes (v1: per-(band,bucket) keys, members
#: array<string>; v2: coarse (band, bucket % state_group_buckets) keys,
#: packed buckets+members arrays). A checkpoint written under another
#: version cannot be resumed — without this stamp Spark surfaces the
#: mismatch as an opaque state-store deserialization error mid-batch.
STATE_FORMAT_VERSION = 2
_VERSION_FILE = "_DLSH_STATE_VERSION"


def _state_layout_stamp(cfg: LshConfig | None = None) -> str:
    """What the checkpointed state's readability depends on: the schema/
    key layout version PLUS every config field that determines which
    (band_id, bucket) a signature lands in. ``state_group_buckets``
    remaps the coarse key; the signature-chain fields (shingle size,
    pool, rows/bands, modulus, seed) remap the bucket VALUES themselves —
    either way, resuming a checkpoint written under different values
    makes prior members invisible to new arrivals (silently MISSED
    pairs, no error at all), so all of them must refuse a mismatched
    resume. Perf-only knobs (salting, shuffle width) deliberately stay
    out: they cannot move a row's key."""
    if cfg is None:
        return str(STATE_FORMAT_VERSION)
    keydef = (f"g{cfg.state_group_buckets}:sh{cfg.shingle_size}"
              f":p{cfg.signature_pool_size}:r{cfg.rows_per_band}"
              f":b{cfg.num_bands}:m{cfg.bucket_modulus}:s{cfg.seed}")
    return f"{STATE_FORMAT_VERSION}:{keydef}"


def _check_state_version(checkpoint_dir: str,
                         cfg: LshConfig | None = None) -> None:
    """Stamp a fresh checkpoint dir with the state layout stamp
    (version + grouping factor); refuse a non-empty one stamped
    otherwise (or pre-stamp) with a clear error telling the operator to
    rebuild, instead of letting the state store fail opaquely on
    schema/key mismatch (or, worse for a grouping change, silently drop
    pairs).

    Local-FS only BY CONTRACT: a URI checkpoint (hdfs://, s3a://) would
    make os.path/open silently treat the dir as fresh — os.makedirs
    would create a bogus LOCAL dir and the guard would never fire,
    actively hiding the layout mismatch it exists to surface. Reject it
    loudly; a cluster deployment routes this through the Hadoop
    FileSystem API instead."""
    if "://" in checkpoint_dir:
        raise ValueError(
            f"streaming checkpoint {checkpoint_dir!r} is a URI; the state "
            "layout-version guard only supports local paths (os.path/open) "
            "— a URI would silently bypass it. Use a local checkpoint dir "
            "or extend _check_state_version to the Hadoop FileSystem API.")
    want = _state_layout_stamp(cfg)
    vfile = os.path.join(checkpoint_dir, _VERSION_FILE)
    if os.path.isdir(checkpoint_dir) and os.listdir(checkpoint_dir):
        have = None
        if os.path.exists(vfile):
            with open(vfile) as f:
                have = f.read().strip()
        if have != want:
            raise RuntimeError(
                f"streaming checkpoint {checkpoint_dir!r} was written under "
                f"state layout {have or 'pre-versioning'}, but this "
                f"build uses layout {want} (state schema / grouping key / "
                "state_group_buckets changed). Delete the checkpoint dir "
                "AND the candidate output dir, then re-drain from the "
                "signatures table — resuming would hit an opaque "
                "state-store deserialization error (or silently remap "
                "bucket state and MISS pairs on a grouping change).")
        return
    os.makedirs(checkpoint_dir, exist_ok=True)
    with open(vfile, "w") as f:
        f.write(want)


def _make_emit(cap: int):
    import numpy as np

    def emit(key: Any, pdfs: Iterable[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.exists:
            st_buckets, st_members = state.get
            table: dict[int, list[str]] = {
                int(b): list(m) for b, m in zip(st_buckets, st_members)}
        else:
            table = {}
        grew = False
        rows: list[tuple[str, str, int]] = []
        for pdf in pdfs:
            n = len(pdf)
            if not n:
                continue
            bk = pdf["bucket"].to_numpy()
            ids = pdf["image_id"].to_numpy()
            # vectorized (bucket, id) first-occurrence dedup, order
            # preserved (C-level hash pass instead of per-row set ops)
            if n > 1:
                keep = ~pd.DataFrame({"b": bk, "i": ids}) \
                    .duplicated().to_numpy()
                bk, ids = bk[keep], ids[keep]
            # FAST PATH (the measured common case: ~every bucket is a
            # fresh singleton): a bucket that appears once in this batch
            # and holds no state admits its member with NO pair emission
            # and no seen-set construction — one dict store per row.
            if len(bk) > 1:
                multi = pd.Series(bk).duplicated(keep=False).to_numpy()
            else:
                multi = np.zeros(len(bk), dtype=bool)
            if table:
                known = np.fromiter(table.keys(), dtype=np.int64,
                                    count=len(table))
                in_state = np.isin(bk, known)
            else:
                in_state = np.zeros(len(bk), dtype=bool)
            easy = ~multi & ~in_state
            if easy.any():
                grew = True
                for b, i in zip(bk[easy].tolist(), ids[easy].tolist()):
                    table[b] = [i]
            hard = ~easy
            if not hard.any():
                continue
            # SLOW PATH (rare: bucket already has members, or several
            # batch rows share it): the original arrival-order admission
            # loop — per-bucket admission order, the cap, and therefore
            # the pair set are identical to the flat-loop implementation
            seen_sets: dict[int, set] = {}
            for bucket, iid in zip(bk[hard].tolist(), ids[hard].tolist()):
                members = table.get(bucket)
                if members is None:
                    members = table[bucket] = []
                seen = seen_sets.get(bucket)
                if seen is None:  # built once per batch per bucket
                    seen = seen_sets[bucket] = set(members)
                if iid in seen:
                    continue  # re-observation (replay / duplicate file)
                if cap > 0 and len(seen) >= cap:
                    continue  # degenerate bucket: stop admitting
                for m in members:
                    rows.append((iid, m, bucket) if iid < m
                                else (m, iid, bucket))
                members.append(iid)
                seen.add(iid)
                grew = True
        # Most buckets are singletons: most drains admit members but emit
        # no pair. Skip the no-op state write and the empty-frame yield —
        # a pandas DataFrame construction per pair-less group dominated
        # this stage's runtime when keys were per-bucket.
        if grew:
            state.update((list(table.keys()), list(table.values())))
        if rows:
            frame = pd.DataFrame(rows, columns=["a", "b", "bucket"])
            frame["band_id"] = int(key[0])
            yield frame[["a", "b", "band_id", "bucket"]]

    return emit


def incremental_candidates(bands_stream: DataFrame,
                           cfg: LshConfig | None = None) -> DataFrame:
    """Streaming (image_id, band_id, bucket) -> streaming candidate pairs
    (a, b, band_id, bucket), each unordered pair emitted once per bucket
    across the whole stream's lifetime. Downstream: `.dropDuplicates(
    ["a","b"])` per micro-batch or batch-side distinct, then verify.

    State keys are coarsened by ``cfg.state_group_buckets`` (see
    config.py): per-key overhead — state-store get/commit, Arrow group
    framing, the Python call — dominated this stage when ~every
    (band, bucket) key was a singleton, so buckets are packed
    ``state_group_buckets``-to-a-band-key and the emit walks the packed
    table. Per-bucket admission/pair semantics are unchanged."""
    cfg = cfg or LshConfig()
    g = cfg.state_group_buckets
    key = (F.pmod(F.col("bucket"), F.lit(int(g))).alias("bucket_grp")
           if g and g > 0 else F.col("bucket").alias("bucket_grp"))
    return (bands_stream
            .select("image_id", "band_id", "bucket", key)
            .groupBy("band_id", "bucket_grp")
            .applyInPandasWithState(
                _make_emit(cfg.max_bucket_size),
                outputStructType=_OUT_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="append",
                timeoutConf="NoTimeout"))


def candidate_pair_stream(spark, input_dir: str, out_dir: str,
                          checkpoint_dir: str, cfg: LshConfig | None = None,
                          max_files_per_trigger: int | None = None):
    """readStream(signatures parquet: image_id, buckets array<long>) ->
    explode bands -> stateful incremental bucket join -> append parquet,
    drained with an availableNow trigger. Returns the StreamingQuery.

    ``max_files_per_trigger`` splits the drain into smaller micro-batches.
    Leave None for drain throughput: EVERY micro-batch pays one state
    get+commit and one Python emit per touched key, and a full drain
    touches ~every coarse key, so k micro-batches cost ~k× the stateful
    stage's per-key overhead for the same admitted members. The pair set
    itself is trigger-invariant, which is what setting it checks
    (tests/test_resume_and_streaming.py)."""
    cfg = cfg or LshConfig()
    _check_state_version(checkpoint_dir, cfg)
    sigs_schema = T.StructType([
        T.StructField("image_id", T.StringType(), False),
        T.StructField("buckets", T.ArrayType(T.LongType()), True),
    ])
    reader = spark.readStream.schema(sigs_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    bands = (stream
             .filter(F.col("buckets").isNotNull())
             .select("image_id",
                     F.posexplode("buckets").alias("band_id", "bucket")))
    return (incremental_candidates(bands, cfg).writeStream
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())
