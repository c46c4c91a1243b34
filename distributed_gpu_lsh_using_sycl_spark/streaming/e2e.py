"""End-to-end incremental dedup: incremental signatures → delta bucket
join → periodic batch verify + connected-components reconcile.

Composes the three incremental steps into the continuous-ingest regime's
full contract (the reference is single-shot batch, main.cpp:46-55; this
is the north rule's resumable-pipeline surface over a delta of files).
Every step is a batch step; no Structured Streaming query runs:

1. ``signature_stream`` (streaming/ingest.py) signs the newly-landed
   input files with the pipeline's blob scan into one wave directory of
   the ``signatures`` stage table — exactly-once via the cycle's one
   wave log (``stateful.read_waves``), whose layout guard runs before
   anything is signed; only NEW files are signed.
2. ``candidate_pair_stream`` (streaming/stateful.py) bands each wave
   the log has signed but not banded and probes the table's bands with
   it — one batch broadcast join per wave, no stream and no state
   store, written to ``cand_pairs/wave=<n>``; each unordered candidate
   pair is emitted once per bucket across all waves, and a wave banded
   again after a crash is rewritten, not appended.
3. An INCREMENTAL batch reconcile: candidate pairs already adjudicated
   (verified or rejected) in a previous cycle are persisted in the
   ``adjudicated`` table; each cycle anti-joins the accumulated
   candidates against it and runs the expensive verification
   (signature rehydration + exact Jaccard/Hamming, JVM-side) ONLY over
   the not-yet-adjudicated pairs — so verify work is proportional to
   the new wave, not to everything ever seen. Connected components
   then re-run over the FULL verified-edge set: CC is a global
   fixpoint — a new edge can merge two old components — so the
   cluster assignment is deliberately recomputed from all verified
   edges, and always equals a from-scratch batch run over everything
   seen so far (asserted in tests/test_resume_and_streaming.py).
   Adjudications are append-only and idempotent: a crash between the
   append and the cluster write at worst re-verifies one wave (the
   anti-join skips whatever landed) or leaves duplicate adjudication
   rows, which the distinct() in verified_edges absorbs. The table is
   config-fingerprint stamped (_check_adj_fingerprint — a threshold
   change refuses to reuse stale verdicts instead of silently merging
   wrong clusters) and compacted once its wave-append file count passes
   _ADJ_COMPACT_FILES, so a scheduler running thousands of cycles never
   accretes unbounded small files.

Each ``streaming_dedup_cycle`` call is one signing wave (stage 1), one
delta join (stage 2) and one reconcile — the "micro-batch dedup" loop a
scheduler would run continuously.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.sources.tables import (
    check_stamp, data_files)


#: Adjudicated-table layout/semantics version. BUMP (and update
#: _adj_schema) whenever the verify_pairs output schema changes —
#: persisted verdicts written under another layout must not be silently
#: reused.
ADJ_FORMAT_VERSION = 1
_ADJ_STAMP_FILE = "_DLSH_ADJ_FINGERPRINT"
#: Compact the adjudicated table once its parquet part-file count passes
#: this bound — append-only waves otherwise grow file listings and footer
#: reads without limit at scheduler cycle counts (thousands of waves).
_ADJ_COMPACT_FILES = 48


def _adj_schema(id_type: T.DataType) -> T.StructType:
    """The adjudicated table's layout, as ``verify_pairs`` writes it for
    ``id_type`` ids. Declared rather than inferred: reading the table
    with it costs no footer job."""
    return T.StructType([
        T.StructField("a", id_type), T.StructField("b", id_type),
        T.StructField("jaccard", T.DoubleType()),
        T.StructField("hamming_phash", T.IntegerType()),
        T.StructField("hamming_simhash", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("verified", T.BooleanType()),
    ])


def _adj_fingerprint(cfg: LshConfig) -> str:
    """What a persisted verdict's validity ACTUALLY depends on: the
    adjudicated layout version plus the verdict-semantic config fields —
    the thresholds verify_pairs applies and the shingle size the compared
    features were built with. Perf-only knobs (shuffle partitions, Arrow
    batch size, salting) must NOT invalidate the table:
    hashing the full config would brick every existing warehouse on a
    tuning change even though all persisted verdicts remain valid."""
    import hashlib as _hashlib
    import json as _json

    sem = {"shingle_size": cfg.shingle_size,
           "jaccard_threshold": cfg.jaccard_threshold,
           "hamming_threshold": cfg.hamming_threshold}
    blob = _json.dumps(sem, sort_keys=True).encode()
    return f"v{ADJ_FORMAT_VERSION}:{_hashlib.sha256(blob).hexdigest()[:16]}"


def _check_adj_fingerprint(adjudicated_dir: str, cfg: LshConfig) -> None:
    """Stamp a fresh adjudicated dir with the config fingerprint; refuse a
    non-empty one stamped otherwise (or pre-stamp) — the anti-join would
    otherwise silently reuse verdicts computed under a different
    jaccard/hamming config and the clusters would come out wrong with no
    error at all (the exact failure _check_state_version guards for the
    candidate checkpoint). A URI is refused (``tables.check_stamp``)."""
    # Crash recovery for _compact_adjudicated's dir swap: a death between
    # its two renames leaves the whole table at .compact.old and nothing
    # at the live path — restore it BEFORE the has-data probe, or the
    # guard would stamp a fresh empty dir and every persisted verdict
    # would be silently re-verified from scratch.
    old = adjudicated_dir.rstrip("/") + ".compact.old"
    if os.path.isdir(old):
        import shutil

        if data_files(adjudicated_dir):
            # crash fell between publish and cleanup: live table is
            # intact, the pre-compaction copy is now redundant
            shutil.rmtree(old, ignore_errors=True)
        else:
            shutil.rmtree(adjudicated_dir, ignore_errors=True)
            os.rename(old, adjudicated_dir)
    check_stamp(
        adjudicated_dir, _ADJ_STAMP_FILE, _adj_fingerprint(cfg),
        populated=data_files,
        uri_error=(
            "adjudicated dir {path!r} is a URI; the config-fingerprint "
            "guard only supports local paths — a URI would silently "
            "bypass it."),
        mismatch_error=(
            "adjudicated table {path!r} was written under config "
            "fingerprint {have}, but this cycle runs under {want} (LshConfig "
            "thresholds/schema changed). Reusing those verdicts would "
            "silently produce wrong clusters — delete the adjudicated dir "
            "(verdicts will be recomputed from the candidate table) or "
            "restore the original config."))


def _compact_adjudicated(spark: SparkSession, adjudicated_dir: str,
                         id_type: T.DataType) -> None:
    """Rewrite the adjudicated table into O(shuffle-partition) files once
    the append-only wave files pass _ADJ_COMPACT_FILES. Runs at cycle
    START (before the prior-verdicts read), so no live plan points at the
    replaced files. distinct() during the rewrite absorbs the duplicate
    rows a crash between append and cluster-write can leave (documented
    idempotence), shrinking the table to its logical content. The table
    is read with ``_adj_schema(id_type)``: no footer job."""
    if len(data_files(adjudicated_dir) or {}) <= _ADJ_COMPACT_FILES:
        return
    import shutil

    df = spark.read.schema(_adj_schema(id_type)).parquet(
        adjudicated_dir).distinct()
    tmp = adjudicated_dir.rstrip("/") + ".compact.tmp"
    old = adjudicated_dir.rstrip("/") + ".compact.old"
    shutil.rmtree(tmp, ignore_errors=True)
    # the write executes the read — source files are still in place here
    df.coalesce(4).write.mode("overwrite").parquet(tmp)
    stamp = os.path.join(adjudicated_dir, _ADJ_STAMP_FILE)
    if os.path.exists(stamp):
        shutil.copy(stamp, os.path.join(tmp, _ADJ_STAMP_FILE))
    shutil.rmtree(old, ignore_errors=True)
    os.rename(adjudicated_dir, old)
    os.rename(tmp, adjudicated_dir)
    shutil.rmtree(old)


def _reconcile(spark: SparkSession, sigs: DataFrame,
               cands: DataFrame, cfg: LshConfig,
               adjudicated_dir: str | None = None,
               bound: int | None = None) -> tuple[DataFrame, int]:
    """Accumulated signatures + candidate pairs -> (full cluster
    assignment, n pairs newly verified this cycle).

    With ``adjudicated_dir`` the verification is INCREMENTAL: pairs
    whose verdict (verified True/False) is already persisted there are
    anti-joined away, only the remainder pays the rehydration join +
    Jaccard/Hamming predicates, and the new verdicts are appended.
    Signatures are immutable once written (exactly-once ingest, one
    signature per image_id), so a verdict never needs revisiting. CC
    stays global over ALL verified edges (singletons = self); at
    wave-scale edge counts ``assign_clusters`` solves it with its driver
    union-find fast path, past its bound with the star loop. ``bound``:
    an observed upper bound on the distinct candidate pairs (see
    ``assign_clusters``).

    The append is the one job that materializes the wave's verdicts,
    and it observes their count. It may read and write the same
    directory: ``prior``'s file index is listed when ``prior`` is read,
    before the append, and the write never re-lists it, so the anti-join
    cannot see the wave's own partial output. CC then re-reads the
    table, which lists it once, after the commit. A crash between the
    append and the clusters write leaves the wave's verdicts in the
    table, and the next cycle's anti-join skips every one of them. Both
    reads use ``_adj_schema``: no footer or count job."""
    from distributed_gpu_lsh_using_sycl_spark.operators.components import (
        assign_clusters)
    from distributed_gpu_lsh_using_sycl_spark.operators.pairs import (
        attach_features, verified_edges, verify_pairs)

    id_type = sigs.schema["image_id"].dataType
    pairs = (cands.select(F.col("a").cast(id_type).alias("a"),
                          F.col("b").cast(id_type).alias("b"))
             .distinct()
             .withColumn("source", F.lit("minhash")))
    if adjudicated_dir:
        _check_adj_fingerprint(adjudicated_dir, cfg)
        _compact_adjudicated(spark, adjudicated_dir, id_type)  # before any read
        if data_files(adjudicated_dir):
            prior = spark.read.schema(_adj_schema(id_type)).parquet(
                adjudicated_dir)
            pairs = pairs.join(prior.select("a", "b"), ["a", "b"],
                               "left_anti")
    verdicts = verify_pairs(attach_features(pairs, sigs), cfg)
    n_new = -1  # not tracked in the non-persistent mode
    if adjudicated_dir:
        obs = Observation()
        (verdicts.observe(obs, F.count(F.lit(1)).alias("n"))
         .write.mode("append").parquet(adjudicated_dir))
        n_new = int(obs.get["n"])
        verdicts = spark.read.schema(_adj_schema(id_type)).parquet(
            adjudicated_dir)
    return (assign_clusters(sigs, verified_edges(verdicts),
                            id_col="image_id", bound=bound),
            n_new)


def streaming_dedup_cycle(spark: SparkSession, input_dir: str,
                          warehouse: str, cfg: LshConfig | None = None,
                          with_image: bool = False,
                          reconcile: bool = True) -> dict:
    """One incremental dedup cycle over ``input_dir`` (a parquet dir, or a
    glob of them, that accumulates input files between cycles). Returns
    ``{"clusters": DataFrame, "n_signatures": int, "n_candidates": int,
    "n_cap_dropped": int, "n_new_adjudicated": int}`` — clusters is also
    written to ``<warehouse>/clusters``; n_cap_dropped counts the wave's
    bucket members the ``max_bucket_size`` cap refused;
    n_new_adjudicated counts the candidate pairs verified (or rejected)
    for the first time in this cycle.

    How many tasks sign the wave is ``blob_scan.scan_partitions``'
    decision; the CC strategy is ``assign_clusters``' own. Neither is a
    parameter.

    ``reconcile=False`` runs stages 1+2 only (signatures + candidate
    rows advance; clusters table left as-is, returned as None, and no
    n_new_adjudicated key). A scheduler ingesting many small waves
    between reads runs drain-only cycles and reconciles once per read
    window: CC is a global fixpoint over ACCUMULATED edges, so the final
    reconcile alone produces the same clusters as reconciling every wave
    (asserted in tests/test_resume_and_streaming.py)."""
    from distributed_gpu_lsh_using_sycl_spark.sources.blob_scan import (
        signature_schema)
    from distributed_gpu_lsh_using_sycl_spark.streaming.ingest import (
        signature_stream)
    from distributed_gpu_lsh_using_sycl_spark.streaming.stateful import (
        candidate_pair_stream, read_waves)

    cfg = cfg or LshConfig()
    sigs_dir = os.path.join(warehouse, "signatures")
    pairs_dir = os.path.join(warehouse, "cand_pairs")
    ckpt = os.path.join(warehouse, "checkpoint")

    signature_stream(spark, input_dir, sigs_dir, ckpt, cfg,
                     with_image=with_image)
    _, n_dropped = candidate_pair_stream(spark, sigs_dir, pairs_dir, ckpt,
                                         cfg)
    # both counts are sums over the log, which counts committed waves
    # only: no footer read. The candidate rows are also the bound on the
    # verified edges (every verdict comes from one candidate pair) that
    # lets CC skip its entry checkpoint.
    waves = read_waves(ckpt, cfg)
    n_sigs = sum(w["rows"] for w in waves)
    n_cands = sum(w["candidates"] for w in waves)

    # Every table is read with the schema it was written with: an
    # inferred schema costs one footer job per read. The signature table
    # is the blob scan's output over string ids (plus the ``wave``
    # partition column, which nothing reads).
    sigs = spark.read.schema(signature_schema(T.StringType(), False)) \
        .parquet(sigs_dir)
    # No candidate row yet is normal (all singletons); any read failure
    # of a table the log counts rows in must propagate — swallowing it
    # would silently overwrite the clusters table with all-singletons.
    if n_cands:
        cands = spark.read.schema("a string, b string").parquet(pairs_dir)
    else:
        cands = spark.createDataFrame([], "a string, b string")
    if not reconcile:
        return {"clusters": None,
                "n_signatures": n_sigs,
                "n_candidates": n_cands,
                "n_cap_dropped": n_dropped}
    clusters, n_new = _reconcile(
        spark, sigs, cands, cfg,
        adjudicated_dir=os.path.join(warehouse, "adjudicated"),
        bound=n_cands)
    out_dir = os.path.join(warehouse, "clusters")
    # a handful of right-sized files instead of one per shuffle
    # partition: the table is O(|V|) skinny rows, and every consumer
    # re-reads it (listing + footer cost per cycle)
    clusters.coalesce(4).write.mode("overwrite").parquet(out_dir)
    return {"clusters": spark.read.schema(clusters.schema).parquet(out_dir),
            "n_signatures": n_sigs,
            "n_candidates": n_cands,
            "n_cap_dropped": n_dropped,
            "n_new_adjudicated": n_new}


def unload_state_stores(spark: SparkSession) -> None:
    """Stop the executor-side StateStore machinery: unload every loaded
    provider and cancel the background maintenance task. No engine query
    loads a state store any more (the candidate step is a batch join);
    the benchmark's streaming workload (``perfbench/workloads.py``)
    still calls this before deleting its checkpoint dirs, which a
    maintenance thread left by another stateful query would race. Spark
    lazily restarts the machinery on the next stateful query, so this is
    safe between runs in one session."""
    spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()


def batch_dedup_reference(spark: SparkSession, images: DataFrame,
                          cfg: LshConfig | None = None,
                          with_image: bool = False) -> DataFrame:
    """The from-scratch batch computation the streaming cycles must
    converge to: same operators (compute_signatures, banding, verify,
    CC), no streams — the equality oracle for the e2e test."""
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        candidate_pairs_from_bands, explode_bands)
    from distributed_gpu_lsh_using_sycl_spark.operators.signatures import (
        compute_signatures)

    cfg = cfg or LshConfig()
    sigs = compute_signatures(images, cfg, with_image=with_image) \
        .localCheckpoint(eager=True)
    cands = candidate_pairs_from_bands(explode_bands(sigs), cfg,
                                       source="minhash").select("a", "b")
    return _reconcile(spark, sigs, cands, cfg)[0]
