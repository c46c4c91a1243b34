"""Extra benchmarks (guide §1.4 noop-sink isolation) — NOT the driver's
frozen bench. Used during optimization rounds to (a) print PER-RUN
per-query walls (bench.py prints the min-folded record, which hides
this-window numbers), and (b) time the internal PHASES of composite
queries (streaming cycle, pipeline stages) so changes target the stage
that actually costs, not the one that looks expensive.

Usage:
  python bench_extra.py --queries ivf_topk,lsh_knn --reps 3
  python bench_extra.py --phases streaming
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    from distributed_gpu_lsh_using_sycl_spark.sources.tables import get_spark

    return get_spark("bench-extra", parallelism=CPUS, shuffle_partitions=CPUS)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _warm(spark):
    """Warm the python worker pool through the real UDF path (same as
    bench.headline_queries)."""
    from pyspark.sql import functions as F

    from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
    from distributed_gpu_lsh_using_sycl_spark.operators.signatures import (
        compute_signatures)

    warm = (spark.range(CPUS * 8)
            .repartition(CPUS)
            .select(F.col("id").alias("doc_id"),
                    F.concat(F.lit("warm up text "), F.col("id")).alias("text")))
    _noop(compute_signatures(warm, LshConfig(), id_col="doc_id",
                             text_col="text", with_image=False))


def run_queries(names: list[str], reps: int) -> None:
    import __spark_entry__ as E

    spark = _spark()
    _warm(spark)
    qs = E.queries()
    out: dict[str, list[float]] = {n: [] for n in names}
    for r in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            _noop(qs[name](spark, SF))
            out[name].append(round(time.perf_counter() - t0, 2))
            spark.catalog.clearCache()
    print(json.dumps({n: {"passes": v, "min": min(v)} for n, v in out.items()},
                     indent=1))
    spark.stop()


def phases_streaming() -> None:
    """Phase timing of q_streaming_dedup_clusters' internals."""
    import shutil

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        streaming_dedup_cycle, unload_state_stores)

    spark = _spark()
    _warm(spark)
    t: dict[str, float] = {}

    def mark(name, t0):
        t[name] = round(time.perf_counter() - t0, 2)
        return time.perf_counter()

    base = "/tmp/dlsh_stream_phase"
    unload_state_stores(spark)
    shutil.rmtree(base, ignore_errors=True)
    inp, wh = os.path.join(base, "in"), os.path.join(base, "wh")
    os.makedirs(inp, exist_ok=True)
    d = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
        F.lit(None).cast("string").alias("fmt"),
        F.col("text").alias("caption"),
        F.lit(None).cast("long").alias("phash"))
    cfg = E._dedup_cfg()
    par = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    d.filter(F.col("image_id").cast("long") % 2 == 0) \
        .write.mode("overwrite").parquet(os.path.join(inp, "w1"))
    t0 = mark("write_wave1", t0)
    streaming_dedup_cycle(spark, inp + "/*", wh, cfg, reconcile=False,
                          ingest_partitions=par)
    t0 = mark("cycle1_drain", t0)
    d.filter(F.col("image_id").cast("long") % 2 == 1) \
        .write.mode("overwrite").parquet(os.path.join(inp, "w2"))
    t0 = mark("write_wave2", t0)
    res = streaming_dedup_cycle(spark, inp + "/*", wh, cfg,
                                ingest_partitions=par)
    t0 = mark("cycle2_full", t0)
    unload_state_stores(spark)
    c = res["clusters"]
    canon = c.groupBy("cluster_id").agg(
        F.min(F.col("image_id").cast("long")).alias("canon"))
    _noop(c.join(canon, "cluster_id")
          .select(F.col("image_id").cast("long").alias("doc_id"),
                  F.col("canon").alias("cluster_id")))
    t0 = mark("canon_out", t0)
    print(json.dumps(t, indent=1))
    spark.stop()


def phases_streaming_inner() -> None:
    """Sub-phase timing INSIDE cycle 2 (the full one): ingest drain,
    candidate drain, reconcile pieces."""
    import shutil

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from distributed_gpu_lsh_using_sycl_spark.streaming import e2e
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        _await_drained, _parquet_dir_has_data, _reconcile,
        streaming_dedup_cycle, unload_state_stores)
    from distributed_gpu_lsh_using_sycl_spark.streaming.ingest import (
        signature_stream)
    from distributed_gpu_lsh_using_sycl_spark.streaming.stateful import (
        candidate_pair_stream)

    spark = _spark()
    _warm(spark)
    t: dict[str, float] = {}

    def mark(name, t0):
        t[name] = round(time.perf_counter() - t0, 2)
        return time.perf_counter()

    base = "/tmp/dlsh_stream_phase2"
    unload_state_stores(spark)
    shutil.rmtree(base, ignore_errors=True)
    inp, wh = os.path.join(base, "in"), os.path.join(base, "wh")
    os.makedirs(inp, exist_ok=True)
    d = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
        F.lit(None).cast("string").alias("fmt"),
        F.col("text").alias("caption"),
        F.lit(None).cast("long").alias("phash"))
    cfg = E._dedup_cfg()
    par = spark.sparkContext.defaultParallelism
    d.filter(F.col("image_id").cast("long") % 2 == 0) \
        .write.mode("overwrite").parquet(os.path.join(inp, "w1"))
    t0 = time.perf_counter()
    streaming_dedup_cycle(spark, inp + "/*", wh, cfg, reconcile=False,
                          ingest_partitions=par)
    t0 = mark("cycle1_drain", t0)
    d.filter(F.col("image_id").cast("long") % 2 == 1) \
        .write.mode("overwrite").parquet(os.path.join(inp, "w2"))
    t0 = time.perf_counter()
    sigs_dir = os.path.join(wh, "signatures")
    pairs_dir = os.path.join(wh, "cand_pairs")
    q = signature_stream(spark, inp + "/*", sigs_dir,
                         os.path.join(wh, "ckpt_sigs"), cfg,
                         with_image=False, available_now=True,
                         ingest_partitions=par)
    _await_drained(q, 600)
    t0 = mark("c2_ingest_drain", t0)
    q = candidate_pair_stream(spark, sigs_dir, pairs_dir,
                              os.path.join(wh, "ckpt_pairs"), cfg,
                              available_now=True)
    _await_drained(q, 600)
    t0 = mark("c2_cand_drain", t0)
    sigs = spark.read.parquet(sigs_dir)
    cands = (spark.read.parquet(pairs_dir).select("a", "b")
             if _parquet_dir_has_data(pairs_dir)
             else spark.createDataFrame([], "a string, b string"))
    clusters, n_new = _reconcile(
        spark, sigs, cands, cfg,
        adjudicated_dir=os.path.join(wh, "adjudicated"))
    t0 = mark("c2_reconcile_build", t0)
    out_dir = os.path.join(wh, "clusters")
    clusters.write.mode("overwrite").parquet(out_dir)
    t0 = mark("c2_clusters_write", t0)
    unload_state_stores(spark)
    c = spark.read.parquet(out_dir)
    canon = c.groupBy("cluster_id").agg(
        F.min(F.col("image_id").cast("long")).alias("canon"))
    _noop(c.join(canon, "cluster_id")
          .select(F.col("image_id").cast("long").alias("doc_id"),
                  F.col("canon").alias("cluster_id")))
    t0 = mark("canon_out", t0)
    print(json.dumps(t, indent=1))
    spark.stop()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--phases", default=None)
    args = ap.parse_args()
    if args.queries:
        run_queries(args.queries.split(","), args.reps)
    elif args.phases == "streaming":
        phases_streaming()
    elif args.phases == "streaming_inner":
        phases_streaming_inner()
    else:
        ap.error("pass --queries or --phases")


if __name__ == "__main__":
    main()
