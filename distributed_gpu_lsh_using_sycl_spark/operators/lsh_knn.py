"""The reference's user-facing query: LSH k-nearest-neighbors
(``./prog input_file k`` — main.cpp:46-55, fit + kneighbors) as a
distributed DataFrame plan over any of the three hash families.

Search semantics reproduce ``nearest_neighbors.cpp:99-131`` (and the
repo's numpy restatement, parity/oracle.knn_oracle): per point, the
candidate set is every point sharing a bucket in ANY of the L tables
(OR-construction, hash_tables.hpp:566-578), self excluded; keep the k
nearest by squared L2 (id ascending tie-break); slots with no candidate
keep the point's OWN id — the reference's "not found" convention — with
dist_sq = -1.0 (the reference leaves those distance entries unwritten).

Scale shape: bucket assignment is a broadcast crossJoin + fold (no
shuffle beyond the groupBy per table); the candidate self-join rides the
salted/skew-split machinery of banding.candidate_pairs_from_bands; the
verify is one JVM fold per (q, m); ranking is a per-q window. At 10^12
rows the only all-to-all stage is the bucket join, exactly as in the
reference's distributed hash tables.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.operators.pairs import (
    checkpoint_features, pair_features, ranked_neighbours)

FAMILIES = ("random_projections", "entropy_based", "mixed")


def family_buckets(e: DataFrame, family: str, cfg: LshConfig,
                   seed: int | None = None, id_col: str = "vec_id",
                   vec_col: str = "v", dims: int | None = None) -> DataFrame:
    """Runtime family dispatch (hash_function_types.hpp:22-29;
    nearest_neighbors.cpp:44-58) -> (vec_id, band_id, bucket)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.parity_hash import (
        entropy_buckets_df, mixed_buckets_df, rp_buckets_df)

    seed = cfg.seed if seed is None else seed
    if family in ("random_projections", "0"):
        return rp_buckets_df(e, cfg, id_col=id_col, vec_col=vec_col,
                             dims=dims)
    if family in ("entropy_based", "1"):
        return entropy_buckets_df(e, cfg, seed, id_col=id_col,
                                  vec_col=vec_col, dims=dims)
    if family in ("mixed", "2"):
        return mixed_buckets_df(e, cfg, seed, id_col=id_col,
                                vec_col=vec_col, dims=dims)
    raise ValueError(
        f"unknown hash_function family {family!r}; expected one of "
        f"{FAMILIES} (or the reference's enum values 0/1/2)")


def _dsq(a, b):
    """Squared L2 as a SEQUENTIAL fold (index order) — matches the
    reference's scalar loop and DuckDB's list_reduce bit-for-bit."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def lsh_kneighbors(e: DataFrame, k: int, family: str = "random_projections",
                   cfg: LshConfig | None = None, seed: int | None = None,
                   id_col: str = "vec_id", vec_col: str = "v",
                   dims: int | None = None) -> DataFrame:
    """(id, vec) -> (vec_id, rank, neighbor_id, dist_sq), k rows per input
    point, rank 1-based by (squared L2 asc, neighbor id asc).

    For exact parity with the brute bucket-scan oracle the bucket cap is
    disabled here (max_bucket_size=0): a capped bucket would *silently*
    drop true neighbors, which is fine for dedup candidates (reported via
    downsample_dropped) but wrong for a kNN answer. Hot-bucket salting
    stays on — it only splits work, never drops it.
    """
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        candidate_pairs_from_bands)

    cfg = cfg or LshConfig()
    if cfg.max_bucket_size:
        cfg = dataclasses.replace(cfg, max_bucket_size=0)
    # the checkpoint job also observes the bytes the re-rank rehydrates,
    # which decides that join's broadcast (pairs.broadcast_if_fits)
    src, size = checkpoint_features(
        e.select(F.col(id_col).alias("vec_id"),
                 F.col(vec_col).cast("array<double>").alias("v")),
        ("v",), "vec_id")
    # buckets feed stats + both sides of the salted self-join — materialize
    # them once (without this the hash-chain subtree executes 2-4x; audit
    # shows the exchange count collapse in PLANS.md)
    buckets = family_buckets(src, family, cfg, seed, dims=dims) \
        .localCheckpoint(eager=True)
    bands = buckets.select(F.col("vec_id").alias("image_id"),
                           "band_id", "bucket")
    und = candidate_pairs_from_bands(bands, cfg, source=f"knn_{family}")
    # (x-y)*(x-y) folds to the bit-identical double either way round, so
    # the distance is symmetric and scored once per unordered pair
    ranked = ranked_neighbours(
        pair_features(und, src, ("v",), id_col="vec_id", size=size),
        _dsq(F.col("v_a"), F.col("v_b")), k)
    slots = src.select("vec_id").withColumn(
        "rank", F.explode(F.sequence(F.lit(1), F.lit(k))))
    return (slots.join(ranked, (slots.vec_id == ranked.vec_id)
                       & (slots.rank == ranked.rank), "left")
            .select(slots.vec_id,
                    slots.rank.cast("int").alias("rank"),
                    F.coalesce(ranked.neighbor_id, slots.vec_id)
                    .alias("neighbor_id"),
                    F.round(F.coalesce(ranked.score, F.lit(-1.0)), 6)
                    .alias("dist_sq")))


def knn_recall(pred: DataFrame, truth: DataFrame) -> DataFrame:
    """Reference recall metric (nearest_neighbors_result.cpp:104-148):
    |pred ∩ truth| / (n*k) over the long-format (vec_id, neighbor_id)
    sets, returned with the correct/total counts like the reference's
    tuple. Scale matches the reference exactly: PERCENT (the reference
    multiplies by 100, nearest_neighbors_result.cpp:131)."""
    hits = pred.join(truth.select("vec_id", "neighbor_id"),
                     ["vec_id", "neighbor_id"], "left_semi").count()
    total = pred.count()
    spark = pred.sparkSession
    return spark.createDataFrame(
        [(round(100.0 * hits / total, 6) if total else 0.0, hits, total)],
        "recall double, hits long, total long")


def knn_error_ratio(pred: DataFrame, truth: DataFrame) -> DataFrame:
    """Reference error-ratio metric (nearest_neighbors_result.cpp:151-214):
    a point with ANY not-found slot (dist_sq < 0 here; the reference's
    real_type::max sentinel) is skipped entirely; otherwise distances are
    compared rank-by-rank (both sides already sorted ascending) as
    sqrt(pred/true) — the reference stores plain distances, we carry
    squared (F7 deferred sqrt) — with the 0-vs-0 "same position" rule
    counting as an exact 1.0. Returns (mean_ratio, n_points, n_skipped)."""
    bad = (pred.filter(F.col("dist_sq") < 0)
           .select("vec_id").distinct())
    p = (pred.join(bad, "vec_id", "left_anti")
         .select("vec_id", "rank", F.col("dist_sq").alias("pd")))
    t = truth.select("vec_id", "rank", F.col("dist_sq").alias("td"))
    ratio = (F.when((F.col("td") == 0) & (F.col("pd") == 0), F.lit(1.0))
             .when(F.col("td") > 0, F.sqrt(F.col("pd") / F.col("td"))))
    per_point = (p.join(t, ["vec_id", "rank"])
                 .groupBy("vec_id")
                 .agg(F.avg(ratio).alias("ratio")))
    n_skipped = bad.count()
    return (per_point.agg(F.round(F.avg("ratio"), 6).alias("mean_ratio"),
                          F.count("*").alias("n_points"))
            .withColumn("n_skipped", F.lit(n_skipped).cast("long")))
