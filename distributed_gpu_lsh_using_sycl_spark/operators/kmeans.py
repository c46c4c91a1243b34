"""Deterministic Lloyd's k-means over an embedding column — the
iterative-ML primitive family next to connected components (the other
fixpoint loop in this engine).

Why it can be ORACLE-CHECKED (most k-means can't): floating-point SUMS
are merge-order-dependent, and Spark's partial-aggregation merge order
varies run to run — so a naive double-sum centroid update is
nondeterministic at the 1e-16 level, which k-means then AMPLIFIES into
different assignments at cell boundaries. This implementation quantizes
each coordinate to fixed-point (round(x * 2^20) as int64) once up
front; centroid updates then sum exact integers (order-independent by
ring axioms, not by luck), and the mean is one IEEE double division of
exactly-representable integers (|sum| < 2^53 up to ~10^9 members per
cell). Every engine — Spark partial aggs, DuckDB hash aggs — produces
bit-identical centroids, so assignments match exactly.

Scale shape: per iteration ONE shuffle — the (cluster, dim) integer
partial-sum aggregation (map-side combined, k·dims cells); centroids
(k × dims, tiny) come to the driver and go back in the UDF closure —
the classic iterate-broadcast loop. Assignment is one Arrow-batched
seqdiffsq kernel per batch (k sequential-fold distances + first-min
argmin, the oracle's exact order), no shuffle. Init = the k smallest
ids' vectors (deterministic, like ivf_topk's coarse quantizer —
swapping in k-means|| changes only the init frame).

Clustering is NEW surface (the reference is kNN-only); the loop mirrors
its fit/search split (nearest_neighbors.cpp:60-97) in shape only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_gpu_lsh_using_sycl_spark.functions import hashing as H

#: fixed-point scale, 2^20 — exact in double, keeps |sum| << 2^53.
SCALE = 1 << 20


def _quantized(e: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    q = F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.round(x * SCALE).cast("long"))
    return e.select(F.col(id_col).alias("vec_id"), q.alias("q"))


def _assign(qdf: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, q, cluster, dist): argmin centroid; ties take the
    SMALLEST cluster index. The distance matrix is one seqdiffsq Arrow
    kernel per batch — the same sequential fold as the DuckDB oracle's
    list_reduce, and np.argmin returns the first minimum, matching the
    oracle's list_position(dl, list_min(dl))."""
    C = np.asarray(centroids, dtype=np.float64)
    schema = T.StructType([T.StructField("cluster", T.IntegerType()),
                           T.StructField("dist", T.DoubleType())])

    @F.pandas_udf(schema)
    def ass_udf(qs: pd.Series) -> pd.DataFrame:
        Q = np.asarray(qs.tolist(), dtype=np.float64)
        if len(Q) == 0:
            return pd.DataFrame({"cluster": [], "dist": []})
        D = H.seqdiffsq(Q, C)
        return pd.DataFrame(
            {"cluster": np.argmin(D, axis=1).astype(np.int32),
             "dist": D.min(axis=1)})

    return (qdf.withColumn("ad", ass_udf("q"))
            .select("vec_id", "q",
                    F.col("ad.cluster").alias("cluster"),
                    F.col("ad.dist").alias("dist")))


def _mindist_col(centers: list[list[float]]):
    """min dist² to the current center set as one Column — the kcenter
    init's per-round pass, one seqdiffsq Arrow kernel per batch."""
    C = np.asarray(centers, dtype=np.float64)

    @F.pandas_udf("double")
    def md_udf(qs: pd.Series) -> pd.Series:
        Q = np.asarray(qs.tolist(), dtype=np.float64)
        if len(Q) == 0:
            return pd.Series([], dtype=np.float64)
        return pd.Series(H.seqdiffsq(Q, C).min(axis=1))

    return md_udf("q")


def _round_sizes(k: int, rounds: int) -> list[int]:
    """How many centers each batched-farthest-first round adds: k-1
    centers spread over ``rounds`` rounds (earlier rounds take the
    remainder), matching the k-means|| shape of a CONSTANT number of
    passes each adding a batch of centers."""
    base, rem = divmod(k - 1, rounds)
    return [base + (1 if r < rem else 0) for r in range(rounds)]


def kcenter_init(qdf: DataFrame, n_centroids: int,
                 rounds: int = 2) -> list[list[float]]:
    """Deterministic scalable init: batched farthest-first traversal —
    the k-means|| schedule (a constant number of passes, each adding a
    BATCH of centers chosen by distance to the current set,
    Bahmani et al., VLDB'12) with the probabilistic draw replaced by the
    deterministic top-cost pick (dist² desc, vec_id asc), which keeps
    the whole chain oracle-expressible. Per round: one pass computing
    each point's min dist² to the current centers (seqdiffsq kernel
    against the driver's center list, no shuffle) + one TakeOrdered of
    the batch.
    Centers are k quantized vectors in pick order (seed point first)."""
    first = qdf.orderBy("vec_id").limit(1).collect()
    centers = [[float(x) for x in r["q"]] for r in first]
    chosen = [int(r["vec_id"]) for r in first]
    for batch in _round_sizes(n_centroids, rounds):
        if batch <= 0:
            continue
        picks = (qdf.filter(~F.col("vec_id").isin(chosen))
                 .withColumn("dist", _mindist_col(centers))
                 .orderBy(F.col("dist").desc(), F.col("vec_id"))
                 .limit(batch).collect())
        centers += [[float(x) for x in r["q"]] for r in picks]
        chosen += [int(r["vec_id"]) for r in picks]
    return centers


def kmeans_assign(e: DataFrame, n_centroids: int = 8, n_iter: int = 2,
                  id_col: str = "vec_id", vec_col: str = "v",
                  init: str = "smallest_ids", init_rounds: int = 2,
                  converge_stop: bool = True) -> DataFrame:
    """(vec_id, cluster, dist) after up to ``n_iter - 1`` Lloyd centroid
    updates, then a final assignment. ``dist`` is the squared
    fixed-point L2 to the final centroid, rounded to 6 (oracle
    contract).

    ``init``: "smallest_ids" (the k smallest ids' vectors — trivial,
    kept for the small-unroll parity tests) or "kcenter" (batched
    deterministic farthest-first, ``kcenter_init`` — the scalable
    default for real data, where smallest-ids init would be
    pathological).

    ``converge_stop``: stop the loop when an update leaves every
    centroid EXACTLY unchanged (possible because fixed-point sums make
    centroids deterministic reals, not merge-order noise). Stopping at
    the fixpoint is oracle-safe: once centroids repeat, further
    unrolled oracle rounds are no-ops, so a fixed-depth oracle >= the
    stop point matches bit-for-bit."""
    qdf = _quantized(e, id_col, vec_col).localCheckpoint(eager=True)
    if init == "kcenter":
        centroids = kcenter_init(qdf, n_centroids, init_rounds)
    elif init == "smallest_ids":
        rows = qdf.orderBy("vec_id").limit(n_centroids).collect()
        centroids = [[float(x) for x in r["q"]] for r in rows]
    else:
        raise ValueError(f"unknown init {init!r}")

    for _ in range(n_iter - 1):
        assigned = _assign(qdf, centroids)
        sums = (assigned.select("cluster", F.posexplode("q").alias("d", "x"))
                .groupBy("cluster", "d")
                .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
                .collect())
        by_cluster: dict[int, dict[int, float]] = {}
        for row in sums:
            by_cluster.setdefault(int(row["cluster"]), {})[int(row["d"])] = (
                float(row["s"]) / float(row["n"]))
        # an empty cluster keeps its previous centroid (deterministic)
        new_centroids = [
            [by_cluster[ci][d] for d in range(len(centroids[ci]))]
            if ci in by_cluster else centroids[ci]
            for ci in range(n_centroids)]
        if converge_stop and new_centroids == centroids:
            break
        centroids = new_centroids

    final = _assign(qdf, centroids)
    # report dist in ORIGINAL units: /SCALE^2 is an exact power-of-two
    # division (bit-identical on every engine), and rounding to 6 only
    # makes sense at ~1 magnitude — at the raw fixed-point ~1e12 scale,
    # 1e-6 is far below the double ULP and engines disagree in the last
    # printed digit.
    return final.select(
        "vec_id", "cluster",
        F.round(F.col("dist") / F.lit(float(SCALE) ** 2), 6).alias("dist"))


def kmeans_oracle_sql(n_centroids: int = 8, n_iter: int = 2, dims: int = 64,
                      table: str = "embeddings", id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      init: str = "smallest_ids",
                      init_rounds: int = 2) -> str:
    """DuckDB SQL unrolling the SAME init chain and ``n_iter`` Lloyd
    rounds: fixed-point quantization, the deterministic batched
    farthest-first init (when init="kcenter"), exact HUGEINT centroid
    sums, double-divide means, sequential-fold distances, first-min
    tie-break — assignments must match the Spark plan value-for-value.
    If the Spark side converge-stops before n_iter, the extra unrolled
    rounds here are exact no-ops (fixpoint), so the match still holds."""
    dsq = (f"list_reduce(list_prepend(0.0::DOUBLE, list_transform("
           f"range(1, {dims + 1}), i -> (q[i]::DOUBLE - c.cent[i])"
           f" * (q[i]::DOUBLE - c.cent[i]))), (a, x) -> a + x)")
    parts = [f"""q0 as materialized (select {id_col} as vec_id,
    list_transform({vec_col}::DOUBLE[], x -> round(x * {SCALE})::BIGINT) q
  from {table})"""]
    if init == "kcenter":
        # batched farthest-first: quantized ints are exact doubles, so
        # the p.q/c.q double subtraction equals Spark's q-vs-center
        # seqdiffsq fold bit-for-bit
        dsq_i = (f"list_reduce(list_prepend(0.0::DOUBLE, list_transform("
                 f"range(1, {dims + 1}), i -> (p.q[i]::DOUBLE - c.q[i]::DOUBLE)"
                 f" * (p.q[i]::DOUBLE - c.q[i]::DOUBLE))), (a, x) -> a + x)")
        parts.append(f"""ks0 as materialized (
  select vec_id, q, 0 as r, 0 as rk from q0 order by vec_id limit 1)""")
        prev_s = "ks0"
        for ri, batch in enumerate(_round_sizes(n_centroids, init_rounds), 1):
            if batch <= 0:
                continue
            parts.append(f"""d_i{ri} as materialized (
  select p.vec_id, any_value(p.q) as q, min({dsq_i}) as dist
  from q0 p cross join {prev_s} c
  where p.vec_id not in (select vec_id from {prev_s})
  group by p.vec_id),
p_i{ri} as materialized (
  select vec_id, q, {ri} as r,
         row_number() over (order by dist desc, vec_id) as rk
  from d_i{ri} order by dist desc, vec_id limit {batch}),
ks{ri} as materialized (select * from {prev_s} union all
          select vec_id, q, r, rk from p_i{ri})""")
            prev_s = f"ks{ri}"
        parts.append(f"""c0 as materialized (
  select row_number() over (order by r, rk) - 1 as cluster,
         list_transform(q, x -> x::DOUBLE) cent
  from {prev_s})""")
    else:
        parts.append(f"""c0 as materialized (
  select row_number() over (order by vec_id) - 1 as cluster,
    list_transform(q, x -> x::DOUBLE) cent
  from q0 order by vec_id limit {n_centroids})""")
    prev = "c0"
    for it in range(1, n_iter):
        parts.append(f"""d{it} as materialized (
  select q0.vec_id, q0.q, c.cluster, {dsq} as dist
  from q0 cross join {prev} c),
a{it} as materialized (
  select vec_id, any_value(q) as q, list(dist order by cluster) as dl
  from d{it} group by vec_id),
s{it} as materialized (
  select (list_position(dl, list_min(dl)) - 1) as cluster, r.d,
         sum(q[r.d])::HUGEINT as s, count(*) as n
  from a{it} cross join range(1, {dims + 1}) as r(d)
  group by cluster, r.d),
m{it} as materialized (select cluster, list(s::DOUBLE / n order by d) as cent
  from s{it} group by cluster),
c{it} as materialized (select p.cluster, coalesce(m.cent, p.cent) as cent
  from {prev} p left join m{it} m using (cluster))""")
        prev = f"c{it}"
    final = f"""df as (
  select q0.vec_id, c.cluster, {dsq} as dist
  from q0 cross join {prev} c),
af as (select vec_id, list(dist order by cluster) as dl from df
  group by vec_id)
select vec_id, (list_position(dl, list_min(dl)) - 1)::INTEGER as cluster,
       round(list_min(dl) / {float(SCALE) ** 2!r}, 6) as dist
from af"""
    return "with " + ",\n".join(parts) + ",\n" + final
