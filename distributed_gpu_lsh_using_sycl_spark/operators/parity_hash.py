"""Reference-parity hash families as DISTRIBUTED DataFrame plans: the
entropy-based (F4) and mixed (F5) families, completing the reference's
runtime-dispatched trio (hash_function_types.hpp:22-29; random
projections live in functions/hashing.py + the rp_parity query).

Unlike the random-projections family (stateless — pandas UDF suffices),
these two LEARN data-dependent cut-off points via a distributed sort +
order-statistic pick (entropy_based.cpp:56-122, mixed_hash_functions.cpp:
110-180 — the reference's odd-even MPI sort, our A7 analog as a
window-ranked shuffle). Both are JVM-side built-ins:

- projections: sequential-fold dot products (``aggregate(zip_with(..))``)
  whose FP summation order matches the reference's scalar loop, the numpy
  oracle's fold (hashing.seqdot) and DuckDB's list_reduce — bit-identical
  doubles on all three engines;
- hash_combine: the uint32 boost mix reproduced in masked int64 column
  arithmetic (hash_combine.hpp:23-32 — wrap == mask because every
  intermediate fits in 63 bits);
- cut-offs: exact distributed order statistics at the reference's indices.

The stateless chains here (random-projection buckets, hyperplane sign
bits, text SimHash) have exactly one implementation each: an
Arrow-batched numpy kernel on hashing.seqdot and the u32 hash_combine.

Each function has a DuckDB-SQL generator so the driver's oracle gate can
hash-compare the full chain (the pool/selection literals are re-derived
from the same seed).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.functions import hashing as H

_MASK = 0xFFFFFFFF
_C_ADD = 0x9E3779B9
_C_M1 = 0x21F0AAAD
_C_M2 = 0x735A2D97


def _hc_col(acc, x):
    """uint32 hash_combine (hash_combine.hpp:23-32) on bigint Columns:
    mask after every add/multiply == uint32 wrap (intermediates < 2^63)."""
    s1 = (acc + F.lit(_C_ADD) + x).bitwiseAND(F.lit(_MASK))
    s2 = s1.bitwiseXOR(F.shiftright(s1, 16))
    s3 = (s2 * F.lit(_C_M1)).bitwiseAND(F.lit(_MASK))
    s4 = s3.bitwiseXOR(F.shiftright(s3, 15))
    s5 = (s4 * F.lit(_C_M2)).bitwiseAND(F.lit(_MASK))
    return s5.bitwiseXOR(F.shiftright(s5, 15))


def _hc_sql(acc: str, x: str) -> str:
    """The same mix as DuckDB SQL (xor() function, & >> operators)."""
    s1 = f"(({acc} + {_C_ADD} + {x}) & {_MASK})"
    s2 = f"xor({s1}, {s1} >> 16)"
    s3 = f"(({s2} * {_C_M1}) & {_MASK})"
    s4 = f"xor({s3}, {s3} >> 15)"
    s5 = f"(({s4} * {_C_M2}) & {_MASK})"
    return f"xor({s5}, {s5} >> 15)"


def _fold_dot(vec_col, coeff_col, init):
    """Sequential-fold dot product column (see module docstring)."""
    return F.aggregate(F.zip_with(vec_col, coeff_col, lambda a, b: a * b),
                       init, lambda acc, x: acc + x)


def _arr_lit(vals) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]::DOUBLE[]"


def _require_dims(dims: int | None) -> int:
    """The embedding width every kernel here needs for its parameter
    draw. Callers state it: reading it off the frame would run a hidden
    Spark job per plan construction."""
    if dims is None:
        raise ValueError(
            "dims is required: pass the embedding width explicitly "
            "(e.g. dims=64 for the testdata embeddings table)")
    return dims


def _cutoff_sample(df: DataFrame, cfg: LshConfig, seed: int) -> DataFrame:
    """Deterministic hash-sample of the cut-off learning input
    (cfg.cutoff_sample_rate; see config.py). Partition-count-invariant
    (pure function of vec_id), so the sampled cut-offs — and therefore
    every bucket — are identical at any parallelism. rate<=0 or >=1 =
    exact path, untouched."""
    rate = cfg.cutoff_sample_rate
    if rate <= 0.0 or rate >= 1.0:
        return df
    return df.filter(
        F.pmod(F.xxhash64("vec_id", F.lit(seed + 7919)), F.lit(1_000_000))
        < F.lit(int(rate * 1_000_000)))


# --------------------------------------------------------------------------- #
# F4: entropy-based
# --------------------------------------------------------------------------- #

def entropy_buckets_df(e: DataFrame, cfg: LshConfig, seed: int,
                       id_col: str = "vec_id", vec_col: str = "v",
                       dims: int | None = None) -> DataFrame:
    """(id, vec) -> (vec_id, band_id, bucket) under the entropy-based
    family. Stages: broadcast pool crossJoin -> fold projections ->
    window-ranked order statistics (cut-offs) -> entropy hash counts ->
    hash_combine fold -> mod."""
    spark = e.sparkSession
    src = e.select(F.col(id_col).alias("vec_id"),
                   F.col(vec_col).cast("array<double>").alias("v"))
    dims = _require_dims(dims)
    pool, sel = H.entropy_params(seed, cfg.signature_pool_size, dims,
                                 cfg.num_bands, cfg.rows_per_band)
    cops = cfg.num_cut_off_points
    pool_df = spark.createDataFrame(
        [(p, [float(x) for x in pool[p]]) for p in range(pool.shape[0])],
        "p int, coeffs array<double>")
    sel_df = spark.createDataFrame(
        [(t, j, int(sel[t, j])) for t in range(sel.shape[0])
         for j in range(sel.shape[1])],
        "t int, j int, p int")

    proj = (src.crossJoin(F.broadcast(pool_df))
            .select("vec_id", "p",
                    _fold_dot(F.col("v"), F.col("coeffs"), F.lit(0.0)).alias("proj"))
            ).localCheckpoint(eager=True)  # reused: cut-off sort + eh stage

    # distributed exact order statistics at idx_c = (c+1) * (n // cops)
    # (entropy_based.cpp:103-107); rn is 1-based so the filter is on rn-1.
    # With cutoff_sample_rate set, the SAME order-statistic pick runs over
    # a deterministic sample (cut-offs approximate, sort ~rate*n rows).
    sort_src = _cutoff_sample(proj, cfg, seed)
    wp = W.partitionBy("p").orderBy("proj")
    ranked = sort_src.select(
        "p", "proj", F.row_number().over(wp).alias("rn"),
        F.count("*").over(W.partitionBy("p")).alias("n"))
    jump = (F.col("n") / F.lit(cops)).cast("long")
    cut = ranked.filter(
        ((F.col("rn") - 1) % jump == 0)
        & (((F.col("rn") - 1) / jump).cast("long").between(1, cops - 1)))
    # ascending cut values ARE cop order — one sorted array per function
    cuts = cut.groupBy("p").agg(F.array_sort(F.collect_list("proj")).alias("cuts"))

    ehs = (proj.join(F.broadcast(sel_df), "p")
           .join(F.broadcast(cuts), "p")
           .select("vec_id", "t", "j",
                   F.size(F.filter(F.col("cuts"),
                                   lambda c: F.col("proj") > c))
                   .cast("long").alias("eh")))
    folded = (ehs.groupBy("vec_id", "t")
              .agg(F.transform(F.array_sort(F.collect_list(F.struct("j", "eh"))),
                               lambda s: s["eh"]).alias("ehl")))
    k = cfg.rows_per_band
    bucket = F.pmod(
        F.aggregate(F.col("ehl"), F.lit(k).cast("long"), _hc_col),
        F.lit(cfg.bucket_modulus))
    return folded.select("vec_id", F.col("t").cast("int").alias("band_id"),
                         bucket.alias("bucket"))


def entropy_oracle_sql(cfg: LshConfig, dims: int, seed: int,
                       table: str = "embeddings", id_col: str = "vec_id",
                       vec_col: str = "embedding") -> str:
    """DuckDB SQL computing the identical chain (pool/selection literals
    re-derived from the same seed)."""
    pool, sel = H.entropy_params(seed, cfg.signature_pool_size, dims,
                                 cfg.num_bands, cfg.rows_per_band)
    cops, k = cfg.num_cut_off_points, cfg.rows_per_band
    pool_rows = ", ".join(f"({p}, {_arr_lit(pool[p])})" for p in range(pool.shape[0]))
    sel_rows = ", ".join(f"({t}, {j}, {int(sel[t, j])})"
                         for t in range(sel.shape[0]) for j in range(sel.shape[1]))
    return f"""
with pool(p, coeffs) as (values {pool_rows}),
sel(t, j, p) as (values {sel_rows}),
proj as (
  select e.{id_col} as vec_id, pool.p,
    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dims + 1}),
      i -> e.{vec_col}[i]::DOUBLE * pool.coeffs[i])), (acc, x) -> acc + x) as proj
  from {table} e cross join pool),
ranked as (select p, proj, row_number() over (partition by p order by proj) as rn,
                  count(*) over (partition by p) as n from proj),
cuts as (select p, list(proj order by proj) as cuts from ranked
         where (rn - 1) % (n // {cops}) = 0
           and (rn - 1) // (n // {cops}) between 1 and {cops - 1}
         group by p),
ehs as (select pr.vec_id, s.t, s.j,
          len(list_filter(c.cuts, x -> pr.proj > x))::BIGINT as eh
        from proj pr join sel s on pr.p = s.p join cuts c on c.p = s.p),
folded as (select vec_id, t, list(eh order by j) as ehl from ehs group by vec_id, t)
select vec_id, t::INTEGER as band_id,
  list_reduce(list_prepend({k}::BIGINT, ehl),
              (acc, x) -> {_hc_sql('acc', 'x')}) % {cfg.bucket_modulus} as bucket
from folded"""


# --------------------------------------------------------------------------- #
# F5: mixed
# --------------------------------------------------------------------------- #

def mixed_buckets_df(e: DataFrame, cfg: LshConfig, seed: int,
                     id_col: str = "vec_id", vec_col: str = "v",
                     dims: int | None = None) -> DataFrame:
    """(id, vec) -> (vec_id, band_id, bucket) under the mixed family:
    per-table sum of truncated projections, learned per-table cut-offs
    (remainder-distributed indices), count-of-exceeded as the hash, modulo
    the CLAMPED table size (nearest_neighbors.cpp:52-56)."""
    spark = e.sparkSession
    src = e.select(F.col(id_col).alias("vec_id"),
                   F.col(vec_col).cast("array<double>").alias("v"))
    dims = _require_dims(dims)
    pool, sel = H.mixed_params(seed, cfg.signature_pool_size, dims, cfg.w,
                               cfg.num_bands, cfg.rows_per_band)
    cops = cfg.num_cut_off_points
    funcs_df = spark.createDataFrame(
        [(t, j, [float(x) for x in pool[sel[t, j], :dims]],
          float(pool[sel[t, j], dims]))
         for t in range(sel.shape[0]) for j in range(sel.shape[1])],
        "t int, j int, coeffs array<double>, bias double")

    # value_t = sum_j trunc((bias + a.x) / w): doubles fold like the
    # reference's scalar loop; the truncated ints sum EXACTLY in int64
    q = (src.crossJoin(F.broadcast(funcs_df))
         .select("vec_id", "t",
                 (_fold_dot(F.col("v"), F.col("coeffs"), F.col("bias"))
                  / F.lit(float(cfg.w))).cast("long").alias("q")))
    vals = (q.groupBy("vec_id", "t").agg(F.sum("q").alias("value"))
            ).localCheckpoint(eager=True)  # reused: cut-off sort + compare

    # cut-off indices with remainder distribution (mixed_hash_functions.
    # cpp:160-166): idx_c = c*jump + min(c, rem), c in 1..cops-1; a rank
    # matches iff one of the two congruence branches hits (c <= rem vs >).
    # cutoff_sample_rate: same pick over a deterministic sample (see
    # _cutoff_sample; exact parity path when 0).
    sort_src = _cutoff_sample(vals, cfg, seed)
    wt = W.partitionBy("t").orderBy("value", "vec_id")
    ranked = sort_src.select(
        "t", "value", (F.row_number().over(wt) - 1).alias("i"),
        F.count("*").over(W.partitionBy("t")).alias("n"))
    jump = (F.col("n") / F.lit(cops)).cast("long")
    rem = F.col("n") % F.lit(cops)
    c1 = (F.col("i") / (jump + 1)).cast("long")
    b1 = ((F.col("i") % (jump + 1) == 0)
          & (c1 >= 1) & (c1 <= F.least(rem, F.lit(cops - 1))))
    c2 = ((F.col("i") - rem) / jump).cast("long")
    b2 = (((F.col("i") - rem) % jump == 0)
          & (c2 > rem) & (c2 <= cops - 1))
    cuts = (ranked.filter(b1 | b2)
            .groupBy("t").agg(F.array_sort(F.collect_list("value")).alias("cuts")))

    clamp = min(cfg.bucket_modulus, cops)
    return (vals.join(F.broadcast(cuts), "t")
            .select("vec_id", F.col("t").cast("int").alias("band_id"),
                    F.pmod(F.size(F.filter(F.col("cuts"),
                                           lambda c: F.col("value") > c))
                           .cast("long"), F.lit(clamp)).alias("bucket")))


def mixed_oracle_sql(cfg: LshConfig, dims: int, seed: int,
                     table: str = "embeddings", id_col: str = "vec_id",
                     vec_col: str = "embedding") -> str:
    pool, sel = H.mixed_params(seed, cfg.signature_pool_size, dims, cfg.w,
                               cfg.num_bands, cfg.rows_per_band)
    cops = cfg.num_cut_off_points
    clamp = min(cfg.bucket_modulus, cops)
    func_rows = ", ".join(
        f"({t}, {j}, {_arr_lit(pool[sel[t, j], :dims])}, "
        f"{repr(float(pool[sel[t, j], dims]))}::DOUBLE)"
        for t in range(sel.shape[0]) for j in range(sel.shape[1]))
    return f"""
with funcs(t, j, coeffs, bias) as (values {func_rows}),
q as (
  select e.{id_col} as vec_id, funcs.t,
    trunc(list_reduce(list_prepend(funcs.bias, list_transform(range(1, {dims + 1}),
      i -> e.{vec_col}[i]::DOUBLE * funcs.coeffs[i])), (acc, x) -> acc + x)
      / ({repr(float(cfg.w))}::DOUBLE))::BIGINT as q
  from {table} e cross join funcs),
vals as (select vec_id, t, sum(q)::BIGINT as value from q group by vec_id, t),
ranked as (select t, value, row_number() over
             (partition by t order by value, vec_id) - 1 as i,
           count(*) over (partition by t) as n from vals),
cuts as (select t, list(value order by value) as cuts from ranked
         where (i % (n // {cops} + 1) = 0
                and i // (n // {cops} + 1) between 1
                    and least(n % {cops}, {cops - 1}))
            or ((i - n % {cops}) % (n // {cops}) = 0
                and (i - n % {cops}) // (n // {cops}) > n % {cops}
                and (i - n % {cops}) // (n // {cops}) <= {cops - 1})
         group by t)
select v.vec_id, v.t::INTEGER as band_id,
  (len(list_filter(c.cuts, x -> v.value > x))::BIGINT) % {clamp} as bucket
from vals v join cuts c on v.t = c.t"""


# --------------------------------------------------------------------------- #
# F3: random projections (Arrow kernel) + DuckDB oracle
# --------------------------------------------------------------------------- #

def rp_buckets_df(e: DataFrame, cfg: LshConfig,
                  id_col: str = "vec_id", vec_col: str = "v",
                  dims: int | None = None) -> DataFrame:
    """Random-projections bucket assignment (random_projections.hpp:72-85
    chain): fixed affine map into the reference's [0,1] input domain
    (generate_data.py:44-46), fold-dot projections, floor-quantize,
    u32-wrap, hash_combine fold from rows_per_band, mod bucket_modulus.

    Same chain as functions.hashing.random_projection_buckets but with the
    SEQUENTIAL FP summation order, run as ONE Arrow-batched numpy kernel
    per batch (hashing.random_projection_buckets_seq — seqdot projections
    + the u32 hash_combine), so the DuckDB oracle (rp_oracle_sql,
    list_reduce fold) hash-matches bit-exactly; the numpy recomputation
    in tests/test_parity_hash.py pins the same chain in pytest."""
    dims = _require_dims(dims)
    funcs = H.random_projection_pool(
        cfg.seed, cfg.num_bands, cfg.rows_per_band,
        cfg.signature_pool_size, dims, cfg.w)
    w, modulus = float(cfg.w), cfg.bucket_modulus

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def rp_udf(vs: pd.Series) -> pd.Series:
        V = np.asarray(vs.tolist(), dtype=np.float64)
        if len(V) == 0:
            return pd.Series([], dtype=object)
        V01 = np.minimum(np.maximum((V + 1.0) * 0.5, 0.0), 1.0)
        return pd.Series(
            H.random_projection_buckets_seq(V01, funcs, w,
                                            modulus).tolist())

    return (e.select(F.col(id_col).alias("vec_id"),
                     rp_udf(F.col(vec_col).cast("array<double>"))
                     .alias("bk"))
            .select("vec_id",
                    F.posexplode("bk").alias("band_id", "bucket")))


def _rp_bucket_ctes(cfg: LshConfig, dims: int,
                    table: str = "embeddings", id_col: str = "vec_id",
                    vec_col: str = "embedding") -> str:
    """CTE block (no leading WITH) ending in rpb(vec_id, band_id, bucket)
    — the composable form of the random-projections chain, shared by
    rp_oracle_sql and lsh_knn_oracle_sql."""
    funcs = H.random_projection_pool(cfg.seed, cfg.num_bands, cfg.rows_per_band,
                                     cfg.signature_pool_size, dims, cfg.w)
    func_rows = ", ".join(
        f"({t}, {j}, {_arr_lit(funcs[t, j, :dims])}, "
        f"{repr(float(funcs[t, j, dims]))}::DOUBLE)"
        for t in range(cfg.num_bands) for j in range(cfg.rows_per_band))
    k = cfg.rows_per_band
    return f"""funcs(t, j, coeffs, bias) as (values {func_rows}),
scaled as (
  select {id_col} as vec_id,
    list_transform({vec_col}, x -> least(greatest((x::DOUBLE + 1.0) * 0.5,
                                                  0.0), 1.0)) as v
  from {table}),
q as (
  select s.vec_id, funcs.t, funcs.j,
    (floor((list_reduce(list_prepend(0.0::DOUBLE, list_transform(
        range(1, {dims + 1}), i -> s.v[i] * funcs.coeffs[i])),
        (acc, x) -> acc + x) + funcs.bias)
      / {repr(float(cfg.w))}::DOUBLE)::BIGINT & {_MASK}) as q
  from scaled s cross join funcs),
folded as (select vec_id, t, list(q order by j) as ql from q group by vec_id, t),
rpb as (select vec_id, t::INTEGER as band_id,
  list_reduce(list_prepend({k}::BIGINT, ql),
              (acc, x) -> {_hc_sql('acc', 'x')}) % {cfg.bucket_modulus} as bucket
from folded)"""


def rp_oracle_sql(cfg: LshConfig, dims: int,
                  table: str = "embeddings", id_col: str = "vec_id",
                  vec_col: str = "embedding") -> str:
    """DuckDB SQL computing the identical random-projections chain."""
    return (f"with {_rp_bucket_ctes(cfg, dims, table, id_col, vec_col)}\n"
            f"select vec_id, band_id, bucket from rpb")


def lsh_knn_oracle_sql(cfg: LshConfig, dims: int, k: int,
                       table: str = "embeddings", id_col: str = "vec_id",
                       vec_col: str = "embedding") -> str:
    """DuckDB SQL recomputing the ENTIRE reference kNN query
    (lsh_knn.lsh_kneighbors, random_projections family): the rp bucket
    chain, the any-table bucket-scan candidate set (self excluded), the
    sequential-fold squared-L2 re-rank with id tie-break, and the own-id /
    -1.0 fill for not-found slots (nearest_neighbors.cpp:99-131)."""
    dsq = (f"list_reduce(list_prepend(0.0::DOUBLE, list_transform("
           f"range(1, {dims + 1}), "
           f"i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))), "
           f"(acc, x) -> acc + x)")
    return f"""
with {_rp_bucket_ctes(cfg, dims, table, id_col, vec_col)},
vec as (select {id_col} as vec_id, {vec_col}::DOUBLE[] as v from {table}),
cand as (select distinct x.vec_id as q, y.vec_id as m
         from rpb x join rpb y
           on x.band_id = y.band_id and x.bucket = y.bucket
         where x.vec_id <> y.vec_id),
d as (select c.q, c.m, {dsq} as dsq
      from cand c join vec a on a.vec_id = c.q join vec b on b.vec_id = c.m),
r as (select q, m, dsq,
        row_number() over (partition by q order by dsq, m) as rank from d),
slots as (select {id_col} as vec_id, unnest(range(1, {k + 1})) as rank
          from {table})
select s.vec_id, s.rank::INTEGER as rank,
       coalesce(r.m, s.vec_id) as neighbor_id,
       round(coalesce(r.dsq, -1.0), 6) as dist_sq
from slots s left join r on r.q = s.vec_id and r.rank = s.rank"""


# --------------------------------------------------------------------------- #
# Hyperplane (Charikar sign-bit) tables (Arrow kernel) + DuckDB oracle
# --------------------------------------------------------------------------- #

def hyperplane_bucket_col(vec: Column, n_tables: int, bits: int, seed: int,
                          dims: int | None = None) -> Column:
    """Per-row array of ``n_tables`` bucket ids of ``bits`` sign bits each
    (Charikar SimHash for cosine), the one sign-bit kernel of the vector
    operators. Projections are SEQUENTIAL fold dots (one hashing.seqdot
    Arrow kernel per batch), bit-identical to the DuckDB oracle
    (ann_oracle_sql). Evaluate it on the job that materializes the
    vectors and posexplode the bands from there (``hyperplane_bands``),
    so the kernel runs once however many plans read the bands."""
    dims = _require_dims(dims)
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        hyperplane_planes)

    planes = hyperplane_planes(seed, n_tables * bits, dims)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def hp_udf(vs: pd.Series) -> pd.Series:
        V = np.asarray(vs.tolist(), dtype=np.float64)
        if len(V) == 0:
            return pd.Series([], dtype=object)
        signs = H.seqdot(V, planes) > 0  # (n, n_tables*bits)
        b = signs.reshape(len(V), n_tables, bits) @ weights
        return pd.Series(b.tolist())

    return hp_udf(vec.cast("array<double>"))


def hyperplane_bands(e: DataFrame, id_col: str = "vec_id",
                     bk_col: str = "bk") -> DataFrame:
    """(id, bucket array) -> (image_id, band_id, bucket)."""
    return e.select(F.col(id_col).alias("image_id"),
                    F.posexplode(bk_col).alias("band_id", "bucket"))


def hyperplane_buckets_df(e: DataFrame, n_tables: int, bits: int, seed: int,
                          id_col: str = "vec_id", vec_col: str = "v",
                          dims: int | None = None) -> DataFrame:
    """(id, vec) -> (image_id, band_id, bucket): ``hyperplane_bucket_col``
    posexploded."""
    return hyperplane_bands(e.select(
        id_col, hyperplane_bucket_col(F.col(vec_col), n_tables, bits, seed,
                                      dims).alias("bk")), id_col)


def ann_oracle_sql(n_tables: int, bits: int, seed: int, dims: int, k: int,
                   table: str = "embeddings", id_col: str = "vec_id",
                   vec_col: str = "embedding") -> str:
    """DuckDB SQL for the FULL multi-table ANN top-k: sign-bit buckets
    (identical fold) -> bucket-join candidate union (the OR-construction,
    hash_tables.hpp:566-578) -> exact cosine re-rank, (-sim, id) order.

    Valid while no (table, bucket) exceeds cfg.max_bucket_size — the
    salt/hot-split machinery changes only task shapes, never the pair set.
    """
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        hyperplane_planes)

    planes = hyperplane_planes(seed, n_tables * bits, dims)
    func_rows = ", ".join(
        f"({p // bits}, {1 << (p % bits)}, {_arr_lit(planes[p])})"
        for p in range(n_tables * bits))
    fold = (f"list_reduce(list_prepend(0.0::DOUBLE, list_transform("
            f"range(1, {dims + 1}), i -> a.v[i] * b.v[i])), (acc, x) -> acc + x)")
    return f"""
with planes(t, wt, coeffs) as (values {func_rows}),
proj as (
  select e.{id_col} as vec_id, p.t, p.wt,
    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {dims + 1}),
      i -> e.{vec_col}[i]::DOUBLE * p.coeffs[i])), (acc, x) -> acc + x) as proj
  from {table} e cross join planes p),
bk as (select vec_id, t, sum(case when proj > 0 then wt else 0 end)::BIGINT
         as bucket from proj group by vec_id, t),
cand as (select distinct least(x.vec_id, y.vec_id) as a,
                greatest(x.vec_id, y.vec_id) as b
         from bk x join bk y on x.t = y.t and x.bucket = y.bucket
              and x.vec_id <> y.vec_id),
sym as (select a as vec_id, b as neighbor_id from cand
        union all select b as vec_id, a as neighbor_id from cand),
vec as (select {id_col} as vec_id,
          list_transform({vec_col}, x -> x::DOUBLE) as v,
          sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(
            range(1, {dims + 1}),
            i -> {vec_col}[i]::DOUBLE * {vec_col}[i]::DOUBLE)),
            (acc, x) -> acc + x)) as norm
        from {table}),
sims as (select s.vec_id, s.neighbor_id,
           round({fold} / (a.norm * b.norm), 6) as sim
         from sym s join vec a on a.vec_id = s.vec_id
              join vec b on b.vec_id = s.neighbor_id)
select vec_id, neighbor_id, rank, sim from (
  select vec_id, neighbor_id, sim,
    row_number() over (partition by vec_id
                       order by sim desc, neighbor_id)::INTEGER as rank
  from sims) where rank <= {k}"""


# --------------------------------------------------------------------------- #
# IVF-flat coarse quantizer (embedding.ivf_topk) as DuckDB SQL
# --------------------------------------------------------------------------- #

def _sql_fold(a: str, b: str, dims: int) -> str:
    """Sequential-fold dot product of two DOUBLE[] expressions — the same
    FP order as hashing.seqdot, the Spark-side kernel (and as
    embedding.dot_col's aggregate(zip_with(..)) fold)."""
    return (f"list_reduce(list_prepend(0.0::DOUBLE, list_transform("
            f"range(1, {dims + 1}), i -> {a}[i] * {b}[i])), "
            f"(acc, x) -> acc + x)")


def ivf_oracle_sql(dims: int, k: int = 5, n_centroids: int = 16,
                   nprobe: int = 4, table: str = "embeddings",
                   id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    """DuckDB SQL recomputing the ENTIRE IVF structure of
    embedding.ivf_topk: deterministic smallest-id centroids, rounded-cosine
    nearest-centroid assignment (centroid-id tie-break), nprobe probe set,
    exact candidate re-rank under (-sim, id)."""
    fold = _sql_fold("a.v", "b.v", dims)
    dv = f"list_transform({vec_col}, x -> x::DOUBLE)"
    return f"""
with vec as (select {id_col} as vec_id, {dv} as v,
               sqrt({_sql_fold(dv, dv, dims)}) as norm
             from {table}),
cents as (select vec_id as cent_id, v as cv, norm as cnorm from vec
          order by vec_id limit {n_centroids}),
simc as (select v.vec_id, c.cent_id,
           round({_sql_fold('v.v', 'c.cv', dims)} / (v.norm * c.cnorm), 6)
             as csim
         from vec v cross join cents c),
ranked as (select vec_id, cent_id, row_number() over
             (partition by vec_id order by csim desc, cent_id) as rn
           from simc),
assign as (select vec_id as m, cent_id from ranked where rn = 1),
probes as (select vec_id as q, cent_id from ranked where rn <= {nprobe}),
cand as (select distinct p.q, a.m from probes p join assign a using (cent_id)
         where p.q <> a.m),
sims as (select c.q as vec_id, c.m as neighbor_id,
           round({fold} / (a.norm * b.norm), 6) as sim
         from cand c join vec a on a.vec_id = c.q
              join vec b on b.vec_id = c.m)
select vec_id, neighbor_id, rank, sim from (
  select vec_id, neighbor_id, sim,
    row_number() over (partition by vec_id
                       order by sim desc, neighbor_id)::INTEGER as rank
  from sims) where rank <= {k}"""


def _kcenter_cents_parts(dims: int, n_cents: int, rounds: int, table: str,
                         id_col: str, vec_col: str,
                         rank_name: str) -> list[str]:
    """CTE chain computing ``embedding.kcenter_cents`` in DuckDB: the
    batched deterministic farthest-first init (identical to
    kmeans_oracle_sql's kcenter branch — fixed-point quantization, exact
    double distances, (dist desc, vec_id) picks), ending in a ``cents``
    CTE of (``rank_name`` = pick order, cv = centers mapped back to
    original units by an exact /2^20). Shared by the IVF-flat and
    IVF-PQ kcenter oracles."""
    from distributed_gpu_lsh_using_sycl_spark.operators.kmeans import (
        SCALE, _round_sizes)

    dsq_i = (f"list_reduce(list_prepend(0.0::DOUBLE, list_transform("
             f"range(1, {dims + 1}), i -> (p.q[i]::DOUBLE - c.q[i]::DOUBLE)"
             f" * (p.q[i]::DOUBLE - c.q[i]::DOUBLE))), (a, x) -> a + x)")
    parts = [f"""q0 as materialized (select {id_col} as vec_id,
    list_transform({vec_col}::DOUBLE[], x -> round(x * {SCALE})::BIGINT) q
  from {table})""",
             """ks0 as materialized (
  select vec_id, q, 0 as r, 0 as rk from q0 order by vec_id limit 1)"""]
    prev_s = "ks0"
    for ri, batch in enumerate(_round_sizes(n_cents, rounds), 1):
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
    parts.append(f"""cents as materialized (
  select row_number() over (order by r, rk) - 1 as {rank_name},
         list_transform(q, x -> x::DOUBLE / {SCALE}) as cv
  from {prev_s})""")
    return parts


def ivf_kcenter_oracle_sql(dims: int, k: int = 5, n_centroids: int = 16,
                           nprobe: int = 4, rounds: int = 2,
                           table: str = "embeddings",
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> str:
    """DuckDB SQL recomputing ``embedding.ivf_topk`` with the
    DATA-ADAPTIVE quantizer (``embedding.kcenter_cents``,
    ``_kcenter_cents_parts``), then the same rounded-cosine assignment /
    nprobe probe / exact re-rank as ivf_oracle_sql. Proves the
    docstrings' claim that swapping the quantizer changes only the
    ``cents`` frame: the ranking SQL below is ivf_oracle_sql's verbatim,
    only ``cents`` differs."""
    parts = _kcenter_cents_parts(dims, n_centroids, rounds, table,
                                 id_col, vec_col, rank_name="cent_id")
    dv = f"list_transform({vec_col}, x -> x::DOUBLE)"
    fold = _sql_fold("a.v", "b.v", dims)
    parts.append(f"""centn as materialized (
  select cent_id, cv, sqrt({_sql_fold('cv', 'cv', dims)}) as cnorm
  from cents),
vec as materialized (select {id_col} as vec_id, {dv} as v,
               sqrt({_sql_fold(dv, dv, dims)}) as norm
             from {table}),
simc as materialized (select v.vec_id, c.cent_id,
           round({_sql_fold('v.v', 'c.cv', dims)} / (v.norm * c.cnorm), 6)
             as csim
         from vec v cross join centn c),
ranked as materialized (select vec_id, cent_id, row_number() over
             (partition by vec_id order by csim desc, cent_id) as rn
           from simc),
assign as (select vec_id as m, cent_id from ranked where rn = 1),
probes as (select vec_id as q, cent_id from ranked where rn <= {nprobe}),
cand as materialized (
  select distinct p.q, a.m from probes p join assign a using (cent_id)
         where p.q <> a.m),
sims as (select c.q as vec_id, c.m as neighbor_id,
           round({fold} / (a.norm * b.norm), 6) as sim
         from cand c join vec a on a.vec_id = c.q
              join vec b on b.vec_id = c.m)""")
    return ("with " + ",\n".join(parts) + """
select vec_id, neighbor_id, rank, sim from (
  select vec_id, neighbor_id, sim,
    row_number() over (partition by vec_id
                       order by sim desc, neighbor_id)::INTEGER as rank
  from sims) where rank <= """ + str(k))


def _sql_fold_diff(a: str, b: str, n: int, off: str = "0") -> str:
    """Sequential-fold squared L2 distance of two DOUBLE[] expressions
    over ``n`` dims starting after offset ``off`` (a SQL expression) —
    same FP order as hashing.seqdiffsq, the Spark-side kernel."""
    return (f"list_reduce(list_prepend(0.0::DOUBLE, list_transform("
            f"range(1, {n + 1}), i -> ({a}[{off}+i] - {b}[{off}+i]) * "
            f"({a}[{off}+i] - {b}[{off}+i]))), (acc, x) -> acc + x)")


def ivfpq_oracle_sql(dims: int, k: int = 5, n_centroids: int = 16,
                     nprobe: int = 4, n_sub: int = 8, ks: int = 16,
                     table: str = "embeddings", id_col: str = "vec_id",
                     vec_col: str = "embedding") -> str:
    """DuckDB SQL recomputing the ENTIRE IVF-PQ structure of
    embedding.ivfpq_topk: deterministic coarse centroids + PQ codebooks
    (smallest-id rows), fixed-point-micros sub-distances (identical
    sequential fold), argmin codes with rank tie-break, integer ADC sums,
    (adc asc, id asc) ranking. CTEs are materialized — DuckDB re-inlines
    deep chains exponentially otherwise."""
    vec = (f"""vec as materialized (
  select {id_col} as vec_id, list_transform({vec_col}, x -> x::DOUBLE) as v
  from {table})""")
    cents = (f"""cents as materialized (
  select row_number() over (order by vec_id) - 1 as crank, v as cv
  from (select * from vec order by vec_id limit {max(n_centroids, ks)}))""")
    return ("with " + ",\n".join(
        [vec, cents]
        + _ivfpq_chain_parts(dims, n_centroids, nprobe, n_sub, ks))
        + _ivfpq_final(k))


def ivfpq_kcenter_oracle_sql(dims: int, k: int = 5, n_centroids: int = 16,
                             nprobe: int = 4, n_sub: int = 8, ks: int = 16,
                             rounds: int = 2, table: str = "embeddings",
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> str:
    """DuckDB SQL recomputing ``embedding.ivfpq_topk`` with the
    DATA-ADAPTIVE coarse quantizer AND PQ codebook source
    (``embedding.kcenter_cents`` over max(n_centroids, ks) centers):
    the shared farthest-first init chain (``_kcenter_cents_parts``)
    followed by ivfpq_oracle_sql's ranking chain VERBATIM
    (``_ivfpq_chain_parts``) — only the ``cents`` CTE differs, proving
    the swap touches nothing else."""
    parts = _kcenter_cents_parts(dims, max(n_centroids, ks), rounds, table,
                                 id_col, vec_col, rank_name="crank")
    parts.append(f"""vec as materialized (
  select {id_col} as vec_id, list_transform({vec_col}, x -> x::DOUBLE) as v
  from {table})""")
    return ("with " + ",\n".join(
        parts + _ivfpq_chain_parts(dims, n_centroids, nprobe, n_sub, ks))
        + _ivfpq_final(k))


def _ivfpq_chain_parts(dims: int, n_centroids: int, nprobe: int,
                       n_sub: int, ks: int) -> list[str]:
    """The IVF-PQ ranking chain (coarse cells → probe candidates → PQ
    sub-distances → codes → ADC sums) as CTEs over two predecessors:
    ``vec(vec_id, v)`` and ``cents(crank, cv)``. Shared verbatim by the
    smallest-id and kcenter oracles."""
    sub = dims // n_sub
    cfold = _sql_fold_diff("v.v", "c.cv", dims)
    sfold = _sql_fold_diff("v.v", "s.scv", sub, off="s.sub_m*" + str(sub))
    return [f"""csd as materialized (
  select v.vec_id,
    cast(round({cfold} * 1000000) as bigint) * {n_centroids} + c.crank as key
  from vec v cross join (select * from cents where crank < {n_centroids}) c),
cranked as materialized (
  select vec_id, key % {n_centroids} as cell,
    row_number() over (partition by vec_id order by key) as rn
  from csd),
cand as materialized (
  select distinct p.vec_id as q, a.vec_id as x
  from (select vec_id, cell from cranked where rn <= {nprobe}) p
  join (select vec_id, cell from cranked where rn = 1) a using (cell)
  where p.vec_id <> a.vec_id),
subs as materialized (
  select c.crank as c, m.sub_m, c.cv as scv
  from (select * from cents where crank < {ks}) c
  cross join (select unnest(range(0, {n_sub})) as sub_m) m),
subd as materialized (
  select v.vec_id, s.sub_m, s.c,
    cast(round({sfold} * 1000000) as bigint) as sdi
  from vec v cross join subs s),
codes as materialized (
  select vec_id as xid, sub_m, min(sdi * {ks} + c) % {ks} as code
  from subd group by vec_id, sub_m),
adc as materialized (
  select cd.q, cd.x, sum(d.sdi) as adci
  from cand cd
  join codes co on co.xid = cd.x
  join subd d on d.vec_id = cd.q and d.sub_m = co.sub_m and d.c = co.code
  group by cd.q, cd.x)"""]


def _ivfpq_final(k: int) -> str:
    return f"""
select q as vec_id, x as neighbor_id, rank, adc_dist from (
  select q, x, row_number() over (partition by q order by adci, x)::INTEGER
           as rank,
         (adci::DOUBLE) / 1000000 as adc_dist
  from adc) where rank <= {k}"""


# --------------------------------------------------------------------------- #
# Text SimHash — Arrow kernel == DuckDB SQL, bit-exact
# --------------------------------------------------------------------------- #

def doc_simhash_col(text_col, k: int = 3):
    """64-bit text SimHash as a Column, reproducible in DuckDB SQL
    (doc_simhash_oracle_sql) for the driver's value-hash gate.

    Chain: distinct word-k-shingles (the signatures._JAVA_WS tokenizer,
    == signatures.shingles_col) → per shingle a uint32 hash_combine fold
    over the character code points (hash_combine.hpp:23-32 constants;
    seed = k, mirroring the reference's seeding of the u64 chain with
    the shingle size) → two decorrelated 32-bit words hc(h,1) / hc(h,2)
    → independent 32-bit bit-vote fingerprints → hi<<32 | lo. Shingle
    ORDER never matters (votes are sums), so any distinct-shingle order
    agrees with DuckDB's list_distinct.

    Runs as one Arrow-batched numpy kernel per batch
    (``_doc_simhash_batch``, pinned against the scalar python oracle in
    tests/test_doc_simhash.py). BMP-character contract: DuckDB's ord()
    and the kernel's UTF-16-LE code units agree on BMP text."""
    @F.pandas_udf(T.LongType())
    def sh_udf(texts: pd.Series) -> pd.Series:
        return _doc_simhash_batch(texts, k)

    return sh_udf(text_col)


def _doc_simhash_batch(texts: pd.Series, k: int) -> pd.Series:
    """The doc-simhash chain over one Arrow batch: the shingle grams come
    from the exact Python tokenizer twin (signatures._JAVA_WS split
    semantics), the per-shingle character fold is hash_combine_u32 over
    UTF-16-LE code units (== DuckDB ord() on BMP text), and the two
    32-bit bit-vote fingerprints are computed with one reduceat per word.
    NULL text -> NULL simhash; zero shingles -> 0 (all votes zero)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.signatures import (
        _JAVA_WS)

    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    isnull = np.zeros(n, dtype=bool)
    flat: list[str] = []
    counts = np.zeros(n, dtype=np.int64)
    for i, t in enumerate(texts):
        if t is None:
            isnull[i] = True
            continue
        toks = [x for x in _JAVA_WS.split(t.strip(" ").lower()) if x]
        nt = len(toks)
        if nt == 0:
            continue
        if nt < k:
            grams = [" ".join(toks)]
        else:
            grams = [" ".join(toks[j:j + k]) for j in range(nt - k + 1)]
        seen: set[str] = set()
        for g in grams:
            if g not in seen:
                seen.add(g)
                flat.append(g)
        counts[i] = len(seen)
    if flat:
        lens = np.array([len(s.encode("utf-16-le")) // 2 for s in flat],
                        dtype=np.int64)
        cat = "".join(flat)
        units = np.frombuffer(cat.encode("utf-16-le"), dtype=np.uint16)
        maxlen = int(lens.max())
        total = len(flat)
        buf = np.zeros((total, maxlen), dtype=np.uint32)
        mask = np.arange(maxlen)[None, :] < lens[:, None]
        buf[mask] = units
        acc = np.full(total, np.uint32(k), dtype=H.U32)
        for pos in range(maxlen):
            live = lens > pos
            acc[live] = H.hash_combine_u32(acc[live], buf[live, pos])
        his = H.hash_combine_u32(acc, np.uint32(1))
        los = H.hash_combine_u32(acc, np.uint32(2))
        offsets = np.concatenate([[0], np.cumsum(counts)])[:-1]
        has = counts > 0
        bitsel = np.arange(32, dtype=np.uint32)[None, :]
        pow2 = (np.uint64(1) << np.arange(32, dtype=np.uint64))
        words = np.zeros((n, 2), dtype=np.uint64)
        for wi, h in enumerate((his, los)):
            contrib = (((h[:, None] >> bitsel) & 1).astype(np.int64) * 2 - 1)
            votes = np.add.reduceat(contrib, offsets[has], axis=0)
            words[has, wi] = ((votes > 0) * pow2[None, :]).sum(axis=1)
        out = ((words[:, 0] << np.uint64(32)) | words[:, 1]).view(np.int64)
    return pd.Series([None if isnull[i] else int(out[i]) for i in range(n)],
                     dtype="Int64")


def _sql_fp32(col: str) -> str:
    """DuckDB 32-bit bit-vote fingerprint of a BIGINT[] of 32-bit words:
    bit set iff the vote sum is strictly positive (hashing.simhash64's
    ``sums > 0`` rule, == _doc_simhash_batch's per-word votes)."""
    vote = (f"coalesce(list_sum(list_transform({col}, "
            f"x -> case when ((x >> b) & 1) = 1 then 1 else -1 end)), 0)")
    return (f"coalesce(list_sum(list_transform(range(0, 32), "
            f"b -> case when {vote} > 0 then (1::BIGINT << b) "
            f"else 0::BIGINT end)), 0)::BIGINT")


def doc_simhash_oracle_sql(k: int = 3, hamming_threshold: int = 8,
                           table: str = "documents", id_col: str = "doc_id",
                           text_col: str = "text") -> str:
    """Brute-force (a, b, hamming) pairs at hamming <= threshold, with the
    ENTIRE simhash chain recomputed in DuckDB — shingling, the uint32
    hash_combine char fold, the hi/lo word derivation and the bit votes
    are all re-expressed in SQL, so the Spark side's banded blocking
    (banding.hamming_pairs, recall exactly 1.0 at the threshold) must reproduce
    this set value-for-value."""
    fold = (f"list_reduce(list_prepend({k}::BIGINT, "
            f"list_transform(string_split(sg, ''), c -> ord(c)::BIGINT)), "
            f"(acc, c) -> {_hc_sql('acc', 'c')})")
    kgram = " || ' ' || ".join(f"words[i+{j}]" for j in range(k))
    return f"""
with toks as (select {id_col} as doc_id, list_filter(
        regexp_split_to_array(lower(trim({text_col})), '\\s+'),
        x -> x <> '') words from {table}),
sh as (select doc_id,
        case when len(words) = 0 then []::varchar[]
             when len(words) < {k} then [array_to_string(words, ' ')]
             else list_distinct(list_transform(
                    range(1, len(words) - {k - 2}), i -> {kgram})) end s
       from toks),
hs as (select doc_id, list_transform(s, sg -> {fold}) h32 from sh),
hl as (select doc_id,
        list_transform(h32, x -> {_hc_sql('x', '1')}) hi,
        list_transform(h32, x -> {_hc_sql('x', '2')}) lo
       from hs),
f as (select doc_id, {_sql_fp32('hi')} fhi, {_sql_fp32('lo')} flo from hl)
select a.doc_id as a, b.doc_id as b,
       (bit_count(xor(a.fhi, b.fhi)) + bit_count(xor(a.flo, b.flo)))::INT
         as hamming
from f a join f b on a.doc_id < b.doc_id
where bit_count(xor(a.fhi, b.fhi)) + bit_count(xor(a.flo, b.flo))
      <= {hamming_threshold}"""
