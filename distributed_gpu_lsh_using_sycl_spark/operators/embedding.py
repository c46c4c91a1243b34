"""Embedding-similarity operators: hyperplane LSH near-dup, multi-table
ANN top-k, and tiled exact kNN.

This is the dense-vector analog of the caption/image dedup path, built on
the same three-stage shape as the reference's search
(``hash_tables.hpp:388-494``): signature → banded bucket join → exact
verify. The reference always probes L hash tables (OR-construction,
``hash_tables.hpp:566-578``); we keep that structure — each *band* here is
one table of sign-bit hyperplane hashes (Charikar SimHash for cosine).

One probe path serves both LSH operators: the normed feature frame is
checkpointed once with its observed bytes (``pairs.checkpoint_features``),
hashed by the one sign-bit kernel (``parity_hash.hyperplane_buckets_df``),
joined through ``banding.candidate_pairs_from_bands`` and rehydrated by
``pairs.pair_features``; ANN ranks with ``pairs.ranked_neighbours``.

Scale design:
- bucket joins go through ``banding.candidate_pairs_from_bands`` — the
  salted, hot-bucket-split, degenerate-capped machinery — so a hot bucket
  never puts O(n²) pair generation in one task;
- verification is JVM-side (``aggregate``/``zip_with`` dot product in
  whole-stage codegen) over pre-computed norms, no Python per pair;
- the exact kNN path (``knn_topk_tiled``) never moves vectors through the
  driver: both sides are packed into fixed-size blocks, the query-block ×
  neighbour-tile grid is an executor-side crossJoin whose every row is one
  bounded matmul, and a window re-ranks the per-cell top-k — correct
  because the global top-k under the total order (-sim, neighbor_id) is
  contained in the union of per-cell top-k under the same order.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.operators.pairs import (
    checkpoint_features, pair_features, ranked_neighbours)
from distributed_gpu_lsh_using_sycl_spark.operators.parity_hash import (
    hyperplane_buckets_df)

#: per-cell kernel chunking: bound the (query-chunk x members) work
#: matrices at ~this many elements (x8 bytes), so cogrouped cells of any
#: size run in constant memory. Tests shrink it to force multi-chunk
#: paths; row-local selection makes chunking output-invariant.
CELL_CHUNK_ELEMS = 4 << 20
CELL_CHUNK_MIN_ROWS = 256


def dot_col(a, b):
    """Sequential-fold dot product of two array<double> columns (JVM)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda s, x: s + x)


def with_norm(e: DataFrame, vec_col: str = "v") -> DataFrame:
    """Precompute ||v|| once per row — pairwise stages must never
    recompute norms per pair."""
    return e.withColumn("norm", F.sqrt(dot_col(F.col(vec_col), F.col(vec_col))))


def cosine_col(dot, na, nb):
    """Cosine similarity from a fold dot product and both norms, rounded
    to 6 digits — the value every cosine filter and ranking compares, and
    the rounding the DuckDB oracles apply."""
    return F.round(dot / (na * nb), 6)


def hyperplane_planes(seed: int, n_planes: int, dims: int) -> np.ndarray:
    """Seeded Gaussian hyperplanes (Charikar sign-hash family); the
    driver-side draw-then-broadcast mirrors the reference's pool gen +
    MPI_Bcast (random_projections.cpp:29-79)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((n_planes, dims))


def _normed_features(e: DataFrame, id_col: str,
                     vec_col: str) -> tuple[DataFrame, int]:
    """(vec_id, v, norm), checkpointed with its observed feature bytes
    (``pairs.checkpoint_features``): the probe's hash input, its verify's
    feature side and the exact plan's input."""
    return checkpoint_features(
        with_norm(e.select(F.col(id_col).alias("vec_id"),
                           F.col(vec_col).alias("v"))),
        ("v", "norm"), "vec_id")


def _pair_cosine():
    """Rounded cosine of a rehydrated (v, norm) pair."""
    return cosine_col(dot_col(F.col("v_a"), F.col("v_b")),
                      F.col("norm_a"), F.col("norm_b"))


def _neardup_pairs_exact(en: DataFrame, tau: float, n: int,
                         tile_target: int = 1024) -> DataFrame:
    """EXACT cosine near-dup pairs over pre-normed vectors — the fallback
    plan the selectivity guardrail takes when banding would enumerate at
    least the brute-force pair mass anyway (see ``neardup_pairs_lsh``).

    Same tiled block grid as ``knn_topk_tiled`` (bounded per-task memory,
    no driver data movement), but the dot products are ``hashing.seqdot``
    — the bit-identical vectorized twin of the JVM fold the LSH verify
    uses — and the kernel only PRE-FILTERS with a 2e-6 slack on the
    np-rounded sim; the exact ``cosine_col(dot, na, nb) >= tau`` filter
    runs JVM-side on the raw fold values, so the emitted pair set is the
    brute-force set under the identical float chain."""
    from distributed_gpu_lsh_using_sycl_spark.functions import hashing as H

    spark = en.sparkSession
    cores = spark.sparkContext.defaultParallelism
    n_tiles = max(1, math.ceil(n / tile_target),
                  min(int(math.isqrt(2 * cores)) + 1, max(1, n)))
    pack_schema = "gid long, ids binary, mat binary, norms binary, nrows long"

    def pack(key, pdf):
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        m = np.asarray(pdf["v"].tolist(), dtype=np.float64)[order]
        nm = pdf["norm"].to_numpy(dtype=np.float64)[order]
        return pd.DataFrame({"gid": [int(key[0])], "ids": [ids.tobytes()],
                             "mat": [m.tobytes()], "norms": [nm.tobytes()],
                             "nrows": [len(ids)]})

    packed = (en.select("vec_id", "v", "norm")
              .groupBy(F.pmod("vec_id", F.lit(n_tiles)).alias("gid"))
              .applyInPandas(pack, pack_schema)
              .localCheckpoint(eager=True))
    left = packed.select(F.col("gid").alias("gi"), F.col("ids").alias("aids"),
                         F.col("mat").alias("amat"),
                         F.col("norms").alias("anorm"))
    right = packed.select(F.col("gid").alias("gj"), F.col("ids").alias("bids"),
                          F.col("mat").alias("bmat"),
                          F.col("norms").alias("bnorm"))
    grid = (left.crossJoin(right).filter(F.col("gi") <= F.col("gj"))
            .repartition(cores * 2))
    lo = tau - 2e-6  # slack: np.round vs the JVM round differ by <= one
    # 1e-6 grid step, so this superset provably contains every pair the
    # exact JVM filter keeps

    def cell_pairs(batches):
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                aids = np.frombuffer(row.aids, dtype=np.int64)
                bids = np.frombuffer(row.bids, dtype=np.int64)
                if not len(aids) or not len(bids):
                    continue
                A = np.frombuffer(row.amat).reshape(len(aids), -1)
                B = np.frombuffer(row.bmat).reshape(len(bids), -1)
                an = np.frombuffer(row.anorm)
                bn = np.frombuffer(row.bnorm)
                D = H.seqdot(A, B)
                sims = np.round(D / (an[:, None] * bn[None, :]), 6)
                keep = sims >= lo
                if row.gi == row.gj:
                    keep &= aids[:, None] < bids[None, :]
                ai, bi = np.nonzero(keep)
                if not len(ai):
                    continue
                x, y = aids[ai], bids[bi]
                outs.append(pd.DataFrame({
                    "a": np.minimum(x, y), "b": np.maximum(x, y),
                    "dotab": D[ai, bi], "na": an[ai], "nb": bn[bi]}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    allp = grid.mapInPandas(
        cell_pairs, schema="a long, b long, dotab double, na double, nb double")
    return (allp
            .withColumn("sim", cosine_col(F.col("dotab"), F.col("na"),
                                          F.col("nb")))
            .filter(F.col("sim") >= F.lit(tau))
            .select("a", "b", "sim"))


def neardup_pairs_lsh(e: DataFrame, tau: float, cfg: LshConfig | None = None,
                      n_bands: int = 32, bits: int = 6, seed: int = 7,
                      id_col: str = "vec_id", vec_col: str = "v",
                      dims: int | None = None) -> DataFrame:
    """Scale path for cosine near-dup pairs: banded hyperplane LSH
    candidates (salted) + exact cosine verify, (a, b, sim) with sim
    rounded to 6 and filtered on the ROUNDED value (oracle contract).

    Per-band collision for similarity s is (1 - acos(s)/pi)^bits; with the
    defaults a tau=0.8 pair is missed with p ≈ (1-0.254)^32 ≈ 8e-5 —
    vanishing vs the brute-force oracle on any planted-dup fixture
    (asserted in tests/test_embedding.py with non-empty truth).

    SELECTIVITY GUARDRAIL (the no-silent-caps rule applied to
    selectivity): the band plan observes the expected candidate mass
    Σ C(cnt, 2) over all buckets and the band rows (n per band) on its
    one stats job; when the mass reaches C(n, 2) — banding would
    enumerate at least the brute-force pair mass, as happens at a low
    ``tau`` operating point — the operator LOGS the collapse and takes
    the exact tiled plan (``_neardup_pairs_exact``) instead. The result
    is identical either way (LSH-then-verify reproduces the brute set;
    both paths share the same fold/round float chain), so only the
    execution strategy switches; the guard is always on.
    """
    import logging

    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        band_plan, candidate_pairs_from_bands)

    cfg = cfg or LshConfig()
    en, size = _normed_features(e, id_col, vec_col)
    bands = hyperplane_buckets_df(en, n_bands, bits, seed, dims=dims)
    plan = band_plan(bands, cfg)
    n = plan.rows // n_bands
    brute_pairs = n * (n - 1) / 2.0
    if plan.mass >= brute_pairs:
        logging.getLogger(__name__).warning(
            "neardup_pairs_lsh: banding selectivity collapsed "
            "(expected candidate mass %d >= brute %.0f at "
            "tau=%s, %dx%d bands) — taking the exact tiled plan",
            plan.mass, brute_pairs, tau, n_bands, bits)
        return _neardup_pairs_exact(en, tau, n)
    cands = candidate_pairs_from_bands(bands, cfg, source="hyperplane",
                                       plan=plan)
    return (pair_features(cands, en, ("v", "norm"), id_col="vec_id",
                          size=size)
            .withColumn("sim", _pair_cosine())
            .filter(F.col("sim") >= F.lit(tau))
            .select("a", "b", "sim"))


def ann_topk_lsh(e: DataFrame, k: int = 5, n_tables: int = 8, bits: int = 6,
                 seed: int = 11, cfg: LshConfig | None = None,
                 id_col: str = "vec_id", vec_col: str = "v",
                 dims: int | None = None) -> DataFrame:
    """Approximate cosine top-k: L sign-bit hash tables (OR-construction,
    the reference's L-table probe, hash_tables.hpp:566-578), salted bucket
    join, exact re-rank of the candidate union.

    Candidates come from the same salted pair machinery as every other
    bucket join (hot buckets split, degenerate buckets capped) and are
    ranked in both directions. Points whose buckets are empty yield fewer
    than k rows — the ANN contract. The sign bits are the sequential-fold
    kernel's, so the DuckDB oracle (parity_hash.ann_oracle_sql)
    reproduces every row, misses included; recall vs the brute top-k is
    ≥ 0.9 on clustered data (tests/test_embedding.py).
    """
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        candidate_pairs_from_bands)

    cfg = cfg or LshConfig()
    en, size = _normed_features(e, id_col, vec_col)
    # bands feed the bucket stats AND the salted self-join: materialize
    # them once or the projection subtree executes twice
    bands = hyperplane_buckets_df(en, n_tables, bits, seed, dims=dims) \
        .localCheckpoint(eager=True)
    pairs = candidate_pairs_from_bands(bands, cfg, source="ann")
    # dot and na*nb commute to bit-identical doubles, so the rounded
    # cosine is symmetric and scored once per unordered pair
    return (ranked_neighbours(
                pair_features(pairs, en, ("v", "norm"), id_col="vec_id",
                              size=size),
                _pair_cosine(), k, descending=True)
            .withColumnRenamed("score", "sim"))


def knn_topk_tiled(e: DataFrame, k: int = 5, tile_target: int = 4096,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """EXACT cosine top-k with NO driver-side data movement: the round-
    robin block-nested-loop join (the reference's J3 shape,
    ``knn.hpp``-style all-pairs over blocks) as one executor-side plan.

    Both sides are packed into fixed-size blocks (tile = pmod(id, n) —
    one applyInPandas per side, each block one row of (ids, normalized
    matrix) bytes); the query-block × neighbor-tile GRID is a crossJoin
    whose every row is one bounded BLAS matmul inside a single
    mapInPandas; per-(block, tile) top-k under (-sim, neighbor_id) are
    re-ranked by a window. Replaces the previous driver loop of
    O(n_tiles) collect()+broadcast rounds — no driver round-trips, no
    serial tile schedule, same bounded per-task memory (2 blocks).

    Exactness: the comparator is a TOTAL order, so any global top-k row
    is within the top-k of its own (block, tile) cell — the union never
    loses a winner (and ties at the boundary sim are broken identically
    everywhere, fixing the truncated-argpartition tie hazard of a
    heuristic candidate slice). O(n²) work by definition of exact kNN —
    this is the oracle twin; ANN/IVF are the scale paths.
    """
    spark = e.sparkSession
    src = e.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("emb"))
    n = src.count()
    n_tiles = max(1, math.ceil(n / tile_target))
    cores = spark.sparkContext.defaultParallelism
    # finer query blocks keep the grid at >= 2 waves of tasks even when
    # the neighbor side is a handful of tiles
    n_qgroups = max(n_tiles, cores * 2)
    pack_schema = "gid long, ids binary, mat binary, nrows long"

    def pack(key, pdf):
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)  # canonical in-block layout (id asc), so
        ids = ids[order]         # the packed tie-break rank is arange
        m = np.asarray(pdf["emb"].tolist(), dtype=np.float64)[order]
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        return pd.DataFrame({"gid": [int(key[0])], "ids": [ids.tobytes()],
                             "mat": [mn.tobytes()], "nrows": [len(ids)]})

    packed_t = (src.groupBy(F.pmod("vec_id", F.lit(n_tiles)).alias("gid"))
                .applyInPandas(pack, pack_schema))
    packed_q = (src.groupBy(F.pmod("vec_id", F.lit(n_qgroups)).alias("gid"))
                .applyInPandas(pack, pack_schema))
    grid = (packed_q.select(F.col("ids").alias("qids"),
                            F.col("mat").alias("qmat"))
            .crossJoin(packed_t.select(F.col("ids").alias("tids"),
                                       F.col("mat").alias("tmat")))
            .repartition(cores * 2))

    def grid_topk(batches):
        for pdf in batches:
            outs = []
            # per-ROW python here is per-CELL: each row is a whole
            # block×tile matmul (~tile_target² fused ops), so the loop
            # overhead is noise
            for row in pdf.itertuples(index=False):
                qids = np.frombuffer(row.qids, dtype=np.int64)
                Qn = np.frombuffer(row.qmat, dtype=np.float64) \
                    .reshape(len(qids), -1)
                bids = np.frombuffer(row.tids, dtype=np.int64)
                Bn = np.frombuffer(row.tmat, dtype=np.float64) \
                    .reshape(len(bids), -1)
                sims = np.round(Qn @ Bn.T, 6)
                nk = min(k, sims.shape[1])
                # Fully vectorized EXACT top-k under (-sim, id): sims are
                # rounded to 6 decimals, so scaled = sims*1e6 is an exact
                # integer in [-1e6, 1e6]; pack (scaled, -rank) into one
                # int64 key whose DESCENDING order IS the total order —
                # argpartition on an exact integer key has no float-tie
                # hazard. Self-matches get a sentinel below every real
                # key and are dropped at emit. bids are packed ascending,
                # so the in-tile id rank is arange (bounded by tile size
                # — arbitrary 64-bit ids can never overflow the key).
                scaled = np.round(sims * 1e6).astype(np.int64)
                scaled[qids[:, None] == bids[None, :]] = -(1 << 21)
                key = scaled * (1 << 33) - np.arange(len(bids),
                                                     dtype=np.int64)[None, :]
                if key.shape[1] > nk:
                    idx = np.argpartition(-key, nk - 1, axis=1)[:, :nk]
                else:
                    idx = np.broadcast_to(np.arange(key.shape[1]),
                                          (len(qids), key.shape[1])).copy()
                order = np.argsort(-np.take_along_axis(key, idx, axis=1),
                                   axis=1, kind="stable")
                sel = np.take_along_axis(idx, order, axis=1)
                keep = np.take_along_axis(scaled, sel, axis=1) != -(1 << 21)
                outs.append(pd.DataFrame({
                    "vec_id": np.repeat(qids, sel.shape[1])[keep.ravel()],
                    "neighbor_id": bids[sel].ravel()[keep.ravel()],
                    "sim": np.take_along_axis(sims, sel, axis=1)
                           .ravel()[keep.ravel()],
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    allc = grid.mapInPandas(
        grid_topk, schema="vec_id long, neighbor_id long, sim double")
    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (allc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("vec_id", "neighbor_id", "rank", "sim"))


def kcenter_cents(e: DataFrame, n_centroids: int, rounds: int = 2,
                  id_col: str = "vec_id", vec_col: str = "v") -> DataFrame:
    """Data-adaptive coarse quantizer / codebook for ``ivf_topk`` /
    ``ivfpq_topk``: deterministic batched farthest-first centers
    (``kmeans.kcenter_init`` — the k-means|| schedule with the
    probabilistic draw replaced by the top-cost pick) in PICK order,
    mapped back to original units (exact /2^20 division, so every engine
    reproduces the values bit-for-bit). Swapping this frame in changes
    ONLY the ``cents`` input — the assignment/probe/rank plan is
    untouched, which is the promise both IVF docstrings make."""
    from distributed_gpu_lsh_using_sycl_spark.operators.kmeans import (
        SCALE, _quantized, kcenter_init)

    qdf = _quantized(e, id_col, vec_col).localCheckpoint(eager=True)
    centers = kcenter_init(qdf, n_centroids, rounds)
    rows = [(i, [x / SCALE for x in c]) for i, c in enumerate(centers)]
    return e.sparkSession.createDataFrame(
        rows, "cent_id long, cv array<double>")


def kcenter_codebook(e: DataFrame, source: str, n_centroids: int,
                     rounds: int = 2, id_col: str = "vec_id",
                     vec_col: str = "v",
                     artifact_root: str | None = None) -> DataFrame:
    """``kcenter_cents`` as a TRAINED ARTIFACT (train once, probe many):
    the farthest-first codebook is built at most once per (input
    snapshot, n_centroids, rounds) and persisted via
    sources.artifacts.cached_parquet_artifact; every subsequent IVF /
    IVF-PQ probe plan — across queries AND sessions — reads the tiny
    (cent_id, cv) parquet instead of re-running the driver-batched
    training loop. This is the production IVF lifecycle (FAISS
    train()/search(); the reference draws its hash pool once in the
    constructor and reuses it across queries,
    hash_functions.hpp:144-183). Values are bit-identical to inline
    kcenter_cents (deterministic training, exact double round-trip), so
    the DuckDB oracles that recompute the chain still hash-match."""
    from distributed_gpu_lsh_using_sycl_spark.sources.artifacts import (
        cached_parquet_artifact)

    # id_col/vec_col are part of the key: the trained centers depend on
    # WHICH columns of the snapshot were read, so two callers projecting
    # different columns of the same parquet must never share an artifact.
    # (The frame `e` itself must be the unfiltered projection of
    # ``source`` — that is the caller contract this cache keys on.)
    return cached_parquet_artifact(
        e.sparkSession, "kcenter_codebook", source,
        {"n_centroids": n_centroids, "rounds": rounds,
         "id_col": id_col, "vec_col": vec_col},
        lambda: kcenter_cents(e, n_centroids, rounds,
                              id_col=id_col, vec_col=vec_col),
        artifact_root=artifact_root)


def _collect_cents(cents: DataFrame, rank_col: str) -> list:
    """Driver-side copy of the (tiny) quantizer table, ordered by rank.
    Bounded by max(n_centroids, ks) rows — the same driver-size class as
    the kcenter training picks (kmeans.kcenter_init) and the reference's
    pool gen + broadcast (random_projections.cpp:29-79). Doubles round-
    trip py4j bit-exactly, so kernels fold the IDENTICAL values the
    DuckDB oracles fold."""
    return sorted(cents.collect(), key=lambda r: r[rank_col])


def ivfpq_topk(e: DataFrame, k: int = 5, n_centroids: int = 16,
               nprobe: int = 4, n_sub: int = 8, ks: int = 16,
               id_col: str = "vec_id", vec_col: str = "v",
               dims: int = 64, cents: DataFrame | None = None) -> DataFrame:
    """IVF-PQ approximate L2 top-k: coarse inverted-file probe +
    product-quantization ADC ranking — the compressed-domain scale path
    next to IVF-flat (ivf_topk) and hyperplane LSH (ann_topk_lsh),
    completing the reference's multi-probe search surface
    (hash_tables.hpp:388-494) with the FAISS-style code path.

    Structure (all deterministic, so the DuckDB oracle recomputes it
    end-to-end — parity_hash.ivfpq_oracle_sql):
    - coarse quantizer: the ``n_centroids`` smallest-id vectors (or the
      injected ``cents`` frame of (cent_id, cv) rows — e.g.
      ``kcenter_cents`` — which must carry max(n_centroids, ks) rows;
      cent_id order doubles as both cell rank and code rank); every
      vector lands in the cell of its nearest centroid under sequential-
      fold squared L2 in fixed-point micros (centroid-rank tie-break);
      queries probe their ``nprobe`` nearest cells.
    - PQ codebook: dims split into ``n_sub`` subspaces; per subspace the
      ``ks`` smallest-id subvectors are the codes. Each vector encodes to
      ``n_sub`` code ids (argmin sub-distance, code-rank tie-break).
    - ADC: a query's distance table (sub-distance to every code of every
      subspace, micros) is summed over the candidate's codes — an exact
      integer sum, so ranking is order-independent and cross-engine
      reproducible; rank by (adc asc, neighbor_id asc).

    Scale shape: coarse and sub-distances are one Arrow-batched
    hashing.seqdiffsq kernel per batch against the collected (tiny)
    codebook, no shuffle; the ADC is a per-cell cogrouped integer gather
    that ships ``n_sub`` small codes per member instead of ``dims``
    doubles (8 bytes vs 512 at the default config — the point of PQ at
    100 TB: the shuffled payload is the compressed representation).
    Cells are ~n/n_centroids and n_centroids grows as sqrt(n), as in
    ivf_topk.
    """
    assert dims % n_sub == 0, "dims must split evenly into subspaces"
    sub = dims // n_sub
    n_code = max(n_centroids, ks)
    en = (e.select(F.col(id_col).alias("vec_id"),
                   F.col(vec_col).cast("array<double>").alias("v"))
          .localCheckpoint(eager=True))
    if cents is None:
        wc = W.orderBy("vec_id")
        cents = (en.orderBy("vec_id").limit(n_code)
                 .withColumn("crank", F.row_number().over(wc) - 1)
                 .select("crank", F.col("v").alias("cv")))
    else:
        cents = cents.select(
            F.col("cent_id").cast("long").alias("crank"),
            F.col("cv").cast("array<double>").alias("cv"))

    # Arrow-batched coarse/sub-distance folds (guide §4.2):
    # hashing.seqdiffsq folds in DuckDB list_reduce's order, and the *1e6
    # fixed-point rounding stays JVM-side on the raw fold values, so
    # keys/codes match the oracle's (pinned in tests/test_embedding.py).
    # The frame doubles as coarse quantizer AND PQ codebook source:
    # fewer than max(n_centroids, ks) rows would silently underfill the
    # codebook, so the collected rows are validated (no extra job).
    from distributed_gpu_lsh_using_sycl_spark.functions import hashing as H

    crows = _collect_cents(cents, "crank")
    if len(crows) < n_code:
        raise ValueError(
            f"ivfpq_topk cents frame has {len(crows)} rows but must "
            f"carry max(n_centroids={n_centroids}, ks={ks}) = {n_code} "
            "(cent_id order is both cell rank and PQ code rank)")
    C_all = np.asarray([r["cv"] for r in crows], dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def coarse_dsq(vs: pd.Series) -> pd.Series:
        V = np.asarray(vs.tolist(), dtype=np.float64)
        if len(V) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(H.seqdiffsq(V, C_all[:n_centroids]).tolist())

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def sub_dsq(vs: pd.Series) -> pd.Series:
        V = np.asarray(vs.tolist(), dtype=np.float64)
        if len(V) == 0:
            return pd.Series([], dtype=object)
        out = np.empty((len(V), n_sub * ks), dtype=np.float64)
        for s in range(n_sub):
            out[:, s * ks:(s + 1) * ks] = H.seqdiffsq(
                V[:, s * sub:(s + 1) * sub],
                C_all[:ks, s * sub:(s + 1) * sub])
        return pd.Series(out.tolist())

    # posexplode index == crank (C_all is crank-ordered)
    csd = (en.select("vec_id",
                     F.posexplode(coarse_dsq("v")).alias("ci", "draw"))
           .select("vec_id",
                   (F.round(F.col("draw") * 1e6, 0).cast("long")
                    * n_centroids + F.col("ci")).alias("key")))
    subd_src = (en.select("vec_id",
                          F.posexplode(sub_dsq("v")).alias("ix", "sraw"))
                .select("vec_id",
                        (F.col("ix") / ks).cast("int").alias("sub_m"),
                        (F.col("ix") % ks).cast("long").alias("c"),
                        F.round(F.col("sraw") * 1e6, 0).cast("long")
                        .alias("sdi")))

    wq = W.partitionBy("vec_id").orderBy("key")
    cranked = (csd.withColumn("rn", F.row_number().over(wq))
               .withColumn("cell", F.col("key") % n_centroids))
    assign = cranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("x"), "cell")
    probes = cranked.filter(F.col("rn") <= nprobe).select(
        F.col("vec_id").alias("q"), "cell")

    subd = subd_src.localCheckpoint(eager=True)  # feeds codes AND dtable
    codes = (subd.groupBy("vec_id", "sub_m")
             .agg((F.min(F.col("sdi") * ks + F.col("c")) % ks).alias("code"))
             .select(F.col("vec_id").alias("xid"), "sub_m", "code"))
    dtable = subd.select(F.col("vec_id").alias("qid"),
                         F.col("sub_m").alias("qm"), "c", "sdi")

    # ---- ADC as a per-cell cogrouped integer gather (guide §8:
    # decide with small rows — each member ships its 8 codes and each
    # query its 128-entry distance table ONCE per probed cell, instead
    # of the 3-way join materializing n_sub rows per candidate pair).
    # All arithmetic is exact int64 (sum of sdi micros), so per-cell
    # top-k under the total order (adci asc, id asc) loses nothing
    # against the global window — the same restriction argument as
    # knn_topk_tiled, with no float rounding in sight.
    codes_arr = (codes.groupBy("xid")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("sub_m", "code"))),
                     lambda s: s["code"]).alias("mcodes")))
    dt_arr = (dtable.groupBy("qid")
              .agg(F.transform(
                  F.array_sort(F.collect_list(
                      F.struct("qm", "c", "sdi"))),
                  lambda s: s["sdi"]).alias("qdt")))
    mem = (assign.join(codes_arr, F.col("x") == F.col("xid"))
           .select(F.col("cell").alias("mcell"),
                   F.col("x").alias("m_id"), "mcodes"))
    qry = (probes.join(dt_arr, F.col("q") == F.col("qid"))
           .select(F.col("cell").alias("qcell"),
                   F.col("q").alias("q_id"), "qdt"))
    idt = en.schema["vec_id"].dataType.simpleString()
    chunk_elems, chunk_min = CELL_CHUNK_ELEMS, CELL_CHUNK_MIN_ROWS

    def cell_adc(qpdf, mpdf):
        cols = ["q", "x", "adci"]
        if len(qpdf) == 0 or len(mpdf) == 0:
            return pd.DataFrame({c: [] for c in cols})
        Cm = np.asarray(mpdf["mcodes"].tolist(), dtype=np.int64)
        mid = mpdf["m_id"].to_numpy()
        # canonical member order (id asc) once per cell; query-chunked
        # so the (nq x nm) ADC matrix stays ~tens of MB at any cell
        # size (per-query selection is row-local — chunking never
        # changes the output)
        mo = np.argsort(mid, kind="stable")
        mid_s, Cm_s = mid[mo], Cm[mo]
        step = max(chunk_min, chunk_elems // max(1, len(mid_s)))
        outs = []
        for lo in range(0, len(qpdf), step):
            qc = qpdf.iloc[lo:lo + step]
            DT = np.asarray(qc["qdt"].tolist(), dtype=np.int64) \
                .reshape(len(qc), n_sub, ks)
            qid = qc["q_id"].to_numpy()
            adc_s = np.zeros((len(qid), len(mid_s)), dtype=np.int64)
            for s in range(n_sub):
                adc_s += DT[:, s, :][:, Cm_s[:, s]]
            # stable argsort on adci over id-ascending columns =
            # exact (adci asc, id asc) ranking; self-pairs sentineled
            self_mask = qid[:, None] == mid_s[None, :]
            adc_s = np.where(self_mask, np.iinfo(np.int64).max, adc_s)
            nk = min(k, adc_s.shape[1])
            sel = np.argsort(adc_s, axis=1, kind="stable")[:, :nk]
            keep = np.take_along_axis(adc_s, sel, axis=1) \
                != np.iinfo(np.int64).max
            qi = np.repeat(np.arange(len(qid)), nk)[keep.ravel()]
            mi = sel.ravel()[keep.ravel()]
            outs.append(pd.DataFrame({"q": qid[qi], "x": mid_s[mi],
                                      "adci": adc_s[qi, mi]}))
        return pd.concat(outs, ignore_index=True)

    adc = (qry.groupBy("qcell").cogroup(mem.groupBy("mcell"))
           .applyInPandas(cell_adc, f"q {idt}, x {idt}, adci long"))
    w = W.partitionBy("q").orderBy(F.col("adci").asc(), F.col("x").asc())
    return (adc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("q").alias("vec_id"), F.col("x").alias("neighbor_id"),
                    "rank",
                    (F.col("adci").cast("double") / 1e6).alias("adc_dist")))


def ivf_topk(e: DataFrame, k: int = 5, n_centroids: int = 16,
             nprobe: int = 4, id_col: str = "vec_id",
             vec_col: str = "v", cents: DataFrame | None = None) -> DataFrame:
    """IVF-flat approximate cosine top-k — the coarse-quantizer scale path
    next to the LSH one (ann_topk_lsh).

    Centroids are the n_centroids rows with the smallest ids — a
    deterministic, data-dependent quantizer that needs no iterative fit,
    so the DuckDB oracle (parity_hash.ivf_oracle_sql) can recompute the
    ENTIRE structure: every vector is assigned to its nearest centroid
    (rounded cosine, centroid-id tie-break); a query probes its nprobe
    nearest centroids' cells and exactly re-ranks those candidates.

    Arrow-batched execution (guide §4.2): the n × n_centroids assignment
    fold is ONE seqdot kernel per Arrow batch against the collected
    centroid table (no shuffle), and the candidate re-rank is a per-cell
    cogrouped seqdot matmul — vectors ship to their (nprobe+1) cells ONCE
    instead of once per candidate pair (guide §8: decide with small rows,
    move payloads once). hashing.seqdot folds in the same IEEE order as
    DuckDB's list_reduce, and all rounding/division happens in the JVM on
    the raw fold values, so the result matches ivf_oracle_sql (and
    ivf_kcenter_oracle_sql for the kcenter quantizer) bit-for-bit —
    pinned in tests/test_embedding.py. Cells are ~n/n_centroids and
    n_centroids grows as √n, so per-task candidate work is
    O(n/√n · nprobe). Swapping in k-means centroids changes only the
    `cents` frame, not the plan.
    """
    en = with_norm(e.select(F.col(id_col).alias("vec_id"),
                            F.col(vec_col).alias("v")),
                   "v").localCheckpoint(eager=True)
    if cents is None:
        cents = (en.orderBy("vec_id").limit(n_centroids)
                 .select(F.col("vec_id").alias("cent_id"),
                         F.col("v").alias("cv"),
                         F.col("norm").alias("cnorm")))
    else:  # injected quantizer (e.g. kcenter_cents): same fold-norm
        cents = (cents.select(F.col("cent_id").cast("long"),
                              F.col("cv").cast("array<double>"))
                 .withColumn("cnorm",
                             F.sqrt(dot_col(F.col("cv"), F.col("cv")))))

    from distributed_gpu_lsh_using_sycl_spark.functions import hashing as H

    crows = _collect_cents(cents, "cent_id")
    C = np.asarray([r["cv"] for r in crows], dtype=np.float64)
    cent_ids = [int(r["cent_id"]) for r in crows]
    cnorms = [float(r["cnorm"]) for r in crows]

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def cdots(vs: pd.Series) -> pd.Series:
        V = np.asarray(vs.tolist(), dtype=np.float64)
        if len(V) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(H.seqdot(V, C).tolist())

    ids_arr = F.array(*[F.lit(i) for i in cent_ids])
    cn_arr = F.array(*[F.lit(x) for x in cnorms])
    # raw fold dots from the kernel; division + round stay JVM-side so the
    # ranked csim is the identical double ivf_oracle_sql ranks on
    simc = (en.select("vec_id", "norm",
                      F.posexplode(cdots("v")).alias("ci", "dotc"))
            .select("vec_id",
                    F.element_at(ids_arr, F.col("ci") + 1).alias("cent_id"),
                    cosine_col(F.col("dotc"), F.col("norm"),
                               F.element_at(cn_arr, F.col("ci") + 1))
                    .alias("csim")))
    wq = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cent_id"))
    ranked = simc.withColumn("rn", F.row_number().over(wq))
    assign = ranked.filter(F.col("rn") == 1).select(
        "vec_id", F.col("cent_id").alias("cell"))
    probes = ranked.filter(F.col("rn") <= nprobe).select(
        "vec_id", F.col("cent_id").alias("cell"))
    # fresh-alias the feature side: assign/probes descend from en, so a
    # bare self-join on vec_id is ambiguous to the analyzer
    feat = en.select(F.col("vec_id").alias("fid"), "v", "norm")
    # every column re-aliased per side: qry and mem share lineage (en +
    # ranked), and the cogroup analyzer rejects shared expression ids
    mem = (assign.join(feat, F.col("vec_id") == F.col("fid"))
           .select(F.col("cell").alias("mcell"),
                   F.col("vec_id").alias("m_id"),
                   F.col("v").alias("mv"), F.col("norm").alias("mnorm")))
    qry = (probes.join(feat, F.col("vec_id") == F.col("fid"))
           .select(F.col("cell").alias("qcell"),
                   F.col("vec_id").alias("q_id"),
                   F.col("v").alias("qv"), F.col("norm").alias("qnorm")))
    idt = en.schema["vec_id"].dataType.simpleString()
    # captured at plan-build time (closure cells pickle by value, so a
    # driver-side override reaches the executor workers)
    chunk_elems, chunk_min = CELL_CHUNK_ELEMS, CELL_CHUNK_MIN_ROWS

    def cell_sims(qpdf, mpdf):
        cols = ["q", "m", "dotqm", "na", "nb"]
        if len(qpdf) == 0 or len(mpdf) == 0:
            return pd.DataFrame({c: [] for c in cols})
        M = np.asarray(mpdf["mv"].tolist(), dtype=np.float64)
        mid = mpdf["m_id"].to_numpy()
        mn = mpdf["mnorm"].to_numpy(dtype=np.float64)
        # query-chunked so the per-cell (nq x nm) matrices stay ~tens of
        # MB regardless of cell size (per-query pruning is row-local, so
        # chunking never changes the output)
        step = max(chunk_min, chunk_elems // max(1, len(mid)))
        outs = []
        for lo in range(0, len(qpdf), step):
            qc = qpdf.iloc[lo:lo + step]
            Q = np.asarray(qc["qv"].tolist(), dtype=np.float64)
            D = H.seqdot(Q, M)
            qid = qc["q_id"].to_numpy()
            qn = qc["qnorm"].to_numpy(dtype=np.float64)
            # Per-query pruning WITH SLACK: the global rank orders by
            # cosine_col(dot, na, nb) desc. np.round may differ from the
            # JVM round by at most one 1e-6 grid step, so keeping every
            # member within 2e-6 of the row's k-th np-rounded sim
            # provably retains this cell's contribution to the JVM
            # top-k; the JVM window does the exact final ranking.
            # Self-pairs are masked out.
            sims = np.round(D / (qn[:, None] * mn[None, :]), 6)
            notself = qid[:, None] != mid[None, :]
            sims = np.where(notself, sims, -np.inf)
            nk = min(k, sims.shape[1])
            kth = -np.partition(-sims, nk - 1, axis=1)[:, nk - 1]
            keep = notself & (sims >= kth[:, None] - 2e-6)
            qi, mi = np.nonzero(keep)
            outs.append(pd.DataFrame({"q": qid[qi], "m": mid[mi],
                                      "dotqm": D[qi, mi],
                                      "na": qn[qi], "nb": mn[mi]}))
        return pd.concat(outs, ignore_index=True)

    sims = (qry.groupBy("qcell").cogroup(mem.groupBy("mcell"))
            .applyInPandas(cell_sims,
                           f"q {idt}, m {idt}, dotqm double, "
                           f"na double, nb double"))
    out = sims.withColumn(
        "sim", cosine_col(F.col("dotqm"), F.col("na"), F.col("nb")))
    w = W.partitionBy("q").orderBy(F.col("sim").desc(), F.col("m"))
    return (out.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("q").alias("vec_id"),
                    F.col("m").alias("neighbor_id"), "rank", "sim"))
