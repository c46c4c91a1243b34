"""Embedding-similarity operators: hyperplane LSH near-dup, multi-table
ANN top-k, IVF / IVF-PQ top-k and exact kNN.

This is the dense-vector analog of the caption/image dedup path. The
reference always probes L hash tables (OR-construction,
``hash_tables.hpp:566-578``); we keep that structure — each *band* here
is one table of sign-bit hyperplane hashes (Charikar SimHash for cosine).

One probe path serves both LSH operators: the normed feature frame is
checkpointed once with its observed bytes and its sign-bit buckets
(``pairs.checkpoint_features``, ``parity_hash.hyperplane_bucket_col``),
its bands are joined through ``banding.candidate_pairs_from_bands`` (the
salted, hot-bucket-split, degenerate-capped machinery) and verified
JVM-side over the pair rehydrated by ``pairs.pair_features``.

One cell operator, ``cell_join``, serves the IVF-flat re-rank, the IVF-PQ
ADC, the exact top-k grid (``knn_topk_tiled``) and the exact near-dup
fallback (``_neardup_pairs_exact``), each with its own keying and kernel;
its docstring holds the exactness arguments they share. Every top-k ends
in ``pairs.top_k``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.functions import hashing as H
from distributed_gpu_lsh_using_sycl_spark.operators.pairs import (
    broadcast_if_fits, checkpoint_features, pair_features, ranked_neighbours,
    top_k)
from distributed_gpu_lsh_using_sycl_spark.operators.parity_hash import (
    hyperplane_bands, hyperplane_bucket_col)

#: per-cell kernel chunking: bound the (query-chunk x members) work
#: matrices at ~this many elements (x8 bytes), so cells of any size run
#: in constant memory. Tests shrink it to force multi-chunk paths.
CELL_CHUNK_ELEMS = 4 << 20
CELL_CHUNK_MIN_ROWS = 256
#: rows per tile of the exact grids: the near-dup fallback's tile and
#: ``knn_topk_tiled``'s default
TILE_ROWS = 1024


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


def _normed_features(e: DataFrame, id_col: str, vec_col: str,
                     *extra: Column) -> tuple[DataFrame, int]:
    """(vec_id, v, norm, *extra), checkpointed with its observed feature
    bytes (``pairs.checkpoint_features``): the probe's hash input, its
    verify's feature side and the exact and IVF plans' input."""
    return checkpoint_features(
        with_norm(e.select(F.col(id_col).alias("vec_id"),
                           F.col(vec_col).alias("v"))).select("*", *extra),
        ("v", "norm"), "vec_id")


def _hashed_features(e: DataFrame, id_col: str, vec_col: str, n_tables: int,
                     bits: int, seed: int,
                     dims: int | None) -> tuple[DataFrame, DataFrame, int]:
    """``_normed_features`` carrying each row's sign-bit buckets, the
    bands posexploded from that checkpoint, and its feature bytes. The
    sign-bit kernel runs on the checkpoint's job only: the band plan's
    stats job and the candidate join both read the checkpointed buckets."""
    en, size = _normed_features(e, id_col, vec_col, hyperplane_bucket_col(
        F.col("v"), n_tables, bits, seed, dims).alias("bk"))
    return en, hyperplane_bands(en), size


def _pair_cosine():
    """Rounded cosine of a rehydrated (v, norm) pair."""
    return cosine_col(dot_col(F.col("v_a"), F.col("v_b")),
                      F.col("norm_a"), F.col("norm_b"))


def _seq_cosine(q: dict, m: dict) -> tuple[np.ndarray, np.ndarray]:
    """(fold dots, np-rounded cosines) of a query chunk against a cell's
    members: ``hashing.seqdot`` is the JVM fold's bit-identical twin, the
    rounding is a pre-filter only (see ``cell_join``)."""
    D = H.seqdot(q["v"], m["v"])
    return D, np.round(D / (q["norm"][:, None] * m["norm"][None, :]), 6)


def cell_join(queries: DataFrame, members: DataFrame, kernel,
              schema: str) -> DataFrame:
    """The one per-cell operator of the vector search (the reference's
    search loop, ``hash_tables.hpp:388-494``: key each point to its
    cells, run one bounded kernel per cell, merge per-point top-k).

    ``queries`` and ``members`` are (cell, id, payload...) frames, a row
    repeated once per cell it is keyed to; ``cell`` is an int, and cells
    numbered 0, 1, 2, ... spread evenly over the join's tasks: cell c
    goes to task c mod (2 x cores), whatever its hash (the hashes of
    small integers pile several cells into one task). One cogroup brings
    each cell's rows into one task, where every column becomes a numpy
    array (an array column a 2-D one, floating arrays as float64). The
    members are sorted by id, so a kernel's column rank within the cell
    is the id order, and ``kernel(q, m)`` runs over query chunks of at most
    ``CELL_CHUNK_ELEMS // len(m)`` rows (never fewer than
    ``CELL_CHUNK_MIN_ROWS``), so a cell of any size runs in bounded
    memory. ``q`` and ``m`` are dicts of column arrays; the kernel
    returns a pandas frame of ``schema``'s columns.

    Exactness, for every caller:
    - a kernel selects per query row (its top-k, or a threshold), so
      chunking never changes its output;
    - top-k restriction: a kernel that keeps each query's cell top-k
      under a TOTAL order (score, then neighbour id) loses no global
      winner, because every row of a query's global top-k is in the top-k
      of its own cell under the same order; ``pairs.top_k`` re-ranks the
      union under that order. Ties at the boundary score are broken
      identically everywhere;
    - rounding slack: the cosine kernels (IVF-flat, exact near-dup) fold
      with ``hashing.seqdot`` but round with ``np.round``, which may
      differ from the JVM round by one 1e-6 step. They keep every
      candidate within 2e-6 of their cut (the k-th sim, or tau) and emit
      the raw fold values, and the exact ``cosine_col`` filter and rank
      run JVM-side, so the result is the oracle's under the identical
      float chain. The integer ADC (IVF-PQ) and the rounded-integer key
      of the exact grid have no rounding to allow for.
    """
    names = T.DataType.fromDDL(schema).names
    # captured at plan-build time (closure cells pickle by value, so a
    # driver-side override reaches the executor workers)
    chunk_elems, chunk_min = CELL_CHUNK_ELEMS, CELL_CHUNK_MIN_ROWS

    def arrays(pdf):
        out = {}
        for c, s in pdf.items():
            a = np.asarray(s.tolist()) if s.dtype == object else s.to_numpy()
            out[c] = (a.astype(np.float64, copy=False)
                      if a.dtype.kind == "f" else a)
        return out

    def per_cell(qpdf, mpdf):
        if len(qpdf) == 0 or len(mpdf) == 0:
            return pd.DataFrame({c: [] for c in names})
        q, m = arrays(qpdf), arrays(mpdf)
        order = np.argsort(m["id"], kind="stable")
        m = {c: a[order] for c, a in m.items()}
        step = max(chunk_min, chunk_elems // len(order))
        return pd.concat(
            [kernel({c: a[lo:lo + step] for c, a in q.items()}, m)
             for lo in range(0, len(qpdf), step)], ignore_index=True)

    tasks = 2 * queries.sparkSession.sparkContext.defaultParallelism

    # fresh aliases: both sides descend from one frame, and the cogroup
    # analyzer rejects shared expression ids
    def by_cell(side):
        return (side.select(*[F.col(c).alias(c) for c in side.columns])
                .repartitionById(tasks, "cell").groupBy("cell"))

    return by_cell(queries).cogroup(by_cell(members)) \
        .applyInPandas(per_cell, schema)


def _neardup_pairs_exact(en: DataFrame, tau: float, n: int) -> DataFrame:
    """EXACT cosine near-dup pairs over pre-normed vectors — the fallback
    plan the selectivity guardrail takes when banding would enumerate at
    least the brute-force pair mass anyway (see ``neardup_pairs_lsh``).

    Keying: ``pmod(id, T)`` blocks, a cell per (gi, gj) with gi <= gj —
    the upper triangle of the block grid, numbered row by row, pairs
    a < b inside diagonal cells — with ``T`` from ``TILE_ROWS`` and at
    least ~2 cells per core. The kernel pre-filters the seqdot cosine at
    ``tau`` with the ``cell_join`` rounding slack;
    ``cosine_col(dot, na, nb) >= tau`` runs JVM-side."""
    cores = en.sparkSession.sparkContext.defaultParallelism
    t = max(1, math.ceil(n / TILE_ROWS),
            min(math.isqrt(2 * cores) + 1, max(1, n)))
    g = F.pmod("vec_id", F.lit(t)).cast("int")

    def cell(gi, gj):  # row-major index of (gi, gj) in the upper triangle
        return (gi * (2 * t + 1 - gi) / 2).cast("int") + gj - gi

    feats = (F.col("vec_id").alias("id"), "v", "norm")
    # a block's queries meet blocks gj = gi..t-1, its members gi = 0..gj
    queries = en.select(F.explode(F.sequence(cell(g, g),
                                             cell(g, F.lit(t - 1))))
                        .alias("cell"), *feats)
    members = en.select(F.explode(F.transform(F.sequence(F.lit(0), g),
                                              lambda gi: cell(gi, g)))
                        .alias("cell"), *feats)
    lo = tau - 2e-6

    def kernel(q, m):
        D, sims = _seq_cosine(q, m)
        keep = sims >= lo
        if (q["id"][0] - m["id"][0]) % t == 0:  # a diagonal cell
            keep &= q["id"][:, None] < m["id"][None, :]
        ai, bi = np.nonzero(keep)
        x, y = q["id"][ai], m["id"][bi]
        return pd.DataFrame({"a": np.minimum(x, y), "b": np.maximum(x, y),
                             "dotab": D[ai, bi], "na": q["norm"][ai],
                             "nb": m["norm"][bi]})

    return (cell_join(queries, members, kernel,
                      "a long, b long, dotab double, na double, nb double")
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
    the exact plan (``_neardup_pairs_exact``) instead. The result is
    identical either way (LSH-then-verify reproduces the brute set;
    both paths share the same fold/round float chain), so only the
    execution strategy switches; the guard is always on.
    """
    import logging

    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        band_plan, candidate_pairs_from_bands)

    cfg = cfg or LshConfig()
    en, bands, size = _hashed_features(e, id_col, vec_col, n_bands, bits,
                                       seed, dims)
    plan = band_plan(bands, cfg)
    n = plan.rows // n_bands
    brute_pairs = n * (n - 1) / 2.0
    if plan.mass >= brute_pairs:
        logging.getLogger(__name__).warning(
            "neardup_pairs_lsh: banding selectivity collapsed "
            "(expected candidate mass %d >= brute %.0f at "
            "tau=%s, %dx%d bands) — taking the exact plan",
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
    en, bands, size = _hashed_features(e, id_col, vec_col, n_tables, bits,
                                       seed, dims)
    pairs = candidate_pairs_from_bands(bands, cfg, source="ann")
    # dot and na*nb commute to bit-identical doubles, so the rounded
    # cosine is symmetric and scored once per unordered pair
    return (ranked_neighbours(
                pair_features(pairs, en, ("v", "norm"), id_col="vec_id",
                              size=size),
                _pair_cosine(), k, descending=True)
            .withColumnRenamed("score", "sim"))


def knn_topk_tiled(e: DataFrame, k: int = 5, tile_target: int = TILE_ROWS,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """EXACT cosine top-k as one executor-side grid: the round-robin
    block-nested-loop join (the reference's J3 shape, ``knn.hpp``-style
    all-pairs over blocks).

    Keying: the neighbour side in ``ceil(n / tile_target)`` tiles
    (``pmod(id, tiles)``), the query side in at least 2 blocks per core
    (so the grid runs in >= 2 waves of tasks even when there are few
    tiles); cell = (query block, tile), every block against every tile.
    ``n`` is observed on the feature checkpoint's job. The kernel is one
    BLAS matmul of the row-normalized chunk against the tile, rounded to
    6, and keeps each query's cell top-k under (-sim, neighbor_id) — the
    ``cell_join`` restriction argument. O(n²) work by definition of exact
    kNN — this is the oracle twin; ANN/IVF are the scale paths.
    """
    rows = Observation()
    src = (e.select(F.col(id_col).alias("id"),
                    F.col(vec_col).cast("array<double>").alias("v"))
           .observe(rows, F.count(F.lit(1)).alias("n"))
           .localCheckpoint(eager=True))
    n_tiles = max(1, math.ceil(rows.get["n"] / tile_target))
    n_q = max(n_tiles, e.sparkSession.sparkContext.defaultParallelism * 2)
    qb = F.pmod("id", F.lit(n_q)).cast("int")
    tile = F.pmod("id", F.lit(n_tiles)).cast("int")
    # cell qb*n_tiles + tile
    queries = src.select(F.explode(F.sequence(
        qb * n_tiles, qb * n_tiles + (n_tiles - 1))).alias("cell"), "id", "v")
    members = src.select(F.explode(F.sequence(
        tile, tile + (n_q - 1) * n_tiles, F.lit(n_tiles))).alias("cell"),
        "id", "v")
    gone = -(1 << 21)  # self-match key: below every real scaled sim

    def kernel(q, m):
        qids, bids = q["id"], m["id"]
        Qn = q["v"] / np.linalg.norm(q["v"], axis=1, keepdims=True)
        Bn = m["v"] / np.linalg.norm(m["v"], axis=1, keepdims=True)
        sims = np.round(Qn @ Bn.T, 6)
        nk = min(k, sims.shape[1])
        # Vectorized EXACT top-k under (-sim, id): sims are rounded to 6
        # decimals, so scaled = sims*1e6 is an exact integer in
        # [-1e6, 1e6]; pack (scaled, -rank) into one int64 key whose
        # DESCENDING order IS the total order — argpartition on an exact
        # integer key has no float-tie hazard. The members are id-sorted,
        # so the in-tile id rank is arange (bounded by the tile size —
        # arbitrary 64-bit ids can never overflow the key).
        scaled = np.round(sims * 1e6).astype(np.int64)
        scaled[qids[:, None] == bids[None, :]] = gone
        key = scaled * (1 << 33) - np.arange(len(bids), dtype=np.int64)[None, :]
        idx = np.argpartition(-key, nk - 1, axis=1)[:, :nk]
        order = np.argsort(-np.take_along_axis(key, idx, axis=1),
                           axis=1, kind="stable")
        sel = np.take_along_axis(idx, order, axis=1)
        keep = (np.take_along_axis(scaled, sel, axis=1) != gone).ravel()
        return pd.DataFrame({
            "vec_id": np.repeat(qids, sel.shape[1])[keep],
            "neighbor_id": bids[sel].ravel()[keep],
            "sim": np.take_along_axis(sims, sel, axis=1).ravel()[keep]})

    idt = src.schema["id"].dataType.simpleString()
    cells = cell_join(queries, members, kernel,
                      f"vec_id {idt}, neighbor_id {idt}, sim double")
    return (top_k(cells, k, "sim", descending=True)
            .select("vec_id", "neighbor_id", "rank", "sim"))


def _ivf_cells(en: DataFrame, dists: Column, score: Column, nprobe: int,
               descending: bool) -> tuple[DataFrame, DataFrame]:
    """The IVF keying of ``ivf_topk`` and ``ivfpq_topk``: ``dists`` is a
    per-row array with one value per centroid in centroid-rank order,
    posexploded to (ci, d); ``score`` is an expression over them (and
    ``en``'s columns). The cell is the centroid rank ci. Returns (members,
    queries) as (cell, vec_id): each vector in its best cell, and in its
    ``nprobe`` best, by score then rank."""
    ranked = top_k(en.select("*", F.posexplode(dists).alias("ci", "d"))
                   .select("vec_id", F.col("ci").alias("cell"),
                           score.alias("score")),
                   nprobe, "score", descending, ties=("cell",))
    return (ranked.filter(F.col("rank") == 1).select("cell", "vec_id"),
            ranked.select("cell", "vec_id"))


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


def _quantizer(src: DataFrame, cents: DataFrame | None, n: int) -> list:
    """Driver-side copy of the IVF quantizer, (cent_id, cv, cnorm) rows
    ordered by cent_id: the injected ``cents`` (cent_id, cv) frame, else
    the ``n`` smallest-id rows of ``src`` (vec_id, v); cnorm is the JVM
    fold norm. Bounded by max(n_centroids, ks) rows, like the kcenter
    training picks and the reference's pool gen + broadcast
    (random_projections.cpp:29-79). Doubles round-trip py4j bit-exactly,
    so kernels fold the IDENTICAL values the DuckDB oracles fold."""
    if cents is None:
        cents = src.orderBy("vec_id").limit(n).select(
            F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
    rows = (cents.select(F.col("cent_id").cast("long"),
                         F.col("cv").cast("array<double>"))
            .withColumn("cnorm", F.sqrt(dot_col(F.col("cv"), F.col("cv"))))
            .collect())
    return sorted(rows, key=lambda r: r["cent_id"])


def _rows_udf(fn):
    """Arrow-batched pandas UDF over an array<double> column: each batch
    as one (n, d) float64 matrix ``V``, one array<double> row per row of
    ``fn(V)``."""
    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def udf(vs: pd.Series) -> pd.Series:
        V = np.asarray(vs.tolist(), dtype=np.float64)
        return pd.Series(fn(V).tolist() if len(V) else [], dtype=object)

    return udf


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

    Scale shape: coarse and sub-distances are Arrow-batched
    hashing.seqdiffsq kernels against the collected (tiny) codebook, run
    on one checkpoint job; the ADC is a ``cell_join`` integer gather that
    ships ``n_sub`` small codes per member instead of ``dims`` doubles
    (8 bytes vs 512 at the default config — the point of PQ at 100 TB:
    the shuffled payload is the compressed representation), and each
    query's distance table once per probed cell.
    """
    if dims % n_sub:
        raise ValueError(f"ivfpq_topk: dims={dims} does not split into "
                         f"n_sub={n_sub} equal subspaces")
    sub = dims // n_sub
    n_code = max(n_centroids, ks)
    src = e.select(F.col(id_col).alias("vec_id"),
                   F.col(vec_col).cast("array<double>").alias("v"))
    # The frame doubles as coarse quantizer AND PQ codebook source:
    # fewer than max(n_centroids, ks) rows would silently underfill the
    # codebook, so the collected rows are validated (no extra job).
    crows = _quantizer(src, cents, n_code)
    if len(crows) < n_code:
        raise ValueError(
            f"ivfpq_topk cents frame has {len(crows)} rows but must "
            f"carry max(n_centroids={n_centroids}, ks={ks}) = {n_code} "
            "(cent_id order is both cell rank and PQ code rank)")
    C_all = np.asarray([r["cv"] for r in crows], dtype=np.float64)
    # hashing.seqdiffsq folds in DuckDB list_reduce's order, and the *1e6
    # fixed-point rounding stays JVM-side on the raw fold values, so
    # keys/codes match the oracle's (pinned in tests/test_embedding.py)
    coarse_dsq = _rows_udf(lambda V: H.seqdiffsq(V, C_all[:n_centroids]))
    sub_dsq = _rows_udf(lambda V: np.hstack([
        H.seqdiffsq(V[:, s * sub:(s + 1) * sub],
                    C_all[:ks, s * sub:(s + 1) * sub]) for s in range(n_sub)]))

    def micros(x):
        return F.round(x * 1e6, 0).cast("long")

    # the checkpoint's job evaluates both kernels: the coarse distances
    # (posexplode index == centroid rank, C_all is cent_id-ordered) and
    # the query's distance table, sub-distance micros in (subspace, code)
    # order
    pq, size = checkpoint_features(
        src.select("vec_id", coarse_dsq("v").alias("cd"),
                   F.transform(sub_dsq("v"), micros).alias("qdt")),
        ("qdt",), "vec_id")
    mem_keys, qry_keys = _ivf_cells(pq, F.col("cd"), micros(F.col("d")),
                                    nprobe, descending=False)
    # a member's code per subspace: its nearest code, code-rank tie-break
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda s: F.array_min(F.transform(
            F.slice("qdt", s * ks + 1, F.lit(ks)),
            lambda d, c: d * ks + c)) % ks)
    never = np.iinfo(np.int64).max  # self-pair sentinel

    def kernel(q, m):
        # an exact int64 gather-sum: each query's distance table over
        # every member's codes
        DT = q["qdt"].reshape(len(q["id"]), n_sub, ks)
        adc = np.zeros((len(q["id"]), len(m["id"])), dtype=np.int64)
        for s in range(n_sub):
            adc += DT[:, s, :][:, m["mcodes"][:, s]]
        adc = np.where(q["id"][:, None] == m["id"][None, :], never, adc)
        # stable argsort over id-sorted columns = (adci asc, id asc)
        nk = min(k, adc.shape[1])
        sel = np.argsort(adc, axis=1, kind="stable")[:, :nk]
        keep = (np.take_along_axis(adc, sel, axis=1) != never).ravel()
        qi = np.repeat(np.arange(len(q["id"])), nk)[keep]
        mi = sel.ravel()[keep]
        return pd.DataFrame({"vec_id": q["id"][qi],
                             "neighbor_id": m["id"][mi],
                             "adci": adc[qi, mi]})

    tables = broadcast_if_fits(pq.select("vec_id", "qdt"), size)
    idt = pq.schema["vec_id"].dataType.simpleString()
    adc = cell_join(
        qry_keys.join(tables, "vec_id").select(
            "cell", F.col("vec_id").alias("id"), "qdt"),
        mem_keys.join(tables, "vec_id").select(
            "cell", F.col("vec_id").alias("id"), codes.alias("mcodes")),
        kernel, f"vec_id {idt}, neighbor_id {idt}, adci long")
    return (top_k(adc, k, "adci")
            .select("vec_id", "neighbor_id", "rank",
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
    centroid table, run on the feature checkpoint's job, and the
    candidate re-rank is a ``cell_join`` seqdot kernel — vectors ship to
    their (nprobe+1) cells ONCE instead of once per candidate pair (guide
    §8: decide with small rows, move payloads once). The result matches
    ivf_oracle_sql (and ivf_kcenter_oracle_sql for the kcenter quantizer)
    bit-for-bit — pinned in tests/test_embedding.py. Cells are
    ~n/n_centroids and n_centroids grows as √n, so per-task candidate
    work is O(n/√n · nprobe). Swapping in k-means centroids changes only
    the `cents` frame, not the plan.
    """
    crows = _quantizer(e.select(F.col(id_col).alias("vec_id"),
                                F.col(vec_col).alias("v")), cents, n_centroids)
    C = np.asarray([r["cv"] for r in crows], dtype=np.float64)
    # the checkpoint's job runs the centroid dot kernel
    en, size = _normed_features(e, id_col, vec_col, _rows_udf(
        lambda V: H.seqdot(V, C))(F.col("v")).alias("cd"))

    cnorms = F.array(*[F.lit(float(r["cnorm"])) for r in crows])
    # raw fold dots from the kernel; division + round stay JVM-side so the
    # ranked csim is the identical double ivf_oracle_sql ranks on
    mem_keys, qry_keys = _ivf_cells(
        en, F.col("cd"), cosine_col(F.col("d"), F.col("norm"),
                                    F.element_at(cnorms, F.col("ci") + 1)),
        nprobe, descending=True)
    # the planner cannot size the checkpoint: broadcast it from its
    # observed bytes, so both joins below read one broadcast
    feats = broadcast_if_fits(en.select("vec_id", "v", "norm"), size)

    def kernel(q, m):
        # each query's k-th rounded sim in the cell, kept with the
        # cell_join rounding slack; self-pairs masked out
        D, sims = _seq_cosine(q, m)
        notself = q["id"][:, None] != m["id"][None, :]
        sims = np.where(notself, sims, -np.inf)
        nk = min(k, sims.shape[1])
        kth = -np.partition(-sims, nk - 1, axis=1)[:, nk - 1]
        qi, mi = np.nonzero(notself & (sims >= kth[:, None] - 2e-6))
        return pd.DataFrame({"vec_id": q["id"][qi], "neighbor_id": m["id"][mi],
                             "dot": D[qi, mi], "na": q["norm"][qi],
                             "nb": m["norm"][mi]})

    def side(keys):
        return keys.join(feats, "vec_id").select(
            "cell", F.col("vec_id").alias("id"), "v", "norm")

    idt = en.schema["vec_id"].dataType.simpleString()
    cands = cell_join(side(qry_keys), side(mem_keys), kernel,
                      f"vec_id {idt}, neighbor_id {idt}, dot double, "
                      "na double, nb double")
    return (top_k(cands.withColumn("sim", cosine_col(
                F.col("dot"), F.col("na"), F.col("nb"))), k, "sim",
                  descending=True)
            .select("vec_id", "neighbor_id", "rank", "sim"))
