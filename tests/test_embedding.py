"""Embedding-similarity operators vs numpy brute-force truth on seeded
clustered data (the reference's own oracle methodology: sklearn-brute
exact k-NN, calculate_exact_nearest_neighbors.py:66-72 — here as plain
numpy on Gaussian blobs, generate_data.py:37-47 analog)."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _blobs(seed=3, n_clusters=40, per_cluster=6, dims=32, noise=0.05):
    """Tight Gaussian blobs on the unit sphere: within-cluster cosine
    ~0.99, cross-cluster ~0 — planted near-dup truth."""
    rng = np.random.Generator(np.random.PCG64(seed))
    centers = rng.standard_normal((n_clusters, dims))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, per_cluster, axis=0)
    pts = pts + noise * rng.standard_normal(pts.shape)
    return pts


def _brute(pts):
    n = pts.shape[0]
    norm = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    sims = np.round(norm @ norm.T, 6)
    np.fill_diagonal(sims, -np.inf)
    return sims


def _df(spark, pts):
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def _duck(pts):
    """DuckDB connection holding the same rows as ``_df`` as table
    ``emb(vec_id, v)``, for running the ``*_oracle_sql`` checks in pytest."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("emb", pd.DataFrame({"vec_id": np.arange(len(pts)),
                                      "v": pts.tolist()}))
    return con


@pytest.fixture(scope="module")
def pts():
    return _blobs()


def test_neardup_lsh_reproduces_brute(spark, pts):
    """LSH-then-verify == brute-force thresholding, exactly, on a truth
    set that is NON-EMPTY (the correctness the empty sf0.01 driver row
    cannot witness)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        neardup_pairs_lsh)

    tau = 0.8
    sims = _brute(pts)
    iu = np.triu_indices_from(sims, k=1)
    truth = {(int(a), int(b)) for a, b in zip(*iu) if sims[a, b] >= tau}
    assert len(truth) > 100  # planted dups are really there

    got = {(r["a"], r["b"]) for r in
           neardup_pairs_lsh(_df(spark, pts), tau=tau,
                             dims=pts.shape[1]).select("a", "b").collect()}
    assert got == truth


def test_ann_topk_recall(spark, pts):
    """Multi-table ANN recall@k ≥ 0.9 vs exact brute top-k on clustered
    data (the reference's recall metric, nearest_neighbors_result.cpp:
    104-143, with its own ≥-0.9-style bar)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import ann_topk_lsh

    k = 5
    sims = _brute(pts)
    n = len(pts)
    truth = {}
    for i in range(n):
        order = np.lexsort((np.arange(n), -sims[i]))[:k]
        truth[i] = set(int(j) for j in order)

    got = {}
    for r in ann_topk_lsh(_df(spark, pts), k=k, dims=pts.shape[1]).collect():
        got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(i, set()) & truth[i]) for i in range(n))
    recall = hits / (n * k)
    assert recall >= 0.9, f"ANN recall {recall:.3f} < 0.9"


def test_ann_topk_lsh_equals_oracle_sql(spark, pts):
    """ann_topk_lsh == parity_hash.ann_oracle_sql row for row (ids, ranks
    and sims), at the driver query's tables, bits and seed: the sign-bit
    kernel folds like DuckDB, so the approximation's misses agree too."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import ann_topk_lsh
    from distributed_gpu_lsh_using_sycl_spark.operators.parity_hash import (
        ann_oracle_sql)

    dims = pts.shape[1]
    got = sorted(tuple(r) for r in ann_topk_lsh(
        _df(spark, pts), k=5, n_tables=8, bits=6, seed=11,
        dims=dims).collect())
    want = sorted(_duck(pts).execute(ann_oracle_sql(
        8, 6, 11, dims, 5, table="emb", vec_col="v")).fetchall())
    assert len(got) > len(pts)
    assert got == want


def test_neardup_lsh_branch_job_count(spark, pts):
    """A warm pass of the near-dup LSH branch submits a pinned number of
    jobs (status store): the band plan's one stats job also observes the
    guardrail's pair mass and row count, and the verify broadcasts the
    feature checkpoint from its observed bytes. 9 jobs before, 7 after.
    A new job in the operator shows here first."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        neardup_pairs_lsh)
    from perfbench.sparkstats import StatusStore

    def run():
        return neardup_pairs_lsh(_df(spark, pts), tau=0.8,
                                 dims=pts.shape[1]).collect()

    run()
    store = StatusStore(spark)
    assert run()
    assert len(store.new_jobs()) == 7


def test_knn_tiled_exact(spark, pts):
    """Tiled kNN (an executor-side crossJoin grid of packed blocks) ==
    brute top-k EXACTLY (ranks, ids, sims), with a tile size that forces
    several tiles."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        knn_topk_tiled)

    k = 4
    sims = _brute(pts)
    n = len(pts)
    truth = set()
    for i in range(n):
        order = np.lexsort((np.arange(n), -sims[i]))[:k]
        for rank, j in enumerate(order, 1):
            truth.add((i, int(j), rank, float(sims[i, j])))

    e = _df(spark, pts).select("vec_id", F.col("v").alias("embedding"))
    got = {(r["vec_id"], r["neighbor_id"], r["rank"], r["sim"])
           for r in knn_topk_tiled(e, k=k, tile_target=37).collect()}
    assert got == truth


def _ivfpq_numpy(pts, k=5, n_centroids=16, nprobe=4, n_sub=8, ks=16,
                 cents=None):
    """Independent numpy mirror of embedding.ivfpq_topk's exact
    semantics: sequential-fold sub-distances (dim loop, the same FP order
    as hashing.seqdiffsq and DuckDB's list_reduce), fixed-point micros,
    argmin-with-rank-tie-break codes, integer ADC sums, (adc asc, id asc)
    ranking. ``cents``: rank-ordered quantizer rows; default the
    smallest-id vectors."""
    n, dims = pts.shape
    sub = dims // n_sub

    def seq_sq(a, b):
        # a: (..., sub), b: (..., sub) -> sequential fold of (a-b)^2
        acc = np.zeros(np.broadcast(a[..., 0], b[..., 0]).shape)
        for d in range(sub):
            diff = a[..., d] - b[..., d]
            acc = acc + diff * diff
        return acc

    def seq_sq_full(a, b):
        acc = np.zeros(np.broadcast(a[..., 0], b[..., 0]).shape)
        for d in range(a.shape[-1] if a.ndim > 1 else b.shape[-1]):
            diff = a[..., d] - b[..., d]
            acc = acc + diff * diff
        return acc

    if cents is None:  # vec_ids are 0..n-1 -> smallest ids
        cents = pts[:max(n_centroids, ks)]
    # coarse cells
    cd = seq_sq_full(pts[:, None, :], cents[None, :n_centroids, :])
    ckey = (np.round(cd * 1e6).astype(np.int64) * n_centroids
            + np.arange(n_centroids, dtype=np.int64)[None, :])
    order = np.argsort(ckey, axis=1, kind="stable")
    cell = ckey[np.arange(n)[:, None], order[:, :1]] % n_centroids
    probe = ckey[np.arange(n)[:, None], order[:, :nprobe]] % n_centroids
    # sub-distances (n, n_sub, ks) in micros
    sv = pts.reshape(n, n_sub, sub)
    cv = cents[:ks].reshape(ks, n_sub, sub)
    sd = np.round(seq_sq(sv[:, :, None, :], cv.transpose(1, 0, 2)[None, :, :, :])
                  * 1e6).astype(np.int64)
    codes = np.argmin(sd * ks + np.arange(ks, dtype=np.int64)[None, None, :],
                      axis=2)  # argmin returns first min -> rank tie-break
    out = set()
    for q in range(n):
        cand = [x for x in range(n)
                if x != q and cell[x, 0] in set(probe[q])]
        scored = sorted(
            (int(sd[q, np.arange(n_sub), codes[x]].sum()), x) for x in cand)
        for r, (adci, x) in enumerate(scored[:k], 1):
            out.add((q, x, r, round(adci / 1e6, 6)))
    return out


def test_ivfpq_matches_numpy_mirror(spark, pts):
    """IVF-PQ ADC top-k == an independent numpy implementation of the
    same deterministic semantics, exactly — on clustered data where the
    probe sets and code collisions are non-trivial. (The DuckDB oracle
    re-checks the identical structure at the driver; this pins it in
    pytest without an engine in common.) Covers the default smallest-id
    quantizer and the injected kcenter_cents quantizer/codebook."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        ivfpq_topk, kcenter_cents)

    df = _df(spark, pts)
    kc = kcenter_cents(df, 16, rounds=2)
    kc_rows = np.asarray([r["cv"] for r in
                          sorted(kc.collect(), key=lambda r: r["cent_id"])])
    for cents, mirror_cents in ((None, None), (kc, kc_rows)):
        out = ivfpq_topk(df, k=5, dims=pts.shape[1], cents=cents).collect()
        got = {(r["vec_id"], r["neighbor_id"], r["rank"],
                round(r["adc_dist"], 6)) for r in out}
        want = _ivfpq_numpy(pts, cents=mirror_cents)
        assert got == want
        # structure sanity: every query that has candidates emits rows,
        # and ADC actually discriminates (not all-zero distances)
        assert len({q for q, *_ in got}) >= len(pts) * 0.9
        assert any(d > 0 for *_, d in got)


def test_ivf_topk_recall(spark, pts):
    """IVF-flat top-k: every returned neighbor's sim must be exact, and
    recall vs brute truth ≥ 0.7 on clustered data (nprobe=4 of 16 cells;
    the structure is checked against DuckDB in
    test_ivf_kernel_matches_fold — this pins the approximation quality
    floor)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import ivf_topk

    k = 5
    out = ivf_topk(_df(spark, pts), k=k, n_centroids=16, nprobe=4).collect()
    sims = _brute(pts)
    truth = {(i, int(j)) for i in range(len(pts))
             for j in np.lexsort((np.arange(len(pts)), -sims[i]))[:k]}
    got = {(r["vec_id"], r["neighbor_id"]) for r in out}
    for r in out:  # exactness of returned sims
        assert abs(r["sim"] - sims[r["vec_id"], r["neighbor_id"]]) < 1e-9
    recall = len(got & truth) / len(truth)
    assert recall >= 0.7, recall


def test_ivf_kcenter_quantizer_recall(spark, pts):
    """Swapping the DATA-ADAPTIVE farthest-first quantizer
    (kcenter_cents) into ivf_topk / ivfpq_topk changes ONLY the `cents`
    frame (the docstrings' promise) and, on clustered data, beats the
    smallest-id parity quantizer: recall@5 vs exact brute top-k is
    reported and asserted. Deterministic end-to-end (seeded fixture,
    deterministic init), so the bars are exact re-run invariants, not
    statistical hopes. The sf0.01 driver row ivf_kcenter_topk
    additionally hash-checks the identical chain against DuckDB."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        ivf_topk, ivfpq_topk, kcenter_cents)

    k = 5
    sims = _brute(pts)
    n = len(pts)
    truth = {i: set(int(j) for j in np.lexsort((np.arange(n), -sims[i]))[:k])
             for i in range(n)}

    def recall(out):
        got = {}
        for r in out.collect():
            got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        return sum(len(got.get(i, set()) & truth[i]) for i in range(n)) / (n * k)

    df = _df(spark, pts)
    cents = kcenter_cents(df, 16, rounds=2)
    assert cents.count() == 16

    r_ivf_kc = recall(ivf_topk(df, k=k, n_centroids=16, nprobe=4, cents=cents))
    r_pq_id = recall(ivfpq_topk(df, k=k, n_centroids=16, nprobe=4,
                                n_sub=8, ks=16, dims=pts.shape[1]))
    r_pq_kc = recall(ivfpq_topk(df, k=k, n_centroids=16, nprobe=4,
                                n_sub=8, ks=16, dims=pts.shape[1],
                                cents=cents))
    print(f"recall@5 ivf/kcenter={r_ivf_kc:.3f} "
          f"ivfpq/smallest-id={r_pq_id:.3f} ivfpq/kcenter={r_pq_kc:.3f}")
    assert r_ivf_kc >= 0.9, f"IVF kcenter recall {r_ivf_kc:.3f} < 0.9"
    assert r_pq_kc >= 0.9, f"IVF-PQ kcenter recall {r_pq_kc:.3f} < 0.9"
    # the adaptive quantizer must not LOSE to the naive parity one here
    assert r_pq_kc >= r_pq_id


def test_kcenter_codebook_artifact_cache(spark, pts, tmp_path):
    """The trained-artifact wrapper must serve values bit-identical to
    inline training, train at most once per (source snapshot, params),
    and invalidate when the source parquet changes (never serve stale
    centers for regenerated data)."""
    import os
    import time as _time

    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        kcenter_cents, kcenter_codebook)
    from distributed_gpu_lsh_using_sycl_spark.sources.artifacts import (
        artifact_path)

    df = _df(spark, pts)
    src = str(tmp_path / "emb.parquet")
    root = str(tmp_path / "artifacts")
    df.write.parquet(src)

    inline = {r["cent_id"]: list(r["cv"])
              for r in kcenter_cents(df, 8, rounds=2).collect()}
    got1 = {r["cent_id"]: list(r["cv"])
            for r in kcenter_codebook(df, src, 8, rounds=2,
                                      artifact_root=root).collect()}
    assert got1 == inline  # bit-identical to inline training

    path = artifact_path("kcenter_codebook", src,
                         {"n_centroids": 8, "rounds": 2,
                          "id_col": "vec_id", "vec_col": "v"},
                         artifact_root=root)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    trained_at = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    got2 = {r["cent_id"]: list(r["cv"])
            for r in kcenter_codebook(df, src, 8, rounds=2,
                                      artifact_root=root).collect()}
    assert got2 == inline
    # cache hit: the artifact was NOT rebuilt
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == trained_at

    # params key: another config trains its own artifact
    other = artifact_path("kcenter_codebook", src,
                          {"n_centroids": 4, "rounds": 2,
                           "id_col": "vec_id", "vec_col": "v"},
                          artifact_root=root)
    assert other != path

    # snapshot key: rewriting the source invalidates (new path)
    _time.sleep(0.01)
    df.write.mode("overwrite").parquet(src)
    fresh = artifact_path("kcenter_codebook", src,
                          {"n_centroids": 8, "rounds": 2,
                           "id_col": "vec_id", "vec_col": "v"},
                          artifact_root=root)
    assert fresh != path


def test_ivf_kernel_matches_fold(spark, pts):
    """ivf_topk (seqdot/seqdiffsq + cogrouped per-cell Arrow re-rank)
    equals the DuckDB sequential-fold plan over the same rows exactly,
    for the default smallest-id quantizer (parity_hash.ivf_oracle_sql)
    and the injected kcenter quantizer (ivf_kcenter_oracle_sql, which
    recomputes the farthest-first init too). The interpreted-JVM fold
    plan this test once compared against is gone; IVF-PQ with both
    quantizers is pinned in test_ivfpq_matches_numpy_mirror."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        ivf_topk, kcenter_cents)
    from distributed_gpu_lsh_using_sycl_spark.operators.parity_hash import (
        ivf_kcenter_oracle_sql, ivf_oracle_sql)

    e = _df(spark, pts)
    con = _duck(pts)
    dims = pts.shape[1]
    for cents, sql in (
            (None, ivf_oracle_sql(dims=dims, k=5, n_centroids=16, nprobe=4,
                                  table="emb", vec_col="v")),
            (kcenter_cents(e, 16, rounds=2),
             ivf_kcenter_oracle_sql(dims=dims, k=5, n_centroids=16,
                                    nprobe=4, rounds=2, table="emb",
                                    vec_col="v"))):
        got = {tuple(r) for r in ivf_topk(e, k=5, n_centroids=16, nprobe=4,
                                          cents=cents).collect()}
        assert got == set(con.execute(sql).fetchall())
        assert len(got) > 0


def test_neardup_guardrail_low_tau_falls_back(spark, pts):
    """At a low-tau operating point (near-orthogonal data, wide bands)
    the banding's expected candidate mass exceeds the brute-force pair
    count; the guardrail must take the exact tiled plan and STILL equal
    brute-force thresholding (the oracle contract is unchanged — only
    the execution strategy switches)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        _neardup_pairs_exact, neardup_pairs_lsh, with_norm)

    tau = 0.2  # low tau: per-band collision ~0.5+ per plane, mass >> brute
    sims = _brute(pts)
    iu = np.triu_indices_from(sims, k=1)
    truth = {(int(a), int(b)) for a, b in zip(*iu) if sims[a, b] >= tau}
    assert len(truth) > 100

    e = _df(spark, pts)
    # the full operator (guard on, default ratio) — collapses, equals brute
    got = {(r["a"], r["b"]) for r in
           neardup_pairs_lsh(e, tau=tau, n_bands=96, bits=5,
                             dims=pts.shape[1]).select("a", "b").collect()}
    assert got == truth
    # the exact fallback directly, any tau
    en = with_norm(e.select("vec_id", "v"), "v")
    got2 = {(r["a"], r["b"]) for r in
            _neardup_pairs_exact(en, 0.8, len(pts)).select("a", "b").collect()}
    truth08 = {(int(a), int(b)) for a, b in zip(*iu) if sims[a, b] >= 0.8}
    assert got2 == truth08


def test_ivf_kernel_chunked_matches_unchunked(spark, pts, monkeypatch):
    """Shrinking the per-cell kernel chunk bound (forcing many query
    chunks per cell) changes no row of any ``cell_join`` caller — IVF,
    IVF-PQ, the exact top-k grid and the exact near-dup fallback: each
    kernel selects per query row, so the chunked output is identical."""
    from distributed_gpu_lsh_using_sycl_spark.operators import embedding

    e = _df(spark, pts)
    emb = e.select("vec_id", F.col("v").alias("embedding"))
    en = embedding.with_norm(e.select("vec_id", "v"), "v")
    runs = {
        "ivf": lambda: embedding.ivf_topk(e),
        "ivfpq": lambda: embedding.ivfpq_topk(e, dims=pts.shape[1]),
        "knn": lambda: embedding.knn_topk_tiled(emb, k=4, tile_target=37),
        "neardup": lambda: embedding._neardup_pairs_exact(en, 0.8, len(pts)),
    }

    def rows():
        return {name: sorted(tuple(r) for r in run().collect())
                for name, run in runs.items()}

    base = rows()
    monkeypatch.setattr(embedding, "CELL_CHUNK_ELEMS", 64)
    monkeypatch.setattr(embedding, "CELL_CHUNK_MIN_ROWS", 2)
    assert rows() == base
    assert all(base.values())


def test_knn_tiled_job_count(spark, pts):
    """A warm ``knn_topk_tiled`` pass submits a pinned number of jobs
    (status store): ``n`` is observed on the feature checkpoint's job
    instead of a ``count()``, and the grid is one cogroup. 8 jobs for the
    crossJoin grid with its count, 5 for the cell join."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        knn_topk_tiled)
    from perfbench.sparkstats import StatusStore

    e = _df(spark, pts).select("vec_id", F.col("v").alias("embedding"))

    def run():
        return knn_topk_tiled(e, k=4, tile_target=37).collect()

    run()
    store = StatusStore(spark)
    assert run()
    assert len(store.new_jobs()) == 5


def test_neardup_lsh_branch_runs_sign_kernel_once(spark, pts):
    """A warm τ = 0.8 pass of the near-dup LSH branch evaluates the
    sign-bit Python kernel in exactly one SQL execution: the buckets are
    computed on the feature checkpoint's job, and the band plan's stats
    job and the candidate join read them from there (the kernel ran in
    both before)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        neardup_pairs_lsh)
    from tests.test_rehydration import _with_plans

    def run():
        return neardup_pairs_lsh(_df(spark, pts), tau=0.8,
                                 dims=pts.shape[1]).collect()

    run()
    rows, plans = _with_plans(spark, run)
    assert rows
    assert sum("ArrowEvalPython" in p for p in plans) == 1


def test_ivfpq_rejects_uneven_subspaces(spark, pts):
    """``dims`` that ``n_sub`` does not divide raises, under ``python -O``
    too, instead of dropping each subspace's trailing dimensions."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        ivfpq_topk)

    with pytest.raises(ValueError, match="n_sub=5"):
        ivfpq_topk(_df(spark, pts), dims=pts.shape[1], n_sub=5)
