"""Deterministic k-means: cross-engine exactness at extra iterations
(the driver gate only runs n_iter=2) and clustering sanity on planted
blobs — fixed-point centroid sums make Spark and DuckDB agree
value-for-value, which a double-sum k-means cannot do."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from distributed_gpu_lsh_using_sycl_spark.operators.kmeans import (
    kmeans_assign, kmeans_oracle_sql)

SF = "/root/testdata/sf0.001"


def test_three_iterations_match_duckdb(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")
    got = {r["vec_id"]: (r["cluster"], r["dist"]) for r in
           kmeans_assign(e, n_centroids=6, n_iter=3,
                         vec_col="embedding").collect()}
    con = duckdb.connect()
    con.execute(f"create view embeddings as select * from "
                f"read_parquet('{SF}/embeddings.parquet')")
    dims = len(con.execute("select embedding from embeddings limit 1"
                           ).fetchone()[0])
    want = {r[0]: (r[1], r[2]) for r in con.execute(
        kmeans_oracle_sql(n_centroids=6, n_iter=3, dims=dims)).fetchall()}
    assert got == want
    assert len({c for c, _ in got.values()}) > 1  # not everything in one cell


def test_planted_blobs_recovered(spark):
    rng = np.random.Generator(np.random.PCG64(9))
    centers = np.array([[2.0, 0, 0, 0], [0, 2.0, 0, 0], [0, 0, 2.0, 0]])
    labels = np.arange(90) % 3
    pts = centers[labels] + rng.standard_normal((90, 4)) * 0.05
    # ids 0..2 are one point from each blob -> init centroids = one per blob
    order = np.argsort(labels, kind="stable")
    first = [np.flatnonzero(labels == b)[0] for b in range(3)]
    rest = [i for i in order if i not in first]
    perm = first + rest
    pdf = pd.DataFrame({"vec_id": np.arange(90),
                        "v": [pts[i].tolist() for i in perm]})
    truth = {int(i): int(labels[p]) for i, p in enumerate(perm)}
    df = spark.createDataFrame(pdf)
    got = {r["vec_id"]: r["cluster"] for r in
           kmeans_assign(df, n_centroids=3, n_iter=3).collect()}
    assert all(got[i] == truth[i] for i in got), "blob structure not recovered"


def test_kcenter_init_and_converge_stop(spark):
    """Non-toy path: batched farthest-first init matches the unrolled
    DuckDB init chain at depth, and the convergence stop is a true
    fixpoint — asking for MORE iterations than convergence needs yields
    the exact same assignment (so a fixed-depth oracle >= the stop point
    always matches)."""
    # oracle first: the deep Spark loop leaves many shuffle-file fds
    # open and can push DuckDB's parquet open over the ulimit
    con = duckdb.connect()
    con.execute(f"create view embeddings as select * from "
                f"read_parquet('{SF}/embeddings.parquet')")
    dims = len(con.execute("select embedding from embeddings limit 1"
                           ).fetchone()[0])
    want = {r[0]: (r[1], r[2]) for r in con.execute(
        kmeans_oracle_sql(n_centroids=5, n_iter=8, dims=dims,
                          init="kcenter", init_rounds=2)).fetchall()}
    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")
    b = {r["vec_id"]: (r["cluster"], r["dist"]) for r in
         kmeans_assign(e, n_centroids=5, n_iter=8, vec_col="embedding",
                       init="kcenter", init_rounds=2).collect()}
    assert b == want
    assert len({c for c, _ in b.values()}) > 1
    # convergence stop is a true fixpoint: on well-separated blobs Lloyd
    # converges in a couple of updates, so asking for far more
    # iterations must return the identical assignment (the loop breaks
    # at the exact centroid fixpoint instead of iterating on)
    rng = np.random.Generator(np.random.PCG64(5))
    centers = np.array([[3.0, 0, 0, 0], [0, 3.0, 0, 0], [0, 0, 3.0, 0]])
    pts = centers[np.arange(60) % 3] + rng.standard_normal((60, 4)) * 0.05
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(60), "v": pts.tolist()}))
    short = {r["vec_id"]: (r["cluster"], r["dist"]) for r in
             kmeans_assign(df, n_centroids=3, n_iter=4,
                           init="kcenter").collect()}
    long = {r["vec_id"]: (r["cluster"], r["dist"]) for r in
            kmeans_assign(df, n_centroids=3, n_iter=25,
                          init="kcenter").collect()}
    assert short == long


def test_assign_kernel_matches_fold(spark):
    """The seqdiffsq Arrow kernel behind _assign reproduces the DuckDB
    sequential list_reduce fold exactly on Gaussian 300 x 16 points with
    6 centroids, for the smallest-id and the kcenter init. The
    interpreted-JVM fold this test once compared against is gone;
    kmeans_oracle_sql is the independent reference."""
    rng = np.random.Generator(np.random.PCG64(5))
    pdf = pd.DataFrame({"vec_id": np.arange(300),
                        "v": rng.standard_normal((300, 16)).tolist()})
    con = duckdb.connect()
    con.register("gauss", pdf)
    e = spark.createDataFrame(pdf)
    for n_iter, init in ((3, "smallest_ids"), (4, "kcenter")):
        want = {r[0]: (r[1], r[2]) for r in con.execute(
            kmeans_oracle_sql(n_centroids=6, n_iter=n_iter, dims=16,
                              table="gauss", vec_col="v",
                              init=init)).fetchall()}
        got = {r["vec_id"]: (r["cluster"], r["dist"]) for r in
               kmeans_assign(e, n_centroids=6, n_iter=n_iter,
                             init=init).collect()}
        assert len(got) == 300
        assert got == want, init
