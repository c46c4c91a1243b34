"""Connected components vs a driver-side union-find oracle."""

import numpy as np
import pytest


def _union_find_clusters(n_ids, edges):
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


def _assign_both_paths(monkeypatch, vdf, edf):
    """assign_clusters under its own bound (driver union-find at these
    sizes) and with the bound forced to 0 (the star loop)."""
    from distributed_gpu_lsh_using_sycl_spark.operators import components

    out = []
    for bound in (components.SMALL_GRAPH_EDGES, 0):
        monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", bound)
        out.append({r["image_id"]: r["cluster_id"]
                    for r in components.assign_clusters(vdf, edf).collect()})
    return out


@pytest.mark.parametrize("seed,n,p", [(1, 60, 0.03), (2, 100, 0.01), (3, 40, 0.15)])
def test_cc_matches_union_find(spark, monkeypatch, seed, n, p):
    rng = np.random.Generator(np.random.PCG64(seed))
    ids = [f"v{i:04d}" for i in range(n)]
    edges = [(ids[i], ids[j]) for i in range(n) for j in range(i + 1, n)
             if rng.random() < p]
    expect = _union_find_clusters(ids, edges)

    vdf = spark.createDataFrame([(i,) for i in ids], ["image_id"])
    edf = spark.createDataFrame(edges or [("v0000", "v0000")], ["a", "b"])
    for got in _assign_both_paths(monkeypatch, vdf, edf):
        assert got == expect


def test_cc_chain_and_star(spark, monkeypatch):
    """A long path (worst case for propagation) and a star collapse to one
    cluster rooted at the min, on both CC paths."""
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(30)]
    star = [("s000", f"s{i:03d}") for i in range(1, 10)]
    ids = sorted({x for e in chain + star for x in e}) + ["lonely"]
    vdf = spark.createDataFrame([(i,) for i in ids], ["image_id"])
    edf = spark.createDataFrame(chain + star, ["a", "b"])
    for got in _assign_both_paths(monkeypatch, vdf, edf):
        assert {got[f"c{i:03d}"] for i in range(31)} == {"c000"}
        assert {got[f"s{i:03d}"] for i in range(10)} == {"s000"}
        assert got["lonely"] == "lonely"


@pytest.mark.parametrize("seed", [7, 11])
def test_small_graph_path_equals_distributed(spark, seed):
    """The driver union-find fast path must produce assignments IDENTICAL
    to the large-star/small-star loop (same component-min cluster ids,
    same node set), and the threshold must gate which path runs: above
    the edge count the distributed loop engages (and still matches)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.components import (
        connected_components)

    rng = np.random.default_rng(seed)
    ids = [f"v{i:04d}" for i in range(120)]
    edges = [(ids[i], ids[j]) for i in range(120) for j in range(i + 1, 120)
             if rng.random() < 0.02]
    edf = spark.createDataFrame(edges, ["a", "b"])

    dist = {(r["image_id"], r["cluster_id"])
            for r in connected_components(edf).collect()}
    fast = {(r["image_id"], r["cluster_id"])
            for r in connected_components(
                edf, small_graph_threshold=10**6).collect()}
    assert fast == dist and len(fast) > 0
    # threshold below the edge count -> distributed path (still equal)
    over = {(r["image_id"], r["cluster_id"])
            for r in connected_components(
                edf, small_graph_threshold=1).collect()}
    assert over == dist


def test_small_graph_threshold_boundary(spark, monkeypatch):
    """The small-graph decision compares the DISTINCT edge count (self
    loops and repeated edges removed) with the threshold: at the count
    union-find runs, one below it the star loop runs, and both give the
    same assignments as the union-find oracle."""
    from distributed_gpu_lsh_using_sycl_spark.operators import components

    calls = []
    real = components._small_graph_components
    monkeypatch.setattr(components, "_small_graph_components",
                        lambda cur: calls.append(1) or real(cur))
    edges = [(f"v{i:03d}", f"v{i + 1:03d}") for i in range(0, 20, 2)]
    edges += [("v000", "v002"), ("v005", "v009"), ("v030", "v031")]
    n_distinct = len(set(edges))
    edf = spark.createDataFrame(
        edges + edges[:4] + [("v007", "v007")], ["a", "b"])
    want = _union_find_clusters(sorted({x for e in edges for x in e}), edges)

    got = {}
    for thr in (n_distinct, n_distinct - 1):
        got[thr] = {r["image_id"]: r["cluster_id"] for r in
                    components.connected_components(
                        edf, small_graph_threshold=thr).collect()}
    assert calls == [1]  # only the threshold == count run took union-find
    assert got[n_distinct] == got[n_distinct - 1] == want


def test_assign_clusters_small_graph_takes_union_find(spark, monkeypatch):
    """With no argument, assign_clusters solves a graph under
    components.SMALL_GRAPH_EDGES by driver union-find: the star loop
    never runs, and the assignment equals the oracle."""
    from distributed_gpu_lsh_using_sycl_spark.operators import components

    calls = {"union_find": 0, "star": 0}
    real_uf, real_star = (components._small_graph_components,
                          components._large_star)

    def uf(cur):
        calls["union_find"] += 1
        return real_uf(cur)

    def star(e):
        calls["star"] += 1
        return real_star(e)

    monkeypatch.setattr(components, "_small_graph_components", uf)
    monkeypatch.setattr(components, "_large_star", star)
    edges = [("v01", "v02"), ("v02", "v03"), ("v05", "v04")]
    ids = sorted({x for e in edges for x in e}) + ["v09"]
    vdf = spark.createDataFrame([(i,) for i in ids], ["image_id"])
    edf = spark.createDataFrame(edges, ["a", "b"])
    got = {r["image_id"]: r["cluster_id"]
           for r in components.assign_clusters(vdf, edf).collect()}
    assert calls == {"union_find": 1, "star": 0}
    assert len(edges) <= components.SMALL_GRAPH_EDGES
    assert got == _union_find_clusters(ids, edges)


def test_bound_skips_the_entry_checkpoint(spark, monkeypatch):
    """A caller's bound at or under SMALL_GRAPH_EDGES sends the distinct
    edges straight to union-find: ``_checkpoint_observed`` never runs.
    A bound over it, or none, keeps the entry checkpoint that counts the
    edges. Every case equals the union-find oracle."""
    from distributed_gpu_lsh_using_sycl_spark.operators import components

    calls = []
    real = components._checkpoint_observed
    monkeypatch.setattr(components, "_checkpoint_observed",
                        lambda e, prev=None: calls.append(1) or real(e, prev))
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 8)
    edges = [("v01", "v02"), ("v02", "v03"), ("v05", "v04"),
             ("v06", "v07"), ("v07", "v08"), ("v01", "v03")]
    n_distinct = len(edges)
    ids = sorted({x for e in edges for x in e}) + ["v09"]
    want = _union_find_clusters(ids, edges)
    vdf = spark.createDataFrame([(i,) for i in ids], ["image_id"])
    edf = spark.createDataFrame(edges + edges[:3] + [("v04", "v04")],
                                ["a", "b"])
    for bound, checkpoints in ((n_distinct, 0), (8, 0), (9, 1), (None, 1)):
        calls.clear()
        got = {r["image_id"]: r["cluster_id"] for r in
               components.assign_clusters(vdf, edf, bound=bound).collect()}
        assert len(calls) == checkpoints, bound
        assert got == want, bound


def test_cc_raises_when_max_iter_exhausted(spark):
    """An exhausted iteration budget is not convergence: CC fails loudly
    instead of returning a partial assignment."""
    from distributed_gpu_lsh_using_sycl_spark.operators.components import (
        connected_components)

    path = [(f"p{i:03d}", f"p{i + 1:03d}") for i in range(64)]
    edf = spark.createDataFrame(path, ["a", "b"])
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(edf, max_iter=1).collect()


def test_star_loop_runs_to_exact_fixpoint_on_checksum_ties(spark, monkeypatch):
    """The star loop stops only when a round changes no edge. With every
    edge hashing alike, an (edge count, hash sum) checksum ties between
    any two rounds of equal size, and a path keeps its edge count for
    rounds while its edges still move. The loop must run the same rounds
    as without the tie and match union-find."""
    from pyspark.sql import functions as F

    from distributed_gpu_lsh_using_sycl_spark.operators import components

    path = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(30)]
    ids = sorted({x for e in path for x in e})
    edf = spark.createDataFrame(path, ["a", "b"])
    real_star = components._large_star
    rounds = []

    def star(e):
        rounds[-1] += 1
        return real_star(e)

    monkeypatch.setattr(components, "_large_star", star)
    for tie in (False, True):
        if tie:
            monkeypatch.setattr(F, "xxhash64", lambda *c: F.lit(0).cast("long"))
        rounds.append(0)
        got = {r["image_id"]: r["cluster_id"]
               for r in components.connected_components(edf).collect()}
        assert got == _union_find_clusters(ids, path)
    assert rounds[0] == rounds[1] > 2


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_union_find_output_keeps_id_type_and_non_null(spark, id_type):
    """The union-find result, built from pandas through Arrow, keeps the
    edge id type and the non-null schema, also when there are no edges,
    and assign_clusters broadcasts it."""
    from distributed_gpu_lsh_using_sycl_spark.operators import components

    ids = [3, 1, 2, 7, 5] if id_type == "long" else ["c", "a", "b", "g", "e"]
    edges = [(ids[0], ids[1]), (ids[1], ids[2]), (ids[3], ids[4])]
    schema = f"a {id_type}, b {id_type}"
    want_fields = [("image_id", id_type), ("cluster_id", id_type)]
    for rows in (edges, []):
        out = components.connected_components(
            spark.createDataFrame(rows, schema), small_graph_threshold=10)
        assert [(f.name, f.dataType.simpleString().replace("bigint", "long"),
                 f.nullable) for f in out.schema.fields] == \
            [(n, t, False) for n, t in want_fields]
        assert {r["image_id"]: r["cluster_id"] for r in out.collect()} == \
            {k: v for k, v in _union_find_clusters(ids, rows).items()
             if any(k in e for e in rows)}
    vdf = spark.createDataFrame([(i,) for i in ids], f"image_id {id_type}")
    got = components.assign_clusters(vdf, spark.createDataFrame(edges, schema))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert {r["image_id"]: r["cluster_id"] for r in got.collect()} == \
        _union_find_clusters(ids, edges)
