"""End-to-end dedup on the fixture vs an independent brute-force oracle.

Mirrors the reference's correctness methodology: exact brute force as
ground truth (calculate_exact_nearest_neighbors.py:66-72), recall as the
metric (nearest_neighbors_result.cpp:104-143), threshold ≥ 0.99 per
BASELINE.md.
"""

import numpy as np
import pytest

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.functions.image_codec import (
    block_features, decode_image)
from distributed_gpu_lsh_using_sycl_spark.functions.text import jaccard, shingles
from distributed_gpu_lsh_using_sycl_spark.sources.fixture import make_fixture_pandas

N_ROWS = 150
CFG = LshConfig()


def _popcount(x: int) -> int:
    return bin(x & ((1 << 64) - 1)).count("1")


def _simhash_oracle(blob: bytes, phash: int) -> int:
    """Independent (plain-python voting) SimHash re-implementation."""
    from distributed_gpu_lsh_using_sycl_spark.functions.hashing import hash_combine_u64

    pixels, _ = decode_image(blob)
    feats = []
    ph = phash & ((1 << 64) - 1)
    for i in range(16):
        feats.append(int(hash_combine_u64(np.uint64(i + 1),
                                          np.uint64((ph >> (4 * i)) & 0xF))))
    for j, v in enumerate(block_features(pixels)):
        feats.append(int(hash_combine_u64(np.uint64(100 + j), np.uint64(v))))
    votes = [0] * 64
    for f in feats:
        for bit in range(64):
            votes[bit] += 1 if (f >> bit) & 1 else -1
    out = 0
    for bit in range(64):
        if votes[bit] > 0:
            out |= 1 << bit
    return out


@pytest.fixture(scope="module")
def oracle_truth():
    """Brute-force all-pairs dup truth at CFG thresholds."""
    images, planted = make_fixture_pandas(N_ROWS, seed=CFG.seed)
    rows = images.to_dict("records")
    feats = []
    for r in rows:
        text = r["caption"]
        feats.append({
            "id": r["image_id"],
            "sh": set(shingles(text, CFG.shingle_size)),
            "ph": r["phash"] & ((1 << 64) - 1),
            "sim": _simhash_oracle(r["bytes"], r["phash"]),
            "text": text,
        })
    truth = set()
    kinds = {}
    for i in range(len(feats)):
        for j in range(i + 1, len(feats)):
            a, b = feats[i], feats[j]
            pa, pb = sorted((a["id"], b["id"]))
            why = []
            sh_u = a["sh"] | b["sh"]
            if sh_u and len(a["sh"] & b["sh"]) / len(sh_u) >= CFG.jaccard_threshold:
                why.append("jaccard")
            if _popcount(a["ph"] ^ b["ph"]) <= CFG.hamming_threshold:
                why.append("phash")
            if _popcount(a["sim"] ^ b["sim"]) <= CFG.hamming_threshold:
                why.append("simhash")
            # dup-by-substring means verbatim containment (the planted
            # semantic); merely sharing a length-L window is a candidate
            # signal, not a dup — see plans/pipeline.py cand_substring.
            if ((a["text"] in b["text"] or b["text"] in a["text"])
                    and min(len(a["text"]), len(b["text"])) >= CFG.min_substring_len):
                why.append("substring")
            if why:
                truth.add((pa, pb))
                kinds[(pa, pb)] = why
    return images, planted, truth, kinds


@pytest.fixture(scope="module")
def pipeline_result(spark, oracle_truth):
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import run_dedup

    images, _, _, _ = oracle_truth
    df = spark.createDataFrame(images)
    return run_dedup(spark, df, CFG)


def test_truth_is_nontrivial(oracle_truth):
    _, planted, truth, _ = oracle_truth
    assert len(truth) >= len(planted) * 0.8
    assert len(truth) >= 30


def test_dup_pair_recall_ge_099(oracle_truth, pipeline_result):
    _, _, truth, kinds = oracle_truth
    got = {(r["a"], r["b"]) for r in
           pipeline_result["pairs"].filter("verified").select("a", "b").collect()}
    missed = truth - got
    recall = 1 - len(missed) / len(truth)
    assert recall >= 0.99, f"recall {recall:.4f}; missed {sorted(missed)[:10]} " \
                           f"kinds {[kinds[m] for m in sorted(missed)[:10]]}"


def test_verified_pairs_precision(oracle_truth, pipeline_result):
    """Verification is exact ⇒ every verified pair must be in the truth
    set (CRC collisions / window-hash collisions are removed by verify)."""
    _, _, truth, _ = oracle_truth
    got = {(r["a"], r["b"]) for r in
           pipeline_result["pairs"].filter("verified").select("a", "b").collect()}
    fp = got - truth
    assert len(fp) <= max(1, int(0.01 * len(got))), f"false positives: {sorted(fp)[:10]}"


def test_planted_pairs_clustered_together(oracle_truth, pipeline_result):
    _, planted, _, _ = oracle_truth
    assign = {r["image_id"]: r["cluster_id"]
              for r in pipeline_result["clusters"].collect()}
    assert len(assign) == N_ROWS
    bad = [(t["a"], t["b"]) for _, t in planted.iterrows()
           if assign[t["a"]] != assign[t["b"]]]
    assert len(bad) <= max(1, int(0.01 * len(planted))), f"split pairs: {bad[:10]}"


def test_singletons_are_self_clusters(pipeline_result):
    clusters = pipeline_result["clusters"]
    pairs = pipeline_result["pairs"].filter("verified")
    ids_in_pairs = {r["a"] for r in pairs.select("a").distinct().collect()} | \
                   {r["b"] for r in pairs.select("b").distinct().collect()}
    for r in clusters.collect():
        if r["image_id"] not in ids_in_pairs:
            assert r["cluster_id"] == r["image_id"]


def test_cc_fast_path_matches_star_loop(spark, oracle_truth, pipeline_result,
                                       monkeypatch):
    """The pipeline's clusters stage takes the CC small-graph fast path
    (driver union-find at <= components.SMALL_GRAPH_EDGES verified
    edges); forcing the distributed star loop (bound 0) must produce the
    identical assignment — the bound is an execution strategy, never a
    semantic one."""
    from distributed_gpu_lsh_using_sycl_spark.operators import components
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import run_dedup

    rounds = []
    real = components._large_star
    monkeypatch.setattr(components, "_large_star",
                        lambda e: rounds.append(1) or real(e))
    monkeypatch.setattr(components, "SMALL_GRAPH_EDGES", 0)
    images, _, _, _ = oracle_truth
    df = spark.createDataFrame(images)
    loop = run_dedup(spark, df, CFG)
    slow = {(r["image_id"], r["cluster_id"])
            for r in loop["clusters"].collect()}
    assert rounds  # the star loop really ran
    fast = {(r["image_id"], r["cluster_id"])
            for r in pipeline_result["clusters"].collect()}
    assert fast == slow
