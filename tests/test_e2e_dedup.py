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


def _chain_pairs(spark, df, cfg, with_image):
    """The pairs table as the separate-stage chain computes it: one
    candidate join per family, substring_candidates ->
    verify_substring_pairs, merge_candidates, attach_features,
    verify_pairs."""
    from pyspark.sql import functions as F

    from distributed_gpu_lsh_using_sycl_spark.operators import banding, pairs
    from distributed_gpu_lsh_using_sycl_spark.operators.signatures import (
        compute_signatures)
    from distributed_gpu_lsh_using_sycl_spark.operators.suffix import (
        substring_candidates, verify_substring_pairs)

    sigs = compute_signatures(df, cfg, with_image=with_image) \
        .localCheckpoint(eager=True)
    cands = [banding.candidate_pairs_from_bands(
        banding.explode_bands(sigs), cfg, source="minhash")]
    if with_image:
        cands += [banding.candidate_pairs_from_bands(
            banding.bit_bands(sigs, h, cfg), cfg, source=h)
            for h in ("simhash", "phash")]
    docs = df.select("image_id", "caption")
    cands.append(
        verify_substring_pairs(substring_candidates(docs, cfg), docs, cfg)
        .select("a", "b", F.when(F.col("contains"), F.lit("substring"))
                .otherwise(F.lit("window")).alias("source")))
    return pairs.verify_pairs(
        pairs.attach_features(pairs.merge_candidates(*cands), sigs), cfg)


@pytest.mark.parametrize("with_image,hot", [(True, 64), (False, 64), (False, 2)])
def test_fused_pipeline_equals_chain(spark, monkeypatch, oracle_truth,
                                     with_image, hot):
    """One banding frame, one band plan and one candidate join give the
    pairs table, column for column, that the separate-stage chain gives;
    hot_bucket_threshold=2 runs the salted grid."""
    import dataclasses

    from distributed_gpu_lsh_using_sycl_spark.operators import banding
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import run_dedup

    plans = []
    real_plan = banding.band_plan

    def band_plan(*a, **kw):
        plans.append(real_plan(*a, **kw))
        return plans[-1]

    monkeypatch.setattr(banding, "band_plan", band_plan)
    images, _, _, _ = oracle_truth
    df = spark.createDataFrame(images)
    cfg = dataclasses.replace(CFG, hot_bucket_threshold=hot)
    res = run_dedup(spark, df, cfg, with_image=with_image)
    assert len(plans) == 1
    assert (plans[0].n_over > 0) == (hot == 2)  # salted grid iff hot=2
    monkeypatch.undo()
    got = res["pairs"]
    want = _chain_pairs(spark, df, cfg, with_image)
    assert got.columns == want.columns
    got_rows, want_rows = sorted(got.collect()), sorted(want.collect())
    assert len(got_rows) > 0
    assert got_rows == want_rows
    sources = {r["source"] for r in got_rows}
    assert {"minhash", "substring"} & {x for s in sources for x in s.split("+")}


def test_window_only_pair_without_shared_window_is_dropped(spark):
    """A pair that only the window family finds, through a short-gram
    fingerprint (the texts share 23 characters, not a length-24 window),
    with Jaccard >= tau: the window verdict drops it, so it is not in the
    pairs table even though the Jaccard verify alone would pass it."""
    from distributed_gpu_lsh_using_sycl_spark.functions import hashing as H
    from distributed_gpu_lsh_using_sycl_spark.operators.signatures import (
        text_signature_batch)
    from distributed_gpu_lsh_using_sycl_spark.operators.suffix import (
        _winnowed_hashes, shares_window)
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import run_dedup

    a_text, b_text = " red fox ran up to mea a", "b red fox ran up to mea "
    L = CFG.min_substring_len
    assert not shares_window(a_text, b_text, L)
    assert set(_winnowed_hashes(a_text, L, CFG.substring_winnow_stride)) & \
        set(_winnowed_hashes(b_text, L, CFG.substring_winnow_stride))
    p, q = H.minhash_params(CFG.seed, CFG.signature_len, CFG.signature_pool_size)
    sig = text_signature_batch([a_text, b_text], CFG, p, q)
    assert not set(sig["buckets"][0]) & set(sig["buckets"][1])  # not MinHash
    sa, sb = map(set, sig["shingles"])
    assert len(sa & sb) / len(sa | sb) >= CFG.jaccard_threshold
    rows = [("p0", a_text), ("p1", b_text),
            ("p2", "an unrelated caption about something else entirely")]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    res = run_dedup(spark, df, CFG, with_image=False)
    assert [(r.a, r.b, r.source) for r in res["candidates"].collect()] == \
        [("p0", "p1", "substring")]
    assert res["pairs"].count() == 0
    assert {r.image_id: r.cluster_id for r in res["clusters"].collect()} == \
        {"p0": "p0", "p1": "p1", "p2": "p2"}
