"""Checkpoint/resume semantics + incremental streaming ingest."""

import json
import os
import shutil

import pytest

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.sources.fixture import make_fixture_pandas

CFG = LshConfig(num_bands=16, rows_per_band=6)


def _clusters_dict(res):
    return {r["image_id"]: r["cluster_id"] for r in res["clusters"].collect()}


def _sign_by_hand(sigs, table, ckpt, cfg):
    """Write the signature frame ``sigs`` (image_id, buckets) as the next
    ``wave=<n>`` directory of ``table``, with the log entry in ``ckpt``
    a signing wave leaves: its rows and their ids' UTF-8 bytes."""
    from distributed_gpu_lsh_using_sycl_spark.streaming.stateful import (
        read_waves, signed_wave, write_waves)

    waves = read_waves(ckpt, cfg)
    sigs.coalesce(1).write.parquet(os.path.join(table, f"wave={len(waves)}"))
    ids = [r["image_id"] for r in sigs.select("image_id").collect()]
    write_waves(ckpt, waves + [signed_wave(
        [], len(ids), sum(len(i.encode()) for i in ids))])


@pytest.fixture(scope="module")
def images_df(spark):
    images, _ = make_fixture_pandas(80, seed=42)
    return spark.createDataFrame(images)


def test_resume_skips_done_stages_and_is_identical(spark, images_df, tmp_path_factory):
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import run_dedup

    wh = str(tmp_path_factory.mktemp("wh"))
    r1 = run_dedup(spark, images_df, CFG, warehouse=wh)
    c1 = _clusters_dict(r1)
    # INFO rows are informational metrics (e.g. the down-sample drop
    # count), not stages — only stages carry DONE/SKIPPED semantics
    assert all(m["status"] == "DONE" for m in r1.metrics
               if m["status"] != "INFO")

    # full rerun: everything skipped, same clusters
    r2 = run_dedup(spark, images_df, CFG, warehouse=wh)
    assert all(m["status"] == "SKIPPED" for m in r2.metrics
               if m["status"] != "INFO")
    assert _clusters_dict(r2) == c1

    # partial resume: invalidate the tail stages (simulates a crash after
    # the pairs stage); only those recompute, result identical
    mpath = os.path.join(wh, "_manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    for stage in ("edges", "clusters"):
        manifest["stages"][stage]["status"] = "CRASHED"
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    r3 = run_dedup(spark, images_df, CFG, warehouse=wh)
    statuses = {m["stage"]: m["status"] for m in r3.metrics}
    assert statuses["signatures"] == "SKIPPED"
    assert statuses["pairs"] == "SKIPPED"
    assert statuses["edges"] == "DONE"
    assert statuses["clusters"] == "DONE"
    assert _clusters_dict(r3) == c1

    # config change invalidates everything
    r4 = run_dedup(spark, images_df, LshConfig(num_bands=16, rows_per_band=6,
                                               jaccard_threshold=0.6),
                   warehouse=wh)
    assert all(m["status"] == "DONE" for m in r4.metrics
               if m["status"] != "INFO")

    # lineage + metrics tables exist and carry every stage
    lineage = spark.read.parquet(os.path.join(wh, "lineage"))
    assert lineage.select("stage").distinct().count() >= 9
    metrics = spark.read.parquet(os.path.join(wh, "metrics"))
    assert metrics.filter("status = 'DONE'").count() >= 9


def test_warehouse_stages_observe_rows_and_rebuild_old_signatures(
        spark, images_df, tmp_path_factory):
    """A fresh warehouse run records each stage's row count from the
    stage's own write job: the manifest rows equal the tables' counts. A
    signatures table written before the stage carried ``text`` is
    rebuilt on resume instead of failing the pairs stage that reads it."""
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import (
        STAGES, run_dedup)

    wh = str(tmp_path_factory.mktemp("wh_rows"))
    c1 = _clusters_dict(run_dedup(spark, images_df, CFG, warehouse=wh))
    mpath = os.path.join(wh, "_manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    for stage in STAGES:
        assert manifest["stages"][stage]["rows"] == \
            spark.read.parquet(os.path.join(wh, stage)).count()

    # the old layout: same table without ``text``, crashed after it
    sig_dir = os.path.join(wh, "signatures")
    old_dir = str(tmp_path_factory.mktemp("old_layout") / "signatures")
    spark.read.parquet(sig_dir).drop("text").write.parquet(old_dir)
    shutil.rmtree(sig_dir)
    shutil.copytree(old_dir, sig_dir)
    for stage in ("pairs", "edges", "clusters"):
        manifest["stages"][stage]["status"] = "CRASHED"
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    r2 = run_dedup(spark, images_df, CFG, warehouse=wh)
    statuses = {m["stage"]: m["status"] for m in r2.metrics}
    assert statuses["signatures"] == "DONE"
    assert statuses["candidates"] == "SKIPPED"
    assert statuses["pairs"] == "DONE"
    assert "text" in spark.read.parquet(sig_dir).columns
    assert _clusters_dict(r2) == c1


def test_streaming_incremental_signatures(spark, tmp_path_factory):
    from distributed_gpu_lsh_using_sycl_spark.operators.signatures import compute_signatures
    from distributed_gpu_lsh_using_sycl_spark.streaming.ingest import signature_stream

    base = tmp_path_factory.mktemp("stream")
    inp, out, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")
    os.makedirs(inp)

    images, _ = make_fixture_pandas(60, seed=42)
    chunk1, chunk2 = images.iloc[:40], images.iloc[40:]
    spark.createDataFrame(chunk1).write.mode("overwrite").parquet(os.path.join(inp, "c1"))

    cfg = LshConfig()
    signature_stream(spark, inp + "/*", out, ckpt, cfg)
    got1 = spark.read.parquet(out)
    assert got1.count() == 40

    # second chunk lands; incremental run signs ONLY the new files
    spark.createDataFrame(chunk2).write.mode("overwrite").parquet(os.path.join(inp, "c2"))
    signature_stream(spark, inp + "/*", out, ckpt, cfg)
    got = spark.read.parquet(out)
    assert got.count() == 60

    # streamed signatures == batch signatures (same operator, same rows)
    batch = compute_signatures(spark.createDataFrame(images), cfg)
    bp = batch.select("image_id", "minhash", "simhash").toPandas() \
              .sort_values("image_id").reset_index(drop=True)
    sp = got.select("image_id", "minhash", "simhash").toPandas() \
            .sort_values("image_id").reset_index(drop=True)
    assert (bp["simhash"] == sp["simhash"]).all()
    assert all((a == b) for a, b in zip(bp["minhash"].map(list), sp["minhash"].map(list)))


def test_stateful_incremental_candidates(spark, images_df, tmp_path_factory):
    """The delta bucket join must emit, across two waves, EXACTLY the
    batch bucket join's canonical pair set — each unordered pair once per
    (band, bucket), deduped to the same distinct (a, b) set. The pair set
    does not depend on how the rows are split into waves."""
    from pyspark.sql import functions as F

    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        candidate_pairs_from_bands, explode_bands)
    from distributed_gpu_lsh_using_sycl_spark.operators.signatures import (
        compute_signatures)
    from distributed_gpu_lsh_using_sycl_spark.streaming.stateful import (
        candidate_pair_stream)

    base = tmp_path_factory.mktemp("stateful")

    sigs = (compute_signatures(images_df, CFG, with_image=False)
            .select("image_id", "buckets").localCheckpoint(eager=True))
    # batch truth: canonical distinct pair set from the same bands
    batch = {(r["a"], r["b"]) for r in
             candidate_pairs_from_bands(explode_bands(sigs), CFG).collect()}

    def waves(n):
        """The same rows signed as ``n`` waves -> the emitted rows."""
        in_dir, out_dir = str(base / f"in{n}"), str(base / f"out{n}")
        ckpt = str(base / f"ckpt{n}")
        appended = 0
        for w in range(n):
            _sign_by_hand(sigs.filter(F.crc32(F.col("image_id")) % n == w),
                          in_dir, ckpt, CFG)
            appended += candidate_pair_stream(
                spark, in_dir, out_dir, ckpt, CFG)[0]
        rows = spark.read.parquet(out_dir).collect()
        assert appended == len(rows)
        return rows

    got_rows = waves(2)
    assert {(r["a"], r["b"]) for r in got_rows} == batch
    # once per (band,bucket): no duplicate emissions across waves
    keyed = [(r["a"], r["b"], r["band_id"], r["bucket"]) for r in got_rows]
    assert len(keyed) == len(set(keyed))
    # wave-split invariance: the same rows as 1 wave and as 3 waves
    for n in (1, 3):
        assert {(r["a"], r["b"]) for r in waves(n)} == batch


def _c2(n):
    return n * (n - 1) // 2


def test_stateful_cap_admits_first_cap_members(spark, tmp_path_factory):
    """A bucket of cap + 5 identical signatures: the delta join admits
    exactly ``max_bucket_size`` members and emits C(cap, 2) pairs; the
    five later arrivals pair with nothing and are counted as refused.
    (The batch join keeps a hash-chosen subset instead,
    banding._downsample_keep.) A second wave meeting a bucket already at
    cap - 2 admits exactly its first 2 members, in image_id order."""
    from distributed_gpu_lsh_using_sycl_spark.streaming.stateful import (
        candidate_pair_stream)

    cap = 6
    cfg = LshConfig(num_bands=1, max_bucket_size=cap)
    base = tmp_path_factory.mktemp("stateful_cap")

    def wave(in_dir, ckpt, ids, bucket):
        _sign_by_hand(spark.createDataFrame(
            [(i, [bucket]) for i in ids],
            "image_id string, buckets array<long>"), in_dir, ckpt, cfg)

    in_dir, out_dir = str(base / "sigs_in"), str(base / "pairs_out")
    ckpt = str(base / "ckpt")
    wave(in_dir, ckpt, [f"s{i:02d}" for i in range(cap + 5)], 5)
    n, dropped = candidate_pair_stream(spark, in_dir, out_dir, ckpt, cfg)
    rows = spark.read.parquet(out_dir).collect()
    members = {r["a"] for r in rows} | {r["b"] for r in rows}
    assert len(members) == cap
    assert n == len(rows) == len({(r["a"], r["b"]) for r in rows}) \
        == cap * (cap - 1) // 2
    assert dropped == 5

    # a second wave of 5 meets the bucket at cap - 2: it admits 2
    in_dir, out_dir = str(base / "sigs_in2"), str(base / "pairs_out2")
    ckpt = str(base / "ckpt2")
    old = [f"o{i}" for i in range(cap - 2)]
    wave(in_dir, ckpt, old, 9)
    assert candidate_pair_stream(spark, in_dir, out_dir, ckpt, cfg) \
        == (_c2(cap - 2), 0)
    # filler rows in another bucket lift the table over the cap
    wave(in_dir, ckpt, [f"f{i}" for i in range(cap)], 11)
    new = ["n4", "n0", "n3", "n1", "n2"]
    wave(in_dir, ckpt, new, 9)
    n, dropped = candidate_pair_stream(spark, in_dir, out_dir, ckpt, cfg)
    rows = spark.read.parquet(out_dir).filter("bucket = 9").collect()
    members = {r["a"] for r in rows} | {r["b"] for r in rows}
    assert members == set(old) | {"n0", "n1"}
    assert len(rows) == _c2(cap)
    assert dropped == 3
    assert n == _c2(cap) - _c2(cap - 2) + _c2(cap)  # bucket 9 + the filler


def test_candidate_replay_is_absorbed(spark, tmp_path_factory):
    """A crash after a wave's candidate write but before the log counts
    its candidates makes the next cycle band the wave again. It rewrites
    the wave's candidate directory instead of appending to it: the
    candidate count is unchanged, no (a, b, band_id, bucket) row appears
    twice, the clusters stay identical and no pair is adjudicated
    again."""
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        streaming_dedup_cycle)
    from distributed_gpu_lsh_using_sycl_spark.streaming.stateful import (
        read_waves, write_waves)

    base = tmp_path_factory.mktemp("replay")
    inp, wh = str(base / "in"), str(base / "wh")
    ckpt = os.path.join(wh, "checkpoint")
    images, _ = make_fixture_pandas(60, seed=42)
    spark.createDataFrame(images.iloc[:30]).write.parquet(
        os.path.join(inp, "w1"))
    streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    spark.createDataFrame(images.iloc[30:]).write.parquet(
        os.path.join(inp, "w2"))
    r2 = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert r2["n_new_adjudicated"] > 0
    want = _clusters_dict(r2)  # r3 overwrites the table r2 reads
    # roll the log back to before wave 2 was banded
    waves = read_waves(ckpt, CFG)
    waves[-1]["candidates"] = None
    write_waves(ckpt, waves)
    r3 = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert r3["n_candidates"] == r2["n_candidates"]
    rows = spark.read.parquet(os.path.join(wh, "cand_pairs")).collect()
    keyed = [(r["a"], r["b"], r["band_id"], r["bucket"]) for r in rows]
    assert len(keyed) == len(set(keyed)) == r3["n_candidates"]
    assert r3["n_new_adjudicated"] == 0
    assert _clusters_dict(r3) == want


def test_delta_broadcast_bound_covers_the_relation(spark, tmp_path_factory,
                                                   monkeypatch):
    """The byte bound the delta join passes to ``broadcast_if_fits`` is at
    least the data size of the BroadcastExchange it builds, as the SQL
    status store reports it, so the wave is never broadcast on an
    undercount."""
    from distributed_gpu_lsh_using_sycl_spark.streaming import stateful
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        streaming_dedup_cycle)

    bounds = []
    orig = stateful._delta_bytes

    def spy(rows, id_bytes):
        bounds.append(orig(rows, id_bytes))
        return bounds[-1]

    base = tmp_path_factory.mktemp("bcast_bound")
    inp, wh = str(base / "in"), str(base / "wh")
    images, _ = make_fixture_pandas(80, seed=42)
    spark.createDataFrame(images).write.parquet(os.path.join(inp, "w1"))
    sc = spark.sparkContext
    sql = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        execs = sql.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    seen = {e.executionId() for e in executions()}
    monkeypatch.setattr(stateful, "_delta_bytes", spy)
    streaming_dedup_cycle(spark, inp + "/*", wh, CFG, reconcile=False)
    sizes = []
    for e in executions():
        if e.executionId() in seen:
            continue
        metrics = sql.executionMetrics(e.executionId())
        nodes = sql.planGraph(e.executionId()).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name() != "BroadcastExchange":
                continue
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() == "data size" and \
                        metrics.contains(m.accumulatorId()):
                    sizes.append(_bytes(metrics.apply(m.accumulatorId())))
    assert len(bounds) == 1 and sizes
    assert bounds[0] >= max(sizes)


def _bytes(metric: str) -> float:
    """A driver-side Spark size metric as the status store formats it
    ("1056.0 KiB") -> bytes."""
    value, unit = metric.split()
    return float(value) * {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20,
                           "GiB": 1 << 30}[unit]


def test_streaming_e2e_dedup_equals_batch(spark, tmp_path_factory):
    """Full streaming chain: incremental signature ingest → stateful
    bucket join → batch verify+CC reconcile, over TWO input waves. After
    each cycle the cluster table must equal a from-scratch batch dedup
    over everything seen so far, and the second cycle must be truly
    incremental (signature count grows only by the new wave)."""
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        batch_dedup_reference, streaming_dedup_cycle)

    base = tmp_path_factory.mktemp("e2e_stream")
    inp = str(base / "in")
    wh = str(base / "wh")
    os.makedirs(inp)

    images, _ = make_fixture_pandas(80, seed=42)
    wave1, wave2 = images.iloc[:50], images.iloc[50:]

    def clusters_of(df):
        return {r["image_id"]: r["cluster_id"] for r in df.collect()}

    spark.createDataFrame(wave1).write.mode("overwrite") \
        .parquet(os.path.join(inp, "w1"))
    r1 = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert r1["n_signatures"] == 50
    want1 = clusters_of(batch_dedup_reference(
        spark, spark.createDataFrame(wave1), CFG))
    assert clusters_of(r1["clusters"]) == want1

    spark.createDataFrame(wave2).write.mode("overwrite") \
        .parquet(os.path.join(inp, "w2"))
    r2 = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert r2["n_signatures"] == 80
    want2 = clusters_of(batch_dedup_reference(
        spark, spark.createDataFrame(images), CFG))
    assert clusters_of(r2["clusters"]) == want2
    # the fixture plants dups -> the equality is not vacuous
    joined = sum(1 for k, v in want2.items() if k != v)
    assert joined > 0
    # incremental reconcile: cycle 2 adjudicates ONLY the pairs cycle 1
    # hadn't seen — the two waves' adjudications partition the distinct
    # accumulated candidate set, and wave-1 pairs are never re-verified
    n_distinct = (spark.read.parquet(os.path.join(wh, "cand_pairs"))
                  .select("a", "b").distinct().count())
    assert r1["n_new_adjudicated"] > 0
    assert r1["n_new_adjudicated"] + r2["n_new_adjudicated"] == n_distinct
    assert r2["n_new_adjudicated"] < n_distinct


def test_streaming_drain_only_then_reconcile_equals_batch(
        spark, tmp_path_factory):
    """Drain-only cycles (reconcile=False) advance signature + candidate
    state without the batch verify+CC pass; one final reconciling cycle
    must still produce exactly the from-scratch batch clusters — CC is a
    fixpoint over ACCUMULATED edges, so skipping intermediate reconciles
    loses nothing (the scheduler regime: many small ingest waves, one
    reconcile per read window)."""
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        batch_dedup_reference, streaming_dedup_cycle)

    base = tmp_path_factory.mktemp("drain_only")
    inp = str(base / "in")
    wh = str(base / "wh")
    os.makedirs(inp)

    images, _ = make_fixture_pandas(80, seed=42)
    waves = [images.iloc[:30], images.iloc[30:60], images.iloc[60:]]
    for i, w in enumerate(waves[:-1]):
        spark.createDataFrame(w).write.mode("overwrite") \
            .parquet(os.path.join(inp, f"w{i}"))
        r = streaming_dedup_cycle(spark, inp + "/*", wh, CFG,
                                  reconcile=False)
        assert r["clusters"] is None        # no reconcile ran
    spark.createDataFrame(waves[-1]).write.mode("overwrite") \
        .parquet(os.path.join(inp, "w_last"))
    r = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert r["n_signatures"] == 80
    want = {row["image_id"]: row["cluster_id"]
            for row in batch_dedup_reference(
                spark, spark.createDataFrame(images), CFG).collect()}
    got = {row["image_id"]: row["cluster_id"]
           for row in r["clusters"].collect()}
    assert got == want
    assert sum(1 for k, v in want.items() if k != v) > 0


def test_streaming_cycle_job_count(spark, tmp_path_factory):
    """A warm reconciling cycle submits a pinned number of Spark jobs,
    micro-batch jobs included, counted from the app status store. The
    tables are read with known schemas (no footer jobs) and the verdict
    count is observed on a job that runs anyway (no count jobs): 21 jobs
    before, 15 after. The wave then signs in place (no repartition job),
    the verdict append is the job that materializes the wave (no
    checkpoint job) and the candidate rows bound CC (no entry checkpoint
    job): 15 before, 12 after. The candidate step is then a broadcast
    delta join, whose broadcast collect and write replace the stateful
    stream's one micro-batch job: 12 before, 13 after. The signing is a
    batch blob scan, whose write replaces the drain's micro-batch job:
    13 still, and no Structured Streaming metadata (a sink log, offsets,
    commits) is left in the warehouse. A new job in the cycle shows here
    first."""
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        streaming_dedup_cycle)
    from perfbench.sparkstats import StatusStore

    base = tmp_path_factory.mktemp("cycle_jobs")
    inp = str(base / "in")
    wh = str(base / "wh")
    images, _ = make_fixture_pandas(80, seed=42)
    spark.createDataFrame(images.iloc[:50]).write.parquet(
        os.path.join(inp, "w1"))
    streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    spark.createDataFrame(images.iloc[50:]).write.parquet(
        os.path.join(inp, "w2"))
    store = StatusStore(spark)
    r = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert r["n_new_adjudicated"] > 0
    assert len(store.new_jobs()) == 13
    assert not [d for _, dirs, _ in os.walk(wh) for d in dirs
                if d in ("_spark_metadata", "offsets", "commits")]


def _caption_wave(path, rows, seed, row_groups=1):
    """A one-file parquet wave of ``rows`` random captions of 120 hex
    characters in ``row_groups`` row groups. Written with pyarrow: no
    Spark."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    cols = {"image_id": [f"img_{seed}_{i:05d}" for i in range(rows)],
            "caption": [rng.bytes(60).hex() for _ in range(rows)]}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path,
                   row_group_size=-(-rows // row_groups))
    return path


def test_small_wave_signs_without_exchange(spark, tmp_path_factory):
    """A wave signs where it lands, small or large: its signing plan has
    no Exchange, for a wave of one row group and for one of 16."""
    import re

    from distributed_gpu_lsh_using_sycl_spark.streaming import e2e
    from tests.test_rehydration import _with_plans

    base = tmp_path_factory.mktemp("wave_plans")
    inp, wh = str(base / "in"), str(base / "wh")
    for w, groups in enumerate((1, 16)):
        _caption_wave(os.path.join(inp, f"w{w}", "part-0.parquet"),
                      100 * groups, w, row_groups=groups)
        _, plans = _with_plans(spark, lambda: e2e.streaming_dedup_cycle(
            spark, inp + "/*", wh, CFG, reconcile=False))
        plans = [p for p in plans if "read_splits" in p]  # the signing
        assert len(plans) == 1
        assert not re.search(r"^\(\d+\) Exchange\b", plans[0], re.M)


def test_wave_sizing_follows_the_new_files(spark, tmp_path_factory):
    """A wave writes one signature file per task, and its task count is
    sized from the wave's new files only: the blob scan's width, but no
    more tasks than the wave has ``openCostInBytes`` of row-group bytes.
    Under the default open cost a wave of 16 row groups signs on one
    task; with a 1-byte open cost the next such wave signs on the
    session's cores, and a wave of one row group after it on one task
    (sizing from every file would spread it too)."""
    from distributed_gpu_lsh_using_sycl_spark.streaming import e2e

    base = tmp_path_factory.mktemp("wave_sizing")
    inp, wh = str(base / "in"), str(base / "wh")
    conf = "spark.sql.files.openCostInBytes"
    prev = spark.conf.get(conf)
    files = []
    try:
        for w, (groups, cost) in enumerate(((16, prev), (16, "1"), (1, "1"))):
            spark.conf.set(conf, cost)
            _caption_wave(os.path.join(inp, f"w{w}", "part-0.parquet"),
                          100 * groups, w, row_groups=groups)
            e2e.streaming_dedup_cycle(spark, inp + "/*", wh, CFG,
                                      reconcile=False)
            wave = os.path.join(wh, "signatures", f"wave={w}")
            files.append(sum(f.endswith(".parquet") for f in os.listdir(wave)))
    finally:
        spark.conf.set(conf, prev)
    assert files == [1, min(16, spark.sparkContext.defaultParallelism), 1]


def test_verdict_append_counts_the_wave(spark, tmp_path_factory):
    """n_new_adjudicated is the row count the cycle appended to the
    adjudicated table; a cycle with no new wave appends no rows and
    reports 0, and its clusters are unchanged."""
    from distributed_gpu_lsh_using_sycl_spark.sources.tables import (
        parquet_rows)
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        streaming_dedup_cycle)

    base = tmp_path_factory.mktemp("verdicts")
    inp, wh = str(base / "in"), str(base / "wh")
    adj = os.path.join(wh, "adjudicated")
    images, _ = make_fixture_pandas(60, seed=42)
    rows, clusters = [], []
    for wave in (images.iloc[:30], images.iloc[30:], None):
        if wave is not None:
            spark.createDataFrame(wave).write.parquet(
                os.path.join(inp, f"w{len(rows)}"))
        before = parquet_rows(adj)
        r = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
        rows.append(parquet_rows(adj) - before)
        assert r["n_new_adjudicated"] == rows[-1]
        clusters.append(_clusters_dict(r))
    assert rows[0] > 0 and rows[1] > 0 and rows[2] == 0
    assert clusters[2] == clusters[1]


def test_signature_count_ignores_uncommitted_parts(spark, tmp_path_factory):
    """n_signatures counts the signature rows the ingest committed. A
    wave directory in the signature table that the ingest's log does not
    list (a cycle that crashed after the write leaves one) is not read by
    the cycle, so it changes neither the count nor the clusters."""
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        streaming_dedup_cycle)

    base = tmp_path_factory.mktemp("stray_part")
    inp, wh = str(base / "in"), str(base / "wh")
    images, _ = make_fixture_pandas(40, seed=42)
    spark.createDataFrame(images).write.parquet(os.path.join(inp, "w1"))
    r1 = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert r1["n_signatures"] == 40
    want = _clusters_dict(r1)  # r2 overwrites the table r1 reads
    sigs = os.path.join(wh, "signatures")
    shutil.copytree(os.path.join(sigs, "wave=0"), os.path.join(sigs, "wave=1"))
    r2 = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert r2["n_signatures"] == 40
    assert _clusters_dict(r2) == want


def test_cycle_resumes_after_a_crash_before_the_signing_log(
        spark, tmp_path_factory, monkeypatch):
    """A cycle aborted after its wave directory is written and before the
    ingest's log advances, resumed after one more input file lands: the
    clusters equal the batch reference over every row, n_signatures
    counts every input row, the signature table holds each image_id once
    and the adjudicated table each (a, b) once."""
    from distributed_gpu_lsh_using_sycl_spark.streaming import stateful
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        batch_dedup_reference, streaming_dedup_cycle)

    base = tmp_path_factory.mktemp("sign_crash")
    inp, wh = str(base / "in"), str(base / "wh")
    images, _ = make_fixture_pandas(90, seed=42)

    def land(i):
        spark.createDataFrame(images.iloc[i * 30:(i + 1) * 30]).write \
            .parquet(os.path.join(inp, f"w{i}"))

    land(0)
    streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    land(1)

    def crash(path, doc):
        raise RuntimeError("crashed before the signing log advanced")

    monkeypatch.setattr(stateful, "write_json", crash)
    with pytest.raises(RuntimeError, match="crashed"):
        streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(wh, "signatures", "wave=1"))
    land(2)
    r = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    want = batch_dedup_reference(spark, spark.createDataFrame(images), CFG)
    assert _clusters_dict(r) == {row["image_id"]: row["cluster_id"]
                                 for row in want.collect()}
    assert r["n_signatures"] == len(images)
    ids = spark.read.parquet(os.path.join(wh, "signatures")) \
        .select("image_id")
    assert ids.count() == ids.distinct().count() == len(images)
    adj = spark.read.parquet(os.path.join(wh, "adjudicated")).select("a", "b")
    assert adj.count() == adj.distinct().count() > 0


def test_edge_waves_do_nothing_or_fail_loudly(spark, tmp_path_factory):
    """A cycle whose only new file is an empty parquet file (no row group,
    as Spark writes an empty frame) advances the ingest's log and leaves
    the clusters unchanged. A cycle with no new file signs nothing and
    changes no log. An input root that is a URI is refused."""
    import pyarrow.parquet as pq

    from distributed_gpu_lsh_using_sycl_spark.sources.tables import (
        data_files)
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        streaming_dedup_cycle)
    from distributed_gpu_lsh_using_sycl_spark.streaming.ingest import (
        signature_stream)
    from distributed_gpu_lsh_using_sycl_spark.streaming.stateful import (
        read_waves)

    base = tmp_path_factory.mktemp("edge_waves")
    inp, wh = str(base / "in"), str(base / "wh")
    sigs, ckpt = os.path.join(wh, "signatures"), os.path.join(wh, "checkpoint")
    images, _ = make_fixture_pandas(40, seed=42)
    frame = spark.createDataFrame(images)
    frame.write.parquet(os.path.join(inp, "w1"))
    want = _clusters_dict(streaming_dedup_cycle(spark, inp + "/*", wh, CFG))

    spark.createDataFrame([], frame.schema).write.parquet(
        os.path.join(inp, "empty"))
    empty = data_files(os.path.join(inp, "empty"))
    assert [pq.read_metadata(f).num_row_groups for f in empty] == [0]
    r = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert read_waves(ckpt, CFG)[-1]["files"] == sorted(empty)
    assert r["n_signatures"] == 40 and r["n_new_adjudicated"] == 0
    assert _clusters_dict(r) == want

    before = (read_waves(ckpt, CFG), data_files(sigs))
    assert signature_stream(spark, inp + "/*", sigs, ckpt, CFG) == 0
    assert (read_waves(ckpt, CFG), data_files(sigs)) == before

    with pytest.raises(ValueError, match="URI"):
        streaming_dedup_cycle(spark, "s3a://bucket/in/*", wh, CFG)


def test_cycle_under_another_bucket_config_signs_nothing(
        spark, tmp_path_factory):
    """A cycle under a config that moves rows to other buckets fails
    before it signs anything: the signature table's wave directories and
    the checkpoint's files are unchanged. A retry under the original
    config then equals the batch reference over both waves, including a
    planted dup pair that spans them."""
    import dataclasses

    import pandas as pd

    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        batch_dedup_reference, streaming_dedup_cycle)

    base = tmp_path_factory.mktemp("other_config")
    inp, wh = str(base / "in"), str(base / "wh")
    images, _ = make_fixture_pandas(60, seed=42)
    wave1 = images.iloc[:30]
    near = images.iloc[[3]].assign(
        image_id="near_copy", caption=images.iloc[3]["caption"] + " w001")
    wave2 = pd.concat([images.iloc[30:], near], ignore_index=True)
    spark.createDataFrame(wave1).write.parquet(os.path.join(inp, "w1"))
    streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    spark.createDataFrame(wave2).write.parquet(os.path.join(inp, "w2"))

    def state():
        sigs = os.path.join(wh, "signatures")
        ckpt = os.path.join(wh, "checkpoint")
        files = {}
        for root, _, names in os.walk(ckpt):
            for name in names:
                with open(os.path.join(root, name), "rb") as f:
                    files[os.path.join(root, name)] = f.read()
        return sorted(os.listdir(sigs)), files

    before = state()
    reseeded = dataclasses.replace(CFG, seed=CFG.seed + 1)
    with pytest.raises(RuntimeError, match="state layout"):
        streaming_dedup_cycle(spark, inp + "/*", wh, reseeded)
    assert state() == before

    r = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    got = _clusters_dict(r)
    want = {row["image_id"]: row["cluster_id"]
            for row in batch_dedup_reference(
                spark, spark.createDataFrame(
                    pd.concat([wave1, wave2], ignore_index=True)),
                CFG).collect()}
    assert got == want
    assert got["near_copy"] == got[images.iloc[3]["image_id"]]


def test_state_checkpoint_version_guard(tmp_path):
    """A checkpoint written under another layout (a v2 state-store
    checkpoint, or one from before versioning) or under another bucket
    config must be refused with a clear rebuild error, not resumed."""
    import dataclasses

    from distributed_gpu_lsh_using_sycl_spark.streaming.stateful import (
        STATE_FORMAT_VERSION, _VERSION_FILE, _check_state_version,
        _state_layout_stamp)

    ck = tmp_path / "ckpt"
    _check_state_version(str(ck))  # fresh dir -> created + stamped
    stamp = ck / _VERSION_FILE
    assert stamp.read_text() == str(STATE_FORMAT_VERSION) == "4"
    _check_state_version(str(ck))  # matching stamp -> accepted

    # a v2 (coarse state-key) checkpoint of the same config -> refused
    stamp.write_text("2:g32" + _state_layout_stamp(CFG)[1:])
    with pytest.raises(RuntimeError, match="state layout 2:g32.*Delete"):
        _check_state_version(str(ck), CFG)

    stamp.write_text(_state_layout_stamp(CFG))
    _check_state_version(str(ck), CFG)  # matching cfg stamp -> accepted
    # signature-chain change: every field that moves a row's (band,
    # bucket) must refuse a resume — prior members would be invisible
    # to new arrivals
    for field, val in [("num_bands", CFG.num_bands + 1),
                       ("rows_per_band", CFG.rows_per_band + 1),
                       ("signature_pool_size", CFG.signature_pool_size + 1),
                       ("bucket_modulus", 105_607),
                       ("shingle_size", CFG.shingle_size + 1),
                       ("seed", CFG.seed + 1)]:
        rechained = dataclasses.replace(CFG, **{field: val})
        with pytest.raises(RuntimeError, match="state layout"):
            _check_state_version(str(ck), rechained)

    stamp.unlink()                 # pre-versioning checkpoint with
    (ck / "offsets").mkdir()       # real content -> also refused
    with pytest.raises(RuntimeError, match="pre-versioning"):
        _check_state_version(str(ck))


def test_state_checkpoint_version_guard_rejects_uri(tmp_path):
    """URI checkpoints would silently bypass the local os.path guard
    (os.makedirs would create a bogus local dir) — refuse them loudly."""
    from distributed_gpu_lsh_using_sycl_spark.streaming.stateful import (
        _check_state_version)

    with pytest.raises(ValueError, match="URI"):
        _check_state_version("s3a://bucket/ckpt")


def test_adjudicated_fingerprint_guard_rejects_uri():
    """The adjudicated table's guard refuses a URI the same way: a
    local-path check would treat it as a fresh dir and never fire."""
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        _check_adj_fingerprint)

    with pytest.raises(ValueError, match="URI"):
        _check_adj_fingerprint("s3a://bucket/adjudicated", CFG)


def test_adjudicated_fingerprint_guard(spark, tmp_path_factory):
    """Persisted verdicts are only valid under the config that produced
    them: a cycle under a changed jaccard/hamming config against the same
    warehouse must REFUSE to reuse the adjudicated table (silently
    anti-joining stale verdicts away would yield wrong clusters with no
    error). Same-config cycles keep working."""
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        streaming_dedup_cycle)

    base = tmp_path_factory.mktemp("adj_guard")
    inp = str(base / "in")
    wh = str(base / "wh")
    os.makedirs(inp)
    images, _ = make_fixture_pandas(40, seed=42)
    spark.createDataFrame(images).write.mode("overwrite") \
        .parquet(os.path.join(inp, "w1"))
    streaming_dedup_cycle(spark, inp + "/*", wh, CFG)

    other = LshConfig(num_bands=16, rows_per_band=6, jaccard_threshold=0.9)
    with pytest.raises(RuntimeError, match="config fingerprint"):
        streaming_dedup_cycle(spark, inp + "/*", wh, other)

    # unchanged config: still accepted (idempotent re-run)
    r = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert r["n_signatures"] == 40


def test_adjudicated_compaction_bounds_files(spark, tmp_path_factory,
                                             monkeypatch):
    """Many reconcile cycles must not accrete unbounded small parquet
    files in the adjudicated table (wave appends are compacted once past
    the file bound), and compaction must never change the final clusters
    — they still equal a from-scratch batch dedup over everything."""
    from distributed_gpu_lsh_using_sycl_spark.streaming import e2e
    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        batch_dedup_reference, streaming_dedup_cycle)

    monkeypatch.setattr(e2e, "_ADJ_COMPACT_FILES", 6)
    base = tmp_path_factory.mktemp("adj_compact")
    inp = str(base / "in")
    wh = str(base / "wh")
    os.makedirs(inp)
    images, _ = make_fixture_pandas(60, seed=42)
    adj_dir = os.path.join(wh, "adjudicated")

    def n_parts():
        return sum(1 for _, _, files in os.walk(adj_dir)
                   for f in files if f.endswith(".parquet"))

    waves = [images.iloc[i * 6:(i + 1) * 6] for i in range(10)]
    r = None
    for i, w in enumerate(waves):
        spark.createDataFrame(w).write.mode("overwrite") \
            .parquet(os.path.join(inp, f"w{i}"))
        r = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
        # compaction runs at cycle start: bound = threshold + one wave's
        # worth of appended part files (<= shuffle partitions)
        assert n_parts() <= 6 + int(
            spark.conf.get("spark.sql.shuffle.partitions"))
    assert r["n_signatures"] == 60
    want = {row["image_id"]: row["cluster_id"]
            for row in batch_dedup_reference(
                spark, spark.createDataFrame(images), CFG).collect()}
    got = {row["image_id"]: row["cluster_id"]
           for row in r["clusters"].collect()}
    assert got == want


def test_adjudicated_reuse_survives_perf_only_config_change(
        spark, tmp_path_factory):
    """The adjudicated fingerprint covers only verdict-semantic fields:
    retuning a perf knob (here n_salts) against the same
    warehouse must KEEP the persisted verdicts — a full-config hash would
    brick every warehouse on any tuning change even though the verdicts
    remain valid."""
    import dataclasses

    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        streaming_dedup_cycle)

    base = tmp_path_factory.mktemp("adj_perf")
    inp = str(base / "in")
    wh = str(base / "wh")
    os.makedirs(inp)
    images, _ = make_fixture_pandas(40, seed=42)
    spark.createDataFrame(images).write.mode("overwrite") \
        .parquet(os.path.join(inp, "w1"))
    r1 = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert r1["n_new_adjudicated"] > 0

    tuned = dataclasses.replace(CFG, n_salts=CFG.n_salts * 2)
    r2 = streaming_dedup_cycle(spark, inp + "/*", wh, tuned)
    # same wave, perf-only retune: every pair is already adjudicated
    assert r2["n_new_adjudicated"] == 0


def test_adjudicated_compaction_crash_recovery(spark, tmp_path_factory):
    """A crash between compaction's two renames leaves the table at
    .compact.old and nothing live; the next cycle must restore it (and
    re-verify nothing) instead of stamping a fresh dir and silently
    re-adjudicating the world."""
    import shutil

    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        streaming_dedup_cycle)

    base = tmp_path_factory.mktemp("adj_crash")
    inp = str(base / "in")
    wh = str(base / "wh")
    os.makedirs(inp)
    images, _ = make_fixture_pandas(40, seed=42)
    spark.createDataFrame(images).write.mode("overwrite") \
        .parquet(os.path.join(inp, "w1"))
    r1 = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert r1["n_new_adjudicated"] > 0
    want = {row["image_id"]: row["cluster_id"]
            for row in r1["clusters"].collect()}

    adj = os.path.join(wh, "adjudicated")
    # simulate the crash window: table moved aside, live path gone
    shutil.move(adj, adj + ".compact.old")
    r2 = streaming_dedup_cycle(spark, inp + "/*", wh, CFG)
    assert r2["n_new_adjudicated"] == 0  # recovered, nothing re-verified
    got = {row["image_id"]: row["cluster_id"]
           for row in r2["clusters"].collect()}
    assert got == want
    assert not os.path.exists(adj + ".compact.old")
