"""One rehydration per candidate pair: the batch caption pass joins its
pairs to one broadcast of the signature checkpoint, sized by the bytes
that checkpoint's own job observed (operators/pairs.py)."""

import re

import pytest
from pyspark.sql import functions as F

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.sources.fixture import make_fixture_pandas

CFG = LshConfig()
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@pytest.fixture(scope="module")
def caption_parquet(spark, tmp_path_factory):
    images, _ = make_fixture_pandas(150, seed=CFG.seed)
    path = str(tmp_path_factory.mktemp("captions") / "captions.parquet")
    spark.createDataFrame(images[["image_id", "caption"]]) \
        .coalesce(1).write.parquet(path)
    return path


def _with_plans(spark, action):
    """``action()`` and the physical plans (final and initial, formatted)
    of every SQL execution it ran, from the SQL status store."""
    sc = spark.sparkContext
    sql = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        execs = sql.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    seen = {e.executionId() for e in executions()}
    out = action()
    return out, [e.physicalPlanDescription() for e in executions()
                 if e.executionId() not in seen]


def _caption_pass(spark, path, frame=True):
    """One caption-only pass as the caption_dedup benchmark runs it: the
    pipeline over the blob scan, then the clusters collect. Returns the
    result, its clusters and the plans it ran. ``frame=False`` passes no
    input frame, as the pipeline CLI and the driver query do."""
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import run_dedup

    def run():
        images = spark.read.parquet(path) if frame else None
        res = run_dedup(spark, images, CFG, with_image=False, scan_path=path)
        return res, sorted(res["clusters"].collect())

    (res, clusters), plans = _with_plans(spark, run)
    return res, clusters, plans


def _nodes(plans, name):
    """Detail blocks ("(id) name" and the lines below it) of every node
    called ``name`` in the formatted plans."""
    head = re.compile(rf"^\(\d+\) {re.escape(name)}\b.*?(?=^\(\d+\) |\Z)",
                      re.M | re.S)
    return [m.group(0) for p in plans for m in head.finditer(p)]


def _feature_shuffles(plans):
    """Exchanges whose input carries rehydrated features (``text_a``,
    ``shingles_b``, ...): a shuffled feature side."""
    return [n for n in _nodes(plans, "Exchange")
            if re.search(r"\b(text|shingles|phash|simhash)_[ab]#", n)]


def _feature_broadcasts(plans):
    """Broadcast exchanges of a rehydration's feature side."""
    return [n for n in _nodes(plans, "BroadcastExchange")
            if re.search(r"\btext_[ab]#", n)]


def test_caption_pass_job_count(spark, caption_parquet):
    """A warm caption pass, footer read and clusters collect included,
    submits a pinned number of jobs (status store): the window verdict's
    captions come from the signature checkpoint, not a second read of
    the input, and the rehydration is broadcast instead of shuffled.
    15 jobs before, 13 after. The band plan's pair mass then bounds the
    verified edges, so CC collects them into union-find with no entry
    checkpoint: 13 before, 12 after. A new job in the pass shows here
    first."""
    from perfbench.sparkstats import StatusStore

    _caption_pass(spark, caption_parquet)
    store = StatusStore(spark)
    _caption_pass(spark, caption_parquet)
    assert len(store.new_jobs()) == 12


def test_scan_path_pass_needs_no_input_frame(spark, caption_parquet):
    """With ``scan_path`` set the pipeline never reads its input frame, so
    a caller may pass None: the clusters are identical and the pass
    submits one job fewer (the frame's parquet schema inference). With
    neither a frame nor a scan path the pipeline refuses to run."""
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import run_dedup
    from perfbench.sparkstats import StatusStore

    jobs, clusters = [], []
    for frame in (True, False):
        _caption_pass(spark, caption_parquet, frame)
        store = StatusStore(spark)
        clusters.append(_caption_pass(spark, caption_parquet, frame)[1])
        jobs.append(len(store.new_jobs()))
    assert clusters[0] and clusters[0] == clusters[1]
    assert jobs[1] == jobs[0] - 1
    with pytest.raises(ValueError):
        run_dedup(spark, None, CFG, with_image=False)


def test_caption_pass_plans_read_input_once(spark, caption_parquet):
    """After the signature stage no execution scans the input table, and
    no Exchange sits under the feature side of the rehydration: both
    sides are one broadcast of the signature checkpoint, reused."""
    res, _, plans = _caption_pass(spark, caption_parquet)
    assert "text" in res["signatures"].columns
    assert not _nodes(plans, "Scan parquet")
    assert not _feature_shuffles(plans)
    assert _feature_broadcasts(plans) and _nodes(plans, "ReusedExchange")


def test_rehydration_follows_the_observed_size(spark, caption_parquet):
    """A threshold equal to the observed feature bytes broadcasts the
    feature side; one byte less shuffles it. Pairs (every column) and
    clusters are the same either way."""
    res, _, _ = _caption_pass(spark, caption_parquet)
    size = {m["stage"]: m["rows"]
            for m in res.metrics}["signatures:feature_bytes"]
    assert size > 0
    prev = spark.conf.get(THRESHOLD)
    runs = []
    try:
        for limit in (size, size - 1):
            spark.conf.set(THRESHOLD, str(limit))
            r, clusters, plans = _caption_pass(spark, caption_parquet)
            runs.append((sorted(r["pairs"].collect()), clusters,
                         bool(_feature_shuffles(plans))))
    finally:
        spark.conf.set(THRESHOLD, prev)
    (pairs_b, clusters_b, shuffled_b), (pairs_s, clusters_s, shuffled_s) = runs
    assert not shuffled_b and shuffled_s
    assert pairs_b and pairs_b == pairs_s
    assert clusters_b == clusters_s


def test_caption_heavy_side_is_not_broadcast(spark):
    """Forty 4 KB captions: the planner's default-size estimate (20 bytes
    per string) fits a 64 KB threshold, the observed bytes do not, so the
    rehydration is not broadcast; with the threshold above the observed
    bytes it is. The observed size bounds the captions' real bytes."""
    from distributed_gpu_lsh_using_sycl_spark.operators.pairs import (
        checkpoint_features, pair_features)

    rows = [(f"id{i:02d}", f"caption {i:02d} " * 360) for i in range(40)]
    # an RDD-backed frame: the planner has no size for it, as for the
    # signature checkpoint
    feats = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
                                  "image_id string, text string")
    feats, size = checkpoint_features(feats, ("text",))
    text_bytes = sum(len(t.encode()) for _, t in rows)
    default_estimate = len(rows) * (8 + feats._jdf.schema().defaultSize())
    limit = 64 * 1024
    assert default_estimate <= limit < text_bytes <= size
    pairs = spark.createDataFrame(
        [(f"id{i:02d}", f"id{i + 1:02d}") for i in range(39)],
        "a string, b string")

    def join(threshold):
        """(rows, feature side shuffled, feature side broadcast)"""
        spark.conf.set(THRESHOLD, str(threshold))
        df = pair_features(pairs, feats, ("text",), size=size)
        n, plans = _with_plans(spark, lambda: len(
            df.select("a", "b", F.length("text_a"), F.length("text_b"))
            .collect()))
        return n, bool(_feature_shuffles(plans)), bool(_feature_broadcasts(plans))

    prev = spark.conf.get(THRESHOLD)
    try:
        assert join(limit) == (39, True, False)
        assert join(size) == (39, False, True)
    finally:
        spark.conf.set(THRESHOLD, prev)
