"""The benchmark workloads.

Each workload generates its inputs from the seed (untimed, cached), runs
one *pass* through the engine's public entry points, and checks the
pass's output outside the timed region. Engine calls go through module
attributes (``pipeline.run_dedup``, not a name bound here) so the
traced run's layer wrappers see them.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.operators import lsh_knn
from distributed_gpu_lsh_using_sycl_spark.plans import pipeline
from distributed_gpu_lsh_using_sycl_spark.sources import fixture
from distributed_gpu_lsh_using_sycl_spark.streaming import e2e

from perfbench.inputs import CAPTION_KINDS, Inputs, reset_dir

#: the dedup gate of BASELINE.md / ROADMAP aim 3
DEDUP_RECALL_MIN = 0.99


@dataclass
class PassResult:
    """What one pass produced: its output and its cycle latencies (one
    cycle for a batch pass, one per wave for streaming)."""
    output: pd.DataFrame
    cycles: list[float]


@dataclass
class Check:
    ok: bool
    recall: float
    problems: list[str] = field(default_factory=list)


def _cluster_problems(out: pd.DataFrame, ids: list[str]) -> list[str]:
    """Every input id assigned exactly once; cluster_id is the minimum id
    of its cluster."""
    problems = []
    if len(out) != len(ids) or out["image_id"].duplicated().any():
        problems.append(f"{len(out)} assignment rows for {len(ids)} ids "
                        "or an id assigned twice")
    if set(out["image_id"]) != set(ids):
        problems.append("assigned ids differ from the input ids")
    mins = out.groupby("cluster_id")["image_id"].min()
    bad = int((mins.index != mins.values).sum())
    if bad:
        problems.append(f"{bad} clusters whose cluster_id is not their min id")
    return problems


def planted_recall(out: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Share of planted pairs whose two rows land in the same cluster."""
    cid = dict(zip(out["image_id"], out["cluster_id"]))
    same = sum(1 for a, b in zip(truth["a"], truth["b"])
               if a in cid and cid.get(a) == cid.get(b))
    return same / len(truth)


class Workload:
    name = ""
    #: input rows per pass
    rows = 0
    #: a workload whose layers no benchmark workload reaches; the traced
    #: run of this one also runs a cold and a traced pass of it
    probe: type[Workload] | None = None

    def __init__(self, inputs: Inputs, work_dir: str, seed: int,
                 scale: float):
        self.inputs = inputs
        self.work_dir = work_dir
        self.seed = seed
        self.scale = scale

    def size(self, n: int) -> int:
        """``n`` scaled, in whole fixture blocks of 10 rows."""
        return max(10, int(n * self.scale) // 10 * 10)

    def prepare(self) -> None:
        """Make inputs; runs before the session clock starts."""

    def run_pass(self, spark) -> PassResult:
        raise NotImplementedError

    def check(self, spark, res: PassResult) -> Check:
        raise NotImplementedError

    def cleanup(self, spark) -> None:
        """Untimed housekeeping between passes."""


class CaptionDedup(Workload):
    """Caption-only batch pipeline over blob-scanned parquet: bound by the
    fixed cost per Spark job and by the substring pass."""
    name = "caption_dedup"
    base_rows = 4_000
    #: image rows the scaling probe scans (in this workload's traced run:
    #: blob_scan is its layer)
    scaling_rows = 200

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rows = self.size(self.base_rows)
        truth = fixture.truth_pairs(self.seed, self.rows)
        self.truth = truth[truth["kind"].isin(CAPTION_KINDS)]
        self.ids = [fixture.image_id(i) for i in range(self.rows)]

    def prepare(self) -> None:
        self.path = self.inputs.captions(self.seed, 0, self.rows)

    def run_pass(self, spark) -> PassResult:
        t0 = time.perf_counter()
        images = spark.read.parquet(self.path)
        res = pipeline.run_dedup(spark, images, with_image=False,
                                 scan_path=self.path)
        out = res["clusters"].toPandas()
        return PassResult(out, [time.perf_counter() - t0])

    def check(self, spark, res: PassResult) -> Check:
        problems = _cluster_problems(res.output, self.ids)
        recall = planted_recall(res.output, self.truth)
        if recall < DEDUP_RECALL_MIN:
            problems.append(f"planted-pair recall {recall:.4f} < "
                            f"{DEDUP_RECALL_MIN}")
        return Check(not problems, recall, problems)

    def scaling_input(self) -> str:
        """Full fixture rows (with image bytes) for the scaling probe."""
        return self.inputs.images(self.seed, self.size(self.scaling_rows))


class LshKnn(Workload):
    """The reference query: random-projection LSH k-NN at the default
    LshConfig over seeded Gaussian blobs. Not a benchmark workload (three
    workloads' runs do not fit the benchmark's time limit with more than
    one pass each); it is ``StreamingDedup``'s probe, so the traced run
    still measures parity_hash and the L2 re-rank."""
    name = "lsh_knn"
    k = 5
    dims = 64
    centres = 64
    #: at this spread recall@5 is ~0.90 at the default config (0.15 gave
    #: 0.04 on these blobs); the gate catches a broken probe or re-rank
    spread = 0.02
    base_rows = 4_000
    recall_min = 0.8

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rows = self.size(self.base_rows)

    def prepare(self) -> None:
        self.path, pts = self.inputs.blobs(self.seed, self.rows, self.dims,
                                           self.centres, self.spread)
        self.pts = pts
        key = os.path.basename(self.path)[:-len(".parquet")]
        self.exact = self.inputs.exact_knn(key, pts, self.k)

    def run_pass(self, spark) -> PassResult:
        t0 = time.perf_counter()
        e = spark.read.parquet(self.path)
        out = lsh_knn.lsh_kneighbors(e, k=self.k, family="random_projections",
                                     cfg=LshConfig(), dims=self.dims).toPandas()
        return PassResult(out, [time.perf_counter() - t0])

    def check(self, spark, res: PassResult) -> Check:
        out = res.output.sort_values(["vec_id", "rank"])
        problems = []
        n, k = self.rows, self.k
        if len(out) != n * k or not (out.groupby("vec_id")["rank"].apply(
                lambda r: list(r) == list(range(1, k + 1)))).all():
            problems.append("output is not k ranked rows per point")
            return Check(False, 0.0, problems)
        q = out["vec_id"].to_numpy()
        m = out["neighbor_id"].to_numpy()
        found = out["dist_sq"].to_numpy() >= 0
        exact_d = ((self.pts[q[found]] - self.pts[m[found]]) ** 2).sum(1)
        if not np.allclose(out["dist_sq"].to_numpy()[found], exact_d,
                           rtol=1e-6, atol=1e-5):
            problems.append("a reported dist_sq differs from the exact "
                            "distance")
        got = m.reshape(n, k)
        hits = sum(len(set(got[i]) & set(self.exact[i])) for i in range(n))
        recall = hits / (n * k)
        if recall < self.recall_min:
            problems.append(f"recall@{k} {recall:.4f} < {self.recall_min}")
        return Check(not problems, recall, problems)


class StreamingDedup(Workload):
    """Closed loop, one client: a wave lands, one streaming dedup cycle
    runs to completion, then the next wave lands."""
    name = "streaming_dedup"
    probe = LshKnn
    waves = 2
    base_wave_rows = 1_000

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.wave_rows = self.size(self.base_wave_rows)
        self.rows = self.wave_rows * self.waves
        truth = fixture.truth_pairs(self.seed, self.rows)
        # the streaming cycle bands MinHash only: no substring pass
        self.truth = truth[truth["kind"].isin(("combined", "caption"))]
        self.ids = [fixture.image_id(i) for i in range(self.rows)]
        self.reference: dict[str, str] | None = None

    def prepare(self) -> None:
        n = self.wave_rows
        self.wave_files = [self.inputs.captions(self.seed, w * n, (w + 1) * n)
                           for w in range(self.waves)]

    def run_pass(self, spark) -> PassResult:
        base = reset_dir(os.path.join(self.work_dir, "stream"))
        inp, wh = os.path.join(base, "in"), os.path.join(base, "wh")
        cycles = []
        for w, src in enumerate(self.wave_files):
            os.makedirs(os.path.join(inp, f"w{w}"))
            shutil.copyfile(src, os.path.join(inp, f"w{w}", "part-0.parquet"))
            t0 = time.perf_counter()
            r = e2e.streaming_dedup_cycle(spark, inp + "/*", wh)
            cycles.append(time.perf_counter() - t0)
        return PassResult(r["clusters"].toPandas(), cycles)

    def _reference(self, spark) -> dict[str, str]:
        """Drain == batch: the from-scratch batch dedup over every wave."""
        if self.reference is None:
            images = spark.read.parquet(*self.wave_files)
            ref = e2e.batch_dedup_reference(spark, images).toPandas()
            self.reference = dict(zip(ref["image_id"], ref["cluster_id"]))
        return self.reference

    def check(self, spark, res: PassResult) -> Check:
        problems = _cluster_problems(res.output, self.ids)
        got = dict(zip(res.output["image_id"], res.output["cluster_id"]))
        if got != self._reference(spark):
            problems.append("streaming clusters differ from the batch "
                            "reference over the union of the waves")
        # MinHash banding alone misses some planted caption near-dups by
        # design, so recall is reported, not gated: the gate is the batch
        # reference, which runs the same semantics from scratch
        return Check(not problems, planted_recall(res.output, self.truth),
                     problems)

    def cleanup(self, spark) -> None:
        # stop state-store maintenance before the next pass deletes the
        # checkpoint directories (see e2e.unload_state_stores)
        e2e.unload_state_stores(spark)


WORKLOADS = {w.name: w for w in (CaptionDedup, StreamingDedup)}
