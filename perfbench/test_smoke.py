"""Smoke test of the benchmark at tiny input sizes: every workload's
traced run (which also runs untraced passes, every correctness check, the
scaling probe and the k-NN probe), plus the checks' power to reject
wrong outputs. About three minutes, most of it JVM start-up:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from distributed_gpu_lsh_using_sycl_spark.sources import fixture  # noqa: E402
from perfbench import procs  # noqa: E402
from perfbench.inputs import Inputs, caption_of  # noqa: E402
from perfbench.workloads import (WORKLOADS, CaptionDedup,  # noqa: E402
                                 LshKnn, PassResult)

SCALE = "0.1"

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_processes() -> list[int]:
    """Live processes started with a run's pinned environment (the JVM,
    its Python workers, the scaling probe's children)."""
    marker = ("SPARK_LOCAL_DIRS=" + os.path.join(
        ROOT, ".perfbench_cache", "spark-local")).encode()
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/environ", "rb") as f:
                    env = f.read().split(b"\0")
            except OSError:
                continue
            if marker in env and procs.alive(int(name)):
                out.append(int(name))
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_run_reports_every_metric(workload, tmp_path):
    # output to files, not pipes: a process left running would hold a
    # pipe open, and reading it to the end would wait for that process
    with open(tmp_path / "out", "w+") as out_f, \
            open(tmp_path / "err", "w+") as err_f:
        code = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "3", "--seconds", "0", "--trace", "1",
             "--scale", SCALE],
            cwd=ROOT, stdout=out_f, stderr=err_f, timeout=300).returncode
        left = run_processes()
        out_f.seek(0)
        err_f.seek(0)
        stdout, stderr = out_f.read(), err_f.read()
    assert code == 0, stderr[-3000:]
    assert not left, "the run left processes running"
    out = json.loads(stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, stderr[-3000:]
    # cold, untraced and traced pass, and the probe's cold and traced pass
    assert out["attempted"] == 3 + 2 * bool(WORKLOADS[workload].probe)
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in BENCH["per_layer"]}

    newest = max(glob.glob(os.path.join(
        ROOT, ".perfbench_cache", "results", f"{workload}-s3-t1-*.json")))
    with open(newest) as f:
        record = json.load(f)
    for m in BENCH["end_to_end"]:
        value = record["metrics"][m["name"]]
        assert value["unit"] == m["unit"] and value["value"] > 0, m["name"]
    assert record["host"]["nproc"] == len(os.sched_getaffinity(0))


def test_captions_match_fixture():
    for idx in range(20):
        assert caption_of(3, idx) == fixture.row_content(3, idx)[1]


def test_checks_reject_wrong_outputs(tmp_path):
    wl = CaptionDedup(Inputs(str(tmp_path)), str(tmp_path), 3, 0.01)
    singletons = pd.DataFrame({"image_id": wl.ids, "cluster_id": wl.ids})
    got = wl.check(None, PassResult(singletons, [1.0]))
    assert not got.ok and got.recall == 0.0

    planted = dict(zip(wl.ids, wl.ids))
    for a, b in zip(wl.truth["a"], wl.truth["b"]):
        planted[b] = planted[a]
    right = pd.DataFrame({"image_id": list(planted),
                          "cluster_id": list(planted.values())})
    assert wl.check(None, PassResult(right, [1.0])).ok
    twice = pd.concat([right, right.head(1)])
    assert not wl.check(None, PassResult(twice, [1.0])).ok
    not_min = right.assign(cluster_id=right["cluster_id"].where(
        right["image_id"] != right["cluster_id"], right["image_id"] + "x"))
    assert not wl.check(None, PassResult(not_min, [1.0])).ok

    knn = LshKnn(Inputs(str(tmp_path)), str(tmp_path), 3, 0.1)
    knn.prepare()
    n, k = knn.rows, knn.k
    exact = knn.exact
    q = np.repeat(np.arange(n), k)
    d = ((knn.pts[q] - knn.pts[exact.ravel()]) ** 2).sum(1)
    out = pd.DataFrame({"vec_id": q, "rank": np.tile(np.arange(1, k + 1), n),
                        "neighbor_id": exact.ravel(), "dist_sq": d})
    got = knn.check(None, PassResult(out, [1.0]))
    assert got.ok and got.recall == 1.0
    assert not knn.check(None, PassResult(
        out.assign(dist_sq=out["dist_sq"] + 1.0), [1.0])).ok
    assert not knn.check(None, PassResult(out.iloc[1:], [1.0])).ok
