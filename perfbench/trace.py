"""Per-layer tracing from outside the engine.

While active, the tracer rebinds each wrapped public function of a layer
(every module attribute bound to it, so callers that imported the name
see the wrapper too). A wrapper records a span (layer, function, start,
end, parent span, run id), sets a Spark job group named for the span,
and materializes the DataFrame it returns (``persist`` + ``count``, one
job, which also gives the rows out) inside the span, so the layer's work
is attributed to the layer. A streaming query is awaited inside its span.

Jobs are attributed after each pass: by job group when the job ran on
the driver thread, else (micro-batch jobs run on the stream's thread)
by submission time to the innermost span open at that moment. Counters
are exclusive: each job counts for one span only. A layer the pass does
not reach reports zeros.

``scaling_probe`` runs the north-rule scan + banding probe
(``perfbench/scaling.py``) in two taskset-pinned child JVMs.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import os
import signal
import subprocess
import sys
import time
import uuid
from dataclasses import dataclass, field

from perfbench import procs
from perfbench.sparkstats import MB, StageCounters

PKG = "distributed_gpu_lsh_using_sycl_spark"

#: layer (the engine module, relative to the package) -> the public
#: functions wrapped in it
LAYERS = {
    "sources.blob_scan": ("scan_signatures",),
    "operators.signatures": ("compute_signatures",),
    "operators.banding": ("explode_bands", "bit_bands", "over_threshold_stats",
                          "candidate_pairs_from_bands"),
    "operators.suffix": ("substring_candidates", "verify_substring_pairs"),
    "operators.pairs": ("merge_candidates", "attach_features", "verify_pairs",
                        "verified_edges"),
    "operators.components": ("assign_clusters",),
    "plans.pipeline": ("run_dedup",),
    "streaming.ingest": ("signature_stream",),
    "streaming.stateful": ("candidate_pair_stream",),
    "streaming.e2e": ("streaming_dedup_cycle",),
    "operators.parity_hash": ("rp_buckets_df",),
    "operators.lsh_knn": ("lsh_kneighbors", "family_buckets"),
}

OVERHEAD = ("trace.overhead_pct", "%")


@dataclass
class Span:
    layer: str
    fn: str
    start: float
    parent: int | None
    run_id: str
    group: str
    pass_no: int
    end: float = 0.0
    rows: int = 0
    extra: dict = field(default_factory=dict)
    children: list[int] = field(default_factory=list)
    counters: StageCounters = field(default_factory=StageCounters)
    jobs: int = 0


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _progress_rows(q) -> int:
    """Rows a finished streaming query consumed (file sinks do not report
    the rows they write)."""
    return sum(int(p["numInputRows"]) for p in q.recentProgress)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._persisted = []
        self.passes = 0

    # ------------------------------------------------------------ wrapping
    @contextlib.contextmanager
    def active(self):
        """Wrap every layer for the duration of one pass."""
        rebound = []
        originals = {}
        for layer, fns in LAYERS.items():
            m = importlib.import_module(f"{PKG}.{layer}")
            for fn in fns:
                orig = getattr(m, fn)
                originals[id(orig)] = (orig, self._wrap(layer, fn, orig))
        for name, m in list(sys.modules.items()):
            if not (name.startswith(PKG) or name.startswith("perfbench")):
                continue
            for attr, val in list(vars(m).items()):
                if id(val) in originals and val is originals[id(val)][0]:
                    setattr(m, attr, originals[id(val)][1])
                    rebound.append((m, attr, val))
        self.passes += 1
        try:
            yield
        finally:
            for m, attr, val in rebound:
                setattr(m, attr, val)

    def _wrap(self, layer: str, fn_name: str, fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            parent = self._open[-1] if self._open else None
            idx = len(self.spans)
            span = Span(layer, fn_name, 0.0, parent, self.run_id,
                        f"perfbench:{self.run_id}:{idx}", self.passes)
            self.spans.append(span)
            if parent is not None:
                self.spans[parent].children.append(idx)
            prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                    self.sc.getLocalProperty("spark.job.description"))
            self.sc.setJobGroup(span.group, f"{layer}.{fn_name}")
            self._open.append(idx)
            span.start = time.time()
            try:
                out = self._materialize(span, fn(*args, **kwargs))
                bound = sig.bind(*args, **kwargs).arguments
                if layer == "streaming.stateful":
                    span.extra["state_bytes"] = _dir_bytes(
                        os.path.join(bound["checkpoint_dir"], "state"))
                if fn_name == "verify_pairs":
                    span.extra["verified"] = out.filter("verified").count()
                if fn_name == "lsh_kneighbors":
                    span.extra["points"] = span.rows / bound["k"]
                return out
            finally:
                span.end = time.time()
                self._open.pop()
                self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
                self.sc.setLocalProperty("spark.job.description", prev[1])
        return wrapper

    def _materialize(self, span: Span, out):
        from pyspark.sql import DataFrame
        from pyspark.sql.streaming import StreamingQuery

        from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import (
            PipelineResult)

        if isinstance(out, DataFrame):
            if out.isStreaming:
                return out
            out = out.persist()
            self._persisted.append(out)
            span.rows = out.count()
        elif isinstance(out, StreamingQuery):
            out.awaitTermination()
            span.rows = _progress_rows(out)
        elif isinstance(out, PipelineResult):
            out.tables["clusters"] = self._materialize(
                span, out.tables["clusters"])
        elif isinstance(out, dict) and "n_signatures" in out:
            span.rows = int(out["n_signatures"])
        return out

    def release(self) -> None:
        """Drop what the wrappers persisted; untimed, after each pass."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # --------------------------------------------------------- attribution
    def attribute(self, jobs) -> None:
        """Give each job of a traced pass to one span."""
        by_group = {s.group: i for i, s in enumerate(self.spans)}
        for job in jobs:
            idx = by_group.get(job.group)
            if idx is None:
                idx = self._innermost_at(job.submitted_ms / 1000.0)
            if idx is None:
                continue
            self.spans[idx].jobs += 1
            self.spans[idx].counters.add(job.counters)

    def _innermost_at(self, t: float) -> int | None:
        best = None
        for i, s in enumerate(self.spans):
            if s.start - 0.001 <= t <= s.end + 0.001:
                best = i  # later spans nest inside earlier ones
        return best

    # ------------------------------------------------------------- results
    def layer_metrics(self, scaling: float | None, overhead: float) -> dict:
        out = {}
        for layer in LAYERS:
            spans = [s for s in self.spans if s.layer == layer]
            # per traced pass that reached the layer (a probe's layers are
            # reached by its one pass only)
            n = max(1, len({s.pass_no for s in spans}))
            outer = [s for s in spans
                     if s.parent is None or not self._inside(s, layer)]
            wall = sum(s.end - s.start for s in outer)
            self_t = sum((s.end - s.start) - sum(
                self.spans[c].end - self.spans[c].start for c in s.children)
                for s in spans)
            c = StageCounters()
            for s in spans:
                c.add(s.counters)
            rows = {}
            for s in spans:
                rows[s.fn] = rows.get(s.fn, 0) + s.rows
            vals = {
                "wall_s": (wall / n, "s"),
                "self_s": (self_t / n, "s"),
                "jobs": (sum(s.jobs for s in spans) / n, "count"),
                "tasks": (c.tasks / n, "count"),
                "shuffle_read_mb": (c.shuffle_read / MB / n, "MB"),
                "shuffle_write_mb": (c.shuffle_write / MB / n, "MB"),
                "spill_mb": (c.spill / MB / n, "MB"),
                "task_skew": (c.skew if spans else 0.0, "ratio"),
                "rows_out": (sum(s.rows for s in outer) / n, "rows"),
            }
            vals.update(self._extras(layer, rows, wall, spans, scaling, n))
            out.update({f"{layer}.{k}": v for k, v in vals.items()})
        out[OVERHEAD[0]] = (100.0 * overhead, OVERHEAD[1])
        return out

    def _inside(self, span: Span, layer: str) -> bool:
        p = span.parent
        while p is not None:
            if self.spans[p].layer == layer:
                return True
            p = self.spans[p].parent
        return False

    def _extras(self, layer, rows, wall, spans, scaling, n) -> dict:
        if layer == "sources.blob_scan":
            return {"rows_per_s": (rows.get("scan_signatures", 0) / wall
                                   if wall else 0.0, "1/s"),
                    "scaling_eff_1_4": (scaling or 0.0, "ratio")}
        if layer == "operators.banding":
            return {"cand_pairs": (
                rows.get("candidate_pairs_from_bands", 0) / n, "count")}
        if layer == "operators.suffix":
            return {"cand_pairs": (rows.get("substring_candidates", 0) / n,
                                   "count"),
                    "verified": (rows.get("verify_substring_pairs", 0) / n,
                                 "count")}
        if layer == "operators.pairs":
            tried = rows.get("verify_pairs", 0)
            verified = sum(s.extra.get("verified", 0) for s in spans)
            return {"pairs_in": (rows.get("attach_features", 0) / n, "count"),
                    "verified_ratio": (verified / tried if tried else 0.0,
                                       "ratio")}
        if layer == "operators.components":
            edges = sum(s.rows for s in self.spans if s.fn == "verified_edges")
            return {"edges_in": (edges / n, "count")}
        if layer == "streaming.stateful":
            return {"state_mb": (max((s.extra.get("state_bytes", 0)
                                      for s in spans), default=0) / MB, "MB")}
        if layer == "operators.lsh_knn":
            knn = [s for s in spans if s.fn == "lsh_kneighbors"]
            cands = sum(self.spans[c].rows for s in knn
                        for c in self._descendants(s)
                        if self.spans[c].fn == "candidate_pairs_from_bands")
            points = sum(s.extra["points"] for s in knn)
            return {"cand_pairs_per_point": (cands / points if points else 0.0,
                                             "count")}
        return {}

    def _descendants(self, span: Span) -> list[int]:
        out, todo = [], list(span.children)
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.spans[i].children)
        return out

    def span_records(self) -> list[dict]:
        return [{"name": f"{s.layer}.{s.fn}", "start": s.start, "end": s.end,
                 "parent": s.parent, "run_id": s.run_id, "rows": s.rows,
                 "jobs": s.jobs} for s in self.spans]


def scaling_probe(input_path: str, cpus: int, root: str,
                  budget_s: float) -> float:
    """North-rule scaling: scan + banding over ``input_path`` in two
    taskset-pinned JVMs at local[1] and local[n], n = min(4, cpus).
    Returns (ips_n / ips_1) / n, or 0.0 when the two probes do not finish
    within ``budget_s`` (a slow or contended host)."""
    cores = sorted(os.sched_getaffinity(0))
    n = min(4, cpus)
    deadline = time.monotonic() + budget_s
    ips = {}
    for c in (1, n):
        cmd = ["taskset", "-c", ",".join(map(str, cores[:c])),
               sys.executable, "-m", "perfbench.scaling",
               "--input", input_path, "--cores", str(c)]
        # own process group: a timeout kills the child's JVM and workers too
        with subprocess.Popen(cmd, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, cwd=root,
                              start_new_session=True) as proc:
            try:
                out, _ = proc.communicate(
                    timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                group = procs.tree(proc.pid)
                os.killpg(proc.pid, signal.SIGKILL)
                proc.communicate()
                procs.wait_gone(group, 10.0)
                print(f"scaling probe at local[{c}] overran its "
                      f"{budget_s:.0f} s budget; scaling_eff_1_4 "
                      "reported as 0", file=sys.stderr)
                return 0.0
        if proc.returncode:
            raise subprocess.CalledProcessError(proc.returncode, cmd)
        ips[c] = float(out.strip().splitlines()[-1])
    return ips[n] / ips[1] / n
