"""Benchmark driver for the dedup engine.

    python3 perfbench/run.py --workload caption_dedup --seed 7 --seconds 12 --trace 0

Runs one workload (see ``BENCHMARK.json``) on ``local[nproc]`` from this
single driver process: generates the inputs from ``--seed`` (untimed,
cached under ``.perfbench_cache/``), sets up the session and runs one
cold pass, then runs warm passes for ``--seconds``. Every pass is
checked outside its timed region; a failed check or an exception counts
the pass as failed. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The full record (host fingerprint, per-pass samples, spans) is written
to ``.perfbench_cache/results/``; compare two sets of records with
``python3 perfbench/compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
#: a run ends within 180 s; the traced run's scaling probe gets what is
#: left of this once the passes are done
RUN_LIMIT_S = 160.0


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_env(cpus: int) -> None:
    """The session environment, set here rather than inherited."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # executor Python workers import the engine by module path
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p and os.path.abspath(p) != ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # get_spark defaults to 24g, above the RAM of small hosts; the inputs
    # are small
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(CACHE, sub)
        os.makedirs(os.environ[var], exist_ok=True)


def session_conf() -> dict:
    """Extra session conf: every file the JVM writes stays in the cache
    directory, and the heap is fixed and pre-touched so peak_rss_mb moves
    with the engine's native and Python memory, not with GC timing."""
    from perfbench.sparkstats import RETAIN_CONF
    tmp = os.environ["TMPDIR"]
    return {**RETAIN_CONF,
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}


def fingerprint(cpus: int) -> dict:
    """The host and software a result was measured on. Results whose
    fingerprints differ are not compared (see compare.py)."""
    import hashlib
    import subprocess

    import numpy
    import pyarrow
    import pyspark

    src = hashlib.sha1()
    pkg = os.path.join(ROOT, "distributed_gpu_lsh_using_sycl_spark")
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    src.update(fh.read())
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10,
                             check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = None  # not a git checkout; source_sha1 still names the code
    return {"nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "ram_mb": host_ram_mb(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "git_sha": sha, "source_sha1": src.hexdigest()}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: the share stolen by
    other guests on a shared host shows how contended a run was."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def warm_up_workers(spark, cpus: int) -> None:
    """Start one Python worker per core."""
    (spark.range(cpus, numPartitions=cpus)
     .mapInPandas(lambda it: it, "id long").count())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses ~0.1)")
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    # a terminated run still stops the processes it started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    cpus = host_cpus()
    pin_env(cpus)
    sys.path.insert(0, ROOT)
    from distributed_gpu_lsh_using_sycl_spark.sources.tables import get_spark
    from perfbench import procs, sparkstats, trace
    from perfbench.inputs import Inputs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(WORKLOADS)}")
    fp = fingerprint(cpus)
    wl = WORKLOADS[args.workload](Inputs(CACHE), os.path.join(CACHE, "work"),
                                  args.seed, args.scale)
    wl.prepare()
    probe = (wl.probe(wl.inputs, wl.work_dir, args.seed, args.scale)
             if args.trace and wl.probe else None)
    if probe:
        probe.prepare()

    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    spark = None
    try:
        spark = get_spark(f"perfbench-{wl.name}", parallelism=cpus,
                          extra_conf=session_conf())
        warm_up_workers(spark, cpus)
        cold = wl.run_pass(spark)
        setup_s = time.perf_counter() - t0
        checks = [wl.check(spark, cold)]
        wl.cleanup(spark)

        store = sparkstats.StatusStore(spark)
        tracer = trace.Tracer(spark) if args.trace else None
        failures = []

        def one_pass(w, traced: bool):
            """One checked pass of ``w``: (result, its jobs), or None when
            it raised."""
            store.new_jobs()  # drop the previous check's jobs
            try:
                if traced:
                    with tracer.active():
                        res = w.run_pass(spark)
                else:
                    res = w.run_pass(spark)
            except Exception:  # a failed pass is a failed operation
                failures.append(traceback.format_exc())
                w.cleanup(spark)
                return None
            jobs = store.new_jobs()
            if traced:
                tracer.attribute(jobs)
                tracer.release()
            checks.append(w.check(spark, res))
            w.cleanup(spark)
            return res, jobs

        passes = []     # one dict per warm pass, None for a failed one
        t_measure = time.perf_counter()
        # at least one warm pass (the traced run: one untraced and one
        # traced), however long it takes
        while (time.perf_counter() - t_measure < args.seconds
               or len(passes) < (2 if tracer else 1)):
            # the traced run alternates untraced and traced passes, so the
            # tracing overhead is measured against the same session
            traced = tracer is not None and len(passes) % 2 == 1
            done = one_pass(wl, traced)
            if done is None:
                passes.append(None)
                continue
            res, jobs = done
            passes.append({
                "traced": traced, "wall_s": sum(res.cycles),
                "cycles_s": res.cycles, "jobs": len(jobs),
                "shuffle_write_mb": sum(j.counters.shuffle_write
                                        for j in jobs) / sparkstats.MB})
        if probe:
            # after the measured passes: a cold pass, then a traced one
            one_pass(probe, False)
            one_pass(probe, True)
        rss = sparkstats.peak_rss_mb(spark)
    finally:
        procs.stop_session(spark)
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    scaling = (trace.scaling_probe(
        wl.scaling_input(), cpus, ROOT,
        budget_s=RUN_LIMIT_S - (time.monotonic() - t_start))
        if tracer and hasattr(wl, "scaling_input") else None)

    attempted = len(checks) + len(failures)
    failed = len(failures) + sum(1 for c in checks if not c.ok)
    for c in checks:
        for p in c.problems:
            print(f"check failed: {p}", file=sys.stderr)
    for f in failures:
        print(f, file=sys.stderr)
    plain = [p for p in passes if p is not None and not p["traced"]]
    traced = [p for p in passes if p is not None and p["traced"]]
    if not plain or (tracer and not traced):
        print("no warm pass completed", file=sys.stderr)
        return 1

    def med(key):
        return statistics.median(p[key] for p in plain)

    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (wl.rows / med("wall_s"), "1/s"),
        "cycle_p50_s": (statistics.median(
            c for p in plain for c in p["cycles_s"]), "s"),
        "cycle_last_s": (statistics.median(
            p["cycles_s"][-1] for p in plain), "s"),
        "jobs": (med("jobs"), "count"),
        "shuffle_write_mb": (med("shuffle_write_mb"), "MB"),
        "peak_rss_mb": (rss, "MB"),
        "recall": (min(c.recall for c in checks), "ratio"),
    }
    if tracer:
        out_metrics = tracer.layer_metrics(
            scaling=scaling, overhead=statistics.median(
                p["wall_s"] for p in traced) / med("wall_s") - 1)
    else:
        out_metrics = metrics
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "scale": args.scale, "rows": wl.rows, "host": fp,
              "steal_pct": 100.0 * ticks[0] / max(1, ticks[1]),
              "attempted": attempted, "failed": failed, "passes": passes,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in {**metrics,
                                            **out_metrics}.items()}}
    if tracer:
        record["spans"] = tracer.span_records()
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    with open(os.path.join(CACHE, "results", f"{wl.name}-s{args.seed}-"
                           f"t{args.trace}-{time.time_ns()}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"host": fp}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in out_metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
