"""Per-query noop-sink timer (guide §1.4 noop-sink isolation) — NOT the
driver's frozen bench. Prints PER-RUN walls and job counts (Spark status
store) for the named driver queries, and the median wall of the warm
passes (every pass after the first); bench.py prints the min-folded
record, which hides this-window numbers. Per-layer phases of the
pipeline and the streaming cycle come from the traced run of
``perfbench/run.py`` instead.

Runs on ``local[SPARK_GRAFT_CPUS]``, by default the number of CPUs this
process may run on.

Usage:
  python bench_extra.py --queries ivf_topk,lsh_knn --reps 3
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def _spark():
    from distributed_gpu_lsh_using_sycl_spark.sources.tables import get_spark

    return get_spark("bench-extra", parallelism=CPUS, shuffle_partitions=CPUS)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _warm(spark):
    """Warm the python worker pool through the real UDF path (same as
    bench.headline_queries)."""
    from pyspark.sql import functions as F

    from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
    from distributed_gpu_lsh_using_sycl_spark.operators.signatures import (
        compute_signatures)

    warm = (spark.range(CPUS * 8)
            .repartition(CPUS)
            .select(F.col("id").alias("doc_id"),
                    F.concat(F.lit("warm up text "), F.col("id")).alias("text")))
    _noop(compute_signatures(warm, LshConfig(), id_col="doc_id",
                             text_col="text", with_image=False))


def run_queries(names: list[str], reps: int) -> None:
    import __spark_entry__ as E
    from perfbench.sparkstats import StatusStore

    spark = _spark()
    _warm(spark)
    store = StatusStore(spark)
    qs = E.queries()
    out = {n: {"passes": [], "jobs": []} for n in names}
    for r in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            _noop(qs[name](spark, SF))
            out[name]["passes"].append(round(time.perf_counter() - t0, 2))
            out[name]["jobs"].append(len(store.new_jobs()))
            spark.catalog.clearCache()
    for v in out.values():
        warm = v["passes"][1:]
        v["warm_median"] = round(statistics.median(warm), 2) if warm else None
    print(json.dumps({"cpus": CPUS, "sf": SF, "queries": out}, indent=1))
    spark.stop()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    if not args.queries:
        ap.error("pass --queries")
    run_queries(args.queries.split(","), args.reps)


if __name__ == "__main__":
    main()
