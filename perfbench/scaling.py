"""North-rule scaling probe child: scan + banding throughput at local[c].

    taskset -c 0 python3 -m perfbench.scaling --input images.parquet --cores 1

Starts its own session, runs ``scan_signatures`` followed by
``explode_bands`` and both ``bit_bands`` once cold, then once timed, and
prints the rate in input rows per second as its last line.
"""

from __future__ import annotations

import argparse
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--cores", type=int, required=True)
    args = ap.parse_args()

    from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
    from distributed_gpu_lsh_using_sycl_spark.operators import banding
    from distributed_gpu_lsh_using_sycl_spark.sources import blob_scan
    from distributed_gpu_lsh_using_sycl_spark.sources.tables import get_spark
    from perfbench.procs import stop_session
    from perfbench.run import session_conf

    spark = get_spark("perfbench-scaling", parallelism=args.cores,
                      extra_conf=session_conf())
    cfg = LshConfig()
    try:
        rows = spark.read.parquet(args.input).count()
        for _ in range(2):  # cold, then timed
            t0 = time.perf_counter()
            sigs = blob_scan.scan_signatures(spark, args.input, cfg,
                                             with_image=True)
            sigs = sigs.localCheckpoint(eager=True)
            for bands in (banding.explode_bands(sigs),
                          banding.bit_bands(sigs, "simhash", cfg),
                          banding.bit_bands(sigs, "phash", cfg)):
                bands.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
    finally:
        stop_session(spark)
    print(rows / wall)


if __name__ == "__main__":
    main()
