"""Incremental signature ingest: each call signs the input files it has
not signed yet, as one batch step.

The reference is strictly single-shot batch (main.cpp:46-55); the
streaming surface is new capability for the 10^12-image regime, where
images arrive continuously: new files landing in the input table are
signed incrementally and appended to the ``signatures`` stage table, so
the banding/verify/CC stages always have fresh signatures to re-run
against — signatures are by far the most expensive stage, and
incremental signing amortizes them.

The signing is the caption pass's own signature stage
(``blob_scan.scan_signatures``) over the new files only: the incremental
and the batch path are one operator, and only the input set differs.
Its task count is ``blob_scan.scan_partitions``', sized from the new
files' row groups, but a wave writes no more files than it has
``spark.sql.files.openCostInBytes`` of row-group bytes (rounded up), so
a small wave signs on one task into one file. The signature table is
re-read by every later cycle, and each of its files costs a task in
each of those reads and in the shuffles below them: on the benchmark's
two waves of 1k captions, four files per wave instead of one raised the
cycle's shuffle write from 33,643 to 39,854 bytes, at 26 jobs both.

Exactly-once without a streaming checkpoint: the cycle's one wave log
(``stateful.read_waves``) lists the waves signed so far, each with the
input files it signed and its signature rows and id bytes, observed on
the write. A wave is written to ``<table>/wave=<n>``, ``n`` the log's
wave count, and the log advances after the write. A crash between the
two leaves a wave directory the log does not list; it is uncommitted,
and it is deleted before the next write, so no reader ever reads it, and
the files it signed are signed again into the same directory. The log's
layout guard runs when it is read, before anything is signed. The
``wave=<n>`` names are partition directories, so the table root reads as
one table (with a ``wave`` column).

The input root is local-FS only, as the warehouse metadata is
(``sources/tables.py``).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.sources.blob_scan import (
    scan_signatures)
from distributed_gpu_lsh_using_sycl_spark.sources.tables import (
    data_files, parquet_footer)
from distributed_gpu_lsh_using_sycl_spark.streaming.stateful import (
    drop_waves, read_waves, signed_wave, write_waves)


def _input_files(input_dir: str) -> set[str]:
    """Real paths of the data files under ``input_dir``, a directory or a
    glob of files and directories; hidden names (``_SUCCESS``, ``.crc``)
    are skipped."""
    if "://" in input_dir:
        raise ValueError(
            f"input root {input_dir!r} is a URI; the streaming ingest lists "
            "its input on the local file system only. Use a local path.")
    out: set[str] = set()
    for path in glob.glob(input_dir):
        if os.path.isdir(path):
            out |= data_files(path).keys()
        elif not os.path.basename(path).startswith(("_", ".")):
            out.add(os.path.realpath(path))
    return out


def signature_stream(spark: SparkSession, input_dir: str, out_dir: str,
                     checkpoint_dir: str, cfg: LshConfig | None = None,
                     with_image: bool = True) -> int:
    """Sign the files under ``input_dir`` that the wave log in
    ``checkpoint_dir`` does not list yet, as one wave directory of the
    signature table ``out_dir``. Returns the rows signed, observed on the
    write job (the one job) with the ids' bytes.

    A wave whose new files hold no rows (an empty parquet file has no row
    group) writes nothing; the log still advances, so they are not
    listed again. With no new file the call does nothing."""
    cfg = cfg or LshConfig()
    waves = read_waves(checkpoint_dir, cfg)
    drop_waves(out_dir, len(waves))
    new = sorted(_input_files(input_dir).difference(
        *(w["files"] for w in waves)))
    if not new:
        return 0
    footers = [parquet_footer(f) for f in new]
    n = id_bytes = 0
    if any(rows for rows, _ in footers):
        # one file per open cost of row-group bytes, at most the scan's
        # own width: every later cycle reads each file of the table
        open_cost = spark._jsparkSession.sessionState().conf() \
            .filesOpenCostInBytes()
        files = -(-sum(sum(groups) for _, groups in footers) // open_cost)
        obs = Observation()
        (scan_signatures(spark, new, cfg, with_image=with_image)
         .coalesce(files)
         .observe(obs, F.count(F.lit(1)).alias("n"),
                  F.sum(F.octet_length("image_id")).alias("id_bytes"))
         .write.mode("overwrite")
         .parquet(os.path.join(out_dir, f"wave={len(waves)}")))
        n, id_bytes = int(obs.get["n"]), int(obs.get["id_bytes"] or 0)
    write_waves(checkpoint_dir, waves + [signed_wave(new, n, id_bytes)])
    return n
