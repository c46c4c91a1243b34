"""Session factory + table IO.

On the sandbox, tables are parquet directories under a warehouse path; on
a real cluster the same ``TableIO`` speaks Iceberg (``writeTo`` /
``read.format("iceberg")``) when a catalog is configured — Iceberg gives
what the reference's binary-file header gave it (schema + count,
binary_parser.hpp:33-47) plus snapshot isolation, partition pruning and
min/max skipping. The engine code is format-agnostic through this module.

It also owns the warehouse's file metadata: the engine reads parquet
footers, lists data files, guards stamp files and publishes JSON logs
only through the functions at its end. They speak the local file system
only: a URI lists as unknown and the stamp guard refuses it. A cluster
deployment moves them to the Hadoop FileSystem API, and nothing else.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from distributed_gpu_lsh_using_sycl_spark.sources import worker_daemon

# The sandbox VM makes first-touch page faults on fresh mmap'd memory
# ~100x normal cost, and glibc mmaps every allocation over the (adaptive)
# threshold — so numpy temporaries above ~a few MB pay full fault cost on
# EVERY kernel invocation. Pin the malloc thresholds high so big blocks
# stay in the (warm, reused) heap. Applied to the driver here and to the
# python workers via executorEnv below.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(128 * 1024 * 1024),
    "MALLOC_TRIM_THRESHOLD_": str(256 * 1024 * 1024),
}
os.environ.update(_MALLOC_ENV)


#: the Python workers' module path, a session conf
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
#: the directory holding this package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _with_package_root(path: str | None) -> str:
    """``path`` (a PYTHONPATH value, or None) with the package's root
    first, once: workers import the engine from wherever the driver runs."""
    rest = [p for p in (path or "").split(os.pathsep)
            if p and os.path.abspath(p) != _PACKAGE_ROOT]
    return os.pathsep.join([_PACKAGE_ROOT] + rest)


def get_spark(app_name: str = "dlsh", parallelism: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None,
              master: str | None = None) -> SparkSession:
    """Local-mode session tuned per the scale guidance: AQE on (runtime
    re-plan + skew-join backstop), Arrow on (vectorized UDF transfer),
    shuffle partitions sized to cores, not the 200 default.

    ``master`` overrides the default ``local[parallelism]`` — used by the
    bench's executor-level scaling evidence, which runs the stage on a
    ``local-cluster[N, cores, mem]`` master: a real in-process standalone
    cluster whose N executors are SEPARATE JVM processes, each with its
    own memory, python workers and shuffle endpoints — the closest this
    sandbox gets to the north rule's literal "N and 4N executors".

    Process environment: the malloc thresholds above (``_MALLOC_ENV``)
    go to the driver and, through ``executorEnv``, to every Python
    worker. Outside spark-submit the workers also start from
    ``sources.worker_daemon``, which stops each task from re-reading the
    directories of ``pyspark.zip`` and the spark-core jar (160-370 ms of
    fixed cost per Python task on CPython < 3.13; see that module). It is
    not a setting: it keeps the stdlib's import semantics, and there is
    no workload for which re-reading unchanged archives is the better
    choice. The daemon and the engine's UDFs import this package, so the
    package's root directory goes first on the workers' PYTHONPATH
    (merged with any ``spark.executorEnv.PYTHONPATH`` in ``extra_conf``):
    a driver run from any working directory gets working workers. Under
    spark-submit the deployment owns worker set-up (its ``--py-files``
    reach workers per task, not at daemon start), so the session conf is
    left as submitted."""
    cores = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder
    # under spark-submit (PythonRunner exports the gateway port) the
    # master/deploy config belongs to the submit command line — forcing
    # local[n] here would silently turn a cluster submission into a
    # local run; everywhere else default to local[cores]. Worker set-up
    # belongs to the same owner: only outside spark-submit do the
    # Python workers start from the engine's daemon (see the docstring).
    extra_conf = dict(extra_conf or {})
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = (builder.master(master or f"local[{cores}]")
                   .config("spark.python.daemon.module", worker_daemon.__name__))
        extra_conf[_WORKER_PATH] = _with_package_root(extra_conf.get(_WORKER_PATH))
    builder = (
        builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 1024: keeps each Arrow batch's worker live set under the ~10 MB
        # allocator knee (same law as blob_scan.SLICE_ROWS — fresh multi-MB
        # allocations serialize on kernel mmap faults across procs).
        # Re-measured post-slicing-insight, interleaved min-fold at
        # local[32]: blob-carrying signature stage 96k imgs 16384→6.3s,
        # 2048→4.0s, 1024→3.8s, 512→3.5s; text-only and embedding stages
        # flat-to-better at 1024 (entropy 2.05→1.72, ivfpq 4.53→4.03, knn
        # flat). The round-2 choice of 16384 predated the slicing insight
        # and was measured in a noisier protocol.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # one BLAS thread per python worker — N workers x N BLAS threads
        # oversubscribes the box quadratically
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class TableIO:
    """Read/write named stage tables (parquet dir or Iceberg table)."""

    def __init__(self, spark: SparkSession, warehouse: str, fmt: str = "parquet"):
        self.spark = spark
        self.warehouse = warehouse
        self.fmt = fmt
        if fmt == "parquet":
            os.makedirs(warehouse, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        if self.fmt == "iceberg":
            w = df.writeTo(f"{self.warehouse}.{name}")
            if partition_by:
                from pyspark.sql import functions as F
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
            return
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))

    def append(self, df: DataFrame, name: str) -> None:
        if self.fmt == "iceberg":
            df.writeTo(f"{self.warehouse}.{name}").append()
        else:
            df.write.mode("append").parquet(self._path(name))

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        """``schema``: the one the table was written with, when known — a
        parquet read then infers nothing (no footer job). Iceberg tables
        carry their own."""
        if self.fmt == "iceberg":
            return self.spark.read.format("iceberg").load(f"{self.warehouse}.{name}")
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(name))

    def exists(self, name: str) -> bool:
        if self.fmt == "iceberg":
            return self.spark.catalog.tableExists(f"{self.warehouse}.{name}")
        p = self._path(name)
        return os.path.exists(os.path.join(p, "_SUCCESS")) or bool(data_files(p))


def data_files(path: str) -> dict[str, int] | None:
    """Real path -> size of every data file under the directory ``path``,
    skipping names that start with ``_`` or ``.`` (Spark's hidden paths:
    ``_SUCCESS``, ``_spark_metadata``, stamps, ``.crc`` files). None when
    ``path`` is a URI or no local directory."""
    if "://" in path or not os.path.isdir(path):
        return None
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                full = os.path.join(root, f)
                try:
                    out[os.path.realpath(full)] = os.path.getsize(full)
                except OSError:  # removed since the walk listed it
                    pass
    return out


def parquet_footer(file, columns: Callable[[str], bool] | None = None,
                   uncompressed: bool = False) -> tuple[int, list[int]]:
    """(rows, column-chunk bytes of each row group) of one parquet file,
    from its footer alone. ``file`` is a local path or a
    ``pyarrow.dataset`` parquet fragment (which reads URIs too). The
    bytes are the compressed (on-disk) or uncompressed sizes of the
    columns ``columns`` keeps (all by default). Raises OSError or
    ValueError when the footer cannot be read."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(file) if isinstance(file, str) else file.metadata
    size = "total_uncompressed_size" if uncompressed else "total_compressed_size"
    groups = []
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        chunks = (rg.column(j) for j in range(rg.num_columns))
        groups.append(sum(getattr(c, size) for c in chunks
                          if columns is None or columns(c.path_in_schema)))
    return meta.num_rows, groups


def parquet_rows(path: str) -> int:
    """Rows of every data file under the directory ``path``, from the
    footers: no Spark job. It counts every file on disk, committed or
    not, so it suits batch-written tables, not a streaming sink."""
    return sum(parquet_footer(f)[0] for f in data_files(path) or {})


def check_stamp(path: str, stamp_file: str, want: str,
                populated: Callable[[str], object], uri_error: str,
                mismatch_error: str) -> None:
    """Stamp a fresh directory ``path`` with ``want`` (in ``stamp_file``);
    refuse a populated one (``populated(path)`` truthy) stamped otherwise
    or not at all: ``RuntimeError(mismatch_error)``, formatted with
    ``path``, ``have`` (or ``pre-versioning``) and ``want``. A URI is
    refused, ``ValueError(uri_error)`` formatted with ``path``: a local
    check would treat it as fresh and never fire."""
    if "://" in path:
        raise ValueError(uri_error.format(path=path))
    stamp = os.path.join(path, stamp_file)
    if os.path.isdir(path) and populated(path):
        have = None
        if os.path.exists(stamp):
            with open(stamp) as f:
                have = f.read().strip()
        if have != want:
            raise RuntimeError(mismatch_error.format(
                path=path, have=have or "pre-versioning", want=want))
        return
    os.makedirs(path, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(want)


def read_json(path: str, default):
    """The JSON document at ``path``; ``default`` when there is none."""
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def write_json(path: str, doc) -> None:
    """Publish ``doc`` at ``path`` atomically: a reader sees the old
    document or the new one, never a partial write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1)
    os.replace(tmp, path)
