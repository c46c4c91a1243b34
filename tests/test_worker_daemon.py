"""The Python worker daemon's zip-directory guard (sources/worker_daemon)."""

import os
import sys
import zipfile
import zipimport

import pytest

from distributed_gpu_lsh_using_sycl_spark.sources import worker_daemon

STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(f"{n}.py", f"NAME = {n!r}\n")


@pytest.fixture
def reads(monkeypatch):
    """Counts central-directory reads, per archive path."""
    counts = {}
    real = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


def test_import_installs_nothing():
    assert zipimport.zipimporter.invalidate_caches is STDLIB_INVALIDATE


def test_install_is_a_no_op_from_python_3_13(monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is STDLIB_INVALIDATE


def test_guard_rereads_only_a_changed_archive(tmp_path, reads):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["m1"])
    imp = zipimport.zipimporter(path)
    reads.clear()  # the constructor's read
    guard = worker_daemon.guarded_invalidate(STDLIB_INVALIDATE)
    guard(imp)  # first sight: the stdlib read
    assert reads.pop(path) == 1

    # unchanged archive: no read
    guard(imp)
    guard(imp)
    assert reads.get(path, 0) == 0
    assert imp.find_spec("m1") is not None

    # rewritten in place with one more module: read once, m2 resolves
    _write_zip(path, ["m1", "m2"])
    assert imp.find_spec("m2") is None  # stale until invalidated
    guard(imp)
    assert reads.pop(path) == 1
    assert imp.find_spec("m2") is not None
    guard(imp)
    assert reads.get(path, 0) == 0


def test_guard_on_deleted_archive_matches_stdlib(tmp_path):
    path = str(tmp_path / "gone.zip")
    _write_zip(path, ["m1"])
    guarded = zipimport.zipimporter(path)
    stdlib = zipimport.zipimporter(path)
    guard = worker_daemon.guarded_invalidate(STDLIB_INVALIDATE)
    guard(guarded)
    os.remove(path)

    STDLIB_INVALIDATE(stdlib)
    guard(guarded)  # no raise
    assert stdlib._files == guarded._files == {}
    assert path not in zipimport._zip_directory_cache
    assert guarded.find_spec("m1") is None


def test_session_workers_run_the_guard(spark):
    """Python workers of a ``get_spark`` session start from the engine's
    daemon, so the guard is what their per-task invalidation calls."""
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"module": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = {r["module"] for r in spark.range(8, numPartitions=4)
           .mapInPandas(probe, "module string").collect()}
    want = worker_daemon.__name__ if sys.version_info < (3, 13) else "zipimport"
    assert got == {want}


def test_workers_import_the_engine_from_any_directory(tmp_path):
    """A driver started outside the repository, with no PYTHONPATH, runs a
    Python stage through ``get_spark``: the session puts the package's
    root on the workers' path, so the daemon and the task import it."""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = "\n".join([
        "import sys",
        f"sys.path.insert(0, {root!r})",
        "from distributed_gpu_lsh_using_sycl_spark.sources.tables import get_spark",
        "spark = get_spark('elsewhere', parallelism=1)",
        "n = (spark.range(4, numPartitions=1)",
        "     .mapInPandas(lambda it: it, 'id long').count())",
        "spark.stop()",
        "print('ROWS', n)",
    ])
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT",
                        "PYSPARK_GATEWAY_SECRET")}
    env["SPARK_DRIVER_MEMORY"] = "512m"
    run = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=300)
    assert "ROWS 4" in run.stdout, run.stderr[-3000:]


def test_blob_scan_and_arrow_udfs_share_one_worker_pool(tmp_path):
    """A blob scan plans its splits with no Python RDD, so it runs on the
    same pool of Python workers as every Arrow UDF of the session: after
    both, one worker daemon runs under the driver's JVM. (Splits built by
    ``parallelize`` started a second daemon and its own workers.)"""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    data = str(tmp_path / "captions.parquet")
    script = "\n".join([
        "import os, sys",
        f"sys.path.insert(0, {root!r})",
        "import pyarrow as pa, pyarrow.parquet as pq",
        "from pyspark import SparkContext",
        "from distributed_gpu_lsh_using_sycl_spark.config import LshConfig",
        "from distributed_gpu_lsh_using_sycl_spark.sources import blob_scan",
        "from distributed_gpu_lsh_using_sycl_spark.sources.tables import get_spark",
        "pq.write_table(pa.table({'image_id': ['a', 'b', 'c', 'd'],",
        "                         'caption': ['w x y z'] * 4}),",
        f"               {data!r}, row_group_size=1)",
        "spark = get_spark('pools', parallelism=2)",
        f"n = blob_scan.scan_signatures(spark, {data!r}, LshConfig(),",
        "                               with_image=False).count()",
        "n += (spark.range(4, numPartitions=2)",
        "      .mapInPandas(lambda it: it, 'id long').count())",
        "jvm = SparkContext._gateway.proc.pid",
        "daemons = 0",
        "for pid in filter(str.isdigit, os.listdir('/proc')):",
        "    try:",
        "        with open(f'/proc/{pid}/stat') as f:",
        "            ppid = int(f.read().rsplit(')', 1)[1].split()[1])",
        "        with open(f'/proc/{pid}/cmdline', 'rb') as f:",
        "            cmd = f.read()",
        "    except OSError:",
        "        continue",
        "    daemons += ppid == jvm and b'worker_daemon' in cmd",
        "spark.stop()",
        "print('ROWS', n, 'DAEMONS', daemons)",
    ])
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT",
                        "PYSPARK_GATEWAY_SECRET")}
    env["SPARK_DRIVER_MEMORY"] = "512m"
    run = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=300)
    assert "ROWS 8 DAEMONS 1" in run.stdout, run.stdout + run.stderr[-3000:]
