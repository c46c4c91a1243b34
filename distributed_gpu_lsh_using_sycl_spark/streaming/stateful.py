"""Incremental candidate generation: the wave's bands probe the table's.

The reference builds its hash tables once and probes them with the
query points only (``fit``/``kneighbors``, main.cpp:46-55; bucket probe
hash_tables.hpp:566-578). The streaming cycle does the same per wave:
the signature table is the hash table, the wave's new signatures are the
queries. ``candidate_pair_stream`` bands each signed wave the log has
not banded yet and broadcasts its bands; every band row of the table up
to that wave probes the broadcast on one long bucket key
(``banding.bucket_key``), and each hit pairs a new member ``x`` with a
member ``y`` of the same bucket. A pair is written when ``x != y`` and
``y`` is from an earlier wave or ``y < x``, so each unordered pair comes
out once per bucket across all waves — the batch bucket join's pair set
(asserted in tests/test_resume_and_streaming.py) — with no shuffle and
no distinct. The incremental join and the batch join share one result
definition; only the probe set differs.

Bucket cap, never silent: a bucket admits its first ``max_bucket_size``
arrivals. Waves arrive in order and a wave's members arrive in
``image_id`` order, and admission never reopens once a bucket is full,
so a new member is admitted iff ``old_cnt + rank <= max_bucket_size``:
``old_cnt`` counts the bucket's members from earlier waves (an id is
signed once), ``rank`` is the member's place among the wave's members
of the bucket. The later
member of a pair carries the admission check (hence ``y < x`` above): an
admitted member's earlier bucket-mates are all admitted. The refused
members are counted and returned. The batch cap
(``banding._downsample_keep``) keeps a hash-chosen subset instead, so
drain == batch holds only while every bucket stays under the cap. When
the table holds at most ``max_bucket_size`` signatures no bucket can
reach the cap, and the cap costs nothing.

No state store: the cycle's state is the signature table, the candidate
table and one wave log, which this module owns (``read_waves``). Entry
``n`` of the log describes ``wave=<n>`` of both tables. The signing
step appends it after its write; the banding fills in its candidate
count after its write. The layout guard (``_check_state_version``) runs
on every read of the log, so a cycle under another bucket config fails
before it signs anything. Bucket membership never expires (a dup is a
dup however late it arrives); it is the signature table itself.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
    bucket_key, explode_bands)
from distributed_gpu_lsh_using_sycl_spark.operators.pairs import (
    broadcast_if_fits)
from distributed_gpu_lsh_using_sycl_spark.sources.tables import (
    check_stamp, read_json, write_json)

#: Checkpoint layout version. BUMP THIS whenever what the checkpoint
#: holds changes (v1: per-(band,bucket) state keys; v2: coarse
#: (band, bucket % state_group_buckets) state keys; v3: no state, a log
#: of banded signature files; v4: one wave log for signing and banding,
#: stamped before anything is signed). A checkpoint written under
#: another version cannot be resumed.
STATE_FORMAT_VERSION = 4
_VERSION_FILE = "_DLSH_STATE_VERSION"
#: the wave log: a list of entries, entry n for ``wave=<n>`` (read_waves)
_WAVE_LOG = "waves.json"
_SIGS_SCHEMA = "image_id string, buckets array<long>"


def _state_layout_stamp(cfg: LshConfig | None = None) -> str:
    """What the checkpoint's validity depends on: the layout version PLUS
    every config field that determines which (band_id, bucket) a
    signature lands in (shingle size, pool, rows/bands, modulus, seed).
    Resuming a checkpoint written under different values would pair new
    arrivals against remapped buckets (silently MISSED pairs, no error at
    all), so all of them must refuse a mismatched resume. Perf-only knobs
    (salting, shuffle width) deliberately stay out: they cannot move a
    row's key."""
    if cfg is None:
        return str(STATE_FORMAT_VERSION)
    keydef = (f"sh{cfg.shingle_size}"
              f":p{cfg.signature_pool_size}:r{cfg.rows_per_band}"
              f":b{cfg.num_bands}:m{cfg.bucket_modulus}:s{cfg.seed}")
    return f"{STATE_FORMAT_VERSION}:{keydef}"


def _check_state_version(checkpoint_dir: str,
                         cfg: LshConfig | None = None) -> None:
    """Stamp a fresh checkpoint dir with the layout stamp; refuse a
    non-empty one stamped otherwise (or pre-stamp) with a clear error
    telling the operator to rebuild, instead of resuming a checkpoint
    whose buckets no longer match (silently missed pairs). A URI is
    refused (``tables.check_stamp``)."""
    check_stamp(
        checkpoint_dir, _VERSION_FILE, _state_layout_stamp(cfg),
        populated=os.listdir,
        uri_error=(
            "streaming checkpoint {path!r} is a URI; the state layout-version "
            "guard only supports local paths (os.path/open) — a URI would "
            "silently bypass it. Use a local checkpoint dir or extend "
            "_check_state_version to the Hadoop FileSystem API."),
        mismatch_error=(
            "streaming checkpoint {path!r} was written under state layout "
            "{have}, but this build uses layout {want} (checkpoint layout or "
            "bucket config changed). Delete the checkpoint dir, the "
            "signature table and the candidate table (their buckets are "
            "the old layout's), then re-run the cycle over the input — "
            "resuming would pair new arrivals against remapped buckets "
            "and silently MISS pairs."))


def read_waves(checkpoint_dir: str,
               cfg: LshConfig | None = None) -> list[dict]:
    """The wave log in ``checkpoint_dir``, read after the layout guard
    (``_check_state_version``). Entry ``n`` is ``wave=<n>``: ``files``,
    the input files it signed; ``rows`` and ``id_bytes``, its signature
    rows and their ids' UTF-8 bytes, observed on the signing write; and
    ``candidates``, the candidate rows its banding wrote, None until it
    is banded."""
    _check_state_version(checkpoint_dir, cfg)
    return read_json(os.path.join(checkpoint_dir, _WAVE_LOG), [])


def write_waves(checkpoint_dir: str, waves: list[dict]) -> None:
    """Publish ``waves`` as the log (``tables.write_json``, atomic)."""
    write_json(os.path.join(checkpoint_dir, _WAVE_LOG), waves)


def signed_wave(files: list[str], rows: int, id_bytes: int) -> dict:
    """The log entry of a wave just signed and not banded yet."""
    return {"files": files, "rows": rows, "id_bytes": id_bytes,
            "candidates": None}


def drop_waves(table: str, first: int) -> None:
    """Delete every ``wave=<n>`` directory of ``table`` with ``n >=
    first``, the waves the log does not count there: a write that
    crashed before the log advanced, which no reader may see and the
    next write of that wave replaces."""
    if os.path.isdir(table):
        for name in os.listdir(table):
            if name.startswith("wave=") and int(name[5:]) >= first:
                shutil.rmtree(os.path.join(table, name))


def _delta_bytes(rows: int, id_bytes: int) -> int:
    """Upper bound on the data size of the broadcast relation built from
    ``rows`` (k, x) rows whose ids hold ``id_bytes``. On one long key
    Spark builds a LongToUnsafeRowMap: a page of 1 MiB that doubles when
    full, holding each row as an UnsafeRow (8 bytes of null bits, an
    8-byte slot per field, the id padded to a word) plus an 8-byte link,
    and a hash array of at most 4 x nextpow2(rows) longs
    (``banding.bucket_key`` says why the key is one long)."""
    return (1 << 20) + 2 * (39 * rows + id_bytes) + 64 * rows


def _admitted(wave: DataFrame, probe: DataFrame, cap: int,
              size: int) -> tuple[DataFrame, int]:
    """The wave's (k, x) rows the bucket cap admits, checkpointed, and
    how many it refuses, observed on that job. The earlier waves'
    members of the wave's buckets (a semi-join on the broadcast keys,
    ``size`` bounding them) are numbered before the wave's own, these
    in id order, so a new member's number is ``old_cnt + rank``: it is
    admitted iff that is at most ``cap`` (module docstring)."""
    keys = broadcast_if_fits(wave.select("k"), size)
    members = (probe.filter("old").join(keys, "k", "left_semi")
               .select("k", F.col("image_id").alias("x"), "old")
               .unionByName(wave.withColumn("old", F.lit(False))))
    arrival = F.row_number().over(
        Window.partitionBy("k").orderBy(F.desc("old"), "x"))
    ranked = members.withColumn("n", arrival).filter(~F.col("old"))
    obs = Observation()
    kept = (ranked.observe(obs, F.count(F.when(F.col("n") > cap, 1))
                           .alias("n"))
            .filter(F.col("n") <= cap).select("k", "x")
            .localCheckpoint(eager=True))
    return kept, int(obs.get["n"])


def candidate_pair_stream(spark, input_dir: str, out_dir: str,
                          checkpoint_dir: str,
                          cfg: LshConfig | None = None) -> tuple[int, int]:
    """Signature table ``input_dir`` (``wave=<n>`` directories of
    image_id, buckets array<long>) -> the candidate rows (a, b, band_id,
    bucket) of each wave the log in ``checkpoint_dir`` has signed, from
    the first it has not banded on, written to ``<out_dir>/wave=<n>``.
    Returns (rows written, observed on the write jobs; wave members the
    bucket cap refused).

    A wave's bands are the broadcast side, sized by ``_delta_bytes`` from
    the rows and id bytes its log entry records; the bands of waves up to
    it are the probe side, and those of earlier waves are old members.
    Two jobs per wave, normally one wave: the broadcast collect and the
    write. A wave that signed no rows is banded with no job.

    The log counts the wave's candidates after the write
    (``tables.write_json``, atomic). A ``wave=<n>`` directory of
    ``out_dir`` the log does not count is deleted first and the wave
    written in overwrite mode, so a crash between the write and the log
    makes the next call rewrite the wave, not append its rows twice."""
    cfg = cfg or LshConfig()
    waves = read_waves(checkpoint_dir, cfg)
    first = next((n for n, w in enumerate(waves)
                  if w["candidates"] is None), len(waves))
    drop_waves(out_dir, first)
    written = dropped = 0
    for n in range(first, len(waves)):
        waves[n]["candidates"], refused = _band_wave(
            spark, input_dir, os.path.join(out_dir, f"wave={n}"), waves, n,
            cfg)
        write_waves(checkpoint_dir, waves)
        written += waves[n]["candidates"]
        dropped += refused
    return written, dropped


def _band_wave(spark, input_dir: str, out: str, waves: list[dict], n: int,
               cfg: LshConfig) -> tuple[int, int]:
    """Wave ``n`` of the signature table ``input_dir`` -> its candidate
    rows, written to ``out``: (rows written, members the cap refused)."""
    entry = waves[n]
    if not entry["rows"]:
        return 0, 0
    table = spark.read.schema(_SIGS_SCHEMA).parquet(input_dir) \
        .filter(F.col("wave") <= n)

    def keyed(sigs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
        return explode_bands(sigs, keep=keep).withColumn("k", bucket_key())

    wave = keyed(table.filter(F.col("wave") == n)) \
        .select("k", F.col("image_id").alias("x"))
    probe = keyed(table.withColumn("old", F.col("wave") < n), keep=("old",))
    size = _delta_bytes(entry["rows"] * cfg.num_bands,
                        entry["id_bytes"] * cfg.num_bands)
    dropped = 0
    if 0 < cfg.max_bucket_size < sum(w["rows"] for w in waves[:n + 1]):
        wave, dropped = _admitted(wave, probe, cfg.max_bucket_size, size)
    wave = broadcast_if_fits(wave, size)
    x, y = F.col("x"), F.col("image_id")
    pairs = (probe.join(wave, "k")
             .filter((y != x) & (F.col("old") | (y < x)))
             .select(F.least(x, y).alias("a"), F.greatest(x, y).alias("b"),
                     "band_id", "bucket"))
    obs = Observation()
    (pairs.observe(obs, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(out))
    return int(obs.get["n"]), dropped
