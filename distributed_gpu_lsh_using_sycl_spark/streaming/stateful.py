"""Incremental candidate generation: the wave's bands probe the table's.

The reference builds its hash tables once and probes them with the
query points only (``fit``/``kneighbors``, main.cpp:46-55; bucket probe
hash_tables.hpp:566-578). The streaming cycle does the same per wave:
the signature table is the hash table, the wave's new signatures are the
queries. ``candidate_pair_stream`` bands the signature files it has not
banded yet and broadcasts them; every band row of the whole table probes
that broadcast on (band_id, bucket), and each hit pairs a new member
``x`` with a member ``y`` of the same bucket. A pair is written when
``x != y`` and ``y`` is from an earlier wave or ``y < x``, so each
unordered pair comes out once per bucket across all waves — the batch
bucket join's pair set (asserted in tests/test_resume_and_streaming.py)
— with no shuffle and no distinct. The incremental join and the batch
join share one result definition; only the probe set differs.

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

No state store: which files are banded is a log in the checkpoint dir,
advanced after the append. Bucket membership never expires (a dup is a
dup however late it arrives); it is the signature table itself.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
    explode_bands)
from distributed_gpu_lsh_using_sycl_spark.operators.pairs import (
    broadcast_if_fits)
from distributed_gpu_lsh_using_sycl_spark.sources.tables import (
    check_stamp, parquet_footer, read_json, write_json)

#: Checkpoint layout version. BUMP THIS whenever what the checkpoint
#: holds changes (v1: per-(band,bucket) state keys; v2: coarse
#: (band, bucket % state_group_buckets) state keys; v3: no state, a log
#: of banded signature files). A checkpoint written under another
#: version cannot be resumed.
STATE_FORMAT_VERSION = 3
_VERSION_FILE = "_DLSH_STATE_VERSION"
#: the log of banded signature files: {file URI: signature rows}
_BANDED_LOG = "banded.json"
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
            "bucket config changed). Delete the checkpoint dir AND the "
            "candidate output dir, then re-drain from the signatures table "
            "— resuming would pair new arrivals against remapped buckets "
            "and silently MISS pairs."))


def banded_rows(checkpoint_dir: str) -> int:
    """Signature rows in the files the log in ``checkpoint_dir`` lists
    as banded: after ``candidate_pair_stream``, the rows of every
    committed file of its signature table, counted with no footer read."""
    return sum(read_json(os.path.join(checkpoint_dir, _BANDED_LOG),
                         {}).values())


def _delta_bytes(rows: int, id_bytes: int) -> int:
    """Upper bound on the data size of the broadcast relation built from
    ``rows`` (k, x) rows whose ids hold ``id_bytes``. On one long key
    Spark builds a LongToUnsafeRowMap: a page of 1 MiB that doubles when
    full, holding each row as an UnsafeRow (8 bytes of null bits, an
    8-byte slot per field, the id padded to a word) plus an 8-byte link,
    and a hash array of at most 4 x nextpow2(rows) longs. (A two-column
    key builds a BytesToBytesMap instead, whose first page alone is
    ``spark.buffer.pageSize``, 64 MiB under a large driver heap.)"""
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
    """Signature table ``input_dir`` (image_id, buckets array<long>) ->
    the candidate rows (a, b, band_id, bucket) of its signature files not
    banded yet, appended to ``out_dir``. Returns (rows appended, observed
    on the write job; wave members the bucket cap refused).

    The new files are the table's committed files (``inputFiles``, no
    job) that the log in ``checkpoint_dir`` does not list. Their bands
    are the broadcast side, sized by ``_delta_bytes`` from their footers;
    the table's bands are the probe side. Both join on one long key,
    ``band_id * bucket_modulus + bucket``, one-to-one because a bucket is
    below ``bucket_modulus`` (``hashing.band_buckets``). Two jobs: the
    broadcast collect and the write.

    The log advances after the append (``tables.write_json``, atomic). A
    crash between the two re-emits that wave's rows on the next call.
    The reconcile absorbs them, as it absorbs re-appended verdicts: its
    ``distinct`` removes the repeated (a, b), and its anti-join against
    the adjudicated table skips every pair already judged."""
    cfg = cfg or LshConfig()
    _check_state_version(checkpoint_dir, cfg)
    log = os.path.join(checkpoint_dir, _BANDED_LOG)
    banded: dict[str, int] = read_json(log, {})
    table = spark.read.schema(_SIGS_SCHEMA).parquet(input_dir)
    new = sorted(set(table.inputFiles()) - banded.keys())
    if not new:
        return 0, 0
    # each new file's rows and the uncompressed bytes of its image_id
    # chunks: at least the ids' UTF-8 bytes, plain or dictionary-encoded,
    # since each id is signed once
    sizes = {uri: parquet_footer(unquote(urlparse(uri).path),
                                 columns="image_id".__eq__, uncompressed=True)
             for uri in new}
    rows = sum(n for n, _ in sizes.values())

    def keyed(bands: DataFrame) -> DataFrame:
        return bands.withColumn("k", F.col("band_id").cast("long")
                                * cfg.bucket_modulus + F.col("bucket"))

    wave = keyed(explode_bands(spark.read.schema(_SIGS_SCHEMA)
                               .parquet(*new))) \
        .select("k", F.col("image_id").alias("x"))
    probe = keyed(explode_bands(
        table.withColumn("old", ~F.input_file_name().isin(new)),
        keep=("old",)))
    size = _delta_bytes(rows * cfg.num_bands, cfg.num_bands
                        * sum(sum(ids) for _, ids in sizes.values()))
    dropped = 0
    if 0 < cfg.max_bucket_size < rows + sum(banded.values()):
        wave, dropped = _admitted(wave, probe, cfg.max_bucket_size, size)
    wave = broadcast_if_fits(wave, size)
    x, y = F.col("x"), F.col("image_id")
    pairs = (probe.join(wave, "k")
             .filter((y != x) & (F.col("old") | (y < x)))
             .select(F.least(x, y).alias("a"), F.greatest(x, y).alias("b"),
                     "band_id", "bucket"))
    obs = Observation()
    (pairs.observe(obs, F.count(F.lit(1)).alias("n"))
     .write.mode("append").parquet(out_dir))
    banded.update({uri: n for uri, (n, _) in sizes.items()})
    write_json(log, banded)
    return int(obs.get["n"]), dropped
