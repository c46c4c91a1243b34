"""Banded LSH bucketing with explicit skew splitting (salt-pair expansion).

The reference materializes CSR hash tables per band (count → prefix-sum →
atomic scatter, ``hash_tables.hpp:212-383``) and probes them rank-by-rank.
In Spark the band bucket IS the shuffle key; what remains our job is the
thing the reference only *plots* (bucket-occupancy histogram,
``hash_tables.hpp:245-269``): LSH buckets are Zipfian, and a naive
self-join puts a hot bucket's O(n²) pair generation in ONE task.

Skew policy (explicit, AQE skew-join as backstop):

1. ``band_plan`` — the one place the plan is materialized: the
   (band_id, bucket) occupancy (``bucket_stats``, A1 analog) filtered to
   the buckets any decision touches (``over_threshold_stats``) is
   ``localCheckpoint``-ed ONCE, and the same job observes four numbers
   (``DataFrame.observe``, no extra job): how many buckets crossed
   ``plan_threshold``, the largest ``cnt``, the frame's row count and
   its pair mass Σ C(cnt, 2) (the near-dup guardrail's input).
   Zero crossings -> the candidate join takes the plain self-join fast
   path; a largest bucket at or under ``max_bucket_size`` -> nothing was
   dropped, so the drop accounting needs no job; a row count whose
   default-size estimate fits the session's broadcast threshold -> the
   join broadcasts its build side (``pairs.broadcast_if_fits``).
   ``stack_bands`` puts several families in one frame, so one plan and
   one join serve them all.
2. buckets over ``max_bucket_size`` are deterministically down-sampled
   (hash filter) — a degenerate bucket (e.g. empty-ish captions all
   hashing together) would emit O(n²) pairs at 10^12 scale; the dropped
   count is reported, never silent: ``downsample_dropped`` computes the
   exact per-bucket drop counts and the pipeline records the total into
   its ``metrics`` table (``cand_<family>:dropped``, one per family).
3. buckets over ``hot_bucket_threshold`` get ``m = clamp(ceil(cnt/thr),
   1, n_salts)`` salts; each member takes salt s = xxhash64(id) % m and
   is replicated into the (s, t) salt-pair grid:
   left role: (s, t) for t in s..m-1; right role: (r, salt) for r in 0..s.
   Joining left.(s,t) == right.(s,t) yields every unordered member pair
   exactly once across C(m+1, 2) independent tasks of ~(cnt/m)² work —
   same total work, bounded per-task memory.

Cold buckets take m = 1 and degrade to the plain self-join — one code
path, no special-casing.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.operators.pairs import (
    broadcast_if_fits, hamming_col, pair_features)


def explode_bands(signatures: DataFrame, buckets_col: str = "buckets",
                  keep: tuple[str, ...] = ()) -> DataFrame:
    """signatures -> (image_id, *keep, band_id, bucket); NULL bucket rows
    (empty docs) never enter a band. ``keep`` names columns carried onto
    every band row of their signature."""
    return (
        signatures
        .select("image_id", *keep,
                F.posexplode(buckets_col).alias("band_id", "bucket"))
    )


def bucket_key() -> Column:
    """One long per (band_id, bucket), ``band_id * 2^32 + bucket``: the
    one join key of both candidate joins (the fast path below and the
    streaming delta join). A broadcast on one long key builds a
    LongToUnsafeRowMap; on (band_id, bucket) Spark builds a
    BytesToBytesMap, whose first page alone is ``spark.buffer.pageSize``
    (64 MiB under a large driver heap). One-to-one while every bucket
    lies in [0, 2^32): MinHash and parity buckets are below
    ``bucket_modulus``, window fingerprints are masked to 32 bits, and
    sign-bit and bit-band keys are narrower (``bit_bands`` at
    ``hamming_threshold >= 2``). A negative (stacked) ``band_id`` keeps
    it one-to-one."""
    return F.col("band_id").cast("long") * (1 << 32) + F.col("bucket")


def bucket_stats(bands: DataFrame) -> DataFrame:
    """Occupancy histogram — the skew detector (A1 analog)."""
    return bands.groupBy("band_id", "bucket").agg(F.count("*").alias("cnt"))


def _downsample_keep(cfg: LshConfig):
    """The deterministic survive-predicate for degenerate-bucket members
    (expects ``cnt`` attached). Shared by pair generation and the drop
    accounting so the two can never disagree."""
    return (F.col("cnt") <= F.lit(cfg.max_bucket_size)) | (
        F.pmod(F.xxhash64("image_id", F.lit(cfg.seed)), F.col("cnt"))
        < F.lit(cfg.max_bucket_size)
    )


def plan_threshold(cfg: LshConfig) -> int:
    """The single cnt threshold above which a bucket influences the pair
    plan: min(hot_bucket_threshold, max_bucket_size-if-on). A bucket
    missing from the broadcast plan coalesces cnt to 0 downstream, which
    reads as "under the cap" and silently skips its down-sample, so every
    salt and cap decision reads this one value."""
    thr = cfg.hot_bucket_threshold
    if cfg.max_bucket_size > 0:
        thr = min(thr, cfg.max_bucket_size)
    return thr


def over_threshold_stats(stats: DataFrame, cfg: LshConfig) -> DataFrame:
    """A ``bucket_stats`` frame filtered to every bucket any salt/cap
    decision needs: cnt > ``plan_threshold(cfg)``. Small by the skew
    assumption (hot + degenerate buckets are by definition few);
    ``band_plan`` materializes it once per banding frame for both the
    candidate join and the drop accounting."""
    return stats.filter(F.col("cnt") > plan_threshold(cfg))


@dataclass(frozen=True)
class BandPlan:
    """A banding frame's materialized over-threshold stats (``over``)
    plus the four numbers observed while materializing them: ``n_over``
    buckets crossed ``plan_threshold``, the largest of them holds
    ``max_cnt`` members (0 when none crossed), the frame holds ``rows``
    rows (the candidate join's broadcast decision), and its buckets hold
    ``mass`` = Σ C(cnt, 2) member pairs before any salt or cap, the
    candidate mass a caller can weigh against a brute-force plan."""
    over: DataFrame
    n_over: int
    max_cnt: int
    rows: int
    mass: int


def band_plan(bands: DataFrame, cfg: LshConfig) -> BandPlan:
    """Materialize ``over_threshold_stats`` of ``bands`` once. The same
    job observes, over all buckets, the row count and pair mass, and how
    many buckets cross ``plan_threshold`` and the largest of them."""
    cnt = F.col("cnt")
    crossed = cnt > plan_threshold(cfg)
    obs = Observation()
    stats = bucket_stats(bands).observe(
        obs, F.sum(cnt).alias("rows"),
        (F.sum(cnt * (cnt - 1)) / 2).alias("mass"),
        F.count(F.when(crossed, 1)).alias("n"),
        F.max(F.when(crossed, cnt)).alias("max_cnt"))
    over = over_threshold_stats(stats, cfg).localCheckpoint(eager=True)
    m = obs.get
    return BandPlan(over, int(m["n"]), int(m["max_cnt"] or 0),
                    int(m["rows"] or 0), int(m["mass"] or 0))


def _fixed_width_bytes(side: DataFrame, rows: int) -> int:
    """``rows`` rows of ``side``'s schema, sized the way Spark sizes a row
    it has no statistics for (8 bytes + each field's default size) —
    close enough for the candidate join's sides, whose only
    variable-width field is a short id."""
    return rows * (8 + side._jdf.schema().defaultSize())


def _distinct_pairs(joined: DataFrame, source: str | Column) -> DataFrame:
    """Joined (a, b) member pairs -> distinct canonical (a, b, source).
    A ``source`` column (evaluated on the joined rows) names each row's
    banding family; the distinct then also collects every family that
    found the pair, "+"-joined in sorted order (the
    ``pairs.merge_candidates`` format), in the same aggregation."""
    canon = [F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")]
    joined = joined.filter(F.col("a") != F.col("b"))
    if isinstance(source, str):
        return (joined.select(*canon).distinct()
                .withColumn("source", F.lit(source)))
    return (joined.select(*canon, source.alias("source"))
            .groupBy("a", "b")
            .agg(F.array_join(F.array_sort(F.collect_set("source")), "+")
                 .alias("source")))


def stack_bands(families: dict[str, DataFrame]) -> tuple[DataFrame, Column]:
    """Several families' (image_id, band_id, bucket) frames -> one frame
    and the column naming each row's family, for ONE ``band_plan`` and
    ONE ``candidate_pairs_from_bands`` over all of them. Family ``i`` of
    ``n`` maps band ``j`` to ``j * n + i``, so a (band_id, bucket) key —
    and with it every bucket, salt and cap decision — never spans
    families, and ``pmod(band_id, n)`` recovers the family."""
    names = list(families)
    n = len(names)
    stacked = reduce(DataFrame.unionByName, [
        df.select("image_id", (F.col("band_id") * n + i).alias("band_id"),
                  "bucket")
        for i, df in enumerate(families.values())])
    family = F.element_at(F.array(*map(F.lit, names)),
                          F.pmod(F.col("band_id"), F.lit(n)) + 1)
    return stacked, family


def downsample_dropped(bands: DataFrame, cfg: LshConfig,
                       plan: BandPlan | None = None) -> DataFrame:
    """Per-bucket drop accounting for the ``max_bucket_size`` cap —
    (band_id, bucket, cnt, dropped). Empty when the cap is off or no
    bucket is degenerate. The no-silent-caps rule: callers (the pipeline)
    aggregate + record this; it shares the exact predicate used by
    ``candidate_pairs_from_bands``. Pass the ``band_plan`` the candidate
    join used to skip the full stats shuffle (a broadcast join + partial
    agg is all that remains); a plan whose ``max_cnt`` is at or under the
    cap already proves the count is zero, so callers need not run this."""
    if cfg.max_bucket_size <= 0:
        return (bands.sparkSession.createDataFrame(
            [], "band_id int, bucket long, cnt long, dropped long"))
    stats = bucket_stats(bands) if plan is None else plan.over
    degen = stats.filter(F.col("cnt") > cfg.max_bucket_size)
    return (bands.join(F.broadcast(degen), ["band_id", "bucket"])
            .filter(~_downsample_keep(cfg))
            .groupBy("band_id", "bucket", "cnt")
            .agg(F.count("*").alias("dropped")))


def candidate_pairs_from_bands(bands: DataFrame, cfg: LshConfig,
                               source: str | Column = "minhash",
                               plan: BandPlan | None = None) -> DataFrame:
    """(image_id, band_id, bucket) -> distinct candidate pairs (a < b).

    One aggregation for stats, one salted self-join, one (a, b) distinct.
    The distinct is the reference's dedup-before-distance rewrite
    (hash_tables.hpp:547-557): never verify a pair twice. ``plan`` (the
    ``band_plan`` of ``bands``) is built here when not given; callers
    that also run the drop accounting build it once and pass it in.
    ``source``: a name, or the family column of ``stack_bands`` (the
    distinct then lists every family that found the pair). The join's
    build side is broadcast when the plan's observed row count fits the
    session's broadcast threshold (``pairs.broadcast_if_fits``).
    """
    if plan is None:
        plan = band_plan(bands, cfg)
    # The broadcast plan carries EVERY bucket any decision touches — hot
    # buckets (salted) AND degenerate-but-not-hot buckets (possible when
    # max_bucket_size < hot_bucket_threshold): a bucket absent from the
    # plan coalesces cnt to 0 downstream, which the keep-predicate reads
    # as "under the cap", silently skipping the down-sample while
    # downsample_dropped (driven by the same plan) reports its members
    # as dropped. plan_threshold is the one shared definition; still few
    # rows by the skew assumption, so the broadcast stands.
    #
    # FAST PATH: when NO bucket crosses the plan threshold (the common
    # case away from degenerate corpora — true for every sf0.1 banding
    # frame measured), every m is 1 and every salt is 0, so the salted
    # grid degenerates to a plain (band, bucket) self-join, here on the
    # one-long ``bucket_key``. Emitting that join directly skips the
    # broadcast build, the per-row salt hash and the two
    # sequence-explodes — same pair set by construction (the m=1 grid
    # joins on (band, bucket, 0, 0)).
    if plan.n_over == 0:
        left = bands.select(bucket_key().alias("k"), "band_id",
                            F.col("image_id").alias("a"))
        right = bands.select(bucket_key().alias("k"),
                             F.col("image_id").alias("b"))
        return _distinct_pairs(
            left.join(broadcast_if_fits(right,
                                        _fixed_width_bytes(right, plan.rows)),
                      "k"),
            source)

    m_col = F.when(
        F.col("cnt") > cfg.hot_bucket_threshold,
        F.least(
            F.lit(cfg.n_salts),
            F.ceil(F.col("cnt") / F.lit(cfg.hot_bucket_threshold))
             .cast("int"),
        ),
    ).otherwise(F.lit(1))
    salts = plan.over.select("band_id", "bucket", "cnt", m_col.alias("m"))

    b = (
        bands.join(F.broadcast(salts), ["band_id", "bucket"], "left")
        .withColumn("m", F.coalesce(F.col("m"), F.lit(1)))
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )
    if cfg.max_bucket_size > 0:
        # deterministic down-sample of degenerate buckets; survivors keep
        # expected ~max_bucket_size members. Dropped members are accounted
        # by downsample_dropped (same predicate) — see module docstring.
        b = b.filter(_downsample_keep(cfg))
    b = b.withColumn(
        "salt", F.pmod(F.xxhash64("image_id", F.lit(cfg.seed + 1)), F.col("m")).cast("int")
    )

    left = b.withColumn("t", F.explode(F.sequence(F.col("salt"), F.col("m") - 1))) \
            .select("band_id", "bucket", F.col("salt").alias("s"), "t",
                    F.col("image_id").alias("a"))
    right = b.withColumn("s", F.explode(F.sequence(F.lit(0), F.col("salt")))) \
             .select("band_id", "bucket", "s", F.col("salt").alias("t"),
                     F.col("image_id").alias("b"))
    # The grid guarantees each unordered pair meets with the smaller-salt
    # member on the left — which says nothing about id order, so CANONICALIZE
    # (least/greatest), don't filter on a < b (that would drop every pair
    # whose smaller id carries the larger salt). A member takes at most
    # n_salts right-role rows.
    return _distinct_pairs(
        left.join(broadcast_if_fits(
            right, _fixed_width_bytes(right, plan.rows * cfg.n_salts)),
                  ["band_id", "bucket", "s", "t"]),
        source)


def _band_widths(n_bands: int) -> list[int]:
    """Widths of n_bands contiguous bit-bands that PARTITION all 64 bits
    (remainder bits spread over the first bands), so the pigeonhole bound
    holds with no uncovered bits."""
    base, rem = divmod(64, n_bands)
    return [base + (1 if i < rem else 0) for i in range(n_bands)]


def bit_bands(signatures: DataFrame, hash_col: str, cfg: LshConfig,
              n_bands: int | None = None, combine: int = 2) -> DataFrame:
    """Bit-banding of a 64-bit hash column (simhash, phash, audio
    fingerprint) into the (image_id, band_id, bucket) shape the salted
    pair machinery joins on — exposed so callers can also run the drop
    accounting (``downsample_dropped``) over the SAME banding a capped
    candidate join saw (the pipeline's no-silent-caps rule applies to the
    bit-band paths exactly as to the MinHash path).

    Pigeonhole with combined keys (multi-index hashing): with
    ``n_bands = hamming_threshold + combine`` bands partitioning all 64
    bits, hamming <= t leaves at least ``combine`` clean bands, so some
    ``combine``-subset of bands matches exactly — blocking recall is 1.0
    INCLUDING pairs at the threshold, for any combine >= 1.

    Why combine=2 by default: a 64-bit code split into t+1 = 9 bands has
    only ~2^7 key values per band, so at n rows EVERY bucket holds ~n/128
    members and candidates grow as 9·n²/128 — fine at 10^4 rows, fatal at
    10^9. Pairing bands (C(10,2) = 45 keys of ~13 bits) trades 5x more
    exploded rows for ~2^6x sparser buckets: same exact guarantee, an
    order of magnitude fewer candidate pairs (measured 835k -> ~80k on
    the sf0.1 documents). combine=1 keeps the classic one-band scheme."""
    if n_bands is None:
        n_bands = cfg.hamming_threshold + combine
    base = signatures.filter(F.col(hash_col).isNotNull()).select(
        "image_id", F.col(hash_col).alias("h"))
    widths = _band_widths(n_bands)
    vals, off = [], 0
    for width in widths:
        mask = (1 << width) - 1
        vals.append(F.shiftrightunsigned(F.col("h"), off).bitwiseAND(F.lit(mask)))
        off += width
    if combine == 1:
        keys = vals
    elif combine == 2:
        shift = 1 << max(widths)  # v_i, v_j < 2^max_width: collision-free pack
        keys = [vals[i] * F.lit(shift) + vals[j]
                for i in range(n_bands) for j in range(i + 1, n_bands)]
    else:
        raise ValueError(f"combine must be 1 or 2, got {combine}")
    return base.select(
        "image_id", F.posexplode(F.array(*keys)).alias("band_id", "bucket"))


def hamming_pairs(sigs: DataFrame, hash_col: str, cfg: LshConfig,
                  source: str) -> DataFrame:
    """(image_id, <hash_col>) -> (a, b, hamming): every pair within
    ``cfg.hamming_threshold`` bits. Bit-band blocking, the salted
    candidate join, ``pair_features`` and an exact popcount filter. The
    band count and the filter read the same threshold, so the pigeonhole
    guarantee (``bit_bands``) always covers every pair the filter keeps:
    the result is the brute-force popcount set."""
    cands = candidate_pairs_from_bands(bit_bands(sigs, hash_col, cfg), cfg,
                                       source=source)
    return (pair_features(cands, sigs, (hash_col,))
            .withColumn("hamming", hamming_col(hash_col).cast("int"))
            .filter(F.col("hamming") <= cfg.hamming_threshold)
            .select("a", "b", "hamming"))
