"""Salt-pair expansion must produce exactly the naive pair set — skew
splitting is a physical rewrite, never a semantic one."""

import numpy as np
from pyspark.sql import functions as F

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig


def _naive_pairs(rows):
    from collections import defaultdict

    buckets = defaultdict(list)
    for rid, band, bucket in rows:
        buckets[(band, bucket)].append(rid)
    out = set()
    for members in buckets.values():
        ms = sorted(set(members))
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                out.add((ms[i], ms[j]))
    return out


def test_salted_pairs_equal_naive(spark):
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        candidate_pairs_from_bands)

    rng = np.random.Generator(np.random.PCG64(5))
    rows = []
    # one huge hot bucket (forces salting), several medium, many singles
    for i in range(60):
        rows.append((f"x{i:03d}", 0, 999))
    for i in range(12):
        rows.append((f"y{i:03d}", 1, 7))
    for i in range(30):
        rows.append((f"z{i:03d}", int(rng.integers(0, 4)), int(rng.integers(0, 1000))))
    cfg = LshConfig(hot_bucket_threshold=8, n_salts=4, max_bucket_size=0)
    bands = spark.createDataFrame(rows, ["image_id", "band_id", "bucket"])
    got = {(r["a"], r["b"]) for r in
           candidate_pairs_from_bands(bands, cfg).select("a", "b").collect()}
    assert got == _naive_pairs(rows)


def test_band_plan_observes_mass_and_rows(spark):
    """band_plan's observed ``mass`` and ``rows`` equal Σ C(cnt, 2) and
    Σ cnt of bucket_stats over ALL buckets of a skewed frame, whether the
    plan takes the fast path (no bucket over the threshold) or the salted
    grid."""
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        band_plan, bucket_stats)

    rng = np.random.Generator(np.random.PCG64(9))
    rows = [(f"x{i:03d}", 0, 999) for i in range(60)]
    rows += [(f"y{i:03d}", 1, 7) for i in range(12)]
    rows += [(f"z{i:03d}", int(rng.integers(0, 4)), int(rng.integers(0, 50)))
             for i in range(80)]
    bands = spark.createDataFrame(rows, ["image_id", "band_id", "bucket"])
    cnts = [r["cnt"] for r in bucket_stats(bands).collect()]
    for cfg, n_over in ((LshConfig(hot_bucket_threshold=100,
                                   max_bucket_size=0), 0),
                        (LshConfig(hot_bucket_threshold=8, n_salts=4,
                                   max_bucket_size=0), 2)):
        plan = band_plan(bands, cfg)
        assert plan.n_over == n_over
        assert plan.rows == sum(cnts) == len(rows)
        assert plan.mass == sum(c * (c - 1) // 2 for c in cnts)


def test_bucket_cap_downsamples_degenerate_bucket(spark):
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        candidate_pairs_from_bands)

    rows = [(f"d{i:04d}", 0, 1) for i in range(200)]
    cfg = LshConfig(hot_bucket_threshold=8, n_salts=4, max_bucket_size=20)
    bands = spark.createDataFrame(rows, ["image_id", "band_id", "bucket"])
    n = candidate_pairs_from_bands(bands, cfg).count()
    # without the cap: C(200,2) = 19900 pairs; capped: ~C(20,2)-ish
    assert n < 2000


def test_hash_band_pairs_guarantee(spark):
    """hamming <= hamming_threshold ⇒ pair is surfaced (pigeonhole with
    threshold+combine bit-bands partitioning all 64 bits), including
    pairs AT the threshold; a pair with at most one clean band is missed
    under combine=2 (no clean band-pair exists)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        _band_widths, bit_bands, candidate_pairs_from_bands)

    def blocked(df, combine=2):
        bands = bit_bands(df, "simhash", cfg, combine=combine)
        return {(r["a"], r["b"]) for r in
                candidate_pairs_from_bands(bands, cfg, "simhash")
                .select("a", "b").collect()}

    cfg = LshConfig()  # hamming_threshold = 8; combine=2 -> 10 bands
    widths = _band_widths(cfg.hamming_threshold + 2)
    offs = [sum(widths[:i]) for i in range(len(widths))]
    base = 0x0123456789ABCDEF
    near = base ^ 0b1011  # hamming 3, one band
    # hamming exactly 8 = one bit in each of the FIRST 8 bands; the two
    # remaining clean bands form the guaranteed shared band-pair
    at_threshold = base
    for o in offs[:8]:
        at_threshold ^= 1 << o
    # one bit in 9 of 10 bands (hamming 9 > threshold): at most one clean
    # band -> no clean pair -> guaranteed miss
    far = base
    for o in offs[:9]:
        far ^= 1 << o
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far), ("d", at_threshold)],
        ["image_id", "h"],
    ).select("image_id", F.col("h").cast("long").alias("simhash"),
             F.col("h").cast("long").alias("phash"), F.lit(None).alias("shingles"))
    pairs = blocked(df)
    assert ("a", "b") in pairs
    assert ("a", "d") in pairs  # the boundary case a t-band split would miss
    assert ("a", "c") not in pairs

    # combine=1 (classic single-band keys) keeps the same boundary guarantee
    assert ("a", "d") in blocked(df, combine=1)


def test_hamming_pairs_band_count_follows_threshold(spark):
    """``hamming_pairs`` at a non-default threshold equals a brute-force
    popcount over all pairs. The input holds a pair at hamming 10 with one
    flipped bit in each of the first 10 bands of the 12-band partition
    that threshold 10 sizes (+2 combine). Those bits are the band starts
    of the 10-band partition the default threshold 8 would size, so that
    banding leaves no clean band and would miss the pair."""
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        _band_widths, hamming_pairs)

    cfg = LshConfig(hamming_threshold=10)

    def starts(n_bands):
        w = _band_widths(n_bands)
        return [sum(w[:i]) for i in range(n_bands)]

    bits = starts(8 + 2)
    band_of = [max(i for i, o in enumerate(starts(10 + 2)) if o <= b)
               for b in bits]
    assert len(set(band_of)) == 10  # one flipped bit in each of 10 bands
    base = 0x0123456789ABCDEF
    spread = base
    for b in bits:
        spread ^= 1 << b
    rng = np.random.Generator(np.random.PCG64(10))
    hashes = {"base": base, "spread": spread,
              "over": spread ^ (1 << 63),  # hamming 11 from base
              "near": base ^ 0b111}
    for i in range(40):  # random codes, each with a planted twin at 3..12 bits
        h = int(rng.integers(0, 2**63))
        hashes[f"r{i:02d}"] = h
        flip = rng.choice(64, size=3 + i % 10, replace=False)
        hashes[f"t{i:02d}"] = h ^ int(sum(1 << int(f) for f in flip))
    signed = {k: v - (1 << 64) if v >= 1 << 63 else v
              for k, v in hashes.items()}
    df = spark.createDataFrame(sorted(signed.items()), "image_id string, h long")
    got = {(r["a"], r["b"], r["hamming"])
           for r in hamming_pairs(df, "h", cfg, "simhash").collect()}
    ids = sorted(hashes)
    want = set()
    for i, x in enumerate(ids):
        for y in ids[i + 1:]:
            d = bin(hashes[x] ^ hashes[y]).count("1")
            if d <= cfg.hamming_threshold:
                want.add((x, y, d))
    assert ("base", "spread", 10) in want
    assert got == want


def test_downsample_dropped_accounting(spark):
    """The degenerate-bucket cap's drop count is exact: kept + dropped ==
    bucket size, and the kept set matches what pair generation used."""
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        downsample_dropped)

    rows = [(f"d{i:04d}", 0, 1) for i in range(200)] + [("e1", 0, 2), ("e2", 0, 2)]
    cfg = LshConfig(hot_bucket_threshold=8, n_salts=4, max_bucket_size=20)
    bands = spark.createDataFrame(rows, ["image_id", "band_id", "bucket"])
    drops = downsample_dropped(bands, cfg).collect()
    assert len(drops) == 1  # only the degenerate bucket appears
    d = drops[0]
    assert d["bucket"] == 1 and d["cnt"] == 200
    assert 0 < d["dropped"] < 200


def test_cap_enforced_when_cap_below_hot_threshold(spark):
    """max_bucket_size < hot_bucket_threshold: a bucket between the two
    (degenerate but not hot) must still be down-sampled, with pair
    generation and the drop accounting agreeing on the SAME kept set —
    a bucket missing from the broadcast plan would otherwise skip the
    cap (coalesced cnt 0 reads as under-cap) while downsample_dropped
    reports its members as dropped."""
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        candidate_pairs_from_bands, downsample_dropped)

    rows = [(f"m{i:04d}", 0, 5) for i in range(100)]
    cfg = LshConfig(hot_bucket_threshold=200, n_salts=4, max_bucket_size=50)
    bands = spark.createDataFrame(rows, ["image_id", "band_id", "bucket"])

    pairs = candidate_pairs_from_bands(bands, cfg).select("a", "b").collect()
    members_in_pairs = {x for r in pairs for x in (r["a"], r["b"])}
    drops = downsample_dropped(bands, cfg).collect()
    assert len(drops) == 1 and drops[0]["cnt"] == 100
    n_dropped = drops[0]["dropped"]
    assert 0 < n_dropped < 100
    # every member is either in the pair set or accounted as dropped
    assert len(members_in_pairs) == 100 - n_dropped
    # and the pair count reflects the capped bucket, not C(100,2)
    assert len(pairs) == len(members_in_pairs) * (len(members_in_pairs) - 1) // 2


def test_compute_signatures_python_shingles_matches_jvm(spark):
    """compute_signatures (one Arrow hop: Python shingles + MinHash) ==
    the JVM shingle chain (shingle_crc_col) followed by the shared
    minhash_buckets_batch on local numpy, including NULL/empty/short/
    tab-padded/unicode captions and at the default and a 4 x 2 band
    config. NULL caption -> shingles NULL, empty-set signature, buckets
    NULL."""
    from distributed_gpu_lsh_using_sycl_spark.functions import hashing as H
    from distributed_gpu_lsh_using_sycl_spark.operators.signatures import (
        compute_signatures, minhash_buckets_batch, shingle_crc_col)

    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, None), (2, ""), (3, "one"), (4, "two words"),
            (5, "  padded   whitespace \t tabs "),
            (6, "the quick brown fox jumps over the lazy dog"),
            (7, "caffé déjà vu ünicode words here and there")]
    df = spark.createDataFrame(rows, "image_id long, caption string")
    for cfg in (LshConfig(), LshConfig(num_bands=4, rows_per_band=2)):
        jvm = dict(df.select("image_id", shingle_crc_col(
            F.col("caption"), cfg.shingle_size).alias("crcs")).collect())
        assert jvm[1] is None
        ids = sorted(jvm)
        a, b = H.minhash_params(cfg.seed, cfg.signature_len,
                                cfg.signature_pool_size)
        sigs, buckets = minhash_buckets_batch(
            [np.asarray(jvm[i] or [], dtype=np.uint64) for i in ids],
            cfg, a, b)
        want = {i: (jvm[i], sig, bk)
                for i, sig, bk in zip(ids, sigs, buckets)}
        got = {r.image_id: (r.shingles, list(r.minhash), r.buckets)
               for r in compute_signatures(df, cfg,
                                           with_image=False).collect()}
        assert got == want, cfg


def test_candidate_pairs_fast_path_equals_salted(spark):
    """The no-hot-bucket fast path (plain self-join) emits exactly the
    salted grid's pair set; with a hot bucket present, the salted path
    still engages and both produce the same pairs as a brute
    per-bucket enumeration."""
    from pyspark.sql import functions as F

    from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        candidate_pairs_from_bands)

    # cold buckets only -> fast path
    rows = [(i, 0, i % 37) for i in range(200)]
    bands = spark.createDataFrame(rows, "image_id long, band_id int, bucket long")
    cfg = LshConfig(hot_bucket_threshold=64, max_bucket_size=4096)
    got = {(r["a"], r["b"]) for r in
           candidate_pairs_from_bands(bands, cfg).collect()}
    want = {(a, b) for a in range(200) for b in range(200)
            if a < b and a % 37 == b % 37}
    assert got == want
    # one hot bucket -> salted path; same enumeration
    rows = [(i, 0, 0 if i < 150 else i) for i in range(200)]
    bands = spark.createDataFrame(rows, "image_id long, band_id int, bucket long")
    cfg = LshConfig(hot_bucket_threshold=16, max_bucket_size=4096, n_salts=4)
    got = {(r["a"], r["b"]) for r in
           candidate_pairs_from_bands(bands, cfg).collect()}
    want = {(a, b) for a in range(150) for b in range(150) if a < b}
    assert got == want


def _caption_frame(spark, n_same: int, n_distinct: int):
    """n_same copies of one caption (a bucket of n_same members in every
    band) plus n_distinct random-word captions."""
    rng = np.random.Generator(np.random.PCG64(3))
    words = [f"w{i}" for i in range(5000)]
    rows = [(i, "one caption repeated verbatim across many rows")
            for i in range(n_same)]
    rows += [(n_same + i, " ".join(rng.choice(words, 12)))
             for i in range(n_distinct)]
    return spark.createDataFrame(rows, "image_id long, caption string")


def test_pipeline_records_exact_drop_count(spark):
    """DedupPipeline records as cand_minhash:dropped exactly the total of
    downsample_dropped over its bands when a bucket exceeds the cap, and
    0 when none does."""
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        downsample_dropped)
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import run_dedup

    cfg = LshConfig(max_bucket_size=10, hot_bucket_threshold=8, n_salts=2)

    def dropped_metric(res):
        rows = [m["rows"] for m in res.metrics
                if m["stage"] == "cand_minhash:dropped"]
        assert len(rows) == 1
        return rows[0]

    res = run_dedup(spark, _caption_frame(spark, 40, 30), cfg,
                    with_image=False)
    want = (downsample_dropped(res["bands"], cfg)
            .agg(F.sum("dropped")).collect()[0][0])
    assert want > 0
    assert dropped_metric(res) == want

    res = run_dedup(spark, _caption_frame(spark, 1, 30), cfg,
                    with_image=False)
    assert dropped_metric(res) == 0


def test_pipeline_records_substring_drop_count(spark):
    """The window family is capped like every other family and its drop
    count is recorded: 40 copies of one caption of at least L characters
    put 40 members in each of its window buckets, and cand_substring:dropped
    equals the total of downsample_dropped over the window bands."""
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        downsample_dropped)
    from distributed_gpu_lsh_using_sycl_spark.operators.suffix import (
        window_bands)
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import run_dedup

    cfg = LshConfig(max_bucket_size=10, hot_bucket_threshold=8, n_salts=2)
    frame = _caption_frame(spark, 40, 30)
    assert len(frame.first().caption) >= cfg.min_substring_len
    res = run_dedup(spark, frame, cfg, with_image=False)
    want = (downsample_dropped(window_bands(res["signatures"]), cfg)
            .agg(F.sum("dropped")).collect()[0][0])
    assert want > 0
    got = [m["rows"] for m in res.metrics
           if m["stage"] == "cand_substring:dropped"]
    assert got == [want]
