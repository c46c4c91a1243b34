"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship caption-dedup pipeline on sf0.001 documents.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data-pipeline ops); each callable (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — DuckDB-equivalent SQL for every SQL-expressible query.

Column names, tokenization, rounding and tie-breaking are aligned
EXACTLY between the Spark implementations and the DuckDB oracles:
- tokens: lower(trim(text)) split on \\s+, empties dropped
- shingles: distinct word-3-grams; <3 tokens -> one all-tokens shingle
- float outputs rounded (6 digits ratios, 4 digits large sums)
- rankings computed on ROUNDED similarity with id tie-breaks, so both
  engines rank identical values
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

SF_DEFAULT = "/root/testdata/sf0.001"

# shared constants (mirrored in the oracle SQL below)
SHINGLE_K = 3
SUBSTR_L = 24
JACCARD_TAU = 0.5
#: cosine near-dup threshold. 0.45 (not a production 0.8+) because the
#: driver fixture's embeddings are near-orthogonal synthetics whose max
#: pairwise cosine is ~0.51 — at 0.8 both near-dup queries would be a
#: vacuous 0-row == 0-row match. At 0.45 the truth set is non-empty
#: (14 pairs at sf0.01) so LSH-reproduces-brute is a real signal.
NEARDUP_COS = 0.45
EN = ("the", "and", "of", "to", "is", "in", "that", "it")
ES = ("el", "la", "de", "que", "los", "una", "por", "con")
FR = ("le", "les", "des", "est", "une", "dans", "pour", "qui")
DE = ("der", "die", "und", "das", "ist", "nicht", "ein", "mit")
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
FP_MOD = 1_000_000_007


def _tune(spark: SparkSession) -> None:
    """Session knobs for externally-created sessions (the driver builds
    its own SparkSession; repo sessions get these via sources/tables.py).
    1024-row Arrow batches keep each python worker's live set under the
    host's ~10 MB allocator knee — measured neutral-to-faster on every
    stage type (blob decode 6.3→3.8s, entropy 2.05→1.72, knn flat; see
    tables.py). Idempotent, runtime-settable conf."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _tune(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _dedup_cfg():
    """Banding tuned for tau=0.5 verification: 48 bands x 2 rows keeps
    P(miss | J=0.5) = (1 - 0.25)^48 ~ 1e-6 (the reference default 8x12
    targets high-J parity; this is the dedup-tuned profile)."""
    from distributed_gpu_lsh_using_sycl_spark.config import LshConfig

    return LshConfig(num_bands=48, rows_per_band=2, jaccard_threshold=JACCARD_TAU,
                     min_substring_len=SUBSTR_L)


# --------------------------------------------------------------------------- #
# documents: dedup family
# --------------------------------------------------------------------------- #

def q_dedup_exact_clusters(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id",
                    F.min("doc_id").over(W.partitionBy("text")).alias("cluster_id"))


def q_dedup_exact_pairs(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "text")
    a = d.select(F.col("doc_id").alias("a"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("b"), F.col("text").alias("tb"))
    return (a.join(b, (F.col("ta") == F.col("tb")) & (F.col("a") < F.col("b")))
            .select("a", "b"))


def _shingled(spark, sf):
    from distributed_gpu_lsh_using_sycl_spark.operators.signatures import shingles_col

    return (_t(spark, sf, "documents")
            .select("doc_id", shingles_col(F.col("text"), SHINGLE_K).alias("s")))


def q_ngram_jaccard_pairs(spark, sf):
    """Brute-force word-3-gram Jaccard >= tau (the exact baseline the LSH
    path approximates; J2 verification predicate analog)."""
    s = _shingled(spark, sf)
    a = s.select(F.col("doc_id").alias("a"), F.col("s").alias("sa"))
    b = s.select(F.col("doc_id").alias("b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    jac = inter.cast("double") / union.cast("double")
    return (a.join(b, F.col("a") < F.col("b"))
            .filter((F.size("sa") + F.size("sb")) > 0)
            .withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= JACCARD_TAU)
            .select("a", "b", "jaccard"))


def _minhash_jaccard_pairs(sigs, cfg):
    """Shared body of the two MinHash pair queries: banded candidates ->
    ``attach_features`` -> ``verify_pairs``, kept at Jaccard >= tau. Pass
    ``sigs`` eagerly checkpointed: the candidate join launches
    stats/left/right stages concurrently, and a lazy persist would
    recompute the signature chain in each (see plans/pipeline.py)."""
    from distributed_gpu_lsh_using_sycl_spark.operators import banding, pairs

    bands = banding.explode_bands(sigs)
    cands = banding.candidate_pairs_from_bands(bands, cfg, source="minhash")
    verified = pairs.verify_pairs(pairs.attach_features(cands, sigs), cfg)
    return (verified.filter(F.col("jaccard") >= JACCARD_TAU)
            .select("a", "b", F.round("jaccard", 6).alias("jaccard")))


def q_dedup_minhash_lsh_pairs(spark, sf):
    """MinHash-banded LSH candidates + exact Jaccard verification — must
    reproduce the brute-force set (oracle = same SQL as ngram_jaccard)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.signatures import compute_signatures

    cfg = _dedup_cfg()
    d = _t(spark, sf, "documents")
    sigs = compute_signatures(d, cfg, id_col="doc_id", text_col="text",
                              with_image=False).localCheckpoint(eager=True)
    return _minhash_jaccard_pairs(sigs, cfg)


def q_dedup_minhash_blobscan_pairs(spark, sf):
    """Same chain as q_dedup_minhash_lsh_pairs, but signatures come from
    the blob-scan pushdown (sources/blob_scan.py) — pyarrow reads the
    documents parquet splits inside the Python stage and the shared
    numpy kernels compute shingle CRC / minhash there, so this row hash-
    gates the fused scan path against the same brute-force Jaccard
    oracle the JVM-shingled variant uses."""
    from distributed_gpu_lsh_using_sycl_spark.sources import blob_scan

    cfg = _dedup_cfg()
    path = os.path.join(sf, "documents.parquet")
    sigs = blob_scan.scan_signatures(spark, path, cfg, with_image=False,
                                     id_col="doc_id", text_col="text") \
        .localCheckpoint(eager=True)
    return _minhash_jaccard_pairs(sigs, cfg)


def q_dedup_substring_pairs(spark, sf):
    """Scalable containment dedup: rolling-window-hash join candidates,
    exact `contains` verification. Semantics: a<b, min(len)>=L, one text
    contained in the other. Winnow stride 4 (2.5x fewer fingerprint rows
    than every-window): this query's verify is a pure JVM `contains`, so
    the extra short-gram candidates are near-free and the fingerprint
    row reduction wins outright (interleaved A/B at sf0.1: ~2.5-2.9s vs
    the 5.53s every-window record; the verified pair set is
    stride-invariant by the winnowing guarantee, pinned in tests)."""
    from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
    from distributed_gpu_lsh_using_sycl_spark.operators.pairs import pair_features
    from distributed_gpu_lsh_using_sycl_spark.operators.suffix import substring_candidates

    cfg = LshConfig(min_substring_len=SUBSTR_L, substring_winnow_stride=4)
    d = _t(spark, sf, "documents")
    cands = substring_candidates(d, cfg, id_col="doc_id", text_col="text")
    ta, tb = F.col("text_a"), F.col("text_b")
    return (pair_features(cands, d, ("text",), id_col="doc_id")
            .filter(F.least(F.length(ta), F.length(tb)) >= SUBSTR_L)
            .filter(ta.contains(tb) | tb.contains(ta))
            .select("a", "b"))


def q_lcs_window_pairs(spark, sf):
    """Pairs with a common substring of length >= L — the PRODUCTION
    plan: rolling window-HASH equi-join (operators/suffix.py; the shuffle
    key is one int64 instead of a 24-char string — 3x narrower exchange),
    candidates through the shared salted/skew-split machinery, then exact
    ``shares_window`` verification (one shared length-L window probe)
    which removes the (candidate-only-adding) 31-bit hash collisions.
    lcs(a,b) >= L is EQUIVALENT to sharing one length-L character window,
    so the DuckDB window-string-join oracle is unchanged and value-hash
    checks the whole hash+verify chain."""
    from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
    from distributed_gpu_lsh_using_sycl_spark.operators.suffix import (
        substring_candidates, verify_substring_pairs)

    cfg = LshConfig(min_substring_len=SUBSTR_L)
    d = _t(spark, sf, "documents")
    cands = substring_candidates(d, cfg, id_col="doc_id", text_col="text")
    return (verify_substring_pairs(cands, d, cfg, id_col="doc_id",
                                   text_col="text")
            .select("a", "b"))


def q_doc_simhash_pairs(spark, sf):
    """Text SimHash near-dup pairs (hamming <= the default
    ``LshConfig.hamming_threshold``, 8) via ``banding.hamming_pairs``.
    FULLY oracle-checked: the simhash chain is one Arrow kernel
    (parity_hash.doc_simhash_col — u32 hash_combine char fold per
    shingle, hi/lo word derivation, bit votes) and the DuckDB oracle
    (doc_simhash_oracle_sql) recomputes the identical chain in SQL plus a
    brute-force popcount over all pairs, so the banded blocking's
    exact-recall guarantee is value-hash verified."""
    from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import hamming_pairs
    from distributed_gpu_lsh_using_sycl_spark.operators.parity_hash import (
        doc_simhash_col)

    d = _t(spark, sf, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    sigs = (d.select(F.col("doc_id").alias("image_id"),
                     doc_simhash_col(F.col("text"), SHINGLE_K).alias("simhash"))
            .localCheckpoint(eager=True))
    return hamming_pairs(sigs, "simhash", LshConfig(), source="simhash")


# --------------------------------------------------------------------------- #
# images: multimodal dedup family (driver-visible)
# --------------------------------------------------------------------------- #

_IMG_FIXTURE_N = 2000
_IMG_FIXTURE_SEED = 42

#: fingerprint exports that make the binary-decode queries value-hash
#: checkable: each query persists its COMPUTED fingerprints here and
#: continues the plan from the read-back copy; the DuckDB oracle then
#: read_parquet()s the same files and brute-forces the banding+verify /
#: shared-frame stage over the exact values the Spark query used. The
#: decode itself (not SQL-expressible) stays pinned by the bit-identical
#: batch-kernel tests and planted-truth recall in pytest.
#:
#: Exports are keyed by the sf dir's basename so a run at another scale
#: (e.g. bench at sf0.1) can never clobber the files the correctness
#: oracle reads; the oracle SQL points at the driver's correctness scale
#: (_ORACLE_SF — the driver compares Spark vs DuckDB at sf0.01 only).
_ORACLE_EXPORT_BASE = "/tmp/dlsh_oracle_export"
_ORACLE_SF = os.environ.get("DLSH_ORACLE_SF", "sf0.01")


def _oracle_export_path(name: str, sf_dir: str) -> str:
    sf_key = os.path.basename(sf_dir.rstrip("/")) or "default"
    return os.path.join(_ORACLE_EXPORT_BASE, sf_key, f"{name}.parquet")


def _export_read_back(df: DataFrame, name: str, sf_dir: str) -> DataFrame:
    path = _oracle_export_path(name, sf_dir)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _hamming_pairs_oracle(name: str, threshold: int | None = None) -> str:
    """Brute-force (a, b, hamming) over an exported (image_id, fp)
    parquet — the oracle twin of banding.hamming_pairs.
    The threshold comes from the SAME config the Spark queries use, so a
    future cfg change cannot desync query from oracle."""
    if threshold is None:
        threshold = _dedup_cfg().hamming_threshold
    glob = os.path.join(_ORACLE_EXPORT_BASE, _ORACLE_SF,
                        f"{name}.parquet", "*.parquet")
    return f"""
with s as (select image_id, fp from read_parquet('{glob}'))
select a.image_id as a, b.image_id as b,
       (bit_count(xor(a.fp, b.fp)))::INT as hamming
from s a join s b on a.image_id < b.image_id
where bit_count(xor(a.fp, b.fp)) <= {threshold}"""


def _image_fixture(spark) -> DataFrame:
    """Deterministic image+caption fixture written once to a stable
    parquet (the north-rule input shape: image_id, bytes, w, h, fmt,
    caption, phash). Pure function of (seed, idx) — identical content for
    any partitioning — so the driver sees stable rows across runs. Size is
    fixed (independent of sf_dir): the testdata has no binary image
    column, and determinism of the recorded row count matters more than
    scaling here. Recall vs planted truth is asserted in
    tests/test_e2e_dedup.py."""
    import os as _os

    from distributed_gpu_lsh_using_sycl_spark.sources.fixture import (
        make_fixture_spark)

    _tune(spark)
    path = f"/tmp/dlsh_driver_fixture/images_n{_IMG_FIXTURE_N}_s{_IMG_FIXTURE_SEED}.parquet"
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        make_fixture_spark(spark, _IMG_FIXTURE_N, seed=_IMG_FIXTURE_SEED) \
            .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _image_hash_pairs(spark, sf, hash_col: str) -> DataFrame:
    """Shared body: signature stage -> ``banding.hamming_pairs``. The
    simhash path decodes pixels (multimodal decode + block features +
    simhash, vectorized); the phash path reads the STORED
    perceptual-hash column straight off the scan — no decode, no Python,
    pure column pruning. Result-identical to routing through the
    signature stage: compute_signatures passes the stored phash column
    through unchanged (operators/signatures.py) — it only DERIVES the
    simhash from it. At 10^12 images, decoding pixels to fetch a stored
    column is the wrong plan."""
    from distributed_gpu_lsh_using_sycl_spark.operators.banding import (
        hamming_pairs)
    from distributed_gpu_lsh_using_sycl_spark.operators.signatures import (
        compute_signatures)

    cfg = _dedup_cfg()
    if hash_col == "phash":
        sigs = _image_fixture(spark).select("image_id", "phash")
    else:
        sigs = (compute_signatures(_image_fixture(spark), cfg, with_image=True)
                .select("image_id", "simhash")
                .localCheckpoint(eager=True))
    # export the computed fingerprints + continue from the read-back copy
    # so the DuckDB oracle can value-hash the banding+verify stage
    sigs = _export_read_back(
        sigs.select("image_id", F.col(hash_col).alias("fp")),
        f"image_{hash_col}_pairs", sf)
    return hamming_pairs(sigs, "fp", cfg, source=hash_col)


def q_image_simhash_pairs(spark, sf):
    """Image near-dup pairs via decoded-pixel SimHash (multimodal path:
    binary decode -> block features -> position-salted simhash, all
    Arrow-batched). Rows-only (binary fixture is outside the DuckDB
    views); recall >= 0.99 vs planted truth in tests/test_e2e_dedup.py."""
    return _image_hash_pairs(spark, sf, "simhash")


def q_image_phash_pairs(spark, sf):
    """Image near-dup pairs via the stored perceptual hash (phash) —
    banded blocking + exact Hamming verify. Rows-only."""
    return _image_hash_pairs(spark, sf, "phash")


def q_audio_neardup_pairs(spark, sf):
    """Audio near-dup pairs over a deterministically synthesized audio
    table (multimodal.synth_audio_df over the documents' ids — pure
    function of the id, lossy re-encoded twin every 50th id): Arrow-
    batched SAUD decode → 64-bit energy-delta fingerprint → the shared
    banded blocking → popcount verify. Rows-only (binary decode is not
    SQL-expressible); planted-dup recovery asserted in
    tests/test_multimodal.py."""
    from distributed_gpu_lsh_using_sycl_spark.operators.multimodal import (
        audio_neardup_pairs, synth_audio_df)

    ids = _t(spark, sf, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism)
    return audio_neardup_pairs(
        synth_audio_df(ids), _dedup_cfg(),
        export_sigs_path=_oracle_export_path("audio_neardup_pairs", sf))


def q_video_neardup_pairs(spark, sf):
    """Video near-dup pairs over a deterministically synthesized video
    table (lossy re-encoded twin every 50th id): mapInPandas frame
    sampling (every 2nd frame) → per-frame phash → shared-frame count.
    Rows-only; planted-dup recovery asserted in tests/test_multimodal.py."""
    from distributed_gpu_lsh_using_sycl_spark.operators.multimodal import (
        synth_video_df, video_neardup_pairs)

    ids = _t(spark, sf, "documents").select("doc_id").repartition(
        spark.sparkContext.defaultParallelism)
    return video_neardup_pairs(
        synth_video_df(ids), every_k=2,
        export_hashes_path=_oracle_export_path("video_neardup_pairs",
                                               sf))


# --------------------------------------------------------------------------- #
# documents: text analysis family
# --------------------------------------------------------------------------- #

def _tokens(c):
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda x: x != "")


def _marker_hits(toks, markers):
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def q_lang_id(spark, sf):
    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    cols = {lang: _marker_hits(toks, m)
            for lang, m in (("en", EN), ("es", ES), ("fr", FR), ("de", DE))}
    df = d.select("doc_id", *[v.alias(f"c_{k}") for k, v in cols.items()])
    best = F.greatest("c_en", "c_es", "c_fr", "c_de")
    n_best = sum([(F.col(f"c_{g}") == best).cast("int") for g in ("en", "es", "fr", "de")])
    pred = (F.when(best == 0, "und")
            .when(n_best > 1, "und")
            .when(F.col("c_en") == best, "en")
            .when(F.col("c_es") == best, "es")
            .when(F.col("c_fr") == best, "fr")
            .otherwise("de"))
    return df.select("doc_id", pred.alias("lang_pred"))


def q_text_quality(spark, sf):
    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    punct = F.regexp_count(F.lower("text"), F.lit(BPE_RE.split("|")[2]))
    punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_tokens > 0,
                        _marker_hits(toks, EN).cast("double") / n_tokens).otherwise(0.0)
    score = (F.least(F.lit(1.0), n_tokens / F.lit(100.0))
             * (F.lit(1.0) - punct_ratio) * (F.lit(0.5) + F.lit(0.5) * stop_ratio))
    return d.select(
        "doc_id", n_tokens.alias("n_tokens"), n_chars.alias("n_chars_m"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality_score"))


def q_token_counts(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).alias("ws_tokens"),
        F.regexp_count(F.lower(F.trim("text")), F.lit(BPE_RE)).alias("bpe_tokens"))


def q_doc_fingerprint(spark, sf):
    d = _t(spark, sf, "documents")
    fp = F.expr(
        "aggregate(sequence(1, length(text)), 0L,"
        f" (acc, i) -> (acc * 31 + ascii(substr(text, i, 1))) % {FP_MOD})")
    return d.select("doc_id", fp.alias("fp"))


def q_token_freq_topk(spark, sf, k: int = 100):
    """Corpus-wide top-k token frequencies — the wordcount shape every
    training-data pipeline runs for vocabulary/contamination stats. Plan:
    explode(tokens) → groupBy(token).count() (hash agg with MAP-SIDE
    partial aggregation — the shuffle carries one row per distinct token
    per partition, not one per occurrence) → global top-k via a single
    ordered limit (rank window would shuffle everything to one partition;
    TakeOrderedAndProject does a per-partition heap + driver merge).
    Deterministic tie-break on the token string."""
    d = _t(spark, sf, "documents")
    return (d.select(F.explode(_tokens(F.col("text"))).alias("token"))
            .groupBy("token").agg(F.count("*").alias("freq"))
            .orderBy(F.col("freq").desc(), F.col("token"))
            .limit(k))


# --------------------------------------------------------------------------- #
# embeddings: similarity search
# --------------------------------------------------------------------------- #

def q_knn_brute_topk(spark, sf, k: int = 5):
    """Brute-force cosine top-k (the oracle-runtime analog of the
    reference's sklearn brute k-NN oracle). Ranking on ROUNDED sim with
    id tie-break keeps both engines' orderings identical."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        cosine_col, dot_col, with_norm)
    from distributed_gpu_lsh_using_sycl_spark.operators.pairs import top_k

    e = with_norm(_t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")))
    cores = spark.sparkContext.defaultParallelism
    a = e.repartition(cores).select(F.col("vec_id").alias("vec_id"),
                                    F.col("v").alias("va"), F.col("norm").alias("na"))
    b = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vb"),
                 F.col("norm").alias("nb"))
    sims = (a.join(b, F.col("vec_id") != F.col("neighbor_id"))
            .withColumn("sim", cosine_col(dot_col(F.col("va"), F.col("vb")),
                                          F.col("na"), F.col("nb"))))
    return (top_k(sims, k, "sim", descending=True)
            .select("vec_id", "neighbor_id", "rank", "sim"))


def q_knn_block_matmul_topk(spark, sf, k: int = 5):
    """Exact cosine top-k as an executor-side block grid: every query
    block meets every neighbour tile in one cell of
    operators/embedding.cell_join, whose kernel is one BLAS matmul per
    query chunk and keeps the cell's top-k under the total order
    (-sim, id); one window re-ranks the union. No vectors pass through
    the driver. Same output contract/oracle as q_knn_brute_topk. See
    operators/embedding.knn_topk_tiled and cell_join for the exactness
    argument."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import knn_topk_tiled

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    return knn_topk_tiled(e, k=k, tile_target=1024)


def q_embedding_neardup_pairs(spark, sf):
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        cosine_col, dot_col, with_norm)

    e = with_norm(_t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")))
    cores = spark.sparkContext.defaultParallelism
    a = e.repartition(cores).select(F.col("vec_id").alias("a"),
                                    F.col("v").alias("va"), F.col("norm").alias("na"))
    b = e.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"),
                 F.col("norm").alias("nb"))
    return (a.join(b, F.col("a") < F.col("b"))
            .withColumn("sim", cosine_col(dot_col(F.col("va"), F.col("vb")),
                                          F.col("na"), F.col("nb")))
            .filter(F.col("sim") >= NEARDUP_COS)
            .select("a", "b", "sim"))


def q_ann_lsh_topk(spark, sf, k: int = 5):
    """Multi-table (L=8, OR-construction like the reference's L-table
    probe, hash_tables.hpp:566-578) sign-bit LSH ANN with salted bucket
    joins and exact cosine re-rank. FULLY oracle-checked: the DuckDB SQL
    (parity_hash.ann_oracle_sql) recomputes the same seeded hyperplanes,
    the same sequential-fold projections (bit-identical doubles) and the
    same candidate-union re-rank, so even the approximation's MISSES must
    agree. Recall vs brute top-k additionally asserted ≥ 0.9 in
    tests/test_embedding.py."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import ann_topk_lsh

    e = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return ann_topk_lsh(e, k=k, n_tables=8, bits=6, seed=11, dims=EMB_DIMS)


def q_embedding_neardup_lsh_pairs(spark, sf):
    """Scale path for q_embedding_neardup_pairs: banded multi-table
    hyperplane LSH candidates (salted/skew-split) + exact cosine verify.
    LSH-then-verify reproduces the brute-force set (same SQL oracle).

    Band sizing follows the operating point: per-band collision for
    similarity s is (1 - acos(s)/pi)^bits, so at tau=0.45 (low because
    the fixture's max cosine is ~0.51 — see NEARDUP_COS) 96 bands x
    5 bits give a boundary-pair miss probability (1 - 0.6486^5)^96
    ≈ 8e-6; at a production tau of 0.8 the selective 32x6 config
    suffices (miss ≈ 8e-5). Low tau costs selectivity — that is
    inherent to hyperplane LSH, not to this plan; the candidate stage
    stays salted/capped either way. Non-empty truth additionally
    pinned by tests/test_embedding.py at high tau."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        neardup_pairs_lsh)

    e = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return neardup_pairs_lsh(e, tau=NEARDUP_COS, n_bands=96, bits=5, seed=7,
                             dims=EMB_DIMS)


def q_ivf_topk(spark, sf, k: int = 5):
    """IVF-flat approximate cosine top-k (coarse quantizer + probed-cell
    exact re-rank) — the second ANN scale path next to the LSH tables.
    Deterministic smallest-id centroids make the full structure
    SQL-recomputable, so the oracle checks assignment, probing AND
    re-rank (parity_hash.ivf_oracle_sql)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import ivf_topk

    e = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return ivf_topk(e, k=k, n_centroids=16, nprobe=4)


def q_ivfpq_topk(spark, sf, k: int = 5):
    """IVF-PQ approximate L2 top-k: coarse inverted-file probe + product-
    quantization ADC ranking (embedding.ivfpq_topk) — the compressed-
    domain ANN path (candidate shuffles carry 8 code ids per vector, not
    64 doubles). Deterministic coarse + codebook structure (smallest-id
    rows) and fixed-point-micros ADC sums make the whole thing
    SQL-recomputable: the oracle (parity_hash.ivfpq_oracle_sql) rebuilds
    codebooks, codes, probe sets and ADC ranking from scratch."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        ivfpq_topk)

    e = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return ivfpq_topk(e, k=k, n_centroids=16, nprobe=4, n_sub=8, ks=16,
                      dims=EMB_DIMS)


def q_ivf_kcenter_topk(spark, sf, k: int = 5):
    """IVF-flat with the DATA-ADAPTIVE quantizer: deterministic batched
    farthest-first centers (embedding.kcenter_cents — the k-means||
    schedule of kmeans.kcenter_init) swapped into ivf_topk's ``cents``
    frame. Same assignment/probe/re-rank plan as q_ivf_topk — the swap
    changes ONLY the quantizer input, proving the docstring's claim —
    and the oracle (parity_hash.ivf_kcenter_oracle_sql) recomputes the
    ENTIRE chain including the farthest-first init.

    The codebook is a TRAINED ARTIFACT (embedding.kcenter_codebook):
    built at most once per (embeddings snapshot, config) and shared with
    q_ivfpq_kcenter_topk — train once, probe many; only the probe plan
    runs per query. Values are bit-identical to inline training, so the
    recomputing oracle still hash-matches."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        ivf_topk, kcenter_codebook)

    e = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = kcenter_codebook(
        e, os.path.join(sf, "embeddings.parquet"), n_centroids=16, rounds=2)
    return ivf_topk(e, k=k, n_centroids=16, nprobe=4, cents=cents)


def q_ivfpq_kcenter_topk(spark, sf, k: int = 5):
    """IVF-PQ with the DATA-ADAPTIVE quantizer/codebook source: the
    max(n_centroids, ks) farthest-first centers (embedding.kcenter_cents)
    swapped into ivfpq_topk's ``cents`` frame — coarse cells AND PQ
    codebooks both derive from it, exactly like the smallest-id parity
    mode. The oracle (parity_hash.ivfpq_kcenter_oracle_sql) recomputes
    the farthest-first chain plus the verbatim PQ ranking chain.

    Shares the SAME trained codebook artifact as q_ivf_kcenter_topk
    (embedding.kcenter_codebook, n_centroids=16 == max(n_centroids, ks))
    — the two probe plans reuse one training run."""
    from distributed_gpu_lsh_using_sycl_spark.operators.embedding import (
        ivfpq_topk, kcenter_codebook)

    e = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = kcenter_codebook(
        e, os.path.join(sf, "embeddings.parquet"), n_centroids=16, rounds=2)
    return ivfpq_topk(e, k=k, n_centroids=16, nprobe=4, n_sub=8, ks=16,
                      dims=EMB_DIMS, cents=cents)


def q_ann_recall(spark, sf, k: int = 5):
    """Scalar recall of the multi-table LSH ANN vs the brute-force top-k —
    the reference's own quality metric (% correct vs brute ground truth,
    nearest_neighbors_result.cpp:104-143) as a driver-checked query.

    The VALUE is data-dependent and honestly low on the near-uniform
    testdata embeddings (top-k of uniform vectors are near-orthogonal —
    no sublinear ANN finds those; that is exactly why the reference ships
    a parameter tuner, tune_parameter.py, our tools/tune.py). On
    clustered data the same operator measures ≥ 0.9
    (tests/test_embedding.py). What the driver gate checks here is that
    Spark and DuckDB compute the IDENTICAL number."""
    ann = q_ann_lsh_topk(spark, sf, k).select("vec_id", "neighbor_id")
    brute = q_knn_brute_topk(spark, sf, k).select("vec_id", "neighbor_id")
    hits = brute.join(ann, ["vec_id", "neighbor_id"], "left_semi")
    return (brute.agg(F.count("*").cast("long").alias("total"))
            .crossJoin(hits.agg(F.count("*").cast("long").alias("hits")))
            .select(F.round(F.col("hits") / F.col("total"), 6).alias("recall"),
                    "hits", "total"))


#: embeddings table dimensionality (fixed by TESTDATA.md's generator);
#: the oracle-SQL generators need it without a Spark session.
EMB_DIMS = 64
ENTROPY_SEED = 1234
MIXED_SEED = 4321


def q_entropy_lsh_buckets(spark, sf):
    """Entropy-based hash family (F4, entropy_based.hpp:72-90) over the
    embeddings: distributed cut-off learning (exact order statistics at
    the reference's indices — the A7 analog of its odd-even MPI sort) +
    the uint32 hash_combine fold, ALL in JVM column arithmetic, oracle-
    checked end-to-end by an equivalent DuckDB chain."""
    from distributed_gpu_lsh_using_sycl_spark.operators.parity_hash import (
        entropy_buckets_df)

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    return entropy_buckets_df(e, _parity_cfg(), ENTROPY_SEED, dims=EMB_DIMS,
                              vec_col="embedding")


def q_mixed_lsh_buckets(spark, sf):
    """Mixed hash family (F5, mixed_hash_functions.hpp:74-92): summed
    truncated projections, remainder-distributed cut-off indices, clamped
    table size (nearest_neighbors.cpp:52-56). Oracle-checked like F4."""
    from distributed_gpu_lsh_using_sycl_spark.operators.parity_hash import (
        mixed_buckets_df)

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    return mixed_buckets_df(e, _parity_cfg(), MIXED_SEED, vec_col="embedding",
                            dims=EMB_DIMS)


def _parity_cfg():
    """Reference CLI defaults (options.cpp:74-82): L=8 tables, k=12
    functions, pool 32, 6 cut-off points, table size 105613."""
    from distributed_gpu_lsh_using_sycl_spark.config import LshConfig

    return LshConfig()


def q_rp_parity_buckets(spark, sf):
    """Reference-semantics random-projections bucket assignment
    (random_projections.hpp:72-85 chain) over the embeddings — the parity
    operator, as one Arrow kernel (parity_hash.rp_buckets_df) whose
    sequential-fold projections are bit-identical to the driver's DuckDB
    oracle (rp_oracle_sql). The vectorized NumPy twin
    (hashing.random_projection_buckets) stays the pytest arbiter for the
    reference's exact einsum-order chain."""
    from distributed_gpu_lsh_using_sycl_spark.operators.parity_hash import (
        rp_buckets_df)

    e = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return rp_buckets_df(e, _parity_cfg(), dims=EMB_DIMS)


def q_lsh_knn(spark, sf, k: int = 5):
    """THE reference query: fit + kneighbors (``./prog input_file k``,
    main.cpp:46-55) under the random-projections family, as the
    distributed plan in operators/lsh_knn.lsh_kneighbors. FULLY
    oracle-checked: parity_hash.lsh_knn_oracle_sql recomputes the bucket
    chain, the any-table candidate scan, the sequential-fold squared-L2
    re-rank AND the own-id not-found fill in DuckDB, so the approximation
    itself (including its misses) must agree value-for-value. Also pinned
    slot-for-slot against parity/oracle.knn_oracle in
    tests/test_lsh_knn.py, and runnable from the CLI analog
    jobs/run_lsh_knn.py."""
    from distributed_gpu_lsh_using_sycl_spark.operators.lsh_knn import (
        lsh_kneighbors)

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    return lsh_kneighbors(e, k, family="random_projections", dims=EMB_DIMS,
                          cfg=_parity_cfg(), vec_col="embedding")


def q_bin_interop_lsh_knn(spark, sf, k: int = 5):
    """The SAME fit+kneighbors as q_lsh_knn, but reading the vectors
    through the reference's raw ``.bin`` file format
    (sources/binary_format — binary_parser.hpp:126-236 analog) instead of
    parquet: the interop surface, now driver-gated. The .bin file is
    input data, not the operator under test — it is prepared once per
    embeddings snapshot (sources.artifacts keying, so a regenerated
    parquet invalidates it) in float64, which round-trips the doubles
    bit-exactly; vec_ids are contiguous 0..n-1 and the writer orders by
    id, so the reader's positional ids coincide with vec_id. The result
    is therefore value-identical to q_lsh_knn and shares its full DuckDB
    oracle (lsh_knn_oracle_sql recomputes buckets, candidate scan,
    fold-L2 re-rank, own-id fill over the parquet table)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.lsh_knn import (
        lsh_kneighbors)
    from distributed_gpu_lsh_using_sycl_spark.sources.binary_format import (
        read_binary_vectors)

    e = read_binary_vectors(spark, _prepare_bin_interop(spark, sf))
    return lsh_kneighbors(e, k, family="random_projections", dims=EMB_DIMS,
                          cfg=_parity_cfg(), vec_col="embedding")


def _prepare_bin_interop(spark, sf) -> str:
    """Write the embeddings table to a reference-format ``.bin`` file
    (float64 — bit-exact round-trip) once per parquet snapshot; returns
    the cached path. Split out so bench.py can prepare the input file
    OUTSIDE its timed region (it is input data, not the operator under
    test); a regenerated parquet changes the artifact key and forces a
    rewrite (never a stale bench/correctness input)."""
    from distributed_gpu_lsh_using_sycl_spark.sources.artifacts import (
        artifact_path)
    from distributed_gpu_lsh_using_sycl_spark.sources.binary_format import (
        write_binary_vectors)

    src = os.path.join(sf, "embeddings.parquet")
    bin_path = artifact_path("bin_interop", src, {"use_double": True},
                             suffix=".bin")
    if not os.path.exists(bin_path):
        os.makedirs(os.path.dirname(bin_path), exist_ok=True)
        emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
        write_binary_vectors(emb, bin_path, dims=EMB_DIMS, use_double=True)
    return bin_path


def q_kmeans_clusters(spark, sf, k: int = 8, n_iter: int = 6):
    """Deterministic Lloyd's k-means (operators/kmeans) at a NON-TOY
    config: batched farthest-first init (the deterministic k-means||
    schedule, kcenter_init) + up to 5 Lloyd updates with a
    convergence stop (exact centroid fixpoint). FULLY oracle-checked,
    which most k-means can't be: fixed-point integer centroid sums make
    every engine's accumulation order irrelevant, so the DuckDB oracle
    (kmeans_oracle_sql) unrolls the same init chain + iterations and
    must match the assignment value-for-value — unrolled rounds past
    the fixpoint are exact no-ops, so the early stop is oracle-safe."""
    from distributed_gpu_lsh_using_sycl_spark.operators.kmeans import (
        kmeans_assign)

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    return kmeans_assign(e, n_centroids=k, n_iter=n_iter, vec_col="embedding",
                         init="kcenter", init_rounds=2)


def q_cc_clusters(spark, sf):
    """Connected components (operators/components: driver union-find up to
    SMALL_GRAPH_EDGES, large-star/small-star past it) under the hard
    correctness signal: edges = exact-dup pairs ∪ substring-containment
    pairs (both SQL-derivable, and containment CHAINS — a⊂b, b⊂c — make
    non-trivial components), clusters = component minimum, singletons =
    self. Oracle: DuckDB recursive-CTE transitive
    closure with min-aggregation."""
    from distributed_gpu_lsh_using_sycl_spark.operators.components import (
        assign_clusters)

    d = _t(spark, sf, "documents")
    exact = q_dedup_exact_pairs(spark, sf)
    subs = q_dedup_substring_pairs(spark, sf)
    edges = exact.unionByName(subs).distinct()
    # assign_clusters takes the driver union-find fast path up to its
    # SMALL_GRAPH_EDGES bound (every sf here) and broadcasts that result
    # into the vertex join; past the bound the star loop runs (identical
    # assignments, pinned in tests/test_components.py).
    return (assign_clusters(d, edges, id_col="doc_id")
            .select(F.col("image_id").alias("doc_id"), "cluster_id"))


def q_e2e_caption_dedup(spark, sf):
    """The FLAGSHIP end-to-end batch pipeline (plans/pipeline.py) over the
    documents table, value-hash checked: blob-scan pushdown signature
    stage (sources/blob_scan.py — Spark plans row-group splits, pyarrow
    reads them inside the Python stage) → MinHash banding + substring/
    window candidates → exact Jaccard / containment verify → large-star/
    small-star connected components. The DuckDB oracle recomputes the
    same semantics non-staged: edges = brute-force Jaccard>=tau pairs ∪
    substring-containment pairs, recursive-CTE transitive closure, min
    id per component. This row hash-gates the scan path end to end: the
    blob-scan kernels are bit-identical twins of the JVM signature chain,
    so the cluster assignment must not move."""
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import run_dedup

    docs_path = os.path.join(sf, "documents.parquet")
    res = run_dedup(spark, None, _dedup_cfg(), with_image=False,
                    id_col="doc_id", text_col="text", scan_path=docs_path)
    return (res["clusters"]
            .select(F.col("image_id").alias("doc_id"), "cluster_id"))


def q_streaming_dedup_clusters(spark, sf):
    """END-TO-END INCREMENTAL dedup, value-hash checked: the full
    streaming cycle — incremental signature ingest (the blob scan over
    the files its log does not list yet) → delta bucket join (the wave's
    bands broadcast, probed by the signature table's) → batch verify+CC
    reconcile — run as TWO waves (even doc_ids land first, odd second)
    over the documents table (streaming/e2e.py). The DuckDB oracle
    recomputes the SAME semantics in one batch: brute-force Jaccard>=tau
    pairs + recursive-CTE connected components — so the cycle's
    convergence-to-batch contract gets the hard driver signal, not just
    pytest. Each run starts from a clean warehouse (deterministic row).

    CC runs over the stream's string ids (lexicographic min); the
    output re-canonicalizes each component to its NUMERIC min id, which
    is representation-independent."""
    import shutil

    from distributed_gpu_lsh_using_sycl_spark.streaming.e2e import (
        streaming_dedup_cycle)

    base = os.path.join("/tmp/dlsh_stream_e2e",
                        os.path.basename(sf.rstrip("/")))
    shutil.rmtree(base, ignore_errors=True)
    inp = os.path.join(base, "in")
    wh = os.path.join(base, "wh")
    os.makedirs(inp, exist_ok=True)
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
        F.lit(None).cast("string").alias("fmt"),
        F.col("text").alias("caption"),
        F.lit(None).cast("long").alias("phash"))
    cfg = _dedup_cfg()
    d.filter(F.col("image_id").cast("long") % 2 == 0) \
        .write.mode("overwrite").parquet(os.path.join(inp, "w1"))
    # each wave's signing width is the blob scan's (scan_partitions: at
    # most one task per row group of the wave's new files)
    streaming_dedup_cycle(spark, inp + "/*", wh, cfg, reconcile=False)
    d.filter(F.col("image_id").cast("long") % 2 == 1) \
        .write.mode("overwrite").parquet(os.path.join(inp, "w2"))
    res = streaming_dedup_cycle(spark, inp + "/*", wh, cfg)
    c = res["clusters"]
    canon = c.groupBy("cluster_id").agg(
        F.min(F.col("image_id").cast("long")).alias("canon"))
    return (c.join(canon, "cluster_id")
            .select(F.col("image_id").cast("long").alias("doc_id"),
                    F.col("canon").alias("cluster_id")))


# --------------------------------------------------------------------------- #
# TPC-H-ish operator coverage (SURVEY §2 analogs)
# --------------------------------------------------------------------------- #

def q_q1_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count("*").alias("count_order")))


def q_revenue_by_nation(spark, sf):
    """Broadcast-join chain region←nation←customer←orders←lineitem."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("n_name", "r_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                 .alias("revenue"),
                 F.count("*").alias("n_items")))


def q_bucket_histogram(spark, sf):
    """A1 analog: count(*) group by bucket — the skew detector shape."""
    li = _t(spark, sf, "lineitem")
    return (li.withColumn("bucket", F.col("l_partkey") % 1009)
            .groupBy("bucket").agg(F.count("*").alias("cnt")))


def q_bucket_offsets(spark, sf):
    """A2 analog: exclusive prefix sum over bucket counts → CSR offsets."""
    h = q_bucket_histogram(spark, sf)
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    return h.select("bucket", "cnt",
                    F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("offset"))


def q_topk_per_group(spark, sf, k: int = 5):
    """W1 analog: per-group top-k maintenance via window row_number
    (the engine's one top-k tail, ``pairs.top_k``)."""
    from distributed_gpu_lsh_using_sycl_spark.operators.pairs import top_k

    li = _t(spark, sf, "lineitem")
    return (top_k(li, k, "l_extendedprice", descending=True,
                  point="l_suppkey", ties=("l_orderkey", "l_linenumber"))
            .select("l_suppkey", "rank", "l_orderkey", "l_linenumber",
                    F.round("l_extendedprice", 4).alias("price")))


def q_global_sort_top100(spark, sf):
    """W2 analog: distributed sort (range-partitioned) with limit."""
    li = _t(spark, sf, "lineitem")
    return (li.orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
            .limit(100)
            .select("l_orderkey", "l_linenumber",
                    F.round("l_extendedprice", 4).alias("price")))


def q_quantiles(spark, sf):
    """A7 analog: distributed order statistics (exact percentiles)."""
    li = _t(spark, sf, "lineitem")
    return li.select(
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.75)"), 4).alias("p75"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"))


def q_recall_join(spark, sf):
    """J4 analog: semi-join recall metric — |pred ∩ truth| / |truth|."""
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    truth = (li.filter(F.col("l_extendedprice") > 50000)
             .select(F.col("l_orderkey").alias("okey")).distinct())
    pred = (o.filter(F.col("o_totalprice") > 150000)
            .select(F.col("o_orderkey").alias("okey")).distinct())
    hit = pred.join(truth, "okey", "left_semi").count()
    total = truth.count()
    return spark.createDataFrame(
        [(round(hit / total, 6) if total else 0.0, hit, total)],
        "recall double, hits long, total long")


def q_error_ratio(spark, sf):
    """J5 analog: mean over groups of a per-group ratio of aggregates."""
    li = _t(spark, sf, "lineitem")
    per_order = (li.groupBy("l_orderkey")
                 .agg((F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                       / F.sum("l_extendedprice")).alias("ratio")))
    return per_order.agg(F.round(F.avg("ratio"), 6).alias("mean_ratio"),
                         F.count("*").alias("n_orders"))


def q_collect_group(spark, sf):
    """A3 analog: group materialization via collect_set (sorted). The set
    is emitted as a joined STRING — the driver's canonicalizer sorts
    columns pandas-side and array cells are unhashable there, so the
    comparator contract requires scalar cells."""
    li = _t(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",")
                 .alias("statuses"),
                 F.count("*").alias("cnt")))


def q_set_ops(spark, sf):
    """Set operations: buyers ∪/∩/∖ big-spenders (by custkey)."""
    o = _t(spark, sf, "orders")
    buyers = o.select(F.col("o_custkey").alias("k")).distinct()
    big = o.filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("k")).distinct()
    return spark.createDataFrame(
        [("union", buyers.union(big).distinct().count()),
         ("intersect", buyers.intersect(big).count()),
         ("except", buyers.exceptAll(big).distinct().count())],
        "op string, n long")


def q_windowed_events(spark, sf):
    """Tumbling 5-min windows over the events stream table."""
    e = _t(spark, sf, "events")
    win = (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("long")
    return (e.groupBy(win.alias("win_start"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def q_sessionization(spark, sf, gap_s: int = 1800):
    """Gap-based sessionization (stateful-op analog done with windows)."""
    e = _t(spark, sf, "events").withColumn("tsec", F.unix_timestamp("ts"))
    w = W.partitionBy("user_id").orderBy("tsec", "event_id")
    new_sess = (F.when(F.lag("tsec").over(w).isNull(), 1)
                .when(F.col("tsec") - F.lag("tsec").over(w) > gap_s, 1)
                .otherwise(0))
    cum = W.partitionBy("user_id").orderBy("tsec", "event_id") \
           .rowsBetween(W.unboundedPreceding, 0)
    sess = (e.withColumn("new_sess", new_sess)
            .withColumn("session_id", F.sum("new_sess").over(cum)))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("tsec").alias("first_ts"),
                 F.max("tsec").alias("last_ts"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


# --------------------------------------------------------------------------- #
# driver contract
# --------------------------------------------------------------------------- #

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: caption-dedup (MinHash LSH + substring pass + connected
    components) over sf0.001 documents; returns cluster assignments with
    per-cluster sizes."""
    from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import run_dedup

    docs = _t(spark, SF_DEFAULT, "documents")
    res = run_dedup(spark, docs, _dedup_cfg(), with_image=False,
                    id_col="doc_id", text_col="text")
    clusters = res["clusters"]
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (clusters.join(sizes, "cluster_id")
            .select(F.col("image_id").alias("doc_id"), "cluster_id", "cluster_size")
            .orderBy("doc_id"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_exact_clusters": q_dedup_exact_clusters,
        "dedup_exact_pairs": q_dedup_exact_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "dedup_minhash_lsh_pairs": q_dedup_minhash_lsh_pairs,
        "dedup_minhash_blobscan_pairs": q_dedup_minhash_blobscan_pairs,
        "dedup_substring_pairs": q_dedup_substring_pairs,
        "lcs_window_pairs": q_lcs_window_pairs,
        "doc_simhash_pairs": q_doc_simhash_pairs,
        "lang_id": q_lang_id,
        "text_quality": q_text_quality,
        "token_counts": q_token_counts,
        "token_freq_topk": q_token_freq_topk,
        "doc_fingerprint": q_doc_fingerprint,
        "cc_clusters": q_cc_clusters,
        "e2e_caption_dedup": q_e2e_caption_dedup,
        "streaming_dedup_clusters": q_streaming_dedup_clusters,
        "image_simhash_pairs": q_image_simhash_pairs,
        "image_phash_pairs": q_image_phash_pairs,
        "audio_neardup_pairs": q_audio_neardup_pairs,
        "video_neardup_pairs": q_video_neardup_pairs,
        "knn_brute_topk": q_knn_brute_topk,
        "knn_block_matmul_topk": q_knn_block_matmul_topk,
        "embedding_neardup_pairs": q_embedding_neardup_pairs,
        "embedding_neardup_lsh_pairs": q_embedding_neardup_lsh_pairs,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_recall": q_ann_recall,
        "ivf_topk": q_ivf_topk,
        "ivf_kcenter_topk": q_ivf_kcenter_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "ivfpq_kcenter_topk": q_ivfpq_kcenter_topk,
        "rp_parity_buckets": q_rp_parity_buckets,
        "lsh_knn": q_lsh_knn,
        "bin_interop_lsh_knn": q_bin_interop_lsh_knn,
        "kmeans_clusters": q_kmeans_clusters,
        "entropy_lsh_buckets": q_entropy_lsh_buckets,
        "mixed_lsh_buckets": q_mixed_lsh_buckets,
        "q1_pricing_summary": q_q1_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "bucket_histogram": q_bucket_histogram,
        "bucket_offsets": q_bucket_offsets,
        "topk_per_group": q_topk_per_group,
        "global_sort_top100": q_global_sort_top100,
        "quantiles": q_quantiles,
        "recall_join": q_recall_join,
        "error_ratio": q_error_ratio,
        "collect_group": q_collect_group,
        "set_ops": q_set_ops,
        "windowed_events": q_windowed_events,
        "sessionization": q_sessionization,
    }


# --------------------------------------------------------------------------- #
# DuckDB oracles
# --------------------------------------------------------------------------- #

_TOKS_CTE = ("toks as (select doc_id, list_filter("
             "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') words "
             "from documents)")
_SHINGLES_CTE = (
    "sh as (select doc_id, case when len(words) = 0 then []::varchar[] "
    "when len(words) < 3 then [array_to_string(words, ' ')] "
    "else list_distinct(list_transform(range(1, len(words) - 1), "
    "i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) end s from toks)")
_JACCARD_PAIRS_SQL = f"""
with {_TOKS_CTE}, {_SHINGLES_CTE}
select a.doc_id as a, b.doc_id as b,
       round(cast(len(list_intersect(a.s, b.s)) as double)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) as jaccard
from sh a join sh b on a.doc_id < b.doc_id
where len(a.s) + len(b.s) > 0
  and round(cast(len(list_intersect(a.s, b.s)) as double)
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= {JACCARD_TAU}
"""
# NOTE: the filter is on the ROUNDED jaccard, matching the Spark side
# exactly (a pair with true J in [0.4999995, 0.5) rounds up on both sides).


def _in_list(items) -> str:
    return ", ".join(f"'{w}'" for w in items)


_LANG_COUNTS = ", ".join(
    f"len(list_filter(words, x -> x in ({_in_list(m)}))) as c_{lang}"
    for lang, m in (("en", EN), ("es", ES), ("fr", FR), ("de", DE)))


_KNN_SQL = """
    with sims as (
      select a.vec_id, b.vec_id as neighbor_id,
        round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
           * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
          6) as sim
      from embeddings a join embeddings b on a.vec_id <> b.vec_id),
    ranked as (select *, row_number() over
      (partition by vec_id order by sim desc, neighbor_id) as rank from sims)
    select vec_id, neighbor_id, rank, sim from ranked where rank <= 5"""


_NEARDUP_SQL = f"""
    select a.vec_id as a, b.vec_id as b,
      round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
        6) as sim
    from embeddings a join embeddings b on a.vec_id < b.vec_id
    where round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
        6) >= {NEARDUP_COS}"""


def _kmeans_oracle() -> str:
    from distributed_gpu_lsh_using_sycl_spark.operators.kmeans import (
        kmeans_oracle_sql)

    return kmeans_oracle_sql(n_centroids=8, n_iter=6, dims=EMB_DIMS,
                             init="kcenter", init_rounds=2)


def oracle_sql() -> dict[str, str]:
    from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
    from distributed_gpu_lsh_using_sycl_spark.operators.parity_hash import (
        ann_oracle_sql, doc_simhash_oracle_sql, entropy_oracle_sql,
        ivf_kcenter_oracle_sql, ivf_oracle_sql, ivfpq_kcenter_oracle_sql,
        ivfpq_oracle_sql, lsh_knn_oracle_sql,
        mixed_oracle_sql, rp_oracle_sql)

    video_glob = os.path.join(_ORACLE_EXPORT_BASE, _ORACLE_SF,
                              "video_neardup_pairs.parquet", "*.parquet")
    return {
        "doc_simhash_pairs": doc_simhash_oracle_sql(
            k=SHINGLE_K, hamming_threshold=LshConfig().hamming_threshold),
        # binary-decode queries: each Spark query exports its computed
        # fingerprints (and continues from the read-back copy), so the
        # oracle brute-forces the pair stage over the exact values used —
        # see _ORACLE_EXPORT_BASE. The driver runs the Spark query before
        # its oracle, so the export always exists and matches.
        "image_simhash_pairs": _hamming_pairs_oracle("image_simhash_pairs"),
        "image_phash_pairs": _hamming_pairs_oracle("image_phash_pairs"),
        "audio_neardup_pairs": _hamming_pairs_oracle("audio_neardup_pairs"),
        "video_neardup_pairs": f"""
            with fh as (select video_id, phash from read_parquet('{video_glob}'))
            select a.video_id as a, b.video_id as b,
                   count(*) as shared_frames
            from fh a join fh b
              on a.phash = b.phash and a.video_id < b.video_id
            group by 1, 2
            having count(*) >= 2""",
        "dedup_exact_clusters":
            "select doc_id, min(doc_id) over (partition by text) as cluster_id "
            "from documents",
        "dedup_exact_pairs":
            "select a.doc_id as a, b.doc_id as b from documents a "
            "join documents b on a.text = b.text and a.doc_id < b.doc_id",
        "ngram_jaccard_pairs": _JACCARD_PAIRS_SQL,
        "dedup_minhash_lsh_pairs": _JACCARD_PAIRS_SQL,
        "dedup_minhash_blobscan_pairs": _JACCARD_PAIRS_SQL,
        "dedup_substring_pairs": f"""
            select a.doc_id as a, b.doc_id as b
            from documents a join documents b on a.doc_id < b.doc_id
            where least(length(a.text), length(b.text)) >= {SUBSTR_L}
              and (contains(a.text, b.text) or contains(b.text, a.text))""",
        "lcs_window_pairs": f"""
            with wins as (
              select doc_id, unnest(list_distinct(list_transform(
                range(1, length(text) - {SUBSTR_L} + 2),
                i -> substr(text, i, {SUBSTR_L})))) as w
              from documents where length(text) >= {SUBSTR_L})
            select distinct a.doc_id as a, b.doc_id as b
            from wins a join wins b on a.w = b.w and a.doc_id < b.doc_id""",
        "lang_id": f"""
            with {_TOKS_CTE},
            c as (select doc_id, {_LANG_COUNTS} from toks),
            g as (select *, greatest(c_en, c_es, c_fr, c_de) as best,
                  (case when c_en = greatest(c_en, c_es, c_fr, c_de) then 1 else 0 end
                 + case when c_es = greatest(c_en, c_es, c_fr, c_de) then 1 else 0 end
                 + case when c_fr = greatest(c_en, c_es, c_fr, c_de) then 1 else 0 end
                 + case when c_de = greatest(c_en, c_es, c_fr, c_de) then 1 else 0 end)
                  as n_best from c)
            select doc_id, case when best = 0 then 'und' when n_best > 1 then 'und'
              when c_en = best then 'en' when c_es = best then 'es'
              when c_fr = best then 'fr' else 'de' end as lang_pred from g""",
        "text_quality": f"""
            with {_TOKS_CTE},
            q as (select d.doc_id, words, length(d.text) as n_chars_m,
                  len(regexp_extract_all(lower(d.text), '[^a-z0-9\\s]')) as punct
                  from documents d join toks on d.doc_id = toks.doc_id)
            select doc_id, len(words) as n_tokens, n_chars_m,
              round(case when n_chars_m > 0
                    then cast(punct as double) / n_chars_m else 0.0 end, 6) as punct_ratio,
              round(case when len(words) > 0 then
                    cast(len(list_filter(words, x -> x in ({_in_list(EN)}))) as double)
                    / len(words) else 0.0 end, 6) as stop_ratio,
              round(least(1.0, len(words) / 100.0)
                * (1.0 - case when n_chars_m > 0
                          then cast(punct as double) / n_chars_m else 0.0 end)
                * (0.5 + 0.5 * case when len(words) > 0 then
                   cast(len(list_filter(words, x -> x in ({_in_list(EN)}))) as double)
                   / len(words) else 0.0 end), 6) as quality_score
            from q""",
        "token_counts": f"""
            with {_TOKS_CTE}
            select d.doc_id, len(words) as ws_tokens,
              len(regexp_extract_all(lower(trim(d.text)), '{BPE_RE}')) as bpe_tokens
            from documents d join toks on d.doc_id = toks.doc_id""",
        "token_freq_topk": f"""
            with {_TOKS_CTE},
            tok as (select unnest(words) as token from toks)
            select token, count(*) as freq from tok
            group by token order by freq desc, token limit 100""",
        "doc_fingerprint": f"""
            select doc_id, list_reduce(
              list_prepend(cast(0 as bigint),
                list_transform(range(1, length(text) + 1),
                               i -> cast(ord(substr(text, i, 1)) as bigint))),
              (acc, c) -> (acc * 31 + c) % {FP_MOD}) as fp
            from documents""",
        "cc_clusters": f"""
            with recursive
            ex as (select a.doc_id as a, b.doc_id as b from documents a
                   join documents b on a.text = b.text and a.doc_id < b.doc_id),
            sub as (select a.doc_id as a, b.doc_id as b
                    from documents a join documents b on a.doc_id < b.doc_id
                    where least(length(a.text), length(b.text)) >= {SUBSTR_L}
                      and (contains(a.text, b.text) or contains(b.text, a.text))),
            e as (select a as u, b as v from ex union select b, a from ex
                  union select a as u, b as v from sub union select b, a from sub),
            walk(id, r) as (
              select doc_id, doc_id from documents
              union
              select w.id, e.v from walk w join e on e.u = w.r
            )
            select id as doc_id, min(r) as cluster_id from walk group by id""",
        # flagship pipeline: verified edges are (brute Jaccard>=tau pairs)
        # ∪ (substring-containment pairs, min length SUBSTR_L — the
        # auto-verified "substring" source); window-share candidates only
        # survive the verify when their Jaccard clears tau, so they add
        # nothing beyond jp. Transitive closure + min, as in cc_clusters.
        "e2e_caption_dedup": f"""
            with recursive {_TOKS_CTE}, {_SHINGLES_CTE},
            jp as (select a.doc_id as a, b.doc_id as b
                   from sh a join sh b on a.doc_id < b.doc_id
                   where len(a.s) + len(b.s) > 0
                     and round(cast(len(list_intersect(a.s, b.s)) as double)
                         / (len(a.s) + len(b.s)
                            - len(list_intersect(a.s, b.s))), 6)
                         >= {JACCARD_TAU}),
            sub as (select a.doc_id as a, b.doc_id as b
                    from documents a join documents b on a.doc_id < b.doc_id
                    where least(length(a.text), length(b.text)) >= {SUBSTR_L}
                      and (contains(a.text, b.text) or contains(b.text, a.text))),
            e as (select a as u, b as v from jp union select b, a from jp
                  union select a as u, b as v from sub union select b, a from sub),
            walk(id, r) as (
              select doc_id, doc_id from documents
              union
              select w.id, e.v from walk w join e on e.u = w.r
            )
            select id as doc_id, min(r) as cluster_id from walk group by id""",
        "streaming_dedup_clusters": f"""
            with recursive {_TOKS_CTE}, {_SHINGLES_CTE},
            jp as (select a.doc_id as a, b.doc_id as b
                   from sh a join sh b on a.doc_id < b.doc_id
                   where len(a.s) + len(b.s) > 0
                     and round(cast(len(list_intersect(a.s, b.s)) as double)
                         / (len(a.s) + len(b.s)
                            - len(list_intersect(a.s, b.s))), 6)
                         >= {JACCARD_TAU}),
            e as (select a as u, b as v from jp union select b, a from jp),
            walk(id, r) as (
              select doc_id, doc_id from documents
              union
              select w.id, e.v from walk w join e on e.u = w.r
            )
            select id as doc_id, min(r) as cluster_id from walk group by id""",
        "knn_block_matmul_topk": _KNN_SQL,
        "knn_brute_topk": _KNN_SQL,
        "embedding_neardup_pairs": _NEARDUP_SQL,
        "embedding_neardup_lsh_pairs": _NEARDUP_SQL,
        "entropy_lsh_buckets": entropy_oracle_sql(_parity_cfg(), EMB_DIMS,
                                                  ENTROPY_SEED),
        "mixed_lsh_buckets": mixed_oracle_sql(_parity_cfg(), EMB_DIMS,
                                              MIXED_SEED),
        "rp_parity_buckets": rp_oracle_sql(_parity_cfg(), EMB_DIMS),
        "lsh_knn": lsh_knn_oracle_sql(_parity_cfg(), EMB_DIMS, k=5),
        # the interop query reads the SAME vectors via the .bin round-trip
        # (float64 = bit-exact, positional ids == vec_id) — the parquet
        # oracle is its exact twin by construction
        "bin_interop_lsh_knn": lsh_knn_oracle_sql(_parity_cfg(), EMB_DIMS,
                                                  k=5),
        "kmeans_clusters": _kmeans_oracle(),
        "ann_lsh_topk": ann_oracle_sql(n_tables=8, bits=6, seed=11,
                                       dims=EMB_DIMS, k=5),
        "ivf_topk": ivf_oracle_sql(dims=EMB_DIMS, k=5, n_centroids=16,
                                   nprobe=4),
        "ivf_kcenter_topk": ivf_kcenter_oracle_sql(
            dims=EMB_DIMS, k=5, n_centroids=16, nprobe=4, rounds=2),
        "ivfpq_topk": ivfpq_oracle_sql(dims=EMB_DIMS, k=5, n_centroids=16,
                                       nprobe=4, n_sub=8, ks=16),
        "ivfpq_kcenter_topk": ivfpq_kcenter_oracle_sql(
            dims=EMB_DIMS, k=5, n_centroids=16, nprobe=4, n_sub=8, ks=16,
            rounds=2),
        "ann_recall": f"""
            with b as (select vec_id, neighbor_id from ({_KNN_SQL}) t),
                 a as (select vec_id, neighbor_id from (
                   {ann_oracle_sql(n_tables=8, bits=6, seed=11,
                                   dims=EMB_DIMS, k=5)}) t)
            select round(count(a.vec_id) * 1.0 / count(*), 6) as recall,
                   count(a.vec_id)::BIGINT as hits, count(*)::BIGINT as total
            from b left join a using (vec_id, neighbor_id)""",
        "q1_pricing_summary": """
            select l_returnflag, l_linestatus,
              round(sum(l_quantity), 4) as sum_qty,
              round(sum(l_extendedprice), 4) as sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 4) as sum_disc_price,
              round(avg(l_quantity), 6) as avg_qty,
              count(*) as count_order
            from lineitem where l_shipdate <= '1998-09-02'
            group by l_returnflag, l_linestatus""",
        "revenue_by_nation": """
            select n_name, r_name,
              round(sum(l_extendedprice * (1 - l_discount)), 4) as revenue,
              count(*) as n_items
            from lineitem join orders on l_orderkey = o_orderkey
              join customer on o_custkey = c_custkey
              join nation on c_nationkey = n_nationkey
              join region on n_regionkey = r_regionkey
            group by n_name, r_name""",
        "bucket_histogram":
            "select l_partkey % 1009 as bucket, count(*) as cnt "
            "from lineitem group by 1",
        "bucket_offsets": """
            -- casts: DuckDB window sums return HUGEINT, which reaches the
            -- driver's hasher as a non-int64 cell and hash-mismatches even
            -- when values are equal. Everything integral goes out as bigint.
            with h as (select l_partkey % 1009 as bucket, count(*) as cnt
                       from lineitem group by 1)
            select bucket, cnt,
              cast(coalesce(sum(cnt) over (order by bucket
                rows between unbounded preceding and 1 preceding), 0) as bigint)
                as offset
            from h""",
        "topk_per_group": """
            with r as (select l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
              row_number() over (partition by l_suppkey
                order by l_extendedprice desc, l_orderkey, l_linenumber) as rank
              from lineitem)
            select l_suppkey, rank, l_orderkey, l_linenumber,
              round(l_extendedprice, 4) as price from r where rank <= 5""",
        "global_sort_top100": """
            select l_orderkey, l_linenumber, round(l_extendedprice, 4) as price
            from lineitem
            order by l_extendedprice desc, l_orderkey, l_linenumber limit 100""",
        "quantiles": """
            select round(quantile_cont(l_extendedprice, 0.25), 4) as p25,
                   round(quantile_cont(l_extendedprice, 0.5), 4) as p50,
                   round(quantile_cont(l_extendedprice, 0.75), 4) as p75,
                   round(quantile_cont(l_extendedprice, 0.9), 4) as p90,
                   round(quantile_cont(l_extendedprice, 0.99), 4) as p99
            from lineitem""",
        "recall_join": """
            with truth as (select distinct l_orderkey as okey from lineitem
                           where l_extendedprice > 50000),
                 pred as (select distinct o_orderkey as okey from orders
                          where o_totalprice > 150000),
                 hit as (select count(*) as hits from pred
                         where okey in (select okey from truth)),
                 tot as (select count(*) as total from truth)
            select round(cast(hits as double) / total, 6) as recall, hits, total
            from hit, tot""",
        "error_ratio": """
            with per_order as (
              select l_orderkey,
                sum(l_extendedprice * (1 - l_discount)) / sum(l_extendedprice) as ratio
              from lineitem group by l_orderkey)
            select round(avg(ratio), 6) as mean_ratio, count(*) as n_orders
            from per_order""",
        "collect_group": """
            select l_returnflag,
              array_to_string(list_sort(list_distinct(list(l_linestatus))), ',')
                as statuses,
              count(*) as cnt
            from lineitem group by l_returnflag""",
        "set_ops": """
            with buyers as (select distinct o_custkey as k from orders),
                 big as (select distinct o_custkey as k from orders
                         where o_totalprice > 200000)
            select 'union' as op, (select count(*) from
              (select k from buyers union select k from big)) as n
            union all select 'intersect',
              (select count(*) from (select k from buyers intersect select k from big))
            union all select 'except',
              (select count(*) from (select k from buyers except select k from big))""",
        "windowed_events": """
            select cast(floor(epoch(ts) / 300) * 300 as bigint) as win_start,
              event_type, count(*) as n, round(sum(value), 4) as sum_value
            from events group by 1, 2""",
        "sessionization": """
            with t as (select user_id, event_id, value,
                cast(floor(epoch(ts)) as bigint) as tsec from events),
            m as (select *, case when lag(tsec) over
                (partition by user_id order by tsec, event_id) is null then 1
                when tsec - lag(tsec) over
                (partition by user_id order by tsec, event_id) > 1800 then 1
                else 0 end as new_sess from t),
            s as (select *, cast(sum(new_sess) over (partition by user_id
                order by tsec, event_id
                rows between unbounded preceding and current row) as bigint)
                as session_id from m)
            select user_id, session_id, count(*) as n_events,
              min(tsec) as first_ts, max(tsec) as last_ts,
              round(cast(sum(value) as double), 4) as sum_value
            from s group by user_id, session_id""",
    }
