"""Candidate-pair rehydration and verification — the distance predicate
of the pipeline.

``pair_features`` is the one rehydration: every banded caller joins its
candidate (a, b) pairs back to per-id features through it, the fetch
step of the reference's probe-then-verify loop (``hash_tables.hpp:566-592``).
``verify_pairs`` is the analog of the reference's theta-join predicate
(squared L2, ``hash_tables.hpp:586-592``) with the north rule's measures:
exact Jaccard over distinct shingle CRCs, and Hamming over phash/simhash.
Everything here is JVM-side built-ins (array_intersect / bit_count in
whole-stage codegen) — no Python in the verify hot path at all, which
beats even a pandas UDF.

Like the reference defers sqrt until after search (deferred-monotone
rewrite, nearest_neighbors.cpp:126-135), we compute thresholds on integer
intersection counts / popcounts and only materialize the float jaccard in
the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig


def pair_features(pairs: DataFrame, feats: DataFrame, cols: tuple[str, ...],
                  id_col: str = "image_id") -> DataFrame:
    """Rehydrate (a, b) pairs with both ids' features: adds ``<c>_a`` and
    ``<c>_b`` for each ``c`` in ``cols``. Two inner hash-joins on id, ``a``
    first — at 1000-executor scale this is the standard rehydration
    pattern, and both joins share the exchange when ``feats`` is
    bucketed by id."""
    def side(s: str) -> DataFrame:
        return feats.select(F.col(id_col).alias(s),
                            *[F.col(c).alias(f"{c}_{s}") for c in cols])

    return pairs.join(side("a"), "a").join(side("b"), "b")


def attach_features(pairs: DataFrame, signatures: DataFrame) -> DataFrame:
    """The dedup verify's rehydration: shingles, phash and simhash."""
    return pair_features(pairs, signatures, ("shingles", "phash", "simhash"))


def hamming_col(c: str):
    """Popcount distance between a rehydrated pair's ``<c>_a``/``<c>_b``."""
    return F.bit_count(F.col(f"{c}_a").bitwiseXOR(F.col(f"{c}_b")))


def verify_pairs(pairs_with_features: DataFrame, cfg: LshConfig) -> DataFrame:
    """-> (a, b, jaccard, hamming_phash, hamming_simhash, source, verified)."""
    inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    union = F.size("shingles_a") + F.size("shingles_b") - inter
    jaccard = F.when(union > 0, inter.cast("double") / union.cast("double")) \
               .otherwise(F.lit(0.0))
    # text-only runs carry NULL phash/simhash: coalesce to 64 (max distance)
    # so the Hamming clauses are cleanly false, never three-valued.
    ham_ph = F.coalesce(hamming_col("phash"), F.lit(64))
    ham_sim = F.coalesce(hamming_col("simhash"), F.lit(64))
    out = (
        pairs_with_features
        .withColumn("jaccard", jaccard)
        .withColumn("hamming_phash", ham_ph.cast("int"))
        .withColumn("hamming_simhash", ham_sim.cast("int"))
        .withColumn(
            "verified",
            (F.col("jaccard") >= F.lit(cfg.jaccard_threshold))
            | (F.col("hamming_phash") <= F.lit(cfg.hamming_threshold))
            | (F.col("hamming_simhash") <= F.lit(cfg.hamming_threshold))
            | F.col("source").contains("substring"),
        )
        .select("a", "b", "jaccard", "hamming_phash", "hamming_simhash",
                "source", "verified")
    )
    return out


def verified_edges(verified: DataFrame) -> DataFrame:
    """Distinct undirected edges for connected components."""
    return (verified.filter("verified")
            .select("a", "b")
            .distinct())


def merge_candidates(*pair_dfs: DataFrame) -> DataFrame:
    """Union candidate sets from the MinHash / SimHash / substring paths,
    keeping one row per (a, b) with the sources concatenated — so a pair
    is verified once no matter how many paths surfaced it (the reference's
    dedup-before-distance rewrite, hash_tables.hpp:547-557)."""
    from functools import reduce

    all_pairs = reduce(lambda x, y: x.unionByName(y), pair_dfs)
    return (all_pairs.groupBy("a", "b")
            .agg(F.array_join(F.array_sort(F.collect_set("source")), "+").alias("source")))
