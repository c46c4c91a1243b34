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

``broadcast_if_fits`` is the engine's one broadcast rule for joins whose
build side the planner cannot size (frames produced by a Python scan, or
checkpointed from one): a caller passes the size it observed, and the
side is broadcast when that fits ``spark.sql.autoBroadcastJoinThreshold``.
The candidate join passes rows x default row size (``banding``); a
feature frame passes ``feature_bytes``, observed on the job that
checkpoints it (``checkpoint_features`` for the vector operators).

``ranked_neighbours`` is the ranked tail of the k-NN and ANN probes:
score each unordered pair once, then rank both directions per point
through ``top_k``, the engine's one directional top-k.

Like the reference defers sqrt until after search (deferred-monotone
rewrite, nearest_neighbors.cpp:126-135), we compute thresholds on integer
intersection counts / popcounts and only materialize the float jaccard in
the output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig

#: bytes per element of the fixed-width types a feature column holds
_WIDTH = {T.LongType: 8, T.DoubleType: 8, T.TimestampType: 8,
          T.IntegerType: 4, T.FloatType: 4, T.DateType: 4,
          T.ShortType: 2, T.ByteType: 1, T.BooleanType: 1}


def broadcast_if_fits(side: DataFrame, size: int) -> DataFrame:
    """``side`` hinted for broadcast when ``size`` (bytes, observed by the
    caller) fits the session's ``spark.sql.autoBroadcastJoinThreshold``.
    The planner cannot estimate a frame produced by a Python scan (or a
    checkpoint of one), so without an observed size such a join is
    planned as a shuffle, however small, and at best converted by AQE
    after the shuffle has run."""
    limit = side.sparkSession._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    return F.broadcast(side) if size <= limit else side


def _field_bytes(field: T.StructField) -> Column:
    """Upper bound on one field's bytes in an UnsafeRow: an 8-byte slot
    plus the word-aligned variable part — a string's UTF-8 bytes, an
    array's 8-byte length, its null bits (8 bytes per 64 elements) and
    its elements."""
    t, c = field.dataType, F.col(field.name)
    if type(t) in _WIDTH:
        return F.lit(8)
    if isinstance(t, (T.StringType, T.BinaryType)):
        return 15 + F.coalesce(F.octet_length(c), F.lit(0))
    if isinstance(t, T.ArrayType) and type(t.elementType) in _WIDTH:
        n = F.when(c.isNull(), 0).otherwise(F.size(c))
        return 31 + n * (_WIDTH[type(t.elementType)] + 1)
    raise TypeError(f"no byte bound for feature column {field.name!r} of "
                    f"type {t.simpleString()}")


def feature_bytes(frame: DataFrame, cols: tuple[str, ...],
                  id_col: str = "image_id") -> Column:
    """Aggregate bounding the bytes of ``frame.select(id_col, *cols)``, the
    feature side ``pair_features`` builds: per row the null bits plus
    ``_field_bytes`` of each column, summed. Observe it on the job that
    materializes ``frame`` (``DataFrame.observe``, no extra job) and pass
    the value to ``pair_features(size=...)``. Unlike the planner's
    default sizes (20 bytes per string, 8 per array) it counts what the
    rows hold."""
    fields = [frame.schema[c] for c in (id_col, *cols)]
    row = F.lit(8 * (-(-len(fields) // 64)))
    for f in fields:
        row = row + _field_bytes(f)
    return F.coalesce(F.sum(row), F.lit(0)).cast("long")


def checkpoint_features(frame: DataFrame, cols: tuple[str, ...],
                        id_col: str = "image_id") -> tuple[DataFrame, int]:
    """``frame`` checkpointed, and the ``feature_bytes`` of its ``cols``
    observed on that same job: the feature side of a later
    ``pair_features(..., size=)``, read once however many plans use it."""
    size = Observation()
    frame = (frame.observe(size, feature_bytes(frame, cols, id_col).alias("b"))
             .localCheckpoint(eager=True))
    return frame, int(size.get["b"])


def pair_features(pairs: DataFrame, feats: DataFrame, cols: tuple[str, ...],
                  id_col: str = "image_id", size: int | None = None) -> DataFrame:
    """Rehydrate (a, b) pairs with both ids' features: adds ``<c>_a`` and
    ``<c>_b`` for each ``c`` in ``cols``. Two inner hash-joins on id, ``a``
    first. ``size``: the caller's observed ``feature_bytes`` of
    ``feats``; both sides then follow ``broadcast_if_fits`` and, being the
    same projection under other names, share one broadcast exchange.
    Without it the planner decides, as for any frame it cannot size."""
    def side(s: str) -> DataFrame:
        df = feats.select(F.col(id_col).alias(s),
                          *[F.col(c).alias(f"{c}_{s}") for c in cols])
        return df if size is None else broadcast_if_fits(df, size)

    return pairs.join(side("a"), "a").join(side("b"), "b")


def top_k(frame: DataFrame, k: int, score: str, descending: bool = False,
          point: str = "vec_id",
          ties: tuple[str, ...] = ("neighbor_id",)) -> DataFrame:
    """The one directional top-k tail: ``frame``'s rows ranked per
    ``point`` by ``score`` (``descending`` for a similarity), ties to the
    smaller ``ties`` columns in turn, numbered 1.. in a ``rank`` column;
    rows ranked past ``k`` are dropped. Every ranked output of the engine
    ends here: the IVF probe keying, the per-cell candidates of the cell
    operators (``embedding.cell_join``) and ``ranked_neighbours``."""
    order = F.col(score).desc() if descending else F.col(score).asc()
    w = W.partitionBy(point).orderBy(order, *ties)
    return (frame.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ranked_neighbours(pairs_with_features: DataFrame, score: Column, k: int,
                      descending: bool = False) -> DataFrame:
    """(a, b, features) -> (vec_id, neighbor_id, rank, score): the ``k``
    best neighbours of each point by ``score`` (``descending`` for a
    similarity), ties to the smaller neighbour id. ``score`` must be
    symmetric in a and b: it is computed once per unordered pair, and
    the checkpoint sits on the scored frame, so both directions of the
    union read its rows instead of re-running the candidate join and
    the score (a union of a lazy frame runs it once per branch)."""
    und = (pairs_with_features.select("a", "b", score.alias("score"))
           .localCheckpoint(eager=True))
    both = (und.select(F.col("a").alias("vec_id"),
                       F.col("b").alias("neighbor_id"), "score")
            .unionAll(und.select(F.col("b").alias("vec_id"),
                                 F.col("a").alias("neighbor_id"), "score")))
    return (top_k(both, k, "score", descending)
            .select("vec_id", "neighbor_id", "rank", "score"))


def dedup_features(signatures: DataFrame) -> tuple[str, ...]:
    """The columns ``attach_features`` rehydrates from ``signatures``: the
    caption (``text``) when the frame carries it, shingles, phash and
    simhash."""
    return (("text",) if "text" in signatures.columns else ()) + (
        "shingles", "phash", "simhash")


def attach_features(pairs: DataFrame, signatures: DataFrame,
                    size: int | None = None) -> DataFrame:
    """The dedup verify's rehydration (``dedup_features``), the window
    verdict's texts included when the signatures carry them. ``size``:
    the observed ``feature_bytes`` of those columns (see
    ``pair_features``)."""
    return pair_features(pairs, signatures, dedup_features(signatures),
                         size=size)


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
