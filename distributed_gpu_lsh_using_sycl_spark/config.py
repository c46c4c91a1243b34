"""Pipeline configuration.

Mirrors the reference's ``locality_sensitive_hashing_options`` struct
(``include/sycl_lsh/options.hpp:54-127``; CLI defaults at
``src/sycl_lsh/options.cpp:74-82``) plus the dedup-pipeline parameters the
north rule adds (shingling, verification thresholds, salting / skew
handling, checkpointing). One dataclass = the single source of truth —
"identical shingle/signature/band-row config" parity hinges on this.

Execution choices the engine derives from sizes it observes are NOT
fields here; each has one owner that computes it: the CC union-find vs
star-loop bound (``operators/components.SMALL_GRAPH_EDGES``), the
blob-scan task count and read slice (``sources/blob_scan``, which also
signs each streaming wave; ``streaming/ingest`` caps a wave's files at
its bytes over Spark's file open cost), the near-dup
guardrail (``operators/embedding.neardup_pairs_lsh``) and the Arrow batch
size (a session setting, ``sources/tables.get_spark``).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class LshConfig:
    # ---- signature / banding shape (reference defaults, options.cpp:74-82) ----
    #: LSH bands == reference ``num_hash_tables`` (L). Default 8.
    num_bands: int = 8
    #: MinHash rows per band == reference ``num_hash_functions`` (k). Default 12.
    rows_per_band: int = 12
    #: size of the hash-parameter pool that band functions are drawn from
    #: (with replacement) == reference ``hash_pool_size``. Default 32.
    signature_pool_size: int = 32
    #: bucket modulus == reference ``hash_table_size`` (prime 105613,
    #: options.cpp:80; primality matters to decorrelate the modulo).
    bucket_modulus: int = 105_613
    #: E2LSH quantization width == reference ``w`` (random projections only).
    w: float = 1.0

    # ---- dedup semantics ----
    #: caption shingle size in TOKENS (word shingles).
    shingle_size: int = 3
    #: Jaccard threshold for a verified caption near-dup pair.
    jaccard_threshold: float = 0.5
    #: Hamming threshold (bits out of 64) for a verified image near-dup pair.
    hamming_threshold: int = 8
    #: minimum common-substring length (chars) for the suffix/substring pass.
    min_substring_len: int = 24
    #: winnowing stride for the substring pass's window fingerprints:
    #: k-grams (k = min_substring_len - stride + 1) selected as the min of
    #: every ``stride`` consecutive positions — ~2/(stride+1) of the
    #: all-windows row count through the explode/shuffle/self-join, with
    #: recall over >=L pairs still EXACTLY 1.0 (the winnowing guarantee;
    #: operators/suffix._winnowed_hashes). <=1 emits every window.
    #: Candidate-generation only — the verified pair set is identical at
    #: any stride (pinned in tests), so no state/adjudication stamp needs
    #: this field. The trade: larger strides shrink the exploded
    #: fingerprint frame (the shuffle that binds at corpus scale) but
    #: shorter grams admit more false candidates for verify (sf0.1
    #: candidate counts at L=24: stride 1 -> 26k, 4 -> 86k, 8 -> 536k).
    #: Default 2 keeps verify cost flat for the Python window-probe path;
    #: callers whose verify is pure-JVM `contains` should raise it to 4+
    #: (q_dedup_substring_pairs does), and corpus-scale deployments where
    #: the fingerprint shuffle dominates should raise it regardless.
    substring_winnow_stride: int = 2

    # ---- skew handling ----
    #: buckets with more members than this get salted (split) before the
    #: pair self-join; the Spark analog of the reference's bucket-occupancy
    #: histogram diagnostic (hash_tables.hpp:245-269) turned into action.
    hot_bucket_threshold: int = 64
    #: number of salt partitions a hot bucket is split into.
    n_salts: int = 8
    #: hard cap on members per (band,bucket) considered for pair generation;
    #: buckets larger than this are (deterministically) down-sampled — at
    #: 10^12 rows a degenerate bucket (empty caption) would otherwise emit
    #: O(n^2) pairs. The streaming delta join admits a bucket's first
    #: this-many arrivals instead (streaming/stateful.py). 0 disables.
    max_bucket_size: int = 4096

    # ---- determinism ----
    #: single RNG seed for every random draw (pool coefficients, selection);
    #: reference precedent: SYCL_LSH_RANDOM_NUMBERS_DEBUG deterministic mode
    #: (random_projections.cpp:32-41).
    seed: int = 42

    # ---- parity mode (dense-vector random projections, reference semantics) ----
    #: number of quantile cut-off points for the entropy-based family
    #: (options.cpp:81; only used by parity-mode hashing).
    num_cut_off_points: int = 6
    #: cut-off learning sample rate for the entropy/mixed families.
    #: 0.0 (default) = EXACT distributed order statistics — the parity
    #: path, bit-identical to the reference's full odd-even sort and the
    #: DuckDB oracle. In (0, 1) = learn cut-offs from a deterministic
    #: hash-sample of the projections: the per-function window sort
    #: shrinks from n rows to ~rate*n, at the cost of approximate
    #: cut-offs (bucket agreement >= ~0.95 at rate 0.25 on clustered
    #: data, tests/test_parity_hash.py). Crossover: the exact sort is
    #: fine up to ~10^8 rows x pool_size on a real cluster; beyond that
    #: the per-function sort dominates the fit stage and sampling (or
    #: a two-pass exact selection) is the production setting.
    cutoff_sample_rate: float = 0.0

    # ---- execution ----
    #: target shuffle partitions; sized so post-shuffle partitions fit in
    #: executor memory at the target SF (driver may override).
    shuffle_partitions: int = 32

    # ---- io ----
    #: table format: "parquet" (sandbox) or "iceberg" (cluster).
    table_format: str = "parquet"

    @property
    def signature_len(self) -> int:
        return self.num_bands * self.rows_per_band

    def config_hash(self) -> str:
        """Stable hash of the config — keyed into the resume manifest so a
        changed config invalidates checkpointed stages."""
        payload = asdict(self)
        blob = json.dumps(payload, sort_keys=True, default=str).encode()
        return hashlib.sha256(blob).hexdigest()[:16]

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True, default=str)

    @staticmethod
    def from_json(blob: str) -> "LshConfig":
        return LshConfig(**json.loads(blob))


#: reference CLI defaults for parity runs (options.cpp:74-82).
REFERENCE_DEFAULTS = LshConfig()
