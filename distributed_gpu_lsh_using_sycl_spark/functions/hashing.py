"""Hash kernels with exact reference parity, vectorized in numpy.

The reference combines per-function quantized hash values with a
boost-style ``hash_combine`` and takes the result modulo a prime table
size (``include/sycl_lsh/detail/hashing/hash_combine.hpp:23-49``,
``random_projections.hpp:72-85``). We reproduce the uint32/uint64
mix-chains bit-exactly (numpy unsigned arithmetic wraps, which *is* the
C++ semantics), because parity mode asserts bucket-identical assignments
against a seeded NumPy oracle.

MinHash parameters follow the reference's pool-then-select draw
(``random_projections.cpp:44-72``): a pool of ``signature_pool_size``
(a, b) affine functions is drawn once from the config seed, and each of
the ``num_bands * rows_per_band`` signature rows selects a pool entry
uniformly with replacement. Selecting *with replacement* is a documented
reference behavior we keep for config parity (it slightly correlates
rows; the fixture-recall test covers the consequence).
"""

from __future__ import annotations

import numpy as np

U32 = np.uint32
U64 = np.uint64

#: 2^31 - 1 — a Mersenne prime. Shingle hashes are 32-bit (crc32), the
#: affine coefficients are < 2^31, so ``a * h + b`` stays < 2^63: the
#: modular hash is exact in uint64 with no overflow (unlike the common
#: 2^61-1 + wrap shortcut).
MINHASH_PRIME = np.uint64((1 << 31) - 1)
MINHASH_EMPTY = np.uint64(MINHASH_PRIME)  # sentinel row value for empty shingle sets


# --------------------------------------------------------------------------- #
# boost-style hash_combine — bit-exact vs hash_combine.hpp:23-49
# --------------------------------------------------------------------------- #

def hash_combine_u32(seed, val, out=None):
    """uint32 hash_combine; vectorized. Parity: hash_combine.hpp:23-32.
    With ``out`` the whole mix runs in-place (no temporaries)."""
    with np.errstate(over="ignore"):
        x = np.add(np.asarray(seed, dtype=U32), U32(0x9E3779B9), out=out)
        x = np.add(x, np.asarray(val, dtype=U32), out=out)
        for shift, mult in ((U32(16), U32(0x21F0AAAD)),
                            (U32(15), U32(0x735A2D97))):
            x = np.bitwise_xor(x, np.right_shift(x, shift), out=out)
            x = np.multiply(x, mult, out=out)
        x = np.bitwise_xor(x, np.right_shift(x, U32(15)), out=out)
    return x


def hash_combine_u64(seed, val, out=None):
    """uint64 hash_combine; vectorized. Parity: hash_combine.hpp:40-49."""
    with np.errstate(over="ignore"):
        x = np.add(np.asarray(seed, dtype=U64), U64(0x9E3779B97F4A7C15), out=out)
        x = np.add(x, np.asarray(val, dtype=U64), out=out)
        x = np.bitwise_xor(x, np.right_shift(x, U64(32)), out=out)
        x = np.multiply(x, U64(0x0E9846AF9B1A615D), out=out)
        x = np.bitwise_xor(x, np.right_shift(x, U64(32)), out=out)
        x = np.multiply(x, U64(0x0E9846AF9B1A615D), out=out)
        x = np.bitwise_xor(x, np.right_shift(x, U64(28)), out=out)
    return x


# --------------------------------------------------------------------------- #
# MinHash parameter pool (pool-then-select, random_projections.cpp:44-72)
# --------------------------------------------------------------------------- #

def minhash_params(seed: int, num_rows: int, pool_size: int) -> tuple[np.ndarray, np.ndarray]:
    """Draw the (a, b) affine-hash parameters for ``num_rows`` MinHash rows.

    A pool of ``pool_size`` pairs is drawn first, then each row selects a
    pool entry uniformly with replacement — the same two-phase structure
    as the reference's hash-function pool (random_projections.cpp:44-72),
    with numpy PCG64 standing in for std::mt19937 (the reference's debug
    mode pins the generator for determinism; we pin via ``seed``).

    Returns ``(a, b)`` uint64 arrays of shape (num_rows,), a in [1, 2^31),
    b in [0, 2^31).
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    pool_a = rng.integers(1, int(MINHASH_PRIME), size=pool_size, dtype=np.uint64)
    pool_b = rng.integers(0, int(MINHASH_PRIME), size=pool_size, dtype=np.uint64)
    sel = rng.integers(0, pool_size, size=num_rows)
    return pool_a[sel], pool_b[sel]


#: persistent scratch buffers, keyed by name. The sandbox (and any
#: memory-ballooned VM) makes FIRST-TOUCH page faults on fresh mmap'd
#: allocations ~100x the cost of warm memory, and numpy munmaps every
#: temporary > 128 KiB — so a naive big-matrix kernel pays full fault
#: cost on EVERY batch (measured: 25s for an 8M-element affine+mod that
#: takes 80ms on reused buffers). All hot kernels therefore compute
#: chunkwise into buffers that live for the worker's lifetime.
_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(name: str, n: int, dtype) -> np.ndarray:
    buf = _SCRATCH.get(name)
    if buf is None or buf.size < n or buf.dtype != dtype:
        buf = np.empty(int(n * 1.25) + 64, dtype=dtype)
        _SCRATCH[name] = buf
    return buf[:n]


#: rows of the affine-hash matrix computed per chunk; 8 rows x <=512k
#: shingles keeps the working set ~32 MB and fully buffer-reused.
_MINHASH_CHUNK = 8


def minhash_signatures(shingle_hashes: list[np.ndarray] | "object",
                       a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """MinHash signatures for a batch of rows, fully vectorized.

    ``shingle_hashes``: sequence of 1-D uint64 arrays (32-bit crc32 values),
    one per row; rows with zero shingles get the MINHASH_EMPTY sentinel in
    every signature slot (sentinel rows never collide into real buckets —
    see ``band_buckets``'s empty handling in the signature operator).

    Implementation: concatenate the batch's shingles, then for chunks of
    permutation rows compute the affine-hash block into persistent scratch
    (``out=`` everywhere — see _SCRATCH) and ``np.minimum.reduceat`` per
    document. One pass, no per-row Python, no fresh large temporaries.
    """
    num_perm = len(a)
    counts = np.fromiter((len(s) for s in shingle_hashes), dtype=np.int64,
                         count=len(shingle_hashes))
    n_docs = len(counts)
    out = np.full((n_docs, num_perm), MINHASH_EMPTY, dtype=np.uint64)
    nonempty = counts > 0
    if not nonempty.any():
        return out
    flat = np.concatenate([np.asarray(s, dtype=np.uint64) for s, c in
                           zip(shingle_hashes, counts) if c > 0])
    total = len(flat)
    n_ne = int(nonempty.sum())
    offsets = np.zeros(n_ne, dtype=np.int64)
    np.cumsum(counts[nonempty][:-1], out=offsets[1:])
    mins = np.empty((num_perm, n_ne), dtype=np.uint64)
    work = _scratch("minhash_work", _MINHASH_CHUNK * total, np.uint64) \
        .reshape(_MINHASH_CHUNK, total)
    for c0 in range(0, num_perm, _MINHASH_CHUNK):
        c1 = min(c0 + _MINHASH_CHUNK, num_perm)
        w = work[: c1 - c0]
        # a,h < 2^31/2^32 keeps a*h+b < 2^63: the mod is exact in uint64.
        np.multiply(a[c0:c1, None], flat[None, :], out=w)
        np.add(w, b[c0:c1, None], out=w)
        np.mod(w, MINHASH_PRIME, out=w)
        np.minimum.reduceat(w, offsets, axis=1, out=mins[c0:c1])
    out[nonempty] = mins.T
    return out


def band_buckets(sigs: np.ndarray, num_bands: int, rows_per_band: int,
                 bucket_modulus: int) -> np.ndarray:
    """Band buckets from signatures — the reference's combine-then-mod chain.

    For each band t: ``combined = rows_per_band``; for each row r in the
    band: ``combined = hash_combine_u32(combined, uint32(sig[t*k + r]))``;
    ``bucket = combined % bucket_modulus``. This is the exact shape of
    ``lsh_hash<random_projections>::operator()`` (random_projections.hpp:
    72-85) with the quantized projection replaced by the MinHash row.

    ``sigs``: (n_docs, num_bands*rows_per_band) uint64.
    Returns (n_docs, num_bands) int64 (values < bucket_modulus).
    """
    n = sigs.shape[0]
    combined = np.full((n, num_bands), U32(rows_per_band), dtype=U32)
    sig32 = sigs.astype(U32).reshape(n, num_bands, rows_per_band)
    for r in range(rows_per_band):
        combined = hash_combine_u32(combined, sig32[:, :, r])
    return (combined % U32(bucket_modulus)).astype(np.int64)


# --------------------------------------------------------------------------- #
# Reference-semantics random projections (parity mode, dense vectors)
# --------------------------------------------------------------------------- #

def random_projection_pool(seed: int, num_bands: int, rows_per_band: int,
                           pool_size: int, dims: int, w: float) -> np.ndarray:
    """Draw the random-projections function matrix, reference layout.

    Mirrors random_projections.cpp:44-72: pool of ``pool_size`` functions,
    coefficients |N(0,1)| per dim plus a U[0, w) bias in the last slot;
    tables select pool entries with replacement. Returns
    (num_bands, rows_per_band, dims+1) float64.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    pool = np.empty((pool_size, dims + 1), dtype=np.float64)
    pool[:, :dims] = np.abs(rng.standard_normal((pool_size, dims)))
    pool[:, dims] = rng.uniform(0.0, w, size=pool_size)
    sel = rng.integers(0, pool_size, size=(num_bands, rows_per_band))
    return pool[sel]


def random_projection_buckets(points: np.ndarray, funcs: np.ndarray,
                              w: float, bucket_modulus: int) -> np.ndarray:
    """Bucket ids for dense points under the reference hash chain.

    Parity with lsh_hash<random_projections> (random_projections.hpp:72-85):
    per function ``h = b + a·x``; quantize ``uint32(h / w)`` (C++ float→uint
    truncation); fold with hash_combine_u32 starting from rows_per_band;
    mod ``bucket_modulus``.

    ``points``: (n, dims); ``funcs``: (L, k, dims+1).
    Returns (n, L) int64 bucket ids.
    """
    L, k, _ = funcs.shape
    dims = points.shape[1]
    # (n, L, k) projections
    proj = np.einsum("nd,lkd->nlk", points, funcs[:, :, :dims]) + funcs[None, :, :, dims]
    q = np.floor_divide(proj, w)
    # C++ static_cast<uint32_t>(double) truncates toward zero and is UB for
    # negatives; |N| coefficients + [0,1]-scaled data keep h >= 0 so plain
    # uint32 wrap of the truncated value is the semantics.
    qi = np.trunc(q).astype(np.int64).astype(U32)
    combined = np.full((points.shape[0], L), U32(k), dtype=U32)
    for r in range(k):
        combined = hash_combine_u32(combined, qi[:, :, r])
    return (combined % U32(bucket_modulus)).astype(np.int64)


# --------------------------------------------------------------------------- #
# Entropy-based hash family (F4) — parity with entropy_based.hpp:72-90,
# cut-off learning entropy_based.cpp:56-122
# --------------------------------------------------------------------------- #

def seqdot(points: np.ndarray, coeffs: np.ndarray, init=None) -> np.ndarray:
    """Left-fold dot products: acc_d+1 = acc_d + x_d * c_d, the exact FP
    summation order of the reference's scalar loop (entropy_based.hpp:
    76-80), of Spark's aggregate(zip_with(...)) fold, and of DuckDB's
    list_reduce — so all three engines produce BIT-IDENTICAL doubles.
    ``points``: (n, d); ``coeffs``: (m, d); returns (n, m).
    ``init``: optional (m,) start value (the mixed family's bias)."""
    n, d = points.shape
    m = coeffs.shape[0]
    acc = np.zeros((n, m), dtype=np.float64)
    if init is not None:
        acc += init[None, :]
    for k in range(d):
        acc = acc + points[:, k, None] * coeffs[None, :, k]
    return acc


def random_projection_buckets_seq(points01: np.ndarray, funcs: np.ndarray,
                                  w: float, bucket_modulus: int) -> np.ndarray:
    """The random-projections bucket chain with SEQUENTIAL-fold
    projections (``seqdot``) — the kernel behind parity_hash.rp_buckets_df,
    bit-identical to the DuckDB oracle's list_reduce fold
    (rp_oracle_sql), unlike ``random_projection_buckets`` whose
    einsum order is the reference's own chain. ``points01``: (n, dims)
    ALREADY affine-mapped into [0,1]; ``funcs``: (L, k, dims+1).
    Returns (n, L) int64 bucket ids."""
    L, k, _ = funcs.shape
    dims = points01.shape[1]
    proj = seqdot(points01, funcs.reshape(L * k, dims + 1)[:, :dims])
    h = proj + funcs.reshape(L * k, dims + 1)[None, :, dims]
    q = np.floor(h / w).astype(np.int64)
    qi = (q & 0xFFFFFFFF).astype(U32).reshape(len(points01), L, k)
    combined = np.full((len(points01), L), U32(k), dtype=U32)
    for r in range(k):
        combined = hash_combine_u32(combined, qi[:, :, r])
    return (combined % U32(bucket_modulus)).astype(np.int64)


def seqdiffsq(points: np.ndarray, coeffs: np.ndarray) -> np.ndarray:
    """Left-fold squared L2: acc_d+1 = acc_d + (x_d - c_d)^2 — the exact
    FP order of Spark's aggregate(zip_with((x,y) -> (x-y)*(x-y))) fold
    and DuckDB's list_reduce, so the vectorized kernel is BIT-IDENTICAL
    to the JVM/SQL sequential folds (same guarantee as ``seqdot``).
    ``points``: (n, d); ``coeffs``: (m, d); returns (n, m)."""
    n, d = points.shape
    m = coeffs.shape[0]
    acc = np.zeros((n, m), dtype=np.float64)
    for k in range(d):
        diff = points[:, k, None] - coeffs[None, :, k]
        acc = acc + diff * diff
    return acc


def entropy_params(seed: int, pool_size: int, dims: int,
                   num_bands: int, rows_per_band: int):
    """Pool + selection for the entropy-based family.

    Pool coefficients are plain N(0,1) per dim (entropy_based.cpp:41-48 —
    note: NOT |N|, unlike random projections); bands select pool entries
    uniformly with replacement (entropy_based.cpp:136-147). One seeded
    PCG64 drives both draws (our deterministic stand-in for the
    reference's debug-mode default-seeded mt19937s, SURVEY §5).

    Returns (pool (pool_size, dims) float64, sel (num_bands, rows) int64).
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    pool = rng.standard_normal((pool_size, dims))
    sel = rng.integers(0, pool_size, size=(num_bands, rows_per_band))
    return pool, sel


def entropy_cutoff_indices(n: int, num_cut_off_points: int) -> np.ndarray:
    """0-based sorted-order indices of the learned cut-offs
    (entropy_based.cpp:103-107): jump = n // cops; idx_c = (c+1)*jump.
    The reference's n includes dummy padding (rank_size*comm_size); ours
    is the real row count (dummy semantics deliberately not reproduced,
    SURVEY §1.5)."""
    jump = n // num_cut_off_points
    return np.arange(1, num_cut_off_points) * jump


def entropy_cutoffs(projections: np.ndarray, num_cut_off_points: int) -> np.ndarray:
    """Learned cut-offs per pool function: sort each function's global
    projections, take the order statistics at entropy_cutoff_indices.
    ``projections``: (n, pool_size); returns (pool_size, cops-1)."""
    idx = entropy_cutoff_indices(projections.shape[0], num_cut_off_points)
    return np.sort(projections, axis=0)[idx, :].T


def entropy_buckets_np(points: np.ndarray, pool: np.ndarray, sel: np.ndarray,
                       num_cut_off_points: int, bucket_modulus: int) -> np.ndarray:
    """Full entropy-based bucket chain, numpy oracle (lsh_hash
    <entropy_based>::operator(), entropy_based.hpp:72-90): per selected
    function, entropy_hash = #{cutoffs exceeded}; fold with
    hash_combine_u32 starting from rows_per_band; mod bucket_modulus.
    Returns (n, num_bands) int64."""
    L, k = sel.shape
    proj = seqdot(points, pool)                       # (n, pool_size)
    cuts = entropy_cutoffs(proj, num_cut_off_points)  # (pool, cops-1)
    # eh[n, L, k] — comparisons only, no float arithmetic after this point
    psel = proj[:, sel.reshape(-1)].reshape(-1, L, k)       # (n, L, k)
    csel = cuts[sel.reshape(-1)].reshape(L, k, -1)          # (L, k, cops-1)
    eh = (psel[..., None] > csel[None, ...]).sum(axis=-1).astype(U32)
    combined = np.full((points.shape[0], L), U32(k), dtype=U32)
    for r in range(k):
        combined = hash_combine_u32(combined, eh[:, :, r])
    return (combined % U32(bucket_modulus)).astype(np.int64)


# --------------------------------------------------------------------------- #
# Mixed hash family (F5) — parity with mixed_hash_functions.hpp:74-92,
# cut-off learning mixed_hash_functions.cpp:110-180
# --------------------------------------------------------------------------- #

def mixed_params(seed: int, pool_size: int, dims: int, w: float,
                 num_bands: int, rows_per_band: int):
    """Pool + selection for the mixed family: |N(0,1)| coefficients plus a
    U[0, w) bias per pool function (mixed_hash_functions.cpp:50-60), bands
    select with replacement (:71-80). The reference also draws one unused
    normal per (table, function) slot (:100-104) that the hash never reads
    (mixed_hash_functions.hpp:74-92 indexes past them) — not reproduced.

    Returns (pool (pool_size, dims+1) float64, sel (L, k) int64).
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    pool = np.empty((pool_size, dims + 1), dtype=np.float64)
    pool[:, :dims] = np.abs(rng.standard_normal((pool_size, dims)))
    pool[:, dims] = rng.uniform(0.0, w, size=pool_size)
    sel = rng.integers(0, pool_size, size=(num_bands, rows_per_band))
    return pool, sel


def mixed_cutoff_indices(n: int, num_cut_off_points: int) -> np.ndarray:
    """0-based cut-off indices, mixed variant with remainder distribution
    (mixed_hash_functions.cpp:160-166): cumulative idx += jump +
    (cop < remainder); i.e. idx_c = (c+1)*jump + min(c+1, rem)."""
    jump, rem = divmod(n, num_cut_off_points)
    c = np.arange(1, num_cut_off_points)
    return c * jump + np.minimum(c, rem)


def mixed_values_np(points: np.ndarray, pool: np.ndarray, sel: np.ndarray,
                    w: float) -> np.ndarray:
    """Per-table summed quantized projection (the kernel at
    mixed_hash_functions.cpp:129-143): value_t = Σ_j trunc((bias_j +
    a_j·x) / w) accumulated as doubles — ints are exact in float64 at
    these magnitudes, so the sum is order-independent. Returns (n, L)."""
    dims = points.shape[1]
    L, k = sel.shape
    funcs = pool[sel.reshape(-1)]                      # (L*k, dims+1)
    h = seqdot(points, funcs[:, :dims], init=funcs[:, dims])  # (n, L*k)
    q = np.trunc(h / w)                                # toward zero, C++ cast
    return q.reshape(-1, L, k).sum(axis=2)


def mixed_buckets_np(points: np.ndarray, pool: np.ndarray, sel: np.ndarray,
                     w: float, num_cut_off_points: int,
                     bucket_modulus: int) -> np.ndarray:
    """Full mixed-family chain, numpy oracle: learned per-table cut-offs
    over the summed values, combined_hash = #{cutoffs exceeded} (NO
    hash_combine — mixed_hash_functions.hpp:86-91), modulo the CLAMPED
    table size min(bucket_modulus, num_cut_off_points) — the reference
    clamps because max value is cops-1 (nearest_neighbors.cpp:52-56).
    Returns (n, L) int64."""
    vals = mixed_values_np(points, pool, sel, w)       # (n, L)
    idx = mixed_cutoff_indices(points.shape[0], num_cut_off_points)
    cuts = np.sort(vals, axis=0)[idx, :].T             # (L, cops-1)
    combined = (vals[:, :, None] > cuts[None, :, :]).sum(axis=-1)
    clamp = min(bucket_modulus, num_cut_off_points)
    return (combined % clamp).astype(np.int64)


# --------------------------------------------------------------------------- #
# SimHash over feature streams
# --------------------------------------------------------------------------- #

#: byte value -> its 8 bits LSB-first, one uint8 per bit (simhash64's
#: unpack table; == np.unpackbits(..., bitorder='little') per byte).
_BIT_LUT = ((np.arange(256, dtype=np.uint8)[:, None]
             >> np.arange(8, dtype=np.uint8)[None, :]) & 1).astype(np.uint8)


def simhash64(feature_hashes: np.ndarray, row_offsets: np.ndarray, n_rows: int) -> np.ndarray:
    """64-bit SimHash per row from flat uint64 feature hashes.

    ``feature_hashes``: concatenated per-row feature hashes (uint64);
    ``row_offsets``: start index of each row's features (len n_rows,
    ascending, offsets[0] == 0). Each feature votes +1/-1 per bit; the
    sign of the per-bit sum is the fingerprint bit (sum > 0), i.e. bit b
    is set iff 2 * popcount_b > row feature count.

    Memory-bandwidth shape (this kernel dominates the signature stage's
    scaling curve): bits live as ONE uint8 per bit via ``np.unpackbits``
    (bitorder='little' == the uint64's LSB-first bit order on this
    little-endian platform) and are reduced per row with an int32
    accumulator — ~1 byte/bit streamed once, vs the 8-byte shift/mask
    image plus a second int32 votes pass of the naive layout (measured
    ~10x less scratch traffic; at 32 local cores the naive kernel
    saturates the socket's memory bandwidth long before its CPUs).
    """
    if len(feature_hashes) == 0:
        return np.zeros(n_rows, dtype=np.uint64)
    fh = np.ascontiguousarray(feature_hashes, dtype=np.uint64)
    total = len(fh)
    bits = _scratch("simhash_bits_u8", total * 64, np.uint8)
    # byte -> 8 LSB-first bits via a 256x8 LUT gathered INTO the scratch
    # (np.unpackbits has no out=; a fresh 64 MB-scale array per batch
    # would re-pay the first-touch fault tax this buffer exists to avoid)
    np.take(_BIT_LUT, fh.view(np.uint8), axis=0,
            out=bits.reshape(total * 8, 8))
    counts = np.diff(np.append(row_offsets, total))
    # trailing empty rows carry offset == total, which reduceat rejects —
    # exclude them (their sums stay 0); a MID-stream empty row yields a
    # garbage single-element segment that the counts mask zeroes out
    # (documented all-zero fingerprint) without disturbing its neighbors.
    valid = row_offsets < total
    sums = np.zeros((n_rows, 64), dtype=np.int32)
    sums[valid] = np.add.reduceat(bits.reshape(total, 64),
                                  row_offsets[valid], axis=0, dtype=np.int32)
    fingerprint_bits = (2 * sums > counts[:, None]) & (counts[:, None] > 0)
    return np.packbits(fingerprint_bits, axis=1,
                       bitorder="little").view(np.uint64).reshape(n_rows)


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized popcount of a XOR b for uint64 arrays."""
    x = np.asarray(a, dtype=np.uint64) ^ np.asarray(b, dtype=np.uint64)
    cnt = np.zeros(x.shape, dtype=np.int64)
    for s in range(0, 64, 8):
        cnt += POPCOUNT8[(x >> np.uint64(s)) & np.uint64(0xFF)]
    return cnt


POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def fold64_to_i64(x: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 as int64 (two's complement) for Spark LongType."""
    return np.asarray(x, dtype=np.uint64).view(np.int64)


def i64_to_u64(x: np.ndarray) -> np.ndarray:
    return np.asarray(x, dtype=np.int64).view(np.uint64)
