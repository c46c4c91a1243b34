"""lcs_fast (binary-search window sets, the hot verify path) must agree
exactly with the suffix-array+Kasai LCS on arbitrary strings."""

import numpy as np

from distributed_gpu_lsh_using_sycl_spark.operators.suffix import (
    lcs_fast, longest_common_substring)


def _rand_str(rng, n, alphabet="abcd "):
    return "".join(alphabet[i] for i in rng.integers(0, len(alphabet), size=n))


def test_lcs_fast_equals_suffix_array():
    rng = np.random.Generator(np.random.PCG64(7))
    cases = [("", ""), ("a", ""), ("abc", "abc"), ("abc", "zabcy"),
             ("hello world", "yell low orld"), ("aaaa", "aa")]
    # small alphabet forces long shared runs; varied lengths hit the
    # binary-search boundaries
    for _ in range(60):
        a = _rand_str(rng, int(rng.integers(0, 80)))
        b = _rand_str(rng, int(rng.integers(0, 80)))
        cases.append((a, b))
    for a, b in cases:
        assert lcs_fast(a, b) == longest_common_substring(a, b), (a, b)


def test_lcs_fast_containment_short_circuit():
    assert lcs_fast("abc", "xxabcxx") == 3
    assert lcs_fast("xxabcxx", "abc") == 3
    assert lcs_fast("abc", "abc") == 3
    assert lcs_fast("abcdef", "xyz") == 0


def test_shares_window_equals_lcs_threshold():
    """shares_window(a, b, L) must be exactly lcs_fast(a, b) >= L — it is
    the verify's single-probe replacement for the full LCS binary
    search."""
    import numpy as np

    from distributed_gpu_lsh_using_sycl_spark.operators.suffix import (
        lcs_fast, shares_window)

    rng = np.random.Generator(np.random.PCG64(11))
    alphabet = "abcd "
    cases = []
    for _ in range(120):
        n1, n2 = int(rng.integers(0, 40)), int(rng.integers(0, 40))
        a = "".join(rng.choice(list(alphabet), n1))
        b = "".join(rng.choice(list(alphabet), n2))
        # plant a shared run half the time
        if rng.integers(0, 2):
            run = "".join(rng.choice(list(alphabet), int(rng.integers(1, 12))))
            a += run
            b = run + b
        cases.append((a, b))
    cases += [("", ""), ("abc", ""), ("abc", "abc"), ("abc", "xxabcxx")]
    for a, b in cases:
        for L in (1, 2, 3, 5, 8, 24):
            assert shares_window(a, b, L) == (lcs_fast(a, b) >= L), (a, b, L)


def test_winnowed_fingerprints_guarantee_and_pair_set():
    """The winnowing guarantee, unit level: any two strings sharing a
    substring of length >= L share a selected fingerprint at EVERY
    stride (recall 1.0 over >=L pairs is exact, not probabilistic); and
    below-L texts emit nothing. Plus the fallback contract: stride <= 1
    or too-short grams = the all-windows scheme."""
    import numpy as np

    from distributed_gpu_lsh_using_sycl_spark.operators.suffix import (
        _window_hashes, _winnowed_hashes)

    L = 24
    rng = np.random.Generator(np.random.PCG64(5))
    letters = list("abcd")
    for trial in range(400):
        shared = "".join(rng.choice(letters, int(rng.integers(L, 40))))
        mk = lambda: "".join(rng.choice(letters, int(rng.integers(0, 30))))
        a, b = mk() + shared + mk(), mk() + shared + mk()
        for stride in (2, 4, 8, 13):
            wa = set(_winnowed_hashes(a, L, stride).tolist())
            wb = set(_winnowed_hashes(b, L, stride).tolist())
            assert wa & wb, (trial, stride)
    # short text: no >=L window possible, no fingerprint emitted
    assert _winnowed_hashes("x" * (L - 1), L, 8).size == 0
    # fallback: stride<=1 and gram-too-short both give every window
    t = "the quick brown fox jumps over the lazy dog twice over"
    assert np.array_equal(_winnowed_hashes(t, L, 1), _window_hashes(t, L))
    assert np.array_equal(_winnowed_hashes(t, L, L), _window_hashes(t, L))
    # density actually drops (the point of the exercise)
    assert _winnowed_hashes(t, L, 8).size < _window_hashes(t, L).size


def test_winnowed_hashes_batch_bit_identical():
    """The batch winnow kernel equals _winnowed_hashes(t or "") row by row
    (values and dtype) over NULL, empty, L - 1, exactly-L and non-ASCII
    texts, at strides 2 and 5 and at the all-windows fallbacks (stride 1,
    stride >= L)."""
    import numpy as np

    from distributed_gpu_lsh_using_sycl_spark.operators.suffix import (
        _winnowed_hashes, winnowed_hashes_batch)

    L = 24
    rng = np.random.Generator(np.random.PCG64(11))
    words = ["the", "quick", "déjà", "vu", "ÜNICODE", "中文字", "a", "fox"]
    texts = [None, "", "y" * (L - 1), "y" * L, None, "z" * (L + 1)]
    texts += [" ".join(rng.choice(words, int(rng.integers(0, 25))))
              for _ in range(300)]
    texts += ["x" * (L - 1)]
    for stride in (1, 2, 5, L, L + 3):
        got = winnowed_hashes_batch(texts, L, stride)
        assert len(got) == len(texts)
        for t, g in zip(texts, got):
            want = _winnowed_hashes(t or "", L, stride)
            assert g.dtype == want.dtype and np.array_equal(g, want), \
                (t, stride)
    assert winnowed_hashes_batch([], L, 2) == []
    assert [g.size for g in winnowed_hashes_batch(["ab", None], L, 2)] == [0, 0]


def test_winnowed_candidates_verify_to_identical_pairs(spark):
    """End-to-end: the VERIFIED substring pair set is identical at any
    winnow stride (candidates differ; the verify makes them converge) —
    the invariant that lets the fingerprint density drop 4x without
    moving a single driver-checked row."""
    import dataclasses

    from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
    from distributed_gpu_lsh_using_sycl_spark.operators.suffix import (
        substring_candidates, verify_substring_pairs)
    from distributed_gpu_lsh_using_sycl_spark.sources.fixture import (
        make_fixture_spark)

    docs = make_fixture_spark(spark, n_rows=400, seed=3)
    base = LshConfig(min_substring_len=24)

    def pairs(cfg):
        cands = substring_candidates(docs, cfg)
        return sorted(
            tuple(r) for r in verify_substring_pairs(cands, docs, cfg)
            .select("a", "b").collect())

    want = pairs(dataclasses.replace(base, substring_winnow_stride=1))
    assert len(want) > 0
    for stride in (4, 8):
        got = pairs(dataclasses.replace(base, substring_winnow_stride=stride))
        assert got == want, stride


def test_verify_substring_pairs_equals_brute_force(spark):
    """The full substring pass at the default config (winnowed candidates,
    then the verify), verify_substring_pairs(substring_candidates(docs)),
    keeps exactly the pairs that brute-force shares_window finds over
    EVERY pair of docs: NULL, shorter-than-L, containment, repeated and
    non-ASCII captions included (NULL compared as ""). Pairs sharing
    exactly L - 1 chars are winnowed candidates the verify must reject;
    pairs sharing exactly L chars must survive it."""
    import itertools

    from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
    from distributed_gpu_lsh_using_sycl_spark.operators.suffix import (
        shares_window, substring_candidates, verify_substring_pairs)

    cfg = LshConfig()
    L = cfg.min_substring_len
    base = "the quick brown fox jumps over the lazy dog"
    s23, s24 = "ABCDEFGHIJKLMNOPQRSTUVW", "0123456789abcdefghijklmn"
    assert (len(s23), len(s24)) == (L - 1, L)
    jp = "日本語のテキストはここにあります。これは重複検出のための長い文です"
    texts = [
        None,
        "",
        "short text",                              # shorter than L
        base,
        "prefix " + base + " suffix",              # contains base
        base[5:35],                                # contained in base
        base,                                      # exact repeat
        "jumps over the lazy dog and runs away",   # L - 1 chars with base
        "completely unrelated words here, none shared at all",
        "naïve café déjà vu — über straße ünïcödé",
        "zz naïve café déjà vu — über zz",         # non-ASCII, > L shared
        jp,
        "前置き" + jp + "後置き",                   # non-ASCII containment
        "x" + s23 + "x",
        "y" + s23 + "y",                           # exactly L - 1 shared
        "left " + s24,
        s24 + " right",                            # exactly L shared
    ]
    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "image_id long, caption string")
    want = {(i, j) for (i, a), (j, b) in itertools.combinations(rows, 2)
            if shares_window(a or "", b or "", L)}
    got = {(r["a"], r["b"]) for r in verify_substring_pairs(
        substring_candidates(docs, cfg), docs, cfg).collect()}
    assert {(3, 4), (9, 10), (11, 12), (15, 16)} <= want
    assert not {(3, 7), (13, 14)} & want
    assert got == want
