"""doc_simhash_pairs pinned by an INDEPENDENT oracle: a from-scratch
python/numpy recomputation (re tokenizer, the uint32 hash_combine char
fold, hi/lo word derivation, bit votes, brute-force popcount over all
pairs) must equal the Spark query's banded-blocking + verify output
exactly. Blocking completeness at the hamming threshold is exactly where
LSH bugs hide — and since round 2 the same chain is ALSO re-expressed in
DuckDB SQL (parity_hash.doc_simhash_oracle_sql) for the driver's
value-hash gate; this test is the python leg of that triangle."""

import re

import numpy as np
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"
K = 3
THRESH = 8

_MASK = 0xFFFFFFFF


def _hc32(acc: int, x: int) -> int:
    """uint32 hash_combine (hash_combine.hpp:23-32), scalar python."""
    s = (acc + 0x9E3779B9 + x) & _MASK
    s ^= s >> 16
    s = (s * 0x21F0AAAD) & _MASK
    s ^= s >> 15
    s = (s * 0x735A2D97) & _MASK
    return s ^ (s >> 15)


def _shingles(text: str) -> list[str]:
    toks = [t for t in re.split(r"\s+", (text or "").lower().strip()) if t]
    if not toks:
        return []
    if len(toks) < K:
        return [" ".join(toks)]
    return sorted({" ".join(toks[i:i + K]) for i in range(len(toks) - K + 1)})


def _simhash(text: str) -> int:
    words = []
    for s in _shingles(text):
        h = K
        for c in s:
            h = _hc32(h, ord(c))
        words.append((_hc32(h, 1), _hc32(h, 2)))
    fp = 0
    for half, off in ((0, 32), (1, 0)):  # hi << 32 | lo
        for b in range(32):
            votes = sum(1 if (w[half] >> b) & 1 else -1 for w in words)
            if votes > 0:
                fp |= 1 << (off + b)
    return fp


def test_doc_simhash_pairs_matches_python_oracle(spark):
    import __spark_entry__ as E

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    hashes = {int(r.doc_id): _simhash(r.text) for r in docs.itertuples()}
    ids = sorted(hashes)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin(hashes[a] ^ hashes[b]).count("1")
            if ham <= THRESH:
                want.add((a, b, ham))

    got = {(r["a"], r["b"], r["hamming"]) for r in
           E.q_doc_simhash_pairs(spark, SF).collect()}
    assert got == want
    assert len(want) > 0  # the fixture really contains planted caption dups


def test_doc_simhash_kernel_matches_jvm(spark):
    """doc_simhash_col (the Arrow kernel) == the python _simhash oracle
    bit-for-bit on NULL/empty/short/tab-padded/BMP-unicode rows, and NULL
    text stays NULL. The interpreted-JVM chain this test once compared
    against is gone; the python oracle fixes the same bits, and
    doc_simhash_oracle_sql re-checks them on DuckDB."""
    from pyspark.sql import functions as F

    from distributed_gpu_lsh_using_sycl_spark.operators.parity_hash import (
        doc_simhash_col)

    edge = ["the quick brown fox jumps over the lazy dog", None, "", "one",
            "two words", "  padded   whitespace \t tabs ",
            "caffé déjà vu ünicode wörds here ünd there",
            "a b c d e f g h i j k l m n o p q r s t"]
    df = spark.createDataFrame(list(enumerate(edge)), "doc_id long, text string")
    sh = {r["doc_id"]: r["s"] for r in
          df.select("doc_id", doc_simhash_col(F.col("text"), K).alias("s"))
          .collect()}
    assert sh[1] is None  # NULL text -> NULL simhash
    for i, text in enumerate(edge):
        if text is not None:  # int64 column vs the unsigned python value
            assert sh[i] & (2**64 - 1) == _simhash(text), text
