"""Seeded benchmark inputs, generated once per (kind, seed, size) and
cached as parquet under the checkout's cache directory.

Generation is never timed. The engine only ever sees the files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from distributed_gpu_lsh_using_sycl_spark.sources import fixture

#: planted-pair kinds a caption-only pass can find (image near-dups, role
#: 7, carry a fresh caption and need the image signals)
CAPTION_KINDS = ("combined", "caption", "substring")

#: row groups per input file: the blob scan plans one split per row group
ROW_GROUPS = 16


def caption_of(seed: int, idx: int) -> str:
    """The fixture's caption for row ``idx`` without building its pixels:
    the caption branch of ``fixture.row_content``."""
    role = idx % 10
    anchor = idx - role
    if role in (6, 8):
        return fixture._perturb_caption(fixture._base_caption(seed, anchor),
                                        seed, idx)
    if role == 9:
        return fixture._substring_caption(fixture._base_caption(seed, anchor),
                                          seed, idx)
    return fixture._base_caption(seed, idx)


def _write(df: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, tmp,
                   row_group_size=max(1, -(-len(df) // ROW_GROUPS)))
    os.replace(tmp, path)


class Inputs:
    """Cache directory for one checkout."""

    def __init__(self, cache_dir: str):
        self.dir = os.path.join(cache_dir, "inputs")

    def _path(self, kind: str, seed: int, size: int, part: str = "") -> str:
        return os.path.join(self.dir, f"{kind}-s{seed}-n{size}{part}.parquet")

    def captions(self, seed: int, lo: int, hi: int) -> str:
        """Caption rows ``[lo, hi)`` as a parquet file (image_id, caption)."""
        path = self._path("captions", seed, hi, f"-from{lo}")
        if not os.path.exists(path):
            idx = range(lo, hi)
            _write(pd.DataFrame({"image_id": [fixture.image_id(i) for i in idx],
                                 "caption": [caption_of(seed, i) for i in idx]}),
                   path)
        return path

    def images(self, seed: int, n: int) -> str:
        """Full fixture rows (BASELINE image schema) as one parquet file."""
        path = self._path("images", seed, n)
        if not os.path.exists(path):
            _write(fixture.rows_for_indices(seed, range(n)), path)
        return path

    def blobs(self, seed: int, n: int, dims: int, centres: int,
              spread: float) -> tuple[str, np.ndarray]:
        """Gaussian blobs (vec_id, v) and the points as an array."""
        path = self._path(f"blobs-d{dims}-c{centres}-sd{spread}", seed, n)
        rng = np.random.Generator(np.random.PCG64([seed, 64]))
        centre = rng.uniform(-1.0, 1.0, size=(centres, dims))
        pts = centre[rng.integers(0, centres, size=n)] \
            + rng.normal(0.0, spread, size=(n, dims))
        if not os.path.exists(path):
            _write(pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                                 "v": list(pts)}), path)
        return path, pts

    def exact_knn(self, key: str, pts: np.ndarray, k: int) -> np.ndarray:
        """(n, k) exact neighbour ids by (squared L2, id), self excluded,
        by numpy brute force; cached next to the input."""
        path = os.path.join(self.dir, f"knn-{key}-k{k}.npy")
        if os.path.exists(path):
            return np.load(path)
        sq = (pts * pts).sum(1)
        out = np.empty((len(pts), k), dtype=np.int64)
        for lo in range(0, len(pts), 1024):
            q = pts[lo:lo + 1024]
            d = sq[lo:lo + len(q), None] + sq[None, :] - 2.0 * q @ pts.T
            d[np.arange(len(q)), np.arange(lo, lo + len(q))] = np.inf
            part = np.argpartition(d, k, axis=1)[:, :k]
            order = np.lexsort((part, np.take_along_axis(d, part, 1)), axis=1)
            out[lo:lo + len(q)] = np.take_along_axis(part, order, 1)
        os.makedirs(self.dir, exist_ok=True)
        np.save(path + ".tmp.npy", out)
        os.replace(path + ".tmp.npy", path)
        return out


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
