"""Trained-artifact cache: train once, probe many.

A production ANN deployment does not retrain its coarse quantizer inside
every query — the codebook is a TRAINED ARTIFACT, built once per (input
snapshot, training config) and reused by every probe plan (the FAISS
train()/add()/search() split; the reference's analog is the hash-pool
drawn once in the constructor and reused across queries,
hash_functions.hpp:144-183). This module gives that lifecycle to any
deterministic, small, expensive-to-derive frame:

- ``source_fingerprint`` captures the input snapshot (file names, sizes,
  mtimes) so a regenerated source invalidates the artifact instead of
  silently serving stale values;
- ``cached_parquet_artifact`` keys the artifact on (name, params,
  source fingerprint, layout version), builds + persists on miss, and
  serves the parquet read-back on hit.

Everything cached here is DETERMINISTIC given (source, params) — the
cache can change WHEN work happens, never what any query returns; the
driver's DuckDB oracles recompute the artifact's chain from scratch and
hash-match it either way.

The artifact root is a local path, like every warehouse path
(``sources/tables.py``).
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

#: bump when the artifact layout/semantics of any cached builder changes
ARTIFACT_FORMAT_VERSION = 1


def default_artifact_root() -> str:
    return os.environ.get(
        "DLSH_ARTIFACTS",
        os.path.join(tempfile.gettempdir(), "dlsh_artifacts"))


def source_fingerprint(path: str) -> str:
    """Content-version fingerprint of a source file or directory: hash of
    every file's (relative path, size, mtime_ns). Any rewrite of the
    source — even same-size — changes mtime and invalidates artifacts
    keyed on it (the stale-cache failure ADVICE flagged for the bench's
    .bin cache)."""
    entries = []
    if os.path.isfile(path):
        st = os.stat(path)
        entries.append(("", st.st_size, st.st_mtime_ns))
    else:
        for root, _, files in os.walk(path):
            for f in sorted(files):
                fp = os.path.join(root, f)
                st = os.stat(fp)
                entries.append((os.path.relpath(fp, path),
                                st.st_size, st.st_mtime_ns))
    blob = json.dumps(sorted(entries)).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def artifact_path(name: str, source: str, params: dict,
                  artifact_root: str | None = None,
                  suffix: str = ".parquet") -> str:
    """Deterministic artifact location for (name, params, source
    snapshot): same inputs -> same path -> reuse; any change -> new path
    (old artifacts are inert, never wrong)."""
    key = json.dumps({"v": ARTIFACT_FORMAT_VERSION, "params": params},
                     sort_keys=True, default=str)
    h = hashlib.sha256(key.encode()).hexdigest()[:12]
    fp = source_fingerprint(source)
    return os.path.join(artifact_root or default_artifact_root(),
                        f"{name}_{h}_{fp}{suffix}")


def cached_parquet_artifact(spark: SparkSession, name: str, source: str,
                            params: dict, build: Callable[[], DataFrame],
                            artifact_root: str | None = None) -> DataFrame:
    """Return the (name, params, source-snapshot) artifact, building +
    persisting it exactly once. ``build`` must be deterministic — the
    cache serves bit-identical values either way, it only skips the
    training work. The write goes through a tmp dir + atomic rename so a
    crashed build never leaves a half-artifact that later reads trust."""
    path = artifact_path(name, source, params, artifact_root)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path)
    df = build()
    # Per-writer tmp path: concurrent sessions (bench + a tool run) that
    # both miss the same key must never share a staging dir — a shared
    # "<path>.tmp" would let one writer's overwrite delete the other's
    # in-flight parts and then publish a MIXED dir under _SUCCESS,
    # poisoning the key forever (same fingerprint, no invalidation).
    import shutil
    import uuid

    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    # Publish protocol: NEVER delete anything reachable at `path` that
    # carries _SUCCESS — a concurrent session may already be serving it
    # (an unconditional rmtree here briefly unlinks a live artifact and,
    # if this process then dies, loses it entirely). A crash leftover
    # (dir WITHOUT _SUCCESS) is first atomically renamed aside — only
    # one racer's rename can succeed, so only the claimant deletes — and
    # only then removed. os.rename(tmp, path) fails while anything sits
    # at `path`, so a published winner is never overwritten.
    for _ in range(8):
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            # a concurrent build published first; both are deterministic
            # so theirs is identical — discard ours, serve the published
            shutil.rmtree(tmp, ignore_errors=True)
            return spark.read.parquet(path)
        try:
            os.rename(tmp, path)
            return spark.read.parquet(path)
        except OSError:
            pass  # something occupies `path`
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            # crash leftover: claim it by atomic rename, then delete the
            # claimed copy (ours alone — never the live path)
            aside = f"{path}.stale.{os.getpid()}.{uuid.uuid4().hex[:8]}"
            try:
                os.rename(path, aside)
            except OSError:
                continue  # another racer claimed or published; re-check
            shutil.rmtree(aside, ignore_errors=True)
    # bounded retries exhausted (pathological racer churn): serve
    # whatever won if complete, else surface the conflict loudly
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path)
    raise RuntimeError(
        f"artifact publish for {path!r} lost 8 straight claim races and "
        "no complete artifact exists — clean the artifact root of stale "
        ".tmp/.stale dirs and rerun")
