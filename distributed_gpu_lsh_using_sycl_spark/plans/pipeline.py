"""The end-to-end dedup pipeline: staged, checkpointed, resumable.

Stage graph (each stage = one materialized table, the unit of resume):

    images ─► signatures ─► bands ─► cand_minhash ─┐
                 │  ├──────────────► cand_simhash ─┤
                 │  └──────────────► cand_phash  ──┼─► pairs ─► edges ─► clusters
    images ────────────────────────► cand_substr ──┘

Resumability (north rule): every stage write is recorded in a manifest
(``lineage`` table: run_id, stage, config_hash, input_snapshot, status,
ts). A relaunch with the same config hash skips stages whose manifest
row is DONE and whose table exists — the analog of the reference's
single-shot fit/kneighbors split (main.cpp:46-55) generalized to
arbitrary restart points. Per-stage row counts and wall-clock go to the
``metrics`` table (profiler analog, profiler.cpp:105-176).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.operators import banding, components, pairs, suffix
from distributed_gpu_lsh_using_sycl_spark.operators.signatures import compute_signatures
from distributed_gpu_lsh_using_sycl_spark.sources.tables import TableIO

STAGES = ("signatures", "bands", "cand_minhash", "cand_simhash", "cand_phash",
          "cand_substring", "pairs", "edges", "clusters")


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame]
    metrics: list[dict] = field(default_factory=list)
    run_id: str = ""

    def __getitem__(self, name: str) -> DataFrame:
        return self.tables[name]


class DedupPipeline:
    """Orchestrates the stage graph over an images DataFrame.

    With ``io=None`` the stages stay lazy/in-memory (tests); with a
    TableIO every stage is materialized + manifest-tracked and a rerun
    resumes after the last completed stage. Execution strategy is not
    configured here: the clusters stage's union-find vs star-loop choice
    belongs to ``components.assign_clusters`` (SMALL_GRAPH_EDGES).
    """

    def __init__(self, spark: SparkSession, cfg: LshConfig,
                 io: TableIO | None = None, with_image: bool = True,
                 id_col: str = "image_id", text_col: str = "caption",
                 scan_path: str | None = None):
        self.spark = spark
        self.cfg = cfg
        self.io = io
        self.with_image = with_image
        self.id_col = id_col
        self.text_col = text_col
        #: parquet path of the input table, when known: the signature
        #: stage then uses the blob-scan pushdown (sources/blob_scan.py)
        #: so image bytes never transit the JVM — bit-identical
        #: signatures, ~1.7x stage throughput at 8 cores (see module doc)
        self.scan_path = scan_path
        self.run_id = uuid.uuid4().hex[:12]
        self.metrics: list[dict] = []
        self._manifest_path = (
            os.path.join(io.warehouse, "_manifest.json") if io and io.fmt == "parquet" else None
        )

    # ------------------------------------------------------------------ #
    # manifest
    # ------------------------------------------------------------------ #
    def _manifest(self) -> dict:
        if self._manifest_path and os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"config_hash": self.cfg.config_hash(), "stages": {}}

    def _record(self, stage: str, status: str, rows: int | None, millis: int) -> None:
        self.metrics.append({
            "stage": stage, "rows": rows, "millis": millis,
            "run_id": self.run_id, "status": status,
        })
        if self._manifest_path:
            if status == "SKIPPED":
                # a resumed run must not demote the stage's DONE record —
                # the manifest tracks what is materialized, not what this
                # particular run did (run-level history goes to lineage)
                return
            m = self._manifest()
            if m.get("config_hash") != self.cfg.config_hash():
                m = {"config_hash": self.cfg.config_hash(), "stages": {}}
            m["stages"][stage] = {
                "status": status, "rows": rows, "millis": millis,
                "run_id": self.run_id, "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            tmp = self._manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(m, f, indent=1)
            os.replace(tmp, self._manifest_path)

    def _done(self, stage: str) -> bool:
        if not self.io:
            return False
        m = self._manifest()
        return (m.get("config_hash") == self.cfg.config_hash()
                and m["stages"].get(stage, {}).get("status") == "DONE"
                and self.io.exists(stage))

    def _stage(self, name: str, build) -> DataFrame:
        """Run or resume one stage; materialize via TableIO when present.

        With io=None the stage stays LAZY — deliberately. An eager
        per-stage ``localCheckpoint`` variant was A/B'd (interleaved,
        same session, sf0.1 and 10x): it LOSES at 10x (min wall 61.72s
        eager vs 45.98s lazy), because the no-warehouse graph is
        consumed through connected_components' entry checkpoint, which
        materializes the verified-edge chain exactly once anyway — so
        laziness costs no recompute on the main path, while eager
        staging pays real block-manager writes for the wide signature
        and band frames. Operators whose output feeds multiple
        consumers checkpoint internally (substring_candidates'
        fingerprint frame; connected_components' edge set)."""
        if self._done(name):
            df = self.io.read(name)
            self._record(name, "SKIPPED", None, 0)
            return df
        t0 = time.perf_counter()
        df = build()
        if self.io:
            self.io.write(df, name)
            out = self.io.read(name)
            rows = out.count()
            self._record(name, "DONE", rows, int((time.perf_counter() - t0) * 1000))
            return out
        self._record(name, "LAZY", None, int((time.perf_counter() - t0) * 1000))
        return df

    # ------------------------------------------------------------------ #
    # the plan
    # ------------------------------------------------------------------ #
    def run(self, images: DataFrame) -> PipelineResult:
        cfg = self.cfg
        t: dict[str, DataFrame] = {}

        def build_signatures() -> DataFrame:
            if self.scan_path:
                from distributed_gpu_lsh_using_sycl_spark.sources import blob_scan
                return blob_scan.scan_signatures(
                    self.spark, self.scan_path, cfg, with_image=self.with_image,
                    id_col=self.id_col, text_col=self.text_col)
            return compute_signatures(images, cfg, id_col=self.id_col,
                                      text_col=self.text_col,
                                      with_image=self.with_image)

        t["signatures"] = self._stage("signatures", build_signatures)
        sigs = t["signatures"]
        if not self.io:
            # signatures feed bands + both sides of the rehydration join;
            # without a materialized stage table the pandas UDFs recompute
            # 3x. A lazy persist() is NOT enough: the candidate job's
            # stats/left/right stages launch concurrently and each computes
            # the uncached partitions (measured 3 duplicate UDF stages) —
            # eager localCheckpoint materializes exactly once, up front.
            sigs = t["signatures"] = sigs.localCheckpoint(eager=True)

        t["bands"] = self._stage("bands", lambda: banding.explode_bands(sigs))

        def banded_candidates(stage: str, bands_df: DataFrame,
                              source: str) -> None:
            # ONE stats shuffle per banding frame: banding.band_plan
            # materializes the over-threshold occupancy (hot + degenerate
            # buckets, small by the skew assumption) once and observes its
            # bucket count and largest bucket on that same job. The count
            # picks the candidate join's fast path; the largest bucket
            # decides whether the drop accounting has anything to count.
            # Built INSIDE the stage lambda: a resumed run whose stage is
            # DONE must not pay the stats shuffle (its drop count was
            # recorded by the original run).
            plan_box: dict = {}

            def build() -> DataFrame:
                plan_box["plan"] = banding.band_plan(bands_df, cfg)
                return banding.candidate_pairs_from_bands(
                    bands_df, cfg, source=source, plan=plan_box["plan"])

            t[stage] = self._stage(stage, build)
            if cfg.max_bucket_size <= 0 or "plan" not in plan_box:
                return
            plan = plan_box["plan"]
            # no-silent-caps: the degenerate-bucket down-sample's exact
            # drop count goes into metrics. No bucket over the cap proves
            # it zero with no job; otherwise one broadcast join + partial
            # agg over the plan's stats (no second stats shuffle).
            t0 = time.perf_counter()
            n_dropped = 0
            if plan.max_cnt > cfg.max_bucket_size:
                n_dropped = (banding.downsample_dropped(bands_df, cfg, plan)
                             .agg(F.coalesce(F.sum("dropped"), F.lit(0)))
                             .collect()[0][0])
            self._record(f"{stage}:dropped", "INFO", int(n_dropped),
                         int((time.perf_counter() - t0) * 1000))

        banded_candidates("cand_minhash", t["bands"], "minhash")

        if self.with_image:
            banded_candidates("cand_simhash",
                              banding.bit_bands(sigs, "simhash", cfg),
                              "simhash")
            banded_candidates("cand_phash",
                              banding.bit_bands(sigs, "phash", cfg),
                              "phash")

        docs = images.select(F.col(self.id_col).alias("image_id"),
                             F.col(self.text_col).alias("caption"))
        # Containment (caption embedded verbatim) is a dup by itself; a
        # merely-shared length-L window is only a CANDIDATE signal that
        # still must pass the Jaccard/Hamming verify (auto-verifying it
        # transitively over-merged clusters: a 97-doc blob on synthetic
        # text). Both flow into the pair stage under distinct sources.
        t["cand_substring"] = self._stage(
            "cand_substring",
            lambda: suffix.verify_substring_pairs(
                suffix.substring_candidates(docs, cfg), docs, cfg)
            .select("a", "b",
                    F.when(F.col("contains"), F.lit("substring"))
                     .otherwise(F.lit("window")).alias("source")))

        def build_pairs() -> DataFrame:
            cands = [t["cand_minhash"].select("a", "b", "source"),
                     t["cand_substring"]]
            if self.with_image:
                cands += [t["cand_simhash"].select("a", "b", "source"),
                          t["cand_phash"].select("a", "b", "source")]
            merged = pairs.merge_candidates(*cands)
            return pairs.verify_pairs(pairs.attach_features(merged, sigs), cfg)

        t["pairs"] = self._stage("pairs", build_pairs)
        t["edges"] = self._stage("edges", lambda: pairs.verified_edges(t["pairs"]))
        t["clusters"] = self._stage(
            "clusters",
            lambda: components.assign_clusters(
                images, t["edges"], id_col=self.id_col))

        if self.io:
            mdf = self.spark.createDataFrame(
                [(m["stage"], m["rows"], m["millis"], m["run_id"], m["status"])
                 for m in self.metrics],
                "stage string, rows long, millis long, run_id string, status string")
            self.io.append(mdf, "metrics")
            ldf = self.spark.createDataFrame(
                [(self.run_id, m["stage"], cfg.config_hash(), "images", m["status"],
                  time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
                 for m in self.metrics],
                "run_id string, stage string, config_hash string, "
                "input_snapshot string, status string, ts string")
            self.io.append(ldf, "lineage")

        return PipelineResult(tables=t, metrics=self.metrics, run_id=self.run_id)


def run_dedup(spark: SparkSession, images: DataFrame, cfg: LshConfig | None = None,
              warehouse: str | None = None, with_image: bool = True,
              id_col: str = "image_id", text_col: str = "caption",
              scan_path: str | None = None) -> PipelineResult:
    cfg = cfg or LshConfig()
    io = TableIO(spark, warehouse, cfg.table_format) if warehouse else None
    return DedupPipeline(spark, cfg, io=io, with_image=with_image,
                         id_col=id_col, text_col=text_col,
                         scan_path=scan_path).run(images)


def _main() -> None:
    """spark-submit entry: python -m ...plans.pipeline --input DIR --out DIR"""
    import argparse

    from distributed_gpu_lsh_using_sycl_spark.sources.tables import get_spark

    ap = argparse.ArgumentParser(description="near-dup detection pipeline")
    ap.add_argument("--input", required=True, help="parquet dir / iceberg table of images")
    ap.add_argument("--out", required=True, help="warehouse dir for stage tables")
    ap.add_argument("--config", default=None, help="json file with LshConfig overrides")
    ap.add_argument("--no-image", action="store_true", help="caption-only pipeline")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    overrides = {}
    if args.config:
        with open(args.config) as f:
            overrides = json.load(f)
    cfg = LshConfig(**overrides)
    spark = get_spark("dedup-pipeline", parallelism=args.cores,
                      shuffle_partitions=cfg.shuffle_partitions)
    images = spark.read.parquet(args.input)
    res = run_dedup(spark, images, cfg, warehouse=args.out,
                    with_image=not args.no_image, scan_path=args.input)
    n = res["clusters"].filter(F.col("image_id") != F.col("cluster_id")).count()
    print(json.dumps({"run_id": res.run_id, "dup_rows": n,
                      "metrics": res.metrics}))
    spark.stop()


if __name__ == "__main__":
    _main()
