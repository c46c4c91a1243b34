"""The end-to-end dedup pipeline: staged, checkpointed, resumable.

Stage graph (each stage = one materialized table, the unit of resume):

    images ─► signatures ─► bands ─┐
                 ├─ window fingerprints ─┼─► candidates ─► pairs ─► edges ─► clusters
                 └─ simhash/phash bit-bands ─┘

One Python pass reads each caption (the signature stage also returns
the substring pass's window fingerprints), one banding frame stacks
every family, and one band plan and one candidate self-join serve them
all; the join's pair distinct lists the families that found each pair.
The pairs stage resolves the window family by ``suffix.window_verdict``
and verifies; the clusters stage takes its vertices from the signature
table (one row per input row, already materialized).

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

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.operators import banding, components, pairs, suffix
from distributed_gpu_lsh_using_sycl_spark.operators.signatures import compute_signatures
from distributed_gpu_lsh_using_sycl_spark.sources.tables import (
    TableIO, read_json, write_json)

STAGES = ("signatures", "bands", "candidates", "pairs", "edges", "clusters")


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
        #: stage -> the values its materializing job observed (``_stage``)
        self.observed: dict[str, dict] = {}
        self._manifest_path = (
            os.path.join(io.warehouse, "_manifest.json") if io and io.fmt == "parquet" else None
        )

    # ------------------------------------------------------------------ #
    # manifest
    # ------------------------------------------------------------------ #
    def _manifest(self) -> dict:
        fresh = {"config_hash": self.cfg.config_hash(), "stages": {}}
        return read_json(self._manifest_path, fresh) if self._manifest_path else fresh

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
            write_json(self._manifest_path, m)

    def _done(self, stage: str) -> bool:
        if not self.io:
            return False
        m = self._manifest()
        return (m.get("config_hash") == self.cfg.config_hash()
                and m["stages"].get(stage, {}).get("status") == "DONE"
                and self.io.exists(stage))

    def _stage(self, name: str, build, observe=None,
               needs: tuple[str, ...] = ()) -> DataFrame:
        """Run or resume one stage; materialize via TableIO when present.

        The materializing job observes the stage's row count
        (``DataFrame.observe``, no count job), and a written table is
        re-read with the schema it was written with (no footer-inference
        job). ``observe``: built frame -> further named aggregates the same
        job observes; their values and ``rows`` land in
        ``self.observed[name]``, and without a warehouse such a stage is
        materialized by an eager ``localCheckpoint``. ``needs``: columns a
        DONE table must have to be reused — one written before the stage
        gained them is rebuilt.

        Otherwise, with io=None the stage stays LAZY — deliberately. An
        eager per-stage ``localCheckpoint`` variant was A/B'd
        (interleaved, same session, sf0.1 and 10x): it LOSES at 10x (min
        wall 61.72s eager vs 45.98s lazy), because the no-warehouse graph
        is consumed through connected_components' entry checkpoint (or,
        under the band plan's bound, its union-find collect), which
        materializes the verified-edge chain exactly once anyway — so
        laziness costs no recompute on the main path, while eager staging
        pays real block-manager writes for the wide band frames. The
        signature frame, which feeds the band plan, both sides of the
        candidate join and the pair features, is the one stage ``run``
        observes; operators whose output feeds multiple consumers
        checkpoint internally (band_plan's stats; connected_components'
        edge set)."""
        if self._done(name):
            df = self.io.read(name)
            if set(needs) <= set(df.columns):
                self._record(name, "SKIPPED", None, 0)
                return df
        t0 = time.perf_counter()
        df = build()
        if not self.io and observe is None:
            self._record(name, "LAZY", None, int((time.perf_counter() - t0) * 1000))
            return df
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                        *(observe(df) if observe else []))
        if self.io:
            self.io.write(df, name)
            out = self.io.read(name, schema=df.schema)
        else:
            out = df.localCheckpoint(eager=True)
        self.observed[name] = obs.get
        self._record(name, "DONE" if self.io else "CHECKPOINTED",
                     int(self.observed[name]["rows"]),
                     int((time.perf_counter() - t0) * 1000))
        return out

    # ------------------------------------------------------------------ #
    # the plan
    # ------------------------------------------------------------------ #
    def run(self, images: DataFrame | None = None) -> PipelineResult:
        """``images`` feeds the signature stage; with ``scan_path`` set the
        stage reads that path itself and ``images`` may be None."""
        if images is None and not self.scan_path:
            raise ValueError("run needs an images frame or a scan_path")
        cfg = self.cfg
        t: dict[str, DataFrame] = {}

        def build_signatures() -> DataFrame:
            if self.scan_path:
                from distributed_gpu_lsh_using_sycl_spark.sources import blob_scan
                return blob_scan.scan_signatures(
                    self.spark, self.scan_path, cfg, with_image=self.with_image,
                    id_col=self.id_col, text_col=self.text_col,
                    with_windows=True)
            return compute_signatures(images, cfg, id_col=self.id_col,
                                      text_col=self.text_col,
                                      with_image=self.with_image,
                                      with_windows=True)

        # The signature frame feeds the bands, the window fingerprints, the
        # bit-bands, the rehydration and the vertices; without a
        # materialized stage the pandas UDFs recompute 3x. A lazy persist()
        # is NOT enough: the candidate job's stats/left/right stages launch
        # concurrently and each computes the uncached partitions (measured
        # 3 duplicate UDF stages), so the stage is materialized once, up
        # front. The same job observes the byte size of the columns the
        # pairs stage rehydrates, which decides that join's broadcast.
        t["signatures"] = self._stage(
            "signatures", build_signatures, needs=("text",),
            observe=lambda df: [pairs.feature_bytes(
                df, pairs.dedup_features(df)).alias("feature_bytes")])
        sigs = t["signatures"]
        feature_size = self.observed.get("signatures", {}).get("feature_bytes")
        if feature_size is not None:
            self._record("signatures:feature_bytes", "INFO", feature_size, 0)

        t["bands"] = self._stage("bands", lambda: banding.explode_bands(sigs))
        # Every banding family in ONE frame: MinHash bands, the substring
        # pass's window fingerprints (computed by the signature pass) and,
        # with images, the SimHash/pHash bit-bands. One band_plan (one
        # stats shuffle, whose job also observes the frame's row count for
        # the broadcast decision) and one candidate self-join serve all of
        # them; its pair distinct lists the families that found each pair.
        families = {"minhash": t["bands"], "substring": suffix.window_bands(sigs)}
        if self.with_image:
            families["simhash"] = banding.bit_bands(sigs, "simhash", cfg)
            families["phash"] = banding.bit_bands(sigs, "phash", cfg)
        fused, family = banding.stack_bands(families)
        # Built INSIDE the stage lambda: a resumed run whose stage is DONE
        # must not pay the stats shuffle (its drop counts were recorded by
        # the original run).
        plan_box: dict = {}

        def build_candidates() -> DataFrame:
            plan_box["plan"] = banding.band_plan(fused, cfg)
            return banding.candidate_pairs_from_bands(
                fused, cfg, source=family, plan=plan_box["plan"])

        t["candidates"] = self._stage("candidates", build_candidates)
        if cfg.max_bucket_size > 0 and "plan" in plan_box:
            # no-silent-caps: the degenerate-bucket down-sample's exact drop
            # count per family goes into metrics. No bucket over the cap
            # proves every count zero with no job; otherwise one broadcast
            # join + partial agg over the plan's stats (no second stats
            # shuffle).
            plan = plan_box["plan"]
            t0 = time.perf_counter()
            dropped: dict = {}
            if plan.max_cnt > cfg.max_bucket_size:
                dropped = dict(
                    banding.downsample_dropped(fused, cfg, plan)
                    .groupBy(family.alias("family"))
                    .agg(F.sum("dropped")).collect())
            millis = int((time.perf_counter() - t0) * 1000)
            for name in families:
                self._record(f"cand_{name}:dropped", "INFO",
                             int(dropped.get(name, 0)), millis)

        def build_pairs() -> DataFrame:
            # One rehydration serves the window verdict and the verify: the
            # signatures carry each caption as ``text``. The window
            # family's pairs are resolved by the substring verdict
            # (suffix.window_verdict): a shared length-L window makes a
            # pair a "window" candidate for the Jaccard/Hamming verify (a
            # merely-shared window auto-verified transitively over-merged
            # clusters: a 97-doc blob on synthetic text), containment
            # makes it a "substring" dup by itself, and no shared window
            # drops the family (a hash-collision or short-gram candidate)
            # — and the pair with it when no other family found it.
            fams = F.split("source", "[+]")
            cands = suffix.window_verdict(
                pairs.attach_features(t["candidates"], sigs, size=feature_size),
                cfg, found=F.array_contains(fams, "substring"))
            source = F.array_join(F.array_sort(F.array_append(
                F.array_remove(fams, "substring"), F.col("window"))), "+")
            return pairs.verify_pairs(
                cands.withColumn("source", source)
                .filter(F.col("source") != ""), cfg)

        t["pairs"] = self._stage("pairs", build_pairs)
        t["edges"] = self._stage("edges", lambda: pairs.verified_edges(t["pairs"]))
        # Σ C(cnt, 2) over the plan's buckets bounds the distinct candidate
        # pairs, and the verified edges are a subset of them; a resumed
        # candidates stage built no plan, so CC counts its edges itself.
        bound = plan_box["plan"].mass if "plan" in plan_box else None
        t["clusters"] = self._stage(
            "clusters",
            lambda: components.assign_clusters(sigs, t["edges"], bound=bound))

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


def run_dedup(spark: SparkSession, images: DataFrame | None,
              cfg: LshConfig | None = None,
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
    res = run_dedup(spark, None, cfg, warehouse=args.out,
                    with_image=not args.no_image, scan_path=args.input)
    n = res["clusters"].filter(F.col("image_id") != F.col("cluster_id")).count()
    print(json.dumps({"run_id": res.run_id, "dup_rows": n,
                      "metrics": res.metrics}))
    spark.stop()


if __name__ == "__main__":
    _main()
