"""The workloads, assign and harvest, and the checkpoint_knn probe.

Each workload builds its inputs from the seed in `build` (run once per
set-up repetition), warms up with one untraced pass, runs one closed-loop
pass in `run_pass`, and checks outputs against `oracles.py`. `run_pass` takes a
Tracer: when it is enabled the pass wraps each call into an engine layer in
a span, and `assign` also runs its per-layer probes (the encode stage alone,
the cover planner alone, and a checkpoint_knn pass on an input of its own)
outside the pass span, so the pass itself is the same code in both modes.
"""

from __future__ import annotations

import importlib
import math
import os
import shutil
from functools import cached_property
from time import perf_counter as _now

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import oracles
from harness import OFF
from stac_to_geocore_spark import fixtures, job, pipeline
from stac_to_geocore_spark.compat import translate
from stac_to_geocore_spark.sources import sinks
from stac_to_geocore_spark.spatial.cover import COVER_SCHEMA, covers_pdf
from stac_to_geocore_spark.spatial.knn import knn_join
from stac_to_geocore_spark.tables.lineage import LineageWriter, read_manifest

# the package re-exports a function named `harvest`, shadowing the module
harvest_src = importlib.import_module("stac_to_geocore_spark.sources.harvest")

SIZES = {
    "full": {
        "assign_images": 150_000, "assign_polygons": 64,
        "harvest_items": 1_500, "harvest_page": 100, "harvest_sample": 64,
        "ckpt_images": 30_000, "ckpt_polygons": 3, "ckpt_half_deg": 0.15, "ckpt_batches": 2,
        "knn_queries": 8, "knn_k": 10,
    },
    # smoke-test sizes: every code path, a few seconds per pass
    "toy": {
        "assign_images": 20_000, "assign_polygons": 16,
        "harvest_items": 300, "harvest_page": 50, "harvest_sample": 16,
        "ckpt_images": 20_000, "ckpt_polygons": 3, "ckpt_half_deg": 0.1, "ckpt_batches": 4,
        "knn_queries": 4, "knn_k": 5,
    },
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> tuple[int, int]:
    """(file count, total bytes) under path."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


class Context:
    """What a workload needs from the runner: the live session, the seed,
    the sizes and a private scratch directory inside the checkout."""

    def __init__(self, session, seed: int, sizes: dict, workdir: str):
        self.session = session
        self.seed = seed
        self.sizes = sizes
        self.workdir = workdir

    @property
    def spark(self):
        return self.session.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.run_counts: dict = {}  # per-run layer counts, set outside any pass

    def build(self) -> None:
        """Make the inputs from the seed (every set-up repetition)."""
        raise NotImplementedError

    def warm_up(self) -> None:
        self.run_pass(OFF)

    def run_pass(self, tr) -> dict:
        """One pass; returns {"inputs": n, ...} with per-pass facts."""
        raise NotImplementedError

    def check_pass(self, facts: dict) -> list:
        """Oracle checks of the pass just run (outside the timed region)."""
        return []

    def check_run(self) -> list:
        """Oracle checks made once per run, after the timed passes."""
        return []

    def probe_counts(self) -> None:
        """Extra per-run counts for the traced run (outside the spans)."""


# -------------------------------------------------------------------- assign


class Assign(Workload):
    """Clustered images table (parquet, no pixel bytes) joined with mixed
    polygons by `pipeline.flagship`, forced through the noop sink."""

    name = "assign"

    def build(self) -> None:
        ctx, sz = self.ctx, self.ctx.sizes
        self.n = sz["assign_images"]
        self.path = ctx.path("assign", "images.parquet")
        fixtures.images_df(ctx.spark, self.n, seed=ctx.seed, bytes_mode="none") \
            .write.mode("overwrite").parquet(self.path)
        self.polys_pdf = fixtures.gen_polygons_pdf(sz["assign_polygons"], ctx.seed)
        self.polys = fixtures.polygons_df(ctx.spark, sz["assign_polygons"], seed=ctx.seed)

    ckpt = None

    def run_pass(self, tr) -> dict:
        spark = self.ctx.spark
        facts = {"inputs": self.n}
        if tr.enabled:
            with tr.span("cover.covers") as s:
                cov = covers_pdf(self.polys_pdf, fixed_res=pipeline.COVER_RES)
                s["counts"].update(cells=len(cov), fully_inside_frac=float(cov["fully_inside"].mean()))
            with tr.span("cells.encode"):
                _noop(pipeline.encode_stage(spark.read.parquet(self.path)))
            if self.ckpt is None:
                self.ckpt = CheckpointKnn(self.ctx)
                self.ckpt.build()
            probe = self.ckpt.run_pass(tr, root="checkpoint_knn")
            facts.update((k, v) for k, v in probe.items() if k != "inputs")
        with tr.span("pass"):
            with tr.span("pip.flagship"):
                _noop(pipeline.flagship(spark.read.parquet(self.path), self.polys))
        return facts

    def check_pass(self, facts: dict) -> list:
        return self.ckpt.check_pass(facts) if "knn_rows" in facts else []

    def check_run(self) -> list:
        out = pipeline.flagship(self.ctx.spark.read.parquet(self.path), self.polys).toPandas()
        self.run_counts["pip.assignments"] = len(out)
        return [oracles.check_assignments(out, oracles.image_points(self.n, self.ctx.seed), self.polys_pdf)]

    def probe_counts(self) -> None:
        """Join candidates before the exact bbox refine (the planner folds
        the refine into the join, so its own row counts never show them)."""
        spark = self.ctx.spark
        cov = spark.createDataFrame(
            covers_pdf(self.polys_pdf, fixed_res=pipeline.COVER_RES), COVER_SCHEMA
        ).withColumnRenamed("cell", "cell_p5")
        enc = pipeline.encode_stage(spark.read.parquet(self.path))
        self.run_counts["pip.candidates"] = enc.join(F.broadcast(cov), "cell_p5").count()


# ------------------------------------------------------------------- harvest


class Harvest(Workload):
    """The daily job: fake STAC API -> `job.run_harvest` -> local object
    store that still holds the previous run's objects."""

    name = "harvest"

    def build(self) -> None:
        ctx, sz = self.ctx, self.ctx.sizes
        self.n = sz["harvest_items"]
        self.fetch = fixtures.make_fake_stac_fetch(self.n, page_size=sz["harvest_page"], seed=ctx.seed)
        self.store = ctx.path("harvest", "store")
        shutil.rmtree(self.store, ignore_errors=True)

    def warm_up(self) -> None:
        # also leaves the previous run's objects for the first timed pass
        self.run_pass(OFF)

    def run_pass(self, tr) -> dict:
        spark = self.ctx.spark
        if not tr.enabled:
            keys = job.run_harvest(spark, fixtures.API_ROOT, self.store, fetch=self.fetch)
            return {"inputs": self.n, "outputs": len(keys) + 1}
        # job.run_harvest, one span per layer call; cached between layers so
        # each span times its own layer
        src, root_name, system = translate.DEFAULT_SOURCE, translate.DEFAULT_ROOT_NAME, translate.DEFAULT_SOURCE_SYSTEM
        with tr.span("pass"):
            with tr.span("harvest.plan_pages") as s:
                s["counts"]["pages"] = len(harvest_src.plan_pages(self.fetch, f"{fixtures.API_ROOT}/search"))
            with tr.span("harvest.fetch_items") as s:
                root, colls_df, items_df = harvest_src.harvest(spark, fixtures.API_ROOT, self.fetch)
                items_df = items_df.persist()
                s["counts"]["items"] = items_df.count()
            with tr.span("compat.translate") as s:
                colls = [translate._coll_dict(r) for r in colls_df.toPandas().to_dict("records")]
                root_key, root_json = translate.translate_root(root, colls, src, root_name, system)
                root_id = root_key[len(src) + len("-root-"): -len(".geojson")]
                docs = (
                    spark.createDataFrame([(root_key, root_json)], "key string, json string")
                    .unionByName(translate.translate_collections(colls_df, src, root_id, root_name, system))
                    .unionByName(translate.translate_items(items_df, colls_df, src, root_name, system))
                    .persist()
                )
                s["counts"]["docs"] = docs.count()
            store = sinks.LocalObjectStore(self.store)
            with tr.span("sinks.delete_previous") as s:
                s["counts"]["deleted"] = sinks.delete_previous_run(store)
            with tr.span("sinks.write_objects"):
                sinks.write_objects(docs, self.store, manifest_parts=True)
            with tr.span("sinks.merge_manifest") as s:
                n_keys = sinks.merge_manifest_parts(store)
                s["counts"]["objects"] = n_keys + 1
        docs.unpersist()
        items_df.unpersist()
        return {"inputs": self.n, "outputs": n_keys + 1}

    @cached_property
    def oracle(self):
        seed = self.ctx.seed
        return oracles.expected_harvest(
            fixtures.stac_root_fixture(), fixtures.stac_collections_fixture(seed),
            fixtures.stac_items_fixture(self.n, seed), translate.DEFAULT_SOURCE,
            translate.DEFAULT_ROOT_NAME, translate.DEFAULT_SOURCE_SYSTEM,
        )

    def check_pass(self, facts: dict) -> list:
        docs, item_keys = self.oracle
        _, size = _dir_bytes(self.store)
        facts["stored_bytes"] = size
        manifest_bytes = os.path.getsize(os.path.join(self.store, sinks.MANIFEST_KEY))
        self.run_counts["compat.json_bytes"] = size - manifest_bytes
        return [oracles.check_harvest(self.store, sinks.MANIFEST_KEY, docs, item_keys,
                                      self.ctx.sizes["harvest_sample"], self.ctx.seed + facts["pass"])]


# ------------------------------------------------------------ checkpoint_knn


def dense_polygons(n: int, half_deg: float, seed: int) -> pd.DataFrame:
    """Boxes of equal ground size centred on the first n hot clusters: the
    distinct cell_p5 count, which drives the lineage cost, stays about the
    same for every seed."""
    clon, clat = fixtures.cluster_centers(seed)
    clon, clat = clon[:n], clat[:n]
    half_w = half_deg / np.cos(np.radians(clat))
    return pd.DataFrame({
        "poly_id": [f"poly-{k:05d}" for k in range(n)],
        "west": clon - half_w, "south": clat - half_deg,
        "east": clon + half_w, "north": clat + half_deg,
    })


def knn_queries(n: int, n_polys: int, half_deg: float, seed: int) -> pd.DataFrame:
    clon, clat = fixtures.cluster_centers(seed)
    rng = np.random.default_rng(seed)
    j = np.arange(n) % n_polys
    dlat = rng.uniform(-half_deg, half_deg, n)
    dlon = rng.uniform(-half_deg, half_deg, n) / np.cos(np.radians(clat[j]))
    return pd.DataFrame({"query_id": [f"q{i:03d}" for i in range(n)],
                         "lon": clon[j] + dlon, "lat": clat[j] + dlat})


class CheckpointKnn(Workload):
    """`LineageWriter` over `flagship` output killed after half its batches,
    resumed by `pipeline.materialize_assignments`, then a batch of
    `knn_join` queries over the committed table.

    Not a benchmark workload of its own: its passes (JVM launch, cold Python
    workers and many small Spark jobs) did not fit the run budget steadily,
    so `assign` runs one as a probe in each traced pass to measure the
    lineage and knn layers."""

    name = "checkpoint_knn"

    def build(self) -> None:
        ctx, sz = self.ctx, self.ctx.sizes
        self.n = sz["ckpt_images"]
        self.path = ctx.path("checkpoint_knn", "images.parquet")
        self.table = ctx.path("checkpoint_knn", "assignments")
        fixtures.images_df(ctx.spark, self.n, seed=ctx.seed, bytes_mode="none") \
            .write.mode("overwrite").parquet(self.path)
        self.polys_pdf = dense_polygons(sz["ckpt_polygons"], sz["ckpt_half_deg"], ctx.seed)
        self.polys = ctx.spark.createDataFrame(self.polys_pdf, fixtures.POLYGONS_SCHEMA)
        self.queries = knn_queries(sz["knn_queries"], sz["ckpt_polygons"], sz["ckpt_half_deg"], ctx.seed)
        # batch size from the oracle's partition count, so the kill lands
        # after half the batches whatever the seed
        parts = len(np.unique(self.oracle[1]))
        self.batch_size = max(1, math.ceil(parts / sz["ckpt_batches"]))
        self.kill_after = sz["ckpt_batches"] // 2

    def run_pass(self, tr, root: str = "pass") -> dict:
        spark, k = self.ctx.spark, self.ctx.sizes["knn_k"]
        shutil.rmtree(self.table, ignore_errors=True)
        imgs = spark.read.parquet(self.path)
        with tr.span(root):
            t0 = _now()
            with tr.span("lineage.kill"):
                # materialize_assignments has no kill hook: same plan, and the
                # writer's own fail_after_batches test hook
                out = pipeline.flagship(imgs, self.polys).withColumn("cell", F.col("h3_r7"))
                try:
                    LineageWriter(self.table, partition_col="cell_p5").write(
                        out, run_id="kill", batch_size=self.batch_size, fail_after_batches=self.kill_after)
                except RuntimeError as e:
                    if "injected failure" not in str(e):
                        raise
            t1 = _now()
            with tr.span("lineage.resume"):
                resumed = pipeline.materialize_assignments(
                    imgs, self.polys, self.table, run_id="resume", batch_size=self.batch_size)
            t2 = _now()
            with tr.span("knn.batch"):
                rows = knn_join(LineageWriter(self.table).read(spark), self.queries, k).collect()
            t3 = _now()
        manifest = read_manifest(self.table)
        committed = sum(m["row_count"] for m in manifest)
        return {
            "inputs": self.n, "outputs": committed, "kill_s": t1 - t0, "resume_s": t2 - t1,
            "knn_s": t3 - t2, "resume_rows": sum(m["row_count"] for m in resumed),
            "partitions": len(manifest), "resume_partitions": len(resumed), "knn_rows": rows,
        }

    @cached_property
    def oracle(self):
        return oracles.expected_pairs(self.n, self.ctx.seed, self.polys_pdf, pipeline.COVER_RES)

    def check_pass(self, facts: dict) -> list:
        keys, cells = self.oracle
        data = os.path.join(self.table, "data")
        committed = oracles.read_committed(data)
        facts["files"], facts["stored_bytes"] = _dir_bytes(data)
        kill_parts = facts["partitions"] - facts["resume_partitions"]
        facts["batches"] = math.ceil(kill_parts / self.batch_size) + math.ceil(
            facts["resume_partitions"] / self.batch_size)
        want_knn = oracles.brute_knn(committed, self.queries, self.ctx.sizes["knn_k"])
        return [oracles.check_lineage(self.table, committed, keys, cells),
                oracles.check_knn(facts.pop("knn_rows"), want_knn)]


WORKLOADS = {w.name: w for w in (Assign, Harvest)}
