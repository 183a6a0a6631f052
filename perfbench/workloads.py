"""The four benchmark workloads.

Each workload generates its seeded inputs, loads them, builds its
polygon index, and then runs one *pass* at a time in a closed loop: a
pass issues one action, waits for it, then issues the next. The
workloads call only the package's public functions; every timer, span
and plan walk lives here.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gis_shapefile_spark.operators import multimodal as MM
from gis_shapefile_spark.operators import spatial_join as SJ
from gis_shapefile_spark.operators import tiling as TI
from gis_shapefile_spark.plans.checkpoint import CheckpointTable
from gis_shapefile_spark.sources import fixtures as FX
from gis_shapefile_spark.streaming import geocode_stream as GS
from gis_shapefile_spark.streaming import tiles_stream as TS

import check
import gen
import harness as H
import tracing as T

PYRAMID = [10, 7, 4]
SAMPLE = 2000              # points checked against the numpy reference


class Workload:
    """Shared plumbing: timers, layer metrics, checks."""

    name = ""
    res = 10
    min_reps = 2           # timed passes at least, however long they take
    traced_passes = 2
    # untimed passes before timing; the first one pays for plan analysis
    # and code generation (measured passes: 12.8, 4.7, 4.5, then 4.1-4.3 s)
    warm_passes = 2

    def __init__(self, seed: int, spans):
        self.seed = seed
        self.spans = spans
        self.features = FX.make_features()
        self.times: dict[str, list[float]] = {}
        self.layers: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    # -- helpers -----------------------------------------------------------

    def timed(self, name: str, fn):
        with self.spans.span(name):
            t = time.perf_counter()
            out = fn()
            self.times.setdefault(name, []).append(time.perf_counter() - t)
        return out

    def action(self, name: str, df, traced: bool):
        """Collect ``df`` (a one-row aggregate) under a timer; when traced,
        fold its executed plan into this pass's layers."""
        row = self.timed(name, lambda: df.collect()[0])
        if traced:
            T.add_layers(self.layers, T.plan_layers(df))
        return tuple(row)

    def check(self, label: str, problems: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(problems)
        self.problems.extend(f"{self.name}/{label}: {p}" for p in problems[:20])

    def time_median(self, name: str) -> float:
        xs = self.times.get(name)
        return H.median(xs) if xs else 0.0

    def check_pip_sample(self, spark, joined, path: str) -> None:
        """``joined(sample_ids)`` gives the join output restricted to the
        sampled points; compare it with the numpy reference."""
        sample = gen.sample_points(path, SAMPLE, self.seed)
        ref = check.pip_reference(self.features, sample["lng"], sample["lat"])
        ids = F.broadcast(spark.createDataFrame(sample[["point_id"]]))
        got = [(int(r[0]), int(r[1])) for r in
               joined(ids).select("point_id", "record_number").collect()]
        self.check("pip_sample", check.compare_pip(got, sample["point_id"], ref))

    def load_points(self, spark, path: str):
        df = spark.read.parquet(path)
        gen.assert_double_points(df)
        return df

    def build_index(self, spark):
        self.index = SJ.PolygonIndex(spark, self.features, self.res)
        self.extra["spatial_join.dim_rows"] = float(len(self.index.cells_pdf))

    def record_skew(self, path: str) -> None:
        meta = gen.read_meta(path)
        pts = pq.read_table(path, columns=["lng", "lat"])
        self.extra["data.hot_share"] = meta["hot_share"]
        self.extra["data.partial_share"] = gen.partial_share(
            pts.column("lng").to_numpy(), pts.column("lat").to_numpy(),
            self.index.cells_pdf, self.res)

    def probe_points(self, spark) -> None:
        """Cell keying and the auto-salt histogram over ``self.pts``."""
        for _ in range(3):
            self.action("cells.assign", TI.assign_cells(self.pts, self.res).agg(
                F.count(F.lit(1)), F.max("cell")), False)
            s = self.timed("spatial_join.auto_salt",
                           lambda: SJ.auto_salt_buckets(spark, self.pts, res=self.res))
        self.extra["cells.assign_s"] = self.time_median("cells.assign")
        self.extra["spatial_join.auto_salt_s"] = self.time_median("spatial_join.auto_salt")
        self.extra["spatial_join.salt_buckets"] = float(s)

    # -- per-workload ------------------------------------------------------

    def generate(self) -> None: ...
    def load(self, spark) -> None: ...
    def one_pass(self, spark, traced: bool) -> tuple: ...

    def warm(self, spark):
        """The untimed warm-up passes; returns the last one's result."""
        for _ in range(self.warm_passes):
            out = self.one_pass(spark, False)
        return out

    def check_warm(self, spark, out):
        """Check the last warm pass; returns the result every timed pass
        must reproduce (None: passes are compared to the first)."""
        return out

    def pass_seconds(self, wall: float) -> float:
        """The timed part of a pass that took ``wall`` seconds."""
        return wall

    def final_checks(self, spark) -> None:
        """Checks that need the timed passes' output."""

    def probes(self, spark):
        """Traced runs only: single-layer measurements. Returns the session
        to shut down when the probe replaced it."""

    rows_per_pass = 0


class BatchGeocode(Workload):
    """80/20 uniform/urban DOUBLE points; broadcast PIP join with the
    tie-break at res 10, then a [10, 7, 4] tile pyramid."""

    name = "batch_geocode"
    res = 10
    n = 200_000
    min_reps = 3

    def generate(self):
        self.path = gen.batch_points(self.seed, self.n, self.res)
        self.floor_path = gen.batch_points(self.seed, 512, self.res, n_files=4)
        self.rows_per_pass = self.n

    def load(self, spark):
        self.pts = self.load_points(spark, self.path)
        self.floor_pts = self.load_points(spark, self.floor_path)

    def join(self, spark, pts):
        return SJ.point_in_polygon_join(spark, pts, self.index, res=self.res,
                                        point_id_col="point_id")

    def join_agg(self, spark, pts):
        return self.join(spark, pts).agg(F.count(F.lit(1)), F.sum("record_number"))

    def one_pass(self, spark, traced):
        if traced:
            self.layers = {}
        j = self.action("spatial_join.join", self.join_agg(spark, self.pts), traced)
        p = self.action("tiling.pyramid", TI.tile_pyramid(self.pts, PYRAMID).agg(
            F.count(F.lit(1)), F.sum("n_points")), traced)
        self.extra["tiling.tiles_out"] = float(p[0])
        return j + p

    def check_warm(self, spark, ref):
        # the broadcast join keys each point on its own, so joining only the
        # sampled points gives the rows the full join gives for them
        self.check_pip_sample(
            spark, lambda ids: self.join(spark, self.pts.join(ids, "point_id")), self.path)
        want = len(PYRAMID) * self.n
        self.check("pyramid_points",
                   [f"pyramid counts {ref[3]} points, want {want}"] if ref[3] != want else [])
        return ref

    def probes(self, spark):
        self.probe_points(spark)
        for _ in range(3):
            self.action("scaling.floor", self.join_agg(spark, self.floor_pts), False)
        t4 = self.time_median("spatial_join.join")
        want = self.join_agg(spark, self.pts).collect()[0]
        # the local[1] leg needs its own SparkContext; Python workers are
        # separate processes, so it still uses more than one core
        spark.stop()
        one = H.start_session(cores=1)
        pts = self.load_points(one, self.path)
        self.index = SJ.PolygonIndex(one, self.features, self.res)
        H.python_warm(one, cores=1)
        self.join_agg(one, pts).collect()
        got = [self.action("scaling.t1", self.join_agg(one, pts), False) for _ in range(2)]
        self.check("scaling_same_rows", [f"local[1] gave {g}, local[4] gave {tuple(want)}"
                                         for g in got if g != tuple(want)])
        t1 = self.time_median("scaling.t1")
        self.extra.update({"scaling.t1_s": t1, "scaling.t4_s": t4,
                           "scaling.floor_s": self.time_median("scaling.floor"),
                           "scaling_efficiency": t1 / t4 / H.CORES})
        return one


class HotcellGeocode(Workload):
    """Half the points inside one res-8 cell shared by two polygons;
    PIP join at res 8 with ``salt_buckets="auto"``."""

    name = "hotcell_geocode"
    res = 8
    n = 300_000

    def generate(self):
        self.path = gen.hotcell_points(self.seed, self.n, self.res, self.features)
        self.rows_per_pass = self.n

    def load(self, spark):
        self.pts = self.load_points(spark, self.path)

    def join(self, spark):
        return SJ.point_in_polygon_join(spark, self.pts, self.index, res=self.res,
                                        point_id_col="point_id", salt_buckets="auto")

    def one_pass(self, spark, traced):
        if traced:
            self.layers = {}
        return self.action("spatial_join.join", self.join(spark).agg(
            F.count(F.lit(1)), F.sum("record_number")), traced)

    def check_warm(self, spark, ref):
        # auto salting depends on the whole table: filter after the join
        self.check_pip_sample(
            spark, lambda ids: self.join(spark).join(ids, "point_id"), self.path)
        return ref

    def probes(self, spark):
        self.probe_points(spark)


class StreamIngest(Workload):
    """A file stream through ``streaming_geocode_to_parquet`` (committing
    each micro-batch to a ``CheckpointTable``) and then
    ``streaming_pyramid_sink``; then both restart on their checkpoints.

    The first ``warm_batches`` micro-batches of each stream warm the JIT
    and are not timed: a pass's time is the sum of its later micro-batch
    latencies, from the queries' ``recentProgress``."""

    name = "stream_ingest"
    res = 10
    n = 60_000
    files = 4
    files_per_trigger = 1
    warm_batches = 2
    min_reps = 1
    traced_passes = 1

    def generate(self):
        self.path = gen.stream_points(self.seed, self.n, self.files)
        self.rows_per_pass = self.n * (self.files - self.warm_batches) // self.files
        self.passes = 0

    def load(self, spark):
        self.pts = self.load_points(spark, self.path)

    def run_streams(self, spark, src: str, root: str):
        table = CheckpointTable(spark, os.path.join(root, "table"))

        def stream():
            s = GS.read_points_stream(spark, src,
                                      max_files_per_trigger=self.files_per_trigger)
            gen.assert_double_points(s)
            return s

        geo = GS.streaming_geocode_to_parquet(
            spark, stream(), self.index, os.path.join(root, "out"),
            os.path.join(root, "ck_geocode"), table=table)
        pyr = TS.streaming_pyramid_sink(
            spark, stream(), table, "pyramid", PYRAMID, os.path.join(root, "ck_pyramid"))
        return table, geo, pyr

    def one_pass(self, spark, traced):
        self.passes += 1
        root = H.fresh_dir("stream", f"pass{self.passes}")
        table, geo, pyr = self.timed(
            "streaming.ingest", lambda: self.run_streams(spark, self.path, root))
        self.last = (root, table, geo, pyr)
        progress = [p for q in (geo, pyr) for p in q.recentProgress
                    if p.numInputRows > 0 and p.batchId >= self.warm_batches]
        lat = sorted(p.durationMs["triggerExecution"] / 1e3 for p in progress)
        self.steady_s = sum(lat)
        self.extra["batch_latency_p50_s"] = H.median(lat)
        # the highest percentile with at least 10 batches beyond it
        pct = max(0, (len(lat) - 10) * 100 // len(lat))
        self.extra["batch_latency_tail_pct"] = float(pct)
        self.extra["batch_latency_tail_s"] = float(np.percentile(lat, pct))
        for key, name in (("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                          ("queryPlanning", "query_planning_ms")):
            self.extra[f"streaming.{name}"] = H.median(
                [p.durationMs.get(key, 0) for p in progress])
        self.extra["streaming.batches"] = float(len(progress))
        m = table.manifest()
        self.extra["checkpoint.commits"] = float(m["version"])
        self.extra["checkpoint.stage_wall_s"] = float(sum(s["wall_s"] for s in m["stages"].values()))
        self.extra["checkpoint.bytes_written"] = float(sum(s["bytes"] for s in m["stages"].values()))
        return (len(progress), m["version"])

    def warm(self, spark):
        """Nothing apart: each pass's first micro-batches warm it."""

    def pass_seconds(self, wall):
        return self.steady_s

    def geocode_stages(self, table):
        paths = [s["path"] for k, s in table.manifest()["stages"].items()
                 if k.startswith("geocode_batch_")]
        return table.spark.read.parquet(*paths)

    def final_checks(self, spark):
        root, table, _, _ = self.last
        before = table.manifest()["version"]
        self.timed("streaming.replay", lambda: self.run_streams(spark, self.path, root))
        replayed = table.manifest()["version"] - before
        self.extra["streaming.replayed_commits"] = float(replayed)
        self.extra["replay_s"] = self.time_median("streaming.replay")
        self.check("replay_commits", [f"restart committed {replayed} stages"] if replayed else [])
        batch_pyr = TI.tile_pyramid(self.pts, PYRAMID)
        only_stream, only_batch = check.symmetric_difference(
            table.read_stage("pyramid"), batch_pyr)
        self.check("pyramid_equals_batch", [f"{only_stream} rows only streamed, "
                                            f"{only_batch} only batch"]
                   if only_stream or only_batch else [])
        streamed = self.geocode_stages(table).select("point_id", "record_number")
        batch = SJ.point_in_polygon_join(spark, self.pts, self.index, res=self.res,
                                         point_id_col="point_id")
        only_stream, only_batch = check.symmetric_difference(
            streamed, batch.select("point_id", "record_number"))
        self.check("geocode_equals_batch", [f"{only_stream} rows only streamed, "
                                            f"{only_batch} only batch"]
                   if only_stream or only_batch else [])

    def probes(self, spark):
        self.probe_points(spark)
        # the batch join and pyramid over the streamed points, for the
        # per-layer times both workloads report
        for _ in range(3):
            self.action("spatial_join.join", SJ.point_in_polygon_join(
                spark, self.pts, self.index, res=self.res, point_id_col="point_id").agg(
                    F.count(F.lit(1))), False)
            tiles = self.action("tiling.pyramid", TI.tile_pyramid(self.pts, PYRAMID).agg(
                F.count(F.lit(1))), False)
        self.extra["tiling.tiles_out"] = float(tiles[0])
        _, table, _, _ = self.last
        self.timed("checkpoint.read_stage",
                   lambda: self.geocode_stages(table).agg(F.count(F.lit(1))).collect())
        self.extra["checkpoint.read_stage_s"] = self.time_median("checkpoint.read_stage")
        # plan metrics of the micro-batches' joins: the sink runs them inside
        # package code, so run the same join on each trigger's file and sum
        self.layers = {}
        for f in sorted(f for f in os.listdir(self.path) if f.endswith(".parquet")):
            one = spark.read.parquet(os.path.join(self.path, f))
            self.action("streaming.batch_plan", SJ.point_in_polygon_join(
                spark, one, self.index, res=self.res, point_id_col="point_id").agg(
                    F.count(F.lit(1))), True)


class ImageTiling(Workload):
    """The image+caption table through ``tiling.image_tiling_pipeline``:
    cell assign, PIP join, decode and phash verify, tile rollup."""

    name = "image_tiling"
    res = 8
    n = 4_000

    def generate(self):
        self.path = gen.images(self.seed, self.n)
        self.rows_per_pass = self.n

    def load(self, spark):
        self.images = self.load_points(spark, self.path)

    def pipeline(self, spark):
        return TI.image_tiling_pipeline(spark, self.images, self.index, res=self.res)

    def one_pass(self, spark, traced):
        """Per-polygon (images, bytes, phash_ok) of the tile rollup."""
        if traced:
            self.layers = {}
        df = self.pipeline(spark).groupBy("record_number").agg(
            F.sum("n_images"), F.sum("n_bytes"), F.sum("n_phash_ok"))
        rows = self.timed("tiling.image_pipeline", df.collect)
        if traced:
            T.add_layers(self.layers, T.plan_layers(df))
        return tuple(sorted((-1 if r[0] is None else int(r[0]), int(r[1]), int(r[2]), int(r[3]))
                            for r in rows))

    def check_warm(self, spark, ref):
        meta = gen.read_meta(self.path)
        want = (self.n, meta["n_bytes"], self.n)
        got = tuple(sum(r[i] for r in ref) for i in (1, 2, 3))
        self.check("rollup_totals",
                   [f"(images, bytes, phash_ok) {got} != {want}"] if got != want else [])
        got = {r[0]: r[1] for r in ref}
        pts = pq.read_table(self.path, columns=["lng", "lat"])
        recs, counts = np.unique(check.pip_reference(
            self.features, pts.column("lng").to_numpy(), pts.column("lat").to_numpy()),
            return_counts=True)
        self.check("per_polygon_counts", check.compare_counts(
            got, {int(r): int(c) for r, c in zip(recs, counts)}))
        return ref

    def probes(self, spark):
        for _ in range(3):
            r = self.action("multimodal.verify", MM.verify_invariants(
                self.images.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash"),
                reencode=False).agg(F.count(F.lit(1)), F.sum(F.col("phash_ok").cast("long"))),
                False)
        self.extra["multimodal.verify_s"] = self.time_median("multimodal.verify")
        self.extra["multimodal.images_decoded"] = float(r[0])
        self.extra["multimodal.phash_ok_ratio"] = r[1] / r[0]


WORKLOADS = {w.name: w for w in (BatchGeocode, HotcellGeocode, StreamIngest, ImageTiling)}
