"""Exactly-once contract shared by every streaming sink
(``streaming/sink.py``), checked over one table of sinks:

* crash replay — the sink committed batch N but the stream did not
  (``<ckpt>/commits/N`` is gone), so the restart re-delivers batch N; it
  must add no manifest version or marker and leave the state unchanged;
* wiped checkpoint — a checkpoint deleted and re-created at the same path
  restarts batch ids at 0, and the new feed's rows must still commit.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from gis_shapefile_spark.operators import similarity as SIM
from gis_shapefile_spark.operators import sketch as SK
from gis_shapefile_spark.operators import spatial_join as SJ
from gis_shapefile_spark.operators import tiling as TI
from gis_shapefile_spark.operators import trajectory as TJ
from gis_shapefile_spark.plans import merge as MG
from gis_shapefile_spark.plans.checkpoint import CheckpointTable
from gis_shapefile_spark.sources import fixtures as FX
from gis_shapefile_spark.sources import webdataset as W
from gis_shapefile_spark.streaming import contact_stream as CS
from gis_shapefile_spark.streaming import geocode_stream as GS
from gis_shapefile_spark.streaming import index_stream as IS
from gis_shapefile_spark.streaming import merge_stream as MS
from gis_shapefile_spark.streaming import sketch_stream as SS
from gis_shapefile_spark.streaming import takedown_stream as TD
from gis_shapefile_spark.streaming import tiles_stream as TS
from gis_shapefile_spark.streaming import wds_stream as WS

N = 40  # rows per feed file; each file is one micro-batch
LEVELS = [8, 5]
CENTROIDS = SIM.make_centroids(8, n_centroids=4)
DIST, BUCKET_S = 0.1, 3600


def _sorted(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _version(env):
    return env["table"].manifest()["version"]


# -- feeds: rows [lo, lo + n) of a deterministic sequence per sink ---------

def _points(spark, lo, n):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("point_id"),
        (F.lit(-125.0) + ((F.col("id") * 2654435761) % 59000000) / 1e6).alias("lng"),
        (F.lit(24.0) + ((F.col("id") * 40503) % 26000000) / 1e6).alias("lat"),
    )


def _tokens(prefix, mod):
    def rows(spark, lo, n):
        return spark.range(lo, lo + n).select(
            F.concat(F.lit(prefix), (F.col("id") % mod).cast("string")).alias("token")
        )

    return rows


def _fixes(spark, lo, n):
    """Four devices, one fix every 10 min: devices 0/2 and 1/3 move in
    pairs 0.5 degrees apart, so every hour bucket holds two contacts."""
    user = F.col("id") % 4
    return spark.range(lo, lo + n).select(
        user.alias("user_id"),
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 600).alias("ts"),
        (F.lit(-100.0) + (user % 2) * 0.5 + ((F.col("id") * 7) % 5) * 0.001).alias("lng"),
        F.lit(40.0).alias("lat"),
    )


def _images(spark, lo, n):
    num = F.expr("CAST(substr(image_id, 5) AS BIGINT)")
    return spark.read.parquet(FX.images_parquet_path(n=120)).where(
        (num >= lo) & (num < lo + n)
    )


def _vectors(spark, lo, n):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (j + 1.0)) for j in range(8)]).alias("embedding"),
    )


# -- committed state: (marks, content) ------------------------------------

def _geocode_state(spark, env):
    stages = env["table"].manifest()["stages"]
    paths = [s["path"] for k, s in stages.items() if k.startswith("geocode_batch_")]
    rows = _sorted(spark.read.parquet(*paths), "point_id", "record_number")
    return _version(env), rows


def _geocode_batch(spark, env, df):
    joined = SJ.point_in_polygon_join(spark, df, env["index"], point_id_col="point_id")
    return _sorted(joined, "point_id", "record_number")


PYR_COLS = ("res", "cell", "n_points", "minx", "maxx", "miny", "maxy")
CMS_COLS = ("row", "bucket", "cnt")


def _contact_content(df):
    return _sorted(df, "user_1", "user_2", "n_buckets", "min_dist_u", "max_dist_u")


def _shard_names(env):
    return sorted(os.path.basename(p) for p in W.list_shards(env["out"]))


@dataclass
class Sink:
    rows: Callable  # (spark, lo, n) -> DataFrame
    run: Callable  # (spark, stream, env, ckpt) -> StreamingQuery
    state: Callable  # (spark, env) -> (marks, content)
    batch: Callable | None = None  # (spark, env, df) -> content of the batch twin
    setup: Callable = lambda spark, env: None


SINKS = {
    "geocode": Sink(
        _points,
        lambda spark, s, env, ck: GS.streaming_geocode_to_parquet(
            spark, s, env["index"], env["out"], ck, table=env["table"]),
        _geocode_state,
        _geocode_batch,
    ),
    "tiles": Sink(
        _points,
        lambda spark, s, env, ck: TS.streaming_pyramid_sink(
            spark, s, env["table"], "pyr", LEVELS, ck),
        lambda spark, env: (
            _version(env), _sorted(env["table"].read_stage("pyr"), *PYR_COLS)),
        lambda spark, env, df: _sorted(TI.tile_pyramid(df, LEVELS), *PYR_COLS),
    ),
    "merge": Sink(
        lambda spark, lo, n: spark.range(lo, lo + n).selectExpr(
            "id AS k", "concat('v', id % 3) AS v"),
        lambda spark, s, env, ck: MS.streaming_merge_sink(
            spark, s, env["table"], "img", ["k"], ck),
        lambda spark, env: (
            _version(env), _sorted(env["table"].read_stage("img"), "k", "v")),
        lambda spark, env, df: _sorted(df, "k", "v"),
    ),
    "cms": Sink(
        _tokens("t", 7),
        lambda spark, s, env, ck: SS.streaming_cms_sink(
            spark, s, env["table"], "cms", "token", ck),
        lambda spark, env: (
            _version(env), _sorted(env["table"].read_stage("cms"), *CMS_COLS)),
        lambda spark, env, df: _sorted(SK.cms_build(df, "token"), *CMS_COLS),
    ),
    "hll": Sink(
        _tokens("h", 10**9),
        lambda spark, s, env, ck: SS.streaming_hll_sink(
            spark, s, env["table"], "hll", "token", ck),
        lambda spark, env: (
            _version(env), _sorted(env["table"].read_stage("hll"), "bucket", "r")),
        lambda spark, env, df: _sorted(SK.hll_build(df, "token"), "bucket", "r"),
    ),
    "contact": Sink(
        _fixes,
        lambda spark, s, env, ck: CS.streaming_contact_sink(
            spark, s, env["table"], "c", distance=DIST, bucket_s=BUCKET_S,
            checkpoint_dir=ck),
        lambda spark, env: (
            _version(env), _contact_content(CS.contact_rollup(env["table"], "c", 1))),
        lambda spark, env, df: _contact_content(TJ.co_movement(
            df, distance=DIST, bucket_s=BUCKET_S, min_buckets=1)),
    ),
    "wds": Sink(
        _images,
        lambda spark, s, env, ck: WS.streaming_wds_sink(spark, s, env["out"], ck),
        lambda spark, env: (
            _shard_names(env), _sorted(W.read_shards_df(spark, env["out"]), "image_id")),
        lambda spark, env, df: _sorted(df, "image_id"),
    ),
    "takedown": Sink(
        lambda spark, lo, n: spark.range(lo, lo + n).selectExpr("id AS k"),
        lambda spark, s, env, ck: TD.streaming_takedown_sink(
            spark, s, env["out"], ["k"], ck),
        lambda spark, env: (
            sorted(MG._mor_delete_dirs(env["out"])),
            _sorted(MG.mor_read(spark, env["out"]), "k")),
        setup=lambda spark, env: spark.range(3 * N).selectExpr(
            "id AS k", "concat('v', id) AS v").write.parquet(env["out"]),
    ),
    "ivf": Sink(
        _vectors,
        lambda spark, s, env, ck: IS.streaming_ivf_sink(
            spark, s, env["out"], CENTROIDS, ck),
        lambda spark, env: (
            sorted(d for d in os.listdir(env["out"]) if d.startswith("batch=")),
            _sorted(spark.read.parquet(env["out"]), "vec_id", "bucket")),
    ),
}


@pytest.fixture(scope="module")
def index(spark):
    return SJ.PolygonIndex(spark, FX.make_features(), res=SJ.DEFAULT_RES)


def _env(spark, index, tmp_path, sink):
    env = {
        "index": index,
        "out": str(tmp_path / "out"),
        "table": CheckpointTable(spark, str(tmp_path / "tbl")),
    }
    sink.setup(spark, env)
    return env


def _run(spark, sink, env, feed, ckpt):
    schema = sink.rows(spark, 0, 1).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
    return sink.run(spark, stream, env, ckpt)


def _write_feed(sink, spark, feed, *ranges):
    for lo in ranges:
        sink.rows(spark, lo, N).coalesce(1).write.mode("append").parquet(feed)


MANIFEST_SINKS = ["geocode", "tiles", "merge", "cms", "hll", "contact"]


@pytest.mark.parametrize(
    "name, drop_manifest",
    [(n, False) for n in SINKS] + [(n, True) for n in MANIFEST_SINKS],
    ids=list(SINKS) + [f"{n}-manifest-lost" for n in MANIFEST_SINKS],
)
def test_crash_after_sink_commit_replays_as_noop(spark, index, tmp_path, name, drop_manifest):
    """Kill after the sink's commit, before the stream's: delete the last
    ``commits/<N>`` (and its checksum) and re-run. The ``manifest-lost``
    cases also drop the last manifest version — the kill landed after the
    stage data was written but before its manifest commit (for contact:
    between the ``_reps`` and the ``_pairs`` commit); the replay must
    redo exactly that commit."""
    sink = SINKS[name]
    env = _env(spark, index, tmp_path, sink)
    feed, ckpt = str(tmp_path / "feed"), str(tmp_path / "ckpt")
    _write_feed(sink, spark, feed, 0, N)
    _run(spark, sink, env, feed, ckpt)
    before = sink.state(spark, env)

    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    if drop_manifest:
        manifests = os.path.join(env["table"].root, "_manifests")
        os.remove(os.path.join(manifests, f"v{_version(env)}.json"))

    progress = _run(spark, sink, env, feed, ckpt).recentProgress
    # the restart re-delivered batch N to the sink; a full short-circuit
    # reads none of its rows
    assert [p.batchId for p in progress] == [last]
    assert drop_manifest or progress[0].numInputRows == 0
    # no new version or marker, and the same state
    assert sink.state(spark, env) == before


@pytest.mark.parametrize("name", [n for n, s in SINKS.items() if s.batch])
def test_wiped_checkpoint_commits_new_feed(spark, index, tmp_path, name):
    """Feed A, wipe the checkpoint, feed B through the same checkpoint
    path: batch ids restart at 0, and B's rows must still be committed
    (the committed content equals the batch twin over A and B)."""
    sink = SINKS[name]
    env = _env(spark, index, tmp_path, sink)
    ckpt = str(tmp_path / "ckpt")
    feed_a, feed_b = str(tmp_path / "feed_a"), str(tmp_path / "feed_b")
    _write_feed(sink, spark, feed_a, 0)
    _write_feed(sink, spark, feed_b, N)
    _run(spark, sink, env, feed_a, ckpt)
    shutil.rmtree(ckpt)
    _run(spark, sink, env, feed_b, ckpt)
    _, content = sink.state(spark, env)
    assert content and content == sink.batch(spark, env, sink.rows(spark, 0, 2 * N))
