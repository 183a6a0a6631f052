"""Tests of the benchmark's own code: generators, checker, plan walk and
metric names. Run with ``python -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import check
import gen
import metrics as M
import run
import tracing as T
import workloads as W
from gis_shapefile_spark.functions import cells as C
from gis_shapefile_spark.operators import spatial_join as SJ
from gis_shapefile_spark.sources import fixtures as FX

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture
def data_dir(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "DATA_DIR", str(tmp_path / "data"))
    return tmp_path


def test_batch_points_are_double_seeded_and_skewed(data_dir):
    path = gen.batch_points(seed=3, n=20_000, res=10)
    tbl = pq.read_table(path)
    assert [(f.name, str(f.type)) for f in tbl.schema] == [
        ("point_id", "int64"), ("lng", "double"), ("lat", "double")]
    assert tbl.num_rows == 20_000
    # 20% sit in one urban cluster; a uniform table would put far under 1%
    # of its points in one res-10 cell
    assert 0.1 < gen.read_meta(path)["hot_share"] <= 0.2
    again = pq.read_table(gen.batch_points(seed=3, n=20_000, res=10))
    assert again.equals(tbl)
    other = pq.read_table(gen.batch_points(seed=4, n=20_000, res=10))
    assert not other.equals(tbl)


def test_hotcell_points_half_in_one_shared_partial_cell(data_dir):
    feats = FX.make_features()
    path = gen.hotcell_points(seed=5, n=10_000, res=8, features_pdf=feats)
    meta = gen.read_meta(path)
    tbl = pq.read_table(path)
    cells = C.cell_of_numpy(tbl.column("lng").to_numpy(), tbl.column("lat").to_numpy(), 8)
    assert (cells == meta["hot_cell"]).mean() >= 0.5
    assert meta["hot_share"] >= 0.5
    dim = SJ.prepare_polygon_cells(feats, 8)
    owners = dim[(dim["cell"] == meta["hot_cell"]) & ~dim["is_full"]]
    assert owners["record_number"].nunique() >= 2


def test_images_are_seeded_and_hash_their_decode(data_dir):
    path = gen.images(seed=2, n=300)
    tbl = pq.read_table(path).to_pandas()
    assert set(tbl["fmt"]) <= set(gen.IMAGE_FORMATS)
    assert str(tbl["lng"].dtype) == "float64"
    for _, r in tbl.head(40).iterrows():
        pix = FX.decode_image(r["bytes"], r["w"], r["h"], r["fmt"])
        assert FX.phash64(pix) == r["phash"]


def test_checker_flags_a_corrupted_result():
    feats = FX.make_features()
    lng = np.array([-121.0, -100.0, -90.0, 0.0])
    lat = np.array([27.0, 40.0, 35.0, 0.0])
    ref = check.pip_reference(feats, lng, lat)
    ids = np.arange(4)
    good = [(int(i), int(r)) for i, r in zip(ids, ref) if r != -1]
    assert check.compare_pip(good, ids, ref) == []
    wrong = [(good[0][0], good[0][1] + 1)] + good[1:]
    assert check.compare_pip(wrong, ids, ref)
    assert check.compare_pip(good[1:], ids, ref)                 # a point lost
    assert check.compare_pip(good + [good[0]], ids, ref)         # a point twice
    assert check.compare_pip(good + [(3, 1)], ids, ref)          # outside point matched
    assert check.compare_counts({1: 2, -1: 1}, {1: 2, -1: 1}) == []
    assert check.compare_counts({1: 2}, {1: 3})


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in (names + list(M.END_TO_END) + list(M.PER_LAYER) + list(M.WORKLOAD_ONLY)
                 + list(T.LAYER_KEYS)):
        assert M.NAME_RE.fullmatch(name), name
    assert not set(M.WORKLOAD_ONLY) & (set(M.PER_LAYER) | set(M.END_TO_END))
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == {
        k: v[:2] for k, v in M.END_TO_END.items()}
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: v[:2] for k, v in M.PER_LAYER.items()}
    assert set(T.LAYER_KEYS) <= set(M.PER_LAYER) | set(M.WORKLOAD_ONLY)
    assert set(run.NAMES) == set(W.WORKLOADS)
    assert {w["name"] for w in bench["workloads"]} <= set(W.WORKLOADS)
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")


@pytest.fixture(scope="module")
def spark():
    import harness as H

    H.configure_env()
    s = H.start_session()
    yield s
    H.shutdown(s)


def test_walk_of_a_tiny_join(spark, data_dir):
    from pyspark.sql import functions as F

    n = 5_000
    pts = spark.read.parquet(gen.batch_points(seed=1, n=n, res=10, n_files=2))
    gen.assert_double_points(pts)
    index = SJ.PolygonIndex(spark, FX.make_features(), 10)
    df = SJ.point_in_polygon_join(spark, pts, index, res=10, point_id_col="point_id").agg(
        F.count(F.lit(1)))
    matched = df.collect()[0][0]
    lay = T.plan_layers(df)
    assert lay["sources.scans"] >= 1
    # every parquet scan of the join reads the whole input once
    assert lay["sources.scan_rows"] == n * lay["sources.scans"]
    assert lay["python.rows_sent"] > 0
    assert lay["spatial_join.partial_rows"] > 0
    assert lay["spatial_join.candidate_rows"] >= lay["spatial_join.partial_rows"]
    assert lay["broadcast.bytes"] > 0
    assert 0 < lay["spatial_join.refine_keep_ratio"] <= 1
    assert matched <= n


def test_symmetric_difference_flags_a_changed_row(spark):
    a = spark.createDataFrame([(1, 2.0), (2, 3.0), (2, 3.0)], "k long, v double")
    assert check.symmetric_difference(a, a) == (0, 0)
    b = spark.createDataFrame([(1, 2.0), (2, 3.5), (2, 3.0)], "k long, v double")
    assert check.symmetric_difference(a, b) == (1, 1)
    c = spark.createDataFrame([(1, 2.0), (2, 3.0)], "k long, v double")
    assert check.symmetric_difference(a, c) == (1, 0)


def test_assert_double_points_rejects_decimals(spark):
    df = spark.sql("SELECT 1L AS point_id, CAST(1.5 AS DECIMAL(31,9)) AS lng, 2.0D AS lat")
    with pytest.raises(TypeError):
        gen.assert_double_points(df)
