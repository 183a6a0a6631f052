"""Spatial join row-set parity vs an independent oracle.

The oracle here is a direct per-point transliteration of the reference C++
(geometry.cpp:82-119, spatial_index.cpp:91-149) — deliberately NOT sharing
the engine's vectorized kernel, so kernel bugs can't self-validate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gis_shapefile_spark.operators import spatial_join as SJ
from gis_shapefile_spark.sources import fixtures as FX
from gis_shapefile_spark.functions import geometry as G


# --- oracle: straight transliteration of the reference ----------------------

def _ring_contains(rx, ry, px, py) -> bool:  # geometry.cpp:87-103
    inside = False
    j = len(rx) - 1
    for i in range(len(rx)):
        if ((ry[i] > py) != (ry[j] > py)) and (
            px < (rx[j] - rx[i]) * (py - ry[i]) / (ry[j] - ry[i]) + rx[i]
        ):
            inside = not inside
        j = i
    return inside


def _polygon_contains(rxs, rys, px, py) -> bool:  # geometry.cpp:106-118
    if not rxs:
        return False
    if not _ring_contains(rxs[0], rys[0], px, py):
        return False
    for k in range(1, len(rxs)):
        if _ring_contains(rxs[k], rys[k], px, py):
            return False
    return True


def _rings(row):
    xs = np.asarray(row["xs"])
    ys = np.asarray(row["ys"])
    offs = np.concatenate([[0], np.cumsum(row["ring_sizes"])]).astype(int)
    return (
        [xs[offs[i]: offs[i + 1]] for i in range(len(row["ring_sizes"]))],
        [ys[offs[i]: offs[i + 1]] for i in range(len(row["ring_sizes"]))],
    )


@pytest.fixture(scope="module")
def features():
    return FX.make_features()


@pytest.fixture(scope="module")
def points_pdf():
    rng = np.random.default_rng(7)
    n = 3000
    lng = rng.uniform(-126, -64, n)
    lat = rng.uniform(23, 51, n)
    return pd.DataFrame(
        {"image_id": [f"p{i:05d}" for i in range(n)], "lng": lng, "lat": lat}
    )


def oracle_pip_pairs(features, points_pdf):
    pairs = set()
    polys = [
        (int(r["record_number"]), *_rings(r))
        for _, r in features.iterrows()
        if r["shape_type"] == 5 and len(r["ring_sizes"]) > 0
    ]
    for _, p in points_pdf.iterrows():
        hits = [rec for rec, rxs, rys in polys if _polygon_contains(rxs, rys, p.lng, p.lat)]
        if hits:
            pairs.add((p.image_id, min(hits)))  # engine tie-break: min record
    return pairs


def test_vectorized_kernel_matches_transliteration(features, points_pdf):
    px = points_pdf["lng"].to_numpy()
    py = points_pdf["lat"].to_numpy()
    for _, r in features.iterrows():
        if r["shape_type"] != 5 or len(r["ring_sizes"]) == 0:
            continue
        rxs, rys = _rings(r)
        fast = G.polygon_contains_points(rxs, rys, px, py)
        slow = np.array(
            [_polygon_contains(rxs, rys, x, y) for x, y in zip(px, py)]
        )
        np.testing.assert_array_equal(fast, slow)


def test_pip_join_matches_oracle(spark, features, points_pdf):
    points = spark.createDataFrame(points_pdf)
    got = SJ.point_in_polygon_join(
        spark, points, features, res=8, point_id_col="image_id"
    )
    got_pairs = {(r.image_id, r.record_number) for r in got.collect()}
    assert got_pairs == oracle_pip_pairs(features, points_pdf)


def test_pip_join_salted_same_result(spark, features, points_pdf):
    points = spark.createDataFrame(points_pdf)
    plain = SJ.point_in_polygon_join(spark, points, features, res=8)
    salted = SJ.point_in_polygon_join(spark, points, features, res=8, salt_buckets=4)
    a = {(r.image_id, r.record_number) for r in plain.collect()}
    b = {(r.image_id, r.record_number) for r in salted.collect()}
    assert a == b


def _skewed_points(spark, n=4000, hot_frac=0.5):
    """n points, hot_frac of them inside one cell (a planted urban cell),
    the rest spread across the canvas."""
    import pandas as pd

    n_hot = int(n * hot_frac)
    rng = np.random.RandomState(3)
    hot_lng = -100.0 + rng.rand(n_hot) * 0.01
    hot_lat = 39.0 + rng.rand(n_hot) * 0.01
    cold_lng = -120.0 + rng.rand(n - n_hot) * 50.0
    cold_lat = 25.0 + rng.rand(n - n_hot) * 20.0
    pdf = pd.DataFrame(
        {
            "image_id": [f"p{i:06d}" for i in range(n)],
            "lng": np.concatenate([hot_lng, cold_lng]),
            "lat": np.concatenate([hot_lat, cold_lat]),
        }
    )
    return spark.createDataFrame(pdf)


def test_auto_salt_buckets_measures_skew(spark):
    """The adaptive salt factor follows the MEASURED hot-cell share:
    ~uniform points -> 0 (no cell exceeds an average shuffle partition,
    keep the cheap unsalted plan); a 50%-hot-cell table -> ceil(f*P)
    capped, > 1."""
    uniform = _skewed_points(spark, n=4000, hot_frac=0.0)
    assert SJ.auto_salt_buckets(spark, uniform, res=8) == 0
    skewed = _skewed_points(spark, n=4000, hot_frac=0.5)
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    s = SJ.auto_salt_buckets(spark, skewed, res=8)
    import math

    # f is 0.5 plus the few cold points that land in the hot cell, so
    # ceil(f*P) is P/2 or one above
    assert s in (math.ceil(0.5 * p), math.ceil(0.5 * p) + 1)
    # clamp respected
    assert SJ.auto_salt_buckets(spark, skewed, res=8, max_buckets=2) == 2
    # sampled profile steers the same knob
    s2 = SJ.auto_salt_buckets(
        spark, skewed, res=8, sample_fraction=0.5
    )
    assert s2 >= 2


def test_pip_join_auto_salt_same_result(spark, features, points_pdf):
    """salt_buckets='auto' must resolve the knob from data and return
    identical rows to the broadcast path."""
    points = spark.createDataFrame(points_pdf)
    plain = SJ.point_in_polygon_join(spark, points, features, res=8)
    auto = SJ.point_in_polygon_join(
        spark, points, features, res=8, salt_buckets="auto"
    )
    a = {(r.image_id, r.record_number) for r in plain.collect()}
    b = {(r.image_id, r.record_number) for r in auto.collect()}
    assert a == b


def test_within_distance_matches_oracle(spark, features, points_pdf):
    d = 2.5
    points = spark.createDataFrame(points_pdf)
    got = SJ.within_distance_join(spark, points, features, distance=d)
    got_pairs = {(r.image_id, r.record_number) for r in got.collect()}

    feats = features[features["shape_type"] == 5]
    cx = ((feats["minx"] + feats["maxx"]) / 2).to_numpy()
    cy = ((feats["miny"] + feats["maxy"]) / 2).to_numpy()
    recs = feats["record_number"].to_numpy()
    want = set()
    for _, p in points_pdf.iterrows():
        dist = np.sqrt((p.lng - cx) ** 2 + (p.lat - cy) ** 2)
        for rec in recs[dist <= d]:
            want.add((p.image_id, int(rec)))
    assert got_pairs == want


def test_knn_bruteforce_matches_oracle(spark, features, points_pdf):
    k = 3
    sub = points_pdf.head(500)
    points = spark.createDataFrame(sub)
    got = SJ.knn_join_bruteforce(spark, points, features, k=k)
    got_map = {}
    for r in got.collect():
        got_map.setdefault(r.image_id, []).append((r.knn_rank, r.record_number))

    feats = features[features["shape_type"] == 5]
    cx = ((feats["minx"] + feats["maxx"]) / 2).to_numpy()
    cy = ((feats["miny"] + feats["maxy"]) / 2).to_numpy()
    recs = feats["record_number"].to_numpy()
    for _, p in sub.iterrows():
        dist = np.sqrt((p.lng - cx) ** 2 + (p.lat - cy) ** 2)
        order = np.lexsort((recs, dist))[:k]  # spatial_index.cpp:110-120
        want = [int(recs[i]) for i in order]
        gotk = [rec for _, rec in sorted(got_map[p.image_id])]
        assert gotk == want, p.image_id


def test_knn_cell_candidates_equals_bruteforce(spark, features, points_pdf):
    k = 4
    points = spark.createDataFrame(points_pdf.head(800))
    brute = SJ.knn_join_bruteforce(spark, points, features, k=k)
    fast = SJ.knn_join(spark, points, features, k=k, res=6)
    a = {(r.image_id, r.knn_rank, r.record_number) for r in brute.collect()}
    b = {(r.image_id, r.knn_rank, r.record_number) for r in fast.collect()}
    assert a == b


def test_bbox_join_matches_oracle(spark, features):
    rng = np.random.default_rng(11)
    nq = 200
    qx = rng.uniform(-130, -60, nq)
    qy = rng.uniform(20, 52, nq)
    qw = rng.uniform(0.1, 15, nq)
    qh = rng.uniform(0.1, 10, nq)
    qpdf = pd.DataFrame(
        {
            "query_id": np.arange(nq),
            "qminx": qx, "qminy": qy, "qmaxx": qx + qw, "qmaxy": qy + qh,
        }
    )
    queries = spark.createDataFrame(qpdf)
    got = SJ.bbox_join(spark, queries, features, res=6)
    got_pairs = {(r.query_id, r.record_number) for r in got.collect()}

    feats = features[features["shape_type"] == 5]
    want = set()
    for _, q in qpdf.iterrows():
        for _, f in feats.iterrows():
            if not (
                f.minx > q.qmaxx or f.maxx < q.qminx
                or f.miny > q.qmaxy or f.maxy < q.qminy
            ):
                want.add((int(q.query_id), int(f.record_number)))
    assert got_pairs == want


def test_knn_indexes_all_geometry_types(spark):
    """Reference parity: the R-tree indexes every record's bbox regardless
    of type (spatial_index.cpp:295-306), so a Point feature competes in kNN
    alongside polygons; null-shape rows (no bounds) are skipped."""
    feats = pd.DataFrame(
        {
            "record_number": [1, 2, 3],
            "shape_type": [5, 1, 0],  # polygon, point, null shape
            "xs": [[0.0, 4.0, 4.0, 0.0], [10.0], []],
            "ys": [[0.0, 0.0, 4.0, 4.0], [10.0], []],
            "ring_sizes": [[4], [1], []],
            "minx": [0.0, 10.0, np.nan],
            "miny": [0.0, 10.0, np.nan],
            "maxx": [4.0, 10.0, np.nan],
            "maxy": [4.0, 10.0, np.nan],
        }
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"image_id": [0], "lng": [9.0], "lat": [9.0]})
    )
    got = SJ.knn_join_bruteforce(spark, pts, feats, k=2).collect()
    # nearest = point feature (dist sqrt(2)), then polygon center (2,2)
    assert [(r.record_number, r.knn_rank) for r in
            sorted(got, key=lambda r: r.knn_rank)] == [(2, 1), (1, 2)]


def test_knn_ring_expansion_matches_bruteforce(spark):
    """Literal cell-ring-expansion kNN == brute force on the 51-state
    fixture (both rank by exact center distance; expansion only prunes)."""
    feats = FX.make_features()
    rng = np.random.RandomState(11)
    pts_pdf = pd.DataFrame({
        "image_id": range(300),
        "lng": rng.uniform(-124, -67, 300),
        "lat": rng.uniform(25, 49, 300),
    })
    pts = spark.createDataFrame(pts_pdf)
    ring = SJ.knn_join_ring_expansion(spark, pts, feats, k=3, res=6)
    brute = SJ.knn_join_bruteforce(spark, pts, feats, k=3)
    key = lambda df: sorted(
        (r.image_id, r.knn_rank, r.record_number) for r in df.collect()
    )
    assert key(ring) == key(brute)


def test_simplify_ring_properties():
    """DP simplification: survivors are a subsequence, dropped vertices lie
    within epsilon of the simplified outline, straight runs collapse."""
    # square with collinear midpoints -> collapses to the 4 corners + ends
    x = np.array([0, 1, 2, 2, 2, 1, 0, 0, 0.0])
    y = np.array([0, 0, 0, 1, 2, 2, 2, 1, 0.0])
    sx, sy = G.simplify_ring(x, y, epsilon=1e-9)
    assert len(sx) <= 6 and sx[0] == x[0] and sx[-1] == x[-1]
    # jittered circle: epsilon bounds the max deviation
    t = np.linspace(0, 2 * np.pi, 200)
    rng = np.random.RandomState(3)
    cx = np.cos(t) + rng.uniform(-0.003, 0.003, 200)
    cy = np.sin(t) + rng.uniform(-0.003, 0.003, 200)
    sx, sy = G.simplify_ring(cx, cy, epsilon=0.05)
    assert 3 <= len(sx) < 200
    # every original vertex is within ~epsilon of the simplified polyline
    def dist_to_polyline(px, py):
        best = np.inf
        for i in range(len(sx) - 1):
            ax, ay, bx, by = sx[i], sy[i], sx[i + 1], sy[i + 1]
            L2 = (bx - ax) ** 2 + (by - ay) ** 2
            tt = 0 if L2 == 0 else np.clip(((px - ax) * (bx - ax) + (py - ay) * (by - ay)) / L2, 0, 1)
            best = min(best, np.hypot(px - (ax + tt * (bx - ax)), py - (ay + tt * (by - ay))))
        return best
    worst = max(dist_to_polyline(cx[i], cy[i]) for i in range(0, 200, 7))
    assert worst <= 0.06


def test_simplify_features_cuts_edges_preserves_interior(spark):
    """Simplified states: fewer vertices, and interior PIP verdicts agree
    with the full-resolution polygons away from the boundary band."""
    feats = FX.make_features()
    simp = G.simplify_features(feats, epsilon=0.01)
    n0 = sum(len(r) for r in feats[feats.shape_type == 5]["xs"])
    n1 = sum(len(r) for r in simp[simp.shape_type == 5]["xs"])
    assert n1 < n0
    rng = np.random.RandomState(7)
    pts_pdf = pd.DataFrame({
        "image_id": range(500),
        "lng": rng.uniform(-124, -67, 500),
        "lat": rng.uniform(25, 49, 500),
    })
    pts = spark.createDataFrame(pts_pdf)
    a = {(r.image_id, r.record_number) for r in SJ.point_in_polygon_join(
        spark, pts, feats, res=8, dedup_first=False).collect()}
    b = {(r.image_id, r.record_number) for r in SJ.point_in_polygon_join(
        spark, pts, simp, res=8, dedup_first=False).collect()}
    # epsilon=0.01 deg boundary band: the symmetric difference stays tiny
    assert len(a ^ b) <= max(2, len(a) // 20)


def test_knn_ring_expansion_sparse_features(spark):
    """Sparse dimension (deep ring expansion, rectangular-cell geometry
    stressed): ring-expansion kNN must still equal brute force."""
    rng = np.random.RandomState(23)
    feats = pd.DataFrame({
        "record_number": range(10),
        "shape_type": [5] * 10,
        "xs": [[0.0]] * 10, "ys": [[0.0]] * 10, "ring_sizes": [[1]] * 10,
    })
    cx = rng.uniform(-120, -70, 10)
    cy = rng.uniform(26, 48, 10)
    feats["minx"] = cx - 0.01; feats["maxx"] = cx + 0.01
    feats["miny"] = cy - 0.01; feats["maxy"] = cy + 0.01
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": range(200),
        "lng": rng.uniform(-124, -67, 200),
        "lat": rng.uniform(25, 49, 200),
    }))
    ring = SJ.knn_join_ring_expansion(spark, pts, feats, k=3, res=7)
    brute = SJ.knn_join_bruteforce(spark, pts, feats, k=3)
    key = lambda df: sorted(
        (r.image_id, r.knn_rank, r.record_number) for r in df.collect()
    )
    assert key(ring) == key(brute)


def test_knn_res_guard_bounds_driver_and_stays_exact(spark, features, points_pdf):
    """VERDICT r1 #5: at fine res with scattered points, the occupied-cell
    guard must auto-downgrade the resolution (driver stays bounded) while
    the join output stays exactly equal to brute force."""
    k = 3
    pts = spark.createDataFrame(points_pdf.head(600))
    brute = SJ.knn_join_bruteforce(spark, pts, features, k=k)
    # budget of 64 cells forces several downgrade steps from res 10
    guarded = SJ.knn_join(
        spark, pts, features, k=k, res=10, max_occupied_cells=64
    )
    a = {(r.image_id, r.knn_rank, r.record_number) for r in brute.collect()}
    b = {(r.image_id, r.knn_rank, r.record_number) for r in guarded.collect()}
    assert a == b
    # and the guard itself reports a bounded cell set at a coarser res
    eff_res, occ = SJ._occupied_cells_bounded(pts, "lng", "lat", 10, 64)
    assert eff_res < 10
    assert len(occ) <= 64 * 2  # approx sketch slack

    ring = SJ.knn_join_ring_expansion(
        spark, pts, features, k=k, res=10, max_occupied_cells=64
    )
    c = {(r.image_id, r.knn_rank, r.record_number) for r in ring.collect()}
    assert a == c


# ---------------------------------------------------------------------------
# LARGE x LARGE within-distance self-join
# ---------------------------------------------------------------------------

def _pair_brute(pdf, d):
    xy = pdf[["lng", "lat"]].to_numpy()
    ids = pdf["point_id"].to_numpy()
    out = set()
    for i in range(len(ids)):
        dx = xy[:, 0] - xy[i, 0]
        dy = xy[:, 1] - xy[i, 1]
        close = np.sqrt(dx * dx + dy * dy) <= d
        for j in np.nonzero(close)[0]:
            if ids[i] < ids[j]:
                out.add((int(ids[i]), int(ids[j])))
    return out


def test_self_join_matches_bruteforce(spark):
    rng = np.random.default_rng(61)
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(400, dtype=np.int64),
            "lng": rng.uniform(-125, -66, 400),
            "lat": rng.uniform(24, 50, 400),
        }
    )
    for d in (0.7, 2.5):
        out = SJ.within_distance_self_join(
            spark.createDataFrame(pdf), distance=d
        ).toPandas()
        got = list(zip(out["id_1"], out["id_2"]))
        assert len(got) == len(set(got)), "pair emitted more than once"
        assert set((int(a), int(b)) for a, b in got) == _pair_brute(pdf, d)
        # dist_u integerization matches the brute distance
        for r in out.itertuples():
            a = pdf.loc[pdf.point_id == r.id_1].iloc[0]
            b = pdf.loc[pdf.point_id == r.id_2].iloc[0]
            dd = np.sqrt((a.lng - b.lng) ** 2 + (a.lat - b.lat) ** 2)
            assert r.dist_u == int(np.floor(dd * 1e6))


def test_self_join_grid_edges_no_wraparound(spark):
    """Points hugging opposite grid edges must never pair through the
    neighbor offsets wrapping the morton space."""
    pdf = pd.DataFrame(
        {
            "point_id": [1, 2, 3, 4],
            "lng": [-179.9, 179.9, -179.9, -179.8],
            "lat": [0.0, 0.0, 0.1, 0.05],
        }
    )
    out = SJ.within_distance_self_join(
        spark.createDataFrame(pdf), distance=1.0
    ).toPandas()
    got = set(zip(out["id_1"], out["id_2"]))
    # 1-3, 1-4, 3-4 are genuinely close; 2 is across the antimeridian
    # (planar-parity contract: NOT adjacent)
    assert got == {(1, 3), (1, 4), (3, 4)}


def test_self_join_forces_sort_merge(spark):
    """Round-4 verdict item 4: the pair join carries its own no-broadcast
    (merge) hint, so AQE's compressed-size heuristic can never convert
    it to the measured-3x-slower broadcast hash join at mid scale (8.9
    vs 2.8 s at 2M points, BENCH/BASELINE.md). Assert the executed plan:
    the _nb equi-join is a SortMergeJoin, not BroadcastHashJoin."""
    rng = np.random.default_rng(73)
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(500, dtype=np.int64),
            "lng": rng.uniform(-125, -66, 500),
            "lat": rng.uniform(24, 50, 500),
        }
    )
    out = SJ.within_distance_self_join(spark.createDataFrame(pdf), distance=1.0)
    out.collect()  # materialize so AQE's FINAL plan is the one inspected
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # geodesic twin carries the same hint
    from gis_shapefile_spark.operators import geodesic as GE

    gout = GE.geodesic_pairs_within_km(spark.createDataFrame(pdf), km=50.0)
    gout.collect()
    gplan = gout._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in gplan
    assert "BroadcastHashJoin" not in gplan


def test_self_join_validation(spark):
    with pytest.raises(ValueError):
        SJ.within_distance_self_join(None, distance=0.0)
    with pytest.raises(ValueError):
        SJ.within_distance_self_join(None, distance=5.0, res=12)


def test_knn_self_join_matches_bruteforce(spark):
    rng = np.random.default_rng(67)
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(200, dtype=np.int64),
            "lng": rng.uniform(-110, -100, 200),
            "lat": rng.uniform(30, 40, 200),
        }
    )
    k, radius = 3, 1.5
    out = SJ.knn_self_join(
        spark.createDataFrame(pdf), k=k, radius=radius
    ).toPandas()
    xy = pdf[["lng", "lat"]].to_numpy()
    want = set()
    for i in range(len(pdf)):
        d = np.sqrt(((xy - xy[i]) ** 2).sum(axis=1))
        du = np.floor(d * 1e6).astype(np.int64)
        cand = [
            (int(du[j]), j) for j in range(len(pdf))
            if j != i and d[j] <= radius
        ]
        for rank, (dd, j) in enumerate(sorted(cand)[:k], start=1):
            want.add((i, j, rank, dd))
    got = {
        (int(r.point_id), int(r.neighbor_id), int(r.nn_rank), int(r.dist_u))
        for r in out.itertuples()
    }
    assert got == want
    # isolated points emit nothing; ranks dense from 1
    per = out.groupby("point_id")["nn_rank"].agg(["min", "max", "count"])
    assert (per["min"] == 1).all()
    assert (per["max"] == per["count"]).all()


def test_knn_self_join_validates_k(spark):
    with pytest.raises(ValueError):
        SJ.knn_self_join(None, k=0, radius=1.0)


def test_within_distance_cross_join_matches_bruteforce(spark):
    """Big-big CROSS join == numpy brute force: every (left, right)
    pair within d exactly once, across cell boundaries."""
    import numpy as np
    import pandas as pd

    from gis_shapefile_spark.operators import spatial_join as SJ

    rng = np.random.default_rng(31)
    nl, nr = 300, 400
    left = pd.DataFrame(
        dict(id_1=np.arange(nl),
             lng=rng.uniform(-100, -90, nl),
             lat=rng.uniform(30, 38, nr)[:nl])
    )
    right = pd.DataFrame(
        dict(id_2=np.arange(nr),
             lng=rng.uniform(-100, -90, nr),
             lat=rng.uniform(30, 38, nr))
    )
    d = 0.8
    got = SJ.within_distance_cross_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        distance=d,
    ).toPandas()
    dx = left.lng.values[:, None] - right.lng.values[None, :]
    dy = left.lat.values[:, None] - right.lat.values[None, :]
    dist = np.sqrt(dx * dx + dy * dy)
    li, ri = np.where(dist <= d)
    exp = {
        (int(a), int(b), int(np.floor(dist[a, b] * 1e6)))
        for a, b in zip(li, ri)
    }
    got_set = {
        (int(r.id_1), int(r.id_2), int(r.dist_u))
        for r in got.itertuples(index=False)
    }
    assert got_set == exp
    assert len(got) == len(got_set)  # exactly once, no dedup pass
    assert len(exp) > 1000  # dense enough to cross many cell borders


def test_pip_anti_join_is_exact_complement(spark, features, points_pdf):
    """The anti join returns EXACTLY the points the reference-oracle
    transliteration places in no polygon — matched ∪ anti == all ids,
    disjoint, original columns preserved."""
    points = spark.createDataFrame(points_pdf)
    anti = SJ.point_in_polygon_anti_join(spark, points, features, res=8)
    assert anti.columns == list(points_pdf.columns)
    anti_ids = {r.image_id for r in anti.collect()}
    oracle_in = {pid for pid, _ in oracle_pip_pairs(features, points_pdf)}
    all_ids = set(points_pdf["image_id"])
    assert anti_ids == all_ids - oracle_in
    assert anti_ids and oracle_in  # both sides non-trivial on the fixture


# --- exactness of the JVM ray-cast refine -----------------------------------

_QX, _QY = 360.0 / 2 ** 12, 180.0 / 2 ** 12  # snap grid: every cell edge at res <= 12


def _feature(rec, rings):
    xs = np.concatenate([r[0] for r in rings])
    ys = np.concatenate([r[1] for r in rings])
    return {"record_number": rec, "shape_type": 5, "xs": list(xs), "ys": list(ys),
            "ring_sizes": [len(r[0]) for r in rings], "minx": xs.min(),
            "miny": ys.min(), "maxx": xs.max(), "maxy": ys.max()}


def _star(rng, cx, cy, r, n):
    """A snapped star ring: vertices on the cell grid, some of its edges
    exactly horizontal, and one vertex repeated."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r * rng.uniform(0.5, 1.0, n)
    x = np.round((cx + rad * np.cos(ang)) / _QX) * _QX
    y = np.round((cy + rad * np.sin(ang)) / _QY) * _QY
    y[1::5] = y[0::5][: len(y[1::5])]  # horizontal edges
    x = np.insert(x, 3, x[3])  # a repeated vertex (zero-length edge)
    y = np.insert(y, 3, y[3])
    return x, y


def _box(x0, y0, x1, y1):
    return np.array([x0, x1, x1, x0]), np.array([y0, y0, y1, y1])


def _random_features(seed):
    """Holes, a multipart polygon whose second shell counts as a hole,
    overlaps for the tie-break, a grid-aligned box with two overlapping box
    holes (a point in both is outside: each hole has its own parity), and
    a wide polygon nudged off the grid, whose long edges make ``xint``
    round differently when the edge ends are swapped."""
    rng = np.random.default_rng(seed)
    feats = [
        _feature(1, [_star(rng, -100, 40, 3.0, 40), _star(rng, -100, 40, 1.2, 14)]),
        _feature(2, [_star(rng, -92, 40, 2.0, 30), _star(rng, -88, 37, 1.5, 20)]),
        _feature(3, [_star(rng, -98, 41, 2.5, 50)]),
    ]
    wx, wy = _star(rng, -100, 40, 16.0, 6)
    return pd.DataFrame(feats + [
        _feature(4, [_box(-96.0, 34.453125, -90.0, 38.3203125),
                     _box(-94.21875, 35.15625, -92.8125, 36.5625),
                     _box(-93.515625, 35.859375, -91.40625, 37.265625)]),
        _feature(5, [(wx + 0.01, wy + 0.003)]),
    ])


def _on_edges(feats, rng):
    """Points on every slanted edge at random fractions (at least two per
    edge, sixteen per degree of length), x computed by the kernel's own
    expression: they lie exactly on the edge, where the rounding of
    ``xint`` decides the crossing. On long edges, swapping the edge ends
    flips about 1% of these answers."""
    ex, ey = [], []
    for _, r in feats.iterrows():
        for x1, y1 in zip(*_rings(r)):
            x2, y2 = np.roll(x1, 1), np.roll(y1, 1)
            per = 2 + (16 * np.hypot(x2 - x1, y2 - y1)).astype(int)
            s = np.repeat(np.arange(len(x1)), per)
            s = s[y1[s] != y2[s]]
            x1, y1, x2, y2 = x1[s], y1[s], x2[s], y2[s]
            lat = y1 + rng.uniform(0, 1, len(y1)) * (y2 - y1)
            ex.append((x2 - x1) * (lat - y1) / (y2 - y1) + x1)
            ey.append(lat)
    return np.concatenate(ex), np.concatenate(ey)


def _probe_points(feats, res, seed):
    """Vertices, points on edges, points on cell boundaries and on the
    y of every vertex, plus uniform points over the features' extent."""
    rng = np.random.default_rng(seed)
    vx = np.concatenate([np.asarray(v) for v in feats["xs"]])
    vy = np.concatenate([np.asarray(v) for v in feats["ys"]])
    mx, my = _on_edges(feats, rng)
    x0, x1 = feats["minx"].min() - 1, feats["maxx"].max() + 1
    y0, y1 = feats["miny"].min() - 1, feats["maxy"].max() + 1
    w, h = 360.0 / 2 ** res, 180.0 / 2 ** res
    gx = np.arange(np.ceil((x0 + 180) / w), (x1 + 180) / w) * w - 180  # cell columns
    gy = np.arange(np.ceil((y0 + 90) / h), (y1 + 90) / h) * h - 90  # cell rows
    n = 300
    # vertices, on-edge points, cell columns, cell rows, vertex latitudes,
    # cell corners, uniform
    lng = np.concatenate([vx, mx, rng.choice(gx, n), rng.uniform(x0, x1, n),
                          rng.uniform(x0, x1, n), rng.choice(gx, 50),
                          rng.uniform(x0, x1, 2 * n)])
    lat = np.concatenate([vy, my, rng.uniform(y0, y1, n), rng.choice(gy, n),
                          rng.choice(vy, n), rng.choice(gy, 50),
                          rng.uniform(y0, y1, 2 * n)])
    return pd.DataFrame({"pid": np.arange(len(lng)), "lng": lng, "lat": lat})


def _numpy_pairs(feats, pdf):
    pairs = set()
    for _, r in feats.iterrows():
        rxs, rys = _rings(r)
        hit = G.polygon_contains_points(rxs, rys, pdf["lng"], pdf["lat"])
        pairs |= {(int(p), int(r["record_number"])) for p in pdf["pid"][hit]}
    return pairs


@pytest.fixture
def ansi(spark):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield
    spark.conf.set("spark.sql.ansi.enabled", old)


@pytest.mark.parametrize("res", [6, 8, 10])
def test_pip_refine_equals_numpy_kernel(spark, ansi, res):
    """Broadcast, salted and stateless joins equal
    ``polygon_contains_points`` exactly, under ANSI mode, on points that
    sit on vertices, on edges and on cell boundaries."""
    feats = _random_features(res)
    pdf = _probe_points(feats, res, res)
    want = _numpy_pairs(feats, pdf)
    first = {}
    for p, rec in sorted(want):
        first.setdefault(p, rec)
    assert 0 < len(first) < len(pdf) and len(want) > len(first)  # overlaps exist

    index = SJ.PolygonIndex(spark, feats, res)
    partial = index.cells_pdf[~index.cells_pdf["is_full"]]
    assert any(e["holes"] for e in partial[SJ._EDGES])  # the hole parity runs
    pts = spark.createDataFrame(pdf)
    got = {(r.pid, r.record_number)
           for r in SJ.pip_matches_stateless(pts, index).collect()}
    assert got == want
    for salt in (0, 3):
        for dedup in (False, True):
            out = SJ.point_in_polygon_join(spark, pts, index, res=res, point_id_col="pid",
                                           salt_buckets=salt, dedup_first=dedup)
            got = {(r.pid, r.record_number) for r in out.collect()}
            assert got == (set(first.items()) if dedup else want), (salt, dedup)


def _many_vertex_feature():
    """One polygon with 24k shell vertices and a 3k-vertex hole."""
    rng = np.random.default_rng(11)

    def ring(r, n, sign):
        ang = sign * np.linspace(0, 2 * np.pi, n, endpoint=False)
        rad = r * (1 + 0.05 * rng.standard_normal(n))
        return -100 + rad * np.cos(ang), 40 + rad * np.sin(ang)

    return pd.DataFrame([_feature(1, [ring(3.0, 24_000, 1), ring(1.0, 3_000, -1)])])


def test_prepare_polygon_cells_chunked_equals_unchunked(spark, monkeypatch):
    feats = _many_vertex_feature()
    chunked = SJ.prepare_polygon_cells(feats, 8)  # ~150 cells per chunk
    monkeypatch.setattr(SJ, "_DMAT_BUDGET", 1)  # one cell per chunk
    tiny = SJ.prepare_polygon_cells(feats, 8)
    monkeypatch.setattr(SJ, "_DMAT_BUDGET", 1 << 40)  # a single chunk
    whole = SJ.prepare_polygon_cells(feats, 8)
    for d in (chunked, tiny):
        pd.testing.assert_frame_equal(d, whole)
    assert whole["is_full"].any() and (~whole["is_full"]).any()

    index = SJ.PolygonIndex(spark, feats, 8)
    rng = np.random.default_rng(3)
    n = 4000
    pdf = pd.DataFrame({"pid": np.arange(n), "lng": rng.uniform(-104, -96, n),
                        "lat": rng.uniform(36, 44, n)})
    got = {(r.pid, r.record_number) for r in
           SJ.pip_matches_stateless(spark.createDataFrame(pdf), index).collect()}
    want = _numpy_pairs(feats, pdf)
    assert got == want and len(want) > n // 4


def test_pip_joins_scan_points_once_without_python(spark, features, points_pdf, tmp_path):
    """Plan pin: one points scan and no Python node in the broadcast join,
    the salted join and the stateless core."""
    from plan_walk import PYTHON_NODES, plan_node_names

    path = str(tmp_path / "points")
    spark.createDataFrame(points_pdf).write.parquet(path)
    pts = spark.read.parquet(path)
    index = SJ.PolygonIndex(spark, features, 8)
    plans = {
        "broadcast": SJ.point_in_polygon_join(spark, pts, index, res=8),
        "salted": SJ.point_in_polygon_join(spark, pts, index, res=8, salt_buckets=4),
        "stateless": SJ.pip_matches_stateless(pts, index),
    }
    for name, df in plans.items():
        assert df.collect()
        nodes = plan_node_names(df)
        assert nodes.count("FileSourceScanExec") == 1, (name, nodes)
        assert not set(nodes) & set(PYTHON_NODES), (name, nodes)


def test_pip_join_keeps_point_columns_named_like_the_dimension(spark, features, points_pdf):
    """A point column called ``is_full`` or ``rings`` neither collides with
    the dimension's refine columns nor changes the matches."""
    pdf = points_pdf.assign(is_full=7, rings="r")
    got = SJ.point_in_polygon_join(spark, spark.createDataFrame(pdf), features, res=8)
    assert got.columns == list(pdf.columns) + ["record_number"]
    rows = got.collect()
    assert {(r.image_id, r.record_number) for r in rows} == oracle_pip_pairs(features, points_pdf)
    assert {(r.is_full, r.rings) for r in rows} == {(7, "r")}
