"""Correctness checks of every benchmark run.

The comparisons of collected rows are plain Python, so they can be
tested without Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gis_shapefile_spark.functions import geometry as G


def _rings(row) -> tuple[list[np.ndarray], list[np.ndarray]]:
    xs = np.asarray(row["xs"], np.float64)
    ys = np.asarray(row["ys"], np.float64)
    offs = np.concatenate([[0], np.cumsum(np.asarray(row["ring_sizes"], np.int64))])
    return ([xs[offs[i]:offs[i + 1]] for i in range(len(offs) - 1)],
            [ys[offs[i]:offs[i + 1]] for i in range(len(offs) - 1)])


def pip_reference(features_pdf: pd.DataFrame, lng, lat) -> np.ndarray:
    """The smallest record_number whose polygon contains each point (the
    join's tie-break), or -1, from ``geometry.polygon_contains_points``."""
    lng = np.asarray(lng, np.float64)
    lat = np.asarray(lat, np.float64)
    out = np.full(len(lng), -1, np.int64)
    for _, row in features_pdf.sort_values("record_number").iterrows():
        if row["shape_type"] != 5 or len(row["ring_sizes"]) == 0:
            continue
        rx, ry = _rings(row)
        hit = (out == -1) & G.polygon_contains_points(rx, ry, lng, lat)
        out[hit] = int(row["record_number"])
    return out


def compare_pip(got: list[tuple[int, int]], ids, ref: np.ndarray) -> list[str]:
    """Mismatches between joined (point_id, record_number) rows and the
    reference for the sampled ``ids``: a missing or extra point, a
    duplicate point, or a different polygon."""
    problems = []
    seen: dict[int, int] = {}
    for pid, rec in got:
        if pid in seen:
            problems.append(f"point {pid} joined twice")
        seen[pid] = rec
    for pid, want in zip((int(i) for i in ids), ref):
        have = seen.pop(pid, -1)
        if have != int(want):
            problems.append(f"point {pid}: joined {have}, reference {int(want)}")
    problems.extend(f"point {pid} is not in the sample" for pid in seen)
    return problems


def compare_counts(got: dict, want: dict) -> list[str]:
    """Mismatches between two {key: count} maps."""
    keys = sorted(set(got) | set(want), key=repr)
    return [f"{k!r}: {got.get(k, 0)} != {want.get(k, 0)}"
            for k in keys if got.get(k, 0) != want.get(k, 0)]


def symmetric_difference(a: DataFrame, b: DataFrame) -> tuple[int, int]:
    """(rows only in a, rows only in b), duplicates counted, in one job."""
    cols = a.columns
    tagged = (a.select(*cols, F.lit(1).alias("__a"), F.lit(0).alias("__b"))
              .unionByName(b.select(*cols, F.lit(0).alias("__a"), F.lit(1).alias("__b"))))
    diff = (tagged.groupBy(*cols).agg(F.sum("__a").alias("na"), F.sum("__b").alias("nb"))
            .agg(F.sum(F.greatest(F.col("na") - F.col("nb"), F.lit(0))),
                 F.sum(F.greatest(F.col("nb") - F.col("na"), F.lit(0))))
            .collect()[0])
    return int(diff[0] or 0), int(diff[1] or 0)
