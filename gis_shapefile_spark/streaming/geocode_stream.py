"""Streaming spatial join: continuous image-point ingest geocoded against
the polygon-cell dimension.

The north-star pipeline ingests image records continuously; this leg runs
the SAME point-in-polygon join the batch engine uses
(operators/spatial_join.py, the Spark re-expression of the reference's
``SpatialIndex::pointInPolygon`` — src/spatial/spatial_index.cpp:356-380)
over a Structured Streaming source, two ways:

* ``streaming_pip_matches`` — pure stream-static join: the point stream
  equi-joins the broadcast covering-cell dimension under the same JVM
  predicate as the batch join: FULL cells pass through, PARTIAL cells
  ray-cast over their cell's ring edges. Fully stateless ⇒ append mode,
  no state store, no Python;
  emits ALL (point, polygon) matches. This is the shape that scales: a
  1000-executor stream keeps the dimension broadcast-resident and pays
  zero shuffle on the point side.
* ``streaming_geocode_to_parquet`` — production sink path via
  ``foreachBatch``: each micro-batch runs the full batch operator
  (including the deterministic ``min(record_number)`` tie-break, which
  needs a per-point window and so cannot run stateless inside the
  stream), writing one parquet subdirectory or one manifest stage per
  micro-batch (exactly-once protocol: ``sink.py``).

Correctness oracle (tests/test_streaming_geocode.py): replaying the whole
input through the stream must produce exactly the batch join's row set,
and restarting from checkpoint must process only unseen files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import spatial_join as SJ
from . import sink

POINTS_SCHEMA = "point_id long, lng double, lat double"


def read_points_stream(
    spark: SparkSession,
    src_dir: str,
    schema: str = POINTS_SCHEMA,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream of image points (local twin of the message bus)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def streaming_pip_matches(
    points_stream: DataFrame,
    index: SJ.PolygonIndex,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Stateless stream-static PIP join: all exact (point, polygon) matches.

    Same plan as the batch operator minus the tie-break window — literally
    the same code: this delegates to the shared stateless core
    (``spatial_join.pip_matches_stateless``), so batch-side fixes reach the
    streaming path by construction.
    """
    return SJ.pip_matches_stateless(points_stream, index, lng_col, lat_col)


def streaming_geocode_to_parquet(
    spark: SparkSession,
    points_stream: DataFrame,
    index: SJ.PolygonIndex,
    out_dir: str,
    checkpoint_dir: str,
    point_id_col: str = "point_id",
    attrs: list[str] | None = None,
    table=None,
):
    """Sink path: per-micro-batch full geocode (tie-break included) written
    to ``out_dir/batch_id=N/`` with overwrite, so a replayed batch rewrites
    its own directory. Returns the (terminated) StreamingQuery.

    Pass a ``plans.checkpoint.CheckpointTable`` as ``table`` to commit each
    micro-batch as its own manifest stage ``geocode_batch_<lineage>_<N>``
    instead, with per-partition lineage + row/byte metrics; the lineage
    in the name keeps two streams sharing one table apart. Exactly-once
    protocol: ``streaming/sink.py``."""

    def apply_batch(batch_df: DataFrame, batch_id: int, lineage: str) -> None:
        def geocode(_committed=None) -> DataFrame:
            return SJ.point_in_polygon_join(
                spark, batch_df, index,
                point_id_col=point_id_col, attrs=attrs,
            )

        if table is None:
            geocode().write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
        else:
            sink.fold_commit(
                table, f"geocode_batch_{lineage}_{batch_id}",
                lineage, batch_id, geocode,
            )

    return sink.run(points_stream, checkpoint_dir, apply_batch)


def streaming_geofence_matches(
    spark: SparkSession,
    points_stream: DataFrame,
    features_pdf,
    km: float,
    lng_col: str = "lng",
    lat_col: str = "lat",
) -> DataFrame:
    """Continuous geodesic geofencing: every streamed point within ``km``
    great-circle km of a feature center emits (point cols,
    record_number, gdist_m) — the "alert when an upload appears near a
    sensitive site / POI" stream.

    Pure stream-static join, exactly the ``streaming_pip_matches``
    scale shape: the feature side's covering-cell dimension is computed
    once on the driver and broadcast (``operators/geodesic.
    geodesic_within_km`` — conservative asin-form degree cover at each
    feature's band edge), the point stream pays one stateless equi-join
    + the native haversine refine. Append mode, no state store, no
    shuffle on the stream side.
    """
    from ..operators import geodesic as GEO

    return GEO.geodesic_within_km(
        spark, points_stream, features_pdf, km=km,
        lng_col=lng_col, lat_col=lat_col,
    )
