"""Names, units and directions of every metric the benchmark reports.

``END_TO_END`` is what a user of the engine sees; ``PER_LAYER`` breaks a
run down by module and Spark operator layer. An untraced run prints the
first set, a traced run the second; both are listed in BENCHMARK.json.
A count of a layer that does not run in a workload is 0 (for example
``streaming.batches`` on ``batch_geocode``), but every time in
``PER_LAYER`` is measured in both workloads of BENCHMARK.json.

``WORKLOAD_ONLY`` holds the figures that exist in one workload only, and
times that are 0 elsewhere. A run writes them to stderr and to its
``--report`` file, and ``--workload all`` prints them.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# name: (unit, better, meaning)
END_TO_END = {
    "wall_s": ("s", "lower", "median warm wall time of one timed pass"),
    "rows_per_s": ("rows/s", "higher", "input points or images per second of the timed pass"),
    "setup_s": ("s", "lower", "median set-up: session start, input load, index build, "
                              "Python-worker warm-up"),
}

PER_LAYER = {
    "session.start_s": ("s", "lower", "median SparkSession start over the set-ups"),
    "session.python_warm_s": ("s", "lower", "median Python-worker warm-up over the set-ups"),
    "session.cold_setup_s": ("s", "lower", "the first set-up, which also launches the JVM"),
    "sources.generate_s": ("s", "lower", "seeded input generation (0 s when cached)"),
    "sources.load_s": ("s", "lower", "median input load and DOUBLE schema check"),
    "sources.scans": ("count", "lower", "parquet scan operators in one traced pass"),
    "sources.scan_rows": ("rows", "lower", "rows read by parquet scans"),
    "sources.scan_bytes": ("bytes", "lower", "file bytes of parquet scans"),
    "sources.scan_ms": ("ms", "lower", "parquet scan time, summed over tasks"),
    "cells.assign_s": ("s", "lower", "tiling.assign_cells plus one aggregate"),
    "spatial_join.index_build_s": ("s", "lower", "median PolygonIndex build"),
    "spatial_join.dim_rows": ("rows", "lower", "covering-cell dimension rows"),
    "spatial_join.join_s": ("s", "lower", "median PIP join action"),
    "spatial_join.candidate_rows": ("rows", "lower", "rows out of the joins on the cell key"),
    "spatial_join.partial_rows": ("rows", "lower", "PARTIAL candidates sent to the refine"),
    "spatial_join.refined_rows": ("rows", "higher", "PARTIAL candidates the refine kept"),
    "spatial_join.refine_keep_ratio": ("ratio", "higher", "matched rows / PARTIAL candidates"),
    "spatial_join.auto_salt_s": ("s", "lower", "median auto_salt_buckets histogram pass"),
    "spatial_join.salt_buckets": ("count", "lower", "salt buckets chosen by auto"),
    "python.boot_ms": ("ms", "lower", "Python worker boot time, summed over tasks"),
    "python.total_ms": ("ms", "lower", "time in Python operators, summed over tasks"),
    "python.rows_sent": ("rows", "lower", "rows sent from the JVM to Python"),
    "python.bytes_sent": ("bytes", "lower", "Arrow bytes sent to Python"),
    "python.bytes_received": ("bytes", "lower", "Arrow bytes received from Python"),
    "exchange.bytes_written": ("bytes", "lower", "shuffle bytes written"),
    "exchange.records_written": ("rows", "lower", "shuffle records written"),
    "exchange.write_ms": ("ms", "lower", "shuffle write time, summed over tasks"),
    "exchange.bytes_read": ("bytes", "lower", "shuffle bytes read"),
    "broadcast.bytes": ("bytes", "lower", "broadcast relation size"),
    "broadcast.collect_ms": ("ms", "lower", "broadcast collect time"),
    "codegen.pipeline_ms": ("ms", "lower", "whole-stage codegen pipeline time, summed over tasks"),
    "agg.peak_mem_bytes": ("bytes", "lower", "aggregate and window peak memory, summed over tasks"),
    "agg.spill_bytes": ("bytes", "lower", "aggregate and window spill"),
    "sort.spill_bytes": ("bytes", "lower", "sort spill"),
    "tiling.pyramid_s": ("s", "lower", "median tile_pyramid action"),
    "tiling.tiles_out": ("count", "lower", "pyramid tiles over all levels"),
    "checkpoint.bytes_written": ("bytes", "lower", "bytes of the committed stages"),
    "checkpoint.commits": ("count", "lower", "manifest versions committed by one ingest"),
    "streaming.batches": ("count", "lower", "non-empty micro-batches over both streams"),
    "streaming.replayed_commits": ("count", "lower", "manifest commits made by the restart"),
    "peak_rss_mb": ("MB", "lower", "peak RSS of the driver JVM and Python workers "
                                   "during the timed passes"),
    "failed_share": ("ratio", "lower", "failed or wrong operations / operations attempted"),
    "data.hot_share": ("ratio", "lower", "share of points in the most loaded cell"),
    "data.partial_share": ("ratio", "lower", "share of cell-join candidates in PARTIAL cells"),
    "trace.overhead_s": ("s", "lower", "traced minus untraced median pass wall time"),
    "trace.spans": ("count", "lower", "spans recorded by the traced run"),
}

WORKLOAD_ONLY = {
    "broadcast.build_ms": ("ms", "lower", "broadcast build time"),
    "checkpoint.stage_wall_s": ("s", "lower", "sum of the manifest stages' wall_s"),
    "checkpoint.read_stage_s": ("s", "lower", "read and count all committed geocode stages"),
    "streaming.add_batch_ms": ("ms", "lower", "median addBatch per micro-batch"),
    "streaming.wal_commit_ms": ("ms", "lower", "median walCommit per micro-batch"),
    "streaming.query_planning_ms": ("ms", "lower", "median queryPlanning per micro-batch"),
    "multimodal.verify_s": ("s", "lower", "median verify_invariants decode and phash pass"),
    "multimodal.images_decoded": ("count", "lower", "images decoded by one verify pass"),
    "multimodal.phash_ok_ratio": ("ratio", "higher", "images whose phash re-verifies"),
    "scaling.t1_s": ("s", "lower", "median join at local[1]"),
    "scaling.t4_s": ("s", "lower", "median join at local[4]"),
    "scaling.floor_s": ("s", "lower", "median join on a 512-row input at local[4]"),
    "scaling_efficiency": ("ratio", "higher", "(t1 / t4) / 4 on identical input"),
    "batch_latency_p50_s": ("s", "lower", "median micro-batch latency"),
    "batch_latency_tail_s": ("s", "lower", "micro-batch latency at batch_latency_tail_pct"),
    "batch_latency_tail_pct": ("%", "higher", "highest percentile with 10 batches beyond it"),
    "replay_s": ("s", "lower", "restart of both streams on their checkpoints"),
}
