#!/usr/bin/env python3
"""Benchmark of the gis_shapefile_spark engine.

    python3 perfbench/run.py --workload batch_geocode --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1

A run generates its seeded inputs, sets up a local[4] Spark session
twice (``setup_s`` is the median), runs untimed warm passes,
then runs the workload's pass in a closed loop for ``--seconds`` and
checks the outputs. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--workload all`` runs every workload traced, one process each, and
prints every metric with its unit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMES = ("batch_geocode", "hotcell_geocode", "stream_ingest", "image_tiling")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="also write every metric of the run to this JSON file")
    return ap.parse_args(argv)


def run_one(args) -> dict:
    import harness as H
    import tracing as T
    import workloads as W

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    spans = T.Spans(run_id) if args.trace else T.NoSpans()
    wl = W.WORKLOADS[args.workload](args.seed, spans)
    failed = 0
    t_start = time.perf_counter()

    with spans.span("sources.generate"):
        t = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t

    cycles, boots, spark = [], [], None
    for _ in range(H.SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        with spans.span("setup"):
            t0 = time.perf_counter()
            spark = wl.timed("session.start", H.start_session)
            wl.timed("sources.load", lambda: wl.load(spark))
            wl.timed("spatial_join.index_build", lambda: wl.build_index(spark))
            warm_df = wl.timed("session.python_warm", lambda: H.python_warm(spark))
            cycles.append(time.perf_counter() - t0)
        if args.trace:
            boots.append(T.plan_layers(warm_df)["python.boot_ms"])
    setup_times = {k: H.median(v) for k, v in wl.times.items()}
    wl.times.clear()
    wl.record_skew(wl.path)
    sampler = T.RssSampler(H.jvm_pid())
    try:
        with spans.span("warm"):
            ref = wl.warm(spark)
            wl.times.clear()
        with spans.span("check_warm"):
            ref = wl.check_warm(spark, ref)
        with spans.span("timed"), sampler.active():
            walls, results = H.timed_loop(lambda: wl.one_pass(spark, False),
                                          args.seconds, wl.min_reps, wl.pass_seconds)
        ref = results[0] if ref is None else ref
        wl.attempted += len(results)
        failed += sum(r != ref for r in results)
        if args.trace:
            traced, traced_results = [], []
            for _ in range(wl.traced_passes):
                t = time.perf_counter()
                with spans.span("traced_pass"):
                    traced_results.append(wl.one_pass(spark, True))
                traced.append(wl.pass_seconds(time.perf_counter() - t))
            wl.attempted += len(traced_results)
            failed += sum(r != ref for r in traced_results)
        with spans.span("final_checks"):
            wl.final_checks(spark)
        if args.trace:
            with spans.span("probes"):
                spark = wl.probes(spark) or spark
    finally:
        sampler.close()
        H.shutdown(spark)

    failed += wl.failed
    for p in wl.problems:
        print("CHECK FAILED", p, file=sys.stderr)
    print(f"phases: setup {sum(cycles):.1f} s, timed {sum(walls):.1f} s over {len(walls)} passes, "
          f"run {time.perf_counter() - t_start:.1f} s", file=sys.stderr)

    wall = H.median(walls)
    out = {
        "wall_s": wall,
        "rows_per_s": wl.rows_per_pass / wall,
        "setup_s": H.median(cycles),
        "peak_rss_mb": sampler.peak / 2**20,
        "failed_share": failed / wl.attempted,
        "session.start_s": setup_times["session.start"],
        "session.python_warm_s": setup_times["session.python_warm"],
        "session.cold_setup_s": cycles[0],
        "sources.generate_s": generate_s,
        "sources.load_s": setup_times["sources.load"],
        "spatial_join.index_build_s": setup_times["spatial_join.index_build"],
        "spatial_join.join_s": wl.time_median("spatial_join.join"),
        "tiling.pyramid_s": wl.time_median("tiling.pyramid"),
    }
    out.update(wl.layers)
    out.update(wl.extra)
    if args.trace:
        # workers boot in the set-up warm-up; a traced pass adds any reboots
        out["python.boot_ms"] = H.median(boots) + out.get("python.boot_ms", 0.0)
        out["trace.overhead_s"] = H.median(traced) - wall
        out["trace.spans"] = float(len(spans.records))
        spans.write(os.path.join(H.OUT, f"spans-{run_id}.jsonl"))
    return {"correct": failed == 0, "attempted": wl.attempted, "failed": failed,
            "metrics": out}


def run_all(args) -> int:
    """Every workload, traced, one process each; prints every metric."""
    import harness as H
    import metrics as M

    report_dir = H.OUT
    os.makedirs(report_dir, exist_ok=True)
    summary, ok, attempted, failed = {}, True, 0, 0
    units = {**M.END_TO_END, **M.PER_LAYER, **M.WORKLOAD_ONLY}
    for name in NAMES:
        report = os.path.join(report_dir, f"all-{name}-s{args.seed}.json")
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", "1", "--report", report]
        if subprocess.run(cmd, stdout=subprocess.DEVNULL).returncode != 0:
            print(f"{name}: FAILED", file=sys.stderr)
            return 1
        with open(report) as f:
            res = json.load(f)
        ok &= res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        print(f"== {name}")
        for k, v in sorted(res["metrics"].items()):
            print(f"  {k:34s} {v:16.6g} {units[k][0]}")
            summary[f"{name}.{k}"] = {"value": v, "unit": units[k][0]}
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": summary}))
    return 0


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "gis_shapefile_spark")):
        print("perfbench: the gis_shapefile_spark package is not next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    import harness as H
    import metrics as M

    H.configure_env()
    res = run_one(args)
    chosen = M.PER_LAYER if args.trace else M.END_TO_END
    if args.report:
        with open(args.report, "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
    units = {**M.END_TO_END, **M.PER_LAYER, **M.WORKLOAD_ONLY}
    for k, v in sorted(res["metrics"].items()):
        print(f"{k} = {v:.6g} {units[k][0]}", file=sys.stderr)
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": float(res["metrics"].get(k, 0.0)), "unit": u}
                    for k, (u, _, _) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
