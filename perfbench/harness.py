"""Session lifecycle, set-up cycles and the timed closed loop.

The benchmark keeps everything it writes under ``perfbench/.work``:
generated inputs, Spark's local and temp directories, the package zip
that ``session.get_spark`` ships to Python workers, stream checkpoints
and the span files of traced runs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
OUT = os.path.join(WORK, "out")

CORES = 4                  # local[4]: the host this benchmark is sized for
SHUFFLE_PARTITIONS = 8     # fixed, so plans do not depend on the host
DRIVER_MEMORY = "3g"       # the host has 15 GiB shared with other work
SETUP_CYCLES = 2           # set-ups per run; setup_s is their median


def configure_env() -> None:
    """Point every temp and scratch directory into ``.work``. Must run
    before pyspark starts a JVM."""
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_session(cores: int = CORES):
    from gis_shapefile_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def python_warm(spark, cores: int = CORES):
    """Start one Python worker per core with pandas and pyarrow loaded.
    Returns the DataFrame that ran, for the plan walk."""
    from pyspark.sql import functions as F

    def same(batches):
        yield from batches

    df = spark.range(0, 1024 * cores, 1, cores).mapInPandas(same, "id long").agg(
        F.count(F.lit(1)))
    df.collect()
    return df


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def median(xs) -> float:
    return float(statistics.median(xs))


def timed_loop(op, seconds: float, min_reps: int, pass_seconds=lambda wall: wall):
    """Run ``op`` back to back (a closed loop) for ``seconds`` and at least
    ``min_reps`` times. Returns (walls, results); ``pass_seconds`` maps a
    pass's wall time to its timed part."""
    walls, results = [], []
    end = time.perf_counter() + seconds
    while len(walls) < min_reps or time.perf_counter() < end:
        t = time.perf_counter()
        results.append(op())
        walls.append(pass_seconds(time.perf_counter() - t))
    return walls, results


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
