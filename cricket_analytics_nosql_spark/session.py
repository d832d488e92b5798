"""SparkSession construction tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; the configs
are chosen to also be the right defaults on a real cluster:
AQE (runtime coalesce / skew-join split / dynamic broadcast) on,
UTC session timezone (oracle comparability), Arrow enabled for the
Pandas-UDF slow path.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cricket-analytics-nosql-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then ``os.cpu_count()``.
    ``shuffle_partitions`` defaults to ``cpus`` — at 100 TB on a real
    cluster this should instead be sized so post-shuffle partitions
    are ~128-256 MB; AQE coalescing makes the exact number forgiving.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine configs to an externally created
    session (the driver hands us one). Only touches runtime confs.

    Shuffle partitions are sized to the session's actual parallelism
    instead of Spark's default 200: on a small local session the
    default means 200-task exchanges and 200-partition streaming
    state stores per micro-batch (measured ~24 s/streaming query at
    local[4] vs ~6 s sized) — and AQE coalescing cannot shrink the
    state-store partitioning, which is fixed at first checkpoint.

    LOCAL MASTERS ONLY: on a cluster, ``defaultParallelism`` at
    startup under dynamic allocation can be tiny (few executors yet),
    and since shuffle.partitions also seeds AQE's initialPartitionNum
    a blanket override would permanently cap shuffle/state-store
    parallelism. Cluster sessions keep whatever the deployment
    configured."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    if spark.sparkContext.master.startswith("local"):
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    _ship_package(spark)
    return spark


_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
_ZIP = "cricket_analytics_nosql_spark.zip"


def _ship_package(spark: SparkSession) -> None:
    """Put this package on the Python workers' import path: zip its
    sources once per SparkContext and ``addPyFile`` the zip.

    Python UDFs, ``applyInPandas`` and stateful-streaming functions
    defined in the package pickle by module reference, so a worker
    must import the package to run them. A local worker finds it only
    when the driver was started from the repo root (the worker
    inherits that working directory); from anywhere else, or on a
    cluster, it raises ``ModuleNotFoundError`` without the zip."""
    sc = spark.sparkContext
    if _ZIP in sc._python_includes:
        return
    out = tempfile.mkdtemp(prefix="cricket-pkg-")
    atexit.register(shutil.rmtree, out, True)
    path = os.path.join(out, _ZIP)
    root = os.path.dirname(_PACKAGE_DIR)
    # stored, not deflated: ~10x faster to write, for a 1.7 MB zip
    with zipfile.ZipFile(path, "w") as zf:
        for d, dirs, files in os.walk(_PACKAGE_DIR):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    zf.write(full, os.path.relpath(full, root))
    sc.addPyFile(path)


def loop_partitions(rows: int) -> int:
    """Partition count for an iterative loop's exchanges, sized from
    a measured row count: ~150k rows per task. Locally the loops are
    task-launch-bound, so few fat partitions win; at cluster scale
    the same formula keeps each partition comfortably in memory."""
    return max(2, rows // 150_000)


@contextmanager
def fixed_plan(spark: SparkSession, n: int) -> Iterator[None]:
    """Plan with AQE off and ``n`` shuffle partitions inside the
    scope; both confs are restored on exit, normal or not.

    Why AQE must be off: Spark 4.1 reports ``UnknownPartitioning(0)``
    for an adaptive plan, so under AQE a
    ``repartition(n, key).localCheckpoint()`` loses its key and every
    round of a loop over that checkpoint re-shuffles it. Measured on
    the 150-match bench warehouse, PageRank cost 1.96 s / 36 jobs per
    call with the loop under this scope, 2.32 s / 39 jobs with AQE on
    in the loop (keyed checkpoints still built with AQE off), and
    2.63 s / 55 jobs with AQE on throughout. The loop plans are fully
    known in advance, so there is nothing left for AQE to adapt.

    The confs are session-wide: never enter this scope from a
    ``similarity._concurrent_frames`` thunk, or from any other code
    that runs while a sibling thread plans queries on the same
    session — the sibling would plan under (and the restore would
    race with) the pinned values."""
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
