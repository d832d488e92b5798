"""The session helpers: ``fixed_plan``'s conf scope and the Spark
behaviour that makes it necessary, ``local_frame``, ``get_spark`` on a
running session, and two source guards: no package module outside
``session.py`` and ``sources/`` writes a session conf (exchange
sizing goes through ``fixed_plan`` or an explicit keyed
``repartition``), and none outside ``session.py`` calls
``createDataFrame`` (driver rows go through ``local_frame``)."""

from __future__ import annotations

import pathlib
import re

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from cricket_analytics_nosql_spark.session import (
    fixed_plan,
    get_spark,
    local_frame,
    loop_partitions,
)

_PKG = pathlib.Path(__file__).resolve().parents[1] / "cricket_analytics_nosql_spark"

_AQE = "spark.sql.adaptive.enabled"
_PARTS = "spark.sql.shuffle.partitions"


def test_loop_partitions_floor_and_rate():
    assert loop_partitions(0) == 2
    assert loop_partitions(25 * 25) == 2
    assert loop_partitions(1_500_000) == 10


def test_fixed_plan_restores_confs_on_exit_and_on_error(spark):
    before = (spark.conf.get(_AQE), spark.conf.get(_PARTS))
    with fixed_plan(spark, 3):
        assert spark.conf.get(_AQE) == "false"
        assert spark.conf.get(_PARTS) == "3"
    assert (spark.conf.get(_AQE), spark.conf.get(_PARTS)) == before
    with pytest.raises(RuntimeError, match="inside the scope"):
        with fixed_plan(spark, 5):
            raise RuntimeError("inside the scope")
    assert (spark.conf.get(_AQE), spark.conf.get(_PARTS)) == before


def _checkpoint_partitioning(spark, n: int) -> str:
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    ck = df.repartition(n, F.col("k")).localCheckpoint()
    plan = ck._jdf.queryExecution().executedPlan()
    return plan.outputPartitioning().toString()


def test_fixed_plan_keeps_the_key_of_a_keyed_checkpoint(spark):
    """Why the loops need the scope: a keyed checkpoint built under
    AQE reports UnknownPartitioning, so a loop over it would
    re-shuffle it every round; built inside the scope it keeps its
    hash partitioning."""
    assert spark.conf.get(_AQE) == "true"
    outside = _checkpoint_partitioning(spark, 4)
    assert outside.startswith("UnknownPartitioning"), outside
    with fixed_plan(spark, 4):
        inside = _checkpoint_partitioning(spark, 4)
    assert inside.startswith("hashpartitioning"), inside


def _offenders(pattern: str, *allowed: pathlib.Path) -> list[str]:
    """``file:line`` of every package line matching ``pattern``
    outside the ``allowed`` files and directories."""
    return [
        f"{path.relative_to(_PKG)}:{lineno}"
        for path in sorted(_PKG.rglob("*.py"))
        if not (set(allowed) & {path, *path.parents})
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(pattern, line)
    ]


def test_session_confs_are_written_only_by_session_and_sources():
    assert _offenders(r"\.conf\.set\(", _PKG / "session.py", _PKG / "sources") == []


def test_frames_of_driver_rows_are_built_only_by_session():
    """A list handed to ``createDataFrame`` plans a Python RDD, whose
    first action starts the Python workers; ``local_frame`` is the
    one way in."""
    assert _offenders(r"createDataFrame\(", _PKG / "session.py") == []


# Every schema the package hands ``local_frame``, with sample rows.
_RANKS = StructType(
    [StructField("id", LongType()), StructField("pagerank", DoubleType(), False)]
)
_LOCAL_FRAMES = [
    ("recall_ok boolean", [(True,)]),
    ("pm long", [(500,), (999,)]),
    ("iter int, loss double, b double, w1 double, w2 double",
     [(0, 0.693147, 0.0, 0.1, -0.2)]),
    ("n_docs long, n_exact_dup_pairs long, all_exact_dups_caught boolean",
     [(40, 3, False)]),
    ("merge_rank int, left string, right string, merged string,"
     " weighted_count bigint", [(1, "t", "h", "th", 12), (2, "th", "e", "the", 7)]),
    (_RANKS, []),
    ("band string, lo double, hi double", [("low", 0.0, 50.0), ("high", 150.0, 1e9)]),
    ("k string, label string", [("click", "C"), (None, "UNKNOWN")]),
    ("horizon_days long", [(30,), (90,)]),
    ("cell int, centroid array<double>", [(0, [0.5, -1.0]), (3, [0.0, 2.0])]),
    ("__book array<struct<cell:int,centroid:array<double>,n2:double>>",
     [([(0, [0.5, -1.0], 1.25), (3, [0.0, 2.0], 4.0)],)]),
    ("q_id long, q array<double>, cell int", [(7, [1.0, 2.0], 4)]),
    ("n_queries long, n_exact_pairs long, avg_topk_cos double,"
     " recall_ok boolean", [(8, 40, 0.412345, True)]),
    ("subspace int, cell int, centroid array<double>", [(1, 2, [0.25, 0.75])]),
    ("cell int, rs array<struct<c1:int,c2:int,side:int>>",
     [(1, [(1, 1, 0), (1, 4, 0)]), (4, [(1, 4, 1)])]),
    ("method string, recall_ok boolean", [("ivf", True), ("lsh", False)]),
    ("q double", [(0.5,), (0.99,)]),
    ("bit INT, s INT, w INT", [(1, 0, 60), (2, 1, 20)]),
    ("v1 long, v2 long", []),
]


@pytest.mark.parametrize(
    "schema, rows", _LOCAL_FRAMES, ids=lambda x: str(x)[:40]
)
def test_local_frame_matches_create_data_frame(spark, schema, rows):
    """``local_frame`` has the schema and rows ``createDataFrame``
    gives the same list, and plans a LocalRelation where the list
    plans a Python RDD."""
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _plan_root(got) == "LocalRelation"
    assert _plan_root(want) == "LogicalRDD"


def test_local_frame_takes_an_arrow_table(spark):
    table = pa.table({"id": pa.array([3, 1], pa.int64()), "pagerank": [0.25, 1.5]})
    got = local_frame(spark, table, _RANKS)
    assert got.schema == _RANKS
    assert [tuple(r) for r in got.collect()] == [(3, 0.25), (1, 1.5)]
    assert _plan_root(got) == "LocalRelation"


def _plan_root(df) -> str:
    return df._jdf.queryExecution().analyzed().nodeName()


# get_spark's runtime confs, as ``get_spark(cpus=8, shuffle_partitions=8)``
# sets them
_RUNTIME_CONFS = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def test_get_spark_on_a_running_session_sets_only_runtime_confs(spark):
    """A second ``get_spark`` (the CLI's, under another app name)
    applies its runtime confs and passes no static config to the
    builder, so Spark logs no "Using an existing Spark session"."""
    before = {k: spark.conf.get(k) for k in _RUNTIME_CONFS}
    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root_logger = ctx.getConfiguration().getRootLogger()
    log = jvm.java.io.StringWriter()
    appender = core.appender.WriterAppender.createAppender(
        core.layout.PatternLayout.createDefaultLayout(),
        None, log, "get-spark-capture", False, True,
    )
    appender.start()
    root_logger.addAppender(appender, None, None)
    ctx.updateLoggers()
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        again = get_spark("cricket-analytics-cli", cpus=8, shuffle_partitions=8)
        after = {k: spark.conf.get(k) for k in _RUNTIME_CONFS}
    finally:
        root_logger.removeAppender("get-spark-capture")
        ctx.updateLoggers()
        appender.stop()
        for k, v in before.items():
            spark.conf.set(k, v)
    assert again is spark
    assert "Using an existing Spark session" not in log.toString()
    assert after == _RUNTIME_CONFS


def _run_fresh(script: str, cwd) -> str:
    """Run ``script`` in a fresh interpreter from ``cwd``, with the
    package on ``sys.path`` only; its stdout."""
    import os
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parents[1]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", f"import sys\nsys.path.insert(0, {str(root)!r})\n" + script],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    return run.stdout


def test_python_workers_import_the_package_from_any_directory(
    sf_small, tmp_path
):
    """``get_spark`` ships the package to the Python workers, so a
    query whose UDF lives in the package runs from a working
    directory other than the repo root (without the zip the worker
    raises ``ModuleNotFoundError: cricket_analytics_nosql_spark``)."""
    out = _run_fresh(
        "from cricket_analytics_nosql_spark.catalog import all_queries\n"
        "from cricket_analytics_nosql_spark.session import get_spark\n"
        "spark = get_spark('worker-imports', cpus=2)\n"
        "q = all_queries()['multimodal_decode']\n"
        f"print('rows', len(q.fn(spark, {sf_small!r}).collect()))\n",
        tmp_path,
    )
    assert int(out.split()[-1]) > 0, out


def test_corpus_queries_start_no_python_worker(sf_small, tmp_path):
    """The five queries of the ``corpus_curation`` benchmark run in
    the JVM and the driver only: afterwards the JVM has no Python
    descendant (no ``pyspark.daemon``, no worker)."""
    out = _run_fresh(
        "from cricket_analytics_nosql_spark.catalog import all_queries\n"
        "from cricket_analytics_nosql_spark.session import get_spark\n"
        "spark = get_spark('corpus-workers', cpus=2)\n"
        "qs = all_queries()\n"
        "for name in ('dedup_exact', 'dedup_minhash_lsh', 'semantic_dedup',\n"
        "             'ann_ivf_kmeans', 'text_quality_scores'):\n"
        f"    assert qs[name].fn(spark, {sf_small!r}).collect(), name\n"
        "kids = spark._jvm.java.lang.ProcessHandle.current().descendants()\n"
        "cmds = [k.info().command().orElse('') for k in kids.toArray()]\n"
        "print('python', sum('python' in c for c in cmds))\n",
        tmp_path,
    )
    assert out.split()[-2:] == ["python", "0"], out


def test_cli_spark_keeps_the_running_sessions_shuffle_partitions(
    spark, monkeypatch
):
    """The CLI's ``get_spark`` passes no ``cpus``: on a running session
    it must not move the shuffle partition count to
    ``$SPARK_GRAFT_CPUS``."""
    from cricket_analytics_nosql_spark import cli

    before = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(int(before) + 1))
    assert cli._spark() is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
