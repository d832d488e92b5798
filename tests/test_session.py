"""The session helpers: ``fixed_plan``'s conf scope and the Spark
behaviour that makes it necessary, plus a guard that no package
module outside ``session.py`` and ``sources/`` writes a session conf
(exchange sizing goes through ``fixed_plan`` or an explicit keyed
``repartition``)."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.session import fixed_plan, loop_partitions

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


def test_session_confs_are_written_only_by_session_and_sources():
    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "cricket_analytics_nosql_spark"
    allowed = {pkg / "session.py", pkg / "sources"}
    offenders = [
        f"{path.relative_to(pkg)}:{lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if not (allowed & {path, *path.parents})
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.conf\.set\(", line)
    ]
    assert offenders == []


def test_python_workers_import_the_package_from_any_directory(
    sf_small, tmp_path
):
    """``get_spark`` ships the package to the Python workers, so a
    query whose UDF lives in the package runs from a working
    directory other than the repo root (without the zip the worker
    raises ``ModuleNotFoundError: cricket_analytics_nosql_spark``)."""
    import os
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parents[1]
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(root)!r})\n"
        "from cricket_analytics_nosql_spark.catalog import all_queries\n"
        "from cricket_analytics_nosql_spark.session import get_spark\n"
        "spark = get_spark('worker-imports', cpus=2)\n"
        "q = all_queries()['multimodal_decode']\n"
        f"print('rows', len(q.fn(spark, {sf_small!r}).collect()))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    assert int(run.stdout.split()[-1]) > 0, run.stdout
