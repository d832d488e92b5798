"""Oracle-differential suite (SURVEY.md §5.1): every catalog query
with an oracle must match DuckDB exactly on sf0.001 — same check the
driver runs at sf0.01, so this is the pre-flight for CORRECTNESS_r*.
Rows-only queries are smoke-checked for executability + stable schema.
"""

from __future__ import annotations

import pytest

from cricket_analytics_nosql_spark.catalog import all_queries
from tools.parity import compare

CATALOG = all_queries()
WITH_ORACLE = sorted(n for n, s in CATALOG.items() if s.oracle)
ROWS_ONLY = sorted(n for n, s in CATALOG.items() if not s.oracle)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, sf_small, name):
    spec = CATALOG[name]
    compare(spec.fn(spark, sf_small), spec.oracle, sf_small, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_smoke(spark, sf_small, name):
    spec = CATALOG[name]
    df = spec.fn(spark, sf_small)
    assert df.columns, f"[{name}] no columns"
    assert df.count() >= 0


def test_compare_rejects_wrong_results(spark, sf_small):
    """The gate must actually gate: a wrong value, a wrong column
    name, and a wrong row count must each raise — otherwise every
    green row above is vacuous."""
    import pyspark.sql.functions as F
    import pytest

    from cricket_analytics_nosql_spark.sources.tables import load_table

    region = load_table(spark, sf_small, "region").select(
        "r_regionkey", "r_name"
    )
    ok_sql = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
    compare(region, ok_sql, sf_small, "meta_ok")

    with pytest.raises(AssertionError):  # value drift
        compare(
            region.withColumn("r_regionkey", F.col("r_regionkey") + 1),
            ok_sql, sf_small, "meta_val",
        )
    with pytest.raises(AssertionError):  # schema drift
        compare(
            region.withColumnRenamed("r_name", "name"),
            ok_sql, sf_small, "meta_col",
        )
    with pytest.raises(AssertionError):  # cardinality drift
        compare(region.limit(3), ok_sql, sf_small, "meta_rows")


def test_parity_cli_rejects_unknown_names_before_starting_spark():
    """``python -m tools.parity --help`` (or a typo) prints the usage
    and the unknown names and exits 2 — before any JVM starts: with
    ``JAVA_HOME`` pointing nowhere, starting one would fail otherwise."""
    import os
    import pathlib
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parents[1]
    env = dict(os.environ, JAVA_HOME="/nonexistent")
    run = subprocess.run(
        [sys.executable, "-m", "tools.parity", "--help", "no_such_query"],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert run.returncode == 2, run.stderr[-2000:]
    assert "usage: python -m tools.parity" in run.stderr
    assert "--help no_such_query" in run.stderr
