"""Local replica of the driver's oracle-differential gate.

Runs a catalog query through Spark AND its oracle SQL through DuckDB
on the same parquet tables, then compares row count, column names,
and an order-insensitive canonical value set. Exact equality — no
float tolerance — so anything that passes here passes any sane
driver hash. (SURVEY.md §5.1.)
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb

from cricket_analytics_nosql_spark.sources.tables import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon(v):
    """Canonicalize one cell for cross-engine comparison."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # exact double repr — no tolerance
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy scalar/array from duckdb .fetchall
        return _canon(v.tolist())
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canonical_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name (driver behavior), canonicalize, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def compare(spark_df, oracle: str, sf_dir: str, name: str = "?") -> None:
    """Raise AssertionError with a diff preview on any mismatch."""
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]

    con = duckdb_connection(sf_dir)
    # Type gate FIRST: the driver's hash is type-sensitive (round-5
    # lesson — DuckDB HUGEINT vs Spark BIGINT reds with bit-identical
    # values, invisible to the str() canonicalization below).
    from tools.oracle_types import bad_columns

    bad = bad_columns(con, oracle)
    assert not bad, (
        f"[{name}] oracle result types Spark cannot emit "
        f"(driver hash would mismatch): {bad}"
    )
    res = con.execute(oracle)
    o_cols = [d[0] for d in res.description]
    o_rows = res.fetchall()
    con.close()

    assert sorted(s_cols) == sorted(o_cols), (
        f"[{name}] column mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    )
    assert len(s_rows) == len(o_rows), (
        f"[{name}] row count mismatch: spark={len(s_rows)} oracle={len(o_rows)}"
    )
    cs, co = canonical_rows(s_cols, s_rows), canonical_rows(o_cols, o_rows)
    if cs != co:
        diff = [
            (a, b) for a, b in zip(cs, co) if a != b
        ][:5]
        raise AssertionError(
            f"[{name}] value mismatch; first diffs (spark vs oracle):\n"
            + "\n".join(f"  S {a}\n  O {b}" for a, b in diff)
        )


if __name__ == "__main__":
    # Usage: python -m tools.parity [query ...]   (default: all)
    import os
    import sys as _sys

    _sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from cricket_analytics_nosql_spark.catalog import all_queries
    from cricket_analytics_nosql_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    qs = all_queries()
    args = _sys.argv[1:]
    if args[:1] == ["--first"]:
        # replicate the driver's window: first N entries in catalog
        # order (the driver checks the first 50)
        names = list(qs)[: int(args[1])]
    else:
        names = args or sorted(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        # checked before get_spark: a typo or --help starts no JVM
        print(
            "usage: python -m tools.parity [--first N | QUERY ...]\n"
            f"unknown query names: {' '.join(unknown)}",
            file=_sys.stderr,
        )
        raise SystemExit(2)
    spark = get_spark("parity")
    failed = 0
    for n in names:
        spec = qs[n]
        if not spec.oracle:
            print(f"{n}: rows={spec.fn(spark, sf_dir).count()} (no oracle)")
            continue
        try:
            compare(spec.fn(spark, sf_dir), spec.oracle, sf_dir, n)
            print(f"{n}: OK")
        except AssertionError as exc:
            failed += 1
            print(exc)
    raise SystemExit(1 if failed else 0)
