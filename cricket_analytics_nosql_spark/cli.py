"""Command-line entry points mirroring the reference's three scripts
(SURVEY.md §3) so a reference user can switch 1:1:

  python -m cricket_analytics_nosql_spark etl --data-dir D --out W
      ≙ etl_cricsheet_to_mongo.py --data_dir (etl:109-147): scan
      Cricsheet JSON, normalize matches, flatten deliveries, write
      both tables (idempotent overwrite ≙ upsert, S3). The
      reference's --batch knob has no equivalent: batching/bulk
      parallelism is Spark's job (S4).

  python -m cricket_analytics_nosql_spark graph --warehouse W [--limit N]
      ≙ neo4j_loader.py (:72-138): project deliveries into
      player vertices + FACED edges (MERGE-dedup semantics, A9),
      write both, run PageRank, print the top hubs. --limit caps
      deliveries rows like the loader's cursor cap (S7).

  python -m cricket_analytics_nosql_spark analytics --warehouse W
      ≙ mongo_analytics_examples.py (:18-52) + the four Cypher
      queries: runs every reference query over the warehouse and
      prints the (top-k-bounded) results.

All heavy lifting stays in the operator modules; this file is only
argparse + orchestration, like the reference's scripts.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _spark() -> SparkSession:
    from cricket_analytics_nosql_spark.session import get_spark

    return get_spark("cricket-analytics-cli")


def _show(
    title: str, df: DataFrame, n: int = 20, explain: bool = False
) -> None:
    print(f"\n== {title}")
    if explain:
        df.explain("formatted")
    else:
        df.show(n, truncate=False)


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its row count observed on the job that writes it,
    so a summary line costs no job of its own."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def cmd_etl(args: argparse.Namespace) -> int:
    from cricket_analytics_nosql_spark.operators.etl import (
        flatten_deliveries,
        normalize_matches,
    )
    from cricket_analytics_nosql_spark.sources.cricsheet import (
        read_cricsheet,
        split_quarantine,
    )

    spark = _spark()
    raw = read_cricsheet(spark, args.data_dir)
    good, bad = split_quarantine(raw)
    n_bad = bad.count()
    if n_bad:
        # per-file error isolation (S2): quarantine, report, continue
        bad.write.mode("overwrite").json(
            os.path.join(args.out, "quarantine")
        )
        print(f"quarantined {n_bad} corrupt file(s)", file=sys.stderr)
    matches, n_matches = _counted(normalize_matches(good))
    deliveries, n_deliveries = _counted(flatten_deliveries(good))
    matches.write.mode("overwrite").parquet(
        os.path.join(args.out, "matches.parquet")
    )
    deliveries.write.mode("overwrite").parquet(
        os.path.join(args.out, "deliveries.parquet")
    )
    raw.unpersist()  # the parse cache split_quarantine pinned
    print(
        f"wrote {n_matches.get['n']} matches, "
        f"{n_deliveries.get['n']} deliveries to {args.out}"
    )
    return 0


def _load_deliveries(
    spark: SparkSession, warehouse: str, limit: int | None
) -> DataFrame:
    df = spark.read.parquet(os.path.join(warehouse, "deliveries.parquet"))
    return df.limit(limit) if limit else df


def cmd_graph(args: argparse.Namespace) -> int:
    from cricket_analytics_nosql_spark.operators.graph import (
        faced_edges,
        player_pagerank,
        player_vertices,
    )
    from cricket_analytics_nosql_spark.operators.sinks import write_graph

    spark = _spark()
    deliveries = _load_deliveries(spark, args.warehouse, args.limit)
    vertices, n_vertices = _counted(
        player_vertices(deliveries).withColumnRenamed("name", "id")
    )
    edges, n_edges = _counted(faced_edges(deliveries))
    out = os.path.join(args.warehouse, "graph")
    write_graph(vertices, edges, out)
    print(
        f"wrote {n_vertices.get['n']} vertices, {n_edges.get['n']} edges "
        f"to {out}"
    )
    # PageRank reads the FACED edges the write just cached
    _show(
        "PageRank top hubs (cypher_queries.cypher:28-34)",
        player_pagerank(deliveries).select(
            "id", F.round("pagerank", 6).alias("score")
        ),
    )
    return 0


def cmd_analytics(args: argparse.Namespace) -> int:
    from cricket_analytics_nosql_spark.operators.cricket import (
        batter_vs_bowler,
        partnership_proxy,
        runs_by_batter,
        toughest_bowlers,
        wickets_by_bowler,
    )

    spark = _spark()
    deliveries = _load_deliveries(spark, args.warehouse, args.limit)
    _show(
        "Top batters by runs (mongo_analytics_examples.py:18-29)",
        runs_by_batter(deliveries),
    )
    _show(
        "Top bowlers by wickets (mongo_analytics_examples.py:31-38)",
        wickets_by_bowler(deliveries),
    )
    if args.batter and args.bowler:
        _show(
            f"Head-to-head {args.batter} vs {args.bowler} "
            "(mongo_analytics_examples.py:40-48)",
            batter_vs_bowler(deliveries, args.batter, args.bowler),
        )
    if args.batter:
        _show(
            f"Toughest bowlers for {args.batter} "
            "(cypher_queries.cypher:10-16)",
            toughest_bowlers(deliveries, args.batter),
        )
    if args.team:
        _show(
            f"Partnership proxy pairs for {args.team} "
            "(cypher_queries.cypher:19-25)",
            partnership_proxy(deliveries, args.team, min_co=args.min_co),
        )
    return 0


def cmd_pipeline(args: argparse.Namespace) -> int:
    """Run a MongoDB aggregation-pipeline document (JSON file or
    inline string) against a warehouse table through the compiler —
    the reference user's ``D.aggregate(pipe)`` call, Spark-executed
    (plans/mongo_pipeline.py)."""
    import json

    from cricket_analytics_nosql_spark.plans.mongo_pipeline import (
        compile_pipeline,
    )

    spark = _spark()
    if os.path.exists(args.pipeline):
        with open(args.pipeline) as fh:
            pipe = json.load(fh)
    else:
        pipe = json.loads(args.pipeline)

    warehouse = args.warehouse

    class _Collections(dict):
        """$lookup/$unionWith resolver: any warehouse table by name."""

        def __bool__(self):  # non-empty even before first resolve
            return True

        def __missing__(self, name):
            df = spark.read.parquet(
                os.path.join(warehouse, f"{name}.parquet")
            )
            self[name] = df
            return df

    class _Sinks(dict):
        """$out/$merge resolver: collection name → warehouse path."""

        def __bool__(self):  # non-empty even before first resolve
            return True

        def __contains__(self, name):  # every name resolves
            return True

        def __missing__(self, name):
            return os.path.join(warehouse, f"{name}.parquet")

    df = spark.read.parquet(
        os.path.join(warehouse, f"{args.collection}.parquet")
    )
    _show(
        f"pipeline over {args.collection}",
        compile_pipeline(df, pipe, collections=_Collections(), sinks=_Sinks()),
        explain=args.explain,
    )
    return 0


def cmd_cypher(args: argparse.Namespace) -> int:
    """Run a Cypher statement (file or inline text) against the
    warehouse's duel graph through the Cypher→DataFrame compiler —
    the reference user's Neo4j-Browser paste, Spark-executed
    (plans/cypher.py). ``--param k=v`` binds ``$k``."""
    from cricket_analytics_nosql_spark.operators.graph import faced_edges
    from cricket_analytics_nosql_spark.plans.cypher import compile_cypher

    spark = _spark()
    if os.path.exists(args.query):
        with open(args.query) as fh:
            query = fh.read()
    else:
        query = args.query
    params: dict[str, object] = {}
    for kv in args.param or []:
        k, _, v = kv.partition("=")
        try:
            params[k] = int(v)
        except ValueError:
            try:
                params[k] = float(v)
            except ValueError:
                params[k] = v
    deliveries = spark.read.parquet(
        os.path.join(args.warehouse, "deliveries.parquet")
    )
    # One statement per process: the persisted projection would have
    # no second reader, and filling it costs the whole dedup plus the
    # statement's src/dst pushdown below it.
    edges = faced_edges.__wrapped__(deliveries)
    _show("cypher", compile_cypher(query, edges, params), explain=args.explain)
    return 0


def cmd_sql(args: argparse.Namespace) -> int:
    """Ad-hoc Spark SQL over the registered tables: the driver's
    star-schema tables (--sf-dir) and/or a cricket warehouse
    (--warehouse, registers matches/deliveries)."""
    spark = _spark()
    if args.sf_dir:
        from cricket_analytics_nosql_spark.sources.tables import (
            register_views,
        )

        register_views(spark, args.sf_dir)
    if args.warehouse:
        for t in ("matches", "deliveries"):
            path = os.path.join(args.warehouse, f"{t}.parquet")
            if os.path.exists(path):
                spark.read.parquet(path).createOrReplaceTempView(t)
    _show("sql", spark.sql(args.query), n=args.max_rows, explain=args.explain)
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    """Run any catalog query by name against a star-schema dir —
    the operator surface as a CLI (``query --list`` enumerates)."""
    from cricket_analytics_nosql_spark.catalog import all_queries

    cat = all_queries()
    if args.list:
        for name, spec in cat.items():
            mark = "oracle" if spec.oracle else "rows-only"
            print(f"{name}\t{mark}\t{','.join(spec.ops)}")
        return 0
    if args.name not in cat:
        print(f"unknown query {args.name!r}; see --list", file=sys.stderr)
        return 2
    spark = _spark()
    df = cat[args.name].fn(spark, args.sf_dir)
    _show(args.name, df, n=args.max_rows, explain=args.explain)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cricket_analytics_nosql_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    etl = sub.add_parser("etl", help="Cricsheet JSON dir → parquet warehouse")
    etl.add_argument("--data-dir", required=True)
    etl.add_argument("--out", required=True)
    etl.set_defaults(fn=cmd_etl)

    graph = sub.add_parser(
        "graph", help="project duel graph, write it, run PageRank"
    )
    graph.add_argument("--warehouse", required=True)
    graph.add_argument("--limit", type=int, default=None)
    graph.set_defaults(fn=cmd_graph)

    ana = sub.add_parser("analytics", help="run the reference queries")
    ana.add_argument("--warehouse", required=True)
    ana.add_argument("--limit", type=int, default=None)
    ana.add_argument("--batter", default="V Kohli")
    ana.add_argument("--bowler", default="TG Southee")
    ana.add_argument("--team", default="India")
    ana.add_argument("--min-co", type=int, default=20, dest="min_co")
    ana.set_defaults(fn=cmd_analytics)

    pipe = sub.add_parser(
        "pipeline",
        help="run a Mongo aggregation pipeline (JSON) via the compiler",
    )
    pipe.add_argument("--warehouse", required=True)
    pipe.add_argument(
        "--collection", default="deliveries", help="warehouse table name"
    )
    pipe.add_argument(
        "--pipeline", required=True, help="JSON file path or inline JSON"
    )
    pipe.add_argument("--explain", action="store_true")
    pipe.set_defaults(fn=cmd_pipeline)

    cy = sub.add_parser(
        "cypher",
        help="run a Cypher statement against the duel graph via the compiler",
    )
    cy.add_argument("--warehouse", required=True)
    cy.add_argument(
        "--query", required=True, help="Cypher file path or inline text"
    )
    cy.add_argument(
        "--param",
        action="append",
        help="bind $name (repeatable): --param batter='V Kohli'",
    )
    cy.add_argument("--explain", action="store_true")
    cy.set_defaults(fn=cmd_cypher)

    sql = sub.add_parser("sql", help="ad-hoc Spark SQL over the tables")
    sql.add_argument("--sf-dir", default=None, help="star-schema dir")
    sql.add_argument("--warehouse", default=None, help="cricket warehouse")
    sql.add_argument("--query", required=True)
    sql.add_argument("--max-rows", type=int, default=20, dest="max_rows")
    sql.add_argument("--explain", action="store_true")
    sql.set_defaults(fn=cmd_sql)

    qy = sub.add_parser(
        "query", help="run a named catalog query over a star-schema dir"
    )
    qy.add_argument("name", nargs="?", default=None)
    qy.add_argument("--list", action="store_true", help="list queries")
    qy.add_argument(
        "--sf-dir", default="/root/testdata/sf0.01", help="star-schema dir"
    )
    qy.add_argument("--max-rows", type=int, default=20, dest="max_rows")
    qy.add_argument("--explain", action="store_true")
    qy.set_defaults(fn=cmd_query)

    args = p.parse_args(argv)
    if args.cmd == "query" and not args.list and not args.name:
        p.error("query: give a NAME or --list")
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
