"""Sink-side operators — SURVEY.md §2.1 S3/S4/S5/S8.

The reference's write paths are Mongo bulk inserts with secondary
indexes (etl_cricsheet_to_mongo.py:111-145) and Neo4j MERGE batches
(neo4j_loader.py:32-70). Spark-native equivalents:

- S4 batched append → ``write.mode("append")`` — batching and
  unordered parallelism are the task model, not app code.
- S5 secondary indexes → partitioned layout + parquet min/max stats:
  `partitionBy(col)` gives O(1) partition pruning on the hot key,
  row-group stats serve the rest. No index maintenance cost at write
  time beyond the layout shuffle.
- S8 graph sink → vertices/edges as two parquet datasets (the MERGE
  dedup happens before the write, operators/graph.py).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.functions.scalar import cents
from cricket_analytics_nosql_spark.operators.spec import QuerySpec
from cricket_analytics_nosql_spark.sources.tables import load_table


def write_partitioned(df: DataFrame, path: str, key: str) -> None:
    """S5: hot-key access path as physical layout — one directory
    per key value; a reader filtering on `key` scans only its
    partition (PartitionFilters in the plan, zero data skipped-in)."""
    df.write.mode("overwrite").partitionBy(key).parquet(path)


def write_graph(vertices: DataFrame, edges: DataFrame, out_dir: str) -> None:
    """S8: the graph sink — two datasets, edges partition-pruned by
    nothing (append-only event log shape); MERGE-equivalent dedup is
    the caller's job (graph.player_vertices / faced_edges)."""
    vertices.write.mode("overwrite").parquet(os.path.join(out_dir, "vertices"))
    edges.write.mode("overwrite").parquet(os.path.join(out_dir, "edges"))


def partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S5 driver-checkable: append lineitem into a layout
    partitioned by l_returnflag, then answer a per-flag rollup from
    the partitioned copy — results must equal the oracle over the
    original table (lossless write path), while the read plan prunes
    to one directory per flag."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="sink_"), "lineitem_by_flag")
    write_partitioned(li, out, "l_returnflag")
    back = spark.read.parquet(out)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.round(F.col("l_quantity") * 100, 0).cast("long")).alias(
                "qty_c"
            ),
        )
        .select(
            "l_returnflag",
            "n_items",
            (F.col("qty_c").cast("double") / 100).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_PARTITIONED_SINK = """
SELECT l_returnflag, COUNT(*) AS n_items,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


FUNNEL_STAGES = [
    ("click", "engagement"),
    ("view", "engagement"),
    ("purchase", "conversion"),
    ("signup", "conversion"),
    ("error", "ops"),
]


def dpp_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 at its 100 TB best — Dynamic Partition Pruning: the event
    log is laid out one directory per ``event_type``; joining it to
    a stage dimension filtered to one stage makes Catalyst plant a
    ``dynamicpruning`` subquery on the fact SCAN, so the untouched
    partitions are never opened (plan test pins the
    PartitionFilters entry). The partition count is the number of
    event types at every scale factor, so the layout itself is
    scale-invariant; results equal the plain join over the live
    table (the oracle) — pruning is a physical effect only."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="dpp_"), "events_by_type")
    write_partitioned(ev, out, "event_type")
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        FUNNEL_STAGES, "event_type string, stage string"
    ).filter(F.col("stage") == "engagement")
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v_c"),
        )
        .select(
            "event_type",
            "n_events",
            (F.col("v_c").cast("double") / 100).alias("total_value"),
        )
        .orderBy("event_type")
    )


ORACLE_DPP_PARTITIONED_EVENTS = """
WITH dim(event_type, stage) AS (
  VALUES ('click', 'engagement'), ('view', 'engagement'),
         ('purchase', 'conversion'), ('signup', 'conversion'),
         ('error', 'ops')
)
SELECT e.event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS DOUBLE) / 100
           AS total_value
FROM events e JOIN dim d ON e.event_type = d.event_type
WHERE d.stage = 'engagement'
GROUP BY e.event_type
ORDER BY e.event_type
"""


def write_bucketed(
    df: DataFrame, table: str, n_buckets: int, key: str
) -> None:
    """S5's co-location form: hash-bucketed (and sorted) layout on
    the join key. Two tables bucketed the same way join with NO
    Exchange on either side — the shuffle is paid once at write time
    and amortized over every subsequent join, the classic 100 TB
    trade for fact-to-fact joins too big to broadcast. (Catalog
    table required: bucketing metadata lives in the metastore, so
    this is a library/test surface, not a driver query — the
    driver's environment owns no warehouse.)"""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def graph_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 driver-checkable: project the trade graph, write the
    vertex/edge datasets (the Neo4j-MERGE-batches replacement), and
    answer the degree query from the *written* copy — equal to the
    oracle over the live tables proves the sink is lossless."""
    from cricket_analytics_nosql_spark.operators.graph import trade_edges

    edges = trade_edges(spark, sf_dir)
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    out = os.path.join(tempfile.mkdtemp(prefix="graph_sink_"), "g")
    write_graph(vertices, edges, out)
    back = spark.read.parquet(os.path.join(out, "edges"))
    return (
        back.groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("out_degree"),
            F.sum("weight").alias("total_weight"),
        )
        .orderBy(F.desc("out_degree"), F.desc("total_weight"), F.asc("src"))
        .limit(25)
    )


ORACLE_GRAPH_SINK = """
WITH edges AS (
  SELECT o_custkey AS src, l_suppkey AS dst, COUNT(*) AS weight
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey
)
SELECT src, COUNT(*) AS out_degree, CAST(SUM(weight) AS BIGINT) AS total_weight
FROM edges
GROUP BY src
ORDER BY out_degree DESC, total_weight DESC, src ASC
LIMIT 25
"""


def compact_small_files(
    spark: SparkSession, path: str, target_files: int
) -> int:
    """The 100 TB housekeeping operator: a dataset accreted by many
    small appends (streaming micro-batches, per-task writes) pays
    per-file open/footer costs on every subsequent scan — scan
    throughput collapses long before data size is the problem.
    Rewrite it as ``target_files`` files via coalesce (NARROW: no
    shuffle, tasks just concatenate input splits; use a
    repartition-based rewrite instead only when the data must also
    be re-clustered — see ``layout.zorder_write``).

    Write-then-swap keeps readers consistent: the compacted copy
    lands in a sibling temp dir, then atomically replaces the
    original (on object stores this is the manifest-commit a table
    format provides; plain-directory rename is the filesystem
    equivalent). Returns the file count before compaction.

    Streaming-sink targets: a Structured Streaming parquet sink
    keeps a ``_spark_metadata`` commit log that enumerates ITS
    files; the compacted copy deliberately does not carry it (batch
    readers then list the directory normally). Do not resume the
    original streaming query into the compacted path — point new
    appends at a fresh checkpoint/log, or compact under a table
    format that owns the manifest."""
    import shutil

    df = spark.read.parquet(path)
    n_before = len(df.inputFiles())
    tmp = path.rstrip("/") + ".__compact_tmp"
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".__compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_before


def write_partition_overwrite(
    df: DataFrame, path: str, partition_col: str
) -> None:
    """Backfill write: replace ONLY the partitions present in ``df``
    and leave every other partition untouched (dynamic partition
    overwrite). THE idempotent reprocessing primitive at 100 TB — a
    failed day's pipeline reruns against just that day's partition;
    a static overwrite would wipe the whole dataset, an append would
    double-count. The mode is a per-write option; the session conf
    is never touched."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def read_new_partitions(
    spark: SparkSession, path: str, partition_col: str, processed: set[str]
) -> tuple[DataFrame, set[str]]:
    """Incremental batch consumption of a partitioned dataset:
    return (frame of unprocessed partitions, their values). The
    caller persists the processed set (a tiny manifest — the batch
    twin of a streaming checkpoint) and gets exactly-once batch
    semantics over an append-only partition layout without running a
    stream. Listing is directory-level metadata; the returned frame
    carries partition filters, so the scan reads only the new
    partitions' files (PartitionFilters, not post-scan filtering).

    Directory names are Hive-URL-escaped on disk (``:`` → ``%3A``);
    they are unescaped here so both the returned manifest values and
    the ``isin`` filter speak COLUMN values — comparing raw names
    would silently drop (and permanently mark consumed) any
    partition whose value contains an escaped character. NULL
    partition values (``__HIVE_DEFAULT_PARTITION__``) are refused
    loudly: a null-keyed incremental feed is a modeling bug."""
    from urllib.parse import unquote

    prefix = f"{partition_col}="
    raw = {
        d[len(prefix):]
        for d in os.listdir(path)
        if d.startswith(prefix)
    }
    if "__HIVE_DEFAULT_PARTITION__" in raw:
        raise ValueError(
            f"read_new_partitions: NULL {partition_col} partition present"
        )
    on_disk = {unquote(d) for d in raw}
    fresh = sorted(on_disk - set(processed))
    df = spark.read.parquet(path).filter(
        F.col(partition_col).isin(fresh)
        if fresh
        else F.lit(False)
    )
    return df, set(fresh)


def read_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: batches written over months drift
    (columns added, never silently re-typed — the loaders' rule).
    ``mergeSchema`` unions the footer schemas across all files;
    files missing a column yield NULLs for it, so old batches stay
    readable after the schema grows. Cost note: schema merging
    lists every footer at planning time — at 100 TB pin the merged
    schema in a catalog/table format and read with an explicit
    schema instead; this helper is the bootstrap for deriving it."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange path (the format every external partner still
    ships): write the orders flow to CSV with an explicit ISO
    timestamp format, read it back with an EXPLICIT schema (CSV
    inference at 100 TB is both a correctness and a
    double-scan-latency bug), and answer a rollup from the copy —
    equality with the oracle over the original table proves the
    text round-trip is lossless for every carried type (bigint,
    string, double-as-cents, timestamp)."""
    out = os.path.join(tempfile.mkdtemp(prefix="csv_"), "orders_csv")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    (
        orders.write.mode("overwrite")
        .option("header", "true")
        .option("timestampNTZFormat", fmt)
        .csv(out)
    )
    back = (
        spark.read.option("header", "true")
        .option("timestampNTZFormat", fmt)
        .schema(
            "o_orderkey bigint, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp_ntz"
        )
        .csv(out)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("price_c"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias(
                "first_day"
            ),
        )
        .orderBy("o_orderstatus")
    )


ORACLE_CSV_ROUNDTRIP = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_c,
       strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_day
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange path (the other columnar format big Hadoop
    estates still standardize on): write the lineitem flow to ORC
    CARRYING A NESTED STRUCT column — the fidelity CSV cannot
    express — read it back (ORC embeds its schema; no inference
    pass), and answer a rollup from the copy.  Equality with the
    oracle over the original parquet proves the columnar round-trip
    is lossless for bigint, string, nested struct, and
    double-as-cents.  The write is a narrow pass (no shuffle);
    the readback aggregate prunes to the rollup columns, including
    subfield pruning into the struct."""
    out = os.path.join(tempfile.mkdtemp(prefix="orc_"), "lineitem_orc")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        F.struct("l_quantity", "l_extendedprice", "l_discount").alias(
            "pricing"
        ),
    )
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(cents(F.col("pricing.l_quantity"))).alias("qty_c"),
            F.sum(
                cents(
                    F.col("pricing.l_extendedprice")
                    * (1 - F.col("pricing.l_discount"))
                )
            ).alias("revenue_c"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_ORC_ROUNDTRIP = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Schema evolution roundtrip — mergeSchema across batch generations
# ---------------------------------------------------------------------------

def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read path: batch 1 writes (key, price),
    batch 2 — a later producer generation — adds an o_orderstatus
    column; reading the directory with ``mergeSchema=true`` must
    union the schemas, null-fill the old batch, and lose no rows —
    the evolution contract every long-lived 100 TB dataset depends
    on (producers upgrade; history doesn't get rewritten). The
    audit: per presence-of-status group, row count and exact cent
    mass, equal to recomputing the same split from the source table.

    Schema merging is a FOOTER-ONLY operation (no data rewrite),
    which is why this is cheap at any scale; the explicit
    ``mergeSchema`` option is the load-bearing line — without it
    Spark serves the first footer it samples."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        cents(F.col("o_totalprice")).alias("price_c"),
        "o_orderstatus",
    )
    out = os.path.join(tempfile.mkdtemp(prefix="evolve_"), "orders_evolving")
    old_gen = orders.filter(F.pmod("o_orderkey", F.lit(2)) == 0).drop(
        "o_orderstatus"
    )
    new_gen = orders.filter(F.pmod("o_orderkey", F.lit(2)) == 1)
    old_gen.write.mode("overwrite").parquet(os.path.join(out, "batch=1"))
    new_gen.write.mode("append").parquet(os.path.join(out, "batch=2"))
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return (
        back.groupBy(
            F.coalesce(F.col("o_orderstatus"), F.lit("<pre-evolution>"))
            .alias("status")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_c").alias("price_cents"),
        )
        .orderBy("status")
    )


ORACLE_SCHEMA_EVOLUTION = """
WITH staged AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
              ELSE '<pre-evolution>' END AS status
  FROM orders
)
SELECT status, COUNT(*) AS n_orders,
       CAST(SUM(price_c) AS BIGINT) AS price_cents
FROM staged
GROUP BY status
ORDER BY status
"""


QUERIES: dict[str, QuerySpec] = {
    "schema_evolution_roundtrip": QuerySpec(
        schema_evolution_roundtrip,
        ORACLE_SCHEMA_EVOLUTION,
        ["S4", "S6", "P2", "X-layout"],
    ),
    "csv_roundtrip": QuerySpec(
        csv_roundtrip, ORACLE_CSV_ROUNDTRIP, ["S1", "S4", "A1"]
    ),
    "partitioned_sink_roundtrip": QuerySpec(
        partitioned_sink_roundtrip, ORACLE_PARTITIONED_SINK, ["S4", "S5", "A1"]
    ),
    "graph_sink_roundtrip": QuerySpec(
        graph_sink_roundtrip, ORACLE_GRAPH_SINK, ["S8", "G1", "G3"]
    ),
    "dpp_partitioned_events": QuerySpec(
        dpp_partitioned_events, ORACLE_DPP_PARTITIONED_EVENTS, ["S5", "J1"]
    ),
    "orc_roundtrip": QuerySpec(
        orc_roundtrip, ORACLE_ORC_ROUNDTRIP, ["S1", "S4", "A1"]
    ),
}
