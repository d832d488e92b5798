"""Join operator family — SURVEY.md §2.5 (J1-J6) plus the engine
extensions the reference lacks (semi/anti, as-of, range joins).

Plan-shape notes (100 TB posture):
- dim tables (region/nation/customer/part/supplier) are broadcast —
  no shuffle of the fact side;
- the self-join (J3) pre-aggregates to distinct endpoint pairs before
  joining and orders pairs with ``<`` to halve the symmetric blowup;
- the as-of join shuffles both sides once on the equi-key, then
  resolves the inequality with a window — no cartesian explosion
  beyond the per-key pair set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.functions.scalar import cents, dollars, epoch_day
from cricket_analytics_nosql_spark.operators.spec import QuerySpec
from cricket_analytics_nosql_spark.session import local_frame
from cricket_analytics_nosql_spark.sources.tables import load_table


def broadcast_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: equi-join enrichment through two broadcast dims — the
    edge↔vertex lookup shape (cypher_queries.cypher:5-8) on the star
    schema: customer → nation → region, aggregated per region."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents("c_acctbal")).alias("bal_c"),
            F.countDistinct("n_name").alias("n_nations"),
        )
        .select(
            "r_name",
            "n_customers",
            dollars("bal_c").alias("total_balance"),
            "n_nations",
        )
        .orderBy("r_name")
    )


ORACLE_BROADCAST_JOIN_ENRICH = """
SELECT r_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_balance,
       COUNT(DISTINCT n_name) AS n_nations
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def anchored_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: one-sided anchored join — anchor one entity, group the
    other side (cypher_queries.cypher:11-16: one batter vs all
    bowlers). Here: customer #1's order lines per supplier."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") == 1)
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_supp = (
        li.join(orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(cents("l_quantity")).alias("qty_c"),
        )
    )
    return (
        per_supp.join(F.broadcast(supp), per_supp.l_suppkey == supp.s_suppkey)
        .select("s_name", "n_items", dollars("qty_c").alias("total_qty"))
        .orderBy("s_name")
    )


ORACLE_ANCHORED_GROUP = """
SELECT s_name, COUNT(*) AS n_items,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey AND o_custkey = 1
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name ORDER BY s_name
"""


def self_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+A8+P16+T4: self-join with theta residual — the 2-hop
    partnership pattern (a)-[:FACED]->(bow)<-[:FACED]-(b), a<>b
    (cypher_queries.cypher:19-25): supplier pairs co-supplying the
    same part. Pre-aggregate to distinct (part, supplier) before the
    join; ``<`` halves the symmetric pairs.

    One shuffle total: repartitioning on l_partkey alone (a subset of
    the distinct keys) satisfies the distinct's clustered-distribution
    requirement AND the join's, and the two join sides are the same
    subplan so ReuseExchange computes it once — vs three exchanges
    for the naive distinct-then-join (measured 2× faster; the same
    co-partitioning argument is what makes this survive at 100 TB
    where neither side is broadcastable)."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        li.select("l_partkey", "l_suppkey")
        .repartition("l_partkey")
        .distinct()
    )
    a, b = ps.alias("a"), ps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("supp_a"),
            F.col("b.l_suppkey").alias("supp_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_parts"))
        .filter(F.col("shared_parts") >= 3)
        .orderBy(F.desc("shared_parts"), "supp_a", "supp_b")
        .limit(20)
    )


ORACLE_SELF_JOIN_THETA = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
       COUNT(*) AS shared_parts
FROM ps a JOIN ps b
  ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
GROUP BY 1, 2
HAVING COUNT(*) >= 3
ORDER BY shared_parts DESC, supp_a, supp_b
LIMIT 20
"""


def explode_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+J4: UNWIND-then-join — 'UNWIND row.teams AS t; MERGE
    (t)-[:PLAYED]->(m)' (neo4j_loader.py:44-46): explode part-name
    words, join to lineitem, demand per word."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    words = part.select(
        "p_partkey", F.explode(F.split("p_name", " ")).alias("word")
    )
    return (
        # no broadcast hint: words is ~5x part rows and scales with
        # SF — the planner picks broadcast from size stats at small
        # SF, shuffle at 100 TB
        li.join(words, li.l_partkey == words.p_partkey)
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("p_partkey").alias("n_parts"),
        )
        .orderBy("word")
    )


ORACLE_EXPLODE_JOIN = """
WITH words AS (
  SELECT p_partkey, UNNEST(string_split(p_name, ' ')) AS word FROM part
)
SELECT word, COUNT(*) AS n_items, COUNT(DISTINCT p_partkey) AS n_parts
FROM lineitem JOIN words ON l_partkey = p_partkey
GROUP BY word ORDER BY word
"""


def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS) — SURVEY §2.5 engine extension; the 'update
    existing' half of MERGE (neo4j_loader.py:37-42)."""
    cust = load_table(spark, sf_dir, "customer")
    big_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 200000
    )
    return cust.join(
        big_orders, cust.c_custkey == big_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


ORACLE_SEMI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
"""


def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti (NOT EXISTS) — the 'insert new' half of MERGE
    (neo4j_loader.py:37, J6): customers with no P-status orders."""
    cust = load_table(spark, sf_dir, "customer")
    pending = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "P"
    )
    return cust.join(
        pending, cust.c_custkey == pending.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


ORACLE_ANTI_JOIN = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
"""


def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+S3+A10: MERGE/upsert as a full-outer join — replace_one(...,
    upsert=True) (etl_cricsheet_to_mongo.py:136) and Cypher MERGE ...
    ON MATCH SET coalesce(...) (neo4j_loader.py:37-42). 'Existing' =
    customer balances; 'incoming' = open-order spend per customer;
    matched rows take the incoming value, unmatched keep/insert."""
    old = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), cents("c_acctbal").alias("old_c")
    )
    new = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.sum(cents("o_totalprice")).alias("new_c"))
    )
    merged = old.join(new, "key", "full_outer")
    return merged.select(
        "key",
        dollars(F.coalesce("new_c", "old_c")).alias("balance"),
        F.when(F.col("new_c").isNotNull() & F.col("old_c").isNotNull(), "updated")
        .when(F.col("new_c").isNotNull(), "inserted")
        .otherwise("kept")
        .alias("merge_action"),
    ).orderBy("key")


ORACLE_UPSERT_MERGE = """
WITH old AS (
  SELECT c_custkey AS key, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS old_c
  FROM customer
), new AS (
  SELECT o_custkey AS key,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS new_c
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
)
SELECT COALESCE(old.key, new.key) AS key,
       CAST(COALESCE(new_c, old_c) AS DOUBLE) / 100 AS balance,
       CASE WHEN new_c IS NOT NULL AND old_c IS NOT NULL THEN 'updated'
            WHEN new_c IS NOT NULL THEN 'inserted'
            ELSE 'kept' END AS merge_action
FROM old FULL OUTER JOIN new ON old.key = new.key
ORDER BY key
"""


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY §2.5 'not present — engine exposes'): for
    each purchase event, the most recent click by the same user at or
    before it.

    Union-tag plan, degenerated to a single scan: clicks and
    purchases come from the same table, so instead of a range join
    (which pairs every purchase with ALL prior clicks of the same
    user — quadratic on hot users, and ``events.user_id`` is the
    documented skew column) we keep one row per event, tag purchases,
    and carry the most recent click forward with
    ``last(_, ignorenulls=True)`` over a running row frame.  Physical
    plan: one scan → ONE Exchange(hashpartitioning(user_id)) → sort
    by (ts, tag) → running window → filter.  No join node at all, so
    there is nothing to explode on a hot key; cost is O(events per
    user), not O(clicks x purchases per user).  Ties: a click at the
    purchase's exact ts counts (tag sorts clicks first), and among
    equal-ts clicks the max click_value wins (ascending sort + last).
    """
    ev = load_table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        is_purchase.cast("int").alias("tag"),
        # click rows carry (ts, value) atomically so last() can never
        # mix fields from two different click rows
        F.when(~is_purchase, F.struct("ts", "value")).alias("click"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("tag"), F.asc("value"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        tagged.withColumn("last_click", F.last("click", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("last_click.ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "last_click_ts"
            ),
            F.col("last_click.value").alias("click_value"),
        )
        .orderBy("event_id")
    )


ORACLE_ASOF_JOIN = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id AS c_user, ts AS click_ts, value AS click_value
  FROM events WHERE event_type = 'click'
), ranked AS (
  SELECT p.event_id, p.user_id, c.click_ts, c.click_value,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.click_ts DESC, c.click_value DESC) AS rn
  FROM purchases p LEFT JOIN clicks c
    ON p.user_id = c.c_user AND c.click_ts <= p.ts
)
SELECT event_id, user_id,
       strftime(click_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts,
       click_value
FROM ranked WHERE rn = 1 ORDER BY event_id
"""


def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (SURVEY §2.5 extension): fact values bucketed into a
    small literal band table via BETWEEN — broadcast nested-loop on a
    tiny side, which is the right physical plan for band tables."""
    ev = load_table(spark, sf_dir, "events")
    bands = local_frame(
        spark,
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e9)],
        "band string, lo double, hi double",
    )
    return (
        ev.join(
            F.broadcast(bands),
            (ev.value >= bands.lo) & (ev.value < bands.hi),
            "inner",
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("val_c"),
        )
        .select("band", "n_events", dollars("val_c").alias("total_value"))
        .orderBy("band")
    )


ORACLE_RANGE_JOIN = """
WITH bands(band, lo, hi) AS (
  VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0), ('high', 150.0, 1e9)
)
SELECT band, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band ORDER BY band
"""


def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` ≙ IS NOT DISTINCT FROM): a plain
    equi-join silently drops null keys in every engine; when null is
    a legitimate key value (here: low-k events with the type masked
    out), the null-safe operator keeps the group and matches it to
    the dim's null row. Broadcast dim, fact never shuffles."""
    ev = load_table(spark, sf_dir, "events")
    masked = F.when(
        F.get_json_object(F.col("props"), "$.k").cast("int") < 10,
        F.lit(None),
    ).otherwise(F.col("event_type"))
    left = ev.select(masked.alias("k"))
    dim = local_frame(
        spark,
        [("click", "C"), ("purchase", "P"), (None, "UNKNOWN")],
        "k string, label string",
    )
    joined = left.join(
        F.broadcast(dim), left["k"].eqNullSafe(dim["k"]), "left"
    )
    return (
        joined.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("label").asc_nulls_first())
    )


ORACLE_NULL_SAFE_JOIN = """
WITH left_t AS (
  SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) < 10
              THEN NULL ELSE event_type END AS k
  FROM events
), dim(k, label) AS (
  VALUES ('click', 'C'), ('purchase', 'P'), (NULL, 'UNKNOWN')
)
SELECT label, COUNT(*) AS n
FROM left_t LEFT JOIN dim ON left_t.k IS NOT DISTINCT FROM dim.k
GROUP BY label
ORDER BY label NULLS FIRST
"""


# --------------------------------------------------------------------------
# SCD2 point-in-time join

SCD2_VERSION_DATES = ["1995-01-01", "1996-07-01", "1998-01-01", "1999-07-01"]


def _supplier_price_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic slowly-changing dimension: every supplier reprices
    at four fixed dates; version price is a deterministic function of
    (supplier, version) so both engines derive identical history."""
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    versions = F.array(
        *[
            F.struct(
                F.lit(d).cast("timestamp_ntz").alias("valid_from"),
                (
                    F.col("s_suppkey") * 100 + F.lit(13 + 7 * i)
                ).alias("price_c"),
            )
            for i, d in enumerate(SCD2_VERSION_DATES)
        ]
    )
    return supp.select(
        "s_suppkey", F.explode(versions).alias("v")
    ).select("s_suppkey", "v.valid_from", "v.price_c")


def scd2_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (SCD2) join: each lineitem priced by the
    supplier tariff version in force at its ship date — the
    warehouse staple for joining facts to slowly-changing dims.

    Same single-shuffle union-tag plan as ``asof_join`` but CROSS
    table: version rows and fact rows union into one stream, one
    Exchange on the supplier key, sort by (ts, tag) with version
    rows first on ties (valid_from is inclusive), and
    ``last(version, ignorenulls=True)`` over the running frame
    carries each tariff forward onto every fact row it governs. No
    join node at all, so a hot supplier costs O(its rows), never
    O(versions × facts) — the interval-join formulation the oracle
    uses would build exactly that blowup shape at scale.

    Output: per version date, lines priced under it and the exact
    cent mass charged (price × quantity, integers)."""
    hist = _supplier_price_history(spark, sf_dir).select(
        F.col("s_suppkey").alias("k"),
        F.col("valid_from").alias("ts"),
        F.lit(0).alias("tag"),
        F.struct("valid_from", "price_c").alias("ver"),
        F.lit(None).cast("long").alias("qty_c"),
    )
    fact = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("k"),
        F.col("l_shipdate").alias("ts"),
        F.lit(1).alias("tag"),
        F.lit(None)
        .cast("struct<valid_from:timestamp_ntz,price_c:bigint>")
        .alias("ver"),
        F.round(F.col("l_quantity") * 100, 0).cast("long").alias("qty_c"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.asc("ts"), F.asc("tag"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    priced = (
        hist.unionByName(fact)
        .withColumn("cur", F.last("ver", ignorenulls=True).over(w))
        .filter((F.col("tag") == 1) & F.col("cur").isNotNull())
    )
    return (
        priced.groupBy(F.col("cur.valid_from").alias("valid_from"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.col("cur.price_c") * F.col("qty_c")
            ).alias("charged_c"),
        )
        .orderBy("valid_from")
    )


_SCD2_DIM_SQL = " UNION ALL ".join(
    f"SELECT s_suppkey, TIMESTAMP '{d}' AS valid_from,"
    f" s_suppkey * 100 + {13 + 7 * i} AS price_c FROM supplier"
    for i, d in enumerate(SCD2_VERSION_DATES)
)

ORACLE_SCD2_POINTINTIME = f"""
WITH dim AS (
  {_SCD2_DIM_SQL}
), versions AS (
  SELECT s_suppkey, valid_from, price_c,
         LEAD(valid_from) OVER (PARTITION BY s_suppkey
                                ORDER BY valid_from) AS valid_to
  FROM dim
)
SELECT v.valid_from,
       COUNT(*) AS n_lines,
       CAST(SUM(v.price_c * CAST(ROUND(l.l_quantity * 100) AS BIGINT))
            AS BIGINT) AS charged_c
FROM lineitem l
JOIN versions v
  ON l.l_suppkey = v.s_suppkey
 AND l.l_shipdate >= v.valid_from
 AND (v.valid_to IS NULL OR l.l_shipdate < v.valid_to)
GROUP BY v.valid_from
ORDER BY v.valid_from
"""


# --------------------------------------------------------------------------
# interval-overlap join (bucket blocking)

OVERLAP_BUCKET_DAYS = 64


def interval_overlap_join(
    a: DataFrame, b: DataFrame, bucket_days: int = OVERLAP_BUCKET_DAYS
) -> DataFrame:
    """All pairs (a, b) whose day-interval ranges overlap —
    interval × interval, the join range joins can't do (both sides
    carry a span, not a point).

    The inequality predicate ``a.start ≤ b.end AND b.start ≤ a.end``
    would force a nested-loop/cartesian plan; instead each interval
    EXPLODES into the fixed-width day-buckets it covers and the join
    becomes an EQUI-join on bucket id, deduped and exactly
    re-verified. Candidate volume is Σ(len/bucket + 1) per side per
    overlapping bucket — pick the bucket near the median interval
    length so most intervals hit 1-2 buckets. This is the
    genomics/observability overlap-join standard (bin-and-verify),
    and at 100 TB it shuffles on a uniformly-distributed bucket key
    instead of exploding on hot ranges.

    Inputs need columns (id, d0, d1) with integer day bounds,
    d0 ≤ d1. Output: (a_id, b_id) distinct overlapping pairs."""
    def bucketed(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col("id").alias(f"{side}_id"),
            F.col("d0").alias(f"{side}_d0"),
            F.col("d1").alias(f"{side}_d1"),
            F.explode(
                F.sequence(
                    F.expr(f"d0 div {bucket_days}"),
                    F.expr(f"d1 div {bucket_days}"),
                )
            ).alias("bucket"),
        )

    aa = bucketed(a, "a")
    bb = bucketed(b, "b")
    return (
        aa.join(bb, "bucket")
        .filter(
            (F.col("a_d0") <= F.col("b_d1"))
            & (F.col("b_d0") <= F.col("a_d1"))
        )
        .select("a_id", "b_id")
        .distinct()
    )


def overlap_join_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: customer activity spans (first..last order day)
    × synthetic supplier contract windows — per supplier, how many
    customers were active at any point of its contract. Both
    interval sets derive deterministically from the data; overlap
    resolved by the bucket-blocked plan, audited as per-supplier
    counts + a pair checksum."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        epoch_day("o_orderdate").alias("day"),
    )
    activity = orders.groupBy(F.col("o_custkey").alias("id")).agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        (
            F.lit(9131)  # 1995-01-01 in epoch days
            + F.pmod(F.col("s_suppkey") * 37, F.lit(1500))
        ).alias("d0"),
    ).withColumn("d1", F.col("d0") + 200)
    pairs = interval_overlap_join(activity, supp)
    return (
        pairs.groupBy(F.col("b_id").alias("s_suppkey"))
        .agg(
            F.count(F.lit(1)).alias("n_active_customers"),
            F.sum("a_id").alias("cust_checksum"),
        )
        .orderBy("s_suppkey")
    )


ORACLE_OVERLAP_JOIN = """
WITH activity AS (
  SELECT o_custkey AS id,
         MIN(CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
                  AS BIGINT)) AS d0,
         MAX(CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
                  AS BIGINT)) AS d1
  FROM orders GROUP BY o_custkey
), contracts AS (
  SELECT s_suppkey AS id,
         9131 + (s_suppkey * 37) % 1500 AS d0,
         9131 + (s_suppkey * 37) % 1500 + 200 AS d1
  FROM supplier
)
SELECT c.id AS s_suppkey,
       COUNT(*) AS n_active_customers,
       CAST(SUM(a.id) AS BIGINT) AS cust_checksum
FROM activity a JOIN contracts c
  ON a.d0 <= c.d1 AND c.d0 <= a.d1
GROUP BY c.id
ORDER BY s_suppkey
"""


def lateral_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (SQL-surface completion): per
    nation, the top-2 customers by account balance, written as the
    ANSI ``JOIN LATERAL (... ORDER BY ... LIMIT 2)`` form rather
    than the window-function form (``window_topk_per_group`` covers
    that twin).  Exercises Catalyst's DecorrelateInnerQuery /
    RewriteCorrelatedScalarSubquery path: the planner rewrites the
    per-row subquery into a set-based join + per-group limit, so
    execution is one pass over customer, never nation-times-customer
    re-executions — the property that makes the LATERAL dialect
    usable at 100 TB.  DuckDB runs the identical statement as the
    oracle."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "lat_nation"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "lat_customer"
    )
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM lat_nation n JOIN LATERAL (
          SELECT c_custkey, c_acctbal FROM lat_customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) c
        ORDER BY n.n_name, c.c_acctbal DESC, c.c_custkey
        """
    )


ORACLE_LATERAL_TOPK = """
SELECT n.n_name, c.c_custkey, c.c_acctbal
FROM nation n JOIN LATERAL (
  SELECT c_custkey, c_acctbal FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2
) c ON TRUE
ORDER BY n.n_name, c.c_acctbal DESC, c.c_custkey
"""


def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (pandas ``merge_asof``
    tolerance parity): like ``asof_join``, each purchase matches its
    most recent preceding click by the same user — but a click more
    than 1 hour stale does NOT count.  Same single-shuffle union-tag
    plan (one Exchange(user_id), running ``last(_, ignorenulls)``
    window, no join node, no per-hot-user pair blowup); the
    tolerance is a post-window null-out, so adding the bound costs
    nothing over the unbounded form."""
    tol_us = 3_600_000_000  # 1 hour in microseconds
    ev = load_table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        is_purchase.cast("int").alias("tag"),
        F.when(~is_purchase, F.struct("ts", "value")).alias("click"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("tag"), F.asc("value"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fresh = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("last_click.ts").cast("timestamp"))
    ) <= tol_us
    return (
        tagged.withColumn(
            "last_click", F.last("click", ignorenulls=True).over(w)
        )
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            F.when(
                fresh,
                F.date_format(
                    "last_click.ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"
                ),
            ).alias("last_click_ts"),
            F.when(fresh, F.col("last_click.value")).alias("click_value"),
            F.coalesce(fresh, F.lit(False)).alias("within_tolerance"),
        )
        .orderBy("event_id")
    )


ORACLE_ASOF_TOLERANCE = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id AS c_user, ts AS click_ts, value AS click_value
  FROM events WHERE event_type = 'click'
), ranked AS (
  SELECT p.event_id, p.user_id, p.ts, c.click_ts, c.click_value,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.click_ts DESC, c.click_value DESC) AS rn
  FROM purchases p LEFT JOIN clicks c
    ON p.user_id = c.c_user AND c.click_ts <= p.ts
), bounded AS (
  SELECT event_id, user_id,
         epoch_us(ts) - epoch_us(click_ts) <= 3600000000 AS fresh,
         click_ts, click_value
  FROM ranked WHERE rn = 1
)
SELECT event_id, user_id,
       CASE WHEN fresh THEN strftime(click_ts, '%Y-%m-%d %H:%M:%S.%f')
            END AS last_click_ts,
       CASE WHEN fresh THEN click_value END AS click_value,
       COALESCE(fresh, FALSE) AS within_tolerance
FROM bounded ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# Point-in-time feature assembly (feature-store training-set build)
# ---------------------------------------------------------------------------

def pit_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store correctness primitive: assemble a per-order
    training row whose features see STRICTLY-PRIOR-DAY history only
    (prior order count, prior revenue cents — a RANGE frame over the
    integer day key ending at 1 PRECEDING, under one customer-keyed
    exchange): nothing from the label's own day can contaminate the
    features, because at feature-serving time the day is not closed
    yet.  The LEAKY twin is what a naive sorted-scan assembly
    produces — a ROWS frame over (date, orderkey) that silently
    includes SAME-DAY sibling orders that happen to sort earlier —
    and the audit counts where the two disagree: exactly the rows
    with a same-day sibling, i.e. the train-serve skew a
    point-in-time join exists to prevent, measured (non-zero and
    data-dependent at every SF).  Summary grain: per order-year."""
    from cricket_analytics_nosql_spark.functions.scalar import epoch_day

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        epoch_day("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_c"),
    )
    w_prior = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_leaky = (
        Window.partitionBy("o_custkey")
        .orderBy("day", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    feat = orders.select(
        F.year("o_orderdate").alias("yr"),
        F.coalesce(F.count(F.lit(1)).over(w_prior), F.lit(0)).alias("n_prior"),
        F.coalesce(F.sum("price_c").over(w_prior), F.lit(0)).alias("rev_prior"),
        F.coalesce(F.count(F.lit(1)).over(w_leaky), F.lit(0)).alias("n_leaky"),
        F.coalesce(F.sum("price_c").over(w_leaky), F.lit(0)).alias("rev_leaky"),
    )
    return (
        feat.groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (
                    (F.col("n_prior") != F.col("n_leaky"))
                    | (F.col("rev_prior") != F.col("rev_leaky"))
                ).cast("long")
            ).alias("n_leak_disagree"),
            F.sum("n_prior").alias("sum_prior_orders"),
            F.sum("rev_prior").alias("sum_prior_rev_c"),
        )
        .orderBy("yr")
    )


ORACLE_PIT_FEATURES = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         epoch_us(o_orderdate) // 86400000000 AS day,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS price_c
  FROM orders
), feat AS (
  SELECT EXTRACT(year FROM o_orderdate) AS yr,
         COALESCE(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day
                                 RANGE BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS n_prior,
         COALESCE(SUM(price_c) OVER (PARTITION BY o_custkey ORDER BY day
                                     RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS rev_prior,
         COALESCE(COUNT(*) OVER (PARTITION BY o_custkey
                                 ORDER BY day, o_orderkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS n_leaky,
         COALESCE(SUM(price_c) OVER (PARTITION BY o_custkey
                                     ORDER BY day, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS rev_leaky
  FROM o
)
SELECT CAST(yr AS INT) AS yr,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN n_prior != n_leaky OR rev_prior != rev_leaky
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_leak_disagree,
       CAST(SUM(n_prior) AS BIGINT) AS sum_prior_orders,
       CAST(SUM(rev_prior) AS BIGINT) AS sum_prior_rev_c
FROM feat
GROUP BY yr
ORDER BY yr
"""


QUERIES: dict[str, QuerySpec] = {
    "pit_feature_assembly": QuerySpec(
        pit_feature_assembly,
        ORACLE_PIT_FEATURES,
        ["J2", "§2.8", "X-training", "X-versioning"],
    ),
    "overlap_join_contracts": QuerySpec(
        overlap_join_contracts, ORACLE_OVERLAP_JOIN, ["J3", "P16", "X-ts"]
    ),
    "scd2_pointintime_join": QuerySpec(
        scd2_pointintime_join, ORACLE_SCD2_POINTINTIME, ["X-ts", "J1", "§2.8"]
    ),
    "null_safe_join": QuerySpec(
        null_safe_join, ORACLE_NULL_SAFE_JOIN, ["J1", "P12"]
    ),
    "broadcast_join_enrich": QuerySpec(
        broadcast_join_enrich, ORACLE_BROADCAST_JOIN_ENRICH, ["J1"], bench=True
    ),
    "anchored_group": QuerySpec(anchored_group, ORACLE_ANCHORED_GROUP, ["J2", "P17"]),
    "self_join_theta": QuerySpec(
        self_join_theta, ORACLE_SELF_JOIN_THETA, ["J3", "A8", "P16", "T4"], bench=True
    ),
    "explode_join": QuerySpec(explode_join, ORACLE_EXPLODE_JOIN, ["F2", "J4"]),
    "semi_join": QuerySpec(semi_join, ORACLE_SEMI_JOIN, ["J6"]),
    "anti_join": QuerySpec(anti_join, ORACLE_ANTI_JOIN, ["J6"]),
    "upsert_merge": QuerySpec(
        upsert_merge, ORACLE_UPSERT_MERGE, ["J6", "S3", "A10"]
    ),
    "asof_join": QuerySpec(asof_join, ORACLE_ASOF_JOIN, ["X-ts"], bench=True),
    "range_join": QuerySpec(range_join, ORACLE_RANGE_JOIN, []),
    "lateral_topk_customers": QuerySpec(
        lateral_topk_customers, ORACLE_LATERAL_TOPK, ["J2", "T1"]
    ),
    "asof_join_tolerance": QuerySpec(
        asof_join_tolerance, ORACLE_ASOF_TOLERANCE, ["X-ts", "§2.8"]
    ),
}
