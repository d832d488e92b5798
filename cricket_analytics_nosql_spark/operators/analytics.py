"""Deep multi-join analytics — the star-schema query shapes a user
of the reference would grow into once the data lives in one engine.

The reference's joins are two-table patterns (SURVEY.md §2.5); these
queries compose them into the classic warehouse forms (TPC-H Q5/Q8
lineage) that exercise what actually matters at 100 TB: join ORDER
(dims reduce the fact stream as early as possible), join STRATEGY
(broadcast the small side, shuffle only fact-sized data once), and
exact money arithmetic through multi-way joins (functions/scalar.py
cents discipline).

Plan notes (validated via .explain):
- region/nation are O(10²) rows at any scale factor — always
  broadcast; Catalyst folds the two dim joins into the fact scan's
  stage, so the only exchanges left are the agg shuffles.
- customer/supplier are broadcast at bench scale by AQE's dynamic
  sizing; at 100 TB they become shuffle joins on the fact's key —
  the query text is identical, which is the point of declaring the
  plan instead of scheduling it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.functions.scalar import cents, dollars, epoch_day, flag, revenue_cents
from cricket_analytics_nosql_spark.operators.spec import QuerySpec
from cricket_analytics_nosql_spark.session import local_frame
from cricket_analytics_nosql_spark.sources.tables import load_table


def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (fact × 5 dims) — revenue per
    nation for one region and order-date window, where customer and
    supplier must sit in the SAME nation (the join graph has a
    cycle, so join order genuinely matters)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    window = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey", "n_name")

    joined = (
        li.join(window, li.l_orderkey == window.o_orderkey)
        .join(cust, window.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(asia_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum(revenue_cents()).alias("rev_c"))
        .select("n_name", dollars("rev_c").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


ORACLE_REGIONAL_REVENUE = """
SELECT n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS DOUBLE) / 100 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the generalization of rollup/cube
    (which the engine already exposes) to arbitrary set lists; this
    one is deliberately NOT a rollup ((flag,status), (status), ())
    so the Expand shape differs from both."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "gs_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n_items,
               SUM(CAST(ROUND(l_quantity * 100, 0) AS LONG)) AS qty_c
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_linestatus), ())
        ORDER BY g_flag, g_status, l_returnflag, l_linestatus
        """
    )


ORACLE_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
"""


def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery + correlated EXISTS — Catalyst
    decorrelates both into joins (RewriteCorrelatedScalarSubquery),
    so the declarative form costs one aggregated self-join, not a
    per-row re-scan: orders 1.5× above their customer's average with
    at least one returned line item."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("cs_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "cs_lineitem"
    )
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM cs_orders o
        WHERE o.o_totalprice > (
            SELECT 1.5 * AVG(o2.o_totalprice)
            FROM cs_orders o2
            WHERE o2.o_custkey = o.o_custkey
        )
        AND EXISTS (
            SELECT 1 FROM cs_lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
        )
        ORDER BY o.o_orderkey
        """
    )


ORACLE_CORRELATED_SUBQUERY = """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o
WHERE o.o_totalprice > (
    SELECT 1.5 * AVG(o2.o_totalprice)
    FROM orders o2
    WHERE o2.o_custkey = o.o_custkey
)
AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
ORDER BY o.o_orderkey
"""


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): of all 'PROMO'-part
    revenue sold into ASIA-nation customers per order year, the
    share supplied by NATION_7-based suppliers. The deepest join in the
    catalog — lineitem × part × orders × customer × nation ×
    region × supplier × nation — with the classic Q8 twist that
    nation joins twice under different roles (customer's market vs
    supplier's origin).

    Plan: part ('PROMO' filter first — it prunes ~5/6 of the fact
    stream at the scan-side join), nation, region broadcast; orders
    carries the year; customer/supplier resolve under AQE's dynamic
    sizing locally and become key-partitioned shuffle joins at
    100 TB with the query text unchanged. Share is reported as exact
    integer pairs (nation cents / total cents) plus a micro-units
    ratio via integer division — no float aggregation anywhere."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", revenue_cents().alias("rev_c")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey,
    ).select(F.col("n_nationkey").alias("mkt_nationkey"))
    china = nation.filter(F.col("n_name") == "NATION_7").select(
        F.col("n_nationkey").alias("cn_nationkey")
    )

    flow = (
        # no broadcast hint on part (scales with SF even after the
        # PROMO filter) — AQE decides from runtime size
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(asia_nations),
            cust.c_nationkey == F.col("mkt_nationkey"),
            "left_semi",
        )
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(china),
            supp.s_nationkey == F.col("cn_nationkey"),
            "left",
        )
    )
    return (
        flow.groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("cn_nationkey").isNotNull(), F.col("rev_c"))
                .otherwise(F.lit(0))
            ).alias("nation_rev_c"),
            F.sum("rev_c").alias("total_rev_c"),
        )
        .select(
            "o_year",
            "nation_rev_c",
            "total_rev_c",
            F.expr("(nation_rev_c * 1000000) div total_rev_c").alias(
                "share_micro"
            ),
        )
        .orderBy("o_year")
    )


ORACLE_MARKET_SHARE = """
WITH asia AS (
  SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), china AS (
  SELECT n_nationkey FROM nation WHERE n_name = 'NATION_7'
), flow AS (
  SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
         CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
              AS BIGINT) AS rev_c,
         s.s_nationkey IN (SELECT n_nationkey FROM china) AS from_cn
  FROM lineitem l
  JOIN part p      ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
  JOIN orders o    ON l.l_orderkey = o.o_orderkey
  JOIN customer c  ON o.o_custkey = c.c_custkey
  JOIN supplier s  ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey IN (SELECT n_nationkey FROM asia)
)
SELECT CAST(o_year AS INT) AS o_year,
       CAST(SUM(CASE WHEN from_cn THEN rev_c ELSE 0 END) AS BIGINT)
           AS nation_rev_c,
       CAST(SUM(rev_c) AS BIGINT) AS total_rev_c,
       CAST((SUM(CASE WHEN from_cn THEN rev_c ELSE 0 END) * 1000000)
            // SUM(rev_c) AS BIGINT) AS share_micro
FROM flow
GROUP BY o_year
ORDER BY o_year
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-funnel analysis over the events stream: of the
    users who VIEWed, how many later CLICKed, and of those how many
    later PURCHASEd — each stage's timestamp must strictly follow the
    previous stage's first occurrence (the product-analytics funnel,
    not mere set intersection: a purchase *before* the first
    qualifying click does not convert).

    Stage times are sequentially dependent (first click AFTER the
    first view, first purchase AFTER that click), so they cannot be
    one flat aggregate — but they CAN all ride one partitioning:
    three chained window-min expressions over the same
    ``partitionBy(user_id)`` window. Physical plan: ONE Exchange of
    the events table on user_id, three Window operators with no
    intervening shuffle, then a user-level dedup (already
    partitioned — no exchange) and a single-row global agg. At
    100 TB this is exactly one fact shuffle, the floor for any
    per-user sequential semantics; the same shape Flink's CEP or a
    MATCH_RECOGNIZE engine would produce for a 3-step pattern.

    Output (single row, all integers): users entering each stage and
    the total view→purchase latency over converted users.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    t1 = F.min(
        F.when(F.col("event_type") == "view", F.col("ts_us"))
    ).over(w)
    staged = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts_us") > F.col("t1")),
            F.col("ts_us"),
        )
    ).over(w)
    staged = staged.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts_us") > F.col("t2")),
            F.col("ts_us"),
        )
    ).over(w)
    per_user = (
        staged.withColumn("t3", t3)
        .groupBy("user_id")
        .agg(
            F.min("t1").alias("t1"),
            F.min("t2").alias("t2"),
            F.min("t3").alias("t3"),
        )
    )
    return per_user.agg(
        F.count(F.col("t1")).alias("n_viewed"),
        F.count(F.col("t2")).alias("n_clicked"),
        F.count(F.col("t3")).alias("n_purchased"),
        F.sum(
            F.when(F.col("t3").isNotNull(), F.col("t3") - F.col("t1"))
        ).alias("view_to_purchase_us_total"),
    )


ORACLE_FUNNEL_CONVERSION = """
WITH s1 AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t1
  FROM events GROUP BY user_id
), s2 AS (
  SELECT e.user_id,
         MIN(CASE WHEN e.event_type = 'click'
                   AND epoch_us(e.ts) > s1.t1
                  THEN epoch_us(e.ts) END) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id,
         MIN(CASE WHEN e.event_type = 'purchase'
                   AND epoch_us(e.ts) > s2.t2
                  THEN epoch_us(e.ts) END) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  GROUP BY e.user_id
)
SELECT COUNT(s1.t1) AS n_viewed,
       COUNT(s2.t2) AS n_clicked,
       COUNT(s3.t3) AS n_purchased,
       CAST(SUM(CASE WHEN s3.t3 IS NOT NULL THEN s3.t3 - s1.t1 END)
            AS BIGINT) AS view_to_purchase_us_total
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — with the funnel, the other half of
    the product-analytics pair: users grouped by first-activity week
    (their cohort), then for each (cohort, week-offset) cell the
    count of cohort members still active that week.

    Plan: one exchange of the pruned (user, week) activity set to
    compute per-user cohorts (a window-min over user — reused by the
    dedup that follows on the same clustering), then one
    aggregate-sized shuffle for the matrix. The fact's timestamp
    column never leaves the scan stage un-truncated. All-integer
    output; weeks are epoch-day arithmetic, not engine week
    formatting (ISO-week edge rules differ across engines)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        # Monday-aligned week id in whole days since epoch: both
        # engines agree on date_trunc('week') = Monday, and the
        # integer day id sidesteps timestamp formatting entirely
        epoch_day("date_trunc('week', ts)").alias("week_day"),
    )
    from pyspark.sql import Window

    weeks = ev.distinct()
    w = Window.partitionBy("user_id")
    with_cohort = weeks.withColumn(
        "cohort_day", F.min("week_day").over(w)
    )
    return (
        with_cohort.select(
            "cohort_day",
            ((F.col("week_day") - F.col("cohort_day")) / 7)
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_day", "week_offset")
    )


ORACLE_COHORT_RETENTION = """
WITH weeks AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(CAST(date_trunc('week', ts) AS TIMESTAMP))
              // 86400000000 AS BIGINT) AS week_day
  FROM events
), cohorts AS (
  SELECT user_id, week_day,
         MIN(week_day) OVER (PARTITION BY user_id) AS cohort_day
  FROM weeks
)
SELECT cohort_day,
       (week_day - cohort_day) // 7 AS week_offset,
       COUNT(*) AS n_active_users
FROM cohorts
GROUP BY cohort_day, week_offset
ORDER BY cohort_day, week_offset
"""


def pareto_frontier(
    df: DataFrame,
    group: str,
    minimize: str,
    maximize: str,
) -> DataFrame:
    """Group-wise 2-D skyline: keep rows not dominated within their
    group (dominator has ``minimize`` <=, ``maximize`` >=, at least
    one strict; exact duplicates are mutually non-dominating and all
    survive).

    Plan, not pairwise: pre-aggregate to one row per (group, cost)
    (shrinks the window input to distinct cost levels), running-max
    the benefit over strictly-cheaper cost levels with a row window,
    then join the two thresholds back. Two shuffles on (group[, cost])
    vs the naive O(n²) self-join — at 100 TB the quadratic form is
    not runnable while this is a pair of cheap aggregations. The
    oracle is the literal NOT EXISTS dominance definition.
    """
    per_cost = df.groupBy(group, minimize).agg(
        F.max(maximize).alias("_best_here")
    )
    w = (
        Window.partitionBy(group)
        .orderBy(minimize)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    thresholds = per_cost.withColumn("_best_cheaper", F.max("_best_here").over(w))
    return (
        df.join(thresholds, [group, minimize])
        .filter(
            (F.col("_best_cheaper").isNull() | (F.col("_best_cheaper") < F.col(maximize)))
            & (F.col("_best_here") <= F.col(maximize))
        )
        .drop("_best_here", "_best_cheaper")
    )


def pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable skyline: per brand, the parts on the
    price-size frontier (cheapest for their size class upward)."""
    part = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    )
    return pareto_frontier(
        part, "p_brand", minimize="p_retailprice", maximize="p_size"
    ).orderBy("p_brand", "p_retailprice", "p_size", "p_partkey")


ORACLE_PARETO_PARTS = """
SELECT p_brand, p_partkey, p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_brand = p.p_brand
      AND q.p_retailprice <= p.p_retailprice
      AND q.p_size >= p.p_size
      AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
ORDER BY p_brand, p_retailprice, p_size, p_partkey
"""


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quintiles) — the canonical CRM rollup.  The textbook form is
    three global ``ntile(5)`` windows, which is a single-partition
    sort over every customer; this plan replaces each with an exact
    quintile-boundary aggregate (``F.percentile`` ≙ DuckDB
    ``quantile_cont``, one O(1)-row frame broadcast back) and pure
    comparison binning — no global sort anywhere, the same
    bounds-broadcast shape as `value_histogram`.  Integer metrics
    (epoch day, count, cents) keep every comparison exact; ties
    land in the same bin on both engines by construction rather
    than by sort-order luck, which is also why the boundary form is
    MORE deterministic than ntile (whose tie placement is
    order-dependent)."""
    qs = [0.2, 0.4, 0.6, 0.8]
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            epoch_day("o_orderdate").alias("day"),
            cents(F.col("o_totalprice")).alias("price_c"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max("day").alias("recency_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("price_c").alias("monetary_c"),
        )
    )
    bounds = per_cust.agg(
        F.percentile("recency_day", F.array(*[F.lit(q) for q in qs])).alias("rq"),
        F.percentile("frequency", F.array(*[F.lit(q) for q in qs])).alias("fq"),
        F.percentile("monetary_c", F.array(*[F.lit(q) for q in qs])).alias("mq"),
    )

    def score(col: str, arr: str):
        s = F.lit(1)
        for i in range(1, 5):
            s = s + (F.col(col) > F.element_at(F.col(arr), i)).cast("int")
        return s

    scored = per_cust.crossJoin(F.broadcast(bounds)).select(
        "monetary_c",
        (
            score("recency_day", "rq") * 100
            + score("frequency", "fq") * 10
            + score("monetary_c", "mq")
        ).alias("segment"),
    )
    return (
        scored.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("monetary_c") / 100.0, 4).alias("avg_monetary"),
        )
        .orderBy("segment")
    )


ORACLE_RFM_SEGMENTS = """
WITH per_cust AS (
  SELECT o_custkey,
         MAX(CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
                  AS BIGINT)) AS recency_day,
         COUNT(*) AS frequency,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS monetary_c
  FROM orders GROUP BY o_custkey
), q AS (
  SELECT quantile_cont(recency_day, [0.2, 0.4, 0.6, 0.8]) AS rq,
         quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fq,
         quantile_cont(monetary_c, [0.2, 0.4, 0.6, 0.8]) AS mq
  FROM per_cust
), scored AS (
  SELECT monetary_c,
         (1 + CAST(recency_day > rq[1] AS INT) + CAST(recency_day > rq[2] AS INT)
            + CAST(recency_day > rq[3] AS INT) + CAST(recency_day > rq[4] AS INT))
           * 100
         + (1 + CAST(frequency > fq[1] AS INT) + CAST(frequency > fq[2] AS INT)
              + CAST(frequency > fq[3] AS INT) + CAST(frequency > fq[4] AS INT))
           * 10
         + (1 + CAST(monetary_c > mq[1] AS INT) + CAST(monetary_c > mq[2] AS INT)
              + CAST(monetary_c > mq[3] AS INT) + CAST(monetary_c > mq[4] AS INT))
           AS segment
  FROM per_cust CROSS JOIN q
)
SELECT segment, COUNT(*) AS n_customers,
       ROUND(AVG(monetary_c) / 100.0, 4) AS avg_monetary
FROM scored GROUP BY segment ORDER BY segment
"""


def funnel_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequential view→click→purchase funnel BROKEN OUT by
    customer market segment — the cut product analytics actually
    ships (the global funnel says conversion moved; the segmented
    one says where).  Same strict ordering semantics as
    ``funnel_conversion`` (each stage's first event must follow the
    previous stage's first), same ONE-exchange-on-user_id physical
    floor; the segment dimension broadcasts onto the user-level
    funnel frame, never the fact."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    w = Window.partitionBy("user_id")
    fv = F.min(F.when(F.col("event_type") == "view", F.col("t"))).over(w)
    per_ev = ev.withColumn("fv", fv)
    fc = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("t") > F.col("fv")),
            F.col("t"),
        )
    ).over(w)
    per_ev = per_ev.withColumn("fc", fc)
    fp = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("t") > F.col("fc")),
            F.col("t"),
        )
    ).over(w)
    users = (
        per_ev.withColumn("fp", fp)
        .select("user_id", "fv", "fc", "fp")
        .dropDuplicates(["user_id"])
    )
    seg = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return (
        # no broadcast hint: customer scales with SF — AQE picks the
        # join strategy from runtime size (broadcast at test scale,
        # shuffled-hash/sort-merge at 100 TB)
        users.join(seg, "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.col("fv").isNotNull().cast("long")).alias("n_view"),
            F.sum(F.col("fc").isNotNull().cast("long")).alias("n_click"),
            F.sum(F.col("fp").isNotNull().cast("long")).alias("n_purchase"),
        )
        .select(
            "segment",
            "n_users",
            "n_view",
            "n_click",
            "n_purchase",
            F.round(
                F.col("n_purchase").cast("double")
                / F.col("n_view").cast("double"),
                6,
            ).alias("view_to_purchase"),
        )
        .orderBy("segment")
    )


ORACLE_FUNNEL_BY_SEGMENT = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS t FROM events
), u1 AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN t END) AS fv
  FROM ev GROUP BY user_id
), u2 AS (
  SELECT e.user_id, MIN(e.t) AS fc
  FROM ev e JOIN u1 USING (user_id)
  WHERE e.event_type = 'click' AND e.t > u1.fv
  GROUP BY e.user_id
), u3 AS (
  SELECT e.user_id, MIN(e.t) AS fp
  FROM ev e JOIN u2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.t > u2.fc
  GROUP BY e.user_id
), users AS (
  SELECT u1.user_id, fv, fc, fp
  FROM u1 LEFT JOIN u2 ON u1.user_id = u2.user_id
          LEFT JOIN u3 ON u1.user_id = u3.user_id
)
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       ROUND(CAST(SUM(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE), 6) AS view_to_purchase
FROM users JOIN customer ON user_id = c_custkey
GROUP BY segment
ORDER BY segment
"""


def activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekday × hour activity matrix (the ops-dashboard
    heatmap): event counts and exact cents value per cell, plus each
    cell's share of total traffic.  Pure map-side rollup to a ≤168-
    row frame; weekday is ISO Monday=0 on both engines (Spark
    ``weekday`` ≙ DuckDB ``isodow − 1`` — day-function conventions
    differ engine to engine, so the twin spelling is pinned here)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.expr("weekday(cast(ts as timestamp))").alias("dow"),
        F.hour(F.col("ts").cast("timestamp")).alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents(F.col("value"))).alias("value_cents"),
    )
    tot = cells.agg(F.sum("n_events").alias("n_total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hod",
            "n_events",
            "value_cents",
            F.round(
                F.col("n_events").cast("double")
                / F.col("n_total").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("dow", "hod")
    )


ORACLE_ACTIVITY_HEATMAP = """
WITH cells AS (
  SELECT isodow(ts) - 1 AS dow, hour(ts) AS hod,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM events GROUP BY dow, hod
), tot AS (
  SELECT SUM(n_events) AS n_total FROM cells
)
SELECT CAST(dow AS INT) AS dow, CAST(hod AS INT) AS hod,
       n_events, value_cents,
       ROUND(CAST(n_events AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share
FROM cells CROSS JOIN tot
ORDER BY dow, hod
"""


def user_saturation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience saturation: per week, first-time users (acquisition)
    and the cumulative distinct-user count (the S-curve whose
    flattening means the channel is saturating).  Each user reduces
    to a first-seen week (one keyed aggregate); the week rollup and
    its running sum ride the ≤|weeks|-row frame — cumulative
    COUNT(DISTINCT) without ever holding a distinct-set state."""
    ev = load_table(spark, sf_dir, "events")
    first_week = ev.groupBy("user_id").agg(
        F.min(
            epoch_day("date_trunc('week', cast(ts as timestamp))")
        ).alias("week")
    )
    weekly = first_week.groupBy("week").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, 0)
    return weekly.select(
        "week",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    ).orderBy("week")


ORACLE_USER_SATURATION = """
WITH first_week AS (
  SELECT user_id,
         MIN(epoch_us(date_trunc('week', ts)) // 86400000000) AS week
  FROM events GROUP BY user_id
), weekly AS (
  SELECT week, COUNT(*) AS new_users FROM first_week GROUP BY week
)
SELECT week, new_users,
       CAST(SUM(new_users) OVER (ORDER BY week
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_users
FROM weekly
ORDER BY week
"""


def repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: the distribution of day gaps between
    a user's consecutive purchases — the number behind replenishment
    reminders and churn windows ("median re-order is 11 days; no
    order for 30 → at-risk").  One user-key exchange under the lag,
    gaps as integer days, exact percentiles over the gap rollup."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            epoch_day("ts").alias("day"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("day", "event_id")
    gaps = (
        p.withColumn("prev", F.lag("day").over(w))
        .filter(F.col("prev").isNotNull())
        .select((F.col("day") - F.col("prev")).alias("gap"))
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap, 0.5)"), 1).alias("median_days"),
        F.round(F.expr("percentile(gap, 0.9)"), 1).alias("p90_days"),
        F.max("gap").alias("max_days"),
        F.sum(flag(F.col("gap") == 0)).alias("same_day_repeats"),
    )


ORACLE_REPEAT_PURCHASE = """
WITH p AS (
  SELECT user_id,
         epoch_us(ts) // 86400000000 AS day,
         event_id
  FROM events WHERE event_type = 'purchase'
), gaps AS (
  SELECT day - LAG(day) OVER (PARTITION BY user_id
                              ORDER BY day, event_id) AS gap
  FROM p
)
SELECT COUNT(*) AS n_gaps,
       ROUND(median(gap), 1) AS median_days,
       ROUND(quantile_cont(gap, 0.9), 1) AS p90_days,
       CAST(MAX(gap) AS BIGINT) AS max_days,
       CAST(SUM(CASE WHEN gap = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS same_day_repeats
FROM gaps WHERE gap IS NOT NULL
"""


LTV_MAX_WEEKS = 8


def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-purchase
    week; for each cohort and each of the first {LTV_MAX_WEEKS}+1
    weeks since joining, cumulative revenue per cohort user — the
    payback-period readout that tells acquisition what a week-0
    user is worth by week 8 (``cohort_retention`` counts who comes
    back; this prices it).

    Purchases join their user's broadcastable cohort frame… at this
    table's scale; at 100 TB the cohort frame is user-sized, so the
    join becomes a co-partitioned shuffle with the query text
    unchanged. Revenue stays integer cents through the (cohort,
    week) rollup and the running window over the ≤{LTV_MAX_WEEKS}+1
    rows per cohort; the per-user division happens once at the end."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            epoch_day("date_trunc('week', cast(ts as timestamp))").alias(
                "week"
            ),
            cents(F.col("value")).alias("c"),
        )
    )
    cohort = p.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    rolled = (
        p.join(cohort, "user_id")
        .withColumn(
            "weeks_since",
            F.expr("(week - cohort_week) div 7"),
        )
        .filter(F.col("weeks_since") <= LTV_MAX_WEEKS)
        .groupBy("cohort_week", "weeks_since")
        .agg(F.sum("c").alias("rev_c"))
    )
    w = Window.partitionBy("cohort_week").orderBy("weeks_since").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        rolled.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "weeks_since",
            "n_users",
            "rev_c",
            F.round(
                F.sum("rev_c").over(w).cast("double")
                / F.col("n_users").cast("double") / 100.0,
                4,
            ).alias("cum_ltv_dollars"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


ORACLE_COHORT_LTV = f"""
WITH p AS (
  SELECT user_id,
         epoch_us(date_trunc('week', ts)) // 86400000000 AS week,
         CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
), cohort AS (
  SELECT user_id, MIN(week) AS cohort_week FROM p GROUP BY user_id
), sizes AS (
  SELECT cohort_week, COUNT(*) AS n_users FROM cohort GROUP BY cohort_week
), rolled AS (
  SELECT cohort_week, (week - cohort_week) // 7 AS weeks_since,
         CAST(SUM(c) AS BIGINT) AS rev_c
  FROM p JOIN cohort USING (user_id)
  WHERE (week - cohort_week) // 7 <= {LTV_MAX_WEEKS}
  GROUP BY cohort_week, weeks_since
)
SELECT cohort_week, weeks_since, n_users, rev_c,
       ROUND(CAST(SUM(rev_c) OVER (PARTITION BY cohort_week
                                   ORDER BY weeks_since
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS DOUBLE)
             / CAST(n_users AS DOUBLE) / 100.0, 4) AS cum_ltv_dollars
FROM rolled JOIN sizes USING (cohort_week)
ORDER BY cohort_week, weeks_since
"""


HHI_MIN_SUPPLIERS = 3


def supplier_hhi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain concentration risk: the Herfindahl-Hirschman
    index of supplier quantity share per part — the antitrust
    measure repurposed as the single-supplier-failure screen. Top-20
    most concentrated parts among those with ≥ {HHI_MIN_SUPPLIERS}
    suppliers (one supplier is trivially HHI = 1; the interesting
    risk is high concentration despite apparent diversification).

    Quantities roll up to (part, supplier) — fact-sized shuffle
    once — then the HHI is a per-part sum of e6-integer share
    squares (exact bigint; the PSI/micro-nat discipline applied to
    shares), divided back once."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(
                F.expr("cast(round(l_quantity * 100) as bigint)")
            ).alias("q")
        )
    )
    tot = ps.groupBy("l_partkey").agg(
        F.sum("q").alias("qt"), F.count(F.lit(1)).alias("n_suppliers")
    )
    share_e6 = F.round(
        F.col("q").cast("double") * 1e6 / F.col("qt").cast("double"), 0
    ).cast("long")
    return (
        ps.join(tot, "l_partkey")
        .filter(F.col("n_suppliers") >= HHI_MIN_SUPPLIERS)
        .groupBy("l_partkey", "n_suppliers")
        .agg(F.sum(share_e6 * share_e6).alias("hhi_e12"))
        .select(
            F.col("l_partkey").alias("partkey"),
            "n_suppliers",
            F.round(F.col("hhi_e12").cast("double") / 1e12, 6).alias("hhi"),
        )
        .orderBy(F.desc("hhi"), F.asc("partkey"))
        .limit(20)
    )


ORACLE_SUPPLIER_HHI = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS q
  FROM lineitem GROUP BY l_partkey, l_suppkey
), tot AS (
  SELECT l_partkey, SUM(q) AS qt, COUNT(*) AS n_suppliers
  FROM ps GROUP BY l_partkey
), terms AS (
  SELECT ps.l_partkey, n_suppliers,
         CAST(ROUND(CAST(q AS DOUBLE) * 1000000.0 / CAST(qt AS DOUBLE))
              AS BIGINT) AS s_e6
  FROM ps JOIN tot USING (l_partkey)
  WHERE n_suppliers >= {HHI_MIN_SUPPLIERS}
)
SELECT l_partkey AS partkey, n_suppliers,
       ROUND(CAST(SUM(s_e6 * s_e6) AS DOUBLE) / 1e12, 6) AS hhi
FROM terms
GROUP BY partkey, n_suppliers
ORDER BY hhi DESC, partkey ASC
LIMIT 20
"""


def ship_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency per order priority: median / p90 / max
    days from order date to line-item ship date — the operational
    SLA readout, cut by the priority the customer paid for (urgent
    orders shipping slower than low-priority ones is the breach this
    catches).

    One broadcast of the order header onto the lineitem stream,
    integer day deltas, exact percentiles per priority over the
    latency rollup."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    lat = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_orderpriority").alias("priority"),
        (
            epoch_day("l_shipdate") - epoch_day("o_orderdate")
        ).alias("days"),
    )
    return (
        lat.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.expr("percentile(days, 0.5)"), 1).alias(
                "median_days"
            ),
            F.round(F.expr("percentile(days, 0.9)"), 1).alias("p90_days"),
            F.max("days").alias("max_days"),
        )
        .orderBy("priority")
    )


ORACLE_SHIP_LATENCY = """
WITH lat AS (
  SELECT o_orderpriority AS priority,
         epoch_us(l_shipdate) // 86400000000
           - epoch_us(o_orderdate) // 86400000000 AS days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT priority, COUNT(*) AS n_lines,
       ROUND(median(days), 1) AS median_days,
       ROUND(quantile_cont(days, 0.9), 1) AS p90_days,
       CAST(MAX(days) AS BIGINT) AS max_days
FROM lat GROUP BY priority
ORDER BY priority
"""


def abc_xyz_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ classification of part brands — the inventory-
    planning matrix: ABC from cumulative revenue share (A = first
    80%, B = to 95%, C = tail) and XYZ from the coefficient of
    variation of MONTHLY demand (X < 0.5 steady, Y < 1.0 seasonal,
    Z erratic). An 'AZ' cell (big but erratic) is what a planner
    loses sleep over; the same two-axis triage applies verbatim to
    corpus sources (size × stability) before a mixture refresh.

    Scale: one (brand, month) rollup feeds BOTH axes; cumulative
    share is a window over the ≤|brands| frame.

    Exactness: revenue cents and monthly (n, Σq, Σq²) are exact
    BIGINTs; the share/CV divisions are the only doubles; class
    edges compare doubles produced identically in both engines."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias(
                "mo"
            ),
            revenue_cents().alias("rc"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .join(
            # no broadcast hint: part scales with SF — AQE decides
            load_table(spark, sf_dir, "part").select(
                "p_partkey", "p_brand"
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"), "mo")
        .agg(F.sum("rc").alias("rc"), F.sum("q").alias("q"))
    )
    br = li.groupBy("brand").agg(
        F.sum("rc").alias("rev"),
        F.count(F.lit(1)).alias("n_months"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    w_cum = Window.orderBy(F.desc("rev"), F.asc("brand")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    ranked = br.select(
        "brand",
        "rev",
        "n_months",
        "sq",
        "sqq",
        F.sum("rev").over(w_cum).alias("cum_rev"),
        F.sum("rev").over(w_all).alias("tot_rev"),
    )
    nm = F.col("n_months").cast("double")
    mean_q = F.col("sq").cast("double") / nm
    sd_q = F.sqrt(
        (
            F.col("sqq").cast("double")
            - F.col("sq").cast("double") * F.col("sq").cast("double") / nm
        )
        / (nm - 1.0)
    )
    cv = sd_q / mean_q
    share_cum = F.col("cum_rev").cast("double") / F.col("tot_rev").cast(
        "double"
    )
    abc = (
        F.when(share_cum <= 0.80, "A")
        .when(share_cum <= 0.95, "B")
        .otherwise("C")
    )
    xyz = F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z")
    return ranked.select(
        "brand",
        "rev",
        F.round(share_cum, 6).alias("cum_share"),
        F.round(cv, 6).alias("demand_cv"),
        abc.alias("abc"),
        xyz.alias("xyz"),
        F.concat(abc, xyz).alias("cell"),
    ).orderBy(F.desc("rev"), F.asc("brand"))


ORACLE_ABC_XYZ = """
WITH li AS (
  SELECT p_brand AS brand,
         year(l_shipdate) * 12 + month(l_shipdate) AS mo,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS rc,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
), br AS (
  SELECT brand, CAST(SUM(rc) AS BIGINT) AS rev,
         CAST(COUNT(*) AS BIGINT) AS n_months,
         CAST(SUM(q) AS BIGINT) AS sq,
         CAST(SUM(q * q) AS BIGINT) AS sqq
  FROM li GROUP BY brand
), ranked AS (
  SELECT brand, rev, n_months, sq, sqq,
         SUM(rev) OVER (ORDER BY rev DESC, brand ASC) AS cum_rev,
         SUM(rev) OVER () AS tot_rev
  FROM br
)
SELECT brand, rev,
       ROUND(CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6)
         AS cum_share,
       ROUND(sqrt((CAST(sqq AS DOUBLE)
                   - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
                     / CAST(n_months AS DOUBLE))
                  / (CAST(n_months AS DOUBLE) - 1.0))
             / (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE)), 6)
         AS demand_cv,
       CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) <= 0.80
              THEN 'A'
            WHEN CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) <= 0.95
              THEN 'B' ELSE 'C' END AS abc,
       CASE WHEN sqrt((CAST(sqq AS DOUBLE)
                       - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
                         / CAST(n_months AS DOUBLE))
                      / (CAST(n_months AS DOUBLE) - 1.0))
                 / (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE)) < 0.5
              THEN 'X'
            WHEN sqrt((CAST(sqq AS DOUBLE)
                       - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
                         / CAST(n_months AS DOUBLE))
                      / (CAST(n_months AS DOUBLE) - 1.0))
                 / (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE)) < 1.0
              THEN 'Y' ELSE 'Z' END AS xyz,
       CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) <= 0.80
              THEN 'A'
            WHEN CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) <= 0.95
              THEN 'B' ELSE 'C' END
       || CASE WHEN sqrt((CAST(sqq AS DOUBLE)
                          - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
                            / CAST(n_months AS DOUBLE))
                         / (CAST(n_months AS DOUBLE) - 1.0))
                    / (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE)) < 0.5
                 THEN 'X'
               WHEN sqrt((CAST(sqq AS DOUBLE)
                          - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
                            / CAST(n_months AS DOUBLE))
                         / (CAST(n_months AS DOUBLE) - 1.0))
                    / (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE)) < 1.0
                 THEN 'Y' ELSE 'Z' END AS cell
FROM ranked
ORDER BY rev DESC, brand ASC
"""


def pchart_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart of the monthly line-return rate — classical
    SPC applied to a data-quality stream: centerline p̄ from the
    whole history, per-month 3σ limits p̄ ± 3·√(p̄(1−p̄)/n_m)
    (wider in thin months — the per-sample-size limit is the whole
    point of a p-chart), and the out-of-control flag per month.
    The same chart monitors any per-batch defect rate in a corpus
    ingest pipeline.

    Scale: one fact rollup to the month frame; the centerline is a
    1-row cross onto ≤|months| rows.

    Exactness: per-month (n, defects) and the global totals are
    exact BIGINTs; p̄, the limits, and the flag comparisons are the
    only doubles, textually mirrored."""
    mo = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias(
                "mo"
            ),
            flag(F.col("l_returnflag") == "R").alias("ret"),
        )
        .groupBy("mo")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("ret").alias("n_returned"),
        )
    )
    tot = mo.agg(
        F.sum("n_lines").alias("tn"), F.sum("n_returned").alias("tr")
    )
    j = mo.crossJoin(F.broadcast(tot))
    pbar = F.col("tr").cast("double") / F.col("tn").cast("double")
    se = F.sqrt(
        pbar * (1.0 - pbar) / F.col("n_lines").cast("double")
    )
    p = F.col("n_returned").cast("double") / F.col("n_lines").cast(
        "double"
    )
    ucl = pbar + 3.0 * se
    lcl = F.greatest(F.lit(0.0), pbar - 3.0 * se)
    return j.select(
        "mo",
        "n_lines",
        "n_returned",
        F.round(p, 6).alias("p_month"),
        F.round(pbar, 6).alias("p_bar"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        ((p > ucl) | (p < lcl)).alias("out_of_control"),
    ).orderBy("mo")


ORACLE_PCHART = """
WITH mo AS (
  SELECT year(l_shipdate) * 12 + month(l_shipdate) AS mo,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_returned
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_lines) AS BIGINT) AS tn,
         CAST(SUM(n_returned) AS BIGINT) AS tr
  FROM mo
)
SELECT mo, n_lines, n_returned,
       ROUND(CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
         AS p_month,
       ROUND(CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS p_bar,
       ROUND(CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)
             + 3.0 * sqrt((CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                          * (1.0 - CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                          / CAST(n_lines AS DOUBLE)), 6) AS ucl,
       ROUND(GREATEST(0.0, CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)
             - 3.0 * sqrt((CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                          * (1.0 - CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                          / CAST(n_lines AS DOUBLE))), 6) AS lcl,
       (CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)
        > CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)
          + 3.0 * sqrt((CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                       * (1.0 - CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                       / CAST(n_lines AS DOUBLE)))
       OR (CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)
           < GREATEST(0.0, CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)
             - 3.0 * sqrt((CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                          * (1.0 - CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE))
                          / CAST(n_lines AS DOUBLE))))
         AS out_of_control
FROM mo CROSS JOIN tot
ORDER BY mo
"""


def price_index_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche and Fisher price indices between every
    pair of consecutive ship years, over the parts traded in BOTH —
    the economically correct answer to "did prices rise or did the
    mix shift" that a raw revenue-per-unit trend conflates: base-
    weighted (Laspeyres) vs current-weighted (Paasche) unit-value
    indices bracket the truth, Fisher is their geometric mean.

    Scale: one (year, part) rollup; the year-pair join is equi-
    keyed on part (vocabulary-style frame — |parts| rows per pair,
    never the fact stream); one aggregate per pair.

    Exactness: per-part cross terms p₁q₀ = ep₁·q₀/q₁ quantize to
    exact centi-cent integers before the part sums (order-proof);
    both denominators that CAN be exact are (Σep is exact cents);
    two divisions + one sqrt per pair, textually mirrored."""
    yp = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.year("l_shipdate").alias("y"),
            "l_partkey",
            cents("l_extendedprice").alias("ep"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("y", "l_partkey")
        .agg(F.sum("ep").alias("ep"), F.sum("q").alias("q"))
    )
    a = yp.select(
        F.col("y").alias("y0"),
        "l_partkey",
        F.col("ep").alias("ep0"),
        F.col("q").alias("q0"),
    )
    b = yp.select(
        (F.col("y") - 1).alias("y0"),
        F.col("y").alias("y1"),
        "l_partkey",
        F.col("ep").alias("ep1"),
        F.col("q").alias("q1"),
    )
    pair = a.join(b, ["y0", "l_partkey"])
    agg = pair.groupBy("y0", "y1").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("ep0").alias("sum_p0q0"),
        F.sum("ep1").alias("sum_p1q1"),
        F.sum(
            F.round(
                F.col("ep1").cast("double")
                * F.col("q0").cast("double")
                * 100.0
                / F.col("q1").cast("double"),
                0,
            ).cast("long")
        ).alias("sum_p1q0_c"),
        F.sum(
            F.round(
                F.col("ep0").cast("double")
                * F.col("q1").cast("double")
                * 100.0
                / F.col("q0").cast("double"),
                0,
            ).cast("long")
        ).alias("sum_p0q1_c"),
    )
    lasp = F.col("sum_p1q0_c").cast("double") / (
        100.0 * F.col("sum_p0q0").cast("double")
    )
    paas = (100.0 * F.col("sum_p1q1").cast("double")) / F.col(
        "sum_p0q1_c"
    ).cast("double")
    return agg.select(
        "y0",
        "y1",
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    ).orderBy("y0")


ORACLE_PRICE_INDEX = """
WITH yp AS (
  SELECT year(l_shipdate) AS y, l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS ep,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), pair AS (
  SELECT a.y AS y0, b.y AS y1, a.l_partkey,
         a.ep AS ep0, a.q AS q0, b.ep AS ep1, b.q AS q1
  FROM yp a JOIN yp b ON b.y = a.y + 1 AND a.l_partkey = b.l_partkey
), agg AS (
  SELECT y0, y1, CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(ep0) AS BIGINT) AS sum_p0q0,
         CAST(SUM(ep1) AS BIGINT) AS sum_p1q1,
         CAST(SUM(CAST(ROUND(CAST(ep1 AS DOUBLE) * CAST(q0 AS DOUBLE)
                             * 100.0 / CAST(q1 AS DOUBLE), 0) AS BIGINT))
              AS BIGINT) AS sum_p1q0_c,
         CAST(SUM(CAST(ROUND(CAST(ep0 AS DOUBLE) * CAST(q1 AS DOUBLE)
                             * 100.0 / CAST(q0 AS DOUBLE), 0) AS BIGINT))
              AS BIGINT) AS sum_p0q1_c
  FROM pair GROUP BY y0, y1
)
SELECT y0, y1, n_parts,
       ROUND(CAST(sum_p1q0_c AS DOUBLE)
             / (100.0 * CAST(sum_p0q0 AS DOUBLE)), 6) AS laspeyres,
       ROUND((100.0 * CAST(sum_p1q1 AS DOUBLE))
             / CAST(sum_p0q1_c AS DOUBLE), 6) AS paasche,
       ROUND(sqrt((CAST(sum_p1q0_c AS DOUBLE)
                   / (100.0 * CAST(sum_p0q0 AS DOUBLE)))
                  * ((100.0 * CAST(sum_p1q1 AS DOUBLE))
                     / CAST(sum_p0q1_c AS DOUBLE))), 6) AS fisher
FROM agg
ORDER BY y0
"""


def kendalls_w_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W — do revenue, volume and line-count RANK the
    brands the same way? The k-ranker concordance coefficient
    (tie-corrected) over the three business orderings of the brand
    league table: W = 1 means one ranking would do; W near 0 means
    "top brand" depends on which metric you ask — exactly the
    check a mixture/curation review needs before collapsing several
    quality signals into one ordering (the rank-aggregation
    question ``rrf_fuse_search`` answers constructively, measured).

    Scale: one fact rollup to the ≤|brands| frame; the three
    rankings are windows over that 25-row frame.

    Exactness: doubled average ranks (2·rank + t − 1) keep every
    rank sum an exact BIGINT; S·4 and the tie terms are exact
    integers; W = 3·S4/(k²(n³−n) − k·ΣT) is ONE double division,
    χ² = k(n−1)W one multiplication."""
    k = 3
    br = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", revenue_cents().alias("rc"))
        .join(
            # no broadcast hint: part scales with SF — AQE decides
            load_table(spark, sf_dir, "part").select(
                "p_partkey", "p_brand"
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum("rc").alias("rev"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )

    def r2(col: str) -> F.Column:
        # doubled tie-averaged rank, heaviest first
        w_rank = Window.orderBy(F.desc(col))
        w_tie = Window.partitionBy(col)
        return (
            2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1
        )

    def tie2(col: str) -> F.Column:
        # Σ_values (t³−t) as Σ_rows (t²−1)
        w_tie = Window.partitionBy(col)
        t = F.count(F.lit(1)).over(w_tie)
        return t * t - 1

    ranked = br.select(
        "brand",
        r2("rev").alias("r2_rev"),
        r2("qty").alias("r2_qty"),
        r2("cnt").alias("r2_cnt"),
        tie2("rev").alias("t_rev"),
        tie2("qty").alias("t_qty"),
        tie2("cnt").alias("t_cnt"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    dev = (
        F.col("r2_rev")
        + F.col("r2_qty")
        + F.col("r2_cnt")
        - 3 * (F.col("nb") + 1)
    )
    agg = ranked.agg(
        F.max("nb").alias("n"),
        F.sum(dev * dev).alias("s4"),
        F.sum(
            F.col("t_rev") + F.col("t_qty") + F.col("t_cnt")
        ).alias("ties"),
    )
    n_d = F.col("n").cast("double")
    w_stat = (
        3.0
        * F.col("s4").cast("double")
        / (
            F.lit(float(k * k)) * (n_d * n_d * n_d - n_d)
            - F.lit(float(k)) * F.col("ties").cast("double")
        )
    )
    return agg.select(
        "n",
        F.lit(k).alias("k"),
        F.round(w_stat, 6).alias("w_concordance"),
        F.round(F.lit(float(k)) * (n_d - 1.0) * w_stat, 6).alias(
            "chi2_stat"
        ),
    )


ORACLE_KENDALLS_W = """
WITH br AS (
  SELECT p_brand AS brand,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS rev,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
), ranked AS (
  SELECT brand,
         2 * RANK() OVER (ORDER BY rev DESC)
           + COUNT(*) OVER (PARTITION BY rev) - 1 AS r2_rev,
         2 * RANK() OVER (ORDER BY qty DESC)
           + COUNT(*) OVER (PARTITION BY qty) - 1 AS r2_qty,
         2 * RANK() OVER (ORDER BY cnt DESC)
           + COUNT(*) OVER (PARTITION BY cnt) - 1 AS r2_cnt,
         COUNT(*) OVER (PARTITION BY rev) * COUNT(*) OVER (PARTITION BY rev)
           - 1 AS t_rev,
         COUNT(*) OVER (PARTITION BY qty) * COUNT(*) OVER (PARTITION BY qty)
           - 1 AS t_qty,
         COUNT(*) OVER (PARTITION BY cnt) * COUNT(*) OVER (PARTITION BY cnt)
           - 1 AS t_cnt,
         COUNT(*) OVER () AS n
  FROM br
), agg AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         CAST(SUM((r2_rev + r2_qty + r2_cnt - 3 * (n + 1))
                  * (r2_rev + r2_qty + r2_cnt - 3 * (n + 1)))
              AS BIGINT) AS s4,
         CAST(SUM(t_rev + t_qty + t_cnt) AS BIGINT) AS ties
  FROM ranked
)
SELECT n, 3 AS k,
       ROUND(3.0 * CAST(s4 AS DOUBLE)
             / (9.0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))
                - 3.0 * CAST(ties AS DOUBLE)), 6) AS w_concordance,
       ROUND(3.0 * (CAST(n AS DOUBLE) - 1.0)
             * (3.0 * CAST(s4 AS DOUBLE)
                / (9.0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                          * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))
                   - 3.0 * CAST(ties AS DOUBLE))), 6) AS chi2_stat
FROM agg
"""


def eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of the per-brand return rates —
    the statistical fix for ``return_rate_by_brand``'s league table
    (small-n brands dominate a raw ranking by luck): fit a Beta
    prior across brands by method of moments, then report each
    brand's posterior rate (x+α)/(n+α+β). Brands keep their honest
    uncertainty instead of a hard n ≥ 100 cutoff.

    Scale: one fact rollup to the |brands| frame; the prior fit and
    shrinkage are brand-frame arithmetic (windows over ≤|brands|
    rows, bounded by the DOMAIN).

    Exactness: x, n are exact BIGINTs; each raw rate quantizes to
    an exact 1e6-scaled integer (one deterministic division per
    brand), so the cross-brand mean/variance ride exact BIGINT sums
    — the α, β and posterior divisions are the only free doubles,
    oracle-identical textually."""
    br = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_returnflag")
        .join(
            # no broadcast hint: part scales with SF — AQE decides
            load_table(spark, sf_dir, "part").select(
                "p_partkey", "p_brand"
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(flag(F.col("l_returnflag") == "R")).alias("x"),
        )
        .withColumn(
            "r_e6",
            F.round(
                F.col("x").cast("double") * 1e6 / F.col("n").cast("double"),
                0,
            ).cast("long"),
        )
    )
    w_all = Window.partitionBy()
    stats = br.select(
        "brand",
        "n",
        "x",
        "r_e6",
        F.count(F.lit(1)).over(w_all).alias("k"),
        F.sum("r_e6").over(w_all).alias("sr"),
        F.sum(F.col("r_e6") * F.col("r_e6")).over(w_all).alias("srr"),
    )
    kk = F.col("k").cast("double")
    mu = F.col("sr").cast("double") / kk / 1e6
    s2 = (
        F.col("srr").cast("double") / kk / 1e12
        - mu * mu
    )
    m_ = mu * (1.0 - mu) / s2 - 1.0
    alpha = mu * m_
    beta = (1.0 - mu) * m_
    return stats.select(
        "brand",
        "n",
        "x",
        F.round(F.col("r_e6").cast("double") / 1e6, 6).alias("raw_rate"),
        F.round(
            (F.col("x").cast("double") + alpha)
            / (F.col("n").cast("double") + alpha + beta),
            6,
        ).alias("shrunk_rate"),
        F.round(alpha, 6).alias("prior_alpha"),
        F.round(beta, 6).alias("prior_beta"),
    ).orderBy("brand")


ORACLE_EB_SHRUNK = """
WITH br AS (
  SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
), rq AS (
  SELECT brand, n, x,
         CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0 / CAST(n AS DOUBLE))
              AS BIGINT) AS r_e6
  FROM br
), stats AS (
  SELECT brand, n, x, r_e6,
         COUNT(*) OVER () AS k,
         SUM(r_e6) OVER () AS sr,
         SUM(r_e6 * r_e6) OVER () AS srr
  FROM rq
)
SELECT brand, n, x,
       ROUND(CAST(r_e6 AS DOUBLE) / 1000000.0, 6) AS raw_rate,
       ROUND((CAST(x AS DOUBLE)
              + (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0)
                * ((CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0)
                   * (1.0 - CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)
                         / 1000000.0)
                   / (CAST(srr AS DOUBLE) / CAST(k AS DOUBLE) / 1e12
                      - (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)
                         / 1000000.0)
                        * (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)
                           / 1000000.0)) - 1.0))
             / (CAST(n AS DOUBLE)
                + ((CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0)
                   * (1.0 - CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)
                         / 1000000.0)
                   / (CAST(srr AS DOUBLE) / CAST(k AS DOUBLE) / 1e12
                      - (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)
                         / 1000000.0)
                        * (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)
                           / 1000000.0)) - 1.0)), 6) AS shrunk_rate,
       ROUND((CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0)
             * ((CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0)
                * (1.0 - CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0)
                / (CAST(srr AS DOUBLE) / CAST(k AS DOUBLE) / 1e12
                   - (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0)
                     * (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0))
                - 1.0), 6) AS prior_alpha,
       ROUND((1.0 - CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0)
             * ((CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0)
                * (1.0 - CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0)
                / (CAST(srr AS DOUBLE) / CAST(k AS DOUBLE) / 1e12
                   - (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0)
                     * (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0))
                - 1.0), 6) AS prior_beta
FROM stats
ORDER BY brand
"""


def return_rate_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate league table by part brand: share of line items
    flagged 'R', with the revenue at stake — the product-quality
    screen a merchandiser reads weekly. Brand dim broadcasts onto
    the fact; rates are one rounded division over exact integer
    counts/cents. Brands under 100 lines are suppressed (rate noise,
    the A6 HAVING shape). The brand dim joins without a broadcast
    hint — part scales with SF, so AQE picks the strategy."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag", revenue_cents().alias("rc")
    )
    return (
        # no broadcast hint: part scales with SF — AQE decides
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(flag(F.col("l_returnflag") == "R")).alias("n_returned"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", F.col("rc")).otherwise(
                    0
                )
            ).alias("returned_cents"),
        )
        .filter(F.col("n_lines") >= 100)
        .select(
            "brand",
            "n_lines",
            "n_returned",
            F.round(
                F.col("n_returned").cast("double")
                / F.col("n_lines").cast("double"),
                6,
            ).alias("return_rate"),
            "returned_cents",
        )
        .orderBy(F.desc("return_rate"), F.asc("brand"))
        .limit(25)
    )


ORACLE_RETURN_RATE = """
WITH j AS (
  SELECT p_brand AS brand, l_returnflag,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS rc
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT brand, COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       ROUND(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS return_rate,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN rc ELSE 0 END) AS BIGINT)
         AS returned_cents
FROM j
GROUP BY brand
HAVING COUNT(*) >= 100
ORDER BY return_rate DESC, brand ASC
LIMIT 25
"""


def customer_churn_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year customer movement: for each consecutive year
    pair, how many active customers were retained, churned, or are
    new — the churn ledger finance reconciles growth against
    (``cohort_retention`` follows one cohort forward; this balances
    every adjacent year).

    Customers reduce to distinct (customer, year) activity rows —
    one map-combined aggregate — and the year-pair ledger is a
    self-join of that frame shifted by one year, all on the
    customer-sized rollup. Retention rate is one rounded division;
    the invariant retained + churned = active(y) is checkable by
    eye (and asserted in tests)."""
    cy = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey", F.year("o_orderdate").alias("yr")
        )
        .distinct()
    )
    a = cy.select(F.col("o_custkey").alias("c"), F.col("yr").alias("y1"))
    b = cy.select(
        F.col("o_custkey").alias("c"), (F.col("yr") - 1).alias("y1")
    )
    years = cy.select(F.col("yr").alias("y1")).distinct()
    # retained: active in y and y+1; churned: y only; new: y+1 only
    retained = (
        a.join(b, ["c", "y1"], "inner")
        .groupBy("y1")
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    active = a.groupBy("y1").agg(F.count(F.lit(1)).alias("n_active"))
    new_next = (
        b.join(a, ["c", "y1"], "left_anti")
        .groupBy("y1")
        .agg(F.count(F.lit(1)).alias("n_new_next"))
    )
    return (
        active.join(retained, "y1", "left")
        .join(new_next, "y1", "left")
        .join(
            years.select((F.col("y1") - 1).alias("y1")).distinct(),
            "y1",
            "left_semi",
        )  # keep only years with a following year in the data
        .select(
            F.col("y1").alias("year"),
            "n_active",
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            (
                F.col("n_active") - F.coalesce("n_retained", F.lit(0))
            ).alias("n_churned"),
            F.coalesce("n_new_next", F.lit(0)).alias("n_new_next_year"),
            F.round(
                F.coalesce("n_retained", F.lit(0)).cast("double")
                / F.col("n_active").cast("double"),
                6,
            ).alias("retention_rate"),
        )
        .orderBy("year")
    )


ORACLE_CHURN_MATRIX = """
WITH cy AS (
  SELECT DISTINCT o_custkey AS c, year(o_orderdate) AS yr FROM orders
), active AS (
  SELECT yr AS y1, COUNT(*) AS n_active FROM cy GROUP BY yr
), retained AS (
  SELECT a.yr AS y1, COUNT(*) AS n_retained
  FROM cy a JOIN cy b ON a.c = b.c AND b.yr = a.yr + 1
  GROUP BY a.yr
), new_next AS (
  SELECT b.yr - 1 AS y1, COUNT(*) AS n_new_next
  FROM cy b ANTI JOIN cy a ON a.c = b.c AND a.yr = b.yr - 1
  GROUP BY y1
)
SELECT y1 AS year, n_active,
       COALESCE(n_retained, 0) AS n_retained,
       n_active - COALESCE(n_retained, 0) AS n_churned,
       COALESCE(n_new_next, 0) AS n_new_next_year,
       ROUND(CAST(COALESCE(n_retained, 0) AS DOUBLE)
             / CAST(n_active AS DOUBLE), 6) AS retention_rate
FROM active
LEFT JOIN retained USING (y1)
LEFT JOIN new_next USING (y1)
WHERE y1 + 1 IN (SELECT DISTINCT yr FROM cy)
ORDER BY year
"""


def discount_band_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demand response to discounting: average quantity and total
    revenue per 1%-discount band — the raw curve a pricing team
    fits elasticity to (rising mean quantity with deeper bands =
    the discount is moving volume; flat = margin given away).
    Pure map-side rollup to ≤11 band rows; exact integer quantities
    and cents; means divide once."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("band"),
        F.expr("cast(round(l_quantity * 100) as bigint)").alias("qc"),
        revenue_cents().alias("rc"),
    )
    return (
        li.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("qc").alias("qty_c"),
            F.sum("rc").alias("rev_c"),
        )
        .select(
            "band",
            "n_lines",
            F.round(
                F.col("qty_c").cast("double")
                / F.col("n_lines").cast("double") / 100.0,
                4,
            ).alias("avg_quantity"),
            "rev_c",
        )
        .orderBy("band")
    )


ORACLE_DISCOUNT_BAND = """
SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS band,
       COUNT(*) AS n_lines,
       ROUND(CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 100.0, 4) AS avg_quantity,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS rev_c
FROM lineitem
GROUP BY band
ORDER BY band
"""


def basket_lines_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: how many orders carry k line items,
    with each k's share — the shape parameter behind fulfillment
    cost models (and the sanity check that the order generator isn't
    degenerate). Double rollup: order-key count, then count-of-
    counts — both map-combined; the second frame is ≤ max-lines
    rows."""
    k = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    hist = k.groupBy("k").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = hist.agg(F.sum("n_orders").alias("t"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_orders",
            F.round(
                F.col("n_orders").cast("double") / F.col("t").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("k")
    )


ORACLE_BASKET_HISTOGRAM = """
WITH k AS (
  SELECT l_orderkey, COUNT(*) AS k FROM lineitem GROUP BY l_orderkey
), hist AS (
  SELECT k, COUNT(*) AS n_orders FROM k GROUP BY k
), tot AS (
  SELECT SUM(n_orders) AS t FROM hist
)
SELECT k, n_orders,
       ROUND(CAST(n_orders AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
FROM hist CROSS JOIN tot
ORDER BY k
"""


def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation trade balance inside the star schema: revenue its
    suppliers earn vs what its customers spend, and the net — the
    Q7-family two-role join (nation participates as supplier's and
    customer's home separately, so the fact flows through two
    independent dim resolutions that must NOT be conflated).
    Both sides reduce before the final small join of two
    25-row frames; exact cents throughout."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", revenue_cents().alias("rc")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    earned = (
        # no broadcast hints on supplier/customer: both scale with
        # SF — AQE decides (broadcast at test scale, shuffle at 100 TB)
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(F.sum("rc").alias("earned_c"))
    )
    spent = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(F.sum("rc").alias("spent_c"))
    )
    return (
        # broadcast the 25-row aggregate sides (hinting the LEFT side
        # of a left join is unsupported and was silently ignored)
        nation
        .join(F.broadcast(earned), F.col("n_nationkey") == F.col("s_nationkey"), "left")
        .join(F.broadcast(spent), F.col("n_nationkey") == F.col("c_nationkey"), "left")
        .select(
            "n_name",
            F.coalesce("earned_c", F.lit(0)).alias("earned_c"),
            F.coalesce("spent_c", F.lit(0)).alias("spent_c"),
            (
                F.coalesce("earned_c", F.lit(0))
                - F.coalesce("spent_c", F.lit(0))
            ).alias("balance_c"),
        )
        .orderBy(F.desc("balance_c"), F.asc("n_name"))
    )


ORACLE_NATION_BALANCE = """
WITH earned AS (
  SELECT s_nationkey AS nk,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS earned_c
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY nk
), spent AS (
  SELECT c_nationkey AS nk,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS spent_c
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY nk
)
SELECT n_name,
       COALESCE(earned_c, 0) AS earned_c,
       COALESCE(spent_c, 0) AS spent_c,
       COALESCE(earned_c, 0) - COALESCE(spent_c, 0) AS balance_c
FROM nation
LEFT JOIN earned ON n_nationkey = earned.nk
LEFT JOIN spent ON n_nationkey = spent.nk
ORDER BY balance_c DESC, n_name ASC
"""


# --------------------------------------------------------------------------
# Distributed OLS via exact integer normal equations (one pass + solve)
# --------------------------------------------------------------------------

def ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary least squares (price ~ quantity + discount) the way
    it must run at 100 TB: ONE map-combined aggregate collects the
    nine sufficient statistics of the normal equations, the 3×3
    solve is pure scalar arithmetic on that single row (Cramer's
    rule) — the data is touched once and no per-row residual pass
    exists.  Every moment is an EXACT integer (cents / milli-units;
    the y·y and x·y moments ride decimal(38,0) so no scale factor
    can overflow or wobble), so Spark and DuckDB hand the solve
    bit-identical inputs and the double arithmetic agrees to the
    last ulp — same exactness discipline as ``cov_state_merge_audit``
    (operators/similarity.py).  Output: coefficients (cents),
    R², n."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 1000, 0).cast("long").alias("d"),
        cents("l_extendedprice").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("d").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("y") * dec("q")).alias("sqy"),
        F.sum(dec("y") * dec("d")).alias("sdy"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    # scalar solve on the 1-row aggregate: cast exact moments to
    # double, Cramer's rule written ONCE (texts must match the
    # oracle so both engines run the same IEEE ops in order)
    n, sq, sd = "CAST(n AS DOUBLE)", "CAST(sq AS DOUBLE)", "CAST(sd AS DOUBLE)"
    sqq, sqd, sdd = (
        "CAST(sqq AS DOUBLE)",
        "CAST(sqd AS DOUBLE)",
        "CAST(sdd AS DOUBLE)",
    )
    sy, sqy, sdy, syy = (
        "CAST(sy AS DOUBLE)",
        "CAST(sqy AS DOUBLE)",
        "CAST(sdy AS DOUBLE)",
        "CAST(syy AS DOUBLE)",
    )
    det = (
        f"({n} * ({sqq} * {sdd} - {sqd} * {sqd})"
        f" - {sq} * ({sq} * {sdd} - {sqd} * {sd})"
        f" + {sd} * ({sq} * {sqd} - {sqq} * {sd}))"
    )
    b0 = (
        f"(({sy} * ({sqq} * {sdd} - {sqd} * {sqd})"
        f" - {sq} * ({sqy} * {sdd} - {sqd} * {sdy})"
        f" + {sd} * ({sqy} * {sqd} - {sqq} * {sdy})) / {det})"
    )
    b1 = (
        f"(({n} * ({sqy} * {sdd} - {sdy} * {sqd})"
        f" - {sy} * ({sq} * {sdd} - {sqd} * {sd})"
        f" + {sd} * ({sq} * {sdy} - {sqy} * {sd})) / {det})"
    )
    b2 = (
        f"(({n} * ({sqq} * {sdy} - {sqd} * {sqy})"
        f" - {sq} * ({sq} * {sdy} - {sqy} * {sd})"
        f" + {sy} * ({sq} * {sqd} - {sqq} * {sd})) / {det})"
    )
    sse = f"({syy} - ({b0} * {sy} + {b1} * {sqy} + {b2} * {sdy}))"
    sst = f"({syy} - {sy} * {sy} / {n})"
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n",
        f"ROUND({b0}, 6) AS b0_cents",
        f"ROUND({b1}, 6) AS b1_cents",
        f"ROUND({b2}, 6) AS b2_cents",
        f"ROUND(1.0 - {sse} / {sst}, 6) AS r2",
    )


def _ols_oracle() -> str:
    """Same moment pass (HUGEINT ≙ decimal(38,0): both exact) and the
    TEXT-IDENTICAL Cramer solve, so the double ops agree per-ulp."""
    n, sq, sd = "CAST(n AS DOUBLE)", "CAST(sq AS DOUBLE)", "CAST(sd AS DOUBLE)"
    sqq, sqd, sdd = (
        "CAST(sqq AS DOUBLE)",
        "CAST(sqd AS DOUBLE)",
        "CAST(sdd AS DOUBLE)",
    )
    sy, sqy, sdy, syy = (
        "CAST(sy AS DOUBLE)",
        "CAST(sqy AS DOUBLE)",
        "CAST(sdy AS DOUBLE)",
        "CAST(syy AS DOUBLE)",
    )
    det = (
        f"({n} * ({sqq} * {sdd} - {sqd} * {sqd})"
        f" - {sq} * ({sq} * {sdd} - {sqd} * {sd})"
        f" + {sd} * ({sq} * {sqd} - {sqq} * {sd}))"
    )
    b0 = (
        f"(({sy} * ({sqq} * {sdd} - {sqd} * {sqd})"
        f" - {sq} * ({sqy} * {sdd} - {sqd} * {sdy})"
        f" + {sd} * ({sqy} * {sqd} - {sqq} * {sdy})) / {det})"
    )
    b1 = (
        f"(({n} * ({sqy} * {sdd} - {sdy} * {sqd})"
        f" - {sy} * ({sq} * {sdd} - {sqd} * {sd})"
        f" + {sd} * ({sq} * {sdy} - {sqy} * {sd})) / {det})"
    )
    b2 = (
        f"(({n} * ({sqq} * {sdy} - {sqd} * {sqy})"
        f" - {sq} * ({sq} * {sdy} - {sqy} * {sd})"
        f" + {sy} * ({sq} * {sqd} - {sqq} * {sd})) / {det})"
    )
    sse = f"({syy} - ({b0} * {sy} + {b1} * {sqy} + {b2} * {sdy}))"
    sst = f"({syy} - {sy} * {sy} / {n})"
    return f"""
WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(ROUND(l_discount * 1000, 0) AS BIGINT) AS d,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
  FROM lineitem
), m AS (
  SELECT COUNT(*) AS n, SUM(q) AS sq, SUM(d) AS sd,
         SUM(q * q) AS sqq, SUM(q * d) AS sqd, SUM(d * d) AS sdd,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(y AS HUGEINT) * q) AS sqy,
         SUM(CAST(y AS HUGEINT) * d) AS sdy,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM li
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND({b0}, 6) AS b0_cents,
       ROUND({b1}, 6) AS b1_cents,
       ROUND({b2}, 6) AS b2_cents,
       ROUND(1.0 - {sse} / {sst}, 6) AS r2
FROM m
"""


# --------------------------------------------------------------------------
# Rank-biased overlap: how stable is the top-k between two periods?
# --------------------------------------------------------------------------

RBO_P = 0.9
RBO_DEPTH = 50
RBO_SPLIT = "1998-01-01"


def rbo_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the revenue top-50 the same list it was last period?
    Rank-biased overlap (Webber et al.) between the part-revenue
    rankings of the two halves of the order history — top-weighted
    (p=0.9), so a reshuffle at rank 3 moves the score far more than
    one at rank 45; the truncated form (no extrapolation) keeps the
    metric a finite exact sum.  Revenue ranks come from one
    (part, period) cents rollup — part is a DIMENSION, so the
    per-period ranking window is catalog-bounded, never fact-sized;
    the depth grid (50 rows) and the ≤50-row common-item frame meet
    in a bounded theta join.  Output: common items, overlap@10, RBO."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", revenue_cents().alias("rev_c")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderdate") >= F.lit(RBO_SPLIT).cast("timestamp_ntz"))
        .cast("int")
        .alias("period"),
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("period", "l_partkey")
        .agg(F.sum("rev_c").alias("rev"))
    )
    w = Window.partitionBy("period").orderBy(F.desc("rev"), "l_partkey")
    ranked = (
        rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RBO_DEPTH)
        .select("period", "l_partkey", "rk")
    )
    a = ranked.filter(F.col("period") == 0).select(
        "l_partkey", F.col("rk").alias("ra")
    )
    b = ranked.filter(F.col("period") == 1).select(
        "l_partkey", F.col("rk").alias("rb")
    )
    common = a.join(b, "l_partkey").select(
        F.greatest("ra", "rb").alias("m")
    )
    depths = spark.range(1, RBO_DEPTH + 1).select(F.col("id").alias("d"))
    xd = (
        depths.join(F.broadcast(common), F.col("m") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.sum(F.col("m").isNotNull().cast("long")).alias("x"))
    )
    return (
        xd.agg(
            F.sum(
                F.lit(1.0 - RBO_P)
                * F.pow(F.lit(RBO_P), F.col("d") - 1)
                * F.col("x")
                / F.col("d")
            ).alias("rbo_raw"),
            F.sum(
                F.when(F.col("d") == 10, F.col("x")).otherwise(F.lit(0))
            ).alias("overlap_at_10"),
            F.max("x").alias("n_common"),
        )
        .select(
            "n_common",
            "overlap_at_10",
            F.round("rbo_raw", 6).alias("rbo"),
        )
    )


ORACLE_RBO = f"""
WITH li AS (
  SELECT l_orderkey, l_partkey,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
           AS rev_c
  FROM lineitem
), rev AS (
  SELECT CASE WHEN o_orderdate >= TIMESTAMP '{RBO_SPLIT}'
              THEN 1 ELSE 0 END AS period,
         l_partkey, CAST(SUM(rev_c) AS BIGINT) AS rev
  FROM li JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), ranked AS (
  SELECT period, l_partkey,
         ROW_NUMBER() OVER (PARTITION BY period
                            ORDER BY rev DESC, l_partkey) AS rk
  FROM rev
), top AS (
  SELECT * FROM ranked WHERE rk <= {RBO_DEPTH}
), common AS (
  SELECT GREATEST(a.rk, b.rk) AS m
  FROM top a JOIN top b ON a.l_partkey = b.l_partkey
  WHERE a.period = 0 AND b.period = 1
), xd AS (
  SELECT d, COUNT(m) AS x
  FROM (SELECT UNNEST(range(1, {RBO_DEPTH + 1})) AS d)
  LEFT JOIN common ON m <= d
  GROUP BY d
)
SELECT CAST(MAX(x) AS BIGINT) AS n_common,
       CAST(SUM(CASE WHEN d = 10 THEN x ELSE 0 END) AS BIGINT)
         AS overlap_at_10,
       ROUND(SUM({1.0 - RBO_P} * pow({RBO_P}, d - 1) * x / d), 6) AS rbo
FROM xd
"""


# --------------------------------------------------------------------------
# Kaplan-Meier: time-to-repeat-purchase survival with right-censoring
# --------------------------------------------------------------------------

KM_HORIZONS = (30, 60, 90, 180, 365)


def kaplan_meier_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis done honestly on censored data: P(no repeat
    purchase by day h) via the Kaplan-Meier product-limit estimator —
    customers with only one order are RIGHT-CENSORED at the end of
    history, not dropped (dropping them is the classic churn-metric
    bias).  Per customer: gap from first to second order, or censor
    time.  Everything beyond the one customer-keyed rollup runs at
    DAY grain (≤ calendar-span rows): risk sets from cumulative
    sums, each factor ln(1 − d/n) rounded to integer MICRO-NATS
    before the cumulative sum (the lm_surprisal idiom — float only
    at the exp readout), horizons via a 5-row broadcast.  Output per
    horizon: survival, events and censored so far, starting n."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    )
    w = Window.partitionBy("o_custkey").orderBy("d")
    per_cust = (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.min("d").alias("t1"),
            F.max(F.when(F.col("rk") == 2, F.col("d"))).alias("t2"),
        )
    )
    horizon_end = orders.agg(F.max("d").alias("dmax"))
    subj = per_cust.crossJoin(F.broadcast(horizon_end)).select(
        F.coalesce(
            F.datediff("t2", "t1"), F.datediff("dmax", "t1")
        ).alias("t"),
        F.col("t2").isNotNull().cast("long").alias("ev"),
    )
    day = subj.groupBy("t").agg(
        F.sum("ev").alias("d_t"),
        F.sum(F.lit(1) - F.col("ev")).alias("c_t"),
    )
    wt = Window.orderBy("t")
    total = Window.partitionBy(F.lit(0))
    km = (
        day.select(
            "t",
            "d_t",
            "c_t",
            (
                F.sum("d_t").over(total)
                + F.sum("c_t").over(total)
                - F.coalesce(
                    F.sum(F.col("d_t") + F.col("c_t")).over(
                        wt.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                )
            ).alias("n_t"),
        )
        .withColumn(
            "lnf_micro",
            F.when(
                (F.col("d_t") > 0) & (F.col("d_t") < F.col("n_t")),
                F.round(
                    F.log(
                        F.lit(1.0)
                        - F.col("d_t") / F.col("n_t").cast("double")
                    )
                    * 1e6,
                    0,
                ).cast("long"),
            )
            # risk set exhausted by events: S drops to exactly 0 —
            # encode as a -1e11 micro-nat sentinel (exp -> 0 at
            # readout, exact under integer summation)
            .when(
                (F.col("d_t") > 0) & (F.col("d_t") >= F.col("n_t")),
                F.lit(-100_000_000_000),
            )
            .otherwise(F.lit(0)),
        )
        .withColumn("cum_micro", F.sum("lnf_micro").over(wt))
        .withColumn("cum_d", F.sum("d_t").over(wt))
        .withColumn("cum_c", F.sum("c_t").over(wt))
    )
    horizons = local_frame(
        spark,
        [(h,) for h in KM_HORIZONS], "horizon_days long"
    )
    return (
        horizons.join(
            F.broadcast(km), F.col("t") <= F.col("horizon_days"), "left"
        )
        .groupBy("horizon_days")
        .agg(
            # a horizon BEFORE the first event/censor day has an empty
            # match set: survival is exactly 1.0 with zero counts (the
            # coalesces keep Spark and the oracle structurally
            # identical in that edge case instead of NULL-vs-dropped)
            F.round(
                F.exp(
                    F.coalesce(
                        F.max(F.struct("t", "cum_micro")).getField(
                            "cum_micro"
                        ),
                        F.lit(0),
                    )
                    / F.lit(1e6)
                ),
                6,
            ).alias("s_no_repeat"),
            F.coalesce(
                F.max(F.struct("t", "cum_d")).getField("cum_d"), F.lit(0)
            ).alias("n_repeats_by"),
            F.coalesce(
                F.max(F.struct("t", "cum_c")).getField("cum_c"), F.lit(0)
            ).alias("n_censored_by"),
        )
        .orderBy("horizon_days")
    )


ORACLE_KAPLAN_MEIER = f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
), rk AS (
  SELECT o_custkey, d,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY d) AS rk
  FROM o
), per_cust AS (
  SELECT o_custkey, MIN(d) AS t1,
         MAX(CASE WHEN rk = 2 THEN d END) AS t2
  FROM rk WHERE rk <= 2 GROUP BY o_custkey
), dmax AS (
  SELECT MAX(d) AS dmax FROM o
), subj AS (
  SELECT COALESCE(t2 - t1, dmax - t1) AS t,
         CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM per_cust CROSS JOIN dmax
), day AS (
  SELECT t, CAST(SUM(ev) AS BIGINT) AS d_t,
         CAST(SUM(1 - ev) AS BIGINT) AS c_t
  FROM subj GROUP BY t
), km AS (
  SELECT t, d_t, c_t,
         CAST(SUM(d_t + c_t) OVER () AS BIGINT)
           - CAST(COALESCE(SUM(d_t + c_t) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS n_t
  FROM day
), factored AS (
  SELECT t, d_t, c_t, n_t,
         CASE WHEN d_t > 0 AND d_t < n_t
              THEN CAST(ROUND(ln(1.0 - d_t / CAST(n_t AS DOUBLE)) * 1e6, 0)
                        AS BIGINT)
              WHEN d_t > 0 AND d_t >= n_t THEN -100000000000
              ELSE 0 END AS lnf_micro
  FROM km
), cum AS (
  SELECT t,
         CAST(SUM(lnf_micro) OVER (ORDER BY t) AS BIGINT) AS cum_micro,
         CAST(SUM(d_t) OVER (ORDER BY t) AS BIGINT) AS cum_d,
         CAST(SUM(c_t) OVER (ORDER BY t) AS BIGINT) AS cum_c
  FROM factored
), h AS (
  SELECT CAST(horizon_days AS BIGINT) AS horizon_days
  FROM (VALUES {", ".join(f"({h})" for h in KM_HORIZONS)}) AS t(horizon_days)
), best AS (
  SELECT horizon_days, MAX(t) AS tm
  FROM h LEFT JOIN cum ON t <= horizon_days
  GROUP BY horizon_days
)
SELECT b.horizon_days,
       ROUND(exp(COALESCE(c.cum_micro, 0) / 1e6), 6) AS s_no_repeat,
       COALESCE(c.cum_d, 0) AS n_repeats_by,
       COALESCE(c.cum_c, 0) AS n_censored_by
FROM best b LEFT JOIN cum c ON c.t = b.tm
ORDER BY b.horizon_days
"""


LOGRANK_GROUP_A = "1-URGENT"
LOGRANK_GROUP_B = "5-LOW"


def logrank_repeat_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between the repeat-purchase survival curves of
    customers whose FIRST order was urgent vs low priority — the
    inference companion to ``kaplan_meier_repeat``: KM draws the two
    curves, log-rank says whether they differ beyond censoring noise
    (the standard churn A/B readout; a naive repeat-rate comparison
    is biased exactly when censoring differs between arms).

    Construction shares KM's subject rollup (first/second order per
    customer, right-censored at end of history; first-order ties
    broken by o_orderkey in BOTH engines). At each day-grain event
    time: O₁−E₁ accumulates d_t·n₁/n and the hypergeometric variance
    d(n₁/n)(n₂/n)(n−d)/(n−1) — each term rounded to integer
    micro-units so the day-frame sums are order-free; z composes
    once at the end. Everything past the one customer-keyed rollup
    is calendar-bounded."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderpriority").alias("pri"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    rk = orders.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 2
    )
    per_cust = rk.groupBy("o_custkey").agg(
        F.min("d").alias("t1"),
        F.max(F.when(F.col("rk") == 2, F.col("d"))).alias("t2"),
        F.max(F.when(F.col("rk") == 1, F.col("pri"))).alias("pri1"),
    )
    dmax = orders.agg(F.max("d").alias("dmax"))
    subj = (
        per_cust.filter(
            F.col("pri1").isin(LOGRANK_GROUP_A, LOGRANK_GROUP_B)
        )
        .crossJoin(F.broadcast(dmax))
        .select(
            F.coalesce(
                F.datediff("t2", "t1"), F.datediff("dmax", "t1")
            ).alias("t"),
            F.col("t2").isNotNull().cast("long").alias("ev"),
            (F.col("pri1") == LOGRANK_GROUP_A).cast("long").alias("g"),
        )
    )
    day = subj.groupBy("t").agg(
        F.sum(F.col("ev") * F.col("g")).alias("d1"),
        F.sum((1 - F.col("ev")) * F.col("g")).alias("c1"),
        F.sum(F.col("ev") * (1 - F.col("g"))).alias("d2"),
        F.sum((1 - F.col("ev")) * (1 - F.col("g"))).alias("c2"),
    )
    wt = Window.orderBy("t")
    total = Window.partitionBy(F.lit(0))
    before = wt.rowsBetween(Window.unboundedPreceding, -1)
    risk = day.select(
        "t",
        "d1",
        "d2",
        (
            F.sum(F.col("d1") + F.col("c1")).over(total)
            - F.coalesce(
                F.sum(F.col("d1") + F.col("c1")).over(before), F.lit(0)
            )
        ).alias("n1"),
        (
            F.sum(F.col("d2") + F.col("c2")).over(total)
            - F.coalesce(
                F.sum(F.col("d2") + F.col("c2")).over(before), F.lit(0)
            )
        ).alias("n2"),
    )
    nt = (F.col("n1") + F.col("n2")).cast("double")
    dt = (F.col("d1") + F.col("d2")).cast("double")
    e1 = dt * F.col("n1").cast("double") / nt
    v = (
        dt
        * (F.col("n1").cast("double") / nt)
        * (F.col("n2").cast("double") / nt)
        * (nt - dt)
        / (nt - 1.0)
    )
    micro = lambda e: F.round(e * 1e6, 0).cast("long")  # noqa: E731
    terms = risk.filter(
        (F.col("d1") + F.col("d2") > 0) & (F.col("n1") + F.col("n2") > 1)
    )
    agg = terms.agg(
        F.sum("d1").alias("o1"),
        F.sum(micro(e1)).alias("e1_micro"),
        F.sum(micro(v)).alias("v_micro"),
    )
    n_arms = subj.agg(
        F.sum("g").alias("n_a"),
        F.sum(1 - F.col("g")).alias("n_b"),
    )
    j = agg.crossJoin(F.broadcast(n_arms))
    e1d = F.col("e1_micro").cast("double") / 1e6
    vd = F.col("v_micro").cast("double") / 1e6
    return j.select(
        "n_a",
        "n_b",
        F.col("o1").alias("observed_a"),
        F.round(e1d, 4).alias("expected_a"),
        F.round(
            (F.col("o1").cast("double") - e1d) / F.sqrt(vd), 6
        ).alias("z_logrank"),
    )


ORACLE_LOGRANK = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
         o_orderpriority AS pri
  FROM orders
), rk AS (
  SELECT o_custkey, d, pri,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY d, o_orderkey) AS rk
  FROM o
), per_cust AS (
  SELECT o_custkey, MIN(d) AS t1,
         MAX(CASE WHEN rk = 2 THEN d END) AS t2,
         MAX(CASE WHEN rk = 1 THEN pri END) AS pri1
  FROM rk WHERE rk <= 2 GROUP BY o_custkey
), dmax AS (
  SELECT MAX(d) AS dmax FROM o
), subj AS (
  SELECT COALESCE(t2 - t1, dmax - t1) AS t,
         CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS ev,
         CASE WHEN pri1 = '{LOGRANK_GROUP_A}' THEN 1 ELSE 0 END AS g
  FROM per_cust CROSS JOIN dmax
  WHERE pri1 IN ('{LOGRANK_GROUP_A}', '{LOGRANK_GROUP_B}')
), day AS (
  SELECT t, CAST(SUM(ev * g) AS BIGINT) AS d1,
         CAST(SUM((1 - ev) * g) AS BIGINT) AS c1,
         CAST(SUM(ev * (1 - g)) AS BIGINT) AS d2,
         CAST(SUM((1 - ev) * (1 - g)) AS BIGINT) AS c2
  FROM subj GROUP BY t
), risk AS (
  SELECT t, d1, d2,
         CAST(SUM(d1 + c1) OVER () AS BIGINT)
           - CAST(COALESCE(SUM(d1 + c1) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS n1,
         CAST(SUM(d2 + c2) OVER () AS BIGINT)
           - CAST(COALESCE(SUM(d2 + c2) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS n2
  FROM day
), agg AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(CAST(ROUND(CAST(d1 + d2 AS DOUBLE)
                  * CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
                  * 1e6, 0) AS BIGINT)) AS BIGINT) AS e1_micro,
         CAST(SUM(CAST(ROUND(CAST(d1 + d2 AS DOUBLE)
                  * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                  * (CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                  * (CAST(n1 + n2 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE))
                  / (CAST(n1 + n2 AS DOUBLE) - 1.0)
                  * 1e6, 0) AS BIGINT)) AS BIGINT) AS v_micro
  FROM risk
  WHERE d1 + d2 > 0 AND n1 + n2 > 1
), arms AS (
  SELECT CAST(SUM(g) AS BIGINT) AS n_a,
         CAST(SUM(1 - g) AS BIGINT) AS n_b
  FROM subj
)
SELECT n_a, n_b, o1 AS observed_a,
       ROUND(CAST(e1_micro AS DOUBLE) / 1e6, 4) AS expected_a,
       ROUND((CAST(o1 AS DOUBLE) - CAST(e1_micro AS DOUBLE) / 1e6)
             / sqrt(CAST(v_micro AS DOUBLE) / 1e6), 6) AS z_logrank
FROM agg CROSS JOIN arms
"""


def uplift_curve_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini-style uplift curve for repeat purchase, by account-
    balance band: treating the customer's first-order priority as
    the treatment arm (urgent vs low — the log-rank cohorts) and
    balance as the targeting score, how much INCREMENTAL repeat
    behavior does each score band add? The uplift-modeling readout
    (cum treated rate − cum control rate, and the Qini increment
    cum_rt − cum_rc·nt/nc) that decides where to stop targeting.

    Shape: one customer-keyed rollup (repeat flag + arm), one
    broadcast join onto the customer dim for the balance band, then
    every frame is band-bounded (the domain, not the data): the
    cumulative window runs over ≤|bands| rows ordered richest-first.
    All counts integer; two divisions per band mirrored textually."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderpriority").alias("pri"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    rk = orders.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 2
    )
    per_cust = rk.groupBy("o_custkey").agg(
        F.max(F.when(F.col("rk") == 2, 1).otherwise(0)).alias("repeat"),
        F.max(F.when(F.col("rk") == 1, F.col("pri"))).alias("pri1"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("band"),
    )
    subj = (
        per_cust.filter(
            F.col("pri1").isin(LOGRANK_GROUP_A, LOGRANK_GROUP_B)
        )
        .join(cust, "o_custkey")
        .select(
            "band",
            (F.col("pri1") == LOGRANK_GROUP_A).cast("long").alias("g"),
            "repeat",
        )
    )
    bands = subj.groupBy("band").agg(
        F.sum("g").alias("nt"),
        F.sum(1 - F.col("g")).alias("nc"),
        F.sum(F.col("g") * F.col("repeat")).alias("rt"),
        F.sum((1 - F.col("g")) * F.col("repeat")).alias("rc"),
    )
    wb = Window.orderBy(F.desc("band"))
    cum = bands.select(
        "band",
        F.sum("nt").over(wb).alias("cnt"),
        F.sum("nc").over(wb).alias("cnc"),
        F.sum("rt").over(wb).alias("crt"),
        F.sum("rc").over(wb).alias("crc"),
    )
    return cum.select(
        "band",
        F.col("cnt").alias("cum_treated"),
        F.col("cnc").alias("cum_control"),
        F.col("crt").alias("cum_treated_repeats"),
        F.col("crc").alias("cum_control_repeats"),
        F.round(
            F.col("crt").cast("double") / F.col("cnt").cast("double")
            - F.col("crc").cast("double") / F.col("cnc").cast("double"),
            6,
        ).alias("uplift"),
        F.round(
            F.col("crt").cast("double")
            - F.col("crc").cast("double")
            * F.col("cnt").cast("double")
            / F.col("cnc").cast("double"),
            4,
        ).alias("qini"),
    ).orderBy(F.desc("band"))


ORACLE_UPLIFT_CURVE = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
         o_orderpriority AS pri
  FROM orders
), rk AS (
  SELECT o_custkey, pri,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY d, o_orderkey) AS rk
  FROM o
), per_cust AS (
  SELECT o_custkey,
         MAX(CASE WHEN rk = 2 THEN 1 ELSE 0 END) AS repeat,
         MAX(CASE WHEN rk = 1 THEN pri END) AS pri1
  FROM rk WHERE rk <= 2 GROUP BY o_custkey
), subj AS (
  SELECT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band,
         CASE WHEN pri1 = '{LOGRANK_GROUP_A}' THEN 1 ELSE 0 END AS g,
         repeat
  FROM per_cust JOIN customer ON o_custkey = c_custkey
  WHERE pri1 IN ('{LOGRANK_GROUP_A}', '{LOGRANK_GROUP_B}')
), bands AS (
  SELECT band, CAST(SUM(g) AS BIGINT) AS nt,
         CAST(SUM(1 - g) AS BIGINT) AS nc,
         CAST(SUM(g * repeat) AS BIGINT) AS rt,
         CAST(SUM((1 - g) * repeat) AS BIGINT) AS rc
  FROM subj GROUP BY band
), cum AS (
  SELECT band,
         CAST(SUM(nt) OVER (ORDER BY band DESC) AS BIGINT) AS cnt,
         CAST(SUM(nc) OVER (ORDER BY band DESC) AS BIGINT) AS cnc,
         CAST(SUM(rt) OVER (ORDER BY band DESC) AS BIGINT) AS crt,
         CAST(SUM(rc) OVER (ORDER BY band DESC) AS BIGINT) AS crc
  FROM bands
)
SELECT band, cnt AS cum_treated, cnc AS cum_control,
       crt AS cum_treated_repeats, crc AS cum_control_repeats,
       ROUND(CAST(crt AS DOUBLE) / CAST(cnt AS DOUBLE)
             - CAST(crc AS DOUBLE) / CAST(cnc AS DOUBLE), 6) AS uplift,
       ROUND(CAST(crt AS DOUBLE)
             - CAST(crc AS DOUBLE) * CAST(cnt AS DOUBLE)
               / CAST(cnc AS DOUBLE), 4) AS qini
FROM cum
ORDER BY band DESC
"""


# ---------------------------------------------------------------------------
# Simpson's-paradox audit — pooled vs stratified association sign
# ---------------------------------------------------------------------------

def simpson_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the discount→quantity association FLIP when you
    stratify by brand? The classic aggregation trap a 100 TB
    dashboard walks into daily: the pooled regression slope can
    carry the opposite sign of (most of) the within-stratum slopes
    when strata differ in both mix and level. One row: the pooled
    OLS slope, how many brand strata agree/oppose it, and a paradox
    flag (majority of strata oppose the pooled sign).

    Exactness: discount in integer percent, quantity integer — the
    (n, Σx, Σy, Σxy, Σxx) tuples are pure BIGINT per stratum and
    pooled; slopes are per-row doubles; the sign comparisons are on
    those exact doubles."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_discount") * 100).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_brand = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    slope = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    pooled = per_brand.agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxy").alias("sxy"),
        F.sum("sxx").alias("sxx"),
    ).select(slope.alias("pooled_slope"))
    strata = per_brand.select(
        flag(slope > 0).alias("pos"), flag(slope < 0).alias("neg")
    ).agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("pos").alias("n_positive"),
        F.sum("neg").alias("n_negative"),
    )
    return (
        strata.crossJoin(F.broadcast(pooled))
        .select(
            "n_strata",
            "n_positive",
            "n_negative",
            F.round(F.col("pooled_slope"), 6).alias("pooled_slope"),
            flag(
                (
                    (F.col("pooled_slope") > 0)
                    & (F.col("n_negative") * 2 > F.col("n_strata"))
                )
                | (
                    (F.col("pooled_slope") < 0)
                    & (F.col("n_positive") * 2 > F.col("n_strata"))
                )
            ).alias("paradox_flag"),
        )
    )


ORACLE_SIMPSON = """
WITH base AS (
  SELECT p_brand,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS x,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
), per_brand AS (
  SELECT p_brand, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM base GROUP BY p_brand
), slopes AS (
  SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
  FROM per_brand
), strata AS (
  SELECT COUNT(*) AS n_strata,
         CAST(SUM(CASE WHEN slope > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_positive,
         CAST(SUM(CASE WHEN slope < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_negative
  FROM slopes
), pooled AS (
  SELECT (CAST(SUM(n) AS DOUBLE) * CAST(SUM(sxy) AS DOUBLE)
          - CAST(SUM(sx) AS DOUBLE) * CAST(SUM(sy) AS DOUBLE))
         / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(sxx) AS DOUBLE)
            - CAST(SUM(sx) AS DOUBLE) * CAST(SUM(sx) AS DOUBLE))
           AS pooled_slope
  FROM per_brand
)
SELECT n_strata, n_positive, n_negative,
       ROUND(pooled_slope, 6) AS pooled_slope,
       CASE WHEN (pooled_slope > 0 AND n_negative * 2 > n_strata)
              OR (pooled_slope < 0 AND n_positive * 2 > n_strata)
            THEN 1 ELSE 0 END AS paradox_flag
FROM strata, pooled
"""


# ---------------------------------------------------------------------------
# Positivity / overlap audit — can the causal estimate be trusted?
# ---------------------------------------------------------------------------

POSITIVITY_LO = 0.05
POSITIVITY_HI = 0.95


def positivity_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positivity (overlap) audit for the discount-treatment causal
    setup (``stratified_ate``, ``iv_wald_estimate``): per brand
    stratum, the empirical propensity P(deep discount) — any stratum
    with propensity outside [0.05, 0.95] has (near-)deterministic
    assignment there, and every stratified/IPW estimator silently
    extrapolates for it. The audit a causal pipeline must run BEFORE
    reporting an ATE; one violating stratum at 100 TB can carry
    billions of rows into the estimate.

    One join + one 25-row stratum rollup; the violation flags are
    integer comparisons cross-multiplied to avoid any float
    threshold ambiguity (t_n·100 < n·5 etc.)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", flag(F.col("l_discount") >= 0.05).alias("t")
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_brand = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("t").alias("t_n"))
    )
    violates = flag(
        (F.col("t_n") * 100 < F.col("n") * F.lit(int(POSITIVITY_LO * 100)))
        | (F.col("t_n") * 100 > F.col("n") * F.lit(int(POSITIVITY_HI * 100)))
    )
    return per_brand.select(
        "p_brand",
        "n",
        "t_n",
        F.round(F.col("t_n").cast("double") / F.col("n").cast("double"), 6)
        .alias("propensity"),
        violates.alias("violates_positivity"),
    ).orderBy("p_brand")


ORACLE_POSITIVITY = f"""
WITH per_brand AS (
  SELECT p_brand, COUNT(*) AS n,
         CAST(SUM(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)
              AS BIGINT) AS t_n
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand, n, t_n,
       ROUND(CAST(t_n AS DOUBLE) / CAST(n AS DOUBLE), 6) AS propensity,
       CASE WHEN t_n * 100 < n * {int(POSITIVITY_LO * 100)}
              OR t_n * 100 > n * {int(POSITIVITY_HI * 100)}
            THEN 1 ELSE 0 END AS violates_positivity
FROM per_brand
ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# Instrumental-variable Wald estimator with weak-instrument guard
# ---------------------------------------------------------------------------

IV_WEAK_FIRST_STAGE = 0.01  # |first stage| below this → refuse the ratio


def iv_wald_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald instrumental-variable estimate of the effect of a deep
    discount (l_discount ≥ 0.05) on line revenue, instrumented by
    part-key parity — the single-instrument 2SLS: LATE = (E[Y|Z=1] −
    E[Y|Z=0]) / (E[T|Z=1] − E[T|Z=0]). The operator's real payload
    is the WEAK-INSTRUMENT GUARD: when the first stage is under
    ``IV_WEAK_FIRST_STAGE`` (as it is here — parity is a placebo by
    construction), the ratio is refused (NULL) instead of reporting
    an exploded pseudo-effect, which is exactly what an automated
    100 TB causal dashboard must do rather than alert on noise.

    One map-combined global agg over conditional integer sums (the
    welch idiom): six BIGINTs cross the wire; every derived quantity
    is scalar double arithmetic on the 1-row result."""
    li = load_table(spark, sf_dir, "lineitem").select(
        flag(F.pmod("l_partkey", F.lit(2)) == 1).alias("z"),
        flag(F.col("l_discount") >= 0.05).alias("t"),
        revenue_cents().alias("y"),
    )
    agg = li.agg(
        F.sum("z").alias("n1"),
        F.sum(1 - F.col("z")).alias("n0"),
        F.sum(F.col("z") * F.col("t")).alias("t1"),
        F.sum((1 - F.col("z")) * F.col("t")).alias("t0"),
        F.sum(F.col("z") * F.col("y")).alias("y1"),
        F.sum((1 - F.col("z")) * F.col("y")).alias("y0"),
    )
    itt = (
        F.col("y1").cast("double") / F.col("n1")
        - F.col("y0").cast("double") / F.col("n0")
    ) / F.lit(100.0)
    fs = (
        F.col("t1").cast("double") / F.col("n1")
        - F.col("t0").cast("double") / F.col("n0")
    )
    return agg.select(
        "n1",
        "n0",
        F.round(F.col("t1").cast("double") / F.col("n1"), 6).alias(
            "takeup_z1"
        ),
        F.round(F.col("t0").cast("double") / F.col("n0"), 6).alias(
            "takeup_z0"
        ),
        F.round(itt, 6).alias("itt_usd"),
        F.round(fs, 6).alias("first_stage"),
        flag(F.abs(fs) < IV_WEAK_FIRST_STAGE).alias("weak_instrument"),
        F.round(
            F.when(F.abs(fs) >= IV_WEAK_FIRST_STAGE, itt / fs), 6
        ).alias("late_usd"),
    )


ORACLE_IV_WALD = f"""
WITH base AS (
  SELECT CASE WHEN l_partkey % 2 = 1 THEN 1 ELSE 0 END AS z,
         CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS t,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
           AS y
  FROM lineitem
), agg AS (
  SELECT CAST(SUM(z) AS BIGINT) AS n1,
         CAST(SUM(1 - z) AS BIGINT) AS n0,
         CAST(SUM(z * t) AS BIGINT) AS t1,
         CAST(SUM((1 - z) * t) AS BIGINT) AS t0,
         CAST(SUM(z * y) AS BIGINT) AS y1,
         CAST(SUM((1 - z) * y) AS BIGINT) AS y0
  FROM base
)
SELECT n1, n0,
       ROUND(CAST(t1 AS DOUBLE) / n1, 6) AS takeup_z1,
       ROUND(CAST(t0 AS DOUBLE) / n0, 6) AS takeup_z0,
       ROUND((CAST(y1 AS DOUBLE) / n1 - CAST(y0 AS DOUBLE) / n0) / 100.0,
             6) AS itt_usd,
       ROUND(CAST(t1 AS DOUBLE) / n1 - CAST(t0 AS DOUBLE) / n0, 6)
         AS first_stage,
       CASE WHEN ABS(CAST(t1 AS DOUBLE) / n1 - CAST(t0 AS DOUBLE) / n0)
                 < {IV_WEAK_FIRST_STAGE} THEN 1 ELSE 0 END
         AS weak_instrument,
       ROUND(CASE WHEN ABS(CAST(t1 AS DOUBLE) / n1
                           - CAST(t0 AS DOUBLE) / n0)
                       >= {IV_WEAK_FIRST_STAGE}
                  THEN ((CAST(y1 AS DOUBLE) / n1
                         - CAST(y0 AS DOUBLE) / n0) / 100.0)
                       / (CAST(t1 AS DOUBLE) / n1
                          - CAST(t0 AS DOUBLE) / n0)
             END, 6) AS late_usd
FROM agg
"""


QUERIES: dict[str, QuerySpec] = {
    "kaplan_meier_repeat": QuerySpec(
        kaplan_meier_repeat,
        ORACLE_KAPLAN_MEIER,
        ["A1", "§2.8", "X-ts", "X-curation"],
    ),
    "logrank_repeat_priority": QuerySpec(
        logrank_repeat_priority,
        ORACLE_LOGRANK,
        ["A1", "A4", "§2.8", "X-ts", "X-curation"],
    ),
    "uplift_curve_bands": QuerySpec(
        uplift_curve_bands,
        ORACLE_UPLIFT_CURVE,
        ["A1", "A5", "J1", "§2.8", "X-curation"],
    ),
    "rbo_rank_stability": QuerySpec(
        rbo_rank_stability, ORACLE_RBO, ["A1", "T1", "§2.8", "X-ts"]
    ),
    "ols_price_model": QuerySpec(
        ols_price_model, _ols_oracle(), ["A4", "P15", "X-curation"]
    ),
    "discount_band_elasticity": QuerySpec(
        discount_band_elasticity, ORACLE_DISCOUNT_BAND, ["A1", "P15"]
    ),
    "basket_lines_histogram": QuerySpec(
        basket_lines_histogram, ORACLE_BASKET_HISTOGRAM, ["A1", "A4"]
    ),
    "nation_trade_balance": QuerySpec(
        nation_trade_balance, ORACLE_NATION_BALANCE, ["J1", "A1", "T3"]
    ),
    "customer_churn_matrix": QuerySpec(
        customer_churn_matrix, ORACLE_CHURN_MATRIX, ["A1", "J3", "J6", "X-ts"]
    ),
    "ship_latency_stats": QuerySpec(
        ship_latency_stats, ORACLE_SHIP_LATENCY, ["A1", "J1", "X-ts"]
    ),
    "abc_xyz_parts": QuerySpec(
        abc_xyz_parts,
        ORACLE_ABC_XYZ,
        ["A1", "A5", "J1", "§2.8", "X-curation"],
    ),
    "pchart_return_rate": QuerySpec(
        pchart_return_rate,
        ORACLE_PCHART,
        ["A1", "A4", "§2.8", "X-ts"],
    ),
    "price_index_years": QuerySpec(
        price_index_years,
        ORACLE_PRICE_INDEX,
        ["A1", "A5", "J1", "§2.8", "X-ts"],
    ),
    "kendalls_w_brands": QuerySpec(
        kendalls_w_brands,
        ORACLE_KENDALLS_W,
        ["A1", "A4", "§2.8", "X-curation"],
    ),
    "eb_shrunk_return_rates": QuerySpec(
        eb_shrunk_return_rates,
        ORACLE_EB_SHRUNK,
        ["A1", "A5", "J1", "§2.8", "X-curation"],
    ),
    "return_rate_by_brand": QuerySpec(
        return_rate_by_brand, ORACLE_RETURN_RATE, ["A1", "A3", "A6", "J1", "T1"]
    ),
    "supplier_hhi_topk": QuerySpec(
        supplier_hhi_topk, ORACLE_SUPPLIER_HHI, ["A1", "A6", "T1"]
    ),
    "cohort_ltv_curve": QuerySpec(
        cohort_ltv_curve, ORACLE_COHORT_LTV, ["A1", "J1", "§2.8", "X-ts"]
    ),
    "user_saturation_curve": QuerySpec(
        user_saturation_curve, ORACLE_USER_SATURATION, ["A1", "§2.8", "X-ts"]
    ),
    "repeat_purchase_interval": QuerySpec(
        repeat_purchase_interval,
        ORACLE_REPEAT_PURCHASE,
        ["A4", "§2.8", "X-ts"],
    ),
    "funnel_by_segment": QuerySpec(
        funnel_by_segment,
        ORACLE_FUNNEL_BY_SEGMENT,
        ["A1", "A3", "J1", "§2.8", "X-ts"],
    ),
    "activity_heatmap": QuerySpec(
        activity_heatmap, ORACLE_ACTIVITY_HEATMAP, ["A1", "X-ts"]
    ),
    "rfm_segments": QuerySpec(
        rfm_segments, ORACLE_RFM_SEGMENTS, ["A1", "A4", "P15", "J1"]
    ),
    "pareto_parts": QuerySpec(
        pareto_parts, ORACLE_PARETO_PARTS, ["P16", "A1", "§2.8"]
    ),
    "regional_revenue": QuerySpec(
        regional_revenue, ORACLE_REGIONAL_REVENUE, ["J1", "A1", "T1"],
        bench=True,
    ),
    "grouping_sets_agg": QuerySpec(
        grouping_sets_agg, ORACLE_GROUPING_SETS, ["A1", "A4"]
    ),
    "correlated_subquery": QuerySpec(
        correlated_subquery, ORACLE_CORRELATED_SUBQUERY, ["J6", "A6"]
    ),
    "market_share": QuerySpec(
        market_share, ORACLE_MARKET_SHARE, ["J1", "J6", "A1", "A3"]
    ),
    "cohort_retention": QuerySpec(
        cohort_retention, ORACLE_COHORT_RETENTION, ["§2.8", "A1", "X-ts"]
    ),
    "funnel_conversion": QuerySpec(
        funnel_conversion, ORACLE_FUNNEL_CONVERSION, ["§2.8", "A3", "A4"],
        bench=True,
    ),
    "iv_wald_estimate": QuerySpec(
        iv_wald_estimate, ORACLE_IV_WALD, ["A1", "A4", "A5", "X-curation"]
    ),
    "simpson_paradox_audit": QuerySpec(
        simpson_paradox_audit,
        ORACLE_SIMPSON,
        ["A1", "A5", "J1", "X-curation"],
    ),
    "positivity_overlap_audit": QuerySpec(
        positivity_overlap_audit,
        ORACLE_POSITIVITY,
        ["A1", "A3", "J1", "X-curation"],
    ),
}
