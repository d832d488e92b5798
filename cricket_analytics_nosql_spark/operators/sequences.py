"""Ordered-sequence and distribution analytics — gaps-and-islands,
interval coalescing, market-basket co-occurrence lift, data-bounded
histograms, and proportion confidence intervals.

These extend the reference's aggregate surface (SURVEY.md §2.4's
group-by family, §2.8 windows) with the classic ordered-window
shapes a warehouse user reaches for next: run-length analysis over
event streams (streaks), merging overlapping validity windows, and
lift-style affinity scoring (the set-similarity cousin of the
co-occurrence count the reference computes for dismissal pairs,
`cypher_queries.cypher` degree/duel shapes).

Scale notes (validated via .explain, see tests/test_plans.py):
- Streaks/intervals partition their windows by the entity key, so
  per-partition state is bounded by one entity's history — the
  skewed `events.user_id` key costs a sort, never a pair blowup.
- Basket pairs are generated JVM-side from a per-order item SET
  (collect_set → sorted array → combination transform), so the
  pair count is bounded by basket size squared — TPC-H baskets are
  ≤7 items; for long-tail corpora cap the basket or pre-prune to
  frequent items (FP-growth discipline) before pairing.
- The histogram's bounds aggregate is O(1) rows broadcast back;
  binning is integer-cents arithmetic (functions/scalar.py) so
  bucket edges are exact and partial aggregation is safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.functions.scalar import cents, dollars, epoch_day, flag
from cricket_analytics_nosql_spark.operators.spec import QuerySpec
from cricket_analytics_nosql_spark.session import local_frame
from cricket_analytics_nosql_spark.sources.tables import load_table

def _day(col: str) -> F.Column:
    return epoch_day(col).alias("day")


def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, runs of CONSECUTIVE active days,
    reduced to a distribution (longest streak → user count, total
    islands) so the output is scale-stable.

    Plan: one Exchange(user_id) feeds both window passes (lag and
    the running island-id sum share the same partitioning+sort), a
    keyed agg per (user, island), then two tiny rollups.  Duplicate
    same-day events need no pre-dedup: a 0-day gap neither opens an
    island nor stretches the min/max day bounds that define streak
    length, so the window runs straight off the scan.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", _day("ts"))
    w = Window.partitionBy("user_id").orderBy("day")
    gap = F.col("day") - F.lag("day").over(w)
    opens = F.when(gap.isNull() | (gap > 1), 1).otherwise(0)
    islands = ev.withColumn(
        "island",
        F.sum(opens).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("day") - F.min("day") + 1).alias("streak_days")
    )
    per_user = per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("streak_days").alias("longest_streak"),
    )
    return (
        per_user.groupBy("longest_streak")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_islands").alias("total_islands"),
        )
        .orderBy("longest_streak")
    )


ORACLE_ACTIVITY_STREAKS = """
WITH ev AS (
  SELECT user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day
  FROM events
), flagged AS (
  SELECT user_id, day,
         CASE WHEN day - LAG(day) OVER (PARTITION BY user_id ORDER BY day)
                   IS NULL
                OR day - LAG(day) OVER (PARTITION BY user_id ORDER BY day) > 1
              THEN 1 ELSE 0 END AS opens
  FROM ev
), islands AS (
  SELECT user_id, day,
         SUM(opens) OVER (PARTITION BY user_id ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), per_island AS (
  SELECT user_id, island, MAX(day) - MIN(day) + 1 AS streak_days
  FROM islands GROUP BY user_id, island
), per_user AS (
  SELECT user_id, COUNT(*) AS n_islands, MAX(streak_days) AS longest_streak
  FROM per_island GROUP BY user_id
)
SELECT longest_streak, COUNT(*) AS n_users,
       CAST(SUM(n_islands) AS BIGINT) AS total_islands
FROM per_user GROUP BY longest_streak ORDER BY longest_streak
"""


def interval_merge_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (the other half of the overlap-join pair,
    `overlap_join_contracts`): each order opens a 30-day service
    window [day, day+30]; per customer, merge every overlapping
    window (start ≤ running max end) into maximal spans, then report
    the distribution: merged-span count per customer → customers,
    total covered days.

    The merge is the running-max window form — sort each customer's
    intervals by start, an interval starts a new span iff its start
    exceeds the max end seen so far — which is O(n log n) per key
    and never materializes interval pairs, unlike the quadratic
    self-join formulation.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", _day("o_orderdate")
    )
    iv = orders.select(
        "o_custkey",
        F.col("day").alias("d0"),
        (F.col("day") + 30).alias("d1"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d0", "d1")
    prev_end = F.max("d1").over(w.rowsBetween(Window.unboundedPreceding, -1))
    opens = F.when(prev_end.isNull() | (F.col("d0") > prev_end), 1).otherwise(0)
    spans = (
        iv.withColumn(
            "span",
            F.sum(opens).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("o_custkey", "span")
        .agg((F.max("d1") - F.min("d0") + 1).alias("covered"))
    )
    per_cust = spans.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("covered").alias("covered_days"),
    )
    return (
        per_cust.groupBy("n_spans")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("covered_days").alias("total_covered_days"),
        )
        .orderBy("n_spans")
    )


ORACLE_INTERVAL_MERGE = """
WITH iv AS (
  SELECT o_custkey,
         CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
              AS BIGINT) AS d0,
         CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
              AS BIGINT) + 30 AS d1
  FROM orders
), flagged AS (
  SELECT o_custkey, d0, d1,
         CASE WHEN MAX(d1) OVER (PARTITION BY o_custkey ORDER BY d0, d1
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) IS NULL
                OR d0 > MAX(d1) OVER (PARTITION BY o_custkey ORDER BY d0, d1
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS opens
  FROM iv
), spans AS (
  SELECT o_custkey, d0, d1,
         SUM(opens) OVER (PARTITION BY o_custkey ORDER BY d0, d1
                          ROWS UNBOUNDED PRECEDING) AS span
  FROM flagged
), merged AS (
  SELECT o_custkey, span, MAX(d1) - MIN(d0) + 1 AS covered
  FROM spans GROUP BY o_custkey, span
), per_cust AS (
  SELECT o_custkey, COUNT(*) AS n_spans, SUM(covered) AS covered_days
  FROM merged GROUP BY o_custkey
)
SELECT n_spans, COUNT(*) AS n_customers,
       CAST(SUM(covered_days) AS BIGINT) AS total_covered_days
FROM per_cust GROUP BY n_spans ORDER BY n_spans
"""


# Basket-rollup materialization gate for frequent_triples, in
# estimated INPUT bytes of the lineitem scan (Catalyst file-size
# stats — no job). Below it the five redundant basket builds are
# parallel stage work on otherwise idle local cores and a
# materialization barrier is pure added latency (round-11 interleaved
# A/B: 1.91 s lazy vs 2.28 s checkpointed at the sf0.1 ~11 MB scan);
# above roughly two 128 MB scan task-widths the rebuilds stop being
# free — five of them is 4 extra full passes over the fact table —
# and one checkpoint wins on any real cluster.
_BASKET_CKPT_MIN_INPUT_BYTES = 256 << 20


def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets of part BRANDS co-ordered in one order,
    with 3-way lift = P(abc)/(P(a)P(b)P(c)) — the next level of
    ``market_basket_lift``'s pair affinity (A8 co-occurrence shape,
    a-priori semantics). Top 10 by support.

    Why this is NOT the textbook candidate-join a-priori: the item
    space here is domain-bounded (|brands| ≈ 25 → ≤ C(25,3) = 2 300
    possible triples at ANY scale factor), so the right distributed
    plan generates triples JVM-side from each order's sorted
    distinct-brand array inside the one order-keyed stage (the
    market_basket_lift idiom — no self-joins, no candidate
    exchange) and lets the map-side combine collapse the stream to
    the ≤2 300-row triple frame. The a-priori machinery (L2 prune
    before counting C3) pays off only when the itemset lattice
    outgrows memory — here it would add three joins to produce the
    IDENTICAL result (support(abc) ≥ minsup already implies every
    sub-pair qualifies — the apriori property).

    Exactness: supports and marginals are exact BIGINTs off one
    basket rollup; the lift products are computed in double (cast
    BEFORE multiplying — support·n² and the marginal product both
    approach 2^63 around sf10, and the doubles are exact below
    2^53 so test-SF values are bit-identical to the integer
    form)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    db = (
        li.join(
            # no broadcast hint: part scales with SF — AQE decides
            load_table(spark, sf_dir, "part").select(
                "p_partkey", "p_brand"
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
    )
    # The basket rollup feeds FIVE lazy consumers (triple counts, 3
    # marginal broadcasts, the basket total), and broadcast subtrees
    # don't share work — left lazy, the lineitem⋈part build executes
    # once per consumer. Round 11 measured that an unconditional
    # localCheckpoint LOSES locally (1.91 → 2.28 s best: the
    # redundant builds were parallel stage work on idle cores and
    # the barrier was pure added latency), so — VERDICT r11 item 2 —
    # the materialization is gated on the MEASURED input size (the
    # superstep loop's keyed-edge gate, but from the scan's Catalyst
    # size estimate so the gate itself costs no job): below the gate
    # today's parallel-redundant plan stays (the sf0.1 bench scan is
    # ~11 MB — untouched), above it one materialization replaces
    # five corpus-sized builds (scans 10 → 2). Equality across the
    # gate is pinned by test (gate forced to 0).
    if (
        int(li._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        >= _BASKET_CKPT_MIN_INPUT_BYTES
    ):
        db = db.localCheckpoint()
    triples_expr = F.expr(
        """
        flatten(flatten(transform(bs, (x, i) ->
          transform(slice(bs, i + 2, size(bs)), (y, j) ->
            transform(slice(bs, i + j + 3, size(bs)),
                      z -> struct(x AS a, y AS b, z AS c))))))
        """
    )
    t_cnt = (
        db.select(F.explode(triples_expr).alias("t"))
        .groupBy(
            F.col("t.a").alias("a"),
            F.col("t.b").alias("b"),
            F.col("t.c").alias("c"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
    )
    marg = (
        db.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_b = db.select(F.count(F.lit(1)).alias("n"))
    m = lambda col: marg.select(  # noqa: E731
        F.col("brand").alias(col), F.col("cnt").alias(f"c_{col}")
    )
    return (
        t_cnt.join(F.broadcast(m("a")), "a")
        .join(F.broadcast(m("b")), "b")
        .join(F.broadcast(m("c")), "c")
        .crossJoin(F.broadcast(n_b))
        .select(
            "a",
            "b",
            "c",
            "support",
            F.round(
                F.col("support").cast("double") / F.col("n").cast("double"),
                6,
            ).alias("support_ratio"),
            # double BEFORE multiplying: support·n² and c_a·c_b·c_c
            # near 2^63 at sf≳10 would silently wrap in BIGINT
            # (exact below 2^53 either way, so parity is unchanged)
            F.round(
                (F.col("support").cast("double") * F.col("n") * F.col("n"))
                / (F.col("c_a").cast("double") * F.col("c_b") * F.col("c_c")),
                6,
            ).alias("lift3"),
        )
        .orderBy(F.desc("support"), "a", "b", "c")
        .limit(10)
    )


ORACLE_FREQUENT_TRIPLES = """
WITH db AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), t_cnt AS (
  SELECT x.p_brand AS a, y.p_brand AS b, z.p_brand AS c,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM db x
  JOIN db y ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
  JOIN db z ON y.l_orderkey = z.l_orderkey AND y.p_brand < z.p_brand
  GROUP BY 1, 2, 3
), marg AS (
  SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM db GROUP BY p_brand
), n_b AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM db
)
SELECT a, b, c, support,
       ROUND(CAST(support AS DOUBLE) / CAST(n AS DOUBLE), 6)
         AS support_ratio,
       ROUND((CAST(support AS DOUBLE) * n * n)
             / (CAST(ma.cnt AS DOUBLE) * mb.cnt * mc.cnt), 6) AS lift3
FROM t_cnt
JOIN marg ma ON ma.brand = a
JOIN marg mb ON mb.brand = b
JOIN marg mc ON mc.brand = c
CROSS JOIN n_b
ORDER BY support DESC, a, b, c
LIMIT 10
"""


def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-ordered in the same
    order, scored by lift = P(a,b) / (P(a)·P(b)); top 20 pairs by
    co-order count.  The reference's co-occurrence shape (A8,
    dismissal duels) generalized to the affinity statistic used for
    corpus mixture analysis and recommender candidate generation.

    The fact is shuffled on the order key once for the heavy work:
    groupBy(order) → sorted item set; pairs come from a JVM-side
    combination transform over that array (never a self-join — the
    pair stream is generated inside the same stage) and marginals
    from exploding the same sets, with Catalyst's ReuseExchange
    deduping the shared per-order shuffle (verified in the adaptive
    final plan).  The global order total deliberately does NOT
    reuse it: Catalyst prunes that branch to a single-column scan +
    keys-only shuffle, which at 100 TB is cheaper than re-reading
    the cached wide exchange.  The lift joins then run over
    aggregate-sized frames (|parts|, not |lineitem|) and broadcast.
    Lift arithmetic is exact: integer count products inside a
    single double division.
    """
    dp = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs_expr = F.expr(
        """
        flatten(transform(parts, (x, i) ->
          transform(slice(parts, i + 2, size(parts)),
                    y -> struct(x AS p1, y AS p2))))
        """
    )
    pair_counts = (
        dp.select(F.explode(pairs_expr).alias("pr"))
        .groupBy(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )
    marginals = (
        dp.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_orders = dp.select(F.count(F.lit(1)).alias("n"))
    m1 = marginals.select(F.col("part").alias("p1"), F.col("cnt").alias("c1"))
    m2 = marginals.select(F.col("part").alias("p2"), F.col("cnt").alias("c2"))
    return (
        pair_counts.join(m1, "p1")
        .join(m2, "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "pair_cnt",
            F.round(
                (F.col("pair_cnt") * F.col("n")).cast("double")
                / (F.col("c1") * F.col("c2")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_cnt"), "p1", "p2")
        .limit(20)
    )


ORACLE_MARKET_BASKET = """
WITH dp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS pair_cnt
  FROM dp a JOIN dp b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
), marg AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM dp GROUP BY l_partkey
), tot AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n FROM dp
)
SELECT p1, p2, pair_cnt,
       ROUND(CAST(pair_cnt * n AS DOUBLE) / (m1.cnt * m2.cnt), 6) AS lift
FROM pairs
JOIN marg m1 ON m1.l_partkey = p1
JOIN marg m2 ON m2.l_partkey = p2
CROSS JOIN tot
ORDER BY pair_cnt DESC, p1, p2
LIMIT 20
"""


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals with DATA-DERIVED bounds
    — the profiling primitive behind quantile-trim curation and
    storage-layout decisions.  Two-pass: an O(1)-row min/max
    aggregate is broadcast back onto the fact stream, then binning
    is pure integer-cents arithmetic (exact edges, no float
    boundary drift) feeding one keyed agg over ≤16 groups.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        cents(F.col("o_totalprice")).alias("price_c")
    )
    bounds = orders.agg(
        F.min("price_c").alias("min_c"), F.max("price_c").alias("max_c")
    )
    nbins = 16
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.expr(f"((price_c - min_c) * {nbins}) div (max_c - min_c + 1)"),
            F.lit(nbins - 1).cast("long"),
        ).alias("bin"),
        "price_c",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dollars(F.sum("price_c")).alias("sum_price"),
            dollars(F.min("price_c")).alias("min_price"),
            dollars(F.max("price_c")).alias("max_price"),
        )
        .orderBy("bin")
    )


ORACLE_VALUE_HISTOGRAM = """
WITH c AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c FROM orders
), b AS (
  SELECT MIN(price_c) AS min_c, MAX(price_c) AS max_c FROM c
), binned AS (
  SELECT LEAST(((price_c - min_c) * 16) // (max_c - min_c + 1), 15) AS bin,
         price_c
  FROM c CROSS JOIN b
)
SELECT bin, COUNT(*) AS n_orders,
       SUM(price_c) / 100.0 AS sum_price,
       MIN(price_c) / 100.0 AS min_price,
       MAX(price_c) / 100.0 AS max_price
FROM binned GROUP BY bin ORDER BY bin
"""


def ab_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-style conversion readout with Wilson score intervals —
    the experiment-analysis aggregate: users split into two variants
    (parity of user_id — a stand-in for an assignment column), per
    variant the exposed-user count, converters (≥1 purchase event),
    the conversion rate and its 95% Wilson interval.

    Per-user flags are one conditional aggregate over the pruned
    (user, type) stream; the interval is closed-form arithmetic on
    the two counts, written as the identical expression tree on
    both engines so the 6-dp rounding sees bit-identical doubles.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    )
    counts = (
        per_user.groupBy(F.pmod("user_id", F.lit(2)).alias("variant"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").alias("n_converted"),
        )
    )
    n = F.col("n_users").cast("double")
    p = F.col("n_converted") / F.col("n_users")
    z2 = F.lit(1.96 * 1.96)
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(1.96)
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
        / denom
    )
    return counts.select(
        "variant",
        "n_users",
        "n_converted",
        F.round(p, 6).alias("conv_rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    ).orderBy("variant")


ORACLE_AB_WILSON = """
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), counts AS (
  SELECT user_id % 2 AS variant, COUNT(*) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_converted
  FROM per_user GROUP BY user_id % 2
)
SELECT variant, n_users, n_converted,
       ROUND(n_converted / CAST(n_users AS DOUBLE), 6) AS conv_rate,
       ROUND(((n_converted / CAST(n_users AS DOUBLE))
               + (1.96 * 1.96) / (2.0 * CAST(n_users AS DOUBLE)))
             / (1.0 + (1.96 * 1.96) / CAST(n_users AS DOUBLE))
             - 1.96 * sqrt((n_converted / CAST(n_users AS DOUBLE))
                           * (1.0 - n_converted / CAST(n_users AS DOUBLE))
                           / CAST(n_users AS DOUBLE)
                           + (1.96 * 1.96)
                             / (4.0 * CAST(n_users AS DOUBLE)
                                    * CAST(n_users AS DOUBLE)))
               / (1.0 + (1.96 * 1.96) / CAST(n_users AS DOUBLE)), 6)
         AS wilson_lo,
       ROUND(((n_converted / CAST(n_users AS DOUBLE))
               + (1.96 * 1.96) / (2.0 * CAST(n_users AS DOUBLE)))
             / (1.0 + (1.96 * 1.96) / CAST(n_users AS DOUBLE))
             + 1.96 * sqrt((n_converted / CAST(n_users AS DOUBLE))
                           * (1.0 - n_converted / CAST(n_users AS DOUBLE))
                           / CAST(n_users AS DOUBLE)
                           + (1.96 * 1.96)
                             / (4.0 * CAST(n_users AS DOUBLE)
                                    * CAST(n_users AS DOUBLE)))
               / (1.0 + (1.96 * 1.96) / CAST(n_users AS DOUBLE)), 6)
         AS wilson_hi
FROM counts ORDER BY variant
"""


def chi_square_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence over the event_type × variant
    contingency table — the categorical sibling of the Wilson
    readout (is behavior independent of assignment?).  The fact
    stream collapses to the O(|types| × 2)-row contingency table in
    one keyed agg; expected counts, per-cell contributions, and the
    global statistic are then window arithmetic over that METADATA-
    sized frame (the unpartitioned total window is over ≤12 rows by
    construction — never the fact).  Identical expression trees on
    both engines; 6-dp rounding on top of exact integer marginals.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.pmod("user_id", F.lit(2)).alias("variant")
    )
    cells = ev.groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).alias("observed")
    )
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("variant")
    w_all = Window.partitionBy()
    with_tot = cells.select(
        "event_type",
        "variant",
        "observed",
        F.sum("observed").over(w_row).alias("row_tot"),
        F.sum("observed").over(w_col).alias("col_tot"),
        F.sum("observed").over(w_all).alias("n"),
    )
    expected = (F.col("row_tot") * F.col("col_tot")) / F.col("n")
    contrib = (
        (F.col("observed") - expected)
        * (F.col("observed") - expected)
        / expected
    )
    return (
        with_tot.select(
            "event_type",
            "variant",
            "observed",
            F.round(expected, 6).alias("expected"),
            F.round(contrib, 6).alias("contrib"),
            F.round(F.sum(contrib).over(w_all), 6).alias("chi2_total"),
        )
        .orderBy("event_type", "variant")
    )


ORACLE_CHI_SQUARE = """
WITH cells AS (
  SELECT event_type, user_id % 2 AS variant, COUNT(*) AS observed
  FROM events GROUP BY event_type, user_id % 2
), tot AS (
  SELECT event_type, variant, observed,
         SUM(observed) OVER (PARTITION BY event_type) AS row_tot,
         SUM(observed) OVER (PARTITION BY variant) AS col_tot,
         SUM(observed) OVER () AS n
  FROM cells
)
SELECT event_type, variant, observed,
       ROUND((row_tot * col_tot) / n, 6) AS expected,
       ROUND((observed - (row_tot * col_tot) / n)
             * (observed - (row_tot * col_tot) / n)
             / ((row_tot * col_tot) / n), 6) AS contrib,
       ROUND(SUM((observed - (row_tot * col_tot) / n)
                 * (observed - (row_tot * col_tot) / n)
                 / ((row_tot * col_tot) / n)) OVER (), 6) AS chi2_total
FROM tot ORDER BY event_type, variant
"""


def event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining, smallest useful form: the most
    common 3-event behavior sequences (trigrams) across users — the
    path-analysis primitive behind "what do users do before
    purchasing".  Two ``lead``s over one user-key exchange build
    each user's sliding trigram window; patterns whose windows span
    users are impossible by construction (lead returns null past
    the partition end, and null-completed trigrams are dropped).
    Counting is a map-combined agg over the tiny pattern space.
    Ties break lexicographically so top-20 is deterministic."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.concat_ws(
            ">",
            F.col("event_type"),
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ).alias("pattern"),
        F.lead("event_type", 2).over(w).alias("__third"),
    ).filter(F.col("__third").isNotNull())
    return (
        tri.groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pattern")
        .limit(20)
    )


ORACLE_EVENT_TRIGRAMS = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e3
  FROM events
)
SELECT event_type || '>' || e2 || '>' || e3 AS pattern,
       COUNT(*) AS n_occurrences
FROM seq WHERE e3 IS NOT NULL
GROUP BY pattern
ORDER BY n_occurrences DESC, pattern
LIMIT 20
"""


def source_drift_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift detection: pairwise cosine similarity between
    the char-bigram count profiles of every source pair — the QA
    readout that catches a scrape gone wrong or cross-source
    contamination before training does.  Profiles are integer
    bigram counts (one narrow explode + keyed agg); the pairwise
    dot products come from an INVERTED-INDEX self-join on the
    bigram key — cost scales with shared vocabulary, never
    |sources|² × |vocab| — and norms join in from a per-source
    aggregate.  |sources|-sized output."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("source", "text")
        # texts of length <= 1 have no bigram; Spark's sequence()
        # would otherwise step DOWNWARD for start > stop (sequence(1,0)
        # = [1, 0]) while the oracle's generate_series yields no rows
        .filter(F.length("text") > 1)
    )
    grams = docs.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("g"),
    )
    prof = grams.groupBy("source", "g").agg(F.count(F.lit(1)).alias("c"))
    norms = prof.groupBy("source").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("norm")
    )
    a = prof.select(
        F.col("source").alias("s1"), "g", F.col("c").alias("c1")
    )
    b = prof.select(
        F.col("source").alias("s2"), "g", F.col("c").alias("c2")
    )
    dots = (
        a.join(b, "g")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.sum(F.col("c1") * F.col("c2")).alias("dot"))
    )
    n1 = norms.select(F.col("source").alias("s1"), F.col("norm").alias("n1"))
    n2 = norms.select(F.col("source").alias("s2"), F.col("norm").alias("n2"))
    return (
        dots.join(n1, "s1")
        .join(n2, "s2")
        .select(
            "s1",
            "s2",
            F.round(F.col("dot") / (F.col("n1") * F.col("n2")), 6).alias(
                "cosine"
            ),
        )
        .orderBy("s1", "s2")
    )


ORACLE_SOURCE_DRIFT = """
WITH grams AS (
  SELECT source,
         substr(text, CAST(i.i AS INT), 2) AS g
  FROM documents
  CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, length(text) - 1)) AS i
  ) i
  WHERE length(text) > 1
), prof AS (
  SELECT source, g, COUNT(*) AS c FROM grams GROUP BY source, g
), norms AS (
  SELECT source, sqrt(SUM(c * c)) AS norm FROM prof GROUP BY source
), dots AS (
  SELECT a.source AS s1, b.source AS s2, SUM(a.c * b.c) AS dot
  FROM prof a JOIN prof b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s1, s2, ROUND(dot / (x.norm * y.norm), 6) AS cosine
FROM dots
JOIN norms x ON x.source = s1
JOIN norms y ON y.source = s2
ORDER BY s1, s2
"""


# ---------------------------------------------------------------------------
# Time-series gap fill with linear interpolation ($densify + linear $fill)
# ---------------------------------------------------------------------------

def gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify each user's daily value series to its full [first
    active day, last active day] span and LINEARLY interpolate the
    missing days — the repair step the pipeline dialect's ``$fill``
    deliberately refuses (``method: "linear"`` needs both
    neighbours; ``_compile_fill`` raises), delivered here natively.
    Output: the interpolated rows only.

    Plan: daily rollup (one exchange on (user, day) with map-side
    combine) → per-user span aggregate → ``sequence``-explode of the
    dense day range (generated rows ≈ span-days per user, never
    event-sized) → left join the observed values back → ONE exchange
    on user_id under four window passes (prev/next value and their
    observation days via running ``last/first ignorenulls`` frames).
    Interior gaps always have both neighbours (span endpoints are
    observed by construction), so the interpolation has no edge
    cases. Arithmetic is exact-cents longs until a single double
    division shared verbatim with the oracle — bit-identical.

    At 100 TB the generated grid is the thing to watch: span-days ×
    users; a user with one event in 2019 and one in 2024 generates
    1800 rows. Cap the span (or bucket coarser) when the grid would
    dominate the fact table — the plan shape doesn't change."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", epoch_day("ts").alias("day")
    ).agg(F.sum(cents(F.col("value"))).alias("c"))
    return interpolate_missing_days(daily)


def interpolate_missing_days(daily: DataFrame) -> DataFrame:
    """The gap-fill core over any (user_id, day, c·cents) frame —
    see ``gap_fill_interpolate`` for semantics and plan."""
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    dense = span.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("day")
    )
    g = dense.join(daily, ["user_id", "day"], "left")
    w = Window.partitionBy("user_id").orderBy("day")
    wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs_day = F.when(F.col("c").isNotNull(), F.col("day"))
    filled = (
        g.withColumn("pv", F.last("c", ignorenulls=True).over(wp))
        .withColumn("pd", F.last(obs_day, ignorenulls=True).over(wp))
        .withColumn("nv", F.first("c", ignorenulls=True).over(wn))
        .withColumn("nd", F.first(obs_day, ignorenulls=True).over(wn))
        .filter(F.col("c").isNull())
    )
    value = (
        F.col("pv")
        + ((F.col("nv") - F.col("pv")) * (F.col("day") - F.col("pd")))
        / (F.col("nd") - F.col("pd"))
    ) / F.lit(100.0)
    return filled.select(
        "user_id", "day", value.alias("value")
    ).orderBy("user_id", "day")


ORACLE_GAP_FILL = """
WITH daily AS (
  SELECT user_id,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS c
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1
), dense AS (
  SELECT user_id, UNNEST(range(lo, hi + 1)) AS day FROM span
), g AS (
  SELECT d.user_id, d.day, daily.c
  FROM dense d LEFT JOIN daily
    ON d.user_id = daily.user_id AND d.day = daily.day
), w AS (
  SELECT user_id, day, c,
    LAST_VALUE(c IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    LAST_VALUE(CASE WHEN c IS NOT NULL THEN day END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    FIRST_VALUE(c IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    FIRST_VALUE(CASE WHEN c IS NOT NULL THEN day END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM g
)
SELECT user_id, day,
       (pv + ((nv - pv) * (day - pd)) / (nd - pd)) / 100.0 AS value
FROM w WHERE c IS NULL
ORDER BY user_id, day
"""


# ---------------------------------------------------------------------------
# Multi-touch attribution (first / last / linear) in one sorted pass
# ---------------------------------------------------------------------------

ATTR_WINDOW_US = 7 * 86_400 * 1_000_000  # 7-day lookback


def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-attribution readout: every purchase's value credited
    to the view/click touches in its 7-day lookback under THREE
    models at once — first-touch, last-touch, linear — without ever
    materializing (purchase × touch) pairs.

    The naive spelling is a per-user interval join: user equi-key,
    ts-range residual — quadratic per hot user on the documented
    skew column. Instead, the union-tag discipline (the asof_join
    plan) generalized to range queries: union three tagged row kinds
    — window-START probes (purchase at ts−7d), touches, window-END
    probes (purchase at ts) — sort once per user, and read every
    model off running counters:

    - touches-in-window (and per-type splits) = running touch count
      at the END probe minus at the START probe (probe pairs meet by
      purchase id in a purchase-sized equi-join);
    - last-touch = running ``last(touch, ignorenulls)`` at the END
      probe (in-window by construction when the window count > 0);
    - first-touch = the (start_count + 1)-th touch, fetched by ONE
      (user, ordinal) equi-join against the touch stream — an index
      lookup, not a scan.

    Kind ordering at equal timestamps (START < touch < END) IS the
    closed-interval rule [ts−7d, ts], stated once and shared with
    the oracle. Money: exact cents in, attribution in integer
    MICRO-cents with truncating division (the linear model's
    remainder — < n micro-cents per purchase — stays deliberately
    unattributed; both engines truncate identically). Purchases with
    an empty window credit 'none' in full. One exchange on user_id
    + two purchase-sized equi-joins — nothing pair-sized anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    # cast: the parquet column is TIMESTAMP_NTZ and unix_micros only
    # accepts TIMESTAMP (same one-spelling rule as scalar.epoch_day)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        us.alias("t"),
        "event_id",
        F.lit(1).alias("kind"),
        F.col("event_type").alias("tt"),
        F.lit(None).cast("long").alias("c"),
        F.lit(None).cast("long").alias("pid"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("pt"), "event_id", cents(F.col("value")).alias("pc")
    )
    probe_a = purch.select(
        "user_id",
        F.col("pt").alias("t"),
        "event_id",
        F.lit(2).alias("kind"),
        F.lit(None).cast("string").alias("tt"),
        F.col("pc").alias("c"),
        F.col("event_id").alias("pid"),
    )
    probe_b = purch.select(
        "user_id",
        (F.col("pt") - ATTR_WINDOW_US).alias("t"),
        "event_id",
        F.lit(0).alias("kind"),
        F.lit(None).cast("string").alias("tt"),
        F.lit(None).cast("long").alias("c"),
        F.col("event_id").alias("pid"),
    )
    tagged = touches.unionByName(probe_a).unionByName(probe_b)
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_touch = F.col("kind") == 1
    scanned = (
        tagged.withColumn("cum_t", F.sum(F.when(is_touch, 1).otherwise(0)).over(w))
        .withColumn(
            "cum_v",
            F.sum(F.when(is_touch & (F.col("tt") == "view"), 1).otherwise(0)).over(w),
        )
        .withColumn(
            "last_tt", F.last(F.when(is_touch, F.col("tt")), ignorenulls=True).over(w)
        )
    )
    at_a = scanned.filter(F.col("kind") == 2).select(
        "user_id",
        "pid",
        "c",
        F.col("cum_t").alias("ta"),
        F.col("cum_v").alias("va"),
        "last_tt",
    )
    at_b = scanned.filter(F.col("kind") == 0).select(
        F.col("pid").alias("pid_b"),
        F.col("cum_t").alias("tb"),
        F.col("cum_v").alias("vb"),
    )
    touch_idx = scanned.filter(is_touch).select(
        F.col("user_id").alias("iu"),
        F.col("cum_t").alias("ord"),
        F.col("tt").alias("first_tt_raw"),
    )
    per_purchase = (
        at_a.join(at_b, at_a["pid"] == at_b["pid_b"])
        .withColumn("n_w", F.col("ta") - F.col("tb"))
        .withColumn("nv", F.col("va") - F.col("vb"))
        .withColumn("nc", F.col("n_w") - F.col("nv"))
        .join(
            touch_idx,
            (F.col("user_id") == F.col("iu"))
            & (F.col("ord") == F.col("tb") + 1),
            "left",
        )
    )
    has = F.col("n_w") > 0
    micros = F.col("c") * F.lit(1_000_000)
    contributions = per_purchase.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.when(has, F.col("first_tt_raw"))
                    .otherwise("none")
                    .alias("touch_type"),
                    micros.alias("attributed_micros"),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.when(has, F.col("last_tt"))
                    .otherwise("none")
                    .alias("touch_type"),
                    micros.alias("attributed_micros"),
                ),
                F.struct(
                    F.lit("linear").alias("model"),
                    F.lit("view").alias("touch_type"),
                    F.when(
                        has, F.expr("(c * 1000000 * nv) div n_w")
                    ).otherwise(F.lit(0)).alias("attributed_micros"),
                ),
                F.struct(
                    F.lit("linear").alias("model"),
                    F.lit("click").alias("touch_type"),
                    F.when(
                        has, F.expr("(c * 1000000 * nc) div n_w")
                    ).otherwise(F.lit(0)).alias("attributed_micros"),
                ),
                F.struct(
                    F.lit("linear").alias("model"),
                    F.lit("none").alias("touch_type"),
                    F.when(has, F.lit(0)).otherwise(micros).alias(
                        "attributed_micros"
                    ),
                ),
            )
        ).alias("x")
    ).select("x.*")
    return (
        contributions.groupBy("model", "touch_type")
        .agg(F.sum("attributed_micros").alias("attributed_micros"))
        .filter(F.col("attributed_micros") > 0)
        .orderBy("model", "touch_type")
    )


ORACLE_MULTI_TOUCH = f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS pt, event_id AS pid,
         CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
), t AS (
  SELECT user_id, epoch_us(ts) AS tt_us, event_id AS teid,
         event_type AS tt
  FROM events WHERE event_type IN ('view', 'click')
), pairs AS (
  SELECT p.pid, p.c, t.tt, t.tt_us, t.teid
  FROM p JOIN t
    ON t.user_id = p.user_id
   AND t.tt_us >= p.pt - {ATTR_WINDOW_US}
   AND t.tt_us <= p.pt
), per AS (
  SELECT pid, ANY_VALUE(c) AS c, COUNT(*) AS n_w,
         SUM(CASE WHEN tt = 'view' THEN 1 ELSE 0 END) AS nv,
         SUM(CASE WHEN tt = 'click' THEN 1 ELSE 0 END) AS nc
  FROM pairs GROUP BY pid
), first_last AS (
  SELECT pid,
         MIN(CASE WHEN rn_first = 1 THEN tt END) AS first_tt,
         MIN(CASE WHEN rn_last = 1 THEN tt END) AS last_tt
  FROM (
    SELECT pid, tt,
           ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tt_us ASC, teid ASC)
             AS rn_first,
           ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tt_us DESC, teid DESC)
             AS rn_last
    FROM pairs
  ) GROUP BY pid
), scored AS (
  SELECT per.pid, per.c, per.n_w, per.nv, per.nc,
         first_last.first_tt, first_last.last_tt
  FROM per JOIN first_last ON per.pid = first_last.pid
), contributions AS (
  SELECT 'first_touch' AS model, first_tt AS touch_type,
         c * 1000000 AS attributed_micros
  FROM scored
  UNION ALL
  SELECT 'last_touch', last_tt, c * 1000000 FROM scored
  UNION ALL
  SELECT 'linear', 'view', (c * 1000000 * nv) // n_w FROM scored
  UNION ALL
  SELECT 'linear', 'click', (c * 1000000 * nc) // n_w FROM scored
  UNION ALL
  SELECT 'first_touch', 'none', c * 1000000
  FROM p WHERE pid NOT IN (SELECT pid FROM per)
  UNION ALL
  SELECT 'last_touch', 'none', c * 1000000
  FROM p WHERE pid NOT IN (SELECT pid FROM per)
  UNION ALL
  SELECT 'linear', 'none', c * 1000000
  FROM p WHERE pid NOT IN (SELECT pid FROM per)
)
SELECT model, touch_type,
       CAST(SUM(attributed_micros) AS BIGINT) AS attributed_micros
FROM contributions
GROUP BY model, touch_type
HAVING SUM(attributed_micros) > 0
ORDER BY model, touch_type
"""


# ---------------------------------------------------------------------------
# CEP-style event-pattern matching (MATCH_RECOGNIZE / Flink-CEP shape)
# ---------------------------------------------------------------------------

def cep_funnel_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match over per-user event
    journeys — the batch spelling of SQL MATCH_RECOGNIZE / Flink CEP:
    each user's event history becomes an ordered symbol string
    (one letter per event type, ordered by (ts, event_id) — the
    unique tie-break makes the string a pure function of the data),
    and episode patterns are regular expressions over it:

    - ``S.*P``     signup eventually followed by a purchase
    - ``S[^E]*P``  ...with NO error anywhere in between (negation —
                   the pattern class windows/joins can't express
                   without a quadratic anti-join per prefix)
    - ``S.*E.*P``  error on the path, purchase anyway (recovered)
    - ``EE``       two back-to-back errors (rage signal)

    Plan: one exchange on ``user_id``, ``collect_list`` of a
    (ts, event_id, code) struct, ``array_sort`` partition-locally
    (struct comparison = lexicographic on the sort key), then the
    regex matches run as native string predicates in the same
    projection — journeys never leave the JVM and the final count is
    a one-row global aggregate. Per-user state is bounded by that
    user's history (the same bound every sessionize/window query in
    this engine lives with); at 100 TB journeys above a length cap
    should be ``slice``-truncated at collect time, a one-line guard.
    """
    ev = load_table(spark, sf_dir, "events")
    return journey_pattern_counts(ev)


def journey_pattern_counts(events: DataFrame) -> DataFrame:
    """The CEP core over any (user_id, ts, event_id, event_type)
    frame — see ``cep_funnel_pattern`` for semantics and plan."""
    ev = events.select(
        "user_id",
        "ts",
        "event_id",
        F.upper(F.substring("event_type", 1, 1)).alias("code"),
    )
    journeys = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "code"))
                ),
                lambda s: s["code"],
            ),
            "",
        ).alias("j")
    )
    return pattern_counts_from_journeys(journeys)


def pattern_counts_from_journeys(journeys: DataFrame) -> DataFrame:
    """Episode-pattern flags + global counts over a (…, j) journey
    frame — shared by the batch CEP query and the streaming journey
    monitor (which accumulates ``j`` in per-user state instead of a
    ``collect_list``)."""
    cnt = lambda c, n: F.sum(F.when(c, 1).otherwise(0)).alias(n)  # noqa: E731
    j = F.col("j")
    return journeys.agg(
        F.count(F.lit(1)).alias("n_users"),
        cnt(j.rlike("S.*P"), "n_converted"),
        cnt(j.rlike("S[^E]*P"), "n_clean_converted"),
        cnt(j.rlike("S.*E.*P"), "n_recovered"),
        cnt(j.rlike("EE"), "n_rage_errors"),
        cnt(F.length(j) == 1, "n_bounced"),
    )


ORACLE_CEP_FUNNEL = """
WITH journeys AS (
  SELECT user_id,
         STRING_AGG(UPPER(SUBSTR(event_type, 1, 1)), ''
                    ORDER BY ts, event_id) AS j
  FROM events
  GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN REGEXP_MATCHES(j, 'S.*P') THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
       CAST(SUM(CASE WHEN REGEXP_MATCHES(j, 'S[^E]*P') THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_converted,
       CAST(SUM(CASE WHEN REGEXP_MATCHES(j, 'S.*E.*P') THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
       CAST(SUM(CASE WHEN REGEXP_MATCHES(j, 'EE') THEN 1 ELSE 0 END) AS BIGINT) AS n_rage_errors,
       CAST(SUM(CASE WHEN LENGTH(j) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounced
FROM journeys
"""


def event_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: P(next event type | current event type), the behavioral
    fingerprint that feeds bot detection and journey simulation
    (event_trigrams mines specific patterns; this is the full
    normalized one-step model).

    ONE exchange on user_id feeds the lag pass (the
    activity_streaks posture — per-key window state is one user's
    ordered history, a sort, never a pair blowup); transitions then
    collapse map-side to the |types|² matrix, so the second shuffle
    moves at most that many rows per task. Counts stay integer; each
    probability is one division rounded at 6dp."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("next_type"),
        )
        .withColumn("prev_type", F.lag("next_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_tot = Window.partitionBy("prev_type")
    return (
        trans.withColumn("row_total", F.sum("n").over(w_tot))
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("row_total").cast("double"),
                6,
            ).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


ORACLE_EVENT_TRANSITION = """
WITH seq AS (
  SELECT event_type AS next_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), trans AS (
  SELECT prev_type, next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE),
             6) AS p
FROM trans
ORDER BY prev_type, next_type
"""


def time_to_convert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per user, seconds from FIRST view to the
    first purchase after it; report converter count, conversion
    rate, and the median / p90 latency — the numbers a growth team
    actually tracks (cep/funnel count WHO converts; this measures
    HOW LONG conversion takes).

    One keyed aggregate finds each user's first view; purchases
    equi-join that user frame and reduce to the first qualifying
    purchase — user-sized frames throughout, no window over the raw
    stream. Deltas are integer seconds; the two exact percentiles
    interpolate identically on both engines; rate is one rounded
    division."""
    us = F.expr("unix_micros(cast(ts as timestamp))")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", us.alias("t")
    )
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("fv"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_view, "user_id")
        .filter(F.col("t") > F.col("fv"))
        .groupBy("user_id", "fv")
        .agg(F.min("t").alias("fp"))
        .select(
            F.expr("(fp - fv) div 1000000").alias("delta_s")
        )
    )
    viewers = first_view.agg(F.count(F.lit(1)).alias("n_viewers"))
    # n_converters > 0: on an input with no qualifying purchase,
    # Spark's global agg yields one (0, NULL, NULL) row while the
    # oracle's grouped CROSS JOIN yields zero rows — both engines
    # must agree on the degenerate case, so the empty funnel reports
    # no row here too
    return (
        conv.agg(
            F.count(F.lit(1)).alias("n_converters"),
            F.round(F.expr("percentile(delta_s, 0.5)"), 1).alias(
                "median_seconds"
            ),
            F.round(F.expr("percentile(delta_s, 0.9)"), 1).alias(
                "p90_seconds"
            ),
        )
        .filter(F.col("n_converters") > 0)
        .crossJoin(F.broadcast(viewers))
        .select(
            "n_viewers",
            "n_converters",
            F.round(
                F.col("n_converters").cast("double")
                / F.col("n_viewers").cast("double"),
                6,
            ).alias("conversion_rate"),
            "median_seconds",
            "p90_seconds",
        )
    )


ORACLE_TIME_TO_CONVERT = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS t FROM events
), first_view AS (
  SELECT user_id, MIN(t) AS fv FROM ev
  WHERE event_type = 'view' GROUP BY user_id
), conv AS (
  SELECT (MIN(fp) - fv) // 1000000 AS delta_s FROM (
    SELECT e.user_id, fv, e.t AS fp
    FROM ev e JOIN first_view USING (user_id)
    WHERE e.event_type = 'purchase' AND e.t > fv
  ) GROUP BY user_id, fv
), viewers AS (
  SELECT COUNT(*) AS n_viewers FROM first_view
)
SELECT n_viewers,
       COUNT(*) AS n_converters,
       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(n_viewers AS DOUBLE), 6)
         AS conversion_rate,
       ROUND(median(delta_s), 1) AS median_seconds,
       ROUND(quantile_cont(delta_s, 0.9), 1) AS p90_seconds
FROM conv CROSS JOIN viewers
GROUP BY n_viewers
"""


# ---------------------------------------------------------------------------
# Sequential A/B testing: the SPRT boundary walk, day by day
# ---------------------------------------------------------------------------

# Wald SPRT for conversion rate, H0: p=0.25 vs H1: p=0.30, α=β=0.05.
# Per-trial log-likelihood increments and boundaries as INTEGER
# micro-nats, precomputed once — both engines accumulate identical
# integers, so the whole walk is exact (float only at the readout).
SPRT_L1_MICRO = 182_322  # round(ln(0.30/0.25) · 1e6)  — per conversion
SPRT_L0_MICRO = -68_993  # round(ln(0.70/0.75) · 1e6)  — per non-conversion
SPRT_UPPER_MICRO = 2_944_439  # ln((1-β)/α) · 1e6 → accept H1
SPRT_LOWER_MICRO = -2_944_439  # ln(β/(1-α)) · 1e6 → accept H0


def sprt_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peeking WITHOUT the peeking problem: Wald's sequential
    probability-ratio test walked day by day over the experiment —
    the anytime-valid companion to ``ab_conversion_wilson``'s
    fixed-horizon interval.  A trial is a (user, day) active pair,
    converted if that user purchased that day; per (variant, day)
    the counts roll up map-side and the LLR is an exact integer
    cumulative sum of the precomputed micro-nat increments under one
    per-variant day window (≤ days × 2 rows).  Decision column says
    what a daily-peeking experimenter would have concluded each day."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", epoch_day("ts").alias("day"), "event_type"
    )
    trials = ev.groupBy("user_id", "day").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    daily = trials.groupBy(
        F.pmod("user_id", F.lit(2)).alias("variant"), "day"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").alias("k"),
    )
    w = Window.partitionBy("variant").orderBy("day")
    cum = daily.select(
        "variant",
        "day",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("k").over(w).alias("cum_k"),
    ).withColumn(
        "llr_micro",
        F.col("cum_k") * F.lit(SPRT_L1_MICRO)
        + (F.col("cum_n") - F.col("cum_k")) * F.lit(SPRT_L0_MICRO),
    )
    return cum.select(
        "variant",
        "day",
        "cum_n",
        "cum_k",
        F.round(F.col("llr_micro") / 1e6, 6).alias("llr"),
        F.when(F.col("llr_micro") >= SPRT_UPPER_MICRO, F.lit("accept_h1"))
        .when(F.col("llr_micro") <= SPRT_LOWER_MICRO, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    ).orderBy("variant", "day")


ORACLE_SPRT = f"""
WITH trials AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events
  GROUP BY 1, 2
), daily AS (
  SELECT user_id % 2 AS variant, day, COUNT(*) AS n,
         CAST(SUM(conv) AS BIGINT) AS k
  FROM trials GROUP BY 1, 2
), cum AS (
  SELECT variant, day,
         CAST(SUM(n) OVER (PARTITION BY variant ORDER BY day) AS BIGINT)
           AS cum_n,
         CAST(SUM(k) OVER (PARTITION BY variant ORDER BY day) AS BIGINT)
           AS cum_k
  FROM daily
), llr AS (
  SELECT variant, day, cum_n, cum_k,
         cum_k * {SPRT_L1_MICRO} + (cum_n - cum_k) * {SPRT_L0_MICRO}
           AS llr_micro
  FROM cum
)
SELECT variant, day, cum_n, cum_k,
       ROUND(llr_micro / 1e6, 6) AS llr,
       CASE WHEN llr_micro >= {SPRT_UPPER_MICRO} THEN 'accept_h1'
            WHEN llr_micro <= {SPRT_LOWER_MICRO} THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM llr
ORDER BY variant, day
"""


# ---------------------------------------------------------------------------
# Shapley-value conversion attribution — the game-theoretic model
# ---------------------------------------------------------------------------

# (channel_bit, coalition_mask_without_channel, |S|!·(2−|S|)! weight)
# for the 3-player game — normalization divides by 3! = 6 at the end
_SHAPLEY_CHANNELS = {"view": 1, "click": 2, "signup": 4}
_SHAPLEY_COEFS: list[tuple[int, int, int]] = [
    (bit, s, {0: 2, 1: 1, 2: 2}[bin(s).count("1")])
    for bit in _SHAPLEY_CHANNELS.values()
    for s in range(8)
    if not s & bit and not s & ~7
]


def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value conversion attribution — the game-theoretic
    complement to ``multi_touch_attribution``'s positional models:
    each channel's credit is its average marginal contribution over
    every ordering of the coalition, the only attribution scheme
    that is efficient (credits sum to v(full)−v(∅)), symmetric, and
    null-player-zero. Players are the three touch channels (view,
    click, signup); a user's coalition is the set of channels
    touched STRICTLY BEFORE their first purchase; the coalition
    value v(S) counts converters whose touch set ⊆ S ("conversions
    reachable with only S running").

    Scale shape — the reason Shapley is tractable at 100 TB: the
    fact stream collapses to ONE bitmask per converter (first-
    purchase rollup + an ts<first join + bool aggregation), then to
    the ≤8-row exact-mask histogram; the 2³ subset lattice and the
    12-row factorial-coefficient table are literals, so everything
    past the second rollup is metadata-sized. All arithmetic is
    integer (weights ×6) until ONE division per channel.
    """
    ev = load_table(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fpt"))
    )
    touches = ev.filter(
        F.col("event_type").isin(*_SHAPLEY_CHANNELS)
    ).select("user_id", "event_type", "ts")
    mask_expr = sum(
        F.max(
            F.when(F.col("event_type") == ch, F.lit(bit)).otherwise(0)
        )
        for ch, bit in _SHAPLEY_CHANNELS.items()
    )
    masks = (
        touches.join(fp, "user_id")
        .filter(F.col("ts") < F.col("fpt"))
        .groupBy("user_id")
        .agg(mask_expr.alias("m"))
    )
    conv = fp.join(masks, "user_id", "left").select(
        F.coalesce(F.col("m"), F.lit(0)).alias("m")
    )
    n_t = conv.groupBy("m").agg(F.count(F.lit(1)).alias("n"))
    lattice = spark.range(8).select(F.col("id").cast("int").alias("s"))
    v = (
        lattice.join(
            F.broadcast(n_t),
            F.expr("(m & s) = m"),
            "left",
        )
        .groupBy("s")
        .agg(F.sum(F.coalesce(F.col("n"), F.lit(0))).alias("v"))
    )
    coefs = local_frame(
        spark,
        _SHAPLEY_COEFS, "bit INT, s INT, w INT"
    )
    scored = (
        coefs.join(
            F.broadcast(v.select(F.col("s").alias("s_with"), F.col("v").alias("v_with"))),
            F.expr("s_with = (s | bit)"),
        )
        .join(F.broadcast(v), "s")
        .groupBy("bit")
        .agg(F.sum(F.col("w") * (F.col("v_with") - F.col("v"))).alias("phi6"))
    )
    total = v.filter(F.col("s") == 7).select(
        F.col("v").alias("n_converters")
    )
    channel = (
        F.when(F.col("bit") == 1, "view")
        .when(F.col("bit") == 2, "click")
        .otherwise("signup")
    )
    return (
        scored.crossJoin(F.broadcast(total))
        .select(
            channel.alias("channel"),
            "n_converters",
            F.round(F.col("phi6").cast("double") / 6.0, 6).alias(
                "shapley_conversions"
            ),
        )
        .orderBy("channel")
    )


_SHAPLEY_COEF_VALUES = ", ".join(
    f"({b}, {s}, {w})" for b, s, w in _SHAPLEY_COEFS
)

ORACLE_SHAPLEY_ATTRIBUTION = f"""
WITH fp AS (
  SELECT user_id, MIN(ts) AS fpt FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), masks AS (
  SELECT e.user_id,
         MAX(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END)
         + MAX(CASE WHEN e.event_type = 'click' THEN 2 ELSE 0 END)
         + MAX(CASE WHEN e.event_type = 'signup' THEN 4 ELSE 0 END) AS m
  FROM events e JOIN fp ON e.user_id = fp.user_id
  WHERE e.event_type IN ('view', 'click', 'signup') AND e.ts < fp.fpt
  GROUP BY e.user_id
), conv AS (
  SELECT COALESCE(masks.m, 0) AS m
  FROM fp LEFT JOIN masks ON fp.user_id = masks.user_id
), n_t AS (
  SELECT m, COUNT(*) AS n FROM conv GROUP BY m
), lattice AS (
  SELECT UNNEST(range(0, 8)) AS s
), v AS (
  SELECT s, CAST(SUM(COALESCE(n, 0)) AS BIGINT) AS v
  FROM lattice LEFT JOIN n_t ON (m & s) = m
  GROUP BY s
), coefs(bit, s, w) AS (
  VALUES {_SHAPLEY_COEF_VALUES}
), scored AS (
  SELECT bit, CAST(SUM(w * (vw.v - v0.v)) AS BIGINT) AS phi6
  FROM coefs
  JOIN v vw ON vw.s = (coefs.s | coefs.bit)
  JOIN v v0 ON v0.s = coefs.s
  GROUP BY bit
)
SELECT CASE WHEN bit = 1 THEN 'view'
            WHEN bit = 2 THEN 'click'
            ELSE 'signup' END AS channel,
       (SELECT v FROM v WHERE s = 7) AS n_converters,
       ROUND(CAST(phi6 AS DOUBLE) / 6.0, 6) AS shapley_conversions
FROM scored
ORDER BY channel
"""


# ---------------------------------------------------------------------------
# Sequential-pattern support — A-before-B association over user streams
# ---------------------------------------------------------------------------

def sequence_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, PrefixSpan's length-2 core: for
    every ordered event-type pair (a → b), in how many users does a
    FIRST occurrence of ``a`` precede the first occurrence of ``b``?
    Support (fraction of all active users), confidence (fraction of
    a-users), and lift (confidence over b's base rate) — the
    market-basket readouts transplanted to the time axis, feeding
    funnel design the same way ``market_basket_lift`` feeds bundles.

    Scale shape — the anti-explosion discipline: non-contiguous
    subsequence mining is exponential on raw streams, but first-
    occurrence semantics collapse every user to ≤|event types| rows
    in ONE map-side-combined rollup; the within-user self-join then
    generates at most |types|² pairs per user (25 here), and
    everything downstream is a |types|²-row frame. Ratios are exact
    integer quotients divided once, base rates ride a broadcast
    1-row total.
    """
    fo = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("ft"))
    )
    a = fo.select(
        "user_id", F.col("event_type").alias("a"), F.col("ft").alias("ta")
    )
    b = fo.select(
        "user_id", F.col("event_type").alias("b"), F.col("ft").alias("tb")
    )
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    # fo is already distinct on (user, type): plain counts, no Expand
    per_type = fo.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_type")
    )
    n_users = fo.agg(F.countDistinct("user_id").alias("n_users"))
    return (
        pairs.join(
            F.broadcast(
                per_type.select(
                    F.col("event_type").alias("a"), F.col("n_type").alias("n_a")
                )
            ),
            "a",
        )
        .join(
            F.broadcast(
                per_type.select(
                    F.col("event_type").alias("b"), F.col("n_type").alias("n_b")
                )
            ),
            "b",
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            "a",
            "b",
            "n_pair",
            F.round(
                F.col("n_pair").cast("double") / F.col("n_users").cast("double"),
                6,
            ).alias("support"),
            F.round(
                F.col("n_pair").cast("double") / F.col("n_a").cast("double"), 6
            ).alias("confidence"),
            F.round(
                F.col("n_pair").cast("double")
                * F.col("n_users").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), F.asc("a"), F.asc("b"))
    )


ORACLE_SEQUENCE_PATTERN = """
WITH fo AS (
  SELECT user_id, event_type, MIN(ts) AS ft
  FROM events GROUP BY user_id, event_type
), pairs AS (
  SELECT a.event_type AS a, b.event_type AS b, COUNT(*) AS n_pair
  FROM fo a JOIN fo b ON a.user_id = b.user_id AND a.ft < b.ft
  GROUP BY 1, 2
), per_type AS (
  SELECT event_type, COUNT(*) AS n_type FROM fo GROUP BY 1
), nu AS (
  SELECT COUNT(DISTINCT user_id) AS n_users FROM fo
)
SELECT p.a, p.b, CAST(p.n_pair AS BIGINT) AS n_pair,
       ROUND(CAST(p.n_pair AS DOUBLE) / CAST(nu.n_users AS DOUBLE), 6)
         AS support,
       ROUND(CAST(p.n_pair AS DOUBLE) / CAST(ta.n_type AS DOUBLE), 6)
         AS confidence,
       ROUND(CAST(p.n_pair AS DOUBLE) * CAST(nu.n_users AS DOUBLE)
             / (CAST(ta.n_type AS DOUBLE) * CAST(tb.n_type AS DOUBLE)), 6)
         AS lift
FROM pairs p
JOIN per_type ta ON ta.event_type = p.a
JOIN per_type tb ON tb.event_type = p.b
CROSS JOIN nu
ORDER BY support DESC, a ASC, b ASC
"""


# ---------------------------------------------------------------------------
# Inter-arrival burstiness — is the event stream Poisson or bursty?
# ---------------------------------------------------------------------------

def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type burstiness of user activity (Goh & Barabási):
    B = (σ−μ)/(σ+μ) over the per-user inter-arrival gaps — B≈0 is
    Poisson (memoryless), B→1 is bursty sessions, B<0 is pacemaker-
    regular. The one-number answer to "can I model this stream with
    a rate", which decides watermark widths and session-gap
    thresholds for the streaming operators.

    Shape: ONE exchange on (user, type) for the lag window (per-
    partition state = one user's history — the sessionize posture),
    then a keys+moments rollup to |types| rows. Gaps quantize to
    integer SECONDS (multi-minute scale data — 1 s granularity is
    noise) so (n, Σg, Σg²) are exact order-free bigints; σ, μ, and
    B compose once per type in oracle-identical textual order."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        "event_id",
    )
    gaps = ev.select(
        "event_type",
        F.expr("(t - lag(t, 1) over (partition by user_id, event_type"
               " order by t, event_id)) div 1000000").alias("g"),
    ).filter(F.col("g").isNotNull())
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("g").alias("s"),
        F.sum(F.col("g") * F.col("g")).alias("ss"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nd
    sigma = F.sqrt(F.col("ss").cast("double") / nd - mu * mu)
    return agg.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.round(mu, 4).alias("mean_gap_sec"),
        F.round(sigma / mu, 6).alias("cv"),
        F.round((sigma - mu) / (sigma + mu), 6).alias("burstiness"),
    ).orderBy("event_type")


ORACLE_INTERARRIVAL_BURSTINESS = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id
  FROM events
), gaps AS (
  SELECT event_type,
         (t - LAG(t, 1) OVER (PARTITION BY user_id, event_type
                              ORDER BY t, event_id)) // 1000000 AS g
  FROM ev
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(g) AS BIGINT) AS s,
         CAST(SUM(g * g) AS BIGINT) AS ss
  FROM gaps WHERE g IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, n AS n_gaps,
       ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4)
         AS mean_gap_sec,
       ROUND(sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cv,
       ROUND((sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
              - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             / (sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                + CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS burstiness
FROM agg
ORDER BY event_type
"""


def activity_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of per-user
    event counts, per event type — the overdispersion gate that
    pairs with ``interarrival_burstiness``: D≈1 says user activity
    is Poisson (per-user rates interchangeable), D≫1 says a
    heavy-tailed minority drives the volume, so per-user capping
    and skew salting (``skewed_event_counts``) are load-bearing.

    Shape: one (user, type) count rollup, one keys+moments rollup to
    |types| rows — integer (n, Σc, Σc²) end-to-end, two divisions
    per type at the end (population-variance form, mirrored
    textually)."""
    pc = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = pc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    nd = F.col("n_users").cast("double")
    mu = F.col("s").cast("double") / nd
    var = F.col("ss").cast("double") / nd - mu * mu
    return agg.select(
        "event_type",
        "n_users",
        F.col("s").alias("n_events"),
        F.round(mu, 4).alias("mean_per_user"),
        F.round(var / mu, 6).alias("dispersion"),
    ).orderBy("event_type")


ORACLE_ACTIVITY_DISPERSION = """
WITH pc AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY user_id, event_type
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS ss
  FROM pc GROUP BY event_type
)
SELECT event_type, n_users, s AS n_events,
       ROUND(CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE), 4)
         AS mean_per_user,
       ROUND((CAST(ss AS DOUBLE) / CAST(n_users AS DOUBLE)
              - (CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE)))
             / (CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE)), 6)
         AS dispersion
FROM agg
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Markov entropy rate of the per-user event process
# ---------------------------------------------------------------------------

def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the first-order Markov chain fitted to
    per-user event sequences — the single number that says how
    PREDICTABLE user behavior is given the previous action: H_rate =
    −Σ_ab π̂(a,b)·ln p̂(b|a), estimated from the empirical
    transition counts (the companion scalar to
    ``event_transition_probs``, which exposes the matrix itself).
    ``efficiency`` = H_rate / ln(k) ∈ [0,1] normalizes by the
    uniform-memoryless ceiling, so monitors can threshold on it
    across deployments with different event alphabets.

    Shape: one user-key exchange for the lead window, a map-combined
    agg onto the ≤k² transition table, row marginals as a window
    over that metadata frame, and micro-nat quantization of each
    cell's c·ln(c/row) term before the global BIGINT sum."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    cells = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
    w_row = Window.partitionBy("a")
    w_all = Window.partitionBy()
    term_u = F.round(
        F.col("c")
        * F.log(F.col("c").cast("double") / F.col("row_tot").cast("double"))
        * F.lit(1e6)
    ).cast("long")
    agg = (
        cells.select(
            "a",
            "c",
            F.sum("c").over(w_row).alias("row_tot"),
            F.sum("c").over(w_all).alias("total"),
        )
        .select("a", "total", term_u.alias("term_u"))
        .groupBy()
        .agg(
            F.max("total").alias("n_transitions"),
            F.countDistinct("a").alias("n_states"),
            F.sum("term_u").alias("h_u"),
        )
    )
    h_rate = -F.col("h_u").cast("double") / (
        F.lit(1e6) * F.col("n_transitions").cast("double")
    )
    h_max = F.log(F.col("n_states").cast("double"))
    return agg.select(
        "n_transitions",
        "n_states",
        F.round(h_rate, 6).alias("entropy_rate_nats"),
        F.round(h_max, 6).alias("h_max_nats"),
        F.round(h_rate / h_max, 6).alias("efficiency"),
    )


ORACLE_MARKOV_ENTROPY = """
WITH pairs AS (
  SELECT event_type AS a,
         LEAD(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS b
  FROM events
), cells AS (
  SELECT a, b, COUNT(*) AS c FROM pairs WHERE b IS NOT NULL GROUP BY a, b
), tot AS (
  SELECT a, c,
         SUM(c) OVER (PARTITION BY a) AS row_tot,
         SUM(c) OVER () AS total
  FROM cells
), micro AS (
  SELECT a, total,
         CAST(ROUND(c * ln(CAST(c AS DOUBLE) / CAST(row_tot AS DOUBLE))
                    * 1e6) AS BIGINT) AS term_u
  FROM tot
), agg AS (
  SELECT CAST(MAX(total) AS BIGINT) AS n_transitions,
         CAST(COUNT(DISTINCT a) AS BIGINT) AS n_states,
         CAST(SUM(term_u) AS BIGINT) AS h_u
  FROM micro
)
SELECT n_transitions, n_states,
       ROUND(-CAST(h_u AS DOUBLE) / (1e6 * CAST(n_transitions AS DOUBLE)),
             6) AS entropy_rate_nats,
       ROUND(ln(CAST(n_states AS DOUBLE)), 6) AS h_max_nats,
       ROUND((-CAST(h_u AS DOUBLE) / (1e6 * CAST(n_transitions AS DOUBLE)))
             / ln(CAST(n_states AS DOUBLE)), 6) AS efficiency
FROM agg
"""


# ---------------------------------------------------------------------------
# Attribution-window sweep — conversion rate vs window length
# ---------------------------------------------------------------------------

ATTR_WINDOWS_DAYS = (1, 3, 7, 14)


def attribution_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate (first view → first subsequent purchase) as a
    function of the attribution-window length (1/3/7/14 days) — the
    sweep that SETS the window a funnel dashboard then hard-codes:
    too short undercounts slow converters, too long credits
    coincidences; the curve's plateau is the honest setting.

    One user-keyed rollup finds each user's first view; one
    co-partitioned pass over that user's later purchases takes the
    min; all four windows are conditional integer sums over the
    per-user gap — the whole sweep costs exactly one funnel pass,
    not four."""
    ev = load_table(spark, sf_dir, "events")
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .join(first_view, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"), F.min("t_view").alias("t_view"))
    )
    gaps = first_view.join(
        first_purchase.select(
            "user_id",
            F.expr(
                "(unix_micros(cast(t_buy as timestamp))"
                " - unix_micros(cast(t_view as timestamp)))"
                " div 86400000000"
            ).alias("gap_days"),
        ),
        "user_id",
        "left",
    )
    agg = gaps.agg(
        F.count(F.lit(1)).alias("n_viewers"),
        *[
            F.sum(
                F.when(F.col("gap_days") <= d, 1).otherwise(0)
            ).alias(f"c{d}")
            for d in ATTR_WINDOWS_DAYS
        ],
    )
    stacked = agg.selectExpr(
        "stack(4, 1, c1, 3, c3, 7, c7, 14, c14)"
        " as (window_days, n_converted)",
        "n_viewers",
    )
    return stacked.select(
        "window_days",
        "n_viewers",
        "n_converted",
        F.round(
            F.col("n_converted").cast("double")
            / F.col("n_viewers").cast("double"),
            6,
        ).alias("conversion_rate"),
    ).orderBy("window_days")


def _attr_sweep_oracle() -> str:
    counts = ",\n         ".join(
        f"CAST(SUM(CASE WHEN gap_days <= {d} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c{d}"
        for d in ATTR_WINDOWS_DAYS
    )
    finals = "\nUNION ALL\n".join(
        f"SELECT {d} AS window_days, n_viewers, c{d} AS n_converted,"
        f" ROUND(CAST(c{d} AS DOUBLE) / n_viewers, 6) AS conversion_rate"
        f" FROM agg"
        for d in ATTR_WINDOWS_DAYS
    )
    return f"""
WITH first_view AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), first_purchase AS (
  SELECT e.user_id, MIN(e.ts) AS t_buy, MIN(v.t_view) AS t_view
  FROM events e JOIN first_view v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= v.t_view
  GROUP BY e.user_id
), gaps AS (
  SELECT v.user_id,
         (epoch_us(p.t_buy) - epoch_us(p.t_view)) // 86400000000
           AS gap_days
  FROM first_view v LEFT JOIN first_purchase p ON v.user_id = p.user_id
), agg AS (
  SELECT COUNT(*) AS n_viewers,
         {counts}
  FROM gaps
)
{finals}
ORDER BY window_days
"""


ORACLE_ATTR_SWEEP = _attr_sweep_oracle()


# ---------------------------------------------------------------------------
# Negative-binomial fit of per-user activity (method of moments)
# ---------------------------------------------------------------------------

def negbin_fit_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments negative-binomial fit of per-user event
    counts, per event type — the QUANTIFIED sequel to
    ``activity_dispersion``: where the dispersion index only says
    "overdispersed", the NB(r, p) parameters are what a synthetic-
    traffic generator or capacity model actually consumes (r = the
    heterogeneity shape, small r = a heavy-tailed user base). The
    fit is refused (NULL) when σ² ≤ μ — underdispersed data has no
    NB representation and emitting parameters anyway would be a
    silent lie (the iv_wald guard discipline).

    Same two-rollup shape as the dispersion index: integer
    (n, Σc, Σc²) per type; r = μ²/(σ²−μ) and p = μ/σ² are scalar
    doubles on the ≤|types|-row frame."""
    pc = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = pc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    nd = F.col("n_users").cast("double")
    mu = F.col("s").cast("double") / nd
    var = F.col("ss").cast("double") / nd - mu * mu
    over = var > mu
    return agg.select(
        "event_type",
        "n_users",
        F.round(mu, 6).alias("mean_per_user"),
        F.round(var, 6).alias("var_per_user"),
        flag(over).alias("overdispersed"),
        F.round(F.when(over, mu * mu / (var - mu)), 6).alias("nb_r"),
        F.round(F.when(over, mu / var), 6).alias("nb_p"),
    ).orderBy("event_type")


ORACLE_NEGBIN_FIT = """
WITH pc AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY user_id, event_type
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS ss
  FROM pc GROUP BY event_type
), m AS (
  SELECT event_type, n_users,
         CAST(s AS DOUBLE) / n_users AS mu,
         CAST(ss AS DOUBLE) / n_users
           - (CAST(s AS DOUBLE) / n_users)
             * (CAST(s AS DOUBLE) / n_users) AS v
  FROM agg
)
SELECT event_type, n_users,
       ROUND(mu, 6) AS mean_per_user,
       ROUND(v, 6) AS var_per_user,
       CASE WHEN v > mu THEN 1 ELSE 0 END AS overdispersed,
       ROUND(CASE WHEN v > mu THEN mu * mu / (v - mu) END, 6) AS nb_r,
       ROUND(CASE WHEN v > mu THEN mu / v END, 6) AS nb_p
FROM m
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Conversion-path analysis — the last-3-events path table
# ---------------------------------------------------------------------------

def conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top converting paths: for every user's FIRST purchase, the
    ordered sequence of up to 3 events immediately preceding it,
    joined into a path string ("view>click>error>purchase") and
    counted — the Sankey/path-analysis readout product teams use to
    see which behavior actually precedes conversion (vs the
    marketing-touch view of ``multi_touch_attribution``).

    Shape: one user-keyed window finds the first purchase and the
    three lags before it; only the single conversion row per user
    survives to the path rollup, so the exchange after the window
    carries |converting users| rows. Ties inside the path rollup
    break lexicographically for a deterministic top-10."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_lags = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
        F.lag("event_type", 3).over(w).alias("p3"),
        F.row_number()
        .over(
            Window.partitionBy("user_id")
            .orderBy(
                F.when(F.col("event_type") == "purchase", 0).otherwise(1),
                "ts",
                "event_id",
            )
        )
        .alias("conv_rank"),
    )
    first_purchase = with_lags.filter(
        (F.col("event_type") == "purchase") & (F.col("conv_rank") == 1)
    )
    path = F.concat_ws(
        ">",
        F.col("p3"),
        F.col("p2"),
        F.col("p1"),
        F.lit("purchase"),
    )
    return (
        first_purchase.select(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(10)
    )


ORACLE_CONVERSION_PATHS = """
WITH lagged AS (
  SELECT user_id, event_type,
         LAG(event_type, 1) OVER w AS p1,
         LAG(event_type, 2) OVER w AS p2,
         LAG(event_type, 3) OVER w AS p3,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END,
                    ts, event_id
         ) AS conv_rank
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), conv AS (
  SELECT concat_ws('>', p3, p2, p1, 'purchase') AS path
  FROM lagged
  WHERE event_type = 'purchase' AND conv_rank = 1
)
SELECT path, COUNT(*) AS n_users
FROM conv
GROUP BY path
ORDER BY n_users DESC, path ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# SLO burn rate — short-window vs long-window error-rate ratio
# ---------------------------------------------------------------------------

SLO_TARGET_PPM = 250_000  # error budget: 25% of events may be errors


def slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow SLO burn rate over the event stream: per day, the
    1-day error rate, the trailing-7-day error rate (RANGE window
    over the calendar-bounded day rollup), and each as a multiple of
    the error budget — the Google-SRE alerting construction (alert
    when BOTH windows burn hot: the short window proves it's
    happening now, the long window proves it's not a blip). The
    ``alert`` flag is the 2-window AND at burn > 1.

    Integer day-grain rollup first (the fact stream exchanges once,
    keyed by day), then RANGE BETWEEN 6 PRECEDING over the ≤|days|
    frame; burn ratios are cross-multiplied BIGINT comparisons for
    the flag and one division each for display."""
    ev = load_table(spark, sf_dir, "events").select(
        epoch_day("ts").alias("day"),
        flag(F.col("event_type") == "error").alias("is_err"),
    )
    per_day = ev.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_err").alias("errs"),
    )
    w7 = (
        Window.orderBy("day").rangeBetween(-6, 0)
    )
    rolled = per_day.select(
        "day",
        "n",
        "errs",
        F.sum("n").over(w7).alias("n7"),
        F.sum("errs").over(w7).alias("errs7"),
    )
    burn1 = (
        F.col("errs").cast("double")
        / F.col("n").cast("double")
        / F.lit(SLO_TARGET_PPM / 1e6)
    )
    burn7 = (
        F.col("errs7").cast("double")
        / F.col("n7").cast("double")
        / F.lit(SLO_TARGET_PPM / 1e6)
    )
    alert = flag(
        (F.col("errs") * F.lit(1_000_000).cast("long")
         > F.col("n") * F.lit(SLO_TARGET_PPM).cast("long"))
        & (F.col("errs7") * F.lit(1_000_000).cast("long")
           > F.col("n7") * F.lit(SLO_TARGET_PPM).cast("long"))
    )
    return rolled.select(
        "day",
        "n",
        "errs",
        F.round(burn1, 6).alias("burn_1d"),
        F.round(burn7, 6).alias("burn_7d"),
        alert.alias("alert"),
    ).orderBy("day")


ORACLE_SLO_BURN = f"""
WITH per_day AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         COUNT(*) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errs
  FROM events GROUP BY 1
), rolled AS (
  SELECT day, n, errs,
         SUM(n) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING
                      AND CURRENT ROW) AS n7,
         SUM(errs) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING
                         AND CURRENT ROW) AS errs7
  FROM per_day
)
SELECT day, n, errs,
       ROUND(CAST(errs AS DOUBLE) / n / {SLO_TARGET_PPM / 1e6}, 6)
         AS burn_1d,
       ROUND(CAST(errs7 AS DOUBLE) / n7 / {SLO_TARGET_PPM / 1e6}, 6)
         AS burn_7d,
       CASE WHEN errs * 1000000 > n * {SLO_TARGET_PPM}
             AND errs7 * 1000000 > n7 * {SLO_TARGET_PPM}
            THEN 1 ELSE 0 END AS alert
FROM rolled
ORDER BY day
"""


# ---------------------------------------------------------------------------
# Markov next-event prediction eval — supervised readout of the chain
# ---------------------------------------------------------------------------

MARKOV_EVAL_MOD = 5  # 1/5 of users held out


def markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised eval of the first-order Markov model that
    ``markov_entropy_rate`` measures in the abstract: fit argmax
    next-event predictions on 4/5 of users (keyed-hash split — the
    ``naive_bayes_langid`` discipline), score them on the held-out
    fifth, and report per previous-event-type hit rate vs the
    majority-class floor. The entropy rate says how predictable
    behavior is in bits; this says what a deployed next-action
    predictor would actually score.

    Exactness: everything is integer counts until two per-row
    divisions; the argmax breaks count ties on the smaller event
    type, so the fitted model is bit-deterministic.

    Plan: one user-key exchange for the lead window (shared shape
    with markov_entropy_rate), a map-combined rollup onto ≤k² cells
    for training, a broadcast of the k-row fitted model onto the
    held-out transition stream, one ≤k-row readout."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    from cricket_analytics_nosql_spark.functions.scalar import md5_u32

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        (md5_u32(F.col("user_id"), "mkveval") % MARKOV_EVAL_MOD == 0).alias(
            "is_test"
        ),
        F.col("event_type").alias("prev"),
        F.lead("event_type", 1).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cells = (
        pairs.filter(~F.col("is_test"))
        .groupBy("prev", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_fit = Window.partitionBy("prev").orderBy(F.desc("c"), F.asc("nxt"))
    model = (
        cells.withColumn("rn", F.row_number().over(w_fit))
        .filter(F.col("rn") == 1)
        .select("prev", F.col("nxt").alias("predicted_next"))
    )
    return (
        pairs.filter(F.col("is_test"))
        .join(F.broadcast(model), "prev")
        .groupBy("prev", "predicted_next")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum(
                (F.col("nxt") == F.col("predicted_next")).cast("long")
            ).alias("n_hits"),
        )
        .select(
            "prev",
            "predicted_next",
            "n_transitions",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_transitions"), 6
            ).alias("hit_rate"),
        )
        .orderBy("prev")
    )


_MKV_HASH = (
    "CAST(('0x' || substr(md5('mkveval' || CAST(user_id AS VARCHAR)), 1, 8))"
    " AS BIGINT)"
)

ORACLE_MARKOV_EVAL = f"""
WITH pairs AS (
  SELECT {_MKV_HASH} % {MARKOV_EVAL_MOD} = 0 AS is_test,
         event_type AS prev,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
), pp AS (
  SELECT * FROM pairs WHERE nxt IS NOT NULL
), cells AS (
  SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM pp WHERE NOT is_test GROUP BY prev, nxt
), model AS (
  SELECT prev, nxt AS predicted_next
  FROM (SELECT prev, nxt, ROW_NUMBER() OVER (PARTITION BY prev
                                             ORDER BY c DESC, nxt ASC) AS rn
        FROM cells)
  WHERE rn = 1
)
SELECT p.prev, m.predicted_next,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(CASE WHEN p.nxt = m.predicted_next THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       ROUND(CAST(SUM(CASE WHEN p.nxt = m.predicted_next THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS hit_rate
FROM pp p JOIN model m ON p.prev = m.prev
WHERE p.is_test
GROUP BY p.prev, m.predicted_next
ORDER BY p.prev
"""


QUERIES: dict[str, QuerySpec] = {
    "markov_next_event_eval": QuerySpec(
        markov_next_event_eval,
        ORACLE_MARKOV_EVAL,
        ["A1", "J1", "T1", "§2.8", "X-ts", "X-curation"],
    ),
    "conversion_paths": QuerySpec(
        conversion_paths,
        ORACLE_CONVERSION_PATHS,
        ["§2.8", "A1", "T1", "X-ts"],
    ),
    "slo_burn_rate": QuerySpec(
        slo_burn_rate,
        ORACLE_SLO_BURN,
        ["A1", "A3", "§2.8", "X-ts"],
    ),
    "negbin_fit_activity": QuerySpec(
        negbin_fit_activity,
        ORACLE_NEGBIN_FIT,
        ["A1", "A4", "X-ts", "X-curation"],
    ),
    "attribution_window_sweep": QuerySpec(
        attribution_window_sweep,
        ORACLE_ATTR_SWEEP,
        ["A1", "A3", "J1", "§2.8", "X-ts"],
    ),
    "sprt_ab_monitor": QuerySpec(
        sprt_ab_monitor,
        ORACLE_SPRT,
        ["A1", "§2.8", "X-ts", "X-curation"],
    ),
    "time_to_convert_stats": QuerySpec(
        time_to_convert_stats,
        ORACLE_TIME_TO_CONVERT,
        ["A1", "A4", "J1", "X-ts"],
    ),
    "event_transition_probs": QuerySpec(
        event_transition_probs,
        ORACLE_EVENT_TRANSITION,
        ["§2.8", "A1", "X-ts"],
    ),
    "cep_funnel_pattern": QuerySpec(
        cep_funnel_pattern,
        ORACLE_CEP_FUNNEL,
        ["§2.8", "A3", "A4", "X-ts"],
    ),
    "multi_touch_attribution": QuerySpec(
        multi_touch_attribution,
        ORACLE_MULTI_TOUCH,
        ["§2.8", "J2", "A1", "X-ts"],
    ),
    "shapley_attribution": QuerySpec(
        shapley_attribution,
        ORACLE_SHAPLEY_ATTRIBUTION,
        ["A1", "A5", "J1", "X-ts"],
    ),
    "sequence_pattern_support": QuerySpec(
        sequence_pattern_support,
        ORACLE_SEQUENCE_PATTERN,
        ["A1", "A8", "J3", "T1", "X-ts"],
    ),
    "interarrival_burstiness": QuerySpec(
        interarrival_burstiness,
        ORACLE_INTERARRIVAL_BURSTINESS,
        ["A1", "§2.8", "X-ts"],
    ),
    "activity_dispersion": QuerySpec(
        activity_dispersion,
        ORACLE_ACTIVITY_DISPERSION,
        ["A1", "A4", "X-ts"],
    ),
    "gap_fill_interpolate": QuerySpec(
        gap_fill_interpolate,
        ORACLE_GAP_FILL,
        ["§2.8", "A1", "F2", "X-ts"],
    ),
    "event_trigrams": QuerySpec(
        event_trigrams, ORACLE_EVENT_TRIGRAMS, ["§2.8", "A1", "T1", "X-ts"]
    ),
    "source_drift_cosine": QuerySpec(
        source_drift_cosine,
        ORACLE_SOURCE_DRIFT,
        ["X-text", "X-quality", "A1", "J3"],
    ),
    "activity_streaks": QuerySpec(
        activity_streaks, ORACLE_ACTIVITY_STREAKS, ["§2.8", "A1", "X-ts"]
    ),
    "interval_merge_coverage": QuerySpec(
        interval_merge_coverage, ORACLE_INTERVAL_MERGE, ["§2.8", "A1", "X-ts"]
    ),
    "frequent_triples": QuerySpec(
        frequent_triples,
        ORACLE_FREQUENT_TRIPLES,
        ["A1", "A8", "J1", "T1", "X-curation"],
    ),
    "market_basket_lift": QuerySpec(
        market_basket_lift, ORACLE_MARKET_BASKET, ["A8", "A1", "J1", "T1"]
    ),
    "value_histogram": QuerySpec(
        value_histogram, ORACLE_VALUE_HISTOGRAM, ["A1", "A4", "P15", "X-quality"]
    ),
    "ab_conversion_wilson": QuerySpec(
        ab_conversion_wilson, ORACLE_AB_WILSON, ["A3", "A1", "P15"]
    ),
    "chi_square_assoc": QuerySpec(
        chi_square_assoc, ORACLE_CHI_SQUARE, ["A1", "§2.8", "P15"]
    ),
    "markov_entropy_rate": QuerySpec(
        markov_entropy_rate,
        ORACLE_MARKOV_ENTROPY,
        ["A1", "A4", "§2.8", "X-ts"],
    ),
}
