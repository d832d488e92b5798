"""Frequency sketches: heavy hitters exactly and under bounded
memory (Misra-Gries).

The exact heavy-hitter query (frequency > n/K) is a plain
map-combined count — correct at any scale because partial
aggregation collapses hot keys before the exchange, so the shuffle
carries at most |vocabulary| rows per map partition. That is the
oracled driver query.

The library summary is for the regime where even the vocabulary
doesn't fit (open-ended keys: URLs, session ids, raw n-grams):
Misra-Gries keeps at most K counters per partition, summaries merge
associatively, and the classic guarantee survives both stages —
every item with true frequency > n/K is present, and each reported
estimate undercounts by at most n/K. Arrow-batched ``mapInPandas``
per partition (bounded dict, no shuffle), then one tiny
``applyInPandas`` merge over the ≤ partitions×K summary rows.

Reference analogue: none (the reference's aggregations are exact
Mongo pipelines); this is the 100 TB extension for count surfaces
that outgrow exact group-by state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.functions.scalar import md5_u32
from cricket_analytics_nosql_spark.operators.spec import QuerySpec
from cricket_analytics_nosql_spark.session import local_frame
from cricket_analytics_nosql_spark.sources.tables import load_table

HH_K = 2000  # heavy-hitter threshold denominator: freq > n/K


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: tokens covering more than 1/{HH_K} of the
    corpus token stream, with count and per-10k share. One
    map-combined count shuffle + a broadcast of the single global
    total; the filter is post-aggregate (A6/HAVING shape)."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    # derive the grand total from the vocabulary-sized counts frame —
    # aggregating `toks` separately would re-scan and re-explode the
    # whole corpus (the subtrees differ, so ReuseExchange can't help)
    total = counts.agg(F.sum("n").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n") * HH_K > F.col("n_total"))
        .select(
            "token",
            "n",
            "n_total",
            # integer division on both engines — double→int casts
            # truncate in Spark but round in DuckDB
            F.expr("(n * 10000) div n_total").alias("share_e4"),
        )
        .orderBy(F.desc("n"), F.asc("token"))
    )


ORACLE_HEAVY_HITTERS = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), counts AS (
  SELECT token, COUNT(*) AS n FROM toks GROUP BY token
), total AS (
  SELECT COUNT(*) AS n_total FROM toks
)
SELECT token, n, n_total,
       CAST((n * 10000) // n_total AS BIGINT) AS share_e4
FROM counts, total
WHERE n * {HH_K} > n_total
ORDER BY n DESC, token ASC
"""


def _mg_update(counters: dict, key, inc: int, k: int) -> None:
    """One Misra-Gries step: increment key if tracked or there is a
    free counter; otherwise decrement everyone (dropping zeros)."""
    if key in counters:
        counters[key] += inc
        return
    if len(counters) < k:
        counters[key] = inc
        return
    # decrement-all by the smallest of (inc, current min) until the
    # increment is absorbed — loop is bounded because each pass
    # either empties a slot or exhausts inc
    while inc > 0:
        if len(counters) < k:
            counters[key] = inc
            return
        m = min(counters.values())
        step = min(m, inc)
        inc -= step
        for c in list(counters):
            counters[c] -= step
            if counters[c] == 0:
                del counters[c]


def misra_gries_summary(df: DataFrame, col: str, k: int) -> DataFrame:
    """Bounded-memory frequent-items summary of ``df[col]``.

    Returns ≤ k rows (item string, estimated count). Guarantees, for
    n total rows: every item with true count > n/k appears, and
    ``estimate ≤ true ≤ estimate + n/k``. State is O(k) per task in
    stage one and O(partitions×k) rows into the single-group merge —
    driver never sees data, and the fact table never shuffles."""
    schema = "item string, est long"

    def _partition_summaries(
        it: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in it:
            for v in pdf[col].astype(str):
                _mg_update(counters, v, 1, k)
        if counters:
            yield pd.DataFrame(
                {"item": list(counters), "est": list(counters.values())}
            )

    partials = df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        _partition_summaries, schema
    )

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        counters: dict = {}
        for item, est in zip(pdf["item"], pdf["est"]):
            _mg_update(counters, item, int(est), k)
        return pd.DataFrame(
            {"item": list(counters), "est": list(counters.values())}
        )

    return (
        partials.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(_merge, schema)
    )


CMS_D = 4  # hash rows
# SQL literal row list for the oracle probes — derived from CMS_D so
# the sketch depth can never desynchronize between the two dialects
_CMS_ROWS_SQL = ", ".join(f"({i})" for i in range(CMS_D))
CMS_W = 512  # buckets per row


def _cms_bucket(key: Column, i: int, w: int = CMS_W) -> Column:
    """Deterministic bucket for hash row ``i``: first 8 hex chars of
    md5(key '#' i) mod W.  md5 is the one keyed hash BOTH engines
    (and any other SQL engine) compute bit-identically, which is
    what makes the whole sketch — not just the estimates' bounds —
    exactly oracle-checkable."""
    return (
        md5_u32(F.concat(key.cast("string"), F.lit(f"#{i}"))) % w
    ).alias(f"b{i}")


def _cms_hash_rows(key: Column, d: int, w: int) -> Column:
    """The exploded (i, b) hash-row stream for one key — the ONE
    spelling of the probe/build shape (tests exercise this same
    expression, so they cannot drift from production)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    _cms_bucket(key, i, w).alias("b"),
                )
                for i in range(d)
            ]
        )
    )


def cms_probes(
    df: DataFrame, key: str, d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """Attach the exploded hash rows to every input row (carried
    columns survive) — probe side of the sketch."""
    return df.select("*", _cms_hash_rows(F.col(key), d, w).alias("hb"))


def cms_build(
    df: DataFrame, key: str, d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """Count-Min sketch of a key column: a (hash_row, bucket, cnt)
    table of AT MOST D×W rows no matter the input size.  The build
    is one map-side explode (D rows per input row) into a keyed agg
    — partial aggregation collapses each task's contribution to
    ≤ D×W counters before the exchange, so the shuffle carries
    O(tasks · D · W) rows at any corpus scale, and the finished
    sketch broadcasts anywhere."""
    return (
        df.select(_cms_hash_rows(F.col(key), d, w).alias("hb"))
        .groupBy(F.col("hb.i").alias("i"), F.col("hb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: CMS estimates next to exact counts for the top
    event users.  The estimate is min over the key's D buckets —
    probes explode to (key, i, b), broadcast-join the D×W sketch,
    and take the group min; the CMS guarantee (estimate never below
    the true count) ships as an audited column and is pinned always-
    true in tests/test_sketches.py."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    sketch = cms_build(ev, "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = cms_probes(exact, "user_id")
    est = (
        probes.join(
            F.broadcast(sketch),
            (F.col("hb.i") == F.col("i")) & (F.col("hb.b") == F.col("b")),
        )
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return (
        est.select(
            "user_id",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_cnt")).alias(
                "never_undercounts"
            ),
        )
        .orderBy(F.desc("exact_cnt"), F.asc("user_id"))
        .limit(20)
    )


ORACLE_CMS_USER_COUNTS = f"""
WITH ev AS (
  SELECT user_id FROM events
), hashed AS (
  SELECT user_id, i.i AS i,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#' || i.i),
                              1, 8)) AS BIGINT) % {CMS_W} AS b
  FROM ev CROSS JOIN (VALUES {_CMS_ROWS_SQL}) AS i(i)
), sketch AS (
  SELECT i, b, COUNT(*) AS cnt FROM hashed GROUP BY i, b
), exact AS (
  SELECT user_id, COUNT(*) AS exact_cnt FROM ev GROUP BY user_id
), probes AS (
  SELECT e.user_id, e.exact_cnt, i.i AS i,
         CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR) || '#' || i.i),
                              1, 8)) AS BIGINT) % {CMS_W} AS b
  FROM exact e CROSS JOIN (VALUES {_CMS_ROWS_SQL}) AS i(i)
), est AS (
  SELECT p.user_id, p.exact_cnt, MIN(s.cnt) AS cms_est
  FROM probes p JOIN sketch s ON p.i = s.i AND p.b = s.b
  GROUP BY p.user_id, p.exact_cnt
)
SELECT user_id, exact_cnt, cms_est,
       cms_est >= exact_cnt AS never_undercounts
FROM est
ORDER BY exact_cnt DESC, user_id ASC
LIMIT 20
"""


def hll_rollup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct counts — the piece `approx_distinct`
    (flat sketch) and `time_rollup` (exact distinct, with a
    docstring promise) leave open: per-type HLL sketches of the
    user population, with the GLOBAL estimate computed by
    ``hll_union_agg`` over the finished per-type sketches — the
    fact is never rescanned for the rollup grain.  That is the
    continuous-aggregate contract at 100 TB: store sketches at the
    finest grain, merge upward for every coarser one.  Estimates
    have no cross-engine byte oracle (register layouts differ), so
    the driver-checked surface is the exact counts plus a ±5%
    envelope flag per row (oracled as literal TRUE — the datasketches
    HLL at default lgConfigK=12 has ~1.6% RSE, comfortably inside).
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    within = lambda est, exact: (  # noqa: E731
        (F.abs(est - F.col(exact)) / F.col(exact)) <= F.lit(0.05)
    )
    typed = per_type.select(
        "event_type",
        "exact_users",
        within(F.hll_sketch_estimate("sk"), "exact_users").alias(
            "approx_ok"
        ),
    )
    g_exact = ev.agg(F.count_distinct("user_id").alias("exact_users"))
    g_row = (
        per_type.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("g_est")
        )
        .crossJoin(F.broadcast(g_exact))
        .select(
            F.lit("ALL").alias("event_type"),
            "exact_users",
            within(F.col("g_est"), "exact_users").alias("approx_ok"),
        )
    )
    return typed.unionByName(g_row).orderBy("event_type")


ORACLE_HLL_ROLLUP = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_ok
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE FROM events
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Mergeable quantile-sketch state (fixed-width histogram, exact merge)
# ---------------------------------------------------------------------------

QSKETCH_BIN_CENTS = 10_000  # $100-wide bins over order totals
QSKETCH_BATCHES = 4
QSKETCH_QS = (0.5, 0.9, 0.99)


def quantile_sketch_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate contract for QUANTILES: each ingest
    batch (orderkey mod 4 — stand-in for daily deltas) reduces to a
    fixed-width histogram state (bin → count, integer cents), states
    merge by exact integer addition, and approximate quantiles read
    off the MERGED histogram — batches are never rescanned together
    (the ``cov_state_merge_audit`` discipline, first-order edition;
    a t-digest buys finer tails, a fixed grid buys exact mergeability
    and cross-engine reproducibility).  Per target quantile: the
    sketch answer (bin upper edge), the TRUE type-1 quantile
    recomputed from a full scan, and the relative error — plus a
    ``merge_matches_direct`` flag proving the merged state is
    bit-identical to the single-pass histogram.  All windows run
    over the ≤ value-domain/width bin rollup, never over rows."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("y"),
        (F.col("o_orderkey") % QSKETCH_BATCHES).alias("batch"),
    )
    states = o.groupBy(
        "batch", F.expr(f"div(y, {QSKETCH_BIN_CENTS})").alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    merged = states.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    direct = o.groupBy(F.expr(f"div(y, {QSKETCH_BIN_CENTS})").alias("bin")).agg(
        F.count(F.lit(1)).alias("cnt_d")
    )
    audit = (
        merged.join(direct, "bin", "full")
        .agg(
            (
                F.sum(
                    (
                        F.coalesce("cnt", F.lit(-1))
                        != F.coalesce("cnt_d", F.lit(-2))
                    ).cast("long")
                )
                == 0
            ).alias("merge_matches_direct"),
            F.count(F.lit(1)).alias("n_bins"),
        )
    )
    wbin = Window.orderBy("bin")
    cum = merged.select(
        "bin",
        F.sum("cnt").over(wbin).alias("cum"),
        F.sum("cnt").over(Window.partitionBy(F.lit(0))).alias("n"),
    )
    wval = Window.orderBy("y")
    vals = (
        o.groupBy("y")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "y",
            F.sum("c").over(wval).alias("cum"),
            F.sum("c").over(Window.partitionBy(F.lit(0))).alias("n"),
        )
    )
    qf = local_frame(spark, [(q,) for q in QSKETCH_QS], "q double")
    approx = (
        qf.join(
            F.broadcast(cum),
            F.col("cum") >= F.ceil(F.col("q") * F.col("n")),
        )
        .groupBy("q")
        .agg(
            ((F.min("bin") + 1) * QSKETCH_BIN_CENTS).alias("approx_cents"),
            F.max("n").alias("n"),
        )
    )
    exact = (
        qf.join(
            F.broadcast(vals),
            F.col("cum") >= F.ceil(F.col("q") * F.col("n")),
        )
        .groupBy("q")
        .agg(F.min("y").alias("exact_cents"))
    )
    return (
        approx.join(exact, "q")
        .crossJoin(F.broadcast(audit))
        .select(
            "q",
            "n",
            "exact_cents",
            "approx_cents",
            F.round(
                (F.col("approx_cents") - F.col("exact_cents"))
                / F.col("exact_cents"),
                6,
            ).alias("rel_err"),
            "n_bins",
            "merge_matches_direct",
        )
        .orderBy("q")
    )


def _qsketch_oracle() -> str:
    qs = ", ".join(f"({q})" for q in QSKETCH_QS)
    return f"""
WITH o AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS y,
         o_orderkey % {QSKETCH_BATCHES} AS batch
  FROM orders
), states AS (
  SELECT batch, y // {QSKETCH_BIN_CENTS} AS bin, COUNT(*) AS cnt
  FROM o GROUP BY 1, 2
), merged AS (
  SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt FROM states GROUP BY bin
), direct AS (
  SELECT y // {QSKETCH_BIN_CENTS} AS bin, COUNT(*) AS cnt_d
  FROM o GROUP BY 1
), audit AS (
  SELECT SUM(CASE WHEN COALESCE(cnt, -1) != COALESCE(cnt_d, -2)
                  THEN 1 ELSE 0 END) = 0 AS merge_matches_direct,
         COUNT(*) AS n_bins
  FROM merged FULL JOIN direct USING (bin)
), cum AS (
  SELECT bin, CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM merged
), vals AS (
  SELECT y, CAST(SUM(c) OVER (ORDER BY y) AS BIGINT) AS cum,
         CAST(SUM(c) OVER () AS BIGINT) AS n
  FROM (SELECT y, COUNT(*) AS c FROM o GROUP BY y)
), qf AS (
  SELECT CAST(q AS DOUBLE) AS q FROM (VALUES {qs}) AS t(q)
), approx AS (
  SELECT q, CAST((MIN(bin) + 1) * {QSKETCH_BIN_CENTS} AS BIGINT)
              AS approx_cents,
         MAX(n) AS n
  FROM qf JOIN cum ON cum >= CEIL(q * n)
  GROUP BY q
), exact AS (
  SELECT q, MIN(y) AS exact_cents
  FROM qf JOIN vals ON cum >= CEIL(q * n)
  GROUP BY q
)
SELECT q, n, exact_cents, approx_cents,
       ROUND(CAST(approx_cents - exact_cents AS DOUBLE) / exact_cents, 6)
         AS rel_err,
       n_bins, merge_matches_direct
FROM approx JOIN exact USING (q) CROSS JOIN audit
ORDER BY q
"""


# ---------------------------------------------------------------------------
# Bitmap-block exact distinct (the roaring-bitmap discipline, natively)
# ---------------------------------------------------------------------------


def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type without a countDistinct
    Expand and without shuffling user ids: each 63-user block of the
    id space reduces map-side to one BIGINT bitmask (63 so the sign
    bit is never set — engines disagree on signed-shift overflow) (bit_or), the
    exchange carries (type, block, mask) rollup rows, and popcounts
    sum to the exact distinct — the roaring-bitmap idea as plain
    integer aggregates.  The masks are MERGEABLE state (bit_or is
    idempotent + commutative), so the same frame is a continuous-
    aggregate input: tomorrow's events OR into today's blocks
    without rescanning history (``quantile_sketch_merge_audit``'s
    contract, membership edition).  ``matches_count_distinct``
    cross-checks against the Expand-based plan in-query."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    blocks = ev.groupBy(
        "event_type", F.expr("div(user_id, 63)").alias("blk")
    ).agg(
        F.expr(
            "bit_or(shiftleft(1L, cast(pmod(user_id, 63) as int)))"
        ).alias("mask")
    )
    via_bitmap = blocks.groupBy("event_type").agg(
        F.sum(F.bit_count("mask")).alias("n_distinct"),
        F.count(F.lit(1)).alias("n_blocks"),
    )
    via_expand = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_cd")
    )
    return (
        via_bitmap.join(via_expand, "event_type")
        .select(
            "event_type",
            "n_distinct",
            "n_blocks",
            (F.col("n_distinct") == F.col("n_cd")).alias(
                "matches_count_distinct"
            ),
        )
        .orderBy("event_type")
    )


ORACLE_BITMAP_DISTINCT = """
WITH blocks AS (
  SELECT event_type, user_id // 63 AS blk,
         BIT_OR(1::BIGINT << CAST(user_id % 63 AS INTEGER)) AS mask
  FROM events
  GROUP BY 1, 2
), via_bitmap AS (
  SELECT event_type, CAST(SUM(bit_count(mask)) AS BIGINT) AS n_distinct,
         COUNT(*) AS n_blocks
  FROM blocks GROUP BY event_type
), via_expand AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_cd FROM events GROUP BY 1
)
SELECT b.event_type, b.n_distinct, b.n_blocks,
       b.n_distinct = e.n_cd AS matches_count_distinct
FROM via_bitmap b JOIN via_expand e USING (event_type)
ORDER BY b.event_type
"""


# ---------------------------------------------------------------------------
# AMS tug-of-war sketch — second frequency moment (self-join size)
# ---------------------------------------------------------------------------

AMS_J = 16  # estimators: 4 groups × 4 → median of means
AMS_G = 4


def _ams_sign(j: int) -> Column:
    """Deterministic ±1 from the cross-engine md5 hash of user_id."""
    return F.when(
        md5_u32(F.col("user_id"), salt=f"ams{j}#") % 2 == 0, 1
    ).otherwise(-1)


def ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war estimate of F₂ = Σ_u f_u² of the per-user
    event-count distribution (the SELF-JOIN SIZE on user_id — what a
    join planner wants before committing a strategy), audited
    against the exact F₂ in the same row.

    The sketch: Z_j = Σ_events s_j(user) with deterministic ±1 hash
    signs; E[Z_j²] = F₂. {AMS_J} estimators, {AMS_G} groups, median
    of group means. Each Z_j is ONE map-combined conditional sum —
    the whole sketch state is {AMS_J} bigints per partition, merged
    by addition (the linear-sketch property; at 100 TB the exchange
    carries {AMS_J} longs per map partition and nothing else). The
    exact arm is a user rollup — correct but needing |users| state;
    the sketch needs O(1).

    Exactness: Z_j, the group sums of Z_j², and exact F₂ are all
    BIGINT; median-of-means = (q₂+q₃)/(2·{AMS_G}) is the first
    double, rel_err the second — both written oracle-identically."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    zs = ev.agg(
        *[F.sum(_ams_sign(j)).alias(f"z{j}") for j in range(AMS_J)]
    )
    qs = [
        sum(
            F.col(f"z{g * AMS_G + i}") * F.col(f"z{g * AMS_G + i}")
            for i in range(AMS_G)
        ).alias(f"q{g}")
        for g in range(AMS_J // AMS_G)
    ]
    est_row = zs.select(
        *qs
    ).select(
        F.array_sort(
            F.array(*[F.col(f"q{g}") for g in range(AMS_J // AMS_G)])
        ).alias("qa")
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(
            F.sum("f").alias("n_events"),
            F.sum(F.col("f") * F.col("f")).alias("f2_exact"),
        )
    )
    est = (
        F.element_at(F.col("qa"), 2) + F.element_at(F.col("qa"), 3)
    ).cast("double") / F.lit(2.0 * AMS_G)
    return est_row.crossJoin(F.broadcast(exact)).select(
        "n_events",
        "f2_exact",
        F.round(est, 2).alias("f2_est"),
        F.round(
            (est - F.col("f2_exact").cast("double"))
            / F.col("f2_exact").cast("double"),
            6,
        ).alias("rel_err"),
    )


def _ams_oracle() -> str:
    sign = (
        "CASE WHEN CAST(('0x' || substr(md5('ams{j}#' ||"
        " CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0"
        " THEN 1 ELSE -1 END"
    )
    z_exprs = ",\n         ".join(
        f"CAST(SUM({sign.format(j=j)}) AS BIGINT) AS z{j}"
        for j in range(AMS_J)
    )
    q_exprs = ", ".join(
        "("
        + " + ".join(
            f"z{g * AMS_G + i} * z{g * AMS_G + i}" for i in range(AMS_G)
        )
        + f") AS q{g}"
        for g in range(AMS_J // AMS_G)
    )
    q_list = ", ".join(f"q{g}" for g in range(AMS_J // AMS_G))
    return f"""
WITH zs AS (
  SELECT {z_exprs}
  FROM events
), qs AS (
  SELECT {q_exprs} FROM zs
), est AS (
  SELECT CAST(list_sort([{q_list}])[2]
              + list_sort([{q_list}])[3] AS DOUBLE)
         / {2.0 * AMS_G} AS f2_est
  FROM qs
), exact AS (
  SELECT CAST(SUM(f) AS BIGINT) AS n_events,
         CAST(SUM(f * f) AS BIGINT) AS f2_exact
  FROM (SELECT COUNT(*) AS f FROM events GROUP BY user_id)
)
SELECT n_events, f2_exact, ROUND(f2_est, 2) AS f2_est,
       ROUND((f2_est - CAST(f2_exact AS DOUBLE))
             / CAST(f2_exact AS DOUBLE), 6) AS rel_err
FROM est CROSS JOIN exact
"""


QUERIES: dict[str, QuerySpec] = {
    "ams_f2_sketch": QuerySpec(
        ams_f2_sketch,
        _ams_oracle(),
        ["A1", "A4", "X-curation"],
    ),
    "bitmap_distinct_users": QuerySpec(
        bitmap_distinct_users,
        ORACLE_BITMAP_DISTINCT,
        ["A1", "A4", "X-curation"],
    ),
    "quantile_sketch_merge_audit": QuerySpec(
        quantile_sketch_merge_audit,
        _qsketch_oracle(),
        ["A1", "A4", "§2.8", "X-versioning"],
    ),
    "hll_rollup_distinct": QuerySpec(
        hll_rollup_distinct, ORACLE_HLL_ROLLUP, ["A1", "A4", "X-ts"]
    ),
    "heavy_hitters": QuerySpec(
        heavy_hitters, ORACLE_HEAVY_HITTERS, ["A1", "A6", "X-curation"]
    ),
    "cms_user_counts": QuerySpec(
        cms_user_counts, ORACLE_CMS_USER_COUNTS, ["A1", "J1", "X-curation"]
    ),
}
