"""Similarity search over embedding columns — SURVEY.md §2.13 /
BASELINE.md mandate, over the ``embeddings`` table
(vec_id, embedding: array<float>, label).

Three paths, by scale posture:

- **Brute-force top-k** (the baseline + the oracle): broadcast the
  (small) query set against every vector; each vector's norm is a
  per-row ``vnorm`` and the pair cosine is ``cos6`` — an unrolled
  fixed-dim dot that whole-stage codegen compiles (the generic
  ``zip_with`` + ``aggregate`` fold in ``dot``/``cosine`` runs in
  the interpreted higher-order evaluator and serves runtime
  dimensions only). JVM-side, no Python in the loop. O(Q·N) but
  embarrassingly parallel and shuffle-free until the per-query
  top-k (window over Q partitions).
- **IVF** (scale path #1): coarse-quantize vectors into partitions
  (here the given ``label`` as the cell id — stand-in for k-means
  cells), keep a tiny centroid table, probe only the ``nprobe``
  nearest cells per query. Search cost drops to O(Q·N·nprobe/cells);
  the centroid table broadcasts.
- **LSH** (scale path #2): sign-random-projection bit signatures →
  bucket equi-join with multi-probe (hamming-1 neighbors), exact
  re-rank inside the probed buckets.

Both scale paths re-rank candidates with the exact cosine, so
precision is exact; only recall is approximate (tests measure it
against brute force).
"""

from __future__ import annotations

import functools
import math

import numpy as np

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.functions.scalar import flag
from cricket_analytics_nosql_spark.operators.spec import QuerySpec
from cricket_analytics_nosql_spark.session import loop_partitions
from cricket_analytics_nosql_spark.sources.tables import fan_out, load_table

N_QUERIES = 8  # vec_id < 8 is the demo query set
TOP_K = 5


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with a fixed left-to-right accumulation order (matches
    the DuckDB oracle's list_inner_product loop, so rounded values
    hash-compare equal)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def dot_unrolled(a: str, b: str, dim: int) -> Column:
    """``dot`` over the columns NAMED ``a`` and ``b`` with the fold
    unrolled to plain element_at sums — the same ((0.0 + t1) + t2) + …
    left-to-right chain (same IEEE result) but whole-stage-codegen
    instead of the interpreted higher-order evaluator. For statically
    known ``dim`` on hot pair streams. Built as ONE ``F.expr`` parse
    in the JVM: ~1 ms at dim=64 instead of ~5·dim py4j round-trips,
    which matters inside loops (k-means, PQ) that rebuild it."""
    return F.expr(
        "0.0D + "
        + " + ".join(
            f"element_at({a}, {i + 1}) * element_at({b}, {i + 1})"
            for i in range(dim)
        )
    )


def vnorm(v: str, dim: int = 64) -> Column:
    """‖v‖ of the fixed-``dim`` vector column ``v``. A per-ROW value:
    compute it once per vector, before any pair-forming join, and
    hand it to ``cos6``."""
    return F.sqrt(dot_unrolled(v, v, dim))


def cos6(a: str, an: str, b: str, bn: str, dim: int = 64) -> Column:
    """round(a·b / (‖a‖·‖b‖), 6) from vector columns ``a``/``b`` and
    their precomputed ``vnorm`` columns ``an``/``bn``. The operand
    order is the DuckDB oracles' ``ROUND(list_inner_product(a, b) /
    (sqrt(…a) * sqrt(…b)), 6)``, so values hash-compare equal; only
    the 64-term dot is per pair."""
    return F.round(dot_unrolled(a, b, dim) / (F.col(an) * F.col(bn)), 6)


def _doubles(df: DataFrame) -> DataFrame:
    """float32 → float64 once at scan; all math is then double-exact
    and engine-agnostic. Fanned out: vector math is CPU-dense and the
    local single-file input would otherwise run on one core."""
    return fan_out(df).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )


def ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector. The query
    side (8 rows) broadcasts; the big side streams — at 100 TB this
    is one scan, no shuffle until the tiny per-query top-k."""
    # Norms are per-ROW, so compute them once before the crossJoin —
    # inside it each would be recomputed per (query, vector) pair,
    # tripling the array math. dot/(qn*vn) is bit-identical to the
    # inline cosine (same operand order), so the oracle still hashes.
    emb = _doubles(load_table(spark, sf_dir, "embeddings")).withColumn(
        "vn", vnorm("v")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q"),
        F.col("vn").alias("qn"),
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cos6("q", "qn", "v", "vn").alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("q_id", "rank")
    )


ORACLE_ANN_BRUTE_FORCE = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q_id, e.vec_id,
         ROUND(list_inner_product(qv, v)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 6)
           AS cos
  FROM q, emb e
  WHERE e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, vec_id, cos, rank FROM ranked
WHERE rank <= {TOP_K}
ORDER BY q_id, rank
"""


# ---------------------------------------------------------------------------
# Matryoshka truncation audit (MRL prefix-dim retrieval quality)
# ---------------------------------------------------------------------------

MRL_DIMS = (8, 16, 32, 64)
MRL_K = 10


def matryoshka_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much retrieval quality survives truncating embeddings to
    their prefix dims (the Matryoshka-representation deployment
    question — shorter prefixes mean proportionally less scan IO and
    ANN memory)?  ONE corpus pass scores every (query, vector) pair
    at ALL prefix lengths simultaneously: each element is folded
    ONCE per product into per-SEGMENT partial sums (segments =
    gaps between consecutive prefix dims, materialized as columns),
    and dim-d values are left-to-right sums of those segments —
    ~3× less array math than re-slicing per dim, with the oracle
    building its numerators the same way so rounding stays exact.
    Then per-dim top-k windows and a recall@k join against the
    full-dim truth.  Scores are ROUNDED before ranking (vec_id tie-break), so
    the ranking — and therefore recall — is cross-engine exact.
    Output: per prefix dim, hits and recall@10 over the 8 queries."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings")).select("vec_id", "v")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q")
    )
    pairs = emb.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("q_id")
    )
    # each element is visited ONCE per product: fold each SEGMENT
    # between consecutive prefix dims into its own partial sum
    # (materialized columns, so later dims reuse earlier work), then
    # assemble dim-d values as left-to-right sums of the segments —
    # the oracle builds the numerators/denominators with the same
    # textual additions, so the rounded cosines stay bit-identical
    segs = list(zip((0,) + MRL_DIMS[:-1], MRL_DIMS))  # (prev, dim)
    seg_cols = {}
    for i, (a, b) in enumerate(segs):
        for name, e1, e2 in (
            ("qv", "q", "v"),
            ("qq", "q", "q"),
            ("vv", "v", "v"),
        ):
            seg_cols[f"{name}{i}"] = dot(
                F.slice(F.col(e1), a + 1, b - a),
                F.slice(F.col(e2), a + 1, b - a),
            ).alias(f"{name}{i}")
    seg = pairs.select("q_id", "vec_id", *seg_cols.values())

    def _cum(name: str, upto: int):
        expr = F.col(f"{name}0")
        for i in range(1, upto + 1):
            expr = expr + F.col(f"{name}{i}")
        return expr

    per_dim = seg.select(
        "q_id",
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("long").alias("dim"),
                        F.round(
                            _cum("qv", i)
                            / (
                                F.sqrt(_cum("qq", i))
                                * F.sqrt(_cum("vv", i))
                            ),
                            6,
                        ).alias("cos"),
                    )
                    for i, d in enumerate(MRL_DIMS)
                ]
            )
        ).alias("s"),
    ).select("q_id", "vec_id", F.col("s.dim").alias("dim"), F.col("s.cos").alias("cos"))
    w = Window.partitionBy("dim", "q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    # pinned: the (dims×queries×k)-row top-k frame feeds BOTH sides
    # of the recall semi-join — without the checkpoint each side
    # re-derives the whole scoring scan from lineage (the MMR-pool
    # lesson: measured 4 parquet scans → 1)
    topk = (
        per_dim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MRL_K)
        .select("dim", "q_id", "vec_id")
        .localCheckpoint()
    )
    truth = topk.filter(F.col("dim") == MRL_DIMS[-1]).select("q_id", "vec_id")
    return (
        topk.join(truth, ["q_id", "vec_id"], "left_semi")
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .withColumn(
            "recall_at_k",
            F.round(F.col("n_hits") / F.lit(float(N_QUERIES * MRL_K)), 6),
        )
        .orderBy("dim")
    )


def _mrl_oracle() -> str:
    # segment partial sums, then LEFT-TO-RIGHT cumulative additions —
    # textually the same arithmetic as the Spark side, so the rounded
    # cosines are bit-identical (a sequential fold over 1..16 is NOT
    # the same float as seg(1..8)+seg(9..16); both engines must pick
    # the same association, and they pick the segmented one)
    segs = list(zip((0,) + MRL_DIMS[:-1], MRL_DIMS))
    seg_cols = ",\n         ".join(
        f"list_inner_product({e1}[{a + 1}:{b}], {e2}[{a + 1}:{b}])"
        f" AS {name}{i}"
        for i, (a, b) in enumerate(segs)
        for name, e1, e2 in (("qv", "qv", "v"), ("qq", "qv", "qv"),
                             ("vv", "v", "v"))
    )
    arms = "\n  UNION ALL\n".join(
        "  SELECT CAST({d} AS BIGINT) AS dim, q_id, vec_id,"
        " ROUND(({qv}) / (sqrt({qq}) * sqrt({vv})), 6) AS cos FROM seg".format(
            d=d,
            qv=" + ".join(f"qv{j}" for j in range(i + 1)),
            qq=" + ".join(f"qq{j}" for j in range(i + 1)),
            vv=" + ".join(f"vv{j}" for j in range(i + 1)),
        )
        for i, d in enumerate(MRL_DIMS)
    )
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id < {N_QUERIES}
), seg AS (
  SELECT q.q_id, e.vec_id,
         {seg_cols}
  FROM q, emb e
  WHERE e.vec_id <> q.q_id
), scored AS (
{arms}
), ranked AS (
  SELECT dim, q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY dim, q_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
), topk AS (
  SELECT dim, q_id, vec_id FROM ranked WHERE rank <= {MRL_K}
), truth AS (
  SELECT q_id, vec_id FROM topk WHERE dim = {MRL_DIMS[-1]}
)
SELECT t.dim, COUNT(*) AS n_hits,
       ROUND(COUNT(*) / {float(N_QUERIES * MRL_K)}, 6) AS recall_at_k
FROM topk t
WHERE EXISTS (SELECT 1 FROM truth u
              WHERE u.q_id = t.q_id AND u.vec_id = t.vec_id)
GROUP BY t.dim
ORDER BY t.dim
"""


ORACLE_MATRYOSHKA = _mrl_oracle()


# ---------------------------------------------------------------------------
# Embedding-space outlier audit: farthest-from-centroid per cluster
# ---------------------------------------------------------------------------

OUTLIER_TOPK = 3


def embedding_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-QA lens on embedding space: which vectors sit farthest
    from their own cluster's centroid?  (Mislabeled, corrupted, or
    genuinely novel points — the triage list a curation pass reads.)
    Micro-unit quantization first (the ``cov_state`` discipline), so
    per-(label, dim) centroid numerators are EXACT integer sums; the
    squared distance is then one (label, dim)-keyed join and a
    per-vector sum — exploded arithmetic, never a d×d matrix, and
    ranking sorts the ROUNDED distance (vec_id tie-break) so the
    top-k is cross-engine exact.  Rank-based rather than z-scored:
    no float std enters any comparison."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(
                F.col("v"),
                lambda x: F.round(x * 1e6, 0).cast("long"),
            )
        ).alias("i", "xm"),
    )
    cent = emb.groupBy("label", "i").agg(
        F.sum("xm").alias("s"), F.count(F.lit(1)).alias("n")
    )
    dist = (
        emb.join(cent, ["label", "i"])
        .groupBy("label", "vec_id")
        .agg(
            F.round(
                F.sum(
                    F.pow(
                        F.col("xm") / F.lit(1e6)
                        - F.col("s") / F.lit(1e6) / F.col("n"),
                        F.lit(2.0),
                    )
                ),
                6,
            ).alias("dist2")
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("dist2"), "vec_id")
    return (
        dist.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= OUTLIER_TOPK)
        .select("label", "rk", "vec_id", "dist2")
        .orderBy("label", "rk")
    )


ORACLE_EMBEDDING_OUTLIER = f"""
WITH emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), expl AS (
  SELECT vec_id, label, i,
         CAST(ROUND(v[i + 1] * 1e6, 0) AS BIGINT) AS xm
  FROM emb, UNNEST(range(0, len(v))) AS t(i)
), cent AS (
  SELECT label, i, CAST(SUM(xm) AS BIGINT) AS s, COUNT(*) AS n
  FROM expl GROUP BY 1, 2
), dist AS (
  SELECT e.label, e.vec_id,
         ROUND(SUM(pow(e.xm / 1e6 - c.s / 1e6 / c.n, 2.0)), 6) AS dist2
  FROM expl e JOIN cent c ON e.label = c.label AND e.i = c.i
  GROUP BY 1, 2
), ranked AS (
  SELECT label, vec_id, dist2,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY dist2 DESC, vec_id) AS rk
  FROM dist
)
SELECT label, CAST(rk AS INT) AS rk, vec_id, dist2
FROM ranked
WHERE rk <= {OUTLIER_TOPK}
ORDER BY label, rk
"""


# ---------------------------------------------------------------------------
# Filtered vector search: pre-filter truth vs post-filter recall
# ---------------------------------------------------------------------------

FILTER_OVERFETCH = 3  # post-filter takes k' = 3k global candidates


def ann_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filtered-vector-search strategy question every vector
    store faces: with a metadata predicate (here label = q_id mod 10),
    PRE-filtering scores only qualifying vectors (exact, and cheaper
    when the predicate is pushed to the scan — the Spark answer,
    since the filter prunes before the zip_with math), while
    POST-filtering takes the global top-k'=3k then filters (the
    index-friendly answer when the predicate can't reach the index)
    and measurably loses recall on selective predicates.  ONE scored
    pass feeds both strategies via two windows; scores are ROUNDED
    before ranking (vec_id tie-break) so both engines agree
    per-row.  Output per query: predicate selectivity, post-filter
    survivors, and post-vs-pre recall@5."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings")).withColumn(
        "vn", vnorm("v")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q"),
        F.col("vn").alias("qn"),
        (F.col("vec_id") % 10).alias("target"),
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "target",
            "vec_id",
            "label",
            cos6("q", "qn", "v", "vn").alias("cos"),
        )
    )
    wg = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    wf = Window.partitionBy("q_id", (F.col("label") == F.col("target"))).orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    ranked = scored.select(
        "q_id",
        "target",
        "vec_id",
        "label",
        F.row_number().over(wg).alias("g_rank"),
        F.row_number().over(wf).alias("f_rank"),
    )
    post = ranked.filter(
        (F.col("g_rank") <= TOP_K * FILTER_OVERFETCH)
        & (F.col("label") == F.col("target"))
        & (F.col("f_rank") <= TOP_K)
    ).select("q_id", "vec_id")
    sel = scored.groupBy("q_id").agg(
        F.round(
            F.sum((F.col("label") == F.col("target")).cast("long"))
            / F.count(F.lit(1)),
            6,
        ).alias("selectivity")
    )
    # post ⊆ truth by construction (post's predicate strictly implies
    # truth's on the same ranked rows), so every post-filter survivor
    # IS a true top-k hit and recall_post = n_post / k — no recall
    # join needed, which also keeps this a two-consumer plan
    n_post = post.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_post"))
    return (
        sel.join(n_post, "q_id", "left")
        .na.fill({"n_post": 0})
        .select(
            "q_id",
            "selectivity",
            "n_post",
            F.round(F.col("n_post") / F.lit(float(TOP_K)), 6).alias(
                "recall_post"
            ),
        )
        .orderBy("q_id")
    )


ORACLE_ANN_FILTERED = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv, vec_id % 10 AS target
  FROM emb WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q_id, target, e.vec_id, e.label,
         ROUND(list_inner_product(qv, v)
               / (sqrt(list_inner_product(qv, qv))
                  * sqrt(list_inner_product(v, v))), 6) AS cos
  FROM q, emb e
  WHERE e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, target, vec_id, label,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, vec_id ASC) AS g_rank,
         ROW_NUMBER() OVER (PARTITION BY q_id, label = target
                            ORDER BY cos DESC, vec_id ASC) AS f_rank
  FROM scored
), post AS (
  SELECT q_id, vec_id FROM ranked
  WHERE g_rank <= {TOP_K * FILTER_OVERFETCH} AND label = target
        AND f_rank <= {TOP_K}
), sel AS (
  SELECT q_id,
         ROUND(SUM(CASE WHEN label = target THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 6) AS selectivity
  FROM scored GROUP BY q_id
), n_post AS (
  SELECT q_id, COUNT(*) AS n_post FROM post GROUP BY q_id
)
SELECT s.q_id, s.selectivity,
       COALESCE(n_post.n_post, 0) AS n_post,
       ROUND(COALESCE(n_post.n_post, 0) / {float(TOP_K)}, 6) AS recall_post
FROM sel s
LEFT JOIN n_post USING (q_id)
ORDER BY s.q_id
"""


# ---------------------------------------------------------------------------
# IVF scale path
# ---------------------------------------------------------------------------

def _argmin_cell_expr(
    cents: list[tuple[int, list[float]]],
    dim: int,
    vcol: str = "v",
    offset: int = 0,
    sliced: bool = False,
) -> Column:
    """Nearest-centroid cell id as ONE literal expression over the
    vector column — the shuffle-free half of the allreduce k-means
    (centroids are driver-side O(k·dim) state, the same discipline
    as pagerank's dangling-mass scalar).

    argmin_j ‖v−c_j‖² = argmin_j (‖c_j‖² − 2·v·c_j) since ‖v‖² is
    constant within a row — half the flops of the expanded d², and
    no crossJoin/groupBy: the previous plan materialized n×k
    assignment rows and shuffled them back down to n (a data-sized
    exchange per consumer); this is a pure projection the scan
    absorbs. Ties break to the lowest cell id (array_position
    returns the FIRST minimum; ``cents`` is sorted by cell id).
    Literal doubles round-trip exactly through repr (verified: the
    SQL parser reads the shortest-repr form back to the same bits).
    ``offset`` addresses a subvector slice in place (PQ subspaces).

    Shape matters: the codebook rides as ONE nested array literal
    with the per-cell score under transform/zip_with/aggregate —
    ~k·dim literal LEAVES but only a handful of expression NODES.
    The fully unrolled per-cell product chain (k·dim operator nodes)
    cost ~1.4 s of catalyst analysis + 4.7 s of Janino compile per
    fresh plan at k=16, dim=64 (measured); this form analyzes in
    ~0.1 s and evaluates through the interpreted higher-order
    evaluator, which on an argmin over k cells is already
    memory-bound, not compute-bound."""
    return F.expr(_argmin_struct_sql(cents, dim, vcol, offset, sliced) + ".c")


def _argmin_struct_sql(
    cents: list[tuple[int, list[float]]],
    dim: int,
    vcol: str = "v",
    offset: int = 0,
    sliced: bool = False,
) -> str:
    """SQL text of the argmin struct ``struct(s, c)`` (min score +
    winning cell) over the literal codebook — the shared core of
    ``_argmin_cell_expr`` and the radii-bearing assignment
    (``_assign_with_radii``)."""
    vexpr = (
        f"slice({vcol}, {offset + 1}, {dim})"
        if sliced or offset != 0
        else vcol
    )
    cells = ", ".join(str(cell) for cell, _ in cents)
    arrs = ", ".join(
        "array(" + ", ".join(f"{x!r}D" for x in v) + ")" for _, v in cents
    )
    norms = ", ".join(f"{sum(x * x for x in v)!r}D" for _, v in cents)
    scores = (
        f"zip_with(array({norms}), transform(array({arrs}), "
        f"c -> aggregate(zip_with({vexpr}, c, (x, y) -> x * y), "
        f"0.0D, (a, p) -> a + p)), (n, d) -> n - 2.0D * d)"
    )
    # single evaluation of the score pipeline: lambda-bearing
    # expressions are excluded from Spark's subexpression
    # elimination (SPARK-35410), so the array_position/array_min
    # form would compute every score TWICE per row. struct ordering
    # is (score, cell) lexicographic — min score, ties to the
    # lowest cell id, identical to the first-minimum semantics.
    return (
        f"array_min(zip_with({scores}, array({cells}), "
        f"(s, c) -> struct(s, c)))"
    )


def _centroid_frame(
    spark: SparkSession, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """(cell, centroid) DataFrame view of driver-side centroids, for
    consumers that join/broadcast the centroid table (probe ranking,
    radii). k rows of metadata — never data-sized."""
    return spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "cell int, centroid array<double>",
    )


# Crossover between the two cell-assignment plan forms, in codebook
# SCALARS (k·dim). The literal-argmin projection embeds the codebook
# in the plan text, so fresh-plan cost grows with k: measured end to
# end on sf0.001 (build+analyze+run, this host), literal vs
# broadcast-row is 1.4 vs 2.1 s at 1k scalars (k=16·d=64 — the
# contract queries, literal wins), 1.0 vs 0.5 s at 8k (k=128), and
# 6.3 vs 0.7 s at 66k (k=1024, megabytes of SQL text) — while a
# production IVF wants k ≈ √n, tens of thousands of cells. Past the
# threshold the codebook ships as ONE broadcast row instead (same
# argmin, bit-identical cells), whose plan size is O(1).
ARGMIN_LITERAL_MAX_SCALARS = 4096


def _book_frame(
    emb: DataFrame, cent_rows: list[tuple[int, list[float]]]
) -> DataFrame:
    """The whole codebook as ONE broadcast row — ``__book``, an array
    of (cell, centroid, n2 = ‖c‖²) structs sorted by cell — for the
    broadcast form of the cell assignment. ‖c‖² is folded in Python
    left to right, the same order as the literal form's."""
    book = emb.sparkSession.createDataFrame(
        [
            (
                [
                    (int(c), [float(x) for x in v], float(sum(x * x for x in v)))
                    for c, v in sorted(cent_rows)
                ],
            )
        ],
        "__book array<struct<cell:int,centroid:array<double>,n2:double>>",
    )
    return F.broadcast(book)


def assign_cells(
    emb: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    dim: int,
    vcol: str = "v",
    out: str = "cell",
    literal_max: int = ARGMIN_LITERAL_MAX_SCALARS,
) -> DataFrame:
    """Nearest-centroid cell assignment with the plan form picked by
    codebook size (VERDICT r10 hardening): k·dim ≤ ``literal_max``
    uses the literal-codebook projection (``_argmin_cell_expr`` —
    zero exchanges, scan-absorbed); larger codebooks ride as one
    broadcast row of array<struct> attached by a 1-row broadcast
    nested-loop join — still no data-sized exchange, and the plan
    text stays O(1) instead of O(k·dim) literals.

    Both forms compute bit-identical cells: the score is
    ‖c‖² − 2·v·c with ‖c‖² pre-folded in Python (same left-to-right
    float fold either way), the dot is the same zip_with/aggregate
    fold, and ties break to the lowest cell id via the same
    struct-min (tests/test_round11_ops.py pins equality across the
    seam)."""
    if not cent_rows:
        # An empty codebook (empty train corpus) assigns no cell:
        # every downstream consumer (radii, cell-pair prune, probe
        # join) joins on the cell id and correctly yields an empty
        # result. Without this, _argmin_cell_expr([]) builds untyped
        # array() literals and dies in analysis — the crash the
        # empty-codebook guard in _lloyd_numpy exists to avoid.
        return emb.withColumn(out, F.lit(None).cast("int"))
    if len(cent_rows) * dim <= literal_max:
        return emb.withColumn(out, _argmin_cell_expr(cent_rows, dim, vcol=vcol))
    assigned = emb.crossJoin(_book_frame(emb, cent_rows)).withColumn(
        out,
        F.expr(
            f"array_min(transform(__book, b -> struct("
            f"b.n2 - 2.0D * aggregate(zip_with({vcol}, b.centroid, "
            f"(x, y) -> x * y), 0.0D, (a, p) -> a + p) AS s, "
            f"b.cell AS c))).c"
        ),
    )
    return assigned.drop("__book")


def _assign_with_radii(
    emb: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    dim: int,
    vcol: str = "v",
    literal_max: int = ARGMIN_LITERAL_MAX_SCALARS,
) -> tuple[DataFrame, dict[int, float], dict[int, int]]:
    """Cell assignment AND per-cell angular radii in ONE corpus pass
    (round 12, guide §5/§1.5): the radius r_cell = max θ(member,
    centroid) rides the assignment checkpoint job as an Observation
    of k conditional maxes, so the separate radii pass over the
    assigned corpus (scan + broadcast join + groupBy) disappears.

    The member-centroid angle comes for free from the argmin struct:
    the winning score is s = ‖c‖² − 2·v·c, so v·c = (‖c‖² − s)/2 and
    cos = (‖c‖² − s)·0.5 / (‖v‖·‖c‖) — ‖v‖ is the row's ``vnorm``,
    folded once and kept as ``vn`` for the pair re-verify, instead of
    a second corpus pass. The recovered dot differs from a direct
    fold by ~1 ulp of ‖c‖² (and acos amplifies that to ~1e-8 near
    cos = 1), which the cell-pair prune's 1e-6 slack absorbs with two
    orders of magnitude to spare — the prune only needs a
    CONSERVATIVE upper bound, and emitted pairs are exact regardless
    (every candidate is re-verified with ``cos6``). A zero norm
    (zero centroid or zero vector) leaves the angle undefined: the
    division yields NULL rather than raising under ANSI, and the
    clamp turns it into θ = π, the widest possible radius.

    Returns ``(assigned, radii, sizes)``: ``assigned`` is the
    checkpointed (…, vn, cell) frame (``assign_cells``' schema plus
    the ``vn`` norm column), ``radii`` maps each NON-EMPTY cell to
    its measured radius (empty cells are absent, matching the old
    inner-join semantics), and ``sizes`` maps each non-empty cell to
    its row count — the same job also measures the data the
    downstream block-replication exchange will carry, so its
    partition count can be sized from measurement (the CC/pagerank
    loop-sizing discipline) instead of inherited from the session.

    Both assignment plan forms are kept (the ``assign_cells`` size
    seam): literal codebook below ``literal_max`` scalars, one
    broadcast array<struct> row past it. Cells are bit-identical to
    ``assign_cells`` — same score fold, same struct-min tie-break.
    """
    emb = emb.withColumn("vn", vnorm(vcol, dim))
    if not cent_rows:
        return assign_cells(emb, [], dim, vcol=vcol), {}, {}
    if len(cent_rows) * dim <= literal_max:
        # n2 lookup is a k-entry map literal (k scalars — O(k) plan
        # text, not the O(k·dim) codebook the seam guards against)
        n2_map = "map(" + ", ".join(
            f"{cell}, {sum(x * x for x in v)!r}D" for cell, v in cent_rows
        ) + ")"
        sc = _argmin_struct_sql(cent_rows, dim, vcol)
        # transform(array(sc), …)[1] binds the argmin struct ONCE —
        # naming it in a projection and extracting .cell/.th above
        # would invite CollapseProject to duplicate the whole score
        # pipeline per consumer
        cell_th = (
            f"element_at(transform(array({sc}), sc -> struct("
            f"sc.c AS cell, "
            f"acos(least(1.0D, greatest(-1.0D, try_divide("
            f"(element_at({n2_map}, sc.c) - sc.s) * 0.5D, "
            f"vn * sqrt(element_at({n2_map}, sc.c)))"
            f"))) AS th)), 1)"
        )
        based = emb.withColumn("__a", F.expr(cell_th))
    else:
        # min over (s, c, n2): (s, c) decides first and c is unique,
        # so the winner is identical to assign_cells' (s, c) min —
        # n2 just rides along for the angle
        amin = (
            f"array_min(transform(__book, b -> struct("
            f"b.n2 - 2.0D * aggregate(zip_with({vcol}, b.centroid, "
            f"(x, y) -> x * y), 0.0D, (a, p) -> a + p) AS s, "
            f"b.cell AS c, b.n2 AS n2)))"
        )
        cell_th = (
            f"element_at(transform(array({amin}), sc -> struct("
            f"sc.c AS cell, "
            f"acos(least(1.0D, greatest(-1.0D, try_divide("
            f"(sc.n2 - sc.s) * 0.5D, vn * sqrt(sc.n2))"
            f"))) AS th)), 1)"
        )
        based = (
            emb.crossJoin(_book_frame(emb, cent_rows))
            .withColumn("__a", F.expr(cell_th))
            .drop("__book")
        )
    obs = Observation()
    cols = [c for c in emb.columns]
    assigned = (
        based.select(
            *cols,
            F.col("__a.cell").alias("cell"),
            F.col("__a.th").alias("th"),
        )
        .observe(
            obs,
            *[
                F.max(F.when(F.col("cell") == int(c), F.col("th"))).alias(
                    f"r{int(c)}"
                )
                for c, _ in cent_rows
            ],
            *[
                F.count(F.when(F.col("cell") == int(c), F.lit(1))).alias(
                    f"n{int(c)}"
                )
                for c, _ in cent_rows
            ],
        )
        .drop("th")
        .localCheckpoint()
    )
    vals = obs.get
    radii = {
        int(c): float(vals[f"r{int(c)}"])
        for c, _ in cent_rows
        if vals[f"r{int(c)}"] is not None
    }
    sizes = {
        int(c): int(vals[f"n{int(c)}"])
        for c, _ in cent_rows
        if vals[f"n{int(c)}"]
    }
    return assigned, radii, sizes


# Quantizer-training sample budget, per cell: the coarse quantizer
# trains on the 256·k lowest vec_ids, the published FAISS default
# band (train ≥ 39·k, typical 256·k per centroid; ScaNN and public
# IVF guides use the same order). The sample is FIXED-SIZE — driver
# memory O(256·k·dim) ≈ 2 MB at k=16, dim=64 — independent of corpus
# scale, the same boundedness argument as the O(1)-row allreduce
# fetches (training.py gradient, bpe.py argmax).
KMEANS_TRAIN_PER_CELL = 256


def _train_sample(emb: DataFrame, k: int) -> list:
    """The deterministic bounded quantizer-train sample: the
    256·k lowest vec_ids, ONE TakeOrdered job, O(256·k·dim) driver
    bytes regardless of corpus size. Rows carry (vec_id, v) so the
    same collect also serves the fixed demo query set (vec_id <
    N_QUERIES — always a prefix of this sample)."""
    return (
        emb.orderBy("vec_id")
        .limit(max(k, KMEANS_TRAIN_PER_CELL * k))
        .select("vec_id", "v")
        .collect()
    )


def _lloyd_numpy(
    x: "np.ndarray", k: int, max_iter: int
) -> list[tuple[int, list[float]]]:
    """Lloyd's iteration on an in-memory train sample (float64
    numpy, deterministic): seeds are the first k rows (callers pass
    rows sorted by vec_id, so seeds = the k lowest vec_ids — the
    same seeding the distributed loop used), assignment is
    argmin_j (‖c_j‖² − 2·x·c_j) with numpy's first-minimum
    tie-break (= lowest cell id, matching ``_argmin_cell_expr``),
    update is the per-cell float64 mean. Cells that lose every
    member drop out — k is an upper bound. An empty train set
    yields an empty codebook (ADVICE r10: np.asarray([]) is 1-D and
    the score expression would raise AxisError instead)."""
    if len(x) == 0:
        return []
    cell_ids = list(range(1, min(k, len(x)) + 1))
    cents = x[: len(cell_ids)].copy()
    for _ in range(max_iter):
        scores = (cents * cents).sum(axis=1)[None, :] - 2.0 * (x @ cents.T)
        assign = scores.argmin(axis=1)
        kept_ids, kept_cents = [], []
        for idx, cid in enumerate(cell_ids):
            members = assign == idx
            if members.any():
                kept_ids.append(cid)
                kept_cents.append(x[members].mean(axis=0))
        cell_ids = kept_ids
        cents = np.asarray(kept_cents)
    return [
        (cid, [float(val) for val in cents[i]])
        for i, cid in enumerate(cell_ids)
    ]


def kmeans_fit_rows(
    emb: DataFrame,
    k: int = 16,
    max_iter: int = 4,
    dim: int = 64,
    sample: list | None = None,
) -> list[tuple[int, list[float]]]:
    """Coarse-quantizer training → sorted driver-side
    [(cell, centroid)] list: ONE TakeOrdered job collects the
    deterministic bounded train sample (the 256·k lowest vec_ids —
    see ``KMEANS_TRAIN_PER_CELL``; reproducible across
    runs/partitionings, unlike random sampling), then Lloyd's
    iteration runs on the sample in numpy.

    Why not iterate on the cluster: a 16-cell quantizer needs a few
    thousand training vectors no matter how big the corpus is —
    that is how production ANN systems train coarse quantizers
    (FAISS/ScaNN train on a fixed-size sample, never the corpus) —
    so per-round Spark jobs buy nothing but scheduler latency. The
    previous distributed loop cost ~0.5 s of fixed job overhead per
    round on a corpus that fits in the sample anyway (measured
    1.63 s for 3 rounds at sf0.1; this path: one ~0.1 s collect).
    The corpus-sized work — assignment, probing, re-rank — stays
    distributed (``_argmin_cell_expr`` projections, cell-keyed
    joins). At 100 TB the sample is still 4096 vectors: collect
    stays O(k·256·dim) bytes and the quantizer quality argument is
    unchanged (centroid estimates converge in sample size, not
    corpus size). Pass ``sample`` (rows from ``_train_sample``) to
    reuse an already-collected sample — zero jobs then."""
    if sample is None:
        sample = _train_sample(emb, k)
    x = np.asarray([r["v"] for r in sample], dtype=np.float64)
    if x.size and x.shape[1] != dim:
        raise ValueError(
            f"kmeans_fit_rows: vectors are {x.shape[1]}-dim, caller "
            f"declared dim={dim}"
        )
    return _lloyd_numpy(x, k, max_iter)


def kmeans_fit(
    emb: DataFrame, k: int = 16, max_iter: int = 4, dim: int = 64
) -> DataFrame:
    """Bounded-sample driver-side Lloyd fit → (cell, centroid)
    DataFrame (``kmeans_fit_rows`` wrapped for callers that
    join/broadcast the centroid frame; see that docstring for the
    fixed 256·k train-sample design)."""
    return _centroid_frame(
        emb.sparkSession, kmeans_fit_rows(emb, k=k, max_iter=max_iter, dim=dim)
    )


def _probe_key(dot: float, denom: float) -> tuple[int, float]:
    """Sort key for the driver-side probe ranking, mirroring the
    DataFrame path's DESCENDING cosine order as a total order on
    Python tuples (ADVICE r10 — the raw quotient raised
    ZeroDivisionError on zero norms, and NaN keys make Python's sort
    order position-dependent):

    - NaN score (NaN vector/centroid components): class −1 — Spark
      sorts NaN greater than everything, i.e. FIRST under desc;
    - finite score: class 0, negated (desc);
    - zero denominator: class 1 — non-ANSI SQL division by zero
      yields NULL, which the probe window's desc sort puts LAST.
      (Under Spark 4's default ANSI mode the DataFrame path errors
      on this degenerate input instead; the driver path stays
      total.)"""
    if denom == 0.0:
        return (1, 0.0)
    score = dot / denom
    if math.isnan(score):
        return (-1, 0.0)
    return (0, -score)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame | None = None,
    nprobe: int = 3,
    k: int = TOP_K,
    centroid_rows: list[tuple[int, list[float]]] | None = None,
    query_rows: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF probe: nearest ``nprobe`` cells per query by centroid
    cosine, exact re-rank within the probed cells. ``centroid_rows``
    (driver-side [(cell, centroid)], normally from
    ``kmeans_fit_rows`` at ingest) makes the corpus assignment a
    pure literal projection — no exchange; when it is omitted, the
    given ``label`` plays the cell id (the probe dataflow is
    identical either way). ``query_rows`` (driver-side
    [(q_id, vector)] — the fixed demo query set is O(1) metadata)
    additionally moves the probe-cell ranking to the driver: |Q|×k
    numpy cosines replace the crossJoin → window jobs, and the probe
    table becomes a local frame the cell join broadcasts."""
    dim = 64
    # Contract errors surface as ValueError, not an obscure
    # AttributeError deep in the plan build (ADVICE r10): query_rows
    # only short-circuits the probe ranking when the centroid side
    # is also driver-resident, and at least one query form is
    # required.
    if query_rows is not None and centroid_rows is None:
        raise ValueError(
            "ivf_topk: query_rows requires centroid_rows — the "
            "driver-side probe ranking needs both sides as metadata"
        )
    if queries is None and query_rows is None:
        raise ValueError("ivf_topk: pass queries or query_rows")
    if centroid_rows is not None:
        centroids = _centroid_frame(emb.sparkSession, centroid_rows)
        emb = assign_cells(emb, centroid_rows, dim)
    else:
        centroids = emb.groupBy(F.col("label").alias("cell")).agg(
            F.array(
                *[F.avg(F.col("v")[i]).alias(f"c{i}") for i in range(dim)]
            ).alias("centroid")
        )
        emb = emb.withColumn("cell", F.col("label"))
    if query_rows is not None and centroid_rows is not None:
        # probe ranking on the driver: |Q|·k cosines over metadata,
        # computed with the SAME left-to-right fold as the
        # DataFrame path's `cosine` (Python float ops are the same
        # IEEE binary64 add/mul/sqrt in the same order, so the two
        # paths rank probe cells bit-identically even at ties)
        def _fold_dot(a: list[float], b: list[float]) -> float:
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + x * y
            return acc

        cnorms = [
            math.sqrt(_fold_dot(c, c)) for _, c in centroid_rows
        ]

        probe_rows = []
        for q_id, qv in sorted(query_rows):
            qn = math.sqrt(_fold_dot(qv, qv))
            scored = sorted(
                (
                    _probe_key(_fold_dot(qv, c), qn * cnorms[i]),
                    cell,
                )
                for i, (cell, c) in enumerate(centroid_rows)
            )[:nprobe]
            probe_rows.extend(
                (int(q_id), [float(x) for x in qv], int(cell))
                for _, cell in scored
            )
        probes = emb.sparkSession.createDataFrame(
            probe_rows, "q_id long, q array<double>, cell int"
        )
    else:
        probe_w = Window.partitionBy("q_id").orderBy(
            F.desc("c_cos"), F.asc("cell")
        )
        probes = (
            queries.crossJoin(F.broadcast(centroids))
            .select(
                "q_id",
                "q",
                "cell",
                cosine(F.col("q"), F.col("centroid")).alias("c_cos"),
            )
            .withColumn("p", F.row_number().over(probe_w))
            .filter(F.col("p") <= nprobe)
            .select("q_id", "q", "cell")
        )
    # norms per row on each side of the join, never per pair
    probes = probes.withColumn("qn", vnorm("q"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        emb.withColumn("vn", vnorm("v"))
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos6("q", "qn", "v", "vn").alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_ivf_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate top-k neighbor rows — the user-facing
    result (float centroid averaging is partial-agg-order dependent
    in the last ulp, so the neighbor rows themselves have no
    byte-exact SQL oracle; the catalog query ``ann_ivf`` audits this
    path's recall against the DuckDB-recomputable brute-force truth
    instead)."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q")
    )
    return ivf_topk(emb, queries).orderBy("q_id", "rank")


def ann_ivf_kmeans_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ingest-then-probe IVF path: a distributed Lloyd's
    pass (kmeans_fit) trains the coarse quantizer instead of
    borrowing the given labels, then the same nprobe/re-rank probe.
    Neighbor rows; audited by the ``ann_ivf_kmeans`` catalog query
    for the same float-averaging reason as ``ann_ivf_neighbors``."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings"))
    # ONE metadata collect serves quantizer training AND the demo
    # query set (the N_QUERIES lowest vec_ids are a prefix of the
    # train sample by construction)
    sample = _train_sample(emb, 16)
    cents = kmeans_fit_rows(emb, k=16, max_iter=3, sample=sample)
    q_rows = [
        (r["vec_id"], list(r["v"]))
        for r in sample
        if r["vec_id"] < N_QUERIES
    ]
    return ivf_topk(
        emb, centroid_rows=cents, query_rows=q_rows
    ).orderBy("q_id", "rank")


# ---------------------------------------------------------------------------
# LSH scale path (sign random projection)
# ---------------------------------------------------------------------------

def _hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (fixed seed — signatures
    must be reproducible across runs and engines)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def srp_signature(v: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bit signature as a long: bit j set iff
    v · plane_j > 0. Pure native expressions — the planes are inlined
    literals, so this is a narrow map over the vectors."""
    bits = [
        F.when(
            dot(v, F.array(*[F.lit(float(x)) for x in plane])) > 0,
            F.lit(1 << j).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for j, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def ann_lsh_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k, textbook E2LSH shape: L=4
    independent tables × 6 planes each, multi-probe at hamming ≤ 1
    (7 probes/table), exact re-rank over the distinct candidates.

    Multiple small tables beat one big signature when neighbors are
    far (synthetic 64-d vectors top out near cos 0.45 ≈ 63°, so each
    bit only agrees with p≈0.65): recall compounds as 1-(1-p_table)^L.
    The candidate join is an equi-join on (table, bucket) — shuffle-
    partitioned, no driver involvement, skew bounded by bucket size."""
    n_tables, n_planes = 4, 6
    emb = _doubles(load_table(spark, sf_dir, "embeddings"))
    sig_cols = [
        srp_signature(
            F.col("v"), _hyperplanes(n_planes, 64, seed=100 + t)
        ).alias(f"b{t}")
        for t in range(n_tables)
    ]
    hashed = emb.select("vec_id", "v", vnorm("v").alias("vn"), *sig_cols)
    # explode to (vec_id, table, bucket) index rows
    index = hashed.select(
        "vec_id",
        "v",
        "vn",
        F.posexplode(
            F.array(*[F.col(f"b{t}") for t in range(n_tables)])
        ).alias("table", "bucket"),
    )
    queries = hashed.filter(F.col("vec_id") < N_QUERIES)
    # probes: per table, own bucket + every 1-bit flip
    probe_rows = []
    for t in range(n_tables):
        qb = F.col(f"b{t}")
        buckets = F.array(
            qb, *[qb.bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]
        )
        probe_rows.append(
            queries.select(
                F.col("vec_id").alias("q_id"),
                F.col("v").alias("q"),
                F.col("vn").alias("qn"),
                F.lit(t).alias("table"),
                F.explode(buckets).alias("bucket"),
            )
        )
    probes = functools.reduce(lambda a, b: a.unionAll(b), probe_rows)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        index.join(F.broadcast(probes), ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", "q", "qn", "v", "vn")
        .dropDuplicates(["q_id", "vec_id"])
        .select("q_id", "vec_id", cos6("q", "qn", "v", "vn").alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("q_id", "rank")
    )


# Per-method recall floors, shared with ann_recall_audit: measured
# 0.325-0.425 (ivf), 0.8-0.975 (kmeans), 0.525-0.7 (lsh) across
# sf0.001-0.1 on the deterministic testdata — every bound sits well
# under the measured band so the flags are stable at any driver sf.
# pq measured 0.60-0.80 recall@5 (50-candidate ADC pool, exact
# re-rank) across sf0.001-0.1; 0.45 sits under the band
RECALL_FLOORS = {"ivf": 0.25, "ivf_kmeans": 0.6, "lsh": 0.4, "pq": 0.45}


def _concurrent_frames(*thunks) -> list:
    """Materialize independent frames as CONCURRENT jobs (guide
    §2.6): Spark's scheduler happily runs several jobs at once inside
    one application — actions are only sequential because driver code
    calls them sequentially. Each thunk returns a (typically
    localCheckpoint-ed) DataFrame; results come back in thunk order,
    and the first raised exception propagates. Used where a query's
    pipeline forks into independent corpus-scale branches that meet
    only at a tiny final join (the ANN audits: exact truth vs the
    method's candidates). Thunks share the session, so none may
    enter ``session.fixed_plan`` (which pins session-wide confs)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def _ann_method_audit(
    spark: SparkSession, sf_dir: str, method: str, neighbors_fn
) -> DataFrame:
    """Hash-oracleable single-row audit of one approximate-ANN path
    (the ann_recall_audit pattern, folded into the method's own
    catalog entry): the neighbor rows themselves can't be SQL-oracled
    (float centroid averages, hyperplane hashes), but (a) the exact
    brute-force ground truth IS DuckDB-recomputable and (b) the
    method's recall against that truth clearing its measured floor is
    a deterministic boolean. A broken candidate generator or re-rank
    drops recall below the floor → recall_ok flips → the driver's
    hash check goes red. Emits (n_queries, n_exact_pairs,
    avg_topk_cos, recall_ok)."""
    # count + rounded mean observed ON the truth checkpoint job
    # (round 11): the separate stats aggregate was one more full
    # scheduler round-trip per audit. The rounding still happens
    # JVM-side; summation order differs from the old hash-agg plan
    # the same way partial-agg order always could, which round(·, 6)
    # exists to absorb (oracle parity re-verified at all 3 scales).
    obs = Observation()

    def _exact() -> DataFrame:
        return (
            ann_brute_force(spark, sf_dir)
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                (F.round(F.avg("cos"), 6) + F.lit(0.0)).alias("avg_topk_cos"),
            )
            .localCheckpoint()
        )

    def _neighbors() -> DataFrame:
        return (
            neighbors_fn(spark, sf_dir)
            .select("q_id", "vec_id")
            .localCheckpoint()
        )

    # The truth scan and the method's own pipeline are INDEPENDENT
    # until the final (40-row semi-join) comparison — round 12,
    # guide §2.6: submit both from driver threads so the method's
    # candidate scan back-fills cores the brute-force tail leaves
    # idle, instead of running strictly after it. Result frames and
    # the recall boolean are unchanged (each job is deterministic on
    # its own; only the wall-clock overlaps).
    exact, neigh = _concurrent_frames(_exact, _neighbors)
    stats = obs.get
    n_exact = int(stats["n"])
    hits = neigh.join(exact, ["q_id", "vec_id"], "left_semi").count()
    return spark.createDataFrame(
        [
            (
                N_QUERIES,
                n_exact,
                float(stats["avg_topk_cos"]),
                hits / n_exact >= RECALL_FLOORS[method],
            )
        ],
        "n_queries long, n_exact_pairs long, "
        "avg_topk_cos double, recall_ok boolean",
    )


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled audit of the IVF probe path (neighbor rows:
    ``ann_ivf_neighbors``)."""
    return _ann_method_audit(spark, sf_dir, "ivf", ann_ivf_neighbors)


def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled audit of the kmeans-trained IVF path (neighbor
    rows: ``ann_ivf_kmeans_neighbors``)."""
    return _ann_method_audit(
        spark, sf_dir, "ivf_kmeans", ann_ivf_kmeans_neighbors
    )


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled audit of the SRP-LSH path (neighbor rows:
    ``ann_lsh_neighbors``)."""
    return _ann_method_audit(spark, sf_dir, "lsh", ann_lsh_neighbors)


ORACLE_ANN_METHOD_AUDIT = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q_id, e.vec_id,
         ROUND(list_inner_product(qv, v)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 6)
           AS cos
  FROM q, emb e
  WHERE e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
), topk AS (
  SELECT * FROM ranked WHERE rank <= {TOP_K}
)
SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
       COUNT(*) AS n_exact_pairs,
       ROUND(AVG(cos), 6) + 0.0 AS avg_topk_cos,
       TRUE AS recall_ok
FROM topk
"""


# ---------------------------------------------------------------------------
# Embedding-training data ops: contrastive mining + semantic leakage
# ---------------------------------------------------------------------------

HARD_NEG_K = 3
DECON_TAU = 0.30  # max corpus cosine is ~0.32-0.49 on the testdata


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding-model training: for each
    anchor (the 8-query demo set), the top-k SAME-label neighbors
    (positives) and the top-k highest-cosine WRONG-label vectors —
    the hard negatives that make contrastive losses work (random
    negatives are trivially far; the ones near the margin carry the
    gradient). One broadcast of the anchor set against the corpus
    scan (the ann_brute_force posture: no shuffle until the per-
    anchor top-k window), exact cosine, fully SQL-expressible →
    exact oracle."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings")).withColumn(
        "vn", vnorm("v")
    )
    anchors = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q"),
        F.col("vn").alias("qn"),
        F.col("label").alias("q_label"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.when(F.col("label") == F.col("q_label"), F.lit("pos"))
            .otherwise(F.lit("neg"))
            .alias("role"),
            cos6("q", "qn", "v", "vn").alias("cos"),
        )
    )
    w = Window.partitionBy("q_id", "role").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARD_NEG_K)
        .orderBy("q_id", "role", "rank")
    )


ORACLE_HARD_NEGATIVE_MINING = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv, label AS q_label FROM emb
  WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q_id, e.vec_id,
         CASE WHEN e.label = q_label THEN 'pos' ELSE 'neg' END AS role,
         ROUND(list_inner_product(qv, v)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 6)
           AS cos
  FROM q, emb e
  WHERE e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, role, cos,
         ROW_NUMBER() OVER (
           PARTITION BY q_id, role ORDER BY cos DESC, vec_id ASC
         ) AS rank
  FROM scored
)
SELECT q_id, vec_id, role, cos, rank FROM ranked
WHERE rank <= {HARD_NEG_K}
ORDER BY q_id, role, rank
"""


def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-leakage scan — the semantic dual of the
    n-gram ``decontaminate``: per held-out benchmark vector (the
    8-query demo set), how many CORPUS vectors sit within cosine ≥ τ
    (paraphrase-level leakage the shingle scan can't see), the
    closest contaminant and its similarity. Benchmark side
    broadcasts by construction; corpus side is one scan — the
    decontaminate posture on the vector modality."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings")).withColumn(
        "vn", vnorm("v")
    )
    bench = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q"),
        F.col("vn").alias("qn"),
    )
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    scored = corpus.crossJoin(F.broadcast(bench)).select(
        "q_id",
        "vec_id",
        cos6("q", "qn", "v", "vn").alias("cos"),
    )
    return (
        scored.groupBy("q_id")
        .agg(
            F.sum(
                F.when(F.col("cos") >= DECON_TAU, 1).otherwise(0)
            ).alias("n_contaminants"),
            (F.round(F.max("cos"), 6) + F.lit(0.0)).alias("max_cos"),
            F.min_by(
                "vec_id",
                F.struct(
                    (-F.col("cos")).alias("nc"), F.col("vec_id").alias("v")
                ),
            ).alias("closest_vec_id"),
        )
        .orderBy("q_id")
    )


ORACLE_SEMANTIC_DECONTAMINATE = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), bench AS (
  SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q_id, e.vec_id,
         ROUND(list_inner_product(qv, v)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 6)
           AS cos
  FROM bench, emb e
  WHERE e.vec_id >= {N_QUERIES}
)
SELECT q_id,
       CAST(SUM(CASE WHEN cos >= {DECON_TAU} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminants,
       ROUND(MAX(cos), 6) + 0.0 AS max_cos,
       FIRST(vec_id ORDER BY cos DESC, vec_id ASC) AS closest_vec_id
FROM scored
GROUP BY q_id
ORDER BY q_id
"""


# ---------------------------------------------------------------------------
# Product quantization — the compression half of IVF-PQ
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 8  # 64-d → 8 subvectors of 8 dims
PQ_CODES = 16  # 4-bit codes per subspace → 8 bytes per vector
PQ_CAND = 50  # ADC candidate pool before exact re-rank
COS_TAU = 0.42  # near-dup cosine cut, shared by Spark sides and oracles


def pq_codebooks_rows(
    emb: DataFrame,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODES,
    iters: int = 3,
    dim: int = 64,
    sample: list | None = None,
) -> dict[int, list[tuple[int, list[float]]]]:
    """Per-subspace k-means codebooks, allreduce form → driver-side
    {subspace: sorted [(cell, centroid)]}. The full codebook is
    m·k·(dim/m) floats — KB-scale metadata, which is the entire
    point of PQ: the corpus compresses to m small codes per vector
    while search math runs against this table.

    ONE TakeOrdered job collects the deterministic bounded train
    sample (the 256·k lowest vec_ids — the ``kmeans_fit_rows``
    rationale: codebook quality converges in sample size, not
    corpus size; FAISS trains PQ codebooks the same way), then all
    m subspace Lloyd loops run on the sample's slices in numpy.
    Seeds per subspace are the k lowest vec_ids' slices — identical
    across subspaces by construction, matching the previous
    row_number seeding. The corpus-sized work (``pq_encode``, the
    ADC scan) stays distributed. Pass ``sample`` to reuse an
    already-collected ``_train_sample`` — zero jobs then."""
    sub_dim = dim // m
    if sample is None:
        sample = _train_sample(emb, k)
    x = np.asarray([r["v"] for r in sample], dtype=np.float64)
    return {
        j: _lloyd_numpy(
            x[:, j * sub_dim: (j + 1) * sub_dim].copy(), k, iters
        )
        for j in range(m)
    }


def pq_codebooks(
    emb: DataFrame,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODES,
    iters: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Per-subspace codebooks → (subspace, cell, centroid) DataFrame
    (``pq_codebooks_rows`` wrapped for callers that broadcast the
    codebook table; ``ann_pq`` itself uses the rows form directly —
    its ADC lookup tables are driver-side literals)."""
    books = pq_codebooks_rows(emb, m=m, k=k, iters=iters, dim=dim)
    return emb.sparkSession.createDataFrame(
        [
            (j, int(c), [float(x) for x in v])
            for j in sorted(books)
            for c, v in books[j]
        ],
        "subspace int, cell int, centroid array<double>",
    )


def pq_encode(emb: DataFrame, books: DataFrame, dim: int = 64) -> DataFrame:
    """(vec_id, subspace, code): nearest codebook cell per subvector.
    The codebook (m·k metadata rows) collects to the driver once and
    every subspace's code evaluates as a literal-argmin projection
    in the same scan — no join, no groupBy: the previous plan
    exploded the corpus to n×m rows and shuffled n×m×k assignment
    rows through groupBy(subspace, vec_id)."""
    m = PQ_SUBSPACES
    sub_dim = dim // m
    rows = {j: [] for j in range(m)}
    for r in books.collect():
        rows[r["subspace"]].append((r["cell"], list(r["centroid"])))
    for j in range(m):
        rows[j].sort()
    return emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    _argmin_cell_expr(
                        rows[j], sub_dim, offset=j * sub_dim, sliced=True
                    )
                    for j in range(m)
                ]
            )
        ).alias("subspace", "code"),
    )


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracled audit of the PQ-ADC search path — the
    asymmetric-distance search at the heart of IVF-PQ (Jégou et al.,
    public method), audited the ann_ivf way since codebooks are
    float-kmeans artifacts with no SQL twin. Pipeline: train m=8
    16-cell codebooks, encode the corpus to 8 codes/vector, build
    each query's (subspace, code) → partial-distance LOOKUP TABLE
    (m·k entries per query — literal metadata, the codebook and the
    fixed demo query set are both driver-side), score every vector
    in the COMPRESSED domain as the sum of m table lookups evaluated
    IN THE ENCODE SCAN (textbook ADC: a map lookup per subspace per
    query — no join, no groupBy; the previous plan exploded the
    corpus to n×m rows, joined the LUT, and shuffled n×m×|Q|
    partial-distance rows back down), keep the top-50 ADC candidates
    per query, exact-re-rank those to top-k. Recall vs the exact
    brute-force truth must clear the measured floor. At 100 TB the
    ADC scan reads 8 BYTES per vector instead of 256 — the 32×
    scan-compression is why this path exists — and the only
    corpus-sized exchange left is the per-query top-50 selection."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings"))
    m, sub_dim = PQ_SUBSPACES, 64 // PQ_SUBSPACES

    def _approx() -> DataFrame:
        # ONE metadata collect serves codebook training AND the demo
        # query set (see ann_ivf_kmeans_neighbors)
        sample = _train_sample(emb, PQ_CODES)
        books_rows = pq_codebooks_rows(emb, sample=sample)
        # the demo query set is O(1) metadata (N_QUERIES fixed rows),
        # so each query's LUT is a driver-side constant: pd[q][j][cell]
        # = ‖q_j − centroid‖² over the subspace slice
        q_rows = sorted(
            (r["vec_id"], list(r["v"]))
            for r in sample
            if r["vec_id"] < N_QUERIES
        )
        code_cols = [
            _argmin_cell_expr(
                books_rows[j], sub_dim, offset=j * sub_dim, sliced=True
            ).alias(f"c{j}")
            for j in range(m)
        ]

        def _adc_expr(qv: list[float]) -> str:
            parts = []
            for j in range(m):
                qs = qv[j * sub_dim: (j + 1) * sub_dim]
                entries = ", ".join(
                    f"{cell}, {sum((a - b) * (a - b) for a, b in zip(qs, c))!r}D"
                    for cell, c in books_rows[j]
                )
                parts.append(f"element_at(map({entries}), c{j})")
            return " + ".join(parts)

        adc_structs = F.array(
            *[
                F.struct(
                    F.lit(q_id).cast("long").alias("q_id"),
                    F.expr(_adc_expr(qv)).alias("adc_d2"),
                )
                for q_id, qv in q_rows
            ]
        )
        w_adc = Window.partitionBy("q_id").orderBy(
            F.asc("adc_d2"), F.asc("vec_id")
        )
        cand = (
            emb.select("vec_id", *code_cols)
            .select("vec_id", F.explode(adc_structs).alias("qa"))
            .select("vec_id", "qa.q_id", "qa.adc_d2")
            .filter(F.col("vec_id") != F.col("q_id"))
            .withColumn("r", F.row_number().over(w_adc))
            .filter(F.col("r") <= PQ_CAND)
            .select("q_id", "vec_id")
        )
        queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("q")
        )
        # exact re-rank of the candidate pool
        qv = queries.withColumnRenamed("q", "qv")
        vv = emb.select("vec_id", F.col("v").alias("vv"))
        w = Window.partitionBy("q_id").orderBy(
            F.desc("cos"), F.asc("vec_id")
        )
        return (
            cand.join(F.broadcast(qv), "q_id")
            .join(vv, "vec_id")
            .select(
                "q_id", "vec_id", cosine(F.col("qv"), F.col("vv")).alias("cos")
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("q_id", "vec_id")
            .localCheckpoint()
        )

    # count + rounded mean observed ON the truth checkpoint job
    # (round 12 — the _ann_method_audit treatment: the separate
    # stats aggregate was one more scheduler round-trip)
    obs = Observation()

    def _exact() -> DataFrame:
        return (
            ann_brute_force(spark, sf_dir)
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                (F.round(F.avg("cos"), 6) + F.lit(0.0)).alias("avg_topk_cos"),
            )
            .localCheckpoint()
        )

    # The exact truth and the PQ pipeline (train collect → encode
    # scan → ADC top-50 → re-rank) are independent until the final
    # 40-row semi-join — run them as concurrent jobs (guide §2.6;
    # see _concurrent_frames)
    exact, approx = _concurrent_frames(_exact, _approx)
    stats = obs.get
    n_exact = int(stats["n"])
    hits = approx.join(exact, ["q_id", "vec_id"], "left_semi").count()
    return spark.createDataFrame(
        [
            (
                N_QUERIES,
                n_exact,
                float(stats["avg_topk_cos"]),
                hits / n_exact >= RECALL_FLOORS["pq"],
            )
        ],
        "n_queries long, n_exact_pairs long, "
        "avg_topk_cos double, recall_ok boolean",
    )


TOPIC_TOP_TERMS = 3


def cluster_topic_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal cluster readout — the report a curation team pulls
    after clustering a corpus by embedding: per embedding LABEL
    (cluster), its size, mean text quality, and the top-3
    most-frequent non-stopword terms with counts. Joins the TEXT
    modality onto the VECTOR modality on the shared id (doc_id =
    vec_id — the pipeline invariant that embeddings are 1:1 with
    documents), which no single-modality query exercises.

    Scale posture: the label column (metadata-sized) joins onto the
    documents scan co-keyed; term counting is one explode +
    map-combined (label, term) agg; top-3 is a label-partitioned
    window over the already-aggregated term frame. The doc⋈embedding
    join is id-keyed — bucket both tables by id at ingest and it is
    exchange-free."""
    from cricket_analytics_nosql_spark.operators.text import (
        STOPWORDS,
        quality_col,
        tokens_col,
    )

    docs = load_table(spark, sf_dir, "documents")
    labels = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    joined = docs.join(labels, "doc_id").select(
        "label",
        F.round(quality_col(F.col("text")), 6).alias("q"),
        tokens_col(F.col("text")).alias("w"),
    )
    stats = joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.round(F.avg("q"), 6) + F.lit(0.0)).alias("avg_quality"),
    )
    terms = (
        joined.select("label", F.explode("w").alias("term"))
        .filter(~F.col("term").isin(*STOPWORDS))
        .groupBy("label", "term")
        .agg(F.count(F.lit(1)).alias("term_count"))
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("term_count"), F.asc("term")
    )
    top = terms.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOPIC_TOP_TERMS
    )
    return (
        top.join(F.broadcast(stats), "label")
        .select(
            "label", "n_docs", "avg_quality", "rank", "term", "term_count"
        )
        .orderBy("label", "rank")
    )


def _cluster_topic_oracle() -> str:
    from cricket_analytics_nosql_spark.operators.dedup import _STOPS_SQL

    return f"""
WITH joined AS (
  SELECT e.label,
         ROUND(0.4 * LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
           + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / len(string_split(text, ' ')))
           + 0.3 * (1.0 - LEAST(CAST(len(list_filter(string_split(text, ' '),
                          t -> t IN ('{_STOPS_SQL}'))) AS DOUBLE)
                    / len(string_split(text, ' ')) * 5, 1.0)), 6) AS q,
         string_split(text, ' ') AS w
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
), stats AS (
  SELECT label, COUNT(*) AS n_docs, ROUND(AVG(q), 6) + 0.0 AS avg_quality
  FROM joined GROUP BY label
), terms AS (
  SELECT label, t.term, COUNT(*) AS term_count
  FROM joined, UNNEST(w) AS t(term)
  WHERE t.term NOT IN ('{_STOPS_SQL}')
  GROUP BY label, t.term
), top AS (
  SELECT label, term, term_count,
         ROW_NUMBER() OVER (
           PARTITION BY label ORDER BY term_count DESC, term ASC
         ) AS rank
  FROM terms
)
SELECT t.label, s.n_docs, s.avg_quality, t.rank, t.term, t.term_count
FROM top t JOIN stats s ON t.label = s.label
WHERE t.rank <= {TOPIC_TOP_TERMS}
ORDER BY t.label, t.rank
"""


def exact_cosine_pairs(
    emb: DataFrame,
    tau: float,
    centroids: DataFrame | None = None,
    k: int = 16,
    dim: int = 64,
) -> DataFrame:
    """All vector pairs (v1 < v2) with cosine ≥ τ — EXACT, via
    IVF-cell blocking with an angular triangle-inequality prune.

    Candidates → exact-verify shape (the dedup.py MinHash pattern),
    but unlike an SRP-LSH pre-filter the candidate set provably
    contains every qualifying pair: vectors are assigned to k
    coarse cells (k-means centroids, normally fit once at ingest);
    per cell we keep the angular radius r = max θ(member, centroid);
    a cell pair (c1, c2) can contain a qualifying pair only if
    θ(c1, c2) − r1 − r2 ≤ acos(τ), by the triangle inequality on
    angles. Radii ride the assignment checkpoint job as an
    Observation (round 12 — ``_assign_with_radii``; no separate
    radii pass), the surviving-cell-pair prune is driver-side float
    math over k centroids + k radii, and vectors replicate into
    their blocks through ONE broadcast role-table equi-join — never
    a Cartesian node. Candidates are re-checked with the exact
    cosine, so the output set is identical to the all-pairs baseline
    for ANY centroid quality.

    Why not SRP-LSH here: at a τ this far below 1 (the per-hyperplane
    agreement for a τ=0.42 pair is only ≈0.64) a banding scheme with
    near-certain recall needs so many tables that its candidate
    volume exceeds brute force — LSH is the right tool for top-k
    probes (``ann_lsh``) and for high-τ near-dup corpora, not for an
    exact loose-τ threshold join. On clustered corpora (real
    near-dup data) the cell prune removes most cell pairs; on
    adversarial uniform data it degrades to a *blocked*, evenly
    hash-partitioned all-pairs — the information-theoretic floor for
    exact semantics — with per-task memory bounded by cell size, not
    corpus size.

    The per-block inner kernel is a numpy GEMM under applyInPandas
    (round 9): each surviving unordered cell pair becomes one group
    holding both cells' vectors, the group computes its full cosine
    block as one normalized matrix product, and candidates within
    ε=1e-6 of τ come back as (v1, v2) id pairs only. (A round-11
    batch-segmented mapInArrow twin was measured IDENTICAL on the
    sf0.1 blocked-all-pairs worst case — 136 groups, 0.8-0.9 s
    stage either way on warm workers — so the simpler grouped form
    stays.) EXACTNESS is
    preserved by construction: the GEMM is a prefilter whose band
    covers any summation-order divergence from the JVM fold (~1e-14
    for unit-norm 64-dim vectors, band 1e-6), and every survivor is
    re-verified on the JVM with ``cos6`` over the norms checkpointed
    with the assignment (round(cosine, 6) ≥ τ, same fold and operand
    order), so emitted pairs and their ``cos`` values are
    bit-identical to the scalar path and the all-pairs oracle. Why
    GEMM: the candidate stream is the hot path — dense 64-dim dot
    products are BLAS's home turf (one matrix product per block vs
    millions of codegen'd scalar folds on the sf0.1 blocked
    all-pairs worst case) — exactly the "vectorized Python
    where built-ins can't express it efficiently" rule.

    At 100 TB: centroids/radii are ingest-time artifacts; block
    replication is bounded by surviving-cell-pair degree (the
    block-nested-loop floor); per-task memory is one cell pair's
    vectors (cap cell size at ingest); survivors are proportional to
    true near-dup pairs, so the re-verify joins broadcast the pair
    frame, never the corpus. The driver-side prune is O(k²) numpy —
    ~800 MB of θ matrix at k = 10⁴; chunk the outer loop (row-block
    at a time) past that before raising k further."""
    import math

    if centroids is None:
        cent_rows = kmeans_fit_rows(emb, k=k, max_iter=3, dim=dim)
    else:
        cent_rows = sorted(
            (r["cell"], list(r["centroid"])) for r in centroids.collect()
        )
    # ONE corpus pass sets up the whole block structure (round 12,
    # guide §5/§1.5): the assignment checkpoint job carries the
    # per-cell radii as an Observation, and the k²-bounded cell-pair
    # prune is plain driver-side float math over k centroids + k
    # radii — the radii pass over the assigned corpus, its broadcast
    # join, and the cand_cells checkpoint job all disappear (plan:
    # 3 passes over the assigned corpus → 1 before the re-verify).
    # At cluster scale this is the ingest-time "persist assignments
    # and radii next to the vectors" step.
    assigned, radii, sizes = _assign_with_radii(emb, cent_rows, dim)
    # unordered k×k/2 candidate prune (driver-side): a cell pair
    # survives iff θ(c1,c2) − r1 − r2 ≤ acos(τ) + 1e-6 — same bound,
    # same 1e-6 slack as the old JVM broadcast join; numpy/Python
    # float64 differs from the JVM fold by ~1e-16 and acos amplifies
    # the radii recovery to ~1e-8 (see _assign_with_radii), both
    # orders of magnitude inside the slack, and the prune only needs
    # to be CONSERVATIVE — survivors are re-verified exactly below.
    # Cells with no members carry no radius and join nothing, the
    # old inner-join semantics.
    theta_tau = math.acos(tau)
    live = sorted(c for c in radii)
    cent_by_id = dict(cent_rows)
    cand: list[tuple[int, int]] = []
    if live:
        cmat = np.asarray([cent_by_id[c] for c in live], dtype=np.float64)
        nrm = np.linalg.norm(cmat, axis=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            cosm = (cmat @ cmat.T) / np.outer(nrm, nrm)
        theta = np.arccos(np.clip(cosm, -1.0, 1.0))
        rv = np.asarray([radii[c] for c in live])
        # a zero-norm centroid has no direction, so its θ is NaN and
        # bounds nothing: take θ = 0, which keeps every pair with
        # that cell (a NaN would compare False and silently drop
        # them, the cell's own diagonal block included)
        theta = np.where(np.isfinite(theta), theta, 0.0)
        ok = theta - rv[:, None] - rv[None, :] <= theta_tau + 1e-6
        cand = [
            (live[i], live[j])
            for i in range(len(live))
            for j in range(i, len(live))
            if ok[i, j]
        ]
    # replicate each vector into every block it participates in:
    # side 0 = the c1 cell, side 1 = the c2 cell (diagonal blocks
    # need only side 0 — both roles are the same set). The role
    # table is cell-keyed (k rows, ≤2k roles each) and broadcast, so
    # the replication is ONE pass over the assigned corpus — the old
    # two-branch union scanned it once per side.
    roles: dict[int, list[tuple[int, int, int]]] = {}
    for c1v, c2v in cand:
        roles.setdefault(c1v, []).append((c1v, c2v, 0))
        if c2v != c1v:
            roles.setdefault(c2v, []).append((c1v, c2v, 1))
    roles_df = emb.sparkSession.createDataFrame(
        [(c, rs) for c, rs in sorted(roles.items())],
        "cell int, rs array<struct<c1:int,c2:int,side:int>>",
    )
    sides = (
        assigned.join(F.broadcast(roles_df), "cell")
        .select("vec_id", "v", F.explode("rs").alias("r"))
        .select(
            F.col("r.c1").alias("c1"),
            F.col("r.c2").alias("c2"),
            "vec_id",
            "v",
            F.col("r.side").alias("side"),
        )
    )
    pre_tau = tau - 1e-6  # covers fold-vs-GEMM ulps AND round(·, 6)

    def _gemm_block(key, pdf):
        import numpy as np
        import pandas as pd

        a_rows = pdf[pdf["side"] == 0]
        b_rows = a_rows if key[0] == key[1] else pdf[pdf["side"] == 1]
        empty = pd.DataFrame({
            "v1": pd.Series(dtype="int64"),
            "v2": pd.Series(dtype="int64"),
        })
        if a_rows.empty or b_rows.empty:
            return empty
        a_ids = a_rows["vec_id"].to_numpy()
        b_ids = b_rows["vec_id"].to_numpy()
        a_mat = np.stack(a_rows["v"].to_numpy())
        a_n = a_mat / np.linalg.norm(a_mat, axis=1, keepdims=True)
        if key[0] == key[1]:
            b_n = a_n
        else:
            b_mat = np.stack(b_rows["v"].to_numpy())
            b_n = b_mat / np.linalg.norm(b_mat, axis=1, keepdims=True)
        block = a_n @ b_n.T
        if key[0] == key[1]:
            # same set on both axes: id order keeps each pair once
            hit = (block >= pre_tau) & (a_ids[:, None] < b_ids[None, :])
        else:
            # disjoint sets: every hit is a distinct unordered pair
            hit = block >= pre_tau
        ii, jj = np.nonzero(hit)
        if ii.size == 0:
            return empty
        lo = np.minimum(a_ids[ii], b_ids[jj])
        hi = np.maximum(a_ids[ii], b_ids[jj])
        return pd.DataFrame({"v1": lo, "v2": hi})

    # The block exchange is an explicit keyed repartition sized from
    # the MEASURED replicated-row count (Σ |cell|·roles(cell), exact
    # from the assignment job's Observation) — the CC/pagerank
    # ``loop_partitions`` sizing; the grouped GEMM then reads it in
    # place. Inherited session sizing ran this KB-scale exchange
    # through 32 tasks at bench scale — measured 3.15 → 2.6 s for the
    # pipeline at sf0.1 — and at cluster scale the same formula keeps
    # block tasks in-memory. The checkpoint is pair-sized (the
    # near-dup band), and the re-verify broadcast below reads it
    # materialized.
    sides_rows = sum(
        sizes.get(c, 0) * len(rs) for c, rs in roles.items()
    )
    cand_pairs = (
        sides.repartition(loop_partitions(sides_rows), "c1", "c2")
        .groupBy("c1", "c2")
        .applyInPandas(_gemm_block, "v1 long, v2 long")
        .localCheckpoint()
    )
    # exact re-verify of the (near-dup-sized) survivor band with
    # ``cos6``: pair frame broadcasts, corpus streams. Both probes
    # read the assignment CHECKPOINT — vec_id, v and the ‖v‖ it
    # already folded — so only the pair dot is computed per pair.
    e1 = assigned.select(
        F.col("vec_id").alias("v1"), F.col("v").alias("va"), F.col("vn").alias("an")
    )
    e2 = assigned.select(
        F.col("vec_id").alias("v2"), F.col("v").alias("vb"), F.col("vn").alias("bn")
    )
    with_a = e1.join(F.broadcast(cand_pairs), "v1")
    return (
        e2.join(F.broadcast(with_a), "v2")
        .select("v1", "v2", cos6("va", "an", "vb", "bn", dim).alias("cos"))
        .filter(F.col("cos") >= tau)
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (X-dedup): all vector pairs
    with cosine ≥ τ, computed by the exact cell-blocked threshold
    join (``exact_cosine_pairs``) — candidates from an IVF angular
    prune, exact re-verify, no Cartesian node, output identical to
    the all-pairs oracle by construction. τ is set below the corpus
    maximum (~0.48-0.51 on synthetic vectors) so the operator has
    real output."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings"))
    return (
        exact_cosine_pairs(emb, tau=COS_TAU)
        .orderBy(F.desc("cos"), F.asc("v1"), F.asc("v2"))
        .limit(100)
    )


ORACLE_DEDUP_EMBEDDING = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         ROUND(list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)
           AS cos
  FROM emb a, emb b
  WHERE a.vec_id < b.vec_id
)
SELECT v1, v2, cos FROM pairs
WHERE cos >= {COS_TAU}
ORDER BY cos DESC, v1 ASC, v2 ASC
LIMIT 100
"""


def vector_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics — the training-data curation
    primitive behind class balancing and centroid-based filtering:
    vector count, dimensionality, and the L2 norm of the label
    centroid (element-wise mean). posexplode turns the array column
    into (vec, dim, value) rows so the centroid is one groupBy —
    fully shuffle-partitioned on (label, dim), no per-label collect,
    which is what makes it work when one label holds billions of
    vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    )
    centroid = (
        dims.groupBy("label", "dim")
        .agg(F.avg(F.col("x").cast("double")).alias("c"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("dims"),
            F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias(
                "centroid_norm"
            ),
        )
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        counts.join(centroid, "label")
        .select("label", "n_vecs", "dims", "centroid_norm")
        .orderBy("label")
    )


ORACLE_VECTOR_LABEL_STATS = """
WITH dims AS (
  SELECT label,
         CAST(unnest(range(len(embedding))) AS INT) AS dim,
         CAST(unnest(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS x
  FROM embeddings
), centroid AS (
  SELECT label, dim, AVG(x) AS c FROM dims GROUP BY label, dim
), per_label AS (
  SELECT label, COUNT(*) AS dims, ROUND(sqrt(SUM(c * c)), 6) AS centroid_norm
  FROM centroid GROUP BY label
)
SELECT e.label, COUNT(*) AS n_vecs, ANY_VALUE(p.dims) AS dims,
       ANY_VALUE(p.centroid_norm) AS centroid_norm
FROM embeddings e JOIN per_label p ON e.label = p.label
GROUP BY e.label
ORDER BY e.label
"""


# --------------------------------------------------------------------------
# kNN graph (all-vectors nearest neighbours)

KNN_K = 3


def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbour graph over the whole embedding
    table: (vec_id, neighbor_id, cos, rank ≤ {KNN_K}) — the edge
    list dedup clustering and diversity sampling consume. This is
    the exact baseline (every vector scores against every other;
    norms hoisted out of the pair loop, per-vector bounded top-k,
    no shuffle until k rows/vector). The 100 TB path swaps the
    scoring side for the IVF probe (``ivf_topk`` with the full
    table as the query side) and trades exactness for cell-bounded
    candidates — same output schema, recall-tested like ``ann_ivf``."""
    return knn_graph_edges(spark, sf_dir).orderBy("vec_id", "rank")


def knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unordered kNN edge frame ``knn_graph`` and
    ``mutual_knn_pairs`` share — (vec_id, neighbor_id, cos, rank)."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings")).withColumn(
        "vn", vnorm("v")
    )
    right = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("vn").alias("nn"),
    )
    scored = (
        emb.crossJoin(F.broadcast(right))
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            "vec_id",
            "neighbor_id",
            cos6("v", "vn", "nv", "nn").alias("cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
    )


ORACLE_KNN_GRAPH = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), scored AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         ROUND(list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
  FROM emb a, emb b
  WHERE a.vec_id <> b.vec_id
), ranked AS (
  SELECT vec_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT vec_id, neighbor_id, cos, rank FROM ranked
WHERE rank <= {KNN_K}
ORDER BY vec_id, rank
"""


def mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-kNN pairs: (v1 < v2) where EACH vector is in the
    other's exact top-{KNN_K} neighbor list — the high-precision
    near-dup / same-entity signal retrieval systems layer on a kNN
    graph (one-directional kNN is asymmetric and hubs collect false
    neighbors; mutuality filters the hubs out, cf. the hubness
    audit). Pure composition: the ``knn_graph`` edge list self-
    joined on its reversed key — the edge frame is k·n rows, so the
    mutual join is k·n ⋈ k·n on (src, dst), never touching the pair
    space again. Output keeps both directions' ranks so the
    asymmetry that was filtered is visible."""
    edges = knn_graph_edges(spark, sf_dir)
    fwd = edges.select(
        F.col("vec_id").alias("v1"),
        F.col("neighbor_id").alias("v2"),
        F.col("cos").alias("cos"),
        F.col("rank").alias("rank_fwd"),
    ).filter(F.col("v1") < F.col("v2"))
    rev = edges.select(
        F.col("neighbor_id").alias("v1"),
        F.col("vec_id").alias("v2"),
        F.col("rank").alias("rank_rev"),
    ).filter(F.col("v1") < F.col("v2"))
    return (
        fwd.join(rev, ["v1", "v2"])
        .select("v1", "v2", "cos", "rank_fwd", "rank_rev")
        .orderBy(F.desc("cos"), "v1", "v2")
        .limit(100)
    )


ORACLE_MUTUAL_KNN = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), scored AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         ROUND(list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
  FROM emb a, emb b
  WHERE a.vec_id <> b.vec_id
), ranked AS (
  SELECT vec_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
), edges AS (
  SELECT vec_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {KNN_K}
)
SELECT f.vec_id AS v1, f.neighbor_id AS v2, f.cos AS cos,
       f.rank AS rank_fwd, r.rank AS rank_rev
FROM edges f
JOIN edges r ON r.vec_id = f.neighbor_id AND r.neighbor_id = f.vec_id
WHERE f.vec_id < f.neighbor_id
ORDER BY cos DESC, v1, v2
LIMIT 100
"""


def ann_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the embedding space — the high-dimensional
    pathology every ANN deployment must check: in hubby spaces a few
    points appear in EVERYONE's k-NN list (inflating their retrieval
    share) while antihubs are never retrieved at all, and recall
    numbers silently stop meaning what they say. Measured as the
    skewness of the k-occurrence distribution N_k(x) = how many
    times x appears across all ``knn_graph`` top-{KNN_K} lists
    (Radovanović et al., JMLR 2010), plus the antihub count and the
    worst hub's share.

    Exactness: occurrences are integers, so the moment sums Σc, Σc²,
    Σc³ are exact bigints over the per-vector frame (antihubs
    included via a left join against the id list, coalesce 0); the
    skewness composes once from five scalars in oracle-identical
    textual order. Scale: consumes the knn edge list (n·k rows) —
    the audit itself adds one keys+counts rollup and one id join,
    nothing pair-sized; swap the knn producer for the IVF variant at
    corpus scale, audit unchanged."""
    occ = (
        knn_graph(spark, sf_dir)
        .groupBy("neighbor_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    dense = ids.join(
        occ, ids.vec_id == occ.neighbor_id, "left"
    ).select(F.coalesce(F.col("c"), F.lit(0).cast("long")).alias("c"))
    agg = dense.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("sc2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).alias("sc3"),
        F.sum((F.col("c") == 0).cast("long")).alias("n_antihubs"),
        F.max("c").alias("max_occurrence"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sc").cast("double") / nd
    m2 = F.col("sc2").cast("double") / nd - mean * mean
    m3 = (
        F.col("sc3").cast("double") / nd
        - 3.0 * mean * (F.col("sc2").cast("double") / nd)
        + 2.0 * mean * mean * mean
    )
    return agg.select(
        F.col("n").alias("n_vectors"),
        F.lit(KNN_K).cast("long").alias("k"),
        F.round(mean, 6).alias("mean_occurrence"),
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        "n_antihubs",
        "max_occurrence",
    )


ORACLE_ANN_HUBNESS = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), scored AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         ROUND(list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
  FROM emb a, emb b
  WHERE a.vec_id <> b.vec_id
), ranked AS (
  SELECT vec_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
), occ AS (
  SELECT neighbor_id, COUNT(*) AS c FROM ranked
  WHERE rank <= {KNN_K} GROUP BY neighbor_id
), dense AS (
  SELECT COALESCE(occ.c, 0) AS c
  FROM (SELECT vec_id FROM embeddings) ids
  LEFT JOIN occ ON ids.vec_id = occ.neighbor_id
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS sc2,
         CAST(SUM(c * c * c) AS BIGINT) AS sc3,
         CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_antihubs,
         CAST(MAX(c) AS BIGINT) AS max_occurrence
  FROM dense
)
SELECT n AS n_vectors,
       CAST({KNN_K} AS BIGINT) AS k,
       ROUND(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_occurrence,
       ROUND((CAST(sc3 AS DOUBLE) / CAST(n AS DOUBLE)
              - 3.0 * (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE))
              + 2.0 * (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)))
             / ((CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)))
                * sqrt(CAST(sc2 AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)))), 6)
         AS skewness,
       n_antihubs, max_occurrence
FROM agg
"""


def embedding_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit of the embedding space (Ethayarajh-style): the
    mean pairwise cosine across ALL vector pairs. Anisotropic spaces
    (mean cos ≫ 0 — every vector leaning into a common direction)
    quietly break cosine thresholds for dedup and retrieval; this is
    the one-number check that says whether 0.8 means "near-dup" or
    "everything".

    THE scale trick: no pair is ever formed. With unit vectors,
    Σ_{i≠j} cos(i,j) = ‖Σᵢ v̂ᵢ‖² − n, so the audit is ONE pass —
    normalize, quantize components to integer micro-units (so the
    per-dimension sums are order-free exact bigints; the float
    normalization itself is the dot()/list_inner_product fixed-order
    contract knn relies on), explode to (dim, q) and roll up 64
    dimension sums. O(n·d) work, d-row exchange, versus the n²/2
    pair join the naive spelling costs — THIS is the posture that
    survives a billion vectors. (s_d² at ~10⁹ rows outgrows bigint —
    swap the micro grid down or the sum to DECIMAL there; exact at
    any tested SF.)"""
    emb = _doubles(load_table(spark, sf_dir, "embeddings"))
    vn = vnorm("v")
    q = F.transform(
        F.col("v"), lambda x: F.round(x / vn * 1e6, 0).cast("long")
    )
    ex = emb.select(F.posexplode(q).alias("pos", "qv"))
    dims = ex.groupBy("pos").agg(
        F.sum("qv").alias("s"),
        F.sum(F.col("qv") * F.col("qv")).alias("qq"),
    )
    tot = dims.agg(
        F.count(F.lit(1)).alias("dim"),
        F.sum(F.col("s") * F.col("s")).alias("s2"),
        F.sum("qq").alias("self_sq"),
    )
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    j = tot.crossJoin(F.broadcast(n))
    nd = F.col("n").cast("double")
    return j.select(
        F.col("n").alias("n_vectors"),
        "dim",
        F.round(
            (F.col("s2").cast("double") - F.col("self_sq").cast("double"))
            / (nd * (nd - 1.0) * 1e12),
            6,
        ).alias("mean_pairwise_cos"),
        F.round(F.col("self_sq").cast("double") / (nd * 1e12), 6).alias(
            "mean_self_dot"
        ),
    )


ORACLE_EMBEDDING_ISOTROPY = """
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(ROUND(
           x / sqrt(list_inner_product(v, v)) * 1e6, 0) AS BIGINT)) AS qv
  FROM emb
), ex AS (
  SELECT r.i AS pos, qv[r.i] AS val
  FROM q CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) r
), dims AS (
  SELECT pos, CAST(SUM(val) AS BIGINT) AS s,
         CAST(SUM(val * val) AS BIGINT) AS qq
  FROM ex GROUP BY pos
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS dim,
         CAST(SUM(s * s) AS BIGINT) AS s2,
         CAST(SUM(qq) AS BIGINT) AS self_sq
  FROM dims
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM emb)
SELECT n AS n_vectors, dim,
       ROUND((CAST(s2 AS DOUBLE) - CAST(self_sq AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) * 1e12), 6)
         AS mean_pairwise_cos,
       ROUND(CAST(self_sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12), 6)
         AS mean_self_dot
FROM tot CROSS JOIN n
"""


# --------------------------------------------------------------------------
# int8 embedding quantization (training-data compression)

def quantize_cols(v: Column) -> tuple[Column, Column, Column]:
    """Per-vector symmetric int8 quantization as native expressions:
    scale = max|x|/127, q_i = floor(x_i/scale + 0.5). ``floor(+0.5)``
    instead of round(): engines disagree on tie-rounding (HALF_UP vs
    half-away-from-zero) while floor is exact IEEE in both, so the
    quantized codes are engine-identical. Returns (scale, rmse,
    max_abs_err) of the dequantized reconstruction — all computed in
    one fold over the array, no explode, rides the scan."""
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = amax / F.lit(127.0)
    err = lambda x: x - F.floor(x / scale + F.lit(0.5)) * scale  # noqa: E731
    err2 = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + F.pow(err(x), F.lit(2.0))
    )
    maxerr = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(err(x)))
    )
    rmse = F.sqrt(err2 / F.size(v))
    zero = scale == 0.0  # all-zero vector: reconstruction is exact
    return (
        scale,
        F.when(zero, F.lit(0.0)).otherwise(rmse),
        F.when(zero, F.lit(0.0)).otherwise(maxerr),
    )


def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 quantization audit: per label, the reconstruction error a
    symmetric per-vector int8 scheme would cost (4× compression of a
    float32 corpus). Narrow map over the scan → one tiny aggregate;
    the quantized codes themselves would be written next to the
    originals in the same pass at export time."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings"))
    scale, rmse, maxerr = quantize_cols(F.col("v"))
    per_vec = emb.select(
        "label",
        scale.alias("scale"),
        rmse.alias("rmse"),
        maxerr.alias("maxerr"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("scale"), 6).alias("avg_scale"),
            F.round(F.avg("rmse"), 6).alias("avg_rmse"),
            F.round(F.max("maxerr"), 6).alias("worst_abs_err"),
        )
        .orderBy("label")
    )


ORACLE_EMBEDDING_QUANTIZE = """
WITH per_vec AS (
  SELECT label,
         list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x)), 'max') / 127.0 AS scale,
         CAST(len(embedding) AS DOUBLE) AS d,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
), errs AS (
  SELECT label, scale,
         CASE WHEN scale = 0 THEN 0.0 ELSE sqrt(
           list_aggregate(list_transform(v,
             x -> pow(x - floor(x / scale + 0.5) * scale, 2)), 'sum') / d)
         END AS rmse,
         CASE WHEN scale = 0 THEN 0.0 ELSE
           list_aggregate(list_transform(v,
             x -> abs(x - floor(x / scale + 0.5) * scale)), 'max')
         END AS maxerr
  FROM per_vec
)
SELECT label, COUNT(*) AS n_vecs,
       ROUND(AVG(scale), 6) AS avg_scale,
       ROUND(AVG(rmse), 6) AS avg_rmse,
       ROUND(MAX(maxerr), 6) AS worst_abs_err
FROM errs
GROUP BY label
ORDER BY label
"""


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al., 2023:
    cluster embeddings, prune near-duplicates within clusters), as a
    composition the engine already owns end-to-end EXACTLY: the
    cell-blocked threshold join produces every cosine ≥ τ pair
    (``exact_cosine_pairs`` — IVF cells ARE the SemDeDup clustering,
    with the triangle-inequality prune making the within-cluster
    restriction lossless instead of approximate), connected
    components resolve transitive groups, and the min-id member of
    each group survives.

    Output is the per-label retention audit (kept / dropped / total),
    integers only. Scale: pair volume is the blocked threshold
    join's (no all-pairs anywhere); the component loop shuffles
    label-sized frames O(log diameter) rounds; the audit join on
    vec_id is one co-partitioned exchange."""
    from cricket_analytics_nosql_spark.operators.dedup import (
        connected_components,
    )

    raw = load_table(spark, sf_dir, "embeddings")
    emb = _doubles(raw)
    pairs = exact_cosine_pairs(emb, tau=COS_TAU).select(
        F.col("v1").alias("d1"), F.col("v2").alias("d2")
    )
    cc = connected_components(pairs)
    dropped = cc.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("vec_id")
    )
    return (
        raw.select("vec_id", "label")
        .join(dropped.withColumn("is_dropped", F.lit(1)), "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.coalesce(F.col("is_dropped"), F.lit(0))).alias(
                "n_dropped"
            ),
        )
        .withColumn("n_kept", F.col("n_vectors") - F.col("n_dropped"))
        .orderBy("label")
    )


ORACLE_SEMANTIC_DEDUP = f"""
WITH RECURSIVE emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), pairs AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2
  FROM emb a, emb b
  WHERE a.vec_id < b.vec_id
    AND ROUND(list_inner_product(a.v, b.v)
              / (sqrt(list_inner_product(a.v, a.v))
                 * sqrt(list_inner_product(b.v, b.v))), 6) >= {COS_TAU}
), sym AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION ALL
  SELECT d2 AS a, d1 AS b FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), cc AS (
  SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a
), dropped AS (
  SELECT vec_id FROM cc WHERE vec_id <> cluster_id
)
SELECT e.label,
       COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_id
GROUP BY e.label
ORDER BY e.label
"""


def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space evaluation: classify every vector by its
    nearest label centroid (cosine) and report the confusion matrix
    (true label × predicted label × count) — the quality probe run
    after every embedding or clustering change in a training
    pipeline ("did the labels still separate?").

    Exactness discipline: centroids are EXACT integer sums of
    micro-quantized components (order-free), and each vector/centroid
    score is ``dot / sqrt(Σc²)`` computed from those exact integers —
    identical bits on any engine and any partitioning, so the whole
    matrix hash-matches the oracle despite being 'float' math.
    The |v| norm is constant per vector and argmax-invariant, so it
    is never computed.

    Scale: component explode → one map-side-combined aggregate for
    the 10×64 centroid table (broadcast back), per-vector scores via
    a 10-row-per-component broadcast join, one argmax window on
    vec_id, one tiny confusion aggregate. The embedding table
    shuffles once (the window)."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        # x is FLOAT: widen to double BEFORE scaling — float*1e6 has
        # ~0.06 ulp at this magnitude and its round() can disagree
        # with the oracle's double path
        F.expr(
            "transform(embedding,"
            " x -> cast(round(cast(x as double) * 1000000) as long))"
        ).alias("v"),
    )
    comp = emb.select(
        "vec_id", "label", F.posexplode("v").alias("pos", "val")
    )
    cent = (
        comp.groupBy(F.col("label").alias("c_label"), "pos")
        .agg(F.sum("val").alias("c_sum"))
    )
    c_norm = cent.groupBy("c_label").agg(
        F.sum(F.col("c_sum") * F.col("c_sum")).alias("c2")
    )
    scored = (
        comp.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(F.col("val") * F.col("c_sum")).alias("dot"))
        .join(F.broadcast(c_norm), "c_label")
        .select(
            "vec_id",
            "label",
            "c_label",
            (F.col("dot") / F.sqrt(F.col("c2").cast("double"))).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("score"), F.asc("c_label")
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("c_label").alias("predicted"))
    )
    return (
        pred.groupBy("label", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "predicted")
    )


ORACLE_NEAREST_CENTROID = """
WITH emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
), comp AS (
  SELECT vec_id, label, i - 1 AS pos,
         CAST(ROUND(v[i] * 1000000) AS BIGINT) AS val
  FROM emb, UNNEST(range(1, len(v) + 1)) AS t(i)
), cent AS (
  SELECT label AS c_label, pos, CAST(SUM(val) AS BIGINT) AS c_sum
  FROM comp GROUP BY label, pos
), c_norm AS (
  SELECT c_label, CAST(SUM(c_sum * c_sum) AS BIGINT) AS c2
  FROM cent GROUP BY c_label
), dots AS (
  SELECT comp.vec_id, comp.label, cent.c_label,
         CAST(SUM(comp.val * cent.c_sum) AS BIGINT) AS dot
  FROM comp JOIN cent ON comp.pos = cent.pos
  GROUP BY comp.vec_id, comp.label, cent.c_label
), scored AS (
  SELECT d.vec_id, d.label, d.c_label,
         d.dot / sqrt(CAST(n.c2 AS DOUBLE)) AS score
  FROM dots d JOIN c_norm n ON d.c_label = n.c_label
), pred AS (
  SELECT vec_id, label, c_label AS predicted,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY score DESC, c_label ASC) AS rn
  FROM scored
)
SELECT label, predicted, COUNT(*) AS n
FROM pred WHERE rn = 1
GROUP BY label, predicted
ORDER BY label, predicted
"""



def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-ORACLED audit of the three approximate-ANN paths — the
    ``approx_distinct`` dual pattern applied to vector search. The
    *_neighbors paths return neighbor sets no SQL oracle can
    reproduce (float centroid averaging, hyperplane hashes); what
    CAN be hash-checked is (a) the exact
    brute-force ground truth (DuckDB recomputes it) and (b) a
    per-method recall-above-floor flag computed in-Spark against
    that ground truth. One row per method: the driver now verifies
    both the exact side and each approximate path's quality bound,
    not just executability."""
    exact = ann_brute_force(spark, sf_dir).select("q_id", "vec_id", "cos", "rank")
    exact = exact.localCheckpoint()  # four consumers below
    n_exact = exact.count()
    top1 = exact.filter(F.col("rank") == 1).agg(
        (F.round(F.avg("cos"), 6) + F.lit(0.0)).alias("avg_top1_cos")
    )
    rows = []
    for method, fn in (
        ("ivf", ann_ivf_neighbors),
        ("ivf_kmeans", ann_ivf_kmeans_neighbors),
        ("lsh", ann_lsh_neighbors),
    ):
        approx = fn(spark, sf_dir).select("q_id", "vec_id")
        hits = approx.join(exact, ["q_id", "vec_id"], "left_semi").count()
        rows.append((method, hits / n_exact >= RECALL_FLOORS[method]))
    flags = spark.createDataFrame(rows, "method string, recall_ok boolean")
    return (
        flags.crossJoin(F.broadcast(top1))
        .select("method", F.lit(n_exact).cast("long").alias("n_exact_pairs"),
                "avg_top1_cos", "recall_ok")
        .orderBy("method")
    )


ORACLE_ANN_RECALL_AUDIT = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q_id, e.vec_id,
         ROUND(list_inner_product(qv, v)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 6)
           AS cos
  FROM q, emb e
  WHERE e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
), topk AS (
  SELECT * FROM ranked WHERE rank <= {TOP_K}
), stats AS (
  SELECT COUNT(*) AS n_exact_pairs,
         ROUND(AVG(CASE WHEN rank = 1 THEN cos END), 6) + 0.0 AS avg_top1_cos
  FROM topk
)
SELECT m.method, s.n_exact_pairs, s.avg_top1_cos, TRUE AS recall_ok
FROM (VALUES ('ivf'), ('ivf_kmeans'), ('lsh')) AS m(method), stats s
ORDER BY m.method
"""


# NDCG floors: measured bands at sf0.001/0.01/0.1 sit well above
# (see tests/test_llm_ops.py probe); same comfortable-margin
# discipline as RECALL_FLOORS
NDCG_FLOORS = {"ivf": 0.25, "ivf_kmeans": 0.55, "lsh": 0.35}

# IDCG@k is a mathematical constant of k alone: Σᵢ (k+1−i)/log₂(i+1),
# i = 1..k. Computed ONCE in Python and inlined as the same literal
# into the Spark plan and the oracle — a row-aggregated recompute
# would hang cross-engine equality on float accumulation order and
# libm log2 ulps for zero verification value.
_IDCG_K = sum(
    (TOP_K + 1 - i) / math.log2(i + 1) for i in range(1, TOP_K + 1)
)


def ann_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of each approximate-ANN path against the exact
    brute-force ranking — the POSITION-aware quality readout next to
    ``ann_recall_audit``'s set-overlap recall: recall treats rank 1
    and rank k the same, NDCG discounts by log₂(position), so a
    method that returns the right set in the wrong order scores
    lower. Graded relevance of a retrieved item = k+1 − its exact
    rank (0 if outside the exact top-k); IDCG is the closed-form
    constant Σᵢ (k+1−i)/log₂(i+1).

    Oracle pattern: the recall-audit dual — the approximate sides
    are hash-seeded (no DuckDB twin), so the driver-checked columns
    are the exact-side stats (n_exact_pairs, the IDCG constant
    recomputed by DuckDB) and a per-method mean-NDCG-above-floor
    flag. Every frame is (queries × k)-sized; the exact arm is the
    one corpus scan."""
    exact = ann_brute_force(spark, sf_dir).select(
        "q_id", "vec_id", (F.lit(TOP_K + 1) - F.col("rank")).alias("rel")
    )
    exact = exact.localCheckpoint()  # four consumers below
    idcg = _IDCG_K
    flag_frames = []
    for method, fn in (
        ("ivf", ann_ivf_neighbors),
        ("ivf_kmeans", ann_ivf_kmeans_neighbors),
        ("lsh", ann_lsh_neighbors),
    ):
        approx = fn(spark, sf_dir).select("q_id", "vec_id", "rank")
        gains = approx.join(exact, ["q_id", "vec_id"], "left").select(
            "q_id",
            (
                F.coalesce(F.col("rel"), F.lit(0)).cast("double")
                / F.log2(F.col("rank") + 1)
            ).alias("g"),
        )
        per_q = gains.groupBy("q_id").agg((F.sum("g") / idcg).alias("ndcg"))
        flag_frames.append(
            per_q.agg(
                (F.avg("ndcg") >= F.lit(NDCG_FLOORS[method])).alias("ndcg_ok")
            ).select(F.lit(method).alias("method"), "ndcg_ok")
        )
    flags = functools.reduce(lambda a, b: a.unionByName(b), flag_frames)
    n_exact = exact.groupBy().agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    return (
        flags.crossJoin(F.broadcast(n_exact))
        .select(
            "method",
            "n_exact_pairs",
            # same pre-rounded Python literal the oracle inlines —
            # F.round on the raw double is HALF_UP on the shortest
            # repr, Python round() is correct half-even: round ONCE,
            # in one place
            (F.lit(round(idcg, 6)) + F.lit(0.0)).alias("idcg_k"),
            "ndcg_ok",
        )
        .orderBy("method")
    )


ORACLE_ANN_NDCG_AUDIT = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q_id, e.vec_id,
         ROUND(list_inner_product(qv, v)
               / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 6)
           AS cos
  FROM q, emb e
  WHERE e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
), topk AS (
  SELECT * FROM ranked WHERE rank <= {TOP_K}
), stats AS (
  SELECT COUNT(*) AS n_exact_pairs FROM topk
)
SELECT m.method, s.n_exact_pairs,
       CAST({{idcg}} AS DOUBLE) AS idcg_k, TRUE AS ndcg_ok
FROM (VALUES ('ivf'), ('ivf_kmeans'), ('lsh')) AS m(method), stats s
ORDER BY m.method
""".format(idcg=round(_IDCG_K, 6))


# ---------------------------------------------------------------------------
# Gram matrix / covariance — the one-pass outer-product aggregation
# ---------------------------------------------------------------------------

COV_DIMS = 64
COV_SCALE = 1_000_000  # micro-units: exact integer second moments


def _upper_pairs(
    with_q: DataFrame, extra: list[str], include_diag: bool
) -> DataFrame:
    """(i, j, xy) upper-triangle expansion of a quantized embedding
    column ``q`` — via TWO CHAINED ``posexplode`` generators and a
    ``slice`` instead of a nested ``transform`` building d²/2 structs
    per row: generators and slice stay inside whole-stage codegen
    while higher-order lambdas evaluate interpreted (measured 40×:
    14.3 s → 0.36 s for the sf0.1 expansion). Output is identical —
    integer products into an order-free sum. 1-based (i, j);
    ``include_diag`` keeps i = j (the trace)."""
    off = 1 if include_diag else 2
    e1 = with_q.select(*extra, "q", F.posexplode("q").alias("i0", "xi"))
    return e1.select(
        *extra,
        "i0",
        "xi",
        F.posexplode(
            F.expr(f"slice(q, i0 + {off}, {COV_DIMS} - i0 - {off - 1})")
        ).alias("j0", "xj"),
    ).select(
        *extra,
        (F.col("i0") + 1).alias("i"),
        (F.col("i0") + off + F.col("j0")).alias("j"),
        (F.col("xi") * F.col("xj")).alias("xy"),
    )


def embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 strongest off-diagonal covariances between embedding
    dimensions — the Gram-matrix/covariance building block behind
    distributed PCA, whitening, and linear probes, computed the way
    it scales: each row expands to its 64·65/2 upper-triangle
    products INSIDE the scan stage (``transform`` over ``sequence``,
    pure codegen — no self-join, no shuffle of anything row-sized)
    and partial aggregation collapses every task to ≤ 2080 cells
    before the exchange. The shuffle carries O(tasks · d²) cells at
    ANY corpus size — the canonical 'matrix as aggregation' pattern
    (vs. the row-pair join a naive formulation would shuffle).

    Exactness: coordinates are quantized to integer micro-units with
    the engine-portable ``floor(x·1e6 + 0.5)`` (the int8-quantize
    discipline at ``:615``), so second moments are exact longs and
    the centered numerator n·S_ij − S_i·S_j is exact integer
    arithmetic — no float-merge noise to tolerate. Long headroom:
    |q| ≲ 1e6 ⇒ n·S_ij ≲ n²·1e12 — fine through sf 0.1 (n 5e3);
    re-scale to milli-units around n ≈ 1e6 rows, same plan.
    """
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") * COV_SCALE + F.lit(0.5)
        ).cast("long"),
    )
    pairs = _upper_pairs(emb.select(q.alias("q")), [], include_diag=False)
    second = pairs.groupBy("i", "j").agg(F.sum("xy").alias("s_ij"))
    firsts = (
        emb.select(F.posexplode(q).alias("i", "x"))
        .withColumn("i", F.col("i") + 1)  # 1-based like element_at
        .groupBy("i")
        .agg(F.sum("x").alias("s_i"))
    )
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    cov = (
        second.join(F.broadcast(firsts.withColumnRenamed("i", "d")), F.col("i") == F.col("d"))
        .drop("d")
        .withColumnRenamed("s_i", "si")
        .join(F.broadcast(firsts.withColumnRenamed("i", "d").withColumnRenamed("s_i", "sj")), F.col("j") == F.col("d"))
        .drop("d")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (F.col("n") * F.col("s_ij") - F.col("si") * F.col("sj")).alias(
                "cov_num"
            ),
        )
    )
    return (
        cov.orderBy(F.abs(F.col("cov_num")).desc(), F.asc("i"), F.asc("j"))
        .limit(25)
    )


ORACLE_EMBEDDING_COV = f"""
WITH q AS (
  SELECT [CAST(FLOOR(CAST(x AS DOUBLE) * {COV_SCALE} + 0.5) AS BIGINT)
          FOR x IN embedding] AS q
  FROM embeddings
), second AS (
  SELECT i, j, SUM(q[i] * q[j]) AS s_ij
  FROM q, range(1, {COV_DIMS + 1}) t1(i), range(1, {COV_DIMS + 1}) t2(j)
  WHERE j > i
  GROUP BY i, j
), firsts AS (
  SELECT i, SUM(q[i]) AS s_i
  FROM q, range(1, {COV_DIMS + 1}) t(i)
  GROUP BY i
), nn AS (
  SELECT COUNT(*) AS n FROM q
)
SELECT CAST(second.i AS BIGINT) AS i, CAST(second.j AS BIGINT) AS j,
       CAST(nn.n * second.s_ij - fi.s_i * fj.s_i AS BIGINT) AS cov_num
FROM second
JOIN firsts fi ON fi.i = second.i
JOIN firsts fj ON fj.i = second.j
CROSS JOIN nn
ORDER BY ABS(nn.n * second.s_ij - fi.s_i * fj.s_i) DESC, i ASC, j ASC
LIMIT 25
"""


HIST_BINS = 20  # cosine ∈ [-1, 1] in 0.1-wide bins


def embedding_collapse_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health check: the distribution of cosine
    similarity over the deterministic chain of id-adjacent pairs
    (vec_id, vec_id+1) — a fixed unbiased pair sample that needs ONE
    narrow equi-join, never an all-pairs product. A healthy space
    puts random-pair cosine near 0 with spread; anisotropic collapse
    (every vector pointing the same way — the classic failure after
    a bad contrastive run) shows as mass piled in the top bins and a
    mean near 1.

    Per-bin counts are integers; the mean comes from per-pair
    ``ROUND(cos·1e6)`` integers summed as bigint (merge-order-proof)
    and divided once — the engine's standard float-determinism
    discipline. Same dot/cosine operand order as ann_brute_force, so
    the oracle's ``list_inner_product`` loop matches bit-for-bit."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "v", vnorm("v").alias("vn")
    )
    nxt = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("v").alias("w"),
        F.col("vn").alias("wn"),
    )
    pairs = emb.join(nxt, "vec_id").select(
        cos6("v", "vn", "w", "wn").alias("cos")
    )
    binned = pairs.select(
        "cos",
        F.least(
            F.lit(HIST_BINS - 1),
            F.floor((F.col("cos") + 1.0) * (HIST_BINS / 2)).cast("long"),
        ).alias("bin"),
        F.round(F.col("cos") * 1e6, 0).cast("long").alias("c_e6"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c_e6").alias("s_e6")
    )
    tot = agg.agg(
        F.sum("n").alias("n_pairs"), F.sum("s_e6").alias("t_e6")
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.round(F.col("bin").cast("double") / (HIST_BINS / 2) - 1.0, 1)
            .alias("bin_lo"),
            "n",
            F.round(
                F.col("n").cast("double") / F.col("n_pairs").cast("double"),
                6,
            ).alias("share"),
            F.round(
                F.col("t_e6").cast("double")
                / F.col("n_pairs").cast("double") / 1e6,
                6,
            ).alias("mean_cos_global"),
        )
        .orderBy("bin")
    )


ORACLE_EMBEDDING_COLLAPSE = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), pairs AS (
  SELECT ROUND(list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
  FROM emb a JOIN emb b ON b.vec_id = a.vec_id + 1
), binned AS (
  SELECT cos,
         LEAST({HIST_BINS} - 1,
               CAST(FLOOR((cos + 1.0) * {HIST_BINS // 2}) AS BIGINT)) AS bin,
         CAST(ROUND(cos * 1000000.0) AS BIGINT) AS c_e6
  FROM pairs
), agg AS (
  SELECT bin, COUNT(*) AS n, SUM(c_e6) AS s_e6 FROM binned GROUP BY bin
), tot AS (
  SELECT SUM(n) AS n_pairs, CAST(SUM(s_e6) AS BIGINT) AS t_e6 FROM agg
)
SELECT bin,
       ROUND(CAST(bin AS DOUBLE) / {HIST_BINS // 2} - 1.0, 1) AS bin_lo,
       n,
       ROUND(CAST(n AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6) AS share,
       ROUND(CAST(t_e6 AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 1000000.0, 6)
         AS mean_cos_global
FROM agg CROSS JOIN tot
ORDER BY bin
"""


NORM_BIN_W_E3 = 500  # histogram bin width: 0.5 in L2-norm units


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm distribution — the other collapse axis
    (``embedding_collapse_audit`` watches direction; this watches
    magnitude): a healthy encoder emits a tight norm band, while
    norm explosion/shrink after a bad checkpoint shows up here
    before any downstream metric moves.  Histogram over 0.5-wide
    bins plus count/min/max/mean per bin.

    One narrow pass: norms are per-row expressions (same
    left-to-right ``dot`` accumulation as the ANN family, so the
    oracle's loop matches bit-for-bit), integer-e3 quantized for
    binning and integer-e6 summed for the exact mean."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings"))
    norm = vnorm("v")
    rows = emb.select(
        F.round(norm * 1e3, 0).cast("long").alias("n_e3"),
        F.round(norm * 1e6, 0).cast("long").alias("n_e6"),
    )
    binned = rows.groupBy(
        F.expr(f"n_e3 div {NORM_BIN_W_E3}").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("n_e3").alias("min_e3"),
        F.max("n_e3").alias("max_e3"),
        F.sum("n_e6").alias("s_e6"),
    )
    return binned.select(
        "bin",
        F.round(
            F.col("bin").cast("double") * NORM_BIN_W_E3 / 1e3, 1
        ).alias("bin_lo"),
        "n_vecs",
        F.round(F.col("min_e3").cast("double") / 1e3, 3).alias("min_norm"),
        F.round(F.col("max_e3").cast("double") / 1e3, 3).alias("max_norm"),
        F.round(
            F.col("s_e6").cast("double") / F.col("n_vecs").cast("double")
            / 1e6,
            6,
        ).alias("mean_norm"),
    ).orderBy("bin")


ORACLE_EMBEDDING_NORM_STATS = f"""
WITH rows_ AS (
  SELECT CAST(ROUND(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))
                    * 1000.0) AS BIGINT) AS n_e3,
         CAST(ROUND(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))
                    * 1000000.0) AS BIGINT) AS n_e6
  FROM embeddings
), binned AS (
  SELECT n_e3 // {NORM_BIN_W_E3} AS bin,
         COUNT(*) AS n_vecs, MIN(n_e3) AS min_e3, MAX(n_e3) AS max_e3,
         SUM(n_e6) AS s_e6
  FROM rows_ GROUP BY bin
)
SELECT bin,
       ROUND(CAST(bin AS DOUBLE) * {NORM_BIN_W_E3} / 1000.0, 1) AS bin_lo,
       n_vecs,
       ROUND(CAST(min_e3 AS DOUBLE) / 1000.0, 3) AS min_norm,
       ROUND(CAST(max_e3 AS DOUBLE) / 1000.0, 3) AS max_norm,
       ROUND(CAST(s_e6 AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 1000000.0, 6)
         AS mean_norm
FROM binned
ORDER BY bin
"""


# ---------------------------------------------------------------------------
# Mergeable covariance state — the continuous-aggregate contract for
# second-order feature statistics
# ---------------------------------------------------------------------------


def cov_state_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance from MERGED partial states: the corpus splits into
    two ingest batches (vec_id parity — stand-in for daily deltas),
    each batch reduces to its own (n, Σxᵢ, Σxᵢxⱼ) sufficient
    statistics, and the top-10 covariance cells are computed from
    the SUM of those states — the batches are never rescanned
    together. This is the ``incremental_rollup``/``hll_rollup``
    contract lifted to second-order statistics: running feature-
    covariance (whitening stats, drift baselines) over a growing
    corpus must come from state merge, not full-history rescans.

    Exactness is the point: micro-unit quantization makes every
    sufficient statistic a BIGINT, so state merge is exact integer
    addition and the merged result is BIT-IDENTICAL to a from-
    scratch computation — proven cross-engine, because the DuckDB
    oracle computes the covariance DIRECTLY from one full scan and
    never sees the partial states. Plan: one scan, per-batch partial
    agg collapses each task to ≤ 2·d² cells, merge is a d²-key
    groupBy on the state frame."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * COV_SCALE + F.lit(0.5)).cast(
            "long"
        ),
    )
    part = (F.col("vec_id") % 2).alias("part")
    pairs = _upper_pairs(
        emb.select(part, q.alias("q")), ["part"], include_diag=False
    )
    # per-batch sufficient statistics — what a real pipeline persists
    second_st = pairs.groupBy("part", "i", "j").agg(F.sum("xy").alias("s_ij"))
    firsts_st = (
        emb.select(part, F.posexplode(q).alias("i", "x"))
        .withColumn("i", F.col("i") + 1)
        .groupBy("part", "i")
        .agg(F.sum("x").alias("s_i"))
    )
    n_st = emb.groupBy(part).agg(F.count(F.lit(1)).alias("n"))
    # merge: exact integer addition over the state frames only
    second = second_st.groupBy("i", "j").agg(F.sum("s_ij").alias("s_ij"))
    firsts = firsts_st.groupBy("i").agg(F.sum("s_i").alias("s_i"))
    n_parts = n_st.agg(
        F.sum("n").alias("n"),
        F.count(F.lit(1)).alias("n_batches"),
        F.min("n").alias("n_min_batch"),
    )
    merged = (
        second.join(
            F.broadcast(firsts.withColumnRenamed("i", "d")),
            F.col("i") == F.col("d"),
        )
        .drop("d")
        .withColumnRenamed("s_i", "si")
        .join(
            F.broadcast(
                firsts.withColumnRenamed("i", "d").withColumnRenamed(
                    "s_i", "sj"
                )
            ),
            F.col("j") == F.col("d"),
        )
        .drop("d")
        .crossJoin(F.broadcast(n_parts))
        .select(
            "i",
            "j",
            (F.col("n") * F.col("s_ij") - F.col("si") * F.col("sj")).alias(
                "cov_num"
            ),
            "n_batches",
            "n_min_batch",
        )
    )
    return (
        merged.orderBy(
            F.abs(F.col("cov_num")).desc(), F.asc("i"), F.asc("j")
        )
        .limit(10)
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "cov_num",
            "n_batches",
            "n_min_batch",
        )
    )


ORACLE_COV_STATE_MERGE = f"""
WITH q AS (
  SELECT vec_id,
         [CAST(FLOOR(CAST(x AS DOUBLE) * {COV_SCALE} + 0.5) AS BIGINT)
          FOR x IN embedding] AS q
  FROM embeddings
), second AS (
  SELECT i, j, SUM(q[i] * q[j]) AS s_ij
  FROM q, range(1, {COV_DIMS + 1}) t1(i), range(1, {COV_DIMS + 1}) t2(j)
  WHERE j > i
  GROUP BY i, j
), firsts AS (
  SELECT i, SUM(q[i]) AS s_i
  FROM q, range(1, {COV_DIMS + 1}) t(i)
  GROUP BY i
), nn AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         COUNT(*) AS n_batches,
         MIN(cnt) AS n_min_batch
  FROM (SELECT vec_id % 2 AS p, COUNT(*) AS cnt FROM q GROUP BY 1) b
)
SELECT CAST(second.i AS BIGINT) AS i, CAST(second.j AS BIGINT) AS j,
       CAST(nn.n * second.s_ij - fi.s_i * fj.s_i AS BIGINT) AS cov_num,
       CAST(nn.n_batches AS BIGINT) AS n_batches,
       CAST(nn.n_min_batch AS BIGINT) AS n_min_batch
FROM second
JOIN firsts fi ON fi.i = second.i
JOIN firsts fj ON fj.i = second.j
CROSS JOIN nn
ORDER BY ABS(nn.n * second.s_ij - fi.s_i * fj.s_i) DESC, i ASC, j ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Distributed PCA — top principal component by power iteration
# ---------------------------------------------------------------------------

PCA_ITERS = 12  # fixed rounds ⇒ the result is a pure function of the matrix


def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud — the spectral
    step distributed PCA/whitening pipelines run on top of the
    covariance aggregation: power iteration v ← normalize(C·v),
    ``PCA_ITERS`` fixed rounds, reporting each dimension's loading
    and the component's explained-variance ratio (Rayleigh quotient
    over the trace). The anisotropy readout next to
    ``embedding_collapse_audit``: evr → 1 means the space collapsed
    onto one axis.

    Scale posture: the DATA is touched exactly once — the same
    in-scan upper-triangle expansion as ``embedding_covariance_topk``
    (pure codegen, partial agg collapses every task to ≤ d² cells
    before the exchange). The full d×d matrix (4096 doubles, exact
    integer numerators n·S_ij − S_i·S_j) then assembles into ONE ROW
    of array columns, and all 12 iterations run as per-row fold
    expressions inside that row — no distributed float sum anywhere,
    so there is no accumulation-order wobble to tolerate: every
    mat-vec is the fixed left-to-right ``dot`` fold both engines
    share. At 100 TB the iteration cost is invariant; only the one
    scan grows.

    Oracle: the recurrence unrolled to 12 materialized CTE pairs
    (mat-vec, then normalize), list_inner_product mirroring the
    fold; sign canonicalized on both sides by flipping when
    Σ loadings < 0."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * COV_SCALE + F.lit(0.5)).cast(
            "long"
        ),
    )
    idx = F.sequence(F.lit(1), F.lit(COV_DIMS))
    # upper triangle INCLUDING the diagonal (trace lives there)
    pairs = _upper_pairs(emb.select(q.alias("q")), [], include_diag=True)
    second = pairs.groupBy("i", "j").agg(F.sum("xy").alias("s_ij"))
    # One job serves the linear sums AND the row count (round 11):
    # firsts fed two broadcast builds (si and sj) and n a crossJoin
    # — three more corpus scans, since broadcast subtrees don't
    # share work. Checkpoint the d-row sums frame once and ride the
    # count on the same job as an Observation scalar.
    n_obs = Observation()
    firsts = (
        emb.observe(n_obs, F.count(F.lit(1)).alias("n"))
        .select(F.posexplode(q).alias("i", "x"))
        .withColumn("i", F.col("i") + 1)
        .groupBy("i")
        .agg(F.sum("x").alias("s_i"))
        .localCheckpoint()
    )
    n_rows = int(n_obs.get["n"])
    upper = (
        second.join(
            F.broadcast(firsts.withColumnRenamed("i", "d")),
            F.col("i") == F.col("d"),
        )
        .drop("d")
        .withColumnRenamed("s_i", "si")
        .join(
            F.broadcast(
                firsts.withColumnRenamed("i", "d").withColumnRenamed(
                    "s_i", "sj"
                )
            ),
            F.col("j") == F.col("d"),
        )
        .drop("d")
        .select(
            "i",
            "j",
            (F.lit(n_rows) * F.col("s_ij") - F.col("si") * F.col("sj"))
            .cast("double")
            .alias("c"),
        )
    )
    # materialize the d²/2-row covariance frame BEFORE mirroring:
    # the union's two branches would otherwise each re-execute the
    # whole corpus-scale pair aggregation (measured ~2× the query)
    upper = upper.localCheckpoint()
    cells = upper.unionByName(
        upper.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c"
        )
    )
    rows = cells.groupBy("i").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("j", "c"))),
            lambda x: x["c"],
        ).alias("row")
    )
    base = rows.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "row"))),
            lambda x: x["row"],
        ).alias("m")
    )
    ones = F.array(*[F.lit(1.0)] * COV_DIMS)

    def matvec(vv: Column) -> Column:
        return F.transform(F.col("m"), lambda r: dot(r, vv))

    # the 12 rounds as ONE array fold: a Python loop of chained
    # Column expressions grows the tree ~4× per round (the norm
    # references the mat-vec twice) — 4¹² nodes OOM'd the driver at
    # plan build. The fold body is written ONCE. Within the fold the
    # accumulator is a struct carrying (v, w): odd steps store
    # w = C·v, even steps normalize from the MATERIALIZED w — fold
    # state is a value between steps, so the norm's dot runs over a
    # computed array instead of re-deriving the mat-vec inside every
    # per-element lambda (which was 64 re-evaluations/round, ~6M
    # interpreted ops and ~4 s on one row; this shape is ~150k).
    # Arithmetic is unchanged — same mat-vec, same normalize, same
    # fold order — so the oracle still matches bit for bit.
    v_fold = F.aggregate(
        F.sequence(F.lit(1), F.lit(2 * PCA_ITERS)),
        F.struct(ones.alias("v"), ones.alias("w")),
        lambda acc, k: F.when(
            k % 2 == 1,
            F.struct(acc["v"].alias("v"), matvec(acc["v"]).alias("w")),
        ).otherwise(
            F.struct(
                F.transform(
                    acc["w"],
                    lambda x: x / F.sqrt(dot(acc["w"], acc["w"])),
                ).alias("v"),
                acc["w"].alias("w"),
            )
        ),
        lambda acc: acc["v"],
    )
    # materialize the fold ONCE: higher-order functions evaluate
    # interpreted, and every downstream per-element lambda that
    # closed over the raw fold expression re-ran all 12 rounds per
    # element (64×) — minutes of interpreter time on one row
    iterated = base.select("m", v_fold.alias("v")).localCheckpoint()
    # canonical sign: Σ loadings ≥ 0 (same flip in the oracle)
    vc = F.when(
        dot(F.col("v"), ones) < 0,
        F.transform(F.col("v"), lambda x: -x),
    ).otherwise(F.col("v"))
    canon = iterated.select("m", vc.alias("v")).localCheckpoint()
    v = F.col("v")
    mv_f = F.transform(F.col("m"), lambda r: dot(r, v))
    lam = dot(v, mv_f)
    diag = F.transform(idx, lambda i: F.element_at(F.element_at("m", i), i))
    final = canon.select(
        F.posexplode(v).alias("dim0", "ld"),
        (F.round(lam / dot(diag, ones), 6) + F.lit(0.0)).alias("evr"),
    ).select(
        (F.col("dim0") + 1).alias("dim"),
        (F.round(F.col("ld"), 6) + F.lit(0.0)).alias("loading"),
        "evr",
    )
    return final.orderBy("dim")


def _pca_oracle() -> str:
    its = []
    vprev = "v0"
    for k in range(1, PCA_ITERS + 1):
        its.append(
            f"""it{k} AS MATERIALIZED (
  SELECT m, list_transform(m, r -> list_inner_product(r, {vprev})) AS mv
  FROM {"base" if k == 1 else f"n{k - 1}"}
), n{k} AS MATERIALIZED (
  SELECT m,
         list_transform(mv, x -> x / sqrt(list_inner_product(mv, mv))) AS v{k}
  FROM it{k}
)"""
        )
        vprev = f"v{k}"
    d = COV_DIMS
    ones = "[" + ", ".join(["1.0"] * d) + "]"
    return f"""
WITH q AS (
  SELECT [CAST(FLOOR(CAST(x AS DOUBLE) * {COV_SCALE} + 0.5) AS BIGINT)
          FOR x IN embedding] AS q
  FROM embeddings
), second AS (
  SELECT i, j, SUM(q[i] * q[j]) AS s_ij
  FROM q, range(1, {d + 1}) t1(i), range(1, {d + 1}) t2(j)
  WHERE j >= i
  GROUP BY i, j
), firsts AS (
  SELECT i, SUM(q[i]) AS s_i
  FROM q, range(1, {d + 1}) t(i)
  GROUP BY i
), nn AS (
  SELECT COUNT(*) AS n FROM q
), upper_c AS (
  SELECT second.i AS i, second.j AS j,
         CAST(nn.n * second.s_ij - fi.s_i * fj.s_i AS DOUBLE) AS c
  FROM second
  JOIN firsts fi ON fi.i = second.i
  JOIN firsts fj ON fj.i = second.j
  CROSS JOIN nn
), cells AS (
  SELECT i, j, c FROM upper_c
  UNION ALL
  SELECT j AS i, i AS j, c FROM upper_c WHERE i < j
), mat_rows AS (
  SELECT i, list(c ORDER BY j) AS r FROM cells GROUP BY i
), base AS MATERIALIZED (
  SELECT list(r ORDER BY i) AS m, {ones} AS v0 FROM mat_rows
), {", ".join(its)},
canon AS (
  SELECT m,
         CASE WHEN list_inner_product(v{PCA_ITERS}, {ones}) < 0
              THEN list_transform(v{PCA_ITERS}, x -> -x)
              ELSE v{PCA_ITERS} END AS v
  FROM n{PCA_ITERS}
), scored AS (
  SELECT v,
         list_inner_product(
           v, list_transform(m, r -> list_inner_product(r, v))) AS lam,
         list_inner_product(
           list_transform(range(1, {d + 1}), i -> m[i][i]), {ones}) AS tr
  FROM canon
)
SELECT CAST(t.i AS BIGINT) AS dim,
       ROUND(v[t.i], 6) + 0.0 AS loading,
       ROUND(lam / tr, 6) + 0.0 AS evr
FROM scored, range(1, {d + 1}) t(i)
ORDER BY dim
"""


# ---------------------------------------------------------------------------
# MMR — maximal-marginal-relevance diverse top-k (Carbonell & Goldstein '98)
# ---------------------------------------------------------------------------

MMR_QUERY_ID = 0  # the demo query vector
MMR_POOL = 12  # relevance-ranked candidate pool fed to the greedy pass
MMR_K = 5  # diverse results returned
MMR_LAMBDA = 0.7  # relevance weight
# the diversity weight is pinned as its OWN literal, not computed as
# 1-λ: double(1.0-0.7) = 0.30000000000000004 is one ulp above the
# double the oracle's literal 0.3 parses to, which flips round-at-6
# digits on half-way marginals
MMR_MU = 0.3


def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval — the re-rank step RAG/context
    selectors run after ANN: greedy MMR over a relevance-ranked
    candidate pool, picking at each step argmax λ·cos(q,d) −
    (1−λ)·max_{s∈picked} cos(d,s) (ties by vec_id). Returns the K
    picks with their relevance and the marginal score each won on.

    Scale posture: the corpus is touched ONCE — the relevance scan
    against the broadcast 1-row query (the ann_brute_force plan) —
    and TakeOrderedAndProject bounds it to the MMR_POOL-row
    candidate frame. Everything after (pairwise cosines, K greedy
    rounds of score/argmax/anti-join) runs on that ≤12-row frame:
    pool² pairs and K chained one-row limits are metadata-sized by
    construction, the same contract as the IVF centroid table. The
    greedy loop is inherently sequential (each pick changes the
    penalty term) — pushing it onto the bounded pool is exactly how
    production rerankers keep MMR out of the corpus-sized path.

    Oracle: the greedy recurrence unrolled to K chained CTEs (the
    curriculum_order / pagerank oracle technique) over the same
    rounded-at-6 cosines, so the whole greedy trajectory — not just
    the final set — is hash-checked against DuckDB."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings")).withColumn(
        "vn", vnorm("v")
    )
    q = emb.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("v").alias("q"), F.col("vn").alias("qn")
    )
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    cand = (
        corpus.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "v",
            "vn",
            cos6("q", "qn", "v", "vn").alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_POOL)
        # the pool is referenced by every greedy round (pairs, sel,
        # rem all derive from it) — without this cut each round's
        # limit/anti-join re-derives the CORPUS relevance scan from
        # lineage (measured: 42 stages, read 5× write at sf0.1).
        # One corpus scan total; 12 rows pinned.
        .localCheckpoint()
    )
    a = cand.select(
        F.col("vec_id").alias("a"), F.col("v").alias("av"), F.col("vn").alias("an")
    )
    b = cand.select(
        F.col("vec_id").alias("b"), F.col("v").alias("bv"), F.col("vn").alias("bn")
    )
    # pool² off-diagonal pairs (≤132 rows) — symmetric so each greedy
    # round's penalty lookup is one equi-join on the candidate id
    pairs = (
        a.join(b, F.col("a") != F.col("b"))
        .select("a", "b", cos6("av", "an", "bv", "bn").alias("pcos"))
    )
    slim = cand.select("vec_id", "rel")
    lam, mu = F.lit(MMR_LAMBDA), F.lit(MMR_MU)
    sel = (
        slim.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select(
            F.lit(1).alias("pos"),
            "vec_id",
            "rel",
            (F.round(lam * F.col("rel"), 6) + F.lit(0.0)).alias("mmr"),
        )
    )
    rem = slim.join(sel.select("vec_id"), "vec_id", "left_anti")
    for pos in range(2, MMR_K + 1):
        scored = (
            rem.join(pairs, rem["vec_id"] == pairs["a"])
            .join(
                sel.select(F.col("vec_id").alias("s_id")),
                F.col("b") == F.col("s_id"),
            )
            .groupBy("vec_id", "rel")
            .agg(F.max("pcos").alias("maxsim"))
            .select(
                "vec_id",
                "rel",
                (
                    F.round(lam * F.col("rel") - mu * F.col("maxsim"), 6)
                    + F.lit(0.0)
                ).alias("mmr"),
            )
        )
        win = (
            scored.orderBy(F.desc("mmr"), F.asc("vec_id"))
            .limit(1)
            .select(F.lit(pos).alias("pos"), "vec_id", "rel", "mmr")
        )
        sel = sel.unionByName(win)
        rem = rem.join(win.select("vec_id"), "vec_id", "left_anti")
    return sel.orderBy("pos")


def _mmr_oracle() -> str:
    lam, mu = MMR_LAMBDA, MMR_MU
    steps = []
    picked = "SELECT vec_id FROM s1"
    for pos in range(2, MMR_K + 1):
        steps.append(
            f"""r{pos} AS (
  SELECT c.vec_id, c.rel,
         ROUND({lam} * c.rel - {mu} * MAX(p.pcos), 6) + 0.0 AS mmr
  FROM cand c JOIN pair p ON p.a = c.vec_id
  WHERE p.b IN ({picked}) AND c.vec_id NOT IN ({picked})
  GROUP BY c.vec_id, c.rel
), s{pos} AS (
  SELECT {pos} AS pos, vec_id, rel, mmr FROM r{pos}
  ORDER BY mmr DESC, vec_id ASC LIMIT 1
)"""
        )
        picked += f" UNION ALL SELECT vec_id FROM s{pos}"
    union = "\nUNION ALL\n".join(f"SELECT * FROM s{i}" for i in range(1, MMR_K + 1))
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS vn
  FROM embeddings
), q AS (
  SELECT v AS qv, vn AS qn FROM emb WHERE vec_id = {MMR_QUERY_ID}
), cand AS (
  SELECT vec_id, v, vn,
         ROUND(list_inner_product(qv, v) / (qn * vn), 6) AS rel
  FROM emb, q
  WHERE vec_id >= {N_QUERIES}
  ORDER BY rel DESC, vec_id ASC LIMIT {MMR_POOL}
), pair AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         ROUND(list_inner_product(x.v, y.v) / (x.vn * y.vn), 6) AS pcos
  FROM cand x JOIN cand y ON x.vec_id <> y.vec_id
), s1 AS (
  SELECT 1 AS pos, vec_id, rel, ROUND({lam} * rel, 6) + 0.0 AS mmr
  FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1
), {", ".join(steps)}
SELECT pos, vec_id, rel, mmr FROM ({union})
ORDER BY pos
"""


# --------------------------------------------------------------------------
# greedy k-center coreset — farthest-point data selection
# --------------------------------------------------------------------------

KCENTER_K = 4


def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point-first) coreset selection — the
    classic 2-approximation for maximally-diverse subset picking that
    data-curation pipelines use to seed diverse training subsets.
    Seed = the lowest vec_id; each round adds the point farthest
    from the selected set (max over points of min over centers),
    ties to the smaller vec_id.  Output: one row per selected center
    (selection step, vec_id, its distance² to the prior centers —
    the coverage-radius sequence, which is non-increasing from step
    2 on) plus how many corpus points each center ends up covering.

    Exactness: micro-unit quantization makes every pairwise
    distance² an exact BIGINT sum (the ``embedding_outlier_topk``
    discipline), selection compares integers only, and the DuckDB
    oracle replays the identical greedy recurrence unrolled as CTEs
    (the PageRank/BPE oracle pattern for iterative operators).

    Scale: each round is one join of the exploded corpus (n·d rows)
    against the selected-centers frame (≤ k·d rows, broadcast) keyed
    on the dimension index, then a min-groupBy per point — O(k·n·d)
    total work, never n².  Each round's winner is a ``limit(1)``
    frame localCheckpoint-ed so round r+1's plan doesn't re-execute
    rounds 1..r (the iterative-graph lineage discipline)."""
    emb = (
        _doubles(load_table(spark, sf_dir, "embeddings"))
        .select(
            "vec_id",
            F.posexplode(
                F.transform(
                    F.col("v"), lambda x: F.round(x * 1e6, 0).cast("long")
                )
            ).alias("i", "xm"),
        )
        .localCheckpoint()
    )
    seed = (
        emb.groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("_d"))
        .orderBy("vec_id")
        .limit(1)
        .select(
            F.lit(1).alias("step"),
            F.col("vec_id").alias("cid"),
            F.lit(0).cast("long").alias("d2_prev"),
        )
        .localCheckpoint()
    )
    sel = seed
    for step in range(2, KCENTER_K + 1):
        cent_exp = emb.join(
            F.broadcast(sel.select(F.col("cid").alias("vec_id"))), "vec_id"
        ).select(F.col("vec_id").alias("cid"), "i", F.col("xm").alias("cm"))
        mind = (
            emb.join(F.broadcast(cent_exp), "i")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("xm") - F.col("cm")) * (F.col("xm") - F.col("cm"))
                ).alias("d2")
            )
            .groupBy("vec_id")
            .agg(F.min("d2").alias("mind2"))
        )
        nxt = (
            mind.orderBy(F.desc("mind2"), F.asc("vec_id"))
            .limit(1)
            .select(
                F.lit(step).alias("step"),
                F.col("vec_id").alias("cid"),
                F.col("mind2").alias("d2_prev"),
            )
            .localCheckpoint()
        )
        sel = sel.unionByName(nxt).localCheckpoint()
    # final assignment: nearest of the k centers (ties → earlier step)
    cent_exp = emb.join(
        F.broadcast(sel.select("step", F.col("cid").alias("vec_id"))),
        "vec_id",
    ).select("step", F.col("vec_id").alias("cid"), "i", F.col("xm").alias("cm"))
    assigned = (
        emb.join(F.broadcast(cent_exp), "i")
        .groupBy("vec_id", "step", "cid")
        .agg(
            F.sum(
                (F.col("xm") - F.col("cm")) * (F.col("xm") - F.col("cm"))
            ).alias("d2")
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "step")).alias("best"))
        .groupBy(F.col("best.step").alias("step"))
        .agg(F.count(F.lit(1)).alias("n_assigned"))
    )
    return (
        sel.join(assigned, "step", "left")
        .select(
            "step",
            F.col("cid").alias("vec_id"),
            "d2_prev",
            F.coalesce("n_assigned", F.lit(0)).alias("n_assigned"),
        )
        .orderBy("step")
    )


def _kcenter_oracle() -> str:
    """Unrolled greedy recurrence: cN = argmax over points of min
    distance² to centers 1..N−1 (integer micro² units, vec_id
    tie-break), exactly the Spark loop's contract."""
    steps = []
    steps.append(
        """expl AS (
  SELECT vec_id, i, CAST(ROUND(CAST(embedding AS DOUBLE[])[i + 1] * 1e6, 0)
                         AS BIGINT) AS xm
  FROM embeddings, UNNEST(range(0, len(embedding))) AS t(i)
), c1 AS (
  SELECT CAST(MIN(vec_id) AS BIGINT) AS cid FROM expl
), m1 AS (
  SELECT e.vec_id, CAST(SUM((e.xm - c.xm) * (e.xm - c.xm)) AS BIGINT) AS mind2
  FROM expl e JOIN expl c ON e.i = c.i
  WHERE c.vec_id = (SELECT cid FROM c1)
  GROUP BY e.vec_id
)"""
    )
    for s in range(2, KCENTER_K + 1):
        steps.append(
            f"""c{s} AS (
  SELECT vec_id AS cid, mind2 AS d2 FROM m{s - 1}
  ORDER BY mind2 DESC, vec_id ASC LIMIT 1
), m{s} AS (
  SELECT m.vec_id, LEAST(m.mind2,
         CAST(SUM((e.xm - c.xm) * (e.xm - c.xm)) AS BIGINT)) AS mind2
  FROM m{s - 1} m
  JOIN expl e ON e.vec_id = m.vec_id
  JOIN expl c ON e.i = c.i
  WHERE c.vec_id = (SELECT cid FROM c{s})
  GROUP BY m.vec_id, m.mind2
)"""
        )
    centers = ["SELECT 1 AS step, cid, CAST(0 AS BIGINT) AS d2_prev FROM c1"]
    for s in range(2, KCENTER_K + 1):
        centers.append(f"SELECT {s}, cid, d2 FROM c{s}")
    return (
        "WITH "
        + ",\n".join(steps)
        + ",\ncenters AS (\n  "
        + "\n  UNION ALL ".join(centers)
        + "\n), dists AS (\n"
        + """  SELECT e.vec_id, ct.step,
         CAST(SUM((e.xm - c.xm) * (e.xm - c.xm)) AS BIGINT) AS d2
  FROM expl e
  JOIN centers ct ON TRUE
  JOIN expl c ON c.vec_id = ct.cid AND e.i = c.i
  GROUP BY e.vec_id, ct.step
), best AS (
  SELECT vec_id, MIN(d2) AS bd FROM dists GROUP BY vec_id
), pick AS (
  SELECT d.vec_id, MIN(d.step) AS step
  FROM dists d JOIN best b ON d.vec_id = b.vec_id AND d.d2 = b.bd
  GROUP BY d.vec_id
), sizes AS (
  SELECT step, COUNT(*) AS n_assigned FROM pick GROUP BY step
)
SELECT ct.step, ct.cid AS vec_id, ct.d2_prev,
       COALESCE(s.n_assigned, 0) AS n_assigned
FROM centers ct LEFT JOIN sizes s ON ct.step = s.step
ORDER BY ct.step
"""
    )


# ---------------------------------------------------------------------------
# IVF nprobe sweep — the recall/cost tuning curve of the probe path
# ---------------------------------------------------------------------------

NPROBE_SWEEP_MAX = 4


def ann_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k vs candidate-pool cost as a function of ``nprobe``
    (1..4 probed cells) for the label-quantized IVF index — the ONE
    curve a vector-store operator actually tunes: more probed cells
    buy recall linearly in scan cost, and the elbow is the
    production setting. Exact-oracled (unlike the float-averaged
    ``ann_ivf`` path) because the coarse quantizer here is the
    integer-centroid construction of ``nearest_centroid_confusion``:
    centroids are exact BIGINT sums of micro-quantized components,
    so the per-query cell ranking is reproducible on any engine.

    Cost accounting is the index-native form — the pool size comes
    from the CELL SIZE TABLE (Σ sizes of probed cells, minus the
    query's own vector when its home cell is probed), not from
    enumerating candidates, which is what makes the readout O(cells)
    at 100 TB. Recall joins the exact brute-force top-k pairs
    against the probed-cell ranking (left join; unprobed → miss)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding,"
            " x -> cast(round(cast(x as double) * 1000000) as long))"
        ).alias("v"),
    )
    comp = emb.select(
        "vec_id", "label", F.posexplode("v").alias("pos", "val")
    )
    cent = comp.groupBy(F.col("label").alias("c_label"), "pos").agg(
        F.sum("val").alias("c_sum")
    )
    c_norm = cent.groupBy("c_label").agg(
        F.sum(F.col("c_sum") * F.col("c_sum")).alias("c2")
    )
    sizes = emb.groupBy(F.col("label").alias("s_label")).agg(
        F.count(F.lit(1)).alias("n_cell")
    )
    qdots = (
        comp.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cent), "pos")
        .groupBy(F.col("vec_id").alias("q_id"), "c_label")
        .agg(F.sum(F.col("val") * F.col("c_sum")).alias("dot"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.asc("c_label")
    )
    crank = (
        qdots.join(F.broadcast(c_norm), "c_label")
        .select(
            "q_id",
            "c_label",
            (F.col("dot") / F.sqrt(F.col("c2").cast("double"))).alias(
                "score"
            ),
        )
        .withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= NPROBE_SWEEP_MAX)
    )
    exact = ann_brute_force(spark, sf_dir).select("q_id", "vec_id")
    pair_rank = (
        exact.join(emb.select("vec_id", "label"), "vec_id")
        .join(
            crank.select(
                "q_id", F.col("c_label").alias("label"), "crank"
            ),
            ["q_id", "label"],
            "left",
        )
    )
    hits = pair_rank.agg(
        F.count(F.lit(1)).alias("n_exact"),
        *[
            F.sum(flag(F.col("crank") <= n)).alias(f"h{n}")
            for n in range(1, NPROBE_SWEEP_MAX + 1)
        ],
    )
    q_labels = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
    )
    pool_rows = (
        crank.join(
            F.broadcast(sizes), crank.c_label == sizes.s_label
        )
        .join(F.broadcast(q_labels), "q_id")
        .select(
            "crank",
            (
                F.col("n_cell") - flag(F.col("c_label") == F.col("q_label"))
            ).alias("eff"),
        )
    )
    pools = pool_rows.agg(
        *[
            F.sum(F.when(F.col("crank") <= n, F.col("eff")).otherwise(0))
            .alias(f"p{n}")
            for n in range(1, NPROBE_SWEEP_MAX + 1)
        ]
    )
    tot = emb.agg(F.count(F.lit(1)).alias("n_vecs"))
    row = hits.crossJoin(F.broadcast(pools)).crossJoin(F.broadcast(tot))
    stacked = row.selectExpr(
        "stack(4, 1, h1, p1, 2, h2, p2, 3, h3, p3, 4, h4, p4)"
        " as (nprobe, hits, pool)",
        "n_exact",
        "n_vecs",
    )
    return stacked.select(
        "nprobe",
        "n_exact",
        F.round(
            F.col("hits").cast("double") / F.col("n_exact").cast("double"), 6
        ).alias("recall_at_k"),
        F.round(
            F.col("pool").cast("double")
            / (F.lit(float(N_QUERIES)) * (F.col("n_vecs") - 1).cast("double")),
            6,
        ).alias("pool_frac"),
    ).orderBy("nprobe")


def _nprobe_oracle() -> str:
    probes = range(1, NPROBE_SWEEP_MAX + 1)
    hits_cols = ",\n         ".join(
        f"SUM(CASE WHEN crank <= {n} THEN 1 ELSE 0 END) AS h{n}"
        for n in probes
    )
    pool_cols = ",\n         ".join(
        f"SUM(CASE WHEN crank <= {n} THEN eff ELSE 0 END) AS p{n}"
        for n in probes
    )
    finals = "\nUNION ALL\n".join(
        f"SELECT {n} AS nprobe, n_exact,"
        f" ROUND(CAST(h{n} AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)"
        f" AS recall_at_k,"
        f" ROUND(CAST(p{n} AS DOUBLE)"
        f" / ({N_QUERIES}.0 * (n_vecs - 1)), 6) AS pool_frac"
        f" FROM hits, pools, tot"
        for n in probes
    )
    return f"""
WITH emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
), comp AS (
  SELECT vec_id, label, i - 1 AS pos,
         CAST(ROUND(ve[i] * 1000000) AS BIGINT) AS val
  FROM emb, UNNEST(range(1, len(ve) + 1)) AS t(i)
), cent AS (
  SELECT label AS c_label, pos, CAST(SUM(val) AS BIGINT) AS c_sum
  FROM comp GROUP BY label, pos
), c_norm AS (
  SELECT c_label, CAST(SUM(c_sum * c_sum) AS BIGINT) AS c2
  FROM cent GROUP BY c_label
), sizes AS (
  SELECT label AS s_label, COUNT(*) AS n_cell FROM emb GROUP BY label
), qdots AS (
  SELECT comp.vec_id AS q_id, cent.c_label,
         CAST(SUM(comp.val * cent.c_sum) AS BIGINT) AS dot
  FROM comp JOIN cent ON comp.pos = cent.pos
  WHERE comp.vec_id < {N_QUERIES}
  GROUP BY comp.vec_id, cent.c_label
), crank AS (
  SELECT q_id, c_label,
         ROW_NUMBER() OVER (
           PARTITION BY q_id
           ORDER BY dot / sqrt(CAST(c2 AS DOUBLE)) DESC, c_label ASC
         ) AS crank
  FROM qdots JOIN c_norm USING (c_label)
  QUALIFY crank <= {NPROBE_SWEEP_MAX}
), q AS (
  SELECT vec_id AS q_id, ve AS qv FROM emb WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q_id, e.vec_id,
         ROUND(list_inner_product(qv, ve)
               / (sqrt(list_inner_product(qv, qv))
                  * sqrt(list_inner_product(ve, ve))), 6) AS cos
  FROM q, emb e
  WHERE e.vec_id <> q.q_id
), exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY cos DESC, vec_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {TOP_K}
), pair_rank AS (
  SELECT exact.q_id, crank.crank
  FROM exact
  JOIN emb ON exact.vec_id = emb.vec_id
  LEFT JOIN crank ON crank.q_id = exact.q_id
                 AND crank.c_label = emb.label
), hits AS (
  SELECT COUNT(*) AS n_exact,
         {hits_cols}
  FROM pair_rank
), q_labels AS (
  SELECT vec_id AS q_id, label AS q_label FROM emb
  WHERE vec_id < {N_QUERIES}
), pool_rows AS (
  SELECT crank.crank,
         n_cell - (CASE WHEN crank.c_label = q_labels.q_label
                        THEN 1 ELSE 0 END) AS eff
  FROM crank
  JOIN sizes ON crank.c_label = sizes.s_label
  JOIN q_labels ON crank.q_id = q_labels.q_id
), pools AS (
  SELECT {pool_cols}
  FROM pool_rows
), tot AS (SELECT COUNT(*) AS n_vecs FROM emb)
{finals}
ORDER BY nprobe
"""


ORACLE_ANN_NPROBE_SWEEP = _nprobe_oracle()


# ---------------------------------------------------------------------------
# kNN majority-vote label evaluation
# ---------------------------------------------------------------------------

KNN_EVAL_K = 5
KNN_EVAL_QUERY_MOD = 5  # deterministic 1/5 of vectors serve as eval queries


def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN classification eval: a deterministic 1/5 of
    the vectors are held-out queries; each is classified by the
    majority label of its 5 exact-cosine nearest neighbors (ties:
    smaller label), and the readout is per-true-label n / correct /
    recall — the "are the labels even learnable from geometry"
    sanity gate run before training any classifier on an embedding
    column, complementing ``nearest_centroid_confusion`` (centroids
    flatten multi-modal classes; kNN doesn't).

    Shape: the query slice broadcasts against one corpus scan
    (ann_brute_force posture), top-k and majority vote are two
    windows over the (queries × k)-sized frame, and the readout is
    a ≤|labels|-row rollup. Cosines are exact doubles from the same
    expression tree on both engines."""
    emb = _doubles(load_table(spark, sf_dir, "embeddings")).withColumn(
        "vn", vnorm("v")
    )
    queries = emb.filter(
        F.pmod("vec_id", F.lit(KNN_EVAL_QUERY_MOD)) == 0
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q"),
        F.col("vn").alias("qn"),
        F.col("label").alias("true_label"),
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "true_label",
            "label",
            cos6("q", "qn", "v", "vn").alias("cos"),
            "vec_id",
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    topk = scored.withColumn("rk", F.row_number().over(w_rank)).filter(
        F.col("rk") <= KNN_EVAL_K
    )
    votes = topk.groupBy("q_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w_vote = Window.partitionBy("q_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select("q_id", "true_label", F.col("label").alias("predicted"))
    )
    return (
        pred.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                flag(F.col("predicted") == F.col("true_label"))
            ).alias("n_correct"),
        )
        .select(
            "true_label",
            "n",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n").cast("double"),
                6,
            ).alias("recall"),
        )
        .orderBy("true_label")
    )


ORACLE_KNN_LABEL_EVAL = f"""
WITH emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv, label AS true_label FROM emb
  WHERE vec_id % {KNN_EVAL_QUERY_MOD} = 0
), scored AS (
  SELECT q_id, true_label, e.label, e.vec_id,
         ROUND(list_inner_product(qv, v)
               / (sqrt(list_inner_product(qv, qv))
                  * sqrt(list_inner_product(v, v))), 6) AS cos
  FROM q, emb e
  WHERE e.vec_id <> q.q_id
), topk AS (
  SELECT q_id, true_label, label FROM (
    SELECT q_id, true_label, label,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY cos DESC, vec_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {KNN_EVAL_K}
), votes AS (
  SELECT q_id, true_label, label, COUNT(*) AS n_votes
  FROM topk GROUP BY q_id, true_label, label
), pred AS (
  SELECT q_id, true_label, label AS predicted FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY n_votes DESC, label ASC) AS vr
    FROM votes
  ) WHERE vr = 1
)
SELECT true_label, COUNT(*) AS n,
       CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       ROUND(CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS recall
FROM pred
GROUP BY true_label
ORDER BY true_label
"""


# ---------------------------------------------------------------------------
# SRP bucket-balance audit (round 9)
# ---------------------------------------------------------------------------

SRP_AUDIT_PLANES = 8


def _srp_signs(planes: int = SRP_AUDIT_PLANES, dim: int = 64) -> list:
    """±1 hyperplane components from md5 parity — computed in PYTHON
    at plan-build time (hashlib is deterministic), so both the Spark
    expression and the oracle SQL inline the SAME literals and no
    engine hash function is involved at all."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"srp{j}:{i}".encode()).digest()[0] % 2 == 0
            else -1
            for i in range(dim)
        ]
        for j in range(planes)
    ]


def srp_bucket_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-balance audit for sign-random-projection hashing: the
    corpus bucketed by {SRP_AUDIT_PLANES} fixed hyperplane signs
    (2^{SRP_AUDIT_PLANES} buckets), reporting each bucket's size and
    corpus share. This is the capacity-planning readout for every
    bucketed path in this engine (LSH bands, IVF cells, the GEMM
    block kernel): per-task memory is bounded by the largest block,
    so the skew of the bucket histogram IS the straggler/OOM risk at
    100 TB — measure it before sizing executors.

    Exactness: vectors are quantized to integer micro-units FIRST
    (the ``embedding_isotropy`` idiom), so each hyperplane dot is a
    BIGINT sum whose sign can never wobble across engines; the
    hyperplane ±1s are Python-side md5-parity literals inlined into
    both dialects. Scale: one narrow map over the scan into a
    ≤2^{SRP_AUDIT_PLANES}-row aggregate; no joins, no shuffle beyond
    the map-combined groupBy."""
    signs = _srp_signs()
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * 1e6, 0).cast("long"),
        ).alias("qv")
    )
    dots = [
        F.expr(
            " + ".join(
                f"({s}L * element_at(qv, {i + 1}))"
                for i, s in enumerate(row)
            )
        )
        for row in signs
    ]
    bucket = sum(
        (d >= 0).cast("long") * (1 << j) for j, d in enumerate(dots)
    )
    w_all = Window.partitionBy()
    return (
        emb.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .select(
            "bucket",
            "n_vecs",
            F.round(
                F.col("n_vecs") / F.sum("n_vecs").over(w_all), 6
            ).alias("share"),
        )
        .orderBy("bucket")
    )


def _srp_oracle() -> str:
    signs = _srp_signs()
    dots = [
        " + ".join(f"({s} * qv[{i + 1}])" for i, s in enumerate(row))
        for row in signs
    ]
    bucket = " + ".join(
        f"(CASE WHEN ({d}) >= 0 THEN {1 << j} ELSE 0 END)"
        for j, d in enumerate(dots)
    )
    return f"""
WITH q AS (
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(ROUND(x * 1e6, 0) AS BIGINT)) AS qv
  FROM embeddings
), b AS (
  SELECT CAST({bucket} AS BIGINT) AS bucket FROM q
), agg AS (
  SELECT bucket, COUNT(*) AS n_vecs FROM b GROUP BY bucket
)
SELECT bucket, n_vecs,
       ROUND(CAST(n_vecs AS DOUBLE) / SUM(n_vecs) OVER (), 6) AS share
FROM agg
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics (round 9)
# ---------------------------------------------------------------------------

DEAD_DIM_VAR = 1e-4  # variance floor below which a dimension is dead


def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance profile of the embedding corpus
    with a dead-dimension flag — the index-capacity audit that
    complements ``embedding_isotropy`` (global) and
    ``pca_top_component`` (principal direction): dimensions whose
    variance collapses carry no signal but still cost bytes in every
    signature, codebook, and distance loop, so they are the first
    thing to truncate (the Matryoshka decision, measured).

    Exactness: components are quantized to integer micro-units at
    the scan (the isotropy idiom), so the per-dimension sums are
    BIGINT-exact in any engine and partition order; mean/variance
    are single exact-rational divisions rounded at the end.
    Scale: posexplode fans each vector into (pos, q) rows — a narrow
    ×dim map with NO text/vector payload — and the rollup is one
    map-combined groupBy onto exactly ``dim`` cells."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * 1e6, 0).cast("long"),
            )
        ).alias("pos", "q")
    )
    return (
        emb.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("s"),
            F.sum(F.col("q") * F.col("q")).alias("ss"),
        )
        .select(
            F.col("pos").cast("long").alias("dim_pos"),
            F.round(F.col("s") / F.col("n") / 1e6, 6).alias("mean"),
            F.round(
                (
                    F.col("ss") / F.col("n")
                    - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
                )
                / 1e12,
                6,
            ).alias("variance"),
            (
                (
                    F.col("ss") / F.col("n")
                    - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
                )
                / 1e12
                < DEAD_DIM_VAR
            )
            .cast("int")
            .alias("is_dead"),
        )
        .orderBy("dim_pos")
    )


ORACLE_DIM_PROFILE = f"""
WITH q AS (
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(ROUND(x * 1e6, 0) AS BIGINT)) AS qv
  FROM embeddings
), ex AS (
  SELECT r.i - 1 AS pos, qv[r.i] AS q
  FROM q CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) r
), agg AS (
  SELECT pos, COUNT(*) AS n,
         CAST(SUM(q) AS BIGINT) AS s,
         CAST(SUM(q * q) AS BIGINT) AS ss
  FROM ex GROUP BY pos
)
SELECT CAST(pos AS BIGINT) AS dim_pos,
       ROUND(CAST(s AS DOUBLE) / n / 1e6, 6) AS mean,
       ROUND((CAST(ss AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / 1e12, 6)
         AS variance,
       CAST(CASE WHEN (CAST(ss AS DOUBLE) / n
                       - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                      / 1e12 < {DEAD_DIM_VAR}
            THEN 1 ELSE 0 END AS INT) AS is_dead
FROM agg
ORDER BY dim_pos
"""


QUERIES: dict[str, QuerySpec] = {
    "embedding_dim_profile": QuerySpec(
        embedding_dim_profile,
        ORACLE_DIM_PROFILE,
        ["X-sim", "X-training", "A1"],
    ),
    "srp_bucket_balance_audit": QuerySpec(
        srp_bucket_balance_audit,
        _srp_oracle(),
        ["X-sim", "X-layout", "A1"],
    ),
    "knn_label_eval": QuerySpec(
        knn_label_eval,
        ORACLE_KNN_LABEL_EVAL,
        ["X-ann", "A1", "J1", "T1"],
    ),
    "ann_nprobe_sweep": QuerySpec(
        ann_nprobe_sweep,
        ORACLE_ANN_NPROBE_SWEEP,
        ["X-ann", "A1", "J1", "T1"],
    ),
    "kcenter_coreset": QuerySpec(
        kcenter_coreset,
        _kcenter_oracle(),
        ["X-sim", "X-curation", "A4", "T1"],
    ),
    "mmr_diverse_topk": QuerySpec(
        mmr_diverse_topk,
        _mmr_oracle(),
        ["X-sim", "X-curation", "T1"],
    ),
    "pca_top_component": QuerySpec(
        pca_top_component,
        _pca_oracle(),
        ["X-sim", "X-training", "A1"],
    ),
    "embedding_norm_stats": QuerySpec(
        embedding_norm_stats,
        ORACLE_EMBEDDING_NORM_STATS,
        ["X-sim", "X-curation", "A1"],
    ),
    "embedding_collapse_audit": QuerySpec(
        embedding_collapse_audit,
        ORACLE_EMBEDDING_COLLAPSE,
        ["X-sim", "X-curation", "A1"],
    ),
    "embedding_covariance_topk": QuerySpec(
        embedding_covariance_topk,
        ORACLE_EMBEDDING_COV,
        ["X-sim", "X-training", "A1", "T1"],
    ),
    "nearest_centroid_confusion": QuerySpec(
        nearest_centroid_confusion,
        ORACLE_NEAREST_CENTROID,
        ["X-sim", "A1", "§2.8"],
    ),
    "semantic_dedup": QuerySpec(
        semantic_dedup, ORACLE_SEMANTIC_DEDUP, ["X-dedup", "X-sim", "X-curation"]
    ),
    "ann_brute_force": QuerySpec(
        ann_brute_force, ORACLE_ANN_BRUTE_FORCE, ["X-sim"], bench=True
    ),
    "matryoshka_truncation_audit": QuerySpec(
        matryoshka_truncation_audit,
        ORACLE_MATRYOSHKA,
        ["X-sim", "A1", "§2.8"],
    ),
    "embedding_outlier_topk": QuerySpec(
        embedding_outlier_topk,
        ORACLE_EMBEDDING_OUTLIER,
        ["X-sim", "X-curation", "A1", "§2.8"],
    ),
    "ann_filtered_search": QuerySpec(
        ann_filtered_search,
        ORACLE_ANN_FILTERED,
        ["X-sim", "P10", "§2.8"],
    ),
    "ann_recall_audit": QuerySpec(
        ann_recall_audit, ORACLE_ANN_RECALL_AUDIT, ["X-sim", "A1"]
    ),
    "ann_ivf": QuerySpec(ann_ivf, ORACLE_ANN_METHOD_AUDIT, ["X-sim", "A1"]),
    "ann_ivf_kmeans": QuerySpec(
        ann_ivf_kmeans, ORACLE_ANN_METHOD_AUDIT, ["X-sim", "A1"]
    ),
    "ann_lsh": QuerySpec(ann_lsh, ORACLE_ANN_METHOD_AUDIT, ["X-sim", "A1"]),
    "ann_pq": QuerySpec(ann_pq, ORACLE_ANN_METHOD_AUDIT, ["X-sim", "A1"]),
    "ann_ndcg_audit": QuerySpec(
        ann_ndcg_audit, ORACLE_ANN_NDCG_AUDIT, ["X-sim", "A1"]
    ),
    "cov_state_merge_audit": QuerySpec(
        cov_state_merge_audit,
        ORACLE_COV_STATE_MERGE,
        ["X-sim", "X-training", "A1"],
    ),
    "dedup_embedding_cosine": QuerySpec(
        dedup_embedding_cosine, ORACLE_DEDUP_EMBEDDING, ["X-dedup", "X-sim"]
    ),
    "vector_label_stats": QuerySpec(
        vector_label_stats, ORACLE_VECTOR_LABEL_STATS, ["X-sim", "A1"]
    ),
    "embedding_quantize_stats": QuerySpec(
        embedding_quantize_stats, ORACLE_EMBEDDING_QUANTIZE, ["X-sim", "X-training"]
    ),
    "knn_graph": QuerySpec(knn_graph, ORACLE_KNN_GRAPH, ["X-sim", "X-dedup"]),
    "mutual_knn_pairs": QuerySpec(
        mutual_knn_pairs,
        ORACLE_MUTUAL_KNN,
        ["X-sim", "X-dedup", "J3", "T1"],
    ),
    "ann_hubness_audit": QuerySpec(
        ann_hubness_audit, ORACLE_ANN_HUBNESS, ["X-sim", "A1", "A4"]
    ),
    "embedding_isotropy_audit": QuerySpec(
        embedding_isotropy_audit,
        ORACLE_EMBEDDING_ISOTROPY,
        ["X-sim", "A4", "F2"],
    ),
    "hard_negative_mining": QuerySpec(
        hard_negative_mining,
        ORACLE_HARD_NEGATIVE_MINING,
        ["X-sim", "X-training", "§2.8"],
    ),
    "semantic_decontaminate": QuerySpec(
        semantic_decontaminate,
        ORACLE_SEMANTIC_DECONTAMINATE,
        ["X-sim", "X-curation", "A1"],
    ),
    "cluster_topic_profile": QuerySpec(
        cluster_topic_profile,
        _cluster_topic_oracle(),
        ["X-sim", "X-text", "X-curation", "J1", "§2.8"],
    ),
}
