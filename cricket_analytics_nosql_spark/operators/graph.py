"""Graph layer — SURVEY.md §2.10 (G1-G3) and §7.4.

The reference projects deliveries into a Neo4j property graph
(neo4j_loader.py) and runs Cypher + GDS PageRank
(cypher_queries.cypher:28-34). Spark-native form: a graph IS two
DataFrames — ``vertices(id, ...)`` and ``edges(src, dst, ...)`` —
and every Cypher query shape is a join/aggregation on them.

PageRank (G2) is the one algorithm with real iterative content.
One coefficient loop (``pagerank``) serves global and personalized
PageRank alike: the driver tracks the Krylov coefficients, dangling
mass and convergence as plain floats, and only the power vectors
w_{j+1} = A(w_j) and their final weighted sum touch the graph. Those
have two kernels, picked by the edge count measured on the entry
checkpoint job. An edge list that fits one loop task
(``session.ROWS_PER_TASK``) is collected once through Arrow and
iterated in numpy on the driver: two jobs per call beyond the
input's own upstream, however many rounds, where a Spark round pays
two job floors plus its planning. A larger one runs one
fixed-shape job per round (links ⋈ w → partial/final sum) and a
``localCheckpoint`` that truncates lineage
— without it the plan tree doubles per iteration and the driver
OOMs long before 100 TB is the problem; there only O(1) scalars
reach the driver per round (the power vector's mass and row count,
observed on the round's own job) and ranks stay distributed.

The reference's own graph is the player duel graph, loaded into
Neo4j once and queried many times through a GDS named graph.
``faced_edges`` is its projection, built once per ``deliveries``
input and kept persisted: the first Cypher statement, graph write
or ``gds.pageRank`` call on it pays the warehouse scan and the dedup
shuffle, and every later one reads the cached FACED set.

Generic testdata binding: the customer↔supplier trade graph
(who bought from whom, via lineitem×orders). For PageRank the
graph is made bidirectional (goods flow one way, payment flows
back) with the two vertex namespaces kept disjoint — raw custkey
and suppkey ranges overlap, and a shared id space would silently
conflate customer k with supplier k.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from cricket_analytics_nosql_spark.operators.spec import QuerySpec
from cricket_analytics_nosql_spark.session import (
    ROWS_PER_TASK,
    fixed_plan,
    local_frame,
    loop_partitions,
    persisted_per_input,
)
from cricket_analytics_nosql_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# G1 — graph projection with parallel-edge pre-aggregation
# (cypher_queries.cypher:28; gds.graph.project collapses parallel edges the
#  same way when given an aggregation)
# ---------------------------------------------------------------------------

def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge DataFrame of the customer→supplier trade graph.

    lineitem ⋈ orders gives (customer, supplier) pairs per line item;
    parallel edges collapse to one weighted edge (G1 pre-aggregation,
    SURVEY §2.10) *before* any further graph work — at 100 TB the
    collapsed edge list is orders of magnitude smaller than the raw
    pair stream, so every downstream join touches the small form.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def graph_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 as a driver-checkable query: the collapsed weighted edge
    list, heaviest trading pairs first."""
    return (
        trade_edges(spark, sf_dir)
        .orderBy(F.desc("weight"), F.asc("src"), F.asc("dst"))
        .limit(50)
    )


ORACLE_GRAPH_PROJECT = """
SELECT o_custkey AS src, l_suppkey AS dst, COUNT(*) AS weight
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_custkey, l_suppkey
ORDER BY weight DESC, src ASC, dst ASC
LIMIT 50
"""


# ---------------------------------------------------------------------------
# G3 — degree-style stats over edges grouped by endpoint
# (cypher_queries.cypher:5-16 duel stats = groupBy on edge endpoints)
# ---------------------------------------------------------------------------

def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree / weighted-degree per source vertex — the Cypher
    duel-stat shape (A7/G3): top customers by distinct suppliers."""
    return (
        trade_edges(spark, sf_dir)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("out_degree"),
            F.sum("weight").alias("total_weight"),
        )
        .orderBy(F.desc("out_degree"), F.desc("total_weight"), F.asc("src"))
        .limit(25)
    )


ORACLE_GRAPH_DEGREE = """
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


# ---------------------------------------------------------------------------
# G2 — PageRank as an iterative DataFrame loop
# (cypher_queries.cypher:31-34: gds.pageRank.stream, top-20 by score)
# ---------------------------------------------------------------------------

def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 15,
    tol: float | None = 1e-6,
    check_every: int = 4,
    broadcast_max_vertices: int = 1_000_000,
    weight_col: str | None = None,
    seed_id: int | str | None = None,
) -> DataFrame:
    """PageRank over an ``edges(src, dst)`` DataFrame, global or
    personalized, returning ``(id, pagerank)``.

    - Global (``seed_id=None``): the walk restarts uniformly, r = 1.
      Every vertex gets a row and the scores sum to the vertex count
      (the gds.pageRank normalization).
    - Personalized (``seed_id=s``, the gds.pageRank ``sourceNodes``
      variant): the walk restarts at the one seed, r = e_s, and
      dangling mass teleports back to it. Only vertices the walk
      reaches get a row and the scores sum to 1.

    WEIGHTED when ``weight_col`` names a positive edge column
    (gds.pageRank's relationshipWeightProperty): mass leaves each
    vertex proportionally to edge weight, w/Σw(src), instead of
    uniformly 1/out_deg. Either way the per-edge transition ratio is
    PRECOMPUTED once, so the iteration multiplies instead of divides
    and the loop is identical for both modes (row-stochastic either
    way — the dangling-mass arithmetic needs no change). A null
    ``src``/``dst``, or a null or non-positive weight, raises
    ``ValueError`` (gds rejects both): a src whose weights sum to
    0/NULL would lose its mass as phantom dangling mass, and a
    negative weight would make p negative.

    The power iteration is linear, and that linearity is the whole
    performance design. With A(x)(dst) = Σ_{src→dst} x(src)·p(src→dst)
    and rank_k = base_k·r + d·contrib_k:

      contrib_{k+1} = A(rank_k) = base_k·w_1 + d·Σ_j a_{k,j}·w_{j+1}

    where w_1 = A(r) and w_{j+1} = A(w_j) are iteration-invariant
    "power vectors" of the graph, and the coefficients a_{k,j} plus
    the dangling-mass scalars are plain Python floats the driver
    tracks (``_power_loop``). Dangling mass needs no pass of its own:
    the mass M = Σr (the vertex count n globally, 1 personalized) is
    conserved, so dm_k = M − Σ_v contrib_k(v) = M − Σ_j a_{k,j}·S_j
    with S_j = Σw_j, and base_k = (1−d) + d·dm_k/M. Convergence
    (``tol``): |contrib_{k+1} − contrib_k|₁ ≤ Σ_j |Δa_j|·S_j (all
    w_j ≥ 0) — a free bound, checked every ``check_every`` rounds
    against ``tol·M``. The final ranks are base + d·contrib on every
    vertex globally; personalized, d·contrib on the vertices the walk
    reached plus base on the seed.

    One coefficient loop, two matvec kernels. Only the matvec
    w_{j+1} = A(w_j) and the readout Σ_j a_j·w_j touch the graph,
    and the edge count m, measured on the entry checkpoint job, picks
    where they run:

    - m ≤ ``session.ROWS_PER_TASK`` (one loop task's rows;
      ``_DriverPower``): the edge columns are collected once through
      Arrow, ids of any type map to indices with ``np.unique``, each
      matvec is an ``np.bincount``, and the ranks return through
      Arrow. Two jobs per call beyond the input's own upstream (the
      checkpoint and the collect) however many rounds run, where a
      Spark round pays two job floors plus its planning. The collect is bounded by one task of
      edges; a broadcast round below routes up to
      ``broadcast_max_vertices`` vertex rows through the driver every
      round.
    - Larger edge lists (``_SparkPower``): each round materializes
      one power vector with ONE fixed-shape job — links ⋈ w_k →
      project → partial/final sum — whose generated code never
      changes (no per-iteration literals → whole-stage-codegen cache
      hits every round; with the dangling-mass scalar baked in as a
      literal, each round recompiled its stage — measured
      ~0.3 s/iteration at sf0.1). Σw_{k+1} is measured by an
      ``Observation`` on the pre-agg rows of the same job and its row
      count by a second one on the agg output, so only O(1) bytes
      reach the driver per round and the ranks stay distributed. A
      personalized w_j holds only the vertices j hops from the seed,
      so its frames are reach-bounded, not vertex-bounded. The
      readout is one union+sum job, then globally one join against
      the vertex universe, personalized one ``(seed, base)`` row
      unioned into d·contrib and summed per id.

    The Spark loop runs under ``session.fixed_plan`` (AQE off, shuffle
    partitions = ``loop_partitions(m)``): under AQE Spark 4.1 reports
    an adaptive plan's partitioning as unknown, so the keyed link
    checkpoint would lose its key and every round would re-shuffle it
    (measured cost in ``fixed_plan``'s docstring).

    Lineage discipline (SURVEY §7.8 risk 1): every w_j is
    ``localCheckpoint``-ed (without it the plan tree doubles per
    round), and the big edge list is materialized once, partitioned
    by dst. While the last w frame's measured row count is ≤
    ``broadcast_max_vertices`` it broadcasts into the join, so the
    edge list never shuffles; once a frame exceeds it, the link table
    is re-keyed on the join key once and each later round shuffles
    only vertex-sized frames (co-partitioned, AQE off, fixed
    partition count → no exchange beyond the agg itself).
    """
    spark = edges.sparkSession
    # Materialize the edge list ONCE before anything else: it feeds
    # several consumers (the collect, or out-mass and the link table)
    # and is typically the output of an expensive upstream join — left
    # lazy, that upstream would re-execute once per consumer. This
    # runs under the session's normal AQE config: the upstream build
    # is an arbitrary big query and wants adaptive planning. The edge
    # count and both input checks ride along on the materialization
    # job.
    bad_weight = (
        F.lit(False)
        if weight_col is None
        else F.col(weight_col).isNull() | (F.col(weight_col) <= 0)
    )
    e_obs = Observation()
    edges = edges.observe(
        e_obs,
        F.count(F.lit(1)).alias("m"),
        F.count_if(F.col("src").isNull() | F.col("dst").isNull()).alias(
            "null_ids"
        ),
        F.count_if(bad_weight).alias("bad_weights"),
    ).localCheckpoint()
    stats = e_obs.get
    if stats["null_ids"]:
        raise ValueError("pagerank: src and dst must be non-null on every edge")
    if stats["bad_weights"]:
        raise ValueError(
            f"pagerank: weight_col {weight_col!r} must be "
            "positive and non-null on every edge"
        )
    m = int(stats["m"])
    if m == 0 and seed_id is None:
        return local_frame(spark, [], _rank_schema(edges, seed_id))

    d = float(damping)
    if m <= ROWS_PER_TASK:
        power = _DriverPower(edges, weight_col, seed_id)
        return _power_loop(power, d, max_iter, tol, check_every)
    # One knob sizes BOTH sides of the per-round job: the link scan's
    # task count (links are repartitioned to this) and the contrib
    # shuffle (measured at 1.2M edges on local[32]: 8 parts ≈
    # 0.23 s/round vs 64 natural ≈ 0.35 s).
    loop_parts = loop_partitions(m)
    with fixed_plan(spark, loop_parts):
        power = _SparkPower(
            edges, weight_col, seed_id, loop_parts, broadcast_max_vertices
        )
        return _power_loop(power, d, max_iter, tol, check_every)


def _rank_schema(edges: DataFrame, seed_id) -> StructType:
    """The Spark kernel's result schema, which every ``pagerank``
    return shares: the id type its unions widen ``src``, ``dst`` (and
    the seed) to, and a global rank that is never null."""
    ids = edges.select(F.col("src").alias("id")).union(
        edges.select(F.col("dst").alias("id"))
    )
    if seed_id is not None:
        ids = ids.union(edges.select(F.lit(seed_id).alias("id")))
    return StructType(
        [
            StructField("id", ids.schema["id"].dataType),
            StructField("pagerank", DoubleType(), seed_id is not None),
        ]
    )


def _power_loop(
    power: _DriverPower | _SparkPower,
    d: float,
    max_iter: int,
    tol: float | None,
    check_every: int,
) -> DataFrame:
    """``pagerank``'s coefficient loop, one body for both kernels:
    the Krylov coefficients, the dangling-mass and base arithmetic,
    the stop once A annihilates a power vector, and the ``tol``
    bound. ``power`` holds w_1, S_1 and the conserved mass M, and
    supplies the matvec and the readout."""
    ws, sums, mass = [power.w1], [power.s1], power.mass
    coef = [1.0]  # contrib_1 = w_1
    # A annihilates a power vector (Σw_j = 0 with w ≥ 0 ⇒ w_j is
    # identically zero ⇒ every later w is zero too: A is linear and
    # positivity-preserving). From that point the remaining rounds
    # are pure coefficient arithmetic — no more matvecs. Not a corner
    # case: any DAG reaches it at depth ≤ diameter, and a
    # one-directional trade graph reaches it at j = 2.
    exhausted = sums[0] == 0.0
    for i in range(1, max_iter):
        dm = mass - sum(a * s for a, s in zip(coef, sums))
        base = (1.0 - d) + d * dm / mass
        if not exhausted:
            w_next, s_next = power.matvec(ws[-1])
            if s_next == 0.0:
                exhausted = True  # zero vector: drop it, and all later
            else:
                ws.append(w_next)
                sums.append(s_next)
        # truncation is exact: coefficients shifted past len(ws)
        # would multiply identically-zero vectors
        new_coef = ([base] + [d * a for a in coef])[: len(ws)]
        converged = (
            tol is not None
            and (i + 1) % check_every == 0
            and sum(
                abs(a - b) * s
                for a, b, s in zip(new_coef, coef + [0.0], sums)
            )
            < tol * mass
        )
        coef = new_coef
        if converged:
            break
    dm = mass - sum(a * s for a, s in zip(coef, sums))
    return power.ranks(ws, coef, (1.0 - d) + d * dm / mass, d)


class _DriverPower:
    """``pagerank``'s numpy kernel, for edge lists of at most
    ``ROWS_PER_TASK`` rows: every power vector is a dense float64
    array over the ``np.unique`` id order, and A(w) is one
    ``np.bincount`` over the edge indices."""

    def __init__(
        self, edges: DataFrame, weight_col: str | None, seed_id
    ) -> None:
        self.spark = edges.sparkSession
        self.seed_id = seed_id
        weight = F.lit(1.0) if weight_col is None else F.col(weight_col)
        t = edges.select(
            "src", "dst", weight.cast("double").alias("w")
        ).toArrow()
        m = t.num_rows
        self.ids, idx = np.unique(
            np.concatenate([t["src"].to_numpy(), t["dst"].to_numpy()]),
            return_inverse=True,
        )
        self.src, self.dst = idx[:m], idx[m:]
        w = t["w"].to_numpy()
        # w/Σw(src) as the Spark kernel divides it: Σw is exact for
        # integer-valued weights, so both kernels hold the same p
        self.p = w / np.bincount(self.src, w, len(self.ids))[self.src]
        self.schema = _rank_schema(edges, seed_id)
        if seed_id is None:
            r, self.mass = np.ones(len(self.ids)), float(len(self.ids))
        else:
            r, self.mass = (self.ids == seed_id).astype(float), 1.0
        self.w1, self.s1 = self.matvec(r)

    def matvec(self, w: np.ndarray) -> tuple[np.ndarray, float]:
        c = w[self.src] * self.p
        return np.bincount(self.dst, c, len(self.ids)), float(c.sum())

    def ranks(self, ws, coef, base: float, d: float) -> DataFrame:
        contrib = sum(a * w for a, w in zip(coef, ws))
        if self.seed_id is None:
            ids, ranks = self.ids, base + d * contrib
        else:
            seed = self.ids == self.seed_id
            ranks = d * contrib
            ranks[seed] += base
            # rows: the vertices some power vector reached, plus the
            # seed even when the graph does not hold it
            keep = seed | np.logical_or.reduce([w != 0 for w in ws])
            ids, ranks = self.ids[keep], ranks[keep]
            if not seed.any():
                ids = np.append(ids, self.seed_id)
                ranks = np.append(ranks, base)
        table = pa.table({"id": ids, "pagerank": ranks})
        return local_frame(self.spark, table, self.schema)


class _SparkPower:
    """``pagerank``'s Spark kernel, for edge lists above
    ``ROWS_PER_TASK`` rows: every power vector is a checkpointed
    ``(dst, x)`` frame made by one ``_pagerank_round`` job. Build it
    inside ``fixed_plan(spark, loop_parts)``."""

    def __init__(
        self,
        edges: DataFrame,
        weight_col: str | None,
        seed_id,
        loop_parts: int,
        broadcast_max_vertices: int,
    ) -> None:
        self.spark = edges.sparkSession
        self.seed_id = seed_id
        self.loop_parts = loop_parts
        self.max_bcast = broadcast_max_vertices
        edge_w = (
            F.lit(1.0) if weight_col is None else F.col(weight_col).cast("double")
        )
        # out_mass materializes first (src-count observed on the same
        # job) so its own join side can be decided before the link
        # build; it is src-sized ≤ n.
        om_obs = Observation()
        out_mass = (
            edges.groupBy("src")
            .agg(F.sum(edge_w).alias("w_out"))
            .observe(om_obs, F.count(F.lit(1)).alias("n_src"))
            .localCheckpoint()
        )
        n_src = int(om_obs.get["n_src"])
        links = edges.join(self._bcast(n_src)(out_mass), "src").select(
            F.col("src").alias("id"),
            "dst",
            (edge_w / F.col("w_out")).alias("p"),
        )
        # Partition the checkpointed link table BY dst (round 11):
        # localCheckpoint preserves hashpartitioning on the
        # ExistingRDD scan, so every broadcast round's groupBy("dst")
        # final-aggregates in place — the per-round job becomes a
        # single stage (broadcast join + agg), no shuffle at all
        # (plan: 2 Exchange → 1, the one left being the w broadcast;
        # measured 0.18 → 0.14 s/round at sf0.1 on local[32]).
        # A keyed repartition also skips round-robin's local
        # sort-before-repartition pass (SPARK-23207). Skew bound for
        # this path: it only serves rounds whose w frame has ≤
        # broadcast_max_vertices rows, and a key's rows ≤ its
        # in-degree < n, so one hot dst costs at most ~n/150k
        # task-widths of imbalance — bounded, unlike open-ended key
        # skew.
        self.links = links.repartition(
            loop_parts, F.col("dst")
        ).localCheckpoint()
        self.keyed: DataFrame | None = None  # links by id, built on demand

        # w_1 = A(r), no join: Σ p over the in-edges of every vertex
        # (r = 1), or over the seed's own out-links (r = e_seed).
        start = self.links if seed_id is None else self.links.filter(
            F.col("id") == F.lit(seed_id)
        )
        obs1, rows1 = Observation(), Observation()
        self.w1 = (
            start.select("dst", F.col("p").alias("c"))
            .observe(obs1, F.sum("c").alias("s"))
            .groupBy("dst")
            .agg(F.sum("c").alias("x"))
            .observe(rows1, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        self.s1 = float(obs1.get["s"] or 0.0)
        self.w_rows = int(rows1.get["n"])
        if seed_id is None:
            # Vertex universe = src ∪ dst — but srcs are links' join
            # keys and every in-linked dst is already a w_1 row, so
            # the union reads one checkpointed edge pass plus a
            # vertex-sized frame instead of re-scanning the edge list
            # twice (halves the distinct's input).
            n_obs = Observation()
            self.vertices = (
                self.links.select("id")
                .union(self.w1.select(F.col("dst").alias("id")))
                .distinct()
                .observe(n_obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint()
            )
            self.n = int(n_obs.get["n"])
            self.mass = float(self.n)
        else:
            self.mass = 1.0

    def _bcast(self, rows: int):
        return F.broadcast if rows <= self.max_bcast else (lambda df: df)

    def matvec(self, w: DataFrame) -> tuple[DataFrame, float]:
        small = self.w_rows <= self.max_bcast
        if not small and self.keyed is None:
            # one extra edge shuffle, amortized over every remaining
            # round
            self.keyed = self.links.repartition(
                self.loop_parts, F.col("id")
            ).localCheckpoint()
        obs, rows = Observation(), Observation()
        w_next = (
            _pagerank_round(self.links if small else self.keyed, w, obs, small)
            .observe(rows, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        self.w_rows = int(rows.get["n"])
        return w_next, float(obs.get["s"] or 0.0)

    def ranks(self, ws, coef, base: float, d: float) -> DataFrame:
        # contrib = Σ_j coef_j · w_j — one union+sum job, vertex-sized.
        scaled = [
            w.select("dst", (F.col("x") * F.lit(a)).alias("c"))
            for w, a in zip(ws, coef)
        ]
        combined = scaled[0]
        for part in scaled[1:]:
            combined = combined.unionByName(part)
        contribs = combined.groupBy("dst").agg(F.sum("c").alias("contrib"))
        if self.seed_id is not None:
            # the restart share lands on the seed alone
            restart = self.spark.range(1).select(
                F.lit(self.seed_id).alias("dst"), F.lit(base).alias("c")
            )
            return (
                contribs.select("dst", (F.lit(d) * F.col("contrib")).alias("c"))
                .unionByName(restart)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("c").alias("pagerank"))
            )
        # vertex universe joined ONCE, at the end
        return self.vertices.join(
            self._bcast(self.n)(contribs.withColumnRenamed("dst", "cdst")),
            self.vertices.id == F.col("cdst"),
            "left",
        ).select(
            "id",
            (
                F.lit(base)
                + F.lit(d) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("pagerank"),
        )


def _pagerank_round(
    links: DataFrame, x: DataFrame, obs: Observation, broadcast: bool
) -> DataFrame:
    """One PageRank power round, unmaterialized: w(dst) = Σ
    x(src)·p(src→dst) over in-edges (p is the precomputed transition
    ratio: 1/out_deg unweighted, w/Σw(src) weighted). Σw is observed
    into ``obs`` on the pre-agg rows of the same job. ``broadcast``
    picks the small-frame plan (x broadcast into the dst-keyed link
    table) over the co-partitioned one (links keyed by id)."""
    xs = x.withColumnRenamed("dst", "id")
    return (
        links.join(F.broadcast(xs) if broadcast else xs, "id")
        .select("dst", (F.col("x") * F.col("p")).alias("c"))
        .observe(obs, F.sum("c").alias("s"))
        .groupBy("dst")
        .agg(F.sum("c").alias("x"))
    )


def trade_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PageRank binding of the trade graph: bidirectional
    (customer→supplier for goods ordered, supplier→customer for the
    payment flow back), with disjoint vertex namespaces — customer k
    becomes vertex 2k, supplier k becomes 2k+1, because the raw key
    ranges overlap and a shared id space would conflate customer k
    with supplier k. The cycle structure makes the power iteration do
    real multi-hop work (a one-directional binding annihilates at
    depth 2 and the solver would shortcut it — see ``pagerank``).

    The mirror is a per-row EXPLODE into both directions — one pass,
    inside the same task that produced the aggregated edge, so the
    lineitem⋈orders build runs once with no intermediate
    materialization (the earlier union-of-two-selects spelling
    needed a localCheckpoint to stop the build re-executing per
    branch — an extra full write/read of the edge list that
    ``pagerank``'s own entry checkpoint then repeated)."""
    e = trade_edges(spark, sf_dir)
    c = F.col("src") * 2
    s = F.col("dst") * 2 + 1
    w = F.col("weight").cast("double")
    return e.select(
        F.explode(
            F.array(
                F.struct(c.alias("src"), s.alias("dst"), w.alias("weight")),
                F.struct(s.alias("src"), c.alias("dst"), w.alias("weight")),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.weight")


def pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2+T6: PageRank over the bidirectional trade graph, top-20 by
    score (cypher_queries.cypher:31-34), decoded back to
    (entity, key). Deterministic (fixed iterations on deterministic
    data) and hash-ORACLED: the 12-round power iteration is a linear
    recurrence, so DuckDB replays it as unrolled CTEs
    (``_pagerank_oracle_sql``). Scores rounded so float noise across
    partition merge orders can't flap the ranking.

    Fixed 12-round budget, tol off: the semantics are the 12-round
    power ranks (the reference's gds.pageRank call is likewise
    budgeted by maxIterations). The near-bipartite cycle structure
    mixes slowly, so the driver-side convergence bound stays above
    any useful tol inside the budget — checking it buys nothing
    (the check itself is free scalar arithmetic, but it would never
    fire)."""
    edges = trade_graph_edges(spark, sf_dir)
    return _top_ranks(pagerank(edges, max_iter=12, tol=None))


def pagerank_top_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted twin (gds relationshipWeightProperty parity):
    trade volume drives the transition probabilities, so a supplier
    trading heavily with one customer pulls more of that customer's
    mass than ten incidental partners. Same 12-round budget, same
    unrolled-CTE oracle (weighted transition ratios); the weighted
    kernel is additionally pinned against a Python power iteration
    in tests/test_graph.py."""
    edges = trade_graph_edges(spark, sf_dir)
    return _top_ranks(
        pagerank(edges, max_iter=12, tol=None, weight_col="weight")
    )


def _top_ranks(pr: DataFrame) -> DataFrame:
    """Top-20 trade-graph ranks decoded back to (entity, key)."""
    return (
        pr.select(*_entity_key("id"), F.round("pagerank", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), F.asc("entity"), F.asc("key"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
def _pagerank_oracle_sql(
    weighted: bool, rounds: int = 12, d: float = 0.85
) -> str:
    """The 12-round power iteration UNROLLED as chained DuckDB CTEs —
    PageRank is a linear recurrence with a fixed round budget, so its
    oracle is mechanical SQL, exactly like the LPA unrolled rounds
    and the SSSP recursive CTE: per round, contrib = Σ_in rank·p and
    rank = (1−d) + d·(dm/n + contrib) with dm = n − Σ contrib.

    Float-match argument (the gate compares exact double reprs after
    ROUND(·, 6)): the transition ratios p are EXACT — out-mass is a
    sum of integer-valued doubles (< 2^53, associative-safe), so both
    engines divide identical numerators by identical denominators.
    The per-round in-mass sums then drift only by summation order,
    ~1e-15 relative per round and ~1e-12 after 12 rounds against
    Spark's Krylov evaluation of the same recurrence — nine orders
    below the 1e-6 rounding grid (the stats_moments discipline).
    Scalar arithmetic mirrors the driver's Python association:
    ``(1-d) + d * dm / n``.

    Every CTE is ``AS MATERIALIZED``: DuckDB inlines CTEs by
    default, and with the links/vertices frames referenced by all 12
    rounds an inlined plan re-expands the whole upstream join per
    round — 24+ parquet re-scans that blow the process fd budget
    (observed: "Too many open files" at sf0.01 alongside a live
    JVM). Materialized, each frame is computed once, exactly like
    the Spark side's localCheckpoints."""
    p = (
        "CAST(weight AS DOUBLE)"
        " / SUM(CAST(weight AS DOUBLE)) OVER (PARTITION BY src)"
        if weighted
        else "1.0 / COUNT(*) OVER (PARTITION BY src)"
    )
    one_minus_d = repr(1.0 - d)
    ctes = [
        f"""
WITH base_edges AS MATERIALIZED (
  SELECT o_custkey AS c, l_suppkey AS s, COUNT(*) AS weight
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey
),
edges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst, weight FROM base_edges
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst, weight FROM base_edges
),
links AS MATERIALIZED (SELECT src AS id, dst, {p} AS p FROM edges),
vertices AS MATERIALIZED (
  SELECT DISTINCT id
  FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vertices),
r0 AS MATERIALIZED (SELECT id, 1.0 AS rank FROM vertices)"""
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""c{k} AS MATERIALIZED (
  SELECT l.dst AS id, SUM(r.rank * l.p) AS contrib
  FROM links l JOIN r{k - 1} r ON r.id = l.id
  GROUP BY l.dst
),
r{k} AS MATERIALIZED (
  SELECT v.id,
         ({one_minus_d}
          + {d} * ((SELECT n FROM nn) - (SELECT SUM(contrib) FROM c{k}))
              / (SELECT n FROM nn))
         + {d} * COALESCE(c.contrib, 0.0) AS rank
  FROM vertices v LEFT JOIN c{k} c ON v.id = c.id
)"""
        )
    return (
        ",\n".join(ctes)
        + f"""
SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
       id // 2 AS key,
       ROUND(rank, 6) AS pagerank
FROM r{rounds}
ORDER BY pagerank DESC, entity ASC, key ASC
LIMIT 20
"""
    )


ORACLE_PAGERANK_TOP = _pagerank_oracle_sql(weighted=False)
ORACLE_PAGERANK_TOP_WEIGHTED = _pagerank_oracle_sql(weighted=True)


# ---------------------------------------------------------------------------
# Personalized PageRank — seeded random walk with restart
# ---------------------------------------------------------------------------

PPR_SEED_CUSTOMER = 1  # custkey 1 exists at every sf; vertex id 2*1
PPR_ROUNDS = 8
PPR_DAMPING = 0.85


def ppr_supplier_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation readout: suppliers most relevant to customer
    ``PPR_SEED_CUSTOMER`` by personalized PageRank over the
    bidirectional trade graph — multi-hop affinity (suppliers of the
    customers who buy from MY suppliers score too), not just direct
    edge weight. Top-15, scores rounded; hash-oracled by the same
    unrolled-CTE technique as global PageRank."""
    return _top_suppliers(_ppr(trade_graph_edges(spark, sf_dir)), 15)


def ppr_supplier_recs_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The weighted twin of ``ppr_supplier_recs`` (gds
    relationshipWeightProperty on the personalized variant): trade
    VOLUME drives the walk, so the seed's heavy trading partners —
    and their heavy partners — pull proportionally more restart
    mass. Same 8-round budget, same unrolled-CTE oracle with
    weighted transition ratios."""
    edges = trade_graph_edges(spark, sf_dir)
    return _top_suppliers(_ppr(edges, weight_col="weight"), 15)


def _ppr(
    edges: DataFrame, d: float = PPR_DAMPING, weight_col: str | None = None
) -> DataFrame:
    """The catalog's personalized PageRank: seeded at customer
    ``PPR_SEED_CUSTOMER``, a fixed ``PPR_ROUNDS`` budget, tol off."""
    return pagerank(
        edges,
        damping=d,
        max_iter=PPR_ROUNDS,
        tol=None,
        weight_col=weight_col,
        seed_id=2 * PPR_SEED_CUSTOMER,
    )


def _top_suppliers(
    pr: DataFrame, limit: int, damping: float | None = None
) -> DataFrame:
    """The ``limit`` suppliers with the highest personalized score,
    rounded at 1e-9 (``+ 0.0`` folds a -0.0), led by a ``damping``
    literal column when one is given."""
    lead = [] if damping is None else [F.lit(float(damping)).alias("damping")]
    return (
        pr.filter(F.col("id") % 2 == 1)
        .select(
            *lead,
            F.shiftright("id", 1).alias("supplier_key"),
            (F.round("pagerank", 9) + F.lit(0.0)).alias("ppr"),
        )
        .orderBy(F.desc("ppr"), F.asc("supplier_key"))
        .limit(limit)
    )


def _ppr_oracle_sql(
    rounds: int = PPR_ROUNDS, d: float = PPR_DAMPING, weighted: bool = False
) -> str:
    """Unrolled personalized-PageRank recurrence (the
    ``_pagerank_oracle_sql`` technique with a seed restart vector):
    the direct form of the recurrence ``pagerank`` evaluates in
    power-vector form. Rank rows stay sparse (the teleport row unions
    into each round's aggregation), and the scalar association
    mirrors the driver floats: ``(1-d) + d*(1 - Σcontrib)``. Rounded at 1e-9: PPR mass after 8
    rounds spreads to ~1e-5-scale scores, and cross-engine
    sum-order drift sits ~1e-17 — eight orders below the grid."""
    seed = 2 * PPR_SEED_CUSTOMER
    one_minus_d = repr(1.0 - d)
    p = (
        "CAST(weight AS DOUBLE)"
        " / SUM(CAST(weight AS DOUBLE)) OVER (PARTITION BY src)"
        if weighted
        else "1.0 / COUNT(*) OVER (PARTITION BY src)"
    )
    ctes = [
        f"""
WITH base_edges AS MATERIALIZED (
  SELECT o_custkey AS c, l_suppkey AS s, COUNT(*) AS weight
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey
),
edges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst, weight FROM base_edges
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst, weight FROM base_edges
),
links AS MATERIALIZED (
  SELECT src AS id, dst, {p} AS p
  FROM edges
),
r0 AS MATERIALIZED (SELECT CAST({seed} AS BIGINT) AS id, 1.0 AS x)"""
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""c{k} AS MATERIALIZED (
  SELECT l.dst AS id, SUM(r.x * l.p) AS c
  FROM links l JOIN r{k - 1} r ON r.id = l.id
  GROUP BY l.dst
),
r{k} AS MATERIALIZED (
  SELECT id, SUM(c) AS x FROM (
    SELECT id, {d} * c AS c FROM c{k}
    UNION ALL
    SELECT CAST({seed} AS BIGINT) AS id,
           {one_minus_d}
           + {d} * (1.0 - (SELECT COALESCE(SUM(c), 0.0) FROM c{k})) AS c
  ) GROUP BY id
)"""
        )
    return (
        ",\n".join(ctes)
        + f"""
SELECT id // 2 AS supplier_key,
       ROUND(x, 9) + 0.0 AS ppr
FROM r{rounds}
WHERE id % 2 = 1
ORDER BY ppr DESC, supplier_key ASC
LIMIT 15
"""
    )


PPR_SWEEP_DAMPINGS = (0.3, 0.5, 0.85)


def ppr_damping_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damping-factor sensitivity of the personalized-PageRank
    recommendations — the graph twin of ``ann_nprobe_sweep``: low d
    keeps the walk near the seed (local, direct-partner heavy), high
    d lets multi-hop affinity dominate; the top-5 supplier list per
    d ∈ {0.3, 0.5, 0.85} shows exactly when the ranking flips, which
    is the evidence for choosing a production damping rather than
    copying 0.85 from the textbook.

    One seeded ``pagerank`` loop per damping over one shared edge
    frame; each oracle branch is the same unrolled-recurrence CTE at
    its d, unioned."""
    edges = trade_graph_edges(spark, sf_dir)
    outs = [_top_suppliers(_ppr(edges, d), 5, d) for d in PPR_SWEEP_DAMPINGS]
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    w = Window.partitionBy("damping").orderBy(
        F.desc("ppr"), F.asc("supplier_key")
    )
    return (
        u.withColumn("rank", F.row_number().over(w))
        .select("damping", "rank", "supplier_key", "ppr")
        .orderBy("damping", "rank")
    )


def _ppr_sweep_oracle() -> str:
    branches = []
    for d in PPR_SWEEP_DAMPINGS:
        inner = _ppr_oracle_sql(d=d)
        branches.append(
            f"""SELECT * FROM (
  SELECT CAST({d!r} AS DOUBLE) AS damping,
         ROW_NUMBER() OVER (ORDER BY ppr DESC, supplier_key ASC) AS rank,
         supplier_key, ppr
  FROM ({inner}) AS sub
) WHERE rank <= 5"""
        )
    return "\nUNION ALL\n".join(branches) + "\nORDER BY damping, rank"


ORACLE_PPR_DAMPING_SWEEP = _ppr_sweep_oracle()


ORACLE_PPR_SUPPLIER_RECS = _ppr_oracle_sql()
ORACLE_PPR_SUPPLIER_RECS_WEIGHTED = _ppr_oracle_sql(weighted=True)


# ---------------------------------------------------------------------------
# Cricket binding — the reference's actual graph (player duel graph)
# ---------------------------------------------------------------------------

def player_vertices(deliveries: DataFrame) -> DataFrame:
    """A9: MERGE (p:Player {name}) — every batter/non-striker/bowler
    exactly once (neo4j_loader.py:58-62, constraint :28)."""
    return (
        deliveries.select(F.col("batter").alias("name"))
        .union(deliveries.select(F.col("nonStriker").alias("name")))
        .union(deliveries.select(F.col("bowler").alias("name")))
        .filter(F.col("name").isNotNull())
        .distinct()
    )


@persisted_per_input
def faced_edges(deliveries: DataFrame) -> DataFrame:
    """A9 last-writer-wins: MERGE (bat)-[f:FACED {matchId, innings,
    over, ball}]->(bow) SET f.runs/isWicket/team (neo4j_loader.py:
    58-68) — edge keyed by composite identity, payload from the last
    write. Reference defaults: ball→-1, runs→0 (neo4j_loader.py:
    113-116, P12).

    The projection is built once per input, the analogue of the GDS
    named graph the reference loads once and queries many times
    (``session.persisted_per_input``). Every call on a semantically
    equal ``deliveries`` frame, such as a second
    ``spark.read.parquet`` of the same warehouse, returns a frame over
    the same cache entry. The first action that reads it pays the
    warehouse scan and the dedup shuffle and fills the cache. Every
    later Cypher statement, ``gds.pageRank`` call and graph write
    reads the cached FACED set instead. The price is paid by an
    anchored one-off statement in a fresh session, such as the duel
    query: its ``src``/``dst`` filter is no longer pushed below the
    dedup, so it dedups every delivery once to fill the cache.

    Staleness: a warehouse overwritten through Spark and read again
    yields the new rows, because a Spark write re-caches every cached
    plan over its path. Files replaced outside Spark, by another
    process or by hand, keep serving the cached edges until
    ``spark.catalog.refreshByPath(path)``."""
    keyed = (
        deliveries.na.drop(subset=["batter", "bowler", "matchId", "over"])
        .select(
            F.col("batter").alias("src"),
            F.col("bowler").alias("dst"),
            "matchId",
            "innings",
            "over",
            F.coalesce(F.col("ball"), F.lit(-1)).alias("ball"),
            F.coalesce(F.col("runs_total"), F.lit(0)).alias("runs"),
            F.when(F.size(F.coalesce(F.col("wickets"), F.array())) > 0, 1)
            .otherwise(0)
            .alias("isWicket"),
            F.col("battingTeam").alias("team"),
        )
    )
    return keyed.dropDuplicates(["matchId", "innings", "over", "ball", "src"])


def player_pagerank(deliveries: DataFrame, **kw) -> DataFrame:
    """The reference's GDS call end-to-end: project the duel graph
    (G1), run PageRank (G2), rank (T6)."""
    edges = faced_edges(deliveries).groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("weight")
    )
    # round-then-order (same policy as pagerank_top): scores are
    # sorted at 6-decimal precision with the id tie-break, so
    # float-merge-order ulps can't flap the ranking
    return (
        pagerank(edges, **kw)
        .select("id", F.round("pagerank", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), F.asc("id"))
        .limit(20)
    )


def cypher_trade_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3/A7 submitted as CYPHER TEXT through the front-end compiler
    (plans/cypher.py) — the duel-stat WITH-aggregation shape
    (cypher_queries.cypher:10-16) bound to the trade graph. The SQL
    oracle is identical to graph_degree's, so this row proves the
    Cypher parse → DataFrame → Catalyst path end-to-end."""
    from cricket_analytics_nosql_spark.plans.cypher import compile_cypher

    q = """
    MATCH (c:Customer)-[r:TRADE]->(s:Supplier)
    WITH c, count(r) AS out_degree, sum(r.weight) AS total_weight
    RETURN c.name AS src, out_degree, total_weight
    ORDER BY out_degree DESC, total_weight DESC, src ASC
    LIMIT 25
    """
    return compile_cypher(q, trade_edges(spark, sf_dir))


def part_cooccur_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part co-purchase graph: an edge (a < b) links two
    parts that appear in the same order. Unlike the bipartite trade
    graph this one has real triangles, and it is built sparse: the
    per-order self-join emits C(lines, 2) pairs per order (≤ ~20),
    never a global cross product."""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = op.alias("a")
    b = op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("va"),
            F.col("b.l_partkey").alias("vb"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    part co-purchase graph, one audit row, all integers.

    Counting plan is the MapReduce-classic degree-ordered
    orientation (Suri & Vassilvitskii, WWW'11): orient every
    undirected edge from its (degree, id)-smaller endpoint to the
    larger, so each vertex's out-degree is O(√E) regardless of how
    skewed raw degrees are — the wedge join that dominates triangle
    counting then generates Σ outdeg² = O(E^1.5) candidates instead
    of exploding on hub vertices (the 100 TB failure mode). Each
    triangle {x,y,z}, x≺y≺z, is produced exactly once as
    x→y ⋈ y→z closed by x→z.

    Three shuffles on vertex keys (degree agg, two wedge/closure
    joins); the coefficient is exact micro-units of 3·triangles /
    wedges (integer division — no float agg anywhere)."""
    return triangle_stats(part_cooccur_edges(spark, sf_dir).select("va", "vb"))


def triangle_stats(e: DataFrame) -> DataFrame:
    """Core counting plan over an undirected edge list with columns
    ``va < vb`` (one row per edge). See ``graph_triangles``."""
    deg = (
        e.select(F.col("va").alias("v"))
        .unionAll(e.select(F.col("vb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("va"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("vb"), F.col("d").alias("db"))
    keyed = e.join(da, "va").join(db, "vb")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("va") < F.col("vb"))
    )
    oriented = keyed.select(
        F.when(fwd, F.col("va")).otherwise(F.col("vb")).alias("src"),
        F.when(fwd, F.col("vb")).otherwise(F.col("va")).alias("dst"),
    )
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    o3 = oriented.alias("o3")
    tri = (
        o1.join(o2, F.col("o1.dst") == F.col("o2.src"))
        .join(
            o3,
            (F.col("o3.src") == F.col("o1.src"))
            & (F.col("o3.dst") == F.col("o2.dst")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nv = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    ne = e.agg(F.count(F.lit(1)).alias("n_edges"))
    wedges = deg.agg(
        F.sum(F.expr("(d * (d - 1)) div 2")).alias("n_wedges")
    )
    return (
        nv.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr("(3 * n_triangles * 1000000) div n_wedges").alias(
                "clustering_micro"
            ),
        )
    )


def local_clustering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex (local) clustering coefficient of the part
    co-purchase graph — the node-level twin of ``graph_triangles``'s
    global audit row: c(v) = 2·T(v) / (d(v)·(d(v)−1)), top-25.

    Same degree-ordered orientation (out-degree O(√E) even under hub
    skew), but the triangle closure runs as an INNER join so each
    triangle {x,y,z} materializes exactly once as a row; a 3-way
    per-row explode then attributes it to each corner, and the
    count collapses map-side before the vertex-keyed exchange —
    triangles never shuffle as triangles, only as per-vertex partial
    counts. Coefficient in exact integer micro-units (same
    convention as the global query); ties broken by vertex id.
    Vertices in no triangle are excluded (both engines agree by
    construction — inner join against the triangle counts).

    Runs on the VERTEX-INDUCED 10% subgraph (partkey % 10 = 0) —
    the standard sampling estimator for local clustering: an induced
    sample preserves each kept vertex's neighbourhood density in
    expectation, and bounds the wedge stream at any corpus size
    (the FULL co-purchase graph's wedge count grows superlinearly —
    148M wedges at sf0.1, measured — which is exactly the quantity
    the global ``graph_triangles`` count can stream through its
    aggregate but a per-vertex materialization should not carry
    when a 100× cheaper unbiased estimate answers the question).
    Exact-on-the-sample, so the oracle contract stays exact."""
    e = part_cooccur_edges(spark, sf_dir).filter(
        (F.col("va") % 10 == 0) & (F.col("vb") % 10 == 0)
    ).select("va", "vb")
    return (
        local_clustering(e)
        .orderBy(F.desc("clustering_micro"), F.desc("t"), F.asc("v"))
        .limit(25)
    )


def local_clustering(e: DataFrame) -> DataFrame:
    """Per-vertex clustering core over an undirected edge list with
    columns ``va < vb`` — see ``local_clustering_topk``."""
    deg = (
        e.select(F.col("va").alias("v"))
        .unionAll(e.select(F.col("vb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("va"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("vb"), F.col("d").alias("db"))
    keyed = e.join(da, "va").join(db, "vb")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("va") < F.col("vb"))
    )
    oriented = keyed.select(
        F.when(fwd, F.col("va")).otherwise(F.col("vb")).alias("src"),
        F.when(fwd, F.col("vb")).otherwise(F.col("va")).alias("dst"),
    )
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    o3 = oriented.alias("o3")
    tri = (
        o1.join(o2, F.col("o1.dst") == F.col("o2.src"))
        .join(
            o3,
            (F.col("o3.src") == F.col("o1.src"))
            & (F.col("o3.dst") == F.col("o2.dst")),
            "left_semi",
        )
        .select(
            F.col("o1.src").alias("x"),
            F.col("o1.dst").alias("y"),
            F.col("o2.dst").alias("z"),
        )
    )
    per_vertex = (
        tri.select(
            F.explode(F.array("x", "y", "z")).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return per_vertex.join(deg, "v").select(
        "v",
        "t",
        "d",
        F.expr("(2 * t * 1000000) div (d * (d - 1))").alias(
            "clustering_micro"
        ),
    )


ORACLE_LOCAL_CLUSTERING = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey % 10 = 0
), e AS (
  SELECT a.l_partkey AS va, b.l_partkey AS vb
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT va AS v FROM e UNION ALL SELECT vb AS v FROM e
  ) GROUP BY v
), tri AS (
  SELECT e1.va AS x, e1.vb AS y, e2.vb AS z
  FROM e e1
  JOIN e e2 ON e1.vb = e2.va
  JOIN e e3 ON e3.va = e1.va AND e3.vb = e2.vb
), per_vertex AS (
  SELECT v, COUNT(*) AS t FROM (
    SELECT x AS v FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY v
)
SELECT per_vertex.v, t, d,
       CAST((2 * t * 1000000) // (d * (d - 1)) AS BIGINT)
         AS clustering_micro
FROM per_vertex JOIN deg ON per_vertex.v = deg.v
ORDER BY clustering_micro DESC, t DESC, per_vertex.v ASC
LIMIT 25
"""


ORACLE_GRAPH_TRIANGLES = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS va, b.l_partkey AS vb
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT va AS v FROM e UNION ALL SELECT vb AS v FROM e
  ) GROUP BY v
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e1.vb = e2.va
  WHERE EXISTS (
    SELECT 1 FROM e e3 WHERE e3.va = e1.va AND e3.vb = e2.vb
  )
)
SELECT (SELECT COUNT(*) FROM deg) AS n_vertices,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) FROM deg)
           AS n_wedges,
       n_triangles,
       CAST((3 * n_triangles * 1000000)
            // (SELECT SUM((d * (d - 1)) // 2) FROM deg) AS BIGINT)
           AS clustering_micro
FROM tri
"""


# ---------------------------------------------------------------------------
# Bounded superstep loops (Pregel's shape; Malewicz et al., SIGMOD 2010)
# ---------------------------------------------------------------------------

def _supersteps(
    edges: DataFrame,
    init: Callable[[DataFrame], DataFrame],
    step: Callable[[DataFrame, DataFrame, Observation], DataFrame],
    rounds: int,
    key: str | None = None,
) -> tuple[DataFrame, bool]:
    """The one loop of every iterative graph operator but PageRank:
    ``(state, converged)`` after at most ``rounds`` supersteps.

    - Entry: ``edges`` is materialized once and its row count m is
      observed on that same job. ``init(e)`` builds the first state
      from the checkpointed edge side ``e``, never from the raw edge
      lineage, which would re-run the edge build inside the loop.
    - The loop runs under ``session.fixed_plan(spark,
      loop_partitions(m))``. When ``key`` names the edge column each
      step joins on and m is at least one loop task
      (``session.ROWS_PER_TASK``), ``e`` is re-checkpointed
      ``repartition(parts, key)``: every round then joins the edge
      side in place and only state-sized frames shuffle. Below that
      the per-round edge exchange is KBs and the extra
      materialization would be pure latency.
    - Each round is ``step(e, state, obs).localCheckpoint()``: one job
      per round, and the state's lineage never grows (iterating over
      materialized intermediates, not a growing plan; Shark, SIGMOD
      2013). ``step`` observes a ``changed`` count into ``obs`` on
      that job.
    - Stop: every step is a deterministic function of (edges, state),
      so a round that changes nothing is a fixpoint, and running the
      rest of the budget would return the same rows. The loop stops
      there; ``converged`` is False only when the budget ran out
      first.

    The loop enters ``fixed_plan``, whose confs are session-wide: no
    ``similarity._concurrent_frames`` thunk may call it."""
    e_obs = Observation()
    e = edges.observe(e_obs, F.count(F.lit(1)).alias("m")).localCheckpoint()
    m = int(e_obs.get["m"])
    parts = loop_partitions(m)
    with fixed_plan(e.sparkSession, parts):
        if key is not None and m >= ROWS_PER_TASK:
            e = e.repartition(parts, F.col(key)).localCheckpoint()
        state = init(e)
        for _ in range(rounds):
            obs = Observation()
            state = step(e, state, obs).localCheckpoint()
            if not obs.get["changed"]:
                return state, True
    return state, False


def _changed(obs: Observation, state: DataFrame, changed) -> DataFrame:
    """``state`` with the count of rows where ``changed`` holds
    observed into ``obs`` — the superstep stop signal."""
    return state.observe(obs, F.count_if(changed).alias("changed"))


def _vertex_ids(e: DataFrame) -> DataFrame:
    """Every vertex of an ``(src, dst)`` edge list, labelled by its
    own id: ``(id, lab)``."""
    return (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("lab"))
    )


def _adopt(
    labels: DataFrame, proposed: DataFrame, lab, obs: Observation
) -> DataFrame:
    """Carry labels forward: every vertex takes ``lab``, an
    expression over its old ``lab`` and its ``proposed(id, new)``
    label (null for a vertex with no in-neighbours)."""
    return _changed(
        obs,
        labels.join(proposed, "id", "left").select(
            "id", F.col("lab").alias("old"), lab.alias("lab")
        ),
        F.col("lab") != F.col("old"),
    ).select("id", "lab")


def _min_label_step(
    e: DataFrame, labels: DataFrame, obs: Observation
) -> DataFrame:
    """One min-label round: every vertex takes the least of its label
    and its in-neighbours' labels. With ``e`` keyed on ``src`` and
    ``labels`` partitioned on ``id``, its one exchange is the
    label-sized per-``dst`` minimum."""
    proposed = (
        e.join(
            labels.select(F.col("id").alias("src"), F.col("lab").alias("slab")),
            "src",
        )
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("slab").alias("new"))
    )
    return _adopt(labels, proposed, F.least("lab", "new"), obs)


def _mode_step(e: DataFrame, labels: DataFrame, obs: Observation) -> DataFrame:
    """One LPA round: every vertex with in-neighbours takes their
    most frequent label, ties to the smallest. ``min_by`` over the
    composite (−count, label) picks the mode in ONE aggregation, no
    window sort."""
    proposed = (
        e.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy("dst", "lab")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(F.col("dst").alias("id"))
        .agg(
            F.min_by(
                F.col("lab"), F.struct((-F.col("c")).alias("nc"), F.col("lab"))
            ).alias("new")
        )
    )
    return _adopt(labels, proposed, F.coalesce("new", "lab"), obs)


def _degrees(e: DataFrame) -> DataFrame:
    """``(v, d)``: the degree of every vertex of a ``(va, vb)`` edge
    list."""
    return (
        e.select(F.col("va").alias("v"))
        .unionAll(e.select(F.col("vb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _peel_step(k: int):
    """The k-core peel round: drop every edge with an endpoint of
    degree < k; the changed count is the edges dropped."""

    def step(_e: DataFrame, cur: DataFrame, obs: Observation) -> DataFrame:
        deg = _degrees(cur)
        ends = cur.join(
            deg.select(F.col("v").alias("va"), F.col("d").alias("da")), "va"
        ).join(deg.select(F.col("v").alias("vb"), F.col("d").alias("db")), "vb")
        low = F.least("da", "db") < k
        return _changed(obs, ends, low).filter(~low).select("va", "vb")

    return step


def kcore(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """The k-core of an undirected graph (``va < vb`` edge rows): the
    unique maximal subgraph where every vertex keeps degree ≥ k —
    the standard coarse filter before expensive graph analytics
    (PageRank/community passes on a 100 TB graph run on the 2-core
    or 3-core, not the raw edge list full of degree-1 noise).

    Iterative peeling: drop all vertices below degree k, remove
    their incident edges, recompute — the classic fixpoint, O(log)
    rounds on real graphs because each round's removals cascade.
    Each superstep (``_supersteps``) is one degree aggregate and two
    joins of the shrinking edge list; ``max_iter`` is a budget, and
    the loop stops at the first round that drops no edge. Returns
    the surviving edges."""
    core, converged = _supersteps(
        edges.select("va", "vb"), lambda e: e, _peel_step(k), max_iter
    )
    if not converged:
        # exhausting the budget without a fixpoint would silently
        # return a NON-core (vertices below k remain) — refuse.
        # Adversarial shapes (a long path under k=2 peels two
        # vertices a round) need max_iter ≈ diameter/2.
        raise RuntimeError(
            f"kcore: no fixpoint within max_iter={max_iter} rounds; "
            "raise max_iter (pathological low-connectivity graph)"
        )
    return core


WALK_LEN = 4
WALK_A = 48271
WALK_B = 40503


def deterministic_walks(edges: DataFrame, length: int = WALK_LEN) -> DataFrame:
    """Graph random walks with a DETERMINISTIC step function — the
    corpus-prep operator behind DeepWalk/node2vec embeddings, made
    reproducible (and cross-engine checkable) by replacing RNG with
    modular arithmetic: from vertex v at step k, walk to the
    neighbor ranked ``(v·{WALK_A} + k·{WALK_B}) mod deg(v)`` in the
    dst-sorted adjacency. Same corpus on every run, every engine,
    every partitioning — the property embedding-training reruns
    need.

    Plan: the ranked adjacency (row_number per src, dst-sorted)
    builds once and is re-joined ``length`` times on (vertex, rank) —
    equi-joins on the co-partitioned adjacency, one per step, no
    explosion (each walk row matches exactly one neighbor). Walks
    from every vertex; dead-ends (no out-edges) stop early.

    Returns (start, step, vertex) — step 0 is the start itself."""
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy("dst")
    wd = Window.partitionBy("src")
    # rank and degree ride the SAME src-clustered pass (the count
    # window reuses the row_number exchange) — a groupBy+join
    # spelling would pay an extra aggregate and join over the
    # adjacency, re-read by every walk-step join downstream
    ranked = (
        edges.select("src", "dst")
        .distinct()
        .withColumn("idx", F.row_number().over(w) - 1)
        .withColumn("deg", F.count(F.lit(1)).over(wd))
    )

    starts = ranked.select(F.col("src").alias("start")).distinct()
    walks = starts.select(
        "start", F.lit(0).alias("step"), F.col("start").alias("vertex")
    )
    frontier = walks
    for k in range(length):
        choice = F.pmod(
            F.col("vertex") * WALK_A + F.lit(k * WALK_B), F.col("deg")
        )
        nxt = (
            frontier.join(
                ranked, frontier["vertex"] == ranked["src"], "inner"
            )
            .filter(F.col("idx") == choice)
            .select(
                "start",
                (F.col("step") + 1).alias("step"),
                F.col("dst").alias("vertex"),
            )
        )
        walks = walks.unionByName(nxt)
        frontier = nxt
    return walks


def graph_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: {WALK_LEN}-step deterministic walks over the
    bidirectional trade graph, emitted as path strings for the first
    100 start vertices — the walk corpus an embedding trainer would
    consume."""
    walks = deterministic_walks(trade_graph_edges(spark, sf_dir))
    return (
        walks.groupBy("start")
        .agg(
            F.concat_ws(
                "->", F.transform(F.array_sort(
                    F.collect_list(F.struct("step", "vertex"))
                ), lambda s: s["vertex"].cast("string"))
            ).alias("path"),
            F.count(F.lit(1)).alias("n_steps"),
        )
        .orderBy("start")
        .limit(100)
    )


ORACLE_GRAPH_WALKS = f"""
WITH RECURSIVE e0 AS (
  SELECT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey
), edges AS (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM e0
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM e0
), adj AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY src) AS deg
  FROM (SELECT DISTINCT src, dst FROM edges)
), walk(start, step, vertex) AS (
  SELECT DISTINCT src AS start, 0 AS step, src AS vertex FROM adj
  UNION ALL
  SELECT w.start, w.step + 1, a.dst
  FROM walk w JOIN adj a
    ON a.src = w.vertex
   AND a.idx = (w.vertex * {WALK_A} + w.step * {WALK_B}) % a.deg
  WHERE w.step < {WALK_LEN}
)
SELECT start,
       string_agg(CAST(vertex AS VARCHAR), '->' ORDER BY step) AS path,
       COUNT(*) AS n_steps
FROM walk
GROUP BY start
ORDER BY start
LIMIT 100
"""


def cypher_trade_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded variable-length Cypher (``-[:TRADE*1..2]->``) through
    the front-end compiler: all 1- and 2-hop trade paths out of one
    anchored customer vertex on the bidirectional graph, path counts
    per destination. The anchor filter pushes through the compiled
    union into each chain's first edge scan, so the plan expands one
    vertex's frontier, not the whole graph's."""
    from cricket_analytics_nosql_spark.plans.cypher import compile_cypher

    q = """
    MATCH (a {name: 2})-[:TRADE*1..2]->(b)
    RETURN b.name AS dest, count(*) AS n_paths
    ORDER BY n_paths DESC, dest ASC
    LIMIT 25
    """
    return compile_cypher(q, trade_graph_edges(spark, sf_dir))


ORACLE_CYPHER_TRADE_REACH = """
WITH e0 AS (
  SELECT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey
), e AS (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM e0
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM e0
), paths AS (
  SELECT dst FROM e WHERE src = 2
  UNION ALL
  SELECT b.dst FROM e a JOIN e b ON a.dst = b.src WHERE a.src = 2
)
SELECT dst AS dest, COUNT(*) AS n_paths
FROM paths
GROUP BY dest
ORDER BY n_paths DESC, dest ASC
LIMIT 25
"""


def recursive_trade_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-executed recursive CTE (Spark 4 ``WITH RECURSIVE``):
    min-depth BFS layers from the lowest-id vertex of the STRONG
    trade graph (edges with ≥ 3 line items — the weight filter keeps
    the recursion's fan-out sane at every scale factor), depth ≤ 3.

    Complements the graph layer's other traversals: ``pagerank`` is
    a hand-built iterative DataFrame loop, ``cypher_trade_reach``
    unrolls a FIXED hop count through the Cypher compiler — this one
    hands UNBOUNDED-depth iteration to the engine itself, the same
    dialect the DuckDB oracle runs verbatim. UNION ALL + min-depth
    aggregation is the engine-portable BFS spelling (walk counts,
    not frontier dedup); for open-ended 100 TB traversals prefer a
    checkpointed DataFrame loop with per-level ``dropDuplicates``
    (the ``dedup_clusters`` discipline) — bounded-depth on a
    thresholded subgraph is exactly where the SQL form is the right
    tool."""
    edges = trade_graph_edges(spark, sf_dir).filter(F.col("weight") >= 3)
    edges.select("src", "dst").createOrReplaceTempView("strong_trade_edges")
    return spark.sql(
        """
        WITH RECURSIVE reach(id, depth) AS (
          SELECT (SELECT MIN(src) FROM strong_trade_edges), 0
          UNION ALL
          SELECT e.dst, r.depth + 1
          FROM reach r JOIN strong_trade_edges e ON e.src = r.id
          WHERE r.depth < 3
        ),
        md AS (
          SELECT id, MIN(depth) AS min_depth FROM reach GROUP BY id
        )
        SELECT min_depth,
               COUNT(CASE WHEN id % 2 = 0 THEN 1 END) AS n_customers,
               COUNT(CASE WHEN id % 2 = 1 THEN 1 END) AS n_suppliers
        FROM md
        WHERE min_depth > 0
        GROUP BY min_depth
        ORDER BY min_depth
        """
    )


ORACLE_RECURSIVE_TRADE_BFS = """
WITH RECURSIVE base AS MATERIALIZED (
  SELECT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey HAVING COUNT(*) >= 3
), e AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM base
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM base
), reach(id, depth) AS (
  SELECT (SELECT MIN(src) FROM e), 0
  UNION ALL
  SELECT e.dst, r.depth + 1 FROM reach r JOIN e ON e.src = r.id
  WHERE r.depth < 3
), md AS (
  SELECT id, MIN(depth) AS min_depth FROM reach GROUP BY id
)
SELECT min_depth,
       COUNT(*) FILTER (id % 2 = 0) AS n_customers,
       COUNT(*) FILTER (id % 2 = 1) AS n_suppliers
FROM md
WHERE min_depth > 0
GROUP BY min_depth
ORDER BY min_depth
"""


# ---------------------------------------------------------------------------
# Weighted single-source shortest path (bounded Bellman-Ford)
# ---------------------------------------------------------------------------

def sssp(
    edges: DataFrame,
    source: DataFrame,
    rounds: int,
    cost_col: str = "cost",
) -> DataFrame:
    """Bounded-hop single-source shortest path by synchronous
    Bellman-Ford relaxation: the result is EXACTLY the min path cost
    over all paths of ≤ ``rounds`` edges — a closed-form contract a
    recursive-CTE oracle can replay, unlike run-to-convergence (whose
    round count depends on the data). ``rounds`` is a budget: the
    loop (``_supersteps``) stops early at a round that improves no
    distance, which returns the same rows.

    ``source`` is a 1-row (or few-row) DataFrame ``(id, cost)`` —
    kept as a DataFrame so the seed never has to round-trip through
    the driver. Each round is one equi-join dist⋈edges on the
    frontier's vertex id plus one min-groupBy — vertex-keyed
    shuffles, never path-enumeration-sized (the frontier collapses to
    one row per vertex per round, which is what makes this the
    100 TB spelling while the oracle's recursive CTE enumerates every
    path). Costs are integers, so min() needs no float-merge
    tolerance.

    Reference analogue: none in the reference's Cypher surface, but
    it is the weighted twin of its multi-hop duel queries
    (cypher_queries.cypher:18-25) and of ``recursive_trade_bfs``.
    """
    seed = source.select(
        F.col("id").cast("long").alias("id"),
        F.col(cost_col).cast("long").alias("cost"),
    )
    dist = _bellman_ford(edges, lambda _: seed, rounds, cost_col)
    return dist.withColumnRenamed("cost", cost_col)


def _bellman_ford(
    edges: DataFrame,
    seed: Callable[[DataFrame], DataFrame],
    rounds: int,
    cost_col: str = "cost",
) -> DataFrame:
    """``sssp``'s loop, seeded by ``seed(e)`` of the checkpointed edge
    list ``e(src, dst, w)``: ``(id, cost)``."""
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col(cost_col).cast("long").alias("w"),
    )
    dist, _ = _supersteps(e, seed, _relax_step, rounds, key="src")
    return dist


def _relax_step(e: DataFrame, dist: DataFrame, obs: Observation) -> DataFrame:
    """One Bellman-Ford round over ``dist(id, cost)``. Each old
    distance rides along as ``old``, so the round's changed count
    (vertices reached or improved) comes out of the same min-groupBy."""
    relaxed = (
        dist.select(F.col("id").alias("src"), F.col("cost").alias("via"))
        .join(e, "src")
        .select(
            F.col("dst").alias("id"),
            (F.col("via") + F.col("w")).alias("cost"),
            F.lit(None).cast("long").alias("old"),
        )
    )
    best = (
        dist.select("id", "cost", F.col("cost").alias("old"))
        .unionByName(relaxed)
        .groupBy("id")
        .agg(F.min("cost").alias("cost"), F.min("old").alias("old"))
    )
    improved = F.col("old").isNull() | (F.col("cost") < F.col("old"))
    return _changed(obs, best, improved).select("id", "cost")


def strong_trade_edges_costed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SSSP/LPA binding: the strong trade graph (≥ 3 line items
    per relationship, same threshold as ``recursive_trade_bfs`` so
    the recursive oracle's path enumeration stays sane) with an
    integer edge cost that makes heavy trade 'close': cost =
    max(1, 10 − weight). Bidirectional and namespace-disjoint via
    ``trade_graph_edges``."""
    return (
        trade_graph_edges(spark, sf_dir)
        .filter(F.col("weight") >= 3)
        .select(
            "src",
            "dst",
            F.greatest(
                F.lit(1), F.lit(10) - F.col("weight").cast("long")
            ).alias("cost"),
        )
    )


def sssp_weighted(
    spark: SparkSession, sf_dir: str, rounds: int = 3
) -> DataFrame:
    """Cheapest trade-relay paths (≤ ``rounds`` hops) from the
    lowest-id vertex of the strong trade graph: Bellman-Ford
    relaxation where heavy trade relationships are cheap to
    traverse. Top-25 nearest decoded to (entity, key);
    deterministic ties via (cost, entity, key) — integer costs, no
    float anywhere. The seed's MIN(src) reads the loop's checkpointed
    edge list, so the trade-graph build runs once."""
    dist = _bellman_ford(
        strong_trade_edges_costed(spark, sf_dir),
        lambda e: e.agg(F.min("src").alias("id")).select(
            "id", F.lit(0).cast("long").alias("cost")
        ),
        rounds,
    )
    return (
        dist.select(*_entity_key("id"), "cost")
        .orderBy(F.asc("cost"), F.asc("entity"), F.asc("key"))
        .limit(25)
    )


ORACLE_SSSP_WEIGHTED = """
WITH RECURSIVE base AS MATERIALIZED (
  SELECT o_custkey AS c, l_suppkey AS s, COUNT(*) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey HAVING COUNT(*) >= 3
), e AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst, GREATEST(1, 10 - w) AS cost FROM base
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst, GREATEST(1, 10 - w) AS cost FROM base
), paths(id, cost, depth) AS (
  SELECT (SELECT MIN(src) FROM e), 0, 0
  UNION ALL
  SELECT e.dst, p.cost + e.cost, p.depth + 1
  FROM paths p JOIN e ON e.src = p.id
  WHERE p.depth < 3
), best AS (
  SELECT id, MIN(cost) AS cost FROM paths GROUP BY id
)
SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
       id // 2 AS key,
       cost
FROM best
ORDER BY cost ASC, entity ASC, key ASC
LIMIT 25
"""


# ---------------------------------------------------------------------------
# Label-propagation community detection (synchronous, fixed rounds)
# ---------------------------------------------------------------------------

def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation: every vertex starts as its own
    community (label = id); each round every vertex adopts the MOST
    FREQUENT label among its in-neighbours, ties broken by the
    smallest label. Synchronous updates + deterministic tie-break
    make the result after a FIXED round count a pure function of the
    edge list — which is what lets an unrolled SQL oracle replay it
    exactly, where classic async LPA is run-order-dependent.
    ``rounds`` is a budget: the loop (``_supersteps``) stops early at
    a round that changes no label, which returns the same rows.

    Plan per round (``_mode_step``): edges ⋈ labels on src → count
    per (dst, label) (partial agg combines map-side) → top-1 per
    vertex via ``min_by`` → carry-forward left join, so vertices
    without in-neighbours keep their label. Everything is vertex- or
    edge-frame-sized; nothing enumerates paths. GDS analogue:
    ``gds.labelPropagation`` with ``maxIterations=rounds`` (the
    reference's GDS surface is the same family as its PageRank call,
    cypher_queries.cypher:28-34).
    """
    labels, _ = _supersteps(
        edges.select("src", "dst"), _vertex_ids, _mode_step, rounds, key="src"
    )
    return labels


def lpa_communities(
    spark: SparkSession, sf_dir: str, rounds: int = 3
) -> DataFrame:
    """Communities of the strong trade graph after ``rounds``
    synchronous LPA rounds: top-25 by (size desc, community asc),
    the community id decoded to (entity, key) of its label vertex."""
    return _census(
        label_propagation(strong_trade_edges_costed(spark, sf_dir), rounds)
    )


def _census(labels: DataFrame) -> DataFrame:
    """Top-25 label groups of the trade graph by (size desc, label
    asc), the label decoded to (entity, key)."""
    return (
        labels.groupBy("lab")
        .agg(F.count(F.lit(1)).alias("size"))
        .select(*_entity_key("lab"), "size")
        .orderBy(F.desc("size"), F.asc("entity"), F.asc("key"))
        .limit(25)
    )


def _entity_key(v: str) -> list:
    """A trade-graph vertex id decoded to its ``(entity, key)``."""
    return [
        F.when(F.col(v) % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("entity"),
        F.shiftright(v, 1).alias("key"),
    ]


# one unrolled LPA round in SQL: counts → deterministic mode →
# carry-forward for vertices with no in-neighbours
_LPA_ROUND_SQL = """
, c{r} AS (
  SELECT e.dst AS id, l.lab, COUNT(*) AS c
  FROM e JOIN l{p} l ON l.id = e.src
  GROUP BY e.dst, l.lab
), m{r} AS (
  SELECT id, lab FROM (
    SELECT id, lab,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lab ASC) AS rn
    FROM c{r}
  ) WHERE rn = 1
), l{r} AS (
  SELECT l.id, COALESCE(m.lab, l.lab) AS lab
  FROM l{p} l LEFT JOIN m{r} m ON m.id = l.id
)
"""

def _census_oracle(round_sql: str, rounds: int) -> str:
    """The unrolled DuckDB oracle of a label loop over the strong
    trade graph: ``rounds`` copies of ``round_sql``, then the
    ``_census`` readout."""
    return (
        """
WITH base AS MATERIALIZED (
  SELECT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey HAVING COUNT(*) >= 3
), e AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM base
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM base
), l0 AS (
  SELECT DISTINCT src AS id, src AS lab FROM e
)
"""
        + "".join(round_sql.format(r=r, p=r - 1) for r in range(1, rounds + 1))
        + f"""
SELECT CASE WHEN lab % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
       lab // 2 AS key,
       COUNT(*) AS size
FROM l{rounds}
GROUP BY lab
ORDER BY size DESC, entity ASC, key ASC
LIMIT 25
"""
    )


ORACLE_LPA_COMMUNITIES = _census_oracle(_LPA_ROUND_SQL, 3)


# ---------------------------------------------------------------------------
# Weakly connected components — fixed-round min-label propagation
# ---------------------------------------------------------------------------

WCC_ROUNDS = 4


def min_label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Bounded-radius weakly-connected components by synchronous
    min-label propagation: label(v) starts as v; each round every
    vertex takes the min of its own label and its in-neighbours'
    labels. After ``rounds`` rounds two vertices share a label iff
    the smaller-id end of their component lies within ``rounds``
    hops of both — on real graphs (small diameter) this IS the
    component id, and the round budget makes the result a pure
    function of the edge list that an unrolled SQL oracle replays
    exactly (the LPA contract, early stop included). The gds.wcc
    analogue of the reference's GDS surface
    (cypher_queries.cypher:28-34).

    Plan per round (``_min_label_step``, the round
    ``dedup.connected_components`` runs too): edges ⋈ labels on src →
    min per dst (partial agg collapses map-side) → carry-forward left
    join for vertices with no in-neighbours. Edge- or vertex-sized
    frames only. Pass both edge directions for the undirected
    reading."""
    labels, _ = _supersteps(
        edges.select("src", "dst"),
        _vertex_ids,
        _min_label_step,
        rounds,
        key="src",
    )
    return labels


def wcc_components(
    spark: SparkSession, sf_dir: str, rounds: int = WCC_ROUNDS
) -> DataFrame:
    """Component census of the strong trade graph after ``rounds``
    min-label rounds: top-25 components by (size desc, component
    asc), the component id decoded to (entity, key) of its
    minimum-label vertex — the readout that tells a corpus-graph
    curator whether the graph is one hairball or has separable
    islands worth partitioning by."""
    return _census(
        min_label_propagation(strong_trade_edges_costed(spark, sf_dir), rounds)
    )


# one unrolled min-label round: neighbour minimum → carry-forward
_WCC_ROUND_SQL = """
, m{r} AS (
  SELECT e.dst AS id, MIN(l.lab) AS nl
  FROM e JOIN l{p} l ON l.id = e.src
  GROUP BY e.dst
), l{r} AS (
  SELECT l.id, LEAST(l.lab, COALESCE(m.nl, l.lab)) AS lab
  FROM l{p} l LEFT JOIN m{r} m ON m.id = l.id
)
"""

ORACLE_WCC_COMPONENTS = _census_oracle(_WCC_ROUND_SQL, WCC_ROUNDS)


# ---------------------------------------------------------------------------
# Temporal (time-respecting) reachability — influence with causality
# ---------------------------------------------------------------------------

def temporal_reach_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RESPECTING 2-hop reach on the strong trade graph: c1
    influences c2 iff c1 first traded with a supplier s on day d1
    and c2 first traded with the SAME s on a strictly later day —
    the temporal-graph semantics (Holme & Saramäki) that static
    reach queries (``harmonic_centrality_2hop``, ``cypher_trade_
    reach``) cannot express: an edge only transmits forward in
    time, so A→s→B and B→s→A are no longer symmetric.  Top-20
    earliest adopters by (influenced count desc, custkey asc), with
    their median relay latency in days — the "who leads the market"
    readout.

    Plan: one (c, s)-grained rollup to FIRST-trade days (strong
    pairs, ≥ 3 line items — the sssp/lpa/harmonic binding that
    bounds the wedge stream), then ONE supplier-keyed self-join
    with the d2 > d1 predicate as a post-join filter on the
    equi-join (never a theta-only join), deduplicated to distinct
    (c1, c2) pairs keeping the MIN latency, then a c1 rollup.
    Cost scales with Σ_s buyers(s)² exactly like harmonic — the
    timestamp filter only shrinks it."""
    from cricket_analytics_nosql_spark.functions.scalar import epoch_day

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    first = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        .agg(
            F.count(F.lit(1)).alias("weight"),
            F.min(epoch_day("o_orderdate")).alias("first_day"),
        )
        .filter(F.col("weight") >= 3)
        .select("src", "dst", "first_day")
    )
    a = first.select(
        F.col("src").alias("c1"), "dst", F.col("first_day").alias("d1")
    )
    b = first.select(
        F.col("src").alias("c2"), "dst", F.col("first_day").alias("d2")
    )
    pairs = (
        a.join(b, "dst")
        .filter(F.col("d2") > F.col("d1"))
        .groupBy("c1", "c2")
        .agg(F.min(F.col("d2") - F.col("d1")).alias("lat"))
    )
    return (
        pairs.groupBy("c1")
        .agg(
            F.count(F.lit(1)).alias("n_influenced"),
            F.expr("percentile(lat, 0.5)").alias("p50"),
        )
        .select(
            F.col("c1").alias("custkey"),
            "n_influenced",
            F.round(F.col("p50"), 1).alias("median_relay_days"),
        )
        .orderBy(F.desc("n_influenced"), F.asc("custkey"))
        .limit(20)
    )


ORACLE_TEMPORAL_REACH = """
WITH first AS (
  SELECT o_custkey AS c, l_suppkey AS s,
         MIN(CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP))
                  // 86400000000 AS BIGINT)) AS d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey HAVING COUNT(*) >= 3
), pairs AS (
  SELECT a.c AS c1, b.c AS c2, MIN(b.d - a.d) AS lat
  FROM first a JOIN first b ON a.s = b.s AND b.d > a.d
  GROUP BY a.c, b.c
)
SELECT c1 AS custkey, COUNT(*) AS n_influenced,
       ROUND(median(lat), 1) AS median_relay_days
FROM pairs
GROUP BY c1
ORDER BY n_influenced DESC, custkey ASC
LIMIT 20
"""


def harmonic_centrality_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality on the bipartite trade graph:
    for each customer, ``Σ_{v reachable} 1/dist(v)`` cut at 2 hops —
    suppliers bought from count 1, co-buying customers count 1/2.
    The 2-hop cut is what makes the measure computable by plain
    joins (full harmonic centrality needs all-pairs BFS); it is the
    standard "local influence" readout and ranks hubs the same way
    on graphs whose diameter-2 neighborhood dominates.

    Plan: distance-1 sizes come straight off the aggregated edge
    list; distance-2 is the supplier-keyed inverted-index self-join
    (the A8 co-occurrence shape) deduplicated to distinct partner
    pairs — cost scales with Σ_s buyers(s)², never |customers|².
    That wedge sum is the thing to bound: on the RAW graph it
    explodes (measured: the sf0.1 dense bipartite graph OOMs the
    distinct at ~360M pairs — the local_clustering_topk lesson), so
    the query binds to the STRONG trade graph (pairs with ≥ 3 line
    items, the sssp/lpa binding), whose per-supplier buyer lists are
    short. At scale the same levers apply: raise the strength
    threshold, or cap a hot supplier's buyer list top-k by weight.
    Score arithmetic is dyadic (n + m/2) — exact in both engines."""
    e = (
        trade_edges(spark, sf_dir)
        .filter(F.col("weight") >= 3)
        .select("src", "dst")
    )
    d1 = e.groupBy("src").agg(F.count(F.lit(1)).alias("n_suppliers"))
    a = e.select(F.col("src").alias("c1"), "dst")
    b = e.select(F.col("src").alias("c2"), "dst")
    partners = (
        a.join(b, "dst")
        .filter(F.col("c1") != F.col("c2"))
        .select("c1", "c2")
        .distinct()
        .groupBy("c1")
        .agg(F.count(F.lit(1)).alias("n_cobuyers"))
    )
    return (
        d1.join(partners, d1.src == partners.c1, "left")
        .select(
            F.col("src").alias("custkey"),
            "n_suppliers",
            F.coalesce(F.col("n_cobuyers"), F.lit(0)).alias("n_cobuyers"),
        )
        .withColumn(
            "harmonic",
            F.col("n_suppliers")
            + F.coalesce(F.col("n_cobuyers"), F.lit(0)) / 2.0,
        )
        .orderBy(F.desc("harmonic"), F.asc("custkey"))
        .limit(20)
    )


ORACLE_HARMONIC_2HOP = """
WITH e AS (
  SELECT o_custkey AS src, l_suppkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey HAVING COUNT(*) >= 3
), d1 AS (
  SELECT src, COUNT(*) AS n_suppliers FROM e GROUP BY src
), partners AS (
  SELECT c1, COUNT(*) AS n_cobuyers FROM (
    SELECT DISTINCT a.src AS c1, b.src AS c2
    FROM e a JOIN e b ON a.dst = b.dst AND a.src <> b.src
  ) GROUP BY c1
)
SELECT d1.src AS custkey, n_suppliers,
       COALESCE(n_cobuyers, 0) AS n_cobuyers,
       n_suppliers + COALESCE(n_cobuyers, 0) / 2.0 AS harmonic
FROM d1 LEFT JOIN partners ON d1.src = partners.c1
ORDER BY harmonic DESC, custkey ASC
LIMIT 20
"""


KCORE_K = 2
KCORE_ROUNDS = 3


def kcore_trade_survivors(
    spark: SparkSession, sf_dir: str, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """Bounded k-core peeling on the strong trade graph: after at
    most ``rounds`` synchronous peels of vertices of degree below
    ``KCORE_K``
    (``kcore``'s superstep, stopping early at a round that drops no
    edge), report the top-25 surviving vertices by remaining degree.
    The round budget (vs ``kcore``'s run-to-fixpoint, which this
    catalog query complements as the oracled face of the same
    operator family) makes the result a pure function of the edge
    list that an unrolled SQL oracle replays exactly — the LPA
    contract."""
    e = (
        trade_edges(spark, sf_dir)
        .filter(F.col("weight") >= 3)
        .select(
            (F.col("src") * 2).alias("va"),
            (F.col("dst") * 2 + 1).alias("vb"),
        )
    )
    core, _ = _supersteps(e, lambda e: e, _peel_step(KCORE_K), rounds)
    return (
        _degrees(core)
        .select(*_entity_key("v"), F.col("d").alias("degree"))
        .orderBy(F.desc("degree"), F.asc("entity"), F.asc("key"))
        .limit(25)
    )


_KCORE_ROUND_SQL = """
, d{r} AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT va AS v FROM e{p} UNION ALL SELECT vb FROM e{p}
  ) GROUP BY v
), k{r} AS (
  SELECT v FROM d{r} WHERE d >= {k}
), e{r} AS (
  SELECT va, vb FROM e{p}
  WHERE va IN (SELECT v FROM k{r}) AND vb IN (SELECT v FROM k{r})
)
"""

def _kcore_oracle(rounds: int) -> str:
    """The unrolled DuckDB oracle of ``kcore_trade_survivors``."""
    return (
        """
WITH base AS MATERIALIZED (
  SELECT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey HAVING COUNT(*) >= 3
), e0 AS (
  SELECT c * 2 AS va, s * 2 + 1 AS vb FROM base
)
"""
        + "".join(
            _KCORE_ROUND_SQL.format(r=r, p=r - 1, k=KCORE_K)
            for r in range(1, rounds + 1)
        )
        + f"""
SELECT CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
       v // 2 AS key,
       COUNT(*) AS degree
FROM (SELECT va AS v FROM e{rounds} UNION ALL SELECT vb FROM e{rounds})
GROUP BY v
ORDER BY degree DESC, entity ASC, key ASC
LIMIT 25
"""
    )


ORACLE_KCORE_SURVIVORS = _kcore_oracle(KCORE_ROUNDS)


def degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the trade graph (customer side):
    P(degree = k) on a log2-bucketed axis plus the heavy-tail ratio
    (share of edges incident to the top-decile vertices) — the
    first chart anyone draws of a new graph, and the one that
    decides every later join strategy (a power-law tail means skew
    handling; a tight band means plain hash joins are fine).

    Two aggregates over the aggregated edge list (degrees, then
    bucket counts) — the fact never reappears after the G1
    projection; the decile threshold is an exact percentile over
    the degree frame broadcast back."""
    deg = (
        trade_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    thr = deg.agg(
        F.expr("percentile(d, 0.9)").alias("p90"),
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum("d").alias("n_edges"),
    )
    with_thr = deg.crossJoin(F.broadcast(thr))
    buckets = with_thr.groupBy(
        F.floor(F.log2("d")).cast("long").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_in_bucket"),
        F.max("n_vertices").alias("n_vertices"),
        F.max("n_edges").alias("n_edges"),
        F.sum(
            F.when(F.col("d") > F.col("p90"), F.col("d")).otherwise(0)
        ).alias("tail_edges"),
    )
    tail = buckets.agg(F.sum("tail_edges").alias("t"))
    return (
        buckets.crossJoin(F.broadcast(tail))
        .select(
            "log2_bucket",
            "n_in_bucket",
            F.round(
                F.col("n_in_bucket").cast("double")
                / F.col("n_vertices").cast("double"),
                6,
            ).alias("p_bucket"),
            F.round(
                F.col("t").cast("double") / F.col("n_edges").cast("double"),
                6,
            ).alias("top_decile_edge_share"),
        )
        .orderBy("log2_bucket")
    )


ORACLE_DEGREE_DISTRIBUTION = """
WITH deg AS (
  SELECT o_custkey AS src, COUNT(*) AS d FROM (
    SELECT o_custkey, l_suppkey FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_custkey, l_suppkey
  ) GROUP BY src
), thr AS (
  SELECT quantile_cont(d, 0.9) AS p90, COUNT(*) AS n_vertices,
         SUM(d) AS n_edges
  FROM deg
), buckets AS (
  SELECT CAST(FLOOR(log2(d)) AS BIGINT) AS log2_bucket,
         COUNT(*) AS n_in_bucket,
         MAX(n_vertices) AS n_vertices, MAX(n_edges) AS n_edges,
         SUM(CASE WHEN d > p90 THEN d ELSE 0 END) AS tail_edges
  FROM deg CROSS JOIN thr GROUP BY log2_bucket
), tail AS (
  SELECT SUM(tail_edges) AS t FROM buckets
)
SELECT log2_bucket, n_in_bucket,
       ROUND(CAST(n_in_bucket AS DOUBLE) / CAST(n_vertices AS DOUBLE), 6)
         AS p_bucket,
       ROUND(CAST(t AS DOUBLE) / CAST(n_edges AS DOUBLE), 6)
         AS top_decile_edge_share
FROM buckets CROSS JOIN tail
ORDER BY log2_bucket
"""


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over the bipartite trade graph
# ---------------------------------------------------------------------------

AA_MAX_DEG = 10_000  # hub cut: suppliers above this degree are skipped
AA_MIN_WEIGHT = 3  # strong-graph threshold (the harmonic/sssp binding)
AA_TOPK = 20


def adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction: which customer pairs SHOULD trade alike?
    Adamic-Adar score over the bipartite customer-supplier graph —
    for each candidate pair, Σ 1/ln(deg(s)) over shared suppliers s.
    Wedges are generated per supplier from the COLLAPSED edge list
    (trade_edges pre-agg) restricted to the STRONG graph (≥3 line
    items per relationship — the same signal-vs-noise threshold as
    ``harmonic_centrality_2hop``, whose raw-graph wedge stream
    measured 1.4 GB of shuffle at sf0.1 here before thresholding
    and OOM'd there); on top of that the ``AA_MAX_DEG`` hub cut
    hard-bounds the per-supplier d(d−1)/2 quadratic at corpus scale
    (a hub's 1/ln(deg) contribution is asymptotically negligible —
    the standard mining compromise, applied identically in the
    oracle so parity is exact).  Ranking sorts the ROUNDED score so
    cross-engine float ulps cannot reorder the top-k."""
    e = trade_edges(spark, sf_dir).filter(
        F.col("weight") >= AA_MIN_WEIGHT
    ).select(F.col("src").alias("cust"), F.col("dst").alias("supp"))
    deg = e.groupBy("supp").agg(F.count(F.lit(1)).alias("d"))
    keyed = e.join(
        deg.filter((F.col("d") >= 2) & (F.col("d") <= AA_MAX_DEG)), "supp"
    )
    # Materialize the degree-keyed strong edge list ONCE, hash-
    # partitioned on the wedge key (round 11): both self-join sides
    # consume it, so left lazy the lineitem⋈orders build and both
    # aggregations re-ran per side (8 parquet scans in the executed
    # plan), and the supp-partitioned checkpoint makes the wedge
    # self-join exchange-free (the final job carries ONE exchange —
    # the pair aggregation; scans 8 → 0 there). At 100 TB this is
    # the "persist the projected strong graph at ingest" step.
    keyed = keyed.repartition(F.col("supp")).localCheckpoint()
    a = keyed.select("supp", F.col("cust").alias("c1"), "d")
    b = keyed.select("supp", F.col("cust").alias("c2"), "d").drop("d")
    pairs = a.join(b, "supp").filter(F.col("c1") < F.col("c2"))
    return (
        pairs.groupBy("c1", "c2")
        .agg(
            F.round(F.sum(F.lit(1.0) / F.log(F.col("d").cast("double"))), 6)
            .alias("aa_score"),
            F.count(F.lit(1)).alias("n_shared"),
        )
        .orderBy(F.desc("aa_score"), "c1", "c2")
        .limit(AA_TOPK)
    )


ORACLE_ADAMIC_ADAR = f"""
WITH e AS (
  SELECT o_custkey AS cust, l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {AA_MIN_WEIGHT}
), deg AS (
  SELECT supp, COUNT(*) AS d FROM e GROUP BY supp
), keyed AS (
  SELECT e.supp, e.cust, deg.d
  FROM e JOIN deg USING (supp)
  WHERE deg.d BETWEEN 2 AND {AA_MAX_DEG}
)
SELECT a.cust AS c1, b.cust AS c2,
       ROUND(SUM(1.0 / ln(CAST(a.d AS DOUBLE))), 6) AS aa_score,
       COUNT(*) AS n_shared
FROM keyed a JOIN keyed b ON a.supp = b.supp AND a.cust < b.cust
GROUP BY a.cust, b.cust
ORDER BY aa_score DESC, c1, c2
LIMIT {AA_TOPK}
"""


def jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction over the same strong
    customer-supplier graph as ``adamic_adar_linkpred`` — the
    normalized companion: AA rewards RARE shared suppliers, Jaccard
    asks what FRACTION of the two customers' combined supplier
    neighborhoods is shared, so a pair with 3-of-4 suppliers in
    common outranks a pair sharing 3 of 40. |N(u)∩N(v)| comes from
    the same per-supplier wedge stream (strong graph ≥{AA_MIN_WEIGHT}
    items, ≤{AA_MAX_DEG} hub cut bounds the quadratic — identical in
    the oracle); |N(u)∪N(v)| = d(u)+d(v)−shared with customer degrees
    measured on the SAME filtered graph, one extra keys+counts
    rollup and two broadcast-sized joins onto the candidate pairs.
    Exact rational until ONE division per candidate; ranking sorts
    the ROUNDED score (then shared, then ids) so cross-engine ulps
    cannot reorder the top-k."""
    e = trade_edges(spark, sf_dir).filter(
        F.col("weight") >= AA_MIN_WEIGHT
    ).select(F.col("src").alias("cust"), F.col("dst").alias("supp"))
    sdeg = e.groupBy("supp").agg(F.count(F.lit(1)).alias("d"))
    keyed = e.join(
        sdeg.filter((F.col("d") >= 2) & (F.col("d") <= AA_MAX_DEG)), "supp"
    ).select("supp", "cust")
    cdeg = keyed.groupBy("cust").agg(F.count(F.lit(1)).alias("cd"))
    a = keyed.select("supp", F.col("cust").alias("c1"))
    b = keyed.select("supp", F.col("cust").alias("c2"))
    pairs = (
        a.join(b, "supp")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    scored = (
        pairs.join(
            cdeg.select(F.col("cust").alias("c1"), F.col("cd").alias("d1")),
            "c1",
        )
        .join(
            cdeg.select(F.col("cust").alias("c2"), F.col("cd").alias("d2")),
            "c2",
        )
        .select(
            "c1",
            "c2",
            "shared",
            (F.col("d1") + F.col("d2") - F.col("shared")).alias("unions"),
        )
    )
    return (
        scored.select(
            "c1",
            "c2",
            "shared",
            "unions",
            F.round(
                F.col("shared").cast("double") / F.col("unions").cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy(
            F.desc("jaccard"), F.desc("shared"), F.asc("c1"), F.asc("c2")
        )
        .limit(AA_TOPK)
    )


ORACLE_JACCARD_LINKPRED = f"""
WITH e AS (
  SELECT o_custkey AS cust, l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {AA_MIN_WEIGHT}
), sdeg AS (
  SELECT supp, COUNT(*) AS d FROM e GROUP BY supp
), keyed AS (
  SELECT e.supp, e.cust
  FROM e JOIN sdeg USING (supp)
  WHERE sdeg.d BETWEEN 2 AND {AA_MAX_DEG}
), cdeg AS (
  SELECT cust, COUNT(*) AS cd FROM keyed GROUP BY cust
), pairs AS (
  SELECT a.cust AS c1, b.cust AS c2, COUNT(*) AS shared
  FROM keyed a JOIN keyed b ON a.supp = b.supp AND a.cust < b.cust
  GROUP BY 1, 2
)
SELECT p.c1, p.c2,
       CAST(p.shared AS BIGINT) AS shared,
       CAST(d1.cd + d2.cd - p.shared AS BIGINT) AS unions,
       ROUND(CAST(p.shared AS DOUBLE)
             / CAST(d1.cd + d2.cd - p.shared AS DOUBLE), 6) AS jaccard
FROM pairs p
JOIN cdeg d1 ON d1.cust = p.c1
JOIN cdeg d2 ON d2.cust = p.c2
ORDER BY jaccard DESC, shared DESC, c1 ASC, c2 ASC
LIMIT {AA_TOPK}
"""


RICH_CLUB_KS = (2, 4, 8, 16)


def rich_club_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club profile of the trade graph — the assortativity
    readout resolved by degree level: among customers and suppliers
    whose degree exceeds k, what fraction of the possible
    cross-links actually exist? A rising φ(k) curve means the
    high-degree core is disproportionately interconnected (the
    'rich club'); flat-or-falling means hubs spread their trade.

    Shape: the k grid is a CONSTANT (4 levels), so everything is
    conditional aggregation — one pass over the degree-annotated
    edge list produces all four edge counts, one pass over each
    degree rollup produces the four node counts, and the 4-row
    profile is assembled by ``stack`` from three 1-row frames. No
    per-k rescans, no lattice joins; the exchanges are the two
    degree rollups and the edge-list joins onto them (keys+counts
    only)."""
    e = trade_edges(spark, sf_dir).select("src", "dst")
    cdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("dc"))
    sdeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("ds"))
    ed = e.join(cdeg, "src").join(sdeg, "dst")
    e_sums = ed.agg(
        *[
            F.sum(
                ((F.col("dc") > k) & (F.col("ds") > k)).cast("long")
            ).alias(f"e{k}")
            for k in RICH_CLUB_KS
        ]
    )
    c_sums = cdeg.agg(
        *[
            F.sum((F.col("dc") > k).cast("long")).alias(f"nc{k}")
            for k in RICH_CLUB_KS
        ]
    )
    s_sums = sdeg.agg(
        *[
            F.sum((F.col("ds") > k).cast("long")).alias(f"ns{k}")
            for k in RICH_CLUB_KS
        ]
    )
    j = e_sums.crossJoin(F.broadcast(c_sums)).crossJoin(F.broadcast(s_sums))
    stack_args = ", ".join(
        f"{k}L, e{k}, nc{k}, ns{k}" for k in RICH_CLUB_KS
    )
    stacked = j.select(
        F.expr(
            f"stack({len(RICH_CLUB_KS)}, {stack_args})"
            " as (k, n_edges, n_rich_cust, n_rich_supp)"
        )
    )
    return stacked.select(
        "k",
        "n_rich_cust",
        "n_rich_supp",
        "n_edges",
        F.when(
            (F.col("n_rich_cust") > 0) & (F.col("n_rich_supp") > 0),
            F.round(
                F.col("n_edges").cast("double")
                / (
                    F.col("n_rich_cust").cast("double")
                    * F.col("n_rich_supp").cast("double")
                ),
                6,
            ),
        ).alias("phi"),
    ).orderBy("k")


def _rich_club_branch_sql(k: int) -> str:
    return f"""
  SELECT CAST({k} AS BIGINT) AS k,
         (SELECT CAST(COUNT(*) FILTER (WHERE dc > {k}) AS BIGINT)
          FROM cdeg) AS n_rich_cust,
         (SELECT CAST(COUNT(*) FILTER (WHERE ds > {k}) AS BIGINT)
          FROM sdeg) AS n_rich_supp,
         (SELECT CAST(COUNT(*) FILTER (WHERE dc > {k} AND ds > {k})
                 AS BIGINT) FROM ed) AS n_edges"""


ORACLE_RICH_CLUB = f"""
WITH e AS (
  SELECT o_custkey AS src, l_suppkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), cdeg AS (
  SELECT src, COUNT(*) AS dc FROM e GROUP BY src
), sdeg AS (
  SELECT dst, COUNT(*) AS ds FROM e GROUP BY dst
), ed AS (
  SELECT dc, ds FROM e JOIN cdeg USING (src) JOIN sdeg USING (dst)
), profile AS (
{" UNION ALL ".join(_rich_club_branch_sql(k) for k in RICH_CLUB_KS)}
)
SELECT k, n_rich_cust, n_rich_supp, n_edges,
       CASE WHEN n_rich_cust > 0 AND n_rich_supp > 0
            THEN ROUND(CAST(n_edges AS DOUBLE)
                       / (CAST(n_rich_cust AS DOUBLE)
                          * CAST(n_rich_supp AS DOUBLE)), 6)
       END AS phi
FROM profile
ORDER BY k
"""


def truss_support_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-support histogram of the part co-purchase graph — the
    k-truss decomposition's first pass: an edge's support is the
    number of triangles through it, and the k-truss is exactly the
    maximal subgraph where every edge has support ≥ k−2, so this
    histogram reads off how much of the graph survives each cohesion
    level (support 0 = bridges no triangle touches).

    Counting plan: the same degree-ordered orientation as
    ``graph_triangles`` (out-degree O(√E) under any skew, each
    triangle materialized exactly once), but the closure join runs
    INNER so the triangle row yields its three corner edges; corners
    collapse map-side to per-edge counts, counts to the ≤max-support
    histogram, and the support-0 row is total edges minus covered —
    two 1-row frames crossed, never a second triangle pass. All
    integers end-to-end."""
    e = part_cooccur_edges(spark, sf_dir).select("va", "vb")
    deg = (
        e.select(F.col("va").alias("v"))
        .unionAll(e.select(F.col("vb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("va"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("vb"), F.col("d").alias("db"))
    keyed = e.join(da, "va").join(db, "vb")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("va") < F.col("vb"))
    )
    oriented = keyed.select(
        F.when(fwd, F.col("va")).otherwise(F.col("vb")).alias("src"),
        F.when(fwd, F.col("vb")).otherwise(F.col("va")).alias("dst"),
    )
    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    tri = o1.join(o2, F.col("o1.dst") == F.col("o2.src")).join(
        o3,
        (F.col("o3.src") == F.col("o1.src"))
        & (F.col("o3.dst") == F.col("o2.dst")),
    )
    corner = F.explode(
        F.array(
            F.struct(
                F.col("o1.src").alias("a"), F.col("o1.dst").alias("b")
            ),
            F.struct(
                F.col("o2.src").alias("a"), F.col("o2.dst").alias("b")
            ),
            F.struct(
                F.col("o3.src").alias("a"), F.col("o3.dst").alias("b")
            ),
        )
    ).alias("c")
    sup = (
        tri.select(corner)
        .select(
            F.least(F.col("c.a"), F.col("c.b")).alias("ea"),
            F.greatest(F.col("c.a"), F.col("c.b")).alias("eb"),
        )
        .groupBy("ea", "eb")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    hist = sup.groupBy("support").agg(F.count(F.lit(1)).alias("n_edges"))
    tot = e.agg(F.count(F.lit(1)).alias("t"))
    cov = hist.agg(F.coalesce(F.sum("n_edges"), F.lit(0)).alias("c"))
    zero = tot.crossJoin(F.broadcast(cov)).select(
        F.lit(0).cast("long").alias("support"),
        (F.col("t") - F.col("c")).alias("n_edges"),
    )
    return hist.unionByName(zero).orderBy("support")


ORACLE_TRUSS_SUPPORT = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS va, b.l_partkey AS vb
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), tri AS (
  SELECT e1.va AS x, e1.vb AS y, e2.vb AS z
  FROM e e1
  JOIN e e2 ON e1.vb = e2.va
  JOIN e e3 ON e3.va = e1.va AND e3.vb = e2.vb
), corners AS (
  SELECT x AS ea, y AS eb FROM tri
  UNION ALL SELECT y, z FROM tri
  UNION ALL SELECT x, z FROM tri
), sup AS (
  SELECT ea, eb, COUNT(*) AS support FROM corners GROUP BY 1, 2
), hist AS (
  SELECT CAST(support AS BIGINT) AS support,
         CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM sup GROUP BY support
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM e),
cov AS (SELECT CAST(COALESCE(SUM(n_edges), 0) AS BIGINT) AS c FROM hist)
SELECT support, n_edges FROM hist
UNION ALL
SELECT CAST(0 AS BIGINT), t - c FROM tot CROSS JOIN cov
ORDER BY support
"""


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the collapsed trade graph — the
    one-number structural readout (Newman 2002): across edges, does
    a high-degree customer trade with high-degree suppliers (r>0,
    hub-to-hub concentration) or with the long tail (r<0, the
    hub-and-spoke shape typical of commerce)? Pearson correlation of
    (deg(src), deg(dst)) over the edge list.

    Exactness: degrees are integers, so ALL distributed sums — n,
    Σx, Σy, Σxy, Σx², Σy² — are exact bigints from one global
    map-side-combined aggregate; r is composed once from the six
    scalars in oracle-identical textual order (products cast to
    double first — the welch/anova overflow discipline).

    Shape: two keys+counts degree rollups joined back onto the
    collapsed edge list (both shuffles carry keys and counts only),
    then a 1-row aggregate. Nothing scales past the edge list."""
    e = trade_edges(spark, sf_dir).select("src", "dst")
    dsrc = e.groupBy("src").agg(F.count(F.lit(1)).alias("x"))
    ddst = e.groupBy("dst").agg(F.count(F.lit(1)).alias("y"))
    j = e.join(dsrc, "src").join(ddst, "dst")
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return agg.select(
        F.col("n").alias("n_edges"),
        F.round(sx / nd, 4).alias("mean_cust_degree"),
        F.round(sy / nd, 4).alias("mean_supp_degree"),
        F.round(
            (nd * sxy - sx * sy)
            / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)),
            6,
        ).alias("assortativity"),
    )


ORACLE_DEGREE_ASSORTATIVITY = """
WITH e AS (
  SELECT o_custkey AS src, l_suppkey AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), dsrc AS (
  SELECT src, COUNT(*) AS x FROM e GROUP BY src
), ddst AS (
  SELECT dst, COUNT(*) AS y FROM e GROUP BY dst
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM e JOIN dsrc USING (src) JOIN ddst USING (dst)
)
SELECT n AS n_edges,
       ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean_cust_degree,
       ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean_supp_degree,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS assortativity
FROM agg
"""


BETWEENNESS_TOPK = 15


def betweenness_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-hop betweenness of suppliers in the bipartite
    customer-supplier trade graph: every customer pair at distance 2
    splits one unit of 'flow' equally across its shared suppliers,
    so supplier v scores Σ 1/cnt(a,b) over the pairs it connects —
    the brokerage readout (who is the irreplaceable middleman vs one
    of many). Bipartite structure makes this the EXACT betweenness
    restricted to 2-paths: customers are never adjacent, so every
    shared-supplier pair has d(a,b) = 2 and cnt(a,b) counts all
    shortest paths.

    Exactness: each wedge contributes round(1e6 / cnt) — an integer
    — so the per-supplier total is an order-free BIGINT sum (the
    float 1/cnt never enters a distributed sum). Scale: the same
    strong-graph (≥{AA_MIN_WEIGHT} items) + ≤{AA_MAX_DEG}-degree hub
    cut as ``adamic_adar_linkpred``, which measured the wedge
    exchange down from 1.4 GB to MBs at sf0.1; the pair-count
    rollup and the wedge re-join both key on (c1, c2) — one
    exchange each, wedge-stream-sized, never |V|²."""
    e = trade_edges(spark, sf_dir).filter(
        F.col("weight") >= AA_MIN_WEIGHT
    ).select(F.col("src").alias("cust"), F.col("dst").alias("supp"))
    deg = e.groupBy("supp").agg(F.count(F.lit(1)).alias("d"))
    keyed = e.join(
        deg.filter((F.col("d") >= 2) & (F.col("d") <= AA_MAX_DEG)), "supp"
    ).select("supp", "cust")
    a = keyed.select("supp", F.col("cust").alias("c1"))
    b = keyed.select("supp", F.col("cust").alias("c2"))
    wedges = a.join(b, "supp").filter(F.col("c1") < F.col("c2"))
    cnt = wedges.groupBy("c1", "c2").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        wedges.join(cnt, ["c1", "c2"])
        .groupBy("supp")
        .agg(
            F.sum(F.round(F.lit(1e6) / F.col("cnt"), 0).cast("long")).alias(
                "betweenness_micro"
            ),
            F.count(F.lit(1)).alias("n_wedges"),
        )
        .orderBy(F.desc("betweenness_micro"), F.asc("supp"))
        .limit(BETWEENNESS_TOPK)
    )


ORACLE_BETWEENNESS_2HOP = f"""
WITH e AS (
  SELECT o_custkey AS cust, l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {AA_MIN_WEIGHT}
), deg AS (
  SELECT supp, COUNT(*) AS d FROM e GROUP BY supp
), keyed AS (
  SELECT e.supp, e.cust
  FROM e JOIN deg USING (supp)
  WHERE deg.d BETWEEN 2 AND {AA_MAX_DEG}
), wedges AS (
  SELECT a.supp, a.cust AS c1, b.cust AS c2
  FROM keyed a JOIN keyed b ON a.supp = b.supp AND a.cust < b.cust
), cnt AS (
  SELECT c1, c2, COUNT(*) AS cnt FROM wedges GROUP BY c1, c2
)
SELECT w.supp,
       CAST(SUM(CAST(ROUND(1e6 / cnt.cnt, 0) AS BIGINT)) AS BIGINT)
         AS betweenness_micro,
       COUNT(*) AS n_wedges
FROM wedges w JOIN cnt ON w.c1 = cnt.c1 AND w.c2 = cnt.c2
GROUP BY w.supp
ORDER BY betweenness_micro DESC, supp ASC
LIMIT {BETWEENNESS_TOPK}
"""


# ---------------------------------------------------------------------------
# DeepWalk training pairs — walks → skip-gram (center, context) corpus
# ---------------------------------------------------------------------------

DEEPWALK_WINDOW = 2
DEEPWALK_START_MOD = 5  # deterministic 1/5 start-vertex subsample


def deepwalk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DeepWalk data-prep: deterministic walks over the
    trade graph (``deterministic_walks`` — the reproducible RNG-free
    step rule) fed through a skip-gram window (±2) into the
    (center, context) pair counts an SGNS embedding trainer
    consumes — composing the two halves the catalog already proves
    separately (``graph_walks``, ``skipgram_pairs``) into the
    artifact that actually ships to training. Top-50 pairs by count
    (ties: center, context) keep the readout bounded.

    Shape: the walk build is |V| co-partitioned equi-joins deep
    (WALK_LEN=4); pair emission is two leads over each walk's
    ≤5-row frame, symmetrized; counting map-combines on the pair
    key. Starts are subsampled 1/5 by pure modular arithmetic,
    mirrored in the oracle's recursive CTE."""
    from pyspark.sql import Window

    walks = deterministic_walks(trade_graph_edges(spark, sf_dir)).filter(
        F.pmod("start", F.lit(DEEPWALK_START_MOD)) == 0
    )
    w = Window.partitionBy("start").orderBy("step")
    base = walks.select(
        "start",
        "step",
        "vertex",
        F.lead("vertex", 1).over(w).alias("c1"),
        F.lead("vertex", 2).over(w).alias("c2"),
    )
    parts = []
    for col in ("c1", "c2"):
        fwd = base.filter(F.col(col).isNotNull()).select(
            F.col("vertex").alias("center"), F.col(col).alias("context")
        )
        rev = base.filter(F.col(col).isNotNull()).select(
            F.col(col).alias("center"), F.col("vertex").alias("context")
        )
        parts.extend([fwd, rev])
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    return (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "center", "context")
        .limit(50)
    )


ORACLE_DEEPWALK_PAIRS = f"""
WITH RECURSIVE e0 AS (
  SELECT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey
), edges AS (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM e0
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM e0
), adj AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY src) AS deg
  FROM (SELECT DISTINCT src, dst FROM edges)
), walk(start, step, vertex) AS (
  SELECT DISTINCT src AS start, 0 AS step, src AS vertex FROM adj
  WHERE src % {DEEPWALK_START_MOD} = 0
  UNION ALL
  SELECT w.start, w.step + 1, a.dst
  FROM walk w JOIN adj a
    ON a.src = w.vertex
   AND a.idx = (w.vertex * {WALK_A} + w.step * {WALK_B}) % a.deg
  WHERE w.step < {WALK_LEN}
), led AS (
  SELECT start, step, vertex,
         LEAD(vertex, 1) OVER (PARTITION BY start ORDER BY step) AS cx1,
         LEAD(vertex, 2) OVER (PARTITION BY start ORDER BY step) AS cx2
  FROM walk
), pairs AS (
  SELECT vertex AS center, cx1 AS context FROM led WHERE cx1 IS NOT NULL
  UNION ALL
  SELECT cx1 AS center, vertex AS context FROM led WHERE cx1 IS NOT NULL
  UNION ALL
  SELECT vertex AS center, cx2 AS context FROM led WHERE cx2 IS NOT NULL
  UNION ALL
  SELECT cx2 AS center, vertex AS context FROM led WHERE cx2 IS NOT NULL
)
SELECT center, context, COUNT(*) AS n_pairs
FROM pairs
GROUP BY center, context
ORDER BY n_pairs DESC, center, context
LIMIT 50
"""


# ---------------------------------------------------------------------------
# Negative-edge sampling for link-prediction training
# ---------------------------------------------------------------------------

NEG_EDGE_K = 4


def negative_edge_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data prep for link prediction: per customer, K=4
    DETERMINISTIC candidate non-edges (hash-drawn supplier ids),
    anti-joined against the real trade edges — the negative class
    an edge classifier trains on, reproducible across runs and
    engines (the keyed-hash sampling discipline, vs the usual
    rejection sampling that resists any oracle). The audit row
    reports the collision rate (candidates that WERE real edges —
    the quantity that tells you whether K needs resampling) NEXT TO
    the measured edge density: under a uniform hash they must agree
    in expectation, so |collision − density| is a free uniformity
    check on the sampler (the invariant the test pins). On this
    synthetic graph density is high (~0.9); real bipartite graphs
    at 100 TB sit near zero and the same plan yields negatives at
    ~K per node.

    Shape: candidates are a customers × K literal explode (no
    joins), the collision check is one anti-join on the
    co-partitioned edge key, and supplier-id range arrives as a
    1-row broadcast — nothing here ever materializes the
    |C|×|S| non-edge space."""
    from cricket_analytics_nosql_spark.functions.scalar import md5_u32

    edges = (
        trade_graph_edges(spark, sf_dir)
        .filter(F.pmod("src", F.lit(2)) == 0)  # customer→supplier side
        .select(
            F.expr("src div 2").alias("c"),
            F.expr("(dst - 1) div 2").alias("s"),
        )
        .distinct()
    )
    n_supp = load_table(spark, sf_dir, "supplier").agg(
        F.max("s_suppkey").alias("max_s")
    )
    cand = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("c"))
        .crossJoin(F.broadcast(n_supp))
        .select(
            "c",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(NEG_EDGE_K - 1)),
                    lambda j: F.pmod(
                        md5_u32(
                            F.concat(
                                F.col("c").cast("string"),
                                F.lit("#"),
                                j.cast("string"),
                            ),
                            salt="negedge#",
                        ),
                        F.col("max_s") + 1,
                    ),
                )
            ).alias("s"),
        )
    )
    negatives = cand.join(edges, ["c", "s"], "left_anti")
    agg_c = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    agg_n = negatives.agg(
        F.count(F.lit(1)).alias("n_negatives"),
        F.countDistinct("c").alias("n_customers_covered"),
    )
    density = (
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(
            F.broadcast(
                load_table(spark, sf_dir, "customer").agg(
                    F.count(F.lit(1)).alias("n_cust")
                )
            )
        )
        .crossJoin(F.broadcast(n_supp))
        .select(
            F.round(
                F.col("n_edges").cast("double")
                / (F.col("n_cust") * (F.col("max_s") + 1)).cast("double"),
                6,
            ).alias("edge_density")
        )
    )
    return (
        agg_c.crossJoin(F.broadcast(agg_n))
        .crossJoin(F.broadcast(density))
        .select(
            "n_candidates",
            "n_negatives",
            (F.col("n_candidates") - F.col("n_negatives")).alias(
                "n_collisions"
            ),
            "n_customers_covered",
            F.round(
                (F.col("n_candidates") - F.col("n_negatives")).cast("double")
                / F.col("n_candidates").cast("double"),
                6,
            ).alias("collision_rate"),
            "edge_density",
        )
    )


ORACLE_NEG_EDGE = f"""
WITH e0 AS (
  SELECT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey
), mx AS (SELECT MAX(s_suppkey) AS max_s FROM supplier),
cand AS (
  SELECT c_custkey AS c,
         CAST(('0x' || substr(md5('negedge#' || CAST(c_custkey AS VARCHAR)
                                  || '#' || CAST(j AS VARCHAR)), 1, 8))
              AS BIGINT) % (max_s + 1) AS s
  FROM customer, mx,
       UNNEST(range(0, {NEG_EDGE_K})) AS t(j)
), neg AS (
  SELECT cand.c, cand.s FROM cand
  LEFT JOIN e0 ON cand.c = e0.c AND cand.s = e0.s
  WHERE e0.c IS NULL
)
SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
       COUNT(*) AS n_negatives,
       (SELECT COUNT(*) FROM cand) - COUNT(*) AS n_collisions,
       COUNT(DISTINCT c) AS n_customers_covered,
       ROUND(CAST((SELECT COUNT(*) FROM cand) - COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM cand), 6) AS collision_rate,
       (SELECT ROUND(CAST(COUNT(*) AS DOUBLE)
               / ((SELECT COUNT(*) FROM customer)
                  * ((SELECT MAX(s_suppkey) FROM supplier) + 1)), 6)
        FROM e0) AS edge_density
FROM neg
"""


# ---------------------------------------------------------------------------
# Butterfly (bipartite 4-cycle) counting
# ---------------------------------------------------------------------------


def butterfly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly census of the bipartite trade graph: a butterfly is
    the bipartite 4-cycle (2 customers × 2 shared suppliers) — THE
    motif for bipartite cohesion (triangles cannot exist), and the
    building block of k-bitruss/k-wing decompositions. One audit
    row: strong edges, wedges, co-shopping pairs, butterflies, and
    the butterfly-per-wedge ratio (the bipartite analogue of the
    global clustering coefficient).

    Counting identity: B = Σ_pairs C(codeg,2) where codeg(c1,c2) =
    shared suppliers — exact integers end to end (the only double is
    the final ratio). Same STRONG-graph threshold + hub cut as
    ``adamic_adar_linkpred`` (wedge generation is quadratic per
    supplier degree; the cut is applied identically in the oracle so
    parity stays exact, and its effect is itself VISIBLE in the
    readout via n_edges_cut).

    Plan: wedge join keyed on supplier over the collapsed strong
    edge list → (c1,c2) codegree rollup → one global integer agg;
    the same measured-shuffle posture PERF.md records for
    adamic_adar (1371→12.5 MB at sf0.1 via the threshold + cut)."""
    e = (
        trade_edges(spark, sf_dir)
        .filter(F.col("weight") >= AA_MIN_WEIGHT)
        .select(F.col("src").alias("cust"), F.col("dst").alias("supp"))
    )
    deg = e.groupBy("supp").agg(F.count(F.lit(1)).alias("d"))
    keyed = e.join(
        deg.filter((F.col("d") >= 2) & (F.col("d") <= AA_MAX_DEG)), "supp"
    )
    a = keyed.select("supp", F.col("cust").alias("c1"))
    b = keyed.select("supp", F.col("cust").alias("c2"))
    codeg = (
        a.join(b, "supp")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    stats = codeg.agg(
        F.sum("k").alias("n_wedges"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.expr("k * (k - 1) div 2")).alias("n_butterflies"),
    )
    edge_stats = e.join(deg, "supp").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(
            ((F.col("d") < 2) | (F.col("d") > AA_MAX_DEG)).cast("long")
        ).alias("n_edges_cut"),
    )
    return edge_stats.join(stats, F.lit(True)).select(
        "n_edges",
        "n_edges_cut",
        "n_wedges",
        "n_pairs",
        "n_butterflies",
        F.round(
            F.col("n_butterflies").cast("double")
            / F.when(F.col("n_wedges") > 0, F.col("n_wedges")),
            6,
        ).alias("butterflies_per_wedge"),
    )


ORACLE_BUTTERFLY = f"""
WITH e AS (
  SELECT o_custkey AS cust, l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {AA_MIN_WEIGHT}
), deg AS (
  SELECT supp, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY supp
), keyed AS (
  SELECT e.supp, e.cust
  FROM e JOIN deg USING (supp)
  WHERE deg.d BETWEEN 2 AND {AA_MAX_DEG}
), codeg AS (
  SELECT a.cust AS c1, b.cust AS c2, CAST(COUNT(*) AS BIGINT) AS k
  FROM keyed a JOIN keyed b ON a.supp = b.supp AND a.cust < b.cust
  GROUP BY a.cust, b.cust
), stats AS (
  SELECT CAST(SUM(k) AS BIGINT) AS n_wedges,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(k * (k - 1) // 2) AS BIGINT) AS n_butterflies
  FROM codeg
), edge_stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(CASE WHEN deg.d < 2 OR deg.d > {AA_MAX_DEG}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_edges_cut
  FROM e JOIN deg USING (supp)
)
SELECT n_edges, n_edges_cut, n_wedges, n_pairs, n_butterflies,
       ROUND(CAST(n_butterflies AS DOUBLE)
             / (CASE WHEN n_wedges > 0 THEN n_wedges END), 6)
         AS butterflies_per_wedge
FROM edge_stats, stats
"""


# ---------------------------------------------------------------------------
# HITS — hubs & authorities over the directed trade graph
# ---------------------------------------------------------------------------


def _hits_step(
    edges: DataFrame, x: DataFrame, from_col: str, to_col: str
) -> DataFrame:
    """One HITS half-round: w(to) = Σ x(from) over edges, then L1-
    normalize. The normalizer is observed on the SAME job's pre-agg
    rows (Σ over contributions ≡ Σ over the aggregated frame), so a
    half-round costs exactly one edge-sized shuffle; the checkpointed
    result is vertex-sized."""
    obs = Observation()
    w = (
        edges.join(x.withColumnRenamed("id", from_col), from_col)
        .select(F.col(to_col).alias("id"), F.col("x").alias("c"))
        .observe(obs, F.sum("c").alias("s"))
        .groupBy("id")
        .agg(F.sum("c").alias("x"))
        .localCheckpoint()
    )
    total = float(obs.get["s"])
    return w.select("id", (F.col("x") / F.lit(total)).alias("x"))


def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2-family: HITS (Kleinberg) hubs and authorities over the
    DIRECTED customer→supplier trade graph — the natural bipartite
    binding: customers only point AT suppliers, so customers are the
    hubs and suppliers the authorities (reference scope: the
    gds.pageRank centrality family, cypher_queries.cypher:31-34,
    extended to the other classic spectral centrality).

    Three full rounds (auth ← Aᵀ·hub, hub ← A·auth, each L1-
    normalized), fixed budget exactly like ``pagerank_top``'s 12: the
    semantics ARE the budgeted iterates. Hash-ORACLED by unrolling
    the recurrence as materialized DuckDB CTEs (``_hits_oracle_sql``).
    Float-match: round 1 sums integer-valued doubles (exact); every
    later round divides identical rationals by a sum whose only
    cross-engine difference is summation order, ~1e-15 relative per
    round — nine orders under the ROUND(·,6) output grid, the
    ``pagerank_top`` argument verbatim.

    Scale: each half-round is ONE shuffle sized by the collapsed edge
    list (G1 pre-aggregation), score frames are vertex-sized and
    localCheckpointed so round k never re-derives rounds 1..k-1. No
    broadcast hints — customer/supplier scale with SF, AQE picks the
    build side at runtime (the ``market_share`` discipline)."""
    edges = (
        trade_edges(spark, sf_dir).select("src", "dst").localCheckpoint()
    )
    hub = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.lit(1.0).alias("x"))
    )
    for _ in range(3):
        auth = _hits_step(edges, hub, "src", "dst")
        hub = _hits_step(edges, auth, "dst", "src")

    def top(df: DataFrame, role: str) -> DataFrame:
        return (
            df.select(
                F.lit(role).alias("role"),
                F.col("id").alias("key"),
                F.round("x", 6).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("key"))
            .limit(10)
        )

    return (
        top(auth, "authority")
        .unionByName(top(hub, "hub"))
        .orderBy("role", F.desc("score"), F.asc("key"))
    )


def _hits_oracle_sql(rounds: int = 3) -> str:
    """The 3-round HITS recurrence unrolled as chained materialized
    CTEs — mechanical SQL, the ``_pagerank_oracle_sql`` technique.
    AS MATERIALIZED for the same fd-budget reason documented there."""
    ctes = [
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
h0 AS MATERIALIZED (SELECT DISTINCT c AS id, 1.0 AS x FROM e)"""
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""a{k}r AS MATERIALIZED (
  SELECT e.s AS id, SUM(h.x) AS x FROM e JOIN h{k - 1} h ON e.c = h.id
  GROUP BY e.s
),
a{k} AS MATERIALIZED (
  SELECT id, x / (SELECT SUM(x) FROM a{k}r) AS x FROM a{k}r
),
h{k}r AS MATERIALIZED (
  SELECT e.c AS id, SUM(a.x) AS x FROM e JOIN a{k} a ON e.s = a.id
  GROUP BY e.c
),
h{k} AS MATERIALIZED (
  SELECT id, x / (SELECT SUM(x) FROM h{k}r) AS x FROM h{k}r
)"""
        )
    return (
        ",\n".join(ctes)
        + f"""
SELECT role, key, score FROM (
  SELECT 'authority' AS role, id AS key, ROUND(x, 6) AS score FROM a{rounds}
  ORDER BY score DESC, key ASC LIMIT 10
)
UNION ALL
SELECT role, key, score FROM (
  SELECT 'hub' AS role, id AS key, ROUND(x, 6) AS score FROM h{rounds}
  ORDER BY score DESC, key ASC LIMIT 10
)
ORDER BY role ASC, score DESC, key ASC
"""
    )


ORACLE_HITS = _hits_oracle_sql()


# ---------------------------------------------------------------------------
# Modularity of a GIVEN partition — how community-like is geography?
# ---------------------------------------------------------------------------


def trade_modularity_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed weighted modularity of the NATION partition on the
    customer→supplier trade graph — the measurement half of
    community detection: ``lpa_communities`` FINDS a partition,
    this SCORES one you already believe in (geography):
    Q = Σ_c [w_cc/W − w_out(c)·w_in(c)/W²]. Q near 0 says trade
    ignores borders (true for TPC-H's uniform wiring — the honest
    null result); a real supply chain shows Q ≫ 0 regionalization.

    Scale: the collapsed weighted edge list (G1 pre-aggregation)
    joins its two nation keys, rolls up to the ≤25×25 nation-pair
    frame, and every modularity term lives on ≤25 rows.

    Exactness: all weights are exact BIGINT line counts; each
    nation's contribution is the exact integer numerator
    w_cc·W − w_out·w_in over W², summed exactly before ONE double
    division (per row and for the global Q)."""
    e = trade_edges(spark, sf_dir)
    cn = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("src"),
        F.col("c_nationkey").alias("src_n"),
    )
    sn = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("dst"),
        F.col("s_nationkey").alias("dst_n"),
    )
    pairs = (
        # no broadcast hints: customer/supplier scale with SF — AQE
        e.join(cn, "src")
        .join(sn, "dst")
        .groupBy("src_n", "dst_n")
        .agg(F.sum("weight").alias("w"))
    )
    tot = pairs.agg(F.sum("w").alias("ww"))
    outs = pairs.groupBy(F.col("src_n").alias("n_key")).agg(
        F.sum("w").alias("w_out")
    )
    ins = pairs.groupBy(F.col("dst_n").alias("n_key")).agg(
        F.sum("w").alias("w_in")
    )
    within = pairs.filter(F.col("src_n") == F.col("dst_n")).select(
        F.col("src_n").alias("n_key"), F.col("w").alias("w_within")
    )
    nations = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n_key"), F.col("n_name").alias("nation")
    )
    per = (
        outs.join(ins, "n_key", "full")
        .join(within, "n_key", "left")
        .join(F.broadcast(nations), "n_key")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.coalesce(F.col("w_within"), F.lit(0)).alias("w_within"),
            F.coalesce(F.col("w_out"), F.lit(0)).alias("w_out"),
            F.coalesce(F.col("w_in"), F.lit(0)).alias("w_in"),
            "ww",
            (
                F.coalesce(F.col("w_within"), F.lit(0)) * F.col("ww")
                - F.coalesce(F.col("w_out"), F.lit(0))
                * F.coalesce(F.col("w_in"), F.lit(0))
            ).alias("num"),
        )
    )
    w_all = Window.partitionBy()
    return per.select(
        "nation",
        "w_within",
        "w_out",
        "w_in",
        F.round(
            F.col("num").cast("double")
            / (F.col("ww").cast("double") * F.col("ww").cast("double")),
            6,
        ).alias("contrib"),
        F.round(
            F.sum("num").over(w_all).cast("double")
            / (F.col("ww").cast("double") * F.col("ww").cast("double")),
            6,
        ).alias("q_modularity"),
    ).orderBy("nation")


ORACLE_TRADE_MODULARITY = """
WITH e AS (
  SELECT o_custkey AS src, l_suppkey AS dst,
         CAST(COUNT(*) AS BIGINT) AS weight
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), pairs AS (
  SELECT c.c_nationkey AS src_n, s.s_nationkey AS dst_n,
         CAST(SUM(weight) AS BIGINT) AS w
  FROM e JOIN customer c ON e.src = c.c_custkey
         JOIN supplier s ON e.dst = s.s_suppkey
  GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(w) AS BIGINT) AS ww FROM pairs
), outs AS (
  SELECT src_n AS n_key, CAST(SUM(w) AS BIGINT) AS w_out
  FROM pairs GROUP BY src_n
), ins AS (
  SELECT dst_n AS n_key, CAST(SUM(w) AS BIGINT) AS w_in
  FROM pairs GROUP BY dst_n
), within AS (
  SELECT src_n AS n_key, w AS w_within FROM pairs WHERE src_n = dst_n
), per AS (
  SELECT n.n_name AS nation,
         COALESCE(w_within, 0) AS w_within,
         COALESCE(w_out, 0) AS w_out,
         COALESCE(w_in, 0) AS w_in,
         ww,
         COALESCE(w_within, 0) * ww
           - COALESCE(w_out, 0) * COALESCE(w_in, 0) AS num
  FROM outs
  FULL JOIN ins USING (n_key)
  LEFT JOIN within USING (n_key)
  JOIN nation n ON n.n_nationkey = n_key
  CROSS JOIN tot
)
SELECT nation, w_within, w_out, w_in,
       ROUND(CAST(num AS DOUBLE)
             / (CAST(ww AS DOUBLE) * CAST(ww AS DOUBLE)), 6) AS contrib,
       ROUND(CAST(SUM(num) OVER () AS DOUBLE)
             / (CAST(ww AS DOUBLE) * CAST(ww AS DOUBLE)), 6)
         AS q_modularity
FROM per
ORDER BY nation
"""


def scc_dominance_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the nation DOMINANCE digraph
    — the directed twin of ``wcc_components``: an edge n1→n2 exists
    iff n1's customers buy MORE from n2's suppliers than vice versa
    (strict, so ties and self-loops vanish), and an SCC is a set of
    nations locked in a trade-dominance cycle. On near-uniform
    TPC-H wiring the dominance direction is essentially a coin per
    pair, so nontrivial cycles exist — the readout is each nation's
    component id (min member) and component size.

    Scale/shape: the 100 TB part is the G1 pre-aggregation — the
    fact stream collapses to a ≤25×25 nation-pair weight frame
    before any graph logic. The transitive closure then runs on
    that ≤625-row frame as log₂(diameter) successor-doubling
    self-joins (5 rounds covers any 25-node path), each a tiny
    equi-join under ``session.fixed_plan`` (AQE off, 2 shuffle
    partitions = ``loop_partitions`` of ≤625 rows) with per-round
    localCheckpoint (the pagerank loop discipline) — driver never
    sees an edge. SCC labels come from the closure by
    the mutual-reachability join: scc(a) = min{b : a↝b ∧ b↝a} ∪ {a}.

    Reference parity: extends the Cypher graph analytics family
    (cypher_queries.cypher's reach/degree shapes) with the classic
    directed-graph decomposition those clients leave to the GDS
    server."""
    e = trade_edges(spark, sf_dir)
    cn = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("src"), F.col("c_nationkey").alias("src_n")
    )
    sn = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("dst"), F.col("s_nationkey").alias("dst_n")
    )
    w = (
        e.join(cn, "src")
        .join(sn, "dst")
        .groupBy("src_n", "dst_n")
        .agg(F.sum("weight").alias("w"))
    )
    rev = w.select(
        F.col("dst_n").alias("src_n"),
        F.col("src_n").alias("dst_n"),
        F.col("w").alias("w_rev"),
    )
    dom = (
        w.join(rev, ["src_n", "dst_n"], "left")
        .filter(F.col("w") > F.coalesce(F.col("w_rev"), F.lit(0)))
        .select(F.col("src_n").alias("a"), F.col("dst_n").alias("b"))
    )
    with fixed_plan(spark, loop_partitions(25 * 25)):
        reach = dom.localCheckpoint()
        for _ in range(5):  # doubling: paths up to 2^5 = 32 > 25 nodes
            step = reach.alias("r1").join(
                reach.alias("r2"), F.col("r1.b") == F.col("r2.a")
            ).select(F.col("r1.a").alias("a"), F.col("r2.b").alias("b"))
            reach = reach.union(step).distinct().localCheckpoint()
    mutual = reach.alias("f").join(
        reach.alias("g"),
        (F.col("f.a") == F.col("g.b")) & (F.col("f.b") == F.col("g.a")),
    ).select(F.col("f.a").alias("a"), F.col("f.b").alias("m"))
    nations = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("a"), F.col("n_name").alias("nation")
    )
    labeled = (
        nations.join(
            mutual.groupBy("a").agg(F.min("m").alias("min_mutual")),
            "a",
            "left",
        )
        .select(
            "a",
            "nation",
            F.least(
                F.col("a"), F.coalesce(F.col("min_mutual"), F.col("a"))
            ).alias("scc_id"),
        )
    )
    sizes = labeled.groupBy("scc_id").agg(
        F.count(F.lit(1)).alias("scc_size")
    )
    return (
        labeled.join(sizes, "scc_id")
        .select("nation", F.col("a").alias("nationkey"), "scc_id", "scc_size")
        .orderBy("scc_id", "nationkey")
    )


ORACLE_SCC_DOMINANCE = """
WITH RECURSIVE w AS (
  SELECT c.c_nationkey AS src_n, s.s_nationkey AS dst_n,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), dom AS (
  SELECT a.src_n AS a, a.dst_n AS b
  FROM w a LEFT JOIN w r
    ON a.src_n = r.dst_n AND a.dst_n = r.src_n
  WHERE a.w > COALESCE(r.w, 0)
), reach(a, b) AS (
  SELECT a, b FROM dom
  UNION
  SELECT r.a, d.b FROM reach r JOIN dom d ON r.b = d.a
), mutual AS (
  SELECT f.a AS a, f.b AS m
  FROM reach f JOIN reach g ON f.a = g.b AND f.b = g.a
), labeled AS (
  SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
         LEAST(n.n_nationkey,
               COALESCE(MIN(m.m), n.n_nationkey)) AS scc_id
  FROM nation n LEFT JOIN mutual m ON m.a = n.n_nationkey
  GROUP BY 1, 2
)
SELECT nation, nationkey, scc_id,
       COUNT(*) OVER (PARTITION BY scc_id) AS scc_size
FROM labeled
ORDER BY scc_id, nationkey
"""


QUERIES: dict[str, QuerySpec] = {
    "scc_dominance_nations": QuerySpec(
        scc_dominance_nations,
        ORACLE_SCC_DOMINANCE,
        ["G1", "G3", "A8", "J3", "X-graph"],
    ),
    "trade_modularity_nations": QuerySpec(
        trade_modularity_nations,
        ORACLE_TRADE_MODULARITY,
        ["G1", "G3", "A1", "A7", "J1", "X-graph"],
    ),
    "hits_hub_authority": QuerySpec(
        hits_hub_authority,
        ORACLE_HITS,
        ["G2", "T6", "A1", "X-graphml"],
    ),
    "butterfly_count": QuerySpec(
        butterfly_count,
        ORACLE_BUTTERFLY,
        ["G1", "G3", "A8", "J3", "X-graphml"],
    ),
    "deepwalk_pairs": QuerySpec(
        deepwalk_pairs,
        ORACLE_DEEPWALK_PAIRS,
        ["G1", "A8", "T1", "X-graphml", "X-training"],
    ),
    "negative_edge_sampling": QuerySpec(
        negative_edge_sampling,
        ORACLE_NEG_EDGE,
        ["G1", "J6", "A4", "X-graphml", "X-training"],
    ),
    "ppr_damping_sweep": QuerySpec(
        ppr_damping_sweep,
        ORACLE_PPR_DAMPING_SWEEP,
        ["G2", "T6", "A1", "X-graphml"],
    ),
    "betweenness_2hop": QuerySpec(
        betweenness_2hop,
        ORACLE_BETWEENNESS_2HOP,
        ["G3", "A8", "J3", "T1"],
    ),
    "adamic_adar_linkpred": QuerySpec(
        adamic_adar_linkpred,
        ORACLE_ADAMIC_ADAR,
        ["G1", "G3", "A8", "J3", "T1"],
    ),
    "jaccard_linkpred": QuerySpec(
        jaccard_linkpred,
        ORACLE_JACCARD_LINKPRED,
        ["G1", "G3", "A8", "J3", "T1"],
    ),
    "degree_assortativity": QuerySpec(
        degree_assortativity,
        ORACLE_DEGREE_ASSORTATIVITY,
        ["G1", "G3", "A4", "J1"],
    ),
    "rich_club_profile": QuerySpec(
        rich_club_profile,
        ORACLE_RICH_CLUB,
        ["G1", "G3", "A1", "A3", "J1"],
    ),
    "truss_support_profile": QuerySpec(
        truss_support_profile,
        ORACLE_TRUSS_SUPPORT,
        ["G1", "A8", "J3", "A1"],
    ),
    "degree_distribution": QuerySpec(
        degree_distribution, ORACLE_DEGREE_DISTRIBUTION, ["G1", "G3", "A1"]
    ),
    "kcore_trade_survivors": QuerySpec(
        kcore_trade_survivors, ORACLE_KCORE_SURVIVORS, ["G1", "A7", "J3", "T6"]
    ),
    "harmonic_centrality_2hop": QuerySpec(
        harmonic_centrality_2hop, ORACLE_HARMONIC_2HOP, ["G3", "A8", "J3", "T4"]
    ),
    "temporal_reach_2hop": QuerySpec(
        temporal_reach_2hop, ORACLE_TEMPORAL_REACH, ["A8", "J3", "T1", "X-ts"]
    ),
    "recursive_trade_bfs": QuerySpec(
        recursive_trade_bfs, ORACLE_RECURSIVE_TRADE_BFS, ["§2.9", "G1"]
    ),
    "sssp_weighted": QuerySpec(
        sssp_weighted, ORACLE_SSSP_WEIGHTED, ["G2", "J3", "T6"]
    ),
    "lpa_communities": QuerySpec(
        lpa_communities, ORACLE_LPA_COMMUNITIES, ["G2", "A8", "T6"]
    ),
    "wcc_components": QuerySpec(
        wcc_components, ORACLE_WCC_COMPONENTS, ["G2", "A8", "T6"]
    ),
    "graph_project": QuerySpec(
        graph_project, ORACLE_GRAPH_PROJECT, ["G1", "J1", "A8"]
    ),
    "graph_triangles": QuerySpec(
        graph_triangles, ORACLE_GRAPH_TRIANGLES, ["G1", "A8", "J3"]
    ),
    "local_clustering_topk": QuerySpec(
        local_clustering_topk, ORACLE_LOCAL_CLUSTERING, ["G1", "A8", "J3", "T6"]
    ),
    "cypher_trade_reach": QuerySpec(
        cypher_trade_reach,
        ORACLE_CYPHER_TRADE_REACH,
        ["§3.3", "G1", "A8", "J3"],
    ),
    "graph_walks": QuerySpec(
        graph_walks, ORACLE_GRAPH_WALKS, ["G2", "X-sim", "X-training"]
    ),
    "cypher_trade_degree": QuerySpec(
        cypher_trade_degree, ORACLE_GRAPH_DEGREE, ["G3", "A7", "§3.3"]
    ),
    "graph_degree": QuerySpec(
        graph_degree, ORACLE_GRAPH_DEGREE, ["G3", "A7", "T4"]
    ),
    "pagerank_top": QuerySpec(
        pagerank_top, ORACLE_PAGERANK_TOP, ["G2", "T6"], bench=True
    ),
    "ppr_supplier_recs": QuerySpec(
        ppr_supplier_recs, ORACLE_PPR_SUPPLIER_RECS, ["G2", "T6", "X-sim"]
    ),
    "ppr_supplier_recs_weighted": QuerySpec(
        ppr_supplier_recs_weighted,
        ORACLE_PPR_SUPPLIER_RECS_WEIGHTED,
        ["G2", "T6", "X-sim"],
    ),
    "pagerank_top_weighted": QuerySpec(
        pagerank_top_weighted, ORACLE_PAGERANK_TOP_WEIGHTED, ["G2", "T6"]
    ),
}
