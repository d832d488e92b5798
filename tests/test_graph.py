"""Graph layer tests (SURVEY.md §5.4): PageRank against a
hand-computable fixed point + invariants (no SQL oracle exists for
iterative algorithms), and the cricket duel-graph builders'
MERGE-equivalent dedup semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.operators.graph import (
    faced_edges,
    pagerank,
    player_pagerank,
    player_vertices,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_pagerank_two_cycle(spark):
    """A↔B: perfectly symmetric, ranks must both be 1.0 exactly."""
    pr = {r.id: r.pagerank for r in pagerank(_edges(spark, [("A", "B"), ("B", "A")]), max_iter=10).collect()}
    assert pr == {"A": pytest.approx(1.0), "B": pytest.approx(1.0)}


def test_pagerank_hand_computed_chain(spark):
    """A→B→C with C dangling. Hand-computed fixed point of
    r = 0.15 + 0.85*(in + dangling/3), scores sum to N=3."""
    pr = {
        r.id: r.pagerank
        for r in pagerank(
            _edges(spark, [("A", "B"), ("B", "C")]), max_iter=50, tol=None
        ).collect()
    }
    assert sum(pr.values()) == pytest.approx(3.0, abs=1e-5)
    # fixed point solved by hand with s = 0.85/3:
    #   rA = 0.15 + s*rC
    #   rB = 0.15 + 0.85*rA + s*rC
    #   rC = 0.15 + 0.85*rB + s*rC
    # → rC = 0.385875 / (1 - s*(1 + 0.85 + 0.85^2)) ≈ 1.423237
    assert pr["A"] == pytest.approx(0.553250, abs=1e-3)
    assert pr["B"] == pytest.approx(1.023529, abs=1e-3)
    assert pr["C"] == pytest.approx(1.423237, abs=1e-3)
    assert pr["C"] > pr["B"] > pr["A"]


def test_pagerank_mass_conservation_star(spark):
    """Hub-and-spoke: total mass N regardless of structure; hub
    (most in-links) ranks highest."""
    edges = _edges(
        spark, [("S1", "H"), ("S2", "H"), ("S3", "H"), ("H", "S1")]
    )
    rows = pagerank(edges, max_iter=40).collect()
    total = sum(r.pagerank for r in rows)
    assert total == pytest.approx(4.0, abs=1e-5)
    top = max(rows, key=lambda r: r.pagerank)
    assert top.id == "H"


def test_pagerank_empty(spark):
    assert pagerank(_edges(spark, [])).count() == 0


@pytest.mark.parametrize("seed_id", [None, 2])
def test_pagerank_copartitioned_branch_matches_broadcast(
    spark, sf_small, seed_id
):
    """The large-graph path (broadcast_max_vertices exceeded → link
    table re-keyed on the join key, w frames shuffled instead of
    broadcast) must produce the SAME ranks as the broadcast path —
    the physical strategy may not change the fixed point. Forced with
    broadcast_max_vertices=0 on the real sf0.001 trade graph (the
    bidirectional PageRank binding, cycles and all), global and
    seeded."""
    from cricket_analytics_nosql_spark.operators.graph import trade_graph_edges

    edges = trade_graph_edges(spark, sf_small)
    small, big = (
        {
            r.id: r.pagerank
            for r in pagerank(
                edges,
                max_iter=8,
                tol=None,
                broadcast_max_vertices=b,
                seed_id=seed_id,
            ).collect()
        }
        for b in (1_000_000, 0)
    )
    assert small.keys() == big.keys()
    for k in small:
        assert small[k] == pytest.approx(big[k], abs=1e-12), k


def test_seeded_pagerank_python_reference(spark):
    """Seeded (personalized) PageRank vs a dense Python power
    iteration of the same recurrence on a small directed graph with a
    dangling vertex — pins teleport arithmetic, dangling restart, and
    sparse-frame bookkeeping against an independent dense
    implementation."""
    pairs = [(0, 1), (1, 2), (2, 0), (1, 3), (3, 4)]  # 4→ nothing
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r.id: r.pagerank
        for r in pagerank(edges, max_iter=6, tol=None, seed_id=0).collect()
    }

    d, n, seed = 0.85, 5, 0
    out = {0: [1], 1: [2, 3], 2: [0], 3: [4], 4: []}
    rank = [1.0 if v == seed else 0.0 for v in range(n)]
    for _ in range(6):
        contrib = [0.0] * n
        for u, vs in out.items():
            for v in vs:
                contrib[v] += rank[u] / len(vs)
        s = sum(contrib)
        base = (1.0 - d) + d * (1.0 - s)
        rank = [d * c for c in contrib]
        rank[seed] += base
    want = {v: rank[v] for v in range(n) if rank[v] != 0.0}
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert max(got, key=got.get) == 0  # restart keeps the seed on top


def test_seeded_pagerank_rounds_cost_what_global_rounds_cost(spark, sf_small):
    """Global and seeded PageRank share one power loop, so two more
    rounds cost the same jobs in both modes: on the default gate every
    round of this graph broadcasts (w rows ≪ 1M at sf0.001), and a
    broadcast round is two jobs, the w broadcast and the links ⋈ w
    aggregation."""
    from cricket_analytics_nosql_spark.operators.graph import trade_graph_edges

    sc = spark.sparkContext
    edges = trade_graph_edges(spark, sf_small).localCheckpoint()
    jobs = {}
    for seed_id in (None, 2):
        for k in (4, 6):
            sc.setJobGroup(f"pr-{seed_id}-{k}", "pagerank job count")
            pagerank(edges, max_iter=k, tol=None, seed_id=seed_id).collect()
            sc.setJobGroup("", "")
            group = sc.statusTracker().getJobIdsForGroup(f"pr-{seed_id}-{k}")
            jobs[seed_id, k] = len(group)
    delta = {s: jobs[s, 6] - jobs[s, 4] for s in (None, 2)}
    assert delta[None] == delta[2] == 4, jobs


def test_checkpoint_discipline_depth6_identical(spark, sf_small):
    """checkpoint_every is a pure physical-execution lever: at depth
    6-8 (where lineage re-derivation makes shuffle read ≈ depth ×
    write without it — PERF.md, Iterative graph) the checkpointed
    run of each deep-loop operator must return exactly the rows of
    the lineage run. Covers sssp_weighted / lpa_communities /
    kcore_trade_survivors, the three VERDICT-r5 item-7 targets."""
    from cricket_analytics_nosql_spark.operators.graph import (
        kcore_trade_survivors,
        lpa_communities,
        sssp_weighted,
    )

    # Plain-side depths are bounded by the pathology itself: kcore's
    # un-checkpointed plan TRIPLES per round (two semi-joins + agg),
    # so plain depth 4 already takes ~60 s pure planning at sf0.001 —
    # the checkpointed run at the same depth is ~2 s. sssp (plan
    # doubles) sustains depth 8 plain; equality at these depths plus
    # ckpt-vs-ckpt at depth 6+ pins the lever as execution-only.
    for fn, depth in (
        (sssp_weighted, 8),
        (lpa_communities, 5),
        (kcore_trade_survivors, 3),
    ):
        plain = fn(spark, sf_small, rounds=depth).collect()
        ckpt = fn(spark, sf_small, rounds=depth, checkpoint_every=2).collect()
        assert sorted(map(tuple, plain)) == sorted(map(tuple, ckpt)), fn.__name__
    # at real depth (≥6) only checkpointed runs are tractable: the
    # materialization schedule must not change the fixpoint either
    for fn in (lpa_communities, kcore_trade_survivors):
        a = fn(spark, sf_small, rounds=6, checkpoint_every=1).collect()
        b = fn(spark, sf_small, rounds=6, checkpoint_every=3).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b)), fn.__name__


@pytest.fixture(scope="module")
def deliveries(spark):
    rows = [
        # matchId, innings, battingTeam, over, ball, batter, nonStriker,
        # bowler, runs_batter, runs_extras, runs_total, wickets
        ("M1", "1", "India", 0, 1, "Kohli", "Sharma", "Southee", 4, 0, 4, []),
        ("M1", "1", "India", 0, 2, "Kohli", "Sharma", "Southee", 0, 0, 0,
         [("Kohli", "bowled")]),
        # duplicate composite key (matchId, innings, over, ball, src) —
        # MERGE must keep exactly one
        ("M1", "1", "India", 0, 2, "Kohli", "Sharma", "Southee", 0, 0, 0,
         [("Kohli", "bowled")]),
        ("M1", "1", "India", 0, None, "Sharma", "Kohli", "Boult", 1, 0, 1, []),
        ("M2", "2", "NZ", 3, 1, "Williamson", None, "Bumrah", 2, 0, 2, []),
    ]
    schema = (
        "matchId string, innings string, battingTeam string, over long, "
        "ball long, batter string, nonStriker string, bowler string, "
        "runs_batter long, runs_extras long, runs_total long, "
        "wickets array<struct<player_out:string,kind:string>>"
    )
    return spark.createDataFrame(rows, schema)


def test_player_vertices_merge_dedup(deliveries):
    names = {r.name for r in player_vertices(deliveries).collect()}
    # nulls dropped, each player once despite appearing in many roles
    assert names == {"Kohli", "Sharma", "Southee", "Boult", "Williamson", "Bumrah"}


def test_faced_edges_composite_key_and_defaults(deliveries):
    rows = faced_edges(deliveries).collect()
    # 5 input rows → 4 edges (exact composite-key duplicate collapsed)
    assert len(rows) == 4
    by_key = {(r.matchId, r.innings, r.over, r.ball): r for r in rows}
    # missing ball defaulted to -1 (neo4j_loader.py:113-115)
    assert ("M1", "1", 0, -1) in by_key
    e = by_key[("M1", "1", 0, 2)]
    assert e.isWicket == 1 and e.src == "Kohli" and e.dst == "Southee"
    assert by_key[("M2", "2", 3, 1)].team == "NZ"


def test_player_pagerank_runs(deliveries):
    rows = player_pagerank(deliveries, max_iter=20).collect()
    assert len(rows) == 6
    # bowlers receive all links from batters → Southee (2 in-edges
    # incl. weight 2) must outrank any batter
    pr = {r.id: r.pagerank for r in rows}
    assert pr["Southee"] > pr["Kohli"]
    assert sum(pr.values()) == pytest.approx(6.0, abs=1e-4)


def test_write_graph_sink(spark, deliveries, tmp_path):
    """S8: the graph sink round-trips both datasets losslessly."""
    from cricket_analytics_nosql_spark.operators.sinks import write_graph

    v = player_vertices(deliveries)
    e = faced_edges(deliveries)
    out = str(tmp_path / "graph")
    write_graph(v, e, out)
    assert spark.read.parquet(out + "/vertices").count() == v.count()
    back = spark.read.parquet(out + "/edges")
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in e.collect()
    )


def test_triangle_stats_hand_graphs(spark):
    """Pin the degree-ordered orientation on graphs with known
    counts: K4 has 4 triangles / 12 wedges; a 5-star has none."""
    from cricket_analytics_nosql_spark.operators.graph import triangle_stats

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "va long, vb long",
    )
    r = triangle_stats(k4).collect()[0]
    assert (r.n_vertices, r.n_edges, r.n_wedges, r.n_triangles) == (
        4, 6, 12, 4,
    )
    assert r.clustering_micro == 1_000_000

    star = spark.createDataFrame(
        [(0, b) for b in range(1, 6)], "va long, vb long"
    )
    r = triangle_stats(star).collect()[0]
    assert (r.n_triangles, r.n_wedges) == (0, 10)


def test_kcore_hand_graphs(spark):
    """K4 with a pendant tail: the 3-core is exactly K4 (the tail and
    its attachment chain peel away, including the cascade); a pure
    path has an empty 2-core."""
    from cricket_analytics_nosql_spark.operators.graph import kcore

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    tail = [(3, 4), (4, 5)]  # 4 hangs off K4, 5 off 4 — cascades away
    edges = spark.createDataFrame(k4 + tail, "va long, vb long")
    core = {(r.va, r.vb) for r in kcore(edges, 3).collect()}
    assert core == set(k4)

    path = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "va long, vb long"
    )
    assert kcore(path, 2).count() == 0


def test_kcore_invariant_on_part_graph(spark, sf_small):
    """Every vertex of the k-core keeps degree ≥ k inside the core,
    and the core is a subset of the input edges."""
    from pyspark.sql import functions as F

    from cricket_analytics_nosql_spark.operators.graph import (
        kcore,
        part_cooccur_edges,
    )

    k = 4
    edges = part_cooccur_edges(spark, sf_small).select("va", "vb")
    core = kcore(edges, k)
    assert core.exceptAll(edges).count() == 0
    deg = (
        core.select(F.col("va").alias("v"))
        .unionAll(core.select(F.col("vb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    assert deg.filter(F.col("d") < k).count() == 0
    assert core.count() > 0  # the co-purchase graph has a real 4-core


def test_deterministic_walks_dead_end_and_reproducibility(spark):
    """Walks stop at sinks (no phantom steps) and are bit-stable
    across repartitionings of the same edge list."""
    from cricket_analytics_nosql_spark.operators.graph import (
        deterministic_walks,
    )

    # 1→2→3, 3 is a sink; 1 also →4, 4→1 (cycle back)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (4, 1)], "src long, dst long"
    )
    w1 = {
        (r.start, r.step, r.vertex)
        for r in deterministic_walks(edges, 3).collect()
    }
    # start=2: step1 → 3 (only neighbor), step2+ nothing (sink)
    assert (2, 1, 3) in w1
    assert not any(s == 2 and st > 1 for (s, st, _) in w1)
    # start=3 never appears: sinks have no adjacency row
    assert not any(s == 3 for (s, _, _) in w1)

    w2 = {
        (r.start, r.step, r.vertex)
        for r in deterministic_walks(edges.repartition(7), 3).collect()
    }
    assert w1 == w2


def test_weighted_pagerank_matches_python_power_iteration(spark):
    """Weighted mode vs a pure-Python power iteration on a small
    weighted digraph, same fixed budget, agreement to 1e-9."""
    from cricket_analytics_nosql_spark.operators.graph import pagerank

    edges = [
        (0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0),
        (2, 0, 1.0), (2, 3, 1.0), (3, 0, 5.0),
    ]
    d, iters, n = 0.85, 10, 4
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0.0) + w
    ranks = {v: 1.0 for v in range(n)}
    for _ in range(iters):
        dangling = sum(r for v, r in ranks.items() if v not in out_w)
        nxt = {v: (1 - d) + d * dangling / n for v in range(n)}
        for s, t, w in edges:
            nxt[t] += d * ranks[s] * (w / out_w[s])
        ranks = nxt

    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    got = {
        r.id: r.pagerank
        for r in pagerank(
            df, max_iter=iters, tol=None, weight_col="weight"
        ).collect()
    }
    assert set(got) == set(ranks)
    for v in ranks:
        assert abs(got[v] - ranks[v]) < 1e-9, (v, got[v], ranks[v])


@pytest.mark.parametrize("seed_id", [None, 0])
@pytest.mark.parametrize(
    "rows",
    [
        [(0, 1, 2.0), (1, 0, 0.0)],  # zero out-mass at vertex 1
        [(0, 1, 2.0), (0, 2, -1.0), (1, 0, 1.0)],  # negative edge
    ],
    ids=["zero", "negative"],
)
def test_weighted_pagerank_rejects_nonpositive_weights(spark, seed_id, rows):
    bad = spark.createDataFrame(rows, "src long, dst long, weight double")
    with pytest.raises(ValueError, match="positive"):
        pagerank(
            bad, max_iter=2, tol=None, weight_col="weight", seed_id=seed_id
        )


def _duckdb_pagerank_sql(k_iters: int, d: float, weighted: bool) -> str:
    """Unrolled k-iteration PageRank over the mirrored trade graph as
    one DuckDB query — an independent-engine differential oracle for
    the Spark Krylov loop (exact same recurrence: rank_0 = 1,
    rank_{k+1} = (1-d) + d*dm_k/n + d*Σ_in rank_k(src)*p)."""
    w_expr = (
        "CAST(weight AS DOUBLE) / SUM(CAST(weight AS DOUBLE)) OVER (PARTITION BY src)"
        if weighted
        else "1.0 / COUNT(*) OVER (PARTITION BY src)"
    )
    parts = [
        f"""
WITH base_edges AS MATERIALIZED (
  SELECT o_custkey AS c, l_suppkey AS s, COUNT(*) AS weight
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey
),
edges0 AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst, weight FROM base_edges
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst, weight FROM base_edges
),
edges AS MATERIALIZED (
  SELECT src, dst, {w_expr} AS p FROM edges0
),
vertices AS MATERIALIZED (
  SELECT DISTINCT src AS id FROM edges0
  UNION
  SELECT DISTINCT dst AS id FROM edges0
),
nn AS (SELECT COUNT(*) AS n FROM vertices),
r0 AS MATERIALIZED (SELECT id, 1.0 AS r FROM vertices)"""
    ]
    for i in range(1, k_iters + 1):
        parts.append(
            f""",
dm{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(r), 0.0) AS dm FROM r{i - 1}
  WHERE id NOT IN (SELECT DISTINCT src FROM edges)
),
r{i} AS MATERIALIZED (
  SELECT v.id,
         (1.0 - {d}) + {d} * (SELECT dm FROM dm{i}) / (SELECT n FROM nn)
         + {d} * COALESCE(c.contrib, 0.0) AS r
  FROM vertices v
  LEFT JOIN (
    SELECT e.dst AS id, SUM(p.r * e.p) AS contrib
    FROM edges e JOIN r{i - 1} p ON p.id = e.src
    GROUP BY e.dst
  ) c ON v.id = c.id
)"""
        )
    parts.append(f"\nSELECT id, r FROM r{k_iters}")
    return "".join(parts)


@pytest.mark.parametrize("weighted", [False, True])
def test_pagerank_matches_unrolled_duckdb(spark, sf_small, weighted):
    """Full-vector differential: the Spark Krylov-formulated loop vs
    12 literally-unrolled power iterations in DuckDB on the real
    sf0.001 trade graph. Agreement to 1e-9 absolute on every vertex
    — an independent engine, an independent formulation."""
    from tools.parity import duckdb_connection

    from cricket_analytics_nosql_spark.operators.graph import trade_graph_edges

    edges = trade_graph_edges(spark, sf_small)
    got = {
        r.id: r.pagerank
        for r in pagerank(
            edges,
            max_iter=12,
            tol=None,
            weight_col="weight" if weighted else None,
        ).collect()
    }
    con = duckdb_connection(sf_small)
    want = dict(
        con.execute(_duckdb_pagerank_sql(12, 0.85, weighted)).fetchall()
    )
    con.close()
    assert got.keys() == want.keys()
    for vid, r in want.items():
        assert got[vid] == pytest.approx(r, abs=1e-9), vid


def test_sssp_deep_with_checkpointing_is_wall_bounded(spark):
    """VERDICT r6 item 7: exercise ``checkpoint_every`` at REAL depth.
    The catalog query pins only 3 bounded rounds; PERF.md documents a
    60s-vs-2s planning cliff at depth 4+ without lineage cuts. This
    runs depth 8 WITH checkpointing and asserts (a) exact distances
    vs a driver-side Bellman-Ford reference on the same graph, and
    (b) the whole run — 8 join+groupBy rounds plus planning — stays
    wall-bounded, which is only possible if the lineage cuts actually
    cut (an uncheckpointed depth-8 plan tree blows the optimizer)."""
    import time

    from cricket_analytics_nosql_spark.operators.graph import sssp

    # chain 0->1->...->19 (cost 3 each) plus shortcut edges i -> i+3
    # (cost 5): optimal paths mix the two, so a wrong relaxation
    # order or a lost frontier row changes real answers
    chain = [(i, i + 1, 3) for i in range(19)]
    shortcuts = [(i, i + 3, 5) for i in range(17)]
    rows = chain + shortcuts
    edges = spark.createDataFrame(rows, "src long, dst long, cost long")
    source = spark.createDataFrame([(0, 0)], "id long, cost long")

    rounds = 8
    t0 = time.perf_counter()
    got = {
        r.id: r.cost
        for r in sssp(edges, source, rounds=rounds, checkpoint_every=2).collect()
    }
    elapsed = time.perf_counter() - t0

    # driver-side reference: Bellman-Ford truncated at `rounds` edges
    INF = float("inf")
    dist = {0: 0}
    for _ in range(rounds):
        nxt = dict(dist)
        for s, d, c in rows:
            if dist.get(s, INF) + c < nxt.get(d, INF):
                nxt[d] = dist[s] + c
        dist = nxt
    assert got == dist

    # wall bound: generous vs the ~2s checkpointed / 60s+ blown-plan
    # readings in PERF.md — a re-planning regression trips this long
    # before it reaches the old cliff
    assert elapsed < 60, f"depth-{rounds} sssp took {elapsed:.1f}s — lineage cuts regressed?"
