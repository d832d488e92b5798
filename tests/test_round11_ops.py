"""Round-11 optimization gates.

Plan-shape and equality pins for the round's optimizations, so a
future refactor that silently regresses a shape fails here before it
fails at the bench:

- PageRank's broadcast-path loop round must stay shuffle-free (the
  dst-partitioned checkpoint makes groupBy("dst") aggregate in
  place).
- lm_surprisal's fact stream must never shuffle (score table
  broadcasts; the only keyed exchanges are vocabulary/doc-bounded).
- The cell-assignment seam: literal-codebook projection and the
  broadcast-row fallback must produce bit-identical cells, and the
  size guard must pick the literal form for the contract queries'
  k=16 codebooks.
- ivf_topk misuse and zero-norm edge cases (ADVICE r10) stay fixed.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.operators import similarity as S
from cricket_analytics_nosql_spark.operators.text import lm_surprisal
from cricket_analytics_nosql_spark.session import fixed_plan
from cricket_analytics_nosql_spark.sources.tables import load_table


def test_assign_cells_literal_and_broadcast_bit_identical(spark, sf_small):
    emb = S._doubles(load_table(spark, sf_small, "embeddings"))
    rng = random.Random(11)
    for k in (3, 16, 40):
        cents = [
            (i + 1, [rng.uniform(-1.0, 1.0) for _ in range(64)])
            for i in range(k)
        ]
        lit = sorted(
            map(
                tuple,
                S.assign_cells(emb, cents, 64, literal_max=10**9)
                .select("vec_id", "cell")
                .collect(),
            )
        )
        bc = sorted(
            map(
                tuple,
                S.assign_cells(emb, cents, 64, literal_max=0)
                .select("vec_id", "cell")
                .collect(),
            )
        )
        assert lit == bc, f"assignment seam diverged at k={k}"


def test_assign_cells_guard_picks_literal_for_contract_k():
    # k=16, dim=64 → 1024 scalars ≤ the 4096 crossover: the contract
    # queries must keep the plan-gated literal projection.
    assert 16 * 64 <= S.ARGMIN_LITERAL_MAX_SCALARS
    # and a production-scale codebook must NOT ride as literals
    assert 1024 * 64 > S.ARGMIN_LITERAL_MAX_SCALARS


def test_assign_cells_broadcast_form_is_projection_only(spark, sf_small):
    emb = S._doubles(load_table(spark, sf_small, "embeddings"))
    cents = [(i + 1, [float(i == j) for j in range(64)]) for i in range(5)]
    plan = (
        S.assign_cells(emb, cents, 64, literal_max=0)
        .select("vec_id", "cell")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the 1-row codebook attaches via broadcast; no data-sized
    # exchange may appear between the scan and the assignment
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_pagerank_loop_round_is_single_stage(spark, sf_small):
    """The broadcast-path per-round job must carry no shuffle: links
    checkpointed hash-partitioned by dst → groupBy('dst') aggregates
    in place (round-11 shape; 2 Exchange → 1, the broadcast)."""
    from cricket_analytics_nosql_spark.operators.graph import (
        _pagerank_round,
        trade_graph_edges,
    )

    with fixed_plan(spark, 4):
        edges = trade_graph_edges(spark, sf_small).localCheckpoint()
        out_mass = edges.groupBy("src").agg(
            F.count(F.lit(1)).cast("double").alias("w_out")
        )
        links = (
            edges.join(F.broadcast(out_mass), "src")
            .select(
                F.col("src").alias("id"),
                "dst",
                (F.lit(1.0) / F.col("w_out")).alias("p"),
            )
            .repartition(4, F.col("dst"))
            .localCheckpoint()
        )
        w = (
            links.select("dst", F.col("p").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("x"))
            .localCheckpoint()
        )
        one_round = _pagerank_round(links, w, Observation(), broadcast=True)
        plan = one_round._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange" in plan


def test_lm_surprisal_fact_stream_never_shuffles(spark, sf_small):
    """The round-11 reshape: the bigram fact stream joins the
    broadcast score table and rolls up per doc — the only hash
    exchanges left are the vocabulary-sized LM build (agg + window)
    and the doc rollup; no fact-sized join exchange remains."""
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            lm_surprisal(spark, sf_small)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == 3, plan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_lloyd_empty_train_set_returns_empty_codebook():
    import numpy as np

    assert S._lloyd_numpy(np.asarray([]), 16, 3) == []


def test_assign_cells_empty_codebook_assigns_null(spark, sf_small):
    """An empty codebook (empty train corpus) must not die in plan
    analysis (untyped array() literals); it assigns NULL cells, so
    every cell-keyed consumer correctly yields an empty result."""
    emb = S._doubles(load_table(spark, sf_small, "embeddings"))
    rows = S.assign_cells(emb, [], 64).select("cell").distinct().collect()
    assert [r["cell"] for r in rows] == [None]


def test_cc_keyed_sym_path_matches_unkeyed(spark, monkeypatch):
    """Past the one-task edge threshold, the superstep loop re-keys
    connected_components' symmetric edge checkpoint on the
    propagation key (removing an edge-sized exchange per round);
    labels must be identical either way. Force the keyed path by
    dropping the threshold to 0."""
    from cricket_analytics_nosql_spark.operators import dedup as D
    from cricket_analytics_nosql_spark.operators import graph as G

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (10, 11), (11, 12), (3, 5)],
        "d1 long, d2 long",
    )
    base = sorted(map(tuple, D.connected_components(pairs).collect()))
    monkeypatch.setattr(G, "ROWS_PER_TASK", 0)
    keyed = sorted(map(tuple, D.connected_components(pairs).collect()))
    assert keyed == base
    assert base == [
        (1, 1), (2, 1), (3, 1), (5, 1),
        (7, 7), (9, 7), (10, 10), (11, 10), (12, 10),
    ]


def test_cc_loop_rejects_nonpositive_budget(spark):
    from cricket_analytics_nosql_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame([(1, 2)], "d1 long, d2 long")
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(pairs, max_iter=0)


def test_ivf_topk_contract_errors(spark, sf_small):
    emb = S._doubles(load_table(spark, sf_small, "embeddings"))
    with pytest.raises(ValueError, match="query_rows requires"):
        S.ivf_topk(emb, query_rows=[(0, [1.0] * 64)])
    with pytest.raises(ValueError, match="queries or query_rows"):
        S.ivf_topk(emb)


def test_ivf_topk_zero_norm_centroid_matches_dataframe_path(spark, sf_small):
    """A zero-norm centroid must not crash the driver-side probe
    ranking (ADVICE r10: it raised ZeroDivisionError). The ranking
    mirrors NON-ANSI SQL division (NaN/±Inf ordering, NaN first
    under desc) — under Spark 4's default ANSI mode the DataFrame
    path raises DIVIDE_BY_ZERO on the same degenerate input, so the
    cross-path equality is pinned with ANSI off."""
    emb = S._doubles(load_table(spark, sf_small, "embeddings"))
    # small non-zero centroids so real vectors do beat the zero
    # cell's constant score 0 in the argmin (score 0.01 − 0.2·v_i)
    cents = [
        (1, [0.0] * 64),
        (2, [0.1] + [0.0] * 63),
        (3, [0.0, 0.1] + [0.0] * 62),
    ]
    q_rows = sorted(
        (r["vec_id"], list(r["v"]))
        for r in emb.filter(F.col("vec_id") < 2).collect()
    )
    fast = S.ivf_topk(
        emb, centroid_rows=cents, query_rows=q_rows, nprobe=2, k=5
    )
    fast_rows = sorted(map(tuple, fast.collect()))
    assert fast_rows  # the driver path ranks and probes, no crash
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        queries = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("q")
        )
        slow = S.ivf_topk(emb, queries, centroid_rows=cents, nprobe=2, k=5)
        assert fast_rows == sorted(map(tuple, slow.collect()))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_probe_key_total_order_matches_spark_desc():
    """The driver-side probe key must reproduce Spark's DESCENDING
    cosine order as a total order: NaN first (Spark sorts NaN
    greater than everything), finite scores descending, NULLs
    (non-ANSI division by zero) last — and the key must never itself
    be NaN, which would make Python's sort position-dependent."""
    keys = {
        "nan": S._probe_key(float("nan"), 2.0),
        "null_a": S._probe_key(0.0, 0.0),
        "null_b": S._probe_key(5.0, 0.0),
        "hi": S._probe_key(4.0, 2.0),
        "lo": S._probe_key(-4.0, 2.0),
    }
    for k in keys.values():  # total order: no NaN components
        assert k == k and not (k < k)
    order = sorted(keys, key=lambda n: keys[n])
    assert order[0] == "nan"
    assert order[1:3] == ["hi", "lo"]
    assert set(order[3:]) == {"null_a", "null_b"}
