"""Round-12 optimization gates.

Equality and plan-shape pins for this round's optimizations:

- The radii-bearing assignment (ONE corpus pass for assignment +
  per-cell radii) must produce cells bit-identical to assign_cells
  in BOTH plan forms, and radii equal to the direct
  join-centroids-then-max computation to well inside the cell-pair
  prune's 1e-6 slack.
- frequent_triples' size-gated basket materialization must not
  change results when forced on.
- lm_surprisal's bounded-broadcast gate (ADVICE r11): the measured
  tier and the shuffle-join fallback must both reproduce the
  broadcast path's rows.
- _concurrent_frames (guide §2.6 overlap used by the ANN audits)
  must preserve order and propagate failures.
- The at-scale branches VERDICT r11 item 6 asked to prove: the
  big-graph pagerank loop round and the keyed CC loop round carry
  only vertex/label-sized exchanges (no edge-sized re-shuffle).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.operators import sequences as SQ
from cricket_analytics_nosql_spark.operators import similarity as S
from cricket_analytics_nosql_spark.operators import text as T
from cricket_analytics_nosql_spark.session import fixed_plan
from cricket_analytics_nosql_spark.sources.tables import load_table


def test_assign_with_radii_matches_assign_cells_and_direct(spark, sf_small):
    emb = S._doubles(load_table(spark, sf_small, "embeddings"))
    rng = random.Random(12)
    cents = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(64)]) for i in range(5)
    ]
    want_cells = sorted(
        map(
            tuple,
            S.assign_cells(emb, cents, 64).select("vec_id", "cell").collect(),
        )
    )
    cfr = S._centroid_frame(spark, cents)
    for lit_max in (10**9, 0):  # literal projection / broadcast row
        assigned, radii, sizes = S._assign_with_radii(
            emb, cents, 64, literal_max=lit_max
        )
        # per-cell sizes come from the same job; they must tally the
        # corpus exactly and agree with a direct groupBy count
        direct_sizes = {
            r["cell"]: r["n"]
            for r in assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert sizes == direct_sizes
        got_cells = sorted(
            map(tuple, assigned.select("vec_id", "cell").collect())
        )
        assert got_cells == want_cells, f"cells diverged at {lit_max}"
        direct = {
            r["cell"]: r["r"]
            for r in (
                assigned.join(F.broadcast(cfr), "cell")
                .select(
                    "cell",
                    F.acos(
                        F.least(
                            F.lit(1.0),
                            F.greatest(
                                F.lit(-1.0),
                                S.cosine(F.col("v"), F.col("centroid")),
                            ),
                        )
                    ).alias("th"),
                )
                .groupBy("cell")
                .agg(F.max("th").alias("r"))
                .collect()
            )
        }
        assert set(radii) == set(direct)
        worst = max(abs(direct[c] - radii[c]) for c in direct)
        # prune slack is 1e-6; the score-recovered angle must sit
        # orders of magnitude inside it
        assert worst < 1e-7, worst


def test_assign_with_radii_empty_codebook(spark, sf_small):
    emb = S._doubles(load_table(spark, sf_small, "embeddings"))
    assigned, radii, sizes = S._assign_with_radii(emb, [], 64)
    assert radii == {} and sizes == {}
    rows = assigned.select("cell").distinct().collect()
    assert [r["cell"] for r in rows] == [None]


def test_frequent_triples_gate_equality(spark, sf_small, monkeypatch):
    """Forcing the basket materialization gate on (as a
    production-sized lineitem scan would) must not change a row."""
    base = sorted(map(tuple, SQ.frequent_triples(spark, sf_small).collect()))
    monkeypatch.setattr(SQ, "_BASKET_CKPT_MIN_INPUT_BYTES", 0)
    gated = sorted(map(tuple, SQ.frequent_triples(spark, sf_small).collect()))
    assert gated == base
    assert len(base) > 0


def test_lm_surprisal_gate_paths_identical(spark, sf_small, monkeypatch):
    """ADVICE r11: the three lm_surprisal tiers — direct broadcast
    (small input), measured-then-broadcast, measured-then-shuffle —
    must produce identical rows."""
    base = sorted(map(tuple, T.lm_surprisal(spark, sf_small).collect()))
    monkeypatch.setattr(T, "_LM_BCAST_MAX_INPUT_BYTES", 0)
    measured = sorted(map(tuple, T.lm_surprisal(spark, sf_small).collect()))
    assert measured == base
    monkeypatch.setattr(T, "_LM_BCAST_MAX_TYPES", 0)
    shuffled = sorted(map(tuple, T.lm_surprisal(spark, sf_small).collect()))
    assert shuffled == base
    assert len(base) > 0


def test_concurrent_frames_order_and_failure(spark):
    a = spark.range(3).localCheckpoint()
    b = spark.range(5).localCheckpoint()
    ra, rb = S._concurrent_frames(lambda: a, lambda: b)
    assert ra.count() == 3 and rb.count() == 5

    def _boom():
        raise RuntimeError("thunk failed")

    with pytest.raises(RuntimeError, match="thunk failed"):
        S._concurrent_frames(lambda: a, _boom)


def test_pagerank_big_graph_loop_round_exchanges_are_vertex_sized(
    spark, sf_small
):
    """VERDICT r11 item 6: past broadcast_max_vertices the link table
    is re-partitioned ONCE on the join key; each loop round may then
    exchange only the vertex-sized w frame (by id, into the
    co-partitioned join) and the post-partial-agg contrib rows (by
    dst) — never the edge list itself."""
    from cricket_analytics_nosql_spark.operators.graph import (
        _pagerank_round,
        trade_graph_edges,
    )

    # shuffle partitions == loop_parts == the links repartition count,
    # so every frame in the loop shares one partitioning scheme
    with fixed_plan(spark, 4):
        edges = trade_graph_edges(spark, sf_small).localCheckpoint()
        out_mass = edges.groupBy("src").agg(
            F.count(F.lit(1)).cast("double").alias("w_out")
        )
        # the big-graph branch: no broadcast anywhere, links keyed by
        # the JOIN key (id) once, outside the loop
        links = (
            edges.join(out_mass, "src")
            .select(
                F.col("src").alias("id"),
                "dst",
                (F.lit(1.0) / F.col("w_out")).alias("p"),
            )
            .repartition(4, F.col("id"))
            .localCheckpoint()
        )
        w = (
            links.select("dst", F.col("p").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("x"))
            .localCheckpoint()
        )
        one_round = _pagerank_round(links, w, Observation(), broadcast=False)
        plan = one_round._jdf.queryExecution().executedPlan().toString()
    # ONE hash exchange in the whole round: the contrib partial-agg
    # rows by dst (vertex-sized). The join is exchange-free — links'
    # checkpoint is keyed by id and w's groupBy(dst) partitioning
    # carries through the dst→id rename — so the edge list never
    # re-shuffles.
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange hashpartitioning(dst#" in plan, plan


def test_cc_keyed_loop_round_exchanges_are_label_sized(spark):
    """VERDICT r11 item 6, CC side: with the symmetric edge list
    checkpointed hash-partitioned on the propagation key src, a
    min-label round (the production ``graph._min_label_step``, after
    ``connected_components``' fused first round) exchanges only
    label-sized frames — the edge list itself never re-shuffles."""
    from cricket_analytics_nosql_spark.operators.dedup import (
        _first_min_label_round,
    )
    from cricket_analytics_nosql_spark.operators.graph import _min_label_step

    # the superstep loop's keyed scope: shuffle partitions ==
    # loop_parts == the sym repartition count
    with fixed_plan(spark, 2):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 9), (3, 5)], "d1 long, d2 long"
        )
        sym = (
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("d1").alias("src"), F.col("d2").alias("dst")
                        ),
                        F.struct(
                            F.col("d2").alias("src"), F.col("d1").alias("dst")
                        ),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .repartition(2, F.col("src"))
            .localCheckpoint()
        )
        labels = _first_min_label_round(sym)
        one_round = _min_label_step(sym, labels, Observation())
        plan = one_round._jdf.queryExecution().executedPlan().toString()
    # ONE hash exchange in the whole round, label-sized: the per-dst
    # minima agg. The join is exchange-free — sym's checkpoint is
    # keyed by src and the labels' id partitioning carries through
    # the id→src rename — so the edge list never re-shuffles, and the
    # label update joins two id-partitioned frames in place.
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange hashpartitioning(dst#" in plan, plan
