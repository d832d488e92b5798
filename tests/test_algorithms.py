"""Round-3-late additions: bounded Bellman-Ford SSSP, synchronous
label propagation, CEP journey patterns, Poisson bootstrap, feature
hashing.  The two graph algorithms are checked against tiny
hand-checkable Python reference implementations (the same discipline
as the PageRank goldens, SURVEY.md §5.4); the catalog bindings are
additionally oracle-checked end-to-end by tools/parity.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.operators.graph import (
    label_propagation,
    sssp,
)
from cricket_analytics_nosql_spark.operators.sampling import (
    BOOT_B,
    _POISSON1_CDF_U32,
    bootstrap_order_value,
)
from cricket_analytics_nosql_spark.operators.sequences import (
    journey_pattern_counts,
)
from cricket_analytics_nosql_spark.operators.text import (
    FEATURE_BUCKETS,
    feature_hash_bucket,
)


def _edges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, cost long")


def _ref_sssp(edges, source, rounds):
    """Reference bounded Bellman-Ford over a Python dict."""
    dist = {source: 0}
    for _ in range(rounds):
        nxt = dict(dist)
        for s, d, c in edges:
            if s in dist and dist[s] + c < nxt.get(d, float("inf")):
                nxt[d] = dist[s] + c
        dist = nxt
    return dist


def _ref_lpa(edges, rounds):
    """Reference synchronous LPA: mode of in-neighbour labels,
    min-label tie-break, carry-forward when no in-neighbours."""
    verts = {v for e in edges for v in e[:2]}
    lab = {v: v for v in verts}
    for _ in range(rounds):
        nxt = {}
        for v in verts:
            counts: dict[int, int] = {}
            for s, d, _c in edges:
                if d == v:
                    counts[lab[s]] = counts.get(lab[s], 0) + 1
            if counts:
                best = max(counts.values())
                nxt[v] = min(l for l, c in counts.items() if c == best)
            else:
                nxt[v] = lab[v]
        lab = nxt
    return lab


# ---------------------------------------------------------------------------
# SSSP
# ---------------------------------------------------------------------------

DIAMOND = [
    (0, 1, 5),
    (1, 2, 1),
    (2, 3, 1),
    (0, 3, 10),  # direct but expensive
]


def test_sssp_matches_reference_bounded_semantics(spark):
    src = spark.createDataFrame([(0, 0)], "id long, cost long")
    for rounds in (1, 2, 3):
        got = {
            r.id: r.cost
            for r in sssp(_edges(spark, DIAMOND), src, rounds=rounds).collect()
        }
        assert got == _ref_sssp(DIAMOND, 0, rounds), f"rounds={rounds}"


def test_sssp_bounded_round_contract(spark):
    """The 3-edge path (cost 7) beats the direct edge (cost 10) only
    once enough relaxation rounds have run — the bounded contract the
    recursive-CTE oracle replays."""
    src = spark.createDataFrame([(0, 0)], "id long, cost long")
    e = _edges(spark, DIAMOND)
    one = {r.id: r.cost for r in sssp(e, src, rounds=1).collect()}
    three = {r.id: r.cost for r in sssp(e, src, rounds=3).collect()}
    assert one[3] == 10
    assert three[3] == 7


def test_sssp_unreachable_absent(spark):
    iso = DIAMOND + [(7, 8, 1)]  # component not reachable from 0
    src = spark.createDataFrame([(0, 0)], "id long, cost long")
    got = {r.id: r.cost for r in sssp(_edges(spark, iso), src, rounds=3).collect()}
    assert 7 not in got and 8 not in got


# ---------------------------------------------------------------------------
# Label propagation
# ---------------------------------------------------------------------------

def _undirected(pairs):
    out = []
    for a, b in pairs:
        out.append((a, b, 1))
        out.append((b, a, 1))
    return out


def test_lpa_matches_reference_two_triangles(spark):
    """Two triangles bridged by one edge — the classic community
    shape; synchronous rounds checked one by one against the
    reference implementation."""
    pairs = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edges = _undirected(pairs)
    e = _edges(spark, edges)
    for rounds in (1, 2, 3):
        got = {
            r.id: r.lab
            for r in label_propagation(e, rounds=rounds).collect()
        }
        assert got == _ref_lpa(edges, rounds), f"rounds={rounds}"


def test_lpa_keeps_label_without_in_neighbours(spark):
    """Directed edge 1→2 only: vertex 1 has no in-neighbours and
    must keep its own label (the coalesce carry-forward)."""
    e = _edges(spark, [(1, 2, 1)])
    got = {r.id: r.lab for r in label_propagation(e, rounds=2).collect()}
    assert got[1] == 1
    assert got[2] == 1  # adopts 1's label


# ---------------------------------------------------------------------------
# CEP journey patterns
# ---------------------------------------------------------------------------

def test_cep_journey_counts_hand_checked(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # u1: S V P  → converted + clean (no E between)
    # u2: S E P  → converted + recovered, NOT clean
    # u3: E E    → rage
    # u4: V      → bounce
    seq = {
        1: ["signup", "view", "purchase"],
        2: ["signup", "error", "purchase"],
        3: ["error", "error"],
        4: ["view"],
    }
    eid = 0
    for u, types in seq.items():
        for i, et in enumerate(types):
            rows.append((u, t0 + dt.timedelta(minutes=i), eid, et))
            eid += 1
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = journey_pattern_counts(ev).collect()[0].asDict()
    assert got == {
        "n_users": 4,
        "n_converted": 2,
        "n_clean_converted": 1,
        "n_recovered": 1,
        "n_rage_errors": 1,
        "n_bounced": 1,
    }


def test_cep_order_is_timestamp_not_arrival(spark):
    """Rows arrive purchase-first; the journey must still read S→P
    because ordering is (ts, event_id), not input order."""
    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(minutes=9), 1, "purchase"),
            (1, t0, 0, "signup"),
        ],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    got = journey_pattern_counts(ev).collect()[0]
    assert got.n_converted == 1 and got.n_clean_converted == 1


# ---------------------------------------------------------------------------
# Poisson bootstrap
# ---------------------------------------------------------------------------

def test_poisson_thresholds_are_the_poisson1_cdf():
    import math

    acc, term = 0.0, math.exp(-1.0)
    for k, t in enumerate(_POISSON1_CDF_U32):
        acc += term
        assert t == min(int(acc * 4294967296.0), 4294967295)
        term /= k + 1
    assert len(_POISSON1_CDF_U32) == 8


def test_bootstrap_replicates_shape_and_exactness(spark, sf_small):
    out = bootstrap_order_value(spark, sf_small).collect()
    assert [r.replicate for r in out] == list(range(BOOT_B))
    import duckdb

    n = (
        duckdb.connect()
        .execute(
            f"SELECT COUNT(*) FROM '{sf_small}/orders.parquet'"
        )
        .fetchone()[0]
    )
    for r in out:
        # Poisson(1) multiplicities: E[n_eff] = n, sd = sqrt(n) — a
        # 6-sigma band is deterministic-data-safe
        assert abs(r.n_eff - n) < 6 * n**0.5
        # the mean is exactly total/n_eff/100 — no hidden float path
        assert r.mean_value == r.total_cents / r.n_eff / 100.0


def test_bootstrap_is_deterministic(spark, sf_small):
    a = bootstrap_order_value(spark, sf_small).collect()
    b = bootstrap_order_value(spark, sf_small).collect()
    assert a == b


# ---------------------------------------------------------------------------
# Feature hashing
# ---------------------------------------------------------------------------

def test_feature_hash_bucket_range_and_determinism(spark):
    toks = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("alpha",)], "token string"
    )
    got = toks.select(
        feature_hash_bucket(F.col("token")).alias("b")
    ).collect()
    assert all(0 <= r.b < FEATURE_BUCKETS for r in got)
    by_tok = toks.distinct().select(
        "token", feature_hash_bucket(F.col("token")).alias("b")
    ).collect()
    again = {
        r.token: r.b
        for r in toks.distinct()
        .select("token", feature_hash_bucket(F.col("token")).alias("b"))
        .collect()
    }
    for r in by_tok:
        assert again[r.token] == r.b


# ---------------------------------------------------------------------------
# Prefix-filtered Jaccard (lossless candidate generation)
# ---------------------------------------------------------------------------

def test_prefix_filter_is_lossless_vs_full_index(spark, sf_small):
    from cricket_analytics_nosql_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    full = {
        (r.d1, r.d2, r.jaccard) for r in jaccard_pairs(docs, 0.8).collect()
    }
    pref = {
        (r.d1, r.d2, r.jaccard)
        for r in jaccard_pairs_prefix(docs, 4, 5).collect()
    }
    assert full, "fixture should contain near-dup pairs"
    assert pref == full


def test_prefix_filter_adversarial_shared_common_shingles(spark):
    """Docs sharing only UBIQUITOUS shingles (below τ) must not pair;
    a true near-dup pair must survive even though its distinguishing
    shingles are rare (i.e. exactly the ones the prefix keeps)."""
    from cricket_analytics_nosql_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
    )

    common = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, common + " one two three four five six seven eight"),
            (2, common + " nine ten eleven twelve thirteen fourteen fifteen sixteen"),
            (3, common + " one two three four five six seven nine"),
            (4, common + " one two three four five six seven nine"),
        ],
        "doc_id long, text string",
    )
    full = {
        (r.d1, r.d2) for r in jaccard_pairs(docs, 0.8).collect()
    }
    pref = {
        (r.d1, r.d2) for r in jaccard_pairs_prefix(docs, 4, 5).collect()
    }
    assert pref == full
    assert (3, 4) in pref  # the exact-dup pair survives the prefix cut


# ---------------------------------------------------------------------------
# Gap fill + linear interpolation
# ---------------------------------------------------------------------------

def test_interpolation_hand_checked(spark):
    from cricket_analytics_nosql_spark.operators.sequences import (
        interpolate_missing_days,
    )

    daily = spark.createDataFrame(
        # user 1: observed days 0 and 3 (10.00 → 40.00): days 1, 2
        # interpolate to 20.00, 30.00. user 2: no gaps → no rows.
        [(1, 0, 1000), (1, 3, 4000), (2, 5, 500), (2, 6, 700)],
        "user_id long, day long, c long",
    )
    got = {
        (r.user_id, r.day): r.value
        for r in interpolate_missing_days(daily).collect()
    }
    assert got == {(1, 1): 20.0, (1, 2): 30.0}


def test_interpolation_uneven_gap(spark):
    from cricket_analytics_nosql_spark.operators.sequences import (
        interpolate_missing_days,
    )

    daily = spark.createDataFrame(
        [(7, 10, 0), (7, 14, 1000)],  # 0.00 → 10.00 over 4 days
        "user_id long, day long, c long",
    )
    got = {
        r.day: r.value for r in interpolate_missing_days(daily).collect()
    }
    assert got == {11: 2.5, 12: 5.0, 13: 7.5}


# ---------------------------------------------------------------------------
# Local clustering coefficient
# ---------------------------------------------------------------------------

def test_local_clustering_hand_checked(spark):
    """Square 1-2-3-4 with diagonal 1-3: triangles {1,2,3}, {1,3,4}.
    c(1)=c(3)=2·2/(3·2)=2/3; c(2)=c(4)=2·1/(2·1)=1."""
    from cricket_analytics_nosql_spark.operators.graph import local_clustering

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)], "va long, vb long"
    )
    got = {
        r.v: (r.t, r.d, r.clustering_micro)
        for r in local_clustering(e).collect()
    }
    assert got == {
        1: (2, 3, 666666),
        2: (1, 2, 1000000),
        3: (2, 3, 666666),
        4: (1, 2, 1000000),
    }


def test_local_clustering_triangle_free_graph_empty(spark):
    from cricket_analytics_nosql_spark.operators.graph import local_clustering

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "va long, vb long")
    assert local_clustering(e).count() == 0


# ---------------------------------------------------------------------------
# Embedding covariance (integer-exact Gram aggregation)
# ---------------------------------------------------------------------------

def test_embedding_covariance_matches_numpy(spark, sf_small):
    """cov_num = n²·cov(i,j) on the quantized coordinates — check a
    handful of top cells against a dense numpy computation."""
    import numpy as np

    from cricket_analytics_nosql_spark.operators.similarity import (
        COV_SCALE,
        embedding_covariance_topk,
    )

    rows = (
        spark.read.parquet(f"{sf_small}/embeddings.parquet")
        .select("embedding")
        .collect()
    )
    m = np.floor(
        np.array([r.embedding for r in rows], dtype=np.float64) * COV_SCALE
        + 0.5
    ).astype(np.int64)
    n = m.shape[0]
    got = embedding_covariance_topk(spark, sf_small).collect()
    assert len(got) == 25
    for r in got[:5]:
        i, j = r.i - 1, r.j - 1
        expected = n * int(m[:, i] @ m[:, j]) - int(m[:, i].sum()) * int(
            m[:, j].sum()
        )
        assert r.cov_num == expected


def test_wcc_min_label_matches_union_find(spark):
    """Fixed-round min-label WCC vs an independent union-find on the
    same small graph: after rounds ≥ diameter the labels ARE the
    components (min vertex id per component)."""
    from cricket_analytics_nosql_spark.operators.graph import (
        min_label_propagation,
    )

    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    e = _edges(spark, _undirected(pairs))
    got = {
        r.id: r.lab
        for r in min_label_propagation(e, rounds=4).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    assert got == want


def test_wcc_label_converges_not_before_radius(spark):
    """A path graph needs rounds ≥ distance-to-min to converge: the
    bounded-round contract is real, not a fixpoint in disguise."""
    from cricket_analytics_nosql_spark.operators.graph import (
        min_label_propagation,
    )

    path = _edges(spark, _undirected([(1, 2), (2, 3), (3, 4), (4, 5)]))
    after2 = {
        r.id: r.lab for r in min_label_propagation(path, rounds=2).collect()
    }
    assert after2[5] == 3  # min label is still 2 hops away
    after4 = {
        r.id: r.lab for r in min_label_propagation(path, rounds=4).collect()
    }
    assert set(after4.values()) == {1}


def test_mann_whitney_hand_checked(spark, sf_small, monkeypatch):
    """U on a hand-checkable instance: identity U_A + U_B = n_a·n_b
    holds on the real data, and the doubled-rank arithmetic matches
    a pure-Python rank computation on the same cohort extract."""
    from cricket_analytics_nosql_spark.operators.drift import (
        KS_GROUP_A,
        KS_GROUP_B,
        mann_whitney_drift,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    row = mann_whitney_drift(spark, sf_small).collect()[0]

    vals = [
        (int(round(r.o_totalprice * 100)) // 100, r.o_orderpriority)
        for r in load_table(spark, sf_small, "orders")
        .select("o_totalprice", "o_orderpriority")
        .collect()
        if r.o_orderpriority in (KS_GROUP_A, KS_GROUP_B)
    ]
    ranked = sorted(vals)
    # average ranks with ties, pure Python
    ra = 0.0
    i = 0
    while i < len(ranked):
        j = i
        while j < len(ranked) and ranked[j][0] == ranked[i][0]:
            j += 1
        avg_rank = (i + 1 + j) / 2.0  # mean of ranks i+1..j
        ra += avg_rank * sum(1 for k in range(i, j) if ranked[k][1] == KS_GROUP_A)
        i = j
    n_a = sum(1 for _, p in vals if p == KS_GROUP_A)
    n_b = len(vals) - n_a
    u_a = ra - n_a * (n_a + 1) / 2.0
    assert row.n_a == n_a and row.n_b == n_b
    assert row.u_stat == u_a


def test_spearman_exact_on_monotone_and_ties(spark, monkeypatch):
    """ρ = +1 on a strictly increasing map, and matches the
    tie-aware closed form on a small handmade case."""
    from cricket_analytics_nosql_spark.operators import drift as drift_mod

    def fake_load(spark_, sf_dir, name):
        assert name == "lineitem"
        rows = [(float(x), float(x * 2)) for x in range(1, 11)]
        return spark_.createDataFrame(
            rows, "l_extendedprice double, l_quantity double"
        )

    monkeypatch.setattr(drift_mod, "load_table", fake_load)
    row = drift_mod.spearman_price_qty(spark, "ignored").collect()[0]
    assert row.spearman_rho == 1.0


def test_dsir_target_tokens_score_positive(spark, monkeypatch):
    """A doc made of target-exclusive tokens must outweigh a doc of
    corpus-common tokens — the defining DSIR property."""
    from cricket_analytics_nosql_spark.operators import text as text_mod

    def fake_load(spark_, sf_dir, name):
        assert name == "documents"
        rows = [
            (0, "alpha beta alpha beta", "en", "src0", 20),
            (1, "alpha beta gamma", "en", "src0", 16),
            (2, "delta epsilon delta", "en", "src1", 18),
            (3, "alpha beta delta", "en", "src1", 16),
        ]
        return spark_.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )

    monkeypatch.setattr(text_mod, "load_table", fake_load)
    got = {
        r.doc_id: r.dsir_weight_nats
        for r in text_mod.dsir_importance_weights(spark, "ignored").collect()
    }
    # target-vocab doc 3 (mixed) must beat pure-off-target doc 2,
    # and the pure target-vocab docs must rank above both
    assert got[0] > got[3] > got[2]


def test_waterfill_hand_checked(spark, monkeypatch):
    """Water line on a hand-solvable instance: n=[10,20,100],
    B=65 → small sources keep all, the big one clips to 35 and the
    budget is filled exactly."""
    from cricket_analytics_nosql_spark.operators import training as tr

    def fake_load(spark_, sf_dir, name):
        assert name == "documents"
        rows = []
        did = 0
        for src, n in (("a", 10), ("b", 20), ("c", 100)):
            rows.append((did, " ".join(["t"] * n), "en", src, n))
            did += 1
        return spark_.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )

    monkeypatch.setattr(tr, "load_table", fake_load)
    got = {r.source: r for r in tr.mixture_budget_waterfill(spark, "x").collect()}
    assert got["a"].alloc_tokens == 10 and not got["a"].clipped
    assert got["b"].alloc_tokens == 20 and not got["b"].clipped
    assert got["c"].alloc_tokens == 35 and got["c"].clipped
    assert got["a"].budget == 65


def test_waterfill_budget_never_exceeded(spark, sf_small):
    """Σalloc ≤ B with slack < |sources| (floor residue), and no
    un-clipped source may exceed a clipped one's cap."""
    from cricket_analytics_nosql_spark.operators.training import (
        mixture_budget_waterfill,
    )

    rows = mixture_budget_waterfill(spark, sf_small).collect()
    total_alloc = sum(r.alloc_tokens for r in rows)
    budget = rows[0].budget
    assert total_alloc <= budget
    assert budget - total_alloc < len(rows)
    caps = [r.alloc_tokens for r in rows if r.clipped]
    if caps:
        cap = caps[0]
        assert all(c == cap for c in caps)  # ONE shared water line
        assert all(r.alloc_tokens <= cap for r in rows)


def test_temporal_reach_respects_time(spark, monkeypatch):
    """Edges only transmit forward in time: on a 3-customer /
    1-supplier toy, the earliest adopter influences both later ones,
    the middle one influences one, the last none."""
    from cricket_analytics_nosql_spark.operators import graph as g

    # first-trade days: c3 @ 5, c1 @ 10, c2 @ 20 — all via supplier 5
    import datetime as dt

    orders, lineitem = [], []
    ok = 0
    for cust, day in ((1, 10), (2, 20), (3, 5)):
        for rep in range(3):  # >= 3 line items → strong pair
            orders.append((ok, cust, dt.date(1970, 1, 1 + day)))
            lineitem.append((ok, 5))
            ok += 1

    def fake_load(spark_, sf_dir, name):
        if name == "orders":
            return spark_.createDataFrame(
                orders, "o_orderkey long, o_custkey long, o_orderdate date"
            )
        assert name == "lineitem"
        return spark_.createDataFrame(lineitem, "l_orderkey long, l_suppkey long")

    monkeypatch.setattr(g, "load_table", fake_load)
    got = {r.custkey: r for r in g.temporal_reach_2hop(spark, "x").collect()}
    assert set(got) == {1, 3}
    assert got[3].n_influenced == 2
    assert got[3].median_relay_days == 10.0  # gaps 5 and 15
    assert got[1].n_influenced == 1
    assert got[1].median_relay_days == 10.0


def test_qte_deciles_monotone_and_median_exact(spark, sf_small):
    """Each cohort's decile curve must be nondecreasing, and decile
    5 must equal the type-1 median computed in pure Python."""
    from cricket_analytics_nosql_spark.operators.drift import (
        KS_GROUP_A,
        quantile_treatment_effect,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    rows = quantile_treatment_effect(spark, sf_small).collect()
    assert [r.decile for r in rows] == list(range(1, 10))
    for col in ("q_a", "q_b"):
        vals = [getattr(r, col) for r in rows]
        assert vals == sorted(vals), col

    a = sorted(
        int(round(r.o_totalprice * 100)) // 100
        for r in load_table(spark, sf_small, "orders").collect()
        if r.o_orderpriority == KS_GROUP_A
    )
    n = len(a)
    want_median = a[-(-5 * n // 10) - 1]  # value at rank ceil(n/2), 1-based
    assert rows[4].q_a == want_median


def test_sax_motifs_hand_checked(spark, monkeypatch):
    """Quartile symbols and 3-day words on a handmade series: 8 days
    of revenue 1..8 → symbols aabbccdd → words aab abb bbc bcc ccd
    cdd (6 = n−2 windows, all distinct)."""
    import datetime as dt

    from cricket_analytics_nosql_spark.operators import drift as dr

    def fake_load(spark_, sf_dir, name):
        assert name == "orders"
        rows = [
            (i, float(i + 1), dt.date(1970, 1, 1 + i), "x")
            for i in range(8)
        ]
        return spark_.createDataFrame(
            rows,
            "o_orderkey long, o_totalprice double, o_orderdate date, o_orderpriority string",
        )

    monkeypatch.setattr(dr, "load_table", fake_load)
    got = {r.motif: r.n_windows for r in dr.sax_revenue_motifs(spark, "x").collect()}
    # revenue 1..8, quartile breakpoints (type-1, ceil(k*8/4)=2k):
    # q1=2, q2=4, q3=6 → symbols: 1,2→a 3,4→b 5,6→c 7,8→d
    assert got == {m: 1 for m in ("aab", "abb", "bbc", "bcc", "ccd", "cdd")}


def test_vocab_coverage_hand_checked(spark, monkeypatch):
    """Hand-solved curve: counts 6,3,1 (total 10) → 50% needs 1
    term, 90% needs 2, 99%/99.9% need all 3."""
    from cricket_analytics_nosql_spark.operators import text as tx

    def fake_load(spark_, sf_dir, name):
        assert name == "documents"
        text = " ".join(["x"] * 6 + ["y"] * 3 + ["z"])
        return spark_.createDataFrame(
            [(0, text, "en", "s", len(text))],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    monkeypatch.setattr(tx, "load_table", fake_load)
    got = {
        r.coverage_pct: r.vocab_size
        for r in tx.vocab_coverage_curve(spark, "x").collect()
    }
    assert got == {50.0: 1, 90.0: 2, 99.0: 3, 99.9: 3}


def test_theil_sen_hand_checked_and_robust(spark, monkeypatch):
    """On y = 10x with one wild outlier day, the median pairwise
    slope stays exactly 10 (OLS would not)."""
    import datetime as dt

    from cricket_analytics_nosql_spark.operators import drift as dr

    def fake_load(spark_, sf_dir, name):
        assert name == "orders"
        rows = []
        for i in range(9):
            v = 10.0 * i if i != 4 else 10_000.0  # day 4 is corrupted
            rows.append((i, v, dt.date(1970, 1, 1 + i), "x"))
        return spark_.createDataFrame(
            rows,
            "o_orderkey long, o_totalprice double, o_orderdate date, o_orderpriority string",
        )

    monkeypatch.setattr(dr, "load_table", fake_load)
    row = dr.theil_sen_trend(spark, "x").collect()[0]
    assert row.n_pairs == 36
    assert row.slope_cents_per_day == 1000.0  # 10 dollars = 1000 cents/day


def test_conformal_guarantee_on_real_series(spark, sf_small):
    """Split-conformal marginal-coverage guarantee: realized
    coverage on the held-out half must be ≥ 1 − α − slack where the
    finite-sample slack is 1/(n_cal+1) plus exchangeability noise —
    checked loosely (≥ 0.8 for α=0.1) plus the exact identity that
    q_hat is the ceil((n+1)(1−α))-th smallest calibration residual."""
    from cricket_analytics_nosql_spark.operators.drift import (
        conformal_forecast_interval,
    )

    row = conformal_forecast_interval(spark, sf_small).collect()[0]
    assert row.n_cal > 0 and row.n_eval > 0
    assert row.realized_coverage >= 0.8
    assert row.q_hat_dollars >= 0


def test_pmi_ranks_association_not_frequency(spark, monkeypatch):
    """A pair that ALWAYS co-occurs must out-rank a stopword pair
    that co-occurs often but independently."""
    from cricket_analytics_nosql_spark.operators import text as tx

    # 'rare gem' always adjacent (5×); 'the the' frequent but the
    # halves also occur apart everywhere
    docs = []
    for i in range(5):
        docs.append((i, "rare gem the the x" + str(i) + " the", "en", "s", 20))
    for i in range(5, 10):
        docs.append((i, "the y" + str(i) + " the z the", "en", "s", 20))

    def fake_load(spark_, sf_dir, name):
        assert name == "documents"
        return spark_.createDataFrame(
            docs,
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    monkeypatch.setattr(tx, "load_table", fake_load)
    rows = tx.pmi_top_pairs(spark, "x").collect()
    got = [(r.w1, r.w2) for r in rows]
    assert ("rare", "gem") in got
    idx_rare = got.index(("rare", "gem"))
    if ("the", "the") in got:
        assert idx_rare < got.index(("the", "the"))


def test_ols_matches_numpy_lstsq(spark, sf_small):
    """The one-pass normal-equation solve must agree with numpy's
    QR-based lstsq on the same rows (1e-6 relative), and R^2 must be
    in [0, 1]."""
    import numpy as np

    from cricket_analytics_nosql_spark.operators.analytics import (
        ols_price_model,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    row = ols_price_model(spark, sf_small).collect()[0]
    li = (
        load_table(spark, sf_small, "lineitem")
        .select("l_quantity", "l_discount", "l_extendedprice")
        .toPandas()
    )
    X = np.column_stack(
        [
            np.ones(len(li)),
            li.l_quantity.to_numpy(),
            np.round(li.l_discount.to_numpy() * 1000),
        ]
    )
    y = np.round(li.l_extendedprice.to_numpy() * 100)
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert row.n == len(li)
    for got, want in zip((row.b0_cents, row.b1_cents, row.b2_cents), beta):
        assert abs(got - want) <= 1e-6 * max(1.0, abs(want)), (got, want)
    assert 0.0 <= row.r2 <= 1.0
    resid = y - X @ beta
    r2 = 1.0 - (resid @ resid) / ((y - y.mean()) @ (y - y.mean()))
    assert abs(row.r2 - r2) < 1e-6


def test_skipgram_subsample_and_windows(spark, sf_small):
    """Subsampling is deterministic (rerun-identical), pair counts
    are positive, and every surfaced pair is a real adjacency in
    some document's SUBSAMPLED token sequence."""
    from cricket_analytics_nosql_spark.operators.text import (
        SKIPGRAM_TOPK,
        skipgram_pairs,
    )

    a = skipgram_pairs(spark, sf_small).collect()
    b = skipgram_pairs(spark, sf_small).collect()
    assert a == b
    assert 0 < len(a) <= SKIPGRAM_TOPK
    assert all(r.n_pairs >= 1 for r in a)
    counts = [r.n_pairs for r in a]
    assert counts == sorted(counts, reverse=True)


def test_adamic_adar_hand_check(spark, sf_small):
    """Top pair's AA score must equal the hand-recomputed sum of
    1/ln(deg) over its shared suppliers."""
    import math

    from cricket_analytics_nosql_spark.operators.graph import (
        AA_MIN_WEIGHT,
        adamic_adar_linkpred,
        trade_edges,
    )

    rows = adamic_adar_linkpred(spark, sf_small).collect()
    assert rows and all(r.c1 < r.c2 for r in rows)
    scores = [r.aa_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    e = (
        trade_edges(spark, sf_small)
        .filter(F.col("weight") >= AA_MIN_WEIGHT)
        .select("src", "dst")
        .collect()
    )
    nbrs = {}
    for r in e:
        nbrs.setdefault(r.dst, set()).add(r.src)
    top = rows[0]
    shared = [
        s
        for s, custs in nbrs.items()
        if top.c1 in custs and top.c2 in custs and len(custs) >= 2
    ]
    want = sum(1.0 / math.log(len(nbrs[s])) for s in shared)
    assert top.n_shared == len(shared)
    assert abs(top.aa_score - round(want, 6)) < 1e-9


def test_doremi_upweights_lossiest_source(spark, sf_small):
    """Multiplicative weights must move mass toward the highest-loss
    source and keep a valid distribution (sums to 1)."""
    from cricket_analytics_nosql_spark.operators.training import (
        doremi_mixture_weights,
    )

    rows = doremi_mixture_weights(spark, sf_small).collect()
    assert abs(sum(r.w_final for r in rows) - 1.0) < 1e-4
    top_loss = max(rows, key=lambda r: r.loss)
    assert top_loss.w_final > top_loss.w_uniform
    lo_loss = min(rows, key=lambda r: r.loss)
    assert lo_loss.w_final < lo_loss.w_uniform


def test_range_planner_balances_and_covers(spark, sf_small):
    """Planned partitions cover every row exactly once, are ordered
    by key, and no partition exceeds ~2x the ideal share (orders'
    custkey distribution is near-uniform)."""
    from cricket_analytics_nosql_spark.operators.layout import (
        RANGE_PLAN_PARTS,
        range_partition_planner,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    rows = range_partition_planner(spark, sf_small).collect()
    n = load_table(spark, sf_small, "orders").count()
    assert sum(r.n_rows for r in rows) == n
    assert len(rows) <= RANGE_PLAN_PARTS
    uppers = [r.upper_key for r in rows]
    assert uppers == sorted(uppers)
    assert max(r.skew for r in rows) < 2.0


def test_rbo_hand_recompute(spark, sf_small):
    """RBO must equal a pure-Python recompute from the two ranked
    lists, and sit in [0, 1]."""
    from cricket_analytics_nosql_spark.operators.analytics import (
        RBO_DEPTH,
        RBO_P,
        RBO_SPLIT,
        rbo_rank_stability,
    )
    from cricket_analytics_nosql_spark.functions.scalar import revenue_cents
    from cricket_analytics_nosql_spark.sources.tables import load_table

    row = rbo_rank_stability(spark, sf_small).collect()[0]
    li = load_table(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_partkey", revenue_cents().alias("r")
    )
    orders = load_table(spark, sf_small, "orders").select(
        "o_orderkey",
        (F.col("o_orderdate") >= F.lit(RBO_SPLIT).cast("timestamp_ntz"))
        .cast("int")
        .alias("p"),
    )
    rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("p", "l_partkey")
        .agg(F.sum("r").alias("rev"))
        .collect()
    )
    tops = {}
    for p in (0, 1):
        items = sorted(
            [(r.rev, r.l_partkey) for r in rev if r.p == p],
            key=lambda t: (-t[0], t[1]),
        )[:RBO_DEPTH]
        tops[p] = {pk: i + 1 for i, (_, pk) in enumerate(items)}
    ms = sorted(
        max(ra, tops[1][pk])
        for pk, ra in tops[0].items()
        if pk in tops[1]
    )
    import bisect

    want = sum(
        (1 - RBO_P) * RBO_P ** (d - 1) * bisect.bisect_right(ms, d) / d
        for d in range(1, RBO_DEPTH + 1)
    )
    assert 0.0 <= row.rbo <= 1.0
    assert abs(row.rbo - round(want, 6)) < 1e-9
    assert row.n_common == len(ms)


def test_pit_features_no_future_leakage(spark, sf_small):
    """Every multi-order customer must produce leak disagreements
    (the leaky frame includes the current row), totals must cover all
    orders, and a hand-recomputed prior-revenue for one customer must
    match."""
    from cricket_analytics_nosql_spark.operators.joins import (
        pit_feature_assembly,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    rows = pit_feature_assembly(spark, sf_small).collect()
    orders = load_table(spark, sf_small, "orders")
    assert sum(r.n_rows for r in rows) == orders.count()
    # disagreements == rows with a same-day sibling sorting earlier,
    # recomputed independently
    days = orders.select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    ).collect()
    by_cust = {}
    for r in days:
        by_cust.setdefault(r.o_custkey, []).append((r.d, r.o_orderkey))
    want_disagree = 0
    want_prior = 0
    for lst in by_cust.values():
        lst.sort()
        for i, (d, _) in enumerate(lst):
            strictly_prior_days = sum(1 for dd, _ in lst if dd < d)
            rows_prior = i  # earlier (day, orderkey) pairs
            want_prior += strictly_prior_days
            if rows_prior != strictly_prior_days:
                want_disagree += 1
    assert sum(r.n_leak_disagree for r in rows) == want_disagree
    assert 0 < want_disagree < orders.count()
    assert sum(r.sum_prior_orders for r in rows) == want_prior


def test_kaplan_meier_against_lifelines_style_recompute(spark, sf_small):
    """KM survival must match a pure-Python product-limit recompute
    on the same (time, event) subjects, be monotone non-increasing in
    the horizon, and stay in [0, 1]."""
    import math

    from cricket_analytics_nosql_spark.operators.analytics import (
        KM_HORIZONS,
        kaplan_meier_repeat,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    rows = kaplan_meier_repeat(spark, sf_small).collect()
    assert [r.horizon_days for r in rows] == list(KM_HORIZONS)
    ss = [r.s_no_repeat for r in rows]
    assert all(0.0 <= s <= 1.0 for s in ss)
    assert all(a >= b - 1e-9 for a, b in zip(ss, ss[1:]))
    # recompute subjects
    orders = (
        load_table(spark, sf_small, "orders")
        .select("o_custkey", F.col("o_orderdate").cast("date").alias("d"))
        .collect()
    )
    by_c = {}
    for r in orders:
        by_c.setdefault(r.o_custkey, []).append(r.d)
    dmax = max(r.d for r in orders)
    subjects = []
    for ds in by_c.values():
        ds = sorted(ds)
        if len(ds) >= 2:
            subjects.append(((ds[1] - ds[0]).days, 1))
        else:
            subjects.append(((dmax - ds[0]).days, 0))
    times = sorted({t for t, _ in subjects})
    n = len(subjects)
    surv, out = 1.0, {}
    for t in times:
        d_t = sum(1 for tt, ev in subjects if tt == t and ev)
        c_t = sum(1 for tt, ev in subjects if tt == t and not ev)
        if d_t:
            # micro-nat rounding mirrors the engine (exact parity)
            surv *= math.exp(round(math.log(1 - d_t / n) * 1e6) / 1e6) if d_t < n else 0.0
        n -= d_t + c_t
    # replay cumulatively per horizon
    n = len(subjects)
    cum_micro = 0
    km = {}
    for t in times:
        d_t = sum(1 for tt, ev in subjects if tt == t and ev)
        c_t = sum(1 for tt, ev in subjects if tt == t and not ev)
        if d_t and d_t < n:
            cum_micro += round(math.log(1 - d_t / n) * 1e6)
        elif d_t:
            cum_micro += -100_000_000_000
        km[t] = cum_micro
        n -= d_t + c_t
    for r in rows:
        want_t = max(t for t in times if t <= r.horizon_days)
        assert abs(r.s_no_repeat - round(math.exp(km[want_t] / 1e6), 6)) < 1e-9


def test_sprt_walk_is_exact_and_consistent(spark, sf_small):
    """The LLR walk must equal the closed form from the cumulative
    counts, decisions must match the boundaries, and the walk is
    per-variant monotone in trials (cum_n strictly increasing)."""
    from cricket_analytics_nosql_spark.operators.sequences import (
        SPRT_L0_MICRO,
        SPRT_L1_MICRO,
        SPRT_LOWER_MICRO,
        SPRT_UPPER_MICRO,
        sprt_ab_monitor,
    )

    rows = sprt_ab_monitor(spark, sf_small).collect()
    assert rows
    for r in rows:
        micro = r.cum_k * SPRT_L1_MICRO + (r.cum_n - r.cum_k) * SPRT_L0_MICRO
        assert abs(r.llr - round(micro / 1e6, 6)) < 1e-9
        want = (
            "accept_h1"
            if micro >= SPRT_UPPER_MICRO
            else "accept_h0"
            if micro <= SPRT_LOWER_MICRO
            else "continue"
        )
        assert r.decision == want
    for v in (0, 1):
        ns = [r.cum_n for r in rows if r.variant == v]
        assert ns == sorted(ns) and len(set(ns)) == len(ns)
