"""Semantic tests for the round-8 operators (the oracle-parity gate
in test_oracle_parity.py binds their values; these pin the CLAIMS
each operator makes beyond value equality)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F


def test_edit_distance_pairs_are_verified_and_canonical(spark, sf_small):
    """Every emitted pair must be d1<d2, within the edit budget, and
    the blocking must be lossless: the same pairs fall out of a
    brute-force same-lang scan in DuckDB."""
    import duckdb

    from cricket_analytics_nosql_spark.operators.dedup import (
        EDIT_DIST_MAX,
        dedup_edit_distance,
    )

    got = {
        (r.d1, r.d2): r.dist
        for r in dedup_edit_distance(spark, sf_small).collect()
    }
    assert got, "corpus should contain planted small-edit pairs"
    assert all(d1 < d2 for d1, d2 in got)
    assert all(0 <= d <= EDIT_DIST_MAX for d in got.values())
    con = duckdb.connect()
    # same ORDER BY dist, d1, d2 LIMIT 100 as the operator (ADVICE
    # r8): on a corpus with >100 qualifying pairs a bare brute-force
    # set would spuriously exceed the operator's bounded output
    brute = {
        (a, b): d
        for a, b, d in con.execute(
            "SELECT * FROM ("
            " SELECT a.doc_id AS d1, b.doc_id AS d2,"
            "        levenshtein(a.text, b.text) AS dist"
            f" FROM '{sf_small}/documents.parquet' a"
            f" JOIN '{sf_small}/documents.parquet' b"
            "   ON a.lang = b.lang AND a.doc_id < b.doc_id"
            f" WHERE levenshtein(a.text, b.text) <= {EDIT_DIST_MAX}"
            ") ORDER BY dist, d1, d2 LIMIT 100"
        ).fetchall()
    }
    assert got == brute, "length-band blocking lost or invented pairs"


def test_scc_labels_are_consistent_components(spark, sf_small):
    """Component labels must be the min member, sizes must match the
    label groups, every nation must appear exactly once, and each
    multi-member SCC must be mutually reachable in the dominance
    digraph (checked by replaying reachability in Python)."""
    from cricket_analytics_nosql_spark.operators.graph import (
        scc_dominance_nations,
    )

    rows = scc_dominance_nations(spark, sf_small).collect()
    assert len(rows) == 25 and len({r.nationkey for r in rows}) == 25
    groups = defaultdict(list)
    for r in rows:
        groups[r.scc_id].append(r)
    for scc_id, members in groups.items():
        assert min(m.nationkey for m in members) == scc_id
        assert all(m.scc_size == len(members) for m in members)


def test_scc_matches_python_tarjan(spark, sf_small):
    """The doubling-closure SCC must equal a textbook Python SCC on
    the same dominance edge set."""
    import duckdb

    from cricket_analytics_nosql_spark.operators.graph import (
        scc_dominance_nations,
    )

    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "supplier"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_small}/{t}.parquet'"
        )
    edges = con.execute(
        """
        WITH w AS (
          SELECT c.c_nationkey AS a, s.s_nationkey AS b, COUNT(*) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2)
        SELECT x.a, x.b FROM w x LEFT JOIN w r
          ON x.a = r.b AND x.b = r.a
        WHERE x.w > COALESCE(r.w, 0)
        """
    ).fetchall()
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)

    # iterative Tarjan-free SCC: mutual reachability by BFS closure
    def reach(s):
        seen, stack = set(), [s]
        while stack:
            u = stack.pop()
            for v in adj[u]:
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        return seen

    fwd = {n: reach(n) for n in range(25)}
    want = {}
    for n in range(25):
        mutual = {m for m in fwd[n] if n in fwd[m]}
        want[n] = min(mutual | {n})
    got = {
        r.nationkey: r.scc_id
        for r in scc_dominance_nations(spark, sf_small).collect()
    }
    assert got == want


def test_bm25_maxscore_is_admissible_and_prunes(spark, sf_small):
    r = __import__(
        "cricket_analytics_nosql_spark.operators.text", fromlist=["x"]
    ).bm25_maxscore_prune(spark, sf_small).collect()[0]
    assert r.topk_covered, "MaxScore bound lost a top-k member"
    assert 0 < r.n_candidates <= r.n_scored
    assert r.pruned_pct > 0, "bound should prune some posting mass"


def test_unrolled_expr_fast_path_is_bit_identical(spark):
    """The unrolled fixed-dim kernel must produce the SAME doubles as
    the generic ``dot``/``cosine`` folds — same element order, same
    fold, same IEEE result — on adversarial values (subnormals,
    huge/tiny magnitude mixes, negatives): ``dot_unrolled`` against
    ``dot``, and ``cos6`` over ``vnorm`` columns against
    ``round(cosine, 6)``."""
    import random

    from cricket_analytics_nosql_spark.operators.similarity import (
        cos6,
        cosine,
        dot,
        dot_unrolled,
        vnorm,
    )

    rng = random.Random(8)
    dim = 16
    rows = [
        (
            [rng.uniform(-1e3, 1e3) * 10 ** rng.randint(-12, 12) for _ in range(dim)],
            [rng.uniform(-1e3, 1e3) * 10 ** rng.randint(-12, 12) for _ in range(dim)],
        )
        for _ in range(50)
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = (
        df.withColumn("an", vnorm("a", dim))
        .withColumn("bn", vnorm("b", dim))
        .select(
            dot_unrolled("a", "b", dim).alias("d_u"),
            dot(F.col("a"), F.col("b")).alias("d_f"),
            cos6("a", "an", "b", "bn", dim).alias("c_u"),
            F.round(cosine(F.col("a"), F.col("b")), 6).alias("c_f"),
        )
        .collect()
    )
    for r in got:
        assert r.d_u == r.d_f  # exact equality, not approx
        assert r.c_u == r.c_f


def test_mutual_knn_is_symmetric_subset(spark, sf_small):
    """Every mutual pair must appear in the directed kNN edge list
    in BOTH directions with the reported ranks."""
    from cricket_analytics_nosql_spark.operators.similarity import (
        KNN_K,
        knn_graph_edges,
        mutual_knn_pairs,
    )

    edges = {
        (r.vec_id, r.neighbor_id): r.rank
        for r in knn_graph_edges(spark, sf_small).collect()
    }
    pairs = mutual_knn_pairs(spark, sf_small).collect()
    assert pairs
    for p in pairs:
        assert p.v1 < p.v2
        assert 1 <= p.rank_fwd <= KNN_K and 1 <= p.rank_rev <= KNN_K
        assert edges[(p.v1, p.v2)] == p.rank_fwd
        assert edges[(p.v2, p.v1)] == p.rank_rev
