"""Unit tests for the Cricsheet ETL kernels against handcrafted
v1.0.0/v1.1.0 drift fixtures (SURVEY.md §5.2, FIXTURES.md §B.1) plus
golden outputs for the reference's analytics queries (§5.3).

Drift variants covered: batter vs striker; non_striker vs nonStriker;
wickets list vs dict vs absent; missing ball; missing runs.total;
unparseable first date; outcome by-runs vs by-wickets vs bare result
vs neither; _id fallback chain incl. synthetic city-date; corrupt
file quarantine.
"""

from __future__ import annotations

import contextlib
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.operators.cricket import (
    batter_vs_bowler,
    partnership_proxy,
    runs_by_batter,
    toughest_bowlers,
    wickets_by_bowler,
)
from cricket_analytics_nosql_spark.operators.etl import (
    flatten_deliveries,
    normalize_matches,
    upsert_by_key,
)
from cricket_analytics_nosql_spark.sources.cricsheet import (
    read_cricsheet,
    split_quarantine,
)

MATCH_A = {
    "meta": {"data_version": "1.1.0"},
    "info": {
        "match_id": "M1",
        "dates": ["2021-03-01"],
        "team_type": "international",
        "match_type": "ODI",
        "gender": "male",
        "teams": ["India", "NZ"],
        "venue": "MCA Stadium",
        "city": "Pune",
        "officials": {"umpires": ["U1", "U2"]},
        "outcome": {"winner": "India", "by": {"runs": 20}},
    },
    "innings": [
        {
            "team": "India",
            "innings": 1,
            "overs": [
                {
                    "over": 0,
                    "deliveries": [
                        {
                            "batter": "V Kohli",
                            "non_striker": "RG Sharma",
                            "bowler": "TG Southee",
                            "ball": 1,
                            "runs": {"batter": 4, "extras": 0, "total": 4},
                        },
                        {
                            "batter": "V Kohli",
                            "non_striker": "RG Sharma",
                            "bowler": "TG Southee",
                            "ball": 2,
                            "runs": {"batter": 0, "extras": 1},
                        },
                        {
                            "batter": "RG Sharma",
                            "non_striker": "V Kohli",
                            "bowler": "TG Southee",
                            "ball": 3,
                            "runs": {"batter": 6, "extras": 0, "total": 6},
                        },
                    ],
                },
                {
                    "over": 1,
                    "deliveries": [
                        {
                            "batter": "V Kohli",
                            "non_striker": "RG Sharma",
                            "bowler": "T Boult",
                            "runs": {"batter": 0, "extras": 0, "total": 0},
                            "wickets": [
                                {"player_out": "V Kohli", "kind": "bowled"}
                            ],
                        }
                    ],
                },
            ],
        },
        {
            "team": "NZ",
            "number": 2,
            "overs": [
                {
                    "over": 0,
                    "deliveries": [
                        {
                            "striker": "K Williamson",
                            "nonStriker": "D Conway",
                            "bowler": "J Bumrah",
                            "ball": 1,
                            "runs": {"batter": 2, "extras": 0, "total": 2},
                        },
                        {
                            "striker": "K Williamson",
                            "nonStriker": "D Conway",
                            "bowler": "J Bumrah",
                            "ball": 2,
                            "runs": {"batter": 0, "extras": 0, "total": 0},
                            "wicket": {
                                "player_out": "K Williamson",
                                "kind": "caught",
                            },
                        },
                    ],
                }
            ],
        },
    ],
}

MATCH_B = {
    "meta": {"data_version": "1.0.0"},
    "info": {
        "registry": {"match": "R2"},
        "dates": ["bad-date"],
        "match_type": "T20",
        "outcome": {"result": "no result"},
    },
    "innings": [],
}

MATCH_C = {
    "info": {
        "event": {"match_number": 77},
        "dates": [],
        "outcome": {"winner": "X"},
    },
    "innings": [],
}

MATCH_D = {
    "info": {
        "city": "Delhi",
        "dates": ["2020-01-02"],
        "outcome": {"winner": "Y", "by": {"wickets": 5}},
    },
    "innings": [],
}


@pytest.fixture(scope="module")
def cricket_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cricsheet")
    for name, doc in [
        ("a.json", MATCH_A),
        ("b.json", MATCH_B),
        ("c.json", MATCH_C),
        ("d.json", MATCH_D),
    ]:
        (d / name).write_text(json.dumps(doc))
    (d / "corrupt.json").write_text("{ this is not json")
    return str(d)


@pytest.fixture(scope="module")
def good(spark, cricket_dir):
    g, _ = split_quarantine(read_cricsheet(spark, cricket_dir))
    return g.cache()


@pytest.fixture(scope="module")
def deliveries(good):
    return flatten_deliveries(good).cache()


def test_quarantine(spark, cricket_dir):
    good_df, bad = split_quarantine(read_cricsheet(spark, cricket_dir))
    assert good_df.count() == 4
    rows = bad.collect()
    assert len(rows) == 1
    assert rows[0].source_file.endswith("corrupt.json")
    assert "not json" in rows[0]._corrupt_record


def test_normalize_matches(good):
    m = {r["_id"]: r for r in normalize_matches(good).collect()}
    assert set(m) == {"M1", "R2", "77", "Delhi-2020-01-02"}
    a = m["M1"]
    assert a.outcome.winner == "India"
    assert a.outcome.result == "India won by 20 runs"
    assert a.info.teams == ["India", "NZ"]
    assert a.info.officials == {"umpires": ["U1", "U2"]}
    assert a.source_version == "1.1.0"
    assert a.date_valid == 1
    b = m["R2"]  # registry fallback, bad date, bare result
    assert b.outcome.result == "no result"
    assert b.date_valid == 0
    assert b.info.teams == []
    c = m["77"]  # event.match_number fallback; winner but no by/result
    assert c.outcome.result is None
    assert c.outcome.winner == "X"
    d = m["Delhi-2020-01-02"]  # synthetic city-date id; by-wickets text
    assert d.outcome.result == "Y won by 5 wickets"


def test_flatten_shape_and_drift(deliveries):
    rows = deliveries.collect()
    assert len(rows) == 6
    assert all(r.matchId == "M1" for r in rows)

    by_key = {(r.innings, r.over, r.ball): r for r in rows}
    # total missing → batter + extras (etl:86)
    r = by_key[("1", 0, 2)]
    assert r.runs_total == 1 and r.runs_extras == 1 and r.is_dot == 0
    # boundary flag (etl:104)
    assert by_key[("1", 0, 1)].is_boundary == 1
    # missing ball stays null here (graph layer defaults it to -1)
    r = by_key[("1", 1, None)]
    assert r.bowler == "T Boult"
    assert [w.kind for w in r.wickets] == ["bowled"]
    assert r.is_dot == 1
    # innings via `number` fallback; striker/nonStriker drift names
    r = by_key[("2", 0, 1)]
    assert r.battingTeam == "NZ"
    assert r.batter == "K Williamson" and r.nonStriker == "D Conway"
    # dict-form wicket wrapped to 1-element array (etl:87-89)
    r = by_key[("2", 0, 2)]
    assert [w.player_out for w in r.wickets] == ["K Williamson"]


def test_runs_by_batter_golden(deliveries):
    rows = runs_by_batter(deliveries, limit=10).collect()
    got = [(r.batter, r.runs, r.balls, r.boundaries) for r in rows]
    assert got == [
        ("RG Sharma", 6, 1, 1),
        ("V Kohli", 4, 3, 1),
        ("K Williamson", 2, 2, 0),
    ]
    assert rows[0].strikeRate == 600.0
    assert rows[1].boundaryPct == pytest.approx(100 / 3)


def test_wickets_by_bowler_golden(deliveries):
    got = [(r.bowler, r.wickets) for r in wickets_by_bowler(deliveries).collect()]
    assert got == [("J Bumrah", 1), ("T Boult", 1), ("TG Southee", 0)]


def test_batter_vs_bowler_golden(deliveries):
    r = batter_vs_bowler(deliveries, "V Kohli", "TG Southee").collect()[0]
    assert (r.balls, r.runs, r.outs) == (2, 5, 0)


def test_toughest_bowlers_golden(deliveries):
    rows = toughest_bowlers(deliveries, "V Kohli", min_balls=1).collect()
    got = [(r.bowler, r.balls, r.runs, r.strikeRate, r.outs) for r in rows]
    assert got == [("T Boult", 1, 0, 0.0, 1), ("TG Southee", 2, 5, 250.0, 0)]


def test_partnership_proxy_golden(deliveries):
    rows = partnership_proxy(deliveries, "India", min_co=1).collect()
    got = {(r.a, r.b): r.co_appearances for r in rows}
    # Kohli faced Southee 2x, Sharma 1x → 2 each direction (a <> b)
    assert got == {("V Kohli", "RG Sharma"): 2, ("RG Sharma", "V Kohli"): 2}


def test_upsert_idempotent(spark, good, tmp_path):
    m = normalize_matches(good)
    path = os.path.join(str(tmp_path), "matches")
    upsert_by_key(m, path, ["_id"])
    upsert_by_key(m.union(m), path, ["_id"])  # duplicate input → same state
    assert spark.read.parquet(path).count() == 4


def test_cricket_pipeline_query(spark):
    """The driver-facing end-to-end pipeline: fixture staging → scan
    → quarantine → flatten → top batters, with the quarantine count
    carried in-band."""
    from cricket_analytics_nosql_spark.operators.cricket import cricket_pipeline

    rows = cricket_pipeline(spark, "unused").collect()
    got = [(r.batter, r.runs, r.n_quarantined) for r in rows]
    assert got == [
        ("RG Sharma", 6, 1),
        ("V Kohli", 4, 1),
        ("K Williamson", 2, 1),
    ]


def test_cli_end_to_end(spark, tmp_path, capsys):
    """The reference's three script entry points (SURVEY §3) via the
    CLI twins: etl → graph → analytics, chained over one warehouse.
    The ``wrote ...`` summaries report the rows the writes wrote, and
    ``etl`` releases the parse cache it pinned."""
    from cricket_analytics_nosql_spark.cli import main
    from cricket_analytics_nosql_spark.sources.cricket_fixtures import (
        write_demo_dir,
    )

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    wh = str(tmp_path / "wh")
    capsys.readouterr()
    assert main(["etl", "--data-dir", write_demo_dir(), "--out", wh]) == 0
    etl_out = capsys.readouterr().out
    # no RDD persisted during etl is left persisted (RDDs persisted
    # earlier may be cleaned meanwhile, so this is a subset test)
    assert persisted() <= before
    matches = spark.read.parquet(os.path.join(wh, "matches.parquet"))
    deliveries = spark.read.parquet(os.path.join(wh, "deliveries.parquet"))
    assert matches.count() == 4 and deliveries.count() > 0
    assert etl_out == (
        f"wrote 4 matches, {deliveries.count()} deliveries to {wh}\n"
    )
    assert main(["graph", "--warehouse", wh]) == 0
    graph_out = capsys.readouterr().out
    vertices = spark.read.parquet(os.path.join(wh, "graph", "vertices"))
    edges = spark.read.parquet(os.path.join(wh, "graph", "edges"))
    assert vertices.count() > 0 and edges.count() > 0
    assert graph_out.startswith(
        f"wrote {vertices.count()} vertices, {edges.count()} edges to "
        f"{os.path.join(wh, 'graph')}\n"
    )
    assert main(["analytics", "--warehouse", wh, "--limit", "1000"]) == 0


def test_cli_pipeline_with_lookup_and_merge_sink(spark, tmp_path):
    """CLI pipeline subcommand resolves $lookup collections and
    $out/$merge sink paths against the warehouse directory — the
    reference user's aggregate-then-write flow, end to end."""
    import json

    from cricket_analytics_nosql_spark.cli import main
    from cricket_analytics_nosql_spark.sources.cricket_fixtures import (
        write_demo_dir,
    )

    wh = str(tmp_path / "wh")
    assert main(["etl", "--data-dir", write_demo_dir(), "--out", wh]) == 0
    pipe = [
        {"$group": {"_id": "$batter", "runs": {"$sum": "$runs_batter"}}},
        {"$merge": {"into": "batter_totals", "on": "_id"}},
    ]
    assert main(
        [
            "pipeline",
            "--warehouse",
            wh,
            "--collection",
            "deliveries",
            "--pipeline",
            json.dumps(pipe),
        ]
    ) == 0
    written = spark.read.parquet(os.path.join(wh, "batter_totals.parquet"))
    assert written.count() > 0
    # second run upserts idempotently (same keys → same row count)
    n = written.count()
    assert main(
        ["pipeline", "--warehouse", wh, "--collection", "deliveries",
         "--pipeline", json.dumps(pipe)]
    ) == 0
    assert (
        spark.read.parquet(os.path.join(wh, "batter_totals.parquet")).count()
        == n
    )
    # $lookup against a sibling warehouse table through the resolver
    lk = [
        {
            "$lookup": {
                "from": "matches",
                "localField": "matchId",
                "foreignField": "_id",
                "as": "m",
            }
        },
        {"$unwind": "$m"},
        {"$group": {"_id": "$m.info.city", "balls": {"$sum": 1}}},
    ]
    assert main(
        ["pipeline", "--warehouse", wh, "--collection", "deliveries",
         "--pipeline", json.dumps(lk)]
    ) == 0


def test_cricket_analytics_fixture_truths(spark):
    """Hand-derivable truths of the 6-ball fixture: Kohli faced
    Southee on balls 1-2 (4 + 0/1-extra = 5 total runs, 0
    dismissals in that duel — Boult bowled him, not Southee);
    Boult and Bumrah took 1 wicket each; the India partnership
    pairs are symmetric."""
    from cricket_analytics_nosql_spark.operators.cricket import (
        cricket_batter_vs_bowler,
        cricket_partnerships,
        cricket_wickets_by_bowler,
    )

    duel = cricket_batter_vs_bowler(spark, "unused").collect()[0]
    assert (duel.balls, duel.runs, duel.outs) == (2, 5, 0)
    wk = {r.bowler: r.wickets for r in
          cricket_wickets_by_bowler(spark, "unused").collect()}
    assert wk["T Boult"] == 1 and wk["J Bumrah"] == 1
    assert wk["TG Southee"] == 0
    pairs = cricket_partnerships(spark, "unused").collect()
    by_pair = {(r.a, r.b): r.co_appearances for r in pairs}
    for (a, b), n in by_pair.items():
        assert by_pair[(b, a)] == n


# ---------------------------------------------------------------------------
# the FACED projection: one persisted frame per warehouse
# ---------------------------------------------------------------------------

_DEDUP_KEY = {"matchId", "innings", "over", "ball", "src"}


def test_faced_edges_is_one_cache_entry_per_warehouse(
    spark, deliveries, tmp_path
):
    """Two separate reads of one warehouse path are one input, so they
    get one persisted FACED projection, with the rows of the unpersisted
    build."""
    from cricket_analytics_nosql_spark.operators.graph import faced_edges

    path = str(tmp_path / "deliveries.parquet")
    deliveries.write.parquet(path)
    first = faced_edges(spark.read.parquet(path))
    second = faced_edges(spark.read.parquet(path))
    cache = spark._jsparkSession.sharedState().cacheManager()
    entries = [cache.lookupCachedData(df._jdf) for df in (first, second)]
    assert all(e.isDefined() for e in entries)
    assert entries[0].get().cachedRepresentation().cacheBuilder().equals(
        entries[1].get().cachedRepresentation().cacheBuilder()
    )
    assert first.storageLevel.useMemory and first.storageLevel.useDisk
    built = faced_edges.__wrapped__(spark.read.parquet(path))
    assert sorted(second.collect()) == sorted(built.collect())


def test_faced_edges_sees_a_warehouse_rewritten_through_spark(
    spark, deliveries, tmp_path
):
    """A Spark write re-caches every cached plan over its path, so a
    warehouse overwritten through Spark and read again yields the new
    rows."""
    from cricket_analytics_nosql_spark.operators.graph import faced_edges

    path = str(tmp_path / "deliveries.parquet")
    deliveries.write.parquet(path)
    old = faced_edges(spark.read.parquet(path)).collect()
    first_innings = deliveries.filter(F.col("innings") == "1")
    first_innings.write.mode("overwrite").parquet(path)
    new = faced_edges(spark.read.parquet(path)).collect()
    want = faced_edges(first_innings).collect()
    assert sorted(new) == sorted(want)
    assert len(new) < len(old)


def _sql_executions(spark) -> set:
    store = spark._jsparkSession.sharedState().statusStore()
    xs = store.executionsList()
    return {xs.apply(i).executionId() for i in range(xs.size())}


def _dedup_exchange_runs(spark, since: set) -> int:
    """SQL executions, other than ``since``, that shuffled rows
    through ``faced_edges``' MERGE-key dedup. A plan that reads the
    cached projection still lists the exchange under its cached
    relation, but writes no rows through it."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    runs = 0
    for eid in _sql_executions(spark) - since:
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        wrote = 0
        for node in (nodes.apply(i) for i in range(nodes.size())):
            if node.name() != "Exchange":
                continue
            if set(re.findall(r"(\w+)#", node.desc())) != _DEDUP_KEY:
                continue
            metrics = node.metrics()
            for m in (metrics.apply(j) for j in range(metrics.size())):
                v = values.get(m.accumulatorId())
                if m.name() == "shuffle records written" and v.isDefined():
                    wrote += int(v.get().replace(",", ""))
        runs += wrote > 0
    return runs


@contextlib.contextmanager
def _jvm_log(spark):
    """The JVM's log messages, at the session's log level, while the
    scope runs."""
    jvm = spark._jvm
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    text = jvm.java.io.StringWriter()
    appender = jvm.org.apache.logging.log4j.core.appender.WriterAppender
    capture = appender.createAppender(None, None, text, "capture", False, True)
    capture.start()
    root.addAppender(capture, None, None)
    ctx.updateLoggers()
    try:
        yield text
    finally:
        root.removeAppender("capture")
        ctx.updateLoggers()
        capture.stop()


def test_cli_graph_dedups_the_deliveries_once(spark, tmp_path, capsys):
    """CLI ``graph`` writes the FACED edges and runs PageRank over them
    from one dedup of the deliveries, also when the caller projected
    the same warehouse first, and the cache logs no warning."""
    from cricket_analytics_nosql_spark.cli import main
    from cricket_analytics_nosql_spark.operators.graph import faced_edges
    from cricket_analytics_nosql_spark.sources.cricket_fixtures import (
        write_demo_dir,
    )

    wh = str(tmp_path / "wh")
    assert main(["etl", "--data-dir", write_demo_dir(), "--out", wh]) == 0
    since = _sql_executions(spark)
    with _jvm_log(spark) as log:
        faced_edges(spark.read.parquet(os.path.join(wh, "deliveries.parquet")))
        assert main(["graph", "--warehouse", wh]) == 0
    assert "PageRank top hubs" in capsys.readouterr().out
    assert _dedup_exchange_runs(spark, since) == 1
    assert "Asked to cache already cached data" not in log.toString()
