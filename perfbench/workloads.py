"""The four workloads of the pipeline benchmark.

Each workload has inputs made from the seed, a set-up, a *pass* of
timed work and a check of every answer the pass produced. A pass
returns its operations as ``Op`` records; the checks run after the
timed section and mark the operations that were wrong. Operations run
in set-up (``Ctx.setup_ops``) are checked and counted the same way,
but their time is set-up time.

The three batch workloads time one submission, cold, as a user running
the command in a fresh session meets it: a single pass on a JVM only
partly compiled by a small warm-up read far less repeatably than a
cold one. ``query_mix`` models a client of a running service, so it
warms up first and then loops.

- ``ingest`` (batch): the CLI ``etl`` entry on a Cricsheet dump into an
  empty warehouse.
- ``query_mix`` (closed loop, one client): the reference's five
  questions in three forms (Mongo pipeline, Cypher text,
  ``operators.cricket`` function), one query after another. Its set-up
  builds the warehouse with the CLI ``etl`` entry and runs the
  ``duel_graph`` pass once over it.
- ``duel_graph`` (batch): the CLI ``graph`` command, then the
  reference's ``gds.pageRank.stream`` statement through the Cypher
  compiler.
- ``corpus_curation`` (batch): five corpus queries of the catalog on a
  ``documents`` + ``embeddings`` pair.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np

import gen
from spans import Deferred, Tracer

PKG = "cricket_analytics_nosql_spark"

# input sizes: (full, tiny); tiny is for the self-check only
SIZES = {
    "ingest_matches": (400, 30),
    "warehouse_matches": (150, 30),
    "docs": (1200, 300),
    "vecs": (600, 200),
}


@dataclass
class Op:
    kind: str
    latency_s: float
    result: object = None
    ok: bool | None = None  # None until checked
    error: str | None = None


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    tiny: bool
    work: str  # scratch directory of this run
    setup_s: float = 0.0
    setup_ops: list = field(default_factory=list)  # Op of set-up, checked
    state: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)

    def size(self, key: str) -> int:
        return SIZES[key][1 if self.tiny else 0]


def _quiet(fn, *args):
    """Call fn with its stdout captured; returns (result, stdout text)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out = fn(*args)
    return out, buf.getvalue()


def _etl(ctx: Ctx, data_dir: str, out: str) -> float:
    from cricket_analytics_nosql_spark import cli

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    with ctx.tracer.span("cli.etl"):
        rc, _ = _quiet(cli.main, ["etl", "--data-dir", data_dir, "--out", out])
    if rc != 0:
        raise RuntimeError(f"etl exited with {rc}")
    return time.perf_counter() - t0


def _parquet_glob(warehouse: str, table: str) -> str:
    return os.path.join(warehouse, f"{table}.parquet", "*.parquet")


def _dir_bytes(path: str, suffix: str = ".parquet") -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(suffix)
    )


def install_hooks(tracer: Tracer) -> None:
    """Spans around the layers the CLI commands call into (traced runs
    only)."""
    if not tracer.enabled:
        return
    from cricket_analytics_nosql_spark.sources import cricsheet

    orig = cricsheet.split_quarantine

    def split_quarantine(raw):
        # the parse happens in the first action on the quarantine
        # side, which materializes the cached scan
        good, bad = orig(raw)
        return good, Deferred(
            bad, tracer, "sources.cricsheet.scan", frozenset({"count"})
        )

    tracer.patch(cricsheet, "split_quarantine", split_quarantine)
    for fn in ("normalize_matches", "flatten_deliveries"):
        tracer.hook(
            f"{PKG}.operators.etl", fn, "operators.etl.build",
            deferred={"write"}, deferred_layer="operators.etl.write",
        )
    tracer.hook(
        f"{PKG}.operators.graph", "player_pagerank", "operators.graph.pagerank",
        deferred={"show", "collect", "count", "toPandas", "write"},
    )
    tracer.hook(f"{PKG}.operators.sinks", "write_graph", "operators.sinks.write")


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------
class Ingest:
    name = "ingest"
    batch = True

    def inputs(self, ctx: Ctx) -> None:
        ctx.state["dump"] = gen.cricsheet_dump(ctx.seed, ctx.size("ingest_matches"))
        ctx.state["n"] = 0

    def setup(self, ctx: Ctx) -> None:
        pass

    def one_pass(self, ctx: Ctx) -> list[Op]:
        ctx.state["n"] += 1
        out = os.path.join(ctx.work, f"wh{ctx.state['n']}")
        return [Op("etl", _etl(ctx, ctx.state["dump"], out), out)]

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        truth = gen.read_truth(ctx.state["dump"])
        ratios, quarantined = [], []
        for op in ops:
            got = _warehouse_counts(op.result)
            want = {k: truth[k] for k in got}
            op.ok = got == want
            if not op.ok:
                op.error = f"warehouse {got} != truth {want}"
            ratios.append(_dir_bytes(op.result) / truth["json_bytes"])
            quarantined.append(got["corrupt"])
            shutil.rmtree(op.result, ignore_errors=True)
        ctx.record["stored_bytes_ratio"] = float(np.median(ratios))
        ctx.record["quarantined"] = float(np.mean(quarantined))


def _warehouse_counts(w: str) -> dict:
    con = duckdb.connect()
    try:
        balls, runs, wkts = con.execute(
            "SELECT COUNT(*), SUM(runs_total), "
            "SUM(CASE WHEN len(coalesce(wickets, [])) > 0 THEN 1 ELSE 0 END) "
            f"FROM read_parquet('{_parquet_glob(w, 'deliveries')}')"
        ).fetchone()
        matches = con.execute(
            f"SELECT COUNT(DISTINCT _id) FROM read_parquet('{_parquet_glob(w, 'matches')}')"
        ).fetchone()[0]
    finally:
        con.close()
    qdir = os.path.join(w, "quarantine")
    corrupt = 0
    if os.path.isdir(qdir):
        for f in os.listdir(qdir):
            if f.endswith(".json"):
                with open(os.path.join(qdir, f)) as fh:
                    corrupt += sum(1 for line in fh if line.strip())
    return {
        "balls": int(balls),
        "runs_total": int(runs or 0),
        "wicket_balls": int(wkts or 0),
        "matches": int(matches),
        "corrupt": corrupt,
    }


def _warehouse_setup(ctx: Ctx) -> None:
    """Shared set-up of the two workloads that read a warehouse: ingest
    the dump (counted in set-up) and check it."""
    dump = gen.cricsheet_dump(ctx.seed, ctx.size("warehouse_matches"))
    w = os.path.join(ctx.work, "warehouse")
    ctx.tracer.phase = "setup"
    ctx.setup_s += _etl(ctx, dump, w)
    truth = gen.read_truth(dump)
    got = _warehouse_counts(w)
    if got != {k: truth[k] for k in got}:
        raise RuntimeError(f"set-up warehouse {got} != truth {truth}")
    ctx.record["stored_bytes_ratio"] = _dir_bytes(w) / truth["json_bytes"]
    ctx.record["quarantined"] = got["corrupt"]
    ctx.state["warehouse"] = w
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW d AS SELECT * FROM "
        f"read_parquet('{_parquet_glob(w, 'deliveries')}')"
    )
    ctx.state["duck"] = con


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------
WKT = {"$cond": [{"$gt": [{"$size": {"$ifNull": ["$wickets", []]}}, 0]}, 1, 0]}


def _mongo(question: str, p: dict) -> list[dict]:
    if question == "runs":
        return [
            {"$group": {"_id": "$batter", "runs": {"$sum": "$runs_batter"},
                        "balls": {"$sum": 1},
                        "boundaries": {"$sum": "$is_boundary"}}},
            {"$addFields": {
                "strikeRate": {"$multiply": [{"$divide": ["$runs", "$balls"]}, 100]},
                "boundaryPct": {"$multiply": [{"$divide": ["$boundaries", "$balls"]}, 100]},
            }},
            {"$sort": {"runs": -1, "_id": 1}},
            {"$limit": 10},
        ]
    if question == "wickets":
        return [
            {"$project": {"bowler": 1, "wkts": WKT}},
            {"$group": {"_id": "$bowler", "wickets": {"$sum": "$wkts"}}},
            {"$sort": {"wickets": -1, "_id": 1}},
            {"$limit": 10},
        ]
    if question == "duel":
        return [
            {"$match": {"batter": p["batter"], "bowler": p["bowler"]}},
            {"$group": {"_id": None, "balls": {"$sum": 1},
                        "runs": {"$sum": "$runs_total"}, "outs": {"$sum": WKT}}},
        ]
    if question == "toughest":
        return [
            {"$match": {"batter": p["batter"]}},
            {"$group": {"_id": "$bowler", "balls": {"$sum": 1},
                        "runs": {"$sum": "$runs_total"}, "outs": {"$sum": WKT}}},
            {"$match": {"balls": {"$gte": 30}}},
            {"$addFields": {"strikeRate": {"$multiply": [
                {"$divide": ["$runs", "$balls"]}, 100]}}},
            {"$sort": {"strikeRate": 1, "outs": -1, "_id": 1}},
            {"$limit": 10},
        ]
    raise ValueError(question)


# cypher_queries.cypher (a)-(c), verbatim
CYPHER = {
    "duel": """
    MATCH (bat:Player {name:$batter})-[r:FACED]->(bow:Player {name:$bowler})
    RETURN count(r) AS balls,
           sum(r.runs) AS runs,
           sum(CASE WHEN r.isWicket THEN 1 ELSE 0 END) AS outs;
    """,
    "toughest": """
    MATCH (bat:Player {name:$batter})-[r:FACED]->(bow:Player)
    WITH bow, count(r) AS balls, sum(r.runs) AS runs, sum(CASE WHEN r.isWicket THEN 1 ELSE 0 END) AS outs
    WHERE balls >= 30
    RETURN bow.name AS bowler, balls, runs, (toFloat(runs)/balls)*100 AS strikeRate, outs
    ORDER BY strikeRate ASC, outs DESC
    LIMIT 10
    """,
    "partnership": """
    MATCH (a:Player)-[r:FACED]->(bow:Player)<-[s:FACED]-(b:Player)
    WHERE a <> b AND r.team = $team AND s.team = $team
    WITH a,b, count(*) AS co_appearances
    WHERE co_appearances >= 20
    RETURN a.name, b.name, co_appearances
    ORDER BY co_appearances DESC
    LIMIT 20
    """,
}
PAGERANK = """
CALL gds.pageRank.stream('duels')
YIELD nodeId, score
RETURN gds.util.asNode(nodeId).name AS player, score
ORDER BY score DESC LIMIT 20
"""

COMBOS = [
    ("runs", "mongo"), ("runs", "native"),
    ("wickets", "mongo"), ("wickets", "native"),
    ("duel", "mongo"), ("duel", "cypher"), ("duel", "native"),
    ("toughest", "mongo"), ("toughest", "cypher"), ("toughest", "native"),
    ("partnership", "cypher"), ("partnership", "native"),
]
LAYER = {
    "mongo": ("plans.mongo_pipeline.compile", "plans.mongo_pipeline.exec"),
    "cypher": ("plans.cypher.compile", "plans.cypher.exec"),
    "native": ("operators.cricket.build", "operators.cricket.exec"),
}


def _native(deliveries, question: str, p: dict):
    from cricket_analytics_nosql_spark.operators import cricket

    if question == "runs":
        return cricket.runs_by_batter(deliveries)
    if question == "wickets":
        return cricket.wickets_by_bowler(deliveries)
    if question == "duel":
        return cricket.batter_vs_bowler(deliveries, p["batter"], p["bowler"])
    if question == "toughest":
        return cricket.toughest_bowlers(deliveries, p["batter"])
    return cricket.partnership_proxy(deliveries, p["team"], min_co=20)


def _round(t) -> tuple:
    return tuple(round(x, 9) if isinstance(x, float) else x for x in t)


def _normalize(question: str, rows: list) -> list[tuple]:
    """Spark rows of any form as the tuples the DuckDB oracle returns."""
    out = []
    for r in rows:
        d = r.asDict()
        if question == "runs":
            t = (d.get("batter", d.get("_id")), d["runs"], d["balls"],
                 d["boundaries"], d["strikeRate"])
        elif question == "wickets":
            t = (d.get("bowler", d.get("_id")), d["wickets"])
        elif question == "duel":
            t = (d["balls"], d["runs"], d["outs"])
        elif question == "toughest":
            t = (d.get("bowler", d.get("_id")), d["balls"], d["runs"],
                 d["strikeRate"], d["outs"])
        else:
            t = tuple(r)
        out.append(_round(t))
    return out


ORACLE = {
    "runs": """SELECT batter, SUM(runs_batter), COUNT(*), SUM(is_boundary),
                      SUM(runs_batter)::DOUBLE / COUNT(*) * 100
               FROM d GROUP BY batter ORDER BY 2 DESC, 1 ASC""",
    "wickets": """SELECT bowler, SUM(CASE WHEN len(coalesce(wickets, [])) > 0
                                          THEN 1 ELSE 0 END)
                  FROM d GROUP BY bowler ORDER BY 2 DESC, 1 ASC""",
    "duel": """SELECT COUNT(*), SUM(runs_total),
                      SUM(CASE WHEN len(coalesce(wickets, [])) > 0 THEN 1 ELSE 0 END)
               FROM d WHERE batter = $batter AND bowler = $bowler""",
    "toughest": """SELECT bowler, COUNT(*) AS balls, SUM(runs_total) AS runs,
                          SUM(runs_total)::DOUBLE / COUNT(*) * 100 AS sr,
                          SUM(CASE WHEN len(coalesce(wickets, [])) > 0
                                   THEN 1 ELSE 0 END) AS outs
                   FROM d WHERE batter = $batter GROUP BY bowler
                   HAVING COUNT(*) >= 30 ORDER BY sr ASC, outs DESC, bowler ASC""",
    "partnership": """WITH p AS (SELECT batter, bowler, COUNT(*) AS n FROM d
                                 WHERE battingTeam = $team GROUP BY ALL)
                      SELECT x.batter, y.batter, SUM(x.n * y.n) AS co
                      FROM p x JOIN p y ON x.bowler = y.bowler
                      WHERE x.batter <> y.batter GROUP BY ALL
                      HAVING SUM(x.n * y.n) >= 20 ORDER BY co DESC, 1, 2""",
}
TOPK = {"runs": 10, "wickets": 10, "duel": 1, "toughest": 10, "partnership": 20}


def _order_key(question: str, form: str, t: tuple) -> tuple:
    """The sort key a form's ORDER BY uses (Cypher b and c order without
    a name tie-break, so ties may come back in any order)."""
    if question == "toughest":
        return (t[3], -t[4]) if form == "cypher" else (t[3], -t[4], t[0])
    if question == "partnership":
        return (-t[2],) if form == "cypher" else (-t[2], t[0], t[1])
    return t


def check_topk(got: list[tuple], full: list[tuple], k: int, key) -> str | None:
    """None if ``got`` is a valid top-k of the ordered ``full`` result
    under sort key ``key``, else what is wrong."""
    want = full[:k]
    if len(got) != len(want):
        return f"{len(got)} rows, want {len(want)}"
    if [key(t) for t in got] != [key(t) for t in want]:
        return f"order {got[:3]} != {want[:3]}"
    extra = set(got) - set(full)
    if extra:
        return f"rows not in the answer: {sorted(extra)[:3]}"
    return None


# round times still fall for about four rounds after the set-up's graph
# pass, while the JIT compiles the query paths
WARMUP_ROUNDS = 4


class QueryMix:
    name = "query_mix"
    batch = False

    def inputs(self, ctx: Ctx) -> None:
        gen.cricsheet_dump(ctx.seed, ctx.size("warehouse_matches"))

    def setup(self, ctx: Ctx) -> None:
        from cricket_analytics_nosql_spark.operators.graph import faced_edges

        _warehouse_setup(ctx)
        t0 = time.perf_counter()
        deliveries = ctx.spark.read.parquet(
            os.path.join(ctx.state["warehouse"], "deliveries.parquet")
        )
        ctx.state["deliveries"] = deliveries
        ctx.state["edges"] = faced_edges(deliveries)
        # the duel graph over the same warehouse: job-count-bound
        # iterations, timed as set-up so they do not swamp the loop
        ctx.setup_ops = DuelGraph().one_pass(ctx)
        ctx.setup_s += time.perf_counter() - t0
        self._key_pools(ctx)
        ctx.state["rng"] = random.Random(ctx.seed)
        ctx.tracer.phase = "warmup"
        t0 = time.perf_counter()
        for _ in range(WARMUP_ROUNDS):
            self.one_pass(ctx)
        ctx.setup_s += time.perf_counter() - t0

    def _key_pools(self, ctx: Ctx) -> None:
        con = ctx.state["duck"]
        ctx.state["pools"] = {
            "batter": con.execute(
                "SELECT batter, COUNT(*) FROM d GROUP BY 1 ORDER BY 1").fetchall(),
            "pair": con.execute(
                "SELECT batter || chr(0) || bowler, COUNT(*) FROM d "
                "GROUP BY 1 ORDER BY 1").fetchall(),
            "team": con.execute(
                "SELECT battingTeam, COUNT(*) FROM d GROUP BY 1 ORDER BY 1"
            ).fetchall(),
        }

    def _params(self, ctx: Ctx, hot: bool) -> dict:
        """Keys drawn in proportion to their balls (hot) or uniformly
        (cold)."""
        rng = ctx.state["rng"]

        def draw(pool):
            keys = [k for k, _ in pool]
            if hot:
                return rng.choices(keys, weights=[n for _, n in pool])[0]
            return rng.choice(keys)

        pools = ctx.state["pools"]
        batter, bowler = draw(pools["pair"]).split(chr(0))
        return {
            "batter": draw(pools["batter"]) if rng.random() < 0.5 else batter,
            "bowler": bowler,
            "team": draw(pools["team"]),
            "duel_batter": batter,
        }

    def _run(self, ctx: Ctx, question: str, form: str, p: dict) -> Op:
        from cricket_analytics_nosql_spark.plans.cypher import compile_cypher
        from cricket_analytics_nosql_spark.plans.mongo_pipeline import (
            compile_pipeline,
        )

        if question == "duel":
            p = dict(p, batter=p["duel_batter"])
        build, run = LAYER[form]
        tr = ctx.tracer
        t0 = time.perf_counter()
        with tr.span("query_mix.query"):
            with tr.span(build):
                if form == "mongo":
                    df = compile_pipeline(ctx.state["deliveries"], _mongo(question, p))
                elif form == "cypher":
                    df = compile_cypher(
                        CYPHER[question], ctx.state["edges"],
                        {k: p[k] for k in ("batter", "bowler", "team")},
                    )
                else:
                    df = _native(ctx.state["deliveries"], question, p)
            with tr.span(run):
                rows = df.collect()
        return Op(f"{question}/{form}", time.perf_counter() - t0,
                  (question, form, p, rows))

    def one_pass(self, ctx: Ctx) -> list[Op]:
        rng = ctx.state["rng"]
        order = list(COMBOS)
        rng.shuffle(order)
        # half of each round's queries use hot keys, half cold ones
        hot = [True, False] * (len(order) // 2)
        rng.shuffle(hot)
        return [
            self._run(ctx, q, form, self._params(ctx, hot=h))
            for (q, form), h in zip(order, hot)
        ]

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        DuelGraph().check(ctx, ctx.setup_ops)
        con = ctx.state["duck"]
        answers: dict = {}
        for op in ops:
            question, form, p, rows = op.result
            args = {k: p[k] for k in ("batter", "bowler", "team")
                    if f"${k}" in ORACLE[question]}
            key = (question, tuple(sorted(args.items())))
            if key not in answers:
                answers[key] = [
                    _round(r) for r in con.execute(ORACLE[question], args).fetchall()
                ]
            got = _normalize(question, rows)
            op.error = check_topk(
                got, answers[key], TOPK[question],
                lambda t: _order_key(question, form, t),
            )
            op.ok = op.error is None
            op.result = None


# ---------------------------------------------------------------------------
# duel_graph
# ---------------------------------------------------------------------------
_HUB = re.compile(r"^\|(.+?)\s*\|\s*([0-9.]+)\s*\|$")
_WROTE = re.compile(r"wrote (\d+) vertices, (\d+) edges")


class DuelGraph:
    name = "duel_graph"
    batch = True

    def inputs(self, ctx: Ctx) -> None:
        gen.cricsheet_dump(ctx.seed, ctx.size("warehouse_matches"))

    def setup(self, ctx: Ctx) -> None:
        from cricket_analytics_nosql_spark.operators.graph import faced_edges

        _warehouse_setup(ctx)
        t0 = time.perf_counter()
        deliveries = ctx.spark.read.parquet(
            os.path.join(ctx.state["warehouse"], "deliveries.parquet")
        )
        ctx.state["edges"] = faced_edges(deliveries)
        ctx.setup_s += time.perf_counter() - t0

    def one_pass(self, ctx: Ctx) -> list[Op]:
        from cricket_analytics_nosql_spark import cli
        from cricket_analytics_nosql_spark.plans.cypher import compile_cypher

        tr = ctx.tracer
        with tr.span("duel_graph.pass"):
            t0 = time.perf_counter()
            with tr.span("cli.graph"):
                rc, text = _quiet(
                    cli.main, ["graph", "--warehouse", ctx.state["warehouse"]]
                )
            t1 = time.perf_counter()
            with tr.span("plans.cypher.compile"):
                df = compile_cypher(PAGERANK, ctx.state["edges"])
            with tr.span("plans.cypher.exec"):
                rows = [(r.player, r.score) for r in df.collect()]
            t2 = time.perf_counter()
        return [
            Op("graph", t1 - t0, ("cli", rc, text)),
            Op("pagerank", t2 - t1, ("cypher", 0, rows)),
        ]

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        con = ctx.state["duck"]
        edges = con.execute(
            "SELECT DISTINCT batter, bowler FROM d WHERE batter IS NOT NULL "
            "AND bowler IS NOT NULL AND matchId IS NOT NULL AND over IS NOT NULL"
        ).fetchall()
        scores = pagerank_numpy(edges)
        ctx.record["edges"] = len(edges)
        n_vertices = con.execute(
            "SELECT COUNT(DISTINCT n) FROM (SELECT batter AS n FROM d UNION ALL "
            "SELECT nonStriker FROM d UNION ALL SELECT bowler FROM d) "
            "WHERE n IS NOT NULL"
        ).fetchone()[0]
        n_faced = con.execute(
            "SELECT COUNT(*) FROM (SELECT DISTINCT matchId, innings, over, "
            "coalesce(ball, -1), batter FROM d WHERE batter IS NOT NULL AND "
            "bowler IS NOT NULL AND matchId IS NOT NULL AND over IS NOT NULL)"
        ).fetchone()[0]
        graph_dir = os.path.join(ctx.state["warehouse"], "graph")
        written = tuple(
            con.execute(
                f"SELECT COUNT(*) FROM read_parquet('{graph_dir}/{t}/*.parquet')"
            ).fetchone()[0]
            for t in ("vertices", "edges")
        )
        for op in ops:
            source, rc, payload = op.result
            if source == "cli":
                m = _WROTE.search(payload)
                hubs = [
                    (g.group(1).strip(), float(g.group(2)))
                    for g in map(_HUB.match, payload.splitlines()) if g
                ]
                if rc != 0 or not m:
                    op.error = f"graph exited {rc}"
                elif (int(m.group(1)), int(m.group(2))) != (n_vertices, n_faced):
                    op.error = f"graph wrote {m.groups()}, want {(n_vertices, n_faced)}"
                elif written != (n_vertices, n_faced):
                    op.error = f"graph files hold {written}"
                else:
                    op.error = check_pagerank(hubs, scores)
            else:
                op.error = check_pagerank(payload, scores)
            op.ok = op.error is None
            op.result = None


def pagerank_numpy(edges: list[tuple], d: float = 0.85, rounds: int = 15) -> dict:
    """Power iteration over the collapsed (src, dst) edges, in the
    package's formulation: ranks start at 1, sum to the vertex count,
    and the mass of vertices without out-edges is spread evenly."""
    names = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(names)}
    src = np.array([idx[s] for s, _ in edges])
    dst = np.array([idx[t] for _, t in edges])
    n = len(names)
    out_deg = np.bincount(src, minlength=n).astype(float)
    r = np.ones(n)
    for _ in range(rounds):
        contrib = np.bincount(dst, weights=r[src] / out_deg[src], minlength=n)
        base = (1 - d) + d * (n - contrib.sum()) / n
        r = base + d * contrib
    return dict(zip(names, r))


def check_pagerank(top: list[tuple], scores: dict, tol: float = 1e-5) -> str | None:
    """None if ``top`` (name, score) rows are a valid top-20 of
    ``scores``."""
    if len(top) != min(20, len(scores)):
        return f"{len(top)} hubs"
    for name, s in top:
        if name not in scores or abs(scores[name] - s) > tol:
            return f"{name}: {s} vs {scores.get(name)}"
    got = [s for _, s in top]
    if got != sorted(got, reverse=True):
        return "hubs not in score order"
    rest = sorted(
        (v for k, v in scores.items() if k not in {n for n, _ in top}),
        reverse=True,
    )
    if rest and rest[0] > got[-1] + tol:
        return f"missed a hub scoring {rest[0]}"
    return None


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------
CORPUS_QUERIES = [
    "dedup_exact", "dedup_minhash_lsh", "semantic_dedup", "ann_ivf_kmeans",
    "text_quality_scores",
]


class _Collected:
    """The collected result of a query, in the shape the parity tool
    reads (``columns`` and ``collect``)."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


class CorpusCuration:
    name = "corpus_curation"
    batch = True

    def inputs(self, ctx: Ctx) -> None:
        ctx.state["corpus"] = gen.corpus(
            ctx.seed, ctx.size("docs"), ctx.size("vecs")
        )

    def setup(self, ctx: Ctx) -> None:
        from cricket_analytics_nosql_spark.catalog import all_queries

        t0 = time.perf_counter()
        cat = all_queries()
        ctx.state["specs"] = {n: cat[n] for n in CORPUS_QUERIES}
        ctx.setup_s += time.perf_counter() - t0

    def one_pass(self, ctx: Ctx) -> list[Op]:
        ops = []
        with ctx.tracer.span("corpus_curation.pass"):
            for name, spec in ctx.state["specs"].items():
                layer = spec.fn.__module__.removeprefix(PKG + ".")
                t0 = time.perf_counter()
                with ctx.tracer.span(layer):
                    df = spec.fn(ctx.spark, ctx.state["corpus"])
                    rows = [tuple(r) for r in df.collect()]
                ops.append(Op(name, time.perf_counter() - t0, (df.columns, rows)))
        return ops

    def check(self, ctx: Ctx, ops: list[Op]) -> None:
        from tools.parity import canonical_rows, compare

        verified: dict[str, list] = {}
        for op in ops:
            cols, rows = op.result
            canon = canonical_rows(cols, rows)
            if verified.get(op.kind) == canon:
                op.ok = True
                continue
            try:
                compare(
                    _Collected(cols, rows), ctx.state["specs"][op.kind].oracle,
                    ctx.state["corpus"], op.kind,
                )
                verified[op.kind] = canon
                op.ok = True
            except AssertionError as exc:
                op.ok, op.error = False, str(exc)[:500]
            op.result = None


WORKLOADS = {
    w.name: w for w in (Ingest(), QueryMix(), DuelGraph(), CorpusCuration())
}
