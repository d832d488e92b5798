"""Cypher → DataFrame compiler for the reference's query dialect.

The reference ships its graph analytics as Cypher text + GDS calls
(``cypher_queries.cypher``): single- and two-hop MATCH patterns over
one relationship type, WITH-aggregation with post-WHERE (HAVING),
RETURN with CASE / toFloat / arithmetic, ORDER BY/LIMIT, and
``CALL gds.pageRank.stream`` / ``CALL gds.graph.project``. This
module compiles exactly that dialect onto edge DataFrames, so a
reference user can submit their Cypher text unchanged — the Neo4j
sibling of ``plans/mongo_pipeline.py`` (SURVEY §3.3: "the Cypher
string is the reference's graph IR").

Graph model (matches the repo's graph layer, operators/graph.py): a
graph IS an edge DataFrame ``edges(src, dst, <edge properties...>)``.
Node variables bind to endpoint identity values; the single node
property ``name`` IS that identity (the reference's Player nodes
carry only ``name``, neo4j_loader.py:58-62). Relationship variables
bind to the edge row's property columns.

Supported grammar (the reference's surface + natural closure):

- ``MATCH (a:L {p: $x})-[r:T]->(b:L)`` and the 2-hop V-pattern
  ``(a)-[r:T]->(m)<-[s:T]-(b)`` (any arrow directions; shared middle
  variable becomes the join key)
- ``WHERE`` with ``= <> < <= > >=``, ``AND``/``OR``, parameters,
  literals, ``x.prop`` / bare variable references
- ``WITH item [AS alias], ...`` — Cypher aggregation semantics: the
  non-aggregate items are the grouping key; an optional following
  ``WHERE`` is the post-aggregation filter
- ``RETURN`` items, ``ORDER BY k [ASC|DESC], ...``, ``LIMIT n``
- aggregates ``count(*) count(x) sum avg min max``; scalars
  ``toFloat`` (→ double cast), ``CASE WHEN p THEN a ELSE b END``,
  ``+ - * /``, parentheses
- ``CALL gds.pageRank.stream('g') YIELD nodeId, score RETURN
  gds.util.asNode(nodeId).name AS p, score ORDER BY score DESC
  LIMIT n`` → the repo's DataFrame PageRank (operators/graph.py)
- ``CALL gds.graph.project('g', ...)`` → the weighted projection
  (G1: parallel edges collapsed)

Bounded variable-length paths (``-[:T*1..2]->``) compile to a union
of chained joins — one row per path, Cypher's semantics; unbounded
``*`` and rel-variable binding on them are refused. Still not
Cypher-complete, loudly: MERGE/CREATE, multiple labels, and map
projections raise ``ValueError`` at parse time rather than
mis-compiling.

Scale note: the compiler emits the LITERAL pattern plan — a 2-hop
pattern is an edge self-join on the shared variable, which on a hot
middle vertex produces the full per-vertex pair set before any
aggregation (Neo4j's own execution does the same expansion). Catalyst
still pushes filters and prunes columns through it, but heavy
analytical use of the 2-hop shape should prefer the pre-aggregated
native operator (``operators/cricket.partnership_proxy``, SURVEY J3:
per-(batter,bowler) counts first, then the join carries one row per
pair) — the front-end is the compatibility surface, not the tuned
path. The two produce identical results (tested).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+|//[^\n]*)
    | (?P<num>\d+\.\d+|\d+)
    | (?P<str>'[^']*'|"[^"]*")
    | (?P<param>\$[A-Za-z_][A-Za-z0-9_]*)
    | (?P<arrow><-|->)
    | (?P<sym><>|>=|<=|[(){}\[\]:,.<>=+*/-])
    | (?P<id>[A-Za-z_][A-Za-z0-9_]*)
    """,
    re.X,
)

_KEYWORDS = {
    "match", "where", "with", "return", "as", "order", "by", "limit",
    "asc", "desc", "case", "when", "then", "else", "end", "and", "or",
    "distinct",
}


@dataclass
class _Tok:
    kind: str  # num str param arrow sym id kw
    text: str


def _tokenize(q: str) -> list[_Tok]:
    toks: list[_Tok] = []
    pos = 0
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m:
            raise ValueError(f"cypher: cannot tokenize at {q[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        text = m.group()
        if kind == "id" and text.lower() in _KEYWORDS:
            toks.append(_Tok("kw", text.lower()))
        else:
            toks.append(_Tok(kind, text))
    return toks


# ---------------------------------------------------------------------------
# AST + parser (recursive descent)
# ---------------------------------------------------------------------------


@dataclass
class _Node:
    var: str
    label: str | None
    props: dict[str, Any]  # property map filters


@dataclass
class _Hop:
    left: str
    rel: str | None
    rtype: str | None
    right: str
    left_is_src: bool  # arrow direction: True for (left)-[]->(right)
    minlen: int = 1  # variable-length bounds: -[:T*mn..mx]->
    maxlen: int = 1


@dataclass
class _Item:
    expr: Any  # expression AST
    alias: str | None
    text: str  # source-ish default name


class _Parser:
    def __init__(self, toks: list[_Tok]):
        self.toks = toks
        self.i = 0

    def peek(self, k: int = 0) -> _Tok | None:
        return self.toks[self.i + k] if self.i + k < len(self.toks) else None

    def at(self, kind: str, text: str | None = None) -> bool:
        t = self.peek()
        return bool(
            t and t.kind == kind and (text is None or t.text == text)
        )

    def eat(self, kind: str, text: str | None = None) -> _Tok:
        if not self.at(kind, text):
            got = self.peek()
            raise ValueError(
                f"cypher: expected {kind} {text or ''}, got "
                f"{(got.kind, got.text) if got else 'EOF'}"
            )
        t = self.toks[self.i]
        self.i += 1
        return t

    def opt(self, kind: str, text: str | None = None) -> bool:
        if self.at(kind, text):
            self.i += 1
            return True
        return False

    # ---- pattern ----

    def node(self) -> _Node:
        self.eat("sym", "(")
        var = self.eat("id").text
        label = None
        props: dict[str, Any] = {}
        if self.opt("sym", ":"):
            label = self.eat("id").text
        if self.opt("sym", "{"):
            while True:
                k = self.eat("id").text
                self.eat("sym", ":")
                props[k] = self.literal()
                if not self.opt("sym", ","):
                    break
            self.eat("sym", "}")
        self.eat("sym", ")")
        return _Node(var, label, props)

    def literal(self) -> Any:
        t = self.peek()
        if t is None:
            raise ValueError("cypher: unexpected EOF in literal")
        if t.kind == "num":
            self.i += 1
            return float(t.text) if "." in t.text else int(t.text)
        if t.kind == "str":
            self.i += 1
            return t.text[1:-1]
        if t.kind == "param":
            self.i += 1
            return ("param", t.text[1:])
        raise ValueError(f"cypher: bad literal {t.text!r}")

    def pattern(self) -> tuple[list[_Node], list[_Hop]]:
        nodes = [self.node()]
        hops: list[_Hop] = []
        while self.at("sym", "-") or self.at("arrow", "<-"):
            incoming = self.at("arrow", "<-")
            if incoming:
                self.eat("arrow", "<-")
            else:
                self.eat("sym", "-")
            rel = rtype = None
            mn = mx = 1
            if self.opt("sym", "["):
                if self.at("id"):
                    rel = self.eat("id").text
                if self.opt("sym", ":"):
                    rtype = self.eat("id").text
                if self.opt("sym", "*"):
                    # -[:T*2]-> or -[:T*1..3]-> ; unbounded (*) refused
                    if not self.at("num"):
                        raise ValueError(
                            "cypher: unbounded variable-length path — "
                            "give explicit bounds, e.g. [:T*1..2]"
                        )
                    mn = int(self.eat("num").text)
                    mx = mn
                    if self.opt("sym", "."):
                        self.eat("sym", ".")
                        mx = int(self.eat("num").text)
                    if mn < 1 or mx < mn:
                        raise ValueError(
                            f"cypher: bad variable-length bounds *{mn}..{mx}"
                        )
                    if rel is not None:
                        raise ValueError(
                            "cypher: a variable-length relationship cannot "
                            "bind a variable (it would be a LIST of rels)"
                        )
                self.eat("sym", "]")
            if incoming:
                self.eat("sym", "-")  # (x)<-[r]-(y)
            else:
                self.eat("arrow", "->")  # (x)-[r]->(y)
            right = self.node()
            left = nodes[-1]
            nodes.append(right)
            if incoming:
                hops.append(
                    _Hop(right.var, rel, rtype, left.var, True, mn, mx)
                )
            else:
                hops.append(
                    _Hop(left.var, rel, rtype, right.var, True, mn, mx)
                )
        return nodes, hops

    # ---- expressions ----

    def expr(self) -> Any:
        left = self.and_expr()
        while self.at("kw", "or"):
            self.i += 1
            left = ("or", left, self.and_expr())
        return left

    def and_expr(self) -> Any:
        left = self.cmp()
        while self.at("kw", "and"):
            self.i += 1
            left = ("and", left, self.cmp())
        return left

    def cmp(self) -> Any:
        left = self.add()
        t = self.peek()
        if t and t.kind == "sym" and t.text in ("=", "<>", "<", "<=", ">", ">="):
            self.i += 1
            return ("cmp", t.text, left, self.add())
        return left

    def add(self) -> Any:
        left = self.mul()
        while self.at("sym", "+") or self.at("sym", "-"):
            op = self.eat("sym").text
            left = ("arith", op, left, self.mul())
        return left

    def mul(self) -> Any:
        left = self.unary()
        while self.at("sym", "*") or self.at("sym", "/"):
            op = self.eat("sym").text
            left = ("arith", op, left, self.unary())
        return left

    def unary(self) -> Any:
        t = self.peek()
        if t is None:
            raise ValueError("cypher: unexpected EOF in expression")
        if t.kind == "num" or t.kind == "str" or t.kind == "param":
            return ("lit", self.literal())
        if t.kind == "sym" and t.text == "(":
            self.i += 1
            e = self.expr()
            self.eat("sym", ")")
            return e
        if t.kind == "sym" and t.text == "*":
            self.i += 1
            return ("star",)
        if t.kind == "kw" and t.text == "case":
            return self.case_expr()
        if t.kind == "id":
            name = self.eat("id").text
            if self.at("sym", "("):  # function call
                self.i += 1
                if self.opt("kw", "distinct"):
                    distinct = True
                else:
                    distinct = False
                args = []
                if not self.at("sym", ")"):
                    while True:
                        args.append(self.expr())
                        if not self.opt("sym", ","):
                            break
                self.eat("sym", ")")
                return ("call", name.lower(), args, distinct)
            if self.opt("sym", "."):
                prop = self.eat("id").text
                return ("prop", name, prop)
            return ("var", name)
        raise ValueError(f"cypher: unexpected token {t.text!r}")

    def case_expr(self) -> Any:
        self.eat("kw", "case")
        whens = []
        while self.at("kw", "when"):
            self.i += 1
            cond = self.expr()
            self.eat("kw", "then")
            whens.append((cond, self.expr()))
        other = None
        if self.opt("kw", "else"):
            other = self.expr()
        self.eat("kw", "end")
        return ("case", whens, other)

    # ---- clauses ----

    def items(self) -> list[_Item]:
        out = []
        while True:
            start = self.i
            e = self.expr()
            alias = None
            if self.opt("kw", "as"):
                alias = self.eat("id").text
            text = "".join(
                t.text for t in self.toks[start: self.i if alias is None else start + 1]
            )
            if alias is None:
                # reconstruct a readable default name from the span
                text = "".join(
                    t.text for t in self.toks[start: self.i]
                )
            out.append(_Item(e, alias, text))
            if not self.opt("sym", ","):
                return out


# ---------------------------------------------------------------------------
# Compiler
# ---------------------------------------------------------------------------

_AGGS = {"count", "sum", "avg", "min", "max"}


def _has_agg(e: Any) -> bool:
    if isinstance(e, list):
        # argument lists / CASE branch lists — recurse element-wise
        # (an aggregate can sit inside toFloat(sum(..)) or a WHEN)
        return any(_has_agg(x) for x in e)
    if not isinstance(e, tuple):
        return False
    if e[0] == "call" and e[1] in _AGGS:
        return True
    return any(_has_agg(x) for x in e[1:] if isinstance(x, (tuple, list)))


class _Scope:
    """Name resolution: pattern bindings (node/rel vars) before the
    first WITH; plain output columns after each WITH/aggregation."""

    def __init__(
        self,
        node_cols: dict[str, str] | None = None,
        rel_cols: dict[str, dict[str, str]] | None = None,
        columns: set[str] | None = None,
        rel_markers: dict[str, str] | None = None,
    ):
        self.node_cols = node_cols or {}
        self.rel_cols = rel_cols or {}
        self.flat = node_cols is None  # post-WITH: bare column scope
        self.columns = columns  # known output columns in flat scope
        # per-relationship presence marker (null when an OPTIONAL
        # MATCH found nothing) — what count(r) counts
        self.rel_markers = rel_markers or {}

    def var(self, name: str) -> Column:
        if not self.flat and name in self.node_cols:
            return F.col(self.node_cols[name])
        if not self.flat and name in self.rel_cols:
            raise ValueError(
                f"cypher: relationship {name!r} is not a value — "
                "reference a property (e.g. "
                f"{name}.{next(iter(self.rel_cols[name]), 'prop')}) "
                "or count it"
            )
        if self.flat and self.columns is not None and name not in self.columns:
            raise ValueError(
                f"cypher: unknown name {name!r} "
                f"(carried columns: {sorted(self.columns)})"
            )
        return F.col(name)

    def prop(self, var: str, prop: str) -> Column:
        if not self.flat:
            if var in self.rel_cols:
                cols = self.rel_cols[var]
                if prop not in cols:
                    raise ValueError(
                        f"cypher: relationship {var!r} has no property "
                        f"{prop!r} (has {sorted(cols)})"
                    )
                return F.col(cols[prop])
            if var in self.node_cols:
                if prop != "name":
                    raise ValueError(
                        "cypher: node variables expose only .name "
                        "(identity) in this graph model"
                    )
                return F.col(self.node_cols[var])
            raise ValueError(f"cypher: unknown variable {var!r}")
        # post-WITH: an unaliased dotted item became a column whose
        # NAME contains the dot (`WITH a.name, ...` → column "a.name"),
        # and a carried node variable is its identity value, so `.name`
        # on it is the column itself (WITH bow ... RETURN bow.name)
        dotted = f"{var}.{prop}"
        if self.columns is not None:
            if dotted in self.columns:
                return F.col(f"`{dotted}`")
            if var in self.columns and prop == "name":
                return F.col(var)
            raise ValueError(
                f"cypher: {dotted!r} resolves to no carried column "
                f"(have {sorted(self.columns)})"
            )
        if prop != "name":
            raise ValueError(
                "cypher: only .name resolves on carried variables"
            )
        return F.col(var)


def _boolify(c: Column, e: Any) -> Column:
    """Cypher truthiness for non-boolean predicate positions (the
    reference writes ``WHEN r.isWicket THEN``, an int column)."""
    if isinstance(e, tuple) and e[0] in ("cmp", "and", "or"):
        return c
    return c.cast("boolean")


def _compile_expr(e: Any, scope: _Scope, params: dict[str, Any]) -> Column:
    kind = e[0]
    if kind == "lit":
        v = e[1]
        if isinstance(v, tuple) and v[0] == "param":
            if v[1] not in params:
                raise ValueError(f"cypher: missing parameter ${v[1]}")
            return F.lit(params[v[1]])
        return F.lit(v)
    if kind == "var":
        return scope.var(e[1])
    if kind == "prop":
        return scope.prop(e[1], e[2])
    if kind == "cmp":
        _, op, a, b = e
        ca, cb = _compile_expr(a, scope, params), _compile_expr(b, scope, params)
        return {
            "=": ca == cb, "<>": ca != cb, "<": ca < cb,
            "<=": ca <= cb, ">": ca > cb, ">=": ca >= cb,
        }[op]
    if kind in ("and", "or"):
        ca = _boolify(_compile_expr(e[1], scope, params), e[1])
        cb = _boolify(_compile_expr(e[2], scope, params), e[2])
        return (ca & cb) if kind == "and" else (ca | cb)
    if kind == "arith":
        _, op, a, b = e
        ca, cb = _compile_expr(a, scope, params), _compile_expr(b, scope, params)
        return {
            "+": ca + cb, "-": ca - cb, "*": ca * cb, "/": ca / cb,
        }[op]
    if kind == "case":
        _, whens, other = e
        out = None
        for cond, val in whens:
            c = _boolify(_compile_expr(cond, scope, params), cond)
            v = _compile_expr(val, scope, params)
            out = F.when(c, v) if out is None else out.when(c, v)
        if other is not None:
            out = out.otherwise(_compile_expr(other, scope, params))
        return out
    if kind == "call":
        _, name, args, distinct = e
        if name in _AGGS:
            if name == "count":
                if not args or args[0][0] == "star":
                    return F.count(F.lit(1))
                # count(r) over a bound relationship: counts rows where
                # the relationship matched (marker null under a failed
                # OPTIONAL MATCH, always 1 on an inner pattern)
                a0 = args[0]
                if (
                    a0[0] == "var"
                    and not scope.flat
                    and a0[1] in scope.rel_cols
                ):
                    marker = scope.rel_markers.get(a0[1])
                    return (
                        F.count(F.col(marker)) if marker else F.count(F.lit(1))
                    )
                inner = _compile_expr(args[0], scope, params)
                return (
                    F.count_distinct(inner) if distinct else F.count(inner)
                )
            inner = _compile_expr(args[0], scope, params)
            return {
                "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max
            }[name](inner)
        if name == "tofloat":
            return _compile_expr(args[0], scope, params).cast("double")
        if name == "toint":
            return _compile_expr(args[0], scope, params).cast("long")
        if name == "abs":
            return F.abs(_compile_expr(args[0], scope, params))
        raise ValueError(f"cypher: unsupported function {name}()")
    if kind == "star":
        raise ValueError("cypher: '*' only valid inside count(*)")
    raise ValueError(f"cypher: cannot compile {e!r}")


def _project_or_aggregate(
    df: DataFrame, items: list[_Item], scope: _Scope, params: dict[str, Any]
) -> DataFrame:
    """Cypher WITH/RETURN semantics: if any item aggregates, the
    non-aggregate items form the grouping key (implicit GROUP BY)."""
    names = [it.alias or it.text for it in items]
    if any(_has_agg(it.expr) for it in items):
        keys = [
            _compile_expr(it.expr, scope, params).alias(n)
            for it, n in zip(items, names)
            if not _has_agg(it.expr)
        ]
        aggs = [
            _compile_expr(it.expr, scope, params).alias(n)
            for it, n in zip(items, names)
            if _has_agg(it.expr)
        ]
        grouped = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
        # restore the item order of the clause; backticks because an
        # unaliased dotted item's NAME contains the dot
        return grouped.select(*[F.col(f"`{n}`") for n in names])
    return df.select(
        *[
            _compile_expr(it.expr, scope, params).alias(n)
            for it, n in zip(items, names)
        ]
    )


def _build_pattern_frame(
    edges: DataFrame,
    nodes: list[_Node],
    hops: list[_Hop],
    params: dict[str, Any],
) -> tuple[DataFrame, _Scope]:
    if not hops:
        raise ValueError("cypher: MATCH needs at least one relationship")
    if len(hops) > 2:
        raise ValueError("cypher: at most 2 hops supported")
    node_cols: dict[str, str] = {}
    rel_cols: dict[str, dict[str, str]] = {}
    rel_markers: dict[str, str] = {}
    props = [c for c in edges.columns if c not in ("src", "dst")]
    frames: list[DataFrame] = []
    for i, hop in enumerate(hops):
        rel = hop.rel or f"__r{i}"
        if (hop.minlen, hop.maxlen) == (1, 1):
            sel = [
                F.col("src").alias(f"__v_{hop.left}"),
                F.col("dst").alias(f"__v_{hop.right}"),
                F.lit(1).alias(f"__m_{rel}"),
            ]
            for p in props:
                sel.append(F.col(p).alias(f"__p_{rel}_{p}"))
            frames.append(edges.select(*sel))
            rel_cols[rel] = {p: f"__p_{rel}_{p}" for p in props}
        else:
            # variable-length hop: one row per PATH of each length in
            # [minlen, maxlen] (Cypher's row-per-path semantics), as a
            # union of chained equi-joins; length-L reuses the L-1
            # prefix, so the plan is maxlen-1 joins, not quadratic.
            # Anchor filters on the start node push down through the
            # union into every chain's first edge scan (Catalyst).
            # SCALE: rows grow with the path count — keep maxlen
            # small and anchor one end; for reachability (distinct
            # endpoints, no path multiplicity) prefer the iterative
            # frontier ops (graph.connected_components, $graphLookup).
            if hop.maxlen > 2:
                # Cypher's relationship-uniqueness rule (no edge
                # traversed twice in one path) needs every step's
                # endpoints carried for pairwise comparison beyond
                # length 2 — not implemented; refuse rather than
                # overcount (e.g. a→b→a→b on a reciprocal edge pair).
                raise ValueError(
                    "cypher: variable-length paths support at most "
                    "*..2 (relationship uniqueness beyond length 2 "
                    "is not implemented)"
                )
            chain = edges.select(
                F.col("src").alias("__s"), F.col("dst").alias("__e")
            )
            per_len: list[DataFrame] = []
            if hop.minlen == 1:
                per_len.append(chain)
            for length in range(2, hop.maxlen + 1):
                step = edges.select(
                    F.col("src").alias("__e"),
                    F.col("dst").alias("__e_next"),
                )
                # relationship uniqueness at length 2: the two edges
                # (s,m) and (m,e) coincide only when s==m==e (a
                # self-loop traversed twice) — filter that path out
                chain = (
                    chain.join(step, "__e")
                    .filter(
                        ~(
                            (F.col("__s") == F.col("__e"))
                            & (F.col("__e") == F.col("__e_next"))
                        )
                    )
                    .select("__s", F.col("__e_next").alias("__e"))
                )
                if length >= hop.minlen:
                    per_len.append(chain)
            vl = per_len[0]
            for extra in per_len[1:]:
                vl = vl.unionByName(extra)
            frames.append(
                vl.select(
                    F.col("__s").alias(f"__v_{hop.left}"),
                    F.col("__e").alias(f"__v_{hop.right}"),
                    F.lit(1).alias(f"__m_{rel}"),
                )
            )
            rel_cols[rel] = {}  # a rel LIST has no scalar properties
        node_cols.setdefault(hop.left, f"__v_{hop.left}")
        node_cols.setdefault(hop.right, f"__v_{hop.right}")
        rel_markers[rel] = f"__m_{rel}"
    df = frames[0]
    if len(frames) == 2:
        shared = [
            c for c in frames[0].columns
            if c.startswith("__v_") and c in frames[1].columns
        ]
        if not shared:
            raise ValueError("cypher: 2-hop pattern must share a variable")
        df = df.join(frames[1], shared)
    scope = _Scope(node_cols, rel_cols, rel_markers=rel_markers)
    # node property-map filters ({name: $x}): name is the identity
    for n in nodes:
        for k, v in n.props.items():
            if k != "name":
                raise ValueError(
                    "cypher: node maps support only {name: ...} here"
                )
            if isinstance(v, tuple) and v[0] == "param":
                if v[1] not in params:
                    raise ValueError(f"cypher: missing parameter ${v[1]}")
                val = params[v[1]]
            else:
                val = v
            df = df.filter(F.col(node_cols[n.var]) == F.lit(val))
    return df, scope


_PAGERANK_RE = re.compile(
    r"(?is)^\s*CALL\s+gds\.pageRank\.stream\(\s*'[^']*'\s*\)\s*"
    r"YIELD\s+nodeId\s*,\s*score\s*"
    r"RETURN\s+gds\.util\.asNode\(nodeId\)\.name\s+AS\s+(\w+)\s*,\s*"
    r"score(?:\s+AS\s+(\w+))?\s*"
    r"(?:ORDER\s+BY\s+score\s+DESC)?\s*(?:LIMIT\s+(\d+))?\s*;?\s*$"
)

_PROJECT_RE = re.compile(
    r"(?is)^\s*CALL\s+gds\.graph\.project\(",
)


def compile_cypher(
    query: str,
    edges: DataFrame,
    params: dict[str, Any] | None = None,
) -> DataFrame:
    """Compile one Cypher statement against an edge DataFrame.

    ``edges`` must have ``src``/``dst`` plus any relationship
    property columns; ``params`` supplies ``$name`` values (P17).

    For the duel graph, pass ``operators.graph.faced_edges``: the
    projection is built once per input and persisted, the analogue of
    the GDS named graph the reference's statements run against. The
    first statement that executes pays the full dedup of every
    delivery and fills the cache, and every later statement reads the
    cached FACED set. An anchored one-off statement, such as the duel
    query, therefore no longer pushes its ``src``/``dst`` filter below
    the dedup: it filters the cached projection.
    """
    params = params or {}
    m = _PAGERANK_RE.match(query)
    if m:
        from cricket_analytics_nosql_spark.operators.graph import pagerank

        name_alias, score_alias, limit = (
            m.group(1), m.group(2) or "score", m.group(3)
        )
        collapsed = edges.groupBy("src", "dst").agg(
            F.count(F.lit(1)).alias("weight")
        )
        pr = pagerank(collapsed).select(
            F.col("id").alias(name_alias),
            F.round("pagerank", 6).alias(score_alias),
        ).orderBy(F.desc(score_alias), F.asc(name_alias))
        return pr.limit(int(limit)) if limit else pr
    if _PROJECT_RE.match(query):
        # G1: the projection IS the collapsed weighted edge frame
        return edges.groupBy("src", "dst").agg(
            F.count(F.lit(1)).alias("weight")
        )

    p = _Parser(_tokenize(query.rstrip().rstrip(";")))
    p.eat("kw", "match")
    nodes, hops = p.pattern()
    df, scope = _build_pattern_frame(edges, nodes, hops, params)
    if p.opt("kw", "where"):
        e = p.expr()
        df = df.filter(_boolify(_compile_expr(e, scope, params), e))
    # OPTIONAL MATCH: Cypher's left join — the optional pattern (with
    # its own WHERE applied BEFORE the join, per Cypher semantics:
    # non-matching rows survive with nulls) joins on the node
    # variables shared with the mandatory pattern.
    opt_idx = 0
    while p.at("id") and p.peek().text.lower() == "optional":
        p.eat("id")
        p.eat("kw", "match")
        o_nodes, o_hops = p.pattern()
        o_df, o_scope = _build_pattern_frame(edges, o_nodes, o_hops, params)
        if p.opt("kw", "where"):
            e = p.expr()
            o_df = o_df.filter(
                _boolify(_compile_expr(e, o_scope, params), e)
            )
        # join ONLY on shared node variables — anonymous relationships
        # in both patterns default to the same internal name (__r0),
        # and joining on their marker/property columns would demand
        # the optional edge's payload equal the mandatory one's
        shared = [
            c for c in df.columns
            if c.startswith("__v_") and c in o_df.columns
        ]
        if not shared:
            raise ValueError(
                "cypher: OPTIONAL MATCH must share a variable with MATCH"
            )
        # rename colliding non-key columns (they are distinct Cypher
        # variables that happen to share an internal name)
        renames = {
            c: f"{c}__opt{opt_idx}"
            for c in o_df.columns
            if c not in shared and c in df.columns
        }
        opt_idx += 1
        for old, new in renames.items():
            o_df = o_df.withColumnRenamed(old, new)
        o_rel_cols = {
            r: {pr: renames.get(c, c) for pr, c in cols.items()}
            for r, cols in o_scope.rel_cols.items()
        }
        o_rel_markers = {
            r: renames.get(c, c) for r, c in o_scope.rel_markers.items()
        }
        df = df.join(o_df, shared, "left")
        scope = _Scope(
            {**o_scope.node_cols, **scope.node_cols},
            {**o_rel_cols, **scope.rel_cols},
            rel_markers={**o_rel_markers, **scope.rel_markers},
        )
    while p.opt("kw", "with"):
        items = p.items()
        df = _project_or_aggregate(df, items, scope, params)
        scope = _Scope(columns=set(df.columns))  # post-WITH column scope
        if p.opt("kw", "where"):
            e = p.expr()
            df = df.filter(_boolify(_compile_expr(e, scope, params), e))
    p.eat("kw", "return")
    items = p.items()
    df = _project_or_aggregate(df, items, scope, params)
    out_scope = _Scope(columns=set(df.columns))
    if p.opt("kw", "order"):
        p.eat("kw", "by")
        keys = []
        while True:
            e = p.expr()
            col = _compile_expr(e, out_scope, params)
            if p.opt("kw", "desc"):
                keys.append(col.desc())
            else:
                p.opt("kw", "asc")
                keys.append(col.asc())
            if not p.opt("sym", ","):
                break
        df = df.orderBy(*keys)
    if p.opt("kw", "limit"):
        df = df.limit(int(p.eat("num").text))
    if p.peek() is not None:
        raise ValueError(
            f"cypher: trailing tokens from {p.peek().text!r}"
        )
    return df
