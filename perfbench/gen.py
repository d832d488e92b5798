"""Seeded benchmark inputs, generated once per (seed, size) and cached.

Two inputs:

- ``cricsheet_dump``: a directory of Cricsheet-shaped match files. A
  fixed mix of T20, ODI and Test matches (files of roughly 40 KB to
  0.5 MB), played by a skewed population of 2,400 players: a few
  teams play most matches and a few players in each squad play most
  balls. The two delivery spellings, the innings label drift, the
  missing ``ball`` and missing ``runs.total`` variants and the corrupt
  payload are taken from ``sources/cricket_fixtures.py``. About 1% of
  the files are corrupt.
- ``corpus``: ``documents.parquet`` and ``embeddings.parquet`` in the
  ``sources/tables.py`` schemas, with planted exact-duplicate and
  near-duplicate document families and near-duplicate vector families.

Each input directory holds ``truth.json``, the generator's ground truth,
written last: a directory without it is incomplete and is regenerated.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from cricket_analytics_nosql_spark.sources.cricket_fixtures import (
    CORRUPT_FILE,
    DEMO_MATCHES,
)

CACHE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_cache"
)
# Cached inputs kept per kind; older ones are deleted when a new one is made.
KEEP = 6

N_TEAMS = 48
SQUAD = 50
_SYL = [
    "ka", "lo", "ra", "mi", "shu", "de", "van", "pa", "ti", "bo",
    "ne", "gu", "sa", "rio", "ha", "zen", "mor", "li", "tu", "che",
]
_INITIALS = [a + b for a in "ABDGJKMRST" for b in "ACJKMPRS"]


def _player_name(p: int) -> str:
    s = _SYL[p % 20] + _SYL[(p // 20) % 20] + _SYL[(p // 400) % 20]
    return f"{_INITIALS[(p * 7) % len(_INITIALS)]} {s.capitalize()}"


PLAYERS = [_player_name(p) for p in range(N_TEAMS * SQUAD)]
TEAMS = [f"Team {t:02d}" for t in range(N_TEAMS)]


def _spelling(innings: dict) -> tuple[str, str, str, str]:
    """(innings label, batter, non-striker, wicket) keys of one fixture
    innings."""
    ds = [d for o in innings["overs"] for d in o["deliveries"]]
    label = "innings" if "innings" in innings else "number"
    bat = "batter" if "batter" in ds[0] else "striker"
    non = "non_striker" if "non_striker" in ds[0] else "nonStriker"
    wkt = next(k for d in ds for k in ("wickets", "wicket") if k in d)
    return label, bat, non, wkt


# The fixture's first innings uses the v1.1.0 spelling (batter,
# non_striker, a wickets list), its second the v1.0.0 one (striker,
# nonStriker, one wicket dict, innings labelled by "number").
SPELLINGS = [_spelling(inn) for inn in DEMO_MATCHES["a.json"]["innings"]]
VERSIONS = [
    DEMO_MATCHES["a.json"]["meta"]["data_version"],
    DEMO_MATCHES["b.json"]["meta"]["data_version"],
]

# match type -> (share of matches, innings, overs per innings range)
MATCH_TYPES = {
    "T20": (0.5, 2, (20, 20)),
    "ODI": (0.35, 2, (50, 50)),
    "Test": (0.15, 4, (80, 150)),
}
# cumulative outcome thresholds of one delivery: extras, then batter runs
_OUTCOMES = [
    (0.05, 0, 1), (0.48, 0, 0), (0.78, 1, 0), (0.86, 2, 0),
    (0.87, 3, 0), (0.96, 4, 0), (1.0, 6, 0),
]
WICKET_P = 0.022


def _skewed_pick(rng: random.Random, n: int, k: int, power: float) -> list[int]:
    """k distinct indices from range(n), index i weighted 1/(i+1)^power
    (Efraimidis-Spirakis weighted sampling without replacement)."""
    keys = [rng.random() ** ((i + 1) ** power) for i in range(n)]
    return sorted(range(n), key=keys.__getitem__, reverse=True)[:k]


def _delivery(sp, bat, non, bowler, ball, rb, ex, wicket, drop_ball, drop_total):
    _, kb, kn, kw = sp
    parts = [f'"{kb}": "{bat}", "{kn}": "{non}", "bowler": "{bowler}"']
    if not drop_ball:
        parts.append(f'"ball": {ball}')
    if drop_total:
        parts.append(f'"runs": {{"batter": {rb}, "extras": {ex}}}')
    else:
        parts.append(
            f'"runs": {{"batter": {rb}, "extras": {ex}, "total": {rb + ex}}}'
        )
    if wicket:
        w = f'{{"player_out": "{bat}", "kind": "caught"}}'
        parts.append(f'"{kw}": [{w}]' if kw == "wickets" else f'"{kw}": {w}')
    return "{" + ", ".join(parts) + "}"


def _innings(rng, sp, no, team, batters, bowlers, overs, stats):
    """One innings as JSON text; updates stats (balls, runs, wickets)."""
    order = list(batters)
    striker, non, nxt = order[0], order[1], 2
    over_txt = []
    done = False
    for ov in range(overs):
        bowler = bowlers[ov % len(bowlers)]
        n_del = 7 if rng.random() < 0.15 else 6
        # one delivery in ~6% of overs lacks its ball number (drift);
        # it is always the first, so (over, ball) stays a unique key
        drop_first_ball = rng.random() < 0.06
        dels = []
        for b in range(1, n_del + 1):
            u = rng.random()
            for thr, rb, ex in _OUTCOMES:
                if u < thr:
                    break
            wicket = rng.random() < WICKET_P
            drop_total = rng.random() < 0.05
            dels.append(
                _delivery(
                    sp, PLAYERS[striker], PLAYERS[non], PLAYERS[bowler], b,
                    rb, ex, wicket, drop_first_ball and b == 1, drop_total,
                )
            )
            stats[0] += 1
            stats[1] += rb + ex
            stats[2] += wicket
            if wicket:
                if nxt >= len(order):
                    done = True
                    break
                striker, nxt = order[nxt], nxt + 1
            elif rb % 2:
                striker, non = non, striker
        over_txt.append(
            '{"over": %d, "deliveries": [\n      %s]}'
            % (ov, ",\n      ".join(dels))
        )
        striker, non = non, striker
        if done:
            break
    label = sp[0]
    return (
        '{"team": "%s", "%s": %d, "overs": [\n    %s]}'
        % (team, label, no, ",\n    ".join(over_txt))
    )


def _match(rng: random.Random, seed: int, i: int, mtype: str, stats: list) -> str:
    _, n_inn, (lo, hi) = MATCH_TYPES[mtype]
    t1, t2 = _skewed_pick(rng, N_TEAMS, 2, 0.8)
    squads = {}
    for t in (t1, t2):
        picks = _skewed_pick(rng, SQUAD, 11, 1.1)
        squads[t] = [t * SQUAD + p for p in picks]
    v = 0 if rng.random() < 0.7 else 1
    sp = SPELLINGS[v]
    inns = []
    for k in range(n_inn):
        bat_t, bowl_t = (t1, t2) if k % 2 == 0 else (t2, t1)
        inns.append(
            _innings(
                rng, sp, k + 1, TEAMS[bat_t], squads[bat_t],
                squads[bowl_t][6:], rng.randint(lo, hi), stats,
            )
        )
    mid = f"S{seed}-M{i:06d}"
    ident = (
        f'"match_id": "{mid}"' if v == 0 else f'"registry": {{"match": "{mid}"}}'
    )
    day = 1 + i % 28
    info = (
        f'{{{ident}, "dates": ["20{10 + i % 14}-{1 + i % 12:02d}-{day:02d}"], '
        f'"team_type": "international", "match_type": "{mtype}", '
        f'"gender": "male", "teams": ["{TEAMS[t1]}", "{TEAMS[t2]}"], '
        f'"venue": "Ground {i % 97}", "city": "City {i % 41}", '
        f'"officials": {{"umpires": ["U{i % 13}", "U{(i + 5) % 13}"]}}, '
        f'"outcome": {{"winner": "{TEAMS[t1]}", "by": {{"runs": {1 + i % 90}}}}}}}'
    )
    return (
        f'{{"meta": {{"data_version": "{VERSIONS[v]}"}},\n "info": {info},\n'
        f' "innings": [\n  ' + ",\n  ".join(inns) + "]}\n"
    )


def _fresh_dir(kind: str, key: str) -> tuple[str, bool]:
    """The cache directory of one input and whether it is complete."""
    path = os.path.join(CACHE_DIR, f"{kind}-{key}")
    if os.path.exists(os.path.join(path, "truth.json")):
        os.utime(path)
        return path, True
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    # evict the least recently used inputs of this kind
    same = sorted(
        (os.path.join(CACHE_DIR, d) for d in os.listdir(CACHE_DIR)
         if d.startswith(kind + "-") and d != os.path.basename(path)),
        key=os.path.getmtime,
    )
    for old in same[: max(0, len(same) - (KEEP - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    return path, False


def _write_truth(path: str, truth: dict) -> dict:
    with open(os.path.join(path, "truth.json.tmp"), "w") as fh:
        json.dump(truth, fh)
    os.replace(
        os.path.join(path, "truth.json.tmp"), os.path.join(path, "truth.json")
    )
    return truth


def read_truth(path: str) -> dict:
    """The ground truth of an input, given its directory or (for a
    Cricsheet dump) its files directory."""
    if not os.path.exists(os.path.join(path, "truth.json")):
        path = os.path.dirname(path)
    with open(os.path.join(path, "truth.json")) as fh:
        return json.load(fh)


def cricsheet_dump(seed: int, n_matches: int) -> str:
    """Directory of ``n_matches`` match files (about 1% of them corrupt).
    Its parent holds ``truth.json``: good matches, balls, corrupt files,
    JSON bytes, total runs and wicket balls."""
    path, ready = _fresh_dir("cricsheet", f"s{seed}-n{n_matches}")
    files = os.path.join(path, "files")
    if ready:
        return files
    os.makedirs(files)
    t0 = time.perf_counter()
    rng = random.Random(seed)
    n_corrupt = max(1, n_matches // 100)
    types = []
    for mtype, (share, _, _) in MATCH_TYPES.items():
        types += [mtype] * round(share * n_matches)
    types = (types + ["T20"] * n_matches)[:n_matches]
    rng.shuffle(types)
    corrupt = set(rng.sample(range(n_matches), n_corrupt))
    good_stats = [0, 0, 0]
    n_bytes = 0
    for i, mtype in enumerate(types):
        stats = [0, 0, 0]
        text = _match(rng, seed, i, mtype, stats)
        if i in corrupt:
            # half the corrupt files are the fixture's payload, half are
            # real matches cut off mid-file
            text = CORRUPT_FILE[1] if i % 2 else text[: len(text) * 3 // 5]
        else:
            good_stats = [a + b for a, b in zip(good_stats, stats)]
        data = text.encode()
        n_bytes += len(data)
        with open(os.path.join(files, f"{i:06d}.json"), "wb") as fh:
            fh.write(data)
    return _write_truth(path, {
        "matches": n_matches - n_corrupt,
        "balls": good_stats[0],
        "runs_total": good_stats[1],
        "wicket_balls": good_stats[2],
        "corrupt": n_corrupt,
        "json_bytes": n_bytes,
        "gen_s": time.perf_counter() - t0,
    }) and files


WORDS = (
    "batch window spark order data column agg join small line customer "
    "query value table key scan slow fast big row part hash merge filter "
    "group sort stream vector over bowler batter wicket pitch innings run "
    "boundary match ground"
).split()
LANGS = ["en"] * 5 + ["es", "de", "fr", "zh"]
DIM = 64


def corpus(seed: int, n_docs: int, n_vecs: int) -> str:
    """Directory with ``documents.parquet`` and ``embeddings.parquet``
    plus ``truth.json`` (rows and planted families)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cricket_analytics_nosql_spark.operators.text import STOPWORDS
    from cricket_analytics_nosql_spark.sources.tables import EXPECTED, TABLES

    _ARROW_TYPES = {
        "int": pa.int32(), "bigint": pa.int64(), "double": pa.float64(),
        "string": pa.string(), "timestamp_ntz": pa.timestamp("us"),
    }
    path, ready = _fresh_dir("corpus", f"s{seed}-d{n_docs}-v{n_vecs}")
    if ready:
        return path
    t0 = time.perf_counter()
    rng = random.Random(seed)
    vocab = WORDS + STOPWORDS * 2
    texts: list[str] = []
    exact_fams = near_fams = 0
    while len(texts) < n_docs:
        words = rng.choices(vocab, k=rng.randint(15, 90))
        texts.append(" ".join(words))
        u = rng.random()
        if u < 0.02:  # exact-duplicate family
            exact_fams += 1
            texts += [texts[-1]] * rng.randint(1, 3)
        elif u < 0.06 and len(words) >= 40:  # near-duplicate family
            near_fams += 1
            for _ in range(rng.randint(1, 3)):
                w = list(words)
                w[rng.randrange(len(w))] = rng.choice(WORDS)
                texts.append(" ".join(w))
    texts = texts[:n_docs]
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in texts],
        "source": [f"src{rng.randrange(20)}" for _ in texts],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(path, "documents.parquet"))

    nrng = np.random.default_rng(seed)
    vecs = nrng.standard_normal((n_vecs, DIM))
    vec_fams = 0
    i = 0
    while i < n_vecs:
        if nrng.random() < 0.03:
            size = int(nrng.integers(2, 4))
            base = vecs[i]
            for j in range(i + 1, min(i + size, n_vecs)):
                noise = nrng.standard_normal(DIM)
                vecs[j] = base / np.linalg.norm(base) + 0.35 * noise / np.sqrt(DIM)
            vec_fams += 1
            i += size
        else:
            i += 1
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, 10, n_vecs), pa.int32()),
    })
    pq.write_table(emb, os.path.join(path, "embeddings.parquet"))
    # Empty stand-ins for the other star-schema tables, so the parity
    # tool's DuckDB connection (one view per table) opens on this dir.
    for name in TABLES:
        if name not in ("documents", "embeddings"):
            fields = [
                (c, _ARROW_TYPES[t]) for c, t in EXPECTED.get(name, {}).items()
            ] or [("id", pa.int64())]
            pq.write_table(
                pa.schema(fields).empty_table(),
                os.path.join(path, f"{name}.parquet"),
            )
    return _write_truth(path, {
        "documents": n_docs,
        "embeddings": n_vecs,
        "exact_families": exact_fams,
        "near_families": near_fams,
        "vector_families": vec_fams,
        "gen_s": time.perf_counter() - t0,
    }) and path
