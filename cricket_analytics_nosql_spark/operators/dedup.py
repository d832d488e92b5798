"""Deduplication operators for LLM training-data pipelines —
SURVEY.md §2.13 / BASELINE.md mandate, over the ``documents`` table.

Four tiers, by cost and fuzziness:

1. **Exact** — content-hash groupBy. One shuffle on a 16-byte key.
2. **N-gram Jaccard (exact near-dup)** — inverted-index self-join on
   shared 3-gram shingles. The index prunes the O(n²) pair space to
   docs that share at least one shingle; Jaccard needs only the
   intersection size plus per-doc set sizes, so the join carries
   (doc, shingle) pairs, never texts. At 100 TB the scale levers are
   a document-frequency cap on stop-shingles (drops the skewed hot
   keys) and banding — both composable with this plan.
3. **MinHash + LSH** — fixed-seed xxhash64 signatures, banded into
   buckets; bucket-join yields candidates, which are *verified* with
   the exact Jaccard — so precision is exact and only recall depends
   on (bands × rows). Hash-seed-dependent → no SQL oracle; the test
   suite checks it reproduces the exact-Jaccard pairs on fixtures.
4. **SimHash** — 64-bit sign-of-weighted-bit-sums sketch computed
   natively (64 conditional aggregates over exploded tokens — wide
   but map-side combinable), candidates via 16-bit band collisions,
   verified by hamming distance ≤ k with ``bit_count(xor)``.

The same shingle convention as text.py keeps every tier comparable.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.functions.scalar import md5_u32
from cricket_analytics_nosql_spark.operators.spec import QuerySpec
from cricket_analytics_nosql_spark.operators.text import (
    _STOP_SQL,
    quality_col,
    shingles_col,
    tokens_col,
)
from cricket_analytics_nosql_spark.session import fixed_plan, loop_partitions
from cricket_analytics_nosql_spark.sources.tables import fan_out, load_table


# ---------------------------------------------------------------------------
# 1. Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary: per content hash keep the smallest doc_id
    (the canonical survivor), count the copies. The A9 MERGE shape
    (neo4j_loader.py:58-65) applied to corpus hygiene."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy(F.desc("n_copies"), F.asc("keep_doc_id"))
        .limit(100)
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS h, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY n_copies DESC, keep_doc_id ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# 2. Exact n-gram Jaccard near-dup via inverted index
# ---------------------------------------------------------------------------

# persisted shingle indexes, keyed by the semantic hash of their
# input frame (collisions disambiguated with sameSemantics)
_SHINGLE_CACHE: dict[int, tuple[DataFrame, DataFrame]] = {}


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded pairs — the inverted index rows.
    Fanned out first: shingling is the CPU-dense step and must not
    run on however few splits the input file happened to have.

    Persisted (MEMORY_AND_DISK — spillable, so safe at scale): every
    caller fans the index into ≥2 consumers (sizes + both join
    sides, or signatures + verification), and without a persist each
    consumer re-runs the tokenize→shingle→explode pipeline — the
    CPU-dominant step — from the raw text. At 100 TB this frame is
    the one you'd materialize as a table; in-session persist is the
    same decision one scope smaller.

    MEMOIZED per semantically-identical input (same discipline as
    the streaming staging memo): without this, every call — the
    jaccard and minhash queries each call it, and a bench repeats
    each query 3× — persisted a FRESH copy of the same index and
    never released it, accumulating storage until eviction pressure
    made run times flap (observed 0.95 → 3.6 s on the same query in
    one bench session). One input, one persisted index, however many
    queries consume it. Caveats shared with any cache of scanned
    data (including Spark's own persist): rewriting the underlying
    files in-process serves the cached index. A dead cached entry
    (stopped session) is detected and rebuilt."""
    key = docs.semanticHash()
    hit = _SHINGLE_CACHE.get(key)
    if hit is not None:
        try:
            if hit[0].sameSemantics(docs):
                return hit[1]
        except Exception:  # cached frame from a stopped SparkSession
            del _SHINGLE_CACHE[key]
    sh = fan_out(docs).select(
        "doc_id", F.explode(shingles_col(tokens_col(F.col("text")))).alias("s")
    ).persist()
    _SHINGLE_CACHE[key] = (docs, sh)
    return sh


def jaccard_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """All doc pairs with shingle-set Jaccard ≥ threshold — exact.

    intersection(a,b) = count of shared shingles (groupBy after the
    index self-join); |a|,|b| from a per-doc size frame; the `<`
    ordering halves the symmetric pair space before the group.
    """
    sh = _doc_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("d1"), "s")
    b = sh.select(F.col("doc_id").alias("d2"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .select(
            "d1",
            "d2",
            F.round(
                F.col("i").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many EXACT-duplicate content hashes they share and how many
    documents that implicates — the readout that catches one scrape
    re-crawling another's pages before both copies reach training
    (``decontaminate`` guards train-vs-benchmark; this guards
    source-vs-source).

    Texts never move: the join runs on 16-byte md5 keys of the
    per-(hash, source) rollup — |distinct hashes| rows a side, the
    exact-dedup posture. Symmetric pairs halved by source ordering."""
    docs = load_table(spark, sf_dir, "documents")
    hs = (
        docs.select(F.md5(F.col("text")).alias("h"), "source")
        .groupBy("h", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = hs.select(
        "h", F.col("source").alias("s1"), F.col("n").alias("n1")
    )
    b = hs.select(
        "h", F.col("source").alias("s2"), F.col("n").alias("n2")
    )
    return (
        a.join(b, "h")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("shared_hashes"),
            F.sum(F.col("n1") + F.col("n2")).alias("docs_implicated"),
        )
        .orderBy(F.desc("shared_hashes"), F.asc("s1"), F.asc("s2"))
    )


ORACLE_SOURCE_OVERLAP = """
WITH hs AS (
  SELECT md5(text) AS h, source, COUNT(*) AS n
  FROM documents GROUP BY h, source
)
SELECT a.source AS s1, b.source AS s2,
       COUNT(*) AS shared_hashes,
       CAST(SUM(a.n + b.n) AS BIGINT) AS docs_implicated
FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
GROUP BY s1, s2
ORDER BY shared_hashes DESC, s1 ASC, s2 ASC
"""


CONTAIN_T = 0.8
# Near-dup Jaccard threshold shared by the Spark sides AND (via
# f-string interpolation) every oracle that spells the same cut —
# editing it can never desynchronize the two dialects (the ADVICE r8
# BM25 lesson, applied before it recurs).
JACCARD_TAU = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED near-dup detection: shingle containment
    ``c(a→b) = |A∩B| / |A|`` ≥ {CONTAIN_T} — the measure that
    catches a short document quoted inside a long one, which
    symmetric Jaccard misses by construction (J ≈ |A|/|B| → 0 as
    the host grows).  The quote/boilerplate-absorption case is the
    contamination mode Jaccard-only dedup pipelines ship to
    training.

    Same inverted-index self-join as ``jaccard_pairs`` (shared-
    shingle cost, never all-pairs), emitting BOTH directions of
    each colliding pair; reports containment alongside Jaccard so
    the asymmetric hits (high c, low J) are visible. Integer
    intersection counts; one rounded division per measure."""
    sh = _doc_shingles(load_table(spark, sf_dir, "documents"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("d1"), "s")
    b = sh.select(F.col("doc_id").alias("d2"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("d1") != F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .select(
            "d1",
            "d2",
            F.round(F.col("i").cast("double") / F.col("n1"), 6).alias(
                "containment"
            ),
            F.round(
                F.col("i").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("containment") >= CONTAIN_T)
        .orderBy(F.desc("containment"), F.asc("d1"), F.asc("d2"))
        .limit(200)
    )


ORACLE_DEDUP_CONTAINMENT = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY d1, d2
)
SELECT d1, d2,
       ROUND(CAST(i AS DOUBLE) / sa.n, 6) AS containment,
       ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE ROUND(CAST(i AS DOUBLE) / sa.n, 6) >= {CONTAIN_T}
ORDER BY containment DESC, d1 ASC, d2 ASC
LIMIT 200
"""


def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Jaccard ≥ 0.8 (the corpus plants ~0.99
    near-dup pairs), strongest first."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        jaccard_pairs(docs, JACCARD_TAU)
        .orderBy(F.desc("jaccard"), F.asc("d1"), F.asc("d2"))
        .limit(200)
    )


ORACLE_DEDUP_JACCARD = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON d1 = sa.doc_id
JOIN sizes sb ON d2 = sb.doc_id
WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {JACCARD_TAU}
ORDER BY jaccard DESC, d1 ASC, d2 ASC
LIMIT 200
"""


# ---------------------------------------------------------------------------
# 2b. Prefix-filtered Jaccard (PPJoin-family candidate generation)
# ---------------------------------------------------------------------------

def jaccard_pairs_prefix(
    docs: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """Same output as ``jaccard_pairs`` at threshold τ = t_num/t_den,
    via PREFIX FILTERING (Chaudhuri/Bayardo/Xiao's PPJoin family):
    J(x,y) ≥ τ forces an overlap of at least α_x = ⌈τ·|x|⌉ elements
    (J = i/(|x|+|y|−i) ≥ τ ⇒ i ≥ τ·max(|x|,|y|)), and the prefix
    lemma says two sets with overlap ≥ α, both sorted by ONE global
    order, must collide inside their first |·| − α + 1 elements. So
    only the prefixes enter the inverted-index self-join — with the
    global order chosen rarest-first (ascending document frequency),
    the indexed prefix tokens are the rare ones and the candidate
    blowup the full index pays on ubiquitous shingles never happens.
    This is the LOSSLESS version of the doc-freq cap the full-index
    path documents as its skew lever: same guarantee, no tuning knob.

    τ is a RATIONAL (t_num/t_den) so the prefix length is exact
    integer arithmetic — a float ⌈0.8·n⌉ rounds UP through the
    binary representation for some n, silently SHORTENING the prefix
    and losing pairs (conservative-direction errors would only cost
    time; this one costs recall, hence the fraction).

    Candidates are verified exactly against the full shingle SETS
    (``array_intersect`` of the two per-doc sorted arrays — the
    verification touches candidate pairs only, never the index).
    Scale: every stage is keyed (shingle or doc_id); the self-join
    input shrinks from Σ|d| to Σ(|d| − ⌈τ|d|⌉ + 1) ≈ (1−τ)·Σ|d| —
    at τ=0.8 an ~80% cut of the quadratic stage's input, and the
    rarity order cuts the per-key fan-out besides."""
    sh = _doc_shingles(docs)
    rarity = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(rarity, "s")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.asc("df"), F.asc("s")
                )
            ),
        )
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
    )
    # α = ⌈(t_num/t_den)·n⌉ exactly; prefix keeps pos ≤ n − α + 1
    alpha = (F.lit(t_num) * F.col("n") + F.lit(t_den - 1)) / F.lit(t_den)
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.floor(alpha) + 1
    ).select("doc_id", "s")
    cand = (
        prefix.select(F.col("doc_id").alias("d1"), "s")
        .join(prefix.select(F.col("doc_id").alias("d2"), "s"), "s")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    docsets = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("s")).alias("set"),
        F.count(F.lit(1)).alias("n"),
    )
    tau = F.lit(t_num) / F.lit(t_den)
    return (
        cand.join(
            docsets.select(
                F.col("doc_id").alias("d1"),
                F.col("set").alias("s1"),
                F.col("n").alias("n1"),
            ),
            "d1",
        )
        .join(
            docsets.select(
                F.col("doc_id").alias("d2"),
                F.col("set").alias("s2"),
                F.col("n").alias("n2"),
            ),
            "d2",
        )
        .withColumn(
            "i", F.size(F.array_intersect("s1", "s2")).cast("long")
        )
        .select(
            "d1",
            "d2",
            F.round(
                F.col("i").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
        .filter(
            F.col("i").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("i"))
            >= tau
        )
    )


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_jaccard`` recomputed through the prefix-filtered
    candidate path — same answer (the filter is lossless), same
    oracle, structurally cheaper quadratic stage."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        jaccard_pairs_prefix(docs, 4, 5)
        .orderBy(F.desc("jaccard"), F.asc("d1"), F.asc("d2"))
        .limit(200)
    )


# ---------------------------------------------------------------------------
# 3. MinHash + LSH (banded) with exact verification
# ---------------------------------------------------------------------------

def minhash_signatures(docs: DataFrame, num_hashes: int = 48) -> DataFrame:
    """(doc_id, sig: array<long>) — per seed, the min of
    xxhash64(seed ∥ shingle) over the doc's shingles.

    Computed over the *exploded* (doc_id, shingle) rows: each shingle
    is hashed once per seed and the 48 mins are partial-aggregated
    map-side, so the doc_id shuffle carries 48 longs per doc per
    partition. (The tempting array-expression form —
    ``array_min(transform(shingles, …))`` × 48 — inlines and
    recomputes the whole shingle pipeline per seed and blows up
    codegen; measured 100× slower. A Kirsch-Mitzenmacher h1+i·h2
    family was also tried: no measurable win — the job is row-bound,
    not hash-bound — and the ANSI-safe masked variant correlates the
    48 mins badly enough to sink banding recall.) Docs with no
    shingles (<3 tokens) drop out, same as having a null signature."""
    sh = _doc_shingles(docs)
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


# Hot-key blacklists (LSH buckets, edit-distance length bands) are
# broadcast to keep the anti-join exchange-free; past this many key
# rows fall back to a shuffle anti-join instead of risking driver /
# executor memory on the broadcast.
_HOT_BCAST_LIMIT = 100_000

# connected_components re-keys its symmetric edge checkpoint on the
# propagation key once the edge list is at least one task-width
# (aligned with the loop's 150k-rows/task partition sizing): above
# it, the keyed checkpoint removes an edge-sized exchange from every
# propagation round; below it that exchange is KBs and the extra
# materialization would be pure added latency. Tests drop this to 0
# to pin keyed-vs-unkeyed label equality.
_CC_KEYED_SYM_MIN_EDGES = 150_000


def lsh_candidates(
    sigs: DataFrame,
    bands: int = 16,
    rows: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature (bands × rows = num_hashes); docs sharing
    any band bucket become candidate pairs. The bucket join is an
    equi-join on (band_id, bucket_hash) — fully shuffle-partitioned,
    no driver involvement, and the band explode is ×bands, not ×n².

    ``max_bucket_size`` is the hot-bucket lever for adversarial
    corpora (millions of boilerplate docs that are near- but not
    byte-identical): a bucket of k docs emits k·(k-1)/2 pairs, so
    one pathological bucket turns the join quadratic. With a cap,
    buckets larger than the cap are dropped BEFORE the self-join: a
    map-combined (band, bucket) count keeps only the offenders (hot
    buckets are by definition few, so the blacklist is a tiny
    frame) and a broadcast anti-join removes their rows without
    adding any exchange to the banded stream itself. This bounds
    candidates at bands · (n/cap) · cap² = bands · n · cap, i.e.
    linear in the corpus. Recall trade-off, documented: pairs whose ONLY
    collision is inside dropped buckets are missed; for true
    boilerplate floods that is the desired outcome (upstream exact
    dedup owns byte-identical copies, and a templated flood is
    better handled by the doc-frequency stop-shingle cap at
    module top), so the default keeps the cap OFF and catalog
    behavior unchanged. tests/test_llm_ops.py pins the bound on a
    300-near-identical-doc adversarial corpus."""
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[F.col("sig")[b * rows + r] for r in range(rows)]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    if max_bucket_size is not None:
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") > max_bucket_size)
            .select("band", "bucket")
        )
        # "Hot buckets are few" holds for organic corpora but not for
        # a small cap over a templated corpus (ADVICE r8): guard the
        # broadcast with a bounded count and fall back to a shuffle
        # anti-join when the blacklist outgrows broadcast size
        # (~100k (band, bucket) key rows ≈ a few MB).
        if hot.limit(_HOT_BCAST_LIMIT + 1).count() <= _HOT_BCAST_LIMIT:
            hot = F.broadcast(hot)
        banded = banded.join(hot, ["band", "bucket"], "left_anti")
    a = banded.select(
        F.col("doc_id").alias("d1"), "band", "bucket"
    )
    b = banded.select(F.col("doc_id").alias("d2"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def jaccard_verify(
    docs: DataFrame, pairs: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for a given (d1, d2) candidate frame only — the
    verification arm of an LSH pipeline. Joins the candidates to the
    shingle index instead of self-joining the whole index, so cost
    scales with candidates × shingles-per-doc, not with the corpus
    pair space."""
    sh = _doc_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("d1"), "s")
    b = sh.select(F.col("doc_id").alias("d2"), "s")
    inter = (
        pairs.join(a, "d1")
        .join(b, ["d2", "s"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .select(
            "d1",
            "d2",
            F.round(
                F.col("i").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection: LSH candidates (recall knob:
    16 bands × 3 rows ⇒ miss odds ~1e-5 at J=0.8, ~1e-7 above 0.85),
    then exact Jaccard verification *of the candidates only* — output
    precision is exact, and nothing in the plan ever touches the full
    pair space.

    Oracled with the SAME SQL as ``dedup_jaccard``: the verify arm
    makes precision exact by construction, and on this corpus the
    banding recall is exactly 1.0 — verified pair-set equality
    against exact Jaccard at sf0.001/0.01/0.1 (28/25/256 pairs), and
    deterministic (fixed seeds, fixed data; the per-pair miss bound
    above says a miss was ~1e-5-unlucky, it just didn't happen).
    tests/test_llm_ops.py pins the recall so a seed change that
    breaks this assumption fails in CI before it fails at the
    driver."""
    docs = load_table(spark, sf_dir, "documents")
    cands = lsh_candidates(minhash_signatures(docs))
    return (
        jaccard_verify(docs, cands, JACCARD_TAU)
        .orderBy(F.desc("jaccard"), F.asc("d1"), F.asc("d2"))
        .limit(200)
    )


# ---------------------------------------------------------------------------
# 3a-bis. LSH band-configuration sweep (the recall/cost tuning readout)
# ---------------------------------------------------------------------------

# (bands, rows) factorizations of the 48-hash signature, steepest to
# shallowest S-curve, with the empirical recall floor each must clear
# on this corpus at J >= 0.8 (theory: P(hit) = 1 - (1 - s^r)^b).
LSH_SWEEP_CONFIGS: tuple[tuple[int, int, float], ...] = (
    (48, 1, 0.95),
    (24, 2, 0.95),
    (16, 3, 0.90),
    (12, 4, 0.80),
    (8, 6, 0.60),
)


def lsh_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which band/row factorization should a corpus run?  The sweep
    every LSH deployment does before committing: for each (b, r)
    split of the 48-hash signature, measure candidate recall against
    the EXACT Jaccard≥0.8 pair set.  Signatures are computed once and
    pinned (localCheckpoint) — each config re-bands the cached
    48-long vectors; candidate generation stays a bucket equi-join
    throughout (never pair space).  MinHash seeds are xxhash64
    (Spark-side), so the oracle is the recall-audit dual: it
    recomputes the exact pair count and asserts the recall flags —
    the hash goes red iff any config drops below its floor
    (tests/test_llm_ops.py pins the raw recalls)."""
    docs = load_table(spark, sf_dir, "documents")
    truth = (
        jaccard_pairs(docs, JACCARD_TAU).select("d1", "d2").localCheckpoint(eager=False)
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    sigs = minhash_signatures(docs).localCheckpoint(eager=False)
    per_config = []
    for b, r, floor in LSH_SWEEP_CONFIGS:
        hits = (
            truth.join(
                lsh_candidates(sigs, bands=b, rows=r),
                ["d1", "d2"],
                "left_semi",
            ).agg(F.count(F.lit(1)).alias("n_hit"))
        )
        per_config.append(
            hits.crossJoin(F.broadcast(n_true)).select(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows"),
                "n_true_pairs",
                F.lit(floor).cast("double").alias("recall_floor"),
                (
                    F.col("n_hit")
                    >= F.col("n_true_pairs").cast("double") * F.lit(floor)
                ).alias("recall_ok"),
            )
        )
    out = per_config[0]
    for df in per_config[1:]:
        out = out.unionAll(df)
    return out.orderBy(F.desc("bands"))


def _lsh_sweep_oracle() -> str:
    rows = ", ".join(
        f"({b}, {r}, {floor})" for b, r, floor in LSH_SWEEP_CONFIGS
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), truth AS (
  SELECT d1, d2
  FROM inter
  JOIN sizes sa ON d1 = sa.doc_id
  JOIN sizes sb ON d2 = sb.doc_id
  WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {JACCARD_TAU}
)
SELECT CAST(bands AS BIGINT) AS bands, CAST(rows AS BIGINT) AS rows,
       (SELECT COUNT(*) FROM truth) AS n_true_pairs,
       CAST(recall_floor AS DOUBLE) AS recall_floor,
       TRUE AS recall_ok
FROM (VALUES {rows}) AS cfg(bands, rows, recall_floor)
ORDER BY bands DESC
"""


# ---------------------------------------------------------------------------
# 3b. Duplicate-cluster resolution (connected components over pairs)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Min-label propagation over an undirected pair graph →
    ``(doc_id, cluster_id)`` where cluster_id is the smallest doc_id
    reachable. This is the resolution step a dedup pipeline needs
    after pair generation: pairs only say "these two are dups";
    survivors must be picked per *transitive* group (a~b, b~c ⇒ one
    survivor among {a,b,c}).

    Each round is one join + groupBy (label-sized shuffle) and labels
    are localCheckpoint-ed — same lineage discipline as PageRank
    (operators/graph.py). Near-dup clusters are near-cliques, so the
    label frontier collapses in O(log diameter) ≈ 2-3 rounds; the
    fixpoint check costs NO job of its own — the changed-label count
    is measured by an ``Observation`` on the update projection inside
    the same job that materializes the new labels (the probe-join
    alternative re-shuffles both label frames every round)."""
    # Symmetrize with a per-row EXPLODE instead of union-of-two-
    # selects (round 11): a union embeds the pair-producing subtree
    # TWICE in the checkpoint's plan, so an expensive upstream (for
    # semantic_dedup, the whole cell-blocked GEMM threshold join)
    # executed once per branch — the explode mirrors each pair
    # inside the task that produced it, one upstream execution
    # (semantic_dedup 7.1 → 4.3 s best at sf0.1; same trick as
    # trade_graph_edges).
    e_obs = Observation()
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("d1").alias("a"), F.col("d2").alias("b")
                    ),
                    F.struct(
                        F.col("d2").alias("a"), F.col("d1").alias("b")
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .observe(e_obs, F.count(F.lit(1)).alias("m"))
        .localCheckpoint()
    )
    # The loop runs under session.fixed_plan, sized from the measured
    # edge count — the PageRank loop discipline (graph.py): with AQE
    # on, the keyed sym checkpoint below would lose its key.
    m = int(e_obs.get["m"])
    loop_parts = loop_partitions(m)
    with fixed_plan(pairs.sparkSession, loop_parts):
        # Re-checkpoint the symmetric edge list hash-partitioned on
        # the propagation key (round 11, the pagerank links
        # treatment): the first checkpoint can't be keyed — it is
        # the materialization that MEASURES m, which sizes the
        # partitioning — but left unkeyed the loop re-exchanged the
        # EDGE-sized frame by b every round. One extra edge pass at
        # setup buys an exchange-free sym side for every round (the
        # per-round shuffles left are all label-sized; plan checked:
        # 2 exchanges/round → 1). Gated on the same one-task sizing
        # constant: below it the per-round edge exchange is KBs and
        # the extra materialization is pure added latency.
        if m >= _CC_KEYED_SYM_MIN_EDGES:
            sym = sym.repartition(loop_parts, F.col("b")).localCheckpoint()
        labels = _cc_loop(sym, max_iter)
    return labels.select(
        F.col("a").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _cc_loop(sym: DataFrame, max_iter: int) -> DataFrame:
    # Round 1 fused with the label init (round 11): labels start as
    # identity, so the first propagation is least(a, min neighbor) —
    # a plain aggregate over the checkpointed edge list with no join,
    # and the separate identity-frame materialization job disappears
    # (one job less per CC consumer; values identical to init + one
    # join round, since every neighbor's initial label IS itself).
    # The fusion means at least one propagation round always runs —
    # make that floor an explicit contract instead of silently
    # returning 1-round labels for a nonsensical budget.
    if max_iter < 1:
        raise ValueError("connected components: max_iter must be >= 1")
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter - 1):
        obs = Observation()
        labels = _cc_round(sym, labels, obs).localCheckpoint()
        if int(obs.get["changed"] or 0) == 0:
            break
    return labels


def _cc_round(
    sym: DataFrame, labels: DataFrame, obs: Observation
) -> DataFrame:
    """One min-label propagation round, unmaterialized: each vertex
    takes the least of its label and its neighbors' labels. The count
    of changed labels is observed into ``obs`` on the same job."""
    neighbor_min = (
        sym.join(
            labels.select(F.col("a").alias("b"), F.col("label").alias("nl")),
            "b",
        )
        .groupBy("a")
        .agg(F.min("nl").alias("minn"))
    )
    return (
        labels.join(neighbor_min, "a", "left")
        .select(
            "a",
            F.col("label").alias("old"),
            F.least(
                F.col("label"), F.coalesce(F.col("minn"), F.col("label"))
            ).alias("label"),
        )
        .observe(
            obs,
            F.sum((F.col("label") != F.col("old")).cast("long")).alias(
                "changed"
            ),
        )
        .select("a", "label")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (exact Jaccard ≥ 0.8) resolved into duplicate
    clusters: every clustered doc with its cluster id (= smallest
    member, the survivor) and the cluster size. Deterministic, so
    exact-oracle-checkable — the oracle closes the pair graph with a
    recursive CTE, which is the SQL spelling of the same fixpoint."""
    docs = load_table(spark, sf_dir, "documents")
    cc = connected_components(jaccard_pairs(docs, JACCARD_TAU).select("d1", "d2"))
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        cc.join(sizes, "cluster_id")
        .select("cluster_id", "doc_id", "n_members")
        .orderBy("cluster_id", "doc_id")
        .limit(500)
    )


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes sa ON d1 = sa.doc_id
  JOIN sizes sb ON d2 = sb.doc_id
  WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {JACCARD_TAU}
), sym AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION ALL
  SELECT d2 AS a, d1 AS b FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), cc AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a
), sized AS (
  SELECT cluster_id, COUNT(*) AS n_members FROM cc GROUP BY cluster_id
)
SELECT cc.cluster_id, cc.doc_id, sized.n_members
FROM cc JOIN sized ON cc.cluster_id = sized.cluster_id
ORDER BY cc.cluster_id, cc.doc_id
LIMIT 500
"""


# ---------------------------------------------------------------------------
# 3c. The composed cleaning pipeline (what the pieces are FOR)
# ---------------------------------------------------------------------------

def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical LLM training-data cleaning pass, composed from
    the operators above: keep a document iff it is

      1. the smallest doc_id of its exact-content (md5) group,
      2. NOT a non-survivor member of a near-dup cluster
         (connected components over exact-Jaccard ≥ 0.8 pairs —
         transitive, so a~b~c keeps only one of three), and
      3. at or above the quality floor (rounded composite score,
         shared expression with text_quality_scores).

    Reported as per-(lang, source) retention so the corpus shift is
    visible, not just the row count. All three predicates are
    deterministic → exact DuckDB oracle. Plan shape: one narrow map
    (quality), one window over the md5 hash (same shuffle cost as a
    groupBy), one left-anti-style flag join against the (tiny)
    cluster-loser set — the full-corpus frame is touched once."""
    from pyspark.sql import Window

    from cricket_analytics_nosql_spark.operators.text import quality_col

    docs = load_table(spark, sf_dir, "documents")
    losers = (
        connected_components(jaccard_pairs(docs, JACCARD_TAU).select("d1", "d2"))
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id", F.lit(True).alias("is_dup_loser"))
    )
    flagged = (
        docs.withColumn(
            "keep_hash",
            F.min("doc_id").over(Window.partitionBy(F.md5("text")))
            == F.col("doc_id"),
        )
        # no broadcast hint: the dup-loser set scales with the
        # corpus — AQE broadcasts only when runtime stats allow
        .join(losers, "doc_id", "left")
        .withColumn("q", F.round(quality_col(F.col("text")), 6))
        .withColumn(
            "keep",
            F.col("keep_hash")
            & F.col("is_dup_loser").isNull()
            & (F.col("q") >= 0.45),
        )
    )
    return (
        flagged.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("keep")).alias("n_kept"),
            F.round(
                F.count_if(F.col("keep")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("retention"),
        )
        .orderBy("lang", "source")
    )


_STOPS_SQL = "', '".join(
    ["the", "a", "of", "and", "to", "in", "is", "on", "for", "it"]
)

ORACLE_CORPUS_CLEAN = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes sa ON d1 = sa.doc_id
  JOIN sizes sb ON d2 = sb.doc_id
  WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {JACCARD_TAU}
), sym AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION ALL
  SELECT d2 AS a, d1 AS b FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), losers AS (
  SELECT a AS doc_id FROM reach GROUP BY a HAVING LEAST(a, MIN(b)) <> a
), flagged AS (
  SELECT lang, source,
         MIN(doc_id) OVER (PARTITION BY md5(text)) = doc_id AS keep_hash,
         doc_id IN (SELECT doc_id FROM losers) AS is_dup_loser,
         ROUND(0.4 * LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                      / len(string_split(text, ' ')))
             + 0.3 * (1.0 - LEAST(CAST(len(list_filter(string_split(text, ' '),
                            t -> t IN ('{_STOPS_SQL}'))) AS DOUBLE)
                      / len(string_split(text, ' ')) * 5, 1.0)), 6) AS q
  FROM documents
)
SELECT lang, source, COUNT(*) AS n_docs,
       COUNT(*) FILTER (keep_hash AND NOT is_dup_loser AND q >= 0.45) AS n_kept,
       ROUND(CAST(COUNT(*) FILTER (keep_hash AND NOT is_dup_loser AND q >= 0.45)
                  AS DOUBLE) / COUNT(*), 4) AS retention
FROM flagged
GROUP BY lang, source
ORDER BY lang, source
"""


def pipeline_stage_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage provenance funnel — corpus_clean reports WHO
    survives; this reports WHICH STAGE removed the rest, per source,
    with the predicates CUMULATING in the pipeline's fixed order:
    raw → quality floor → exact-dedup survivor → near-dup-cluster
    survivor. The readout a curation team uses to see that (say)
    one scrape loses 30% to near-dups while another loses to
    quality — the per-stage attribution no combined keep-rate shows.
    Same one-pass plan shape as corpus_clean: narrow quality map,
    one md5 window, broadcast loser-set join, one rollup."""
    from pyspark.sql import Window

    from cricket_analytics_nosql_spark.operators.text import quality_col

    docs = load_table(spark, sf_dir, "documents")
    losers = (
        connected_components(jaccard_pairs(docs, JACCARD_TAU).select("d1", "d2"))
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id", F.lit(True).alias("is_dup_loser"))
    )
    flagged = (
        docs.withColumn(
            "keep_hash",
            F.min("doc_id").over(Window.partitionBy(F.md5("text")))
            == F.col("doc_id"),
        )
        # no broadcast hint: the dup-loser set scales with the
        # corpus — AQE broadcasts only when runtime stats allow
        .join(losers, "doc_id", "left")
        .withColumn("q_ok", F.round(quality_col(F.col("text")), 6) >= 0.45)
    )
    s2 = F.col("q_ok") & F.col("keep_hash")
    s3 = s2 & F.col("is_dup_loser").isNull()
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count_if(F.col("q_ok")).alias("n_quality"),
            F.count_if(s2).alias("n_exact_unique"),
            F.count_if(s3).alias("n_final"),
            F.round(
                F.count_if(s3).cast("double") / F.count(F.lit(1)), 4
            ).alias("retention"),
        )
        .orderBy("source")
    )


def _stage_retention_oracle() -> str:
    """Reuses corpus_clean's recursive-CTE machinery verbatim (same
    flags, same quality expression) with a per-stage FILTER rollup —
    one source of truth for the predicates keeps the two audits from
    drifting apart."""
    prefix = ORACLE_CORPUS_CLEAN[: ORACLE_CORPUS_CLEAN.index("\nSELECT lang")]
    return (
        prefix
        + """
SELECT source, COUNT(*) AS n_raw,
       COUNT(*) FILTER (q >= 0.45) AS n_quality,
       COUNT(*) FILTER (q >= 0.45 AND keep_hash) AS n_exact_unique,
       COUNT(*) FILTER (q >= 0.45 AND keep_hash AND NOT is_dup_loser)
         AS n_final,
       ROUND(CAST(COUNT(*) FILTER (q >= 0.45 AND keep_hash
                                   AND NOT is_dup_loser) AS DOUBLE)
             / COUNT(*), 4) AS retention
FROM flagged
GROUP BY source
ORDER BY source
"""
    )


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(docs: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash natively: explode tokens, hash each token once,
    then for each bit position sum +1/-1 weighted by token count and
    take the sign. The 64 conditional sums are map-side combinable,
    so the shuffle carries 64 longs per doc-partition, not tokens."""
    tok = fan_out(docs).select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("t")
    ).withColumn("h", F.xxhash64("t"))
    per_bit = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    sim = functools.reduce(
        operator.add,
        [
            F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for b in range(bits - 1)  # keep the sign bit clear
        ],
    )
    return per_bit.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs via 16-bit band collisions (any of 4 bands
    equal → candidate; pigeonhole guarantees full recall for
    hamming ≤ 3), verified with bit_count(xor) ≤ max_hamming."""
    sigs = simhash_signatures(docs)
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", 16 * b).bitwiseAND(
                        F.lit(0xFFFF)
                    )
                    for b in range(4)
                ]
            )
        ).alias("band", "chunk"),
    )
    a = banded.select(
        F.col("doc_id").alias("d1"), F.col("simhash").alias("s1"), "band", "chunk"
    )
    b = banded.select(
        F.col("doc_id").alias("d2"), F.col("simhash").alias("s2"), "band", "chunk"
    )
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 of 64 bits), closest
    first — the user-facing pair rows. xxhash64-dependent, so the
    rows themselves have no cross-engine oracle; the catalog query
    ``dedup_simhash`` audits this path's recall against the
    DuckDB-recomputable exact-Jaccard truth instead."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        simhash_near_pairs(docs)
        .orderBy(F.asc("hamming"), F.asc("d1"), F.asc("d2"))
        .limit(200)
    )


# SimHash recall vs exact Jaccard ≥ 0.9 truth: measured 0.60-0.78
# across sf0.001-0.1 (hamming ≤ 3 of 64 bits is a tight sieve on
# ~0.9-Jaccard pairs); 0.5 sits under the band at every scale.
SIMHASH_RECALL_FLOOR = 0.5


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-oracleable audit of the SimHash path (the ann_ivf
    pattern): the exact ground truth — word-3-gram Jaccard ≥ 0.9
    pairs — is recomputable in DuckDB, and SimHash's recall against
    it clearing the measured floor is a deterministic boolean. A
    broken signature, banding, or hamming verify drops recall below
    the floor → recall_ok flips → the driver hash goes red. Emits
    one row: (n_truth_pairs, avg_truth_jaccard, recall_ok). Pair
    rows: ``simhash_pairs_topk``."""
    docs = load_table(spark, sf_dir, "documents")
    truth = jaccard_pairs(docs, 0.9).localCheckpoint()
    n_truth = truth.count()
    stats = truth.agg(
        (F.round(F.avg("jaccard"), 6) + F.lit(0.0)).alias(
            "avg_truth_jaccard"
        )
    )
    hits = (
        truth.select("d1", "d2")
        .join(simhash_near_pairs(docs), ["d1", "d2"], "left_semi")
        .count()
    )
    ok = (hits / n_truth >= SIMHASH_RECALL_FLOOR) if n_truth else True
    flags = spark.createDataFrame([(ok,)], "recall_ok boolean")
    return flags.crossJoin(F.broadcast(stats)).select(
        F.lit(n_truth).cast("long").alias("n_truth_pairs"),
        "avg_truth_jaccard",
        "recall_ok",
    )


ORACLE_DEDUP_SIMHASH = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), truth AS (
  SELECT ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON d1 = sa.doc_id
  JOIN sizes sb ON d2 = sb.doc_id
  WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.9
)
SELECT COUNT(*) AS n_truth_pairs,
       ROUND(AVG(jaccard), 6) + 0.0 AS avg_truth_jaccard,
       TRUE AS recall_ok
FROM truth
"""


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the eval-leakage scan every
    training-data pipeline runs before export: which corpus documents
    share suspiciously many word-3-gram shingles with a held-out
    benchmark set (here: doc_id < 8 plays the benchmark). The
    benchmark's distinct shingle set is tiny and broadcasts; the
    corpus side is the shared shingle index (one narrow explode), so
    the scan never shuffles until the per-doc overlap count — the
    same candidates→count shape as the LSH verify arm, and at 100 TB
    the benchmark set stays broadcast-sized by construction."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _doc_shingles(docs)
    bench = sh.filter(F.col("doc_id") < 8).select("s").distinct()
    cand = sh.filter(F.col("doc_id") >= 8)
    sizes = cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    overlap = (
        cand.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        overlap.join(sizes, "doc_id")
        .filter(F.col("n_overlap") >= 3)
        .select(
            "doc_id",
            "n_overlap",
            "n_shingles",
            F.round(F.col("n_overlap") / F.col("n_shingles"), 6).alias(
                "overlap_frac"
            ),
        )
        .orderBy(F.desc("n_overlap"), F.asc("doc_id"))
        .limit(100)
    )


ORACLE_DECONTAMINATE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
), bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id < 8
), cand AS (
  SELECT doc_id, s FROM sh WHERE doc_id >= 8
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM cand GROUP BY doc_id
), overlap AS (
  SELECT doc_id, COUNT(*) AS n_overlap
  FROM cand JOIN bench USING (s)
  GROUP BY doc_id
)
SELECT o.doc_id, o.n_overlap, sz.n_shingles,
       ROUND(CAST(o.n_overlap AS DOUBLE) / sz.n_shingles, 6) AS overlap_frac
FROM overlap o JOIN sizes sz ON o.doc_id = sz.doc_id
WHERE o.n_overlap >= 3
ORDER BY o.n_overlap DESC, o.doc_id ASC
LIMIT 100
"""


def incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-ingestion dedup — the shape a production corpus runs
    EVERY DAY: the standing corpus is represented only by its
    persisted content-hash INDEX (written once, here to a temp
    parquet; bucketed by hash at scale so the probe join is
    co-located), and a new increment deduplicates (a) within itself
    via window-min and (b) against the index via left_anti — the
    corpus text is NEVER rescanned for ingestion, which is the whole
    point at 100 TB.  Split is deterministic (doc_id mod 5): 80%
    standing corpus, 20% increment.  Audit per source: increment
    rows, batch-unique rows, truly-novel rows."""
    import os
    import tempfile

    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    existing = docs.filter(F.pmod("doc_id", F.lit(5)) != 0)
    increment = docs.filter(F.pmod("doc_id", F.lit(5)) == 0)
    idx_path = os.path.join(tempfile.mkdtemp(prefix="hidx_"), "hash_index")
    existing.select("h").distinct().write.mode("overwrite").parquet(idx_path)
    idx = spark.read.parquet(idx_path)

    w = Window.partitionBy("h")
    batch = increment.withColumn("__keep", F.min("doc_id").over(w))
    batch_unique = batch.filter(F.col("doc_id") == F.col("__keep")).drop(
        "__keep"
    )
    novel = batch_unique.join(idx, "h", "left_anti")
    per_src = lambda df, name: df.groupBy("source").agg(  # noqa: E731
        F.count(F.lit(1)).alias(name)
    )
    return (
        per_src(increment, "n_increment")
        .join(per_src(batch_unique, "n_batch_unique"), "source")
        .join(per_src(novel, "n_novel"), "source", "left")
        .na.fill({"n_novel": 0})
        .orderBy("source")
    )


ORACLE_INCREMENTAL_DEDUP = """
WITH docs AS (
  SELECT doc_id, source, md5(text) AS h FROM documents
), existing AS (
  SELECT DISTINCT h FROM docs WHERE doc_id % 5 != 0
), increment AS (
  SELECT * FROM docs WHERE doc_id % 5 = 0
), batch_unique AS (
  SELECT * FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS keep FROM increment
  ) WHERE doc_id = keep
), novel AS (
  SELECT b.* FROM batch_unique b
  WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.h = b.h)
)
SELECT i.source,
       COUNT(*) AS n_increment,
       (SELECT COUNT(*) FROM batch_unique u WHERE u.source = i.source)
         AS n_batch_unique,
       (SELECT COUNT(*) FROM novel v WHERE v.source = i.source)
         AS n_novel
FROM increment i
GROUP BY i.source
ORDER BY i.source
"""


# ---------------------------------------------------------------------------
# 9. Exact duplicated-substring spans (suffix-array dedup, Spark-shaped)
# ---------------------------------------------------------------------------

# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") removes exact substrings of >= 50 tokens that appear more
# than once in the corpus, found with a single-node suffix array.  A
# suffix array does not distribute; the Spark-native reformulation is
# fixed-width shingle hashing: every W-token window becomes one hash,
# a duplicated substring of length >= W is exactly a run of duplicated
# W-shingles, and "which spans repeat" reduces to a hash groupBy with
# map-side combine.  The shuffle carries (hash, counts) only — never
# text — so the exchange is vocabulary-of-shingles sized, not corpus
# sized, and each reducer key is independent (no global suffix order).
SUBSTR_SPAN_W = 8  # tokens per shingle (the paper's 50 at real scale)


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-span audit: of all distinct W-token
    spans a source's documents contain, how many also occur in at
    least one OTHER document (any source)?  ``occ`` is distinct
    (doc_id, span-hash); nd_src = docs of this source containing the
    span, nd = docs anywhere — a span is "duplicated" when nd >= 2.
    md5 keeps the hash oracle-matching; production would swap in
    ``xxhash64`` (8-byte keys, same plan)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("w")
    )
    # ONE exchange serves the whole chain (round 12, guide §2.4):
    # the span stream is keyed by h up front, and every downstream
    # operator clusters by h or a superset of it — the 3-column
    # distinct ({h} ⊆ its keys), the per-(h, source) rollup, and the
    # per-h window — so none of them re-shuffles; only the 15-row
    # per-source rollup at the end exchanges again (plan: 4 hash
    # exchanges → 2). The old shape's distinct-exchange did carry
    # map-side-deduped rows where this carries the raw span stream,
    # but spans rarely repeat within one document, and md5 keys hash
    # uniformly — measured 1.54 → 1.02 s best interleaved at sf0.1
    # (medians 1.65 → 1.06, quiet stamps).
    occ = (
        docs.filter(F.size("w") >= SUBSTR_SPAN_W)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(w) - {SUBSTR_SPAN_W - 1}),"
                    f" i -> md5(array_join(slice(w, i, {SUBSTR_SPAN_W}), ' ')))"
                )
            ).alias("h"),
        )
        .repartition(F.col("h"))
        .distinct()
    )
    per_hs = occ.groupBy("h", "source").agg(F.count(F.lit(1)).alias("nd_src"))
    # doc_id is unique across sources, so global doc count per span is
    # the sum of the per-source counts — no second pass over ``occ``.
    # Attached as a WINDOW over the per-(h, source) rollup (round 11)
    # instead of an aggregate-then-self-join: the join consumed
    # per_hs twice (re-running the span explode + distinct per
    # consumer) and shuffled both sides; the window is one exchange
    # over the already span-type-sized frame. Same exact integers.
    return (
        per_hs.withColumn("nd", F.sum("nd_src").over(Window.partitionBy("h")))
        .groupBy("source")
        .agg(
            F.sum("nd_src").alias("n_spans"),
            F.sum(
                F.when(F.col("nd") >= 2, F.col("nd_src")).otherwise(F.lit(0))
            ).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6),
        )
        .orderBy("source")
    )


ORACLE_SUBSTRING_SPANS = f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
), occ AS (
  SELECT DISTINCT doc_id, source,
         md5(array_to_string(w[i:i + {SUBSTR_SPAN_W - 1}], ' ')) AS h
  FROM toks, UNNEST(range(1, len(w) - {SUBSTR_SPAN_W - 2})) AS t(i)
  WHERE len(w) >= {SUBSTR_SPAN_W}
), per_hs AS (
  SELECT h, source, COUNT(*) AS nd_src FROM occ GROUP BY h, source
), per_h AS (
  SELECT h, SUM(nd_src) AS nd FROM per_hs GROUP BY h
)
SELECT s.source,
       CAST(SUM(s.nd_src) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN p.nd >= 2 THEN s.nd_src ELSE 0 END) AS BIGINT)
         AS n_dup_spans,
       ROUND(CAST(SUM(CASE WHEN p.nd >= 2 THEN s.nd_src ELSE 0 END) AS DOUBLE)
             / SUM(s.nd_src), 6) AS dup_ratio
FROM per_hs s JOIN per_h p USING (h)
GROUP BY s.source
ORDER BY s.source
"""


# --------------------------------------------------------------------------
# content-defined chunking dedup (FastCDC-style, token granularity)
# --------------------------------------------------------------------------

CDC_WINDOW = 4  # rolling-hash window (tokens)
CDC_DIVISOR = 16  # boundary when hash % DIVISOR == 0 → ~16-token chunks
CDC_TOPK = 15


def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup — the FastCDC/rsync family at
    token granularity: a chunk boundary falls wherever the rolling
    hash of the last {CDC_WINDOW} tokens hits 0 mod {CDC_DIVISOR},
    so chunk boundaries RESYNC after an insertion (fixed-shingle
    dedup like ``dedup_substring_spans`` shifts every window after
    an edit; CDC is what storage/backup dedup uses for exactly this
    reason). Chunks are hashed and the most-duplicated chunks
    reported with their doc- and source-spread — the cross-document
    boilerplate a curation pass strips.

    Exchanges: ONE doc-keyed window exchange (tokens with their 3
    predecessors), the (doc, chunk) rollup rides the same
    partitioning, and the final chunk-hash rollup carries
    keys+counts. The rolling hash is the md5-based cross-engine
    idiom, so the oracle replays boundaries bit-for-bit."""
    from cricket_analytics_nosql_spark.functions.scalar import md5_u32

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.posexplode(F.split("text", " ")).alias("pos", "tok"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    rolled = toks.select(
        "doc_id",
        "source",
        "pos",
        "tok",
        md5_u32(
            F.concat_ws(
                " ",
                F.lag("tok", 3).over(w),
                F.lag("tok", 2).over(w),
                F.lag("tok", 1).over(w),
                F.col("tok"),
            )
        ).alias("h"),
    ).withColumn(
        "cut",
        (
            (F.col("pos") >= CDC_WINDOW - 1)
            & (F.col("h") % CDC_DIVISOR == 0)
        ).cast("long"),
    )
    # chunk id = # cuts strictly BEFORE this token (cut token ends
    # its chunk), via the same per-doc window
    chunked = rolled.withColumn(
        "chunk",
        F.coalesce(
            F.sum("cut").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    chunks = chunked.groupBy("doc_id", "source", "chunk").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
            )
        ).alias("chunk_hash"),
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("n_toks").alias("n_toks"),
        )
        .filter(F.col("n_copies") >= 2)
        .orderBy(F.desc("n_copies"), F.asc("chunk_hash"))
        .limit(CDC_TOPK)
    )


ORACLE_CDC_CHUNK_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, source, i - 1 AS pos, w[i] AS tok
  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
       UNNEST(range(1, len(w) + 1)) AS t(i)
), rolled AS (
  SELECT doc_id, source, pos, tok,
         CAST(('0x' || substr(md5(concat_ws(' ',
             lag(tok, 3) OVER (PARTITION BY doc_id ORDER BY pos),
             lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos),
             lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos),
             tok)), 1, 8)) AS BIGINT) AS h
  FROM toks
), cuts AS (
  SELECT doc_id, source, pos, tok,
         CASE WHEN pos >= {CDC_WINDOW - 1} AND h % {CDC_DIVISOR} = 0
              THEN 1 ELSE 0 END AS cut
  FROM rolled
), chunked AS (
  SELECT doc_id, source, pos, tok,
         COALESCE(SUM(cut) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
  FROM cuts
), chunks AS (
  SELECT doc_id, source, chunk, COUNT(*) AS n_toks,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
  FROM chunked GROUP BY doc_id, source, chunk
)
SELECT chunk_hash, COUNT(*) AS n_copies,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(MIN(n_toks) AS BIGINT) AS n_toks
FROM chunks
GROUP BY chunk_hash
HAVING COUNT(*) >= 2
ORDER BY n_copies DESC, chunk_hash ASC
LIMIT {CDC_TOPK}
"""


EDIT_DIST_MAX = 16  # planted near-dups sit at dist 4; noise starts ≥ 39


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs — the character-level verify
    metric the shingle tiers can't express (a doc-wide k-char edit
    budget): all (d1 < d2) pairs with levenshtein ≤ EDIT_DIST_MAX.

    The pair space is pruned LOSSLESSLY before any string math by
    the metric's own lower bound |len(a) − len(b)| ≤ dist: docs are
    bucketed into length bands of width K per language and each
    right-side row is exploded to its three adjacent bands, so the
    join is a plain equi-join on (lang, band) — every qualifying
    pair lands in exactly one (left-band, exploded-band) bucket, no
    distinct needed — and only in-band pairs with |Δlen| ≤ K reach
    the verify. The verify itself uses the THRESHOLD form of
    levenshtein (banded O(n·k), not O(n·m); returns −1 past the
    budget) — on a 500-char doc that is a 60× cheaper inner loop.

    Scale: the shuffle key is (lang, band) — cardinality grows with
    the corpus length range. A hot band (millions of same-language
    docs in one length band — same adversarial shape as an LSH
    boilerplate flood) is handled by ``max_band_size``, mirroring
    ``lsh_candidates``' hot-bucket cap: see edit_distance_pairs.
    At 100 TB the length-band blocking is the first-stage filter;
    the threshold cap keeps verify linear in the edit budget."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )
    return (
        edit_distance_pairs(docs, EDIT_DIST_MAX)
        .orderBy("dist", "d1", "d2")
        .limit(100)
    )


def edit_distance_pairs(
    docs: DataFrame,
    k: int = EDIT_DIST_MAX,
    max_band_size: int | None = None,
) -> DataFrame:
    """All (d1 < d2) pairs with levenshtein(t1, t2) ≤ k, blocked by
    (lang, length band of width k) so the join is a plain equi-join
    (see dedup_edit_distance for the lossless-blocking argument).

    ``max_band_size`` is the hot-band lever for adversarial corpora
    (N same-language docs packed into one length band make that
    band's bucket quadratic — identical shape to the LSH boilerplate
    flood that ``lsh_candidates(max_bucket_size=…)`` caps): bands
    holding more than the cap are counted once on the UNEXPLODED
    side (a map-combined (lang, band) count — hot bands are by
    definition few, so the blacklist broadcasts; past
    _HOT_BCAST_LIMIT keys it falls back to a shuffle anti-join) and
    dropped from BOTH join sides before the equi-join, bounding
    candidates per surviving bucket at cap left-rows × 3·cap
    exploded right-rows — linear in the corpus, never quadratic.
    Recall trade-off, documented: pairs inside dropped bands are
    missed — for a true flood the intended resolution, as with the
    LSH cap (exact dedup owns byte-identical copies upstream). The
    default keeps the cap OFF: catalog behavior and the DuckDB
    oracle are unchanged."""
    band = (F.col("n_chars") / k).cast("long")
    a = docs.select(
        F.col("doc_id").alias("d1"),
        "lang",
        F.col("n_chars").alias("c1"),
        F.col("text").alias("t1"),
        band.alias("band"),
    )
    b = docs.select(
        F.col("doc_id").alias("d2"),
        "lang",
        F.col("n_chars").alias("c2"),
        F.col("text").alias("t2"),
        F.explode(F.array(band - 1, band, band + 1)).alias("band"),
    )
    if max_band_size is not None:
        hot = (
            docs.groupBy("lang", band.alias("band"))
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") > max_band_size)
            .select("lang", "band")
        )
        if hot.limit(_HOT_BCAST_LIMIT + 1).count() <= _HOT_BCAST_LIMIT:
            hot = F.broadcast(hot)
        a = a.join(hot, ["lang", "band"], "left_anti")
        b = b.join(hot, ["lang", "band"], "left_anti")
    return (
        a.join(b, ["lang", "band"])
        .filter(
            (F.col("d1") < F.col("d2"))
            & (F.abs(F.col("c1") - F.col("c2")) <= k)
        )
        .select(
            "d1",
            "d2",
            F.levenshtein(F.col("t1"), F.col("t2"), k)
            .cast("long")
            .alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


ORACLE_EDIT_DISTANCE = f"""
WITH d AS (
  SELECT doc_id, lang, n_chars, text FROM documents
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
FROM d a JOIN d b
  ON a.lang = b.lang
 AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= {EDIT_DIST_MAX}
WHERE levenshtein(a.text, b.text) <= {EDIT_DIST_MAX}
ORDER BY dist, d1, d2
LIMIT 100
"""


# ---------------------------------------------------------------------------
# MinHash estimator-quality audit (round 9)
# ---------------------------------------------------------------------------

MH_EST_HASHES = 24
MH_EST_TAU = 0.30
MH_EST_TOPK = 200


def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-quality audit: for every pair with exact
    shingle Jaccard ≥ τ, the Jaccard a {MH_EST_HASHES}-hash MinHash
    signature would ESTIMATE (fraction of matching signature
    components) next to the exact value, plus the absolute error —
    the measured gate for choosing signature width before trusting
    LSH banding at scale (same audit pattern as ``ann_recall_audit``
    for the ANN paths).

    Signatures here use the md5 hash family (functions/scalar.py
    ``md5_u32``) — the one keyed hash both engines compute
    bit-identically — so the estimate itself is exact-oracled, not
    just the exact side. The production path (``minhash_signatures``)
    stays on xxhash64, which is faster JVM-side; estimator variance
    is a property of the family size, not the family, so the audit
    transfers.

    Scale: signature build is one map-combined groupBy over the
    shingle index (24 mins per doc); the pair frame is the exact
    Jaccard join's output (near-dup-sized), and signatures attach by
    two doc-keyed equi-joins."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = _doc_shingles(docs)
    # materialized once: both pair sides consume the signature frame,
    # and without the checkpoint the 24-min aggregation over the
    # shingle index executes once per side
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(md5_u32(F.col("s"), f"mh{h}#")).alias(f"m{h}")
            for h in range(MH_EST_HASHES)
        ]
    ).localCheckpoint()
    exact = jaccard_pairs(docs, MH_EST_TAU)
    s1 = sig.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"m{h}").alias(f"a{h}") for h in range(MH_EST_HASHES)],
    )
    s2 = sig.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"m{h}").alias(f"b{h}") for h in range(MH_EST_HASHES)],
    )
    matches = sum(
        (F.col(f"a{h}") == F.col(f"b{h}")).cast("long")
        for h in range(MH_EST_HASHES)
    )
    return (
        exact.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("n_hash_matches", matches)
        .select(
            "d1",
            "d2",
            "jaccard",
            "n_hash_matches",
            F.round(
                F.col("n_hash_matches") / F.lit(float(MH_EST_HASHES)), 6
            ).alias("est_jaccard"),
        )
        .withColumn(
            "abs_err", F.round(F.abs(F.col("jaccard") - F.col("est_jaccard")), 6)
        )
        .orderBy("d1", "d2")
        .limit(MH_EST_TOPK)
    )


_MH_SIG_SQL = ",\n         ".join(
    "MIN(CAST(('0x' || substr(md5('mh%d#' || s), 1, 8)) AS BIGINT)) AS m%d"
    % (h, h)
    for h in range(MH_EST_HASHES)
)
_MH_MATCH_SQL = " + ".join(
    f"(CASE WHEN a.m{h} = b.m{h} THEN 1 ELSE 0 END)"
    for h in range(MH_EST_HASHES)
)

ORACLE_MINHASH_EST = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), sigs AS (
  SELECT doc_id,
         {_MH_SIG_SQL}
  FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), exact AS (
  SELECT d1, d2,
         ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON d1 = sa.doc_id
  JOIN sizes sb ON d2 = sb.doc_id
  WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {MH_EST_TAU}
)
SELECT e.d1, e.d2, e.jaccard,
       CAST({_MH_MATCH_SQL} AS BIGINT) AS n_hash_matches,
       ROUND(({_MH_MATCH_SQL}) / {float(MH_EST_HASHES)}, 6) AS est_jaccard,
       ROUND(ABS(e.jaccard - ROUND(({_MH_MATCH_SQL})
             / {float(MH_EST_HASHES)}, 6)), 6) AS abs_err
FROM exact e
JOIN sigs a ON e.d1 = a.doc_id
JOIN sigs b ON e.d2 = b.doc_id
ORDER BY e.d1, e.d2
LIMIT {MH_EST_TOPK}
"""


# ---------------------------------------------------------------------------
# Train/eval n-gram leakage audit (round 9)
# ---------------------------------------------------------------------------

LEAK_EVAL_MOD = 20  # doc_id % 20 == 0 → the held-out eval slice (5%)
LEAK_FLAG_RATIO = 0.5


def train_eval_ngram_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc contamination audit: for each document in a
    deterministic 5% eval slice, the fraction of its distinct
    3-gram shingles that appear ANYWHERE in the train slice, with a
    contamination flag at {LEAK_FLAG_RATIO}. The reporting
    counterpart of ``decontaminate`` (which removes): before
    trusting an eval score, measure how much of the eval set the
    training corpus has effectively seen (docs with <3 tokens have
    no shingles and are out of scope — nothing to leak).

    Scale: one equi-join of the (small) eval shingle slice against
    the distinct train shingle set — the distinct is a map-combined
    groupBy over the shingle index, never a pair space; no driver
    participation."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = _doc_shingles(docs)
    is_eval = F.pmod(F.col("doc_id"), F.lit(LEAK_EVAL_MOD)) == 0
    ev = sh.filter(is_eval)
    train_sh = sh.filter(~is_eval).select("s").distinct()
    leaked = (
        ev.join(train_sh, "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_leaked"))
    )
    totals = ev.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    return (
        totals.join(leaked, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_leaked"), F.lit(0)).alias("n_leaked"),
        )
        .withColumn(
            "leak_ratio",
            F.round(F.col("n_leaked") / F.col("n_shingles"), 6),
        )
        .withColumn(
            "contaminated",
            (F.col("leak_ratio") >= LEAK_FLAG_RATIO).cast("int"),
        )
        .orderBy(F.desc("leak_ratio"), F.asc("doc_id"))
    )


ORACLE_NGRAM_LEAKAGE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
), ev AS (
  SELECT doc_id, s FROM sh WHERE doc_id % {LEAK_EVAL_MOD} = 0
), train_sh AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % {LEAK_EVAL_MOD} <> 0
), leaked AS (
  SELECT e.doc_id, COUNT(*) AS n_leaked
  FROM ev e WHERE e.s IN (SELECT s FROM train_sh)
  GROUP BY e.doc_id
), totals AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM ev GROUP BY doc_id
)
SELECT t.doc_id, t.n_shingles,
       COALESCE(l.n_leaked, 0) AS n_leaked,
       ROUND(CAST(COALESCE(l.n_leaked, 0) AS DOUBLE) / t.n_shingles, 6)
         AS leak_ratio,
       CAST(CASE WHEN ROUND(CAST(COALESCE(l.n_leaked, 0) AS DOUBLE)
                      / t.n_shingles, 6) >= {LEAK_FLAG_RATIO}
            THEN 1 ELSE 0 END AS INT) AS contaminated
FROM totals t LEFT JOIN leaked l ON t.doc_id = l.doc_id
ORDER BY leak_ratio DESC, t.doc_id ASC
"""


# ---------------------------------------------------------------------------
# Duplicate-cluster size histogram (round 9)
# ---------------------------------------------------------------------------


def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of the corpus is duplicated how many times: near-dup
    clusters (exact Jaccard ≥ 0.8 → connected components, the
    ``dedup_clusters`` fixpoint) rolled up BY CLUSTER SIZE —
    (size, clusters of that size, docs bound in them, share of the
    full corpus). The one-table summary a dedup policy is set from:
    a corpus dominated by 2-clusters wants pair-level survivors, a
    heavy tail of giant clusters wants the hot-bucket caps.

    Scale: everything after the pair join is label-sized; the
    histogram is a two-level map-combined rollup."""
    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()  # O(1) scalar for the share denominator
    cc = connected_components(jaccard_pairs(docs, JACCARD_TAU).select("d1", "d2"))
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            F.round(
                (F.col("cluster_size") * F.col("n_clusters"))
                / F.lit(float(total)),
                6,
            ).alias("corpus_share"),
        )
        .orderBy("cluster_size")
    )


ORACLE_DUP_CLUSTER_HIST = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes sa ON d1 = sa.doc_id
  JOIN sizes sb ON d2 = sb.doc_id
  WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {JACCARD_TAU}
), sym AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION ALL
  SELECT d2 AS a, d1 AS b FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), cc AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a
), csizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id
), total AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM documents
)
SELECT cluster_size,
       COUNT(*) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(cluster_size * COUNT(*) AS DOUBLE) / ANY_VALUE(t.t), 6)
         AS corpus_share
FROM csizes CROSS JOIN total t
GROUP BY cluster_size
ORDER BY cluster_size
"""


# ---------------------------------------------------------------------------
# Token savings from exact dedup (round 9)
# ---------------------------------------------------------------------------


def token_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact dedup buys, in the pipeline's own currency: per
    source, the whitespace-token mass before and after dropping
    byte-identical copies (first-writer-wins by smallest doc_id over
    the md5 content hash, the ``dedup_exact``/``corpus_clean``
    survivor rule) and the savings ratio. Dedup decisions are
    budgeted in training tokens, not doc counts — this is the table
    that converts one to the other.

    Scale: one md5-keyed window over a 3-column projection (the
    text column is hashed at the scan and never exchanged), then a
    map-combined per-source rollup."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("h"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    w = Window.partitionBy("h")
    flagged = docs.withColumn("keeper", F.min("doc_id").over(w))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("doc_id") != F.col("keeper")).cast("long")
            ).alias("n_dropped"),
            F.sum("n_tokens").alias("tokens_before"),
            F.sum(
                F.when(
                    F.col("doc_id") == F.col("keeper"), F.col("n_tokens")
                ).otherwise(F.lit(0))
            ).alias("tokens_after"),
        )
        .withColumn(
            "savings_ratio",
            F.round(
                (F.col("tokens_before") - F.col("tokens_after"))
                / F.col("tokens_before").cast("double"),
                6,
            ),
        )
        .orderBy("source")
    )


ORACLE_TOKEN_DEDUP_SAVINGS = """
WITH d AS (
  SELECT doc_id, source, md5(text) AS h,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
), flagged AS (
  SELECT doc_id, source, n_tokens,
         MIN(doc_id) OVER (PARTITION BY h) AS keeper
  FROM d
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
       CAST(SUM(CASE WHEN doc_id = keeper THEN n_tokens ELSE 0 END)
            AS BIGINT) AS tokens_after,
       ROUND(CAST(SUM(n_tokens)
                  - SUM(CASE WHEN doc_id = keeper THEN n_tokens ELSE 0 END)
                  AS DOUBLE) / SUM(n_tokens), 6) AS savings_ratio
FROM flagged
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Quality-aware cluster survivor selection (round 9)
# ---------------------------------------------------------------------------


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup survivor selection by QUALITY instead of min-id: per
    Jaccard-0.8 cluster, keep the member with the highest composite
    quality score (``quality_col`` — the same scorer
    text_quality_scores and corpus_clean share, rounded to 6 before
    comparison so the argmax is engine-stable; ties break on the
    smaller doc_id). What curation pipelines actually ship: when
    near-dups differ by boilerplate or truncation, min-id keeps an
    arbitrary copy, quality-argmax keeps the best one.

    Scale: the quality score is a narrow map over the scan; the
    argmax is one cluster-keyed max_by after the label-sized CC
    frame joins back — no extra pair-space work anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    cc = connected_components(jaccard_pairs(docs, JACCARD_TAU).select("d1", "d2"))
    scored = docs.select(
        "doc_id", F.round(quality_col(F.col("text")), 6).alias("q")
    )
    return (
        cc.join(scored, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max_by(
                F.col("doc_id"), F.struct(F.col("q"), -F.col("doc_id"))
            ).alias("kept_doc_id"),
            F.max("q").alias("kept_quality"),
        )
        .orderBy("cluster_id")
    )


ORACLE_KEEP_BEST_QUALITY = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT d1, d2 FROM inter
  JOIN sizes sa ON d1 = sa.doc_id
  JOIN sizes sb ON d2 = sb.doc_id
  WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {JACCARD_TAU}
), sym AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION ALL
  SELECT d2 AS a, d1 AS b FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), cc AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a
), scored AS (
  SELECT doc_id,
         ROUND(0.4 * LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE)
                           / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(string_split(text, ' ')))
                           AS DOUBLE)
                      / len(string_split(text, ' ')))
             + 0.3 * (1.0 - LEAST(
                 CAST(len(list_filter(string_split(text, ' '),
                                      t -> t IN ('{_STOP_SQL}'))) AS DOUBLE)
                 / len(string_split(text, ' ')) * 5, 1.0)), 6) AS q
  FROM documents
)
SELECT cc.cluster_id,
       COUNT(*) AS n_members,
       FIRST(cc.doc_id ORDER BY s.q DESC, cc.doc_id ASC) AS kept_doc_id,
       MAX(s.q) AS kept_quality
FROM cc JOIN scored s ON cc.doc_id = s.doc_id
GROUP BY cc.cluster_id
ORDER BY cc.cluster_id
"""


QUERIES: dict[str, QuerySpec] = {
    "minhash_estimate_error": QuerySpec(
        minhash_estimate_error,
        ORACLE_MINHASH_EST,
        ["X-dedup", "A1", "J1", "T3"],
    ),
    "train_eval_ngram_leakage": QuerySpec(
        train_eval_ngram_leakage,
        ORACLE_NGRAM_LEAKAGE,
        ["X-dedup", "X-curation", "A1", "J6"],
    ),
    "dup_cluster_size_histogram": QuerySpec(
        dup_cluster_size_histogram,
        ORACLE_DUP_CLUSTER_HIST,
        ["X-dedup", "X-curation", "A1"],
    ),
    "token_dedup_savings": QuerySpec(
        token_dedup_savings,
        ORACLE_TOKEN_DEDUP_SAVINGS,
        ["X-dedup", "X-training", "A1", "§2.8"],
    ),
    "dedup_keep_best_quality": QuerySpec(
        dedup_keep_best_quality,
        ORACLE_KEEP_BEST_QUALITY,
        ["X-dedup", "X-curation", "X-text", "A1"],
    ),
    "dedup_edit_distance": QuerySpec(
        dedup_edit_distance,
        ORACLE_EDIT_DISTANCE,
        ["X-dedup", "J1", "P16", "T3"],
    ),
    "cdc_chunk_dedup": QuerySpec(
        cdc_chunk_dedup,
        ORACLE_CDC_CHUNK_DEDUP,
        ["X-dedup", "X-curation", "A1", "§2.8", "T1"],
    ),
    "dedup_substring_spans": QuerySpec(
        dedup_substring_spans,
        ORACLE_SUBSTRING_SPANS,
        ["X-dedup", "A1", "F2"],
    ),
    "incremental_dedup_ingest": QuerySpec(
        incremental_dedup_ingest,
        ORACLE_INCREMENTAL_DEDUP,
        ["X-dedup", "X-versioning", "S4", "J6", "A1"],
    ),
    "dedup_exact": QuerySpec(dedup_exact, ORACLE_DEDUP_EXACT, ["X-dedup", "A1"]),
    "lsh_threshold_sweep": QuerySpec(
        lsh_threshold_sweep, _lsh_sweep_oracle(), ["X-dedup", "J3", "A3"]
    ),
    "decontaminate": QuerySpec(
        decontaminate, ORACLE_DECONTAMINATE, ["X-dedup", "X-curation", "J1"]
    ),
    "source_overlap_matrix": QuerySpec(
        source_overlap_matrix, ORACLE_SOURCE_OVERLAP, ["X-dedup", "X-curation", "A8"]
    ),
    "dedup_containment": QuerySpec(
        dedup_containment, ORACLE_DEDUP_CONTAINMENT, ["X-dedup", "J3"]
    ),
    "dedup_jaccard": QuerySpec(
        dedup_jaccard, ORACLE_DEDUP_JACCARD, ["X-dedup", "J3"], bench=True
    ),
    "dedup_jaccard_prefix": QuerySpec(
        dedup_jaccard_prefix, ORACLE_DEDUP_JACCARD, ["X-dedup", "J3", "§2.8"]
    ),
    "dedup_minhash_lsh": QuerySpec(
        dedup_minhash_lsh, ORACLE_DEDUP_JACCARD, ["X-dedup"], bench=True
    ),
    "dedup_clusters": QuerySpec(
        dedup_clusters, ORACLE_DEDUP_CLUSTERS, ["X-dedup"]
    ),
    "corpus_clean": QuerySpec(
        corpus_clean, ORACLE_CORPUS_CLEAN, ["X-dedup", "X-text"]
    ),
    "dedup_simhash": QuerySpec(
        dedup_simhash, ORACLE_DEDUP_SIMHASH, ["X-dedup", "A1"]
    ),
    "pipeline_stage_retention": QuerySpec(
        pipeline_stage_retention,
        _stage_retention_oracle(),
        ["X-dedup", "X-curation", "A1", "A3"],
    ),
}
