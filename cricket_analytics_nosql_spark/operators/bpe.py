"""BPE vocabulary induction — the tokenizer-training half of the
LLM-data pipeline (the counting half is ``token_count_bpe`` in
operators/text.py, which applies a FIXED BPE-ish regex; this module
LEARNS the merge table from the corpus).

Classic byte-pair-encoding training (Sennrich et al. 2016, public
algorithm): start from characters, repeatedly merge the most
frequent adjacent symbol pair. The Spark-first shape is the
word-frequency trick every practical BPE trainer uses: tokenize the
corpus ONCE into a (distinct word, frequency) table — corpus-sized
shuffle happens exactly once — then run every merge iteration in
distinct-word space, which is vocabulary-sized (≈10⁵-10⁷ rows at
100 TB corpus scale, KB-MB frames locally) no matter how large the
corpus is.  Each iteration is one explode + one keyed agg over that
small frame, an O(1) top-1 driver read (the argmax pair becomes a
literal in the next plan — same whitelisted scalar-read class as
layout.py's Z-order bounds), and a JVM-side fold that re-segments
every word, with ``localCheckpoint`` cutting lineage per round
(the CC/PageRank loop discipline, operators/dedup.py:276).

The merge fold is the standard leftmost-non-overlapping rule:
scanning left to right, a symbol equal to the pair's right half
merges into the accumulator's tail iff that tail equals the left
half — so ``aaa`` under pair (a,a) becomes ``[aa, a]``, exactly the
reference semantics (pinned against a pure-Python trainer in
tests/test_bpe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.operators.spec import QuerySpec
from cricket_analytics_nosql_spark.sources.tables import load_table

END = "</w>"

_PAIRS = (
    "zip_with(slice(syms, 1, size(syms) - 1),"
    " slice(syms, 2, size(syms) - 1),"
    " (a, b) -> struct(a AS a, b AS b))"
)

# leftmost-non-overlapping merge of pair ('{a}','{b}') into '{ab}',
# folding over the array expression named by {col}
_MERGE_FOLD = """
aggregate({col}, cast(array() as array<string>),
  (acc, x) -> case
    when size(acc) > 0 and element_at(acc, -1) = '{a}' and x = '{b}'
      then concat(slice(acc, 1, size(acc) - 1), array('{ab}'))
    else concat(acc, array(x))
  end)
"""


def word_frequencies(docs: DataFrame, max_word_len: int = 24) -> DataFrame:
    """(word, freq) over lowercase a-z words — the one corpus-sized
    pass; everything after runs in this distinct-word space."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
        )
        .filter(
            (F.length("w") > 0)
            & (F.length("w") <= max_word_len)
            & F.col("w").rlike("^[a-z]+$")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_train(
    spark: SparkSession, docs: DataFrame, n_merges: int = 8
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the merge table
    (merge_rank, left, right, merged, weighted_count) — the training
    artifact a tokenizer ships.  Ties on count break lexicographically
    on (left, right) so training is deterministic across engines,
    partitionings, and runs."""
    return spark.createDataFrame(
        _train_merges(docs, n_merges),
        "merge_rank int, left string, right string,"
        " merged string, weighted_count bigint",
    )


def _train_merges(
    docs: DataFrame, n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """The training loop itself; returns the driver-side merge list
    (O(n_merges) scalars — the same whitelisted class as the per-
    round argmax reads it is built from)."""
    vocab = (
        word_frequencies(docs)
        .select(
            F.concat(
                F.split("w", ""), F.array(F.lit(END))
            ).alias("syms"),
            "freq",
        )
        .localCheckpoint()
    )
    # The per-round pair-count reduce is vocabulary-sized; the
    # session's AQE coalesces its partitions, so no sizing is needed.
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            vocab.select("freq", F.explode(F.expr(_PAIRS)).alias("p"))
            .groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("p.a"), F.asc("p.b"))
            .limit(1)
            .first()  # O(1): the argmax pair only, never data rows
        )
        if top is None:
            break
        a, b, cnt = top["p"]["a"], top["p"]["b"], int(top["cnt"])
        merges.append((rank, a, b, a + b, cnt))
        vocab = vocab.select(
            F.expr(
                _MERGE_FOLD.format(col="syms", a=a, b=b, ab=a + b)
            ).alias("syms"),
            "freq",
        ).localCheckpoint()
    return merges


def bpe_vocab_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the first 8 learned merges over the documents
    corpus — hash-ORACLED: the greedy loop unrolls into DuckDB CTEs
    (``_bpe_oracle_sql``), and the merge table is additionally
    pinned against a pure-Python reference trainer in
    tests/test_bpe.py."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    return bpe_train(spark, docs, n_merges=8).orderBy("merge_rank")


def _bpe_oracle_sql(n_merges: int = 8, max_word_len: int = 24) -> str:
    """The BPE training loop UNROLLED as DuckDB CTEs — greedy
    iterative argmax is replayable the same way the PageRank
    recurrence is, because each round is deterministic given the
    previous vocabulary: count pairs, take the (cnt DESC, a, b)
    argmax, re-segment. The only non-trivial piece is the
    leftmost-non-overlapping merge without fold expressions (DuckDB's
    list_reduce can't build list accumulators): adjacent merge
    candidates can only chain when left == right (if a ≠ b, a match
    at i forbids one at i+1), so candidate positions form runs of
    equal symbols and the leftmost-greedy rule selects exactly the
    EVEN OFFSETS within each run — a window parity, not a fold. Each
    selected position rewrites to the merged symbol and its right
    neighbor drops via LAG. Integer counts throughout → exact hash
    equality; verified identical to the Spark trainer (and the pure-
    Python reference pinned in tests/test_bpe.py) at sf0.001-0.1."""
    ctes = [
        f"""
WITH wf AS MATERIALIZED (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
  ) WHERE len(w) > 0 AND len(w) <= {max_word_len}
        AND regexp_matches(w, '^[a-z]+$')
  GROUP BY w
),
v1 AS MATERIALIZED (
  SELECT w AS wid, freq,
         list_append(string_split(w, ''), '{END}') AS syms
  FROM wf
)"""
    ]
    outs = []
    for r in range(1, n_merges + 1):
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT syms[i] AS a, syms[i+1] AS b, SUM(freq) AS cnt
  FROM v{r}, UNNEST(range(1, len(syms))) AS t(i)
  GROUP BY a, b
),
top{r} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
),
e{r} AS MATERIALIZED (
  SELECT wid, freq, i, syms[i] AS sym,
         (i < len(syms)
          AND syms[i] = (SELECT a FROM top{r})
          AND syms[i+1] = (SELECT b FROM top{r})) AS c
  FROM v{r}, UNNEST(range(1, len(syms) + 1)) AS t(i)
),
g{r} AS MATERIALIZED (
  SELECT wid, freq, i, sym, c,
         CASE WHEN c THEN i - ROW_NUMBER() OVER (
           PARTITION BY wid, c ORDER BY i) END AS grp
  FROM e{r}
),
s{r} AS MATERIALIZED (
  SELECT wid, freq, i, sym, c,
         c AND ((i - MIN(i) OVER (PARTITION BY wid, grp)) % 2 = 0) AS sel
  FROM g{r}
),
m{r} AS MATERIALIZED (
  SELECT wid, freq, i,
         CASE WHEN sel THEN (SELECT a || b FROM top{r}) ELSE sym END AS sym,
         COALESCE(LAG(sel) OVER (PARTITION BY wid ORDER BY i), FALSE)
           AS drop_me
  FROM s{r}
),
v{r + 1} AS MATERIALIZED (
  SELECT wid, ANY_VALUE(freq) AS freq,
         list(sym ORDER BY i) FILTER (NOT drop_me) AS syms
  FROM m{r} GROUP BY wid
)"""
        )
        outs.append(
            f'SELECT {r} AS merge_rank, a AS "left", b AS "right",'
            f" a || b AS merged, CAST(cnt AS BIGINT) AS weighted_count"
            f" FROM top{r}"
        )
    return (
        ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(outs)
        + "\nORDER BY merge_rank"
    )


ORACLE_BPE_VOCAB_MERGES = _bpe_oracle_sql()


def bpe_segment(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned merge table to a ``text`` column → per-row
    token arrays, entirely JVM-side: the merge list unrolls into a
    fixed chain of fold expressions (no Python row path), applied in
    rank order exactly as at training time."""
    toks = F.expr(
        "transform(filter(split(lower(text), '\\\\s+'),"
        " x -> length(x) > 0 and length(x) <= 24"
        " and x rlike '^[a-z]+$'),"
        f" w -> concat(split(w, ''), array('{END}')))"
    )
    out = df.withColumn("__words", toks)
    for a, b in merges:
        fold = _MERGE_FOLD.format(col="w", a=a, b=b, ab=a + b)
        out = out.withColumn(
            "__words",
            F.expr(f"transform(__words, w -> {fold})"),
        )
    return out.withColumn("tokens", F.flatten("__words")).drop("__words")


def bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer loop CLOSED end-to-end: train the 8-merge table
    on the corpus, then APPLY it back to every document (the
    ``bpe_segment`` fold chain — pure JVM expressions) and report
    per-source compression: documents, word instances, BPE tokens,
    and tokens-per-word. This is the readout a tokenizer team
    actually ships (did the merges reduce sequence length, and
    uniformly across sources?). Oracled by replaying training AND
    segmentation in DuckDB: the final unrolled vocabulary maps every
    distinct word to its token length, and per-source totals are the
    freq-weighted join of that map onto the word instances."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    merges = [
        (left, right)
        for _, left, right, _, _ in _train_merges(docs, 8)
    ]
    seg = bpe_segment(docs, merges)
    words = F.expr(
        "filter(split(lower(text), '\\\\s+'),"
        " x -> length(x) > 0 and length(x) <= 24"
        " and x rlike '^[a-z]+$')"
    )
    return (
        seg.select(
            "source",
            F.size(words).alias("n_words"),
            F.size("tokens").alias("n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .filter(F.col("total_words") > 0)  # oracle inner-join parity
        .withColumn(
            "tokens_per_word",
            F.round(
                F.col("total_tokens").cast("double")
                / F.col("total_words").cast("double"),
                6,
            ),
        )
        .orderBy("source")
    )


def _bpe_tokenize_oracle(n_merges: int = 8, max_word_len: int = 24) -> str:
    """Training replay (the ``_bpe_oracle_sql`` CTE chain) + a
    segmentation replay: v{n+1} already holds every distinct word's
    post-merge symbol list, so per-source totals are one join of
    len(syms) onto the word-instance stream — no per-document merge
    replay needed (segmentation is word-local, the same invariant
    the Spark trainer exploits)."""
    prefix = _bpe_oracle_sql(n_merges, max_word_len)
    # reuse everything up to the final SELECT of the merge table
    prefix = prefix[: prefix.index("\nSELECT 1 AS merge_rank")]
    return (
        prefix
        + f""",
wtok AS MATERIALIZED (
  SELECT wid, len(syms) AS n_tok FROM v{n_merges + 1}
),
inst AS MATERIALIZED (
  SELECT source, w FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  ) WHERE len(w) > 0 AND len(w) <= {max_word_len}
        AND regexp_matches(w, '^[a-z]+$')
),
per_doc AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
)
SELECT p.source, p.n_docs,
       COUNT(*) AS total_words,
       CAST(SUM(t.n_tok) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(t.n_tok) AS DOUBLE) / COUNT(*), 6)
         AS tokens_per_word
FROM inst i
JOIN wtok t ON i.w = t.wid
JOIN per_doc p ON i.source = p.source
GROUP BY p.source, p.n_docs
ORDER BY p.source
"""
    )


QUERIES: dict[str, QuerySpec] = {
    "bpe_vocab_merges": QuerySpec(
        bpe_vocab_merges,
        ORACLE_BPE_VOCAB_MERGES,
        ["§2.12", "X-text", "A1", "T1"],
    ),
    "bpe_tokenize_stats": QuerySpec(
        bpe_tokenize_stats,
        _bpe_tokenize_oracle(),
        ["§2.12", "X-text", "X-training", "A1", "J1"],
    ),
}
