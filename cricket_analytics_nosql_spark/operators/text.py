"""Text-analysis operators for LLM training-data pipelines —
SURVEY.md §2.13 / BASELINE.md mandate, over the ``documents`` table.

All four capabilities (language-ID heuristic, quality scoring, token
counting, document fingerprinting) are pure native-expression plans:
split/regexp/explode/aggregate run JVM-side inside whole-stage
codegen, so per-doc cost is a narrow map and the only shuffles are
the final aggregations. At 100 TB these are scan-bound, exactly what
a corpus-prep pass should be.

Shingle convention (shared with dedup.py): word 3-grams from a
single-space tokenization. Spark array indexing is 0-based while the
DuckDB oracle is 1-based — both sides are written against their own
convention to produce identical shingle sets.
"""

from __future__ import annotations

from pyspark.sql import (  # noqa: F401
    Column,
    DataFrame,
    Observation,
    SparkSession,
    Window,
)
from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.functions.scalar import flag, md5_u32
from cricket_analytics_nosql_spark.operators.spec import QuerySpec
from cricket_analytics_nosql_spark.sources.tables import fan_out, load_table

# Small closed-class English word list for the stopword-ratio features.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "it"]

# BPE-ish lexer: word pieces, digit runs, single non-space symbols.
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (single-space corpus convention)."""
    return F.split(text, " ")


def shingles_col(words: Column) -> Column:
    """Distinct word 3-gram shingles; empty for docs under 3 tokens
    (guard needed: Spark sequence(0, -1) would count *down*)."""
    return F.when(
        F.size(words) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(words, i + 1),
                    F.element_at(words, i + 2),
                    F.element_at(words, i + 3),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def quality_col(text: F.Column) -> F.Column:
    """Composite quality score ∈ [0,1]: length saturation +
    distinct-token ratio + inverted stopword density. Shared by
    text_quality_scores and the corpus_clean pipeline so the filter
    and the report can never disagree."""
    w = tokens_col(text)
    n_tok = F.size(w).cast("double")
    distinct_ratio = F.size(F.array_distinct(w)).cast("double") / n_tok
    stop_ratio = (
        F.size(F.filter(w, lambda t: t.isin(STOPWORDS))).cast("double") / n_tok
    )
    return (
        F.lit(0.4) * F.least(n_tok / 100.0, F.lit(1.0))
        + F.lit(0.3) * distinct_ratio
        + F.lit(0.3) * (F.lit(1.0) - F.least(stop_ratio * 5, F.lit(1.0)))
    )


def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score: token count,
    mean token length, stopword ratio, distinct-token ratio, and a
    BPE-ish regex token count. One narrow projection — no shuffle at
    all except the final top-k."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    w = tokens_col(F.col("text"))
    n_tok = F.size(w).cast("double")
    stop_hits = F.size(F.array_intersect(w, F.array(*[F.lit(s) for s in STOPWORDS])))
    distinct_ratio = F.size(F.array_distinct(w)).cast("double") / n_tok
    stop_ratio = (
        F.size(F.filter(w, lambda t: t.isin(STOPWORDS))).cast("double") / n_tok
    )
    avg_tok_len = (
        (F.length(F.col("text")) - (F.size(w) - 1)).cast("double") / n_tok
    )
    bpe_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0))
    quality = quality_col(F.col("text"))
    return (
        docs.select(
            "doc_id",
            "lang",
            n_tok.cast("long").alias("n_tokens"),
            bpe_tokens.alias("n_bpe_tokens"),
            F.round(avg_tok_len, 6).alias("avg_token_len"),
            F.round(stop_ratio, 6).alias("stopword_ratio"),
            F.round(distinct_ratio, 6).alias("distinct_ratio"),
            F.round(quality, 6).alias("quality"),
            stop_hits.alias("n_stopword_kinds"),
        )
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .limit(100)
    )


_STOP_SQL = "', '".join(STOPWORDS)

ORACLE_TEXT_QUALITY = f"""
WITH feat AS (
  SELECT doc_id, lang,
         string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         text
  FROM documents
), scored AS (
  SELECT doc_id, lang,
         CAST(n_tok AS BIGINT) AS n_tokens,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
         ROUND(CAST(length(text) - (n_tok - 1) AS DOUBLE) / n_tok, 6) AS avg_token_len,
         ROUND(CAST(len(list_filter(w, t -> t IN ('{_STOP_SQL}'))) AS DOUBLE) / n_tok, 6)
           AS stopword_ratio,
         ROUND(CAST(len(list_distinct(w)) AS DOUBLE) / n_tok, 6) AS distinct_ratio,
         ROUND(0.4 * LEAST(n_tok / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(w)) AS DOUBLE) / n_tok)
             + 0.3 * (1.0 - LEAST(CAST(len(list_filter(w, t -> t IN ('{_STOP_SQL}'))) AS DOUBLE) / n_tok * 5, 1.0)), 6)
           AS quality,
         len(list_intersect(list_distinct(w), ['{_STOP_SQL}'])) AS n_stopword_kinds
  FROM feat
)
SELECT * FROM scored
ORDER BY quality DESC, doc_id ASC
LIMIT 100
"""


def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by stopword-hit-rate heuristic, compared against
    the table's labeled ``lang``: the confusion profile per label.
    (The corpus is synthetic English word-soup, so the heuristic
    predictably says 'en' — the operator is the deliverable, and at
    100 TB it's one narrow map + one small agg.)"""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    w = tokens_col(F.col("text"))
    stop_ratio = (
        F.size(F.filter(w, lambda t: t.isin(STOPWORDS))).cast("double")
        / F.size(w)
    )
    pred = (
        F.when(stop_ratio >= 0.08, "en")
        .when(stop_ratio >= 0.02, "en_maybe")
        .otherwise("unk")
    )
    return (
        docs.select(F.col("lang").alias("labeled_lang"), pred.alias("pred_lang"))
        .groupBy("labeled_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("labeled_lang", "pred_lang")
    )


ORACLE_LANGID = f"""
WITH pred AS (
  SELECT lang AS labeled_lang,
         CASE
           WHEN CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('{_STOP_SQL}'))) AS DOUBLE)
                / len(string_split(text, ' ')) >= 0.08 THEN 'en'
           WHEN CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('{_STOP_SQL}'))) AS DOUBLE)
                / len(string_split(text, ' ')) >= 0.02 THEN 'en_maybe'
           ELSE 'unk'
         END AS pred_lang
  FROM documents
)
SELECT labeled_lang, pred_lang, COUNT(*) AS n_docs
FROM pred
GROUP BY labeled_lang, pred_lang
ORDER BY labeled_lang, pred_lang
"""


def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between two independent language-ID rules — the
    inter-annotator-agreement gate every weak-supervision labeling
    pipeline needs: raw agreement overstates consistency when both
    rules default to the majority class, κ corrects by the agreement
    expected from the marginals alone. Rule A is
    ``langid_heuristic``'s stopword-hit-rate; rule B thresholds the
    rate of the single most reliable stopword ('the'), so the two
    share a construct but not a feature — exactly the weak-label
    pair κ is meant to audit.

    Exactness: both classifications ride ONE scan-side projection;
    the stream collapses to the ≤9-cell confusion table map-side.
    p_o and p_e stay integer (agree counts; Σ row_k·col_k over the
    per-class marginal join) until three final divisions mirrored
    textually in the oracle. Everything past the rollup is
    metadata-sized at any corpus scale."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    w = tokens_col(F.col("text"))
    n_tok = F.size(w).cast("double")
    stop_ratio = (
        F.size(F.filter(w, lambda t: t.isin(STOPWORDS))).cast("double")
        / n_tok
    )
    the_ratio = (
        F.size(F.filter(w, lambda t: t == "the")).cast("double") / n_tok
    )
    pred_a = (
        F.when(stop_ratio >= 0.08, "en")
        .when(stop_ratio >= 0.02, "en_maybe")
        .otherwise("unk")
    )
    pred_b = (
        F.when(the_ratio >= 0.04, "en")
        .when(the_ratio >= 0.01, "en_maybe")
        .otherwise("unk")
    )
    cells = (
        docs.select(pred_a.alias("a"), pred_b.alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    marg_a = cells.groupBy("a").agg(F.sum("c").alias("ra"))
    marg_b = cells.groupBy("b").agg(F.sum("c").alias("cb"))
    pe_num = (
        marg_a.join(
            marg_b, F.col("a") == F.col("b")
        ).agg(F.sum(F.col("ra") * F.col("cb")).alias("pe_num"))
    )
    base = cells.agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c")).otherwise(0)).alias(
            "n_agree"
        ),
    )
    j = base.crossJoin(F.broadcast(pe_num))
    nd = F.col("n").cast("double")
    po = F.col("n_agree").cast("double") / nd
    pe = F.col("pe_num").cast("double") / (nd * nd)
    return j.select(
        F.col("n").alias("n_docs"),
        "n_agree",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


ORACLE_COHENS_KAPPA = f"""
WITH feat AS (
  SELECT string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
  FROM documents
), pred AS (
  SELECT CASE
           WHEN CAST(len(list_filter(w, t -> t IN ('{_STOP_SQL}')))
                AS DOUBLE) / n_tok >= 0.08 THEN 'en'
           WHEN CAST(len(list_filter(w, t -> t IN ('{_STOP_SQL}')))
                AS DOUBLE) / n_tok >= 0.02 THEN 'en_maybe'
           ELSE 'unk'
         END AS a,
         CASE
           WHEN CAST(len(list_filter(w, t -> t = 'the'))
                AS DOUBLE) / n_tok >= 0.04 THEN 'en'
           WHEN CAST(len(list_filter(w, t -> t = 'the'))
                AS DOUBLE) / n_tok >= 0.01 THEN 'en_maybe'
           ELSE 'unk'
         END AS b
  FROM feat
), cells AS (
  SELECT a, b, COUNT(*) AS c FROM pred GROUP BY a, b
), marg AS (
  SELECT CAST(SUM(ma.ra * mb.cb) AS BIGINT) AS pe_num
  FROM (SELECT a, SUM(c) AS ra FROM cells GROUP BY a) ma
  JOIN (SELECT b, SUM(c) AS cb FROM cells GROUP BY b) mb ON ma.a = mb.b
), base AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS n_agree
  FROM cells
)
SELECT n AS n_docs, n_agree,
       ROUND(CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_observed,
       ROUND(CAST(pe_num AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS p_expected,
       ROUND((CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE)
              - CAST(pe_num AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             / (1.0 - CAST(pe_num AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) AS kappa
FROM base CROSS JOIN marg
"""


def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for the stopword
    language-ID score used as a probability forecast of the label
    being 'en' — the standard probing order for any soft classifier
    in a labeling pipeline: reliability (calibration error, want 0),
    resolution (discrimination, want large), uncertainty (the
    irreducible base-rate term). ``calibration_bins_langid`` plots
    the curve; this is its scalar summary triple, and because the
    forecast is quantized to the 21-point 1/20 grid BEFORE scoring,
    the Murphy identity Brier = REL − RES + UNC holds exactly.

    Exactness: with f = f20/20 and binary outcomes, the Brier
    numerator Σ(n·f20² − 40·f20·o + 400·o) is an exact integer over
    the ≤21-row bin frame; REL and RES quantize per-bin to integer
    micro-units (the lm_surprisal idiom) so their sums are
    order-free; one division each at the end. The fact stream
    collapses to the bin frame in ONE map-side-combined rollup."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    w = tokens_col(F.col("text"))
    stop_ratio = (
        F.size(F.filter(w, lambda t: t.isin(STOPWORDS))).cast("double")
        / F.size(w).cast("double")
    )
    f20 = F.least(
        F.round(stop_ratio * 100.0, 0).cast("long"), F.lit(20).cast("long")
    )
    bins = (
        docs.select(
            f20.alias("f20"),
            (F.col("lang") == "en").cast("long").alias("o"),
        )
        .groupBy("f20")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o").alias("ok"))
    )
    tot = bins.agg(
        F.sum("n").alias("nn"),
        F.sum("ok").alias("oo"),
        F.sum(
            F.col("n") * F.col("f20") * F.col("f20")
            - 40 * F.col("f20") * F.col("ok")
            + 400 * F.col("ok")
        ).alias("brier_num"),
    )
    j = bins.crossJoin(F.broadcast(tot))
    nkd = F.col("n").cast("double")
    okd = F.col("ok").cast("double")
    f20d = F.col("f20").cast("double")
    nnd = F.col("nn").cast("double")
    ood = F.col("oo").cast("double")
    rel_term = (
        (f20d * nkd - 20.0 * okd) * (f20d * nkd - 20.0 * okd)
        / (400.0 * nkd)
    )
    res_term = (
        (okd * nnd - ood * nkd) * (okd * nnd - ood * nkd) / (nkd * nnd * nnd)
    )
    micro = lambda e: F.round(e * 1e6, 0).cast("long")  # noqa: E731
    agg = j.groupBy("nn", "oo", "brier_num").agg(
        F.sum(micro(rel_term)).alias("rel_micro"),
        F.sum(micro(res_term)).alias("res_micro"),
    )
    nnd2 = F.col("nn").cast("double")
    ood2 = F.col("oo").cast("double")
    return agg.select(
        F.col("nn").alias("n_docs"),
        F.round(ood2 / nnd2, 6).alias("base_rate"),
        F.round(
            F.col("brier_num").cast("double") / (400.0 * nnd2), 6
        ).alias("brier"),
        F.round(
            F.col("rel_micro").cast("double") / (1e6 * nnd2), 6
        ).alias("reliability"),
        F.round(
            F.col("res_micro").cast("double") / (1e6 * nnd2), 6
        ).alias("resolution"),
        F.round(
            ood2 * (nnd2 - ood2) / (nnd2 * nnd2), 6
        ).alias("uncertainty"),
    )


ORACLE_BRIER_DECOMPOSITION = f"""
WITH feat AS (
  SELECT LEAST(CAST(ROUND(
           CAST(len(list_filter(string_split(text, ' '),
                                t -> t IN ('{_STOP_SQL}'))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) * 100.0, 0)
           AS BIGINT), 20) AS f20,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS o
  FROM documents
), bins AS (
  SELECT f20, COUNT(*) AS n, CAST(SUM(o) AS BIGINT) AS ok
  FROM feat GROUP BY f20
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(ok) AS BIGINT) AS oo,
         CAST(SUM(n * f20 * f20 - 40 * f20 * ok + 400 * ok) AS BIGINT)
           AS brier_num
  FROM bins
), agg AS (
  SELECT nn, oo, brier_num,
         CAST(SUM(CAST(ROUND(
           (CAST(f20 AS DOUBLE) * CAST(n AS DOUBLE)
            - 20.0 * CAST(ok AS DOUBLE))
           * (CAST(f20 AS DOUBLE) * CAST(n AS DOUBLE)
              - 20.0 * CAST(ok AS DOUBLE))
           / (400.0 * CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT))
         AS BIGINT) AS rel_micro,
         CAST(SUM(CAST(ROUND(
           (CAST(ok AS DOUBLE) * CAST(nn AS DOUBLE)
            - CAST(oo AS DOUBLE) * CAST(n AS DOUBLE))
           * (CAST(ok AS DOUBLE) * CAST(nn AS DOUBLE)
              - CAST(oo AS DOUBLE) * CAST(n AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)
              * CAST(nn AS DOUBLE)) * 1e6, 0) AS BIGINT))
         AS BIGINT) AS res_micro
  FROM bins CROSS JOIN tot
  GROUP BY nn, oo, brier_num
)
SELECT nn AS n_docs,
       ROUND(CAST(oo AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS base_rate,
       ROUND(CAST(brier_num AS DOUBLE)
             / (400.0 * CAST(nn AS DOUBLE)), 6) AS brier,
       ROUND(CAST(rel_micro AS DOUBLE)
             / (1e6 * CAST(nn AS DOUBLE)), 6) AS reliability,
       ROUND(CAST(res_micro AS DOUBLE)
             / (1e6 * CAST(nn AS DOUBLE)), 6) AS resolution,
       ROUND(CAST(oo AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(oo AS DOUBLE))
             / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS uncertainty
FROM agg
"""


def token_frequency_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies with document frequency — the
    explode → groupBy word-count (partial agg combines map-side, so
    the shuffle carries one row per distinct token per partition,
    not one per token occurrence)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(30)
    )


ORACLE_TOKEN_FREQUENCY = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM tok
GROUP BY token
ORDER BY tf DESC, token ASC
LIMIT 30
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: the lexicographic min of
    the md5 hashes of the doc's 3-gram shingles (a deterministic
    1-of-n sketch both engines compute identically). Groups with a
    shared fingerprint are near-dup candidate clusters."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    sh = shingles_col(tokens_col(F.col("text")))
    fp = F.array_min(F.transform(sh, lambda s: F.md5(s)))
    with_fp = docs.select("doc_id", fp.alias("fingerprint")).filter(
        F.col("fingerprint").isNotNull()
    )
    return (
        with_fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("cluster_size") >= 2)
        .orderBy(F.desc("cluster_size"), F.asc("fingerprint"))
        .limit(50)
    )


ORACLE_DOC_FINGERPRINTS = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
), fp AS (
  SELECT doc_id, MIN(h) AS fingerprint FROM sh GROUP BY doc_id
)
SELECT fingerprint, COUNT(*) AS cluster_size, MIN(doc_id) AS min_doc_id
FROM fp
GROUP BY fingerprint
HAVING COUNT(*) >= 2
ORDER BY cluster_size DESC, fingerprint ASC
LIMIT 50
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, token): explode → per-doc term counts joined
    with document frequencies and the corpus size (1-row frame,
    broadcast cross-join — never a driver collect). Top terms by
    score. Both shuffles (per-doc tf, corpus df) are map-side
    combinable; the df frame is tiny (vocab-sized) and broadcasts
    into the final join."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    return scored.orderBy(
        F.desc("tfidf"), F.asc("doc_id"), F.asc("token")
    ).limit(50)


ORACLE_TFIDF = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
)
SELECT doc_id, tf.token AS token, tf, df,
       ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
ORDER BY tfidf DESC, doc_id ASC, token ASC
LIMIT 50
"""


def lang_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup: docs/chars/mean length per
    (lang, source) — the profiling pass that decides sampling weights
    for a training mix."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias(
                "avg_chars"
            ),
        )
        .orderBy("lang", "source")
    )


def source_diversity_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ecological-diversity readout of the corpus mix, per language:
    source richness (how many sources), Simpson's index 1 − Σpᵢ²
    (the chance two random docs come from different sources — the
    concentration dual of ``supplier_hhi_topk``), and Shannon
    entropy with its evenness normalization H/ln(richness). The
    one-screen answer to "is this language's data actually diverse
    or one crawl wearing twenty names", upstream of every mixture
    decision (``domain_mixture_resample``, ``doremi_mixture_weights``).

    Exactness: one (lang, source) rollup; Simpson's numerator
    Σnᵢ² stays an exact bigint (one division per language), Shannon
    rides integer micro-nats per source row (the lm_surprisal
    idiom). Everything after the rollup is |lang×source|-sized."""
    ls = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wl = Window.partitionBy("lang")
    g = ls.select(
        "lang",
        "c",
        F.sum("c").over(wl).alias("n"),
    )
    per_lang = g.groupBy("lang", "n").agg(
        F.count(F.lit(1)).alias("richness"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
        F.sum(
            F.col("c")
            * F.round(
                F.log(F.col("c").cast("double") / F.col("n").cast("double"))
                * 1e6,
                0,
            ).cast("long")
        ).alias("h_micro_sum"),
    )
    h = -F.col("h_micro_sum").cast("double") / (
        F.col("n").cast("double") * 1e6
    )
    return per_lang.select(
        "lang",
        F.col("n").alias("n_docs"),
        "richness",
        F.round(
            1.0
            - F.col("sum_c2").cast("double")
            / (F.col("n").cast("double") * F.col("n").cast("double")),
            6,
        ).alias("simpson"),
        F.round(h, 6).alias("shannon_nats"),
        F.when(
            F.col("richness") > 1,
            F.round(h / F.log(F.col("richness").cast("double")), 6),
        ).alias("evenness"),
    ).orderBy("lang")


ORACLE_SOURCE_DIVERSITY = """
WITH ls AS (
  SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY lang, source
), g AS (
  SELECT lang, c, SUM(c) OVER (PARTITION BY lang) AS n FROM ls
), per_lang AS (
  SELECT lang, CAST(n AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS richness,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2,
         CAST(SUM(c * CAST(ROUND(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                                 * 1e6, 0) AS BIGINT)) AS BIGINT)
           AS h_micro_sum
  FROM g GROUP BY lang, n
)
SELECT lang, n AS n_docs, richness,
       ROUND(1.0 - CAST(sum_c2 AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS simpson,
       ROUND(-CAST(h_micro_sum AS DOUBLE)
             / (CAST(n AS DOUBLE) * 1e6), 6) AS shannon_nats,
       CASE WHEN richness > 1
            THEN ROUND((-CAST(h_micro_sum AS DOUBLE)
                        / (CAST(n AS DOUBLE) * 1e6))
                       / ln(CAST(richness AS DOUBLE)), 6)
       END AS evenness
FROM per_lang
ORDER BY lang
"""


ORACLE_LANG_SOURCE_PROFILE = """
SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (BASELINE mandate): a GPT-2-style
    pre-tokenizer approximation — letter runs, digit runs, single
    punctuation — next to the plain whitespace count. Both are pure
    JVM regex expressions (no Python in the hot path); the ratio is
    the compression-rate proxy a data-mix pipeline budgets with."""
    docs = load_table(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    per_doc = docs.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_ws"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
        ).alias("n_bpe"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws").alias("ws_tokens"),
            F.sum("n_bpe").alias("bpe_tokens"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_ws"), 6
            ).alias("bpe_per_ws"),
        )
        .orderBy("lang")
    )


ORACLE_TOKEN_COUNT_BPE = """
WITH t AS (
  SELECT lang,
         len(string_split(text, ' ')) AS n_ws,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0))
           AS n_bpe
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
       ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) AS bpe_per_ws
FROM t GROUP BY lang ORDER BY lang
"""


def char_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-bigram profile, top 12 by frequency —
    the statistic an n-gram language identifier is trained on (the
    trained sibling of ``langid_heuristic``'s hand-rules). The
    bigram explosion is a pure narrow expression (sequence →
    transform → explode — no Python, no pre-shuffle), so the heavy
    row multiplication happens inside the scan stage and the only
    exchange carries (lang, bigram) partial counts."""
    docs = load_table(spark, sf_dir, "documents")
    # guard length >= 2: sequence(1, 0) counts DOWN ([1, 0]) and
    # would emit phantom bigrams for 0/1-char texts that the range()
    # oracle (empty) never produces
    bigrams = docs.select(
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN length(text) >= 2 THEN"
                " transform(sequence(1, length(text) - 1),"
                " i -> substring(lower(text), i, 2))"
                " ELSE array() END"
            )
        ).alias("bg"),
    )
    counts = bigrams.groupBy("lang", "bg").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bg"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 12)
        .orderBy("lang", "rank")
    )


ORACLE_CHAR_NGRAM_PROFILE = """
WITH bgs AS (
  SELECT lang,
         unnest([substr(lower(text), CAST(i AS INT), 2)
                 for i in range(1, length(text))]) AS bg
  FROM documents
), counts AS (
  SELECT lang, bg, COUNT(*) AS n FROM bgs GROUP BY lang, bg
), ranked AS (
  SELECT lang, bg, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bg ASC) AS rank
  FROM counts
)
SELECT lang, bg, n, rank FROM ranked WHERE rank <= 12
ORDER BY lang, rank
"""


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals: per-document
    duplicate-word and duplicate-bigram fractions, profiled per
    language with a flag count at the documented threshold (docs
    whose duplicate-bigram fraction exceeds 0.25 — the 'repetitive
    junk' rule of corpus-filtering pipelines). All native array
    expressions over the scan — no shuffle until the per-language
    rollup, which carries integer sums only, so partial aggregation
    is exact and the flag comparison is a single deterministic
    division per row (no float-order hazard)."""
    docs = load_table(spark, sf_dir, "documents")
    w = tokens_col(F.col("text"))
    bi = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i), F.element_at(w, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = docs.select(
        "lang",
        F.size(w).alias("nw"),
        F.size(F.array_distinct(w)).alias("dw"),
        F.size(bi).alias("nb"),
        F.size(F.array_distinct(bi)).alias("db"),
    )
    flagged = (F.col("nb") > 0) & (
        (F.lit(1.0) - F.col("db") / F.col("nb")) > 0.25
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").alias("total_words"),
            F.sum("dw").alias("distinct_words"),
            F.sum("nb").alias("total_bigrams"),
            F.sum("db").alias("distinct_bigrams"),
            F.sum(flagged.cast("long")).alias("n_flagged"),
        )
        .select(
            "lang",
            "n_docs",
            "total_words",
            "distinct_words",
            "total_bigrams",
            "distinct_bigrams",
            "n_flagged",
            F.round(
                F.lit(1.0)
                - F.col("distinct_bigrams") / F.col("total_bigrams"),
                6,
            ).alias("dup_bigram_frac"),
        )
        .orderBy("lang")
    )


ORACLE_REPETITION_STATS = """
WITH per_doc AS (
  SELECT lang,
         string_split(text, ' ') AS w,
         [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bi
  FROM documents
), sized AS (
  SELECT lang,
         len(w) AS nw, len(list_distinct(w)) AS dw,
         len(bi) AS nb, len(list_distinct(bi)) AS db
  FROM per_doc
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(nw) AS BIGINT) AS total_words,
       CAST(SUM(dw) AS BIGINT) AS distinct_words,
       CAST(SUM(nb) AS BIGINT) AS total_bigrams,
       CAST(SUM(db) AS BIGINT) AS distinct_bigrams,
       CAST(SUM(CASE WHEN nb > 0 AND (1.0 - CAST(db AS DOUBLE)/nb) > 0.25
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       ROUND(1.0 - CAST(SUM(db) AS DOUBLE) / SUM(nb), 6) AS dup_bigram_frac
FROM sized
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------------------------------
# PII detection / redaction

# Portable regex subset: character classes, bounded repeats and \b
# behave identically under Java regex (Spark) and RE2 (DuckDB) — no
# lookaround, no backreferences.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b555-[0-9]{4}\b"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def redact_pii(text: Column) -> Column:
    """Replace every email, then IP, then phone match with a typed
    placeholder. Email runs first so its domain dots are consumed
    before the IP pattern can see them."""
    out = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_IP_RE, "<IP>")
    return F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over documents: per-doc match
    counts by type and the scrubbed text. Pure regex expressions in
    the scan stage — the 100 TB shape is a narrow map with zero
    shuffles (the orderBy here is presentation-only).

    The synthetic corpus contains no PII, so the query first injects
    a deterministic, doc_id-derived contact tail (emails / phone /
    IPv4, with per-doc presence varying on doc_id so the counts are
    non-constant) and then scrubs it — the detector is exercised on
    known ground truth and the oracle checks both the counts and the
    redacted strings byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    tail = F.concat(
        F.lit(" contact user"), s(did), F.lit("@example.com"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" cc admin"), s(did), F.lit("@mail.example.org")),
        ).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit(" call 555-"), F.lpad(s(did % 10000), 4, "0")
            )
        ),
        F.lit(" host 10.0."), s(did % 256), F.lit("."), s((did * 7) % 256),
    )
    with_pii = docs.select(did.alias("doc_id"), F.concat("text", tail).alias("t"))
    return (
        with_pii.select(
            "doc_id",
            F.size(F.regexp_extract_all("t", F.lit(PII_EMAIL_RE), 0)).alias(
                "n_emails"
            ),
            F.size(F.regexp_extract_all("t", F.lit(PII_PHONE_RE), 0)).alias(
                "n_phones"
            ),
            F.size(F.regexp_extract_all("t", F.lit(PII_IP_RE), 0)).alias(
                "n_ips"
            ),
            redact_pii(F.col("t")).alias("redacted"),
        )
        # no presentation sort: the full-output frame stays a pure
        # narrow map (a global orderBy here would be a 100 TB sort
        # for nothing — the driver's value compare is order-blind)
    )


# NOTE: RE2 needs the same literal patterns; DuckDB regexp_replace is
# first-match-only without the 'g' flag.
_SQL_EMAIL = PII_EMAIL_RE
_SQL_PHONE = PII_PHONE_RE
_SQL_IP = PII_IP_RE

ORACLE_PII_SCRUB = f"""
WITH injected AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         || CASE WHEN doc_id % 3 = 0
                 THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@mail.example.org'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ''
                 ELSE ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END
         || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
         || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
  FROM documents
)
SELECT doc_id,  -- unordered on both sides; compare is order-blind
       len(regexp_extract_all(t, '{_SQL_EMAIL}')) AS n_emails,
       len(regexp_extract_all(t, '{_SQL_PHONE}')) AS n_phones,
       len(regexp_extract_all(t, '{_SQL_IP}')) AS n_ips,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '{_SQL_EMAIL}', '<EMAIL>', 'g'),
           '{_SQL_IP}', '<IP>', 'g'),
         '{_SQL_PHONE}', '<PHONE>', 'g') AS redacted
FROM injected
"""


# --------------------------------------------------------------------------
# corpus bigram language model → per-doc surprisal (perplexity filter)

LM_MIN_BIGRAMS = 20
LM_TOPK = 100


# lm_surprisal broadcast gates (ADVICE r11). Input-size tier: below
# this Catalyst scan estimate the bigram-TYPE count cannot exceed
# the bigram-token count which cannot exceed the input bytes, so the
# score table is broadcast-safe by construction and no measuring job
# is spent. Row-cap tier: above the input gate the measured type
# count must stay under this cap for the broadcast (~150 MB framed
# at ~75 B/row — guide §3.1's comfortable band); past it the planner
# falls back to a shuffle join, the pre-round-11 degradation path.
_LM_BCAST_MAX_INPUT_BYTES = 16 << 20
_LM_BCAST_MAX_TYPES = 2_000_000


def lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering without the external KenLM:
    train a bigram LM on the corpus itself (MLE, no smoothing — every
    observed bigram has a count) and score each document by its mean
    token surprisal −ln P(w2|w1) = ln(c(w1·)/c(w1,w2)). High-mean
    docs are the incoherent tail a curation pass would cut; the
    driver query returns the worst {LM_TOPK} documents with at least
    {LM_MIN_BIGRAMS} bigrams.

    Cross-engine determinism: each bigram's surprisal is computed
    from two exact integers (ln of an exactly-rounded IEEE quotient),
    rounded to integer MICRO-nats before the per-doc sum — integer
    sums are associative, so partial aggregation order (which Spark
    does not fix) cannot wobble the result, and the DuckDB oracle
    lands on identical bits.

    Scale (round 11 reshape): the bigram-type LM is ONE subtree —
    count bigrams (map-side-combined, output bounded by the corpus'
    bigram-type count, Heaps-sublinear ≪ corpus size), attach the
    unigram total n1 = Σ_w2 n12 with a window over that already
    vocabulary-sized frame (exact integer sum — no second corpus
    pass for c1), fold the quotient into a per-(w1,w2) surprisal
    score, and BROADCAST the score table into the fact stream. The
    fact stream never shuffles: the old plan exchanged the full
    bigram stream twice to sort-merge the counts back (measured
    1.40 → 0.93 s best at sf0.1; plan: the two fact-sized join
    exchanges are gone, 3 vocabulary/doc-bounded exchanges remain —
    bigram-type agg, score window, per-doc rollup). Stopword-headed
    key skew thereby leaves the plan entirely (broadcast join, no
    keyed fact exchange). When bigram types outgrow broadcast
    (open-vocabulary corpora at extreme scale) the documented
    practice stands: train the LM on a sample, which re-bounds the
    score table."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    pairs = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(w, 1, greatest(size(w) - 1, 0)),"
                    " (t, i) -> struct(t AS w1, w[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    lm = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n12"))
        .withColumn("n1", F.sum("n12").over(Window.partitionBy("w1")))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(F.col("n1").cast("double") / F.col("n12")) * 1e6, 0
            )
            .cast("long")
            .alias("surprisal_micro"),
        )
    )
    # Bound the score-table broadcast (ADVICE r11): the round-11
    # reshape force-broadcast lm unconditionally — correct whenever
    # Heaps' law holds, but an open-vocabulary corpus could OOM the
    # driver where the old shuffle join degraded gracefully. Two-tier
    # gate, costing the bench plan nothing: below the input-size gate
    # (Catalyst scan estimate, no job) the bigram-type count is
    # heuristically broadcast-safe (types ≤ bigram tokens, and tokens
    # track input bytes — but the estimate is of compressed on-disk
    # bytes, so this is a heuristic bound, not a proof), so
    # broadcast directly — the sf0.1 bench corpus is ~0.6 MB and
    # keeps its exact round-11 plan. Above it, materialize the
    # vocabulary-sized LM once with its type count observed on the
    # same job (at that scale the probe pass wants a materialized
    # build side anyway) and broadcast only under the row cap —
    # ~150 MB framed, inside the "few hundred MB is fine" band and
    # far under the 8 GB / 512M-row broadcast hard caps; past the
    # cap the planner's shuffle join takes over.
    est_bytes = int(
        docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    if est_bytes <= _LM_BCAST_MAX_INPUT_BYTES:
        lm_side = F.broadcast(lm)
    else:
        t_obs = Observation()
        lm = lm.observe(
            t_obs, F.count(F.lit(1)).alias("n_types")
        ).localCheckpoint()
        lm_side = (
            F.broadcast(lm)
            if int(t_obs.get["n_types"]) <= _LM_BCAST_MAX_TYPES
            else lm
        )
    per_doc = (
        pairs.join(lm_side, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("surprisal_micro").alias("surprisal_micro_total"),
        )
    )
    return (
        per_doc.filter(F.col("n_bigrams") >= LM_MIN_BIGRAMS)
        .orderBy(
            F.desc(
                F.col("surprisal_micro_total").cast("double")
                / F.col("n_bigrams")
            ),
            F.asc("doc_id"),
        )
        .limit(LM_TOPK)
    )


ORACLE_LM_SURPRISAL = f"""
WITH pairs AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(range(1, len(w))) AS t(i)
), c2 AS (
  SELECT w1, w2, COUNT(*) AS n12 FROM pairs GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS n1 FROM pairs GROUP BY w1
), scored AS (
  SELECT p.doc_id,
         CAST(ROUND(ln(CAST(c1.n1 AS DOUBLE) / c2.n12) * 1000000, 0)
              AS BIGINT) AS surprisal_micro
  FROM pairs p
  JOIN c2 ON p.w1 = c2.w1 AND p.w2 = c2.w2
  JOIN c1 ON p.w1 = c1.w1
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(surprisal_micro) AS BIGINT) AS surprisal_micro_total
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, surprisal_micro_total
FROM per_doc
WHERE n_bigrams >= {LM_MIN_BIGRAMS}
ORDER BY CAST(surprisal_micro_total AS DOUBLE) / n_bigrams DESC,
         doc_id ASC
LIMIT {LM_TOPK}
"""


CHUNK_SIZE = 400
CHUNK_STRIDE = 300


def chunk_documents(
    docs: DataFrame, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Split each document into overlapping character windows —
    the RAG / context-window packing primitive. Chunk ``i`` covers
    1-based positions ``[i*stride + 1, i*stride + size]``; the last
    window may run short, and windows start while ``i*stride <
    length`` so every character lands in at least one chunk.

    Pure narrow plan: ``sequence`` + ``explode`` + ``substring`` all
    run inside whole-stage codegen with zero shuffles — at 100 TB a
    chunking pass is scan-bound, exactly as it should be. The
    ``stride <= size`` guard is the no-character-dropped condition.
    """
    if not (0 < stride <= size):
        raise ValueError(f"need 0 < stride <= size, got {stride}, {size}")
    n_last = F.floor((F.length("text") - 1) / stride)
    start = F.col("chunk_index") * stride + 1
    return (
        docs.filter(F.length("text") > 0)
        .select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), n_last)).alias("chunk_index"),
        )
        .select(
            "doc_id",
            "chunk_index",
            start.cast("long").alias("char_start"),
            F.substring("text", start, size).alias("chunk_text"),
        )
    )


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable chunking pass: every chunk's identity, offset,
    length and content hash (md5 stands in for the chunk text so the
    oracle compares exact content without shipping it)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_documents(docs)
    return chunks.select(
        "doc_id",
        "chunk_index",
        "char_start",
        F.length("chunk_text").cast("long").alias("chunk_len"),
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_index")


ORACLE_DOC_CHUNKING = f"""
WITH c AS (
    SELECT doc_id,
           unnest(generate_series(0, (length(text) - 1) // {CHUNK_STRIDE}))
               AS chunk_index,
           text
    FROM documents
    WHERE length(text) > 0
)
SELECT doc_id,
       chunk_index,
       CAST(chunk_index * {CHUNK_STRIDE} + 1 AS BIGINT) AS char_start,
       CAST(length(substr(text, chunk_index * {CHUNK_STRIDE} + 1,
                          {CHUNK_SIZE})) AS BIGINT) AS chunk_len,
       md5(substr(text, chunk_index * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}))
           AS chunk_hash
FROM c
ORDER BY doc_id, chunk_index
"""


def boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection at CHUNK granularity — the corpus-
    hygiene pass that catches template headers/footers exact-doc
    dedup cannot see (the documents differ, the passage repeats):
    chunk every document (``chunk_documents`` — narrow, scan-bound),
    hash each chunk, and surface hashes appearing in ≥2 DISTINCT
    documents.  One wide shuffle on the chunk hash whose input is
    the chunked stream; count-distinct over doc_id is exact (the
    per-hash doc set is the quantity curation acts on).  Composition
    demo: the chunking and dedup primitives are the same ones
    `doc_chunking` / `dedup_exact` drive standalone."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hashed = chunk_documents(docs).select(
        "doc_id",
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_hash"),
        F.length("chunk_text").cast("long").alias("chunk_len"),
    )
    return (
        hashed.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("chunk_len").alias("chunk_len"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "chunk_hash")
        .limit(20)
    )


ORACLE_BOILERPLATE_CHUNKS = f"""
WITH c AS (
    SELECT doc_id,
           unnest(generate_series(0, (length(text) - 1) // {CHUNK_STRIDE}))
               AS chunk_index,
           text
    FROM documents
    WHERE length(text) > 0
), h AS (
    SELECT doc_id,
           md5(substr(text, chunk_index * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}))
               AS chunk_hash,
           CAST(length(substr(text, chunk_index * {CHUNK_STRIDE} + 1,
                              {CHUNK_SIZE})) AS BIGINT) AS chunk_len
    FROM c
)
SELECT chunk_hash,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences,
       MAX(chunk_len) AS chunk_len,
       MIN(doc_id) AS first_doc_id
FROM h
GROUP BY chunk_hash
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occurrences DESC, chunk_hash
LIMIT 20
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "join", "stream")
# SQL literal list for the oracles — interpolated (ADVICE r8) so an
# edit to BM25_QUERY can never desynchronize Spark side and oracle
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY)


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance ranking — the full-text search scorer TF-IDF
    graduates into (and the score behind every Lucene/Atlas $search
    deployment): top-20 documents for a fixed 3-term query.

    One tokenize pass builds per-(doc, term) frequencies and doc
    lengths; document frequencies for the 3 query terms and the
    global average length are O(1)-row frames broadcast back; the
    score is the textbook formula
    ``idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` with
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` — pure expression
    arithmetic on exact integer counts, identical on both engines,
    rounded at 6 dp.  Only rows containing a query term ever leave
    the scan stage (semi-filter on the term set), so the scored
    stream is query-sized, not corpus-sized."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda x: F.length(x) > 0
            )
        ).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    qt = list(BM25_QUERY)
    tf = (
        toks.filter(F.col("term").isin(qt))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * F.col("tf") * (BM25_K1 + 1) / norm
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum(term_score), 6).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


ORACLE_BM25_SEARCH = f"""
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split(lower(text), ' ')) AS term) t
  WHERE length(t.term) > 0
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
)
SELECT tf.doc_id,
       ROUND(SUM(
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         * tf * ({BM25_K1} + 1)
         / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / avgdl))
       ), 6) AS score,
       COUNT(*) AS n_terms_hit
FROM tf
JOIN df USING (term)
JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id
LIMIT 20
"""


BM25_TOPK = 20


def bm25_maxscore_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxScore admissibility audit for BM25 top-k retrieval — the
    index-side pruning bound every DAAT engine (Lucene's WAND /
    MaxScore) rides: per term, keep the MAXIMUM per-doc contribution
    ub(t); a doc can enter the top-k only if Σ ub(t) over its
    matched terms ≥ θ (the running kth score), because its true
    score is term-wise ≤ that bound. The audit computes exact
    scores, the bounds, θ = the exact kth score, and reports how
    much of the scored posting set the bound would prune WITHOUT
    losing any top-k member (topk_covered must be true — that is
    the admissibility proof, checked empirically here and by
    construction in the docstring argument).

    Exactness: per-(doc, term) scores are rounded once to integer
    MICRO-units (×1e6, the same 6-dp contract as ``bm25_search``);
    every downstream max / sum / θ-comparison is then exact BIGINT
    arithmetic — no float-order hazard in the counts.

    Scale: identical dataflow to ``bm25_search`` (posting stream is
    query-term-filtered at the scan; df/ub/θ are O(terms)- or
    O(1)-row broadcast frames); the audit adds one term-keyed max
    and one doc-keyed sum over the same filtered stream."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda x: F.length(x) > 0
            )
        ).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    qt = list(BM25_QUERY)
    tf = (
        toks.filter(F.col("term").isin(qt))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    ts_micro = F.round(
        idf * F.col("tf") * (BM25_K1 + 1) / norm * 1e6
    ).cast("long")
    per_term = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", ts_micro.alias("ts"))
    )
    doc_scores = per_term.groupBy("doc_id").agg(
        F.sum("ts").alias("score")
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = doc_scores.withColumn("rnk", F.row_number().over(w))
    theta = ranked.filter(F.col("rnk") <= BM25_TOPK).agg(
        F.min("score").alias("theta")
    )
    ub = per_term.groupBy("term").agg(F.max("ts").alias("ub"))
    bounds = (
        per_term.join(F.broadcast(ub), "term")
        .groupBy("doc_id")
        .agg(F.sum("ub").alias("bound"))
    )
    return (
        ranked.join(bounds, "doc_id")
        .crossJoin(F.broadcast(theta))
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum(
                (F.col("bound") >= F.col("theta")).cast("long")
            ).alias("n_candidates"),
            F.round(
                1.0
                - F.sum((F.col("bound") >= F.col("theta")).cast("long"))
                / F.count(F.lit(1)),
                4,
            ).alias("pruned_pct"),
            (
                F.sum(
                    (
                        (F.col("rnk") <= BM25_TOPK)
                        & (F.col("bound") < F.col("theta"))
                    ).cast("long")
                )
                == 0
            ).alias("topk_covered"),
        )
    )


ORACLE_BM25_MAXSCORE = f"""
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split(lower(text), ' ')) AS term) t
  WHERE length(t.term) > 0
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), per_term AS (
  SELECT tf.doc_id, tf.term,
         CAST(ROUND(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * tf * ({BM25_K1} + 1)
           / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / avgdl))
           * 1e6) AS BIGINT) AS ts
  FROM tf
  JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
), doc_scores AS (
  SELECT doc_id, SUM(ts) AS score FROM per_term GROUP BY doc_id
), ranked AS (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM doc_scores
), theta AS (
  SELECT MIN(score) AS theta FROM ranked WHERE rnk <= {BM25_TOPK}
), ub AS (
  SELECT term, MAX(ts) AS ub FROM per_term GROUP BY term
), bounds AS (
  SELECT p.doc_id, SUM(u.ub) AS bound
  FROM per_term p JOIN ub u USING (term)
  GROUP BY p.doc_id
)
SELECT COUNT(*) AS n_scored,
       CAST(SUM(CASE WHEN bound >= theta THEN 1 ELSE 0 END) AS BIGINT)
         AS n_candidates,
       ROUND(1.0 - SUM(CASE WHEN bound >= theta THEN 1 ELSE 0 END)
                   / COUNT(*), 4) AS pruned_pct,
       SUM(CASE WHEN rnk <= {BM25_TOPK} AND bound < theta
                THEN 1 ELSE 0 END) = 0 AS topk_covered
FROM ranked
JOIN bounds USING (doc_id)
CROSS JOIN theta
"""


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick) — fixed-width sparse features
# ---------------------------------------------------------------------------

FEATURE_BUCKETS = 256


def feature_hash_bucket(token: Column, buckets: int = FEATURE_BUCKETS) -> Column:
    """Hashing-trick bucket for a token: md5-u32 mod ``buckets`` —
    the same cross-engine-deterministic keyed hash as the Count-Min
    sketch (operators/sketches.py), so the feature space is
    reproducible across engines, runs, and cluster sizes (a
    vocabulary file would need a fitted state; the hash needs
    none — the point of the trick)."""
    return md5_u32(token, salt="fh#") % buckets


def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words featurization audit: every token maps to
    one of ``FEATURE_BUCKETS`` feature slots with no vocabulary
    state (Weinberger et al.'s hashing trick — the featurizer
    VW/scikit's HashingVectorizer applies, and the only one that
    needs zero fitted state at 100 TB). Reports the 25 heaviest
    feature slots with their collision load: total occurrences,
    distinct tokens sharing the slot (collisions), and the
    dominant token's share of the slot's mass (argmax over the
    composite (tf, token) — deterministic under count ties).

    Plan: explode → two-level aggregation, (bucket, token) counts
    first — partial agg collapses each task to its distinct pairs —
    then per-bucket rollup via ``max_by``/sums; top-25 is a
    TakeOrderedAndProject. Nothing is ever wider than the distinct
    (bucket, token) set."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        F.explode(tokens_col(F.col("text"))).alias("token")
    )
    pair = (
        tok.groupBy(feature_hash_bucket(F.col("token")).alias("bucket"), "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        pair.groupBy("bucket")
        .agg(
            F.sum("tf").alias("total_tf"),
            F.count(F.lit(1)).alias("distinct_tokens"),
            F.max_by(
                F.col("token"),
                F.struct(F.col("tf").alias("tf"), F.col("token").alias("t")),
            ).alias("top_token"),
            F.max("tf").alias("top_tf"),
        )
        .select(
            "bucket",
            "total_tf",
            "distinct_tokens",
            "top_token",
            F.round(
                F.col("top_tf").cast("double") / F.col("total_tf").cast("double"),
                6,
            ).alias("top_share"),
        )
        .orderBy(F.desc("total_tf"), F.asc("bucket"))
        .limit(25)
    )


ORACLE_FEATURE_HASHING = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), pair AS (
  SELECT CAST(('0x' || substr(md5('fh#' || token), 1, 8)) AS BIGINT)
           % {FEATURE_BUCKETS} AS bucket,
         token, COUNT(*) AS tf
  FROM tok GROUP BY 1, 2
), slot AS (
  SELECT bucket, SUM(tf) AS total_tf, COUNT(*) AS distinct_tokens,
         MAX(tf) AS top_tf
  FROM pair GROUP BY bucket
), top AS (
  SELECT bucket, token AS top_token FROM (
    SELECT bucket, token,
           ROW_NUMBER() OVER (PARTITION BY bucket
                              ORDER BY tf DESC, token DESC) AS rn
    FROM pair
  ) WHERE rn = 1
)
SELECT slot.bucket, CAST(total_tf AS BIGINT) AS total_tf,
       distinct_tokens, top_token,
       ROUND(CAST(top_tf AS DOUBLE) / CAST(total_tf AS DOUBLE), 6)
         AS top_share
FROM slot JOIN top ON slot.bucket = top.bucket
ORDER BY total_tf DESC, slot.bucket ASC
LIMIT 25
"""


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two retrieval rankings
# ---------------------------------------------------------------------------

RRF_K = 60


def rrf_fuse_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) of two retrieval
    signals for the fixed 3-term query: BM25 and plain term-density
    (query-term occurrences per document token).  RRF is the
    standard way to merge a lexical and a second ranking without
    score calibration: ``Σ 1/(k + rank)`` with k=60.

    The tf/dl/df frames are shared subtrees feeding BOTH rankers —
    exchange-reuse collapses the duplicated aggregations at runtime,
    leaving two pruned corpus passes (doc lengths, query-term hits —
    BM25's own floor, since avgdl needs every document); only docs
    containing a query term survive to ranking, so the two
    ``row_number`` windows — necessarily unpartitioned: a ranking is
    a global order — run over the candidate-sized frame, never the
    corpus.  Ranks are integers, density is an integer e6 ratio, and
    the fused score is two reciprocal terms in fixed textual order —
    bit-identical on both engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda x: F.length(x) > 0
            )
        ).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    qt = list(BM25_QUERY)
    tf = (
        toks.filter(F.col("term").isin(qt))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * F.col("tf") * (BM25_K1 + 1) / norm
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id", "dl")
        .agg(
            F.round(F.sum(term_score), 6).alias("bm25"),
            F.sum("tf").alias("tf_total"),
        )
        .withColumn(
            "dens_e6", F.expr("(tf_total * 1000000) div dl")
        )
    )
    w_bm25 = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    w_dens = Window.orderBy(F.desc("dens_e6"), F.asc("doc_id"))
    ranked = scored.select(
        "doc_id",
        F.row_number().over(w_bm25).alias("r_bm25"),
        F.row_number().over(w_dens).alias("r_density"),
    )
    return (
        ranked.select(
            "doc_id",
            "r_bm25",
            "r_density",
            F.round(
                F.lit(1.0) / (RRF_K + F.col("r_bm25"))
                + F.lit(1.0) / (RRF_K + F.col("r_density")),
                9,
            ).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(15)
    )


ORACLE_RRF_FUSE = f"""
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split(lower(text), ' ')) AS term) t
  WHERE length(t.term) > 0
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id, dl.dl,
         ROUND(SUM(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * tf * ({BM25_K1} + 1)
           / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / avgdl))
         ), 6) AS bm25,
         SUM(tf) AS tf_total
  FROM tf
  JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id, dl.dl
), ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm25,
         ROW_NUMBER() OVER (
           ORDER BY (tf_total * 1000000) // dl DESC, doc_id
         ) AS r_density
  FROM scored
)
SELECT doc_id, r_bm25, r_density,
       ROUND(1.0 / ({RRF_K} + r_bm25) + 1.0 / ({RRF_K} + r_density), 9)
         AS rrf_score
FROM ranked
ORDER BY rrf_score DESC, doc_id
LIMIT 15
"""


# ---------------------------------------------------------------------------
# N-gram-index-accelerated substring search (index ≡ scan, proven)
# ---------------------------------------------------------------------------

NGRAM_SEARCH_PATTERN = "batch stream"  # ~30 hits/5k docs: selective, non-empty at every sf
NGRAM_W = 3  # posting-list gram width


def ngram_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search through a character-trigram inverted index —
    the engine-side analogue of the reference's secondary indexes
    (etl_cricsheet_to_mongo.py:121-126): instead of scanning every
    document for ``%{NGRAM_SEARCH_PATTERN}%``, build trigram→doc
    postings once, intersect the posting lists of the pattern's
    trigrams (docs missing ANY pattern trigram cannot match), then
    verify the few candidates exactly.  The oracle is the
    brute-force LIKE scan itself, so the test IS the index-equals-
    scan theorem on real data.

    Plan: one tokenize-free explode builds distinct (gram, doc)
    postings; the pattern's trigrams are a literal ~10-row frame, so
    the intersection is a broadcast semi-join + a count-matches
    HAVING (the A8 containment shape); only candidates reach the
    `contains` verify, re-reading just their rows (id-keyed semi-
    join).  At 100 TB the postings table is the persisted index —
    build once, prune per query to the pattern's grams (posting-list
    pushdown), never rescan the corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pat = NGRAM_SEARCH_PATTERN
    pat_grams = [pat[i : i + NGRAM_W] for i in range(len(pat) - NGRAM_W + 1)]
    n_pat = len(set(pat_grams))
    postings = (
        fan_out(docs)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, length(text) - {NGRAM_W - 1}),"
                        f" i -> substring(text, i, {NGRAM_W}))"
                    )
                )
            ).alias("g"),
        )
        .filter(F.col("g").isin(list(set(pat_grams))))
    )
    candidates = (
        postings.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == n_pat)
        .select("doc_id")
    )
    return (
        docs.join(F.broadcast(candidates), "doc_id", "left_semi")
        .filter(F.col("text").contains(pat))
        .select("doc_id", F.length("text").alias("n_chars"))
        .orderBy("doc_id")
    )


ORACLE_NGRAM_INDEX_SEARCH = f"""
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
FROM documents
WHERE text LIKE '%{NGRAM_SEARCH_PATTERN}%'
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# DSIR — hashed-n-gram importance weights for target-domain resampling
# ---------------------------------------------------------------------------

DSIR_TARGET_SOURCE = "src0"


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023) —
    the method behind target-domain pretraining mixes: score every
    raw document by how target-like its hashed unigram profile is,
    weight(d) = Σ_tokens log( p_target(bucket) / p_raw(bucket) ),
    with Laplace-smoothed bucket distributions over the
    {FEATURE_BUCKETS}-slot hashing-trick space (zero fitted
    vocabulary — the 100 TB property, same as ``feature_hashing``).
    Top-20 most target-like docs; the real pipeline would
    Gumbel-resample on these weights.

    Exactness: each bucket's log-ratio is ONE ln of an integer-exact
    ratio, rounded to integer micro-nats (the lm_surprisal idiom),
    so per-doc weights are merge-order-proof BIGINT sums; the only
    doubles are the 256 ln calls and the final /1e6 display division.

    Plan: one tokenize pass → (doc, bucket) counts (partial agg
    collapses repeats map-side); the ≤{FEATURE_BUCKETS}-row smoothed
    log-ratio table derives from THAT frame and broadcasts into the
    per-doc join — the corpus is scanned once, the model is KB-sized
    metadata, and nothing is ever wider than the distinct
    (doc, bucket) set."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(tokens_col(F.col("text"))).alias("token"),
    ).select(
        "doc_id",
        "source",
        feature_hash_bucket(F.col("token")).alias("bucket"),
    )
    # Materialize (doc, bucket) counts ONCE: the frame feeds three
    # consumers (bucket stats, token-mass totals, the scoring join),
    # and without the checkpoint each consumer replays the full
    # tokenize+explode scan — explain showed 3 parquet scans (the
    # fan_out round-robin exchange is not reuse-eligible). One write
    # + three reads of the ≤ docs×256-row frame beats three corpus
    # tokenizations at any scale (the pagerank entry-checkpoint
    # discipline; plan gate: test_plans.py dsir test).
    doc_bucket = (
        tok.groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    is_t = (F.col("source") == DSIR_TARGET_SOURCE).cast("long")
    bucket_stats = doc_bucket.groupBy("bucket").agg(
        F.sum(F.col("c") * is_t).alias("ct"),
        F.sum("c").alias("cr"),
    )
    totals = bucket_stats.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    llr = bucket_stats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("ct") + 1) * (F.col("nr") + FEATURE_BUCKETS)).cast(
                    "double"
                )
                / ((F.col("cr") + 1) * (F.col("nt") + FEATURE_BUCKETS)).cast(
                    "double"
                )
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("llr_e6"),
    )
    return (
        doc_bucket.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("llr_e6")).alias("w_e6"),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.round(F.col("w_e6").cast("double") / 1e6, 6).alias(
                "dsir_weight_nats"
            ),
        )
        .orderBy(F.desc("w_e6"), F.asc("doc_id"))
        .limit(20)
    )


ORACLE_DSIR = f"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5('fh#' || t.token), 1, 8)) AS BIGINT)
           % {FEATURE_BUCKETS} AS bucket
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS token) t
), doc_bucket AS (
  SELECT doc_id, source, bucket, COUNT(*) AS c
  FROM tok GROUP BY doc_id, source, bucket
), bucket_stats AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN c
                       ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(c) AS BIGINT) AS cr
  FROM doc_bucket GROUP BY bucket
), totals AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr
  FROM bucket_stats
), llr AS (
  SELECT bucket,
         CAST(ROUND(ln(CAST((ct + 1) * (nr + {FEATURE_BUCKETS}) AS DOUBLE)
                       / CAST((cr + 1) * (nt + {FEATURE_BUCKETS}) AS DOUBLE))
                    * 1000000.0, 0) AS BIGINT) AS llr_e6
  FROM bucket_stats CROSS JOIN totals
)
SELECT doc_id, source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(c * llr_e6) AS DOUBLE) / 1000000.0, 6)
         AS dsir_weight_nats
FROM doc_bucket JOIN llr USING (bucket)
GROUP BY doc_id, source
ORDER BY SUM(c * llr_e6) DESC, doc_id ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# PMI collocations — word-association mining
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5


def pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-word collocations by pointwise mutual
    information, PMI(w1,w2) = ln(c₁₂·T / (c₁·c₂)) — the classic
    association score (Church & Hanks) behind phrase detection and
    multi-word tokenizer merges; bigram frequency alone ranks
    stopword pairs first, PMI ranks the pairs that co-occur far
    above chance. Pairs below {PMI_MIN_COUNT} occurrences are cut
    (PMI's known low-count instability).

    Cross-engine determinism: one ln of an integer-exact ratio
    (c₁₂·T and c₁·c₂ both ≪ 2⁵³), rounded to integer micro-nats —
    the lm_surprisal discipline — so ordering and the displayed
    score carry no float-merge wobble. Plan: the bigram stream
    shuffles once per count table (all map-side-combined,
    vocabulary²-bounded outputs); two token-key joins bring the
    unigram masses back; top-20 via TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.split(F.col("text"), " ").alias("w")
    )
    bi = docs.select(
        F.explode(
            F.when(
                F.size("w") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("w"), i + 1).alias("w1"),
                        F.element_at(F.col("w"), i + 2).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c2 = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    total = bi.agg(F.count(F.lit(1)).alias("t"))
    pmi_e6 = F.round(
        F.log(
            (F.col("c12") * F.col("t")).cast("double")
            / (F.col("c1") * F.col("c2")).cast("double")
        )
        * 1e6,
        0,
    ).cast("long")
    return (
        c12.filter(F.col("c12") >= PMI_MIN_COUNT)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c12",
            (pmi_e6.cast("double") / 1e6).alias("pmi_nats"),
        )
        .orderBy(
            F.desc(F.round(F.col("pmi_nats") * 1e6, 0).cast("long")),
            F.asc("w1"),
            F.asc("w2"),
        )
        .limit(20)
    )


ORACLE_PMI = f"""
WITH docs AS (
  SELECT string_split(text, ' ') AS w FROM documents
), bi AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM docs, LATERAL (SELECT unnest(range(1, len(w))) AS i)
  WHERE len(w) >= 2
), c12 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1
), c2 AS (
  SELECT w2, COUNT(*) AS c2 FROM bi GROUP BY w2
), total AS (
  SELECT COUNT(*) AS t FROM bi
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       CAST(ROUND(ln(CAST(c12 * t AS DOUBLE)
                     / CAST(c1 * c2 AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
         / 1000000.0 AS pmi_nats
FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN total
WHERE c12 >= {PMI_MIN_COUNT}
ORDER BY CAST(ROUND(ln(CAST(c12 * t AS DOUBLE)
                       / CAST(c1 * c2 AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
         DESC, w1 ASC, w2 ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Vocabulary coverage curve — the tokenizer-sizing readout
# ---------------------------------------------------------------------------

VOCAB_COVERAGE_TARGETS = (50, 90, 99, 999)  # percent; 999 = 99.9‰·10


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many vocabulary entries cover X% of the corpus's token
    mass — the number that sizes a tokenizer (or an embedding
    table): per coverage target (50 / 90 / 99 / 99.9%), the minimal
    top-k vocabulary whose frequency-ranked cumulative mass reaches
    ceil(target·total), plus that vocabulary's own mass share. On a
    Zipfian corpus the curve's elbow IS the vocab-size decision.

    Integer-exact end to end (the type-1 quantile idiom): term
    counts are BIGINTs, the rank is a ROW_NUMBER over (count desc,
    term asc), targets are ceil'd integer thresholds, and k = min
    rank whose cumulative mass qualifies. Plan: one tokenize pass →
    term counts (map-side combined) → ONE unpartitioned window over
    the vocabulary-sized frame (the grid posture — the corpus is
    never globally sorted, its distinct-term rollup is) → a 4-row
    broadcast of targets collapsed via min-over-qualifying."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .filter(F.length("term") > 0)
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.desc("c"), F.asc("term"))
    whole = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = counts.select(
        F.row_number().over(w).alias("rank"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
        F.sum("c").over(whole).alias("total"),
        F.count(F.lit(1)).over(whole).alias("n_terms"),
    )
    targets = spark.createDataFrame(
        [(t,) for t in VOCAB_COVERAGE_TARGETS], "pm long"
    )
    j = ranked.crossJoin(F.broadcast(targets))
    # threshold = ceil(total * pm / 1000), all-integer
    thr = F.expr("(total * pm + 999) div 1000")
    # targets are per-mille when > 100 (999 = 99.9%), else percent
    thr_pct = F.expr("(total * pm + 99) div 100")
    qualifies = F.when(
        F.col("pm") > 100, F.col("cum") >= thr
    ).otherwise(F.col("cum") >= thr_pct)
    return (
        j.groupBy("pm")
        .agg(
            F.min(F.when(qualifies, F.col("rank"))).alias("vocab_size"),
            F.max("n_terms").alias("n_terms"),
            F.max("total").alias("total_tokens"),
        )
        .select(
            F.when(F.col("pm") > 100, F.col("pm").cast("double") / 10.0)
            .otherwise(F.col("pm").cast("double"))
            .alias("coverage_pct"),
            "vocab_size",
            "n_terms",
            "total_tokens",
            F.round(
                F.col("vocab_size").cast("double")
                / F.col("n_terms").cast("double"),
                6,
            ).alias("vocab_fraction"),
        )
        .orderBy("coverage_pct")
    )


ORACLE_VOCAB_COVERAGE = f"""
WITH toks AS (
  SELECT t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS term) t
  WHERE length(t.term) > 0
), counts AS (
  SELECT term, COUNT(*) AS c FROM toks GROUP BY term
), ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS rank,
         SUM(c) OVER (ORDER BY c DESC, term ASC
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER () AS total,
         COUNT(*) OVER () AS n_terms
  FROM counts
)
SELECT CASE WHEN pm > 100 THEN CAST(pm AS DOUBLE) / 10.0
       ELSE CAST(pm AS DOUBLE) END AS coverage_pct,
       MIN(CASE WHEN (pm > 100 AND cum >= (total * pm + 999) // 1000)
                  OR (pm <= 100 AND cum >= (total * pm + 99) // 100)
                THEN rank END) AS vocab_size,
       CAST(MAX(n_terms) AS BIGINT) AS n_terms,
       CAST(MAX(total) AS BIGINT) AS total_tokens,
       ROUND(CAST(MIN(CASE WHEN (pm > 100 AND cum >= (total * pm + 999) // 1000)
                             OR (pm <= 100 AND cum >= (total * pm + 99) // 100)
                           THEN rank END) AS DOUBLE)
             / CAST(MAX(n_terms) AS DOUBLE), 6) AS vocab_fraction
FROM ranked
CROSS JOIN (SELECT unnest([{", ".join(str(t) for t in VOCAB_COVERAGE_TARGETS)}]) AS pm)
GROUP BY pm
ORDER BY coverage_pct
"""


# ---------------------------------------------------------------------------
# Classifier-eval readouts: ROC-AUC + calibration of the langid scorer
# ---------------------------------------------------------------------------

# Stopword hit-rate in integer MICRO-UNITS — the langid heuristic's
# underlying continuous score, used below as a binary classifier for
# lang='en'. Micro-units keep every grouping key and cumulative sum
# exact BIGINT arithmetic; floats appear only in final one-shot
# divisions (identical expression trees on both engines).
def _langid_score_u() -> Column:
    w = tokens_col(F.col("text"))
    ratio = (
        F.size(F.filter(w, lambda t: t.isin(STOPWORDS))).cast("double")
        / F.size(w)
    )
    return F.round(ratio * 1e6).cast("long")


_LANGID_SCORE_U_SQL = f"""CAST(ROUND(CAST(len(list_filter(string_split(text, ' '),
        t -> t IN ('{_STOP_SQL}'))) AS DOUBLE)
      / len(string_split(text, ' ')) * 1e6) AS BIGINT)"""


def roc_auc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC of the stopword-density language
    scorer against the labeled lang='en' — the Mann-Whitney identity
    AUC = P(s⁺>s⁻) + ½P(s⁺=s⁻), evaluated WITHOUT a global per-row
    rank: group rows to the distinct-score rollup (score_u →
    n_pos/n_neg), then one ordered window over that rollup
    accumulates the negatives seen below each score. The numerator
    is kept ×2 so it stays pure BIGINT (ties contribute half-pairs);
    the single double division at the end is the only float op.

    Scale posture: one corpus scan → map-combined groupBy on the
    bounded score key (≤1e6 distinct micro-unit values, data-
    independent); the window and the 1-row totals cross run on that
    rollup, never on rows. The distributed-AUC shape production eval
    harnesses use, with exact rather than binned ties."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    per_score = (
        docs.select(
            _langid_score_u().alias("score_u"),
            (F.col("lang") == "en").cast("long").alias("is_pos"),
        )
        .groupBy("score_u")
        .agg(
            F.sum("is_pos").alias("np"),
            F.sum(F.lit(1) - F.col("is_pos")).alias("nn"),
        )
    )
    w = Window.orderBy("score_u").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    contrib = per_score.select(
        "np",
        "nn",
        (F.sum("nn").over(w) - F.col("nn")).alias("nn_below"),
    ).select(
        "np",
        "nn",
        (
            F.lit(2) * F.col("np") * F.col("nn_below")
            + F.col("np") * F.col("nn")
        ).alias("num2"),
    )
    return contrib.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
        (
            F.round(
                F.sum("num2").cast("double")
                / (F.lit(2.0) * F.sum("np") * F.sum("nn")),
                6,
            )
            + F.lit(0.0)
        ).alias("auc"),
    ).select(
        "n_pos",
        "n_neg",
        "n_scores",
        "auc",
        (F.round(F.lit(2.0) * F.col("auc") - F.lit(1.0), 6) + F.lit(0.0)).alias(
            "gini"
        ),
    )


ORACLE_ROC_AUC_LANGID = f"""
WITH scored AS (
  SELECT {_LANGID_SCORE_U_SQL} AS score_u,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos
  FROM documents
), per_score AS (
  SELECT score_u,
         CAST(SUM(is_pos) AS BIGINT) AS np,
         CAST(SUM(1 - is_pos) AS BIGINT) AS nn
  FROM scored GROUP BY score_u
), contrib AS (
  SELECT np, nn,
         SUM(nn) OVER (ORDER BY score_u
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - nn AS nn_below
  FROM per_score
), agg AS (
  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
         CAST(SUM(nn) AS BIGINT) AS n_neg,
         COUNT(*) AS n_scores,
         ROUND(CAST(SUM(2 * np * nn_below + np * nn) AS DOUBLE)
               / (2.0 * SUM(np) * SUM(nn)), 6) + 0.0 AS auc
  FROM contrib
)
SELECT n_pos, n_neg, n_scores, auc,
       ROUND(2.0 * auc - 1.0, 6) + 0.0 AS gini
FROM agg
"""

CALIB_BIN_U = 20_000  # 0.02-wide score bins in micro-units


def calibration_bins_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the same scorer: fixed-width score
    bins → observed positive rate vs mean score per bin (the
    calibration readout next to roc_auc_langid's discrimination
    readout). Integer micro-unit bin keys and sums; two exact double
    divisions at the end. One scan, one bounded-key groupBy —
    nothing beyond the AUC plan's posture."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    per_bin = (
        docs.select(
            _langid_score_u().alias("score_u"),
            (F.col("lang") == "en").cast("long").alias("is_pos"),
        )
        .groupBy(
            (F.floor(F.col("score_u") / CALIB_BIN_U)).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_pos").alias("n_pos"),
            F.sum("score_u").alias("sum_u"),
        )
    )
    return per_bin.select(
        "bin",
        "n_docs",
        "n_pos",
        (
            F.round(F.col("n_pos").cast("double") / F.col("n_docs"), 6)
            + F.lit(0.0)
        ).alias("pos_rate"),
        (
            F.round(
                F.col("sum_u").cast("double") / (F.col("n_docs") * F.lit(1e6)),
                6,
            )
            + F.lit(0.0)
        ).alias("avg_score"),
    ).orderBy("bin")


ORACLE_CALIBRATION_BINS = f"""
WITH scored AS (
  SELECT {_LANGID_SCORE_U_SQL} AS score_u,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos
  FROM documents
), per_bin AS (
  SELECT CAST(FLOOR(score_u / {CALIB_BIN_U}) AS BIGINT) AS bin,
         COUNT(*) AS n_docs,
         CAST(SUM(is_pos) AS BIGINT) AS n_pos,
         CAST(SUM(score_u) AS BIGINT) AS sum_u
  FROM scored GROUP BY 1
)
SELECT bin, n_docs, n_pos,
       ROUND(CAST(n_pos AS DOUBLE) / n_docs, 6) + 0.0 AS pos_rate,
       ROUND(CAST(sum_u AS DOUBLE) / (n_docs * 1e6), 6) + 0.0 AS avg_score
FROM per_bin
ORDER BY bin
"""


def isotonic_calibration_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) recalibration of the langid scorer — the
    standard post-hoc calibrator next to the reliability diagram:
    fit the monotone step function minimizing squared error between
    score bins and observed positive rate. Instead of the sequential
    pool-adjacent-violators sweep (driver-shaped), this uses PAV's
    EXACT min-max identity — iso(i) = max_{j≤i} min_{k≥i}
    avg(pos)/(avg n) over the bin span [j,k] — which turns the fit
    into three joins over the BIN GRID.

    Exactness: every span average A(j,k) is one double division of
    two exact integer sums; min/max compare identical doubles in
    both engines; ROUND(·,6) applies after.

    Plan: ONE corpus scan builds the bounded per-bin rollup (the
    ``calibration_bins_langid`` plan); everything after runs on the
    score grid — span pairs are grid²- and the span-membership join
    grid³-bounded (≤21 bins at ANY data volume: the grid is
    score-range/width, invariant in SF — the theil_sen posture)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    bins = (
        docs.select(
            _langid_score_u().alias("score_u"),
            (F.col("lang") == "en").cast("long").alias("is_pos"),
        )
        .groupBy(
            (F.floor(F.col("score_u") / CALIB_BIN_U)).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_pos").alias("n_pos"),
        )
        .localCheckpoint()
    )
    j, k, m, i = (bins.alias(x) for x in "jkmi")
    spans = (
        j.join(k, F.col("j.bin") <= F.col("k.bin"))
        .join(
            m,
            (F.col("m.bin") >= F.col("j.bin"))
            & (F.col("m.bin") <= F.col("k.bin")),
        )
        .groupBy(F.col("j.bin").alias("jb"), F.col("k.bin").alias("kb"))
        .agg(
            (
                F.sum("m.n_pos").cast("double") / F.sum("m.n_docs")
            ).alias("a")
        )
    )
    per_ji = (
        spans.join(
            i,
            (F.col("jb") <= F.col("i.bin")) & (F.col("i.bin") <= F.col("kb")),
        )
        .groupBy("jb", F.col("i.bin").alias("bin"))
        .agg(F.min("a").alias("mn"))
    )
    iso = per_ji.groupBy("bin").agg(F.max("mn").alias("iso"))
    return (
        bins.join(iso, "bin")
        .select(
            "bin",
            "n_docs",
            "n_pos",
            (
                F.round(F.col("n_pos").cast("double") / F.col("n_docs"), 6)
                + F.lit(0.0)
            ).alias("pos_rate"),
            (F.round(F.col("iso"), 6) + F.lit(0.0)).alias("iso_rate"),
        )
        .orderBy("bin")
    )


ORACLE_ISOTONIC_CALIBRATION = f"""
WITH scored AS (
  SELECT {_LANGID_SCORE_U_SQL} AS score_u,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos
  FROM documents
), bins AS (
  SELECT CAST(FLOOR(score_u / {CALIB_BIN_U}) AS BIGINT) AS bin,
         COUNT(*) AS n_docs,
         CAST(SUM(is_pos) AS BIGINT) AS n_pos
  FROM scored GROUP BY 1
), spans AS (
  SELECT j.bin AS jb, k.bin AS kb,
         CAST(SUM(m.n_pos) AS DOUBLE) / CAST(SUM(m.n_docs) AS BIGINT) AS a
  FROM bins j
  JOIN bins k ON j.bin <= k.bin
  JOIN bins m ON m.bin BETWEEN j.bin AND k.bin
  GROUP BY j.bin, k.bin
), per_ji AS (
  SELECT s.jb, i.bin AS bin, MIN(s.a) AS mn
  FROM spans s JOIN bins i ON s.jb <= i.bin AND i.bin <= s.kb
  GROUP BY s.jb, i.bin
), iso AS (
  SELECT bin, MAX(mn) AS iso FROM per_ji GROUP BY bin
)
SELECT b.bin, b.n_docs, b.n_pos,
       ROUND(CAST(b.n_pos AS DOUBLE) / b.n_docs, 6) + 0.0 AS pos_rate,
       ROUND(i.iso, 6) + 0.0 AS iso_rate
FROM bins b JOIN iso i ON b.bin = i.bin
ORDER BY b.bin
"""


# --------------------------------------------------------------------------
# Multinomial naive Bayes language classifier (hashed unigrams)
# --------------------------------------------------------------------------

NB_BUCKETS = 256  # hashed-unigram feature space (5 langs x 256 cells)
NB_SPLIT_MOD = 5  # 1/5 of docs held out for eval


def naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes langid TRAINED ON THE CORPUS — the
    supervised counterpart of the heuristic ``langid_heuristic``
    scorer: an 80/20 split by keyed hash, hashed-unigram features
    (the ``feature_hashing``/``dsir_importance_weights`` vocabulary-
    free discipline — the model is a fixed 5×256 weight grid at ANY
    corpus size), Laplace-smoothed log-likelihood weights in integer
    MICRO-NATS (the ``lm_surprisal`` exactness idiom), and a
    confusion-matrix readout over the held-out fifth.

    Exactness: the only floats are per-cell ln() calls on exact
    rationals, quantized to micro-nats BEFORE any aggregation —
    every doc score is then a BIGINT sum, and argmax ties break on
    the smaller language code, so prediction is bit-deterministic
    across engines.

    Scale: train counts are one map-combined token-stream groupBy
    onto ≤5×256 cells; the weight grid is metadata-sized BY
    CONSTRUCTION (bounded by langs × hash buckets, not by data), so
    its broadcast survives any SF; scoring is one broadcast hash
    join + one doc-keyed aggregation + one doc-partitioned window.

    On THIS synthetic corpus the languages share one vocabulary with
    only mild frequency skew, so the learned likelihoods are weak
    and the 'en' prior dominates the argmax — the confusion matrix
    honestly reports that (majority-class prediction), which is the
    correct NB fit here, not a pipeline defect; on a real multilingual
    corpus the same plan separates languages by vocabulary."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        (md5_u32(F.col("doc_id"), "nbsplit") % NB_SPLIT_MOD == 0).alias(
            "is_test"
        ),
    )
    toks = docs.select(
        "doc_id",
        "lang",
        "is_test",
        F.explode(tokens_col(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        "is_test",
        (md5_u32(F.col("tok"), "nbfeat") % NB_BUCKETS).alias("b"),
    )
    train = toks.filter(~F.col("is_test"))
    cnt = train.groupBy("lang", "b").agg(F.count(F.lit(1)).alias("n_lb"))
    tot = cnt.groupBy("lang").agg(F.sum("n_lb").alias("tot_l"))
    grid = tot.select(
        "lang",
        "tot_l",
        F.explode(
            F.sequence(F.lit(0), F.lit(NB_BUCKETS - 1)).cast("array<long>")
        ).alias("b"),
    )
    w = grid.join(cnt, ["lang", "b"], "left").select(
        F.col("lang").alias("model_lang"),
        "b",
        F.round(
            F.log(
                (F.coalesce(F.col("n_lb"), F.lit(0)) + 1).cast("double")
                / (F.col("tot_l") + NB_BUCKETS)
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("wu"),
    )
    nd = (
        docs.filter(~F.col("is_test"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nd_l"))
    )
    # the 1-row total rides an unpartitioned window over the ≤5-row
    # lang frame (bounded by the label set — no cross join needed)
    pri = nd.select(
        F.col("lang").alias("model_lang"),
        F.round(
            F.log(
                F.col("nd_l").cast("double")
                / F.sum("nd_l").over(Window.partitionBy())
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("pu"),
    )
    scored = (
        toks.filter(F.col("is_test"))
        .join(F.broadcast(w), "b")
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "model_lang")
        .agg(F.sum("wu").alias("s"))
        .join(F.broadcast(pri), "model_lang")
        .select(
            "doc_id",
            "true_lang",
            "model_lang",
            (F.col("s") + F.col("pu")).alias("score"),
        )
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("model_lang")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_doc))
        .filter(F.col("rn") == 1)
        .groupBy("true_lang", F.col("model_lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


_NB_HASH_DOC = (
    "CAST(('0x' || substr(md5('nbsplit' || CAST(doc_id AS VARCHAR)), 1, 8))"
    " AS BIGINT)"
)
_NB_HASH_TOK = (
    "CAST(('0x' || substr(md5('nbfeat' || tok), 1, 8)) AS BIGINT)"
)

ORACLE_NAIVE_BAYES = f"""
WITH docs AS (
  SELECT doc_id, lang, text,
         ({_NB_HASH_DOC} % {NB_SPLIT_MOD} = 0) AS is_test
  FROM documents
), toks AS (
  SELECT doc_id, lang, is_test, {_NB_HASH_TOK} % {NB_BUCKETS} AS b
  FROM docs, UNNEST(string_split(text, ' ')) AS u(tok)
), cnt AS (
  SELECT lang, b, CAST(COUNT(*) AS BIGINT) AS n_lb
  FROM toks WHERE NOT is_test GROUP BY lang, b
), tot AS (
  SELECT lang, CAST(SUM(n_lb) AS BIGINT) AS tot_l FROM cnt GROUP BY lang
), grid AS (
  SELECT t.lang, t.tot_l, r.range AS b FROM tot t, range({NB_BUCKETS}) r
), w AS (
  SELECT g.lang AS model_lang, g.b,
         CAST(ROUND(ln(CAST(COALESCE(c.n_lb, 0) + 1 AS DOUBLE)
                       / (g.tot_l + {NB_BUCKETS})) * 1e6, 0) AS BIGINT) AS wu
  FROM grid g LEFT JOIN cnt c ON g.lang = c.lang AND g.b = c.b
), nd AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd_l
  FROM docs WHERE NOT is_test GROUP BY lang
), pri AS (
  SELECT lang AS model_lang,
         CAST(ROUND(ln(CAST(nd_l AS DOUBLE)
                       / (SELECT SUM(nd_l) FROM nd)) * 1e6, 0) AS BIGINT)
           AS pu
  FROM nd
), scored AS (
  SELECT t.doc_id, t.lang AS true_lang, w.model_lang,
         CAST(SUM(w.wu) AS BIGINT) + ANY_VALUE(p.pu) AS score
  FROM toks t
  JOIN w ON t.b = w.b
  JOIN pri p ON p.model_lang = w.model_lang
  WHERE t.is_test
  GROUP BY t.doc_id, t.lang, w.model_lang
), pred AS (
  SELECT doc_id, true_lang, model_lang AS pred_lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, model_lang ASC) AS rn
  FROM scored
)
SELECT true_lang, pred_lang, COUNT(*) AS n_docs
FROM pred WHERE rn = 1
GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
"""


# --------------------------------------------------------------------------
# Chi-square feature selection over the hashed-unigram space
# --------------------------------------------------------------------------

CHI2_TOPK = 20


def chi2_feature_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² feature selection over the same hashed-unigram space the
    naive-Bayes classifier trains on: for each of the 256 hash
    buckets, the 2×2 contingency of (token in bucket?) × (doc lang
    = 'en'?) scored by the one-df χ² statistic — the standard
    filter-method ranking of which features carry class signal,
    run BEFORE training to size the model (and, on this corpus, to
    quantify how weak the unigram signal is — see
    ``naive_bayes_langid``).

    Exactness: a/b/c/d and (ad−bc) are exact BIGINTs (products
    ≤ T² < 2⁵³ through sf1); the statistic is one double expression
    over those integers, identical in both engines; ranking sorts
    the ROUNDED χ² with the bucket id as tie-break.

    Scale: one token-stream map-combined groupBy onto ≤256 cells;
    totals ride an unpartitioned window over the bounded cell frame
    (never the token stream); top-k is metadata-sized."""
    docs = load_table(spark, sf_dir, "documents").select(
        "text", (F.col("lang") == "en").cast("long").alias("is_pos")
    )
    toks = docs.select(
        "is_pos", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select(
        "is_pos",
        (md5_u32(F.col("tok"), "nbfeat") % NB_BUCKETS).alias("bucket"),
    )
    cells = toks.groupBy("bucket").agg(
        F.sum("is_pos").alias("a"),
        (F.count(F.lit(1)) - F.sum("is_pos")).alias("b"),
    )
    w_all = Window.partitionBy()
    with_tot = cells.select(
        "bucket",
        "a",
        "b",
        (F.sum("a").over(w_all) - F.col("a")).alias("c"),
        (F.sum("b").over(w_all) - F.col("b")).alias("d"),
    )
    t = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    det = (
        F.col("a") * F.col("d") - F.col("b") * F.col("c")
    ).cast("double")
    denom = (
        (F.col("a") + F.col("b")).cast("double")
        * (F.col("c") + F.col("d")).cast("double")
        * (F.col("a") + F.col("c")).cast("double")
        * (F.col("b") + F.col("d")).cast("double")
    )
    return (
        with_tot.select(
            "bucket",
            (F.col("a") + F.col("b")).alias("n_tokens"),
            F.col("a").alias("n_en"),
            F.round(t * det * det / denom, 6).alias("chi2"),
        )
        .orderBy(F.desc("chi2"), F.asc("bucket"))
        .limit(CHI2_TOPK)
    )


ORACLE_CHI2_SELECT = f"""
WITH toks AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos,
         {_NB_HASH_TOK} % {NB_BUCKETS} AS bucket
  FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
), cells AS (
  SELECT bucket, CAST(SUM(is_pos) AS BIGINT) AS a,
         CAST(COUNT(*) - SUM(is_pos) AS BIGINT) AS b
  FROM toks GROUP BY bucket
), with_tot AS (
  SELECT bucket, a, b,
         CAST(SUM(a) OVER () - a AS BIGINT) AS c,
         CAST(SUM(b) OVER () - b AS BIGINT) AS d
  FROM cells
)
SELECT bucket, a + b AS n_tokens, a AS n_en,
       ROUND(CAST(a + b + c + d AS DOUBLE)
             * CAST(a * d - b * c AS DOUBLE)
             * CAST(a * d - b * c AS DOUBLE)
             / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)),
             6) AS chi2
FROM with_tot
ORDER BY chi2 DESC, bucket ASC
LIMIT {CHI2_TOPK}
"""


# --------------------------------------------------------------------------
# Good-Turing mass estimates — how much probability belongs to the unseen?
# --------------------------------------------------------------------------

GT_MAX_R = 5


def good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple Good-Turing frequency-mass profile of the token
    unigram distribution: for r = 0..{GT_MAX_R}, the number of word
    types seen exactly r times, the raw probability mass they carry
    (r·N_r/N), and the Good-Turing REASSIGNED mass
    ((r+1)·N_{{r+1}}/N — at r = 0 this is the famous N₁/N estimate of
    the probability that the NEXT token is a never-seen word). The
    number a corpus-growth planner and every smoothing scheme
    (``kneser_ney_surprisal`` hardwires one) start from.

    Exactness: N_r, N and the masses are exact integers and integer
    rationals; the only doubles are the two final divisions.

    Scale: one token rollup (map-combined), one count-of-counts
    rollup onto a ≤|distinct r| frame, filtered to r ≤ {GT_MAX_R}+1
    (bounded BY THE QUESTION, not the data); the 1-row token total
    crosses onto the 6-row grid."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens_col(F.col("text"))).alias("w")
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    cc = freq.groupBy("c").agg(F.count(F.lit(1)).alias("n_types"))
    tot = cc.agg(F.sum(F.col("c") * F.col("n_types")).alias("n"))
    grid = (
        spark.range(0, GT_MAX_R + 1)
        .select(F.col("id").alias("r"))
        .join(
            F.broadcast(cc.filter(F.col("c") <= GT_MAX_R)),
            F.col("r") == F.col("c"),
            "left",
        )
        .select("r", "n_types")
        .join(
            F.broadcast(
                cc.filter(F.col("c") <= GT_MAX_R + 1).select(
                    (F.col("c") - 1).alias("r_m1"),
                    F.col("n_types").alias("n_types_next"),
                )
            ),
            F.col("r") == F.col("r_m1"),
            "left",
        )
        .crossJoin(F.broadcast(tot))
    )
    return grid.select(
        "r",
        "n_types",
        F.round(
            (F.col("r") * F.coalesce(F.col("n_types"), F.lit(0))).cast(
                "double"
            )
            / F.col("n"),
            6,
        ).alias("raw_mass"),
        F.round(
            (
                (F.col("r") + 1)
                * F.coalesce(F.col("n_types_next"), F.lit(0))
            ).cast("double")
            / F.col("n"),
            6,
        ).alias("gt_mass"),
    ).orderBy("r")


ORACLE_GOOD_TURING = f"""
WITH toks AS (
  SELECT tok AS w FROM documents, UNNEST(string_split(text, ' ')) u(tok)
), freq AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w
), cc AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS n_types FROM freq GROUP BY c
), tot AS (
  SELECT CAST(SUM(c * n_types) AS BIGINT) AS n FROM cc
), grid AS (
  SELECT r.range AS r, a.n_types, b.n_types AS n_types_next, tot.n
  FROM range({GT_MAX_R + 1}) r
  LEFT JOIN cc a ON r.range = a.c
  LEFT JOIN cc b ON r.range = b.c - 1
  CROSS JOIN tot
)
SELECT r, n_types,
       ROUND(CAST(r * COALESCE(n_types, 0) AS DOUBLE) / n, 6) AS raw_mass,
       ROUND(CAST((r + 1) * COALESCE(n_types_next, 0) AS DOUBLE) / n, 6)
         AS gt_mass
FROM grid
ORDER BY r
"""


# --------------------------------------------------------------------------
# Burrows' Delta — stylometric distance between sources
# --------------------------------------------------------------------------

BURROWS_TOPK = 20


def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every pair of corpus sources — the
    classic stylometric attribution distance: z-score each source's
    relative frequency of the top-{BURROWS_TOPK} corpus words
    (function words dominate that set — exactly Burrows' design),
    then Delta(s₁,s₂) = mean |z₁−z₂|. Low Delta = same "authorial
    fingerprint"; the dedup/contamination families find shared
    CONTENT, this finds shared STYLE (templated generators, scraped
    mirrors with rewritten words).

    Exactness: relative frequencies are exact integer rationals;
    μ/σ per word ride a |sources|-row window; all frames after the
    one token rollup are (sources × top-k)-bounded, so the doubles
    drift only by 5-term addition order (~1e-16).

    Plan: one token-stream rollup to (source, word) cells, a
    broadcast top-k word filter, the bounded grid completion
    (sources × k cross — metadata-sized by construction), two
    windows on it, one k-keyed equi self-join for the 10 pairs."""
    toks = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(tokens_col(F.col("text"))).alias("w")
    )
    sw = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    stot = sw.groupBy("source").agg(F.sum("c").alias("s_toks"))
    topk = (
        sw.groupBy("w")
        .agg(F.sum("c").alias("g"))
        .orderBy(F.desc("g"), F.asc("w"))
        .limit(BURROWS_TOPK)
        .select("w")
    )
    grid = (
        stot.crossJoin(F.broadcast(topk))
        .join(sw, ["source", "w"], "left")
        .select(
            "source",
            "w",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("s_toks")
            ).alias("f"),
        )
    )
    w_word = Window.partitionBy("w")
    z = grid.select(
        "source",
        "w",
        (
            (F.col("f") - F.avg("f").over(w_word))
            / F.sqrt(
                F.sum(F.col("f") * F.col("f")).over(w_word)
                / F.count(F.lit(1)).over(w_word)
                - F.avg("f").over(w_word) * F.avg("f").over(w_word)
            )
        ).alias("z"),
    )
    a = z.select(F.col("source").alias("s1"), "w", F.col("z").alias("z1"))
    b = z.select(F.col("source").alias("s2"), "w", F.col("z").alias("z2"))
    return (
        a.join(b, "w")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.round(
                F.sum(F.abs(F.col("z1") - F.col("z2")))
                / F.count(F.lit(1)),
                6,
            ).alias("delta")
        )
        .orderBy("s1", "s2")
    )


ORACLE_BURROWS_DELTA = f"""
WITH toks AS (
  SELECT source, tok AS w
  FROM documents, UNNEST(string_split(text, ' ')) u(tok)
), sw AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, w
), stot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS s_toks FROM sw GROUP BY source
), topk AS (
  SELECT w FROM (SELECT w, SUM(c) AS g FROM sw GROUP BY w)
  ORDER BY g DESC, w ASC LIMIT {BURROWS_TOPK}
), grid AS (
  SELECT st.source, t.w,
         CAST(COALESCE(sw.c, 0) AS DOUBLE) / st.s_toks AS f
  FROM stot st CROSS JOIN topk t
  LEFT JOIN sw ON sw.source = st.source AND sw.w = t.w
), z AS (
  SELECT source, w,
         (f - AVG(f) OVER (PARTITION BY w))
         / sqrt(SUM(f * f) OVER (PARTITION BY w)
                / COUNT(*) OVER (PARTITION BY w)
                - AVG(f) OVER (PARTITION BY w)
                  * AVG(f) OVER (PARTITION BY w)) AS z
  FROM grid
)
SELECT a.s1, b.s2,
       ROUND(SUM(ABS(a.z1 - b.z2)) / COUNT(*), 6) AS delta
FROM (SELECT source AS s1, w, z AS z1 FROM z) a
JOIN (SELECT source AS s2, w, z AS z2 FROM z) b ON a.w = b.w
WHERE a.s1 < b.s2
GROUP BY a.s1, b.s2
ORDER BY a.s1, b.s2
"""


# --------------------------------------------------------------------------
# Skip-gram training pairs with word2vec frequency subsampling
# --------------------------------------------------------------------------

SKIPGRAM_T = 0.001  # word2vec subsample threshold
SKIPGRAM_TOPK = 30


def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(center, context) skip-gram pair extraction — the word2vec /
    fastText training-data prep — with Mikolov frequency
    subsampling: each token occurrence survives iff
    u < sqrt(t / f(w)), u a deterministic md5-u32 of (doc, pos), so
    reruns and engines agree occurrence-for-occurrence.  Context
    windows are taken over the SUBSAMPLED sequence (the word2vec
    semantics: deletion brings distant words into range), as a
    per-doc position window — one doc-key exchange, no self-join.
    The frequency join carries (token → threshold) only; Catalyst
    broadcasts it at test scale and hash-joins at corpus scale.
    Output: top pairs by count (forward offsets +1, +2)."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "w"),
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("double").alias("tot"))
    thresh = freq.crossJoin(F.broadcast(total)).select(
        "w",
        F.sqrt(
            F.lit(SKIPGRAM_T) / (F.col("cnt").cast("double") / F.col("tot"))
        ).alias("p_keep"),
    )
    u = md5_u32(
        F.concat_ws("#", F.col("doc_id"), F.col("pos")), salt="sg#"
    ).cast("double") / F.lit(4294967296.0)
    kept = (
        toks.join(thresh, "w")
        .filter(u < F.col("p_keep"))
        .select("doc_id", "pos", "w")
    )
    seq = Window.partitionBy("doc_id").orderBy("pos")
    ctx = kept.select(
        F.col("w").alias("w1"),
        F.lead("w", 1).over(seq).alias("c1"),
        F.lead("w", 2).over(seq).alias("c2"),
    )
    pairs = ctx.select("w1", F.col("c1").alias("w2")).where(
        F.col("c1").isNotNull()
    ).unionAll(
        ctx.select("w1", F.col("c2").alias("w2")).where(F.col("c2").isNotNull())
    )
    return (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "w1", "w2")
        .limit(SKIPGRAM_TOPK)
    )


ORACLE_SKIPGRAM_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, i - 1 AS pos, w[i] AS w
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       UNNEST(range(1, len(w) + 1)) AS t(i)
), freq AS (
  SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
), tot AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM freq
), thresh AS (
  SELECT w, sqrt({SKIPGRAM_T} / (CAST(cnt AS DOUBLE) / tot)) AS p_keep
  FROM freq CROSS JOIN tot
), kept AS (
  SELECT t.doc_id, t.pos, t.w
  FROM toks t JOIN thresh h USING (w)
  WHERE CAST(('0x' || substr(md5('sg#' || CAST(t.doc_id AS VARCHAR) || '#'
                                 || CAST(t.pos AS VARCHAR)), 1, 8))
             AS BIGINT) / 4294967296.0 < h.p_keep
), ctx AS (
  SELECT w AS w1,
         LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS c1,
         LEAD(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS c2
  FROM kept
), pairs AS (
  SELECT w1, c1 AS w2 FROM ctx WHERE c1 IS NOT NULL
  UNION ALL
  SELECT w1, c2 AS w2 FROM ctx WHERE c2 IS NOT NULL
)
SELECT w1, w2, COUNT(*) AS n_pairs
FROM pairs
GROUP BY w1, w2
ORDER BY n_pairs DESC, w1, w2
LIMIT {SKIPGRAM_TOPK}
"""


# --------------------------------------------------------------------------
# word2vec negative-sampling table (unigram^0.75 inverse-CDF ranges)
# --------------------------------------------------------------------------

NEG_TABLE_POW_NUM = 3  # the 0.75 smoothing exponent as an exact ratio
NEG_TABLE_POW_DEN = 4
NEG_TABLE_TOPK = 50


def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec noise distribution as data: each vocabulary word
    gets probability ∝ count^0.75, materialized as contiguous
    integer ranges so a sampler maps any uniform u32 to a word by
    range lookup (inverse CDF — the array word2vec builds in RAM,
    here a table a 100 TB job range-joins against).  Per-word weight
    is ROUNDED to integer micro-units BEFORE the cumulative sum (the
    lm_surprisal idiom: one pow per word, integers after), so the
    running ranges are exact cross-engine.  The cumulative window
    runs over the vocabulary-sized count rollup, never the corpus.
    Output: top words by weight with their [cum_lo, cum_hi) range."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    weighted = freq.select(
        "w",
        "cnt",
        F.round(
            F.pow(
                F.col("cnt").cast("double"),
                F.lit(NEG_TABLE_POW_NUM / NEG_TABLE_POW_DEN),
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("wt_micro"),
    )
    cw = Window.orderBy(F.desc("cnt"), "w")
    ranged = weighted.select(
        "w",
        "cnt",
        "wt_micro",
        (F.sum("wt_micro").over(cw) - F.col("wt_micro")).alias("cum_lo"),
        F.sum("wt_micro").over(cw).alias("cum_hi"),
    )
    return ranged.orderBy(F.desc("cnt"), "w").limit(NEG_TABLE_TOPK)


ORACLE_NEG_TABLE = f"""
WITH freq AS (
  SELECT w, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  GROUP BY w
), weighted AS (
  SELECT w, cnt,
         CAST(ROUND(pow(CAST(cnt AS DOUBLE),
                        {NEG_TABLE_POW_NUM / NEG_TABLE_POW_DEN}) * 1e6, 0)
              AS BIGINT) AS wt_micro
  FROM freq
)
SELECT w, cnt, wt_micro,
       CAST(SUM(wt_micro) OVER (ORDER BY cnt DESC, w) - wt_micro AS BIGINT)
         AS cum_lo,
       CAST(SUM(wt_micro) OVER (ORDER BY cnt DESC, w) AS BIGINT) AS cum_hi
FROM weighted
ORDER BY cnt DESC, w
LIMIT {NEG_TABLE_TOPK}
"""


# --------------------------------------------------------------------------
# Kneser-Ney smoothed bigram surprisal — the KenLM-standard smoother
# --------------------------------------------------------------------------

KN_TOPK = 20


def kneser_ney_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the smoother real
    perplexity filters (KenLM / CCNet) actually ship, next to
    ``lm_surprisal``'s raw MLE:

        P_KN(w2|w1) = (max(c12 − D, 0) + D·N1+(w1,·)·P_cont(w2)) / c1
        P_cont(w2)  = N1+(·,w2) / B

    with discount D = 3/4 and B = total distinct bigram types. The
    whole probability is an exact integer rational: multiplying
    through by 4B gives

        NUM = (4·B·c12 − 3·B) + 3·N1+(w1,·)·N1+(·,w2)
        DEN = 4·B·c1

    (c12 ≥ 1 on corpus-trained data, so the max() never binds) —
    both BIGINT, so the only float op is one ln() of an exactly-
    rounded IEEE quotient, rounded to integer micro-nats before the
    per-doc sum (the ``lm_surprisal`` determinism discipline: integer
    sums are associative, partial-agg order can't wobble the result,
    and the DuckDB oracle lands on identical bits).

    Scale: ONE corpus-scale shuffle (the map-combined bigram count;
    output vocab²-bounded) — c1, N1+(w1,·), N1+(·,w2) and B all
    derive from the count table itself, so unlike ``lm_surprisal``
    the corpus never shuffles a second time for the unigram counts.
    The stats table joins back onto the bigram stream keyed
    (w1, w2); AQE picks broadcast while the vocab table fits.
    Overflow headroom: NUM ≤ 4·B·c12 needs ln2(4Bc) < 63, i.e.
    B·c12 < 2^61 — at trillions of bigram types, drop to DOUBLE
    arithmetic (the micro-nat rounding absorbs the 2^-52 error).

    Returns the {KN_TOPK} most-surprising documents (≥
    {LM_MIN_BIGRAMS} bigrams) — the incoherent tail a curation pass
    cuts."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(w, 1, greatest(size(w) - 1, 0)),"
                " (t, i) -> struct(t AS w1, w[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = c2.groupBy("w1").agg(
        F.sum("n12").alias("n1"), F.count(F.lit(1)).alias("n1p1")
    )
    cont = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p2"))
    btot = c2.agg(F.count(F.lit(1)).alias("B"))
    stats = (
        c2.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            (
                F.lit(4) * F.col("B") * F.col("n12")
                - F.lit(3) * F.col("B")
                + F.lit(3) * F.col("n1p1") * F.col("n1p2")
            ).alias("num"),
            (F.lit(4) * F.col("B") * F.col("n1")).alias("den"),
        )
    )
    scored = pairs.join(stats, ["w1", "w2"]).select(
        "doc_id",
        F.round(
            F.log(F.col("den").cast("double") / F.col("num")) * 1e6, 0
        )
        .cast("long")
        .alias("kn_micro"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("kn_micro").alias("kn_micro_total"),
    )
    return (
        per_doc.filter(F.col("n_bigrams") >= LM_MIN_BIGRAMS)
        .orderBy(
            F.desc(
                F.col("kn_micro_total").cast("double") / F.col("n_bigrams")
            ),
            F.asc("doc_id"),
        )
        .limit(KN_TOPK)
    )


ORACLE_KNESER_NEY = f"""
WITH pairs AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(range(1, len(w))) AS t(i)
), c2 AS (
  SELECT w1, w2, COUNT(*) AS n12 FROM pairs GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1, COUNT(*) AS n1p1
  FROM c2 GROUP BY w1
), cont AS (
  SELECT w2, COUNT(*) AS n1p2 FROM c2 GROUP BY w2
), btot AS (
  SELECT COUNT(*) AS B FROM c2
), stats AS (
  SELECT c2.w1, c2.w2,
         4 * B * n12 - 3 * B + 3 * n1p1 * n1p2 AS num,
         4 * B * n1 AS den
  FROM c2 JOIN c1 ON c2.w1 = c1.w1
          JOIN cont ON c2.w2 = cont.w2
          CROSS JOIN btot
), scored AS (
  SELECT p.doc_id,
         CAST(ROUND(ln(CAST(den AS DOUBLE) / num) * 1000000, 0) AS BIGINT)
           AS kn_micro
  FROM pairs p JOIN stats s ON p.w1 = s.w1 AND p.w2 = s.w2
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(kn_micro) AS BIGINT) AS kn_micro_total
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, kn_micro_total
FROM per_doc
WHERE n_bigrams >= {LM_MIN_BIGRAMS}
ORDER BY CAST(kn_micro_total AS DOUBLE) / n_bigrams DESC, doc_id ASC
LIMIT {KN_TOPK}
"""


# --------------------------------------------------------------------------
# leave-one-out source valuation — which source moves corpus quality?
# --------------------------------------------------------------------------


def loo_source_valuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out data valuation at source granularity: for each
    source, the corpus mean quality WITH vs WITHOUT it —
    delta_micro > 0 means dropping the source would *raise* mean
    quality (a cut candidate); the cheapest member of the
    Shapley-style valuation family and the one a 100 TB pipeline can
    afford exactly. One pass: per-source (n, Σq) in a single
    map-combined groupBy; the global (N, S) derives from the
    per-source frame (O(sources) rows), so LOO_mean_i =
    (S − s_i)/(N − n_i) is pure arithmetic on the tiny aggregate —
    the corpus is read once and never shuffles beyond the 20-key
    groupBy. Quality is the repo's quality_col rounded to integer
    micro-units before ANY sum, so every mean is a ratio of exact
    integers."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", quality_col(F.col("text")).alias("q")
    )
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.round(F.col("q") * 1e6, 0).cast("long")).alias("q_micro"),
    )
    glob = per_src.agg(
        F.sum("n_docs").alias("N"), F.sum("q_micro").alias("S")
    )
    return (
        per_src.crossJoin(F.broadcast(glob))
        .select(
            "source",
            "n_docs",
            F.round(F.col("q_micro").cast("double") / F.col("n_docs") / 1e6, 6)
            .alias("mean_q"),
            F.round(
                (F.col("S") - F.col("q_micro")).cast("double")
                / (F.col("N") - F.col("n_docs"))
                / 1e6,
                6,
            ).alias("loo_mean_q"),
            F.round(
                (
                    (F.col("S") - F.col("q_micro")).cast("double")
                    / (F.col("N") - F.col("n_docs"))
                    - F.col("S").cast("double") / F.col("N")
                ),
                1,
            ).alias("delta_micro"),
        )
        .orderBy(F.desc("delta_micro"), F.asc("source"))
    )


ORACLE_LOO_SOURCE_VALUATION = f"""
WITH scored AS (
  SELECT source,
         CAST(ROUND((0.4 * LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                      / len(string_split(text, ' ')))
             + 0.3 * (1.0 - LEAST(CAST(len(list_filter(string_split(text, ' '),
                                              t -> t IN ('{_STOP_SQL}'))) AS DOUBLE)
                                  / len(string_split(text, ' ')) * 5, 1.0))
            ) * 1000000, 0) AS BIGINT) AS q_micro
  FROM documents
), per_src AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(q_micro) AS BIGINT) AS q_micro_sum
  FROM scored GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS N, CAST(SUM(q_micro_sum) AS BIGINT) AS S
  FROM per_src
)
SELECT source, n_docs,
       ROUND(CAST(q_micro_sum AS DOUBLE) / n_docs / 1000000, 6) AS mean_q,
       ROUND(CAST(S - q_micro_sum AS DOUBLE) / (N - n_docs) / 1000000, 6)
         AS loo_mean_q,
       ROUND(CAST(S - q_micro_sum AS DOUBLE) / (N - n_docs)
             - CAST(S AS DOUBLE) / N, 1) AS delta_micro
FROM per_src CROSS JOIN tot
ORDER BY delta_micro DESC, source ASC
"""


# ---------------------------------------------------------------------------
# Interpolated precision-recall curve of the langid scorer
# ---------------------------------------------------------------------------

PR_RECALL_TARGETS_PM = (500, 800, 900, 950, 990)  # per-mille recall


def pr_curve_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated precision-recall curve of the stopword-density
    langid scorer: for each target recall (50/80/90/95/99%), the
    best precision any threshold achieving that recall attains
    (P_interp(r) = max_{t: R(t) ≥ r} P(t)) plus the smallest
    predicted-positive set size that reaches it — the
    class-imbalance-honest twin of ``roc_auc_langid`` (ROC flatters
    scorers when negatives dominate; PR does not).

    Exactness: the same distinct-score rollup as the AUC (bounded
    micro-unit key), one DESC window for cumulative tp/fp, and the
    recall qualification cross-multiplied to BIGINT (cum_tp·1000 ≥
    pm·n_pos). Precision is a per-row double from two BIGINTs —
    MAX/MIN are order-free, so no float accumulation anywhere."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    per_score = (
        docs.select(
            _langid_score_u().alias("score_u"),
            (F.col("lang") == "en").cast("long").alias("is_pos"),
        )
        .groupBy("score_u")
        .agg(
            F.sum("is_pos").alias("np"),
            F.sum(F.lit(1) - F.col("is_pos")).alias("nn"),
        )
    )
    w_desc = Window.orderBy(F.desc("score_u")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = per_score.select(
        F.sum("np").over(w_desc).alias("cum_tp"),
        F.sum("nn").over(w_desc).alias("cum_fp"),
        F.sum("np").over(w_all).alias("n_pos"),
    )
    targets = spark.createDataFrame(
        [(t,) for t in PR_RECALL_TARGETS_PM], "pm long"
    )
    qualified = cum.crossJoin(F.broadcast(targets)).filter(
        F.col("cum_tp") * F.lit(1000) >= F.col("pm") * F.col("n_pos")
    )
    precision = F.col("cum_tp").cast("double") / (
        F.col("cum_tp") + F.col("cum_fp")
    ).cast("double")
    return (
        qualified.groupBy("pm")
        .agg(
            F.max("n_pos").alias("n_pos"),
            F.min(F.col("cum_tp") + F.col("cum_fp")).alias("min_k"),
            F.round(F.max(precision), 6).alias("interp_precision"),
        )
        .select(
            (F.col("pm").cast("double") / F.lit(1000.0)).alias(
                "recall_target"
            ),
            "n_pos",
            "min_k",
            "interp_precision",
        )
        .orderBy("recall_target")
    )


ORACLE_PR_CURVE = f"""
WITH per_score AS (
  SELECT {_LANGID_SCORE_U_SQL} AS score_u,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
         SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
  FROM documents GROUP BY 1
), cum AS (
  SELECT SUM(np) OVER (ORDER BY score_u DESC
                       ROWS UNBOUNDED PRECEDING) AS cum_tp,
         SUM(nn) OVER (ORDER BY score_u DESC
                       ROWS UNBOUNDED PRECEDING) AS cum_fp,
         SUM(np) OVER () AS n_pos
  FROM per_score
), qualified AS (
  SELECT pm, cum_tp, cum_fp, n_pos
  FROM cum
  CROSS JOIN (SELECT unnest([{", ".join(str(t) for t in PR_RECALL_TARGETS_PM)}]) AS pm)
  WHERE cum_tp * 1000 >= pm * n_pos
)
SELECT CAST(pm AS DOUBLE) / 1000.0 AS recall_target,
       CAST(MAX(n_pos) AS BIGINT) AS n_pos,
       CAST(MIN(cum_tp + cum_fp) AS BIGINT) AS min_k,
       ROUND(MAX(CAST(cum_tp AS DOUBLE) / CAST(cum_tp + cum_fp AS DOUBLE)),
             6) AS interp_precision
FROM qualified
GROUP BY pm
ORDER BY recall_target
"""


# ---------------------------------------------------------------------------
# McNemar paired test between two langid heuristics
# ---------------------------------------------------------------------------

MCNEMAR_STOP_THRESHOLD_U = 60_000  # stopword ratio ≥ 0.06 → predict en
MCNEMAR_LEN_THRESHOLD_U = 4_500_000  # avg token length ≤ 4.5 → predict en


def mcnemar_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired test between two language-ID heuristics
    (stopword density vs average token length) on the SAME labeled
    documents — the statistically-correct way to compare classifiers
    evaluated on one corpus: accuracy deltas ignore pairing; McNemar
    tests only the discordant pairs b (A right, B wrong) and c (B
    right, A wrong), with continuity correction (|b−c|−1)²/(b+c).

    One corpus scan computes both predictions and collapses straight
    to the 4-cell paired-confusion counts in a map-combined global
    agg — pure BIGINT until the final three divisions."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    alen_u = F.round(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
            "double"
        )
        / F.size(tokens_col(F.col("text")))
        * F.lit(1e6)
    ).cast("long")
    scored = docs.select(
        (F.col("lang") == "en").alias("truth"),
        (_langid_score_u() >= MCNEMAR_STOP_THRESHOLD_U).alias("pred_a"),
        (alen_u <= MCNEMAR_LEN_THRESHOLD_U).alias("pred_b"),
    ).select(
        flag(F.col("pred_a") == F.col("truth")).alias("ok_a"),
        flag(F.col("pred_b") == F.col("truth")).alias("ok_b"),
    )
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ok_a").alias("n_ok_a"),
        F.sum("ok_b").alias("n_ok_b"),
        F.sum(F.col("ok_a") * (1 - F.col("ok_b"))).alias("b_discordant"),
        F.sum((1 - F.col("ok_a")) * F.col("ok_b")).alias("c_discordant"),
    )
    b = F.col("b_discordant").cast("double")
    c = F.col("c_discordant").cast("double")
    stat = (
        (F.abs(b - c) - F.lit(1.0))
        * (F.abs(b - c) - F.lit(1.0))
        / (b + c)
    )
    return agg.select(
        "n_docs",
        F.round(F.col("n_ok_a").cast("double") / F.col("n_docs"), 6).alias(
            "acc_stopword"
        ),
        F.round(F.col("n_ok_b").cast("double") / F.col("n_docs"), 6).alias(
            "acc_toklen"
        ),
        "b_discordant",
        "c_discordant",
        F.round(stat, 6).alias("mcnemar_chi2"),
    )


ORACLE_MCNEMAR = f"""
WITH scored AS (
  SELECT CASE WHEN ({_LANGID_SCORE_U_SQL} >= {MCNEMAR_STOP_THRESHOLD_U})
                   = (lang = 'en') THEN 1 ELSE 0 END AS ok_a,
         CASE WHEN (CAST(ROUND(CAST(length(replace(text, ' ', ''))
                                    AS DOUBLE)
                          / len(string_split(text, ' ')) * 1e6) AS BIGINT)
                    <= {MCNEMAR_LEN_THRESHOLD_U})
                   = (lang = 'en') THEN 1 ELSE 0 END AS ok_b
  FROM documents
)
SELECT COUNT(*) AS n_docs,
       ROUND(CAST(SUM(ok_a) AS DOUBLE) / COUNT(*), 6) AS acc_stopword,
       ROUND(CAST(SUM(ok_b) AS DOUBLE) / COUNT(*), 6) AS acc_toklen,
       CAST(SUM(ok_a * (1 - ok_b)) AS BIGINT) AS b_discordant,
       CAST(SUM((1 - ok_a) * ok_b) AS BIGINT) AS c_discordant,
       ROUND((ABS(CAST(SUM(ok_a * (1 - ok_b)) AS DOUBLE)
                  - CAST(SUM((1 - ok_a) * ok_b) AS DOUBLE)) - 1.0)
             * (ABS(CAST(SUM(ok_a * (1 - ok_b)) AS DOUBLE)
                    - CAST(SUM((1 - ok_a) * ok_b) AS DOUBLE)) - 1.0)
             / (CAST(SUM(ok_a * (1 - ok_b)) AS DOUBLE)
                + CAST(SUM((1 - ok_a) * ok_b) AS DOUBLE)), 6)
         AS mcnemar_chi2
FROM scored
"""


# ---------------------------------------------------------------------------
# Heaps' law fit — vocabulary growth V(n) = K·n^beta
# ---------------------------------------------------------------------------

def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of dictionary growth (V = K·T^β over the
    corpus prefix ordered by doc_id) — the capacity-planning twin of
    ``zipf_fit_tokens``: β predicts how fast the n-gram dictionary
    (and with it every vocab-keyed state store) grows as the corpus
    scales to 100 TB, from a fit you can compute on any prefix. The
    dictionary unit is the word TRIGRAM (the ``shingles_col``
    3-gram): on this corpus the unigram vocabulary saturates in the
    first decile, so the trigram dictionary is the one whose growth
    actually needs forecasting.

    Shape: one (trigram → first-seen doc) rollup and one per-doc
    token count, each bucketed into doc-id deciles by pure integer
    arithmetic (no global row ordering — doc_id deciles of the max
    id, so the "prefix" is data-parallel); two ≤10-row cumulative
    windows give (T_k, V_k); ln values are quantized to micro-nats
    before the 10-point OLS so every sum stays BIGINT."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    max_id = docs.agg(F.max("doc_id").alias("max_id"))
    bucket = F.expr("(doc_id * 10) div (max_id + 1) + 1")
    tris = docs.select(
        "doc_id",
        F.explode(shingles_col(tokens_col(F.col("text")))).alias("term"),
    )
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    ).filter(F.length("term") > 0)
    first_seen = (
        tris.groupBy("term")
        .agg(F.min("doc_id").alias("doc_id"))
        .crossJoin(F.broadcast(max_id))
        .groupBy(bucket.alias("k"))
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    doc_tokens = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"))
        .crossJoin(F.broadcast(max_id))
        .groupBy(bucket.alias("k"))
        .agg(F.sum("n_tok").alias("bucket_tokens"))
    )
    w_cum = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        doc_tokens.join(first_seen, "k", "left")
        .select(
            "k",
            F.sum(F.coalesce(F.col("new_terms"), F.lit(0)))
            .over(w_cum)
            .alias("v"),
            F.sum("bucket_tokens").over(w_cum).alias("t"),
        )
        .select(
            F.round(F.log(F.col("t").cast("double")) * F.lit(1e6))
            .cast("long")
            .alias("x_u"),
            F.round(F.log(F.col("v").cast("double")) * F.lit(1e6))
            .cast("long")
            .alias("y_u"),
            "v",
            "t",
        )
    )
    agg = curve.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("x_u").alias("sx"),
        F.sum("y_u").alias("sy"),
        F.sum(F.col("x_u") * F.col("y_u")).alias("sxy"),
        F.sum(F.col("x_u") * F.col("x_u")).alias("sxx"),
        F.max("v").alias("vocab_final"),
        F.max("t").alias("tokens_final"),
    )
    nd = F.col("n_points").cast("double")
    x = F.col("sx").cast("double") / F.lit(1e6)
    y = F.col("sy").cast("double") / F.lit(1e6)
    xy = F.col("sxy").cast("double") / F.lit(1e12)
    xx = F.col("sxx").cast("double") / F.lit(1e12)
    beta = (nd * xy - x * y) / (nd * xx - x * x)
    return agg.select(
        "n_points",
        "vocab_final",
        "tokens_final",
        F.round(beta, 6).alias("beta"),
        F.round(F.exp((y - beta * x) / nd), 4).alias("k_coef"),
    )


ORACLE_HEAPS_LAW = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS term) t
  WHERE length(t.term) > 0
), words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), tris AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS term
  FROM words, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
  WHERE len(w) >= 3
), mx AS (SELECT MAX(doc_id) AS max_id FROM documents),
first_seen AS (
  SELECT (MIN(doc_id) * 10) // (max_id + 1) + 1 AS k
  FROM tris, mx GROUP BY term, max_id
), fs AS (
  SELECT k, COUNT(*) AS new_terms FROM first_seen GROUP BY k
), doc_tokens AS (
  SELECT (doc_id * 10) // (max_id + 1) + 1 AS k,
         COUNT(*) AS bucket_tokens
  FROM toks, mx GROUP BY 1
), curve AS (
  SELECT doc_tokens.k,
         SUM(COALESCE(new_terms, 0)) OVER (ORDER BY doc_tokens.k
                              ROWS UNBOUNDED PRECEDING) AS v,
         SUM(bucket_tokens) OVER (ORDER BY doc_tokens.k
                                  ROWS UNBOUNDED PRECEDING) AS t
  FROM doc_tokens LEFT JOIN fs ON doc_tokens.k = fs.k
), micro AS (
  SELECT CAST(ROUND(ln(CAST(t AS DOUBLE)) * 1e6) AS BIGINT) AS x_u,
         CAST(ROUND(ln(CAST(v AS DOUBLE)) * 1e6) AS BIGINT) AS y_u,
         v, t
  FROM curve
), agg AS (
  SELECT COUNT(*) AS n_points,
         CAST(SUM(x_u) AS BIGINT) AS sx, CAST(SUM(y_u) AS BIGINT) AS sy,
         CAST(SUM(x_u * y_u) AS BIGINT) AS sxy,
         CAST(SUM(x_u * x_u) AS BIGINT) AS sxx,
         CAST(MAX(v) AS BIGINT) AS vocab_final,
         CAST(MAX(t) AS BIGINT) AS tokens_final
  FROM micro
)
SELECT n_points, vocab_final, tokens_final,
       ROUND((n_points * (CAST(sxy AS DOUBLE) / 1e12)
              - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
             / (n_points * (CAST(sxx AS DOUBLE) / 1e12)
                - (CAST(sx AS DOUBLE) / 1e6)
                  * (CAST(sx AS DOUBLE) / 1e6)), 6) AS beta,
       ROUND(exp((CAST(sy AS DOUBLE) / 1e6
                  - ((n_points * (CAST(sxy AS DOUBLE) / 1e12)
                      - (CAST(sx AS DOUBLE) / 1e6)
                        * (CAST(sy AS DOUBLE) / 1e6))
                     / (n_points * (CAST(sxx AS DOUBLE) / 1e12)
                        - (CAST(sx AS DOUBLE) / 1e6)
                          * (CAST(sx AS DOUBLE) / 1e6)))
                    * (CAST(sx AS DOUBLE) / 1e6))
                 / n_points), 4) AS k_coef
FROM agg
"""


# ---------------------------------------------------------------------------
# Positional-index phrase search — the Lucene-style position join
# ---------------------------------------------------------------------------

def positional_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional inverted index — the IR
    primitive the char-n-gram index (``ngram_index_search``) can't
    express: "these three words, ADJACENT, in this order". The index
    is the classic (term, doc, position) posting list; a 3-word
    phrase match is two self-equi-joins on (doc, pos+1) and
    (doc, pos+2) — co-partitioned on doc, no candidate explosion
    beyond true adjacency. The demo phrase is data-driven (the
    corpus's most frequent word trigram, ties lexicographic), so
    the query is self-contained at any SF; output = that phrase,
    its total occurrence count, and the top-5 matching docs.

    At 100 TB the postings index is built once (bucketed by term)
    and the same two joins run against the posting shards — the
    standard positional-search plan."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    index = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "term")
    ).filter(F.length("term") > 0)
    # raw (NON-distinct) trigram occurrences — shingles_col dedupes
    # within a doc, which is right for Jaccard but would pick the
    # "most widespread" rather than "most frequent" phrase here
    words = tokens_col(F.col("text"))
    raw_tris = F.when(
        F.size(words) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
                F.element_at(words, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri = docs.select(F.explode(raw_tris).alias("t"))
    w_top = Window.orderBy(F.desc("n"), F.asc("t"))
    phrase = (
        tri.groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") == 1)
        .select(
            F.split(F.col("t"), " ").alias("w"),
            F.col("t").alias("phrase"),
        )
        .select(
            "phrase",
            F.element_at("w", 1).alias("w1"),
            F.element_at("w", 2).alias("w2"),
            F.element_at("w", 3).alias("w3"),
        )
    )
    p1 = index.crossJoin(F.broadcast(phrase)).filter(
        F.col("term") == F.col("w1")
    )
    p2 = index.select(
        F.col("doc_id").alias("d2"),
        F.col("pos").alias("pos2"),
        F.col("term").alias("t2"),
    )
    p3 = index.select(
        F.col("doc_id").alias("d3"),
        F.col("pos").alias("pos3"),
        F.col("term").alias("t3"),
    )
    matches = (
        p1.join(
            p2,
            (F.col("doc_id") == F.col("d2"))
            & (F.col("pos2") == F.col("pos") + 1)
            & (F.col("t2") == F.col("w2")),
        )
        .join(
            p3,
            (F.col("doc_id") == F.col("d3"))
            & (F.col("pos3") == F.col("pos") + 2)
            & (F.col("t3") == F.col("w3")),
        )
        .groupBy("phrase", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    w_doc = Window.orderBy(F.desc("n_occ"), F.asc("doc_id"))
    w_all = Window.partitionBy()
    return (
        matches.select(
            "phrase",
            "doc_id",
            "n_occ",
            F.sum("n_occ").over(w_all).alias("total_occurrences"),
            F.count(F.lit(1)).over(w_all).alias("n_docs"),
            F.row_number().over(w_doc).alias("rk"),
        )
        .filter(F.col("rk") <= 5)
        .select(
            "phrase",
            "rk",
            "doc_id",
            "n_occ",
            "total_occurrences",
            "n_docs",
        )
        .orderBy("rk")
    )


ORACLE_PHRASE_SEARCH = """
WITH idx AS (
  SELECT doc_id, t.pos - 1 AS pos, t.term
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS term,
                       generate_subscripts(string_split(text, ' '), 1)
                         AS pos) t
  WHERE length(t.term) > 0
), words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), tris AS (
  SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS t
  FROM words, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)
  WHERE len(w) >= 3
), phrase AS (
  SELECT t AS phrase,
         string_split(t, ' ')[1] AS w1,
         string_split(t, ' ')[2] AS w2,
         string_split(t, ' ')[3] AS w3
  FROM (
    SELECT t, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t ASC) AS rk
    FROM tris GROUP BY t
  ) WHERE rk = 1
), matches AS (
  SELECT phrase, p1.doc_id, COUNT(*) AS n_occ
  FROM idx p1, phrase, idx p2, idx p3
  WHERE p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
    AND p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
    AND p1.term = w1 AND p2.term = w2 AND p3.term = w3
  GROUP BY phrase, p1.doc_id
), ranked AS (
  SELECT phrase, doc_id, n_occ,
         CAST(SUM(n_occ) OVER () AS BIGINT) AS total_occurrences,
         COUNT(*) OVER () AS n_docs,
         ROW_NUMBER() OVER (ORDER BY n_occ DESC, doc_id ASC) AS rk
  FROM matches
)
SELECT phrase, CAST(rk AS BIGINT) AS rk, doc_id, n_occ,
       total_occurrences, n_docs
FROM ranked WHERE rk <= 5
ORDER BY rk
"""


# --------------------------------------------------------------------------
# Lexical richness profile — vocabulary-health numbers per source
# --------------------------------------------------------------------------


def lexical_richness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary-health panel: type-token ratio, hapax
    share, Yule's K (repetitiveness — the stylometric constant
    that survives corpus growth where raw TTR decays), Simpson's D
    repeat probability, and the Chao1 estimate of the UNSEEN
    vocabulary still to come (bias-corrected N₁(N₁−1)/(2(N₂+1))
    form) — the five numbers a corpus-curation review reads before
    admitting a new source.

    Scale: ONE (source, term) rollup (map-combined), then a
    per-source aggregate — no joins, no windows; the frame after
    the first rollup is vocabulary-sized.

    Exactness: every aggregate (Σc, Σc², N₁, N₂, types) is an exact
    BIGINT; the five ratios are the only doubles, one division
    each, oracle-identical textual order."""
    c_st = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source", F.explode(tokens_col(F.col("text"))).alias("term")
        )
        .filter(F.length("term") > 0)
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = c_st.groupBy("source").agg(
        F.sum("c").alias("n_tok"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).alias("n1"),
        F.sum((F.col("c") == 2).cast("long")).alias("n2"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    )
    nt = F.col("n_tok").cast("double")
    return agg.select(
        "source",
        "n_tok",
        "n_types",
        "n1",
        F.round(F.col("n_types").cast("double") / nt, 6).alias("ttr"),
        F.round(
            F.col("n1").cast("double") / F.col("n_types").cast("double"), 6
        ).alias("hapax_share"),
        F.round(
            1e4 * (F.col("sum_c2") - F.col("n_tok")).cast("double")
            / (nt * nt),
            6,
        ).alias("yule_k"),
        F.round(
            (F.col("sum_c2") - F.col("n_tok")).cast("double")
            / (nt * (nt - 1.0)),
            6,
        ).alias("simpson_d"),
        F.round(
            F.col("n_types").cast("double")
            + F.col("n1").cast("double") * (F.col("n1") - 1).cast("double")
            / (2.0 * (F.col("n2") + 1).cast("double")),
            6,
        ).alias("chao1"),
    ).orderBy("source")


ORACLE_LEXICAL_RICHNESS = """
WITH c_st AS (
  SELECT source, tok AS term, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents, UNNEST(string_split(text, ' ')) u(tok)
  WHERE length(tok) > 0
  GROUP BY source, tok
), agg AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_tok,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM c_st GROUP BY source
)
SELECT source, n_tok, n_types, n1,
       ROUND(CAST(n_types AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS ttr,
       ROUND(CAST(n1 AS DOUBLE) / CAST(n_types AS DOUBLE), 6)
         AS hapax_share,
       ROUND(1e4 * CAST(sum_c2 - n_tok AS DOUBLE)
             / (CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE)), 6)
         AS yule_k,
       ROUND(CAST(sum_c2 - n_tok AS DOUBLE)
             / (CAST(n_tok AS DOUBLE) * (CAST(n_tok AS DOUBLE) - 1.0)), 6)
         AS simpson_d,
       ROUND(CAST(n_types AS DOUBLE)
             + CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)
               / (2.0 * CAST(n2 + 1 AS DOUBLE)), 6) AS chao1
FROM agg
ORDER BY source
"""


# --------------------------------------------------------------------------
# Jensen-Shannon divergence matrix — content drift between sources
# --------------------------------------------------------------------------


def jsd_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (nats) between every two
    sources' token unigram distributions — the bounded, symmetric
    CONTENT distance next to ``burrows_delta_sources``' style
    distance and ``token_entropy_kl``'s source-vs-corpus KL: which
    scrapes say the same things, regardless of who wrote them.

    Shared-mass decomposition so only the vocabulary INTERSECTION is
    ever joined: JSD = ½Σ_shared p·ln(2p/(p+q)) + ½(1−Σ_shared p)·ln2
    + the symmetric q half — terms private to one source contribute
    exactly ln 2 of mass, algebraically, without materializing the
    union.

    Exactness (the token_entropy_kl micro-nats idiom): each log
    ratio 2·c₁n₂/(c₁n₂+c₂n₁) is an exact-integer rational, its ln
    quantized to integer micro-nats BEFORE the vocabulary sum; the
    shared masses are exact BIGINTs; ln 2 enters once, in the same
    textual position as the oracle.

    Scale: one (source, term) rollup; the pair join is equi-keyed on
    term (vocabulary-sized × ≤|sources|² fan-out, never the corpus
    stream); the |sources|-row totals frame broadcasts."""
    c_st = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source", F.explode(tokens_col(F.col("text"))).alias("term")
        )
        .filter(F.length("term") > 0)
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_s = c_st.groupBy("source").agg(F.sum("c").alias("n"))
    a = c_st.join(F.broadcast(n_s), "source").select(
        F.col("source").alias("s1"),
        "term",
        F.col("c").alias("c1"),
        F.col("n").alias("n1"),
    )
    b = c_st.join(F.broadcast(n_s), "source").select(
        F.col("source").alias("s2"),
        "term",
        F.col("c").alias("c2"),
        F.col("n").alias("n2"),
    )
    ln1 = F.log(
        (2 * F.col("c1") * F.col("n2")).cast("double")
        / (F.col("c1") * F.col("n2") + F.col("c2") * F.col("n1")).cast(
            "double"
        )
    )
    ln2_ = F.log(
        (2 * F.col("c2") * F.col("n1")).cast("double")
        / (F.col("c1") * F.col("n2") + F.col("c2") * F.col("n1")).cast(
            "double"
        )
    )
    pair = (
        a.join(b, "term")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2", "n1", "n2")
        .agg(
            F.count(F.lit(1)).alias("shared_types"),
            F.sum("c1").alias("sh1"),
            F.sum("c2").alias("sh2"),
            F.sum(
                F.col("c1") * F.round(ln1 * 1e6, 0).cast("long")
            ).alias("kl1_e6"),
            F.sum(
                F.col("c2") * F.round(ln2_ * 1e6, 0).cast("long")
            ).alias("kl2_e6"),
        )
    )
    ln2c = 0.6931471805599453
    return pair.select(
        "s1",
        "s2",
        "shared_types",
        F.round(
            0.5
            * (
                F.col("kl1_e6").cast("double")
                / F.col("n1").cast("double")
                / 1e6
                + (F.col("n1") - F.col("sh1")).cast("double")
                / F.col("n1").cast("double")
                * F.lit(ln2c)
            )
            + 0.5
            * (
                F.col("kl2_e6").cast("double")
                / F.col("n2").cast("double")
                / 1e6
                + (F.col("n2") - F.col("sh2")).cast("double")
                / F.col("n2").cast("double")
                * F.lit(ln2c)
            ),
            6,
        ).alias("jsd_nats"),
    ).orderBy("s1", "s2")


ORACLE_JSD_SOURCES = """
WITH c_st AS (
  SELECT source, tok AS term, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents, UNNEST(string_split(text, ' ')) u(tok)
  WHERE length(tok) > 0
  GROUP BY source, tok
), n_s AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM c_st GROUP BY source
), a AS (
  SELECT c_st.source AS s1, term, c AS c1, n AS n1
  FROM c_st JOIN n_s ON c_st.source = n_s.source
), b AS (
  SELECT c_st.source AS s2, term, c AS c2, n AS n2
  FROM c_st JOIN n_s ON c_st.source = n_s.source
), pair AS (
  SELECT s1, s2, n1, n2,
         CAST(COUNT(*) AS BIGINT) AS shared_types,
         CAST(SUM(c1) AS BIGINT) AS sh1,
         CAST(SUM(c2) AS BIGINT) AS sh2,
         CAST(SUM(c1 * CAST(ROUND(ln(CAST(2 * c1 * n2 AS DOUBLE)
               / CAST(c1 * n2 + c2 * n1 AS DOUBLE)) * 1000000.0)
               AS BIGINT)) AS BIGINT) AS kl1_e6,
         CAST(SUM(c2 * CAST(ROUND(ln(CAST(2 * c2 * n1 AS DOUBLE)
               / CAST(c1 * n2 + c2 * n1 AS DOUBLE)) * 1000000.0)
               AS BIGINT)) AS BIGINT) AS kl2_e6
  FROM a JOIN b USING (term)
  WHERE s1 < s2
  GROUP BY s1, s2, n1, n2
)
SELECT s1, s2, shared_types,
       ROUND(0.5 * (CAST(kl1_e6 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1000000.0
                    + CAST(n1 - sh1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                      * 0.6931471805599453)
             + 0.5 * (CAST(kl2_e6 AS DOUBLE) / CAST(n2 AS DOUBLE) / 1000000.0
                    + CAST(n2 - sh2 AS DOUBLE) / CAST(n2 AS DOUBLE)
                      * 0.6931471805599453), 6) AS jsd_nats
FROM pair
ORDER BY s1, s2
"""


# --------------------------------------------------------------------------
# k-fold cross-validated naive Bayes — generalization without rescans
# --------------------------------------------------------------------------

CV_FOLDS = 5


def kfold_nb_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{CV_FOLDS}-fold cross-validated accuracy of the multinomial
    naive-Bayes langid model — the GENERALIZATION readout the
    single-split ``naive_bayes_langid`` confusion matrix can't give
    (is the accuracy stable, or did one lucky split flatter it?).

    The distributed-CV trick: all {CV_FOLDS} leave-fold-out models
    come from ONE token-count pass by subtraction — train counts for
    fold f are (global − fold f's own), so nothing rescans the
    corpus per fold. The count cube is ≤ folds×langs×buckets cells
    (bounded by construction, not data); each doc is then scored
    under ITS OWN fold's held-out model via one broadcast join.

    Exactness: all counts exact BIGINT; Laplace log-likelihoods and
    priors quantized to integer micro-nats before the doc sum (the
    naive_bayes_langid idiom); argmax ties break on the smaller
    language code; the per-fold accuracy is the only double."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        (md5_u32(F.col("doc_id"), "cvfold") % CV_FOLDS).alias("fold"),
    )
    toks = docs.select(
        "doc_id",
        "lang",
        "fold",
        F.explode(tokens_col(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        "fold",
        (md5_u32(F.col("tok"), "nbfeat") % NB_BUCKETS).alias("b"),
    )
    # ONE tokenize pass for the whole query (round 12, VERDICT r11
    # item 5; supersedes the round-11 two-scan shape): the per-doc
    # bucket histogram g — which scoring needs anyway — is the
    # finest-grained cube here, so materialize IT once and derive
    # the (fold, lang, b) count cube from it by exact integer sum
    # (Σ_doc k ≡ count of tokens, same BIGINTs). Round 11 had the
    # cube and the scoring pass each re-tokenize the corpus (2
    # text-bearing scans); now the corpus text is read and tokenized
    # exactly once. g is ~116k rows at sf0.1 — bounded by docs ×
    # distinct buckets per doc, not by token volume.
    # The histogram job and the (fold, lang) doc-count cube below are
    # independent until the final scoring join, so their checkpoint
    # jobs run CONCURRENTLY (guide §2.6, the ANN-audit overlap
    # helper) — the doc cube's text-free scan back-fills cores the
    # tokenize job's tail leaves idle.
    from cricket_analytics_nosql_spark.operators.similarity import (
        _concurrent_frames,
    )

    # g is checkpointed KEYED BY doc_id (guide §2.4 — operations
    # keyed the same way share one exchange): the scoring join below
    # is broadcast (streamed-side partitioning preserved), the
    # 4-key per-doc aggregate clusters by a SUPERSET of doc_id, and
    # the argmax window partitions by doc_id itself — so the whole
    # scoring job runs on g's materialized partitioning with no
    # exchange until the 5-row per-fold rollup (3 hash exchanges →
    # 1 in the executed scoring plan; the re-key itself is one
    # 116k-row exchange inside g's checkpoint job).
    g, nd_fl = _concurrent_frames(
        lambda: toks.groupBy("doc_id", "lang", "fold", "b")
        .agg(F.count(F.lit(1)).alias("k"))
        .repartition(F.col("doc_id"))
        .localCheckpoint(),
        lambda: docs.groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).alias("nd_own"))
        .localCheckpoint(),
    )
    # The cube stays pinned too (≤ folds·langs·buckets = 6400 cells):
    # its three broadcast consumers below don't share work, and one
    # tiny checkpoint job over g's 116k materialized rows beats three
    # re-aggregations of them.
    cnt_f = g.groupBy("fold", "lang", "b").agg(
        F.sum("k").alias("n_flb")
    ).localCheckpoint()
    cnt_lb = cnt_f.groupBy("lang", "b").agg(F.sum("n_flb").alias("n_lb"))
    tot_l = cnt_lb.groupBy("lang").agg(F.sum("n_lb").alias("tot"))
    own_fl = cnt_f.groupBy("fold", "lang").agg(F.sum("n_flb").alias("own"))
    grid = (
        tot_l.select(
            "lang",
            "tot",
            F.explode(
                F.sequence(F.lit(0), F.lit(CV_FOLDS - 1)).cast(
                    "array<long>"
                )
            ).alias("fold"),
        )
        .join(F.broadcast(own_fl), ["fold", "lang"], "left")
        .select(
            "fold",
            "lang",
            (F.col("tot") - F.coalesce(F.col("own"), F.lit(0))).alias(
                "tot_train"
            ),
            F.explode(
                F.sequence(F.lit(0), F.lit(NB_BUCKETS - 1)).cast(
                    "array<long>"
                )
            ).alias("b"),
        )
    )
    w = (
        grid.join(F.broadcast(cnt_lb), ["lang", "b"], "left")
        .join(F.broadcast(cnt_f), ["fold", "lang", "b"], "left")
        .select(
            "fold",
            F.col("lang").alias("model_lang"),
            "b",
            F.round(
                F.log(
                    (
                        F.coalesce(F.col("n_lb"), F.lit(0))
                        - F.coalesce(F.col("n_flb"), F.lit(0))
                        + 1
                    ).cast("double")
                    / (F.col("tot_train") + NB_BUCKETS).cast("double")
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("wu"),
        )
    )
    # Same dedup for the doc-count priors: the (fold, lang) doc cube
    # (≤ folds·langs rows, materialized concurrently with g above)
    # yields the per-lang totals by exact integer sum instead of a
    # second scan of documents.
    nd_l = nd_fl.groupBy("lang").agg(F.sum("nd_own").alias("nd"))
    pri_grid = (
        nd_l.select(
            "lang",
            "nd",
            F.explode(
                F.sequence(F.lit(0), F.lit(CV_FOLDS - 1)).cast(
                    "array<long>"
                )
            ).alias("fold"),
        )
        .join(F.broadcast(nd_fl), ["fold", "lang"], "left")
        .select(
            "fold",
            "lang",
            (F.col("nd") - F.coalesce(F.col("nd_own"), F.lit(0))).alias(
                "nd_train"
            ),
        )
    )
    w_fold = Window.partitionBy("fold")
    pri = pri_grid.select(
        "fold",
        F.col("lang").alias("model_lang"),
        F.round(
            F.log(
                F.col("nd_train").cast("double")
                / F.sum("nd_train").over(w_fold).cast("double")
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("pu"),
    )
    # Score from the per-doc bucket HISTOGRAM, not the raw token
    # stream: Σ_tok wu = Σ_b k·wu exactly (integer micro-nats), so
    # pre-aggregating (doc, b) → k before the ×langs model join
    # shrinks both the join output and the wide rollup's input
    # (270k tokens → 116k doc-bucket cells at sf0.1, ×5 langs
    # downstream) — aggregate-before-multiply. g is the checkpointed
    # histogram above: scoring re-reads the materialized 116k rows,
    # not the corpus.
    scored = (
        g.join(F.broadcast(w), ["fold", "b"])
        .groupBy(
            "doc_id",
            "fold",
            F.col("lang").alias("true_lang"),
            "model_lang",
        )
        .agg(F.sum(F.col("k") * F.col("wu")).alias("s"))
        .join(F.broadcast(pri), ["fold", "model_lang"])
        .select(
            "doc_id",
            "fold",
            "true_lang",
            "model_lang",
            (F.col("s") + F.col("pu")).alias("score"),
        )
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("model_lang")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_doc))
        .filter(F.col("rn") == 1)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("model_lang") == F.col("true_lang")).cast("long")
            ).alias("n_correct"),
        )
        .select(
            "fold",
            "n_docs",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("acc"),
        )
        .orderBy("fold")
    )


_CV_HASH_DOC = (
    "CAST(('0x' || substr(md5('cvfold' || CAST(doc_id AS VARCHAR)), 1, 8))"
    " AS BIGINT)"
)
_CV_HASH_TOK = (
    "CAST(('0x' || substr(md5('nbfeat' || tok), 1, 8)) AS BIGINT)"
)

ORACLE_KFOLD_NB_CV = f"""
WITH docs AS (
  SELECT doc_id, lang, text, {_CV_HASH_DOC} % {CV_FOLDS} AS fold
  FROM documents
), toks AS (
  SELECT doc_id, lang, fold, {_CV_HASH_TOK} % {NB_BUCKETS} AS b
  FROM docs, UNNEST(string_split(text, ' ')) u(tok)
), cnt_f AS (
  SELECT fold, lang, b, CAST(COUNT(*) AS BIGINT) AS n_flb
  FROM toks GROUP BY fold, lang, b
), cnt_lb AS (
  SELECT lang, b, CAST(SUM(n_flb) AS BIGINT) AS n_lb
  FROM cnt_f GROUP BY lang, b
), tot_l AS (
  SELECT lang, CAST(SUM(n_lb) AS BIGINT) AS tot FROM cnt_lb GROUP BY lang
), own_fl AS (
  SELECT fold, lang, CAST(SUM(n_flb) AS BIGINT) AS own
  FROM cnt_f GROUP BY fold, lang
), grid AS (
  SELECT f.range AS fold, t.lang, bb.range AS b,
         t.tot - COALESCE(o.own, 0) AS tot_train
  FROM range({CV_FOLDS}) f
  CROSS JOIN tot_l t
  CROSS JOIN range({NB_BUCKETS}) bb
  LEFT JOIN own_fl o ON o.fold = f.range AND o.lang = t.lang
), w AS (
  SELECT g.fold, g.lang AS model_lang, g.b,
         CAST(ROUND(ln(CAST(COALESCE(c.n_lb, 0) - COALESCE(cf.n_flb, 0) + 1
                            AS DOUBLE)
                       / CAST(g.tot_train + {NB_BUCKETS} AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS wu
  FROM grid g
  LEFT JOIN cnt_lb c ON c.lang = g.lang AND c.b = g.b
  LEFT JOIN cnt_f cf ON cf.fold = g.fold AND cf.lang = g.lang
                    AND cf.b = g.b
), nd_l AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd FROM docs GROUP BY lang
), nd_fl AS (
  SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS nd_own
  FROM docs GROUP BY fold, lang
), pri_grid AS (
  SELECT f.range AS fold, l.lang,
         l.nd - COALESCE(o.nd_own, 0) AS nd_train
  FROM range({CV_FOLDS}) f
  CROSS JOIN nd_l l
  LEFT JOIN nd_fl o ON o.fold = f.range AND o.lang = l.lang
), pri AS (
  SELECT fold, lang AS model_lang,
         CAST(ROUND(ln(CAST(nd_train AS DOUBLE)
                       / CAST(SUM(nd_train) OVER (PARTITION BY fold)
                              AS DOUBLE)) * 1000000.0) AS BIGINT) AS pu
  FROM pri_grid
), scored AS (
  SELECT t.doc_id, t.fold, t.lang AS true_lang, w.model_lang,
         CAST(SUM(w.wu) AS BIGINT) AS s
  FROM toks t JOIN w ON w.fold = t.fold AND w.b = t.b
  GROUP BY t.doc_id, t.fold, t.lang, w.model_lang
), final AS (
  SELECT s.doc_id, s.fold, s.true_lang, s.model_lang,
         s.s + p.pu AS score,
         ROW_NUMBER() OVER (PARTITION BY s.doc_id
                            ORDER BY s.s + p.pu DESC, s.model_lang ASC)
           AS rn
  FROM scored s JOIN pri p ON p.fold = s.fold
                          AND p.model_lang = s.model_lang
)
SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN model_lang = true_lang THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       ROUND(CAST(SUM(CASE WHEN model_lang = true_lang THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS acc
FROM final
WHERE rn = 1
GROUP BY fold
ORDER BY fold
"""


# --------------------------------------------------------------------------
# Term burstiness — Church-Gale dispersion vs the Poisson baseline
# --------------------------------------------------------------------------

BURST_TOPK = 20


def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale burstiness of the top-{BURST_TOPK} terms: a
    Poisson word with collection frequency cf should appear in
    ≈ D·(1−e^(−cf/D)) documents; CONTENT words land in far fewer
    (they cluster — 'bursty'), function words hit the baseline.
    burst_ratio = observed df / Poisson-expected df, and
    mean_per_doc = cf/df is the within-document clustering. The
    term-level dispersion diagnostic next to the corpus-level
    ``lexical_richness_profile`` — the signal TF-IDF and stop-word
    lists approximate.

    Scale: one (doc, term) rollup → one term rollup (both
    map-combined); the exp/ratio arithmetic runs on the top-k frame
    only. Exactness: cf, df, D are exact BIGINTs; the three ratios
    are per-row double expressions on the 20-row frame, textually
    mirrored in the oracle."""
    dt = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
        )
        .filter(F.length("term") > 0)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    terms = dt.groupBy("term").agg(
        F.sum("c").alias("cf"), F.count(F.lit(1)).alias("df")
    )
    d_tot = dt.agg(F.countDistinct("doc_id").alias("d"))
    top = (
        terms.orderBy(F.desc("cf"), F.asc("term"))
        .limit(BURST_TOPK)
        .crossJoin(F.broadcast(d_tot))
    )
    poisson_df = F.col("d").cast("double") * (
        1.0
        - F.exp(
            -F.col("cf").cast("double") / F.col("d").cast("double")
        )
    )
    return top.select(
        "term",
        "cf",
        "df",
        F.round(
            F.col("cf").cast("double") / F.col("df").cast("double"), 6
        ).alias("mean_per_doc"),
        F.round(poisson_df, 2).alias("poisson_df"),
        F.round(F.col("df").cast("double") / poisson_df, 6).alias(
            "burst_ratio"
        ),
    ).orderBy(F.desc("cf"), F.asc("term"))


ORACLE_TERM_BURSTINESS = f"""
WITH dt AS (
  SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents, UNNEST(string_split(text, ' ')) u(tok)
  WHERE length(tok) > 0
  GROUP BY doc_id, tok
), terms AS (
  SELECT term, CAST(SUM(c) AS BIGINT) AS cf,
         CAST(COUNT(*) AS BIGINT) AS df
  FROM dt GROUP BY term
), d_tot AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d FROM dt
), top AS (
  SELECT term, cf, df, d
  FROM terms CROSS JOIN d_tot
  ORDER BY cf DESC, term ASC LIMIT {BURST_TOPK}
)
SELECT term, cf, df,
       ROUND(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS mean_per_doc,
       ROUND(CAST(d AS DOUBLE)
             * (1.0 - exp(-CAST(cf AS DOUBLE) / CAST(d AS DOUBLE))), 2)
         AS poisson_df,
       ROUND(CAST(df AS DOUBLE)
             / (CAST(d AS DOUBLE)
                * (1.0 - exp(-CAST(cf AS DOUBLE) / CAST(d AS DOUBLE)))), 6)
         AS burst_ratio
FROM top
ORDER BY cf DESC, term ASC
"""


# --------------------------------------------------------------------------
# Dunning G² keyness — what makes one source SOUND different
# --------------------------------------------------------------------------

KEYNESS_SRC_A = "src0"
KEYNESS_SRC_B = "src1"
KEYNESS_TOPK = 20


def g2_keyness_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood (G²) keyness of '{KEYNESS_SRC_A}' vs
    '{KEYNESS_SRC_B}': the corpus-linguistics standard for "which
    words characterize THIS source" — per term, the 2×2 G² of
    (count in A, count in B) against the pooled expectation, signed
    by which side overuses it. Robust at low counts where the χ²
    approximation breaks (Dunning 1993) — exactly the regime of
    interesting keywords. Top {KEYNESS_TOPK} terms by G².

    Scale: one (source, term) rollup filtered to the two sources;
    all statistics are per-term expressions on the vocabulary
    frame; the two corpus totals broadcast as one row.

    Exactness: counts exact BIGINT; each term's G² is one
    deterministic IEEE expression (x·ln(x/E) terms over exact
    integers-in-double), ranked with a count/term tie-break."""
    c_st = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isin(KEYNESS_SRC_A, KEYNESS_SRC_B))
        .select(
            (F.col("source") == KEYNESS_SRC_A).alias("is_a"),
            F.explode(tokens_col(F.col("text"))).alias("term"),
        )
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(
            F.sum(F.col("is_a").cast("long")).alias("a"),
            F.sum((~F.col("is_a")).cast("long")).alias("b"),
        )
    )
    tot = c_st.agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb")
    )
    j = c_st.crossJoin(F.broadcast(tot))
    a = F.col("a").cast("double")
    b = F.col("b").cast("double")
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    ea = na * (a + b) / (na + nb)
    eb = nb * (a + b) / (na + nb)
    # x·ln(x/E) with the 0·ln0 = 0 convention
    term_a = F.when(F.col("a") > 0, a * F.log(a / ea)).otherwise(0.0)
    term_b = F.when(F.col("b") > 0, b * F.log(b / eb)).otherwise(0.0)
    g2 = 2.0 * (term_a + term_b)
    return (
        j.select(
            "term",
            "a",
            "b",
            F.round(g2, 6).alias("g2"),
            F.when(a / na >= b / nb, F.lit(KEYNESS_SRC_A))
            .otherwise(F.lit(KEYNESS_SRC_B))
            .alias("overused_in"),
        )
        .orderBy(F.desc("g2"), F.asc("term"))
        .limit(KEYNESS_TOPK)
    )


ORACLE_G2_KEYNESS = f"""
WITH c_st AS (
  SELECT tok AS term,
         CAST(SUM(CASE WHEN source = '{KEYNESS_SRC_A}' THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN source = '{KEYNESS_SRC_B}' THEN 1 ELSE 0 END)
              AS BIGINT) AS b
  FROM documents, UNNEST(string_split(text, ' ')) u(tok)
  WHERE source IN ('{KEYNESS_SRC_A}', '{KEYNESS_SRC_B}')
    AND length(tok) > 0
  GROUP BY tok
), tot AS (
  SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
  FROM c_st
)
SELECT term, a, b,
       ROUND(2.0 * (
         CASE WHEN a > 0 THEN CAST(a AS DOUBLE)
              * ln(CAST(a AS DOUBLE)
                   / (CAST(na AS DOUBLE) * (CAST(a AS DOUBLE) + b)
                      / (CAST(na AS DOUBLE) + nb))) ELSE 0.0 END
         + CASE WHEN b > 0 THEN CAST(b AS DOUBLE)
              * ln(CAST(b AS DOUBLE)
                   / (CAST(nb AS DOUBLE) * (CAST(a AS DOUBLE) + b)
                      / (CAST(na AS DOUBLE) + nb))) ELSE 0.0 END), 6)
         AS g2,
       CASE WHEN CAST(a AS DOUBLE) / CAST(na AS DOUBLE)
                 >= CAST(b AS DOUBLE) / CAST(nb AS DOUBLE)
            THEN '{KEYNESS_SRC_A}' ELSE '{KEYNESS_SRC_B}' END
         AS overused_in
FROM c_st CROSS JOIN tot
ORDER BY g2 DESC, term ASC
LIMIT {KEYNESS_TOPK}
"""


# --------------------------------------------------------------------------
# Vocabulary accumulation — the marginal coverage of each added source
# --------------------------------------------------------------------------


def vocab_accumulation_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary accumulation curve over sources in deterministic
    (name) order: after admitting sources 1..k, how many distinct
    terms are covered, and how many did source k ADD — the
    coverage-based marginal value of a source
    (``loo_source_valuation`` prices loss; this prices NEW
    vocabulary, the thing dedup can't recover once a source is
    dropped). A flat tail says the next sources buy nothing.

    The accumulation trick: each term attributes to its FIRST
    source in the ordering (one min-aggregate), so the whole curve
    is one rollup + a cumulative window over ≤|sources| rows —
    never k passes over the corpus.

    Exactness: everything is exact BIGINT counts; the one double is
    the coverage share."""
    first = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source", F.explode(tokens_col(F.col("text"))).alias("term")
        )
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.min("source").alias("first_source"))
    )
    gained = first.groupBy(F.col("first_source").alias("source")).agg(
        F.count(F.lit(1)).alias("new_terms")
    )
    w_cum = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    return gained.select(
        "source",
        "new_terms",
        F.sum("new_terms").over(w_cum).alias("cum_vocab"),
        F.round(
            F.sum("new_terms").over(w_cum).cast("double")
            / F.sum("new_terms").over(w_all).cast("double"),
            6,
        ).alias("coverage_share"),
    ).orderBy("source")


ORACLE_VOCAB_ACCUMULATION = """
WITH first AS (
  SELECT tok AS term, MIN(source) AS first_source
  FROM documents, UNNEST(string_split(text, ' ')) u(tok)
  WHERE length(tok) > 0
  GROUP BY tok
), gained AS (
  SELECT first_source AS source, CAST(COUNT(*) AS BIGINT) AS new_terms
  FROM first GROUP BY first_source
)
SELECT source, new_terms,
       CAST(SUM(new_terms) OVER (ORDER BY source) AS BIGINT) AS cum_vocab,
       ROUND(CAST(SUM(new_terms) OVER (ORDER BY source) AS DOUBLE)
             / CAST(SUM(new_terms) OVER () AS DOUBLE), 6)
         AS coverage_share
FROM gained
ORDER BY source
"""


QUERIES: dict[str, QuerySpec] = {
    "vocab_accumulation_sources": QuerySpec(
        vocab_accumulation_sources,
        ORACLE_VOCAB_ACCUMULATION,
        ["X-text", "X-curation", "A1", "§2.8"],
    ),
    "g2_keyness_sources": QuerySpec(
        g2_keyness_sources,
        ORACLE_G2_KEYNESS,
        ["X-text", "X-curation", "A1", "T1"],
    ),
    "term_burstiness": QuerySpec(
        term_burstiness,
        ORACLE_TERM_BURSTINESS,
        ["X-text", "X-curation", "A1", "T1"],
    ),
    "kfold_nb_cv": QuerySpec(
        kfold_nb_cv,
        ORACLE_KFOLD_NB_CV,
        ["X-text", "X-training", "A1", "J1", "§2.8"],
    ),
    "lexical_richness_profile": QuerySpec(
        lexical_richness_profile,
        ORACLE_LEXICAL_RICHNESS,
        ["X-text", "X-curation", "A1", "A4"],
    ),
    "jsd_source_divergence": QuerySpec(
        jsd_source_divergence,
        ORACLE_JSD_SOURCES,
        ["X-text", "X-dedup", "X-curation", "A1", "J1"],
    ),
    "positional_phrase_search": QuerySpec(
        positional_phrase_search,
        ORACLE_PHRASE_SEARCH,
        ["S5", "X-text", "J3", "A8", "T1"],
    ),
    "kneser_ney_surprisal": QuerySpec(
        kneser_ney_surprisal,
        ORACLE_KNESER_NEY,
        ["X-text", "X-curation", "A1", "T1"],
    ),
    "loo_source_valuation": QuerySpec(
        loo_source_valuation,
        ORACLE_LOO_SOURCE_VALUATION,
        ["X-text", "X-curation", "A1", "A5"],
    ),
    "negative_sampling_table": QuerySpec(
        negative_sampling_table,
        ORACLE_NEG_TABLE,
        ["X-text", "X-training", "§2.8", "T1"],
    ),
    "skipgram_pairs": QuerySpec(
        skipgram_pairs, ORACLE_SKIPGRAM_PAIRS, ["X-text", "X-training", "F2"]
    ),
    "roc_auc_langid": QuerySpec(
        roc_auc_langid, ORACLE_ROC_AUC_LANGID, ["X-text", "X-curation", "A4"]
    ),
    "pr_curve_langid": QuerySpec(
        pr_curve_langid, ORACLE_PR_CURVE, ["X-text", "X-curation", "A4"]
    ),
    "mcnemar_langid": QuerySpec(
        mcnemar_langid, ORACLE_MCNEMAR, ["X-text", "X-curation", "A4"]
    ),
    "heaps_law_fit": QuerySpec(
        heaps_law_fit, ORACLE_HEAPS_LAW, ["X-text", "X-curation", "A1", "F2"]
    ),
    "chi2_feature_select": QuerySpec(
        chi2_feature_select,
        ORACLE_CHI2_SELECT,
        ["X-text", "X-curation", "A1", "T1"],
    ),
    "naive_bayes_langid": QuerySpec(
        naive_bayes_langid,
        ORACLE_NAIVE_BAYES,
        ["X-text", "X-curation", "A1", "J1", "F2"],
    ),
    "isotonic_calibration_langid": QuerySpec(
        isotonic_calibration_langid,
        ORACLE_ISOTONIC_CALIBRATION,
        ["X-text", "X-curation", "A1", "P16"],
    ),
    "calibration_bins_langid": QuerySpec(
        calibration_bins_langid,
        ORACLE_CALIBRATION_BINS,
        ["X-text", "X-curation", "A1"],
    ),
    "ngram_index_search": QuerySpec(
        ngram_index_search,
        ORACLE_NGRAM_INDEX_SEARCH,
        ["S5", "X-text", "A8", "J6"],
    ),
    "rrf_fuse_search": QuerySpec(
        rrf_fuse_search, ORACLE_RRF_FUSE, ["X-text", "A1", "J1", "T1"]
    ),
    "feature_hashing": QuerySpec(
        feature_hashing,
        ORACLE_FEATURE_HASHING,
        ["X-text", "X-training", "A1", "T1"],
    ),
    "dsir_importance_weights": QuerySpec(
        dsir_importance_weights,
        ORACLE_DSIR,
        ["X-text", "X-curation", "A1", "J1", "T1"],
    ),
    "vocab_coverage_curve": QuerySpec(
        vocab_coverage_curve,
        ORACLE_VOCAB_COVERAGE,
        ["X-text", "X-training", "A1", "§2.8"],
    ),
    "pmi_top_pairs": QuerySpec(
        pmi_top_pairs, ORACLE_PMI, ["X-text", "A1", "J1", "T1"]
    ),
    "good_turing_mass": QuerySpec(
        good_turing_mass,
        ORACLE_GOOD_TURING,
        ["X-text", "X-curation", "A1", "A4", "J1"],
    ),
    "burrows_delta_sources": QuerySpec(
        burrows_delta_sources,
        ORACLE_BURROWS_DELTA,
        ["X-text", "X-dedup", "A1", "§2.8", "J1", "T1"],
    ),
    "bm25_search": QuerySpec(
        bm25_search, ORACLE_BM25_SEARCH, ["X-text", "A1", "J1", "T1"]
    ),
    "bm25_maxscore_prune": QuerySpec(
        bm25_maxscore_prune,
        ORACLE_BM25_MAXSCORE,
        ["X-text", "A1", "A3", "J1", "§2.8"],
    ),
    "boilerplate_chunks": QuerySpec(
        boilerplate_chunks,
        ORACLE_BOILERPLATE_CHUNKS,
        ["X-text", "X-dedup", "X-curation", "A1", "A6"],
    ),
    "doc_chunking": QuerySpec(
        doc_chunking, ORACLE_DOC_CHUNKING, ["X-text", "X-curation", "F1"]
    ),
    "lm_surprisal": QuerySpec(
        lm_surprisal, ORACLE_LM_SURPRISAL, ["X-text", "X-curation", "A1", "J1"],
        bench=True,
    ),
    "pii_scrub": QuerySpec(pii_scrub, ORACLE_PII_SCRUB, ["X-text", "X-curation"]),
    "repetition_stats": QuerySpec(
        repetition_stats, ORACLE_REPETITION_STATS, ["X-text", "X-curation"]
    ),
    "char_ngram_profile": QuerySpec(
        char_ngram_profile, ORACLE_CHAR_NGRAM_PROFILE, ["X-text", "A1"]
    ),
    "token_count_bpe": QuerySpec(
        token_count_bpe, ORACLE_TOKEN_COUNT_BPE, ["X-text"]
    ),
    "text_quality_scores": QuerySpec(
        text_quality_scores, ORACLE_TEXT_QUALITY, ["X-text"], bench=True
    ),
    "langid_heuristic": QuerySpec(langid_heuristic, ORACLE_LANGID, ["X-text"]),
    "cohens_kappa_langid": QuerySpec(
        cohens_kappa_langid, ORACLE_COHENS_KAPPA, ["X-text", "A1", "A4"]
    ),
    "brier_decomposition": QuerySpec(
        brier_decomposition,
        ORACLE_BRIER_DECOMPOSITION,
        ["X-text", "A1", "A4", "A5"],
    ),
    "source_diversity_index": QuerySpec(
        source_diversity_index,
        ORACLE_SOURCE_DIVERSITY,
        ["X-text", "X-curation", "A1", "A5"],
    ),
    "token_frequency_topk": QuerySpec(
        token_frequency_topk, ORACLE_TOKEN_FREQUENCY, ["X-text", "A1"]
    ),
    "doc_fingerprints": QuerySpec(
        doc_fingerprints, ORACLE_DOC_FINGERPRINTS, ["X-text"]
    ),
    "lang_source_profile": QuerySpec(
        lang_source_profile, ORACLE_LANG_SOURCE_PROFILE, ["X-text", "A1"]
    ),
    "tfidf_top_terms": QuerySpec(
        tfidf_top_terms, ORACLE_TFIDF, ["X-text", "A1", "J1"]
    ),
}
