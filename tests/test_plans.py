"""Physical-plan hygiene tests (SURVEY.md §4): the 100 TB posture is
a property of the plans, not a comment — so assert it. Each check
reads `.explain("formatted")` output:

- filters/projections reach the parquet scan (PushedFilters /
  ReadSchema pruning),
- small dims broadcast (BroadcastHashJoin, no shuffle of the fact),
- top-k plans fuse to TakeOrderedAndProject (no full sort),
- hot paths run inside WholeStageCodegen.
"""

from __future__ import annotations

import contextlib
import io


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_medium):
    from cricket_analytics_nosql_spark.operators.relational import (
        pricing_summary,
    )

    plan = plan_of(pricing_summary(spark, sf_medium))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, sf_medium):
    from cricket_analytics_nosql_spark.operators.relational import (
        top_revenue_customers,
    )

    plan = plan_of(top_revenue_customers(spark, sf_medium))
    # lineitem scan must read only the join key + pricing columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "l_orderkey" in ln]
    assert read, plan
    schema_line = read[0]
    for unneeded in ("l_comment", "l_shipdate", "l_partkey", "l_quantity"):
        assert unneeded not in schema_line, schema_line


def test_dim_join_broadcasts(spark, sf_medium):
    from cricket_analytics_nosql_spark.operators.relational import (
        top_revenue_customers,
    )

    plan = plan_of(top_revenue_customers(spark, sf_medium))
    assert "BroadcastHashJoin" in plan


def test_topk_fuses_to_take_ordered(spark, sf_medium):
    from cricket_analytics_nosql_spark.operators.relational import (
        top_revenue_customers,
    )

    plan = plan_of(top_revenue_customers(spark, sf_medium))
    assert "TakeOrderedAndProject" in plan
    # the limit must not plan a global Sort node
    assert "\n   Sort " not in plan


def test_hot_path_is_codegened(spark, sf_medium):
    """AQE defers physical planning, so codegen subtrees only appear
    pre-execution with AQE off — flip it just for the inspection."""
    from cricket_analytics_nosql_spark.operators.relational import (
        pricing_summary,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = pricing_summary(spark, sf_medium)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("codegen")
        head = buf.getvalue().splitlines()[0]
        n = int(head.split("Found ")[1].split(" WholeStageCodegen")[0])
        assert n >= 2, head  # scan+filter+partial-agg span, final-agg span
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_partial_aggregation_before_shuffle(spark, sf_medium):
    """The groupBy must plan partial (map-side) + final hash agg —
    the shuffle carries combined partials, not raw rows."""
    from cricket_analytics_nosql_spark.operators.relational import (
        pricing_summary,
    )

    plan = plan_of(pricing_summary(spark, sf_medium))
    assert plan.count("HashAggregate") >= 2


def test_ann_broadcasts_queries_not_vectors(spark, sf_medium):
    from cricket_analytics_nosql_spark.operators.similarity import (
        ann_brute_force,
    )

    plan = plan_of(ann_brute_force(spark, sf_medium))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_explode_flatten_is_narrow(spark):
    """The 3-level cricket flatten must contain no Exchange — it is
    a pure narrow pipeline (scan speed at 100 TB)."""
    import json

    from cricket_analytics_nosql_spark.operators.etl import flatten_deliveries
    from cricket_analytics_nosql_spark.sources.cricsheet import (
        CRICSHEET_SCHEMA,
    )

    doc = {
        "info": {"match_id": "M1", "dates": ["2021-01-01"]},
        "innings": [],
    }
    df = spark.createDataFrame([(json.dumps(doc),)], "s string")
    raw = spark.read.schema(CRICSHEET_SCHEMA).json(df.rdd.map(lambda r: r.s))
    plan = plan_of(flatten_deliveries(raw))
    assert "Exchange" not in plan


def test_partitioned_sink_prunes_partitions(spark, sf_medium, tmp_path):
    """S5: a key filter over the partitioned layout must prune at
    the directory level (PartitionFilters), not post-scan."""
    from cricket_analytics_nosql_spark.operators.sinks import write_partitioned
    from cricket_analytics_nosql_spark.sources.tables import load_table

    li = load_table(spark, sf_medium, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    out = str(tmp_path / "by_flag")
    write_partitioned(li, out, "l_returnflag")
    import pyspark.sql.functions as F

    df = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    plan = plan_of(df)
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan
    assert df.count() == li.filter(F.col("l_returnflag") == "R").count()


def test_bucketed_join_has_no_exchange(spark, sf_medium):
    """S5 co-location: same-bucketed tables must sort-merge join
    with zero Exchange — the write-once shuffle replaces the
    per-query one."""
    import pyspark.sql.functions as F

    from cricket_analytics_nosql_spark.operators.sinks import write_bucketed
    from cricket_analytics_nosql_spark.sources.tables import load_table

    li = load_table(spark, sf_medium, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = load_table(spark, sf_medium, "orders").select(
        "o_orderkey", "o_custkey"
    )
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    write_bucketed(li, "li_bucketed", 8, "l_orderkey")
    write_bucketed(orders, "orders_bucketed", 8, "o_orderkey")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_bucketed").join(
            spark.table("orders_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def test_regional_revenue_single_fact_pass(spark, sf_medium):
    """Q5 shape: the lineitem fact must flow through stacked
    BroadcastHashJoins without ever being exchanged — the only
    shuffles allowed are the final aggregation and the result sort."""
    from cricket_analytics_nosql_spark.operators.analytics import (
        regional_revenue,
    )

    plan = plan_of(regional_revenue(spark, sf_medium))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # formatted explain lists each node twice (tree + detail); count
    # the detail entries, e.g. "(31) Exchange"
    import re

    shuffle_exchanges = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffle_exchanges) <= 2, plan
    # date window + column pruning reach the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan


def test_grouping_sets_single_expand(spark, sf_medium):
    from cricket_analytics_nosql_spark.operators.analytics import (
        grouping_sets_agg,
    )

    import re

    plan = plan_of(grouping_sets_agg(spark, sf_medium))
    assert len(re.findall(r"\(\d+\) Expand\b", plan)) == 1, plan


def test_no_driver_side_data_paths():
    """100 TB posture, enforced: no operator/plan/streaming module
    may materialize data on the driver (.collect/.toPandas/driver
    loops). O(1)-scalar reads (Observation results, min/max bounds)
    are the only exception, whitelisted explicitly."""
    import os
    import re

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "cricket_analytics_nosql_spark",
    )
    # (file, pattern) -> max allowed occurrences. The CAP is the
    # enforcement: a new collect site added anywhere in an exempted
    # file still trips the gate and must be justified here.
    allowed = {
        # O(1) time-bounds scalar for the stream replay harness
        ("streaming/events.py", ".first()"): 1,
        # O(1) min/max bounds for Z-order dimension rescaling
        ("operators/layout.py", ".first()"): 2,
        # O(1) argmax pair per BPE merge iteration (becomes a plan
        # literal) — never data rows
        ("operators/bpe.py", ".first()"): 1,
        # O(d)-scalar gradient vector per logreg GD iteration (3
        # doubles, becomes next iteration's plan literals) — the
        # allreduce step of distributed training, never data rows
        ("operators/training.py", ".collect()"): 1,
        # Bounded-metadata reads only, each independent of corpus
        # size: the 256·k-row quantizer train sample (_train_sample,
        # the FAISS-style fixed-size train set, ~2 MB at k=16),
        # k-row centroid / m·k-row codebook frames (become plan
        # literals for the shuffle-free argmin assignment), and
        # 1-row audit stats aggregates — never data rows
        ("operators/similarity.py", ".collect()"): 6,
    }
    bad = []
    for sub in ("operators", "plans", "streaming", "functions", "sources"):
        d = os.path.join(root, sub)
        for fname in os.listdir(d):
            if not fname.endswith(".py"):
                continue
            rel = f"{sub}/{fname}"
            src = open(os.path.join(d, fname)).read()
            # strip comments and docstrings so prose mentions don't trip
            src = re.sub(r'"""[\s\S]*?"""', "", src)
            src = re.sub(r"#[^\n]*", "", src)
            for pat in (".collect()", ".toPandas()", ".first()"):
                n = src.count(pat)
                if n > allowed.get((rel, pat), 0):
                    bad.append((rel, pat, n, allowed.get((rel, pat), 0)))
    assert not bad, (
        f"driver-side materialization beyond the per-site budget "
        f"(file, pattern, found, allowed): {bad}"
    )


def test_asof_join_single_shuffle_no_join(spark, sf_medium):
    """The as-of join must compile to the union-tag running-window
    plan: exactly ONE hash Exchange (on user_id) and NO join node —
    a range join would pair every purchase with all prior clicks of
    the same (skewed) user before pruning."""
    import re

    from cricket_analytics_nosql_spark.operators.joins import asof_join

    plan = plan_of(asof_join(spark, sf_medium))
    assert "Join" not in plan, plan
    hash_exchanges = re.findall(r"hashpartitioning\(user_id", plan)
    assert len(hash_exchanges) == 1, plan
    # the only other Exchange is the final presentation sort
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2, plan
    assert "Window" in plan, plan


def test_embedding_dedup_has_no_cartesian(spark, sf_medium):
    """The exact cosine threshold join must block through IVF-cell
    equi-joins — no CartesianProduct over the vector table. (The only
    nested-loop join allowed is the k×k cell-pair candidate table.)"""
    from cricket_analytics_nosql_spark.operators.similarity import (
        dedup_embedding_cosine,
    )

    plan = plan_of(dedup_embedding_cosine(spark, sf_medium))
    assert "CartesianProduct" not in plan, plan


def test_sampling_queries_prune_and_stay_narrow(spark, sf_medium):
    """Curation ops: the stratified-sample filter must be a narrow
    predicate over a pruned scan (no text column read, no exchange
    before the audit aggregation's own shuffle)."""
    from cricket_analytics_nosql_spark.operators.sampling import (
        docs_length_trim,
        sample_stratified_docs,
    )

    plan = plan_of(sample_stratified_docs(spark, sf_medium))
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads and all("text" not in ln for ln in reads), plan
    plan2 = plan_of(docs_length_trim(spark, sf_medium))
    reads2 = [ln for ln in plan2.splitlines() if "ReadSchema" in ln]
    assert reads2 and all("text" not in ln for ln in reads2), plan2
    # quantile bounds come back via a broadcast join, fact never shuffles
    assert "BroadcastHashJoin" in plan2, plan2


def test_pipeline_match_pushdown_reaches_scan(spark, sf_medium):
    """A $match submitted through the Mongo-pipeline compiler must
    reach the parquet scan as PushedFilters — proof that compiled
    pipelines get full Catalyst treatment."""
    from cricket_analytics_nosql_spark.plans.mongo_pipeline import (
        compile_pipeline,
    )
    from cricket_analytics_nosql_spark.sources.tables import load_table

    df = compile_pipeline(
        load_table(spark, sf_medium, "lineitem"),
        [
            {"$match": {"l_returnflag": "R"}},
            {"$group": {"_id": "$l_suppkey", "n": {"$sum": 1}}},
        ],
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]" in plan
    # column pruning crossed the stage boundary too
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read


def test_training_split_is_narrow_pruned(spark, sf_medium):
    """Training-export ops: the split audit reads only the 3 columns
    it needs (never text) and its only exchange is the audit
    aggregation's own; the mixture resample brings keep-rates back
    via broadcast so the fact side never shuffles."""
    from cricket_analytics_nosql_spark.operators.training import (
        domain_mixture_resample,
        train_val_test_split,
    )

    import re

    plan = plan_of(train_val_test_split(spark, sf_medium))
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads and all("text" not in ln for ln in reads), plan
    # partial→final agg + presentation sort, nothing else
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    plan2 = plan_of(domain_mixture_resample(spark, sf_medium))
    assert "BroadcastHashJoin" in plan2, plan2
    reads2 = [ln for ln in plan2.splitlines() if "ReadSchema" in ln]
    assert reads2 and all("text" not in ln for ln in reads2), plan2


def test_pii_scrub_no_exchange(spark, sf_medium):
    """PII scrubbing is a pure scan-stage map: regex expressions in
    one codegen span, zero exchanges anywhere in the plan."""
    from cricket_analytics_nosql_spark.operators.text import pii_scrub

    df = pii_scrub(spark, sf_medium)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    head = buf.getvalue().splitlines()[0]
    n = int(head.split("Found ")[1].split(" WholeStageCodegen")[0])
    assert n >= 1, head


def test_pack_sequences_single_stream_exchange(spark, sf_medium):
    """Sequence packing: exactly one exchange partitions the
    (lang, shard) streams; the running cumsum and the per-sequence
    rollup both reuse that clustering (the rollup keys are a
    superset of the window partition keys)."""
    from cricket_analytics_nosql_spark.operators.training import pack_sequences

    import re

    plan = plan_of(pack_sequences(spark, sf_medium))
    # stream exchange + final presentation sort; the groupBy must NOT
    # add a third shuffle between them
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_funnel_single_fact_shuffle(spark, sf_medium):
    """The 3-stage funnel must ride ONE exchange of events on
    user_id: chained window-mins plus the per-user rollup all reuse
    that clustering; the only other exchange is the 1-row global
    aggregate's SinglePartition collect."""
    from cricket_analytics_nosql_spark.operators.analytics import (
        funnel_conversion,
    )

    import re

    plan = plan_of(funnel_conversion(spark, sf_medium))
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_snapshot_diff_copartitioned_single_join(spark, sf_medium):
    """The snapshot diff is one co-partitioned join: both sides
    exchange on the key once, and the status classification adds no
    further shuffle before the audit aggregate."""
    from cricket_analytics_nosql_spark.operators.versioning import dataset_diff

    import re

    plan = plan_of(dataset_diff(spark, sf_medium))
    joins = re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)", plan)
    assert len(joins) == 1, plan


def test_scd2_join_single_shuffle_no_join(spark, sf_medium):
    """The SCD2 point-in-time join must compile like the as-of join:
    union-tag stream, ONE hash Exchange on the supplier key, no join
    node — an interval join would pair hot suppliers with every
    version before pruning."""
    import re

    from cricket_analytics_nosql_spark.operators.joins import (
        scd2_pointintime_join,
    )

    plan = plan_of(scd2_pointintime_join(spark, sf_medium))
    assert "Join" not in plan, plan
    assert len(re.findall(r"hashpartitioning\(k", plan)) == 1, plan


def test_no_cartesian_products_across_catalog(spark, sf_small):
    """Catalog-wide 100 TB hygiene gate: NO query may plan a
    CartesianProduct, and BroadcastNestedLoopJoin is allowed only
    where it is the design (ann_brute_force broadcasts a tiny query
    set against the fact by construction). Streaming queries are
    excluded (building them executes a stream); sink round-trips
    execute their writes, which explain() tolerates."""
    from cricket_analytics_nosql_spark.catalog import all_queries

    # BNLJ is legitimate exactly where the broadcast side is
    # metadata-sized by construction: ANN/IVF centroid or query-set
    # probes, the k×k cell-pair candidate table, 1-row global
    # aggregates crossed back onto results, the |sources| rates
    # frame, and the range join's bounds table.
    bnlj_by_design = {
        # 1-row broadcast of the count scalar (n) onto the d² cell
        # frame — bounded by construction, same as the recall audit
        "embedding_covariance_topk",
        "ann_brute_force",
        "ann_ivf",
        "ann_ivf_kmeans",
        # recall audits: brute-force query-set broadcast + 1-row
        # flags×stats cross — both metadata-sized by construction
        "ann_lsh",
        "dedup_simhash",
        # anchor/benchmark-set broadcasts (8 rows by construction)
        "hard_negative_mining",
        "semantic_decontaminate",
        # PQ: query-LUT (1024-row) + codebook broadcasts + the
        # brute-force truth arm of the audit
        "ann_pq",
        # 1-row quartile-cutoffs frame crossed onto the doc stream
        "curriculum_order",
        "knn_graph",
        "dedup_embedding_cosine",
        "tfidf_top_terms",
        "range_join",
        "graph_triangles",
        "heavy_hitters",
        "domain_mixture_resample",
        # 3-row method-flags frame × broadcast 1-row ground-truth stats
        "ann_recall_audit",
        # 1-row global bounds / totals crossed back onto the fact stream
        "value_histogram",
        "market_basket_lift",
        "rfm_segments",
        "hll_rollup_distinct",
        "bm25_search",
        # drift/ranking family: 1-row totals (n_a·n_b, digit total,
        # BM25 corpus stats, viewer count, corpus token mass, global
        # bin totals) crossed onto bounded frames
        "ks_drift_orders",
        "benford_first_digit",
        "rrf_fuse_search",
        "time_to_convert_stats",
        "psi_value_drift",
        "token_entropy_kl",
        "lorenz_deciles",
        "embedding_collapse_audit",
        "mad_outlier_orders",
        "cusum_changepoint",
        "decayed_user_value",
        "activity_heatmap",
        "degree_distribution",
        "key_skew_profile",
        # $search's broadcast of the 1-row BM25 corpus stats frame
        "mongo_pipeline_search",
        # 1-row (Nt, Nr) token-mass totals crossed onto the
        # ≤256-row bucket-stats frame before the broadcast join
        "dsir_importance_weights",
        # calendar² pair join: the day frame is bounded by the
        # CALENDAR (≈2.4k rows at any SF), so days² is scale-free
        "theil_sen_trend",
        # grid² pair join: the contingency rollup is bounded by the
        # 11-tick discount × 50-integer quantity GRID (≤550 cells at
        # any SF) + the 1-row tie-count crosses
        "kendall_tau_discount_qty",
        # PAV min-max identity: span pairs grid²-, span membership
        # grid³-bounded — the bin grid is score-range/width (≤21
        # bins at ANY SF)
        "isotonic_calibration_langid",
        # 9-row decile / 1-row quartile / 4-row coverage-target
        # frames crossed onto grid-sized rollups
        "quantile_treatment_effect",
        "sax_revenue_motifs",
        "vocab_coverage_curve",
        # 1-row bigram-mass total onto the PMI candidate frame;
        # 1-row q-hat broadcast onto the eval half of the series
        "pmi_top_pairs",
        "conformal_forecast_interval",
        # 1-row order-count total onto the <=max-lines histogram
        "basket_lines_histogram",
        "anova_weekday_revenue",
        # per-table 1-row (before, deleted) count pairs crossed into
        # the 4-row audit
        "forget_users_cascade",
        # 1-row query broadcast onto the relevance scan + pool²
        # candidate pairs (≤12 rows by construction)
        "mmr_diverse_topk",
        # 1-row count crossed onto the d² covariance cell frame
        # (the embedding_covariance_topk shape)
        "pca_top_component",
        # round-7 additions, all the 1-row scalar-broadcast idiom:
        # 1-row bigram-type total B onto the vocab²-bounded stats
        # frame (never the corpus stream)
        "kneser_ney_surprisal",
        # 1-row (N, S) corpus totals onto the |sources| frame
        "loo_source_valuation",
        # 1-row (n_total, w_total) onto the |sources| frame
        "temperature_mixture_alloc",
        # 1-row match/all pair denominators onto 1-row per-field
        # agreement numerators (3 rows out)
        "fellegi_sunter_weights",
        # 1-row pooled-moments frame onto the 2-row arm frame
        "cuped_adjusted_ab",
        # calendar-bounded candidate grid × day rollup (the
        # theil_sen days² posture) + 1-row global-SSE cross
        "ols_break_scan",
        # 1-row name-count + 1-row truth-stats frames onto 1-row
        # per-scheme candidate counts (3 rows out)
        "blocking_quality_audit",
        # 1-row token-mass total crossed onto the vocabulary frame
        # (subsample thresholds / per-source loss rollup)
        "skipgram_pairs",
        "doremi_mixture_weights",
        # 3-row quantile-target frame × bin/value rollups + 1-row
        # merge-audit cross; 1-row truth-count cross per band config
        "quantile_sketch_merge_audit",
        "lsh_threshold_sweep",
        # 8-row query-set broadcast against the vector scan (the
        # ann_brute_force shape, scored at 4 prefix dims at once /
        # ranked under two windows for pre-vs-post filter)
        "matryoshka_truncation_audit",
        "ann_filtered_search",
        # 50-row depth grid theta-joined to the <=50-row common-item
        # frame (both bounded by RBO_DEPTH by construction); 5-row
        # horizon grid against the day-grain KM rollup
        "rbo_rank_stability",
        "kaplan_meier_repeat",
        # recall-audit shape: brute-force query-set broadcast + the
        # 3-row flags × 1-row exact-stats cross
        "ann_ndcg_audit",
        # 1-row merged-totals frame crossed onto the d² state cells
        "cov_state_merge_audit",
        # round-7b additions:
        # 1-row marginal-entropy frames crossed onto the 1-row MI agg
        "mutual_info_assoc",
        # |bands| global-distribution frame (bounded by the balance
        # domain) broadcast onto the |QI groups| frame — dims × dims
        "t_closeness_audit",
        # 2³ subset lattice × ≤8-row mask histogram + 12-row literal
        # coefficient table — the whole lattice is metadata-sized
        "shapley_attribution",
        # 1-row distinct-user total onto the |types|² pair frame
        "sequence_pattern_support",
        # 1-row expected-agreement numerator onto the 1-row base frame
        "cohens_kappa_langid",
        # three 1-row conditional-sum frames assembled into the 4-row
        # k-grid profile
        "rich_club_profile",
        # 1-row total × 1-row covered-count cross for the support-0 row
        "truss_support_profile",
        # 1-row (N, O, brier numerator) totals onto the ≤21-row bin frame
        "brier_decomposition",
        # consumes knn_graph's broadcast scoring pass (already exempt)
        "ann_hubness_audit",
        # same broadcast scoring pass via knn_graph_edges
        "mutual_knn_pairs",
        # 1-row avgdl/n_docs stats and 1-row theta crossed onto the
        # query-term-filtered posting stream
        "bm25_maxscore_prune",
        # 1-row threshold order-statistic onto the (k+1)-row top frame
        "hill_tail_index",
        # 1-row (n, Σx) mean frame onto the calendar-bounded day frame
        "revenue_acf_profile",
        # 1-row vector count onto the d-row dimension rollup
        "embedding_isotropy_audit",
        # KM-family 1-row crosses: dmax censor date onto the subject
        # rollup, arm totals onto the 1-row O/E/V aggregate
        "logrank_repeat_priority",
        # round-7 later-wave additions, audited one by one:
        # 1-row pooled-OLS-moments frame crossed onto the brand-
        # strata rollup (scalar-broadcast idiom)
        "simpson_paradox_audit",
        # 1-row supplier-id-range broadcast onto the customer×K
        # candidate explode — the non-edge space is never built
        "negative_edge_sampling",
        # 1-row n_pos/n_neg totals + the 5-row recall-target grid
        # theta-joined onto the bounded distinct-score rollup
        "pr_curve_langid",
        # 1-row max_id broadcast onto the trigram first-seen rollup;
        # the OLS runs on the ≤10-row decile frame
        "heaps_law_fit",
        # 1-row (n, IQR, h) bin-width frame crossed onto the fact
        # stream (the value_histogram shape, FD-derived width)
        "freedman_diaconis_histogram",
        # held-out query-slice broadcast against one corpus scan
        # (the ann_brute_force posture)
        "knn_label_eval",
        # |labels|-row integer-centroid + cell-size table broadcasts
        # (IVF probe ranking is cells×queries-bounded)
        "ann_nprobe_sweep",
        # per-FK-edge 1-row (child, orphan) count pairs crossed into
        # the 7-row report (the forget_users_cascade shape)
        "fk_integrity_audit",
        # 1-row retention-cutoff (max date − 90d) broadcast onto the
        # version-chain window rollup
        "retention_gc_plan",
        # round-7 fifth-wave additions:
        # 1-row edge-stats × 1-row wedge-stats final cross (the
        # wedge join itself is equi-keyed on supplier)
        "butterfly_count",
        # 1-row (n, Σx) mean frame onto the calendar-bounded day
        # frame (identical to the exempted revenue_acf_profile)
        "ljung_box_revenue",
        # 1-row tie/total frame crossed onto the 1-row rank-sum agg
        "kruskal_wallis_priority",
        # 1-row (n, Σcents) mean frame onto the fact scan (the
        # value_histogram 1-row-totals-onto-stream shape)
        "jarque_bera_orders",
        # 1-row token-total N onto the (GT_MAX_R+1)-row count-of-
        # counts grid — bounded by the QUESTION, not the data
        "good_turing_mass",
        # |sources| × top-k word grid completion (5 × 20 rows at any
        # SF): the only corpus-sized frame is the equi-keyed rollup
        "burrows_delta_sources",
        # calendar-bounded day² sign-pair join (the theil_sen
        # exemption class) + two 1-row stat frames crossed
        "mann_kendall_trend",
        # 1-row (n_a, n_b) totals crossed onto the dollar-grid ECDF
        # frame (the ks_drift_orders shape)
        "cvm_drift_orders",
        # 1-row sketch frame × 1-row exact-F2 frame final cross
        "ams_f2_sketch",
        # 1-row (n, e_tot) totals onto the length-domain-bounded
        # split-candidate frame (the ks/value_histogram shape)
        "gini_stump_split",
        # 1-row basket-count cross onto the ≤C(|brands|,3)-row
        # triple frame (domain-bounded by construction)
        "frequent_triples",
        # 1-row median/MAD/totals frames crossed onto the dollar
        # value grid for the two IRLS reweighting passes
        "huber_mean_orders",
        # 1-row (n_a, n_b) totals crossed onto the dollar-grid
        # midrank frame (the ks/cvm shape)
        "anderson_darling_drift",
        # 5×5 priority-pair theta join on the GROUP frame (domain-
        # bounded) + the 1-row tie/total cross
        "dunn_posthoc_priority",
        # 1-row (n, Σx) mean frame onto the calendar-day frame (the
        # revenue_acf posture)
        "pacf_profile",
        # 5-row candidate-period grid crossed onto the calendar-day
        # frame — bounded by the QUESTION
        "periodogram_peaks",
        # 1-row total-weight frame crossed onto the ≤25-row nation
        # modularity frame
        "trade_modularity_nations",
        # 1-row (n, Σ) totals crossed onto the calendar-day frame
        # for the variance passes (the acf posture)
        "seasonal_strength",
        # 1-row change-totals frame crossed onto the calendar-day
        # frame for the per-horizon variance passes
        "variance_ratio_walk",
        # 1-row doc-count cross onto the top-k term frame
        "term_burstiness",
        # 1-row centerline totals crossed onto the ≤|months| frame
        "pchart_return_rate",
        # 1-row corpus-totals frame onto the vocabulary keyness scan
        "g2_keyness_sources",
        # 1-row median broadcast onto the fact stream + 1-row table
        # totals onto the ≤k group frame
        "moods_median_test",
    }
    offenders = []
    for name, spec in all_queries().items():
        if name.startswith("stream_") or name == "cricket_pipeline":
            continue
        try:
            plan = plan_of(spec.fn(spark, sf_small))
        except Exception as exc:  # pragma: no cover - fail loudly
            offenders.append((name, f"explain failed: {exc}"))
            continue
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_by_design:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders
    # the allowlist must not rot: every exempted name must still be a
    # catalog entry — a renamed/deleted query would otherwise leave a
    # stale exemption that silently re-admits a future BNLJ under
    # the old name
    stale = bnlj_by_design - set(all_queries())
    assert not stale, f"stale BNLJ allowlist entries: {stale}"


def test_bnlj_gate_detects_offender(spark):
    """Negative control for the gate above — default-deny must
    actually fire: a join with no equi-condition plans a
    BroadcastNestedLoopJoin/CartesianProduct, and the same string
    match the catalog sweep uses must see it. If Spark ever renames
    the physical node, this fails first and the sweep gets fixed
    with it."""
    a = spark.range(100).withColumnRenamed("id", "x")
    b = spark.range(50).withColumnRenamed("id", "y")
    import pyspark.sql.functions as F

    plan = plan_of(a.join(b, F.col("x") % 7 > F.col("y") % 5))
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan, (
        plan
    )


def test_regional_revenue_broadcast_fallback_same_answer(spark, sf_small):
    """The 100 TB claim made executable: when dims outgrow broadcast
    (simulated by disabling the threshold), the same query text
    plans shuffle joins instead — and the answer is identical."""
    from cricket_analytics_nosql_spark.operators.analytics import (
        regional_revenue,
    )

    want = [tuple(r) for r in regional_revenue(spark, sf_small).collect()]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = regional_revenue(spark, sf_small)
        plan = plan_of(df)
        # F.broadcast() hints survive, but the threshold-driven
        # broadcasts must be gone: at least one shuffle join appears
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        got = [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want


def test_pareto_has_no_quadratic_join(spark, sf_medium):
    """The skyline must be windows + an equi-join back — never a
    dominance self-join (no cartesian/nested-loop node)."""
    from cricket_analytics_nosql_spark.operators.analytics import pareto_parts

    plan = plan_of(pareto_parts(spark, sf_medium))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_entity_match_blocks_not_crossjoins(spark, sf_medium):
    """Fuzzy matching must pair rows through the blocking equi-join;
    Levenshtein runs only inside blocks."""
    from cricket_analytics_nosql_spark.operators.entity import entity_match_parts

    plan = plan_of(entity_match_parts(spark, sf_medium))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunking_scan_prunes_to_two_columns(spark, sf_medium):
    """doc_chunking must read only (doc_id, text) from parquet; the
    explode/substring stage is narrow."""
    from cricket_analytics_nosql_spark.operators.text import doc_chunking

    plan = plan_of(doc_chunking(spark, sf_medium))
    read = [
        ln
        for ln in plan.splitlines()
        if "ReadSchema" in ln and "doc_id" in ln
    ]
    assert read, plan
    for unneeded in ("lang", "source", "n_chars"):
        assert unneeded not in read[0], read[0]


def test_dpp_prunes_fact_partitions(spark, sf_medium):
    """The partitioned-layout join must carry a dynamicpruning
    expression in the fact scan's PartitionFilters — untouched
    event_type directories are never opened."""
    from cricket_analytics_nosql_spark.operators.sinks import (
        dpp_partitioned_events,
    )

    plan = plan_of(dpp_partitioned_events(spark, sf_medium))
    assert "dynamicpruning" in plan, plan


def test_sql_udf_inlines_no_python_node(spark, sf_medium):
    """A SQL-defined UDF must inline into codegen — no
    BatchEvalPython/ArrowEvalPython stage in the plan."""
    from cricket_analytics_nosql_spark.operators.pysurface import (
        sql_udf_revenue,
    )

    plan = plan_of(sql_udf_revenue(spark, sf_medium))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_streaks_single_entity_exchange_no_join(spark, sf_small):
    """Gaps-and-islands must be window-shaped: ONE exchange on the
    entity key feeds the lag pass, the island-id running sum, and
    (by clustering subsumption) both per-user aggregates — and there
    is no join node anywhere."""
    from cricket_analytics_nosql_spark.operators.sequences import (
        activity_streaks,
    )

    plan = plan_of(activity_streaks(spark, sf_small))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan, plan


def test_interval_merge_single_key_exchange_no_join(spark, sf_small):
    """Interval coalescing is the same running-window shape: one
    customer-key exchange, no interval-pair join."""
    from cricket_analytics_nosql_spark.operators.sequences import (
        interval_merge_coverage,
    )

    plan = plan_of(interval_merge_coverage(spark, sf_small))
    assert plan.count("hashpartitioning(o_custkey") == 1, plan
    assert "Join" not in plan, plan


def test_basket_lift_pairs_generated_not_self_joined(spark, sf_small):
    """Pair generation must be the JVM-side combination transform
    (Generate/explode inside the per-order stage), never a lineitem
    self-join: every join in the plan runs over aggregate-sized
    frames, so a sort-merge join of two raw lineitem scans would be
    the quadratic-shape regression this test pins out."""
    from cricket_analytics_nosql_spark.operators.sequences import (
        market_basket_lift,
    )

    plan = plan_of(market_basket_lift(spark, sf_small))
    # pair + marginal streams are explode Generates over the
    # per-order set aggregate, not join outputs
    assert plan.count("Generate") >= 2, plan
    # raw-side scans in the formatted (pre-AQE) plan: pairs,
    # marginals ×2 (deduped by ReuseExchange at runtime), and the
    # keys-only pruned twin for the global total — never more, i.e.
    # no lineitem×lineitem join branch exists
    assert plan.count("Location: InMemoryFileIndex") <= 4, plan
    assert "SortMergeJoin" not in plan, plan


def test_value_histogram_prunes_to_price_column(spark, sf_small):
    """Both the bounds pass and the binning pass must read ONLY
    o_totalprice — a histogram that drags the full orders schema
    through its scans is wrong at any scale."""
    from cricket_analytics_nosql_spark.operators.sequences import (
        value_histogram,
    )

    plan = plan_of(value_histogram(spark, sf_small))
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads, plan
    for ln in reads:
        assert "o_totalprice" in ln, ln
        for unneeded in ("o_orderkey", "o_custkey", "o_orderdate"):
            assert unneeded not in ln, ln


def test_wilson_single_user_exchange(spark, sf_small):
    from cricket_analytics_nosql_spark.operators.sequences import (
        ab_conversion_wilson,
    )

    plan = plan_of(ab_conversion_wilson(spark, sf_small))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan, plan


def test_e2e_pipeline_single_document_scan(spark, sf_small):
    """The composed prep pipeline must read documents ONCE: the
    dedup stage is a window-min over the content hash, not a
    groupBy+semi-join (which would scan the text column twice)."""
    import re

    from cricket_analytics_nosql_spark.operators.training import (
        training_pipeline_e2e,
    )

    plan = plan_of(training_pipeline_e2e(spark, sf_small))
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan
    assert "Join" not in plan, plan


# ---------------------------------------------------------------------------
# Round-5 additions: plan shapes
# ---------------------------------------------------------------------------

def test_cep_journey_single_user_exchange(spark, sf_medium):
    """One hashpartitioning exchange on user_id for the journey
    build; the final count is a scalar aggregate (SinglePartition),
    not another keyed shuffle."""
    from cricket_analytics_nosql_spark.operators.sequences import (
        cep_funnel_pattern,
    )

    plan = plan_of(cep_funnel_pattern(spark, sf_medium))
    keyed = [
        ln for ln in plan.splitlines() if "hashpartitioning(" in ln
    ]
    assert len(keyed) == 1, plan
    assert "user_id" in keyed[0], keyed[0]


def test_gap_fill_windows_share_one_exchange(spark, sf_medium):
    """All four ignorenulls window passes run after a single user_id
    exchange of the dense grid — adding window columns must not add
    exchanges."""
    from cricket_analytics_nosql_spark.operators.sequences import (
        gap_fill_interpolate,
    )

    plan = plan_of(gap_fill_interpolate(spark, sf_medium))
    grid_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "user_id" in ln
    ]
    # daily rollup (user_id, day) + one window exchange (user_id)
    assert len(grid_exchanges) <= 2, plan


def test_covariance_pairs_generated_in_scan_stage(spark, sf_medium):
    """The d²/2 pair expansion must happen BEFORE any exchange (the
    shuffle carries ≤2080 aggregated cells per task, never row-pair
    frames): no join node may sit under the pair aggregation, and no
    exchange may carry the raw embedding column."""
    from cricket_analytics_nosql_spark.operators.similarity import (
        embedding_covariance_topk,
    )

    plan = plan_of(embedding_covariance_topk(spark, sf_medium))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # cell-frame joins all broadcast
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "embedding" not in ln, ln


def test_sssp_rounds_are_vertex_keyed_aggregations(spark, sf_medium):
    """Every relaxation round (the production ``graph._relax_step``)
    ends in a min-groupBy on the vertex id — the path-set never
    materializes (no round multiplies rows through un-aggregated
    unions)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from cricket_analytics_nosql_spark.operators.graph import (
        _relax_step,
        strong_trade_edges_costed,
    )

    e = strong_trade_edges_costed(spark, sf_medium).select(
        "src", "dst", F.col("cost").alias("w")
    )
    dist = e.agg(F.min("src").alias("id")).select(
        "id", F.lit(0).cast("long").alias("cost")
    )
    plan = plan_of(_relax_step(e, dist, Observation()))
    assert "CartesianProduct" not in plan
    aggs = [ln for ln in plan.splitlines() if ": [min(cost" in ln]
    assert aggs, plan


def test_prefix_jaccard_verify_has_no_full_index_join(spark, sf_medium):
    """The quadratic stage must join PREFIX rows only: the full
    shingle index appears in the plan solely as per-doc set
    aggregation inputs (sort_array/collect_list), never as both
    sides of the shingle-keyed self-join without the prefix filter.
    Proxy assertion: the candidate self-join is followed by an exact
    array_intersect verify, and no BroadcastNestedLoop/Cartesian
    node exists anywhere."""
    from cricket_analytics_nosql_spark.operators.dedup import (
        dedup_jaccard_prefix,
    )

    plan = plan_of(dedup_jaccard_prefix(spark, sf_medium))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" in plan


def test_ks_drift_window_rides_value_rollup(spark, sf_medium):
    """The KS ECDF prefix-sum is necessarily an unpartitioned
    window, so it must consume the dollar-grid ROLLUP, not the fact:
    one parquet scan (the totals branch reuses the rollup exchange),
    exactly one Window node, and the scan pruned to the two columns
    the test touches."""
    import re

    from cricket_analytics_nosql_spark.operators.drift import ks_drift_orders

    # AQE defers exchange reuse to runtime — inspect the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(ks_drift_orders(spark, sf_medium))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "o_orderdate" not in read[0], plan
    assert "o_custkey" not in read[0], plan


def test_entropy_kl_derives_marginals_from_pair_counts(spark, sf_medium):
    """Corpus marginals must derive from the (source, term) pair
    frame, never a second corpus tokenize: at most two parquet scans
    survive in the pre-AQE plan (pair counts + one shared-subtree
    duplicate that exchange-reuse collapses), with reuse nodes
    present."""
    import re

    from cricket_analytics_nosql_spark.operators.drift import token_entropy_kl

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(token_entropy_kl(spark, sf_medium))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2, plan
    assert "ReusedExchange" in plan, plan


def test_winsorized_bounds_broadcast_back(spark, sf_medium):
    """Percentile bounds are O(segments) rows and must broadcast
    onto the clamp pass (never shuffle the fact a second time), and
    the customer dim must broadcast too."""
    from cricket_analytics_nosql_spark.operators.drift import (
        winsorized_segment_stats,
    )

    plan = plan_of(winsorized_segment_stats(spark, sf_medium))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_transition_matrix_single_user_exchange(spark, sf_medium):
    """The lag pass and everything after it ride ONE exchange of
    events on user_id; the post-lag aggregation exchanges only the
    |types|^2 matrix."""
    import re

    from cricket_analytics_nosql_spark.operators.sequences import (
        event_transition_probs,
    )

    plan = plan_of(event_transition_probs(spark, sf_medium))
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_harmonic_centrality_topk_and_no_nested_loop(spark, sf_medium):
    """Top-20 must fuse to TakeOrderedAndProject and the distance-2
    stage must be the supplier-keyed equi-join — no nested-loop or
    cartesian anywhere."""
    from cricket_analytics_nosql_spark.operators.graph import (
        harmonic_centrality_2hop,
    )

    plan = plan_of(harmonic_centrality_2hop(spark, sf_medium))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rrf_ranks_over_candidate_frame(spark, sf_medium):
    """Both row_number windows must consume the candidate-sized
    scored frame (downstream of the query-term semi-filter), and the
    fused top-15 must fuse to TakeOrderedAndProject."""
    import re

    from cricket_analytics_nosql_spark.operators.text import rrf_fuse_search

    plan = plan_of(rrf_fuse_search(spark, sf_medium))
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan


def test_psi_zero_shuffle_bins(spark, sf_medium):
    """PSI's bin counts must collapse map-side: no exchange wider
    than the 10-bin frame — assert no rangepartitioning / no sort
    aggregate over the fact, and both global frames broadcast."""
    from cricket_analytics_nosql_spark.operators.drift import psi_value_drift

    plan = plan_of(psi_value_drift(spark, sf_medium))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "o_custkey" not in read[0], plan
    assert "CartesianProduct" not in plan


def test_gini_ranks_aggregate_frame_not_fact(spark, sf_medium):
    """The global rank window must consume the per-customer rollup:
    exactly one parquet scan and the window input is the aggregated
    frame (HashAggregate upstream of Window in the tree)."""
    import re

    from cricket_analytics_nosql_spark.operators.drift import (
        gini_customer_revenue,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(gini_customer_revenue(spark, sf_medium))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_ngram_search_candidates_broadcast(spark, sf_medium):
    """The verify pass must semi-join the BROADCAST candidate set
    (posting intersection output), never shuffle the corpus."""
    from cricket_analytics_nosql_spark.operators.text import (
        ngram_index_search,
    )

    plan = plan_of(ngram_index_search(spark, sf_medium))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_decayed_value_single_event_scan(spark, sf_medium):
    """The max-timestamp anchor must broadcast back onto the same
    single events scan pipeline (one scan pre-AQE + reuse)."""
    import re

    from cricket_analytics_nosql_spark.operators.training import (
        decayed_user_value,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(decayed_user_value(spark, sf_medium))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_trend_slope_broadcasts_dim(spark, sf_medium):
    from cricket_analytics_nosql_spark.operators.drift import (
        trend_slope_by_segment,
    )

    plan = plan_of(trend_slope_by_segment(spark, sf_medium))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mann_whitney_window_over_grid_not_fact(spark, sf_small):
    """The rank window must run over the distinct-value grid (one
    aggregation BELOW the Window node), never the raw order rows —
    the KS/ECDF posture that bounds the single-partition sort."""
    from cricket_analytics_nosql_spark.operators.drift import (
        mann_whitney_drift,
    )

    plan = plan_of(mann_whitney_drift(spark, sf_small))
    # exactly one Window node (formatted explain lists each node in
    # the tree AND the detail section, hence one node == two matches)
    assert plan.count("Window") == 2, plan
    # grid rollup (groupBy v) sits BELOW the window: the node chain
    # in the tree section reads Scan → ... → HashAggregate →
    # Exchange → Sort → Window, and no Join exists at all
    assert "Join" not in plan, plan
    tree = plan[: plan.index("(1) Scan")]
    assert "HashAggregate" in tree[tree.index("Window") :], tree


def test_spearman_quantity_ranks_broadcast(spark, sf_small):
    """The ~50-row quantity rank table must broadcast; only the
    price-rank join may shuffle both sides."""
    from cricket_analytics_nosql_spark.operators.drift import (
        spearman_price_qty,
    )

    plan = plan_of(spearman_price_qty(spark, sf_small))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dsir_model_broadcasts_single_corpus_scan(spark, sf_small):
    """The 256-row log-ratio model must broadcast into the scoring
    join, and the documents parquet must be scanned exactly once —
    the (doc, bucket) frame feeds both the model build and the
    scoring (self-reuse, not a second scan)."""
    from cricket_analytics_nosql_spark.operators.text import (
        dsir_importance_weights,
    )

    plan = plan_of(dsir_importance_weights(spark, sf_small))
    assert "BroadcastHashJoin" in plan, plan
    # the (doc, bucket) frame is checkpointed, so the final plan
    # reads the materialized RDD — zero parquet re-scans downstream
    # (before the checkpoint, explain showed THREE full
    # tokenize+explode corpus scans, one per consumer)
    assert "Scan parquet" not in plan, plan


def test_ols_moment_pass_has_no_repartition(spark, sf_medium):
    """OLS is one map-combined moment pass: the only Exchange is the
    SinglePartition collapse of the 1-row aggregate — no
    hash-partitioned shuffle may appear."""
    from cricket_analytics_nosql_spark.operators.analytics import (
        ols_price_model,
    )

    plan = plan_of(ols_price_model(spark, sf_medium))
    assert "hashpartitioning" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_substring_spans_shuffles_hashes_not_text(spark, sf_medium):
    """The substring-dedup exchange carries span hashes and counts —
    the text column must be pruned before the first Exchange (scan
    reads doc_id/source/text, every Exchange keys on h/source)."""
    import re

    from cricket_analytics_nosql_spark.operators.dedup import (
        dedup_substring_spans,
    )

    plan = plan_of(dedup_substring_spans(spark, sf_medium))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "text" not in keys, plan
    assert "Exchange rangepartitioning" in plan or "Sort" in plan


def test_matryoshka_single_vector_scan(spark, sf_medium):
    """All four prefix dims ride ONE scan of the embeddings table:
    the scored top-k frame is pinned (localCheckpoint) before it
    fans into the recall semi-join, so the final plan reads the
    pinned RDD on both sides and NEVER rescans parquet (the un-pinned
    first cut measured 4 parquet scans — both join sides re-derived
    the full scoring pipeline from lineage)."""
    from cricket_analytics_nosql_spark.operators.similarity import (
        matryoshka_truncation_audit,
    )

    plan = plan_of(matryoshka_truncation_audit(spark, sf_medium))
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_bitmap_distinct_single_expand(spark, sf_medium):
    """The bitmap path must not plan an Expand — the only Expand
    allowed is the countDistinct CROSS-CHECK arm (exactly one)."""
    from cricket_analytics_nosql_spark.operators.sketches import (
        bitmap_distinct_users,
    )
    import re

    plan = plan_of(bitmap_distinct_users(spark, sf_medium))
    expands = re.findall(r"\(\d+\) Expand\b", plan)
    assert len(expands) <= 1, plan


def test_sprt_single_day_walk_exchange(spark, sf_medium):
    """SPRT: the trial rollup and the per-variant day walk must not
    exchange the raw event stream more than the (user, day) and
    (variant) keys require — no Exchange may carry event_type."""
    import re

    from cricket_analytics_nosql_spark.operators.sequences import (
        sprt_ab_monitor,
    )

    plan = plan_of(sprt_ab_monitor(spark, sf_medium))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "event_type" not in m.group(1), plan


def test_pit_assembly_one_customer_exchange(spark, sf_medium):
    """All four PIT window frames must ride ONE customer-keyed
    exchange (same partition key, shared sort)."""
    import re

    from cricket_analytics_nosql_spark.operators.joins import (
        pit_feature_assembly,
    )

    plan = plan_of(pit_feature_assembly(spark, sf_medium))
    cust_exchanges = re.findall(r"hashpartitioning\(o_custkey", plan)
    assert len(cust_exchanges) == 1, plan
    # exactly 3 exchanges total: customer walk, year rollup, sort
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 3, plan


def test_bucketed_join_has_no_exchange_under_join(spark, sf_medium):
    """The whole point of the bucketed layout: the SortMergeJoin
    must read `Bucketed: true` scans with NO Exchange beneath it —
    every Exchange in the plan sits above the join (segment rollup
    + output ordering). The string plan lists children after
    parents, so no Exchange line may appear AFTER the SortMergeJoin
    line in the simple plan dump."""
    from cricket_analytics_nosql_spark.operators.layout import (
        bucketed_join_noshuffle,
    )

    df = bucketed_join_noshuffle(spark, sf_medium)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    join_pos = plan.index("SortMergeJoin")
    assert "Exchange" not in plan[join_pos:], plan


def test_round9_audits_are_narrow_rollups(spark, sf_medium):
    """seq_length_histogram and packing_efficiency_audit are narrow
    maps into tiny map-combined aggregates: their scans must prune to
    the columns the math needs, and partial aggregation must run
    before any exchange."""
    from cricket_analytics_nosql_spark.operators.training import (
        packing_efficiency_audit,
        seq_length_histogram,
    )

    for fn, needed, banned in (
        (seq_length_histogram, ("text",), ("doc_id", "source", "lang")),
        (packing_efficiency_audit, ("lang", "doc_id", "text"), ("source",)),
    ):
        plan = plan_of(fn(spark, sf_medium))
        read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read, plan
        for col in needed:
            assert col in read[0], read[0]
        for col in banned:
            assert col not in read[0], read[0]
        assert "partial" in plan.lower(), plan


def test_srp_bucket_audit_single_exchange(spark, sf_medium):
    """The SRP balance audit is one map-combined groupBy over the
    scan plus the tiny unpartitioned share window: nothing else may
    shuffle, and the scan must not read vec_id or label."""
    from cricket_analytics_nosql_spark.operators.similarity import (
        srp_bucket_balance_audit,
    )

    import re

    plan = plan_of(srp_bucket_balance_audit(spark, sf_medium))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "embedding" in read[0], plan
    assert "vec_id" not in read[0] and "label" not in read[0], read[0]
    # bucket groupBy exchange + the SinglePartition window exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_token_dedup_savings_never_exchanges_text(spark, sf_medium):
    """The md5 content hash must be computed AT THE SCAN so the
    window exchange carries (hash, tokens), never the text column."""
    from cricket_analytics_nosql_spark.operators.dedup import (
        token_dedup_savings,
    )

    plan = plan_of(token_dedup_savings(spark, sf_medium))
    # the content-hash window exchange: its Input row set must carry
    # (hash, tokens, keys) — never the raw text attribute
    lines = plan.splitlines()
    hash_exchanges = [
        i
        for i, ln in enumerate(lines)
        if "Arguments: hashpartitioning(h#" in ln
    ]
    assert hash_exchanges, plan
    for i in hash_exchanges:
        inputs = [ln for ln in lines[max(0, i - 3): i] if "Input" in ln]
        assert inputs and "text#" not in inputs[-1], lines[max(0, i - 3): i + 1]
