"""Physical-plan assertions: the plans must be the ones a 1000-executor
cluster wants — broadcasts for dims, pushdown into scans, map-side partial
aggregation, Arrow (never row-at-a-time) Python, no cartesian products.

These guard against regressions Catalyst can't save us from: a dropped
broadcast hint, a filter moved behind a Python stage, an accidental
crossJoin.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from dynaledger_spark.plans.registry import load_all

REGISTRY = load_all()


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    """Built (unexecuted) DataFrames of every registered batch query
    (streaming queries execute eagerly; their plan is asserted
    separately). Built ONCE per module — both the plan-text assertions
    and the logical-plan lints read from here."""
    out = {}
    for name, spec in REGISTRY.items():
        if name.startswith("stream_"):
            continue
        out[name] = spec.build(spark, sf_dir)
    return out


@pytest.fixture(scope="module")
def plans(built):
    """Physical plan text of every registered batch query."""
    return {name: plan_of(df) for name, df in built.items()}


def test_no_row_at_a_time_python_anywhere(plans):
    """Python appears only as Arrow-vectorized stages (MapInPandas /
    ArrowEvalPython); BatchEvalPython (pickled row loop) must never show."""
    for name, plan in plans.items():
        assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"


def test_no_cartesian_products(plans):
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, f"{name} cross-joins"
        assert "BroadcastNestedLoopJoin" not in plan or name in (
            "ann_cosine_topk",  # 1-row literal lookup is fine if it appears
            "tfidf_top_terms",  # 1-row broadcast of the corpus count
            "mixture_rebalance_sample",  # 1-row broadcast of corpus totals
            "copurchase_triangles",  # 1-row × 1-row scalar-metric combine
            "knn_join_topk",  # deliberate broadcast fan-out of the query batch
            "target_encode_priority",  # 1-row broadcast of the global prior
            "quantile_binning_migration",  # 1-row broadcast of decile bounds
            "sliding_7d_active_users",  # 1-row broadcast of the date bounds
            "rfm_segmentation",  # 1-row broadcast of the recency anchor date
            "unigram_logprob_quality",  # 1-row broadcast of the corpus token total
            "acf_daily_revenue",  # 1-row stats/denominator + 7-row lag broadcast
            "basket_association_rules",  # 1-row broadcast of the basket total
            "cms_heavy_hitters",  # 4-row broadcast of the sketch seeds
            "mad_outlier_days",  # 1-row broadcasts of median and MAD
            "pmi_collocations",  # 1-row broadcast of the bigram total
            "clustering_eval_ari",  # 1-row scalar-metric combines
            "feature_mi_by_dim",  # 1-row broadcast of the vector total
            "minhash_portable_incremental",  # 1-row broadcast of the id cutoff
            "km_churn_curve",  # 1-row broadcast of the censoring horizon
            "hll_portable_estimate",  # 1-row broadcast of the exact count
            "priority_sample_subset_sum",  # 1-row broadcast of tau (the k+1-th priority)
            "shapley_channel_attribution",  # lattice-sized (16-row) containment joins + 1-row n broadcast
            "sequential_pattern_support",  # 1-row broadcast of the user total
            "cusum_changepoint",  # 1-row broadcasts of totals and the peak
            "benford_first_digit",  # 1-row broadcast of the grand total
            "temperature_resample_sources",  # 1-row broadcasts of corpus totals
            "decay_weighted_engagement",  # 1-row broadcast of the time anchor
            "mann_whitney_u_test",  # 1-row broadcast of the group sizes
            "cuped_adjusted_ab",  # 1-row broadcast of the pooled moments
            "bootstrap_mean_ci",  # 1-row broadcasts of the CI order statistics
            "isotonic_calibration_deciles",  # 10-row minimax non-equi joins
            "ab_power_analysis",  # 1-row × 1-row arm combine
            "bigram_interpolated_logprob",  # 1-row broadcast of the token total
            "tpch_q1_pricing_summary",  # 1-row broadcast of the shipdate anchor
            "ab_srm_check",  # 2-row broadcast of the split configs
            "beta_binomial_shrinkage",  # 1-row broadcast of the MoM prior
            "ar1_forecast",  # 1-row broadcasts of stats/denominator/last-day scalars
            "rendezvous_hash_shard",  # 9-row broadcast of the shard ring
            "shard_round_robin",  # ≤1024-row bucket-offset inequality self-join (grid-sized)
            "rm3_query_expansion",  # 1-row corpus-stats + expansion-weight-sum broadcasts
            "sequential_test_readout",  # 1-row min-date broadcast onto the days-sized rollup
            "psm_stratified_att",  # 1-row boundary + 1-row ATT broadcasts
            "ucb1_allocation",  # 1-row total-plays + 1-row best-arm broadcasts
            "forecast_backtest_mase",  # 1-row naive-MAE scale broadcast onto 3 method rows
            "theil_sen_daily_trend",  # calendar-bounded |days|x|days| pair loop
            "schema_drift_report",  # 1-row × 1-row half-stats combine
            "freshness_lag_by_type",  # 1-row broadcast of the corpus watermark
            "fk_orphan_scorecard",  # six 1-row × 1-row edge-metric combines
            "bm25_topk_docs",  # 1-row broadcasts of df counts and avgdl
            "rrf_hybrid_topk",  # same BM25 scalar broadcasts feed the fusion
            "psi_feature_drift",  # 10-row bin-grid broadcast fan-out
            "join_key_skew_report",  # 1-row top-key/stats scalar combines
            "grid_density_clusters",  # 1-row density-threshold broadcast
            "t_closeness_audit",  # 1-row global-total broadcast
            "ks_two_sample_values",  # 1-row sample-size broadcasts
            "ndcg_lexical_vs_dense",  # BM25 scalar broadcasts feed the DCG
            "ann_recall_eval",  # two 10-row TakeOrdereds joined
            "ab_conversion_ztest",  # 1-row × 1-row arm-stats combine
            "ar_aging_buckets",  # 1-row broadcast of the as-of ledger date
            "tpch_q15_top_supplier",  # 1-row broadcast of the max revenue
            "tpch_q22_global_sales_opportunity",  # 1-row broadcast of the avg balance
            "tpch_q11_important_stock",  # 1-row broadcast of the global total
            "semdedup_prune",  # 10-row centroid-table broadcast fan-out
            "margin_knn_scores",  # 20-row query-batch broadcast fan-out
            "dsir_importance_weights",  # 1-row broadcast of the corpus totals
            "unimax_allocation",  # 1-row broadcasts of budget and waterline
            "fisher_lda_quality",  # 1-row broadcasts of the fitted model
            "hard_negative_mining",  # 20-row query-batch broadcast fan-out
            "decontam_embedding_sim",  # corpus/50 benchmark-batch broadcast fan-out
            "spearman_quality_scores",  # unigram scorer's 1-row token-total broadcast
            "hill_tail_index",  # 1-row broadcast of the tail threshold over k+1 rows
            "bits_per_byte_by_source",  # 1-row broadcast of the corpus token total
            "lsh_recall_eval",  # 1-row truth/found/hit metric combines
            "doremi_domain_weights",  # 1-row broadcasts of corpus loss/normalizer
            "ccnet_perplexity_buckets",  # unigram scorer's 1-row token-total broadcast
            "tfidf_cosine_pairs",  # 1-row broadcast of the corpus doc count N
            "kmv_theta_sketch_pairs",  # |types|^2-row pair table fanned over k-row sketches
        ), f"{name} nested-loop joins"


def test_fact_build_plan_shape(plans):
    plan = plans["fact_build"]
    # nation is a broadcast dim
    assert "BroadcastHashJoin" in plan
    # the orderstatus filter reaches the parquet scan
    assert "PushedFilters: [" in plan and "o_orderstatus" in plan
    # group-sum runs as hash aggregation with a partial phase
    assert plan.count("HashAggregate") >= 2


def test_statement_query_pushes_filters(plans):
    plan = plans["statement_query"]
    assert "PushedFilters" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_anti_join_is_anti(plans):
    assert "LeftAnti" in plans["anti_join_fk"]


def test_broadcast_lookup_broadcasts(plans):
    assert "BroadcastHashJoin" in plans["broadcast_lookup_default"]


def test_dedup_exact_partial_agg(plans):
    # map-side partial aggregation before the exchange: exactly the shape
    # that makes hash-dedup scale (combine before shuffle)
    plan = plans["dedup_exact"]
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 2-column projection must not read all 5 document columns."""
    from dynaledger_spark.plans.registry import QUERY_REGISTRY

    df = QUERY_REGISTRY["doc_fingerprint"].build(spark, sf_dir)
    plan = plan_of(df)
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") : scan.index("\n", scan.index("ReadSchema"))]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_topk_uses_take_ordered(plans):
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plans["topk_customers"]
    assert "TakeOrderedAndProject" in plans["ann_cosine_topk"]


def test_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    """§4: quarters-as-partition-columns must actually prune — a filter on
    the partition column becomes a PartitionFilter, not a data filter."""
    from pyspark.sql import functions as F

    from dynaledger_spark.catalog import read_table
    from dynaledger_spark.sources.parquet_io import write_partitioned

    path = str(tmp_path / "events_parted")
    events = read_table(spark, sf_dir, "events")
    write_partitioned(events, path, partition_col="event_type")
    df = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    plan = plan_of(df)
    # the predicate lands in PartitionFilters (resolved from directory
    # names at planning time), and the scan schema no longer carries the
    # partition column as data
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert "(event_type" in plan and "= purchase)" in plan
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") : scan.index("\n", scan.index("ReadSchema"))]
    assert "event_type" not in read_schema


def test_whole_stage_codegen_on_text_path(spark, sf_dir):
    # the text features are JVM expressions: they must run inside codegen.
    # AQE defers codegen stitching until execution, so plan with AQE off
    # for the assertion ('*(n)' markers in simple mode).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["text_quality"].build(spark, sf_dir)
        assert "*(" in plan_of(df, mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_unpivot_is_single_scan_expand(plans):
    """unpivot must compile to one scan + Expand — not a 4-way self-union
    re-reading the table (the oracle's shape)."""
    plan = plans["unpivot_lineitem_measures"]
    assert plan.count("FileScan") + plan.count("Scan parquet") >= 1
    assert plan.count("FileScan") <= 1
    assert "Expand" in plan
    assert "Union" not in plan


def test_scalar_subquery_is_decorrelated(plans):
    """The correlated AVG subquery must become an aggregate + equi-join,
    never a per-row re-executed subquery plan node."""
    plan = plans["scalar_subquery_small_qty"]
    assert "Subquery" not in plan
    assert "HashAggregate" in plan and "Join" in plan


def test_hash_sampling_is_shuffle_free(plans):
    """Deterministic hash split/sample are pure scan-side projection and
    filter — zero exchanges, so they scale linearly with input."""
    for name in ("hash_split_train_val", "stratified_sample_docs"):
        plan = plans[name]
        assert "Exchange" not in plan, name


def _nodes(plan: str, node: str) -> int:
    """Count physical nodes in a formatted explain (the '(n) Node' detail
    headers — the tree section prints every node a second time)."""
    import re

    return len(re.findall(rf"\(\d+\) {node}\b", plan))


def test_first_last_single_window_pass(plans):
    """FIRST_VALUE (growing frame) and LAST_VALUE (unbounded frame) share
    partitioning + sort, so Catalyst must fuse them into ONE Window node
    over one shuffle — two sorted passes would double the cost."""
    plan = plans["first_last_order_span"]
    assert _nodes(plan, "Window") == 1
    assert _nodes(plan, "Exchange") <= 1


def test_median_disc_one_shuffle(plans):
    """The distributed discrete median ranks and counts inside a single
    hash-partitioning of the group key: one Exchange, windows stacked on
    the same clustering (no second sort-shuffle), no Python."""
    plan = plans["median_disc_by_priority"]
    assert _nodes(plan, "Exchange") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_exact_moment_aggs_have_partial_phase(plans):
    """The decimal (n, Σx, Σx²) moment sums must run as partial + final
    hash aggregation — map-side combine is the whole point of using an
    associative accumulator instead of builtin stddev_samp."""
    for name in ("stddev_exact_by_flag", "regex_extract_id_buckets"):
        plan = plans[name]
        assert _nodes(plan, "HashAggregate") >= 2, name
        assert _nodes(plan, "Exchange") == 1, name


def test_per_group_topk_uses_window_group_limit(plans):
    """rank<=k must trigger Catalyst's WindowGroupLimit pushdown — a
    per-group k-row heap on the map side, not a full sort-then-filter."""
    assert "WindowGroupLimit" in plans["top3_orders_per_segment"]


def test_grouping_sets_single_expand(plans):
    """GROUPING SETS must be one Expand over one shuffle — not a
    re-scan per stratum (the oracle's UNION shape)."""
    plan = plans["grouping_sets_mixed"]
    assert "Expand" in plan
    assert _nodes(plan, "Exchange") <= 2  # join shuffle + grouping shuffle


def test_not_in_plans_as_anti_join(plans):
    """NOT IN must become a (null-aware) hash anti-join, never a
    nested-loop or per-row subquery."""
    plan = plans["not_in_suppliers_null_aware"]
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_union_distinct_dedups_with_hash_agg(plans):
    plan = plans["union_distinct_actors"]
    assert _nodes(plan, "HashAggregate") >= 2  # partial + final dedup


def test_ivf_persisted_partition_pruning(spark, sf_dir, tmp_path):
    """IVF cell store: a probe's `centroid IN (...)` must prune to the
    probed partitions — PartitionFilters on centroid, no centroid in the
    read schema, and the persisted probe agrees with the in-memory path."""
    from dynaledger_spark.catalog import read_table
    from dynaledger_spark.operators.similarity import (
        ivf_index,
        ivf_topk,
        ivf_topk_persisted,
        ivf_write_cells,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    qvec = list(emb.filter("vec_id = 0").head()["embedding"])
    corpus = emb.filter("vec_id != 0")
    assigned, centroids = ivf_index(corpus, n_centroids=8)
    path = str(tmp_path / "ivf_cells")
    ivf_write_cells(assigned, path)

    probe = ivf_topk_persisted(spark, path, centroids, qvec, k=10, n_probes=3)
    plan = plan_of(probe)
    assert "PartitionFilters" in plan and "centroid" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") : scan.index("\n", scan.index("ReadSchema"))]
    assert "centroid" not in read_schema

    got = [r.vec_id for r in probe.collect()]
    want = [
        r.vec_id
        for r in ivf_topk(corpus, qvec, k=10, n_centroids=8, n_probes=3).collect()
    ]
    assert got == want


def test_ohlc_single_exchange(plans):
    """time_bucket_ohlc: both row_number windows and the final aggregate
    hash on (event_type, bucket_ts) — Catalyst must plan exactly ONE hash
    Exchange (the scale claim in its docstring)."""
    plan = plans["time_bucket_ohlc"]
    assert _nodes(plan, "Exchange") == 1


def test_tfidf_topk_window_group_limit(plans):
    """tfidf_top_terms: rank<=3 pushes below the per-doc sort, the
    document-frequency side broadcasts, and the corpus count joins as a
    1-row broadcast (never a shuffled cross join)."""
    plan = plans["tfidf_top_terms"]
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontam_benchmark_broadcasts(plans):
    """decontam_ngram_overlap: the benchmark shingle set must broadcast
    (map-side probe of the corpus) and the benchmark subset filter must
    reach the parquet scan."""
    plan = plans["decontam_ngram_overlap"]
    assert "BroadcastHashJoin" in plan
    assert "(doc_id" in plan and "% 97)" in plan  # pushed modulo filter


def test_salted_join_no_nested_loop(plans):
    """salted_join_segment_revenue: salting keeps the join an equi hash
    join on (key, salt) with map-side partial aggregation after."""
    plan = plans["salted_join_segment_revenue"]
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_bigram_topk_uses_take_ordered(plans):
    """ngram_top_bigrams: ORDER BY count LIMIT 20 must compile to
    TakeOrderedAndProject over a partial-aggregated count — no global
    sort of the gram table."""
    plan = plans["ngram_top_bigrams"]
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "partial_" in plan


def test_gap_fill_windows_share_clustering(plans):
    """gap_fill_interpolate: the prev/next ignorenulls windows sort the
    same (user_id, hour_ts) clustering — Catalyst must not add a second
    hash Exchange for the second window direction."""
    plan = plans["gap_fill_interpolate"]
    assert _nodes(plan, "Window") <= 2
    assert "BatchEvalPython" not in plan


def test_interval_overlap_is_hash_join(plans):
    """interval_overlap_sessions: the bucketed decomposition must plan an
    equi hash join (SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin) on
    (user, bucket) — never a nested-loop over the interval sets."""
    plan = plans["interval_overlap_sessions"]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_zscore_moments_broadcast_back(plans):
    """zscore_outliers: the 5-row per-type moments join back as a
    broadcast; the moment sums aggregate with a partial phase."""
    plan = plans["zscore_outliers"]
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan


def test_quality_pipeline_single_exchange(plans):
    """quality_gopher / quality_weighted_sample: the up-front hash(doc_id)
    partitioning must satisfy both the (doc, word) and per-doc
    clusterings — exactly ONE exchange in the whole plan."""
    for name in ("quality_gopher", "quality_weighted_sample"):
        assert _nodes(plans[name], "Exchange") == 1, name


def test_ewma_single_exchange(plans):
    """Segmented EWMA: row_number window shuffles on user_id once; the
    (user, seg) and user aggregations cluster on subsets of that key and
    must not add exchanges — the scale claim in its docstring."""
    plan = plans["ewma_user_values"]
    assert _nodes(plan, "Exchange") == 1
    # bounded arrays: the collect_list groups on (user_id, seg), never
    # the whole per-user series
    assert "collect_list" in plan


# ---------------------------------------------------------------------------
# Round-4 operator plan shapes
# ---------------------------------------------------------------------------
def test_stats_moments_single_exchange(plans):
    """The exact-moment aggregates (corr, skew/kurt, weighted mean,
    checksum, bitmask, VWAP, centroid assignment) are each ONE hash
    aggregate: exactly one shuffle Exchange, partial aggregation
    map-side."""
    for name in (
        "corr_qty_price",
        "skew_kurtosis_quantity",
        "weighted_avg_discount",
        "table_checksum_orders",
        "event_type_bitmask",
        "vwap_weekly_priceband",
    ):
        plan = plans[name]
        assert _nodes(plan, "Exchange") == 1, name
        assert "partial" in plan.lower() or "HashAggregate" in plan, name
    # centroid_assign_fixed pays one extra round-robin Exchange from the
    # _emb single-file compute spread (local-only wart, see queries_vector)
    assert _nodes(plans["centroid_assign_fixed"], "Exchange") <= 2


def test_knn_join_broadcasts_queries(plans):
    """knn_join_topk: the query batch must broadcast (map-side fan-out);
    the corpus must NOT shuffle for scoring — the only hash exchanges
    are the two top-k windows."""
    plan = plans["knn_join_topk"]
    assert "BroadcastExchange" in plan
    assert _nodes(plan, "Exchange hashpartitioning") <= 2


def test_type_token_ratio_single_exchange(plans):
    """type_token_ratio rides the _docs_by_id partitioning: the word- and
    doc-level aggregations share ONE exchange."""
    assert _nodes(plans["type_token_ratio"], "Exchange") == 1


def test_bloom_probe_broadcasts_filter(plans):
    """bloom_filter_probe: the <=66-row filter must broadcast to the
    probe side (never shuffle the probes against it)."""
    assert "BroadcastHashJoin" in plans["bloom_filter_probe"]


def test_tokenize_vocab_broadcasts(plans):
    """tokenize_to_ids: the vocabulary lookup must be a broadcast hash
    probe — a shuffled join on the token would move the whole exploded
    corpus."""
    assert "BroadcastHashJoin" in plans["tokenize_to_ids"]


def test_zorder_single_exchange(plans):
    """Morton coding is scan-side; the per-bucket stats are one hash
    aggregate."""
    assert _nodes(plans["zorder_bucket_stats"], "Exchange") == 1


def test_twap_single_exchange(plans):
    """twap_user_value: the lead() window and the per-user aggregate share
    the hash(user_id) clustering — ONE exchange end to end."""
    assert _nodes(plans["twap_user_value"], "Exchange") == 1


def test_minmax_scale_broadcasts_ranges(plans):
    """minmax_scale_events: the per-type range table must broadcast back
    onto the fact scan (a window formulation would shuffle the whole
    table on the low-cardinality, skew-prone event_type)."""
    assert "BroadcastHashJoin" in plans["minmax_scale_events"]


def test_event_trigram_take_ordered(plans):
    """event_trigram_top's top-25 must be TakeOrderedAndProject, never a
    global sort of all trigram counts."""
    assert "TakeOrderedAndProject" in plans["event_trigram_top"]


def test_dup_span_two_exchanges_no_join(plans):
    """dup_span_marking: ONE gram-hash exchange serves both the
    (gram, doc) pre-aggregate and the global-frequency window (subset
    rule), and the per-doc rollup is the only other shuffle — the
    join-back formulation (3 exchanges + join) must not come back."""
    p = plans["dup_span_marking"]
    assert _nodes(p, "Exchange") == 2
    assert "Join" not in p


def test_k_anonymity_single_exchange(plans):
    """k_anonymity_audit is one map-side-combined hash aggregate."""
    assert _nodes(plans["k_anonymity_audit"], "Exchange") == 1


def test_feature_hash_single_exchange(plans):
    """feature_hash_vectorize: explode + ONE (doc_id, bucket) hash
    aggregate — memory O(buckets), never O(vocab)."""
    assert _nodes(plans["feature_hash_vectorize"], "Exchange") == 1


def test_link_prediction_no_cartesian(plans):
    """Common-neighbor wedges come from an equi-join on the middle
    vertex + TakeOrdered top-30 — never a cartesian or a global sort."""
    p = plans["link_prediction_common_neighbors"]
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_attribution_no_nested_loop(plans):
    """The 7-day range join keys on user_id (equi) with the time bounds
    as join conditions — never a nested-loop over all purchases×views."""
    p = plans["attribution_linear"]
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_embedding_covariance_broadcasts_means(plans):
    """The d per-dim mean sums broadcast back onto the d² cell table."""
    assert plans["embedding_covariance"].count("BroadcastExchange") >= 2


def test_token_dropout_shuffle_free(plans):
    """token_dropout_augment is pure per-row array work — zero exchanges,
    scales with corpus bytes like the chunking operators."""
    assert "Exchange" not in plans["token_dropout_augment"]


def test_unigram_logprob_broadcasts_vocab(plans):
    """The vocabulary (and its 1-row total) must broadcast onto the
    doc_id-clustered corpus — the corpus never re-shuffles for the LM
    lookup."""
    assert plans["unigram_logprob_quality"].count("BroadcastExchange") >= 2


# Queries allowed an UNPARTITIONED window (single-partition global sort
# in WindowExec). Two legitimate classes only:
#   bounded  — the window input is a post-aggregation series bounded by
#              the calendar / decile grid / vocab cut, never corpus-sized;
#   total    — the operator is semantically a total order (exact global
#              quartiles on the customer DIMENSION); the docstring
#              documents the distributed 100 TB layout that replaces it.
# Anything NOT listed here that grows an unpartitioned window fails the
# lint — a new query cannot silently global-sort a corpus.
GLOBAL_WINDOW_WHITELIST = {
    # bounded: daily / calendar rollup series (≤ |days| rows)
    "rolling_30d_revenue", "seasonal_decompose_dow", "cusum_changepoint",
    "theil_sen_daily_trend", "km_churn_curve", "mad_outlier_days",
    "max_drawdown_daily_revenue", "rsi_14_daily_revenue",
    "bollinger_breakout_days",
    # bounded: post-aggregation grids (deciles, per-group stats, ranks
    # over an already-reduced result)
    "bootstrap_mean_ci", "woe_iv_acctbal_urgent", "lift_gains_deciles",
    "isotonic_calibration_deciles", "rrf_hybrid_topk",
    "ndcg_lexical_vs_dense", "zipf_fit_vocab", "vocab_build_topn",
    "tokenize_to_ids", "chi_square_segment_priority",
    "revenue_share_by_nation", "pareto_abc_parts",
    "triplet_sample_contrastive",
    # bounded: the UniMax waterfill windows run on the 20-row per-source
    # aggregate (|sources|, never corpus-sized)
    "unimax_allocation",
    # bounded: channel-bit assignment ranks the |channels| distinct
    # event types (schema-sized, 4 rows)
    "shapley_channel_attribution",
    # bounded: rank transform over the two A/B samples' value column
    # (events.value measurements, one global ECDF/rank by construction)
    "ks_two_sample_values", "mann_whitney_u_test",
    # total-order by design (exact ANSI NTILE on the customer dimension
    # IS the operator's semantic), distributed alternative documented
    # in the query docstring
    "ntile_acctbal_quartiles",
    # bounded: the rank window runs AFTER the top-10 limit (10 rows)
    "rm3_query_expansion",
    # bounded: lag/prefix windows over the |days|-row daily revenue series
    "forecast_backtest_mase",
}


def _unpartitioned_windows(df) -> int:
    """Count Window nodes with an empty partitionSpec in the optimized
    logical plan (the thing WindowExec warns about at runtime)."""
    n = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            n += 1
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return n


def test_no_unpartitioned_window_outside_whitelist(built):
    offenders = {
        name for name, df in built.items()
        if name not in GLOBAL_WINDOW_WHITELIST and _unpartitioned_windows(df)
    }
    assert not offenders, (
        f"unpartitioned (single-partition) Window in: {sorted(offenders)} — "
        "either partition the window or whitelist with a boundedness "
        "justification"
    )


def test_global_window_whitelist_is_current(built):
    """Every whitelisted name must still exist AND still use a global
    window — stale entries would quietly widen the lint's blind spot."""
    stale = {
        n for n in GLOBAL_WINDOW_WHITELIST
        if n not in built or not _unpartitioned_windows(built[n])
    }
    assert not stale, f"whitelist entries no longer using a global window: {sorted(stale)}"


def test_tpch_plan_shapes(plans):
    """The TPC-H family's plans must be the warehouse-scale ones:
    top-k as TakeOrdered (never a global sort), selective filters
    pushed into the parquet scans, nation/region as broadcasts, the
    Q13 LEFT join and Q22 anti join preserved."""
    # top-k queries: per-partition heap + driver merge, not Sort+Limit
    for name in (
        "tpch_q3_shipping_priority",
        "tpch_q10_returned_items",
        "tpch_q18_large_volume_customers",
    ):
        assert "TakeOrderedAndProject" in plans[name], f"{name} global-sorts its top-k"
    # Q6 is the pure scan-aggregate: no join anywhere, shipdate pushed
    q6 = plans["tpch_q6_forecast_revenue"]
    assert "Join" not in q6
    assert "PushedFilters" in q6 and "l_shipdate" in q6
    # selective dimension filters reach their scans
    assert "c_mktsegment" in plans["tpch_q3_shipping_priority"]
    assert "o_orderdate" in plans["tpch_q5_local_supplier_volume"]
    assert "p_brand" in plans["tpch_q17_small_quantity_revenue"]
    # nation/region dims ride broadcast joins
    for name in (
        "tpch_q5_local_supplier_volume",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "tpch_q10_returned_items",
    ):
        assert "BroadcastHashJoin" in plans[name], f"{name} lost its dim broadcast"
    # Q13's filtered LEFT join keeps order-less customers
    assert "LeftOuter" in plans["tpch_q13_order_count_distribution"]
    # Q22's NOT EXISTS decorrelates to an anti join
    assert "LeftAnti" in plans["tpch_q22_global_sales_opportunity"]
    # --- the adapted nine (round 7) ---
    # Q2: tie-preserving argmin rejoin, top-100 as TakeOrdered, the
    # part-class filter pushed into the part scan
    q2 = plans["tpch_q2_min_cost_supplier"]
    assert "TakeOrderedAndProject" in q2
    assert "EqualTo(p_type,STANDARD)" in q2
    # Q4: EXISTS compiles to a left_semi, the problem-line marker and
    # the quarter slice both pushed into their scans
    q4 = plans["tpch_q4_order_priority"]
    assert "LeftSemi" in q4
    assert "EqualTo(l_returnflag,R)" in q4
    assert "GreaterThanOrEqual(o_orderdate" in q4
    # Q9: the product-family LIKE reaches the part scan as a pushed
    # StringContains; nation rides a broadcast
    q9 = plans["tpch_q9_product_type_profit"]
    assert "StringContains(p_name,red)" in q9
    assert "BroadcastHashJoin" in q9
    # Q12: the year slice prunes the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate,1997-01-01" in plans["tpch_q12_priority_pivot"]
    # Q16: NOT IN over the non-null key compiles to a left_anti, the
    # size set pushed as an In filter
    q16 = plans["tpch_q16_parts_supplier_count"]
    assert "LeftAnti" in q16
    assert "In(p_size" in q16
    # Q19: THE disjunctive-pushdown pin — Catalyst must extract the
    # per-table residuals of the OR-of-ANDs into BOTH scans (quantity
    # ranges onto lineitem, brand/size onto part)
    q19 = plans["tpch_q19_disjunctive_revenue"]
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in q19
    assert "EqualTo(p_brand,Brand#1)" in q19
    # Q20: nested-aggregate gate stays a left_semi; the part-family
    # prefix and the nation set pushed
    q20 = plans["tpch_q20_promotion_suppliers"]
    assert "LeftSemi" in q20
    assert "StringStartsWith(p_name,red)" in q20
    assert "In(n_name" in q20
    # Q21: the semi + anti self-join pair both survive, count top-100
    # is TakeOrdered, the returnflag/orderstatus markers pushed
    q21 = plans["tpch_q21_waiting_suppliers"]
    assert "LeftSemi" in q21 and "LeftAnti" in q21
    assert "TakeOrderedAndProject" in q21
    assert "EqualTo(o_orderstatus,F)" in q21


def test_lsh_recall_eval_broadcasts_df_table(plans):
    """lsh_recall_eval: the shingle document-frequency table joins as a
    broadcast (the corpus-wide shingle stream must not shuffle on the
    gram for the rarity lookup), and the final metric combine is
    broadcast-sized."""
    plan = plans["lsh_recall_eval"]
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_adamic_adar_single_wedge_exchange(plans):
    """adamic_adar: the degree table joins as a BROADCAST (the arc
    stream never shuffles for the lookup), the per-pair score is a
    hash aggregate with a partial (map-side) phase — never a per-wedge
    collect_list — and the top-30 is a TakeOrdered, not a global sort."""
    plan = plans["adamic_adar_link_prediction"]
    assert "BroadcastHashJoin" in plan
    assert "collect_list" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_dpp_reaches_fact_scan(spark, sf_dir):
    """dpp_partition_pruned_join's whole point: the dim's runtime keys
    must appear as a dynamicpruning subquery in the partitioned fact
    scan (I/O pruned at execution, not by a copied literal predicate)."""
    import shutil
    import tempfile

    from dynaledger_spark.plans.queries_core import _dpp_parts

    root = tempfile.mkdtemp(prefix="dl_dpp_plan_")
    try:
        df = _dpp_parts(spark, sf_dir, root)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_rotation_staleness_sla():
    """VERDICT r8 item 2: the driver window rotation is an SLA, not a
    hand-pinned list. Simulate the rotation forward from the committed
    CORRECTNESS history: each simulated round verifies the first 50
    driver_order entries; assert no query ever waits longer than
    ceil((N - |pinned|) / (50 - |pinned|)) rounds between visits, and
    that the pinned flagships are inside every window.

    RE-TIER DEBT (round 13): with N=338 the steady-state bound has zero
    slack (336/48 = exactly 7), so ANY tier-1 backlog at window start —
    ledger entries whose `since` outruns their last green, i.e. plans
    re-tiered by a helper edit or the r13 migration audit — displaces
    rotation slots and stretches some gap past the bound while the debt
    drains. That debt is the closure-hash mechanism WORKING (stale
    greens must not attest edited plans), so the SLA degrades by
    exactly the drain time: max gap <= bound + ceil(debt / slots).
    Debt itself is capped at two windows — a bulk edit that re-tiers
    more than 2x48 plans must be split across rounds (same spirit as
    the registry-growth cap)."""
    import math

    from dynaledger_spark.plans import registry as R

    reg = dict(REGISTRY)
    hist = dict(R.correctness_history())
    n_pinned = len(R._PINNED)
    slots = R._DRIVER_WINDOW
    bound = math.ceil((len(reg) - n_pinned) / (slots - n_pinned))
    assert bound <= 7, (
        f"registry grew past the 7-round staleness SLA: {len(reg)} queries "
        f"/ {slots - n_pinned} rotation slots -> {bound} rounds; raise the "
        "driver window or split the registry"
    )
    # tier-1 debt: entries whose committed greens no longer attest their
    # current plan (since > last green, or live hash != ledger hash)
    ledger = R.plan_state()
    debt = sum(
        1
        for n in reg
        if n not in R._PINNED
        and (
            hist.get(n, -1) < 0
            or (
                n in ledger
                and (
                    ledger[n].get("hash") != R.plan_hash(reg[n])
                    or hist.get(n, -1) < ledger[n].get("since", 0)
                )
            )
        )
    )
    rot_slots = slots - n_pinned
    assert debt <= 2 * rot_slots, (
        f"re-tier debt {debt} exceeds two driver windows ({2 * rot_slots}); "
        "split the bulk edit across rounds so greens can keep pace"
    )
    debt_rounds = math.ceil(debt / rot_slots)
    start = max(hist.values(), default=0) + 1
    visits: dict[str, list[int]] = {n: [] for n in reg}
    sim = dict(hist)
    for rnd in range(start, start + 3 * bound):
        window = R.driver_order(reg, history=sim)[:slots]
        for p in R._PINNED:
            assert p in window[:n_pinned]
        for n in window:
            sim[n] = rnd
            visits[n].append(rnd)
    # steady state: every query visited, max gap between consecutive
    # visits within the bound + the debt drain time (ignore the
    # pre-history warm-in gap)
    # The debt slack applies ONLY to gaps that can still feel the drain:
    # tier-1 re-verifies displace rotation slots for debt_rounds rounds,
    # and that one-time phase shift ripples through the LRU queue for up
    # to two further rotations (the bound has zero slack at N=338, so
    # each displaced visit re-displaces its slot's next occupant;
    # empirically the latest +1 gap starts debt_rounds + ~1.7·bound
    # after the drain begins). Gaps starting later must meet the plain
    # bound — a debt-carrying round cannot grant every plan PERMANENT
    # extra staleness headroom (ADVICE r13 item 2).
    ripple_end = start + debt_rounds + 2 * bound
    for n, vs in visits.items():
        assert vs, f"{n} never entered the window in {3 * bound} rounds"
        for a, b in zip(vs, vs[1:]):
            allowed = bound + (debt_rounds if a < ripple_end else 0)
            assert b - a <= allowed, (
                f"{n} staleness {b - a} rounds (visits {a}->{b}) exceeds "
                f"SLA {bound}"
                + (f" + debt drain {debt_rounds}" if a < ripple_end else "")
            )


def test_unpersist_discipline(spark, sf_dir):
    """VERDICT r9 item 3: an embedding application that calls registry
    builds directly (no harness clearCache) must not accumulate cached
    blocks for the life of its session.  Build + fully materialize 20+
    persisting queries, drop the results, and assert the SparkContext
    holds zero persistent RDDs — the weakref release hook attached by
    register() (plans/cache.py) owns each build's persisted
    intermediates."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    # Other tests' module-scoped fixtures (e.g. `plans`) hold built
    # DataFrames ALIVE — their localCheckpoint RDDs are strongly
    # referenced and legitimately uncollectable here.  Snapshot them and
    # assert on the DELTA: nothing built in THIS test may survive.
    base_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    persisters = [
        "copurchase_triangles", "anomaly_dow_hour_baseline",
        "basket_association_rules", "bigram_interpolated_logprob",
        "cms_heavy_hitters", "cusum_changepoint", "item_cf_cosine",
        "jaccard_prefix_filter_join", "mad_outlier_days",
        "markov_sequence_score", "pmi_collocations",
        "quantized_cosine_pairs", "rolling_purchase_features",
        "theil_sen_daily_trend", "triplet_sample_contrastive",
        "pagerank_portable_fixedpoint", "semdedup_prune",
        "fastss_edit1_pairs", "kmv_theta_sketch_pairs",
        "lpa_communities_fixed", "tfidf_cosine_pairs",
        "sequential_pattern_support",
    ]
    for name in persisters:
        df = REGISTRY[name].build(spark, sf_dir)
        assert df.count() >= 0
        del df
    gc.collect()
    # The unbounded leak class: CacheManager holds STRONG references to
    # cached plans, so an unreleased persist() lives for the session's
    # lifetime. This must be empty purely from the release hooks.
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), (
        "CacheManager still holds cached plans after dropping the "
        "results of 22 persisting builds — a tracked_persist release "
        "hook is missing or a builder persists outside tracked_persist"
    )
    # localCheckpoint residue (pagerank/LPA/k-core iteration rounds) is
    # ContextCleaner-owned: persistentRdds holds them WEAKLY, so once
    # the Python wrappers detach and the JVM GCs, the entries drain on
    # their own — bounded wait, no clearCache.
    import time

    jvm = spark.sparkContext._jvm

    def new_ids():
        ids = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        return ids - base_ids

    # 90s: at the tail of a full-suite run the ContextCleaner's weak-ref
    # queue can lag tens of seconds behind System.gc() (observed once at
    # 30s on a 23-minute loaded session; passes in seconds when quiet).
    # The CacheManager assertion above is the strong-reference leak
    # check; this block only waits out the cleaner.
    deadline = time.time() + 90
    leaked = new_ids()
    while leaked and time.time() < deadline:
        gc.collect()
        jvm.System.gc()
        jvm.System.runFinalization()
        time.sleep(0.5)
        leaked = new_ids()
    assert not leaked, (
        f"{len(leaked)} persistent RDDs from this test's builds remain "
        "after GC — localCheckpoint blocks are not being reclaimed "
        "(strongly referenced somewhere?)"
    )


def test_concurrent_builds_release_only_their_own_persists(spark):
    """Two registry builds in flight on two threads collect their
    tracked_persist frames into separate buckets: dropping one result
    releases its own persists and leaves the other build's cached."""
    import gc
    import threading

    from dynaledger_spark.plans import cache

    both_open = threading.Barrier(2, timeout=60)
    built: dict[str, tuple] = {}

    def build(name: str, n: int) -> None:
        outermost = cache.begin_build()
        both_open.wait()
        try:
            kept = cache.tracked_persist(spark.range(n))
            both_open.wait()
        finally:
            persisted = cache.end_build(outermost)
        result = cache.attach_release(kept.selectExpr("id + 1 AS v"), persisted)
        built[name] = (outermost, persisted, kept, result)

    threads = [
        threading.Thread(target=build, args=(name, n))
        for name, n in (("a", 7), ("b", 11))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert built["a"][:2] == (True, [built["a"][2]])
    assert built["b"][:2] == (True, [built["b"][2]])
    kept_a, kept_b = built["a"][2], built["b"][2]
    assert kept_a.is_cached and kept_b.is_cached

    result_a = built.pop("a")[3]
    del result_a
    gc.collect()
    assert kept_a.storageLevel.useMemory is False
    assert kept_b.storageLevel.useMemory is True
    del built
    gc.collect()
    assert kept_b.storageLevel.useMemory is False


def test_regression_reenters_window():
    """ADVICE r9 item 1: a query whose LATEST driver record is a failure
    must sort as never-verified (tier 1) even if an older round was
    green — otherwise a regression waits up to the full staleness bound
    behind genuinely-stale greens.  Build a synthetic CORRECTNESS
    history where `q_regressed` is green in r1 but fails in r2, and
    assert correctness_history drops it and driver_order ranks it ahead
    of a query last green in r1."""
    import json
    import shutil
    import tempfile

    from dynaledger_spark.plans import registry as R

    root = tempfile.mkdtemp(prefix="dl_hist_")
    try:
        green = {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "spark_rows": 1,
            "oracle_rows": 1,
            "err": None,
        }
        fail = dict(green, rows_match=False, hash_match=False)
        with open(f"{root}/CORRECTNESS_r01.json", "w") as fh:
            json.dump({"q_regressed": green, "q_stale": green}, fh)
        with open(f"{root}/CORRECTNESS_r02.json", "w") as fh:
            json.dump({"q_regressed": fail}, fh)
        hist = R.correctness_history(root)
        assert "q_regressed" not in hist, (
            "latest-failed query must not keep its old green round"
        )
        assert hist == {"q_stale": 1}
        # numeric (not lexical) round ordering: r10 green supersedes an
        # r9 failure for a different query
        with open(f"{root}/CORRECTNESS_r09.json", "w") as fh:
            json.dump({"q_late": fail}, fh)
        with open(f"{root}/CORRECTNESS_r10.json", "w") as fh:
            json.dump({"q_late": green}, fh)
        hist = R.correctness_history(root)
        assert hist.get("q_late") == 10
        # driver_order: the regressed query outranks the stale green
        reg = {
            n: REGISTRY["fact_build"] for n in ("q_regressed", "q_stale")
        }
        order = R.driver_order(reg, history=R.correctness_history(root))
        assert order.index("q_regressed") < order.index("q_stale")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_changed_plan_reenters_window():
    """VERDICT r10 item 1: a green only counts for rotation if it
    attests the CURRENT plan.  Simulate 'edit a green query' two ways —
    the ledger records a newer plan version (since > last green), and
    the live source no longer matches the ledger hash (edited without
    re-running tools/update_plan_hashes.py) — and assert the query
    re-enters tier 1 ahead of every ordinary green."""
    from dynaledger_spark.plans import registry as R

    names = ("q_edited_since", "q_edited_hash", "q_green")
    reg = {n: REGISTRY["fact_build"] for n in names}
    h = R.plan_hash(REGISTRY["fact_build"])
    hist = {n: 5 for n in names}  # all last green in round 5
    state = {
        "q_edited_since": {"hash": h, "since": 6},  # rewritten after green
        "q_edited_hash": {"hash": "0" * 16, "since": 0},  # stale ledger
        "q_green": {"hash": h, "since": 0},
    }
    order = R.driver_order(reg, history=hist, state=state)
    assert order.index("q_edited_since") < order.index("q_green")
    assert order.index("q_edited_hash") < order.index("q_green")
    # and once the driver re-greens it (round >= since, ledger synced),
    # it drops back to ordinary rotation
    hist2 = dict(hist, q_edited_since=6)
    state2 = dict(state, q_edited_hash={"hash": h, "since": 0})
    order2 = R.driver_order(reg, history=hist2, state=state2)
    assert order2[-1] == "q_edited_since"  # newest green → back of queue


def test_plan_closure_includes_shared_helpers():
    """ADVICE r11 item 1 (mechanism): plan_hash must cover the static
    closure of repo-local helpers — same-module privates, cross-module
    functions reached through body-local imports, and module-level
    constants — not just the registered builder's body."""
    from dynaledger_spark.plans import registry as R

    cs = R.plan_closure_sources(REGISTRY["fact_build"])
    # body-local `from dynaledger_spark.catalog import read_table`
    # inside queries_core._t must be followed two hops deep
    assert "dynaledger_spark.catalog.read_table" in cs
    assert "dynaledger_spark.plans.queries_core._t" in cs
    assert "dynaledger_spark.functions.agg.dsum" in cs
    # constants referenced by followed helpers are captured too
    cs2 = R.plan_closure_sources(REGISTRY["rag_pipeline_e2e"])
    assert "dynaledger_spark.plans.queries_retrieval._RAG_CELL_CAP" in cs2


def test_schema_constant_edit_moves_plan_hash():
    """VERDICT r12 item 2 (done-criterion): a module-level value that is
    neither function/class/primitive/set/regex — a StructType schema
    constant is the canonical case — must be part of the closure, so
    editing the schema re-tiers every builder that references it. The
    old walker silently omitted such values (under-approximation, the
    miss direction the closure exists to close)."""
    import importlib
    import linecache
    import shutil
    import sys
    import tempfile
    import textwrap

    from dynaledger_spark.plans import registry as R

    root = tempfile.mkdtemp(prefix="dl_schema_probe_")
    mod_name = "dynaledger_spark_tmp_schema_probe"  # prefix-matched repo-local
    path = f"{root}/{mod_name}.py"

    def write_module(extra_field: str) -> None:
        with open(path, "w") as fh:
            fh.write(textwrap.dedent(f"""
                from pyspark.sql import types as T

                SCHEMA = T.StructType([
                    T.StructField("a", T.LongType()),{extra_field}
                ])

                def builder(spark, sf_dir):
                    return spark.createDataFrame([], SCHEMA)
                """))
        linecache.clearcache()

    sys.path.insert(0, root)
    try:
        write_module("")
        mod = importlib.import_module(mod_name)
        spec = R.QuerySpec(name="q_schema", build=mod.builder, oracle="SELECT 1")
        cs = R.plan_closure_sources(spec)
        assert f"{mod_name}.SCHEMA" in cs, "StructType constant must be captured"
        assert "StructField('a'" in cs[f"{mod_name}.SCHEMA"]
        h_orig = R.plan_hash(spec)
        builder_src = R._fn_source(mod.builder)

        # schema edit — builder source byte-identical, hash must move
        write_module(' T.StructField("b", T.StringType()),')
        mod = importlib.reload(mod)
        spec = R.QuerySpec(name="q_schema", build=mod.builder, oracle="SELECT 1")
        assert R._fn_source(mod.builder) == builder_src
        assert R.plan_hash(spec) != h_orig, "schema edit must change plan_hash"
    finally:
        sys.path.remove(root)
        sys.modules.pop(mod_name, None)
        shutil.rmtree(root, ignore_errors=True)


def test_stable_render_is_canonical():
    """ADVICE r12: nested sets repr in hash-randomized order and objects
    in containers repr with memory addresses — either would make
    plan_hash flap across processes. _stable_render must sort sets at
    any depth, render callables as dotted references, and replace
    address-bearing reprs with a typed __UNHASHED__ marker."""
    from dynaledger_spark.plans import registry as R

    # set nested in a tuple: order-independent, sorted
    assert R._stable_render(({3, 1, 2}, "x")) == R._stable_render(({2, 3, 1}, "x"))
    assert R._stable_render({1, 2}) == repr(sorted({1, 2}, key=repr))  # no churn
    # callables/classes/modules render as dotted references, not reprs
    import math
    assert "0x" not in R._stable_render((math.sqrt, int, math))
    # default-repr object inside a dict: loud typed marker, no address
    class _Opaque:  # noqa: N801
        pass
    rendered = R._stable_render({"k": _Opaque()})
    assert "__UNHASHED__" in rendered and " at 0x" not in rendered
    # pure-literal containers are byte-identical to repr (ledger no-churn)
    for v in [(1, "a", 2.5), [1, [2, 3]], {"a": (1,)}, (7,), (), b"x", None]:
        assert R._stable_render(v) == repr(v), v


def test_plan_closures_never_truncate():
    """The closure walker's runaway budget (400 objects) must never
    engage on a real registry entry — truncation would under-hash the
    plan, the exact miss direction the closure exists to close. The
    walker records a __TRUNCATED__ marker when it happens; no entry may
    carry one."""
    from dynaledger_spark.plans import registry as R

    truncated = sorted(
        n for n, s in REGISTRY.items()
        if "__TRUNCATED__" in R.plan_closure_sources(s)
    )
    assert not truncated, (
        f"closure budget exhausted for {truncated[:5]} — raise the budget "
        "in plan_closure_sources (their hashes are under-covering)"
    )


def test_helper_edit_retiers_callers():
    """ADVICE r11 item 1 (end-to-end): editing a SHARED HELPER a builder
    calls — or a module-level constant it reads — must change the
    builder's plan_hash so driver_order sends the caller back to tier 1
    even though the registered function body is byte-identical."""
    import importlib
    import linecache
    import shutil
    import sys
    import tempfile
    import textwrap

    from dynaledger_spark.plans import registry as R

    root = tempfile.mkdtemp(prefix="dl_closure_")
    mod_name = "dynaledger_spark_tmp_closure_probe"  # prefix-matched as repo-local
    path = f"{root}/{mod_name}.py"

    def write_module(helper_body: str, const: int) -> None:
        with open(path, "w") as fh:
            fh.write(textwrap.dedent(f"""
                _CUT = {const}

                def _helper(x):
                    return {helper_body}

                def builder(spark, sf_dir):
                    return _helper(_CUT)
                """))
        linecache.clearcache()

    sys.path.insert(0, root)
    try:
        write_module("x + 1", 7)
        mod = importlib.import_module(mod_name)
        spec = R.QuerySpec(name="q_helper", build=mod.builder, oracle="SELECT 1")
        h_orig = R.plan_hash(spec)
        builder_src_orig = R._fn_source(mod.builder)

        # 1) helper body edit — builder source identical, hash must move
        write_module("x + 2", 7)
        mod = importlib.reload(mod)
        spec = R.QuerySpec(name="q_helper", build=mod.builder, oracle="SELECT 1")
        assert R._fn_source(mod.builder) == builder_src_orig
        h_helper_edit = R.plan_hash(spec)
        assert h_helper_edit != h_orig, "helper edit must change plan_hash"

        # 2) constant edit — also semantic, also must move
        write_module("x + 2", 8)
        mod = importlib.reload(mod)
        spec = R.QuerySpec(name="q_helper", build=mod.builder, oracle="SELECT 1")
        h_const_edit = R.plan_hash(spec)
        assert h_const_edit != h_helper_edit, "constant edit must change plan_hash"

        # 3) driver_order: the ledger still holds the pre-edit hash, so
        # the caller re-enters tier 1 ahead of an ordinary green
        green_hash = R.plan_hash(REGISTRY["fact_build"])
        reg = {"q_helper": spec, "q_green": REGISTRY["fact_build"]}
        hist = {"q_helper": 5, "q_green": 1}  # helper green is NEWER
        state = {
            "q_helper": {"hash": h_orig, "since": 0},
            "q_green": {"hash": green_hash, "since": 0},
        }
        order = R.driver_order(reg, history=hist, state=state)
        assert order.index("q_helper") < order.index("q_green"), (
            "stale-helper green must re-tier ahead of ordinary rotation"
        )
    finally:
        sys.path.remove(root)
        sys.modules.pop(mod_name, None)
        shutil.rmtree(root, ignore_errors=True)


def test_plan_hashes_ledger_current():
    """The committed PLAN_HASHES.json must cover every registered query
    with its CURRENT hash — an edited builder/oracle without a ledger
    update would silently keep stale greens valid.  Fix with:
    python tools/update_plan_hashes.py"""
    from dynaledger_spark.plans import registry as R

    state = R.plan_state()
    assert state, "PLAN_HASHES.json missing or unreadable"
    missing = sorted(n for n in REGISTRY if n not in state)
    extra = sorted(n for n in state if n not in REGISTRY)
    stale = sorted(
        n for n in REGISTRY
        if n in state and state[n].get("hash") != R.plan_hash(REGISTRY[n])
    )
    assert not (missing or extra or stale), (
        f"PLAN_HASHES.json out of date (run tools/update_plan_hashes.py): "
        f"missing={missing[:5]} extra={extra[:5]} stale={stale[:5]}"
    )
    # `since` must never exceed the next driver round — a future round
    # would permanently pin the query into tier 1
    import glob as _glob
    import re as _re

    rounds = [
        int(m.group(1))
        for p in _glob.glob(f"{R._REPO_ROOT}/CORRECTNESS_r*.json")
        if (m := _re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    nxt = max(rounds, default=0) + 1
    bad = sorted(n for n, e in state.items() if e.get("since", 0) > nxt)
    assert not bad, f"since beyond next driver round {nxt}: {bad[:5]}"


def test_round9_query_plan_shapes(plans):
    """Round-9 additions: the corpus-sized joins must be hash/equi
    (user_id extracted as the equi key in the pattern probe; the FS
    blocking join equi on (segment, bucket)); priority sampling's
    top-(k+1) must be a TakeOrderedAndProject (per-partition top-k +
    driver merge — the shape that samples 100 TB without a shuffle),
    and nothing cartesian anywhere (the 1-row/lattice BNLJs are
    whitelisted in test_no_cartesian_products)."""
    for name in (
        "sequential_pattern_support",
        "entity_golden_record",
        "priority_sample_subset_sum",
        "shapley_channel_attribution",
    ):
        assert "CartesianProduct" not in plans[name], name
    assert "TakeOrderedAndProject" in plans["priority_sample_subset_sum"]
    # equi joins planned as hash joins (broadcast at test SF; the keys,
    # not the strategy, are what survive a 1000-executor scale-up)
    for name in ("sequential_pattern_support", "entity_golden_record"):
        assert (
            "BroadcastHashJoin" in plans[name]
            or "SortMergeJoin" in plans[name]
            or "ShuffledHashJoin" in plans[name]
        ), name
