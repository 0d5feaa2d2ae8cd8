"""Layout-operator plan + property assertions: bucketed joins must be
shuffle-free, approx quantiles must be within tolerance."""

from __future__ import annotations

import os

from noaa_etl_daily_spark.registry import load_all

REGISTRY = load_all()


def test_bucketed_join_has_no_shuffle_below_join(spark, sf_dir):
    """The whole point of bucketing: the sort-merge join consumes bucket
    files directly — no Exchange on either join input. At fixture scale
    AQE prefers broadcasting the tiny orders side (also shuffle-free,
    but not what we're proving), so auto-broadcast is disabled for this
    check — the 100 TB regime where both sides are too big to
    broadcast."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["join_bucketed_colocated"].builder(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # keep only AQE's final plan — the appended "Initial Plan" section
    # repeats the pre-adaptive operators and would false-positive the
    # Exchange scan below
    plan = plan.split("== Initial Plan ==")[0]
    join_pos = plan.find("SortMergeJoin")
    assert join_pos != -1, f"expected a sort-merge join:\n{plan}"
    below_join = plan[join_pos:]
    # below the join, the bucketed scans feed it directly — the string
    # "Exchange" must not appear (BroadcastExchange included), and both
    # scans must report Bucketed: true
    assert "Exchange" not in below_join, (
        f"bucketed join still shuffles:\n{plan}"
    )
    assert below_join.count("Bucketed: true") == 2, plan


def test_approx_quantile_within_tolerance(spark, sf_dir):
    rows = REGISTRY["agg_approx_quantile"].builder(spark, sf_dir).collect()
    assert len(rows) >= 9  # 3 flags × 3 percentiles, flat rows
    for r in rows:
        assert r.exact_val > 0
        assert abs(r.approx_val - r.exact_val) / r.exact_val < 0.01, (
            f"{r.l_returnflag} p{r.p}: approx={r.approx_val} "
            f"exact={r.exact_val}"
        )


def test_python_datasource_writer_roundtrip(spark, sf_dir):
    """Pure-Python sink (Spark 4 DataSourceWriter): per-partition jsonl
    files + a two-phase commit marker; rows must round-trip exactly."""
    import json
    import os
    import shutil

    from noaa_etl_daily_spark.operators.scans import _scratch, _sf_tag
    from noaa_etl_daily_spark.sources import register_sources
    from noaa_etl_daily_spark.tables import load

    register_sources(spark)
    out = _scratch("pyds_sink", _sf_tag(sf_dir), "nation")
    shutil.rmtree(out, ignore_errors=True)

    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.format("jsonl_sink").option("path", out).mode(
        "overwrite"
    ).save()

    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    got = []
    for fn in sorted(os.listdir(out)):
        if fn.endswith(".jsonl"):
            with open(os.path.join(out, fn)) as f:
                got += [json.loads(line) for line in f]
    want = [r.asDict() for r in nation.collect()]
    key = lambda d: d["n_nationkey"]  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    # commit marker records the total row count
    with open(os.path.join(out, "_SUCCESS")) as f:
        assert int(f.read()) == len(want)


def test_partitioned_sink_read_prunes_partitions(spark, sf_dir):
    """Reading one l_returnflag from the partitioned sink must plan a
    partition-pruned scan (the 100 TB contract: a day-keyed reader
    touches one day's directories, not the whole table)."""
    from noaa_etl_daily_spark.operators.scans import _scratch, _sf_tag

    REGISTRY["sink_parquet_partitioned"].builder(spark, sf_dir).collect()
    out = _scratch("parquet_part", _sf_tag(sf_dir), "lineitem")
    df = spark.read.parquet(out).where("l_returnflag = 'R'")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], f"no partition pruning in plan:\n{plan}"
    # pruned read must equal a filtered full read
    full = spark.read.parquet(out).collect()
    assert len(df.collect()) == sum(
        1 for r in full if r.l_returnflag == "R"
    )


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The date-partitioned fact scan must carry a runtime
    dynamicpruningexpression in its PartitionFilters — i.e. the join
    to the filtered date dim prunes fact partitions at execution time,
    not just statically."""
    df = REGISTRY["join_partition_pruned_dynamic"].builder(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "dynamicpruningexpression" in plan.lower(), plan
    # and the pruning actually reaches the fact scan's partition filters
    lower = plan.lower()
    pf = lower.find("partitionfilters")
    assert pf != -1 and "dynamicpruning" in lower[pf : pf + 400], plan


def test_range_sorted_layout_files_are_disjoint_and_ordered(spark, sf_dir):
    """sink_range_sorted_layout must produce files whose ts ranges are
    pairwise disjoint (range partitioning) and whose row groups are
    internally non-decreasing (sortWithinPartitions) — the two
    properties parquet min/max skipping needs."""
    import glob
    import os

    import pyarrow.parquet as pq

    from noaa_etl_daily_spark.operators.scale_ops import (
        sink_range_sorted_layout,
    )
    from noaa_etl_daily_spark.operators.scans import SCRATCH

    sink_range_sorted_layout(spark, sf_dir).count()  # materialize the write
    tag = os.path.basename(sf_dir.rstrip("/"))
    files = sorted(
        glob.glob(os.path.join(SCRATCH, "range_sorted", tag, "events", "*.parquet"))
    )
    assert len(files) > 1
    spans = []
    for path in files:
        pf = pq.ParquetFile(path)
        idx = pf.schema_arrow.names.index("ts")
        mins, maxs = [], []
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        assert mins == sorted(mins), f"{path} row groups out of order"
        spans.append((min(mins), max(maxs)))
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo, "file time ranges overlap — range partitioning broken"


def test_embed_cosine_blocked_plan_has_no_nested_loop(spark, sf_dir):
    """The round-2 verdict flagged the embed-cosine dedup's O(n²)
    non-equi self-join (BroadcastNestedLoopJoin). The reworked primary
    must plan ONLY equi-joins: candidates from the (table_id, bucket)
    join, vector fetches on vec_id. Locks the fix against regression."""
    df = REGISTRY["llm_dedup_embed_cosine"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_lateness_accounting_window_is_partitioned(spark, sf_dir):
    """The round-2 verdict flagged the lateness diagnostic's global
    (single-partition) running-max window. The sharded rework must
    partition the window on the ingest-shard key — no empty
    partition-spec Window anywhere in the executed plan."""
    df = REGISTRY["evt_lateness_accounting"].builder(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    windows = [line for line in plan.splitlines() if "Window [" in line]
    assert windows, plan
    for line in windows:
        # node renders as: Window [funcs], [partition cols], [ordering] —
        # a global window has an EMPTY partition list `], [], [`; the
        # shard expression surfaces as an internal _wN alias, so assert
        # non-emptiness of the partition spec rather than a column name
        assert "], [], [" not in line, f"unpartitioned window:\n{line}"


def test_entry_surfaces_uncertified_queries_first():
    """The driver samples ~50 queries per round in queries() iteration
    order, so __spark_entry__ orders never-certified keys first. Locks
    that contract: every key that already has a CORRECTNESS row from a
    prior round must sort after every key that has none."""
    import __spark_entry__ as e

    q = list(e.queries())
    certified = e._certified()
    assert certified, "expected prior-round CORRECTNESS files in the repo"
    uncert = [n for n in q if n not in certified]
    # all uncertified keys come first, as one contiguous prefix
    assert q[: len(uncert)] == uncert


def test_static_partition_pruning_reaches_scan(spark, sf_dir):
    """The literal partition-column filter must surface as a
    PartitionFilters entry on the pruned layout's scan (and NOT as a
    post-scan Filter over all partitions)."""
    df = REGISTRY["scan_partition_pruned_static"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(
        line for line in plan.splitlines() if "FileScan parquet" in line
    )
    assert "PartitionFilters: [" in scan, scan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan).group(1)
    assert "l_returnflag" in pf and "R" in pf, scan


def test_registry_wide_plan_lint(spark, sf_dir):
    """Scale-discipline lint over EVERY registered query's optimized
    plan: no CartesianProduct anywhere, and BroadcastNestedLoopJoin
    only where a side is provably tiny by construction (the whitelist
    below documents each case). This is the repo's 'no O(n²) plan
    sneaks in' invariant as an executable test rather than a claim in
    PLANS.md."""
    # BNLJ-whitelisted queries: the non-equi side is a 1-row scalar
    # aggregate or a ~1%-of-corpus broadcast query set — bounded
    # regardless of corpus size (documented in each docstring).
    BNLJ_OK = {
        "llm_sim_topk_cosine",        # ~20-row query side broadcast
        "llm_sim_topk_cosine_local_prune",  # same bounded query broadcast
        "llm_dedup_embed_cosine_bruteforce",  # documented O(n²) baseline
        "llm_text_perplexity_proxy",  # 1-row corpus-total scalar
        "llm_embed_norm_outliers",    # 1-row (mu, sigma) scalar
        "llm_anchor_negative_triplets",  # ~1% anchor broadcast
        "join_cross",                 # the cartesian surface itself
        "join_theta_range",           # non-equi interval join, one side filtered
        "evt_funnel_steps",           # 1-row stage-count scalars
        "agg_theta_sketch_setops",    # 1-row × 1-row sketch join
        "evt_experiment_ab_analysis", # 1-row wide pivot
        "llm_dataset_card_stats",     # 1-row summary joins
        "llm_mix_sampling_weights",   # corpus-total scalar
        "llm_text_tfidf",             # corpus doc-count scalar
        "evt_gap_filled_series",      # 1-row min/max calendar seed
        "evt_anomaly_zscore",         # 1-row moment scalars
        "llm_decontaminate_overlap",  # small eval-set broadcast
        "pipeline_top_supplier",      # 1-row global max
        "agg_kll_quantile_sketch",    # 1-row merged sketch
        "llm_pack_token_shards",      # corpus-total scalar
        "llm_split_train_test",       # corpus-total scalar
        "llm_sample_stratified_hash", # per-stratum total scalar
        "fn_haversine_distance",      # station-dim pair space (a sensor
                                      # network is physically bounded; the
                                      # docstring documents the blocked-join
                                      # rewrite for unbounded dims)
        "fn_levenshtein_fuzzy_match", # 25-row nation-name pair space
        "fn_trigram_similarity",      # same 25-row dim pair space
                                      # (inverted-index path documented)
        "llm_sim_ivf_topk",           # K=10-row codebook broadcast (the
                                      # IVF scoring pass is map-only by
                                      # design; K is a constant)
        "llm_sim_ivf_kmeans_topk",    # K=8-row TRAINED codebook broadcast
                                      # (same bound as llm_sim_ivf_topk;
                                      # label-free cells, WAVE11)
        "llm_sim_ivf_partition_pruned",  # same K-row STORED codebook
                                      # broadcast ranking query cells
                                      # (WAVE16; corpus side is the
                                      # partition-pruned scan, equi-joined)
        "llm_sim_ivfpq_kmeans_topk",  # same K-row trained-cell broadcast
                                      # (the composed label-free cascade;
                                      # PQ scoring joins are equi-keyed)
        "evt_power_users",            # 1-row p90 threshold scalar
        "evt_activity_autocorr",      # 1-row × 1-row moment scalars
        "pipeline_dormant_customers", # 1-row global-average scalar
        "llm_collocation_pmi",        # 1-row corpus-total scalar
        "agg_benford_digit_quality",  # 1-row total-count scalar
        "pipeline_basket_affinity",   # 1-row order-total scalar
        "llm_minhash_calibration",    # 10% sample all-pairs audit (bounded
                                      # by the sample rate, documented)
        "agg_mutual_information",     # 1-row total-count scalar
        "llm_negative_sampling",      # 1-row vocab-size + 2-row k literals
        "evt_cusum_changepoint",      # 1-row stats + 1-row peak scalars
        "agg_countmin_sketch",        # 4-row depth literal fan-out
        "agg_ab_srm_check",           # 1-row total-count scalar
        "llm_topic_keywords_chi2",    # 1-row corpus-total scalar
        "agg_fk_integrity_audit",     # 1-row × 1-row relation assembly
        "evt_control_chart",          # 1-row center-line scalar
        "llm_bloom_decontaminate",    # 1-row census assembly scalars
        "llm_curation_drift_monitor", # 1-row cohort-total scalar over
                                      # |stages| rows (PSI arithmetic)
        "llm_curation_drift_incremental",  # same 1-row total scalar
                                      # (shared _drift_funnel_psi)
        "pipeline_drift_gate",        # 1-row gate-verdict scalar over
                                      # |stages| rows (same
                                      # _drift_funnel_psi monitor)
        "llm_interpolated_lm_ppl",    # 1-row unigram-total scalar
        "evt_survival_km",            # >=t join over the <=30-row
                                      # lifetime table (calendar-bounded)
        "agg_ks_two_sample",          # 1-row sizes scalar
        "agg_ks_two_sample_atscale",  # same builder as agg_ks_two_sample
        "evt_max_drawdown",           # 1-row worst-drawdown scalar
        "agg_lorenz_curve",           # 1-row revenue-total scalar
        "agg_lorenz_curve_atscale",   # same builder as agg_lorenz_curve
        "agg_population_stability_index",  # 1-row decile-edge + totals
                                           # scalars
        "agg_psi_kll_edges",          # same 1-row edge/total scalars
                                      # (edges from the KLL sketch)
        "graph_triangle_census",      # 1-row n_edges × 1-row n_triangles
                                      # scalar assembly
        "pipeline_important_stock",   # 1-row Q11 supply-total scalar
        "llm_semdedup_cells",         # K-row centroid codebook broadcast
                                      # (same bound as llm_sim_ivf_topk)
        "llm_semdedup_cells_kmeans",  # same K-row codebook broadcast,
                                      # TRAINED cells (WAVE13 c4); the
                                      # dedup half is equi-keyed on cell
        "llm_sim_ivfpq_topk",         # K-row cell codebook broadcast
                                      # (the composed IVF half; the PQ
                                      # scoring joins are equi-keyed)
        "pipeline_multimodal_curation",  # K-row centroid codebook
                                      # broadcast (the SemDeDup stage;
                                      # same bound as llm_semdedup_cells)
        "pipeline_incremental_curation",  # same K-row codebook broadcast
                                      # (standing-cell assignment of the
                                      # new batch + standing occupants)
        "agg_neyman_allocation",      # 1-row weight-total scalar over
                                      # |strata| rows
        "agg_beta_binomial_smoothing",  # 1-row global-prior scalar
        "evt_shapley_attribution",    # 16-row coalition lattice (2^n for
                                      # n=4 channels, corpus-independent)
        "agg_jackknife_ratio_variance",  # 1-row totals × B=20 bucket rows
        "llm_dataset_mixture_weights",   # 1-row normalizer × |sources| rows
        "agg_tukey_hsd_pairs",        # 1-row pooled-MSW × C(k,2) pair rows
        "llm_kneser_ney_bigram",      # 1-row bigram-type total scalar
        "evt_competing_risks_cif",    # 1-row cohort-size scalar
        "evt_hurst_exponent",         # 1-row min-day seed × DAY rows
        "evt_extreme_value_pot",      # 1-row threshold/moment scalars
        "agg_rank_biased_overlap",    # |brands|-row depth/entry joins
        "evt_chain_ladder_projection",  # 1-row calendar-cap scalar
        "evt_lead_lag_ccf",           # 15-row lag-literal fan-out over
                                      # the bounded DAY table
        "agg_cramers_v",              # 1-row contingency-total scalar
    }
    # SinglePartition-exchange whitelist: every entry's single-partition
    # stage consumes ALREADY-REDUCED data (a one-row global reduce, or a
    # window over day/supplier/type-cardinality rows), reviewed
    # individually — a new query funneling RAW data through one
    # partition must either be redesigned or justified here.
    SINGLEPART_OK = {
        "agg_global",                 # 1-row global reduce of partials
        "agg_freq_items",             # sketch merge to 1 row
        "agg_kll_quantile_sketch",    # 12-sketch fold to 1 row
        "evt_cumulative_new_users",   # running sum over DAY rows
        "evt_experiment_ab_analysis", # 1-row wide pivot
        "evt_funnel_steps",           # 1-row stage counts
        "evt_gap_filled_series",      # 1-row min/max calendar seed
        "llm_dataset_card_stats",     # 1-row corpus summary
        "llm_embed_norm_outliers",    # 1-row (mu, sigma)
        "llm_mix_sampling_weights",   # 1-row corpus totals
        "llm_pack_token_shards",      # 1-row corpus totals
        "llm_text_perplexity_proxy",  # 1-row token total
        "llm_text_tfidf",             # 1-row corpus doc count
        "pipeline_revenue_forecast",  # 1-row Q6 aggregate
        "pipeline_top_supplier",      # global max over SUPPLIER rows
        "sql_session_variables",      # 1-row threshold-filtered reduce
        "agg_linear_regression_normal_eq",  # 1-row moment reduce
        "scan_file_metadata_column",  # per-FILE aggregate (files ≪ rows)
        "validate_expectations",      # 1-row rule summaries
        "win_year_over_year",         # lag(12) over MONTH rows
        "evt_power_users",            # 1-row p90 threshold scalar
        "agg_beta_binomial_smoothing",  # 1-row global-prior reduce
        "llm_vocab_coverage",         # coverage windows over VOCAB rows
                                      # (sublinear in corpus; documented)
        "evt_activity_autocorr",      # lead window over DAY rows + 1-row
                                      # integer-moment reduces
        "pipeline_small_qty_revenue", # 1-row Q17 global aggregate
        "pipeline_disjunctive_filter",# 1-row Q19 global aggregate
        "scan_text_lines",            # 1-row round-trip census aggregate
        "sql_transpose",              # transpose of a 3-row summary
        "pipeline_dormant_customers", # 1-row global-average scalar
        "scan_json_multiline",        # 1-document fold of the 25-row dim
        "evt_slo_burn_rate",          # sliding window over HOUR rows
        "llm_collocation_pmi",        # 1-row corpus-total reduce
        "agg_benford_digit_quality",  # 1-row total-count reduce
        "pipeline_basket_affinity",   # 1-row order-total reduce
        "validate_profile_census",    # 1-row wide profile reduce
        "evt_calendar_dim_join",      # 1-row min/max span seed for the
                                      # generated calendar spine
        "llm_negative_sampling",      # frequency-rank window over VOCAB
                                      # rows (sublinear in corpus)
        "agg_mutual_information",     # 1-row total reduce of the
                                      # types×24 joint matrix
        # the five ranked analytics (each also under its *_atscale
        # alias, same builder) keep one corpus-grain global window: it
        # beats the scale_rank form at sf0.01 and sf0.1 (PLANS.md)
        "llm_token_budget_selection", # admission cumsum over the
                                      # (id, score, tokens) projection
        "llm_token_budget_selection_atscale",
        "agg_ks_two_sample",          # CDF sort over the value projection
        "agg_ks_two_sample_atscale",
        "llm_eval_winrate",           # quartile ntile over DOC rows
        "llm_eval_winrate_atscale",
        "agg_lorenz_curve",           # decile ntile over CUSTOMER rows
        "agg_lorenz_curve_atscale",
        "agg_rfm_segmentation",       # ntile windows over CUSTOMER rows
        "agg_rfm_segmentation_atscale",
        "evt_cusum_changepoint",      # CUSUM window over DAY rows
        "agg_ab_srm_check",           # 1-row total reduce of 2 arm rows
        "llm_topic_keywords_chi2",    # 1-row total reduce of the count matrix
        "evt_alert_debounce",         # run windows over HOUR rows
        "agg_fk_integrity_audit",     # 1-row per-relation reduces
        "evt_control_chart",          # 1-row center-line reduce
        "agg_data_freshness_sla",     # 1-row max() per table
        "evt_seasonal_decompose",     # trend window over DAY rows
        "llm_bloom_decontaminate",    # 1-row census reduces
        "llm_curation_drift_monitor", # 1-row cohort-total reduce of
                                      # |stages| rows
        "llm_curation_drift_incremental",  # same 1-row total reduce
        "pipeline_drift_gate",        # 1-row gate-verdict reduce of
                                      # |stages| rows
        "llm_semdedup_cells",         # K-row codebook fold to the 1-row
                                      # broadcast cell array (_nearest_cell,
                                      # r12 — already-reduced input)
        "llm_semdedup_cells_kmeans",  # same K-row codebook fold
        "pipeline_multimodal_curation",  # same K-row codebook fold
        "pipeline_incremental_curation", # same K-row codebook fold
        "llm_interpolated_lm_ppl",    # 1-row unigram-total reduce
        "evt_survival_km",            # KM window over <=30 risk rows
        "llm_annotation_kappa",       # 1-row confusion-matrix reduce
        "llm_prefix_cache_analysis",  # 1-row census over prefix groups
        "agg_population_stability_index",  # 1-row edge/total reduces
        "agg_psi_kll_edges",          # 1-row sketch-merge + total reduces
        "llm_zipf_exponent_fit",      # rank window over VOCAB rows +
                                      # 1-row regression reduce
        "evt_max_drawdown",           # running windows over DAY rows
        "evt_forecast_backtest",      # lag windows over DAY rows + 1-row
                                      # score census
        "llm_embedding_drift_check",  # 1-row reduce of 64 dim rows
        "graph_triangle_census",      # 1-row count over the C(25,2)-bounded
                                      # edge list
        "pipeline_important_stock",   # 1-row Q11 supply-total reduce
        "graph_pagerank_brands",      # 1-row node-count reduce + rank
                                      # window over ≤|brands| rows
        "agg_neyman_allocation",      # remainder/total windows over
                                      # |strata| rows
        "agg_mann_whitney_u",         # 1-row rank-sum reduce + P-row
                                      # offsets window (scale_rank)
        "evt_sequential_sprt",        # SPRT ledger over DAY rows
        "agg_welch_ttest",            # 1-row reduce of 2 group-moment rows
        "evt_cuped_variance_reduction",  # 1-row moment reduce
        "agg_benjamini_hochberg_fdr",  # BH step-up over |event_type| rows
        "evt_diff_in_diff",           # 1-row reduce of 2 group-moment rows
        "agg_anova_oneway",           # 1-row reduce of k group-moment rows
        "agg_jackknife_ratio_variance",  # 1-row reduce of 20 bucket rows
        "llm_dataset_mixture_weights",   # 1-row normalizer reduce of
                                         # |sources| rows
        "agg_spearman_rank_corr",     # P-row offsets windows (scale_rank)
                                      # + 1-row moment reduce
        "evt_uplift_qini_deciles",    # P-row offsets window (scale_rank)
                                      # + cumulative window over 10 deciles
        "evt_rolling_correlation",    # rolling windows over DAY rows
        "llm_capture_recapture_estimate",  # 1-row Chapman-count reduce
        "evt_offpolicy_ips_snips",    # 1-row reduce of 24x|types| cells
        "agg_tukey_hsd_pairs",        # 1-row pooled reduce of k moments
        "llm_kneser_ney_bigram",      # 1-row type-total reduce + bounded
                                      # top-30 presentation sort
        "evt_competing_risks_cif",    # DAY-grain risk/CIF windows +
                                      # 1-row cohort reduce
        "agg_mcnemar_paired",         # 1-row 2x2 concordance reduce
        "evt_extreme_value_pot",      # value-grain histogram cumsum +
                                      # 1-row moment reduces
        "agg_rank_biased_overlap",    # 1-row reduce of |brands| depth rows
        "evt_chain_ladder_projection",  # AGE-grain factor suffix window
        "evt_hurst_exponent",         # 1-row size-table pivot; block
                                      # windows are (m, b)-partitioned
        "agg_gumbel_block_maxima",    # 1-row moment reduce of MONTH rows
        "agg_cramers_v",              # 1-row reduce of the types×7 cell
                                      # matrix
        # scale_rank / with_cumsum consumers: their only
        # single-partition stages are the P-row partition-offset window
        # (P = shuffle-partitions conf, corpus-independent) and 1-row
        # total reduces
        "llm_pack_token_shards",
        "pipeline_token_budget_curriculum",  # P-row offsets windows
                                      # (distributed rank + one
                                      # index-bucketed prefix sum of
                                      # the 4 epoch sums)
        "pipeline_curriculum_pack",   # same scale_rank machinery: P-row
                                      # offsets windows (distributed
                                      # rank + one index-bucketed
                                      # epoch-1 prefix sum)
        # r13 low-cardinality-window rewrites (guide §2.5): each key's
        # single-partition stages are scale_rank's P-row offsets window
        # plus a ≤3-row per-flag prefix/offset window — never raw data
        "agg_weighted_median",
        "win_pareto_8020",
        "win_percent_rank_cume_dist",
        "win_rank_dense_ntile",
    }
    # Unpartitioned-WINDOW whitelist (VERDICT r4 task 3): a logical
    # Window with an EMPTY partition spec funnels its whole input
    # through one task. Allowed over provably bounded inputs — each
    # entry names the bound — and, for the five ranked analytics at the
    # head of the list, on measurement. Any NEW corpus-grain global
    # window must either use operators/scale_rank.py helpers or justify
    # itself here.
    UNPART_WINDOW_OK = {
        # corpus-grain global windows kept because they beat the
        # scale_rank range-rank form at sf0.01 and sf0.1 (PLANS.md);
        # each *_atscale key is the same builder as its original
        "agg_ks_two_sample",          # CDF sort over the value projection
        "agg_ks_two_sample_atscale",
        "agg_rfm_segmentation",       # customer-grain ntiles
        "agg_rfm_segmentation_atscale",
        "agg_lorenz_curve",           # customer-grain ntile + 10 decile rows
        "agg_lorenz_curve_atscale",
        "llm_eval_winrate",           # doc-grain ntile
        "llm_eval_winrate_atscale",
        "llm_token_budget_selection", # doc-grain admission cumsum
        "llm_token_budget_selection_atscale",
        # scale_rank consumers: offsets window over ≤P partition-count
        # rows (P = shuffle-partitions conf) + bounded result windows
        "llm_pack_token_shards",      # distributed prefix sum (P-row offsets)
        "pipeline_token_budget_curriculum",  # same P-row offsets windows
                                      # (scale_rank rank + one
                                      # with_dense_cumsum of 4 epoch sums)
        "pipeline_curriculum_pack",   # same P-row offsets windows
                                      # (scale_rank rank + one
                                      # with_dense_cumsum epoch-1 sum)
        # bounded post-reduction grains
        "evt_activity_autocorr",      # DAY-grain lead window
        "evt_alert_debounce",         # HOUR-grain run windows
        "evt_cumulative_new_users",   # DAY-grain running sum
        "evt_cusum_changepoint",      # DAY-grain CUSUM
        "evt_forecast_backtest",      # DAY-grain lag windows
        "evt_max_drawdown",           # DAY-grain running curves
        "evt_seasonal_decompose",     # DAY-grain trend window
        "evt_slo_burn_rate",          # HOUR-grain sliding window
        "evt_survival_km",            # ≤30 lifetime-day risk rows
        "llm_negative_sampling",      # VOCAB-grain frequency rank
        "llm_vocab_coverage",         # VOCAB-grain coverage windows
        "llm_zipf_exponent_fit",      # VOCAB-grain rank window
        "pipeline_top_supplier",      # SUPPLIER-grain revenue max
        "sql_recursive_cte",          # MONTH-grain (~80 rows) spine
        "win_year_over_year",         # MONTH-grain lag(12)
        "graph_pagerank_brands",      # position window over ≤|brands| rows
        "agg_neyman_allocation",      # remainder rank over |strata| rows
        "agg_mann_whitney_u",         # P-row offsets window (scale_rank
                                      # prefix sum over value grain)
        "evt_sequential_sprt",        # cumulative ledger over DAY rows
        "agg_benjamini_hochberg_fdr",  # rank/step-up windows over
                                      # |event_type| metric rows
        "agg_spearman_rank_corr",     # P-row offsets windows (two
                                      # scale_rank passes, value grain)
        "evt_uplift_qini_deciles",    # P-row offsets window + 10-row
                                      # decile Qini cumsum
        "evt_rolling_correlation",    # DAY-grain rolling moment windows
        "evt_competing_risks_cif",    # DAY-grain KM/CIF running windows
        "evt_extreme_value_pot",      # cumulative counts over
                                      # DISTINCT-VALUE rows (threshold)
        "agg_rank_biased_overlap",    # BRAND-grain rank windows (≤25)
        "evt_chain_ladder_projection",  # AGE-grain factor suffix sums
        # r13 low-cardinality-window rewrites: P-row scale_rank offsets
        # windows + ≤3-row per-flag prefix windows
        "agg_weighted_median",
        "win_pareto_8020",
        "win_percent_rank_cume_dist",
        "win_rank_dense_ntile",
    }

    # --- r13 lint 4: low-cardinality-key window over a non-reduced
    # frame (VERDICT r12 item 5, completing the §J sweep). A Window
    # PARTITIONED BY a bounded-domain key over the RAW corpus hashes
    # everything into ≤|key-domain| reducers and sorts it there — the
    # guide §2.5 hot-key funnel AQE cannot rescue (skew handling
    # applies to joins only). r12 removed the known instances
    # (disposition counts §G, per-source rank §J); r13 rewrote the
    # four this lint caught on first run (agg_weighted_median,
    # win_pareto_8020, win_percent_rank_cume_dist, win_rank_dense_ntile
    # — all 3-reducer l_returnflag sorts of lineitem). Detection: the
    # partition keys all come from the bounded-domain column vocabulary
    # below (enum-like dims, calendar parts — scaling keys like
    # doc_id/user_id are NOT in it), with no Aggregate/Deduplicate/
    # WindowGroupLimit between the window and its leaves. ``__pid``
    # partitions are scale_rank's per-physical-partition windows
    # (P = shuffle conf, one task per partition by construction).
    BOUNDED_COLS = {
        "disposition", "source", "lang", "event_type", "l_returnflag",
        "l_linestatus", "o_orderpriority", "o_orderstatus", "c_mktsegment",
        "r_name", "n_name", "p_brand", "p_type", "p_container", "stage",
        "half", "grp", "decile", "bucket", "bin", "cohort", "quartile",
        "verdict", "month", "day", "hour", "dow", "epoch",
        "l_shipmode", "shard", "band", "cell",
        # NOT here: "segment" (llm_segment_dedup_global's segment column
        # is 8-word TEXT — high-cardinality by design)
    }
    # Audited survivors: each names why the bounded-key window is safe.
    LOW_CARD_WINDOW_OK = {
        "win_topk_per_group",   # rank<=3 WindowGroupLimit over l_returnflag
                                # (bounded per-reducer state — documented
                                # trade for the exact oracle-pinned top-k
                                # shape; the blanket REDUCED check also
                                # covers it, entry kept for the record)
        "evt_chain_ladder_projection",  # AGE-grain suffix window reads the
                                # pinned cum triangle (months² rows) — the
                                # LogicalRDD hides its Aggregate
        "win_quantile_normalize",  # windows are scale_rank's __pid form;
                                # listed for pinned-frame opacity only
        "win_rank_dense_ntile", # tie-rank/dense windows run over the
                                # PINNED (flag, quantity) count frame —
                                # bounded by the unit-quantity domain;
                                # the LogicalRDD hides its Aggregate
    }
    REDUCED = {"Aggregate", "Deduplicate", "GlobalLimit", "WindowGroupLimit"}

    def _walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from _walk(ch.apply(i))

    def _attr_names(expr):
        out = []
        it = expr.references().iterator()
        while it.hasNext():
            out.append(it.next().name())
        return out

    def _low_card_window_hits(opt_plan):
        hits = []
        for node in _walk(opt_plan):
            if node.nodeName() != "Window":
                continue
            pspec = node.partitionSpec()
            if pspec.isEmpty():
                continue  # the UNPART_WINDOW_OK lint's domain
            cols = set()
            for i in range(pspec.size()):
                cols.update(_attr_names(pspec.apply(i)))
            if not cols or "__pid" in cols:
                continue  # scale_rank per-physical-partition window
            if not cols <= BOUNDED_COLS:
                continue  # a scaling key spreads the reducers
            if any(
                c.nodeName() in REDUCED for c in _walk(node) if c is not node
            ):
                continue  # input already reduced below the window
            hits.append(sorted(cols))
        return hits

    cart_bad, bnlj_bad, sp_bad, win_bad, lowcard_bad, errors = (
        [], [], [], [], [], []
    )
    # r13: the default run lints a deterministic 1-in-4 key subset (the
    # seal lints all 465 via SPARK_GRAFT_FULL_SUITE=1); building every
    # plan was ~290 s of the driver-window wall. Sampling keys, not
    # rules: every plan rule still runs on every sampled key.
    from ._sampling import default_sample

    lint_keys = set(default_sample(sorted(REGISTRY), 4, salt="lint"))
    for name, q in sorted(REGISTRY.items()):
        if name not in lint_keys:
            continue
        try:
            qe = q.builder(spark, sf_dir)._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            opt = qe.optimizedPlan()
            unpart_windows = sum(
                1
                for node in _walk(opt)
                if node.nodeName() == "Window"
                and node.partitionSpec().isEmpty()
            )
            lowcard = _low_card_window_hits(opt)
        except Exception as ex:  # pragma: no cover
            errors.append((name, repr(ex)[:120]))
            continue
        if "CartesianProduct" in plan and name != "join_cross":
            cart_bad.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            bnlj_bad.append(name)
        if "Exchange SinglePartition" in plan and name not in SINGLEPART_OK:
            sp_bad.append(name)
        if unpart_windows and name not in UNPART_WINDOW_OK:
            win_bad.append(name)
        if lowcard and name not in LOW_CARD_WINDOW_OK:
            lowcard_bad.append((name, lowcard))
    assert not errors, errors
    assert not cart_bad, f"CartesianProduct outside join_cross: {cart_bad}"
    assert not bnlj_bad, (
        f"unwhitelisted BroadcastNestedLoopJoin (non-equi join on a "
        f"scaling side?): {bnlj_bad}"
    )
    assert not sp_bad, (
        f"unreviewed SinglePartition exchange (raw data through one "
        f"task?): {sp_bad}"
    )
    assert not win_bad, (
        f"unpartitioned Window over unreviewed input (single-task "
        f"funnel at scale — use operators/scale_rank.py helpers or "
        f"justify in UNPART_WINDOW_OK): {win_bad}"
    )
    assert not lowcard_bad, (
        f"Window partitioned by a bounded-domain key over a non-reduced "
        f"frame (<=|domain| reducers sort the corpus — rewrite as "
        f"groupBy+broadcast attach or scale_rank per-group offsets, or "
        f"justify in LOW_CARD_WINDOW_OK): {lowcard_bad}"
    )


def test_cached_cte_reuse_materializes_once(spark, sf_dir):
    """The twice-referenced monthly aggregate must be served from the
    cache on BOTH join inputs: two InMemoryTableScans and at most one
    shuffle Exchange under them (the single cache fill). Context: in
    Spark 4.1.2 the uncached form plans two independent aggregate
    stages (no ReuseExchange fires for this shape — measured this
    round), which is exactly why the operator caches explicitly."""
    df = REGISTRY["sql_cached_cte_reuse"].builder(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    # AQE renders cached inputs as TableCacheQueryStage wrapping an
    # InMemoryTableScan; non-adaptive plans show InMemoryTableScan
    # directly. Both join inputs must come from the cache...
    cache_reads = plan.count("TableCacheQueryStage") + plan.count(
        "InMemoryTableScan"
    )
    assert cache_reads >= 2, plan
    # ...and the raw table is scanned at most once (the cache fill),
    # not once per reference.
    assert plan.count("FileScan parquet") <= 1, plan


def test_zorder_layout_clusters_both_dimensions(spark, sf_dir):
    """sink_zorder_layout must produce files that are (a) disjoint in
    zvalue (range partitioning on the Morton key) and (b) clustered in
    BOTH underlying dimensions: the mean per-file span of user_id and
    of ts must each be a strict fraction of the global span — the
    property that lets footer min/max stats skip files for predicates
    on either column. A lexicographic sort would pass (b) only for its
    leading column."""
    import glob
    import os

    import pyarrow.parquet as pq

    from noaa_etl_daily_spark.operators.scale_ops import sink_zorder_layout
    from noaa_etl_daily_spark.operators.scans import SCRATCH

    sink_zorder_layout(spark, sf_dir).count()  # materialize the write
    tag = os.path.basename(sf_dir.rstrip("/"))
    files = sorted(
        glob.glob(os.path.join(SCRATCH, "zorder", tag, "events", "*.parquet"))
    )
    assert len(files) > 1
    stats = {"zvalue": [], "user_id": [], "ts": []}
    for path in files:
        pf = pq.ParquetFile(path)
        for col in stats:
            idx = pf.schema_arrow.names.index(col)
            mins, maxs = [], []
            for rg in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            stats[col].append((min(mins), max(maxs)))
    # (a) zvalue ranges disjoint across files
    zspans = sorted(stats["zvalue"])
    for (_, hi), (lo, _) in zip(zspans, zspans[1:]):
        assert hi <= lo, "file zvalue ranges overlap"
    # (b) both dims cluster: mean per-file span < 75% of global span
    for col in ("user_id", "ts"):
        spans = stats[col]
        glo = max(hi for _, hi in spans) - min(lo for lo, _ in spans)
        mean_span = sum(
            (hi - lo for lo, hi in spans),
            start=(spans[0][1] - spans[0][1]),  # zero of the right type
        ) / len(spans)
        assert mean_span < glo * 0.75, (
            f"{col}: mean file span {mean_span} not clustered vs global {glo}"
        )


def test_disjunctive_filter_pushes_to_both_scans(spark, sf_dir):
    """pipeline_disjunctive_filter (TPC-H Q19 shape): Catalyst must
    extract the side-local implications of the OR-of-ANDs predicate
    and push them into BOTH parquet scans (l_quantity range union into
    lineitem, p_brand/p_size union into part), leaving an equi-join —
    the classic Q19 optimizer behavior this query exists to lock."""
    df = REGISTRY["pipeline_disjunctive_filter"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    li = [s for s in scans if "lineitem.parquet" in s]
    part = [s for s in scans if "part.parquet" in s]
    assert li and "l_quantity" in li[0].split("PushedFilters")[1], li
    assert part and "p_brand" in part[0].split("PushedFilters")[1], part
    assert "CartesianProduct" not in plan


def test_range_sorted_layout_enables_file_skipping(spark, sf_dir):
    """The point of sink_range_sorted_layout: a narrow time predicate
    over the rewritten copy must actually SKIP most of the data at
    scan time. Evidence from the executed scan's own metrics: the scan
    emits only the rows of the files/row-groups whose footer stats
    overlap the predicate — far fewer than the full dataset — proving
    min/max skipping fires end-to-end, not just that footers look
    right."""
    import glob
    import os

    from pyspark.sql import functions as F

    from noaa_etl_daily_spark.operators.scale_ops import (
        sink_range_sorted_layout,
    )
    from noaa_etl_daily_spark.operators.scans import SCRATCH

    sink_range_sorted_layout(spark, sf_dir).count()  # materialize the write
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(SCRATCH, "range_sorted", tag, "events")
    assert len(glob.glob(os.path.join(out, "*.parquet"))) > 1
    back = spark.read.parquet(out)
    total = back.count()
    lo = back.agg(F.min("ts")).collect()[0][0]
    narrow = back.filter(F.col("ts") <= lo)  # matches the very first rows
    n = narrow.count()
    # pull the scan node's numOutputRows metric from the executed plan
    node = narrow._jdf.queryExecution().executedPlan()
    while node.nodeName() not in ("FileSourceScanExec", "Scan parquet") and node.children().size() > 0:
        node = node.children().apply(0)
    metrics = node.metrics()
    rows_read = metrics.apply("numOutputRows").value()
    files_read = (
        metrics.apply("filesRead").value()
        if metrics.contains("filesRead")
        else None
    )
    assert n >= 1
    # row-group pruning: the scan must not have materialized the whole
    # dataset to answer a first-instant predicate
    assert rows_read < total / 2, (rows_read, total)
    if files_read is not None:
        assert files_read == 1, f"expected 1 file read, got {files_read}"


def test_zorder_beats_lexicographic_on_second_dimension(spark, sf_dir):
    """The REASON to z-order instead of plain sort: write the same
    events lexicographically sorted by (user_id, ts) and compare
    per-file ts spans against the z-ordered layout — the lexicographic
    layout's mean ts span must be near-global (its files each contain
    a full slice of users, hence the whole month), while z-order's is
    materially tighter, i.e. only the Morton layout can skip files on
    the SECOND predicate column."""
    import glob
    import os

    import pyarrow.parquet as pq

    from noaa_etl_daily_spark.operators.scale_ops import sink_zorder_layout
    from noaa_etl_daily_spark.operators.scans import SCRATCH
    from noaa_etl_daily_spark.tables import load

    sink_zorder_layout(spark, sf_dir).count()
    tag = os.path.basename(sf_dir.rstrip("/"))

    lex_out = os.path.join(SCRATCH, "lex_sorted", tag, "events")
    (
        load(spark, sf_dir, "events")
        .repartitionByRange(8, "user_id", "ts")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .parquet(lex_out)
    )

    def mean_ts_span(root):
        spans = []
        for path in glob.glob(os.path.join(root, "*.parquet")):
            pf = pq.ParquetFile(path)
            idx = pf.schema_arrow.names.index("ts")
            mins, maxs = [], []
            for rg in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans.append((max(maxs) - min(mins)).total_seconds())
        assert len(spans) > 1
        return sum(spans) / len(spans)

    z_span = mean_ts_span(os.path.join(SCRATCH, "zorder", tag, "events"))
    lex_span = mean_ts_span(lex_out)
    # lexicographic files each cover ~the whole month on ts; z-order
    # files must be materially tighter on the same dimension
    assert z_span < 0.75 * lex_span, (z_span, lex_span)


def test_zstd_sink_writes_zstd_chunks(spark, sf_dir):
    """sink_parquet_zstd's codec option must actually reach the files:
    every column chunk of the written parquet reports ZSTD
    compression."""
    import glob
    import os

    import pyarrow.parquet as pq

    from noaa_etl_daily_spark.operators.scans import SCRATCH
    from noaa_etl_daily_spark.operators.scans import sink_parquet_zstd

    sink_parquet_zstd(spark, sf_dir).count()
    tag = os.path.basename(sf_dir.rstrip("/"))
    files = glob.glob(os.path.join(SCRATCH, "zstd", tag, "lineitem", "*.parquet"))
    assert files
    for path in files:
        md = pq.ParquetFile(path).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.row_group(rg).num_columns):
                assert md.row_group(rg).column(c).compression == "ZSTD", path


def test_shuffle_hash_hint_plans_shuffled_hash_join(spark, sf_dir):
    """join_shuffle_hash_hint's claim: the hint must produce a
    ShuffledHashJoin even where auto-broadcast would normally win, and
    with broadcast disabled it must displace the SortMergeJoin default
    (no per-partition sorts)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["join_shuffle_hash_hint"].builder(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_cluster_by_reuses_single_hash_exchange(spark, sf_dir):
    """sql_distribute_cluster_by's contract: the CLUSTER BY subquery's
    REPARTITION_BY_COL exchange is the ONLY hash exchange — the
    downstream aggregate satisfies its distribution requirement from it
    instead of inserting a second shuffle (the final rangepartitioning
    belongs to the output ORDER BY, not the aggregate)."""
    from noaa_etl_daily_spark.registry import load_all

    reg = load_all()
    plan = (
        reg["sql_distribute_cluster_by"]
        .builder(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    hash_exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(hash_exchanges) == 1, plan
    assert "REPARTITION_BY_COL" in hash_exchanges[0], plan


def test_bloom_filter_layout_carries_filter_bytes(spark, sf_dir):
    """The bloom-indexed events copy must physically CONTAIN the bloom
    filters: same rows as a bloom-free twin with IDENTICAL encodings
    (dictionary disabled on user_id in both — parquet-mr suppresses
    blooms on dict-encoded columns), but strictly more bytes on disk
    (the filter structures). pyarrow 16 doesn't surface
    bloom_filter_offset, so the size delta + exact row-count equality
    is the observable."""
    import glob
    import os

    from noaa_etl_daily_spark.operators.scans import SCRATCH, _scratch, _sf_tag
    from noaa_etl_daily_spark.tables import load

    # materialize the bloom copy via the registered query
    REGISTRY["sink_bloom_filter_layout"].builder(spark, sf_dir).collect()
    bloom_dir = _scratch("bloom", _sf_tag(sf_dir), "events_bloom")
    plain_dir = _scratch("bloom", _sf_tag(sf_dir), "events_plain")
    if not os.path.exists(os.path.join(plain_dir, "_SUCCESS")):
        (
            load(spark, sf_dir, "events")
            .repartition(4)
            .write.mode("overwrite")
            .option("parquet.enable.dictionary#user_id", "false")
            .parquet(plain_dir)
        )

    def total(d):
        return sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(d, "*.parquet"))
        )

    assert (
        spark.read.parquet(bloom_dir).count()
        == spark.read.parquet(plain_dir).count()
    )
    assert total(bloom_dir) > total(plain_dir), (
        f"bloom copy {total(bloom_dir)} B not larger than plain "
        f"{total(plain_dir)} B — filters not written?"
    )


def test_manifest_pruned_scan_never_reads_pruned_files(spark, sf_dir):
    """scan_iceberg_manifest_sim's contract: file-level pruning really
    happens (the predicate's orderkey range must not keep all 8 files)
    AND the executed scan's input files are exactly the manifest-kept
    set — a pruned file appearing in df.inputFiles() would mean the
    manifest prune silently degraded to a full scan."""
    from noaa_etl_daily_spark.operators.scans import (
        _manifest_layout,
        _manifest_prune,
    )

    df = REGISTRY["scan_iceberg_manifest_sim"].builder(spark, sf_dir)
    out = _manifest_layout(spark, sf_dir)
    kept, pruned = _manifest_prune(out, 1000, 5000)
    assert pruned, "predicate kept every file: pruning not exercised"
    read = {os.path.basename(p) for p in df.inputFiles()}
    assert read == {os.path.basename(p) for p in kept}
    assert not read & {os.path.basename(p) for p in pruned}


def test_snapshot_time_travel_shares_untouched_files(spark, sf_dir):
    """scan_snapshot_time_travel_sim's metadata contract: the v2
    snapshot must REFERENCE (not copy) every v1 file the update's
    predicate could not touch, and must never read a replaced v1 file
    — proving commits are O(touched files) and time travel is a pure
    manifest lookup."""
    from noaa_etl_daily_spark.operators.scans import (
        _snapshot_files,
        _snapshot_layout,
    )

    out = _snapshot_layout(spark, sf_dir)
    v1 = {os.path.basename(p) for p in _snapshot_files(out, "v1")}
    v2 = {os.path.basename(p) for p in _snapshot_files(out, "v2")}
    shared = v1 & v2
    replaced = v1 - v2
    added = v2 - v1
    assert replaced and added, "update rewrote nothing: not exercised"
    assert shared, "v2 copied every file: reference-not-copy violated"

    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    read_v2 = {
        os.path.basename(p)
        for p in spark.read.schema(schema)
        .parquet(*_snapshot_files(out, "v2"))
        .inputFiles()
    }
    assert read_v2 == v2
    assert not read_v2 & replaced


def test_mor_delete_base_bytes_stable_and_antijoin_is_delete_file(
    spark, sf_dir
):
    """scan_merge_on_read_delete_sim's contract (WAVE11 candidate 1):
    the DELETE commit must never rewrite a base file (merge-on-read,
    not copy-on-write) — the manifest's commit-1 md5s are replayed
    against the bytes on disk AFTER the delete commit — and the read's
    anti-join build side must be exactly the bounded delete file, with
    the total input being base ∪ delete (no second pass over base
    data to resolve tombstones)."""
    import hashlib

    from noaa_etl_daily_spark.operators.scans import (
        _mor_delete_layout,
        _mor_files,
    )

    out = _mor_delete_layout(spark, sf_dir)
    base_files, delete_files = _mor_files(out)
    assert delete_files, "delete commit wrote no tombstone file"

    import json

    with open(os.path.join(out, "manifest.json")) as fh:
        manifest = json.load(fh)
    for entry in manifest["base"]:
        h = hashlib.md5()
        with open(os.path.join(out, entry["path"]), "rb") as fh:
            h.update(fh.read())
        assert h.hexdigest() == entry["md5"], (
            f"base file {entry['path']} changed across the delete "
            "commit: copy-on-write happened"
        )

    # the delete file is bounded: ~1/7 of the keys, single file
    base_bytes = sum(os.path.getsize(p) for p in base_files)
    del_bytes = sum(os.path.getsize(p) for p in delete_files)
    assert del_bytes < base_bytes / 2, "tombstone set is not small"

    df = REGISTRY["scan_merge_on_read_delete_sim"].builder(spark, sf_dir)
    read = {os.path.basename(p) for p in df.inputFiles()}
    want = {os.path.basename(p) for p in base_files} | {
        os.path.basename(p) for p in delete_files
    }
    assert read == want

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, "delete application is not an anti join"
    assert "BroadcastExchange" in plan, (
        "tombstones were not broadcast: the bounded delete set must be "
        "the build side"
    )
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_snapshot_diff_never_reads_shared_files(spark, sf_dir):
    """pipeline_snapshot_diff's contract (WAVE11 candidate 2): the CDC
    read's input is exactly the symmetric difference of the two
    manifests' file sets — shared files (referenced by both snapshots)
    are never opened, because their rows are unchanged by identity."""
    from noaa_etl_daily_spark.operators.scans import (
        _snapshot_files,
        _snapshot_layout,
    )

    out = _snapshot_layout(spark, sf_dir)
    v1 = {os.path.basename(p) for p in _snapshot_files(out, "v1")}
    v2 = {os.path.basename(p) for p in _snapshot_files(out, "v2")}
    shared = v1 & v2
    assert shared, "no shared files: the restriction is not exercised"

    df = REGISTRY["pipeline_snapshot_diff"].builder(spark, sf_dir)
    read = {os.path.basename(p) for p in df.inputFiles()}
    assert read == (v1 - v2) | (v2 - v1)
    assert not read & shared


def test_mor_compaction_carries_untouched_files_and_drops_join(
    spark, sf_dir
):
    """scan_mor_compaction_sim's contract: compaction rewrites ONLY the
    base files whose key range can contain a tombstone — untouched base
    files are carried byte-identical (md5 vs the pre-compaction layout)
    — and the post-compaction read is a plain scan: no join of any
    kind in the executed plan."""
    import hashlib
    import json

    from noaa_etl_daily_spark.operators.scans import (
        _mor_compacted_layout,
        _mor_delete_layout,
    )

    pre = _mor_delete_layout(spark, sf_dir)
    out = _mor_compacted_layout(spark, sf_dir)
    with open(os.path.join(out, "manifest.json")) as fh:
        manifest = json.load(fh)
    assert manifest["rewritten"], "compaction rewrote nothing"
    assert manifest["carried"], (
        "no base file was carried: the bounded tombstone cohort should "
        "leave files outside its key range untouched"
    )

    def md5(path):
        h = hashlib.md5()
        with open(path, "rb") as fh:
            h.update(fh.read())
        return h.hexdigest()

    for fname in manifest["carried"]:
        assert md5(os.path.join(out, fname)) == md5(
            os.path.join(pre, fname)
        ), f"carried file {fname} changed during compaction"

    df = REGISTRY["scan_mor_compaction_sim"].builder(spark, sf_dir)
    read = {os.path.basename(p) for p in df.inputFiles()}
    assert read == set(manifest["files"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, (
        "post-compaction read still joins: tombstones were not folded"
    )

    # the two lifecycle keys must agree exactly (same oracle, but
    # assert it engine-side too — compaction preserves the answer)
    mor = {
        tuple(r)
        for r in REGISTRY["scan_merge_on_read_delete_sim"]
        .builder(spark, sf_dir)
        .collect()
    }
    compacted = {tuple(r) for r in df.collect()}
    assert mor == compacted


def test_cdc_apply_reads_only_matview_and_diff_files(spark, sf_dir):
    """pipeline_cdc_apply's contract: incremental view maintenance
    touches the tiny materialized-view parquet plus the manifests'
    symmetric-difference file set — never a shared snapshot file and
    never snapshot v1 in full (the bootstrap read happened once, at
    layout time, outside the registered plan)."""
    from noaa_etl_daily_spark.operators.scans import (
        _cdc_matview_layout,
        _snapshot_files,
        _snapshot_layout,
    )

    snap = _snapshot_layout(spark, sf_dir)
    mv_dir = _cdc_matview_layout(spark, sf_dir)
    v1 = {os.path.basename(p) for p in _snapshot_files(snap, "v1")}
    v2 = {os.path.basename(p) for p in _snapshot_files(snap, "v2")}
    shared = v1 & v2
    assert shared

    df = REGISTRY["pipeline_cdc_apply"].builder(spark, sf_dir)
    read = {os.path.basename(p) for p in df.inputFiles()}
    assert read == ((v1 - v2) | (v2 - v1) | {"matview.parquet"})
    assert not read & shared

    mv_bytes = os.path.getsize(os.path.join(mv_dir, "matview.parquet"))
    table_bytes = sum(
        os.path.getsize(p)
        for p in _snapshot_files(snap, "v1")
    )
    assert mv_bytes < table_bytes / 4, "matview is not small"


def test_schema_evolution_gen1_untouched_and_single_scan(spark, sf_dir):
    """scan_schema_evolution_sim's contract: generation-1 files
    physically LACK the evolved column (footer schema check) and are
    byte-identical across the schema-change commit (md5 replay); the
    evolved read is ONE scan over both generations (inputFiles =
    gen1 ∪ gen2, single FileScan in the plan — not a union of two
    reads)."""
    import hashlib
    import json

    import pyarrow.parquet as pq

    from noaa_etl_daily_spark.operators.scans import _schema_evo_layout

    out = _schema_evo_layout(spark, sf_dir)
    with open(os.path.join(out, "manifest.json")) as fh:
        manifest = json.load(fh)
    assert manifest["gen1"] and manifest["gen2"]

    for entry in manifest["gen1"]:
        path = os.path.join(out, entry["path"])
        names = pq.ParquetFile(path).schema_arrow.names
        assert "o_clerk_bucket" not in names, (
            f"{entry['path']} carries the evolved column: history was "
            "rewritten"
        )
        h = hashlib.md5()
        with open(path, "rb") as fh:
            h.update(fh.read())
        assert h.hexdigest() == entry["md5"]
    for p in manifest["gen2"]:
        names = pq.ParquetFile(os.path.join(out, p)).schema_arrow.names
        assert "o_clerk_bucket" in names

    df = REGISTRY["scan_schema_evolution_sim"].builder(spark, sf_dir)
    read = {os.path.basename(p) for p in df.inputFiles()}
    want = {e["path"] for e in manifest["gen1"]} | set(manifest["gen2"])
    assert read == want
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 1, (
        "heterogeneous generations must merge in one scan, not a union"
    )


def test_snapshot_chain_replay_reads_only_deltas_and_matview(
    spark, sf_dir
):
    """pipeline_snapshot_chain_replay's contract: the composed replay
    reads matview.parquet plus the two adjacent symmetric differences
    (v1△v2 and v2△v3) — a file referenced unchanged by all three
    snapshots is never opened, and both commits actually rewrote
    something (else the compose test is vacuous)."""
    import json

    from noaa_etl_daily_spark.operators.scans import (
        _snapshot_chain_layout,
    )

    out = _snapshot_chain_layout(spark, sf_dir)
    with open(os.path.join(out, "manifest.json")) as fh:
        snaps = json.load(fh)["snapshots"]
    v1 = {e["path"] for e in snaps["v1"]}
    v2 = {e["path"] for e in snaps["v2"]}
    v3 = {e["path"] for e in snaps["v3"]}
    assert v1 ^ v2 and v2 ^ v3, "a commit rewrote nothing"
    stable = v1 & v2 & v3
    assert stable, "no file survived all three snapshots untouched"

    df = REGISTRY["pipeline_snapshot_chain_replay"].builder(
        spark, sf_dir
    )
    read = {os.path.basename(p) for p in df.inputFiles()}
    assert read == (v1 ^ v2) | (v2 ^ v3) | {"matview.parquet"}
    assert not read & stable


def test_partition_evolution_prunes_each_generation_under_its_spec(
    spark, sf_dir
):
    """scan_partition_evolution_sim's contract: the straddling date
    range keeps EXACTLY the 1998 year file plus the 1999-01..03 month
    files — each generation pruned under its own partition transform —
    and the executed read's input is exactly that kept set (a pruned
    file appearing in inputFiles would mean the manifest prune
    silently degraded to a full scan)."""
    from noaa_etl_daily_spark.operators.scans import (
        _PEVO_HI,
        _PEVO_LO,
        _partition_evo_layout,
        _partition_evo_prune,
    )

    out = _partition_evo_layout(spark, sf_dir)
    kept, pruned = _partition_evo_prune(out, _PEVO_LO, _PEVO_HI)
    assert pruned, "predicate kept every file: pruning not exercised"
    names = {e["path"] for e in kept}
    assert names == {
        "y-1998.parquet",
        "m-1999-01.parquet",
        "m-1999-02.parquet",
        "m-1999-03.parquet",
    }, names
    specs = {e["spec"] for e in kept}
    assert specs == {"year", "month"}, (
        "the straddle must touch BOTH generations"
    )

    df = REGISTRY["scan_partition_evolution_sim"].builder(spark, sf_dir)
    read = {os.path.basename(p) for p in df.inputFiles()}
    assert read == names


def test_row_group_census_sound_and_complete(spark, sf_dir):
    """The census's skip decision must match physical reality: reading
    ONLY the groups it marks read yields every predicate-matching row
    (completeness), the groups it marks skipped contain none
    (soundness), some groups are actually skipped (the measured IO
    saving exists), and the censused totals reconcile with the layout."""
    import datetime
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from noaa_etl_daily_spark.operators.scale_ops import (
        _RGC_HI,
        _RGC_LO,
        _rg_census_layout,
        scan_row_group_skipping_census,
    )

    census = {
        r.file: r
        for r in scan_row_group_skipping_census(spark, sf_dir).collect()
    }
    assert census, "census produced no files"
    assert sum(r.rg_skipped for r in census.values()) > 0, (
        "no row group skipped — the predicate or block size no longer "
        "exercises skipping"
    )
    lo = datetime.datetime.fromisoformat(_RGC_LO)
    hi = datetime.datetime.fromisoformat(_RGC_HI)
    out = _rg_census_layout(spark, sf_dir)
    matching_in_read = matching_in_skipped = 0
    for path in glob.glob(os.path.join(out, "*.parquet")):
        base = os.path.basename(path)
        pf = pq.ParquetFile(path)
        md = pf.metadata
        row = census[base]
        assert row.rg_total == md.num_row_groups
        assert row.rg_read + row.rg_skipped == row.rg_total
        assert row.rows_total == sum(
            md.row_group(g).num_rows for g in range(md.num_row_groups)
        )
        for g in range(md.num_row_groups):
            col = next(
                md.row_group(g).column(i)
                for i in range(md.num_columns)
                if md.row_group(g).column(i).path_in_schema == "ts"
            )
            st = col.statistics
            read = (
                st is None
                or not st.has_min_max
                or (st.min < hi and st.max >= lo)
            )
            ts = pf.read_row_group(g, columns=["ts"]).column("ts")
            n_match = sum(
                1
                for v in ts.to_pylist()
                if v is not None and lo <= v < hi
            )
            if read:
                matching_in_read += n_match
            else:
                matching_in_skipped += n_match
    assert matching_in_skipped == 0, "skipped a group holding matches"
    want = (
        spark.read.parquet(out)
        .where(
            (F.col("ts") >= F.lit(_RGC_LO).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(_RGC_HI).cast("timestamp_ntz"))
        )
        .count()
    )
    assert matching_in_read == want, "read groups missed matching rows"


def test_dynamic_partition_overwrite_touches_only_addressed_days(
    spark, sf_dir, tmp_path
):
    """The native DPO contract, checksummed: the two-day backfill
    rewrite leaves every non-addressed day directory byte-identical,
    rewrites the addressed ones — and in STATIC mode the very same
    write would truncate the table to two days (the production
    incident dynamic mode exists to prevent), demonstrated on a
    separate copy."""
    import glob
    import os

    from pyspark.sql import functions as F

    from noaa_etl_daily_spark.operators.scale_ops import _DPO_HI, _DPO_LO
    from noaa_etl_daily_spark.tables import load

    def write_base(path):
        (
            load(spark, sf_dir, "events")
            .withColumn(
                "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
            )
            .repartition("day")
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(path)
        )

    def repl():
        lo = F.lit(_DPO_LO).cast("date")
        hi = F.lit(_DPO_HI).cast("date")
        return (
            load(spark, sf_dir, "events")
            .where(F.to_date("ts").between(lo, hi))
            .withColumn("value", F.col("value") * 2)
            .withColumn(
                "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
            )
            .repartition("day")
        )

    def snap(path):
        return {
            p: (os.path.getsize(p), os.stat(p).st_mtime_ns)
            for p in glob.glob(os.path.join(path, "day=*", "*.parquet"))
        }

    addressed = {f"day={_DPO_LO}", f"day={_DPO_HI}"}

    dyn = str(tmp_path / "dyn")
    write_base(dyn)
    before = snap(dyn)
    assert len({p.split("/")[-2] for p in before}) > 2
    repl().write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("day").parquet(dyn)
    after = snap(dyn)
    for p, v in before.items():
        day = p.split("/")[-2]
        if day in addressed:
            assert after.get(p) != v, f"addressed partition not rewritten: {p}"
        else:
            assert after.get(p) == v, f"untouched partition rewritten: {p}"

    # the incident static mode causes: same write, table truncated
    stat = str(tmp_path / "stat")
    write_base(stat)
    repl().write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("day").parquet(stat)
    left = {os.path.basename(d) for d in glob.glob(os.path.join(stat, "day=*"))}
    assert left == addressed, f"static overwrite kept {left}"


def test_zorder_rg_census_sound_complete_and_beats_tssort(spark, sf_dir):
    """The z-order census must (a) show the z-layout actually skipping
    groups on the second-dimension predicate while the ts-sorted layout
    skips none (the measured WHY of z-order), and (b) match physical
    reality: skipped groups hold zero predicate-matching rows, read
    groups hold them all."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from noaa_etl_daily_spark.operators.scale_ops import (
        _ZRGC_HI,
        _ZRGC_LO,
        _rg_census_layout,
        _zorder_rgc_layout,
        scan_zorder_rg_skipping_census,
    )

    census = {
        r.layout: r
        for r in scan_zorder_rg_skipping_census(spark, sf_dir).collect()
    }
    z, t = census["zorder"], census["ts_sorted"]
    assert z.rg_skipped > 0, "z-order skipped nothing on user predicate"
    assert t.rg_skipped == 0, (
        "ts-sorted layout skipped on a dimension it does not own — "
        "fixture shape changed, re-derive the claim"
    )
    assert z.rg_read + z.rg_skipped == z.rg_total

    # physical soundness/completeness over the z layout
    zout = _zorder_rgc_layout(spark, sf_dir)
    in_read = in_skipped = 0
    for path in glob.glob(os.path.join(zout, "*.parquet")):
        pf = pq.ParquetFile(path)
        md = pf.metadata
        for g in range(md.num_row_groups):
            col = next(
                md.row_group(g).column(i)
                for i in range(md.num_columns)
                if md.row_group(g).column(i).path_in_schema == "user_id"
            )
            st = col.statistics
            read = (
                st is None
                or not st.has_min_max
                or (st.min <= _ZRGC_HI and st.max >= _ZRGC_LO)
            )
            users = pf.read_row_group(g, columns=["user_id"]).column(
                "user_id"
            )
            n = sum(
                1
                for v in users.to_pylist()
                if v is not None and _ZRGC_LO <= v <= _ZRGC_HI
            )
            if read:
                in_read += n
            else:
                in_skipped += n
    assert in_skipped == 0, "z census skipped a group holding matches"
    want = (
        spark.read.parquet(_rg_census_layout(spark, sf_dir))
        .where(F.col("user_id").between(_ZRGC_LO, _ZRGC_HI))
        .count()
    )
    assert in_read == want, "z census read-set missed matching rows"


def test_partitioned_compaction_census_and_untouched_bytes(spark, sf_dir):
    """sink_partitioned_compaction's physical contract: every
    multi-file day compacts to exactly ONE file under the NEW root;
    single-file days are never touched (the original layout's files
    stay byte-identical across a full key execution — copy-on-write at
    partition grain); the census key reports exactly that."""
    import glob
    import os

    from noaa_etl_daily_spark.operators.scale_ops import (
        _pcomp_compacted,
        _pcomp_file_census,
        _pcomp_layout,
    )
    from noaa_etl_daily_spark.registry import load_all

    registry = load_all()
    layout = _pcomp_layout(spark, sf_dir)
    before_census = _pcomp_file_census(layout)
    assert any(n > 1 for n in before_census.values()), (
        "fixture must produce at least one multi-file (recent) day"
    )
    assert any(n == 1 for n in before_census.values()), (
        "fixture must produce at least one already-compact day"
    )

    def snap(path):
        return {
            p: (os.path.getsize(p), os.stat(p).st_mtime_ns)
            for p in glob.glob(os.path.join(path, "day=*", "*.parquet"))
        }

    before = snap(layout)
    registry["sink_partitioned_compaction"].builder(spark, sf_dir).collect()
    census = (
        registry["sink_partitioned_compaction_census"]
        .builder(spark, sf_dir)
        .collect()
    )
    assert snap(layout) == before, (
        "compaction must never rewrite the original layout's files"
    )
    comp = _pcomp_compacted(spark, sf_dir, layout)
    after_census = _pcomp_file_census(comp)
    by_day = {r.day: r for r in census}
    assert set(by_day) == set(before_census)
    for day, n in before_census.items():
        r = by_day[day]
        assert r.files_before == n
        assert r.compacted == (n > 1)
        if n > 1:
            assert r.files_after == 1
            assert after_census[day] == 1
        else:
            assert r.files_after == n
            assert day not in after_census


def test_compaction_sort_preservation_census(spark, sf_dir):
    """sink_compaction_sorted_census's physical contract: both
    compacted layouts hold identical data (row totals equal, and the
    oracled read proves values); the sort-preserving compaction never
    reads more row groups under the predicate than the naive one, and
    on the clean fixture it reads STRICTLY fewer groups AND rows (the
    measured cost of a size-targeted round-robin compactor vs a
    range-aware one); skipping over the sorted files is
    SOUND — every group the census skips holds zero predicate-matching
    rows in an actual pyarrow read."""
    import datetime
    import glob
    import os

    import pyarrow.parquet as pq

    from noaa_etl_daily_spark.operators.scale_ops import (
        _RGC_HI,
        _RGC_LO,
        _scomp_compacted,
        sink_compaction_sorted_census,
    )

    census = {
        r.layout: r
        for r in sink_compaction_sorted_census(spark, sf_dir).collect()
    }
    assert set(census) == {"sorted", "naive"}
    s, n = census["sorted"], census["naive"]
    assert s.rows_total == n.rows_total, "compaction variants disagree on data"
    assert s.rg_read <= n.rg_read, (
        "range-aware compaction must never skip less than round-robin"
    )
    assert s.rg_skipped > 0, "sorted compaction skips nothing — knob drifted"
    assert s.rg_read < n.rg_read, (
        "the round-robin rewrite reads no more groups than the "
        "range-aware one — the interleave stopped spanning the "
        "predicate window; strengthen the fixture"
    )
    assert s.rows_in_read_groups < n.rows_in_read_groups

    lo = datetime.datetime.fromisoformat(_RGC_LO)
    hi = datetime.datetime.fromisoformat(_RGC_HI)
    out = _scomp_compacted(spark, sf_dir, sort=True)
    matching_in_skipped = 0
    for path in glob.glob(os.path.join(out, "*.parquet")):
        pf = pq.ParquetFile(path)
        md = pf.metadata
        for g in range(md.num_row_groups):
            col = next(
                md.row_group(g).column(i)
                for i in range(md.num_columns)
                if md.row_group(g).column(i).path_in_schema == "ts"
            )
            st = col.statistics
            skipped = (
                st is not None
                and st.has_min_max
                and not (st.min < hi and st.max >= lo)
            )
            if skipped:
                t = pf.read_row_group(g, columns=["ts"])["ts"].to_pandas()
                matching_in_skipped += int(((t >= lo) & (t < hi)).sum())
    assert matching_in_skipped == 0, "a skipped group held matching rows"


def test_ivf_partition_pruning_reads_only_probed_cells(spark, sf_dir):
    """llm_sim_ivf_partition_pruned's physical contract: the corpus
    scan with the probed-cell partition filter opens ONLY files under
    the probed cell= directories — and strictly fewer files than the
    whole layout holds — i.e. the IVF scan cut is genuine directory
    pruning, not a post-read filter."""
    import glob
    import os

    from pyspark.sql import functions as F

    from noaa_etl_daily_spark.operators.llm import (
        _IVF_NPROBE,
        _dot,
        _ivf_partition_layout,
        _sim_embeddings,
    )
    from pyspark.sql.window import Window

    out, cdir = _ivf_partition_layout(spark, sf_dir)
    all_files = glob.glob(os.path.join(out, "cell=*", "*.parquet"))
    assert all_files, "layout holds no cell directories"
    cent = spark.read.parquet(cdir)
    emb = _sim_embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_e"),
        _dot(F.col("embedding"), F.col("embedding")).alias("q_nrm"),
    )
    qsim = F.round(
        _dot(F.col("q_e"), F.col("c_e"))
        / F.sqrt(F.col("q_nrm") * F.col("c_nrm")),
        6,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("qsim").desc(), F.col("cell")
    )
    probed = {
        r.cell
        for r in (
            q.join(F.broadcast(cent))
            .select("query_id", "cell", qsim.alias("qsim"))
            .withColumn("rn", F.row_number().over(wq))
            .where(F.col("rn") <= _IVF_NPROBE)
            .select("cell")
            .distinct()
            .collect()
        )
    }
    assert probed
    all_cells = {
        int(os.path.basename(d)[5:])
        for d in glob.glob(os.path.join(out, "cell=*"))
    }
    assert probed < all_cells, (
        "every cell probed — the pruning demonstration is vacuous; "
        "re-tune queries or nprobe"
    )
    # physical pruning: the registered key's executed plan must carry
    # the probed-cell set as a PartitionFilters entry on the layout
    # scan (directory pruning), NOT as a post-scan Filter — the same
    # standard test_static_partition_pruning_reaches_scan pins. (df
    # .inputFiles() is computed from the file index BEFORE filters, so
    # it cannot witness partition pruning — measured here first.)
    import re

    from noaa_etl_daily_spark.registry import load_all

    df = load_all()["llm_sim_ivf_partition_pruned"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(
        line
        for line in plan.splitlines()
        if "FileScan parquet" in line and "ivf_part/" in line
    )
    assert "PartitionFilters: [" in scan, scan
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan).group(1)
    assert "cell" in pf, scan
    for c in probed:
        assert str(c) in pf, (probed, pf)
    for c in all_cells - probed:
        assert str(c) not in re.findall(r"\d+", pf), (probed, pf)
    # value-level losslessness of the pruned scan is pinned in
    # tests/test_properties.py (pruned == full-scan-then-filter)


def test_backfill_cascade_prunes_and_preserves_untouched_days(spark, sf_dir):
    """pipeline_backfill_cascade's physical contract: the delta's
    read-back of the corrected slice carries the day range as a
    PartitionFilters entry (the untouched days are never READ), and a
    full key execution leaves every untouched day directory's files
    byte-identical (never WRITTEN — the dynamic-overwrite contract on
    the cascade's own table copy)."""
    import glob
    import os
    import re

    from noaa_etl_daily_spark.operators.scale_ops import (
        _BFC_HI,
        _BFC_LO,
        _bfc_layout,
    )
    from noaa_etl_daily_spark.registry import load_all

    registry = load_all()
    out = _bfc_layout(spark, sf_dir)
    # one warm-up execution so the layout is in its converged
    # (backfilled) state, then snapshot and re-execute
    registry["pipeline_backfill_cascade"].builder(spark, sf_dir).collect()

    def snap(path):
        return {
            p: (os.path.getsize(p), os.stat(p).st_mtime_ns)
            for p in glob.glob(os.path.join(path, "day=*", "*.parquet"))
        }

    before = snap(out)
    df = registry["pipeline_backfill_cascade"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(
        line
        for line in plan.splitlines()
        if "FileScan parquet" in line and "/bfc/" in line
    )
    assert "PartitionFilters: [" in scan, scan
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan).group(1)
    assert "day" in pf, scan
    df.collect()
    after = snap(out)
    addressed = {f"day={_BFC_LO}", f"day={_BFC_HI}"}
    for p, v in before.items():
        day = p.split("/")[-2]
        if day not in addressed:
            assert after.get(p) == v, f"untouched day rewritten: {p}"


def test_positional_delete_vector_contract(spark, sf_dir):
    """scan_positional_delete_sim's physical contract: the DV commit
    never rewrites a base file (byte-stats stable across a full key
    execution); DV rows are unique (file, position) pairs addressing
    real rows; deleted row count reconciles exactly (base − live =
    |DV|); and the anti-join's build side is the DV file, never a
    second pass over the base data."""
    import glob
    import os

    from pyspark.sql import functions as F

    from noaa_etl_daily_spark.operators.scans import _pdv_layout
    from noaa_etl_daily_spark.registry import load_all

    registry = load_all()
    out, dv = _pdv_layout(spark, sf_dir)

    def snap(path):
        return {
            p: (os.path.getsize(p), os.stat(p).st_mtime_ns)
            for p in glob.glob(os.path.join(path, "*.parquet"))
        }

    before = snap(out)
    df = registry["scan_positional_delete_sim"].builder(spark, sf_dir)
    live = df.agg(F.sum("n_live").alias("n")).collect()[0].n or 0
    assert snap(out) == before, "a base file was rewritten by the DV read"

    vec = spark.read.parquet(dv)
    n_dv = vec.count()
    assert vec.distinct().count() == n_dv, "duplicate DV positions"
    n_base = spark.read.parquet(out).count()
    assert n_base - live == n_dv, (n_base, live, n_dv)

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # exactly two parquet relations: the base and the DV
    scans = [
        line for line in plan.splitlines() if "FileScan parquet" in line
    ]
    assert len(scans) == 2, plan
    assert any("pdv_vector" in s for s in scans), plan


def test_bucketed_merge_state_side_never_shuffles(spark, sf_dir):
    """evt_sink_bucketed_merge_sim's physical contract: with
    broadcasts disabled, merging the batch partials into the BUCKETED
    state table plans exactly one fewer Exchange than the identical
    merge against an unbucketed read of the very same state files —
    the state side feeds the sort-merge join in place (Bucketed: true
    scan), only the batch side shuffles."""
    from pyspark.sql import functions as F

    from noaa_etl_daily_spark.operators.layout import (
        _bucketed_merge,
        _bucketed_state_table,
    )
    from noaa_etl_daily_spark.tables import load

    name = _bucketed_state_table(spark, sf_dir)
    state_path = spark.sql(f"DESCRIBE FORMATTED {name}").where(
        "col_name = 'Location'"
    ).collect()[0].data_type
    batch = load(spark, sf_dir, "events").where(
        F.coalesce(F.col("event_id"), F.lit(0)).bitwiseAND(F.lit(1)) == 1
    )

    # the operational requirement this test DOCUMENTS by pinning: a
    # one-sided bucketed merge reuses the bucket layout only when the
    # merge job's shuffle partitions equal the bucket count — under the
    # session default (64) the planner exchanges the bucketed side too
    # (measured while building this key)
    prev_b = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_p = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        plans = {}
        for tag, state in (
            ("bucketed", spark.table(name)),
            ("plain", spark.read.parquet(state_path.replace("file:", ""))),
        ):
            df = _bucketed_merge(state, batch)
            df.collect()
            plans[tag] = (
                df._jdf.queryExecution()
                .executedPlan()
                .toString()
                .split("== Initial Plan ==")[0]
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_b)
        spark.conf.set("spark.sql.shuffle.partitions", prev_p)
    assert "Bucketed: true" in plans["bucketed"], plans["bucketed"]
    join_pos = plans["bucketed"].find("SortMergeJoin")
    assert join_pos != -1, plans["bucketed"]
    # exactly ONE exchange in the whole merge: the batch partials' —
    # the state side feeds the join in place
    assert plans["bucketed"].count("Exchange") == 1, plans["bucketed"]
    assert plans["plain"].count("Exchange") == 2, plans["plain"]


def test_dv_compaction_carries_untouched_and_drops_join(spark, sf_dir):
    """scan_dv_compaction_sim's physical contract: carried files are
    the ORIGINAL base files (referenced, byte-identical — same inode
    stats); rewritten row count reconciles exactly (touched − |DV|);
    the post-compaction read plans NO join of any kind."""
    import glob
    import json
    import os

    from noaa_etl_daily_spark.operators.scans import (
        _pdv_compacted,
        _pdv_layout,
    )
    from noaa_etl_daily_spark.registry import load_all

    registry = load_all()
    base, dv = _pdv_layout(spark, sf_dir)
    out = _pdv_compacted(spark, sf_dir)
    with open(os.path.join(out, "manifest.json")) as fh:
        man = json.load(fh)
    base_files = {
        "file:" + p for p in glob.glob(os.path.join(base, "*.parquet"))
    }
    assert set(man["carried"]) <= base_files, (
        "carried entries are not original base files"
    )
    assert not set(man["rewritten"]) & base_files
    n_dv = spark.read.parquet(dv).count()
    if n_dv:
        assert man["rewritten"], "DV rows exist but nothing was rewritten"
        touched = base_files - set(man["carried"])
        n_touched = spark.read.parquet(*sorted(touched)).count()
        n_rewritten = spark.read.parquet(*man["rewritten"]).count()
        assert n_touched - n_rewritten == n_dv, (
            n_touched,
            n_rewritten,
            n_dv,
        )
    df = registry["scan_dv_compaction_sim"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_delete_vector_layouts_survive_a_moved_scratch_root(
    spark, sf_dir, oracle, tmp_path, monkeypatch
):
    """The positional delete vector and the DV compaction manifest
    hold absolute ``file:`` paths, so a scratch root copied to a new
    place (a copied or moved checkout) must not serve them as cached:
    both keys still match their oracles after the copy, with the
    original root gone."""
    import shutil

    from noaa_etl_daily_spark.operators import scans

    from .conftest import assert_same_results

    registry = load_all()
    keys = ("scan_positional_delete_sim", "scan_dv_compaction_sim")
    first, second = tmp_path / "a", tmp_path / "b"
    monkeypatch.setattr(scans, "SCRATCH", str(first))
    scans._pdv_compacted(spark, sf_dir)  # builds _pdv_layout too
    shutil.copytree(first, second)
    shutil.rmtree(first)
    monkeypatch.setattr(scans, "SCRATCH", str(second))
    for key in keys:
        df = registry[key].builder(spark, sf_dir)
        assert_same_results(df, oracle, registry[key].oracle)
