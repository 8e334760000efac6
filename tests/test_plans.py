"""Plan-quality regression gates: these assert the *shape* of the
physical plan, not results — filters reach the parquet scans, scans are
column-pruned, dimension joins broadcast. A correct-but-full-scan plan
fails here even though the values would match: at 100 TB the plan IS
the product."""

from __future__ import annotations

import re

from xorbits_sql_spark.plans import pushed_filters, read_schemas, uses_broadcast_join
from xorbits_sql_spark.queries import load_all

from .conftest import SF_ORACLE

SPECS = load_all()


def test_q06_filter_pushed_to_scan(spark):
    df = SPECS["q06_forecast_revenue"].fn(spark, SF_ORACLE)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    assert any("l_quantity" in p for p in pushed), pushed


def test_q06_column_pruning(spark):
    df = SPECS["q06_forecast_revenue"].fn(spark, SF_ORACLE)
    schemas = read_schemas(df)
    # only the 4 referenced columns are read, not all 11 lineitem columns
    assert schemas and all(s.count(":") <= 4 for s in schemas), schemas


def test_q03_predicate_pushdown(spark):
    df = SPECS["q03_shipping_priority"].fn(spark, SF_ORACLE)
    pushed = pushed_filters(df)
    assert any("c_mktsegment" in p for p in pushed), pushed
    assert any("l_shipdate" in p for p in pushed), pushed


def test_q05_broadcasts_dimensions(spark):
    df = SPECS["q05_local_supplier"].fn(spark, SF_ORACLE)
    assert uses_broadcast_join(df)


def test_q10_broadcasts_dimensions(spark):
    df = SPECS["q10_returned_items"].fn(spark, SF_ORACLE)
    assert uses_broadcast_join(df)


def test_q53_range_join_is_broadcast(spark):
    df = SPECS["q53_events_value_bands"].fn(spark, SF_ORACLE)
    assert uses_broadcast_join(df)


def test_q02_part_filter_reaches_scan(spark):
    # the part filter must prune the supply aggregation's input, not
    # run after it — at 100 TB that is the difference between shuffling
    # all of lineitem and ~1/1000th of it
    df = SPECS["q02_min_cost_supplier"].fn(spark, SF_ORACLE)
    pushed = pushed_filters(df)
    assert any("p_size" in p for p in pushed), pushed
    assert uses_broadcast_join(df)


def test_q74_ivf_broadcasts_centroids(spark):
    df = SPECS["q74_ann_ivf"].fn(spark, SF_ORACLE)
    assert uses_broadcast_join(df)


def test_zorder_write_tightens_rowgroup_stats(spark, tmp_path):
    """Writing sorted by the z-order key must yield parquet row groups
    whose min/max stats are narrow in BOTH dimensions — the physical
    data-skipping property the operator exists for (readers prune row
    groups on either column's predicate)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from xorbits_sql_spark.operators.layout import zorder_key

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("bigint").alias("y")
    )
    zed = zorder_key(grid, ["x", "y"], bits=16)
    out = str(tmp_path / "zsorted")
    (
        zed.repartitionByRange(16, "zval")
        .sortWithinPartitions("zval")
        .write.option("parquet.block.size", 64 * 1024)
        .parquet(out)
    )

    import glob

    spans = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            sx = g.column(cols["x"]).statistics
            sy = g.column(cols["y"]).statistics
            spans.append((sx.max - sx.min, sy.max - sy.min))
    assert spans
    # every file covers a contiguous z-range: with 16 ranges over a
    # 64x64 grid each covers ~a 16x16-ish tile — both dims bounded far
    # below the global span of 63, where a 1-D sort on x would leave
    # EVERY row group's y-span at 63.
    mean_x = sum(s[0] for s in spans) / len(spans)
    mean_y = sum(s[1] for s in spans) / len(spans)
    assert mean_x < 32 and mean_y < 32, (mean_x, mean_y)
    assert all(s[0] < 64 and s[1] < 64 for s in spans)


def test_r71_decontaminate_broadcasts_eval_grams(spark):
    # the eval-set gram table must broadcast: shuffling the 100 TB
    # training side on the gram key would be the classic blowup
    df = SPECS["r71_ngram_decontaminate"].fn(spark, SF_ORACLE)
    assert uses_broadcast_join(df)


def test_r80_mixture_broadcasts_weights(spark):
    # per-source stats (tiny) broadcast back; the corpus is sampled
    # map-side and never shuffles on the weight join
    df = SPECS["r80_mixture_sample"].fn(spark, SF_ORACLE)
    assert uses_broadcast_join(df)


def test_r70_semdedup_column_pruning(spark):
    # the decision plan reads only (vec_id, embedding) — label is pruned
    df = SPECS["r70_semdedup"].fn(spark, SF_ORACLE)
    schemas = read_schemas(df)
    assert schemas and all("label" not in s for s in schemas), schemas


def test_r85_purchase_filter_pushed(spark):
    df = SPECS["r85_ohlc_bars"].fn(spark, SF_ORACLE)
    pushed = pushed_filters(df)
    assert any("event_type" in p for p in pushed), pushed
    schemas = read_schemas(df)
    # only (event_id, ts, event_type, value) are read from the events
    # scan — event_id joined the projection for the deterministic
    # (ts, event_id) open/close tie-break
    assert schemas and all(s.count(":") <= 4 for s in schemas), schemas


def test_r97_bloom_bits_broadcast(spark):
    # the m-row bit table must broadcast to the probe side; shuffling a
    # 100 TB probe table on the position key would defeat the pruning
    df = SPECS["r97_bloom_prune"].fn(spark, SF_ORACLE)
    assert uses_broadcast_join(df)


def test_r97_priority_filter_pushed(spark):
    df = SPECS["r97_bloom_prune"].fn(spark, SF_ORACLE)
    pushed = pushed_filters(df)
    assert any("o_orderpriority" in p for p in pushed), pushed


def test_s46_vocab_join_is_broadcast(spark):
    # the 30-row vocabulary must broadcast against the per-(source,
    # token) counts; a shuffle join on the token key would re-shuffle
    # the whole fact side for a dimension that fits in one packet
    df = SPECS["s46_vocab_oov_rate"].fn(spark, SF_ORACLE)
    assert uses_broadcast_join(df)


def test_s45_substring_dedup_has_no_pair_join(spark):
    # the shared-window join must stay an equi-join on the window text:
    # any nested-loop/cartesian shape would mean a pair-materializing
    # plan that cannot survive a hot shared window at scale
    df = SPECS["s45_exact_substring_dup"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# Queries where a BroadcastNestedLoopJoin is the *intended* plan shape.
# Two legitimate classes only:
#   scalar-broadcast — a 1-row (or few-row) aggregate/bounds/centroid
#     relation joined against the fact side without an equi-key; the
#     broadcast side is constant-size at any corpus scale.
#   audit — intentionally quadratic ground-truth/brute-force scans,
#     bounded by construction (fixed query subset or bucket cap).
_BNLJ_INTENDED = {
    "q11_important_stock": "scalar-broadcast (value threshold)",
    "q22_idle_balances": "scalar-broadcast (avg balance)",
    "q42_cross_join": "audit (the §2.4 cross-join row itself)",
    "q53_events_value_bands": "scalar-broadcast (band boundaries)",
    "q70_knn_brute_force": "audit (exact-kNN ground truth)",
    "q74_ann_ivf": "scalar-broadcast (centroid table)",
    "r55_gapfill_locf": "scalar-broadcast (time-grid bounds)",
    "r59_chi_square": "scalar-broadcast (contingency totals)",
    "r62_bm25_search": "scalar-broadcast (corpus stats row)",
    "r70_semdedup": "scalar-broadcast (k-means centroids)",
    "r72_kmeans_lloyd": "scalar-broadcast (the trained k-row centroid "
    "table in the final assignment; small corpora train on the driver, "
    "with no per-iteration centroid broadcasts)",
    "r73_ivf_trained": "scalar-broadcast (trained centroids)",
    "r77_zorder_locality": "scalar-broadcast (dimension bounds)",
    "r80_mixture_sample": "scalar-broadcast (mixture weights)",
    "r87_lsh_recall_audit": "audit (bounded recall pair scan)",
    "s02_sequential_funnel": "scalar-broadcast (step anchor row)",
    "s07_ctfidf_terms": "scalar-broadcast (corpus totals)",
    "s19_trailing_wau": "scalar-broadcast (day-grid bounds)",
    "s23_threshold_runs": "scalar-broadcast (threshold row)",
    "s27_join_size_estimate": "scalar-broadcast (sketch inner product)",
    "s28_gapfill_interpolate": "scalar-broadcast (time-grid bounds)",
    "s49_triangle_count": "scalar-broadcast (singleton stat rows)",
    "s50_int8_quant_recall": "audit (exact-vs-quantized pair scan)",
    "s64_hybrid_search_rrf": "scalar-broadcast (the single query vector)",
    "s65_scd2_point_in_time": "scalar-broadcast (the span-bounded probe-day grid)",
    "s67_event_type_pmi": "scalar-broadcast (the 1-row user-count total)",
    "s69_psi_value_drift": "scalar-broadcast (the 1-row bin-edge bounds)",
    "s77_kcore_peel": "scalar-broadcast (singleton stat rows)",
    "s89_association_rules": "scalar-broadcast (the 1-row basket total)",
    "s90_naive_bayes_langid": "scalar-broadcast (5-row lang totals + "
    "1-row vocab/train-size model constants)",
    "s93_lagged_cross_correlation": "scalar-broadcast (the 7-row lag grid)",
    "s94_dsir_importance_resample": "scalar-broadcast (the 1-row corpus "
    "token totals joined onto the 64-row bucket histogram)",
    "s96_neyman_allocation": "scalar-broadcast (the 1-row weight total)",
    "s98_kaplan_meier": "scalar-broadcast (the 1-row corpus-end bound)",
    "t01_poisson_bootstrap_ci": "scalar-broadcast (1-row base stats x "
    "1-row CI row)",
    "t04_knn_label_accuracy": "audit (leave-one-out exact-kNN scan, "
    "query side bounded by the hash-mod sample)",
    "t05_two_proportion_ab": "scalar-broadcast (1-row cohort counts)",
    "t07_capture_recapture": "scalar-broadcast (the 1-row corpus-start "
    "date)",
    "t09_mann_kendall_trend": "audit (day-pair sign scan over the "
    "daily collapse — bounded by calendar days squared) + 1-row "
    "count/tie-term broadcasts",
    "t10_theil_sen_slope": "audit (day-pair slope scan over the daily "
    "collapse — bounded by calendar days squared)",
    "t12_weekday_seasonality": "scalar-broadcast (the 1-row overall "
    "daily mean)",
    "t15_blocking_quality_audit": "scalar-broadcast (four 1-row "
    "candidate/truth/caught/universe counts folded into the metric "
    "row)",
    "u14_blocking_audit_sampled": "scalar-broadcast (five 1-row "
    "sampled-count aggregates folded into the metric row — t15's "
    "shape plus the sample-size row)",
    "t16_rfm_segmentation": "scalar-broadcast (the 1-row corpus-end "
    "date)",
    "t18_wasserstein_distance": "scalar-broadcast (the 1-row class "
    "totals)",
    "t19_burrows_delta": "scalar-broadcast (the 20-row top-word grid "
    "and 1-row source count joined onto per-source totals)",
    "t20_cuped_adjustment": "scalar-broadcast (the 1-row corpus-start "
    "date)",
    "t21_difference_in_differences": "scalar-broadcast (the 1-row "
    "corpus-start date)",
    "t22_seasonal_residual_anomalies": "scalar-broadcast (1-row trend "
    "moments and residual-sigma rows)",
    "t23_prefix_dim_recall": "audit (q70's bounded brute-force scan, "
    "run on the full and prefix-truncated vectors)",
    "t26_heaps_law": "scalar-broadcast (the 1-row doc count and the "
    "1-row regression-moment/total rows)",
    "t29_runs_test": "scalar-broadcast (the 1-row series median)",
    "t30_hellinger_distance": "scalar-broadcast (the 1-row class "
    "totals)",
    "t31_shapley_attribution": "scalar-broadcast (the constant "
    "16-subset grid and 4-channel table)",
    "t32_log_odds_distinguishing_terms": "scalar-broadcast (the "
    "1-row corpus totals)",
    "t33_forecast_backtest": "audit (the bounded (origin, i<=origin) "
    "pair join over the daily collapse — calendar-days squared)",
    "t35_revenue_bridge": "scalar-broadcast (the 1-row corpus-start "
    "date and total-delta rows)",
    "t36_isotropy_audit": "scalar-broadcast (the 1-row corpus count "
    "for the affine pair map)",
    "t37_simpson_paradox_detector": "scalar-broadcast (the 1-row "
    "overall-sign numerator)",
    "t38_effective_diversity": "scalar-broadcast (1-row totals and "
    "entropy-term rows)",
    "t39_keyset_pagination": "scalar-broadcast (the 1-row page "
    "anchor)",
    "t42_kendall_tau": "audit (part-pair concordance scan — bounded "
    "by the part-dimension size squared, not fact volume; the "
    "O(n log n) merge-count form replaces it at larger catalogs, "
    "stated in the op)",
    "t43_price_volume_mix": "scalar-broadcast (the 1-row first-order "
    "date)",
    "t47_bigram_pmi_collocations": "scalar-broadcast (the 1-row "
    "corpus token total)",
    "t49_cluster_size_histogram": "scalar-broadcast (1-row doc and "
    "clustered-doc totals)",
    "t50_threshold_calibration": "scalar-broadcast (the constant "
    "6-row threshold grid against the bounded pair set)",
    "t55_covariate_balance": "scalar-broadcast (the 1-row corpus-"
    "start date)",
    "t56_detector_agreement": "scalar-broadcast (1-row pair-set "
    "counts folded into the agreement row)",
    "t57_budgeted_selection": "scalar-broadcast (the 1-row corpus "
    "token total)",
    "t58_wilcoxon_signed_rank": "scalar-broadcast (the 1-row "
    "corpus-start date)",
    "t59_mcnemar_test": "scalar-broadcast (the 1-row corpus-start "
    "date)",
    "t62_uchart_error_monitor": "scalar-broadcast (the 1-row corpus "
    "error/event totals)",
    "t65_conversion_window_curve": "scalar-broadcast (the constant "
    "14-row window grid and 1-row signup total against the bounded "
    "per-user lag table)",
    "t66_forecast_reconciliation": "scalar-broadcast (the 1-row "
    "bottom-up forecast total)",
    "t67_anomaly_ensemble": "scalar-broadcast (the 1-row global "
    "moments; weekday peers are a 7-row broadcast)",
    "t69_js_divergence_matrix": "scalar-broadcast (the source-pair "
    "grid x distinct-lang table — both constant-size dimension "
    "relations)",
    "t74_dedup_savings_projection": "scalar-broadcast (the 1-row "
    "dropped-token totals)",
    "t77_return_rate_by_discount": "scalar-broadcast (the 1-row "
    "overall return rate)",
    "t80_sketch_error_audit": "scalar-broadcast (1-row error "
    "aggregates over the bounded candidate pair set)",
    "t84_temporal_leakage_audit": "scalar-broadcast (the 1-row "
    "corpus-start date)",
    "t86_watermark_lateness_tradeoff": "scalar-broadcast (the "
    "constant 5-row delay grid against the lateness stream)",
    "t87_ljung_box_whiteness": "scalar-broadcast (the constant "
    "3-row lag grid and 1-row moment rows over the daily collapse)",
    "t89_fold_balance_audit": "scalar-broadcast (the 1-row global "
    "rate)",
    "t88_state_capacity_planning": "scalar-broadcast (5-row delay "
    "grid x 1-row key census — pure constant-size arithmetic)",
    "t93_dedup_idempotence_audit": "scalar-broadcast (1-row "
    "survivor/residual counts)",
}

_PLAN_SWEEP_SKIP_TAGS = {"streaming", "stateful"}


def test_inventory_wide_join_shapes(spark):
    """Sweep EVERY batch query's physical plan: no CartesianProduct
    anywhere in the 190+ query inventory, and BroadcastNestedLoopJoin
    only where it is the intended scalar-broadcast/audit shape. A new
    query that accidentally plans a cartesian (e.g. a dropped join key
    after a refactor) fails here before it ever ships."""
    from xorbits_sql_spark.operators.dedup import release_caches

    cartesian, unexpected_bnlj = [], []
    for name, s in sorted(SPECS.items()):
        if _PLAN_SWEEP_SKIP_TAGS & set(s.tags):
            continue
        plan = (
            s.fn(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_INTENDED:
            unexpected_bnlj.append(name)
    release_caches()
    assert not cartesian, f"CartesianProduct in: {cartesian}"
    assert not unexpected_bnlj, (
        "unreviewed BroadcastNestedLoopJoin in: "
        f"{unexpected_bnlj} — classify each as scalar-broadcast/audit "
        "in _BNLJ_INTENDED or fix the join key"
    )


# Queries where a globally-partitioned window (single-partition sort) is
# the reviewed, intended shape. Legitimate only when the window input is
# already collapsed to a bounded relation (post-aggregation), or the
# semantic is inherently global AND a distributed approximate twin
# exists in the inventory.
_GLOBAL_WINDOW_INTENDED = {
    "q26_execute_top_ties_percent": "tsql TOP n WITH TIES / PERCENT is "
    "by definition a rank over ONE global ORDER BY — the same global "
    "sort any dialect's TOP/LIMIT implies; the wrapper filter caps the "
    "output at n (+ties) rows",
    "q47_ntile_spend": "exact global NTILE over per-customer aggregates; "
    "q93_approx_ntile is the distributed scale twin",
    "r79_bpe_merge_stats": "rank over the vocabulary-bounded pair table",
    "u12_snowflake_qualify_pivot": "QUALIFY ROW_NUMBER() over the "
    "PIVOT output — bounded by the o_orderpriority cardinality (5 "
    "rows at any scale; the pivot aggregate is the distributed part)",
    "s23_threshold_runs": "run-numbering over the bounded time grid",
    "s31_user_growth_curve": "running sum over the bounded day grid",
    "s64_hybrid_search_rrf": "rank over the two 100-row TakeOrdered "
    "retrieval legs (bounded by construction)",
    "s69_psi_value_drift": "totals over the fixed 10-bin grid",
    "s70_ks_two_sample": "ECDF cumsum over the per-distinct-value "
    "collapse (bounded by value cardinality, not row count)",
    "s71_mann_whitney_u": "rank cumsum over the same per-distinct-value "
    "collapse as s70",
    "s72_benford_first_digit": "total over the fixed 9-digit grid",
    "s73_peak_concurrency": "sweep-line running sum — inherently a "
    "total order over session endpoints (2 rows/session, already "
    "collapsed); at larger scale: range-partition + per-partition "
    "offset pass",
    "s74_cumulative_distinct_users": "running sum over the bounded "
    "day grid (post user-collapse)",
    "s76_zipf_exponent": "rank over the 200-row TakeOrdered head "
    "(bounded by construction)",
    "s98_kaplan_meier": "risk-set cumsums over the per-duration "
    "histogram (bounded by distinct lifetime days, not users)",
    "t01_poisson_bootstrap_ci": "rank over the 100 replicate means "
    "(bounded by the replicate count)",
    "t06_chatterjee_xi": "rank walks over the daily series (bounded "
    "by days after the daily collapse)",
    "t10_theil_sen_slope": "slope-median rank over the day-pair table "
    "(bounded by calendar days squared); day indexing over the daily "
    "collapse",
    "t14_skyline_pareto_frontier": "the one-sort 2D skyline walk over "
    "DISTINCT (price, size) pairs — inherently a total order; at "
    "scale: range-partition on price + per-partition skyline + "
    "frontier merge (documented in the op)",
    "t16_rfm_segmentation": "exact global NTILE over per-user "
    "aggregates (q47's justification; q93_approx_ntile is the "
    "distributed scale twin)",
    "t18_wasserstein_distance": "ECDF cumsum over the per-distinct-"
    "value collapse (bounded by value cardinality — the s70/s71 "
    "shape)",
    "t22_seasonal_residual_anomalies": "day indexing over the daily "
    "collapse (bounded by calendar days)",
    "t26_heaps_law": "cumulative token/vocab sums over the fixed "
    "10-bucket prefix grid",
    "t27_abc_analysis": "cumulative revenue-share walk — inherently "
    "a total order over parts; at scale: range-partition on revenue "
    "+ per-partition offset pass (s73's pattern, stated in the op)",
    "t28_bollinger_breakouts": "trailing 7-day rolling sums over the "
    "daily collapse (bounded by calendar days)",
    "t29_runs_test": "median positional selection + the run walk "
    "over the daily collapse (bounded by calendar days)",
    "t33_forecast_backtest": "day indexing over the per-type daily "
    "collapse (bounded by calendar days)",
    "t37_simpson_paradox_detector": "exact global NTILE over "
    "per-user aggregates (q47's justification)",
    "t57_budgeted_selection": "cumulative token walk in quality "
    "order — inherently a total order; at scale: range-partition "
    "on quality + per-partition offset pass (s73/t27's pattern, "
    "stated in the op)",
    "t76_abc_xyz_matrix": "t27's cumulative revenue-share walk — "
    "same range-partition + offset scale path",
    "t83_decision_stump": "split-candidate cumulative walk over the "
    "per-distinct-activity collapse (bounded by value cardinality "
    "— the s70 shape); argmin rank over the same bounded table",
    "t86_watermark_lateness_tradeoff": "arrival-order high-water "
    "scan — the audit is inherently sequential (it replays the "
    "watermark); at scale it runs per arrival segment with "
    "boundary carryover (stated in the op)",
    "t87_ljung_box_whiteness": "day indexing over the daily "
    "collapse (bounded by calendar days)",
    "t58_wilcoxon_signed_rank": "rank cumsum over the per-distinct-"
    "|difference| collapse (s70/s71's bounded shape)",
    "t61_bootstrap_delta_ci": "rank over the 100 replicate deltas "
    "(bounded by the replicate count)",
    "t66_forecast_reconciliation": "day indexing over the total "
    "daily collapse (bounded by calendar days)",
    "t67_anomaly_ensemble": "rolling/indexing windows over the "
    "daily collapse (bounded by calendar days)",
}

_WINSPEC = re.compile(
    r"windowspecdefinition\(([^)]*?)(?:, specifiedwindowframe|\))"
)


def _global_window_count(plan: str) -> int:
    n = 0
    for m in _WINSPEC.finditer(plan):
        first = m.group(1).split(",")[0].strip() if m.group(1).strip() else ""
        if first == "" or " ASC" in first or " DESC" in first:
            n += 1
    return n


def test_inventory_wide_window_partitioning(spark):
    """No query may sneak an unpartitioned window (single-task global
    sort — the quiet scale killer WindowExec warns about) past review:
    every global window must be in the classified set above."""
    from xorbits_sql_spark.operators.dedup import release_caches

    unexpected = []
    for name, s in sorted(SPECS.items()):
        if _PLAN_SWEEP_SKIP_TAGS & set(s.tags):
            continue
        plan = (
            s.fn(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if _global_window_count(plan) and name not in _GLOBAL_WINDOW_INTENDED:
            unexpected.append(name)
    release_caches()
    assert not unexpected, (
        f"unreviewed global windows in: {unexpected} — partition the "
        "window or classify it in _GLOBAL_WINDOW_INTENDED with the "
        "bounded-input justification"
    )


def test_collect_metrics_mapside_combine(spark):
    """Measured (not just asserted-by-shape) shuffle economy: TPC-H Q1's
    grouped aggregate over 60k lineitem rows must shuffle only the
    per-partition partial-aggregate rows — orders of magnitude below the
    scan row count. This is the outcome check behind every 'map-side
    combinable' claim in the inventory docs."""
    from pyspark.sql import functions as F

    from xorbits_sql_spark.plans import collect_metrics, metrics_tree

    df = (
        spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("s"))
    )
    df.collect()
    m = collect_metrics(df)
    assert m["scan_rows"] == 60_000
    assert 0 < m["shuffle_records_written"] < 600  # partials, not rows
    assert m["spill_bytes"] == 0
    tree = metrics_tree(df)
    assert "ShuffleExchangeExec" in tree and "FileSourceScanExec" in tree


def test_collect_metrics_broadcast_join_no_shuffle(spark):
    """A broadcast-dimension join must report ZERO shuffle records — the
    measured counterpart of the uses_broadcast_join plan gate."""
    from pyspark.sql import functions as F

    from xorbits_sql_spark.plans import collect_metrics

    cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    nation = spark.read.parquet("/root/testdata/sf0.01/nation.parquet")
    df = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    df.collect()
    m = collect_metrics(df)
    # non-vacuous: the scan/output metrics prove the plan really ran
    # (count() would leave everything zero — see the module contract)
    assert m["scan_rows"] > 0 and m["output_rows"] > 0
    assert m["shuffle_records_written"] == 0


def test_s94_dsir_weight_table_broadcasts(spark):
    # the 64-row bucket-weight table must broadcast onto the token
    # stream; a shuffle join on the bucket key would re-shuffle the
    # whole corpus for a dimension that fits in one packet
    df = SPECS["s94_dsir_importance_resample"].fn(spark, SF_ORACLE)
    assert uses_broadcast_join(df)


def test_t15_blocking_audit_no_allpairs(spark, monkeypatch):
    # both the candidate and truth legs must stay bounded joins —
    # a cartesian anywhere here means an all-pairs scan snuck in.
    # At test scale the t15->u14 density advisory must NOT fire (the
    # pair estimate is tiny); building the plan under error-on-warning
    # proves it stays silent. Pinned to the generators' distributed
    # tiers: at this scale the driver tiers would hand back local pair
    # tables, and no pair join would be left in the plan to check.
    import warnings

    from xorbits_sql_spark.operators import dedup

    monkeypatch.setattr(dedup, "_DRIVER_ROWS", 0)

    from xorbits_sql_spark.errors import AdvisoryWarning

    with warnings.catch_warnings():
        warnings.simplefilter("error", AdvisoryWarning)
        df = SPECS["t15_blocking_quality_audit"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_t15_advisory_fires_at_rehearsal_density():
    """Round-10 verdict #6: when the audit's submit-time pair estimate
    crosses the bound, the user is told the 24x-cheaper u14 sampled
    path exists (mirroring the pair-budget message pattern, minus the
    refusal — t15 stays the exact default). The 100x rehearsal measured
    916.5M records, which must fire; the sampled path's 37.7M must
    not."""
    import pytest

    from xorbits_sql_spark.errors import AdvisoryWarning
    from xorbits_sql_spark.queries.text import _advise_sampled_audit

    with pytest.warns(AdvisoryWarning, match="u14_blocking_audit_sampled"):
        assert _advise_sampled_audit(916.5e6) is True
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", AdvisoryWarning)
        assert _advise_sampled_audit(37.7e6) is False
