"""Plan-quality guards: physical plans must keep the shapes that survive
100 TB — no accidental nested-loop/cartesian joins, filters pushed into the
parquet scans — plus ingest robustness probes."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from hadoop_jobanalyzer_spark.operators import job_summary, map_table, timeline
from hadoop_jobanalyzer_spark.plans.registry import QUERIES
from hadoop_jobanalyzer_spark.sources.job_history import (
    HistoryViews,
    attempts_view,
    jobs_view,
    parse_records,
    records_from_string,
    tasks_view,
)

# Queries where an O(n) x tiny-broadcast nested loop is the *intended*
# plan (single query-vector or n_cells-centroid crossJoin — the broadcast
# side is 1..n_cells rows).
NESTED_LOOP_OK = {
    "q27_knn_brute_force",
    "q29_knn_ivf_cell",
    "q60_knn_multiprobe",
    "q61_knn_ivf_assigned",
    "q69_ivf_cell_stats",
    # 1-row min/max stats broadcast for quantization ranges
    "q76_zorder_buckets",
    # 1-row scalar broadcast: total corpus weight / total order count /
    # BM25 corpus stats (N, df, avgdl)
    "q78_weighted_sample",
    "q79_copurchase_lift",
    "q80_bm25_search",
    # 1-row totals broadcast (table total + key count / corpus totals)
    "q83_key_skew_profile",
    "q88_pmi_collocations",
    # 1-row broadcast: per-dim min/max arrays / k-centroid array /
    # customer-count stats / corpus doc count
    "q90_sq8_error_histogram",
    "q91_kmeans_step",
    "q93_rich_inactive_customers",
    "q95_tfidf_cosine_pairs",
    "q97_vocab_coverage_curve",
    # 1-row global-min-hour broadcast
    "q104_value_trends",
    # 1-row total-token-count broadcast
    "q110_doc_surprisal",
    # 1-row total-value broadcast
    "q115_user_value_concentration",
    # three 1-row census aggregates (edges/wedges/triangles) combined by
    # broadcast join
    "q120_copurchase_triangles",
    # 1-row PQ centroid-array broadcast
    "q126_pq_code_histogram",
    # six (n_rows, n_orphans) 1-row aggregate pairs combined by broadcast
    "q134_fk_audit",
    # sources x pooled-distinct-lengths grid: two tiny derived dims + a
    # 1-row total broadcast
    "q150_ks_length_drift",
    # 1-row min/max-day bounds broadcast clipping the horizon explode
    "q152_rolling_active_users",
    # Zipf-small distinct-name domain joined on a < inequality (the
    # intended O(|domain|^2) pair stage, never O(rows^2))
    "q154_part_name_edit_pairs",
    # 1-row MAX(o_orderdate) recency-cutoff broadcast
    "q156_dormant_segment_profile",
    # 1-row query-vector + 1-row BM25-stats broadcasts inside the two
    # bounded retrieval subplans being fused
    "q159_hybrid_search_rrf",
    # distinct-days x 24-literal-hours grid (two tiny derived dims)
    "q160_hourly_anomaly_flags",
    # 1-row MAX(day) decay-anchor broadcast
    "q166_decayed_engagement",
    # 1-row duration-total broadcast for the quartile crossings
    "q167_funnel_duration_quartiles",
    # 1-row query-bucket/query-label/top-10 broadcasts (ANN audit)
    "q168_ann_recall_audit",
    # three 1-row count aggregates combined by broadcast (dedup audit)
    "q169_dedup_candidate_audit",
    # 1-row global-total broadcast for the Q11 HAVING threshold
    "q191_important_parts",
    # #sources x #sources pair grid (two tiny derived dims on < inequality)
    "q194_source_tv_distance",
    # 1-row customer-count broadcast for the quartile formula
    "q203_rfm_segments",
    # 1-row grand-total broadcast for the independence products
    "q213_lang_source_residuals",
    # bounded anchor set (TakeOrdered k rows) broadcast on a != inequality
    "q220_negative_samples",
    # 1-row vocab (V, N) fold broadcast into the scoring projection
    "q228_distinctive_terms",
    # 1-row total-count broadcast for the quintile formula
    "q229_quality_dup_calibration",
    # 1-row (t_tot, s_tot) decimal-totals broadcast into the affinity test
    "q232_importance_selection",
    # 1-row k-centroid struct-array broadcast, once per Lloyd round
    "q233_kmeans_iterated",
    # 1-row max-week broadcast clipping churn accounting at the horizon
    "q239_growth_accounting",
}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_accidental_cartesian(spark, sf_dir, name):
    fn, _ = QUERIES[name]
    plan = _plan(fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in NESTED_LOOP_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a nested-loop join"
        )


def test_scan_pruning_core_join(spark, sf_dir):
    """q02's lineitem scan must push its date filter and read only the
    needed columns."""
    fn, _ = QUERIES["q02_shipping_priority"]
    plan = _plan(fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
    # ReadSchema for lineitem should not include unused wide columns
    for line in plan.splitlines():
        if "ReadSchema" in line and "l_orderkey" in line:
            assert "l_comment" not in line and "l_shipmode" not in line


def _views_from(spark, text):
    parsed = parse_records(records_from_string(spark, text))
    return HistoryViews(
        records=parsed,
        jobs=jobs_view(parsed),
        tasks=tasks_view(parsed),
        attempts=attempts_view(parsed),
    )


def _n_exchanges(plan: str) -> int:
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_timeline_plan_shape(spark):
    """Canary for the timeline's shape: the attempts are shuffled once by
    job, and the final-attempt window, the delta group-by and the
    running-sum window all reuse that exchange; the log is scanned once for
    the attempts and once for the jobs' bounds. A dense spine, a join or a
    second final-attempt shuffle shows up as extra scans and exchanges."""
    import os
    import re

    from hadoop_jobanalyzer_spark.sources import load_history

    tiny = os.path.join(os.path.dirname(__file__), "data", "tiny_log.txt")
    plan = _plan(timeline(load_history(spark, tiny)))
    n_scans = len(re.findall(r"^\(\d+\) Scan text", plan, re.M))
    assert n_scans <= 2, f"{n_scans} text scans\n{plan}"
    assert _n_exchanges(plan) <= 4, f"{_n_exchanges(plan)} exchanges\n{plan}"


@pytest.mark.parametrize(
    "report,max_exchanges,max_broadcasts",
    [
        # tasks joined to the per-task attempt fold, one per-job group-by,
        # broadcast onto the jobs row
        ("job_summary", 2, 2),
        # the all-maps-complete window, the fold, the join, the final sort
        ("reduce_table", 4, 1),
        # one repartition by job shared by the final flag, the delta
        # group-by and the running-sum window, plus the final sort
        ("timeline", 2, 1),
    ],
)
def test_lookup_plan_exchanges(spark, one_job_lake_views, report, max_exchanges, max_broadcasts):
    """A per-job lookup is bound by per-stage overhead, so each of its
    reports keeps its shuffle and broadcast count: an extra per-job
    aggregate joined back, or a second attempts shuffle, fails here."""
    import re

    from hadoop_jobanalyzer_spark import operators

    plan = _plan(getattr(operators, report)(one_job_lake_views))
    n = _n_exchanges(plan)
    n_bc = len(re.findall(r"^\(\d+\) BroadcastExchange", plan, re.M))
    assert n <= max_exchanges, f"{report}: {n} exchanges\n{plan}"
    assert n_bc <= max_broadcasts, f"{report}: {n_bc} broadcast exchanges\n{plan}"


def test_lookup_timeline_build_py4j_budget(spark, one_job_lake_views, monkeypatch):
    """Building a lookup's timeline (no action) stays under 1357 py4j
    commands, half of what it took with PySpark's per-call call-site
    capture on (2714). Each DataFrame or functions call then cost about
    six extra round trips; a regression in the session conf or a plan
    built with many more calls fails here."""
    import threading

    import py4j.java_gateway
    import py4j.protocol

    sent = [0]
    send = py4j.java_gateway.GatewayClient.send_command
    builder = threading.get_ident()

    # only the build's own commands: py4j also sends the deletes of
    # collected Java objects through this call, from whichever thread
    # collects them
    def counting(self, command, *args, **kwargs):
        if threading.get_ident() == builder and not command.startswith(
            py4j.protocol.MEMORY_COMMAND_NAME
        ):
            sent[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(py4j.java_gateway.GatewayClient, "send_command", counting)
    timeline(one_job_lake_views)
    monkeypatch.undo()
    assert 0 < sent[0] <= 1357, f"{sent[0]} py4j commands"


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        # spread() fan-out + countDistinct two-phase; sort+limit folds to
        # TakeOrdered
        ("q41_vocabulary", 3),
        ("q44_daily_event_pivot", 3),  # two-level pivot agg + final sort
        ("q53_lineitem_unpivot_stats", 2),  # metric agg + final sort
        ("q43_split_counts", 2),   # (lang, split) agg + final sort
        # capped block table materialized once (Scan ExistingRDD child);
        # the remaining plan is the broadcast self-join + range sort —
        # a regression that re-duplicates the block-size agg fails here
        # capped block table materialized once; broadcast self-join is
        # bound-backed (<= 30 blocks x 500 rows — dispositioned r10; the
        # shuffle-hash pin tried first measured 3.9x slower at sf0.1)
        ("q50_fuzzy_prefix_pairs", 2),
        # r10: probes stay broadcast (n_planes+1 rows), but the vector
        # pull-back is pinned shuffle-hash — candidates are a fixed
        # FRACTION of the corpus, never broadcastable at scale
        ("q60_knn_multiprobe", 4),
        ("q62_repetition_signals", 4),  # spread + 2-level agg + sort
        ("q63_contamination", 7),  # 2 branches + distinct + agg + size join + sort
        ("q64_token_entropy", 4),
        ("q65_doclen_histogram", 2),
        ("q67_source_balance", 5),
        ("q69_ivf_cell_stats", 4),
        ("q77_event_funnel", 8),  # 3 staged aggs + user_id joins + union sort
        ("q78_weighted_sample", 2),  # 1-row total + final sort
        ("q79_copurchase_lift", 9),  # distinct + order-key self-join + 3 aggs
        ("q80_bm25_search", 1),  # ONLY the 1-row stats agg — scan stays codegen
        # r10: boiler + hits joins pinned shuffle-hash (the boilerplate
        # set grows with the corpus; both rode fanout-blind estimates)
        ("q81_boilerplate_fraction", 6),
        ("q90_sq8_error_histogram", 4),  # dim stats + 1-row collect + histogram + sort
        ("q91_kmeans_step", 3),   # centroid collect + (cell,dim) agg + final
        ("q92_nation_revenue_share", 2),  # nation agg + 25-row window
        ("q94_duplicated_spans", 4),  # +1 r10: hits join pinned shuffle-hash
        ("q95_tfidf_cosine_pairs", 7),  # tf/term cached + norms + pairs + 2 joins
        ("q96_event_value_outliers", 2),  # per-type moments + final sort
        ("q97_vocab_coverage_curve", 3),  # term count + bounded top-k + cutoffs
        ("q98_label_centroid_distances", 4),  # (label,dim) agg + pair join
        ("q100_embedding_correlations", 2),  # pair agg (partial) + final sort
        ("q101_missing_minutes", 2),   # bounds agg + distinct anti-join
        ("q102_orders_profile", 2),    # one aggregate + in-row unpivot
        ("q118_hll_registers", 2),     # register max agg + final sort
        ("q119_kmv_distinct", 3),      # distinct + group-limit window + sort
        # r10: 13 -> 6 — adjacency table materialized once (it feeds
        # both probe joins) and all degree/adjacency joins pinned
        # shuffle-hash (corpus-scaled builds; the q235 doctrine)
        ("q120_copurchase_triangles", 6),
        ("q121_phrase_search", 1),     # in-row verify: ONLY the final sort
        ("q122_market_share", 3),      # fact agg + per-year window + sort
        # r10: 4 -> 9 — every join pinned shuffle-hash, mirroring q235:
        # the candidate self-join statically BROADCAST one full prefix
        # side off the LogicalRDD's copied fanout-blind estimate, and
        # the verify/dfreq/sizes builds rode the same class. Exchanges
        # over materialized tables are cheap; fatal broadcasts are not.
        ("q123_setsim_prefix_join", 9),
        ("q124_cdc_chunk_dedup", 5),   # +1 r10: count join pinned shuffle-hash
        ("q125_degree_distribution", 5),  # self-join + distinct + deg + histogram
        ("q126_pq_code_histogram", 2),  # centroid collect + M*K histogram agg
        ("q128_mad_outliers", 2),      # two rank windows share one shuffle + agg
        ("q129_part_skyline", 1),      # single window pass, no self-join
        ("q130_table_checksums", 2),   # bucket XOR agg + final sort
        ("q131_part_pagerank", 17),    # 3 unrolled iterations, equi-joins only
        ("q140_order_streaks", 4),     # distinct + window + 2 roll-up aggs
        ("q141_spearman_len_tokens", 2),  # both rank windows share one shuffle
        ("q142_benford_order_values", 2),  # digit agg + 9-row share window
        ("q143_expectations_report", 7),  # one agg per table (distinct adds none)
        ("q144_small_quantity_revenue", 2),  # per-part agg + partkey join
        ("q145_sole_late_supplier", 5),  # orderkey join + 2 rollups + supp join
        ("q146_audience_bitmaps", 2),  # bit_or partial agg + final sort
        ("q147_bitmap_audience_overlap", 6),  # +1 r10: word pair join pinned SHJ
        ("q148_funnel_pattern_matches", 2),  # one CEP window + count agg
        ("q149_time_weighted_value", 2),   # one interval window + user agg
        ("q150_ks_length_drift", 7),   # counts/vals/srcs aggs + 2 cum windows
        ("q151_incremental_daily_revenue", 3),  # base+delta states + merge agg
        ("q152_rolling_active_users", 5),  # distinct + bounds + 2-phase countDistinct
        ("q153_gapfill_interpolation", 2),  # minute agg + global spine window
        ("q154_part_name_edit_pairs", 3),  # name-domain agg both sides + sort
        ("q155_cheapest_supplier_per_part", 3),  # (part,supp) agg + rank + sort
        ("q156_dormant_segment_profile", 5),  # seg agg + distinct + anti + agg
        ("q157_next_word_branching", 2),  # bigram agg; rank+rollup share shuffle
        ("q158_srp_lsh_buckets", 3),  # in-row hash; 2-phase countDistinct + sort
        ("q159_hybrid_search_rrf", 2),  # two bounded top-k subplans + tiny fuse
        ("q160_hourly_anomaly_flags", 6),  # cell agg + grid join + hour stats
        ("q161_nation_trade_volume", 2),  # orderkey join + final agg (dims bcast)
        ("q162_customer_spend_ranks", 2),  # spend agg + one shared rank window
        ("q163_rolling_correlation", 2),   # hour agg + one global moment window
        ("q164_weighted_median_value", 4),  # li weights + join + value agg + window
        ("q165_local_supplier_volume", 2),  # orderkey join + agg (dims broadcast)
        ("q166_decayed_engagement", 3),    # bounds agg + user agg + sort
        ("q167_funnel_duration_quartiles", 6),  # CEP window + dur agg + crossings
        ("q168_ann_recall_audit", 4),      # 2 methods x (count + hit count)
        # composes the full q22 + q23 pipelines (intrinsic: the audit
        # compares two independent methods) + the tiny hit join
        # r10: 22 -> 5 — both pair sets materialize (ExistingRDD
        # children) and the hit join is pinned shuffle-hash
        ("q169_dedup_candidate_audit", 5),
        ("q170_band_revenue", 2),          # band agg + final sort (part bcast)
        ("q171_returned_item_customers", 1),  # orderkey join + TakeOrdered
        ("q172_source_vocab_jaccard", 10),  # +2 r10: token self-join pinned SHJ
        ("q173_cohort_ltv_curves", 7),   # firsts + cells 2-phase distinct + cum
        ("q174_temporal_lookup_join", 2),  # SCD2 window + user-key range join
        ("q175_brand_discount_qty_corr", 2),  # one moment agg + sort (part bcast)
        ("q176_frequent_part_triples", 4),  # distinct + 2 basket joins + agg
        ("q177_quality_pass_rates", 2),    # one gate agg + final sort
        ("q178_ab_experiment_readout", 3),  # 2-phase distinct-user agg + sort
        ("q179_forecast_revenue_delta", 1),  # zero-join pushed-filter agg
        ("q180_promo_revenue_share", 2),   # month agg + sort (part bcast)
        ("q181_large_volume_customers", 2),  # order agg + orderkey join
        ("q182_order_count_distribution", 3),  # ocnt pushdown agg + join + count-of-counts
        ("q183_top_supplier_per_quarter", 3),  # rev agg + quarter window + sort
        ("q184_label_medoids", 2),  # one label shuffle into the Arrow stage
        ("q185_relaxed_funnel_conversion", 2),  # one user window + user agg
        ("q186_late_order_priority_census", 2),  # semi join + priority agg
        ("q187_five_minute_bars", 2),  # one bar agg (min_by/max_by) + sort
        ("q188_shipping_priority", 1),  # orderkey join + TakeOrdered (cust bcast)
        ("q189_product_margin", 2),  # orderkey fact join + agg (dims broadcast)
        ("q190_part_supplier_census", 3),  # anti/dim bcast + distinct + count
        ("q191_important_parts", 4),  # part agg + 1-row total + threshold + sort
        ("q192_dominant_suppliers", 4),  # (part,supp) agg reused by window + agg
        ("q193_late_priority_split", 2),  # orderkey join + quarter CASE agg
        ("q194_source_tv_distance", 16),  # +2 r10: token self-join pinned SHJ
        ("q195_token_fertility", 2),  # one lang agg + sort, zero joins
        ("q196_mixing_apportionment", 2),  # source agg + #sources-row windows
        # 2 LPA vote rounds over persisted edges; +1 slack: the vote join
        # against the cached spine flips between broadcast and SMJ with the
        # InMemoryRelation's session-history-dependent size estimate (both
        # plans are the intended Pregel superstep shape)
        ("q197_lpa_communities", 10),
        ("q198_inverted_index", 4),  # postings agg + top-token cut + semi join
        ("q199_retention_matrix", 7),  # weekly distinct + firsts + activity agg
        ("q200_rolling_median_revenue", 2),  # day agg + day-spine window
        ("q201_epoch_shuffle_audit", 16),  # 3 epochs x (bucket rank + fold agg)
        ("q202_batch_padding_efficiency", 10),  # 2 policies x (rank + 2 aggs)
        ("q203_rfm_segments", 25),  # 3 bucketed ranks over the CUSTOMER grain
        ("q204_dedup_token_savings", 2),  # CC labels (persisted) + source agg
        ("q205_filter_ablation", 2),  # one flag agg + 8-row sort
        ("q206_first_batch_manifest", 4),  # bucket rank + batch-cut bcast join
        ("q207_fd_audit", 9),  # 3 FDs x (2-phase distinct-RHS agg + 1-row)
        ("q208_funnel_order_integrity", 3),  # user min agg + 4-row census
        ("q209_join_size_forecast", 9),  # 3 forecasts x (2 count aggs + key join)
        ("q210_adoption_curve", 3),  # first-seen agg + day agg + spine window
        ("q211_ship_lag_percentiles", 3),  # fact join + tiny (prio,lag) windows
        ("q212_supplier_scorecard", 3),  # fact join + supplier-grain window
        ("q213_lang_source_residuals", 8),  # grid agg + 3 tiny re-agg broadcasts
        ("q214_value_gini", 6),  # customer agg + bucketed rank + 1-row fold
        # CC labels arrive via localCheckpoint (its own jobs ran already);
        # the remaining plan is keepers + alloc windows + per-source selection
        ("q215_training_mix_manifest", 6),
        ("q216_lsh_banding_planner", 5),  # sig agg + bucket agg + grid agg + sort
        ("q217_compaction_plan", 3),  # file-manifest agg + source window + sort
        ("q218_group_kfold", 3),  # 2-phase distinct-group fold agg + sort
        ("q219_edge_boilerplate", 2),  # in-row edge grams; one agg + sort
        ("q220_negative_samples", 3),  # anchor TakeOrdered + per-anchor window
        ("q221_truncation_planner", 2),  # in-row grid explode; one agg + sort
        # composes the full q34 LSH+verify pipeline (intrinsic) + 10-row window
        ("q222_dedup_threshold_sweep", 12),  # +2 r10: verify joins pinned SHJ
        ("q223_watermark_planner", 2),  # one type window + tiny bucket windows
        ("q224_join_strategy_advisor", 7),  # 7 independent 1-row table folds
        ("q225_write_size_planner", 2),  # one source agg + sort
        ("q226_session_timeout_grid", 2),  # one user lag window + 1-row fold
        ("q227_hopping_windows", 2),  # in-row 2-hop explode; one cell agg + sort
        # persisted (lang,token) count table; the formatted plan reprints the
        # cached child's exchanges at each of its four scans
        # r10: 13 -> 7 — tok_tot join pinned shuffle-hash (vocab-scaled
        # build); the cached count table no longer reprints per scan
        ("q228_distinctive_terms", 7),
        # persisted doc-grain flag table consumed 3x by bucketed_global_rank
        # (same reprint effect; executed cost is one build + tiny windows)
        ("q229_quality_dup_calibration", 7),  # r10: 18 -> 7 (gsz pinned SHJ)
        # rounds materialize via localCheckpoint (ExistingRDD children);
        # the visible plan is the final assign + cell agg + sort
        ("q233_kmeans_iterated", 3),
        # with the session cache cleared the formatted plan reprints the
        # edge build (order-key self-join + distinct) at each of its
        # THREE scans (both sym branches + the anti-join side); executed
        # cost is one persisted build + wedge join + pair agg +
        # anti-join + 2 post-cut degree joins. +1 AQE-estimate slack.
        ("q234_link_prediction", 17),
        # ranked token relation materialized once (r9, feeds prefix +
        # probe + positional filter). DELIBERATELY shuffle-heavy: every
        # join is pinned shuffle-hash because the two relations the
        # planner wants to broadcast (filtered prefix, candidate pairs)
        # are corpus-sized with underestimated stats — both runtime
        # broadcast flips measurably OOM'd at x100, while the pinned SHJ
        # plan runs 2.4x faster there AND faster at sf0.1 (3.7 s vs
        # 5-6 s). Exchanges over materialized tables are cheap; fatal
        # broadcasts are not.
        ("q235_containment_pairs", 18),
        ("q236_mixture_schedule", 2),   # per-source rank window + 100-row head window
        ("q237_source_novelty", 8),     # spread + (source,gram) distinct + 4 census aggs
        ("q238_filter_agreement", 2),   # ONE 1-row aggregate + 3-row unpivot sort
        ("q239_growth_accounting", 8),  # distinct + ONE user window + single census agg
        ("q240_order_reconciliation", 6),  # order-keyed lineitem agg + join + census
        ("q241_embedding_audit", 4),    # r10 tightened: count join pinned SHJ
    ],
)
def test_shuffle_budget(spark, sf_dir, name, max_exchanges):
    """Shuffle budgets for representative new queries: regressions that add
    an Exchange (lost partial agg, accidental repartition) fail here.

    Cache is cleared first: a query whose operator persists an internal
    table (q66, q95) explains differently once another test materialized
    that cache (the InMemoryRelation's stored plan prints its own
    exchanges), which would make the count order-dependent."""
    spark.catalog.clearCache()
    fn, _ = QUERIES[name]
    plan = _plan(fn(spark, sf_dir))
    n = _n_exchanges(plan)
    assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges})\n{plan}"


# The queries whose fatal-class flags were pinned/restructured in r10 —
# the regression canaries for the estimate-built-broadcast audit. The
# full 241-query audit lives in tools/plan_audit.py (round-close gate);
# this test keeps the riskiest plans honest inside the suite.
ESTBHJ_CANARIES = [
    "q123_setsim_prefix_join",   # candidate self-join statically broadcast pre-pin
    "q120_copurchase_triangles", # degree/adjacency joins
    "q110_doc_surprisal",        # planner picked the EXPLODED token stream as build
    "q94_duplicated_spans",      # per-doc hits over span-explode lineage
    "q95_tfidf_cosine_pairs",    # norm joins over posting explode
    "q74_incremental_dedup",     # store cap/probe joins (interior: touched bcast)
    "q66_minhash_estimate",      # signature joins over materialized sigs
    # interior-capture canaries (r10 blind-spot closure): their fatal
    # sites lived INSIDE a materialize()/persist and were invisible to a
    # top-level explain until util.PLAN_CAPTURE
    "q235_containment_pairs",    # unpinned dfreq/sizes joins inside the ranked build
    "q204_dedup_token_savings",  # CC-round edge/label broadcasts (corpus_dedup cache)
    "q233_kmeans_iterated",      # k x d centroid aggregate (dispositioned)
]


@pytest.mark.parametrize("name", ESTBHJ_CANARIES)
def test_no_fatal_estimate_built_broadcast(spark, sf_dir, name):
    """No BroadcastExchange build may ride a fanout-blind estimate over
    Generate/ExistingRDD lineage (the q235 x100 abort class) — neither in
    the query's top-level plan nor in any plan materialized or
    session-cached while constructing it (util.PLAN_CAPTURE; joins
    interior to a checkpoint execute during materialization and print as
    `Scan ExistingRDD` downstream, so only the capture can audit them).
    See tools/plan_audit.py for the classifier and PLAN_AUDIT.md for the
    fleet-wide dispositions."""
    import sys

    sys.path.insert(0, ".")
    import hadoop_jobanalyzer_spark.util as util
    from tools.plan_audit import (
        DISPOSITIONS,
        audit_interior_plans,
        estimate_built_broadcasts,
    )

    spark.catalog.clearCache()
    fn, _ = QUERIES[name]
    util.PLAN_CAPTURE = interior = []
    try:
        df = fn(spark, sf_dir)
    finally:
        util.PLAN_CAPTURE = None
    fatal, _, _ = estimate_built_broadcasts(_plan(df), DISPOSITIONS.get(name))
    assert not fatal, f"{name}: fatal estimate-built broadcast(s): {fatal}"
    i_fatal, _, _, i_cart = audit_interior_plans(interior, DISPOSITIONS.get(name))
    assert not i_fatal, f"{name}: fatal interior site(s): {i_fatal}"
    assert i_cart == 0, f"{name}: cartesian product in an interior plan"


def test_q179_pushes_every_predicate(spark, sf_dir):
    """The Q6 shape is the pushdown benchmark: date range, discount band,
    and quantity cap must all reach the parquet scan."""
    fn, _ = QUERIES["q179_forecast_revenue_delta"]
    plan = _plan(fn(spark, sf_dir))
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in plan, f"predicate not pushed: {frag}\n{plan}"


def test_q51_broadcasts_dim_join(spark, sf_dir):
    """The part-side of q51's join is dimension-sized — it must broadcast,
    not shuffle the fact table into a sort-merge join."""
    fn, _ = QUERIES["q51_top_parts_per_brand"]
    plan = _plan(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_empty_input_yields_empty_reports(spark):
    v = _views_from(spark, "")
    assert v.records.count() == 0
    assert job_summary(v).count() == 0
    assert map_table(v).count() == 0
    assert timeline(v).count() == 0


def test_garbage_input_no_exceptions(spark):
    garbage = "not a record\nalso not one\n\x00\x01 binaryish\nEVENT missing terminator"
    v = _views_from(spark, garbage)
    assert v.records.count() == 0  # nothing " ."-terminated
    assert job_summary(v).count() == 0


def test_unterminated_trailing_record_dropped(spark):
    text = (
        'Job JOBID="job_1_0001" SUBMIT_TIME="1000" .\n'
        'Job JOBID="job_1_0001" FINISH_TIME="2000"'  # no " ." terminator
    )
    v = _views_from(spark, text)
    assert v.records.count() == 1  # reference remainder semantics: dropped
    row = v.jobs.collect()[0]
    assert row["submit_time"] == 1000 and row["finish_time"] is None
