"""Physical-plan regression tests: the scale properties the engine is
designed around (broadcast dimension joins, TakeOrderedAndProject top-k,
partial aggregation, column pruning, no cartesian products) must survive
refactors.  Assertions target plan SHAPE, not sizes, so they hold on any
input volume."""

import os
import re
import sys

import pytest
from conftest import SF_DIR, plan_text

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _queries():
    from rss_feed_etl_spark import driver_queries

    return driver_queries.queries()


def test_topk_join_agg_plan(spark):
    s = plan_text(_queries()["returned_revenue_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in s  # top-20 never globally sorts
    assert "CartesianProduct" not in s
    assert s.count("BroadcastHashJoin") >= 2  # customer+nation are broadcast
    # the fact scan reads only the 4 columns the query touches
    li_schema = next(l for l in s.splitlines() if "ReadSchema" in l and "l_orderkey" in l)
    for unused in ("l_quantity", "l_tax", "l_shipdate", "l_partkey"):
        assert unused not in li_schema, f"column {unused} not pruned from scan"


def test_pricing_summary_partial_agg(spark):
    s = plan_text(_queries()["pricing_summary"](spark, SF_DIR))
    # map-side partial + final aggregate around one exchange
    assert s.count("HashAggregate") >= 2
    assert "CartesianProduct" not in s


@pytest.mark.parametrize(
    "name", ["scd1_merge", "merge_upsert", "scd2_merge", "merge_counts"]
)
def test_scd1_merge_never_shuffle_joins_history(spark, name):
    s = plan_text(_queries()[name](spark, SF_DIR))
    assert "BroadcastHashJoin" in s  # the batch is always the broadcast side
    assert "SortMergeJoin" not in s  # history side joins via broadcast only
    assert "CartesianProduct" not in s


def test_minhash_single_groupby_no_join(spark):
    s = plan_text(_queries()["minhash_lsh_neardup"](spark, SF_DIR))
    # the LSH rewrite replaced the banded self-join with one groupBy:
    # any join reappearing here means the signature subtree runs twice
    assert "Join" not in s
    assert "CartesianProduct" not in s


def test_incremental_neardup_broadcasts_batch(spark):
    s = plan_text(_queries()["incremental_neardup"](spark, SF_DIR))
    # the batch side broadcasts: the corpus signature stream is never
    # exchanged for the bucket join
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_packing_no_corpus_wide_window(spark):
    s = plan_text(_queries()["sequence_packing"](spark, SF_DIR))
    # bucket offsets join back broadcast-side; the only unpartitioned
    # window runs over the n_buckets-row totals frame
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_weighted_sample_is_takeordered(spark):
    s = plan_text(_queries()["weighted_doc_sample"](spark, SF_DIR))
    # top-k by priority compiles to per-partition heaps, not a global sort
    assert "TakeOrderedAndProject" in s


def test_bm25_broadcasts_term_stats(spark):
    s = plan_text(_queries()["bm25_search"](spark, SF_DIR))
    assert "BroadcastHashJoin" in s or "BroadcastNestedLoopJoin" in s
    assert "SortMergeJoin" not in s
    assert "TakeOrderedAndProject" in s


def test_embedding_lsh_neardup_no_join_single_groupby(spark):
    s = plan_text(_queries()["embedding_cosine_neardup"](spark, SF_DIR))
    # banded LSH near-dup: signature pass → ONE (band, sig) groupBy →
    # in-bucket GEMM; any join here means the corpus is pairing with itself
    assert "Join" not in s
    assert "CartesianProduct" not in s


def test_survival_window_runs_at_duration_grain(spark):
    # _survival_risk_table's cumulative at-risk window is UNPARTITIONED —
    # legal only because its input is the post-groupBy duration grain
    # (bounded by the observation horizon in days, not by users or
    # events).  Pin that: the single Window consumes the aggregated
    # n_events/n_censored columns (which exist only after the
    # duration_days groupBy), so a refactor that windows at user grain —
    # silently single-partitioning the corpus — breaks this test.
    from rss_feed_etl_spark import testdata as td
    from rss_feed_etl_spark.operators import eventanalytics

    ev = td.load_table(spark, SF_DIR, "events")
    s = plan_text(eventanalytics.kaplan_meier(ev))
    assert s.count("Window") >= 1
    # the grain collapse exists...
    assert "duration_days" in s
    # ...and the window's frame runs over the post-agg grain columns
    window_section = s[s.index("Window"):]
    assert "n_events" in window_section and "n_censored" in window_section
    # no window (or sort feeding one) references the user key
    assert "user_id ASC" not in window_section
    assert "user_id DESC" not in window_section


def test_ann_ivf_broadcasts_probes(spark):
    s = plan_text(_queries()["ann_cosine_topk_ivf"](spark, SF_DIR))
    # the probe (query) side broadcasts on the small int cell key; the
    # corpus is scanned once and never exchanged for the candidate join.
    # The quantizer itself is driver-side model state (see
    # test_similarity_ivf.test_ivf_centroid_count_is_corpus_independent
    # for the fixed-k bound) so it never appears in this plan.
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_binary_ann_broadcasts_probes_no_shuffle_join(spark):
    s = plan_text(_queries()["binary_sign_ann_topk"](spark, SF_DIR))
    # sign words computed map-side; the 10-query probe side broadcasts
    # through a nested-loop (no key) join; the corpus never sort-merges
    assert "BroadcastNestedLoopJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    # ADVICE r5: no exchange may move float vectors — candidate selection
    # repartitions (query_id, neighbor_id, hamming) only; vectors re-enter
    # at candidate grain via broadcast joins
    import re

    for block in re.findall(r"\(\d+\) Exchange\nInput[^\n]*", s):
        assert "queryv" not in block and "neighborv" not in block, block
        assert "embedding" not in block, block


def test_embedding_dim_stats_grid_grain_window(spark):
    s = plan_text(_queries()["embedding_dim_stats"](spark, SF_DIR))
    # the cumulative window runs at (dim, grid-code) grain AFTER the
    # counts aggregate — its frame touches the aggregated count column,
    # and the only joins are broadcasts of the 64-row stats side
    assert "SortMergeJoin" not in s
    window_section = s[s.index("Window"):]
    assert "c#" in window_section or "c " in window_section
    assert "BroadcastHashJoin" in s


def test_vocab_curve_and_sampling_table_use_distributed_topk(spark):
    # the cumulative windows run over LIMIT-bounded rows: the plan must
    # take the top-V via TakeOrdered (distributed top-k, no global sort
    # of the vocabulary feeding the window)
    for name in ("vocab_coverage_curve", "negative_sampling_table"):
        s = plan_text(_queries()[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in s, name
        assert "SortMergeJoin" not in s, name


def test_ipf_grid_joins_all_broadcast(spark):
    # after the one corpus-scale aggregate, every IPF iteration is
    # grid-grain and localCheckpointed per half-step (round 6), so the
    # FINAL plan is a projection over the last checkpoint -- no joins, no
    # sort-merge, no exchange survive into it.  The per-iteration join
    # strategy is pinned by the broadcast hints in the operator; this pin
    # guards the returned plan's shape.
    s = plan_text(_queries()["ipf_source_lang_weights"](spark, SF_DIR))
    assert "SortMergeJoin" not in s
    assert "Scan ExistingRDD" in s


def test_token_gini_windows_at_count_grain(spark):
    # the rank-sum window partitions by source over frequency-of-frequency
    # rows — its frame touches the aggregated multiplicity column 'm',
    # which only exists after the (source, f) groupBy; no join anywhere
    s = plan_text(_queries()["token_gini_by_source"](spark, SF_DIR))
    assert "Join" not in s
    window_section = s[s.index("Window"):]
    assert "m#" in window_section


def test_quality_threshold_grid_window_and_broadcasts(spark):
    s = plan_text(_queries()["quality_keep_threshold"](spark, SF_DIR))
    # per-source totals and thresholds are source-grain broadcasts; the
    # cumulative window runs over (source, code) counts
    assert "SortMergeJoin" not in s
    assert "BroadcastHashJoin" in s


def test_ann_lsh_broadcasts_queries(spark):
    s = plan_text(_queries()["ann_cosine_topk_lsh"](spark, SF_DIR))
    # the banded query side broadcasts; the corpus is never exchanged for
    # the candidate join
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_simhash_neardup_no_join(spark):
    s = plan_text(_queries()["simhash_neardup"](spark, SF_DIR))
    assert "Join" not in s
    assert "CartesianProduct" not in s


def test_url_dedup_single_aggregate(spark):
    s = plan_text(_queries()["url_canonical_dedup"](spark, SF_DIR))
    # canonicalization is map-side expressions; the only exchange is the
    # canonical-url groupBy (partial + final aggregate around it)
    assert s.count("+- Exchange") == 1  # tree section: exactly one exchange
    assert s.count("HashAggregate") >= 2
    assert "Join" not in s


def test_q6_scan_filter_agg_only(spark):
    s = plan_text(_queries()["discount_opportunity"](spark, SF_DIR))
    # scan + pushed filters + partial/final agg; no join, no wide exchange
    assert "Join" not in s
    assert s.count("HashAggregate") >= 2
    assert "PushedFilters" in s


def test_q7_broadcasts_all_dimension_maps(spark):
    s = plan_text(_queries()["volume_shipping"](spark, SF_DIR))
    # supplier/customer nation maps broadcast; lineitem⋈orders is the only
    # potentially-shuffled join
    assert s.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in s


def test_q8_market_share_all_dims_broadcast(spark):
    s = plan_text(_queries()["market_share"](spark, SF_DIR))
    # part/supplier/customer/nation/region maps all broadcast against the
    # lineitem fact — a SortMergeJoin here means a dimension degraded to a
    # full shuffle of the fact table
    assert s.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    assert s.count("HashAggregate") >= 2  # map-side partial aggregation


def test_q9_single_large_exchange(spark):
    s = plan_text(_queries()["nation_profit"](spark, SF_DIR))
    assert s.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in s


def test_token_budget_no_global_corpus_window(spark):
    s = plan_text(_queries()["token_budget_select"](spark, SF_DIR))
    # the corpus-sized window is partitioned by score cell; only the
    # grid-sized totals frame runs unpartitioned, and offsets broadcast back
    assert s.count("Window") >= 2
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_temperature_mixture_rates_broadcast(spark):
    s = plan_text(_queries()["temperature_mixture_sample"](spark, SF_DIR))
    # per-group rates arrive as a broadcast of the count aggregate; the
    # corpus scan itself is never exchanged for the rate join
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_leakage_safe_split_broadcasts_components(spark):
    s = plan_text(_queries()["leakage_safe_split"](spark, SF_DIR))
    # the (duplicate-rate-sized) component table broadcasts onto the corpus
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_q2_min_cost_broadcasts_dims(spark):
    s = plan_text(_queries()["min_cost_supplier"](spark, SF_DIR))
    # filtered part set broadcasts INTO the supply aggregate; supplier and
    # nation broadcast onto the (small) winner set afterward
    assert s.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in s
    assert s.count("HashAggregate") >= 2


def test_q11_threshold_is_broadcast_not_second_scan(spark):
    s = plan_text(_queries()["important_part_values"](spark, SF_DIR))
    # the HAVING threshold arrives as a broadcast 1-row aggregate; a
    # SortMergeJoin would mean the scalar got planned as a wide join
    assert "SortMergeJoin" not in s
    assert "BroadcastNestedLoopJoin" in s or "BroadcastHashJoin" in s
    assert s.count("HashAggregate") >= 2


def test_q12_latency_partial_aggregation(spark):
    s = plan_text(_queries()["ship_latency_priority"](spark, SF_DIR))
    assert "CartesianProduct" not in s
    assert s.count("HashAggregate") >= 2  # map-side partial before final
    assert "PushedFilters" in s  # ship-date window reaches the scan


def test_q20_dominant_share_broadcasts_dims(spark):
    s = plan_text(_queries()["dominant_share_suppliers"](spark, SF_DIR))
    assert s.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in s


def test_semantic_dedup_no_join_single_groupby(spark):
    s = plan_text(_queries()["semantic_dedup_pairs"](spark, SF_DIR))
    # seed centroids are inlined literals: assignment is expression-side,
    # so the whole plan is scan -> cell groupBy -> Arrow GEMM, no join
    assert "Join" not in s
    assert "CartesianProduct" not in s
    assert s.count("Exchange") <= 2  # cell groupBy (+AQE read), nothing else


def test_fuzzy_pairs_one_sided_bucket_shape(spark):
    s = plan_text(_queries()["fuzzy_name_pairs"](spark, SF_DIR))
    # one groupBy(block) then JVM-side pair expansion: a join appearing
    # here means the table started self-joining on the block key again
    assert "Join" not in s
    assert "CartesianProduct" not in s


def test_canonical_per_component_partial_agg(spark):
    s = plan_text(_queries()["canonical_per_component"](spark, SF_DIR))
    # the survivor pick is max_by partial aggregation, never a window
    # (struct-ordered max_by compiles to ObjectHashAggregate/SortAggregate)
    assert "Window" not in s
    assert s.count("Aggregate") >= 2
    assert "CartesianProduct" not in s


def test_bigram_ppl_broadcasts_model_constants(spark):
    s = plan_text(_queries()["bigram_logppl"](spark, SF_DIR))
    # the 1-row totals aggregate rides in broadcast; bigram/unigram count
    # joins may SMJ (both corpus-grain) but nothing goes cartesian
    assert "BroadcastNestedLoopJoin" in s or "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_bpe_merges_vocab_first_then_takeordered(spark):
    s = plan_text(_queries()["bpe_merge_candidates"](spark, SF_DIR))
    # word counts reduce the corpus before char-pair expansion, and the
    # top-k is a heap, not a global sort
    assert "TakeOrderedAndProject" in s
    assert s.count("HashAggregate") >= 4  # two partial+final aggregations
    assert "Join" not in s


def test_oov_vocab_join_is_broadcast(spark):
    s = plan_text(_queries()["oov_rate_scores"](spark, SF_DIR))
    # the vocabulary side (top-N terms) joins back broadcast, and the
    # size cap is a TakeOrdered over vocab-grain rows, not a global sort
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "TakeOrderedAndProject" in s
    assert "CartesianProduct" not in s


def test_token_entropy_two_aggregates_no_join(spark):
    s = plan_text(_queries()["token_entropy_scores"](spark, SF_DIR))
    assert "Join" not in s  # (id, tok) agg then id agg — nothing else
    assert s.count("HashAggregate") >= 4  # partial+final for both


def test_zipf_window_only_over_topn(spark):
    s = plan_text(_queries()["zipf_corpus_fit"](spark, SF_DIR))
    # the rank window runs AFTER the TakeOrdered top-N — corpus rows
    # never hit an unpartitioned window
    assert "TakeOrderedAndProject" in s
    assert "Window" in s
    assert "Join" not in s


def test_boilerplate_removal_joins_broadcast_only(spark):
    s = plan_text(_queries()["boilerplate_removed"](spark, SF_DIR))
    # hot-set join and start-list join back to the corpus: both
    # broadcast; the doc bodies are never exchanged on a shingle key
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    # round-7 bounded shape: ONE shingle posexplode aggregates to
    # (shingle, id) grain, cached (InMemoryTableScan consumers: hot-set
    # count + start lists), hot set broadcast back as a LEFT-SEMI; only
    # the strip re-reads the corpus bodies — 2 distinct parquet scan
    # NODES (the round-4 single-scan shape needed 4, the two-pass 6).
    # Count numbered operator nodes: formatted explain textually repeats
    # the cached child plan under every InMemoryTableScan.
    import re

    assert len(re.findall(r"^\(\d+\) Scan parquet", s, re.M)) <= 2
    assert "InMemoryTableScan" in s
    assert "LeftSemi" in s
    assert "Window" not in s  # hot filter is a count at grain, not a window


def test_pagerank_iteration_state_is_checkpointed(spark):
    s = plan_text(_queries()["item_pagerank"](spark, SF_DIR))
    # localCheckpoint per superstep: the final plan reads checkpointed
    # RDDs instead of re-deriving the edge subtree 2^iterations times
    assert "Scan ExistingRDD" in s
    assert "CartesianProduct" not in s
    # without checkpointing this plan had 542 exchanges; it must stay
    # iteration-local now
    assert s.count("Exchange") < 30


def test_zscore_stats_broadcast_back(spark):
    s = plan_text(_queries()["source_zscore_keep"](spark, SF_DIR))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_session_paths_single_user_window(spark):
    s = plan_text(_queries()["session_paths_top"](spark, SF_DIR))
    # the lag window and the running-sum window share one user-key
    # exchange (same partitioning/ordering); the path build sorts inside
    # the aggregate (array_sort) — so the whole query is two real
    # shuffles (user key, path key) and a top-k, with no join
    assert "TakeOrderedAndProject" in s
    assert "Join" not in s
    assert s.count("Exchange") <= 6  # formatted lists each op twice


def test_stickiness_rolling_distinct_without_fact_window(spark):
    s = plan_text(_queries()["daily_stickiness"](spark, SF_DIR))
    # the rolling distinct is a sequence-explode + groupBy over deduped
    # day-user pairs — no window operator at all, no fact-grain sort
    assert "Window" not in s
    assert "CartesianProduct" not in s


def test_event_lift_no_self_join(spark):
    s = plan_text(_queries()["event_type_lift"](spark, SF_DIR))
    # pairs expand array-side from one collect_set; the only joins are
    # the broadcast type/basket-count enrichments
    assert "SortMergeJoin" not in s
    assert s.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in s


def test_chi2_facts_scanned_once_dims_broadcast(spark):
    s = plan_text(_queries()["source_lang_chi2"](spark, SF_DIR))
    assert "SortMergeJoin" not in s
    assert "BroadcastHashJoin" in s


def test_anomalies_window_over_day_grain_only(spark):
    s = plan_text(_queries()["daily_count_anomalies"](spark, SF_DIR))
    # the moving-average window consumes the day-grain aggregate: the
    # plan is agg -> window, so the window input has already been
    # reduced; there must be a partial+final aggregate BEFORE the window
    assert s.count("HashAggregate") >= 2
    assert "Window" in s
    assert "Join" not in s


def test_random_projection_is_map_only(spark):
    s = plan_text(_queries()["embedding_random_projection"](spark, SF_DIR))
    assert "Exchange" not in s  # scan -> project -> explode, no shuffle
    assert "Join" not in s


def test_importance_weights_stats_ride_broadcast(spark):
    s = plan_text(_queries()["importance_weights"](spark, SF_DIR))
    # the bucket log-ratio table (n_buckets rows) and 1-row totals join
    # back broadcast; the token stream is only exchanged for its own aggs
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s


def test_int8_topk_broadcasts_queries(spark):
    s = plan_text(_queries()["int8_ann_topk"](spark, SF_DIR))
    # query side broadcasts into a nested-loop probe of one corpus scan;
    # top-k is per-query windowed, never a global sort
    assert "BroadcastNestedLoopJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_countmin_sketch_joins_broadcast(spark):
    s = plan_text(_queries()["countmin_estimates"](spark, SF_DIR))
    # the depth×width sketch is fixed-size: it must reach the probe join
    # as a broadcast, never a shuffle of the key stream
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s


def test_winnow_is_map_only(spark):
    s = plan_text(_queries()["winnow_fingerprints"](spark, SF_DIR))
    # grams, hashes, sliding minima, AND the per-doc dedupe are all array
    # expressions: the whole fingerprint pass is scan → project → explode
    # with no exchange, no window, no join at any corpus size
    assert "Join" not in s
    assert "Exchange" not in s
    assert "Window" not in s
    # tokenizer and hash array live in separate projections so each is
    # evaluated once per document, not once per gram (the O(tokens²) trap)
    assert s.count("split(trim(") == 1


def test_doc_keywords_dfreq_broadcast(spark):
    s = plan_text(_queries()["doc_keywords"](spark, SF_DIR))
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_rrf_fusion_topk_never_global_sorts(spark):
    s = plan_text(_queries()["rrf_fusion"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in s
    assert "SortMergeJoin" not in s


def test_unicode_normalize_is_map_only(spark):
    s = plan_text(_queries()["unicode_normalized"](spark, SF_DIR))
    # pure translate/regexp projection: no exchange may appear at all
    assert "Exchange" not in s
    assert "Join" not in s


def test_bootstrap_ci_partial_aggregates(spark):
    s = plan_text(_queries()["bootstrap_mean_ci"](spark, SF_DIR))
    # replicate means partial-aggregate map-side before the (group, b)
    # exchange; the CI join and kappa-style 1-row frames broadcast
    assert s.count("HashAggregate") >= 2
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_dow_profile_and_sigma_broadcast(spark):
    s = plan_text(_queries()["dow_anomaly_days"](spark, SF_DIR))
    # 7-row weekday profile and 1-row sigma ride back as broadcasts onto
    # the day-grain frame
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_paragraph_dedup_bodies_never_shuffle(spark):
    s = plan_text(_queries()["paragraph_dedup"](spark, SF_DIR))
    # the only exchanges carry (code|id, pos) — paragraph/token arrays must
    # be sliced map-side, never exchanged on the code key
    for line in s.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "__paras" not in line and "__toks" not in line
    assert "CartesianProduct" not in s


def test_kaplan_meier_horizon_is_broadcast(spark):
    s = plan_text(_queries()["km_survival"](spark, SF_DIR))
    # the observation-horizon scalar rides in via broadcast, and all
    # windows run at duration grain (post-aggregate), never over facts
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s
    assert "CartesianProduct" not in s


def test_time_decay_single_user_window_no_pair_join(spark):
    s = plan_text(_queries()["time_decay_attribution"](spark, SF_DIR))
    # the telescoped running sums replace the touch×conversion join, and
    # the round-4 per-user rebase removed even the broadcast t0 join: NO
    # join of any kind remains.  The rebase min shares the running-sum
    # window spec (running min over ts-asc rows IS the partition min), so
    # the two Window nodes share ONE sort and one user-key exchange.
    import re

    assert "Join" not in s
    assert len(re.findall(r"\(\d+\) Window", s)) == 2
    assert len(re.findall(r"\(\d+\) Sort\b", s)) == 1
    assert "CartesianProduct" not in s


def test_covariance_partials_partial_aggregated(spark):
    s = plan_text(_queries()["embedding_covariance"](spark, SF_DIR))
    # one Arrow pass emits (i, j) partials; the merge groupBy must get
    # map-side combine so the exchange carries ~partitions × d² rows
    assert "ArrowEvalPython" in s or "MapInPandas" in s or "mapInPandas" in s.lower()
    assert s.count("HashAggregate") >= 2
    assert "Join" not in s


def test_multi_bm25_query_incidence_broadcast(spark):
    s = plan_text(_queries()["search_rank_metrics"](spark, SF_DIR))
    # per-term stats and the (query, term) incidence reach the scored
    # join via broadcast — the corpus-side tf never sort-merge joins
    assert "SortMergeJoin" not in s
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_bloom_revenue_prune_precedes_exact_join(spark):
    s = plan_text(_queries()["bloom_prune_revenue"](spark, SF_DIR))
    # membership filter present, bitmap broadcast, and no cartesian
    assert "shiftrightunsigned" in s
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s
    assert "CartesianProduct" not in s


def test_epoch_upsample_map_only(spark):
    s = plan_text(_queries()["epoch_upsample"](spark, SF_DIR))
    # per-doc replicate decision + explode: no exchange at all
    assert "Exchange" not in s
    assert "Join" not in s


def test_ema_single_key_window(spark):
    s = plan_text(_queries()["ema_daily_revenue"](spark, SF_DIR))
    # day-grain aggregate then per-key windows that share one partitioning
    assert "CartesianProduct" not in s
    assert s.count("Exchange hashpartitioning") <= 2


def test_woe_totals_broadcast_back(spark):
    s = plan_text(_queries()["woe_value_bins"](spark, SF_DIR))
    # bin grain aggregate + 1-row totals broadcast: no sort-merge join
    assert "SortMergeJoin" not in s
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s


def test_golden_record_single_partial_aggregate(spark):
    s = plan_text(_queries()["golden_record"](spark, SF_DIR))
    # per-field min_by survivorship is ONE groupBy with map-side combine
    # (string-valued min_by compiles to SortAggregate, still partial+final)
    assert s.count("HashAggregate") + s.count("SortAggregate") >= 2
    assert "Window" not in s
    assert "SortMergeJoin" not in s


def test_incremental_agg_never_rescans_history_wide(spark):
    s = plan_text(_queries()["incremental_agg_maintenance"](spark, SF_DIR))
    assert "CartesianProduct" not in s
    # key-grain merge: no window, partial aggregation on both sides
    assert "Window" not in s


def test_cdc_to_scd2_one_window_no_self_join(spark):
    import re

    s = plan_text(_queries()["cdc_to_scd2"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Window", s)) == 1
    assert "Join" not in s


def test_triangle_degrees_ride_broadcast(spark):
    s = plan_text(_queries()["item_triangle_count"](spark, SF_DIR))
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_theil_sen_pairs_stay_array_side(spark):
    s = plan_text(_queries()["theil_sen_trend"](spark, SF_DIR))
    # the O(days^2) slope expansion must NOT appear as a join of the
    # day-grain frame against itself
    assert "Join" not in s


def test_quantile_normalize_bounds_broadcast(spark):
    s = plan_text(_queries()["quantile_normalize"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s
    assert "SortMergeJoin" not in s


def test_psi_histograms_partial_aggregated(spark):
    s = plan_text(_queries()["psi_value_drift"](spark, SF_DIR))
    assert s.count("HashAggregate") >= 4  # partial+final per side
    assert "Window" not in s


def test_sorted_neighborhood_windows_are_per_block(spark):
    s = plan_text(_queries()["sorted_neighborhood_pairs"](spark, SF_DIR))
    # the neighborhood runs inside block partitions, never one global sort
    assert "windowspecdefinition(__blk" in s
    assert "CartesianProduct" not in s


def test_cohort_ltv_window_at_cohort_grain(spark):
    s = plan_text(_queries()["cohort_ltv"](spark, SF_DIR))
    # the cumulative window partitions by cohort_day (calendar-bounded)
    assert "windowspecdefinition(cohort_day" in s
    assert "CartesianProduct" not in s


def test_span_corruption_map_only(spark):
    s = plan_text(_queries()["span_corruption"](spark, SF_DIR))
    assert "Exchange" not in s
    assert "Join" not in s


def test_decontaminate_broadcast_holdout_no_corpus_shuffle(spark):
    s = plan_text(_queries()["decontaminate_broadcast_holdout"](spark, SF_DIR))
    # the capped holdout bucket table broadcasts; the train shingle stream
    # joins 1:1 with no corpus-side exchange before the join
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_llm_response_repair_map_only(spark):
    s = plan_text(_queries()["llm_response_repair"](spark, SF_DIR))
    # regexp repair ladder is pure projection: no exchange, no join, no UDF
    assert "Exchange" not in s
    assert "Join" not in s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_dsir_model_join_is_broadcast(spark):
    s = plan_text(_queries()["dsir_importance_weights"](spark, SF_DIR))
    # the bucket model is O(n_buckets) and broadcasts; the bigram stream
    # never sort-merge-joins
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_ccnet_buckets_window_is_per_language(spark):
    s = plan_text(_queries()["ccnet_ppl_buckets"](spark, SF_DIR))
    # the tercile rank partitions by language — no corpus-global sort
    assert "windowspecdefinition(lang" in s
    assert "CartesianProduct" not in s


def test_repeated_ngram_stats_map_only(spark):
    s = plan_text(_queries()["repeated_ngram_stats"](spark, SF_DIR))
    # every metric is an array computation per doc: no exchange, no join
    assert "Exchange" not in s
    assert "Join" not in s


def test_zorder_advisor_single_fact_scan(spark):
    s = plan_text(_queries()["zorder_layout_advisor"](spark, SF_DIR))
    # stats pass + ONE fact pass: the two layouts share a single scan via
    # an exploded (layout, cell) array, not a union of two scans
    assert s.count("Scan parquet ") <= 4  # 2 nodes x (tree + detail)
    assert "Generate (" in s
    assert "Union" not in s


def test_zorder_depth_single_fact_scan(spark):
    s = plan_text(_queries()["zorder_clustering_depth"](spark, SF_DIR))
    # the file table is lazily localCheckpointed before the overlap
    # self-join, so the fact pipeline appears ONCE (behind the checkpoint
    # boundary the explain shows no parquet scans at all) and the join
    # runs over the materialized ≤2·n_files rows
    assert s.count("Scan parquet ") == 0
    assert "Union" not in s


def test_bitext_mining_default_is_banded_candidate_join(spark):
    """VERDICT r5 #2: the registered `bitext_mining_pairs` must run the
    LSH-banded candidate plan, never the brute A-cross-B sweep.  The pin:
    no cartesian/broadcast-nested-loop product anywhere, and the candidate
    join keys include (band, sig)."""
    s = plan_text(_queries()["bitext_mining_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "band" in s and "sig" in s, "banded candidate join keys missing"


def test_ipf_iteration_state_is_checkpointed(spark):
    """VERDICT r5 #3: the IPF grid is pinned with an eager localCheckpoint
    after the corpus aggregate and per half-step, so the final plan reads
    checkpointed RDDs instead of replaying the corpus-aggregate lineage
    2*iters times."""
    s = plan_text(_queries()["ipf_source_lang_weights"](spark, SF_DIR))
    assert "Scan ExistingRDD" in s
    # the returned plan is one projection over the last checkpoint: the
    # corpus scan and the iteration joins must all be behind the barrier
    assert "Scan parquet" not in s
    assert "Exchange" not in s


def test_pq_ann_scan_is_map_only_into_takeordered(spark):
    """PQ ADC scoring: codebooks are driver-side literals, so the scoring
    scan is map-only into a distributed TakeOrdered; the rerank joins the
    broadcast shortlist -- the corpus never sort-merges or cross-joins.
    Since round 10 the ADC scan is the Arrow mapInPandas GEMM pass
    (VERDICT r9 #4), so the plan must carry exactly one MapInPandas
    (and no FlatMapGroups -- the scan is stateless, not grouped)."""
    s = plan_text(_queries()["pq_ann_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s  # shortlist ids broadcast for rerank
    # formatted plans list a node in the tree ("MapInPandas (n)") and
    # again as a details header ("(n) MapInPandas") -- count the headers
    assert len(re.findall(r"^\(\d+\) MapInPandas", s, re.M)) == 1
    assert "FlatMapGroups" not in s


def test_ivfpq_ann_scan_is_arrow_map_only(spark):
    """IVF-PQ: cell assignment + probe mask + ADC score run inside the
    SAME single Arrow scan -- no expression-tree argmin, no extra
    exchange before the TakeOrdered shortlist."""
    s = plan_text(_queries()["ivfpq_ann_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s
    assert len(re.findall(r"^\(\d+\) MapInPandas", s, re.M)) == 1
    assert "FlatMapGroups" not in s


def test_pq_ann_training_scan_is_limit_bounded(spark):
    """VERDICT r6 #1: the codebook-training input -- the only frame
    pq_ann_topk localCheckpoints -- must be the bounded md5-rank sample,
    never the full corpus.  Its plan therefore ends in a
    TakeOrderedAndProject (ORDER BY hash LIMIT n_train): whatever the
    corpus size, at most n_train rows materialize for training."""
    from pyspark.sql import functions as F

    from rss_feed_etl_spark import testdata as td
    from rss_feed_etl_spark.operators.clustering import _prep
    from rss_feed_etl_spark.operators.similarity import _pq_training_sample

    emb = _prep(td.load_table(spark, SF_DIR, "embeddings"), "vec_id", "embedding")
    train = _pq_training_sample(emb, 1024, "pq-train-v1")
    s = plan_text(train)
    assert "TakeOrderedAndProject" in s, "training scan must be LIMIT-bounded"
    assert train.count() <= 1024
    # the bound is real when the corpus exceeds it
    tiny = _pq_training_sample(emb, 7, "pq-train-v1")
    assert tiny.count() == 7
    # and deterministic: same salt -> same id set
    a = {r["id"] for r in tiny.collect()}
    b = {r["id"] for r in _pq_training_sample(emb, 7, "pq-train-v1").collect()}
    assert a == b


def test_erasure_audit_broadcasts_deletion_list_not_orders(spark):
    s = plan_text(_queries()["erasure_impact_audit"](spark, SF_DIR))
    # the tiny erased-customer list and the nation dim ride broadcasts...
    assert s.count("BroadcastHashJoin") >= 3
    # ...but the erased ORDER set is fact-scale: lineitem must meet it in
    # a shuffled join, never a broadcast (the 100 TB contract in the
    # docstring)
    assert "SortMergeJoin" in s or "ShuffledHashJoin" in s
    assert "CartesianProduct" not in s


def test_knn_accuracy_broadcasts_queries_once(spark):
    s = plan_text(_queries()["label_knn_accuracy"](spark, SF_DIR))
    # one corpus scan joined to broadcast queries; votes at query grain
    assert "BroadcastHashJoin" not in s  # inequality join -> BNL below
    assert "BroadcastNestedLoopJoin" in s
    assert "CartesianProduct" not in s
    assert "SortMergeJoin" not in s
    # VERDICT r7 #1: the corpus-scale pair stream must hit a PARTIAL
    # (query_id, spark_partition_id) rank before any query_id-only window
    # — no single-partition-per-query window over corpus-scale rows
    assert "SPARK_PARTITION_ID()" in s
    assert "__pid" in s


def test_per_query_topk_partial_stage_precedes_final(spark):
    # unit pin on the shared helper: stage 1 partitions by (query_id,
    # __pid), stage 2 by query_id over the bounded survivors
    from pyspark.sql import functions as F

    from rss_feed_etl_spark.operators.similarity import _per_query_topk

    scored = spark.createDataFrame(
        [(q, n, float((q * n) % 7)) for q in range(3) for n in range(40)],
        "query_id long, neighbor_id long, cosine_sim double",
    ).repartition(5)
    out = _per_query_topk(
        scored, 5, F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    s = plan_text(out)
    assert "SPARK_PARTITION_ID()" in s
    assert s.count("Window") >= 2
    # stage 1 partitions by (query_id, __pid); Spark additionally plans a
    # Partial+Final WindowGroupLimit around its exchange, so at most k
    # rows per (query, pid) group ever cross the wire
    assert "windowspecdefinition(query_id#" in s and "__pid#" in s
    assert "WindowGroupLimit" in s


def test_contamination_fraction_exchanges_codes_only(spark):
    s = plan_text(_queries()["contamination_overlap_fraction"](spark, SF_DIR))
    # the eval-train meeting point is the int64 shingle code: no text
    # column may survive into any Exchange
    for line in s.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line
    assert "CartesianProduct" not in s


def test_shapley_lattice_stays_model_sized(spark):
    s = plan_text(_queries()["shapley_attribution"](spark, SF_DIR))
    # the event stream is aggregated to user grain before anything else;
    # the 2^n lattice joins are all broadcast-scale
    assert "CartesianProduct" not in s
    assert s.count("HashAggregate") >= 4  # partial+final on both aggs


def test_zonemap_single_fact_scan(spark):
    s = plan_text(_queries()["zonemap_skip_stats"](spark, SF_DIR))
    # 3 windows ride ONE file-grain aggregate of one lineitem scan;
    # the union must not triple-scan the fact table
    assert s.count("Scan parquet") <= 4  # lineitem + tmax branches
    assert "CartesianProduct" not in s


def test_skew_salting_plan_is_takeordered(spark):
    s = plan_text(_queries()["skew_salting_plan"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in s  # top-20 hot keys never sort
    assert s.count("HashAggregate") >= 2


def test_ucb1_is_takeordered_over_arm_grain(spark):
    s = plan_text(_queries()["ucb1_ranking"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in s
    assert "CartesianProduct" not in s


def test_trigram_logppl_joins_are_token_keyed(spark):
    s = plan_text(_queries()["interp_trigram_logppl"](spark, SF_DIR))
    # five model joins, all token-string keyed; document bodies must not
    # survive into the scoring joins
    assert "CartesianProduct" not in s
    for line in s.splitlines():
        if "Exchange hashpartitioning" in line:
            assert " text" not in line, line


def test_mann_whitney_ranks_at_distinct_value_grain(spark):
    s = plan_text(_queries()["mann_whitney_u"](spark, SF_DIR))
    # midranks come from the value-grain aggregate, never a per-row sort
    assert "CartesianProduct" not in s
    assert s.count("HashAggregate") >= 2
    assert "Sort " in s or "Window" in s  # the one distinct-grain window


def test_gmd_never_materializes_pairs(spark):
    s = plan_text(_queries()["gini_mean_difference"](spark, SF_DIR))
    assert "CartesianProduct" not in s
    assert "Join" not in s  # pure aggregate + window chain, zero joins


def test_bradley_terry_iterates_over_checkpoints(spark):
    s = plan_text(_queries()["bradley_terry_ranks"](spark, SF_DIR))
    # MM iterations must read the checkpointed pair/weight RDDs, not
    # re-run the event-sequence window per step
    assert "Scan ExistingRDD" in s
    assert "CartesianProduct" not in s
    assert "TakeOrderedAndProject" in s


def test_postinglist_windows_are_term_partitioned(spark):
    s = plan_text(_queries()["postinglist_compression_plan"](spark, SF_DIR))
    assert "CartesianProduct" not in s
    # the gap lag runs per term: a partition-less window here would
    # single-task the whole posting stream
    win_lines = [l for l in s.splitlines() if "Arguments" in l and "lag" in l]
    for l in win_lines:
        assert "term" in l, l


def test_conformal_profile_joins_are_broadcast(spark):
    s = plan_text(_queries()["conformal_interval_coverage"](spark, SF_DIR))
    # the dow-profile and fallback-mean joins must be broadcast; the
    # day-grain frame never shuffles for them
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_wasserstein_counts_checkpointed_once(spark):
    s = plan_text(_queries()["wasserstein_length_shift"](spark, SF_DIR))
    # the (group, length) count frame is eagerly checkpointed: its four
    # consumers must read the materialized RDD, never re-scan the corpus
    assert s.count("Scan parquet") == 0
    assert "ExistingRDD" in s
    assert "CartesianProduct" not in s


def test_mutual_info_counts_persisted(spark):
    s = plan_text(_queries()["source_token_mutual_info"](spark, SF_DIR))
    # (source, trigram) counts persist spillably; marginals and the term
    # join all read the cache
    assert "InMemoryTableScan" in s
    assert "CartesianProduct" not in s


def test_jsd_matrix_counts_persisted_no_cartesian(spark):
    s = plan_text(_queries()["source_js_divergence_matrix"](spark, SF_DIR))
    assert "InMemoryTableScan" in s
    # the pair grid is a broadcast cross of model-sized marginals, and
    # the token self-join is an equi-join — nothing may plan cartesian
    assert "CartesianProduct" not in s


def test_rbo_rides_topk_rankers(spark):
    s = plan_text(_queries()["rbo_bm25_vs_ql"](spark, SF_DIR))
    # both input rankings stay TakeOrdered top-k (never a global sort);
    # everything downstream is broadcast arithmetic
    assert s.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in s


def test_mmd_sample_extraction_is_two_stage(spark):
    # the per-label bounded sample must be the two-stage partial top-m
    # (WindowGroupLimit around the exchange), never a label-partitioned
    # corpus-scale window.  The registered query checkpoints the sample
    # (its final plan reads an ExistingRDD), so pin the EXTRACTION shape
    # on the pre-checkpoint expression the operator builds.
    from pyspark.sql import functions as F

    from rss_feed_etl_spark import testdata as td
    from rss_feed_etl_spark.functions.hashing import md5_bucket
    from rss_feed_etl_spark.operators.similarity import _per_query_topk

    emb = td.load_table(spark, SF_DIR, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("label").alias("lab"),
        F.col("embedding").alias("vec"),
        md5_bucket(F.concat(F.lit("mmd-v1:"), F.col("vec_id").cast("string"))).alias(
            "hk"
        ),
    )
    s = plan_text(
        _per_query_topk(
            emb, 64, F.col("hk").asc(), F.col("id").asc(), partition_cols=("lab",)
        )
    )
    assert "WindowGroupLimit" in s
    assert "SPARK_PARTITION_ID()" in s
    # and the full query's pair arithmetic reads the checkpointed sample
    # (model-sized), never re-deriving the corpus scan per consumer
    full = plan_text(_queries()["embedding_mmd_matrix"](spark, SF_DIR))
    assert "Scan ExistingRDD" in full
    assert "CartesianProduct" not in full


def test_knn_confusion_rides_two_stage_topk(spark):
    s = plan_text(_queries()["knn_label_confusion"](spark, SF_DIR))
    assert "WindowGroupLimit" in s  # neighbor ranking is the partial top-k
    assert "SPARK_PARTITION_ID()" in s
    # probes broadcast; the corpus is never exchanged for the scoring join
    assert "BroadcastNestedLoopJoin" in s or "BroadcastHashJoin" in s


def test_kendall_pairs_are_list_grain(spark):
    # both rankers end in a top-k; the tau pair expansion must sit above
    # model-sized inputs (no corpus-side cartesian)
    s = plan_text(_queries()["kendall_tau_rankers"](spark, SF_DIR))
    assert "CartesianProduct" not in s


def test_unimax_is_one_corpus_aggregate(spark):
    # exactly ONE scan of documents: the token-count aggregate; every
    # window after runs at source grain
    s = plan_text(_queries()["unimax_allocation"](spark, SF_DIR))
    assert s.count("Scan parquet") + s.count("Scan ExistingRDD") <= 2
    assert "CartesianProduct" not in s


def test_truncation_curve_collapses_to_length_grain(spark):
    # the cutoff grid joins the DISTINCT-LENGTH table (broadcast-scale),
    # not the corpus: the only corpus-side work is the length aggregate
    s = plan_text(_queries()["truncation_loss_curve"](spark, SF_DIR))
    assert "HashAggregate" in s
    li = [l for l in s.splitlines() if "ReadSchema" in l and "documents" in l]
    # column pruning: only text is read from the corpus
    for line in li:
        assert "doc_id" not in line or "text" in line


def test_hill_top_k_is_takeordered(spark):
    # the top-(k+1) order statistics must come from a distributed
    # TakeOrdered, never a global sort of the type table
    s = plan_text(_queries()["hill_tail_index"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in s
    assert "CartesianProduct" not in s
