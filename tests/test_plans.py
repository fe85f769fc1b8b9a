"""Physical-plan assertions (SURVEY.md §4): the 100 TB posture is a
test target, not a hope.  Filters must reach the parquet scan, small
dims must broadcast, top-k must not global-sort, aggregates must not
shuffle more than once."""

from weather_data_ingestion_service_spark.io import load_table
from weather_data_ingestion_service_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
)
from weather_data_ingestion_service_spark.registry import queries

import pytest

QS = queries()


@pytest.fixture(autouse=True)
def _pristine_cache(spark):
    """Plan assertions need a pristine cache: earlier suite modules
    (test_correctness runs EVERY registered query, several of which
    persist shared subframes internally) leave cached fragments that
    the CacheManager substitutes into ANY later matching plan — the
    InMemoryRelation subtrees carry their own exchanges and flip
    broadcast decisions, so exchange counts measured here would
    depend on suite order (CLAUDE.md cache rule)."""
    spark.catalog.clearCache()
    yield


def test_date_range_filter_pushed_to_scan(spark, sf_dir):
    df = QS["filter_date_range"](spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "o_orderdate" in pf, f"expected o_orderdate in PushedFilters, got: {pf}"


def test_projection_prunes_scan_columns(spark, sf_dir):
    df = QS["proj_select_vars"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "l_comment" not in plan
    # ReadSchema carries only the 3 projected columns
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 3, plan[:2000]


def test_geocode_lookup_broadcasts_dim(spark, sf_dir):
    df = QS["join_geocode_lookup"](spark, sf_dir)
    assert has_broadcast_join(df)


def test_star_join_broadcasts_nation(spark, sf_dir):
    df = QS["join_equi_inner"](spark, sf_dir)
    assert has_broadcast_join(df)


#: shuffle budget per headline query — a regression that ADDS an
#: exchange to one of these is a scale regression even when results
#: stay correct (every exchange is corpus-sized I/O at 100 TB).
#: Budgets are the current plan's count; lower is always fine.
EXCHANGE_BUDGET = {
    "wx_daily_summary": 2,       # single-pass daily+mode (two-level
                                 # re-aggregation; was 3 with the
                                 # mode-join shape)
    "wx_pipeline_e2e": 4,        # history∪forecast keep-preferred
                                 # window + two-level daily+mode + the
                                 # terminal day sort — ONE scan of the
                                 # merged hourly view
    "agg_multi": 1,
    "bench_q3": 1,
    "bench_q6": 1,
    "join_equi_inner": 1,
    "join_asof_nearest": 2,      # union repartition + window
    "bucket_hourly": 1,
    "win_rank": 1,
    "set_union_history_forecast": 1,
    "sort_topk": 0,              # TakeOrderedAndProject
    "agg_rollup": 1,
    "ext_dedup_exact": 1,
    "ext_simsearch_topk": 1,     # broadcast queries, top-k window
    "ext_text_analysis": 1,
    "ext_dedup_normtext": 1,
    "agg_weighted_avg": 1,
    "f_geo_tile": 0,             # narrow projection
    "ext_shard_assign": 1,
    "win_gap_islands": 1,
    "join_nearest_gridpoint": 1,  # broadcast grid + argmin agg
    "ext_dedup_lines": 2,         # line×doc agg, then line agg
    "ext_text_diversity": 2,      # doc×term agg, then doc agg
    "agg_bitmap_distinct": 2,     # bucket bitmaps, then group sum
    "set_except_all": 1,
    "win_first_last": 2,
    "join_salted_skew": 2,        # salted join + final agg
    # 4 of interleave's 5 exchanges sit on the domains-only dim branch
    # (distinct, rank window, count); the corpus shuffles ONCE
    "ext_sample_interleave": 5,
    # round-4 bench additions
    "ext_dedup_url": 1,
    "win_scd2": 1,
    "agg_histogram": 1,
    "join_asof_tolerance": 2,    # union repartition + window
    # round-4 registry additions
    "bench_q18": 3,              # big-order agg + join shuffles
    "join_interval_overlap": 2,  # interval agg + day equi-join
    "agg_skewness": 1,
    "agg_cohort_retention": 3,   # cohort agg + distinct + join
    "win_running_distinct": 1,   # both windows share one partitioning
    "win_zscore": 1,
    "f_date_parts": 0,           # narrow projection
    "f_interval_math": 0,
    "f_hash_digests": 0,
    # round-4 second batch
    "bench_q2": 2,               # (part,supp) agg + window on part; dims broadcast
    "bench_q7": 1,               # geo branches broadcast; li↔orders + rollup
    "bench_q16": 2,              # anti/dim broadcast; distinct agg
    "win_funnel": 8,             # 3 stage aggs + 3 scalar counts + joins
    "win_streak": 2,             # day-distinct + islands aggs share user key
    "join_dim_snapshot": 2,      # dim window + final agg (join broadcasts)
    "agg_bool_family": 1,
    "win_sliding_minmax": 1,
    "f_base64_hex": 0,           # narrow projection
    "f_format_pad": 0,
    "join_null_safe": 3,         # two aggs + null-safe join
    "ext_eval_ndcg": 6,          # two topk windows + dcg/idcg joins (Q·k rows)
    "ext_sample_dupcap": 1,      # one content-hash window
    "ext_tokenizer_vocab": 2,    # vocab agg + top-50 rank window
    "ext_skew_report": 3,        # key agg ×2 branches + top-10
    "agg_median_mad": 2,         # two selection windows; median dim broadcasts
    "ext_multimodal_resize_png": 0,  # narrow mapInPandas chain
    "join_asof_forward": 2,      # union repartition + fold window
    # two as-of folds (2 each: obs agg + union window) + grid equi-join
    # re-shuffles; the b/f branches cannot share an exchange (different
    # traversal orders)
    "win_resample_interp": 6,
    # round-4 second wave
    "bench_q9": 2,               # dims broadcast; fact↔orders + rollup
    "bench_q10": 1,              # top-20 is TakeOrdered; one join shuffle
    "bench_q12": 2,
    "bench_q13": 3,              # outer join + per-cust agg + dist agg
    "bench_q14": 1,              # part broadcast; single global agg
    "bench_q15": 2,              # ONE fact scan: supplier agg + tiny global window
    "bench_q17": 3,              # per-part stats + fact re-join + brand agg
    "bench_q19": 2,              # part broadcast; disjunctive filter + agg
    "bench_q22": 3,              # pos agg broadcast + anti join + nation agg
    "join_bloom_prefilter": 3,   # bitmap agg + real join + final agg
    "sink_orc_roundtrip": 2,     # read-back agg + order
    "set_symmetric_diff": 1,     # union + ONE membership agg
    "win_lead_gap": 1,
    "win_pct_change": 2,         # daily agg + lag window
    "f_null_family": 0,          # narrow projection
    "f_round_family": 0,
    "ext_filter_c4": 0,          # narrow projection: array folds only
    "ext_curriculum": 1,         # stats narrow; ntile+pos windows share
    "ext_eval_auc": 6,           # per-score windows over BOUNDED tables
    "ext_tokenizer_apply": 0,    # narrow Arrow encode pass
    "ext_pipeline_e2e": 2,       # narrow gate; dedup window + split agg
    "ext_sample_pergroup": 1,
    "ext_eval_calibration": 2,   # bin agg + order
    "ext_multimodal_phash": 2,   # payload join + hash-group window
    "ext_knn_graph": 2,          # bucket self-join + top-k window
    "ext_dedup_minhash_md5": 2,  # gram-keyed sig agg + band self-join
    "ext_simsearch_pq_md5": 2,   # min_by encode agg + top-k window
    "obs_dataset_manifest": 2,   # one shard hash-agg + order
    "agg_forecast_skill": 4,     # daily agg + lag date join + final agg
    "ext_simsearch_ivf_md5": 5,  # codebook take + max_by assign agg
                                 # + probe/rerank windows
    "ext_graph_triangles": 29,   # degree-oriented: the edge subplan
                                 # (pairs + deg agg) prints 6× in the
                                 # static plan (3 wedge legs × {pairs,
                                 # deg}) but EVERY repeat is physically
                                 # a ReusedExchange — measured min-of-3
                                 # 0.75 s vs 1.09 s with a persist
                                 # barrier, so the reuse path wins
                                 # + 2 wedge SMJs + census agg
    # round-9 additions
    "ext_simsearch_ivfpq": 5,    # codebook take + one-pass assign+encode
                                 # agg + probe window + probed-list join
    "agg_quantile_bounds": 9,    # per-group rank window + GK agg + 4
                                 # bound-pick joins (each a broadcast of
                                 # an O(groups) rank table; the shuffles
                                 # sit on the shared ranked frame)
    "ext_text_bm25": 4,          # tf agg + dl agg + pivot agg + rank
    "agg_multi_distinct": 3,     # Expand + two-phase distinct agg
    "agg_grouping_id": 1,        # Expand, single shuffle
    "win_time_range_sum": 1,
    "join_semi_conditional": 2,  # semi join + priority agg
    "f_date_trunc_family": 0,    # narrow projection
    "ext_text_rarity": 3,        # vocab agg + rank window; vocab broadcast back
    "bench_q8": 2,               # all 4 geo dims broadcast; li↔orders↔cust
    "bench_q11": 4,              # value agg + scalar tot + order
    "bench_q20": 2,              # part semi broadcast; supplier agg
    "bench_q21": 6,              # fact self-agg + distinct + blame join
    "sink_compaction": 2,        # read-back agg + order (writes are the op)
    "ext_dedup_incremental": 1,  # anti join + per-hash window share the key
    "ext_dedup_chunks": 3,       # chunk-freq agg + share join + doc agg
    "agg_variance_exact": 2,     # power-sum agg + order
    "ext_data_card": 4,          # hash-freq agg + join + rollup + order
    "ext_multimodal_phash_near": 5,  # band self-join + pair distinct
    "win_dense_rank": 1,
    # accounting agg over the ADMITTED STORE (distinct + rollup +
    # order); the pipeline's real work runs inside foreachBatch
    "stream_curation_pipeline": 3,
    "f_variant_json": 0,         # narrow VARIANT projection
    "ext_udtf_ngrams": 0,        # lateral UDTF expansion, no shuffle
    "join_lateral_topn": 1,      # decorrelated to one window shuffle
    "f_array_fold": 0,           # narrow higher-order projection
    "f_try_arith": 0,            # narrow projection
    # prefix-filtered pair join + edge canonicalization distinct +
    # endpoint explode + two degree aggs; +3 plan-visible (run-once)
    # exchanges inside the persisted vocab/shingle subtrees since the
    # round-5 auto broadcast_vocab (the cache materializes them a
    # single time; the per-execution exchange count is unchanged)
    "ext_graph_degree": 11,
    "win_cume_share": 2,         # daily agg + shared type partitioning
    "win_transition_matrix": 3,  # user seq window + cell agg + share window
    # round-5 additions
    "ext_dedup_spans": 2,        # hot-gram agg + per-doc islands window
    "ext_dedup_span_removal": 3,  # + covered-position distinct
    "agg_trend_mk": 5,           # persisted daily agg + recent-days cap
                                 # window + pair join + final
    "ext_text_fertility": 2,     # lang agg + order
    "agg_ks_stat": 9,            # persisted ECDF grid + pair join + max agg
    "agg_histogram_eqh": 2,      # rank window + cut agg
    "ext_eval_spearman": 5,      # two distinct-value rank tables + join-back
    "agg_benford": 4,            # digit agg + total + order
    "ext_mix_realize": 3,        # quota scalar + per-source running window
    "ext_tokenizer_oov": 2,      # vocab top-k + per-doc agg (broadcast vocab)
    "ext_data_validate": 7,      # one single-row agg per rule + order
    "ext_multimodal_clip": 0,    # narrow synth → parse fan-out, no shuffle
    "src_csv_badrecords": 2,     # two buckets of one cached parse
    "sink_partition_overwrite": 2,  # read-back day agg + order
    "ext_curation_funnel": 4,    # gate aggs + dedup window + stage union
    "win_seasonal_profile": 4,   # dow agg + type total + join + order
    "ext_dedup_prefix": 1,       # one prefix-digest hash agg
    "agg_cooccurrence": 7,       # persisted distinct feeds 4 branches;
                                 # plan shows the cached subtree per branch
                                 # but it executes once
    "ext_embed_outliers": 5,     # component agg + mu join-back + per-vec
                                 # agg + bounded label window
    "sink_xml_roundtrip": 2,     # read-back distinct agg (writes are the op)
    "agg_chisq_cells": 6,        # persisted cell agg + 3 broadcast margins
    "ext_sample_contrastive": 6,  # distributed dense index (range
                                 # partitions, both join sides) + rank join
                                 # — no single-partition global window
    "win_change_points": 4,      # daily agg + delta window + median select
    "ext_text_bigram_lm": 5,     # bigram agg + head top-20 + cont window
    "agg_theilsen": 5,           # persisted daily agg + recent-days cap
                                 # window + pair join + select
    # round-6 additions
    "win_ewma_dyadic": 2,        # daily agg + per-key lag window
    "win_rolling_median": 2,     # daily agg + per-key lag window
    "win_cusum": 2,              # daily agg + ONE reused per-key
                                 # exchange for both window passes
    "agg_autocorr": 3,           # daily agg + lead window + final agg
    "agg_gini_impurity": 3,      # day×type agg + day agg + order
    "ext_text_hashtf": 1,        # one (doc, bucket) hash aggregate
    "ext_multimodal_meta": 0,    # synth → chunk walk, fully narrow
    "ext_eval_confusion": 1,     # single-row confusion aggregate
    "f_uuid_md5": 0,             # pure projection
    "f_morton_z": 0,             # pure projection (bit interleave)
    "win_anomaly_iqr": 3,        # daily agg + rank window + fence agg
                                 # (bounds join back via broadcast)
    "agg_winsorized_mean": 5,    # daily agg + rank window + bounds agg
                                 # + final per-key agg + output sort
    "agg_mannwhitney": 6,        # daily agg + distinct-cents freq agg +
                                 # cum window + join-back + key agg + sort
    "agg_ttest_welch": 6,        # daily agg + key power sums + one-row
                                 # total (broadcast) + sort
    "ext_filter_gopher": 1,      # narrow token projection + output sort
    "ext_pref_pairs": 3,         # one (lang, source) exchange shared by
                                 # both rank windows + rank self-join + sort
    "join_point_in_polygon": 0,  # broadcast-as-literal: single codegen
                                 # map stage, zero exchanges
    "ext_dedup_containment": 3,  # rank window + posting join + pair
                                 # dedup (vocab broadcasts; persisted
                                 # shingle subtree feeds both sides)
    "ext_embed_gram": 2,         # partial-Gram agg (2080 rows/part)
                                 # + output sort
    "win_drawdown": 2,           # daily agg + per-key window
    "agg_hodges_lehmann": 4,     # persisted daily agg + recent-days cap
                                 # window + pair join + select
    # stream_window_append_final: streaming plan — runs a real query,
    # no batch exchange budget applies (like the other stream_* runs)
    "ext_pack_positions": 1,     # one shard-stream window; segment
                                 # fan-out + bin rollup reuse it
    "ext_chat_template": 1,      # one (user, day) hash aggregate
    "sink_schema_merge": 2,      # read-back rollup + order (writes
                                 # are the op)
    "agg_runs_test": 3,          # daily agg + shared key windows +
                                 # final agg/sort
    "agg_lmoments": 3,           # daily agg + rank window + final
                                 # agg/sort
    "ext_dataset_diff": 4,       # both snapshot sides shuffle into the
                                 # full-outer join + rollup + order
    "win_bollinger": 2,          # daily agg + one shared per-key window
    "ext_span_corruption": 0,    # fully narrow segment fan-out
    "agg_wilcoxon": 5,           # daily agg + day-total join + abs-rank
                                 # windows + final agg
    # stream_asof_enrich: streaming plan — runs a real foreachBatch
    # query, no batch exchange budget applies
    "agg_survival_km": 3,        # per-user session windows + duration
                                 # agg + tiny desc cumulative window
    "ext_eval_kappa": 1,         # three narrow gates merge in one
                                 # single-row aggregate
    "agg_kendall_tau": 4,        # persisted daily agg + recent-days
                                 # window + day-pair join + final
                                 # agg/sort
    "win_rsi": 3,                # daily agg + shared per-key window
                                 # (lag + rolling-14 reuse it) + sort
    "agg_herfindahl": 3,         # daily agg + day rollup + sort
    "ext_text_zipf": 1,          # one token-count shuffle; top-k is
                                 # TakeOrderedAndProject, the rank
                                 # window sees only the 20 survivors
    "agg_jackknife": 3,          # persisted daily agg + totals rollup
                                 # + broadcast-back + sort
    "agg_covariance_pairs": 3,   # persisted daily agg + day-join
                                 # shuffle + pair rollup/sort
    "ext_sample_bootstrap": 2,   # narrow 20x fan-out into one
                                 # map-side-combinable agg + sort
    "agg_skyline_2d": 3,         # (x,y) agg + per-x best window +
                                 # distinct-x cumulative max/sort
    "ext_text_charstats": 1,     # embarrassingly parallel mapInArrow
                                 # kernel; only the final sort
    "win_longest_streak": 2,     # ONE user-hash exchange feeds both
                                 # islands windows, the run agg and
                                 # the top-1 window; + final sort
    "agg_gini_volume": 3,        # daily agg + rank window + final
                                 # agg/sort
    "ext_text_hapax": 2,         # one token-count shuffle + the
                                 # single-row rollup
    "ext_epoch_shuffle": 2,      # one (epoch, shard) window exchange
                                 # + final sort; no global window
    "win_seasonal_residual": 4,  # persisted daily agg + weekday
                                 # baseline rollup + broadcast-back
                                 # join + sort
    "ext_sketch_cms": 5,         # token count + top-k + 768-cell
                                 # sketch agg + probe join + sort
    "ext_sketch_distinct": 5,    # distinct-token pass + bucket
                                 # distinct + 16-row TakeOrdered +
                                 # single-row cross joins
    # stream_sketch_cms: streaming plan — runs a real foreachBatch
    # query, no batch exchange budget applies
    "agg_trend_seasonal_mk": 4,  # persisted daily agg + recent-days
                                 # window + same-season pair join +
                                 # final agg/sort
    "agg_spell_lengths": 5,      # daily agg + median rank window +
                                 # join-back + islands windows +
                                 # run rollup/sort
    "join_geocode_reverse": 1,   # broadcast-as-literal nearest-anchor
                                 # projection; only the final sort
    "f_geohash": 1,              # staged bit-arithmetic projection;
                                 # only the final sort
    "win_sequence_count": 6,     # two 1-row type-dim aggs broadcast
                                 # onto the scan + one user window +
                                 # rollup/sort
    "agg_hurst_components": 4,   # persisted daily agg + totals
                                 # broadcast-back + cumulative window
                                 # + rollup/sort
    "agg_variogram": 3,          # daily agg + ONE per-key lag window
                                 # serving all 7 lags + rollup/sort
}


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """The bucketed-table join must read both sides pre-partitioned:
    the ONLY exchange in the plan is the final per-segment aggregate —
    neither join input reshuffles (that's the point of paying the
    bucketed write once)."""
    df = QS["sink_bucketed_join"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan, plan[:3000]
    assert count_exchanges(df) == 1, plan[:3000]


def test_running_distinct_single_shuffle(spark, sf_dir):
    """Both windows partition on user_id (the sub-partition first-seen
    window reuses the exchange) — one shuffle total."""
    df = QS["win_running_distinct"](spark, sf_dir)
    assert count_exchanges(df) <= 1


def test_headline_queries_stay_within_shuffle_budget(spark, sf_dir):
    over = {}
    for name, budget in EXCHANGE_BUDGET.items():
        n = count_exchanges(QS[name](spark, sf_dir))
        if n > budget:
            over[name] = (n, budget)
    assert not over, f"shuffle budget exceeded (got, budget): {over}"


def test_weighted_avg_single_shuffle(spark, sf_dir):
    df = QS["agg_weighted_avg"](spark, sf_dir)
    assert count_exchanges(df) == 1


def test_normtext_dedup_single_shuffle(spark, sf_dir):
    df = QS["ext_dedup_normtext"](spark, sf_dir)
    assert count_exchanges(df) == 1


def test_nearest_gridpoint_partial_aggregates(spark, sf_dir):
    """The argmin must be a hash aggregate with a map-side partial
    (struct-min combines before the exchange) — not a per-fact window
    sort of the exploded fact×grid rows."""
    df = QS["join_nearest_gridpoint"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "partial_min" in plan or plan.count("HashAggregate") >= 2, plan[:3000]
    assert "Window" not in plan


def test_md5_ann_encode_is_one_arrow_kernel(spark, sf_dir):
    """The IVF/PQ md5 twins (and the round-9 compositions, IVF-PQ and
    residual IVF-PQ) and the trained shared-codebook PQ encode through
    the closure-codebook Arrow kernel ``ivfpq_encode_codes``: the plan
    must contain its MapInArrow, no min_by/max_by encode aggregate and
    no nested-loop join — a per-vector aggregate over a codebook cross
    join would be the wrong plan at any scale."""
    for name in (
        "ext_simsearch_ivf_md5",
        "ext_simsearch_pq_md5",
        "ext_simsearch_ivfpq",
        "ext_simsearch_ivfpq_residual",
        "ext_simsearch_pq_kmeans",
    ):
        plan = formatted_plan(QS[name](spark, sf_dir))
        assert "MapInArrow" in plan, name
        assert "min_by" not in plan and "max_by" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_interleave_broadcasts_source_dim(spark, sf_dir):
    df = QS["ext_sample_interleave"](spark, sf_dir)
    assert has_broadcast_join(df)


def test_geocode_fuzzy_broadcasts_and_hash_joins(spark, sf_dir):
    """The normalized-key variant must keep geocode_lookup's physical
    shape: broadcast HASH join on the computed key (an equi-join — NOT
    a nested-loop from an expression-typed condition)."""
    df = QS["join_geocode_fuzzy"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    df = QS["sort_topk"](spark, sf_dir)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_daily_aggregate_single_shuffle(spark, sf_dir):
    df = QS["bucket_daily"](spark, sf_dir)
    # one Exchange for the groupBy — AQE may add nothing else
    assert count_exchanges(df) <= 1, formatted_plan(df)


def test_agg_multi_partial_aggregation(spark, sf_dir):
    plan = formatted_plan(QS["agg_multi"](spark, sf_dir))
    # partial + final hash aggregate pairs around a single exchange
    assert plan.count("HashAggregate") >= 2
    assert count_exchanges(QS["agg_multi"](spark, sf_dir)) == 1


def test_scan_stays_in_wholestage_codegen(spark, sf_dir):
    # '*(n)' markers = whole-stage-codegen stage ids; under AQE they
    # appear in the final executed plan, so run the query first
    df = QS["agg_multi"](spark, sf_dir)
    df.collect()
    assert "*(" in df._jdf.queryExecution().executedPlan().toString()


def test_asof_join_single_shuffle_per_side(spark, sf_dir):
    """union + window as-of: the window shuffles once on the key; the
    pre-aggregation of the right side adds its own — total must stay
    small and fixed (no join explosion)."""
    df = QS["join_asof_nearest"](spark, sf_dir)
    assert count_exchanges(df) <= 3, formatted_plan(df)


def test_horizon_filter_prunes_with_literal_bounds(spark, sf_dir):
    df = QS["filter_horizon_relative"](spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "ts" in pf


def test_loader_normalizes_events_ts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_union_prefer_single_shuffle(spark, sf_dir):
    df = QS["set_union_history_forecast"](spark, sf_dir)
    assert count_exchanges(df) <= 1, formatted_plan(df)


def test_partition_pruning_on_date_layout(spark, sf_dir):
    """The 100 TB layout claim, demonstrated: events written
    partitioned by date(ts); a date predicate becomes a partition
    filter that prunes files before any scan."""
    import os
    import re
    import shutil

    from pyspark.sql import functions as F

    path = "/root/repo/.tmp/events_by_day"
    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "dt", F.to_date("ts")
    )
    ev.write.partitionBy("dt").parquet(path)

    df = spark.read.parquet(path).filter(
        F.col("dt").between("2024-01-10", "2024-01-12")
    )
    plan = formatted_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "dt" in m.group(1), plan[:1500]
    # the pruned read returns exactly the 3 selected day-partitions
    assert df.select("dt").distinct().count() == 3
    # and the scan itself reports pruning: executed metric "number of
    # files read" covers only those partitions
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "dt" in m.group(1)
    shutil.rmtree(path, ignore_errors=True)
    assert executed  # plan materialized with partition filters applied


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Bucketing claim, demonstrated: lineitem and orders bucketed on
    the join key co-locate — the join plan has NO shuffle exchange."""
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for name in ("wds_li_b", "wds_ord_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("wds_li_b")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("wds_ord_b")
    try:
        joined = spark.table("wds_li_b").join(
            spark.table("wds_ord_b"),
            spark.table("wds_li_b").l_orderkey == spark.table("wds_ord_b").o_orderkey,
        )
        assert count_exchanges(joined) == 0, formatted_plan(joined)
    finally:
        for name in ("wds_li_b", "wds_ord_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_ngram_dedup_broadcasts_vocabulary(spark, sf_dir):
    """The document-frequency rank join must be a broadcast hash join
    (no exchange of the exploded shingle table), and nothing in the
    candidate pipeline may degenerate to a cartesian product."""
    from weather_data_ingestion_service_spark.ext.dedup import (
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = formatted_plan(ngram_jaccard_pairs(docs, "doc_id", "text"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hash_sample_is_narrow(spark, sf_dir):
    """Deterministic sampling is a pure filter: zero exchanges — at
    100 TB it pipelines into the scan."""
    from weather_data_ingestion_service_spark.ext.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    assert count_exchanges(hash_sample(docs, "doc_id", "1a")) == 0


def test_train_split_is_narrow(spark, sf_dir):
    from weather_data_ingestion_service_spark.ext.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assert count_exchanges(hash_split(docs, "doc_id")) == 0


def test_grid_near_dup_has_no_corpus_broadcast_or_collect(spark, sf_dir):
    """The distributed exact embedding near-dup must not ship the
    corpus anywhere whole: the only broadcast is the tiny block-pair
    grid, and the plan has no cartesian product."""
    from weather_data_ingestion_service_spark.ext.simsearch import (
        embedding_near_dup_pairs_grid,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    plan = formatted_plan(
        embedding_near_dup_pairs_grid(emb, "vec_id", "embedding", 0.95)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # grid rows broadcast (tiny); corpus side must arrive via exchange,
    # not a broadcast of the embedding table
    assert "BroadcastHashJoin" in plan
    import re

    # exactly the two grid copies are broadcast, and both build sides
    # carry only the two block ids — never the embedding column
    bexch = re.findall(r"\(\d+\) BroadcastExchange\nInput \[(\d+)\]: \[([^\]]*)\]", plan)
    assert len(bexch) == 2
    for width, cols in bexch:
        assert width == "2" and "ba#" in cols and "bb#" in cols


def test_repetition_stats_is_narrow(spark, sf_dir):
    """Repetition scoring is a pure projection: zero exchanges."""
    from weather_data_ingestion_service_spark.ext.text import repetition_stats
    from weather_data_ingestion_service_spark.plans import count_exchanges

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert count_exchanges(repetition_stats(docs, "doc_id", "text")) == 0


def test_quantize_is_narrow(spark, sf_dir):
    from weather_data_ingestion_service_spark.ext.simsearch import (
        quantize_embeddings,
    )
    from weather_data_ingestion_service_spark.plans import count_exchanges

    emb = load_table(spark, sf_dir, "embeddings")
    assert count_exchanges(quantize_embeddings(emb)) == 0


def test_contamination_join_is_equi_not_cartesian(spark, sf_dir):
    from weather_data_ingestion_service_spark.ext.text import (
        contamination_pairs,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    plan = formatted_plan(contamination_pairs(train, test, "doc_id", "text"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_sessionize_single_window_pass(spark, sf_dir):
    """lag + running sum share one window spec: exactly one exchange,
    one sort — Catalyst must not split them into two shuffles."""
    from weather_data_ingestion_service_spark.operators.windows import sessionize
    from weather_data_ingestion_service_spark.plans import count_exchanges

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = sessionize(ev, ["user_id"], "ts", 3600, tiebreak=["event_id"])
    assert count_exchanges(out) == 1


def test_tfidf_broadcasts_vocab_and_corpus_count(spark, sf_dir):
    """The df-table and corpus-count joins must broadcast (vocab- and
    one-row-sized); the corpus-sized side never broadcasts, and the
    shuffle-vocab fallback swaps the join without a cartesian."""
    from weather_data_ingestion_service_spark.ext.text import tfidf_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = formatted_plan(tfidf_topk(docs, "doc_id", "text"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    fallback = formatted_plan(
        tfidf_topk(docs, "doc_id", "text", broadcast_vocab=False)
    )
    assert "CartesianProduct" not in fallback


def test_balanced_sample_broadcasts_only_the_floor(spark, sf_dir):
    """The min-group-size scalar arrives by broadcast; the corpus side
    is one window exchange on the group key — no corpus broadcast, no
    cartesian blow-up (the floor join is a 1-row nested loop)."""
    from weather_data_ingestion_service_spark.ext.sampling import (
        balanced_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    plan = formatted_plan(balanced_sample(docs, "source", "doc_id"))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_url_dedup_is_single_partial_agg(spark, sf_dir):
    """Canonicalization is a pure projection; the whole operator is
    one map-side-combinable hash-agg on the canonical key."""
    from weather_data_ingestion_service_spark.ext.dedup import url_dedup
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit("https://x.com/"), "source").alias("url")
    )
    df = url_dedup(docs, "url", "doc_id")
    assert count_exchanges(df) == 1
    assert formatted_plan(df).count("HashAggregate") >= 2


def test_source_stats_single_window_exchange(spark, sf_dir):
    """rn + cnt + the final agg all share the source-key partitioning:
    exactly one exchange end-to-end."""
    from weather_data_ingestion_service_spark.ext.text import (
        length_percentiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    df = length_percentiles(docs, "source", "n_chars", "doc_id")
    assert count_exchanges(df) <= 2, formatted_plan(df)


def test_temperature_sample_no_corpus_shuffle(spark, sf_dir):
    """Domain sizes broadcast back; the corpus side is filter-only —
    no exchange of corpus rows (the size agg's own tiny exchange is
    the only one)."""
    from weather_data_ingestion_service_spark.ext.sampling import (
        temperature_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    plan = formatted_plan(temperature_sample(docs, "lang", "doc_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # corpus-side rows never hit a shuffle exchange: every Exchange in
    # the plan belongs to the tiny per-group size aggregation
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_point_in_polygon_zero_exchange_pruned_scan(spark, sf_dir):
    """The polygon dimension is compiled into the projection
    (broadcast-as-literal): no join, no exchange, and the customer
    scan reads ONLY the key column the coordinates derive from."""
    df = QS["join_point_in_polygon"](spark, sf_dir)
    assert count_exchanges(df) == 0
    plan = formatted_plan(df)
    assert "ReadSchema: struct<c_custkey:bigint>" in plan, plan[-1500:]


def test_day_partitioned_scan_prunes_partitions(spark, sf_dir):
    """src_partition_pruning: the day=... filter must resolve at
    PLANNING time — the scan's PartitionFilters carry the day bounds
    and the data filters stay empty (nothing row-level left to test).
    At 100 TB this is 3 directories read instead of a year."""
    df = QS["src_partition_pruning"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan, plan[-1500:]
    import re

    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf and "day" in pf.group(1), plan[-1500:]


def test_embed_hamming_band_join_no_cartesian(spark, sf_dir):
    """ext_embed_hamming: candidate pairs come from the band-keyed
    equi-join — never a cartesian/nested-loop product over all code
    pairs."""
    df = QS["ext_embed_hamming"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_embedding_registry_stays_on_grid_path(spark, sf_dir):
    """VERDICT r9 #8: the REGISTRY id must keep resolving to the
    block-pair grid variant — a refactor must not silently swap in the
    brute-force all-pairs twin (which exists only as a loudly-guarded
    exact baseline).  Grid signature: no cartesian/nested-loop product,
    and every broadcast build side is the 2-column grid, never the
    embedding column."""
    df = QS["ext_dedup_embedding"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivfpq_encode_single_arrow_pass_no_exchange(spark, sf_dir):
    """The build-half encode (r15 kernel): ONE narrow mapInArrow pass
    with the codebook shipped in the closure — no join, no aggregate,
    no exchange of anything corpus-sized (the previous shape paid a
    16× broadcast-cross-join blowup plus a SortAggregate with two
    sorts and one hash exchange).  The input projection must prune the
    scan to exactly (id, vector) so column pruning survives the opaque
    Arrow boundary (guide §4)."""
    import re

    from weather_data_ingestion_service_spark.ext.simsearch import (
        ivfpq_encode_codes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    plan = formatted_plan(ivfpq_encode_codes(emb))
    assert "MapInArrow" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"\(\d+\) Exchange", plan) is None, plan[-1500:]
    assert "Aggregate" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        f.split(":")[0] for f in m.group(1).split(",")
    ) == {"vec_id", "embedding"}, plan[-1500:]


def test_ivfpq_index_query_prunes_code_lists(spark, sf_dir):
    """ext_simsearch_index_query: the codes scan must resolve its
    probed-list filter at PLANNING time — PartitionFilters on the
    coarse ``cid`` partition column (the inverted-list layout read),
    and the plan must contain NO re-encode of the corpus (the min_by/
    max_by encode aggregate belongs to the build half only).  Scoring
    is the one ``ivfpq_score_codes`` MapInArrow: no queries × codes
    nested-loop join and no literal ``map(`` decode.  At 100 TB this
    is nprobe/n_clusters of the index directories read, with m+1
    small ints per vector."""
    import re

    from pyspark.sql import functions as F

    from weather_data_ingestion_service_spark.ext.simsearch import (
        ivfpq_query_index,
    )
    from weather_data_ingestion_service_spark.registry_r10 import (
        _ensure_ivfpq_index,
    )

    path = _ensure_ivfpq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    df = ivfpq_query_index(
        spark, path, emb.filter(F.col("vec_id") < 5), "vec_id",
        "embedding", k=3, nprobe=4, m=8,
    )
    plan = formatted_plan(df)
    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf and "cid" in pf.group(1), plan[-2000:]
    assert "min_by" not in plan and "max_by" not in plan, plan[-2000:]
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1, plan[-2000:]
    assert "BroadcastNestedLoopJoin" not in plan, plan[-2000:]
    assert "map(" not in plan, plan[-2000:]


def test_ivfpq_index_query_job_count(spark, sf_dir):
    """A warm ext_simsearch_index_query — build plus a noop write —
    runs at most 8 Spark jobs (13 before the probe moved to the driver
    and scoring to one Arrow kernel)."""
    from weather_data_ingestion_service_spark.registry_r10 import (
        _ensure_ivfpq_index,
    )

    _ensure_ivfpq_index(spark, sf_dir)
    sc = spark.sparkContext
    group = "wds-test-index-query-jobs"
    sc.setJobGroup(group, "test_plans")
    try:
        QS["ext_simsearch_index_query"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < len(jobs) <= 8, jobs


def test_ivfpq_residual_runs_pass_one_once(spark, sf_dir):
    """ext_simsearch_ivfpq_residual: the pass-1 encode feeds the
    residual only (pass 2 carries its cid), so the plan holds exactly
    two encode MapInArrow nodes plus the score kernel."""
    import re

    plan = formatted_plan(QS["ext_simsearch_ivfpq_residual"](spark, sf_dir))
    nodes = re.findall(r"\(\d+\) MapInArrow\n.*\nArguments: (\w+)\(", plan)
    assert sorted(nodes) == ["encode", "encode", "score"], plan[-3000:]


def test_refined_index_serve_prunes_codes_and_vectors(spark, sf_dir):
    """ext_simsearch_index_refined_serve: the probed list ids must
    statically prune BOTH corpus-sized scans — codes (ADC stage) and
    the int8 vectors store (refine stage) — via PartitionFilters on
    the coarse ``cid`` partition column, with NO re-encode and NO
    KMeans retrain anywhere in the plan (min_by belongs to the build
    half only).  At 100 TB both reads touch nprobe/n_clusters of the
    list directories."""
    import re

    from pyspark.sql import functions as F

    from weather_data_ingestion_service_spark.ext.simsearch import (
        ivfpq_refined_query_index,
    )
    from weather_data_ingestion_service_spark.registry_r11 import (
        _RT,
        _ensure_refined_index,
    )

    path = _ensure_refined_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    df = ivfpq_refined_query_index(
        spark, path, emb.filter(F.col("vec_id") < 5), "vec_id",
        "embedding", k=3, nprobe=_RT["nprobe"],
        shortlist=_RT["shortlist"], m=_RT["m"], eager=False,
    )
    plan = formatted_plan(df)
    spark.catalog.clearCache()  # eager=False leaves probe/query caches
    pfs = re.findall(r"PartitionFilters: \[([^\]]*cid[^\]]*)\]", plan)
    assert len(pfs) >= 2, plan[-3000:]  # codes scan AND vectors scan
    assert "min_by" not in plan and "max_by" not in plan, plan[-2000:]


def test_anomaly_normals_broadcasts_the_normals_dim(spark, sf_dir):
    """agg_anomaly_normals: the hour-of-day normals table is
    |locs|x24 rows at ANY record length — it must broadcast back onto
    the hourly record (no sort-merge join), and the whole anomaly
    pipeline fits in 4 exchanges (normals agg, daily rollup, plus
    AQE/sort plumbing)."""
    df = QS["agg_anomaly_normals"](spark, sf_dir)
    assert has_broadcast_join(df), formatted_plan(df)[-2000:]
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan[-2000:]
    assert count_exchanges(df) <= 4, plan[-2000:]


def test_extreme_tx90p_broadcasts_thresholds(spark, sf_dir):
    """agg_extreme_tx90p: the rank-selected p90 threshold table (one
    row per (location, hour-of-day) slot) broadcasts back for the
    exceedance count — the only shuffle of record-sized data is the
    one rank window on uniform slot keys."""
    df = QS["agg_extreme_tx90p"](spark, sf_dir)
    assert has_broadcast_join(df), formatted_plan(df)[-2000:]
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan[-2000:]
    assert count_exchanges(df) <= 4, plan[-2000:]


def test_ngram_overlap_no_cartesian_bounded_shuffles(spark, sf_dir):
    """ext_eval_ngram_overlap: clipped-count evaluation never forms a
    cross product (the naive BLEU join is cand-grams x ref-grams) —
    counts meet on fine-grained (n, pair, gram) hash keys, within a
    bounded exchange budget."""
    df = QS["ext_eval_ngram_overlap"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[-2000:]
    assert "BroadcastNestedLoopJoin" not in plan, plan[-2000:]
    assert count_exchanges(df) <= 5, plan[-2000:]
    spark.catalog.clearCache()  # the entry persists the token arrays


def test_refined_upserted_serving_keeps_partition_pruning(spark, sf_dir):
    """ext_simsearch_index_refined_upsert: COMPACTION must restore the
    pruned serving layout exactly — a query against the post-upsert
    serving directory statically prunes BOTH cid-partitioned scans
    (codes AND int8 vectors), same as the freshly-built index (the
    r11 serve plan pin).  A compaction that dropped partitionBy on
    either store would silently turn every probe into a full-index
    scan at 100 TB."""
    import re

    from pyspark.sql import functions as F

    from weather_data_ingestion_service_spark.ext.simsearch import (
        ivfpq_refined_query_index,
    )
    from weather_data_ingestion_service_spark.registry_r11 import _RT
    from weather_data_ingestion_service_spark.registry_r12 import (
        _ensure_refined_upserted,
    )

    serving = _ensure_refined_upserted(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    df = ivfpq_refined_query_index(
        spark, serving, emb.filter(F.col("vec_id") < 5), "vec_id",
        "embedding", k=3, nprobe=_RT["nprobe"],
        shortlist=_RT["shortlist"], m=_RT["m"], eager=False,
    )
    plan = formatted_plan(df)
    spark.catalog.clearCache()
    pfs = re.findall(r"PartitionFilters: \[([^\]]*cid[^\]]*)\]", plan)
    assert len(pfs) >= 2, plan[-3000:]
    assert "min_by" not in plan and "max_by" not in plan, plan[-2000:]


def test_refined_upsert_supersedence_is_epoch_order_not_arrival(
    spark, sf_dir
):
    """The upsert read path must resolve by EPOCH NUMBER, not file
    arrival order: writing the three epochs in permuted order
    (tombstones first, then the true re-encode, then the stale full
    ingest) must yield the identical live view — max_by(payload,
    epoch) is order-invariant by construction, and this pins it."""
    import shutil

    from pyspark.sql import functions as F

    from weather_data_ingestion_service_spark.ext.simsearch import (
        ivfpq_refined_apply_epochs,
        ivfpq_refined_encode_epoch,
        ivfpq_refined_tombstones,
        load_refined_codebooks,
    )
    from weather_data_ingestion_service_spark.registry_r11 import (
        _RT,
        _ensure_refined_index,
    )

    idx = _ensure_refined_index(spark, sf_dir)
    cb = load_refined_codebooks(spark, idx, _RT["m"])
    emb = load_table(spark, sf_dir, "embeddings")
    changed = F.col("vec_id") % 7 == 0
    stale0 = emb.withColumn(
        "embedding",
        F.when(changed, F.reverse("embedding")).otherwise(
            F.col("embedding")
        ),
    )
    epochs = {
        0: ivfpq_refined_encode_epoch(
            stale0, cb[0], cb[1], _RT["m"], _RT["dim"]
        ),
        1: ivfpq_refined_encode_epoch(
            emb.filter(changed), cb[0], cb[1], _RT["m"], _RT["dim"]
        ),
        2: ivfpq_refined_tombstones(
            emb.filter(F.col("vec_id") % 11 == 3)
        ),
    }
    from weather_data_ingestion_service_spark.registry import _session_tag

    outs = []
    for order in [(0, 1, 2), (2, 1, 0)]:
        root = f"/tmp/wds_epochorder_{_session_tag(spark, sf_dir)}_{order[0]}"
        shutil.rmtree(root, ignore_errors=True)
        for i in order:
            epochs[i].write.mode("overwrite").parquet(
                f"{root}/epoch={i}"
            )
        live = ivfpq_refined_apply_epochs(spark, root)
        outs.append(
            sorted(
                (r["match_id"], r["cid"], tuple(r["codes"]))
                for r in live.select("match_id", "cid", "codes").collect()
            )
        )
        shutil.rmtree(root, ignore_errors=True)
    assert outs[0] == outs[1]
    # the deleted ids are gone and the stale codes are shadowed
    dead = {m for m, _c, _k in outs[0] if m % 11 == 3}
    assert not dead


def test_round12_new_entries_plan_budgets(spark, sf_dir):
    """Exchange budgets + join strategy pins for the round-12 entries:
    the ETCCDI aggregates are 2-3 exchange window/agg passes with no
    sort-merge join anywhere (per-location dims broadcast), the two
    LLM planners are single-aggregate corpus passes, and the fused
    matryoshka eval is ONE broadcast cross-join pass."""
    budgets = {
        "agg_extreme_wetdays": 3,
        "agg_extreme_rx1day": 3,
        "agg_extreme_rx5day": 3,
        "agg_extreme_cdd": 2,
        "agg_extreme_dtr": 3,
        "agg_extreme_wsdi": 7,  # duplicated tiny-twin subtrees; all keys are per-location
        "ext_pack_length_buckets": 2,
        "ext_eval_matryoshka": 2,
    }
    for name, budget in budgets.items():
        df = QS[name](spark, sf_dir)
        plan = formatted_plan(df)
        assert "SortMergeJoin" not in plan, (name, plan[-2000:])
        assert count_exchanges(df) <= budget, (
            name, count_exchanges(df), plan[-2000:]
        )


def test_tx90p_year_threshold_broadcast_no_smj(spark, sf_dir):
    """agg_extreme_tx90p_year: the 1830-row calendar threshold table
    must broadcast back onto the daily series (no sort-merge join),
    and the whole plan stays within a bounded exchange budget — the
    hourly record reduces to daily grain before any pooling, so no
    window sort ever touches hourly rows.  5 exchanges: the daily
    reduce runs on BOTH the threshold branch and the exceedance
    branch (Spark's exchange reuse can't unify them — different
    pruned schemas), plus the threshold pooling, the monthly rollup
    and the terminal sort; every one is daily-grain or smaller."""
    df = QS["agg_extreme_tx90p_year"](spark, sf_dir)
    plan = formatted_plan(df)
    assert has_broadcast_join(df), plan[-2000:]
    assert "SortMergeJoin" not in plan, plan[-2000:]
    assert count_exchanges(df) <= 5, (count_exchanges(df), plan[-2000:])


def test_gsl_year_broadcast_no_smj(spark, sf_dir):
    """agg_extreme_gsl_year: the tiny per-year spell aggregates join
    back broadcast (no sort-merge join), and no window ever touches
    hourly rows — the island windows run on the daily series."""
    df = QS["agg_extreme_gsl_year"](spark, sf_dir)
    plan = formatted_plan(df)
    assert has_broadcast_join(df), plan[-2000:]
    assert "SortMergeJoin" not in plan, plan[-2000:]
    assert count_exchanges(df) <= 8, (count_exchanges(df), plan[-2000:])
