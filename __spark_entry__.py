"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()``
registers every implemented operator from SURVEY.md §2 (+ north-star
extensions); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for
each.  Column names/aliases are identical on both sides; double-valued
aggregates are computed through exact DECIMAL accumulation in BOTH
engines (see smile_spark/functions/numeric.py) so value hashes match
bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from smile_spark.operators import analytics as AN
from smile_spark.operators import asof as A
from smile_spark.operators import behavior as B
from smile_spark.operators import curation as C
from smile_spark.operators import dedup as D
from smile_spark.operators import fit as FT
from smile_spark.operators import multimodal as M
from smile_spark.operators import graph as G
from smile_spark.operators import pipeline as P
from smile_spark.operators import quality as Q
from smile_spark.operators import relational as R
from smile_spark.operators import similarity as S
from smile_spark.operators import spatial as SP
from smile_spark.operators import sketch as K
from smile_spark.operators import text as T
from smile_spark.operators import windows as W
from smile_spark.sources import bucketed as BK
from smile_spark.sources import compaction as CP
from smile_spark.sources import incremental as IC
from smile_spark.sources import text_formats as TF
from smile_spark.streaming import events as ST

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return R.pricing_summary(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    ORDERING MATTERS: the driver verifies the FIRST 50 entries in
    insertion order.  Window (exactly 50): (0000) the EIGHT entries
    whose iteration loops now run through graph.supersteps (bfs,
    sssp, pagerank, personalized_pagerank, kcore_peel,
    label_propagation, graph_modularity, shortest_path_route); (000)
    the FOUR entries whose connected components take graph.cc_labels'
    driver-side pass (connected_components, image_dhash_clusters,
    crossmodal_dedup_clusters, group_split_no_leakage); (00) the SIX
    set-similarity entries whose path runs through the one setsim
    kernel (setsim_join_prefix, setsim_incremental,
    setsim_incremental_indexed, setsim_rolled_probe,
    setsim_hash_agreement, duplicate_set_groups); (0)
    ``dedup_canonical`` and ``golden_part_records``, whose clustering
    runs through graph.pair_components; (1) the SIX r15 additions
    (text_clusters_incremental, text_labels_rolled,
    semantic_labels_rolled, crossmodal_clusters_incremental,
    crossmodal_labels_rolled, streaming_manifest_agreement); (2) the
    first TWENTY-FOUR of the twenty-eight r10-verified entries the r14
    additions displaced (spatial_grid_join .. zorder_cluster, in their
    declared order).  8 + 4 + 6 + 2 + 6 + 24 = 50.  The (0000) block
    displaced the last four of (2) (interval_overlap_join,
    revenue_share, revenue_concentration, degree_assortativity) and
    the four r11-verified entries of the old block (3)
    (image_dhash_dedup, longest_repeat_profile, video_frame_dedup,
    dedup_cluster_sizes), which now head the entries past the window;
    the (000) block had displaced csv_malformed_audit,
    watermark_late_audit, fuzzy_name_match and
    event_transition_matrix, which follow them, and the (00) block
    five r11-verified entries (seasonality_profile,
    cms_heavy_hitters, scd2_customer_history, date_dimension,
    revenue_growth_mom), which come next.
    r16 NOTE: rotate (a) any r16 additions first, then (b) the eight
    entries the (0000) block displaced, then (c) the remaining
    r11-verified entries (csv_malformed_audit .. tfidf_top_terms),
    then (d) the r14-window block (setsim_rolled_probe ..
    ann_sq8_topk, newest verdicts r14); the r12 block and the
    r13-window block rotate last.
    """
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- (0000) the eight entries whose iteration loops now run
        # through graph.supersteps ---
        "bfs": G.bfs,
        "sssp": G.sssp,
        "pagerank": G.pagerank,
        "personalized_pagerank": G.personalized_pagerank,
        "kcore_peel": G.kcore_peel,
        "label_propagation": G.label_propagation,
        "graph_modularity": G.graph_modularity,
        "shortest_path_route": G.shortest_path_route,
        # --- (000) the four entries whose connected components now
        # take graph.cc_labels' driver-side pass at fixture SFs ---
        "connected_components": G.connected_components,
        "image_dhash_clusters": M.image_dhash_clusters,
        "crossmodal_dedup_clusters": M.crossmodal_dedup_clusters,
        "group_split_no_leakage": P.group_split_no_leakage,
        # --- (00) the six entries whose set-similarity path now runs
        # through the one setsim kernel ---
        "setsim_join_prefix": D.setsim_join_prefix,
        "setsim_incremental": D.setsim_incremental,
        "setsim_incremental_indexed": D.setsim_incremental_indexed,
        "setsim_rolled_probe": D.setsim_rolled_probe,
        "setsim_hash_agreement": D.setsim_hash_agreement,
        "duplicate_set_groups": D.duplicate_set_groups,
        # --- (0) the two queries whose clustering moved from the
        # single-partition min-label loop to graph.pair_components ---
        "dedup_canonical": P.dedup_canonical,
        "golden_part_records": P.golden_part_records,
        # --- (1) NEW in r15, never driver-verified ---
        "text_clusters_incremental": D.text_clusters_incremental,
        "text_labels_rolled": D.text_labels_rolled,
        "semantic_labels_rolled": D.semantic_labels_rolled,
        "crossmodal_clusters_incremental": (
            M.crossmodal_clusters_incremental
        ),
        "crossmodal_labels_rolled": M.crossmodal_labels_rolled,
        "streaming_manifest_agreement": ST.streaming_manifest_agreement,
        # --- (2) the first TWENTY-FOUR of the r10-verified entries
        # the r14 additions displaced (r14 rotation note) ---
        "spatial_grid_join": SP.spatial_grid_join,
        "join_size_estimate": K.join_size_estimate,
        "clustering_coefficient": G.clustering_coefficient,
        "bm25_topk": T.bm25_topk,
        "bitmap_distinct": K.bitmap_distinct,
        "pattern_match_events": B.pattern_match_events,
        "inverted_index_stats": T.inverted_index_stats,
        "funnel_latency": B.funnel_latency,
        "mad_outliers_approx": Q.mad_outliers_approx,
        "dedup_eval": D.dedup_eval,
        "stratified_kfold": C.stratified_kfold,
        "grouping_sets_summary": AN.grouping_sets_summary,
        "sql_order_priority": R.sql_order_priority,
        "sql_subqueries": R.sql_subqueries,
        "range_join_recent_events": A.range_join_recent_events,
        "graph_load": G.graph_load,
        "sessionize": B.sessionize,
        "funnel_conversion": B.funnel_conversion,
        "retention_cohorts": B.retention_cohorts,
        "gap_fill_daily": B.gap_fill_daily,
        "repetition_ratio": C.repetition_ratio,
        "unpivot_long": AN.unpivot_long,
        "rolling_daily_activity": B.rolling_daily_activity,
        "zorder_cluster": AN.zorder_cluster,
        # ------------------------------------------------------------------
        # entries below sit past the driver's 50-query window this
        # round (see the r16 NOTE in the docstring above for the next
        # rotation).
        # ------------------------------------------------------------------
        # --- the eight entries the (0000) block displaced: the last
        # four of the r10-verified block (2), then the four of the
        # r11-verified block (3) (first into the next rotation) ---
        "interval_overlap_join": A.interval_overlap_join,
        "revenue_share": AN.revenue_share,
        "revenue_concentration": AN.revenue_concentration,
        "degree_assortativity": G.degree_assortativity,
        "image_dhash_dedup": M.image_dhash_dedup,
        "longest_repeat_profile": D.longest_repeat_profile,
        "video_frame_dedup": M.video_frame_dedup,
        "dedup_cluster_sizes": P.dedup_cluster_sizes,
        # --- the four r11-verified entries the (000) block displaced ---
        "csv_malformed_audit": TF.csv_malformed_audit,
        "watermark_late_audit": W.watermark_late_audit,
        "fuzzy_name_match": T.fuzzy_name_match,
        "event_transition_matrix": B.event_transition_matrix,
        # --- the five r11-verified entries the (00) block displaced ---
        "seasonality_profile": B.seasonality_profile,
        "cms_heavy_hitters": K.cms_heavy_hitters,
        "scd2_customer_history": C.scd2_customer_history,
        "date_dimension": R.date_dimension,
        "revenue_growth_mom": AN.revenue_growth_mom,
        # --- the two r11-verified entries the (0) pair displaced ---
        "column_profile": Q.column_profile,
        "referential_orphans": Q.referential_orphans,
        # --- the ELEVEN remaining r11-verified entries (first into
        # r16 after any r16 additions) ---
        "constraint_violations": Q.constraint_violations,
        "dedup_cross_source": D.dedup_cross_source,
        "balanced_sample_k": AN.balanced_sample_k,
        "sample_packing": C.sample_packing,
        "pricing_summary": R.pricing_summary,
        "scan": R.scan,
        "projection": R.projection,
        "datagen": R.datagen,
        "graph_metadata": G.graph_metadata,
        "degree_distribution": G.degree_distribution,
        "triangle_count": G.triangle_count,
        "groupby_count_array": R.groupby_count_array,
        "timestamp_filter": R.timestamp_filter,
        "groupby_count": R.groupby_count,
        "zscore_normalize": AN.zscore_normalize,
        "bigram_pmi": C.bigram_pmi,
        "decontaminate": C.decontaminate,
        "hll_source_overlap": K.hll_source_overlap,
        "graph_adjacency_bucketed": G.graph_adjacency_bucketed,
        "hll_distinct": K.hll_distinct,
        "hll_per_source": K.hll_per_source,
        "chunk_dedup": D.chunk_dedup,
        "snapshot_diff": Q.snapshot_diff,
        "embedding_kmeans": S.embedding_kmeans,
        "weighted_sample_topk": AN.weighted_sample_topk,
        "bloom_prejoin": Q.bloom_prejoin,
        "distribution_drift": Q.distribution_drift,
        "vocab_coverage": T.vocab_coverage,
        "pii_redact": C.pii_redact,
        "grouped_ols_fit": FT.grouped_ols_fit,
        "dedup_embedding_cosine": D.dedup_embedding_cosine,
        "tfidf_top_terms": T.tfidf_top_terms,
        # --- the r14-WINDOW entries (all 50 verified green in r14;
        # rotate after the r11 leftovers) ---
        "image_dhash_rolled_probe": M.image_dhash_rolled_probe,
        "minhash_rolled_probe": D.minhash_rolled_probe,
        "semantic_rolled_probe": D.semantic_rolled_probe,
        "image_clusters_incremental": M.image_clusters_incremental,
        "audio_clusters_incremental": M.audio_clusters_incremental,
        "increment_ingest_manifest": P.increment_ingest_manifest,
        "image_labels_rolled": M.image_labels_rolled,
        "audio_labels_rolled": M.audio_labels_rolled,
        "video_dhash_clusters": M.video_dhash_clusters,
        "video_clusters_incremental": M.video_clusters_incremental,
        "video_labels_rolled": M.video_labels_rolled,
        # --- (2) the SEVENTEEN r09-verified entries that slipped
        # the r13 window (VERDICT r13 next-round #1) ---
        "null_semantics": AN.null_semantics,
        "set_ops_all": R.set_ops_all,
        "range_frame_sum": AN.range_frame_sum,
        "string_agg_priorities": R.string_agg_priorities,
        "window_first_last": AN.window_first_last,
        "conditional_aggs": AN.conditional_aggs,
        "bitwise_functions": AN.bitwise_functions,
        "try_cast_handling": R.try_cast_handling,
        "date_parts": AN.date_parts,
        "streaming_state_agreement": ST.streaming_state_agreement,
        "srp_lsh_topk": S.srp_lsh_topk,
        "sliding_distinct_users": W.sliding_distinct_users,
        "bigram_lm_fluency": T.bigram_lm_fluency,
        "session_path_topk": B.session_path_topk,
        "embedding_outliers": S.embedding_outliers,
        "streaming_window_agreement": ST.streaming_window_agreement,
        # --- (3) the first entries of the r10-verified block ---
        "semantic_dedup": D.semantic_dedup,
        "ngram_hash_agreement": D.ngram_hash_agreement,
        "join_skew_profile": Q.join_skew_profile,
        "pca_power_iteration": FT.pca_power_iteration,
        "jsonl_roundtrip": TF.jsonl_roundtrip,
        "compaction_roundtrip": CP.compaction_roundtrip,
        "incremental_ingest_certificate": IC.incremental_ingest_certificate,
        "schema_evolution_certificate": TF.schema_evolution_certificate,
        "multimodal_decode_image": M.multimodal_decode_image,
        "multimodal_decode_video": M.multimodal_decode_video,
        "token_entropy": T.token_entropy,
        "equi_depth_bins": AN.equi_depth_bins,
        "skyline_pareto": AN.skyline_pareto,
        "mad_outliers": Q.mad_outliers,
        "ewma_anomaly": B.ewma_anomaly,
        "ann_sq8_topk": S.ann_sq8_topk,
        # --- r12-verified entries (the r12 window; rotate last) ---
        "audio_fingerprint_dedup": M.audio_fingerprint_dedup,
        "video_dhash_tolerant": M.video_dhash_tolerant,
        "audio_fingerprint_clusters": M.audio_fingerprint_clusters,
        "winsorize_prices": AN.winsorize_prices,
        "bucketed_join_revenue": BK.bucketed_join_revenue,
        "copurchase_pairs": R.copurchase_pairs,
        "streaming_dedup_agreement": ST.streaming_dedup_agreement,
        "ann_pq_topk": S.ann_pq_topk,
        "link_prediction_aa": G.link_prediction_aa,
        "lsh_band_planner": D.lsh_band_planner,
        "rake_keyphrases": T.rake_keyphrases,
        "streaming_join_agreement": ST.streaming_join_agreement,
        "agg_stats": R.agg_stats,
        "array_functions": AN.array_functions,
        "asof_latest_order": A.asof_latest_order,
        "casts_parse": R.casts_parse,
        "corr_stats": AN.corr_stats,
        "cube_summary": AN.cube_summary,
        "dedup_exact": D.dedup_exact,
        "graph_check": G.graph_check,
        "join_variants": R.join_variants,
        "json_functions": AN.json_functions,
        "lead_lag_delta": AN.lead_lag_delta,
        "map_functions": AN.map_functions,
        "math_functions": AN.math_functions,
        "minhash_signature": D.minhash_signature,
        "percentiles": AN.percentiles,
        "regex_functions": AN.regex_functions,
        "regional_revenue": R.regional_revenue,
        "rollup_summary": R.rollup_summary,
        "sampling_hash": AN.sampling_hash,
        "scan_filter_count": R.scan_filter_count,
        "set_ops": R.set_ops,
        "simhash": D.simhash,
        "stratified_sample": AN.stratified_sample,
        "string_functions": R.string_functions,
        "top_customers": R.top_customers,
        "dedup_minhash_lsh": D.dedup_minhash_lsh,
        "multimodal_meta": M.multimodal_meta,
        "multimodal_frames": M.multimodal_frames,
        "multimodal_resize": M.multimodal_resize,
        "multimodal_audio_chunks": M.multimodal_audio_chunks,
        "multimodal_frame_stats": M.multimodal_frame_stats,
        "winsorize_prices_approx": AN.winsorize_prices_approx,
        "ann_ivf_indexed": S.ann_ivf_indexed,
        # --- r13-WINDOW entries (newest verdicts r13; rotate
        # after the r12 block) ---
        # --- (1) NEW in r13, never driver-verified ---
        "ann_pq_indexed": S.ann_pq_indexed,
        "image_dhash_incremental": M.image_dhash_incremental,
        "crossmodal_image_video_dedup": M.crossmodal_image_video_dedup,
        "audio_fingerprint_incremental": M.audio_fingerprint_incremental,
        "dedup_minhash_incremental": D.dedup_minhash_incremental,
        "video_dhash_incremental": M.video_dhash_incremental,
        "semantic_dedup_incremental": D.semantic_dedup_incremental,
        # --- (2) the EIGHT r08-verified entries that slipped the
        # r12 window (VERDICT r12 next-round #1), less
        # golden_part_records, bfs and shortest_path_route, which sit
        # in the window ---
        "containment_topk": D.containment_topk,
        "hashjoin_agg": R.hashjoin_agg,
        "simhash_pairs": D.simhash_pairs,
        "ngram_jaccard_topk": D.ngram_jaccard_topk,
        "text_stats": T.text_stats,
        # --- (3) changed-oracle re-verify: its oracle was rewritten
        # in r12 (square-tone WAV synthesis); this clears the round's
        # only carried debt ---
        "multimodal_decode_audio": M.multimodal_decode_audio,
        # --- (4) the first 33 of the 50 r09-verified entries ---
        "nearest_centroid_eval": S.nearest_centroid_eval,
        "ann_recall_eval": S.ann_recall_eval,
        "exact_ngram_dedup": D.exact_ngram_dedup,
        "dup_span_cutlist": D.dup_span_cutlist,
        "gap_interpolate_daily": B.gap_interpolate_daily,
        "benford_screen": Q.benford_screen,
        "hard_negative_mining": S.hard_negative_mining,
        "token_count": T.token_count,
        "lang_id": T.lang_id,
        "fingerprint": T.fingerprint,
        "kmv_distinct_tokens": K.kmv_distinct_tokens,
        "ann_cosine_topk": S.ann_cosine_topk,
        "ann_ivf_topk": S.ann_ivf_topk,
        "embedding_norms": S.embedding_norms,
        "window_tumbling": W.window_tumbling,
        "hypertable_daily": W.hypertable_daily,
        "window_sliding": W.window_sliding,
        "window_session": W.window_session,
        "corpus_quality_filter": P.corpus_quality_filter,
        "corpus_curation_manifest": P.corpus_curation_manifest,
        "pivot_wide": AN.pivot_wide,
        "date_functions": AN.date_functions,
        "window_rank": R.window_rank,
        "window_ranking": AN.window_ranking,
        "text_normalize": C.text_normalize,
        "doc_chunks": C.doc_chunks,
        "ngram_counts": C.ngram_counts,
        "cdc_latest_state": C.cdc_latest_state,
        "source_temperature_mix": C.source_temperature_mix,
        "q3_shipping_priority": R.q3_shipping_priority,
        "skew_salted_revenue": R.skew_salted_revenue,
        "price_histogram": AN.price_histogram,
    }
    return q


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents, same column names."""
    return {
        # --- r15 additions ---
        # recursive min-reachability over the closed-form joint text
        # pair union (base setsim ∪ base MinHash ∪ increment↔base
        # setsim ∪ increment↔base MinHash)
        "text_clusters_incremental": D.text_clusters_incremental_sql(),
        # text_labels_rolled serves the IDENTICAL joint clustering
        # from the persisted base + delta — shared oracle by
        # construction (the ann_ivf_indexed contract)
        "text_labels_rolled": D.text_clusters_incremental_sql(),
        # frozen base-block centroids, fold-exact argmin + dominator
        # tie-breaks for both the base SemDeDup pass and the
        # increment-vs-base verdicts
        "semantic_labels_rolled": D.semantic_labels_rolled_sql(),
        # the incident slice keeps increment-internal edges, so the
        # fold reproduces the FULL joint visual clustering — both
        # entries share crossmodal_dedup_clusters' oracle verbatim
        "crossmodal_clusters_incremental": (
            M.CROSSMODAL_CLUSTERS_INCREMENTAL_SQL
        ),
        "crossmodal_labels_rolled": M.CROSSMODAL_LABELS_ROLLED_SQL,
        # the oracle pins n_stream = n_batch = increment count and
        # zero mismatches; the Spark side earns the zero by draining
        # the real foreachBatch stream against the batch manifest
        "streaming_manifest_agreement": (
            ST.streaming_manifest_agreement_sql()
        ),
        # --- r14 additions ---
        "setsim_rolled_probe": D.SETSIM_ROLLED_PROBE_SQL,
        "image_dhash_rolled_probe": M.IMAGE_DHASH_ROLLED_PROBE_SQL,
        "minhash_rolled_probe": D.MINHASH_ROLLED_PROBE_SQL,
        "semantic_rolled_probe": D.semantic_rolled_probe_sql(),
        "image_clusters_incremental": M.IMAGE_CLUSTERS_INCREMENTAL_SQL,
        "audio_clusters_incremental": M.AUDIO_CLUSTERS_INCREMENTAL_SQL,
        "increment_ingest_manifest": P.increment_ingest_manifest_sql(),
        "image_labels_rolled": M.IMAGE_LABELS_ROLLED_SQL,
        "audio_labels_rolled": M.AUDIO_LABELS_ROLLED_SQL,
        "video_dhash_clusters": M.VIDEO_DHASH_CLUSTERS_SQL,
        "video_clusters_incremental": M.VIDEO_CLUSTERS_INCREMENTAL_SQL,
        "video_labels_rolled": M.VIDEO_LABELS_ROLLED_SQL,
        "scan": "SELECT * FROM lineitem",
        "scan_filter_count": (
            "SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity > 25.0"
        ),
        "groupby_count": (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt"
            " FROM lineitem GROUP BY l_returnflag, l_linestatus"
        ),
        "groupby_count_array": (
            "SELECT l_linenumber, COUNT(*) AS cnt"
            " FROM lineitem GROUP BY l_linenumber"
        ),
        "hashjoin_agg": (
            "WITH build AS ("
            "  SELECT c_custkey AS key, MIN(c_acctbal) AS build_val"
            "  FROM customer WHERE c_custkey % 2 = 0 GROUP BY c_custkey"
            ") "
            "SELECT b.key, b.build_val,"
            " CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
            "   AS sum_totalprice,"
            " COUNT(*) AS order_cnt"
            " FROM orders o JOIN build b ON o.o_custkey = b.key"
            " GROUP BY b.key, b.build_val"
        ),
        "projection": "SELECT p_partkey, p_name FROM part",
        "casts_parse": (
            "SELECT event_id,"
            " CAST(event_id AS VARCHAR) AS id_str,"
            " CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS id_rt,"
            " CAST(FLOOR(value) AS BIGINT) AS value_floor,"
            " strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,"
            " strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),"
            "          '%Y-%m-%d %H:%M:%S') AS ts_rt,"
            " CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS BIGINT)"
            "   AS prop_k,"
            " event_type = 'purchase' AS is_purchase"
            " FROM events"
        ),
        "timestamp_filter": R.TIMESTAMP_FILTER_SQL,
        "datagen": (
            "SELECT range AS id,"
            " CAST((range * 2654435761) % 4294967296 % 256 AS INT) AS val"
            " FROM range(0, 100000)"
        ),
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus,"
            " CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
            "   AS sum_qty,"
            " CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
            "   AS sum_base_price,"
            " CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
            "   * (CAST(1 AS DECIMAL(18,2))"
            "      - CAST(l_discount AS DECIMAL(18,2)))"
            "   AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,"
            " CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
            "   / COUNT(l_quantity) AS avg_qty,"
            " CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
            "   / COUNT(l_extendedprice) AS avg_price,"
            " COUNT(*) AS count_order"
            " FROM lineitem WHERE l_shipdate <= TIMESTAMP '2025-12-01'"
            " GROUP BY l_returnflag, l_linestatus"
        ),
        "regional_revenue": R.REGIONAL_REVENUE_SQL,
        "top_customers": (
            "SELECT c.c_custkey, c.c_name, t.total_spent FROM ("
            "  SELECT o_custkey,"
            "   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
            "     AS total_spent"
            "  FROM orders GROUP BY o_custkey"
            ") t JOIN customer c ON t.o_custkey = c.c_custkey"
            " ORDER BY t.total_spent DESC, c.c_custkey ASC LIMIT 10"
        ),
        "window_rank": (
            "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
            "  SELECT o_custkey, o_orderkey, o_totalprice,"
            "   ROW_NUMBER() OVER (PARTITION BY o_custkey"
            "     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn"
            "  FROM orders"
            ") WHERE rn <= 3"
        ),
        "set_ops": (
            "WITH a AS (SELECT DISTINCT o_custkey AS ck FROM orders),"
            " b AS (SELECT c_custkey AS ck FROM customer"
            "       WHERE c_acctbal > 5000)"
            " SELECT"
            "  (SELECT COUNT(*) FROM (SELECT ck FROM a UNION SELECT ck FROM b))"
            "    AS n_union,"
            "  (SELECT COUNT(*) FROM (SELECT ck FROM a INTERSECT"
            "                         SELECT ck FROM b)) AS n_intersect,"
            "  (SELECT COUNT(*) FROM (SELECT ck FROM a EXCEPT"
            "                         SELECT ck FROM b)) AS n_except"
        ),
        "join_variants": R.JOIN_VARIANTS_SQL,
        "rollup_summary": R.ROLLUP_SQL,
        # same text runs on both engines — dialect portability IS the check
        "sql_order_priority": R.SQL_ORDER_PRIORITY,
        "sql_subqueries": R.SQL_SUBQUERIES,
        "agg_stats": R.AGG_STATS_SQL,
        "string_functions": R.STRING_FUNCTIONS_SQL,
        "cube_summary": AN.CUBE_SUMMARY_SQL,
        "pivot_wide": AN.PIVOT_WIDE_SQL,
        "percentiles": AN.PERCENTILES_SQL,
        "corr_stats": AN.CORR_STATS_SQL,
        "lead_lag_delta": AN.LEAD_LAG_DELTA_SQL,
        "window_ranking": AN.WINDOW_RANKING_SQL,
        "sampling_hash": AN.SAMPLING_HASH_SQL,
        "stratified_sample": AN.stratified_sample_sql(),
        "date_functions": AN.DATE_FUNCTIONS_SQL,
        "array_functions": AN.ARRAY_FUNCTIONS_SQL,
        "json_functions": AN.JSON_FUNCTIONS_SQL,
        "regex_functions": AN.REGEX_FUNCTIONS_SQL,
        "map_functions": AN.MAP_FUNCTIONS_SQL,
        "math_functions": AN.MATH_FUNCTIONS_SQL,
        "asof_latest_order": A.ASOF_LATEST_ORDER_SQL,
        "range_join_recent_events": A.RANGE_JOIN_SQL,
        "decontaminate": C.DECONTAMINATE_SQL,
        "q3_shipping_priority": R.Q3_SHIPPING_PRIORITY_SQL,
        "skew_salted_revenue": R.SKEW_SALTED_REVENUE_SQL,
        "price_histogram": AN.PRICE_HISTOGRAM_SQL,
        "null_semantics": AN.NULL_SEMANTICS_SQL,
        "set_ops_all": R.SET_OPS_ALL_SQL,
        "grouping_sets_summary": AN.GROUPING_SETS_SQL,
        "range_frame_sum": AN.RANGE_FRAME_SUM_SQL,
        "string_agg_priorities": R.STRING_AGG_SQL,
        "window_first_last": AN.WINDOW_FIRST_LAST_SQL,
        "conditional_aggs": AN.CONDITIONAL_AGGS_SQL,
        "bitwise_functions": AN.BITWISE_FUNCTIONS_SQL,
        "try_cast_handling": R.TRY_CAST_SQL,
        "date_parts": AN.DATE_PARTS_SQL,
        "sessionize": B.SESSIONIZE_SQL,
        "funnel_conversion": B.FUNNEL_CONVERSION_SQL,
        "retention_cohorts": B.RETENTION_COHORTS_SQL,
        "gap_fill_daily": B.GAP_FILL_DAILY_SQL,
        "pii_redact": C.PII_REDACT_SQL,
        "repetition_ratio": C.REPETITION_RATIO_SQL,
        "unpivot_long": AN.UNPIVOT_LONG_SQL,
        "rolling_daily_activity": B.ROLLING_DAILY_ACTIVITY_SQL,
        "bigram_pmi": C.BIGRAM_PMI_SQL,
        "zorder_cluster": AN.zorder_cluster_sql(),
        "interval_overlap_join": A.INTERVAL_OVERLAP_SQL,
        "copurchase_pairs": R.COPURCHASE_PAIRS_SQL,
        "revenue_share": AN.REVENUE_SHARE_SQL,
        "winsorize_prices": AN.WINSORIZE_PRICES_SQL,
        "zscore_normalize": AN.ZSCORE_NORMALIZE_SQL,
        "fuzzy_name_match": T.FUZZY_NAME_MATCH_SQL,
        "event_transition_matrix": B.EVENT_TRANSITION_MATRIX_SQL,
        "seasonality_profile": B.SEASONALITY_PROFILE_SQL,
        "grouped_ols_fit": FT.GROUPED_OLS_FIT_SQL,
        "cms_heavy_hitters": K.cms_heavy_hitters_sql(),
        "scd2_customer_history": C.SCD2_CUSTOMER_HISTORY_SQL,
        "date_dimension": R.DATE_DIMENSION_SQL,
        "bucketed_join_revenue": BK.BUCKETED_JOIN_REVENUE_SQL,
        "revenue_growth_mom": AN.REVENUE_GROWTH_MOM_SQL,
        "column_profile": Q.COLUMN_PROFILE_SQL,
        "referential_orphans": Q.REFERENTIAL_ORPHANS_SQL,
        "constraint_violations": Q.CONSTRAINT_VIOLATIONS_SQL,
        "vocab_coverage": T.vocab_coverage_sql(),
        "dedup_cross_source": D.DEDUP_CROSS_SOURCE_SQL,
        "balanced_sample_k": AN.BALANCED_SAMPLE_K_SQL,
        "sample_packing": C.SAMPLE_PACKING_SQL,
        "text_normalize": C.TEXT_NORMALIZE_SQL,
        "doc_chunks": C.DOC_CHUNKS_SQL,
        "ngram_counts": C.NGRAM_COUNTS_SQL,
        "cdc_latest_state": C.CDC_LATEST_STATE_SQL,
        "source_temperature_mix": C.SOURCE_TEMPERATURE_MIX_SQL,
        # winsorize_prices_approx emits a deterministic tolerance
        # CERTIFICATE (exact envelope + in-tolerance booleans): the
        # sketch's raw boundaries are engine-specific, but the oracle
        # recomputes the envelope and asserts the booleans TRUE, so a
        # sketch drift flips a boolean and fails the hash gate.
        "winsorize_prices_approx": AN.WINSORIZE_PRICES_APPROX_SQL,
        "graph_adjacency_bucketed": G.graph_adjacency_bucketed_sql(),
        "graph_load": (
            "WITH e AS (SELECT o_custkey AS src, 100000 + o_orderkey AS dst"
            "           FROM orders),"
            " deg AS (SELECT src, COUNT(*) AS out_degree,"
            "         MIN(dst) AS first_nbr, MAX(dst) AS last_nbr"
            "         FROM e GROUP BY src)"
            " SELECT src, out_degree, first_nbr, last_nbr,"
            "  CAST(COALESCE(SUM(out_degree) OVER (ORDER BY src"
            "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            "    AS BIGINT) AS csr_offset"
            " FROM deg"
        ),
        "graph_metadata": (
            "SELECT"
            " (SELECT COUNT(DISTINCT c_custkey) FROM customer)"
            "  + (SELECT COUNT(DISTINCT o_orderkey) FROM orders)"
            "  AS num_nodes,"
            " (SELECT COUNT(*) FROM orders) AS num_edges,"
            " (SELECT MIN(o_custkey) FROM orders) AS first_edge_node,"
            " (SELECT MAX(o_custkey) FROM orders) AS last_edge_node"
        ),
        "graph_check": (
            "SELECT (SELECT COUNT(*) FROM orders) AS persisted_edges,"
            " CAST(0 AS BIGINT) AS mismatches"
        ),
        "bfs": G.bfs_sql(),
        "sssp": G.sssp_sql(),
        "pagerank": G.pagerank_sql(),
        "connected_components": (
            "WITH RECURSIVE e AS ("
            "  SELECT o_custkey AS src, 100000 + o_orderkey AS dst FROM orders"
            "  UNION ALL"
            "  SELECT 100000 + o_orderkey AS src, o_custkey AS dst FROM orders"
            "),"
            " nodes AS (SELECT c_custkey AS id FROM customer"
            "  UNION SELECT 100000 + o_orderkey FROM orders),"
            " reach(id, r) AS ("
            "  SELECT id, id FROM nodes"
            "  UNION"
            "  SELECT rr.id, e.dst FROM reach rr JOIN e ON e.src = rr.r"
            ") "
            "SELECT id, MIN(r) AS component FROM reach GROUP BY id"
        ),
        "degree_distribution": G.DEGREE_DISTRIBUTION_SQL,
        "triangle_count": G.TRIANGLE_COUNT_SQL,
        "dedup_canonical": P.dedup_canonical_sql(),
        "corpus_quality_filter": P.corpus_quality_filter_sql(),
        "corpus_curation_manifest": P.corpus_curation_manifest_sql(),
        "dedup_exact": D.DEDUP_EXACT_SQL,
        "ngram_jaccard_topk": D.NGRAM_JACCARD_SQL,
        "minhash_signature": D.minhash_signature_sql(),
        "dedup_minhash_lsh": D.dedup_minhash_lsh_sql(),
        "simhash": D.simhash_sql(),
        "simhash_pairs": D.simhash_pairs_sql(),
        "dedup_embedding_cosine": D.dedup_embedding_cosine_sql(),
        "text_stats": T.TEXT_STATS_SQL,
        "token_count": T.TOKEN_COUNT_SQL,
        "lang_id": T.lang_id_sql(),
        "fingerprint": T.FINGERPRINT_SQL,
        "tfidf_top_terms": T.tfidf_top_terms_sql(),
        # deterministic sketches: the ESTIMATES themselves are
        # oracle-verified bit-for-bit
        "kmv_distinct_tokens": K.KMV_SQL,
        "hll_distinct": K.hll_distinct_sql(),
        "hll_per_source": K.hll_per_source_sql(),
        "chunk_dedup": D.CHUNK_DEDUP_SQL,
        "snapshot_diff": Q.SNAPSHOT_DIFF_SQL,
        "embedding_kmeans": S.embedding_kmeans_sql(),
        "weighted_sample_topk": AN.WEIGHTED_SAMPLE_TOPK_SQL,
        "shortest_path_route": G.shortest_path_route_sql(),
        "bloom_prejoin": Q.bloom_prejoin_sql(),
        "hll_source_overlap": K.hll_source_overlap_sql(),
        "golden_part_records": P.golden_part_records_sql(),
        "distribution_drift": Q.DISTRIBUTION_DRIFT_SQL,
        "ann_cosine_topk": S.ANN_COSINE_SQL,
        # ann_ivf_topk is APPROXIMATE vs brute force (recall-tested in
        # tests/test_similarity.py) but fully DETERMINISTIC given its
        # fixed centroid rule — so the search itself is exactly
        # oracle-checkable (fold order pinned; see ann_ivf_sql)
        "ann_ivf_topk": S.ann_ivf_sql(),
        # ann_ivf_indexed is result-identical to ann_ivf_topk by
        # construction (same centroids, same probing — only the
        # physical access path differs), so it shares the oracle
        "ann_ivf_indexed": S.ann_ivf_sql(),
        # PQ shares the SQ8/IVF determinism contract: modulus
        # codebooks, strict-fold L2 assignment (bit-identical across
        # engines), cid/vec_id tie-breaks — the SEARCH is exactly
        # oracle-checkable while the retrieval stays approximate
        # (recall pinned in pytest)
        "ann_pq_topk": S.ann_pq_sql(),
        # the persisted-index probe is result-identical to ann_pq_topk
        # (same codebook rule, same codes, shared _pq_rank tail; also
        # pinned by an agreement test), so it shares the oracle — the
        # ann_ivf_indexed contract
        "ann_pq_indexed": S.ann_pq_sql(),
        # probe x base pairs verified un-banded in closed form (the
        # image-rung oracle contract applied to the incremental path)
        "image_dhash_incremental": M.IMAGE_DHASH_INCREMENTAL_SQL,
        # every image x frame pair verified un-banded, aggregated per
        # (image, video) pair
        "crossmodal_image_video_dedup": M.CROSSMODAL_IMAGE_VIDEO_SQL,
        # the audio twin of the image-incremental oracle
        "audio_fingerprint_incremental": (
            M.AUDIO_FINGERPRINT_INCREMENTAL_SQL
        ),
        # probe and base signatures in closed SQL form, candidates by
        # the same band equi-join, exact shingle-Jaccard verify
        "dedup_minhash_incremental": D.MINHASH_INCREMENTAL_SQL,
        # recursive min-reachability CTE over the UNION of the three
        # closed-form pair sets (image, video, cross-modal)
        "crossmodal_dedup_clusters": M.CROSSMODAL_DEDUP_CLUSTERS_SQL,
        # probe and base HI-RES frame hashes in closed form, every
        # probe x base frame pair verified un-banded, rolled up per
        # video pair
        "video_dhash_incremental": M.VIDEO_DHASH_INCREMENTAL_SQL,
        # base-block centroids, fold-exact argmin assignment on both
        # sides, cosine rounded to 6 before the tau compare
        "semantic_dedup_incremental": D.SEMANTIC_DEDUP_INCREMENTAL_SQL,
        "containment_topk": D.CONTAINMENT_TOPK_SQL,
        "token_entropy": T.TOKEN_ENTROPY_SQL,
        "equi_depth_bins": AN.EQUI_DEPTH_BINS_SQL,
        "skyline_pareto": AN.SKYLINE_PARETO_SQL,
        "mad_outliers": Q.MAD_OUTLIERS_SQL,
        "setsim_join_prefix": D.SETSIM_JOIN_SQL,
        "kcore_peel": G.kcore_peel_sql(),
        "ewma_anomaly": B.EWMA_ANOMALY_SQL,
        "ann_sq8_topk": S.ANN_SQ8_SQL,
        "spatial_grid_join": SP.SPATIAL_GRID_JOIN_SQL,
        "join_size_estimate": K.JOIN_SIZE_ESTIMATE_SQL,
        "clustering_coefficient": G.CLUSTERING_COEFFICIENT_SQL,
        "bm25_topk": T.bm25_topk_sql(),
        "bitmap_distinct": K.BITMAP_DISTINCT_SQL,
        "pattern_match_events": B.PATTERN_MATCH_EVENTS_SQL,
        "inverted_index_stats": T.INVERTED_INDEX_STATS_SQL,
        "funnel_latency": B.FUNNEL_LATENCY_SQL,
        "mad_outliers_approx": Q.MAD_OUTLIERS_APPROX_SQL,
        "dedup_eval": D.dedup_eval_sql(),
        # collision probabilities expand to explicit multiplication
        # chains (no libm pow), quantized to DECIMAL(18,12) per pair —
        # the banding S-curve evaluated on the observed pair
        # population is therefore hash-exact across engines
        "lsh_band_planner": D.lsh_band_planner_sql(),
        "stratified_kfold": C.STRATIFIED_KFOLD_SQL,
        "embedding_norms": S.EMBEDDING_NORMS_SQL,
        "window_tumbling": W.WINDOW_TUMBLING_SQL,
        # answered from the persisted hourly rollup; oracle hits raw events —
        # parity proves the continuous-aggregate hierarchy is lossless
        "hypertable_daily": W.HYPERTABLE_DAILY_SQL,
        "window_sliding": W.WINDOW_SLIDING_SQL,
        "window_session": W.WINDOW_SESSION_SQL,
        "multimodal_meta": M.MULTIMODAL_META_SQL,
        "multimodal_frames": M.MULTIMODAL_FRAMES_SQL,
        "multimodal_resize": M.MULTIMODAL_RESIZE_SQL,
        "multimodal_audio_chunks": M.MULTIMODAL_AUDIO_CHUNKS_SQL,
        "multimodal_frame_stats": M.MULTIMODAL_FRAME_STATS_SQL,
        # the oracle recomputes the expected emission count from raw
        # events and pins n_mismatch to ZERO — the Spark side earns the
        # zero by full-outer-joining the DRAINED STREAMING RESULT
        # against the batch operator, so stream/batch divergence flips
        # the value hash
        "streaming_state_agreement": ST.STREAMING_STATE_AGREEMENT_SQL,
        # same contract for the watermark-bounded streaming dedup: the
        # oracle recomputes the distinct-content count and pins zero
        # mismatches; the Spark side earns it by draining the real
        # dropDuplicatesWithinWatermark stream against batch dedup
        "streaming_dedup_agreement": ST.STREAMING_DEDUP_AGREEMENT_SQL,
        # SRP bucket signs come from order-independent DECIMAL folds,
        # so the multiprobe candidate set — and therefore the search
        # result — is exactly oracle-checkable despite the RETRIEVAL
        # being approximate (recall pinned in pytest, IVF precedent)
        "srp_lsh_topk": S.srp_lsh_sql(),
        "nearest_centroid_eval": S.NEAREST_CENTROID_EVAL_SQL,
        "ann_recall_eval": S.ann_recall_eval_sql(),
        "exact_ngram_dedup": D.EXACT_NGRAM_DEDUP_SQL,
        "dup_span_cutlist": D.DUP_SPAN_CUTLIST_SQL,
        "gap_interpolate_daily": B.GAP_INTERPOLATE_DAILY_SQL,
        "benford_screen": Q.benford_screen_sql(),
        "hard_negative_mining": S.HARD_NEGATIVE_MINING_SQL,
        "group_split_no_leakage": P.group_split_no_leakage_sql(),
        "sliding_distinct_users": W.SLIDING_DISTINCT_USERS_SQL,
        "bigram_lm_fluency": T.BIGRAM_LM_FLUENCY_SQL,
        "session_path_topk": B.SESSION_PATH_TOPK_SQL,
        "embedding_outliers": S.EMBEDDING_OUTLIERS_SQL,
        "streaming_window_agreement": ST.STREAMING_WINDOW_AGREEMENT_SQL,
        "jsonl_roundtrip": TF.JSONL_ROUNDTRIP_SQL,
        "compaction_roundtrip": CP.COMPACTION_ROUNDTRIP_SQL,
        "incremental_ingest_certificate": IC.INCREMENTAL_INGEST_SQL,
        "schema_evolution_certificate": TF.SCHEMA_EVOLUTION_SQL,
        "personalized_pagerank": G.personalized_pagerank_sql(),
        # REAL numpy codecs (PGM / RIFF-WAVE / concatenated-PGM) under
        # the hash gate: payloads synthesize from doc_id arithmetic,
        # the parsers decode them, the oracle recomputes the stats in
        # closed form — a parser bug flips the hash
        "multimodal_decode_image": M.MULTIMODAL_DECODE_IMAGE_SQL,
        "multimodal_decode_audio": M.MULTIMODAL_DECODE_AUDIO_SQL,
        "multimodal_decode_video": M.MULTIMODAL_DECODE_VIDEO_SQL,
        "revenue_concentration": AN.REVENUE_CONCENTRATION_SQL,
        "degree_assortativity": G.DEGREE_ASSORTATIVITY_SQL,
        "link_prediction_aa": G.LINK_PREDICTION_AA_SQL,
        "label_propagation": G.label_propagation_sql(),
        "rake_keyphrases": T.rake_keyphrases_sql(),
        "graph_modularity": G.graph_modularity_sql(),
        # stream-stream join certificate: oracle recomputes the batch
        # attribution pairs with the identical time predicate and pins
        # zero mismatches
        "streaming_join_agreement": ST.STREAMING_JOIN_AGREEMENT_SQL,
        "dedup_cluster_sizes": P.dedup_cluster_sizes_sql(),
        "watermark_late_audit": W.WATERMARK_LATE_AUDIT_SQL,
        # r10: SemDeDup + the 64-bit-key agreement certificates.  The
        # certificate oracles compute the STRING-semantics truth and
        # pin zero mismatches, so a hash collision (or any hashed/
        # string divergence) turns the entry red at the driver gate.
        "semantic_dedup": D.SEMANTIC_DEDUP_SQL,
        "setsim_hash_agreement": D.SETSIM_HASH_AGREEMENT_SQL,
        "ngram_hash_agreement": D.NGRAM_HASH_AGREEMENT_SQL,
        "join_skew_profile": Q.JOIN_SKEW_PROFILE_SQL,
        "duplicate_set_groups": D.DUPLICATE_SET_GROUPS_SQL,
        "pca_power_iteration": FT.pca_power_iteration_sql(),
        # r11: the multimodal perceptual near-dup rung + the
        # longest-repeat tuning profile.  The dHash oracle recomputes
        # the hash in closed form from doc_id and verifies ALL image
        # pairs (no banding), so a banding recall bug fails the gate.
        "image_dhash_dedup": M.IMAGE_DHASH_DEDUP_SQL,
        "longest_repeat_profile": D.LONGEST_REPEAT_PROFILE_SQL,
        "video_frame_dedup": M.VIDEO_FRAME_DEDUP_SQL,
        "setsim_incremental": D.SETSIM_INCREMENTAL_SQL,
        "csv_malformed_audit": TF.CSV_MALFORMED_AUDIT_SQL,
        "image_dhash_clusters": M.IMAGE_DHASH_CLUSTERS_SQL,
        # r12: the audio rung of the perceptual dedup family, unblocked
        # by the enriched square-tone WAV synthesis; oracle verifies
        # ALL audio pairs un-banded (image-rung contract)
        "audio_fingerprint_dedup": M.AUDIO_FINGERPRINT_DEDUP_SQL,
        # result-identical to setsim_incremental (the ann_ivf_indexed
        # shared-oracle contract): only the physical access path — a
        # persisted bucketed base index — differs
        "setsim_incremental_indexed": D.SETSIM_INCREMENTAL_SQL,
        # Hamming-tolerant video rung on the hi-res fixture subset;
        # oracle verifies ALL cross-video frame pairs un-banded
        "video_dhash_tolerant": M.VIDEO_DHASH_TOLERANT_SQL,
        # audio pairs -> clusters -> keep, the image-rung ladder
        # completed for audio; oracle replays cc as a recursive
        # min-reachability CTE over the closed-form pair set
        "audio_fingerprint_clusters": M.AUDIO_FINGERPRINT_CLUSTERS_SQL,
    }
