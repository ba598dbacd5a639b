"""Plan audits: fail the suite if a code change regresses the physical
plan (pushdown, pruning, broadcast, partial aggregation)."""

from smile_spark.operators import relational as R
from smile_spark.plans import (
    assert_broadcast_join,
    assert_partial_aggregation,
    assert_pushed_filters,
    assert_read_schema_only,
)
from smile_spark.plans.audit import assert_no_cartesian


def test_scan_filter_pushdown(spark, sf_dir):
    df = R.scan_filter_count(spark, sf_dir)
    assert_pushed_filters(df, "l_quantity")
    assert_partial_aggregation(df)


def test_projection_prunes_scan(spark, sf_dir):
    df = R.projection(spark, sf_dir)
    assert_read_schema_only(df, "p_partkey", "p_name")


def test_groupby_partial_aggregation(spark, sf_dir):
    assert_partial_aggregation(R.groupby_count(spark, sf_dir))
    assert_partial_aggregation(R.groupby_count_array(spark, sf_dir))


def test_hashjoin_broadcasts_build_side(spark, sf_dir):
    df = R.hashjoin_agg(spark, sf_dir)
    assert_broadcast_join(df)
    assert_partial_aggregation(df)


def test_pricing_summary_scan_prunes_unused_measures(spark, sf_dir):
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(R.pricing_summary(spark, sf_dir))
    # l_tax, l_orderkey etc. are not referenced — they must not be read
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "l_tax" not in line and "l_orderkey" not in line
            assert "l_quantity" in line


def test_topk_no_global_sort(spark, sf_dir):
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(R.top_customers(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_similarity_no_real_cartesian(spark, sf_dir):
    # crossJoin against a *broadcast* 3-row query set is a
    # BroadcastNestedLoopJoin by necessity; assert the corpus side is
    # never shuffled into a CartesianProduct
    from smile_spark.operators.similarity import ann_cosine_topk
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(ann_cosine_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_timestamp_filter_pushdown(spark, sf_dir):
    df = R.timestamp_filter(spark, sf_dir)
    assert_pushed_filters(df, "ts")
    assert_partial_aggregation(df)


def test_dedup_exact_partial_aggregation(spark, sf_dir):
    from smile_spark.operators.dedup import dedup_exact

    assert_partial_aggregation(dedup_exact(spark, sf_dir))


def test_minhash_hash_aggregates_not_sort(spark, sf_dir):
    # string MIN buffers would silently fall back to a spilling
    # SortAggregate (the sf0.1 OOM); signatures must stay numeric
    from smile_spark.operators.dedup import minhash_signature
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(minhash_signature(spark, sf_dir))
    assert "SortAggregate" not in plan, plan


def test_embedding_cosine_no_cartesian(spark, sf_dir):
    from smile_spark.operators.dedup import dedup_embedding_cosine

    assert_no_cartesian(dedup_embedding_cosine(spark, sf_dir))


def test_no_cartesian_in_any_lazy_query(spark, sf_dir):
    """Sweep every non-iterative, non-writing query: no CartesianProduct
    may appear anywhere.  BroadcastNestedLoopJoin is tolerated only for
    the ANN scorers, whose broadcast-crossJoin against a 3-row query
    set is that by construction."""
    import __spark_entry__ as entry_mod

    from smile_spark.plans.audit import formatted_plan

    # iterative / side-effecting queries excluded (they run jobs at
    # plan-construction time); their shapes are audited elsewhere
    skip = {
        "bfs", "sssp", "pagerank", "personalized_pagerank",
        "connected_components",
        "graph_check", "dedup_minhash_lsh", "hypertable_daily",
        "dedup_canonical", "simhash_pairs", "corpus_curation_manifest",
        "dedup_cluster_sizes",  # cc_labels loop over the LSH pair memo
        "shortest_path_route",  # iterative sssp + checkpointed pred
        "golden_part_records",  # min-label component loop at plan time
        # these two write bucketed tables at plan time
        "bucketed_join_revenue", "graph_adjacency_bucketed",
        # builds the persisted IVF index at plan time; its
        # partition-prune plan is asserted in test_similarity
        "ann_ivf_indexed",
        # run a real Structured Streaming query (memory sink) at call
        # time; their batch/stream agreement is the certificate itself
        "streaming_state_agreement", "streaming_window_agreement",
        # write their staging/export directories at call time
        "jsonl_roundtrip", "compaction_roundtrip",
        "incremental_ingest_certificate", "schema_evolution_certificate",
        "csv_malformed_audit",
        # localCheckpoint the co-purchase edge set at plan time
        # (kcore additionally iterates its peel rounds)
        "kcore_peel", "clustering_coefficient", "degree_assortativity",
        # synchronous LPA rounds localCheckpoint at plan time;
        # graph_modularity consumes the memoized label table
        "label_propagation", "graph_modularity",
        # run real Structured Streaming queries (memory sink) at call
        # time; batch/stream agreement is the certificate itself
        "streaming_dedup_agreement", "streaming_join_agreement",
        # collects its bounded M*K-row codebook at plan time (the
        # ann_ivf_indexed eager-build precedent)
        "ann_pq_topk",
        # cc_labels pointer-jumping rounds localCheckpoint at plan
        # time (the dedup_cluster_sizes precedent)
        "group_split_no_leakage",
        # runs the prefix join TWICE with localCheckpoints at plan
        # time (the hashed/string double execution IS the certificate)
        "setsim_hash_agreement",
        # localCheckpoint their dHash fingerprint tables at plan time
        # (one decode pass feeds both join sides); the clusters op
        # additionally runs cc_labels pointer-jumping rounds; the
        # audio rung shares the image rung's banded core
        "image_dhash_dedup", "video_frame_dedup", "image_dhash_clusters",
        "audio_fingerprint_dedup", "video_dhash_tolerant",
        "audio_fingerprint_clusters",
        # localCheckpoint their memberships and candidates at plan
        # time (the shared setsim probe core);
        # the indexed form additionally writes its bucketed base index
        # on first call (the ann_ivf_indexed eager-build precedent)
        "setsim_incremental", "setsim_incremental_indexed",
        # write their bucketed base band table on first call (the
        # setsim_incremental_indexed eager-build precedent)
        "image_dhash_incremental", "audio_fingerprint_incremental",
        # collects its bounded codebook and writes the bucketed
        # codes/book tables on first call (ann_pq_topk + indexed-build
        # precedents combined)
        "ann_pq_indexed",
        # localCheckpoints both fingerprint tables and runs the salt
        # probe aggregate at plan time (the image_dhash_dedup shape,
        # asymmetric cross-modal form)
        "crossmodal_image_video_dedup",
        # writes its bucketed base band table + localCheckpoints the
        # candidate frame at plan time
        "dedup_minhash_incremental",
        # composes three checkpoint-owning pair frames and runs
        # cc_labels pointer-jumping rounds at plan time
        "crossmodal_dedup_clusters",
        # write their bucketed base index tables on first call (the
        # image_dhash_incremental / setsim_incremental_indexed
        # eager-build precedents — video frame bands, SemDeDup
        # assignment respectively)
        "video_dhash_incremental", "semantic_dedup_incremental",
        # roll their persisted index forward (base rebuild + bucketed
        # APPEND) on first call, then probe — the eager-build
        # precedents plus the r14 fold step
        "setsim_rolled_probe", "image_dhash_rolled_probe",
        "minhash_rolled_probe", "semantic_rolled_probe",
        # build/adopt the persisted base label table and run
        # cc_labels pointer-jumping over the collapsed fold graph at
        # plan time (one shared core, image + audio instances)
        "image_clusters_incremental", "audio_clusters_incremental",
        # composes all six incremental rungs (index builds + probe
        # checkpoints) at plan time
        "increment_ingest_manifest",
        # roll the persisted LABEL state forward on first call (base
        # cc rebuild + delta append) before the reader's remap plan
        "image_labels_rolled", "audio_labels_rolled",
        "video_labels_rolled",
        # localCheckpoints the frame-hash table (video_dhash_tolerant)
        # and runs cc_labels pointer-jumping at plan time
        "video_dhash_clusters",
        # builds/adopts the persisted VIDEO label table and runs the
        # collapsed-graph cc fold at plan time (the image/audio twin)
        "video_clusters_incremental",
        # r15: build/adopt the generic-core base label tables (text =
        # setsim ∪ MinHash base pairs + cc; crossmodal = the joint
        # visual pair union's base slice + cc) and run the collapsed
        # fold / delta-log roll at call time
        "text_clusters_incremental", "text_labels_rolled",
        "crossmodal_clusters_incremental", "crossmodal_labels_rolled",
        # builds/adopts the persisted SemDeDup verdict table (base
        # dominator pass + increment append) at call time
        "semantic_labels_rolled",
        # runs a real foreachBatch Structured Streaming drain at call
        # time; batch/stream agreement is the certificate itself
        "streaming_manifest_agreement",
    }
    bnlj_ok = {
        # broadcast-crossJoin against a tiny query/centroid set
        "ann_cosine_topk", "ann_ivf_topk", "dedup_embedding_cosine",
        "embedding_kmeans",
        # single-row sketch state x single-row exact count
        "hll_distinct", "hll_source_overlap",
        # crossJoins of SINGLE-ROW aggregate legs into one summary row
        "distribution_drift",
        "graph_metadata", "join_variants", "set_ops", "set_ops_all",
        "kmv_distinct_tokens", "source_temperature_mix", "bigram_pmi",
        "vocab_coverage", "column_profile", "tfidf_top_terms",
        # salt replication: crossJoin against a broadcast 8-row salt table
        "skew_salted_revenue",
        # crossJoin against the broadcast SINGLE-ROW decile-bounds array
        "equi_depth_bins",
        # broadcast-crossJoin against the 1-row SQ8 stats + 3-row query set
        "ann_sq8_topk",
        # crossJoin of the two SINGLE-ROW estimate/exact aggregate legs
        "join_size_estimate",
        # crossJoin against the broadcast SINGLE-ROW avgdl/N stats leg
        "bm25_topk",
        # crossJoin against the broadcast SINGLE-ROW vocab-size leg
        "bigram_lm_fluency",
        # crossJoins against broadcast SINGLE-ROW centroid + threshold
        "embedding_outliers",
        # crossJoin against the broadcast SINGLE-ROW n/total aggregate
        "revenue_concentration",
        # broadcast-crossJoin against the 10-row label-centroid set
        "nearest_centroid_eval",
        # crossJoin against the broadcast 9-row Benford digit spine
        "benford_screen",
        # broadcast-crossJoin against the 3-row labeled query set
        "hard_negative_mining",
        # composes ann_cosine_topk's accepted 3-row query-set crossJoin
        "ann_recall_eval",
        # broadcast-crossJoin against the ONE-ROW collapsed centroid
        # struct array (the _assign device shared with embedding_kmeans)
        "semantic_dedup",
        # crossJoin against the broadcast SINGLE-ROW key-count totals leg
        "join_skew_profile",
        # three crossJoins against the broadcast ONE-ROW (mu, v_t)
        # iteration state (the embedding_kmeans centroid-state shape)
        "pca_power_iteration",
    }
    for name, fn in sorted(entry_mod.queries().items()):
        if name in skip:
            continue
        plan = formatted_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
        if name not in bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, f"{name}:\n{plan}"


def test_no_single_partition_collapse_in_dedup():
    """Round-1 regression guard: dedup_minhash_lsh's candidate table
    and simhash_pairs' fingerprint table are corpus-proportional — a
    coalesce(1) on either pins a 100 TB-scale table to ONE task.
    (localCheckpoint truncates lineage, so the collapse is invisible
    to a plan audit on the returned DataFrame — guard at the source
    level instead.)"""
    import inspect

    from smile_spark.operators import dedup

    src = inspect.getsource(dedup)
    assert ".coalesce(1)" not in src, (
        "single-partition collapse reintroduced in operators/dedup.py"
    )


def test_triangle_count_broadcasts_dimensions(spark, sf_dir):
    """The tripartite closure must broadcast customer/supplier sides;
    the only shuffle is the lineitem ⋈ orders equi-join + distinct."""
    from smile_spark.operators.graph import triangle_count

    df = triangle_count(spark, sf_dir)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_degree_distribution_partial_aggregation(spark, sf_dir):
    from smile_spark.operators.graph import degree_distribution

    assert_partial_aggregation(degree_distribution(spark, sf_dir))


def test_sampling_hash_no_shuffle(spark, sf_dir):
    """Hash sampling is a pure filter: the plan must contain no
    Exchange at all — it runs entirely inside the scan stage."""
    from smile_spark.operators.analytics import sampling_hash
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(sampling_hash(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_array_functions_no_shuffle(spark, sf_dir):
    """Higher-order-function lambdas are row-parallel codegen — no
    Exchange, no generator explosion."""
    from smile_spark.operators.analytics import array_functions
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(array_functions(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # no explode fallback


def test_text_normalize_no_shuffle(spark, sf_dir):
    """Normalization is row-parallel codegen — no Exchange at all."""
    from smile_spark.operators.curation import text_normalize
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(text_normalize(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_doc_chunks_single_fanout_exchange(spark, sf_dir):
    """Chunking shuffles once (the deliberate fan_out repartition for
    post-explosion volume) and never again — chunk ids derive from
    window starts, not from any ordering."""
    from smile_spark.operators.curation import doc_chunks
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(doc_chunks(spark, sf_dir))
    # formatted mode lists each node twice (tree + detail); count nodes
    assert len([
        ln for ln in plan.splitlines() if "Exchange (" in ln
    ]) == 1, plan
    assert "Sort (" not in plan, plan


def test_ngram_counts_partial_agg_and_topk(spark, sf_dir):
    """Bigram counting must combine map-side and take the global top-k
    without a global sort."""
    from smile_spark.operators.curation import ngram_counts

    df = ngram_counts(spark, sf_dir)
    assert_partial_aggregation(df)
    from smile_spark.plans.audit import formatted_plan

    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_cdc_latest_state_single_exchange(spark, sf_dir):
    """Latest-state compaction is ONE shuffle keyed by the entity id
    (the window's partition key) — nothing else moves."""
    from smile_spark.operators.curation import cdc_latest_state
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(cdc_latest_state(spark, sf_dir))
    assert len([
        ln for ln in plan.splitlines() if "Exchange (" in ln
    ]) == 1, plan


def test_source_temperature_mix_corpus_never_shuffles(spark, sf_dir):
    """The corpus side is filter-only: every Exchange in the plan must
    be on the tiny per-source rate table (single-row/broadcast legs),
    so no exchange may carry doc_id."""
    from smile_spark.operators.curation import source_temperature_mix
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(source_temperature_mix(spark, sf_dir))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "doc_id" not in line, plan


def test_cube_single_scan(spark, sf_dir):
    """CUBE computes all four grouping levels from ONE scan of the
    fact table (Expand feeding a single partial/final aggregate)."""
    from smile_spark.operators.analytics import cube_summary
    from smile_spark.plans.audit import formatted_plan

    df = cube_summary(spark, sf_dir)
    plan = formatted_plan(df)
    # one scan node total (each scan detail block lists its file index)
    assert plan.count("InMemoryFileIndex") == 1, plan
    assert "Expand" in plan, plan
    assert_partial_aggregation(df)


def test_window_navigation_single_exchange(spark, sf_dir):
    """first/last/nth over one partition key: exactly one hash
    exchange (the window's), nothing else moves."""
    from smile_spark.operators.analytics import window_first_last
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(window_first_last(spark, sf_dir))
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "(" in ln
    ]
    assert len(hash_exchanges) <= 1, plan


def test_date_parts_partial_aggregation(spark, sf_dir):
    from smile_spark.operators.analytics import date_parts

    assert_partial_aggregation(date_parts(spark, sf_dir))


def test_bitwise_no_shuffle(spark, sf_dir):
    """Row-parallel bit arithmetic must not exchange anything."""
    from smile_spark.operators.analytics import bitwise_functions
    from smile_spark.plans.audit import formatted_plan

    assert "Exchange" not in formatted_plan(bitwise_functions(spark, sf_dir))


def test_string_agg_partial_aggregation(spark, sf_dir):
    from smile_spark.operators.relational import string_agg_priorities

    assert_partial_aggregation(string_agg_priorities(spark, sf_dir))


def test_graph_load_prefix_sum_is_distributed(spark, sf_dir):
    """The CSR offset must be the two-level distributed prefix sum:
    the node-table window is partitioned by bucket (parallel), and the
    only partition-less ordered window runs over the tiny per-bucket
    totals aggregate — never over the node table itself."""
    from smile_spark.operators.graph import graph_load
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(graph_load(spark, sf_dir))
    win_args = [
        line
        for line in plan.splitlines()
        if "Arguments" in line and "windowspecdefinition" in line
    ]
    assert win_args, f"no Window in plan:\n{plan}"
    # the window that orders by src (node table) must partition by bkt
    node_wins = [line for line in win_args if "src" in line]
    assert node_wins and all("bkt" in line for line in node_wins), (
        f"node-table window not bucket-partitioned:\n{plan}"
    )
    # bucket-base offsets come back via broadcast, not a shuffle join
    assert "BroadcastHashJoin" in plan, plan


def test_sessionize_single_exchange(spark, sf_dir):
    """Sessionize must shuffle ONCE on user_id: the lag window, the
    running-sum window, and the session aggregate all reuse that one
    partitioning (HashPartitioning(user_id) satisfies the composite
    (user_id, session_seq) grouping)."""
    from smile_spark.operators.behavior import sessionize
    from smile_spark.plans.audit import formatted_plan

    import re

    plan = formatted_plan(sessionize(spark, sf_dir))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected 1 shuffle, got {n_exchanges}:\n{plan}"


def test_rowparallel_curation_ops_have_no_shuffle(spark, sf_dir):
    """pii_redact / repetition_ratio / unpivot_long are pure
    row-parallel projections: zero exchanges, and the scan prunes to
    exactly the referenced columns."""
    from smile_spark.operators.analytics import unpivot_long
    from smile_spark.operators.curation import pii_redact, repetition_ratio
    from smile_spark.plans.audit import formatted_plan

    for fn, cols in [
        (pii_redact, ("event_id", "props")),
        (repetition_ratio, ("doc_id", "text")),
        (unpivot_long, None),
    ]:
        plan = formatted_plan(fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{fn.__name__} shuffles:\n{plan}"
        if cols:
            for line in plan.splitlines():
                if "ReadSchema" in line:
                    assert all(c in line for c in cols), line


def test_copurchase_topk_and_partial_agg(spark, sf_dir):
    from smile_spark.operators.relational import copurchase_pairs
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(copurchase_pairs(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # partial+final support count


def test_prep_ops_broadcast_their_stats(spark, sf_dir):
    """winsorize/zscore broadcast their tiny stats aggregates onto the
    scan; revenue_share broadcasts all three dimension joins — no
    corpus-side shuffle for any of them."""
    from smile_spark.operators.analytics import (
        revenue_share,
        winsorize_prices,
        zscore_normalize,
    )
    from smile_spark.plans.audit import assert_broadcast_join

    for fn in (winsorize_prices, zscore_normalize, revenue_share):
        assert_broadcast_join(fn(spark, sf_dir))


def test_fuzzy_match_single_stage_pair_generation(spark, sf_dir):
    """Pair generation, length pre-filter, and levenshtein must run in
    the stage that FOLLOWS the probe-side fan-out: the block table is
    broadcast and the pair set never shuffles."""
    import re

    from smile_spark.operators.text import fuzzy_name_match
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(fuzzy_name_match(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the only shuffles are the round-robin fan_out and the broadcast
    # leg: the exploded pair set must never hash-shuffle
    n_hash_ex = plan.count("hashpartitioning")
    assert n_hash_ex == 0, plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2, plan  # fan_out + broadcast leg only


def test_vocab_coverage_ranks_only_topv(spark, sf_dir):
    """The rank window must run over the top-max(V) slice, never the
    full type table: the plan needs a TakeOrderedAndProject feeding the
    window, and exactly one Window node.  (A web corpus has 10^8-10^9
    distinct types — a partition-less window over all of them is a
    single-task sort of a billion rows.)"""
    from smile_spark.operators.text import vocab_coverage
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(vocab_coverage(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    # exactly ONE row_number window, sitting above the limit — and no
    # global range-sort of the full counts table anywhere
    assert plan.count(") Window") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_no_driver_actions_in_lazy_build_paths(spark, sf_dir):
    """tfidf_top_terms and dedup_embedding_cosine (post-memo) must not
    run driver-side actions while BUILDING their plan: tfidf's N comes
    from a broadcast 1-row aggregate (source-audited — a parquet
    footer-read job at load makes job counting unusable), and the
    auto-bits probe must come from the memo after first use."""
    import inspect

    import smile_spark.operators.dedup as dd
    from smile_spark.operators import text as tx

    src = inspect.getsource(tx.tfidf_top_terms)
    for action in (".count()", ".head(", ".collect()", ".first()"):
        assert action not in src, f"tfidf build path calls {action}"

    # warm the memo, then prove a rebuild never re-probes: a cache miss
    # would call neardup_auto_bits, which we trap
    dd.dedup_embedding_cosine(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    assert key in dd._AUTO_BITS_CACHE

    def _trap(*a, **k):
        raise AssertionError("memoized auto-bits probe re-ran")

    orig = dd.neardup_auto_bits
    dd.neardup_auto_bits = _trap
    try:
        dd.dedup_embedding_cosine(spark, sf_dir)
    finally:
        dd.neardup_auto_bits = orig


def test_graph_adjacency_bucketed_prunes_and_never_shuffles_edges(
    spark, sf_dir
):
    """The persisted bucketed adjacency must behave like CSR pages:
    the frontier's source filter prunes the scan to the buckets that
    hold those sources (SelectedBucketsCount), the frontier broadcasts,
    and the edge side reaches the join without any hash exchange."""
    from smile_spark.operators.graph import graph_adjacency_bucketed
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(graph_adjacency_bucketed(spark, sf_dir))
    assert "SelectedBucketsCount" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # edge-side rows may only shuffle for the frontier-proportional
    # expansion dedupe — never for the join itself: every hash exchange
    # must sit ABOVE the join in the tree (i.e. the join's scan-side
    # subtree contains none).  Formatted trees list children after
    # parents, so it suffices that no Exchange hashpartitioning node
    # has the scan as a descendant — approximated by requiring at most
    # one hashpartitioning exchange total (the distinct).
    assert plan.count("hashpartitioning") <= 1, plan


def test_kmeans_assignment_is_map_side(spark, sf_dir):
    """The nearest-centroid argmin must be the array_min fold over a
    broadcast single-row centroid array — NO Window and no corpus
    replication shuffle.  The only hash exchanges allowed are keyed by
    (cid,pos) or cid: the mean partials, the centroid-array rebuild,
    and the final per-cid stats."""
    from smile_spark.operators.similarity import embedding_kmeans
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(embedding_kmeans(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan
    n_hash_ex = plan.count("hashpartitioning")
    assert n_hash_ex <= 3, plan
    # every hash exchange is centroid-keyed (K x dim rows at most) —
    # none may repartition the corpus
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "cid" in line, line


def test_snapshot_diff_single_join(spark, sf_dir):
    """The diff is ONE full-outer join on the key — both snapshots
    derive from the same scan, classification is in the select."""
    from smile_spark.operators.quality import snapshot_diff
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(snapshot_diff(spark, sf_dir))
    assert plan.count("Join FullOuter") == 1, plan
    assert "CartesianProduct" not in plan


def test_chunk_dedup_no_all_pairs(spark, sf_dir):
    """Chunk audit joins rows to COUNTS (hash equi-join on the chunk
    key), never chunk-to-chunk: no cartesian, no nested-loop."""
    from smile_spark.operators.dedup import chunk_dedup
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(chunk_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_golden_pair_join_lets_aqe_pick_strategy(spark, sf_dir):
    """The ER candidate-pair stage is a plain brand equi-join with NO
    forced broadcast (the group table grows with catalog cardinality —
    VERDICT r04 'What's wrong' #3): the plan must carry an equi hash
    join of EITHER strategy (broadcast if AQE/stats say small, shuffled
    otherwise), and never a cartesian/nested-loop."""
    from pyspark.sql import functions as F

    from smile_spark.operators.pipeline import _golden_candidate_pairs
    from smile_spark.plans.audit import formatted_plan
    from smile_spark.tables import table

    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand"),
    )
    groups = p.groupBy("brand", "name").agg(
        F.min("pk").alias("rep_pk"),
        F.count(F.lit(1)).alias("n_in_group"),
    )
    plan = formatted_plan(_golden_candidate_pairs(groups))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan


def test_containment_topk_take_ordered(spark, sf_dir):
    """Directed containment top-k must be sort-limit
    (TakeOrderedAndProject), not a global window over all pairs, and
    the intersection must be an equi-join (no cross join)."""
    from smile_spark.operators.dedup import containment_topk
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(containment_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_topk_plan_is_takeordered(spark, sf_dir):
    """BM25's global top-k must be TakeOrderedAndProject (k rows per
    partition), never a global sort; df/length stats reach the scorer
    by broadcast."""
    from smile_spark.operators.text import bm25_topk
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(bm25_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_setsim_verify_is_candidate_bounded(spark, sf_dir):
    """The set-similarity verify side must be CANDIDATE-bounded: the
    token-array table is semi-joined down to candidate ids before the
    verify join (a LeftSemi in the plan), no table carries a forced
    broadcast hint that grows with the corpus, and no cartesian
    anywhere.  (r05 broadcast the FULL prefix + token-array tables —
    corpus-proportional, an executor OOM at 100 TB; the semi-join is
    the structural guarantee that can't regress silently.)"""
    from smile_spark.operators.dedup import setsim_join_frame
    from smile_spark.plans.audit import formatted_plan
    from smile_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    plan = formatted_plan(setsim_join_frame(docs, checkpoint=False))
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan


def test_spatial_grid_join_broadcasts_small_side(spark, sf_dir):
    """The replicated 3x3 supplier side must broadcast; the customer
    side joins by cell equi-key with no shuffle of its rows."""
    from smile_spark.operators.spatial import spatial_grid_join
    from smile_spark.plans.audit import formatted_plan

    plan = formatted_plan(spatial_grid_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bitmap_distinct_partial_aggregation(spark, sf_dir):
    """Both bitmap aggregates (word BIT_OR, popcount SUM) must combine
    map-side — the mergeable-state contract that makes the bitmap a
    sketch-grade operator."""
    from smile_spark.operators.sketch import bitmap_distinct

    assert_partial_aggregation(bitmap_distinct(spark, sf_dir))


def _duplicate_dict_keys(src: str, func_name: str) -> list[str]:
    """String keys that appear more than once in the dict literal
    returned by ``func_name`` inside ``src`` (module source)."""
    import ast
    from collections import Counter

    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == func_name:
            for ret in ast.walk(node):
                if isinstance(ret, ast.Dict):
                    keys = [
                        k.value
                        for k in ret.keys
                        if isinstance(k, ast.Constant)
                        and isinstance(k.value, str)
                    ]
                    counts = Counter(keys)
                    return sorted(k for k, n in counts.items() if n > 1)
    raise AssertionError(f"no dict literal found in {func_name}")


def test_registry_has_no_duplicate_keys():
    """queries() / oracle_sql() are ordering-sensitive dict literals
    (the driver verifies the first 50 entries in insertion order); a
    duplicate key silently drops one registration, corrupting the
    rotation bookkeeping (VERDICT r10 What's-wrong #1)."""
    import pathlib

    src = pathlib.Path(__file__).resolve().parents[1].joinpath(
        "__spark_entry__.py"
    ).read_text()
    assert _duplicate_dict_keys(src, "queries") == []
    assert _duplicate_dict_keys(src, "oracle_sql") == []


def test_duplicate_key_guard_detects_duplicates():
    """The guard itself must go red on a deliberately duplicated key."""
    bad = (
        "def queries():\n"
        "    return {'a': 1, 'b': 2, 'a': 3}\n"
    )
    assert _duplicate_dict_keys(bad, "queries") == ["a"]
