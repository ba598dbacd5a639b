"""Executed-plan audit for the queries the LAZY plan sweep must skip.

tests/test_plans.py::test_no_cartesian_in_any_lazy_query audits the
logical-to-physical plan of the RETURNED DataFrame — which is blind
for queries that run jobs at construction time (localCheckpoint loops,
eager index/table builds, streaming microbatches): the checkpoint
truncates lineage, so the expensive iterative stages never appear in
the returned frame's plan.  This file closes that gap (VERDICT r08
next-round #4 / r09 #4): it captures the physical-plan description of
EVERY SQL execution each skipped query actually ran (via the
SQLAppStatusStore) and asserts the two invariants the skip list was
waiving:

1. no CartesianProduct anywhere in any executed plan, and
2. a per-query ceiling on shuffle-Exchange count per execution —
   the "bounded exchanges" property that keeps an iterative round's
   cost linear (a regression that, say, re-derives lineage past a
   dropped checkpoint shows up as an exchange explosion here long
   before the bench notices).

Ceilings are the r10 measured values (sf0.001, AQE final plans) plus
slack for AQE/partition-count variance; BroadcastExchange is exempt
(word-boundary regex), since broadcasting a bounded dimension is the
cheap path these audits push queries toward.
"""

import re

import pytest

import __spark_entry__ as entry_mod
from smile_spark.plans.audit import (
    executed_plan_descriptions,
    final_plan_section,
)

# measured max shuffle-Exchange count per execution at sf0.001 (r10);
# the entries whose connected components take graph.cc_labels'
# driver-side pass (no per-round label joins) were re-measured and
# lowered when that pass landed
MEASURED = {
    "bfs": 2,
    "sssp": 1,
    "pagerank": 2,
    "personalized_pagerank": 2,
    "connected_components": 0,
    "graph_check": 4,
    "dedup_minhash_lsh": 3,
    "hypertable_daily": 1,
    "dedup_canonical": 1,
    "simhash_pairs": 2,
    "corpus_curation_manifest": 8,
    "dedup_cluster_sizes": 4,
    "shortest_path_route": 2,
    "golden_part_records": 3,
    "bucketed_join_revenue": 1,
    "graph_adjacency_bucketed": 0,
    "ann_ivf_indexed": 2,
    "streaming_state_agreement": 4,
    "streaming_window_agreement": 4,
    "jsonl_roundtrip": 5,
    "compaction_roundtrip": 5,
    "incremental_ingest_certificate": 5,
    "schema_evolution_certificate": 5,
    "kcore_peel": 2,
    "clustering_coefficient": 3,
    "degree_assortativity": 1,
    "label_propagation": 2,
    "graph_modularity": 6,
    "streaming_dedup_agreement": 3,
    "streaming_join_agreement": 4,
    "ann_pq_topk": 3,
    "group_split_no_leakage": 5,
    "setsim_hash_agreement": 5,
    "image_dhash_dedup": 1,  # r11 measured (band self-join + verify)
    "video_frame_dedup": 1,  # r11 measured (hash equi-join + count)
    "setsim_incremental": 2,  # r11 measured (rep-collapsed prefix join)
    "csv_malformed_audit": 1,  # r11 measured (text write + one agg)
    "image_dhash_clusters": 1,  # size joins (driver-side cc)
    "audio_fingerprint_dedup": 2,  # r12 measured (banded core, shared)
    "setsim_incremental_indexed": 3,  # r12 measured cold AND warm
    "video_dhash_tolerant": 2,  # r12 measured (banded core + doc agg)
    "audio_fingerprint_clusters": 1,  # size joins (driver-side cc)
    "ann_pq_indexed": 1,  # r13 measured cold AND warm (probe: bucketed
    #                       read + broadcast book, one agg exchange)
    "image_dhash_incremental": 1,  # r13 measured cold AND warm
    #                       (broadcast probe over bucketed index scan)
    "audio_fingerprint_incremental": 1,  # r13 measured (same shared
    #                       probe core as image_dhash_incremental)
    "crossmodal_image_video_dedup": 3,  # r13 measured (banded join +
    #                       distinct + doc-pair agg)
    "dedup_minhash_incremental": 3,  # r13 measured cold AND warm
    #                       (probe signature agg + cand distinct +
    #                        candidate-bounded verify)
    "crossmodal_dedup_clusters": 3,  # r13 measured (three pair
    #                       sources + cc rounds + size joins)
    "video_dhash_incremental": 2,  # r13 measured cold AND warm
    #                       (broadcast probe frames over bucketed
    #                        index scan + per-video-pair rollup)
    "semantic_dedup_incremental": 1,  # r13 measured cold AND warm
    #                       (map-side assign, broadcast probe over
    #                        bucketed assignment scan)
    "setsim_rolled_probe": 3,  # r14 measured cold AND warm (the
    #                       shared _setsim_probe_indexed plan over the
    #                       rolled tables)
    "image_dhash_rolled_probe": 1,  # r14 measured cold AND warm (the
    #                       shared _band_probe plan over the rolled
    #                       band table)
    "image_clusters_incremental": 3,  # r14 measured cold AND warm
    #                       (label join + collapsed-graph cc rounds +
    #                        relabel/size joins)
    "increment_ingest_manifest": 11,  # r14 measured cold AND warm
    #                       (six increment-sized rung pipelines
    #                        union + precedence window + universe
    #                        join in ONE composed execution)
    "minhash_rolled_probe": 3,  # r14 measured (probe signature agg +
    #                       cand distinct + candidate-bounded verify)
    "semantic_rolled_probe": 1,  # r14 measured cold AND warm
    #                       (map-side assign, broadcast probe over
    #                        the rolled bucketed assignment scan)
    "audio_clusters_incremental": 4,  # r14 measured (shared fold
    #                       core: label join + collapsed-graph cc +
    #                        relabel/size joins)
    "image_labels_rolled": 3,  # r14 measured cold AND warm (warm
    #                       reader: bucketed base scan + broadcast
    #                        delta remap + keep-list size joins)
    "audio_labels_rolled": 4,  # r14 measured cold AND warm (same
    #                       shared rolled-reader core as image)
    "video_dhash_clusters": 2,  # r14 measured cold AND warm (banded
    #                       frame join collapsed per video pair + cc
    #                        rounds + keep-list size joins)
    "video_clusters_incremental": 3,  # r14 measured cold AND warm
    #                       (shared fold core over video-level edges)
    "video_labels_rolled": 3,  # r14 measured cold AND warm (shared
    #                       rolled-reader core over the video labels)
    "text_clusters_incremental": 8,  # r15 measured cold AND warm (the
    #                       setsim+minhash increment probe pipelines
    #                        compose into one execution: tokenize/
    #                        distinct, doc grouping, frozen-df prefix
    #                        window, candidate join, bounded verify —
    #                        a linear chain, not an explosion)
    "text_labels_rolled": 8,  # r15 measured cold 8 / warm 3 (warm
    #                       reader: bucketed base scan + broadcast
    #                        delta remap + keep-list size joins)
    "semantic_labels_rolled": 3,  # r15 measured cold 3 / warm 0
    #                       (warm reader: one bucketed verdict scan)
    "crossmodal_clusters_incremental": 3,  # r15 measured cold AND
    #                       warm (joint pair memos + collapsed-graph
    #                        cc + relabel/size joins)
    "crossmodal_labels_rolled": 3,  # measured with driver-side cc
    #                       (shared rolled-reader core)
    "streaming_manifest_agreement": 9,  # r15 measured cold AND warm
    #                       (per-micro-batch six-rung precedence
    #                        window over pinned probe frames + the
    #                        certificate's full-outer diff)
}
# headroom: AQE coalescing and shuffle-partition settings move the
# count by a stage or two between SFs/sessions — the audit exists to
# catch EXPLOSIONS (a lineage re-derivation doubles the count), not
# one-off replans
SLACK = 3


def _shuffle_exchanges(desc: str) -> int:
    # \bExchange\b does not match BroadcastExchange (no word boundary
    # inside the identifier) — shuffle exchanges only
    return len(re.findall(r"\bExchange\b", final_plan_section(desc)))


@pytest.mark.parametrize("name", sorted(MEASURED))
def test_executed_plans_bounded(name, spark, sf_dir):
    fn = entry_mod.queries()[name]
    descs = executed_plan_descriptions(
        spark,
        lambda: fn(spark, sf_dir)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    assert descs, f"{name}: no SQL executions captured"
    for d in descs:
        assert "CartesianProduct" not in d, f"{name}:\n{d}"
    worst = max(_shuffle_exchanges(d) for d in descs)
    assert worst <= MEASURED[name] + SLACK, (
        f"{name}: {worst} shuffle exchanges in one executed plan"
        f" (measured {MEASURED[name]} + slack {SLACK}) — exchange"
        " explosion; did a checkpoint get dropped?"
    )


def test_skip_list_fully_audited(spark):
    """Every entry the lazy sweep skips must appear in MEASURED — a
    new skip-list entry without an executed-plan ceiling reopens the
    blind spot this file closes."""
    import inspect

    import tests.test_plans as tp

    src = inspect.getsource(tp.test_no_cartesian_in_any_lazy_query)
    skip_src = src.split("skip = {", 1)[1].split("}", 1)[0]
    skipped = set(re.findall(r'"([a-z0-9_]+)"', skip_src))
    missing = skipped - set(MEASURED)
    assert not missing, (
        f"skip-listed queries without an executed-plan audit: {missing}"
    )



def _scan_paths_to_join(plan: str, table: str) -> list[list[str]]:
    """For each scan of ``table`` in a plan tree, the node lines from
    the scan up to (and including) its nearest join ancestor."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    paths = []
    for i, line in enumerate(lines):
        if not re.search(rf"Scan parquet \S*\b{table}\b", line):
            continue
        path, d = [line], depth(line)
        for up in reversed(lines[:i]):
            if up.strip() and depth(up) < d:
                path.append(up)
                d = depth(up)
                if "Join" in up:
                    break
        paths.append(path)
    return paths


def test_setsim_index_feeds_shuffle_joins_at_full_width(spark, sf_dir):
    """With broadcast joins disabled the indexed probe joins the
    persisted setsim tables by sort-merge join.  The index must then
    keep at least spark.sql.shuffle.partitions buckets: its scans feed
    those joins with no exchange, and no exchange hash-partitions the
    other side into fewer partitions (a one-bucket index would squeeze
    each join into one task)."""
    from smile_spark.operators import dedup as D

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    D.clear_setsim_index_cache()
    try:
        descs = executed_plan_descriptions(
            spark,
            lambda: D.setsim_incremental_indexed(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
    finally:
        spark.conf.set(key, old)
        D.clear_setsim_index_cache()
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tables = D._setsim_tables("setsim_idx", sf_dir)
    joined = set()
    for d in descs:
        plan = final_plan_section(d)
        for part, tbl in tables.items():
            for path in _scan_paths_to_join(plan, tbl):
                if "SortMergeJoin" not in path[-1]:
                    continue
                joined.add(part)
                above = [n for n in path if re.search(r"\bExchange\b", n)]
                assert not above, (
                    f"{tbl} is re-shuffled into its sort-merge join:\n"
                    + "\n".join(reversed(path))
                )
        narrow = [
            int(n)
            for n in re.findall(r"hashpartitioning\(.*, (\d+)\)", d)
            if int(n) < width
        ]
        assert not narrow, f"exchanges into {narrow} < {width} partitions"
    assert {"prefix", "df"} <= joined, joined
