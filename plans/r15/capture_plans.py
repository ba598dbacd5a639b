#!/usr/bin/env python
"""Capture formatted + executed plans for the r15 optimization targets.

Usage: python plans/r15/capture_plans.py before|after [sf_dir]

For every target query this writes plans/r15/<name>_<tag>.txt holding
(1) the lazy `.explain("formatted")` of the returned frame and (2) the
physical-plan description of every SQL execution the query triggered
(via smile_spark.plans.audit.executed_plan_descriptions) — the only
view that sees past localCheckpoint truncation in the iterative/eager
entries.  Cold *_build / *_labelroll pseudo-entries (bench pricing
loops) are captured through the same clear/restore devices bench.py
uses.  Wall time of the single captured invocation is recorded as a
rough marker only — BENCH_LOCAL.json is the timing source of record.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import __spark_entry__ as entry_mod
from smile_spark import get_spark
from smile_spark.plans.audit import executed_plan_descriptions, formatted_plan

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
OUT = os.path.dirname(os.path.abspath(__file__))

REGISTERED = [
    "connected_components",
    "dedup_cluster_sizes",
    "dedup_canonical",
    "image_dhash_clusters",
    "audio_fingerprint_clusters",
    "video_dhash_clusters",
    "crossmodal_dedup_clusters",
    "image_clusters_incremental",
    "audio_clusters_incremental",
    "video_clusters_incremental",
    "text_clusters_incremental",
    "text_labels_rolled",
    "crossmodal_clusters_incremental",
    "crossmodal_labels_rolled",
    "pagerank",
    "personalized_pagerank",
    "sssp",
    "setsim_hash_agreement",
    "setsim_incremental",
    "setsim_incremental_indexed",
    "increment_ingest_manifest",
    "streaming_manifest_agreement",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = get_spark(app_name=f"plan-capture-{TAG}")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    from smile_spark.operators import dedup as D
    from smile_spark.operators import labels as L
    from smile_spark.operators import multimodal as M

    def cap(name: str, thunk, lazy_frame_fn=None) -> None:
        spark.sparkContext.setJobDescription(f"plan-capture:{name}")
        t0 = time.perf_counter()
        descs = executed_plan_descriptions(spark, thunk)
        dt = time.perf_counter() - t0
        parts = [
            f"# {name} — {TAG} (sf_dir={SF_DIR},"
            f" single cold-call wall {dt:.2f}s; shapes only — timings"
            " of record live in BENCH_LOCAL.json)\n"
        ]
        if lazy_frame_fn is not None:
            parts.append("== Lazy .explain('formatted') of returned frame ==\n")
            parts.append(lazy_frame_fn())
        parts.append(
            f"\n== Executed plans ({len(descs)} SQL executions"
            " triggered by one invocation) ==\n"
        )
        for i, d in enumerate(descs):
            parts.append(f"\n---- execution {i} ----\n{d}\n")
        with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as f:
            f.write("".join(parts))
        print(f"captured {name} ({len(descs)} execs, {dt:.1f}s)", flush=True)

    for name in REGISTERED:
        fn = queries[name]

        def thunk(fn=fn):
            _force(fn(spark, SF_DIR))

        def lazy(fn=fn):
            return formatted_plan(fn(spark, SF_DIR))

        cap(name, thunk, lazy)

    # cold build/fold pseudo-entries (the bench pricing loops)
    builds = [
        (
            "text_label_build",
            lambda: (
                L.clear_label_state(D.TEXT_LABEL_RUNG, which="ro"),
                L.label_index_build(spark, SF_DIR, D.TEXT_LABEL_RUNG),
            ),
        ),
        (
            "crossmodal_label_build",
            lambda: (
                L.clear_label_state(M.CROSSMODAL_LABEL_RUNG, which="ro"),
                L.label_index_build(spark, SF_DIR, M.CROSSMODAL_LABEL_RUNG),
            ),
        ),
        (
            "image_label_build",
            lambda: (
                L.clear_label_state(M.LABEL_RUNGS["image"], which="ro"),
                L.label_index_build(spark, SF_DIR, M.LABEL_RUNGS["image"]),
            ),
        ),
        (
            "text_labelroll",
            lambda: (
                L.clear_label_state(D.TEXT_LABEL_RUNG, which="roll"),
                L.roll_restore_base(spark, SF_DIR, D.TEXT_LABEL_RUNG),
                L.label_rollforward(spark, SF_DIR, D.TEXT_LABEL_RUNG),
            ),
        ),
        (
            "image_labelroll",
            lambda: (
                L.clear_label_state(M.LABEL_RUNGS["image"], which="roll"),
                L.roll_restore_base(spark, SF_DIR, M.LABEL_RUNGS["image"]),
                L.label_rollforward(spark, SF_DIR, M.LABEL_RUNGS["image"]),
            ),
        ),
    ]
    for name, thunk in builds:
        cap(name, thunk)

    print("DONE", flush=True)


if __name__ == "__main__":
    main()
