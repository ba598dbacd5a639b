#!/usr/bin/env python
"""Capture formatted + executed plans for the r16 optimization targets.

Usage: python plans/r16/capture_plans.py before|after [sf_dir]

Same contract as plans/r15/capture_plans.py: for every target this
writes plans/r16/<name>_<tag>.txt with (1) the lazy
`.explain("formatted")` of the returned frame (registered entries
only) and (2) the physical-plan description of every SQL execution
the query triggered — the only view that sees past localCheckpoint
truncation in the iterative/eager entries.  Cold *_build /
*_labelroll pseudo-entries are captured through the same
clear/restore devices bench.py uses.  The single-call wall time is a
rough marker only; BENCH_LOCAL.json is the timing source of record.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(
    0,
    os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ),
)

import __spark_entry__ as entry_mod
from smile_spark import get_spark
from smile_spark.plans.audit import (
    executed_plan_descriptions,
    formatted_plan,
)

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
OUT = os.path.dirname(os.path.abspath(__file__))

REGISTERED = [
    # the setsim family (prefix-join core + probes + certificates)
    "setsim_join_prefix",
    "setsim_hash_agreement",
    "setsim_incremental",
    "setsim_incremental_indexed",
    "setsim_rolled_probe",
    "dedup_minhash_incremental",
    "dedup_eval",
    # manifest family (six-rung composition, batch + streaming)
    "increment_ingest_manifest",
    "streaming_manifest_agreement",
    # generic-label-rung live folds / rolled readers
    "text_clusters_incremental",
    "text_labels_rolled",
    "crossmodal_clusters_incremental",
    "crossmodal_labels_rolled",
    # mid-tier entries examined this round
    "equi_depth_bins",
    "winsorize_prices",
    "winsorize_prices_approx",
    "mad_outliers",
    "mad_outliers_approx",
    "kcore_peel",
    "video_dhash_clusters",
    "link_prediction_aa",
    "semantic_dedup",
    "simhash_pairs",
    "pagerank",
    "personalized_pagerank",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = get_spark(app_name=f"plan-capture-{TAG}")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    from smile_spark.operators import dedup as D
    from smile_spark.operators import graph as G
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
            parts.append(
                "== Lazy .explain('formatted') of returned frame ==\n"
            )
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
            "setsim_index_build",
            lambda: (
                D.clear_setsim_index_cache(),
                D.setsim_index_build(spark, SF_DIR),
            ),
        ),
        (
            "lsh_pairs_build",
            lambda: (
                D.clear_lsh_cache(),
                _force(D.dedup_minhash_lsh(spark, SF_DIR)),
            ),
        ),
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
            "text_labelroll",
            lambda: (
                L.clear_label_state(D.TEXT_LABEL_RUNG, which="roll"),
                L.roll_restore_base(spark, SF_DIR, D.TEXT_LABEL_RUNG),
                L.label_rollforward(spark, SF_DIR, D.TEXT_LABEL_RUNG),
            ),
        ),
        (
            "crossmodal_labelroll",
            lambda: (
                L.clear_label_state(M.CROSSMODAL_LABEL_RUNG, which="roll"),
                L.roll_restore_base(spark, SF_DIR, M.CROSSMODAL_LABEL_RUNG),
                L.label_rollforward(spark, SF_DIR, M.CROSSMODAL_LABEL_RUNG),
            ),
        ),
        (
            "lpa_build",
            lambda: (
                G.clear_lpa_cache(),
                _force(G.label_propagation(spark, SF_DIR)),
            ),
        ),
    ]
    for name, thunk in builds:
        cap(name, thunk)

    print("DONE", flush=True)


if __name__ == "__main__":
    main()
