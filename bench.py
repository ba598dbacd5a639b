#!/usr/bin/env python
"""Benchmark harness — times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output protocol (BENCH_r02/r03 were both lost to the consumer's
bounded tail capture, so the detail and the summary are separated):

1. The full per-query timing map is written to ``BENCH_LOCAL.json``
   next to this script (committed per round for diffing) AND printed
   on its own stdout line first, so a full capture still has it.
2. The LAST stdout line is a compact summary — no per-query map —
   guaranteed to fit any bounded tail window:
   ``{"metric": "total_query_wall_time", "value": N, "unit": "sec",
   "sf": N, "n_queries": N, "n_errors": N}``

Execution is forced with the noop sink (full pipeline, no driver
collect), matching how a production job would consume the result.

Arbitration rule (VERDICT r10 #3): a full run lists
``arbitrate_suspects`` — queries >2x their r01 time or >1.5x the
previous committed BENCH_LOCAL.json figure, with >1 s current cost.
Before the round snapshot, give each suspect ONE solo re-time in a
fresh session (``SPARK_GRAFT_BENCH_ONLY=q1,q2 python bench.py``); the
solo run merges its figures into BENCH_LOCAL.json under ``"solo"``,
next to the in-run figures, so the judge can read both.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from smile_spark import get_spark


def _force(df) -> None:
    """Execute the full plan without driver-side materialization."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    # periodicGC: the ContextCleaner only releases executor-side
    # shuffle files / broadcasts when the DRIVER JVM garbage-collects
    # the referencing objects — with a 64g heap a ~15-minute 158-query
    # run may see no full GC at all, so state accumulates across the
    # whole suite and inflates late-run timings (the r05 1.31x
    # common-slice drift was measured WITH min-of-2 already in place,
    # i.e. systematic, not noise).  A 60s periodic GC bounds that
    # accumulation; per-query cost is unaffected.
    spark = get_spark(
        app_name="smile-spark-bench",
        extra_conf={"spark.cleaner.periodicGC.interval": "60s"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    all_queries = entry_mod.queries()
    queries = all_queries
    # SPARK_GRAFT_BENCH_ONLY: comma-separated query names — run just
    # that subset (attribution tool: re-time an old round's exact query
    # set in a fresh session to separate suite-breadth session load
    # from per-query code changes).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    # parsed ONCE and shared with _build_wanted below: build pseudo-
    # names (lsh_pairs_build etc.) are selected by exact membership in
    # the same set as registered queries, never by substring matching
    # on the raw env string (ADVICE r11 #2)
    keep = (
        {n.strip() for n in only.split(",") if n.strip()} if only else set()
    )
    if only:
        queries = {n: f for n, f in queries.items() if n in keep}
    # Untimed warmup lap over the FULL query list: session-age effects
    # (JIT/codegen warm-up, broadcast/shuffle machinery, pagecache) made
    # start-of-session queries read 1.6-3.4x slower than the same query
    # at session end (BENCH_r06 drift_control end/start 0.29-0.64), so
    # whatever ran first each round looked inflated.  One full untimed
    # lap puts every timed sample — and the start-side drift controls —
    # in a warm session; min-of-2 below then only filters residual
    # noise.  Fault-isolated: a red query is recorded during the timed
    # passes, never here.
    for name, fn in sorted(queries.items()):
        try:
            _force(fn(spark, sf_dir))
        except Exception:  # noqa: BLE001 — timed passes record the error
            continue

    # Drift control: a fixed set of cheap, code-stable queries timed
    # right after the warmup lap and again after the timing passes.
    # With the warmup lap in place the end/start ratio should sit near
    # 1.0; a drifting ratio means late-run numbers carry session-age
    # overhead and round-over-round comparisons must use the control
    # ratio as the error bar (VERDICT r05 What's-wrong #2: unchanged
    # sub-second queries "regressed" 1.7-2.0x — attribution, not
    # assertion).
    control_names = [
        "scan_filter_count", "groupby_count", "rollup_summary",
        "set_ops_all", "source_temperature_mix", "seasonality_profile",
        "price_histogram", "conditional_aggs",
    ]
    controls: dict[str, dict[str, float]] = {}

    def run_controls(tag: str) -> None:
        for cname in control_names:
            t0 = time.perf_counter()
            try:
                _force(all_queries[cname](spark, sf_dir))
            except Exception:  # noqa: BLE001 — control must not kill bench
                continue
            controls.setdefault(cname, {})[tag] = round(
                time.perf_counter() - t0, 4
            )

    if only:
        # The subset warmup lap covers only the asked-for queries,
        # leaving the drift controls COLD — the r13 solo-arbitration
        # attempt drift-flagged purely because its "start" controls
        # timed a cold session (1.24 s vs 0.39 at the end) and the
        # retime had to be discarded.  Warm the controls untimed so a
        # solo run's controls measure the same warm session the full
        # run's do (the full warmup lap already covers them there).
        # THREE passes: codegen-heavy queries need 2-3 invocations to
        # reach steady state (the round-6 JIT lesson), and a subset
        # session has none of the full lap's ambient warm-up — one
        # pass still left the start controls ~2x their settled time.
        for _ in range(3):
            for cname in control_names:
                try:
                    _force(all_queries[cname](spark, sf_dir))
                except Exception:  # noqa: BLE001 — must not kill run
                    continue

    run_controls("start")

    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}

    from smile_spark.operators import dedup as _dedup
    from smile_spark.operators import graph as _graph
    from smile_spark.operators import labels as _labels
    from smile_spark.operators import multimodal as _mm
    from smile_spark.operators import similarity as _sim

    def _build_wanted(bname: str) -> bool:
        # cold *_build entries price session memos — always in a full
        # run, but a solo arbitration subset should pay only for what
        # it asked for (exact membership in the parsed keep set)
        return (not only) or bname in keep

    # Memo-cold passes per cold entry.  In a FULL run the untimed
    # warmup lap has already invoked every build's consumer once, so
    # two memo-cold passes put the min at the third session invocation
    # — near codegen steady state.  A SUBSET run has no such lap: its
    # first pass is ALSO the first-ever invocation and pays 1.3-1.6x
    # of JIT warm-up (lpa_build solo read 11.5 s where the settled
    # figure is 7.4-8.0), so give subset loops a third memo-cold pass
    # to land the min at the same session invocation a full run times.
    _build_passes = 3 if only else 2

    def _sf(fn):
        return lambda: fn(spark, sf_dir)

    def _forced(fn):
        return lambda: _force(fn(spark, sf_dir))

    def _restored(clear_fn, restore_fn):
        return lambda: (clear_fn(), restore_fn(spark, sf_dir))

    def _image(fn):
        return lambda s, d: fn(s, d, "image")

    # The cold entries: (name, untimed prep, timed call).  They run
    # BEFORE the main passes and leave every memo and persisted state
    # warm, so the registered entries that read them time their own
    # work (a production run builds each once and reuses it).
    # - *_pairs_build / lpa_build / oriented_build / video_hashes_build:
    #   clear a per-application memo, then time its cold build (the
    #   registered entry alone would read the memo — r04 priced LSH at
    #   0.019 s, a cache read).  The clears also unpersist the
    #   discarded build's checkpoints (ADVICE r08 #4).  The cross-modal
    #   pairs run after the video hash memo is warm, isolating the
    #   cross-modal work.
    # - *_index_build: clear the persisted index's memo AND sidecar (so
    #   it really rebuilds), then time the corpus-linear build; the
    #   registered *_incremental entries then time the probe.
    # - *_rollforward: a fold is a one-way append, so restore the
    #   pre-fold BASE state untimed, then time the fold alone.
    cold_entries = [
        ("lsh_pairs_build", _dedup.clear_lsh_cache,
         _forced(_dedup.dedup_minhash_lsh)),
        ("lpa_build", _graph.clear_lpa_cache,
         _forced(_graph.label_propagation)),
        ("oriented_build", _graph.clear_copurchase_cache,
         _forced(_graph._copurchase_oriented_cached)),
        ("dhash_pairs_build", _mm.clear_dhash_cache,
         _forced(_mm.image_dhash_dedup)),
        ("audio_pairs_build", _mm.clear_audio_cache,
         _forced(_mm.audio_fingerprint_dedup)),
        ("setsim_index_build", _dedup.clear_setsim_index_cache,
         _sf(_dedup.setsim_index_build)),
        # the eager localCheckpoint materializes at call time, so the
        # call IS the build
        ("video_hashes_build", _mm.clear_video_hash_cache,
         _sf(_mm.video_frame_hashes_cached)),
        ("crossmodal_pairs_build", _mm.clear_crossmodal_cache,
         _forced(_mm.crossmodal_image_video_dedup)),
        ("dhash_index_build", _mm.clear_dhash_index_cache,
         _sf(_mm.dhash_index_build)),
        ("audio_index_build", _mm.clear_audio_index_cache,
         _sf(_mm.audio_index_build)),
        ("minhash_index_build", _dedup.clear_minhash_index_cache,
         _sf(_dedup.minhash_index_build)),
        ("video_index_build", _mm.clear_video_index_cache,
         _sf(_mm.video_index_build)),
        ("semantic_index_build", _dedup.clear_semantic_index_cache,
         _sf(_dedup.semantic_index_build)),
        ("pq_index_build", _sim.clear_pq_index_cache,
         _sf(_sim.pq_index_build)),
        ("setsim_rollforward",
         _restored(_dedup.clear_setsim_roll_cache,
                   _dedup.setsim_roll_restore_base),
         _sf(_dedup.setsim_index_rollforward)),
        ("dhash_rollforward",
         _restored(_mm.clear_dhash_roll_cache,
                   _image(_mm.band_roll_restore_base)),
         _sf(_image(_mm.band_index_rollforward))),
        ("minhash_rollforward",
         _restored(_dedup.clear_minhash_roll_cache,
                   _dedup.minhash_roll_restore_base),
         _sf(_dedup.minhash_index_rollforward)),
        ("semantic_rollforward",
         _restored(_dedup.clear_semantic_roll_cache,
                   _dedup.semantic_roll_restore_base),
         _sf(_dedup.semantic_index_rollforward)),
    ]

    # The cluster-label lifecycle (operators/labels.py), priced per
    # LabelRung in three cold entries named after the rung, each a
    # restore-then-time pass:
    # - {name}_label_build: the read-only base labels (base pairs +
    #   cc + bucketed write), left warm so the registered live-fold
    #   entries (*_clusters_incremental) time the fold alone;
    # - {name}_labelroll: restore the roll's base state untimed, then
    #   time the collapse + cc + delta append *_labels_rolled reads;
    # - {name}_compact: restore and fold untimed, then time the
    #   amortized corpus-linear rewrite labels.compact_if_needed
    #   triggers once the delta grows past policy.
    # The roll clears are ROLL-ONLY: wiping the read-only base memo
    # would force the live-fold entries to rebuild it inside their
    # timed pass.  The semantic verdict roll is not a LabelRung and
    # keeps its own restore and fold.  Entries run phase by phase
    # (every build, then every fold, then every compaction), so each
    # compaction still runs after all folds have warmed the session.
    def _rung_entries(rung) -> tuple:
        def restore() -> None:
            _labels.clear_label_state(rung, which="roll")
            _labels.roll_restore_base(spark, sf_dir, rung)

        def restore_and_fold() -> None:
            restore()
            _labels.label_rollforward(spark, sf_dir, rung)

        return (
            (
                f"{rung.name}_label_build",
                lambda: _labels.clear_label_state(rung, which="ro"),
                lambda: _labels.label_index_build(spark, sf_dir, rung),
            ),
            (
                f"{rung.name}_labelroll",
                restore,
                lambda: _labels.label_rollforward(spark, sf_dir, rung),
            ),
            (
                f"{rung.name}_compact",
                restore_and_fold,
                lambda: _labels.label_compact(spark, sf_dir, rung),
            ),
        )

    builds, rolls, compacts = zip(
        *(
            _rung_entries(rung)
            for rung in (
                *_mm.LABEL_RUNGS.values(),
                _dedup.TEXT_LABEL_RUNG,
                _mm.CROSSMODAL_LABEL_RUNG,
            )
        )
    )
    cold_entries += [
        *builds,
        *rolls,
        (
            "semantic_labelroll",
            _restored(_dedup.clear_semantic_label_cache,
                      _dedup.semantic_label_restore_base),
            _sf(_dedup.semantic_label_rollforward),
        ),
        *compacts,
    ]
    for bname, prep_fn, timed_fn in cold_entries:
        for _ in range(_build_passes if _build_wanted(bname) else 0):
            try:
                prep_fn()
            except Exception as exc:  # noqa: BLE001 — must survive
                errors[bname] = f"{type(exc).__name__}: {exc}"[:500]
                break
            t0 = time.perf_counter()
            try:
                timed_fn()
            except Exception as exc:  # noqa: BLE001 — must survive
                errors[bname] = f"{type(exc).__name__}: {exc}"[:500]
                break
            samples.setdefault(bname, []).append(
                round(time.perf_counter() - t0, 4)
            )

    # Two passes, min per query: the first pass doubles as per-query
    # warmup (code cache, shuffle-file reuse is disabled by noop's
    # overwrite, OS pagecache), the min filters GC/scheduler noise so
    # round-over-round numbers are comparable.
    # Per-query fault isolation: one red query must never cost the
    # timings of the other ~90 (BENCH_r02 was lost exactly that way).
    # A failed query records its error string and the run continues;
    # the final JSON line is ALWAYS emitted.
    def time_one(name: str, fn) -> None:
        if name in errors:
            return
        t0 = time.perf_counter()
        try:
            _force(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — harness must survive
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            samples.pop(name, None)
            return
        samples.setdefault(name, []).append(
            round(time.perf_counter() - t0, 4)
        )

    for _pass in range(2):
        for name, fn in sorted(queries.items()):
            time_one(name, fn)
    # Queries whose two samples disagree badly were hit by host-load /
    # GC noise in at least one pass — give exactly those one more
    # sample so the min is trustworthy without re-running everything.
    for name, fn in sorted(queries.items()):
        s = samples.get(name)
        if s and max(s) > 1.3 * min(s) and min(s) > 0.2:
            time_one(name, fn)
    # HEAVY queries decay over MORE than three invocations (setsim at
    # sf0.1 measured 25.2 -> 17.6 -> 15.5 -> 11.4 -> 13.5 s across five
    # back-to-back runs: codegen/JIT warm-up, not noise — and because
    # consecutive mid-decay samples agree within 1.3x, the retry rule
    # above never fires).  Give anything still above the heavy
    # threshold two extra timed samples so its min sits at steady
    # state; costs ~30 s of bench time on the one or two queries this
    # touches, and removes the 14-21 s round-over-round wobble that
    # kept tripping the +/-20% stabilization bar.
    HEAVY_SEC = 8.0
    for name, fn in sorted(queries.items()):
        s = samples.get(name)
        if s and min(s) > HEAVY_SEC:
            time_one(name, fn)
            time_one(name, fn)

    def _median(vals: list[float]) -> float | None:
        if not vals:
            return None
        s = sorted(vals)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    def _trimmed_median(vals: list[float]) -> float | None:
        # Drop the single largest control before taking the median:
        # one GC/scheduler blowout in an 8-query control block
        # (BENCH_r08: rollup_summary 0.87 -> 6.30 s in the end block)
        # dragged value_norm_end 1.6x away from value_norm_start and
        # made the two normalized figures useless for cross-box
        # comparison (VERDICT r08 next-round #3).  The median is
        # already robust to the value itself; trimming bounds a
        # single blowout's influence on the median's position (the
        # value-rank trim can drop a DIFFERENT control at each end,
        # so the two medians are not guaranteed to cover the same
        # sample set — ADVICE r09 #2).
        if not vals:
            return None
        s = sorted(vals)
        if len(s) > 2:
            s = s[:-1]
        return _median(s)

    def _controls_drift_ok() -> bool | None:
        meds = []
        for tag in ("start", "end"):
            med = _trimmed_median(
                [c[tag] for c in controls.values() if tag in c]
            )
            if med:
                meds.append(med)
        if len(meds) < 2:
            return None
        lo, hi = sorted(meds)
        return bool(hi <= 1.25 * lo)

    run_controls("end")

    # Drift re-run rule (VERDICT r09 next-round #5): when the end-side
    # control median disagrees with the start side by >25%, the
    # session speed shifted mid-run and every per-query figure carries
    # wide error bars — a drift-flagged run must never be the round's
    # only number.  Give every query ONE more timed pass on the
    # now-settled session (min() absorbs it; ~90 s at sf0.1), then
    # re-measure the end controls; drift_retried records that the
    # rule fired regardless of whether the retry cleared the flag.
    drift_retried = False
    if _controls_drift_ok() is False:
        drift_retried = True
        # Preserve the drifted end-side control timings that triggered
        # the retry (ADVICE r10): the re-measure below overwrites the
        # "end" tag, and without this the recorded evidence of the
        # original drift magnitude would be lost.
        for c in controls.values():
            if "end" in c:
                c["end_preretry"] = c["end"]
        for name, fn in sorted(queries.items()):
            time_one(name, fn)
        run_controls("end")

    timings = {name: min(s) for name, s in samples.items() if s}

    total = round(sum(timings.values()), 4)
    # Control-normalized totals: total wall time divided by the median
    # drift-control time (start-side and end-side).  The drift
    # controls are fixed, cheap, code-stable queries, so the median is
    # a pure machine/session-speed unit — the driver's bench box runs
    # ~2.5x slower than a builder-local box on identical commits, and
    # round-over-round verdicts must compare THESE figures, not raw
    # seconds (VERDICT r07 next-round #7).
    norm = {}
    meds: dict[str, float] = {}
    for tag in ("start", "end"):
        med = _trimmed_median(
            [c[tag] for c in controls.values() if tag in c]
        )
        if med:
            meds[tag] = med
            norm[f"value_norm_{tag}"] = round(total / med, 2)
            norm[f"control_median_{tag}"] = round(med, 4)
    # drift_ok: the two control medians agree within 25%, i.e. the
    # session ran at one machine speed and either normalized figure
    # can arbitrate a cross-box comparison.  False flags the run as
    # speed-drifted — compare raw per-query times with wide error
    # bars instead of trusting value_norm_*.
    if len(meds) == 2:
        lo, hi = sorted(meds.values())
        norm["drift_ok"] = bool(hi <= 1.25 * lo)
    detail = {
        "metric": "total_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "drift_control": controls,
        "drift_retried": drift_retried,
        "sf": sf,
        **norm,
    }
    if errors:
        detail["errors"] = errors
    # Per-query arbitration rule (VERDICT r10 next-round #3): a query
    # >2x its r01 time, or >1.5x its previous-round time, with >1 s
    # current cost, cannot be trusted from an in-run figure alone —
    # session load, suite growth, and box speed all move individual
    # numbers.  List the suspects so the round checklist gives each
    # ONE solo re-time in a fresh session (SPARK_GRAFT_BENCH_ONLY=...)
    # before the snapshot; the solo run merges its figures into this
    # file under "solo", next to the in-run figure.
    repo_dir = os.path.dirname(os.path.abspath(__file__))

    def _round_queries(path: str) -> dict[str, float]:
        try:
            with open(os.path.join(repo_dir, path)) as f:
                d = json.load(f)
            d = d.get("parsed", d)
            if d.get("sf") != sf:
                return {}
            return d.get("queries") or {}
        except (OSError, ValueError):
            return {}

    r01 = _round_queries("BENCH_r01.json")
    # previous round's full per-query map = the committed
    # BENCH_LOCAL.json (read before this run overwrites it below);
    # the BENCH_r{N}.json snapshots only keep the compact summary.
    prev = _round_queries("BENCH_LOCAL.json")
    suspects = sorted(
        name
        for name, t in timings.items()
        if t > 1.0
        and (
            (name in r01 and t > 2.0 * r01[name])
            or (name in prev and t > 1.5 * prev[name])
        )
    )
    if not only and suspects:
        detail["arbitrate_suspects"] = suspects
    # Full map: committed file first (survives any stdout truncation),
    # then its own stdout line for full-capture consumers.
    # Subset runs are attribution experiments — never clobber the
    # committed full-suite detail file.
    detail_name = "BENCH_SUBSET.json" if only else "BENCH_LOCAL.json"
    local_path = os.path.join(repo_dir, detail_name)
    try:
        with open(local_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        pass  # read-only checkout must not kill the bench
    if only:
        # a solo re-time is the arbitration verdict for its queries —
        # record each figure NEXT TO the in-run figure in the
        # committed full-suite detail (merge, never clobber), at the
        # matching SF only.
        full_path = os.path.join(repo_dir, "BENCH_LOCAL.json")
        try:
            with open(full_path) as f:
                full = json.load(f)
            if full.get("sf") == sf:
                solo = full.setdefault("solo", {})
                solo.update(timings)
                with open(full_path, "w") as f:
                    json.dump(full, f, indent=1, sort_keys=True)
                    f.write("\n")
        except (OSError, ValueError):
            pass
    print(json.dumps(detail))
    sys.stdout.flush()
    # LAST line is compact — it must survive a bounded tail capture
    # (BENCH_r02/r03 were both lost when the 123-query map pushed the
    # JSON start past the consumer's tail window).
    summary = {
        "metric": "total_query_wall_time",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "detail_file": "BENCH_LOCAL.json",
        "drift_retried": drift_retried,
        "n_arbitrate": len(suspects) if not only else 0,
        **norm,
    }
    print(json.dumps(summary))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
