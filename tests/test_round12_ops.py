"""Round-12 additions: scratch-dir cleanup, keep-alive centralization,
final-checkpoint release in kcore/bfs, the dHash pair-table memo +
skew-salted band join, the audio fingerprint rung, the persisted
incremental-setsim index, and the Hamming-tolerant video rung."""

import gc
import os
import types

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# scratch-dir lifecycle (VERDICT r11 What's-wrong #4)
# ---------------------------------------------------------------------------


def test_csv_audit_registers_and_purges_scratch_dirs(spark, sf_dir):
    from smile_spark import session as SS
    from smile_spark.sources import text_formats as TF

    before = list(SS._SCRATCH_DIRS)
    out = TF.csv_malformed_audit(spark, sf_dir)
    row = out.collect()[0]
    assert row.n_rows == row.n_corrupt + row.n_valid
    created = [d for d in SS._SCRATCH_DIRS if d not in before]
    assert len(created) == 1 and os.path.isdir(created[0])
    # repeated invocations register (not silently leak) their dirs ...
    TF.csv_malformed_audit(spark, sf_dir).collect()
    created = [d for d in SS._SCRATCH_DIRS if d not in before]
    assert len(created) == 2
    # ... and the purge removes every registered dir from disk.
    # Purge ONLY this test's dirs: other session consumers (the IVF
    # index, earlier certificates) still hold live paths in the global
    # list, and purging those mid-session would break them — the exact
    # reason the production purge runs at interpreter exit only.
    parked = [d for d in SS._SCRATCH_DIRS if d not in created]
    SS._SCRATCH_DIRS.clear()
    SS._SCRATCH_DIRS.extend(created)
    try:
        SS._purge_scratch_dirs()
        assert not SS._SCRATCH_DIRS
        assert not any(os.path.exists(d) for d in created)
    finally:
        SS._SCRATCH_DIRS.extend(parked)


# ---------------------------------------------------------------------------
# keep_alive centralization (ADVICE r11 #4)
# ---------------------------------------------------------------------------


def test_keep_alive_stacks_and_returns_result():
    from smile_spark.session import keep_alive

    r = types.SimpleNamespace()
    p1, p2, p3 = object(), object(), object()
    assert keep_alive(r, p1) is r
    assert r._smile_keepalive == (p1,)
    # chained compositions append rather than overwrite
    keep_alive(r, p2, p3)
    assert r._smile_keepalive == (p1, p2, p3)
    # tolerates a legacy bare (non-tuple) attachment
    r2 = types.SimpleNamespace()
    r2._smile_keepalive = p1
    keep_alive(r2, p2)
    assert r2._smile_keepalive == (p1, p2)


def test_setsim_hash_agreement_uses_keep_alive(spark, sf_dir):
    from smile_spark.operators.dedup import setsim_hash_agreement

    out = setsim_hash_agreement(spark, sf_dir)
    ka = out._smile_keepalive
    assert isinstance(ka, tuple) and len(ka) == 2


# ---------------------------------------------------------------------------
# final-checkpoint release in driver-built / returned-frame loops
# (ADVICE r11 #3)
# ---------------------------------------------------------------------------


def test_kcore_peel_releases_all_checkpoints(spark, sf_dir):
    from smile_spark.operators.graph import kcore_peel

    jsc = spark.sparkContext._jsc.sc()
    kcore_peel(spark, sf_dir).collect()  # warm the co-purchase memos
    gc.collect()
    n0 = jsc.getPersistentRDDs().size()
    kcore_peel(spark, sf_dir).collect()
    gc.collect()
    n1 = jsc.getPersistentRDDs().size()
    # the profile is driver-built: a warm-memo invocation must leave
    # ZERO additional persisted RDDs behind.  <= rather than ==: other
    # frames' gc-deferred checkpoint releases can land between the two
    # measurements (observed 23 -> 21 in a full-suite run), and a
    # DECREASE is never a kcore leak — the setsim build-failure test
    # uses the same bound for the same reason.
    assert n1 - n0 <= 0, (n0, n1)


# ---------------------------------------------------------------------------
# dHash pair-table memo + skew-salted band join (VERDICT r11 #2/#3)
# ---------------------------------------------------------------------------


def test_dhash_n_salts_sizing():
    from smile_spark.operators.multimodal import _dhash_n_salts

    assert _dhash_n_salts(0) == 1
    assert _dhash_n_salts(100) == 1  # ~5k pairs: no replication overhead
    assert _dhash_n_salts(1500) == 3  # ~1.1M pairs -> 3 tasks
    assert _dhash_n_salts(10**6) == 64  # capped


def test_dhash_band_join_salted_matches_unsalted_under_flat_skew(spark):
    """Hundreds of constant-fingerprint images (flat thumbnails) land
    in ONE (band, val) bucket per band — the adversarial corpus the
    16-bit-band saturation argument does not cover.  The salted join
    must emit exactly the unsalted pair set, and the observed-skew
    sizing must engage for a bucket this hot."""
    from smile_spark.operators.multimodal import (
        _dhash_n_salts,
        _dhash_pairs_from_hashes,
    )

    n = 300
    rows = [(i, 7, 9, 11, 13) for i in range(n)]
    hashes = spark.createDataFrame(
        rows, "doc_id bigint, b0 int, b1 int, b2 int, b3 int"
    ).localCheckpoint()
    # at a test-scaled per-task bound the probe must choose > 1 salt
    assert _dhash_n_salts(n, pairs_per_task=10_000) > 1

    def run(n_salts: str) -> set:
        spark.conf.set("spark.smile.dhash.nSalts", n_salts)
        try:
            return {
                (r.a, r.b, r.hamming)
                for r in _dhash_pairs_from_hashes(hashes).collect()
            }
        finally:
            spark.conf.unset("spark.smile.dhash.nSalts")

    salted, plain = run("8"), run("1")
    assert salted == plain
    assert len(salted) == n * (n - 1) // 2
    assert all(h == 0 for _, _, h in salted)


def test_image_dhash_pair_table_is_memoized(spark, sf_dir):
    from smile_spark.operators import multimodal as M

    M.clear_dhash_cache()
    p1 = M.image_dhash_dedup(spark, sf_dir)
    assert M.image_dhash_dedup(spark, sf_dir) is p1
    # clusters consumes the memoized pair table, never a rebuild
    out = M.image_dhash_clusters(spark, sf_dir)
    assert any(k is p1 for k in out._smile_keepalive)
    assert M.image_dhash_dedup(spark, sf_dir) is p1
    del out
    gc.collect()
    M.clear_dhash_cache()
    assert not M._DHASH_PAIR_CACHE and not M._DHASH_CHECKPOINTS


def test_banded_core_equals_brute_force_on_random_fingerprints(spark):
    """The shared banded core (image, audio, and tolerant-video rungs
    all ride it) must emit EXACTLY the brute-force radius-filtered
    pair set on arbitrary fingerprint distributions — random bits,
    planted near-pairs at every distance 0..5, and duplicate values.
    Seeded trials rather than live-corpus data, so the recall claim is
    pinned independent of any fixture's geometry."""
    import numpy as np

    from smile_spark.operators.multimodal import (
        DHASH_MAX_DISTANCE,
        _dhash_pairs_from_hashes,
    )

    for seed in (1, 7, 42):
        rng = np.random.default_rng(seed)
        base = rng.integers(0, 2**63, size=24, dtype=np.int64).astype(
            np.uint64
        )
        planted = []
        for dist in range(6):
            v = int(base[dist])
            flip = rng.choice(64, size=dist, replace=False)
            w = v
            for f in flip:
                w ^= 1 << int(f)
            planted.append(w)
        vals = [int(v) for v in base] + planted + [int(base[0])]  # dup
        rows = [
            (
                i,
                (v >> 0) & 0xFFFF,
                (v >> 16) & 0xFFFF,
                (v >> 32) & 0xFFFF,
                (v >> 48) & 0xFFFF,
            )
            for i, v in enumerate(vals)
        ]
        truth = {
            (i, j, bin(vals[i] ^ vals[j]).count("1"))
            for i in range(len(vals))
            for j in range(i + 1, len(vals))
            if bin(vals[i] ^ vals[j]).count("1") <= DHASH_MAX_DISTANCE
        }
        hashes = spark.createDataFrame(
            rows, "doc_id bigint, b0 int, b1 int, b2 int, b3 int"
        ).localCheckpoint()
        got = {
            (r.a, r.b, r.hamming)
            for r in _dhash_pairs_from_hashes(hashes).collect()
        }
        assert got == truth, (seed, got ^ truth)


# ---------------------------------------------------------------------------
# audio fingerprint rung (VERDICT r11 What's-missing #1 / next-round #4)
# ---------------------------------------------------------------------------


def test_audio_fingerprint_dedup_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.multimodal import (
        AUDIO_FINGERPRINT_DEDUP_SQL,
        audio_fingerprint_dedup,
    )
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        assert_matches_oracle(
            spark, audio_fingerprint_dedup, AUDIO_FINGERPRINT_DEDUP_SQL, d
        )


def test_audio_fingerprints_are_not_degenerate(spark, sf_dir):
    """The guard the r11 verdict demanded before registering an audio
    rung: the enriched square-tone synthesis must yield MANY distinct
    fingerprints (the old sawtooth collapsed every gradient
    fingerprint to one value -> all-pairs Hamming 0), and near-dup
    pairs must be a vanishing fraction of all pairs."""
    from smile_spark.operators.multimodal import (
        audio_fingerprint_dedup,
        audio_fingerprint_frame,
    )

    fps = audio_fingerprint_frame(spark, sf_dir).collect()
    n = len(fps)
    distinct = len({(r.b0, r.b1, r.b2, r.b3) for r in fps})
    assert distinct >= n // 3, (distinct, n)
    pairs = audio_fingerprint_dedup(spark, sf_dir).count()
    all_pairs = n * (n - 1) // 2
    assert 0 < pairs < all_pairs // 20, (pairs, all_pairs)


def test_audio_fingerprint_clusters_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.multimodal import (
        AUDIO_FINGERPRINT_CLUSTERS_SQL,
        audio_fingerprint_clusters,
    )
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        assert_matches_oracle(
            spark,
            audio_fingerprint_clusters,
            AUDIO_FINGERPRINT_CLUSTERS_SQL,
            d,
        )


def test_audio_clusters_consume_the_pair_memo_and_keep_invariants(
    spark, sf_dir
):
    from smile_spark.operators import multimodal as M
    from smile_spark.tables import table

    M.clear_audio_cache()
    p1 = M.audio_fingerprint_dedup(spark, sf_dir)
    assert M.audio_fingerprint_dedup(spark, sf_dir) is p1
    out = M.audio_fingerprint_clusters(spark, sf_dir)
    assert any(k is p1 for k in out._smile_keepalive)
    rows = out.collect()
    n_aud = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .count()
    )
    # one decision row per audio doc; exactly one keeper per cluster
    assert len(rows) == n_aud
    assert all(r.cluster_size >= 1 for r in rows)
    multi = [r for r in rows if r.cluster_size > 1]
    assert multi, "fixture should contain at least one non-singleton"
    by_size_keep = {}
    for r in rows:
        if r.keep:
            by_size_keep[r.doc_id] = r.cluster_size
    assert all(r.keep for r in rows if r.cluster_size == 1)
    M.clear_audio_cache()
    assert not M._AUDIO_PAIR_CACHE and not M._AUDIO_CHECKPOINTS


def test_perceptual_keep_list_equals_brute_force_union_find(spark):
    """The shared pairs -> clusters -> keep core (both modalities ride
    it) must match a pure-python union-find on random pair sets:
    component membership, cluster sizes, min-id survivorship, and
    singleton handling."""
    import random

    from smile_spark.operators.multimodal import _perceptual_keep_list

    for seed in (3, 11):
        rng = random.Random(seed)
        n = 40
        universe = list(range(n))
        pairs = sorted(
            {
                tuple(sorted(rng.sample(universe, 2)))
                for _ in range(rng.randint(5, 25))
            }
        )
        # brute-force union-find
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        touched = {x for p in pairs for x in p}
        for x in universe:
            comp.setdefault(find(x), []).append(x)
        truth = {}
        for members in comp.values():
            size = len(members) if len(members) > 1 or (
                members[0] in touched
            ) else 1
            keeper = min(members)
            for m in members:
                truth[m] = (size, m == keeper)
        pdf = spark.createDataFrame(pairs, "a bigint, b bigint")
        uni = spark.createDataFrame(
            [(x,) for x in universe], "doc_id bigint"
        )
        got = {
            r.doc_id: (r.cluster_size, r.keep)
            for r in _perceptual_keep_list(pdf, uni).collect()
        }
        assert got == truth, (seed, {
            k: (got.get(k), truth.get(k))
            for k in universe
            if got.get(k) != truth.get(k)
        })


def test_aud_sample_sql_matches_python(spark):
    """The closed-form DuckDB expression and the encoder's numpy
    closed form are the same function (spot grid over docs/samples)."""
    import duckdb

    from smile_spark.operators.multimodal import _aud_sample, _aud_sample_sql

    rows = duckdb.sql(
        "SELECT d, j, " + _aud_sample_sql("d", "j") + " AS x"
        " FROM range(0, 500, 7) t1(d), range(0, 511, 13) t2(j)"
    ).fetchall()
    assert rows
    for d, j, x in rows:
        assert x == _aud_sample(int(d), int(j)), (d, j)


# ---------------------------------------------------------------------------
# Hamming-tolerant video rung on hi-res frames (VERDICT r11 #7)
# ---------------------------------------------------------------------------


def test_video_dhash_tolerant_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.multimodal import (
        VIDEO_DHASH_TOLERANT_SQL,
        video_dhash_tolerant,
    )
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        assert_matches_oracle(
            spark, video_dhash_tolerant, VIDEO_DHASH_TOLERANT_SQL, d
        )


def test_video_dhash_tolerant_is_not_degenerate(spark, sf_dir):
    """The guard that kept radius tolerance OFF the tiny base frames
    (radius 3 matched ~70% of ALL video pairs there): on the hi-res
    subset the tolerant pair set must be a small fraction of all
    pairs, every pair must carry 1 <= n_close <= VID_FRAMES^2, and
    min_hamming must respect the radius."""
    from smile_spark.operators.multimodal import (
        DHASH_MAX_DISTANCE,
        HIRES_MOD,
        VID_FRAMES,
        video_dhash_tolerant,
    )
    from smile_spark.tables import table

    rows = video_dhash_tolerant(spark, sf_dir).collect()
    n_vids = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % HIRES_MOD == 2)
        .count()
    )
    all_pairs = n_vids * (n_vids - 1) // 2
    assert 0 < len(rows) < all_pairs // 5, (len(rows), all_pairs)
    for r in rows:
        assert r.a < r.b
        assert 1 <= r.n_close <= VID_FRAMES * VID_FRAMES
        assert 0 <= r.min_hamming <= DHASH_MAX_DISTANCE


# ---------------------------------------------------------------------------
# persisted incremental-dedup base index (VERDICT r11 #5)
# ---------------------------------------------------------------------------


def test_setsim_incremental_indexed_agrees_with_unindexed(spark, sf_dir):
    """The indexed probe must be RESULT-IDENTICAL to the per-run
    recompute — the ann_ivf_indexed contract: only the physical access
    path (persisted bucketed base index) differs."""
    from smile_spark.operators.dedup import (
        setsim_incremental,
        setsim_incremental_indexed,
    )

    key = lambda r: (r.a, r.b, r.na, r.nb, r.i, r.jaccard)  # noqa: E731
    plain = {key(r) for r in setsim_incremental(spark, sf_dir).collect()}
    indexed = {
        key(r) for r in setsim_incremental_indexed(spark, sf_dir).collect()
    }
    assert plain == indexed and plain


def test_setsim_incremental_indexed_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.dedup import (
        SETSIM_INCREMENTAL_SQL,
        setsim_incremental_indexed,
    )
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        assert_matches_oracle(
            spark,
            setsim_incremental_indexed,
            SETSIM_INCREMENTAL_SQL,
            d,
        )


def test_setsim_index_is_built_once_and_rebuilt_on_clear(spark, sf_dir):
    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.clear_setsim_index_cache()
    t1 = D.setsim_index_build(spark, sf_dir)
    # warm: same table map, no rebuild (READY key present)
    assert D.setsim_index_build(spark, sf_dir) == t1
    assert BK.state_ready(spark, D.SETSIM_INDEX, sf_dir)
    # all four bucketed tables exist in the catalog
    for tbl in t1.values():
        assert spark.catalog.tableExists(tbl), tbl
    D.clear_setsim_index_cache()
    assert not BK.state_ready(spark, D.SETSIM_INDEX, sf_dir)
    # a rebuild after clear overwrites in place and works end-to-end
    assert D.setsim_index_build(spark, sf_dir) == t1


def test_bfs_leaves_only_the_result_frame(spark, sf_dir):
    from smile_spark.operators.graph import bfs

    jsc = spark.sparkContext._jsc.sc()
    bfs(spark, sf_dir).count()  # warm session machinery
    gc.collect()
    n0 = jsc.getPersistentRDDs().size()
    out = bfs(spark, sf_dir)
    out.count()
    gc.collect()
    n1 = jsc.getPersistentRDDs().size()
    # the returned distance table is the ONE surviving frame; the last
    # frontier and the per-call edge materialization must be released
    assert n1 - n0 <= 1, (n0, n1)
