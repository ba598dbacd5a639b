"""Round-13 second-wave additions: the VIDEO third of the perceptual
band-index family (video_index_build + video_dhash_incremental) and
the embedding-modality incremental rung (semantic_index_build +
semantic_dedup_incremental) — completing the persisted-index /
daily-probe story across text, image, audio, video, and embeddings."""

import json

import pytest  # noqa: F401


# ---------------------------------------------------------------------------
# Persisted video frame-band index + incremental probe
# ---------------------------------------------------------------------------


def test_video_dhash_incremental_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.multimodal import (
        VIDEO_DHASH_INCREMENTAL_SQL,
        video_dhash_incremental,
    )
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        assert_matches_oracle(
            spark,
            video_dhash_incremental,
            VIDEO_DHASH_INCREMENTAL_SQL,
            d,
        )


def test_video_incremental_agrees_with_tolerant_restricted(spark, sf_dir):
    """The incremental probe must emit EXACTLY the tolerant rung's
    video pairs restricted to (probe, base) pairs, with identical
    n_close and min_hamming — the image/audio agreement contract at
    video granularity."""
    from smile_spark.operators.multimodal import (
        DHASH_INC_MOD,
        video_dhash_incremental,
        video_dhash_tolerant,
    )

    full = video_dhash_tolerant(spark, sf_dir).collect()
    restricted = set()
    for r in full:
        pa, pb = r.a % DHASH_INC_MOD == 0, r.b % DHASH_INC_MOD == 0
        if pa and not pb:
            restricted.add((r.a, r.b, r.n_close, r.min_hamming))
        elif pb and not pa:
            restricted.add((r.b, r.a, r.n_close, r.min_hamming))
    inc = {
        (r.a, r.b, r.n_close, r.min_hamming)
        for r in video_dhash_incremental(spark, sf_dir).collect()
    }
    assert inc == restricted
    # non-degenerate at the 500-doc fixture floor (52 pairs measured)
    assert inc


def test_video_index_adoption_is_modality_scoped(spark, sf_dir, monkeypatch):
    """The video index lives in the same shared band-index core as
    image/audio: clearing it must not evict the image memo, and a
    fresh session (memo cleared, sidecar + catalog intact) adopts
    without running a single write job."""
    from smile_spark.operators import multimodal as M
    from smile_spark.sources import bucketed as BK

    M.clear_dhash_index_cache()
    M.clear_video_index_cache()
    M.dhash_index_build(spark, sf_dir)
    tbl_v = M.video_index_build(spark, sf_dir)
    app = spark.sparkContext.applicationId
    assert BK.state_ready(spark, M.BAND_INDEX["image"], sf_dir)
    assert BK.state_ready(spark, M.BAND_INDEX["video"], sf_dir)
    M.clear_video_index_cache()
    assert BK.state_ready(spark, M.BAND_INDEX["image"], sf_dir)
    assert not BK.state_ready(spark, M.BAND_INDEX["video"], sf_dir)
    # sidecar gone -> full rebuild; then fresh-session adoption
    M.video_index_build(spark, sf_dir)
    BK.forget_state(M.BAND_INDEX["video"])
    writes = []
    real_write = BK.write_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    assert M.video_index_build(spark, sf_dir) == tbl_v
    assert writes == [], "adoption ran a rebuild job"


# ---------------------------------------------------------------------------
# Persisted SemDeDup assignment index + incremental probe
# ---------------------------------------------------------------------------


def test_semantic_dedup_incremental_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.dedup import (
        SEMANTIC_DEDUP_INCREMENTAL_SQL,
        semantic_dedup_incremental,
    )
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        assert_matches_oracle(
            spark,
            semantic_dedup_incremental,
            SEMANTIC_DEDUP_INCREMENTAL_SQL,
            d,
        )


def test_semantic_incremental_is_nondegenerate(spark, sf_dir):
    """The probe must find tau-pairs spanning MORE THAN ONE cluster
    of the nightly model — a single-cluster (or empty) result would
    mean the base-block centroid restriction degenerated the
    assignment and the rung stopped exercising the cid-keyed join."""
    from smile_spark.operators.dedup import semantic_dedup_incremental

    rows = semantic_dedup_incremental(spark, sf_dir).collect()
    assert rows, "no tau-pairs at the fixture floor"
    cids = {r.cid for r in rows}
    assert len(cids) > 1, f"all pairs in one cluster: {cids}"
    # pair sides respect the probe/base split
    from smile_spark.operators.dedup import SEM_INC_MOD

    assert all(
        r.a % SEM_INC_MOD == 0 and r.b % SEM_INC_MOD != 0 for r in rows
    )


def test_semantic_index_adoption_and_stale_sidecar(
    spark, sf_dir, monkeypatch
):
    """Fresh-session adoption runs zero write jobs; a stale sidecar
    (snapshot fingerprint changed) forces the drop-and-rebuild path —
    the setsim_index_build contract on the semantic index."""
    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.clear_semantic_index_cache()
    tbl = D.semantic_index_build(spark, sf_dir)
    # fresh session: only the per-process memo is gone
    BK.forget_state(D.SEM_INDEX)
    writes = []
    real_write = BK.write_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    assert D.semantic_index_build(spark, sf_dir) == tbl
    assert writes == [], "adoption ran a rebuild job"
    # the adopted index actually serves the probe
    assert D.semantic_dedup_incremental(spark, sf_dir).count() > 0
    # stale sidecar: pretend the snapshot grew
    path = BK.sidecar_path(spark, tbl)
    with open(path) as fh:
        payload = json.load(fh)
    payload["base_rows"] += 1
    with open(path, "w") as fh:
        json.dump(payload, fh)
    BK.forget_state(D.SEM_INDEX)
    assert D.semantic_index_build(spark, sf_dir) == tbl
    assert len(writes) == 1, "stale sidecar must trigger a rebuild"


# ---------------------------------------------------------------------------
# Memoized cross-modal pair table (the dhash_pairs_build contract)
# ---------------------------------------------------------------------------


def test_crossmodal_pair_memo_contract(spark, sf_dir):
    """One banded cross-modal join per (application, sf_dir): repeat
    calls return the same checkpointed pair table; clearing evicts
    the memo but defers the block release until the last live
    reference drops (ADVICE r13 #3 — a consumer returned before the
    clear keeps evaluating); a rebuild yields identical pairs; the
    joint clusters op reads the memo."""
    import gc as _gc

    from smile_spark.operators import multimodal as M

    M.clear_crossmodal_cache()
    a = M.crossmodal_image_video_dedup(spark, sf_dir)
    assert M.crossmodal_image_video_dedup(spark, sf_dir) is a
    rows = {tuple(r) for r in a.collect()}
    assert rows, "cross-modal pairs degenerate at the fixture floor"
    # the clusters op must consume the memo, not rebuild
    n_clusters = M.crossmodal_dedup_clusters(spark, sf_dir).count()
    assert n_clusters > 0
    _gc.collect()
    jsc = spark.sparkContext._jsc.sc()
    n0 = jsc.getPersistentRDDs().size()
    M.clear_crossmodal_cache()
    _gc.collect()
    # `a` is still referenced here — the deferred release must NOT
    # have freed the blocks, and the stale consumer still evaluates
    assert jsc.getPersistentRDDs().size() == n0, (
        "clear_crossmodal_cache must defer the release while a"
        " consumer still holds the pair table"
    )
    assert {tuple(r) for r in a.collect()} == rows, (
        "stale consumer failed after a mid-session cache clear"
    )
    del a
    _gc.collect()
    assert jsc.getPersistentRDDs().size() < n0, (
        "dropping the last reference released no checkpointed blocks"
    )
    b = M.crossmodal_image_video_dedup(spark, sf_dir)
    assert {tuple(r) for r in b.collect()} == rows
