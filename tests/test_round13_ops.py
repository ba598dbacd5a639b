"""Round-13 additions: setsim index warehouse adoption (VERDICT r12
next-round #5 + ADVICE #2/#3), the persisted perceptual fingerprint
index (#2), the persisted PQ index (#3), and the cross-modal
video-frame <-> image rung (#4)."""

import gc
import json

import pytest  # noqa: F401


# ---------------------------------------------------------------------------
# setsim_index_build: warehouse adoption sidecar (VERDICT r12 #5)
# ---------------------------------------------------------------------------


def _setsim_sidecar_path(spark, sf_dir):
    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    return BK.sidecar_path(spark, D.SETSIM_INDEX.sidecar_name(spark, sf_dir))


def test_setsim_index_adopted_by_fresh_session(spark, sf_dir, monkeypatch):
    """A second 'session' (per-process memo cleared, warehouse and
    catalog intact) must ADOPT the persisted index — zero drop/write
    jobs — instead of unconditionally rebuilding."""
    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.clear_setsim_index_cache()
    t1 = D.setsim_index_build(spark, sf_dir)
    # simulate the fresh session: only the per-process memo is gone
    BK.forget_state(D.SETSIM_INDEX)
    writes = []
    drops = []
    real_write = BK.write_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    monkeypatch.setattr(
        BK, "drop_bucketed_table", lambda *a, **k: drops.append(a)
    )
    assert D.setsim_index_build(spark, sf_dir) == t1
    assert writes == [] and drops == [], "adoption ran a rebuild job"
    # and the adopted index actually serves the probe
    assert D.setsim_incremental_indexed(spark, sf_dir).count() >= 0


def test_setsim_index_stale_sidecar_rebuilds(spark, sf_dir, monkeypatch):
    """A sidecar whose snapshot fingerprint no longer matches (the
    corpus changed under the index) must force the drop-and-rebuild
    path, never adopt."""
    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.clear_setsim_index_cache()
    t1 = D.setsim_index_build(spark, sf_dir)
    path = _setsim_sidecar_path(spark, sf_dir)
    with open(path) as fh:
        payload = json.load(fh)
    payload["base_rows"] += 1  # pretend the snapshot grew
    with open(path, "w") as fh:
        json.dump(payload, fh)
    BK.forget_state(D.SETSIM_INDEX)
    writes = []
    real_write = BK.write_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k))[1],
    )
    assert D.setsim_index_build(spark, sf_dir) == t1
    assert len(writes) == 4, "stale sidecar must trigger a full rebuild"


def test_setsim_index_build_failure_releases_checkpoints(
    spark, sf_dir, monkeypatch
):
    """ADVICE r12 #2 pin: a drop/write failure mid-build must still
    unpersist the toks/membership localCheckpoints (try/finally), so
    retries never accumulate leaked blocks."""
    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.clear_setsim_index_cache()
    jsc = spark.sparkContext._jsc.sc()
    gc.collect()
    n0 = jsc.getPersistentRDDs().size()

    def boom(*a, **k):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(BK, "write_bucketed", boom)
    with pytest.raises(RuntimeError, match="injected"):
        D.setsim_index_build(spark, sf_dir)
    gc.collect()
    n1 = jsc.getPersistentRDDs().size()
    assert n1 - n0 <= 0, (n0, n1)
    # memo must NOT be set after a failed build
    assert not BK.state_ready(spark, D.SETSIM_INDEX, sf_dir)
    # restore: a clean rebuild leaves a valid index for later tests
    monkeypatch.undo()
    D.clear_setsim_index_cache()
    D.setsim_index_build(spark, sf_dir)


# ---------------------------------------------------------------------------
# Persisted perceptual fingerprint index + incremental probe (VERDICT #2)
# ---------------------------------------------------------------------------


def test_image_dhash_incremental_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.multimodal import (
        IMAGE_DHASH_INCREMENTAL_SQL,
        image_dhash_incremental,
    )
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        assert_matches_oracle(
            spark,
            image_dhash_incremental,
            IMAGE_DHASH_INCREMENTAL_SQL,
            d,
        )


def test_image_dhash_incremental_agrees_with_full_rebuild(spark, sf_dir):
    """The incremental probe must emit EXACTLY the full pair table
    restricted to (probe, base) pairs — the agreement contract the
    r12 verdict prescribed."""
    from smile_spark.operators.multimodal import (
        DHASH_INC_MOD,
        image_dhash_dedup,
        image_dhash_incremental,
    )

    full = image_dhash_dedup(spark, sf_dir).collect()
    restricted = set()
    for r in full:
        pa, pb = r.a % DHASH_INC_MOD == 0, r.b % DHASH_INC_MOD == 0
        if pa and not pb:
            restricted.add((r.a, r.b, r.hamming))
        elif pb and not pa:
            restricted.add((r.b, r.a, r.hamming))
    inc = {
        (r.a, r.b, r.hamming)
        for r in image_dhash_incremental(spark, sf_dir).collect()
    }
    assert inc == restricted and inc


def test_dhash_index_adoption_and_stale_sidecar(spark, sf_dir, monkeypatch):
    from smile_spark.operators import multimodal as M
    from smile_spark.sources import bucketed as BK

    M.clear_dhash_index_cache()
    tbl = M.dhash_index_build(spark, sf_dir)
    app = spark.sparkContext.applicationId
    # fresh 'session' (memo cleared, warehouse + catalog intact): adopt
    BK.forget_state(M.BAND_INDEX["image"])
    writes = []
    real_write = BK.write_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    assert M.dhash_index_build(spark, sf_dir) == tbl
    assert writes == [], "adoption ran a rebuild job"
    # stale sidecar: rebuild
    path = BK.sidecar_path(spark, tbl)
    with open(path) as fh:
        payload = json.load(fh)
    payload["base_rows"] += 1
    with open(path, "w") as fh:
        json.dump(payload, fh)
    BK.forget_state(M.BAND_INDEX["image"])
    assert M.dhash_index_build(spark, sf_dir) == tbl
    assert len(writes) == 1, "stale sidecar must trigger a rebuild"


# ---------------------------------------------------------------------------
# Persisted PQ index (VERDICT #3)
# ---------------------------------------------------------------------------


def test_ann_pq_indexed_agrees_with_in_memory(spark, sf_dir):
    """Result identity with ann_pq_topk — the contract that lets the
    indexed form share ann_pq_sql()."""
    from smile_spark.operators.similarity import ann_pq_indexed, ann_pq_topk

    a = sorted(map(tuple, ann_pq_topk(spark, sf_dir).collect()))
    b = sorted(map(tuple, ann_pq_indexed(spark, sf_dir).collect()))
    assert a == b and a


def test_ann_pq_indexed_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.similarity import ann_pq_indexed, ann_pq_sql
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        assert_matches_oracle(spark, ann_pq_indexed, ann_pq_sql(), d)


def test_pq_index_adoption(spark, sf_dir, monkeypatch):
    from smile_spark.operators import similarity as S
    from smile_spark.sources import bucketed as BK

    S.clear_pq_index_cache()
    tables = S.pq_index_build(spark, sf_dir)
    BK.forget_state(S.PQ_INDEX)
    writes = []
    real_write = BK.write_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    assert S.pq_index_build(spark, sf_dir) == tables
    assert writes == [], "adoption ran a rebuild job"
    # probe serves from the adopted tables
    assert S.ann_pq_indexed(spark, sf_dir).count() > 0


# ---------------------------------------------------------------------------
# Cross-modal video-frame <-> image near-dup (VERDICT #4)
# ---------------------------------------------------------------------------


def test_crossmodal_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.multimodal import (
        CROSSMODAL_IMAGE_VIDEO_SQL,
        crossmodal_image_video_dedup,
    )
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        assert_matches_oracle(
            spark,
            crossmodal_image_video_dedup,
            CROSSMODAL_IMAGE_VIDEO_SQL,
            d,
        )


def test_crossmodal_is_nondegenerate(spark, sf_dir):
    """The rung must find real cross-modal matches without collapsing
    toward all-pairs (the measurement that kept tolerance OFF the
    exact video rung)."""
    from pyspark.sql import functions as F

    from smile_spark.operators.multimodal import (
        crossmodal_image_video_dedup,
    )
    from smile_spark.tables import table

    out = crossmodal_image_video_dedup(spark, sf_dir)
    n_pairs = out.count()
    docs = table(spark, sf_dir, "documents")
    n_img = docs.filter(F.col("doc_id") % 3 == 0).count()
    n_vid = docs.filter(F.col("doc_id") % 3 == 2).count()
    assert n_pairs > 0
    assert n_pairs < 0.5 * n_img * n_vid, (n_pairs, n_img, n_vid)
    # sanity on the aggregate semantics: every row counts >= 1 close
    # frame and min_hamming within the radius
    row = out.agg(
        F.min("n_close").alias("mn"), F.max("min_hamming").alias("mh")
    ).first()
    assert row.mn >= 1 and row.mh <= 3


# ---------------------------------------------------------------------------
# Audio fingerprint index + incremental probe (the "(then audio)" half
# of VERDICT #2; shared _band_index_build/_band_incremental core)
# ---------------------------------------------------------------------------


def test_audio_fingerprint_incremental_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.multimodal import (
        AUDIO_FINGERPRINT_INCREMENTAL_SQL,
        audio_fingerprint_incremental,
    )
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        assert_matches_oracle(
            spark,
            audio_fingerprint_incremental,
            AUDIO_FINGERPRINT_INCREMENTAL_SQL,
            d,
        )


def test_audio_incremental_agrees_with_full_rebuild(spark, sf_dir):
    """The audio probe must emit EXACTLY the full audio pair table
    restricted to (probe, base) pairs — the image-incremental
    agreement contract through the shared core."""
    from smile_spark.operators.multimodal import (
        DHASH_INC_MOD,
        audio_fingerprint_dedup,
        audio_fingerprint_incremental,
    )

    full = audio_fingerprint_dedup(spark, sf_dir).collect()
    restricted = set()
    for r in full:
        pa, pb = r.a % DHASH_INC_MOD == 0, r.b % DHASH_INC_MOD == 0
        if pa and not pb:
            restricted.add((r.a, r.b, r.hamming))
        elif pb and not pa:
            restricted.add((r.b, r.a, r.hamming))
    inc = {
        (r.a, r.b, r.hamming)
        for r in audio_fingerprint_incremental(spark, sf_dir).collect()
    }
    assert inc == restricted
    # non-empty at the fixture floor (1 probe-base pair measured at
    # the 500-doc documents table)
    assert inc


def test_audio_index_adoption_is_modality_scoped(spark, sf_dir, monkeypatch):
    """Clearing the audio index must not evict the image index memo
    (and vice versa), and adoption works through the shared core."""
    from smile_spark.operators import multimodal as M
    from smile_spark.sources import bucketed as BK

    M.clear_dhash_index_cache()
    M.clear_audio_index_cache()
    M.dhash_index_build(spark, sf_dir)
    tbl_a = M.audio_index_build(spark, sf_dir)
    app = spark.sparkContext.applicationId
    assert BK.state_ready(spark, M.BAND_INDEX["image"], sf_dir)
    assert BK.state_ready(spark, M.BAND_INDEX["audio"], sf_dir)
    # audio clear leaves the image memo alone
    M.clear_audio_index_cache()
    assert BK.state_ready(spark, M.BAND_INDEX["image"], sf_dir)
    assert not BK.state_ready(spark, M.BAND_INDEX["audio"], sf_dir)
    # the audio sidecar is gone -> full rebuild, then fresh-session
    # adoption (memo cleared, sidecar + catalog intact) runs no writes
    M.audio_index_build(spark, sf_dir)
    BK.forget_state(M.BAND_INDEX["audio"])
    writes = []
    real_write = BK.write_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    assert M.audio_index_build(spark, sf_dir) == tbl_a
    assert writes == [], "adoption ran a rebuild job"


# ---------------------------------------------------------------------------
# Persisted MinHash band index + incremental probe
# ---------------------------------------------------------------------------


def test_dedup_minhash_incremental_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.dedup import (
        MINHASH_INCREMENTAL_SQL,
        dedup_minhash_incremental,
    )
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        assert_matches_oracle(
            spark,
            dedup_minhash_incremental,
            MINHASH_INCREMENTAL_SQL,
            d,
        )


def test_minhash_incremental_agrees_with_full_rebuild(spark, sf_dir):
    """The incremental probe must emit EXACTLY the full LSH pair table
    restricted to (increment, base) pairs — same jaccard values."""
    from smile_spark.operators.dedup import (
        SETSIM_INC_MOD,
        dedup_minhash_incremental,
        dedup_minhash_lsh,
    )

    full = dedup_minhash_lsh(spark, sf_dir).collect()
    restricted = set()
    for r in full:
        pa, pb = r.a % SETSIM_INC_MOD == 0, r.b % SETSIM_INC_MOD == 0
        if pa and not pb:
            restricted.add((r.a, r.b, round(r.jaccard, 9)))
        elif pb and not pa:
            restricted.add((r.b, r.a, round(r.jaccard, 9)))
    inc = {
        (r.a, r.b, round(r.jaccard, 9))
        for r in dedup_minhash_incremental(spark, sf_dir).collect()
    }
    assert inc == restricted and inc


def test_minhash_index_adoption(spark, sf_dir, monkeypatch):
    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.clear_minhash_index_cache()
    tbl = D.minhash_index_build(spark, sf_dir)
    BK.forget_state(D.MINHASH_INDEX)
    writes = []
    real_write = BK.write_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    assert D.minhash_index_build(spark, sf_dir) == tbl
    assert writes == [], "adoption ran a rebuild job"


# ---------------------------------------------------------------------------
# Joint cross-modal clusters / keep list
# ---------------------------------------------------------------------------


def test_crossmodal_dedup_clusters_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators.multimodal import (
        CROSSMODAL_DEDUP_CLUSTERS_SQL,
        crossmodal_dedup_clusters,
    )
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, "/root/testdata/sf0.01"]:
        assert_matches_oracle(
            spark,
            crossmodal_dedup_clusters,
            CROSSMODAL_DEDUP_CLUSTERS_SQL,
            d,
        )


def test_crossmodal_clusters_cover_both_modalities(spark, sf_dir):
    """One row per image/video doc; the joint clustering must merge at
    least one cross-modal pair (a cluster containing BOTH an image and
    a video doc), and the composed frame must survive a post-gc
    re-collect (the keep_alive composer contract)."""
    import gc as _gc

    from pyspark.sql import functions as F

    from smile_spark.operators.multimodal import crossmodal_dedup_clusters
    from smile_spark.tables import table

    out = crossmodal_dedup_clusters(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    n_uni = docs.filter(
        (F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 3 == 2)
    ).count()
    rows = out.collect()
    assert len(rows) == n_uni
    kept = sum(1 for r in rows if r.keep)
    assert 0 < kept < n_uni
    # multi-doc clusters exist and at least one spans both modalities:
    # a non-keep doc whose cluster rep (min id) is the other modality
    # class is only possible when a cross pair merged them — cheap
    # proxy: some cluster_size exceeds the largest single-modality
    # cluster of the image-only decision
    from smile_spark.operators.multimodal import image_dhash_clusters

    img_max = max(
        r.cluster_size for r in image_dhash_clusters(spark, sf_dir).collect()
    )
    joint_max = max(r.cluster_size for r in rows)
    assert joint_max > img_max, (joint_max, img_max)
    # keep_alive: the parents' checkpoints must survive gc while the
    # composed frame is alive
    _gc.collect()
    assert len(out.collect()) == n_uni


def test_video_hash_memo_contract(spark, sf_dir):
    """One decode pass per (application, sf_dir): repeat calls return
    the same checkpointed frame; clear rebuilds; consumers survive a
    clear-then-recompute cycle with identical results."""
    import gc as _gc

    from smile_spark.operators import multimodal as M

    a = M.video_frame_hashes_cached(spark, sf_dir)
    assert M.video_frame_hashes_cached(spark, sf_dir) is a
    out = M.crossmodal_image_video_dedup(spark, sf_dir)
    n1 = out.count()
    del out
    _gc.collect()
    M.clear_video_hash_cache()
    # the cross-modal pair table is itself memoized now — clear it
    # too so the final call genuinely recomputes through the fresh
    # video hash memo
    M.clear_crossmodal_cache()
    b = M.video_frame_hashes_cached(spark, sf_dir)
    assert b is not a
    assert M.crossmodal_image_video_dedup(spark, sf_dir).count() == n1


def test_ivf_index_adoption(spark, sf_dir, monkeypatch):
    """The IVF index now lives at a stable warehouse path with a
    sidecar (the setsim/dhash/PQ adoption contract, path-based): a
    fresh 'session' (memo cleared) adopts the on-disk index without a
    rebuild; clear_ivf_index_cache drops the sidecar and forces one."""
    from smile_spark.operators import similarity as sim

    sim.clear_ivf_index_cache()
    p1 = sim._ivf_index_path(spark, sf_dir)
    sim._IVF_INDEX_CACHE.clear()

    def boom(*a, **k):
        raise AssertionError("rebuild ran during adoption")

    monkeypatch.setattr(sim, "ivf_build", boom)
    assert sim._ivf_index_path(spark, sf_dir) == p1
    # and the probe serves from the adopted index
    assert sim.ann_ivf_indexed(spark, sf_dir).count() > 0
    monkeypatch.undo()
    # cold path: clear drops the sidecar -> rebuild happens
    sim.clear_ivf_index_cache()
    calls = []
    real = sim.ivf_build
    monkeypatch.setattr(
        sim, "ivf_build", lambda *a, **k: (calls.append(a), real(*a, **k))
    )
    sim._ivf_index_path(spark, sf_dir)
    assert len(calls) == 1
