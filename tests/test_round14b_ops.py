"""Round-14b: LABEL-TABLE roll-forward — the delta-log update
pattern that makes the nightly cluster-label state itself
increment-linear (closing the 'Future: label-table roll-forward'
note SCALING.md r14 recorded): the base label table stays immutable,
the fold appends an increment-sized delta, readers apply the delta
as a broadcast remap, and a periodic compaction folds the delta back
into a fresh base."""

import pytest

from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.01"


def _rung(name):
    """The label rung named ``name``: a perceptual modality or text."""
    from smile_spark.operators import dedup as D
    from smile_spark.operators import multimodal as M

    return D.TEXT_LABEL_RUNG if name == "text" else M.LABEL_RUNGS[name]


@pytest.mark.parametrize("modality", ["image", "audio", "video"])
def test_labels_rolled_agrees_with_incremental(spark, sf_dir, modality):
    """The keep list served from the persisted base + delta must be
    row-identical to the live fold (`*_clusters_incremental`) — both
    are views of the same joint clustering, through different
    physical state.  The delta must also be increment-sized: the
    whole point is that the nightly append never touches a base
    row."""
    from smile_spark.operators import labels as L
    from smile_spark.operators import multimodal as M
    from smile_spark.sources.bucketed import read_bucketed

    rung = _rung(modality)
    rolled = {
        tuple(r) for r in L.labels_rolled(spark, sf_dir, rung).collect()
    }
    live = {
        tuple(r)
        for r in L.clusters_incremental(spark, sf_dir, rung).collect()
    }
    assert rolled == live
    tables = L.roll_tables(rung, sf_dir)
    n_delta = read_bucketed(spark, tables["delta"]).count()
    n_base = read_bucketed(spark, tables["labels"]).count()
    sub_mod, sub_res, _ = M._BAND_MODALITY[modality]
    from smile_spark.tables import table

    n_inc = (
        table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % sub_mod == sub_res)
            & (F.col("doc_id") % M.DHASH_INC_MOD == 0)
        )
        .count()
    )
    # delta nodes = increment docs in pairs + touched supernodes; each
    # increment doc touches at most one supernode per pair partner —
    # bounded by the pair count, never by the corpus
    n_pairs = M._doc_pair_edges(
        M._band_incremental(spark, sf_dir, modality), modality
    ).count()
    assert n_delta <= n_inc + n_pairs, (n_delta, n_inc, n_pairs)
    if modality != "video":  # video's tiny hi-res increment block can
        #                      be pair-free at the fixture floor
        assert n_delta > 0
    assert n_base > 0


@pytest.mark.parametrize("modality", ["image", "audio", "video"])
def test_labels_rolled_matches_oracle_two_sfs(spark, modality, sf_dir):
    from smile_spark.operators import multimodal as M
    from smile_spark.testing import assert_matches_oracle

    fn = {
        "image": M.image_labels_rolled,
        "audio": M.audio_labels_rolled,
        "video": M.video_labels_rolled,
    }[modality]
    sql = {
        "image": M.IMAGE_LABELS_ROLLED_SQL,
        "audio": M.AUDIO_LABELS_ROLLED_SQL,
        "video": M.VIDEO_LABELS_ROLLED_SQL,
    }[modality]
    for d in [sf_dir, SF001]:
        assert_matches_oracle(spark, fn, sql, d)


def test_video_dhash_clusters_matches_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators import multimodal as M
    from smile_spark.testing import assert_matches_oracle

    for d in [sf_dir, SF001]:
        assert_matches_oracle(
            spark,
            M.video_dhash_clusters,
            M.VIDEO_DHASH_CLUSTERS_SQL,
            d,
        )


def test_video_clusters_incremental_agrees_with_full_rebuild(
    spark, sf_dir
):
    """The collapsed-graph fold over VIDEO-level edges must produce
    exactly the clusters a full rebuild over the joint pair set
    (base-internal ∪ probe↔base video pairs) produces — the image
    agreement test's video twin, through the _doc_pair_edges
    collapse."""
    from smile_spark.operators import multimodal as M
    from smile_spark.tables import table

    got = {
        tuple(r)
        for r in M.video_clusters_incremental(spark, sf_dir).collect()
    }
    base_pairs = M._doc_pair_edges(
        M._dhash_pairs_from_hashes(
            M.hires_frame_hashes(
                spark, sf_dir, F.col("doc_id") % M.DHASH_INC_MOD != 0
            )
        ),
        "video",
    )
    inc_pairs = M._doc_pair_edges(
        M._band_incremental(spark, sf_dir, "video"), "video"
    )
    universe = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % M.HIRES_MOD == 2)
        .select("doc_id")
    )
    want = {
        tuple(r)
        for r in M._perceptual_keep_list(
            base_pairs.union(inc_pairs), universe
        ).collect()
    }
    assert got == want


def test_labelroll_rolled_adoption(spark, sf_dir, monkeypatch):
    """A fresh 'session' (memo cleared, warehouse intact) must adopt
    the ROLLED label state without any drop/write/append job, and the
    reader must still serve from the adopted tables."""
    from smile_spark.operators import labels as L
    from smile_spark.operators import multimodal as M
    from smile_spark.sources import bucketed as BK

    rung = _rung("image")
    L.label_rollforward(spark, sf_dir, rung)
    BK.forget_state(rung.roll)
    jobs = []
    monkeypatch.setattr(
        BK, "write_bucketed", lambda *a, **k: jobs.append(a)
    )
    monkeypatch.setattr(
        BK, "append_bucketed", lambda *a, **k: jobs.append(a)
    )
    monkeypatch.setattr(
        BK, "drop_bucketed_table", lambda *a, **k: jobs.append(a)
    )
    L.label_rollforward(spark, sf_dir, rung)
    assert jobs == [], "rolled adoption ran a rebuild/fold job"
    assert M.image_labels_rolled(spark, sf_dir).count() > 0


def test_labelroll_stale_params_full_rebuild(spark, sf_dir, monkeypatch):
    """A sidecar whose parameters no longer match (here: a dHash grid
    change — re-banding shifts every cluster boundary) must force the
    FULL base rebuild (2 writes: labels + empty delta) before folding
    (1 append) — never adopt, never fold over unknown state."""
    import json

    from smile_spark.operators import labels as L
    from smile_spark.sources import bucketed as BK

    rung = _rung("image")
    L.label_rollforward(spark, sf_dir, rung)
    path = BK.sidecar_path(spark, L._roll_sidecar_name(rung, sf_dir))
    with open(path) as fh:
        payload = json.load(fh)
    payload["grid"] = [7, 6]  # a PARAMETER changed, not the snapshot
    with open(path, "w") as fh:
        json.dump(payload, fh)
    BK.forget_state(rung.roll)
    writes, appends = [], []
    real_write = BK.write_bucketed
    real_append = BK.append_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    monkeypatch.setattr(
        BK,
        "append_bucketed",
        lambda *a, **k: (appends.append(a), real_append(*a, **k)),
    )
    L.label_rollforward(spark, sf_dir, rung)
    assert len(writes) == 2, "stale sidecar must trigger a full rebuild"
    assert len(appends) == 1, "the rebuild must still fold the increment"
    with open(path) as fh:
        assert json.load(fh)["state"] == "rolled"


def test_labelroll_fold_failure_never_adoptable(
    spark, sf_dir, monkeypatch
):
    """A crash mid-fold must leave NO adoptable state: tables dropped,
    sidecar removed — so the next session rebuilds from scratch
    instead of folding over (or reading) a half-appended delta."""
    import os

    from smile_spark.operators import labels as L
    from smile_spark.operators import multimodal as M
    from smile_spark.sources import bucketed as BK

    rung = _rung("image")
    L.roll_restore_base(spark, sf_dir, rung)
    path = BK.sidecar_path(spark, L._roll_sidecar_name(rung, sf_dir))
    real_append = BK.append_bucketed

    def dying_append(*a, **k):
        raise RuntimeError("simulated executor loss mid-fold")

    monkeypatch.setattr(BK, "append_bucketed", dying_append)
    with pytest.raises(RuntimeError, match="mid-fold"):
        L.label_rollforward(spark, sf_dir, rung)
    assert not os.path.exists(path), (
        "a failed fold left an adoptable sidecar behind"
    )
    tables = L.roll_tables(rung, sf_dir)
    assert not any(
        spark.catalog.tableExists(t) for t in tables.values()
    ), "a failed fold left half-appended tables behind"
    monkeypatch.setattr(BK, "append_bucketed", real_append)
    # recovery: the next call runs the full rebuild + fold and serves
    BK.forget_state(rung.roll)
    rolled = {
        tuple(r) for r in M.image_labels_rolled(spark, sf_dir).collect()
    }
    live = {
        tuple(r)
        for r in M.image_clusters_incremental(spark, sf_dir).collect()
    }
    assert rolled == live


@pytest.mark.parametrize("rung_name", ["image", "text"])
def test_labelroll_crash_after_append_never_adopts_base(
    spark, sf_dir, monkeypatch, rung_name
):
    """The ADVICE r14 crash window, pinned on the shared label core: a
    hard crash AFTER the delta append succeeds but BEFORE the rolled
    sidecar lands must leave no adoptable BASE sidecar — a second
    fold over the already-appended delta would double every delta row
    (and double cluster sizes through the broadcast remap).  The fix
    removes the sidecar before the append, so this crash point has no
    sidecar and the next call takes the full-rebuild arm."""
    import os

    from smile_spark.operators import labels as L
    from smile_spark.sources import bucketed as BK

    rung = _rung(rung_name)
    L.roll_restore_base(spark, sf_dir, rung)
    path = BK.sidecar_path(spark, L._roll_sidecar_name(rung, sf_dir))
    assert os.path.exists(path)
    real_write_sidecar = BK.write_sidecar

    def dying_write_sidecar(spark_, name, payload):
        if payload.get("state") == "rolled":
            raise RuntimeError("simulated process death pre-sidecar")
        return real_write_sidecar(spark_, name, payload)

    monkeypatch.setattr(BK, "write_sidecar", dying_write_sidecar)
    with pytest.raises(RuntimeError, match="pre-sidecar"):
        L.label_rollforward(spark, sf_dir, rung)
    assert not os.path.exists(path), (
        "a crash between the delta append and the rolled-sidecar"
        " write left an adoptable sidecar behind"
    )
    monkeypatch.setattr(BK, "write_sidecar", real_write_sidecar)
    # recovery takes the full-rebuild arm (labels + empty delta = 2
    # writes) and the rolled state still equals the live fold
    BK.forget_state(rung.roll)
    writes = []
    real_write = BK.write_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    rolled = {
        tuple(r) for r in L.labels_rolled(spark, sf_dir, rung).collect()
    }
    assert len(writes) == 2, "recovery must take the full-rebuild arm"
    live = {
        tuple(r)
        for r in L.clusters_incremental(spark, sf_dir, rung).collect()
    }
    assert rolled == live


@pytest.fixture
def refold_after(modality):
    """Compaction leaves the rung's roll with an empty delta.  Drop the
    roll's memo and sidecars afterwards, so tests that run later and
    size the delta (the text rung's live-agreement test) read a
    freshly folded state, as they do when no compaction ran first."""
    from smile_spark.operators import labels as L

    yield
    L.clear_label_state(_rung(modality), which="roll")


@pytest.mark.usefixtures("refold_after")
@pytest.mark.parametrize("modality", ["image", "audio", "video", "text"])
def test_label_compact_preserves_state(spark, sf_dir, modality):
    """Compaction must be invisible to readers (identical keep list),
    empty the delta, keep the rolled sidecar adoptable — and a fresh
    'session' must ADOPT the compacted state without any job."""
    from smile_spark.operators import labels as L
    from smile_spark.sources import bucketed as BK
    from smile_spark.sources.bucketed import read_bucketed

    rung = _rung(modality)
    before = {
        tuple(r) for r in L.labels_rolled(spark, sf_dir, rung).collect()
    }
    tables = L.label_compact(spark, sf_dir, rung)
    after = {
        tuple(r) for r in L.labels_rolled(spark, sf_dir, rung).collect()
    }
    assert before == after, "compaction changed the visible state"
    assert read_bucketed(spark, tables["delta"]).count() == 0
    # a fresh session adopts the compacted (rolled) state
    BK.forget_state(rung.roll)
    got = L.label_rollforward(spark, sf_dir, rung)
    assert got == tables
    post = {
        tuple(r) for r in L.labels_rolled(spark, sf_dir, rung).collect()
    }
    assert post == before


@pytest.mark.usefixtures("refold_after")
@pytest.mark.parametrize("modality", ["image", "audio", "video", "text"])
def test_label_compact_policy(spark, sf_dir, modality):
    """The delta-growth trigger (VERDICT r14 next-round #5): an
    infinite threshold never compacts and leaves the delta untouched;
    a zero threshold compacts any non-empty delta; the visible state
    is identical throughout (the invisibility contract, extended to
    the policy path)."""
    from smile_spark.operators import labels as L
    from smile_spark.sources import bucketed as BK
    from smile_spark.sources.bucketed import read_bucketed

    rung = _rung(modality)
    # restore a freshly-folded state so the policy decision observes
    # a real (possibly empty, for video's tiny increment) delta
    L.roll_restore_base(spark, sf_dir, rung)
    BK.forget_state(rung.roll)
    tables = L.label_rollforward(spark, sf_dir, rung)
    n_delta = read_bucketed(spark, tables["delta"]).count()
    if modality == "text":  # template duplication: the text fold
        #                     always observes a non-empty delta
        assert read_bucketed(spark, tables["delta"]).count() > 0
    before = {
        tuple(r) for r in L.labels_rolled(spark, sf_dir, rung).collect()
    }
    assert (
        L.compact_if_needed(spark, sf_dir, rung, max_delta_frac=1e18)
        is False
    )
    assert read_bucketed(spark, tables["delta"]).count() == n_delta
    compacted = L.compact_if_needed(spark, sf_dir, rung, max_delta_frac=0.0)
    # zero threshold compacts iff any delta rows exist
    assert compacted is (n_delta > 0)
    if compacted:
        assert read_bucketed(spark, tables["delta"]).count() == 0
    after = {
        tuple(r) for r in L.labels_rolled(spark, sf_dir, rung).collect()
    }
    assert before == after, "the policy path changed the visible state"
