"""Round-14 additions: nightly index roll-forward for the setsim and
perceptual band indexes (VERDICT r13 next-round #3) — agreement with
the full rebuild on the grown base, stale-parameter rebuild, rolled
adoption, and fold-failure crash safety."""

import pytest  # noqa: F401

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# setsim_index_rollforward
# ---------------------------------------------------------------------------


def _scratch_setsim_tables(sf_dir):
    from smile_spark.sources.bucketed import bucket_table_name

    return {
        part: bucket_table_name(f"t14_scratch_{part}", sf_dir)
        for part in ("prefix", "df", "reps", "members")
    }


def test_setsim_rollforward_agrees_with_full_rebuild(spark, sf_dir):
    """Probing the ROLLED index (frozen base df order) must produce
    the identical verified pair set as probing a FULL REBUILD over
    the grown base (its own df order) — the AllPairs prefix filter is
    lossless under any shared total order, so the two indexes differ
    internally but never in results."""
    from smile_spark.operators import dedup as D
    from smile_spark.sources.bucketed import drop_bucketed_table

    probe_pred = F.col("doc_id") % D.SETSIM_ROLL_MOD == D.SETSIM_INC_MOD
    rolled = D.setsim_rolled_probe(spark, sf_dir)
    got = {tuple(r) for r in rolled.collect()}
    assert got, "rolled probe degenerate at the fixture floor"
    assert any(r[1] % D.SETSIM_ROLL_MOD == 0 for r in got), (
        "no pair hits a FOLD doc — the append never participated"
    )
    scratch = _scratch_setsim_tables(sf_dir)
    from smile_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    grown = docs.filter(
        F.col("doc_id") % D.SETSIM_ROLL_MOD != D.SETSIM_INC_MOD
    )
    try:
        n_buckets = D._setsim_n_buckets(spark, sf_dir)
        D._setsim_index_write(spark, grown, scratch, n_buckets)
        want = {
            tuple(r)
            for r in D._setsim_probe_indexed(
                docs.filter(probe_pred), D._setsim_read_index(spark, scratch)
            ).collect()
        }
    finally:
        for tbl in scratch.values():
            drop_bucketed_table(spark, tbl)
    assert got == want


def test_setsim_rollforward_rolled_adoption(spark, sf_dir, monkeypatch):
    """A fresh 'session' (memo cleared, warehouse intact) must adopt
    the ROLLED state without any drop/write/append job."""
    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.setsim_index_rollforward(spark, sf_dir)
    BK.forget_state(D.SETSIM_ROLL)
    jobs = []
    monkeypatch.setattr(
        BK, "write_bucketed", lambda *a, **k: jobs.append(("write", a))
    )
    monkeypatch.setattr(
        BK, "append_bucketed", lambda *a, **k: jobs.append(("append", a))
    )
    monkeypatch.setattr(
        BK, "drop_bucketed_table", lambda *a, **k: jobs.append(("drop", a))
    )
    tables = D.setsim_index_rollforward(spark, sf_dir)
    assert jobs == [], "rolled adoption ran a rebuild/fold job"
    from smile_spark.tables import table

    assert D._setsim_probe_indexed(
        table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % D.SETSIM_ROLL_MOD == D.SETSIM_INC_MOD
        ),
        D._setsim_read_index(spark, tables),
    ).count() > 0


def test_setsim_rollforward_stale_params_full_rebuild(
    spark, sf_dir, monkeypatch
):
    """A sidecar whose parameters/snapshot no longer match what this
    build would produce must force the FULL corpus rebuild (4 table
    writes) before folding (3 appends) — never adopt, never
    fold-over-unknown-state."""
    import json

    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.setsim_index_rollforward(spark, sf_dir)
    path = BK.sidecar_path(spark, D.SETSIM_ROLL.sidecar_name(spark, sf_dir))
    with open(path) as fh:
        payload = json.load(fh)
    payload["base_rows"] += 1  # the snapshot "changed"
    with open(path, "w") as fh:
        json.dump(payload, fh)
    BK.forget_state(D.SETSIM_ROLL)
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
    D.setsim_index_rollforward(spark, sf_dir)
    assert len(writes) == 4, "stale sidecar must trigger a full rebuild"
    assert len(appends) == 3, "the rebuild must still fold the increment"
    # the sidecar advanced to the rolled state
    with open(path) as fh:
        assert json.load(fh)["state"] == "rolled"


def test_setsim_fold_failure_never_adoptable(spark, sf_dir, monkeypatch):
    """A crash mid-fold must leave NO adoptable state: the tables are
    dropped and the sidecar removed, so the next call rebuilds from
    scratch instead of folding over a half-appended index."""
    import os

    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.setsim_roll_restore_base(spark, sf_dir)
    path = BK.sidecar_path(spark, D.SETSIM_ROLL.sidecar_name(spark, sf_dir))
    calls = []
    real_append = BK.append_bucketed

    def flaky_append(*a, **k):
        calls.append(a)
        if len(calls) == 2:  # die after the first table appended
            raise RuntimeError("simulated executor loss mid-fold")
        return real_append(*a, **k)

    monkeypatch.setattr(BK, "append_bucketed", flaky_append)
    with pytest.raises(RuntimeError, match="mid-fold"):
        D.setsim_index_rollforward(spark, sf_dir)
    assert not os.path.exists(path), (
        "a failed fold left an adoptable sidecar behind"
    )
    tables = D._setsim_tables("setsim_roll", sf_dir)
    assert not any(
        spark.catalog.tableExists(t) for t in tables.values()
    ), "a failed fold left half-appended tables behind"
    monkeypatch.setattr(BK, "append_bucketed", real_append)
    # recovery: the next call runs the full rebuild + fold and probes
    BK.forget_state(D.SETSIM_ROLL)
    out = D.setsim_rolled_probe(spark, sf_dir)
    assert out.count() > 0


def test_setsim_crash_after_appends_never_adopts_base(
    spark, sf_dir, monkeypatch
):
    """The ADVICE r14 crash window: a hard crash AFTER the fold
    appends succeed but BEFORE the rolled sidecar lands must leave no
    adoptable BASE sidecar — otherwise the next session would adopt
    base state over already-folded tables and fold AGAIN, silently
    duplicating prefix/reps/members rows.  The fix removes the sidecar
    before the first append, so this crash point has no sidecar at
    all and the next call takes the full-rebuild arm."""
    import os

    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.setsim_roll_restore_base(spark, sf_dir)
    path = BK.sidecar_path(spark, D.SETSIM_ROLL.sidecar_name(spark, sf_dir))
    assert os.path.exists(path)  # the base sidecar restore_base wrote
    real_write_sidecar = BK.write_sidecar

    def dying_write_sidecar(spark_, name, payload):
        if payload.get("state") == "rolled":
            raise RuntimeError("simulated process death pre-sidecar")
        return real_write_sidecar(spark_, name, payload)

    monkeypatch.setattr(BK, "write_sidecar", dying_write_sidecar)
    with pytest.raises(RuntimeError, match="pre-sidecar"):
        D.setsim_index_rollforward(spark, sf_dir)
    assert not os.path.exists(path), (
        "a crash between the appends and the rolled-sidecar write"
        " left an adoptable sidecar behind"
    )
    monkeypatch.setattr(BK, "write_sidecar", real_write_sidecar)
    # recovery: with no sidecar the next call lands in the FULL
    # rebuild arm (4 table writes) — never a second fold over the
    # already-folded tables
    BK.forget_state(D.SETSIM_ROLL)
    writes = []
    real_write = BK.write_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    D.setsim_index_rollforward(spark, sf_dir)
    assert len(writes) == 4, "recovery must take the full-rebuild arm"
    out = D.setsim_rolled_probe(spark, sf_dir)
    assert out.count() > 0


# ---------------------------------------------------------------------------
# band_index_rollforward (image / audio / video via the shared core)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("modality", ["image", "audio", "video"])
def test_band_rollforward_content_agreement(spark, sf_dir, modality):
    """Band rows are per-document, so the rolled table's CONTENT must
    be row-identical to a full rebuild over the grown base — for all
    three modalities through the one shared core (video's post-roll
    probe block is empty at the fixture, so content agreement is its
    coverage)."""
    from smile_spark.operators import multimodal as M
    from smile_spark.sources.bucketed import read_bucketed

    tbl = M.band_index_rollforward(spark, sf_dir, modality)
    got = {tuple(r) for r in read_bucketed(spark, tbl).collect()}
    grown = M._band_rows_from_hashes(
        M._band_frame(
            spark,
            sf_dir,
            modality,
            F.col("doc_id") % M.BAND_ROLL_MOD != M.DHASH_INC_MOD,
        )
    )
    want = {tuple(r) for r in grown.collect()}
    assert got == want
    assert any(r[1] % M.BAND_ROLL_MOD == 0 for r in got), (
        "no FOLD-block rows present — the append never happened"
    )


def test_band_rollforward_stale_params_full_rebuild(
    spark, sf_dir, monkeypatch
):
    """The image roll: a stale sidecar forces drop + full rebuild +
    fold, and the sidecar advances to the rolled state."""
    import json

    from smile_spark.operators import multimodal as M
    from smile_spark.sources import bucketed as BK

    M.band_index_rollforward(spark, sf_dir, "image")
    tbl = M._band_roll_table(sf_dir, "image")
    path = BK.sidecar_path(spark, tbl)
    with open(path) as fh:
        payload = json.load(fh)
    payload["grid"] = [7, 6]  # a PARAMETER changed, not the snapshot
    with open(path, "w") as fh:
        json.dump(payload, fh)
    BK.forget_state(M.BAND_ROLL["image"])
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
    M.band_index_rollforward(spark, sf_dir, "image")
    assert len(writes) == 1 and len(appends) == 1
    with open(path) as fh:
        assert json.load(fh)["state"] == "rolled"


def test_band_rollforward_rolled_adoption(spark, sf_dir, monkeypatch):
    """A fresh 'session' adopts the rolled image band table without
    any job; the probe still serves."""
    from smile_spark.operators import multimodal as M
    from smile_spark.sources import bucketed as BK

    M.band_index_rollforward(spark, sf_dir, "image")
    BK.forget_state(M.BAND_ROLL["image"])
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
    M.band_index_rollforward(spark, sf_dir, "image")
    assert jobs == [], "rolled adoption ran a rebuild/fold job"
    # the probe must serve REAL pairs off the adopted table (the image
    # probe block is non-degenerate at every fixture SF: 14 pairs at
    # sf0.001) and its evaluation must itself run no rebuild/fold job
    # while the writers are still stubbed (ADVICE r14 #2)
    assert M.image_dhash_rolled_probe(spark, sf_dir).count() > 0
    assert jobs == [], "the probe evaluation ran a rebuild/fold job"


# ---------------------------------------------------------------------------
# image_clusters_incremental (incremental cluster maintenance)
# ---------------------------------------------------------------------------


def test_image_clusters_incremental_agrees_with_full_rebuild(
    spark, sf_dir
):
    """The collapsed-graph fold must produce EXACTLY the clusters a
    full rebuild over the joint pair set (base-internal ∪ probe↔base)
    produces — including merges of two base clusters bridged by one
    increment doc."""
    from smile_spark.operators import multimodal as M
    from smile_spark.tables import table

    got = {
        tuple(r)
        for r in M.image_clusters_incremental(spark, sf_dir).collect()
    }
    base_pairs = M._dhash_pairs_from_hashes(
        M.image_dhash_frame(
            spark, sf_dir, F.col("doc_id") % M.DHASH_INC_MOD != 0
        )
    ).select("a", "b")
    inc_pairs = M.image_dhash_incremental(spark, sf_dir).select("a", "b")
    universe = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
    )
    want = {
        tuple(r)
        for r in M._perceptual_keep_list(
            base_pairs.union(inc_pairs), universe
        ).collect()
    }
    assert got == want


def test_image_clusters_incremental_merges_base_clusters(spark, sf_dir):
    """Sanity on the interesting event: at least one increment doc
    must land in a cluster of size > 2 or bridge base docs — i.e. the
    fold does more than append singleton pairs.  (If the fixture ever
    degenerates, the agreement test above still pins correctness;
    this guards test VALUE.)"""
    from smile_spark.operators import multimodal as M

    rows = M.image_clusters_incremental(spark, sf_dir).collect()
    inc_in_cluster = [
        r
        for r in rows
        if r.doc_id % M.DHASH_INC_MOD == 0 and r.cluster_size > 1
    ]
    assert inc_in_cluster, "no increment doc ever joined a cluster"


def test_image_label_index_adoption(spark, sf_dir, monkeypatch):
    """A fresh 'session' adopts the persisted base label table without
    a rebuild; a stale sidecar forces one."""
    import json

    from smile_spark.operators import labels as L
    from smile_spark.operators import multimodal as M
    from smile_spark.sources import bucketed as BK

    rung = M.LABEL_RUNGS["image"]
    tbl = L.label_index_build(spark, sf_dir, rung)
    BK.forget_state(rung.ro)
    jobs = []
    monkeypatch.setattr(
        BK, "write_bucketed", lambda *a, **k: jobs.append(a)
    )
    monkeypatch.setattr(
        BK, "drop_bucketed_table", lambda *a, **k: jobs.append(a)
    )
    assert L.label_index_build(spark, sf_dir, rung) == tbl
    assert jobs == [], "label adoption ran a rebuild"
    monkeypatch.undo()
    # stale sidecar → rebuild
    path = BK.sidecar_path(spark, tbl)
    with open(path) as fh:
        payload = json.load(fh)
    payload["base_rows"] += 1
    with open(path, "w") as fh:
        json.dump(payload, fh)
    BK.forget_state(rung.ro)
    writes = []
    real_write = BK.write_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    L.label_index_build(spark, sf_dir, rung)
    assert len(writes) == 1, "stale label sidecar must rebuild"


# ---------------------------------------------------------------------------
# increment_ingest_manifest
# ---------------------------------------------------------------------------


def test_increment_manifest_consistency(spark, sf_dir):
    """Every 'drop' row must be backed by its winning rung's pair
    table (with duplicate_of = that rung's min base id), and every
    'keep' row by the ABSENCE of the doc in all six rung outputs."""
    from smile_spark.operators import dedup as D
    from smile_spark.operators import multimodal as M
    from smile_spark.operators import pipeline as P

    rows = P.increment_ingest_manifest(spark, sf_dir).collect()
    assert rows and len({r.doc_id for r in rows}) == len(rows)
    rung_pairs = {
        "text_exact": D.setsim_incremental(spark, sf_dir),
        "text_minhash": D.dedup_minhash_incremental(spark, sf_dir),
        "image_dhash": M.image_dhash_incremental(spark, sf_dir),
        "audio_fp": M.audio_fingerprint_incremental(spark, sf_dir),
        "video_dhash": M.video_dhash_incremental(spark, sf_dir),
        "semantic": D.semantic_dedup_incremental(spark, sf_dir),
    }
    mins = {
        name: {
            r.a: r.mb
            for r in df.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .collect()
        }
        for name, df in rung_pairs.items()
    }
    prio = {
        "text_exact": 1, "text_minhash": 2, "image_dhash": 3,
        "audio_fp": 3, "video_dhash": 3, "semantic": 4,
    }
    dropped = kept = 0
    for r in rows:
        flags = {n for n, m in mins.items() if r.doc_id in m}
        if r.verdict == "drop":
            dropped += 1
            assert r.reason in flags, (r.doc_id, r.reason, flags)
            best = min(prio[n] for n in flags)
            assert prio[r.reason] == best, "precedence violated"
            assert r.duplicate_of == mins[r.reason][r.doc_id]
        else:
            kept += 1
            assert not flags and r.reason == "unique"
            assert r.duplicate_of is None
    assert dropped > 0 and kept > 0, "manifest degenerate"


# ---------------------------------------------------------------------------
# minhash / semantic roll-forward (per-row folds)
# ---------------------------------------------------------------------------


def test_minhash_rollforward_content_agreement(spark, sf_dir):
    """MinHash band rows are per-document, so the rolled table must be
    row-identical to a full rebuild over the grown base (and must
    actually contain FOLD-block rows)."""
    from smile_spark.operators import dedup as D
    from smile_spark.sources.bucketed import read_bucketed
    from smile_spark.tables import table

    tbl = D.minhash_index_rollforward(spark, sf_dir)
    got = {tuple(r) for r in read_bucketed(spark, tbl).collect()}
    grown = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % D.MINHASH_ROLL_MOD != D.SETSIM_INC_MOD
    )
    want = {
        tuple(r)
        for r in D._lsh_bands_from_sig(
            D._minhash_sig_from_docs(grown)
        ).collect()
    }
    assert got == want
    assert any(r[0] % D.MINHASH_ROLL_MOD == 0 for r in got)


def test_semantic_rollforward_content_agreement(spark, sf_dir):
    """SemDeDup assignment rows are per-vector under the FROZEN
    nightly centroids, so the rolled table must be row-identical to a
    frozen-model rebuild over the grown base."""
    from smile_spark.operators import dedup as D
    from smile_spark.sources.bucketed import read_bucketed

    tbl = D.semantic_index_rollforward(spark, sf_dir)
    got = {
        (r.cid, r.vec_id, tuple(r.v), r.d2)
        for r in read_bucketed(spark, tbl).collect()
    }
    want = {
        (r.cid, r.vec_id, tuple(r.v), r.d2)
        for r in D._sem_assign_block(
            spark,
            sf_dir,
            F.col("vec_id") % D.SEM_ROLL_MOD != D.SEM_INC_MOD,
        ).collect()
    }
    assert got == want
    assert any(r[1] % D.SEM_ROLL_MOD == 0 for r in got)


def test_minhash_semantic_rolled_adoption(spark, sf_dir, monkeypatch):
    """Fresh 'sessions' adopt both rolled states without any job."""
    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.minhash_index_rollforward(spark, sf_dir)
    D.semantic_index_rollforward(spark, sf_dir)
    BK.forget_state(D.MINHASH_ROLL)
    BK.forget_state(D.SEM_ROLL)
    jobs = []
    for fn in ("write_bucketed", "append_bucketed", "drop_bucketed_table"):
        monkeypatch.setattr(BK, fn, lambda *a, **k: jobs.append(a))
    D.minhash_index_rollforward(spark, sf_dir)
    D.semantic_index_rollforward(spark, sf_dir)
    assert jobs == [], "rolled adoption ran a rebuild/fold job"
