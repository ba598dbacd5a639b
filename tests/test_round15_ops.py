"""Round-15: the generic label-state core (operators/labels.py) and
its first consumers — the TEXT rung (setsim ∪ MinHash pair graphs)
gets the full r14 lifecycle: persisted base cluster labels, the
increment-linear live fold, the LSM delta-log roll, compaction, and
the compaction POLICY (delta-growth trigger)."""

import pytest

from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.01"


def test_text_clusters_incremental_agrees_with_full_rebuild(
    spark, sf_dir
):
    """The collapsed-graph fold over the persisted text base labels
    must produce exactly the clusters a full rebuild over the joint
    pair set (base↔base ∪ increment↔base, setsim ∪ MinHash) produces
    — the image agreement contract, applied to the text rung."""
    from smile_spark.operators import dedup as D
    from smile_spark.operators.multimodal import _perceptual_keep_list
    from smile_spark.tables import table

    got = {
        tuple(r)
        for r in D.text_clusters_incremental(spark, sf_dir).collect()
    }
    base_pairs = D._text_base_pairs(spark, sf_dir)
    inc_pairs = D._text_inc_pairs(spark, sf_dir)
    universe = table(spark, sf_dir, "documents").select("doc_id")
    want = {
        tuple(r)
        for r in _perceptual_keep_list(
            base_pairs.union(inc_pairs), universe
        ).collect()
    }
    assert got == want
    # non-degenerate at the fixture: the text corpus carries genuine
    # template duplication, so clusters exist and drops happen
    assert any(not r[2] for r in got), "no document was ever dropped"


def test_text_labels_rolled_agrees_with_live(spark, sf_dir):
    """The keep list served from the persisted base + delta must be
    row-identical to the live fold, and the delta must be
    increment-sized (never corpus-sized)."""
    from smile_spark.operators import dedup as D
    from smile_spark.operators import labels as L
    from smile_spark.sources.bucketed import read_bucketed
    from smile_spark.tables import table

    rolled = {
        tuple(r) for r in D.text_labels_rolled(spark, sf_dir).collect()
    }
    live = {
        tuple(r)
        for r in D.text_clusters_incremental(spark, sf_dir).collect()
    }
    assert rolled == live
    tables = L.roll_tables(D.TEXT_LABEL_RUNG, sf_dir)
    n_delta = read_bucketed(spark, tables["delta"]).count()
    n_base = read_bucketed(spark, tables["labels"]).count()
    n_inc = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % D.SETSIM_INC_MOD == 0)
        .count()
    )
    # hold the checkpoint-owning frame while counting (derived frames
    # do not keep their parent alive — the session gc contract)
    ip = D._text_inc_pairs(spark, sf_dir)
    n_pairs = ip.distinct().count()
    assert n_delta <= n_inc + n_pairs, (n_delta, n_inc, n_pairs)
    assert n_delta > 0
    assert n_base > 0


def test_text_entries_match_oracle_two_sfs(spark, sf_dir):
    from smile_spark.operators import dedup as D
    from smile_spark.testing import assert_matches_oracle

    sql = D.text_clusters_incremental_sql()
    for d in [sf_dir, SF001]:
        assert_matches_oracle(spark, D.text_clusters_incremental, sql, d)
        assert_matches_oracle(spark, D.text_labels_rolled, sql, d)


def test_text_labelroll_rolled_adoption(spark, sf_dir, monkeypatch):
    """A fresh 'session' adopts the rolled text label state without
    any rebuild/fold job, and the reader still serves real rows while
    the writers are stubbed."""
    from smile_spark.operators import dedup as D
    from smile_spark.operators import labels as L
    from smile_spark.sources import bucketed as BK

    rung = D.TEXT_LABEL_RUNG
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
    assert D.text_labels_rolled(spark, sf_dir).count() > 0
    assert jobs == [], "the rolled reader ran a rebuild/fold job"


def test_semantic_labels_rolled_agrees_with_live(spark, sf_dir):
    """The persisted verdict table must equal base verdicts ∪ live
    increment verdicts, and every vector appears exactly once."""
    from smile_spark.operators import dedup as D
    from smile_spark.operators.similarity import _vectors

    rolled = {
        tuple(r)
        for r in D.semantic_labels_rolled(spark, sf_dir).collect()
    }
    live = {
        tuple(r) for r in D._sem_base_verdicts(spark, sf_dir).collect()
    } | {
        tuple(r) for r in D._sem_fold_verdicts(spark, sf_dir).collect()
    }
    assert rolled == live
    n_vecs = _vectors(spark, sf_dir).count()
    assert len({r[0] for r in rolled}) == n_vecs
    assert len(rolled) == n_vecs


def test_semantic_labels_rolled_adoption(spark, sf_dir, monkeypatch):
    """A fresh 'session' adopts the rolled verdict table without any
    rebuild/fold job; the reader still serves."""
    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.semantic_label_rollforward(spark, sf_dir)
    BK.forget_state(D.SEM_LABEL_ROLL)
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
    D.semantic_label_rollforward(spark, sf_dir)
    assert jobs == [], "rolled adoption ran a rebuild/fold job"
    assert D.semantic_labels_rolled(spark, sf_dir).count() > 0
    assert jobs == [], "the rolled reader ran a rebuild/fold job"


def test_semantic_labelroll_crash_never_adopts_base(
    spark, sf_dir, monkeypatch
):
    """The ADVICE-r14 crash ordering on the semantic verdict roll: a
    crash after the append, before the rolled sidecar, leaves no
    adoptable state; recovery rebuilds."""
    import os

    from smile_spark.operators import dedup as D
    from smile_spark.sources import bucketed as BK

    D.semantic_label_restore_base(spark, sf_dir)
    path = BK.sidecar_path(spark, D._sem_label_table(sf_dir))
    assert os.path.exists(path)
    real_write_sidecar = BK.write_sidecar

    def dying_write_sidecar(spark_, name, payload):
        if payload.get("state") == "rolled":
            raise RuntimeError("simulated process death pre-sidecar")
        return real_write_sidecar(spark_, name, payload)

    monkeypatch.setattr(BK, "write_sidecar", dying_write_sidecar)
    with pytest.raises(RuntimeError, match="pre-sidecar"):
        D.semantic_label_rollforward(spark, sf_dir)
    assert not os.path.exists(path)
    monkeypatch.setattr(BK, "write_sidecar", real_write_sidecar)
    BK.forget_state(D.SEM_LABEL_ROLL)
    writes = []
    real_write = BK.write_bucketed
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    rolled = {
        tuple(r)
        for r in D.semantic_labels_rolled(spark, sf_dir).collect()
    }
    assert len(writes) == 1, "recovery must take the full-rebuild arm"
    live = {
        tuple(r) for r in D._sem_base_verdicts(spark, sf_dir).collect()
    } | {
        tuple(r) for r in D._sem_fold_verdicts(spark, sf_dir).collect()
    }
    assert rolled == live


def test_crossmodal_clusters_incremental_agrees_with_full(
    spark, sf_dir
):
    """The folded joint clustering must be row-identical to the full
    crossmodal_dedup_clusters rebuild — exact, because the incident
    slice keeps increment-internal edges and the collapse proof holds
    per-endpoint (the generic core's predicate classification)."""
    from smile_spark.operators import multimodal as M

    got = {
        tuple(r)
        for r in M.crossmodal_clusters_incremental(
            spark, sf_dir
        ).collect()
    }
    want = {
        tuple(r)
        for r in M.crossmodal_dedup_clusters(spark, sf_dir).collect()
    }
    assert got == want
    assert any(not r[2] for r in got)


def test_crossmodal_labels_rolled_agrees_with_live(spark, sf_dir):
    """Rolled state == live fold == full rebuild, and the delta stays
    increment-sized."""
    from smile_spark.operators import labels as L
    from smile_spark.operators import multimodal as M
    from smile_spark.sources.bucketed import read_bucketed

    rolled = {
        tuple(r)
        for r in M.crossmodal_labels_rolled(spark, sf_dir).collect()
    }
    live = {
        tuple(r)
        for r in M.crossmodal_clusters_incremental(
            spark, sf_dir
        ).collect()
    }
    assert rolled == live
    rung = M.CROSSMODAL_LABEL_RUNG
    tables = L.roll_tables(rung, sf_dir)
    n_delta = read_bucketed(spark, tables["delta"]).count()
    n_inc = (
        rung.universe(spark, sf_dir)
        .filter(rung.is_increment(F.col("doc_id")))
        .count()
    )
    ip = rung.inc_pairs(spark, sf_dir)
    n_pairs = ip.distinct().count()
    assert n_delta <= n_inc + n_pairs, (n_delta, n_inc, n_pairs)
    assert n_delta > 0


def test_crossmodal_labelroll_rolled_adoption(
    spark, sf_dir, monkeypatch
):
    """A fresh 'session' adopts the rolled cross-modal label state
    without any rebuild/fold job."""
    from smile_spark.operators import labels as L
    from smile_spark.operators import multimodal as M
    from smile_spark.sources import bucketed as BK

    rung = M.CROSSMODAL_LABEL_RUNG
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
    assert M.crossmodal_labels_rolled(spark, sf_dir).count() > 0
    assert jobs == [], "the rolled reader ran a rebuild/fold job"


def test_streaming_manifest_agreement(spark, sf_dir, monkeypatch):
    """The foreachBatch manifest must drain in MULTIPLE micro-batches
    (the split-commutativity claim is vacuous on one batch) and agree
    with the batch operator row-for-row."""
    from smile_spark.operators import pipeline as P
    from smile_spark.streaming import events as ST
    from smile_spark.tables import table
    from smile_spark.operators.dedup import SETSIM_INC_MOD

    calls = []
    real = P._manifest_verdicts_tagged

    def counting(tagged, universe):
        calls.append(1)
        return real(tagged, universe)

    # r16: the streaming certificate composes through the single
    # tagged-union core (one per-batch semi-join + aggregate), so the
    # per-batch call counter hooks _manifest_verdicts_tagged
    monkeypatch.setattr(P, "_manifest_verdicts_tagged", counting)
    row = ST.streaming_manifest_agreement(spark, sf_dir).collect()[0]
    n_inc = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % SETSIM_INC_MOD == 0)
        .count()
    )
    # one call per micro-batch plus one inside the batch-side manifest
    assert len(calls) >= 3, "the stream drained in fewer than 2 batches"
    assert row.n_stream == n_inc
    assert row.n_batch == n_inc
    assert row.n_mismatch == 0


def test_text_base_labels_contraction_equals_pair_cc(spark, sf_dir):
    """The r16 contraction fast path (group-representative cc) must
    be ROW-EQUAL to min-label cc over the expanded base pair set —
    same doc membership, same component minima."""
    from smile_spark.operators import dedup as D
    from smile_spark.operators.graph import pair_components

    fast = {
        (r.id, r.component)
        for r in D._text_base_labels(spark, sf_dir).collect()
    }
    slow = {
        (r.id, r.component)
        for r in pair_components(D._text_base_pairs(spark, sf_dir)).collect()
    }
    assert fast == slow
