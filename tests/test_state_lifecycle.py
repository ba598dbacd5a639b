"""The one persisted-state lifecycle of ``sources/bucketed.py``, checked
over every roll spec in its registry (setsim, MinHash, semantic, the
semantic verdicts, the three band rolls and every label rung):

* a rebuild whose BASE sidecar write fails leaves no sidecar, so the
  next session ends in the rolled state — a stale ROLLED sidecar left
  beside freshly rebuilt base tables would be adopted over them;
* a fold whose append fails, and a process that dies before the
  rolled sidecar is written, leave no adoptable sidecar, and recovery
  takes the rebuild arm (a second fold over folded tables would
  silently duplicate rows).
"""

from __future__ import annotations

import json
import os

import pytest

from smile_spark.operators import dedup  # noqa: F401 — registers specs
from smile_spark.operators import multimodal  # noqa: F401
from smile_spark.sources import bucketed as BK

ROLL_SPECS = sorted(
    name for name, spec in BK.STATE_SPECS.items() if spec.append_fold
)


def _sidecar(spark, spec, sf_dir) -> str:
    return BK.sidecar_path(spark, spec.sidecar_name(spark, sf_dir))


def _row_counts(spark, spec, sf_dir) -> dict[str, int]:
    return {
        part: BK.read_bucketed(spark, tbl).count()
        for part, tbl in spec.tables(spark, sf_dir).items()
    }


def _dying_sidecar_write(monkeypatch, state: str) -> None:
    real = BK.write_sidecar

    def dying(spark_, name, payload):
        if payload.get("state") == state:
            raise RuntimeError(f"simulated process death at the {state} sidecar")
        return real(spark_, name, payload)

    monkeypatch.setattr(BK, "write_sidecar", dying)


def _assert_recovery_rebuilds(spark, spec, sf_dir, monkeypatch) -> None:
    """A fresh session rebuilds, folds, and publishes the rolled state."""
    monkeypatch.undo()
    BK.forget_state(spec)
    writes, appends = [], []
    real_write, real_append = BK.write_bucketed, BK.append_bucketed
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
    BK.roll_forward(spark, spec, sf_dir)
    assert writes, "recovery must take the full-rebuild arm"
    assert appends, "the rebuild must still fold the increment"
    with open(_sidecar(spark, spec, sf_dir)) as fh:
        assert json.load(fh)["state"] == "rolled"


@pytest.mark.parametrize("spec_name", ROLL_SPECS)
def test_failed_base_sidecar_write_never_adopts_rolled(
    spark, sf_dir, monkeypatch, spec_name
):
    spec = BK.STATE_SPECS[spec_name]
    BK.restore_base(spark, spec, sf_dir)
    BK.roll_forward(spark, spec, sf_dir)
    rolled = _row_counts(spark, spec, sf_dir)
    # a lost table sends the next session into the rebuild arm
    BK.drop_bucketed_table(
        spark, next(iter(spec.tables(spark, sf_dir).values()))
    )
    BK.forget_state(spec)
    _dying_sidecar_write(monkeypatch, "base")
    with pytest.raises(RuntimeError, match="base sidecar"):
        BK.roll_forward(spark, spec, sf_dir)
    assert not os.path.exists(_sidecar(spark, spec, sf_dir))
    monkeypatch.undo()
    BK.forget_state(spec)
    BK.roll_forward(spark, spec, sf_dir)
    assert _row_counts(spark, spec, sf_dir) == rolled


@pytest.mark.parametrize("spec_name", ROLL_SPECS)
def test_fold_append_failure_never_adoptable(
    spark, sf_dir, monkeypatch, spec_name
):
    spec = BK.STATE_SPECS[spec_name]
    BK.restore_base(spark, spec, sf_dir)
    real_append = BK.append_bucketed

    def dying_append(*a, **k):
        real_append(*a, **k)  # the rows land, then the fold dies
        raise RuntimeError("simulated executor loss mid-fold")

    monkeypatch.setattr(BK, "append_bucketed", dying_append)
    with pytest.raises(RuntimeError, match="mid-fold"):
        BK.roll_forward(spark, spec, sf_dir)
    assert not os.path.exists(_sidecar(spark, spec, sf_dir)), (
        "a failed fold left an adoptable sidecar behind"
    )
    assert not any(
        spark.catalog.tableExists(t)
        for t in spec.tables(spark, sf_dir).values()
    ), "a failed fold left half-appended tables behind"
    _assert_recovery_rebuilds(spark, spec, sf_dir, monkeypatch)


@pytest.mark.parametrize("spec_name", ROLL_SPECS)
def test_death_before_rolled_sidecar_never_adopts_base(
    spark, sf_dir, monkeypatch, spec_name
):
    spec = BK.STATE_SPECS[spec_name]
    BK.restore_base(spark, spec, sf_dir)
    assert os.path.exists(_sidecar(spark, spec, sf_dir))
    _dying_sidecar_write(monkeypatch, "rolled")
    with pytest.raises(RuntimeError, match="rolled sidecar"):
        BK.roll_forward(spark, spec, sf_dir)
    assert not os.path.exists(_sidecar(spark, spec, sf_dir)), (
        "a crash between the fold and the rolled-sidecar write left an"
        " adoptable sidecar behind"
    )
    _assert_recovery_rebuilds(spark, spec, sf_dir, monkeypatch)
