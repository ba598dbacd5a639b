"""Bucket counts sized to the input, and the setsim index sidecars.

* ``bucketed.bucket_count`` gives 1 bucket for a local file within
  ``spark.sql.autoBroadcastJoinThreshold`` and ``cap`` otherwise.
* Every setsim index and roll table is written with that count, both
  sidecars record it, and an index written under another count is
  rebuilt.
* A cold ``setsim_index_build`` runs no standalone count job; its
  sidecar's ``base_rows`` comes from the build's own scan.
* Every roll spec's payloads take their two counts from one aggregate.
* ``write_sidecar`` replaces the sidecar atomically.
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from smile_spark.operators import dedup as D
from smile_spark.operators import multimodal  # noqa: F401 — registers specs
from smile_spark.operators import similarity  # noqa: F401 — registers specs
from smile_spark.sources import bucketed as BK

CAP = D.SETSIM_INDEX_BUCKETS
ROLL_SPECS = sorted(
    name for name, spec in BK.STATE_SPECS.items() if spec.append_fold
)
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _sized_file(path, size):
    """A sparse file of ``size`` bytes (no disk blocks are written)."""
    with open(path, "wb") as fh:
        fh.truncate(size)
    return str(path)


def test_bucket_count_rule(spark, tmp_path):
    assert spark.conf.get(THRESHOLD) == "64MB"
    limit = 64 * 1024 * 1024
    cases = {
        "small.parquet": (65 * 1024, 1),
        "limit.parquet": (limit, 1),
        "limit_plus_one.parquet": (limit + 1, CAP),
        "huge.parquet": (100 * 10**9, CAP),
    }
    for name, (size, want) in cases.items():
        path = _sized_file(tmp_path / name, size)
        assert BK.bucket_count(spark, path, CAP) == want, name
    # a path os.stat cannot see, or a directory dataset, keeps the cap
    remote = "hdfs://namenode/warehouse/documents.parquet"
    assert BK.bucket_count(spark, remote, CAP) == CAP
    d = tmp_path / "docs.parquet"
    d.mkdir()
    _sized_file(d / "part-0.parquet", 1000)
    assert BK.bucket_count(spark, str(d), CAP) == CAP


def test_bucket_count_follows_broadcast_threshold(spark, tmp_path):
    path = _sized_file(tmp_path / "docs.parquet", 65 * 1024)
    old = spark.conf.get(THRESHOLD)
    try:
        spark.conf.set(THRESHOLD, "64k")
        assert BK.bucket_count(spark, path, CAP) == CAP
        spark.conf.set(THRESHOLD, "-1")  # broadcast joins disabled
        assert BK.bucket_count(spark, path, CAP) == CAP
    finally:
        spark.conf.set(THRESHOLD, old)
    assert BK.bucket_count(spark, path, CAP) == 1


def _index_sidecar_path(spark, sf_dir):
    return BK.sidecar_path(spark, D.SETSIM_INDEX.sidecar_name(spark, sf_dir))


def _num_buckets(spark, tbl):
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
    return int(next(r.data_type for r in rows if r.col_name == "Num Buckets"))


def test_setsim_tables_use_the_rule(spark, sf_dir):
    """Every setsim_idx_* and setsim_roll_* table has the rule's bucket
    count, and both sidecars record it."""
    from smile_spark.tables import table_path

    want = BK.bucket_count(spark, table_path(sf_dir, "documents"), CAP)
    assert want == 1  # the sf0.001 documents file is 65 KB
    assert D._setsim_n_buckets(spark, sf_dir) == want
    idx = D.setsim_index_build(spark, sf_dir)
    roll = D.setsim_index_rollforward(spark, sf_dir)
    for tbl in [*idx.values(), *roll.values()]:
        assert _num_buckets(spark, tbl) == want, tbl
    with open(_index_sidecar_path(spark, sf_dir)) as fh:
        idx_sidecar = json.load(fh)
    roll_sidecar = BK.read_sidecar(
        spark, D.SETSIM_ROLL.sidecar_name(spark, sf_dir)
    )
    assert idx_sidecar["n_buckets"] == roll_sidecar["n_buckets"] == want


def test_sixteen_bucket_sidecar_is_rebuilt(spark, sf_dir, monkeypatch):
    """An index left by the fixed 16-bucket layout fails the payload
    comparison and is rebuilt, not adopted, without counting the base
    block first."""
    D.setsim_index_build(spark, sf_dir)
    path = _index_sidecar_path(spark, sf_dir)
    with open(path) as fh:
        payload = json.load(fh)
    assert payload["n_buckets"] != 16
    payload["n_buckets"] = 16
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
    counts = []
    frame_cls = type(spark.range(1))
    real_count = frame_cls.count
    monkeypatch.setattr(
        frame_cls,
        "count",
        lambda self: (counts.append(self), real_count(self))[1],
    )
    D.setsim_index_build(spark, sf_dir)
    assert len(writes) == 4, "a 16-bucket sidecar must trigger a full rebuild"
    assert counts == [], "a parameter change must rebuild without a count"
    with open(path) as fh:
        assert json.load(fh)["n_buckets"] == D._setsim_n_buckets(spark, sf_dir)


def _jobs_launched(spark, fn):
    """Number of Spark jobs ``fn()`` launched, from the status store."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def null_text_dir(spark, sf_dir, tmp_path):
    """A fixture dir whose documents file also holds null-text rows in
    the base block; its setsim index and sidecar are removed after."""
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    extra = pa.table(
        {
            "doc_id": pa.array([100_001, 100_002, 100_005], pa.int64()),
            "text": pa.array([None, None, None], pa.string()),
            "lang": pa.array(["en"] * 3),
            "source": pa.array(["web"] * 3),
            "n_chars": pa.array([0] * 3, pa.int64()),
        }
    ).cast(docs.schema)
    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(pa.concat_tables([docs, extra]), d / "documents.parquet")
    d = str(d)
    path = _index_sidecar_path(spark, d)
    yield d, path
    for tbl in D._setsim_tables("setsim_idx", d).values():
        BK.drop_bucketed_table(spark, tbl)
    BK.remove_sidecar_file(path)
    BK.forget_state(D.SETSIM_INDEX)


def test_cold_build_runs_no_count_job(spark, null_text_dir):
    """Without a sidecar the build launches exactly the jobs of its
    index write: no count.  The base row count it records (null-text
    rows included) equals the count an adopting session computes, so
    that session adopts, launching the jobs of one count and no
    more."""
    from pyspark.sql import functions as F

    from smile_spark.tables import table

    d, path = null_text_dir
    base = table(spark, d, "documents").filter(
        F.col("doc_id") % D.SETSIM_INC_MOD != 0
    )
    n_count = _jobs_launched(spark, base.count)
    scratch = {
        part: BK.bucket_table_name(f"cold_scratch_{part}", d)
        for part in ("prefix", "df", "reps", "members")
    }
    n_buckets = D._setsim_n_buckets(spark, d)
    try:
        n_write = _jobs_launched(
            spark,
            lambda: D._setsim_index_write(spark, base, scratch, n_buckets),
        )
    finally:
        for tbl in scratch.values():
            BK.drop_bucketed_table(spark, tbl)
    assert not os.path.exists(path)

    def build():
        D.setsim_index_build(spark, d)

    assert _jobs_launched(spark, build) == n_write
    with open(path) as fh:
        recorded = json.load(fh)["base_rows"]
    assert recorded == base.count()
    assert base.filter(F.col("text").isNull()).count() == 2
    BK.forget_state(D.SETSIM_INDEX)  # a fresh session
    assert n_count >= 1
    assert _jobs_launched(spark, build) == n_count


@pytest.mark.parametrize("spec_name", ROLL_SPECS)
def test_roll_payload_counts_in_one_aggregate(spark, sf_dir, spec_name):
    """Every roll spec counts its base and fold blocks in one job (the
    jobs of one ``count()`` over its source frame)."""
    spec = BK.STATE_SPECS[spec_name]
    src = spec.source(spark, sf_dir)
    n_count = _jobs_launched(spark, src.count)
    out = []
    n_payloads = _jobs_launched(
        spark, lambda: out.append(BK.roll_payloads(spark, spec, sf_dir))
    )
    assert n_payloads == n_count
    base, rolled = out[0]
    assert base["base_rows"] == src.filter(spec.base()).count()
    fold = src.filter(spec.fold())
    assert rolled == dict(base, state="rolled", fold_rows=fold.count())


def test_sidecar_write_is_atomic(spark, monkeypatch):
    """A write that dies mid-dump leaves the previous sidecar
    byte-identical and no temp file behind."""
    name = f"atomic_{uuid.uuid4().hex}"
    path = BK.write_sidecar(spark, name, {"state": "base", "rows": 1})
    try:
        with open(path, "rb") as fh:
            before = fh.read()
        real_dump = json.dump

        def dying_dump(obj, fh, **kw):
            fh.write('{"state": "rol')
            fh.flush()
            raise RuntimeError("process death mid-write")

        monkeypatch.setattr(json, "dump", dying_dump)
        with pytest.raises(RuntimeError, match="mid-write"):
            BK.write_sidecar(spark, name, {"state": "rolled", "rows": 2})
        monkeypatch.setattr(json, "dump", real_dump)
        with open(path, "rb") as fh:
            assert fh.read() == before
        assert BK.read_sidecar(spark, name) == {"state": "base", "rows": 1}
        leftovers = [
            f for f in os.listdir(os.path.dirname(path))
            if name in f and f != os.path.basename(path)
        ]
        assert leftovers == []
    finally:
        BK.remove_sidecar_file(path)
