"""Per-pass driver costs: the generated-class cache, the halting count
of the iterative loops and the Parquet schema memo of ``tables``.

* Spark's codegen cache defaults to 100 classes, fewer than one pass of
  the OLAP queries compiles, so every pass recompiled them all; the
  session sizes it to the working set.
* Each Pregel-style round gets its halting count from the job that
  checkpoints the round (``session.checkpoint_observed``), not from a
  second ``isEmpty()``/``count()`` job.
* ``tables.table()`` infers a file's Parquet schema on its first read
  only; later reads of the unchanged file launch no job.
"""

from __future__ import annotations

import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from smile_spark.catalog import CatalogError
from smile_spark.fixtures_catalog import register_views_validated
from smile_spark.tables import TABLE_NAMES, table

# The scan/filter/aggregate/join queries of the OLAP benchmark workload.
OLAP_QUERIES = (
    "scan scan_filter_count groupby_count groupby_count_array hashjoin_agg"
    " projection casts_parse pricing_summary q3_shipping_priority"
    " regional_revenue window_rank rollup_summary join_variants"
    " top_customers"
).split()

PATH_N = 40  # path graph: diameter 39, many rounds


def _compile_count(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_second_pass_compiles_no_classes(spark, sf_dir):
    """Once every OLAP query ran, running them all again hits the
    codegen cache for every generated class: nothing is recompiled."""
    import __spark_entry__ as entry

    q = entry.queries()

    def run_all():
        for name in OLAP_QUERIES:
            q[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    run_all()
    before = _compile_count(spark)
    run_all()
    assert _compile_count(spark) == before


def _path_pairs(spark):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(PATH_N - 1)], "a long, b long"
    )


@pytest.fixture
def no_control_actions(monkeypatch, spark):
    """Make ``isEmpty()`` and ``count()`` raise on every DataFrame."""

    def refuse(self, *_a, **_k):
        raise AssertionError("control action on the driver")

    for name in ("isEmpty", "count"):
        monkeypatch.setattr(type(spark.range(1)), name, refuse)


def test_label_loops_need_no_control_actions(
    spark, no_control_actions, cc_paths
):
    """The label loops and the BFS frontier halt on the count their
    checkpoint job observed, and still find the same components; the
    driver-side cc pass sizes its edges from that count too."""
    from smile_spark.operators.graph import (
        bfs_frontier,
        cc_labels,
        pair_components,
    )

    pairs = _path_pairs(spark)
    e = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    nodes = spark.range(PATH_N)
    want = {(i, 0) for i in range(PATH_N)}
    for path in cc_paths():
        labels = cc_labels(nodes, e, n_edges=2 * (PATH_N - 1))
        got = {(r.id, r.component) for r in labels.collect()}
        assert got == want, path
        got = {
            (r.id, r.component)
            for r in pair_components(pairs).collect()
        }
        assert got == want, path
    # a short path, so the frontier runs dry before the round cap
    dist = {
        r.id: r.dist
        for r in bfs_frontier(spark, e.filter("src < 8 and dst < 8"), [0])
        .collect()
    }
    assert dist == {i: i for i in range(8)}


def test_checkpoint_observed_counts(spark):
    from smile_spark.session import checkpoint_observed

    df = spark.range(10).withColumn("odd", F.col("id") % 2 == 1)
    ckpt, seen = checkpoint_observed(
        df, keep=("id",), n=F.count(F.lit(1)), n_odd=F.count_if("odd")
    )
    assert seen == {"n": 10, "n_odd": 5}
    assert ckpt.columns == ["id"]
    assert sorted(r.id for r in ckpt.collect()) == list(range(10))
    _, seen = checkpoint_observed(df.filter("id < 0"), n=F.count(F.lit(1)))
    assert seen == {"n": 0}


def test_pair_components_releases_superseded_rounds(spark, cc_paths):
    """The pair-graph entry keeps only its FINAL label table
    persisted: no checkpoint per round, and not its pair checkpoint."""
    from smile_spark.operators.graph import pair_components

    jsc = spark.sparkContext._jsc.sc()
    for path in cc_paths():
        n0 = jsc.getPersistentRDDs().size()
        labels = pair_components(_path_pairs(spark))
        assert {r.component for r in labels.collect()} == {0}, path
        n1 = jsc.getPersistentRDDs().size()
        assert n1 - n0 <= 1, (path, n0, n1)


def test_lazy_pair_input_is_evaluated_once(spark):
    """A lazy pair frame handed to a clustering is derived once, not
    once per cc round: a counting UDF in its plan runs once per pair
    however many rounds the path graph takes."""
    from smile_spark.operators.multimodal import _perceptual_keep_list

    calls = spark.sparkContext.accumulator(0)

    def counted(x):
        calls.add(1)
        return x

    count_udf = F.udf(counted, "long")
    pairs = spark.range(PATH_N - 1).select(
        count_udf("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    universe = spark.range(PATH_N).select(F.col("id").alias("doc_id"))
    rows = _perceptual_keep_list(pairs, universe).collect()
    assert {r.cluster_size for r in rows} == {PATH_N}
    assert calls.value == PATH_N - 1, calls.value


def test_kcore_last_round_needs_no_control_actions(
    spark, sf_dir, monkeypatch, no_control_actions
):
    """A peel that spends its whole round budget takes the last round's
    drop count from the job that checkpointed the previous round."""
    from smile_spark.operators import graph
    from smile_spark.testing import duckdb_oracle

    # the fixture graph peels 48, 106, 46 nodes in rounds 1-3 and then
    # converges: a 3-round budget ends on a round that still drops
    monkeypatch.setattr(graph, "KCORE_ROUNDS", 3)
    want = duckdb_oracle(graph.kcore_peel_sql(), sf_dir).values.tolist()
    got = [tuple(r) for r in graph.kcore_peel(spark, sf_dir).collect()]
    assert sorted(got) == sorted(map(tuple, want))
    assert got[-1][0] == 3 and got[-1][1] > 0


def _jobs_launched(spark, fn):
    """(fn(), number of Spark jobs it launched, from the status store)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_connected_components_runs_at_most_five_jobs(spark, sf_dir):
    """The sf0.001 graph is within the broadcast threshold, so
    connected_components takes the driver-side pass: the edge
    checkpoint (which counts the edges), one edge collect and the
    label checkpoint, not a checkpoint job per round.  The first call
    warms the tables' schema memo, whose inference jobs are not the
    graph's."""
    from smile_spark.operators.graph import connected_components

    connected_components(spark, sf_dir)
    _, n_jobs = _jobs_launched(
        spark, lambda: connected_components(spark, sf_dir)
    )
    assert n_jobs <= 5, n_jobs


# Jobs each Pregel loop entry launched at sf0.001, warm, before its
# loop ran on graph.supersteps (measured in this suite's Spark
# settings: shuffle_partitions=8, 4 cores).  A port that adds a
# checkpoint or a control job per round goes over.
LOOP_JOBS_BEFORE_SUPERSTEPS = {
    "bfs": 13,
    "sssp": 14,
    "pagerank": 21,
    "personalized_pagerank": 21,
    "kcore_peel": 21,
    "lpa_build": 15,
}


def _loop_entries(spark, sf_dir):
    """name -> a call that runs that graph entry's iteration loop; the
    LPA build is run cold (its label memo cleared first)."""
    from smile_spark.operators import graph as G

    def lpa_build():
        G.clear_lpa_cache()
        return G._lpa_labels_cached(spark, sf_dir)

    return {
        "bfs": lambda: G.bfs(spark, sf_dir),
        "sssp": lambda: G.sssp(spark, sf_dir),
        "pagerank": lambda: G.pagerank(spark, sf_dir),
        "personalized_pagerank": lambda: G.personalized_pagerank(
            spark, sf_dir
        ),
        "kcore_peel": lambda: G.kcore_peel(spark, sf_dir),
        "lpa_build": lpa_build,
    }


def test_graph_loops_need_no_control_actions(
    spark, sf_dir, no_control_actions
):
    """Every fixed-round and halting loop takes its counts (PageRank's
    node count, PPR's teleport-set size, BFS and k-core halting) from
    the checkpoint jobs it already runs."""
    for run in _loop_entries(spark, sf_dir).values():
        run()


def test_graph_loops_launch_no_more_jobs_than_before(spark, sf_dir):
    entries = _loop_entries(spark, sf_dir)
    for run in entries.values():
        run()  # warm the tables' schema memo and the co-purchase memos
    got = {name: _jobs_launched(spark, run)[1] for name, run in entries.items()}
    over = {
        name: (n, LOOP_JOBS_BEFORE_SUPERSTEPS[name])
        for name, n in got.items()
        if n > LOOP_JOBS_BEFORE_SUPERSTEPS[name]
    }
    assert not over, got


def _copy_fixtures(sf_dir, dst, names=TABLE_NAMES):
    dst.mkdir(exist_ok=True)
    for name in names:
        shutil.copyfile(f"{sf_dir}/{name}.parquet", dst / f"{name}.parquet")
    return str(dst)


def test_second_table_read_launches_no_job(spark, sf_dir, tmp_path):
    d = _copy_fixtures(sf_dir, tmp_path / "sf", ["orders"])
    first, n_first = _jobs_launched(spark, lambda: table(spark, d, "orders"))
    again, n_again = _jobs_launched(spark, lambda: table(spark, d, "orders"))
    assert n_first >= 1  # the schema-inference job
    assert n_again == 0
    assert again.schema == first.schema
    assert again.count() == first.count()


def test_rewritten_file_is_inferred_afresh(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32()),
                  "r_name": ["A", "B"]}),
        path,
    )
    d = str(tmp_path)
    assert table(spark, d, "region").dtypes[0] == ("r_regionkey", "int")
    assert table(spark, d, "region").dtypes[0] == ("r_regionkey", "int")
    pq.write_table(
        pa.table({"r_regionkey": pa.array([7], pa.int64()),
                  "r_name": ["C"], "r_comment": ["new"]}),
        path,
    )
    df = table(spark, d, "region")
    assert df.dtypes == [
        ("r_regionkey", "bigint"), ("r_name", "string"),
        ("r_comment", "string"),
    ]
    assert [tuple(r) for r in df.collect()] == [(7, "C", "new")]


def test_drift_is_caught_after_the_good_schema_was_memoized(
    spark, sf_dir, tmp_path
):
    d = _copy_fixtures(sf_dir, tmp_path / "sf")
    register_views_validated(spark, d)
    good = pq.read_table(f"{d}/nation.parquet")
    drifted = good.set_column(
        0, "n_nationkey", good.column(0).cast(pa.int64())
    )
    pq.write_table(drifted, f"{d}/nation.parquet")
    with pytest.raises(CatalogError, match="nation"):
        register_views_validated(spark, d)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_is_a_micros_timestamp_on_every_read(
    spark, sf_dir, tmp_path, unit
):
    """Whether the file stores naive µs or TIMESTAMP(NANOS), the first
    read and the memoized read both give ``ts TIMESTAMP`` with the
    fixture's instants: the memo stores the on-disk type, and
    normalization runs on every read."""
    ev = pq.read_table(f"{sf_dir}/events.parquet")
    i = ev.schema.get_field_index("ts")
    want = sorted(zip(
        ev.column("event_id").to_pylist(),
        ev.column(i).cast(pa.timestamp("us")).cast(pa.int64()).to_pylist(),
    ))
    ev = ev.set_column(i, "ts", ev.column(i).cast(pa.timestamp(unit)))
    pq.write_table(ev, tmp_path / "events.parquet")
    for _ in range(2):
        df = table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = sorted(
            tuple(r)
            for r in df.select("event_id", F.unix_micros("ts")).collect()
        )
        assert got == want
