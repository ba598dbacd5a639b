"""Per-pass driver costs: the generated-class cache and the halting
count of the iterative loops.

* Spark's codegen cache defaults to 100 classes, fewer than one pass of
  the OLAP queries compiles, so every pass recompiled them all; the
  session sizes it to the working set.
* Each Pregel-style round gets its halting count from the job that
  checkpoints the round (``session.checkpoint_observed``), not from a
  second ``isEmpty()``/``count()`` job.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

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


def test_label_loops_need_no_control_actions(spark, no_control_actions):
    """The label loops and the BFS frontier halt on the count their
    checkpoint job observed, and still find the same components."""
    from smile_spark.operators.graph import bfs_frontier, cc_labels
    from smile_spark.operators.pipeline import min_label_components

    pairs = _path_pairs(spark)
    e = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    nodes = spark.range(PATH_N)
    want = {(i, 0) for i in range(PATH_N)}
    got = {(r.id, r.component) for r in cc_labels(nodes, e).collect()}
    assert got == want
    got = {
        (r.id, r.component)
        for r in min_label_components(pairs).collect()
    }
    assert got == want
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


def test_min_label_components_releases_superseded_rounds(spark):
    """Like cc_labels, the pair-graph loop keeps only its FINAL label
    table persisted, not one checkpoint per round."""
    from smile_spark.operators.pipeline import min_label_components

    jsc = spark.sparkContext._jsc.sc()
    n0 = jsc.getPersistentRDDs().size()
    labels = min_label_components(_path_pairs(spark))
    assert {r.component for r in labels.collect()} == {0}
    n1 = jsc.getPersistentRDDs().size()
    assert n1 - n0 <= 1, (n0, n1)
