"""The benchmark's workloads, as ordered lists of operator calls.

Each op names the repository module (layer) whose public function the
benchmark calls, the function itself (it receives only ``(spark,
sf_dir)``), an optional untimed reset that runs right before it, and
the DuckDB twin from ``__spark_entry__.oracle_sql()`` that the
correctness gate compares it with.  Ops of ``dedup_nightly_daily`` are
split into three steps: the nightly ``build``, the daily ``probe``, and
one Pregel-style ``graph`` loop.  The seed permutes op order within each
step, and within the whole pass for ``olap_scan_agg``.
"""

from __future__ import annotations

import dataclasses
import random
from collections.abc import Callable

RELATIONAL = "operators.relational"
GRAPH = "operators.graph"
DEDUP = "operators.dedup"
PIPELINE = "operators.pipeline"
OP_LAYERS = (RELATIONAL, GRAPH, DEDUP, PIPELINE)


@dataclasses.dataclass(frozen=True)
class Op:
    name: str
    layer: str
    fn: Callable
    step: str = "pass"
    reset: Callable[[], None] | None = None
    oracle: str | None = None


OLAP_OPS = (
    "scan scan_filter_count groupby_count groupby_count_array hashjoin_agg"
    " projection casts_parse pricing_summary q3_shipping_priority"
    " regional_revenue window_rank rollup_summary join_variants"
    " top_customers"
).split()


def ops(workload: str) -> list[Op]:
    """The ops of one pass of ``workload``, in canonical order."""
    import __spark_entry__ as entry
    from smile_spark.operators import dedup as D

    q, sql = entry.queries(), entry.oracle_sql()
    if workload == "olap_scan_agg":
        op_list = [Op(n, RELATIONAL, q[n]) for n in OLAP_OPS]
    elif workload == "dedup_nightly_daily":
        op_list = [
            Op("setsim_index_build", DEDUP, D.setsim_index_build, "build",
               D.clear_setsim_index_cache),
            Op("setsim_incremental_indexed", DEDUP,
               q["setsim_incremental_indexed"], "probe"),
            Op("dedup_canonical", PIPELINE, q["dedup_canonical"], "probe"),
            Op("connected_components", GRAPH, q["connected_components"],
               "graph"),
        ]
    else:
        raise KeyError(f"unknown workload {workload!r}; one of {WORKLOADS}")
    return [dataclasses.replace(op, oracle=sql.get(op.name)) for op in op_list]


WORKLOADS = ("olap_scan_agg", "dedup_nightly_daily")


def seeded_order(op_list: list[Op], seed: int) -> list[Op]:
    """Permute ``op_list`` within each step, keeping the steps in order."""
    rng = random.Random(seed)
    out: list[Op] = []
    for step in dict.fromkeys(op.step for op in op_list):
        group = [op for op in op_list if op.step == step]
        rng.shuffle(group)
        out.extend(group)
    return out
