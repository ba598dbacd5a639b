"""Benchmark command: one workload, one client, closed loop.

    python3 perfbench/run.py --workload olap_scan_agg --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout.  The run

1. reads the repository's sf0.001 test fixtures, kept beside the
   benchmark in ``perfbench/fixtures/sf0.001``; the seed permutes op
   order within a pass;
2. pins the machine setup (cores, driver heap, Spark local dirs, a
   private warehouse) and starts the engine's session;
3. sets up: session start, catalog load, and one warm-up pass in which
   every op's result is compared with its DuckDB twin
   (``smile_spark.testing.assert_matches_oracle``);
4. repeats whole passes until ``--seconds`` have elapsed and at least
   two passes ran (with ``--trace 1``, one untraced and one traced),
   timing each op and pass by wall clock and by the CPU time of the
   process tree;
5. prints, as the last line of stdout, one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``: the
   end-to-end metrics with ``--trace 0``, the per-layer metrics of a
   traced run with ``--trace 1`` (see ``perfbench/README.md``).

Exits 2 without a result when the engine is not beside the benchmark.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SF_DIR = os.path.join(HERE, "fixtures", "sf0.001")
DRIVER_MEMORY = "1g"
MIN_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "op_cpu_p50_s": "s",
    "peak_rss_mb": "MB",
}
# A fixed-size heap: with the heap grown on demand, the JVM's peak RSS
# varied by 10-24% between runs of one workload.  C1 only: the C2
# compiler kept recompiling through the measured passes, so a pass's CPU
# time fell by a quarter from one pass to the next.  C1's default 48 MB
# code cache fills by the fourth pass and flushing then doubles every
# op's CPU time, hence the larger cache.  The serial collector keeps GC
# work on one thread.
JAVA_OPTIONS = (
    f"-Xms{DRIVER_MEMORY} -XX:+UseSerialGC -XX:TieredStopAtLevel=1"
    " -XX:ReservedCodeCacheSize=256m"
)


def _per_layer_units() -> dict[str, str]:
    from workloads import OP_LAYERS

    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "tables.catalog_s": "s",
        "tables.input_bytes": "bytes",
        "tables.input_rows": "count",
    }
    for layer in OP_LAYERS:
        for m, u in (("call_s", "s"), ("exec_s", "s"), ("cpu_s", "s"),
                     ("jobs", "count"),
                     ("driver_only_s", "s"), ("shuffle_write_bytes", "bytes"),
                     ("task_skew", "ratio")):
            units[f"{layer}.{m}"] = u
    units.update({
        "operators.dedup.probe_bytes_written": "bytes",
        "sources.bucketed.bytes_written": "bytes",
        "sources.bucketed.files_written": "count",
        "sources.bucketed.stored_bytes": "bytes",
        "sources.bucketed.stored_bytes_per_input_byte": "ratio",
        "step.build_s": "s",
        "step.probe_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.job_busy_s": "s",
        "spark.driver_only_s": "s",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.jvm_gc_s": "s",
        "spark.core_util": "ratio",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.task_skew": "ratio",
        "trace.overhead": "ratio",
        "trace.untraced_pass_s": "s",
        "op_n": "count",
    })
    return units


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_environment(run_dir: str) -> dict[str, str]:
    """Machine setup for the engine; must run before pyspark starts."""
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM of the run (the launcher too) keeps its temp files
        # inside the run directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(pinned)
    tempfile.tempdir = tmp
    return pinned


def _peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """High-water RSS of the Spark JVM and of this Python driver."""
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"jvm": jvm_kb / 1024.0, "python": py_kb / 1024.0}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds this process and all its descendants (the Spark JVM
    and any Python workers) have used, children already reaped included.

    The kernel charges a task only for the time it ran: with paravirtual
    steal accounting, time the hypervisor gave to other guests is left
    out, so this grows far less than wall time when the host is busy."""
    ticks: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command: state ppid ... utime stime cutime cstime
        ticks[int(name)] = sum(int(x) for x in rest[11:15])
        children.setdefault(int(rest[1]), []).append(int(name))
    total, frontier = 0, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        total += ticks.get(pid, 0)
        frontier.extend(children.get(pid, ()))
    return total / _CLK_TCK


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — must not leave the JVM behind
            proc.kill()
            proc.wait()


class Runner:
    """Runs the passes of one workload and keeps their samples."""

    def __init__(self, spark, sf_dir: str, op_list, tracer=None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.ops = op_list
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.results: dict[str, object] = {}  # op name -> pandas result

    def warmup(self) -> None:
        """One untimed pass that collects every result with a DuckDB
        twin to the driver, for :meth:`check`."""
        for op in self.ops:
            self.attempted += 1
            try:
                if op.reset:
                    op.reset()
                out = op.fn(self.spark, self.sf_dir)
                if op.oracle is not None:
                    self.results[op.name] = out.toPandas()
            except Exception:  # noqa: BLE001 — a failed op is counted
                self.failed += 1
                print(f"op {op.name} failed:", file=sys.stderr)
                traceback.print_exc()

    def check(self) -> None:
        """Compare the warm-up results with their DuckDB twins through
        ``assert_matches_oracle``."""
        from smile_spark.testing import assert_matches_oracle

        for op in self.ops:
            if op.name not in self.results:
                continue
            got = self.results[op.name]
            try:
                assert_matches_oracle(
                    self.spark, lambda *_: _Collected(got), op.oracle, self.sf_dir
                )
            except AssertionError as exc:
                self.failed += 1
                print(f"oracle mismatch in {op.name}: {exc}", file=sys.stderr)

    def one_pass(self, index: int, traced: bool) -> dict:
        """Run every op once; returns the pass record."""
        from pyspark.sql import DataFrame

        rec = {"ops": [], "span": None, "cpu": 0.0}
        t_pass, ticks = time.perf_counter(), _cpu_ticks()
        ctx = (
            self.tracer.span(f"pass{index}", kind="pass")
            if traced else contextlib.nullcontext()
        )
        with ctx as pass_span:
            rec["span"] = pass_span
            for op in self.ops:
                self.attempted += 1
                if op.reset:
                    op.reset()
                cpu0 = tree_cpu_s()
                try:
                    if traced:
                        with self.tracer.span(op.name, kind="op", layer=op.layer,
                                              step=op.step):
                            with self.tracer.span("call", leaf=True, kind="phase",
                                                  phase="call") as s_call:
                                out = op.fn(self.spark, self.sf_dir)
                            with self.tracer.span("exec", leaf=True, kind="phase",
                                                  phase="exec") as s_exec:
                                if isinstance(out, DataFrame):
                                    out.write.format("noop").mode("overwrite").save()
                        call_s, exec_s = s_call.wall, s_exec.wall
                    else:
                        t0 = time.perf_counter()
                        out = op.fn(self.spark, self.sf_dir)
                        t1 = time.perf_counter()
                        if isinstance(out, DataFrame):
                            out.write.format("noop").mode("overwrite").save()
                        call_s, exec_s = t1 - t0, time.perf_counter() - t1
                except Exception:  # noqa: BLE001 — a failed op is counted
                    self.failed += 1
                    print(f"op {op.name} failed:", file=sys.stderr)
                    traceback.print_exc()
                    continue
                del out
                cpu_s = tree_cpu_s() - cpu0
                rec["cpu"] += cpu_s
                rec["ops"].append({
                    "name": op.name, "layer": op.layer, "step": op.step,
                    "call_s": call_s, "exec_s": exec_s, "cpu_s": cpu_s,
                })
        rec["wall"] = time.perf_counter() - t_pass
        # CPU time the hypervisor gave to other guests during the pass;
        # passes taken under heavy steal read slow, wall time most
        steal, total = (b - a for a, b in zip(ticks, _cpu_ticks()))
        rec["steal"] = steal / max(total, 1)
        return rec


class _Collected:
    """A result already collected to pandas, in the shape
    ``assert_matches_oracle`` expects from a query function."""

    def __init__(self, frame):
        self._frame = frame

    def toPandas(self):
        return self._frame


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end_metrics(setup: dict, passes: list, peak_rss: dict) -> dict:
    """CPU times of the best measured pass and of each op's best sample:
    the first measured pass still runs 5-15% above the next ones, and a
    burst of load on the host inflates one pass, not all of them."""
    best_op: dict[str, float] = {}
    for p in passes:
        for o in p["ops"]:
            best_op[o["name"]] = min(best_op.get(o["name"], o["cpu_s"]),
                                     o["cpu_s"])
    return {
        "setup_s": setup["cpu_s"],
        "pass_cpu_s": min(p["cpu"] for p in passes),
        "op_cpu_p50_s": _median(list(best_op.values())),
        "peak_rss_mb": sum(peak_rss.values()),
    }


def per_layer_metrics(setup, traced, untraced, tracer, cores, input_bytes):
    """Per-pass sums over the traced passes, reported as medians."""
    from tracing import union_seconds, warehouse_files
    from workloads import OP_LAYERS

    per_pass = []
    for rec in traced:
        p = rec["span"]
        m: dict[str, float] = {}
        add = lambda k, v: m.__setitem__(k, m.get(k, 0.0) + v)  # noqa: E731
        op_spans = [s for s in tracer.spans if s.parent == p.span_id]
        all_jobs, skews = [], []
        for o in rec["ops"]:
            add(f"{o['layer']}.cpu_s", o["cpu_s"])
        for op_span in op_spans:
            layer, step = op_span.attrs["layer"], op_span.attrs["step"]
            add(f"step.{step}_s", op_span.wall)
            for ph in (s for s in tracer.spans if s.parent == op_span.span_id):
                phase = ph.attrs["phase"]
                add(f"{layer}.{phase}_s", ph.wall)
                add(f"{layer}.jobs", ph.job_count)
                add(f"{layer}.driver_only_s",
                    ph.wall - union_seconds(ph.jobs, ph.start, ph.end))
                add("sources.bucketed.bytes_written", ph.bytes_written)
                add("sources.bucketed.files_written", ph.files_written)
                if step == "probe":
                    add("operators.dedup.probe_bytes_written", ph.bytes_written)
                all_jobs.extend(ph.jobs)
                for st in ph.stages:
                    add(f"{layer}.shuffle_write_bytes", st["shuffleWriteBytes"])
                    add("spark.stages", 1)
                    add("spark.tasks", st["numTasks"])
                    add("spark.executor_run_s", st["executorRunTime"] / 1e3)
                    add("spark.executor_cpu_s", st["executorCpuTime"] / 1e9)
                    add("spark.jvm_gc_s", st["jvmGcTime"] / 1e3)
                    add("spark.shuffle_read_bytes", st["shuffleReadBytes"])
                    add("spark.shuffle_write_bytes", st["shuffleWriteBytes"])
                    add("spark.spill_bytes", st["diskBytesSpilled"])
                    add("tables.input_bytes", st["inputBytes"])
                    add("tables.input_rows", st["inputRecords"])
                    if "task_max_ms" in st:
                        skew = st["task_max_ms"] / max(st["task_median_ms"], 1.0)
                        skews.append((layer, skew))
        for layer in OP_LAYERS:
            m[f"{layer}.task_skew"] = max(
                (s for lay, s in skews if lay == layer), default=0.0
            )
        m["spark.task_skew"] = max((s for _, s in skews), default=0.0)
        m["spark.jobs"] = p.jobs_launched
        busy = union_seconds(all_jobs, p.start, p.end)
        m["spark.job_busy_s"] = busy
        m["spark.driver_only_s"] = p.wall - busy
        m["spark.core_util"] = m.get("spark.executor_run_s", 0.0) / (p.wall * cores)
        per_pass.append(m)
    units = _per_layer_units()
    out = {k: _median([m.get(k, 0.0) for m in per_pass]) for k in units}
    stored = sum(size for size, _ in warehouse_files(tracer.warehouse).values())
    out.update({
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "tables.catalog_s": setup["catalog_s"],
        "sources.bucketed.stored_bytes": stored,
        "sources.bucketed.stored_bytes_per_input_byte": stored / input_bytes,
        "trace.untraced_pass_s": _median([p["wall"] for p in untraced]),
        "op_n": sum(len(p["ops"]) for p in traced),
    })
    out["trace.overhead"] = (
        _median([p["wall"] for p in traced]) / out["trace.untraced_pass_s"]
    )
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "smile_spark")):
        print(f"no smile_spark package beside {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {WORKLOADS}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    sf_dir = SF_DIR
    input_bytes = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    pinned = _pin_environment(run_dir)
    warehouse = os.path.join(run_dir, "warehouse")

    from smile_spark.session import get_spark
    from smile_spark.tables import register_views
    from workloads import ops, seeded_order

    t0, cpu0 = time.perf_counter(), tree_cpu_s()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": warehouse,
            "spark.driver.extraJavaOptions": JAVA_OPTIONS,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        setup = {"start_s": time.perf_counter() - t0}
        t0 = time.perf_counter()
        register_views(spark, sf_dir)
        setup["catalog_s"] = time.perf_counter() - t0

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, warehouse)
        runner = Runner(
            spark, sf_dir, seeded_order(ops(args.workload), args.seed), tracer
        )
        t0 = time.perf_counter()
        # one warm-up pass only: with a second one, a run took 56-77 s on
        # a 4-core VM, past the run budget in perfbench/README.md
        runner.warmup()
        setup["warmup_s"] = time.perf_counter() - t0
        setup["cpu_s"] = tree_cpu_s() - cpu0

        traced, untraced = [], []
        with (tracer.span(args.workload, kind="workload") if tracer
              else contextlib.nullcontext()):
            t_start = time.perf_counter()
            while True:
                # a traced run alternates untraced and traced passes, so
                # the tracing overhead is measured inside the run; which
                # of a pair runs first alternates too, so that warm-up
                # still going on favours neither
                order = (False, True) if tracer else (False,)
                if len(untraced) % 2:
                    order = order[::-1]
                for trace_pass in order:
                    rec = runner.one_pass(len(untraced) + len(traced), trace_pass)
                    (traced if trace_pass else untraced).append(rec)
                # an untraced run measures at least two passes, so that
                # its best pass is past the first
                if (time.perf_counter() - t_start >= args.seconds
                        and len(untraced) >= (1 if tracer else MIN_PASSES)):
                    break
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = _peak_rss_mb(jvm_pid)
        cores = int(pinned["SPARK_GRAFT_CPUS"])
        if args.trace:
            metrics = per_layer_metrics(
                setup, traced, untraced, tracer, cores, input_bytes
            )
            units = _per_layer_units()
            tracer.write(os.path.join(
                WORK, "spans", f"{args.workload}-seed{args.seed}.json"
            ))
        else:
            metrics = end_to_end_metrics(setup, untraced, peak_rss)
            units = END_TO_END
    finally:
        _stop_spark(spark)
    runner.check()

    samples: dict[str, list] = {}
    cpu_samples: dict[str, list] = {}
    for rec in untraced:
        for o in rec["ops"]:
            samples.setdefault(o["name"], []).append(o["call_s"] + o["exec_s"])
            cpu_samples.setdefault(o["name"], []).append(o["cpu_s"])
    print(json.dumps({"perfbench": {
        "workload": args.workload, "seed": args.seed,
        "cores": cores, "driver_memory": DRIVER_MEMORY,
        "java_options": JAVA_OPTIONS,
        "untraced_pass_s": [round(p["wall"], 3) for p in untraced],
        "untraced_pass_cpu_s": [round(p["cpu"], 3) for p in untraced],
        "pass_steal_share": [round(p["steal"], 4) for p in untraced],
        "traced_pass_s": [round(p["wall"], 3) for p in traced],
        "op_n": sum(len(v) for v in samples.values()),
        "op_median_s": {n: round(_median(v), 4) for n, v in samples.items()},
        "op_median_cpu_s": {n: round(_median(v), 4)
                            for n, v in cpu_samples.items()},
        "setup": setup,
        "peak_rss_mb": peak_rss,
    }}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            k: {"value": metrics[k], "unit": u} for k, u in units.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
