"""Bucketed parquet sink/source — the Spark-native CSR.

The reference's CSR layout exists so neighbor lookups touch one page
run (/root/reference/src/regtests/loadgraph_regtest.cpp:24-31).  The
distributed equivalent of "adjacency is physically co-located by
source node" is a table bucketed (and sorted) by ``src``: every join
or aggregation keyed on ``src`` then reads pre-partitioned data and
plans with ZERO exchange on the bucketed side.  At 100 TB that is the
difference between re-shuffling the edge set per query and never
shuffling it at all — bucketing is paid once at write time.

Bucketed tables must live in the session catalog (bucket metadata is
table metadata, not file metadata), hence ``saveAsTable`` rather than
path writes.

Every bucket is at least one file per write, and every read of the
table runs one task per bucket, so a fixed bucket count sized for the
largest corpus turns a small input into many tiny files and tasks.
:func:`bucket_count` gives a small input one bucket instead, the way
the reference keeps a small table in a few fixed 64 KB pages
(``file_storage.h:13-15``): a table built from a local Parquet file
no larger than ``spark.sql.autoBroadcastJoinThreshold`` (its size read
with ``os.stat``, no Spark job) gets 1 bucket, and every other table
(a larger file, a directory dataset, a remote URI, or broadcast joins
disabled) gets the family's cap.  The threshold is the line because a
one-bucket table is only cheap while its joins broadcast: in a
sort-merge join, a bucketed side with fewer buckets than
``spark.sql.shuffle.partitions`` is either re-shuffled or narrows the
whole join to its bucket count (one task for one bucket), so a table
that may meet a shuffle join keeps the cap.  The input file's size
stands in for the table's, which is only known once the table is
written.
The value is deterministic per snapshot and session conf, so index
families record it in their sidecar payloads: an index written under
another count is never adopted, and an append (whose bucket spec must
equal the table's) uses the count its table was written with.

Persisted state lifecycle
-------------------------
Every persisted index, roll and label family follows one protocol,
the reference's "one data file plus one ``.config`` sidecar"
(``file_storage.h:13-15``): bucketed catalog tables plus one JSON
sidecar that fingerprints them.  A family declares a
:class:`StateSpec` (sidecar name and tables for an ``sf_dir``, its
parameter payload, a fingerprint — a source frame with base and fold
predicates, counted in one ``count_if`` aggregate job — and
``write_base``, plus ``append_fold`` for a roll).  The code below
implements the lifecycle once:

* :func:`build_state` — adopt a matching sidecar over live tables, or
  rebuild;
* :func:`roll_forward` — adopt the ROLLED state, else fold over the
  BASE state, else rebuild then fold;
* :func:`restore_base` and :func:`clear_state` — the bench/test devices
  that reset a family to its base state or to cold;
* :func:`replace_state` — the one step that removes or writes a
  sidecar.

Crash ordering: every table write (rebuild, restore, fold, label
compaction) runs inside :func:`replace_state`, which removes the
sidecar FIRST, writes the tables, and publishes the new sidecar LAST.
A crash anywhere in between leaves no sidecar, so the next session
rebuilds; it can never adopt a sidecar that describes other tables
(a ROLLED sidecar over freshly rebuilt base tables, or a BASE sidecar
over folded ones).  A failed fold append also drops the tables.
Sidecars are replaced atomically (:func:`write_sidecar`): a crash
mid-write leaves the previous sidecar intact, never a truncated one.

One registry, keyed by (application id, sidecar name), holds every
sidecar this process built, adopted or restored, and whether its
state is ready (a BASE-state roll is held but not ready).
:func:`forget_state` empties a family's entries the way a fresh
session starts; :func:`clear_state` also removes their sidecars so the
next call rebuilds cold.
"""

from __future__ import annotations

import os
import stat
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def bucket_count(spark: SparkSession, path: str, cap: int) -> int:
    """Bucket count for a table built from the Parquet file ``path``:
    1 when ``path`` is a regular local file no larger than the
    session's broadcast-join threshold, ``cap`` otherwise (see the
    module docstring)."""
    threshold = (
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )
    try:
        st = os.stat(path)
    except OSError:
        return cap
    if stat.S_ISREG(st.st_mode) and st.st_size <= threshold:
        return 1
    return cap


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 16,
    sort: bool = True,
    sort_cols: list[str] | str | None = None,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by
    ``bucket_cols`` as a catalog table, replacing any prior version.
    ``sort_cols`` widens the in-bucket sort beyond the bucket key
    (e.g. adjacency bucketed by src, sorted by (src, dst))."""
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *cols)
    )
    if sort:
        if sort_cols is None:
            scols = cols
        elif isinstance(sort_cols, str):
            scols = [sort_cols]
        else:
            scols = list(sort_cols)
        writer = writer.sortBy(*scols)
    writer.saveAsTable(table_name)


def append_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 16,
    sort: bool = True,
    sort_cols: list[str] | str | None = None,
) -> None:
    """APPEND ``df`` into an existing bucketed catalog table — the
    roll-forward primitive: new rows land in their hash bucket as new
    files (Spark bucketed appends add per-bucket files; reads stay
    bucket-aware, so join/agg exchange elimination survives the
    append).  The bucket spec must match the table's or Spark refuses
    — callers pass the same spec the original ``write_bucketed`` used.
    ``saveAsTable`` append resolves columns BY NAME, so the frame may
    order columns freely as long as names and types match."""
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = (
        df.write.mode("append").format("parquet").bucketBy(n_buckets, *cols)
    )
    if sort:
        if sort_cols is None:
            scols = cols
        elif isinstance(sort_cols, str):
            scols = [sort_cols]
        else:
            scols = list(sort_cols)
        writer = writer.sortBy(*scols)
    writer.saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    """Read a bucketed catalog table (bucket metadata intact, so joins
    and aggregations on the bucket key skip their exchange)."""
    return spark.table(table_name)


# ---------------------------------------------------------------------------
# Co-located join as a query surface
# ---------------------------------------------------------------------------

# one bucketed write per (application, sf_dir) — the write is the
# one-time physical investment; every subsequent query on the bucket
# key reads pre-partitioned data (the continuous-aggregate contract
# hypertable_daily also follows).  Table names embed the sf_dir (see
# bucket_table_name): names are catalog-global, so a name shared
# across fixture dirs would let one dir's READY entry silently serve
# another dir's data within the same application.
_BUCKETED_READY: set[tuple[str, str]] = set()
BUCKETED_N = 16


def bucket_table_name(base: str, sf_dir: str) -> str:
    """Catalog-safe bucketed-table name scoped to one fixture dir."""
    import re

    suffix = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_").lower()
    return f"{base}_{suffix}"


def drop_bucketed_table(spark: SparkSession, tbl: str) -> None:
    """Drop a bucketed table AND its warehouse directory: a managed-
    table location left by a PREVIOUS application (the in-memory
    catalog forgot it, the warehouse dir didn't) blocks creation with
    LOCATION_ALREADY_EXISTS."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(os.path.join(_warehouse_dir(spark), tbl), ignore_errors=True)


# ---------------------------------------------------------------------------
# Index-adoption sidecars (VERDICT r12 next-round #5)
# ---------------------------------------------------------------------------

# A bucketed-index BUILD is a corpus-linear job; the tables it writes
# are warehouse-global per corpus snapshot.  A sidecar JSON next to
# the tables records the snapshot fingerprint (row count + build
# parameters): a session whose registry (below) is empty can
# ADOPT the existing tables when (a) the sidecar matches what it
# would build and (b) the catalog still knows the tables — instead of
# unconditionally dropping and rewriting them.  That turns "once per
# session" into the true "once per corpus snapshot" nightly-index
# semantics.  On the in-memory catalog (local test sessions) a fresh
# APPLICATION never sees the old catalog entries, so adoption only
# fires within an application or on a metastore-backed cluster — the
# production case.


def _warehouse_dir(spark: SparkSession) -> str:
    return spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")


def sidecar_path(spark: SparkSession, name: str) -> str:
    return os.path.join(_warehouse_dir(spark), f"{name}.sidecar.json")


def write_sidecar(spark: SparkSession, name: str, payload: dict) -> str:
    """Persist an index fingerprint next to its warehouse tables.
    Written AFTER the tables: a crash between table writes and the
    sidecar leaves no sidecar, so the next session rebuilds (never
    adopts a half-written index).  The payload goes to a temp file in
    the same directory that ``os.replace`` then swaps in, so a crash
    mid-write leaves the previous sidecar as it was."""
    import json
    import tempfile

    path = sidecar_path(spark, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(path), prefix=f".{name}.", suffix=".tmp"
    )
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(payload, fh, sort_keys=True)
        os.replace(tmp, path)
    except BaseException:
        remove_sidecar_file(tmp)
        raise
    return path


def read_sidecar(spark: SparkSession, name: str) -> dict | None:
    import json

    path = sidecar_path(spark, name)
    if not os.path.exists(path):
        return None
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def remove_sidecar_file(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def sidecar_adoptable(
    spark: SparkSession,
    name: str,
    expected: dict,
    tables: "list[str] | tuple[str, ...]",
) -> bool:
    """True iff the persisted sidecar matches ``expected`` exactly AND
    every index table is still known to the catalog (a matching
    sidecar over dropped tables must rebuild, not adopt)."""
    if read_sidecar(spark, name) != expected:
        return False
    return all(spark.catalog.tableExists(t) for t in tables)


# ---------------------------------------------------------------------------
# The persisted-state lifecycle (see the module docstring)
# ---------------------------------------------------------------------------

Tables = dict[str, str]


@dataclass(frozen=True, eq=False)
class StateSpec:
    """One sidecar-guarded family of bucketed tables.

    ``tables(spark, sf_dir)`` names the tables; ``sidecar`` names the
    sidecar (default: the first table's name).  ``params(spark,
    sf_dir)`` is every build parameter; the payload adds ``sf_dir``,
    the sorted table names, ``base_rows`` and, for a roll, ``state``
    and ``fold_rows``.  The row counts are ``count_if(base())`` and
    ``count_if(fold())`` over ``source(spark, sf_dir)``.
    ``write_base(spark, sf_dir, tables)`` writes the base state,
    dropping any prior tables first, and may return the base row count
    its own scan observed (the build then runs no count job).
    ``append_fold(spark, sf_dir, tables)`` appends the fold block; a
    spec with one is a roll."""

    name: str
    tables: Callable[[SparkSession, str], Tables]
    params: Callable[[SparkSession, str], dict]
    source: Callable[[SparkSession, str], DataFrame]
    base: Callable[[], Column]
    write_base: Callable[[SparkSession, str, Tables], "int | None"]
    fold: Callable[[], Column] | None = None
    append_fold: Callable[[SparkSession, str, Tables], None] | None = None
    sidecar: Callable[[SparkSession, str], str] | None = None

    def __post_init__(self) -> None:
        STATE_SPECS[self.name] = self

    def sidecar_name(self, spark: SparkSession, sf_dir: str) -> str:
        if self.sidecar is not None:
            return self.sidecar(spark, sf_dir)
        return next(iter(self.tables(spark, sf_dir).values()))


def frame_writer(
    frame: Callable[[SparkSession, str], DataFrame],
    bucket_col: str,
    n_buckets: int,
    append: bool = False,
) -> Callable[[SparkSession, str, Tables], None]:
    """A ``write_base`` (or, with ``append``, an ``append_fold``) that
    writes ``frame(spark, sf_dir)`` into a spec's one table."""

    def write(spark: SparkSession, sf_dir: str, tables: Tables) -> None:
        (tbl,) = tables.values()
        if not append:
            drop_bucketed_table(spark, tbl)
        put = append_bucketed if append else write_bucketed
        put(frame(spark, sf_dir), tbl, bucket_col, n_buckets=n_buckets)

    return write


# every spec, by name (test parametrization walks the roll specs)
STATE_SPECS: dict[str, StateSpec] = {}
# (applicationId, sidecar name) -> (spec, sidecar path, ready)
_HELD: dict[tuple[str, str], tuple[StateSpec, str, bool]] = {}


def _key(spark: SparkSession, spec: StateSpec, sf_dir: str) -> tuple:
    return (spark.sparkContext.applicationId, spec.sidecar_name(spark, sf_dir))


def _hold(
    spark: SparkSession, spec: StateSpec, sf_dir: str, ready: bool
) -> None:
    key = _key(spark, spec, sf_dir)
    _HELD[key] = (spec, sidecar_path(spark, key[1]), ready)


def state_ready(spark: SparkSession, spec: StateSpec, sf_dir: str) -> bool:
    """True iff this process built or adopted ``spec``'s complete
    state for ``sf_dir`` (a restored BASE roll is not ready)."""
    held = _HELD.get(_key(spark, spec, sf_dir))
    return held is not None and held[2]


def forget_state(spec: StateSpec) -> None:
    """Forget every registry entry of ``spec``, sidecars left on disk:
    the next call starts as a fresh session does (adopt or rebuild)."""
    for key in [k for k, v in _HELD.items() if v[0] is spec]:
        del _HELD[key]


def clear_state(spec: StateSpec) -> None:
    """Forget ``spec``'s entries AND remove their sidecars (built or
    adopted), so the next call rebuilds cold (bench pricing).  Tables
    are overwritten in place by that rebuild; nothing to unpersist."""
    for key in [k for k, v in _HELD.items() if v[0] is spec]:
        remove_sidecar_file(_HELD.pop(key)[1])


def _params(
    spark: SparkSession, spec: StateSpec, sf_dir: str, tables: Tables
) -> dict:
    return {
        **spec.params(spark, sf_dir),
        "sf_dir": sf_dir,
        "tables": sorted(tables.values()),
    }


def _counts(spark: SparkSession, spec: StateSpec, sf_dir: str) -> dict:
    aggs = [F.count_if(spec.base()).alias("base_rows")]
    if spec.fold is not None:
        aggs.append(F.count_if(spec.fold()).alias("fold_rows"))
    return spec.source(spark, sf_dir).agg(*aggs).first().asDict()


def roll_payloads(
    spark: SparkSession, spec: StateSpec, sf_dir: str
) -> tuple[dict, dict]:
    """(base-state, rolled-state) sidecar payloads of a roll spec: both
    carry every parameter and the covered-block row counts (one
    aggregate job), so a parameter or snapshot change makes both
    unadoptable."""
    n = _counts(spark, spec, sf_dir)
    base = dict(
        _params(spark, spec, sf_dir, spec.tables(spark, sf_dir)),
        state="base",
        base_rows=n["base_rows"],
    )
    return base, dict(base, state="rolled", fold_rows=n["fold_rows"])


def replace_state(
    spark: SparkSession,
    spec: StateSpec,
    sf_dir: str,
    write: Callable[[], object],
    payload: "dict | Callable[[object], dict]",
) -> None:
    """The one crash ordering: remove the sidecar, run ``write()``,
    then publish ``payload`` (or ``payload(write())``).  A failure
    anywhere in between leaves no sidecar, so the next session
    rebuilds; a published BASE roll is held but not ready."""
    key = _key(spark, spec, sf_dir)
    _HELD.pop(key, None)
    remove_sidecar_file(sidecar_path(spark, key[1]))
    out = write()
    if callable(payload):
        payload = payload(out)
    write_sidecar(spark, key[1], payload)
    _hold(spark, spec, sf_dir, payload.get("state") != "base")


def _fold(
    spark: SparkSession, spec: StateSpec, sf_dir: str, tables: Tables
) -> None:
    try:
        spec.append_fold(spark, sf_dir, tables)
    except Exception:
        # a half-appended state is never adoptable: its sidecar is
        # already gone, and the tables go too
        for t in tables.values():
            drop_bucketed_table(spark, t)
        raise


def build_state(spark: SparkSession, spec: StateSpec, sf_dir: str) -> Tables:
    """Adopt-or-rebuild an index spec once per (application, sidecar).
    The fingerprint is counted last, only when the sidecar's parameters
    match and the tables exist (a missing sidecar or a parameter change
    is a certain rebuild); a rebuild records the count its write
    observed, or counts after writing."""
    tables = spec.tables(spark, sf_dir)
    if state_ready(spark, spec, sf_dir):
        return tables
    params = _params(spark, spec, sf_dir, tables)
    prior = read_sidecar(spark, spec.sidecar_name(spark, sf_dir)) or {}
    if (
        {k: v for k, v in prior.items() if k != "base_rows"} == params
        and all(spark.catalog.tableExists(t) for t in tables.values())
        and prior.get("base_rows") == _counts(spark, spec, sf_dir)["base_rows"]
    ):
        _hold(spark, spec, sf_dir, True)
        return tables

    def payload(seen: "int | None") -> dict:
        if seen is None:
            seen = _counts(spark, spec, sf_dir)["base_rows"]
        return dict(params, base_rows=seen)

    rebuild = partial(spec.write_base, spark, sf_dir, tables)
    replace_state(spark, spec, sf_dir, rebuild, payload)
    return tables


def roll_forward(spark: SparkSession, spec: StateSpec, sf_dir: str) -> Tables:
    """Advance a roll spec from its BASE block to base ∪ fold, once per
    (application, sidecar): adopt the ROLLED state; else fold over a
    BASE state; else rebuild the base, then fold.  Every parameter is
    in both payloads, so a parameter change always lands in the
    rebuild arm."""
    tables = spec.tables(spark, sf_dir)
    if state_ready(spark, spec, sf_dir):
        return tables
    pb, pr = roll_payloads(spark, spec, sf_dir)
    name = spec.sidecar_name(spark, sf_dir)
    if sidecar_adoptable(spark, name, pr, list(tables.values())):
        _hold(spark, spec, sf_dir, True)
        return tables
    if not sidecar_adoptable(spark, name, pb, list(tables.values())):
        rebuild = partial(spec.write_base, spark, sf_dir, tables)
        replace_state(spark, spec, sf_dir, rebuild, pb)
    fold = partial(_fold, spark, spec, sf_dir, tables)
    replace_state(spark, spec, sf_dir, fold, pr)
    return tables


def restore_base(spark: SparkSession, spec: StateSpec, sf_dir: str) -> None:
    """Bench/test device: force a roll spec back to its pre-fold BASE
    state (corpus-linear rebuild + base sidecar), so the next
    :func:`roll_forward` performs the fold alone.  Production never
    calls this."""
    tables = spec.tables(spark, sf_dir)
    pb, _ = roll_payloads(spark, spec, sf_dir)
    rebuild = partial(spec.write_base, spark, sf_dir, tables)
    replace_state(spark, spec, sf_dir, rebuild, pb)


def _ensure_bucketed_orders_customer(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    from pyspark.sql import functions as F  # noqa: F401

    from smile_spark.tables import table

    t_orders = bucket_table_name("bkt_orders", sf_dir)
    t_customer = bucket_table_name("bkt_customer", sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _BUCKETED_READY:
        return t_orders, t_customer
    for tbl in (t_orders, t_customer):
        drop_bucketed_table(spark, tbl)
    write_bucketed(
        table(spark, sf_dir, "orders").select(
            "o_custkey", "o_totalprice", "o_orderstatus"
        ),
        t_orders,
        "o_custkey",
        n_buckets=BUCKETED_N,
    )
    write_bucketed(
        table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        ),
        t_customer,
        "o_custkey",
        n_buckets=BUCKETED_N,
    )
    _BUCKETED_READY.add(key)
    return t_orders, t_customer


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """Revenue per market segment through a CO-LOCATED join: both
    sides persisted bucketed (and sorted) by the join key, so the join
    reads pre-partitioned buckets with NO exchange on either side —
    the Spark-native analogue of the reference's CSR locality, paid
    once at write time (tests assert the plan has no hash exchange
    before the join).

    At 100 TB this is THE big-big join strategy when one side can't
    broadcast: bucket both fact tables by the shared key at ingest and
    every subsequent join/aggregate on that key skips its shuffle."""
    from pyspark.sql import functions as F

    from smile_spark.functions.numeric import dsum

    t_orders, t_customer = _ensure_bucketed_orders_customer(spark, sf_dir)
    o = read_bucketed(spark, t_orders)
    c = read_bucketed(spark, t_customer)
    return (
        o.join(c, "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
    )


BUCKETED_JOIN_REVENUE_SQL = (
    "SELECT c.c_mktsegment, COUNT(*) AS n_orders,"
    " CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
    "  AS revenue"
    " FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey"
    " GROUP BY c.c_mktsegment"
)
