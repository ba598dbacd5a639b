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

Sidecars are replaced atomically (:func:`write_sidecar`): a crash
mid-write leaves the previous sidecar intact, never a truncated one.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession


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
# parameters): a session whose per-process READY memo is empty can
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
