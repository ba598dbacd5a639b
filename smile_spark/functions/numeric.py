"""Deterministic numeric aggregation helpers.

Floating-point SUM is order-dependent, and a distributed engine does
not guarantee reduction order — so a double SUM can differ between two
runs of the *same* engine, let alone between Spark and the DuckDB
oracle.  The reference never faces this (its sums are integer,
/root/reference/src/regtests/hashjoin_regtest.cpp:96-97); our fixture
measures are doubles.  We therefore aggregate money/quantity columns in
DECIMAL(18,2) — exact, associative, commutative — and cast the final
result to DOUBLE.  The oracle SQL does the identical
``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)``, so both engines
produce bit-identical doubles regardless of partitioning.  This is also
the right call at 100 TB: decimal partial aggregates stay in Tungsten
codegen and make results reproducible across cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def dsum(col: str | Column, alias: str) -> Column:
    """Exact (decimal-accumulated) SUM of a 2-decimal measure → double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """Exact-sum average: CAST(SUM(decimal) AS DOUBLE) / COUNT —
    deterministic because the division happens once, on exact inputs."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    """Oracle-side rendering of :func:`dsum` (ANSI SQL for DuckDB)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"
