"""Query registry: the single source for ``__spark_entry__.py``.

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame``
with an optional DuckDB oracle SQL string over the pre-registered
fixture views. Plan modules self-register at import time; importing
:mod:`web_attack_detection_spark.plans.all_plans` populates everything.

Determinism contract (applies to BOTH sides of every pair): floating
aggregates are computed over *integer-scaled* values — e.g. money sums
as ``SUM(CAST(ROUND(x * 100) AS BIGINT)) / 100.0`` — so the result is
an exact integer sum followed by one deterministic division, identical
across engines AND across partition orders. That last property is a
genuine scale feature: a plain double ``SUM`` changes in the last ulp
every time the shuffle reorders partitions; the scaled sum does not.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver does a rows-only check
    doc: str = ""
    # the idempotent input fixture ``fn`` reads (io/fixtures.py); ``fn``
    # calls it too, so running it first only moves its one-time cost
    # out of the query. The return value is ignored.
    setup: Callable[[SparkSession, str], object] | None = None


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    setup: Callable[[SparkSession, str], object] | None = None,
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc, setup=setup)
        return fn

    return deco


# --- shared deterministic-aggregate helpers (Spark side) -----------------

from pyspark.sql import Column  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def money_sum(col: Column, scale: int = 100, ndigits: int = 2) -> Column:
    """Exact integer-scaled sum → one double division. Engine- and
    partition-order-independent (see module docstring)."""
    return F.round(
        F.sum(F.round(col * F.lit(float(scale))).cast("long")) / F.lit(float(scale)),
        ndigits,
    )


def money_avg(col: Column, scale: int = 100, ndigits: int = 6) -> Column:
    return F.round(
        F.sum(F.round(col * F.lit(float(scale))).cast("long"))
        / F.count(col).cast("double")
        / F.lit(float(scale)),
        ndigits,
    )


def sql_money_sum(expr: str, scale: int = 100, ndigits: int = 2) -> str:
    """DuckDB twin of :func:`money_sum` — textually identical math."""
    return f"ROUND(SUM(CAST(ROUND(({expr}) * {scale}) AS BIGINT)) / {scale}.0, {ndigits})"


def sql_money_avg(expr: str, scale: int = 100, ndigits: int = 6) -> str:
    return (
        f"ROUND(SUM(CAST(ROUND(({expr}) * {scale}) AS BIGINT)) / "
        f"CAST(COUNT({expr}) AS DOUBLE) / {scale}.0, {ndigits})"
    )
