"""Registry of declared queries (SURVEY §2 coverage ledger).

Determinism contract for oracle hash-matching (driver compares Spark vs
DuckDB cell values):

- Never emit a raw float aggregate whose value depends on accumulation
  order (double sums differ in low bits across engines/partitionings).
  Cast the summand to DECIMAL first — decimal addition is exact and
  order-independent — then cast the final aggregate back to DOUBLE.
- MIN/MAX/any-pick of stored doubles is exact (same bits both engines).
- Every top-k / LIMIT has a total-order tie-break (unique key last).
- Arrays are emitted as sorted, joined strings (engines disagree on
  array rendering, not on strings).
- Timestamps compare fine with session TZ pinned to UTC.
- The driver's hash is ROW-ORDER sensitive (it sorts columns by name,
  not rows).  Every registered query is therefore wrapped in a final
  total-order sort over ALL output columns (Spark: orderBy asc_nulls_first
  in column order; oracle: ORDER BY ALL NULLS FIRST — same priority, since
  column order parity between the two sides is asserted by tests).  Queries
  keep their semantic ORDER BY/LIMIT inside; the wrapper only pins the
  emitted row order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => rows-only check (non-SQL-expressible)
    survey: str = ""  # SURVEY §2 operator ids this exercises, e.g. "A2,A14"
    doc: str = field(default="")


QUERIES: dict[str, Query] = {}


def total_order(df: DataFrame) -> DataFrame:
    """Deterministic emitted row order: sort by every output column,
    nulls first, in column order (total order because the full row is
    the key; equal rows are interchangeable)."""
    from pyspark.sql import functions as F

    return df.orderBy(*[F.col(c).asc_nulls_first() for c in df.columns])


def wrap_oracle(sql: str) -> str:
    """DuckDB twin of total_order (ORDER BY ALL = all columns left-to-right,
    matching Spark's column order; parity is test-asserted)."""
    return f"SELECT * FROM (\n{sql}\n) AS _ord ORDER BY ALL NULLS FIRST"


def query(name: str, oracle: str | None, survey: str = ""):
    """Decorator registering a declared query.  The registered spark_fn and
    oracle are wrapped with the total-order contract; the bare function is
    returned unwrapped for plan tests and composition."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return total_order(fn(spark, sf_dir))

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = Query(
            name,
            wrapped,
            wrap_oracle(oracle) if oracle is not None else None,
            survey,
            doc=(fn.__doc__ or ""),
        )
        return fn

    return deco


def dsum(col):
    """Order-independent sum of a double expression: exact decimal
    accumulation, final result as double (identical bits both engines)."""
    from pyspark.sql import functions as F

    return F.sum(col.cast("decimal(30,6)")).cast("double")


# SQL-side twin of dsum for oracle strings.
def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE)"
