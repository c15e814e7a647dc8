"""Registry wiring operators to the driver contract (__spark_entry__.py).

Every operator from SURVEY.md §2 registers here as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus, when the
semantics are ANSI-SQL-expressible, the equivalent DuckDB oracle SQL.
The driver runs both at sf0.01 and hash-compares (row count + schema +
order-insensitive value hash), so:

- every computed column is aliased identically on both sides,
- floating aggregates go through :func:`exact_sum` (decimal-exact
  accumulation, then cast to double) or are rounded identically,
  because double summation order differs between engines (SURVEY.md §7.4.1).

Registration order is registry order. The driver checks only the first 50
keys per round, so ``__spark_entry__`` reorders the registry from the
recorded CORRECTNESS_r*.json history: the sentinel plus errored or
never-checked keys, then forced re-checks, then rows-only keys due on a
2-round cadence, then the verified tail, oldest green round first.
Registry order breaks ties within each tier.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a driver-checked query. ``oracle=None`` → rows-only check
    (approx/hash-seeded/streaming ops that can never hash-match, §7.4.6)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


# --- float-parity helpers (SURVEY.md §7.4.1) --------------------------------
# sum(double) is order-dependent; Spark's partial aggregation and DuckDB's
# accumulate in different orders, so late-ulp drift breaks hash equality.
# Accumulating in DECIMAL is exact and associative → both engines agree on
# the exact decimal. The decimal→double CAST is the second trap: DuckDB's
# int128→double conversion is not correctly rounded once the unscaled value
# exceeds 2^53 (observed at sf0.1: 7.47e9 summed at scale 8 → ...249999 vs
# Spark's ...25). Two defenses layer here:
#   (1) the ORACLE routes decimal→double THROUGH VARCHAR (round 13):
#       DuckDB's string→double parse is correctly rounded, and Spark's
#       BigDecimal.doubleValue() is correctly rounded, so both engines
#       derive the IDENTICAL double from the identical exact decimal at
#       ANY magnitude. The round-13 sf1 sweep proved the old grid-snap
#       argument has a magnitude ceiling: at sum_charge ≈ 2.8e10 the
#       double's ulp (≈3.8e-6) exceeds the 6-dp half-grid (5e-7), and
#       the flagship's oracle drifted one ulp off Spark's value —
#       invisible at sf0.1, certain at 100-TB magnitudes.
#   (2) ROUND to the expression's decimal grid (dp) on both sides —
#       keeps results on the human-meaningful grid and makes the snap
#       robust where the ulp is still below half the grid spacing. dp
#       must be ≥ the summed expression's decimal count (money = 2,
#       price*(1-disc) = 4, price*(1-disc)*(1+tax) = 6); the default 4
#       covers every ≤4-dp input because coarser grids embed in finer
#       ones.

_DEC = "decimal(30,8)"


def exact_sum(col: Column | str, dp: int = 4) -> Column:
    """Order-independent double sum: accumulate as decimal(30,8), emit a
    double snapped to the expression's ``dp``-decimal grid."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(_DEC)).cast("double"), dp)


def exact_avg(col: Column | str, dp: int = 4) -> Column:
    """Order-independent double average: grid-snapped decimal-exact sum,
    then one double division — both engines perform the identical IEEE op."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(_DEC)).cast("double"), dp) / F.count(c)


def oracle_exact_sum(expr: str, dp: int = 4) -> str:
    # decimal → VARCHAR → DOUBLE: strtod is correctly rounded, DuckDB's
    # direct int128-decimal→double cast is not (defense (1) above)
    return (
        f"ROUND(CAST(CAST(SUM(CAST({expr} AS DECIMAL(30,8))) AS VARCHAR)"
        f" AS DOUBLE), {dp})"
    )


def oracle_exact_avg(expr: str, dp: int = 4) -> str:
    return (
        f"ROUND(CAST(CAST(SUM(CAST({expr} AS DECIMAL(30,8))) AS VARCHAR)"
        f" AS DOUBLE), {dp})"
        f" / COUNT({expr})"
    )
