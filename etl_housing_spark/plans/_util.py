"""Cross-engine numeric helpers for oracle-exact aggregation.

Floating-point SUM/AVG are order-dependent; Spark's partial+final aggregation
and DuckDB's vectorized aggregation accumulate in different orders, so raw
double sums differ in the last bits and fail a value-hash comparison. The
fix used across the catalog: sum in DECIMAL (exact, associative, order-free),
then cast the finished sum to DOUBLE — both engines round the identical exact
decimal to the identical nearest double. Division for averages then happens
once, on identical operands, giving bit-identical results.

At 100 TB scale this costs nothing extra: decimal sums are still one
partial+final HashAggregate, no extra shuffle.

Precision choice — (18,6), not (38,6): Spark's Decimal stays in its
compact long representation while the unscaled value fits 64 bits, so a
(18,6) element cast keeps per-row arithmetic on longs (measured ~30%
faster grouped sums at sf0.1 than the (38,6) cast, which forces
BigDecimal). Correctness bound: the VALUE cast overflows (ANSI error, not
silent) only at |x| ≥ 1e12 — five orders of magnitude above any measure
column here; the SUM accumulates at (28,6) Spark-side / (38,6)
DuckDB-side, both exact, identical after the final double cast. Overflow
at the sum level needs Σ|x| ≥ 1e22: a 1e12-row corpus of 1e5-valued
measures sums to 1e17 — still five orders of margin.

Contract edge (found by tests/test_dsum_props.py's hypothesis search): the
engines' double→decimal casts disagree for inputs whose shortest decimal
representation sits EXACTLY on the 6th-decimal half-boundary (e.g.
536870912.5473185: Spark rounds the shortest repr HALF_UP to …319, DuckDB
rounds the exact binary …31845… down to …318). That set is measure-zero
under any continuous distribution and unreachable from this engine's data
(2-dp monetary values, integer counts, md5-derived ints, 6-dp-rounded
upstream terms), so the cross-engine bitwise guarantee holds on the
documented domain and is property-tested with that edge excluded.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.vectors import fast_sums

DEC = "decimal(18,6)"


def dsum(col: Column | str) -> Column:
    """Order-independent SUM(double) == DuckDB CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE).

    Under ``EHS_FAST_SUMS=1`` (production fast mode, :func:`fast_sums`):
    plain double SUM — same plan shape, no decimal arithmetic, not
    bit-reproducible across engines/partitionings."""
    c = F.col(col) if isinstance(col, str) else col
    if fast_sums():
        return F.sum(c.cast("double"))
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """Exact-sum average: decimal-sum cast double, divided by count once."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


# Wide variant for rank-weighted / product terms whose per-element magnitude
# can exceed the (18,6) long-representation bound of 1e12 (e.g. q_gini's
# row_number·price products at TPC-H sf2+). The module-header margin analysis
# covers measure COLUMNS only; products of a global rank with a measure need
# the full (38,6) headroom. Slower (BigDecimal per element) but these terms
# appear once per query, never in a hot grouped path.
DEC_WIDE = "decimal(38,6)"


def dsum_wide(col: Column | str) -> Column:
    """Order-independent SUM == DuckDB CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE).
    Honors ``EHS_FAST_SUMS=1`` like :func:`dsum`."""
    c = F.col(col) if isinstance(col, str) else col
    if fast_sums():
        return F.sum(c.cast("double"))
    return F.sum(c.cast(DEC_WIDE)).cast("double")


def sql_dsum_wide(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"{sql_dsum(expr)} / COUNT({expr})"


# fan_out moved to etl_housing_spark.layout (operators/ uses it too and must
# not import plans/); re-exported here for plan code.
from ..layout import FAN_OUT_MAX_BYTES, fan_out  # noqa: E402,F401
