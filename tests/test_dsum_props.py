"""Property tests for the cross-engine decimal-exact sum (_util.dsum) — the
foundation 200+ oracle parities stand on.

Laws, for arbitrary double lists within the documented magnitude bound:
1. Spark's dsum equals DuckDB's CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
   bit for bit (the cross-engine contract).
2. The value is invariant under partitioning (1 vs 16 shuffle partitions) —
   the order-independence that makes the oracle comparison meaningful on a
   cluster.

Contract edge, found by this very property: the engines' double→DECIMAL(18,6)
casts disagree on inputs sitting EXACTLY on the 6th-decimal rounding
half-boundary of their shortest decimal representation (e.g.
536870912.5473185 — Spark half-ups the shortest repr to …319, DuckDB rounds
the exact binary value 536870912.54731845… down to …318). That input set is
measure-zero under any continuous value distribution and unreachable from the
fixture data (2-dp monetary values, integer counts, md5-derived ints), so the
catalog contract documents it as excluded (_util docstring) and `assume()`
keeps the property on its honest domain.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from hypothesis import assume, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_housing_spark.plans._util import dsum

_Q6 = Decimal("0.000001")


def _on_cast_boundary(x: float) -> bool:
    """True when x sits near enough a 6th-decimal rounding half-boundary
    that the engines' double→DECIMAL(18,6) casts could disagree — the
    excluded measure-zero edge.  Spark: BigDecimal(Double.toString(x))
    .setScale(6, HALF_UP) — half-up on the SHORTEST decimal repr.  DuckDB
    rounds the SCALED DOUBLE x*10^6, inheriting the multiply's FP rounding
    (e.g. 562949954.1549726*1e6 lands exactly on …972.5 → …972, while Spark
    half-ups the shortest repr to …973; found by this property 2026-08-14).
    Exclusion predicate, so over-approximate: x is a boundary unless EVERY
    plausible rounding — shortest-repr half-up, exact-binary half-up,
    rint(scaled), half-away(scaled) — lands on the same decimal; where they
    all agree, both engines necessarily do too."""
    import math

    sx = x * 1e6
    sign = 1 if x >= 0 else -1
    cands = {
        Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP),  # Spark
        Decimal(x).quantize(_Q6, rounding=ROUND_HALF_UP),  # exact binary
        Decimal(round(sx)).scaleb(-6),  # rint on the scaled double
        (sign * Decimal(math.floor(abs(sx) + 0.5))).scaleb(-6),  # half-away
    }
    return len(cands) > 1

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from etl_housing_spark.session import get_session

        _spark = get_session(app_name="ehs-tests", shuffle_partitions=8)
    return _spark


# magnitudes within the documented (18,6) per-element bound (|x| < 1e12),
# with awkward fractions that do NOT round-trip through 6 decimals exactly
_vals = st.floats(
    min_value=-1e9,
    max_value=1e9,
    allow_nan=False,
    allow_infinity=False,
    width=64,
)


@settings(max_examples=15, deadline=None)
@given(st.lists(_vals, min_size=1, max_size=60))
@example(
    xs=[562949954.1549726],
).via('discovered failure')
def test_dsum_matches_duckdb_bitwise(xs):
    assume(not any(_on_cast_boundary(x) for x in xs))
    spark = _get_spark()
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = df.agg(dsum("x").alias("s")).collect()[0].s
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    want = con.execute(
        "SELECT CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) FROM t"
    ).fetchone()[0]
    assert got == want, (got, want, xs[:5])


@settings(max_examples=10, deadline=None)
@given(st.lists(_vals, min_size=2, max_size=60))
def test_dsum_partitioning_invariant(xs):
    spark = _get_spark()
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    one = df.coalesce(1).agg(dsum("x").alias("s")).collect()[0].s
    many = df.repartition(16).agg(dsum("x").alias("s")).collect()[0].s
    rev = (
        spark.createDataFrame([(x,) for x in reversed(xs)], "x double")
        .repartition(16, F.rand(seed=7))
        .agg(dsum("x").alias("s"))
        .collect()[0]
        .s
    )
    assert one == many == rev


def test_fast_sums_mode_agrees_to_roundoff_and_defaults_exact(monkeypatch):
    """EHS_FAST_SUMS=1 (production fast mode) must (a) not be on by
    default, (b) ACTUALLY change the plan to a plain double sum (asserted
    on the executed plan, so a broken env-var read cannot pass trivially),
    and (c) agree with the decimal-exact value to double round-off ON THE
    DOCUMENTED DOMAIN (values representable at 6 decimals — the engine's
    monetary/count/pre-rounded columns; outside it the modes differ by the
    6dp quantization itself, where the double sum is the more accurate
    one)."""
    from etl_housing_spark.plans._util import dsum, fast_sums

    assert not fast_sums(), "fast mode must be opt-in"
    spark = _get_spark()
    df = spark.createDataFrame([(float(i) / 100,) for i in range(1, 2000)], "x double")

    def plan_of(frame):
        return frame._jdf.queryExecution().executedPlan().toString()

    exact_df = df.agg(dsum("x").alias("s"))
    assert "decimal" in plan_of(exact_df).lower(), "exact mode must sum in decimal"
    exact = exact_df.collect()[0].s

    monkeypatch.setenv("EHS_FAST_SUMS", "1")
    fast_df = df.agg(dsum("x").alias("s"))
    assert "decimal" not in plan_of(fast_df).lower(), (
        "fast mode must drop the decimal fold — the switch is a no-op"
    )
    fast = fast_df.collect()[0].s
    monkeypatch.delenv("EHS_FAST_SUMS")

    assert fast == pytest.approx(exact, rel=1e-12)
    after = df.agg(dsum("x").alias("s")).collect()[0].s
    assert after == exact  # env restored -> exact mode again


def test_fast_sums_covers_vector_fold(monkeypatch):
    """The r13 extension: EHS_FAST_SUMS=1 must also switch the vector
    family's array fold (functions/vectors._dec_sum — k-means assignment,
    SemDeDup cosine, ADC scoring) to a plain double fold, with the same
    contract as dsum: opt-in, plan-visible, round-off-level agreement,
    and exact mode restored when the env var is gone."""
    from etl_housing_spark.functions import vectors as V

    spark = _get_spark()
    df = spark.createDataFrame(
        [([float(i) / 7 for i in range(1, 65)], [float(i) / 11 for i in range(1, 65)])],
        "a array<double>, b array<double>",
    )

    def plan_of(frame):
        return frame._jdf.queryExecution().executedPlan().toString()

    exact_df = df.select(V.dot(F.col("a"), F.col("b")).alias("d"))
    assert "decimal" in plan_of(exact_df).lower(), "exact mode must fold in decimal"
    exact = exact_df.collect()[0].d

    monkeypatch.setenv("EHS_FAST_SUMS", "1")
    fast_df = df.select(V.dot(F.col("a"), F.col("b")).alias("d"))
    assert "decimal" not in plan_of(fast_df).lower(), (
        "fast mode must drop the decimal fold from the vector path"
    )
    fast = fast_df.collect()[0].d
    monkeypatch.delenv("EHS_FAST_SUMS")

    assert fast == pytest.approx(exact, rel=1e-12)
    after = df.select(V.dot(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    assert after == exact


# nonnegative double terms from 1e-20 to 1e6 (log-spread mantissa × decade),
# plus zeros and terms below 0.5e-18 that the scale-18 cast rounds to 0
_TERM = st.one_of(
    st.builds(
        lambda m, e: m * 10.0**e,
        st.floats(min_value=1.0, max_value=10.0),
        st.integers(min_value=-20, max_value=5),
    ),
    st.floats(min_value=0.0, max_value=4.9e-19),
    st.just(0.0),
)


@settings(max_examples=400, deadline=None)
@given(st.lists(_TERM, min_size=1, max_size=128))
@example([1.0] + [2.0**-53] * 127)  # every addition rounds away a term
@example([1e-20] * 128)  # every term rounds to 0 at scale 18
@example([0.1] * 128)
def test_nearest_slack_bounds_the_exact_fold(terms):
    """clustering._slack is the certificate behind clustering.nearest:
    for any n ≤ 128 nonnegative terms, the exact fold (each term cast to
    DECIMAL(p,18), summed exactly, one cast to double — replicated by
    quantize._dec18_fold) and the plain sequential double fold differ by
    at most E(fast) = a·fast + b. Pure Python: no Spark."""
    from etl_housing_spark.operators.clustering import _slack
    from etl_housing_spark.operators.quantize import _dec18_fold

    exact = _dec18_fold(terms, fast=False)
    fast = _dec18_fold(terms, fast=True)
    a, b = _slack(len(terms))
    assert abs(exact - fast) <= a * fast + b, (exact, fast)
