"""Vector expressions over ``array<float>`` embedding columns (SURVEY §2.13).

Dot products and norms are ``zip_with``/``aggregate`` lambdas — JVM-side,
per-row, no shuffle. For cross-engine exactness the reductions accumulate in
DECIMAL(38,18): decimal addition is associative, so Spark's fold and
DuckDB's SUM reach the identical exact value regardless of order, and the
final cast to DOUBLE rounds identically.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

# precision 28 (not 38): Spark widens p by 1 per addition and caps at 38 by
# *reducing scale* — which would round each step. At (28,18) the addition
# result keeps scale 18 exactly and the cast back is lossless for |x| < 1e10.
_ACC = "decimal(28,18)"


def fast_sums() -> bool:
    """Production fast mode: ``EHS_FAST_SUMS=1`` switches the decimal
    sums below to plain double sums. This is the one reader of the
    variable; functions/ imports nothing from operators/ or plans/, so
    all three layers import it without a cycle.

    What the switch covers — the one list (README points here):
    - ``plans/_util``'s ``dsum`` / ``davg`` / ``dsum_wide`` and
      ``plans/stats_queries._dsum12``, the catalog aggregates;
    - this module's array folds (:func:`_dec_sum`, behind :func:`dot`,
      :func:`norm`, :func:`sqdist` and :func:`cosine`). In the vector
      family these are the IVF probes (``similarity.ivf_topk``'s centroid
      ``dot``; the IVFADC probe's ``sqdist``, in the batch core and the
      driver-local serve), SemDeDup cosine and the exact reranks.
    Not covered, exact in both modes: ``clustering.nearest`` (every
    k-means, PQ code and centroid-confusion argmin — it prunes in double
    and verifies in decimal), the PQ lookup tables and the ADC sums
    (``operators/quantize._lut`` / ``_adc``, which call
    :func:`_exact_sum` and a decimal SUM directly).

    The decimal fold exists to make every aggregate BIT-IDENTICAL to the
    DuckDB oracle (order-free accumulation) — the verification contract,
    not a numerical-accuracy need. A deployment that does not diff against
    an oracle flips this on and erases the decimal tax (1.4–6.3× per
    sum-heavy query, q_pricing_summary 6.3×, measured at sf10 — table in
    BASELINE.md); results then agree with the exact sum to double
    round-off on the documented 6dp domain (|Δ|/Σ ≲ n·2⁻⁵³ — at 1e12 rows
    still ~1e-4 relative worst-case, ~1e-10 typical random-sign error).
    That round-off bound holds for the SUMS themselves; a covered sum
    that feeds a discrete decision — the IVF probe's top-nprobe cut, a
    SemDeDup keep/drop threshold, a rerank's top-k cut — can see a
    near-tied comparison flip, so fast mode there can change a member
    outright (still valid-quality output, but discretely different, not
    a round-off delta; ADVICE r13).

    Scope and timing: the flag is read by each dsum()/davg() CALL during
    driver-side plan construction — set it before building the query and
    don't toggle it concurrently, or a single plan can mix modes. It does
    NOT rewrite SQL-STRING helpers (``sql_dsum``/``sql_davg``): those
    build the DuckDB oracle texts (which must stay exact by definition)
    and the one Spark-side spark.sql() consumer (q_scalar_subquery, whose
    WHERE comparison wants order-free determinism). DEFAULT is exact mode;
    the correctness driver never sets the variable, and tests/conftest.py
    fails fast if it leaks into a verification session."""
    return os.environ.get("EHS_FAST_SUMS", "") == "1"


def _dec_sum(arr: Column) -> Column:
    """Order-exact array fold (:func:`_exact_sum`) — or, in fast mode, the
    plain sequential double fold (:func:`_double_sum`): same plan shape,
    no per-element BigDecimal, not bit-reproducible against the DuckDB
    oracle. Its consumers, and the near-tie caveat for those that feed a
    discrete decision, are listed once in :func:`fast_sums`. Exact mode
    remains the verification default."""
    return _double_sum(arr) if fast_sums() else _exact_sum(arr)


def _exact_sum(arr: Column) -> Column:
    """The decimal fold whatever the mode: each element cast to
    DECIMAL(28,18), summed exactly, one final cast to double."""
    return F.aggregate(
        arr, F.lit(0).cast(_ACC), lambda acc, x: (acc + x.cast(_ACC)).cast(_ACC)
    ).cast("double")


def _double_sum(arr: Column) -> Column:
    """The plain left-to-right double fold of the same elements."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """Exact-accumulated dot product of two float-array columns."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return _dec_sum(prods)


def dot_seq(a: Column, b: Column) -> Column:
    """Sequential-double dot product — the fast scoring path (~2× the
    decimal fold, measured at sf0.1).

    Still cross-engine checkable: Spark's ``aggregate`` folds the array
    left-to-right in double, and DuckDB's ``list_dot_product`` over
    ``DOUBLE[]`` accumulates in the same sequential order — verified
    bitwise-identical on the full embeddings table
    (tests/test_text_functions.py). Unlike a distributed SUM, the fold
    order here is *data-defined* (array element order), not
    partitioning-defined, so determinism survives any cluster layout; the
    6dp round in consuming queries adds ~9 orders of magnitude of slack on
    top of the bitwise agreement.
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return _double_sum(prods)


def norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(_dec_sum(sq))


def sqdist(a: Column, b: Column) -> Column:
    """Exact-accumulated squared L2 distance of two array columns.

    Each per-dim (x−y)² (:func:`_sq_terms`) is one double product cast to
    DECIMAL(28,18); decimal addition is associative, so the in-row fold
    here equals a grouped decimal SUM over exploded dims bit-for-bit —
    which is exactly how the k-means oracle mirrors it
    (q_kmeans_portable)."""
    return _dec_sum(_sq_terms(a, b))


def _sq_terms(a: Column, b: Column) -> Column:
    """The per-dim double terms (x−y)² that :func:`sqdist` folds."""
    return F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
