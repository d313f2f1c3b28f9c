"""Nearest-centroid core and distributed k-means over ``array`` embedding
columns (SURVEY §2.13 / §2.10 extension; the reference has no clustering
surface).

The vector family's two cross-engine decisions are written here once:

- :func:`dim_means` — the decimal-exact per-key, per-dimension mean. It
  builds k-means centroids, the label-conditioned PQ codebooks, the
  residual-PQ codebook update, the IVF cells of ``similarity.ivf_topk``
  and the SemDeDup / confusion-matrix centroids.
- :func:`nearest` — the argmin under the total (exact d², cand) order,
  folded in-row over a candidate array: a double-precision filter with a
  proven error bound, then the decimal fold over the survivors only, so
  the winner is exact in both numeric modes. It is k-means assignment,
  PQ code assignment (full vectors and residuals), residual-PQ training
  and nearest-centroid classification. :func:`cand_arrays` turns a long
  (cand, i, c) codebook into the per-subspace arrays it folds over, from
  the same :func:`sub_rows` the PQ lookup tables score.

Sites outside this module reach them through the module attribute
(``C.nearest``), not a name bound at import, so a spy on
``clustering.nearest`` sees every call
(tests/test_plan_quality.py::test_vector_argmins_go_through_nearest).

The fit is the textbook distributed Lloyd step, driver-unrolled like
MLlib's KMeans: assignment BROADCASTs the k tiny centroids against the
vector scan (no shuffle on the big side), the update is one (cid, dim)
partial-agg shuffle. Every decision point is exact, so the fit is
value-verifiable against a SQL oracle (q_kmeans_portable).

Downstream use: the learned assignment IS an IVF coarse quantizer —
``q_ann_ivf_kmeans`` probes the trained cells instead of the testdata's
pre-assigned label column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions.vectors import _ACC

__all__ = [
    "dim_means",
    "dim_means_long",
    "centroids",
    "cand_arrays",
    "sub_rows",
    "nearest",
    "seed_centroids",
    "kmeans_assign",
    "kmeans_update",
    "kmeans_fit",
]


def dim_means(df: DataFrame, keys: list[str], vec_col: str = "v") -> DataFrame:
    """(keys…, i, c, n): per key, the mean ``c`` of every dimension ``i``
    of ``vec_col`` over the key's ``n`` rows — :func:`dim_means_long` over
    the posexploded vectors."""
    return dim_means_long(
        df.select(*keys, F.posexplode(vec_col).alias("i", "x")), keys
    )


def dim_means_long(long: DataFrame, keys: list[str]) -> DataFrame:
    """(keys…, i, c, n) from a long (keys…, i, x) frame: the mean ``c`` of
    x per (keys, i) over its ``n`` rows.

    Each x is cast to double, then to DECIMAL(28,18), and summed in
    decimal: the sum is exact, so it cannot depend on row or partition
    order, and it is divided once in double. The oracles'
    ``SUM(CAST(x AS DECIMAL(p,18))) / COUNT(*)`` reach the same double,
    because every such cast rounds the double at scale 18. One
    (keys, i)-keyed partial+final aggregate; the output has |keys|·dim
    rows whatever the corpus size."""
    return long.groupBy(*keys, "i").agg(
        (
            F.sum(F.col("x").cast("double").cast(_ACC)).cast("double")
            / F.count(F.lit(1))
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )


def _assemble(long: DataFrame, *keys: str) -> DataFrame:
    """Long (keys…, i, c) → (keys…, c: array<double>) in dimension order."""
    return long.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("c")
    )


def centroids(df: DataFrame, key: str, vec_col: str = "v") -> DataFrame:
    """(key, c: array<double>): each key's :func:`dim_means` vector."""
    return _assemble(dim_means(df, [key], vec_col), key)


def cand_arrays(cb: DataFrame, per_sub: int | None = None) -> DataFrame:
    """A long (cand, i, c) codebook → the candidate arrays :func:`nearest`
    folds over: one (sub, cands) row per subspace of ``per_sub`` dims, or a
    single (cands) row of full vectors when ``per_sub`` is None. Each
    element of ``cands`` is struct(cand, c: array<double>). Two tiny
    aggregates over the codebook; every consumer broadcasts the result."""
    if per_sub is None:
        return _assemble(cb, "cand").agg(
            F.collect_list(F.struct("cand", "c")).alias("cands")
        )
    return sub_rows(cb, per_sub).groupBy("sub").agg(
        F.collect_list(F.struct("cand", "c")).alias("cands")
    )


def sub_rows(cb: DataFrame, per_sub: int) -> DataFrame:
    """A long (cand, i, c) codebook → (sub, cand, c: array<double>): one
    row per entry of each subspace of ``per_sub`` dims, the rows
    :func:`cand_arrays` collects and the PQ lookup tables
    (``quantize._lut``) score."""
    return _assemble(cb.withColumn("sub", F.expr(f"i div {per_sub}")), "sub", "cand")


# Past this f a candidate is never pruned: a tenth of DECIMAL(28,18)'s
# range, so every pruned candidate's exact fold provably stays in range.
_DEC_SAFE = 1e9


def _slack(n):
    """(a, b) of E(f) = a·f + b, the bound on |exact d² − f| for an
    n-term double fold f (derived in :func:`nearest`). Plain arithmetic,
    so it evaluates on Python numbers and on Columns alike."""
    return (n + 8) * 2.0**-52, n * 1e-18


def _limit(m, n):
    """t with t − E(t) = m + E(m): :func:`nearest` keeps every candidate
    whose double fold f ≤ t, m the smallest f."""
    a, b = _slack(n)
    return (m * (1 + a) + 2 * b) / (1 - a)


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once: a one-element
    ``transform`` binds it to a lambda variable, which Spark does not
    inline into the body."""
    return F.element_at(F.transform(F.array(value), body), 1)


def nearest(v: Column, cands: Column) -> Column:
    """struct(d2, cand) of the candidate in ``cands`` nearest to ``v``:
    the minimum under the (d2, cand) order, d2 = ``V.sqdist(v, c)``'s
    decimal fold, over an in-row array of struct(cand, c) elements.

    Why this equals the SQL oracle's grouped argmin
    (``SUM(CAST((x − c)² AS DECIMAL(p,18)))`` per (row, cand), then
    ``ROW_NUMBER() OVER (ORDER BY d2, cand) = 1``):
    - each per-dim (x − c)² is one double product; the decimal fold casts
      it to DECIMAL(28,18) and the oracles to DECIMAL(28,18) or (38,18),
      which round the same double at the same scale 18;
    - decimal addition is exact, so the in-row fold and the grouped SUM
      reach the same d² bit for bit (one final cast to double);
    - ``array_min`` compares structs lexicographically, the same (d2, cand)
      order as ``min(struct(d2, cand))`` or the oracle's window. The order
      is total when cand ids are distinct, so an exact tie goes to the
      lower cand, and the order of ``collect_list``'s elements cannot
      change the winner.

    Certificate: only the winner and its near-ties need the exact d², so
    one in-row expression filters in double and verifies in decimal:
    1. score every candidate with f, the plain double fold
       (``V._double_sum``) of the same per-dim terms tᵢ = (x − c)²;
    2. take m = min f;
    3. keep each candidate with f − E(f) ≤ m + E(m), E(f) = a·f + b
       (:func:`_slack`). f − E(f) = (1 − a)·f − b grows with f, so that is
       f ≤ t for the one t = :func:`_limit` (m, n) computed per row;
    4. ``array_min`` over struct(d2, cand) of the survivors only, d2 the
       decimal fold (``V._exact_sum``, which no numeric mode switches).
    The scored array and t are each bound once (:func:`_let`), so no fold
    is evaluated twice. ``EHS_FAST_SUMS`` is not read: both modes get the
    exact winner.

    The bound. For n terms tᵢ ≥ 0, S = Σtᵢ exactly, u = 2⁻⁵³:
    - Spark's cast of tᵢ to DECIMAL(28,18) rounds the decimal string of
      tᵢ (``Double.toString``, which reads back as tᵢ, so it lies within
      ½ulp(tᵢ) ≤ u·tᵢ of it) half-up at scale 18 (±0.5e-18); a
      subnormal tᵢ rounds to 0, off by tᵢ < 0.5e-18. So the exact
      decimal sum D obeys |D − S| ≤ u·S + n·0.5e-18;
    - the sequential double fold of nonnegative terms errs by at most
      γₙ₋₁·S, γₖ = k·u / (1 − k·u) (Higham, *Accuracy and Stability of
      Numerical Algorithms*, §4.2);
    - the final cast of D to double (``BigDecimal.doubleValue``, correctly
      rounded) errs by at most u·D.
    Summed, |d2 − f| ≤ (n + 1)·u·S·(1 + O(n·u)) + n·0.5e-18·(1 + u),
    with S ≤ f / (1 − γₙ₋₁). E(f) = (n + 8)·2u·f + n·1e-18 covers that
    with about (n + 15)·u·f and n·0.5e-18 to spare. The spare absorbs the
    filter's own roundings: t is six double operations, each off by at
    most u of its result, so the computed t is at most 6u·t low.
    ``test_nearest_slack_bounds_the_exact_fold``
    (tests/test_dsum_props.py) checks the bound against the exact fold.

    Why pruning cannot change the winner: let w be the (d2, cand) winner
    over all candidates, and i a fast winner (f_i = m; it always
    survives, since t ≥ m·(1 + a)/(1 − a) stays above m after rounding).
    A pruned candidate j has f_j > t, at most 6u·t below the exact t,
    so with the spare d2_j > m + E(m) ≥ d2_i, and (d2_i, cand_i) orders
    strictly before it: j ≠ w. Hence w
    survives, and the minimum over a subset that holds w is w: the same
    (d2, cand), bit for bit. Exact ties and near-ties within E all reach
    the decimal step, so the cand tie-break is unchanged. A candidate
    whose f is null, NaN, infinite or ≥ ``_DEC_SAFE`` is never pruned, so
    malformed or out-of-range input (null dims, mismatched lengths, a
    fold that overflows DECIMAL(28,18)) behaves exactly as the full
    decimal form.

    The in-row fold replaced the per-dimension plan (explode to (row, i),
    join the codebook on i, SUM per (row, cand), then argmin): that pushed
    n·K groups through a shuffle and spilled >60 GB at sf30 (r14). A
    statically unrolled sum over the dims was measured 2× slower than this
    interpreted fold in r16, because the 64-term decimal chain falls out of
    codegen."""
    n = F.size(v)
    scored = F.transform(
        cands,
        lambda s: F.struct(
            V._double_sum(V._sq_terms(v, s["c"])).alias("f"),
            s["cand"].alias("cand"),
            s["c"].alias("c"),
        ),
    )

    def verify(sc: Column) -> Column:
        # a null or NaN f (or a null t) compares to null or false: kept
        kept = _let(
            _limit(F.array_min(F.transform(sc, lambda e: e["f"])), n),
            lambda t: F.filter(
                sc,
                lambda e: ~F.coalesce(
                    (e["f"] < _DEC_SAFE) & (e["f"] > t), F.lit(False)
                ),
            ),
        )
        return F.array_min(
            F.transform(
                kept,
                lambda e: F.struct(
                    V._exact_sum(V._sq_terms(v, e["c"])).alias("d2"),
                    e["cand"].alias("cand"),
                ),
            )
        )

    return _let(scored, verify)


def seed_centroids(vecs: DataFrame, k: int, id_col: str = "vec_id") -> DataFrame:
    """Deterministic seeding: the k lowest-id vectors' embeddings →
    (cid, c). No rand(); retried jobs and both oracle engines agree."""
    return (
        vecs.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cid"),
            F.col("v").alias("c"),
        )
    )


def kmeans_assign(vecs: DataFrame, cents: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, v) × broadcast centroids → (id, v, cid) by :func:`nearest`.

    The centroid set arrives as ONE broadcast single-row array (a lazy
    ``collect_list(struct(cid, c))`` aggregate, kc·dim doubles ≈ 400 KB
    at sf30's kc=775, ~16 MB at kc≈32k/n=10⁹), and each vector row folds
    over it locally: the whole operator is one shuffle-free projection
    over the (fanned-out) scan. History: the r13 form
    ``min(struct(d, cid, v))`` sort-spilled ~250 GB at sf30; the r15
    narrow-struct form fixed the spill but still paid two exchanges and a
    double scan per assign round.

    PRECONDITION (ADVICE r13): ``id_col`` must be unique and non-null —
    callers' downstream equi-joins on it assume so (every in-repo caller
    feeds the unique non-null ``vec_id``)."""
    # fan_out (r16, guide §2.5 input skew): the per-row k·dim decimal fold
    # inherits the vector scan's partitioning, and a tiny single-file
    # corpus scans as ONE task — the whole scoring stream ran
    # single-threaded, measured as ~60% of the scaled-ANN build wall at
    # sf0.1. Metadata-driven: no-op for multi-file/big/non-file inputs.
    from ..layout import fan_out

    vecs = fan_out(vecs, id_col)
    carr = cents.agg(
        F.collect_list(F.struct(F.col("cid").alias("cand"), "c")).alias("cands")
    )
    best = nearest(F.col("v"), F.col("cands"))["cand"]
    return vecs.crossJoin(F.broadcast(carr)).select(id_col, "v", best.alias("cid"))


def kmeans_update(assigned: DataFrame) -> DataFrame:
    """Assigned vectors → new (cid, c) :func:`centroids`."""
    return centroids(assigned, "cid")


def kmeans_fit(
    vecs: DataFrame, k: int = 4, rounds: int = 2, id_col: str = "vec_id"
) -> tuple[DataFrame, DataFrame]:
    """``rounds`` unrolled Lloyd iterations → (final assignment, final
    centroids). ``vecs`` must be (id, v: array<double>). The final
    centroids are the update over the final assignment — the pair a
    downstream IVF index stores."""
    cents = seed_centroids(vecs, k, id_col)
    assigned = kmeans_assign(vecs, cents, id_col)
    for _ in range(rounds - 1):
        cents = kmeans_update(assigned)
        assigned = kmeans_assign(vecs, cents, id_col)
    return assigned, kmeans_update(assigned)
