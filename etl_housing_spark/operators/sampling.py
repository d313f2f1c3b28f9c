"""Deterministic hash-based sampling & splitting (training-corpus surface).

A 100 TB training pipeline cannot use ``rand()`` for its train/val/test
split or its per-key subsamples: re-runs must assign every row to the same
side (otherwise eval contamination across pipeline versions), and the
assignment must not depend on partitioning, row order, or cluster size.
The standard answer — what every large corpus pipeline does — is a
*content hash* split: bucket = md5(stable key) mod N. Properties:

- deterministic across runs, engines, partitionings (pure row-local map);
- stable under repartition/renumbering as long as the business key is
  stable (unlike ``monotonically_increasing_id`` or zipWithIndex);
- cross-engine reproducible: Spark ``conv(substring(md5(k),1,8),16,10)``
  equals DuckDB ``CAST('0x' || substr(md5(k),1,8) AS BIGINT)`` bit for bit,
  so the oracle can verify the exact assignment (plans/sampling_queries.py);
- shuffle-free: the split is a projection; only downstream consumers pay.

``sample_per_key`` is the deterministic cousin of reservoir sampling: keep
the k rows with the smallest md5 order per key. One shuffle on the key (the
window), same cost as any grouped top-k; at extreme skew the usual salting
applies first (operators/skew.py).

The reference's only sampling is ``np.random``/``train_test_split`` seeded
per-process (trulia_csv_to_nlp.ipynb cell 22) — single-machine determinism
only; this is the distributed, engine-portable re-expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 8 hex chars = 32 bits: uniform in [0, 2^32), plenty for percent buckets
# while staying inside BIGINT range in both engines.
_HEX_CHARS = 8


def md5_u32(key: Column | str, word: int = 1) -> Column:
    """The portable 32-bit hash: hex word ``word`` of md5(key) (word 1 =
    hex chars 1-8, word 2 = chars 9-16) as a BIGINT in [0, 2^32).

    Spark ``conv(substring(md5(k), 1, 8), 16, 10)`` equals DuckDB
    ``CAST('0x' || substr(md5(k), 1, 8) AS BIGINT)`` bit for bit — the one
    Spark spelling of every md5-derived hash an oracle reproduces."""
    k = F.col(key) if isinstance(key, str) else key
    start = 1 + (word - 1) * _HEX_CHARS
    return F.conv(F.substring(F.md5(k), start, _HEX_CHARS), 16, 10).cast("long")


def hash_bucket(*cols: Column | str, buckets: int = 100, salt: str = "") -> Column:
    """Uniform deterministic bucket in [0, buckets) from the given columns.

    md5 of the concatenated key (with an optional salt to derive independent
    assignments from the same key, e.g. a second split dimension), first 8
    hex chars as an integer, mod buckets. NULL-safe: NULL renders as ''.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    key = F.concat_ws("\x1f", F.lit(salt), *[c.cast("string") for c in cs])
    return (md5_u32(key) % buckets).alias("bucket")


def deterministic_split(
    df: DataFrame,
    key_cols: list[str],
    fractions: dict[str, float] | None = None,
    split_col: str = "split",
    salt: str = "",
) -> DataFrame:
    """Assign every row a stable split label by content hash of ``key_cols``.

    ``fractions`` maps label → fraction (must sum to 1); labels are assigned
    to contiguous bucket ranges in the given order, so the same fractions
    always produce the same assignment. Rows sharing a key land on the same
    side — pass the *document* key, not the chunk key, to keep derived rows
    of one document out of both train and eval.
    """
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    # percent-resolution bucket boundaries; 10_000 buckets so 0.1%-grain
    # fractions stay exact
    buckets = 10_000
    b = hash_bucket(*key_cols, buckets=buckets, salt=salt)
    expr = None
    lo = 0
    for label, frac in fractions.items():
        hi = lo + int(round(frac * buckets))
        cond = (b >= lo) & (b < hi)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
        lo = hi
    # float rounding could leave bucket==buckets-ish rows unlabeled; fold the
    # tail into the last label
    last = list(fractions)[-1]
    return df.withColumn(split_col, expr.otherwise(F.lit(last)))


def sample_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    k: int,
) -> DataFrame:
    """Deterministic k-per-key sample: keep the k rows with the smallest
    md5(order key) within each key group.

    Statistically a uniform sample (md5 is uniform on the order key),
    operationally a grouped top-k: one shuffle on ``key_cols``, rank
    computed per partition — the same cost envelope as any window query,
    no ``rand()`` anywhere so re-runs and engines agree row-for-row.
    """
    oc = [F.col(c).cast("string") for c in order_cols]
    rank_key = F.md5(F.concat_ws("\x1f", *oc))
    w = Window.partitionBy(*key_cols).orderBy(rank_key)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
