"""Portable Bloom filter as a broadcast bitmap dimension table.

The 100-TB decontamination problem: the exact check (q_decontaminate,
plans/pipeline_queries.py) broadcasts the DISTINCT eval shingle set, which
works while the eval benchmarks are small but breaks when the blocklist
grows to ~10^8+ n-grams (a full eval-suite + copyright-takedown blocklist):
the broadcast is the full string set. The standard engine answer — what
Spark itself does for runtime join pruning (`spark.sql.optimizer.
runtimeFilter.bloomFilter.enabled`) and what the published dedup pipelines
use for membership at scale — is a Bloom filter: K salted hashes into an
M-bit bitmap. The bitmap is O(M) bytes regardless of how many members it
holds (~1.2 MB for M=2^23 at ~10^6 members / 1% FPR; 10 bits per member
rules the sizing), membership is K integer probes, false negatives are
impossible and false positives are bounded and measurable.

Spark-first formulation — everything stays JVM-side and declarative:

* the bitmap is a **DataFrame of (word_idx, word)** rows — 32-bit words so
  every value is a non-negative BIGINT (bit 31 → 2^31 fits positively;
  a 64-bit word's bit 63 would overflow the signed type on BOTH engines).
  Build = explode K salts per member → position → ``bit_or`` grouped by
  word index: one shuffle of K rows per member, output bounded by M/32
  rows no matter how many members went in.
* probing is a **broadcast equi-join on word_idx** (the bitmap relation is
  ≤ M/32 rows — broadcastable by construction) + a bit test; a probe key
  is Bloom-positive iff ALL K probed bits are set (``min(hit) = 1``).
  No shuffle lands on the corpus side beyond its own per-key distinct.

Hashing is Kirsch-Mitzenmacher double hashing over the repo's portable
md5 idiom: one digest per key yields h1 (hex 1-8) and h2 (hex 9-16), and
bit position i = (h1 + i*h2) mod m — the published result that two hash
functions preserve Bloom FPR asymptotics at 1/k the digest cost. DuckDB
reproduces every bit exactly (``CAST('0x' || substr(md5(k), ...) AS
BIGINT)``); the plan queries (plans/bloom_queries.py) hash-check build +
probe end to end.

Reference parity: the reference pipeline has no blocklist-membership
operator (its dedup is pandas ``drop_duplicates``, advanced.ipynb); this
family is part of the declared LLM-pipeline extension surface
(SURVEY.md §2.13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import md5_u32

__all__ = ["bloom_build", "bloom_probe"]

_WORD_BITS = 32  # 32-bit words: 1 << 31 stays positive in a signed BIGINT


def _positions(df: DataFrame, key: str, m_bits: int, k_hashes: int) -> DataFrame:
    """Explode each key row into its K bit positions via Kirsch-Mitzenmacher
    double hashing: ONE md5 per key yields two independent 32-bit values
    (hex digits 1-8 and 9-16), and position i = (h1 + i*h2) mod m — the
    published result that two hash functions preserve the Bloom FPR
    asymptotics, at 1/k the hash cost of k salted digests. Everything is
    non-negative BIGINT arithmetic (h1 + 63*h2 < 2^38), bit-reproducible
    in DuckDB.
    """
    h1 = md5_u32(key)
    # h2 forced ODD: with a power-of-two m, an even h2 strides only a
    # subset of bit positions (and h2=0 collapses all K probes to one),
    # inflating FPR above the k-hash bound. Odd h2 is coprime to 2^j so
    # the probe stride always covers the full ring. Mirrored bit-for-bit
    # in the DuckDB oracle (_bloom_sql, plans/bloom_queries.py).
    h2 = md5_u32(key, word=2).bitwiseOR(1)
    return (
        df.withColumn("h1", h1)
        .withColumn("h2", h2)
        .select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(k_hashes - 1))).alias("salt"),
        )
        .withColumn("pos", (F.col("h1") + F.col("salt") * F.col("h2")) % m_bits)
        .drop("h1", "h2")
    )


def bloom_build(members: DataFrame, key: str, m_bits: int, k_hashes: int) -> DataFrame:
    """Bloom bitmap of the ``key`` column as a (word_idx BIGINT, word BIGINT)
    relation — ≤ ``m_bits/32`` rows however many members went in, which is
    what makes the probe side broadcastable by construction."""
    return (
        _positions(members, key, m_bits, k_hashes)
        .groupBy(F.expr(f"pos div {_WORD_BITS}").alias("word_idx"))
        .agg(
            F.expr(
                f"bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % {_WORD_BITS} AS INT)))"
            ).alias("word")
        )
    )


def bloom_probe(
    probes: DataFrame, key: str, bits: DataFrame, m_bits: int, k_hashes: int
) -> DataFrame:
    """Append ``bloom_hit`` (1 = maybe-member, 0 = definitely not) to every
    probe row — one output row per input row. All K probed bits must be
    set; a word index absent from the bitmap is an all-zero word (left
    join + coalesce).

    Plan shape: K successive BROADCAST left joins against the ≤ M/32-row
    bitmap, then one conjunction — no explode, no aggregation, ZERO shuffle
    on the probe side (an earlier explode-salts + regroup formulation spent
    its time shuffling the string key back together; K broadcast lookups
    pipeline inside one codegen stage instead)."""
    probe_cols = probes.columns
    df = probes.withColumn(
        "_h1", md5_u32(key)
    ).withColumn(
        # h2 forced odd — same stride-degeneracy guard as _positions
        "_h2",
        md5_u32(key, word=2).bitwiseOR(1),
    )
    hits = []
    for i in range(k_hashes):
        df = df.withColumn(f"_p{i}", (F.col("_h1") + i * F.col("_h2")) % m_bits)
        # alias, DON'T re-project: every join must broadcast the SAME
        # canonical bitmap plan so Spark reuses one exchange (a per-join
        # projection made K distinct exchanges, each recomputing the whole
        # eval-side bitmap build)
        bi = bits.alias(f"_bloom_b{i}")
        df = df.join(
            F.broadcast(bi),
            F.expr(f"_p{i} div {_WORD_BITS}") == F.col(f"_bloom_b{i}.word_idx"),
            "left",
        )
        word_i = f"coalesce(_bloom_b{i}.word, CAST(0 AS BIGINT))"
        hits.append(
            F.expr(
                f"(shiftright({word_i}, CAST(_p{i} % {_WORD_BITS} AS INT)) % 2) = 1"
            )
        )
    all_set = hits[0]
    for h in hits[1:]:
        all_set = all_set & h
    return df.select(
        *probe_cols, F.when(all_set, 1).otherwise(0).alias("bloom_hit")
    )
