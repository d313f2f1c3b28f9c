"""Deterministic sampling / splitting queries (training-corpus surface).

Both queries are fully oracle-checked — the point of hash-based assignment
is that two engines (and two runs, and two cluster sizes) agree row-for-row,
and the DuckDB twin proves it: Spark ``conv(substring(md5(k),1,8),16,10)``
== DuckDB ``CAST('0x' || substr(md5(k),1,8) AS BIGINT)``.

Scale notes in operators/sampling.py: the split is a shuffle-free
projection; the per-key sample is one window shuffle on the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..operators import sampling as SA
from .registry import query

# DuckDB twin of operators.sampling.hash_bucket (salt='', sep=\x1f)
_BUCKET_SQL = (
    "CAST('0x' || substr(md5(concat_ws(chr(31), '', CAST(doc_id AS VARCHAR))), 1, 8) AS BIGINT)"
    " % 10000"
)


@query(
    "q_split_assign",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_BUCKET_SQL} < 8000 THEN 'train'
                WHEN {_BUCKET_SQL} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    description="deterministic train/val/test split by content hash of the document key "
    "(§ training pipeline): stable across runs/engines/partitionings, shuffle-free "
    "projection; oracle verifies the exact per-row assignment",
    tags=("sampling",),
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return SA.deterministic_split(
        docs, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


@query(
    "q_sample_per_key",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY md5(concat_ws(chr(31), CAST(o_orderkey AS VARCHAR)))
             ) AS rn
      FROM orders)
    SELECT o_custkey, o_orderkey FROM ranked WHERE rn <= 2
    """,
    description="deterministic 2-per-customer order sample: grouped top-k on the md5 "
    "order — a reproducible reservoir sample with one window shuffle and no rand()",
    tags=("sampling",),
)
def q_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return SA.sample_per_key(orders, ["o_custkey"], ["o_orderkey"], k=2).select(
        "o_custkey", "o_orderkey"
    )


@query(
    "q_temperature_mix",
    # Temperature-scaled source mixing (the pretraining-mixture primitive:
    # α<1 upsamples small sources, α=1 is proportional, α→0 is uniform):
    # w_i = n_i^α / Σ n_j^α over per-source doc counts. n^α is rounded to
    # 6dp BEFORE the normalizing sum (a cross-libm pow() 1-ulp wobble cannot
    # move the 6th decimal except exactly at a rounding boundary), and the
    # denominator is the decimal-exact sum of those rounded values — so both
    # engines normalize identical operands. One grouped count + a 20-row
    # broadcast of the total: scale cost is the count, nothing else.
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n,
             ROUND(pow(COUNT(*), 0.7), 6) AS p
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS z FROM counts)
    SELECT source, n,
           ROUND(p / z, 6) AS weight,
           CAST(ROUND(100000 * p / z, 0) AS BIGINT) AS target_docs
    FROM counts CROSS JOIN tot
    """,
    description="temperature-scaled corpus mixture weights (w_i = n_i^0.7 / Σ "
    "n_j^0.7): per-source counts, 6dp-rounded pow so cross-libm wobble cannot "
    "reach the reported digits, decimal-exact normalizer — yields the per-source "
    "sampling budget for a 100k-doc training mix; one grouped count, everything "
    "after is broadcast-sized",
    tags=("sampling",),
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    counts = counts.select("source", "n", F.round(F.pow("n", F.lit(0.7)), 6).alias("p"))
    tot = counts.agg(F.sum(F.col("p").cast("decimal(18,6)")).cast("double").alias("z"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        F.round(F.col("p") / F.col("z"), 6).alias("weight"),
        F.round(F.lit(100000) * F.col("p") / F.col("z"), 0).cast("bigint").alias("target_docs"),
    )


@query(
    "q_unimax_mix",
    # UniMax language sampling (Chung et al. 2023): spread the token budget
    # as uniformly as languages allow, capping every language at C epochs of
    # its corpus — the fairer alternative to temperature mixing that never
    # over-repeats low-resource languages. Closed-form water-filling over
    # the K language rows: sort by size ascending; language i is capped iff
    # cap_i*(K-i+1) <= B - prefix_cap_{i-1} (the condition is provably
    # prefix-monotone for ascending capacities, so the per-row flag IS the
    # greedy loop's verdict); uncapped languages split the leftover by
    # integer floor division (≤ K-1 budget units deliberately unspent —
    # documented, deterministic). All-integer arithmetic end to end, so
    # cross-engine equality is exact by construction; the one epochs ratio
    # divides identical integer operands. B = total corpus chars, C = 4.
    oracle="""
    WITH sizes AS MATERIALIZED (
      SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS n
      FROM documents GROUP BY lang),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS b FROM sizes),
    ordered AS (
      SELECT lang, n, 4*n AS cap,
             ROW_NUMBER() OVER (ORDER BY n, lang) AS i,
             COUNT(*) OVER () AS k,
             CAST(COALESCE(SUM(4*n) OVER (
               ORDER BY n, lang ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS pfx
      FROM sizes),
    flagged AS MATERIALIZED (
      SELECT o.*, b,
             CASE WHEN cap * (k - i + 1) <= b - pfx THEN 1 ELSE 0 END AS is_capped
      FROM ordered o CROSS JOIN tot),
    boundary AS (
      SELECT CAST(COALESCE(SUM(is_capped), 0) AS BIGINT) AS m,
             CAST(COALESCE(SUM(CASE WHEN is_capped = 1 THEN cap END), 0) AS BIGINT) AS pm
      FROM flagged)
    SELECT lang, n AS n_chars_total,
           CAST(is_capped AS BIGINT) AS capped,
           CAST(CASE WHEN is_capped = 1 THEN cap
                     ELSE (b - pm) // (k - m) END AS BIGINT) AS alloc_chars,
           ROUND(CAST(CASE WHEN is_capped = 1 THEN cap
                           ELSE (b - pm) // (k - m) END AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) AS epochs
    FROM flagged CROSS JOIN boundary
    """,
    description="UniMax budget allocation (Chung et al. 2023): per-language char "
    "budgets spread as uniformly as a 4-epoch cap allows — closed-form "
    "water-filling via one prefix-sum window over the K language rows (the "
    "greedy loop's capped/uncapped verdict is provably the per-row prefix "
    "condition for ascending capacities), leftover split by integer floor "
    "division so every allocation is exact. One corpus-sized grouped sum; "
    "everything after runs on K rows",
    tags=("sampling",),
)
def q_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators._ckpt import tracked_persist

    docs = load_table(spark, sf_dir, "documents")
    # the ONLY corpus-sized aggregate — persisted once, because the plan
    # below references it from four branches (ordered, tot, and through
    # them flagged/boundary) and would otherwise rescan the corpus 4x
    sizes = tracked_persist(
        docs.groupBy("lang").agg(F.sum("n_chars").cast("bigint").alias("n"))
    )
    w = Window.orderBy("n", "lang")
    ordered = sizes.select(
        "lang",
        "n",
        (F.lit(4) * F.col("n")).alias("cap"),
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("k"),
        F.coalesce(
            F.sum(F.lit(4) * F.col("n")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("bigint").alias("pfx"),
    )
    tot = sizes.agg(F.sum("n").cast("bigint").alias("b"))
    flagged = ordered.crossJoin(F.broadcast(tot)).withColumn(
        "is_capped",
        F.when(F.col("cap") * (F.col("k") - F.col("i") + 1) <= F.col("b") - F.col("pfx"), 1)
        .otherwise(0),
    )
    boundary = flagged.agg(
        F.coalesce(F.sum("is_capped"), F.lit(0)).cast("bigint").alias("m"),
        F.coalesce(F.sum(F.when(F.col("is_capped") == 1, F.col("cap"))), F.lit(0))
        .cast("bigint")
        .alias("pm"),
    )
    alloc = F.when(F.col("is_capped") == 1, F.col("cap")).otherwise(
        F.expr("(b - pm) DIV (k - m)")
    )
    return flagged.crossJoin(F.broadcast(boundary)).select(
        "lang",
        F.col("n").alias("n_chars_total"),
        F.col("is_capped").cast("bigint").alias("capped"),
        alloc.cast("bigint").alias("alloc_chars"),
        F.round(alloc.cast("double") / F.col("n").cast("double"), 6).alias("epochs"),
    )


@query(
    "q_weighted_sample",
    # Deterministic Bernoulli sampling with per-row inclusion probability =
    # the row's quality weight (the training-mix primitive "sample documents
    # proportional to quality"): keep iff hash-uniform(id) < weight.
    # hash-uniform = first-8-hex of md5 scaled to [0,1) — identical
    # construction on both engines, so membership is row-for-row
    # reproducible under any run, partitioning, or cluster size (the
    # property rand()-based sampling can never give). Map-only, no shuffle.
    oracle="""
    WITH w AS (
      SELECT doc_id, n_chars,
             LEAST(n_chars / 400.0, 1.0) AS weight,
             CAST('0x' || substr(md5(concat_ws(chr(31), 'ws', CAST(doc_id AS VARCHAR))), 1, 8)
                  AS BIGINT) / 4294967296.0 AS u
      FROM documents)
    SELECT doc_id, n_chars, ROUND(weight, 6) AS weight
    FROM w WHERE u < weight
    """,
    description="deterministic weighted Bernoulli sample (inclusion probability = "
    "per-doc quality weight, here length-saturation): keep iff md5-uniform(id) < "
    "weight — row-for-row reproducible across engines/runs/partitionings, "
    "map-only and shuffle-free; the training-mix primitive for 'sample "
    "proportional to quality' at corpus scale",
    tags=("sampling",),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    u = SA.md5_u32(
        F.concat_ws("\x1f", F.lit("ws"), F.col("doc_id").cast("string"))
    ) / F.lit(4294967296.0)
    weight = F.least(F.col("n_chars") / 400.0, F.lit(1.0))
    return (
        docs.select("doc_id", "n_chars", weight.alias("weight"), u.alias("u"))
        .filter(F.col("u") < F.col("weight"))
        .select("doc_id", "n_chars", F.round("weight", 6).alias("weight"))
    )


@query(
    "q_epoch_shuffle",
    # Deterministic multi-epoch training-order shuffle — the data-ordering
    # stage between curation and the trainer. Each epoch reshuffles with a
    # different seed (epoch number folded into the hash), and the order is
    # SHARDED: shard = hash % 8, rank within (epoch, shard) — a
    # partition-parallel window, never a global single-partition sort (the
    # trainer reads shards concurrently anyway; a global row_number would
    # serialize the entire corpus through one task at 100 TB). Everything
    # is md5-derived integer arithmetic: stable across runs, engines and
    # partitionings, and therefore hash-checked.
    oracle="""
    WITH e AS (SELECT unnest(range(3)) AS epoch),
    k AS (
      SELECT e.epoch, d.doc_id,
             md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS key
      FROM documents d CROSS JOIN e),
    s AS (
      SELECT epoch, doc_id, key,
             CAST('0x' || substr(key, 1, 8) AS BIGINT) % 8 AS shard
      FROM k)
    SELECT CAST(epoch AS BIGINT) AS epoch, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard
                                   ORDER BY key, doc_id) AS BIGINT) AS rk,
           doc_id
    FROM s
    """,
    description="deterministic epoch-seeded training-order shuffle: 3 epochs, "
    "each re-ordering the corpus by md5(epoch:doc_id), sharded into 8 reader "
    "shards with rank-within-shard — a partition-parallel window per (epoch, "
    "shard), never a global single-partition sort; seed-stable across runs, "
    "engines and partitionings (no rand()), bit-checked by the oracle",
    tags=("sampling", "pipeline"),
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = (
        docs.select(F.explode(F.sequence(F.lit(0), F.lit(2))).alias("e"), "doc_id")
        .select(F.col("e").cast("long").alias("epoch"), "doc_id")
        .withColumn("key", F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))))
    )
    sharded = keyed.withColumn(
        "shard", F.conv(F.substring("key", 1, 8), 16, 10).cast("long") % 8
    )
    w = Window.partitionBy("epoch", "shard").orderBy("key", "doc_id")
    return sharded.select(
        "epoch",
        "shard",
        F.row_number().over(w).cast("long").alias("rk"),
        "doc_id",
    )


@query(
    "q_length_buckets",
    # Length-grouped batching (the HF group_by_length / varlen-batching
    # primitive — the padding-waste counterpart of q_pack_sequences'
    # concat regime): docs are bucketed by whitespace token count into
    # integer-exact exponent+2-bit-mantissa buckets (the audio/video
    # energy-bucket construction, one mantissa bit coarser: lb =
    # 4*(bitlen(n)-1) + 2 bits after the leading bit, every bucket's
    # max/min ratio bounded by (5+m)/(4+m) for mantissa m — within
    # (1, 5/4], approaching [8/7, 5/4] as n grows), and the report prices
    # the padding: within a bucket every sequence pads to the bucket max,
    # unbucketed every sequence pads to the GLOBAL max. All integers; the
    # global max enters via a broadcast 1-row aggregate. One corpus-sized
    # split projection (persisted once — both the bucket aggregate and
    # the global max consume it) + one grouped partial-agg; the report is
    # O(buckets).
    oracle="""
    WITH t AS MATERIALIZED (
      SELECT doc_id, CAST(length(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents),
    b AS MATERIALIZED (
      SELECT doc_id, n,
             (length(bin(n)) - 1) * 4
               + CAST((n >> greatest(length(bin(n)) - 3, 0)) % 4 AS BIGINT)
               AS lb
      FROM t),
    g AS (SELECT CAST(MAX(n) AS BIGINT) AS gmax FROM t)
    SELECT lb,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n) AS BIGINT) AS len_min,
           CAST(MAX(n) AS BIGINT) AS len_max,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) * MAX(n) - SUM(n) AS BIGINT) AS pad_bucketed,
           CAST(COUNT(*) * MAX(gmax) - SUM(n) AS BIGINT) AS pad_global
    FROM b CROSS JOIN g
    GROUP BY lb
    """,
    description="length-grouped batching report: integer log-buckets over "
    "whitespace token counts (exponent + 2-bit mantissa, per-bucket "
    "max/min ratio at most 5/4) with per-bucket padding waste vs padding "
    "every sequence to the global max — the measured case for "
    "group-by-length batching; one persisted corpus-sized split "
    "projection + one grouped partial-agg, report is O(buckets)",
    tags=("sampling", "text"),
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators._ckpt import tracked_persist

    docs = load_table(spark, sf_dir, "documents")
    # both aggregates below consume this corpus-sized split — persist so
    # the text column is scanned and tokenized once, not twice
    t = tracked_persist(
        docs.select(
            "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n")
        )
    )
    blen = F.length(F.bin("n")) - 1
    b = t.withColumn(
        "lb",
        (blen * 4).cast("bigint")
        + F.expr("shiftright(n, cast(greatest(length(bin(n)) - 3, 0) as int)) % 4"),
    )
    g = t.agg(F.max("n").cast("bigint").alias("gmax"))
    return (
        b.crossJoin(F.broadcast(g))
        .groupBy("lb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n").cast("bigint").alias("len_min"),
            F.max("n").cast("bigint").alias("len_max"),
            F.sum("n").cast("bigint").alias("n_tokens"),
            (F.count(F.lit(1)) * F.max("n") - F.sum("n"))
            .cast("bigint")
            .alias("pad_bucketed"),
            (F.count(F.lit(1)) * F.max(F.col("gmax")) - F.sum("n"))
            .cast("bigint")
            .alias("pad_global"),
        )
    )
