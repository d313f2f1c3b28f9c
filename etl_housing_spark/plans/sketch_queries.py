"""Portable probabilistic sketches, fully oracle-checked (round 3).

The engine already ships Spark's native sketch surface (approx_count_distinct
HLL++, approx_top_k, percentile_approx) — those register rows-only because
their hash functions are engine-private. This module builds the two classic
stream sketches from md5-derived hashes that BOTH engines compute
bit-identically (the q_minhash_portable construction), promoting them to
hash-checked: every counter in the count-min matrix and every HyperLogLog
register is reproduced exactly by the DuckDB oracle.

Scale story: both sketches are one explode + one grouped aggregate with
map-side combine — the shuffle carries the SKETCH (d×w counters / m
registers), not the stream, which is the entire point of sketching at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators._ckpt import single_shot_checkpoint
from ..operators.dedup import _MH_A, _MH_B
from ..operators.dedup import _MH_P as _P
from ..operators.sampling import md5_u32
from .registry import query

# Four independent affine hash rows for the count-min depth (d=4, w=256),
# the first four of the MinHash family: err ≤ 2N/w with prob 1 − (1/2)^4
# per probe.
_CM_A, _CM_B = _MH_A[:4], _MH_B[:4]
_CM_W = 256

_H32 = "CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)"


def _cm_rows_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT {i} AS r, (({a} * h + {b}) % {_P}) % {_CM_W} AS bucket, c FROM hashed"
        for i, (a, b) in enumerate(zip(_CM_A, _CM_B))
    )


@query(
    "q_countmin_portable",
    # The probe set is the top-10 true-count tokens (deterministic tie-break)
    # so the result carries its own ground truth: estimate = min over the 4
    # rows of the probed counters, and CMS guarantees estimate ≥ true with
    # overestimates bounded by collisions. Token→counter hashing is
    # md5-affine — bit-identical on both engines, so the full sketch matrix
    # (not just the probes) agrees.
    oracle=f"""
    WITH occ AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    tc AS (SELECT tok, COUNT(*) AS c FROM occ GROUP BY tok),
    hashed AS (SELECT tok, {_H32} AS h, c FROM tc),
    cells AS ({_cm_rows_sql()}),
    sketch AS (SELECT r, bucket, SUM(c) AS cnt FROM cells GROUP BY r, bucket),
    probes AS (
      SELECT tok, h, c AS true_count
      FROM hashed ORDER BY c DESC, tok LIMIT 10),
    probe_cells AS (
      {" UNION ALL ".join(
        f"SELECT tok, true_count, {i} AS r, (({a} * h + {b}) % {_P}) % {_CM_W} AS bucket FROM probes"
        for i, (a, b) in enumerate(zip(_CM_A, _CM_B)))})
    SELECT p.tok, CAST(p.true_count AS BIGINT) AS true_count,
           CAST(MIN(s.cnt) AS BIGINT) AS cms_estimate
    FROM probe_cells p JOIN sketch s ON p.r = s.r AND p.bucket = s.bucket
    GROUP BY p.tok, p.true_count
    """,
    description="portable count-min sketch (d=4, w=256, md5-affine hash rows) over "
    "the token stream, probed at the top-10 true heavy hitters: the sketch is one "
    "grouped aggregate whose shuffle carries d·w counters instead of the stream; "
    "estimates are provably ≥ true counts, and every counter is bit-reproduced by "
    "the oracle — the hash-checked twin of q_heavy_hitters_sketch",
    tags=("sketch", "text"),
)
def q_countmin_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    tc = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    h = md5_u32("tok")
    hashed = tc.select("tok", h.alias("h"), "c")
    cells = hashed.select(
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        ((F.lit(a) * F.col("h") + F.lit(b)) % _P % _CM_W).alias("bucket"),
                    )
                    for i, (a, b) in enumerate(zip(_CM_A, _CM_B))
                ]
            )
        ).alias("cell"),
    ).select("c", "cell.r", "cell.bucket")
    sketch = cells.groupBy("r", "bucket").agg(F.sum("c").alias("cnt"))
    probes = hashed.orderBy(F.desc("c"), "tok").limit(10).select(
        "tok", "h", F.col("c").alias("true_count")
    )
    probe_cells = probes.select(
        "tok",
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        ((F.lit(a) * F.col("h") + F.lit(b)) % _P % _CM_W).alias("bucket"),
                    )
                    for i, (a, b) in enumerate(zip(_CM_A, _CM_B))
                ]
            )
        ).alias("cell"),
    ).select("tok", "true_count", "cell.r", "cell.bucket")
    return (
        probe_cells.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("tok", "true_count")
        .agg(F.min("cnt").cast("bigint").alias("cms_estimate"))
        .select("tok", F.col("true_count").cast("bigint").alias("true_count"), "cms_estimate")
    )


@query(
    "q_hll_portable",
    # HyperLogLog with m=64 registers from the same portable 32-bit hash:
    # register = h mod 64, rho = leading-zero rank of the remaining 26-bit
    # suffix computed EXACTLY via bit length (length(bin(s)) — no float log,
    # so no boundary rounding risk). The register maxima are integer
    # aggregates; Σ 2^−M_j is a sum of 64 exact powers of two spanning
    # ≤ 33 bits of magnitude, so every partial sum is exact in a double and
    # the reduction is order-independent WITHOUT the decimal detour. The
    # small-range linear-counting branch (E ≤ 2.5m with empty registers) is
    # the standard correction, as a deterministic CASE. True distinct count
    # rides along so the result carries its own accuracy statement.
    oracle=f"""
    WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
    vals AS (
      SELECT DISTINCT unnest(
               CASE WHEN len(t) >= 2 THEN
                 list_transform(
                   list_filter(list_zip(t, t[2:]), p -> p[2] IS NOT NULL),
                   p -> concat_ws(' ', p[1], p[2]))
               ELSE [array_to_string(t, ' ')] END) AS tok
      FROM t),
    hashed AS (SELECT {_H32} AS h FROM vals),
    regs AS (
      SELECT h % 64 AS reg,
             MAX(CASE WHEN (h // 64) % 67108864 = 0 THEN 27
                      ELSE 27 - length(bin((h // 64) % 67108864)) END) AS m
      FROM hashed GROUP BY reg),
    allregs AS (
      SELECT g.reg, COALESCE(regs.m, 0) AS m
      FROM (SELECT unnest(generate_series(0, 63)) AS reg) g
      LEFT JOIN regs ON g.reg = regs.reg),
    s AS (
      SELECT SUM(pow(2.0, -m)) AS z,
             SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v
      FROM allregs),
    est AS (
      SELECT 0.709 * 64 * 64 / z AS e_raw, v FROM s),
    fin AS (
      SELECT CASE WHEN e_raw <= 2.5 * 64 AND v > 0
                  THEN 64 * ln(64.0 / v) ELSE e_raw END AS e
      FROM est)
    SELECT ROUND(e, 4) AS hll_estimate,
           (SELECT COUNT(*) FROM vals) AS true_distinct
    FROM fin
    """,
    description="portable HyperLogLog (m=64 registers, md5-derived hash, exact "
    "bit-length rho — no float log) over the distinct word-bigram domain, with the "
    "linear-counting small-range branch and the true distinct count alongside: "
    "one distinct + one 64-register aggregate whose shuffle carries 64 integers; "
    "every register bit-reproduced by the oracle — the hash-checked twin of "
    "q_approx_distinct",
    tags=("sketch", "text"),
)
def q_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Word BIGRAMS, not unigrams: the testdata vocabulary is only ~31 tokens,
    # which would park HLL permanently in its linear-counting branch; the
    # ~1000-bigram domain exercises the raw harmonic-mean estimate.
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) >= 2,
        F.expr(
            "transform(sequence(0, size(split(text, ' ')) - 2), "
            "i -> concat_ws(' ', split(text, ' ')[i], split(text, ' ')[i+1]))"
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))
    # Materialized once (the q_graph_degree pattern): both the register
    # pipeline and the true_distinct aggregate consume the distinct-bigram
    # frame — without this each branch replays the explode+distinct shuffle
    # over the full corpus.
    vals = single_shot_checkpoint(docs.select(F.explode(grams).alias("tok")).distinct())
    h = md5_u32("tok")
    hashed = vals.select(h.alias("h"))
    suffix = (F.col("h") / 64).cast("bigint") % 67108864  # 26-bit suffix
    rho = F.when(suffix == 0, F.lit(27)).otherwise(27 - F.length(F.bin(suffix)))
    regs = hashed.select((F.col("h") % 64).alias("reg"), rho.alias("rho")).groupBy("reg").agg(
        F.max("rho").alias("m")
    )
    allregs = (
        spark.range(64)
        .select(F.col("id").alias("reg"))
        .join(regs, "reg", "left")
        .select("reg", F.coalesce("m", F.lit(0)).alias("m"))
    )
    s = allregs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("z"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).alias("v"),
    )
    est = s.select((F.lit(0.709) * 64 * 64 / F.col("z")).alias("e_raw"), "v")
    fin = est.select(
        F.when(
            (F.col("e_raw") <= 2.5 * 64) & (F.col("v") > 0),
            F.lit(64) * F.log(F.lit(64.0) / F.col("v")),
        )
        .otherwise(F.col("e_raw"))
        .alias("e")
    )
    true_d = vals.agg(F.count(F.lit(1)).alias("true_distinct"))
    return fin.select(F.round("e", 4).alias("hll_estimate")).crossJoin(F.broadcast(true_d))
