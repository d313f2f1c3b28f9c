"""Similarity-search queries over the embeddings table (SURVEY.md §2.13).

The DuckDB oracle reproduces the dot product positionally (range join on the
element index) with the same DECIMAL(38,18) exact accumulation the Spark
side uses, so scores hash identically.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import vectors as V
from ..layout import fan_out
from ..operators import similarity as S
from ..operators.sampling import md5_u32
from ._util import DEC
from .registry import query


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table as the vector operators take it: (vec_id, v:
    array<double>)."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )



@query(
    "q_similarity_topk",
    # Sequential-double scoring on both sides: Spark's aggregate() folds the
    # product array left-to-right; DuckDB's list_dot_product over DOUBLE[]
    # accumulates in the same order — verified bitwise-identical per vector
    # (tests/test_text_functions.py::test_dot_seq_bitwise_matches_duckdb).
    # The fold order is array-defined, not partitioning-defined, so the
    # value is stable on any cluster; the 6dp round adds ~9 orders of
    # magnitude of slack on top.
    oracle="""
    WITH q AS (SELECT embedding AS __q FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.__q AS DOUBLE[])), 6)
             AS score
    FROM embeddings e, q
    ORDER BY score DESC, vec_id LIMIT 10
    """,
    description="brute-force similarity top-k vs a stored query vector (§2.13) — "
    "broadcast query + linear scan + TakeOrderedAndProject; sequential-double "
    "dot scoring (2× the decimal fold, list_dot_product-parity-checked)",
    tags=("vector", "bench"),
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.topk_bruteforce(emb, query_id=0, k=10)


_NORM_DEC = (
    "sqrt(CAST(SUM(CAST(CAST({t}.embedding[i.i] AS DOUBLE) * CAST({t}.embedding[i.i] AS DOUBLE)"
    " AS DECIMAL(38,18))) AS DOUBLE))"
)


@query(
    "q_embed_neardup",
    oracle=f"""
    WITH norms AS (
      SELECT t.vec_id, {_NORM_DEC.format(t="t")} AS nrm
      FROM embeddings t, range(1, 65) i(i) GROUP BY t.vec_id),
    dots AS (
      SELECT e.vec_id AS id_a, q.vec_id AS id_b,
             CAST(SUM(CAST(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)
                  AS DECIMAL(38,18))) AS DOUBLE) AS dot
      FROM embeddings e, embeddings q, range(1, 65) i(i)
      WHERE e.vec_id < q.vec_id
      GROUP BY e.vec_id, q.vec_id)
    SELECT id_a, id_b, ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cos
    FROM dots d JOIN norms na ON d.id_a = na.vec_id JOIN norms nb ON d.id_b = nb.vec_id
    WHERE d.dot / (na.nrm * nb.nrm) >= 0.4
    """,
    description="embedding-cosine near-dup pairs, exact all-pairs form (§2.13) — the "
    "ORACLE TWIN, not the scale path: operators.similarity.exact_neardup_pairs "
    "refuses inputs above max_rows=100k (O(n²) by construction; the guard is a "
    "metadata-only count). The production default is q_embed_neardup_lsh "
    "(multi-table LSH, O(candidates)); its recall vs this exact form is "
    "asserted in tests/test_operators.py",
    tags=("vector",),
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.exact_neardup_pairs(emb, threshold=0.4, max_rows=100_000)


@query(
    "q_embed_neardup_lsh",
    oracle=None,  # Spark-hash-free but recall-lossy by design — rows-only (⊘)
    description="embedding near-dup via multi-table random-hyperplane LSH — the O(n²)-free "
    "scale path and the documented default for near-dup detection; candidates "
    "only within a bucket, unioned over independent hyperplane tables for "
    "recall (bound asserted vs the exact form in tests/test_operators.py)",
    tags=("vector",),
)
def q_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # planes=4/tables=16 measured at recall 0.95 vs the exact form at sf0.01
    # (tests/test_operators.py::test_lsh_multitable_recall). At corpus scale,
    # planes grows with n (bucket occupancy) and tables with the recall target.
    return S.lsh_neardup_pairs(emb, threshold=0.4, planes=4, tables=16)


# --------------------------------------------------------------------------
# Per-label centroid pooling — the mean-embedding reduction behind IVF
# coarse quantizers, class prototypes, and cluster summarization. Shape:
# posexplode to (label, pos, val) and one partial+final HashAggregate
# keyed (label, pos) — the shuffle carries |labels|·dim partial sums per
# partition regardless of row count, so it scales to any corpus size.
# Decimal accumulation (plans/_util rationale) keeps the float sums
# order-independent and bit-identical with the oracle.
# --------------------------------------------------------------------------


@query(
    "q_embed_centroids",
    oracle="""
    SELECT label, CAST(i.i - 1 AS BIGINT) AS pos,
           CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(embedding[i.i]) AS centroid
    FROM embeddings, range(1, 65) i(i)
    GROUP BY label, i.i
    """,
    description="per-label mean-embedding centroids (vector pooling): posexplode + one "
    "(label,pos)-keyed partial+final aggregate; shuffle volume is |labels|×dim, "
    "independent of corpus size",
    tags=("vector",),
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans._util import davg

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(davg(F.col("val").cast("double")).alias("centroid"))
    )


# --------------------------------------------------------------------------
# Scalar quantization — int8 embedding codes (operators/quantize.py). The
# oracle reproduces the exact arithmetic: MIN/MAX are order-independent, the
# quantize expression is the same IEEE tree in both engines, so codes match
# bit for bit. DuckDB's round() is half-away-from-zero; the scaled values
# are non-negative, where Spark's HALF_UP agrees.
# --------------------------------------------------------------------------


@query(
    "q_quantize_int8",
    oracle="""
    WITH expl AS (
      SELECT vec_id, CAST(i.i - 1 AS BIGINT) AS pos,
             CAST(embedding[i.i] AS DOUBLE) AS x
      FROM embeddings, range(1, 65) i(i)),
    ranges AS (
      SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM expl GROUP BY pos)
    SELECT e.vec_id, e.pos,
           CASE WHEN r.hi = r.lo THEN 0
                ELSE CAST(ROUND((e.x - r.lo) / (r.hi - r.lo) * 255) AS INTEGER) END AS code
    FROM expl e JOIN ranges r ON e.pos = r.pos
    """,
    description="int8 scalar quantization of the embedding column (SQ8): per-dimension "
    "MIN/MAX ranges (dim-sized aggregate) broadcast back over the exploded "
    "vectors — 4× storage cut for the ANN scan path, map-only after one tiny "
    "aggregate; codes proven bit-identical against the oracle",
    tags=("vector",),
)
def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantize import scalar_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    return scalar_quantize(emb, levels=255)


def _rp_signs() -> list[list[float]]:
    """±1 Rademacher sign matrix for 8 Johnson-Lindenstrauss projections,
    derived from md5 at plan-build time (hashlib and the engines' md5 agree
    by definition — the matrix is a literal in BOTH plans, so there is no
    cross-engine hash to reconcile at run time)."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{i}_{k}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
            for i in range(64)
        ]
        for k in range(8)
    ]


_RP = _rp_signs()


def _rp_oracle() -> str:
    projs = ",\n           ".join(
        f"list_dot_product(CAST(embedding AS DOUBLE[]), {_RP[k]}) AS p_{k}"
        for k in range(8)
    )
    rounded = ", ".join(f"ROUND(p_{k}, 6) AS p_{k}" for k in range(8))
    bucket = " + ".join(f"(CASE WHEN p_{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(8))
    return f"""
    WITH p AS (
      SELECT vec_id,
           {projs}
      FROM embeddings)
    SELECT vec_id, {rounded}, CAST({bucket} AS BIGINT) AS bucket FROM p
    """


@query(
    "q_random_projection",
    oracle=_rp_oracle(),
    description="Johnson-Lindenstrauss sketch: 8 Rademacher (±1) random projections "
    "per embedding + the sign-bit LSH bucket id — the dimensionality-reduction / "
    "bucketing primitive the ANN tiers build on (operators/similarity.py "
    "hyperplane LSH is this exact construction). Map-only, zero shuffle; the "
    "sign matrix is a seed-deterministic literal in the plan (identical on every "
    "executor and in the oracle), scoring is the sequential-double fold proven "
    "bitwise equal to list_dot_product",
    tags=("vector", "pipeline"),
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    p = emb.select(
        "vec_id",
        *[
            V.dot_seq(F.col("embedding"), F.array(*[F.lit(s) for s in _RP[k]])).alias(f"p_{k}")
            for k in range(8)
        ],
    )
    bucket = " + ".join(f"(CASE WHEN p_{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(8))
    return p.select(
        "vec_id",
        *[F.round(F.col(f"p_{k}"), 6).alias(f"p_{k}") for k in range(8)],
        F.expr(f"CAST({bucket} AS BIGINT)").alias("bucket"),
    )


@query(
    "q_ann_ivf_portable",
    # Every stage is cross-engine exact: centroids are per-dimension
    # DECIMAL(38,18) averages (order-free), query→centroid scores are
    # decimal sums of identical per-dim products, the probe set is a
    # deterministic top-2 (score DESC, label tie-break), and the final cell
    # scan reuses the sequential-double dot proven bitwise equal to
    # list_dot_product. IVF recall vs the exact scan is the documented
    # tradeoff: only vectors in probed cells can surface.
    oracle="""
    WITH cent AS (
      SELECT label, i.i AS i,
             CAST(SUM(CAST(CAST(e.embedding[i.i] AS DOUBLE) AS DECIMAL(38,18)))
                  AS DOUBLE) / COUNT(*) AS c
      FROM embeddings e, range(1, 65) i(i)
      GROUP BY label, i.i),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    lscore AS (
      SELECT cent.label,
             CAST(SUM(CAST(cent.c * CAST(q.qe[cent.i] AS DOUBLE) AS DECIMAL(38,18)))
                  AS DOUBLE) AS s
      FROM cent, q GROUP BY cent.label),
    probe AS (SELECT label FROM lscore ORDER BY s DESC, label LIMIT 4)
    SELECT e.vec_id,
           ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])), 6)
             AS score
    FROM embeddings e JOIN probe p ON e.label = p.label, q
    ORDER BY score DESC, e.vec_id LIMIT 10
    """,
    description="oracle-checked IVF approximate nearest neighbors: runs "
    "operators.similarity.ivf_topk and hash-checks it. "
    "Coarse quantizer = per-label centroids (decimal-exact per-dimension "
    "means), the query scores the k centroids by decimal-exact dot (a tiny "
    "aggregate), probes the top-4 cells by (score DESC, label) (raised from "
    "2 in r13 — the exact top-10 spans ~6 of the 10 overlapping testdata "
    "cells, so nprobe=2 capped recall at 0.3; see q_ann_recall), and scans "
    "ONLY those cells for the exact top-10 — the inverted-file pruning that "
    "turns a full-corpus scan into an O(probed cells) scan at 100 TB",
    tags=("vector", "pipeline"),
)
def q_ann_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.ivf_topk(load_table(spark, sf_dir, "embeddings"), query_id=0, k=10, nprobe=4)


def _rp_bucket_sql() -> str:
    """Sign-bit bucket id from the 8 JL projections (q_random_projection's
    construction) as a DuckDB scalar over one embedding row."""
    return " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {_RP[k]}) > 0 "
        f"THEN {1 << k} ELSE 0 END)"
        for k in range(8)
    )


@query(
    "q_embed_neardup_portable",
    # The production LSH core (operators.similarity._lsh_neardup) over ONE
    # table: the 8 deterministic Rademacher sign planes of
    # q_random_projection instead of seeded Gaussian ones, so the buckets
    # are reproducible in SQL. Candidates are band_pairs over that table,
    # verified with the DECIMAL(38,18)-exact cosine of q_embed_neardup — so
    # unlike the exact all-pairs oracle twin, this one never materializes
    # O(n²) anything, yet still hash-matches DuckDB end to end.
    oracle=f"""
    WITH b AS (
      SELECT vec_id, CAST({_rp_bucket_sql()} AS BIGINT) AS bucket FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
    norms AS (
      SELECT t.vec_id, {_NORM_DEC.format(t="t")} AS nrm
      FROM embeddings t, range(1, 65) i(i) GROUP BY t.vec_id),
    dots AS (
      SELECT p.id_a, p.id_b,
             CAST(SUM(CAST(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)
                  AS DECIMAL(38,18))) AS DOUBLE) AS dot
      FROM pairs p
      JOIN embeddings e ON p.id_a = e.vec_id
      JOIN embeddings q ON p.id_b = q.vec_id, range(1, 65) i(i)
      GROUP BY p.id_a, p.id_b)
    SELECT id_a, id_b, ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cos
    FROM dots d JOIN norms na ON d.id_a = na.vec_id JOIN norms nb ON d.id_b = nb.vec_id
    WHERE d.dot / (na.nrm * nb.nrm) >= 0.4
    """,
    description="oracle-checked embedding near-dup at the SCALE shape: candidates "
    "from the deterministic random-hyperplane sign-bucket equi-join (the "
    "q_random_projection construction — 256 buckets, never all-pairs), then "
    "decimal-exact cosine verification of candidates only. Runs "
    "q_embed_neardup_lsh's code (sign buckets → band_pairs → cosine verify) over "
    "one fixed Rademacher table instead of seeded Gaussian ones, and is the "
    "scale-safe counterpart of "
    "the O(n²) q_embed_neardup oracle form; single-bucket recall is the "
    "documented tradeoff (multi-table union is the operator's recall knob)",
    tags=("vector", "dedup", "pipeline"),
)
def q_embed_neardup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S._lsh_neardup(emb, [_RP], threshold=0.4)


@query(
    "q_pq_codes",
    # Every stage is the q_ann_ivf_portable determinism recipe applied per
    # subspace: decimal-exact codebook means, per-candidate squared-distance
    # decimal sums (identical IEEE (x-c)^2 terms, order-free accumulation),
    # argmin with candidate tie-break. Codes therefore hash-match DuckDB.
    oracle="""
    WITH expl AS (
      SELECT vec_id, CAST(i.i - 1 AS BIGINT) AS i,
             (i.i - 1) // 16 AS sub,
             CAST(embedding[i.i] AS DOUBLE) AS x
      FROM embeddings, range(1, 65) i(i)),
    cent AS (
      SELECT label AS cand, CAST(i.i - 1 AS BIGINT) AS i,
             CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,18)))
                  AS DOUBLE) / COUNT(*) AS c
      FROM embeddings, range(1, 65) i(i)
      GROUP BY label, i.i),
    d2 AS (
      SELECT e.vec_id, e.sub, cent.cand,
             CAST(SUM(CAST((e.x - cent.c) * (e.x - cent.c) AS DECIMAL(38,18)))
                  AS DOUBLE) AS d2
      FROM expl e JOIN cent ON e.i = cent.i
      GROUP BY e.vec_id, e.sub, cent.cand),
    best AS (
      SELECT vec_id, sub, cand, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                ORDER BY d2, cand) AS rk
      FROM d2)
    SELECT vec_id, CAST(sub AS BIGINT) AS subspace, CAST(cand AS BIGINT) AS code,
           ROUND(d2, 6) AS d2
    FROM best WHERE rk = 1
    """,
    description="product-quantization codes (PQ, Jégou et al. 2011 / FAISS IVFPQ): "
    "4 independent 16-dim subspace codebooks (deterministic label-conditioned "
    "decimal-exact means — the assignment-based seeding of the IVF coarse "
    "quantizer), each vector assigned per-subspace to its nearest centroid by "
    "clustering.nearest: an in-row decimal-exact squared-distance fold over a "
    "broadcast candidate array, (d2, code) argmin. 64× storage cut (4 codes "
    "vs 256 float bytes) for the ADC candidate-scoring path; O(n·D·K) "
    "shuffle-free work past the codebook aggregate, no UDF, no collect",
    tags=("vector",),
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantize import pq_codes

    return pq_codes(load_table(spark, sf_dir, "embeddings"))


@query(
    "q_pq_search",
    # ADC = codes ⋈ query-centroid lookup table; extends the q_pq_codes CTE
    # chain with lut + per-vector decimal sums. Ascending top-10, id
    # tie-break; the query vector itself (vec_id 0, ADC distance = its own
    # quantization distortion) is allowed to appear like any other corpus row.
    oracle="""
    WITH expl AS (
      SELECT vec_id, CAST(i.i - 1 AS BIGINT) AS i,
             (i.i - 1) // 16 AS sub,
             CAST(embedding[i.i] AS DOUBLE) AS x
      FROM embeddings, range(1, 65) i(i)),
    cent AS (
      SELECT label AS cand, CAST(i.i - 1 AS BIGINT) AS i,
             CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,18)))
                  AS DOUBLE) / COUNT(*) AS c
      FROM embeddings, range(1, 65) i(i)
      GROUP BY label, i.i),
    d2 AS (
      SELECT e.vec_id, e.sub, cent.cand,
             CAST(SUM(CAST((e.x - cent.c) * (e.x - cent.c) AS DECIMAL(38,18)))
                  AS DOUBLE) AS d2
      FROM expl e JOIN cent ON e.i = cent.i
      GROUP BY e.vec_id, e.sub, cent.cand),
    codes AS (
      SELECT vec_id, sub, cand AS code FROM (
        SELECT vec_id, sub, cand, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) AS rk
        FROM d2) t WHERE rk = 1),
    lut AS (
      SELECT e.sub, cent.cand,
             CAST(SUM(CAST((e.x - cent.c) * (e.x - cent.c) AS DECIMAL(38,18)))
                  AS DOUBLE) AS lut_d2
      FROM expl e JOIN cent ON e.i = cent.i
      WHERE e.vec_id = 0
      GROUP BY e.sub, cent.cand)
    SELECT c.vec_id,
           ROUND(CAST(SUM(CAST(l.lut_d2 AS DECIMAL(38,18))) AS DOUBLE), 6) AS adc_d2
    FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.cand
    GROUP BY c.vec_id
    ORDER BY adc_d2, c.vec_id LIMIT 10
    """,
    description="PQ asymmetric-distance search (ADC): query↔centroid lookup table "
    "(M×K rows, built once per query) + per-vector sum of M code lookups — the "
    "corpus scan touches only 4-byte codes, never the float vectors, which is "
    "PQ's bandwidth win at 100 TB; ascending top-10 via TakeOrderedAndProject, "
    "exact float re-rank of the k survivors is the standard refinement",
    tags=("vector",),
)
def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantize import pq_adc_topk

    return pq_adc_topk(load_table(spark, sf_dir, "embeddings"))


@query(
    "q_ivfpq_search",
    # IVF cell pruning composed with PQ/ADC scoring — the FAISS IVFPQ
    # production topology, ONE metric end to end: the coarse probe ranks
    # cells by full-dim L2 distance = the sum of that cell's subspace LUT
    # entries (cell id == codebook candidate id), so cell selection and
    # ADC scoring cannot disagree on un-normalized inputs. codes/lut are
    # q_pq_search's CTEs with the d2 assignment restricted to probed
    # cells; the LUT builds from the UNfiltered explode — the query's own
    # cell need not be probed. Configuration = the shipped ivfpq_adc_topk
    # DEFAULTS, which since r13 are the sweep-proven operating point
    # (subspaces=16, nprobe=4, IVFADC+R rerank=50 → recall@10 0.8 at ~38%
    # scan; q_ivfpq_sweep row (16,4,50)) — the r12 verdict's "proven-bad
    # 0.1-recall default" replaced at the entry point.
    oracle="""
    WITH expl AS MATERIALIZED (
      SELECT e.vec_id, e.label, CAST(i.i - 1 AS BIGINT) AS i,
             (i.i - 1) // 4 AS sub,
             CAST(e.embedding[i.i] AS DOUBLE) AS x
      FROM embeddings e, range(1, 65) i(i)),
    cent AS MATERIALIZED (
      SELECT label AS cand, CAST(i.i - 1 AS BIGINT) AS i,
             CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,18)))
                  AS DOUBLE) / COUNT(*) AS c
      FROM embeddings, range(1, 65) i(i)
      GROUP BY label, i.i),
    lut AS MATERIALIZED (
      SELECT e.sub, cent.cand,
             CAST(SUM(CAST((e.x - cent.c) * (e.x - cent.c) AS DECIMAL(38,18)))
                  AS DOUBLE) AS lut_d2
      FROM expl e JOIN cent ON e.i = cent.i
      WHERE e.vec_id = 0
      GROUP BY e.sub, cent.cand),
    ldist AS (
      SELECT cand, CAST(SUM(CAST(lut_d2 AS DECIMAL(38,18))) AS DOUBLE) AS d
      FROM lut GROUP BY cand),
    probe AS (SELECT cand AS label FROM ldist ORDER BY d, cand LIMIT 4),
    d2 AS (
      SELECT e.vec_id, e.sub, cent.cand,
             CAST(SUM(CAST((e.x - cent.c) * (e.x - cent.c) AS DECIMAL(38,18)))
                  AS DOUBLE) AS d2
      FROM expl e JOIN probe p ON e.label = p.label
      JOIN cent ON e.i = cent.i
      GROUP BY e.vec_id, e.sub, cent.cand),
    codes AS (
      SELECT vec_id, sub, cand AS code FROM (
        SELECT vec_id, sub, cand, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) AS rk
        FROM d2) t WHERE rk = 1),
    adc AS (
      SELECT c.vec_id,
             ROUND(CAST(SUM(CAST(l.lut_d2 AS DECIMAL(38,18))) AS DOUBLE), 6) AS adc_d2
      FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.cand
      GROUP BY c.vec_id),
    cand AS (SELECT vec_id FROM adc ORDER BY adc_d2, vec_id LIMIT 50),
    ex AS (
      SELECT e.vec_id,
             CAST(SUM(CAST((e.x - qd.qx) * (e.x - qd.qx) AS DECIMAL(38,18)))
                  AS DOUBLE) AS exact_d2
      FROM expl e
      JOIN cand ON e.vec_id = cand.vec_id
      JOIN (SELECT i, x AS qx FROM expl WHERE vec_id = 0) qd ON e.i = qd.i
      GROUP BY e.vec_id)
    SELECT vec_id, ROUND(exact_d2, 6) AS exact_d2 FROM (
      SELECT vec_id, exact_d2 FROM ex ORDER BY exact_d2, vec_id LIMIT 10) t
    """,
    description="IVFPQ search at the sweep-proven shipped default (FAISS's "
    "production ANN index, Jégou et al. 2011 §V-VI; IVFADC+R): coarse "
    "quantizer probes the 4 L2-nearest cells — the probe distance is the sum "
    "of each cell's subspace LUT entries, so probe and ADC share ONE metric — "
    "then ONLY those cells' vectors are scored by ADC lookup on their 16-byte "
    "PQ codes, and the ADC top-50 is exactly re-ranked by decimal L2 on the "
    "floats (recall@10 0.8 at ~38% scan per q_ivfpq_sweep; the r12-shipped "
    "(4,2,no-rerank) default measured 0.1 and was replaced). Stacks both "
    "100 TB wins: the scan touches nprobe/K of the corpus as codes, and the "
    "exact pass touches only 50 vectors, so the scan shape is unchanged. "
    "Fixture-scale instrument: the 10-label index does not grow with the "
    "corpus, so this default's recall decays past fixture scale (r13 "
    "decade measurement 0.8→0.2→0.1) — the at-scale entry point is "
    "q_ann_ivf_scaled (corpus-scaled cells, recall holds ≥0.8)",
    tags=("vector",),
)
def q_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantize import ivfpq_adc_topk

    # top-10 selection orders by the UNrounded decimal-exact sum on both
    # engines; the displayed value is rounded to 6 because the final
    # decimal(38,18)->double cast can differ in the last ULP across engines
    out = ivfpq_adc_topk(load_table(spark, sf_dir, "embeddings"))
    return out.select("vec_id", F.round("exact_d2", 6).alias("exact_d2"))


@query(
    "q_centroid_confusion",
    # Nearest-centroid classification + confusion matrix — the evaluation
    # report for the embedding space (are labels geometrically coherent?).
    # Centroids/distances are the q_pq_codes determinism recipe over the
    # FULL vector (decimal means, order-free decimal squared-distance sums,
    # argmin with candidate tie-break); the confusion matrix is one grouped
    # count of (true label, assigned label) cells.
    oracle="""
    WITH expl AS (
      SELECT vec_id, label, CAST(i.i - 1 AS BIGINT) AS i,
             CAST(embedding[i.i] AS DOUBLE) AS x
      FROM embeddings, range(1, 65) i(i)),
    cent AS (
      SELECT label AS cand, CAST(i.i - 1 AS BIGINT) AS i,
             CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,18)))
                  AS DOUBLE) / COUNT(*) AS c
      FROM embeddings, range(1, 65) i(i)
      GROUP BY label, i.i),
    d2 AS (
      SELECT e.vec_id, MIN(e.label) AS true_label, cent.cand,
             CAST(SUM(CAST((e.x - cent.c) * (e.x - cent.c) AS DECIMAL(38,18)))
                  AS DOUBLE) AS d2
      FROM expl e JOIN cent ON e.i = cent.i
      GROUP BY e.vec_id, cent.cand),
    best AS (
      SELECT vec_id, true_label, cand AS pred_label FROM (
        SELECT vec_id, true_label, cand, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rk
        FROM d2) t WHERE rk = 1)
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           COUNT(*) AS n
    FROM best GROUP BY true_label, pred_label
    """,
    description="nearest-centroid classification confusion matrix over the "
    "embedding space (the label-coherence evaluation an embedding pipeline "
    "reports): decimal-exact per-label centroids broadcast as one candidate "
    "array, clustering.nearest per vector (in-row decimal-exact squared "
    "distances, (d2, label) argmin), then one grouped count of (true, "
    "predicted) cells — matrix size K², independent of corpus size; O(n·D·K) "
    "shuffle-free work before the count, no UDF",
    tags=("vector",),
)
def q_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import clustering as C
    from ..operators.quantize import _pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _pq_codebooks(emb, "embedding", "label")
    pred = emb.crossJoin(F.broadcast(C.cand_arrays(cents))).select(
        "label", C.nearest(F.col("embedding"), F.col("cands"))["cand"].alias("pred")
    )
    return pred.groupBy(
        F.col("label").cast("long").alias("true_label"),
        F.col("pred").cast("long").alias("pred_label"),
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "q_hard_negatives",
    # Hard-negative mining: for each anchor vector, the top-2 most-similar
    # vectors with a DIFFERENT label — the contrastive-training pair-builder.
    # The label-inequality join is the expensive direction (blocks don't
    # prune it); at this catalog's scale it runs as one shuffle join, and at
    # 100 TB the anchor side joins against an IVF cell list covering other
    # labels (q_ann_ivf_portable's layout) — same ranking logic, pruned candidates.
    # Scores round to 6dp before ranking so rank order is engine-identical.
    oracle="""
    WITH scored AS (
      SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
             a.label AS anchor_label, b.label AS neg_label,
             ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings a JOIN embeddings b ON a.label <> b.label)
    SELECT anchor_id, neg_id, anchor_label, neg_label, score FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                   ORDER BY score DESC, neg_id) AS rk
      FROM scored) t
    WHERE rk <= 2
    """,
    description="hard-negative mining for contrastive training: per anchor, the "
    "top-2 highest-dot vectors with a different label — cross-label scored join + "
    "per-anchor window rank on 6dp-rounded scores; the candidate generator that an "
    "IVF cell list prunes at 100 TB",
    tags=("vector", "pipeline"),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # fan_out the STREAMED side of the label-inequality BroadcastNestedLoop
    # join (r16, guide §2.5 input skew): the theta join runs in the anchor
    # scan's partitioning, and a single-file corpus scan is ONE task — the
    # whole n²·dim dot_seq stream (and the map-side WindowGroupLimit top-2)
    # ran single-threaded, measured 26 s isolated cold at sf0.1. Metadata-
    # driven no-op for multi-file/big inputs; values unchanged (the window
    # rank re-sorts per anchor regardless of physical row order).
    a = fan_out(
        emb.select(
            F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("a_emb"),
            F.col("label").alias("anchor_label"),
        ),
        "anchor_id",
    )
    b = emb.select(
        F.col("vec_id").alias("neg_id"), F.col("embedding").alias("b_emb"),
        F.col("label").alias("neg_label"),
    )
    scored = a.join(b, F.col("anchor_label") != F.col("neg_label")).select(
        "anchor_id", "neg_id", "anchor_label", "neg_label",
        F.round(V.dot_seq(F.col("a_emb"), F.col("b_emb")), 6).alias("score"),
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("score"), "neg_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("anchor_id", "neg_id", "anchor_label", "neg_label", "score")
    )


@query(
    "q_rrf_fusion",
    # Reciprocal-rank fusion (the hybrid-retrieval combiner): two rankings of
    # the same candidate set — inner-product and Euclidean — fuse as
    # Σ 1/(60+rank). Ranks are row_numbers over 6dp-rounded scores with id
    # tie-breaks (engine-identical); the fused score is then arithmetic on
    # small integers — identical doubles. ‖a−b‖² derives from the three dot
    # products (‖a‖²+‖b‖²−2a·b), each rounded 6dp, so no new float surface.
    # One scored join + two windows over the same partition key + one final
    # per-anchor top-3.
    oracle="""
    WITH scored AS (
      SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])), 6) AS dot,
             ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])), 6)
             + ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])), 6)
             - 2 * ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])), 6) AS d2
      FROM embeddings q JOIN embeddings e
        ON q.label = e.label AND q.vec_id <> e.vec_id),
    ranked AS (
      SELECT q_id, n_id,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dot DESC, n_id) AS r_dot,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2 ASC, n_id) AS r_l2
      FROM scored)
    SELECT q_id, n_id, r_dot, r_l2,
           ROUND(1.0 / (60 + r_dot) + 1.0 / (60 + r_l2), 6) AS rrf
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_id
            ORDER BY 1.0 / (60 + r_dot) + 1.0 / (60 + r_l2) DESC, n_id) AS rk
          FROM ranked) t
    WHERE rk <= 3
    """,
    description="reciprocal-rank fusion of inner-product and Euclidean rankings "
    "within each label block (the hybrid-search combiner, k=60): one scored join "
    "feeds two window ranks on the same partition key (one shuffle, two in-memory "
    "sorts), fused score 1/(60+r_dot)+1/(60+r_l2), per-anchor top-3 — rank "
    "arithmetic on integers so cross-engine exact",
    tags=("vector", "pipeline"),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # r16 (guide §2.4/§2.5): the label-blocked scored join is a broadcast
    # hash join, so the n²/|labels| dot_seq stream runs in the STREAMED
    # side's partitioning — one task for a single-file corpus scan
    # (fan_out; metadata-driven no-op at production file counts). The
    # self-dots ‖q‖², ‖n‖² are per-VECTOR values: computing them in the
    # per-side projections (same rounded dot_seq expression → identical
    # doubles) instead of per PAIR removes two of the three 64-dim folds
    # from the pair stream. Isolated cold action 8.5 s → see
    # OPTIMIZATION_r16.md.
    q = fan_out(
        emb.select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), "label"
        ),
        "q_id",
    ).withColumn("qq", F.round(V.dot_seq(F.col("q_emb"), F.col("q_emb")), 6))
    e = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_emb"), "label"
    ).withColumn("nn", F.round(V.dot_seq(F.col("n_emb"), F.col("n_emb")), 6))
    dot = F.round(V.dot_seq(F.col("q_emb"), F.col("n_emb")), 6)
    scored = (
        q.join(e, "label")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            dot.alias("dot"),
            (F.col("qq") + F.col("nn") - 2 * dot).alias("d2"),
        )
    )
    w_dot = Window.partitionBy("q_id").orderBy(F.desc("dot"), "n_id")
    w_l2 = Window.partitionBy("q_id").orderBy(F.asc("d2"), "n_id")
    ranked = scored.select(
        "q_id", "n_id",
        F.row_number().over(w_dot).alias("r_dot"),
        F.row_number().over(w_l2).alias("r_l2"),
    )
    fused = F.lit(1.0) / (60 + F.col("r_dot")) + F.lit(1.0) / (60 + F.col("r_l2"))
    w_f = Window.partitionBy("q_id").orderBy(fused.desc(), "n_id")
    return (
        ranked.withColumn("rk", F.row_number().over(w_f))
        .filter(F.col("rk") <= 3)
        .select("q_id", "n_id", "r_dot", "r_l2", F.round(fused, 6).alias("rrf"))
    )


def _ann_recall_oracle() -> str:
    """Recall@10 oracle composed from the two registered constructions:
    the exact brute-force top-10 and the IVF-probed top-10 (both
    deterministic, both already hash-checked on their own)."""
    from .registry import _REGISTRY

    exact = _REGISTRY["q_similarity_topk"].oracle
    approx = _REGISTRY["q_ann_ivf_portable"].oracle
    return f"""
    SELECT CAST(10 AS BIGINT) AS k, COUNT(*) AS n_hits,
           ROUND(COUNT(*) / 10.0, 6) AS recall_at_k
    FROM ({exact}) e JOIN ({approx}) a ON e.vec_id = a.vec_id
    """


@query(
    "q_ann_recall",
    # Evaluation-of-retrieval primitive: recall@k of the IVF tier measured
    # against the exact scan ground truth. Both sides are the already-
    # registered deterministic constructions, so the metric itself is
    # hash-checkable — the recall number the ANN tuning loop (nprobe,
    # cells, tables) optimizes, computed in-engine instead of driver-side.
    oracle=_ann_recall_oracle(),
    description="ANN recall@10: semi-join of the IVF-probed top-10 "
    "(q_ann_ivf_portable construction) against the exact brute-force top-10 "
    "ground truth (q_similarity_topk construction) — the retrieval-quality "
    "metric an ANN index tuning loop optimizes; both sides deterministic, so "
    "the metric hash-matches the oracle; ground truth cost is one linear scan "
    "for the evaluated query set, run on a sample at corpus scale. Measured "
    "0.8 at sf0.01 under the r13 default nprobe=4: the exact top-10 spans ~6 "
    "of 10 label cells (the testdata Gaussians overlap under the dot metric), "
    "so the r12-era nprobe=2 capped recall at 0.3 — the diagnostic that drove "
    "the default raise in ivf_topk/q_ann_ivf_portable",
    tags=("vector", "eval"),
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = q_similarity_topk(spark, sf_dir).select("vec_id")
    approx = q_ann_ivf_portable(spark, sf_dir).select("vec_id")
    hits = exact.join(approx, "vec_id", "semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return hits.select(
        F.lit(10).cast("long").alias("k"),
        "n_hits",
        F.round(F.col("n_hits") / 10.0, 6).alias("recall_at_k"),
    )


def _exact_l2_top10_sql() -> str:
    """Decimal-exact brute-force L2 top-10 for query vector 0 — the ground
    truth the IVFPQ tier is scored against (identical per-dim IEEE terms,
    order-free decimal accumulation, (d2, vec_id) tie-break)."""
    return """
    SELECT e2.vec_id FROM (
      SELECT e.vec_id,
             CAST(SUM(CAST((CAST(e.embedding[i.i] AS DOUBLE) - CAST(q.qe[i.i] AS DOUBLE))
                           * (CAST(e.embedding[i.i] AS DOUBLE) - CAST(q.qe[i.i] AS DOUBLE))
                           AS DECIMAL(38,18))) AS DOUBLE) AS d2
      FROM embeddings e
      CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
      CROSS JOIN range(1, 65) i(i)
      GROUP BY e.vec_id) e2
    ORDER BY e2.d2, e2.vec_id LIMIT 10
    """


def _ivfpq_recall_oracle() -> str:
    from .registry import _REGISTRY

    approx = _REGISTRY["q_ivfpq_search"].oracle
    return f"""
    SELECT CAST(10 AS BIGINT) AS k, COUNT(*) AS n_hits,
           ROUND(COUNT(*) / 10.0, 6) AS recall_at_k
    FROM ({_exact_l2_top10_sql()}) e JOIN ({approx}) a ON e.vec_id = a.vec_id
    """


@query(
    "q_ivfpq_recall",
    # The q_ann_recall companion for the composed IVFPQ tier, scored in the
    # index's OWN metric: recall@10 against the decimal-exact brute-force
    # L2 top-10 (not the dot-product truth — a recall metric must share
    # the index's distance or it measures metric disagreement, not index
    # quality). Both sides deterministic and the approx side is the
    # registered q_ivfpq_search oracle verbatim, so the metric itself
    # hash-matches. This is the number the (nprobe, M, K) tuning loop
    # optimizes; the losses it sees decompose into cell-miss (IVF) +
    # quantization reranking error (PQ), and raising nprobe / adding an
    # exact re-rank of the ADC top-k are the standard remedies.
    oracle=_ivfpq_recall_oracle(),
    description="IVFPQ recall@10 vs the decimal-exact brute-force L2 ground "
    "truth — the retrieval-quality metric for the composed index, scored in "
    "the index's own metric; losses decompose into IVF cell-miss + PQ "
    "quantization error, the two knobs (nprobe, codebook size) a tuning "
    "loop turns; both sides deterministic so the metric hash-matches. "
    "Measures the SHIPPED ivfpq_adc_topk default, which since r13 is the "
    "sweep-proven (M=16, nprobe=4, rerank=50) operating point — recall@10 "
    "0.8 at ~38% scan (q_ivfpq_sweep). The r12-shipped (4,2,no-rerank) "
    "default measured 0.1 on this same metric (testdata Gaussians overlap "
    "across the 10 label cells, K=10 codebooks, 2-cell probing + coarse "
    "ADC tie plateaus) — the diagnosis that drove the sweep and the "
    "default flip. Run AT SCALE this metric is the collapse detector: "
    "0.8→0.2→0.1 across sf0.01/sf1/sf10 under the fixed 10-entry index "
    "(r13) — the finding q_ann_ivf_scaled/q_ann_recall_scaled answer",
    tags=("vector", "eval"),
)
def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantize import ivfpq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    exact = _exact_l2_top10(emb)
    approx = ivfpq_adc_topk(emb).select("vec_id")
    hits = exact.join(approx, "vec_id", "semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return hits.select(
        F.lit(10).cast("long").alias("k"),
        "n_hits",
        F.round(F.col("n_hits") / 10.0, 6).alias("recall_at_k"),
    )


def _exact_l2_top10(emb: DataFrame) -> DataFrame:
    """Decimal-exact brute-force L2 top-10 ids for query vector 0 — the
    ground truth every ANN recall metric in this module scores against
    (the Spark twin of _exact_l2_top10_sql)."""
    q = emb.filter(F.col("vec_id") == 0).select(
        F.posexplode(F.col("embedding")).alias("i", "qx")
    )
    d2 = (
        emb.select("vec_id", F.posexplode(F.col("embedding")).alias("i", "x"))
        .join(F.broadcast(q), "i")
        .groupBy("vec_id")
        .agg(
            F.sum(
                (
                    (F.col("x").cast("double") - F.col("qx").cast("double"))
                    * (F.col("x").cast("double") - F.col("qx").cast("double"))
                ).cast("decimal(38,18)")
            )
            .cast("double")
            .alias("d2")
        )
    )
    return d2.orderBy("d2", "vec_id").limit(10).select("vec_id")


# The operating points the sweep measures: the shipped default first (the
# honest 0.1-recall row), then the two knobs the docstrings prescribe —
# finer codes (subspaces 4 → 16) and wider probes — and the IVFADC+R exact
# re-rank that breaks the coarse-code tie plateaus. (subspaces, nprobe,
# rerank); rerank None = plain ADC cut.
_SWEEP_CONFIGS: list[tuple[int, int, int | None]] = [
    (4, 2, None),
    (4, 8, None),
    (16, 2, None),
    (16, 4, None),
    (16, 4, 50),
    (16, 8, 50),
]


def _ivfpq_config_sql(subspaces: int, nprobe: int, rerank: int | None) -> str:
    """One sweep row: the q_ivfpq_search oracle parameterized by
    (subspaces, nprobe) plus the optional exact re-rank leg, joined to the
    brute-force truth and to the probed-cell scan fraction — all inside
    one WITH scope so the fraction measures the probe the search used."""
    per_sub = 64 // subspaces
    rerank_ctes = (
        ""
        if rerank is None
        else f""",
    cand AS (SELECT vec_id FROM adc ORDER BY adc_d2, vec_id LIMIT {rerank}),
    ex AS (
      SELECT e.vec_id,
             CAST(SUM(CAST((e.x - qd.qx) * (e.x - qd.qx) AS DECIMAL(38,18)))
                  AS DOUBLE) AS exact_d2
      FROM expl e
      JOIN cand ON e.vec_id = cand.vec_id
      JOIN (SELECT i, x AS qx FROM expl WHERE vec_id = 0) qd ON e.i = qd.i
      GROUP BY e.vec_id)"""
    )
    final = (
        "SELECT vec_id FROM ex ORDER BY exact_d2, vec_id LIMIT 10"
        if rerank is not None
        else "SELECT vec_id FROM adc ORDER BY adc_d2, vec_id LIMIT 10"
    )
    return f"""(
    WITH expl AS MATERIALIZED (
      SELECT e.vec_id, e.label, CAST(i.i - 1 AS BIGINT) AS i,
             (i.i - 1) // {per_sub} AS sub,
             CAST(e.embedding[i.i] AS DOUBLE) AS x
      FROM embeddings e, range(1, 65) i(i)),
    cent AS MATERIALIZED (
      SELECT label AS cand, CAST(i.i - 1 AS BIGINT) AS i,
             CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,18)))
                  AS DOUBLE) / COUNT(*) AS c
      FROM embeddings, range(1, 65) i(i)
      GROUP BY label, i.i),
    lut AS MATERIALIZED (
      SELECT e.sub, cent.cand,
             CAST(SUM(CAST((e.x - cent.c) * (e.x - cent.c) AS DECIMAL(38,18)))
                  AS DOUBLE) AS lut_d2
      FROM expl e JOIN cent ON e.i = cent.i
      WHERE e.vec_id = 0
      GROUP BY e.sub, cent.cand),
    ldist AS (
      SELECT cand, CAST(SUM(CAST(lut_d2 AS DECIMAL(38,18))) AS DOUBLE) AS d
      FROM lut GROUP BY cand),
    probe AS MATERIALIZED (
      SELECT cand AS label FROM ldist ORDER BY d, cand LIMIT {nprobe}),
    d2 AS (
      SELECT e.vec_id, e.sub, cent.cand,
             CAST(SUM(CAST((e.x - cent.c) * (e.x - cent.c) AS DECIMAL(38,18)))
                  AS DOUBLE) AS d2
      FROM expl e JOIN probe p ON e.label = p.label
      JOIN cent ON e.i = cent.i
      GROUP BY e.vec_id, e.sub, cent.cand),
    codes AS (
      SELECT vec_id, sub, cand AS code FROM (
        SELECT vec_id, sub, cand, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) AS rk
        FROM d2) t WHERE rk = 1),
    adc AS (
      SELECT c.vec_id,
             ROUND(CAST(SUM(CAST(l.lut_d2 AS DECIMAL(38,18))) AS DOUBLE), 6) AS adc_d2
      FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.cand
      GROUP BY c.vec_id){rerank_ctes},
    truth AS ({_exact_l2_top10_sql()}),
    approx AS ({final}),
    scan AS (
      SELECT ROUND(CAST(COUNT(*) AS DOUBLE)
                   / (SELECT COUNT(*) FROM embeddings), 6) AS f
      FROM embeddings e JOIN probe p ON e.label = p.label)
    SELECT CAST({subspaces} AS BIGINT) AS subspaces,
           CAST({nprobe} AS BIGINT) AS nprobe,
           CAST({rerank or 0} AS BIGINT) AS rerank,
           (SELECT f FROM scan) AS scanned_fraction,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           ROUND(COUNT(*) / 10.0, 6) AS recall_at_10
    FROM truth t JOIN approx a ON t.vec_id = a.vec_id)"""


def _ivfpq_sweep_oracle() -> str:
    return "\nUNION ALL\n".join(
        _ivfpq_config_sql(m, np_, rr) for (m, np_, rr) in _SWEEP_CONFIGS
    )


@query(
    "q_ivfpq_sweep",
    # The tuning run the recall harness was built for (VERDICT r11 task 2):
    # q_ivfpq_recall measures ONE operating point (the shipped default,
    # honestly 0.1); this query runs the frontier — recall@10 vs scanned
    # fraction across (subspaces, nprobe, rerank) — and demonstrates the
    # two standard remedies from the PQ paper actually working on this
    # index: finer codes (M 4→16) lift plain-ADC recall, and the IVFADC+R
    # exact re-rank of the ADC top-50 breaks the coarse-code tie plateau
    # (with 10 codewords per subspace, near neighbors share codes and the
    # plain top-10 cut is tie-break noise — the measured 0.1 diagnosis).
    # The operating point a deployment would pick is on this table:
    # (M=16, nprobe=4, rerank=50) reaches recall 0.8 scanning ~38% of the
    # corpus; (M=16, nprobe=8, rerank=50) reaches 1.0 at ~79%. The exact
    # re-rank touches only 50 vectors, so the 100 TB scan shape (probed
    # cells × M-byte codes) is unchanged. Every config shares one WITH
    # scope per row, so the scanned fraction measures the exact probe its
    # search used.
    oracle=_ivfpq_sweep_oracle(),
    description="IVFPQ operating-point sweep: recall@10 vs scanned corpus "
    "fraction across (subspaces, nprobe, exact-rerank) configurations — the "
    "frontier table an ANN deployment tunes on; demonstrates a >= 0.8-recall "
    "configuration at ~38% scan (M=16, nprobe=4, rerank=50) where the "
    "shipped default measured 0.1, with the re-rank touching only 50 "
    "vectors so the code-scan scale shape is unchanged",
    tags=("vector", "eval"),
)
def q_ivfpq_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators._ckpt import tracked_persist
    from ..operators.quantize import _ivfpq_parts, _pq_codebooks, ivfpq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # the truth frame (corpus-wide exploded L2 aggregate — the most
    # expensive subtree here), the corpus count, and the codebook frame
    # (config-independent: depends on neither subspaces nor nprobe) fan
    # into all 6 union branches: persist each ONCE or they re-execute —
    # and in cent's case re-persist 6 identical copies — per branch
    total = tracked_persist(emb.agg(F.count(F.lit(1)).alias("n_total")))
    truth = tracked_persist(_exact_l2_top10(emb))
    cent = tracked_persist(_pq_codebooks(emb, "embedding", "label"))
    out = None
    for m, np_, rr in _SWEEP_CONFIGS:
        parts = _ivfpq_parts(
            emb, 0, np_, m, 64, "vec_id", "embedding", "label", codebooks=cent
        )
        probe = parts[2]
        approx = ivfpq_adc_topk(
            emb, nprobe=np_, subspaces=m, rerank=rr, parts=parts
        ).select("vec_id")
        scanned = emb.join(F.broadcast(probe), "label").agg(
            F.count(F.lit(1)).alias("n_probed")
        )
        row = (
            truth.join(approx, "vec_id", "semi")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .crossJoin(scanned)
            .crossJoin(total)
            .select(
                F.lit(m).cast("bigint").alias("subspaces"),
                F.lit(np_).cast("bigint").alias("nprobe"),
                F.lit(rr or 0).cast("bigint").alias("rerank"),
                F.round(
                    F.col("n_probed").cast("double") / F.col("n_total"), 6
                ).alias("scanned_fraction"),
                F.col("n_hits").cast("bigint").alias("n_hits"),
                F.round(F.col("n_hits") / 10.0, 6).alias("recall_at_10"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "q_ndcg",
    # nDCG@10 of the brute-force retrieval for query vector 0, with binary
    # relevance = same-label-as-query: DCG = Σ rel_i / log2(i + 1) over the
    # deterministic (score DESC, vec_id) ranking, IDCG over the ideal
    # (all-relevant-first) ordering at depth min(corpus-wide relevant
    # count, k) — so poor recall is penalized — nDCG = DCG / IDCG.
    # Ranks and relevances are integers; the log2 terms divide identical
    # doubles and sum decimal-exact — the graded-relevance companion to
    # q_ann_recall's set overlap and q_rank_auc's pairwise view.
    oracle="""
    WITH q AS (
      SELECT embedding AS qe, label AS ql FROM embeddings WHERE vec_id = 0),
    ranked AS (
      SELECT e.vec_id,
             CASE WHEN e.label = q.ql THEN 1 ELSE 0 END AS rel,
             ROW_NUMBER() OVER (ORDER BY
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.qe AS DOUBLE[])), 6) DESC,
               e.vec_id) AS rk
      FROM embeddings e, q WHERE e.vec_id <> 0),
    top AS (SELECT rel, rk FROM ranked WHERE rk <= 10),
    dcg AS (
      SELECT CAST(SUM(CAST(rel / log2(rk + 1) AS DECIMAL(18,6))) AS DOUBLE)
               AS dcg,
             CAST(SUM(rel) AS BIGINT) AS n_rel
      FROM top),
    tot AS (
      SELECT COUNT(*) AS total_rel
      FROM embeddings e, q WHERE e.vec_id <> 0 AND e.label = q.ql),
    ideal AS (
      SELECT CAST(SUM(CAST(1 / log2(i.i + 1) AS DECIMAL(18,6))) AS DOUBLE)
               AS idcg
      FROM range(1, 11) i(i), tot
      WHERE i.i <= GREATEST(LEAST(tot.total_rel, 10), 1))
    SELECT dcg.n_rel, ROUND(dcg.dcg, 6) AS dcg,
           ROUND(ideal.idcg, 6) AS idcg,
           ROUND(dcg.dcg / ideal.idcg, 6) AS ndcg_at_10
    FROM dcg CROSS JOIN ideal
    """,
    description="nDCG@10 of brute-force retrieval for a stored query vector "
    "(binary relevance = same label): deterministic (score DESC, id) "
    "ranking, DCG and ideal-DCG from integer ranks through identical log2 "
    "divisions summed decimal-exact — the graded-relevance ranking metric "
    "beside q_ann_recall (set overlap) and q_rank_auc (pairwise); one "
    "linear scan + windows on the top-10 frame",
    tags=("vector", "eval"),
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("label").alias("ql")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.when(F.col("label") == F.col("ql"), 1).otherwise(0).alias("rel"),
            F.round(V.dot_seq(F.col("embedding"), F.col("qe")), 6).alias("s"),
        )
    )
    ranked = scored.select(
        "rel", F.row_number().over(Window.orderBy(F.desc("s"), "vec_id")).alias("rk")
    ).filter(F.col("rk") <= 10)
    dcg = ranked.agg(
        F.sum((F.col("rel") / F.log2(F.col("rk") + 1)).cast(DEC))
        .cast("double")
        .alias("dcg"),
        F.sum("rel").cast("bigint").alias("n_rel"),
    )
    # ideal depth = min(corpus-wide relevant count, k) — NOT the relevant
    # count inside the retrieved top-10, which would award nDCG=1 to any
    # ranking that merely sorts its hits contiguously (round-4 advisor)
    tot = scored.agg(F.sum("rel").cast("bigint").alias("total_rel"))
    ks = dcg.sparkSession.range(1, 11).select(F.col("id").alias("i"))
    ideal = (
        ks.crossJoin(F.broadcast(tot))
        .where(F.col("i") <= F.greatest(F.least(F.col("total_rel"), F.lit(10)), F.lit(1)))
        .agg(
            F.sum((F.lit(1) / F.log2(F.col("i") + 1)).cast(DEC))
            .cast("double")
            .alias("idcg")
        )
    )
    return (
        dcg.crossJoin(F.broadcast(ideal))
        .select(
            "n_rel",
            F.round("dcg", 6).alias("dcg"),
            F.round("idcg", 6).alias("idcg"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_10"),
        )
    )


@query(
    "q_mrr",
    # Mean reciprocal rank over a 10-query panel (vec_ids 0-9), completing
    # the retrieval-eval triad with q_ann_recall (set overlap) and q_ndcg
    # (graded ranking): per query, candidates are ranked by the
    # deterministic (score DESC, id) order and the first same-label hit's
    # reciprocal rank contributes; queries with no relevant hit contribute
    # 0 via the left join. Ranks are integers; reciprocal ranks divide
    # identical ints; the mean is decimal-exact. Scale shape: a fixed query
    # panel × one linear scan (sampled panel at corpus scale, or the IVF
    # tier as the candidate source).
    oracle="""
    WITH qs AS (
      SELECT vec_id AS qid, embedding AS qe, label AS ql
      FROM embeddings WHERE vec_id < 10),
    ranked AS (
      SELECT qs.qid,
             CASE WHEN e.label = qs.ql THEN 1 ELSE 0 END AS rel,
             ROW_NUMBER() OVER (PARTITION BY qs.qid ORDER BY
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(qs.qe AS DOUBLE[])), 6) DESC,
               e.vec_id) AS rk
      FROM embeddings e JOIN qs ON e.vec_id <> qs.qid),
    firsthit AS (
      SELECT qid, MIN(rk) AS frk FROM ranked WHERE rel = 1 GROUP BY qid)
    SELECT COUNT(*) AS n_queries,
           CAST(SUM(CASE WHEN f.frk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_hit,
           ROUND(CAST(SUM(CAST(COALESCE(1.0 / f.frk, 0) AS DECIMAL(18,6)))
                      AS DOUBLE) / COUNT(*), 6) AS mrr
    FROM qs LEFT JOIN firsthit f ON qs.qid = f.qid
    """,
    description="mean reciprocal rank over a 10-query panel: per query the "
    "deterministic (score DESC, id) ranking's first same-label hit "
    "contributes 1/rank (0 when none), averaged decimal-exact — completes "
    "the retrieval-eval triad beside recall@k and nDCG; a fixed panel times "
    "one linear scan, with the IVF tier as the candidate source at corpus "
    "scale",
    tags=("vector", "eval"),
)
def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("ql"),
    )
    ranked = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.when(F.col("label") == F.col("ql"), 1).otherwise(0).alias("rel"),
            F.round(V.dot_seq(F.col("embedding"), F.col("qe")), 6).alias("s"),
            "vec_id",
        )
        .select(
            "qid",
            "rel",
            F.row_number()
            .over(Window.partitionBy("qid").orderBy(F.desc("s"), "vec_id"))
            .alias("rk"),
        )
    )
    firsthit = (
        ranked.where(F.col("rel") == 1).groupBy("qid").agg(F.min("rk").alias("frk"))
    )
    return (
        qs.select("qid")
        .join(firsthit, "qid", "left")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(F.when(F.col("frk").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_with_hit"),
            F.round(
                F.sum(F.coalesce(F.lit(1.0) / F.col("frk"), F.lit(0.0)).cast(DEC))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mrr"),
        )
    )


_KM_CTES = """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)),
    d1 AS (
      SELECT e.vec_id, c0.cid,
             CAST(SUM(CAST((e.v[i.i + 1] - c0.c[i.i + 1]) * (e.v[i.i + 1] - c0.c[i.i + 1])
                           AS DECIMAL(28,18))) AS DOUBLE) AS d
      FROM e CROSS JOIN c0 JOIN range(0, 64) i(i) ON true
      GROUP BY e.vec_id, c0.cid),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d1) WHERE rn = 1),
    p1 AS (
      SELECT a1.cid, i.i AS dim,
             CAST(SUM(CAST(e.v[i.i + 1] AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS m
      FROM a1 JOIN e ON a1.vec_id = e.vec_id JOIN range(0, 64) i(i) ON true
      GROUP BY a1.cid, i.i),
    c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM p1 GROUP BY cid),
    d2 AS (
      SELECT e.vec_id, c1.cid,
             CAST(SUM(CAST((e.v[i.i + 1] - c1.c[i.i + 1]) * (e.v[i.i + 1] - c1.c[i.i + 1])
                           AS DECIMAL(28,18))) AS DOUBLE) AS d
      FROM e CROSS JOIN c1 JOIN range(0, 64) i(i) ON true
      GROUP BY e.vec_id, c1.cid),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d2) WHERE rn = 1)"""




@query(
    "q_kmeans_portable",
    # Hash-checked distributed k-means: 2 unrolled Lloyd iterations, k=4,
    # deterministic seeding (the 4 lowest vec_ids' embeddings — no rand()).
    # Every cross-engine decision point is exact: squared distances
    # accumulate per-dim double products in DECIMAL(28,18) (associative, so
    # Spark's in-row array fold equals DuckDB's grouped SUM over exploded
    # dims bit-for-bit), assignment is argmin with a total (d, cid) order,
    # and centroid updates are decimal-exact sums divided once in double.
    # The output (per surviving cluster x dim: member count + new centroid
    # coordinate) therefore hash-matches after two full assign->update
    # rounds. Scale shape: assignment is a BROADCAST of k tiny centroids
    # against the vector scan (no shuffle on the big side), update is one
    # partial-agg shuffle keyed (cid, dim) — the textbook distributed
    # k-means step, the same plan at 64 dims x 1B vectors; iterations are
    # driver-unrolled exactly like MLlib's KMeans (reference has no
    # clustering surface; §2.13 extension).
    oracle=_KM_CTES + """
    SELECT a2.cid, i.i AS dim,
           COUNT(*) AS n_members,
           ROUND(CAST(SUM(CAST(e.v[i.i + 1] AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*), 6)
             AS c_val
    FROM a2 JOIN e ON a2.vec_id = e.vec_id JOIN range(0, 64) i(i) ON true
    GROUP BY a2.cid, i.i
    """,
    description="hash-checked distributed k-means (k=4, 2 unrolled Lloyd "
    "rounds, deterministic lowest-id seeding): decimal-exact squared "
    "distances (in-row fold == grouped SUM by associativity), total-order "
    "argmin assignment, decimal-exact centroid means — the post-round-2 "
    "(cluster, dim) centroid table with member counts hash-matches DuckDB; "
    "broadcast-centroid assignment + one (cid,dim) partial-agg shuffle per "
    "round, the plan shape that holds at 1B vectors",
    tags=("vector", "ml"),
)
def q_kmeans_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import dim_means, kmeans_fit

    emb = _embeddings(spark, sf_dir)
    a2, _c2 = kmeans_fit(emb, k=4, rounds=2)
    return dim_means(a2, ["cid"]).select(
        "cid",
        F.col("i").alias("dim"),
        F.col("n").alias("n_members"),
        F.round("c", 6).alias("c_val"),
    )


@query(
    "q_ann_ivf_kmeans",
    # IVF with a LEARNED coarse quantizer — the full train->index->search
    # chain, hash-checked end to end. q_ann_ivf_portable probes the testdata's
    # pre-assigned label column ("a trained quantizer's assignment ...
    # stands in"); here the cells ARE the k-means fit (operators.clustering,
    # the q_kmeans_portable chain): 2 Lloyd rounds train 4 cells, the query
    # vector probes its nprobe=2 best cells by centroid dot product
    # (sequential-double fold == DuckDB list_dot_product, bitwise-verified
    # contract), and the scan scores ONLY vectors in the probed cells —
    # linear in the probed fraction, never the corpus. Every stage
    # (assignment, centroids, probe choice, scores) is deterministic and
    # bit-reproduced by the oracle, so the top-10 result hash-matches.
    oracle=_KM_CTES + """,
    pc2 AS (
      SELECT a2.cid, i.i AS dim,
             CAST(SUM(CAST(e.v[i.i + 1] AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS m
      FROM a2 JOIN e ON a2.vec_id = e.vec_id JOIN range(0, 64) i(i) ON true
      GROUP BY a2.cid, i.i),
    c2 AS (SELECT cid, list(m ORDER BY dim) AS c FROM pc2 GROUP BY cid),
    qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
    probe AS (
      SELECT c2.cid FROM c2 CROSS JOIN qv
      ORDER BY list_dot_product(c2.c, qv.q) DESC, c2.cid LIMIT 2)
    SELECT e.vec_id, ROUND(list_dot_product(e.v, qv.q), 6) AS score
    FROM a2 JOIN probe ON a2.cid = probe.cid
    JOIN e ON e.vec_id = a2.vec_id CROSS JOIN qv
    ORDER BY score DESC, e.vec_id LIMIT 10
    """,
    description="IVF ANN with a LEARNED coarse quantizer, hash-checked: the "
    "k-means fit (2 Lloyd rounds, 4 cells) is the cell assignment, the "
    "query probes its 2 best cells by centroid dot product, the scan "
    "touches only probed cells — the full train->index->search chain "
    "value-verified; broadcast centroids + broadcast probe list, scan "
    "linear in the probed fraction",
    tags=("vector",),
)
def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_fit

    emb = _embeddings(spark, sf_dir)
    assigned, cents = kmeans_fit(emb, k=4, rounds=2)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("__q"))
    probed = (
        cents.crossJoin(F.broadcast(q))
        .select("cid", V.dot_seq(F.col("c"), F.col("__q")).alias("cs"))
        .orderBy(F.desc("cs"), "cid")
        .limit(2)
        .select("cid")
    )
    pruned = assigned.join(F.broadcast(probed), "cid")
    return (
        pruned.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(V.dot_seq(F.col("v"), F.col("__q")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
    )


def _semdedup_pairs_sql(src: str, threshold: float = 0.5) -> str:
    """CTE block emitting ``sempairs`` — SemDeDup's duplicate relation
    (within-cluster decimal-exact cosine >= ``threshold``, id_b < id_a)
    over the (vec_id, cid) source CTE ``src``. The SQL twin of
    semdedup_pairs(); shared by q_semdedup (src=a2, the full assignment),
    q_dedup_tiered (src=sa, tier-2 survivors) and q_semdedup_sweep (one
    block per threshold) so the precision and tie direction cannot drift
    between the standalone op and its compositions. Requires _KM_CTES's
    ``e`` (doubled vectors) in scope."""
    return f"""
    norms AS (
      SELECT t.vec_id, {_NORM_DEC.format(t="t")} AS nrm
      FROM embeddings t, range(1, 65) i(i) GROUP BY t.vec_id),
    dots AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             CAST(SUM(CAST(e1.v[i.i + 1] * e2.v[i.i + 1] AS DECIMAL(38,18)))
                  AS DOUBLE) AS dot
      FROM {src} x JOIN {src} y ON x.cid = y.cid AND y.vec_id < x.vec_id
      JOIN e e1 ON e1.vec_id = x.vec_id
      JOIN e e2 ON e2.vec_id = y.vec_id, range(0, 64) i(i)
      GROUP BY x.vec_id, y.vec_id),
    sempairs AS (
      SELECT d.id_a, d.id_b
      FROM dots d
      JOIN norms na ON d.id_a = na.vec_id
      JOIN norms nb ON d.id_b = nb.vec_id
      WHERE d.dot / (na.nrm * nb.nrm) >= {threshold})"""


def semdedup_pairs(assigned: DataFrame, threshold: float = 0.5) -> DataFrame:
    """(id_a, id_b) within-cluster pairs with decimal-exact cosine >=
    ``threshold`` and id_b < id_a — SemDeDup's duplicate relation (Abbas
    et al. 2023) over a (vec_id, cid, v) assignment frame. One definition
    shared by q_semdedup, q_dedup_tiered and q_semdedup_sweep (the Spark
    twin of _semdedup_pairs_sql).

    A cluster is a one-band bucket: the candidates are
    :func:`dedup.band_pairs` over (id=vec_id, band=0, bkey=cid), which owns
    the skinny-pair shape (the cid join carries only ids, and the pair
    frame is repartitioned to session parallelism so AQE cannot coalesce
    the decimal folds onto one core — r16 measured a 72 s single-core
    stage at sf0.1). :func:`similarity.cosine_pairs` verifies them with
    per-vector norms. band_pairs emits id_a < id_b, so the columns swap at
    the end. The input is tracked_persist-ed because this function alone
    consumes it twice (the band table and the attach dims), on top of the
    caller's own reuse."""
    from ..operators import dedup
    from ..operators._ckpt import tracked_persist

    assigned = tracked_persist(assigned)
    cand = dedup.band_pairs(
        assigned.select(
            F.col("vec_id").alias("id"), F.lit(0).alias("band"), F.col("cid").alias("bkey")
        )
    )
    vecs = assigned.select(F.col("vec_id").alias("id"), "v")
    return S.cosine_pairs(cand, vecs, threshold, probe=assigned).select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
    )


@query(
    "q_semdedup",
    # SemDeDup (Abbas et al. 2023): cluster the embedding space, then look
    # for semantic duplicates ONLY within a cluster — pairwise work is
    # O(sum of cluster sizes squared), never corpus-squared, and the paper's
    # k grows with the corpus to keep clusters bounded. The cluster fit is
    # the hash-checked q_kmeans_portable chain (2 Lloyd rounds, k=4,
    # deterministic lowest-id seeding); the within-cluster cosine is the
    # decimal-exact q_embed_neardup construction, so the verdict per vector
    # (cluster, lower-id duplicate count, kept flag) hash-matches DuckDB.
    oracle=_KM_CTES + "," + _semdedup_pairs_sql("a2") + """,
    dups AS (
      SELECT id_a, COUNT(*) AS n_dups FROM sempairs GROUP BY id_a)
    SELECT a2.vec_id, a2.cid,
           COALESCE(dups.n_dups, 0) AS n_dups,
           CAST(COALESCE(dups.n_dups, 0) = 0 AS INT) AS kept
    FROM a2 LEFT JOIN dups ON a2.vec_id = dups.id_a
    """,
    description="SemDeDup semantic deduplication (Abbas et al. 2023): k-means "
    "clusters the embedding space (the hash-checked 2-round Lloyd fit), then "
    "cosine >= 0.5 pairs are sought ONLY within a cluster and the lowest "
    "vec_id of each duplicate set is kept — per vector: cluster, count of "
    "lower-id in-cluster duplicates, kept flag. Scale shape: broadcast-"
    "centroid assignment, then a self-equi-join on cid whose cost is "
    "sum-of-cluster-sizes-squared (k scales with the corpus to bound it, "
    "per the paper), never corpus-squared; cosine is decimal-exact so the "
    "0.5 threshold has no cross-engine boundary risk",
    tags=("vector", "dedup", "pipeline"),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_fit

    emb = _embeddings(spark, sf_dir)
    assigned, _cents = kmeans_fit(emb, k=4, rounds=2)
    dups = (
        semdedup_pairs(assigned)
        .groupBy("id_a")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )
    return (
        assigned.select("vec_id", "cid")
        .join(dups, assigned.vec_id == dups.id_a, "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce(F.col("n_dups"), F.lit(0)).alias("n_dups"),
            (F.coalesce(F.col("n_dups"), F.lit(0)) == 0).cast("int").alias("kept"),
        )
    )


# The semantic-dedup operating points the sweep measures — the epsilon
# axis of the SemDeDup paper's dedup-fraction curve. On the driver fixture
# the paper-default 0.5 keeps everything (verified: zero in-cluster pairs
# reach it), so the sweep is what makes the tier's behavior OBSERVABLE:
# the drop rate climbs from ~0 to ~90% across these four thresholds.
_SEMDEDUP_THRESHOLDS = (0.2, 0.3, 0.4, 0.5)


def _semdedup_sweep_oracle() -> str:
    rows = []
    for t in _SEMDEDUP_THRESHOLDS:
        rows.append(f"""(
    {_KM_CTES},{_semdedup_pairs_sql("a2", t)}
    SELECT CAST({t} AS DOUBLE) AS threshold,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT id_a) AS BIGINT) AS n_dropped,
           ROUND(COUNT(DISTINCT id_a)
                 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM embeddings), 6)
             AS drop_rate
    FROM sempairs)""")
    return "\nUNION ALL\n".join(rows)


@query(
    "q_semdedup_sweep",
    # The threshold axis of SemDeDup (Abbas et al. 2023 report dedup
    # fraction vs epsilon): q_semdedup evaluates ONE operating point (the
    # paper-default cosine 0.5), which on the driver fixture keeps every
    # vector — a trivially-empty verdict that proves plumbing, not
    # behavior. This sweep runs the same hash-checked construction at
    # four thresholds and reports pairs / dropped / drop-rate per row, so
    # the tier's selectivity curve is an in-engine, oracle-checked fact
    # (fixture: ~0% drops at 0.5 climbing to ~90% at 0.2). Scale shape
    # identical per row: within-cluster pairs only, one aggregate each;
    # the kmeans assignment is persisted once across all four rows.
    oracle=_semdedup_sweep_oracle(),
    description="SemDeDup threshold sweep: duplicate pairs, dropped docs and "
    "drop rate at cosine thresholds 0.2/0.3/0.4/0.5 over the same "
    "hash-checked within-cluster construction — the dedup-fraction-vs-"
    "epsilon curve the paper tunes on, making the semantic tier's "
    "selectivity observable where the single 0.5 point is empty; "
    "within-cluster pairs only, assignment persisted once. Tuning-run "
    "scale note: at the FIXED k=4 of the hash-checked portable fit the "
    "pair space is quadratic past fixture scale (4 passes of n^2/4 "
    "pairs) — the paper's bound is k growing with the corpus, so a "
    "production sweep runs on the production fit's bounded clusters; "
    "this query is the fixture-scale tuning instrument, not the "
    "at-scale operator (that is q_semdedup under a corpus-scaled k)",
    tags=("vector", "dedup", "eval"),
)
def q_semdedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators._ckpt import tracked_persist
    from ..operators.clustering import kmeans_fit

    emb = _embeddings(spark, sf_dir)
    assigned, _cents = kmeans_fit(emb, k=4, rounds=2)
    assigned = tracked_persist(assigned)
    total = tracked_persist(emb.agg(F.count(F.lit(1)).alias("n_total")))
    out = None
    for t in _SEMDEDUP_THRESHOLDS:
        row = (
            semdedup_pairs(assigned, threshold=t)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.countDistinct("id_a").cast("bigint").alias("n_dropped"),
            )
            .crossJoin(total)
            .select(
                F.lit(t).cast("double").alias("threshold"),
                "n_pairs",
                "n_dropped",
                F.round(
                    F.col("n_dropped") / F.col("n_total").cast("double"), 6
                ).alias("drop_rate"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# The corpus-scaled k-means chain: identical text to _KM_CTES except the
# seed count is k = ceil(sqrt(n)) computed from the corpus itself (a scalar
# subquery), not the fixture literal 4 — the Abbas et al. 2023 cluster-count
# regime that keeps within-cluster pair work bounded as the corpus grows
# (sum of cluster sizes squared ~ n^2/k = n^1.5 at balanced occupancy).
_KM_SCALED_CTES = """
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    ksel AS (
      SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS k FROM embeddings),
    seeds AS (
      SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM e),
    c0 AS (
      SELECT rn - 1 AS cid, v AS c FROM seeds, ksel WHERE rn <= ksel.k),
    d1 AS (
      SELECT e.vec_id, c0.cid,
             CAST(SUM(CAST((e.v[i.i + 1] - c0.c[i.i + 1]) * (e.v[i.i + 1] - c0.c[i.i + 1])
                           AS DECIMAL(28,18))) AS DOUBLE) AS d
      FROM e CROSS JOIN c0 JOIN range(0, 64) i(i) ON true
      GROUP BY e.vec_id, c0.cid),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d1) WHERE rn = 1),
    p1 AS (
      SELECT a1.cid, i.i AS dim,
             CAST(SUM(CAST(e.v[i.i + 1] AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS m
      FROM a1 JOIN e ON a1.vec_id = e.vec_id JOIN range(0, 64) i(i) ON true
      GROUP BY a1.cid, i.i),
    c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM p1 GROUP BY cid),
    d2 AS (
      SELECT e.vec_id, c1.cid,
             CAST(SUM(CAST((e.v[i.i + 1] - c1.c[i.i + 1]) * (e.v[i.i + 1] - c1.c[i.i + 1])
                           AS DECIMAL(28,18))) AS DOUBLE) AS d
      FROM e CROSS JOIN c1 JOIN range(0, 64) i(i) ON true
      GROUP BY e.vec_id, c1.cid),
    a2 AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d2) WHERE rn = 1)"""


@query(
    "q_semdedup_scaled",
    # The at-scale SemDeDup the fixture-k queries document but could not
    # demonstrate (VERDICT r12 "What's wrong" #2): same hash-checked Lloyd
    # chain and within-cluster decimal-exact cosine, but k = ceil(sqrt(n))
    # COMPUTED FROM THE CORPUS (Abbas et al. 2023 run k growing with the
    # corpus to keep clusters bounded — sqrt(n) keeps both sides of the
    # cost balanced: assignment work n·k = n^1.5 and within-cluster pair
    # work sum(|c|^2) ~ n^2/k = n^1.5, vs n^2 at any FIXED k). The fixture
    # queries (q_semdedup, q_semdedup_sweep) pin k=4 and are quadratic
    # past fixture scale by construction; this is the one that survives
    # the decades. Threshold 0.2 (the observable point on the sweep's
    # selectivity curve — the paper-default 0.5 keeps everything on this
    # fixture, which proves plumbing, not behavior).
    oracle=_KM_SCALED_CTES + "," + _semdedup_pairs_sql("a2", 0.2) + """,
    dups AS (
      SELECT id_a, COUNT(*) AS n_dups FROM sempairs GROUP BY id_a)
    SELECT a2.vec_id, a2.cid,
           COALESCE(dups.n_dups, 0) AS n_dups,
           CAST(COALESCE(dups.n_dups, 0) = 0 AS INT) AS kept,
           (SELECT k FROM ksel) AS k
    FROM a2 LEFT JOIN dups ON a2.vec_id = dups.id_a
    """,
    description="SemDeDup at the corpus-scaled cluster count (Abbas et al. "
    "2023): k-means with k = ceil(sqrt(n)) computed from the corpus — the "
    "cluster-count regime that keeps the semantic tier linear-ish at scale "
    "(assignment n·k and within-cluster pairs n²/k both ~ n^1.5, vs n² at "
    "any fixed k) — then cosine >= 0.2 duplicates sought only within a "
    "cluster, lowest vec_id kept; per vector: cluster, lower-id duplicate "
    "count, kept flag, and the k used. Same hash-checked Lloyd chain and "
    "decimal-exact cosine as the fixture-k twins; the corpus count is the "
    "only driver-side value (one tiny metadata action, the two-pass "
    "pattern of the pivot vocabulary). Scale shape: broadcast-centroid "
    "assignment (k rows broadcast), one (cid,dim) partial-agg shuffle per "
    "Lloyd round, one cid-keyed self-join whose per-cluster population is "
    "bounded by the scaled k",
    tags=("vector", "dedup", "pipeline"),
)
def q_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators._ckpt import tracked_persist
    from ..operators.clustering import kmeans_fit

    emb = _embeddings(spark, sf_dir)
    k = int(math.ceil(math.sqrt(emb.count())))
    # the fit fans into three plan branches (both pair-join legs + the
    # final left join); unpersisted, the n·k assignment would re-execute
    # per branch — at the scaled k that triples the most expensive subtree
    assigned, _cents = kmeans_fit(emb, k=k, rounds=2)
    assigned = tracked_persist(assigned)
    dups = (
        semdedup_pairs(assigned, threshold=0.2)
        .groupBy("id_a")
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )
    return (
        assigned.select("vec_id", "cid")
        .join(dups, assigned.vec_id == dups.id_a, "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce(F.col("n_dups"), F.lit(0)).alias("n_dups"),
            (F.coalesce(F.col("n_dups"), F.lit(0)) == 0).cast("int").alias("kept"),
            F.lit(k).cast("bigint").alias("k"),
        )
    )


@query(
    "q_ann_ivf_scaled",
    # The at-scale ANN the r13 recall-decade measurement demanded: the
    # shipped IVFPQ default holds its 0.8 recall only at fixture scale —
    # measured 0.8 (sf0.01) → 0.2 (sf1) → 0.1 (sf10) — because its coarse
    # cells AND its PQ codebook entries are the testdata's 10 labels at
    # every corpus size, so at sf10 thousands of vectors share one code
    # and the rerank cut is tie-break noise. Same disease as fixed-k
    # SemDeDup, same cure as q_semdedup_scaled: the index must GROW with
    # the corpus. Here the coarse quantizer is the corpus-scaled k-means
    # fit (k = ceil(sqrt(n)) cells, the same hash-checked Lloyd chain),
    # the query probes its nprobe = ceil(2*sqrt(k)) best cells by
    # centroid dot product (the r15 sweep-adopted operating point:
    # 1x sqrt(k) measured recall 0.70 at sf10 over 3 query ids, 2x
    # restores 1.000 at 9.6% scan), and only probed cells' vectors are
    # scored exactly — scan fraction ~ nprobe/k = 2*n^(-1/4),
    # ~0.6% at n=1e9. Full-dim exact scoring inside probed cells (IVFFlat,
    # not IVFPQ): cells shrink as the index grows, so the probed set stays
    # small without a code-quantization tier whose tie plateaus this
    # corpus's 10-label structure makes pathological.
    oracle=_KM_SCALED_CTES + """,
    nsel AS (SELECT CAST(CEIL(2 * SQRT(k)) AS BIGINT) AS np FROM ksel),
    pc2 AS (
      SELECT a2.cid, i.i AS dim,
             CAST(SUM(CAST(e.v[i.i + 1] AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS m
      FROM a2 JOIN e ON a2.vec_id = e.vec_id JOIN range(0, 64) i(i) ON true
      GROUP BY a2.cid, i.i),
    c2 AS (SELECT cid, list(m ORDER BY dim) AS c FROM pc2 GROUP BY cid),
    qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
    probe AS (
      SELECT cid FROM (
        SELECT c2.cid,
               row_number() OVER (ORDER BY list_dot_product(c2.c, qv.q) DESC, c2.cid) AS rn
        FROM c2 CROSS JOIN qv)
      WHERE rn <= (SELECT np FROM nsel))
    SELECT e.vec_id, ROUND(list_dot_product(e.v, qv.q), 6) AS score,
           (SELECT k FROM ksel) AS k, (SELECT np FROM nsel) AS nprobe
    FROM a2 JOIN probe ON a2.cid = probe.cid
    JOIN e ON e.vec_id = a2.vec_id CROSS JOIN qv
    ORDER BY score DESC, e.vec_id LIMIT 10
    """,
    description="IVF ANN at the corpus-scaled index size: coarse quantizer "
    "= k-means with k = ceil(sqrt(n)) cells computed from the corpus (the "
    "q_semdedup_scaled regime applied to retrieval), probe nprobe = "
    "ceil(2*sqrt(k)) cells by centroid dot product (the r15 sweep-adopted "
    "operating point), exact scoring inside "
    "probed cells only — scan fraction nprobe/k ~ n^(-1/4) shrinks as the "
    "corpus grows, where the fixture-sized index's recall collapses "
    "(0.8 -> 0.1 across two decades, the r13 measurement). Same "
    "hash-checked Lloyd chain, sequential-double dot scoring, and "
    "(score DESC, vec_id) total order as the fixture twins; top-10 plus "
    "the k and nprobe used. Scale shape: broadcast centroids, broadcast "
    "nprobe-row probe list, one n*k assignment (the index build — "
    "amortized across queries in a deployment), probed-cell scan",
    tags=("vector",),
)
def q_ann_ivf_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators._ckpt import tracked_persist
    from ..operators.clustering import kmeans_fit

    emb = _embeddings(spark, sf_dir)
    n = emb.count()
    k = int(math.ceil(math.sqrt(n)))
    nprobe = int(math.ceil(2 * math.sqrt(k)))
    # the assignment fans into the final-centroid update AND the probed
    # scan; unpersisted, the n*k fit would re-execute per branch
    assigned, cents = kmeans_fit(emb, k=k, rounds=2)
    assigned = tracked_persist(assigned)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("__q"))
    probed = (
        cents.crossJoin(F.broadcast(q))
        .select("cid", V.dot_seq(F.col("c"), F.col("__q")).alias("cs"))
        .orderBy(F.desc("cs"), "cid")
        .limit(nprobe)
        .select("cid")
    )
    pruned = assigned.join(F.broadcast(probed), "cid")
    return (
        pruned.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(V.dot_seq(F.col("v"), F.col("__q")), 6).alias("score"),
            F.lit(k).cast("long").alias("k"),
            F.lit(nprobe).cast("long").alias("nprobe"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
    )


def _ann_recall_scaled_oracle() -> str:
    """Recall@10 of the corpus-scaled IVF against the exact brute-force
    ground truth — both registered constructions, composed verbatim."""
    from .registry import _REGISTRY

    exact = _REGISTRY["q_similarity_topk"].oracle
    approx = _REGISTRY["q_ann_ivf_scaled"].oracle
    return f"""
    SELECT CAST(10 AS BIGINT) AS k, COUNT(*) AS n_hits,
           ROUND(COUNT(*) / 10.0, 6) AS recall_at_k
    FROM ({exact}) e JOIN ({approx}) a ON e.vec_id = a.vec_id
    """


@query(
    "q_ann_recall_scaled",
    # The recall-at-scale metric as a registered query, so the scaled
    # index's quality claim is itself hash-checkable and decade-pointable
    # — the instrument that caught the fixture index's collapse (recall
    # 0.8 -> 0.2 -> 0.1 across sf0.01/sf1/sf10) applied to its replacement.
    oracle=_ann_recall_scaled_oracle(),
    description="recall@10 of the corpus-scaled IVF (q_ann_ivf_scaled) "
    "against the exact brute-force top-10 (q_similarity_topk) — the "
    "at-scale retrieval-quality metric; both sides deterministic, so the "
    "number hash-matches the oracle at any sf",
    tags=("vector", "eval"),
)
def q_ann_recall_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = q_similarity_topk(spark, sf_dir).select("vec_id")
    approx = q_ann_ivf_scaled(spark, sf_dir).select("vec_id")
    hits = exact.join(approx, "vec_id", "semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return hits.select(
        F.lit(10).cast("long").alias("k"),
        "n_hits",
        F.round(F.col("n_hits") / 10.0, 6).alias("recall_at_k"),
    )


# The RESIDUAL PQ tier of the scaled index (IVFADC, Jégou et al. 2011 §V),
# appended to _KM_SCALED_CTES (which ends at a2, the final coarse
# assignment). Every fragment is a proven-green construction at a new
# shape: pc2/c2 (final centroids) and the probe are q_ann_ivf_scaled's,
# with the probe metric flipped to decimal L2 so probe, ADC, and rerank
# share ONE metric (the q_ivfpq_search discipline); rx is the residual
# frame (v − c_cell, single IEEE subtraction of cross-engine-identical
# values); the training sample is q_cluster_balanced_sample's
# overflow-free integer md5-uniform; seeds/assignment/codebook-means are
# the _KM_SCALED_CTES Lloyd fragments on residuals; LUT is PER PROBED
# CELL (the query's residual differs per cell); ADC/rerank are
# q_ivfpq_search's CTEs against the learned codebook with R = 100.
# Residual (not raw-vector) codes because measurement said so: the
# non-residual corpus codebook ranked true neighbors at ADC rank 200-400
# (7/10 recall at R=50-100, sf1), the residual form ranks them inside
# R=50 (10/10) — raw-vector codes waste entropy re-encoding cell
# identity (BASELINE.md round 14).
_PQ_SCALED_CTES = """,
    ncnt AS (SELECT COUNT(*) AS n FROM embeddings),
    nsel AS (SELECT CAST(CEIL(2 * SQRT(k)) AS BIGINT) AS np FROM ksel),
    pc2 AS (
      SELECT a2.cid, i.i AS dim,
             CAST(SUM(CAST(e.v[i.i + 1] AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS m
      FROM a2 JOIN e ON a2.vec_id = e.vec_id JOIN range(0, 64) i(i) ON true
      GROUP BY a2.cid, i.i),
    c2 AS (SELECT cid, list(m ORDER BY dim) AS c FROM pc2 GROUP BY cid),
    qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
    pd AS (
      SELECT c2.cid,
             CAST(SUM(CAST((c2.c[i.i + 1] - qv.q[i.i + 1]) * (c2.c[i.i + 1] - qv.q[i.i + 1])
                           AS DECIMAL(28,18))) AS DOUBLE) AS d
      FROM c2 CROSS JOIN qv JOIN range(0, 64) i(i) ON true
      GROUP BY c2.cid),
    probe AS (
      SELECT cid FROM (
        SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn FROM pd)
      WHERE rn <= (SELECT np FROM nsel)),
    cx AS MATERIALIZED (
      SELECT cid, CAST(i.i AS BIGINT) AS i, c[i.i + 1] AS cx
      FROM c2 JOIN range(0, 64) i(i) ON true),
    rx AS MATERIALIZED (
      SELECT a2.vec_id, a2.cid, cx.i, cx.i // 4 AS sub,
             e.v[cx.i + 1] - cx.cx AS x
      FROM a2 JOIN e ON a2.vec_id = e.vec_id JOIN cx ON a2.cid = cx.cid),
    sexpl AS MATERIALIZED (
      SELECT rx.vec_id, rx.i, rx.sub, rx.x FROM rx, ncnt
      WHERE CAST('0x' || substr(md5(CAST(rx.vec_id AS VARCHAR)), 1, 8) AS BIGINT)
            <= (2048 * 4294967296 - 1) // ncnt.n),
    pseed AS (
      SELECT vec_id, rn - 1 AS cand FROM (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM e)
      WHERE rn <= 256),
    pc0 AS (
      SELECT pseed.cand, rx.i, rx.x AS c
      FROM rx JOIN pseed ON rx.vec_id = pseed.vec_id),
    pd1 AS (
      SELECT s.vec_id, s.sub, pc0.cand,
             CAST(SUM(CAST((s.x - pc0.c) * (s.x - pc0.c) AS DECIMAL(38,18))) AS DOUBLE) AS d2
      FROM sexpl s JOIN pc0 ON s.i = pc0.i
      GROUP BY s.vec_id, s.sub, pc0.cand),
    pa1 AS (
      SELECT vec_id, sub, cand FROM (
        SELECT vec_id, sub, cand,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) AS rn
        FROM pd1) WHERE rn = 1),
    pcb AS MATERIALIZED (
      SELECT pa1.cand, s.i,
             CAST(SUM(CAST(s.x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS c
      FROM sexpl s JOIN pa1 ON s.vec_id = pa1.vec_id AND s.sub = pa1.sub
      GROUP BY pa1.cand, s.i),
    qd AS (
      SELECT CAST(i.i AS BIGINT) AS i, qv.q[i.i + 1] AS qx
      FROM qv JOIN range(0, 64) i(i) ON true),
    qres AS (
      SELECT cx.cid, cx.i, cx.i // 4 AS sub, qd.qx - cx.cx AS qr
      FROM cx JOIN probe ON cx.cid = probe.cid JOIN qd ON cx.i = qd.i),
    lut AS MATERIALIZED (
      SELECT q.cid, q.sub, pcb.cand,
             CAST(SUM(CAST((q.qr - pcb.c) * (q.qr - pcb.c) AS DECIMAL(38,18))) AS DOUBLE)
               AS lut_d2
      FROM qres q JOIN pcb ON q.i = pcb.i
      GROUP BY q.cid, q.sub, pcb.cand),
    pex AS MATERIALIZED (
      SELECT rx.vec_id, rx.cid, rx.i, rx.sub, rx.x
      FROM rx JOIN probe ON rx.cid = probe.cid),
    cd2 AS (
      SELECT p.vec_id, p.cid, p.sub, pcb.cand,
             CAST(SUM(CAST((p.x - pcb.c) * (p.x - pcb.c) AS DECIMAL(38,18))) AS DOUBLE) AS d2
      FROM pex p JOIN pcb ON p.i = pcb.i
      GROUP BY p.vec_id, p.cid, p.sub, pcb.cand),
    codes AS (
      SELECT vec_id, cid, sub, cand AS code FROM (
        SELECT vec_id, cid, sub, cand,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) AS rn
        FROM cd2) WHERE rn = 1),
    adc AS (
      SELECT c.vec_id,
             CAST(SUM(CAST(l.lut_d2 AS DECIMAL(38,18))) AS DOUBLE) AS adc_d2
      FROM codes c JOIN lut l ON c.cid = l.cid AND c.sub = l.sub AND c.code = l.cand
      GROUP BY c.vec_id),
    candr AS (
      SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY adc_d2, vec_id) AS rn
        FROM adc)
      WHERE rn <= GREATEST(100, 2 * (SELECT k FROM ksel))),
    ex AS (
      SELECT e.vec_id,
             CAST(SUM(CAST((e.v[qd.i + 1] - qd.qx) * (e.v[qd.i + 1] - qd.qx)
                           AS DECIMAL(38,18))) AS DOUBLE) AS exact_d2
      FROM e JOIN candr ON e.vec_id = candr.vec_id CROSS JOIN qd
      GROUP BY e.vec_id)"""


@query(
    "q_ivfpq_scaled",
    # IVFADC+R with BOTH tiers corpus-scaled/corpus-trained — the
    # composition VERDICT r13 flagged as the missing 100 TB memory/IO
    # shape: q_ann_ivf_scaled proved decade-stable recall needs a coarse
    # quantizer that grows with the corpus but scans full-width floats in
    # probed cells (IVFFlat); q_ivfpq_search owns the codes-only scan but
    # rides the fixture's 10-label index whose recall collapses past
    # fixture scale. This query composes the proven pieces: scaled
    # k-means cells (k = ceil(sqrt(n)), nprobe = ceil(2*sqrt(k)) — scan
    # fraction ~ n^(-1/4)) + RESIDUAL PQ codebooks trained on a
    # deterministic md5-capped corpus sample (256 entries/subspace, the
    # 8-bit FAISS standard; codebook resolution is a per-vector knob and
    # need not grow with n, unlike cell count) + per-cell ADC over probed
    # cells' 16-byte codes + exact decimal-L2 rerank of the ADC top R,
    # R = max(10·k, 2·kc) ≈ 2√n (the r15 scaled budget — a fixed R
    # decays at scale like a fixed k or kc; quantize.py stage 6).
    # ONE metric (L2) end to end: probe, ADC, and rerank
    # cannot disagree on un-normalized inputs. Residual codes because
    # the r14 measurement demanded it: raw-vector codes ranked 3 of the
    # true top-10 past ADC rank 200 (recall 0.7 at sf1); residual codes
    # put all 10 inside rank 50 at the same bit budget.
    oracle=_KM_SCALED_CTES + _PQ_SCALED_CTES + """
    SELECT vec_id, ROUND(exact_d2, 6) AS exact_d2,
           (SELECT k FROM ksel) AS k, (SELECT np FROM nsel) AS nprobe
    FROM ex ORDER BY exact_d2, vec_id LIMIT 10
    """,
    description="IVFADC+R at the corpus-scaled index size (Jégou et al. "
    "2011 §V-VI composed with the q_ann_ivf_scaled regime): coarse "
    "quantizer = k-means with k = ceil(sqrt(n)) cells computed from the "
    "corpus, probe nprobe = ceil(2*sqrt(k)) cells by decimal L2 (the r15 "
    "sweep-adopted point), then ONLY "
    "probed cells' RESIDUALS (v − cell centroid) are scored by per-cell "
    "ADC lookup on their 16-byte PQ codes — whose per-subspace codebooks "
    "are trained on a deterministic md5-capped sample of the corpus "
    "residuals (256 entries, nearest-seed assignment + decimal-exact "
    "means), not the fixture labels — and the ADC top-100 is exactly "
    "re-ranked by decimal L2 on the floats. Both index tiers grow/learn "
    "with the data, so recall survives the decades where the fixture "
    "index collapses (r15 sweep over 3 query ids: recall 1.000 at sf1 AND "
    "sf10 at the adopted nprobe; the r14 default 1x sqrt(k) measured 0.70 "
    "ceiling, i.e. the compression tier is recall-lossless), AND the scan "
    "reads codes (16 B) instead of float vectors (256 B) — the IVFADC "
    "memory/IO shape stacked on the n^(-1/4) scan fraction. Scale shape: "
    "the corpus-sized work is the coarse fit (index build, amortized "
    "across queries) and the probed-cell code assignment (code build, "
    "likewise amortized; precomputable via ivfpq_scaled_codes); the "
    "per-query work is a kc-row probe aggregate, a code join, and a "
    "R = max(10*k, 2*kc) ~ 2*sqrt(n) exact rerank",
    tags=("vector", "bench"),
)
def q_ivfpq_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantize import ivfpq_scaled_topk

    emb = _embeddings(spark, sf_dir)
    return ivfpq_scaled_topk(emb)


def _ivfpq_recall_scaled_oracle() -> str:
    """Recall@10 of the scaled IVFADC+R against the decimal-exact
    brute-force L2 ground truth — both registered constructions verbatim,
    scored in the index's own metric (the q_ivfpq_recall discipline)."""
    from .registry import _REGISTRY

    approx = _REGISTRY["q_ivfpq_scaled"].oracle
    return f"""
    SELECT CAST(10 AS BIGINT) AS k, COUNT(*) AS n_hits,
           ROUND(COUNT(*) / 10.0, 6) AS recall_at_k
    FROM ({_exact_l2_top10_sql()}) e JOIN ({approx}) a ON e.vec_id = a.vec_id
    """


@query(
    "q_ivfpq_recall_scaled",
    # The collapse detector pointed at the cure's compressed form: the
    # instrument that caught the fixture index's 0.8→0.2→0.1 decay
    # (q_ivfpq_recall) applied to the corpus-scaled IVFADC+R, so the
    # at-scale compressed-scan quality claim is itself hash-checkable and
    # decade-pointable.
    oracle=_ivfpq_recall_scaled_oracle(),
    description="recall@10 of the corpus-scaled IVFADC+R (q_ivfpq_scaled) "
    "against the decimal-exact brute-force L2 top-10 — the at-scale "
    "retrieval-quality metric for the COMPRESSED scan path, scored in the "
    "index's own metric; both sides deterministic, so the number "
    "hash-matches the oracle at any sf",
    tags=("vector", "eval"),
)
def q_ivfpq_recall_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantize import ivfpq_scaled_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = _embeddings(spark, sf_dir)
    exact = _exact_l2_top10(emb)
    approx = ivfpq_scaled_topk(vecs).select("vec_id")
    hits = exact.join(approx, "vec_id", "semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return hits.select(
        F.lit(10).cast("long").alias("k"),
        "n_hits",
        F.round(F.col("n_hits") / 10.0, 6).alias("recall_at_k"),
    )


def _index_dir(sf_dir: str) -> str:
    """Deterministic per-sf persisted-index location. The lifecycle
    queries are rerun repeatedly by the driver/bench; a fresh mkdtemp per
    invocation leaked corpus-sized parquet copies into /tmp until the
    disk filled (ADVICE r14, and the r13/r14 spill incidents). One
    stable path per sf_dir + mode('overwrite') means repeated runs reuse
    a single directory."""
    import os
    import re
    import tempfile

    slug = re.sub(r"\W+", "_", os.path.abspath(sf_dir)).strip("_")
    return os.path.join(tempfile.gettempdir(), f"ehs_ann_idx_{slug}")


# The persisted index is ONE directory tree per caller, written by
# _write_tree (and appended to by _cell_writes) and read back by
# _open_tree only: the coarse assignment (vec_id, v, cid) and the packed
# codes (vec_id, cid, codes), both partitioned by cid, beside the cell
# centroids and the residual codebooks. _BY_CELL names the two
# cid-partitioned artifacts, which appends and compaction rewrite.
_BY_CELL = ("assign_by_cell", "codes")


def _cell_writes(assigned: DataFrame, codes: DataFrame, dest: str, mode: str):
    """The write jobs of the tree's two cid-partitioned artifacts, as
    thunks for concurrent_writes; ``mode`` is 'overwrite' for a build and
    'append' for a growth batch (one new file per touched cell, no
    existing file rewritten).

    One directory per cell for BOTH the code table and the float vectors
    (FAISS keeps the vectors in the inverted lists for exactly this
    reason), so a probe's cid IN (...) prunes at file listing — "the probe
    is partition pruning, not even a join" (ivfpq_scaled_codes docstring)
    — for the ADC scan AND the rerank's candidate reads. kc =
    ceil(sqrt(n)) directories: 775 at sf10, ~32k at n=10^9 — at the
    extreme end a deployment would bucket cid ranges, same pruning law.
    repartition("cid"): ONE file per cell directory per write instead of
    (writer tasks × cells) shards — without it the sf10 artifact came out
    as ~14k tiny files and every serving job paid the file-listing/open
    cost (measured ~10x the query itself). sortWithinPartitions("cid")
    states the sorted single-writer contract — each task holds O(1) open
    parquet writers however many cell dirs it owns; Spark's planned write
    inserts the same partition-column sort anyway (SURVEY "writer-heap
    diagnosis corrected")."""
    return [
        lambda df=df, name=name: df.repartition("cid")
        .sortWithinPartitions("cid")
        .write.mode(mode)
        .partitionBy("cid")
        .parquet(f"{dest}/{name}")
        for df, name in zip((assigned, codes), _BY_CELL)
    ]


def _write_tree(vecs: DataFrame, n: int, dest: str) -> tuple[int, int]:
    """Build the corpus-scaled IVFADC index over ``vecs`` (``n`` rows)
    and write its four artifacts into ``dest`` (overwrite). Returns (kc,
    nprobe).

    The build is quantize._scaled_build's persisted form: the fit and the
    codebooks trained on it are pinned once, so the code table and the
    four writes share one computed lineage instead of re-fitting per
    write (the kmeans_assign double-eval note). The writes are
    INDEPENDENT jobs over that lineage, submitted concurrently (r17,
    guide §2.6; sources/warehouse.py::concurrent_writes): sequential they
    cost the SUM (measured 7.0 s of the 12.6 s warm append wall),
    overlapped the wall approaches the MAX and shared persist fills stay
    single (block locks)."""
    from ..operators.quantize import _scaled_build, ivfpq_scaled_codes
    from ..sources.warehouse import concurrent_writes

    assigned, cents, cb, kc, nprobe = _scaled_build(vecs, n=n, persist=True)
    codes = ivfpq_scaled_codes((assigned, cents, cb, kc, nprobe))
    concurrent_writes(
        *_cell_writes(assigned, codes, dest, "overwrite"),
        lambda: cents.write.mode("overwrite").parquet(dest + "/cells"),
        lambda: cb.write.mode("overwrite").parquet(dest + "/codebooks"),
    )
    return kc, nprobe


def _open_tree(
    spark: SparkSession, dest: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Read the tree under ``dest`` back: (p_assign, p_cells, p_cb,
    p_codes), backed by the persisted parquet only. Doubles round-trip
    parquet bit-exactly, so the opened tree serves the values the
    in-memory index would. A read lists the files present when it is
    made: open the tree again after an append, a compaction or a swap."""
    p_assign, p_codes = (spark.read.parquet(f"{dest}/{a}") for a in _BY_CELL)
    return (
        p_assign.select("vec_id", "v", "cid"),
        spark.read.parquet(dest + "/cells"),
        spark.read.parquet(dest + "/codebooks"),
        p_codes,
    )


def _serve_tree(
    tree: Sequence[DataFrame],
    kc: int,
    nprobe: int,
    query_vec: list[float] | None,
    with_rank: bool = False,
) -> DataFrame:
    """Serve an opened tree: ivfpq_scaled_topk with the tree as its index
    and code table, so the codes scan and the rerank's float scan both
    prune to the probed cells. A literal ``query_vec`` takes the local
    fused serve; None looks up corpus row 0 and takes the qid-keyed batch
    core (the plan every index past _DRIVER_PROBE_MAX_KC takes)."""
    from ..operators.quantize import ivfpq_scaled_topk

    p_assign, p_cells, p_cb, p_codes = tree
    return ivfpq_scaled_topk(
        p_assign,
        index=(p_assign, p_cells, p_cb, kc, nprobe),
        codes=p_codes,
        query_vec=query_vec,
        with_rank=with_rank,
    )


def _row0(tree: Sequence[DataFrame]) -> list[float]:
    """The fixture's query vector, corpus row 0, fetched once from the
    tree: a deployment receives the query as a value, so no serving job
    scans the corpus to find it."""
    return list(tree[0].filter(F.col("vec_id") == 0).select("v").first()[0])


def _write_serve_artifacts(
    spark: SparkSession, sf_dir: str, suffix: str = "_serve"
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, int, int]:
    """Build the corpus-scaled IVFADC index over the embeddings, write
    its tree to the deterministic per-sf dir and open it: returns
    (p_assign, p_cells, p_cb, p_codes, kc, nprobe).

    ``suffix`` keys the tree per CALLER: each lifecycle query owns a
    disjoint directory (persist = the bare _index_dir, serve = '_serve',
    stream = '_stream', append = '_append'), so two lifecycle queries
    running concurrently (a parallel test runner, overlapping harness
    sessions) can never overwrite each other's cells/codebooks mid-read
    — the failure mode a shared base dir produced under a concurrent
    pytest + preflight session."""
    vecs = _embeddings(spark, sf_dir)
    out = _index_dir(sf_dir) + suffix
    kc, nprobe = _write_tree(vecs, vecs.count(), out)
    return (*_open_tree(spark, out), kc, nprobe)


@query(
    "q_ann_index_persist",
    # The persisted-index LIFECYCLE (VERDICT r13 item 2): the registered
    # scaled queries rebuild the index per call because the driver
    # contract is stateless, but the deployment shape is build-once /
    # serve-many (BASELINE r13 measured 92.5 s build, then 0.5–1.0 s per
    # query). This query registers that shape: build the scaled IVFADC
    # index, WRITE its tree, read it BACK, and serve the search from the
    # persisted frames only — the source corpus is never touched after
    # the write (the query side reads its vector from the persisted
    # assignment). It serves WITHOUT a literal query vector, so the
    # search runs the qid-keyed batch core over the persisted code table
    # — the plan every index past _DRIVER_PROBE_MAX_KC takes, hash-checked
    # here. Parquet round-trips doubles bit-exactly, so the served answer
    # is the same construction q_ivfpq_scaled's oracle computes.
    oracle=_KM_SCALED_CTES + _PQ_SCALED_CTES + """
    SELECT vec_id, ROUND(exact_d2, 6) AS exact_d2,
           (SELECT k FROM ksel) AS k, (SELECT np FROM nsel) AS nprobe
    FROM ex ORDER BY exact_d2, vec_id LIMIT 10
    """,
    description="persisted-ANN-index lifecycle: build the corpus-scaled "
    "IVFADC index, write its four artifacts (cell-partitioned vectors and "
    "packed codes, cell centroids, PQ codebooks) to parquet, read them "
    "back, and serve the top-10 search FROM THE PERSISTED INDEX only — "
    "the corpus is not rescanned after the build (the query vector is "
    "looked up in the persisted assignment). The serve takes the "
    "qid-keyed batch core: the probe is collected once and binds as a "
    "static cid filter on both cell-partitioned scans. Doubles "
    "round-trip parquet bit-exactly, so the served answer hash-matches "
    "the same oracle as the stateless q_ivfpq_scaled — the "
    "build-once/serve-many deployment shape, value-verified. Scale "
    "shape: the write is the one amortized ingest pass; serving reads "
    "centroids (kc rows) + codebooks (<=16k rows) broadcast and only the "
    "probed cells' code and vector files",
    tags=("vector",),
)
def q_ann_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    *tree, kc, nprobe = _write_serve_artifacts(spark, sf_dir, suffix="")
    return _serve_tree(tree, kc, nprobe, None)


@query(
    "q_ann_index_serve",
    # The deployment shape the ivfpq_scaled_codes docstring names, served
    # by the local fused plan (a literal query vector; q_ann_index_persist
    # serves the same tree through the batch core): the packed code table is
    # computed ONCE at ingest, written partitionBy("cid"), and the
    # per-query probe binds as PartitionFilters at file-listing time —
    # only nprobe of kc cell directories are ever listed or read; the
    # corpus's floats appear only in the R-row rerank,
    # R = max(10·k, 2·kc). Same oracle as
    # q_ivfpq_scaled/q_ann_index_persist: packing and partitioning move
    # bytes, never values (the codes-served law,
    # tests/test_operators.py::test_codes_served_matches_stateless).
    oracle=_KM_SCALED_CTES + _PQ_SCALED_CTES + """
    SELECT vec_id, ROUND(exact_d2, 6) AS exact_d2,
           (SELECT k FROM ksel) AS k, (SELECT np FROM nsel) AS nprobe
    FROM ex ORDER BY exact_d2, vec_id LIMIT 10
    """,
    description="persisted-ANN-index SERVING path: build the corpus-scaled "
    "IVFADC index, additionally compute the PACKED residual code table "
    "(one row per vector, M=16 one-byte codes in subspace order — the "
    "FAISS storage layout) and write it partitionBy(cid) alongside the "
    "three index frames; then serve the top-10 search from the persisted "
    "artifacts only, with the probe pushed into the codes scan as a "
    "static cid IN (...) filter that a cid-partitioned parquet read "
    "resolves at FILE-LISTING time (PartitionFilters) — zero rows of "
    "unprobed cells are read, decoded, or shuffled. Scale shape: the "
    "code-table build is the amortized O(n·K·D) ingest pass (subvector "
    "form — the sf30 disk-full fix); per query the engine reads "
    "nprobe/kc ~ n^(-1/4) of the code files at 16 B/vector, broadcasts a "
    "kc-row probe and a 4k-row LUT, and exactly reranks only the ADC "
    "top R = max(10·k, 2·kc) ≈ 2√n floats (the r15 scaled rerank "
    "budget) — no corpus-sized shuffle anywhere in the serving path. "
    "Since r16 the per-query chain is ONE fused Spark action: the probe "
    "runs driver-side (bit-exact decimal replication, operators/"
    "quantize._dec18), the LUT ships as a broadcast local relation, and "
    "the rerank semi-joins the ADC candidates — sf10 warm ~1.2-1.4 "
    "s/query vs 2.10 for the r15 two-action form",
    # bench-tagged (VERDICT r15 item 7): the committed bench tracked only
    # the stateless build (q_ivfpq_scaled) while the persisted-serve path
    # became the headline — this line makes serving drift visible in
    # every driver BENCH_rN artifact
    tags=("vector", "bench"),
)
def q_ann_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    *tree, kc, nprobe = _write_serve_artifacts(spark, sf_dir)
    return _serve_tree(tree, kc, nprobe, _row0(tree))


# The incremental-assign chain: the scaled Lloyd fit run on the OLD 80%
# of the corpus (vec_id % 10 < 8 — the deterministic batch split), final
# centroids from its last assignment, then the NEW 20% assigned to those
# frozen cells. Structure = _KM_SCALED_CTES with e filtered; kept as its
# own text because the fit corpus (eo) and the k source differ.
_KM_INCR_CTES = """
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    eo AS MATERIALIZED (SELECT * FROM e WHERE vec_id % 10 < 8),
    eb AS (SELECT * FROM e WHERE vec_id % 10 >= 8),
    ko AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS k,
                  COUNT(*) AS n_old FROM eo),
    kt AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS k_due,
                  COUNT(*) AS n_total FROM e),
    seeds AS (
      SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM eo),
    c0 AS (
      SELECT rn - 1 AS cid, v AS c FROM seeds, ko WHERE rn <= ko.k),
    d1 AS (
      SELECT eo.vec_id, c0.cid,
             CAST(SUM(CAST((eo.v[i.i + 1] - c0.c[i.i + 1]) * (eo.v[i.i + 1] - c0.c[i.i + 1])
                           AS DECIMAL(28,18))) AS DOUBLE) AS d
      FROM eo CROSS JOIN c0 JOIN range(0, 64) i(i) ON true
      GROUP BY eo.vec_id, c0.cid),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d1) WHERE rn = 1),
    p1 AS (
      SELECT a1.cid, i.i AS dim,
             CAST(SUM(CAST(eo.v[i.i + 1] AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS m
      FROM a1 JOIN eo ON a1.vec_id = eo.vec_id JOIN range(0, 64) i(i) ON true
      GROUP BY a1.cid, i.i),
    c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM p1 GROUP BY cid),
    d2 AS (
      SELECT eo.vec_id, c1.cid,
             CAST(SUM(CAST((eo.v[i.i + 1] - c1.c[i.i + 1]) * (eo.v[i.i + 1] - c1.c[i.i + 1])
                           AS DECIMAL(28,18))) AS DOUBLE) AS d
      FROM eo CROSS JOIN c1 JOIN range(0, 64) i(i) ON true
      GROUP BY eo.vec_id, c1.cid),
    a2 AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d2) WHERE rn = 1),
    pc2 AS (
      SELECT a2.cid, i.i AS dim,
             CAST(SUM(CAST(eo.v[i.i + 1] AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS m
      FROM a2 JOIN eo ON a2.vec_id = eo.vec_id JOIN range(0, 64) i(i) ON true
      GROUP BY a2.cid, i.i),
    c2 AS (SELECT cid, list(m ORDER BY dim) AS c FROM pc2 GROUP BY cid),
    bd AS (
      SELECT eb.vec_id, c2.cid,
             CAST(SUM(CAST((eb.v[i.i + 1] - c2.c[i.i + 1]) * (eb.v[i.i + 1] - c2.c[i.i + 1])
                           AS DECIMAL(28,18))) AS DOUBLE) AS d
      FROM eb CROSS JOIN c2 JOIN range(0, 64) i(i) ON true
      GROUP BY eb.vec_id, c2.cid),
    ba AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM bd) WHERE rn = 1)"""


@query(
    "q_ann_index_incremental",
    # Corpus growth against a persisted index — the exact scenario the
    # r13 recall-collapse finding warns about (an index sized for
    # yesterday's corpus serving today's): a NEW batch of vectors (the
    # deterministic 20% split) is assigned to the EXISTING cells (fit on
    # the old 80%) without refitting — assignment is pointwise, so the
    # per-batch cost is batch_rows x k, never a corpus rescan — plus the
    # drift metric that flags when the corpus has outgrown the cell
    # count: refit_due once k_due = ceil(sqrt(n_total)) exceeds the
    # fitted k by >25% (4*k_due > 5*k_old in overflow-free integer
    # form). The q_dedup_incremental pattern applied to the vector index.
    oracle=_KM_INCR_CTES + """
    SELECT ba.vec_id, ba.cid,
           (SELECT n_old FROM ko) AS n_old,
           (SELECT k FROM ko) AS k_old,
           (SELECT n_total FROM kt) AS n_total,
           (SELECT k_due FROM kt) AS k_due,
           CAST(4 * (SELECT k_due FROM kt) > 5 * (SELECT k FROM ko) AS INT)
             AS refit_due
    FROM ba
    """,
    description="incremental index maintenance: the corpus-scaled k-means "
    "index is fit on the OLD 80% of the corpus (vec_id % 10 < 8, the "
    "deterministic growth split), then the NEW 20% batch is assigned to "
    "the frozen cells by the same decimal-exact argmin — per-batch cost "
    "is batch x k (one broadcast-centroid pass over the batch only, no "
    "corpus rescan) — with the refit-due drift flag: k_due = "
    "ceil(sqrt(n_total)) vs the fitted k_old, flagged when the corpus "
    "has outgrown the cell count by >25% (integer-form 4*k_due > "
    "5*k_old). Incremental assignment is pointwise-identical to what a "
    "full re-assign against the same centroids would produce "
    "(tests/test_operators.py law), so serving stays correct between "
    "refits; the flag bounds how long 'between' may last",
    tags=("vector", "pipeline"),
)
def q_ann_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.clustering import kmeans_assign, kmeans_fit

    vecs = _embeddings(spark, sf_dir)
    old = vecs.filter(F.col("vec_id") % 10 < 8)
    batch = vecs.filter(F.col("vec_id") % 10 >= 8)
    n_old = old.count()
    n_total = vecs.count()
    k_old = int(math.ceil(math.sqrt(n_old)))
    k_due = int(math.ceil(math.sqrt(n_total)))
    _assigned, cents = kmeans_fit(old, k=k_old, rounds=2)
    ba = kmeans_assign(batch, cents)
    return ba.select(
        "vec_id",
        "cid",
        F.lit(n_old).cast("long").alias("n_old"),
        F.lit(k_old).cast("long").alias("k_old"),
        F.lit(n_total).cast("long").alias("n_total"),
        F.lit(k_due).cast("long").alias("k_due"),
        F.lit(1 if 4 * k_due > 5 * k_old else 0).cast("int").alias("refit_due"),
    )


# Append-lifecycle oracle: the frozen fit comes verbatim from
# _KM_INCR_CTES (eo/eb/ko/c2/a2/ba — q_ann_index_incremental's green
# chain); the PQ tier mirrors _PQ_SCALED_CTES with three substitutions
# that ARE the append semantics: the codebook training domain is the OLD
# corpus only (sexpl sampled from rxo with the n_old threshold, seeds =
# the 256 lowest OLD ids — a frozen codebook never sees appended data),
# the code/scan domain is the UNION of old and appended assignments
# (rxa over au), and probe/LUT run against the frozen c2 centroids at
# the OLD index's nprobe.
_PQ_APPEND_CTES = """,
    nsel AS (SELECT CAST(CEIL(2 * SQRT(k)) AS BIGINT) AS np FROM ko),
    au AS (SELECT vec_id, cid FROM a2 UNION ALL SELECT vec_id, cid FROM ba),
    cx AS MATERIALIZED (
      SELECT cid, CAST(i.i AS BIGINT) AS i, c[i.i + 1] AS cx
      FROM c2 JOIN range(0, 64) i(i) ON true),
    rxo AS MATERIALIZED (
      SELECT a2.vec_id, a2.cid, cx.i, cx.i // 4 AS sub,
             e.v[cx.i + 1] - cx.cx AS x
      FROM a2 JOIN e ON a2.vec_id = e.vec_id JOIN cx ON a2.cid = cx.cid),
    rxa AS MATERIALIZED (
      SELECT au.vec_id, au.cid, cx.i, cx.i // 4 AS sub,
             e.v[cx.i + 1] - cx.cx AS x
      FROM au JOIN e ON au.vec_id = e.vec_id JOIN cx ON au.cid = cx.cid),
    sexpl AS MATERIALIZED (
      SELECT rxo.vec_id, rxo.i, rxo.sub, rxo.x FROM rxo, ko
      WHERE CAST('0x' || substr(md5(CAST(rxo.vec_id AS VARCHAR)), 1, 8) AS BIGINT)
            <= (2048 * 4294967296 - 1) // ko.n_old),
    pseed AS (
      SELECT vec_id, rn - 1 AS cand FROM (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM eo)
      WHERE rn <= 256),
    pc0 AS (
      SELECT pseed.cand, rxo.i, rxo.x AS c
      FROM rxo JOIN pseed ON rxo.vec_id = pseed.vec_id),
    pd1 AS (
      SELECT s.vec_id, s.sub, pc0.cand,
             CAST(SUM(CAST((s.x - pc0.c) * (s.x - pc0.c) AS DECIMAL(38,18))) AS DOUBLE) AS d2
      FROM sexpl s JOIN pc0 ON s.i = pc0.i
      GROUP BY s.vec_id, s.sub, pc0.cand),
    pa1 AS (
      SELECT vec_id, sub, cand FROM (
        SELECT vec_id, sub, cand,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) AS rn
        FROM pd1) WHERE rn = 1),
    pcb AS MATERIALIZED (
      SELECT pa1.cand, s.i,
             CAST(SUM(CAST(s.x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS c
      FROM sexpl s JOIN pa1 ON s.vec_id = pa1.vec_id AND s.sub = pa1.sub
      GROUP BY pa1.cand, s.i),
    qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
    qd AS (
      SELECT CAST(i.i AS BIGINT) AS i, qv.q[i.i + 1] AS qx
      FROM qv JOIN range(0, 64) i(i) ON true),
    pd AS (
      SELECT c2.cid,
             CAST(SUM(CAST((c2.c[i.i + 1] - qv.q[i.i + 1]) * (c2.c[i.i + 1] - qv.q[i.i + 1])
                           AS DECIMAL(28,18))) AS DOUBLE) AS d
      FROM c2 CROSS JOIN qv JOIN range(0, 64) i(i) ON true
      GROUP BY c2.cid),
    probe AS (
      SELECT cid FROM (
        SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn FROM pd)
      WHERE rn <= (SELECT np FROM nsel)),
    qres AS (
      SELECT cx.cid, cx.i, cx.i // 4 AS sub, qd.qx - cx.cx AS qr
      FROM cx JOIN probe ON cx.cid = probe.cid JOIN qd ON cx.i = qd.i),
    lut AS MATERIALIZED (
      SELECT q.cid, q.sub, pcb.cand,
             CAST(SUM(CAST((q.qr - pcb.c) * (q.qr - pcb.c) AS DECIMAL(38,18))) AS DOUBLE)
               AS lut_d2
      FROM qres q JOIN pcb ON q.i = pcb.i
      GROUP BY q.cid, q.sub, pcb.cand),
    pex AS MATERIALIZED (
      SELECT rxa.vec_id, rxa.cid, rxa.i, rxa.sub, rxa.x
      FROM rxa JOIN probe ON rxa.cid = probe.cid),
    cd2 AS (
      SELECT p.vec_id, p.cid, p.sub, pcb.cand,
             CAST(SUM(CAST((p.x - pcb.c) * (p.x - pcb.c) AS DECIMAL(38,18))) AS DOUBLE) AS d2
      FROM pex p JOIN pcb ON p.i = pcb.i
      GROUP BY p.vec_id, p.cid, p.sub, pcb.cand),
    codes AS (
      SELECT vec_id, cid, sub, cand AS code FROM (
        SELECT vec_id, cid, sub, cand,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) AS rn
        FROM cd2) WHERE rn = 1),
    adc AS (
      SELECT c.vec_id,
             CAST(SUM(CAST(l.lut_d2 AS DECIMAL(38,18))) AS DOUBLE) AS adc_d2
      FROM codes c JOIN lut l ON c.cid = l.cid AND c.sub = l.sub AND c.code = l.cand
      GROUP BY c.vec_id),
    candr AS (
      SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY adc_d2, vec_id) AS rn
        FROM adc)
      WHERE rn <= GREATEST(100, 2 * (SELECT k FROM ko))),
    ex AS (
      SELECT e.vec_id,
             CAST(SUM(CAST((e.v[qd.i + 1] - qd.qx) * (e.v[qd.i + 1] - qd.qx)
                           AS DECIMAL(38,18))) AS DOUBLE) AS exact_d2
      FROM e JOIN candr ON e.vec_id = candr.vec_id CROSS JOIN qd
      GROUP BY e.vec_id)"""


def _append_artifacts(
    spark: SparkSession, sf_dir: str, out: str, old_mod: int = 8
) -> tuple[int, int]:
    """The build-then-append half of the maintenance lifecycle: write the
    tree of the OLD ``old_mod``/10 of the corpus (vec_id % 10 < old_mod;
    default the canonical 80%) under ``out``, then assign + encode the
    NEW remainder batch against the frozen centroids/codebooks and append
    it into the cid-partitioned dirs. Returns the old index's (kc,
    nprobe). Shared by q_ann_index_append (serve straight off the
    appended dirs), q_ann_index_compact (compact the accreted files
    first), and q_ann_index_refit (old_mod=6 — 40% growth pushes k_due
    past the 1.25·k_old refit trigger that the canonical 20% growth
    deliberately stays under); ``out`` keys the tree per caller (the
    suffix discipline)."""
    from ..operators._ckpt import tracked_persist
    from ..operators.clustering import kmeans_assign
    from ..operators.quantize import ivfpq_scaled_codes
    from ..sources.warehouse import concurrent_writes

    vecs = _embeddings(spark, sf_dir)
    old = vecs.filter(F.col("vec_id") % 10 < old_mod)
    batch = vecs.filter(F.col("vec_id") % 10 >= old_mod)
    kc, nprobe = _write_tree(old, old.count(), out)
    _a, p_cells, p_cb, _c = _open_tree(spark, out)
    # THE APPEND: the batch is assigned to the frozen cells (broadcast
    # argmin — batch x kc work, the incremental query's law) and encoded
    # against the frozen codebooks; repeated batches accumulate one file
    # per batch per cell until compaction re-merges them. The two
    # appends share only the ba persist — overlapped like the build writes
    ba = tracked_persist(kmeans_assign(batch, p_cells))
    codes_new = ivfpq_scaled_codes((ba, p_cells, p_cb, kc, nprobe))
    concurrent_writes(*_cell_writes(ba, codes_new, out, "append"))
    return kc, nprobe


def _serve_appended(spark: SparkSession, out: str, kc: int, nprobe: int) -> DataFrame:
    """Serve the top-10 for the fixture query from the (appended or
    compacted) tree under ``out`` — same partition-pruned path as
    q_ann_index_serve, now answering over the grown corpus, with the
    appended-neighbor flag."""
    tree = _open_tree(spark, out)
    return _serve_tree(tree, kc, nprobe, _row0(tree)).withColumn(
        "appended", (F.col("vec_id") % 10 >= 8).cast("int")
    )


@query(
    "q_ann_index_append",
    # The maintenance form that COMPLETES the lifecycle triangle:
    # q_ann_index_serve persists and serves, q_ann_index_incremental
    # assigns a growth batch to frozen cells (and flags refit-due) —
    # this one actually UPDATES the persisted artifacts: the new batch's
    # vectors and their frozen-codebook codes are APPENDED into the
    # cid-partitioned parquet directories (mode('append') under
    # partitionBy — new files land inside existing cell dirs; no
    # existing file is rewritten), and the very next query serves the
    # grown corpus through the same partition-pruned path. FAISS's
    # add() against a trained index, expressed as a parquet layout
    # operation.
    oracle=_KM_INCR_CTES + _PQ_APPEND_CTES + """
    SELECT vec_id, ROUND(exact_d2, 6) AS exact_d2,
           (SELECT k FROM ko) AS k,
           (SELECT np FROM nsel) AS nprobe,
           CAST(vec_id % 10 >= 8 AS INT) AS appended
    FROM ex ORDER BY exact_d2, vec_id LIMIT 10
    """,
    description="persisted-index APPEND: build + persist the four IVFADC "
    "artifacts on the OLD 80% of the corpus (the deterministic growth "
    "split), then ingest the NEW 20% batch WITHOUT refitting — "
    "broadcast-assign the batch to the frozen cells, encode it against "
    "the frozen residual codebooks, and append both frames into the "
    "cid-partitioned directories (one new file per touched cell; "
    "compaction owns re-merging, the index never rebuilds) — then serve "
    "the top-10 from the UPDATED artifacts, flagging which neighbors "
    "arrived in the append. Scale shape: the append costs batch_rows x "
    "(kc + M*K) broadcast work and writes only the touched cells — no "
    "corpus rescan, no shuffle of existing data; the serving path is "
    "unchanged (partition-pruned codes scan at 16 B/vector, exact "
    "rerank of R = max(10·k, 2·kc) floats). Recall caveat is the "
    "incremental query's refit_due "
    "contract: appends between refits keep cells correct but growing",
    tags=("vector", "pipeline"),
)
def q_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _index_dir(sf_dir) + "_append"
    kc, nprobe = _append_artifacts(spark, sf_dir, out)
    return _serve_appended(spark, out, kc, nprobe)


@query(
    "q_ann_index_compact",
    # The maintenance pass the append query's own docstring defers to
    # ("compaction owns re-merging"): appends accrete one file per batch
    # per touched cell directory, and the r15 serving measurements showed
    # file listing/open cost overtaking the query itself when the count
    # runs away. compact_partitioned_table rewrites each cid-partitioned
    # artifact back to ONE file per cell directory while PRESERVING the
    # layout (a flat compaction would destroy the PartitionFilters
    # pruning contract), via the staged-rename swap so readers never see
    # a missing table. Compaction moves bytes, never values — the oracle
    # is IDENTICAL to q_ann_index_append's, and the one-file-per-cell
    # outcome is asserted in-code (plus the plan test pinning that the
    # compacted serve still prunes and stays shuffle-free).
    oracle=_KM_INCR_CTES + _PQ_APPEND_CTES + """
    SELECT vec_id, ROUND(exact_d2, 6) AS exact_d2,
           (SELECT k FROM ko) AS k,
           (SELECT np FROM nsel) AS nprobe,
           CAST(vec_id % 10 >= 8 AS INT) AS appended
    FROM ex ORDER BY exact_d2, vec_id LIMIT 10
    """,
    description="index compaction after appends: build + persist on the "
    "old 80%, append the 20% growth batch (accreting a second file in "
    "every touched cell dir), then COMPACT both cid-partitioned "
    "artifacts back to one file per cell directory — partition-"
    "preserving rewrite (repartition on cid + partitionBy(cid) + staged "
    "rename; a flat compaction would destroy the pruning layout) — and "
    "serve from the compacted tree: same values as serving the "
    "uncompacted appends (compaction moves bytes, never values), "
    "hash-checked against the identical frozen-fit oracle. Scale shape: "
    "the rewrite is one shuffle keyed on the partition column over the "
    "artifact (codes = 16 B/vector), amortized across every future "
    "query's file-open savings — Delta/Iceberg OPTIMIZE in plain "
    "parquet",
    tags=("vector", "pipeline"),
)
def q_ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.warehouse import compact_partitioned_table

    out = _index_dir(sf_dir) + "_compact"
    kc, nprobe = _append_artifacts(spark, sf_dir, out)
    for sub in _BY_CELL:
        compact_partitioned_table(spark, f"{out}/{sub}", "cid")
        # the compaction contract, checked where it ran: exactly one
        # parquet file per cell directory (the probe's file-open cost per
        # probed cell is 1 again, however many batches were appended)
        for d in os.listdir(f"{out}/{sub}"):
            if d.startswith("cid="):
                files = [
                    f
                    for f in os.listdir(f"{out}/{sub}/{d}")
                    if f.endswith(".parquet")
                ]
                assert len(files) == 1, (sub, d, files)
    return _serve_appended(spark, out, kc, nprobe)


@query(
    "q_ann_index_refit",
    # The state machine's missing transition (VERDICT r15 item 4):
    # q_ann_index_incremental RAISES refit_due when the corpus outgrows
    # the fitted cell count by >25% (4·k_due > 5·k_old), and the append
    # form keeps serving a grown corpus on frozen cells — but nothing
    # ACTED on the flag. This query completes the loop: grow the corpus
    # far enough that the flag actually fires (old = 60%, batch = 40% —
    # the canonical 20% growth stays under the trigger by design:
    # sqrt(1/0.8) ≈ 1.12), then REBUILD all four artifacts from the
    # union (old ∪ appended, read back from the artifact tree — the
    # tree IS the corpus of record) at the due kc = ceil(sqrt(n_total)),
    # write them to a staging sibling, and atomically swap via the same
    # staged-rename discipline compaction uses — then serve from the
    # refitted tree. The oracle is the FRESH full-corpus build (the
    # post-refit ≡ fresh-build law: a refit erases all trace of the
    # frozen-fit drift), plus the trigger arithmetic the engine acted
    # on.
    oracle=_KM_SCALED_CTES + _PQ_SCALED_CTES + """,
    ko6 AS (
      SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS k_old
      FROM embeddings WHERE vec_id % 10 < 6)
    SELECT vec_id, ROUND(exact_d2, 6) AS exact_d2,
           (SELECT k_old FROM ko6) AS k_old,
           (SELECT k FROM ksel) AS k_new,
           CAST(4 * (SELECT k FROM ksel) > 5 * (SELECT k_old FROM ko6) AS INT)
             AS refit_due
    FROM ex ORDER BY exact_d2, vec_id LIMIT 10
    """,
    description="index REFIT-AND-SWAP — the lifecycle transition that "
    "acts on the incremental query's refit_due flag: build + persist on "
    "the old 60% of the corpus, append the 40% growth batch to the "
    "frozen cells (enough drift that k_due = ceil(sqrt(n_total)) "
    "exceeds the fitted k_old by >25%), then rebuild the four IVFADC "
    "artifacts from the UNION read back from the artifact tree at the "
    "due kc, write them into a staging sibling, and swap the tree via "
    "the two-rename staged-swap discipline — the very next query serves "
    "the refitted index. Hash-checked against the fresh full-corpus "
    "build oracle (post-refit serve ≡ fresh-build serve — a refit "
    "erases frozen-fit drift entirely), with the trigger arithmetic "
    "(k_old, k_new, refit_due) in the output. Scale shape: the refit "
    "re-pays the O(n·kc) fit exactly when the √n law says the old index "
    "is 25% stale — amortized over the append batches it absorbs — and "
    "the swap is two renames, zero data movement beyond the rebuild "
    "itself",
    tags=("vector", "pipeline"),
)
def q_ann_index_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    import uuid as _uuid

    from ..sources.warehouse import swap_directory

    out = _index_dir(sf_dir) + "_refit"
    # phase 1: the drifted state — frozen-fit artifacts grown 60% → 100%
    kc_old, _nprobe_old = _append_artifacts(spark, sf_dir, out, old_mod=6)
    # phase 2: the trigger, computed exactly as q_ann_index_incremental
    # publishes it (integer form, no float boundary)
    union = _open_tree(spark, out)[0].select("vec_id", "v")
    n_total = union.count()
    k_due = int(math.ceil(math.sqrt(n_total)))
    refit_due = 4 * k_due > 5 * kc_old
    # phase 3: act on it — rebuild from the union into a staging tree,
    # then swap. The union is read from the artifact tree, not the
    # source table: the tree is the deployment's corpus of record
    # (doubles round-trip parquet bit-exactly, so refit-from-tree ≡
    # refit-from-source)
    staging = f"{out}.staging-{_uuid.uuid4().hex[:8]}"
    kc_new, nprobe_new = _write_tree(union, n_total, staging)
    swap_directory(staging, out)
    # phase 4: serve from the refitted tree — the fresh-build path
    tree = _open_tree(spark, out)
    res = _serve_tree(tree, kc_new, nprobe_new, _row0(tree))
    return res.select(
        "vec_id",
        "exact_d2",
        F.lit(kc_old).cast("long").alias("k_old"),
        F.lit(kc_new).cast("long").alias("k_new"),
        F.lit(int(refit_due)).cast("int").alias("refit_due"),
    )


# --------------------------------------------------------------------------
# Cluster-balanced sampling (the MetaCLIP balancing step — Xu et al. 2024,
# "Demystifying CLIP Data": entries over the cap t are kept with probability
# t / count, flattening the head of the distribution while leaving tail
# clusters intact). Clusters come from the hash-checked k-means fit; the
# keep decision is the deterministic md5-uniform u(vec_id) < t / n_c,
# evaluated as the cross-multiplied INTEGER comparison h * n_c < t * 2^32 —
# no float boundary, no rand(), reproducible under any partitioning.
# --------------------------------------------------------------------------

_CLUSTER_CAP = 64  # expected per-cluster keep budget t


@query(
    "q_cluster_balanced_sample",
    oracle=_KM_CTES + f""",
    sizes AS (SELECT cid, COUNT(*) AS n_c FROM a2 GROUP BY cid),
    h AS (
      SELECT a2.vec_id, a2.cid, sizes.n_c,
             CAST('0x' || substr(md5(CAST(a2.vec_id AS VARCHAR)), 1, 8)
                  AS BIGINT) AS hv
      FROM a2 JOIN sizes USING (cid))
    SELECT vec_id, cid, n_c,
           CASE WHEN n_c <= {_CLUSTER_CAP}
                  OR hv <= ({_CLUSTER_CAP} * 4294967296 - 1) // n_c
                THEN 1 ELSE 0 END AS kept
    FROM h
    """,
    description=f"cluster-balanced sampling (the MetaCLIP balancing step, Xu "
    f"et al. 2024): embedding k-means clusters (the hash-checked Lloyd fit), "
    f"then head-flattening — clusters at or under the cap t={_CLUSTER_CAP} "
    "keep everything, larger clusters keep each vector with probability "
    "t/n_c via the deterministic md5-uniform, evaluated as the integer "
    "comparison hv <= (t*2^32 - 1) div n_c — algebraically identical to "
    "the cross-multiplied hv*n_c < t*2^32 but overflow-free at ANY "
    "cluster size (t*2^32 = 2^38 is the largest intermediate; the product "
    "form wraps past n_c ~ 2^31). No float boundary, no rand(). Scale "
    "shape: broadcast-centroid assignment, one k-row "
    "cluster-size aggregate broadcast back, keep decision MAP-ONLY — no "
    "per-cluster window sort, so a skewed head cluster costs a scan, not a "
    "single-partition sort",
    tags=("vector", "pipeline"),
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_fit

    emb = _embeddings(spark, sf_dir)
    assigned, _cents = kmeans_fit(emb, k=4, rounds=2)
    sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_c"))
    h = assigned.select("vec_id", "cid").join(F.broadcast(sizes), "cid")
    hv = md5_u32(F.col("vec_id").cast("string"))
    return h.select(
        "vec_id",
        "cid",
        "n_c",
        (
            (F.col("n_c") <= _CLUSTER_CAP)
            | (hv <= F.expr(f"({_CLUSTER_CAP} * 4294967296 - 1) div n_c"))
        )
        .cast("int")
        .alias("kept"),
    )


_SEMDEDUP_TAU = 0.3  # within-cluster cosine above this = semantic duplicate


@query(
    "q_semdedup_centroid",
    # SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    # web-scale through semantic deduplication"): cluster the embedding
    # space, call within-cluster pairs above a cosine threshold semantic
    # duplicates, and from each duplicate pair KEEP the member with the
    # LOWER cosine to its cluster centroid (the paper keeps low-centroid-
    # similarity examples — they carry more information). The quadratic
    # term is bounded BY DESIGN: pairs are only formed within a cluster,
    # so n²/k work for k clusters (the paper runs 50k clusters over 233M
    # points); there is never a global all-pairs. The cluster here is the
    # deterministic per-label cell (the q_ann_ivf_portable stand-in for
    # the k-means assignment; q_ann_ivf_kmeans provides the learned path).
    # Float hygiene: centroids are decimal-exact per-dim means, every dot
    # and norm accumulates in DECIMAL(38,18) (order-free), comparisons run
    # on identical doubles, output rounds 6dp — hash-checked end to end.
    oracle=f"""
    WITH dims AS MATERIALIZED (
      SELECT e.vec_id, e.label, i.i AS i, CAST(e.embedding[i.i] AS DOUBLE) AS v
      FROM embeddings e, range(1, 65) i(i)),
    cent AS (
      SELECT label, i,
             CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY label, i),
    nc AS (
      SELECT label, sqrt(CAST(SUM(CAST(c * c AS DECIMAL(38,18))) AS DOUBLE)) AS nc
      FROM cent GROUP BY label),
    nv AS (
      SELECT vec_id, sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,18))) AS DOUBLE)) AS nv
      FROM dims GROUP BY vec_id),
    dotc AS (
      SELECT d.vec_id, d.label,
             CAST(SUM(CAST(d.v * c.c AS DECIMAL(38,18))) AS DOUBLE) AS dot_c
      FROM dims d JOIN cent c ON d.label = c.label AND d.i = c.i
      GROUP BY d.vec_id, d.label),
    cs AS (
      SELECT dotc.vec_id, dotc.label, dot_c / (nv.nv * nc.nc) AS cs
      FROM dotc JOIN nv ON dotc.vec_id = nv.vec_id
                JOIN nc ON dotc.label = nc.label),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id),
    dots AS (
      SELECT p.id_a, p.id_b,
             CAST(SUM(CAST(CAST(e.embedding[i.i] AS DOUBLE)
                           * CAST(q.embedding[i.i] AS DOUBLE)
                  AS DECIMAL(38,18))) AS DOUBLE) AS dot
      FROM cand p
      JOIN embeddings e ON p.id_a = e.vec_id
      JOIN embeddings q ON p.id_b = q.vec_id, range(1, 65) i(i)
      GROUP BY p.id_a, p.id_b),
    dup AS (
      SELECT d.id_a, d.id_b, ca.cs AS csa, cb.cs AS csb
      FROM dots d
      JOIN nv na ON d.id_a = na.vec_id
      JOIN nv nb ON d.id_b = nb.vec_id
      JOIN cs ca ON d.id_a = ca.vec_id
      JOIN cs cb ON d.id_b = cb.vec_id
      WHERE d.dot / (na.nv * nb.nv) >= {_SEMDEDUP_TAU}),
    dropped AS (
      SELECT DISTINCT CASE WHEN csa < csb OR (csa = csb AND id_a < id_b)
                           THEN id_b ELSE id_a END AS vec_id
      FROM dup)
    SELECT cs.vec_id, cs.label, ROUND(cs.cs, 6) AS cent_sim,
           CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS kept
    FROM cs LEFT JOIN dropped dr ON cs.vec_id = dr.vec_id
    """,
    description="SemDeDup with the paper's keep rule, hash-checked: "
    "within-cluster embedding pairs above cosine "
    f"{_SEMDEDUP_TAU} are semantic duplicates; each pair keeps the member "
    "with the LOWER centroid similarity (the paper's keep-the-informative-"
    "one rule) — per-vec verdict (vec_id, label, cent_sim, kept), "
    "hash-checked. The quadratic term is cluster-bounded by design "
    "(n^2/k, never global all-pairs); centroid/norm passes are one linear "
    "explode each; the label cell stands in deterministically for the "
    "k-means assignment the learned path (q_ann_ivf_kmeans) provides",
    tags=("vector", "dedup", "pipeline"),
)
def q_semdedup_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import dim_means

    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("i", "v")
    ).withColumn("v", F.col("v").cast("double"))
    cent = dim_means(emb, ["label"], "embedding")
    nc = cent.groupBy("label").agg(
        F.sqrt(
            F.sum((F.col("c") * F.col("c")).cast("decimal(38,18)")).cast("double")
        ).alias("nc")
    )
    dot_c = (
        dims.join(cent, ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("v") * F.col("c")).cast("decimal(38,18)"))
            .cast("double")
            .alias("dot_c")
        )
    )
    base = emb.select(
        "vec_id", "label", "embedding", V.norm(F.col("embedding")).alias("nv")
    )
    from ..operators._ckpt import tracked_persist

    # three consumers (both pair sides + the final verdict) — one
    # materialization, same convention as ph in q_image_band_recall
    cs = tracked_persist(
        base.join(dot_c, ["vec_id", "label"])
        .join(F.broadcast(nc), "label")
        .select(
            "vec_id",
            "label",
            "embedding",
            "nv",
            (F.col("dot_c") / (F.col("nv") * F.col("nc"))).alias("cs"),
        )
    )
    a = cs.select(
        F.col("vec_id").alias("id_a"),
        "label",
        F.col("embedding").alias("ea"),
        F.col("nv").alias("na"),
        F.col("cs").alias("csa"),
    )
    b = cs.select(
        F.col("vec_id").alias("id_b"),
        "label",
        F.col("embedding").alias("eb"),
        F.col("nv").alias("nb"),
        F.col("cs").alias("csb"),
    )
    dup = (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            V.dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
            >= _SEMDEDUP_TAU
        )
    )
    dropped = dup.select(
        F.when(
            (F.col("csa") < F.col("csb"))
            | ((F.col("csa") == F.col("csb")) & (F.col("id_a") < F.col("id_b"))),
            F.col("id_b"),
        )
        .otherwise(F.col("id_a"))
        .alias("vec_id")
    ).distinct()
    return cs.join(
        dropped.withColumn("dr", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id",
        "label",
        F.round("cs", 6).alias("cent_sim"),
        F.when(F.col("dr").isNull(), 1).otherwise(0).alias("kept"),
    )


# Batch-serving oracle: the query-independent training CTEs are copied
# verbatim from _PQ_SCALED_CTES (ncnt..pcb — kept as one literal there to
# preserve that oracle's committed text); the per-query CTEs generalize
# qv/pd/probe/qd/qres/lut/adc/candr/ex with a qid dimension, and the codes
# CTEs range over the UNION of all probed cells.
_PQ_BATCH_CTES = """,
    ncnt AS (SELECT COUNT(*) AS n FROM embeddings),
    nsel AS (SELECT CAST(CEIL(2 * SQRT(k)) AS BIGINT) AS np FROM ksel),
    pc2 AS (
      SELECT a2.cid, i.i AS dim,
             CAST(SUM(CAST(e.v[i.i + 1] AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS m
      FROM a2 JOIN e ON a2.vec_id = e.vec_id JOIN range(0, 64) i(i) ON true
      GROUP BY a2.cid, i.i),
    c2 AS (SELECT cid, list(m ORDER BY dim) AS c FROM pc2 GROUP BY cid),
    cx AS MATERIALIZED (
      SELECT cid, CAST(i.i AS BIGINT) AS i, c[i.i + 1] AS cx
      FROM c2 JOIN range(0, 64) i(i) ON true),
    rx AS MATERIALIZED (
      SELECT a2.vec_id, a2.cid, cx.i, cx.i // 4 AS sub,
             e.v[cx.i + 1] - cx.cx AS x
      FROM a2 JOIN e ON a2.vec_id = e.vec_id JOIN cx ON a2.cid = cx.cid),
    sexpl AS MATERIALIZED (
      SELECT rx.vec_id, rx.i, rx.sub, rx.x FROM rx, ncnt
      WHERE CAST('0x' || substr(md5(CAST(rx.vec_id AS VARCHAR)), 1, 8) AS BIGINT)
            <= (2048 * 4294967296 - 1) // ncnt.n),
    pseed AS (
      SELECT vec_id, rn - 1 AS cand FROM (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM e)
      WHERE rn <= 256),
    pc0 AS (
      SELECT pseed.cand, rx.i, rx.x AS c
      FROM rx JOIN pseed ON rx.vec_id = pseed.vec_id),
    pd1 AS (
      SELECT s.vec_id, s.sub, pc0.cand,
             CAST(SUM(CAST((s.x - pc0.c) * (s.x - pc0.c) AS DECIMAL(38,18))) AS DOUBLE) AS d2
      FROM sexpl s JOIN pc0 ON s.i = pc0.i
      GROUP BY s.vec_id, s.sub, pc0.cand),
    pa1 AS (
      SELECT vec_id, sub, cand FROM (
        SELECT vec_id, sub, cand,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) AS rn
        FROM pd1) WHERE rn = 1),
    pcb AS MATERIALIZED (
      SELECT pa1.cand, s.i,
             CAST(SUM(CAST(s.x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS c
      FROM sexpl s JOIN pa1 ON s.vec_id = pa1.vec_id AND s.sub = pa1.sub
      GROUP BY pa1.cand, s.i),
    qids AS (SELECT UNNEST([0, 17, 29]) AS qid),
    qvb AS (SELECT e.vec_id AS qid, e.v AS q FROM e JOIN qids ON e.vec_id = qids.qid),
    pdb AS (
      SELECT qvb.qid, c2.cid,
             CAST(SUM(CAST((c2.c[i.i + 1] - qvb.q[i.i + 1]) * (c2.c[i.i + 1] - qvb.q[i.i + 1])
                           AS DECIMAL(28,18))) AS DOUBLE) AS d
      FROM c2 CROSS JOIN qvb JOIN range(0, 64) i(i) ON true
      GROUP BY qvb.qid, c2.cid),
    probeb AS MATERIALIZED (
      SELECT qid, cid FROM (
        SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS rn
        FROM pdb)
      WHERE rn <= (SELECT np FROM nsel)),
    pcells AS (SELECT DISTINCT cid FROM probeb),
    qdb AS (
      SELECT qvb.qid, CAST(i.i AS BIGINT) AS i, qvb.q[i.i + 1] AS qx
      FROM qvb JOIN range(0, 64) i(i) ON true),
    qresb AS (
      SELECT p.qid, cx.cid, cx.i, cx.i // 4 AS sub, qdb.qx - cx.cx AS qr
      FROM cx JOIN probeb p ON cx.cid = p.cid
      JOIN qdb ON cx.i = qdb.i AND qdb.qid = p.qid),
    lutb AS MATERIALIZED (
      SELECT q.qid, q.cid, q.sub, pcb.cand,
             CAST(SUM(CAST((q.qr - pcb.c) * (q.qr - pcb.c) AS DECIMAL(38,18))) AS DOUBLE)
               AS lut_d2
      FROM qresb q JOIN pcb ON q.i = pcb.i
      GROUP BY q.qid, q.cid, q.sub, pcb.cand),
    pexb AS MATERIALIZED (
      SELECT rx.vec_id, rx.cid, rx.i, rx.sub, rx.x
      FROM rx JOIN pcells ON rx.cid = pcells.cid),
    cd2b AS (
      SELECT p.vec_id, p.cid, p.sub, pcb.cand,
             CAST(SUM(CAST((p.x - pcb.c) * (p.x - pcb.c) AS DECIMAL(38,18))) AS DOUBLE) AS d2
      FROM pexb p JOIN pcb ON p.i = pcb.i
      GROUP BY p.vec_id, p.cid, p.sub, pcb.cand),
    codesb AS MATERIALIZED (
      SELECT vec_id, cid, sub, cand AS code FROM (
        SELECT vec_id, cid, sub, cand,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cand) AS rn
        FROM cd2b) WHERE rn = 1),
    adcb AS (
      SELECT l.qid, c.vec_id,
             CAST(SUM(CAST(l.lut_d2 AS DECIMAL(38,18))) AS DOUBLE) AS adc_d2
      FROM codesb c JOIN lutb l
        ON c.cid = l.cid AND c.sub = l.sub AND c.code = l.cand
      GROUP BY l.qid, c.vec_id),
    candb AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY adc_d2, vec_id) AS rn
        FROM adcb) WHERE rn <= GREATEST(100, 2 * (SELECT k FROM ksel))),
    exb AS (
      SELECT cb.qid, e.vec_id,
             CAST(SUM(CAST((e.v[qdb.i + 1] - qdb.qx) * (e.v[qdb.i + 1] - qdb.qx)
                           AS DECIMAL(38,18))) AS DOUBLE) AS exact_d2
      FROM e JOIN candb cb ON e.vec_id = cb.vec_id
      JOIN qdb ON qdb.qid = cb.qid
      GROUP BY cb.qid, e.vec_id)"""


@query(
    "q_ann_serve_batch",
    # The retrieval-SERVICE shape: Q queries against ONE shared
    # corpus-scaled IVFADC+R index in a single plan. Every corpus-sized
    # stage (coarse fit, residual codebook training, code assignment over
    # the probed-cell union) is query-count-independent; the per-query
    # work (probe ranking, per-(qid,cid) LUTs, ADC fan-out, the
    # R = max(10·k, 2·kc) rerank)
    # is kc-/nprobe-/R-sized and broadcast — so per-query marginal cost
    # FALLS with batch size wherever probes overlap (FAISS batches its
    # search() for the same reason). Decimal-exact and totally ordered at
    # every decision, so the whole batch is one hash-checkable frame.
    oracle=_KM_SCALED_CTES + _PQ_BATCH_CTES + """
    SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rnk, vec_id,
           ROUND(exact_d2, 6) AS exact_d2
    FROM (
      SELECT qid, vec_id, exact_d2,
             row_number() OVER (PARTITION BY qid ORDER BY exact_d2, vec_id) AS rnk
      FROM exb)
    WHERE rnk <= 10
    ORDER BY query_id, rnk
    """,
    description="batched ANN serving: three query vectors (vec_id 0, 17, "
    "29) answered by ONE IVFADC+R plan over the shared corpus-scaled "
    "index — per-query probes ranked by a qid-partitioned window, "
    "per-(query, cell) ADC lookup tables, one pass over the UNION of all "
    "probed cells' codes (a cell probed by several queries is read once "
    "and fanned out through the broadcast probe join), exact decimal-L2 "
    "rerank of each query's ADC top R = max(10·k, 2·kc), top-10 per "
    "query. Scale shape: "
    "the corpus-side stages are query-count-independent, so batch size Q "
    "divides the index/scan overheads across queries — the throughput "
    "form of the serving path (q_ann_index_serve is the latency form)",
    tags=("vector",),
)
def q_ann_serve_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantize import ivfpq_scaled_topk_batch

    emb = _embeddings(spark, sf_dir)
    return ivfpq_scaled_topk_batch(emb, query_ids=[0, 17, 29])


@query(
    "q_stream_ann_serve",
    # The ONLINE form of the serving path: the same three queries as
    # q_ann_serve_batch, but ARRIVING as a stream (one file per query,
    # maxFilesPerTrigger=1 under availableNow → three genuine
    # micro-batches) and answered per-batch against the FOUR persisted
    # index artifacts via foreachBatch — the index is built/written once
    # before the stream starts and never touched again; each micro-batch
    # pays only the nprobe-pruned serving cost (partition-pruned codes
    # scan, broadcast LUT, literal-bound rerank). Values are
    # batch-size-invariant (every per-query decision is decimal-exact and
    # totally ordered, and the persisted artifacts are frozen), so the
    # streamed union equals the one-plan batch result — the same oracle,
    # hash-checked.
    oracle=_KM_SCALED_CTES + _PQ_BATCH_CTES + """
    SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rnk, vec_id,
           ROUND(exact_d2, 6) AS exact_d2
    FROM (
      SELECT qid, vec_id, exact_d2,
             row_number() OVER (PARTITION BY qid ORDER BY exact_d2, vec_id) AS rnk
      FROM exb)
    WHERE rnk <= 10
    ORDER BY query_id, rnk
    """,
    description="streaming ANN serving: query vectors arrive as a file "
    "stream (one micro-batch per query under maxFilesPerTrigger=1 + "
    "availableNow) and are served by foreachBatch against the persisted "
    "cell-partitioned IVFADC artifacts — index built once before the "
    "stream starts, each batch reads only its probed cells' code files "
    "(PartitionFilters) and reranks R = max(10·k, 2·kc) floats exactly; "
    "results appended "
    "per batch and hash-checked against the one-plan batch-serving "
    "oracle. Scale shape: state is O(index artifacts) on disk, per-batch "
    "work is nprobe/kc ~ n^(-1/4) of the code files at 16 B/vector — the "
    "retrieval-service deployment loop (build at ingest, serve forever) "
    "expressed as a Structured Streaming job",
    tags=("vector", "streaming"),
)
def q_stream_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as papq

    *tree, kc, nprobe = _write_serve_artifacts(spark, sf_dir, suffix="_stream")
    base = _index_dir(sf_dir) + "_stream"
    qsrc = base + "/stream_queries"
    qsink = base + "/stream_results"
    ckpt = base + "/stream_ckpt"
    # deterministic per-sf locations, reset per run: a stale checkpoint
    # would mark the query files already-processed (availableNow resumes)
    # and stale results would double-count — same rerun discipline as
    # _index_dir itself
    for d in (qsrc, qsink, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(qsrc, exist_ok=True)
    qids = [0, 17, 29]
    # the query vectors are VALUES in a service (they arrive from users,
    # not from the corpus); the fixture draws them from corpus rows, so
    # fetch the three once (pruned scan, one job) and write one parquet
    # file per query — the file boundary IS the micro-batch boundary
    qrows = {
        r["vec_id"]: list(r["v"])
        for r in tree[0].filter(F.col("vec_id").isin(qids))
        .select("vec_id", "v")
        .collect()
    }
    for qid in qids:
        tbl = pa.table(
            {
                "qid": pa.array([qid], pa.int64()),
                "v": pa.array([qrows[qid]], pa.list_(pa.float64())),
            }
        )
        papq.write_table(tbl, os.path.join(qsrc, f"query_{qid}.parquet"))

    def _serve_batch(batch_df: DataFrame, batch_id: int) -> None:
        # queries are driver-side values in a service — collecting the
        # micro-batch is the serving contract (Q rows, not corpus rows).
        # foreachBatch is at-least-once: on a checkpoint-resume after a
        # partially-committed batch the same batch_id replays, so the
        # sink is keyed by batch_id (each batch owns one subdir, cleared
        # before writing) — a replay rewrites its own subdir instead of
        # duplicating rows (ADVICE r15).
        bdir = os.path.join(qsink, f"batch_id={int(batch_id)}")
        shutil.rmtree(bdir, ignore_errors=True)
        for row in batch_df.collect():
            res = _serve_tree(
                tree, kc, nprobe, list(row["v"]), with_rank=True
            ).select(
                F.lit(int(row["qid"])).cast("long").alias("query_id"),
                "rnk",
                "vec_id",
                "exact_d2",
            )
            res.write.mode("append").parquet(bdir)

    stream = (
        spark.readStream.schema("qid LONG, v ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", 1)
        .parquet(qsrc)
    )
    from ..streaming.jobs import _no_data_batches_off

    with _no_data_batches_off(spark):
        q = (
            stream.writeStream.foreachBatch(_serve_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # batch_id is sink-layout metadata (partition discovery surfaces it
    # as a column), not part of the served result
    return (
        spark.read.parquet(qsink)
        .select("query_id", "rnk", "vec_id", "exact_d2")
        .orderBy("query_id", "rnk")
    )
