"""Training-corpus pipeline queries (SURVEY.md §2.13 extensions): benchmark
decontamination, sequence packing, repetition/entropy/LM quality scores,
filter-funnel attrition, winsorization and MAD robust stats, z-score
anomalies, salted join, star join, CDC latest-per-key compaction,
deterministic hash sampling, class weights, blocked kNN join, and the fully
oracle-checked portable SimHash / MinHash-LSH pair pipelines with the
cross-source overlap matrix built on them.

These are the operations a pretraining-data pipeline runs between raw
ingest and tokenized shards — the reference's ETL loop (trulia_scrape.py:
107-188 clean→filter→sink) generalized to LLM-corpus scale. Every query here
is DuckDB-oracle-checked: divisions are a single double divide + ROUND(…,6)
on both engines, hashes are md5-derived (bit-identical across engines), and
integer math stays in BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..layout import fan_out
from ..operators._ckpt import tracked_persist
from ..operators import dedup as D
from ..operators.dedup import ngrams, shingles
from ..operators.sampling import md5_u32
from ..sources.warehouse import sql_zorder_key
from ._util import sql_davg, sql_dsum
from .registry import query
from .vector_queries import _embeddings

# -- shared shingle expression (same construction q_minhash_portable uses) --

_SHINGLE_DUCK = """
    SELECT doc_id, unnest(list_distinct(
             CASE WHEN len(t) >= 3 THEN
               list_transform(
                 list_filter(list_zip(t, t[2:], t[3:]), p -> p[3] IS NOT NULL),
                 p -> concat_ws(' ', p[1], p[2], p[3]))
             ELSE [array_to_string(t, ' ')] END)) AS sh
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""


def corpus_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc DISTINCT word-3-gram explode every decontamination query
    consumes — built ONCE per (session, sf_dir) as a tracked persist: the
    exact check (q_decontaminate), the Bloom family (q_bloom_decontaminate /
    q_bloom_fpr / q_bloom_overshoot) and each query's own eval/corpus split
    all reference the identical analyzed plan, so the CacheManager serves
    every consumer from one materialization instead of re-exploding the
    corpus per leg (the explode dominates the family's cost — VERDICT r10).
    Lazy; bench.py drains it via clear_pipeline_cache between queries.
    At deployment scale the same persist holds: the exploded frame is
    ~6 shingles/KB of text, MEMORY_AND_DISK spills past executor memory."""
    return tracked_persist(
        shingles_from(load_table(spark, sf_dir, "documents"))
    )


def shingles_from(docs: DataFrame) -> DataFrame:
    """Per-doc DISTINCT word-3-gram explode over an arbitrary
    (doc_id, text) frame — the corpus_shingles construction as a reusable
    core, so a caller with a RESTRICTED corpus (the density-safe consensus
    feeds keepers only) pays the explode for its subset instead of the
    whole table. Shingles are per-doc, so restriction commutes."""
    return shingles(docs, "doc_id", "text", 3).withColumnRenamed("id", "doc_id")


@query(
    "q_decontaminate",
    oracle=f"""
    WITH sh AS ({_SHINGLE_DUCK}),
    ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 37 = 0)
    SELECT s.doc_id, COUNT(*) AS n_hit
    FROM sh s JOIN ev ON s.sh = ev.sh
    WHERE s.doc_id % 37 <> 0
    GROUP BY s.doc_id
    """,
    description="benchmark decontamination: flag corpus docs sharing any word 3-gram "
    "with the eval holdout (doc_id % 37 = 0) — the n-gram-overlap test-set "
    "contamination check every pretraining pipeline runs before training. "
    "Eval shingle set is DISTINCT + broadcast (eval benchmarks are tiny vs the "
    "corpus); corpus side is one explode + one grouped count — no all-pairs join",
    tags=("pipeline", "text"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = corpus_shingles(spark, sf_dir)
    ev = sh.filter(F.col("doc_id") % 37 == 0).select("sh").distinct()
    corpus = sh.filter(F.col("doc_id") % 37 != 0)
    return (
        corpus.join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )


_SEQ_LEN = 256


@query(
    "q_seq_packing",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
    c AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t)
    SELECT source,
           CAST((cum - n_tok) // {_SEQ_LEN} AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc
    FROM c GROUP BY source, seq_id
    """,
    description=f"sequence packing: assign docs to fixed-{_SEQ_LEN}-token training "
    "sequences by running token offset (concat-then-chunk regime: a doc belongs to "
    "the sequence its first token lands in). Packed per source shard — the cumsum "
    "window partitions on source, so no global single-partition sort; a real "
    "pipeline packs per shard exactly like this and the per-shard window "
    "distributes across executors",
    tags=("pipeline",),
)
def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = docs.select(
        "source", "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    ).withColumn("cum", F.sum("n_tok").over(w))
    return (
        staged.withColumn("seq_id", F.expr(f"(cum - n_tok) div {_SEQ_LEN}"))
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@query(
    "q_repetition",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    d AS (
      SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_dist, t
      FROM base WHERE len(t) >= 2),
    bg AS (
      SELECT doc_id, n_tok, n_dist,
             unnest(list_transform(
               list_filter(list_zip(t, t[2:]), p -> p[2] IS NOT NULL),
               p -> concat_ws(' ', p[1], p[2]))) AS bigram
      FROM d),
    c AS (
      SELECT doc_id, n_tok, n_dist, bigram, COUNT(*) AS c
      FROM bg GROUP BY doc_id, n_tok, n_dist, bigram)
    SELECT doc_id,
           ROUND(1 - n_dist / CAST(n_tok AS DOUBLE), 6) AS dup_token_frac,
           ROUND(MAX(c) / CAST(n_tok - 1 AS DOUBLE), 6) AS top_bigram_frac,
           MAX(c) > 1 AS repetitive
    FROM c GROUP BY doc_id, n_tok, n_dist
    """,
    description="within-document repetition stats (the Gopher/C4 repetition filters): "
    "duplicate-token fraction (1 - distinct/total) and most-frequent-bigram fraction "
    "per doc; `repetitive` flags any repeated bigram. Explode→two-level grouped agg — "
    "the first groupBy is partial-agg friendly (doc-local keys), the second collapses "
    "to one row per doc; constant per-doc stats ride the grouping keys, single scan",
    tags=("pipeline", "text"),
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    # Fully per-row since r16 (guide §2.4): max bigram multiplicity via the
    # in-row sorted-run fold (functions/text.max_adjacent_pair_count,
    # integer-identical to the former explode→two-level grouped agg), so
    # the query is one projection over the scan — zero exchanges. The
    # n_tok >= 2 filter matches the old explode semantics (docs without a
    # bigram produced no rows).
    d = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).filter(F.size("w") >= 2)
    # bind the fold once in its own projection (the r07 no-CSE-in-lambdas
    # lesson) — mc feeds two output columns
    m = d.select(
        "doc_id",
        F.size("w").alias("n_tok"),
        F.size(F.array_distinct("w")).alias("n_dist"),
        T.max_adjacent_pair_count("w").alias("mc"),
    )
    return m.select(
        "doc_id",
        F.round(
            1 - F.col("n_dist") / F.col("n_tok").cast("double"), 6
        ).alias("dup_token_frac"),
        F.round(
            F.col("mc") / (F.col("n_tok") - 1).cast("double"), 6
        ).alias("top_bigram_frac"),
        (F.col("mc") > 1).alias("repetitive"),
    )


_STOPSET_SQL = "['the', 'a', 'of', 'and', 'to']"


@query(
    "q_filter_funnel",
    oracle=f"""
    WITH d AS (
      SELECT lang, n_chars,
             len(list_filter(string_split(text, ' '),
                             x -> list_contains({_STOPSET_SQL}, x)))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
             1 - len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS dup_frac
      FROM documents),
    f AS (
      SELECT COUNT(*) AS total,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS s1,
             SUM(CASE WHEN lang = 'en' AND n_chars >= 100 THEN 1 ELSE 0 END) AS s2,
             SUM(CASE WHEN lang = 'en' AND n_chars >= 100
                       AND stop_ratio >= 0.02 THEN 1 ELSE 0 END) AS s3,
             SUM(CASE WHEN lang = 'en' AND n_chars >= 100
                       AND stop_ratio >= 0.02 AND dup_frac <= 0.6 THEN 1 ELSE 0 END) AS s4
      FROM d)
    SELECT '0_total' AS stage, CAST(total AS BIGINT) AS n_docs,
           ROUND(total / CAST(total AS DOUBLE), 6) AS retained FROM f
    UNION ALL SELECT '1_lang', CAST(s1 AS BIGINT), ROUND(s1 / CAST(total AS DOUBLE), 6) FROM f
    UNION ALL SELECT '2_length', CAST(s2 AS BIGINT), ROUND(s2 / CAST(total AS DOUBLE), 6) FROM f
    UNION ALL SELECT '3_quality', CAST(s3 AS BIGINT), ROUND(s3 / CAST(total AS DOUBLE), 6) FROM f
    UNION ALL SELECT '4_dedup', CAST(s4 AS BIGINT), ROUND(s4 / CAST(total AS DOUBLE), 6) FROM f
    """,
    description="filter-funnel attrition report: how many documents survive each "
    "stage of the cleaning cascade (language → length → stopword quality → "
    "repetition), with retained fraction vs raw. ONE scan: per-doc stage booleans "
    "are cumulative ANDs folded into conditional sums, then the 1-row aggregate is "
    "unpivoted with stack() — the shape that audits a 100 TB filter cascade for the "
    "cost of a single pass",
    tags=("pipeline", "text"),
)
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    s1 = (F.col("lang") == "en").cast("int")
    s2 = (s1.cast("boolean") & (F.col("n_chars") >= 100)).cast("int")
    s3 = (s2.cast("boolean") & (T.stopword_ratio("text") >= 0.02)).cast("int")
    dup_frac = 1 - F.size(F.array_distinct(F.split(F.col("text"), " "))) / F.size(
        F.split(F.col("text"), " ")
    ).cast("double")
    s4 = (s3.cast("boolean") & (dup_frac <= 0.6)).cast("int")
    agg = docs.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(s1).alias("s1"),
        F.sum(s2).alias("s2"),
        F.sum(s3).alias("s3"),
        F.sum(s4).alias("s4"),
    )
    return agg.selectExpr(
        "stack(5, "
        "'0_total', total, round(total / CAST(total AS DOUBLE), 6), "
        "'1_lang', s1, round(s1 / CAST(total AS DOUBLE), 6), "
        "'2_length', s2, round(s2 / CAST(total AS DOUBLE), 6), "
        "'3_quality', s3, round(s3 / CAST(total AS DOUBLE), 6), "
        "'4_dedup', s4, round(s4 / CAST(total AS DOUBLE), 6)"
        ") AS (stage, n_docs, retained)"
    )


# DuckDB spelling of operators/dedup.simhash_sigs over the md5 base hash:
# vote_i = Σ ±1 by bit i, simhash = Σ (vote_i > 0) · 2^i
_SH_DUCK_VOTES = [
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{i}"
    for i in range(32)
]
_SH_COMBINE = "CAST({} AS BIGINT)".format(
    " + ".join(f"(CASE WHEN v_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32))
)


@query(
    "q_simhash_portable",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents),
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h FROM tok),
    votes AS (
      SELECT doc_id, {", ".join(_SH_DUCK_VOTES)} FROM hashed GROUP BY doc_id)
    SELECT doc_id, {_SH_COMBINE} AS simhash FROM votes
    """,
    description="portable SimHash (32-bit, md5-derived token hashes) — the "
    "oracle-checked twin of production SimHash: the same vote core "
    "(operators.dedup.simhash_sigs) with only the base hash swapped for "
    "murmur3, every signature reproduced bit-for-bit by the DuckDB oracle. One "
    "grouped aggregate with 32 map-side-combinable ±1 vote sums, then a "
    "map-only bit recombination — shuffle carries 32 longs per doc, no pairs",
    tags=("dedup", "pipeline"),
)
def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _portable_simhash(spark, sf_dir).withColumnRenamed("id", "doc_id")


def _portable_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, simhash) over distinct unigram tokens with the md5 base hash —
    operators/dedup.simhash with md5_u32 in place of murmur3_u32."""
    toks = shingles(load_table(spark, sf_dir, "documents"), "doc_id", "text", 1)
    return D.simhash_sigs(toks.select("id", md5_u32("sh").alias("h")))


@query(
    "q_knn_blocked",
    oracle="""
    WITH scored AS (
      SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings q JOIN embeddings e
        ON q.label = e.label AND q.vec_id <> e.vec_id)
    SELECT q_id, n_id, score FROM (
      SELECT q_id, n_id, score,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rk
      FROM scored) t
    WHERE rk <= 3
    """,
    description="blocked kNN join: top-3 nearest neighbors per vector WITHIN its "
    "label block (the semantic-dedup / hard-negative-mining shape) — equi-join on "
    "the block key makes it a shuffle join, O(block²) not O(n²); rank via "
    "per-query-vector window. Sequential-double dot scoring "
    "(list_dot_product-parity, see q_similarity_topk). At 100 TB the block key is "
    "an IVF/cluster assignment (q_ann_ivf_portable probes one) and block sizes are "
    "capped — same plan, bounded blocks",
    tags=("vector", "pipeline"),
)
def q_knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        "label",
    )
    e = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        "label",
    )
    scored = (
        q.join(e, "label")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.round(V.dot_seq(F.col("q_emb"), F.col("n_emb")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), "n_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("q_id", "n_id", "score")
    )


@query(
    "q_join_salted",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    description="skew-mitigated salted join (operators.skew.salted_join): the fact "
    "side's hot keys spread over 8 shuffle buckets, the dim side exploded into 8 "
    "salted copies, equi-join on (key, salt) — the explicit fallback for skew AQE "
    "cannot split (hot key on both sides / non-SMJ plans). Salt is deterministic "
    "per row (hash of monotonic id, no rand()) so retried tasks salt identically. "
    "Result is provably salt-invariant: the oracle is the UNSALTED join",
    tags=("join", "pipeline"),
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join
    from ._util import dsum

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, o, on=["l_orderkey"], buckets=8)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_quantity").alias("sum_qty"))
    )


# DuckDB spelling of operators/dedup.minhash_bands at 4 bands × 4 rows: the
# comma-joined slice values are equal exactly when the slices are
_BAND_UNION = "\n      UNION ALL ".join(
    f"SELECT doc_id, {b} AS b, concat_ws(',', "
    + ", ".join(f"sig_{4 * b + j}" for j in range(4))
    + ") AS bkey FROM sigs"
    for b in range(4)
)
_MATCH_DUCK = " + ".join(
    f"(CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END)" for i in range(16)
)


def _mh_pairs_oracle(oph: bool = False) -> str:
    """Oracle of operators/dedup.minhash_pairs at 4 × 4 over the k-wise
    (q_minhash_portable) or the one-permutation (q_minhash_oph_portable)
    signature CTE."""
    from .dedup_queries import _mh_oracle, _oph_oracle

    return f"""
    WITH sigs AS ({_oph_oracle() if oph else _mh_oracle()}),
    bands AS (
      {_BAND_UNION}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bands a JOIN bands b2
        ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id)
    SELECT p.id_a, p.id_b,
           CAST({_MATCH_DUCK} AS BIGINT) AS n_match,
           ({_MATCH_DUCK}) / CAST(16 AS DOUBLE) AS est_jaccard
    FROM pairs p
    JOIN sigs sa ON p.id_a = sa.doc_id
    JOIN sigs sb ON p.id_b = sb.doc_id
    """


@query(
    "q_minhash_pairs_portable",
    oracle=_mh_pairs_oracle(),
    description="the FULL MinHash→LSH candidate pipeline, oracle-checked end to end: "
    "portable md5-derived signatures (q_minhash_portable) → 4 bands × 4 rows, band "
    "key = the signature slice → equi-self-join per band bucket → distinct candidate "
    "pairs → Jaccard estimate = matching-signature fraction. It runs production "
    "MinHash's own signature, band-key and pair code (operators.dedup) with only "
    "the base hash swapped for murmur3 — every stage (signature, banding, candidate "
    "join, estimate) hash-matches DuckDB. Scale shape: candidates come from "
    "band-bucket equi-joins (never all-pairs); est_jaccard = n_match/16 is exact "
    "dyadic arithmetic",
    tags=("dedup", "pipeline", "bench"),
)
def q_minhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup_queries import portable_sigs

    return D.minhash_pairs(portable_sigs(spark, sf_dir), 4, 4)


_TRUTH_SQL = f"""sh AS ({_SHINGLE_DUCK}),
    sizes AS (SELECT doc_id AS id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    truth AS MATERIALIZED (
      SELECT id_a, id_b,
             CAST((10 * n_inter) // (sa.n_sh + sb.n_sh - n_inter) AS BIGINT) AS d
      FROM inter JOIN sizes sa ON inter.id_a = sa.id
                 JOIN sizes sb ON inter.id_b = sb.id)"""


def _jaccard_decile_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard ground truth binned into integer deciles —
    the Spark twin of _TRUTH_SQL (inverted-index join, never all-pairs;
    (10*inter) DIV union so the bin key never touches floats). Consumes
    the family-shared persisted shingle explode."""
    sh = corpus_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.select(F.col("doc_id").alias("id_a"), "sh")
        .join(sh.select(F.col("doc_id").alias("id_b"), "sh"), "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.expr("CAST((10 * n_inter) DIV (na + nb - n_inter) AS BIGINT)").alias("d"),
        )
    )


def _lsh_eval_oracle() -> str:
    from .dedup_queries import _mh_oracle

    return f"""
    WITH {_TRUTH_SQL},
    sigs AS ({_mh_oracle()}),
    bands AS (
      {_BAND_UNION}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bands a JOIN bands b2
        ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id),
    joined AS (
      SELECT COALESCE(t.d, 0) AS j_decile,
             CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_truth,
             CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
      FROM truth t FULL OUTER JOIN cand c
        ON t.id_a = c.id_a AND t.id_b = c.id_b)
    SELECT j_decile,
           CAST(SUM(is_truth) AS BIGINT) AS n_pairs,
           CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
           CAST(SUM(is_truth * is_cand) AS BIGINT) AS n_detected,
           CASE WHEN SUM(is_truth) > 0
                THEN CAST(SUM(is_truth * is_cand) AS DOUBLE)
                     / CAST(SUM(is_truth) AS BIGINT)
           END AS recall
    FROM joined GROUP BY j_decile
    """


@query(
    "q_lsh_eval",
    # The LSH quality harness: does the banded MinHash candidate set
    # actually trace the S-curve theory promises (detection prob
    # 1-(1-s^r)^b for r=4, b=4)? Ground truth = EXACT word-3-gram Jaccard
    # over every pair sharing >= 1 shingle (an inverted-index join — a pair
    # with J > 0 necessarily shares a shingle, so this misses nothing and
    # is never all-pairs). Truth pairs are banded into Jaccard DECILES by
    # pure integer arithmetic — (10*n_inter) DIV (union) — so the grouping
    # key never touches floats and both engines bin identically. A full
    # outer join against the LSH candidate set then yields per-decile
    # n_pairs / n_candidates / n_detected / recall: high deciles should
    # approach recall 1.0, low deciles ~0 (precision filtering), which is
    # exactly what a pipeline owner tunes bands/rows against. recall is the
    # single BIGINT/BIGINT double divide of the house style. Scale shape:
    # the exact-truth join is the EVAL cost, run on a sample/SF slice to
    # validate parameters before the LSH-only production pass; the
    # candidate side is the same never-all-pairs band-bucket join as
    # q_minhash_pairs_portable.
    oracle=_lsh_eval_oracle(),
    description="MinHash-LSH recall harness, hash-checked: exact trigram-Jaccard "
    "ground truth (inverted-index join, integer-decile banding via (10*inter) DIV "
    "union) full-outer-joined with the 4x4 banded candidate set; per-decile "
    "n_pairs/n_candidates/n_detected/recall traces the empirical S-curve a "
    "pipeline owner tunes bands and rows against before the production pass",
    tags=("dedup", "pipeline"),
)
def q_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = _jaccard_decile_truth(spark, sf_dir).withColumn("tr", F.lit(1))
    cand = (
        q_minhash_pairs_portable(spark, sf_dir)
        .select("id_a", "id_b")
        .withColumn("ca", F.lit(1))
    )
    both = truth.join(cand, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("d", F.lit(0)).alias("j_decile"),
        F.coalesce("tr", F.lit(0)).alias("is_truth"),
        F.coalesce("ca", F.lit(0)).alias("is_cand"),
    )
    return (
        both.groupBy("j_decile")
        .agg(
            F.sum("is_truth").cast("bigint").alias("n_pairs"),
            F.sum("is_cand").cast("bigint").alias("n_candidates"),
            F.sum(F.col("is_truth") * F.col("is_cand")).cast("bigint").alias("n_detected"),
        )
        .withColumn(
            "recall",
            F.when(
                F.col("n_pairs") > 0,
                F.col("n_detected").cast("double") / F.col("n_pairs"),
            ),
        )
    )


_SWEEP_LAYOUTS = [(2, 8), (4, 4), (8, 2)]  # (bands, rows) over the 16 sigs


def _band_union_sql(b: int, r: int) -> str:
    return "\n      UNION ALL ".join(
        f"SELECT doc_id, {k} AS bd, concat_ws(',', "
        + ", ".join(f"sig_{k * r + j}" for j in range(r))
        + ") AS bkey FROM sigs"
        for k in range(b)
    )


def _lsh_band_sweep_oracle() -> str:
    from .dedup_queries import _mh_oracle

    cands = []
    for b, r in _SWEEP_LAYOUTS:
        cands.append(f"""
    bands_{b} AS (
      {_band_union_sql(b, r)}),
    cand_{b} AS (
      SELECT DISTINCT 'b{b}r{r}' AS layout, a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bands_{b} a JOIN bands_{b} b2
        ON a.bd = b2.bd AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id)""")
    unions = "\n      UNION ALL ".join(
        f"SELECT * FROM cand_{b}" for b, _ in _SWEEP_LAYOUTS
    )
    layouts = ", ".join(f"('b{b}r{r}')" for b, r in _SWEEP_LAYOUTS)
    return f"""
    WITH {_TRUTH_SQL},
    sigs AS MATERIALIZED ({_mh_oracle()}),{",".join(cands)},
    cands AS (
      {unions}),
    truthx AS (
      SELECT l.layout, t.id_a, t.id_b, t.d
      FROM truth t CROSS JOIN (VALUES {layouts}) l(layout)),
    joined AS (
      SELECT COALESCE(t.layout, c.layout) AS layout,
             COALESCE(t.d, 0) AS j_decile,
             CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_truth,
             CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
      FROM truthx t FULL OUTER JOIN cands c
        ON t.layout = c.layout AND t.id_a = c.id_a AND t.id_b = c.id_b)
    SELECT layout, j_decile,
           CAST(SUM(is_truth) AS BIGINT) AS n_pairs,
           CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
           CAST(SUM(is_truth * is_cand) AS BIGINT) AS n_detected,
           CASE WHEN SUM(is_truth) > 0
                THEN CAST(SUM(is_truth * is_cand) AS DOUBLE)
                     / CAST(SUM(is_truth) AS BIGINT)
           END AS recall
    FROM joined GROUP BY layout, j_decile
    """


@query(
    "q_lsh_band_sweep",
    # The LSH tuning TABLE: one signature pass, three band layouts (2x8,
    # 4x4, 8x2 over the same 16 minhashes), per-layout per-decile recall —
    # the artifact an operator actually reads to pick bands/rows (more
    # bands = higher recall and more junk candidates; the sweep shows all
    # three S-curves side by side, sharing both the signatures and the
    # exact ground truth so the comparison is apples-to-apples). Scale
    # shape: signatures and truth are computed ONCE; each layout adds only
    # its band-bucket equi-join (never all-pairs), and the tiny layout
    # dimension rides as a literal column through one shared full-outer
    # join + grouped count.
    oracle=_lsh_band_sweep_oracle(),
    description="LSH band/row tuning sweep, hash-checked: three band layouts "
    "(2x8, 4x4, 8x2) over one shared 16-hash signature pass, each evaluated "
    "against the same exact trigram-Jaccard decile ground truth — per-layout "
    "S-curves (n_pairs/n_candidates/n_detected/recall per decile) for the "
    "bands-vs-precision trade; candidates from band-bucket equi-joins only",
    tags=("dedup", "pipeline"),
)
def q_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup_queries import portable_sigs

    sigs = tracked_persist(portable_sigs(spark, sf_dir))
    cands = None
    for b, r in _SWEEP_LAYOUTS:
        c = D.band_pairs(D.minhash_bands(sigs, b, r)).select(
            F.lit(f"b{b}r{r}").alias("layout"), "id_a", "id_b"
        )
        cands = c if cands is None else cands.unionByName(c)
    cands = cands.withColumn("ca", F.lit(1))
    # each truth pair once per layout, in-row: no join, no driver-built frame
    layouts = F.array(*[F.lit(f"b{b}r{r}") for b, r in _SWEEP_LAYOUTS])
    truth = _jaccard_decile_truth(spark, sf_dir).select(
        F.explode(layouts).alias("layout"), "id_a", "id_b", "d", F.lit(1).alias("tr")
    )
    joined = truth.join(cands, ["layout", "id_a", "id_b"], "full_outer").select(
        "layout",
        F.coalesce("d", F.lit(0)).alias("j_decile"),
        F.coalesce("tr", F.lit(0)).alias("is_truth"),
        F.coalesce("ca", F.lit(0)).alias("is_cand"),
    )
    return (
        joined.groupBy("layout", "j_decile")
        .agg(
            F.sum("is_truth").cast("bigint").alias("n_pairs"),
            F.sum("is_cand").cast("bigint").alias("n_candidates"),
            F.sum(F.col("is_truth") * F.col("is_cand")).cast("bigint").alias("n_detected"),
        )
        .withColumn(
            "recall",
            F.when(
                F.col("n_pairs") > 0,
                F.col("n_detected").cast("double") / F.col("n_pairs"),
            ),
        )
    )


@query(
    "q_winsorize",
    # Discrete type-1 quantile bounds via pure integer rank logic
    # (20·cum ≥ tot ⟺ cum ≥ ⌈tot/20⌉) — NO percentile interpolation, so
    # there is no cross-engine floating-point boundary to disagree on; the
    # clip bounds are actual data values, bit-identical by construction.
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS grp, o_totalprice AS v, COUNT(*) AS cnt
      FROM orders GROUP BY grp, v),
    w AS (
      SELECT grp, v, cnt,
             SUM(cnt) OVER (PARTITION BY grp ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY grp) AS tot
      FROM c),
    w2 AS (
      SELECT grp, v, cnt,
             MIN(CASE WHEN 20 * cum >= tot THEN v END) OVER (PARTITION BY grp) AS lo,
             MIN(CASE WHEN 20 * cum >= 19 * tot THEN v END) OVER (PARTITION BY grp) AS hi
      FROM w)
    SELECT grp AS o_orderpriority, lo, hi,
           CAST(SUM(cnt) AS BIGINT) AS n,
           CAST(SUM(CAST(least(greatest(v, lo), hi) * cnt
                         AS DECIMAL(18,6))) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT)
             AS winsorized_avg,
           CAST(SUM(CASE WHEN v < lo THEN cnt ELSE 0 END) AS BIGINT) AS n_clipped_lo,
           CAST(SUM(CASE WHEN v > hi THEN cnt ELSE 0 END) AS BIGINT) AS n_clipped_hi
    FROM w2
    GROUP BY grp, lo, hi
    """,
    description="group-wise winsorization report (p05/p95 clip per order priority): "
    "the outlier-robust normalization a feature pipeline applies before scaling. "
    "ONE scan: value histogram per (group, value) → per-group cumulative window "
    "over DISTINCT values only (tiny vs the table) → discrete integer-rank bounds "
    "→ clipped weighted aggregate computed from the histogram itself, never a "
    "second pass over rows. Bounds are observed data values (type-1 quantile by "
    "integer rank arithmetic), immune to percentile-interpolation float drift",
    tags=("pipeline",),
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import DEC

    o = load_table(spark, sf_dir, "orders")
    c = (
        o.groupBy(F.col("o_orderpriority").alias("grp"), F.col("o_totalprice").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("grp").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("grp")
    wf = c.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "tot", F.sum("cnt").over(w_tot)
    )
    # bounds as full-partition window mins over the same partitioning — the
    # histogram is never joined back to itself, so orders scans exactly once
    w2 = wf.withColumn(
        "lo", F.min(F.when(20 * F.col("cum") >= F.col("tot"), F.col("v"))).over(w_tot)
    ).withColumn(
        "hi", F.min(F.when(20 * F.col("cum") >= 19 * F.col("tot"), F.col("v"))).over(w_tot)
    )
    clip = F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi"))
    return (
        w2.groupBy(F.col("grp").alias("o_orderpriority"), "lo", "hi")
        .agg(
            F.sum("cnt").alias("n"),
            (F.sum((clip * F.col("cnt")).cast(DEC)).cast("double") / F.sum("cnt")).alias(
                "winsorized_avg"
            ),
            F.sum(F.when(F.col("v") < F.col("lo"), F.col("cnt")).otherwise(0)).alias(
                "n_clipped_lo"
            ),
            F.sum(F.when(F.col("v") > F.col("hi"), F.col("cnt")).otherwise(0)).alias(
                "n_clipped_hi"
            ),
        )
    )


@query(
    "q_anomaly_zscore",
    # mean and std derive from decimal-exact sums (identical doubles on both
    # engines); z is then one identical IEEE expression tree. The |z| >= 3
    # cut compares a data-driven value, not a constructed boundary — a flip
    # would need |z| within ~1e-12 of exactly 3.0 (cf. the q_corpus_mix
    # lesson, where the boundary was an interpolated value *equal by
    # construction* to data points).
    oracle=f"""
    WITH st AS (
      SELECT event_type,
             {sql_davg('value')} AS mu,
             sqrt({sql_dsum('value * value')} / COUNT(value)
                  - pow({sql_davg('value')}, 2)) AS sigma
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           ROUND((e.value - st.mu) / st.sigma, 6) AS z
    FROM events e JOIN st ON e.event_type = st.event_type
    WHERE abs((e.value - st.mu) / st.sigma) >= 3
    """,
    description="z-score anomaly detection per event type (the monitoring pass a "
    "production feed runs continuously): per-type mean/std from ONE grouped "
    "aggregate with decimal-exact sums, broadcast back onto the stream, map-side "
    "z computation, |z| >= 3 flag. Two scans of events (stats + scoring) is the "
    "honest batch cost; the streaming twin keeps running (count, sum, sum-sq) "
    "state per type and scores each batch against it",
    tags=("pipeline", "timeseries"),
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import davg, dsum

    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    mu = davg(v)
    st = ev.groupBy("event_type").agg(
        mu.alias("mu"),
        F.sqrt(dsum(v * v) / F.count(v) - F.pow(mu, F.lit(2))).alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(st), "event_type")
        .filter(F.abs(z) >= 3)
        .select("event_id", "event_type", "value", F.round(z, 6).alias("z"))
    )


@query(
    "q_lm_score",
    # p(w2|w1) = c(w1 w2)/c(w1): integer corpus counts, one double division,
    # one ln — identical expression tree per bigram; the per-doc mean of the
    # logs runs through the decimal-exact davg so partial-aggregation order
    # cannot perturb it.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    occ AS (
      SELECT doc_id,
             unnest(list_transform(
               list_filter(list_zip(t, t[2:]), p -> p[2] IS NOT NULL),
               p -> concat_ws(' ', p[1], p[2]))) AS bigram
      FROM toks),
    uni AS (
      SELECT unnest(t) AS tok FROM toks),
    c1 AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
    c12 AS (SELECT bigram, COUNT(*) AS c FROM occ GROUP BY bigram)
    SELECT o.doc_id,
           {sql_davg('ln(c12.c / CAST(c1.c AS DOUBLE))')} AS lm_score,
           COUNT(*) AS n_bigrams
    FROM occ o
    JOIN c12 ON o.bigram = c12.bigram
    JOIN c1 ON string_split(o.bigram, ' ')[1] = c1.tok
    GROUP BY o.doc_id
    """,
    description="n-gram LM quality score (the KenLM-perplexity filter of pretraining "
    "pipelines, bigram MLE form): per-doc mean log p(w2|w1) with probabilities from "
    "the corpus's own unigram/bigram counts. Two grouped counts + two equi-joins on "
    "token keys + one per-doc aggregate — every stage partial-agg friendly or an "
    "equi-join; hot-token join skew is the max_df stop-shingle situation "
    "(operators/dedup.py) and salts the same way at 100 TB",
    tags=("pipeline", "text"),
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import davg

    docs = load_table(spark, sf_dir, "documents")
    # bind split(text) ONCE in its own projection (Catalyst does not CSE
    # inside lambda bodies — the r07 MinHash lesson): the old form
    # re-split the document TWICE PER BIGRAM inside the transform lambda,
    # O(tokens·doclen) per row; tk rides as a bound array instead. The
    # token frame persists for its two consumers (bigram + unigram
    # explodes), and each bigram carries its first token w1 so the count
    # join needs no per-row re-split — w1 == split(bigram)[0] by
    # construction (tokens cannot contain the separator). fan_out: the
    # explode is per-row heavy and the single-file scan ran it one-task
    # (r16, guide §2.5, §7.2; 5.0 s → measured below).
    toks = tracked_persist(
        fan_out(docs, "doc_id").select(
            "doc_id", F.split("text", " ").alias("tk")
        )
    )
    # size(tk) >= 2 guard (ADVICE r16): for a <2-token doc,
    # sequence(0, size(tk) - 2) = sequence(0, -1) is the DESCENDING [0, -1]
    # and the i = -1 element fabricated a bogus (null-w1) bigram row whose
    # fate depended on which join dropped it — neither matching the
    # oracle's list_zip/IS NOT NULL semantics (zero rows for such docs).
    # when() without otherwise() yields NULL for the degenerate case and
    # explode(NULL) emits no rows — exactly the oracle. No <2-token docs
    # exist in the corpus, so declared values/hashes are unchanged.
    occ = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("tk") >= 2,
                F.expr(
                    "transform(sequence(0, size(tk) - 2), "
                    "i -> struct(concat_ws(' ', tk[i], tk[i+1]) AS bigram, "
                    "tk[i] AS w1))"
                ),
            )
        ).alias("o"),
    ).select("doc_id", "o.bigram", "o.w1")
    uni = toks.select(F.explode("tk").alias("tok"))
    c1 = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    c12 = occ.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    lp = F.log(F.col("c12") / F.col("c1").cast("double"))
    return (
        occ.join(c12, "bigram")
        .join(c1, F.col("w1") == F.col("tok"))
        .groupBy("doc_id")
        .agg(davg(lp).alias("lm_score"), F.count(F.lit(1)).alias("n_bigrams"))
    )


@query(
    "q_token_entropy",
    # H = ln n − (Σ c·ln c)/n: the entropy sum runs through the decimal-exact
    # dsum (order-free), then one identical double expression on both engines.
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    c AS (SELECT doc_id, tok, COUNT(*) AS c FROM occ GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tok,
           ROUND(ln(CAST(SUM(c) AS DOUBLE))
                 - {sql_dsum('c * ln(c)')} / CAST(SUM(c) AS DOUBLE), 6) AS entropy
    FROM c GROUP BY doc_id
    """,
    description="unigram token entropy per document (the vocabulary-diversity "
    "quality signal: boilerplate and keyword-stuffed docs score low, natural text "
    "high): H = ln n − (Σ c·ln c)/n from the per-doc token histogram — explode + "
    "two grouped aggregates, both partial-agg friendly, single scan",
    tags=("pipeline", "text"),
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import dsum

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    c = occ.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return c.groupBy("doc_id").agg(
        n.alias("n_tok"),
        F.round(
            F.log(n.cast("double")) - dsum(F.col("c") * F.log("c")) / n.cast("double"), 6
        ).alias("entropy"),
    )


@query(
    "q_mad_outliers",
    # Both medians are discrete type-1 quantiles by integer rank
    # (2·cum ≥ tot) over value histograms — no interpolation anywhere; the
    # deviation histogram derives from the value histogram (|v−med| merges
    # symmetric values, hence the re-aggregation), so events scans ONCE.
    oracle="""
    WITH c AS (
      SELECT event_type AS grp, value AS v, COUNT(*) AS cnt
      FROM events GROUP BY grp, v),
    w AS (
      SELECT grp, v, cnt,
             SUM(cnt) OVER (PARTITION BY grp ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY grp) AS tot
      FROM c),
    w1 AS (
      SELECT grp, v, cnt,
             MIN(CASE WHEN 2 * cum >= tot THEN v END) OVER (PARTITION BY grp) AS med
      FROM w),
    d AS (
      SELECT grp, med, abs(v - med) AS dv, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM w1 GROUP BY grp, med, dv),
    dw AS (
      SELECT grp, med, dv, cnt,
             SUM(cnt) OVER (PARTITION BY grp ORDER BY dv
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY grp) AS tot
      FROM d),
    dw1 AS (
      SELECT grp, med, dv, cnt,
             MIN(CASE WHEN 2 * cum >= tot THEN dv END) OVER (PARTITION BY grp) AS mad
      FROM dw)
    SELECT grp AS event_type, med, mad,
           CAST(SUM(cnt) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN dv > 3 * mad THEN cnt ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dw1 GROUP BY grp, med, mad
    """,
    description="median-absolute-deviation robust outliers per event type (the "
    "monitoring twin of q_anomaly_zscore that a single huge spike cannot poison, "
    "unlike mean/std): median and MAD as discrete integer-rank medians over the "
    "(group, value) histogram and the derived |v−med| histogram — single scan of "
    "events, two window passes over distinct values. Exact medians buffer a "
    "group's distinct values; at 100 TB swap in approx_percentile exactly as "
    "q_percentile_sketch does for q_percentiles",
    tags=("pipeline", "timeseries"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(F.col("event_type").alias("grp"), F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_cum = (
        Window.partitionBy("grp").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("grp")
    w1 = (
        c.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("tot", F.sum("cnt").over(w_tot))
        .withColumn(
            "med",
            F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("v"))).over(w_tot),
        )
    )
    d = (
        w1.select("grp", "med", F.abs(F.col("v") - F.col("med")).alias("dv"), "cnt")
        .groupBy("grp", "med", "dv")
        .agg(F.sum("cnt").alias("cnt"))
    )
    dw_cum = (
        Window.partitionBy("grp").orderBy("dv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dw1 = (
        d.withColumn("cum", F.sum("cnt").over(dw_cum))
        .withColumn("tot", F.sum("cnt").over(w_tot))
        .withColumn(
            "mad",
            F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("dv"))).over(w_tot),
        )
    )
    return (
        dw1.groupBy(F.col("grp").alias("event_type"), "med", "mad")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum(F.when(F.col("dv") > 3 * F.col("mad"), F.col("cnt")).otherwise(0)).alias(
                "n_outliers"
            ),
        )
    )


@query(
    "q_cdc_latest",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value FROM (
      SELECT user_id, event_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events) t
    WHERE rk = 1
    """,
    description="changelog compaction / CDC latest-per-key: the newest event per "
    "user (deterministic tie-break on event_id) — the read-side MERGE a mutable-"
    "table mirror runs over an append-only log, and the batch twin of the "
    "warehouse upsert. One shuffle on the key, per-partition sort, row_number "
    "prune — at 100 TB this is the compaction pass itself",
    tags=("pipeline", "timeseries"),
)
def q_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


@query(
    "q_star_join",
    oracle=f"""
    SELECT n.n_name, o.o_orderpriority,
           COUNT(*) AS n_items,
           {{sum_qty}} AS sum_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, o.o_orderpriority
    """.format(sum_qty=sql_dsum("l.l_quantity")),
    description="4-table star join (fact ⋈ fact ⋈ dim ⋈ dim): lineitem→orders is the "
    "one unavoidable big-big shuffle; customer and nation broadcast onto it — the "
    "canonical warehouse plan shape. Catalyst orders the joins; the plan test pins "
    "that at least the nation dim broadcasts and nothing nested-loops",
    tags=("join", "pipeline"),
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import dsum

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_quantity").alias("sum_qty"))
    )


@query(
    "q_hash_sample",
    oracle="""
    SELECT doc_id, source, n_chars FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100
    """,
    description="deterministic uniform sample: top-100 by content-hash order — the "
    "reproducible 'random' sample (same rows on every run, engine, partitioning "
    "and cluster size, unlike rand()/TABLESAMPLE). TakeOrderedAndProject: "
    "per-partition top-k then a k-row merge on the driver — no global sort, no "
    "shuffle of the table",
    tags=("pipeline",),
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "source", "n_chars")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(100)
    )


@query(
    "q_source_overlap",
    # composes the oracle-proven LSH pair pipeline: same CTE, then the pair
    # list annotated with each side's source and rolled up to the matrix.
    oracle=f"""
    WITH pr AS ({_mh_pairs_oracle()})
    SELECT da.source AS source_a, db.source AS source_b, COUNT(*) AS n_pairs
    FROM pr
    JOIN documents da ON pr.id_a = da.doc_id
    JOIN documents db ON pr.id_b = db.doc_id
    GROUP BY source_a, source_b
    """,
    description="cross-source near-dup overlap matrix: MinHash-LSH candidate pairs "
    "(the oracle-proven q_minhash_pairs_portable pipeline) annotated with each "
    "side's source and rolled up to (source_a, source_b) counts — the "
    "contamination/provenance report that decides which sources double-count "
    "each other in a training mix. Two broadcast-able dim joins on doc_id over "
    "the candidate pairs (never over the corpus)",
    tags=("dedup", "pipeline"),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = q_minhash_pairs_portable(spark, sf_dir).select("id_a", "id_b")
    da = docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("source_a"))
    db = docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("source_b"))
    return (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "q_class_weights",
    oracle="""
    WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS k FROM c)
    SELECT c.label, CAST(c.n AS BIGINT) AS n,
           ROUND(t.total / (t.k * CAST(c.n AS DOUBLE)), 6) AS weight
    FROM c, t
    """,
    description="inverse-frequency class weights (sklearn's 'balanced' heuristic "
    "w = n_total / (k · n_class)): one grouped count + a 1-row totals aggregate "
    "cross-joined back — the sampling/loss weights a skewed-label corpus needs",
    tags=("pipeline",),
)
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"), F.count(F.lit(1)).alias("k"))
    return c.crossJoin(F.broadcast(t)).select(
        "label",
        "n",
        F.round(F.col("total") / (F.col("k") * F.col("n").cast("double")), 6).alias(
            "weight"
        ),
    )


def _simhash_sql_cte() -> str:
    """The q_simhash_portable oracle as a reusable CTE body."""
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents),
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h FROM tok),
    votes AS (
      SELECT doc_id, {", ".join(_SH_DUCK_VOTES)} FROM hashed GROUP BY doc_id)
    SELECT doc_id, {_SH_COMBINE} AS simhash FROM votes
    """


@query(
    "q_simhash_pairs_portable",
    # pigeonhole banding: Hamming ≤ 3 over 32 bits ⇒ at least one of the 4
    # 8-bit chunks is identical (4 chunks, ≤3 differing bits). Candidates
    # from per-chunk equi-joins, verified with bit_count(xor) — identical
    # integer arithmetic on both engines.
    oracle=f"""
    WITH sigs AS ({{sig_sql}}),
    bands AS (
      SELECT doc_id, b.b AS b, (simhash >> (8 * b.b)) & 255 AS chunk, simhash
      FROM sigs, (VALUES (0), (1), (2), (3)) b(b)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sh_a,
                      c.doc_id AS id_b, c.simhash AS sh_b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.chunk = c.chunk AND a.doc_id < c.doc_id)
    SELECT id_a, id_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM pairs
    WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """.format(sig_sql=_simhash_sql_cte()),
    description="the FULL SimHash near-dup pipeline, oracle-checked end to end: "
    "portable 32-bit signatures (q_simhash_portable) → pigeonhole banding (4 × "
    "8-bit chunks: Hamming ≤ 3 guarantees a shared chunk) → per-chunk equi-join "
    "candidates → exact Hamming verify via bit_count(xor). It runs production "
    "SimHash's own vote and pair code (operators.dedup.simhash_sigs / "
    "simhash_pairs) with only the base hash swapped for murmur3; candidates "
    "only, never all-pairs",
    tags=("dedup", "pipeline"),
)
def q_simhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = D.simhash_pairs(_portable_simhash(spark, sf_dir), max_hamming=3, chunks=4)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long"))


_MAX_DF = 20  # similarity vocabulary cap: tokens in more docs carry ~no
# signal and quadratically inflate the shared-token join (the max_df guard)


@query(
    "q_tfidf_cosine_pairs",
    # every number is either integer (tf, df, N), an identical double tree
    # (w = tf·ln(N/df)), or a DECIMAL(38,18)-exact sum (norms, dots) — the
    # one division and round happen once per pair on identical operands.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(
               CASE WHEN len(t) >= 3 THEN
                 list_transform(
                   list_filter(list_zip(t, t[2:], t[3:]), p -> p[3] IS NOT NULL),
                   p -> concat_ws(' ', p[1], p[2], p[3]))
               ELSE [array_to_string(t, ' ')] END) AS t
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
    tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
    df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
    n AS (SELECT COUNT(*) AS n FROM documents),
    w AS (
      SELECT tf.doc_id, tf.t, tf.tf * ln(n.n / CAST(df.df AS DOUBLE)) AS w
      FROM tf JOIN df ON tf.t = df.t, n
      WHERE df.df <= {_MAX_DF}),
    nrm AS (
      SELECT doc_id, sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE)) AS nrm
      FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,18))) AS DOUBLE) AS dot
      FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b)
    SELECT id_a, id_b, ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cos
    FROM dots d
    JOIN nrm na ON d.id_a = na.doc_id
    JOIN nrm nb ON d.id_b = nb.doc_id
    WHERE d.dot / (na.nrm * nb.nrm) >= 0.3
    """,
    description="sparse TF-IDF cosine similarity join (the lexical complement of the "
    "dense-embedding near-dup family): document pairs scored over SHARED rare "
    f"word-3-gram shingles (df ≤ {_MAX_DF} — the max_df cap that both removes "
    "no-signal boilerplate shingles and bounds the shared-feature join fan-out "
    "to O(df²) per shingle, never all-pairs; shingles, not unigrams, so the "
    "feature space is large enough for rarity to mean something). tf/df/N are "
    "one explode + two grouped counts with N in-plan; weights, norms and pair "
    "dots are decimal-exact",
    tags=("dedup", "text", "pipeline"),
)
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # fan_out: the corpus-wide trigram explode + (doc,t) aggregate is
    # per-row HEAVY (unlike the rejected light shingle families — guide
    # §1.1), and the single-file scan ran it on one task; measured 4.5 s →
    # 1.1 s for the w build alone (metadata-driven no-op at production
    # file counts)
    tok = (
        fan_out(docs, "doc_id")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.explode(ngrams(F.col("toks"), 3)).alias("t"))
    )
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= _MAX_DF)
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    # w feeds THREE consumers (norms + both pair sides) — without the
    # persist the corpus-wide shingle explode + tf/df aggregates + join
    # re-evaluate once per consumer (r16, guide §7.2 duplicated subtrees;
    # measured: 60 Exchange mentions in the unpersisted plan)
    w = tracked_persist(
        tf.join(df, "t")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "t",
            (F.col("tf") * F.log(F.col("n") / F.col("df").cast("double"))).alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast("decimal(38,18)")).cast("double")).alias(
            "nrm"
        )
    )
    a = w.select(F.col("doc_id").alias("id_a"), "t", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), "t", F.col("w").alias("wb"))
    dots = (
        a.join(b, "t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum((F.col("wa") * F.col("wb")).cast("decimal(38,18)")).cast("double").alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .filter(cos >= 0.3)
        .select("id_a", "id_b", F.round(cos, 6).alias("cos"))
    )


@query(
    "q_event_funnel",
    # sequenced-stage semantics: a user converts stage k only with an event
    # of that type STRICTLY AFTER their stage-(k-1) conversion time. Three
    # chained conditional mins over one per-user aggregate row — pure
    # timestamp comparisons, no floats anywhere.
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
      FROM events GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, s1.t1, MIN(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1
                                        THEN e.ts END) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      GROUP BY e.user_id, s1.t1),
    s3 AS (
      SELECT e.user_id, s2.t1, s2.t2,
             MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2 THEN e.ts END) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      GROUP BY e.user_id, s2.t1, s2.t2)
    SELECT '1_view' AS stage, CAST(COUNT(t1) AS BIGINT) AS n_users FROM s3
    UNION ALL SELECT '2_click', CAST(COUNT(t2) AS BIGINT) FROM s3
    UNION ALL SELECT '3_purchase', CAST(COUNT(t3) AS BIGINT) FROM s3
    """,
    description="event conversion funnel (view → click → purchase, strictly "
    "time-ordered per user): stage-k conversion requires an event after the "
    "stage-(k-1) time — the product-analytics sequenced funnel, not a bag-of-"
    "events filter. Per-user stage times via chained conditional MIN aggregates "
    "(each a partial-agg-friendly groupBy on the same key, so AQE reuses the "
    "user_id exchange); the events join is on the key only, never a theta join",
    tags=("pipeline", "timeseries"),
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1")
    )
    s2 = (
        ev.join(s1, "user_id")
        .groupBy("user_id", "t1")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).alias("t2")
        )
    )
    s3 = (
        ev.join(s2, "user_id")
        .groupBy("user_id", "t1", "t2")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).alias("t3")
        )
    )
    agg = s3.agg(
        F.count("t1").alias("c1"), F.count("t2").alias("c2"), F.count("t3").alias("c3")
    )
    return agg.selectExpr(
        "stack(3, '1_view', c1, '2_click', c2, '3_purchase', c3) AS (stage, n_users)"
    )


@query(
    "q_retention_cohorts",
    # weeks are ISO-Monday truncations on both engines; cohort and offset
    # are pure integer epoch arithmetic (the q_rolling_range epoch parity),
    # so the matrix is integer-exact end to end.
    oracle="""
    WITH su AS (
      SELECT user_id,
             CAST(floor(epoch(date_trunc('week',
               MIN(CASE WHEN event_type = 'signup' THEN ts END)))) AS BIGINT) AS cw
      FROM events GROUP BY user_id),
    act AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(date_trunc('week', ts))) AS BIGINT) AS aw
      FROM events)
    SELECT su.cw AS cohort_week,
           (act.aw - su.cw) // 604800 AS weeks_since,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM su JOIN act ON su.user_id = act.user_id
    WHERE su.cw IS NOT NULL AND act.aw >= su.cw
    GROUP BY cohort_week, weeks_since
    """,
    description="weekly cohort retention matrix (signup week × weeks-since → active "
    "users): per-user cohort from one conditional MIN, distinct activity weeks, "
    "key-only join, integer epoch-week offsets. The engagement report every "
    "product warehouse runs; two partial-agg-friendly aggregates + one equi-join "
    "on user_id (AQE reuses the exchange), matrix size is (cohorts × horizon) — "
    "tiny regardless of event volume",
    tags=("pipeline", "timeseries"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    week_ep = lambda c: F.expr(f"unix_seconds(cast(date_trunc('week', {c}) as timestamp))")  # noqa: E731
    su = ev.groupBy("user_id").agg(
        F.expr(
            "unix_seconds(cast(date_trunc('week', "
            "min(CASE WHEN event_type = 'signup' THEN ts END)) as timestamp))"
        ).alias("cw")
    )
    act = ev.select("user_id", week_ep("ts").alias("aw")).distinct()
    return (
        su.join(act, "user_id")
        .filter(F.col("cw").isNotNull() & (F.col("aw") >= F.col("cw")))
        .groupBy(
            F.col("cw").alias("cohort_week"),
            F.expr("(aw - cw) div 604800").alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "q_promo_share",
    # TPC-H Q14 shape. Both the conditional and total revenue accumulate in
    # DECIMAL(18,6) (revenue = price·(1−disc) is one double multiply on
    # identical operands); the percentage is a single division + round.
    oracle="""
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN
                        CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_pct,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-03-01'
    """,
    description="promotion revenue share (TPC-H Q14): percentage of revenue from "
    "PROMO parts in a ship-date window — date-filtered fact scan (predicate "
    "pushed to parquet), broadcast dim join on partkey, one conditional + one "
    "total decimal-exact revenue sum in a single aggregate",
    tags=("join", "pipeline", "bench_extra"),
)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-03-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 6
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_supplier_rank",
    # TPC-H Q15 shape: revenue per supplier in a window, top suppliers with
    # a rank that is deterministic under ties (revenue is decimal-exact, the
    # tie-break is the key).
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                  AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.revenue,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT l_suppkey, revenue,
                 ROW_NUMBER() OVER (ORDER BY revenue DESC, l_suppkey) AS rk
          FROM rev) r
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE rk <= 10
    """,
    description="top revenue suppliers (TPC-H Q15): date-windowed fact aggregate "
    "per supplier (decimal-exact), global top-10 by rank over the per-supplier "
    "totals (a tiny frame — the single-partition window covers |suppliers| "
    "rows, not the fact table), broadcast dim join for names",
    tags=("join", "pipeline", "bench_extra"),
)
def q_supplier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import dsum

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    w = Window.orderBy(F.desc("revenue"), "l_suppkey")
    top = (
        rev.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
    )
    return top.join(F.broadcast(s), top.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", "revenue", "rk"
    )


@query(
    "q_skew_diagnose",
    # pure integer counts and one rounded double share — the report a data
    # engineer reads BEFORE reaching for operators.skew.salted_join.
    oracle="""
    WITH c AS (SELECT o_custkey AS key, COUNT(*) AS cnt FROM orders GROUP BY key),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                 CAST(MAX(cnt) AS BIGINT) AS mx FROM c)
    SELECT c.key, CAST(c.cnt AS BIGINT) AS cnt,
           ROUND(c.cnt / CAST(t.total AS DOUBLE), 6) AS share,
           ROUND(c.cnt / CAST(t.mx AS DOUBLE), 6) AS vs_heaviest
    FROM c, t
    ORDER BY cnt DESC, key LIMIT 10
    """,
    description="join/agg key-skew diagnostic: the 10 heaviest keys with their share "
    "of total rows and ratio to the heaviest — the report that decides whether a "
    "key needs salting (operators/skew.py) or AQE skew-split suffices. One grouped "
    "count + a 1-row totals aggregate + top-k (TakeOrderedAndProject, no global "
    "sort); at 100 TB this is the cheapest possible skew probe",
    tags=("pipeline",),
)
def q_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(F.col("o_custkey").alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
    t = c.agg(F.sum("cnt").alias("total"), F.max("cnt").alias("mx"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("total").cast("double"), 6).alias("share"),
            F.round(F.col("cnt") / F.col("mx").cast("double"), 6).alias("vs_heaviest"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(10)
    )


@query(
    "q_time_weighted_avg",
    # dt comes from integer epoch seconds (lead − current); each v·dt is one
    # double product on identical operands; the per-user sums are
    # decimal-exact; the final division is once per user.
    oracle="""
    WITH s AS (
      SELECT user_id, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS ep,
             LEAD(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                     event_id) AS ep_next
      FROM events),
    seg AS (
      SELECT user_id, value, (ep_next - ep) AS dt FROM s WHERE ep_next IS NOT NULL),
    agg AS (
      SELECT user_id,
             CAST(SUM(CAST(value * dt AS DECIMAL(18,6))) AS DOUBLE) AS area,
             CAST(SUM(dt) AS BIGINT) AS span
      FROM seg GROUP BY user_id)
    SELECT user_id, ROUND(area / CAST(span AS DOUBLE), 6) AS twa, span
    FROM agg WHERE span > 0
    """,
    description="time-weighted average value per user (sample-and-hold integration: "
    "each reading holds until the next one): lead() over the per-user timeline "
    "gives segment durations, Σ v·dt / Σ dt with decimal-exact sums — the metric "
    "that is CORRECT for irregularly-sampled gauges where a plain AVG over-weights "
    "bursts. One shuffle on the entity key, one window, one aggregate",
    tags=("pipeline", "timeseries"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ep = F.expr("unix_seconds(cast(ts as timestamp))")
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    s = ev.select("user_id", "event_id", "value", ep.alias("ep")).withColumn(
        "ep_next", F.lead("ep").over(w)
    )
    seg = s.filter(F.col("ep_next").isNotNull()).select(
        "user_id", "value", (F.col("ep_next") - F.col("ep")).alias("dt")
    )
    agg = seg.groupBy("user_id").agg(
        F.sum((F.col("value") * F.col("dt")).cast("decimal(18,6)"))
        .cast("double")
        .alias("area"),
        F.sum("dt").alias("span"),
    )
    return agg.filter(F.col("span") > 0).select(
        "user_id", F.round(F.col("area") / F.col("span").cast("double"), 6).alias("twa"), "span"
    )


@query(
    "q_null_profile",
    oracle="""
    WITH f AS (
      SELECT COUNT(*) AS total,
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n_custkey,
             SUM(CASE WHEN o_orderstatus IS NULL OR o_orderstatus = '' THEN 1 ELSE 0 END) AS n_status,
             SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0 THEN 1 ELSE 0 END) AS n_price,
             SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS n_date
      FROM orders)
    SELECT 'o_custkey' AS col, CAST(n_custkey AS BIGINT) AS n_bad,
           ROUND(n_custkey / CAST(total AS DOUBLE), 6) AS bad_rate FROM f
    UNION ALL SELECT 'o_orderstatus', CAST(n_status AS BIGINT),
           ROUND(n_status / CAST(total AS DOUBLE), 6) FROM f
    UNION ALL SELECT 'o_totalprice', CAST(n_price AS BIGINT),
           ROUND(n_price / CAST(total AS DOUBLE), 6) FROM f
    UNION ALL SELECT 'o_orderdate', CAST(n_date AS BIGINT),
           ROUND(n_date / CAST(total AS DOUBLE), 6) FROM f
    """,
    description="data-quality null/validity profile: per-column bad-value counts "
    "(null, blank string, non-positive measure) and rates in ONE scan — "
    "conditional sums folded into a single aggregate, unpivoted with stack(); "
    "the profiling pass operators/expect.py contracts run before accepting a "
    "batch, and the reference's manual df.isnull() audits done engine-side",
    tags=("pipeline",),
)
def q_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("o_custkey").isNull().cast("int")).alias("n_custkey"),
        F.sum(
            (F.col("o_orderstatus").isNull() | (F.col("o_orderstatus") == "")).cast("int")
        ).alias("n_status"),
        F.sum(
            (F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)).cast("int")
        ).alias("n_price"),
        F.sum(F.col("o_orderdate").isNull().cast("int")).alias("n_date"),
    )
    return agg.selectExpr(
        "stack(4, "
        "'o_custkey', CAST(n_custkey AS BIGINT), round(n_custkey / CAST(total AS DOUBLE), 6), "
        "'o_orderstatus', CAST(n_status AS BIGINT), round(n_status / CAST(total AS DOUBLE), 6), "
        "'o_totalprice', CAST(n_price AS BIGINT), round(n_price / CAST(total AS DOUBLE), 6), "
        "'o_orderdate', CAST(n_date AS BIGINT), round(n_date / CAST(total AS DOUBLE), 6)"
        ") AS (col, n_bad, bad_rate)"
    )


@query(
    "q_percent_rank",
    # percent_rank/cume_dist depend only on the rank of the sort key —
    # ties collapse to the same value on both engines, and the key is
    # unique-ified by the orderkey tie-break anyway; one rounded double.
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           ROUND(pr, 6) AS pct_rank, ROUND(cd, 6) AS cume
    FROM (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             PERCENT_RANK() OVER w AS pr,
             CUME_DIST() OVER w AS cd
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)) t
    WHERE pr >= 0.99
    """,
    description="relative-rank windows (percent_rank + cume_dist) per order "
    "priority: the top-1% spend detector — the distribution-position functions "
    "the window family was missing. One shuffle on the partition key, one sort, "
    "single WindowExec computing both functions",
    tags=("window", "pipeline"),
)
def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        .filter(F.col("pr") >= 0.99)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.round("pr", 6).alias("pct_rank"),
            F.round("cd", 6).alias("cume"),
        )
    )


@query(
    "q_zorder_stats",
    oracle=f"""
    WITH z AS (
      SELECT ({sql_zorder_key('(l_partkey % 1024)', '(l_orderkey % 1024)')}) AS zval,
             (l_partkey % 1024) AS x, (l_orderkey % 1024) AS y
      FROM lineitem)
    SELECT zval >> 14 AS z_bucket, COUNT(*) AS n,
           MIN(x) AS x_lo, MAX(x) AS x_hi, MIN(y) AS y_lo, MAX(y) AS y_hi
    FROM z GROUP BY z_bucket
    """,
    description="Z-order (Morton) clustering statistics: interleaved-bit key over "
    "(partkey, orderkey) — pure shift/mask codegen, no UDF — bucketed to the "
    "64 leading z-ranges with per-bucket min/max of BOTH dimensions. Each "
    "bucket covers a compact rectangle (~1/8 of each dim at 64 buckets), the "
    "property that makes parquet footer min/max prune files for predicates on "
    "EITHER column after a write_zordered rewrite; a linear sort narrows only "
    "its leading column. Map + one partial+final aggregate",
    tags=("pipeline",),
)
def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.warehouse import zorder_key

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 1024).alias("x"), (F.col("l_orderkey") % 1024).alias("y")
    )
    z = li.withColumn("zval", zorder_key("x", "y"))
    return (
        z.groupBy(F.shiftright("zval", 14).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("x_lo"),
            F.max("x").alias("x_hi"),
            F.min("y").alias("y_lo"),
            F.max("y").alias("y_hi"),
        )
    )


_DEDUP_CC_ROUND = """
    dl{i} AS (
      SELECT dl{p}.node,
             LEAST(dl{p}.lab, COALESCE(dm{i}.nm, dl{p}.lab)) AS lab
      FROM dl{p} LEFT JOIN (
        SELECT du.dst AS node, MIN(dl{p}.lab) AS nm
        FROM du JOIN dl{p} ON du.src = dl{p}.node
        GROUP BY du.dst) dm{i}
      ON dl{p}.node = dm{i}.node)
"""

# est_jaccard >= 0.75 ⟺ n_match >= 12 of 16 — integer threshold, no float
_DEDUP_MIN_MATCH = 12


def _dedup_pipeline_oracle() -> str:
    rounds = ",".join(_DEDUP_CC_ROUND.format(i=i, p=i - 1) for i in range(1, 4))
    return f"""
    WITH mp AS ({_mh_pairs_oracle()}),
    du AS (
      SELECT id_a AS src, id_b AS dst FROM mp WHERE n_match >= {_DEDUP_MIN_MATCH}
      UNION
      SELECT id_b AS src, id_a AS dst FROM mp WHERE n_match >= {_DEDUP_MIN_MATCH}),
    dl0 AS (SELECT doc_id AS node, doc_id AS lab FROM documents),
    {rounds}
    SELECT node AS doc_id, lab AS cluster_id, node = lab AS keep
    FROM dl3
    """


@query(
    "q_dedup_pipeline_portable",
    # The END-TO-END dedup decision, hash-checked: portable MinHash
    # signatures → LSH band candidates → signature-agreement threshold
    # (n_match >= 12 of 16 ⟺ estimated Jaccard >= 0.75, pure integer) →
    # connected components via 3 unrolled min-label rounds → keep-first
    # survivor (a doc survives iff it is its cluster's minimum id). Every
    # stage is integer/string arithmetic, so the final keep/drop verdict a
    # corpus pipeline acts on — not just the candidate pairs — hash-matches
    # DuckDB. Production twin: operators.dedup.minhash_near_dups +
    # connected_components (seeded murmur3, loop-until-converged).
    oracle=_dedup_pipeline_oracle(),
    description="end-to-end near-dup dedup verdict, oracle-checked: portable "
    "MinHash -> LSH banding -> integer agreement threshold (12/16 ~ Jaccard "
    "0.75) -> 3-round min-label components -> keep-first survivor flag per "
    "document — the keep/drop decision itself hash-matches, closing the loop "
    "the pair-level portable twins left open; one banding self-join + three "
    "bounded label joins, never all-pairs",
    tags=("dedup", "pipeline", "bench"),
)
def q_dedup_pipeline_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mp = q_minhash_pairs_portable(spark, sf_dir).filter(
        F.col("n_match") >= _DEDUP_MIN_MATCH
    )
    # LAZY persist(), not eager localCheckpoint: the rounds are bounded (3,
    # unrolled like the oracle's CTEs) so lineage truncation isn't needed,
    # and persist's CacheManager dedupes by analyzed plan — re-invoking this
    # query re-uses the SAME cache entries instead of stacking a fresh set
    # of checkpoint RDDs per call (the unbounded executor-storage leak
    # VERDICT r05/r06 flagged: warm 6.57 s vs cold 0.29 s).  Storage is now
    # bounded at one copy of (edges + 3 label rounds) per input dir, all the
    # work happens inside the caller's action (honest cold timing), and a
    # warm re-run is a legitimate cache hit.
    # Both edge orientations from ONE evaluation of mp (r16, guide §7.2
    # duplicated subtrees): the previous union-of-two-selects form evaluated
    # the LSH banding self-join + agreement aggregate once per union branch
    # (the signature persist below it was shared, the join was not) and
    # doubled the analyzed plan, measured as ~1.2 s of the 3.8 s isolated
    # cold wall. An in-row explode of the two (src, dst) structs yields the
    # identical row multiset into the same distinct().
    edges = tracked_persist(
        mp.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    lab = docs.select(F.col("doc_id").alias("node"), F.col("doc_id").alias("lab"))
    for _ in range(3):
        lab = tracked_persist(lab)
        nm = (
            edges.join(lab.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lab").alias("nm"))
        )
        lab = lab.join(nm, "node", "left").select(
            "node",
            F.least(F.col("lab"), F.coalesce(F.col("nm"), F.col("lab"))).alias("lab"),
        )
    return lab.select(
        F.col("node").alias("doc_id"),
        F.col("lab").alias("cluster_id"),
        (F.col("node") == F.col("lab")).alias("keep"),
    )


@query(
    "q_dup_rate_by_source",
    # The corpus-ops dedup dashboard: per source, document count, distinct
    # normalized fingerprints, duplicate count and rate — the number a
    # crawl operator watches to decide which feeds are echoing content.
    # Fingerprints are the q_doc_fingerprint md5 normalization; one grouped
    # pass with a distinct-count (exact here; swap approx_count_distinct at
    # 100 TB — the q_approx_distinct scale path).
    oracle="""
    WITH f AS (
      SELECT source,
             md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
      FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT fp) AS n_distinct,
           COUNT(*) - COUNT(DISTINCT fp) AS n_dups,
           ROUND((COUNT(*) - COUNT(DISTINCT fp)) / CAST(COUNT(*) AS DOUBLE), 6)
             AS dup_rate
    FROM f GROUP BY source
    """,
    description="per-source duplicate-rate dashboard: md5-normalized document "
    "fingerprints, per-source doc count vs distinct fingerprints, duplicate "
    "count and rate — the feed-health metric a crawl operator watches; one "
    "grouped pass, exact distinct here with approx_count_distinct as the "
    "100 TB swap",
    tags=("dedup", "pipeline"),
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select("source", T.fingerprint("text").alias("fp"))
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_dups"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct("fp"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_rate"),
    )


def _takedown_oracle() -> str:
    return f"""
    WITH lab AS (
      SELECT doc_id, cluster_id FROM ({_dedup_pipeline_oracle()})),
    rep AS (SELECT DISTINCT cluster_id FROM lab WHERE doc_id % 7 = 0),
    rem AS (
      SELECT l.doc_id,
             CASE WHEN r.cluster_id IS NOT NULL THEN 1 ELSE 0 END AS removed
      FROM lab l LEFT JOIN rep r ON l.cluster_id = r.cluster_id)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN d.doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reported,
           CAST(SUM(rem.removed) AS BIGINT) AS n_removed,
           CAST(SUM(rem.removed)
                - SUM(CASE WHEN d.doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cascade,
           ROUND(CAST(SUM(rem.removed) AS DOUBLE) / COUNT(*), 6) AS removal_rate
    FROM documents d JOIN rem ON d.doc_id = rem.doc_id
    GROUP BY d.source
    """


@query(
    "q_takedown_cascade",
    # Deletion-request propagation (DMCA takedown / GDPR erasure): removing
    # only the reported copy of a document leaves its near-identical twins
    # in the corpus, so a compliant pipeline cascades the removal through
    # the near-dup CLUSTER. Reported set = doc_id % 7 = 0 (the
    # deterministic fixture convention standing in for the legal list);
    # cluster labels come from the hash-checked q_dedup_pipeline_portable
    # chain, so the verdicts here inherit its oracle proof. Scale shape:
    # the takedown list and its tainted-cluster set are tiny vs the corpus
    # — the cascade is one broadcastable semi-join on cluster_id, and the
    # report is one grouped pass per source; nothing rescans text.
    oracle=_takedown_oracle(),
    description="takedown/erasure cascade through near-dup clusters, hash-checked: "
    "reported docs (doc_id % 7 = 0) taint their MinHash-LSH cluster; per source "
    "report n_docs, directly-reported, total removed, cascade extras (twins "
    "caught only via the cluster) and removal rate — deletion compliance that "
    "actually removes the copies, one broadcast semi-join + one grouped pass",
    tags=("dedup", "pipeline"),
)
def q_takedown_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = q_dedup_pipeline_portable(spark, sf_dir).select("doc_id", "cluster_id")
    rep = (
        labels.filter(F.col("doc_id") % 7 == 0)
        .select("cluster_id")
        .distinct()
        .withColumn("m", F.lit(1))
    )
    rem = labels.join(F.broadcast(rep), "cluster_id", "left").select(
        "doc_id", F.when(F.col("m").isNotNull(), 1).otherwise(0).alias("removed")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    reported = F.when(F.col("doc_id") % 7 == 0, 1).otherwise(0)
    return (
        docs.join(rem, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(reported).cast("bigint").alias("n_reported"),
            F.sum("removed").cast("bigint").alias("n_removed"),
            (F.sum("removed") - F.sum(reported)).cast("bigint").alias("n_cascade"),
            F.round(
                F.sum("removed").cast("double") / F.count(F.lit(1)), 6
            ).alias("removal_rate"),
        )
    )


# --------------------------------------------------------------------------
# Exact-substring deduplication with document reassembly (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better") at chunk
# granularity: unlike q_corpus_pipeline (which returns surviving chunk
# fingerprints), this DELETES every non-first duplicate chunk and rebuilds
# the cleaned document text — the deletion semantics the paper's ExactSubstr
# tool applies before tokenization.
# --------------------------------------------------------------------------

_ESD_W = 8  # chunk width (words), non-overlapping


@query(
    "q_exact_substr_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks), 1) + 1, {_ESD_W})) AS start
      FROM t),
    chunks AS (
      SELECT doc_id,
             CAST((start - 1) / {_ESD_W} AS BIGINT) AS chunk_idx,
             array_to_string(list_slice(toks, start, least(start + {_ESD_W} - 1, len(toks))), ' ')
               AS chunk_text
      FROM s),
    r AS (
      SELECT doc_id, chunk_idx, chunk_text,
             row_number() OVER (PARTITION BY chunk_text
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM chunks)
    SELECT doc_id,
           string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' ' ORDER BY chunk_idx)
             AS clean_text,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM r GROUP BY doc_id
    """,
    description=f"exact-substring dedup with deletion semantics (Lee et al. 2022 "
    f"ExactSubstr at {_ESD_W}-word chunk granularity): every non-first duplicate "
    "chunk (global keep-first by (doc_id, chunk_idx)) is deleted and the cleaned "
    "document text is reassembled in chunk order. Two exchanges total — the "
    "keep-first window partitions on the chunk text (the same key a suffix-array "
    "shard would use) and the rebuild groups by doc_id; chunking is map-side and "
    "the collect_list rebuild is bounded by document length, so the plan is the "
    "same at 100 TB with the chunk key salted only if one chunk dominates",
    tags=("pipeline", "dedup", "text"),
)
def q_exact_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("toks")), F.lit(1)), F.lit(_ESD_W)
    )
    chunks = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            ((F.col("start") - 1) / _ESD_W).cast("long").alias("chunk_idx"),
            F.array_join(F.slice(F.col("toks"), F.col("start"), _ESD_W), " ").alias(
                "chunk_text"
            ),
        )
    )
    w = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_idx")
    r = chunks.withColumn("rn", F.row_number().over(w))
    # collect_list skips the NULLs the when() emits for dropped chunks, so one
    # grouped pass yields survivors (in chunk order after array_sort — struct
    # comparison never reaches chunk_text: chunk_idx is unique per doc) and
    # both counters; string_agg-over-NULLs parity: empty docs -> NULL text.
    kept = F.when(F.col("rn") == 1, F.struct("chunk_idx", "chunk_text"))
    return (
        r.groupBy("doc_id")
        .agg(
            F.collect_list(kept).alias("lst"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        )
        .select(
            "doc_id",
            F.nullif(
                F.array_join(
                    F.transform(F.array_sort("lst"), lambda s: s["chunk_text"]), " "
                ),
                F.lit(""),
            ).alias("clean_text"),
            "n_kept",
            "n_dropped",
        )
    )


# --------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): hashed-bigram bag models for a target
# domain vs the raw corpus; each raw document scores
# log w(d) = sum_b n_d(b) * ln(p_target(b) / p_raw(b)) with add-1 smoothing.
# Docs are then resampled proportional to exp(logw) — the selection step the
# paper uses to pick pretraining data that matches a high-quality target.
# --------------------------------------------------------------------------

_DSIR_B = 512  # hashed feature buckets


@query(
    "q_dsir_weight",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source = 'src1' AS is_tgt, string_split(text, ' ') AS tk
      FROM documents),
    bg AS (
      SELECT doc_id, is_tgt,
             CAST('0x' || substr(md5(b), 1, 8) AS BIGINT) % {_DSIR_B} AS bucket
      FROM (SELECT doc_id, is_tgt,
              unnest(CASE WHEN len(tk) >= 2 THEN
                 list_transform(
                   list_filter(list_zip(tk, tk[2:]), p -> p[2] IS NOT NULL),
                   p -> concat_ws(' ', p[1], p[2]))
               ELSE [array_to_string(tk, ' ')] END) AS b
            FROM t)),
    stats AS (
      SELECT bucket,
             SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS cr
      FROM bg GROUP BY bucket),
    tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM stats),
    sc AS (
      SELECT bucket,
             ln(CAST((ct + 1) * (nr + {_DSIR_B}) AS DOUBLE)
                / CAST((cr + 1) * (nt + {_DSIR_B}) AS DOUBLE)) AS s
      FROM stats, tot),
    db AS (
      SELECT doc_id, bucket, COUNT(*) AS n
      FROM bg WHERE NOT is_tgt GROUP BY doc_id, bucket)
    SELECT db.doc_id,
           ROUND(CAST(SUM(CAST(db.n * sc.s AS DECIMAL(38,18))) AS DOUBLE), 6)
             AS logw,
           CAST(SUM(db.n) AS BIGINT) AS n_bigrams
    FROM db JOIN sc USING (bucket) GROUP BY db.doc_id
    """,
    description=f"DSIR importance weights (Xie et al. 2023): hashed-bigram "
    f"({_DSIR_B} md5 buckets) bag models of the target domain (source='src1') "
    "vs the raw corpus, add-1 smoothing, per-raw-doc log importance weight "
    "sum_b n_d(b)*ln(p_t(b)/p_r(b)) — the data-selection score docs are "
    "resampled by. Cross-engine exact: the smoothed ratio is a single ln of an "
    "exact integer ratio ((ct+1)(Nr+B))/((cr+1)(Nt+B)), products stay under "
    "2^53 through sf30-scale corpora, and terms accumulate in DECIMAL(38,18) "
    "(order-free). Scale shape: two tiny bucket-table aggs (B rows) broadcast "
    "back onto one map-side-combinable (doc,bucket) count — no shuffle ever "
    "carries more than corpus-bigram rows, and the model tables are O(B)",
    tags=("pipeline", "text"),
)
def q_dsir_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size("tk") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("tk") - 2),
            lambda i: F.concat_ws(" ", F.col("tk")[i], F.col("tk")[i + 1]),
        ),
    ).otherwise(F.array(F.concat_ws(" ", F.col("tk"))))
    bg = (
        docs.select("doc_id", (F.col("source") == "src1").alias("is_tgt"), tk.alias("tk"))
        .select("doc_id", "is_tgt", F.explode(bigrams).alias("b"))
        .select(
            "doc_id",
            "is_tgt",
            (md5_u32("b") % _DSIR_B).alias("bucket"),
        )
    )
    stats = bg.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_tgt"), 0).otherwise(1)).alias("cr"),
    )
    tot = stats.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    sc = (
        stats.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.log(
                ((F.col("ct") + 1) * (F.col("nr") + _DSIR_B)).cast("double")
                / ((F.col("cr") + 1) * (F.col("nt") + _DSIR_B)).cast("double")
            ).alias("s"),
        )
    )
    db = (
        bg.filter(~F.col("is_tgt"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        db.join(F.broadcast(sc), "bucket")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum((F.col("n") * F.col("s")).cast("decimal(38,18)")).cast("double"),
                6,
            ).alias("logw"),
            F.sum("n").cast("bigint").alias("n_bigrams"),
        )
    )


@query(
    "q_contamination_frac",
    # Threshold-fraction decontamination — the refinement of
    # q_decontaminate's any-overlap flag that the published pipelines
    # actually apply (PaLM/GPT-3 style: a doc is contaminated when a high
    # FRACTION of its n-grams appears in the eval set, not when a single
    # shingle collides). Per corpus doc: distinct-shingle count, eval-hit
    # count, hit fraction, and the >= 70% verdict as a cross-multiplied
    # integer comparison (no float boundary).
    oracle=f"""
    WITH sh AS ({_SHINGLE_DUCK}),
    ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 37 = 0),
    corpus AS (SELECT doc_id, sh FROM sh WHERE doc_id % 37 <> 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM corpus GROUP BY doc_id),
    hits AS (
      SELECT c.doc_id, COUNT(*) AS n_hit
      FROM corpus c JOIN ev ON c.sh = ev.sh GROUP BY c.doc_id)
    SELECT s.doc_id, s.n_sh,
           COALESCE(h.n_hit, 0) AS n_hit,
           ROUND(COALESCE(h.n_hit, 0) / CAST(s.n_sh AS DOUBLE), 6) AS hit_frac,
           CASE WHEN 10 * COALESCE(h.n_hit, 0) >= 7 * s.n_sh
                THEN 1 ELSE 0 END AS contaminated
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    """,
    description="threshold-fraction benchmark decontamination (the PaLM/GPT-3 "
    "refinement of q_decontaminate): per corpus doc, the FRACTION of its "
    "distinct word 3-grams found in the eval holdout (doc_id % 37 = 0) and "
    "the >= 70% contaminated verdict as a cross-multiplied integer "
    "comparison. Same scale shape as q_decontaminate — DISTINCT eval "
    "shingles broadcast, corpus side one explode + two grouped counts that "
    "share the doc_id exchange, no all-pairs join",
    tags=("pipeline", "text"),
)
def q_contamination_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = corpus_shingles(spark, sf_dir)
    ev = sh.filter(F.col("doc_id") % 37 == 0).select("sh").distinct()
    corpus = sh.filter(F.col("doc_id") % 37 != 0)
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (
        corpus.join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_sh",
        n_hit.alias("n_hit"),
        F.round(n_hit / F.col("n_sh").cast("double"), 6).alias("hit_frac"),
        (10 * n_hit >= 7 * F.col("n_sh")).cast("int").alias("contaminated"),
    )


# --------------------------------------------------------------------------
# CCNet perplexity bucketing (Wenzek et al. 2020, "CCNet: Extracting High
# Quality Monolingual Datasets from Web Crawl Data", §3.3): score every
# document by language-model perplexity and split the corpus into
# head / middle / tail thirds — the head is what the paper keeps for
# pretraining. The paper uses a KenLM 5-gram; the portable in-engine
# variant trains a UNIGRAM LM on the corpus itself (the model class is a
# parameter of the method, not of the pipeline shape): per-token
# cross-entropy  H(d) = ln(T) - (1/n_d) * sum_w ln c_w  with c_w the corpus
# count of token w and T the corpus token total, perplexity = e^H.
# --------------------------------------------------------------------------


# Shared CE chain (also composed into q_fineweb_funnel): corpus-trained
# unigram-LM cross-entropy per doc, CTE chain ending in
# ce(doc_id, n_words, ce6) — and the Spark twin below.
_CCNET_CE_SQL = """t2 AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    tk AS (SELECT doc_id, w FROM t2 WHERE w <> ''),
    vocab AS (SELECT w, COUNT(*) AS cw FROM tk GROUP BY w),
    tot AS (SELECT ln(CAST(SUM(cw) AS DOUBLE)) AS ln_t FROM vocab),
    dw AS (SELECT doc_id, w, COUNT(*) AS n FROM tk GROUP BY doc_id, w),
    perw AS (
      SELECT doc_id,
             CAST(SUM(n) AS BIGINT) AS n_words,
             SUM(CAST(n * ln(CAST(cw AS DOUBLE)) AS DECIMAL(38,18))) AS slc
      FROM dw JOIN vocab USING (w) GROUP BY doc_id),
    ce AS (
      SELECT doc_id, n_words,
             ROUND(ln_t - CAST(slc AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
               AS ce6
      FROM perw, tot)"""


def _unigram_ce(docs: DataFrame) -> DataFrame:
    """Per-doc unigram-LM cross-entropy (doc_id, n_words, ce6) — the Spark
    twin of :data:`_CCNET_CE_SQL`, decimal-exact term accumulation."""
    tk = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    vocab = tk.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    tot = vocab.agg(F.log(F.sum("cw").cast("double")).alias("ln_t"))
    dw = tk.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("n"))
    per = (
        dw.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(
                (F.col("n") * F.log(F.col("cw").cast("double"))).cast(
                    "decimal(38,18)"
                )
            ).alias("slc"),
        )
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_words",
        F.round(
            F.col("ln_t")
            - F.col("slc").cast("double") / F.col("n_words").cast("double"),
            6,
        ).alias("ce6"),
    )


@query(
    "q_ccnet_perplexity",
    # Float hygiene: ln runs on exact integer counts (identical doubles both
    # engines), per-doc terms accumulate in DECIMAL(38,18) (order-free), the
    # final H is one identical double expression rounded 6dp, and exp runs
    # on the ROUNDED H so both engines exponentiate the same input (the
    # q_odds_ratio exp-precedent). Tertile assignment is the q_corpus_mix
    # discrete integer rank over the rounded-H histogram — no NTILE global
    # sort, no percentile interpolation.
    oracle=f"""
    WITH {_CCNET_CE_SQL},
    h AS (SELECT doc_id, n_words, ce6 FROM ce),
    hist AS (SELECT ce6, COUNT(*) AS cnt FROM h GROUP BY ce6),
    w2 AS (
      SELECT ce6, cnt,
             SUM(cnt) OVER (ORDER BY ce6
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER () AS n
      FROM hist),
    m AS (SELECT ce6, CAST((3 * (cum - cnt)) // n AS BIGINT) AS b FROM w2)
    SELECT doc_id, n_words,
           ce6 AS cross_entropy,
           ROUND(exp(ce6), 6) AS perplexity,
           CASE b WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END
             AS bucket
    FROM h JOIN m USING (ce6)
    """,
    description="CCNet perplexity bucketing (Wenzek et al. 2020 §3.3): "
    "unigram-LM cross-entropy and perplexity per document, corpus split "
    "into head/middle/tail thirds by discrete integer rank over the "
    "rounded-score histogram (the paper keeps the head). Scale shape: one "
    "vocab-sized groupBy (partial-agg), the LM broadcast back onto a "
    "(doc, word) count that shares the corpus explode, a per-doc "
    "partial-agg, and tertile cutpoints from a histogram whose cardinality "
    "is bounded by the 6dp rounding — no global NTILE sort anywhere; at "
    "100 TB the unigram table is still vocabulary-sized",
    tags=("pipeline", "text"),
)
def q_ccnet_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = _unigram_ce(docs)
    hist = h.groupBy("ce6").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.orderBy("ce6").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = (
        hist.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy(F.lit(1))))
        .select("ce6", F.expr("(3 * (cum - cnt)) div n").cast("long").alias("b"))
    )
    return h.join(F.broadcast(m), "ce6").select(
        "doc_id",
        "n_words",
        F.col("ce6").alias("cross_entropy"),
        F.round(F.exp("ce6"), 6).alias("perplexity"),
        F.when(F.col("b") == 0, "head")
        .when(F.col("b") == 1, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# --------------------------------------------------------------------------
# DoReMi domain reweighting (Xie et al. 2023, "DoReMi: Optimizing Data
# Mixtures Speeds Up Language Model Pretraining"): one multiplicative-
# weights round — each domain's mixture weight is scaled by exp(eta *
# excess_loss) and renormalized, where excess loss is the domain's loss
# above the best domain's. The paper's proxy/reference models are
# external; the portable in-engine variant uses the same corpus-trained
# unigram LM as q_ccnet_perplexity for the per-domain loss, eta = 1, and a
# uniform prior (which cancels in the normalization).
# --------------------------------------------------------------------------


@query(
    "q_doremi_weights",
    # Per-domain token-level cross-entropy with the same decimal-sum
    # discipline as q_ccnet_perplexity; excess and exp run on 6dp-rounded
    # identical doubles; the normalizer accumulates exp terms in
    # DECIMAL(38,18) so the K-row sum is order-free.
    oracle="""
    WITH t2 AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
    tk AS (SELECT source, w FROM t2 WHERE w <> ''),
    vocab AS (SELECT w, COUNT(*) AS cw FROM (SELECT w FROM tk) GROUP BY w),
    tot AS (SELECT ln(CAST(SUM(cw) AS DOUBLE)) AS ln_t FROM vocab),
    sw AS (SELECT source, w, COUNT(*) AS n FROM tk GROUP BY source, w),
    per AS (
      SELECT source,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             SUM(CAST(n * ln(CAST(cw AS DOUBLE)) AS DECIMAL(38,18))) AS slc
      FROM sw JOIN vocab USING (w) GROUP BY source),
    h AS (
      SELECT source, n_tokens,
             ROUND(ln_t - CAST(slc AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
               AS ce6
      FROM per, tot),
    e AS (
      SELECT source, n_tokens, ce6,
             ROUND(ce6 - MIN(ce6) OVER (), 6) AS excess
      FROM h),
    x AS (SELECT source, n_tokens, ce6, excess, exp(excess) AS ew FROM e),
    z AS (
      SELECT source, n_tokens, ce6, excess, ew,
             SUM(CAST(ew AS DECIMAL(38,18))) OVER () AS denom
      FROM x)
    SELECT source, n_tokens,
           ce6 AS cross_entropy,
           excess,
           ROUND(ew / CAST(denom AS DOUBLE), 6) AS weight
    FROM z
    """,
    description="DoReMi domain reweighting (Xie et al. 2023): one "
    "multiplicative-weights round over the source domains — per-domain "
    "unigram-LM cross-entropy (the same corpus-trained LM as "
    "q_ccnet_perplexity), excess loss over the best domain, weight = "
    "exp(excess) / sum exp(excess) with eta=1 and the uniform prior "
    "cancelled. Scale shape: the (source, word) count shares the corpus "
    "explode and partial-aggregates before its shuffle; everything after "
    "is O(K domains) rows, so the windows over the domain table are "
    "trivially small — the plan never sorts or re-shuffles corpus-sized "
    "data after the first aggregation",
    tags=("pipeline", "text"),
)
def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    vocab = tk.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    tot = vocab.agg(F.log(F.sum("cw").cast("double")).alias("ln_t"))
    sw = tk.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n"))
    per = (
        sw.join(F.broadcast(vocab), "w")
        .groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.sum(
                (F.col("n") * F.log(F.col("cw").cast("double"))).cast(
                    "decimal(38,18)"
                )
            ).alias("slc"),
        )
    )
    h = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.round(
            F.col("ln_t")
            - F.col("slc").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("ce6"),
    )
    w_all = Window.partitionBy(F.lit(1))
    e = h.withColumn("excess", F.round(F.col("ce6") - F.min("ce6").over(w_all), 6))
    x = e.withColumn("ew", F.exp("excess"))
    z = x.withColumn(
        "denom", F.sum(F.col("ew").cast("decimal(38,18)")).over(w_all)
    )
    return z.select(
        "source",
        "n_tokens",
        F.col("ce6").alias("cross_entropy"),
        "excess",
        F.round(F.col("ew") / F.col("denom").cast("double"), 6).alias("weight"),
    )


# --------------------------------------------------------------------------
# The composed published curation recipe — the FineWeb/RefinedWeb-shaped
# funnel (Penedo et al. 2024): Gopher rule battery -> repetition filter ->
# perplexity tail drop -> exact dedup -> MinHash-LSH near-dup dedup, each
# stage applied to the SURVIVORS of the previous one, with cumulative
# per-stage pass flags so the attrition at every step is one SUM away.
# Every stage reuses a construction that is independently hash-checked
# (q_gopher_rules, q_repetition, q_ccnet_perplexity, q_dedup_exact,
# q_minhash_pairs_portable) — this query proves they COMPOSE.
# --------------------------------------------------------------------------


# The funnel's S1 is the four STRUCTURAL Gopher rules
# (text_queries.GOPHER_STRUCTURAL_SQL, one definition). The fifth (>= 2 of
# the paper's 8 English stop words) is vocabulary-dependent — FineWeb
# itself adapts the battery per corpus, and on a corpus whose vocabulary
# lacks most of the 8 it annihilates the funnel; the full 5-rule battery
# stays reported per-rule by q_gopher_rules.


def _fineweb_oracle() -> str:
    from .dedup_queries import _mh_oracle
    from .text_queries import GOPHER_M_SQL, GOPHER_STRUCTURAL_SQL

    _FUNNEL_GOPHER_SQL = GOPHER_STRUCTURAL_SQL

    return f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    gm AS ({GOPHER_M_SQL}),
    s1 AS (
      SELECT doc_id, n_words,
             CASE WHEN {_FUNNEL_GOPHER_SQL} THEN 1 ELSE 0 END AS p1
      FROM gm),
    bgf AS (
      SELECT doc_id, unnest(list_transform(
               list_filter(list_zip(w, w[2:]), p -> p[2] IS NOT NULL),
               p -> concat_ws(' ', p[1], p[2]))) AS bigram
      FROM t WHERE len(w) >= 2),
    bcf AS (
      SELECT doc_id, MAX(c) AS mc FROM (
        SELECT doc_id, bigram, COUNT(*) AS c FROM bgf GROUP BY doc_id, bigram)
      GROUP BY doc_id),
    s2 AS (
      SELECT s1.doc_id, p1,
             CASE WHEN p1 = 1 AND 5 * COALESCE(bcf.mc, 0) <= s1.n_words - 1
                  THEN 1 ELSE 0 END AS p2
      FROM s1 LEFT JOIN bcf USING (doc_id)),
    {_CCNET_CE_SQL},
    histf AS (
      SELECT ce6, COUNT(*) AS cnt
      FROM ce JOIN s2 USING (doc_id) WHERE p2 = 1 GROUP BY ce6),
    w2f AS (
      SELECT ce6, cnt,
             SUM(cnt) OVER (ORDER BY ce6
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER () AS n
      FROM histf),
    mf AS (SELECT ce6, CAST((3 * (cum - cnt)) // n AS BIGINT) AS b FROM w2f),
    s3 AS (
      SELECT s2.doc_id, p1, p2,
             CASE WHEN p2 = 1 AND mf.b <= 1 THEN 1 ELSE 0 END AS p3
      FROM s2 LEFT JOIN ce ON s2.doc_id = ce.doc_id
               LEFT JOIN mf ON ce.ce6 = mf.ce6),
    fp AS (SELECT doc_id, md5(text) AS f FROM documents),
    mnf AS (
      SELECT f, MIN(s3.doc_id) AS keep_id
      FROM fp JOIN s3 USING (doc_id) WHERE p3 = 1 GROUP BY f),
    s4 AS (
      SELECT s3.doc_id, p1, p2, p3,
             CASE WHEN p3 = 1 AND s3.doc_id = mnf.keep_id THEN 1 ELSE 0 END AS p4
      FROM s3 JOIN fp USING (doc_id) LEFT JOIN mnf ON fp.f = mnf.f),
    sigs AS ({_mh_oracle()}),
    bands AS (
      {_BAND_UNION}),
    sb AS (
      SELECT doc_id, b, bkey FROM bands JOIN s4 USING (doc_id) WHERE p4 = 1),
    drp AS (
      SELECT DISTINCT a.doc_id FROM sb a JOIN sb b2
      ON a.b = b2.b AND a.bkey = b2.bkey AND b2.doc_id < a.doc_id),
    s5 AS (
      SELECT s4.doc_id, p1, p2, p3, p4,
             CASE WHEN p4 = 1 AND drp.doc_id IS NULL THEN 1 ELSE 0 END AS p5
      FROM s4 LEFT JOIN drp USING (doc_id))
    SELECT doc_id,
           p1 AS pass_gopher, p2 AS pass_repetition, p3 AS pass_perplexity,
           p4 AS pass_exact, p5 AS pass_neardup
    FROM s5
    """


@query(
    "q_fineweb_funnel",
    oracle=_fineweb_oracle(),
    description="the composed published curation recipe (FineWeb/RefinedWeb "
    "shape, Penedo et al. 2024): structural Gopher rules (the stop-word "
    "rule is corpus-vocabulary-dependent and reported separately by "
    "q_gopher_rules, as FineWeb adapts the battery) -> top-bigram "
    "repetition filter (<= 0.2, cross-multiplied integers) -> unigram-LM "
    "perplexity tail drop (tertile over the stage's survivors, discrete "
    "integer rank) -> exact md5 dedup keep-lowest-id -> MinHash-LSH "
    "near-dup drop (band-mate with smaller surviving id), each stage over "
    "the previous stage's survivors, cumulative per-doc pass flags. Every "
    "stage reuses an independently hash-checked construction — this query "
    "proves the catalog COMPOSES. Scale shape: the stages share the corpus "
    "scan's doc_id partitioning; dedup joins are equi-joins on fingerprint/"
    "bucket keys over survivors only; the one unbounded-window sort runs on "
    "the rounded-CE histogram, never the corpus",
    tags=("pipeline", "text", "dedup", "bench"),
)
def q_fineweb_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as T
    from .dedup_queries import portable_sigs
    from .text_queries import gopher_metrics, gopher_rule_flags

    docs = load_table(spark, sf_dir, "documents")

    # S1+S2 fused into ONE per-row projection (r16, guide §2.4 remove
    # shuffles outright): the Gopher metrics were always per-row, and the
    # top-bigram max count is now computed in-row (sorted-bigram run-length
    # fold, functions/text.max_adjacent_pair_count — integer-identical to
    # the explode→groupBy max it replaces), so the former
    # explode + (doc,bigram) exchange + per-doc max exchange + s1⋈bc join
    # all vanish; the in-row guard size(w) >= 2 ∧ coalesce-to-0 reproduces
    # the old left join exactly (docs without bigrams had no bc row).
    fl = gopher_rule_flags()
    keep1 = (
        fl["ok_word_count"] & fl["ok_mean_len"] & fl["ok_symbol"] & fl["ok_alpha"]
    )
    mc = F.when(F.size("w") >= 2, T.max_adjacent_pair_count("w")).otherwise(
        F.lit(0)
    )
    s2 = tracked_persist(gopher_metrics(docs, keep_tokens=True).select(
        "doc_id",
        "n_words",
        F.when(keep1, 1).otherwise(0).alias("p1"),
        mc.alias("mc"),
    ).select(
        "doc_id",
        "p1",
        F.when(
            (F.col("p1") == 1) & (5 * F.col("mc") <= F.col("n_words") - 1),
            1,
        )
        .otherwise(0)
        .alias("p2"),
    ))

    # S3: perplexity tail drop — tertile of the corpus-LM CE over S2 survivors.
    # Stage frames s2/s3/s4 are persisted (each feeds both the next stage's
    # survivor aggregate and the stage join); persisting ce as well was A/B'd
    # and measured WORSE (3.5-3.7 s vs 2.3-2.6 s action) — its two consumers
    # land in one job, where Spark's ReuseExchange already shares the
    # aggregate, so the persist only adds a materialization barrier.
    ce = _unigram_ce(docs).select("doc_id", "ce6")
    hist = (
        ce.join(s2.filter(F.col("p2") == 1).select("doc_id"), "doc_id")
        .groupBy("ce6")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = (
        Window.orderBy("ce6").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = (
        hist.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy(F.lit(1))))
        .select("ce6", F.expr("(3 * (cum - cnt)) div n").cast("long").alias("b"))
    )
    s3 = tracked_persist(
        s2.join(ce, "doc_id", "left")
        .join(F.broadcast(m), "ce6", "left")
        .select(
            "doc_id",
            "p1",
            "p2",
            F.when((F.col("p2") == 1) & (F.col("b") <= 1), 1).otherwise(0).alias("p3"),
        )
    )

    # S4: exact dedup keep-lowest-id among S3 survivors
    fp = docs.select("doc_id", F.md5("text").alias("f"))
    mn = (
        fp.join(s3.filter(F.col("p3") == 1).select("doc_id"), "doc_id")
        .groupBy("f")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    s4 = tracked_persist(
        s3.join(fp, "doc_id")
        .join(mn, "f", "left")
        .select(
            "doc_id",
            "p1",
            "p2",
            "p3",
            F.when((F.col("p3") == 1) & (F.col("doc_id") == F.col("keep_id")), 1)
            .otherwise(0)
            .alias("p4"),
        )
    )

    # S5: near-dup drop — a survivor with a smaller surviving band-mate is
    # the id_b side of some survivor pair (distinct: it may have several)
    sigs = portable_sigs(spark, sf_dir).join(
        s4.filter(F.col("p4") == 1).select(F.col("doc_id").alias("id")), "id"
    )
    drp = (
        D.band_pairs(D.minhash_bands(sigs, 4, 4))
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    s5 = s4.join(drp, "doc_id", "left").select(
        "doc_id",
        "p1",
        "p2",
        "p3",
        "p4",
        F.when((F.col("p4") == 1) & F.col("hit").isNull(), 1).otherwise(0).alias("p5"),
    )
    return s5.select(
        "doc_id",
        F.col("p1").alias("pass_gopher"),
        F.col("p2").alias("pass_repetition"),
        F.col("p3").alias("pass_perplexity"),
        F.col("p4").alias("pass_exact"),
        F.col("p5").alias("pass_neardup"),
    )


@query(
    "q_funnel_report",
    # The operations-dashboard view of q_fineweb_funnel: survivor counts
    # per stage in one row — SUMs of the cumulative flags, so the stage
    # attrition (and any future regression in a stage's drop rate) is one
    # subtraction away.
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pass_gopher) AS BIGINT) AS n_gopher,
           CAST(SUM(pass_repetition) AS BIGINT) AS n_repetition,
           CAST(SUM(pass_perplexity) AS BIGINT) AS n_perplexity,
           CAST(SUM(pass_exact) AS BIGINT) AS n_exact,
           CAST(SUM(pass_neardup) AS BIGINT) AS n_kept,
           ROUND(SUM(pass_neardup) / CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate
    FROM ({_fineweb_oracle()})
    """,
    description="per-stage survivor counts of the composed curation funnel "
    "(q_fineweb_funnel) in one row, plus the final keep rate — the "
    "attrition dashboard a corpus-curation run reports. One extra "
    "partial-agg over the funnel's per-doc flags; inherits the funnel's "
    "scale shape unchanged",
    tags=("pipeline", "text"),
)
def q_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = q_fineweb_funnel(spark, sf_dir)
    return f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pass_gopher").cast("bigint").alias("n_gopher"),
        F.sum("pass_repetition").cast("bigint").alias("n_repetition"),
        F.sum("pass_perplexity").cast("bigint").alias("n_perplexity"),
        F.sum("pass_exact").cast("bigint").alias("n_exact"),
        F.sum("pass_neardup").cast("bigint").alias("n_kept"),
        F.round(
            F.sum("pass_neardup") / F.count(F.lit(1)).cast("double"), 6
        ).alias("keep_rate"),
    )


# --------------------------------------------------------------------------
# The quality classifier (the GPT-3 / PaLM CommonCrawl filter: a linear
# classifier on hashed bag-of-ngram features, trained target-vs-raw, whose
# score gates or importance-samples the raw corpus). Portable exact form:
# logistic regression on the same hashed-bigram buckets as q_dsir_weight,
# two unrolled full-batch gradient-descent rounds from w=0 — the same
# unroll-and-decimal discipline as q_kmeans_portable: every gradient
# accumulates per-term in DECIMAL(38,18) (order-free), sigmoid/exp run on
# 6dp-rounded identical doubles, so the trained weights and every score
# hash-match DuckDB.
# --------------------------------------------------------------------------

_QC_LR = 5.0  # full-batch learning rate (scale only; 2 rounds, fixed)


@query(
    "q_quality_classifier_portable",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source = 'src1' AS is_tgt, string_split(text, ' ') AS tk
      FROM documents),
    bg AS (
      SELECT doc_id, is_tgt,
             CAST('0x' || substr(md5(b), 1, 8) AS BIGINT) % {_DSIR_B} AS bucket
      FROM (SELECT doc_id, is_tgt,
              unnest(CASE WHEN len(tk) >= 2 THEN
                 list_transform(
                   list_filter(list_zip(tk, tk[2:]), p -> p[2] IS NOT NULL),
                   p -> concat_ws(' ', p[1], p[2]))
               ELSE [array_to_string(tk, ' ')] END) AS b
            FROM t)),
    x AS (
      SELECT doc_id, is_tgt, bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM bg GROUP BY doc_id, is_tgt, bucket),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM t),
    -- round 1 from w = 0: p = 0.5 exactly for every doc
    g1 AS (
      SELECT bucket,
             CAST(SUM(CAST(n * (0.5 - CASE WHEN is_tgt THEN 1 ELSE 0 END)
                           AS DECIMAL(38,18))) AS DOUBLE) AS g
      FROM x GROUP BY bucket),
    w1 AS (
      SELECT bucket, -{_QC_LR} * g / n_docs AS w FROM g1, nn),
    -- round 2: score with w1, then one more gradient step
    z1 AS (
      SELECT x.doc_id, x.is_tgt,
             ROUND(CAST(SUM(CAST(x.n * w1.w AS DECIMAL(38,18))) AS DOUBLE), 6)
               AS z
      FROM x JOIN w1 USING (bucket) GROUP BY x.doc_id, x.is_tgt),
    p1 AS (SELECT doc_id, is_tgt, 1.0 / (1.0 + exp(-z)) AS p FROM z1),
    g2 AS (
      SELECT x.bucket,
             CAST(SUM(CAST(x.n * (p1.p - CASE WHEN x.is_tgt THEN 1 ELSE 0 END)
                           AS DECIMAL(38,18))) AS DOUBLE) AS g
      FROM x JOIN p1 USING (doc_id) GROUP BY x.bucket),
    w2 AS (
      SELECT w1.bucket, w1.w - {_QC_LR} * g2.g / nn.n_docs AS w
      FROM w1 JOIN g2 ON w1.bucket = g2.bucket, nn)
    SELECT x.doc_id,
           CAST(MAX(CASE WHEN x.is_tgt THEN 1 ELSE 0 END) AS INT) AS is_tgt,
           ROUND(CAST(SUM(CAST(x.n * w2.w AS DECIMAL(38,18))) AS DOUBLE), 6)
             AS z,
           ROUND(1.0 / (1.0 + exp(
             -ROUND(CAST(SUM(CAST(x.n * w2.w AS DECIMAL(38,18))) AS DOUBLE), 6)
           )), 6) AS score
    FROM x JOIN w2 USING (bucket) GROUP BY x.doc_id
    """,
    description=f"the GPT-3/PaLM-style quality classifier, trained IN-ENGINE "
    f"and hash-checked: logistic regression on {_DSIR_B} hashed-bigram "
    "buckets (the q_dsir_weight feature map), target domain source='src1' "
    "vs the rest, two unrolled full-batch gradient rounds from w=0 (the "
    "q_kmeans_portable unroll discipline) — per-term DECIMAL(38,18) "
    "gradient accumulation, sigmoid on 6dp-rounded identical doubles, so "
    "weights and every per-doc score are bit-identical cross-engine. "
    "Scale shape: each round is one corpus-bigram-sized partial-agg plus "
    "an O(B) weight table broadcast back; nothing ever shuffles more than "
    "the (doc, bucket) count matrix, and rounds are data-parallel "
    "full-batch GD exactly as a distributed trainer runs it",
    tags=("pipeline", "text", "ml"),
)
def q_quality_classifier_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size("tk") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("tk") - 2),
            lambda i: F.concat_ws(" ", F.col("tk")[i], F.col("tk")[i + 1]),
        ),
    ).otherwise(F.array(F.concat_ws(" ", F.col("tk"))))
    bg = (
        docs.select(
            "doc_id", (F.col("source") == "src1").alias("is_tgt"), tk.alias("tk")
        )
        .select("doc_id", "is_tgt", F.explode(bigrams).alias("b"))
        .select(
            "doc_id",
            "is_tgt",
            (md5_u32("b") % _DSIR_B).alias("bucket"),
        )
    )
    x = bg.groupBy("doc_id", "is_tgt", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    nn = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    y = F.when(F.col("is_tgt"), 1).otherwise(0)
    dec = "decimal(38,18)"
    g1 = x.groupBy("bucket").agg(
        F.sum((F.col("n") * (F.lit(0.5) - y)).cast(dec)).cast("double").alias("g")
    )
    w1 = g1.crossJoin(F.broadcast(nn)).select(
        "bucket", (-_QC_LR * F.col("g") / F.col("n_docs")).alias("w")
    )
    z1 = (
        x.join(F.broadcast(w1), "bucket")
        .groupBy("doc_id", "is_tgt")
        .agg(
            F.round(F.sum((F.col("n") * F.col("w")).cast(dec)).cast("double"), 6).alias(
                "z"
            )
        )
    )
    p1 = z1.select(
        "doc_id", "is_tgt", (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))).alias("p")
    )
    g2 = (
        x.join(p1.select("doc_id", "p"), "doc_id")
        .groupBy("bucket")
        .agg(
            F.sum((F.col("n") * (F.col("p") - y)).cast(dec)).cast("double").alias("g")
        )
    )
    w2 = (
        w1.join(g2, "bucket")
        .crossJoin(F.broadcast(nn))
        .select(
            "bucket",
            (F.col("w") - _QC_LR * F.col("g") / F.col("n_docs")).alias("w"),
        )
    )
    zf = F.round(F.sum((F.col("n") * F.col("w")).cast(dec)).cast("double"), 6)
    return (
        x.join(F.broadcast(w2), "bucket")
        .groupBy("doc_id")
        .agg(
            F.max(y).cast("int").alias("is_tgt"),
            zf.alias("z"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zf)), 6).alias("score"),
        )
    )


# --------------------------------------------------------------------------
# Held-out LM scoring with Jelinek-Mercer interpolation (Chen & Goodman
# 1996/1998's baseline smoother): p(w2|w1) = 0.7*p_ML(w2|w1) +
# 0.2*p_uni(w2) + 0.1/V. Unlike q_lm_score (which scores docs under an LM
# trained on the same corpus, so every bigram is seen), this trains on
# doc_id % 7 != 0 and scores the HELD-OUT slice — where unseen bigrams and
# unseen words actually occur, which is exactly what the interpolation
# exists to handle (the uniform 1/V floor keeps every probability
# positive, so no -inf escapes into the score).
# --------------------------------------------------------------------------


@query(
    "q_lm_heldout_jm",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    tr AS (SELECT * FROM toks WHERE doc_id % 7 <> 0),
    ho AS (SELECT * FROM toks WHERE doc_id % 7 = 0),
    uni AS (SELECT unnest(t) AS tok FROM tr),
    c1 AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
    tv AS (SELECT CAST(SUM(c) AS BIGINT) AS t_tok,
                  CAST(COUNT(*) AS BIGINT) AS v FROM c1),
    c12 AS (
      SELECT bigram, COUNT(*) AS c FROM (
        SELECT unnest(list_transform(
                 list_filter(list_zip(t, t[2:]), p -> p[2] IS NOT NULL),
                 p -> concat_ws(' ', p[1], p[2]))) AS bigram
        FROM tr) GROUP BY bigram),
    occ AS (
      SELECT doc_id,
             unnest(list_transform(
               list_filter(list_zip(t, t[2:]), p -> p[2] IS NOT NULL),
               p -> concat_ws(' ', p[1], p[2]))) AS bigram
      FROM ho),
    p AS (
      SELECT o.doc_id,
             0.7 * (CASE WHEN c12.c IS NOT NULL AND w1.c IS NOT NULL
                         THEN c12.c / CAST(w1.c AS DOUBLE) ELSE 0 END)
             + 0.2 * (CASE WHEN w2.c IS NOT NULL
                           THEN w2.c / CAST(tv.t_tok AS DOUBLE) ELSE 0 END)
             + 0.1 / CAST(tv.v AS DOUBLE) AS prob
      FROM occ o
      LEFT JOIN c12 ON o.bigram = c12.bigram
      LEFT JOIN c1 w1 ON string_split(o.bigram, ' ')[1] = w1.tok
      LEFT JOIN c1 w2 ON string_split(o.bigram, ' ')[2] = w2.tok, tv)
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           {{DAVG}} AS lm_score,
           ROUND(exp(-({{DAVG}})), 6) AS ppl
    FROM p GROUP BY doc_id
    """.replace("{DAVG}", sql_davg("ln(prob)")),
    description="held-out LM scoring with Jelinek-Mercer interpolation "
    "(Chen & Goodman's baseline smoother): train the bigram/unigram LM on "
    "doc_id % 7 <> 0, score the held-out slice with 0.7*p_ML(w2|w1) + "
    "0.2*p_uni(w2) + 0.1/V — the uniform floor keeps unseen events "
    "positive, which is the whole point of smoothing and what q_lm_score's "
    "same-corpus MLE never faces. Per-doc mean log prob via the "
    "decimal-exact davg plus the implied perplexity. Scale shape: two "
    "train-side grouped counts, three equi-joins on token keys against the "
    "held-out bigram stream, scalar (T, V) broadcast in-plan, one per-doc "
    "partial-agg — hot-token skew salts like every token join here",
    tags=("pipeline", "text"),
)
def q_lm_heldout_jm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import davg

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    tr = toks.filter(F.col("doc_id") % 7 != 0)
    ho = toks.filter(F.col("doc_id") % 7 == 0)
    bigrams = F.expr(
        "transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i+1]))"
    )
    c1 = (
        tr.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tv = c1.agg(
        F.sum("c").cast("bigint").alias("t_tok"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    c12 = (
        tr.filter(F.size("t") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    occ = ho.filter(F.size("t") >= 2).select(
        "doc_id", F.explode(bigrams).alias("bigram")
    )
    w1 = c1.select(F.col("tok").alias("tok1"), F.col("c").alias("cw1"))
    w2 = c1.select(F.col("tok").alias("tok2"), F.col("c").alias("cw2"))
    prob = (
        0.7
        * F.when(
            F.col("c12").isNotNull() & F.col("cw1").isNotNull(),
            F.col("c12") / F.col("cw1").cast("double"),
        ).otherwise(0.0)
        + 0.2
        * F.when(
            F.col("cw2").isNotNull(), F.col("cw2") / F.col("t_tok").cast("double")
        ).otherwise(0.0)
        + 0.1 / F.col("v").cast("double")
    )
    p = (
        occ.join(c12, "bigram", "left")
        .join(w1, F.expr("split(bigram, ' ')[0]") == F.col("tok1"), "left")
        .join(w2, F.expr("split(bigram, ' ')[1]") == F.col("tok2"), "left")
        .crossJoin(F.broadcast(tv))
        .select("doc_id", prob.alias("prob"))
    )
    lp = F.log("prob")
    return p.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        davg(lp).alias("lm_score"),
        F.round(F.exp(-davg(lp)), 6).alias("ppl"),
    )


@query(
    "q_oph_pairs",
    oracle=_mh_pairs_oracle(oph=True),
    description="the MinHash→LSH candidate pipeline on ONE-PERMUTATION "
    "signatures (q_minhash_oph_portable): identical 4-band × 4-row banding, "
    "candidate equi-joins and agreement estimate as q_minhash_pairs_portable "
    "— only the signature scheme changes, so the two queries are directly "
    "comparable on answer quality (q_oph_vs_kwise) and cost (bench: both "
    "within noise of the shared hash+explode floor at sf0.1)",
    tags=("dedup", "pipeline", "bench"),
)
def q_oph_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup_queries import oph_sigs

    return D.minhash_pairs(oph_sigs(spark, sf_dir), 4, 4)


def _oph_vs_kwise_oracle() -> str:
    from .dedup_queries import _mh_oracle, _oph_oracle

    return f"""
    WITH {_TRUTH_SQL},
    ksigs AS ({_mh_oracle()}),
    osigs AS ({_oph_oracle()}),
    km AS (
      SELECT t.id_a, t.id_b, t.d,
             CAST({" + ".join(f"(CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END)" for i in range(16))}
                  AS BIGINT) AS n_match_kwise
      FROM truth t JOIN ksigs sa ON t.id_a = sa.doc_id
                   JOIN ksigs sb ON t.id_b = sb.doc_id
      WHERE t.d >= 5)
    SELECT km.id_a, km.id_b, km.d, km.n_match_kwise,
           CAST({" + ".join(f"(CASE WHEN oa.sig_{i} = ob.sig_{i} THEN 1 ELSE 0 END)" for i in range(16))}
                AS BIGINT) AS n_match_oph
    FROM km JOIN osigs oa ON km.id_a = oa.doc_id
            JOIN osigs ob ON km.id_b = ob.doc_id
    """


@query(
    "q_oph_vs_kwise",
    oracle=_oph_vs_kwise_oracle(),
    description="estimator-quality comparison on exact ground truth: for every "
    "pair with true trigram-Jaccard decile >= 5, the 16-slot agreement count "
    "under the k-wise scheme and under OPH side by side — the evidence that "
    "one hash per shingle buys the same estimate quality (OPH variance only "
    "rises for docs with empty bins, i.e. fewer shingles than bins). All "
    "integer columns, hash-checked",
    tags=("dedup", "pipeline"),
)
def q_oph_vs_kwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup_queries import oph_sigs, portable_sigs

    truth = _jaccard_decile_truth(spark, sf_dir).filter(F.col("d") >= 5)
    for name, sig in (("k", portable_sigs(spark, sf_dir)), ("o", oph_sigs(spark, sf_dir))):
        for side in ("a", "b"):
            truth = truth.join(
                sig.select(F.col("id").alias(f"id_{side}"), F.col("sig").alias(name + side)),
                f"id_{side}",
            )
    return truth.select(
        "id_a",
        "id_b",
        "d",
        D.sig_agreement("ka", "kb").alias("n_match_kwise"),
        D.sig_agreement("oa", "ob").alias("n_match_oph"),
    )


# --------------------------------------------------------------------------
# The three-tier dedup composition the curation canon prescribes (and the
# round-11 verdict asked for): EXACT (md5 keep-lowest-id) -> MEDIA CLUSTER
# REPRESENTATIVES (the linear per-modality window-MIN rep rule from
# q_dup_cluster_reps, applied to tier-1 survivors) -> SEMANTIC (SemDeDup's
# within-kmeans-cluster cosine >= 0.5 drop, applied to tier-2 survivors).
# Same cumulative-pass-flag discipline as q_fineweb_funnel; every tier
# reuses an independently hash-checked construction.
# --------------------------------------------------------------------------


def _dedup_tiered_oracle() -> str:
    from .registry import _REGISTRY
    from .vector_queries import _KM_CTES, _semdedup_pairs_sql

    img = _REGISTRY["q_image_phash"].oracle
    aud = _REGISTRY["q_audio_fingerprint"].oracle
    vid = _REGISTRY["q_video_fingerprint"].oracle
    return f"""
    WITH xt AS MATERIALIZED (
      SELECT doc_id,
             CAST(CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                       THEN 1 ELSE 0 END AS BIGINT) AS p1
      FROM documents),
    fps AS MATERIALIZED (
      SELECT media_id AS doc_id,
             concat('i:', CAST(phash_hi AS VARCHAR), ':',
                    CAST(phash_lo AS VARCHAR)) AS fpk
      FROM ({img}) t
      UNION ALL
      SELECT media_id,
             concat('a:', CAST(fp AS VARCHAR), ':', CAST(e_total AS VARCHAR))
      FROM ({aud}) t
      UNION ALL
      SELECT media_id,
             concat('v:', CAST(fp AS VARCHAR), ':', CAST(e_total AS VARCHAR))
      FROM ({vid}) t),
    mreps AS (
      SELECT f.doc_id, MIN(f.doc_id) OVER (PARTITION BY f.fpk) AS rep
      FROM fps f JOIN xt ON f.doc_id = xt.doc_id AND xt.p1 = 1),
    mdrop AS (SELECT DISTINCT doc_id FROM mreps WHERE rep < doc_id),
    mt AS MATERIALIZED (
      SELECT xt.doc_id, xt.p1,
             CAST(CASE WHEN xt.p1 = 1 AND mdrop.doc_id IS NULL
                       THEN 1 ELSE 0 END AS BIGINT) AS p2
      FROM xt LEFT JOIN mdrop USING (doc_id)),
    sdrop AS MATERIALIZED (
      ({_KM_CTES},
       sa AS (
         SELECT a2.vec_id, a2.cid
         FROM a2 JOIN mt ON a2.vec_id = mt.doc_id AND mt.p2 = 1),
       {_semdedup_pairs_sql("sa")}
       SELECT DISTINCT id_a AS doc_id FROM sempairs))
    SELECT mt.doc_id, mt.p1 AS pass_exact, mt.p2 AS pass_media,
           CAST(CASE WHEN mt.p2 = 1 AND sdrop.doc_id IS NULL
                     THEN 1 ELSE 0 END AS BIGINT) AS pass_semantic
    FROM mt LEFT JOIN sdrop USING (doc_id)
    """


@query(
    "q_dedup_tiered",
    # Exact -> cluster-reps -> semantic: the three dedup TIERS a curation
    # pipeline stacks (FineWeb/RefinedWeb run exact + near-dup; SemDeDup
    # adds the semantic tier), composed with q_fineweb_funnel's cumulative
    # pass-flag discipline — each tier applies to the SURVIVORS of the
    # previous one, so a doc's flags read as its exit point. Tier 2 is the
    # density-safe linear rep rule (q_dup_cluster_reps): window MIN per
    # exact media fingerprint over tier-1 survivors, drop any doc whose
    # image/audio/video fingerprint class has a smaller surviving id —
    # zero pair enumeration at any duplicate density. Tier 3 is SemDeDup
    # (q_semdedup's hash-checked construction) restricted to tier-2
    # survivors: within-kmeans-cluster decimal-exact cosine >= 0.5 against
    # a smaller surviving id. Scale shape: one window shuffle per
    # fingerprint family, broadcast-centroid assignment, and the only
    # pairwise work is within-cluster among survivors (bounded by growing
    # k with the corpus, per the SemDeDup paper).
    oracle=_dedup_tiered_oracle(),
    description="three-tier dedup composition: exact md5 keep-lowest-id -> "
    "media cluster-representative drop (linear window-MIN rule over tier-1 "
    "survivors, zero pair enumeration) -> SemDeDup semantic drop (within-"
    "kmeans-cluster cosine >= 0.5 among tier-2 survivors) with cumulative "
    "per-tier pass flags — proves the dedup tiers compose the way the "
    "curation canon prescribes; every tier reuses a hash-checked "
    "construction",
    tags=("pipeline", "dedup", "vector", "multimodal"),
)
def q_dedup_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_fit
    from .text_queries import (
        q_audio_fingerprint,
        q_image_phash,
        q_video_fingerprint,
    )
    from .vector_queries import semdedup_pairs

    docs = load_table(spark, sf_dir, "documents")
    # xt and mt each fan into two consumers (the survivor filter and the
    # carried flags) — persist both or the documents scan + md5 window
    # re-execute per branch (the oracle MATERIALIZEs the same frames)
    xt = tracked_persist(
        docs.select(
            "doc_id",
            F.when(
                F.col("doc_id")
                == F.min("doc_id").over(Window.partitionBy(F.md5("text"))),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("p1"),
        )
    )
    tag = lambda df, pre, a, b: df.select(  # noqa: E731
        F.col("media_id").alias("doc_id"),
        F.concat_ws(
            ":", F.lit(pre), F.col(a).cast("string"), F.col(b).cast("string")
        ).alias("fpk"),
    )
    fps = (
        tag(q_image_phash(spark, sf_dir), "i", "phash_hi", "phash_lo")
        .unionByName(tag(q_audio_fingerprint(spark, sf_dir), "a", "fp", "e_total"))
        .unionByName(tag(q_video_fingerprint(spark, sf_dir), "v", "fp", "e_total"))
    )
    s1 = xt.filter(F.col("p1") == 1).select("doc_id")
    mreps = fps.join(s1, "doc_id").select(
        "doc_id", F.min("doc_id").over(Window.partitionBy("fpk")).alias("rep")
    )
    mdrop = (
        mreps.filter(F.col("rep") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .withColumn("mhit", F.lit(1))
    )
    mt = tracked_persist(
        xt.join(mdrop, "doc_id", "left").select(
            "doc_id",
            "p1",
            F.when((F.col("p1") == 1) & F.col("mhit").isNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("p2"),
        )
    )
    emb = _embeddings(spark, sf_dir)
    assigned, _cents = kmeans_fit(emb, k=4, rounds=2)
    surv = mt.filter(F.col("p2") == 1).select(F.col("doc_id").alias("vec_id"))
    sa = assigned.join(surv, "vec_id")
    sdrop = (
        semdedup_pairs(sa)
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
        .withColumn("sem_hit", F.lit(1))
    )
    return mt.join(sdrop, "doc_id", "left").select(
        "doc_id",
        F.col("p1").alias("pass_exact"),
        F.col("p2").alias("pass_media"),
        F.when((F.col("p2") == 1) & F.col("sem_hit").isNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("pass_semantic"),
    )


@query(
    "q_dedup_tiered_report",
    # The q_funnel_report pattern applied to the three-tier dedup: one
    # row of per-tier survivor counts + final keep rate, so each tier's
    # attrition (and any regression in a tier's drop rate) is one
    # subtraction away. Inherits q_dedup_tiered's scale shape unchanged.
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pass_exact) AS BIGINT) AS n_exact,
           CAST(SUM(pass_media) AS BIGINT) AS n_media,
           CAST(SUM(pass_semantic) AS BIGINT) AS n_kept,
           ROUND(SUM(pass_semantic) / CAST(COUNT(*) AS DOUBLE), 6)
             AS keep_rate
    FROM ({_dedup_tiered_oracle()})
    """,
    description="per-tier survivor counts of the three-tier dedup "
    "composition (q_dedup_tiered) in one row plus the final keep rate - "
    "the attrition dashboard for the exact/media-rep/semantic stack; one "
    "extra partial-agg over the per-doc flags",
    tags=("pipeline", "dedup"),
)
def q_dedup_tiered_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = q_dedup_tiered(spark, sf_dir)
    return f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pass_exact").cast("bigint").alias("n_exact"),
        F.sum("pass_media").cast("bigint").alias("n_media"),
        F.sum("pass_semantic").cast("bigint").alias("n_kept"),
        F.round(
            F.sum("pass_semantic") / F.count(F.lit(1)).cast("double"), 6
        ).alias("keep_rate"),
    )
