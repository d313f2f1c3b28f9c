"""Text-analysis queries over the documents table (SURVEY.md §2.13).

The DuckDB oracles mirror each heuristic with list lambdas / regexps so the
value-hash validates the text pipeline end to end. Ratios and scores are
rational numbers computed by one identical double division on both engines —
bit-identical without rounding tricks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators._ckpt import tracked_persist
from ..functions import text as T
from ..operators.sampling import md5_u32
from .registry import query

_STOPSET_SQL = "['the', 'a', 'of', 'and', 'to']"  # == functions.text.STOPWORDS['en']


@query(
    "q_token_counts",
    oracle="""
    SELECT token, COUNT(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) t
    GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
    description="token counting: top-20 vocabulary (§2.13 text analysis; the count-vectorizer "
    "plan of trulia_csv_to_nlp.ipynb cell 12) — explode+groupBy, partial-agg friendly",
    tags=("text", "bench"),
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@query(
    "q_lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '),
                             x -> list_contains({_STOPSET_SQL}, x))) AS n_stop,
             len(string_split(text, ' ')) AS n_tok
      FROM documents)
    SELECT doc_id,
           n_stop / n_tok AS en_ratio,
           CASE WHEN n_stop / n_tok >= 0.04 THEN 'en' ELSE 'unk' END AS pred_lang
    FROM t
    """,
    description="language-ID heuristic: marker-token ratio (§2.13)",
    tags=("text",),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.stopword_ratio("text").alias("en_ratio"),
        T.predicted_lang("text").alias("pred_lang"),
    )


@query(
    "q_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tok,
             len(list_filter(string_split(text, ' '),
                             x -> list_contains({_STOPSET_SQL}, x))) AS n_stop,
             length(replace(text, ' ', '')) AS n_alpha
      FROM documents)
    SELECT doc_id,
           n_tok AS n_tokens,
           n_alpha / n_tok AS avg_token_len,
           n_stop / n_tok AS stop_ratio,
           (n_stop / n_tok) * 0.4 + least(n_tok / 100.0, 1.0) * 0.6 AS quality
    FROM t
    """,
    description="quality scoring: length/stopword/token-shape heuristics (§2.13)",
    tags=("text",),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.avg_token_len("text").alias("avg_token_len"),
        T.stopword_ratio("text").alias("stop_ratio"),
        T.quality_score("text").alias("quality"),
    )


@query(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
    FROM documents
    """,
    description="document fingerprint: md5 of normalized text (§2.13; solves the cross-table "
    "id TODO, 0-ToDo.md:54)",
    tags=("text",),
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", T.fingerprint("text").alias("fp")
    )


@query(
    "q_bpe_tokens",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]')) AS n_bpe,
           len(string_split(text, ' ')) AS n_ws
    FROM documents
    """,
    description="token counting, BPE-ish regex vs whitespace (§2.13 text analysis) — "
    "regexp_extract_all stays inside codegen, no Python tokenizer in the scan",
    tags=("text",),
)
def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.bpe_token_count("text").alias("n_bpe"),
        T.token_count("text").alias("n_ws"),
    )


@query(
    "q_rolling_fingerprint",
    oracle=None,  # crc32 has no DuckDB twin — rows-only ⊘; law-tested in tests/test_text_functions.py
    description="order-sensitive polynomial rolling-hash fingerprint over the token stream "
    "(§2.13 document fingerprinting) — array fold, JVM-side",
    tags=("text",),
)
def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", T.rolling_fingerprint("text").alias("rfp")
    )


# --------------------------------------------------------------------------
# Corpus-level TF-IDF term weighting — the count-vectorizer the reference
# planned ("Can use count vectorizer here… Use lemmetizer",
# trulia_csv_to_nlp.ipynb:461-462, cell 12) extended with the inverse-
# document-frequency weighting any training-corpus term ranking uses.
# Plan shape: explode → one partial+final aggregate keyed on token (tf and
# df computed together), then a scalar log on the tiny aggregated result —
# the expensive distributed part never touches a logarithm, so the one
# libm-dependent operation runs on identical integer inputs in both
# engines (rounded 6dp: a cross-libm 1-ulp wobble cannot move the 6th
# decimal except exactly at a rounding boundary, which binary doubles of
# these magnitudes never sit on).
# --------------------------------------------------------------------------


def _n_docs_df(docs: DataFrame) -> DataFrame:
    """Corpus cardinality as a 1-row in-plan frame (no eager driver count).

    Broadcast-cross-joined onto the aggregated (tiny) side by callers, so N
    is computed inside the same job instead of a separate driver-side
    ``.count()`` action. The N branch's scan reads ZERO columns (ReadSchema
    ``struct<>`` — asserted in tests/test_plan_quality.py): the vectorized
    parquet reader serves it from row-group row counts without decoding any
    column data, so at 100 TB it costs footer reads, not a data scan. This
    beats the literal single-scan alternative (rollup over the token stream)
    which would double the volume of the biggest shuffle to save those
    footer reads.
    """
    return docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))


@query(
    "q_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    stats AS (
      SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      FROM tok GROUP BY token)
    SELECT token, tf, df,
           ROUND(tf * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / df), 6) AS tfidf
    FROM stats ORDER BY tfidf DESC, token LIMIT 20
    """,
    description="corpus-level TF-IDF term ranking (§2.13 text analysis): tf+df in one "
    "aggregate over the exploded token stream; log applied post-aggregation on "
    "integer inputs so the distributed plan is libm-free",
    tags=("text",),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .crossJoin(F.broadcast(_n_docs_df(docs)))
        .select(
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
        .orderBy(F.desc("tfidf"), "token")
        .limit(20)
    )


# --------------------------------------------------------------------------
# PII redaction — the training-data hygiene pass every corpus pipeline runs
# before anything else. The synthetic documents contain no PII, so the
# query deterministically plants an email and a phone per row from doc_id
# (same construction in the oracle) and then strips both with regexes that
# mean the same thing in Java regex (Spark) and RE2 (DuckDB): character
# classes, \\d, \\b, bounded repetition only — no backreferences or
# lookaround. Pure codegen string ops; at 100 TB this is a map-only stage
# with zero shuffle.
# --------------------------------------------------------------------------

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{4}\b"


@query(
    "q_pii_redact",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw_text
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(raw_text,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM raw
    """,
    description="PII redaction (email+phone → placeholder tokens) over deterministically "
    "planted PII — map-only regexp_replace chain, shuffle-free, RE2/Java-regex-"
    "portable patterns",
    tags=("text",),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select("doc_id", redacted.alias("redacted"))


# --------------------------------------------------------------------------
# Binary-column metadata — the checked slice of the multimodal surface
# (operators/multimodal.py holds the decode/feature stubs). Payloads are
# synthesized deterministically by encoding the text column, then audited
# with the binary-typed operators a media pipeline runs before any codec:
# byte length, content hash, head-bytes sample. All codegen; the pattern
# proves binary columns flow through scan → expression → result without a
# Python boundary.
# --------------------------------------------------------------------------


@query(
    "q_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           base64(encode(substr(text, 1, 8))) AS head_b64
    FROM documents
    """,
    description="binary payload metadata audit (byte length, content hash, head-bytes "
    "sample) over deterministically synthesized binary columns — the checked "
    "slice of the multimodal surface, codegen-only",
    tags=("multimodal",),
)
def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
        F.base64(F.substring("text", 1, 8).cast("binary")).alias("head_b64"),
    )


# --------------------------------------------------------------------------
# Per-document TF-IDF top term — the classic per-doc weighting (q_tfidf is
# the corpus-level rollup). Composition: token explode → (doc, term) tf
# aggregate → broadcast-joined per-term df → score → deterministic argmax
# per doc (struct-max with term tiebreak, q_argmax's technique). The log
# again runs on integer inputs only, post-aggregation.
# --------------------------------------------------------------------------


@query(
    "q_tfidf_doc",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    scored AS (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / df.df), 6) AS s
      FROM tf JOIN df ON tf.token = df.token),
    m AS (
      SELECT doc_id, max(struct_pack(s := s, t := token)) AS best
      FROM scored GROUP BY doc_id)
    SELECT doc_id, best.t AS top_term, best.s AS top_score FROM m
    """,
    description="per-document TF-IDF top term: (doc,term) tf aggregate + broadcast df "
    "join + deterministic struct-max argmax per doc — log on integers only, "
    "post-aggregation",
    tags=("text",),
)
def q_tfidf_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df derived FROM tf, not from a second pass over the token stream:
    # tf already holds one row per (doc, token), so distinct docs per token
    # is a row count per token. The count is written SUM(SIGNUM(tf)) — tf is
    # always ≥1 so each row contributes exactly 1 — because a plain COUNT
    # gets rewritten by the optimizer into a tf-free distinct, which lets
    # column pruning specialize the partial aggregate under tf's exchange;
    # the two branches then canonicalize differently and AQE cannot reuse
    # the exchange, silently re-scanning + re-exploding the whole corpus.
    # SIGNUM keeps the tf reference unprunable → identical exchange subplans
    # → runtime ReusedExchange → ONE text scan (plan-asserted after
    # execution in tests/test_plan_quality.py).
    df = tf.groupBy("token").agg(F.sum(F.signum("tf")).cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(df.crossJoin(F.broadcast(_n_docs_df(docs)))), "token")
        .select(
            "doc_id",
            "token",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("s"),
        )
    )
    best = F.max(F.struct(F.col("s").alias("s"), F.col("token").alias("t"))).alias("best")
    return (
        scored.groupBy("doc_id")
        .agg(best)
        .select("doc_id", F.col("best.t").alias("top_term"), F.col("best.s").alias("top_score"))
    )


# --------------------------------------------------------------------------
# Context-window chunking — the pre-embedding step of every training
# corpus pipeline: overlapping fixed-size token windows per document.
# Entirely Catalyst: sequence() generates chunk starts, slice() cuts the
# token array, posexplode emits one row per chunk — no UDTF, no Python,
# map-only until the explode (which multiplies rows ~|tokens|/stride but
# never shuffles). Window 8 tokens, stride 4 (50% overlap).
# --------------------------------------------------------------------------

_CHUNK, _STRIDE = 8, 4


@query(
    "q_chunk_docs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks), 1) + 1, {_STRIDE})) AS start
      FROM t)
    SELECT doc_id,
           CAST((start - 1) / {_STRIDE} AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(toks, start, least(start + {_CHUNK} - 1, len(toks))), ' ')
             AS chunk_text,
           CAST(least(start + {_CHUNK} - 1, len(toks)) - start + 1 AS INT) AS n_tokens
    FROM s
    """,
    description="context-window chunking (8-token windows, stride 4, 50% overlap) — the "
    "pre-embedding corpus step; sequence+slice+explode, pure Catalyst, no UDTF, "
    "shuffle-free",
    tags=("text",),
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("toks")), F.lit(1)), F.lit(_STRIDE)
    )
    chunk = F.slice(F.col("toks"), F.col("start"), _CHUNK)
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            ((F.col("start") - 1) / _STRIDE).cast("long").alias("chunk_idx"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("n_tokens"),
        )
    )


# --------------------------------------------------------------------------
# The corpus pipeline capstone: chunk → fingerprint → exact near-dup
# removal → quality gate, composed from the catalog's own operators the
# way a production training-data job chains them (q_scrape_pipeline is
# the reference's production flow; this is the LLM-corpus equivalent).
# Shuffle inventory: ONE exchange (the dedup window on the fingerprint) —
# chunking, hashing and the quality gate are all map-side.
# --------------------------------------------------------------------------


@query(
    "q_corpus_pipeline",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks), 1) + 1, {_STRIDE})) AS start
      FROM t),
    chunks AS (
      SELECT doc_id,
             CAST((start - 1) / {_STRIDE} AS BIGINT) AS chunk_idx,
             array_to_string(list_slice(toks, start, least(start + {_CHUNK} - 1, len(toks))), ' ')
               AS chunk_text,
             least(start + {_CHUNK} - 1, len(toks)) - start + 1 AS n_tokens
      FROM s),
    fp AS (
      SELECT doc_id, chunk_idx, md5(chunk_text) AS fp, n_tokens,
             row_number() OVER (PARTITION BY md5(chunk_text)
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM chunks
      WHERE n_tokens = {_CHUNK})
    SELECT doc_id, chunk_idx, fp FROM fp WHERE rn = 1
    """,
    description="training-corpus pipeline capstone: chunk → md5 fingerprint → exact "
    "dedup keep-first → full-window quality gate, one shuffle total (the dedup "
    "window); the LLM-corpus twin of q_scrape_pipeline",
    tags=("text", "dedup", "bench"),
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    chunks = q_chunk_docs(spark, sf_dir).filter(F.col("n_tokens") == _CHUNK)
    w = Window.partitionBy("fp").orderBy("doc_id", "chunk_idx")
    return (
        chunks.withColumn("fp", F.md5(F.col("chunk_text").cast("binary")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "chunk_idx", "fp")
    )


# --------------------------------------------------------------------------
# Corpus mixing report — the "data recipe" table every pretraining run is
# built from: documents bucketed into quality deciles, then (source,
# decile) cells report doc counts and token budgets. Deliberately NOT a
# global NTILE window (that is a single-partition sort of the whole corpus
# — the one plan shape that cannot scale): decile boundaries come from ONE
# tiny percentile aggregate, get broadcast, and bucket assignment is a
# map-side comparison — the same boundaries+binning shape as q_histogram.
# At 100 TB the exact percentile becomes approx_percentile (mergeable
# sketch, q_percentile_sketch's rationale); the binning stays identical.
# --------------------------------------------------------------------------

@query(
    "q_corpus_mix",
    # Deciles are DISCRETE, by integer rank over the rounded-quality
    # histogram: decile(q6) = 1 + ⌊10·(docs strictly below q6)/n⌋. An
    # interpolated percentile boundary (quantile_cont vs Spark percentile)
    # can differ by 1 ulp between engines and flip every doc sitting exactly
    # on a boundary value — observed at sf0.1 — so no interpolation exists
    # anywhere in this plan; every comparison is integer arithmetic.
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS nt,
             (len(list_filter(string_split(text, ' '),
                              x -> list_contains({_STOPSET_SQL}, x)))
              / len(string_split(text, ' '))) * 0.4
             + least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.6 AS q
      FROM documents),
    s2 AS (SELECT source, nt, q, round(q, 6) AS q6 FROM scored),
    hist AS (SELECT q6, COUNT(*) AS cnt FROM s2 GROUP BY q6),
    w AS (
      SELECT q6, cnt,
             SUM(cnt) OVER (ORDER BY q6
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER () AS n
      FROM hist),
    m AS (SELECT q6, CAST(1 + (10 * (cum - cnt)) // n AS BIGINT) AS decile FROM w)
    SELECT source, decile,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(q AS DECIMAL(38,6))) AS DOUBLE) / COUNT(q) AS avg_quality
    FROM s2 JOIN m USING (q6)
    GROUP BY source, decile
    """,
    description="corpus mixing report (training-data recipe): quality-decile × source "
    "cells with doc counts and token budgets. Decile assignment is discrete integer "
    "rank over the rounded-quality histogram: one grouped count (partial-agg "
    "friendly), a cumulative window over DISTINCT quality values only (cardinality "
    "bounded by the 6dp rounding, not the corpus size), and a broadcast map join "
    "back — no global NTILE sort, no percentile interpolation; ties share a decile "
    "so the recipe is reproducible under any partitioning",
    tags=("text",),
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import davg

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        T.token_count("text").alias("nt"),
        T.quality_score("text").alias("q"),
    ).withColumn("q6", F.round("q", 6))
    hist = scored.groupBy("q6").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.orderBy("q6").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(F.lit(1))
    m = (
        hist.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(w_all))
        .select(
            "q6",
            (1 + F.expr("(10 * (cum - cnt)) div n")).cast("long").alias("decile"),
        )
    )
    return (
        scored.join(F.broadcast(m), "q6")
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            davg("q").alias("avg_quality"),
        )
    )


# --------------------------------------------------------------------------
# Bigram PMI collocations — the classic phrase-detection statistic (what
# word2phrase / gensim Phrases compute before tokenizer training). PMI =
# ln( p(xy) / (p(x)·p(y)) ) with p from unigram/bigram counts; high-PMI
# pairs co-occur far above chance → merge candidates for the vocabulary.
# Plan shape: one explode for unigrams + one adjacent-pair transform for
# bigrams (both map-only until their aggregates), corpus totals computed
# in-plan as broadcast scalar aggregates (the q_tfidf pattern — no eager
# count() on the driver), then one broadcast join per unigram side. All
# integer arithmetic until the final ln; identical double expression tree
# in both engines, rounded 6dp.
# --------------------------------------------------------------------------

_MIN_PAIR = 5  # ignore pairs rarer than this (PMI is noise at tiny counts)


@query(
    "q_bigram_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents),
    uni AS (
      SELECT unnest(t) AS w FROM toks),
    ucnt AS (
      SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS nu FROM ucnt),
    bi AS (
      -- adjacent pairs via zip-with-shifted-self; list_zip pads the tail
      -- with NULL (split tokens are never NULL, so the filter only drops
      -- the pad row)
      SELECT p[1] AS w1, p[2] AS w2
      FROM (SELECT unnest(list_zip(t, t[2:])) AS p FROM toks)
      WHERE p[2] IS NOT NULL),
    bcnt AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
    nb AS (SELECT CAST(SUM(c12) AS DOUBLE) AS nb FROM bcnt)
    SELECT b.w1, b.w2, b.c12,
           ROUND(ln((CAST(b.c12 AS DOUBLE) * nu.nu * nu.nu)
                    / (nb.nb * u1.c * u2.c)), 6) AS pmi
    FROM bcnt b
    JOIN ucnt u1 ON b.w1 = u1.w
    JOIN ucnt u2 ON b.w2 = u2.w
    CROSS JOIN nu CROSS JOIN nb
    WHERE b.c12 >= {_MIN_PAIR}
    ORDER BY pmi DESC, w1, w2 LIMIT 25
    """,
    description="bigram PMI collocation ranking (phrase detection for tokenizer/vocab "
    "construction): unigram + adjacent-pair aggregates with in-plan broadcast "
    "corpus totals; integer counts to the end, one ln rounded 6dp",
    tags=("text",),
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(T.tokens("text").alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nu = ucnt.agg(F.sum("c").cast("double").alias("nu"))
    # adjacent pairs: transform over the index range — map-only, no UDTF;
    # guard size<2 (sequence() would run DESCENDING for start > stop)
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.expr("transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))"),
            ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    bcnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    nb = bcnt.agg(F.sum("c12").cast("double").alias("nb"))
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("c12").cast("double") * F.col("nu") * F.col("nu"))
            / (F.col("nb") * F.col("c1") * F.col("c2"))
        ),
        6,
    )
    return (
        bcnt.filter(F.col("c12") >= _MIN_PAIR)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(25)
    )


@query(
    "q_heavy_hitters_sketch",
    oracle=None,  # ⊘ DataSketches frequent-items sketch — engine-specific binary,
    # accuracy-bound-tested against the exact q_token_counts in tests/test_approx.py
    description="approximate heavy hitters over the token stream via approx_top_k "
    "(DataSketches frequent-items): ONE pass, mergeable partial sketches, memory "
    "bounded by maxItemsTracked instead of vocabulary size — the 100 TB "
    "replacement for q_token_counts' exact groupBy when the vocabulary (URLs, "
    "n-grams, user-ids) no longer fits a shuffle; guarantees every item with "
    "frequency > N/maxItemsTracked surfaces, counts within the sketch's epsilon",
    tags=("text",),
)
def q_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .agg(F.expr("approx_top_k(token, 20, 4096)").alias("top"))
        .select(F.explode("top").alias("e"))
        .select(F.col("e.item").alias("token"), F.col("e.count").alias("n"))
    )


@query(
    "q_udtf_tokenize",
    # Python UDTF (Spark 3.5+/4 user-defined table function) — the declared
    # custom-operator escape hatch demonstrated on a case where the pure
    # relational twin exists, so the Python path is VALUE-CHECKED against
    # the engine-native answer (same contract as the mapInPandas HTML
    # extractor: Python at a boundary, correctness proven by oracle).
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS idx
    FROM documents
    """,
    description="positional tokenizer as a Python UDTF lateral join (the Spark 4 "
    "user-defined TABLE function surface — one input row to N output rows with "
    "per-row Python state allowed): value-checked against the pure unnest "
    "twin, so the Python boundary provably preserves semantics; at scale the "
    "codegen twin (q_token_counts' explode) is the hot path and the UDTF form "
    "is reserved for logic Catalyst cannot express (stateful tokenizers, "
    "sentencepiece models)",
    tags=("text",),
)
def q_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, idx: long")
    class PositionalTokens:
        def eval(self, text: str):
            if text:
                for i, w in enumerate(text.split(" ")):
                    yield w, i

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.lateralJoin(
        PositionalTokens(F.col("text").outer())
    ).select("doc_id", "word", "idx")


@query(
    "q_cooccurrence",
    # Token co-occurrence within a ±3 position window (the GloVe/PPMI
    # count-matrix precursor). The pair generator is a positional self-join
    # PER DOCUMENT: equi-join on doc_id with the window bound as a residual
    # — fan-out is O(tokens × window), never O(tokens²); ordered pairs are
    # canonicalized (a ≤ b) so the matrix is symmetric-upper.
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents)
    SELECT LEAST(a.w, b.w) AS w1, GREATEST(a.w, b.w) AS w2, COUNT(*) AS n
    FROM tok a JOIN tok b
      ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 3
    GROUP BY w1, w2
    ORDER BY n DESC, w1, w2 LIMIT 30
    """,
    description="token co-occurrence counts in a ±3 positional window (the count "
    "matrix GloVe/PPMI embeddings train on): per-document positional self-join "
    "— equi-join on doc_id with the window bound as a residual predicate, "
    "fan-out O(tokens × window) never O(tokens²); canonicalized unordered "
    "pairs, one grouped count, top-30 via TakeOrderedAndProject",
    tags=("text",),
)
def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    a = tok.select(F.col("doc_id").alias("d"), F.col("pos").alias("pa"), F.col("w").alias("wa"))
    b = tok.select(F.col("doc_id").alias("d2"), F.col("pos").alias("pb"), F.col("w").alias("wb"))
    pairs = a.join(
        b,
        (F.col("d") == F.col("d2"))
        & (F.col("pb") > F.col("pa"))
        & (F.col("pb") <= F.col("pa") + 3),
    )
    return (
        pairs.select(
            F.least("wa", "wb").alias("w1"), F.greatest("wa", "wb").alias("w2")
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(30)
    )


@query(
    "q_ppmi",
    # PPMI association over the ±3-window co-occurrence counts (the matrix
    # weighting word-embedding literature applies before factorization —
    # Levy & Goldberg 2014): every count is integer-aggregated in-plan
    # (pair counts, marginal counts, total) and the single log runs once
    # per surviving pair on identical integer ratios, rounded 6dp.
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents),
    pairs AS (
      SELECT LEAST(a.w, b.w) AS w1, GREATEST(a.w, b.w) AS w2, COUNT(*) AS n
      FROM tok a JOIN tok b
        ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 3
      GROUP BY w1, w2),
    marg AS (
      SELECT w1 AS w, CAST(SUM(n) AS BIGINT) AS m FROM (
        SELECT w1, n FROM pairs UNION ALL SELECT w2, n FROM pairs) u(w1, n)
      GROUP BY w),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM pairs)
    SELECT p.w1, p.w2, p.n,
           ROUND(ln(CAST(p.n AS DOUBLE) * t / (m1.m * CAST(m2.m AS DOUBLE))), 6)
             AS pmi
    FROM pairs p
    JOIN marg m1 ON p.w1 = m1.w
    JOIN marg m2 ON p.w2 = m2.w
    CROSS JOIN tot
    WHERE ln(CAST(p.n AS DOUBLE) * t / (m1.m * CAST(m2.m AS DOUBLE))) > 0
    ORDER BY pmi DESC, p.w1, p.w2 LIMIT 25
    """,
    description="positive PMI association scores over the ±3-window co-occurrence "
    "matrix (the weighting applied before factorizing into word embeddings, "
    "Levy & Goldberg 2014): pair/marginal/total counts all integer in-plan "
    "aggregates (marginals from a union of the pair list, broadcast back), one "
    "ln per surviving pair on identical integer ratios, positives only, "
    "top-25 via TakeOrderedAndProject",
    tags=("text",),
)
def q_ppmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    a = tok.select(F.col("doc_id").alias("d"), F.col("pos").alias("pa"), F.col("w").alias("wa"))
    b = tok.select(F.col("doc_id").alias("d2"), F.col("pos").alias("pb"), F.col("w").alias("wb"))
    pairs = (
        a.join(
            b,
            (F.col("d") == F.col("d2"))
            & (F.col("pb") > F.col("pa"))
            & (F.col("pb") <= F.col("pa") + 3),
        )
        .select(F.least("wa", "wb").alias("w1"), F.greatest("wa", "wb").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    marg = (
        pairs.select(F.col("w1").alias("w"), "n")
        .unionAll(pairs.select(F.col("w2").alias("w"), "n"))
        .groupBy("w")
        .agg(F.sum("n").alias("m"))
    )
    tot = pairs.agg(F.sum("n").alias("t"))
    m1 = marg.select(F.col("w").alias("mw1"), F.col("m").alias("m1"))
    m2 = marg.select(F.col("w").alias("mw2"), F.col("m").alias("m2"))
    pmi = (
        pairs.join(F.broadcast(m1), F.col("w1") == F.col("mw1"))
        .join(F.broadcast(m2), F.col("w2") == F.col("mw2"))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "pmi",
            F.log(
                F.col("n").cast("double") * F.col("t") / (F.col("m1") * F.col("m2").cast("double"))
            ),
        )
        .filter(F.col("pmi") > 0)
    )
    return (
        pmi.select("w1", "w2", "n", F.round("pmi", 6).alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(25)
    )


@query(
    "q_boilerplate",
    # Cross-document repeated-passage detection (the CCNet/C4 boilerplate
    # problem: headers, footers, templates recurring across pages): chunk
    # every document into non-overlapping 8-token passages, fingerprint,
    # and keep fingerprints appearing in 2+ DISTINCT documents. Chunking is
    # the q_chunk_docs construction at stride = chunk (no overlap — a
    # passage should count once per position); the report is one grouped
    # aggregate over the fingerprint key.
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks), 1) + 1, 8)) AS start
      FROM t),
    ch AS (
      SELECT doc_id,
             md5(array_to_string(
               list_slice(toks, start, least(start + 7, len(toks))), ' ')) AS fp
      FROM s
      WHERE least(start + 7, len(toks)) - start + 1 = 8)
    SELECT fp, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
    FROM ch GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, fp LIMIT 50
    """,
    description="cross-document repeated-passage (boilerplate) detection: non-"
    "overlapping 8-token passages fingerprinted per document, fingerprints kept "
    "when they recur in 2+ DISTINCT documents — the template/header removal "
    "signal CCNet/C4 pipelines compute before training; chunk+hash is map-only, "
    "then ONE grouped aggregate on the fingerprint (count + distinct-doc "
    "count), top-50 via TakeOrderedAndProject; partial 8-token tails excluded "
    "so every passage is the same shape",
    tags=("text", "dedup"),
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(8))
    chunk = F.slice(F.col("toks"), F.col("start"), 8)
    ch = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", F.explode(starts).alias("start"))
        .filter(
            F.least(F.col("start") + 7, F.size("toks")) - F.col("start") + 1 == 8
        )
        .select("doc_id", F.md5(F.array_join(chunk, " ")).alias("fp"))
    )
    return (
        ch.groupBy("fp")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "fp")
        .limit(50)
    )


@query(
    "q_inverted_index",
    # Search-index construction: token → document frequency + the head of the
    # sorted posting list. collect_set is partitioning-nondeterministic, so
    # the list is sorted before slicing and serialized to a string — the
    # stored layout is then byte-identical on any engine/cluster. The head
    # cap (20) bounds the per-token payload: at 100 TB the full posting list
    # of a stop-word would be the corpus itself; real indexes shard postings
    # by (token, doc_id range) — this query materializes the dictionary +
    # head shard, which is the broadcastable part. One explode scan + one
    # grouped aggregate (map-side combinable after the per-doc distinct).
    oracle="""
    WITH occ AS (
      SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents)
    SELECT tok,
           COUNT(*) AS df,
           array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 20), ',') AS postings_head
    FROM occ GROUP BY tok HAVING COUNT(*) >= 5
    """,
    description="inverted-index dictionary + posting-list heads (token → df + "
    "first 20 sorted doc ids as a string): per-doc distinct tokens, one grouped "
    "aggregate, deterministic sorted-then-sliced postings — the broadcastable "
    "dictionary shard of a search index; df ≥ 5 prunes the hapax tail",
    tags=("text",),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).distinct()
    return (
        occ.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 5)
    )


def _png_fixture_media(docs):
    """Deterministic greyscale-PNG fixture shared by q_image_decode and
    q_image_resize (and hard-coded in BOTH oracles' closed-form pixel
    recomputation — keep all four in sync): width 16 + id % 16, height
    16 + id % 8, pixel(i) = (id*31 + i*7) % 256, stdlib-encoded."""
    from collections.abc import Iterator

    import pandas as pd

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import png as _png

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 + d % 16, 16 + d % 8
                # vectorized: byte-identical to the per-pixel generator
                pixels = (
                    ((d * 31 + np.arange(w * h, dtype=np.int64) * 7) % 256)
                    .astype(np.uint8)
                    .tobytes()
                )
                payloads.append(_png.encode_gray(w, h, pixels))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return docs.mapInPandas(encode, "media_id bigint, payload binary")


@query(
    "q_image_decode",
    # The first ORACLE-CHECKED real-codec multimodal query. Each document id
    # deterministically defines a greyscale image (width 16 + id % 16,
    # height 16 + id % 8, pixel(i) = (id*31 + i*7) % 256); the Spark side
    # ENCODES it to a real PNG (pure-stdlib codec, functions/png.py) and
    # pushes the bytes through operators.multimodal.decode_media — the
    # actual Arrow-batched production decode stage, magic-byte sniffed,
    # Pillow or stdlib fallback — while the oracle recomputes the same
    # dimensions and mean luma from the closed-form pixel formula in pure
    # SQL. The decoded stats are exact-integer sums divided in the same
    # operand order on both sides, so the real decode path itself
    # hash-matches. At scale the encode stage is the test fixture standing
    # in for stored media bytes; decode_media is the real path.
    oracle="""
    WITH dims AS (
      SELECT doc_id, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h
      FROM documents),
    px AS (
      -- range() takes no lateral args in DuckDB: fixed 0..1023 (>= max w*h
      -- = 31*23) joined on i < w*h
      SELECT d.doc_id, d.w, d.h, ((d.doc_id * 31 + i.i * 7) % 256) AS v
      FROM dims d JOIN range(0, 1024) i(i) ON i.i < d.w * d.h)
    SELECT doc_id AS media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*) / 255.0, 6) AS mean_luma
    FROM px GROUP BY doc_id, w, h
    """,
    description="real-codec multimodal decode, hash-checked: deterministic "
    "greyscale PNGs (one per document, pixels a closed-form function of the "
    "id) encoded with the stdlib codec and decoded through the production "
    "mapInPandas decode_media stage (magic-byte sniff, Pillow-or-stdlib); "
    "the oracle recomputes dimensions + mean luma from the pixel formula in "
    "pure SQL — proving the Arrow decode path returns the right numbers, "
    "not just rows",
    tags=("multimodal",),
)
def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_media

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = _png_fixture_media(docs)
    out = decode_media(media)
    return out.select(
        "media_id", "width", "height", F.round("mean_luma", 6).alias("mean_luma")
    )


@query(
    "q_audio_decode",
    # The audio twin of q_image_decode, hash-checked through the REAL codec:
    # each document id deterministically defines a mono 16-bit PCM waveform
    # (rate 8000 Hz, n = 64 + id % 64 samples, sample(i) =
    # ((id*37 + i*101) % 4001) - 2000); the Spark side ENCODES it to a real
    # RIFF/WAV container (pure-stdlib codec, functions/wav.py) and pushes the
    # bytes through operators.multimodal.decode_audio — the actual
    # Arrow-batched production decode stage, magic-byte sniffed, stdlib
    # ``wave`` PCM parse — while the oracle recomputes channel count, rate,
    # sample count, duration and RMS from the closed-form sample formula in
    # pure SQL. RMS operand order mirrors wav.decode_stats exactly:
    # sqrt(exact-int Σv² / n) / 32768, so the real decode path hash-matches.
    # At scale the encode stage is the test fixture standing in for stored
    # media bytes; decode_audio is the real path (constant-memory iterator
    # of Arrow batches, no collect).
    oracle="""
    WITH dims AS (
      SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
    sm AS (
      -- range() takes no lateral args in DuckDB: fixed 0..127 (>= max n)
      -- joined on i < n
      SELECT d.doc_id, d.n,
             ((d.doc_id * 37 + i.i * 101) % 4001) - 2000 AS v
      FROM dims d JOIN range(0, 128) i(i) ON i.i < d.n)
    SELECT doc_id AS media_id,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           ROUND(CAST(n AS DOUBLE) / 8000.0, 6) AS duration_s,
           ROUND(sqrt(CAST(SUM(v * v) AS DOUBLE) / n) / 32768.0, 6) AS rms
    FROM sm GROUP BY doc_id, n
    """,
    description="real-codec audio decode, hash-checked: deterministic mono "
    "16-bit PCM waveforms (one per document, samples a closed-form function "
    "of the id) encoded to real RIFF/WAV containers with the stdlib codec "
    "and decoded through the production mapInPandas decode_audio stage "
    "(magic-byte sniff, stdlib wave PCM parse); the oracle recomputes "
    "channels/rate/samples/duration/RMS from the sample formula in pure SQL "
    "— proving the Arrow audio decode path returns the right numbers, not "
    "just rows; bench-tagged as the Arrow-batched Python-stage "
    "representative (encode+decode mapInPandas round trip)",
    tags=("multimodal", "bench"),
)
def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import decode_audio

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions import wav as _wav

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 64 + d % 64
                samples = [((d * 37 + i * 101) % 4001) - 2000 for i in range(n)]
                payloads.append(_wav.encode_pcm16(8000, samples))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(encode, "media_id bigint, payload binary")
    out = decode_audio(media)
    return out.select(
        "media_id",
        "n_channels",
        "sample_rate",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
    )


def _avi_fixture_media(docs):
    """Deterministic BI_RGB AVI fixture shared by q_video_decode and
    q_video_fingerprint (and hard-coded in BOTH oracles' closed-form frame
    recomputation — keep all four in sync): w = 8 + id % 8, h = 6 + id % 6,
    nf = 2 + id % 3, channel byte = (id*13 + f*17 + i*7) % 256."""
    from collections.abc import Iterator

    import pandas as pd

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import avi as _avi

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h, nf = 8 + d % 8, 6 + d % 6, 2 + d % 3
                # vectorized pattern gen: value depends on the pixel index
                # i, repeated across the 3 channels — byte-identical to the
                # per-pixel generator it replaced
                idx7 = np.arange(w * h, dtype=np.int64) * 7
                frames = [
                    np.repeat(
                        ((d * 13 + f * 17 + idx7) % 256).astype(np.uint8), 3
                    ).tobytes()
                    for f in range(nf)
                ]
                payloads.append(_avi.encode_rgb24(w, h, frames))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return docs.mapInPandas(encode, "media_id bigint, payload binary")


@query(
    "q_video_decode",
    # The video member of the real-codec multimodal family (image r05,
    # audio r07): each document id deterministically defines a short
    # grayscale clip (n_frames = 2 + id % 3, width 8 + id % 8, height
    # 6 + id % 6, pixel v(f,i) = (id*13 + f*17 + i*7) % 256 on all three
    # channels); the Spark side ENCODES it to a real RIFF/AVI container
    # with uncompressed BI_RGB DIB frames (pure-stdlib codec,
    # functions/avi.py) and pushes the bytes through
    # operators.multimodal.decode_video — the actual Arrow-batched
    # production decode stage, magic-byte sniffed, stdlib container demux +
    # DIB row unpack — while the oracle recomputes dimensions, frame count,
    # duration and mean luma from the closed-form pixel formula in pure
    # SQL. Grayscale fixtures make Σ(channel bytes)/(3whn) ≡ Σv/(whn) as a
    # rational, so one correctly-rounded double division hash-matches on
    # both sides. Compressed codecs remain the declared PyAV/ffmpeg
    # boundary (NotImplementedError in avi.py).
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             8 + doc_id % 8 AS w,
             6 + doc_id % 6 AS h,
             2 + doc_id % 3 AS nf
      FROM documents),
    px AS (
      -- range() takes no lateral args in DuckDB: fixed frame/pixel domains
      -- (>= max nf = 4, >= max w*h = 15*11 = 165) joined on the bounds
      SELECT d.doc_id, d.w, d.h, d.nf,
             ((d.doc_id * 13 + f.f * 17 + i.i * 7) % 256) AS v
      FROM dims d
      JOIN range(0, 4) f(f) ON f.f < d.nf
      JOIN range(0, 165) i(i) ON i.i < d.w * d.h)
    SELECT doc_id AS media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(nf AS INTEGER) AS n_frames,
           ROUND(nf * 40000 / 1000000.0, 6) AS duration_s,
           ROUND(CAST(SUM(v) AS DOUBLE) / (w * h * nf) / 255.0, 6) AS mean_luma
    FROM px GROUP BY doc_id, w, h, nf
    """,
    description="real-codec video decode, hash-checked: deterministic "
    "grayscale clips (one per document, pixels a closed-form function of "
    "the id) encoded to real RIFF/AVI containers with uncompressed BI_RGB "
    "DIB frames (stdlib codec) and decoded through the production "
    "mapInPandas decode_video stage (magic-byte sniff, stdlib demux + row "
    "unpack); the oracle recomputes width/height/frames/duration/mean-luma "
    "from the pixel formula in pure SQL — proving the Arrow video decode "
    "path returns the right numbers, not just rows",
    tags=("multimodal",),
)
def q_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import decode_video

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    media = _avi_fixture_media(docs)
    out = decode_video(media)
    return out.select(
        "media_id",
        "width",
        "height",
        "n_frames",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("mean_luma", 6).alias("mean_luma"),
    )


@query(
    "q_image_resize",
    # The REAL resize stage, hash-checked end to end: the q_image_decode
    # fixture PNGs (width 16 + id % 16, height 16 + id % 8, pixel(i) =
    # (id*31 + i*7) % 256) go through operators.multimodal.resize_media —
    # stdlib PNG decode, vectorized nearest-neighbor resample on the classic
    # floor mapping sy = y*h//H, sx = x*w//W, stdlib PNG re-encode — and the
    # resampled payload is then decoded AGAIN by the production decode_media
    # stage. The oracle never sees a byte: it recomputes every resampled
    # pixel from the closed-form mapping in pure SQL and aggregates the same
    # mean (identical operand order), so a hash match proves decode →
    # resample → encode → decode round-trips bit-exactly. strict=True on
    # both stages: nothing may silently stub. Map-only per stage, zero
    # shuffle, constant memory per Arrow batch.
    oracle="""
    WITH dims AS (
      SELECT doc_id, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h
      FROM documents),
    px AS (
      -- resized image is 12x9; j enumerates its pixels row-major:
      -- y = j // 12, x = j % 12, source index = (y*h//9)*w + (x*w//12)
      SELECT d.doc_id,
             ((d.doc_id * 31
               + (((j.j // 12) * d.h // 9) * d.w + ((j.j % 12) * d.w // 12)) * 7)
              % 256) AS v
      FROM dims d CROSS JOIN range(0, 108) j(j))
    SELECT doc_id AS media_id,
           CAST(12 AS INTEGER) AS width,
           CAST(9 AS INTEGER) AS height,
           ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*) / 255.0, 6) AS mean_luma
    FROM px GROUP BY doc_id
    """,
    description="real nearest-neighbor image resize, hash-checked: the "
    "deterministic greyscale PNGs are resampled to 12x9 by the production "
    "resize_media stage (stdlib decode, numpy index-gather on the floor "
    "mapping sy=y*h//H sx=x*w//W, stdlib re-encode) and re-decoded by "
    "decode_media; the oracle recomputes every resampled pixel from the "
    "closed-form mapping in pure SQL — the full decode-resample-encode-"
    "decode round trip must match bit-for-bit, strict mode on",
    tags=("multimodal",),
)
def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_media, resize_media

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = _png_fixture_media(docs)
    resized = resize_media(media, 12, 9, strict=True)
    out = decode_media(resized, strict=True)
    return out.select(
        "media_id", "width", "height", F.round("mean_luma", 6).alias("mean_luma")
    )


@query(
    "q_image_phash",
    # Perceptual image hashing (dHash — the published image near-dup
    # primitive): fixture PNGs go through the REAL resize stage to the
    # canonical 9x8 thumbnail, then the phash stage compares each pixel to
    # its right neighbor and packs the 64 booleans into two BIGINT halves
    # (bit 63 in one signed value would overflow). Images whose dHashes
    # sit within a few Hamming bits are near-duplicates — the image twin
    # of MinHash, and the downstream candidate join (group by hi half,
    # compare lo) is the same band-bucket shape. The oracle recomputes
    # every comparison from the closed-form pixel + floor-mapping
    # arithmetic in pure SQL, so decode -> resample -> encode -> decode ->
    # compare -> pack hash-matches end to end. Map-only, zero shuffle.
    oracle="""
    WITH dims AS (
      SELECT doc_id, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h
      FROM documents),
    g AS (
      -- 8x8 comparison grid over the 9x8 thumbnail, k = row*8 + col;
      -- left pixel (row, col), right pixel (row, col+1), both via the
      -- resize floor mapping sy = y*h//8, sx = x*w//9
      SELECT d.doc_id, k.k,
             ((d.doc_id * 31
               + (((k.k // 8) * d.h // 8) * d.w + ((k.k % 8) * d.w // 9)) * 7)
              % 256) AS v_l,
             ((d.doc_id * 31
               + (((k.k // 8) * d.h // 8) * d.w + (((k.k % 8) + 1) * d.w // 9)) * 7)
              % 256) AS v_r
      FROM dims d CROSS JOIN range(0, 64) k(k))
    SELECT doc_id AS media_id,
           CAST(SUM(CASE WHEN v_l > v_r AND k >= 32
                         THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)
                AS BIGINT) AS phash_hi,
           CAST(SUM(CASE WHEN v_l > v_r AND k < 32
                         THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
                AS BIGINT) AS phash_lo,
           CAST(SUM(CASE WHEN v_l > v_r THEN 1 ELSE 0 END) AS INTEGER)
             AS n_set_bits
    FROM g GROUP BY doc_id
    """,
    description="perceptual image dHash, hash-checked end to end: the real "
    "resize stage produces the canonical 9x8 thumbnail, the phash stage "
    "packs the 64 right-neighbor comparisons into two BIGINT halves, and "
    "the oracle recomputes every comparison from the closed-form pixel + "
    "floor-mapping arithmetic — the image twin of MinHash for near-dup "
    "detection; map-only, zero shuffle, 12 bytes per image downstream; "
    "bench-tagged as the round-9 media-fingerprint representative",
    tags=("multimodal", "dedup", "bench"),
)
def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_phash_from(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )


def _image_phash_from(docs: DataFrame) -> DataFrame:
    """The dHash chain (fixture encode → real resize → phash) over an
    arbitrary (doc_id) frame — stateless mapInPandas stages end to end,
    so the same chain fingerprints a STREAMING frame (q_stream_rep_gate's
    ingest position) with identical values."""
    from ..operators.multimodal import phash_media, resize_media

    media = _png_fixture_media(docs)
    thumbs = resize_media(media, 9, 8, strict=True)
    return phash_media(thumbs, strict=True)


_PHASH_SQL = """
    dims AS (
      SELECT doc_id, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h
      FROM documents),
    g AS (
      SELECT d.doc_id, k.k,
             ((d.doc_id * 31
               + (((k.k // 8) * d.h // 8) * d.w + ((k.k % 8) * d.w // 9)) * 7)
              % 256) AS v_l,
             ((d.doc_id * 31
               + (((k.k // 8) * d.h // 8) * d.w + (((k.k % 8) + 1) * d.w // 9)) * 7)
              % 256) AS v_r
      FROM dims d CROSS JOIN range(0, 64) k(k)),
    ph AS MATERIALIZED (
      SELECT doc_id AS media_id,
             CAST(SUM(CASE WHEN v_l > v_r AND k >= 32
                           THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)
                  AS BIGINT) AS phash_hi,
             CAST(SUM(CASE WHEN v_l > v_r AND k < 32
                           THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
                  AS BIGINT) AS phash_lo
      FROM g GROUP BY doc_id)"""


@query(
    "q_image_neardup_phash",
    # The dHash CONSUMER — image near-duplicate pairs by Hamming-banded
    # join, the image twin of MinHash-LSH banding: the two 32-bit hash
    # halves act as 2 bands (a pair within Hamming distance <= 6 of 64
    # bits has a fair chance one half matches exactly; at production
    # scale use 4x16-bit bands for distance guarantees — same shape),
    # candidates from the per-band equi-joins only, then the EXACT
    # distance check bit_count(xor(hi)) + bit_count(xor(lo)) — integer
    # ops both engines compute identically. The fixture corpus plants
    # real duplicates: doc ids 256 apart have identical dims and pixels
    # ((id*31) mod 256 period), so the join must surface them at
    # distance 0. Never all-pairs; the hash side is 12 bytes per image.
    oracle=f"""
    WITH {_PHASH_SQL},
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             a.phash_hi AS ha, a.phash_lo AS la,
             b.phash_hi AS hb, b.phash_lo AS lb
      FROM ph a JOIN ph b
        ON a.media_id < b.media_id
       AND (a.phash_hi = b.phash_hi OR a.phash_lo = b.phash_lo))
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT)
             AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 6
    """,
    description="image near-dup pairs via Hamming-banded dHash join: the two "
    "32-bit halves are the bands (candidates require an EXACT half match — "
    "a pair whose <= 6 differing bits split across both halves is missed, "
    "the standard LSH banding recall trade; never all-pairs), then the "
    "exact bit_count(xor) distance filter keeps surviving pairs at "
    "Hamming <= 6 — the image twin of MinHash-LSH; the fixture plants "
    "identical images 256 ids apart which must surface at distance 0",
    tags=("multimodal", "dedup"),
)
def q_image_neardup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import phash_media, resize_media

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = _png_fixture_media(docs)
    ph = phash_media(resize_media(media, 9, 8, strict=True), strict=True).select(
        "media_id", "phash_hi", "phash_lo"
    )
    # the two 32-bit halves are the two bands
    return (
        _banded_cands_spark(ph, 32)
        .withColumn("hamming", _phash_hamming().cast("bigint"))
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b", "hamming")
    )


def _phash_band_exprs(width: int, shift_op: str) -> list[str]:
    """Band-value expressions slicing the (phash_hi, phash_lo) 64-bit hash
    into 64/width contiguous bands — identical integer arithmetic rendered
    for either engine (shift_op: Spark ``shiftright({h}, {s})``, DuckDB
    ``({h} >> {s})``)."""
    mask = (1 << width) - 1
    out = []
    for half in ("phash_lo", "phash_hi"):
        for j in range(32 // width):
            if width == 32:
                out.append(half)
            else:
                out.append(
                    "(" + shift_op.format(h=half, s=j * width) + f" & {mask})"
                )
    return out


def _phash_bands_spark(width: int) -> str:
    exprs = _phash_band_exprs(width, "shiftright({h}, {s})")
    pairs = ", ".join(f"{i}, {e}" for i, e in enumerate(exprs))
    return f"stack({len(exprs)}, {pairs}) AS (bd, bval)"


def _phash_bands_duck(width: int) -> str:
    exprs = _phash_band_exprs(width, "({h} >> {s})")
    bds = ", ".join(str(i) for i in range(len(exprs)))
    return (
        f"unnest([{bds}]) AS bd, unnest([" + ", ".join(exprs) + "]) AS bval"
    )


def _banded_cand_duck(width: int, src: str = "ph") -> str:
    """DuckDB candidate-pair CTE body for one band layout: unpivot bands,
    equi-join on (bd, bval), carry both hash halves for the distance."""
    return f"""
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             a.phash_hi AS ha, a.phash_lo AS la,
             b.phash_hi AS hb, b.phash_lo AS lb
      FROM (SELECT media_id, phash_hi, phash_lo, {_phash_bands_duck(width)}
            FROM {src}) a
      JOIN (SELECT media_id, phash_hi, phash_lo, {_phash_bands_duck(width)}
            FROM {src}) b
        ON a.bd = b.bd AND a.bval = b.bval AND a.media_id < b.media_id"""


def _banded_cands_spark(ph, width: int):
    """Spark candidate pairs for one band layout: stack-unpivot the hash
    into (band, bkey) rows, take operators.dedup.band_pairs (never
    all-pairs — the MinHash-LSH band-bucket shape), then re-attach both
    hash halves by id so the exact distance needs no corpus rescan.

    The hash frame is tracked_persist-ed: the band table and both attach
    dims consume it, and phash_media's PNG-decode mapInPandas chain would
    otherwise re-run per consumer. Hashes re-attach broadcast when the
    source scan is provably tiny, plain equi-join at production sizes."""
    from ..layout import broadcast_if_tiny
    from ..operators._ckpt import tracked_persist
    from ..operators.dedup import band_pairs

    ph = tracked_persist(ph)
    cand = band_pairs(
        ph.selectExpr("media_id", _phash_bands_spark(width)).toDF("id", "band", "bkey")
    )
    ha = broadcast_if_tiny(
        ph.select(
            F.col("media_id").alias("id_a"),
            F.col("phash_hi").alias("ha"),
            F.col("phash_lo").alias("la"),
        ),
        ph,
    )
    hb = broadcast_if_tiny(
        ph.select(
            F.col("media_id").alias("id_b"),
            F.col("phash_hi").alias("hb"),
            F.col("phash_lo").alias("lb"),
        ),
        ph,
    )
    return cand.join(ha, "id_a").join(hb, "id_b").select(
        "id_a", "id_b", "ha", "la", "hb", "lb"
    )


def _phash_hamming():
    return F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) + F.bit_count(
        F.col("la").bitwiseXOR(F.col("lb"))
    )


@query(
    "q_image_neardup_banded",
    # q_image_neardup_phash with the production band layout: 4x16-bit
    # Hamming bands instead of the 2x32-bit halves. Pigeonhole: a pair at
    # Hamming distance d <= 3 MUST match one 16-bit band exactly (4 bands
    # can absorb at most 3 differing bits without one staying clean), so
    # candidacy is GUARANTEED through d=3 where the half-match layout only
    # guarantees d <= 1; for d in 4..6 recall is still strictly higher
    # (more, narrower bands). Candidates only from the per-band equi-join
    # (the MinHash-LSH band-bucket shape, never all-pairs), then the exact
    # bit_count(xor) <= 6 verification. q_image_band_recall measures both
    # layouts against a provably complete 8x8-bit truth side.
    oracle=f"""
    WITH {_PHASH_SQL},
    cand AS ({_banded_cand_duck(16)})
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT)
             AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 6
    """,
    description="image near-dup pairs via 4x16-bit Hamming-banded dHash "
    "join — the production layout: pigeonhole guarantees any pair at "
    "distance <= 3 shares an exact 16-bit band (the 2x32 half-match "
    "layout only guarantees <= 1), candidates from per-band equi-joins "
    "only (never all-pairs), then the exact bit_count(xor) <= 6 gate; "
    "recall vs the half-match layout is measured by q_image_band_recall",
    tags=("multimodal", "dedup"),
)
def q_image_neardup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import phash_media, resize_media

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = _png_fixture_media(docs)
    ph = phash_media(resize_media(media, 9, 8, strict=True), strict=True).select(
        "media_id", "phash_hi", "phash_lo"
    )
    return (
        _banded_cands_spark(ph, 16)
        .withColumn("hamming", _phash_hamming().cast("bigint"))
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b", "hamming")
    )


@query(
    "q_image_band_recall",
    # The band-layout tuning harness for Hamming-banded image dedup — the
    # dHash mirror of q_lsh_band_sweep: both candidate layouts (the 2x32
    # half-match join and the 4x16 production bands) evaluated against a
    # PROVABLY COMPLETE ground truth. Truth side = candidates from 8x8-bit
    # bands + the exact d <= 6 gate: 8 bands can absorb at most 7
    # differing bits with every band dirty, so any pair at d <= 7 (a
    # superset of the d <= 6 truth) matches one 8-bit band exactly — the
    # truth join is itself band-bucketed, NEVER all-pairs, yet misses
    # nothing. Per (layout, distance-bin) the report counts truth pairs,
    # raw candidates (d capped at 7 = the junk-candidate bin — the
    # precision cost of narrower bands), detected pairs and recall; the
    # pigeonhole rows are the check: recall must be exactly 1.0 for
    # d <= 1 (2x32) and d <= 3 (4x16).
    oracle=f"""
    WITH {_PHASH_SQL},
    truth AS (
      SELECT id_a, id_b,
             bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS d
      FROM ({_banded_cand_duck(8)}) t8
      WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 6),
    c32 AS (
      SELECT 'b2x32' AS layout, id_a, id_b,
             bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS d
      FROM ({_banded_cand_duck(32)}) t32),
    c16 AS (
      SELECT 'b4x16' AS layout, id_a, id_b,
             bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS d
      FROM ({_banded_cand_duck(16)}) t16),
    cands AS (SELECT * FROM c32 UNION ALL SELECT * FROM c16),
    truthx AS (
      SELECT l.layout, t.id_a, t.id_b, t.d
      FROM truth t CROSS JOIN (VALUES ('b2x32'), ('b4x16')) l(layout)),
    joined AS (
      SELECT COALESCE(t.layout, c.layout) AS layout,
             LEAST(COALESCE(t.d, c.d), 7) AS d_bin,
             CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_truth,
             CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
      FROM truthx t FULL OUTER JOIN cands c
        ON t.layout = c.layout AND t.id_a = c.id_a AND t.id_b = c.id_b)
    SELECT layout, CAST(d_bin AS BIGINT) AS d_bin,
           CAST(SUM(is_truth) AS BIGINT) AS n_pairs,
           CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
           CAST(SUM(is_truth * is_cand) AS BIGINT) AS n_detected,
           CASE WHEN SUM(is_truth) > 0
                THEN CAST(SUM(is_truth * is_cand) AS DOUBLE)
                     / CAST(SUM(is_truth) AS BIGINT)
           END AS recall
    FROM joined GROUP BY layout, d_bin
    """,
    description="Hamming band-layout recall harness (the dHash mirror of "
    "q_lsh_band_sweep): 2x32 half-match vs 4x16 production bands, both "
    "measured per distance bin against a provably complete 8x8-band "
    "ground truth (pigeonhole at d <= 7, so the truth join is itself "
    "band-bucketed and never all-pairs); reports truth pairs, raw "
    "candidates (junk bin d_bin=7), detected and recall — recall is "
    "exactly 1.0 through d=1 (2x32) and d=3 (4x16) by construction",
    tags=("multimodal", "dedup"),
)
def q_image_band_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators._ckpt import tracked_persist
    from ..operators.multimodal import phash_media, resize_media

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = _png_fixture_media(docs)
    ph = tracked_persist(
        phash_media(resize_media(media, 9, 8, strict=True), strict=True).select(
            "media_id", "phash_hi", "phash_lo"
        )
    )
    d = _phash_hamming().cast("bigint")
    truth = (
        _banded_cands_spark(ph, 8)
        .withColumn("d", d)
        .filter(F.col("d") <= 6)
        .select("id_a", "id_b", "d")
    )
    cands = None
    for layout, width in (("b2x32", 32), ("b4x16", 16)):
        c = (
            _banded_cands_spark(ph, width)
            .withColumn("d", d)
            .select(F.lit(layout).alias("layout"), "id_a", "id_b", "d")
        )
        cands = c if cands is None else cands.unionByName(c)
    layouts = spark.createDataFrame([("b2x32",), ("b4x16",)], "layout string")
    truthx = truth.crossJoin(F.broadcast(layouts)).withColumn("tr", F.lit(1))
    candsx = cands.withColumn("ca", F.lit(1))
    joined = truthx.join(
        candsx.withColumnRenamed("d", "dc"),
        ["layout", "id_a", "id_b"],
        "full_outer",
    ).select(
        "layout",
        F.least(F.coalesce("d", "dc"), F.lit(7)).alias("d_bin"),
        F.coalesce("tr", F.lit(0)).alias("is_truth"),
        F.coalesce("ca", F.lit(0)).alias("is_cand"),
    )
    return (
        joined.groupBy("layout", F.col("d_bin").cast("bigint").alias("d_bin"))
        .agg(
            F.sum("is_truth").cast("bigint").alias("n_pairs"),
            F.sum("is_cand").cast("bigint").alias("n_candidates"),
            F.sum(F.col("is_truth") * F.col("is_cand"))
            .cast("bigint")
            .alias("n_detected"),
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
    "q_audio_fingerprint",
    # Energy-contour audio fingerprinting through the REAL codec chain:
    # the q_audio_decode fixture waveforms (sample(i) = ((id*37 + i*101)
    # % 4001) - 2000, n = 64 + id % 64) are encoded to real RIFF/WAV,
    # decoded by the stdlib PCM parser, split into 8 windows (sample i ->
    # window 8*i//n), per-window energy Σv² as exact integers, and bit w
    # of the fingerprint set iff E_{w+1} > E_w — the contour hash real
    # audio fingerprinting builds on (contours survive volume changes).
    # The oracle recomputes every energy from the closed-form sample
    # formula in pure SQL; everything is integer arithmetic, so the hash
    # check is exact. Group-by-fp downstream is the audio near-dup
    # candidate join (the MinHash/dHash band shape). Map-only.
    oracle="""
    WITH dims AS (
      SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
    sm AS (
      SELECT d.doc_id, d.n, (8 * i.i) // d.n AS w,
             ((d.doc_id * 37 + i.i * 101) % 4001) - 2000 AS v
      FROM dims d JOIN range(0, 128) i(i) ON i.i < d.n),
    e AS (
      SELECT doc_id, w, CAST(SUM(v * v) AS BIGINT) AS e
      FROM sm GROUP BY doc_id, w)
    SELECT a.doc_id AS media_id,
           CAST(SUM(CASE WHEN b.e > a.e THEN (CAST(1 AS BIGINT) << a.w)
                         ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(a.e) + MAX(CASE WHEN a.w = 6 THEN b.e END) AS BIGINT)
             AS e_total
    FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.w = a.w + 1
    GROUP BY a.doc_id
    """,
    description="energy-contour audio fingerprint through the real WAV codec "
    "chain, hash-checked: 8 integer window energies per clip, bit w set iff "
    "the energy rises into window w+1 — the contour hash published audio "
    "fingerprinting builds on; oracle recomputes every energy from the "
    "closed-form sample formula, all integer arithmetic; group-by-fp is the "
    "audio near-dup candidate join (the MinHash/dHash band shape)",
    tags=("multimodal", "dedup"),
)
def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _audio_fp_from(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )


def _audio_fp_from(docs: DataFrame) -> DataFrame:
    """WAV-fixture encode → real audio fingerprint over an arbitrary
    (doc_id) frame — stateless, so it also fingerprints a streaming frame
    (q_stream_rep_gate)."""
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import audio_fingerprint

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions import wav as _wav

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 64 + d % 64
                samples = [((d * 37 + i * 101) % 4001) - 2000 for i in range(n)]
                payloads.append(_wav.encode_pcm16(8000, samples))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(encode, "media_id bigint, payload binary")
    return audio_fingerprint(media, n_windows=8, strict=True)


@query(
    "q_video_fingerprint",
    # The video member of the fingerprint trilogy (image dHash, audio
    # energy contour, video TEMPORAL contour): the q_video_decode fixture
    # AVIs (frame pixel channel = (id*13 + f*17 + i*7) % 256, w = 8+id%8,
    # h = 6+id%6, nf = 2+id%3) decode through the stdlib BI_RGB demuxer;
    # per-frame exact-integer byte sums; bit f set iff frame f+1 is
    # brighter than frame f — the temporal-signature shape real video
    # near-dup systems build on. All integers; the oracle recomputes every
    # frame sum closed-form. Map-only, zero shuffle.
    oracle="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h,
             2 + doc_id % 3 AS nf
      FROM documents),
    px AS (
      SELECT d.doc_id, f.f,
             CAST(3 AS BIGINT)
               * SUM((d.doc_id * 13 + f.f * 17 + i.i * 7) % 256) AS e
      FROM dims d
      JOIN range(0, 4) f(f) ON f.f < d.nf
      JOIN range(0, 168) i(i) ON i.i < d.w * d.h
      GROUP BY d.doc_id, f.f),
    et AS (SELECT doc_id, CAST(SUM(e) AS BIGINT) AS e_total
           FROM px GROUP BY doc_id),
    ctr AS (
      SELECT a.doc_id,
             CAST(SUM(CASE WHEN b.e > a.e THEN (CAST(1 AS BIGINT) << a.f)
                           ELSE 0 END) AS BIGINT) AS fp
      FROM px a JOIN px b ON a.doc_id = b.doc_id AND b.f = a.f + 1
      GROUP BY a.doc_id)
    SELECT ctr.doc_id AS media_id, ctr.fp, et.e_total
    FROM ctr JOIN et USING (doc_id)
    """,
    description="temporal energy-contour video fingerprint through the real "
    "AVI demuxer, hash-checked: per-frame exact-integer byte sums, bit f "
    "set iff frame f+1 is brighter — the temporal-signature shape video "
    "near-dup systems build on; completes the media fingerprint trilogy "
    "(image dHash, audio contour, video contour); all integer arithmetic, "
    "oracle recomputes every frame sum closed-form; map-only",
    tags=("multimodal", "dedup"),
)
def q_video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _video_fp_from(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )


def _video_fp_from(docs: DataFrame) -> DataFrame:
    """AVI-fixture encode → real video fingerprint over an arbitrary
    (doc_id) frame — stateless, so it also fingerprints a streaming frame
    (q_stream_rep_gate)."""
    from ..operators.multimodal import video_fingerprint

    return video_fingerprint(_avi_fixture_media(docs), strict=True)


@query(
    "q_rolling_fingerprint_portable",
    # The order-sensitive fingerprint, hash-checked: q_rolling_fingerprint's
    # crc32 base hash has no DuckDB twin, so this variant derives per-token
    # hashes from md5 (the portable-hash recipe shared with the MinHash /
    # sketch twins) and folds them with the same polynomial recurrence
    # h = (h*31 + tok) mod (2^31 - 1) — an ordered fold over the token
    # ARRAY, whose order is data-defined, not partitioning-defined, so the
    # value is stable on any cluster and reproducible in SQL via
    # list_reduce. Seed = first token's hash on both sides (list_reduce has
    # no explicit zero); intermediate magnitudes stay below 2^38, far from
    # int64 overflow on either engine. Map-only, zero shuffle, pure codegen.
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(t, x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT))
               AS hs
      FROM t)
    SELECT doc_id,
           CAST(list_reduce(hs, (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT)
             AS rfp
    FROM h
    """,
    description="portable order-sensitive document fingerprint: md5-derived "
    "per-token hashes folded with h = (h*31 + tok) mod (2^31 - 1) over the "
    "token array — sequence-sensitive (reordered tokens change the value, "
    "unlike set-based fingerprints), map-only and shuffle-free, and the fold "
    "order is array-defined so the value hash-matches DuckDB's list_reduce; "
    "the checked twin of q_rolling_fingerprint's crc32 fast path",
    tags=("text", "pipeline"),
)
def q_rolling_fingerprint_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hs = F.transform(F.split(F.col("text"), " "), lambda x: md5_u32(x))
    rfp = F.expr(
        "aggregate(slice(hs, 2, size(hs) - 1), hs[0],"
        " (a, x) -> (a * 31 + x) % 2147483647)"
    )
    return docs.select("doc_id", hs.alias("hs")).select(
        "doc_id", rfp.cast("bigint").alias("rfp")
    )


def _pair_cte_sql(i: int, p: int) -> str:
    """Corpus-weighted adjacent-pair counts over round p's sequences —
    shared by the BPE and WordPiece round builders (single source for the
    pair-extraction semantics)."""
    return f"""
    p{i} AS (
      SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, unnest(list_transform(
               list_filter(list_zip(l, l[2:]), q -> q[2] IS NOT NULL),
               q -> [q[1], q[2]])) AS pr
            FROM (SELECT freq, string_split(seq, ' ') AS l FROM s{p}))
      GROUP BY pr[1], pr[2])"""


def _rewrite_cte_sql(i: int, p: int) -> str:
    """The exact canonical greedy left-to-right merge fold (the proven
    list_reduce twin of the Spark aggregate() fold) — single-sourced so a
    future fix cannot be applied to one trainer and silently missed by the
    other."""
    return f"""
    s{i} AS (
      SELECT w, freq,
             list_reduce(string_split(seq, ' '),
               (acc, x) -> CASE WHEN (acc = m{i}.a OR ends_with(acc, ' ' || m{i}.a))
                                     AND x = m{i}.b
                           THEN acc || m{i}.b ELSE acc || ' ' || x END) AS seq
      FROM s{p} CROSS JOIN m{i})"""


def _bpe_round_sql(i: int) -> str:
    p = i - 1
    return (
        _pair_cte_sql(i, p)
        + f""",
    m{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),"""
        + _rewrite_cte_sql(i, p)
    )


@query(
    "q_bpe_merges_portable",
    # BPE merge TRAINING, hash-checked — the tokenizer-learning step a
    # training-data pipeline runs over its corpus (q_bpe_tokens only counts
    # with a fixed regex; this LEARNS the merge table). 3 unrolled rounds:
    # word frequencies -> char-level symbol sequences -> corpus-weighted
    # adjacent-pair counts -> argmax pair under a total (count desc, a, b)
    # order -> EXACT canonical greedy left-to-right merge applied to every
    # sequence via an ordered string fold (Spark aggregate() over the
    # symbol array == DuckDB list_reduce, verified identical on runs and
    # alternations: 'aaaaa'/(a,a) -> 'aa aa a', 'ababab'/(a,b) ->
    # 'ab ab ab' — the earlier replace()-based variant under-merged
    # alternating occurrences and mis-segmented odd runs), so each round's
    # rewritten sequences — and therefore the next round's pair statistics
    # — are string-identical across engines AND conform to the canonical
    # BPE trainer; the learned (round, left, right, weighted-count) table
    # hash-matches. All integer
    # and string ops, no floats anywhere. Scale shape: pair counting is one
    # explode + partial-agg shuffle over the DISTINCT-WORD table (vocab-
    # sized, not corpus-sized — the corpus weight rides along as freq), the
    # argmax is a 1-row TakeOrdered broadcast back into the rewrite; rounds
    # are driver-unrolled exactly like any iterative fit.
    oracle="WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),\n"
    "    w AS (SELECT w, COUNT(*) AS freq FROM tok WHERE w <> '' GROUP BY w),\n"
    "    s0 AS (SELECT w, freq, array_to_string(string_split(w, ''), ' ') AS seq FROM w),"
    + ",".join(_bpe_round_sql(i) for i in (1, 2, 3))
    + """
    SELECT CAST(1 AS INTEGER) AS rnd, a, b, cnt FROM m1
    UNION ALL SELECT 2, a, b, cnt FROM m2
    UNION ALL SELECT 3, a, b, cnt FROM m3
    """,
    description="BPE merge training, hash-checked: 3 unrolled rounds of "
    "corpus-weighted adjacent-pair counting over char-level symbol "
    "sequences of the distinct-word table, deterministic argmax (count "
    "desc, pair asc), EXACT canonical greedy left-to-right merge via an "
    "ordered string fold (aggregate == list_reduce, boundary-aware suffix "
    "check) — the learned merge table itself hash-matches; vocab-sized "
    "shuffles, corpus weight carried as a frequency column",
    tags=("text", "pipeline"),
)
def q_bpe_merges_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges, _ = _bpe_chain(docs)
    return merges[0].unionByName(merges[1]).unionByName(merges[2])


# The exact canonical greedy left-to-right merge: fold the symbol stream
# into a space-joined string, appending _b WITHOUT a delimiter when the
# accumulated string's last TOKEN is _a (boundary = the ' '||_a suffix
# check; a merge product _a||_b can never string-equal _a, so a token just
# created by this round's merge never re-merges as left).
# 'a a a a a'/(a,a) -> 'aa aa a', 'a b a b'/(a,b) -> 'ab ab' —
# bitwise-matched by DuckDB's list_reduce twin (_rewrite_cte_sql).
# SINGLE-SOURCED: both trainers fold with this exact expression.
_GREEDY_FOLD_EXPR = (
    "aggregate(slice(l, 2, size(l) - 1), l[0], (acc, x) -> "
    "IF((acc = _a OR endswith(acc, concat(' ', _a))) AND x = _b, "
    "concat(acc, _b), concat(acc, ' ', x))) AS seq"
)


def _merge_trainer_chain(docs: DataFrame, best_for_round):
    """Shared scaffolding for the merge-table trainers (BPE, WordPiece):
    distinct-word base with corpus frequency, char-level sequence init,
    per-round corpus-weighted adjacent-pair counts, and the proven greedy
    rewrite fold. ``best_for_round(s, pairs, rnd)`` supplies the one thing
    the families disagree on — the argmax objective — and must return a
    1-row frame whose first three columns are (rnd, a, b).
    Returns (per-round merge frames, final rewritten sequences)."""
    w = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        # vocab-sized; persisted because every round's pair count AND the
        # rewrite chain re-reads it — CacheManager dedupes re-invocations;
        # tracked so clear_pipeline_cache releases it at session scope
    )
    w = tracked_persist(w)
    s = w.select("w", "freq", F.concat_ws(" ", F.split("w", "")).alias("seq"))
    merges = []
    for rnd in (1, 2, 3):
        # each round's s feeds 2-3 consumers (the pair count, the family's
        # uni count, the next round's rewrite) and each round's 1-row best
        # feeds two (the merge output + the rewrite's broadcast join) —
        # unpersisted, round 3 re-evaluated the whole rewrite lineage of
        # rounds 1-2 once per consumer (r16, guide §7.2 duplicated
        # subtrees; measured 5.8 s → 1.6 s action on the wordpiece form).
        # Everything persisted here is distinct-word/1-row sized.
        s = tracked_persist(s)
        symbols = F.split(F.col("seq"), " ")
        prs = F.zip_with(
            F.slice(symbols, 1, F.size(symbols) - 1),
            F.slice(symbols, 2, F.size(symbols) - 1),
            lambda x, y: F.array(x, y),
        )
        pairs = (
            s.select("freq", F.explode(prs).alias("pr"))
            .groupBy(F.col("pr")[0].alias("a"), F.col("pr")[1].alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = tracked_persist(best_for_round(s, pairs, rnd))
        merges.append(best)
        bj = best.select(F.col("a").alias("_a"), F.col("b").alias("_b"))
        s = (
            s.crossJoin(F.broadcast(bj))
            # bind the symbol array once (Catalyst does not CSE in lambdas)
            .select("w", "freq", "_a", "_b", F.split("seq", " ").alias("l"))
            .selectExpr("w", "freq", _GREEDY_FOLD_EXPR)
        )
    return merges, s


def _bpe_chain(docs: DataFrame):
    """Three unrolled BPE training rounds over the distinct-word table.

    Returns (per-round 1-row merge frames, the final rewritten sequence
    frame) — the latter IS the learned tokenizer applied to the vocabulary,
    which q_bpe_encode joins back onto the corpus. Scaffolding shared with
    the WordPiece trainer via :func:`_merge_trainer_chain`; BPE's argmax is
    the raw pair count under the total (count desc, a, b) order.
    """

    def best(s, pairs, rnd):
        return (
            pairs.orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .select(F.lit(rnd).alias("rnd"), "a", "b", "cnt")
        )

    return _merge_trainer_chain(docs, best)


def _wp_round_sql(i: int) -> str:
    p = i - 1
    return (
        f"""
    u{i} AS (
      SELECT sym, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, unnest(string_split(seq, ' ')) AS sym FROM s{p})
      GROUP BY sym),"""
        + _pair_cte_sql(i, p)
        + f""",
    m{i} AS (
      SELECT p{i}.a AS a, p{i}.b AS b, p{i}.cnt AS cnt,
             ua.cnt AS cnt_a, ub.cnt AS cnt_b
      FROM p{i}
      JOIN u{i} ua ON ua.sym = p{i}.a
      JOIN u{i} ub ON ub.sym = p{i}.b
      ORDER BY CAST(p{i}.cnt AS DOUBLE)
                 / (CAST(ua.cnt AS DOUBLE) * CAST(ub.cnt AS DOUBLE)) DESC,
               a, b
      LIMIT 1),"""
        + _rewrite_cte_sql(i, p)
    )


@query(
    "q_wordpiece_merges_portable",
    # WordPiece merge TRAINING (Schuster & Nakajima 2012; the BERT
    # tokenizer's trainer) — the second published tokenizer-learning family
    # next to q_bpe_merges_portable, differing only in the argmax objective:
    # BPE merges the most FREQUENT adjacent pair; WordPiece merges the pair
    # maximizing the LIKELIHOOD gain score count(ab)/(count(a)*count(b))
    # (the pointwise "glue" of the pair under a unigram LM over the current
    # segmentation). 3 unrolled rounds; symbol unigram counts and pair
    # counts both corpus-weighted over the DISTINCT-WORD table; the argmax
    # compares scores as IEEE doubles — cnt/(cnt_a*cnt_b), two correctly-
    # rounded ops every engine evaluates BIT-IDENTICALLY, so cross-engine
    # parity is unconditional. (The composite is not the exact rational:
    # past cnt_a*cnt_b > 2^53 a near-tie can collapse — then broken (a, b)
    # asc — matching float-scoring production trainers; the reference test
    # pins the double-evaluated objective.) Ties broken
    # (a, b) asc; the rewrite is the same exact canonical greedy
    # left-to-right fold the BPE trainer proved. The emitted table is ALL
    # INTEGERS AND STRINGS (rnd, a, b, cnt, cnt_a, cnt_b — the score is the
    # exact rational cnt/(cnt_a*cnt_b), reported by numerator and
    # denominator factors), so the cross-engine hash never touches a float.
    # Scale shape identical to BPE: vocab-sized shuffles only (one unigram
    # agg + one pair agg per round), 1-row argmax broadcast into the
    # rewrite, corpus weight rides as a frequency column.
    oracle="WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),\n"
    "    w AS (SELECT w, COUNT(*) AS freq FROM tok WHERE w <> '' GROUP BY w),\n"
    "    s0 AS (SELECT w, freq, array_to_string(string_split(w, ''), ' ') AS seq FROM w),"
    + ",".join(_wp_round_sql(i) for i in (1, 2, 3))
    + """
    SELECT CAST(1 AS INTEGER) AS rnd, a, b, cnt, cnt_a, cnt_b FROM m1
    UNION ALL SELECT 2, a, b, cnt, cnt_a, cnt_b FROM m2
    UNION ALL SELECT 3, a, b, cnt, cnt_a, cnt_b FROM m3
    """,
    description="WordPiece merge training (the BERT tokenizer's learner), "
    "hash-checked: 3 unrolled rounds over char-level symbol sequences of the "
    "distinct-word table, argmax on the likelihood score cnt(ab)/(cnt(a)*cnt(b)) "
    "— exact-integer operands through correctly-rounded IEEE ops, so the "
    "ordering is bit-identical cross-engine — ties (a,b) asc, then the same "
    "exact canonical greedy left-to-right merge fold as the BPE trainer; "
    "output is all integers/strings (score reported as its exact rational "
    "factors); vocab-sized shuffles, corpus weight as a frequency column",
    tags=("text", "pipeline"),
)
def q_wordpiece_merges_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges, _ = _wordpiece_chain(docs)
    return merges[0].unionByName(merges[1]).unionByName(merges[2])


def _wordpiece_chain(docs: DataFrame):
    """Three unrolled WordPiece training rounds over the distinct-word
    table — :func:`_merge_trainer_chain` scaffolding; the argmax is the
    likelihood score cnt(ab)/(cnt(a)·cnt(b)) instead of the raw count.
    Returns (per-round 1-row merge frames, final rewritten sequences)."""

    def best(s, pairs, rnd):
        # corpus-weighted unigram symbol counts over the CURRENT
        # segmentation — the denominator of the WordPiece score;
        # vocab-sized, one agg
        uni = (
            s.select("freq", F.explode(F.split(F.col("seq"), " ")).alias("sym"))
            .groupBy("sym")
            .agg(F.sum("freq").alias("ucnt"))
        )
        scored = pairs.join(
            F.broadcast(uni.select(F.col("sym").alias("a"), F.col("ucnt").alias("cnt_a"))),
            "a",
        ).join(
            F.broadcast(uni.select(F.col("sym").alias("b"), F.col("ucnt").alias("cnt_b"))),
            "b",
        )
        # the IEEE-double composite objective (see the @query comment) —
        # bit-identical to the DuckDB oracle's ORDER BY expression
        score = F.col("cnt").cast("double") / (
            F.col("cnt_a").cast("double") * F.col("cnt_b").cast("double")
        )
        return (
            scored.orderBy(F.desc(score), "a", "b")
            .limit(1)
            .select(F.lit(rnd).alias("rnd"), "a", "b", "cnt", "cnt_a", "cnt_b")
        )

    return _merge_trainer_chain(docs, best)


def _unigram_dp_sql() -> str:
    rounds = []
    for j in range(1, 9):
        p = j - 1
        rounds.append(f"""
    c{j} AS MATERIALIZED (
      SELECT pc.w, {j} AS pos, b.sc * pc.p AS sc,
             CASE WHEN b.path = '' THEN pc.piece
                  ELSE b.path || ' ' || pc.piece END AS path
      FROM pc JOIN bacc{p} b ON pc.w = b.w AND pc.s = b.pos
      WHERE pc.e = {j}),
    m{j} AS (SELECT w, MAX(sc) AS msc FROM c{j} GROUP BY w),
    b{j} AS (
      SELECT c.w, {j} AS pos, m{j}.msc AS sc, MIN(c.path) AS path
      FROM c{j} c JOIN m{j} ON c.w = m{j}.w AND c.sc = m{j}.msc
      GROUP BY c.w, m{j}.msc),
    bacc{j} AS MATERIALIZED (SELECT * FROM bacc{p} UNION ALL SELECT * FROM b{j})""")
    return (
        """
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    w AS MATERIALIZED (SELECT w, COUNT(*) AS freq FROM tok
          WHERE w <> '' AND len(w) <= 8 GROUP BY w),
    sub AS MATERIALIZED (
      SELECT w.w, w.freq, i.i AS s, i.i + l.l AS e,
             substr(w.w, i.i + 1, l.l) AS piece
      FROM w CROSS JOIN range(0, 8) i(i) CROSS JOIN range(1, 5) l(l)
      WHERE i.i + l.l <= len(w.w)),
    vcnt AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
             FROM sub GROUP BY piece),
    vocab AS MATERIALIZED (
      SELECT piece, cnt FROM vcnt WHERE len(piece) = 1 OR cnt >= 2),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM vocab),
    pp AS (SELECT piece, cnt, CAST(cnt AS DOUBLE) / t AS p
           FROM vocab CROSS JOIN tot),
    pc AS MATERIALIZED (
      SELECT s.w, s.s, s.e, s.piece, pp.p
      FROM sub s JOIN pp ON s.piece = pp.piece),
    bacc0 AS (SELECT w, 0 AS pos, CAST(1.0 AS DOUBLE) AS sc, '' AS path FROM w),"""
        + ",".join(rounds)
        + """,
    best AS (SELECT w, path FROM bacc8 WHERE pos = len(w))"""
    )


def _unigram_viterbi_oracle() -> str:
    return (
        _unigram_dp_sql()
        + """,
    em AS (SELECT unnest(string_split(b.path, ' ')) AS piece, w.freq
           FROM best b JOIN w ON b.w = w.w)
    SELECT em.piece,
           CAST(v.cnt AS BIGINT) AS cnt_seed,
           CAST(SUM(em.freq) AS BIGINT) AS cnt_em
    FROM em JOIN vocab v ON em.piece = v.piece
    GROUP BY em.piece, v.cnt
    """
    )


@query(
    "q_unigram_viterbi_portable",
    # Unigram-LM tokenizer training (Kudo 2018; the SentencePiece trainer)
    # — the THIRD published tokenizer-learning family next to the BPE and
    # WordPiece trainers, and the one real SentencePiece deployments run.
    # Seed vocabulary = every substring of length <= 4 of the distinct-word
    # table (single chars unconditionally, longer pieces at corpus count
    # >= 2 — Kudo's seed heuristic), piece probability = count/total. The
    # E-step segments every distinct word by VITERBI (max-product) dynamic
    # programming — 8 unrolled position rounds, each one arc join + a
    # per-word MAX + a deterministic MIN(path) tie-break among exact score
    # achievers — and re-counts pieces under the 1-best segmentation
    # (Viterbi-EM, the hard-EM variant of Kudo's algorithm). Cross-engine
    # hashability: the DP only ever MULTIPLIES doubles (correctly rounded,
    # order-fixed by the unrolled recurrence) and compares them with
    # MAX/equality — never adds them in data-dependent order — so scores
    # are bit-identical; the emitted table is strings + BIGINTs only.
    # Scale shape: everything after the first explode is DISTINCT-WORD
    # sized (the corpus weight rides as a frequency column); the 8 DP
    # rounds are vocab-sized joins checkpointed per round (bounded lineage,
    # operators/_ckpt.py session-release registry), and the arc table is
    # built once and cached across rounds.
    oracle=_unigram_viterbi_oracle(),
    description="SentencePiece unigram-LM tokenizer training (Viterbi-EM "
    "E-step), hash-checked: substring seed vocab (chars always, len 2-4 at "
    "count >= 2), piece prob = count/total, 8 unrolled Viterbi rounds over "
    "the distinct-word table (multiply-and-max only — no float sums — with "
    "MIN(path) tie-break), then piece re-counts under the 1-best "
    "segmentation; completes the BPE/WordPiece/Unigram trainer triad, "
    "everything distinct-word sized with corpus weight as a freq column",
    tags=("text", "pipeline"),
)
def q_unigram_viterbi_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w, vocab, best = _unigram_chain(docs)
    em = best.select("w", F.explode(F.split("path", " ")).alias("piece")).join(
        w, "w"
    )
    return (
        em.groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt_em"))
        .join(vocab, "piece")
        .select("piece", F.col("cnt").alias("cnt_seed"), "cnt_em")
    )


def _unigram_chain(docs: DataFrame):
    """The shared unigram-LM scaffolding: distinct-word table, seed vocab,
    and the 8-round Viterbi 1-best segmentation. Returns (w, vocab, best)
    — all distinct-word/vocab sized, ready for the trainer's E-step or the
    encoder's broadcast-back-onto-the-corpus join."""
    from ..operators._ckpt import single_shot_checkpoint, tracked_persist

    w = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= 8))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = tracked_persist(w)
    # every (start, end, piece) arc of length 1..4 — one nested-transform
    # expression, exploded once; distinct-word sized from here on
    arcs = F.expr(
        "filter(flatten(transform(sequence(0, 7), s -> "
        "transform(sequence(1, 4), l -> "
        "struct(s AS s, s + l AS e, substring(w, s + 1, l) AS piece)))), "
        "a -> a.e <= length(w))"
    )
    sub = w.select("w", "freq", F.explode(arcs).alias("a")).select(
        "w", "freq", "a.s", "a.e", "a.piece"
    )
    vcnt = sub.groupBy("piece").agg(F.sum("freq").cast("bigint").alias("cnt"))
    vocab = tracked_persist(
        vcnt.filter((F.length("piece") == 1) | (F.col("cnt") >= 2))
    )
    tot = vocab.agg(F.sum("cnt").cast("bigint").alias("t"))
    pp = vocab.crossJoin(F.broadcast(tot)).select(
        "piece", (F.col("cnt").cast("double") / F.col("t")).alias("p")
    )
    pc = tracked_persist(
        sub.join(F.broadcast(pp), "piece").select("w", "s", "e", "piece", "p")
    )
    b = [
        w.select(
            "w",
            F.lit(0).alias("pos"),
            F.lit(1.0).alias("sc"),
            F.lit("").alias("path"),
        )
    ]
    for j in range(1, 9):
        # arcs ending at j start at j-4..j-1: union those b-frames only
        prev = b[max(0, j - 4)]
        for i in range(max(0, j - 4) + 1, j):
            prev = prev.unionByName(b[i])
        prev = prev.select("w", F.col("pos").alias("s"), "sc", "path")
        cand = (
            pc.filter(F.col("e") == j)
            .join(prev, ["w", "s"])
            .select(
                "w",
                F.lit(j).alias("pos"),
                (F.col("sc") * F.col("p")).alias("sc"),
                F.when(F.col("path") == "", F.col("piece"))
                .otherwise(F.concat_ws(" ", "path", "piece"))
                .alias("path"),
            )
        )
        # ONE aggregate instead of max-groupBy + join-back + tie-break
        # groupBy (r16, guide §2.4): min(struct(-sc, path)) IS
        # max-score-then-min-path — double negation is bijective and
        # order-reversing (scores are strictly positive products of
        # probabilities, so no NaN/-0.0 edge), so the struct's
        # lexicographic min selects exactly the rows the old
        # sc == max(sc) filter kept and the min path among them;
        # -(-sc) recovers sc bit-exactly (sign-bit flip only)
        m = F.min(F.struct(F.negative("sc").alias("nsc"), F.col("path")))
        bj = (
            cand.groupBy("w", "pos")
            .agg(m.alias("m"))
            .select(
                "w",
                "pos",
                F.negative(F.col("m.nsc")).alias("sc"),
                F.col("m.path").alias("path"),
            )
        )
        # eager per-round checkpoint: bounded lineage (8 rounds, each
        # referenced by up to 4 later rounds — unchecked the plan grows
        # 4-ary-exponentially); every round stays live until the final union
        b.append(single_shot_checkpoint(bj))
    best = b[1]
    for i in range(2, 9):
        best = best.unionByName(b[i])
    best = best.filter(F.col("pos") == F.length("w")).select("w", "path")
    return w, vocab, best


@query(
    "q_unigram_encode",
    # Tokenizer APPLICATION for the unigram family — the train -> encode
    # pairing q_bpe_encode provides for BPE: per-doc token counts under the
    # Viterbi 1-best segmentation q_unigram_viterbi_portable just learned.
    # The DP runs once per DISTINCT word; encoding the corpus is a
    # vocab-sized broadcast join of (word -> piece count) back onto the
    # exploded corpus plus one per-doc partial-agg groupBy — no per-
    # occurrence segmentation anywhere. Same engine-parity argument as the
    # trainer (multiply-and-max DP, integer outputs + one 6dp ratio).
    oracle=_unigram_dp_sql()
    + """,
    v AS (SELECT w, len(string_split(path, ' ')) AS n_tok FROM best),
    tokd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(len(tokd.w)) AS BIGINT) AS n_chars,
           CAST(SUM(v.n_tok) AS BIGINT) AS n_unigram_tokens,
           ROUND(SUM(len(tokd.w)) / CAST(SUM(v.n_tok) AS DOUBLE), 6)
             AS chars_per_token
    FROM tokd JOIN v USING (w)
    WHERE tokd.w <> ''
    GROUP BY doc_id
    """,
    description="unigram-LM tokenizer application: per-doc token counts under "
    "the Viterbi 1-best segmentation the SentencePiece trainer learned — "
    "completes train -> encode for the third tokenizer family. The DP runs "
    "once per distinct word; corpus encoding is one broadcast hash join of "
    "the vocab-sized (word, piece-count) table onto the exploded corpus plus "
    "a per-doc partial-agg groupBy; words longer than the 8-char DP bound "
    "are excluded identically on both engines",
    tags=("text", "pipeline"),
)
def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    _, _, best = _unigram_chain(docs)
    v = best.select("w", F.size(F.split("path", " ")).alias("n_tok"))
    tokd = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    return (
        tokd.join(F.broadcast(v), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
            F.sum("n_tok").cast("bigint").alias("n_unigram_tokens"),
            F.round(
                F.sum(F.length("w")) / F.sum("n_tok").cast("double"), 6
            ).alias("chars_per_token"),
        )
    )


@query(
    "q_repetition_ratio",
    # The Gopher/MassiveText "repeated n-gram" quality rule (Rae et al.
    # 2021, §A.1.1): the fraction of a document's 2-grams that are repeats
    # of an earlier 2-gram — high values mark boilerplate/spam/generated
    # loops a pre-training corpus drops. Pure integer counts ratioed at 6dp,
    # so the verdict hash-matches.
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(range(len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i + 1] || ' '
                    || string_split(text, ' ')[i + 2]) AS grams
      FROM documents)
    SELECT doc_id,
           len(grams) AS n_bigrams,
           len(list_distinct(grams)) AS n_distinct,
           ROUND(1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), 6)
             AS rep_ratio
    FROM g
    WHERE len(grams) > 0
    """,
    description="Gopher-rule repetition filter: per-document duplicate-bigram "
    "fraction (1 - distinct/total 2-grams) — boilerplate/spam signal for "
    "pre-training corpus curation; MAP-ONLY (transform + array_distinct "
    "inside codegen, no explode, no shuffle) so at 100 TB it runs at scan "
    "speed with zero exchanges",
    tags=("text", "pipeline"),
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bind the split ONCE in its own projection — Catalyst does not CSE
    # inside lambda bodies (the r07 MinHash lesson), so inlining the split
    # into the transform() lambda would re-split per element
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    grams = toks.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 2),
            lambda i: F.concat_ws(
                " ", F.element_at("toks", i + 1), F.element_at("toks", i + 2)
            ),
        ).alias("grams"),
    )
    return (
        grams.filter(F.size("grams") > 0)
        .select(
            "doc_id",
            F.size("grams").alias("n_bigrams"),
            F.size(F.array_distinct("grams")).alias("n_distinct"),
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct("grams"))
                / F.size("grams").cast("double"),
                6,
            ).alias("rep_ratio"),
        )
    )


# Gopher/MassiveText quality-rule battery (Rae et al. 2021, §A.1.1). The
# paper's fixed stop list, distinct from functions.text.STOPWORDS (which is
# the language-ID heuristic list): a doc must contain >= 2 of these.
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

# Shared fragments (also composed into q_fineweb_funnel): the per-doc metric
# CTE body and the combined keep condition, in both dialects. Every
# threshold is a cross-multiplied integer comparison.
GOPHER_M_SQL = f"""
      SELECT doc_id,
             len(w) AS n_words,
             COALESCE(list_sum(list_transform(w, x -> len(x))), 0) AS n_wchars,
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             len(list_intersect(list_distinct(w),
                 [{", ".join("'" + s + "'" for s in _GOPHER_STOPS)}])) AS n_stop,
             (len(text) - len(replace(text, '#', '')))
               + (len(text) - len(replace(text, '…', ''))) AS n_sym
      FROM t"""

# The four structural rules (shared verbatim with q_fineweb_funnel's S1,
# which drops the vocabulary-dependent stop-word rule); the full battery
# appends it.
GOPHER_STRUCTURAL_SQL = (
    "n_words BETWEEN 50 AND 100000"
    " AND 3 * n_words <= n_wchars AND n_wchars <= 10 * n_words"
    " AND 10 * n_sym < n_words"
    " AND 5 * n_alpha > 4 * n_words"
)

GOPHER_KEEP_SQL = GOPHER_STRUCTURAL_SQL + " AND n_stop >= 2"


def gopher_metrics(docs: DataFrame, keep_tokens: bool = False) -> DataFrame:
    """Per-doc Gopher A.1.1 metric columns (doc_id, n_words, n_wchars,
    n_alpha, n_stop, n_sym) — the Spark twin of :data:`GOPHER_M_SQL`.

    ``keep_tokens=True`` additionally carries the token array ``w`` so a
    caller can fuse further per-row token work (e.g. q_fineweb_funnel's
    in-row bigram stage) into the same projection without a second split or
    a join back (r16)."""
    # bind the split once in its own projection (Catalyst does not CSE
    # inside lambda bodies — the r07 MinHash lesson)
    t = docs.select("doc_id", "text", F.split("text", " ").alias("w"))
    return t.select(
        "doc_id",
        *(["w"] if keep_tokens else []),
        F.size("w").alias("n_words"),
        F.aggregate("w", F.lit(0), lambda acc, x: acc + F.length(x)).alias("n_wchars"),
        F.size(F.filter("w", lambda x: x.rlike("[A-Za-z]"))).alias("n_alpha"),
        F.size(
            F.array_intersect(
                F.array_distinct("w"),
                F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
            )
        ).alias("n_stop"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
            + (F.length("text") - F.length(F.replace(F.col("text"), F.lit("…"))))
        ).alias("n_sym"),
    )


def gopher_rule_flags() -> dict[str, "F.Column"]:
    """The five rule conditions over :func:`gopher_metrics` columns."""
    return {
        "ok_word_count": F.col("n_words").between(50, 100000),
        "ok_mean_len": (3 * F.col("n_words") <= F.col("n_wchars"))
        & (F.col("n_wchars") <= 10 * F.col("n_words")),
        "ok_symbol": 10 * F.col("n_sym") < F.col("n_words"),
        "ok_alpha": 5 * F.col("n_alpha") > 4 * F.col("n_words"),
        "ok_stop": F.col("n_stop") >= 2,
    }


@query(
    "q_gopher_rules",
    # Every flag is an integer comparison (cross-multiplied thresholds), so
    # no float boundary can flip a verdict between engines; the reported
    # ratios are one identical double division rounded at 6dp.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    m AS ({GOPHER_M_SQL})
    SELECT doc_id, n_words,
           ROUND(n_wchars / CAST(n_words AS DOUBLE), 6) AS mean_word_len,
           ROUND(n_alpha / CAST(n_words AS DOUBLE), 6) AS alpha_frac,
           n_stop,
           CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS ok_word_count,
           CASE WHEN 3 * n_words <= n_wchars AND n_wchars <= 10 * n_words
                THEN 1 ELSE 0 END AS ok_mean_len,
           CASE WHEN 10 * n_sym < n_words THEN 1 ELSE 0 END AS ok_symbol,
           CASE WHEN 5 * n_alpha > 4 * n_words THEN 1 ELSE 0 END AS ok_alpha,
           CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS ok_stop,
           CASE WHEN {GOPHER_KEEP_SQL} THEN 1 ELSE 0 END AS keep
    FROM m
    """,
    description="Gopher quality-rule battery (Rae et al. 2021 A.1.1): word-count "
    "bounds [50, 100k], mean word length in [3, 10], symbol-to-word ratio "
    "(#/ellipsis) < 0.1, >= 80% words with an alphabetic char, >= 2 of the "
    "paper's 8 stop words — per-doc metrics, per-rule flags, and the combined "
    "keep verdict. Every threshold is a cross-multiplied INTEGER comparison "
    "(no float boundary risk), and the whole battery is MAP-ONLY: token-array "
    "lambdas inside codegen, zero exchanges, scan-speed at 100 TB",
    tags=("text", "pipeline"),
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = gopher_metrics(docs)
    flags = gopher_rule_flags()
    ok_wc = flags["ok_word_count"]
    ok_len = flags["ok_mean_len"]
    ok_sym = flags["ok_symbol"]
    ok_alpha = flags["ok_alpha"]
    ok_stop = flags["ok_stop"]
    as_flag = lambda c, name: c.cast("int").alias(name)  # noqa: E731
    return m.select(
        "doc_id",
        "n_words",
        F.round(F.col("n_wchars") / F.col("n_words").cast("double"), 6).alias(
            "mean_word_len"
        ),
        F.round(F.col("n_alpha") / F.col("n_words").cast("double"), 6).alias(
            "alpha_frac"
        ),
        "n_stop",
        as_flag(ok_wc, "ok_word_count"),
        as_flag(ok_len, "ok_mean_len"),
        as_flag(ok_sym, "ok_symbol"),
        as_flag(ok_alpha, "ok_alpha"),
        as_flag(ok_stop, "ok_stop"),
        as_flag(ok_wc & ok_len & ok_sym & ok_alpha & ok_stop, "keep"),
    )


@query(
    "q_bpe_encode",
    # Tokenizer APPLICATION — the token-budget accounting step: every doc's
    # token count under the tokenizer q_bpe_merges_portable just learned
    # (train -> encode -> q_seq_packing is the full published pipeline).
    # The training chain's final rewritten sequences ARE the encoded
    # vocabulary, so encoding is a vocab-sized broadcast join back onto the
    # corpus — no per-doc merge loop anywhere.
    oracle="WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),\n"
    "    w AS (SELECT w, COUNT(*) AS freq FROM tok WHERE w <> '' GROUP BY w),\n"
    "    s0 AS (SELECT w, freq, array_to_string(string_split(w, ''), ' ') AS seq FROM w),"
    + ",".join(_bpe_round_sql(i) for i in (1, 2, 3))
    + """,
    v AS (SELECT w, len(string_split(seq, ' ')) AS n_tok FROM s3),
    tokd AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(len(tokd.w)) AS BIGINT) AS n_chars,
           CAST(SUM(v.n_tok) AS BIGINT) AS n_bpe_tokens,
           ROUND(SUM(len(tokd.w)) / CAST(SUM(v.n_tok) AS DOUBLE), 6)
             AS chars_per_token
    FROM tokd JOIN v USING (w)
    WHERE tokd.w <> ''
    GROUP BY doc_id
    """,
    description="BPE tokenizer application: per-doc token counts under the "
    "merge table q_bpe_merges_portable learns (3 rounds, exact canonical "
    "greedy fold) — the token-budget accounting between tokenizer training "
    "and q_seq_packing. The trained chain's rewritten sequences are the "
    "encoded VOCABULARY, so corpus encoding is one broadcast hash join of "
    "the vocab-sized (word, token-count) table onto the exploded corpus "
    "plus a per-doc partial-agg groupBy; the per-word merge fold runs "
    "once per DISTINCT word, never per occurrence",
    tags=("text", "pipeline"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    _, s = _bpe_chain(docs)
    v = s.select("w", F.size(F.split("seq", " ")).alias("n_tok"))
    tokd = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    return (
        tokd.join(F.broadcast(v), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
            F.sum("n_tok").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum(F.length("w")) / F.sum("n_tok").cast("double"), 6
            ).alias("chars_per_token"),
        )
    )


# The full id-encoding SQL (also nested as a subquery by q_pack_sequences —
# DuckDB allows a WITH inside a parenthesized subquery).
_BPE_IDS_SQL = (
    "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),\n"
    "    w AS (SELECT w, COUNT(*) AS freq FROM tok WHERE w <> '' GROUP BY w),\n"
    "    s0 AS (SELECT w, freq, array_to_string(string_split(w, ''), ' ') AS seq FROM w),"
    + ",".join(_bpe_round_sql(i) for i in (1, 2, 3))
    + """,
    vt AS (SELECT DISTINCT unnest(string_split(seq, ' ')) AS tok FROM s3),
    vid AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS tid
            FROM vt),
    wt0 AS (SELECT w, string_split(seq, ' ') AS tks FROM s3),
    wtp AS (SELECT w, tks, unnest(range(1, len(tks) + 1)) AS pos FROM wt0),
    wt AS (SELECT w, pos, tks[pos] AS tok FROM wtp),
    widseq AS (
      SELECT w, string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS idseq,
             CAST(COUNT(*) AS BIGINT) AS ntok
      FROM wt JOIN vid USING (tok) GROUP BY w),
    d0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    dp AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM d0),
    dw AS (SELECT doc_id, pos, ws[pos] AS w FROM dp WHERE ws[pos] <> '')
    SELECT doc_id,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           string_agg(idseq, ' ' ORDER BY pos) AS ids
    FROM dw JOIN widseq USING (w) GROUP BY doc_id
    """
)


@query(
    "q_bpe_encode_ids",
    # Token-ID encoding — the sequences a trainer actually consumes. IDs are
    # dense ranks over the learned token vocabulary in token-string order
    # (deterministic, engine-identical binary collation on the ASCII
    # alphabet); per-word and per-doc sequences reassemble in original
    # position order (the q_exact_substr_dedup collect-sort pattern /
    # string_agg ORDER BY). Emitted as a space-joined string so the value
    # hash is portable.
    oracle=_BPE_IDS_SQL,
    description="token-ID encoding under the trained BPE tokenizer — the "
    "actual id sequences a trainer consumes (completes train -> encode -> "
    "pack at the id level): dense vocabulary ids in token order, per-doc "
    "sequence reassembled in word-position order. Scale shape: the merge "
    "fold and id assignment run once per DISTINCT word/token (vocab-sized, "
    "incl. the one vocab-sized id window), broadcast back onto the corpus "
    "posexplode; per-doc reassembly is the bounded collect-sort, so the "
    "only corpus-sized exchanges are the posexplode groupBys",
    tags=("text", "pipeline"),
)
def q_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    _, s = _bpe_chain(docs)
    vt = s.select(F.explode(F.split("seq", " ")).alias("tok")).distinct()
    vid = vt.select(
        "tok",
        F.row_number().over(Window.orderBy("tok")).cast("bigint").alias("tid"),
    )
    wt = s.select("w", F.posexplode(F.split("seq", " ")).alias("pos", "tok"))
    widseq = (
        wt.join(F.broadcast(vid), "tok")
        .groupBy("w")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "pos", F.col("tid").cast("string").alias("tid_s")
                            )
                        )
                    ),
                    lambda x: x["tid_s"],
                ),
                " ",
            ).alias("idseq"),
            F.count(F.lit(1)).cast("bigint").alias("ntok"),
        )
    )
    dw = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    return (
        dw.join(F.broadcast(widseq), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("ntok").cast("bigint").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "idseq"))),
                    lambda x: x["idseq"],
                ),
                " ",
            ).alias("ids"),
        )
    )


_PACK_L = 32  # ids per packed training sequence


@query(
    "q_pack_sequences",
    # The tokenize-and-pack artifact itself: fixed-length id buffers in the
    # GPT concat-then-chunk regime — documents concatenate in doc_id order
    # within a source shard and are CUT at every L ids, so a doc can span
    # chunks and a chunk can hold pieces of several docs. Chunk membership
    # and slice bounds are pure integer arithmetic off the running offset;
    # piece reassembly is the bounded collect-sort (unique start offsets).
    # The final chunk per shard is short (no padding — that's a trivial
    # downstream map, and reporting the honest length keeps the hash exact).
    oracle=f"""
    WITH perdoc AS ({_BPE_IDS_SQL}),
    d AS (
      SELECT documents.source, perdoc.doc_id, perdoc.n_tokens,
             string_split(perdoc.ids, ' ') AS arr
      FROM perdoc JOIN documents USING (doc_id)),
    c AS (
      SELECT source, doc_id, n_tokens, arr,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - n_tokens
                  AS BIGINT) AS start
      FROM d),
    e AS (
      SELECT source, doc_id, start, n_tokens, arr,
             unnest(range(start // {_PACK_L},
                          (start + n_tokens - 1) // {_PACK_L} + 1)) AS chunk_id
      FROM c),
    p AS (
      SELECT source, chunk_id, start,
             greatest(chunk_id * {_PACK_L} - start, 0) AS frm,
             least((chunk_id + 1) * {_PACK_L} - start, n_tokens) AS toe,
             arr
      FROM e)
    SELECT source, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toe - frm) AS BIGINT) AS n_ids,
           string_agg(array_to_string(list_slice(arr, frm + 1, toe), ' '),
                      ' ' ORDER BY start) AS ids
    FROM p GROUP BY source, chunk_id
    """,
    description=f"sequence packing at the ID level (the artifact a trainer "
    f"reads): fixed-{_PACK_L}-id buffers in the concat-then-chunk regime, "
    "docs split across chunk boundaries, each chunk's ids assembled from "
    "its doc pieces in offset order, short final chunk reported honestly. "
    "Scale shape: per-source-shard cumsum window (distributes across "
    "shards, no global sort), chunk membership exploded by integer "
    "arithmetic (a doc emits one row per chunk it touches, so total rows "
    "are corpus-ids / L + docs), piece slicing map-side, one (source, "
    "chunk) partial-agg; composes the q_bpe_encode_ids chain unchanged",
    tags=("text", "pipeline"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per = q_bpe_encode_ids(spark, sf_dir)
    d = per.join(docs.select("doc_id", "source"), "doc_id").select(
        "source", "doc_id", "n_tokens", F.split("ids", " ").alias("arr")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    e = c.select(
        "source",
        "start",
        "n_tokens",
        "arr",
        F.explode(
            F.sequence(
                F.expr(f"start div {_PACK_L}"),
                F.expr(f"(start + n_tokens - 1) div {_PACK_L}"),
            )
        ).alias("chunk_id"),
    )
    frm = F.greatest(F.col("chunk_id") * _PACK_L - F.col("start"), F.lit(0))
    toe = F.least(
        (F.col("chunk_id") + 1) * _PACK_L - F.col("start"), F.col("n_tokens")
    )
    p = e.select(
        "source",
        "chunk_id",
        "start",
        (toe - frm).alias("plen"),
        F.array_join(
            F.slice("arr", (frm + 1).cast("int"), (toe - frm).cast("int")), " "
        ).alias("piece"),
    )
    return p.groupBy("source", F.col("chunk_id").cast("bigint").alias("chunk_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("plen").cast("bigint").alias("n_ids"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("start", "piece"))),
                lambda x: x["piece"],
            ),
            " ",
        ).alias("ids"),
    )


@query(
    "q_tokenizer_fertility",
    # Fertility — the standard tokenizer-quality metric across languages
    # (tokens per word; chars per token): a tokenizer trained on one
    # language mix "over-segments" the others, and fertility is how that is
    # measured and reported. Uses the same trained-BPE vocabulary table as
    # q_bpe_encode, grouped by the documents' lang column.
    oracle="WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),\n"
    "    w AS (SELECT w, COUNT(*) AS freq FROM tok WHERE w <> '' GROUP BY w),\n"
    "    s0 AS (SELECT w, freq, array_to_string(string_split(w, ''), ' ') AS seq FROM w),"
    + ",".join(_bpe_round_sql(i) for i in (1, 2, 3))
    + """,
    v AS (SELECT w, len(string_split(seq, ' ')) AS n_tok FROM s3),
    dl AS (
      SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents),
    d2 AS (SELECT lang, doc_id, w FROM dl WHERE w <> '')
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(v.n_tok) AS BIGINT) AS n_tokens,
           ROUND(SUM(v.n_tok) / CAST(COUNT(*) AS DOUBLE), 6) AS fertility,
           ROUND(SUM(len(d2.w)) / CAST(SUM(v.n_tok) AS DOUBLE), 6)
             AS chars_per_token
    FROM d2 JOIN v USING (w)
    GROUP BY lang
    """,
    description="tokenizer fertility report per language (tokens/word and "
    "chars/token under the trained BPE tokenizer) — THE cross-lingual "
    "tokenizer-quality metric: a vocabulary fit to one language mix "
    "over-segments the rest, and this is the table that shows it. Same "
    "scale shape as q_bpe_encode: the merge fold runs once per DISTINCT "
    "word, vocab table broadcast onto the exploded corpus, one partial-agg "
    "groupBy on the K languages",
    tags=("text", "pipeline"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    _, s = _bpe_chain(docs)
    v = s.select("w", F.size(F.split("seq", " ")).alias("n_tok"))
    d2 = docs.select(
        "lang", "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    return (
        d2.join(F.broadcast(v), "w")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.round(F.sum("n_tok") / F.count(F.lit(1)).cast("double"), 6).alias(
                "fertility"
            ),
            F.round(
                F.sum(F.length("w")) / F.sum("n_tok").cast("double"), 6
            ).alias("chars_per_token"),
        )
    )


@query(
    "q_pack_efficiency",
    # Packing-efficiency report (the metric of Krell et al. 2021,
    # "Efficient Sequence Packing without Cross-contamination"): how full
    # the fixed-length buffers are, how many documents a chunk straddles,
    # and the padding waste the shard would pay — derived from
    # q_pack_sequences' chunks per source shard.
    oracle=f"""
    WITH perdoc AS ({_BPE_IDS_SQL}),
    d AS (
      SELECT documents.source, perdoc.doc_id, perdoc.n_tokens
      FROM perdoc JOIN documents USING (doc_id)),
    c AS (
      SELECT source, doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - n_tokens
                  AS BIGINT) AS start
      FROM d),
    e AS (
      SELECT source, doc_id,
             unnest(range(start // {_PACK_L},
                          (start + n_tokens - 1) // {_PACK_L} + 1)) AS chunk_id,
             n_tokens, start
      FROM c),
    p AS (
      SELECT source, chunk_id,
             COUNT(*) AS n_docs,
             SUM(least((chunk_id + 1) * {_PACK_L}, start + n_tokens)
                 - greatest(chunk_id * {_PACK_L}, start)) AS fill
      FROM e GROUP BY source, chunk_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(fill) AS BIGINT) AS n_ids,
           CAST(SUM(CASE WHEN fill = {_PACK_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_full,
           ROUND(SUM(fill) / CAST(COUNT(*) * {_PACK_L} AS DOUBLE), 6)
             AS fill_rate,
           ROUND(AVG(CAST(n_docs AS DOUBLE)), 6) AS avg_docs_per_chunk,
           CAST(MAX(n_docs) AS BIGINT) AS max_docs_per_chunk
    FROM p GROUP BY source
    """,
    description=f"packing-efficiency report per source shard (Krell et al. "
    f"2021's metric): chunk count, id count, full-chunk count, fill rate "
    f"vs the {_PACK_L}-id budget (1 - fill_rate = padding waste), and "
    "docs-per-chunk stats (cross-contamination exposure in the concat "
    "regime). Derived by the same integer chunk arithmetic as "
    "q_pack_sequences without materializing the id payloads at all — "
    "the report costs one exploded (doc, chunk) row stream and two "
    "partial-agg groupBys",
    tags=("text", "pipeline"),
)
def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per = q_bpe_encode_ids(spark, sf_dir).select("doc_id", "n_tokens")
    d = per.join(docs.select("doc_id", "source"), "doc_id")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    e = c.select(
        "source",
        "start",
        "n_tokens",
        F.explode(
            F.sequence(
                F.expr(f"start div {_PACK_L}"),
                F.expr(f"(start + n_tokens - 1) div {_PACK_L}"),
            )
        ).alias("chunk_id"),
    )
    fill = F.least(
        (F.col("chunk_id") + 1) * _PACK_L, F.col("start") + F.col("n_tokens")
    ) - F.greatest(F.col("chunk_id") * _PACK_L, F.col("start"))
    p = e.groupBy("source", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(fill).alias("fill")
    )
    return p.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("fill").cast("bigint").alias("n_ids"),
        F.sum((F.col("fill") == _PACK_L).cast("int")).cast("bigint").alias("n_full"),
        F.round(
            F.sum("fill") / (F.count(F.lit(1)) * _PACK_L).cast("double"), 6
        ).alias("fill_rate"),
        F.round(F.avg(F.col("n_docs").cast("double")), 6).alias(
            "avg_docs_per_chunk"
        ),
        F.max("n_docs").cast("bigint").alias("max_docs_per_chunk"),
    )


# DuckDB twin of the audio fingerprint chain (q_audio_fingerprint's oracle
# body, reused by the near-dup consumer below): closed-form sample formula
# -> 8 integer window energies -> contour bits + total energy per clip.
_AUDIO_FP_SQL = """
    dims AS (
      SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
    sm AS (
      SELECT d.doc_id, d.n, (8 * i.i) // d.n AS w,
             ((d.doc_id * 37 + i.i * 101) % 4001) - 2000 AS v
      FROM dims d JOIN range(0, 128) i(i) ON i.i < d.n),
    e AS (
      SELECT doc_id, w, CAST(SUM(v * v) AS BIGINT) AS e
      FROM sm GROUP BY doc_id, w),
    fp AS (
      SELECT a.doc_id AS media_id,
             CAST(SUM(CASE WHEN b.e > a.e THEN (CAST(1 AS BIGINT) << a.w)
                           ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(a.e) + MAX(CASE WHEN a.w = 6 THEN b.e END) AS BIGINT)
               AS e_total
      FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.w = a.w + 1
      GROUP BY a.doc_id)
"""


@query(
    "q_audio_neardup",
    # The audio fingerprint CONSUMER — near-dup clip pairs, completing the
    # media near-dup pattern for a second modality (q_image_neardup_phash
    # is the image twin). Band key = (contour fp, quantized total energy):
    # the 7-bit contour alone caps at 128 buckets (O(n²/128) fan-out at
    # corpus scale), so the energy is folded into the key via an
    # INTEGER-EXACT exponent+3-bit-mantissa bucket, eb = 8*(bitlen(e)-1)
    # + 3 bits after the leading bit — computed with length(bin(e)) and
    # shiftright, no floats. Each bucket spans a factor in [16/15, 9/8],
    # all > 1.05, so any pair passing the 5% energy-ratio gate sits in
    # equal-or-adjacent buckets: side A probes {eb-1, eb, eb+1}, side B
    # keeps eb, and the banding provably loses ZERO recall vs the
    # fp-only join (the gate subsumes it). Exactly one probe key matches
    # per qualifying pair, so no post-join dedup. The oracle is therefore
    # UNCHANGED (fp-only + gate) — the composite band is pure candidate
    # pruning. Verification stays the exact integer energy-ratio gate
    # (20*|ea-eb| <= max(ea,eb)). Everything integer -> hash-checked.
    oracle=f"""
    WITH {_AUDIO_FP_SQL}
    SELECT a.media_id AS id_a, b.media_id AS id_b, a.fp,
           a.e_total AS e_a, b.e_total AS e_b
    FROM fp a JOIN fp b
      ON a.fp = b.fp AND a.media_id < b.media_id
    WHERE 20 * abs(a.e_total - b.e_total) <= greatest(a.e_total, b.e_total)
    """,
    description="audio near-dup pairs through the real WAV codec chain: "
    "candidates only from the (energy-contour, quantized-total-energy) "
    "composite band equi-join — the integer log-bucket (8 buckets/octave, "
    "probing adjacent buckets) bounds per-bucket population where the "
    "7-bit contour alone cannot, with provably zero recall loss because "
    "the 5% verification gate subsumes bucket adjacency — then verified "
    "by an exact integer energy-ratio gate; the audio twin of "
    "q_image_neardup_phash; fingerprint side is one BIGINT per clip",
    tags=("multimodal", "dedup"),
)
def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _energy_banded_pairs(q_audio_fingerprint(spark, sf_dir))


def _energy_banded_pairs(fps: DataFrame) -> DataFrame:
    """Composite-banded contour-fingerprint near-dup pairs over a
    (media_id, fp, e_total) frame — ONE definition shared by the audio and
    video consumers (their constructions were verbatim twins) and by the
    density-safe consensus (which feeds it keeper-restricted frames).

    eb = 8*floor(log2 e) + 3-bit mantissa, integer-exact: bucket spans
    (1+(m+1)/8)/(1+m/8) ∈ [16/15, 9/8], minimum 1.0667 > 1.05, so a pair
    within the 5% gate differs by at most one bucket — candidates from the
    (fp, eb±1) equi-join only, gate exact-integer, zero recall loss."""
    banded = (
        fps.withColumn(
            "blen", F.greatest(F.length(F.bin("e_total")) - F.lit(1), F.lit(3))
        )
        .withColumn(
            "eb",
            F.col("blen") * 8
            + F.expr("shiftright(e_total, cast(blen as int) - 3) % 8"),
        )
        .select("media_id", "fp", "e_total", "eb")
    )
    a = banded.select(
        F.col("media_id").alias("id_a"),
        "fp",
        F.col("e_total").alias("e_a"),
        F.explode(
            F.array(F.col("eb") - 1, F.col("eb"), F.col("eb") + 1)
        ).alias("probe_eb"),
    )
    b = banded.select(
        F.col("media_id").alias("id_b"),
        F.col("fp").alias("fp_b"),
        F.col("e_total").alias("e_b"),
        F.col("eb").alias("eb_b"),
    )
    return (
        a.join(
            b,
            (a["fp"] == b["fp_b"])
            & (a["probe_eb"] == b["eb_b"])
            & (a["id_a"] < b["id_b"]),
        )
        .filter(
            20 * F.abs(F.col("e_a") - F.col("e_b"))
            <= F.greatest(F.col("e_a"), F.col("e_b"))
        )
        .select("id_a", "id_b", "fp", "e_a", "e_b")
    )

# DuckDB twin of the video fingerprint chain (q_video_fingerprint's oracle
# body, reused by the near-dup consumer below): closed-form per-frame byte
# sums -> temporal contour bits + total energy per clip.
_VIDEO_FP_SQL = """
    vdims AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h,
             2 + doc_id % 3 AS nf
      FROM documents),
    vpx AS (
      SELECT d.doc_id, f.f,
             CAST(3 AS BIGINT)
               * SUM((d.doc_id * 13 + f.f * 17 + i.i * 7) % 256) AS e
      FROM vdims d
      JOIN range(0, 4) f(f) ON f.f < d.nf
      JOIN range(0, 168) i(i) ON i.i < d.w * d.h
      GROUP BY d.doc_id, f.f),
    vet AS (SELECT doc_id, CAST(SUM(e) AS BIGINT) AS e_total
            FROM vpx GROUP BY doc_id),
    vfp AS (
      SELECT a.doc_id AS media_id,
             CAST(SUM(CASE WHEN b.e > a.e THEN (CAST(1 AS BIGINT) << a.f)
                           ELSE 0 END) AS BIGINT) AS fp,
             vet.e_total
      FROM vpx a JOIN vpx b ON a.doc_id = b.doc_id AND b.f = a.f + 1
      JOIN vet ON vet.doc_id = a.doc_id
      GROUP BY a.doc_id, vet.e_total)
"""


@query(
    "q_video_neardup",
    # The video fingerprint CONSUMER — near-dup clip pairs, completing the
    # media near-dup TRILOGY (image q_image_neardup_banded, audio
    # q_audio_neardup). The temporal contour here is at most 3 bits (nf-1
    # comparisons), so fp alone caps at EIGHT buckets — the composite
    # (fp, quantized total energy) band is not an optimization but the
    # only thing standing between this join and O(n²/8). Identical
    # integer exponent+3-bit-mantissa bucket as the audio twin: every
    # bucket spans ≥ 16/15 > 1.05, the 5% verification gate subsumes
    # bucket adjacency, side A probes {eb-1, eb, eb+1} — provably zero
    # recall loss, exactly one matching probe key per qualifying pair, so
    # the oracle keeps the plain (fp-only + gate) form. All integers ->
    # hash-checked.
    oracle=f"""
    WITH {_VIDEO_FP_SQL}
    SELECT a.media_id AS id_a, b.media_id AS id_b, a.fp,
           a.e_total AS e_a, b.e_total AS e_b
    FROM vfp a JOIN vfp b
      ON a.fp = b.fp AND a.media_id < b.media_id
    WHERE 20 * abs(a.e_total - b.e_total) <= greatest(a.e_total, b.e_total)
    """,
    description="video near-dup pairs through the real AVI demuxer chain: "
    "candidates only from the (temporal contour, quantized-total-energy) "
    "composite band equi-join — essential here, since the ≤3-bit contour "
    "alone caps at 8 buckets; same integer log-bucket construction and "
    "zero-recall-loss subsumption proof as the audio twin, verified by "
    "the exact integer 5% energy-ratio gate; completes the media "
    "near-dup trilogy; fingerprint side is one BIGINT per clip",
    tags=("multimodal", "dedup"),
)
def q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _energy_banded_pairs(q_video_fingerprint(spark, sf_dir))


# The two consensus rules, defined ONCE and shared by the pair form and
# the density-safe form (Spark and SQL) — tuning either in one place
# propagates to both, preserving the documented restriction-commutes
# equivalence between the forms.
_CONSENSUS_TEXT_NMATCH = 8  # text leg: est-Jaccard >= 8/16 = 0.5
_CONSENSUS_MIN_MODALITIES = 2


def _detector_pair_ctes(prefix: str = "") -> str:
    """The four registered detector oracles as MATERIALIZED pair CTEs
    named {prefix}txt/img/aud/vid — pulling them from the registry means
    a tuned threshold or join in any detector propagates automatically."""
    from . import pipeline_queries  # noqa: F401  (registers the text leg)
    from .registry import _REGISTRY

    txt_sql = _REGISTRY["q_minhash_pairs_portable"].oracle
    img_sql = _REGISTRY["q_image_neardup_banded"].oracle
    aud_sql = _REGISTRY["q_audio_neardup"].oracle
    vid_sql = _REGISTRY["q_video_neardup"].oracle
    p = prefix
    return f"""{p}txt AS MATERIALIZED (
      SELECT id_a, id_b FROM ({txt_sql}) t
      WHERE n_match >= {_CONSENSUS_TEXT_NMATCH}),
    {p}img AS MATERIALIZED (SELECT id_a, id_b FROM ({img_sql}) t),
    {p}aud AS MATERIALIZED (SELECT id_a, id_b FROM ({aud_sql}) t),
    {p}vid AS MATERIALIZED (SELECT id_a, id_b FROM ({vid_sql}) t)"""


def _labeled_union_sql(prefix: str = "") -> str:
    p = prefix
    return f"""
      SELECT id_a, id_b, 'text' AS m FROM {p}txt
      UNION ALL SELECT id_a, id_b, 'image' FROM {p}img
      UNION ALL SELECT id_a, id_b, 'audio' FROM {p}aud
      UNION ALL SELECT id_a, id_b, 'video' FROM {p}vid"""


def _consensus_tail_sql(src: str) -> str:
    """The >= MIN_MODALITIES verdict aggregate over a labeled
    (id_a, id_b, m) pair source — one definition for both consensus
    forms."""
    return f"""
    SELECT id_a, id_b,
           CAST(COUNT(*) AS BIGINT) AS n_modalities,
           CAST(MAX(CASE WHEN m = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS f_text,
           CAST(MAX(CASE WHEN m = 'image' THEN 1 ELSE 0 END) AS BIGINT) AS f_image,
           CAST(MAX(CASE WHEN m = 'audio' THEN 1 ELSE 0 END) AS BIGINT) AS f_audio,
           CAST(MAX(CASE WHEN m = 'video' THEN 1 ELSE 0 END) AS BIGINT) AS f_video
    FROM {src} GROUP BY id_a, id_b
    HAVING COUNT(*) >= {_CONSENSUS_MIN_MODALITIES}
    """


def _consensus_verdicts(uu: DataFrame) -> DataFrame:
    """Spark twin of _consensus_tail_sql over a labeled (id_a, id_b, m)
    pair frame."""
    flag = lambda name: (  # noqa: E731
        F.max(F.when(F.col("m") == name, 1).otherwise(0)).cast("bigint")
    )
    return (
        uu.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_modalities"),
            flag("text").alias("f_text"),
            flag("image").alias("f_image"),
            flag("audio").alias("f_audio"),
            flag("video").alias("f_video"),
        )
        .filter(F.col("n_modalities") >= _CONSENSUS_MIN_MODALITIES)
    )


def _consensus_oracle() -> str:
    """Compose the four REGISTERED modality oracles verbatim as subqueries
    (each keeps its own WITH scope — the audio and image chains both name
    a CTE `dims`, so they cannot share one WITH list)."""
    return f"""
    WITH {_detector_pair_ctes()},
    u AS ({_labeled_union_sql()})
    {_consensus_tail_sql("u")}
    """


@query(
    "q_multimodal_consensus",
    # Cross-modal near-dup CONSENSUS — the multimodal-record dedup rule a
    # web-scale curation pipeline applies when a "document" carries text +
    # media: a pair is a duplicate verdict only when >= 2 independent
    # modality signals agree (text MinHash-LSH at est-Jaccard >= 0.5,
    # image 4x16-banded dHash at Hamming <= 6, audio and video
    # composite-banded contour fingerprints at the 5% energy gate).
    # Single-modality matches — the false-positive tail of each individual
    # detector — are demoted by construction. Proves the four
    # independently hash-checked detectors COMPOSE (the q_fineweb_funnel
    # discipline applied across modalities). Each leg emits distinct
    # pairs, so COUNT(*) per (id_a, id_b) IS the modality count. Scale
    # shape: the union is pair-sized (each leg banded/bucketed, never
    # all-pairs) and the consensus groupBy shuffles only candidate pairs,
    # a vanishing fraction of the corpus.
    oracle=_consensus_oracle(),
    description="multimodal near-dup consensus: duplicate verdicts only where "
    ">= 2 of the 4 modality detectors agree (text MinHash est-J >= 0.5, "
    "banded image dHash <= 6, audio + video contour fingerprints at the 5% "
    "energy gate) — the cross-signal rule that demotes every single-detector "
    "false positive; composes the four hash-checked detectors end to end; "
    "the consensus aggregate shuffles candidate pairs only",
    tags=("multimodal", "dedup", "pipeline"),
)
def q_multimodal_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators._ckpt import single_shot_checkpoint
    from .pipeline_queries import q_minhash_pairs_portable

    # Each detector leg is materialized as its OWN job (eager checkpoint of
    # the pair result) before the consensus aggregate runs — the job
    # granularity a production pipeline uses, peaking at one detector's
    # working set instead of four corpus-wide Arrow codec stages in one
    # DAG. Scale limit, measured and documented in BASELINE.md: pair
    # ENUMERATION is inherently quadratic in duplicate-class size (the
    # sf10 fixture plants an identical image every 256 ids → ~2000-member
    # classes → ~5e8 image pairs, OOM at checkpoint), so past
    # mega-duplicate densities the consensus input must be per-modality
    # cluster representatives (q_dedup_clusters' components), not raw
    # pairs. At realistic class sizes the pair frames are a vanishing
    # fraction of the corpus. Known trade of the eager-checkpoint pattern
    # (shared with the iterative graph/sketch queries): constructing this
    # frame RUNS the four detector jobs, so a plan-only `--explain` pays
    # them and prints ExistingRDD stubs for the legs — explain the
    # detector queries individually for their plans.
    # the four detector legs are mutually independent jobs; submitted
    # concurrently the wall approaches max(legs) instead of sum(legs)
    # (r16, guide §2.6 — each leg alone leaves most cores idle through
    # its scan/codec tails). Values unchanged: same four checkpoints.
    from ..operators._ckpt import concurrent_checkpoints

    txt_f, img_f, aud_f, vid_f = concurrent_checkpoints([
        q_minhash_pairs_portable(spark, sf_dir)
        .filter(F.col("n_match") >= _CONSENSUS_TEXT_NMATCH)
        .select("id_a", "id_b"),
        q_image_neardup_banded(spark, sf_dir).select("id_a", "id_b"),
        q_audio_neardup(spark, sf_dir).select("id_a", "id_b"),
        q_video_neardup(spark, sf_dir).select("id_a", "id_b"),
    ])
    txt = txt_f.withColumn("m", F.lit("text"))
    img = img_f.withColumn("m", F.lit("image"))
    aud = aud_f.withColumn("m", F.lit("audio"))
    vid = vid_f.withColumn("m", F.lit("video"))
    u = txt.unionByName(img).unionByName(aud).unionByName(vid)
    return _consensus_verdicts(u)


def _modality_reps_sql() -> str:
    """Registry-composed WITH-prefix producing the unioned
    (doc_id, rep, m) frame `u`: each modality's registered fingerprint
    oracle, wrapped in its own WITH scope, reduced to (doc_id, rep) by a
    window MIN over the exact-fingerprint group. Shared by
    q_dup_cluster_reps and q_consensus_reps so the rep construction
    cannot drift between the per-modality table and the verdict."""
    from .registry import _REGISTRY

    img = _REGISTRY["q_image_phash"].oracle
    aud = _REGISTRY["q_audio_fingerprint"].oracle
    vid = _REGISTRY["q_video_fingerprint"].oracle
    return f"""
    WITH img AS MATERIALIZED (
      SELECT media_id AS doc_id,
             MIN(media_id) OVER (PARTITION BY phash_hi, phash_lo) AS rep
      FROM ({img}) t),
    aud AS MATERIALIZED (
      SELECT media_id AS doc_id,
             MIN(media_id) OVER (PARTITION BY fp, e_total) AS rep
      FROM ({aud}) t),
    vid AS MATERIALIZED (
      SELECT media_id AS doc_id,
             MIN(media_id) OVER (PARTITION BY fp, e_total) AS rep
      FROM ({vid}) t),
    txt AS MATERIALIZED (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep
      FROM documents),
    u AS (
      SELECT doc_id, rep, 'text' AS m FROM txt
      UNION ALL SELECT doc_id, rep, 'image' FROM img
      UNION ALL SELECT doc_id, rep, 'audio' FROM aud
      UNION ALL SELECT doc_id, rep, 'video' FROM vid)"""


def _cluster_reps_oracle() -> str:
    return f"""{_modality_reps_sql()}
    SELECT doc_id,
           CAST(MAX(CASE WHEN m = 'text' THEN rep END) AS BIGINT) AS rep_text,
           CAST(MAX(CASE WHEN m = 'image' THEN rep END) AS BIGINT) AS rep_image,
           CAST(MAX(CASE WHEN m = 'audio' THEN rep END) AS BIGINT) AS rep_audio,
           CAST(MAX(CASE WHEN m = 'video' THEN rep END) AS BIGINT) AS rep_video,
           CAST(SUM(CASE WHEN rep < doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_modalities
    FROM u GROUP BY doc_id
    HAVING SUM(CASE WHEN rep < doc_id THEN 1 ELSE 0 END) >= 1
    """


def _modality_reps(
    spark: SparkSession, sf_dir: str, fps: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Spark twin of _modality_reps_sql(): the unioned (doc_id, rep, m)
    frame — one window MIN per modality's exact-fingerprint group, one
    row per record regardless of duplicate-class size. Shared by
    q_dup_cluster_reps, q_consensus_reps and the density-safe consensus.
    ``fps`` optionally supplies pre-built (and typically persisted)
    fingerprint frames keyed 'image'/'audio'/'video' so a caller that
    also runs the detectors pays each modality's codec pass ONCE."""
    from pyspark.sql import Window

    fps = fps or {}
    img = fps.get("image", q_image_phash(spark, sf_dir)).select(
        F.col("media_id").alias("doc_id"),
        F.min("media_id")
        .over(Window.partitionBy("phash_hi", "phash_lo"))
        .alias("rep"),
        F.lit("image").alias("m"),
    )
    aud = fps.get("audio", q_audio_fingerprint(spark, sf_dir)).select(
        F.col("media_id").alias("doc_id"),
        F.min("media_id").over(Window.partitionBy("fp", "e_total")).alias("rep"),
        F.lit("audio").alias("m"),
    )
    vid = fps.get("video", q_video_fingerprint(spark, sf_dir)).select(
        F.col("media_id").alias("doc_id"),
        F.min("media_id").over(Window.partitionBy("fp", "e_total")).alias("rep"),
        F.lit("video").alias("m"),
    )
    txt = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("rep"),
        F.lit("text").alias("m"),
    )
    return txt.unionByName(img).unionByName(aud).unionByName(vid)


@query(
    "q_dup_cluster_reps",
    # The LINEAR consensus input for mega-duplicate densities — the form
    # BASELINE.md's q_multimodal_consensus root-cause note prescribes:
    # instead of enumerating within-class pairs (quadratic in class size —
    # a 2000-member duplicate class is 2M pairs), each modality reduces to
    # one cluster-representative id per record via a window MIN over the
    # exact-fingerprint group (image (phash_hi, phash_lo), audio/video
    # (fp, e_total), text md5). One window shuffle per modality, output
    # one row per record regardless of class size — the shape that
    # survives any duplicate density at 100 TB. A downstream keep/drop
    # rule (or the cross-modal consensus) joins on the rep columns instead
    # of pair lists. Fixture yields image-dup members (ids 256 apart are
    # planted identical), so the verdict table is non-trivial at every SF.
    oracle=_cluster_reps_oracle(),
    description="per-modality exact-duplicate cluster representatives with "
    "ZERO pair enumeration: window MIN over each modality's exact "
    "fingerprint group (image dHash pair, audio/video contour+energy, text "
    "md5) — one row per record regardless of duplicate-class size, the "
    "linear consensus input prescribed by the pair-enumeration root-cause "
    "analysis; one window shuffle per modality",
    # bench-tagged as the round-12 density-safe-dedup representative: the
    # rep reduction is the primitive both r12 consensus forms build on
    tags=("multimodal", "dedup", "pipeline", "bench"),
)
def q_dup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_rep_verdicts(_modality_reps(spark, sf_dir))


def _cluster_rep_verdicts(u: DataFrame) -> DataFrame:
    """The per-doc rep-verdict aggregate over a (doc_id, rep, m) frame —
    one definition shared by q_dup_cluster_reps and the streaming rep
    gate so the verdict rule (rep < doc_id, >= 1 modality) cannot drift
    between the batch form and its ingest twin."""
    rep_of = lambda name: (  # noqa: E731
        F.max(F.when(F.col("m") == name, F.col("rep"))).cast("bigint")
    )
    return (
        u.groupBy("doc_id")
        .agg(
            rep_of("text").alias("rep_text"),
            rep_of("image").alias("rep_image"),
            rep_of("audio").alias("rep_audio"),
            rep_of("video").alias("rep_video"),
            F.sum(F.when(F.col("rep") < F.col("doc_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_modalities"),
        )
        .filter(F.col("n_dup_modalities") >= 1)
    )


def _consensus_reps_oracle() -> str:
    """The same registry-composed rep frame as _cluster_reps_oracle, reduced
    to the >= 2-modality VERDICT: flags use aggregate MAX over a CASE (not
    LEAST/GREATEST, whose null handling is an engine-semantics trap) and
    keep_id is an aggregate MIN over the flagged reps — NULL-skipping MIN
    is identical in both engines."""
    return f"""{_modality_reps_sql()}
    SELECT doc_id,
           CAST(SUM(CASE WHEN rep < doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_modalities,
           CAST(MAX(CASE WHEN m = 'text' AND rep < doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS f_text,
           CAST(MAX(CASE WHEN m = 'image' AND rep < doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS f_image,
           CAST(MAX(CASE WHEN m = 'audio' AND rep < doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS f_audio,
           CAST(MAX(CASE WHEN m = 'video' AND rep < doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS f_video,
           CAST(MIN(CASE WHEN rep < doc_id THEN rep END) AS BIGINT) AS keep_id
    FROM u GROUP BY doc_id
    HAVING SUM(CASE WHEN rep < doc_id THEN 1 ELSE 0 END) >= 2
    """


@query(
    "q_consensus_reps",
    # The DENSITY-SAFE multimodal consensus — the composition VERDICT.md
    # round 11 prescribed: q_multimodal_consensus enumerates candidate
    # PAIRS, which is quadratic in duplicate-class size and measurably OOMs
    # at the sf10 fixture's 2000-member planted classes (~5e8 image pairs;
    # BASELINE.md root-cause note). This query instead reduces each
    # modality to a cluster-representative id per record (the
    # _modality_reps window-MIN frame shared with q_dup_cluster_reps) and
    # emits a duplicate verdict per DOCUMENT where >= 2 independent
    # modalities agree the record is a non-representative member
    # (rep_m < doc_id). One window shuffle per modality + one groupBy on
    # doc_id — LINEAR at any duplicate density, the shape that survives
    # 100 TB with mega-duplicate classes. keep_id (the smallest flagged
    # rep) is the canonical record a curation pipeline keeps; the pair
    # form remains the higher-recall choice at realistic class sizes since
    # its detectors are NEAR-dup (banded Hamming/energy gates), while the
    # rep form is exact-fingerprint — the two are documented complements.
    oracle=_consensus_reps_oracle(),
    description="density-safe multimodal duplicate consensus on cluster "
    "representatives: a per-document verdict where >= 2 modalities' exact "
    "fingerprints (image dHash, audio/video contour+energy, text md5) mark "
    "the record a non-representative class member — zero pair enumeration, "
    "linear at any duplicate density (the pair-form consensus OOMs at sf10 "
    "mega-dup classes), one window shuffle per modality + one groupBy",
    tags=("multimodal", "dedup", "pipeline"),
)
def q_consensus_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = _modality_reps(spark, sf_dir)
    dup = F.col("rep") < F.col("doc_id")
    flag = lambda name: (  # noqa: E731
        F.max(F.when((F.col("m") == name) & dup, 1).otherwise(0)).cast("bigint")
    )
    return (
        u.groupBy("doc_id")
        .agg(
            F.sum(F.when(dup, 1).otherwise(0)).cast("bigint").alias("n_modalities"),
            flag("text").alias("f_text"),
            flag("image").alias("f_image"),
            flag("audio").alias("f_audio"),
            flag("video").alias("f_video"),
            F.min(F.when(dup, F.col("rep"))).cast("bigint").alias("keep_id"),
        )
        .filter(F.col("n_modalities") >= 2)
    )


def _consensus_safe_oracle() -> str:
    """Registry-composed: the SAME four detector oracles as the pair-form
    consensus, filtered to pairs whose BOTH endpoints are exact-unique
    keepers (no modality's exact-fingerprint class has a smaller member).
    The oracle restricts AFTER pair enumeration while the Spark side
    restricts BEFORE — every detector is a pairwise predicate (signatures,
    hashes and energy buckets are per-record; candidacy and gates are
    functions of the pair alone), so the two orders are equivalent, and
    the hash check IS the proof."""
    return f"""{_modality_reps_sql()},
    keep AS MATERIALIZED (
      SELECT d.doc_id FROM documents d
      WHERE NOT EXISTS (
        SELECT 1 FROM u WHERE u.doc_id = d.doc_id AND u.rep < u.doc_id)),
    {_detector_pair_ctes("p")},
    uu AS ({_labeled_union_sql("p")}),
    flt AS (
      SELECT uu.id_a, uu.id_b, uu.m FROM uu
      JOIN keep ka ON uu.id_a = ka.doc_id
      JOIN keep kb ON uu.id_b = kb.doc_id)
    {_consensus_tail_sql("flt")}
    """


@query(
    "q_multimodal_consensus_safe",
    # The DENSITY-SAFE MODE of q_multimodal_consensus — the full near-dup
    # pair consensus, made linear in duplicate density by exact-reducing
    # first: (1) drop every record whose exact fingerprint class (any
    # modality) has a smaller member — the q_consensus_reps window rule,
    # one window shuffle per modality, which collapses a 2000-member
    # mega-duplicate class to ONE keeper before any pair is enumerated;
    # (2) run the four near-dup detectors on the keepers only. Pair
    # enumeration is then quadratic in the number of DISTINCT-content
    # classes, never in class size — the exact regime where the pair form
    # OOMs at sf10 (~5e8 enumerated image pairs from planted identical
    # images) while this mode's detector inputs shrink to the distinct
    # corpus. Exact-duplicate verdicts are carried by q_consensus_reps;
    # this query carries the genuine NEAR-dup (not byte-identical)
    # verdicts the rep form cannot see. Each modality's codec pass runs
    # ONCE (persisted fingerprint frames feed both the rep reduction and
    # its detector); detectors are pairwise predicates, so the oracle's
    # post-hoc pair filter is provably the same set — the hash check is
    # the proof the restriction commutes.
    oracle=_consensus_safe_oracle(),
    description="density-safe multimodal near-dup consensus: exact-reduce "
    "to per-modality class keepers first (window MIN, linear at any "
    "duplicate density), then the full four-detector pair consensus "
    "(MinHash est-J >= 0.5, banded dHash <= 6, audio/video contour+energy "
    "5% gates, >= 2 modalities agree) over keepers only — pair work scales "
    "with distinct-content classes, never class size; one codec pass per "
    "modality feeds both stages",
    tags=("multimodal", "dedup", "pipeline"),
)
def q_multimodal_consensus_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators._ckpt import single_shot_checkpoint, tracked_persist
    from ..operators.dedup import minhash_pairs, minhash_sigs
    from .dedup_queries import md5_hashed
    from .pipeline_queries import shingles_from

    ph = tracked_persist(q_image_phash(spark, sf_dir))
    afp = tracked_persist(q_audio_fingerprint(spark, sf_dir))
    vfp = tracked_persist(q_video_fingerprint(spark, sf_dir))
    u = _modality_reps(
        spark, sf_dir, fps={"image": ph, "audio": afp, "video": vfp}
    )
    dup_ids = u.filter(F.col("rep") < F.col("doc_id")).select("doc_id").distinct()
    docs = load_table(spark, sf_dir, "documents")
    keep = single_shot_checkpoint(
        docs.select("doc_id").join(dup_ids, "doc_id", "left_anti")
    )

    def _keepers(fpdf: DataFrame) -> DataFrame:
        return fpdf.join(
            F.broadcast(keep), fpdf["media_id"] == keep["doc_id"]
        ).drop("doc_id")

    # restriction pushed BELOW the signature pass too: shingles and
    # signatures are per-doc, so shingling only the keepers yields
    # byte-identical signatures while paying the explode + 16
    # min-aggregations for the distinct-content subset, not the corpus —
    # at sf10 that pass over 500 k docs was the dominant text cost
    sigs = minhash_sigs(md5_hashed(
        shingles_from(
            docs.select("doc_id", "text").join(F.broadcast(keep), "doc_id")
        )
    ))
    # four independent detector-leg jobs submitted concurrently (r16,
    # guide §2.6 — wall approaches max(legs), values unchanged); the
    # shared persisted fingerprint frames fill under per-partition cache
    # locks, the `keep` frame is already an eager checkpoint
    from ..operators._ckpt import concurrent_checkpoints

    txt_f, img_f, aud_f, vid_f = concurrent_checkpoints([
        minhash_pairs(sigs, 4, 4)
        .filter(F.col("n_match") >= _CONSENSUS_TEXT_NMATCH)
        .select("id_a", "id_b"),
        _banded_cands_spark(
            _keepers(ph.select("media_id", "phash_hi", "phash_lo")), 16
        )
        .withColumn("hamming", _phash_hamming().cast("bigint"))
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b"),
        _energy_banded_pairs(_keepers(afp)).select("id_a", "id_b"),
        _energy_banded_pairs(_keepers(vfp)).select("id_a", "id_b"),
    ])
    txt = txt_f.withColumn("m", F.lit("text"))
    img = img_f.withColumn("m", F.lit("image"))
    aud = aud_f.withColumn("m", F.lit("audio"))
    vid = vid_f.withColumn("m", F.lit("video"))
    uu = txt.unionByName(img).unionByName(aud).unionByName(vid)
    return _consensus_verdicts(uu)
