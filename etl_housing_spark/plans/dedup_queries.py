"""Near-duplicate detection queries over documents (SURVEY.md §2.13).

q_neardup_ngram is the oracle-checked exact set-similarity form. The
MinHash/SimHash queries here and their portable twins run the same cores
(operators/dedup.py: signatures, band keys, pairs) and differ only in the
base-hash column: the production queries (q_dedup_minhash,
q_minhash_pairs_murmur3, q_dedup_simhash, q_dedup_clusters) hash with
Spark's murmur3, which DuckDB cannot reproduce, and are rows-only; the
portable ones hash with the md5 prefix (``md5_hashed``) and are
oracle-checked, so every stage but that hash expression is value-proven.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup as D
from ..operators.sampling import md5_u32
from .registry import query


@query(
    "q_neardup_ngram",
    oracle="""
    WITH sh AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS sh
      FROM documents),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT id_a, id_b,
           n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.id_a = sa.id
    JOIN sizes sb ON inter.id_b = sb.id
    WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.9
    """,
    description="exact token-set Jaccard near-dup pairs ≥ 0.9 (§2.13 n-gram Jaccard) — "
    "shingle self-join with inclusion-exclusion union",
    tags=("dedup",),
)
def q_neardup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.9)


@query(
    "q_containment_dedup",
    # Directional: the a-side is the contained (droppable) document. Same
    # shingle self-join as q_neardup_ngram but normalized by |S(A)| alone —
    # the asymmetric measure that catches short-doc-inside-long-doc, which
    # Jaccard's union denominator washes out. Word TRIGRAMS, not unigrams:
    # unigram token sets over a bounded vocabulary are near-universally
    # contained in each other (measured 144k pairs vs 50 real ones at
    # sf0.01); trigrams make containment mean shared word order. Short docs
    # (<3 tokens) contribute their whole text as one shingle — the
    # q_minhash_portable convention, mirrored in the oracle's CASE.
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id AS id, unnest(list_distinct(
               CASE WHEN len(t) >= 3 THEN
                 list_transform(
                   list_filter(list_zip(t, t[2:], t[3:]), p -> p[3] IS NOT NULL),
                   p -> concat_ws(' ', p[1], p[2], p[3]))
               ELSE [array_to_string(t, ' ')] END)) AS sh
      FROM t),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.id <> b.id
      GROUP BY a.id, b.id)
    SELECT id_a, id_b, n_inter / sa.n_sh AS containment
    FROM inter JOIN sizes sa ON inter.id_a = sa.id
    WHERE n_inter / sa.n_sh >= 0.8
    """,
    description="directional word-trigram containment ≥ 0.8 (|S(A)∩S(B)| / |S(A)|): "
    "the near-dup measure for short-document-embedded-in-long-document that "
    "Jaccard misses — same shingle self-join + max_df skew guard as "
    "q_neardup_ngram, integer-ratio scores so fully oracle-checked",
    tags=("dedup",),
)
def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(docs, "doc_id", "text", n=3, threshold=0.8)


@query(
    "q_dedup_minhash",
    oracle=None,  # murmur3 base hash — rows-only (⊘, SURVEY §2.13)
    description="MinHash+LSH near-dup candidates (shingle→minhash→band→bucket-join), "
    "estimated jaccard ≥ 0.7 — the linear-cost scale path for q_neardup_ngram",
    tags=("dedup",),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_near_dups(docs, "doc_id", "text", num_hashes=16, bands=4, threshold=0.7)


# --------------------------------------------------------------------------
# Portable MinHash signatures — the oracle-CHECKED twin of q_dedup_minhash.
# Same core (operators/dedup.minhash_sigs: the first 16 affine maps
# (a_i·h + b_i) mod p over one base hash per shingle) with the base hash
# taken from md5, which both engines compute identically: every signature
# value is reproducible bit-for-bit in DuckDB.
# --------------------------------------------------------------------------

_K = 16  # signature length of every portable MinHash query


def md5_hashed(sh: DataFrame) -> DataFrame:
    """(doc_id, sh) shingles → the (id, h) portable base-hash frame of the
    operators/dedup cores."""
    return sh.select(F.col("doc_id").alias("id"), md5_u32("sh").alias("h"))


def portable_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, sig) portable MinHash signatures over the family-shared
    persisted shingle explode (corpus_shingles)."""
    from .pipeline_queries import corpus_shingles

    return D.minhash_sigs(md5_hashed(corpus_shingles(spark, sf_dir)), _K)


def sig_columns(sig: DataFrame) -> DataFrame:
    """(id, sig) → the registered (doc_id, sig_0..sig_15) schema."""
    return sig.select(
        F.col("id").alias("doc_id"), *[F.col("sig")[i].alias(f"sig_{i}") for i in range(_K)]
    )


def _mh_oracle() -> str:
    mins = ",\n           ".join(
        f"MIN(({a} * h + {b}) % {D._MH_P}) AS sig_{i}"
        for i, (a, b) in enumerate(zip(D._MH_A[:_K], D._MH_B[:_K]))
    )
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(t) >= 3 THEN
                 list_transform(
                   list_filter(list_zip(t, t[2:], t[3:]), p -> p[3] IS NOT NULL),
                   p -> concat_ws(' ', p[1], p[2], p[3]))
               ELSE [array_to_string(t, ' ')] END)) AS sh
      FROM t),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS h
      FROM sh)
    SELECT doc_id,
           {mins}
    FROM hashed GROUP BY doc_id
    """


@query(
    "q_minhash_portable",
    oracle=_mh_oracle(),
    description="portable MinHash signatures (word 3-gram shingles, k=16 affine "
    "hashes of one md5-derived base hash) — the oracle-checked twin of "
    "production MinHash, same signature core with only the base hash swapped "
    "for murmur3: every signature value reproduced bit-for-bit by the DuckDB "
    "oracle; one grouped aggregate, k map-side-combinable MINs, shuffle "
    "carries k longs per doc",
    tags=("dedup",),
)
def q_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sig_columns(portable_sigs(spark, sf_dir))


@query(
    "q_minhash_pairs_murmur3",
    oracle=None,  # murmur3 base hash has no SQL twin — rows-only (⊘);
    # q_minhash_pairs_portable runs the same signature, band-key and pair
    # code on an md5 base hash and IS the value check for this topology
    description="the PRODUCTION MinHash→LSH pipeline on the portable twin's "
    "exact workload (word 3-gram shingles, k=16, 4 bands × 4 rows, "
    "est_jaccard ≥ 0.75): operators.dedup.minhash_near_dups end to end — "
    "bench-tagged so the production base hash (one JVM murmur3 per shingle "
    "vs md5+conv in the portable twin) is timed alongside its "
    "oracle-checked twin, which shares every other stage",
    tags=("dedup", "bench"),
)
def q_minhash_pairs_murmur3(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_near_dups(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_size=3, threshold=0.75
    )


@query(
    "q_dedup_simhash",
    oracle=None,  # murmur3 base hash — rows-only (⊘); q_simhash_pairs_portable
    # runs the same vote and pair code on an md5 base hash
    description="SimHash near-dup pairs within Hamming distance 3 (32-bit, chunk-banded)",
    tags=("dedup",),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dups(docs, "doc_id", "text", max_hamming=3)


@query(
    "q_dedup_clusters",
    oracle=None,  # iterative min-label propagation — not SQL-expressible;
    # convergence + canonicalization laws tested in tests/test_operators.py
    description="near-dup clustering: minhash pairs → connected components "
    "(iterative min-label propagation, persisted per round) → canonical "
    "min-id survivor per cluster (§2.13 dedup; the full pipeline a training "
    "corpus dedup runs after pair generation)",
    tags=("dedup",),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import canonicalize, dedup_clusters, minhash_near_dups

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dups(docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.9)
    return canonicalize(docs, dedup_clusters(pairs), "doc_id").select("doc_id", "lang", "source")


@query(
    "q_dedup_keep_best",
    # Survivor selection by VALUE, not arrival order: within each content
    # fingerprint keep the highest-quality copy (longest here — the "keep
    # the cleanest duplicate" rule corpus dedup actually wants, vs
    # q_dedup_exact's keep-first-by-key). Same single-shuffle row_number
    # shape; the survivor is deterministic because the order is total
    # (quality desc, then id).
    oracle="""
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY md5(lower(trim(text)))
               ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents) t
    WHERE rk = 1
    """,
    description="exact dedup with keep-BEST survivor selection: one shuffle on the "
    "normalized-content fingerprint, row_number ordered by (quality desc, id) — "
    "the 'keep the longest/cleanest copy' rule a training corpus wants, vs "
    "keep-first's arrival-order survivor; deterministic because the order is "
    "total",
    tags=("dedup",),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text"))))).orderBy(
        F.desc("n_chars"), "doc_id"
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "source", "n_chars")
    )


@query(
    "q_dedup_incremental",
    # Incremental ingest dedup — the production shape every crawl pipeline
    # runs per batch: an incoming slice (doc_id % 5 = 0 stands in for
    # "today's crawl") is checked against the ALREADY-INGESTED corpus, never
    # corpus-vs-corpus. Tier 1 is the q_doc_fingerprint exact match; tier 2
    # is directional trigram containment >= 0.5 of the NEW doc inside any
    # corpus doc (the q_containment_dedup measure — a rewrite of an indexed
    # page should be caught even when Jaccard is diluted). Verdict per new
    # doc: exact_dup | near_dup | new, with the best corpus match
    # (containment desc, lowest id) and its score. Integer-ratio scores →
    # hash-checked.
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp,
             doc_id % 5 = 0 AS is_new
      FROM documents),
    ex AS (
      SELECT n.doc_id, MIN(c.doc_id) AS ex_match
      FROM t n JOIN t c ON n.fp = c.fp AND NOT c.is_new
      WHERE n.is_new GROUP BY n.doc_id),
    sh AS (
      SELECT doc_id AS id, is_new, unnest(list_distinct(
               CASE WHEN len(t) >= 3 THEN
                 list_transform(
                   list_filter(list_zip(t, t[2:], t[3:]), p -> p[3] IS NOT NULL),
                   p -> concat_ws(' ', p[1], p[2], p[3]))
               ELSE [array_to_string(t, ' ')] END)) AS sh
      FROM t),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh WHERE is_new GROUP BY id),
    inter AS (
      SELECT a.id AS id_n, b.id AS id_c, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND NOT b.is_new
      WHERE a.is_new GROUP BY a.id, b.id),
    nd AS (
      SELECT id_n, id_c, n_inter / s.n_sh AS cont,
             row_number() OVER (PARTITION BY id_n
                                ORDER BY n_inter / s.n_sh DESC, id_c) AS rn
      FROM inter JOIN sizes s ON inter.id_n = s.id
      WHERE n_inter / s.n_sh >= 0.5),
    best AS (SELECT id_n, id_c, cont FROM nd WHERE rn = 1)
    SELECT t.doc_id,
           CASE WHEN ex.ex_match IS NOT NULL THEN 'exact_dup'
                WHEN best.id_c IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS verdict,
           COALESCE(ex.ex_match, best.id_c) AS match_id,
           CASE WHEN ex.ex_match IS NOT NULL THEN 1.0
                ELSE ROUND(best.cont, 6) END AS score
    FROM t LEFT JOIN ex ON t.doc_id = ex.doc_id
    LEFT JOIN best ON t.doc_id = best.id_n
    WHERE t.is_new
    """,
    description="incremental batch-vs-corpus dedup (the per-batch ingest gate): "
    "new docs (doc_id % 5 = 0) checked against the already-ingested corpus "
    "only — exact fingerprint tier, then directional trigram containment "
    ">= 0.5 — verdict exact_dup/near_dup/new with best corpus match and "
    "score. Scale shape: the corpus shingle index is write-once (bucketed "
    "by shingle at ingest), each batch explodes only ITS shingles and "
    "equi-joins the index — per-batch cost is batch-sized, the corpus is "
    "never re-shuffled, and there is no corpus self-join anywhere",
    tags=("dedup", "pipeline"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.select(
        "doc_id",
        "text",
        (F.col("doc_id") % 5 == 0).alias("is_new"),
        T.fingerprint("text").alias("fp"),
    )
    new = flagged.filter(F.col("is_new"))
    corpus = flagged.filter(~F.col("is_new"))
    exact = (
        new.select("doc_id", "fp")
        .join(corpus.select(F.col("doc_id").alias("cid"), "fp"), "fp")
        .groupBy("doc_id")
        .agg(F.min("cid").alias("ex_match"))
    )
    shn = D.shingles(new, "doc_id", "text", n=3)
    shc = D.shingles(corpus, "doc_id", "text", n=3)
    sizes = shn.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        shn.select(F.col("id").alias("id_n"), "sh")
        .join(shc.select(F.col("id").alias("id_c"), "sh"), "sh")
        .groupBy("id_n", "id_c")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    cont = F.col("n_inter") / F.col("n_sh")
    w = Window.partitionBy("id_n").orderBy(F.desc(cont), "id_c")
    best = (
        inter.join(sizes, inter.id_n == sizes.id)
        .filter(cont >= 0.5)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id_n", "id_c", cont.alias("cont"))
    )
    return (
        new.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(best, new.doc_id == best.id_n, "left")
        .select(
            "doc_id",
            F.when(F.col("ex_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("id_c").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce(F.col("ex_match"), F.col("id_c")).alias("match_id"),
            F.when(F.col("ex_match").isNotNull(), F.lit(1.0))
            .otherwise(F.round(F.col("cont"), 6))
            .alias("score"),
        )
    )


# --------------------------------------------------------------------------
# One-permutation hashing (OPH) MinHash — Li/Owen/Zhang's "One Permutation
# Hashing" with Shrivastava & Li's densification by rotation. The published
# cost claim — one hash per shingle instead of k — targets pipelines that
# compute k INDEPENDENT hashes per element (e.g. a literal k-permutation
# MinHash). This engine's k-wise twin (q_minhash_portable) already
# amortizes to one md5 + k affine transforms, so the honest measured
# picture at sf0.1 is: both signature formulations sit within noise of the
# shared md5+explode floor (0.58 s k-wise vs 0.60 s OPH over a 0.45 s
# floor, min-of-3 warm) — the hash dominates, as it should. What OPH
# contributes to the catalog is algorithmic parity with the published
# scheme and the variance trade it implies (empty bins on short docs),
# which q_oph_vs_kwise measures against exact ground truth.
#
# Mechanics: each shingle's single hash routes to bin h % k, one MIN per
# bin; empty bins borrow the nearest non-empty bin clockwise, offset by
# C·distance (C = 2^33 > max hash value, so a borrowed value can only
# collide with the same borrow in another doc — the paper's distinctness
# requirement). Max signature value is 2^32 + 15·2^33 ≈ 1.4e11, safely
# inside BIGINT on both engines. The whole densification is a COALESCE
# chain over the k conditional MINs — one grouped aggregate + one
# projection, no second shuffle, no k×k join.
# --------------------------------------------------------------------------

_OPH_K = 16
_OPH_C = 8589934592  # 2^33: strictly greater than any raw 32-bit hash value


def _oph_oracle() -> str:
    bins = ",\n           ".join(
        f"MIN(CASE WHEN h % {_OPH_K} = {b} THEN h END) AS m_{b}"
        for b in range(_OPH_K)
    )
    sigs = ",\n           ".join(
        "COALESCE("
        + ", ".join(
            f"m_{(i + d) % _OPH_K}" + (f" + {d * _OPH_C}" if d else "")
            for d in range(_OPH_K)
        )
        + f") AS sig_{i}"
        for i in range(_OPH_K)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(t) >= 3 THEN
                 list_transform(
                   list_filter(list_zip(t, t[2:], t[3:]), p -> p[3] IS NOT NULL),
                   p -> concat_ws(' ', p[1], p[2], p[3]))
               ELSE [array_to_string(t, ' ')] END)) AS sh
      FROM t),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS h
      FROM sh),
    binned AS (
      SELECT doc_id,
           {bins}
      FROM hashed GROUP BY doc_id)
    SELECT doc_id,
           {sigs}
    FROM binned
    """


@query(
    "q_minhash_oph_portable",
    oracle=_oph_oracle(),
    description="one-permutation MinHash signatures (OPH, densification by "
    "rotation): each shingle hashed ONCE and routed to bin h % 16, one MIN "
    "per bin, empty bins borrow clockwise with a 2^33-per-step offset; "
    "densification is a COALESCE chain, no extra shuffle. Measured at sf0.1 "
    "both schemes sit within noise of the shared md5+explode floor (the "
    "k-wise twin already amortizes to one hash + k affine transforms) — "
    "the OPH exhibit is the published scheme + its variance trade "
    "(q_oph_vs_kwise), bit-reproduced by the oracle",
    tags=("dedup",),
)
def q_minhash_oph_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sig_columns(oph_sigs(spark, sf_dir))


def oph_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, sig) one-permutation signatures over the family-shared
    shingle explode — the (id, sig) input of the operators/dedup pair
    operator and agreement count."""
    from .pipeline_queries import corpus_shingles

    binned = md5_hashed(corpus_shingles(spark, sf_dir)).groupBy("id").agg(
        *[
            F.min(F.when(F.col("h") % _OPH_K == b, F.col("h"))).alias(f"m_{b}")
            for b in range(_OPH_K)
        ]
    )
    sig = F.array(*[
        F.coalesce(
            *[
                (F.col(f"m_{(i + d) % _OPH_K}") + F.lit(d * _OPH_C)) if d
                else F.col(f"m_{i}")
                for d in range(_OPH_K)
            ]
        )
        for i in range(_OPH_K)
    ])
    return binned.select("id", sig.alias("sig"))
