"""Model-evaluation and distribution-drift queries (round 3).

The reference evaluates its Ridge model with sklearn's in-memory ``r2_score``
(trulia_csv_to_nlp.ipynb cells 30-36) and has no monitoring surface at all.
This module re-expresses the evaluation/monitoring toolkit as engine queries
— each a pure aggregation pipeline a 100 TB scoring job can run in the same
pass as scoring itself: ranking quality (AUC), probability calibration,
retrieval scoring (BM25), and the three standard drift statistics (PSI, KS,
Gini concentration).

Determinism: every float reduction routes through the decimal-exact ``dsum``;
ranks are integer constructions (ties get closed-form average ranks, not
engine-specific rank flavors); final formulas evaluate once on identical
operands. All six queries are fully DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.sampling import md5_u32
from ._util import dsum, dsum_wide, sql_dsum, sql_dsum_wide
from .registry import query

# Shared pseudo-labels/scores over documents: "is English" as the positive
# class, document length as the (deliberately weak) score — the point is the
# metric plumbing, not the classifier.
_POS = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END"


@query(
    "q_rank_auc",
    # AUC from the score HISTOGRAM, not per-row ranks: group by score value,
    # then avg-rank per value = rows-before + (n+1)/2 (the closed tie form).
    # AUC = (Σ_pos avg_rank − n_pos(n_pos+1)/2) / (n_pos·n_neg). Everything
    # until the final division is integer/half-integer arithmetic — exact on
    # both engines; the histogram is |distinct scores| rows, so the window
    # runs on the aggregate, never the raw table.
    oracle=f"""
    WITH h AS (
      SELECT n_chars AS score,
             COUNT(*) AS n_tot,
             SUM({_POS}) AS n_pos
      FROM documents GROUP BY n_chars),
    w AS (
      SELECT score, n_tot, n_pos,
             COALESCE(SUM(n_tot) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM h),
    s AS (
      SELECT SUM(n_pos) AS np,
             SUM(n_tot) - SUM(n_pos) AS nn,
             {sql_dsum('n_pos * (before + (n_tot + 1) / 2.0)')} AS pos_rank_sum
      FROM w)
    SELECT ROUND((pos_rank_sum - np * (np + 1) / 2.0) / (np * nn), 6) AS auc,
           CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
    FROM s
    """,
    description="exact ranking AUC (Mann-Whitney form) computed from the score "
    "histogram with closed-form average ranks for ties: one grouped count, one "
    "window over the |distinct scores| histogram, integer arithmetic until the "
    "single final division — the scoring-job-side eval that never collects "
    "per-row ranks",
    tags=("eval",),
)
def q_rank_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pos = F.when(F.col("lang") == "en", 1).otherwise(0)
    h = docs.groupBy(F.col("n_chars").alias("score")).agg(
        F.count(F.lit(1)).alias("n_tot"), F.sum(pos).alias("n_pos")
    )
    w_before = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    w = h.select(
        "score",
        "n_tot",
        "n_pos",
        F.coalesce(F.sum("n_tot").over(w_before), F.lit(0)).alias("before"),
    )
    s = w.agg(
        F.sum("n_pos").alias("np"),
        (F.sum("n_tot") - F.sum("n_pos")).alias("nn"),
        dsum(F.col("n_pos") * (F.col("before") + (F.col("n_tot") + 1) / 2.0)).alias(
            "pos_rank_sum"
        ),
    )
    return s.select(
        F.round(
            (F.col("pos_rank_sum") - F.col("np") * (F.col("np") + 1) / 2.0)
            / (F.col("np") * F.col("nn")),
            6,
        ).alias("auc"),
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
    )


@query(
    "q_calibration_bins",
    # Reliability diagram: pseudo-probability p ∈ [0,1) from document length,
    # 10 equal-width bins, per-bin mean predicted vs empirical positive rate.
    # p is a ratio of integers (identical doubles), the bin id is integer
    # floor, and both means are decimal-exact sums over identical operands.
    oracle=f"""
    WITH scored AS (
      SELECT CAST(n_chars % 1000 AS DOUBLE) / 1000.0 AS p,
             {_POS} AS y
      FROM documents)
    SELECT CAST(floor(p * 10) AS BIGINT) AS bin,
           COUNT(*) AS n,
           ROUND({sql_dsum('p')} / COUNT(*), 6) AS mean_pred,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos
    FROM scored GROUP BY bin
    """,
    description="probability-calibration bins (reliability diagram): 10 "
    "equal-width score bins, per-bin mean prediction vs empirical positive rate "
    "— one scan, one partial-agg shuffle on the bin id; the monitoring query a "
    "scoring job emits alongside its output",
    tags=("eval",),
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    p = (F.col("n_chars") % 1000).cast("double") / 1000.0
    y = F.when(F.col("lang") == "en", 1).otherwise(0)
    scored = docs.select(p.alias("p"), y.alias("y"))
    return (
        scored.groupBy(F.floor(F.col("p") * 10).cast("bigint").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(dsum("p") / F.count(F.lit(1)), 6).alias("mean_pred"),
            F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("frac_pos"),
        )
    )


@query(
    "q_bm25",
    # BM25 (k1=1.2, b=0.75) of every document against a fixed 3-term query.
    # All corpus statistics — N, avgdl, per-term df — are computed IN-PLAN
    # (no driver-side count(): the aggregates broadcast back into the scoring
    # join, the q_tfidf lesson from round 2). Per-doc score = dsum over the
    # ≤3 matched term weights; idf/tf arithmetic happens once on identical
    # integer-derived operands.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs,
                     {sql_dsum('dl')} AS total_dl
              FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ('data', 'model', 'system') GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    w AS (
      SELECT tf.doc_id,
             ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (stats.total_dl / stats.n_docs))) AS s
      FROM tf JOIN df ON tf.tok = df.tok
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats)
    SELECT doc_id, ROUND({sql_dsum('s')}, 6) AS bm25
    FROM w GROUP BY doc_id
    """,
    description="BM25 retrieval scoring (k1=1.2, b=0.75) against a fixed 3-term "
    "query with N/avgdl/df all computed in-plan (one corpus-stats aggregate "
    "broadcast into the scoring join — no driver-side counts): the ranking "
    "function of every lexical search engine, as one lazy plan over the token "
    "explode",
    tags=("eval", "text"),
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), dsum("dl").alias("total_dl"))
    tf = (
        toks.filter(F.col("tok").isin("data", "model", "system"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_dl") / F.col("n_docs")
    s = (
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
        * F.col("tf")
        * 2.2
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / avgdl))
    )
    w = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s.alias("s"))
    )
    return w.groupBy("doc_id").agg(F.round(dsum("s"), 6).alias("bm25"))


@query(
    "q_psi",
    # Population Stability Index between the hash-assigned train and test
    # splits (q_split_assign's buckets): fixed-width 200-char bins, ε-floored
    # proportions so empty bins stay finite, PSI = Σ (p−q)·ln(p/q). The two
    # distributions come from ONE scan (conditional aggregation on the split
    # label); proportions are integer ratios + a literal ε → identical
    # doubles.
    oracle="""
    WITH labeled AS (
      SELECT CAST(n_chars // 200 AS BIGINT) AS bin,
             CASE WHEN CAST('0x' || substr(md5(concat_ws(chr(31), '',
                    CAST(doc_id AS VARCHAR))), 1, 8) AS BIGINT) % 10000 < 8000
                  THEN 1 ELSE 0 END AS is_train
      FROM documents),
    bins AS (
      SELECT bin,
             SUM(is_train) AS n_train,
             SUM(1 - is_train) AS n_test
      FROM labeled GROUP BY bin),
    tot AS (SELECT SUM(n_train) AS tt, SUM(n_test) AS te FROM bins),
    terms AS (
      SELECT (n_train / CAST(tt AS DOUBLE) + 1e-6) AS p,
             (n_test / CAST(te AS DOUBLE) + 1e-6) AS q
      FROM bins CROSS JOIN tot)
    SELECT ROUND(CAST(SUM(CAST((p - q) * ln(p / q) AS DECIMAL(18,6))) AS DOUBLE), 6) AS psi,
           COUNT(*) AS n_bins
    FROM terms
    """,
    description="Population Stability Index between the deterministic train/test "
    "hash splits over 200-char length bins (ε-floored so empty bins stay "
    "finite): the drift gate run before every model refresh — one scan with "
    "conditional aggregation, a 2-row totals broadcast, decimal-exact term sum",
    tags=("eval", "sampling"),
)
def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        md5_u32(F.concat_ws("\x1f", F.lit(""), F.col("doc_id").cast("string")))
        % 10000
    )
    labeled = docs.select(
        F.floor(F.col("n_chars") / 200).cast("bigint").alias("bin"),
        F.when(bucket < 8000, 1).otherwise(0).alias("is_train"),
    )
    bins = labeled.groupBy("bin").agg(
        F.sum("is_train").alias("n_train"), F.sum(1 - F.col("is_train")).alias("n_test")
    )
    tot = bins.agg(F.sum("n_train").alias("tt"), F.sum("n_test").alias("te"))
    terms = bins.crossJoin(F.broadcast(tot)).select(
        (F.col("n_train") / F.col("tt").cast("double") + 1e-6).alias("p"),
        (F.col("n_test") / F.col("te").cast("double") + 1e-6).alias("q"),
    )
    t = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    return terms.agg(
        F.round(F.sum(t.cast("decimal(18,6)")).cast("double"), 6).alias("psi"),
        F.count(F.lit(1)).alias("n_bins"),
    )


@query(
    "q_ks_statistic",
    # Two-sample Kolmogorov-Smirnov: D = max_v |F_en(v) − F_other(v)| between
    # English and non-English document-length distributions. Both CDFs
    # evaluate on the union value grid via ONE histogram scan (conditional
    # counts) + one cumulative window; each CDF value is a bigint/bigint
    # ratio → identical doubles, and max() needs no ordering guarantees.
    oracle="""
    WITH h AS (
      SELECT n_chars AS v,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS c2
      FROM documents GROUP BY n_chars),
    w AS (
      SELECT SUM(c1) OVER (ORDER BY v) AS cum1,
             SUM(c2) OVER (ORDER BY v) AS cum2,
             SUM(c1) OVER () AS n1,
             SUM(c2) OVER () AS n2
      FROM h)
    SELECT ROUND(MAX(abs(cum1 / CAST(n1 AS DOUBLE) - cum2 / CAST(n2 AS DOUBLE))), 6) AS ks_d,
           CAST(MAX(n1) AS BIGINT) AS n_en, CAST(MAX(n2) AS BIGINT) AS n_other
    FROM w
    """,
    description="two-sample Kolmogorov-Smirnov statistic between English and "
    "non-English length distributions: one histogram scan with conditional "
    "counts, both CDFs from one cumulative window over the value grid, D as a "
    "max of integer-ratio differences — the distribution-shift test at "
    "histogram (not row) cardinality",
    tags=("eval", "stats"),
)
def q_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c1 = F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
    c2 = F.sum(F.when(F.col("lang") == "en", 0).otherwise(1))
    h = docs.groupBy(F.col("n_chars").alias("v")).agg(c1.alias("c1"), c2.alias("c2"))
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    w = h.select(
        F.sum("c1").over(w_cum).alias("cum1"),
        F.sum("c2").over(w_cum).alias("cum2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    d = F.abs(
        F.col("cum1") / F.col("n1").cast("double") - F.col("cum2") / F.col("n2").cast("double")
    )
    return w.agg(
        F.round(F.max(d), 6).alias("ks_d"),
        F.max("n1").cast("bigint").alias("n_en"),
        F.max("n2").cast("bigint").alias("n_other"),
    )


@query(
    "q_gini",
    # Gini concentration of order value: G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n with
    # x ascending and i the deterministic (value, key) rank. The rank·value
    # products run DECIMAL(38,6)-exact (the (18,6) element bound of 1e12
    # would overflow once rank·price crosses it, ~TPC-H sf2); the plain sum
    # stays (18,6); n is integer. The
    # global row_number is the one range exchange — same cost class as any
    # total sort, and the standard concentration metric for "how skewed is
    # this key" capacity planning.
    oracle=f"""
    WITH r AS (
      SELECT o_totalprice AS x,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS i
      FROM orders),
    s AS (
      SELECT COUNT(*) AS n, {sql_dsum('x')} AS sx, {sql_dsum_wide('i * x')} AS six
      FROM r)
    SELECT ROUND(2.0 * six / (n * sx) - (n + 1.0) / n, 6) AS gini,
           CAST(n AS BIGINT) AS n_orders
    FROM s
    """,
    description="Gini coefficient of order-value concentration (the inequality "
    "summary behind skew/capacity planning): deterministic global rank, "
    "decimal-exact Σx and Σi·x, closed-form Gini evaluated once — one range "
    "exchange + one aggregate",
    tags=("eval", "stats"),
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    r = orders.select(
        F.col("o_totalprice").alias("x"),
        F.row_number().over(Window.orderBy("o_totalprice", "o_orderkey")).alias("i"),
    )
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x").alias("sx"),
        # rank·price exceeds the (18,6) element bound at ~sf2 — wide variant
        dsum_wide(F.col("i") * F.col("x")).alias("six"),
    )
    return s.select(
        F.round(
            2.0 * F.col("six") / (F.col("n") * F.col("sx")) - (F.col("n") + 1.0) / F.col("n"), 6
        ).alias("gini"),
        F.col("n").cast("bigint").alias("n_orders"),
    )
