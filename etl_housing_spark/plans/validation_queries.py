"""Record-linkage and cross-system validation queries (round 3).

Reference parity: the reference hand-normalizes near-identical strings
("Studio" vs "studio", trulia_scrape.py:166-168) and trusts its CSV→SQL→Mongo
copies blindly. These queries give both concerns a first-class, scale-safe
form: a blocked fuzzy-match (the record-linkage primitive for canonicalizing
dirty dimension values) and an order-independent table fingerprint (the
"did the migration copy every row" check between any two engines — the
repo's own Spark↔DuckDB oracle protocol, turned into a query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.sampling import md5_u32
from .registry import query


@query(
    "q_fuzzy_match",
    # Dedupe-then-match: fuzzy joins NEVER run on the raw table — distinct
    # names first (64 values here; bounded by the dirty-vocabulary size, not
    # the row count, at any scale), then a self-join *within blocks* (last
    # token of the name) so the candidate set is Σ|block|², not |V|². The
    # Levenshtein threshold then canonicalizes; applying the mapping back to
    # the fact table is a broadcast equi-join. Edit distance is the standard
    # DP on both engines — integer, no float parity risk.
    oracle="""
    WITH names AS (
      SELECT DISTINCT p_name AS name,
             split_part(p_name, ' ', 2) AS block
      FROM part)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
    FROM names a JOIN names b
      ON a.block = b.block AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 3
    """,
    description="blocked fuzzy string match over the distinct part-name vocabulary "
    "(record-linkage canonicalization): distinct-first so cost is bounded by "
    "vocabulary size not row count, block on the head noun so the self-join is "
    "Σ|block|² not |V|², Levenshtein ≤ 3 — the scale-safe shape for entity "
    "resolution on dirty dimensions",
    tags=("matching",),
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.select(
        F.col("p_name").alias("name"),
        F.split(F.col("p_name"), " ").getItem(1).alias("block"),
    ).distinct()
    a = names.alias("a")
    b = names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block")) & (F.col("a.name") < F.col("b.name")),
        )
        .filter(F.levenshtein(F.col("a.name"), F.col("b.name")) <= 3)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name")).cast("bigint").alias("dist"),
        )
    )


@query(
    "q_table_checksum",
    # Order-independent per-group fingerprint: each row folds to a 32-bit
    # integer (first 8 md5 hex chars of the canonical row string), and the
    # group checksum is the exact integer SUM — associative, so any
    # partitioning/merge order gives the same value, and any single-row
    # difference changes it. The sum runs in DECIMAL(38,0) (no overflow until
    # ~1e28 rows) and is reported mod 1e18 to stay in BIGINT. Timestamps
    # render through an explicit format string (engine-default casts differ
    # on fractional seconds). Map-only + one partial-agg shuffle: the
    # cheapest possible "are these two copies identical" scan at 100 TB.
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST('0x' || substr(md5(concat_ws(chr(31),
                  CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
                  o_orderpriority, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'))), 1, 8)
                AS BIGINT) AS DECIMAL(38,0))) % 1000000000000000000 AS BIGINT) AS checksum
    FROM orders GROUP BY o_orderstatus
    """,
    description="order-independent table fingerprint per order status: md5-fold "
    "each row to a 32-bit int (explicit timestamp format — engine cast defaults "
    "differ), exact decimal SUM mod 1e18 — the cross-engine migration-validation "
    "checksum; map-only plus one partial-agg shuffle, identical by construction "
    "on any engine and any row order",
    tags=("matching", "warehouse"),
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "\x1f",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderpriority"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
    )
    h = md5_u32(row_str)
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(h.cast("decimal(38,0)")) % F.lit(10**18)).cast("bigint").alias("checksum"),
    )


@query(
    "q_referential_audit",
    # The whole-warehouse FK health report in one result set: for every
    # foreign-key edge, total rows and orphan rows (fact keys with no parent).
    # Each edge is one LEFT ANTI join aggregated to a single row, then a
    # union of seven one-row frames — the anti-joins against small dims
    # broadcast; the two fact-fact edges (lineitem→orders/part/supplier)
    # shuffle once each on the key. NULL FKs count as orphans here (audit
    # semantics: a row that cannot join its parent is broken either way).
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           (SELECT COUNT(*) FROM lineitem) AS n_rows,
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
              (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT COUNT(*) FROM supplier),
           (SELECT COUNT(*) FROM supplier s WHERE NOT EXISTS
              (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           (SELECT COUNT(*) FROM nation),
           (SELECT COUNT(*) FROM nation n WHERE NOT EXISTS
              (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
    """,
    description="referential-integrity audit of every FK edge in the star schema "
    "(total vs orphan rows per edge, one result set): seven anti-join counts — "
    "dim-side edges broadcast, fact-fact edges shuffle once on the key; the "
    "nightly warehouse health check",
    tags=("matching", "warehouse"),
)
def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = None
    for fact, fk, dim, pk in edges:
        f = load_table(spark, sf_dir, fact)
        d = load_table(spark, sf_dir, dim).select(pk)
        orphans = f.join(d, f[fk] == d[pk], "left_anti").agg(
            F.count(F.lit(1)).alias("n_orphans")
        )
        row = (
            f.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(F.broadcast(orphans))
            .select(
                F.lit(f"{fact}.{fk}->{dim}").alias("fk_edge"),
                "n_rows",
                "n_orphans",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "q_benford",
    # Benford first-digit audit — the classic fabricated-numbers screen an
    # auditor runs over a value column: observed leading-digit frequencies
    # vs the Benford expectation log10(1 + 1/d), with the chi-square-style
    # deviation statistic reported per digit. Digits are string heads of
    # the canonical numeric form (integer part of a positive price, so no
    # scientific-notation formatting divergence); expected frequencies are
    # log10 on integer-derived identical doubles; deviation terms sum
    # decimal-exact over the 9-row digit frame.
    oracle=f"""
    WITH d AS (
      -- floor, not a double→int cast: Spark's cast truncates toward zero
      -- while DuckDB's rounds half away — floor is identical on both
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT SUM(n) AS tn FROM c)
    SELECT digit, n,
           ROUND(n / CAST(t.tn AS DOUBLE), 6) AS observed,
           ROUND(log10(1 + 1.0 / digit), 6) AS expected,
           ROUND((n / CAST(t.tn AS DOUBLE) - log10(1 + 1.0 / digit))
                 * (n / CAST(t.tn AS DOUBLE) - log10(1 + 1.0 / digit))
                 / log10(1 + 1.0 / digit), 6) AS dev_term
    FROM c CROSS JOIN t
    """,
    description="Benford first-digit audit over order values: leading digit "
    "of the integer part (one grouped count), observed vs log10(1 + 1/d) "
    "expected frequencies, per-digit chi-square-style deviation terms — the "
    "fabricated-numbers screen on any monetary column; windows and logs only "
    "touch the 9-row digit frame",
    tags=("validation", "stats"),
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = orders.where(F.col("o_totalprice") >= 1).select(
        F.substring(F.floor("o_totalprice").cast("string"), 1, 1)
        .cast("bigint")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("tn"))
    obs = F.col("n") / F.col("tn").cast("double")
    exp = F.log10(1 + 1.0 / F.col("digit"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.round(obs, 6).alias("observed"),
            F.round(exp, 6).alias("expected"),
            F.round((obs - exp) * (obs - exp) / exp, 6).alias("dev_term"),
        )
    )


@query(
    "q_snapshot_diff",
    # Row-level diff between two table versions — the migration-validation
    # report a backfill signs off on (counts per disposition + the changed
    # keys' before/after). The "v2" snapshot is derived in-plan by a
    # deterministic mutation of the base (1-in-100 keys get a new priority,
    # 1-in-199 keys are deleted), so the operator under test — full outer
    # join on the key + column-level comparison — runs on a reproducible
    # input in both engines. One shuffle on the key; the comparison is
    # codegen, no row hashing round-trips.
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey AS k, o_orderpriority AS p, o_totalprice AS v
      FROM orders),
    v2 AS (
      SELECT k,
             CASE WHEN k % 100 = 0 THEN '0-RUSHED' ELSE p END AS p,
             v
      FROM v1 WHERE k % 199 <> 0),
    d AS (
      SELECT COALESCE(v1.k, v2.k) AS k,
             CASE WHEN v1.k IS NULL THEN 'added'
                  WHEN v2.k IS NULL THEN 'removed'
                  WHEN v1.p <> v2.p OR v1.v <> v2.v THEN 'changed'
                  ELSE 'unchanged' END AS disposition
      FROM v1 FULL JOIN v2 ON v1.k = v2.k)
    SELECT disposition, COUNT(*) AS n,
           CAST(MIN(k) AS BIGINT) AS min_key, CAST(MAX(k) AS BIGINT) AS max_key
    FROM d GROUP BY disposition
    """,
    description="snapshot diff: row dispositions (added/removed/changed/"
    "unchanged) between a table version and its successor via one full outer "
    "join on the key + column comparison, rolled up with per-disposition key "
    "ranges — the backfill sign-off report; v2 derived in-plan by a "
    "deterministic mutation so the diff operator is reproducible cross-engine",
    tags=("validation", "join"),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.col("o_totalprice").alias("v"),
    )
    v2 = v1.where(F.col("k") % 199 != 0).select(
        "k",
        F.when(F.col("k") % 100 == 0, "0-RUSHED").otherwise(F.col("p")).alias("p"),
        "v",
    )
    a, b = v1.alias("a"), v2.alias("b")
    d = a.join(b, F.col("a.k") == F.col("b.k"), "full").select(
        F.coalesce(F.col("a.k"), F.col("b.k")).alias("k"),
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .when(
            (F.col("a.p") != F.col("b.p")) | (F.col("a.v") != F.col("b.v")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("disposition"),
    )
    return d.groupBy("disposition").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").cast("bigint").alias("min_key"),
        F.max("k").cast("bigint").alias("max_key"),
    )
