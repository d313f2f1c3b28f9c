"""Similarity search over embedding columns (SURVEY.md §2.13).

Three tiers, increasing scale:

- ``topk_bruteforce``   — exact linear scan: one broadcast of the query
                          vector(s), one pass, TakeOrderedAndProject. The
                          right answer up to ~10^8 vectors × small k.
- ``lsh_neardup_pairs`` — random-hyperplane LSH bucketing for all-pairs
                          near-dup: candidates only within a bucket, recall
                          traded for the end of the O(n²) cross join.
                          Its core ``_lsh_neardup`` takes the hyperplane
                          tables: ``sign_bucket`` → ``dedup.band_pairs``
                          → ``cosine_pairs``. The oracle-checked
                          q_embed_neardup_portable runs the same core over
                          its fixed Rademacher table.
- ``ivf_topk``          — IVF-style: coarse cells from a trained/assigned
                          quantizer (here: the label column or LSH bucket),
                          query probes its ``nprobe`` best cells only, by
                          decimal-exact centroid dot with a cell-id
                          tie-break; q_ann_ivf_portable hash-checks it.

Scoring uses functions.vectors (zip_with/aggregate — JVM lambdas); at
very high dimensionality a vectorized Pandas UDF over Arrow batches becomes
competitive, but at d=64 the built-ins win by skipping serialization.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from . import clustering as C


def topk_bruteforce(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "dot",
) -> DataFrame:
    """Exact top-k vs one stored vector: broadcast the query row, score every
    vector, TakeOrderedAndProject keeps k per partition then merges — no
    full sort, no shuffle of the scored set."""
    q = emb.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("__q"))
    scored = emb.crossJoin(F.broadcast(q))
    # dot scoring takes the sequential-double fold (V.dot_seq): 2× the
    # decimal fold, still oracle-exact (DuckDB list_dot_product parity)
    score = {
        "dot": V.dot_seq(F.col(vec_col), F.col("__q")),
        "cosine": V.cosine(F.col(vec_col), F.col("__q")),
    }[metric]
    return (
        scored.select(F.col(id_col), F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def topk_many(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch top-k: broadcast the (small) query set, score, row_number ≤ k
    per query. The scored relation never materializes beyond the window."""
    scored = emb.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(V.dot_seq(F.col(vec_col), F.col(query_vec_col)), 6).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), id_col)
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((planes, dim)).tolist()


def sign_bucket(vec_col, planes: list) -> Column:
    """Σ 2^p·[dot_seq(v, h_p) > 0]: the sign-bit bucket of ``vec_col``
    against the plane columns ``planes`` — literal arrays, or
    ``element_at`` of a broadcast row that carries the planes as data
    (:func:`_lsh_neardup`). The one sign-bit bucket expression of the
    hyperplane families (LSH tables, the kNN graph's candidate tables)."""
    b = F.lit(0)
    for p, h in enumerate(planes):
        b = b + F.when(V.dot_seq(vec_col, h) > 0, F.lit(2**p)).otherwise(F.lit(0))
    return b


def lsh_bucket(vec_col, dim: int, planes: int = 8, seed: int = 42):
    """Random-hyperplane signature → int bucket in [0, 2^planes).

    Hyperplanes are generated driver-side from a fixed seed and inlined as
    literal arrays — deterministic across runs and executors (no RAND() in
    the plan). sign(v·h_p) contributes bit p."""
    return sign_bucket(
        vec_col,
        [F.array(*[F.lit(float(x)) for x in hp]) for hp in _hyperplanes(dim, planes, seed)],
    )


def lsh_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    tables: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-dup pairs, candidates restricted to equal LSH buckets.

    With b hyperplanes, P(same bucket for angle θ) = (1 - θ/π)^b — high-cosine
    pairs survive, the O(n²) bulk never joins. A single table misses pairs that
    straddle a hyperplane; ``tables`` > 1 draws fresh hyperplanes per table and
    unions the candidate sets, lifting recall to 1 - (1 - (1-θ/π)^b)^T at T×
    the bucketing cost — still O(candidates), never O(n²).

    Table t draws seeded Gaussian hyperplanes (``seed + t``); the pairs come
    from :func:`_lsh_neardup`, the core the oracle-checked twin
    q_embed_neardup_portable runs over its fixed Rademacher table.
    """
    return _lsh_neardup(
        emb,
        [_hyperplanes(dim, planes, seed=seed + t) for t in range(tables)],
        threshold,
        id_col,
        vec_col,
    )


def _lsh_neardup(
    emb: DataFrame,
    tables: list[list[list[float]]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cos) pairs with id_a < id_b sharing a sign-bit bucket in
    at least one hyperplane table of ``tables`` (each a list of planes),
    verified by :func:`cosine_pairs` (cosine >= ``threshold``, the unrounded
    value, as in :func:`exact_neardup_pairs`) and reported rounded to 6
    places. Scoring is a map-side JVM lambda; the distance computation never
    touches Python.

    r16 (guide §2.4 shuffle fewer bytes, §7.2 duplicated subtrees): the T
    per-table self-joins collapse into ONE :func:`dedup.band_pairs` over the
    exploded (table, bucket) key: each row emits its T bucket assignments
    via posexplode and pairs colliding in ANY table meet on the composite
    key, the identical candidate set the union of per-table joins produced
    (measured: the 16-way union-of-joins plan alone cost ~5.8 s of Catalyst
    analysis per call). Each pair survives once however many tables bucket
    it together.
    """
    from ..layout import fan_out
    from ._ckpt import tracked_persist
    from .dedup import band_pairs

    tagged = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # Hyperplanes travel as broadcast DATA (one row holding the nested
    # tables × planes × dim double array), not as inlined literals: the
    # literal form put T·planes·dim ≈ 4096 literal nodes into the
    # projection, and Catalyst analysis + codegen of that tree dominated the
    # whole query (measured 5.8–8.6 s of mk per call; 32 s with codegen
    # cold). Same IEEE doubles, same sign tests → identical buckets.
    hrow = emb.sparkSession.createDataFrame(
        [([[[float(x) for x in hp] for hp in table] for table in tables],)],
        schema="h array<array<array<double>>>",
    )
    buckets = [
        sign_bucket(
            F.col("v"),
            [
                F.element_at(F.element_at(F.col("h"), t + 1), p + 1)
                for p in range(len(table))
            ],
        )
        for t, table in enumerate(tables)
    ]
    # fan_out: the T·planes dot_seq bucket folds run in the scan's
    # partitioning (one task for a single-file corpus); the skinny
    # (id, table, bucket) band table then evaluates ONCE — the self-join
    # would otherwise re-evaluate the fold-heavy bucket projection per
    # side. A lazy persist, not the r16 eager single_shot_checkpoint
    # (r17, VERDICT r16 ask #6 A/B): the checkpoint serialized a whole
    # driver-blocking materialization job before the query's action, while
    # the persist fills under the action itself (both join branches read
    # the cache, fills are per-partition-locked) — measured 8.3-8.5 s →
    # 7.25-7.38 s isolated cold at sf0.1, mk 2.5 → 1.9 s; rows identical
    # (exceptAll = 0 both directions).
    cands = band_pairs(
        tracked_persist(
            fan_out(tagged, "id")
            .crossJoin(F.broadcast(hrow))
            .select("id", F.posexplode(F.array(*buckets)).alias("band", "bkey"))
        )
    )
    return cosine_pairs(cands, tagged, threshold, probe=emb).select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    )


def cosine_pairs(
    cands: DataFrame, vecs: DataFrame, threshold: float, probe: DataFrame
) -> DataFrame:
    """The verify step of the bucketed cosine pair families: (id_a, id_b)
    candidates → (id_a, id_b, cos) with the decimal-exact cosine of the
    ``vecs`` (id, v) rows >= ``threshold``.

    The vectors and per-VECTOR norms re-attach by unique id after the
    candidate distinct (the same V.norm fold on the same array → the same
    doubles as per pair, so 2 of cosine's 3 folds leave the pair stream),
    broadcast when ``probe``'s scan is provably tiny
    (layout.broadcast_if_tiny; plain equi-join at production sizes). The
    cosine is symmetric bit for bit, so a caller may swap id_a and id_b
    afterwards."""
    from ..layout import broadcast_if_tiny

    w = vecs.select("id", "v", V.norm(F.col("v")).alias("nrm"))
    wa, wb = (
        broadcast_if_tiny(
            w.select(
                F.col("id").alias(f"id_{s}"),
                F.col("v").alias(f"v{s}"),
                F.col("nrm").alias(f"n{s}"),
            ),
            probe,
        )
        for s in "ab"
    )
    cos = V.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cands.join(wa, "id_a")
        .join(wb, "id_b")
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def exact_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact all-pairs cosine near-dup — the O(n²) oracle twin of
    :func:`lsh_neardup_pairs`, NOT a scale path.

    Broadcasts the full table and evaluates every i<j pair; at 100 TB that is
    never the right plan, so a hard ``max_rows`` guard refuses inputs above
    the bound (a metadata-only parquet count — no data scan). Pass
    ``max_rows=None`` only when you have decided the quadratic cost is
    acceptable; the production default for near-dup detection is the LSH
    form with ``tables`` tuned to the recall target.

    Plan shape: norms precomputed per vector (O(n), not per pair), right
    side broadcast, left side repartitioned so the quadratic nested-loop
    compute spreads across all cores — without the repartition a
    single-row-group scan makes BroadcastNestedLoopJoin a one-task loop.
    """
    if max_rows is not None:
        n = emb.count()
        if n > max_rows:
            raise ValueError(
                f"exact_neardup_pairs is O(n²): input has {n} rows > max_rows={max_rows}. "
                "Use lsh_neardup_pairs (O(candidates)) or raise max_rows explicitly."
            )
    base = emb.select(id_col, vec_col, V.norm(F.col(vec_col)).alias("nrm"))
    par = emb.sparkSession.sparkContext.defaultParallelism
    a = base.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("nrm").alias("na")
    ).repartition(par)
    b = base.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("nrm").alias("nb")
    )
    cos = V.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(cos >= threshold)
        .select("id_a", "id_b", F.round(cos, 6).alias("cos"))
    )


def ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style top-k: vectors are pre-assigned to coarse cells
    (``cell_col`` — a trained quantizer's assignment; the testdata ``label``
    column stands in). The query probes its ``nprobe`` best cells, and the
    scan touches only those partitions — the inverted-file pruning that
    makes ANN linear in the probed fraction instead of the corpus
    (the bucketed search of *Continuously Adaptive Similarity Search*).

    Every stage is exact, so q_ann_ivf_portable hash-checks this code
    against DuckDB:
    1. centroids: ``clustering.centroids`` (decimal-exact per-dim means)
       per cell, |cells| rows, broadcastable;
    2. probe: decimal-exact ``V.dot`` of each centroid with the query,
       top ``nprobe`` by (score DESC, cell) — the cell id breaks exact
       ties, so the probed set does not depend on partitioning;
    3. scan: the probed cells' vectors scored by ``V.dot_seq`` (bitwise
       DuckDB's ``list_dot_product``), top ``k`` by (score DESC, id).
    """
    cents = C.centroids(emb, cell_col, vec_col)
    q = emb.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("__q"))
    probed = (
        cents.crossJoin(F.broadcast(q))
        .select(cell_col, V.dot(F.col("c"), F.col("__q")).alias("cscore"))
        .orderBy(F.desc("cscore"), cell_col)
        .limit(nprobe)
        .select(cell_col)
    )
    pruned = emb.join(F.broadcast(probed), cell_col)
    scored = pruned.crossJoin(F.broadcast(q))
    return (
        scored.select(F.col(id_col), F.round(V.dot_seq(F.col(vec_col), F.col("__q")), 6).alias("score"))
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )
