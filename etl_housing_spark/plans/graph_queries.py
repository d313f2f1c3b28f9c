"""Graph queries over the embedding kNN similarity graph (round 3; edge
construction de-quadratified in round 4).

The corpus-curation story: a top-3-neighbor ranking over hyperplane-bucketed
candidates defines a directed similarity graph over documents; centrality on
that graph (PageRank) ranks documents by how "representative" they are — a
published data-selection signal — and the degree profile is the skew
diagnostic that says whether the rank-propagation join needs salting at
scale.

``q_graph_degree`` is fully oracle-checked (the edge construction and the
degree aggregation are both plain SQL). Both PageRank queries run
operators.graph.pagerank, whose DECIMAL(38,18) sums are order-free:
``q_pagerank_portable`` ranks every embedding and hash-matches DuckDB;
``q_pagerank`` ranks the edge endpoints and stays rows-only because no
oracle is registered for it — its value-level check lives in
tests/test_operators.py against a NumPy power iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup as D
from ..operators import graph as G
from ..operators import similarity as S
from ..operators._ckpt import Generations, single_shot_checkpoint
from .registry import query
from .vector_queries import _RP

# ---------------------------------------------------------------------------
# Bucketed kNN edge construction (round-4 de-quadratification).
#
# Round 1-3 built edges from an all-pairs join (label-blocked or a literal
# crossJoin) — O(n²) candidate generation, flagged as the one scale-killer in
# a checked query path. Edges are now defined over HYPERPLANE-BUCKETED
# candidates: each vector gets sign-bit bucket ids from the deterministic
# Rademacher projections of q_random_projection (the matrix is a plan literal
# in BOTH engines), candidates are pairs sharing a bucket in at least one of
# two independent tables (the multi-table recall knob of
# operators/similarity.py hyperplane LSH), and the edge set is the
# deterministic top-k by (score DESC, dst) within candidates. The plan is
# one dedup.band_pairs equi-join + one per-src window — no CartesianProduct
# / BroadcastNestedLoopJoin anywhere (pinned by tests/test_plan_quality.py).
#
# Scale story: bucket bit-width is the layout knob. Expected candidate count
# is 2·n²/2^bits, so holding per-bucket occupancy constant (bits ≈ log2(n/c))
# makes candidate generation O(n·c) — the same knob discipline as shuffle
# partition sizing, with the plan shape invariant in the knob. At sf0.01
# (500 vectors, 10 labels) the label-blocked form uses 2-bit tables (~12
# vectors per (label, bucket) cell) and the global form 4-bit tables, so the
# toy graph keeps enough candidates per node for a meaningful top-3.
# ---------------------------------------------------------------------------

# (table_a_bits, table_b_bits): indexes into the shared _RP sign matrix.
_BLOCKED_TABLES: tuple[tuple[int, ...], ...] = ((0, 1), (2, 3))
_GLOBAL_TABLES: tuple[tuple[int, ...], ...] = ((0, 1, 2, 3), (4, 5, 6, 7))


def _bucket_sql(alias: str, bits: tuple[int, ...]) -> str:
    """DuckDB sign-bit bucket id over ``alias.embedding`` — same construction
    as q_random_projection, proven bitwise-equal to the Spark fold."""
    return " + ".join(
        f"(CASE WHEN list_dot_product(CAST({alias}.embedding AS DOUBLE[]), {_RP[k]}) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, k in enumerate(bits)
    )


def _edge_cte(tables: tuple[tuple[int, ...], ...], blocked: bool, k: int = 3) -> str:
    """Edges CTE: bucketed candidates (union of the two hash tables) → top-k."""
    ba = _bucket_sql("embeddings", tables[0])
    bb = _bucket_sql("embeddings", tables[1])
    label_eq = "q.label = e.label AND " if blocked else ""
    score = (
        "ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]), "
        "CAST(e.embedding AS DOUBLE[])), 6)"
    )
    return f"""
    WITH b AS (
      SELECT vec_id, label, embedding,
             CAST({ba} AS BIGINT) AS ba,
             CAST({bb} AS BIGINT) AS bb
      FROM embeddings),
    cand AS (
      SELECT q.vec_id AS src, e.vec_id AS dst, {score} AS score
      FROM b q JOIN b e ON {label_eq}q.ba = e.ba AND q.vec_id <> e.vec_id
      UNION
      SELECT q.vec_id AS src, e.vec_id AS dst, {score} AS score
      FROM b q JOIN b e ON {label_eq}q.bb = e.bb AND q.vec_id <> e.vec_id),
    edges AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rk
        FROM cand) t
      WHERE rk <= {k})
"""


_EDGE_SQL = _edge_cte(_BLOCKED_TABLES, blocked=True)


def _bucketed_knn(
    emb: DataFrame, tables: tuple[tuple[int, ...], ...], blocked: bool, k: int
) -> DataFrame:
    """Top-k kNN edges over hyperplane-bucketed candidates (Spark twin of
    :func:`_edge_cte`). Each table is one band of :func:`dedup.band_pairs`,
    keyed by its sign-bit bucket over the table's _RP rows, or by (label,
    bucket) when blocked (labels are non-null). band_pairs yields each
    undirected candidate pair once; it is scored once — dot_seq is
    symmetric bit for bit — and emitted in both directions, then one
    per-src window keeps the top k by (score DESC, dst).

    The band table is tracked_persist-ed: its bucket projection (8 dot_seq
    folds per row) feeds both sides of the self-join. The embeddings
    re-attach by unique id after the candidate distinct (dedup._attach)."""
    from ..functions import vectors as V
    from ..operators._ckpt import tracked_persist

    keys = []
    for bits in tables:
        bucket = S.sign_bucket(
            F.col("embedding"), [F.array(*[F.lit(s) for s in _RP[b]]) for b in bits]
        )
        keys.append(F.struct("label", bucket.alias("bucket")) if blocked else bucket)
    banded = tracked_persist(
        emb.select(
            F.col("vec_id").alias("id"),
            F.posexplode(F.array(*keys)).alias("band", "bkey"),
        )
    )
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    score = F.round(V.dot_seq(F.col("v_a"), F.col("v_b")), 6).alias("score")
    both_ways = F.array(
        F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
    )
    scored = (
        D.band_pairs(banded)
        .join(D._attach(vecs, "v", "a"), "id_a")
        .join(D._attach(vecs, "v", "b"), "id_b")
        .select("id_a", "id_b", score)
        .select(F.inline(both_ways), "score")
    )
    w = Window.partitionBy("src").orderBy(F.desc("score"), "dst")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("src", "dst")
    )


def _knn_edges(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _bucketed_knn(emb, _BLOCKED_TABLES, blocked=True, k=k)


@query(
    "q_graph_degree",
    oracle=_EDGE_SQL
    + """
    SELECT COALESCE(o.node, i.node) AS node,
           COALESCE(o.out_deg, 0) AS out_deg,
           COALESCE(i.in_deg, 0) AS in_deg
    FROM (SELECT src AS node, COUNT(*) AS out_deg FROM edges GROUP BY src) o
    FULL JOIN (SELECT dst AS node, COUNT(*) AS in_deg FROM edges GROUP BY dst) i
      ON o.node = i.node
    """,
    description="degree profile of the embedding kNN similarity graph (out-degree "
    "is k by construction; the in-degree distribution is the hub/skew diagnostic "
    "that decides whether rank propagation needs salting): blocked kNN join + two "
    "grouped counts + one full outer join on the node key",
    tags=("graph", "vector"),
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialized once: degree_stats consumes the edge list twice (out + in).
    edges = single_shot_checkpoint(_knn_edges(spark, sf_dir))
    return G.degree_stats(edges).select(
        "node",
        F.col("out_deg").cast("bigint").alias("out_deg"),
        F.col("in_deg").cast("bigint").alias("in_deg"),
    )


@query(
    "q_pagerank",
    # rows-only: no oracle is registered for the endpoint-node form (the
    # checked twin is q_pagerank_portable, same operator over every
    # embedding); the numeric contract (matches NumPy power iteration to
    # 1e-9, Σrank = 1) is enforced in tests/test_operators.py.
    oracle=None,
    description="PageRank centrality over the embedding kNN graph (centrality-"
    "weighted data selection): 4 power iterations, dangling mass from a static "
    "is_dangling flag riding the cached rank frame (zero per-round joins for "
    "the correction), one-row broadcast aggregate in-plan — per iteration one "
    "equi-join on a reused partitioning + one partial-agg shuffle; returns "
    "(node, rank) with ranks summing to 1",
    tags=("graph", "vector"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the edge list before iterating: the bucketed-kNN lineage
    # (hyperplane-literal band join + window) replayed under 4 power
    # iterations makes the composed plan tree explode (an un-truncated run
    # OOMed the driver just *printing* the plan).
    edges = single_shot_checkpoint(_knn_edges(spark, sf_dir))
    pr = G.pagerank(edges, damping=0.85, iterations=4)
    return pr.select("node", F.round("rank", 8).alias("rank"))


def _knn_edges_global(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k kNN edges WITHOUT label blocking (for label propagation, where
    within-label blocking would make the task degenerate). Candidates come
    from two independent 4-bit hyperplane-bucket tables — never all-pairs;
    same ranking logic as the blocked form."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _bucketed_knn(emb, _GLOBAL_TABLES, blocked=False, k=k)


_LP_EDGES_SQL = (
    _edge_cte(_GLOBAL_TABLES, blocked=False).replace("edges AS (", "knn AS (", 1)
    + """,
    und AS (SELECT src, dst FROM knn UNION SELECT dst, src FROM knn)
"""
)

_LP_ROUND = """
    v{i} AS (
      SELECT und.dst AS node, s{p}.lab AS vote, COUNT(*) AS c
      FROM und JOIN s{p} ON und.src = s{p}.node
      WHERE s{p}.lab IS NOT NULL
      GROUP BY und.dst, s{p}.lab),
    b{i} AS (
      SELECT node, vote FROM (
        SELECT node, vote,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, vote ASC) AS rn
        FROM v{i}) t
      WHERE rn = 1),
    s{i} AS (
      SELECT s{p}.node,
             CASE WHEN s{p}.node % 5 = 0 THEN s{p}.lab
                  ELSE COALESCE(b{i}.vote, s{p}.lab) END AS lab
      FROM s{p} LEFT JOIN b{i} ON s{p}.node = b{i}.node)
"""


@query(
    "q_label_propagation",
    # Fully oracle-checked BECAUSE the update is integer majority voting with
    # a deterministic (count desc, label asc) tie-break and a fixed round
    # count — the two synchronous rounds unroll as chained CTEs. Seeds: every
    # 5th vector keeps its true label, the rest start unlabeled and adopt
    # neighbor majorities over the global (unblocked) kNN graph.
    oracle=_LP_EDGES_SQL
    + """,
    s0 AS (
      SELECT vec_id AS node,
             CASE WHEN vec_id % 5 = 0 THEN label END AS lab
      FROM embeddings),
    """
    + _LP_ROUND.format(i=1, p=0)
    + ","
    + _LP_ROUND.format(i=2, p=1)
    + """
    SELECT node, CAST(lab AS BIGINT) AS label FROM s2
    """,
    description="semi-supervised label propagation (2 synchronous majority-vote "
    "rounds, 20% seed labels) over the global kNN embedding graph: per round one "
    "equi-join + one grouped vote count + one per-node argmax window — integer "
    "votes and deterministic tie-breaks make the whole iteration "
    "oracle-checkable, the property float-weighted variants lose",
    tags=("graph", "vector"),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Materialized once: the undirected union consumes the edge lineage twice.
    edges = single_shot_checkpoint(_knn_edges_global(spark, sf_dir))
    und = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    seeds = emb.select(
        F.col("vec_id").alias("node"),
        F.when(F.col("vec_id") % 5 == 0, F.col("label")).alias("label"),
        (F.col("vec_id") % 5 == 0).alias("fixed"),
    )
    out = G.label_propagation(und, seeds, iterations=2)
    return out.select("node", F.col("label").cast("bigint").alias("label"))


_UND_SQL = _EDGE_SQL + """,
    und AS (
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges GROUP BY a, b)
"""


@query(
    "q_graph_triangles",
    # Canonical-form triangle counting: undirected edges as (a<b) pairs, then
    # the a<b<c three-way self-join counts each triangle exactly once. The
    # global clustering coefficient 3·Δ/wedges comes from the same undirected
    # degree table (wedges = Σ d(d−1)/2) — all integer arithmetic until the
    # one final ratio. Two self-joins on the edge key: the standard
    # distributed triangle plan; at scale the join input is pre-filtered by
    # degree (high-degree hubs dominate cost — the known optimization, not
    # needed at this density).
    oracle=_UND_SQL
    + """,
    tri AS (
      SELECT COUNT(*) AS n_tri
      FROM und e1 JOIN und e2 ON e1.b = e2.a JOIN und e3
        ON e3.a = e1.a AND e3.b = e2.b),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und) t
      GROUP BY node),
    wed AS (SELECT SUM(d * (d - 1) / 2) AS n_wedges, COUNT(*) AS n_nodes FROM deg)
    SELECT CAST(tri.n_tri AS BIGINT) AS n_triangles,
           (SELECT COUNT(*) FROM und) AS n_edges,
           CAST(wed.n_nodes AS BIGINT) AS n_nodes,
           ROUND(3.0 * tri.n_tri / wed.n_wedges, 6) AS clustering_coeff
    FROM tri CROSS JOIN wed
    """,
    description="triangle count + global clustering coefficient of the kNN "
    "similarity graph (the community-structure summary: high clustering = "
    "semantically coherent neighborhoods): canonical a<b<c three-way self-join "
    "counts each triangle once, wedges from the degree table — two equi-joins "
    "on edge keys, integer arithmetic to one final ratio",
    tags=("graph",),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    # Materialize the canonical edge list once: the three-way self-join plus
    # the degree branch consume it 5×, and each re-execution would replay
    # the kNN scoring join (measured 15 s → 3 s at sf0.01). localCheckpoint
    # also truncates the lineage, so the self-joins plan against a flat
    # |E|-row relation.
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    und = single_shot_checkpoint(und)
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wed = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("n_wedges"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(wed))
        .crossJoin(F.broadcast(n_edges))
        .select(
            F.col("n_tri").cast("bigint").alias("n_triangles"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.round(3.0 * F.col("n_tri") / F.col("n_wedges"), 6).alias("clustering_coeff"),
        )
    )


@query(
    "q_link_prediction",
    # Common-neighbors link prediction: for NON-adjacent pairs, how many
    # shared neighbors — the classic "you may also like" / missing-edge
    # score. Wedge join (und ⋈ und on the shared endpoint) generates
    # candidate pairs, an anti-join removes existing edges, top-20 by
    # (count desc, pair) is deterministic. Wedge-join cost is Σ d² — the
    # same degree-bounded budget as triangle counting.
    oracle=_UND_SQL
    + """,
    wedges AS (
      SELECT e1.a AS x, e1.b AS u, e2.b AS v FROM und e1 JOIN und e2
        ON e1.a = e2.a AND e1.b < e2.b
      UNION ALL
      SELECT e1.b AS x, e1.a AS u, e2.b AS v FROM und e1 JOIN und e2
        ON e1.b = e2.a
      UNION ALL
      SELECT e1.b AS x, e1.a AS u, e2.a AS v FROM und e1 JOIN und e2
        ON e1.b = e2.b AND e1.a < e2.a),
    cn AS (
      SELECT u, v, COUNT(*) AS common_neighbors
      FROM wedges GROUP BY u, v),
    nonadj AS (
      SELECT cn.u, cn.v, cn.common_neighbors
      FROM cn LEFT JOIN und ON cn.u = und.a AND cn.v = und.b
      WHERE und.a IS NULL)
    SELECT u, v, common_neighbors FROM nonadj
    ORDER BY common_neighbors DESC, u, v LIMIT 20
    """,
    description="common-neighbor link prediction over the kNN graph (the "
    "missing-edge / recommendation score): wedge self-join through each shared "
    "endpoint, anti-join strips existing edges, deterministic top-20 — candidate "
    "generation bounded by Σ degree², the same budget as triangle counting",
    tags=("graph",),
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    # Same materialize-once rationale as q_graph_triangles: three wedge joins
    # + the anti-join consume und; without it each replays the kNN scoring.
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    und = single_shot_checkpoint(und)
    e1, e2 = und.alias("e1"), und.alias("e2")
    w1 = e1.join(
        e2, (F.col("e1.a") == F.col("e2.a")) & (F.col("e1.b") < F.col("e2.b"))
    ).select(F.col("e1.b").alias("u"), F.col("e2.b").alias("v"))
    w2 = e1.join(e2, F.col("e1.b") == F.col("e2.a")).select(
        F.col("e1.a").alias("u"), F.col("e2.b").alias("v")
    )
    w3 = e1.join(
        e2, (F.col("e1.b") == F.col("e2.b")) & (F.col("e1.a") < F.col("e2.a"))
    ).select(F.col("e1.a").alias("u"), F.col("e2.a").alias("v"))
    cn = w1.unionAll(w2).unionAll(w3).groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("common_neighbors")
    )
    nonadj = cn.join(
        und, (cn["u"] == und["a"]) & (cn["v"] == und["b"]), "left_anti"
    )
    return nonadj.orderBy(F.desc("common_neighbors"), "u", "v").limit(20)


_PR_ITER = """
    dg{i} AS (
      SELECT CAST(COALESCE(SUM(CAST(r{p}.r AS DECIMAL(38,18))), 0) AS DOUBLE) AS dang
      FROM r{p} LEFT JOIN od ON r{p}.node = od.node WHERE od.d IS NULL),
    c{i} AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(r{p}.r / od.d AS DECIMAL(38,18))) AS DOUBLE) AS c
      FROM edges e JOIN r{p} ON e.src = r{p}.node JOIN od ON e.src = od.node
      GROUP BY e.dst),
    r{i} AS (
      SELECT nodes.node,
             CAST(0.15 AS DOUBLE) / nt.n
               + CAST(0.85 AS DOUBLE)
                 * (COALESCE(c{i}.c, CAST(0 AS DOUBLE)) + dg{i}.dang / nt.n) AS r
      FROM nodes CROSS JOIN nt CROSS JOIN dg{i}
      LEFT JOIN c{i} ON nodes.node = c{i}.node)
"""


@query(
    "q_pagerank_portable",
    # The hash-checked PageRank twin: operators.graph.pagerank itself, whose
    # per-iteration aggregates all accumulate in DECIMAL(38,18), so the rank
    # vector after each synchronous step is the SAME double on both engines
    # — the oracle unrolls the same four power iterations (damping 0.85,
    # dangling mass redistributed uniformly) over every embedding as a node.
    oracle=_EDGE_SQL
    + """,
    nodes AS (SELECT vec_id AS node FROM embeddings),
    nt AS (SELECT COUNT(*) AS n FROM nodes),
    od AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
    r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) / nt.n AS r FROM nodes CROSS JOIN nt),
    """
    + ",".join(_PR_ITER.format(i=i, p=i - 1) for i in range(1, 5))
    + """
    SELECT node, ROUND(r, 8) AS rank FROM r4
    """,
    description="oracle-checked PageRank over the kNN graph: "
    "operators.graph.pagerank with every embedding as a node, 4 "
    "synchronous power iterations (damping 0.85, uniform dangling-mass "
    "redistribution) with every incoming-contribution and dangling sum "
    "accumulated in DECIMAL(38,18) — order-free, so each iteration's rank "
    "vector is bit-identical on both engines; per iteration one equi-join on "
    "the edge key + one partial-agg shuffle, ranks sum to 1",
    tags=("graph", "vector"),
)
def q_pagerank_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    edges = single_shot_checkpoint(_knn_edges(spark, sf_dir))
    pr = G.pagerank(edges, nodes=emb.select(F.col("vec_id").alias("node")), iterations=4)
    return pr.select("node", F.round("rank", 8).alias("rank"))


_CC_ITER = """
    l{i} AS (
      SELECT l{p}.node,
             LEAST(l{p}.lab, COALESCE(m{i}.nm, l{p}.lab)) AS lab
      FROM l{p} LEFT JOIN (
        SELECT und.dst AS node, MIN(l{p}.lab) AS nm
        FROM und JOIN l{p} ON und.src = l{p}.node
        GROUP BY und.dst) m{i}
      ON l{p}.node = m{i}.node)
"""


@query(
    "q_graph_components",
    # Connected components by synchronous min-label propagation, 4 unrolled
    # rounds — every update is an integer MIN (commutative, associative,
    # order-free), so unlike float-weighted iteration the whole computation
    # hash-matches by construction; q_dedup_clusters' loop-until-converged
    # operator remains the production path, this is its bounded-round
    # checked twin. Labels after round k = min node id within k hops; on
    # this graph 4 rounds converge (small component diameters), and the
    # bounded-round semantics are well-defined either way.
    oracle=_EDGE_SQL
    + """,
    und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    l0 AS (SELECT vec_id AS node, vec_id AS lab FROM embeddings),
    """
    + ",".join(_CC_ITER.format(i=i, p=i - 1) for i in range(1, 5))
    + """
    SELECT node, lab AS component_id FROM l4
    """,
    description="connected components of the kNN graph via 4 unrolled rounds "
    "of synchronous min-label propagation (component id = min node id within "
    "4 hops; converged on this graph's small-diameter components): per round "
    "one equi-join on the edge key + one integer MIN aggregate — commutative "
    "and order-free, so the labeling hash-matches the oracle; the bounded-"
    "round checked twin of q_dedup_clusters' loop-until-converged operator",
    tags=("graph",),
)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    edges = single_shot_checkpoint(_knn_edges(spark, sf_dir))
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    lab = emb.select(F.col("vec_id").alias("node"), F.col("vec_id").alias("lab"))
    gens = Generations()
    for _ in range(4):
        lab = gens.checkpoint(lab)
        nm = (
            und.join(lab.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lab").alias("nm"))
        )
        lab = lab.join(nm, "node", "left").select(
            "node",
            F.least(F.col("lab"), F.coalesce(F.col("nm"), F.col("lab"))).alias("lab"),
        )
    return lab.select("node", F.col("lab").alias("component_id"))
