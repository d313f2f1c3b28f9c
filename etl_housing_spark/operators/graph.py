"""Iterative graph algorithms over edge-list DataFrames.

The corpus-curation use: build a kNN similarity graph over document
embeddings (q_knn_blocked's shape) and rank documents by centrality —
PageRank-weighted data selection keeps well-connected, "representative"
documents and demotes isolated near-garbage. The reference has no graph
surface; this extends the engine the same way connected-components dedup
(operators/dedup.py:163) does: pure DataFrame iteration, no GraphX/RDDs.

Scale design: each PageRank iteration is one equi-join (ranks ⋈ edges on
src — both sides hash-partitioned on the join key, so successive iterations
reuse the same shuffle layout) plus one partial-agg groupBy(dst). Dangling
mass (nodes with no out-edges) is a one-row aggregate broadcast back in-plan
— no collect() in the loop. Both sums accumulate in DECIMAL(38,18): exact
and order-free, so the rank vector is the same double on any partitioning
and on DuckDB (q_pagerank_portable hash-checks it). Each term rounds by at
most 0.5e-18 on the way in, far below the queries' round(·, 8). Round
persistence, lineage truncation and release follow
operators/_ckpt.Generations. Per-round work is one
O(|E|/p)-per-task stage pair: the textbook distributed PageRank shape, good
for any |E| that one shuffle can move.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._ckpt import Generations, tracked_persist

__all__ = ["pagerank", "degree_stats", "label_propagation"]

_DEC = "decimal(38,18)"


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Power-iteration PageRank on a directed edge list.

    ``nodes`` is a one-column ``node`` frame, one row per node, that holds
    every edge endpoint; nodes without edges rank as dangling nodes. The
    default is the edge endpoints. Returns ``(node, rank)`` with Σ rank = 1
    (dangling-node mass is redistributed uniformly each round, the standard
    correction). Contributions and dangling mass sum in DECIMAL(38,18), so a
    fixed iteration count gives the same doubles on any partitioning;
    callers needing convergence control can compare successive rank vectors
    themselves.
    """
    # Persist the edge list BEFORE deriving nodes/outdeg/fanout: all three
    # setup frames consume it, and without the persist each one re-executes
    # the (possibly expensive — e.g. a kNN scoring join) edge lineage. Setup
    # persists are lazy (r16): the caller's first action materializes the
    # whole chain, each generation evaluated once (recv and the dangling
    # aggregate share the cached parent).
    e = tracked_persist(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .distinct()
        )
    nodes = tracked_persist(nodes.select("node"))
    # One setup-time action (like MLlib's iterative fits): N is a plan
    # constant for every subsequent iteration. This count also materializes
    # the edge persist — the only eager job before the caller's action.
    n = nodes.count()
    if n == 0:
        out = nodes.select("node", F.lit(0.0).alias("rank"))
        nodes.unpersist()
        return out

    outdeg = tracked_persist(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    )
    # Pre-join the per-edge fan-out weight once; iterations then only join
    # ranks against this fixed, already-partitioned edge table.
    fanout = tracked_persist(e.join(outdeg, "src").select("src", "dst", "outdeg"))

    # The dangling-node SET is static across iterations: flag it ONCE on the
    # node table, and let the flag ride along on every rank frame. Each
    # round's dangling mass is then a filter+aggregate over the cached ranks
    # — zero per-iteration joins for the correction (an earlier anti-join /
    # semi-join per round doubled the iteration's job count).
    flagged = tracked_persist(
        nodes.join(
            outdeg.select(F.col("src").alias("node"), F.lit(False).alias("_d")),
            "node",
            "left",
        ).select("node", F.coalesce("_d", F.lit(True)).alias("is_dangling"))
    )

    gens = Generations()
    ranks = gens.step(
        flagged.select("node", F.lit(1.0 / n).alias("rank"), "is_dangling")
    )
    # The teleport numerator is the double nearest the DECIMAL 1 − damping
    # (0.15 for 0.85), as SQL's CAST(0.15 AS DOUBLE) reads it; binary
    # 1.0 - 0.85 is 0.15000000000000002.
    base = float(1 - Decimal(repr(damping))) / n
    for i in range(iterations):
        recv = (
            fanout.join(ranks, fanout["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("outdeg")).cast(_DEC).alias("w"))
            .groupBy("dst")
            .agg(F.sum("w").cast("double").alias("recv"))
        )
        dangling = ranks.filter("is_dangling").agg(
            F.coalesce(F.sum(F.col("rank").cast(_DEC)), F.lit(0).cast(_DEC))
            .cast("double")
            .alias("dmass")
        )
        new_ranks = (
            flagged.join(recv, flagged["node"] == recv["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("recv"), F.lit(0.0)) + F.col("dmass") / F.lit(float(n)))
                ).alias("rank"),
                "is_dangling",
            )
        )
        ranks = gens.step(new_ranks, last=i == iterations - 1)
    return ranks.select("node", "rank")


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    fixed_col: str = "fixed",
) -> DataFrame:
    """Synchronous label propagation: semi-supervised labeling over a graph.

    ``seeds`` is (node, label, fixed): fixed nodes keep their label forever;
    the rest start NULL and each round adopt the majority label of their
    in-neighbors (count desc, label asc tie-break — deterministic, so with a
    fixed iteration count the whole result is engine-reproducible and
    oracle-checkable, unlike float-weighted variants). Nodes with no labeled
    neighbor keep their current label.

    Per round: one equi-join (labels ⋈ edges on src), one grouped count, one
    per-node argmax window on the vote table (|nodes|·|labels| rows at most),
    one left join back — all partial-agg friendly; same reused partitioning
    story as :func:`pagerank`.
    """
    # Persisted: every round joins against the same edge table, and an
    # unpersisted edge lineage (e.g. the kNN scoring join) would re-execute
    # once per round. At the catalog's iterations=2 no checkpoint boundary
    # fires.
    e = tracked_persist(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    gens = Generations()
    state = gens.step(
        seeds.select(
            F.col(node_col).alias("node"),
            F.col(label_col).alias("lab"),
            F.col(fixed_col).alias("fixed"),
        )
    )
    from pyspark.sql import Window

    for i in range(iterations):
        labeled = state.filter(F.col("lab").isNotNull()).select(
            F.col("node").alias("src"), F.col("lab").alias("vote")
        )
        votes = (
            e.join(labeled, "src")
            .groupBy(F.col("dst").alias("node"), "vote")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("vote"))
        best = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("vote").alias("best"))
        )
        new_state = state.join(best, "node", "left").select(
            "node",
            F.when(F.col("fixed"), F.col("lab"))
            .otherwise(F.coalesce(F.col("best"), F.col("lab")))
            .alias("lab"),
            "fixed",
        )
        state = gens.step(new_state, last=i == iterations - 1)
    return state.select("node", F.col("lab").alias("label"))


def degree_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node in/out degree — the graph-shape sanity report (skew check:
    a max in-degree ≫ mean means the rank join needs salting at scale)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    o = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("out_deg"))
    i = e.groupBy(F.col("dst").alias("node")).agg(F.count(F.lit(1)).alias("in_deg"))
    return o.join(i, "node", "full").select(
        "node",
        F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
    )
