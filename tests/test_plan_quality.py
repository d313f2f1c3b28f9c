"""Physical-plan regression tests (SCALE.md evidence, frozen).

The scale properties the engine is designed around must be visible in the
executed plan — if a refactor reintroduces a shuffle, drops a pushed filter,
or pulls a text expression into Python, these fail before any benchmark
notices."""

from __future__ import annotations

import contextlib
import io

import pytest

from etl_housing_spark.plans import all_queries

from .conftest import SF_SMOKE

SPECS = all_queries()


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _q(spark, name):
    return SPECS[name].fn(spark, SF_SMOKE)


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(_q(spark, "q_filter_eq"))
    assert "PushedFilters" in plan and "EqualTo(c_mktsegment,BUILDING)" in plan


def test_projection_prunes_scan_schema(spark):
    plan = _plan(_q(spark, "q_project"))
    # only the three selected columns may reach the scan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_orderkey" in read and "o_totalprice" in read
    assert "o_comment" not in read and "o_orderdate" not in read


def test_dim_join_broadcasts(spark):
    plan = _plan(_q(spark, "q_join_broadcast"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fact_join_sort_merges(spark):
    plan = _plan(_q(spark, "q_join_sortmerge"))
    assert "SortMergeJoin" in plan


def test_bench_bucketed_join_has_no_join_side_exchange(spark, tmp_path):
    """The bench's bucketed co-location variant (bench.py
    join_sortmerge_bucketed) must sort-merge-join with ZERO exchanges below
    the join — the write pre-paid them. The only exchange allowed in the
    whole plan is the final group-on-priority reduction + orderBy."""
    import os
    import shutil
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import bucketed_layout, join_sortmerge_bucketed

    src = os.path.join(str(tmp_path), "b")
    shutil.copytree(SF_SMOKE, src)
    try:
        prefix = bucketed_layout(spark, src)
        plan = _plan(join_sortmerge_bucketed(spark, prefix))
        assert "SortMergeJoin" in plan
        # no hash exchange on the join key anywhere — the ingest bucketing
        # replaced both of q_join_sortmerge's join-side shuffles
        assert "hashpartitioning(l_orderkey" not in plan
        assert "hashpartitioning(o_orderkey" not in plan
        # control: the unbucketed bench query DOES shuffle on the join key
        control = _plan(_q(spark, "q_join_sortmerge"))
        assert "hashpartitioning(l_orderkey" in control
    finally:
        for t in ("orders", "lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS bw_b_{t}")


def test_topk_never_global_sorts(spark):
    plan = _plan(_q(spark, "q_topk"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no full sort


def test_text_path_is_python_free(spark):
    for name in ("q_token_counts", "q_quality_score", "q_bpe_tokens", "q_lang_id"):
        plan = _plan(_q(spark, name))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_vector_scoring_is_python_free(spark):
    plan = _plan(_q(spark, "q_similarity_topk"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pricing_summary_partial_aggregates(spark):
    # two-phase HashAggregate: partial before the exchange, final after
    plan = _plan(_q(spark, "q_pricing_summary"))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum(" in plan


def test_tfidf_distributed_part_is_python_and_log_free(spark):
    """The expensive stages (explode + tf/df aggregate) must stay in codegen;
    the log runs post-aggregation on the tiny result."""
    plan = _plan(_q(spark, "q_tfidf"))
    assert "Python" not in plan
    assert "partial_count" in plan  # map-side combine on the token aggregate


def _final_plan(df) -> str:
    """Executed adaptive plan, initial-plan section stripped. AQE performs
    exchange reuse at RUNTIME (stage cache keyed on the canonicalized
    subplan), so single-scan properties are only visible after execution —
    the pre-execution ``explain`` still shows every branch un-deduplicated."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_tfidf_single_data_scan(spark):
    """The in-plan corpus-N branch (VERDICT r1 #3) must not cost a second
    data scan: exactly one scan reads document columns; the N branch's scan
    reads ZERO columns (``ReadSchema: struct<>`` — served from parquet
    row-group counts, no column decode). For q_tfidf_doc the second
    consumer of tf must hit AQE's ReusedExchange, not a fresh
    scan+explode — checked on the executed final plan."""
    for name in ("q_tfidf", "q_tfidf_doc"):
        final = _final_plan(_q(spark, name))
        scans = [l for l in final.splitlines() if "Scan parquet" in l]
        data_scans = [l for l in scans if "ReadSchema: struct<>" not in l]
        empty_scans = [l for l in scans if "ReadSchema: struct<>" in l]
        assert len(data_scans) == 1 and "text" in data_scans[0], (name, scans)
        assert len(empty_scans) == 1, (name, scans)


def test_tfidf_doc_reuses_tf_exchange(spark):
    # df is derived from tf; the shared (doc_id, token) exchange must be
    # reused at runtime, not recomputed from a second explode
    final = _final_plan(_q(spark, "q_tfidf_doc"))
    assert "ReusedExchange" in final


def test_outlier_fences_broadcast_onto_fact_scan(spark):
    plan = _plan(_q(spark, "q_outlier_iqr"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_merge_no_cartesian_no_python(spark):
    plan = _plan(_q(spark, "q_scd2_merge"))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "Python" not in plan


def test_conditional_agg_single_scan(spark):
    plan = _plan(_q(spark, "q_conditional_agg"))
    # exactly one scan node in the plan tree (the formatted detail section
    # repeats the operator name — count tree entries only)
    assert plan.count("+- Scan parquet") + plan.count("* Scan parquet") == 1


def test_pii_redact_is_map_only(spark):
    plan = _plan(_q(spark, "q_pii_redact"))
    assert "Exchange" not in plan  # shuffle-free scrubbing pass
    assert "Python" not in plan


def test_incremental_rollup_partial_aggregates(spark):
    plan = _plan(_q(spark, "q_incremental_rollup"))
    assert "partial" in plan.lower()  # map-side combine in state building


def test_decontaminate_broadcasts_eval_shingles(spark):
    plan = _plan(_q(spark, "q_decontaminate"))
    # the eval-holdout shingle set is the small side: broadcast, never SMJ
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_filter_funnel_single_scan_no_python(spark):
    plan = _plan(_q(spark, "q_filter_funnel"))
    # the whole 5-stage cascade audits in ONE pass over documents
    assert plan.count("+- Scan parquet") + plan.count("* Scan parquet") == 1
    assert "Python" not in plan


def test_simhash_portable_partial_aggregates(spark):
    plan = _plan(_q(spark, "q_simhash_portable"))
    # 32 ±1 vote sums must map-side combine (shuffle carries 32 longs/doc,
    # not one row per (doc, token))
    assert "partial" in plan.lower()
    assert "Python" not in plan


def test_seq_packing_window_is_distributed(spark):
    plan = _plan(_q(spark, "q_seq_packing"))
    # the cumsum window partitions on source — a global single-partition
    # sort would serialize the whole corpus through one task
    assert "Exchange SinglePartition" not in plan
    assert "Python" not in plan


def test_knn_blocked_is_equi_join(spark):
    plan = _plan(_q(spark, "q_knn_blocked"))
    # block-key equi-join: O(block²), never a cross product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_repetition_is_python_free(spark):
    plan = _plan(_q(spark, "q_repetition"))
    assert "Python" not in plan


def test_join_salted_no_cartesian(spark):
    plan = _plan(_q(spark, "q_join_salted"))
    # salted equi-join on (key, salt): never a cross product; the dim-side
    # 8-way explode must not force a nested-loop plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


_BANDED_PAIR_IDS = [
    "q_minhash_pairs_portable",
    "q_oph_pairs",
    "q_lsh_band_sweep",
    "q_image_neardup_banded",
    "q_image_neardup_phash",
]


@pytest.mark.parametrize("qid", _BANDED_PAIR_IDS)
def test_minhash_pairs_candidates_from_band_equi_join(spark, qid):
    plan = _plan(_q(spark, qid))
    # candidate pairs come from band-bucket equi-joins, never all-pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


@pytest.mark.parametrize(
    "qid",
    [
        "q_embed_neardup_portable",
        "q_embed_neardup_lsh",
        "q_semdedup",
        "q_graph_degree",
        "q_label_propagation",
        *_BANDED_PAIR_IDS,
    ],
)
def test_pair_families_take_candidates_from_band_pairs(spark, monkeypatch, qid):
    """Every bucketed pair family (LSH tables, single-bucket clusters, the
    kNN graph's candidate tables, MinHash/pHash bands) builds its candidates
    with operators/dedup.band_pairs — no family keeps a self-join of its
    own."""
    from etl_housing_spark.operators import dedup

    calls = []
    real = dedup.band_pairs

    def spy(banded):
        calls.append(1)
        return real(banded)

    monkeypatch.setattr(dedup, "band_pairs", spy)
    _q(spark, qid)
    assert calls, f"{qid} built its candidates without band_pairs"


def test_band_pairs_verify_runs_at_session_parallelism(spark):
    """The per-pair verify after band_pairs (a payload re-attach by id,
    then a filter) runs one task per core when the shuffle partition count
    equals the parallelism, the engine session's default: the pair
    exchange must be one AQE cannot coalesce. Read from the executed job's
    stages in the status store."""
    from pyspark.sql import functions as F

    from etl_housing_spark.operators.dedup import band_pairs

    sc = spark.sparkContext
    par = sc.defaultParallelism
    # 100 ids in 4 bands, 10 buckets of 10 per band: 450 distinct pairs
    banded = spark.range(400).select(
        (F.col("id") % 100).alias("id"),
        (F.col("id") / 100).cast("int").alias("band"),
        (F.col("id") % 10).alias("bkey"),
    )
    payload = F.broadcast(spark.range(100).select(
        F.col("id").alias("id_a"), (F.col("id") * 3).alias("pa")))
    verify = band_pairs(banded).join(payload, "id_a").where(F.col("pa") >= F.col("id_b"))
    group = "band-pairs-parallelism"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(par))
    sc.setJobGroup(group, "band_pairs verify")
    try:
        verify.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.shuffle.partitions", old)
    st = sc.statusTracker()
    last_job = st.getJobInfo(max(st.getJobIdsForGroup(group)))
    # the result stage reads the pair exchange: distinct, re-attach, filter
    ran = [st.getStageInfo(s) for s in last_job.stageIds]
    verify_stage = max((s for s in ran if s and s.numCompletedTasks), key=lambda s: s.stageId)
    assert verify_stage.numTasks == par


@pytest.mark.parametrize(
    "qid",
    [
        "q_kmeans_portable",
        "q_pq_codes",
        "q_ivfpq_search",
        "q_centroid_confusion",
        "q_ann_index_persist",
    ],
)
def test_vector_argmins_go_through_nearest(spark, monkeypatch, qid):
    """k-means assignment, label-codebook PQ codes, IVFPQ's pruned
    assignment, nearest-centroid classification and the residual-PQ index
    build all take their argmin from operators/clustering.nearest — no
    site keeps an argmin of its own."""
    from etl_housing_spark.operators import clustering

    calls = []
    real = clustering.nearest

    def spy(v, cands):
        calls.append(1)
        return real(v, cands)

    monkeypatch.setattr(clustering, "nearest", spy)
    _q(spark, qid)
    assert calls, f"{qid} built its argmin without clustering.nearest"


@pytest.mark.parametrize(
    "qid",
    [
        "q_pq_search",
        "q_ivfpq_search",
        "q_ivfpq_scaled",
        "q_ann_serve_batch",
        "q_ann_index_serve",
    ],
)
def test_pq_luts_go_through_one_core(spark, monkeypatch, qid):
    """Label-codebook PQ search, IVFPQ search, the stateless scaled
    IVFADC, batch serving and the local fused serve all build their ADC
    lookup table with operators/quantize._lut and sum it with _adc — no
    path keeps a table or an ADC sum of its own."""
    from etl_housing_spark.operators import quantize

    calls = {"_lut": 0, "_adc": 0}
    for name in calls:
        real = getattr(quantize, name)

        def spy(*args, _real=real, _name=name):
            calls[_name] += 1
            return _real(*args)

        monkeypatch.setattr(quantize, name, spy)
    _q(spark, qid)
    assert calls["_lut"] and calls["_adc"], (qid, calls)


class _TreeWritten(Exception):
    pass


@pytest.mark.parametrize(
    "qid,writes",
    [
        ("q_ann_index_persist", 1),
        ("q_ann_index_serve", 1),
        ("q_ann_index_append", 1),
        ("q_ann_index_compact", 1),
        ("q_ann_index_refit", 2),
        ("q_stream_ann_serve", 1),
    ],
)
def test_ann_lifecycle_writes_one_tree(spark, monkeypatch, qid, writes):
    """Every lifecycle query that persists an index builds and writes its
    artifact tree with plans/vector_queries._write_tree (refit twice: the
    frozen-fit tree, then the staging tree) — no query keeps a layout or a
    build-and-persist recipe of its own. The spy stops the query at its
    last tree write; the serving that follows is pinned by the parity and
    plan tests."""
    from etl_housing_spark.plans import vector_queries

    calls = []
    real = vector_queries._write_tree

    def spy(*args):
        calls.append(args[-1])
        if len(calls) == writes:
            raise _TreeWritten
        return real(*args)

    monkeypatch.setattr(vector_queries, "_write_tree", spy)
    with pytest.raises(_TreeWritten):
        _q(spark, qid)
    assert len(calls) == writes, (qid, calls)


def test_ann_persist_serve_probes_once(spark):
    """q_ann_index_persist serves its reopened tree through the qid-keyed
    batch core with a code table: the probe window runs once, in the
    collect that binds the static cid filter, and the served plan reads
    the probe back as a local relation — no Window ordered by (d, cid)."""
    import re

    plan = _plan(_q(spark, "q_ann_index_persist"))
    assert "PartitionFilters" in plan
    probe_order = r"\[d#\d+ ASC NULLS FIRST, cid#\d+ ASC NULLS FIRST\]"
    assert not re.findall(probe_order, plan), plan[:3000]


def test_winsorize_single_scan_histogram(spark):
    plan = _plan(_q(spark, "q_winsorize"))
    # bounds AND the clipped aggregate both come from the one (group, value)
    # histogram — orders is scanned exactly once
    assert plan.count("+- Scan parquet") + plan.count("* Scan parquet") == 1
    assert "Python" not in plan


def test_corpus_mix_no_global_ntile_over_corpus(spark):
    plan = _plan(_q(spark, "q_corpus_mix"))
    # the only single-partition window runs over the DISTINCT-quality
    # histogram (bounded by 6dp rounding), never over the corpus itself:
    # the decile map joins back as a broadcast
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_random_projection_is_map_only(spark):
    plan = _plan(_q(spark, "q_random_projection"))
    # 8 JL projections + bucket id: pure per-row expression work
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_gapfill_python_free(spark):
    plan = _plan(_q(spark, "q_gapfill"))
    # grid explode + aggregated counts only; events is never nested-looped
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_anomaly_zscore_broadcasts_stats(spark):
    plan = _plan(_q(spark, "q_anomaly_zscore"))
    # per-type stats broadcast back onto the stream — never SMJ the fact side
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_lm_score_all_equi_joins(spark):
    plan = _plan(_q(spark, "q_lm_score"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_token_entropy_partial_aggregates(spark):
    plan = _plan(_q(spark, "q_token_entropy"))
    assert "partial" in plan.lower()
    assert "Python" not in plan


def test_mad_outliers_single_scan(spark):
    plan = _plan(_q(spark, "q_mad_outliers"))
    # median AND MAD both derive from the one (group, value) histogram
    assert plan.count("+- Scan parquet") + plan.count("* Scan parquet") == 1
    assert "Python" not in plan


def test_cdc_latest_single_key_shuffle(spark):
    plan = _plan(_q(spark, "q_cdc_latest"))
    # one hash exchange on the key feeds the window; no global sort; and
    # WindowGroupLimit prunes to the per-partition top row BEFORE the
    # shuffle — the rank<=k pushdown that makes CDC compaction cheap
    assert "hashpartitioning" in plan
    assert "rangepartitioning" not in plan
    assert "WindowGroupLimit" in plan
    assert "Python" not in plan


def test_star_join_broadcasts_dims(spark):
    plan = _plan(_q(spark, "q_star_join"))
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_hash_sample_is_topk(spark):
    plan = _plan(_q(spark, "q_hash_sample"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_ann_ivf_portable_probes_by_broadcast(spark):
    plan = _plan(_q(spark, "q_ann_ivf_portable"))
    # the probe set reaches the corpus as a broadcast semi/hash join on the
    # cell key, and the final ranking is top-k, not a global sort
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Python" not in plan


def test_promo_share_pushes_date_filter(spark):
    plan = _plan(_q(spark, "q_promo_share"))
    # the ship-date window must reach the parquet scan, and part broadcasts
    assert "PushedFilters" in plan and "l_shipdate" in plan
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_supplier_rank_windows_tiny_frame(spark):
    plan = _plan(_q(spark, "q_supplier_rank"))
    # the single-partition window ranks per-supplier TOTALS (|suppliers|
    # rows), downstream of the grouped aggregate — never the fact table
    assert "WindowGroupLimit" in plan or "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_shipping_priority_one_fact_shuffle_topk(spark):
    plan = _plan(_q(spark, "q_shipping_priority"))
    # segment-filtered customer broadcasts; top-10 never global-sorts; the
    # date cutoffs reach the scans
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "PushedFilters" in plan and "o_orderdate" in plan and "l_shipdate" in plan
    assert "CartesianProduct" not in plan and "Python" not in plan


def test_order_priority_exists_is_semi_join(spark):
    plan = _plan(_q(spark, "q_order_priority"))
    # EXISTS must plan as a hash LeftSemi with the lateness inequality as a
    # residual predicate — never a nested-loop / cartesian probe
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_local_volume_broadcasts_every_dim(spark):
    plan = _plan(_q(spark, "q_local_volume"))
    # customer, supplier, nation, region all broadcast; lineitem⋈orders is
    # the only shuffle join
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan and "Python" not in plan


def test_returned_items_prunes_and_broadcasts(spark):
    plan = _plan(_q(spark, "q_returned_items"))
    assert "PushedFilters" in plan and "l_returnflag" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_small_qty_revenue_aggregates_after_brand_prune(spark):
    plan = _plan(_q(spark, "q_small_qty_revenue"))
    # the per-part average is computed on the brand-pruned fact rows (the
    # broadcast brand join appears BELOW the aggregate in the plan), and the
    # avg table itself broadcasts back — no second fact shuffle
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan and "Python" not in plan


def test_big_order_customers_survivors_broadcast(spark):
    plan = _plan(_q(spark, "q_big_order_customers"))
    # the HAVING survivor set drives broadcast joins; the grouped sum is
    # partial+final; top-10 is TakeOrderedAndProject
    assert plan.count("BroadcastHashJoin") >= 2
    assert "partial_sum(" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_unpivot_is_single_scan_expand(spark):
    import re

    plan = _plan(_q(spark, "q_unpivot"))
    # native unpivot: one Expand over ONE scan, no union of three scans,
    # no shuffle, no Python
    assert "Expand" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Union" not in plan
    assert "Exchange" not in plan and "Python" not in plan


def test_moving_avg_single_window_exec(spark):
    import re

    plan = _plan(_q(spark, "q_moving_avg"))
    # sum+count over the same frame evaluate in ONE WindowExec after one
    # shuffle on the partition key
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_forecast_revenue_pushes_every_filter(spark):
    plan = _plan(_q(spark, "q_forecast_revenue"))
    assert "PushedFilters" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in plan.split("PushedFilters", 1)[1].split("ReadSchema", 1)[0], col
    assert "partial_sum(" in plan and "Python" not in plan


def test_cust_order_distribution_keeps_outer_join(spark):
    plan = _plan(_q(spark, "q_cust_order_distribution"))
    # the k=0 bucket requires the outer join to survive optimization
    assert "LeftOuter" in plan or "RightOuter" in plan
    assert "Python" not in plan


def test_waiting_suppliers_semi_anti_no_loops(spark):
    plan = _plan(_q(spark, "q_waiting_suppliers"))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_idle_rich_customers_anti_join_date_pruned(spark):
    plan = _plan(_q(spark, "q_idle_rich_customers"))
    assert "LeftAnti" in plan
    assert "PushedFilters" in plan and "o_orderdate" in plan
    assert "CartesianProduct" not in plan  # scalar subquery broadcasts, 1-row side
    assert "Python" not in plan


def test_nation_trade_volume_dual_role_broadcasts(spark):
    plan = _plan(_q(spark, "q_nation_trade_volume"))
    # nation appears twice (supplier role + customer role), both broadcast;
    # the fact-fact join is the only shuffle join
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan and "Python" not in plan


def test_market_share_single_aggregate(spark):
    import re

    plan = _plan(_q(spark, "q_market_share"))
    # numerator and denominator share ONE final aggregate — no self-join,
    # no second fact scan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 8  # one per table
    assert plan.count("BroadcastHashJoin") >= 5
    assert "Python" not in plan


def test_interpolate_single_entity_shuffle(spark):
    import re

    plan = _plan(_q(spark, "q_interpolate"))
    # knots + grid resolve in window passes over ONE user_id exchange of the
    # union; the bounds aggregate adds its own tiny exchange — but no
    # inequality join, no nested loop anywhere
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) <= 2
    assert "Python" not in plan


def test_graph_edge_construction_never_all_pairs(spark):
    """Round-4 de-quadratification, pinned: the kNN graph's edge candidates
    come from one band_pairs equi-join over two hyperplane-bucket tables, so no
    graph query may plan a CartesianProduct or BroadcastNestedLoopJoin in
    its edge construction — the round-1..3 all-pairs crossJoin must never
    come back."""
    from etl_housing_spark.plans import graph_queries as GQ

    for builder in (GQ._knn_edges, GQ._knn_edges_global):
        plan = _plan(builder(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, builder.__name__
        assert "BroadcastNestedLoopJoin" not in plan, builder.__name__
        assert "Python" not in plan, builder.__name__
    # and end-to-end for the two fully-composed checked queries whose whole
    # plan (edges + aggregation) contains no 1-row scalar crossJoin at all
    for name in ("q_graph_degree", "q_label_propagation"):
        plan = _plan(_q(spark, name))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_copurchase_pairs_are_equi_join_on_basket_key(spark):
    """The pair generator must join on l_orderkey (bounded per-basket
    fan-out), never a cartesian over the part catalog. The one
    BroadcastNestedLoopJoin allowed is the benign 1-row scalar total
    (crossJoin(broadcast(tot)) — the documented scalar-subquery pattern)."""
    plan = _plan(_q(spark, "q_copurchase_lift"))
    assert "CartesianProduct" not in plan
    # one tree node (formatted mode prints each node twice: tree + details)
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 1
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_rolling_actives_explode_before_distinct(spark):
    """The COUNT(DISTINCT) OVER RANGE rewrite: a bounded Generate (the 0..6
    offset explode) feeding aggregates — no window distinct, no loops."""
    plan = _plan(_q(spark, "q_rolling_active_users"))
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_drawdown_single_entity_shuffle(spark):
    """Cumulative sum, running max and the grouped max all partition on
    user_id — exactly one shuffle exchange, on the entity key (the final
    grouped max reuses the window partitioning, no second exchange)."""
    plan = _plan(_q(spark, "q_drawdown"))
    assert plan.count(" Exchange (") == 1
    assert "hashpartitioning(user_id" in plan
    assert "Window" in plan


def test_attribution_reuses_user_exchange(spark):
    """Window + self-join + aggregates all keyed on user_id; no plan node
    may fall back to a loop join."""
    plan = _plan(_q(spark, "q_attribution_touch"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_mutual_information_grid_from_checkpoint(spark):
    """All marginals must derive from the localCheckpointed contingency
    grid: the documents parquet is scanned exactly once (at checkpoint
    build), so the final plan contains no documents scan at all."""
    plan = _plan(_q(spark, "q_mutual_information"))
    assert "documents.parquet" not in plan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan or "Scan" in plan


def test_hhi_no_windows_no_loops(spark):
    """The concentration index is two grouped aggregates — no WindowExec,
    no loop joins (nation/customer broadcast)."""
    plan = _plan(_q(spark, "q_hhi"))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_cart_abandonment_is_hash_anti_join(spark):
    """The time-windowed NOT EXISTS must stay an equi-keyed anti join."""
    plan = _plan(_q(spark, "q_cart_abandonment"))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interarrival_windows_partition_on_type(spark):
    """Lag + histogram windows all partition on event_type — the only
    hash exchanges are on the type (or type+gap) keys."""
    plan = _plan(_q(spark, "q_interarrival_stats"))
    assert "hashpartitioning(event_type" in plan
    assert "CartesianProduct" not in plan


# ---- round-8 curation operators ----------------------------------------


def test_dsir_model_tables_broadcast(spark):
    """q_dsir_weight's O(B)-row bucket-score table must reach the per-doc
    scoring join as a BROADCAST — a sort-merge there would shuffle the full
    (doc, bucket) frame against a 512-row model."""
    plan = _plan(_q(spark, "q_dsir_weight"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_exact_substr_dedup_two_exchanges(spark):
    """Chunk-level keep-first needs exactly two hash exchanges (the
    chunk-key window + the doc_id rebuild); chunking itself must stay
    map-side. A third exchange means someone broke the single-pass
    conditional rebuild."""
    plan = _plan(_q(spark, "q_exact_substr_dedup"))
    # formatted mode lists each Exchange once in the detail section as
    # "Arguments: hashpartitioning(key, N), ENSURE_REQUIREMENTS"
    assert plan.count("Arguments: hashpartitioning") == 2
    assert "CartesianProduct" not in plan


def test_semdedup_assignment_broadcasts_centroids(spark):
    """SemDeDup's cluster assignment must broadcast the k centroids against
    the vector scan (kmeans_assign contract) and the within-cluster pair
    join must be an equi-join on cid — no cartesian anywhere."""
    plan = _plan(_q(spark, "q_semdedup"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_scaled_same_shape_at_scaled_k(spark):
    """The corpus-scaled-k variant must keep the fixture fit's plan shape —
    broadcast centroid assignment, cid equi-join for pairs, no cartesian:
    the SCALE claim is that only k changes, never the topology."""
    plan = _plan(_q(spark, "q_semdedup_scaled"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_jdbc_roundtrip_pushes_predicate_into_relation(spark):
    """S6 plan-asserted (VERDICT r12 #8): the registered JDBC round-trip's
    region predicate must reach the JDBCRelation as a pushed filter — the
    scan ships `WHERE n_regionkey < 2` to the database instead of pulling
    the table and filtering in Spark."""
    plan = _plan(_q(spark, "q_jdbc_roundtrip"))
    assert "PushedFilters" in plan and "n_regionkey" in plan
    assert "JDBCRelation" in plan


def test_dedup_incremental_no_corpus_self_join(spark):
    """The incremental gate joins batch shingles against corpus shingles on
    the shingle key — equi-joins only, and the batch/corpus split must push
    the doc_id % 5 predicate into both scans."""
    plan = _plan(_q(spark, "q_dedup_incremental"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gopher_rules_is_map_only(spark):
    """The Gopher rule battery is token-array lambdas inside codegen — any
    exchange means someone turned a per-doc metric into an aggregation."""
    plan = _plan(_q(spark, "q_gopher_rules"))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_bpe_encode_vocab_join_broadcasts(spark):
    """Corpus encoding must join the vocab-sized encoded table as a
    BROADCAST onto the exploded corpus — a sort-merge would shuffle every
    token occurrence against a table of distinct words."""
    plan = _plan(_q(spark, "q_bpe_encode"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

def test_ccnet_perplexity_no_global_sort(spark):
    """CCNet bucketing must take its tertile cutpoints from the rounded-score
    histogram (bounded cardinality), broadcast back — never a corpus-wide
    NTILE sort, and the LM join must broadcast the vocab table."""
    plan = _plan(_q(spark, "q_ccnet_perplexity"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    # the tertile must stay discrete-rank over the histogram: exactly the
    # two cum/total windows (both downstream of the ce6 aggregate), no
    # NTILE, and no range partitioning (a corpus-wide sort's signature)
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 2, tree
    assert "ntile" not in plan.lower()
    assert "rangepartitioning" not in plan


def test_doremi_weights_windows_only_on_domain_table(spark):
    """After the (source, word) partial aggregation everything is O(K
    domains): the min/normalizer windows must not re-shuffle corpus-sized
    data, and the unigram LM joins in as a broadcast."""
    plan = _plan(_q(spark, "q_doremi_weights"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # both windows (domain min, normalizer) run over the K-row per-source
    # aggregate: window count pinned, and no range partitioning anywhere —
    # a window moved upstream of the (source, word) agg would add nodes
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 2, tree
    assert "rangepartitioning" not in plan


def test_cluster_balanced_sample_no_window_sort(spark):
    """The balancing step must be map-only after the k-row size aggregate
    broadcasts back — a per-cluster row_number window would serialize the
    head cluster through one partition, the exact shape this op avoids."""
    plan = _plan(_q(spark, "q_cluster_balanced_sample"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the shared kmeans-fit chain owns every Window in the plan: balancing
    # itself must add zero (compare against q_semdedup, same fit, k=4)
    base = _plan(_q(spark, "q_semdedup"))
    assert plan.count("Window") <= base.count("Window")


def test_fineweb_funnel_no_cartesian_no_python(spark):
    """Five composed stages must stay equi-join + broadcast shaped: no
    cartesian anywhere, no Python stage, and the LSH step must remain a
    band-bucket equi-self-join (never all-pairs)."""
    plan = _plan(_q(spark, "q_fineweb_funnel"))
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_shardwise_no_global_sort(spark):
    """Packing must window per source shard and broadcast the vocab-sized
    id tables — no corpus-wide range partitioning, no cartesian."""
    plan = _plan(_q(spark, "q_pack_sequences"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    assert "Python" not in plan


def test_corr_matrix_prunes_to_embedding_column_no_self_join(spark):
    """The Gram reduction reads ONLY the embedding column and never
    self-joins: pair products are generated inside the row."""
    plan = _plan(_q(spark, "q_corr_matrix"))
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all("embedding" in r for r in reads)
    assert all("vec_id" not in r and "label" not in r for r in reads)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # matrix-sized sides broadcast


def test_pca_power_no_cartesian_no_corpus_join(spark):
    """Power iteration runs on the d^2-row matrix; the corpus appears only
    in the sufficient-statistics aggregates, never in a join."""
    plan = _plan(_q(spark, "q_pca_power_portable"))
    assert "CartesianProduct" not in plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all("embedding" in r for r in reads)


def test_takedown_cascade_broadcasts_tainted_clusters(spark):
    """The takedown list is tiny: the cluster-taint join must broadcast,
    and nothing may cartesian."""
    plan = _plan(_q(spark, "q_takedown_cascade"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lsh_eval_never_all_pairs(spark):
    """Both the exact-truth side (inverted-index equi-join on the shingle)
    and the candidate side (band-bucket equi-join) must be hash/sort joins
    — a cartesian would mean an all-pairs comparison snuck in."""
    plan = _plan(_q(spark, "q_lsh_eval"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_image_resize_is_python_stage_only_map(spark):
    """decode -> resample -> encode -> decode is map-only: no exchange may
    appear between the scan and the final Arrow stages."""
    plan = _plan(_q(spark, "q_image_resize"))
    assert "Exchange" not in plan  # embarrassingly parallel end to end


def test_unigram_encode_vocab_join_broadcasts(spark):
    """Corpus encoding is a broadcast of the vocab-sized (word, n_tok)
    table onto the exploded corpus — the corpus must never shuffle into a
    sort-merge join."""
    plan = _plan(_q(spark, "q_unigram_encode"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_broadcasts_bitmap_no_sortmerge(spark):
    """The Bloom membership test must be a broadcast equi-join on the word
    index — the bitmap relation is bounded at M/32 rows by construction, so
    a SortMergeJoin against it means the broadcast was lost and the corpus
    side would shuffle on the probe key at scale."""
    plan = _plan(_q(spark, "q_bloom_decontaminate"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_audio_neardup_bands_on_composite_key(spark):
    """The audio near-dup candidate join must key on BOTH the contour
    fingerprint and the quantized-energy bucket — fp alone caps at 128
    buckets and degenerates to O(n²/128) at corpus scale. The probe-side
    explode and the two-column equi-join keys must appear in the plan, and
    the join must stay an equi-join (no cartesian fan-out)."""
    plan = _plan(_q(spark, "q_audio_neardup"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the composite key columns both appear in a join node's key list
    join_lines = [
        l for l in plan.splitlines()
        if ("keys" in l and "fp" in l) or "Join" in l
    ]
    assert any("probe_eb" in l and "fp" in l for l in join_lines), (
        "candidate join does not key on (fp, probe_eb): "
        + "\n".join(join_lines)
    )


def test_catalog_bucketed_join_is_exchange_free(spark):
    """q_bucketed_join: both sides scan as bucketed tables and the
    sort-merge join AND the per-order aggregate run with ZERO exchanges of
    any kind — the write-time bucketing pre-paid the only shuffle the
    topology needs. A BroadcastExchange here means the MERGE hint was lost
    (the fixture-size plan would no longer prove the 100 TB shape); a
    hashpartitioning Exchange means bucket metadata was dropped."""
    plan = _plan(_q(spark, "q_bucketed_join"))
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # neither shuffle nor broadcast
    assert plan.count("Bucketed: true") == 2
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_partition_prune_binds_at_file_listing(spark):
    """q_partition_prune: the one-day predicate must appear as a
    PartitionFilter (bound at directory-listing time, before any row
    decode), NOT as a pushed data filter — and the only exchange left is
    the tiny per-event-type aggregate reduction."""
    plan = _plan(_q(spark, "q_partition_prune"))
    part = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part and any("d#" in l and "=" in l for l in part), part
    # the date predicate must not survive as a post-scan Filter condition
    data_filters = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert all("2024" not in l for l in data_filters), data_filters


def test_ivfpq_prunes_then_joins_codes_broadcast(spark):
    """q_ivfpq_search composes the two approximations without losing either
    scale property: the probe set and the ADC lookup table must both reach
    the corpus as broadcasts (a sort-merge or cartesian against either
    means the pruning or the LUT join degenerated), and the final ranking
    is top-k, never a global sort."""
    plan = _plan(_q(spark, "q_ivfpq_search"))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_video_neardup_bands_on_composite_key(spark):
    """The video near-dup candidate join must key on BOTH the temporal
    contour and the quantized-energy bucket — the ≤3-bit contour alone
    caps at 8 buckets, so losing the composite degenerates the join to
    O(n²/8) at corpus scale."""
    plan = _plan(_q(spark, "q_video_neardup"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    join_lines = [
        l for l in plan.splitlines()
        if ("keys" in l and "fp" in l) or "Join" in l
    ]
    assert any("probe_eb" in l and "fp" in l for l in join_lines), (
        "candidate join does not key on (fp, probe_eb): "
        + "\n".join(join_lines)
    )


def test_consensus_reps_plan_is_join_free(spark):
    """q_consensus_reps is the density-safe consensus: its entire physical
    plan must be union + per-modality window + ONE hash aggregate — any
    Join node means pair enumeration crept back in and the linearity claim
    (survives mega-duplicate classes where the pair-form consensus OOMs)
    is void. The Python stages are the three media fingerprint decoders
    only; the verdict itself stays JVM-side."""
    plan = _plan(_q(spark, "q_consensus_reps"))
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "Union" in plan
    assert "Window" in plan
    assert "HashAggregate" in plan


def test_ivfpq_sweep_keeps_broadcasts_no_cartesian(spark):
    """The sweep composes 6 IVFPQ configurations incl. the exact-rerank
    leg; every candidate/LUT/probe join must stay a broadcast equi-join
    (a cartesian or sort-merge against the 50-row rerank pool would mean
    the refinement lost its bounded-candidate scale shape) and the final
    cuts must be top-k, never global sorts. The only nested-loop joins
    allowed are the deliberate 1-row x 1-row scalar stitches (n_hits x
    n_probed x n_total per config — 2 crossJoins x 6 configs x plan
    reuse); every KEYED join must be a BroadcastHashJoin."""
    plan = _plan(_q(spark, "q_ivfpq_sweep"))
    assert "CartesianProduct" not in plan
    bnlj = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert all("Cross" in l for l in bnlj if "(" not in l.split()[0]), bnlj
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Python" not in plan


def test_dedup_tiered_no_cartesian_and_windowed_tiers(spark):
    """q_dedup_tiered's scale claims in plan form: tiers 1-2 are pure
    window/aggregate shapes (the linear rep rule — any Join on a
    fingerprint PAIR would mean pair enumeration crept back), tier 3's
    pairwise work is an equi-join on the cluster id, and nothing
    degenerates to a cartesian. Nested-loop joins may appear only as the
    k-row scalar stitches inside the kmeans fit."""
    plan = _plan(_q(spark, "q_dedup_tiered"))
    assert "CartesianProduct" not in plan
    bnlj = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert all("Cross" in l for l in bnlj if "(" not in l.split()[0]), bnlj
    assert "Window" in plan


def test_kmeans_assign_in_row_argmin(spark):
    """The r16 assign shape: the argmin is an IN-ROW ``array_min`` fold
    over a broadcast single-row centroid array — no scored n*k stream
    exists physically, so the r13 wide-struct sort spill (~250 GB at
    sf30) and the r15 narrow-struct SortAggregate + join-back (two
    exchanges + a double scan) are both structurally impossible. Pin:
    array_min present; NO min(struct(d,...)) aggregate of any width; no
    SortAggregate; the only join is the deliberate 1-row centroid-array
    cross stitch (BroadcastNestedLoopJoin Cross)."""
    from pyspark.sql import functions as F

    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.clustering import kmeans_assign, seed_centroids

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    plan = _plan(kmeans_assign(emb, seed_centroids(emb, 4)))
    assert "array_min" in plan, "in-row argmin vanished from the plan"
    assert "min(struct(d," not in plan, "scored-stream argmin aggregate is back"
    assert "SortAggregate" not in plan, "a sort-based aggregate crept into assign"
    assert "BroadcastNestedLoopJoin Cross" in plan
    for other in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert other not in plan, other


def test_ivfpq_scaled_no_cartesian_and_broadcast_pruning(spark):
    """The scaled IVFADC+R composition must keep every join broadcast-side:
    probe list, codebooks, LUT, and rerank candidates are all tiny frames
    broadcast against scans — no CartesianProduct, and the probed-cell
    prune must be a broadcast hash join on cid (the scan-fraction claim
    depends on it staying a prune, not a shuffle)."""
    plan = _plan(_q(spark, "q_ivfpq_scaled"))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the kmeans argmin is the r16 in-row fold (no scored-stream aggregate
    # — the r13 sort-spill pin, strengthened: the n*k stream cannot spill
    # because it never exists physically)
    assert "array_min" in plan
    assert "min(struct(d, cid))" not in plan


def _assert_fused_serve_plan(plan: str) -> None:
    """Shared invariants of the r16 FUSED single-action serving plan
    (ivfpq_scaled_topk's local path: driver probe → the one LUT core over
    broadcast local residual rows → ADC → broadcast-semi-join rerank →
    TakeOrdered, all one plan):

    - BOTH persisted scans (packed codes AND the floats the rerank reads)
      carry the probe as PartitionFilters on cid — bound at FILE-LISTING
      time, only nprobe of kc cell directories ever listed or read;
    - broadcast discipline holds (no cartesian; LUT and candidates move
      as BroadcastExchange builds, never a shuffled join);
    - top-k is TakeOrderedAndProject (never a global sort);
    - at most TWO plain shuffle Exchanges: the R-row ADC aggregate (the
      only per-query shuffle — its input is the probed cells' exploded
      codes, partial-aggregated map-side) and the one-time repartition
      inside the cached (sub, cand, c) codebook-row relation the LUT
      streams (executes once per index at persist, not per query).

    The r15 form asserted an Exchange-FREE final job with pushed
    In(vec_id literals — an artifact of splitting serving into two
    actions (the ADC ran inside a cand.collect before the asserted
    plan). The fusion folds both halves into one action (measured at
    sf10: 2.10 → ~1.2-1.4 s/query warm; the saved time is a whole
    action's analysis + AQE scheduling), at the cost of the literal
    row-group skip that only ever existed below R = 1024 — sf30+ always
    semi-joined."""
    part = [
        l
        for l in plan.splitlines()
        if "PartitionFilters" in l and "cid" in l and "IN (" in l.upper()
    ]
    assert len(part) >= 2, [
        l for l in plan.splitlines() if "PartitionFilters" in l
    ]
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    import re

    # count distinct shuffle-Exchange NODES via the detail-section
    # headers ("(N) Exchange"), not the tree rendering — each node
    # appears in both and naive substring counting double-counts
    shuffle_nodes = re.findall(r"^\(\d+\) Exchange\s*$", plan, re.M)
    assert len(shuffle_nodes) <= 2, (shuffle_nodes, plan[:2000])


def test_ann_serve_codes_scan_partition_pruned(spark):
    """q_ann_index_serve's deployment claim lives in the plan — see
    _assert_fused_serve_plan for the pinned invariants."""
    _assert_fused_serve_plan(_plan(_q(spark, "q_ann_index_serve")))


def test_ann_append_serve_partition_pruned(spark):
    """q_ann_index_append serves from the UPDATED (appended-into) artifact
    dirs — the append must not cost the serving plan anything: appended
    files land inside existing cell dirs, so listing-time pruning covers
    them and the fused serving invariants hold unchanged."""
    _assert_fused_serve_plan(_plan(_q(spark, "q_ann_index_append")))


def test_ann_compact_serve_partition_pruned(spark):
    """q_ann_index_compact serves from the compacted tree — compaction
    must leave the fused serving plan untouched."""
    _assert_fused_serve_plan(_plan(_q(spark, "q_ann_index_compact")))


def test_ppjoin_vocab_rank_is_distributed(spark):
    """r17 (VERDICT r16 'Next round' #1): the shingle-vocab dictionary rank
    must never be a single-partition window — at 100 TB an n-gram shingle
    vocabulary is itself corpus-scale, and one task would sort all of it.
    The distributed form (range exchange + per-partition monotone ids) has
    no Window node and no SinglePartition exchange anywhere in either
    prefix-filter operator's plan."""
    for name in ("q_neardup_ngram", "q_containment_dedup"):
        plan = _plan(_q(spark, name))
        assert "Exchange SinglePartition" not in plan, name
        assert "Window" not in plan, name
