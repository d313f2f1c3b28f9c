"""Streaming queries (SURVEY.md §2.11) — real readStream plans executed with
trigger(availableNow) and returned as batch DataFrames.

Round 4 promoted most of the family from rows-only to hash-checked: under
``trigger(availableNow)`` the file source delivers one micro-batch, so the
tumbling counts equal the batch aggregation, the unique-id dedup is an
identity, the stateless stream-static enrich is row-deterministic, and the
stateful sessionization emits exactly the batch sessions minus each user's
open tail, the stream-stream interval join emits the batch inequality
join's relation verbatim, and the anomaly scorer's per-batch state sums
became decimal-exact (order-free, so the 2-batch-replay scores are the
identical doubles) — ALL SEVEN now carry full DuckDB oracles. The
multi-batch behaviors those oracles cannot express (watermark drops,
cross-batch state retirement) stay covered by
tests/test_streaming_equiv.py and tests/test_watermark_latedata.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import jobs
from .registry import query


@query(
    "q_stream_tumbling",
    # Promoted from rows-only in round 4: under trigger(availableNow) the
    # file source delivers every input file in ONE micro-batch, so the
    # watermark drops nothing (late data only exists ACROSS batches) and
    # complete-mode counts are exactly the batch aggregation — integer
    # counts, deterministic window boundaries, hence the full hash check
    # against q_window_tumbling's SQL. Multi-batch replays with real late
    # data remain covered by tests/test_watermark_latedata.py; the watermark
    # semantics themselves stay non-SQL-expressible, but this entry's output
    # is not approximate, so it should not hide behind ⊘.
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
    description="streaming tumbling-window counts via readStream + availableNow + "
    "watermark (incremental re-expression of the daily cron batch); availableNow "
    "delivers one micro-batch so the complete-mode result equals the batch "
    "aggregation exactly — hash-checked against q_window_tumbling's oracle",
    tags=("streaming",),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = jobs.read_events_stream(spark, sf_dir)
    out = jobs.run_available_now(jobs.tumbling_counts(events))
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n_events",
    )


@query(
    "q_stream_dedup",
    # Promoted from rows-only in round 4: event_id is unique in the source
    # (the generator's row id), so the watermarked dropDuplicates must pass
    # every row through exactly once and the checked relation is the table
    # itself — a value-level identity check on the streaming dedup path.
    # (With genuinely duplicated ids the survivor's payload is
    # arrival-order-dependent and only the id set would be checkable; the
    # duplicate-dropping behavior is covered by the cross-batch equivalence
    # test in tests/test_streaming_equiv.py.)
    oracle="SELECT event_id, event_type, value FROM events",
    description="watermarked cross-batch dedup on event_id (the apt_id TODO "
    "solved); hash-checked as an identity over the unique-id source — the "
    "duplicate-dropping path is equivalence-tested cross-batch",
    tags=("streaming",),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = jobs.read_events_stream(spark, sf_dir)
    return jobs.run_available_now(jobs.dedup_events(events)).select(
        "event_id", "event_type", "value"
    )


@query(
    "q_stream_sessionize",
    # Promoted from rows-only in round 4: the operator emits exactly the
    # CLOSED sessions — every batch session except each user's last (the
    # open one stays in state) — and session boundaries depend only on the
    # sorted event times (strict > gap rule, identical in both forms), so
    # the emitted set is deterministic and the oracle is the batch
    # sessionization minus the per-user max session_seq. The custom
    # applyInPandasWithState operator is thereby value-checked end to end,
    # not just row-counted.
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL 12 HOURS
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_seq
      FROM o),
    agg AS (
      SELECT user_id, session_seq, COUNT(*) AS n_events,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM s GROUP BY user_id, session_seq),
    mx AS (SELECT user_id, MAX(session_seq) AS mseq FROM agg GROUP BY user_id)
    SELECT a.user_id, a.session_seq, a.n_events, a.session_start, a.session_end
    FROM agg a JOIN mx ON a.user_id = mx.user_id AND a.session_seq < mx.mseq
    """,
    description="streaming gap-based sessionization via applyInPandasWithState — "
    "custom stateful operator, O(active users) fixed-size state, emits a session "
    "the moment a later event closes it; hash-checked against the batch "
    "sessionization minus each user's open (last) session — the exact closed-"
    "session contract, value-checked",
    tags=("streaming", "timeseries"),
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = jobs.read_events_stream(spark, sf_dir)
    out = jobs.run_available_now(jobs.sessionize_stream(events, gap="12 hours"))
    return out.select(
        "user_id",
        "session_seq",
        "n_events",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
    )


def _two_batch_replay(spark, df, batch2_cond, schema, op, prefix) -> DataFrame:
    """Replay ``df`` as two micro-batches (rows matching ``batch2_cond``
    arrive second; mtimes pinned so the file source orders them;
    ``maxFilesPerTrigger=1`` delivers one file per trigger), run the
    stateful ``op`` over the stream, and return the fully materialized
    result. A single-batch availableNow run would process everything
    against empty state — this harness demonstrates the cross-batch state
    the stateful operators exist for. run_available_now materializes into
    a memory sink, so the replay directory is removed before returning
    (repeated driver sweeps were accumulating unbounded temp-disk —
    round-4 advisor)."""
    import os
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    try:
        df.filter(~batch2_cond).coalesce(1).write.parquet(f"{d}/p1")
        df.filter(batch2_cond).coalesce(1).write.parquet(f"{d}/p2")
        now = 1_700_000_000
        for sub, t in (("p1", now - 1000), ("p2", now)):
            for f in os.listdir(f"{d}/{sub}"):
                os.utime(f"{d}/{sub}/{f}", (t, t))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/*")
        )
        return jobs.run_available_now(op(stream))
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_anomaly",
    # Promoted from rows-only in round 4: the operator's per-batch Σv / Σv²
    # now accumulate in 6-dp DECIMAL and convert to double once (the dsum
    # recipe), so the batch-1 state — and every batch-2 score derived from
    # it — is the identical double on both engines regardless of partition
    # order. The oracle replays the same two-batch split (even ids = batch
    # 1, odd ids = batch 2) and the same scoring arithmetic operand for
    # operand.
    oracle=f"""
    WITH b1 AS (
      SELECT event_type, value FROM events WHERE event_id % 2 = 0),
    st AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS s2
      FROM b1 GROUP BY event_type),
    sc AS (
      SELECT o.event_id, o.event_type, o.value,
             (o.value - st.s / st.n)
               / sqrt(st.s2 / st.n - (st.s / st.n) * (st.s / st.n)) AS z
      FROM events o JOIN st ON o.event_type = st.event_type
      WHERE o.event_id % 2 = 1
        AND st.n >= 2
        AND st.s2 / st.n - (st.s / st.n) * (st.s / st.n) > 0)
    SELECT event_id, event_type, value, z FROM sc WHERE abs(z) >= 3.0
    """,
    description="streaming z-score anomaly scoring via applyInPandasWithState — "
    "O(event types) fixed-size state (count, Σv, Σv²), each micro-batch scored "
    "against the stats of all PREVIOUS batches (causally honest alerting); "
    "per-batch sums are decimal-exact then doubled once, so the two-batch "
    "replay hash-matches the SQL twin of the same prefix scoring; batch twin "
    "is q_anomaly_zscore",
    tags=("streaming", "timeseries"),
)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-batch replay split on event_id parity: batch 1 (even ids) builds
    # the per-type stats, batch 2 (odd ids) is scored against them
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return _two_batch_replay(
        spark,
        ev,
        F.col("event_id") % 2 == 1,
        "event_id BIGINT, event_type STRING, value DOUBLE",
        jobs.anomaly_stream,
        "ehs_anom_replay_",
    )


@query(
    "q_stream_enrich",
    # The one streaming shape whose output IS batch-deterministic (row-level
    # left join to a static snapshot, no watermark, no state), so unlike the
    # rest of the streaming family it gets the full hash check: the oracle
    # is the identical dimension expressed as a CASE over the same rows.
    oracle="""
    SELECT event_id, event_type,
           CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                WHEN event_type = 'error' THEN 'ops'
                WHEN event_type IN ('click', 'view') THEN 'engagement'
                ELSE NULL END AS tier,
           value
    FROM events
    """,
    description="stream-static enrichment join: each micro-batch broadcast-joins "
    "the static tier dimension onto the event stream (no streaming state at all "
    "— the planner re-reads the dim per batch); the enrichment shape every event "
    "pipeline runs, and the one streaming query that is row-deterministic, so it "
    "is fully hash-checked against the batch oracle",
    tags=("streaming", "join"),
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = spark.createDataFrame(
        [
            ("purchase", "conversion"),
            ("signup", "conversion"),
            ("error", "ops"),
            ("click", "engagement"),
            ("view", "engagement"),
        ],
        "event_type string, tier string",
    )
    events = jobs.read_events_stream(spark, sf_dir)
    enriched = jobs.enrich_with_dim(events, dim, "event_type")
    return jobs.run_available_now(
        enriched.select("event_id", "event_type", "tier", "value")
    )


@query(
    "q_stream_join",
    # Promoted from rows-only in round 4: an inner stream-stream join's
    # output is a pure relation — every (click, view) pair satisfying the
    # predicate, emitted exactly once — and under availableNow's single
    # micro-batch the watermark retires nothing before matching, so the
    # result equals the batch inequality join verbatim and hash-checks.
    # What the oracle cannot express — state retirement across batches —
    # stays equivalence-tested in tests/test_streaming_equiv.py.
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id, c.ts AS click_ts,
           v.event_id AS view_id, v.ts AS view_ts
    FROM events c JOIN events v
      ON c.event_type = 'click' AND v.event_type = 'view'
     AND v.user_id = c.user_id
     AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR
    """,
    description="stream-stream watermarked interval join (click ← same-user views "
    "in the prior hour, the attribution lookback): both sides watermarked and the "
    "event-time bound in the join condition lets Spark retire per-side state at "
    "the rate × horizon bound instead of buffering stream history; the emitted "
    "relation hash-matches the batch inequality join, and cross-batch state "
    "retirement stays equivalence-tested",
    tags=("streaming", "join"),
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = jobs.read_events_stream(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click")
    views = events.filter(F.col("event_type") == "view")
    out = jobs.run_available_now(jobs.interval_join_streams(clicks, views))
    return out.select(
        "user_id",
        "click_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        "view_id",
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
    )


def _gate_oracle() -> str:
    from .dedup_queries import _mh_oracle
    from .pipeline_queries import _BAND_UNION

    return f"""
    WITH sigs AS ({_mh_oracle()}),
    bands AS (
      {_BAND_UNION}),
    bm AS (
      SELECT b, bkey, MIN(doc_id) AS prev_min
      FROM bands WHERE doc_id % 5 <> 0 GROUP BY b, bkey),
    hits AS (
      SELECT t.doc_id, bm.prev_min
      FROM bands t LEFT JOIN bm ON t.b = bm.b AND t.bkey = bm.bkey
      WHERE t.doc_id % 5 = 0)
    SELECT doc_id,
           CAST(SUM(CASE WHEN prev_min IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CASE WHEN COUNT(prev_min) > 0 THEN 'near_dup' ELSE 'new' END
             AS verdict,
           MIN(prev_min) AS best_match
    FROM hits GROUP BY doc_id
    """


@query(
    "q_stream_neardup_gate",
    # The custom stateful operator is value-checked end to end: under the
    # two-batch replay (corpus = doc_id % 5 <> 0 seeds state, then the
    # ingest batch is gated), the emitted prev_min per (doc, band) is
    # exactly the corpus-side MIN(doc_id) of that band bucket — prefix
    # semantics, read-before-fold, so within-batch pairs never match and
    # the oracle is plain SQL over the same banded signatures.
    oracle=_gate_oracle(),
    description="streaming MinHash-LSH ingest gate via applyInPandasWithState "
    "— the streaming twin of q_dedup_incremental's near-dup tier: the "
    "corpus batch seeds O(occupied buckets) state (one BIGINT per (band, "
    "bucket)), then every newly ingested doc is gated against ALL prior "
    "batches by band-bucket lookup, never an all-pairs join; per-doc "
    "verdict (n band hits, near_dup/new, best prior match) is a stateless "
    "rollup of the operator's emissions. Hash-checked against the SQL "
    "replay of the same two-batch split — the state transition itself is "
    "value-checked, not just row-counted",
    tags=("streaming", "dedup", "pipeline"),
)
def q_stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-batch replay (shared _two_batch_replay harness): banded signatures
    # are computed map-side by the portable MinHash chain; the corpus
    # (doc_id % 5 <> 0) seeds state, then the ingest batch is gated.
    from ..operators.dedup import minhash_bands
    from .dedup_queries import portable_sigs

    bands = minhash_bands(portable_sigs(spark, sf_dir), 4, 4).select(
        F.col("id").alias("doc_id"), F.col("band").alias("b"), "bkey"
    )
    hits = _two_batch_replay(
        spark,
        bands,
        F.col("doc_id") % 5 == 0,
        "doc_id BIGINT, b INT, bkey ARRAY<BIGINT>",
        jobs.neardup_gate_stream,
        "ehs_gate_replay_",
    )
    gated = hits.filter(F.col("doc_id") % 5 == 0)
    return (
        gated.groupBy("doc_id")
        .agg(
            F.sum(F.col("prev_min").isNotNull().cast("int")).cast("bigint").alias(
                "n_hits"
            ),
            F.min("prev_min").alias("best_match"),
        )
        .select(
            "doc_id",
            "n_hits",
            F.when(F.col("n_hits") > 0, "near_dup").otherwise("new").alias("verdict"),
            "best_match",
        )
    )


def _dedup_pipeline_oracle_sql() -> str:
    from .pipeline_queries import _dedup_pipeline_oracle

    return _dedup_pipeline_oracle()


@query(
    "q_stream_takedown",
    # The STREAMING half of q_takedown_cascade: erasure/abuse requests
    # arrive as a stream (the 'error' events stand in as the report feed;
    # the reported document is event_id % corpus-size — deterministic on
    # both engines) and each request must resolve IN FLIGHT to its full
    # removal set — the near-dup cluster of the reported doc, sized. A
    # row-level stream-static join to the hash-checked dedup-pipeline
    # labels is batch-deterministic (no watermark, no state), so like
    # q_stream_enrich it gets the full hash check; the static side is
    # recomputed per micro-batch by the planner and would be a broadcast
    # snapshot on a cluster. One output row per request: the cluster id
    # and how many documents the erasure actually removes.
    oracle=f"""
    WITH lab AS (
      SELECT doc_id, cluster_id FROM ({_dedup_pipeline_oracle_sql()})),
    sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_removed
           FROM lab GROUP BY cluster_id),
    nd AS (SELECT COUNT(*) AS n FROM lab),
    req AS (
      SELECT event_id, event_id % nd.n AS doc_id
      FROM events CROSS JOIN nd WHERE event_type = 'error')
    SELECT r.event_id, r.doc_id, l.cluster_id, sz.n_removed
    FROM req r
    JOIN lab l ON r.doc_id = l.doc_id
    JOIN sz ON l.cluster_id = sz.cluster_id
    """,
    description="streaming erasure gate, hash-checked: the error-event stream "
    "stands in as the takedown feed (reported doc = event_id % corpus size), "
    "each request stream-static joins to the hash-checked dedup-pipeline "
    "cluster labels and resolves in flight to its cluster id and full removal "
    "count — row-deterministic (no state), so fully value-checked like "
    "q_stream_enrich; the static side is the broadcastable label snapshot",
    tags=("streaming", "dedup", "pipeline"),
)
def q_stream_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline_queries import q_dedup_pipeline_portable

    from ..operators._ckpt import single_shot_checkpoint

    labels = q_dedup_pipeline_portable(spark, sf_dir).select("doc_id", "cluster_id")
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_removed")
    )
    # materialize the label snapshot ONCE (tracked single-shot checkpoint):
    # this is what a deployment broadcasts per micro-batch anyway, and the
    # truncated lineage keeps the streaming plan free of the static side's
    # Aggregate (a row-level stream-static join runs in append mode)
    static = single_shot_checkpoint(labels.join(sizes, "cluster_id"))
    # cardinality from the already-materialized checkpoint (one row per
    # document) — counting `labels` would re-run the pipeline lineage
    n_docs = static.count()
    events = jobs.read_events_stream(spark, sf_dir)
    req = events.filter(F.col("event_type") == "error").select(
        "event_id", (F.col("event_id") % F.lit(n_docs)).alias("doc_id")
    )
    resolved = req.join(static, "doc_id").select(
        "event_id", "doc_id", "cluster_id", "n_removed"
    )
    return jobs.run_available_now(resolved)



def _bloom_gate_oracle() -> str:
    from .bloom_queries import _M, _bloom_sql

    return f"""
    WITH {_bloom_sql(_M)}
    SELECT doc_id, CAST(SUM(hit) AS BIGINT) AS n_hit
    FROM verdict GROUP BY doc_id HAVING SUM(hit) > 0
    """


@query(
    "q_stream_bloom_gate",
    # The streaming half of the Bloom decontamination family: the bitmap
    # is a static snapshot (built batch-side from the eval split), the
    # corpus shingle rows arrive in TWO micro-batches (doc parity split),
    # and each batch is probed by the stateless stream-static broadcast
    # gate. Because the operator is stateless, the streamed verdicts equal
    # the batch verdicts for any batching — so this carries
    # q_bloom_decontaminate's oracle VERBATIM, a strictly stronger check
    # than the row-count ⊘ the stateless class would otherwise get.
    oracle=_bloom_gate_oracle(),
    description="streaming Bloom decontamination gate: the ≤ M/32-row "
    "bitmap snapshot broadcast into every micro-batch, arriving corpus "
    "shingles probed by the same K-broadcast-join shift-and-mask plan as "
    "the batch query (one implementation, operators/bloom.py), per-doc "
    "verdict rolled up downstream — stateless stream-static, so the "
    "two-batch replay hash-matches the batch oracle exactly; the "
    "incremental-ingest answer to blocklist screening at 100 TB",
    tags=("streaming", "bloom", "pipeline"),
)
def q_stream_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_build
    from .bloom_queries import _K, _M
    from .pipeline_queries import corpus_shingles

    from ..operators._ckpt import single_shot_checkpoint

    sh = corpus_shingles(spark, sf_dir)
    ev = sh.filter(F.col("doc_id") % 37 == 0).select("sh").distinct()
    # materialize the bitmap ONCE as a literal snapshot (its build plan
    # contains an Aggregate, which would both re-run per micro-batch and
    # trip run_available_now's streaming-agg detection into complete mode)
    bits = single_shot_checkpoint(bloom_build(ev, "sh", _M, _K))
    corpus = sh.filter(F.col("doc_id") % 37 != 0).select("doc_id", "sh")
    hits = _two_batch_replay(
        spark,
        corpus,
        F.col("doc_id") % 2 == 1,
        "doc_id BIGINT, sh STRING",
        lambda stream: jobs.bloom_gate_stream(stream, bits, _M, _K),
        "ehs_bloomgate_replay_",
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.sum("bloom_hit").cast("long").alias("n_hit"))
        .filter(F.col("n_hit") > 0)
    )


# NOTE: evaluated at decorator time during module import, so there is no
# point pretending to defer the text_queries dependency — the import-time
# edge streaming_queries -> text_queries is real (and acyclic; text_queries
# never imports this module).
from .text_queries import _cluster_reps_oracle as _rep_gate_oracle  # noqa: E402


@query(
    "q_stream_rep_gate",
    # The round-12 dedup primitive in INGEST POSITION — the streaming half
    # of the cluster-representative family, same shape as
    # q_stream_bloom_gate: the per-modality rep-key tables (exact
    # fingerprint -> class-minimum id) are static snapshots built
    # batch-side (each contains an aggregate, so it is localCheckpointed
    # once — a literal broadcast into every micro-batch), documents
    # arrive in TWO micro-batches (doc parity split), and each batch is
    # fingerprinted by the SAME stateless codec chains the batch queries
    # use (mapInPandas is streaming-compatible) and broadcast-joined
    # against the rep keys. Stateless stream-static => the streamed
    # verdicts equal the batch verdicts for ANY batching, so this carries
    # q_dup_cluster_reps' oracle VERBATIM — the strictly-stronger check
    # of the stateless class. This is dedup-at-ingest for 100 TB: new
    # records get duplicate-of-rep verdicts per modality as they land,
    # paying one broadcast probe per modality instead of any corpus scan.
    # Throughput note: the _two_batch_replay harness coalesce(1)s each
    # micro-batch (a CORRECTNESS device — deterministic two-file replay),
    # so the four codec chains run single-partition here; a production
    # readStream delivers normally-partitioned batches and the chains are
    # map-only, so ingest throughput is the fingerprint decode rate
    # already measured on the batch side (slowest chain, the image dHash,
    # ~170 k payloads/s on 32 cores; video ~280 k/s, audio ~440 k/s —
    # sf30 points after the r13 numpy vectorization of the AVI repack;
    # the video chain was ~57 k/s before it).
    oracle=_rep_gate_oracle(),
    description="streaming cluster-representative dedup gate: arriving "
    "documents fingerprinted per modality by the batch codec chains "
    "(stateless mapInPandas) and probed against broadcast rep-key "
    "snapshots (exact fingerprint -> class-minimum id) — per-doc verdicts "
    "with per-modality reps and duplicate count, hash-matching the batch "
    "q_dup_cluster_reps for any batching; the ingest-position form of the "
    "density-safe dedup family",
    tags=("streaming", "multimodal", "dedup", "pipeline"),
)
def q_stream_rep_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table
    from ..operators._ckpt import single_shot_checkpoint
    from .text_queries import (
        _audio_fp_from,
        _image_phash_from,
        _video_fp_from,
        q_audio_fingerprint,
        q_image_phash,
        q_video_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    img_reps = single_shot_checkpoint(
        q_image_phash(spark, sf_dir)
        .groupBy("phash_hi", "phash_lo")
        .agg(F.min("media_id").alias("rep"))
    )
    aud_reps = single_shot_checkpoint(
        q_audio_fingerprint(spark, sf_dir)
        .groupBy("fp", "e_total")
        .agg(F.min("media_id").alias("rep"))
    )
    vid_reps = single_shot_checkpoint(
        q_video_fingerprint(spark, sf_dir)
        .groupBy("fp", "e_total")
        .agg(F.min("media_id").alias("rep"))
    )
    txt_reps = single_shot_checkpoint(
        docs.select(F.md5("text").alias("k"), "doc_id")
        .groupBy("k")
        .agg(F.min("doc_id").alias("rep"))
    )

    def gate(stream: DataFrame) -> DataFrame:
        ids = stream.select("doc_id")
        sk = stream.select("doc_id", F.md5("text").alias("sk"))
        # null-SAFE key equality: the batch window (and the oracle's
        # PARTITION BY md5(text)) group null-text docs into one class; a
        # plain inner join on a NULL key would silently drop the text
        # modality for such docs and break the streamed==batch contract
        t = sk.join(
            F.broadcast(txt_reps), sk["sk"].eqNullSafe(txt_reps["k"])
        ).select("doc_id", "rep", F.lit("text").alias("m"))
        i = (
            _image_phash_from(ids)
            .join(F.broadcast(img_reps), ["phash_hi", "phash_lo"])
            .select(
                F.col("media_id").alias("doc_id"),
                "rep",
                F.lit("image").alias("m"),
            )
        )
        a = (
            _audio_fp_from(ids)
            .join(F.broadcast(aud_reps), ["fp", "e_total"])
            .select(
                F.col("media_id").alias("doc_id"),
                "rep",
                F.lit("audio").alias("m"),
            )
        )
        v = (
            _video_fp_from(ids)
            .join(F.broadcast(vid_reps), ["fp", "e_total"])
            .select(
                F.col("media_id").alias("doc_id"),
                "rep",
                F.lit("video").alias("m"),
            )
        )
        return t.unionByName(i).unionByName(a).unionByName(v)

    matches = _two_batch_replay(
        spark,
        docs.select("doc_id", "text"),
        F.col("doc_id") % 2 == 1,
        "doc_id BIGINT, text STRING",
        gate,
        "ehs_repgate_replay_",
    )
    from .text_queries import _cluster_rep_verdicts

    return _cluster_rep_verdicts(matches)
