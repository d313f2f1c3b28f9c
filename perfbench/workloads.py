"""The three benchmark workloads, driven through the engine's public API.

Each workload class has the same shape:

- ``setup()``: a warm-up (JIT and codegen), for ``sql_mix`` only;
- ``run(seconds)``: the timed window. One client thread, closed loop: the
  next op starts when the previous one returns;
- ``check()``: the output check, once per run, outside the timed window.

An op is one query (``sql_mix``), one full pipeline pass (``corpus_etl``),
or one served top-10 (``ann_lifecycle``). Ops record their latency and
whether they raised; ``check`` marks the ops whose output is wrong.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_housing_spark.catalog import load_table
from etl_housing_spark.functions.cleaning import clean_listings
from etl_housing_spark.operators._ckpt import clear_pipeline_cache, tracked_persist
from etl_housing_spark.operators.bloom import bloom_build, bloom_probe
from etl_housing_spark.operators.clustering import kmeans_assign
from etl_housing_spark.operators.dedup import exact_dedup, minhash_near_dups
from etl_housing_spark.operators.quantize import (
    ivfpq_scaled_codes,
    ivfpq_scaled_index,
    ivfpq_scaled_topk,
    pq_residual_codebooks,
)
from etl_housing_spark.pipeline import Engine, ETLJob
from etl_housing_spark.plans import all_queries
from etl_housing_spark.plans.pipeline_queries import q_fineweb_funnel, shingles_from
from etl_housing_spark.sources.html_extract import extract_listings
from etl_housing_spark.sources.registry import SourceRegistry, SourceSpec
from etl_housing_spark.sources.warehouse import (
    ParquetWarehouse,
    compact_partitioned_table,
    concurrent_writes,
)

SQL_MIX_QUERIES = [
    "q_pricing_summary", "q_groupby_avg", "q_join_sortmerge", "q_join_broadcast",
    "q_window_rank", "q_topk", "q_window_tumbling", "q_token_counts",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class Op:
    __slots__ = ("kind", "latency", "ok", "traced")

    def __init__(self, kind: str, latency: float, ok: bool, traced: bool) -> None:
        self.kind, self.latency, self.ok, self.traced = kind, latency, ok, traced


# ------------------------------------------------------------------ helpers --


def frame_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result frame: columns sorted by name,
    dtypes normalized as tests/parity.py does, rows sorted, then hashed.
    Dtype stays part of the digest, so int-vs-float drift mismatches. Kept
    here rather than imported, so the benchmark does not change when the
    test helpers do."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("bool")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    h = hashlib.md5()
    h.update(repr([(c, str(df[c].dtype)) for c in df.columns]).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()


def oracle_frame(sql: str, sf_dir: str) -> pd.DataFrame:
    """DuckDB's result for an oracle SQL over the generated tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con.execute(sql).fetch_df()
    finally:
        con.close()


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a parquet output directory."""
    n_bytes = n_files = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(base, f))
                n_files += 1
    return n_bytes, n_files


def parquet_rows(path: str) -> int:
    """Row count of a parquet output directory, from the file footers."""
    return sum(pq.ParquetFile(os.path.join(base, f)).metadata.num_rows
               for base, _dirs, files in os.walk(path) for f in files if f.endswith(".parquet"))


class Workload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.ops: list[Op] = []
        self.layer: dict[str, float] = {}
        self.timed = os.path.join(ctx.inputs, "timed")
        self.layout = os.path.join(ctx.inputs, "layout")  # multi-file, from inputs.py

    def setup(self) -> None:
        """Warm-up before the window. None by default: ``corpus_etl`` and
        ``ann_lifecycle`` are batch jobs that start a fresh session on every
        run, so the JIT and codegen warm-up of their first pass or build is
        part of what they cost."""

    def work(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)

    def drain(self) -> None:
        with self.tr.span("ckpt.drain"):
            n = clear_pipeline_cache(self.spark, blocking=True)
        self.layer["ckpt.drained"] = self.layer.get("ckpt.drained", 0) + n

    def timed_op(self, kind: str, fn, op_id: int, traced: bool) -> Op:
        """Run one op under its root span; an exception fails the op."""
        t0 = time.perf_counter()
        ok = True
        try:
            with self.tr.span(f"op:{kind}", op=op_id):
                fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            ok = False
        op = Op(kind, time.perf_counter() - t0, ok, traced)
        self.ops.append(op)
        return op


# ----------------------------------------------------------------- sql_mix --


class SqlMix(Workload):
    """Eight registered relational queries at sf0.1, multi-file layout, noop
    sink, in a seeded order. The window runs whole rounds (every query once
    per round), so each run times the same multiset of queries."""

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        specs = all_queries()
        self.specs = {q: specs[q] for q in SQL_MIX_QUERIES}
        self.rng = random.Random(ctx.meta["order_seed"])

    def setup(self) -> None:
        # warm-up: one round on the timed layout. A round at sf0.01 left the
        # first timed round at sf0.1 1.5-2x slower than the next one.
        for q in SQL_MIX_QUERIES:
            self._query(q)

    def _query(self, q: str) -> None:
        with self.tr.span("plans.query"):
            with self.tr.span("mk"):
                df = self.specs[q].fn(self.spark, self.layout)
            with self.tr.span("noop"):
                df.write.format("noop").mode("overwrite").save()
        self.drain()

    def run(self, seconds: float) -> None:
        # a fixed number of whole rounds, one per 3 s of the window (a warm
        # round takes 3-4 s, and the rounds keep getting faster): stopping
        # on the clock let the round count, and with it the stretch of that
        # curve a run samples, change between runs
        for rnd in range(max(1, math.ceil(seconds / 3))):
            order = list(SQL_MIX_QUERIES)
            self.rng.shuffle(order)
            # traced runs alternate traced and untraced rounds: the
            # difference is the tracing overhead
            traced = self.tr.enabled and rnd % 2 == 0
            with self.tr.paused(not traced):
                for q in order:
                    op = self.timed_op("query", lambda q=q: self._query(q), len(self.ops), traced)
                    op.kind = q

    def check(self) -> None:
        bad = set()
        for q, spec in self.specs.items():
            got = frame_digest(spec.fn(self.spark, self.layout).toPandas())
            want = frame_digest(oracle_frame(spec.oracle, self.timed))
            if got != want:
                print(f"check: {q} result does not match the DuckDB oracle", file=sys.stderr)
                bad.add(q)
        self.drain()
        for op in self.ops:
            if op.kind in bad:
                op.ok = False


# -------------------------------------------------------------- corpus_etl --

_BLOOM_M, _BLOOM_K = 65536, 4
_EVAL_MOD = 97  # documents with doc_id % 97 == 0 are the held-out eval set
_MH_THRESHOLD = 0.7


class CorpusEtl(Workload):
    """Repeated passes of a composed batch pipeline that writes its outputs.

    Listings half (the paper's pipeline), as two ``pipeline.ETLJob``s run
    by ``pipeline.Engine``: snapshots -> extract_listings -> raw landing
    table; raw -> clean_listings -> exact_dedup -> warehouse table
    partitioned by (city, date).

    Documents half: q_fineweb_funnel flags -> MinHash near-dup pairs among
    the documents that pass the funnel's filter and exact-dedup stages ->
    Bloom decontamination against a held-out eval set -> survivors written
    to parquet. Each step writes its output table, as a batch DAG does."""

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.digests: list[str | None] = []
        self.out = {k: self.work("out", k) for k in
                    ("raw", "warehouse", "flags", "pairs", "flagged", "survivors")}

    def _pass(self) -> None:
        spark, tr, src, out = self.spark, self.tr, self.layout, self.out

        def spanned(name, fn):
            def call(*a):
                with tr.span(name):
                    return fn(*a)
            return call

        def write_raw(df):
            with tr.span("write"):
                df.write.mode("overwrite").parquet(out["raw"])

        wh = ParquetWarehouse(spark, os.path.dirname(out["warehouse"]))

        def write_wh(df):
            with tr.span("write"):
                wh.write(df, os.path.basename(out["warehouse"]), "overwrite", ["city", "date"])

        reg = SourceRegistry()
        reg.register("snapshots", SourceSpec("parquet", os.path.join(src, "snapshots.parquet")))
        reg.register("raw_listings", SourceSpec("parquet", out["raw"]))
        engine = Engine(reg)
        engine.register("extract", _SpannedJob(
            "snapshots", [spanned("sources.extract", extract_listings)], write_raw, tracer=tr))
        engine.register("clean", _SpannedJob(
            "raw_listings",
            [spanned("functions.clean", clean_listings),
             spanned("dedup.exact", lambda df: exact_dedup(df, ["url", "unit", "date"], "price"))],
            write_wh, tracer=tr))
        for name, res in engine.run_all(spark).items():
            if isinstance(res, Exception):
                raise RuntimeError(f"ETL job {name} failed") from res

        with tr.span("text.funnel"):
            with tr.span("mk"):
                flags = q_fineweb_funnel(spark, src)
            with tr.span("write"):
                flags.write.mode("overwrite").parquet(out["flags"])
        docs = load_table(spark, src, "documents").select("doc_id", "text")
        kept = docs.join(
            spark.read.parquet(out["flags"]).filter(F.col("pass_exact") == 1).select("doc_id"),
            "doc_id")
        with tr.span("dedup.minhash"):
            with tr.span("mk"):
                pairs = minhash_near_dups(kept, "doc_id", "text", num_hashes=16, bands=8,
                                          shingle_size=3, threshold=_MH_THRESHOLD)
            with tr.span("write"):
                pairs.write.mode("overwrite").parquet(out["pairs"])
        later = spark.read.parquet(out["pairs"]).select(F.col("id_b").alias("doc_id"))
        kept = kept.join(later, "doc_id", "left_anti")
        with tr.span("bloom.build"):
            with tr.span("mk"):
                ev = shingles_from(docs.filter(F.col("doc_id") % _EVAL_MOD == 0)) \
                    .select("sh").distinct()
                bits = tracked_persist(bloom_build(ev, "sh", _BLOOM_M, _BLOOM_K))
            with tr.span("count"):
                bits.count()
        with tr.span("bloom.probe"):
            with tr.span("mk"):
                probed = bloom_probe(
                    shingles_from(kept.filter(F.col("doc_id") % _EVAL_MOD != 0)),
                    "sh", bits, _BLOOM_M, _BLOOM_K)
                flagged = probed.groupBy("doc_id").agg(F.max("bloom_hit").alias("hit")) \
                    .filter(F.col("hit") == 1).select("doc_id")
            with tr.span("write"):
                flagged.write.mode("overwrite").parquet(out["flagged"])
        with tr.span("sources.survivors"):
            with tr.span("mk"):
                survivors = kept.filter(F.col("doc_id") % _EVAL_MOD != 0).join(
                    spark.read.parquet(out["flagged"]), "doc_id", "left_anti")
            with tr.span("write"):
                survivors.write.mode("overwrite").parquet(out["survivors"])
        self.drain()

    def _digest(self) -> str:
        out = self.out
        surv = pq.read_table(out["survivors"]).to_pandas()
        listings = pq.read_table(out["warehouse"]).to_pandas()
        listings["city"] = listings["city"].astype(str)
        listings["date"] = listings["date"].astype(str)
        return frame_digest(surv) + frame_digest(listings)

    def run(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        while True:
            traced = self.tr.enabled and len(self.ops) % 2 == 0
            with self.tr.paused(not traced):
                op = self.timed_op("pass", self._pass, len(self.ops), traced)
            # the pass digest is read outside the op, between passes
            self.digests.append(self._digest() if op.ok else None)
            if time.perf_counter() >= t_end:
                break
        self._record()

    def _record(self) -> None:
        out = self.out
        written = [dir_stats(out[k]) for k in ("raw", "warehouse", "flags", "pairs",
                                              "flagged", "survivors")]
        in_bytes = sum(os.path.getsize(os.path.join(self.timed, f))
                       for f in ("snapshots.parquet", "documents.parquet"))
        self.layer["sources.bytes_written"] = sum(b for b, _ in written)
        self.layer["sources.files_written"] = sum(f for _, f in written)
        self.layer["sources.write_amp"] = self.layer["sources.bytes_written"] / in_bytes
        self.layer["sources.extract_rows"] = parquet_rows(out["raw"])
        flags = pq.read_table(out["flags"]).to_pandas()
        self.layer["text.survivors"] = int(flags["pass_exact"].sum())
        pairs = pq.read_table(out["pairs"]).to_pandas()
        self.layer["dedup.candidate_pairs"] = len(pairs)
        self.layer["dedup.pair_yield"] = _confirmed_pairs(
            pairs, os.path.join(self.timed, "documents.parquet")) / max(1, len(pairs))
        self.layer["bloom.flagged"] = parquet_rows(out["flagged"])

    def check(self) -> None:
        got = frame_digest(pq.read_table(self.out["flags"]).to_pandas())
        want = frame_digest(oracle_frame(all_queries()["q_fineweb_funnel"].oracle, self.timed))
        funnel_ok = got == want
        if not funnel_ok:
            print("check: funnel flags do not match the q_fineweb_funnel oracle", file=sys.stderr)
        first = next((d for d in self.digests if d is not None), None)
        for op, d in zip(self.ops, self.digests):
            if not funnel_ok or d is None or d != first:
                op.ok = False


def _confirmed_pairs(pairs: pd.DataFrame, docs_path: str) -> int:
    """Candidate pairs whose exact word-3-gram Jaccard reaches the
    threshold (the shingle rule of pipeline_queries.shingles_from)."""
    if pairs.empty:
        return 0
    docs = pq.read_table(docs_path, columns=["doc_id", "text"]).to_pandas()
    text = dict(zip(docs["doc_id"], docs["text"]))

    def sh(doc_id):
        t = text[doc_id].split(" ")
        if len(t) < 3:
            return {" ".join(t)}
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    n = 0
    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        sa, sb = sh(a), sh(b)
        if len(sa & sb) >= _MH_THRESHOLD * len(sa | sb):
            n += 1
    return n


@dataclass
class _SpannedJob(ETLJob):
    """An ETLJob whose run is one ``pipeline.job`` span."""

    tracer: object = None

    def run(self, spark, registry):
        with self.tracer.span("pipeline.job"):
            return super().run(spark, registry)


# ------------------------------------------------------------ ann_lifecycle --

_RECALL_MIN = 0.9  # a served top-10 below this recall@10 fails its op


class AnnLifecycle(Workload):
    """Build the IVF-PQ index on 80% of the corpus and write its four
    artifacts; serve ceil(seconds / 2) seeded query vectors; append the
    other 20% and compact; serve as many again. The timed window is the
    whole lifecycle, so ``ops_per_s`` (served top-10s per second of
    lifecycle) moves with build and append cost as well as with serving
    latency."""

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.results: list[tuple[int, int, list[int]]] = []  # (op, phase, ids)
        self.state = None
        self.out = self.work("index")

    def _build(self, base, out: str) -> dict:
        tr = self.tr
        n = base.count()
        with tr.span("clustering.fit"):
            with tr.span("mk"):
                assigned, cents, _cb, kc, nprobe = ivfpq_scaled_index(base, n=n)
                assigned, cents = tracked_persist(assigned), tracked_persist(cents)
            with tr.span("count"):
                assigned.count()
                cents.count()
        with tr.span("quantize.codebooks"):
            with tr.span("mk"):
                # rebuilt on the persisted fit (ivfpq_scaled_index's note), so
                # the codebooks do not re-run the fit's lineage
                cb = tracked_persist(pq_residual_codebooks(assigned, cents, n))
            with tr.span("count"):
                cb.count()
        with tr.span("quantize.codes"):
            with tr.span("mk"):
                codes = tracked_persist(ivfpq_scaled_codes((assigned, cents, cb, kc, nprobe)))
            with tr.span("count"):
                codes.count()
        with tr.span("sources.index_write"):
            with tr.span("write"):
                concurrent_writes(*[tr.in_span(w) for w in (
                    lambda: assigned.repartition("cid").sortWithinPartitions("cid")
                    .write.mode("overwrite").partitionBy("cid").parquet(out + "/assign_by_cell"),
                    lambda: cents.write.mode("overwrite").parquet(out + "/cells"),
                    lambda: cb.write.mode("overwrite").parquet(out + "/codebooks"),
                    lambda: codes.repartition("cid").sortWithinPartitions("cid")
                    .write.mode("overwrite").partitionBy("cid").parquet(out + "/codes"),
                )])
        self.drain()
        self.layer["clustering.dist_evals"] = self.layer.get("clustering.dist_evals", 0) + n * kc * 2
        spark = self.spark
        return {"out": out, "kc": kc, "nprobe": nprobe,
                "cells": spark.read.parquet(out + "/cells"),
                "cb": spark.read.parquet(out + "/codebooks")}

    def _serve(self, st: dict, qvec) -> list[int]:
        out, spark, tr = st["out"], self.spark, self.tr
        with tr.span("quantize.serve"):
            with tr.span("mk"):
                p_assign = spark.read.parquet(out + "/assign_by_cell").select("vec_id", "v", "cid")
                p_codes = spark.read.parquet(out + "/codes")
                df = ivfpq_scaled_topk(
                    p_assign, index=(p_assign, st["cells"], st["cb"], st["kc"], st["nprobe"]),
                    codes=p_codes, query_vec=[float(x) for x in qvec])
            with tr.span("collect"):
                rows = df.collect()
        return [int(r["vec_id"]) for r in rows]

    def _append(self, st: dict, growth) -> None:
        tr, out = self.tr, st["out"]
        kc, nprobe = st["kc"], st["nprobe"]
        with tr.span("clustering.assign"):
            with tr.span("mk"):
                ba = tracked_persist(kmeans_assign(growth, st["cells"]))
            with tr.span("count"):
                n_new = ba.count()
        with tr.span("quantize.codes"):
            with tr.span("mk"):
                codes_new = tracked_persist(
                    ivfpq_scaled_codes((ba, st["cells"], st["cb"], kc, nprobe)))
            with tr.span("count"):
                codes_new.count()
        with tr.span("sources.index_append"):
            with tr.span("write"):
                concurrent_writes(*[tr.in_span(w) for w in (
                    lambda: ba.select("vec_id", "v", "cid").repartition("cid")
                    .write.mode("append").partitionBy("cid").parquet(out + "/assign_by_cell"),
                    lambda: codes_new.repartition("cid")
                    .write.mode("append").partitionBy("cid").parquet(out + "/codes"),
                )])
        with tr.span("sources.compact"):
            compact_partitioned_table(self.spark, out + "/assign_by_cell", "cid")
            compact_partitioned_table(self.spark, out + "/codes", "cid")
        self.drain()
        self.layer["clustering.dist_evals"] = self.layer.get("clustering.dist_evals", 0) + n_new * kc

    def run(self, seconds: float) -> None:
        queries = np.load(os.path.join(self.timed, "queries.npy"))
        out = self.out
        base = self.spark.read.parquet(os.path.join(self.layout, "base"))
        growth = self.spark.read.parquet(os.path.join(self.layout, "growth"))
        self.window_start = time.perf_counter()
        t0 = time.perf_counter()
        with self.tr.span("ann.build"):
            st = self._build(base, out)
        self.layer["ann.build_s"] = time.perf_counter() - t0
        self.state = st
        qi = 0
        for phase in (1, 2):
            if phase == 2:
                t0 = time.perf_counter()
                with self.tr.span("ann.append"):
                    self._append(st, growth)
                self.layer["ann.append_s"] = time.perf_counter() - t0
                self.layer["sources.files_per_cell"] = _files_per_cell(out + "/codes")
            # a fixed count, one query per second of the window at the
            # ~1 s serving latency: stopping on the clock instead let the
            # op count swing by 2-3 between runs, and with it ops_per_s
            for _ in range(math.ceil(seconds / 2)):
                traced = self.tr.enabled and qi % 2 == 0
                ids: list[int] = []
                with self.tr.paused(not traced):
                    q = queries[qi % len(queries)]
                    self.timed_op("serve", lambda q=q: ids.extend(self._serve(st, q)), qi, traced)
                self.results.append((qi, phase, ids))
                qi += 1
        self.window_s = time.perf_counter() - self.window_start
        written = [dir_stats(out + "/" + k) for k in ("assign_by_cell", "cells", "codebooks", "codes")]
        self.layer["sources.bytes_written"] = sum(b for b, _ in written)
        self.layer["sources.files_written"] = sum(f for _, f in written)
        self.layer["sources.write_amp"] = self.layer["sources.bytes_written"] / os.path.getsize(
            os.path.join(self.timed, "embeddings.parquet"))

    def check(self) -> None:
        """recall@10 of every served top-10 against brute-force exact L2
        over the corpus the index held at that point."""
        emb = pq.read_table(os.path.join(self.timed, "embeddings.parquet")).to_pandas()
        ids = emb["vec_id"].to_numpy()
        vecs = np.array([np.asarray(v, dtype=np.float32).astype(np.float64)
                         for v in emb["embedding"]])
        queries = np.load(os.path.join(self.timed, "queries.npy"))
        base = ids % 10 < 8
        recalls = []
        for (qi, phase, got), op in zip(self.results, self.ops):
            if not op.ok:
                continue
            mask = base if phase == 1 else np.ones_like(base)
            d = ((vecs[mask] - queries[qi % len(queries)]) ** 2).sum(axis=1)
            truth = set(ids[mask][np.argsort(d, kind="stable")[:10]].tolist())
            r = len(truth & set(got)) / 10.0
            recalls.append(r)
            if r < _RECALL_MIN:
                op.ok = False
                print(f"check: query {qi} recall@10 {r:.2f} < {_RECALL_MIN}", file=sys.stderr)
        self.layer["quantize.recall_at_10"] = float(np.mean(recalls)) if recalls else 0.0
        self._probe_counts(queries)

    def _probe_counts(self, queries) -> None:
        """Cells probed, codes scanned and rerank rows per served query,
        recomputed from the persisted index (float L2 probe order)."""
        st = self.state
        cells = st["cells"].toPandas()
        cents = np.array([np.asarray(c, dtype=np.float64) for c in cells["c"]])
        cids = cells["cid"].to_numpy()
        sizes = pq.read_table(self.out + "/codes", columns=["cid"]).to_pandas()["cid"] \
            .astype(int).value_counts()
        scanned = []
        for qi, _phase, _ids in self.results:
            d = ((cents - queries[qi % len(queries)]) ** 2).sum(axis=1)
            probed = cids[np.argsort(d, kind="stable")[: st["nprobe"]]]
            scanned.append(sum(int(sizes.get(int(c), 0)) for c in probed))
        self.layer["quantize.cells_probed"] = st["nprobe"]
        self.layer["quantize.codes_scanned"] = float(np.mean(scanned)) if scanned else 0.0
        # ivfpq_scaled_topk's default rerank budget, max(10·k, 2·kc), k = 10
        self.layer["quantize.rerank_rows"] = max(100, 2 * st["kc"])


def _files_per_cell(path: str) -> float:
    counts = [sum(f.endswith(".parquet") for f in os.listdir(os.path.join(path, d)))
              for d in os.listdir(path) if d.startswith("cid=")]
    return float(np.mean(counts)) if counts else 0.0


WORKLOADS = {"sql_mix": SqlMix, "corpus_etl": CorpusEtl, "ann_lifecycle": AnnLifecycle}
