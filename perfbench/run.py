#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {corpus_etl,ann_lifecycle,sql_mix}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs and their multi-file layout are
generated from the seed (and cached per seed) before the session starts.
The run then starts a ``local[4]`` session, warms up (sql_mix only), runs
the timed window, checks the outputs, stops every process it started, and
prints ONE JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see perfbench/README.md). Diagnostics, load evidence and the top
span by executor time go to stderr; the full run record (and, traced, every
span) is written to ``.perfbench/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "cpu_ms_per_op": "ms", "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.start_ms": "ms",
    "plans.mk_ms": "ms", "plans.action_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.run_ms": "ms", "spark.cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.idle_frac": "ratio", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "sources.extract_ms": "ms", "sources.extract_rows": "count",
    "functions.clean_ms": "ms",
    "sources.write_ms": "ms", "sources.bytes_written": "bytes",
    "sources.files_written": "count", "sources.write_amp": "ratio",
    "sources.compact_ms": "ms", "sources.files_per_cell": "count",
    "text.funnel_ms": "ms", "text.survivors": "count",
    "dedup.minhash_ms": "ms", "dedup.candidate_pairs": "count", "dedup.pair_yield": "ratio",
    "bloom.build_ms": "ms", "bloom.probe_ms": "ms", "bloom.flagged": "count",
    "clustering.fit_ms": "ms", "clustering.assign_ms": "ms", "clustering.dist_evals": "count",
    "quantize.codebooks_ms": "ms", "quantize.codes_ms": "ms",
    "quantize.serve_mk_ms": "ms", "quantize.serve_action_ms": "ms",
    "quantize.cells_probed": "count", "quantize.codes_scanned": "count",
    "quantize.rerank_rows": "count", "quantize.recall_at_10": "ratio",
    "ann.build_s": "s", "ann.append_s": "s",
    "ckpt.drained": "count", "ckpt.resident_mb_after_drain": "MB",
    "pipeline.job_ms": "ms",
    "trace.overhead_ms": "ms", "trace.self_frac": "ratio",
}


@dataclass
class Ctx:
    spark: object
    tracer: object
    inputs: str
    meta: dict
    work: str


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["sql_mix", "corpus_etl", "ann_lifecycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny = sf0.001-sized inputs, for the self-check")
    return ap.parse_args(argv)


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except (OSError, IndexError):
        return True


def _wait_ended(pids: list[int], timeout: float) -> list[int]:
    """Poll until every pid has ended; returns the ones still running."""
    t_end = time.monotonic() + timeout
    while True:
        left = [p for p in pids if not _ended(p)]
        if not left or time.monotonic() >= t_end:
            return left
        time.sleep(0.05)


def stop_processes(spark) -> None:
    """Stop the session, the Spark JVM and every process under this one,
    and wait until each has ended. ``spark.stop()`` alone leaves the JVM
    running; it would exit only once this process's exit closed its stdin,
    after this process is gone."""
    import subprocess

    from pyspark import SparkContext

    import spans as tr

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    others = [p for p in tr.tree_pids() if p != os.getpid()]
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # the Python workers, reparented once the JVM is gone
    for sig, timeout in ((signal.SIGTERM, 30.0), (signal.SIGKILL, 30.0)):
        others = _wait_ended(others, timeout)
        for p in others:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
    left = _wait_ended(others, 30.0)
    if left:
        raise RuntimeError(f"processes {left} did not end")


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos) / 2**20


def per_layer(wl, tracer, session_s: float) -> tuple[dict, dict]:
    """Per-layer metrics from the traced run's spans, stage metrics and the
    workload's own counters. Returns (metrics, trace summary)."""
    spans = tracer.spans
    self_t = tracer.self_times()
    stages = tracer.stage_metrics()
    by_id = {s["id"]: s for s in spans}
    dur = {s["id"]: s["end"] - s["start"] for s in spans}

    def pname(s):
        return by_id[s["parent"]]["name"] if s["parent"] is not None else ""

    def sel(name, parent=None):
        return [dur[s["id"]] for s in spans
                if s["name"] == name and (parent is None or pname(s) == parent)]

    def mean_ms(name, parent=None):
        v = sel(name, parent)
        return 1000 * sum(v) / len(v) if v else 0.0

    def total_ms(name):
        return 1000 * sum(sel(name))

    jobs = [s for s in spans if s["name"] == "pipeline.job"]
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def job_ms(child):
        v = [dur[j["id"]] for j in jobs if any(k["name"] == child for k in kids.get(j["id"], []))]
        return 1000 * sum(v) / len(v) if v else 0.0

    m = {k: 0.0 for k in PER_LAYER}
    m.update({
        "session.start_ms": 1000 * session_s,
        # the registered query calls: sql_mix's eight, else corpus_etl's
        # q_fineweb_funnel
        "plans.mk_ms": mean_ms("mk", "plans.query") or mean_ms("mk", "text.funnel"),
        "plans.action_ms": mean_ms("noop", "plans.query") or mean_ms("write", "text.funnel"),
        "sources.extract_ms": job_ms("sources.extract"),
        "functions.clean_ms": job_ms("functions.clean"),
        "pipeline.job_ms": mean_ms("pipeline.job"),
        "sources.write_ms": mean_ms("write"),
        "sources.compact_ms": total_ms("sources.compact"),
        "text.funnel_ms": mean_ms("text.funnel"),
        "dedup.minhash_ms": mean_ms("dedup.minhash"),
        "bloom.build_ms": mean_ms("bloom.build"),
        "bloom.probe_ms": mean_ms("bloom.probe"),
        "clustering.fit_ms": total_ms("clustering.fit"),
        "clustering.assign_ms": total_ms("clustering.assign"),
        "quantize.codebooks_ms": total_ms("quantize.codebooks"),
        "quantize.codes_ms": total_ms("quantize.codes"),
        "quantize.serve_mk_ms": mean_ms("mk", "quantize.serve"),
        "quantize.serve_action_ms": mean_ms("collect", "quantize.serve"),
    })
    for k, v in wl.layer.items():
        if k in m:
            m[k] = float(v)

    # Spark scheduling, per traced op: the stages of every span in the op
    roots = [s for s in spans if s["parent"] is None and s["op"] is not None]
    agg = {k: 0.0 for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
                            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
    op_ids = {s["op"] for s in roots}
    for s in spans:
        if s["op"] in op_ids and s["id"] in stages:
            for k in agg:
                agg[k] += stages[s["id"]][k]
    n_ops = max(1, len(roots))
    wall_ms = 1000 * sum(dur[s["id"]] for s in roots)
    for k, v in agg.items():
        m[f"spark.{k}"] = v / n_ops
    m["spark.idle_frac"] = 1.0 - agg["run_ms"] / (wall_ms * CORES) if wall_ms else 0.0

    traced = [op.latency for op in wl.ops if op.traced and op.ok]
    plain = [op.latency for op in wl.ops if not op.traced and op.ok]
    if traced and plain:
        m["trace.overhead_ms"] = 1000 * (statistics.median(traced) - statistics.median(plain))
    if wall_ms:
        m["trace.self_frac"] = 1000 * sum(self_t[s["id"]] for s in roots) / wall_ms

    # the top span by executor time, named by its path
    by_path: dict[str, float] = {}
    for s in spans:
        if s["id"] in stages:
            path = f"{pname(s)}/{s['name']}" if s["parent"] is not None else s["name"]
            by_path[path] = by_path.get(path, 0.0) + stages[s["id"]]["run_ms"]
    top = max(by_path.items(), key=lambda kv: kv[1]) if by_path else ("", 0.0)
    summary = {
        "top_span_by_executor_ms": {"span": top[0], "run_ms": top[1]},
        "executor_ms_by_span": dict(sorted(by_path.items(), key=lambda kv: -kv[1])),
        "nesting_errors": tracer.check_nesting(),
        "spans": [dict(s, self_s=self_t[s["id"]], stages=stages.get(s["id"])) for s in spans],
    }
    return m, summary


def run(args, t_start: float = T_START) -> tuple[dict, dict]:
    """One benchmark run from ``t_start`` (process start by default);
    returns (result object, run record) and writes the record. Raises if
    the engine cannot be imported or set up."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from etl_housing_spark.session import get_session  # the engine must be here

    import inputs as inp
    import spans as tr
    import workloads as W

    import_s = time.perf_counter() - t_start
    in_dir, meta = inp.ensure_inputs(args.workload, args.seed, args.scale)

    load_boot = tr.load_snapshot()
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every byte Spark or Python writes stays under the per-run scratch root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    spark = None
    try:
        t = time.perf_counter()
        spark = get_session(
            app_name=f"perfbench-{args.workload}", cpus=CORES,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.driver.memory": "2g",
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # a fixed heap size keeps the JVM's resident set from
                # following G1's heap resizing, the noisiest part of
                # peak_rss_mb
                "spark.driver.extraJavaOptions":
                    f"-Xms2g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t

        tracer = tr.Tracer(spark, args.trace == 1)
        wl = W.WORKLOADS[args.workload](Ctx(spark, tracer, in_dir, meta, work))
        t = time.perf_counter()
        with tracer.paused():
            wl.setup()
        layout_s = time.perf_counter() - t
        setup_s = import_s + session_s + layout_s

        load_start = tr.load_snapshot()
        window = tr.LoadWindow()
        wl.run(args.seconds)
        load = window.close()
        wl.check()
        wl.drain()
        resident = _storage_mb(spark)
        peak_rss = tr.tree_peak_rss_mb()

        ops = wl.ops
        failed = sum(not op.ok for op in ops)
        lat = [op.latency for op in ops if op.ok]
        window_s = getattr(wl, "window_s", None) or sum(op.latency for op in ops)
        e2e = {
            "setup_s": setup_s,
            "ops_per_s": len(lat) / window_s,
            # CPU time of the process tree over the window: what an op costs
            # the machine, which time the hypervisor withholds does not move
            "cpu_ms_per_op": 1000 * load["tree_cpu_s"] / max(1, len(lat)),
            "peak_rss_mb": peak_rss,
            # recorded, not reported: on a shared host it follows
            # hypervisor steal too closely to bound (see README)
            "latency_ms": 1000 * statistics.geometric_mean(lat) if lat else 0.0,
        }
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "inputs": meta,
            "end_to_end": e2e, "setup": {"import_s": import_s, "session_s": session_s,
                                         "layout_and_warmup_s": layout_s},
            "ops": [{"kind": o.kind, "latency_s": o.latency, "ok": o.ok, "traced": o.traced}
                    for o in ops],
            "window_s": window_s,
            "load": {"boot": load_boot, "start": load_start, **load},
        }
        if args.trace:
            wl.layer["ckpt.resident_mb_after_drain"] = resident
            layer, summary = per_layer(wl, tracer, session_s)
            record["per_layer"], record["trace"] = layer, summary
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
            top = summary["top_span_by_executor_ms"]
            print(f"top span by executor time: {top['span']} ({top['run_ms']:.0f} ms)",
                  file=sys.stderr)
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print("load: " + json.dumps(record["load"]), file=sys.stderr)
    finally:
        try:
            stop_processes(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}"
                                    f"-{args.scale}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    result = {"correct": failed == 0 and bool(ops), "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    return result, record


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run unwinds like a failed one, so it still stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if "EHS_FAST_SUMS" in os.environ:
        print("EHS_FAST_SUMS is set: the benchmark measures exact (decimal) mode "
              "only; unset it.", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "etl_housing_spark")):
        print(f"no engine package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    result, _record = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
