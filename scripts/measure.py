#!/usr/bin/env python
"""Time catalog queries one at a time, each with its Spark jobs read back.

Usage: python scripts/measure.py [--sf DIR] [--reps N] [--tag T] [--duckdb] [q ...]

Ids come from the arguments, else every id tagged T, else the whole
catalog. Each of the N passes runs every id cold: the pipeline cache is
drained (blocking), then the id runs inside one perfbench tracer span with
an ``mk`` child (plan construction) and an ``action`` child (the bench's
noop-sink ``materialize``). One JSON line per (id, rep) goes to stdout with
the fields of a bench line's record in artifacts/bench_detail.json: mk_s,
cold_s (the action), jobs, stages, tasks, run_ms, cpu_ms, gc_ms,
shuffle_read_bytes, shuffle_write_bytes, spill_bytes. An id that raises
prints its error instead and the sweep goes on.

``--duckdb`` adds duckdb_s: the id's oracle SQL over the same parquet
files, one warmup then one timed fetch (null for rows-only ids). For a
formatted plan use ``python -m etl_housing_spark run <q> --explain``; for
parity, ``pytest tests/test_oracle_parity.py -k <q>``.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from bench import materialize, stage_record, traced  # noqa: E402
from etl_housing_spark.operators._ckpt import clear_pipeline_cache  # noqa: E402
from etl_housing_spark.plans import all_queries  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402


def measure(spark, tracer, spec, sf_dir: str) -> dict:
    """One cold run of ``spec``: drain, then mk and action spans under one
    span named after the id; returns its stage record."""
    clear_pipeline_cache(blocking=True)
    with tracer.span(spec.name):
        mk_s, df, mk_sid = traced(tracer, f"{spec.name}/mk",
                                  lambda: spec.fn(spark, sf_dir))
        act_s, _, act_sid = traced(tracer, f"{spec.name}/action",
                                   lambda: materialize(df))
    return stage_record(tracer, [mk_sid, act_sid], mk_s, act_s)


def duckdb_seconds(spec, sf_dir: str) -> float | None:
    if spec.oracle is None:
        return None
    from tests.parity import oracle_df

    oracle_df(spec.oracle, sf_dir)  # warmup: parse, parquet metadata
    t0 = time.perf_counter()
    oracle_df(spec.oracle, sf_dir)
    return round(time.perf_counter() - t0, 4)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--sf", default="/root/testdata/sf0.1", help="parquet input dir")
    p.add_argument("--reps", type=int, default=1)
    p.add_argument("--tag", default=None)
    p.add_argument("--duckdb", action="store_true")
    p.add_argument("queries", nargs="*")
    args = p.parse_args(argv)

    specs = all_queries()
    ids = args.queries or sorted(
        n for n, s in specs.items() if args.tag is None or args.tag in s.tags)
    unknown = [q for q in ids if q not in specs]
    if unknown:
        p.error(f"unknown ids: {unknown}")

    from etl_housing_spark.session import get_session

    spark = get_session(app_name="ehs-measure")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, True)
    failed = 0
    for rep in range(args.reps):
        for name in ids:
            line = {"query": name, "rep": rep}
            try:
                line.update(measure(spark, tracer, specs[name], args.sf))
                if args.duckdb:
                    line["duckdb_s"] = duckdb_seconds(specs[name], args.sf)
            except Exception as e:  # noqa: BLE001 — a sweep reports and goes on
                failed += 1
                line["error"] = repr(e)[:300]
            print(json.dumps(line), flush=True)
    clear_pipeline_cache(blocking=True)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
