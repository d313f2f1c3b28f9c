#!/usr/bin/env python3
"""Fast self-check of the benchmark at sf0.001-sized inputs.

    python3 perfbench/selfcheck.py

Runs every workload once untraced and once traced, in one process, with a
one-second window, and checks that:

- each run's outputs are correct and the result object has the contract's
  keys;
- the untraced run emits every end-to-end metric, the traced run every
  per-layer metric, each with its unit;
- the traced spans nest (every child inside its parent, on the same op),
  every traced op has a root span whose duration is the op's latency, and
  the self times in an op's span tree add up to the op's wall.

Exits non-zero on the first failed check. Takes a few minutes.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run as bench  # noqa: E402

WORKLOADS = ["sql_mix", "corpus_etl", "ann_lifecycle"]


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selfcheck FAILED: {msg}")


def check_result(w: str, trace: int, result: dict) -> None:
    _check(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{w}: result keys")
    _check(result["correct"] and result["failed"] == 0, f"{w} trace={trace}: outputs not correct")
    _check(result["attempted"] >= 1, f"{w}: no op attempted")
    want = bench.PER_LAYER if trace else bench.END_TO_END
    got = result["metrics"]
    _check(set(got) == set(want), f"{w} trace={trace}: metrics {sorted(set(want) ^ set(got))}")
    for name, unit in want.items():
        m = got[name]
        _check(m["unit"] == unit and isinstance(m["value"], (int, float)),
               f"{w}: metric {name} = {m}")


def check_spans(w: str, record: dict) -> None:
    tr = record["trace"]
    _check(not tr["nesting_errors"], f"{w}: {tr['nesting_errors'][:3]}")
    spans = tr["spans"]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def subtree_self(s: dict) -> float:
        return s["self_s"] + sum(subtree_self(c) for c in kids.get(s["id"], []))

    roots = {s["op"]: s for s in spans if s["parent"] is None and s["op"] is not None}
    traced = [(i, op) for i, op in enumerate(record["ops"]) if op["traced"]]
    _check(bool(traced), f"{w}: no traced op")
    for i, op in traced:
        root = roots.get(i)
        _check(root is not None, f"{w}: traced op {i} has no root span")
        wall = root["end"] - root["start"]
        _check(abs(wall - op["latency_s"]) < 0.05, f"{w}: op {i} span {wall} vs {op['latency_s']}")
        _check(abs(subtree_self(root) - wall) < 1e-6, f"{w}: op {i} self times do not cover it")
        _check(bool(kids.get(root["id"])), f"{w}: op {i} has no layer span")
    _check(tr["top_span_by_executor_ms"]["run_ms"] > 0, f"{w}: no executor time traced")


def main() -> int:
    t0 = time.perf_counter()
    for w in WORKLOADS:
        for trace in (0, 1):
            args = bench._args(["--workload", w, "--seed", "1", "--seconds", "1",
                                "--trace", str(trace), "--scale", "tiny"])
            result, record = bench.run(args, t_start=time.perf_counter())
            check_result(w, trace, result)
            if trace:
                check_spans(w, record)
            print(f"selfcheck: {w} trace={trace} ok ({result['attempted']} ops)", file=sys.stderr)
    print(f"selfcheck: all passed in {time.perf_counter() - t0:.0f} s", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
