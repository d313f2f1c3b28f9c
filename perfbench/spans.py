"""Spans around the benchmark's calls into the engine, Spark stage metrics
per span, and the process-level evidence every run records.

A span records name, start, end, parent and op id. Spans live in memory
and are written once, when the run ends. With tracing off, ``span`` is a
no-op context manager: the untraced runs make no extra Spark calls.

Each traced span sets its own Spark job group, so after the run the jobs of
a span (and their stages) are read back from the status store in one pass:
``jobsList`` carries each job's group and stage ids, ``stageList`` each
stage's run time, CPU time, GC time, shuffle and spill.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """One call boundary. ``op`` marks a root span: the op's id."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is not None:
            self._op = op
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "op": op if op is not None else (self._op if parent is not None else None),
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"], name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                if op is not None:
                    self._op = None
            else:
                self._set_group(parent, self.spans[parent]["name"])

    @contextmanager
    def paused(self, pause: bool = True):
        """Record nothing inside: warm-up, and the untraced ops a traced
        run interleaves to measure the tracing overhead."""
        was = self.enabled
        self.enabled = was and not pause
        try:
            yield
        finally:
            self.enabled = was

    def _set_group(self, sid: int, name: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{_GROUP_PREFIX}{sid}", name)

    def in_span(self, fn):
        """Wrap a thunk that another thread runs (``concurrent_writes``) so
        its jobs land in the span that is current here. Job groups are
        thread-local."""
        if not self.enabled or not self._stack:
            return fn
        sid = self._stack[-1]
        name = self.spans[sid]["name"]

        def run():
            self._set_group(sid, name)
            return fn()

        return run

    # ------------------------------------------------------------ analysis --

    def stage_metrics(self) -> dict[int, dict]:
        """span id -> summed metrics of the completed stages its own jobs
        ran (children's jobs are not included)."""
        if not self.enabled:
            return {}
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        stage_span: dict[int, int] = {}
        jobs_of: dict[int, int] = {}
        jl = store.jobsList(None)
        for i in range(jl.size()):
            job = jl.apply(i)
            grp = job.jobGroup()
            if not grp.isDefined() or not str(grp.get()).startswith(_GROUP_PREFIX):
                continue
            sid = int(str(grp.get())[len(_GROUP_PREFIX):])
            jobs_of[sid] = jobs_of.get(sid, 0) + 1
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_span[int(ids.apply(k))] = sid
        out: dict[int, dict] = {
            sid: {"jobs": n, "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
                  "gc_ms": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                  "spill_bytes": 0}
            for sid, n in jobs_of.items()
        }
        sl = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for i in range(sl.size()):
            st = sl.apply(i)
            sid = stage_span.get(int(st.stageId()))
            if sid is None or str(st.status()) != "COMPLETE":
                continue
            m = out[sid]
            m["stages"] += 1
            m["tasks"] += int(st.numCompleteTasks())
            m["run_ms"] += float(st.executorRunTime())
            m["cpu_ms"] += float(st.executorCpuTime()) / 1e6
            m["gc_ms"] += float(st.jvmGcTime())
            m["shuffle_read_bytes"] += int(st.shuffleReadBytes())
            m["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            m["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        return out

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its children cover (s)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def check_nesting(self) -> list[str]:
        """Problems with the span tree: a child outside its parent's
        interval, a span outside any op, an unfinished span."""
        errs = []
        for s in self.spans:
            if s["end"] is None:
                errs.append(f"span {s['id']} {s['name']} never ended")
                continue
            p = s["parent"]
            if p is not None:
                ps = self.spans[p]
                if s["start"] < ps["start"] or s["end"] > ps["end"]:
                    errs.append(f"span {s['id']} {s['name']} outside parent {p}")
                if s["op"] != ps["op"]:
                    errs.append(f"span {s['id']} {s['name']} op differs from parent")
        return errs


# ------------------------------------------------------- process evidence --
# The /proc readers below follow bench.py's, copied rather than imported so
# that the benchmark stays fixed when bench.py changes.


def machine_cpu_jiffies() -> tuple[int, int, int]:
    """(busy, total, steal) jiffies across all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    idle = fields[3] + (fields[4] if len(fields) > 4 else 0)
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields) - idle, sum(fields), steal


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU jiffies) for every live process. The CPU time
    includes the reaped children's (cutime, cstime), so Python workers that
    ended inside a window still count."""
    info: dict[int, tuple[int, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
            info[int(pid)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
        except (OSError, IndexError, ValueError):
            continue
    return info


def tree_pids(info: dict[int, tuple[int, int]] | None = None) -> list[int]:
    """This process and every live descendant (the Spark JVM and its
    Python workers)."""
    info = info if info is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack, seen = [], [os.getpid()], set()
    while stack:
        pid = stack.pop()
        if pid in seen or pid not in info:
            continue
        seen.add(pid)
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_cpu_jiffies() -> int:
    info = _proc_table()
    return sum(info[p][1] for p in tree_pids(info))


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak resident set
    (VmHWM), in MB."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue
    return total_kb / 1024.0


def load_snapshot() -> dict:
    la1, la5, la15 = os.getloadavg()
    return {"loadavg_1m": la1, "loadavg_5m": la5, "loadavg_15m": la15}


def cpu_probe_ms() -> float:
    """Wall time of a fixed single-threaded Python loop: the machine's
    speed at that moment, recorded so a slow run can be told from a slow
    machine."""
    t0 = time.perf_counter()
    sum(i * i for i in range(300_000))
    return 1000 * (time.perf_counter() - t0)


class LoadWindow:
    """Steal and external-CPU share of the machine over a window: the CPU
    burnt by processes outside this process tree, and the cycles the
    hypervisor withheld, each as a share of the machine's capacity."""

    def __init__(self) -> None:
        self.probe0 = cpu_probe_ms()
        self.mach0 = machine_cpu_jiffies()
        self.tree0 = tree_cpu_jiffies()
        self.t0 = time.perf_counter()

    def close(self) -> dict:
        wall = time.perf_counter() - self.t0
        mach1 = machine_cpu_jiffies()
        tree1 = tree_cpu_jiffies()
        capacity = max(1.0, (os.cpu_count() or 1) * os.sysconf("SC_CLK_TCK") * wall)
        d_steal = max(0, mach1[2] - self.mach0[2])
        external = max(0, (mach1[0] - self.mach0[0]) - d_steal - (tree1 - self.tree0))
        return {"external_cpu_frac": external / capacity,
                "steal_cpu_frac": d_steal / capacity, "wall_s": wall,
                "tree_cpu_s": (tree1 - self.tree0) / os.sysconf("SC_CLK_TCK"),
                "cpu_probe_ms": [self.probe0, cpu_probe_ms()]}
