"""Per-layer tracing for the benchmark, measured from outside the engine.

Spans are recorded around calls into the engine's functions
(``session.get_spark``, the fixture layout pass, a query's builder,
``tables.load``, ``streaming.windows.run_to_table``,
``ranks.release_scratch``) and around Spark itself (forcing the executed
plan, the ``noop`` write). Spark's own counters come from the in-process
status store through the job group each phase runs under; Python-worker CPU
comes from ``/proc``. Nothing here changes what the engine computes.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import time

_CLK = os.sysconf("SC_CLK_TCK")
_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange) ")
_PLAN_NODE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\) )?(\w+)", re.M)
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


class Tracer:
    """Spans kept in memory as dicts; ``span`` is a context manager that
    nests through a stack, so each span records the span that caused it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.query: str | None = None
        self._t0 = time.perf_counter()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str, query: str) -> tuple[int, float]:
        """(count, seconds) of the spans ``name`` recorded for ``query``."""
        hits = [s for s in self.spans if s["query"] == query and s["name"] == name]
        return len(hits), sum(s["end"] - s["start"] for s in hits)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t = tracer
        self.rec = {"name": name, **attrs}

    def __enter__(self):
        t = self.t
        self.rec.update(
            id=len(t.spans),
            parent=t._stack[-1] if t._stack else None,
            query=t.query,
            start=time.perf_counter() - t._t0,
        )
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.perf_counter() - self.t._t0
        self.t._stack.pop()


def patch_engine(tracer: Tracer) -> None:
    """Route every module-level reference to ``tables.load`` and
    ``streaming.windows.run_to_table`` through spans. Operator modules bind
    these with ``from ... import load``, so each importing namespace is
    patched, not only the defining module."""
    from toy_map_reduce_spark import tables
    from toy_map_reduce_spark.streaming import windows

    for original, name in ((tables.load, "tables.load"),
                           (windows.run_to_table, "streaming.run_to_table")):
        traced = tracer.wrap(name, original)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("toy_map_reduce_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, traced)


def plan_counts(df) -> tuple[int, int]:
    """(exchanges, Python-evaluation operators) in ``df``'s executed plan."""
    text = df._jdf.queryExecution().executedPlan().toString()
    nodes = _PLAN_NODE.findall(text)
    return len(_EXCHANGE.findall(text)), sum(1 for n in nodes if _PYTHON_NODE.search(n))


def group_stages(spark, group: str, wait_s: float = 5.0) -> dict:
    """Totals over the stages of every job run under ``group``, once the
    status store has recorded the jobs' ends."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    deadline = time.perf_counter() + wait_s
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if all(j is not None and j.status != "RUNNING" for j in jobs) or time.perf_counter() > deadline:
            break
        time.sleep(0.01)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_run_s": 0.0,
           "task_cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
           "intervals": []}
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for sid in sorted({s for j in jobs if j is not None for s in j.stageIds}):
        try:
            sd = store.stageAttempt(sid, 0, False, jvm.java.util.ArrayList(), False, no_quantiles)._1()
        except Exception:  # noqa: BLE001 — skipped stages have no attempt
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["task_run_s"] += sd.executorRunTime() / 1e3
        out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        sub, done = sd.submissionTime(), sd.completionTime()
        if sub.isDefined() and done.isDefined():
            out["intervals"].append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
    return out


def uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] not covered by any of ``intervals``."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (end - start) - covered)


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _proc_table() -> dict[int, list[str]]:
    table = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        table[int(pid)] = raw[raw.rindex(")") + 2:].split()
    return table


def _descendants(root: int, table: dict[int, list[str]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, f in table.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's child processes (the Python
    worker daemons and their workers): live descendants' own and reaped
    time, plus the time of children the JVM itself has reaped, since
    daemons are restarted during a run."""
    table = _proc_table()
    # fields after "pid (comm) ": state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    ticks = sum(int(table[p][13]) + int(table[p][14]) for p in [jvm_pid] if p in table)
    for p in _descendants(jvm_pid, table):
        f = table[p]
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot: steal is time the hypervisor
    ran other guests on this machine's CPUs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """The JVM's peak resident set plus the peaks of its live worker
    processes."""
    kb = _status_kb(jvm_pid, "VmHWM:")
    kb += sum(_status_kb(p, "VmHWM:") for p in _descendants(jvm_pid, _proc_table()))
    return kb / 1024


def tree_stamp(root: str, skip: str | None = None) -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of every file under ``root``, outside the directory
    ``skip``, ``.git`` and ``.bench_build`` (a build directory the caller
    may own)."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d not in (".git", ".bench_build")
                   and os.path.join(dirpath, d) != skip]
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, float]:
    """Files created or rewritten between two ``tree_stamp`` snapshots, and
    their MiB."""
    changed = [k for k, v in after.items() if before.get(k) != v]
    return len(changed), sum(after[k][0] for k in changed) / 2**20
