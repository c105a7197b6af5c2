"""Measurement plumbing: timed calls, spans with Spark counters, and
the process-tree memory sampler.

Spans are recorded around calls into the library from the benchmark
side; nothing inside the library is instrumented. With tracing off a
span only times its body. With tracing on, each leaf span runs its
body under its own Spark job group, and after the body the span reads
the jobs of that group (plus the jobs of any streaming query started
inside it) from the status store: stages, tasks, executor time, GC,
shuffle, spill and scan bytes, and the metrics of selected SQL plan
nodes.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------- memory


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it. Summed over a tree it counts every
    page once, so a JVM child that shares the JVM's memory between fork
    and exec does not double the total, as a sum of RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    out, stack = [], _children(root)
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(_children(pid))
    return out


def tree_pss(root: int) -> dict[int, float]:
    """Proportional set size in MB of ``root`` and each descendant."""
    return {p: _pss_kb(p) / 1024.0 for p in [root] + descendants(root)}


class RssSampler:
    """Samples the summed resident memory (PSS) of this process tree
    (driver, JVM, Python workers) every ``interval`` seconds and keeps
    the peak since the last :meth:`reset`."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_procs: dict[int, float] = {}  # per-process MB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            procs = tree_pss(pid)
            total = sum(procs.values())
            if total > self.peak_mb:
                self.peak_mb, self.peak_procs = total, procs
            self._stop.wait(self.interval)

    def reset(self) -> tuple[float, dict[int, float]]:
        """Return the peak so far with its per-process split, and start
        a new one."""
        out = (self.peak_mb, self.peak_procs)
        self.peak_mb, self.peak_procs = 0.0, {}
        return out

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------- spans

# SQL plan nodes whose metrics the trace keeps: node-name prefix ->
# metric names
_SQL_NODES = {
    "ArrowEvalPython": (
        "number of output rows",
        "data sent to Python workers",
        "data returned from Python workers",
    ),
    "FlatMapGroupsInPandas": ("number of output rows",),
    "Scan parquet": ("number of files read",),
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "min": 60_000, "h": 3_600_000,
}


def _metric_value(text: str) -> float:
    """Number from a SQL status-store metric string: ``"10,000"``,
    ``"928.0 B"`` or ``"total (min, med, max ...)\\n1.2 KiB (...)"``."""
    last = text.strip().split("\n")[-1]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?", last)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


@dataclass
class Span:
    name: str
    round_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


STAGE_COUNTERS = (
    "spark.jobs", "spark.tasks", "spark.executor_run_ms", "spark.executor_cpu_ms",
    "spark.jvm_gc_ms", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.scan_bytes",
)


class Tracer:
    """Span recorder. ``enabled=False`` keeps only wall times."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.round_id = -1
        self._stream_runs: list[str] = []
        self.progress: dict[str, list[dict]] = {}
        self._exec_seen = 0
        if enabled:
            self._listen_streams()

    # -- streaming listener ------------------------------------------
    def _listen_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer._stream_runs.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.setdefault(str(p.runId), []).append(
                    {"rows": p.numInputRows, "ms": dict(p.durationMs)}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Listener())

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Time ``name``; when tracing, also collect its Spark counters.
        Leaf spans own a job group; a span that opens child spans
        aggregates nothing itself (its self time is derived)."""
        sp = Span(name, self.round_id, self._stack[-1] if self._stack else None,
                  time.perf_counter())
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        sc = self.spark.sparkContext
        group = f"perfbench-{idx}"
        runs_before = len(self._stream_runs)
        if self.enabled:
            sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                sc.setJobGroup(
                    f"perfbench-{self._stack[-1]}" if self._stack else "", ""
                )
                if not any(s.parent == idx for s in self.spans[idx + 1:]):
                    groups = [group] + self._stream_runs[runs_before:]
                    sp.counters = self._collect(sp, groups)

    def _collect(self, sp: Span, groups: list[str]) -> dict:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.spark.sparkContext.statusTracker()
        store = jsc.statusStore()
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        c = dict.fromkeys(STAGE_COUNTERS, 0.0)
        c["spark.jobs"] = float(len(job_ids))
        intervals = []
        wall_ms_at = time.time() * 1000.0 - (time.perf_counter() - sp.start) * 1000.0
        for j in job_ids:
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            sids = jd.stageIds()
            for i in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(i))
                except Exception:  # stage never submitted (skipped)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["spark.tasks"] += st.numTasks()
                c["spark.executor_run_ms"] += st.executorRunTime()
                c["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
                c["spark.jvm_gc_ms"] += st.jvmGcTime()
                c["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spark.spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
                c["spark.scan_bytes"] += st.inputBytes()
        busy = 0.0
        lo_clip, hi_clip = wall_ms_at, wall_ms_at + sp.wall * 1000.0
        last = lo_clip
        for lo, hi in sorted(intervals):
            lo, hi = max(lo, last), min(hi, hi_clip)
            if hi > lo:
                busy += hi - lo
                last = hi
        c["driver.construct_s"] = max(0.0, sp.wall - busy / 1000.0)
        c.update(self._sql_metrics(set(job_ids)))
        runs = groups[1:]
        c["streaming.batches"] = 0.0
        for key in ("addBatch", "commit", "plan"):
            c[f"streaming.{key}_ms"] = 0.0
        for run in runs:
            for p in self.progress.get(run, []):
                if p["rows"] > 0:
                    c["streaming.batches"] += 1
                ms = p["ms"]
                c["streaming.addBatch_ms"] += ms.get("addBatch", 0)
                c["streaming.commit_ms"] += ms.get("walCommit", 0) + ms.get(
                    "commitOffsets", 0
                )
                c["streaming.plan_ms"] += (
                    ms.get("latestOffset", 0)
                    + ms.get("getBatch", 0)
                    + ms.get("queryPlanning", 0)
                )
        return c

    def _sql_metrics(self, job_ids: set[int]) -> dict:
        """Selected SQL node metrics of the executions that ran any of
        ``job_ids``, keyed ``sql.<node>.<metric>``."""
        sq = self.spark._jsparkSession.sharedState().statusStore()
        n = sq.executionsCount()
        out: dict[str, float] = {}
        if n <= self._exec_seen:
            return out
        execs = sq.executionsList(self._exec_seen, n - self._exec_seen)
        self._exec_seen = n
        for k in range(execs.size()):
            e = execs.apply(k)
            ej = e.jobs().keySet()
            if not any(ej.contains(j) for j in job_ids):
                continue
            eid = e.executionId()
            values = sq.executionMetrics(eid)
            nodes = sq.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                nd = nodes.apply(i)
                name = nd.name()
                wanted = next(
                    (v for p, v in _SQL_NODES.items() if name.startswith(p)), None
                )
                if wanted is None:
                    continue
                ms = nd.metrics()
                for m in range(ms.size()):
                    pm = ms.apply(m)
                    if pm.name() not in wanted:
                        continue
                    val = values.get(pm.accumulatorId())
                    if val.isDefined():
                        key = f"sql.{name.split(' ')[0]}.{pm.name()}"
                        out[key] = out.get(key, 0.0) + _metric_value(val.get())
        return out

    # -- derived ------------------------------------------------------
    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        kids = [s for s in self.spans if s.parent == idx]
        return sp.wall - sum(k.wall for k in kids)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = []
        for i, s in enumerate(self.spans):
            rows.append(
                {
                    "id": i,
                    "name": s.name,
                    "round": s.round_id,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    "self_s": self.self_time(i),
                    "counters": s.counters,
                }
            )
        with open(path, "w") as f:
            json.dump({"spans": rows}, f, indent=1)
