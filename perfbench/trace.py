"""Tracing for the traced run: layer spans, Spark counters, streaming progress.

Spans are recorded from the benchmark's own files: ``Tracer.wrap`` replaces
a function or method of an engine module with a timing wrapper for the
rest of the process (the engine's code is unchanged). Every span carries the
id of the op that caused it and its parent span; spans stay in memory and
are written out at exit.

``SparkCounters`` reads Spark's status store right after each op for the
jobs that op submitted (job ids are sequential, and the one client runs
one op at a time); the store keeps only ``spark.ui.retainedJobs`` jobs, so
waiting any longer would lose them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record the enclosed block as span ``name`` while active."""
        if not self.active:
            yield
            return
        sid = len(self.spans)
        rec = {"op": self.op_id, "id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["t0"] = time.perf_counter()
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as span ``name`` while active."""
        raw = owner.__dict__.get(attr) if isinstance(owner, type) else None
        is_cm = isinstance(raw, classmethod)
        orig = raw.__func__ if is_cm else getattr(owner, attr)
        span = self.span

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            with span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, classmethod(timed) if is_cm else timed)

    def per_op_ms(self, name: str, ops: set[int]) -> list[float]:
        """Total ms of span ``name`` inside each op of ``ops`` (0 when the
        op made no such call)."""
        tot: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and s["op"] in ops:
                tot[s["op"]] += (s["t1"] - s["t0"]) * 1000.0
        return [tot.get(o, 0.0) for o in sorted(ops)]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _ms(opt_date) -> float | None:
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


class SparkCounters:
    """Job, stage and task counters of the Spark jobs one op submitted."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._mark = self.next_job()

    def next_job(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def start(self) -> None:
        self._mark = self.next_job()

    def read(self, wall_ms: float) -> dict[str, float]:
        """Counters of jobs ``[start mark, now)``; call right after the op."""
        self._sc.listenerBus().waitUntilEmpty(10_000)
        end = self.next_job()
        c: dict[str, float] = defaultdict(float)
        spans: list[tuple[float, float]] = []
        seen: set[int] = set()
        for jid in range(self._mark, end):
            try:
                job = self._store.job(jid)
            except Exception:  # evicted or never registered
                continue
            c["jobs"] += 1
            t0, t1 = _ms(job.submissionTime()), _ms(job.completionTime())
            if t0 is not None and t1 is not None:
                spans.append((t0, t1))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = int(sids.apply(i))
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = self._store.stageData(sid, False, None, False, None)
                except Exception:  # skipped stage: never ran
                    continue
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if str(st.status()) == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    c["executor_run_ms"] += st.executorRunTime()
                    c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    c["gc_ms"] += st.jvmGcTime()
                    c["input_bytes"] += st.inputBytes()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["result_bytes"] += st.resultSize()
                    sub, first = _ms(st.submissionTime()), _ms(st.firstTaskLaunchedTime())
                    if sub is not None and first is not None:
                        c["scheduler_delay_ms"] += max(first - sub, 0.0)
        c["job_ms"] = _union_ms(spans)
        c["driver_ms"] = max(wall_ms - c["job_ms"], 0.0)
        self._mark = end
        return dict(c)


def _union_ms(spans: list[tuple[float, float]]) -> float:
    """Length of the union of [t0, t1] intervals (jobs may overlap)."""
    total, cur0, cur1 = 0.0, None, None
    for t0, t1 in sorted(spans):
        if cur1 is None or t0 > cur1:
            if cur1 is not None:
                total += cur1 - cur0
            cur0, cur1 = t0, t1
        else:
            cur1 = max(cur1, t1)
    if cur1 is not None:
        total += cur1 - cur0
    return total


STREAM_PHASES = ("addBatch", "queryPlanning", "getBatch", "latestOffset",
                 "walCommit", "commitOffsets", "triggerExecution")


def stream_listener(sink: list):
    """A ``StreamingQueryListener`` appending one dict per progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Collector(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = dict(p.durationMs or {})
            states = p.stateOperators or []
            sink.append({
                "t": time.perf_counter(),
                "input_rows": int(p.numInputRows or 0),
                **{k: float(d.get(k, 0)) for k in STREAM_PHASES},
                "state_rows_total": sum(int(s.numRowsTotal) for s in states),
                "state_memory_bytes": sum(int(s.memoryUsedBytes) for s in states),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Collector()


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (``VmHWM``) of a process, in kB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> tuple[float, float]:
    """VmHWM of this Python driver and of its JVM child, in MB."""
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    return vm_hwm_kb(os.getpid()) / 1024.0, vm_hwm_kb(jvm_pid) / 1024.0
