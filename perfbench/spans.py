"""Traced-run instrumentation, all from the benchmark's side of the engine's
public entry points: spans around each layer call, Spark scheduler counts
per query, a streaming progress listener and /proc CPU and RSS readings.

Spans are kept in memory and written out when the run ends. Spark jobs are
attributed to a query through a job *tag* added around the query: tags are
additive, so the count stays right if the engine sets its own job group
(streaming micro-batches already do).
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

from measure import Span

_CLK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Records nested spans; ``enabled`` switches recording off for an
    untraced run and between traced and untraced passes of a traced one."""

    def __init__(self, enabled: bool = True) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_id = 0
        self.query: int | None = None
        self.enabled = enabled

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, start, time.perf_counter(), sid, parent, self.query))

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a function that records a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def install(self) -> None:
        """Wrap the fixture loaders and the MySQL rewriter. Operator modules
        import ``fixtures.table`` by name, so this runs before the registry
        is loaded."""
        import sdp_spark.sources.fixtures as fixtures

        self.wrap(fixtures, "table", "sources.fixtures.table")
        self.wrap(fixtures, "load_tables", "sources.fixtures.load_tables")

    def install_dialect(self) -> None:
        import sdp_spark.dialect as dialect

        self.wrap(dialect, "translate_mysql", "dialect.translate")

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class JobCounter:
    """Spark jobs, stages and tasks run while a query's tag was set."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jtracker = self.sc._jsc.sc().statusTracker()
        self._bus = self.sc._jsc.sc().listenerBus()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store and the streaming listener have seen the query."""
        self._bus.waitUntilEmpty()

    def begin(self, tag: str) -> None:
        self.sc.addJobTag(tag)

    def end(self, tag: str) -> dict[str, int]:
        self.sc.removeJobTag(tag)
        self.settle()
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for job_id in self._jtracker.getJobIdsForTag(tag):
            jobs += 1
            info = st.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else []):
                s = st.getStageInfo(stage_id)
                if s is not None and s.numCompletedTasks > 0:  # skipped stages run nothing
                    stages += 1
                    tasks += s.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


def streaming_listener(sink: list):
    """A StreamingQueryListener that appends each progress report's
    durations and input rows to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({"input_rows": p.numInputRows, **dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_s(pid: int, with_children: bool = False) -> float:
    """utime+stime of a process (plus reaped children's), in seconds."""
    f = _stat(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(int(d))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def workers_cpu_s(jvm_pid: int) -> float:
    """CPU of the JVM's Python daemon and workers, live and reaped."""
    return sum(cpu_s(p, with_children=True) for p in descendants(jvm_pid))


def peak_rss_mb(pid: int) -> float:
    """VmHWM of a process in MiB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_old_gen_peak_mb(spark) -> float:
    """Peak used bytes of the JVM's old-generation heap pool, in MiB. The
    young pools fill to their size between collections whatever the engine
    keeps; the old generation holds what survives (cached frames,
    broadcasts, plans), and unlike the JVM's RSS it does not follow the
    fixed heap size."""
    mgmt = spark.sparkContext._jvm.java.lang.management
    return sum(
        pool.getPeakUsage().getUsed()
        for pool in mgmt.ManagementFactory.getMemoryPoolMXBeans()
        if pool.getType().name() == "HEAP"
        and not any(young in pool.getName() for young in ("Eden", "Survivor"))
    ) / (1024.0 * 1024.0)
