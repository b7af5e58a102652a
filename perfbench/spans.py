"""Spans and counters for the traced run.

``Tracer.install`` wraps the engine's public entry points from the
outside (no engine file changes): each call records a span (name,
start, end, parent span, query id) in memory.  A span's self time is
its duration minus the time its child spans cover; ``self_times``
sums them per span name over the queries of the timed window.

Spark work is counted from the status store by job-ID window, not by
job group: job IDs are handed out in submission order, so the jobs a
query started are the IDs that appeared between two reads, whichever
thread submitted them (streaming micro-batches run on their own
threads and carry no group).
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self):
        #: [name, start, end, parent index or -1, query id]
        self.spans: list = []
        self.counts: Counter = Counter()
        self.qid = None
        self._tl = threading.local()

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    def begin(self, name: str) -> int:
        st = self._stack()
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, st[-1] if st else -1, self.qid])
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield idx
        finally:
            self.end(idx)

    def duration(self, idx: int) -> float:
        return self.spans[idx][2] - self.spans[idx][1]

    def in_span(self, name: str) -> bool:
        return any(self.spans[i][0] == name for i in self._stack())

    def count(self, key: str, n=1) -> None:
        """Add to a counter; only work inside a timed query counts."""
        if self.qid is not None:
            self.counts[key] += n

    def wrap(self, owner, attr: str, name: str, after=None, outermost=False):
        """Replace ``owner.attr`` by a wrapper that records a ``name``
        span per call; ``after(self_arg, result)`` runs inside the span
        once the call returns.  With ``outermost`` a call made inside a
        span of the same name records nothing (recursion)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if outermost and self.in_span(name):
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
                if after is not None:
                    after(args[0] if args else None, out)
                return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the engine layers' public entry points.  Call after the
        engine modules are (re)imported for the last time."""
        from py4j.java_gateway import GatewayClient

        import datafusion_dolomite_spark.execute as execute
        import datafusion_dolomite_spark.planner as planner
        import datafusion_dolomite_spark.sql as sql
        from datafusion_dolomite_spark.sources.catalog import Catalog

        QP = planner.QueryPlanner

        def memo_stats(pl, _out):
            st = getattr(pl, "last_planning_stats", None) or {}
            for k in ("groups", "exprs", "transformations"):
                self.count("cascades." + k, st.get(k, 0))

        self.wrap(sql, "parse_sql", "sql.parse")
        self.wrap(QP, "optimize_logical", "heuristic")
        self.wrap(QP, "optimize_physical", "cascades", after=memo_stats)
        self.wrap(QP, "optimize", "planner.optimize")
        self.wrap(QP, "dataframe", "planner.dataframe")
        # the planner binds to_spark at import; callers of the module
        # attribute (entry-file helpers) go through execute's binding
        self.wrap(planner, "to_spark", "execute.lower", outermost=True)
        self.wrap(execute, "to_spark", "execute.lower", outermost=True)
        self.wrap(Catalog, "statistics", "sources.stats", outermost=True)
        self.wrap(Catalog, "schema", "sources.stats", outermost=True)

        send = GatewayClient.send_command
        tracer = self

        @functools.wraps(send)
        def counted_send(client, *args, **kwargs):
            if tracer.in_span("execute.lower"):
                tracer.count("execute.py4j_calls")
            return send(client, *args, **kwargs)

        GatewayClient.send_command = counted_send

    # -- reduction -----------------------------------------------------

    def _timed(self):
        """(index, span) of the spans recorded inside timed queries."""
        return ((i, sp) for i, sp in enumerate(self.spans) if sp[4] is not None)

    def self_times(self) -> dict:
        """Summed self time per span name over the timed queries."""
        covered = defaultdict(float)
        for name, start, end, parent, qid in self.spans:
            if parent >= 0 and end is not None:
                covered[parent] += end - start
        out = defaultdict(float)
        for i, (name, start, end, parent, qid) in self._timed():
            if end is not None:
                out[name] += end - start - covered[i]
        return out

    def total(self, name: str) -> float:
        """Summed duration of the ``name`` spans of the timed queries."""
        return sum(sp[2] - sp[1] for _, sp in self._timed() if sp[0] == name)

    def call_counts(self) -> Counter:
        """Spans per name over the timed queries."""
        return Counter(sp[0] for _, sp in self._timed())

    def nested_calls(self, name: str, parent_name: str) -> int:
        """``name`` spans of the timed queries directly under a
        ``parent_name`` span."""
        return sum(
            1
            for _, sp in self._timed()
            if sp[0] == name and sp[3] >= 0 and self.spans[sp[3]][0] == parent_name
        )


class JobProbe:
    """Reads Spark job, stage and task counts from the status store by
    job-ID window."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self.next_id = self._dag.nextJobId()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the status store (and Python listeners) are current."""
        self._bus.waitUntilEmpty(30_000)

    def new_jobs(self) -> list:
        """IDs of the jobs submitted since the previous call (the
        scheduler assigns them synchronously, in submission order)."""
        n = self._dag.nextJobId()
        ids = list(range(self.next_id, n))
        self.next_id = n
        return ids

    def stage_work(self, job_ids) -> tuple:
        """(stages run, tasks run, shuffle bytes written) of ``job_ids``;
        stages skipped because their output was reused count nothing."""
        stages = tasks = shuffle = 0
        seen = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue
                stages += 1
                tasks += st.numCompletedTasks
                shuffle += self._store.lastStageAttempt(sid).shuffleWriteBytes()
        return stages, tasks, shuffle


def streaming_listener():
    """A StreamingQueryListener counting micro-batches and their
    trigger-execution time."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self):
            self.batches = 0
            self.batch_s = 0.0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.batches += 1
            self.batch_s += event.progress.durationMs.get("triggerExecution", 0) / 1e3

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return BatchListener()
