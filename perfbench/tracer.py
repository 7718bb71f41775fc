"""Benchmark-side tracing: spans around the calls into each layer of the
package, with Spark job and task counts taken at the same boundaries.

Nothing here reaches inside the program.  A span is opened by the
benchmark just before it calls a public function and closed when the
result is complete; Spark work is attributed to the span through a job
group (``SparkContext.setJobGroup``) and counted afterwards with the
status tracker.  Streaming work runs in the query's own thread under the
query's run id, so it is counted through that group, and per-batch
progress comes from a ``StreamingQueryListener`` the benchmark registers.

Spans are kept in memory; the runner prints :meth:`Tracer.as_dicts` at the end.
With ``enabled=False`` every method is a no-op, so the untraced run pays
nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time

# Layer of a span = the part of its name before the first ":" (e.g.
# "plans.query_api:get_trace").
LAYERS = (
    "bench",
    "sources",
    "functions",
    "streaming",
    "plans.materialize",
    "plans.query_api",
    "operators",
)


class Span:
    __slots__ = ("sid", "name", "parent", "request", "start", "end", "group", "attrs")

    def __init__(self, sid, name, parent, request, group):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.request = request
        self.group = group
        self.start = time.perf_counter()
        self.end = None
        self.attrs: dict = {}

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "parent": self.parent,
            "request": self.request,
            "start": self.start,
            "end": self.end,
            **self.attrs,
        }


class Tracer:
    """Collects spans for one benchmark process.  Thread-safe: each thread
    keeps its own stack of open spans (the query workload's clients)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._sc = None

    def set_thread_enabled(self, enabled: bool | None) -> None:
        """Override ``enabled`` for the calling thread (None: use the
        default), so traced and untraced requests can interleave."""
        self._local.enabled = enabled

    def _enabled(self) -> bool:
        local = getattr(self._local, "enabled", None)
        return self.enabled if local is None else local

    def bind(self, spark) -> None:
        """Attach the SparkContext whose jobs are counted."""
        self._sc = spark.sparkContext

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self._enabled():
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        group = f"bench-{sid}"
        sp = Span(
            sid,
            name,
            parent.sid if parent else None,
            request or (parent.request if parent else None),
            group,
        )
        stack.append(sp)
        if self._sc is not None:
            self._sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(parent.group, parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(sp)

    def count_group(self, group: str) -> tuple[int, int]:
        """(jobs, tasks run) of one job group.  Skipped stages (shuffle
        output reused) report no completed tasks and so add none."""
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for stage_id in info.stageIds:
                si = st.getStageInfo(stage_id)
                if si is not None:
                    tasks += si.numCompletedTasks
        return len(jobs), tasks

    def resolve_counts(self) -> None:
        """Fill ``jobs``/``tasks`` on every span (own group only) once the
        listener bus has caught up; call after the measured region."""
        if not self.spans:
            return
        time.sleep(0.5)  # status events are delivered asynchronously
        for sp in self.spans:
            jobs, tasks = self.count_group(sp.group)
            extra = sp.attrs.pop("extra_groups", ())
            for g in extra:
                j, t = self.count_group(g)
                jobs += j
                tasks += t
            sp.attrs["jobs"] = jobs
            sp.attrs["tasks"] = tasks

    def self_seconds(self) -> dict[str, float]:
        """Per layer: total span time minus the part of each span's
        interval that its child spans cover (children of one span may
        overlap only if they ran on other threads; the union is used)."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {layer: 0.0 for layer in LAYERS}
        for sp in self.spans:
            covered = 0.0
            cur_end = None
            for c in sorted(children.get(sp.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, sp.start), min(c.end, sp.end)
                if cur_end is not None and lo < cur_end:
                    lo = cur_end
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[sp.layer] = out.get(sp.layer, 0.0) + sp.seconds - covered
        return out

    def as_dicts(self) -> list[dict]:
        """Every recorded span, in start order, for writing out at the end."""
        return [sp.as_dict() for sp in sorted(self.spans, key=lambda s: s.start)]


def batch_listener():
    """A ``StreamingQueryListener`` that records per-batch progress and the
    run ids of started queries (whose job group holds their Spark jobs)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchProgress(StreamingQueryListener):
        def __init__(self):
            self.run_ids: list[str] = []  # onQueryStarted runs inside start()
            self.terminated: set[str] = set()
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            state = p.stateOperators
            self.progress.append(
                {
                    "run_id": str(p.runId),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "add_batch_ms": p.durationMs.get("addBatch", 0),
                    "state_rows": sum(s.numRowsTotal for s in state),
                    "state_bytes": sum(s.memoryUsedBytes for s in state),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.add(str(event.runId))

        def wait_terminated(self, run_id: str, timeout: float = 10.0) -> bool:
            """Events reach Python asynchronously; wait for the last one."""
            deadline = time.monotonic() + timeout
            while run_id not in self.terminated:
                if time.monotonic() > deadline:
                    return False
                time.sleep(0.02)
            return True

    return BatchProgress()
