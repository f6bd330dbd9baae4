"""Span tracing from outside the library, used only by ``--trace 1`` runs.

The tracer replaces public functions and methods of ``mindb_spark`` with
wrappers that record a span per call: name, start, end, parent span and
the op it belongs to. Spans that can run Spark work also set a Spark job
group on entry (restoring the parent's on exit), so every job lands in the
innermost such span; :meth:`Tracer.spark_metrics` then reads the jobs of
each group from ``statusTracker`` and their stages from
``statusStore().lastStageAttempt``. Spans stay in memory until the run
ends. :meth:`Tracer.uninstall` restores every original, which is how the
timed window of a traced run measures the untraced rate for the overhead.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time

from py4j.protocol import Py4JError

STAGE_FIELDS = {
    # StageData accessor -> metric key (times in ms; cpu time is ns)
    "numCompleteTasks": "tasks",
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    def begin(self, name: str, spark: bool = False, new_op: bool = False,
              **attrs) -> dict:
        """Open a span under the calling thread's innermost open span.
        ``new_op`` starts a new op id (a timed op nested in a phase span);
        otherwise the span joins its parent's op, or starts one at a root."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent and not new_op else next(self._ops),
            "name": name,
            "group": None,
            "attrs": attrs,
            "t0": time.perf_counter(),
            "t1": None,
        }
        # the job group the enclosing spans run under, restored on exit
        span["_outer_group"] = parent["_group_in"] if parent else None
        span["_group_in"] = span["_outer_group"]
        if spark and self.sc is not None:
            span["group"] = span["_group_in"] = f"perfbench-{span['id']}"
            self.sc.setLocalProperty("spark.jobGroup.id", span["group"])
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if span["group"] is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", span["_outer_group"])
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = False, new_op: bool = False, **attrs):
        s = self.begin(name, spark, new_op, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    # ---------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, spark: bool = False,
             keep_result: bool = False) -> None:
        """Replace ``owner.attr`` (module function, method, classmethod or
        staticmethod) with a span-recording wrapper."""
        raw = owner.__dict__[attr]
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer.begin(name, spark)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(s)
            if keep_result:
                s["attrs"]["result"] = out
            return out

        setattr(owner, attr, kind(wrapper) if kind else wrapper)
        self._patches.append((owner, attr, raw))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # ------------------------------------------------------ spark metrics
    def spark_metrics(self) -> None:
        """Attach ``jobs`` and per-stage metrics to every span that set a
        job group. Call once, after the last Spark action."""
        wait_listener_bus(self.sc)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen_stages: set = set()
        for s in self.spans:
            if s["group"] is None:
                continue
            jobs = sorted(tracker.getJobIdsForGroup(s["group"]))
            stages = []
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    m = stage_data(store, sid)
                    if m is not None and m["tasks"] > 0:
                        stages.append(m)
            s["jobs"] = jobs
            s["stages"] = stages


def wait_listener_bus(sc, timeout_ms: int = 10_000) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status store holds the metrics of jobs that already returned."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
    except Py4JError:
        time.sleep(0.5)


def stage_data(store, sid: int) -> dict | None:
    """Metrics of the last attempt of stage ``sid``; None when the store
    has none (a skipped stage, or one evicted from the store)."""
    try:
        sd = store.lastStageAttempt(int(sid))
    except Py4JError:
        return None
    out = {"stage": int(sid)}
    for acc, key in STAGE_FIELDS.items():
        out[key] = int(getattr(sd, acc)())
    return out


def job_counts(sc, job_ids) -> dict:
    """Job, stage and task counts for a set of job ids (the work
    fingerprint of a phase); skipped stages are not counted."""
    wait_listener_bus(sc)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0}
    seen: set = set()
    for jid in sorted(job_ids):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            m = stage_data(store, sid)
            if m is None or m["tasks"] == 0:  # skipped: reused shuffle output
                continue
            out["stages"] += 1
            out["tasks"] += m["tasks"]
    return out

