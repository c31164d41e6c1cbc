"""Tracing from outside the engine.

``Tracer`` records spans (name, start, end, parent, run id) in memory around
calls into the engine's public functions. In a traced run it wraps those
functions in place for the life of the run and restores them afterwards; the
engine itself is not changed. ``SparkProbe`` reads Spark's in-process status
stores (jobs, stages and SQL plan metrics) and sums them over a range of job
ids, which is how Spark work is attributed to a benchmark phase.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._phase: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        """A span around the block. Its parent is the innermost open span on
        this thread, or the current phase for threads the engine starts (its
        batch pool), so concurrent batches still nest under their phase."""
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else self._phase
        sid = next(self._ids)
        rec = {"id": sid, "parent": parent, "name": name, "run": self.run_id,
               "start": time.perf_counter(), "end": None, **attrs}
        st.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def phase(self, name: str):
        """A top-level span that adopts spans from threads without one."""
        with self.span(name, kind="phase") as rec:
            prev, self._phase = self._phase, rec["id"] if rec else None
            try:
                yield rec
            finally:
                self._phase = prev

    # ----------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Replace ``owner.attr`` by a wrapper that opens span ``name``
        around each call. ``on_result(span, result, args, kwargs)`` may add
        counts to the span; a call that raises gets the exception's type as
        the span's ``error``. No-op when tracing is off."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, (staticmethod, classmethod)) else orig

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                try:
                    out = fn(*args, **kwargs)
                except Exception as e:
                    rec["error"] = type(e).__name__
                    raise
                if on_result:
                    on_result(rec, out, args, kwargs)
                return out

        new = type(orig)(traced) if isinstance(orig, (staticmethod, classmethod)) else traced
        setattr(owner, attr, new)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ queries
    def total(self, name: str, *within: str) -> float:
        """Summed duration of the spans ``select`` returns."""
        return sum(s["end"] - s["start"] for s in self.select(name, *within))

    def select(self, name: str, *within: str) -> list[dict]:
        """Spans called ``name``; with ``within``, only those under a phase
        span of one of those names."""
        by_id = {s["id"]: s for s in self.spans}

        def phase_of(s):
            while s["parent"] is not None:
                s = by_id[s["parent"]]
            return s["name"]

        return [s for s in self.spans if s["name"] == name
                and (not within or phase_of(s) in within)]

    def calibrate(self, n: int = 20000) -> float:
        """Seconds of tracing cost per wrapped call (span open and close)."""
        saved = self.spans, self._phase
        self.spans = []
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("calibrate"):
                pass
        per = (time.perf_counter() - t0) / n
        self.spans, self._phase = saved
        return per


# ------------------------------------------------------------------ Spark
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str | None) -> float:
    """Total of a formatted SQL plan metric, e.g. ``'total (min, med, max
    (stageId: taskId))\\n9.9 s (163 ms, ...)'`` -> 9.9 (seconds) or
    ``'1109.2 KiB (...)'`` -> bytes. Times are returned in seconds."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].strip()
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if unit in _SIZE:
        return v * _SIZE[unit]
    return v * _TIME.get(unit, 1.0)


STAGE_FIELDS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "executor_run_s": "executorRunTime",      # ms
    "executor_cpu_s": "executorCpuTime",      # ns
    "jvm_gc_s": "jvmGcTime",                  # ms
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
}
_STAGE_SCALE = {"executor_run_s": 1e-3, "executor_cpu_s": 1e-9, "jvm_gc_s": 1e-3}

PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


class SparkProbe:
    """Read-only view of the driver's status stores."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        """Highest job id submitted so far (-1 before the first job)."""
        self._drain()
        jobs = self._sc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def job_ids(self) -> list[int]:
        self._drain()
        jobs = self._sc.statusStore().jobsList(None)
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    def stage_metrics(self, job_ids: list[int]) -> dict[str, float]:
        """Stage task metrics summed over the stages of ``job_ids`` (a stage
        shared by several jobs counts once; skipped stages count zero)."""
        self._drain()
        store = self._sc.statusStore()
        want = set(job_ids)
        stage_ids: set[int] = set()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() in want:
                sids = j.stageIds()
                stage_ids.update(sids.apply(k) for k in range(sids.size()))
        out = {k: 0.0 for k in STAGE_FIELDS}
        out["jobs"] = float(len(want))
        out["stages"] = 0.0
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j: the store no longer holds this stage
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for k, field in STAGE_FIELDS.items():
                out[k] += getattr(st, field)() * _STAGE_SCALE.get(k, 1)
        return out

    def python_metrics(self, job_ids: list[int]) -> dict[str, float]:
        """Arrow/Python boundary metrics (ArrowEvalPython and friends) summed
        over the SQL executions whose jobs all lie in ``job_ids``."""
        self._drain()
        want = set(job_ids)
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs()
            ids = [k for k in _scala_keys(jobs)]
            if not ids or not set(ids) <= want:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            nodes = self._sql.planGraph(ex.executionId()).allNodes()
            for a in range(nodes.size()):
                ms = nodes.apply(a).metrics()
                for b in range(ms.size()):
                    m = ms.apply(b)
                    key = PYTHON_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_sql_metric(v.get())
        return out


def _scala_keys(scala_map) -> list[int]:
    it = scala_map.keysIterator()
    out = []
    while it.hasNext():
        out.append(int(it.next()))
    return out
