"""Layer probes for traced runs: spans, Spark job groups read through
``statusTracker``, Catalyst phase trackers, streaming progress and disk
sizing. Everything here is read from outside the engine; nothing in the
program is patched.

Spans stay in memory and are written once, at the end of the run, as JSON
lines: ``name, trace, id, parent, start, end, self_ms`` (times in epoch
seconds). ``self_ms`` is the span's duration minus the part of it that its
children cover.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener


def pct(values, q: float) -> float:
    """``q``-quantile (0..1) by linear interpolation; 0.0 for no values."""
    return float(np.percentile(values, q * 100)) if len(values) else 0.0


def median(values) -> float:
    return pct(values, 0.5)


class Tracer:
    """Span recorder. ``on`` may be flipped between units of work; while it
    is False, ``span`` records nothing and costs one attribute read."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.on:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "trace": trace or (parent["trace"] if parent else name),
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, trace: str, start: float, end: float, parent: int | None) -> None:
        """Record a span measured elsewhere (e.g. a streaming phase)."""
        if self.on:
            with self._lock:
                self.spans.append(
                    {"name": name, "trace": trace, "id": next(self._ids),
                     "parent": parent, "start": start, "end": end}
                )

    def with_self_times(self) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append({**s, "self_ms": round((s["end"] - s["start"] - covered) * 1000, 3)})
        return out

    def write(self, path: str) -> list[dict]:
        spans = self.with_self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        return spans


class JobCounter:
    """Jobs, stages and tasks launched under a Spark job group, read from
    ``statusTracker`` (which works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of the group so far."""
        return self.totals(self.job_ids(group))

    def totals(self, jobs: list[int]) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of the given job ids."""
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                st = self.tracker.getStageInfo(sid)
                tasks += st.numTasks if st is not None else 0
        return len(jobs), stages, tasks


class CatalystProbe:
    """A ``QueryExecutionListener`` implemented over py4j: records the
    ``QueryExecution.tracker`` phase durations of every action the session
    runs while registered."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.events: list[dict[str, tuple[float, float]]] = []
        self._lock = threading.Lock()
        self._registered = False

    @staticmethod
    def phases(qe) -> dict[str, tuple[float, float]]:
        """Phase name -> (start, end) in epoch seconds."""
        out = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = (kv._2().startTimeMs() / 1000.0, kv._2().endTimeMs() / 1000.0)
        return out

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        try:
            p = self.phases(qe)
        except Exception:  # a probe must never fail the action it observes
            return
        with self._lock:
            self.events.append(p)

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        pass

    def register(self) -> None:
        if not self._registered:
            self.spark._jsparkSession.listenerManager().register(self)
            self._registered = True

    def unregister(self) -> None:
        if self._registered:
            self.spark._jsparkSession.listenerManager().unregister(self)
            self._registered = False

    def wait_bus(self) -> None:
        """Wait until the listener bus has delivered every queued event (to
        this probe and to the status store ``statusTracker`` reads)."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def drain(self) -> list[dict[str, tuple[float, float]]]:
        """Wait for queued listener events, then return and clear them."""
        self.wait_bus()
        with self._lock:
            out, self.events = self.events, []
        return out


class ProgressProbe(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` of every query as a dict."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def batches(self) -> list[dict]:
        with self._lock:
            return [p for p in self.progress if p.get("numInputRows", 0) > 0]


def phase_metrics(batches: list[dict]) -> dict[str, float]:
    """Micro-batch engine metrics from ``durationMs`` of data-carrying batches."""
    d = [b.get("durationMs", {}) for b in batches]
    trig = [x.get("triggerExecution", 0) for x in d]
    return {
        "pipeline.batches": float(len(batches)),
        "pipeline.plan_ms": median([x.get("queryPlanning", 0) for x in d]),
        "pipeline.log_ms": median([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
        "pipeline.trigger_ms.p50": median(trig),
        "pipeline.trigger_ms.p95": pct(trig, 0.95),
        "changefeed.offset_ms": median([x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]),
        "changefeed.rows_per_batch": median([b.get("numInputRows", 0) for b in batches]),
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def newest_versions(target_path: str) -> dict[str, str]:
    """Newest version directory per bucket of a ParquetUpsertTarget, read
    from disk (committed or not; sizing only)."""
    out = {}
    if not os.path.isdir(target_path):
        return out
    for b in os.listdir(target_path):
        if b.startswith("bucket="):
            vs = sorted(v for v in os.listdir(os.path.join(target_path, b)) if v.startswith("v"))
            if vs:
                out[b] = vs[-1]
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0
