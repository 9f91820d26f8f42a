"""Request timing and the traced run's spans.

Every request is timed with ``perf_counter`` whether or not tracing is
on; that latency is the end-to-end sample.  With tracing on, the
benchmark also records spans around its calls into each layer (name,
start, end, parent, request id), tags each request's Spark jobs with a
job group named after the request, and reads three observation hooks
it configures from outside the engine:

- the Spark event log (written uncompressed), for per-request jobs,
  stages, tasks and task metrics;
- a ``StreamingQueryListener`` on ``spark.streams``, for each
  micro-batch's progress phases and state-store metrics;
- ``queryExecution().tracker().phases()`` of each collected
  DataFrame, for Catalyst analysis, optimization and planning time.

Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    request: str | None
    id: int
    attrs: dict = field(default_factory=dict)


@dataclass
class Request:
    """One closed-loop request: its id, kind and end-to-end latency."""

    rid: str
    kind: str
    name: str
    start: float = 0.0
    end: float = 0.0
    latency_s: float = 0.0
    traced: bool = False
    ok: bool = True
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Times requests always; records spans only while ``active``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False
        self.sc = None  # the live session's SparkContext, set by the runner
        self.spans: list[Span] = []
        self.requests: list[Request] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self._request: Request | None = None

    @contextlib.contextmanager
    def request(self, kind: str, name: str):
        req = Request(rid=f"{kind}-{len(self.requests):05d}", kind=kind, name=name,
                      traced=self.active)
        if self.active:
            self.sc.setJobGroup(req.rid, name)
        self._request = req
        req.start = time.time()
        t0 = time.perf_counter()
        try:
            with self.span(kind, op=name):
                yield req
        except Exception as exc:  # a failed request is counted, not fatal
            req.ok = False
            req.attrs["error"] = f"{type(exc).__name__}: {exc}"[:400]
        finally:
            req.latency_s = time.perf_counter() - t0
            req.end = time.time()
            self._request = None
            self.requests.append(req)
            if self.active:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield attrs
            return
        s = Span(name, time.time(), 0.0,
                 self._stack[-1].id if self._stack else None,
                 self._request.rid if self._request else None, next(self._ids), attrs)
        self._stack.append(s)
        try:
            yield s.attrs
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def current(self) -> Span:
        """The innermost open span (tracing must be active)."""
        return self._stack[-1]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"type": "span", **asdict(s)}) + "\n")
            for r in self.requests:
                f.write(json.dumps({"type": "request", **asdict(r)}) + "\n")


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning ms of ``df``'s own
    QueryExecution (the one ``collect`` runs)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for key in ("analysis", "optimization", "planning"):
        opt = phases.get(key)
        out[key] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def storage(sc) -> tuple[int, int]:
    """(persisted RDD count, bytes held in memory + on disk by them)."""
    jsc = sc._jsc.sc()
    infos = jsc.getRDDStorageInfo()
    return int(jsc.getPersistentRDDs().size()), int(
        sum(i.memSize() + i.diskSize() for i in infos)
    )


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report (phases, rows, state)."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ts = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=dt.timezone.utc).timestamp()
        rec = {
            "ts": ts,
            "batch_id": p.batchId,
            "duration_ms": dict(p.durationMs),
            "input_rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def drain_listener_bus(sc) -> None:
    """Wait until Spark's listener bus has delivered every event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def attribute(requests: list[Request], ts: float) -> Request | None:
    """The traced request whose [start, end] interval holds ``ts``."""
    for r in requests:
        if r.traced and r.start <= ts <= r.end:
            return r
    return None


def parse_event_log(log: str, requests: list[Request]) -> dict[str, dict]:
    """Per-request execution totals from the event log: jobs, stages,
    tasks, executor run / CPU / GC time, shuffle bytes, spill, peak
    execution memory, and the worst stage's max/median task time.

    A job belongs to the request named by its job group; jobs with no
    request group (streaming micro-batches run under the query's own
    group) belong to the traced request whose interval holds their
    submission time."""
    by_rid = {r.rid: r for r in requests if r.traced}
    job_req: dict[int, str] = {}
    stage_req: dict[int, str] = {}
    tasks: dict[str, dict[int, list[dict]]] = {}
    # a rolling log is events_<n>_<app>, events_<n+1>_<app>, ...
    files = [log] if os.path.isfile(log) else sorted(
        glob.glob(f"{log}/events_*"), key=lambda f: int(os.path.basename(f).split("_")[1]))
    for fn in files:
        with open(fn) as f:
            for line in f:
                if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskEnd"' not in line:
                    continue
                e = json.loads(line)
                if e["Event"] == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    req = by_rid.get(group) or attribute(requests, e["Submission Time"] / 1000)
                    if req is None:
                        continue
                    job_req[e["Job ID"]] = req.rid
                    for sid in e["Stage IDs"]:
                        stage_req.setdefault(sid, req.rid)
                elif e["Event"] == "SparkListenerTaskEnd":
                    rid = stage_req.get(e["Stage ID"])
                    if rid is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    tasks.setdefault(rid, {}).setdefault(e["Stage ID"], []).append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "peak_mem_bytes": m.get("Peak Execution Memory", 0),
                    })
    out: dict[str, dict] = {}
    for rid in by_rid:
        stages = tasks.get(rid, {})
        flat = [t for ts in stages.values() for t in ts]
        skew = [
            max(t["run_ms"] for t in ts) / max(statistics.median(t["run_ms"] for t in ts), 1)
            for ts in stages.values() if len(ts) >= 2
        ]
        out[rid] = {
            "jobs": sum(1 for j in job_req.values() if j == rid),
            "stages": len(stages),
            "tasks": len(flat),
            **{k: sum(t[k] for t in flat) for k in (
                "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")},
            "peak_mem_bytes": max((t["peak_mem_bytes"] for t in flat), default=0),
            "task_max_over_median": max(skew, default=1.0),
        }
    return out
