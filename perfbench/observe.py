"""What the benchmark sees from outside the program: streaming progress
through a ``StreamingQueryListener``, spans around its own calls into
each layer, Spark's event log, and the JVM's memory high-water mark.

The pure helpers here (percentiles, span arithmetic, event-log folding)
take plain data so the tests can exercise them without Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

# -- statistics ---------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-quantile (0..1) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int, candidates=(0.999, 0.99, 0.95, 0.9)) -> float | None:
    """The highest quantile in ``candidates`` that leaves at least ten
    of ``n`` samples beyond it, or None when none does."""
    for q in candidates:
        if n * (1 - q) >= 10 - 1e-9:
            return q
    return None


def median(values) -> float:
    return statistics.median(values)


# -- lateness of an open-loop generator ----------------------------------


def lateness(due: list[float], sent: list[float]) -> list[float]:
    """How late each drop ran against its schedule (never negative)."""
    if len(due) != len(sent):
        raise ValueError("every due drop needs its send time")
    return [max(0.0, s - d) for d, s in zip(due, sent)]


def lags(due: list[float], committed: list[float | None]) -> list[float]:
    """Lag of each file from its *due* time (not its send time) to the
    gold commit that included it; a file never committed has no lag and
    is left out (it counts against keep-up instead)."""
    return [c - d for d, c in zip(due, committed) if c is not None]


def keepup(sizes: list[int], committed: list[float | None], by: float) -> float:
    """Share of the events (``sizes`` per file) whose file was in gold
    by ``by``; a file committed later counts like one never committed."""
    return sum(n for n, c in zip(sizes, committed) if c is not None and c <= by) / sum(sizes)


# -- spans --------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None


class Tracer:
    """In-memory spans around layer calls; a no-op when disabled so the
    untraced runs pay nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def _record(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        span = Span(name, time.time(), 0.0, stack[-1] if stack else None)
        with self._lock:
            self.spans.append(span)
            stack.append(len(self.spans) - 1)
        try:
            yield span
        finally:
            span.end = time.time()
            stack.pop()

    def span(self, name: str):
        return self._record(name) if self.enabled else nullcontext()

    def add(self, name: str, start: float, end: float, *, contained: bool = True) -> None:
        """A span observed after the fact. With ``contained`` (a trigger
        from the listener) its parent is the innermost recorded span
        containing it; otherwise (work on another thread) it has none."""
        if not self.enabled:
            return
        with self._lock:
            parent = None
            for i, s in enumerate(self.spans if contained else ()):
                if s.start <= start and end <= s.end + 1e-3 and (
                    parent is None or s.start >= self.spans[parent].start
                ):
                    parent = i
            self.spans.append(Span(name, start, end, parent))

    def open_at(self, t: float, skip=lambda name: False) -> str | None:
        """Name of the innermost span open at ``t``, ignoring spans whose
        name ``skip`` accepts."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and not skip(s.name):
                if best is None or s.start >= best.start:
                    best = s
        return best.name if best else None

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of
    it that its children cover, summed over spans of that name."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(i, [])
            if min(b, s.end) > max(a, s.start)
        ]
        own = (s.end - s.start) - union_length(clipped)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


# -- streaming progress -------------------------------------------------


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressRecorder(StreamingQueryListener):
    """Keeps every progress event as a plain dict, with its trigger
    start (``_t0``, epoch s) and ``triggerExecution`` (``_dur``, s).
    Progress arrives on the listener-bus thread."""

    def __init__(self):
        self._lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        p["_t0"] = _epoch(p["timestamp"])
        p["_dur"] = p.get("durationMs", {}).get("triggerExecution", 0) / 1000
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.progress)

    def wait_for(self, pred, n: int, timeout: float = 10.0) -> list[dict]:
        """Wait until ``n`` progress events satisfy ``pred`` (or the
        timeout passes), then return those seen."""
        deadline = time.time() + timeout
        while True:
            got = [p for p in self.snapshot() if pred(p)]
            if len(got) >= n or time.time() >= deadline:
                return got
            time.sleep(0.05)

    def settle(self, timeout: float = 5.0) -> list[dict]:
        """Wait until no progress arrived for a short while (the bus
        delivers asynchronously), then return everything seen."""
        deadline = time.time() + timeout
        n = -1
        while time.time() < deadline:
            cur = len(self.snapshot())
            if cur == n:
                break
            n = cur
            time.sleep(0.25)
        return self.snapshot()


def source_desc(p: dict) -> str:
    """The descriptions of a progress event's sources (file sources name
    the directory they read)."""
    return " ".join(s.get("description", "") for s in p.get("sources", []))


def source_layer(p: dict) -> str | None:
    """Which trip layer a progress event belongs to, from the path of
    the directory its file source reads."""
    desc = source_desc(p)
    for marker, layer in (
        ("wire/start", "ingest"),
        ("wire/end", "ingest"),
        ("/bronze/", "completion"),
        ("/completed", "kpi"),
    ):
        if marker in desc:
            return layer
    return None


def duration_s(p: dict, phase: str) -> float:
    return p.get("durationMs", {}).get(phase, 0) / 1000


def state_ops(p: dict) -> list[dict]:
    return p.get("stateOperators") or []


# -- event log -----------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every (stopped) application log in ``log_dir``."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def fold_event_log(events: list[dict], layer_at) -> dict[str, dict]:
    """Per-layer Spark counters from event-log records. ``layer_at(t)``
    names the layer span open at epoch second ``t``; each job belongs to
    the span open when it was submitted.

    Returns ``{layer: {jobs, shuffle_write_mb, spill_mb, gc_s,
    task_skew}}``; ``task_skew`` is the median over that layer's jobs of
    max / median task time in the job's longest stage.
    """
    stage_job: dict[int, int] = {}
    job_layer: dict[int, str] = {}
    tasks: dict[int, list[float]] = {}
    acc: dict[str, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            layer = layer_at(ev["Submission Time"] / 1000)
            if layer is None:
                continue
            job_layer[ev["Job ID"]] = layer
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
            acc.setdefault(layer, _zero_layer())["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            if job is None:
                continue
            a = acc[job_layer[job]]
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append(
                (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000
            )
            sw = m.get("Shuffle Write Metrics", {})
            a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            a["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000
    skews: dict[str, list[float]] = {}
    job_stages: dict[int, list[int]] = {}
    for sid, job in stage_job.items():
        job_stages.setdefault(job, []).append(sid)
    for job, sids in job_stages.items():
        timed = [tasks[s] for s in sids if tasks.get(s)]
        if not timed:
            continue
        longest = max(timed, key=sum)
        med = statistics.median(longest)
        if med > 0:
            skews.setdefault(job_layer[job], []).append(max(longest) / med)
    for layer, a in acc.items():
        a["task_skew"] = statistics.median(skews[layer]) if skews.get(layer) else 1.0
    return acc


def _zero_layer() -> dict:
    return {"jobs": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0}


# -- process memory -----------------------------------------------------


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the Spark driver JVM (local mode: the only JVM)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")
