"""The benchmark's own measurement arithmetic: spans with self time, the
percentile sample-count rule, Spark event-log folding, a streaming
progress listener, and process memory from ``/proc``.

Everything here is recorded from outside the engine: spans wrap the calls
the benchmark makes into each layer's public functions, and Spark's own
hooks (job groups, the event log, ``StreamingQueryListener``) supply what
happens inside a call.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone

#: a percentile is reported only when at least this many samples lie beyond it
TAIL_SAMPLES = 10


def percentile(values: list[float], pct: int) -> float | None:
    """The median of ``values``, or for a tail ``pct`` its percentile
    (``statistics.quantiles``, exclusive method) when at least
    ``TAIL_SAMPLES`` samples lie beyond it — a p90 needs 100 samples —
    and None otherwise."""
    n = len(values)
    if n == 0:
        return None
    if pct == 50:
        return statistics.median(values)
    if n * (100 - pct) / 100 < TAIL_SAMPLES:
        return None
    return statistics.quantiles(values, n=100)[pct - 1]


class Tracer:
    """In-memory spans, one trace per op. A disabled tracer records
    nothing and its ``span`` is a bare ``yield``."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "trace": parent["trace"] if parent else len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: dict, **attrs) -> None:
        """Record a finished span measured elsewhere (a streaming
        micro-batch reported by the listener) under ``parent``."""
        self.spans.append({
            "id": len(self.spans), "trace": parent["trace"], "parent": parent["id"],
            "name": name, "start": start, "end": end, **attrs,
        })


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> None:
    """Set ``dur_s`` and ``self_s`` on every span: self time is the span's
    duration minus the part of its interval its children cover, and
    ``child_cover`` is that covered share."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        dur = s["end"] - s["start"]
        cov = _covered(children.get(s["id"], []), s["start"], s["end"])
        s["dur_s"] = dur
        s["self_s"] = dur - cov
        s["child_cover"] = cov / dur if dur > 0 else 1.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EVENT_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "gc_s",
)


def fold_event_log(lines, group_of=lambda g: g) -> dict[str, dict]:
    """Fold Spark event-log JSON lines into per-job-group totals.

    ``group_of`` maps a raw ``spark.jobGroup.id`` to the group to bill
    (streams run under their run id); jobs whose mapped group is None are
    skipped. Tasks are billed to the job that first listed their stage.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(g: str) -> dict:
        return out.setdefault(g, dict.fromkeys(EVENT_FIELDS, 0))

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = group_of((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            if g is None:
                continue
            bucket(g)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(ev["Stage Info"]["Stage ID"])
            if g is not None:
                bucket(g)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            b = bucket(g)
            b["tasks"] += 1
            b["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return out


def read_event_logs(log_dir: str):
    """Every line of every event log under ``log_dir`` (Spark 4 writes
    one directory of rolled files per application)."""
    for d, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if not name.startswith("."):
                with open(os.path.join(d, name), encoding="utf-8") as f:
                    yield from f


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event as a
    plain dict (built lazily: pyspark must be importable)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            states = p.stateOperators or []
            rec = {
                "run_id": str(p.runId),
                "batch": p.batchId,
                "start_epoch": _epoch(p.timestamp),
                "duration_ms": dict(p.durationMs or {}),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in states),
                "state_commit_ms": sum(s.commitTimeMs for s in states),
                "state_tasks": sum(s.numShufflePartitions for s in states),
            }
            with self.lock:
                self.progress.append(rec)

        def onQueryTerminated(self, event) -> None:
            pass

        def take(self) -> list[dict]:
            with self.lock:
                out, self.progress = self.progress, []
            return out

    return ProgressListener()


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the JVM and its Python workers. Children that already
    exited count through their parent's reaped-children fields."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(c for c, p in parent.items() if p == pid and c not in tree)
    return sum(ticks.get(p, 0) for p in tree) * _TICK_S


def driver_peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this Python process plus its JVM child."""
    me = os.getpid()
    jvms = []
    for c in _children(me):
        try:
            with open(f"/proc/{c}/comm") as f:
                if f.read().strip() == "java":
                    jvms.append(c)
        except OSError:
            pass
    return sum(_status_kb(p, "VmHWM") for p in [me, *jvms]) / 1024.0
