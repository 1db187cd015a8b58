"""Tracing and the benchmark's own arithmetic.

Spans are recorded by the benchmark around its calls into each layer of
the program, kept in memory, and written out once at the end.  Spark's own
work comes from its event log, read after the session stops; a job, stage
or task is attributed to the innermost step span whose time window holds
its submission time (job groups are not used: work submitted from the
streaming thread and from thread pools escapes them).
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  With ``enabled=False`` every call is a
    no-op, so untimed and timed code paths are identical."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_id = -1
        # parent for spans opened on threads with no open span of their own
        # (thread-pooled work inside a step's action)
        self.fallback: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, **attrs):
        """Record ``name`` in ``layer``.  ``parent`` defaults to the calling
        thread's open span; pass it explicitly for callbacks that run on
        another thread (the streaming ``foreachBatch``)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None:
            parent = stack[-1] if stack else self.fallback
        rec = {"name": name, "layer": layer, "start": time.time(), "end": None,
               "parent": parent, "pass": self.pass_id, **attrs}
        with self._lock:
            sid = len(self.spans)
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec["end"] = time.time()

    def current(self) -> int | None:
        stack = self._stack() if self.enabled else []
        return stack[-1] if stack else None

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# -- span arithmetic -----------------------------------------------------------


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of its interval that its child
    spans cover (children clipped to the parent; overlapping children from
    concurrent threads count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        p = sp["parent"]
        if p is not None:
            children.setdefault(p, []).append((sp["start"], sp["end"]))
    out = []
    for i, sp in enumerate(spans):
        s, e = sp["start"], sp["end"]
        clipped = [(max(a, s), min(b, e)) for a, b in children.get(i, []) if min(b, e) > max(a, s)]
        out.append((e - s) - _union_length(clipped))
    return out


def pass_spans(spans: list[dict], pass_id: int) -> list[dict]:
    """The spans of one pass, with ``parent`` renumbered to index the
    returned list (a span's parent is recorded as its index among all
    spans; the pass's spans start later in that list)."""
    idx = [k for k, sp in enumerate(spans) if sp["pass"] == pass_id]
    local = {g: k for k, g in enumerate(idx)}
    return [dict(spans[g], parent=local.get(spans[g]["parent"])) for g in idx]


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for sp, st in zip(spans, self_times(spans)):
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + st
    return out


def attribute(times_ms: list[float], spans: list[dict], layer: str | None = None) -> list[int | None]:
    """For each epoch-millisecond time, the innermost span (latest start)
    whose window holds it, optionally restricted to one layer; None when no
    span holds it."""
    cands = [
        (sp["start"] * 1000.0, sp["end"] * 1000.0, i)
        for i, sp in enumerate(spans)
        if layer is None or sp["layer"] == layer
    ]
    out = []
    for t in times_ms:
        best = None
        for s, e, i in cands:
            if s <= t <= e and (best is None or s >= best[0]):
                best = (s, i)
        out.append(best[1] if best else None)
    return out


# -- percentiles ----------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def tail_percentile(n: int, ladder=(99, 95, 90, 75, 50), min_beyond: int = 10) -> int | None:
    """The highest percentile of ``ladder`` with at least ``min_beyond``
    samples beyond it out of ``n``; None when even the median has fewer."""
    for p in ladder:
        if n * (100 - p) / 100.0 >= min_beyond:
            return p
    return None


# -- storage amplification -------------------------------------------------------


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def amplification(written_bytes: int, left_bytes: int, live_bytes: int) -> tuple[float, float]:
    """(write_amp, space_amp): bytes written under the sink, compaction
    included, and bytes left after vacuum, each per byte of live input."""
    if live_bytes <= 0:
        return 0.0, 0.0
    return written_bytes / live_bytes, left_bytes / live_bytes


# -- event log -------------------------------------------------------------------

# Python-worker timings Spark logs per task, in milliseconds
_PY_START = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and per-stage task totals from Spark's event log.  Each
    session restart is its own application, so stages are keyed by
    (application, stage id)."""
    jobs, stages = [], {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        app = os.path.basename(os.path.dirname(path))
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"id": ev["Job ID"], "submit_ms": ev["Submission Time"]})
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault((app, info["Stage ID"]), _empty_stage())
                    st["submit_ms"] = info.get("Submission Time", 0)
                    st["tasks"] = info.get("Number of Tasks", 0)
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault((app, ev["Stage ID"]), _empty_stage())
                    tm = ev.get("Task Metrics") or {}
                    st["run_ms"] += tm.get("Executor Run Time", 0)
                    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    st["gc_ms"] += tm.get("JVM GC Time", 0)
                    st["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    st["input_b"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == _PY_RUN:
                            st["python_ms"] += _num(acc.get("Update"))
                        elif acc.get("Name") in _PY_START:
                            st["python_start_ms"] += _num(acc.get("Update"))
    return {"jobs": jobs, "stages": [dict(app=k[0], id=k[1], **v) for k, v in sorted(stages.items())]}


def _empty_stage() -> dict:
    return {"submit_ms": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "spill_b": 0, "input_b": 0, "shuffle_read_b": 0, "shuffle_write_b": 0,
            "python_ms": 0.0, "python_start_ms": 0.0}


# -- memory ------------------------------------------------------------------------


def _rss_kb(pid: int) -> int:
    """Proportional resident set (PSS): pages shared between the forked
    Python workers count once across the tree, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (a JVM forks from worker
    threads, whose children are listed under that thread only)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().decode(errors="replace")
    except OSError:
        return ""


def tree_rss_mb(root: int) -> float:
    """Resident memory (PSS) of the driver Python ``root``, the driver JVM
    it launched (its direct child) and the Python workers the JVM forks.
    Other descendants are short-lived helpers the JVM forks; until they exec
    they are copies of the JVM, and counting them would add the JVM twice
    at random moments."""
    total, todo, seen = 0, [(root, 0)], set()
    while todo:
        pid, depth = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        if depth <= 1 or "pyspark.daemon" in _cmdline(pid):
            total += _rss_kb(pid)
        todo.extend((c, depth + 1) for c in _children(pid))
    return total / 1024.0


class RssSampler:
    """Background sampler of the process tree's RSS; ``peak_mb`` is the
    largest sum seen while running."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
