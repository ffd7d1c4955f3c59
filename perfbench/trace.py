"""Outside-in tracing: spans around public engine functions, Spark's own
event log for what ran inside them, and a process-tree RSS sampler.

A span is opened by a wrapper that the benchmark installs over a module
attribute (``Tracer.wrap``); the engine itself is not changed.  Each span
sets a Spark job group named after its id, so every job, stage and task
in the event log can be assigned to the innermost span that was open when
the job started.  Self time is a span's wall minus the walls of its
children; children never overlap because spans nest on one thread, so
the self times of a span tree sum to its root's wall by construction.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import Counter, defaultdict

GROUP_PREFIX = "pb"  # the job group of span <id> is "pb<id>"
# Task accumulables (SQL metrics) of Spark's Python exec nodes; the times
# are in milliseconds.
PY_ACCUMS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


class Tracer:
    """Spans on the calling thread; job groups tie Spark work to them.
    Spans are recorded only while ``enabled``; calls are always counted."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.calls: Counter = Counter()
        self.own_s = 0.0  # time spent in span bookkeeping itself

    def _set_group(self) -> None:
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"{GROUP_PREFIX}{top}", self.spans[top]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "t0": t_in, "t1": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group()
        self.own_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["t1"] = t_out
            self._stack.pop()
            self._set_group()
            self.own_s += time.perf_counter() - t_out

    def wrap(self, owner, attr: str, name, count_only: bool = False) -> None:
        """Replace ``owner.attr`` with a wrapper that counts each call and,
        unless ``count_only``, opens a span.  ``name`` is a span name or a
        function of the call's arguments returning one."""
        orig = getattr(owner, attr)
        label = name if callable(name) else (lambda *a, **k: name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            n = label(*args, **kwargs)
            self.calls[n] += 1
            if count_only:
                return orig(*args, **kwargs)
            with self.span(n):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis -----------------------------------------------------------

    def walls(self) -> dict[int, float]:
        return {s["id"]: s["t1"] - s["t0"] for s in self.spans}

    def self_times(self) -> dict[int, float]:
        out = self.walls()
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["t1"] - s["t0"]
        return out

    def by_name(self, values: dict[int, float], under: str | None = None) -> dict[str, float]:
        """Sum ``values`` by span name; with ``under``, only over spans
        nested in a span of that name."""
        agg: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if under is None or self.within(s, under):
                agg[s["name"]] += values.get(s["id"], 0.0)
        return dict(agg)

    def within(self, span: dict, name: str) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"] == name:
                return True
            p = self.spans[p]["parent"]
        return False


def _events(paths: list[str]):
    """Events of a rolling event log, in order: its files are named
    ``events_<n>_<app id>``."""
    for p in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(p) as fh:
            for line in fh:
                yield json.loads(line)


def parse_event_log(paths: list[str], window: tuple[float, float]) -> dict:
    """Aggregate an uncompressed Spark event log (its ``events_*`` files).

    Returns ``{"totals": {...}, "by_span": {span_id: {...}}, "jobs": n,
    "stages": n, "failed_jobs": n, "unattributed_jobs": n,
    "window_run_ms": n}``.  Totals cover jobs whose group starts with
    ``GROUP_PREFIX``; a stage belongs to the first job that lists it.
    ``window`` is the traced part as epoch seconds: ``unattributed_jobs``
    counts jobs submitted in it without a span's group, and
    ``window_run_ms`` is the executor run time of every task launched in
    it, attributed or not."""
    lo, hi = window[0] * 1e3, window[1] * 1e3
    stage_span: dict[int, int] = {}
    jobs = failed_jobs = unattributed = window_run_ms = 0
    tot: Counter = Counter()
    by_span: dict[int, Counter] = defaultdict(Counter)
    stages_done: set[tuple[int, int]] = set()
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if not grp.startswith(GROUP_PREFIX):
                unattributed += int(lo <= ev.get("Submission Time", 0) <= hi)
                continue
            jobs += 1
            sid = int(grp[len(GROUP_PREFIX):])
            for st in ev.get("Stage IDs", []):
                stage_span.setdefault(st, sid)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            if lo <= info.get("Launch Time", 0) <= hi:
                window_run_ms += tm.get("Executor Run Time", 0)
            sid = stage_span.get(ev.get("Stage ID"))
            if sid is None:
                continue
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            c = Counter(
                tasks=1,
                failed_tasks=int(reason != "Success"),
                exec_run_ms=tm.get("Executor Run Time", 0),
                cpu_ns=tm.get("Executor CPU Time", 0),
                gc_ms=tm.get("JVM GC Time", 0),
                shuffle_write_bytes=(tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                spill_bytes=tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            )
            for acc in info.get("Accumulables", []):
                key = PY_ACCUMS.get(acc.get("Name"))
                if key:
                    c[key] += int(acc.get("Update", 0) or 0)
            tot.update(c)
            by_span[sid].update(c)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            if info.get("Stage ID") in stage_span:
                stages_done.add((info.get("Stage ID"), info.get("Stage Attempt ID", 0)))
        elif kind == "SparkListenerJobEnd":
            res = (ev.get("Job Result") or {}).get("Result", "JobSucceeded")
            failed_jobs += int(res != "JobSucceeded")
    return {"totals": dict(tot), "by_span": {k: dict(v) for k, v in by_span.items()},
            "jobs": jobs, "stages": len(stages_done), "failed_jobs": failed_jobs,
            "unattributed_jobs": unattributed, "window_run_ms": window_run_ms}


def listener_cpu_s(sc) -> float:
    """CPU seconds used so far by Spark's event-log listener thread
    (``spark-listener-group-eventLog``) in the Spark JVM."""
    mx = sc._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    total = 0
    for tid in mx.getAllThreadIds():
        info = mx.getThreadInfo(tid)
        if info is not None and "eventLog" in info.getThreadName():
            total += max(mx.getThreadCpuTime(tid), 0)
    return total / 1e9


def _children(pid: int) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    rest = fh.read().rsplit(")", 1)[1].split()
                kids[int(rest[1])].append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return kids


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root``'s descendants (the Spark JVM and the Python
    workers it forks; the benchmark's own interpreter is excluded)."""
    kids = _children(root)
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, list(kids.get(root, []))
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak summed RSS of this process's descendants while active."""

    PERIOD_S = 0.2

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(me))
            if self._stop.wait(self.PERIOD_S):
                return

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return False
