"""Per-layer tracing, installed only in ``--trace 1`` runs.

Everything here works from outside the engine:

- ``Tracer.wrap`` replaces a public module function with a span wrapper
  (time, layer, job group, optional store listing diff);
- the Spark event log (``spark.eventLog.enabled`` into a temp dir, no UI)
  is parsed after the session stops, and each job is attributed to the
  op whose wall-clock window contains its submission;
- ``ProcSampler`` samples ``/proc`` for JVM + Python-worker RSS and
  Python-worker CPU from one thread during the timed section.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
PAGE = os.sysconf("SC_PAGE_SIZE")


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _tree_bytes(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Tracer:
    """Nested wall-clock spans over the single client thread (streaming
    ``foreachBatch`` callbacks nest inside the stream span that is
    blocked waiting for them, so one stack is enough)."""

    def __init__(self, spark):
        self.spark = spark
        self.stack: list[dict] = []
        self.self_s: dict[str, float] = {}
        self.total_s: dict[str, float] = {}
        self.fs = {"created": 0, "deleted": 0, "bytes_written": 0}
        self.overhead_s = 0.0
        self.installed = False  # spans record only while True
        self._lock = threading.RLock()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, name: str, store_path: str | None = None):
        t_in = time.perf_counter()
        before = _tree_bytes(store_path) if store_path else None
        with self._lock:
            frame = {"layer": layer, "child": 0.0}
            self.stack.append(frame)
        sc = self.spark.sparkContext
        main = threading.current_thread() is threading.main_thread()
        if main:
            prev = [sc.getLocalProperty(k) for k in _GROUP_KEYS]
            sc.setJobGroup(f"{layer}:{name}", name, interruptOnCancel=False)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            t_out = time.perf_counter()
            if main:
                for k, v in zip(_GROUP_KEYS, prev):
                    sc.setLocalProperty(k, v)
            with self._lock:
                self.stack.pop()
                self.self_s[layer] = self.self_s.get(layer, 0.0) + dt - frame["child"]
                self.total_s[name] = self.total_s.get(name, 0.0) + dt
                if self.stack:
                    self.stack[-1]["child"] += dt
            if before is not None:
                after = _tree_bytes(store_path)
                created = after.keys() - before.keys()
                self.fs["created"] += len(created)
                self.fs["deleted"] += len(before.keys() - after.keys())
                self.fs["bytes_written"] += sum(after[p] for p in created)
            self.overhead_s += (t0 - t_in) + (time.perf_counter() - t_out)

    def wrap(self, module, attr: str, layer: str, store_arg: int | None = None):
        """Replace ``module.attr`` by a span wrapper. ``store_arg`` is the
        position of a store path argument whose listing is diffed around
        the call."""
        fn = getattr(module, attr)

        def wrapped(*args, **kwargs):
            path = None
            if store_arg is not None and len(args) > store_arg:
                path = args[store_arg]
            with self.span(layer, attr, path if isinstance(path, str) else None):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        setattr(module, attr, wrapped)
        self._undo.append((module, attr, fn))

    def uninstall(self) -> None:
        for module, attr, fn in reversed(self._undo):
            setattr(module, attr, fn)
        self._undo.clear()
        self.installed = False


# ---------------------------------------------------------------- /proc


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        ppid = int(st[st.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _stat(pid: int) -> tuple[float, float, int] | None:
    """(own cpu s, reaped-children cpu s, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            st = fh.read()
    except OSError:
        return None
    f = st[st.rfind(")") + 2 :].split()
    # fields after the comm: state=0 ... utime=11 stime=12 cutime=13
    # cstime=14 ... rss=21 (pages)
    return (
        (int(f[11]) + int(f[12])) / CLK_TCK,
        (int(f[13]) + int(f[14])) / CLK_TCK,
        int(f[21]) * PAGE,
    )


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and its descendants, those that
    ended and were reaped included. Time the hypervisor gave to other
    guests is not in it."""
    total = 0.0
    for p in [pid] + descendants(pid):
        s = _stat(p)
        if s is not None:
            total += s[0] + s[1]
    return total


class ProcSampler:
    """One thread sampling the JVM and its Python-worker descendants."""

    def __init__(self, jvm_pid: int, period_s: float = 0.1):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.rss_peak = 0
        self.worker_rss_peak = 0
        self._cpu: dict[int, float] = {}  # pid -> own + reaped cpu
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.busy_s = 0.0

    def _sample(self) -> None:
        t0 = time.perf_counter()
        total = 0
        workers = 0
        jvm = _stat(self.jvm_pid)
        if jvm is not None:
            total += jvm[2]
        for pid in descendants(self.jvm_pid):
            s = _stat(pid)
            if s is None:
                continue
            total += s[2]
            workers += s[2]
            self._cpu[pid] = max(self._cpu.get(pid, 0.0), s[0])
        self.rss_peak = max(self.rss_peak, total)
        self.worker_rss_peak = max(self.worker_rss_peak, workers)
        self.busy_s += time.perf_counter() - t0

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def worker_cpu_s(self) -> float:
        return sum(self._cpu.values())

    def start(self) -> "ProcSampler":
        self._sample()
        self._base = dict(self._cpu)
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return Python-worker CPU seconds since start."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return sum(v - self._base.get(p, 0.0) for p, v in self._cpu.items())


# ------------------------------------------------------------ event log


def read_eventlog(log_dir: str) -> list[dict]:
    events = []
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def summarize_jobs(
    events: list[dict], windows: list[tuple[float, float]], group: str | None = None
) -> dict:
    """Totals over the jobs submitted inside any of ``windows`` (epoch
    seconds), optionally only those of one job group, and the tasks of
    their stages."""

    def inside(t_ms: float) -> bool:
        t = t_ms / 1000.0
        return any(a <= t <= b for a, b in windows)

    jobs, stage_job = {}, {}
    for e in events:
        if e.get("Event") != "SparkListenerJobStart" or not inside(e["Submission Time"]):
            continue
        if group is None or (e.get("Properties") or {}).get("spark.jobGroup.id") == group:
            jobs[e["Job ID"]] = e
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
    out = {
        "jobs": len(jobs),
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "fetch_wait_s": 0.0,
        "spill_disk_bytes": 0,
    }
    stages = set()
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = e.get("Stage ID")
        if sid not in stage_job:
            continue
        stages.add(sid)
        out["tasks"] += 1
        if e.get("Task Info", {}).get("Failed"):
            out["failed_tasks"] += 1
        m = e.get("Task Metrics") or {}
        out["run_s"] += m.get("Executor Run Time", 0) / 1000.0
        out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        out["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
        r = m.get("Shuffle Read Metrics") or {}
        out["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
            "Local Bytes Read", 0
        )
        out["fetch_wait_s"] += r.get("Fetch Wait Time", 0) / 1000.0
        w = m.get("Shuffle Write Metrics") or {}
        out["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
    out["stages"] = len(stages)
    return out
