"""Spans, Spark job groups, event-log folding, CPU time and memory
sampling.

Every timed call goes through :meth:`Tracer.span`, which records its
wall-clock interval and parent span, and on request the CPU time of
the process tree (:func:`tree_cpu_s`).  In a traced run the span also
becomes the Spark job group of the calling thread, the session writes
an uncompressed, non-rolling event log, and :func:`fold_event_log`
folds its ``SparkListenerTaskEnd`` events into rows per job group and
per stage.  Untraced runs keep the intervals and CPU times only.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    wall_start: float = 0.0
    wall_end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb{self.sid:05d}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``spark_context`` set, labels Spark jobs.

    Job groups are thread-local in PySpark, so a span opened in a
    worker thread labels that thread's jobs only, and the previous
    group is restored when the span closes."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None,
             cpu: bool = False, **attrs):
        """``cpu=True`` also records ``attrs["cpu_s"]``, the CPU time
        this process tree spent during the span (see tree_cpu_s)."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sp = Span(len(self.spans), name,
                      parent.sid if parent else None, 0.0, attrs=attrs)
            self.spans.append(sp)
        prev = self.sc.getLocalProperty("spark.jobGroup.id") \
            if self.sc else None
        if self.sc:
            self.sc.setJobGroup(sp.group, name)
        stack.append(sp)
        cpu0 = tree_cpu_s(os.getpid()) if cpu else 0.0
        sp.wall_start = time.time()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.wall_end = time.time()
            if cpu:
                sp.attrs["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            stack.pop()
            if self.sc:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap_method(self, obj, method: str, name: str,
                    parent: Span | None = None) -> None:
        """Shadow ``obj.method`` with a spanned version, so calls the
        object makes to itself (also from its own worker threads) are
        attributed.  ``parent`` links spans opened in other threads."""
        inner = getattr(obj, method)

        def spanned(*a, **kw):
            with self.span(name, parent=parent if not self._stack()
                           else None):
                return inner(*a, **kw)
        setattr(obj, method, spanned)

    def resolver(self):
        """Job-group key for a job: its own group, or, for a job
        submitted from a thread the library started itself (which
        does not inherit the caller's group), the innermost span open
        at its submission time."""
        def resolve(group: str | None, submit_ms: float) -> str | None:
            if group is not None:
                return group
            t = submit_ms / 1000.0
            open_at = [s for s in self.spans
                       if s.wall_start <= t <= s.wall_end]
            if not open_at:
                return None
            return max(open_at, key=lambda s: s.wall_start).group
        return resolve

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, sp: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(kids.get(cur.sid, []))
        return out


def exposed_seconds(sp: Span, others: list[Span]) -> float:
    """Part of ``sp``'s interval not covered by any of ``others`` —
    the time ``sp`` adds to the critical path when it runs beside
    them."""
    cuts = sorted((max(o.start, sp.start), min(o.end, sp.end))
                  for o in others if o.end > sp.start and o.start < sp.end)
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in cuts:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return sp.seconds - covered


# ---------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------

EVENT_LOG_CONFS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def event_log_confs(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {**EVENT_LOG_CONFS, "spark.eventLog.dir": "file://" + log_dir}


def find_event_log(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(logs)}")
    return logs[0]


@dataclass
class StageRow:
    stage: int
    group: str | None
    tasks: int = 0
    run_ms: list[int] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0

    @property
    def task_s(self) -> float:
        return sum(self.run_ms) / 1000.0

    @property
    def skew(self) -> float:
        """Slowest task over the median task (1.0 when uniform)."""
        med = statistics.median(self.run_ms) if self.run_ms else 0
        return max(self.run_ms) / med if med else 1.0


@dataclass
class GroupRow:
    jobs: int = 0
    stages: dict[int, StageRow] = field(default_factory=dict)

    def total(self, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages.values())

    @property
    def tasks(self) -> int:
        return int(self.total("tasks"))

    @property
    def task_s(self) -> float:
        return self.total("task_s")

    @property
    def skew(self) -> float:
        """Skew of the stage with the most task time."""
        if not self.stages:
            return 1.0
        return max(self.stages.values(), key=lambda s: s.task_s).skew


def fold_event_log(path: str, resolve=None) -> dict[str | None, GroupRow]:
    """Fold task-end events into per-job-group rows of per-stage
    totals.  A stage belongs to the group of the first job that lists
    it; ``resolve(group, submit_ms)`` may map a job to another key
    (see :meth:`Tracer.resolver`)."""
    resolve = resolve or (lambda g, _t: g)
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, GroupRow] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = resolve(
                    (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    ev.get("Submission Time", 0))
                groups.setdefault(g, GroupRow()).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = stage_group.get(sid)
                row = groups.setdefault(g, GroupRow())
                st = row.stages.setdefault(sid, StageRow(sid, g))
                m = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.run_ms.append(int(m.get("Executor Run Time", 0)))
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
                st.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
                st.output_bytes += int(
                    (m.get("Output Metrics") or {}).get("Bytes Written", 0))
    return groups


def merge_groups(rows: list[GroupRow]) -> GroupRow:
    out = GroupRow()
    for r in rows:
        out.jobs += r.jobs
        out.stages.update(r.stages)
    return out


def span_row(tracer: Tracer, folded: dict, sp: Span) -> GroupRow:
    """Totals of ``sp`` and every span opened inside it."""
    return merge_groups([folded[s.group] for s in tracer.descendants(sp)
                         if s.group in folded])


# ---------------------------------------------------------------------
# CPU time and resident memory of this process tree, from /proc
# ---------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, list[str]]:
    """The fields after the command name of every /proc/<pid>/stat."""
    out: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii",
                      errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(d)] = stat.rsplit(")", 1)[1].split()
    return out


def _children_map(stats: dict[int, list[str]] | None = None
                  ) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid, fields in (stats or _proc_stats()).items():
        kids.setdefault(int(fields[1]), []).append(pid)
    return kids


# JVM options that keep the JIT compiler threads alive for the JVM's
# whole life, so that their CPU time can be taken out of the process's
# (the JVM otherwise starts and ends compiler threads as its queue
# grows and shrinks, and an ended thread's time stays in the total)
JVM_OPTIONS = "-XX:-UseDynamicNumberOfCompilerThreads"
_COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
_compiler_tids: dict[int, list[int]] = {}


def _cpu_ticks(fields: list[str]) -> int:
    # utime, stime, cutime, cstime
    return sum(int(x) for x in fields[11:15])


def _compiler_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of JVM ``pid``."""
    for _ in range(2):
        tids = _compiler_tids.get(pid)
        if tids is None:
            tids = []
            for t in os.listdir(f"/proc/{pid}/task"):
                try:
                    with open(f"/proc/{pid}/task/{t}/comm") as f:
                        if f.read().startswith(_COMPILER_THREADS):
                            tids.append(int(t))
                except OSError:
                    continue
            _compiler_tids[pid] = tids
        try:
            total = 0
            for t in tids:
                with open(f"/proc/{pid}/task/{t}/stat", encoding="ascii",
                          errors="replace") as f:
                    total += _cpu_ticks(f.read().rsplit(")", 1)[1].split())
            return total
        except OSError:  # a thread ended: look them up again
            del _compiler_tids[pid]
    return 0


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and every process under
    it, with the reaped children each has waited for, less the JVM's
    JIT compiler threads.  Those compile whatever crossed a threshold
    last, so their time lands on whichever call happens to be running;
    in a warm run it was the largest source of call-to-call variance.
    Time a hypervisor steals from the guest's CPUs is not counted, nor
    is time spent waiting for a CPU."""
    stats = _proc_stats()
    kids = _children_map(stats)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        fields = stats.get(pid)
        if fields is None:
            continue
        ticks += _cpu_ticks(fields)
        if pid != root and fields[0] != "Z" and _is_java(pid):
            ticks -= _compiler_ticks(pid)
        todo.extend(kids.get(pid, []))
    return ticks / _TICK


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def _status(pid: int) -> tuple[str, int]:
    """(command name, VmRSS in kB) of a process; RSS 0 when gone."""
    name, rss = "?", 0
    try:
        with open(f"/proc/{pid}/status", encoding="ascii",
                  errors="replace") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split(None, 1)[1].strip()
                elif line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
                    break
    except OSError:
        pass
    return name, rss


def tree_rss_mb(root: int) -> dict[str, float]:
    """RSS in MB of ``root`` (key ``driver``) and of its ``java`` and
    ``python*`` descendants, summed per command name.  Other
    descendants are short-lived helpers; one the JVM has forked but not
    yet exec'd would count the JVM's resident pages a second time."""
    kids = _children_map()
    out: dict[str, float] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        name, rss = _status(pid)
        if pid == root:
            name = "driver"
        if pid == root or name == "java" or name.startswith("python"):
            out[name] = out.get(name, 0.0) + rss / 1024.0
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Samples the summed RSS of the JVM and the Python workers under
    this process every ``interval`` seconds, plus what this (driver)
    process gained since the last :meth:`paused` block.  The driver
    also holds the benchmark's own reference data, which grows outside
    the timed sections; changes to it go inside :meth:`paused`, so that
    only the library's driver-side memory counts.  ``peak_mb`` is the
    largest sum seen and ``peak_parts`` its split."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._me = os.getpid()
        self._lock = threading.Lock()
        self._driver_base = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            with self._lock:
                parts = tree_rss_mb(self._me)
                parts["driver"] = max(0.0, parts["driver"]
                                      - self._driver_base)
                total = sum(parts.values())
                if total > self.peak_mb:
                    self.peak_mb, self.peak_parts = total, parts
            self._stop.wait(self.interval)

    @contextlib.contextmanager
    def paused(self):
        """No samples inside; the driver's RSS after the block becomes
        the new base."""
        with self._lock:
            yield
            self._driver_base = _status(self._me)[1] / 1024.0

    def __enter__(self) -> "RssSampler":
        self._driver_base = _status(self._me)[1] / 1024.0
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
