"""Measurement taken from outside the engine.

- ``Tracer``: in-memory spans (name, parent, start, end) around calls into
  the engine's public functions; wraps module attributes only while a traced
  pass runs, so nested calls (a registry query calling
  ``world.roads_materialized``) get their own span with the right parent.
- ``ProcSampler``: CPU seconds and peak RSS of the driver JVM, its Python
  workers and this process, read from ``/proc``; ``process_age_s`` for
  set-up time measured from process start.
- ``EventLog``: task metrics from the uncompressed Spark event log this
  benchmark configures.
- ``plan_metrics``: a walk over a query's executed (AQE final) plan reading
  Spark's own SQL metrics; ``phase_ms`` reads the QueryPlanningTracker.
- ``StreamProgress``: a StreamingQueryListener keeping per-batch progress.
"""

from __future__ import annotations

import functools
import json
import os
import resource
import statistics
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


# ----------------------------------------------------------------- spans
class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def wrapping(self, targets: list[tuple[object, str, str]]):
        """Temporarily replace ``module.attr`` with a span-recording wrapper
        for each (module, attr, span_name)."""
        saved = []
        for mod, attr, name in targets:
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))

            def wrapper(*a, __fn=fn, __name=name, **kw):
                with self.span(__name):
                    return __fn(*a, **kw)

            setattr(mod, attr, functools.wraps(fn)(wrapper))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part of it
        its child spans cover (children run sequentially)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child[s["id"]])
        return out

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "start": s["start"] - t0,
                                    "end": s["end"] - t0}, default=str) + "\n")


# ------------------------------------------------------------ /proc probes
def _stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def proc_cpu_s(pid: int, children: bool = False) -> float:
    """utime + stime of ``pid``; with ``children``, cutime + cstime (the CPU
    of its exited and reaped children) instead."""
    fields = _stat(pid)
    i = 13 if children else 11
    return (int(fields[i]) + int(fields[i + 1])) / CLK_TCK


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` starttime
    against CLOCK_BOOTTIME, the clock it counts on)."""
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - int(_stat(os.getpid())[19]) / CLK_TCK)


def steal_s() -> float:
    """Host CPU time stolen from this VM's vCPUs (``/proc/stat``), which
    co-tenant load shows up as."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class ProcSampler:
    """Polls RSS of the JVM plus its descendant Python workers every
    ``period`` s in a background thread; ``peak()`` is the highest summed RSS
    since the last ``reset()``.  ``driver_cpu()`` is JVM process CPU plus
    this process's CPU, less the sampler thread's own CPU.  ``worker_cpu()``
    is the CPU of the JVM's descendants (the pyspark daemon and its forked
    Python workers): live ones' own CPU plus, through cutime/cstime of their
    parents, that of workers already exited."""

    def __init__(self, jvm_pid: int, period: float = 0.1) -> None:
        self.jvm_pid = jvm_pid
        self.period = period
        self._peak = 0
        self._own_cpu = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        pids, refreshed = [], 0.0
        while not self._stop.is_set():
            c0 = time.thread_time()
            now = time.monotonic()
            if now - refreshed > 1.0:
                pids, refreshed = descendants(self.jvm_pid), now
            rss = _rss_bytes(self.jvm_pid) + sum(_rss_bytes(p) for p in pids)
            with self._lock:
                self._peak = max(self._peak, rss)
                self._own_cpu += time.thread_time() - c0
            self._stop.wait(self.period)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    def peak(self) -> int:
        with self._lock:
            return self._peak

    def driver_cpu(self) -> float:
        ru = resource.getrusage(resource.RUSAGE_SELF)
        with self._lock:
            own = self._own_cpu
        return proc_cpu_s(self.jvm_pid) + ru.ru_utime + ru.ru_stime - own

    def worker_cpu(self) -> float:
        total = proc_cpu_s(self.jvm_pid, children=True)
        for p in descendants(self.jvm_pid):
            try:
                total += proc_cpu_s(p) + proc_cpu_s(p, children=True)
            except (OSError, IndexError, ValueError):
                pass  # exited between the scan and the read
        return total


# ------------------------------------------------------------- event log
class EventLog:
    """Task records parsed from one application's uncompressed event log."""

    def __init__(self, path: str) -> None:
        self.tasks: list[dict] = []
        self.job_starts: list[int] = []
        with open(path) as f:
            for line in f:
                if '"Event":"SparkListenerTaskEnd"' in line:
                    self._task(json.loads(line))
                elif '"Event":"SparkListenerJobStart"' in line:
                    self.job_starts.append(json.loads(line)["Submission Time"])

    def _task(self, ev: dict) -> None:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics", {})
        self.tasks.append({
            "launch_ms": info["Launch Time"],
            "cpu_s": (m.get("Executor CPU Time", 0)
                      + m.get("Executor Deserialize CPU Time", 0)) / 1e9,
            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
            "spill_bytes": (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0)),
        })

    def window(self, t0: float, t1: float) -> dict:
        """Sums over tasks launched in the wall-clock window [t0, t1] (s)."""
        lo, hi = t0 * 1000, t1 * 1000
        ts = [t for t in self.tasks if lo <= t["launch_ms"] <= hi]
        return {
            "cpu_s": sum(t["cpu_s"] for t in ts),
            "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in ts),
            "spill_bytes": sum(t["spill_bytes"] for t in ts),
            "jobs": sum(lo <= j <= hi for j in self.job_starts),
        }


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}: "
                            f"{sorted(os.listdir(log_dir))}")


# -------------------------------------------------------------- plan walk
def _children(jvm, node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def plan_metrics(jvm, qe) -> dict:
    """Walk the executed plan of a QueryExecution that has run, returning
    summed shuffle/spill/python metrics, the hottest operator and the skew of
    the largest shuffle stage."""
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "python_s": 0.0,
           "python_bytes_sent": 0, "peak_mem_bytes": 0, "top_op": None,
           "top_op_s": 0.0, "top_metric": None, "skew_ratio": 0.0}
    hottest_stage_bytes = -1
    stack, seen = [qe.executedPlan()], set()
    while stack:
        node = stack.pop()
        key = node.id() if hasattr(node, "id") else id(node)
        if key in seen:
            continue
        seen.add(key)
        name = node.nodeName()
        if node.getClass().getSimpleName() == "ShuffleQueryStageExec":
            stats = node.mapStats()
            if stats.isDefined():
                sizes = list(stats.get().bytesByPartitionId())
                total = sum(sizes)
                nonzero = [s for s in sizes if s > 0]
                if total > hottest_stage_bytes and nonzero:
                    hottest_stage_bytes = total
                    out["skew_ratio"] = max(nonzero) / statistics.median(nonzero)
        metrics = conv.asJava(node.metrics())
        op_s, op_metric = 0.0, None
        for k in metrics.keySet():
            m = metrics.get(k)
            v, kind = m.value(), m.metricType()
            secs = v / 1e3 if kind == "timing" else v / 1e9 if kind == "nsTiming" else None
            if k == "shuffleBytesWritten":
                out["shuffle_write_bytes"] += v
            elif k == "spillSize":
                out["spill_bytes"] += v
            elif k == "peakMemory":
                out["peak_mem_bytes"] = max(out["peak_mem_bytes"], v)
            elif k == "pythonDataSent":
                out["python_bytes_sent"] += v
            if k.startswith("python") and secs is not None and k.endswith("TotalTime"):
                out["python_s"] += secs
            # python* timings are worker totals (python.udf_s), not operator time
            if secs is not None and name != "WholeStageCodegen" and k != "pipelineTime" \
                    and not k.startswith("python") and secs > op_s:
                op_s, op_metric = secs, k
        if op_s > out["top_op_s"]:
            out["top_op_s"], out["top_op"], out["top_metric"] = op_s, name, op_metric
        stack.extend(_children(jvm, node))
    return out


def phase_ms(qe) -> dict[str, float]:
    phases = qe.tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# ------------------------------------------------------- stream progress
def stream_listener(spark):
    """Register and return a StreamingQueryListener recording each batch's
    progress as a dict (``.batches``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.batches.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener
