"""Tracing for the benchmark's traced run: spans around the engine's
public functions, Spark's event log, a streaming progress listener and
/proc readings.

Spans are kept in memory. Each records its layer, name, start, end,
parent and the id of the op it belongs to. A span opened on a thread
with no open span (an operator's thread pool, the foreachBatch
callback thread) takes the op's root span as its parent.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time
import types
from dataclasses import dataclass, field

PKG = "mfdb_hafro_etl_spark"

#: layers whose public functions are wrapped: module prefix → layer name
#: (operators.<m> and plans.<m> keep their module name as the layer)
_LAYER_PREFIXES = (
    (f"{PKG}.plans.", None),
    (f"{PKG}.operators.", None),
    (f"{PKG}.sinks", "sinks"),
    (f"{PKG}.sources", "sources"),
    (f"{PKG}.streaming", "streaming"),
    (f"{PKG}.api", "api"),
    (f"{PKG}.catalog", "catalog"),
)


def layer_of(module: str) -> str | None:
    for prefix, layer in _LAYER_PREFIXES:
        if module == prefix.rstrip(".") or module.startswith(prefix):
            return layer or module[len(PKG) + 1:]
    return None


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    layer: str
    name: str
    t0: float
    t1: float = 0.0
    thread: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans. ``op_begin``/``op_end`` bracket one op; ``open``
    starts a child of the innermost open span on the calling thread.
    ``own_s`` sums the time spent inside ``open`` and ``close``: the
    cost tracing adds to the traced calls."""

    def __init__(self) -> None:
        self.own_s = 0.0
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self.op_root: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _next_id(self) -> int:
        with self._lock:
            return next(self._ids)

    def open(self, layer: str, name: str, **attrs) -> Span:
        c0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else self.op_root
        root = self.op_root
        sp = Span(self._next_id(), parent.sid if parent else None,
                  root.op if root else None, layer, name, time.time(),
                  thread=threading.get_ident(), attrs=attrs)
        st.append(sp)
        self._charge(c0)
        return sp

    def close(self, sp: Span) -> None:
        sp.t1 = time.time()
        c0 = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        self.spans.append(sp)
        self._charge(c0)

    def _charge(self, c0: float) -> None:
        d = time.perf_counter() - c0
        with self._lock:
            self.own_s += d

    def op_begin(self, op_id: int, name: str) -> Span:
        self.op_root = Span(self._next_id(), None, op_id, "op", name, time.time(),
                            thread=threading.get_ident())
        self._stack().append(self.op_root)
        return self.op_root

    def op_end(self) -> None:
        root, self.op_root = self.op_root, None
        self.close(root)

    def dump(self, path: str, extra: list[Span] = ()) -> None:
        """Write the spans (plus ``extra`` ones) as JSON lines, by start."""
        with open(path, "w") as fh:
            for s in sorted([*self.spans, *extra], key=lambda s: s.t0):
                fh.write(json.dumps({
                    "id": s.sid, "parent": s.parent, "op": s.op, "layer": s.layer,
                    "name": s.name, "start": s.t0, "end": s.t1, "thread": s.thread,
                    **({"attrs": s.attrs} if s.attrs else {}),
                }) + "\n")


class FunctionWrapper:
    """Wraps every public function defined in the traced layers, and
    rebinds each name that points at one in any loaded engine module,
    which covers names bound by ``from … import`` inside ``suite/``.
    ``uninstall`` restores the originals.

    Wrappers keep the original ``__module__`` and ``__qualname__``, so
    cloudpickle still pickles a wrapped function shipped to Python
    workers by reference to the original."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._patched: list[tuple[types.ModuleType, str, object]] = []

    def _wrap(self, fn, layer: str):
        tracer = self.tracer
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.op_root is None:
                return fn(*args, **kwargs)
            sp = tracer.open(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(sp)

        return wrapper

    def install(self) -> None:
        # an op may import a traced module on first use (operators.lm is
        # one); import them all first so their functions are wrapped too
        pkg = importlib.import_module(PKG)
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            if layer_of(info.name) is not None:
                importlib.import_module(info.name)
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and (n == PKG or n.startswith(PKG + "."))]
        wrapped: dict[int, object] = {}
        for m in mods:
            layer = layer_of(m.__name__)
            if layer is None:
                continue
            for attr, obj in list(vars(m).items()):
                if (attr.startswith("_") or not isinstance(obj, types.FunctionType)
                        or obj.__module__ != m.__name__
                        or inspect.isgeneratorfunction(obj)):
                    continue
                wrapped[id(obj)] = self._wrap(obj, layer)
        for m in mods:
            for attr, obj in list(vars(m).items()):
                w = wrapped.get(id(obj))
                if w is not None and isinstance(obj, types.FunctionType):
                    self._patched.append((m, attr, obj))
                    setattr(m, attr, w)

    def uninstall(self) -> None:
        for m, attr, obj in reversed(self._patched):
            setattr(m, attr, obj)
        self._patched.clear()


def make_listener(records: list):
    """A StreamingQueryListener that appends one dict per micro-batch
    progress event to ``records``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            states = p.stateOperators or []
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            records.append({
                "t": start.timestamp(),  # the batch's trigger time
                "batch_s": p.batchDuration / 1e3,
                "input_rows": p.numInputRows,
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "wal_commit_s": d.get("walCommit", 0) / 1e3,
                "commit_s": d.get("commitOffsets", 0) / 1e3,
                "query_planning_s": d.get("queryPlanning", 0) / 1e3,
                "latest_offset_s": d.get("latestOffset", 0) / 1e3,
                "state_rows": sum(s.numRowsTotal for s in states),
                "state_mb": sum(s.memoryUsedBytes for s in states) / 1e6,
                "state_commit_s": sum(s.commitTimeMs for s in states) / 1e3,
            })

    return _Progress()


def settle(records: list) -> None:
    """Wait until no progress event has arrived for 0.3 s (at most 3 s):
    the listener bus delivers them asynchronously."""
    n, quiet_since, deadline = len(records), time.time(), time.time() + 3
    while time.time() < deadline and time.time() - quiet_since < 0.3:
        time.sleep(0.05)
        if len(records) != n:
            n, quiet_since = len(records), time.time()


def in_window(records: list, t0: float, t1: float) -> list:
    """The progress records of batches triggered in [t0, t1]."""
    return [r for r in records if t0 <= r["t"] <= t1]


# ------------------------------------------------------------- event log
_KEEP_EVENTS = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageCompleted")

#: stage accumulable → (metric key, scale to the reported unit)
_STAGE_ACCUMS = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.input.bytesRead": ("input_mb", 1e-6),
    "internal.metrics.output.bytesWritten": ("output_mb", 1e-6),
}
JOB_METRICS = sorted({k for k, _ in _STAGE_ACCUMS.values()})


def parse_event_log(path: str) -> list[dict]:
    """Jobs of one application's event log, each with its submission
    and completion time (epoch seconds), its stage and task counts, and
    task metrics summed over its completed stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            if not any(k in line[:64] for k in _KEEP_EVENTS):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid, "t0": ev["Submission Time"] / 1e3, "t1": None,
                             "stages": 0, "tasks": 0, **{k: 0.0 for k in JOB_METRICS}}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
            else:
                si = ev["Stage Info"]
                job = jobs.get(stage_job.get(si["Stage ID"]))
                if job is None:
                    continue
                job["stages"] += 1
                job["tasks"] += si.get("Number of Tasks", 0)
                for acc in si.get("Accumulables", []):
                    hit = _STAGE_ACCUMS.get(acc.get("Name"))
                    if hit:
                        job[hit[0]] += float(acc.get("Value", 0)) * hit[1]
    return sorted(jobs.values(), key=lambda j: j["t0"])


# ------------------------------------------------------------------ /proc
def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; the fields after it start at the last ')'
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    return [comm, *raw[raw.rindex(")") + 2:].split()]


def _proc_stats() -> dict[int, list[str]]:
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                stats[int(d)] = f
    return stats


def alive(pid: int) -> bool:
    """Whether ``pid`` runs: it exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[1] != "Z"


def descendants(root_pid: int, stats: dict[int, list[str]] | None = None) -> list[int]:
    """Pids of every process below ``root_pid``."""
    stats = _proc_stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[2]), []).append(pid)
    found, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def python_workers_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, own + reaped children) of every
    Python process below ``root_pid`` (the driver JVM): the PySpark
    daemon and its forked workers."""
    stats = _proc_stats()
    tick = os.sysconf("SC_CLK_TCK")
    # stat fields 14-17 (1-based): utime stime cutime cstime
    return sum(sum(int(x) for x in stats[pid][12:16]) / tick
               for pid in descendants(root_pid, stats) if stats[pid][0].startswith("python"))


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MB (VmHWM)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ------------------------------------------------------------- analysis
def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of it child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.sid: (s.t1 - s.t0) - union_s([(c.t0, c.t1) for c in kids.get(s.sid, [])], s.t0, s.t1)
        for s in spans
    }


def innermost(spans: list[Span], t: float) -> Span | None:
    """The latest-started span open at time ``t``."""
    best = None
    for s in spans:
        if s.t0 <= t <= s.t1 and (best is None or s.t0 >= best.t0):
            best = s
    return best
