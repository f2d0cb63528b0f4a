"""Measurement from outside the program: spans, Spark job and stage
counters, and the memory high-water mark of the run's processes.

Every operation the benchmark times runs inside a ``span``. A span sets
its own Spark job group, so the jobs it starts are counted from the
group, never from the global job list, whose retention cap loses jobs.
The stage metrics of those jobs (shuffle bytes written, rows scanned,
spill, rows written) come from Spark's application status store, which
serves them with the UI off.

With tracing on, ``instrument`` also wraps the public functions of the
layers named in ``LAYERS``, so their calls become nested spans; a layer's
self time is its span time minus the time of the spans nested in it.
Spans stay in memory and are written as one JSON file at the end.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

# Layer name -> module. Public functions (and public static methods of
# public classes, for physical.io's Read/Write) are wrapped in spans.
LAYERS = {
    "queries": "thundercats_spark.queries",
    "operators.ranking": "thundercats_spark.operators.ranking",
    "operators.hierarchy": "thundercats_spark.operators.hierarchy",
    "operators.dedup": "thundercats_spark.operators.dedup",
    "operators.components": "thundercats_spark.operators.components",
    "operators.curation": "thundercats_spark.operators.curation",
    "streaming.windows": "thundercats_spark.streaming.windows",
    "functions.text_analysis": "thundercats_spark.functions.text_analysis",
    "physical.io": "thundercats_spark.physical.io",
}
# Only these names of the ``queries`` package are wrapped: load() is L0,
# the rest of the package is the registry itself.
LAYER_ONLY = {"queries": {"load"}}
STAGE_FIELDS = {
    "shuffle_bytes": "shuffleWriteBytes",
    "scan_rows": "inputRecords",
    "rows_written": "outputRecords",
    "bytes_written": "outputBytes",
    "spill_bytes": "diskBytesSpilled",
}


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "group", "jobs", "stages", "attrs")

    def __init__(self, sid, name, parent, group, attrs):
        self.id, self.name, self.parent, self.group = sid, name, parent, group
        self.start = self.end = 0.0
        self.jobs: list[int] = []
        self.stages: dict[str, int] = {}
        self.attrs = attrs

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def to_json(self, t0: float) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "start": round(self.start - t0, 6), "end": round(self.end - t0, 6),
            "jobs": len(self.jobs), **self.stages, **self.attrs,
        }


class Tracer:
    """Spans with per-span Spark job groups. Finished spans are kept in
    ``spans``. Their jobs and stage metrics are read when the outermost
    open span ends, so the reads add nothing to any span's time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pending: list[Span] = []
        self._next = 0
        self.t0 = time.perf_counter()

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name, False)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        s = Span(self._next, name, parent.id if parent else None, f"perfbench-{os.getpid()}-{self._next}", attrs)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)
            self._pending.append(s)
            if not self._stack:
                for p in self._pending:
                    self._count(p)
                self._pending.clear()

    def _count(self, s: Span) -> None:
        """Jobs of the span's own group and the summed metrics of their
        stages (each stage once; skipped stages read zero)."""
        tracker = self.sc.statusTracker()
        s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
        stage_ids = set()
        for j in s.jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        for sid in stage_ids:
            attempts = self._store.stageData(
                sid, False, jvm.java.util.ArrayList(), False, no_quantiles
            ).iterator()
            while attempts.hasNext():
                d = attempts.next()
                for key, field in STAGE_FIELDS.items():
                    totals[key] += getattr(d, field)()
        s.stages = totals

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({**meta, "spans": [s.to_json(self.t0) for s in self.spans]}, f)

    # -- wrapping layer functions ------------------------------------------

    def _wrap(self, layer: str, qualname: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(f"{layer}:{qualname}", layer=layer):
                return fn(*args, **kwargs)

        return traced

    def instrument(self) -> None:
        """Wrap each public function of every layer in ``LAYERS``, in its
        module and wherever another loaded module imported it by name."""
        import importlib

        replaced: dict[int, object] = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            only = LAYER_ONLY.get(layer)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or (only and name not in only):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == modname and not hasattr(obj, "evalType"):
                    new = self._wrap(layer, name, obj)
                    setattr(mod, name, new)
                    replaced[id(obj)] = new
                elif inspect.isclass(obj) and obj.__module__ == modname:
                    for attr, raw in list(vars(obj).items()):
                        if not attr.startswith("_") and isinstance(raw, staticmethod):
                            new = self._wrap(layer, f"{name}.{attr}", raw.__func__)
                            setattr(obj, attr, staticmethod(new))
        # Modules that did ``from <layer> import f`` hold their own reference.
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith("thundercats_spark"):
                continue
            for name, obj in list(vars(mod).items()):
                new = replaced.get(id(obj))
                if new is not None and obj is not new:
                    setattr(mod, name, new)


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span of ``spans`` nested in it."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, ()))
    return out


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Span id -> its time minus the time of its direct children."""
    child = dict.fromkeys((s.id for s in spans), 0.0)
    for s in spans:
        if s.parent in child:
            child[s.parent] += s.seconds
    return {s.id: s.seconds - child[s.id] for s in spans}


# --------------------------------------------------------------------------
# Memory of the run's processes
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Polls the VmHWM of the run's processes and keeps each pid's highest
    value, so workers that exit before the end still count. Counted: this
    process, the JVM (``jvm``, set once Spark is up) and pyspark.daemon
    with its forked workers. Other descendants are left out: a child the
    JVM spawns shares the JVM's memory until it execs, and would count
    the JVM twice."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.jvm: int | None = None
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        for p in descendants(me):
            if p in (me, self.jvm) or b"pyspark.daemon" in _cmdline(p):
                self.peak_kb[p] = max(self.peak_kb.get(p, 0), _hwm_kb(p))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop polling; the summed peaks in MB."""
        self._stop.set()
        self._thread.join()
        self.sample()
        return sum(self.peak_kb.values()) / 1024.0


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def wait_gone(pids, timeout: float = 30.0) -> list[int]:
    """Wait until none of ``pids`` is alive; kill what is left after
    ``timeout``. Returns the pids that had to be killed."""
    import signal

    me = os.getpid()
    pids = [p for p in pids if p != me]
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return []
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
