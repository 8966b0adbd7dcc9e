"""Span tracing for the benchmark's traced runs.

Spans are recorded around calls into the engine's layers from the
outside: the benchmark wraps a few public functions (``WRAPPED``) in every
``maplejuice_spark`` module that holds them, and reads Spark's own status
store for job, stage and task figures. Spans and counts stay in memory
until the run ends, when ``dump`` writes the spans out. Time spent on
this bookkeeping is summed in ``Tracer.overhead_s`` so the run can
report it.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute, span name) of the layer entry points that get a span
# on every call, wherever a module imported them by name.
WRAPPED = (
    ("maplejuice_spark.catalog", "load_table", "catalog.load_table"),
    ("maplejuice_spark.functions", "materialize", "checkpoint"),
    ("maplejuice_spark.functions", "release_checkpoints", "checkpoint.release"),
    ("maplejuice_spark.artifacts", "load_or_build", "artifacts.load_or_build"),
)

# Scope names of physical operators that run user code in Python workers.
PYTHON_OPERATORS = (
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "PythonUDTF", "ArrowEvalPythonUDTF",
)

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    child_s: float = 0.0  # time covered by direct children

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counts: Counter = field(default_factory=Counter)
    overhead_s: float = 0.0
    absent: list[str] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _restore: list[tuple[object, str, object]] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        idx = len(self.spans)
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else -1)
        self.spans.append(sp)
        self._stack.append(idx)
        t1 = time.perf_counter()
        sp.start = t1
        self.overhead_s += t1 - t0
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            sp.end = t2
            self._stack.pop()
            if sp.parent >= 0:
                self.spans[sp.parent].child_s += sp.dur
            self.overhead_s += time.perf_counter() - t2

    def reset(self) -> None:
        """Forget what was recorded so far (the warm-up)."""
        self.spans.clear()
        self.counts.clear()
        self.overhead_s = 0.0

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines: name, start, end (seconds from
        the first span) and the index of the parent span (-1 for none)."""
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "start": s.start - t0,
                                    "end": s.end - t0, "parent": s.parent}) + "\n")

    def totals(self, name: str) -> tuple[int, float, float]:
        """(calls, total seconds, total self seconds) of spans ``name``."""
        sel = [s for s in self.spans if s.name == name]
        return len(sel), sum(s.dur for s in sel), sum(s.self_s for s in sel)

    # -- wrapping the program's layer entry points -------------------------

    def install(self, hooks: dict | None = None) -> None:
        """Wrap every ``WRAPPED`` function in each loaded engine module that
        holds it. ``hooks`` maps a span name to a function called before
        each call; it returns a function called after the call."""
        hooks = hooks or {}
        for mod_name, attr, span_name in WRAPPED:
            try:
                orig = getattr(importlib.import_module(mod_name), attr)
            except (ImportError, AttributeError):
                self.absent.append(f"{mod_name}.{attr}")
                continue
            wrapper = self._wrap(orig, span_name, hooks.get(span_name))
            for name, mod in list(sys.modules.items()):
                if name.startswith("maplejuice_spark") and getattr(mod, attr, None) is orig:
                    self._restore.append((mod, attr, orig))
                    setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()

    def _wrap(self, fn, span_name: str, hook):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            after = hook() if hook else None
            self.overhead_s += time.perf_counter() - t0
            with self.span(span_name):
                out = fn(*args, **kwargs)
            if after:
                t0 = time.perf_counter()
                after()
                self.overhead_s += time.perf_counter() - t0
            return out

        return wrapper


# -- Spark status store ----------------------------------------------------


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _scope_names(cluster, out: list[str]) -> list[str]:
    out.append(cluster.name())
    for child in _seq(cluster.childClusters()):
        _scope_names(child, out)
    return out


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    python_run_s: float = 0.0
    # stages that scan input and run Python: records in and shuffled out
    python_scan_rows: int = 0
    python_scan_shuffle_records: int = 0


def stage_totals(spark, group_of) -> dict[object, StageTotals]:
    """Sum completed-stage metrics per key, where ``group_of(job_group)``
    maps a job's group id to a key (or None to skip the job).

    Waits for the listener bus to drain first, so every finished job is in
    the status store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stage_key: dict[int, object] = {}
    out: dict[object, StageTotals] = {}
    for job in _seq(store.jobsList(None)):
        g = job.jobGroup()
        key = group_of(g.get()) if g.isDefined() else None
        if key is None:
            continue
        out.setdefault(key, StageTotals()).jobs += 1
        for sid in _seq(job.stageIds()):
            stage_key[sid] = key
    empty = spark.sparkContext._gateway.new_array(spark.sparkContext._gateway.jvm.double, 0)
    for st in _seq(store.stageList(None, False, False, empty, None)):
        key = stage_key.get(st.stageId())
        if key is None or st.status().toString() != "COMPLETE":
            continue
        t = out[key]
        t.stages += 1
        t.tasks += st.numCompleteTasks()
        t.input_rows += st.inputRecords()
        t.input_bytes += st.inputBytes()
        t.shuffle_read_bytes += st.shuffleReadBytes()
        t.shuffle_write_bytes += st.shuffleWriteBytes()
        t.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        run_s = st.executorRunTime() / 1e3
        t.task_run_s += run_s
        t.task_cpu_s += st.executorCpuTime() / 1e9
        t.gc_s += st.jvmGcTime() / 1e3
        scopes = _scope_names(store.operationGraphForStage(st.stageId()).rootCluster(), [])
        if any(s.startswith(PYTHON_OPERATORS) for s in scopes):
            t.python_run_s += run_s
            if st.inputRecords() > 0:
                t.python_scan_rows += st.inputRecords()
                t.python_scan_shuffle_records += st.shuffleWriteRecords()
    return out


def resident_storage_mb(spark) -> float:
    """Bytes of cached and checkpointed RDD blocks the executors hold."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the driver JVM, from /proc."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def tree_size(path: str) -> tuple[int, int]:
    """(total bytes, number of data files) of regular files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            if not n.startswith(("_", ".")):
                files += 1
    return total, files
