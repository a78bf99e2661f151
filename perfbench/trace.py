"""Traced runs: spans around calls into the engine's public functions,
and Spark's own counters read back from its event log.

A span names the layer (the engine module) it times and sets the Spark
job group to that name, so every job, stage and task in the event log
can be charged to the layer that caused it. Spans close on a ``noop``
write or on the real sink, never on ``count()``. Nothing here changes
the engine: patched functions are restored when the tracer closes.

Each thread keeps its own span stack (Spark job groups are per thread
too); a worker thread's outermost span is a child of the main thread's
innermost one. Self times are only additive when spans do not overlap
in time, so the traced pass of a workload runs its engine calls one at
a time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict

UNATTRIBUTED = "unattributed"

# Python-worker SQL metrics of Spark 4.1 (PythonSQLMetrics.scala); the
# run time is a timing metric in milliseconds, data sent is in bytes
PYTHON_RUN = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"


class NullTracer:
    """Untraced runs: engine calls go straight through."""

    def span(self, layer: str):
        return contextlib.nullcontext()

    def call(self, layer: str, fn, *args, **kwargs):
        return fn(*args, **kwargs)


class Tracer:
    """Records per-layer self time and keeps every layer output it
    materialized (``outputs[layer]``, row counts in ``rows[layer]``, the
    ``keep`` columns in ``kept[layer]``), so checks and counters can read
    them after the pass.

    Job groups are ``{tag}/{layer}``, so the event log of a process that
    also ran untraced passes can be cut down to this tracer's jobs."""

    def __init__(self, spark, tag: str, keep: dict[str, tuple] | None = None):
        self.spark = spark
        self.tag = tag
        # layer -> columns of its outputs to collect while they are cached
        # (the engine may unpersist an output before the pass ends)
        self.keep = keep or {}
        self.kept: dict[str, list] = defaultdict(list)
        self.self_s: dict[str, float] = defaultdict(float)
        self.outputs: dict[str, list] = defaultdict(list)
        self.rows: dict[str, list[int]] = defaultdict(list)
        self.count_s = 0.0  # time spent counting outputs, in no layer
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self._main: list = []  # span stack of the thread that called begin()

    def _group(self, layer: str) -> None:
        group = f"{self.tag}/{layer}"
        self.spark.sparkContext.setJobGroup(group, group)

    def begin(self) -> None:
        """Make the calling thread the pass's main thread and charge its
        jobs outside any span to ``unattributed``. A span opened with no
        span open in its own thread (an engine worker thread) is a child
        of the main thread's innermost open span."""
        self._main = self._stack()
        self._group(UNATTRIBUTED)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []  # [layer, start, time in child spans]
        return self._local.stack

    @contextlib.contextmanager
    def span(self, layer: str):
        stack = self._stack()
        self._group(layer)
        stack.append([layer, time.perf_counter(), 0.0])
        try:
            yield
        finally:
            _layer, start, child = stack.pop()
            dur = time.perf_counter() - start
            parent = stack or self._main
            with self._lock:
                self.self_s[layer] += dur - child
                if parent:
                    parent[-1][2] += dur
            self._group(parent[-1][0] if parent else UNATTRIBUTED)

    def materialize(self, layer: str, df):
        """Run ``df`` to the end through a noop sink and keep its rows
        cached, so the engine's next action reads them instead of
        recomputing the layer. The row count that follows reads the
        cache and is charged to no layer."""
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
        t = time.perf_counter()
        self._group("count")
        n = df.count()
        kept = df.select(*self.keep[layer]).collect() if layer in self.keep else None
        self._group(layer)
        dt = time.perf_counter() - t
        stack = self._stack()
        if stack:
            stack[-1][2] += dt
        with self._lock:
            self.outputs[layer].append(df)
            self.rows[layer].append(n)
            if kept is not None:
                self.kept[layer].append(kept)
            self.count_s += dt
        return df

    def call(self, layer: str, fn, *args, **kwargs):
        """``fn(*args)`` (a DataFrame or a tuple of them) as a ``layer``
        span that ends when its output is materialized."""
        with self.span(layer):
            out = fn(*args, **kwargs)
            if isinstance(out, tuple):
                return tuple(self.materialize(layer, d) for d in out)
            return self.materialize(layer, out)

    def patch(self, module, name: str, layer: str) -> None:
        """Route every call of ``module.name`` through :meth:`call`. The
        engine imports these functions at call time, so patching the
        module attribute reaches every caller."""
        orig = getattr(module, name)

        def traced(*args, **kwargs):
            return self.call(layer, orig, *args, **kwargs)

        setattr(module, name, traced)
        self._patches.append((module, name, orig))

    def close(self) -> None:
        for dfs in self.outputs.values():
            for df in dfs:
                df.unpersist()
        self.outputs.clear()
        for module, name, orig in reversed(self._patches):
            setattr(module, name, orig)
        self._patches.clear()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _event_files(log_dir: str) -> list[str]:
    """Rolling logs are ``eventlog_v2_*/events_<n>_*``; order by n."""

    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(files, key=index)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, executor run time, Python-worker run
    time, bytes sent to Python, shuffle bytes written, bytes spilled to
    disk, and task skew (the largest max/median task run time over the
    group's stages with at least four tasks). Raises if the log is
    missing or if pandas UDFs ran but the Python-worker time metric was
    never seen (a renamed metric would otherwise read as zero)."""
    files = _event_files(log_dir)
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    task_ms: dict[tuple[str, int], list[float]] = defaultdict(list)
    seen_python_sent = seen_python_run = False
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or UNATTRIBUTED
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    group = stage_group.get(sid, UNATTRIBUTED)
                    g = out[group]
                    m = ev.get("Task Metrics") or {}
                    run_ms = float(m.get("Executor Run Time", 0))
                    g["tasks"] += 1
                    g["run_s"] += run_ms / 1e3
                    task_ms[(group, sid)].append(run_ms)
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name")
                        if name == PYTHON_RUN:
                            seen_python_run = True
                            g["python_run_s"] += float(acc.get("Update", 0)) / 1e3
                        elif name == PYTHON_SENT:
                            seen_python_sent = True
                            g["arrow_to_python_mb"] += float(acc.get("Update", 0)) / 1e6
    if seen_python_sent and not seen_python_run:
        raise RuntimeError(f"event log has {PYTHON_SENT!r} but no {PYTHON_RUN!r}")
    for (group, _sid), times in task_ms.items():
        if len(times) >= 4 and statistics.median(times) > 0:
            skew = max(times) / statistics.median(times)
            out[group]["task_skew"] = max(out[group]["task_skew"], skew)
    return {k: dict(v) for k, v in out.items()}


def jvm_gc_seconds(spark) -> float:
    """Total collection time of the driver JVM (local mode: the executor
    too). Summing per-task GC time would count a pause once per task
    running through it."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3
