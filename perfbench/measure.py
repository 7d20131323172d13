"""Measurement primitives shared by every benchmark workload.

- ``force`` computes every column of a DataFrame and returns an
  order-insensitive checksum of its rows.
- ``quiesce`` drops cached plans and collects JVM garbage between passes.
- ``Tracer`` records spans around calls into the engine's modules, puts
  each span's Spark jobs in a job group of its own, and afterwards reads
  job and stage counts for every span from the status store.
- ``Host`` samples CPU steal and load, and resets and reads the peak
  resident memory of this process and its children (the JVM and the
  Python workers).

The engine is read only from outside: the tracer wraps module attributes,
so spans cover calls that go through a module's namespace.
"""

from __future__ import annotations

import functools
import inspect
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

PHASES = ("analysis", "optimization", "planning")


def force(df: DataFrame):
    """Compute every output column; return ``((rows, xor, sum32), action)``
    where the triple is an order-insensitive checksum of the rows and
    ``action`` is the DataFrame whose ``collect`` ran (for its plan).

    The xor and the sum of the low 32 bits of ``xxhash64`` over all
    columns change with any cell; the sum also catches a duplicated or
    dropped pair of equal rows, which cancels in the xor."""
    h = F.xxhash64(*df.columns)
    action = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(h.bitwiseAND(0xFFFFFFFF)).alias("s"),
    )
    n, x, s = action.collect()[0]
    return (int(n), int(x or 0), int(s or 0)), action


def catalyst_ms(action: DataFrame) -> dict[str, float]:
    """Analysis, optimisation and planning time of an executed plan."""
    phases = action._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def quiesce(spark) -> None:
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def median(xs):
    xs = sorted(xs)
    if not xs:
        return 0.0
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(round(q / 100 * len(xs) + 0.5)) - 1))
    return xs[k]


# ---------------------------------------------------------------- tracing

class Span:
    __slots__ = ("sid", "name", "layer", "parent", "start", "end", "group",
                 "extra_groups", "children_s", "stats")

    def __init__(self, sid, name, layer, parent):
        self.sid, self.name, self.layer, self.parent = sid, name, layer, parent
        self.start = self.end = 0.0
        self.group = ""
        self.extra_groups: list[str] = []  # jobs Spark tags itself
        self.children_s = 0.0
        self.stats: dict[str, float] = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s

    def as_dict(self, run_id: str) -> dict:
        return {"run": run_id, "id": self.sid, "parent": self.parent,
                "name": self.name, "layer": self.layer,
                "start": self.start, "end": self.end,
                "self_s": self.self_s, **self.stats}


STAGE_FIELDS = {
    "tasks": "numTasks",
    "task_s": "executorRunTime",
    "gc_s": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_records": "inputRecords",
}


class Tracer:
    """Span recorder.  Disabled, ``span`` is a no-op context manager and
    the wrapped functions call straight through."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self.actions: list[DataFrame] = []
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._next, name, layer, parent.sid if parent else None)
        self._next += 1
        sp.group = f"{self.run_id}-{sp.sid}"
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.dur
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    def instrument(self, module, layer: str) -> None:
        """Wrap every public function defined in ``module``."""
        for attr, obj in list(vars(module).items()):
            if (attr.startswith("_") or not inspect.isfunction(obj)
                    or obj.__module__ != module.__name__
                    or hasattr(obj, "evalType")):
                continue
            setattr(module, attr,
                    self.wrap(obj, f"{module.__name__}.{attr}", layer))

    def instrument_methods(self, cls, names, layer: str) -> None:
        for attr in names:
            fn = getattr(cls, attr)
            setattr(cls, attr,
                    self.wrap(fn, f"{cls.__module__}.{cls.__name__}.{attr}",
                              layer))

    def capture_actions(self, cls, attr: str) -> None:
        """Keep the DataFrames ``cls.attr`` runs on, for their plans."""
        fn = getattr(cls, attr)

        @functools.wraps(fn)
        def captured(df, *args, **kwargs):
            if self.enabled:
                self.actions.append(df)
            return fn(df, *args, **kwargs)
        setattr(cls, attr, captured)

    def collect_counts(self, spans) -> None:
        """Fill ``span.stats`` with the span's own Spark jobs, stages,
        skipped stages and stage metrics (seconds for times)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in spans:
            st = {"jobs": 0, "stages": 0, "skipped_stages": 0,
                  "spill_bytes": 0, **{k: 0 for k in STAGE_FIELDS}}
            job_ids = [j for g in (sp.group, *sp.extra_groups)
                       for j in tracker.getJobIdsForGroup(g)]
            for job_id in job_ids:
                job = store.job(job_id)
                st["jobs"] += 1
                st["skipped_stages"] += job.numSkippedStages()
                it = job.stageIds().iterator()
                while it.hasNext():
                    stage = store.lastStageAttempt(it.next())
                    st["stages"] += 1
                    if stage.status().toString() == "SKIPPED":
                        continue
                    for key, getter in STAGE_FIELDS.items():
                        st[key] += getattr(stage, getter)()
                    st["spill_bytes"] += (stage.memoryBytesSpilled()
                                          + stage.diskBytesSpilled())
            st["task_s"] /= 1000.0
            st["gc_s"] /= 1000.0
            sp.stats = st


def subtree(spans, root) -> list:
    """``root`` and every span below it."""
    kids: dict = {}
    for sp in spans:
        kids.setdefault(sp.parent, []).append(sp)
    out, todo = [], [root]
    while todo:
        sp = todo.pop()
        out.append(sp)
        todo.extend(kids.get(sp.sid, ()))
    return out


def inclusive(spans, root, key: str) -> float:
    """Sum of a Spark count over ``root`` and every span below it."""
    return sum(sp.stats.get(key, 0) for sp in subtree(spans, root))


def layer_totals(spans) -> dict[str, dict[str, float]]:
    """Per layer: calls, self time, and the time and (inclusive) Spark
    jobs at its boundary, i.e. of its spans not nested in a span of the
    same layer."""
    by_id = {sp.sid: sp for sp in spans}
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        t = out.setdefault(sp.layer, {"boundary_s": 0.0, "self_s": 0.0,
                                      "calls": 0, "jobs": 0})
        t["calls"] += 1
        t["self_s"] += sp.self_s
        p = by_id.get(sp.parent)
        while p is not None and p.layer != sp.layer:
            p = by_id.get(p.parent)
        if p is None:
            t["boundary_s"] += sp.dur
            t["jobs"] += inclusive(spans, sp, "jobs")
    return out


# ---------------------------------------------------------------- host

def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


class Host:
    """Host context for one timed region: CPU steal share, 1-minute
    load, and the peak RSS of this process tree."""

    def start(self) -> None:
        for pid in _proc_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")  # reset the VmHWM peak-RSS mark
            except OSError:
                pass
        self._cpu0 = _cpu_times()

    def stop(self) -> dict[str, float]:
        total, steal = _cpu_times()
        dt = total - self._cpu0[0]
        peak_kb = 0
        for pid in _proc_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            peak_kb += int(line.split()[1])
            except OSError:
                pass
        return {
            "steal_pct": 100.0 * (steal - self._cpu0[1]) / dt if dt else 0.0,
            "load_1m": os.getloadavg()[0],
            "peak_rss_mb": peak_kb / 1024.0,
        }
