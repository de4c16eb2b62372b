"""Tracing for the benchmark's traced run (``--trace 1``).

Nothing here edits the program. ``Tracer.install`` wraps public functions
of the program's layer modules from the outside, replacing every module
global in ``tagtree_spark`` that is bound to the original function (so
``from x import f`` aliases are wrapped too), and ``uninstall`` puts the
originals back. The untraced run never calls ``install``.

A span records (id, parent id, op id, name, start, end). Spans stay in
memory and are written out once, when the run ends. A layer's self time
is its spans' duration minus the time covered by their child spans.

Spark's runtime cost is read from Spark's own status store, per job group:
the benchmark tags every op's build and action with a job group, then sums
the stage metrics of the jobs in those groups.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

#: (module, attribute, span name). Module-level functions, or
#: ``Class.method`` for methods.
LAYER_FUNCTIONS = (
    ("tagtree_spark.engine", "TagTreeEngine.resolve", "engine.resolve"),
    ("tagtree_spark.engine", "TagTreeEngine.select", "engine.select"),
    ("tagtree_spark.engine", "TagTreeEngine.label_values", "engine.label_values"),
    ("tagtree_spark.engine", "TagTreeEngine.get_labels", "engine.get_labels"),
    ("tagtree_spark.engine", "TagTreeEngine.exists", "engine.exists"),
    ("tagtree_spark.engine", "TagTreeEngine.query", "engine.query"),
    ("tagtree_spark.engine", "TagTreeEngine.ingest_batch", "engine.ingest_batch"),
    ("tagtree_spark.engine", "TagTreeEngine.current_tsid", "engine.current_tsid"),
    ("tagtree_spark.tsdb.selector", "parse_selector", "tsdb.selector.parse"),
    ("tagtree_spark.tsdb.matchers", "resolve_label_matchers", "tsdb.matchers.resolve"),
    ("tagtree_spark.tsdb.matchers", "label_values", "tsdb.matchers.label_values"),
    ("tagtree_spark.tsdb.matchers", "get_labels", "tsdb.matchers.get_labels"),
    ("tagtree_spark.tsdb.exprlang", "evaluate", "tsdb.exprlang.evaluate"),
    ("tagtree_spark.tsdb.ingest", "add_series_batch", "tsdb.ingest.add_series_batch"),
    ("tagtree_spark.tsdb.ingest", "commit", "tsdb.ingest.commit"),
    ("tagtree_spark.tsdb.ingest", "exists", "tsdb.ingest.exists"),
    ("tagtree_spark.tsdb.store", "materialize_model", "tsdb.store.materialize_model"),
    ("tagtree_spark.tsdb.store", "versioned_overwrite", "tsdb.store.versioned_overwrite"),
    ("tagtree_spark.tsdb.store", "versioned_compact", "tsdb.store.versioned_compact"),
    ("tagtree_spark.tsdb.store", "compact_table", "tsdb.store.compact_table"),
    ("tagtree_spark.tsdb.storage", "ParquetSampleStorage.append", "tsdb.storage.append"),
    ("tagtree_spark.tsdb.storage", "ParquetSampleStorage.compact", "tsdb.storage.compact"),
    ("tagtree_spark.onetime_cache", "cached_dir", "onetime_cache.cached_dir"),
    ("tagtree_spark.session", "release_tracked", "session.release_tracked"),
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self._next = 1
        self._undo: list[tuple] = []
        self.op = None  # id of the op the caller is running
        self.counts: dict[str, float] = defaultdict(float)

    def begin(self, name: str) -> tuple:
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        return (sid, parent, self.op, name, time.perf_counter())

    def end(self, opened: tuple) -> None:
        t1 = time.perf_counter()
        self._stack.pop()
        self.spans.append(opened + (t1,))

    @contextmanager
    def span(self, name: str):
        opened = self.begin(name)
        try:
            yield
        finally:
            self.end(opened)

    # -- installing wrappers ----------------------------------------------

    def _wrapped(self, fn, name: str):
        tracer = self

        if name == "onetime_cache.cached_dir":
            # a miss runs the build callback; count hits and misses and time
            # the build as its own span
            @functools.wraps(fn)
            def cached_dir(cname, sf_dir, version, build, params=""):
                ran = []

                def build_traced(path):
                    ran.append(1)
                    with tracer.span("onetime_cache.build"):
                        return build(path)

                with tracer.span(name):
                    out = fn(cname, sf_dir, version, build_traced, params)
                tracer.counts["onetime_cache.misses" if ran else "onetime_cache.hits"] += 1
                return out

            return cached_dir

        if name == "session.release_tracked":
            @functools.wraps(fn)
            def release_tracked():
                with tracer.span(name):
                    n = fn()
                tracer.counts["session.released_persists"] += n
                return n

            return release_tracked

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap every function in LAYER_FUNCTIONS."""
        import importlib

        for mod_name, attr, name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                orig = owner.__dict__[meth]
                setattr(owner, meth, self._wrapped(orig, name))
                self._undo.append((owner, meth, orig))
                continue
            orig = getattr(mod, attr)
            new = self._wrapped(orig, name)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith("tagtree_spark"):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, new)
                        self._undo.append((m, k, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- reading the spans --------------------------------------------------

    def totals(self, ops: set) -> tuple[dict, dict, dict]:
        """(total ms, self ms, calls) per span name, over spans of ``ops``."""
        child_ms: dict[int, float] = defaultdict(float)
        for sid, parent, op, name, t0, t1 in self.spans:
            if parent is not None:
                child_ms[parent] += (t1 - t0) * 1e3
        total: dict[str, float] = defaultdict(float)
        own: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for sid, parent, op, name, t0, t1 in self.spans:
            if op not in ops:
                continue
            ms = (t1 - t0) * 1e3
            total[name] += ms
            own[name] += ms - child_ms[sid]
            calls[name] += 1
        return dict(total), dict(own), dict(calls)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, parent, op, name, t0, t1 in self.spans:
                fh.write(
                    json.dumps(
                        {"id": sid, "parent": parent, "op": op, "name": name,
                         "start": round(t0, 6), "end": round(t1, 6)}
                    )
                    + "\n"
                )


# -- Spark's status store ----------------------------------------------------

STAGE_SUMS = (
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "gc_s",
    "output_mb",
)


def job_groups(spark) -> dict[str, list]:
    """{job group: [JobData]} for every job the status store holds."""
    out: dict[str, list] = defaultdict(list)
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if g.isDefined():
            out[g.get()].append(j)
    return out


def spark_totals(spark, jobs: list) -> dict[str, float]:
    """Summed job, stage, task and stage-metric counts over ``jobs``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids = set()
    tot = dict.fromkeys(("jobs", "stages", "tasks") + STAGE_SUMS, 0.0)
    for j in jobs:
        tot["jobs"] += 1
        ids = j.stageIds()
        stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
    mb = 1.0 / (1 << 20)
    for sid in stage_ids:
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # evicted from the store
            continue
        if s.status().toString() == "SKIPPED":
            continue
        tot["stages"] += 1
        tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        tot["executor_run_s"] += s.executorRunTime() / 1e3
        tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
        tot["shuffle_read_mb"] += s.shuffleReadBytes() * mb
        tot["shuffle_write_mb"] += s.shuffleWriteBytes() * mb
        tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) * mb
        tot["gc_s"] += s.jvmGcTime() / 1e3
        tot["output_mb"] += s.outputBytes() * mb
    # run time the JVM did not spend on CPU: Python/Arrow workers and waits
    tot["worker_gap_s"] = tot["executor_run_s"] - tot["executor_cpu_s"]
    return tot


def catalyst_ms(df, force_plan: bool = False) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s QueryExecution. A write (the
    noop sink) plans in its own QueryExecution, so for those the caller
    asks for ``force_plan``: optimize and plan ``df`` once more, outside
    any timed span, and read the phases of that."""
    qe = df._jdf.queryExecution()
    if force_plan:
        qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)
        out[k + "_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)
