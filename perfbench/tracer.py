"""Per-query layer spans for the traced run.

Each query runs as a root span with three phases: ``build`` (the
registered ``spec.fn`` call, which constructs the plan and runs any eager
jobs), ``plan`` (forcing ``queryExecution().executedPlan()``) and ``exec``
(the noop sink).  ``plan`` is an extra planning run that the untraced
window never makes: the noop write wraps the query in a command with a
``QueryExecution`` of its own, which optimizes and plans the whole tree
again.  So ``exec.s`` still holds the write's real planning, build, plan
and exec together exceed the untraced window by about ``plan.s``, and
that extra run counts in ``trace_overhead_frac``.  Inside ``build``, calls into ``sources.load_table``, the
``datapipe.stage.staged_*`` builders and ``cachectl.query_scoped_persist``
get spans of their own.  Those functions are wrapped where the package's
modules bind them, for the duration of the traced pass only; the package
itself is not edited.

Every span runs under its own Spark job group, so the event log attributes
jobs, stages and tasks to the innermost open span.  Self time is a span's
duration minus the time its direct children cover.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import eventlog

PKG = "bigdataprocessingcoursework_nyc_rideshare_analysis__spark"

#: per-layer metrics that depend on when Python's and the JVM's GC run
GC_DEPENDENT = ("cache.persistent_rdds_after", "cache.resident_bytes_after", "jvm.heap_after_mb")


@dataclass
class Span:
    name: str
    query: str
    parent: "Span | None"
    group: str
    dur: float = 0.0
    child_s: float = 0.0
    # stage spans: whether the call found its artifacts already built
    hit: bool = True

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class QueryProbe:
    """JVM/process counters read around one query, outside its window."""

    codegen_count: int = 0
    codegen_mean_ms: float = 0.0
    gc_ms: int = 0
    worker_cpu: float = 0.0
    pins: int = 0
    stage_bytes: int = 0
    after: dict = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


def _success_markers(path: str) -> set[str]:
    return {root for root, _dirs, files in os.walk(path) if "_SUCCESS" in files}


class Tracer:
    def __init__(self, spark, tree, slots: int, stage_root, tag: str) -> None:
        self.spark = spark
        self.tag = tag  # keeps job groups of two tracers in one event log apart
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.tree = tree
        self.slots = slots
        self.stage_root = stage_root  # callable: current stage directory
        self.spans: list[Span] = []
        self.probes: dict[str, tuple[QueryProbe, QueryProbe]] = {}
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._pins = 0

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, query: str | None = None):
        parent = self._stack[-1] if self._stack else None
        query = query if query is not None else parent.query
        sp = Span(name, query, parent, f"perfbench:{self.tag}:{query}:{len(self.spans)}")
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, query)
        start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.dur = time.perf_counter() - start
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.dur
                self.sc.setJobGroup(parent.group, query)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self._stack:  # called outside a traced query
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_stage(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self._stack:
                return fn(*args, **kwargs)
            before = _success_markers(self.stage_root())
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            sp.hit = _success_markers(self.stage_root()) <= before
            return out

        return wrapper

    def _wrap_pin(self, fn, name: str | None):
        inner = self._wrap(fn, name) if name else fn

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self._pins += 1
            return inner(*args, **kwargs)

        return wrapper

    # -- binding-site patches ------------------------------------------------

    def install(self) -> None:
        from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe import stage
        from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions import cachectl
        from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import tables

        # original function's id -> wrapper
        targets = {id(tables.load_table): self._wrap(tables.load_table, "sources.load_table")}
        targets[id(cachectl.query_scoped_persist)] = self._wrap_pin(
            cachectl.query_scoped_persist, "cachectl.query_scoped_persist"
        )
        for attr in dir(stage):
            if attr.startswith("staged_"):
                fn = getattr(stage, attr)
                targets[id(fn)] = self._wrap_stage(fn, f"stage.{attr}")
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if id(value) in targets:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, targets[id(value)])
        # eager checkpoints pin blocks too; they are counted, not spanned,
        # so their jobs stay in the calling span's self work
        df_cls = type(self.spark.range(1))
        self._patched.append((df_cls, "localCheckpoint", df_cls.localCheckpoint))
        df_cls.localCheckpoint = self._wrap_pin(df_cls.localCheckpoint, None)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- probes --------------------------------------------------------------

    def _probe(self) -> QueryProbe:
        hist = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return QueryProbe(
            codegen_count=hist.getCount(),
            codegen_mean_ms=hist.getSnapshot().getMean(),
            gc_ms=sum(b.getCollectionTime() for b in beans),
            worker_cpu=self.tree.worker_cpu(),
            pins=self._pins,
            stage_bytes=_dir_bytes(self.stage_root()),
        )

    def run_query(self, query: str, fn, sf_dir: str):
        """Run one query under spans; returns the root span's duration."""
        before = self._probe()
        with self.span("query", query) as root:
            with self.span("build"):
                df = fn(self.spark, sf_dir)
            with self.span("plan"):  # an extra planning run; see the module docstring
                df._jdf.queryExecution().executedPlan()
            with self.span("exec"):
                df.write.format("noop").mode("overwrite").save()
        self.probes[query] = (before, self._probe())
        return root.dur

    def after_release(self, query: str) -> None:
        """Residency read once the harness has released the query's caches."""
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        heap = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        self.probes[query][1].after = {
            "cache.persistent_rdds_after": jsc.getPersistentRDDs().size(),
            "cache.resident_bytes_after": sum(i.memSize() + i.diskSize() for i in infos),
            "jvm.heap_after_mb": heap.getUsed() / 2**20,
        }

    # -- ledger --------------------------------------------------------------

    def ledger(self, event_log_dir: str, input_bytes: int) -> dict[str, dict[str, float]]:
        """Per-query per-layer metrics; call after the event log is closed."""
        work = eventlog.parse(event_log_dir)
        empty = eventlog.GroupWork()
        out: dict[str, dict[str, float]] = {}
        for query, (before, after) in self.probes.items():
            spans = [s for s in self.spans if s.query == query]
            by_name = {s.name: s for s in spans if s.parent is not None and s.parent.parent is None}
            loads = [s for s in spans if s.name == "sources.load_table"]
            stages = [s for s in spans if s.name.startswith("stage.")]
            top_stages = [s for s in stages if not _has_stage_ancestor(s)]
            build, plan, ex = by_name["build"], by_name["plan"], by_name["exec"]
            bw, ew = work.get(build.group, empty), work.get(ex.group, empty)
            all_work = eventlog.GroupWork()
            for s in spans:
                all_work.add(work.get(s.group, empty))
            n_compiles = after.codegen_count - before.codegen_count
            stage_bytes = after.stage_bytes - before.stage_bytes
            row = {
                "sources.load_calls": len(loads),
                "sources.load_s": sum(s.dur for s in loads),
                "sources.load_jobs": sum(work.get(s.group, empty).jobs for s in loads),
                "build.self_s": build.self_s,
                "build.jobs": bw.jobs,
                "build.stages": bw.stages,
                "plan.s": plan.dur,
                "exec.s": ex.dur,
                "exec.jobs": ew.jobs,
                "exec.stages": ew.stages,
                "exec.tasks": ew.tasks,
                "exec.run_s": ew.run_s,
                "exec.core_busy_frac": ew.run_s / (ex.dur * self.slots) if ex.dur else 0.0,
                "exec.task_cpu_s": ew.cpu_s,
                "exec.shuffle_read_bytes": ew.shuffle_read_bytes,
                "exec.shuffle_write_bytes": ew.shuffle_write_bytes,
                "exec.spill_bytes": ew.spill_bytes,
                "exec.jvm_gc_s": ew.gc_s,
                "codegen.compiles": n_compiles,
                # CodegenMetrics keeps a sampled histogram, not a sum: the
                # compile time is the count times the histogram's mean
                "codegen.compile_s": n_compiles * after.codegen_mean_ms / 1e3,
                "python.worker_cpu_s": after.worker_cpu - before.worker_cpu,
                "python.bytes_to_worker": all_work.py_bytes_sent,
                "python.bytes_from_worker": all_work.py_bytes_returned,
                "cache.pins": after.pins - before.pins,
                "stage.calls": len(stages),
                "stage.hits": sum(s.hit for s in stages),
                "stage.hit_ratio": sum(s.hit for s in stages) / len(stages) if stages else 0.0,
                "stage.build_s": sum(s.dur for s in top_stages if not s.hit),
                "stage.bytes_written": stage_bytes,
                "stage.write_amp": stage_bytes / input_bytes,
                "jvm.gc_s": (after.gc_ms - before.gc_ms) / 1e3,
                "query.s": next(s.dur for s in spans if s.parent is None),
                "query.jobs": all_work.jobs,
                "query.stages": all_work.stages,
                "query.tasks": all_work.tasks,
            }
            row.update(after.after)
            out[query] = row
        return out


def _has_stage_ancestor(span: Span) -> bool:
    p = span.parent
    while p is not None:
        if p.name.startswith("stage."):
            return True
        p = p.parent
    return False


def totals(ledger: dict[str, dict[str, float]], slots: int, input_bytes: int) -> dict[str, float]:
    """Run-level per-layer metrics from the per-query ledger: sums of counts,
    seconds and bytes; ratios recomputed from the sums; the ``*_after``
    residency readings as their maximum over queries."""
    rows = list(ledger.values())

    def total(key: str) -> float:
        return sum(r[key] for r in rows)

    summed = (
        "sources.load_calls sources.load_s sources.load_jobs build.self_s build.jobs build.stages "
        "plan.s exec.s exec.jobs exec.stages exec.tasks exec.task_cpu_s exec.shuffle_read_bytes "
        "exec.shuffle_write_bytes exec.spill_bytes exec.jvm_gc_s codegen.compiles codegen.compile_s "
        "python.worker_cpu_s python.bytes_to_worker python.bytes_from_worker cache.pins stage.calls "
        "stage.build_s stage.bytes_written jvm.gc_s"
    ).split()
    out = {key: total(key) for key in summed}
    exec_s = out["exec.s"]
    out["exec.core_busy_frac"] = total("exec.run_s") / (exec_s * slots) if exec_s else 0.0
    out["stage.hit_ratio"] = total("stage.hits") / out["stage.calls"] if out["stage.calls"] else 0.0
    out["stage.write_amp"] = out["stage.bytes_written"] / input_bytes
    for key in GC_DEPENDENT:
        out[key] = max((r[key] for r in rows), default=0.0)
    return out
