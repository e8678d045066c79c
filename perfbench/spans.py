"""Span tracing for the traced benchmark run.

The tracer wraps public functions of the engine's layers from outside the
engine: it rebinds every name under ``estuary_spark`` that refers to a
wrapped function (and patches ``LakeTable`` / ``ParquetLogSource`` methods),
so the engine's own files stay untouched. Each span records its thread,
start, end and the time its same-thread children covered (self time =
duration minus that).

Spark stages are attributed to spans by job group: entering a span sets the
thread's ``spark.jobGroup.id`` to the span name, leaving it restores the
enclosing span's group. Jobs launched outside every span carry no group and
are reported as ``unattributed``. Stage metrics come from the status store
(``statusTracker`` for job ids, ``statusStore().lastStageAttempt`` per
stage), which works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from dataclasses import dataclass

GROUP_PREFIX = "perfbench:"
UNATTRIBUTED = "unattributed"

# spans that wrap engine functions: span name -> (module, attribute); a
# module attribute that is a class names a method as "Class.method"
FUNCTION_SPANS = {
    "source.read_batch": ("estuary_spark.sources.log_source", "ParquetLogSource.read_batch"),
    "runner.plan_batches": ("estuary_spark.runner", "plan_batches"),
    "apply.apply_batch": ("estuary_spark.apply", "apply_batch"),
    "apply.reconcile_schema": ("estuary_spark.apply", "reconcile_schema"),
    "tables.commit_delta": ("estuary_spark.tables", "LakeTable.commit_delta"),
    "tables.commit": ("estuary_spark.tables", "LakeTable.commit"),
    "tables.commit_metadata": ("estuary_spark.tables", "LakeTable.commit_metadata"),
    "tables.manifest": ("estuary_spark.tables", "LakeTable.manifest"),
    "tables.current_version": ("estuary_spark.tables", "LakeTable.current_version"),
    "tables.read": ("estuary_spark.tables", "LakeTable.read"),
    "tables.read_changes": ("estuary_spark.tables", "LakeTable.read_changes"),
    "maintenance.compact": ("estuary_spark.maintenance", "compact"),
    "lineage.append_lineage": ("estuary_spark.lineage", "append_lineage"),
    "checkpoint.save_checkpoint": ("estuary_spark.checkpoint", "save_checkpoint"),
    "multi.route_tables": ("estuary_spark.multi", "route_tables"),
    # private, but it is where the multi-table driver waits for its
    # concurrent per-table applies; without it that wait is unattributed
    "multi.apply_fanout": ("estuary_spark.multi", "_apply_fanout"),
}

# spans that keep their caller's job group: the few jobs the fan-out runs on
# the driver thread stay unattributed rather than get a layer of their own
KEEP_GROUP = ("multi.apply_fanout",)

# spans the benchmark opens itself: the sync driver call and the reader
# operations (a LakeTable read is lazy, so its Spark jobs run in the
# benchmark's action, inside these spans)
BENCH_SPANS = ("sync", "read.snapshot", "read.point", "read.changes")

# spans whose Spark stages are reported (the others never launch a job)
JOB_SPANS = (
    "source.read_batch",
    "runner.plan_batches",
    "apply.apply_batch",
    "tables.commit_delta",
    "tables.commit",
    "maintenance.compact",
    "read.snapshot",
    "read.point",
    "read.changes",
    UNATTRIBUTED,
)

SPAN_METRICS = (("calls", "count"), ("wall_s", "s"), ("self_s", "s"))
JOB_METRICS = (
    ("jobs", "count"),
    ("task_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"),
    ("output_mb", "MB"),
)


@dataclass
class Span:
    name: str
    thread: int
    start: float
    group: str | None  # job group of the Spark jobs launched inside
    end: float = 0.0
    child_s: float = 0.0
    parent: "Span | None" = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


@dataclass
class Stage:
    stage_id: int
    group: str
    start_ms: int
    end_ms: int
    task_s: float
    shuffle_write_mb: float
    shuffle_read_mb: float
    spill_mb: float
    output_mb: float


def _resolve(module: str, attr: str):
    owner = sys.modules[module]
    if "." in attr:
        cls, attr = attr.split(".")
        owner = getattr(owner, cls)
    return owner, attr


class Tracer:
    """Records spans in memory; ``install`` wraps the engine functions and
    returns a callable that restores them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.compacted_buckets = 0  # sum of maintenance.compact's results
        self.jobs: dict[str, int] = {}  # Spark jobs per span name, set by stages()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _set_group(self, name: str | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if name is None else GROUP_PREFIX + name
        )

    def span(self, name: str):
        return _SpanContext(self, name)

    def untraced(self):
        """Run benchmark bookkeeping (the oracle) under a group no metric
        reads, so its jobs are neither a layer's nor unattributed."""
        return _SpanContext(self, "untraced", record=False)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if name == "maintenance.compact":
                with self._lock:
                    self.compacted_buckets += result
            return result

        return traced

    def install(self):
        """Wrap every FUNCTION_SPANS target wherever ``estuary_spark``
        modules bind it (``from x import f`` copies the name)."""
        import estuary_spark.maintenance  # noqa: F401  (imported lazily by the runner)
        import estuary_spark.multi  # noqa: F401
        import estuary_spark.runner  # noqa: F401

        # jobs before this point (set-up, warm-up) have no group either
        known = self.sc.statusTracker().getJobIdsForGroup(None)
        self.job_floor = max(known, default=-1) + 1
        undo = []
        for name, (module, attr) in FUNCTION_SPANS.items():
            owner, attr = _resolve(module, attr)
            orig = getattr(owner, attr)
            wrapped = self.wrap(name, orig)
            if isinstance(owner, type):
                undo.append((owner, attr, orig))
                setattr(owner, attr, wrapped)
                continue
            for mod_name, mod in list(sys.modules.items()):
                if not mod_name.startswith("estuary_spark") or mod is None:
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        undo.append((mod, key, orig))
                        setattr(mod, key, wrapped)

        def restore() -> None:
            for owner, key, orig in reversed(undo):
                setattr(owner, key, orig)

        return restore

    # ------------------------------------------------------------ results

    def stages(self) -> list[Stage]:
        """Every completed stage since ``install``, tagged with the span
        (job group) that launched it; also counts the jobs per span. A stage
        reused by a later job is counted once, under the first group seen."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        # jobs launched in a sync call outside every layer span run under
        # the "sync" group; jobs of threads that never entered a span have
        # no group. Both are unattributed.
        groups = [(n, GROUP_PREFIX + n) for n in (*FUNCTION_SPANS, *BENCH_SPANS[1:])]
        groups += [(UNATTRIBUTED, GROUP_PREFIX + "sync"), (UNATTRIBUTED, None)]
        out: dict[int, Stage] = {}
        mb = 1.0 / (1 << 20)
        self.jobs = dict.fromkeys(JOB_SPANS, 0)
        for name, gid in groups:
            job_ids = [j for j in tracker.getJobIdsForGroup(gid) if j >= self.job_floor]
            self.jobs[name] = self.jobs.get(name, 0) + len(job_ids)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in out:
                        continue
                    sd = store.lastStageAttempt(sid)
                    if not sd.submissionTime().isDefined() or not sd.completionTime().isDefined():
                        continue  # skipped: its output came from an earlier stage
                    out[sid] = Stage(
                        stage_id=sid,
                        group=name,
                        start_ms=sd.submissionTime().get().getTime(),
                        end_ms=sd.completionTime().get().getTime(),
                        task_s=sd.executorRunTime() / 1000.0,
                        shuffle_write_mb=sd.shuffleWriteBytes() * mb,
                        shuffle_read_mb=sd.shuffleReadBytes() * mb,
                        spill_mb=(sd.memoryBytesSpilled() + sd.diskBytesSpilled()) * mb,
                        output_mb=sd.outputBytes() * mb,
                    )
        return sorted(out.values(), key=lambda s: s.start_ms)

    def span_metrics(self, stages: list[Stage]) -> dict[str, tuple[float, str]]:
        """``<span>.<metric>`` for every span name, zero where unused."""
        out: dict[str, tuple[float, str]] = {}
        for name in (*FUNCTION_SPANS, *BENCH_SPANS[1:]):
            mine = [s for s in self.spans if s.name == name]
            out[f"{name}.calls"] = (len(mine), "count")
            for metric, unit in SPAN_METRICS[1:]:
                out[f"{name}.{metric}"] = (sum(getattr(s, metric) for s in mine), unit)
        for name in JOB_SPANS:
            mine = [s for s in stages if s.group == name]
            out[f"{name}.jobs"] = (self.jobs.get(name, 0), "count")
            for metric, unit in JOB_METRICS[1:]:
                out[f"{name}.{metric}"] = (sum(getattr(s, metric) for s in mine), unit)
        return out


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, record: bool = True):
        self.tracer = tracer
        self.name = name
        self.record = record

    def __enter__(self) -> Span:
        stack = self.tracer._stack()
        parent = stack[-1] if stack else None
        group = self.name
        if self.name in KEEP_GROUP:
            group = parent.group if parent else None
        self.rec = Span(self.name, threading.get_ident(), time.time(), group, parent=parent)
        stack.append(self.rec)
        self.tracer._set_group(group)
        return self.rec

    def __exit__(self, *exc) -> None:
        rec = self.rec
        rec.end = time.time()
        stack = self.tracer._stack()
        stack.pop()
        if rec.parent is not None:
            rec.parent.child_s += rec.wall_s
        self.tracer._set_group(rec.parent.group if rec.parent else None)
        if self.record:
            with self.tracer._lock:
                self.tracer.spans.append(rec)


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
