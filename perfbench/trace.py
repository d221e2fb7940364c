"""Spans around the engine's layer functions, and the Spark event log
folded into per-span counters.

A span records a name, start, end, parent span and operation id. On
entry it sets a Spark job group unique to the span and on exit it
restores the parent's group, so every job the span's thread submits
carries the span's group into the event log. Jobs submitted from
threads that never entered a span (the sidecar write pool, for
example) carry no group; they are counted as unattributed, never
dropped.

Spans are kept in memory; the caller writes them out when the run
ends. The benchmark wraps the engine from outside: ``install``
replaces each layer function wherever a module of the package has
bound it, and ``uninstall`` puts the originals back.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    count: int = 0

    @property
    def group(self) -> str:
        return f"span-{self.id}"


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    op = 0

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.op = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(len(self.spans), name, parent.id if parent else None,
                      self.op, time.time())
            self.spans.append(sp)
        self.sc.setJobGroup(sp.group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, name: str, count):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                if count is not None:
                    sp.count = count(*args, **kwargs)
                return fn(*args, **kwargs)

        return traced

    def install(self, targets: list[tuple], package: str) -> None:
        """Wrap ``module.attr`` for each (module, attr, span name,
        count) target, in every loaded module of *package* that bound
        the same function object. *count*, when not None, maps the
        call's arguments to the span's work count."""
        for mod_name, attr, span_name, count in targets:
            orig = getattr(sys.modules[mod_name], attr)
            traced = self._wrap(orig, span_name, count)
            for name, mod in list(sys.modules.items()):
                if mod is None or not (name == package or name.startswith(package + ".")):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is orig:
                        setattr(mod, key, traced)
                        self._patched.append((mod, key, orig))

    def uninstall(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


@dataclass
class StageStats:
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    fanout: bool = False  # computes a mapInPandas (in a pipeline: distributed_fetch)


@dataclass
class JobStats:
    id: int
    group: str | None
    execution: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, JobStats]
    stages: dict[int, StageStats]
    # per SQL execution id: summed driver metrics of the file writes
    written_files: dict[str, int]
    written_bytes: dict[str, int]


_WRITE_METRICS = {"number of written files": "files", "written output": "bytes"}


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        if m["name"] in _WRITE_METRICS:
            out[m["accumulatorId"]] = _WRITE_METRICS[m["name"]]
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _scope_name(rdd: dict) -> str | None:
    """The operator that built an RDD: ``{"id": .., "name": ..}`` JSON."""
    scope = rdd.get("Scope")
    return json.loads(scope).get("name") if scope else None


def fold_event_log(path: str) -> EventLog:
    """One pass over an uncompressed JSON-lines event log."""
    jobs: dict[int, JobStats] = {}
    stages: dict[int, StageStats] = {}
    stage_job: dict[int, int] = {}
    metric_kind: dict[int, str] = {}
    files: dict[str, int] = {}
    size: dict[str, int] = {}
    fanout_rdds: set[int] = set()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = JobStats(ev["Job ID"], props.get("spark.jobGroup.id"),
                               props.get("spark.sql.execution.id"),
                               ev["Submission Time"] / 1000)
                jobs[job.id] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], StageStats())
                # the first stage that holds a MapInPandas RDD computes
                # it; later stages list it too when they read its cache
                rdds = {r["RDD ID"] for r in info.get("RDD Info", [])
                        if _scope_name(r) == "MapInPandas"} - fanout_rdds
                st.fanout = st.fanout or bool(rdds)
                fanout_rdds |= rdds
                job = jobs.get(stage_job.get(info["Stage ID"], -1))
                if job is not None and info["Stage ID"] not in job.stages:
                    job.stages.append(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                st = stages.setdefault(ev["Stage ID"], StageStats())
                st.tasks += 1
                if not m:
                    continue
                st.run_ms += m["Executor Run Time"]
                st.gc_ms += m["JVM GC Time"]
                st.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                rd = m["Shuffle Read Metrics"]
                st.shuffle_bytes += (rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                                     + m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
                st.output_bytes += m["Output Metrics"]["Bytes Written"]
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev["sparkPlanInfo"], metric_kind)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                eid = str(ev["executionId"])
                for acc, value in ev["accumUpdates"]:
                    k = metric_kind.get(acc)
                    if k == "files":
                        files[eid] = files.get(eid, 0) + value
                    elif k == "bytes":
                        size[eid] = size.get(eid, 0) + value
    return EventLog(jobs, stages, files, size)


# --------------------------------------------------------------------------
# per-layer metrics
# --------------------------------------------------------------------------

SINK_SPANS = ("sinks.full_refresh", "sinks.ranged_overwrite", "sinks.multi_table_load")


def _task_s(stages: list[StageStats]) -> float:
    return sum(st.run_ms for st in stages) / 1000


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


class Fold:
    """Spans joined with the event log; sums are over timed ops."""

    def __init__(self, spans: list[Span], log: EventLog, ops: list[tuple[int, float, float]],
                 cores: int):
        self.spans, self.log, self.ops, self.cores = spans, log, ops, cores
        op_ids = {o for o, _, _ in ops}
        self.timed = [s for s in spans if s.op in op_ids]
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.by_group: dict[str, list[JobStats]] = {}
        for j in log.jobs.values():
            self.by_group.setdefault(j.group, []).append(j)

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.children.get(s.id, [])
        return out

    def jobs_of(self, span: Span) -> list[JobStats]:
        return [j for s in self.subtree(span) for j in self.by_group.get(s.group, [])]

    def stages_of(self, jobs: list[JobStats]) -> list[StageStats]:
        return [self.log.stages[sid] for j in jobs for sid in j.stages
                if sid in self.log.stages]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.timed if s.name == name]

    def op_jobs(self) -> list[JobStats]:
        return [j for j in self.log.jobs.values()
                if any(a <= j.submit <= b for _, a, b in self.ops)]

    def metrics(self) -> dict[str, float]:
        n = max(1, len(self.ops))
        m: dict[str, float] = {}

        def per_op(name: str, value: float) -> None:
            m[name] = value / n

        def wall(spans: list[Span]) -> float:
            return sum(s.end - s.start for s in spans)

        per_op("session.load_tables_s", wall(self.named("session.load_tables")))
        ck = self.named("session.eager_checkpoint")
        per_op("session.eager_checkpoint_s", wall(ck))
        per_op("session.eager_checkpoint_calls", len(ck))
        fj = self.named("sources.fetch_json")
        per_op("sources.fetch_json_s", wall(fj))
        per_op("sources.fetch_json_calls", len(fj))
        rd = self.named("sources.records_to_df")
        per_op("sources.records_to_df_s", wall(rd))
        per_op("sources.records_to_df_rows", sum(s.count for s in rd))
        plan_jobs = [j for p in ("plans.latinad", "plans.sercom")
                     for s in self.named(p) for j in self.jobs_of(s)]
        per_op("sources.fanout_task_s",
               _task_s([st for st in self.stages_of(plan_jobs) if st.fanout]))
        per_op("functions.drop_all_null_columns_s",
               wall(self.named("functions.drop_all_null_columns")))
        for p in ("latinad", "sercom"):
            spans = self.named(f"plans.{p}")
            jobs = [(s, self.jobs_of(s)) for s in spans]
            per_op(f"plans.{p}.jobs", sum(len(js) for _, js in jobs))
            per_op(f"plans.{p}.driver_s", sum(
                (s.end - s.start) - _union_s([(j.submit, j.end) for j in js], s.start, s.end)
                for s, js in jobs))
        sinks = [s for name in SINK_SPANS for s in self.named(name)]
        per_op("sinks.write_s", wall(sinks))
        write_jobs = [j for s in sinks for j in self.jobs_of(s)]
        per_op("sinks.write_task_s",
               _task_s([st for st in self.stages_of(write_jobs) if st.output_bytes]))
        per_op("sinks.commit_s", sum(
            s.end - max((j.end for j in self.jobs_of(s)), default=s.end) for s in sinks))
        execs = {j.execution for j in write_jobs if j.execution is not None}
        per_op("sinks.files_written", sum(self.log.written_files.get(e, 0) for e in execs))
        per_op("sinks.bytes_written", sum(self.log.written_bytes.get(e, 0) for e in execs))
        per_op("sinks.jdbc_s", wall(self.named("sinks.jdbc_upsert")))

        jobs = self.op_jobs()
        stages = self.stages_of(jobs)
        total_task_s = _task_s(stages)
        per_op("spark.jobs", len(jobs))
        per_op("spark.stages", len(stages))
        per_op("spark.tasks", sum(st.tasks for st in stages))
        per_op("spark.task_s", total_task_s)
        per_op("spark.gc_s", sum(st.gc_ms for st in stages) / 1000)
        per_op("spark.shuffle_mb", sum(st.shuffle_bytes for st in stages) / 2**20)
        per_op("spark.spill_mb", sum(st.spill_bytes for st in stages) / 2**20)
        per_op("spark.idle_core_s",
               self.cores * sum(b - a for _, a, b in self.ops) - total_task_s)
        groups = {s.group for s in self.spans}
        per_op("trace.unattributed_jobs", sum(1 for j in jobs if j.group not in groups))
        return m

    def query_metrics(self, queries: list[str]) -> dict[str, float]:
        n = max(1, len(self.ops))
        m: dict[str, float] = {}
        for q in queries:
            build = self.named(f"queries.{q}.build")
            run = self.named(f"queries.{q}.exec")
            jobs = [j for s in build + run for j in self.jobs_of(s)]
            m[f"queries.{q}.build_s"] = sum(s.end - s.start for s in build) / n
            m[f"queries.{q}.exec_s"] = sum(s.end - s.start for s in run) / n
            m[f"queries.{q}.jobs"] = len(jobs) / n
            m[f"queries.{q}.task_s"] = _task_s(self.stages_of(jobs)) / n
        return m


LAYER_METRICS = [
    "session.get_spark_s", "session.load_tables_s", "session.eager_checkpoint_s",
    "session.eager_checkpoint_calls",
    "sources.fetch_json_s", "sources.fetch_json_calls", "sources.records_to_df_s",
    "sources.records_to_df_rows", "sources.fanout_requests", "sources.fanout_failed",
    "sources.fanout_task_s", "sources.transport_s",
    "functions.drop_all_null_columns_s",
    "operators.cdc_new_rows", "operators.cdc_updated_rows",
    "plans.latinad.driver_s", "plans.latinad.jobs", "plans.sercom.driver_s",
    "plans.sercom.jobs",
    "sinks.write_s", "sinks.write_task_s", "sinks.commit_s", "sinks.files_written",
    "sinks.bytes_written", "sinks.stored_bytes_per_row", "sinks.jdbc_s", "sinks.jdbc_rows",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s",
    "spark.shuffle_mb", "spark.spill_mb", "spark.idle_core_s",
    "trace.overhead_s", "trace.unattributed_jobs",
]
QUERY_METRICS = ("build_s", "exec_s", "jobs", "task_s")


def per_layer_names(queries: list[str]) -> list[str]:
    return LAYER_METRICS + [f"queries.{q}.{m}" for q in queries for m in QUERY_METRICS]


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("bytes_per_row"):
        return "bytes/row"
    return "count"
