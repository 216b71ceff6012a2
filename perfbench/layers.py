"""Span tracing for the product-pipeline benchmark, recorded from outside
the program.

A :class:`Tracer` replaces the layer functions named in
``transit_efficiency_analysis_spark.pipeline``'s namespace with wrappers
that record a span (name, start, end, parent) around each call. Spans that
run Spark jobs also set a Spark job group, so after the run the jobs, their
stages and their task-time quantiles can be read back from Spark's status
store and attributed to the innermost span that launched them. Spans stay
in memory until :meth:`Tracer.layer_metrics` folds them into per-layer
figures at the end of the run.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: layer functions the pipeline module calls by name: (attribute, span name)
CONSTRUCT_SPANS = [
    ("read_gtfs_static", "sources.gtfs_static.read_gtfs_static"),
    ("build_gtfs_data", "sources.gtfs_static.build_gtfs_data"),
    ("decode_feed", "sources.gtfs_realtime.decode_feed"),
    ("apply_epoch0_default", "sources.gtfs_realtime.apply_epoch0_default"),
    ("enrich_weather", "sources.gtfs_realtime.enrich_weather"),
    ("upsert_ignore", "operators.upsert.upsert_ignore"),
    ("merge_batch", "operators.upsert.merge_batch"),
    ("compute_delays", "operators.delay.compute_delays"),
]
#: the decode call the benchmark makes itself
DECODE_SPAN = "sources.gtfs_realtime.decode_protobuf_payloads_auto"
SINK_SPAN = "sinks.overwrite_table"
#: spans that run Spark jobs; the first four wrap the benchmark's own calls
JOB_SPANS = [
    "pipeline.ingest_schedule",
    "pipeline.ingest_realtime",
    "pipeline.consolidate",
    "pipeline.consolidate_incremental",
    SINK_SPAN,
    "dashboard.read",
]
#: per-job-span fields: (suffix, unit, better)
JOB_FIELDS = [
    ("wall_s", "s", "lower"),
    ("self_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("exec_task_s", "s", "lower"),
    ("exec_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("shuffle_read_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("input_rows", "count", "lower"),
    ("output_rows", "count", "lower"),
    ("output_bytes", "bytes", "lower"),
    ("task_skew", "ratio", "lower"),
    ("cores_busy", "cores", "higher"),
]
SINK_FIELDS = [
    ("rows_written_per_batch_row", "ratio", "lower"),
    ("bytes_written_per_batch_byte", "ratio", "lower"),
    ("files_written", "count", "lower"),
    ("commit_s", "s", "lower"),
]
DASHBOARD_FIELDS = [
    ("catalyst_analysis_ms", "ms", "lower"),
    ("catalyst_optimization_ms", "ms", "lower"),
    ("catalyst_planning_ms", "ms", "lower"),
    ("files_scanned", "count", "lower"),
]
GROUP_PREFIX = "perfbench-"


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """Every per-layer metric the traced run emits: (name, unit, better)."""
    out = [(f"{name}.construct_s", "s", "lower") for _, name in CONSTRUCT_SPANS]
    out.append((f"{DECODE_SPAN}.construct_s", "s", "lower"))
    out += [(f"{span}.{f}", u, b) for span in JOB_SPANS for f, u, b in JOB_FIELDS]
    out += [(f"{SINK_SPAN}.{f}", u, b) for f, u, b in SINK_FIELDS]
    out += [(f"dashboard.{f}", u, b) for f, u, b in DASHBOARD_FIELDS]
    out.append(("tracing_overhead_pct", "%", "lower"))
    return out


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    #: facts the caller attaches (batch rows, files written, ...)
    info: dict = field(default_factory=dict)


def _data_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


class Tracer:
    """Records spans while ``active``; inactive wrappers call straight through."""

    def __init__(self, spark, store_root: str):
        self.sc = spark.sparkContext
        self.store_root = store_root
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        if not self.active:
            yield None
            return
        sp = Span(name, len(self.spans), self._stack[-1].sid if self._stack else None, time.time())
        self.spans.append(sp)
        prev = None
        if jobs:
            sp.group = f"{GROUP_PREFIX}{sp.sid}"
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_sink(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            before = _data_files(self.store_root)
            with self.span(SINK_SPAN, jobs=True) as sp:
                out = fn(*args, **kwargs)
            after = _data_files(self.store_root)
            sp.info["files_written"] = len(after.keys() - before.keys())
            return out

        return wrapper

    def install(self, pipeline) -> None:
        """Replace the layer functions in ``pipeline``'s namespace."""
        for attr, name in CONSTRUCT_SPANS:
            setattr(pipeline, attr, self._wrap(getattr(pipeline, attr), name))
        pipeline.overwrite_table = self._wrap_sink(pipeline.overwrite_table)

    # -- readback --------------------------------------------------------

    def _jobs_by_group(self) -> tuple[dict[str, list[dict]], dict[int, dict | None]]:
        """Job intervals and stage ids per job group, and the metrics of each
        completed stage, from the status store."""
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._gateway.jvm
        quantiles = self.sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        jobs = store.jobsList(None)
        stages: dict[int, dict] = {}
        out: dict[str, list[dict]] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or not g.get().startswith(GROUP_PREFIX):
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            sids = j.stageIds()
            job = {
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1000 if comp.isDefined() else None,
                "stages": [sids.apply(k) for k in range(sids.size())],
            }
            for sid in job["stages"]:
                if sid not in stages:
                    stages[sid] = self._stage(store, sid, quantiles)
            out.setdefault(g.get(), []).append(job)
        return out, stages

    @staticmethod
    def _stage(store, sid: int, quantiles) -> dict | None:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - a stage listed by a job but never run
            return None
        if str(sd.status()) != "COMPLETE":
            return None
        st = {
            "tasks": sd.numCompleteTasks(),
            "exec_task_s": sd.executorRunTime() / 1000,
            "exec_cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1000,
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "input_rows": sd.inputRecords(),
            "output_rows": sd.outputRecords(),
            "output_bytes": sd.outputBytes(),
            "task_skew": 1.0,
        }
        if st["tasks"] >= 2:
            summary = store.taskSummary(sid, sd.attemptId(), quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                st["task_skew"] = run.apply(1) / max(run.apply(0), 1.0)
        return st

    def _span_figures(self, jobs_by_group: dict[str, list[dict]], stages: dict) -> dict[int, dict]:
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)

        def subtree_jobs(sp: Span) -> list[dict]:
            own = jobs_by_group.get(sp.group, []) if sp.group else []
            return own + [j for c in children.get(sp.sid, []) for j in subtree_jobs(c)]

        figures = {}
        for sp in self.spans:
            wall = sp.end - sp.start
            jl = subtree_jobs(sp)
            # a stage listed again by a later job (skipped there) counts once
            sids = {sid for j in jl for sid in j["stages"]}
            st = [stages[sid] for sid in sids if stages[sid] is not None]
            f = {
                "wall_s": wall,
                "self_s": wall - sum(c.end - c.start for c in children.get(sp.sid, [])),
                "jobs": len(jl),
            }
            for k in ("tasks", "exec_task_s", "exec_cpu_s", "gc_s", "shuffle_write_bytes",
                      "shuffle_read_bytes", "spill_bytes", "input_rows", "output_rows",
                      "output_bytes"):
                f[k] = sum(s[k] for s in st)
            heaviest = max(st, key=lambda s: s["exec_task_s"], default=None)
            f["task_skew"] = heaviest["task_skew"] if heaviest else 1.0
            f["cores_busy"] = f["exec_task_s"] / wall if wall > 0 else 0.0
            intervals = sorted(
                (max(j["start"], sp.start), min(j["end"], sp.end))
                for j in jl
                if j["start"] is not None and j["end"] is not None
            )
            covered, reach = 0.0, sp.start
            for a, b in intervals:
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            f["driver_s"] = wall - covered
            f["commit_s"] = sp.end - max((b for _, b in intervals), default=sp.start)
            figures[sp.sid] = f
        return figures

    def layer_metrics(self, overhead_pct: float) -> tuple[dict[str, float], list[dict]]:
        """Per-layer metrics (median over a span name's calls) and the raw
        spans with their figures, for the artifact."""
        figures = self._span_figures(*self._jobs_by_group())
        by_name: dict[str, list[Span]] = {}
        for sp in self.spans:
            by_name.setdefault(sp.name, []).append(sp)

        def med(name: str, key) -> float:
            vals = [key(sp) for sp in by_name.get(name, [])]
            vals = [v for v in vals if v is not None]
            return float(statistics.median(vals)) if vals else float("nan")

        out: dict[str, float] = {}
        for _, name in CONSTRUCT_SPANS:
            out[f"{name}.construct_s"] = med(name, lambda sp: figures[sp.sid]["wall_s"])
        out[f"{DECODE_SPAN}.construct_s"] = med(DECODE_SPAN, lambda sp: figures[sp.sid]["wall_s"])
        for span in JOB_SPANS:
            for f, _, _ in JOB_FIELDS:
                out[f"{span}.{f}"] = med(span, lambda sp, f=f: figures[sp.sid][f])

        spans = {sp.sid: sp for sp in self.spans}

        def per_batch(sp: Span, fig_key: str, info_key: str):
            parent = spans.get(sp.parent)
            if parent is None or info_key not in parent.info:
                return None
            return figures[sp.sid][fig_key] / parent.info[info_key]

        out[f"{SINK_SPAN}.rows_written_per_batch_row"] = med(
            SINK_SPAN, lambda sp: per_batch(sp, "output_rows", "batch_rows")
        )
        out[f"{SINK_SPAN}.bytes_written_per_batch_byte"] = med(
            SINK_SPAN, lambda sp: per_batch(sp, "output_bytes", "batch_bytes")
        )
        out[f"{SINK_SPAN}.files_written"] = med(SINK_SPAN, lambda sp: sp.info["files_written"])
        out[f"{SINK_SPAN}.commit_s"] = med(SINK_SPAN, lambda sp: figures[sp.sid]["commit_s"])
        for f, _, _ in DASHBOARD_FIELDS:
            out[f"dashboard.{f}"] = med("dashboard.read", lambda sp, f=f: sp.info.get(f))
        out["tracing_overhead_pct"] = overhead_pct
        raw = [
            {"name": sp.name, "id": sp.sid, "parent": sp.parent, "start": sp.start,
             "end": sp.end, "group": sp.group, "info": sp.info, **figures[sp.sid]}
            for sp in self.spans
        ]
        return out, raw
