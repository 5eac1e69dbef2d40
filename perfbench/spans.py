"""Spans recorded from outside the program, and Spark's own metrics
attributed to them.

``Tracer`` wraps public functions of the package where their callers look
them up (module attributes), so each call becomes a span: name, start,
end, parent and run id, kept in memory and written out at exit. Every
open span adds a Spark job tag (``SparkSession.addTag``), so jobs, stages
and SQL executions in Spark's uncompressed event log carry the tags of
all spans open when they ran. ``attribute`` joins the two after the
session has stopped, and ``layer_metrics`` folds the spans into the
per-layer metrics named in BENCHMARK.json.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_TAG = "pbspan"
_MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for one worker process."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1].id if self._stack else None,
                 self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        tag = f"{_TAG}{s.id}"
        self.spark.addTag(tag)
        try:
            yield s
        finally:
            self.spark.removeTag(tag)
            self._stack.pop()
            s.end = time.time()

    def wrap(self, module, attr: str, name, after=None) -> None:
        """Replace ``module.attr`` with a spanned call. ``name`` is a span
        name or a function of the call's arguments; ``after(span, result)``
        may add attributes once the span has closed."""
        original = getattr(module, attr)

        def spanned(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as s:
                result = original(*args, **kwargs)
            if after is not None:
                after(s, result)
            return result

        setattr(module, attr, spanned)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def load_spans(path: str) -> list[Span]:
    with open(path) as fh:
        return [Span(**d) for d in json.load(fh)]


def install(tracer: Tracer) -> None:
    """Wrap the package's public functions at the places they are called."""
    from amazon_sales_data_engineering_spark.operators import graph, similarity
    from amazon_sales_data_engineering_spark.pipeline import consumption, curated, ingest, run
    from amazon_sales_data_engineering_spark.plans import analytics_ops

    w = tracer.wrap
    w(run, "ensure_namespaces", "pipeline.namespaces")
    w(run, "load_forex", "pipeline.forex")
    w(run, "ingest_all", "pipeline.ingest")
    w(run, "run_curated", "pipeline.curated")
    w(run, "run_consumption", "pipeline.consumption")
    w(run, "save_table", "sources.sinks", after=_sink_result)
    w(ingest, "ingest_sales", lambda *a, **k: f"pipeline.ingest.{k.get('cc', a[-1])}",
      after=lambda s, loaded: s.attrs.update(files_loaded=int(loaded)))
    w(ingest, "read_sales_raw", "sources.readers", after=_input_files)
    w(ingest, "filter_new_files", "sources.ledger")
    w(ingest, "record_loaded_files", "sources.ledger")
    w(consumption, "build_dims", "pipeline.consumption.dims")
    w(consumption, "build_fact", "pipeline.consumption.fact")
    for mod in (ingest, consumption):
        w(mod, "next_start", "operators.sequences")
    for mod in (ingest, curated, consumption):
        w(mod, "save_table_if_nonempty", "sources.sinks", after=_sink_result)
    w(analytics_ops, "t_copurchase_edges", "plans.util.edge_cache")
    for mod, label in ((graph, "operators.graph"), (similarity, "operators.similarity")):
        for attr in dir(mod):
            fn = getattr(mod, attr)
            if (not attr.startswith("_") and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__):
                w(mod, attr, label)


def _sink_result(span: Span, result) -> None:
    span.attrs["wrote"] = result is not False


def _input_files(span: Span, df) -> None:
    files = [f.removeprefix("file:") for f in df.inputFiles()]
    span.attrs["files"] = len(files)
    span.attrs["bytes"] = sum(os.path.getsize(f) for f in files if os.path.exists(f))


# ---------------------------------------------------------------------------
# Event-log attribution
# ---------------------------------------------------------------------------

_ACC = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.output.bytesWritten": "output",
}


def _span_ids(tags: str | list[str]) -> set[int]:
    items = tags.split(",") if isinstance(tags, str) else tags
    out = set()
    for t in items:
        _, sep, tail = t.rpartition(f"-{_TAG}")
        if sep and tail.isdigit():
            out.add(int(tail))
    return out


def read_event_log(log_dir: str) -> dict:
    """Jobs, completed stages and SQL executions from an uncompressed
    (plain or rolling) Spark event log directory."""
    jobs, stages, executions = {}, {}, {}
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    files += [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "spans": _span_ids(props.get("spark.job.tags", "")),
                        "stages": e["Stage IDs"],
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    m = {"tasks": info["Number of Tasks"],
                         "start": info.get("Submission Time", 0) / 1000.0,
                         "end": info.get("Completion Time", 0) / 1000.0}
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key:
                            m[key] = m.get(key, 0) + int(acc.get("Value", 0))
                    stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = m
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    executions[e["executionId"]] = _span_ids(e.get("jobTags", []))
    return {"jobs": jobs, "stages": stages, "executions": executions}


def attribute(spans: list[Span], log: dict) -> dict[int, dict]:
    """Per span: jobs, completed stages, tasks, SQL executions, executor
    CPU, shuffle write, spill and output bytes, and the stage intervals.
    A stage counts for a span when one of the span's jobs lists it and it
    was submitted while the span was open (a job also lists the stages it
    skipped because an earlier job already ran them)."""
    by_id = {s.id: s for s in spans}
    stage_runs = defaultdict(list)
    for (sid, _), m in log["stages"].items():
        stage_runs[sid].append(m)
    out = {s.id: {"jobs": 0, "stages": 0, "tasks": 0, "sql": 0, "cpu_ns": 0,
                  "shuffle_write": 0, "spill": 0, "output": 0, "intervals": []}
           for s in spans}
    seen = defaultdict(set)  # span -> stage ids already counted
    for job in log["jobs"].values():
        for sid in job["spans"]:
            if sid not in out:
                continue
            acc = out[sid]
            acc["jobs"] += 1
            for stage_id in job["stages"]:
                if stage_id in seen[sid]:
                    continue
                seen[sid].add(stage_id)
                span = by_id[sid]
                for m in stage_runs.get(stage_id, []):
                    if not span.start - 0.005 <= m["start"] <= span.end + 0.005:
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += m["tasks"]
                    for k in ("cpu_ns", "shuffle_write", "spill", "output"):
                        acc[k] += m.get(k, 0)
                    acc["intervals"].append((m["start"], m["end"]))
    for span_ids in log["executions"].values():
        for sid in span_ids:
            if sid in out:
                out[sid]["sql"] += 1
    return out


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _outermost(spans: list[Span], name: str) -> list[Span]:
    """Spans called ``name`` that have no ancestor of the same name."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = s.parent
        while p is not None and by_id[p].name != name:
            p = by_id[p].parent
        if p is None:
            out.append(s)
    return out


PIPELINE_STEPS = ("ingest", "curated", "consumption")


def _per_layer() -> dict[str, str]:
    m = {
        "sources.readers.files_scanned": "count",
        "sources.readers.input_mb": "MB",
        "sources.sinks.wall_s": "s",
        "sources.sinks.writes": "count",
        "sources.sinks.output_mb": "MB",
        "sources.sinks.stored_per_raw_byte": "ratio",
        "sources.ledger.wall_s": "s",
        "sources.ledger.new_file_ratio": "ratio",
    }
    for step in PIPELINE_STEPS:
        for metric, unit in (("wall_s", "s"), ("self_s", "s"), ("jobs", "count"),
                             ("stages", "count"), ("tasks", "count"), ("driver_gap_s", "s"),
                             ("exec_cpu_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")):
            m[f"pipeline.{step}.{metric}"] = unit
    m.update({f"pipeline.ingest.{cc}.wall_s": "s" for cc in ("in", "us", "fr")})
    m.update({
        "pipeline.consumption.dims_s": "s",
        "pipeline.consumption.fact_s": "s",
        "operators.sequences.next_start_calls": "count",
        "operators.sequences.wall_s": "s",
        "operators.graph.wall_s": "s",
        "operators.similarity.wall_s": "s",
        "operators.persisted_rdds_after": "count",
        "operators.persisted_mb_after": "MB",
        "plans.build_s": "s",
        "plans.exec_s": "s",
        "plans.jobs": "count",
        "plans.stages": "count",
        "plans.sql_executions": "count",
        "plans.sql_executions_per_query": "ratio",
        "plans.driver_gap_s": "s",
        "plans.exec_cpu_s": "s",
        "plans.shuffle_write_mb": "MB",
        "plans.spill_mb": "MB",
        "plans.util.edge_cache_s": "s",
        "trace.overhead_s": "s",
        "trace.reconcile_err": "ratio",
        "trace.uncovered_share": "ratio",
    })
    return m


#: every per-layer metric with its unit
PER_LAYER: dict[str, str] = _per_layer()
#: per-layer metrics taken from the run itself rather than from its spans
RUN_METRICS = {
    "sources.sinks.stored_per_raw_byte", "operators.persisted_rdds_after",
    "operators.persisted_mb_after", "trace.overhead_s", "trace.reconcile_err",
    "trace.uncovered_share",
}


def layer_metrics(spans: list[Span], attrib: dict[int, dict]) -> dict[str, float]:
    """Fold spans (and their Spark attribution) into the per-layer metrics.
    Every metric is a total over the traced run's measured work."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def group(name):
        return _outermost(spans, name)

    def wall(name):
        return sum(s.wall for s in group(name))

    def spark(name, key):
        return sum(attrib[s.id][key] for s in group(name))

    def gap(name):
        return sum(s.wall - _covered(attrib[s.id]["intervals"], s.start, s.end)
                   for s in group(name))

    def self_time(name):
        return sum(s.wall - _covered([(c.start, c.end) for c in children[s.id]], s.start, s.end)
                   for s in group(name))

    m: dict[str, float] = {}
    readers = [s for s in spans if s.name == "sources.readers"]
    m["sources.readers.files_scanned"] = sum(s.attrs.get("files", 0) for s in readers)
    m["sources.readers.input_mb"] = sum(s.attrs.get("bytes", 0) for s in readers) / _MB
    sinks = group("sources.sinks")
    m["sources.sinks.wall_s"] = wall("sources.sinks")
    m["sources.sinks.writes"] = sum(1 for s in sinks if s.attrs.get("wrote"))
    m["sources.sinks.output_mb"] = spark("sources.sinks", "output") / _MB
    m["sources.ledger.wall_s"] = wall("sources.ledger")
    loaded = sum(s.attrs.get("files_loaded", 0) for s in spans if s.name.startswith("pipeline.ingest."))
    scanned = m["sources.readers.files_scanned"]
    m["sources.ledger.new_file_ratio"] = loaded / scanned if scanned else 0.0
    for step in PIPELINE_STEPS:
        name = f"pipeline.{step}"
        m[f"{name}.wall_s"] = wall(name)
        m[f"{name}.self_s"] = self_time(name)
        m[f"{name}.jobs"] = spark(name, "jobs")
        m[f"{name}.stages"] = spark(name, "stages")
        m[f"{name}.tasks"] = spark(name, "tasks")
        m[f"{name}.driver_gap_s"] = gap(name)
        m[f"{name}.exec_cpu_s"] = spark(name, "cpu_ns") / 1e9
        m[f"{name}.shuffle_write_mb"] = spark(name, "shuffle_write") / _MB
        m[f"{name}.spill_mb"] = spark(name, "spill") / _MB
    for cc in ("in", "us", "fr"):
        m[f"pipeline.ingest.{cc}.wall_s"] = wall(f"pipeline.ingest.{cc}")
    m["pipeline.consumption.dims_s"] = wall("pipeline.consumption.dims")
    m["pipeline.consumption.fact_s"] = wall("pipeline.consumption.fact")
    m["operators.sequences.next_start_calls"] = len(group("operators.sequences"))
    m["operators.sequences.wall_s"] = wall("operators.sequences")
    m["operators.graph.wall_s"] = wall("operators.graph")
    m["operators.similarity.wall_s"] = wall("operators.similarity")
    queries = group("plans.query")
    m["plans.build_s"] = wall("plans.build")
    m["plans.exec_s"] = wall("plans.exec")
    m["plans.jobs"] = spark("plans.query", "jobs")
    m["plans.stages"] = spark("plans.query", "stages")
    m["plans.sql_executions"] = spark("plans.query", "sql")
    m["plans.sql_executions_per_query"] = m["plans.sql_executions"] / len(queries) if queries else 0.0
    m["plans.driver_gap_s"] = gap("plans.query")
    m["plans.exec_cpu_s"] = spark("plans.query", "cpu_ns") / 1e9
    m["plans.shuffle_write_mb"] = spark("plans.query", "shuffle_write") / _MB
    m["plans.spill_mb"] = spark("plans.query", "spill") / _MB
    m["plans.util.edge_cache_s"] = wall("plans.util.edge_cache")
    return m


#: the package-level steps an operation span is made of
STEP_SPANS = {
    "pipeline.namespaces", "pipeline.forex", "pipeline.ingest", "pipeline.curated",
    "pipeline.consumption", "plans.build", "plans.exec",
}


def operation_coverage(spans: list[Span]) -> tuple[float, float]:
    """(Σ wall of the operation spans, Σ of the part of each that the step
    spans (``STEP_SPANS``) directly under it cover). The operation spans are
    the benchmark's own top-level spans; the steps wrap the package's
    functions. Work the wrapping misses, such as a step left unwrapped,
    shows as wall the steps leave uncovered."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None and s.name in STEP_SPANS:
            children[s.parent].append((s.start, s.end))
    ops = [s for s in spans if s.parent is None]
    return (sum(s.wall for s in ops),
            sum(_covered(children[s.id], s.start, s.end) for s in ops))
