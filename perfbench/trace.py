"""Layer attribution from outside the engine.

Three parts, all used only by a `--trace 1` run:

* `Tracer` wraps public functions and class methods of the engine's
  modules (by replacing the attribute, never by editing the engine).
  Each call records a span (id, name, start, end, parent, job) and tags
  the Spark jobs it launches with a job group naming the span.
* `parse_event_log` reads Spark's uncompressed JSON event log with the
  standard library: completed stages with their accumulables and job
  group, job starts, failed tasks and streaming progress events.
* `job_layer_metrics` joins the two for one benchmark job, and
  `per_layer` takes the medians over a run's traced warm jobs; README.md
  lists the metrics.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

GROUP_PREFIX = "pb|"

PIPELINE_STAGES = ("preprocess", "quality_gates", "train_or_tune", "postprocess")
LLM_STAGES = ("gates", "exact_dedup", "quality_filter", "lm_gate", "near_dedup", "decontaminate", "chunk", "stats")

# (module, attribute or Class.method, span name) wrapped by Tracer.install
TARGETS = (
    [("prod2vec_spark.pipeline", f"Prod2VecPipeline.{s}", f"pipeline.{s}") for s in PIPELINE_STAGES]
    + [("prod2vec_spark.pipeline_llm", f"CorpusCurationPipeline.{s}", f"pipeline_llm.{s}") for s in LLM_STAGES]
    + [
        ("prod2vec_spark.ml.prod2vec", "fit_prod2vec", "ml.prod2vec.fit"),
        ("prod2vec_spark.sources.io", "write_parquet", "sources.io.write_parquet"),
        ("prod2vec_spark.streaming.pipeline", "StreamingCorpusPipeline.run", "streaming.run"),
        ("prod2vec_spark.streaming.pipeline", "StreamingCorpusPipeline.curated", "streaming.curated"),
    ]
)
# spans named after a module of the engine; the self time of any other
# span (the benchmark's job and operation spans) counts as unattributed
MODULE_PREFIXES = ("pipeline.", "pipeline_llm.", "ml.", "operators.", "sources.", "streaming.", "queries.")
STREAM_KEYS = {
    "trigger": "triggerExecution",
    "add_batch": "addBatch",
    "query_planning": "queryPlanning",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
    "latest_offset": "latestOffset",
}


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    job: str


class Tracer:
    """Spans in memory; `install` wraps TARGETS, `uninstall` restores."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self.job = "setup"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0, parent, self.job)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{s.sid}", s.name)

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                self._patch(cls, meth, self._wrap(cls.__dict__[meth], name))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name)
            # consumers bound the function by name at import time
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("prod2vec_spark") and getattr(m, attr, None) is orig:
                    self._patch(m, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        # a module first imported while installed bound a wrapper by name
        attrs = {attr for _, attr, _ in TARGETS if "." not in attr}
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("prod2vec_spark"):
                for attr in attrs:
                    fn = getattr(m, attr, None)
                    if getattr(fn, "_perfbench_tracer", None) is self:
                        setattr(m, attr, fn.__wrapped__)

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced._perfbench_tracer = self
        return traced


# ---------------------------------------------------------------- event log


@dataclass
class EventLog:
    stages: list[dict] = field(default_factory=list)  # completed stage attempts
    jobs: list[dict] = field(default_factory=list)  # {"submit": s, "group": str}
    task_failures: list[float] = field(default_factory=list)  # finish times
    progress: list[dict] = field(default_factory=list)  # streaming progress


def _acc_value(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(log_dir: str) -> EventLog:
    """Read every `events_<n>_*` file of the rolling event logs (Spark's
    default layout) under `log_dir`, in order.  Times are converted to
    epoch seconds."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
    )
    out = EventLog()
    groups: dict[int, str | None] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event", "")
                if kind == "SparkListenerStageSubmitted":
                    props = e.get("Properties") or {}
                    groups[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    out.stages.append(
                        {
                            "id": si["Stage ID"],
                            "group": groups.get(si["Stage ID"]),
                            "submit": si.get("Submission Time", 0) / 1000.0,
                            "tasks": si.get("Number of Tasks", 0),
                            "failed": "Failure Reason" in si,
                            "acc": {a["Name"]: _acc_value(a.get("Value")) for a in si.get("Accumulables", [])},
                        }
                    )
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    out.jobs.append({"submit": e.get("Submission Time", 0) / 1000.0, "group": props.get("spark.jobGroup.id")})
                elif kind == "SparkListenerTaskEnd":
                    reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
                    if reason != "Success":
                        out.task_failures.append(e.get("Task Info", {}).get("Finish Time", 0) / 1000.0)
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    p = e["progress"]
                    p["_ts"] = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                    out.progress.append(p)
    return out


# ---------------------------------------------------------------- metrics


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover (children of
    one span run sequentially in the single client thread)."""
    child = {s.sid: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in child:
            child[s.parent] += s.end - s.start
    return {s.sid: (s.end - s.start) - child[s.sid] for s in spans}


def _descendants(spans: list[Span], root_names: tuple[str, ...]) -> set[int]:
    by_id = {s.sid: s for s in spans}
    out = set()
    for s in spans:
        cur = s
        while cur is not None:
            if cur.name in root_names:
                out.add(s.sid)
                break
            cur = by_id.get(cur.parent) if cur.parent is not None else None
    return out


def _group_sid(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None


def job_layer_metrics(
    job_span: Span, spans: list[Span], log: EventLog, cores: int, ops: list[tuple[str, float, float]], wall: float
) -> dict[str, float]:
    """Per-layer metrics of one benchmark job.  `spans` are the spans of
    that job (the root `job_span` included); `ops` the job's timed
    operations as (name, start, end) in epoch seconds; `wall` the job's
    wall time as measured outside the tracer."""
    from perfbench.workloads import Curation

    t0, t1 = job_span.start, job_span.end
    stages = [st for st in log.stages if t0 <= st["submit"] <= t1]
    acc = lambda names, sts=stages: sum(st["acc"].get(n, 0.0) for st in sts for n in names)  # noqa: E731
    m: dict[str, float] = {}

    def dur(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name)

    for st in PIPELINE_STAGES:
        m[f"pipeline.{st}_s"] = dur(f"pipeline.{st}")
    for st in LLM_STAGES:
        m[f"pipeline_llm.{st}_s"] = dur(f"pipeline_llm.{st}")
    for q in Curation.MIX:
        m[f"queries.{q}_s"] = dur(f"queries.{q}")
    fit = [s for s in spans if s.name == "ml.prod2vec.fit"]
    fit_ids = _descendants(spans, ("ml.prod2vec.fit",))
    fit_wall = sum(s.end - s.start for s in fit)
    fit_run = acc(["internal.metrics.executorRunTime"], [st for st in stages if _group_sid(st["group"]) in fit_ids]) / 1000.0
    m["ml.prod2vec.fit_s"] = fit_wall
    m["ml.prod2vec.fit_driver_frac"] = 1.0 - fit_run / (fit_wall * cores) if fit_wall > 0 else 0.0
    nd_ids = _descendants(spans, ("pipeline_llm.near_dedup",))
    m["operators.graph.cc_jobs"] = float(sum(1 for j in log.jobs if t0 <= j["submit"] <= t1 and _group_sid(j["group"]) in nd_ids))
    writes = [s for s in spans if s.name == "sources.io.write_parquet"]
    m["sources.io.write_parquet_calls"] = float(len(writes))
    m["sources.io.write_parquet_s"] = sum(s.end - s.start for s in writes)
    m["sources.io.input_bytes"] = acc(["internal.metrics.input.bytesRead"])
    m["sources.io.output_bytes"] = acc(["internal.metrics.output.bytesWritten"])
    m["python.run_s"] = acc(["time to run Python workers"]) / 1000.0
    m["python.start_s"] = acc(["time to start Python workers"]) / 1000.0
    m["python.bytes_sent"] = acc(["data sent to Python workers"])
    m["python.bytes_returned"] = acc(["data returned from Python workers"])
    m["exchange.shuffle_write_bytes"] = acc(["internal.metrics.shuffle.write.bytesWritten"])
    m["exchange.shuffle_write_records"] = acc(["internal.metrics.shuffle.write.recordsWritten"])
    m["exchange.shuffle_stages"] = float(sum(1 for st in stages if st["acc"].get("internal.metrics.shuffle.write.bytesWritten", 0) > 0))
    run_s = acc(["internal.metrics.executorRunTime"]) / 1000.0
    m["executor.run_s"] = run_s
    m["executor.cpu_s"] = acc(["internal.metrics.executorCpuTime"]) / 1e9
    m["executor.busy_frac"] = run_s / (wall * cores) if wall > 0 else 0.0
    m["executor.tasks"] = float(sum(st["tasks"] for st in stages))
    m["executor.stages"] = float(len(stages))
    m["executor.task_failures"] = float(sum(1 for t in log.task_failures if t0 <= t <= t1))
    m["jvm.gc_s"] = acc(["internal.metrics.jvmGCTime"]) / 1000.0
    m["jvm.spill_bytes"] = acc(["internal.metrics.diskBytesSpilled"])
    m.update(_stream_metrics(log, t0, t1, ops))
    st = self_times(spans)
    attributed = sum(st[s.sid] for s in spans if s.name.startswith(MODULE_PREFIXES))
    m["trace.unattributed_frac"] = 1.0 - attributed / wall if wall > 0 else 0.0
    return m


def _stream_metrics(log: EventLog, t0: float, t1: float, ops: list[tuple[str, float, float]]) -> dict[str, float]:
    prog = [p for p in log.progress if t0 <= p["_ts"] <= t1]
    m: dict[str, float] = {}
    per_op = {k: [] for k in STREAM_KEYS}
    for _, a, b in ops:
        in_op = [p for p in prog if a <= p["_ts"] <= b]
        if not in_op:
            continue
        for k, key in STREAM_KEYS.items():
            per_op[k].append(sum(p["durationMs"].get(key, 0) for p in in_op))
    for k in STREAM_KEYS:
        m[f"streaming.{k}_ms"] = float(statistics.median(per_op[k])) if per_op[k] else 0.0
    m["streaming.batches"] = float(len(prog))
    empty = sum(1 for p in prog if sum(s.get("numInputRows", 0) for s in p.get("sources", [])) == 0)
    m["streaming.empty_batch_frac"] = empty / len(prog) if prog else 0.0
    last: dict[str, dict] = {}
    for p in prog:
        last[p["id"]] = p
    m["streaming.state_rows"] = float(sum(o.get("numRowsTotal", 0) for p in last.values() for o in p.get("stateOperators", [])))
    m["streaming.state_bytes"] = float(sum(o.get("memoryUsedBytes", 0) for p in last.values() for o in p.get("stateOperators", [])))
    return m


def per_layer(jobs: list, tracer: Tracer, log_dir, cores: int) -> dict[str, tuple[float, str]]:
    """The per-job layer metrics of a traced run as {name: (value, unit)}.

    `jobs` holds (wall, JobResult, root span or None) per job, the cold
    job first; traced jobs carry their root span.  Each per-job metric is
    the median over the traced warm jobs, except `python.start_s`: the
    JVM keeps its Python workers, so they start in the first job only."""
    log = parse_event_log(str(log_dir))
    traced = [(w, res, root) for w, res, root in jobs if root is not None]
    per_job = []
    for wall, res, root in traced:
        spans = [s for s in tracer.spans if s.job == root.job]
        ops = [(op.name, op.start, op.start + op.secs) for op in res.ops]
        per_job.append(job_layer_metrics(root, spans, log, cores, ops, wall))
    warm = per_job[1:] or per_job
    out: dict[str, tuple[float, str]] = {
        k: (float(statistics.median(m[k] for m in warm)), _unit(k)) for k in per_job[0]
    }
    traced_warm = statistics.median(w for w, _, root in jobs[1:] if root is not None)
    untraced_warm = statistics.median(w for w, _, root in jobs[1:] if root is None)
    out["python.start_s"] = (per_job[0]["python.start_s"], "s")
    out["plan.cold_minus_warm_s"] = (traced[0][0] - traced_warm, "s")
    out["trace.job_s"] = (traced_warm, "s")
    out["trace.overhead_s"] = (traced_warm - untraced_warm, "s")
    return out


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith(".bytes_sent") or name.endswith(".bytes_returned"):
        return "bytes"
    if name.endswith("_frac"):
        return "ratio"
    return "count"
