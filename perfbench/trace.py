"""Spans and per-layer counters for the traced run.

Every span is recorded here, in the benchmark's own files, around a
call into a layer's public function: ``session.get_spark``/``tune``,
``sources.tables.load_table`` (rebound in each module that imported
it), ``Query.build`` and the action. Catalyst phases come from the
action's ``QueryExecution.tracker()`` and become child spans of the
action; jobs, stages and task metrics come from the status store for
the job ids an execution launched; streaming phases come from a
``StreamingQueryListener``. Spans are kept in memory and written out
when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from collections import defaultdict

from perfbench.metrics import self_time

MB = 1024 * 1024

# Streaming progress durationMs key -> per-layer metric name.
_STREAM_PHASES = {
    "latestOffset": "streaming.latest_offset_ms",
    "getBatch": "streaming.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}
_PYTHON_METRICS = {
    "pythonDataSent": "python.data_sent_mb",
    "pythonDataReceived": "python.data_received_mb",
}


class Tracer:
    """In-memory span recorder. A span is a dict with name, start, end
    (epoch seconds), parent index and the execution's job group."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.group: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "group": self.group,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def add(self, name: str, start: float, end: float, parent: int) -> None:
        with self._lock:
            self.spans.append(
                {"id": len(self.spans), "name": name, "start": start, "end": end,
                 "parent": parent, "group": self.group}
            )

    def children(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]

    def self_s(self, idx: int) -> float:
        s = self.spans[idx]
        return self_time(
            (s["start"], s["end"]), [(c["start"], c["end"]) for c in self.children(idx)]
        )

    def self_by_name(self, root: int) -> dict[str, float]:
        """Self time of every span under ``root`` (root included),
        summed by span name."""
        out: dict[str, float] = defaultdict(float)
        todo = [root]
        while todo:
            i = todo.pop()
            out[self.spans[i]["name"]] += self.self_s(i)
            todo.extend(j for j, s in enumerate(self.spans) if s["parent"] == i)
        return dict(out)


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


def wrap_session(tracer: Tracer) -> None:
    """Span ``session.get_spark`` and the ``tune`` call it makes."""
    from dpu_olap_spark import session

    session.tune = _wrap(tracer, "session.tune", session.tune)
    session.get_spark = _wrap(tracer, "session.get_spark", session.get_spark)


def wrap_layers(tracer: Tracer, next_job_id) -> dict[str, int]:
    """Span ``load_table`` in every module that holds a reference to
    it, and count hits on the dedup family's shared subplans. Returns
    the live counter dict."""
    from dpu_olap_spark.llm import dedup
    from dpu_olap_spark.sources import tables

    counters = {"shared_hits": 0}
    original = tables.load_table

    @functools.wraps(original)
    def load_table(*args, **kwargs):
        j0 = next_job_id()
        with tracer.span("tables.load_table") as rec:
            out = original(*args, **kwargs)
            rec["jobs"] = next_job_id() - j0
            return out

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("dpu_olap_spark") and getattr(
            mod, "load_table", None
        ) is original:
            mod.load_table = load_table

    shared_df = dedup._shared_df

    def counted_shared_df(spark, sf_dir, name, build):
        if (spark.sparkContext.applicationId, sf_dir, name) in dedup._SHARED:
            counters["shared_hits"] += 1
        return shared_df(spark, sf_dir, name, build)

    dedup._shared_df = counted_shared_df
    return counters


class QueryExecutionCollector:
    """py4j implementation of Spark's ``QueryExecutionListener``: keeps
    every finished ``QueryExecution`` so the benchmark can read its
    planning tracker and executed plan after the action returns."""

    def __init__(self):
        self.events: list[tuple[str, object]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self.events.append((func_name, qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.events.append((func_name, qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_qe_listener(spark) -> QueryExecutionCollector:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    collector = QueryExecutionCollector()
    spark._jsparkSession.listenerManager().register(collector)
    return collector


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressCollector(StreamingQueryListener):
        def __init__(self):
            self.progress: list = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            self.progress.append(event.progress)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return ProgressCollector()


def stream_layer(progress: list) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for p in progress:
        out["streaming.batches"] += 1
        out["streaming.input_rows"] += p.numInputRows
        for key, metric in _STREAM_PHASES.items():
            out[metric] += p.durationMs.get(key, 0)
        for op in p.stateOperators:
            out["streaming.state_commit_ms"] += op.commitTimeMs
            out["streaming.state_rows"] += op.numRowsTotal
    return dict(out)


def stage_layer(sc, job_ids) -> dict[str, float]:
    """Stage and task totals over the given jobs, from the status store."""
    store = sc._jsc.sc().statusStore()
    out: dict[str, float] = defaultdict(float)
    seen: set[int] = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted from the store
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numTasks()
            out["exec.failed_tasks"] += sd.numFailedTasks()
            out["task.run_s"] += sd.executorRunTime() / 1e3
            out["task.cpu_s"] += sd.executorCpuTime() / 1e9
            out["task.gc_s"] += sd.jvmGcTime() / 1e3
            out["task.input_mb"] += sd.inputBytes() / MB
            out["task.shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["task.shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            out["sinks.output_mb"] += sd.outputBytes() / MB
            out["sinks.output_rows"] += sd.outputRecords()
    return dict(out)


def _plan_nodes(node):
    yield node
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _plan_nodes(node.executedPlan())
    elif "QueryStage" in name:
        yield from _plan_nodes(node.plan())
    else:
        children = node.children()
        for i in range(children.size()):
            yield from _plan_nodes(children.apply(i))


def plan_layer(qes: list) -> dict[str, float]:
    """Scan / compute / exchange task time (the phase_metrics rollup)
    and Python worker traffic over the executed plans of ``qes``."""
    from tools.phase_metrics import _iter_metrics, walk

    phases: dict[str, float] = defaultdict(float)
    out: dict[str, float] = defaultdict(float)
    for qe in qes:
        plan = qe.executedPlan()
        walk(plan, phases, 0, [])
        for node in _plan_nodes(plan):
            for key, value in _iter_metrics(node):
                if key in _PYTHON_METRICS and value > 0:
                    out[_PYTHON_METRICS[key]] += value / MB
    for phase in ("scan", "compute", "exchange"):
        out[f"task.{phase}_ms"] = phases.get(phase, 0.0)
    return dict(out)


def catalyst_spans(tracer: Tracer, qe, parent: int) -> None:
    """Add the action's planning phases as child spans of ``parent``."""
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        summary = kv._2()
        tracer.add(
            f"catalyst.{kv._1()}",
            summary.startTimeMs() / 1e3,
            summary.endTimeMs() / 1e3,
            parent,
        )
