"""Spans and counters for the traced run, recorded from outside the program.

The program has no tracing of its own, so the traced run wraps each
layer's public functions at their module boundary and reads Spark's
status stores (jobs, stages, SQL executions, streaming progress) for
the interval of each entry. Spans and counts stay in memory until the
run ends.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import time
from contextlib import contextmanager


# Layers whose self time is reported; a span belongs to the layer named
# before the first dot.
LAYERS = ("queries", "sql", "catalog", "ml", "dedup", "lsh_index", "streaming")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.entry_id: str | None = None
        self.enabled = True
        self.streams: list = []  # StreamingQuery handles started by the program
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "entry": self.entry_id, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn, before=None, after=None):
        """``fn`` inside a span. ``before(rec, args)`` and
        ``after(rec, args, result)`` attach counts to the span record."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                if before and self.enabled:
                    before(rec, args)
                out = fn(*args, **kwargs)
                if after and self.enabled:
                    after(rec, args, out)
                return out

        return traced


def _rebind(orig, new) -> None:
    """Point every ``sparkflow_spark`` module-level name bound to
    ``orig`` at ``new`` (query modules import functions by name)."""
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("sparkflow_spark"):
            for key, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, key, new)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


def install(tracer: Tracer, spark) -> None:
    """Wrap the layer boundaries. Call after the registry is loaded."""
    from sparkflow_spark import catalog, dedup, lsh_index
    from sparkflow_spark.ml import DistributedDL, DistributedDLModel
    from sparkflow_spark.streaming import windows

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def index_size(path_arg: int):
        def after(rec, args, _out):
            rec["index"] = args[path_arg]
            rec["index_bytes"] = _dir_bytes(args[path_arg])

        return after

    def keep_frame(rec, _args, out):
        rec["frame"] = out  # counted after the entry, outside its timing

    def jobs_before(rec, _args):
        rec["jobs"] = -scheduler.numTotalJobs()

    def jobs_after(rec, _args, _out):
        rec["jobs"] += scheduler.numTotalJobs()

    for name, module, attr, hooks in (
        ("catalog.probe", catalog, "embedding_dim", {}),
        ("dedup.pairs", dedup, "ngram_jaccard_pairs", {"after": keep_frame}),
        ("dedup.cc", dedup, "connected_components", {}),
        ("lsh_index.build", lsh_index, "build_lsh_index", {"after": index_size(1)}),
        ("lsh_index.build", lsh_index, "append_to_lsh_index", {"after": index_size(1)}),
        ("lsh_index.query", lsh_index, "query_lsh_index", {}),
        ("streaming.run", windows, "run_stream_to_memory", {}),
    ):
        orig = getattr(module, attr)
        _rebind(orig, tracer.wrap(name, orig, **hooks))

    DistributedDL._fit = tracer.wrap("ml.fit", DistributedDL._fit, jobs_before, jobs_after)
    DistributedDLModel._transform = tracer.wrap("ml.transform", DistributedDLModel._transform)
    DistributedDLModel.save = tracer.wrap("ml.save_load", DistributedDLModel.save)
    DistributedDLModel.load = classmethod(tracer.wrap("ml.save_load", DistributedDLModel.load.__func__))

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    start = DataStreamWriter.start

    @functools.wraps(start)
    def recording_start(self, *args, **kwargs):
        query = start(self, *args, **kwargs)
        tracer.streams.append(query)
        return query

    DataStreamWriter.start = recording_start


def self_seconds(spans: list[dict]) -> dict[str, float]:
    """Per layer: span duration minus the part its child spans cover
    (children of one span never overlap: the client is single-threaded)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        layer = s["name"].split(".")[0]
        if layer in out:
            out[layer] += s["end"] - s["start"] - child_time.get(s["id"], 0.0)
    return out


# ---------------------------------------------------------------- status


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str | None) -> float:
    """A SQL metric's display string as a number (bytes, seconds or a
    count). Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    if not text:
        return 0.0
    line = text.split("\n")[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


class StatusReader:
    """Jobs, stages and SQL executions that started after a mark."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.slots = spark.sparkContext.defaultParallelism

    def mark(self) -> tuple[int, int]:
        executions = _seq(self.spark._jsparkSession.sharedState().statusStore().executionsList())
        last_exec = max((e.executionId() for e in executions), default=-1)
        return self.jsc.dagScheduler().numTotalJobs(), last_exec

    def read(self, mark: tuple[int, int]) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        first_job, last_exec = mark
        store = self.jsc.statusStore()
        jobs, stages = [], {}
        for jid in range(first_job, self.jsc.dagScheduler().numTotalJobs()):
            job = store.job(jid)
            start = job.submissionTime()
            end = job.completionTime()
            wall = (end.get().getTime() - start.get().getTime()) / 1e3 if end.isDefined() and start.isDefined() else 0.0
            jobs.append({"id": jid, "wall": wall, "group": str(job.jobGroup())})
            for sid in _seq(job.stageIds()):
                if sid not in stages:
                    try:
                        stages[sid] = store.lastStageAttempt(sid)
                    except Exception:  # stage never ran (skipped before submission)
                        pass
        counted = [s for s in stages.values() if s.status().toString() != "SKIPPED"]
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs, python = [], {"rows": 0.0, "bytes_sent": 0.0, "bytes_received": 0.0, "eval_s": 0.0}
        for e in _seq(sql.executionsList()):
            eid = e.executionId()
            if eid <= last_exec:
                continue
            done = e.completionTime()
            execs.append({"submit": e.submissionTime() / 1e3,
                          "end": done.get().getTime() / 1e3 if done.isDefined() else None})
            values = sql.executionMetrics(eid)
            for node in _seq(sql.planGraph(eid).allNodes()):
                metrics = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}
                if "data sent to Python workers" not in metrics:
                    continue

                def value(name):
                    acc = metrics.get(name)
                    v = values.get(acc) if acc is not None else None
                    return parse_metric(v.get()) if v is not None and v.isDefined() else 0.0

                python["rows"] += value("number of output rows")
                python["bytes_sent"] += value("data sent to Python workers")
                python["bytes_received"] += value("data returned from Python workers")
                python["eval_s"] += value("time to run Python workers")
        return {
            "jobs": jobs,
            "stages": len(counted),
            "tasks": sum(s.numTasks() for s in counted),
            "failed_tasks": sum(s.numFailedTasks() for s in counted),
            "task_run_s": sum(s.executorRunTime() for s in counted) / 1e3,
            "task_cpu_s": sum(s.executorCpuTime() for s in counted) / 1e9,
            "gc_s": sum(s.jvmGcTime() for s in counted) / 1e3,
            "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in counted),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in counted),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in counted),
            "executions": execs,
            "python": python,
        }


def stream_progress(query) -> list[dict]:
    """Completed micro-batch progress records of one streaming query."""
    import json

    out = []
    for p in query.recentProgress:
        if isinstance(p, str):
            p = json.loads(p)
        elif not isinstance(p, dict):
            p = json.loads(p.json)
        out.append(p)
    return out
