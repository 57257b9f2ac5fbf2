"""Benchmark-side tracing: spans and counters recorded around the calls
into each layer, from outside the program.

The tracer patches public pyspark methods (materializations, actions,
writes, stream drains), the CLI's panel render and the sinks' deletes
for as long as a traced pass runs, and reads Spark's in-process status
store once per op.
Nothing here is active in an untraced pass: end-to-end metrics are
measured with every patch removed.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import Counter
from contextlib import contextmanager

# Stage metrics summed per op from the status store: (metric, StageData
# getter, scale). Times in the store are ms, except CPU time in ns.
_STAGE_FIELDS = [
    ("spark.tasks", "numTasks", 1),
    ("spark.failed_tasks", "numFailedTasks", 1),
    ("spark.executor_run_s", "executorRunTime", 1e-3),
    ("spark.executor_cpu_s", "executorCpuTime", 1e-9),
    ("spark.gc_s", "jvmGcTime", 1e-3),
    ("spark.input_mb", "inputBytes", 1 / 2**20),
    ("spark.shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
    ("spark.shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("spark.spill_mb", "diskBytesSpilled", 1 / 2**20),
]

# Span names whose time is not the enclosing build's own work.
_CHILD_OF_BUILD = ("operators.materialize", "action", "sinks.write",
                   "streaming.drain")


def proc_io(pid: int) -> dict[str, int]:
    """rchar/wchar of a process: every byte it read or wrote through a
    syscall (files, pipes and sockets alike)."""
    with open(f"/proc/{pid}/io") as f:
        return {k: int(v) for k, v in (ln.split(":") for ln in f)}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of intervals."""
    total, cur = 0.0, start
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, end)
        if e > s:
            total += e - s
            cur = e
    return total


class StatusReader:
    """Reads one op's jobs and stages from the in-process status store.

    Jobs are attributed by id window (every job submitted between the
    op's start and end, from any thread), and the op's job group is
    recorded beside it so that the group's coverage can be checked.
    Read after every op, so stages are read before the store's
    retention limit can drop them.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def read(self, first_job: int, group: str) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        last = self.next_job_id()
        out = Counter()
        stages, in_group, lost = set(), 0, 0
        for j in range(first_job, last):
            jd = self._store.job(j)
            if jd.jobGroup().toString() == f"Some({group})":
                in_group += 1
            ids = jd.stageIds().mkString(",")
            stages.update(int(s) for s in ids.split(",") if s)
        for sid in sorted(stages):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # evicted by the store's retention limit
                lost += 1
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            for name, getter, scale in _STAGE_FIELDS:
                out[name] += getattr(sd, getter)() * scale
        out["spark.jobs"] = last - first_job
        return {"counters": out, "jobs_in_group": in_group,
                "stages_lost": lost}


class Tracer:
    """Spans (name, start, end, parent, op) and per-op counters for the
    traced passes of one run. Times are seconds since the run started."""

    def __init__(self, spark, t0: float):
        self.spark = spark
        self.t0 = t0
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self.op_checks: list[dict] = []
        self.op_id: str | None = None
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.status = StatusReader(spark)

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # A span opened on a helper thread hangs off the op's main span.
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "start": time.time() - self.t0,
               "end": None, "parent": parent, "op": self.op_id}
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time() - self.t0

    def _in(self, name: str) -> bool:
        return any(self.spans[i]["name"] == name for i in self._stack())

    def self_time(self, name: str) -> float:
        """Sum over spans called name of their duration minus the time
        their materialize, action, write and drain descendants cover."""
        kids: dict[int, list] = {}
        for i, s in enumerate(self.spans):
            p = s["parent"]
            while p is not None:
                kids.setdefault(p, []).append(i)
                p = self.spans[p]["parent"]
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["name"] != name:
                continue
            inner = [(self.spans[k]["start"], self.spans[k]["end"])
                     for k in kids.get(i, [])
                     if self.spans[k]["name"] in _CHILD_OF_BUILD]
            total += s["end"] - s["start"] - _covered(s["start"], s["end"], inner)
        return total

    def span_total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    # -- ops -------------------------------------------------------------
    @contextmanager
    def op(self, op_id: str):
        sc = self.spark.sparkContext
        self.op_id = op_id
        sc.setJobGroup(op_id, f"perfbench {op_id}")
        first_job = self.status.next_job_id()
        try:
            with self.span("op"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            got = self.status.read(first_job, op_id)
            self.counters.update(got["counters"])
            self.op_checks.append({
                "op": op_id,
                "jobs": got["counters"]["spark.jobs"],
                "jobs_in_group": got["jobs_in_group"],
                "stages_lost": got["stages_lost"],
            })
            self.op_id = None

    # -- patches ---------------------------------------------------------
    def _wrap(self, owner, attr: str, span_name: str, after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self._in(span_name):  # e.g. parquet() calling save()
                return orig(*args, **kwargs)
            with self.span(span_name) as rec:
                res = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, kwargs, res)
            return res

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming.query import StreamingQuery
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        import iceberg_diag_spark.cli as cli
        import iceberg_diag_spark.sources.sinks as sinks

        df_cls = type(self.spark.range(1))
        c = self.counters

        def materialized(rec, args, kwargs, res):
            c["operators.materialize_n"] += 1

        def collected(rec, args, kwargs, res):
            # Catalyst phase times of the query just executed
            conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
            phases = conv.asJava(args[0]._jdf.queryExecution().tracker().phases())
            c["catalyst.plan_s"] += sum(
                phases.get(k).durationMs() for k in phases.keySet()) / 1e3

        def written(rec, args, kwargs, res):
            c["sinks.files_written"] += _files_since(_write_path(args, kwargs),
                                                     rec["start"] + self.t0)

        def deleted(rec, args, kwargs, res):
            paths = args[1] if len(args) > 1 else kwargs.get("paths", [])
            c["sinks.delete_n"] += 1 if isinstance(paths, str) else len(paths)

        for attr in ("localCheckpoint", "checkpoint"):
            self._wrap(df_cls, attr, "operators.materialize", materialized)
        self._wrap(df_cls, "collect", "action", collected)
        for attr in ("count", "toPandas"):
            self._wrap(df_cls, attr, "action")
        for attr in ("parquet", "save", "saveAsTable", "insertInto"):
            self._wrap(DataFrameWriter, attr, "sinks.write", written)
        self._wrap(sinks, "delete_paths", "sinks.delete", deleted)
        self._wrap(sinks, "delete_path", "sinks.delete", deleted)
        self._wrap(cli, "_render_panel", "cli.panel")
        # A drain runs from start() to the end of awaitTermination(); its
        # micro-batches come from the query's recentProgress.
        orig_start = DataStreamWriter.start

        @functools.wraps(orig_start)
        def start(*args, **kwargs):
            q = orig_start(*args, **kwargs)
            q._perfbench_started = time.time()
            return q

        self._patches.append((DataStreamWriter, "start", orig_start))
        DataStreamWriter.start = start
        orig_wait = StreamingQuery.awaitTermination

        @functools.wraps(orig_wait)
        def await_termination(q, *args, **kwargs):
            res = orig_wait(q, *args, **kwargs)
            began = getattr(q, "_perfbench_started", None)
            if began is not None:
                q._perfbench_started = None
                stack = self._stack()
                self.spans.append({
                    "name": "streaming.drain", "start": began - self.t0,
                    "end": time.time() - self.t0,
                    "parent": stack[-1] if stack else None,
                    "op": self.op_id})
                progress = q.recentProgress
                c["streaming.batches"] += len(progress)
                c["streaming.add_batch_s"] += sum(
                    p.durationMs.get("addBatch", 0) for p in progress) / 1e3
            return res

        self._patches.append((StreamingQuery, "awaitTermination", orig_wait))
        StreamingQuery.awaitTermination = await_termination

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def _write_path(args, kwargs) -> str | None:
    path = args[1] if len(args) > 1 else kwargs.get("path")
    return path if isinstance(path, str) else None


def _files_since(path: str | None, since: float) -> int:
    """Data files under path modified at or after `since` (epoch s)."""
    if not path:
        return 0
    path = path.removeprefix("file:")
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            if os.path.getmtime(os.path.join(d, f)) >= since - 1e-3:
                n += 1
    return n
