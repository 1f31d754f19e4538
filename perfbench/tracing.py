"""Traced-run plumbing: spans recorded around the program's public layer
calls, and a parser for Spark's own event log that assigns jobs, tasks
and SQL plans to the benchmark's operations by timestamp.

Spans are kept in memory and written once when the run ends.  Layer
calls are timed by wrapping the program's public functions from this
file for the duration of a traced run; the program itself is not
changed.  Spark writes the event log (``spark.eventLog.*``, passed
through the session's ``IBP_SPARK_CONF`` hook) as a rolling ``v2``
directory of zstd-compressed JSON-lines files.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

# physical-plan node names that cross the JVM -> Python worker boundary
PYTHON_EVAL_NODES = frozenset({
    "MapInArrow", "MapInPandas", "PythonMapInArrow", "ArrowEvalPython",
    "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow",
    "AggregateInPandas", "WindowInPandas", "MapInBatch",
})


@dataclass
class Span:
    span_id: int
    name: str
    start: float          # epoch seconds (same clock as the event log)
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    """Span recorder for a single-threaded driver.  ``begin_op`` opens
    the root span of one benchmark operation; ``wrap`` makes a module or
    class attribute record a child span per call while ``enabled``."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._op_id: int | None = None
        self._patched: list[tuple] = []

    def _open(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, time.time(), 0.0, parent,
                               self._op_id))
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid].end = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self._open(name) if self.enabled else None
        try:
            yield
        finally:
            if sid is not None:
                self._close(sid)

    def begin_op(self, op_id: int, kind: str):
        self._op_id = op_id
        return self.span(f"op.{kind}")

    def end_op(self) -> None:
        self._op_id = None

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def instrument_program(tracer: Tracer) -> None:
    """Wrap the public layer calls of the program, by layer."""
    from invariantbitpacking_spark import session
    from invariantbitpacking_spark.functions import strings
    from invariantbitpacking_spark.operators import selector
    from invariantbitpacking_spark.plans import pipeline
    from invariantbitpacking_spark.sources import tokens

    for m in ("run", "append", "delete", "fetch", "read_encoded",
              "verify_checksums", "load_or_learn_params",
              "load_or_learn_fsst", "stage_input", "compact",
              "cleanup_staging", "latest_lineage", "lineage",
              "committed_buckets"):
        tracer.wrap(pipeline.CompressionPipeline, m, f"plans.{m}")
    # pipeline binds learn_params by name at import
    tracer.wrap(pipeline, "learn_params", "operators.learn_params")
    for m in ("encode_auto", "decode_auto"):
        tracer.wrap(selector, m, f"operators.{m}")
    for m in ("encode_string_cols", "decode_string_cols", "learn_table_df"):
        tracer.wrap(strings, m, f"functions.{m}")
    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(tokens, "write_tokens_parquet", "sources.write_tokens_parquet")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    exec_id: int | None
    stage_ids: list


@dataclass
class Task:
    stage_id: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    deserialize_s: float
    gc_s: float
    result_bytes: int
    input_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    # SQL-metric updates: accumulator id -> (metric name, value)
    accums: dict = field(default_factory=dict)


@dataclass
class Execution:
    exec_id: int
    start: float
    end: float
    plan: dict                      # final (post-AQE) plan info tree
    driver_accums: dict = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: list
    tasks: list
    executions: dict
    accum_meta: dict                # accumulator id -> (node, metric, type)


def read_event_lines(log_dir: str) -> list[dict]:
    """Every event of the newest application under ``log_dir``: a
    rolling ``eventlog_v2_*`` directory (files in index order) or a
    single-file log; ``.zstd`` files are decompressed with pyarrow."""
    import pyarrow as pa

    apps = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")),
                  key=os.path.getmtime)
    if apps:
        files = glob.glob(os.path.join(apps[-1], "events_*"))
        files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        files = sorted((p for p in glob.glob(os.path.join(log_dir, "*"))
                        if os.path.isfile(p)), key=os.path.getmtime)[-1:]
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    events = []
    for p in files:
        codec = "zstd" if ".zstd" in os.path.basename(p) else None
        with pa.input_stream(p, compression=codec) as s:
            data = s.read()
        for line in data.decode("utf-8").splitlines():
            if line.strip():
                events.append(json.loads(line))
    return events


def _walk_plan(node: dict):
    yield node
    for c in node.get("children", ()):
        yield from _walk_plan(c)


def parse_event_log(log_dir: str) -> EventLog:
    jobs, tasks, execs, meta = [], [], {}, {}
    job_by_id: dict[int, Job] = {}

    def learn_plan(plan: dict) -> None:
        for n in _walk_plan(plan):
            for m in n.get("metrics", ()):
                meta[int(m["accumulatorId"])] = (
                    n.get("nodeName", ""), m["name"], m.get("metricType"))

    for e in read_event_lines(log_dir):
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            xid = props.get("spark.sql.execution.id")
            j = Job(int(e["Job ID"]), e["Submission Time"] / 1e3, 0.0,
                    int(xid) if xid not in (None, "") else None,
                    list(e.get("Stage IDs", ())))
            jobs.append(j)
            job_by_id[j.job_id] = j
        elif kind == "SparkListenerJobEnd":
            j = job_by_id.get(int(e["Job ID"]))
            if j is not None:
                j.end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            inp = tm.get("Input Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.append(Task(
                int(e["Stage ID"]), info["Launch Time"] / 1e3,
                info["Finish Time"] / 1e3,
                tm.get("Executor Run Time", 0) / 1e3,
                tm.get("Executor CPU Time", 0) / 1e9,
                tm.get("Executor Deserialize Time", 0) / 1e3,
                tm.get("JVM GC Time", 0) / 1e3,
                int(tm.get("Result Size", 0)),
                int(inp.get("Bytes Read", 0)),
                int(sw.get("Shuffle Bytes Written", 0)),
                int(tm.get("Memory Bytes Spilled", 0))
                + int(tm.get("Disk Bytes Spilled", 0)),
                {int(a["ID"]): (a.get("Name", ""), float(a.get("Update") or 0))
                 for a in info.get("Accumulables", ())
                 if a.get("Metadata") == "sql"}))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            x = Execution(int(e["executionId"]), e["time"] / 1e3, 0.0,
                          e["sparkPlanInfo"])
            execs[x.exec_id] = x
            learn_plan(x.plan)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            x = execs.get(int(e["executionId"]))
            if x is not None:
                x.plan = e["sparkPlanInfo"]
            learn_plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            x = execs.get(int(e["executionId"]))
            if x is not None:
                x.end = e["time"] / 1e3
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            x = execs.get(int(e["executionId"]))
            if x is not None:
                for acc_id, v in e.get("accumUpdates", ()):
                    x.driver_accums[int(acc_id)] = (
                        x.driver_accums.get(int(acc_id), 0) + float(v))
    return EventLog(jobs, tasks, execs, meta)


def metric_seconds(value: float, metric_type: str | None) -> float:
    """SQL timing metrics arrive in ms (``timing``) or ns (``nsTiming``)."""
    if metric_type == "nsTiming":
        return value / 1e9
    return value / 1e3


def python_eval_count(plan: dict) -> int:
    return sum(1 for n in _walk_plan(plan)
               if n.get("nodeName") in PYTHON_EVAL_NODES)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class OpLedger:
    """What the event log says about one benchmark operation."""
    jobs: int = 0
    tasks: int = 0
    job_cover_s: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    deserialize_s: float = 0.0
    gc_s: float = 0.0
    result_bytes: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    py_sent_bytes: float = 0.0
    py_returned_bytes: float = 0.0
    py_run_s: float = 0.0
    py_start_s: float = 0.0
    python_evals: int = 0
    scan_files_read: float = 0.0
    scan_rows: float = 0.0


def in_window(t: float, start: float, end: float) -> bool:
    """Whether an event-log time falls in an op's [start, end]; the log
    keeps whole milliseconds, so allow one on each side."""
    return start - 1e-3 <= t <= end + 1e-3


def attribute(log: EventLog, start: float, end: float) -> OpLedger:
    """Jobs submitted inside [start, end], their tasks, and the SQL
    executions they ran."""
    led = OpLedger()
    mine = [j for j in log.jobs if in_window(j.submit, start, end)]
    led.jobs = len(mine)
    led.job_cover_s = union_length(
        [(j.submit, j.end or j.submit) for j in mine], start, end)
    stages = {s for j in mine for s in j.stage_ids}
    exec_ids = {j.exec_id for j in mine if j.exec_id is not None}
    # executions that ran no job (e.g. a local relation) still count
    exec_ids |= {x.exec_id for x in log.executions.values()
                 if in_window(x.start, start, end)}
    for t in log.tasks:
        if t.stage_id not in stages:
            continue
        led.tasks += 1
        led.run_s += t.run_s
        led.cpu_s += t.cpu_s
        led.deserialize_s += t.deserialize_s
        led.gc_s += t.gc_s
        led.result_bytes += t.result_bytes
        led.input_bytes += t.input_bytes
        led.shuffle_write_bytes += t.shuffle_write_bytes
        led.spill_bytes += t.spill_bytes
        for acc_id, (name, v) in t.accums.items():
            node, _, mtype = log.accum_meta.get(acc_id, ("", "", None))
            if name == "data sent to Python workers":
                led.py_sent_bytes += v
            elif name == "data returned from Python workers":
                led.py_returned_bytes += v
            elif name == "time to run Python workers":
                led.py_run_s += metric_seconds(v, mtype)
            elif name == "time to start Python workers":
                led.py_start_s += metric_seconds(v, mtype)
            elif name == "number of output rows" and node.startswith("Scan"):
                led.scan_rows += v
    for xid in exec_ids:
        x = log.executions.get(xid)
        if x is None:
            continue
        led.python_evals += python_eval_count(x.plan)
        for acc_id, v in x.driver_accums.items():
            node, name, _ = log.accum_meta.get(acc_id, ("", "", None))
            if name == "number of files read" and node.startswith("Scan"):
                led.scan_files_read += v
    return led
