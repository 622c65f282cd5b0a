"""Spans around the program's public calls, with py4j and Spark counters.

A span records name, start, end, parent and iteration id. At each span
boundary the tracer reads what Spark did since the previous boundary
from the application status store (``sc._jsc.sc().statusStore()``,
populated with ``spark.ui.enabled=false``): new jobs, their stages and
the Python-node row counts of their SQL executions. Work is charged to
the innermost open span. Records are serialized in the JVM with the
Jackson mapper Spark itself uses, so one read costs a handful of py4j
round trips however many stages it returns.

The tracer's own time and py4j calls are kept out of every span:
``book`` accumulates the seconds it spends reading, and the py4j counter
is paused meanwhile.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext

import py4j.clientserver

#: the py4j commands that reach the JVM for program work: call and
#: reflection. Memory ('m') commands are issued by Python's garbage
#: collector, so their count varies between identical iterations.
_COUNTED = ("c\n", "r\n")
_PYTHON_NODES = ("ArrowEvalPython", "MapInPandas")

EXEC_KEYS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
             "input_bytes", "output_bytes", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes", "python_rows")


class Py4jCounter:
    """Counts call and reflection commands sent to the JVM while
    installed and not paused."""

    def __init__(self):
        self.count = 0
        self.paused = False
        self._orig = None

    def install(self):
        if self._orig is not None:
            return
        cls = py4j.clientserver.ClientServerConnection
        orig = self._orig = cls.send_command
        counter = self

        def send_command(conn, command, *a, **kw):
            if not counter.paused and command.startswith(_COUNTED):
                counter.count += 1
            return orig(conn, command, *a, **kw)

        cls.send_command = send_command

    def uninstall(self):
        if self._orig is not None:
            py4j.clientserver.ClientServerConnection.send_command = self._orig
            self._orig = None


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    iteration = None
    book = 0.0

    def span(self, name):
        return nullcontext()


class StatusReader:
    """Reads jobs, stages and SQL executions newer than the last read."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._bus = sc._jsc.sc().listenerBus()
        self._kv = sc._jsc.sc().statusStore().store()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(
            jvm.com.fasterxml.jackson.module.scala,
            "DefaultScalaModule$").__getattr__("MODULE$"))
        self._to_seq = jvm.org.apache.spark.status.KVUtils.viewToSeq
        cls = jvm.java.lang.Class.forName
        self._job_cls = cls("org.apache.spark.status.JobDataWrapper")
        self._stage_cls = cls("org.apache.spark.status.StageDataWrapper")
        self.next_job = self._next_id(self._job_cls, None, "jobId")
        self.next_stage = self._next_id(self._stage_cls, "stageId", "stageId")
        self._seen_sql: set[int] = set()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _view(self, cls, index, first):
        view = self._kv.view(cls)
        if index:
            view = view.index(index)
        return self._json(self._to_seq(view.first(first)))

    def _next_id(self, cls, index, key):
        view = self._kv.view(cls)
        if index:
            view = view.index(index)
        last = self._json(self._to_seq(view.reverse().max(1)))
        return last[0]["info"][key] + 1 if last else 0

    def read(self) -> dict:
        """Counters of the work Spark finished since the last read, plus
        the job intervals (epoch ms) for the build/action split."""
        self._bus.waitUntilEmpty(60_000)
        out = dict.fromkeys(EXEC_KEYS, 0)
        out["intervals"] = []
        jobs = self._view(self._job_cls, None, self.next_job)
        if not jobs:
            return out
        self.next_job = max(j["info"]["jobId"] for j in jobs) + 1
        out["jobs"] = len(jobs)
        sql_ids = set()
        for j in jobs:
            info = j["info"]
            out["intervals"].append((info["submissionTime"],
                                     info["completionTime"]))
            if j.get("sqlExecutionId") is not None:
                sql_ids.add(j["sqlExecutionId"])
        for s in self._view(self._stage_cls, "stageId", self.next_stage):
            info = s["info"]
            self.next_stage = max(self.next_stage, info["stageId"] + 1)
            if info["status"] == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += info["numCompleteTasks"] + info["numFailedTasks"]
            out["task_run_s"] += info["executorRunTime"] / 1e3
            out["task_cpu_s"] += info["executorCpuTime"] / 1e9
            out["gc_s"] += info["jvmGcTime"] / 1e3
            out["input_bytes"] += info["inputBytes"]
            out["output_bytes"] += info["outputBytes"]
            out["shuffle_write_bytes"] += info["shuffleWriteBytes"]
            out["shuffle_read_bytes"] += info["shuffleReadBytes"]
            out["spill_bytes"] += info["diskBytesSpilled"]
        for eid in sorted(sql_ids - self._seen_sql):
            self._seen_sql.add(eid)
            out["python_rows"] += self._python_rows(eid)
        return out

    def _python_rows(self, eid: int) -> int:
        nodes = [n for n in self._json(self._sql.planGraph(eid).allNodes())
                 if n["name"] in _PYTHON_NODES]
        if not nodes:
            return 0
        values = self._json(self._sql.executionMetrics(eid))
        rows = 0
        for n in nodes:
            for m in n["metrics"]:
                if m["name"] == "number of output rows":
                    raw = values.get(str(m["accumulatorId"]), "0")
                    rows += int(str(raw).replace(",", "") or 0)
        return rows


class Tracer:
    """Span recorder. Spans are kept in memory (``spans``) and reduced to
    per-layer metrics by the runner when the run ends."""

    def __init__(self, spark, counter: Py4jCounter, spans: list[dict]):
        self.counter = counter
        self.status = StatusReader(spark)
        self.spans = spans
        self.stack: list[dict] = []
        self.iteration = None
        self.book = 0.0

    def _charge(self):
        """Read the status store and charge what ran to the open span."""
        t0 = time.perf_counter()
        self.counter.paused = True
        try:
            got = self.status.read()
        finally:
            self.counter.paused = False
        if self.stack:
            acc = self.stack[-1]["exec"]
            for k in EXEC_KEYS:
                acc[k] += got[k]
            acc["intervals"] += got["intervals"]
        self.book += time.perf_counter() - t0

    @contextmanager
    def span(self, name):
        self._charge()
        rec = {"name": name, "iteration": self.iteration,
               "parent": self.stack[-1]["id"] if self.stack else None,
               "id": len(self.spans), "exec": dict.fromkeys(EXEC_KEYS, 0)}
        rec["exec"]["intervals"] = []
        self.spans.append(rec)
        self.stack.append(rec)
        book0, calls0 = self.book, self.counter.count
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.counter.count - calls0
            # the tracer's reads at child boundaries are not the program's
            rec["dur"] = rec["end"] - rec["start"] - (self.book - book0)
            self._charge()
            self.stack.pop()
