"""In-memory spans for the traced run, and the per-layer numbers derived
from them.

A span records name, start, end and parent.  While a span is open its
id is the thread's Spark job group, so every job Spark runs inside it
can be read back from the AppStatusStore afterwards and charged to the
operation that caused it.  Gateway commands are counted by wrapping the
py4j client's ``send_command``; the tracer's own commands are not
counted.  Spans are kept in memory and written out once, at exit.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb-"


class Tracer:
    """Spans of the operations run while :attr:`active`.  An inactive
    tracer's :meth:`span` is a no-op, so the workload code is the same
    traced or not."""

    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._py4j = 0
        self._counting = True
        self._sc = None

    def attach(self, spark) -> None:
        """Count gateway commands of ``spark``'s py4j client (once per
        JVM: the client outlives SparkContext restarts)."""
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        if getattr(client, "_perfbench_counted", False):
            return
        send = client.send_command

        def counted(*args, **kwargs):
            if self._counting:
                self._py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted
        client._perfbench_counted = True

    def _set_group(self, span: dict | None) -> None:
        self._counting = False
        try:
            self._sc.setLocalProperty(
                "spark.jobGroup.id",
                None if span is None else f"{GROUP_PREFIX}{span['id']}",
            )
        finally:
            self._counting = True

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": None if parent is None else parent["id"],
            "tags": {},
        }
        self._set_group(rec)
        self._stack.append(rec)
        rec["py4j"] = self._py4j
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j"] = self._py4j - rec["py4j"]
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def traced_method(tracer: Tracer, obj, attr: str, name: str, on_result=None):
    """Wrap ``obj.attr`` in a span named ``name``; ``on_result(span,
    result)`` may tag the span with what the call returned."""
    fn = getattr(obj, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(name) as sp:
            out = fn(*args, **kwargs)
            if sp is not None and on_result is not None:
                on_result(sp, out)
            return out

    setattr(obj, attr, wrapper)


# -- the AppStatusStore ------------------------------------------------------------


def read_status_store(spark) -> tuple[list[dict], list[dict]]:
    """``(jobs, stages)`` of the live AppStatusStore as plain dicts,
    serialized in the JVM with Spark's bundled Jackson (two gateway
    round trips, whatever the number of jobs)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    gw = sc._gateway
    from py4j.java_collections import ListConverter

    store = sc._jsc.sc().statusStore()
    empty = ListConverter().convert([], gw._gateway_client)
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(
        jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
    ).__getattr__("MODULE$")
    mapper.registerModule(scala_module)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(empty)))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(
                empty, False, False, gw.new_array(jvm.double, 0), empty
            )
        )
    )
    return jobs, stages


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _self_ms(span: dict, children: list[dict]) -> float:
    wall = (span["end"] - span["start"]) * 1e3
    covered = _union_ms(
        [
            (max(c["start"], span["start"]) * 1e3, min(c["end"], span["end"]) * 1e3)
            for c in children
        ]
    )
    return wall - covered


def op_breakdown(spans: list[dict], jobs: list[dict], stages: list[dict]):
    """Per root span (one operation): its wall time, the self time of
    every span in its subtree, and the Spark work charged to it by job
    group.  Returns ``{root_id: record}``."""
    kids: dict[int | None, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    # a stage listed by several jobs (reused shuffle output) is charged
    # to the first job that lists it
    stage_job: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j.get("stageIds", []):
            stage_job.setdefault(sid, j["jobId"])
    stages_of: dict[int, list[dict]] = {}
    for st in stages:
        stages_of.setdefault(stage_job.get(st["stageId"], -1), []).append(st)
    jobs_of: dict[str, list[dict]] = {}
    for j in jobs:
        grp = j.get("jobGroup")
        if grp:
            jobs_of.setdefault(grp, []).append(j)

    out = {}
    for root in kids.get(None, []):
        subtree, todo = [], [root]
        while todo:
            s = todo.pop()
            subtree.append(s)
            todo.extend(kids.get(s["id"], []))
        wall = (root["end"] - root["start"]) * 1e3
        self_ms: dict[str, float] = {}
        total_ms: dict[str, float] = {}
        for s in subtree:
            name = s["name"]
            self_ms[name] = self_ms.get(name, 0.0) + _self_ms(s, kids.get(s["id"], []))
            total_ms[name] = total_ms.get(name, 0.0) + (s["end"] - s["start"]) * 1e3
        op_jobs = [
            j for s in subtree for j in jobs_of.get(f"{GROUP_PREFIX}{s['id']}", [])
        ]
        op_stages = [st for j in op_jobs for st in stages_of.get(j["jobId"], [])]
        ran = [st for st in op_stages if st.get("status") != "SKIPPED"]
        job_iv = [
            (
                max(j["submissionTime"], root["start"] * 1e3),
                min(j.get("completionTime") or root["end"] * 1e3, root["end"] * 1e3),
            )
            for j in op_jobs
            if j.get("submissionTime")
        ]
        job_wall = _union_ms(job_iv)
        out[root["id"]] = {
            "name": root["name"],
            "wall_ms": wall,
            "self_ms": self_ms,
            "spans": total_ms,
            "py4j": root["py4j"],
            "jobs": len(op_jobs),
            "stages": len(ran),
            "tasks": sum(st.get("numTasks", 0) for st in ran),
            "job_wall_ms": job_wall,
            "driver_gap_ms": wall - job_wall,
            "executor_run_ms": sum(st.get("executorRunTime", 0) for st in ran),
            "executor_cpu_ms": sum(st.get("executorCpuTime", 0) for st in ran) / 1e6,
            "input_bytes": sum(st.get("inputBytes", 0) for st in ran),
            "input_rows": sum(st.get("inputRecords", 0) for st in ran),
            "shuffle_read_bytes": sum(st.get("shuffleReadBytes", 0) for st in ran),
            "shuffle_write_bytes": sum(st.get("shuffleWriteBytes", 0) for st in ran),
            "gc_ms": sum(st.get("jvmGcTime", 0) for st in ran),
            "peak_exec_mem_mb": max(
                [st.get("peakExecutionMemory", 0) for st in ran], default=0
            ) / 2**20,
        }
    return out
