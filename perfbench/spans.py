"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own code around the calls into
the package; nothing inside the package is instrumented. Each span has an
id, a parent id, a kind and epoch start/end seconds, and all spans are
kept in memory and written out as JSON when the run ends. Spark job spans
are added after the timed phase from the status REST API, matched to
their operation by job group and placed under the call or action span
whose interval contains the job's submission.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import urllib.request
from datetime import datetime

from py4j.protocol import CALL_COMMAND_NAME


class Py4jCallCounter:
    """Counts py4j CALL commands sent from Python to the JVM.

    Only call commands are counted: the object-release messages that
    Python's garbage collector sends are timing-dependent, so counting
    every message does not repeat between identical runs."""

    def __init__(self, spark):
        self.calls = 0
        self._lock = threading.Lock()  # foreachBatch callbacks call from other threads
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(command, *args, **kwargs):
            if command.startswith(CALL_COMMAND_NAME):
                with self._lock:
                    self.calls += 1
            return self._orig(command, *args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """In-memory span recorder."""

    def __init__(self):
        self.spans: list[dict] = []

    def open(self, kind: str, name: str, parent: int | None, **attrs) -> dict:
        span = {"id": len(self.spans), "parent": parent, "kind": kind,
                "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()

    @contextlib.contextmanager
    def span(self, kind: str, name: str, parent: int | None, **attrs):
        """An open span, closed however its body ends."""
        s = self.open(kind, name, parent, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def add(self, kind: str, name: str, parent: int, start: float, end: float,
            **attrs) -> dict:
        span = {"id": len(self.spans), "parent": parent, "kind": kind,
                "name": name, "start": start, "end": end, **attrs}
        self.spans.append(span)
        return span

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that its children cover."""
        kids = self.children()
        return {
            s["id"]: (s["end"] - s["start"]) - covered(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                s["start"], s["end"])
            for s in self.spans
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def child(tracer: Tracer | None, kind: str, name: str, parent: int | None, **attrs):
    """A span under the span with id ``parent``, or none when untraced."""
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(kind, name, parent, **attrs)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def rest_time(s: str | None) -> float | None:
    """Spark REST timestamps look like ``2026-01-02T03:04:05.678GMT``."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    """Reader for the live application's status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def settled_jobs(self, timeout: float = 20.0) -> list[dict]:
        """All jobs, read once the async status store has caught up: no
        active job and two consecutive reads agree."""
        deadline = time.time() + timeout
        prev = None
        while True:
            jobs = self.get("jobs")
            sig = [(j["jobId"], j["status"]) for j in jobs]
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (done and sig == prev) or time.time() > deadline:
                return jobs
            prev = sig
            time.sleep(0.3)

    def stages(self) -> dict[tuple[int, int], dict]:
        return {(s["stageId"], s["attemptId"]): s for s in self.get("stages")}

    def task_skew(self, stage: dict) -> float:
        """max ÷ median task run time of one stage attempt."""
        q = self.get(f"stages/{stage['stageId']}/{stage['attemptId']}"
                     "/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0


def attach_jobs(tracer: Tracer, jobs: list[dict], stages: dict) -> None:
    """Add one span per Spark job under the call/action span of the
    operation whose job group it carries (streaming batches carry no
    group of ours and are matched by time instead)."""
    by_group: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if s["kind"] in ("call", "action") and s.get("group"):
            by_group.setdefault(s["group"], []).append(s)
    timed = [s for s in tracer.spans if s["kind"] == "batch"]
    for j in jobs:
        start = rest_time(j.get("submissionTime"))
        end = rest_time(j.get("completionTime"))
        if start is None or end is None:
            continue
        cands = by_group.get(j.get("jobGroup") or "", []) or timed
        home = next((s for s in cands if s["start"] <= start <= s["end"]), None)
        if home is None:
            continue
        ids = set(j["stageIds"])
        tracer.add("job", j["name"], home["id"], start, end, job_id=j["jobId"],
                   stages=[k for k in stages if k[0] in ids])


MB = float(1 << 20)


def descendants(tracer: Tracer, span_id: int, kind: str) -> list[dict]:
    kids = tracer.children()
    out, todo = [], [span_id]
    while todo:
        for c in kids.get(todo.pop(), []):
            todo.append(c["id"])
            if c["kind"] == kind:
                out.append(c)
    return out


def op_spark_stats(tracer: Tracer, rest: SparkRest, stages: dict, op: dict) -> dict:
    """Spark-side totals of one operation span, from its job spans."""
    jobs = descendants(tracer, op["id"], "job")
    attempts = {tuple(k) for j in jobs for k in j["stages"]}
    run = [stages[k] for k in attempts if stages[k]["status"] == "COMPLETE"]
    slowest = max(run, key=lambda s: s["executorRunTime"], default=None)
    return {
        "exec_s": covered([(j["start"], j["end"]) for j in jobs], op["start"], op["end"]),
        "jobs": len(jobs),
        "stages": len(run),
        "tasks": sum(s["numCompleteTasks"] for s in run),
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in run) / MB,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in run) / MB,
        "spill_mb": sum(s["diskBytesSpilled"] for s in run) / MB,
        "input_mb": sum(s["inputBytes"] for s in run) / MB,
        "output_mb": sum(s["outputBytes"] for s in run) / MB,
        "executor_run_s": sum(s["executorRunTime"] for s in run) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in run) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in run) / 1e3,
        "task_skew": rest.task_skew(slowest) if slowest else 1.0,
    }
