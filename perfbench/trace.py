"""Tracing for the per-layer run, all of it from outside the engine.

- Spans: one per layer boundary the benchmark crosses (name, start, end,
  parent span, op id), kept in memory and written when the run ends.
- py4j: every command this Python process sends to the JVM is counted by
  wrapping the gateway client's ``send_command`` in this process; each
  span records the calls made while it was open.
- Spark: the session's JSON event log (uncompressed, not rolling) is
  parsed after the session stops.  Before each phase of an operation the
  benchmark sets the local property ``qdb.bench.op=<workload>:<op>:<phase>``;
  Spark copies it onto every job and stage submitted from that thread, so
  each job, stage and task is attributed to its phase without touching
  the engine's job groups.

With tracing off, ``Tracer`` does nothing: no property, no wrapper, no
event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

OP_PROPERTY = "qdb.bench.op"


class Tracer:
    def __init__(self, enabled: bool, workload: str, log_dir: str):
        self.enabled = enabled
        self.workload = workload
        self.log_dir = log_dir
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._sc = None
        self._op = ""
        self._tag: str | None = None

    # -- session ---------------------------------------------------------
    def spark_conf(self) -> dict | None:
        if not self.enabled:
            return None
        os.makedirs(self.log_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def attach(self, spark) -> None:
        """Start counting py4j commands sent by this session's client."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*a, **kw):
            self.py4j_calls += 1
            return send(*a, **kw)

        client.send_command = counting_send

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, phase: str | None = None, **attrs):
        """A layer-boundary span; ``phase`` also tags the Spark jobs.

        Yields the span record (``None`` when tracing is off or before
        ``attach``, i.e. during set-up), so a caller can attach attributes
        it learns inside the span."""
        if self._sc is None:
            yield None
            return
        if op is not None:
            self._op = op
        prev_tag = self._tag
        if phase is not None:
            self._tag = f"{self.workload}:{self._op}:{phase}"
            self._sc.setLocalProperty(OP_PROPERTY, self._tag)
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "py4j_start": self.py4j_calls,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - rec.pop("py4j_start")
            if phase is not None:
                self._tag = prev_tag
                self._sc.setLocalProperty(OP_PROPERTY, prev_tag)

    def spans_named(self, name: str, ops: set[str] | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name and (ops is None or s["op"] in ops)
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# -- event log ----------------------------------------------------------

def _tag_op_phase(props: dict | None) -> tuple[str, str] | None:
    tag = (props or {}).get(OP_PROPERTY)
    if not tag:
        return None
    _, op, phase = tag.split(":", 2)
    return op, phase


def parse_event_log(log_dir: str, app_id: str) -> dict:
    """Per (op, phase): jobs, stages, tasks and task metrics.

    Returns ``{(op, phase): {"jobs", "stages", "tasks", "cpu_s", "run_s",
    "gc_s", "task_wait_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes"}}``."""
    path = os.path.join(log_dir, app_id)
    acc: dict = defaultdict(lambda: defaultdict(float))
    stage_key: dict = {}
    stage_submit: dict = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                key = _tag_op_phase(ev.get("Properties"))
                if key:
                    acc[key]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                key = _tag_op_phase(ev.get("Properties"))
                info = ev["Stage Info"]
                sid = (info["Stage ID"], info["Stage Attempt ID"])
                stage_submit[sid] = info.get("Submission Time")
                if key:
                    stage_key[sid] = key
                    acc[key]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = (ev["Stage ID"], ev["Stage Attempt ID"])
                key = stage_key.get(sid)
                if key is None:
                    continue
                a = acc[key]
                a["tasks"] += 1
                info = ev.get("Task Info") or {}
                submitted = stage_submit.get(sid)
                if submitted is not None and "Launch Time" in info:
                    a["task_wait_s"] += max(0, info["Launch Time"] - submitted) / 1e3
                m = ev.get("Task Metrics") or {}
                a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return {k: dict(v) for k, v in acc.items()}
