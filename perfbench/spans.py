"""Spans recorded around the benchmark's calls into each layer.

A span is (id, name, op, parent, start, end) kept in memory and written
out when the run ends.  While a span is open its Spark jobs run in a job
group of their own, so the event log attributes every job, stage, task
and SQL metric to exactly one span, and the py4j commands the Python side
sends are counted per span.  With tracing off ``span`` does nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

import py4j.java_gateway as _jg


class Py4jCounter:
    """Counts commands sent to the JVM by wrapping py4j's client."""

    def __init__(self) -> None:
        self.calls = 0
        self._orig = _jg.GatewayClient.send_command
        orig, counter = self._orig, self

        def send_command(client, *args, **kwargs):
            counter.calls += 1
            return orig(client, *args, **kwargs)

        _jg.GatewayClient.send_command = send_command

    def close(self) -> None:
        _jg.GatewayClient.send_command = self._orig


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._py4j = Py4jCounter() if enabled else None

    def bind(self, spark) -> None:
        """Use ``spark``'s context for job groups (after each session start)."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans)}",
            "start": time.time(),
            "end": None,
            "py4j_calls": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobGroup(rec["group"], name)
        calls0 = self._py4j.calls
        try:
            yield rec
        finally:
            rec["py4j_calls"] = self._py4j.calls - calls0
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: Path) -> None:
        path.write_text("".join(json.dumps(s) + "\n" for s in self.spans))

    def close(self) -> None:
        if self._py4j is not None:
            self._py4j.close()
