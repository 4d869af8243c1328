"""Instruments for the traced run: spans, py4j call counts, Spark stage metrics.

Everything here wraps calls from the benchmark's side of the API; nothing
is patched inside ``jsonschema_spark``.  The untraced run uses
``NULL_TRACER``, whose spans cost one ``nullcontext`` each.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory and written
    out once, at exit."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | str | None = None
        self.counter: Py4jCounter | None = None  # set while one is installed

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "py4j_calls": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        counter = self.counter
        calls0 = counter.calls if counter else 0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if counter:
                rec["py4j_calls"] = counter.calls - calls0
            self._stack.pop()

    def _of(self, prefix: str, op_id) -> list[dict]:
        return [s for s in self.spans
                if s["op"] == op_id and s["name"].startswith(prefix)]

    def seconds(self, prefix: str, op_id) -> float:
        """Summed duration of one op's spans whose name starts with
        ``prefix`` (the layer's spans do not nest in each other)."""
        return sum(s["end"] - s["start"] for s in self._of(prefix, op_id))

    def calls(self, prefix: str, op_id) -> int:
        """py4j calls made inside one op's spans starting with ``prefix``."""
        return sum(s["py4j_calls"] or 0 for s in self._of(prefix, op_id))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _NullTracer:
    enabled = False
    op_id = None

    def span(self, name: str):
        return contextlib.nullcontext()


NULL_TRACER = _NullTracer()


class Py4jCounter:
    """Counts py4j CALL commands (``c``) sent by the driver while
    installed.  Memory commands (``m``, the dereferences Python's GC
    sends at arbitrary moments) are skipped: they made the count vary
    between identical builds."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def __enter__(self) -> "Py4jCounter":
        original = self._client.send_command

        def send_command(command, *args, **kwargs):
            if command.startswith("c\n"):
                self.calls += 1
            return original(command, *args, **kwargs)

        self._client.send_command = send_command
        return self

    def __exit__(self, *exc) -> None:
        del self._client.send_command


# StageData fields summed per op (REST API names)
_STAGE_FIELDS = (
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class StageMetrics:
    """Reads completed-stage task metrics from the live UI REST API (the
    session must run with ``spark.ui.enabled=true``).  Stages are
    attributed to an op by id: everything completed between two
    ``snapshot`` calls belongs to the op that ran between them."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._url = (
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
            "/stages?status=complete"
        )

    def _stages(self) -> list[dict]:
        # the status store is fed by the listener bus, which runs
        # behind the action that produced the stages
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        with urllib.request.urlopen(self._url, timeout=30) as r:
            return json.loads(r.read())

    def snapshot(self) -> set:
        return {(s["stageId"], s["attemptId"]) for s in self._stages()}

    def since(self, before: set) -> dict:
        new = [
            s for s in self._stages() if (s["stageId"], s["attemptId"]) not in before
        ]
        return {f: sum(s.get(f, 0) for s in new) for f in _STAGE_FIELDS}
