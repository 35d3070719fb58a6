"""Self-observability: per-stream timers + a Prometheus /metrics text.

The reference instruments every stream with a timer
(``stream-duration`` per stream name, stream.clj:242,264-272) and
serves quantiles on ``/metrics`` (production/_index.md §Metrics:
``stream_duration_seconds{quantile="0.5",} 3.4816E-5`` plus HTTP
counters like ``http_responses_total{method,status,uri}``) so the
alerter itself can be alerted on.

Spark twin: a :class:`StreamMetricsListener` —
``StreamingQueryListener`` on the session's listener bus — records
each named query's micro-batch durations and input rows; the batch is
the engine's unit of work the way the event is the reference's, so
``stream_duration_seconds`` quantiles are computed over micro-batch
trigger executions. Each batch's ``durationMs`` phases (addBatch,
walCommit, commitOffsets, ...) add to ``stream_phase_seconds``, and
its state operators report commit time, rows, memory and rows dropped
by the watermark. Rendering is dependency-free Prometheus text
exposition; :class:`mirabelle_spark.streaming.http_api.StreamApi`
serves it on GET ``/metrics`` when given a listener.
"""

from __future__ import annotations

import threading
from collections import defaultdict, deque

from pyspark.sql.streaming import StreamingQueryListener

_QUANTILES = (0.5, 0.75, 0.95, 0.99)
_WINDOW = 1024  # recent micro-batches kept per stream for quantiles


def _quantile(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank on the retained window (same convention as the
    engine's percentile operators)."""
    import math

    if not sorted_vals:
        return 0.0
    idx = max(0, min(len(sorted_vals) - 1, math.ceil(q * len(sorted_vals)) - 1))
    return sorted_vals[idx]


class _Timer:
    __slots__ = ("count", "total_s", "window", "rows")

    def __init__(self):
        self.count = 0
        self.total_s = 0.0
        self.rows = 0
        self.window: deque[float] = deque(maxlen=_WINDOW)

    def record(self, seconds: float, rows: int) -> None:
        self.count += 1
        self.total_s += seconds
        self.rows += rows
        self.window.append(seconds)


class StreamMetricsListener(StreamingQueryListener):
    """Collects per-stream micro-batch timings from the listener bus.

    Register with ``spark.streams.addListener(listener)``; every
    running query reports through the session-wide bus, keyed by its
    ``queryName`` (the stream name the control plane assigns,
    lifecycle.StreamHandler._start).
    """

    def __init__(self):
        self._lock = threading.Lock()
        self._timers: dict[str, _Timer] = defaultdict(_Timer)
        # (stream, phase) -> [count, seconds]
        self._phases: dict[tuple[str, str], list] = defaultdict(lambda: [0, 0.0])
        # (stream, operator index, operator name) -> [commits, commit
        # seconds, rows (latest), memory bytes (latest), rows dropped]
        self._state: dict[tuple[str, str, str], list] = defaultdict(
            lambda: [0, 0.0, 0, 0, 0]
        )
        self._http: dict[tuple[str, str, str], int] = defaultdict(int)

    # -- StreamingQueryListener callbacks -----------------------------------

    def onQueryStarted(self, event):  # noqa: N802 - Spark API names
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        name = p.name or str(p.id)
        dur = p.durationMs or {}
        ms = dur.get("triggerExecution", sum(dur.values()))
        with self._lock:
            self._timers[name].record(ms / 1000.0, int(p.numInputRows or 0))
            for phase, v in dur.items():
                acc = self._phases[(name, phase)]
                acc[0] += 1
                acc[1] += v / 1000.0
            for i, op in enumerate(p.stateOperators or ()):
                acc = self._state[(name, str(i), op.operatorName)]
                acc[0] += 1
                acc[1] += op.commitTimeMs / 1000.0
                acc[2] = op.numRowsTotal
                acc[3] = op.memoryUsedBytes
                acc[4] += op.numRowsDroppedByWatermark

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    # -- HTTP counters (http_responses_total parity) ------------------------

    def record_http(self, method: str, status: int, uri: str) -> None:
        with self._lock:
            self._http[(method.lower(), str(status), uri)] += 1

    # -- exposition ---------------------------------------------------------

    def snapshot(self) -> dict[str, dict]:
        with self._lock:
            return {
                name: {
                    "count": t.count,
                    "sum_s": t.total_s,
                    "rows": t.rows,
                    "window": sorted(t.window),
                }
                for name, t in self._timers.items()
            }

    def render(self) -> str:
        """Prometheus text exposition format 0.0.4."""
        out: list[str] = []
        out.append(
            "# HELP stream_duration_seconds Micro-batch execution time "
            "per stream (quantiles over the recent window)."
        )
        out.append("# TYPE stream_duration_seconds summary")
        for name, s in sorted(self.snapshot().items()):
            for q in _QUANTILES:
                out.append(
                    f'stream_duration_seconds{{name="{name}",quantile="{q}"}} '
                    f"{_quantile(s['window'], q):.9g}"
                )
            out.append(
                f'stream_duration_seconds_count{{name="{name}"}} {s["count"]}'
            )
            out.append(
                f'stream_duration_seconds_sum{{name="{name}"}} '
                f"{s['sum_s']:.9g}"
            )
            out.append(
                f'stream_input_rows_total{{name="{name}"}} {s["rows"]}'
            )
        with self._lock:
            phases = sorted((k, tuple(v)) for k, v in self._phases.items())
            state = sorted((k, tuple(v)) for k, v in self._state.items())
            http = dict(self._http)
        if phases:
            out.append(
                "# HELP stream_phase_seconds Micro-batch time per phase "
                "(Spark's durationMs) per stream."
            )
            out.append("# TYPE stream_phase_seconds summary")
            for (name, phase), (n, total) in phases:
                lbl = f'name="{name}",phase="{phase}"'
                out.append(f"stream_phase_seconds_sum{{{lbl}}} {total:.9g}")
                out.append(f"stream_phase_seconds_count{{{lbl}}} {n}")
        if state:
            out.append(
                "# HELP stream_state_commit_seconds State-store commit time "
                "per stateful operator."
            )
            out.append("# TYPE stream_state_commit_seconds summary")
        for (name, idx, op), (n, commit_s, _, _, _) in state:
            lbl = f'name="{name}",operator="{op}",index="{idx}"'
            out.append(f"stream_state_commit_seconds_sum{{{lbl}}} {commit_s:.9g}")
            out.append(f"stream_state_commit_seconds_count{{{lbl}}} {n}")
        for col, metric, kind, help_ in (
            (2, "stream_state_rows", "gauge", "Rows held in state."),
            (3, "stream_state_memory_bytes", "gauge", "Memory used by the state store."),
            (4, "stream_state_rows_dropped_by_watermark_total", "counter",
             "Rows a stateful operator dropped as later than the watermark."),
        ):
            if state:
                out.append(f"# HELP {metric} {help_}")
                out.append(f"# TYPE {metric} {kind}")
            for (name, idx, op), acc in state:
                out.append(
                    f'{metric}{{name="{name}",operator="{op}",index="{idx}"}} {acc[col]}'
                )
        if http:
            out.append(
                "# HELP http_responses_total HTTP responses count."
            )
            out.append("# TYPE http_responses_total counter")
            for (method, status, uri), n in sorted(http.items()):
                out.append(
                    f'http_responses_total{{method="{method}",'
                    f'status="{status}",uri="{uri}"}} {n}'
                )
        return "\n".join(out) + "\n"
