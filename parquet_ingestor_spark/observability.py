"""Observability: the reference's metric taxonomy over Spark's
StreamingQueryListener.

The reference hand-rolls a lock-free metrics registry with counter /
gauge fanout to adapters (reference: observability/metrics.go:36-128,
DogStatsD adapter 145-185) and increments ~40 named series from the
pipeline hot path. In Spark the hot path is unreachable (and that's
the point — the JVM does the counting); QueryProgressEvent already
carries rows/sec, batch duration, state size, and sink commit info,
so the listener below just *re-keys* Spark's telemetry into the
reference's metric names and fans out to pluggable adapters.

Metric-name parity (reference → here):
  ingestor_messages_received_total   ← progress.numInputRows
  ingestor_flush_completed_total     ← one per successful batch
  ingestor_flush_duration_ms         ← progress.batchDuration
  ingestor_flush_bytes_total         ← not emitted yet (ROADMAP direction 4)
  ingestor_source_buffer_usage       ← inputRowsPerSecond/processedRowsPerSecond
  (reference names: README.md:170-186, ingestor/ingestor.go:462,521,588)
"""

from __future__ import annotations

import threading
from collections import defaultdict
from collections.abc import Callable
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener

#: adapter signature: (metric_name, value, kind) — kind ∈ {counter, gauge}
Adapter = Callable[[str, float, str], None]


class MetricsRegistry:
    """Thread-safe counter/gauge registry with adapter fanout —
    the shape of the reference's Registry, minus the hot-path lock-free
    tricks Spark makes unnecessary."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._counters: dict[str, float] = defaultdict(float)
        self._gauges: dict[str, float] = {}
        self._adapters: list[Adapter] = []

    def add_adapter(self, adapter: Adapter) -> None:
        self._adapters.append(adapter)

    def add_counter(self, name: str, delta: float = 1.0) -> None:
        with self._lock:
            self._counters[name] += delta
        for a in self._adapters:
            a(name, delta, "counter")

    def set_gauge(self, name: str, value: float) -> None:
        with self._lock:
            self._gauges[name] = value
        for a in self._adapters:
            a(name, value, "gauge")

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            return {**self._counters, **self._gauges}


class IngestMetricsListener(StreamingQueryListener):
    """Publishes the reference's metric names from streaming progress."""

    def __init__(self, registry: MetricsRegistry | None = None) -> None:
        self.registry = registry or MetricsRegistry()

    # -- StreamingQueryListener interface --------------------------------
    def onQueryStarted(self, event: Any) -> None:
        self.registry.add_counter("ingestor_run_started_total")

    def onQueryProgress(self, event: Any) -> None:
        p = event.progress
        reg = self.registry
        reg.add_counter("ingestor_messages_received_total", p.numInputRows)
        reg.add_counter("ingestor_flush_completed_total")
        reg.set_gauge("ingestor_flush_duration_ms", p.batchDuration)
        if p.inputRowsPerSecond is not None:
            reg.set_gauge("ingestor_source_rows_per_sec", p.inputRowsPerSecond)
        if p.processedRowsPerSecond is not None:
            reg.set_gauge(
                "ingestor_processed_rows_per_sec", p.processedRowsPerSecond
            )
        # Source backlog pressure ≈ the reference's source-buffer usage
        # gauge (ingestor/adaptive.go:102-113): input rate vs drain rate.
        if (
            p.inputRowsPerSecond
            and p.processedRowsPerSecond
            and p.processedRowsPerSecond > 0
        ):
            reg.set_gauge(
                "ingestor_source_buffer_usage",
                min(1.0, p.inputRowsPerSecond / p.processedRowsPerSecond),
            )

    def onQueryTerminated(self, event: Any) -> None:
        if event.exception is not None:
            self.registry.add_counter("ingestor_run_errors_total")
        self.registry.add_counter("ingestor_run_stopped_total")

    def onQueryIdle(self, event: Any) -> None:  # Spark 3.5+
        self.registry.add_counter("ingestor_idle_ticks_total")


def statsd_adapter(send: Callable[[str], None], prefix: str = "ingestor.") -> Adapter:
    """Minimal StatsD/DogStatsD line protocol adapter — the reference's
    DatadogAdapter equivalent. ``send`` receives wire-format lines
    ('name:value|c' / 'name:value|g'); wire it to a UDP socket in
    production, to a list in tests."""

    def adapter(name: str, value: float, kind: str) -> None:
        code = "c" if kind == "counter" else "g"
        send(f"{prefix}{name}:{value}|{code}")

    return adapter
