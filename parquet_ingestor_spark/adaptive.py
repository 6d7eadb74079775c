"""Adaptive-runtime monitor (reference O19), monitor-only by design.

The reference samples heap/CPU/queue pressure every tick and resizes
its flush-worker pool and source pollers ±1 under a cooldown
(reference: ingestor/adaptive.go:44-79 loop, 127-260 decision cascade).
Spark cannot resize a *running* query's trigger or a local session's
core count, so the faithful port is a monitor: the same decision
cascade over a pressure snapshot, emitting *recommendations* that map
onto Spark's actual scaling levers:

  workers ±1  → spark.dynamicAllocation.{min,max}Executors (cluster),
                or maxFilesPerTrigger / trigger interval (ingest rate)
  pollers ±1  → source read parallelism (maxFilesPerTrigger,
                Kafka minPartitions)

The cascade preserves the reference's rule priorities and cooldown
semantics; thresholds are the reference's defaults. Rules, in order
(reference: ingestor/adaptive.go:174-257):

  1. severe CPU/memory pressure  → scale workers down, else pollers
  2. moderate pressure or source ≥ 90 % → scale pollers down, else workers
  3. flush queue ≥ 70 % + headroom → workers up
  4. source ≥ 60 % ∧ flush ≤ 50 % + headroom → pollers up
  5. idle (flush < 20 % ∧ source < 10 %) → decay toward min
  At most one ±1 step per cooldown tick.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass(frozen=True)
class PressureSnapshot:
    """One sample of runtime pressure, all usages in [0, 1].

    In streaming use, populate from QueryProgressEvent (see
    ``snapshot_from_progress``); the reference fills the same fields
    from runtime/metrics + channel occupancy (ingestor/adaptive.go:85-113).
    """

    cpu_util: float
    mem_usage: float
    flush_queue_usage: float
    source_buffer_usage: float
    workers: int
    pollers: int


@dataclass(frozen=True)
class Recommendation:
    component: str  # "workers" | "pollers" | "none"
    delta: int  # -1, 0, +1
    reason: str


@dataclass
class AdaptiveConfig:
    min_workers: int = 1
    max_workers: int = 8
    min_pollers: int = 1
    max_pollers: int = 4
    severe_cpu: float = 0.90
    severe_mem: float = 0.85
    moderate_cpu: float = 0.75
    moderate_mem: float = 0.70
    cooldown_sec: float = 30.0


def decide(s: PressureSnapshot, cfg: AdaptiveConfig) -> Recommendation:
    """The pure decision cascade — one ±1 step max, reference priorities."""
    severe = s.cpu_util >= cfg.severe_cpu or s.mem_usage >= cfg.severe_mem
    moderate = s.cpu_util >= cfg.moderate_cpu or s.mem_usage >= cfg.moderate_mem
    headroom = not moderate and not severe

    if severe:
        # Shed compute first: workers are the CPU/heap-heavy component.
        if s.workers > cfg.min_workers:
            return Recommendation("workers", -1, "severe cpu/mem pressure")
        if s.pollers > cfg.min_pollers:
            return Recommendation("pollers", -1, "severe cpu/mem pressure")
        return Recommendation("none", 0, "severe pressure at minimum scale")

    if moderate or s.source_buffer_usage >= 0.9:
        # Moderate pressure sheds intake first (pollers) to let the
        # pipeline drain, then compute.
        if s.pollers > cfg.min_pollers:
            return Recommendation("pollers", -1, "moderate pressure / source ≥ 90%")
        if s.workers > cfg.min_workers:
            return Recommendation("workers", -1, "moderate pressure / source ≥ 90%")
        return Recommendation("none", 0, "moderate pressure at minimum scale")

    if s.flush_queue_usage >= 0.7 and headroom and s.workers < cfg.max_workers:
        return Recommendation("workers", +1, "flush queue ≥ 70% with headroom")

    if (
        s.source_buffer_usage >= 0.6
        and s.flush_queue_usage <= 0.5
        and headroom
        and s.pollers < cfg.max_pollers
    ):
        return Recommendation("pollers", +1, "source ≥ 60%, flush ≤ 50%, headroom")

    if s.flush_queue_usage < 0.2 and s.source_buffer_usage < 0.1:
        # Idle decay toward minimum, one component per tick.
        if s.workers > cfg.min_workers:
            return Recommendation("workers", -1, "idle decay")
        if s.pollers > cfg.min_pollers:
            return Recommendation("pollers", -1, "idle decay")

    return Recommendation("none", 0, "healthy")


@dataclass
class AdaptiveMonitor:
    """Stateful wrapper adding the reference's cooldown semantics."""

    cfg: AdaptiveConfig = field(default_factory=AdaptiveConfig)
    _last_change: float = field(default=0.0, repr=False)

    def observe(
        self, s: PressureSnapshot, now: float | None = None
    ) -> Recommendation:
        now = time.monotonic() if now is None else now
        rec = decide(s, self.cfg)
        if rec.delta == 0:
            return rec
        if now - self._last_change < self.cfg.cooldown_sec:
            return Recommendation("none", 0, f"cooldown ({rec.reason})")
        self._last_change = now
        return rec


def snapshot_from_progress(
    progress: object,
    workers: int,
    pollers: int,
    target_batch_ms: float = 10_000.0,
) -> PressureSnapshot:
    """Build a snapshot from a StreamingQueryProgress.

    Saturation must be measured against an EXTERNAL target, not
    against the batch's own numbers: a real StreamingQueryProgress has
    no trigger-interval field — its ``durationMs['triggerExecution']``
    IS the batch execution time, so batch/triggerExecution ≡ 1.0 and
    the cascade would read severe pressure on every tick regardless of
    load (a down-only ratchet — caught by the round-6 self-review).
    ``target_batch_ms`` is the caller's batch-latency SLA (default
    10 s — the reference's flush-interval order of magnitude): CPU and
    flush pressure = how full the batch runs against that budget;
    source pressure = input rate vs processing rate.
    """
    batch_ms = getattr(progress, "batchDuration", 0) or 0
    in_rate = getattr(progress, "inputRowsPerSecond", 0.0) or 0.0
    proc_rate = getattr(progress, "processedRowsPerSecond", 0.0) or 0.0
    src = min(1.0, in_rate / proc_rate) if proc_rate > 0 else 0.0
    saturation = min(1.0, batch_ms / max(1.0, target_batch_ms))
    return PressureSnapshot(
        cpu_util=saturation,
        mem_usage=0.0,  # the JVM owns memory; dynamicAllocation reacts to it
        flush_queue_usage=saturation,
        source_buffer_usage=src,
        workers=workers,
        pollers=pollers,
    )


@dataclass
class MaxFilesController:
    """Feedback-driven ``maxFilesPerTrigger`` loop — the reference's
    adaptive cascade CLOSED over Spark's actual ingest-rate lever
    (r5 verdict #8: reference ingestor/adaptive.go:127-260 applies its
    decisions; the monitor above only recommended).

    Spark cannot retune a RUNNING query's source options, so the
    application point is the micro-batch restart boundary: feed every
    StreamingQueryProgress into :meth:`on_progress`; a non-None return
    is the new ``maxFilesPerTrigger`` to use when (re)starting the
    ingest — checkpoint-safe, since file-source progress lives in the
    checkpoint, not the option. pollers±1 maps to a geometric step
    (×2 / ÷2, clamped to [lo, hi]): rate levers need multiplicative
    moves to track order-of-magnitude load swings within the
    reference's one-step-per-cooldown discipline.
    """

    lo: int = 1
    hi: int = 1024
    current: int = 16
    #: batch-latency SLA the saturation signal is measured against
    #: (see snapshot_from_progress) — tune to the trigger interval.
    target_batch_ms: float = 10_000.0
    cooldown_sec: float = 30.0
    cfg: AdaptiveConfig = field(init=False)
    #: applied (ts, old, new, reason) tuples — the audit trail the
    #: reference logs on every resize.
    history: list = field(default_factory=list)
    _last_change: float = field(default=0.0, repr=False)

    def __post_init__(self) -> None:
        # the cascade's poller bounds ARE this controller's rate
        # bounds — without this, current > max_pollers(4) would
        # permanently veto scale-ups
        self.cfg = AdaptiveConfig(
            min_pollers=self.lo,
            max_pollers=self.hi,
            cooldown_sec=self.cooldown_sec,
        )

    def on_progress(
        self,
        progress: object,
        now: float | None = None,
    ) -> int | None:
        now = time.monotonic() if now is None else now
        s = snapshot_from_progress(
            progress,
            workers=self.cfg.min_workers,  # no worker lever here
            pollers=self.current,
            target_batch_ms=self.target_batch_ms,
        )
        rec = decide(s, self.cfg)
        if rec.component != "pollers" or rec.delta == 0:
            # cooldown must tick only on APPLIED changes: consuming it
            # on an inapplicable 'workers' recommendation would delay
            # the next real retune by a full cooldown (round-6
            # self-review finding)
            return None
        if now - self._last_change < self.cfg.cooldown_sec:
            return None
        new = (
            min(self.hi, self.current * 2)
            if rec.delta > 0
            else max(self.lo, self.current // 2)
        )
        if new == self.current:
            return None
        self._last_change = now
        self.history.append((now, self.current, new, rec.reason))
        self.current = new
        return new
