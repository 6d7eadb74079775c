"""The adaptive decision cascade — the reference's 25-scenario decision
table distilled to its behavioral contract (priorities, clamps,
cooldown, one-step-per-tick)."""

from __future__ import annotations

from parquet_ingestor_spark.adaptive import (
    AdaptiveConfig,
    AdaptiveMonitor,
    PressureSnapshot,
    decide,
)

CFG = AdaptiveConfig()


def snap(**kw) -> PressureSnapshot:
    base = dict(
        cpu_util=0.3,
        mem_usage=0.3,
        flush_queue_usage=0.3,
        source_buffer_usage=0.3,
        workers=2,
        pollers=2,
    )
    base.update(kw)
    return PressureSnapshot(**base)


def test_severe_pressure_sheds_workers_first():
    rec = decide(snap(cpu_util=0.95), CFG)
    assert (rec.component, rec.delta) == ("workers", -1)


def test_severe_pressure_at_min_workers_sheds_pollers():
    rec = decide(snap(mem_usage=0.9, workers=1), CFG)
    assert (rec.component, rec.delta) == ("pollers", -1)


def test_severe_pressure_fully_min_is_noop():
    rec = decide(snap(cpu_util=0.99, workers=1, pollers=1), CFG)
    assert rec.delta == 0


def test_moderate_pressure_sheds_pollers_first():
    rec = decide(snap(cpu_util=0.8), CFG)
    assert (rec.component, rec.delta) == ("pollers", -1)


def test_source_saturation_counts_as_moderate():
    rec = decide(snap(source_buffer_usage=0.95), CFG)
    assert (rec.component, rec.delta) == ("pollers", -1)


def test_flush_backlog_scales_workers_up():
    rec = decide(snap(flush_queue_usage=0.8), CFG)
    assert (rec.component, rec.delta) == ("workers", +1)


def test_flush_backlog_without_headroom_does_not_scale_up():
    rec = decide(snap(flush_queue_usage=0.8, cpu_util=0.8), CFG)
    assert rec.delta <= 0  # pressure rules win


def test_workers_capped_at_max():
    rec = decide(snap(flush_queue_usage=0.8, workers=CFG.max_workers), CFG)
    assert rec.delta == 0 or rec.component != "workers"


def test_hungry_source_scales_pollers_up():
    rec = decide(snap(source_buffer_usage=0.7, flush_queue_usage=0.4), CFG)
    assert (rec.component, rec.delta) == ("pollers", +1)


def test_pollers_capped_at_max():
    rec = decide(
        snap(
            source_buffer_usage=0.7,
            flush_queue_usage=0.4,
            pollers=CFG.max_pollers,
        ),
        CFG,
    )
    assert rec.delta == 0 or rec.component != "pollers"


def test_idle_decays_workers_then_pollers():
    idle = snap(flush_queue_usage=0.05, source_buffer_usage=0.05)
    rec = decide(idle, CFG)
    assert (rec.component, rec.delta) == ("workers", -1)
    rec2 = decide(
        snap(
            flush_queue_usage=0.05,
            source_buffer_usage=0.05,
            workers=1,
        ),
        CFG,
    )
    assert (rec2.component, rec2.delta) == ("pollers", -1)


def test_idle_at_min_is_noop():
    rec = decide(
        snap(
            flush_queue_usage=0.05,
            source_buffer_usage=0.05,
            workers=1,
            pollers=1,
        ),
        CFG,
    )
    assert rec.delta == 0


def test_healthy_is_noop():
    assert decide(snap(), CFG).delta == 0


def test_cooldown_blocks_consecutive_changes():
    mon = AdaptiveMonitor(AdaptiveConfig(cooldown_sec=30))
    hot = snap(flush_queue_usage=0.8)
    first = mon.observe(hot, now=100.0)
    assert first.delta == +1
    blocked = mon.observe(hot, now=110.0)
    assert blocked.delta == 0 and "cooldown" in blocked.reason
    allowed = mon.observe(hot, now=131.0)
    assert allowed.delta == +1


def test_cooldown_does_not_consume_noop_ticks():
    mon = AdaptiveMonitor(AdaptiveConfig(cooldown_sec=30))
    assert mon.observe(snap(), now=100.0).delta == 0
    # a no-op tick must not reset the cooldown clock
    assert mon.observe(snap(flush_queue_usage=0.8), now=101.0).delta == +1


class _Progress:
    """Shaped like a REAL StreamingQueryProgress: batchDuration (the
    batch's wall time) + rates. No trigger-interval field exists on
    the real object — saturation is measured against the controller's
    target_batch_ms."""

    def __init__(self, batch_ms, in_rate, proc_rate):
        self.batchDuration = batch_ms
        self.inputRowsPerSecond = in_rate
        self.processedRowsPerSecond = proc_rate


def test_max_files_controller_scales_down_under_pressure():
    from parquet_ingestor_spark.adaptive import MaxFilesController

    c = MaxFilesController(current=64, target_batch_ms=1000.0)
    # batch saturates its latency budget AND input outruns processing
    # → severe pressure → halve the ingest rate
    new = c.on_progress(_Progress(1000, 5000.0, 1000.0), now=100.0)
    assert new == 32 and c.current == 32
    # cooldown: an immediately-following pressured batch is a no-op
    assert c.on_progress(_Progress(1000, 5000.0, 1000.0), now=101.0) is None
    # after the cooldown the loop keeps stepping down
    assert c.on_progress(_Progress(1000, 5000.0, 1000.0), now=200.0) == 16


def test_max_files_controller_scales_up_with_headroom():
    from parquet_ingestor_spark.adaptive import MaxFilesController

    c = MaxFilesController(current=16, target_batch_ms=1000.0)
    # source busy (≥60%), flush light (≤50%) → rate up, geometric step
    new = c.on_progress(_Progress(300, 700.0, 1000.0), now=100.0)
    assert new == 32 and c.current == 32
    assert c.history and c.history[-1][1:3] == (16, 32)


def test_max_files_controller_clamps_at_bounds():
    from parquet_ingestor_spark.adaptive import MaxFilesController

    c = MaxFilesController(lo=8, hi=32, current=8, target_batch_ms=1000.0)
    # pressured at the floor: no change emitted (already clamped)
    assert c.on_progress(_Progress(1000, 5000.0, 1000.0), now=100.0) is None
    c2 = MaxFilesController(lo=8, hi=32, current=32, target_batch_ms=1000.0)
    assert c2.on_progress(_Progress(300, 700.0, 1000.0), now=100.0) is None


def test_max_files_controller_healthy_batches_do_not_ratchet_down():
    """The round-6 self-review's down-ratchet regression test: a
    real-shaped progress (no trigger-interval attribute) from a
    HEALTHY query — fast batches, processing keeping up — must leave
    the rate alone, and an inapplicable recommendation must not
    consume the cooldown."""
    from parquet_ingestor_spark.adaptive import MaxFilesController

    c = MaxFilesController(current=64, target_batch_ms=10_000.0)
    for t in (100.0, 200.0, 300.0):
        assert c.on_progress(_Progress(500, 100.0, 900.0), now=t) is None
    assert c.current == 64 and not c.history
    # a no-op tick must not delay a real retune (cooldown ticks only
    # on APPLIED changes)
    assert c.on_progress(_Progress(500, 100.0, 900.0), now=400.0) is None
    assert c.on_progress(_Progress(12_000, 5000.0, 100.0), now=401.0) == 32


def test_max_files_controller_cascade_bounds_follow_rate_bounds():
    """The cascade config is derived from lo/hi/cooldown_sec, never
    passed: a separately passed config made decide() veto every
    step above its own max_pollers while the clamps read lo/hi."""
    import pytest

    from parquet_ingestor_spark.adaptive import MaxFilesController

    c = MaxFilesController(lo=2, hi=1024, cooldown_sec=5.0)
    assert (c.cfg.min_pollers, c.cfg.max_pollers) == (2, 1024)
    assert c.cfg.cooldown_sec == 5.0
    with pytest.raises(TypeError):
        MaxFilesController(hi=1024, cfg=AdaptiveConfig())
