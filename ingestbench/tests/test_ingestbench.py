"""Tests of the benchmark itself: its tooling, a tiny-scale smoke of
each workload, and the gates failing when the program loses a row.

    python3 -m pytest ingestbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from ingestbench import gen, run  # noqa: E402
from ingestbench.trace import Span, Tracer, covered, self_time  # noqa: E402

TINY_EVENTS = dict(rows=900, days=0.3, files=3, warmup_drains=1)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_children_once():
    parent = Span(0, "p", None, 0.0, 10.0)
    kids = [Span(1, "a", 0, 1.0, 4.0), Span(2, "b", 0, 3.0, 6.0)]
    assert self_time(parent, kids) == 5.0


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x") as sp:
        assert sp is None
    assert t.spans == []


def test_conservation_gate():
    from ingestbench.workloads import conservation_ok

    assert conservation_ok(100, 99, 1, 1)
    assert not conservation_ok(100, 98, 1, 1)  # a row dropped
    assert not conservation_ok(100, 98, 2, 1)  # a good row sent to the DLQ


def test_landing_is_seeded_and_time_ordered(tmp_path):
    tbl = gen.events_table(500, np.random.default_rng(3), days=1)
    a = gen.write_landing(tbl, str(tmp_path / "a"), 4, seed=3)
    b = gen.write_landing(tbl, str(tmp_path / "b"), 4, seed=3)
    c = gen.write_landing(tbl, str(tmp_path / "c"), 4, seed=4)
    assert [open(f).read() for f in a.files] == [open(f).read() for f in b.files]
    assert list(a.corrupt_ids) == list(b.corrupt_ids) != list(c.corrupt_ids)
    assert len(a.corrupt_ids) == 5
    mtimes = [os.stat(f).st_mtime for f in a.files]
    assert mtimes == sorted(set(mtimes))
    lines = [json.loads(x) for f in a.files for x in open(f)]
    assert len(lines) == 500
    bad = {int(x["attributes"]["MessageId"]) for x in lines if not x["value"].endswith("}")}
    assert bad == set(a.corrupt_ids.tolist())


def test_benchmark_json_lists_the_metrics_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"events_stream", "operator_suite"}


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "ingestbench"), tmp_path / "ingestbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "ingestbench/run.py", "--workload", "events_stream",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from parquet_ingestor_spark.session import get_spark

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    s = get_spark(
        app_name="ingestbench-tests",
        master="local[2]",
        extra_conf={
            "spark.sql.shuffle.partitions": "2",
            "spark.driver.memory": "2g",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir,
        },
    )
    s.log_dir = log_dir
    yield s


def _ctx(spark, tmp_path, trace: bool):
    from ingestbench import workloads as W

    return W.Ctx(spark, Tracer(trace, spark), str(tmp_path), seed=5, seconds=0)


def test_events_stream_smoke_traced(spark, tmp_path):
    from ingestbench import workloads as W

    ctx = _ctx(spark, tmp_path, trace=True)
    out = W.events_stream(ctx, W.EventsShape(**TINY_EVENTS))
    drains = len(out.pass_walls)
    assert drains >= W.MIN_PASSES
    assert out.failed == 0 and out.attempted == 2 * drains + len(W.READBACK), out.failures
    assert out.pass_s > 0
    assert out.layers["stream.batches"] % 3 == 0
    assert out.layers["parse.bad_rows"] == 9
    W.events_eventlog_layers(ctx.tracer, spark.log_dir, out.layers)
    assert out.layers["write_batch.jobs"] == 2  # one data job, one DLQ job
    assert out.layers["write_batch.data_job_ms"] > 0
    assert 0 <= W.unattributed_share(ctx.tracer, "pass.drain") <= W.UNATTRIBUTED_MAX


def test_events_gate_fails_when_a_row_is_dropped(spark, tmp_path, monkeypatch):
    from parquet_ingestor_spark import pipeline

    from ingestbench import workloads as W

    real = pipeline.write_batch

    def lossy(good, bad, data_dir, dlq_dir, batch_id, cfg=None):
        if os.path.basename(os.path.dirname(data_dir)).startswith("out-t"):
            good = good.filter("event_id % 97 != 5")  # timed drains lose ~1% of rows
        return real(good, bad, data_dir, dlq_dir, batch_id, cfg)

    monkeypatch.setattr(pipeline, "write_batch", lossy)
    out = W.events_stream(_ctx(spark, tmp_path, trace=False), W.EventsShape(**TINY_EVENTS))
    # every timed drain fails row conservation and the content hash;
    # the read-back answers over the last lake differ from DuckDB's too
    drains = len(out.pass_walls)
    assert sum(f.startswith("conservation") for f in out.failures) == drains
    assert sum(f.startswith("content hash") for f in out.failures) == drains
    assert out.failed == len(out.failures) > 2 * drains


def test_operator_suite_smoke(spark, tmp_path):
    from ingestbench import workloads as W

    out = W.operator_suite(_ctx(spark, tmp_path, trace=False), W.SuiteShape(sf=0.001))
    passes = len(out.pass_walls)
    assert out.failed == 0 and out.attempted == len(W.SUITE) * passes, out.failures
    assert set(run.SUITE_ENTRIES) == set(W.SUITE)
    assert all(out.layers[f"query.{n}_s"] > 0 for n in W.SUITE)
