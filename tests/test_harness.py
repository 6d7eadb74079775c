"""The query harnesses: ``bench.py``'s headline set and its per-run
protocol (``timed_run``), the A/B runner built on it, and the
command-line tools under ``tools/``."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

import bench
from parquet_ingestor_spark.queries import REGISTRY, _ensure_loaded

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _load_tool(path):
    # loaded by path under a non-__main__ name, as an importer would
    name = "tool_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_headline_entries_are_registered():
    _ensure_loaded()
    assert [n for n in bench.HEADLINE if n not in REGISTRY] == []
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_timed_run_stamps_and_drops_persisted(spark, sf_dir):
    rec = bench.timed_run(spark, lambda s, d: s.range(10).localCheckpoint(), sf_dir)
    assert set(rec) == {"wall_s", "load1m", "vm_dirty", "cpu_spin_ms", "cpu_steal", "gc_ms"}
    assert rec["wall_s"] > 0
    assert rec["cpu_spin_ms"] > 0
    assert rec["gc_ms"] >= 0
    assert rec["cpu_steal"] >= -1
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


def test_ab_runner_records_both_sides(spark, sf_dir):
    ab = _load_tool(os.path.join(_TOOLS, "ab_forms.py"))
    records = ab.run_ab(
        spark,
        "q03_dedup_users",
        "parquet_ingestor_spark.queries.dataflow:q03_dedup_users",
        1,
        sf_dir,
    )
    assert sorted(records) == ["A", "B"]
    for side in records.values():
        assert len(side) == 1 and side[0]["wall_s"] > 0


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(_TOOLS, "*.py"))), ids=os.path.basename
)
def test_tool_imports(path):
    mod = _load_tool(path)
    assert mod.__name__ != "__main__"
    assert callable(mod.main)
