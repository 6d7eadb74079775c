#!/usr/bin/env python
"""Matched alternating A/B of two query forms in one Spark session.

Usage: python tools/ab_forms.py A B [rounds]

A and B are each a registry name or a ``module:function`` with the
registry's ``(spark, sf_dir) -> DataFrame`` signature, run at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1). Both sides are warmed
once; then every round runs each side through ``bench.timed_run`` (noop
sink, per-run load/dirty/spin/steal/GC stamps, persisted RDDs dropped),
alternating which side runs first so neither always inherits the
other's heap and cache state. Prints each side's median and quartiles
and how many rounds each side won, then one JSON line with every record.

To re-run a pre-change form, put it in a scratch module and pass it as
``module:function`` against the registry name of the current form.
"""

from __future__ import annotations

import importlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from bench import timed_run
from parquet_ingestor_spark.queries import REGISTRY, _ensure_loaded
from parquet_ingestor_spark.session import get_spark


def resolve(spec: str):
    """The ``(spark, sf_dir) -> DataFrame`` callable named by ``spec``."""
    if ":" in spec:
        module, _, attr = spec.partition(":")
        return getattr(importlib.import_module(module), attr)
    _ensure_loaded()
    return REGISTRY[spec].fn


def run_ab(spark, a: str, b: str, rounds: int, sf_dir: str) -> dict[str, list[dict]]:
    """``{"A": [record, ...], "B": [...]}``, one ``timed_run`` record per
    side per round."""
    fns = {"A": resolve(a), "B": resolve(b)}
    for fn in fns.values():
        timed_run(spark, fn, sf_dir)  # warm-up (JIT/codegen), discarded
    records: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(rounds):
        for side in ("A", "B") if i % 2 == 0 else ("B", "A"):
            records[side].append(timed_run(spark, fns[side], sf_dir))
            spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    return records


def main() -> None:
    a, b = sys.argv[1], sys.argv[2]
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 6
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab-forms")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    records = run_ab(spark, a, b, rounds, sf_dir)
    walls = {s: [r["wall_s"] for r in recs] for s, recs in records.items()}
    won = {
        "A": sum(x < y for x, y in zip(walls["A"], walls["B"])),
        "B": sum(y < x for x, y in zip(walls["A"], walls["B"])),
    }
    for side, spec in (("A", a), ("B", b)):
        q1, med, q3 = np.percentile(walls[side], [25, 50, 75])
        print(
            f"{side} {spec}: median {med:.3f}s [q1 {q1:.3f}, q3 {q3:.3f}]  "
            f"won {won[side]}/{rounds}  runs {walls[side]}"
        )
    print(json.dumps({"A": a, "B": b, "sf_dir": sf_dir, "records": records}))


if __name__ == "__main__":
    main()
