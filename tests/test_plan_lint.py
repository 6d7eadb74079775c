"""Registry-wide plan lint: every registered entry's physical plan is
screened for the two anti-patterns that are *never* acceptable at
100 TB, regardless of operator family:

- ``CartesianProduct`` — an unkeyed shuffle-side cross join. Fixed
  small-side crosses plan as BroadcastNestedLoopJoin (allowed, and
  separately pinned per-operator in test_plans); a CartesianProduct
  means a join lost its keys.
- ``BatchEvalPython`` — a row-at-a-time Python UDF. The repo's
  Python surface is exclusively Arrow-vectorized
  (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas), so any
  BatchEvalPython is a regression.

The targeted tests in test_plans.py pin per-operator plan shapes;
this sweep guarantees no *new* entry quietly ships either
anti-pattern without a dedicated test.

Driver-side tables are built only through ``catalog.local_frame``
(a JVM ``LocalRelation``): a ``createDataFrame`` of a Python list plans
as a ``LogicalRDD`` whose every action runs Python-worker tasks.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import types as T

from parquet_ingestor_spark import catalog
from parquet_ingestor_spark.queries import REGISTRY, _ensure_loaded

_ensure_loaded()

#: Entries whose fn() drives a multi-job iterative loop at build time
#: (CC fixpoints, k-means, BPE training, incremental replay) — their
#: final-stage plans are covered by their own tests; re-running the
#: loops here would triple the suite's wall time for no new signal.
_ITERATIVE = {
    "dedup_clusters",
    "dedup_clusters_incremental",
    "bpe_train_merges",
    "text_bpe_encode",
    "emb_kmeans_fit",
    "sem_dedup_trained",
    "unigram_lm_train",
}

_NAMES = sorted(n for n in REGISTRY if n not in _ITERATIVE)


@pytest.mark.parametrize("name", _NAMES)
def test_no_cartesian_no_row_udf(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    _assert_driver_hashable_schema(name, df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: unkeyed cross join"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time UDF"


#: Output types PROVEN to survive the driver's pandas-based
#: canonicalization (collect → pandas → sort_values → value-hash) by
#: green driver rows across rounds 1-4: bool/int/long/double/string/
#: date/timestamp. Array/Map/Struct cells are unhashable in pandas'
#: factorize and crashed the gate in round 4 (emb_whiten); decimal/
#: binary/float are deliberately NOT allowed either — no entry has
#: ever proven them against the driver's renderer, so an entry wanting
#: them must first earn a green row (cast to double/string/bigint
#: instead, as every current entry does).
_HASHABLE_TYPES = (
    T.BooleanType,
    T.IntegerType,
    T.LongType,
    T.DoubleType,
    T.StringType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)


_ITERATIVE_ORACLE_BACKED = sorted(
    n for n in _ITERATIVE if n in REGISTRY and REGISTRY[n].oracle is not None
)


@pytest.mark.parametrize("name", _ITERATIVE_ORACLE_BACKED)
def test_iterative_oracle_backed_schemas(spark, sf_dir, name):
    """The _ITERATIVE exclusion above skips the (expensive) plan sweep
    for driver-loop entries — but the gate-schema rule must still hold
    for the oracle-backed ones (dedup_clusters and its incremental
    twin ARE driver-hashed), or a future array/struct output would
    reproduce the round-4 emb_whiten red row unchecked."""
    _assert_driver_hashable_schema(name, REGISTRY[name].fn(spark, sf_dir))


def _assert_driver_hashable_schema(name: str, df) -> None:
    """No oracle-backed entry may emit a top-level column the driver's
    pandas canonicalizer cannot hash (round-4 emb_whiten failure
    class). Rows-only entries are exempt — the driver only counts
    their rows — but oracle-backed outputs must be scalar columns."""
    if REGISTRY[name].oracle is None:
        return
    for f in df.schema.fields:
        assert isinstance(f.dataType, _HASHABLE_TYPES), (
            f"{name}: oracle-backed entry emits driver-unhashable "
            f"column {f.name!r} of type {f.dataType.simpleString()} — "
            "emit long-form scalars or a checksum instead"
        )


def _uses_outside(
    root: pathlib.Path, token: str, allowed: set[str]
) -> list[str]:
    """``file:line`` of every use of ``token`` under ``root`` — a call
    whose callee is named ``token`` (``x.token(...)`` or
    ``token(...)``) or a string constant containing ``token(`` (SQL
    text) — outside ``allowed``: module paths relative to ``root``
    (``"functions.py"``) and functions in them
    (``"catalog.py:local_frame"``)."""
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel in allowed:
            continue
        tree = ast.parse(path.read_text())
        inside = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            and f"{rel}:{fn.name}" in allowed
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if id(node) in inside:
                continue
            if isinstance(node, ast.Call):
                f = node.func
                hit = getattr(f, "attr", getattr(f, "id", None)) == token
            else:
                hit = isinstance(node, ast.Constant) and isinstance(
                    node.value, str
                ) and f"{token}(" in node.value
            if hit:
                found.append(f"{path.relative_to(root.parent)}:{node.lineno}")
    return found


_PKG = pathlib.Path(catalog.__file__).parent


def test_driver_tables_built_only_through_local_frame():
    allowed = {"catalog.py:local_frame"}
    assert _uses_outside(_PKG, "createDataFrame", allowed) == []


def test_md5_bucket_rule_spelled_only_in_functions():
    # conv(substring(md5(...))) — as F.conv or in SQL text — is the
    # md5 bucket rule; every operator reaches it through functions.py
    assert _uses_outside(_PKG, "conv", {"functions.py"}) == []


def test_sim_ivf_topk_plans_no_logical_rdd(spark, sf_dir):
    df = REGISTRY["sim_ivf_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan
    assert "LocalRelation" in plan, plan
