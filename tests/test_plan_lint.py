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


def _nodes_outside(root: pathlib.Path, allowed: set[str], hit) -> list[str]:
    """``file:line`` of every AST node under ``root`` for which
    ``hit(node, module_tree)`` holds, outside ``allowed``: module paths
    relative to ``root`` (``"functions.py"``) and functions in them
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
            if id(node) not in inside and hit(node, tree):
                found.append(f"{path.relative_to(root.parent)}:{node.lineno}")
    return found


def _uses_outside(
    root: pathlib.Path, token: str, allowed: set[str]
) -> list[str]:
    """Every use of ``token`` outside ``allowed`` (see
    :func:`_nodes_outside`): a call whose callee is named ``token``
    (``x.token(...)`` or ``token(...)``) or a string constant
    containing ``token(`` (SQL text)."""

    def hit(node, _tree):
        if isinstance(node, ast.Call):
            f = node.func
            return getattr(f, "attr", getattr(f, "id", None)) == token
        return isinstance(node, ast.Constant) and isinstance(
            node.value, str
        ) and f"{token}(" in node.value

    return _nodes_outside(root, allowed, hit)


_PKG = pathlib.Path(catalog.__file__).parent


def test_driver_tables_built_only_through_local_frame():
    allowed = {"catalog.py:local_frame"}
    assert _uses_outside(_PKG, "createDataFrame", allowed) == []


def test_md5_bucket_rule_spelled_only_in_functions():
    # conv(substring(md5(...))) — as F.conv or in SQL text — is the
    # md5 bucket rule; every operator reaches it through functions.py
    assert _uses_outside(_PKG, "conv", {"functions.py"}) == []


#: Spark's higher-order functions. Handed a Python callable, each one
#: builds its lambda body through ~130 py4j round trips at plan time;
#: spelled as SQL text (``F.expr("transform(a, x -> ...)")``) the whole
#: call is one parse.
_HIGHER_ORDER = {
    "transform", "filter", "aggregate", "zip_with", "exists", "forall",
    "map_filter", "transform_values", "transform_keys", "map_zip_with",
    "array_sort", "reduce",
}


def _python_callable_higher_order(node, tree) -> bool:
    """``F.<higher-order>(...)`` with a lambda in an argument, or an
    argument naming a function defined in the module."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
        and node.func.attr in _HIGHER_ORDER
    ):
        return False
    defs = {
        n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
    }
    args = [*node.args, *(k.value for k in node.keywords)]
    return any(
        isinstance(n, ast.Lambda)
        or (isinstance(n, ast.Name) and n.id in defs)
        for a in args
        for n in ast.walk(a)
    )


def test_higher_order_functions_take_sql_lambdas():
    # text_bpe_encode's lambda calls bpe_encode_len(w, merges), which
    # inlines merge strings read from data; as SQL text each one would
    # need literal escaping, so it keeps the Python callable
    allowed = {"operators/text.py:text_bpe_encode"}
    found = _nodes_outside(_PKG, allowed, _python_callable_higher_order)
    assert found == []


#: Where a package definition may be used: the package itself, its
#: tests, tools, examples, the benchmark harnesses and the driver entry.
_REFERENCE_ROOTS = (
    "parquet_ingestor_spark", "tests", "tools", "examples", "bench.py",
    "ingestbench", "__spark_entry__.py",
)


def _top_level_definitions(tree):
    """(name, first line, last line) of each top-level function, class
    and non-dunder constant that is not ``@register``-decorated."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            if any(
                getattr(getattr(d, "func", d), "id", None) == "register"
                for d in node.decorator_list
            ):
                continue
            lines = [node.lineno] + [d.lineno for d in node.decorator_list]
            yield node.name, min(lines), node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            for n in ast.walk(node):
                if (
                    isinstance(n, ast.Name)
                    and isinstance(n.ctx, ast.Store)
                    and not (n.id.startswith("__") and n.id.endswith("__"))
                ):
                    yield n.id, node.lineno, node.end_lineno


def test_every_package_definition_is_referenced():
    # a reference is a Name, an Attribute or an import alias anywhere
    # in _REFERENCE_ROOTS outside the definition's own lines
    repo = _PKG.parent
    files = []
    for r in (repo / r for r in _REFERENCE_ROOTS):
        files += [r] if r.is_file() else sorted(r.rglob("*.py"))
    trees = {f: ast.parse(f.read_text()) for f in files}
    refs: dict[str, list[tuple[pathlib.Path, int]]] = {}
    for f, tree in trees.items():
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                names = [n.id]
            elif isinstance(n, ast.Attribute):
                names = [n.attr]
            elif isinstance(n, ast.alias):
                names = n.name.split(".")
            else:
                continue
            for name in names:
                refs.setdefault(name, []).append((f, n.lineno))
    dead = [
        f"{f.relative_to(repo)}:{first} {name}"
        for f, tree in trees.items()
        if _PKG in f.parents
        for name, first, last in _top_level_definitions(tree)
        if all(
            rf == f and first <= line <= last
            for rf, line in refs.get(name, [])
        )
    ]
    assert dead == []


def test_sim_ivf_topk_plans_no_logical_rdd(spark, sf_dir):
    df = REGISTRY["sim_ivf_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan
    assert "LocalRelation" in plan, plan
