"""``catalog.table``'s schema memo: a table file's schema is inferred
once per file version and settings, so later reads submit no Spark
job, return the schema an inferring read returns, and never go stale.
``catalog.local_frame``: a driver-built table holds the rows
``createDataFrame`` of the same list holds, plans as a ``LocalRelation``
and is built and collected with no Spark job."""

from __future__ import annotations

import ast
import contextlib
import itertools
import pathlib
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from parquet_ingestor_spark import catalog
from parquet_ingestor_spark.catalog import TABLES, local_frame, normalize_ts, table
from parquet_ingestor_spark.queries.relational import q10_revenue_per_nation

_groups = itertools.count()


@contextlib.contextmanager
def _jobs(spark):
    """Collect the ids of the jobs submitted inside the block (under a
    fresh job group) into the yielded list."""
    sc = spark.sparkContext
    group = f"catalog-test-{next(_groups)}"
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc._jsc.clearJobGroup()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_read_submits_no_job_and_keeps_inferred_schema(spark, sf_dir):
    for name in TABLES:
        table(spark, sf_dir, name)
        with _jobs(spark) as jobs:
            df = table(spark, sf_dir, name)
        assert jobs == [], name
        inferred = normalize_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        assert df.schema == inferred.schema, name


def test_second_q10_build_submits_no_job_before_its_action(spark, sf_dir):
    first = _rows(q10_revenue_per_nation(spark, sf_dir))
    with _jobs(spark) as jobs:
        df = q10_revenue_per_nation(spark, sf_dir)
    assert jobs == []
    assert _rows(df) == first


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int64())}), path)
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey"]

    pq.write_table(
        pa.table({"r_regionkey": pa.array([7], pa.int32()), "r_name": ["ASIA"]}), path
    )
    df = table(spark, str(tmp_path), "region")
    assert df.dtypes == [("r_regionkey", "int"), ("r_name", "string")]
    assert _rows(df) == [(7, "ASIA")]


def test_schema_setting_flip_is_inferred_again(spark, tmp_path):
    pq.write_table(
        pa.table({"r_name": pa.array([b"ASIA"], pa.binary())}),
        str(tmp_path / "region.parquet"),
    )
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert table(spark, str(tmp_path), "region").dtypes == [("r_name", "binary")]
        spark.conf.set(key, "true")
        df = table(spark, str(tmp_path), "region")
        assert df.dtypes == [("r_name", "string")]
        assert _rows(df) == [("ASIA",)]
    finally:
        spark.conf.set(key, before)


def test_directory_table_keeps_inferring_read(spark, tmp_path):
    spark.range(3).selectExpr("id AS r_regionkey").write.parquet(
        str(tmp_path / "region.parquet")
    )
    for _ in range(2):
        with _jobs(spark) as jobs:
            df = table(spark, str(tmp_path), "region")
        assert len(jobs) >= 1  # the schema inference job
        assert df.dtypes == [("r_regionkey", "bigint")]
        assert _rows(df) == [(0,), (1,), (2,)]


def test_concurrent_first_reads_share_one_schema(spark, tmp_path):
    """Threads racing on a file's first read may each infer; every one
    gets the file's schema and rows, and the memo then serves it."""
    pq.write_table(pa.table({"n_nationkey": [3, 1, 2]}), str(tmp_path / "nation.parquet"))
    results, errors = [], []

    def read():
        try:
            df = table(spark, str(tmp_path), "nation")
            results.append((df.dtypes, _rows(df)))
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=read) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert results == [([("n_nationkey", "bigint")], [(1,), (2,), (3,)])] * 8
    with _jobs(spark) as jobs:
        table(spark, str(tmp_path), "nation")
    assert jobs == []


#: The column types of every driver-side table the operators build,
#: with edge values: None cells, integer extremes, signed zero, NaN,
#: infinities, None and empty arrays, None array elements.
_CELLS = {
    "int": [0, -(2**31), 2**31 - 1, None],
    "bigint": [0, -(2**63), 2**63 - 1, None],
    "double": [0.1, -0.0, float("nan"), float("inf"), None],
    "string": ["", "a", "ünï ✓", None],
    "array<double>": [[0.1, -2.5e-300], [], [None, 1.0], None],
    "array<bigint>": [[1, -(2**63)], [], [None, 2], None],
}


def _site_ddls() -> list[str]:
    """The DDL literal of every ``local_frame`` call in the package."""
    ddls = set()
    for path in sorted(pathlib.Path(catalog.__file__).parent.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "local_frame"
            ):
                ddl = node.args[2]
                assert isinstance(ddl, ast.Constant), f"{path}:{node.lineno}"
                ddls.add(ddl.value)
    return sorted(ddls)


_SITE_DDLS = _site_ddls()


def _site_rows(ddl: str) -> list[tuple]:
    """One row per edge cell of the widest column type, the other
    columns cycling through their own edge cells."""
    types = [
        f.dataType.simpleString() for f in T.StructType.fromDDL(ddl).fields
    ]
    n = max(len(_CELLS[t]) for t in types)
    return [
        tuple(_CELLS[t][i % len(_CELLS[t])] for t in types) for i in range(n)
    ]


def _cells(df) -> list[str]:
    """Collected rows in order, by ``repr`` (tells NaN, -0.0 and None
    apart)."""
    return [repr(tuple(r)) for r in df.collect()]


@pytest.mark.parametrize("ddl", _SITE_DDLS)
@pytest.mark.parametrize("n", [None, 0], ids=["edge_rows", "zero_rows"])
def test_local_frame_equals_list_frame(spark, ddl, n):
    assert len(_SITE_DDLS) >= 15
    rows = _site_rows(ddl)[:n]
    df = local_frame(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert df.schema == ref.schema
    assert _cells(df) == _cells(ref)


def test_local_frame_plans_local_relation_and_runs_no_job(spark):
    ddl = "c_id int, cv array<double>, cn double"
    rows = [(i, [float(i), 1.0 / (i + 1)], float(i) ** 0.5) for i in range(25)]
    with _jobs(spark) as jobs:
        df = local_frame(spark, rows, ddl)
        got = [tuple(r) for r in df.collect()]
    assert jobs == []
    assert got == rows
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lstrip().startswith("LocalRelation"), plan
