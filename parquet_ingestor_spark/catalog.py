"""Testdata catalog: the driver-generated TPC-H-ish star schema plus the
``events`` stream table and the training-data tables (``documents``,
``embeddings``).

All loads are ``spark.read.parquet`` — column pruning and filter
pushdown then happen inside the scan (verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).

Inferring a parquet schema submits one Spark job per read, even for a
single file, only to read its footer. So the schema of each table file
is inferred once per file version and memoized: later reads pass it to
``spark.read.schema(...)``, which submits no job. The memo key is the
path, the file's ``os.stat`` identity and version (device, inode, size,
mtime and ctime in ns) and the session settings the parquet schema
converter reads (``SCHEMA_CONFS``), so a rewritten file or a flipped
setting is inferred again. Only absolute paths naming a local regular
file are memoized; a directory (whose stat does not change when a file
inside it is rewritten) or a URI keeps the inferring read.

Small tables the operators build on the driver (centroids, probe lists,
query sets, k-means state, BPE merges, result tables) go through
``local_frame``: the rows become a ``pyarrow.Table`` and Spark plans it
as a ``LocalRelation``, which every action reads on the JVM with no
job. ``spark.createDataFrame`` of a Python list instead parallelizes
the rows into a Python RDD, so each action on the frame (a broadcast
side's collect included) ran ``defaultParallelism`` Python-worker tasks
for a few dozen rows. Above 48 MiB (the default of
``spark.sql.execution.arrow.localRelationThreshold``) the Arrow batches
become a JVM RDD instead, still with no Python worker.
"""

from __future__ import annotations

import functools
import os
import stat

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: The session settings Spark 4.1's parquet-to-Spark schema converter
#: reads; an inferred schema is only reused under the same values.
SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Correctness-critical runtime confs, set defensively so queries
    work on *any* session (the driver builds its own): nanos parquet
    reads and UTC time semantics (every time-bucketing query assumes
    the testdata's naive-UTC timestamps)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_ts(df: DataFrame) -> DataFrame:
    """Rebuild a µs timestamp from raw int64-nanos ``ts`` columns.

    Testdata generations have stored events.ts as TIMESTAMP(NANOS)
    (arrives as bigint nanos under
    ``spark.sql.legacy.parquet.nanosAsLong``) and as TIMESTAMP(MICROS)
    (arrives as a timestamp directly) — the guard on dtype makes both
    read identically, so the engine is agnostic to which generation it
    is pointed at. Queries format/bucket timestamps rather than
    emitting raw ns, so the µs truncation is not observable.
    """
    for col_name, dtype in df.dtypes:
        if col_name == "ts" and dtype == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif col_name == "ts" and dtype == "timestamp_ntz":
            # naive-UTC semantics under the UTC session: the cast is a
            # type-tag change, not a value change. LTZ is required by
            # event-time operators (withWatermark rejects NTZ).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _file_version(path: str) -> tuple[int, ...] | None:
    """Identity and version of the local regular file at an absolute
    ``path``; ``None`` for anything else (URI, relative path, directory,
    missing file)."""
    if not os.path.isabs(path):
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


@functools.lru_cache(maxsize=256)
def _schema_slot(key: tuple) -> list:
    """The memo: one slot per key, filled with the schema by the key's
    first (inferring) read."""
    return []


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, its ``ts`` normalized (``normalize_ts``).

    The first read of a table file infers its schema (one Spark job)
    and memoizes it; later reads of the same file version under the
    same ``SCHEMA_CONFS`` values reuse it and submit no job. Paths that
    are not an absolute local regular file always infer (see the
    module docstring).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    version = _file_version(path)
    if version is None:
        return normalize_ts(spark.read.parquet(path))
    confs = tuple(spark.conf.get(k) for k in SCHEMA_CONFS)
    slot = _schema_slot((path, version, confs))
    if slot:
        return normalize_ts(spark.read.schema(slot[0]).parquet(path))
    df = spark.read.parquet(path)
    slot.append(df.schema)
    return normalize_ts(df)


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A frame of the driver-side ``rows`` (tuples in ``ddl`` column
    order; ``None`` is a null cell), planned as a JVM ``LocalRelation``
    through Arrow (see the module docstring)."""
    schema = T.StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow_schema)
    arrays = [
        pa.array(c, f.type) for c, f in zip(cols, arrow_schema, strict=True)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema
    )
