"""SparkSession factory.

Design notes (100 TB target, tested on local[32]):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace most hand-tuning at scale.
- ``spark.sql.shuffle.partitions`` is a *starting* value; AQE coalesces
  down on small inputs and a real cluster raises it (rule of thumb:
  2-3× total cores, or target ~128-256 MB per shuffle partition).
- Session timezone pinned to UTC: the reference engine computes its
  time-partitioned sink keys in UTC (reference: ingestor/ingestor.go:789),
  and all testdata timestamps are naive-UTC.
- Parquet codec snappy: the reference's default in every example
  (reference: examples/basic/main.go:79, encoder/encoder_parquet.go:74).
- ``file://`` is bound to ``jvm/NioLocalFileSystem.java``: without
  libhadoop (never shipped in the pyspark wheel) Hadoop's local
  filesystem forks ``chmod`` for every file, ``.crc`` sidecar and
  directory a write or a streaming checkpoint creates, and ``readlink``
  for every path a checkpoint log's rename checks; the shim sets the
  same bits and resolves link status in-process (sticky bits and real
  symlinks fall back to Hadoop's code). It is compiled once per source
  version with the JDK's ``javac``; a JRE-only install gets Hadoop's own
  local filesystem.
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import shutil
import subprocess
import tempfile

from pyspark.sql import SparkSession

# Knobs that matter at 100 TB, with the local-test value and the
# rationale for what changes on a real cluster.
_BASE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.compression.codec": "snappy",
    # AQE: coalesce small shuffles, split skewed partitions, convert
    # sort-merge joins to broadcast when runtime stats allow.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/supplier at any SF; doc/embedding
    # centroid tables) should broadcast. 64 MB is safe with >=8 GB
    # executors; the explicit broadcast() hints in queries/ do not
    # depend on this threshold.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas_udf / mapInPandas / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MB input splits: the parquet-scan parallelism driver.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Bound output file size at the sink (reference batches by
    # bytes/count before each flush — O7; this is the Spark-native
    # equivalent of bounding the encoded object size).
    "spark.sql.files.maxRecordsPerFile": "5000000",
    # The wide-aggregate operators (MinHash 64-min, SimHash 63-vote)
    # produce large codegen units; the default 100-entry generated-
    # class cache evicts them across a mixed workload, forcing repeated
    # multi-second janino recompiles.
    "spark.sql.codegen.cache.maxEntries": "2000",
    "spark.ui.enabled": "false",
    # The events table stores TIMESTAMP(NANOS), which Spark's vectorized
    # reader rejects; read the raw int64 and rebuild the timestamp in
    # catalog.table() (µs truncation — outputs never expose raw ns).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
}


_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_LOCALFS_SRC = os.path.join(_JVM_DIR, "NioLocalFileSystem.java")
_LOCALFS_CLASS = "parquet_ingestor_spark.jvm.NioLocalFileSystem"
# FileSystem API (parquet and DLQ writes) and FileContext API (the
# streaming checkpoint's offsets, commits and sources logs).
_LOCALFS_CONF: dict[str, str] = {
    "spark.hadoop.fs.file.impl": _LOCALFS_CLASS,
    "spark.hadoop.fs.AbstractFileSystem.file.impl": _LOCALFS_CLASS + "$Fs",
}


def _javac() -> str | None:
    """The JDK compiler beside the ``java`` Spark launches (``$JAVA_HOME``
    first, as the launcher does), or None on a JRE-only install."""
    home = os.environ.get("JAVA_HOME")
    if home:
        path = os.path.join(home, "bin", "javac")
        return path if os.access(path, os.X_OK) else None
    return shutil.which("javac")


def _localfs_jar() -> str | None:
    """Path of the compiled local-filesystem shim, building it on first
    use; None when no JDK compiler is installed.

    The jar is named by the source's content hash, so an edited source
    rebuilds and concurrent builders of one version write the same bytes
    (each to its own temp name, then an atomic rename); a build removes
    the jars of earlier sources."""
    javac = _javac()
    if javac is None:
        return None
    with open(_LOCALFS_SRC, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    build = os.path.join(_JVM_DIR, "build")
    jar = os.path.join(build, f"localfs-{digest}.jar")
    if os.path.exists(jar):
        return jar
    from pyspark.find_spark_home import _find_spark_home

    os.makedirs(build, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=build) as tmp:
        classes = os.path.join(tmp, "classes")
        subprocess.run(
            [javac, "--release", "17", "-d", classes,
             "-cp", os.path.join(_find_spark_home(), "jars", "*"), _LOCALFS_SRC],
            check=True,
        )
        part = shutil.make_archive(os.path.join(tmp, "localfs"), "zip", classes)
        os.replace(part, jar)
    # only the current source's jar is ever put on the class path; a
    # concurrent builder may have removed a stale jar first
    for old in set(pathlib.Path(build).glob("localfs-*.jar")) - {pathlib.Path(jar)}:
        old.unlink(missing_ok=True)
    return jar


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        return max(1, int(cpus))
    except ValueError:
        return 32


def get_spark(
    app_name: str = "parquet-ingestor-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    on a cluster, pass None and submit with your cluster master — every
    other knob here is cluster-appropriate as-is.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for k, v in _session_conf(cpus, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _session_conf(cpus: int, extra_conf: dict[str, str] | None) -> dict[str, str]:
    conf = dict(_BASE_CONF)
    # Start shuffle width at core count; AQE coalesces below it when the
    # data is small and a cluster deployment overrides it upward.
    conf.setdefault("spark.sql.shuffle.partitions", str(max(cpus, 8)))
    conf["spark.default.parallelism"] = str(cpus)
    if extra_conf:
        conf.update(extra_conf)
    jar = _localfs_jar()
    if jar is not None:
        for k, v in _LOCALFS_CONF.items():
            conf.setdefault(k, v)
        # Local-mode executors run in the driver JVM, so its class path
        # serves them too; spark.executor.extraClassPath would only add
        # the jar to every task's class loader as well.
        k = "spark.driver.extraClassPath"
        conf[k] = os.pathsep.join(filter(None, (conf.get(k), jar)))
    return conf
