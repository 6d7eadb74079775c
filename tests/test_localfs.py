"""The in-process local filesystem (``jvm/NioLocalFileSystem.java``):
bound to ``file://`` for both Hadoop entry points, same permission bits
as ``chmod``, same link status as Hadoop's, ``.crc`` sidecars written
and verified, and no shell command forked by an ingest."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_ingestor_spark import session
from parquet_ingestor_spark.pipeline import PipelineConfig, start_stream_ingest
from test_pipeline import RECORD_SCHEMA, _run_until_drained, _write_landing_file

_SHIM = "parquet_ingestor_spark.jvm.NioLocalFileSystem"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hadoop(spark):
    return spark._jvm.org.apache.hadoop, spark._jsc.hadoopConfiguration()


def test_file_scheme_resolves_to_shim(spark):
    if session._javac() is None:
        pytest.skip("no JDK compiler: Hadoop's own local filesystem is used")
    hadoop, conf = _hadoop(spark)
    raw = hadoop.fs.FileSystem.getLocal(conf).getRawFileSystem()
    assert raw.getClass().getName() == _SHIM + "$Raw"
    afs = hadoop.fs.FileContext.getLocalFSFileContext(conf).getDefaultFileSystem()
    assert afs.getClass().getName() == _SHIM + "$Fs"


@pytest.mark.parametrize("mode", [0o600, 0o640, 0o644, 0o700, 0o755, 0o1777], ids=oct)
def test_set_permission_matches_chmod(spark, tmp_path, mode):
    hadoop, conf = _hadoop(spark)
    raw = hadoop.fs.FileSystem.getLocal(conf).getRawFileSystem()
    for kind in ("file", "dir"):
        ours, theirs = str(tmp_path / f"{kind}-ours"), str(tmp_path / f"{kind}-chmod")
        for p in (ours, theirs):
            if kind == "dir":
                os.mkdir(p)
            else:
                open(p, "w").close()
            # start from the complement so every permission bit must move
            os.chmod(p, ~mode & 0o777)
        raw.setPermission(hadoop.fs.Path(ours), hadoop.fs.permission.FsPermission(mode))
        subprocess.run(["chmod", f"{mode:04o}", theirs], check=True)
        got, want = (os.stat(p).st_mode & 0o7777 for p in (ours, theirs))
        assert got == want, (kind, oct(mode), oct(got), oct(want))


def _status(st):
    return (
        st.getPath().toString(), st.getLen(), st.isDirectory(), st.isSymlink(),
        st.getModificationTime(), st.getPermission().toString(),
    )


def test_link_status_matches_hadoop(spark, tmp_path):
    if session._javac() is None:
        pytest.skip("no JDK compiler: Hadoop's own local filesystem is used")
    hadoop, conf = _hadoop(spark)
    raw = hadoop.fs.FileSystem.getLocal(conf).getRawFileSystem()
    # answered by the shim, not inherited from Hadoop's forking code
    assert "getFileLinkStatus" in {m.getName() for m in raw.getClass().getDeclaredMethods()}
    ours = hadoop.fs.FileContext.getLocalFSFileContext(conf).getDefaultFileSystem()
    stock = hadoop.fs.RawLocalFileSystem()
    stock.initialize(spark._jvm.java.net.URI.create("file:///"), conf)
    (tmp_path / "file").write_text("abc")
    (tmp_path / "dir").mkdir()
    (tmp_path / "link").symlink_to(tmp_path / "file")
    for name in ("file", "dir", "link"):
        # qualified, as FileContext hands paths to the filesystem
        path = hadoop.fs.Path(f"file:{tmp_path / name}")
        assert _status(ours.getFileLinkStatus(path)) == _status(
            stock.getFileLinkStatus(path)
        ), name
    missing = hadoop.fs.Path(f"file:{tmp_path / 'missing'}")
    for fs in (ours, stock):
        with pytest.raises(Exception, match="java.io.FileNotFoundException"):
            fs.getFileLinkStatus(missing)


def test_overwrite_rename_moves_crc_sidecar(spark, tmp_path):
    """The checkpoint log's commit: a temp file renamed over the entry
    with ``OVERWRITE``; the sidecar must follow it."""
    jvm, (hadoop, conf) = spark._jvm, _hadoop(spark)
    gateway = spark.sparkContext._gateway
    fc = hadoop.fs.FileContext.getLocalFSFileContext(conf)
    log = tmp_path / "commits"
    log.mkdir()

    def _path(name):
        return hadoop.fs.Path(f"file:{log / name}")

    def _write(name, body):
        out = fc.create(
            _path(name),
            jvm.java.util.EnumSet.of(hadoop.fs.CreateFlag.CREATE),
            gateway.new_array(hadoop.fs.Options.CreateOpts, 0),
        )
        out.write(body)
        out.close()

    _write("0", b"v1 old entry")
    _write(".0.tmp", b"v1 new entry, longer")
    opts = gateway.new_array(hadoop.fs.Options.Rename, 1)
    opts[0] = hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(_path(".0.tmp"), _path("0"), opts)
    assert sorted(os.listdir(log)) == [".0.crc", "0"]
    assert (log / "0").read_bytes() == b"v1 new entry, longer"
    # the moved sidecar is the new entry's: a checksummed read passes
    stream = fc.open(_path("0"))
    got = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    stream.close()
    assert got == b"v1 new entry, longer"


def _walk(root):
    for d, dirs, files in os.walk(root):
        for name in dirs:
            yield os.path.join(d, name), True
        for name in files:
            yield os.path.join(d, name), False


def test_writes_keep_modes_and_crc_sidecars(spark, tmp_path):
    out = str(tmp_path / "lake")
    spark.range(40).withColumn("p", F.col("id") % 2).write.partitionBy("p").parquet(out)
    for leaf in ("p=0", "p=1"):
        names = os.listdir(os.path.join(out, leaf))
        parts = [n for n in names if n.endswith(".parquet")]
        assert parts and all(f".{n}.crc" in names for n in parts), names

    landing, chk, sink = (str(tmp_path / n) for n in ("landing", "chk", "sink"))
    os.makedirs(landing)
    _write_landing_file(landing, "a.json", 30, bad_every=10)
    q = start_stream_ingest(
        spark, landing, sink, chk, RECORD_SCHEMA,
        PipelineConfig(flush_interval="1 second"),
    )
    _run_until_drained(q)
    for log in ("commits", "offsets"):
        assert {"0", ".0.crc"} <= set(os.listdir(os.path.join(chk, log))), log
    data = [p for p, is_dir in _walk(sink) if not is_dir and p.endswith(".parquet")]
    assert data and all(
        os.path.exists(os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc"))
        for p in data
    )
    # Hadoop's default umask 022, applied by setPermission (not the
    # process umask): what the forked chmod left behind
    for root in (out, sink, chk):
        for p, is_dir in _walk(root):
            assert os.stat(p).st_mode & 0o7777 == (0o755 if is_dir else 0o644), p


def test_checksum_mismatch_fails_full_scan(spark, tmp_path):
    out = str(tmp_path / "lake")
    (
        spark.range(0, 4000, numPartitions=1)
        .select((F.col("id") * 7919 % 100003).alias("id"), (F.col("id") % 2).alias("p"))
        .write.partitionBy("p")
        .parquet(out)
    )
    leaf = os.path.join(out, "p=0")
    part = os.path.join(leaf, next(n for n in os.listdir(leaf) if n.endswith(".parquet")))
    chunk = pq.ParquetFile(part).metadata.row_group(0).column(0)
    at = chunk.data_page_offset + chunk.total_compressed_size // 2
    with open(part, "r+b") as f:
        f.seek(at)
        byte = f.read(1)[0]
        f.seek(at)
        f.write(bytes([byte ^ 0xFF]))
    df = spark.read.parquet(out)
    assert df.count() == 4000  # footers only: the flipped page is not read
    with pytest.raises(Exception, match="ChecksumException"):
        df.agg(F.sum("id")).collect()


def test_conf_without_javac_is_hadoops_local_fs(monkeypatch):
    monkeypatch.setattr(session, "_javac", lambda: None)
    conf = session._session_conf(4, {"spark.driver.extraClassPath": "user-extra.jar"})
    assert set(conf) == set(session._BASE_CONF) | {
        "spark.sql.shuffle.partitions",
        "spark.default.parallelism",
        "spark.driver.extraClassPath",
    }
    assert conf["spark.driver.extraClassPath"] == "user-extra.jar"


def test_conf_appends_shim_to_caller_classpath():
    if session._javac() is None:
        pytest.skip("no JDK compiler: Hadoop's own local filesystem is used")
    jar = session._localfs_jar()
    conf = session._session_conf(4, {"spark.driver.extraClassPath": "user-extra.jar"})
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(("user-extra.jar", jar))
    assert "spark.executor.extraClassPath" not in conf
    assert conf["spark.hadoop.fs.file.impl"] == _SHIM


def test_build_removes_stale_jars(monkeypatch, tmp_path):
    if session._javac() is None:
        pytest.skip("no JDK compiler: Hadoop's own local filesystem is used")
    src = tmp_path / "NioLocalFileSystem.java"
    shutil.copy(session._LOCALFS_SRC, src)
    (tmp_path / "build").mkdir()
    (tmp_path / "build" / "localfs-0000000000000000.jar").write_bytes(b"stale")
    monkeypatch.setattr(session, "_JVM_DIR", str(tmp_path))
    monkeypatch.setattr(session, "_LOCALFS_SRC", str(src))
    jar = session._localfs_jar()
    assert os.path.dirname(jar) == str(tmp_path / "build")
    assert os.listdir(tmp_path / "build") == [os.path.basename(jar)]


_DRAIN = """
import os, sys
sys.path[:0] = [{repo!r}, {tests!r}]
from parquet_ingestor_spark.session import get_spark
from parquet_ingestor_spark.pipeline import PipelineConfig, start_stream_ingest
from test_pipeline import RECORD_SCHEMA, _run_until_drained, _write_landing_file
spark = get_spark(master="local[2]", extra_conf={{
    "spark.sql.shuffle.partitions": "2", "spark.driver.memory": "1g"}})
os.makedirs({landing!r})
_write_landing_file({landing!r}, "a.json", 200, bad_every=10)
open({log!r}, "w").close()  # count only the ingest's spawns
_run_until_drained(start_stream_ingest(
    spark, {landing!r}, {out!r}, {chk!r}, RECORD_SCHEMA,
    PipelineConfig(flush_interval="1 second")))
spark.stop()
"""


# Hadoop's local-filesystem shell-outs without libhadoop: chmod
# (setPermission), readlink (getFileLinkStatus), ls (a status's owner
# and permission) and stat (link status when the deprecated path is off).
_SHELL_OUTS = ("chmod", "readlink", "ls", "stat")


def test_stream_ingest_forks_no_shell(tmp_path):
    """Hadoop's local filesystem without libhadoop forks ``chmod`` for
    every file, sidecar and directory (~160 for this one-file drain)
    and ``readlink`` for every path a checkpoint log's rename checks
    (32 for this drain once the chmod forks were gone: 8 per log entry,
    for metadata and for one batch's sources, offsets and commits)."""
    if session._javac() is None:
        pytest.skip("no JDK compiler: Hadoop's own local filesystem is used")
    bindir, log = tmp_path / "bin", str(tmp_path / "spawns.log")
    bindir.mkdir()
    for cmd in _SHELL_OUTS:
        spy = bindir / cmd
        spy.write_text(f'#!/bin/sh\necho "{cmd} $@" >> {log}\nexec {shutil.which(cmd)} "$@"\n')
        spy.chmod(0o755)
    script = textwrap.dedent(_DRAIN).format(
        repo=_REPO, tests=os.path.join(_REPO, "tests"), log=log,
        landing=str(tmp_path / "landing"), out=str(tmp_path / "out"),
        chk=str(tmp_path / "chk"),
    )
    env = dict(os.environ, PATH=f"{bindir}{os.pathsep}{os.environ['PATH']}")
    subprocess.run([sys.executable, "-c", script], env=env, check=True, timeout=300)
    assert os.listdir(tmp_path / "out" / "data")  # the drain did write
    with open(log) as f:
        assert f.read().splitlines() == []
