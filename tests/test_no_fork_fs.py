"""The no-fork ``file://`` filesystem (jvm/NoForkLocalFileSystem.java).

Without the native Hadoop library the stock local filesystem forks a
``chmod`` from the driver JVM for every file and directory it creates.
session.get_spark swaps in a class that sets the same bits in-process.
These tests hold it to the stock class's semantics (modes, the rename
rule, checksums), count the forks of a real session, and pin down when
the session gets the class at all.
"""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

from flink_streaming_kmeans_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
needs_javac = pytest.mark.skipif(
    shutil.which("javac") is None, reason="no javac: sessions keep the stock filesystem"
)
CONF_KEYS = ("spark.driver.extraClassPath", "spark.hadoop.fs.file.impl")


def _filesystems(spark):
    """(stock, no-fork) local filesystems, each a fresh instance: the
    stock one is the class Hadoop resolves for ``file`` without the
    session's override."""
    jvm = spark._jvm
    fs_cls = jvm.org.apache.hadoop.fs.FileSystem
    session_conf = spark._jsparkSession.sessionState().newHadoopConf()
    stock_conf = jvm.org.apache.hadoop.conf.Configuration()
    out = []
    for conf in (stock_conf, session_conf):
        cls = fs_cls.getFileSystemClass("file", conf)
        fs = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(cls, conf)
        fs.initialize(jvm.java.net.URI("file:///"), conf)
        out.append(fs)
    return out


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


@needs_javac
def test_matches_stock_local_filesystem(spark, tmp_path):
    """Both classes on the same layout, in one process under one umask:
    the same modes after create, mkdirs and setPermission (sticky bit
    included), Hive's rename rule, and .crc files that catch a
    corrupted byte."""
    stock, nofork = _filesystems(spark)
    assert nofork.getClass().getName() == session.NO_FORK_FS
    assert stock.getClass().getName() != session.NO_FORK_FS
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    Perm = jvm.org.apache.hadoop.fs.permission.FsPermission

    def exercise(fs, root):
        r = {}
        os.makedirs(root)
        fs.create(Path(f"{root}/f")).close()
        out = fs.create(Path(f"{root}/data"))
        out.write(bytearray(b"x" * 600))
        out.close()
        fs.mkdirs(Path(f"{root}/a/b"))
        r["create"] = [_mode(f"{root}/{n}") for n in ("f", "data", ".data.crc")]
        r["mkdirs"] = [_mode(f"{root}/{n}") for n in ("a", "a/b")]
        for name, mode in (("f", "0600"), ("data", "0755"), ("a", "1777")):
            fs.setPermission(Path(f"{root}/{name}"), Perm(mode))
        r["set"] = [_mode(f"{root}/{n}") for n in ("f", "data", "a")]
        # rename onto an existing file: refused, both files kept
        out = fs.create(Path(f"{root}/g"))
        out.write(bytearray(b"g"))
        out.close()
        r["onto_file"] = fs.rename(Path(f"{root}/g"), Path(f"{root}/f"))
        r["kept"] = [os.path.getsize(f"{root}/{n}") for n in ("g", "f")]
        r["onto_new"] = fs.rename(Path(f"{root}/g"), Path(f"{root}/h"))
        r["moved"] = (os.path.exists(f"{root}/g"), os.path.exists(f"{root}/h"))
        # one corrupted data byte fails the checksum on read
        with open(f"{root}/data", "r+b") as f:
            f.seek(300)
            f.write(b"y")
        with pytest.raises(Py4JJavaError, match="ChecksumException"):
            fs.open(Path(f"{root}/data")).read()
        return r

    got_stock = exercise(stock, str(tmp_path / "stock"))
    got_nofork = exercise(nofork, str(tmp_path / "nofork"))
    assert got_nofork == got_stock
    assert got_nofork["set"] == [0o600, 0o755, 0o1777]
    assert (got_nofork["onto_file"], got_nofork["kept"]) == (False, [1, 0])
    assert (got_nofork["onto_new"], got_nofork["moved"]) == (True, (False, True))


_CENSUS = """
import os, sys
from flink_streaming_kmeans_spark.session import get_spark, scratch_path
from flink_streaming_kmeans_spark.sources.replay import (
    batch_input_dir, replay_stream, run_available_now,
)
spark = get_spark("fork-census")
df = spark.range(30).selectExpr("id", "cast(id % 3 as int) AS bno")
root = scratch_path("census")
in_dir = batch_input_dir(df, os.path.join(root, "replay"), range(3))
seen = []
writer = replay_stream(spark, in_dir, "id bigint").writeStream.foreachBatch(
    lambda batch_df, batch_id: seen.append(int(batch_id))
)
run_available_now(writer, "fork_census", spark)
spark.range(100).write.parquet(os.path.join(root, "out"))
assert seen == [0, 1, 2], seen
print("CENSUS-DONE")
"""


@needs_javac
@pytest.mark.slow
def test_session_forks_nothing_for_a_drive_and_a_write(tmp_path):
    """A get_spark session stages a replay, drives 3 foreachBatch
    triggers and writes one parquet dir without forking a process. The
    stock local filesystem forks a chmod per file it creates: 6 per
    trigger (each log file and its .crc) plus every staged and written
    file."""
    log = tmp_path / "forks.log"
    shim = tmp_path / "shim"
    shim.mkdir()
    for cmd in ("chmod", "stat", "ls"):
        real = shutil.which(cmd)
        (shim / cmd).write_text(
            f'#!/bin/sh\necho "{cmd} $*" >> "$CENSUS_LOG"\nexec {real} "$@"\n'
        )
        (shim / cmd).chmod(0o755)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_MASTER"}
    env.update(
        PATH=f"{shim}{os.pathsep}{env['PATH']}",
        CENSUS_LOG=str(log),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=REPO,
    )
    r = subprocess.run(
        [sys.executable, "-c", _CENSUS],
        env=env, cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert "CENSUS-DONE" in r.stdout, r.stderr[-3000:]
    forks = log.read_text().splitlines() if log.exists() else []
    assert forks == [], f"{len(forks)} forks: {forks[:12]}"


@pytest.fixture
def cache_home(tmp_path, monkeypatch):
    home = tmp_path / "cache"
    monkeypatch.setenv("XDG_CACHE_HOME", str(home))
    return home


@needs_javac
def test_second_call_reuses_the_cache(cache_home, monkeypatch):
    first = session._no_fork_classes()
    assert first is not None and first.startswith(str(cache_home))
    assert os.path.isfile(
        os.path.join(first, *session.NO_FORK_FS.split(".")) + ".class"
    )

    def no_compile(*args, **kwargs):
        raise AssertionError("javac ran for a cached build")

    monkeypatch.setattr(session.subprocess, "run", no_compile)
    assert session._no_fork_classes() == first


def test_no_javac_builds_the_stock_session(cache_home, monkeypatch):
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    assert session._no_fork_classes() is None
    options = session._builder("no-javac")._options
    assert not set(CONF_KEYS) & set(options)


@needs_javac
def test_failed_compile_leaves_no_cache(cache_home, monkeypatch):
    def failing(cmd, **kwargs):
        raise subprocess.CalledProcessError(1, cmd, stderr=b"error: broken")

    monkeypatch.setattr(session.subprocess, "run", failing)
    assert session._no_fork_classes() is None
    assert not cache_home.exists() or not any(cache_home.rglob("*"))


@needs_javac
def test_only_a_local_master_gets_the_filesystem(cache_home, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[2]")
    options = session._builder("local")._options
    assert options["spark.hadoop.fs.file.impl"] == session.NO_FORK_FS
    assert options["spark.driver.extraClassPath"] == session._no_fork_classes()
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "spark://localhost:7077")
    options = session._builder("cluster")._options
    assert not set(CONF_KEYS) & set(options)
