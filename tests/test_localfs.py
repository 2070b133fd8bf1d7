"""The session's local filesystem (``esgopeta_spark/jvm``): fork-free
``setPermission`` with the stock modes, checksums kept, and a committed
jar that is the build of the committed source."""

from __future__ import annotations

import glob
import os
import re
import shutil
import subprocess
import zipfile

import pyspark
import pytest

from esgopeta_spark.session import NIO_FS_CLASS, NIO_FS_JAR

STOCK_FS_CLASS = "org.apache.hadoop.fs.LocalFileSystem"


def _fs_class(spark, hadoop_conf) -> str:
    path = spark._jvm.org.apache.hadoop.fs.Path("file:///")
    return path.getFileSystem(hadoop_conf).getClass().getName()


def test_session_resolves_file_scheme_to_nio_fs(spark):
    assert _fs_class(spark, spark._jsc.hadoopConfiguration()) == NIO_FS_CLASS
    # the conf a SQL write resolves its paths with
    assert _fs_class(spark, spark._jsparkSession.sessionState().newHadoopConf()) == NIO_FS_CLASS


def _modes(root: str) -> list[tuple[str, str]]:
    """(name with the write's random part ids blanked, mode) of every
    file and directory under ``root``."""
    out = []
    for d, dirs, files in os.walk(root):
        for n in dirs + files:
            p = os.path.join(d, n)
            name = re.sub(r"part-\d+-[0-9a-f-]+", "part", os.path.relpath(p, root))
            out.append((name, oct(os.stat(p).st_mode & 0o7777)))
    return sorted(out)


def test_parquet_write_modes_match_stock_local_fs(spark, tmp_path):
    """Each write runs in a session with its own uncached filesystem
    instance and a non-default ``fs.permissions.umask-mode``: modes that
    ``setPermission`` did not set would show the process umask instead."""
    modes = {}
    for impl in (NIO_FS_CLASS, STOCK_FS_CLASS):
        s = spark.newSession()
        s.conf.set("fs.file.impl", impl)
        s.conf.set("fs.file.impl.disable.cache", "true")
        s.conf.set("fs.permissions.umask-mode", "027")
        assert _fs_class(s, s._jsparkSession.sessionState().newHadoopConf()) == impl
        out = str(tmp_path / impl.rsplit(".", 1)[1])
        s.range(60).selectExpr("id", "id % 3 AS b").write.partitionBy("b").parquet(out)
        modes[impl] = _modes(out)
    assert modes[NIO_FS_CLASS] == modes[STOCK_FS_CLASS]
    assert ("b=0", "0o750") in modes[NIO_FS_CLASS]
    assert ("b=0/part.c000.snappy.parquet", "0o640") in modes[NIO_FS_CLASS]


def test_checksums_are_written_and_verified(spark, tmp_path):
    out = str(tmp_path / "t")
    spark.range(2000).selectExpr("id", "cast(id AS string) AS s").coalesce(1).write.parquet(out)
    (data,) = glob.glob(os.path.join(out, "part-*.parquet"))
    assert os.path.exists(os.path.join(out, "." + os.path.basename(data) + ".crc"))
    assert spark.read.parquet(out).count() == 2000
    with open(data, "r+b") as f:  # flip one byte inside the first data page
        f.seek(64)
        b = f.read(1)
        f.seek(64)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="Checksum"):
        spark.read.parquet(out).collect()


def test_committed_jar_is_the_build_of_the_source(tmp_path):
    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("no javac on PATH")
    (hadoop_api,) = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
    src = os.path.join(os.path.dirname(NIO_FS_JAR), "NioLocalFileSystem.java")
    out = tmp_path / "classes"
    subprocess.run([javac, "--release", "17", "-cp", hadoop_api, "-d", str(out), src], check=True)
    built = {str(p.relative_to(out)): p.read_bytes() for p in out.rglob("*.class")}
    with zipfile.ZipFile(NIO_FS_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert built and committed == built
