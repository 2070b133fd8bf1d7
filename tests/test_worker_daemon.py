"""The PySpark worker daemon (``esgopeta_spark._worker_daemon``): zip
directories are kept while their archive is unchanged, and Spark's
workers run it."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The patch is process-global, so it is exercised in a fresh interpreter.
KEEP_SCRIPT = r"""
import importlib, sys, zipimport
import zipfile

from esgopeta_spark._worker_daemon import keep_zip_directories

archive = sys.argv[1]


def write(*modules):
    with zipfile.ZipFile(archive, "w") as z:  # rewrites in place: same inode
        for m in modules:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


write("zd_one")
sys.path.insert(0, archive)
import zd_one

reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda a: reads.append(a) or read(a)
importlib.invalidate_caches()
stock = reads.count(archive)
keep_zip_directories()
reads.clear()
for _ in range(3):
    importlib.invalidate_caches()
kept = len(reads)
write("zd_one", "zd_two")
importlib.invalidate_caches()
import zd_two

print(stock, kept, reads.count(archive), zd_two.NAME)
"""


def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path):
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", KEEP_SCRIPT, str(tmp_path / "mods.zip")],
        env=env, capture_output=True, text=True, timeout=120, check=True,
    ).stdout.split()
    # the stock method re-reads the archive; the kept one reads nothing
    # until the archive changes, then imports the new member
    assert out == ["1", "0", "1", "zd_two"]


def test_spark_workers_run_the_daemon_and_import_new_py_files(spark, tmp_path):
    """Workers that were forked before ``addPyFile`` import from the new
    archive, and their ``importlib.invalidate_caches()`` reads no zip
    directory: the patched method runs in the workers."""
    sc = spark.sparkContext
    assert sc.parallelize(range(4), 4).map(lambda x: x + 1).sum() == 10  # warm the workers
    archive = tmp_path / "zd_spark_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zd_spark_probe.py", "VALUE = 42\n")
    sc.addPyFile(str(archive))

    def probe(_):
        import importlib
        import zipimport

        import zd_spark_probe

        importlib.invalidate_caches()  # records the new archive's signature
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield zd_spark_probe.VALUE, hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"), len(reads)

    assert set(sc.parallelize(range(4), 4).mapPartitions(probe).collect()) == {(42, True, 0)}
