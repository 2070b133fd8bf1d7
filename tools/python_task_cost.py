"""Fixed cost of Python tasks in a ``get_spark`` session.

Prints, as the median over ``--reps`` runs after two warm-up runs:

- ``python_job_ms``: a 4-task job that runs a trivial Python function
  (``parallelize(range(4), 4).mapPartitions(...).collect()``);
- ``create_df_collect_ms``: ``createDataFrame`` of 600 ``(long, string)``
  rows, then ``collect()`` — a Python-RDD scan, as for a list of traverse
  roots;
- ``pandas_udf_ms``: a ``pandas_udf`` over 4000 rows in 4 partitions;
- ``zip_dir_reads_per_task``: how often a Python task re-reads a zip
  archive's directory (``zipimport._read_directory``), counted inside
  the workers.  The first task each worker runs installs the counter;
  every later task reports the reads since the one before.  CPython <
  3.13 re-reads every imported archive on each ``importlib.invalidate_caches()``
  that PySpark makes before a task, unless the worker daemon keeps them.

Usage: python tools/python_task_cost.py [ROOT] [--reps 10]
(ROOT defaults to this checkout; give another checkout, for example an
archive of the parent commit, to measure its ``get_spark``.)
"""

import argparse
import os
import statistics
import sys
import time


def count_zip_reads(_):
    """Per worker: install a counter on ``zipimport._read_directory`` and
    yield ``(False, 0)``, or yield ``(True, reads since the last task)``."""
    import zipimport

    read = zipimport._read_directory
    if not hasattr(read, "reads"):

        def counted(archive):
            counted.reads += 1
            return read(archive)

        counted.reads = 0
        zipimport._read_directory = counted
        yield (False, 0)
        return
    reads, read.reads = read.reads, 0
    yield (True, reads)


def median_ms(fn, reps: int) -> float:
    times = []
    for i in range(reps + 2):
        t0 = time.perf_counter()
        fn()
        if i >= 2:
            times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("root", nargs="?", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--reps", type=int, default=10)
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.root))

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from esgopeta_spark.session import get_spark

    spark = get_spark("python-task-cost")
    sc = spark.sparkContext
    roots = [(i, f"soul-{i}") for i in range(600)]

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    def python_job():
        return sc.parallelize(range(4), 4).mapPartitions(lambda it: [sum(it)]).collect()

    out = {
        "python_job_ms": median_ms(python_job, args.reps),
        "create_df_collect_ms": median_ms(
            lambda: spark.createDataFrame(roots, "root long, soul string").collect(), args.reps),
        "pandas_udf_ms": median_ms(lambda: spark.range(0, 4000, 1, 4).select(plus_one("id")).collect(), args.reps),
    }
    reported = []
    for _ in range(args.reps + 1):
        reported += [reads for counted, reads in sc.parallelize(range(4), 4).mapPartitions(count_zip_reads).collect()
                     if counted]
    out["zip_dir_reads_per_task"] = sum(reported) / max(len(reported), 1)
    print(f"# root {os.path.abspath(args.root)}, python {sys.version.split()[0]}, "
          f"cpus {sc.defaultParallelism}, {args.reps} reps, {len(reported)} counted tasks")
    spark.stop()
    for name, value in out.items():
        print(f"{name} {value:.1f}")


if __name__ == "__main__":
    main()
