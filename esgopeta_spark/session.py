"""SparkSession construction with scale-minded defaults.

The master is local[SPARK_GRAFT_CPUS], by default the cpus this process
may run on; the configs below are chosen so the same code runs
unchanged on a multi-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), broadcast
threshold sized for dimension tables, Arrow enabled for the Pandas-UDF
slow path.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def get_spark(app_name: str = "esgopeta-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's testdata parquet has stored ts columns as TIMESTAMP(NANOS)
        # in one round and timestamp[us]-no-tz in another; normalize BOTH to
        # plain TIMESTAMP: nanos read as long and converted in read_table,
        # micros-without-tz read as TIMESTAMP (not TIMESTAMP_NTZ) so
        # unix_millis()/window() keep working under the UTC session tz
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _is_temporal_name(col: str) -> bool:
    """Heuristic naming contract for temporal columns across the testdata
    tables (`ts`, `*_ts`, `*date`, `*_at`, anything containing `time`).
    Checked against every current table schema — no false positives —
    and false-positive-safe by construction for non-matching dtypes:
    normalization only touches matching columns whose dtype is NOT
    already a plain timestamp."""
    n = col.lower()
    return (
        n == "ts"
        or n.endswith("_ts")
        or n.endswith("date")
        or n.endswith("_at")
        or "time" in n
    )


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Parquet scan; keep it bare so Catalyst pushes filters/pruning into it.

    The ingestion contract: every temporal-named column surfaces as plain
    TIMESTAMP (never bigint, never timestamp_ntz, never date/string),
    whatever physical type the driver's testdata ships this round.  The
    physical type has drifted twice already — TIMESTAMP(NANOS) in round 1,
    micros-without-tz in round 2 — so normalization is STRUCTURAL (inspect
    the dtype of every temporal-named column in any table) rather than a
    per-table enumeration a third drift would bypass:

    - ``bigint``       -> epoch nanos (what the nanosAsLong conf surfaces
                          for physical TIMESTAMP(NANOS)); integer `div`
                          1000 to micros — double division would round ns
                          near the microsecond boundary
    - ``timestamp_ntz``-> cast; session tz is pinned UTC so NTZ wall-clock
                          == the stored UTC instant, value-preserving
    - ``date``         -> cast; midnight UTC, matching DuckDB's implicit
                          date->timestamp promotion in epoch_ms()
    - ``string``       -> cast (ISO-8601), nulls on garbage rather than a
                          scan-time error
    - ``timestamp``    -> untouched

    All fixes are cheap projected expressions that don't block predicate
    pushdown on other columns.  tests/test_ingestion_contract.py pins the
    contract with synthetic drift fixtures for every branch.
    """
    from pyspark.sql import functions as F

    for conf, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        # UTC keeps the NTZ->timestamp cast below value-preserving and
        # makes unix_millis/window outputs tz-independent in any session
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:  # the driver may hand us a session built without these confs
            spark.conf.set(conf, val)
        except Exception:
            pass
    df = spark.read.parquet(table_path(sf_dir, name))
    for c, dtype in df.dtypes:
        if not _is_temporal_name(c):
            continue
        if dtype == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtype in ("timestamp_ntz", "date", "string"):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# operator node-name PREFIXES whose presence in the analyzed logical plan
# means the .rdd partition probe would finalize (and thus EXECUTE) upstream
# AQE stages.  Prefixes cover variants: Repartition -> RepartitionByExpression,
# FlatMapGroups -> FlatMapGroupsInPandas(WithState), Intersect/Except -> *All.
_NON_SCAN_OPS = (
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Deduplicate",
    "Distinct",
    "Repartition",
    "GlobalLimit",
    "FlatMapGroups",
    "MapInPandas",
    "Intersect",
    "Except",
    "Expand",
)

# leading tree-drawing characters (`+- `, `:- `, `:  `, `|`) then the node
# class name (optionally '-quoted while unresolved)
_PLAN_NODE_RE = re.compile(r"^[\s:+|-]*'?([A-Za-z]\w*)")


def is_scan_stage(df) -> bool:
    """True iff the plan is a bare scan pipeline (scan/filter/project/etc.)
    whose partition count can be probed without executing anything.

    Matches NODE TOKENS at the head of each analyzed-plan line, not raw
    substrings: a column or alias containing 'Join'/'Sort' in some
    expression text must not false-positive (which would silently skip the
    partition widening this guard gates)."""
    plan = df._jdf.queryExecution().analyzed().toString()
    for line in plan.splitlines():
        m = _PLAN_NODE_RE.match(line)
        if m and any(m.group(1).startswith(op) for op in _NON_SCAN_OPS):
            return False
    return True


def ensure_min_partitions(df, min_parts: int | None = None):
    """Widen tiny scans so per-row-heavy projections parallelize.

    Small single-row-group parquet files arrive as ONE input partition;
    any expensive projection over them (minhash, shingle hashing, vector
    math) then runs on one core.  Repartition only when the plan is
    narrower than the session's parallelism — on a real cluster a 100 TB
    scan already has thousands of splits and this is a no-op (no shuffle
    is added).

    Guarded: on a plan that already contains a shuffle/exchange-producing
    operator the ``.rdd`` partition probe would finalize AQE and
    MATERIALIZE the upstream stages — executing the query once just to
    count partitions — so such plans are returned unchanged (they already
    have shuffle-partitions-many partitions downstream anyway).
    """
    if not is_scan_stage(df):
        return df
    if min_parts is None:
        min_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df
