"""Sources & sinks (SURVEY.md §2 E1 + the quads persistence contract).

The reference keeps everything in one in-memory map (gun/storage.go).
Our durable layout is parquet with an explicit 100 TB posture:

- ``write_buckets`` is the one bucket write: it hashes rows by
  ``hash(soul) % n_buckets`` into a partition column and writes one
  directory per bucket, so (a) path-traversal joins on soul co-locate by
  partition, (b) point reads prune to one bucket directory, (c) the
  HAM-merge shuffle can be avoided entirely when both sides share the
  bucketing.  ``write_quads`` (whole snapshots) and
  ``streaming.upsert.ham_upsert_batch`` (touched buckets) both stage
  through it.  (Hive-style bucketed tables would use the metastore; a
  plain-directory layout keeps the same join locality via partition
  pruning without one.)
- ``read_quads`` prunes by bucket when a soul is given.  ``soul_bucket``
  is the driver-side twin of the bucket hash (Spark's
  ``pmod(xxhash64(soul), n)`` in pure Python), so the pruning costs no
  Spark job.
- **Snapshot handle.**  A frame returned by ``read_quads(spark, path)``
  carries the manifest it resolved as a ``StoreSnapshot``
  (``_store_snapshot`` on that exact object; derived frames have none).
  ``StoreSnapshot.rows`` reads one bucket's live files on the driver with
  pyarrow and row filters — the point probe ``GunGraph`` runs instead of
  a Spark job.
- ``read_any`` is the generic format front-door (parquet/json/csv).

**Atomic commits.**  The store is a SNAPSHOT-MANIFEST layout (Iceberg's
core idea, sized down): data files live in immutable
``commits/c<seq>/`` directories; ``_quads_meta.json`` is the single
source of truth mapping each bucket (and the deferred-update pending
set) to the commit that last wrote it.  A path without it is not a
store: readers raise ``FileNotFoundError``.  Writers stage a whole
commit directory first and then publish with one atomic manifest rename
(``os.replace`` — swap for a conditional PUT on an object store), so a
crash at ANY point leaves readers on the previous consistent snapshot:
bucket data and the pending set can never be observed half-updated.
Readers resolve live bucket directories through the manifest, which
also makes point-read pruning a direct path lookup instead of a
partition filter.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esgopeta_spark.types import QUAD_SCHEMA

DEFAULT_BUCKETS = 64
MANIFEST = "_quads_meta.json"
_COLUMNS = [f.name for f in QUAD_SCHEMA.fields]


def _bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64("soul"), F.lit(n_buckets)).alias("soul_bucket")


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_SPARK_SEED = 42  # the seed of Spark's xxhash64()


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def soul_bucket(soul: str, n_buckets: int) -> int:
    """The bucket ``_bucket_expr`` assigns ``soul``: XXH64 (seed 42) of its
    UTF-8 bytes, read as a signed long, ``pmod n_buckets`` — the same
    arithmetic as Spark's ``XXH64.hashUnsafeBytes``, on the driver and
    without a Spark job.  Parity is pinned by tests/test_sources.py."""
    data = soul.encode("utf-8")
    n, i = len(data), 0
    if n >= 32:
        v = [(_SPARK_SEED + _P1 + _P2) & _M64, (_SPARK_SEED + _P2) & _M64, _SPARK_SEED, (_SPARK_SEED - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(acc, lane) for acc, lane in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for acc in v:
            h = ((h ^ _round(0, acc)) * _P1 + _P4) & _M64
    else:
        h = (_SPARK_SEED + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, struct.unpack_from("<Q", data, i)[0]), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (struct.unpack_from("<I", data, i)[0] * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for byte in data[i:]:
        h = _rotl(h ^ (byte * _P5 & _M64), 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return (h - (1 << 64) if h >> 63 else h) % n_buckets


@dataclass(frozen=True)
class StoreSnapshot:
    """One resolved manifest: where each bucket of the snapshot lives."""

    path: str
    n_buckets: int
    buckets: dict  # bucket id (str) -> live directory relative to ``path``

    def rows(self, soul: str, field: str | None = None) -> list[dict]:
        """The snapshot's quad rows of ``soul`` (and ``field``), read from
        the one bucket the soul hashes to with pyarrow row filters — no
        Spark job.  A bucket the manifest does not list holds no rows."""
        rel = self.buckets.get(str(soul_bucket(soul, self.n_buckets)))
        if rel is None:
            return []
        filters = [("soul", "==", soul)] + ([] if field is None else [("field", "==", field)])
        return pq.read_table(os.path.join(self.path, rel), columns=_COLUMNS, filters=filters).to_pylist()


def load_manifest(path: str) -> dict | None:
    """The store manifest, or None if the store doesn't exist yet."""
    try:
        with open(os.path.join(path, MANIFEST)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def publish_manifest(path: str, manifest: dict) -> None:
    """Atomically swap the manifest in — the store's only commit point.
    POSIX rename is atomic; an object-store deployment swaps this for a
    conditional PUT (if-match on the previous manifest etag)."""
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, MANIFEST))


def gc_unreferenced_commits(path: str, manifest: dict) -> None:
    """Best-effort removal of commit dirs the manifest no longer
    references.  Safe under a single writer (foreachBatch serializes
    batches); a multi-reader deployment would keep the last K snapshots
    instead so in-flight scans never lose files under them."""
    live = {c.split("/")[1] for c in manifest["buckets"].values()}
    if manifest.get("pending"):
        live.add(manifest["pending"].split("/")[1])
    commits_dir = os.path.join(path, "commits")
    if not os.path.isdir(commits_dir):
        return
    for d in os.listdir(commits_dir):
        if d not in live:
            shutil.rmtree(os.path.join(commits_dir, d), ignore_errors=True)


def live_bucket_paths(path: str, manifest: dict, buckets=None) -> list[str]:
    """Absolute live data directories, optionally restricted to a bucket
    subset (point reads / bucket-local rewrite)."""
    out = []
    for b, rel in sorted(manifest["buckets"].items(), key=lambda kv: int(kv[0])):
        if buckets is None or int(b) in buckets:
            out.append(os.path.join(path, rel))
    return out


def bucket_ids(df: DataFrame, n_buckets: int) -> list[int]:
    """The buckets the souls of ``df`` hash to (one small Spark job)."""
    return [r["soul_bucket"] for r in df.select(_bucket_expr(n_buckets)).distinct().collect()]


def write_buckets(quads: DataFrame, path: str, commit_rel: str, n_buckets: int) -> dict[str, str]:
    """Stage ``quads`` into ``<path>/<commit_rel>/data``, one directory per
    soul bucket (hash -> repartition -> partitionBy write).  Returns the
    written buckets as manifest entries: bucket -> directory relative to
    ``path``."""
    data_rel = f"{commit_rel}/data"
    data_dir = os.path.join(path, data_rel)
    (
        quads.withColumn("soul_bucket", _bucket_expr(n_buckets))
        .repartition("soul_bucket")
        .write.mode("overwrite")
        .partitionBy("soul_bucket")
        .parquet(data_dir)
    )
    return {
        d.split("=", 1)[1]: f"{data_rel}/{d}" for d in os.listdir(data_dir) if d.startswith("soul_bucket=")
    }


def write_quads(quads: DataFrame, path: str, n_buckets: int = DEFAULT_BUCKETS, mode: str = "overwrite") -> None:
    if mode != "overwrite":
        raise ValueError("write_quads commits whole snapshots; mode must be 'overwrite'")
    prev = load_manifest(path)
    seq = prev["seq"] + 1 if prev else 0
    # the bucket count is part of the layout; persist it so readers can't
    # silently prune with the wrong modulus
    manifest = {
        "n_buckets": n_buckets,
        "seq": seq,
        "buckets": write_buckets(quads, path, f"commits/c{seq:06d}", n_buckets),
        "pending": None,
    }
    publish_manifest(path, manifest)
    gc_unreferenced_commits(path, manifest)


def read_quads(spark: SparkSession, path: str, soul: str | None = None) -> DataFrame:
    """The store's snapshot, or the rows of one ``soul``.  A whole-store
    frame carries its ``StoreSnapshot`` as ``_store_snapshot``."""
    manifest = load_manifest(path)
    if manifest is None:
        raise FileNotFoundError(f"no quads store at {path}: {MANIFEST} is missing")
    n_buckets = manifest["n_buckets"]
    # point read: the manifest resolves the soul's bucket to ONE live
    # directory — pruning by path, no partition filter needed
    buckets = None if soul is None else {soul_bucket(soul, n_buckets)}
    paths = live_bucket_paths(path, manifest, buckets)
    if not paths:
        df = spark.createDataFrame([], QUAD_SCHEMA)
    else:
        df = spark.read.parquet(*paths)
        if soul is not None:
            df = df.filter(F.col("soul") == soul)
        df = df.select(_COLUMNS)
    if soul is None:
        df._store_snapshot = StoreSnapshot(path, n_buckets, dict(manifest["buckets"]))
    return df


def read_any(spark: SparkSession, path: str, fmt: str | None = None, schema=None, **options) -> DataFrame:
    """Generic scan front-door; format inferred from the extension when
    not given.  Keep scans bare so pushdown reaches the files."""
    if fmt is None:
        ext = os.path.splitext(path)[1].lstrip(".").lower()
        fmt = {"pq": "parquet"}.get(ext, ext or "parquet")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        options.setdefault("inferSchema", schema is None)
    return reader.options(**options).format(fmt).load(path)


def write_any(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    repartition_by_partition_cols: bool = True,
    **options,
) -> None:
    """Generic sink front-door (parquet/orc/json/csv).

    ``partition_by`` lays out Hive-style partition directories —
    downstream scans filtering on those columns prune whole directories.
    When partitioning, the frame is first repartitioned ON the partition
    columns: without it every task writes a file into every partition
    directory (tasks x partitions small files, the classic sink
    mistake); with it each partition directory gets one file per key
    slice.  Set ``repartition_by_partition_cols=False`` when the frame
    is already clustered (e.g. straight out of a groupBy on the same
    keys).
    """
    if fmt == "csv":
        options.setdefault("header", "true")
    out = df
    if partition_by and repartition_by_partition_cols:
        out = out.repartition(*[F.col(c) for c in partition_by])
    writer = out.write.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


def sniff_format_expr(c):
    """Codegen'd Spark twin of :func:`esgopeta_spark.operators.codecs.
    sniff_format` over a binary column — magic sniff as binary-prefix
    comparisons, no Python UDF in the ingest path.  When-order mirrors the
    python twin's precedence exactly (magics, then ISO-BMFF ftyp, then the
    field-validated bare MPEG frame sync — r7 ADVICE: ordering divergence)
    and is pinned against the python twin case-by-case in
    tests/test_sources.py::test_sniff_format_expr_matches_python_twin.

    Differences from the python twin, both collapsing to kind='other':
    RIFF-non-WAVE reports 'unknown' here vs 'riff-other', and empty
    payloads report 'unknown' vs 'empty'.
    """
    from pyspark.sql import functions as F

    def _byte_int(col, pos):  # 1-based byte of a binary column as int 0-255
        return F.conv(F.hex(col.substr(pos, 1)), 16, 10).cast("int")

    return (
        F.when(c.substr(1, 8) == F.lit(b"\x89PNG\r\n\x1a\n"), "png")
        .when(c.substr(1, 3) == F.lit(b"\xff\xd8\xff"), "jpeg")
        .when((c.substr(1, 6) == F.lit(b"GIF87a")) | (c.substr(1, 6) == F.lit(b"GIF89a")), "gif")
        .when(c.substr(1, 2) == F.lit(b"BM"), "bmp")
        .when(c.substr(1, 2) == F.lit(b"P6"), "ppm")
        .when(c.substr(1, 5) == F.lit(b"%PDF-"), "pdf")
        .when((c.substr(1, 4) == F.lit(b"II*\x00")) | (c.substr(1, 4) == F.lit(b"MM\x00*")), "tiff")
        .when((c.substr(1, 4) == F.lit(b"RIFF")) & (c.substr(9, 4) == F.lit(b"WAVE")), "wav")
        # RIFF-non-WAVE must TERMINATE here like the python twin's
        # 'riff-other' (normalized to unknown): without this arm an AVI
        # whose little-endian size bytes spell 'ftyp' would fall through
        # to the mp4 branch (r8 review)
        .when(c.substr(1, 4) == F.lit(b"RIFF"), "unknown")
        .when(c.substr(1, 3) == F.lit(b"ID3"), "mp3")
        .when((F.length(c) >= 12) & (c.substr(5, 4) == F.lit(b"ftyp")), "mp4")
        # bare MPEG frame sync, validated field-by-field like the python
        # sniff_format twin (r6 ADVICE) — byte→int via hex/conv keeps the
        # nibble checks codegen'd, no UDF: b1 top-3 bits set + version &
        # layer not reserved; b2 bitrate not free/bad + rate not reserved
        .when(
            (c.substr(1, 1) == F.lit(b"\xff"))
            & (_byte_int(c, 2) >= 224)
            & ((_byte_int(c, 2) / 8).cast("int") % 4 != 1)
            & ((_byte_int(c, 2) / 2).cast("int") % 4 != 0)
            & (_byte_int(c, 3) / 16).cast("int").between(1, 14)
            & ((_byte_int(c, 3) / 4).cast("int") % 4 != 3),
            "mp3",
        )
        .otherwise("unknown")
    )


def read_media_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Ingest a directory of raw media files as the MEDIA_SCHEMA-shaped
    relation the multimodal kernels consume, via Spark's ``binaryFile``
    source — the standard way media corpora enter a lakehouse (one row
    per file: path, length, modification time, content).

    media_id is the xxhash64 of the file path: stable across re-reads,
    independent of listing order, and collision-safe at corpus scale
    far beyond file counts.  ``kind`` is sniffed from the payload magic
    (image/audio/video/other), so the frame works on mixed directories.
    Column pruning applies: a query that never touches ``payload`` reads
    file metadata only (binaryFile skips content IO for unprojected
    content columns).
    """
    from pyspark.sql import functions as F

    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    raw = reader.load(path)
    fmt = sniff_format_expr(F.col("content"))
    kind = (
        F.when(fmt.isin("bmp", "ppm", "png", "jpeg", "gif", "tiff"), F.lit("image"))
        .when(fmt.isin("wav", "mp3"), F.lit("audio"))
        .when(fmt == "mp4", F.lit("video"))
        .otherwise(F.lit("other"))
    )
    return raw.select(
        F.xxhash64(F.col("path")).alias("media_id"),
        kind.alias("kind"),
        F.col("content").alias("payload"),
        # the exact MEDIA_SCHEMA meta struct the downstream kernels read
        # (resize_media decode path, frame_sample_plan meta.duration_ms):
        # dims/rates are unknown at ingest — decode_media fills them —
        # but the struct SHAPE must match or those kernels fail
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("duration_ms"),
            fmt.alias("format"),
        ).alias("meta"),
        F.col("path").alias("source_path"),
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a Hive-bucketed managed table: co-partitioned by
    ``bucket_col`` into ``n_buckets`` files per partition (optionally
    sorted within buckets).  Two tables bucketed the same way JOIN WITH
    NO EXCHANGE on the bucket key — the single biggest shuffle
    eliminator for a repeatedly-joined 100 TB fact/dim pair (the shuffle
    is paid ONCE at write time, then every downstream join is co-located;
    pinned by tests/test_sources.py::test_bucketed_join_has_no_exchange).

    Uses ``saveAsTable`` (bucket metadata lives in the session catalog /
    metastore — plain parquet paths cannot carry it); on a real cluster
    the warehouse dir + metastore make this durable across sessions.
    """
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def compaction_plan(
    files: DataFrame,
    part_col: str = "part",
    id_col: str = "file_id",
    bytes_col: str = "bytes",
    target_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Small-file COMPACTION planning — the table-maintenance op every
    100 TB lakehouse runs nightly (a day of streaming commits leaves
    thousands of KB-scale files per partition; scans then pay per-file
    open cost): within each partition, files are taken in deterministic
    id order and packed greedily by cumulative size —

        merge_group = (running_sum_before_this_file) div target

    — a pure-window quotient pack: every group lands within one file of
    ``target_bytes`` (a file straddling a boundary joins the earlier
    group), no per-group sequential state, so the plan itself is one
    window over the manifest, not a driver loop.  Emits one row per
    input file with its (partition, merge_group) assignment plus the
    group's total bytes and file count — the work order a compactor
    executes.  Single-file groups whose file already exceeds the target
    are left alone by the executor (they're already compact); the plan
    marks them ``already_compact = 1``.

    Scale shape: manifests are rows-about-files (millions of rows for
    billions of data rows), so the two windows here — the running sum
    and the per-group rollup — cost nothing at any table size; both key
    on the partition column the manifest is naturally clustered by."""
    w = Window.partitionBy(part_col).orderBy(F.col(id_col).asc())
    before = F.coalesce(
        F.sum(bytes_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    planned = files.select(
        F.col(part_col),
        F.col(id_col),
        F.col(bytes_col).cast("bigint").alias(bytes_col),
        before.cast("bigint").alias("_before"),
    ).select(
        F.col(part_col),
        F.col(id_col),
        F.col(bytes_col),
        # pure-integer quotient (house discipline: no float `/` crosses
        # an oracle boundary — a double rounds cumulative bytes past
        # 2^53 and can mis-assign a group vs DuckDB's exact `//`).
        # _before >= 0, so DIV truncation == floor == the oracle.
        F.expr(f"_before DIV {int(target_bytes)}").cast("bigint")
        .alias("merge_group"),
    )
    gw = Window.partitionBy(part_col, "merge_group")
    return planned.select(
        part_col,
        id_col,
        bytes_col,
        "merge_group",
        F.sum(bytes_col).over(gw).cast("bigint").alias("group_bytes"),
        F.count("*").over(gw).cast("bigint").alias("group_files"),
        (
            (F.count("*").over(gw) == 1)
            & (F.col(bytes_col) >= F.lit(int(target_bytes)))
        ).cast("int").alias("already_compact"),
    )
