"""Sources & sinks (SURVEY.md §2 E1): the quads store.

The reference keeps everything in one in-memory map behind one
``Storage`` type (gun/storage.go).  Our durable layout is parquet with
an explicit 100 TB posture, and this module is its one owner: the
manifest format, the commit naming and the commit protocol live here
and nowhere else.

- ``write_buckets`` is the one commit write: rows tagged by ``bucketed``
  with ``soul_bucket = crc32(soul) % n_buckets`` and hash-partitioned on
  it go out in one ``partitionBy`` job, one directory (and one file) per
  bucket.  The layout buys (a) point probes that read one bucket,
  (b) upserts that rewrite only the buckets a batch touches, and (c) a
  HAM merge that groups by the bucket too, so it reuses the commit's one
  exchange.  It does not co-locate joins: ``read_quads`` reads plain
  leaf directories with no bucketing spec, so a traversal join on soul
  shuffles like any other.  The same job writes a commit's
  deferred-update pending set, unmerged, into the ``soul_bucket=-1``
  directory, a value no bucket takes.
- ``commit`` is the one commit protocol, and both writers use it:
  ``write_quads`` replaces the whole snapshot (no inherited bucket, no
  pending set), and ``streaming.upsert.ham_upsert_batch`` rewrites the
  buckets a batch touches over the ones it inherits, plus the new
  pending set.
- **Snapshot handle.**  ``StoreSnapshot`` is a resolved manifest: commit
  ``seq``, live bucket directories and the pending set.  A frame
  returned by ``read_quads(spark, path)`` carries the one it resolved
  (``_store_snapshot`` on that exact object; derived frames have none).
  ``StoreSnapshot.rows`` is the point probe ``GunGraph`` runs instead of
  a Spark job.  Each snapshot decodes a bucket once, on its first probe:
  it reads the bucket's live files on the driver with pyarrow, sorts the
  rows by soul and keeps the table, so every later probe of that bucket
  is a binary search with no file read (the reference's one map probe,
  gun/storage.go).  The kept tables total at most ``PROBE_CACHE_BYTES``,
  least recently used bucket evicted first; the cache belongs to the
  snapshot object, so a path that is rewritten never serves stale rows.
  ``soul_bucket`` is the same bucket hash on the driver (Spark and
  ``zlib`` both ship CRC-32), so finding the bucket costs no Spark job
  either.
- ``compaction_plan`` plans small-file compaction over a file listing.

**Atomic commits.**  The store is a SNAPSHOT-MANIFEST layout (Iceberg's
core idea, sized down): data files live in immutable
``commits/c<seq>/`` directories; ``_quads_meta.json`` is the single
source of truth mapping each bucket (and the deferred-update pending
set) to the commit that last wrote it.  A path without it is not a
store: readers raise ``FileNotFoundError``.  The manifest names its
bucket hash (``bucket_hash``), and ``StoreSnapshot.open`` raises
``ValueError`` for any other layout: probing it with this hash would
answer "absent" for souls stored in another bucket.  ``commit`` stages
a whole commit directory first and then publishes with one atomic
manifest rename (``os.replace`` — swap for a conditional PUT on an object
store), so a crash at ANY point leaves readers on the previous
consistent snapshot: bucket data and the pending set can never be
observed half-updated.  Readers resolve live bucket directories through
the manifest, which also makes point-read pruning a direct path lookup
instead of a partition filter.
"""

from __future__ import annotations

import bisect
import contextlib
import json
import operator
import os
import shutil
import tempfile
import threading
import zlib
from collections import OrderedDict
from dataclasses import dataclass, field as dc_field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esgopeta_spark.ham import empty_quads
from esgopeta_spark.types import QUAD_SCHEMA

DEFAULT_BUCKETS = 64
MANIFEST = "_quads_meta.json"
BUCKET_HASH = "crc32"  # the manifest's layout marker: how souls map to buckets
PENDING_BUCKET = -1  # the partition value of a commit's pending set
PROBE_CACHE_BYTES = 64 << 20  # decoded bucket bytes one StoreSnapshot keeps
_COLUMNS = [f.name for f in QUAD_SCHEMA.fields]
_as_py = operator.methodcaller("as_py")


def _bucket_expr(n_buckets: int):
    return F.pmod(F.crc32(F.col("soul").cast("binary")), F.lit(n_buckets)).alias("soul_bucket")


def soul_bucket(soul: str, n_buckets: int) -> int:
    """The bucket ``_bucket_expr`` assigns ``soul``, on the driver and
    without a Spark job: both take the CRC-32 of its UTF-8 bytes.  Parity
    is pinned by tests/test_sources.py."""
    return zlib.crc32(soul.encode("utf-8")) % n_buckets


def new_manifest(n_buckets: int, seq: int, buckets: dict, pending: str | None = None) -> dict:
    """A manifest of this layout, which names its bucket hash and count."""
    return {"bucket_hash": BUCKET_HASH, "n_buckets": n_buckets, "seq": seq, "buckets": buckets, "pending": pending}


@dataclass(frozen=True)
class StoreSnapshot:
    """One resolved manifest: the commit ``seq`` that published it, where
    each bucket of the snapshot lives, and its deferred-update pending
    set."""

    path: str
    n_buckets: int
    seq: int
    buckets: dict  # bucket id (str) -> live directory relative to ``path``
    pending: str | None  # pending set directory relative to ``path``, or None
    # bucket id -> its decoded rows sorted by soul, least recently used
    # first; it lives and dies with this object, never keyed by path,
    # because a path can be removed and rewritten under the same names
    _decoded: OrderedDict = dc_field(default_factory=OrderedDict, init=False, repr=False, compare=False)
    _lock: threading.Lock = dc_field(default_factory=threading.Lock, init=False, repr=False, compare=False)

    @classmethod
    def open(cls, path: str) -> StoreSnapshot | None:
        """The snapshot the store at ``path`` publishes now, or None when
        the path has no manifest.  Raises ``ValueError`` when the manifest
        is not of this bucket layout."""
        m = load_manifest(path)
        if m is None:
            return None
        if m.get("bucket_hash") != BUCKET_HASH:
            found = m.get("bucket_hash")
            raise ValueError(f"quads store {path}: bucket layout {found!r} is not {BUCKET_HASH!r} ({MANIFEST})")
        return cls(path, m["n_buckets"], m["seq"], m["buckets"], m["pending"])

    def bucket_paths(self, buckets=None) -> list[str]:
        """Absolute live bucket directories, optionally restricted to a
        bucket subset (the buckets an upsert reads back)."""
        return [
            os.path.join(self.path, rel)
            for b, rel in sorted(self.buckets.items(), key=lambda kv: int(kv[0]))
            if buckets is None or int(b) in buckets
        ]

    def pending_quads(self, spark: SparkSession) -> DataFrame | None:
        """The deferred-update carry set, or None when nothing is
        deferred.  A failure reading it propagates: swallowing it would
        silently drop deferred updates."""
        if not self.pending:
            return None
        return spark.read.schema(QUAD_SCHEMA).parquet(os.path.join(self.path, self.pending))

    def rows(self, soul: str, field: str | None = None) -> list[dict]:
        """The snapshot's quad rows of ``soul`` (and ``field``): a binary
        search of the soul's bucket, decoded and sorted by soul on its
        first probe in this snapshot — no Spark job, and after that first
        probe no file read.  Only the matching rows become dicts.  A
        bucket the manifest does not list holds no rows."""
        bucket = str(soul_bucket(soul, self.n_buckets))
        if bucket not in self.buckets:
            return []
        table = self._sorted_bucket(bucket)
        souls, fields, cols = table.column("soul"), table.column("field"), table.columns
        # Arrow sorts strings by their UTF-8 bytes, which is Python's code
        # point order (QUAD_SCHEMA's soul holds no null)
        lo = bisect.bisect_left(souls, soul, key=_as_py)
        hi = bisect.bisect_right(souls, soul, lo, key=_as_py)
        return [
            {name: col[i].as_py() for name, col in zip(_COLUMNS, cols)}
            for i in range(lo, hi)
            if field is None or fields[i].as_py() == field
        ]

    def _sorted_bucket(self, bucket: str) -> pa.Table:
        """``bucket``'s live rows sorted by soul, in one chunk: decoded on
        first use, then kept, least recently used evicted first, while the
        kept tables total at most ``PROBE_CACHE_BYTES``."""
        with self._lock:
            table = self._decoded.get(bucket)
            if table is not None:
                self._decoded.move_to_end(bucket)
                return table
            # one ParquetFile read per data file: half the cost of a
            # pq.read_table of the directory, which builds a dataset
            bucket_dir, parts = os.path.join(self.path, self.buckets[bucket]), []
            for name in sorted(os.listdir(bucket_dir)):
                if not name.startswith((".", "_")):  # checksum and marker files
                    with pq.ParquetFile(os.path.join(bucket_dir, name)) as f:
                        parts.append(f.read(columns=_COLUMNS))
            table = self._decoded[bucket] = pa.concat_tables(parts).sort_by("soul").combine_chunks()
            kept = sum(t.nbytes for t in self._decoded.values())
            while kept > PROBE_CACHE_BYTES:
                kept -= self._decoded.popitem(last=False)[1].nbytes
            return table

    @property
    def cached_bytes(self) -> int:
        """Arrow bytes of the buckets this snapshot keeps decoded."""
        with self._lock:
            return sum(t.nbytes for t in self._decoded.values())


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
    conditional PUT (if-match on the previous manifest etag).  Each call
    writes its own temp file, so two writers in flight never rename each
    other's half-written JSON into place; a failed publish removes it."""
    fd, tmp = tempfile.mkstemp(prefix=MANIFEST + ".", suffix=".tmp", dir=path)
    try:
        with open(fd, "w") as f:
            os.fchmod(fd, 0o644)  # mkstemp's 0600 would hide the manifest from other readers
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(path, MANIFEST))
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def gc_unreferenced_commits(path: str, manifest: dict) -> None:
    """Best-effort removal of the commit dirs ``manifest`` no longer
    references, run right after each publish.

    Known defect: this deletes files that an open snapshot still reads.
    A ``GunGraph`` or frame over ``read_quads`` of the previous snapshot
    fails with a missing-file error after the next commit: its bulk reads
    and its point probes of buckets it has not decoded yet (the buckets
    it already decoded keep answering).  Keeping the last snapshots, or
    those younger than a retention window, would fix it; that is not
    done yet."""
    live = {c.split("/")[1] for c in manifest["buckets"].values()}
    if manifest.get("pending"):
        live.add(manifest["pending"].split("/")[1])
    commits_dir = os.path.join(path, "commits")
    if not os.path.isdir(commits_dir):
        return
    for d in os.listdir(commits_dir):
        if d not in live:
            shutil.rmtree(os.path.join(commits_dir, d), ignore_errors=True)


def bucket_ids(df: DataFrame, n_buckets: int) -> list[int]:
    """The buckets the souls of ``df`` hash to (a distinct: under AQE,
    one shuffle-map job and one result job)."""
    return [r["soul_bucket"] for r in df.select(_bucket_expr(n_buckets)).distinct().collect()]


def bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    """``df`` tagged with its ``soul_bucket`` and hash-partitioned on it:
    the commit's one exchange.  No partition count — AQE coalesces the
    shuffle, and each bucket still lands in one task, so in one file."""
    return df.withColumn("soul_bucket", _bucket_expr(n_buckets)).repartition("soul_bucket")


def write_buckets(
    tagged: DataFrame, path: str, commit_rel: str, pending: DataFrame | None = None
) -> tuple[dict[str, str], str | None]:
    """Stage a commit into ``<path>/<commit_rel>/data`` with ONE
    ``partitionBy`` write job: the quad rows of ``tagged`` (a ``bucketed``
    frame) into one directory per soul bucket, and the ``pending`` quad
    rows, as they are and in one file, into the ``soul_bucket=-1``
    directory, a value no bucket takes.  Returns the manifest entries:
    bucket -> directory relative to ``path``, and the pending directory
    (None when no row was pending)."""
    data_rel = f"{commit_rel}/data"
    data_dir = os.path.join(path, data_rel)
    if pending is not None:
        tag = F.lit(PENDING_BUCKET).cast("bigint").alias("soul_bucket")
        tagged = tagged.unionByName(pending.select(*_COLUMNS, tag).coalesce(1))
    tagged.write.mode("overwrite").partitionBy("soul_bucket").parquet(data_dir)
    entries = {
        d.split("=", 1)[1]: f"{data_rel}/{d}" for d in os.listdir(data_dir) if d.startswith("soul_bucket=")
    }
    pending_rel = entries.pop(str(PENDING_BUCKET), None)
    return entries, pending_rel


def commit(
    path: str,
    base: StoreSnapshot | None,
    n_buckets: int,
    tagged: DataFrame,
    inherited: dict[str, str],
    pending: DataFrame | None = None,
) -> None:
    """The one commit protocol: stage ``tagged`` (a ``bucketed`` frame)
    and the ``pending`` rows into a fresh ``commits/c<seq>`` directory,
    ``seq`` one past ``base``'s (0 for a new store), then publish a
    manifest listing the written buckets over the ``inherited`` ones,
    then remove the commit dirs it no longer references.  Nothing a
    reader resolves changes before the publish."""
    seq = base.seq + 1 if base is not None else 0
    written, pending_rel = write_buckets(tagged, path, f"commits/c{seq:06d}", pending)
    manifest = new_manifest(n_buckets, seq, {**inherited, **written}, pending_rel)
    publish_manifest(path, manifest)
    gc_unreferenced_commits(path, manifest)


def write_quads(quads: DataFrame, path: str, n_buckets: int = DEFAULT_BUCKETS) -> None:
    """Replace the store at ``path`` (creating it if absent) with the
    snapshot ``quads``: a commit that inherits no bucket and carries no
    pending set."""
    commit(path, StoreSnapshot.open(path), n_buckets, bucketed(quads, n_buckets), {})


def read_quads(spark: SparkSession, path: str) -> DataFrame:
    """The store's current snapshot, carrying its ``StoreSnapshot`` as
    ``_store_snapshot``."""
    snap = StoreSnapshot.open(path)
    if snap is None:
        raise FileNotFoundError(f"no quads store at {path}: {MANIFEST} is missing")
    paths = snap.bucket_paths()
    df = spark.read.parquet(*paths).select(_COLUMNS) if paths else empty_quads(spark)
    df._store_snapshot = snap
    return df


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
    marks them ``already_compact = 1``.  Both windows run over
    rows-about-files, so they cost little at any table size."""
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
