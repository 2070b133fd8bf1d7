"""Sources & sinks (SURVEY.md §2 E1): the quads store.

The reference keeps everything in one in-memory map behind one
``Storage`` type (gun/storage.go).  Our durable layout is parquet with
an explicit 100 TB posture, and this module is its one owner: the
manifest format, the commit naming and the commit protocol live here
and nowhere else.

- ``write_buckets`` is the one commit write: rows tagged by ``bucketed``
  with ``soul_bucket = crc32(soul) % n_buckets`` and hash-partitioned on
  it go out in one ``partitionBy`` job, one directory (and one file,
  sorted by soul and field) per bucket.  The layout buys (a) point
  probes that read one bucket,
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
  it reads the bucket's live files on the driver with pyarrow, checks
  that the rows are in soul order (they are, as written; a bucket that
  is not is sorted) and keeps them as Python lists: the distinct souls,
  where each soul's rows end, and one list per other quad column.  Every
  later probe of that bucket is a ``bisect`` of the soul list and a dict
  per matching row, with no file read and no Arrow call (the
  reference's one map probe, gun/storage.go).  The kept lists total
  at most ``PROBE_CACHE_BYTES``, counted as Python object bytes, least
  recently used bucket evicted first; the cache belongs to the snapshot
  object, so a path that is rewritten never serves stale rows.
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
import os
import shutil
import sys
import tempfile
import threading
import zlib
from collections import OrderedDict
from dataclasses import dataclass, field as dc_field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esgopeta_spark.ham import empty_quads
from esgopeta_spark.types import QUAD_SCHEMA

DEFAULT_BUCKETS = 64
MANIFEST = "_quads_meta.json"
BUCKET_HASH = "crc32"  # the manifest's layout marker: how souls map to buckets
PENDING_BUCKET = -1  # the partition value of a commit's pending set
PROBE_CACHE_BYTES = 64 << 20  # Python bytes of the decoded buckets one StoreSnapshot keeps
_COLUMNS = [f.name for f in QUAD_SCHEMA.fields]
_SHARED = ["field", "value_type"]  # few distinct values: read as dictionaries, one str per value
# the sizes of an empty list, str, float and int: the fixed part of each object
_LIST_BYTES, _STR_BYTES, _FLOAT_BYTES, _INT_BYTES = map(sys.getsizeof, ([], "", 0.0, 1 << 10))


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
    # bucket id -> (its lists, see _sorted_bucket, and their bytes), least
    # recently used first; it lives and dies with this object, never
    # keyed by path, because a path can be removed and rewritten under
    # the same names
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
        search of the soul's bucket, decoded into Python lists on its
        first probe in this snapshot — no Spark job, and after that first
        probe no file read and no Arrow call.  Only the matching rows
        become dicts.  A bucket the manifest does not list holds no
        rows."""
        bucket = str(soul_bucket(soul, self.n_buckets))
        if bucket not in self.buckets:
            return []
        souls, ends, columns = self._sorted_bucket(bucket)
        k = bisect.bisect_left(souls, soul)
        if k == len(souls) or souls[k] != soul:
            return []
        fields = columns["field"]
        return [
            {"soul": soul, **{name: values[i] for name, values in columns.items()}}
            for i in range(ends[k - 1] if k else 0, ends[k])
            if field is None or fields[i] == field
        ]

    def _sorted_bucket(self, bucket: str) -> tuple[list, list, dict[str, list]]:
        """``bucket``'s live rows sorted by soul, as Python lists: its
        distinct souls, the row each soul's run ends before, and one list
        per other quad column.  Decoded on first use, then kept, least
        recently used evicted first, while the kept lists total at most
        ``PROBE_CACHE_BYTES``.  ``write_buckets`` writes each bucket's one
        file in soul order, so decoding only checks the order; a bucket
        that is not in order (several files, or a store written before
        the files were sorted) is sorted here."""
        with self._lock:
            kept = self._decoded.get(bucket)
            if kept is not None:
                self._decoded.move_to_end(bucket)
                return kept[0]
            # one ParquetFile read per data file: half the cost of a
            # pq.read_table of the directory, which builds a dataset
            bucket_dir, parts = os.path.join(self.path, self.buckets[bucket]), []
            for name in sorted(os.listdir(bucket_dir)):
                if not name.startswith((".", "_")):  # checksum and marker files
                    with pq.ParquetFile(os.path.join(bucket_dir, name), read_dictionary=_SHARED) as f:
                        parts.append(f.read(columns=_COLUMNS, use_threads=False))
            table = pa.concat_tables(parts)
            # Arrow compares strings by their UTF-8 bytes, which is Python's
            # code point order (QUAD_SCHEMA's soul holds no null)
            souls = table.column("soul")
            if pc.any(pc.less(souls[1:], souls[:-1])).as_py():
                table = table.sort_by("soul")
            runs = pc.run_end_encode(table.column("soul").combine_chunks())
            arrays = {name: table.column(name) for name in _COLUMNS if name != "soul"}
            kept = _pylist(runs.values), _pylist(runs.run_ends), {n: _pylist(a) for n, a in arrays.items()}
            self._decoded[bucket] = kept, _kept_bytes(runs.values, runs.run_ends, *arrays.values())
            total = sum(n for _, n in self._decoded.values())
            while total > PROBE_CACHE_BYTES:
                total -= self._decoded.popitem(last=False)[1][1]
            return kept

    @property
    def cached_bytes(self) -> int:
        """Bytes of the Python lists this snapshot keeps decoded, as
        ``_kept_bytes`` counts them."""
        with self._lock:
            return sum(n for _, n in self._decoded.values())


def _pylist(array: pa.Array | pa.ChunkedArray) -> list:
    """``array`` as a Python list, through numpy: many times faster than
    ``to_pylist``, which builds one Arrow scalar per cell.  A dictionary
    column (``_SHARED``, no nulls) makes one str per distinct value and
    shares it; numpy turns a null double into NaN, so only the valid
    cells are made floats and the others are None."""
    if pa.types.is_dictionary(array.type):
        values = []
        for chunk in array.chunks:
            values += chunk.dictionary.to_numpy(zero_copy_only=False)[chunk.indices.to_numpy()].tolist()
        return values
    values = array.to_numpy(zero_copy_only=False)
    if array.null_count and pa.types.is_floating(array.type):
        valid, numbers = array.is_valid().to_numpy(zero_copy_only=False), values
        values = np.full(len(array), None, dtype=object)
        values[valid] = numbers[valid]
    return values.tolist()


def _kept_bytes(*arrays: pa.Array | pa.ChunkedArray) -> int:
    """The Python bytes of the lists ``_pylist`` makes of ``arrays``,
    counted from the Arrow arrays without a pass over the cells: each
    list's pointer array; per non-null cell an int or a float object;
    and per non-null string (per dictionary value, in a ``_SHARED``
    column) an empty str's size, plus the Arrow bytes of the strings
    (their UTF-8 text and offsets).  True, False and None are shared
    objects and count nothing.  On the seed store's buckets this reads
    about 9 % above what tracemalloc sees."""
    total = 0
    for array in arrays:
        cells = len(array) - array.null_count
        total += _LIST_BYTES + 8 * len(array)
        if pa.types.is_dictionary(array.type):
            total += sum(len(c.dictionary) * _STR_BYTES + c.dictionary.nbytes for c in array.chunks)
        elif pa.types.is_string(array.type):
            total += cells * _STR_BYTES + array.nbytes
        elif pa.types.is_floating(array.type):
            total += cells * _FLOAT_BYTES
        elif pa.types.is_integer(array.type):
            total += cells * _INT_BYTES
    return total


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
    frame) into one directory per soul bucket, each bucket's one file
    sorted by (soul, field) so a point probe decodes it without sorting,
    and the ``pending`` quad rows, unmerged and in one file, into the
    ``soul_bucket=-1`` directory, a value no bucket takes.  The sort runs
    inside the write's tasks: no exchange, and the write adds no sort of
    its own.  Returns the manifest entries:
    bucket -> directory relative to ``path``, and the pending directory
    (None when no row was pending)."""
    data_rel = f"{commit_rel}/data"
    data_dir = os.path.join(path, data_rel)
    if pending is not None:
        tag = F.lit(PENDING_BUCKET).cast("bigint").alias("soul_bucket")
        tagged = tagged.unionByName(pending.select(*_COLUMNS, tag).coalesce(1))
    # sorted within each task, and soul_bucket first, so the planned
    # write's own sort on the partition column is already satisfied
    tagged = tagged.sortWithinPartitions("soul_bucket", "soul", "field")
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
