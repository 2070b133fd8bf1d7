"""Streaming write path: B1's "foreachBatch: HAM-merge upsert into the
quads table" (SURVEY.md §3.3 Spark mapping; reference put flow
gun/scoped_put.go:50-185 + storage merge gun/storage.go:91-122).

Each micro-batch of update messages is merged into the bucketed quads
store (sources/io.py layout) with these scale properties:

- **bucket-local rewrite**: only the bucket directories touched by the
  batch are read and replaced, through ``sources.io.write_buckets``; the
  other ``n_buckets - 1`` directories are never scanned.  At 100 TB a
  micro-batch touches a bounded set of buckets, so upsert cost tracks
  batch size, not store size.
- **atomic snapshot commit** (sources/io.py layout): merged buckets AND
  the new pending set are staged into an immutable ``commits/c<seq>/``
  directory, then published with ONE atomic manifest swap.  A crash at
  any point — including between the bucket write and the pending write
  — leaves readers on the previous consistent snapshot; deferred rows
  can never replay against a half-new store.  The commit dir is new, so
  the plan never overwrites what it reads.
- **idempotent by construction**: HAM merge is associative, commutative
  and idempotent, so foreachBatch's at-least-once replay converges to
  the same store (no dedup bookkeeping; the reference needs
  ``storedPuts`` for this, gun/message.go:26-34 — idempotence makes it
  unnecessary, SURVEY.md §4.1).
- **future-state deferral** (gun/storage.go:107-117): the batch and the
  carried pending set are split once by ``ham.split_deferred``; rows
  whose state is ahead of the batch's ``as_of`` clock form the new
  pending set, published in the same manifest commit and re-offered to
  every later batch until their time arrives — the batch re-expression
  of the reference's scheduled retry.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from esgopeta_spark.ham import empty_quads, ham_merge, split_deferred
from esgopeta_spark.sources.io import (
    DEFAULT_BUCKETS,
    bucket_ids,
    gc_unreferenced_commits,
    live_bucket_paths,
    load_manifest,
    publish_manifest,
    write_buckets,
)
from esgopeta_spark.types import QUAD_SCHEMA

_QUAD_COLS = [f.name for f in QUAD_SCHEMA.fields]


def _pending_of(spark: SparkSession, store_path: str, manifest: dict | None) -> DataFrame | None:
    """The deferred-update carry set ``manifest`` names, or None.  A
    failure reading it propagates: swallowing it would silently drop
    deferred updates."""
    if manifest is None or not manifest["pending"]:
        return None
    return spark.read.schema(QUAD_SCHEMA).parquet(os.path.join(store_path, manifest["pending"]))


def read_pending(spark: SparkSession, store_path: str) -> DataFrame:
    """The store's current deferred-update carry set (empty frame when
    the store has none), resolved through the manifest snapshot."""
    manifest = load_manifest(store_path)
    if manifest is None:
        raise FileNotFoundError(f"no quads store at {store_path}: its manifest is missing")
    pending = _pending_of(spark, store_path, manifest)
    return pending if pending is not None else empty_quads(spark)


def ham_upsert_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    as_of_ms: float | None = None,
) -> None:
    """Merge one batch of updates (UPDATE_SCHEMA or quad-shaped rows)
    into the bucketed quads store at ``store_path``, creating the store
    if the path has none.  Callable directly (batch put) or from
    foreachBatch (streaming put).  Stage-then-publish: nothing under the
    live manifest changes until the final atomic swap."""
    manifest = load_manifest(store_path)
    if manifest is not None:
        # the modulus is part of the layout; an argument mismatch would
        # scatter souls across inconsistent buckets
        n_buckets = manifest["n_buckets"]
    if as_of_ms is None:
        as_of_ms = time.time() * 1000.0
    incoming = batch.select(*_QUAD_COLS)
    # no empty frame for a missing pending set: a local empty frame would
    # start Python workers in a job that otherwise runs none
    pending = _pending_of(spark, store_path, manifest)
    if pending is not None:
        incoming = incoming.unionByName(pending)
    eligible, deferred = split_deferred(incoming, as_of_ms)

    seq = manifest["seq"] + 1 if manifest is not None else 0
    commit_rel = f"commits/c{seq:06d}"
    buckets = dict(manifest["buckets"]) if manifest is not None else {}
    touched = set(bucket_ids(eligible, n_buckets))
    if touched:
        paths = live_bucket_paths(store_path, manifest, touched) if manifest is not None else []
        candidates = eligible.unionByName(spark.read.schema(QUAD_SCHEMA).parquet(*paths)) if paths else eligible
        # stage into the NEW commit dir — the plan reads old snapshots
        # and writes fresh paths, so no pre-write materialization needed
        buckets.update(write_buckets(ham_merge(candidates), store_path, commit_rel, n_buckets))
    # stage the recomputed pending carry in the same commit
    deferred.write.mode("overwrite").parquet(os.path.join(store_path, commit_rel, "pending"))

    # publish: ONE atomic manifest swap commits buckets + pending together
    new_manifest = {
        "n_buckets": n_buckets,
        "seq": seq,
        "buckets": buckets,
        "pending": f"{commit_rel}/pending",
    }
    publish_manifest(store_path, new_manifest)
    gc_unreferenced_commits(store_path, new_manifest)


def stream_put(
    updates: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    as_of_fn: Callable[[], float] | None = None,
):
    """B1 as a streaming query: update stream -> HAM-merge upsert sink.

    Returns the started StreamingQuery; acks ≡ batch commits to the
    checkpoint (SURVEY.md §3.3 — per-peer acks have no analog under a
    single source of truth).  ``as_of_fn`` pins the deferral clock for
    deterministic tests; default is wall-clock ms, like the reference's
    ``StateNow()``.
    """
    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        ham_upsert_batch(
            batch_df.sparkSession,
            batch_df,
            store_path,
            n_buckets=n_buckets,
            as_of_ms=(as_of_fn() if as_of_fn is not None else None),
        )

    return (
        updates.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
