"""Streaming write path: B1's "foreachBatch: HAM-merge upsert into the
quads table" (SURVEY.md §3.3 Spark mapping; reference put flow
gun/scoped_put.go:50-185 + storage merge gun/storage.go:91-122).

Each micro-batch of update messages is merged into the bucketed quads
store (sources/io.py layout) with these scale properties:

- **bucket-local rewrite**: only the bucket directories touched by the
  batch are read and replaced; the other directories are never
  scanned.  At 100 TB a micro-batch touches a bounded set of buckets, so
  upsert cost tracks batch size, not store size.
- **one exchange, one write job**: the candidates (batch, carried
  pending set, touched buckets' live rows) are tagged with their
  ``soul_bucket`` and hash-partitioned on it once (``sources.io.
  bucketed``); ``ham_merge`` groups by ``(soul_bucket, soul, field)``,
  so the aggregate reuses that partitioning.  The merged buckets and the
  new pending set go out in ONE ``partitionBy`` write.  With the
  distinct that finds the touched buckets, a batch runs about five
  Spark jobs.
- **atomic snapshot commit**: this module owns only the merge plan.
  The store's manifest and commit protocol are ``sources.io``'s: the
  batch reads the ``StoreSnapshot`` it merges against and hands the
  merged buckets, the inherited ones and the deferred rows to
  ``sources.io.commit``, which stages them into a fresh commit
  directory and publishes them with ONE atomic manifest swap.  A crash
  at any point leaves readers on the previous consistent snapshot;
  deferred rows can never replay against a half-new store.  The commit
  dir is new, so the plan never overwrites what it reads.
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

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from esgopeta_spark.ham import empty_quads, ham_merge, split_deferred
from esgopeta_spark.sources.io import DEFAULT_BUCKETS, StoreSnapshot, bucket_ids, bucketed, commit
from esgopeta_spark.types import QUAD_SCHEMA

_QUAD_COLS = [f.name for f in QUAD_SCHEMA.fields]


def read_pending(spark: SparkSession, store_path: str) -> DataFrame:
    """The store's current deferred-update carry set (empty frame when
    the store has none), resolved through the manifest snapshot."""
    snap = StoreSnapshot.open(store_path)
    if snap is None:
        raise FileNotFoundError(f"no quads store at {store_path}: its manifest is missing")
    pending = snap.pending_quads(spark)
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
    foreachBatch (streaming put).  Stage-then-publish through
    ``sources.io.commit``: nothing under the live manifest changes until
    the final atomic swap."""
    snap = StoreSnapshot.open(store_path)
    if snap is not None:
        # the modulus is part of the layout; an argument mismatch would
        # scatter souls across inconsistent buckets
        n_buckets = snap.n_buckets
    if as_of_ms is None:
        as_of_ms = time.time() * 1000.0
    incoming = batch.select(*_QUAD_COLS)
    # no empty frame for a missing pending set: a local empty frame would
    # start Python workers in a job that otherwise runs none
    pending = snap.pending_quads(spark) if snap is not None else None
    if pending is not None:
        incoming = incoming.unionByName(pending)
    eligible, deferred = split_deferred(incoming, as_of_ms)

    inherited = snap.buckets if snap is not None else {}
    # a store with no bucket has none to read back, and skips the distinct
    paths = snap.bucket_paths(set(bucket_ids(eligible, n_buckets))) if inherited else []
    candidates = eligible.unionByName(spark.read.schema(QUAD_SCHEMA).parquet(*paths)) if paths else eligible
    # one exchange: hash on soul_bucket, then merge within each bucket;
    # the commit stages the merged buckets and the deferred rows into a
    # NEW commit dir in one write — the plan never overwrites what it reads
    merged = ham_merge(bucketed(candidates, n_buckets), by=("soul_bucket",))
    commit(store_path, snap, n_buckets, merged, inherited, pending=deferred)


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
