"""Batch quad store policies: TTL retention and tracking.

Reference: gun/storage.go —

- ``Get`` point ops live on GunGraph (graph.py); the ``Put`` merge into
  the durable store is ``streaming.upsert.ham_upsert_batch``, committed
  through ``sources.io.commit``
- **TTL purge** (gun/storage.go:50-77): a ticker deletes values whose
  state is older than ``oldestAllowed`` (default 7h, gun/gun.go:84-85).
  In batch that is a retention *predicate* applied at compaction time —
  a partition-prunable filter, not a background thread.
- **Deferred future writes** (gun/storage.go:107-117): a put whose state
  is ahead of the local clock is re-attempted later, never dropped.  The
  batch contract is an explicit ``as_of`` clock and one deferral split,
  ``ham.split_deferred``: ``ham_upsert_batch`` publishes the deferred
  rows as the store's pending set and re-offers them to every later
  batch until its clock passes their state.
- **Tracking policy** (gun/gun.go:59-78): store-everything /
  store-requested (only keys already present) / store-nothing, applied
  to *observed* wire traffic.  ``TrackingRequested`` is a semi-join
  against existing keys; ``TrackingNothing`` drops; ``TrackingEverything``
  passes through.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_TTL_MS = 7 * 60 * 60 * 1000  # gun/gun.go:84-85: 7 hours


class Tracking(Enum):
    REQUESTED = "requested"  # default (gun/gun.go:62-66)
    NOTHING = "nothing"
    EVERYTHING = "everything"


def purge_expired(quads: DataFrame, now_ms: float, ttl_ms: float = DEFAULT_TTL_MS) -> DataFrame:
    """Retention filter (gun/storage.go:50-77).  With quads stored
    partitioned by a day/hour derivative of ``state`` this prunes whole
    partitions at scale instead of scanning."""
    return quads.filter(F.col("state") >= F.lit(float(now_ms) - float(ttl_ms)))


def apply_tracking(quads: DataFrame, observed: DataFrame, policy: Tracking) -> DataFrame:
    """Filter *observed* update rows per the tracking policy
    (gun/gun.go:267-286).  REQUESTED = only keys we already store
    (``onlyIfExists=true`` ≡ left-semi join on the key)."""
    if policy is Tracking.NOTHING:
        return observed.limit(0)
    if policy is Tracking.EVERYTHING:
        return observed
    existing_keys = quads.select("soul", "field")
    return observed.join(existing_keys, ["soul", "field"], "left_semi")

