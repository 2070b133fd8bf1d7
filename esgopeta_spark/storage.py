"""Batch quad store semantics: TTL retention and future-state holdback.

Reference: gun/storage.go —

- ``Get``/``Put`` point ops live on GunGraph (graph.py)
- **TTL purge** (gun/storage.go:50-77): a ticker deletes values whose
  state is older than ``oldestAllowed`` (default 7h, gun/gun.go:84-85).
  In batch that is a retention *predicate* applied at compaction time —
  a partition-prunable filter, not a background thread.
- **Deferred future writes** (gun/storage.go:107-117): a put whose state
  is ahead of the local clock is re-attempted later, never dropped.  The
  batch contract is an explicit ``as_of`` clock: ``QuadStore.merge`` is
  ``ham.ham_apply_updates`` at the store's clock (the one deferral split,
  ``ham.split_deferred``); the deferred remainder rides along until
  ``advance_to`` passes its state.
- **Tracking policy** (gun/gun.go:59-78): store-everything /
  store-requested (only keys already present) / store-nothing, applied
  to *observed* wire traffic.  ``TrackingRequested`` is a semi-join
  against existing keys; ``TrackingNothing`` drops; ``TrackingEverything``
  passes through.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esgopeta_spark.ham import ham_apply_updates

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


@dataclass
class QuadStore:
    """A snapshot + pending-deferred pair with an explicit clock.

    ``merge(updates)`` applies everything eligible at the current clock;
    ``advance_to(ms)`` moves the clock and re-attempts deferred rows —
    the batch re-expression of the reference's scheduled retry
    (gun/storage.go:109: retry at ``state - now + 100ms``).
    """

    quads: DataFrame
    deferred: DataFrame
    now_ms: float

    @classmethod
    def create(cls, quads: DataFrame, now_ms: float) -> "QuadStore":
        return cls(quads=quads, deferred=quads.limit(0), now_ms=now_ms)

    def merge(self, updates: DataFrame) -> "QuadStore":
        pool = self.deferred.unionByName(updates.select(*self.deferred.columns))
        res = ham_apply_updates(self.quads, pool, as_of_ms=self.now_ms)
        return QuadStore(quads=res.quads, deferred=res.deferred, now_ms=self.now_ms)

    def advance_to(self, now_ms: float) -> "QuadStore":
        s = QuadStore(quads=self.quads, deferred=self.deferred, now_ms=float(now_ms))
        return s.merge(s.deferred.limit(0))

    def expire(self, ttl_ms: float = DEFAULT_TTL_MS) -> "QuadStore":
        return QuadStore(
            quads=purge_expired(self.quads, self.now_ms, ttl_ms),
            deferred=self.deferred,
            now_ms=self.now_ms,
        )
