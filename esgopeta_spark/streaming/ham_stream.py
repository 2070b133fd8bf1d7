"""Streaming HAM merge: the reference's live-subscription core loop
(gun/scoped_fetch.go:112-217) as a keyed stateful operator.

Keyed by (soul, field) — the reference's storage key.  State holds the
current winner (value + state + tiebreak json).  Each micro-batch:

1. drop updates that lose to the held winner under the HAM total order
   ``(state, value_json)`` (OlderHistorical / SameKeep);
2. hold back updates whose state is ahead of the system clock
   (TooFutureDeferred, gun/storage.go:107-117) in a pending list; a
   processing-time timeout re-attempts them once the clock passes —
   the streaming analog of the reference's scheduled retry;
3. emit a row only when the winner changes (IsImmediateUpdate
   transitions), exactly the reference's emit-if-winning filter.

``applyInPandasWithState`` is the right primitive: Arrow-batched, state
store on executors (RocksDB at scale), parallel across the key hash —
no driver involvement per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from esgopeta_spark.types import QUAD_SCHEMA, VALUE_COLUMNS, value_json_py

OUTPUT_SCHEMA = QUAD_SCHEMA

# winner tuple + json-encoded pending futures list; every field is
# nullable, since a key whose only updates are deferred has no winner yet
STATE_SCHEMA = StructType(
    [StructField(f.name, f.dataType, True) for f in QUAD_SCHEMA.fields if f.name in VALUE_COLUMNS]
    + [
        StructField("state", DoubleType(), True),
        StructField("value_json", StringType(), True),
        StructField("pending_json", StringType(), True),
    ]
)


def _make_handler(timers_enabled: bool):
    """Build the per-key stateful handler, a closure over
    ``timers_enabled``.  Workers import ``esgopeta_spark.types`` for the
    HAM tiebreak: ``get_spark`` puts the package root on their
    ``PYTHONPATH``."""
    import json as _json
    import time as _time

    def handler(key, pdfs, gstate):
        soul, field = key
        if gstate.exists:
            st = gstate.get
            winner = dict(zip(VALUE_COLUMNS + ["state", "value_json"], st[:8]))
            pending = _json.loads(st[8]) if st[8] else []
        else:
            winner = None
            pending = []

        now_ms = _time.time() * 1000.0

        incoming = []
        for pdf in pdfs:
            for rec in pdf.to_dict("records"):
                incoming.append({c: rec.get(c) for c in VALUE_COLUMNS + ["state"]})

        # re-attempt previously deferred futures whose time has come
        ready = [p for p in pending if p["state"] <= now_ms]
        pending = [p for p in pending if p["state"] > now_ms]

        emitted = None
        for rec in sorted(incoming + ready, key=lambda r: (r["state"], value_json_py(r))):
            if rec["state"] > now_ms:  # TooFutureDeferred
                pending.append(rec)
                continue
            if winner is None or (rec["state"], value_json_py(rec)) > (winner["state"], winner["value_json"]):
                winner = {**{c: rec.get(c) for c in VALUE_COLUMNS}, "state": rec["state"], "value_json": value_json_py(rec)}
                emitted = winner

        new_state = tuple(
            [winner.get(c) if winner else None for c in VALUE_COLUMNS]
            + [
                winner["state"] if winner else None,
                winner["value_json"] if winner else None,
                _json.dumps(pending) if pending else None,
            ]
        )
        gstate.update(new_state)
        if pending and timers_enabled:
            # wake when the earliest future becomes applicable (+100ms like
            # the reference's retry slack, gun/storage.go:109)
            earliest = min(p["state"] for p in pending)
            gstate.setTimeoutDuration(max(int(earliest - now_ms) + 100, 100))

        if emitted is not None:
            import pandas as _pd

            yield _pd.DataFrame(
                [{"soul": soul, "field": field, **{c: emitted.get(c) for c in VALUE_COLUMNS}, "state": emitted["state"]}]
            )

    return handler


def streaming_ham_merge(updates: DataFrame, deferral_timers: bool = False) -> DataFrame:
    """updates (UPDATE_SCHEMA or quad-shaped) -> stream of winning quads.

    Emits one row per (soul, field) per micro-batch in which the winner
    changed — the IsImmediateUpdate filter of the reference.

    ``deferral_timers``: with True, future-state updates are re-applied
    promptly via processing-time timers (the reference's scheduled retry)
    — use for continuously-running queries.  Note a timer-mode query
    schedules no-data micro-batches to fire timers, so it never "drains":
    drive it with a continuous trigger, not availableNow.  With False
    (default), deferred rows still sit in state and re-merge the next
    time their key is touched — the right trade for drain-and-stop
    pipelines.  (The batch write path defers with ``ham.split_deferred``
    and carries the rows in the store's pending set instead.)
    """
    return (
        updates.select(*QUAD_SCHEMA.names)
        .groupBy("soul", "field")
        .applyInPandasWithState(
            _make_handler(deferral_timers),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
            if deferral_timers
            else GroupStateTimeout.NoTimeout,
        )
    )
