"""Streaming HAM merge: the reference's live-subscription core loop
(gun/scoped_fetch.go:112-217) as a keyed stateful operator.

Keyed by (soul, field) — the reference's storage key.  State holds the
current winner (value + state) and the deferred updates.  A key with no
state yet starts from its entry in the start map (``GunGraph.subscribe``
passes the key's stored winner), else from no winner.  Each micro-batch:

1. hold back updates whose state is ahead of the system clock
   (TooFutureDeferred, gun/storage.go:107-117) in a pending list; a held
   update is re-attempted the next time its key is touched and the clock
   has passed it;
2. fold the rest into the held winner under ``ham.ham_key``, the one
   Python HAM order: losers are OlderHistorical / SameKeep;
3. emit the winner in the first batch that carries the key, then only
   when the winner changes (IsImmediateUpdate transitions), exactly the
   reference's emit-if-winning filter.

``applyInPandasWithState`` is the right primitive: Arrow-batched, state
store on executors (RocksDB at scale), parallel across the key hash —
no driver involvement per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from esgopeta_spark.ham import ham_key
from esgopeta_spark.types import QUAD_SCHEMA, VALUE_COLUMNS

OUTPUT_SCHEMA = QUAD_SCHEMA

_WINNER = VALUE_COLUMNS + ["state"]

# winner tuple + json-encoded pending futures list; every field is
# nullable, since a key whose only updates are deferred has no winner yet
STATE_SCHEMA = StructType(
    [StructField(f.name, f.dataType, True) for f in QUAD_SCHEMA.fields if f.name in VALUE_COLUMNS]
    + [StructField("state", DoubleType(), True), StructField("pending_json", StringType(), True)]
)


def _make_handler(winners=None):
    """Build the per-key stateful handler, a closure over the start map
    ``winners`` ((soul, field) → quad row dict).  Workers import
    ``esgopeta_spark.ham`` for the HAM order: ``get_spark`` puts the
    package root on their ``PYTHONPATH``."""
    import json as _json
    import time as _time

    start = winners or {}

    def handler(key, pdfs, gstate):
        soul, field = key
        first = not gstate.exists
        if first:
            held, pending = start.get((soul, field)), []
        else:
            st = gstate.get
            held = dict(zip(_WINNER, st[: len(_WINNER)])) if st[len(_WINNER) - 1] is not None else None
            pending = _json.loads(st[-1]) if st[-1] else []

        now_ms = _time.time() * 1000.0
        rows = pending + [{c: rec.get(c) for c in _WINNER} for pdf in pdfs for rec in pdf.to_dict("records")]
        pending = [r for r in rows if r["state"] > now_ms]  # TooFutureDeferred
        eligible = [r for r in rows if r["state"] <= now_ms]
        winner = max(([] if held is None else [held]) + eligible, key=ham_key, default=None)

        gstate.update(
            tuple([winner.get(c) if winner else None for c in _WINNER] + [_json.dumps(pending) if pending else None])
        )
        if winner is not None and (first or winner is not held):
            import pandas as _pd

            yield _pd.DataFrame([{"soul": soul, "field": field, **{c: winner.get(c) for c in _WINNER}}])

    return handler


def streaming_ham_merge(updates: DataFrame, winners=None) -> DataFrame:
    """updates (UPDATE_SCHEMA or quad-shaped) -> stream of winning quads.

    ``winners`` is the start map ((soul, field) → quad row dict): a key
    with no state yet starts from its entry there, else from no winner.
    The first micro-batch that carries a key emits the key's winner —
    the start map's row when every update loses — and a later one emits
    it only when it changed, the IsImmediateUpdate filter of the
    reference.

    No timers: an update whose state is ahead of the clock waits in the
    key's state and re-merges the next time the key is touched, so a
    drain-and-stop (``availableNow``) query drains.  (The batch write
    path defers with ``ham.split_deferred`` and carries the rows in the
    store's pending set instead.)
    """
    return (
        updates.select(*QUAD_SCHEMA.names)
        .groupBy("soul", "field")
        .applyInPandasWithState(
            _make_handler(winners),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
