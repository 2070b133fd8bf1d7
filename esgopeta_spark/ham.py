"""HAM (Hypothetical Amnesia Machine) conflict resolution, Spark-first.

Reference: gun/state.go:22-79.  Five outcomes:

- never_seen_update   — no existing value: apply
- too_future_deferred — new state beyond the system clock: hold back
- older_historical    — new state < existing state: discard
- newer_update        — new state > existing state: apply
- same_keep / same_update — equal state: JSON-serialize both values and
  byte-compare; the lexically larger one wins (gun/state.go:68-78)

Key insight for Spark: for the non-deferred cases, HAM is a *semilattice
join* — the winner of a set of (value, state) candidates for one
(soul, field) key is simply the max under the total order
``(state, value_json)``.  The outcome is independent of arrival order,
so a distributed merge can use a plain aggregate (``max_by``) with
map-side partial aggregation, one shuffle on (soul, field), no window,
no custom state.  Deferral (gun/storage.go:107-117) is an *eligibility
filter* applied before the merge: rows with ``state > as_of`` are
carried to a future merge rather than entering this one.

Scale notes: ``ham_merge`` is one hash aggregate; with quads bucketed by
``soul`` the shuffle disappears.  No Python runs on the hot path — the
JSON tiebreak key is a codegen'd string expression.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from esgopeta_spark.types import (
    QUAD_SCHEMA,
    VALUE_BOOL,
    VALUE_COLUMNS,
    VALUE_NULL,
    VALUE_NUMBER,
    VALUE_RELATION,
    VALUE_STRING,
    value_json_py,
)

# ---------------------------------------------------------------------------
# pure-Python oracle (unit-matrix tests check the Spark path against this)
# ---------------------------------------------------------------------------

NEVER_SEEN_UPDATE = "never_seen_update"
TOO_FUTURE_DEFERRED = "too_future_deferred"
OLDER_HISTORICAL = "older_historical"
NEWER_UPDATE = "newer_update"
SAME_KEEP = "same_keep"
SAME_UPDATE = "same_update"

IMMEDIATE_UPDATE = {NEVER_SEEN_UPDATE, NEWER_UPDATE, SAME_UPDATE}


def conflict_resolve(
    existing_val: Any,
    existing_state: float | None,
    new_val: Any,
    new_state: float,
    sys_state: float,
) -> str:
    """Pure-Python transliteration of the decision table (gun/state.go:60-79).

    ``existing_state is None`` encodes "never seen" (the reference handles
    that case one level up, in Storage.Put — gun/storage.go:96-101).
    Values are Python-domain GUN values (None/number/str/bool/{'#': soul}).
    """
    if sys_state < new_state:
        return TOO_FUTURE_DEFERRED
    if existing_state is None:
        return NEVER_SEEN_UPDATE
    if new_state < existing_state:
        return OLDER_HISTORICAL
    if existing_state < new_state:
        return NEWER_UPDATE
    existing_json = _py_value_json(existing_val)
    new_json = _py_value_json(new_val)
    if existing_json == new_json:
        return SAME_KEEP
    if existing_json.encode("utf-8") < new_json.encode("utf-8"):
        return SAME_UPDATE
    return SAME_KEEP


def _py_value_json(value: Any) -> str:
    if value is None:
        return "null"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, dict) and set(value) == {"#"}:
        return '{"#":' + json.dumps(value["#"], ensure_ascii=False) + "}"
    return json.dumps(value, ensure_ascii=False, separators=(",", ":"))


# ---------------------------------------------------------------------------
# Spark-native merge
# ---------------------------------------------------------------------------


# {"s":"<escaped>"} -> strip the 5-byte prefix and 1-byte suffix
_STRING_JSON_SQL = (
    "substring(to_json(named_struct('s', value_string)), 6, "
    "length(to_json(named_struct('s', value_string))) - 6)"
)
_VALUE_JSON_SQL = (
    "CASE value_type"
    f" WHEN '{VALUE_NULL}' THEN 'null'"
    f" WHEN '{VALUE_NUMBER}' THEN coalesce(value_number_raw, CAST(value_number AS STRING))"
    f" WHEN '{VALUE_STRING}' THEN {_STRING_JSON_SQL}"
    f" WHEN '{VALUE_BOOL}' THEN CASE WHEN value_bool THEN 'true' ELSE 'false' END"
    """ ELSE concat('{"#":"', value_relation, '"}') END"""
)


def value_json_col() -> Column:
    """Canonical JSON text of the tagged-union value as a codegen'd column.

    Used as the HAM lexical tiebreak key (gun/state.go:68-78): larger
    JSON bytes win on equal state.  Spark and DuckDB both compare strings
    by UTF-8 bytes under default binary collation, so the same order is
    reproducible in the oracle.  String escaping uses ``to_json`` (Jackson),
    matching DuckDB ``to_json`` / Python ``json.dumps(ensure_ascii=False)``
    for the printable domain.  One SQL expression (``_VALUE_JSON_SQL``):
    building it costs one py4j call instead of a chain of ``Column`` ones.
    """
    return F.expr(_VALUE_JSON_SQL)


_WINNER_SQL = (
    f"max_by(struct({', '.join(VALUE_COLUMNS)}, state), "
    f"named_struct('s', state, 'j', {_VALUE_JSON_SQL})) AS _w"
)


def ham_merge(candidates: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """Reduce a bag of quad candidates to the HAM winner per (soul, field).

    Input: any DataFrame with the quad columns (extra columns are dropped).
    Output: QUAD_SCHEMA-shaped DataFrame, exactly one row per (soul, field).

    One hash-aggregate (map-side partial + one shuffle on the key); the
    total order is ``(state, value_json)`` — see module docstring for why
    this equals the reference's arrival-order semantics.  ``by`` names
    columns that are functions of ``soul`` (e.g. ``soul_bucket``): they
    lead the grouping key and the output, so an input already
    hash-partitioned on them is aggregated with no further exchange.
    """
    return (
        candidates.groupBy(*by, "soul", "field")
        .agg(F.expr(_WINNER_SQL))
        .select(*by, "soul", "field", "_w.*")
    )


@dataclass
class ApplyResult:
    quads: DataFrame  # merged snapshot (winner per key)
    deferred: DataFrame  # update rows held back because state > as_of


def split_deferred(updates: DataFrame, as_of_ms: float | None) -> tuple[DataFrame, DataFrame]:
    """The one future-state deferral split: ``(eligible, deferred)`` quad
    rows, deferring those with ``state > as_of`` (None defers nothing)."""
    quads = updates.select("soul", "field", *VALUE_COLUMNS, "state")
    if as_of_ms is None:
        return quads, quads.limit(0)
    future = F.col("state") > F.lit(float(as_of_ms))
    return quads.filter(~future), quads.filter(future)


def ham_apply_updates(quads: DataFrame, updates: DataFrame, as_of_ms: float | None = None) -> ApplyResult:
    """Batch contract for future-state deferral (gun/storage.go:107-117).

    The reference *schedules* a put whose state is ahead of the local
    clock for retry at ``state - now + 100ms``.  In batch that is the
    ``split_deferred`` split: eligible rows merge now, the rest are
    returned for the caller to carry into the next run (streaming uses
    event-time holdback, esgopeta_spark.streaming.ham_stream).
    """
    eligible, deferred = split_deferred(updates, as_of_ms)
    base = quads.select(*eligible.columns)
    return ApplyResult(quads=ham_merge(base.unionByName(eligible)), deferred=deferred)


def field_history(updates: DataFrame) -> DataFrame:
    """Temporal-table (SCD2-style) view of an update log: per
    (soul, field), every version in HAM order with its validity interval
    [valid_from_ms, valid_to_ms); the current winner has a NULL
    valid_to_ms.  The ordering is the SAME total order the merge uses —
    (state, value_json) with the D4 lexical tiebreak — so version N's
    value always equals what a fetch at a clock inside its interval
    would have returned (gun/state.go:60-79 applied historically).

    One window shuffle on (soul, field); every derived column is a
    codegen'd window function over it.  This is the standard
    slowly-changing-dimension shape: the graph's LWW update log becomes
    a queryable history table.

    Every version row carries the FULL value payload (all VALUE_COLUMNS,
    same as ham_merge exposes for the winner) — string/bool/relation
    versions keep their values, not just numeric ones (r4 ADVICE: the
    old value_number-only projection NULLed non-numeric history).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("soul", "field").orderBy(
        F.col("state").asc(), value_json_col().asc()
    )
    return updates.select(
        "soul",
        "field",
        *VALUE_COLUMNS,
        F.row_number().over(w).alias("version"),
        F.col("state").cast("bigint").alias("valid_from_ms"),
        F.lead(F.col("state").cast("bigint")).over(w).alias("valid_to_ms"),
    )


def quads_frame(spark, rows) -> DataFrame:
    """Quad rows (dicts; absent value columns are null) as a frame of
    ``QUAD_SCHEMA``, built through Arrow: a ``LocalTableScan`` that runs
    no Python task, where ``createDataFrame(rows, QUAD_SCHEMA)`` scans a
    Python RDD."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(pa.Table.from_pylist(list(rows), schema=to_arrow_schema(QUAD_SCHEMA)))


def empty_quads(spark) -> DataFrame:
    return quads_frame(spark, [])


__all__ = [
    "conflict_resolve",
    "ham_merge",
    "ham_apply_updates",
    "split_deferred",
    "value_json_col",
    "empty_quads",
    "quads_frame",
    "ApplyResult",
    "NEVER_SEEN_UPDATE",
    "TOO_FUTURE_DEFERRED",
    "OLDER_HISTORICAL",
    "NEWER_UPDATE",
    "SAME_KEEP",
    "SAME_UPDATE",
    "IMMEDIATE_UPDATE",
    "value_json_py",
    "field_history",
]
