"""Canonical schemas: the quads relation and the update-message log.

The reference stores the whole graph as a hash map keyed by
``(parentSoul, field) -> (Value, State)`` (gun/storage.go:40-45) where
``Value`` is a closed sum type null|number|string|bool|relation
(gun/node.go:81-159).  On Spark that becomes one *fixed* physical schema
— a tagged union, one row per (soul, field) — while the *logical* graph
schema stays fully dynamic, exactly like the reference.

Scale note: ``quads`` is THE hot relation.  The store
(``sources/io.py``) writes it in directories by ``crc32(soul)``, so a
point probe reads one bucket and an upsert rewrites only the buckets it
touches; traversal joins read those directories with no bucketing spec,
so a sort-merge hop still shuffles.  Every merge keys on (soul, field),
so partial aggregation is map-side.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import types as T

VALUE_NULL = "null"
VALUE_NUMBER = "number"
VALUE_STRING = "string"
VALUE_BOOL = "bool"
VALUE_RELATION = "relation"

#: one row per (soul, field) — mirrors gun/storage.go:40-45
QUAD_FIELDS = [
    T.StructField("soul", T.StringType(), False),
    T.StructField("field", T.StringType(), False),
    T.StructField("value_type", T.StringType(), False),
    # exact JSON literal text: the reference keeps numbers as strings
    # "since it can overflow numeric types" (gun/node.go:130-133)
    T.StructField("value_number_raw", T.StringType(), True),
    T.StructField("value_number", T.DoubleType(), True),
    T.StructField("value_string", T.StringType(), True),
    T.StructField("value_bool", T.BooleanType(), True),
    T.StructField("value_relation", T.StringType(), True),
    # HAM state: Unix ms as float64 (gun/state.go:11)
    T.StructField("state", T.DoubleType(), False),
]

QUAD_SCHEMA = T.StructType(QUAD_FIELDS)

#: one row per (message, soul, field) flattened from the wire Message.Put
#: (gun/message.go:6-24); used for both batch replay and readStream ingest.
UPDATE_SCHEMA = T.StructType(
    [
        T.StructField("msg_id", T.StringType(), False),
        T.StructField("ack_id", T.StringType(), True),
        T.StructField("peer_id", T.StringType(), True),
        T.StructField("recv_ts", T.TimestampType(), False),
    ]
    + QUAD_FIELDS
)

VALUE_COLUMNS = [
    "value_type",
    "value_number_raw",
    "value_number",
    "value_string",
    "value_bool",
    "value_relation",
]


def encode_value(value: Any) -> dict[str, Any]:
    """Python value -> tagged-union columns (gun/node.go:91-122 decode,
    inverted).  Relations are passed as ``{"#": soul}`` dicts."""
    cols: dict[str, Any] = {
        "value_type": VALUE_NULL,
        "value_number_raw": None,
        "value_number": None,
        "value_string": None,
        "value_bool": None,
        "value_relation": None,
    }
    if value is None:
        return cols
    if isinstance(value, bool):  # before int: bool is an int subclass
        cols["value_type"] = VALUE_BOOL
        cols["value_bool"] = value
    elif isinstance(value, (int, float)):
        cols["value_type"] = VALUE_NUMBER
        raw = json.dumps(value)
        cols["value_number_raw"] = raw
        cols["value_number"] = float(value)
    elif isinstance(value, str):
        cols["value_type"] = VALUE_STRING
        cols["value_string"] = value
    elif isinstance(value, dict) and set(value.keys()) == {"#"}:
        cols["value_type"] = VALUE_RELATION
        cols["value_relation"] = value["#"]
    else:
        raise TypeError(f"unsupported GUN value: {value!r}")
    return cols


def decode_value(row: Any) -> Any:
    """Tagged-union columns -> Python value. Accepts a Row or mapping."""
    vt = row["value_type"]
    if vt == VALUE_NULL:
        return None
    if vt == VALUE_NUMBER:
        raw = row["value_number_raw"]
        if raw is not None:
            try:
                return json.loads(raw)
            except ValueError:
                pass
        return row["value_number"]
    if vt == VALUE_STRING:
        return row["value_string"]
    if vt == VALUE_BOOL:
        return row["value_bool"]
    if vt == VALUE_RELATION:
        return {"#": row["value_relation"]}
    raise ValueError(f"unknown value_type {vt!r}")


def value_json_py(row: Any) -> str:
    """JSON serialization of the value, byte-identical to Go's
    ``json.Marshal`` for our value domain (gun/state.go:68-78 tiebreak).

    Go emits: null / the raw number literal / a quoted string with
    minimal escaping / true|false / {"#":"soul"}.
    """
    vt = row["value_type"]
    if vt == VALUE_NULL:
        return "null"
    if vt == VALUE_NUMBER:
        raw = row["value_number_raw"]
        return raw if raw is not None else json.dumps(row["value_number"])
    if vt == VALUE_STRING:
        return json.dumps(row["value_string"], ensure_ascii=False, separators=(",", ":"))
    if vt == VALUE_BOOL:
        return "true" if row["value_bool"] else "false"
    if vt == VALUE_RELATION:
        return '{"#":' + json.dumps(row["value_relation"], ensure_ascii=False) + "}"
    raise ValueError(f"unknown value_type {vt!r}")
