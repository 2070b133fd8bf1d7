"""Oracles the benchmark checks every measured output against, always
outside the timed region.

- ``HamModel``: a pure-Python HAM fold over (soul, field) keys with the
  reference's decision table (gun/state.go:60-79): future states defer,
  older states lose, newer states win, equal states compare the JSON
  text of the values bytewise and the larger wins.
- ``PointModel``: the reference client's path semantics (lazy parent
  creation on put, path resolution on fetch) over a ``HamModel``.
- DuckDB joins for bulk traversal and the integer PageRank recurrence.
- Catalog entries: each entry's registered DuckDB oracle, compared by a
  hash of the canonicalized, order-insensitive rows.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq

from gen import decode, to_table


def vjson(value) -> str:
    """Canonical JSON text of a GUN value (the HAM tiebreak key)."""
    if value is None:
        return "null"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return json.dumps(value, ensure_ascii=False, separators=(",", ":"))
    return '{"#":' + json.dumps(value["#"], ensure_ascii=False) + "}"


def wins(new_state: float, new_value, old: tuple | None) -> bool:
    """True iff (new_state, new_value) replaces ``old`` = (state, value)."""
    if old is None or new_state > old[0]:
        return True
    if new_state < old[0]:
        return False
    return vjson(old[1]).encode() < vjson(new_value).encode()


class HamModel:
    """Winner per key plus the deferred carry set, folded in arrival order."""

    def __init__(self, rows=()):
        self.store: dict[tuple[str, str], tuple[float, object]] = {}
        self.pending: list[tuple[str, str, object, float]] = []
        for soul, field, value, state in rows:
            self.apply(soul, field, value, state)

    def apply(self, soul, field, value, state) -> None:
        key = (soul, field)
        if wins(state, value, self.store.get(key)):
            self.store[key] = (state, value)

    def upsert(self, rows, as_of: float) -> None:
        """One ingest batch: the batch plus the carried pending set; rows
        past ``as_of`` become the new pending set."""
        carried, self.pending = self.pending, []
        for row in list(rows) + carried:
            if row[3] > as_of:
                self.pending.append(row)
            else:
                self.apply(*row)


def canon_store(table: pa.Table) -> dict[tuple[str, str], tuple[float, str]]:
    out = {}
    for r in table.to_pylist():
        out[(r["soul"], r["field"])] = (r["state"], vjson(decode(r)))
    return out


def model_store(model: HamModel) -> dict[tuple[str, str], tuple[float, str]]:
    return {k: (s, vjson(v)) for k, (s, v) in model.store.items()}


def canon_pending(rows) -> list[tuple]:
    return sorted((s, f, st, vjson(v)) for s, f, v, st in rows)


def read_store(store_path: str) -> tuple[pa.Table, pa.Table | None]:
    """The live snapshot (bucket data, pending set) of a manifest store,
    read with pyarrow straight from the files the manifest names."""
    with open(os.path.join(store_path, "_quads_meta.json")) as f:
        manifest = json.load(f)
    cols = ["soul", "field", "value_type", "value_number_raw", "value_string",
            "value_bool", "value_relation", "state"]
    parts = [pq.read_table(os.path.join(store_path, rel), columns=cols)
             for rel in manifest["buckets"].values()]
    data = pa.concat_tables(parts) if parts else to_table([]).select(cols)
    pending = None
    if manifest.get("pending"):
        pending = pq.read_table(os.path.join(store_path, manifest["pending"]), columns=cols)
    return data, pending


def check_store(store_path: str, model: HamModel) -> list[str]:
    """Mismatches between the store on disk and the model (empty = correct)."""
    data, pending = read_store(store_path)
    errors = []
    got, want = canon_store(data), model_store(model)
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))
        errors.append(f"store: {len(diff)} differing keys, first {diff[:2]}")
    got_p = canon_pending((r["soul"], r["field"], decode(r), r["state"])
                          for r in (pending.to_pylist() if pending is not None else []))
    if got_p != canon_pending(model.pending):
        errors.append(f"pending: {len(got_p)} rows vs {len(model.pending)} expected")
    return errors


# ---------------------------------------------------------------------------
# point ops
# ---------------------------------------------------------------------------


class SeqSouls:
    """Deterministic soul generator handed to the program (and, as a
    separate instance, to the model): both draw the same sequence."""

    def __init__(self, prefix: str):
        self.prefix, self.n = prefix, 0

    def __call__(self) -> str:
        self.n += 1
        return f"{self.prefix}-{self.n}"


class PointModel:
    """Expected results of a client session's puts and fetches."""

    def __init__(self, base: HamModel, souls: SeqSouls):
        self.base, self.overlay, self.souls = base, HamModel(), souls

    def get(self, key):
        new, old = self.overlay.store.get(key), self.base.store.get(key)
        if new is None:
            return old
        return new if old is None or wins(new[0], new[1], old) else old

    def resolve(self, path) -> str | None:
        soul = path[0]
        for field in path[1:]:
            row = self.get((soul, field))
            if row is None:
                return None
            if not isinstance(row[1], dict):
                raise ValueError(f"{'/'.join(path)}: non-relation on the path")
            soul = row[1]["#"]
        return soul

    def put(self, path, value, state) -> list[tuple]:
        updates, parent = [], path[0]
        for i in range(1, len(path) - 1):
            soul = self.resolve(path[: i + 1])
            if soul is None:
                soul = self.souls()
                updates.append((parent, path[i], {"#": soul}, state))
            parent = soul
        updates.append((parent, path[-1], value, state))
        for u in updates:
            self.overlay.apply(*u)
        return updates

    def fetch(self, path) -> tuple:
        """(value, value_exists, state) of a fetch_one."""
        parent = self.resolve(path[:-1])
        row = None if parent is None else self.get((parent, path[-1]))
        return (None, False, None) if row is None else (row[1], True, row[0])


# ---------------------------------------------------------------------------
# bulk graph reads (DuckDB)
# ---------------------------------------------------------------------------


def graph_duckdb(seed_rows):
    """A DuckDB connection holding the seeded snapshot as ``quads``."""
    import duckdb

    con = duckdb.connect()
    con.register("quads_arrow", to_table(seed_rows))
    con.execute("CREATE TABLE quads AS SELECT * FROM quads_arrow")
    return con


def traverse_expected(con, roots, hops, value_field) -> list[tuple]:
    """(root, soul, value json or None, state) rows of
    ``values_at(traverse(roots, *hops), value_field)``."""
    con.register("roots_arrow", pa.table({"root": [r for r, _ in roots], "soul": [s for _, s in roots]}))
    joins, cur = [], "r.soul"
    for i, hop in enumerate(hops):
        joins.append(
            f"JOIN quads h{i} ON h{i}.soul = {cur} AND h{i}.field = '{hop}' "
            f"AND h{i}.value_type = 'relation'"
        )
        cur = f"h{i}.value_relation"
    sql = (
        f"SELECT r.root, {cur} AS soul, v.value_type, v.value_number_raw, v.value_string, "
        f"v.value_bool, v.value_relation, v.state FROM roots_arrow r {' '.join(joins)} "
        f"LEFT JOIN quads v ON v.soul = {cur} AND v.field = '{value_field}'"
    )
    cols = ["root", "soul", "value_type", "value_number_raw", "value_string", "value_bool",
            "value_relation", "state"]
    return sorted(canon_traverse(dict(zip(cols, r)) for r in con.execute(sql).fetchall()))


def canon_traverse(rows) -> list[tuple]:
    return sorted(
        (r["root"], r["soul"], None if r["value_type"] is None else vjson(decode(r)), r["state"])
        for r in rows
    )


def pagerank_expected(con, iterations: int) -> list[tuple]:
    """(node, rank_micro) under the integer recurrence
    rank'(v) = 150000 + (85 * sum_{u->v} rank(u) DIV outdeg(u)) DIV 100."""
    con.execute(
        "CREATE OR REPLACE TABLE e AS SELECT soul AS src, value_relation AS dst "
        "FROM quads WHERE value_type = 'relation'"
    )
    con.execute(
        "CREATE OR REPLACE TABLE r AS SELECT node, 1000000::BIGINT AS rank_micro "
        "FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)"
    )
    con.execute("CREATE OR REPLACE TABLE d AS SELECT src, count(*) AS deg FROM e GROUP BY src")
    for _ in range(iterations):
        con.execute(
            "CREATE OR REPLACE TABLE r AS SELECT r.node, "
            "150000 + (85 * coalesce(c.s, 0)) // 100 AS rank_micro FROM r LEFT JOIN ("
            "  SELECT e.dst, sum(r.rank_micro // d.deg) AS s FROM e "
            "  JOIN d ON e.src = d.src JOIN r ON r.node = e.src GROUP BY e.dst"
            ") c ON c.dst = r.node"
        )
    return sorted((n, int(v)) for n, v in con.execute("SELECT node, rank_micro FROM r").fetchall())


# ---------------------------------------------------------------------------
# catalog entries
# ---------------------------------------------------------------------------


def _canon_cell(val):
    """Mirror of the driver's value hash: full-precision floats, decimals
    as floats, naive ISO timestamps."""
    if val is None:
        return None
    if isinstance(val, float):
        return "NaN" if math.isnan(val) else repr(val)
    if isinstance(val, decimal.Decimal):
        return repr(float(val))
    if isinstance(val, datetime.datetime):
        return val.replace(tzinfo=None).isoformat()
    if isinstance(val, datetime.date):
        return val.isoformat()
    return val


def rows_hash(cols, rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, cells
    canonicalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        (tuple(_canon_cell(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    h.update(repr(out).encode())
    return h.hexdigest()


def catalog_duckdb(table_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(table_dir, t)}.parquet'")
    return con


def oracle_hash(con, sql: str) -> str:
    res = con.execute(sql)
    return rows_hash([d[0] for d in res.description], res.fetchall())
