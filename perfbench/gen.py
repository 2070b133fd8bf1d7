"""Seeded input generators for the perfbench workloads.

Everything here is a pure function of ``seed`` (numpy PCG64 streams),
so the same seed always yields byte-identical inputs and a different
seed yields different ones (``self_check`` asserts both).  The program
under test only ever sees what these functions write: parquet files of
quads and update batches, op scripts, root sets and catalog tables.

The graph is a small social graph in the quad layout:

- user ``u<i>`` (a top-level soul): ``name`` (string), ``score`` (int),
  ``active`` (bool), ``profile`` -> ``p<i>``, ``follows`` -> a user drawn
  from a Zipf skew, ``friend`` -> a uniform user
- profile ``p<i>``: ``bio`` (string), ``age`` (int), ``city`` (string)

Update batches (``ingest``) draw souls from a Zipf skew over users and
profiles.  Each batch has stated shares of stale writes (state older
than anything stored), equal-state pairs (two rows, one key, one state:
the lexical tiebreak decides) and future-state rows (state past the
batch's ``as_of`` clock, deferred into the pending set until a later
batch's clock reaches them).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = 1_700_000_000_000  # ms; every generated state is relative to it
BATCH_CLOCK_STEP = 1000  # ms of as_of clock per ingest batch

USER_FIELDS = ("name", "score", "active", "profile", "follows", "friend")
PROFILE_FIELDS = ("bio", "age", "city")
CITIES = ("oslo", "lima", "pune", "kyiv", "lyon", "baku", "doha", "riga", "cork", "graz", "nice", "bonn")
WORDS = ("graph", "soul", "field", "state", "merge", "relay", "peer", "node", "value", "clock", "lattice", "quad")

QUAD_COLUMNS = (
    "soul", "field", "value_type", "value_number_raw", "value_number",
    "value_string", "value_bool", "value_relation", "state",
)
_ARROW_SCHEMA = pa.schema(
    [
        ("soul", pa.string()), ("field", pa.string()), ("value_type", pa.string()),
        ("value_number_raw", pa.string()), ("value_number", pa.float64()),
        ("value_string", pa.string()), ("value_bool", pa.bool_()),
        ("value_relation", pa.string()), ("state", pa.float64()),
    ]
)


@dataclass(frozen=True)
class GraphSpec:
    """Sizes and mix shares of the graph workloads (stated in every report)."""

    n_users: int = 3000
    n_buckets: int = 16  # store layout (bucket directories per snapshot)
    batch_rows: int = 2000
    zipf_s: float = 1.1
    stale_share: float = 0.15
    tie_share: float = 0.10  # rows arriving as equal-state pairs
    deferred_share: float = 0.10
    null_share: float = 0.02
    session_ops: int = 6  # point-op script length per client session
    hot_users: int = 16
    hot_share: float = 0.8
    roots_per_set: int = 600
    pagerank_iterations: int = 3

    def describe(self) -> dict:
        return asdict(self)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, *stream]))


def _zipf_probs(n: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf(s) probabilities over n items, ranks assigned by a seeded
    permutation so the hot items differ per seed."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    p = np.empty(n)
    p[rng.permutation(n)] = w / w.sum()
    return p


# ---------------------------------------------------------------------------
# values
# ---------------------------------------------------------------------------


def encode(value) -> dict:
    """Python GUN value -> tagged-union quad columns."""
    cols = dict.fromkeys(QUAD_COLUMNS[2:8])
    if value is None:
        cols["value_type"] = "null"
    elif isinstance(value, bool):
        cols["value_type"], cols["value_bool"] = "bool", value
    elif isinstance(value, int):
        cols["value_type"] = "number"
        cols["value_number_raw"], cols["value_number"] = str(value), float(value)
    elif isinstance(value, str):
        cols["value_type"], cols["value_string"] = "string", value
    else:
        cols["value_type"], cols["value_relation"] = "relation", value["#"]
    return cols


def decode(row: dict):
    vt = row["value_type"]
    if vt == "null":
        return None
    if vt == "bool":
        return bool(row["value_bool"])
    if vt == "number":
        return int(row["value_number_raw"])
    if vt == "string":
        return row["value_string"]
    return {"#": row["value_relation"]}


def _field_value(field: str, rng: np.random.Generator, n_users: int):
    if field in ("name", "bio"):
        return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), 3))
    if field == "score":
        return int(rng.integers(0, 10000))
    if field == "age":
        return int(rng.integers(18, 91))
    if field == "active":
        return bool(rng.integers(0, 2))
    if field == "city":
        return CITIES[int(rng.integers(0, len(CITIES)))]
    return {"#": f"u{int(rng.integers(0, n_users))}"}  # follows / friend


def to_table(rows: list[tuple[str, str, object, float]]) -> pa.Table:
    """(soul, field, value, state) rows -> an arrow table of quads."""
    cols: dict[str, list] = {c: [] for c in QUAD_COLUMNS}
    for soul, field, value, state in rows:
        cols["soul"].append(soul)
        cols["field"].append(field)
        for k, v in encode(value).items():
            cols[k].append(v)
        cols["state"].append(float(state))
    return pa.table(cols, schema=_ARROW_SCHEMA)


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# graph snapshot
# ---------------------------------------------------------------------------


def seed_quads(spec: GraphSpec, seed: int) -> list[tuple[str, str, object, float]]:
    """The store every graph workload starts from (one quad per key)."""
    n = spec.n_users
    rng = _rng(seed, 1)
    follows = rng.choice(n, size=n, p=_zipf_probs(n, spec.zipf_s, rng)).tolist()
    friends = rng.integers(0, n, n).tolist()
    words = rng.integers(0, len(WORDS), (n, 2, 3)).tolist()
    scores, ages = rng.integers(0, 10000, n).tolist(), rng.integers(18, 91, n).tolist()
    active, cities = rng.integers(0, 2, n).tolist(), rng.integers(0, len(CITIES), n).tolist()
    states = (T0 - 100_000 + rng.integers(0, 50_000, (n, 9))).tolist()
    rows = []
    for i in range(n):
        u, p, st = f"u{i}", f"p{i}", states[i]
        rows += [
            (u, "name", " ".join(WORDS[w] for w in words[i][0]), st[0]),
            (u, "score", scores[i], st[1]),
            (u, "active", bool(active[i]), st[2]),
            (u, "profile", {"#": p}, st[3]),
            (u, "follows", {"#": f"u{follows[i]}"}, st[4]),
            (u, "friend", {"#": f"u{friends[i]}"}, st[5]),
            (p, "bio", " ".join(WORDS[w] for w in words[i][1]), st[6]),
            (p, "age", ages[i], st[7]),
            (p, "city", CITIES[cities[i]], st[8]),
        ]
    return rows


# ---------------------------------------------------------------------------
# ingest: update batches
# ---------------------------------------------------------------------------


def batch_as_of(i: int) -> float:
    return float(T0 + (i + 1) * BATCH_CLOCK_STEP)


def update_batch(spec: GraphSpec, seed: int, i: int) -> list[tuple[str, str, object, float]]:
    """Batch ``i`` of the update log, in arrival order."""
    rng = _rng(seed, 2, i)
    souls_p = _zipf_probs(2 * spec.n_users, spec.zipf_s, _rng(seed, 3))
    as_of = int(batch_as_of(i))
    n = spec.batch_rows
    n_stale = round(n * spec.stale_share)
    n_pairs = round(n * spec.tie_share / 2)
    n_def = round(n * spec.deferred_share)
    n_norm = n - n_stale - 2 * n_pairs - n_def

    drawn = iter(rng.choice(2 * spec.n_users, size=n, p=souls_p).tolist())

    def key():
        k = next(drawn)
        if k < spec.n_users:
            return f"u{k}", USER_FIELDS[int(rng.integers(0, len(USER_FIELDS)))]
        return f"p{k - spec.n_users}", PROFILE_FIELDS[int(rng.integers(0, len(PROFILE_FIELDS)))]

    def value(field):
        if rng.random() < spec.null_share:
            return None
        return _field_value(field, rng, spec.n_users)

    rows = []
    for _ in range(n_norm):
        s, f = key()
        rows.append((s, f, value(f), as_of - int(rng.integers(0, BATCH_CLOCK_STEP))))
    for _ in range(n_stale):
        s, f = key()
        rows.append((s, f, value(f), T0 - 200_000 + int(rng.integers(0, 50_000))))
    for _ in range(n_pairs):
        s, f = key()
        state = as_of - int(rng.integers(0, BATCH_CLOCK_STEP))
        a = value(f)
        b = a if rng.random() < 0.2 else value(f)  # some pairs are exact duplicates
        rows += [(s, f, a, state), (s, f, b, state)]
    for _ in range(n_def):
        s, f = key()
        rows.append((s, f, value(f), as_of + 1 + int(rng.integers(0, 3 * BATCH_CLOCK_STEP))))
    return [rows[j] for j in rng.permutation(len(rows))]


# ---------------------------------------------------------------------------
# graph_reads: client sessions
# ---------------------------------------------------------------------------


def session_script(spec: GraphSpec, seed: int, j: int) -> list[tuple]:
    """Client session ``j``: repeated (put, read-back fetch, fetch of an
    existing key) triples.  Puts go to 3-level paths; half of them name a
    parent that does not exist yet (lazy parent creation).  Users come
    from a hot set with probability ``hot_share``, and are distinct within
    a session, so every session resolves the same number of path hops."""
    hot = _rng(seed, 4).choice(spec.n_users, size=spec.hot_users, replace=False)
    rng = _rng(seed, 5, j)
    used: set[str] = set()

    def user() -> str:
        while True:
            if rng.random() < spec.hot_share:
                u = f"u{int(hot[int(rng.integers(0, len(hot)))])}"
            else:
                u = f"u{int(rng.integers(0, spec.n_users))}"
            if u not in used:
                used.add(u)
                return u

    ops: list[tuple] = []
    while len(ops) < spec.session_ops:
        u = user()
        if rng.random() < 0.5:
            path = (u, "profile", ("bio", "city", "mood")[int(rng.integers(0, 3))])
        else:
            path = (u, f"note{int(rng.integers(0, 3))}", "text")
        value = f"s{j}-{len(ops)}" if rng.random() < 0.5 else int(rng.integers(0, 1000))
        state = float(T0 + 1000 * (j + 1) + len(ops))
        ops.append(("put", path, value, state))
        ops.append(("fetch", path))
        v = user()
        pick = int(rng.integers(0, 4))
        ops.append(("fetch", (v, "follows", "score") if pick == 3 else (v, "profile", ("bio", "age", "city")[pick])))
    return ops[: spec.session_ops]


# ---------------------------------------------------------------------------
# graph_reads: root sets
# ---------------------------------------------------------------------------

HOP_PATHS = (("follows", "friend"), ("friend", "follows"), ("follows", "follows"))
VALUE_FIELDS = ("score", "name")


def root_set(spec: GraphSpec, seed: int, k: int) -> tuple[list[tuple[int, str]], tuple[str, ...], str]:
    """Root set ``k``: (root id, soul) rows, the hop path and the terminal field."""
    rng = _rng(seed, 6, k)
    users = rng.choice(spec.n_users, size=spec.roots_per_set, replace=False)
    roots = [(r, f"u{int(u)}") for r, u in enumerate(users)]
    return roots, HOP_PATHS[int(rng.integers(0, len(HOP_PATHS)))], VALUE_FIELDS[int(rng.integers(0, 2))]


# ---------------------------------------------------------------------------
# catalog_mix: TPC-H-ish tables + events/documents/embeddings
# ---------------------------------------------------------------------------

CATALOG_TABLE_SEED = 42  # the catalog runs on fixed tables, whatever the run seed
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("error", "click", "view", "signup", "purchase")
LANGS = ("en", "zh", "es", "de", "fr")
DOC_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a the line sort "
    "window data column join small customer query order group stream filter big vector"
).split()


def catalog_tables(scale: float = 0.01, seed: int = CATALOG_TABLE_SEED) -> dict[str, pa.Table]:
    """The ten tables the catalog entries read, shaped like the TPC-H-ish
    test tables (same columns, types and value domains) at ``scale``."""
    rng = _rng(seed, 7)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_events, n_docs = int(1_500_000 * scale), int(1_000_000 * scale), int(50_000 * scale)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{DOC_WORDS[a]} {DOC_WORDS[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("P", "F", "O")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": days("1995-01-01", 2400, n_ord),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": days("1995-01-02", 2500, n_line),
        }
    )
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
            "value": np.round(rng.uniform(0.01, 490, n_events), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = []
    for d in range(n_docs):
        if d >= 10 and rng.random() < 0.2:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, d))].split()
            words[int(rng.integers(0, len(words)))] = DOC_WORDS[int(rng.integers(0, len(DOC_WORDS)))]
        else:
            words = [DOC_WORDS[i] for i in rng.integers(0, len(DOC_WORDS), int(rng.integers(10, 80)))]
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, 5, n_docs)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    centers = rng.normal(0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n_docs)
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_docs, 64))).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


# ---------------------------------------------------------------------------
# self-check
# ---------------------------------------------------------------------------


def digest(spec: GraphSpec, seed: int) -> str:
    """Hash of the store, the first two update batches, the first session
    script and the first root set for ``seed``."""
    h = hashlib.sha256(json.dumps(spec.describe(), sort_keys=True).encode())
    parts = [seed_quads(spec, seed), update_batch(spec, seed, 0), update_batch(spec, seed, 1),
             session_script(spec, seed, 0), root_set(spec, seed, 0)]
    for part in parts:
        h.update(repr(part).encode())
    return h.hexdigest()


def self_check(spec: GraphSpec, seed: int) -> bool:
    """Same seed -> identical inputs; a different seed -> different ones."""
    first = digest(spec, seed)
    return first == digest(spec, seed) and first != digest(spec, seed + 1)
