"""HAM conflict-resolution tests.

The reference DECLARES these cases but never wrote them
(gun/tests/gun_test.go:127-134 TODO list); we implement the full matrix:
unit outcomes (gun/state.go:25-48), the distributed merge's equivalence
to a sequential pure-Python replay, and the golden replay scenarios from
FIXTURES.md §1.2.
"""

from __future__ import annotations

import itertools
import json
import random

import pytest
from pyspark.sql import functions as F

from esgopeta_spark import ham
from esgopeta_spark.ham import (
    NEWER_UPDATE,
    OLDER_HISTORICAL,
    SAME_KEEP,
    SAME_UPDATE,
    TOO_FUTURE_DEFERRED,
    NEVER_SEEN_UPDATE,
    conflict_resolve,
    ham_apply_updates,
    ham_merge,
    empty_quads,
    quads_frame,
)
from esgopeta_spark.types import QUAD_SCHEMA, encode_value, decode_value


def q(soul, field, value, state):
    return {"soul": soul, "field": field, **encode_value(value), "state": float(state)}


# ---------------------------------------------------------------------------
# unit matrix (gun/state.go:60-79)
# ---------------------------------------------------------------------------

MATRIX = [
    # existing_val, existing_state, new_val, new_state, sys_state, expected
    ("a", None, "b", 5.0, 10.0, NEVER_SEEN_UPDATE),
    ("a", 5.0, "b", 11.0, 10.0, TOO_FUTURE_DEFERRED),
    ("a", 5.0, "b", 3.0, 10.0, OLDER_HISTORICAL),
    ("a", 5.0, "b", 7.0, 10.0, NEWER_UPDATE),
    ("a", 5.0, "a", 5.0, 10.0, SAME_KEEP),  # equal value
    ("a", 5.0, "b", 5.0, 10.0, SAME_UPDATE),  # "b" > "a" lexically
    ("b", 5.0, "a", 5.0, 10.0, SAME_KEEP),
    # cross-type on equal state: JSON bytes — '"s"'(0x22) vs 'true'(0x74) vs
    # '123'(0x31) vs 'null'(0x6e) vs '{"#":..}'(0x7b)
    ("a", 5.0, True, 5.0, 10.0, SAME_UPDATE),  # 't' > '"'
    (True, 5.0, "a", 5.0, 10.0, SAME_KEEP),
    (123, 5.0, None, 5.0, 10.0, SAME_UPDATE),  # 'n' > '1'
    (None, 5.0, {"#": "x"}, 5.0, 10.0, SAME_UPDATE),  # '{' > 'n'
    ({"#": "x"}, 5.0, "zzz", 5.0, 10.0, SAME_KEEP),  # '{' > '"'
    (2, 5.0, 10, 5.0, 10.0, SAME_KEEP),  # lexical, not numeric: '2' > '1'
    # equal-state edge values, ranked by value_json_py(encode_value(v))
    (-0.0, 5.0, 0, 5.0, 10.0, SAME_UPDATE),  # '-0.0' < '0': '-' (0x2d) < '0'
    (0, 5.0, -0.0, 5.0, 10.0, SAME_KEEP),
    (10**20, 5.0, 1e20, 5.0, 10.0, SAME_UPDATE),  # '100000000000000000000' < '1e+20'
    (1e20, 5.0, 10**20, 5.0, 10.0, SAME_KEEP),
    (10**20, 5.0, 10**20, 5.0, 10.0, SAME_KEEP),
    (1.5, 5.0, "1.5", 5.0, 10.0, SAME_KEEP),  # '1.5' > '"1.5"': '1' > '"'
    ("1.5", 5.0, 1.5, 5.0, 10.0, SAME_UPDATE),
    ("a\u2028", 5.0, "a~", 5.0, 10.0, SAME_KEEP),  # U+2028 unescaped: e2 80 a8 > '~'
    ("a~", 5.0, "a\u2028", 5.0, 10.0, SAME_UPDATE),
    ("\x7f", 5.0, "~", 5.0, 10.0, SAME_KEEP),  # DEL unescaped: 0x7f > '~' (0x7e)
    ("~", 5.0, "\x7f", 5.0, 10.0, SAME_UPDATE),
    ({"#": "a"}, 5.0, {"#": "b"}, 5.0, 10.0, SAME_UPDATE),  # '{"#":"a"}' < '{"#":"b"}'
    ({"#": "b"}, 5.0, {"#": "a"}, 5.0, 10.0, SAME_KEEP),
    ({"#": "a"}, 5.0, {"#": "a"}, 5.0, 10.0, SAME_KEEP),
    ({"#": "x"}, 5.0, '{"#":"x"}', 5.0, 10.0, SAME_KEEP),  # relation '{' > the string's '"'
]


@pytest.mark.parametrize("ev,es,nv,ns,ss,expected", MATRIX)
def test_conflict_resolve_matrix(ev, es, nv, ns, ss, expected):
    assert conflict_resolve(ev, es, nv, ns, ss) == expected


def test_immediate_update_set():
    # gun/state.go:50-54
    assert ham.IMMEDIATE_UPDATE == {NEVER_SEEN_UPDATE, NEWER_UPDATE, SAME_UPDATE}


# ---------------------------------------------------------------------------
# sequential oracle: apply updates one at a time with conflict_resolve
# ---------------------------------------------------------------------------


def sequential_replay(rows, sys_state=float("inf")):
    """Arrival-order replay through the pure-Python decision table, with
    the reference's deferral retry loop (gun/storage.go:107-117)."""
    store: dict[tuple[str, str], tuple[object, float]] = {}
    pending = list(rows)
    while pending:
        deferred = []
        for r in pending:
            key = (r["soul"], r["field"])
            val = decode_value(r)
            if key not in store:
                if sys_state < r["state"]:
                    deferred.append(r)
                    continue
                store[key] = (val, r["state"])
                continue
            ev, es = store[key]
            res = conflict_resolve(ev, es, val, r["state"], sys_state)
            if res == TOO_FUTURE_DEFERRED:
                deferred.append(r)
            elif res in ham.IMMEDIATE_UPDATE:
                store[key] = (val, r["state"])
        if len(deferred) == len(pending):
            break  # only futures left
        pending = deferred
    return store


def spark_result(spark, rows, as_of=None):
    df = spark.createDataFrame([dict(r) for r in rows], QUAD_SCHEMA)
    merged = ham_apply_updates(empty_quads(spark), df, as_of_ms=as_of).quads
    out = {}
    for r in merged.collect():
        out[(r["soul"], r["field"])] = (decode_value(r), r["state"])
    return out


def test_merge_matches_sequential_oracle_random(spark):
    rng = random.Random(42)
    values = ["a", "b", "zz", 1, 2, 10, 2.5, True, False, None, {"#": "n1"}, {"#": "n2"}]
    rows = [
        q(f"s{rng.randint(0, 3)}", f"f{rng.randint(0, 2)}", rng.choice(values), rng.randint(1, 6))
        for _ in range(300)
    ]
    expected = sequential_replay(rows)
    got = spark_result(spark, rows)
    assert got == expected


def test_merge_order_independence(spark):
    rows = [
        q("s", "f", "a", 5),
        q("s", "f", "b", 5),
        q("s", "f", "older", 3),
        q("s", "f", True, 5),
    ]
    base = spark_result(spark, rows)
    for perm in itertools.permutations(rows):
        assert sequential_replay(list(perm)) == base


# ---------------------------------------------------------------------------
# golden replay scenarios (FIXTURES.md §1.2)
# ---------------------------------------------------------------------------


def test_newer_wins(spark):
    got = spark_result(spark, [q("s", "f", "old", 1), q("s", "f", "new", 2)])
    assert got == {("s", "f"): ("new", 2.0)}


def test_older_discarded(spark):
    got = spark_result(spark, [q("s", "f", "current", 5), q("s", "f", "stale", 1)])
    assert got == {("s", "f"): ("current", 5.0)}


def test_same_state_lexical(spark):
    got = spark_result(spark, [q("s", "f", "apple", 5), q("s", "f", "banana", 5)])
    assert got == {("s", "f"): ("banana", 5.0)}
    # bool-vs-string: 'true' > '"zebra"' byte-wise
    got = spark_result(spark, [q("s", "g", "zebra", 5), q("s", "g", True, 5)])
    assert got == {("s", "g"): (True, 5.0)}


def test_future_deferred_then_applied(spark):
    rows = [q("s", "f", "now", 100), q("s", "f", "future", 1000)]
    res = ham_apply_updates(
        empty_quads(spark), spark.createDataFrame(rows, QUAD_SCHEMA), as_of_ms=500
    )
    snap = {(r["soul"], r["field"]): decode_value(r) for r in res.quads.collect()}
    assert snap == {("s", "f"): "now"}
    deferred = res.deferred.collect()
    assert len(deferred) == 1 and decode_value(deferred[0]) == "future"
    # clock advances past the deferred state -> applied
    res2 = ham_apply_updates(res.quads, res.deferred, as_of_ms=2000)
    snap2 = {(r["soul"], r["field"]): decode_value(r) for r in res2.quads.collect()}
    assert snap2 == {("s", "f"): "future"}


def test_duplicate_suppressed(spark):
    rows = [q("s", "f", "v", 5)] * 4
    merged = ham_merge(spark.createDataFrame(rows, QUAD_SCHEMA))
    assert merged.count() == 1


def test_null_vs_absent(spark):
    got = spark_result(spark, [q("s", "f", None, 5)])
    assert got == {("s", "f"): (None, 5.0)}  # stored null IS present
    assert ("s", "g") not in got  # never-stored key is absent


def test_value_json_spark_matches_python(spark):
    values = ["plain", 'quo"te', "unié", 1, -2.5, 1e20, True, False, None, {"#": "abc"}]
    rows = [q("s", f"f{i}", v, 1) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, QUAD_SCHEMA).withColumn("vj", ham.value_json_col())
    got = {r["field"]: r["vj"] for r in df.collect()}
    for i, v in enumerate(values):
        assert got[f"f{i}"] == ham.value_json_py(rows[i]), v


# ---------------------------------------------------------------------------
# property-based: replay ≡ algebraic reduction (hypothesis)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    _values = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(10**15), max_value=10**15),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        st.text(max_size=8),
        st.builds(lambda s: {"#": s}, st.text(min_size=1, max_size=6)),
    )
    _rows = st.lists(
        st.builds(
            lambda s, f, v, t: q(f"s{s}", f"f{f}", v, t),
            st.integers(0, 2),
            st.integers(0, 2),
            _values,
            st.integers(1, 5),
        ),
        min_size=1,
        max_size=40,
    )

    def _maxby_reduction(rows):
        """What the distributed merge computes: max over (state, value_json)
        per key — one max_by aggregate, no notion of arrival order."""
        from esgopeta_spark.types import value_json_py

        best: dict[tuple[str, str], tuple[float, str, object]] = {}
        for r in rows:
            key = (r["soul"], r["field"])
            rank = (r["state"], value_json_py(r))
            if key not in best or rank > (best[key][0], best[key][1]):
                best[key] = (rank[0], rank[1], decode_value(r))
        return {k: (v[2], v[0]) for k, v in best.items()}

    @given(_rows, st.randoms())
    @settings(max_examples=300, deadline=None)
    def test_property_replay_equals_maxby_any_order(rows, rnd):
        """The load-bearing CRDT theorem behind the engine: sequential
        arrival-order HAM replay (the reference's semantics,
        gun/storage.go:91-122) converges to the order-free
        max-by-(state, value_json) reduction (our distributed merge,
        ham.ham_merge) for EVERY log and EVERY arrival order."""
        want = _maxby_reduction(rows)
        assert sequential_replay(rows) == want
        shuffled = list(rows)
        rnd.shuffle(shuffled)
        assert sequential_replay(shuffled) == want

    @given(_rows)
    @settings(max_examples=100, deadline=None)
    def test_property_merge_idempotent_under_replay(rows):
        """Replaying the whole log on top of the converged store changes
        nothing — the foundation of the streaming upsert sink's
        at-least-once safety."""
        once = _maxby_reduction(rows)
        assert _maxby_reduction(rows + rows) == once


def test_field_history_intervals_consistent_with_merge(spark):
    """Each (soul, field)'s LAST version (NULL valid_to) must equal the
    ham_merge winner; intervals chain without gaps or overlaps."""
    from esgopeta_spark.ham import field_history, ham_merge
    from esgopeta_spark.plans.catalog import _events_as_updates

    upd = _events_as_updates(spark, "/root/testdata/sf0.001")
    hist = field_history(upd).collect()
    merged = {
        (r["soul"], r["field"]): r["value_number"]
        for r in ham_merge(upd).collect()
    }
    by_key: dict = {}
    for r in hist:
        by_key.setdefault((r["soul"], r["field"]), []).append(r)
    assert set(by_key) == set(merged)
    for key, versions in by_key.items():
        versions.sort(key=lambda r: r["version"])
        assert [r["version"] for r in versions] == list(range(1, len(versions) + 1))
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to_ms"] == b["valid_from_ms"]  # gapless chain
        assert versions[-1]["valid_to_ms"] is None
        assert versions[-1]["value_number"] == merged[key]  # current == merge


def test_field_history_carries_nonnumeric_payloads(spark):
    """r4 ADVICE: history rows of string/bool/relation-valued fields must
    retain their payload (the old projection surfaced NULL value rows for
    every non-numeric version)."""
    from esgopeta_spark.ham import field_history
    from esgopeta_spark.types import UPDATE_SCHEMA, encode_value

    def u(soul, field, value, state):
        import datetime

        return {
            "msg_id": f"{soul}/{field}/{state}", "ack_id": None, "peer_id": "p",
            "recv_ts": datetime.datetime(2024, 1, 1),
            "soul": soul, "field": field, **encode_value(value), "state": float(state),
        }

    log = [
        u("s", "name", "alice", 100), u("s", "name", "bob", 200),
        u("s", "flag", True, 100), u("s", "flag", False, 300),
        u("s", "link", {"#": "other"}, 150),
        u("s", "n", 1, 100), u("s", "n", 2, 200),
    ]
    hist = field_history(spark.createDataFrame(log, UPDATE_SCHEMA)).collect()
    by = {}
    for r in hist:
        by.setdefault(r["field"], []).append(r)
    names = sorted(by["name"], key=lambda r: r["version"])
    assert [r["value_string"] for r in names] == ["alice", "bob"]
    flags = sorted(by["flag"], key=lambda r: r["version"])
    assert [r["value_bool"] for r in flags] == [True, False]
    assert by["link"][0]["value_relation"] == "other"
    ns = sorted(by["n"], key=lambda r: r["version"])
    assert [r["value_number"] for r in ns] == [1.0, 2.0]
    # every row still exposes the full VALUE_COLUMNS surface
    assert {"value_type", "value_number_raw", "value_number", "value_string",
            "value_bool", "value_relation"} <= set(hist[0].asDict())


def test_quads_frame_matches_python_rdd_frame(spark):
    """``quads_frame`` returns the rows ``createDataFrame(rows,
    QUAD_SCHEMA)`` returns (nulls, relations, big numbers, non-ASCII
    souls, absent value columns) from a local Arrow scan, not a Python RDD."""
    values = [None, 7, 2.5, 10**20, "ünï", True, {"#": "日本"}]
    rows = [{"soul": soul, "field": f"f{i}", **encode_value(v), "state": float(i)}
            for i, (soul, v) in enumerate(zip(["s", "sé", "日本", "s", "sé", "日本", "s"], values))]
    rows.append({"soul": "s", "field": "sparse", "value_type": "null", "state": 9.0})
    for got, want in [(quads_frame(spark, rows), spark.createDataFrame(rows, QUAD_SCHEMA)),
                      (empty_quads(spark), spark.createDataFrame([], QUAD_SCHEMA))]:
        assert got.schema == want.schema == QUAD_SCHEMA
        assert sorted(got.collect()) == sorted(want.collect())
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
