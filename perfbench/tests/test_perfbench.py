"""Tests of the benchmark itself: generator determinism and stated mix
shares, the oracles, the tail statistic, the span recorder, and the
runner's refusal to run without the program.

    python3 -m pytest perfbench/tests -q

``test_ingest_end_to_end`` starts Spark (about half a minute); the rest
need no Spark session.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402

SPEC = gen.GraphSpec(n_users=200, batch_rows=400, roots_per_set=50)


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def test_same_seed_same_inputs_and_different_seed_different_inputs():
    assert gen.self_check(SPEC, 7)
    assert gen.digest(SPEC, 7) != gen.digest(SPEC, 8)


def test_update_batch_has_the_stated_shares():
    as_of = gen.batch_as_of(3)
    rows = gen.update_batch(SPEC, 1, 3)
    assert len(rows) == SPEC.batch_rows
    stale = sum(1 for r in rows if r[3] < gen.T0 - 100_000)
    deferred = sum(1 for r in rows if r[3] > as_of)
    by_key_state = {}
    for s, f, v, st in rows:
        by_key_state.setdefault((s, f, st), []).append(v)
    tie_rows = sum(len(v) for v in by_key_state.values() if len(v) > 1)
    assert stale == round(SPEC.batch_rows * SPEC.stale_share)
    assert deferred == round(SPEC.batch_rows * SPEC.deferred_share)
    assert tie_rows >= round(SPEC.batch_rows * SPEC.tie_share)


def test_session_scripts_are_put_readback_fetch_triples_on_distinct_users():
    ops = gen.session_script(SPEC, 3, 0)
    assert [o[0] for o in ops] == ["put", "fetch", "fetch"] * (SPEC.session_ops // 3)
    for k in range(0, len(ops), 3):
        assert ops[k + 1][1] == ops[k][1]  # read-back of the put path
    users = [ops[k][1][0] for k in range(len(ops)) if k % 3 != 1]
    assert len(users) == len(set(users))


def test_catalog_tables_match_the_entry_schemas():
    t = gen.catalog_tables(0.001)
    assert set(t) == {"region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                      "events", "documents", "embeddings"}
    assert str(t["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert len(t["embeddings"]["embedding"][0]) == 64


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def _value(rng):
    return rng.choice([None, True, False, rng.randint(0, 9), rng.choice("abc"), {"#": rng.choice("xy")}])


def test_fold_agrees_with_the_reference_decision_table():
    from esgopeta_spark.ham import IMMEDIATE_UPDATE, conflict_resolve

    rng = random.Random(0)
    for _ in range(2000):
        old_v, new_v = _value(rng), _value(rng)
        old_s, new_s = rng.randint(0, 3), rng.randint(0, 3)
        outcome = conflict_resolve(old_v, old_s, new_v, new_s, sys_state=10)
        assert oracle.wins(new_s, new_v, (old_s, old_v)) == (outcome in IMMEDIATE_UPDATE)


def test_fold_defers_future_rows_until_the_clock_reaches_them():
    m = oracle.HamModel([("a", "f", 1, 10.0)])
    m.upsert([("a", "f", 2, 30.0), ("a", "f", 0, 5.0)], as_of=20.0)
    assert m.store[("a", "f")] == (10.0, 1) and len(m.pending) == 1
    m.upsert([], as_of=30.0)
    assert m.store[("a", "f")] == (30.0, 2) and m.pending == []


def test_equal_states_keep_the_lexically_larger_value():
    m = oracle.HamModel([("a", "f", "b", 1.0), ("a", "f", "a", 1.0), ("a", "g", 9, 1.0), ("a", "g", "x", 1.0)])
    assert m.store[("a", "f")][1] == "b"
    assert m.store[("a", "g")][1] == 9  # '9' > '"x"' bytewise


def test_point_model_creates_missing_parents_lazily():
    base = oracle.HamModel([("u1", "profile", {"#": "p1"}, 1.0), ("p1", "age", 30, 1.0)])
    m = oracle.PointModel(base, oracle.SeqSouls("s"))
    assert m.put(("u1", "profile", "age"), 31, 2.0) == [("p1", "age", 31, 2.0)]
    assert m.put(("u1", "note", "text"), "hi", 3.0) == [("u1", "note", {"#": "s-1"}, 3.0),
                                                       ("s-1", "text", "hi", 3.0)]
    assert m.fetch(("u1", "note", "text")) == ("hi", True, 3.0)
    assert m.fetch(("u1", "profile", "age")) == (31, True, 2.0)
    assert m.fetch(("u2", "profile", "age")) == (None, False, None)


def test_traverse_and_pagerank_oracles_on_a_triangle():
    rows = [("a", "next", {"#": "b"}, 1.0), ("b", "next", {"#": "c"}, 1.0), ("c", "next", {"#": "a"}, 1.0),
            ("c", "score", 7, 1.0)]
    con = oracle.graph_duckdb(rows)
    got = oracle.traverse_expected(con, [(0, "a"), (1, "b")], ("next", "next"), "score")
    assert got == [(0, "c", "7", 1.0), (1, "a", None, None)]
    # every node has in- and out-degree 1: 150000 + 85 * 1000000 / 100
    assert oracle.pagerank_expected(con, 1) == [("a", 1000000), ("b", 1000000), ("c", 1000000)]


def test_rows_hash_ignores_row_and_column_order():
    assert oracle.rows_hash(["x", "y"], [(1, 2.5), (3, None)]) == oracle.rows_hash(["y", "x"], [(None, 3), (2.5, 1)])
    assert oracle.rows_hash(["x"], [(1,)]) != oracle.rows_hash(["x"], [(2,)])


# ---------------------------------------------------------------------------
# statistics and spans
# ---------------------------------------------------------------------------


def test_tail_is_the_highest_percentile_with_ten_samples_beyond_it():
    assert run.tail([1.0] * 10) is None
    value, pct, n = run.tail([float(i) for i in range(40)])
    assert (value, pct, n) == (29.0, 75.0, 40)
    assert sum(1 for i in range(40) if i > value) == 10


def test_op_ms_keeps_the_quieter_half_of_each_position():
    def op(slot, dt, steal):
        return {"slot": slot, "dt": dt, "steal": steal}

    samples = [op(0, 1.0, 0.0), op(1, 8.0, 0.2), op(0, 3.0, 0.1), op(1, 2.0, 0.0), op(0, 5.0, 0.3),
               op(1, None, 0.0), op(0, 4.0, 0.0)]  # a failed op has no latency
    # position 0 keeps 4.0 and 1.0 (two of four; on a tie the later op), position 1 keeps 2.0
    assert run.quiet_op_s(samples) == pytest.approx((4.0 * 1.0 * 2.0) ** (1 / 3))


def test_self_time_subtracts_children_and_groups_by_layer():
    t = Tracer(enabled=True)
    t.active = True
    with t.span("graph.fetch_one", "graph"):
        time.sleep(0.02)
        with t.span("ham.ham_merge", "ham"):
            time.sleep(0.03)
    st = t.self_times()
    assert 0.015 < st[0] < 0.03 and st[1] >= 0.03
    layers = t.layer_table()
    assert set(layers) == {"graph", "ham"} and layers["ham"]["spans"] == 1
    assert [s["id"] for s in t.subtree(0)] == [0, 1]


def test_inactive_tracer_records_nothing():
    t = Tracer(enabled=True)
    with t.span("graph.put", "graph") as rec:
        assert rec is None
    assert t.spans == []


def test_every_metric_has_a_unit_and_matches_the_benchmark_file():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in bench["workloads"]] == ["ingest", "graph_reads", "catalog_mix"]


# ---------------------------------------------------------------------------
# runner
# ---------------------------------------------------------------------------


def test_runner_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "tests"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_ingest_end_to_end():
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "3",
                        "--seconds", "1", "--trace", "1"], cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == set(run.per_layer_units())
    assert m["sources.io.buckets_touched_per_batch"] >= 0.9 * gen.GraphSpec().n_buckets
    assert m["streaming.upsert.jobs_per_batch"] > 0
