"""GunGraph path API tests — re-expressions of the reference's e2e tests
(gun/tests/gun_test.go) plus the lazy-parent / traversal semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from esgopeta_spark.graph import ErrNotObject, GunGraph
from esgopeta_spark.soul import SoulGen
from esgopeta_spark.types import QUAD_SCHEMA, decode_value, encode_value


def fresh_graph(spark):
    return GunGraph(spark, soul_gen=SoulGen(seed=7))


def test_simple_put_get(spark):
    """TestGunGetSimple shape (gun/tests/gun_test.go:10-40): write
    esgopeta-test/TestGunGetSimple/some-field = 'some-value', read it back."""
    g = fresh_graph(spark)
    g = g.put(["esgopeta-test", "TestGunGetSimple", "some-field"], "some-value", state=1000.0).graph
    r = g.fetch_one("esgopeta-test", "TestGunGetSimple", "some-field")
    assert r.value_exists and r.value == "some-value" and r.state == 1000.0


def test_top_level_fetch_is_self_relation(spark):
    # gun/scoped_fetch.go:58-62
    g = fresh_graph(spark)
    r = g.fetch_one("anything")
    assert r.value_exists and r.value == {"#": "anything"}


def test_absent_key(spark):
    g = fresh_graph(spark)
    g = g.put(["root", "child", "f"], 1, state=1.0).graph
    r = g.fetch_one("root", "child", "missing")
    assert not r.value_exists and r.value is None
    r2 = g.fetch_one("root", "nope", "f")
    assert not r2.value_exists


def test_lazy_parent_creation(spark):
    """FIXTURES.md scenario 7: a deep put creates the full relation chain
    (gun/scoped_put.go:93-127), all sharing one state."""
    g = fresh_graph(spark)
    res = g.put(["a", "b", "c", "d"], 42, state=777.0)
    g = res.graph
    # 2 lazy parents (a->b, b->c) + 1 leaf
    assert len(res.updates) == 3
    assert all(u["state"] == 777.0 for u in res.updates)
    assert res.updates[0]["soul"] == "a" and res.updates[0]["field"] == "b"
    assert res.updates[0]["value_type"] == "relation"
    # chain resolves
    assert g.fetch_one("a", "b", "c", "d").value == 42
    # intermediate souls exist and link up
    soul_b = g.soul_of("a", "b")
    soul_c = g.soul_of("a", "b", "c")
    assert soul_b and soul_c and soul_b != soul_c
    assert g.node(soul_b)["c"] == {"#": soul_c}


def test_put_leaves_the_graph_it_was_called_on_unchanged(spark):
    """Two puts from the same graph: each creates its own parent chain,
    because the souls the first put created belong to its new graph only,
    and neither put changes the original graph's soul cache."""
    g = fresh_graph(spark)
    first = g.put(["a", "b", "c"], 1, state=1.0)
    assert g._soul_cache == {}
    second = g.put(["a", "b", "d"], 2, state=2.0)
    assert g._soul_cache == {}
    relations = [u for u in second.updates if u["soul"] == "a" and u["field"] == "b"]
    assert len(relations) == 1 and relations[0]["value_type"] == "relation"
    new_soul = relations[0]["value_relation"]
    assert new_soul != first.graph.soul_of("a", "b")
    assert second.graph.fetch_one("a", "b", "d").value == 2
    assert second.graph.fetch_one("a", "b", "c").value_exists is False
    assert g.fetch_one("a", "b", "c").value_exists is False


def test_put_reuses_existing_parents(spark):
    g = fresh_graph(spark)
    g = g.put(["a", "b", "x"], 1, state=1.0).graph
    soul_b = g.soul_of("a", "b")
    res = g.put(["a", "b", "y"], 2, state=2.0)
    assert len(res.updates) == 1  # no new parents
    g = res.graph
    assert g.soul_of("a", "b") == soul_b
    assert g.fetch_one("a", "b", "x").value == 1
    assert g.fetch_one("a", "b", "y").value == 2


def test_put_through_scalar_raises(spark):
    g = fresh_graph(spark)
    g = g.put(["a", "b"], "scalar", state=1.0).graph
    with pytest.raises(ErrNotObject):
        g.put(["a", "b", "c"], 1, state=2.0)


def test_fail_without_parent(spark):
    g = fresh_graph(spark)
    with pytest.raises(ErrNotObject):
        g.put(["a", "missing", "leaf"], 1, state=1.0, fail_without_parent=True)


def test_top_level_put_rejected(spark):
    g = fresh_graph(spark)
    with pytest.raises(ValueError):
        g.put(["solo"], 1)


def test_put_conflict_respects_ham(spark):
    g = fresh_graph(spark)
    g = g.put(["r", "n", "f"], "newer", state=10.0).graph
    g = g.put(["r", "n", "f"], "stale", state=5.0).graph  # older: discarded
    assert g.fetch_one("r", "n", "f").value == "newer"
    g = g.put(["r", "n", "f"], "zz-wins", state=10.0).graph  # same state, lexically bigger
    assert g.fetch_one("r", "n", "f").value == "zz-wins"


PUT_BASE_ROWS = [
    {"soul": "root", "field": "user", **encode_value({"#": "u1"}), "state": 10.0},
    {"soul": "u1", "field": "name", **encode_value("alice"), "state": 10.0},
    {"soul": "u1", "field": "age", **encode_value(30), "state": 10.0},
]


def _puts_over_base(spark, g):
    """Puts over a snapshot base: HAM decides between the overlay and the
    base row, parents found only in the base are reused, and quads stays
    ONE merge of base and overlay however puts and fetches interleave."""
    from esgopeta_spark.ham import ham_merge

    puts = []

    res = g.put(["root", "user", "name"], "old", state=5.0)
    assert [(u["soul"], u["field"]) for u in res.updates] == [("u1", "name")]  # parent reused
    g, puts = res.graph, puts + res.updates
    r = g.fetch_one("root", "user", "name")
    assert (r.value, r.state) == ("alice", 10.0)  # older than the base row: loses

    res = g.put(["root", "user", "name"], "bob", state=10.0)
    g, puts = res.graph, puts + res.updates
    r = g.fetch_one("root", "user", "name")
    assert (r.value, r.state) == ("bob", 10.0)  # equal state, '"bob"' > '"alice"': wins
    res = g.put(["root", "user", "name"], "al", state=10.0)
    g, puts = res.graph, puts + res.updates
    assert g.fetch_one("root", "user", "name").value == "bob"  # equal state, smaller: loses

    res = g.put(["root", "other", "x"], 1, state=20.0)
    g, puts = res.graph, puts + res.updates
    assert g.fetch_one("root", "other", "x").value == 1
    assert g.fetch_one("root", "user", "age").value == 30

    want = ham_merge(
        spark.createDataFrame(PUT_BASE_ROWS, QUAD_SCHEMA).unionByName(spark.createDataFrame(puts, QUAD_SCHEMA))
    )
    got_rows = {(r["soul"], r["field"]): tuple(r) for r in g.quads.collect()}
    want_rows = {(r["soul"], r["field"]): tuple(r) for r in want.collect()}
    assert got_rows == want_rows and len(got_rows) == 5
    plan = g.quads._jdf.queryExecution().logical().toString()
    aggregates = [line for line in plan.splitlines() if line.lstrip(" :+-|").startswith("Aggregate")]
    assert len(aggregates) == 1, plan
    return g


def test_puts_over_nonempty_base(spark):
    _puts_over_base(spark, GunGraph.from_rows(spark, PUT_BASE_ROWS, soul_gen=SoulGen(seed=7)))


def _store_base(spark, tmp_path, rows, n_buckets=4):
    from esgopeta_spark.sources import read_quads, write_quads

    path = str(tmp_path / "store")
    write_quads(spark.createDataFrame(rows, QUAD_SCHEMA), path, n_buckets=n_buckets)
    return read_quads(spark, path)


@pytest.mark.parametrize("derived", [False, True], ids=["store_probe", "spark_fallback"])
def test_puts_over_store_base(spark, tmp_path, derived):
    """The same HAM cases over a read_quads base, probed by pyarrow on the
    driver — or, for a derived frame, by Spark — and node() is the record
    view of quads, overlay included."""
    base = _store_base(spark, tmp_path, PUT_BASE_ROWS)
    if derived:
        base = base.filter(F.lit(True))
    g = GunGraph(spark, base, soul_gen=SoulGen(seed=7))
    assert (g._snapshot is None) == derived
    g = _puts_over_base(spark, g)
    quads = g.quads.collect()
    for soul in {r["soul"] for r in quads}:
        assert g.node(soul) == {r["field"]: decode_value(r) for r in quads if r["soul"] == soul}
    assert g.node("u1") == {"name": "bob", "age": 30} and g.node("nobody") == {}


def test_store_probe_matches_spark_probe(spark, tmp_path):
    """Row for row, the one-bucket pyarrow probe returns what the Spark
    probe of the same snapshot returns: every stored key, absent fields,
    an absent soul, and a soul whose bucket holds no rows."""
    from esgopeta_spark.sources.io import soul_bucket

    values = [None, 7, 2.5, "text", "ünï", True, False, {"#": "s2"}, 10**20]
    rows = [
        {"soul": soul, "field": f"f{j}", **encode_value(values[(i * 3 + j) % len(values)]), "state": float(i + j)}
        for i, soul in enumerate(["s0", "s1", "s2", "sé", "日本"])
        for j in range(3)
    ]
    base = _store_base(spark, tmp_path, rows, n_buckets=16)
    store, derived = GunGraph(spark, base), GunGraph(spark, base.filter(F.lit(True)))
    live = base._store_snapshot.buckets
    no_bucket = next(s for s in (f"nobody{i}" for i in range(100)) if str(soul_bucket(s, 16)) not in live)

    def canon(rs):
        return sorted(tuple(r[f.name] for f in QUAD_SCHEMA.fields) for r in rs)

    for r in rows:
        got = canon(store._probe(r["soul"], r["field"]))
        assert got == canon([r]) == canon(derived._probe(r["soul"], r["field"]))
    for soul, field in [("s1", "missing"), ("absent", "f0"), (no_bucket, "f0")]:
        assert store._probe(soul, field) == [] and derived._probe(soul, field) == []
    for soul in ["s0", "sé", "日本", "absent", no_bucket]:
        assert canon(store._probe(soul)) == canon(derived._probe(soul))


def test_store_point_ops_run_no_spark_job(spark, tmp_path):
    """put, fetch_one and node on a read_quads base run no Spark job; the
    same ops on a derived frame do (so the count is not vacuous)."""
    base = _store_base(spark, tmp_path, PUT_BASE_ROWS)
    sc = spark.sparkContext

    def jobs(group, b):
        sc.setJobGroup(group, group)
        try:
            g = GunGraph(spark, b, soul_gen=SoulGen(seed=7))
            g = g.put(["root", "user", "name"], "bob", state=11.0).graph
            g = g.put(["root", "other", "x"], 1, state=11.0).graph
            assert g.fetch_one("root", "user", "name").value == "bob"
            assert g.fetch_one("root", "user", "age").value == 30
            assert g.fetch_one("root", "other", "x").value == 1
            assert g.node("u1") == {"name": "bob", "age": 30}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("store-point-ops", base) == 0
    assert jobs("derived-point-ops", base.filter(F.lit(True))) > 0


def test_pubsub_update_shape(spark):
    """FIXTURES.md scenario 10 (TestGunPubSubSimpleRemote shape): a second
    writer's update lands in the first graph via the update log."""
    g1 = fresh_graph(spark)
    g1 = g1.put(["chat", "room1", "msg"], "hello", state=1.0).graph
    # writer 2 produces update rows; reader applies them
    g2 = GunGraph(spark, g1.quads, soul_gen=SoulGen(seed=9))
    res = g2.put(["chat", "room1", "msg"], "world", state=2.0)
    updates = spark.createDataFrame(res.updates, QUAD_SCHEMA)
    from esgopeta_spark.ham import ham_merge

    g1b = GunGraph(spark, ham_merge(g1.quads.unionByName(updates)))
    assert g1b.fetch_one("chat", "room1", "msg").value == "world"


def test_bulk_traverse(spark):
    """Distributed multi-hop traversal over many roots (no collect)."""
    g = fresh_graph(spark)
    for i in range(10):
        g = g.put(["users", f"u{i}", "profile", "name"], f"name-{i}", state=float(i + 1)).graph
    roots = spark.createDataFrame(
        [(g.soul_of("users", f"u{i}"), i) for i in range(10)], "soul string, uid int"
    )
    out = g.traverse(roots, "profile")
    named = g.values_at(out, "name").select("uid", "value_string").collect()
    assert {r["uid"]: r["value_string"] for r in named} == {i: f"name-{i}" for i in range(10)}


def _friends_graph(spark, tmp_path):
    """A store graph where ``u{i}.friend`` relates to ``u{i+1}``."""
    rows = [{"soul": f"u{i}", "field": "friend", **encode_value({"#": f"u{i + 1}"}), "state": 1.0} for i in range(5)]
    rows += [{"soul": "users", "field": f"u{i}", **encode_value({"#": f"u{i}"}), "state": 1.0} for i in range(6)]
    return GunGraph(spark, _store_base(spark, tmp_path, rows), soul_gen=SoulGen(seed=7))


def test_second_traverse_reads_the_edge_view_not_the_store(spark, tmp_path):
    """The first traverse materializes the graph's one edge view; a second
    traverse runs its hops from those blocks, so it still answers once the
    store's files are gone."""
    import shutil

    g = _friends_graph(spark, tmp_path)
    roots = spark.createDataFrame([("u0", 0), ("u2", 2)], "soul string, root int")

    def two_hops():
        return sorted((r["root"], r["soul"]) for r in g.traverse(roots, "friend", "friend").collect())

    assert two_hops() == [(0, "u2"), (2, "u4")]
    assert g.edges() is g.edges()
    shutil.rmtree(tmp_path / "store")
    assert two_hops() == [(0, "u2"), (2, "u4")]


def test_put_derived_graph_has_its_own_edge_view(spark, tmp_path):
    """``put`` returns a graph whose edges include the new relation; the
    graph it was called on keeps its view without it."""
    g = _friends_graph(spark, tmp_path)
    roots = spark.createDataFrame([("u5",)], "soul string")
    assert g.traverse(roots, "friend").collect() == []  # materializes g's view
    g2 = g.put(["users", "u5", "friend"], {"#": "u0"}, state=2.0).graph
    assert [r["soul"] for r in g2.traverse(roots, "friend").collect()] == ["u0"]
    assert g.traverse(roots, "friend").collect() == []
    new_edge = ("u5", "friend", "u0")
    assert new_edge in {tuple(r) for r in g2.edges().collect()}
    assert new_edge not in {tuple(r) for r in g.edges().collect()}


def test_storage_ttl_and_tracking(spark):
    from esgopeta_spark.storage import Tracking, apply_tracking, purge_expired

    rows = [
        {"soul": "s", "field": "old", **encode_value(1), "state": 100.0},
        {"soul": "s", "field": "new", **encode_value(2), "state": 900.0},
    ]
    quads = spark.createDataFrame(rows, QUAD_SCHEMA)
    kept = purge_expired(quads, now_ms=1000.0, ttl_ms=500.0)
    assert [r["field"] for r in kept.collect()] == ["new"]

    observed = spark.createDataFrame(
        [
            {"soul": "s", "field": "new", **encode_value(3), "state": 950.0},
            {"soul": "s", "field": "unseen", **encode_value(4), "state": 950.0},
        ],
        QUAD_SCHEMA,
    )
    tracked = apply_tracking(quads, observed, Tracking.REQUESTED)
    assert [r["field"] for r in tracked.collect()] == ["new"]
    assert apply_tracking(quads, observed, Tracking.NOTHING).count() == 0
    assert apply_tracking(quads, observed, Tracking.EVERYTHING).count() == 2



def test_scoped_chain_api(spark):
    """Reference-shaped fluent chains (gun/scoped.go): build lazily, fetch,
    put through the chain."""
    g = fresh_graph(spark)
    s = g.scoped("esgopeta-test").scoped("TestGunGetSimple", "some-field")
    assert s.path == ["esgopeta-test", "TestGunGetSimple", "some-field"]
    s2 = s.put("some-value", state=42.0)
    assert len(s2.last_put) == 2  # lazy parent + leaf
    r = s2.fetch_one()
    assert r.value == "some-value" and r.state == 42.0
    # soul memoization across the chain
    assert s2.graph.soul_of("esgopeta-test", "TestGunGetSimple") == s2.graph.soul_of(
        "esgopeta-test", "TestGunGetSimple"
    )


def test_scoped_subscribe_live(spark, tmp_path):
    """A6 live Fetch: a subscription stream emits only winning updates for
    the subscribed key."""
    from esgopeta_spark.types import QUAD_SCHEMA

    g = fresh_graph(spark)
    g = g.put(["chat", "room1", "msg"], "hello", state=100.0).graph
    soul = g.soul_of("chat", "room1")

    updates = [
        {"soul": soul, "field": "msg", **encode_value("world"), "state": 200.0},
        {"soul": soul, "field": "msg", **encode_value("stale"), "state": 50.0},  # loses
        {"soul": soul, "field": "other", **encode_value("x"), "state": 300.0},  # other key
        {"soul": "other-soul", "field": "msg", **encode_value("y"), "state": 300.0},
    ]
    sd = str(tmp_path / "sub_updates")
    spark.createDataFrame(updates, QUAD_SCHEMA).coalesce(1).write.parquet(sd)
    stream = spark.readStream.schema(QUAD_SCHEMA).parquet(sd)

    out = g.scoped("chat", "room1", "msg").subscribe(stream)
    q = out.writeStream.format("memory").queryName("sub_out").outputMode("update").trigger(
        availableNow=True
    ).start()
    assert q.awaitTermination(120)
    got = spark.sql("select * from sub_out").collect()
    assert len(got) == 1  # only the winning update for the subscribed key
    assert got[0]["value_string"] == "world" and got[0]["state"] == 200.0


def test_put_replay_literals_match_testdata(spark, sf_dir):
    """graph_put_replay's put script is precomputed as literals so the
    entry analyzes execution-free (r4 VERDICT task 8).  The literals must
    equal the live nation/region dimension content — if the driver's
    generator ever renames them, this fails loudly before the gate does."""
    from pyspark.sql import functions as F

    from esgopeta_spark.plans.catalog_graph2 import _NATION_REGION_SCRIPT
    from esgopeta_spark.session import read_table

    rows = (
        read_table(spark, sf_dir, "nation")
        .join(
            read_table(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            "n_nationkey",
            "n_name",
            F.concat(F.lit("nation:"), F.lower("n_name")).alias("n_comment"),
            "r_name",
        )
        .orderBy("n_nationkey")
        .collect()
    )
    got = [
        {k: r[k] for k in ("n_nationkey", "n_name", "n_comment", "r_name")} for r in rows
    ]
    assert got == _NATION_REGION_SCRIPT


def test_put_replay_entry_is_execution_free(spark, sf_dir):
    """A graph with no base folds its put overlay on the driver
    (graph._lookup), so the 35-put replay builds its result plan without
    running ANY Spark job."""
    from esgopeta_spark.plans import REGISTRY

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    ids_before = set(tracker.getJobIdsForGroup(None) or [])
    df = REGISTRY["graph_put_replay"].fn(spark, sf_dir)
    _ = df.schema  # analysis only
    ids_after = set(tracker.getJobIdsForGroup(None) or [])
    assert ids_after == ids_before, f"put replay ran jobs: {sorted(ids_after - ids_before)}"
