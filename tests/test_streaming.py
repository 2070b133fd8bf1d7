"""Group F tests: batch≡stream equivalence (the reference's replay
guarantee) and the stateful streaming HAM merge on golden logs."""

from __future__ import annotations

import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from esgopeta_spark.ham import ham_merge
from esgopeta_spark.session import read_table
from esgopeta_spark.streaming.ham_stream import streaming_ham_merge
from esgopeta_spark.streaming.ingest import read_events_stream, read_update_stream
from esgopeta_spark.streaming.windows import session_counts, sliding_counts, tumbling_counts
from esgopeta_spark.types import QUAD_SCHEMA, UPDATE_SCHEMA, encode_value


def q(soul, field, value, state, msg="m", ts="2024-01-01 00:00:00"):
    import datetime

    return {
        "msg_id": msg,
        "ack_id": None,
        "peer_id": "p1",
        "recv_ts": datetime.datetime.fromisoformat(ts),
        "soul": soul,
        "field": field,
        **encode_value(value),
        "state": float(state),
    }


def run_stream_to_memory(df, name, mode="update", timeout=180):
    """availableNow: drain all input then stop — avoids the endless
    empty-batch cycle a stateful ProcessingTimeTimeout query runs under
    the default ASAP trigger."""
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert query.awaitTermination(timeout), f"stream {name} did not drain in {timeout}s"
    finally:
        query.stop()


def test_streaming_ham_matches_batch(spark, tmp_path):
    """Golden replay: out-of-order, duplicate, equal-state updates split
    across two files (two micro-batches); final winners must equal the
    batch ham_merge of the full log."""
    batch1 = [
        q("s1", "f", "a", 100, msg="m1"),
        q("s1", "f", "zz", 100, msg="m2"),  # same-state lexical winner
        q("s2", "f", 5, 200, msg="m3"),
    ]
    batch2 = [
        q("s1", "f", "older", 50, msg="m4"),  # discarded
        q("s2", "f", 7, 300, msg="m5"),  # newer wins
        q("s2", "f", 7, 300, msg="m5"),  # duplicate suppressed
    ]
    d = str(tmp_path / "updates")
    os.makedirs(d)
    spark.createDataFrame(batch1, UPDATE_SCHEMA).coalesce(1).write.parquet(d + "/b1")
    spark.createDataFrame(batch2, UPDATE_SCHEMA).coalesce(1).write.parquet(d + "/b2")
    # flatten into one stream dir (file source reads files in order)
    import glob
    import shutil

    sd = str(tmp_path / "stream")
    os.makedirs(sd)
    for i, f in enumerate(sorted(glob.glob(d + "/b*/part-*.parquet"))):
        shutil.copy(f, f"{sd}/{i:03d}.parquet")

    stream = read_update_stream(spark, sd)
    out = streaming_ham_merge(stream)
    run_stream_to_memory(out, "ham_out")

    # last emitted row per key == final winner
    emitted = spark.sql("select * from ham_out").collect()
    final = {}
    for r in emitted:  # memory sink appends in batch order
        final[(r["soul"], r["field"])] = (r["value_type"], r["value_string"], r["value_number"], r["state"])

    expected_df = ham_merge(spark.createDataFrame(batch1 + batch2, UPDATE_SCHEMA))
    expected = {
        (r["soul"], r["field"]): (r["value_type"], r["value_string"], r["value_number"], r["state"])
        for r in expected_df.collect()
    }
    assert final == expected
    assert expected[("s1", "f")][1] == "zz" and expected[("s2", "f")][2] == 7.0


def test_streaming_windows_match_batch(spark, sf_dir):
    """F2/F3/F4: the same window functions on readStream vs read produce
    identical frames (batch-equivalence, SURVEY.md §5.3)."""
    static = read_table(spark, sf_dir, "events")
    stream = read_events_stream(spark, sf_dir)

    for fn, name, mode in [
        (tumbling_counts, "tumb", "complete"),
        (sliding_counts, "slide", "complete"),
        (session_counts, "sess", "complete"),
    ]:
        run_stream_to_memory(fn(stream), name, mode=mode)
        got = {tuple(r) for r in spark.sql(f"select * from {name}").collect()}
        want = {tuple(r) for r in fn(static).collect()}
        assert got == want, name


def test_streaming_dedup(spark, tmp_path):
    from esgopeta_spark.streaming.ingest import deduped

    rows = [q("s", "f", "v", 5, msg=f"m{i}") for i in range(4)]  # same update 4x
    rows.append(q("s", "f", "w", 6, msg="m9"))
    sd = str(tmp_path / "dups")
    spark.createDataFrame(rows, UPDATE_SCHEMA).coalesce(1).write.parquet(sd)
    stream = spark.readStream.schema(UPDATE_SCHEMA).parquet(sd)
    run_stream_to_memory(deduped(stream), "dedup_out", mode="append")
    got = spark.sql("select soul, field, value_string, state from dedup_out").collect()
    assert len(got) == 2  # one per distinct (value, state)


def test_streaming_ham_on_events_scale(spark, sf_dir, tmp_path):
    """Batch≡stream on a realistic update log: the events-derived updates
    (the flagship entry query's input) streamed through the stateful HAM
    operator must land on the same winners as the batch merge."""
    from esgopeta_spark.plans.catalog import _events_as_updates

    upd = _events_as_updates(spark, sf_dir)
    sd = str(tmp_path / "ev_updates")
    upd.coalesce(2).write.parquet(sd)

    from esgopeta_spark.types import QUAD_SCHEMA

    stream = spark.readStream.schema(
        spark.read.parquet(sd).schema
    ).option("maxFilesPerTrigger", 1).parquet(sd)
    out = streaming_ham_merge(stream)
    run_stream_to_memory(out, "ham_events")

    emitted = spark.sql("select * from ham_events").collect()
    final = {}
    for r in emitted:
        final[(r["soul"], r["field"])] = (r["value_number"], r["state"])
    expected = {
        (r["soul"], r["field"]): (r["value_number"], r["state"])
        for r in ham_merge(upd).collect()
    }
    assert final == expected and len(expected) == 75


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join == the same join on static frames."""
    from esgopeta_spark.streaming.ingest import read_events_stream
    from esgopeta_spark.streaming.joins import purchase_click_attribution

    static = read_table(spark, sf_dir, "events")
    want = {
        tuple(r)
        for r in purchase_click_attribution(
            static.filter(F.col("event_type") == "purchase"),
            static.filter(F.col("event_type") == "click"),
        ).collect()
    }
    assert want, "need non-empty attribution result"

    s1 = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    s2 = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    out = purchase_click_attribution(s1, s2)
    run_stream_to_memory(out, "attrib", mode="append")
    got = {tuple(r) for r in spark.sql("select * from attrib").collect()}
    assert got == want


def test_stream_put_upsert_matches_batch(spark, tmp_path):
    """B1 streaming write path: foreachBatch HAM upsert into the bucketed
    store == one batch ham_merge of the full log; future-state rows park
    in _pending (D3) and the merge is idempotent under batch replay."""
    import glob
    import shutil

    from esgopeta_spark.ham import empty_quads, ham_apply_updates
    from esgopeta_spark.sources.io import read_quads
    from esgopeta_spark.streaming.upsert import ham_upsert_batch, stream_put

    as_of = 1_000_000.0  # frozen deferral clock
    batch1 = [
        q("s1", "f", "a", 100, msg="m1"),
        q("s1", "f", "zz", 100, msg="m2"),
        q("s2", "f", 5, 200, msg="m3"),
    ]
    batch2 = [
        q("s1", "f", "older", 50, msg="m4"),
        q("s2", "f", 7, 300, msg="m5"),
        q("s3", "g", True, 2_000_000, msg="m6"),  # future: state > as_of
    ]
    d = str(tmp_path / "raw")
    os.makedirs(d)
    spark.createDataFrame(batch1, UPDATE_SCHEMA).coalesce(1).write.parquet(d + "/b1")
    spark.createDataFrame(batch2, UPDATE_SCHEMA).coalesce(1).write.parquet(d + "/b2")
    sd = str(tmp_path / "stream")
    os.makedirs(sd)
    for i, f in enumerate(sorted(glob.glob(d + "/b*/part-*.parquet"))):
        shutil.copy(f, f"{sd}/{i:03d}.parquet")

    store = str(tmp_path / "store")
    query = stream_put(
        read_update_stream(spark, sd),
        store,
        str(tmp_path / "ckpt"),
        n_buckets=8,
        as_of_fn=lambda: as_of,
    )
    try:
        query.processAllAvailable()  # drain both files, then stop
    finally:
        query.stop()

    all_updates = spark.createDataFrame(batch1 + batch2, UPDATE_SCHEMA)
    want = ham_apply_updates(empty_quads(spark), all_updates, as_of_ms=as_of)
    key = lambda r: (r["soul"], r["field"])  # noqa: E731
    got_rows = {key(r): r["value_string"] or r["value_number"] for r in read_quads(spark, store).collect()}
    want_rows = {key(r): r["value_string"] or r["value_number"] for r in want.quads.collect()}
    assert got_rows == want_rows
    assert got_rows[("s1", "f")] == "zz" and got_rows[("s2", "f")] == 7.0

    from esgopeta_spark.streaming.upsert import read_pending

    pending = read_pending(spark, store)
    assert [(r["soul"], r["field"]) for r in pending.collect()] == [("s3", "g")]

    # idempotence: replaying a batch changes nothing
    ham_upsert_batch(spark, spark.createDataFrame(batch2, UPDATE_SCHEMA), store, n_buckets=8, as_of_ms=as_of)
    got2 = {key(r): r["value_string"] or r["value_number"] for r in read_quads(spark, store).collect()}
    assert got2 == got_rows


def test_stream_put_restart_recovery(spark, tmp_path):
    """The upsert sink resumes from its checkpoint: a second query over
    the same dir + checkpoint processes only the new file, and the store
    converges to the batch merge of the full log."""
    from esgopeta_spark.ham import empty_quads, ham_apply_updates
    from esgopeta_spark.sources.io import read_quads
    from esgopeta_spark.streaming.upsert import stream_put

    as_of = 1_000_000.0
    b1 = [q("s1", "f", "first", 100, msg="m1")]
    b2 = [q("s1", "f", "second", 200, msg="m2"), q("s2", "f", 1, 50, msg="m3")]
    sd = str(tmp_path / "stream")
    os.makedirs(sd)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(b1, UPDATE_SCHEMA).coalesce(1).write.parquet(str(tmp_path / "f1"))
    import glob
    import shutil

    shutil.copy(glob.glob(str(tmp_path / "f1/part-*.parquet"))[0], sd + "/000.parquet")
    q1 = stream_put(read_update_stream(spark, sd), store, ckpt, n_buckets=4, as_of_fn=lambda: as_of)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert {r["value_string"] for r in read_quads(spark, store).collect()} == {"first"}

    spark.createDataFrame(b2, UPDATE_SCHEMA).coalesce(1).write.parquet(str(tmp_path / "f2"))
    shutil.copy(glob.glob(str(tmp_path / "f2/part-*.parquet"))[0], sd + "/001.parquet")
    q2 = stream_put(read_update_stream(spark, sd), store, ckpt, n_buckets=4, as_of_fn=lambda: as_of)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    want = ham_apply_updates(
        empty_quads(spark), spark.createDataFrame(b1 + b2, UPDATE_SCHEMA), as_of_ms=as_of
    ).quads
    got = {(r["soul"], r["field"]): (r["value_string"], r["value_number"]) for r in read_quads(spark, store).collect()}
    exp = {(r["soul"], r["field"]): (r["value_string"], r["value_number"]) for r in want.collect()}
    assert got == exp and got[("s1", "f")][0] == "second"


def test_upsert_corrupt_pending_store_raises(spark, tmp_path):
    """A real failure reading the pending set the manifest names must
    PROPAGATE, from the next upsert and from read_pending — silently
    swallowing it would drop deferred updates."""
    import glob

    import pytest

    from esgopeta_spark.sources.io import load_manifest
    from esgopeta_spark.streaming.upsert import ham_upsert_batch, read_pending

    store = str(tmp_path / "store")
    b1 = [q("s1", "f", "v", 100, msg="m1"), q("s9", "g", 1, 2_000_000, msg="m2")]
    ham_upsert_batch(spark, spark.createDataFrame(b1, UPDATE_SCHEMA), store, n_buckets=4, as_of_ms=1e6)
    files = glob.glob(os.path.join(store, load_manifest(store)["pending"], "*.parquet"))
    assert files  # the deferred row is committed in the pending set
    for path in files:
        with open(path, "wb") as f:
            f.write(b"this is not parquet")

    batch = spark.createDataFrame([q("s2", "f", "w", 200, msg="m3")], UPDATE_SCHEMA)
    with pytest.raises(Exception):
        ham_upsert_batch(spark, batch, store, n_buckets=4, as_of_ms=1e6)
    with pytest.raises(Exception):
        read_pending(spark, store).collect()


def test_read_path_without_manifest_raises(spark, tmp_path):
    """A path with no manifest is not a store: readers raise."""
    import pytest

    from esgopeta_spark.sources.io import read_quads
    from esgopeta_spark.streaming.upsert import read_pending

    with pytest.raises(FileNotFoundError):
        read_quads(spark, str(tmp_path / "nothing"))
    with pytest.raises(FileNotFoundError):
        read_pending(spark, str(tmp_path / "nothing"))


def test_upsert_missing_pending_dir_is_fine(spark, tmp_path):
    from esgopeta_spark.sources.io import read_quads
    from esgopeta_spark.streaming.upsert import ham_upsert_batch

    store = str(tmp_path / "store")
    batch = spark.createDataFrame([q("s1", "f", "v", 100, msg="m1")], UPDATE_SCHEMA)
    ham_upsert_batch(spark, batch, store, n_buckets=4, as_of_ms=1e9)
    rows = read_quads(spark, store).collect()
    assert len(rows) == 1 and rows[0]["value_string"] == "v"


def test_streaming_throughput_bounds(spark, tmp_path):
    """Regression bound on the two streaming write paths (SCALE.md
    §Streaming throughput): ≥800 rows/s at sf0.01 — an order of magnitude
    under the measured idle-box rates (17-18k rows/s at sf0.1), so box
    load can't flake it but an accidental per-row Python path or a store
    rewrite that stops pruning buckets (both 10×+ cliffs) turns it red."""
    from esgopeta_spark.plans.catalog import _events_as_updates
    from esgopeta_spark.streaming.upsert import stream_put

    upd = _events_as_updates(spark, "/root/testdata/sf0.01")
    n = upd.count()
    assert n >= 5000
    sd = str(tmp_path / "upd")
    upd.coalesce(2).write.parquet(sd)

    # stateful HAM stream (applyInPandasWithState)
    stream = (
        spark.readStream.schema(spark.read.parquet(sd).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sd)
    )
    t0 = time.perf_counter()
    run_stream_to_memory(streaming_ham_merge(stream), "tp_ham")
    ham_rate = n / (time.perf_counter() - t0)

    # foreachBatch bucketed upsert
    t0 = time.perf_counter()
    query = stream_put(
        read_update_stream(spark, sd), str(tmp_path / "store"), str(tmp_path / "ck"), n_buckets=8
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    put_rate = n / (time.perf_counter() - t0)

    assert ham_rate >= 800, f"streaming_ham_merge throughput collapsed: {ham_rate:.0f} rows/s"
    assert put_rate >= 800, f"stream_put throughput collapsed: {put_rate:.0f} rows/s"


def test_upsert_crash_before_publish_leaves_consistent_snapshot(spark, tmp_path, monkeypatch):
    """Atomic-commit contract (r4 VERDICT task 5): the manifest swap is
    the ONLY commit point.  Kill the upsert after all data/pending files
    are staged but before the swap — readers must still see the previous
    snapshot (buckets AND pending, never a mix), and an at-least-once
    replay of the same batch must converge to the once-applied state."""
    from esgopeta_spark.sources import io as sources_io
    from esgopeta_spark.sources.io import read_quads
    from esgopeta_spark.streaming.upsert import ham_upsert_batch, read_pending

    store = str(tmp_path / "store")
    as_of = 1_000_000.0
    b1 = [q("s1", "f", "v1", 100, msg="m1"), q("s9", "g", 1, 2_000_000, msg="m2")]
    ham_upsert_batch(spark, spark.createDataFrame(b1, UPDATE_SCHEMA), store, n_buckets=4, as_of_ms=as_of)
    snap = {(r["soul"], r["field"]): r["value_string"] for r in read_quads(spark, store).collect()}
    pend = {(r["soul"], r["field"]) for r in read_pending(spark, store).collect()}
    assert snap == {("s1", "f"): "v1"} and pend == {("s9", "g")}

    # batch 2 both updates a bucket AND drains the deferred row (clock
    # advanced past its state) — the exact interleave the old dynamic-
    # partition-overwrite path could tear
    b2 = [q("s1", "f", "v2", 200, msg="m3")]
    boom = RuntimeError("killed before publish")

    def exploding_publish(path, manifest):
        raise boom

    monkeypatch.setattr(sources_io, "publish_manifest", exploding_publish)
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        ham_upsert_batch(
            spark, spark.createDataFrame(b2, UPDATE_SCHEMA), store, n_buckets=4, as_of_ms=3_000_000.0
        )
    # crash window: staged files exist, but readers still see the OLD
    # snapshot — both the buckets and the pending set
    assert {(r["soul"], r["field"]): r["value_string"] for r in read_quads(spark, store).collect()} == snap
    assert {(r["soul"], r["field"]) for r in read_pending(spark, store).collect()} == pend

    # recovery: foreachBatch replays the batch (at-least-once); HAM
    # idempotence + the fresh commit converge to the once-applied state
    monkeypatch.undo()
    ham_upsert_batch(
        spark, spark.createDataFrame(b2, UPDATE_SCHEMA), store, n_buckets=4, as_of_ms=3_000_000.0
    )
    got = {(r["soul"], r["field"]): (r["value_string"], r["value_number"]) for r in read_quads(spark, store).collect()}
    assert got == {("s1", "f"): ("v2", None), ("s9", "g"): (None, 1.0)}
    assert read_pending(spark, store).isEmpty()


def test_upsert_commit_is_one_exchange_and_one_write(spark, tmp_path, monkeypatch):
    """One upsert commit: the merge frame shuffles once (hash on
    soul_bucket; the per-bucket HAM aggregate reuses that partitioning),
    each bucket it rewrites holds one parquet file, in (soul, field)
    order, and the write job's plan adds no exchange and no second sort to
    it; untouched buckets keep their old commit, and the deferred rows are
    staged in the same commit directory as the buckets."""
    import glob

    import pyarrow.parquet as pq

    from esgopeta_spark.sources import io as sources_io
    from esgopeta_spark.sources.io import load_manifest, soul_bucket
    from esgopeta_spark.streaming import upsert

    store = str(tmp_path / "store")
    as_of = 1_000_000.0
    b1 = [q(f"s{i}", "f", i, 100 + i, msg=f"m{i}") for i in range(40)]
    upsert.ham_upsert_batch(spark, spark.createDataFrame(b1, UPDATE_SCHEMA), store, n_buckets=8, as_of_ms=as_of)

    seen = []
    write_buckets = sources_io.write_buckets

    def capture(tagged, *args, **kwargs):
        seen.append(tagged)
        return write_buckets(tagged, *args, **kwargs)

    monkeypatch.setattr(sources_io, "write_buckets", capture)
    souls = [f"s{i}" for i in range(0, 40, 9)]
    b2 = [q(s, "f", "new", 500, msg=f"n{s}") for s in souls] + [q("s3", "g", "later", 2_000_000, msg="x")]
    b2 += [q(s, "e", 1, 500, msg=f"e{s}") for s in souls]  # a second field, after "f" in the batch
    upsert.ham_upsert_batch(spark, spark.createDataFrame(b2, UPDATE_SCHEMA), store, n_buckets=8, as_of_ms=as_of)

    (merged,) = seen
    plan = merged._jdf.queryExecution().executedPlan().toString()
    exchanges = [line for line in plan.splitlines() if line.lstrip(" :+-|").startswith("Exchange")]
    assert len(exchanges) == 1, plan
    merge_sorts = [line for line in plan.splitlines() if line.lstrip(" :+-|*(0123456789)").startswith("Sort ")]

    # the write job as executed (AQE's final plan): the bucket order adds
    # one sort and no exchange, and the planned write no sort of its own
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it, write_plan = spark._jsparkSession.sharedState().statusStore().executionsList().iterator(), None
    while it.hasNext():
        described = it.next().physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in described:
            write_plan = described
    final = write_plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    nodes = [line.lstrip(" :+-|*").split(" ")[0] for line in final.splitlines()]
    assert nodes.count("Exchange") == 1 and nodes.count("Sort") == len(merge_sorts) + 1, write_plan

    manifest = load_manifest(store)
    rewritten = {b for b, rel in manifest["buckets"].items() if rel.startswith("commits/c000001/")}
    assert rewritten == {str(soul_bucket(s, 8)) for s in souls}
    assert len(manifest["buckets"]) > len(rewritten)  # the others were not rewritten
    for rel in manifest["buckets"].values():
        files = glob.glob(os.path.join(store, rel, "*.parquet"))
        assert len(files) == 1, rel
        if rel.startswith("commits/c000001/"):
            keys = pq.read_table(files[0], columns=["soul", "field"]).to_pylist()
            assert keys == sorted(keys, key=lambda k: (k["soul"], k["field"])), rel
    assert manifest["pending"] == "commits/c000001/data/soul_bucket=-1"
    assert [(r["soul"], r["field"]) for r in upsert.read_pending(spark, store).collect()] == [("s3", "g")]


def test_upsert_pending_is_none_until_deferred_then_carried_and_drained(spark, tmp_path):
    """A commit with no future-state row publishes ``pending: None``; a
    deferred row is carried by every later commit until the clock passes
    its state, and then merged."""
    from esgopeta_spark.sources.io import load_manifest, read_quads
    from esgopeta_spark.streaming.upsert import ham_upsert_batch, read_pending

    store = str(tmp_path / "store")

    def run(rows, as_of):
        ham_upsert_batch(spark, spark.createDataFrame(rows, UPDATE_SCHEMA), store, n_buckets=4, as_of_ms=as_of)
        pending = [(r["soul"], r["field"]) for r in read_pending(spark, store).collect()]
        return load_manifest(store)["pending"], pending

    assert run([q("s1", "f", "v", 100, msg="m1")], 1e6) == (None, [])
    assert run([q("s2", "f", "w", 100, msg="m2"), q("s9", "g", 1, 2_000_000, msg="m3")], 1e6) == (
        "commits/c000001/data/soul_bucket=-1",
        [("s9", "g")],
    )
    assert run([q("s3", "f", "x", 100, msg="m4")], 1e6) == ("commits/c000002/data/soul_bucket=-1", [("s9", "g")])
    assert run([q("s4", "f", "y", 100, msg="m5")], 3e6) == (None, [])
    got = {(r["soul"], r["field"]): (r["value_string"], r["value_number"]) for r in read_quads(spark, store).collect()}
    assert got == {
        ("s1", "f"): ("v", None),
        ("s2", "f"): ("w", None),
        ("s3", "f"): ("x", None),
        ("s4", "f"): ("y", None),
        ("s9", "g"): (None, 1.0),
    }


def test_kafka_shaped_stream_parse_and_merge(spark, tmp_path):
    """C7 without the kafka classpath (r4 VERDICT task 6): a real
    STREAMING query over kafka-shaped records — (value binary, timestamp)
    rows, exactly what format('kafka') emits — through
    parse_update_records and the stateful HAM merge.  With this, the
    only thing the availability-gated kafka test leaves uncovered is the
    socket connect itself."""
    import datetime
    import json

    from esgopeta_spark.streaming.ham_stream import streaming_ham_merge
    from esgopeta_spark.streaming.ingest import parse_update_records

    def rec(msg, soul, field, value_string, state, recv=None):
        r = {
            "msg_id": msg, "ack_id": None, "peer_id": "p1",
            "soul": soul, "field": field, "value_type": "string",
            "value_number_raw": None, "value_number": None,
            "value_string": value_string, "value_bool": None, "value_relation": None,
            "state": state,
        }
        if recv:
            r["recv_ts"] = recv
        return json.dumps(r).encode()

    broker_ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    batches = [
        [rec("m1", "s1", "f", "a", 100.0), rec("m2", "s1", "f", "zz", 100.0)],  # lexical tie
        [rec("m3", "s1", "f", "older", 50.0), rec("m4", "s2", "f", "w", 200.0,
             recv="2024-01-01T00:00:00.000Z")],
    ]
    sd = str(tmp_path / "wire")
    os.makedirs(sd)
    for i, batch in enumerate(batches):
        spark.createDataFrame(
            [(b, broker_ts) for b in batch], "value binary, timestamp timestamp"
        ).coalesce(1).write.parquet(f"{sd}/{i:03d}")
    import glob
    import shutil

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(sd + "/*/part-*.parquet"))):
        shutil.copy(f, f"{flat}/{i:03d}.parquet")

    raw = spark.readStream.schema("value binary, timestamp timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(flat)
    out = streaming_ham_merge(parse_update_records(raw))
    run_stream_to_memory(out, "kafka_shape")

    final = {}
    for r in spark.sql("select * from kafka_shape").collect():
        final[(r["soul"], r["field"])] = (r["value_string"], r["state"])
    assert final == {("s1", "f"): ("zz", 100.0), ("s2", "f"): ("w", 200.0)}


def test_streaming_cms_grid_matches_batch(spark, sf_dir):
    """The windowed Count-Min grid (streaming heavy-hitters state) over
    readStream vs read produces identical (window, row, bucket, cnt)
    frames — batch ≡ stream over the same function — and the per-window
    grids sum to the window's event count (every event lands in exactly
    depth cells)."""
    from esgopeta_spark.streaming.windows import windowed_cms_state

    static = read_table(spark, sf_dir, "events")
    stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(windowed_cms_state(stream), "cmsgrid", mode="complete")
    got = {tuple(r) for r in spark.sql("select * from cmsgrid").collect()}
    want = {tuple(r) for r in windowed_cms_state(static).collect()}
    assert got == want and got
    per_window: dict = {}
    for w, _row, _b, cnt in want:
        per_window[(w, _row)] = per_window.get((w, _row), 0) + cnt
    n = static.count()
    by_row: dict = {}
    for (w, row), c in per_window.items():
        by_row[row] = by_row.get(row, 0) + c
    assert all(v == n for v in by_row.values()), by_row


def test_streaming_zscore_matches_batch(spark, sf_dir):
    """The stateful streaming z-score (applyInPandasWithState, update
    mode) drained over the events table must converge to EXACTLY the
    batch rolling_zscore rows: for every (user, day) the latest emission
    (max upd_seq) equals the batch row, bit-for-bit in z_micro."""
    from esgopeta_spark.operators.timeseries import rolling_zscore
    from esgopeta_spark.streaming.anomaly import streaming_zscore

    static = read_table(spark, sf_dir, "events")
    stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(streaming_zscore(stream), "zsstream", mode="update")
    rows = spark.sql("select * from zsstream").collect()
    latest: dict = {}
    for r in rows:
        k = (r["user_id"], r["day"])
        if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
            latest[k] = r
    got = {k: (r["total_cents"], r["n_base"], r["z_micro"], r["is_anomaly"])
           for k, r in latest.items()}
    want = {(r["user_id"], r["day"]): (r["total_cents"], r["n_base"], r["z_micro"], r["is_anomaly"])
            for r in rolling_zscore(static).collect()}
    assert got == want and got


def test_streaming_zscore_late_data_converges(spark, tmp_path):
    """Two micro-batches with the SECOND delivering EARLIER days (late
    data): the late batch must retro-correct the baseline — final rows
    equal the batch computation over everything, including flipped
    anomaly verdicts."""
    import datetime

    from esgopeta_spark.operators.timeseries import rolling_zscore
    from esgopeta_spark.streaming.anomaly import streaming_zscore

    def ev(i, day, v):
        return (i, datetime.datetime(2024, 5, day, 12), 1, "x", float(v), None)

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    # batch 1: days 5-9 flat + day 10 spike; batch 2 (LATE): days 1-4 flat
    b1 = [ev(i, 4 + i, 10.0) for i in range(1, 6)] + [ev(6, 10, 500.0)]
    b2 = [ev(10 + i, i, 10.0) for i in range(1, 5)]
    d = str(tmp_path / "late_events")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(d + "/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(d + "/f=2")
    static = spark.read.option("recursiveFileLookup", "true").parquet(d)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    run_stream_to_memory(streaming_zscore(stream), "zslate", mode="update")
    rows = spark.sql("select * from zslate").collect()
    assert len({r["upd_seq"] for r in rows}) >= 2  # really multiple batches
    latest: dict = {}
    for r in rows:
        k = (r["user_id"], r["day"])
        if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
            latest[k] = r
    got = {k: (r["total_cents"], r["n_base"], r["z_micro"], r["is_anomaly"])
           for k, r in latest.items()}
    want = {(r["user_id"], r["day"]): (r["total_cents"], r["n_base"], r["z_micro"], r["is_anomaly"])
            for r in rolling_zscore(static).collect()}
    assert got == want
    spike = latest[(1, datetime.date(2024, 5, 10))]
    assert spike["is_anomaly"] == 1


def test_streaming_zscore_half_cent_and_null_values_match_batch(spark, tmp_path):
    """The cent conversion must be the BATCH decimal(12,2) HALF_UP cast
    (0.285 -> 29 cents, not floor's 28) and null values must be skipped,
    not crash the handler."""
    import datetime

    from esgopeta_spark.operators.timeseries import rolling_zscore
    from esgopeta_spark.streaming.anomaly import streaming_zscore

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    rows = [
        (1, datetime.datetime(2024, 6, 1, 9), 1, "x", 0.285, None),   # half-cent repr
        (2, datetime.datetime(2024, 6, 2, 9), 1, "x", 10.005, None),  # half-cent repr
        (3, datetime.datetime(2024, 6, 3, 9), 1, "x", None, None),    # null: skipped
        (4, datetime.datetime(2024, 6, 3, 10), 1, "x", 5.0, None),
        (5, datetime.datetime(2024, 6, 4, 9), 1, "x", 7.5, None),
    ]
    d = str(tmp_path / "halfcent")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
    static = spark.read.parquet(d)
    stream = spark.readStream.schema(static.schema).parquet(d)
    run_stream_to_memory(streaming_zscore(stream), "zshalf", mode="update")
    latest: dict = {}
    for r in spark.sql("select * from zshalf").collect():
        k = (r["user_id"], r["day"])
        if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
            latest[k] = r
    got = {k: (r["total_cents"], r["n_base"], r["z_micro"]) for k, r in latest.items()}
    want = {(r["user_id"], r["day"]): (r["total_cents"], r["n_base"], r["z_micro"])
            for r in rolling_zscore(static).collect()}
    assert got == want
    assert got[(1, datetime.date(2024, 6, 1))][0] == 29  # HALF_UP, not floor


def test_streaming_locf_matches_batch_with_late_data(spark, tmp_path):
    """Streaming LOCF over two micro-batches (the second delivering
    EARLIER days) must converge to the batch resample_locf rows exactly —
    grid span, closing values under the (ts, event_id) order, gap flags."""
    import datetime

    from esgopeta_spark.operators.timeseries import resample_locf
    from esgopeta_spark.streaming.anomaly import streaming_locf

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    b1 = [
        (10, datetime.datetime(2024, 7, 5, 9), 1, "x", 50.0, None),
        (11, datetime.datetime(2024, 7, 5, 15), 1, "x", 55.0, None),  # closes day 5
        (12, datetime.datetime(2024, 7, 8, 9), 1, "x", 80.0, None),
    ]
    b2 = [  # LATE: extends the grid backwards and re-closes day 5
        (1, datetime.datetime(2024, 7, 1, 9), 1, "x", 10.0, None),
        (2, datetime.datetime(2024, 7, 5, 16), 1, "x", 60.0, None),
        (3, datetime.datetime(2024, 7, 2, 9), 2, "x", 7.0, None),
    ]
    d = str(tmp_path / "locf_events")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(d + "/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(d + "/f=2")
    static = spark.read.option("recursiveFileLookup", "true").parquet(d)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    run_stream_to_memory(streaming_locf(stream), "locfstream", mode="update")
    latest: dict = {}
    for r in spark.sql("select * from locfstream").collect():
        k = (r["user_id"], r["bucket"])
        if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
            latest[k] = r
    got = {k: (r["filled_value"], r["n_events"], r["is_gap"]) for k, r in latest.items()}
    want = {(r["user_id"], r["bucket"]): (r["filled_value"], r["n_events"], r["is_gap"])
            for r in resample_locf(static).collect()}
    assert got == want and len(got) == 9  # user1 days 1-8, user2 day 2
    assert got[(1, datetime.date(2024, 7, 5))] == (60.0, 3, 0)  # late re-close
    assert got[(1, datetime.date(2024, 7, 6))] == (60.0, 0, 1)  # carried gap


def test_streaming_locf_full_table_matches_batch(spark, sf_dir):
    """Drained over the whole events table, streaming LOCF equals batch
    resample_locf row-for-row."""
    from esgopeta_spark.operators.timeseries import resample_locf
    from esgopeta_spark.streaming.anomaly import streaming_locf

    static = read_table(spark, sf_dir, "events")
    stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(streaming_locf(stream), "locffull", mode="update")
    latest: dict = {}
    for r in spark.sql("select * from locffull").collect():
        k = (r["user_id"], r["bucket"])
        if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
            latest[k] = r
    got = {k: (r["filled_value"], r["n_events"], r["is_gap"]) for k, r in latest.items()}
    want = {(r["user_id"], r["bucket"]): (r["filled_value"], r["n_events"], r["is_gap"])
            for r in resample_locf(static).collect()}
    assert got == want and got


def test_streaming_line_dedup_matches_batch(spark, tmp_path):
    """r9 (verdict #7): the stateful line-dedup twin, drained over a
    skewed corpus split into micro-batches, must converge to EXACTLY the
    batch operator's verdicts — for both keep_first modes and for BOTH
    arrival orders (reverse order forces the retroactive re-emission
    paths: kept->removed at the min_count crossing and first-stealing
    by a smaller (doc, pos))."""
    import random

    from esgopeta_spark.operators.text import line_dedup
    from esgopeta_spark.streaming.prep import streaming_line_dedup

    rng = random.Random(37)
    rows = []
    for d in range(30):
        lines = []
        for j in range(rng.randint(1, 6)):
            r = rng.random()
            if r < 0.45:
                lines.append("HOT boilerplate")
            elif r < 0.55:
                lines.append("")
            elif r < 0.7:
                lines.append(f"dup {rng.randint(0, 2)}")
            else:
                lines.append(f"uniq {d} {j}")
        rows.append((d, "\n".join(lines)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    case = 0
    for keep_first in (True, False):
        want = {
            r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
            for r in line_dedup(docs, keep_first=keep_first).collect()
        }
        for order in ("fwd", "rev"):
            case += 1
            d = str(tmp_path / f"ld{case}")
            os.makedirs(d)
            half = [r for r in rows if r[0] < 15], [r for r in rows if r[0] >= 15]
            first, second = half if order == "fwd" else half[::-1]
            spark.createDataFrame(first, "doc_id long, text string").coalesce(
                1
            ).write.parquet(d + "/b1")
            spark.createDataFrame(second, "doc_id long, text string").coalesce(
                1
            ).write.parquet(d + "/b2")
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(d)
            )
            run_stream_to_memory(
                streaming_line_dedup(stream, keep_first=keep_first),
                f"ldstream{case}",
                mode="update",
            )
            latest: dict = {}
            for r in spark.sql(f"select * from ldstream{case}").collect():
                k = (r["doc_id"], r["pos"])
                if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
                    latest[k] = r
            # reassemble per doc from the final per-occurrence verdicts
            got: dict = {}
            by_doc: dict = {}
            for (doc, pos), r in latest.items():
                by_doc.setdefault(doc, []).append((pos, r["line"], r["removed"]))
            for doc, occ in by_doc.items():
                occ.sort()
                kept = [line for _p, line, rm in occ if rm == 0]
                got[doc] = ("\n".join(kept), len(kept), sum(rm for _p, _l, rm in occ))
            assert got == want, (keep_first, order)


def test_streaming_gopher_rules_matches_batch(spark, sf_dir, tmp_path):
    """r9 (verdict #7): the stateless Gopher twin over a drained stream
    of REAL documents equals the batch operator integer-for-integer
    (every output is integer milli/count/flag, so equality is exact)."""
    from esgopeta_spark.operators.text import gopher_rules
    from esgopeta_spark.streaming.prep import streaming_gopher_rules

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text").limit(80)

    def snap(df):
        return {r["doc_id"]: tuple(r)[1:] for r in df.collect()}

    want = snap(gopher_rules(docs))
    # twin applied to the SAME batch frame: identical
    assert snap(streaming_gopher_rules(docs)) == want
    # twin over a drained file stream: identical
    d = str(tmp_path / "gopher")
    os.makedirs(d)
    half = docs.limit(40)
    rest = docs.exceptAll(half)
    half.coalesce(1).write.parquet(d + "/b1")
    rest.coalesce(1).write.parquet(d + "/b2")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    run_stream_to_memory(streaming_gopher_rules(stream), "gopherstream", mode="append")
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in spark.sql("select * from gopherstream").collect()
    }
    assert got == want and len(got) == 80


def test_streaming_split_shards_exact_matches_batch(spark, tmp_path):
    """Exact-mode streaming ordinals must converge to the batch (md5,
    id)-order ranks under multi-batch arrival; split/shard are bit-equal
    by construction (same codegen projection)."""
    from esgopeta_spark.operators.text import split_shards
    from esgopeta_spark.streaming.prep import streaming_split_shards

    ids = list(range(200))
    # two micro-batches with interleaved ids (arrival order != id order)
    (spark.createDataFrame([(i,) for i in ids if i % 2 == 0], "doc_id: long")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "in") + "/b0"))
    (spark.createDataFrame([(i,) for i in ids if i % 2 == 1], "doc_id: long")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "in") + "/b1"))
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in") + "/*")
    )
    run_stream_to_memory(
        streaming_split_shards(stream, exact=True), "shardstream", mode="update"
    )
    rows = spark.sql(
        """SELECT split, shard, doc_id, ordinal FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY upd_seq DESC, ordinal DESC) AS rn
             FROM shardstream) WHERE rn = 1"""
    ).collect()
    got = {r["doc_id"]: (r["split"], r["shard"], r["ordinal"]) for r in rows}
    want = {
        r["doc_id"]: (r["split"], r["shard"], r["ordinal"])
        for r in split_shards(
            spark.createDataFrame([(i,) for i in ids], "doc_id: long")
        ).collect()
    }
    assert got == want


def test_streaming_split_shards_arrival_mode_bounded_state(spark, tmp_path):
    """Arrival-mode (production) twin: split/shard bit-equal to batch;
    per-(split, shard) ordinals are the dense set {1..n} in arrival
    order (bounded counter state, no re-emissions)."""
    from collections import defaultdict

    from esgopeta_spark.operators.text import split_shards
    from esgopeta_spark.streaming.prep import streaming_split_shards

    ids = list(range(150))
    (spark.createDataFrame([(i,) for i in ids], "doc_id: long")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "in2")))
    stream = spark.readStream.schema("doc_id long").json(str(tmp_path / "in2"))
    run_stream_to_memory(
        streaming_split_shards(stream), "shardstream2", mode="update"
    )
    rows = spark.sql("SELECT * FROM shardstream2").collect()
    assert len(rows) == len(ids)  # exactly one emission per doc
    want = {
        r["doc_id"]: (r["split"], r["shard"])
        for r in split_shards(
            spark.createDataFrame([(i,) for i in ids], "doc_id: long")
        ).collect()
    }
    groups = defaultdict(list)
    for r in rows:
        assert (r["split"], r["shard"]) == want[r["doc_id"]]
        groups[(r["split"], r["shard"])].append(r["ordinal"])
    for k, ords in groups.items():
        assert sorted(ords) == list(range(1, len(ords) + 1)), (k, sorted(ords))


def test_streaming_blocklist_matches_batch(spark, sf_dir, tmp_path):
    """The blocklist scorer is stateless; the streaming twin must be
    bit-equal to the batch operator on the same docs."""
    from esgopeta_spark.operators.matching import blocklist_hits
    from esgopeta_spark.streaming.prep import streaming_blocklist_hits

    phrases = ["merge batch", "the line", "value table part"]
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    want = {
        r["doc_id"]: (r["n_hits"], r["n_phrases"], r["first_hit_pos"])
        for r in blocklist_hits(docs, phrases).collect()
    }
    docs.coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(tmp_path / "docs"))
    run_stream_to_memory(
        streaming_blocklist_hits(stream, phrases), "blockstream", mode="append"
    )
    got = {
        r["doc_id"]: (r["n_hits"], r["n_phrases"], r["first_hit_pos"])
        for r in spark.sql("SELECT * FROM blockstream").collect()
    }
    assert got == want


def test_streaming_dsir_scores_match_batch(spark, sf_dir, tmp_path):
    """Train λ on the batch corpus, score the same docs as a stream:
    per-doc scores must be bit-equal to the batch scorer."""
    from esgopeta_spark.operators.selection import dsir_lambda, dsir_scores
    from esgopeta_spark.streaming.prep import streaming_dsir_scores

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    target = docs.filter("lang = 'en'")
    lam_rows = dsir_lambda(docs, target).collect()
    want = {
        r["doc_id"]: (r["n_grams"], r["score_milli"])
        for r in dsir_scores(docs, target).collect()
    }
    docs.select("doc_id", "text").coalesce(2).write.mode("overwrite").parquet(
        str(tmp_path / "docs")
    )
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(tmp_path / "docs"))
    run_stream_to_memory(
        streaming_dsir_scores(stream, [(r["bucket"], r["lam_milli"]) for r in lam_rows]),
        "dsirstream", mode="append",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["score_milli"])
        for r in spark.sql("SELECT * FROM dsirstream").collect()
    }
    assert got == want


def test_streaming_minhash_pairs_match_batch(spark, sf_dir, tmp_path):
    """Streaming LSH candidates over multi-batch arrival must equal the
    batch minhash_lsh_candidates pair set (the stateless signature
    pipeline is literally shared; this pins the stateful bucket
    handler)."""
    from esgopeta_spark.operators.dedup import minhash_lsh_candidates
    from esgopeta_spark.streaming.dedup import streaming_minhash_pairs

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # plant near-dups across batch boundaries: clones of real docs with
    # one word changed, ids offset by 10000
    base = [(r["doc_id"], r["text"]) for r in d.limit(30).collect()]
    clones = [
        (did + 10000, "zzz " + text.split(" ", 1)[1] if " " in text else text)
        for did, text in base[:12]
    ]
    all_docs = base + clones
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            spark.createDataFrame(all_docs, "doc_id: long, text: string")
        ).collect()
    }
    assert want, "fixture must produce at least one candidate pair"
    # originals in batch 0, clones in batch 1 -> every cross pair is
    # discovered against state, not within one micro-batch
    (spark.createDataFrame(base, "doc_id: long, text: string")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "in") + "/b0"))
    (spark.createDataFrame(clones, "doc_id: long, text: string")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "in") + "/b1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in") + "/*")
    )
    run_stream_to_memory(
        streaming_minhash_pairs(stream), "lshstream", mode="append"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.sql("SELECT DISTINCT id_a, id_b FROM lshstream").collect()
    }
    assert got == want


def test_streaming_minhash_hot_bucket_cap_is_visible(spark, tmp_path):
    """max_bucket stops quadratic emission on a boilerplate bucket and
    emits the visible marker row instead of silently truncating."""
    from esgopeta_spark.streaming.dedup import streaming_minhash_pairs

    docs = [(i, "exact same boilerplate text repeated everywhere") for i in range(30)]
    (spark.createDataFrame(docs, "doc_id: long, text: string")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "inh")))
    stream = spark.readStream.schema("doc_id long, text string").json(str(tmp_path / "inh"))
    run_stream_to_memory(
        streaming_minhash_pairs(stream, max_bucket=5), "lshcap", mode="append"
    )
    rows = spark.sql("SELECT * FROM lshcap").collect()
    markers = [r for r in rows if r["id_a"] == -1]
    pairs = [r for r in rows if r["id_a"] >= 0]
    assert markers, "cap must emit a visible marker"
    # 30 identical docs, cap 5: far fewer than the 30*29/2 per-band pairs
    assert len(pairs) < 16 * 60


def test_streaming_minhash_cap_marker_reemitted_every_dropping_batch(
    spark, tmp_path
):
    """The hot-bucket cap marker must appear on EVERY batch that drops
    docs, not only the first crossing — a long-running capped stream
    stays observably capped (r9 ADVICE)."""
    from esgopeta_spark.streaming.dedup import streaming_minhash_pairs

    text = "exact same boilerplate text repeated everywhere"
    b0 = [(i, text) for i in range(15)]
    b1 = [(i, text) for i in range(15, 30)]
    (spark.createDataFrame(b0, "doc_id: long, text: string")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "inr") + "/b0"))
    (spark.createDataFrame(b1, "doc_id: long, text: string")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "inr") + "/b1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "inr") + "/*")
    )
    run_stream_to_memory(
        streaming_minhash_pairs(stream, max_bucket=5), "lshreemit", mode="append"
    )
    marker_totals = {
        r["id_b"]
        for r in spark.sql("SELECT * FROM lshreemit WHERE id_a = -1").collect()
    }
    # batch 0 crosses the cap at bucket total 15; batch 1 drops all 15
    # of its docs and must RE-emit the marker at total 30
    assert 15 in marker_totals, "first-crossing marker missing"
    assert 30 in marker_totals, "subsequent dropping batch must re-emit marker"


def test_streaming_minhash_max_age_evicts_stale_resident(spark, tmp_path):
    """max_age bounds the state store: a resident admitted beyond the
    age window is evicted (so a late near-dup of it no longer pairs)
    and the eviction is VISIBLE via the id_a=-2 marker row."""
    from esgopeta_spark.streaming.dedup import streaming_minhash_pairs

    text = "exact same boilerplate text repeated everywhere"
    b0 = [(i, text) for i in range(10)]          # stale residents
    b1 = [(i, text) for i in range(100, 120)]    # 20 arrivals age them out
    (spark.createDataFrame(b0, "doc_id: long, text: string")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "inev") + "/b0"))
    (spark.createDataFrame(b1, "doc_id: long, text: string")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "inev") + "/b1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "inev") + "/*")
    )
    # b0 residents carry admit_seq=10; batch 1 brings n_total to 30, so
    # max_age=15 puts the cutoff at 15 > 10 and evicts all of b0
    run_stream_to_memory(
        streaming_minhash_pairs(stream, max_age=15), "lshevict", mode="append"
    )
    rows = spark.sql("SELECT * FROM lshevict").collect()
    evict_markers = [r for r in rows if r["id_a"] == -2]
    pairs = {(r["id_a"], r["id_b"]) for r in rows if r["id_a"] >= 0}
    assert evict_markers, "eviction must emit the visible id_a=-2 marker"
    assert all(r["id_b"] == 10 for r in evict_markers), (
        "marker id_b must carry the evicted-resident count"
    )
    # evicted b0 residents no longer pair against b1 arrivals...
    assert not any(a < 100 <= b for a, b in pairs)
    # ...but b1-internal pairs survive, and batch 0 paired normally
    assert any(a >= 100 and b >= 100 for a, b in pairs)
    assert any(a < 10 and b < 10 for a, b in pairs)


def test_streaming_edit_pairs_match_batch(spark, tmp_path):
    """Streaming PassJoin fuzzy pairs over multi-batch arrival must
    equal the batch edit_distance_pairs output (the stateless key
    projection is literally shared; this pins the stateful bucket
    handler incl. the role-complementarity rule and the in-handler
    Levenshtein verify) — near-dups planted ACROSS the batch boundary."""
    from esgopeta_spark.operators.dedup import edit_distance_pairs
    from esgopeta_spark.streaming.dedup import streaming_edit_pairs

    base = [
        (i, f"annual report volume {i % 9} draft")
        for i in range(18)
    ]
    # cross-batch near-dups: same volume number, 1-2 edits
    clones = [
        (i + 1000, f"annual report volume {i % 9} drafX")
        for i in range(9)
    ] + [
        (i + 2000, f"annual report volume {i % 9} draft x")
        for i in range(4)
    ]
    all_docs = base + clones
    df = spark.createDataFrame(all_docs, "doc_id: long, title: string")
    want = {tuple(r) for r in edit_distance_pairs(df).collect()}
    assert want, "fixture must produce true fuzzy pairs"

    (spark.createDataFrame(base, "doc_id: long, title: string")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "ed") + "/b0"))
    (spark.createDataFrame(clones, "doc_id: long, title: string")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "ed") + "/b1"))
    stream = (
        spark.readStream.schema("doc_id long, title string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "ed") + "/*")
    )
    run_stream_to_memory(
        streaming_edit_pairs(stream), "editstream", mode="append"
    )
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT DISTINCT id_a, id_b, dist FROM editstream WHERE id_a >= 0"
        ).collect()
    }
    assert got == want


def test_streaming_simhash_pairs_match_batch(spark, sf_dir, tmp_path):
    """Streaming Hamming-family near-dup must equal the batch
    banded_hamming_pairs output (verified pairs incl. distances) with
    the near-dups split across micro-batches."""
    from esgopeta_spark.operators.dedup import simhash_candidates
    from esgopeta_spark.streaming.dedup import streaming_simhash_pairs

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = [(r["doc_id"], r["text"]) for r in d.limit(25).collect()]
    clones = [(did + 10000, text + " tail") for did, text in base[:10]]
    all_docs = base + clones
    want = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_candidates(
            spark.createDataFrame(all_docs, "doc_id: long, text: string")
        ).collect()
    }
    assert want, "fixture must produce at least one near-dup pair"
    (spark.createDataFrame(base, "doc_id: long, text: string")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "in") + "/b0"))
    (spark.createDataFrame(clones, "doc_id: long, text: string")
     .coalesce(1).write.mode("overwrite").json(str(tmp_path / "in") + "/b1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "in") + "/*")
    )
    run_stream_to_memory(
        streaming_simhash_pairs(stream), "shstream", mode="append"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in spark.sql(
            "SELECT DISTINCT id_a, id_b, hamming FROM shstream WHERE id_a >= 0"
        ).collect()
    }
    assert got == want


def test_streaming_media_dedup_end_to_end(spark, tmp_path):
    """The streaming Hamming twin covers MEDIA fingerprints too: a
    payload stream (WAV originals in batch 0, FLAC/volume re-encodes in
    batch 1) through the stateless audio_fingerprint kernel and
    streaming_hamming_pairs must produce exactly the batch
    audio_dup_pairs verdicts, with every cross-codec pair discovered
    against state."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import audio_dup_pairs, audio_fingerprint
    from esgopeta_spark.streaming.dedup import streaming_hamming_pairs

    sr = 8000
    t = np.arange(12000)
    clips = [
        (9000 * np.sin(2 * np.pi * f * t / sr)
         + 3000 * np.sin(2 * np.pi * (3 * f) * t / sr)).astype(np.int16)
        for f in (330, 440, 550)
    ]
    originals = [(i, codecs.encode_wav(c, sr)) for i, c in enumerate(clips)]
    reencodes = [
        (100 + i, codecs.encode_flac(c.astype(np.int32), sr))
        for i, c in enumerate(clips[:2])
    ] + [(200, codecs.encode_wav((clips[2] // 2).astype(np.int16), sr))]
    all_media = originals + reencodes
    batch_df = spark.createDataFrame(all_media, "media_id: long, payload: binary")
    want = {
        (r["id_a"], r["id_b"], r["hamming"]) for r in audio_dup_pairs(batch_df).collect()
    }
    assert {(0, 100), (1, 101), (2, 200)} <= {(a, b) for a, b, _ in want}

    (spark.createDataFrame(originals, "media_id: long, payload: binary")
     .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "m") + "/b0"))
    (spark.createDataFrame(reencodes, "media_id: long, payload: binary")
     .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "m") + "/b1"))
    stream = (
        spark.readStream.schema("media_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "m") + "/*")
    )
    fp = audio_fingerprint(stream).select(
        F.col("media_id").alias("_id"), F.col("afp").alias("_fp")
    )
    run_stream_to_memory(
        streaming_hamming_pairs(fp), "mediapairs", mode="append"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in spark.sql(
            "SELECT DISTINCT id_a, id_b, hamming FROM mediapairs WHERE id_a >= 0"
        ).collect()
    }
    assert got == want


def test_streaming_weighted_sample_matches_batch(spark, sf_dir, tmp_path):
    """A-Res reservoir twin: the max-upd_seq snapshot after draining the
    stream must equal the batch Efraimidis-Spirakis sample bit-exactly,
    under multi-batch arrival (maxFilesPerTrigger=1 over 3 files)."""
    from esgopeta_spark.operators.selection import weighted_sample
    from esgopeta_spark.operators.text import token_count
    from esgopeta_spark.streaming.prep import streaming_weighted_sample

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    want = {
        (r["doc_id"], r["weight"], r["es_key"], r["sample_rank"])
        for r in weighted_sample(d, 25, "n_tokens").collect()
    }
    d.coalesce(3).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    stream = spark.readStream.schema("doc_id long, n_tokens long").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(tmp_path / "docs"))
    run_stream_to_memory(
        streaming_weighted_sample(stream, 25, "n_tokens"), "wsamplestream"
    )
    rows = spark.sql("SELECT * FROM wsamplestream").collect()
    assert rows
    last = max(r["upd_seq"] for r in rows)
    got = {
        (r["doc_id"], r["weight"], r["es_key"], r["sample_rank"])
        for r in rows
        if r["upd_seq"] == last
    }
    assert got == want


def test_streaming_stats_kernels_run_as_is(spark, sf_dir, tmp_path):
    """House rule: stateless Arrow kernels run on streams AS-IS (share
    the batch operator, don't mirror it).  Pin it for the r9 stats
    kernels: image_stats on a binary-payload stream equals the batch
    run bit-exactly."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import image_stats

    rows = []
    for i in range(6):
        g = np.full((8, 8, 3), 40 * i, dtype=np.uint8)
        rows.append((i, codecs.encode_png(g)))
    spark.createDataFrame(rows, "media_id long, payload binary").coalesce(
        2
    ).write.mode("overwrite").parquet(str(tmp_path / "media"))
    batch = spark.read.parquet(str(tmp_path / "media"))
    want = {tuple(r) for r in image_stats(batch).collect()}
    stream = spark.readStream.schema("media_id long, payload binary").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(tmp_path / "media"))
    run_stream_to_memory(image_stats(stream), "imstats", mode="append")
    got = {tuple(r) for r in spark.sql("SELECT * FROM imstats").collect()}
    assert got == want


def test_streaming_ewma_matches_batch(spark, sf_dir):
    """The stateful streaming EWMA drained over the events table must
    converge to EXACTLY the batch ewma_smooth rows (integer recursion,
    bit-for-bit) — latest emission per (user, day) wins."""
    from esgopeta_spark.operators.timeseries import ewma_smooth
    from esgopeta_spark.streaming.anomaly import streaming_ewma

    static = read_table(spark, sf_dir, "events")
    stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(streaming_ewma(stream), "ewmastream", mode="update")
    rows = spark.sql("select * from ewmastream").collect()
    latest: dict = {}
    for r in rows:
        k = (r["user_id"], r["day"])
        if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
            latest[k] = r
    got = {k: (r["total_cents"], r["ewma_cents"], r["dev_cents"])
           for k, r in latest.items()}
    want = {(r["user_id"], r["day"]): (r["total_cents"], r["ewma_cents"], r["dev_cents"])
            for r in ewma_smooth(static).collect()}
    assert got == want and got


def test_streaming_ewma_late_day_resmooths_suffix(spark, tmp_path):
    """A late EARLIER day changes s_1 and therefore every downstream
    smoothed value: the re-emissions must retro-correct the whole
    suffix to the batch answer."""
    import datetime

    from esgopeta_spark.operators.timeseries import ewma_smooth
    from esgopeta_spark.streaming.anomaly import streaming_ewma

    def ev(i, day, v):
        return (i, datetime.datetime(2024, 5, day, 12), 1, "x", float(v), None)

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    b1 = [ev(i, 9 + i, 10.0 * i) for i in range(1, 5)]
    b2 = [ev(9, 2, 500.0)]  # LATE: an earlier day with a big value
    d = str(tmp_path / "late_ewma")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(d + "/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(d + "/f=2")
    static = spark.read.option("recursiveFileLookup", "true").parquet(d)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    run_stream_to_memory(streaming_ewma(stream), "ewmalate", mode="update")
    rows = spark.sql("select * from ewmalate").collect()
    latest: dict = {}
    for r in rows:
        k = (r["user_id"], r["day"])
        if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
            latest[k] = r
    got = {k: (r["total_cents"], r["ewma_cents"]) for k, r in latest.items()}
    want = {(r["user_id"], r["day"]): (r["total_cents"], r["ewma_cents"])
            for r in ewma_smooth(static).collect()}
    assert got == want
    # the late day must actually have re-smoothed the suffix: every day
    # after it re-emitted with a higher upd_seq than its first emission
    seqs = sorted({r["upd_seq"] for r in rows})
    assert len(seqs) >= 2


def test_streaming_holt_matches_batch(spark, sf_dir):
    """The stateful streaming Holt twin drained over the events table
    must converge to EXACTLY the batch holt_trend rows."""
    from esgopeta_spark.operators.timeseries import holt_trend
    from esgopeta_spark.streaming.anomaly import streaming_holt

    static = read_table(spark, sf_dir, "events")
    stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(streaming_holt(stream), "holtstream", mode="update")
    rows = spark.sql("select * from holtstream").collect()
    latest: dict = {}
    for r in rows:
        k = (r["user_id"], r["day"])
        if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
            latest[k] = r
    got = {k: (r["total_cents"], r["level_cents"], r["trend_cents"],
               r["forecast_next_cents"]) for k, r in latest.items()}
    want = {(r["user_id"], r["day"]): (r["total_cents"], r["level_cents"],
                                       r["trend_cents"], r["forecast_next_cents"])
            for r in holt_trend(static).collect()}
    assert got == want and got


def test_streaming_lm_scores_match_batch(spark, sf_dir, tmp_path):
    """Train the stupid-backoff tables on the even-id half (offline
    model), score the odd half as a stream: per-doc integer scores and
    backoff-level counts must be bit-equal to the inline batch scorer."""
    from esgopeta_spark.operators.text import lm_backoff_scores, lm_backoff_tables
    from esgopeta_spark.streaming.prep import streaming_lm_scores

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter("doc_id % 2 = 0")
    score = docs.filter("doc_id % 2 = 1")
    want = {tuple(r) for r in lm_backoff_scores(train, score).collect()}

    t = lm_backoff_tables(train)
    tot = t["totals"].first()
    model = {
        "tri": {(r["w1"], r["w2"], r["w3"]): r["c3"] for r in t["tri"].collect()},
        "bi": {(r["w2"], r["w3"]): r["c23"] for r in t["bi"].collect()},
        "uni": {r["w3"]: r["c1"] for r in t["uni"].collect()},
        "n_tokens": tot["n_tokens"],
        "v_types": tot["v_types"],
    }
    score.coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(tmp_path / "docs"))
    query = (
        streaming_lm_scores(stream, model)
        .writeStream.format("memory")
        .queryName("lmstream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert query.awaitTermination(180)
    finally:
        query.stop()
    got = {tuple(r) for r in spark.sql("SELECT * FROM lmstream").collect()}
    assert got == want and got


def test_streaming_video_scenes_matches_batch(spark, tmp_path):
    """The single-kernel stream twin (no frame explode, no lag window)
    must equal the batch window form bit-for-bit on real MJPEG payloads
    with planted cuts, run as an actual multi-batch stream."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import video_scene_stats
    from esgopeta_spark.streaming.prep import streaming_video_scenes

    fxy = [(1, 0), (0, 1), (2, 1), (1, 2), (3, 0), (2, 3)]

    def pat(j):
        yy, xx = np.mgrid[0:24, 0:32]
        fx, fy = fxy[j]
        ph = (2 * np.pi * (fx * xx + fy * yy)) / 16.0
        arr = np.stack(
            [90 + 70 * np.sin(ph), 90 + 70 * np.sin(ph + 1.0), 90 + 70 * np.cos(ph)],
            axis=-1,
        )
        return np.clip(np.round(arr), 0, 255).astype(np.uint8)

    rows = []
    for mid, cut_set in [(1, set()), (2, {1}), (3, {0, 2}), (4, {0, 1, 2})]:
        frames, p = [], 0
        for i in range(4):
            frames.append(pat(p))
            if i in cut_set:
                p += 1
        rows.append((mid, bytes(codecs.encode_mjpeg_mp4(frames, quality=85))))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    want = {tuple(r) for r in video_scene_stats(media, cut_hamming=8).collect()}

    media.coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "vids"))
    stream = spark.readStream.schema("media_id long, payload binary").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(tmp_path / "vids"))
    run_stream_to_memory(
        streaming_video_scenes(stream, cut_hamming=8), "vscenes", mode="append"
    )
    got = {tuple(r) for r in spark.sql("SELECT * FROM vscenes").collect()}
    assert got == want and got


def test_batch_norm_mirror_exact(spark):
    """r10 ADVICE #2: the streaming twins' normalization mirror must be
    bit-equal to batch ``normalize_text`` even on leading tabs (Spark
    trim strips only spaces) and Unicode whitespace (Java \\s is
    ASCII-only, Python \\s is not) — the two divergences of the old
    ``.strip()`` + ``\\s`` mirror."""
    from esgopeta_spark.operators.dedup import normalize_text
    from esgopeta_spark.streaming.prep import _batch_norm

    cases = [
        "\tTabbed Start",
        "  spaces  only  ",
        "nb sp and em-space",
        "\nnewline lead",
        "mixed \t\n innerruns",
        "",
        "ONE",
        "   ",
    ]
    df = spark.createDataFrame([(s,) for s in cases], "t string")
    got_batch = [
        r["n"] for r in df.select(normalize_text(F.col("t")).alias("n")).collect()
    ]
    assert got_batch == [_batch_norm(s) for s in cases]


def test_streaming_nb_predict_matches_batch(spark, sf_dir, tmp_path):
    """Train the NB model on the batch corpus (even docs), classify the
    odd docs as a stream: per-doc predictions must be bit-equal to the
    batch argmax scorer."""
    from esgopeta_spark.operators.classify import nb_predict, nb_train
    from esgopeta_spark.streaming.prep import streaming_nb_predict

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    model, cls = nb_train(docs.filter("doc_id % 2 = 0"))
    odd = docs.filter("doc_id % 2 = 1")
    want = {
        r["doc_id"]: (r["pred_label"], r["score_milli"], r["n_tokens"])
        for r in nb_predict(odd, model, cls).collect()
    }
    odd.select("doc_id", "text").coalesce(2).write.mode("overwrite").parquet(
        str(tmp_path / "docs")
    )
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(tmp_path / "docs"))
    run_stream_to_memory(
        streaming_nb_predict(stream, model.collect(), cls.collect()),
        "nbstream", mode="append",
    )
    got = {
        r["doc_id"]: (r["pred_label"], r["score_milli"], r["n_tokens"])
        for r in spark.sql("SELECT * FROM nbstream").collect()
    }
    assert got == want


def test_streaming_holt_winters_matches_batch(spark, sf_dir):
    """The stateful streaming Holt-Winters twin drained over the events
    table must converge to EXACTLY the batch holt_winters rows —
    including the calendar-phase seasonal column."""
    from esgopeta_spark.operators.timeseries import holt_winters
    from esgopeta_spark.streaming.anomaly import streaming_holt_winters

    static = read_table(spark, sf_dir, "events")
    stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(streaming_holt_winters(stream), "hwstream", mode="update")
    rows = spark.sql("select * from hwstream").collect()
    latest: dict = {}
    for r in rows:
        k = (r["user_id"], r["day"])
        if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
            latest[k] = r
    got = {k: (r["total_cents"], r["level_cents"], r["trend_cents"],
               r["seasonal_cents"], r["forecast_next_cents"])
           for k, r in latest.items()}
    want = {(r["user_id"], r["day"]): (r["total_cents"], r["level_cents"],
                                       r["trend_cents"], r["seasonal_cents"],
                                       r["forecast_next_cents"])
            for r in holt_winters(static).collect()}
    assert got == want and got


def test_stream_stream_outer_join_emits_unmatched_at_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: matched pairs equal the batch
    result AND the unmatched purchases' null rows actually emit once
    the watermark passes their window — the semantics that make the
    outer form need the watermark at all.  Far-future flush events
    (filtered from the comparison) advance both watermarks across
    micro-batches.  (The flush rows carry a REAL user id and are
    excluded by purchase_id: a predicate on a left-side column — like
    the user_id>=0 guard this test first tried — gets pushed through
    the outer join to BOTH scans, silently dropping the flush rows at
    the source so the watermark never moves; excluding on the OUTPUT
    key after collect keeps them watermark-visible.)"""
    import datetime

    from esgopeta_spark.streaming.joins import purchase_click_attribution_outer

    t0 = datetime.datetime(2024, 5, 1, 12, 0, 0)

    def ev(eid, uid, kind, ts, value=1.0):
        return (eid, ts, uid, kind, value, None)

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    purchases = [
        ev(1, 10, "purchase", t0),                                  # matched
        ev(2, 11, "purchase", t0 + datetime.timedelta(hours=1)),    # unmatched
        ev(3, 12, "purchase", t0 + datetime.timedelta(hours=2)),    # matched
    ]
    clicks = [
        ev(100, 10, "click", t0 - datetime.timedelta(hours=3), 2.5),
        ev(101, 12, "click", t0 - datetime.timedelta(hours=1), 1.25),
        ev(102, 13, "click", t0, 9.9),  # no purchase: right-only, no row
    ]
    flush1 = [ev(900, 999, "purchase", t0 + datetime.timedelta(days=10)),
              ev(901, 999, "click", t0 + datetime.timedelta(days=10))]
    flush2 = [ev(902, 999, "purchase", t0 + datetime.timedelta(days=20)),
              ev(903, 999, "click", t0 + datetime.timedelta(days=20))]

    static_p = spark.createDataFrame(purchases + flush1 + flush2, schema)
    static_c = spark.createDataFrame(clicks + flush1 + flush2, schema)
    want = {
        tuple(r)
        for r in purchase_click_attribution_outer(
            static_p.filter("event_type = 'purchase'"),
            static_c.filter("event_type = 'click'"),
        ).collect()
        if r["purchase_id"] < 900
    }
    assert {(w[0], w[5]) for w in want} == {(1, 1), (3, 1), (2, 0)}

    import time

    pdir, cdir = str(tmp_path / "p"), str(tmp_path / "c")
    for pb, cb in zip([purchases, flush1, flush2], [clicks, flush1, flush2]):
        spark.createDataFrame(pb, schema).coalesce(1).write.mode(
            "append").parquet(pdir)
        spark.createDataFrame(cb, schema).coalesce(1).write.mode(
            "append").parquet(cdir)
        time.sleep(1.1)  # distinct mtimes: file-source admission order
    sp = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(pdir)
    sc = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(cdir)
    out = purchase_click_attribution_outer(
        sp.filter("event_type = 'purchase'"), sc.filter("event_type = 'click'")
    )
    run_stream_to_memory(out, "attribouter", mode="append")
    got = {tuple(r) for r in spark.sql("select * from attribouter").collect()
           if r["purchase_id"] < 900}
    assert got == want, (got, want)
    # the unmatched purchase really came through the null-emission path
    assert (2, 11, None) in {(g[0], g[1], g[3]) for g in got}


def test_streaming_conditional_fetch_matches_batch(spark, tmp_path):
    """r12 (r11 verdict #6): the conditional-GET merge's stateful twin.
    The fetch store is keyed state per url; 304s resolve against it;
    store-less 304s emit the VISIBLE miss marker.  Drained over
    micro-batches in BOTH arrival orders — installs behind the 304s
    they resolve forces the miss->cache retro-correction path — the
    final max-upd_seq verdicts equal the batch conditional_fetch_merge
    bit-for-bit."""
    from esgopeta_spark.operators.web import (
        conditional_fetch_merge,
        synth_conditional_warc,
        warc_fetch_records,
    )
    from esgopeta_spark.streaming.crawl import (
        conditional_fetch_events,
        streaming_conditional_fetch,
    )

    docs = spark.createDataFrame(
        [(d, f"https://h{d % 5}.org/p{d}", f"page body {d}") for d in range(30)],
        "doc_id long, uri string, page string",
    )
    warc = synth_conditional_warc(docs).drop("page")
    store = docs.where("doc_id % 15 != 3").selectExpr(
        "uri as url", "md5(concat('cached:', doc_id)) as page_md5"
    )
    want = {
        (r["doc_id"], r["uri"]): (r["status"], r["fetch_source"], r["page_md5"])
        for r in conditional_fetch_merge(warc, store).collect()
    }
    assert {v[1] for v in want.values()} == {"network", "cache", "miss"}

    ev_schema = "kind int, doc_id long, uri string, status int, body_md5 string"
    fetch_ev = [tuple(r) for r in conditional_fetch_events(
        warc_fetch_records(warc), store.limit(0)).collect()]
    store_ev = [tuple(r) for r in conditional_fetch_events(
        warc_fetch_records(warc.limit(0)), store).collect()]
    case = 0
    for order in ("store_first", "store_last"):
        case += 1
        d = str(tmp_path / f"cf{case}")
        os.makedirs(d)
        b1, b2 = ((store_ev, fetch_ev) if order == "store_first"
                  else (fetch_ev, store_ev))
        spark.createDataFrame(b1, ev_schema).coalesce(1).write.parquet(d + "/b1")
        spark.createDataFrame(b2, ev_schema).coalesce(1).write.parquet(d + "/b2")
        stream = (
            spark.readStream.schema(ev_schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(d)
        )
        run_stream_to_memory(
            streaming_conditional_fetch(stream), f"cfstream{case}", mode="update"
        )
        latest: dict = {}
        for r in spark.sql(f"select * from cfstream{case}").collect():
            k = (r["doc_id"], r["uri"])
            if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
                latest[k] = r
        got = {k: (r["status"], r["fetch_source"], r["page_md5"])
               for k, r in latest.items()}
        assert got == want, (order, {k: (got.get(k), want.get(k))
                                     for k in set(got) ^ set(want) or set()})
        if order == "store_last":
            # the retro path really fired: some 304 was first emitted as
            # a visible miss, then flipped to cache with a higher seq
            flips = [
                r for r in spark.sql(f"select * from cfstream{case}").collect()
                if r["fetch_source"] == "miss"
                and want[(r["doc_id"], r["uri"])][1] == "cache"
            ]
            assert flips, "expected miss->cache retro-corrections"


def test_streaming_conditional_fetch_reinstall_reemits(spark, tmp_path):
    """r13 (r12 ADVICE): an install that CHANGES the stored md5 AFTER
    304s already resolved as 'cache' must re-emit those verdicts with
    the new stored copy — the final max-upd_seq answers equal the
    batch merge against the FINAL store, not the first install."""
    from esgopeta_spark.operators.web import (
        conditional_fetch_merge,
        synth_conditional_warc,
        warc_fetch_records,
    )
    from esgopeta_spark.streaming.crawl import (
        conditional_fetch_events,
        streaming_conditional_fetch,
    )

    docs = spark.createDataFrame(
        [(d, f"https://h{d % 5}.org/p{d}", f"page body {d}") for d in range(30)],
        "doc_id long, uri string, page string",
    )
    warc = synth_conditional_warc(docs).drop("page")
    store_v1 = docs.selectExpr(
        "uri as url", "md5(concat('v1:', doc_id)) as page_md5")
    store_v2 = docs.selectExpr(
        "uri as url", "md5(concat('v2:', doc_id)) as page_md5")
    # batch truth: the UPDATED store (v2 superseded v1)
    want = {
        (r["doc_id"], r["uri"]): (r["status"], r["fetch_source"], r["page_md5"])
        for r in conditional_fetch_merge(warc, store_v2).collect()
    }
    ev_schema = "kind int, doc_id long, uri string, status int, body_md5 string"
    empty_store = store_v1.limit(0)
    fetch_ev = [tuple(r) for r in conditional_fetch_events(
        warc_fetch_records(warc), empty_store).collect()]
    v1_ev = [tuple(r) for r in conditional_fetch_events(
        warc_fetch_records(warc.limit(0)), store_v1).collect()]
    v2_ev = [tuple(r) for r in conditional_fetch_events(
        warc_fetch_records(warc.limit(0)), store_v2).collect()]
    d = str(tmp_path / "cf_reinstall")
    os.makedirs(d)
    # v1 installs, then the 304s resolve as cache against v1, THEN the
    # changed v2 install arrives — the divergence window the r12 code hit
    for i, batch in enumerate([v1_ev, fetch_ev, v2_ev]):
        spark.createDataFrame(batch, ev_schema).coalesce(1).write.parquet(
            f"{d}/b{i}")
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    run_stream_to_memory(
        streaming_conditional_fetch(stream), "cfreinstall", mode="update")
    emitted = spark.sql("select * from cfreinstall").collect()
    latest: dict = {}
    for r in emitted:
        k = (r["doc_id"], r["uri"])
        if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
            latest[k] = r
    got = {k: (r["status"], r["fetch_source"], r["page_md5"])
           for k, r in latest.items()}
    assert got == want
    # the re-emission really fired: some cache verdict exists at BOTH md5s
    by_doc: dict = {}
    for r in emitted:
        if r["fetch_source"] == "cache":
            by_doc.setdefault((r["doc_id"], r["uri"]), set()).add(r["page_md5"])
    assert any(len(v) == 2 for v in by_doc.values()), \
        "expected cache verdicts re-emitted under the changed install"


def test_streaming_conditional_fetch_repeated_304_state_is_set(spark, tmp_path):
    """r14 (r13 ADVICE): a 304 REPEATED across batches for the same doc
    must not grow the per-uri 'resolved' state nor re-emit duplicate
    identical retro-correction rows when a later md5-changing install
    lands — state keeps set semantics."""
    from esgopeta_spark.operators.web import (
        conditional_fetch_merge,
        synth_conditional_warc,
        warc_fetch_records,
    )
    from esgopeta_spark.streaming.crawl import (
        conditional_fetch_events,
        streaming_conditional_fetch,
    )

    docs = spark.createDataFrame(
        [(d, f"https://h{d % 3}.org/p{d}", f"page body {d}") for d in range(12)],
        "doc_id long, uri string, page string",
    )
    warc = synth_conditional_warc(docs).drop("page")
    store_v1 = docs.selectExpr(
        "uri as url", "md5(concat('v1:', doc_id)) as page_md5")
    store_v2 = docs.selectExpr(
        "uri as url", "md5(concat('v2:', doc_id)) as page_md5")
    want = {
        (r["doc_id"], r["uri"]): (r["status"], r["fetch_source"], r["page_md5"])
        for r in conditional_fetch_merge(warc, store_v2).collect()
    }
    ev_schema = "kind int, doc_id long, uri string, status int, body_md5 string"
    empty_store = store_v1.limit(0)
    fetch_ev = [tuple(r) for r in conditional_fetch_events(
        warc_fetch_records(warc), empty_store).collect()]
    v1_ev = [tuple(r) for r in conditional_fetch_events(
        warc_fetch_records(warc.limit(0)), store_v1).collect()]
    v2_ev = [tuple(r) for r in conditional_fetch_events(
        warc_fetch_records(warc.limit(0)), store_v2).collect()]
    d = str(tmp_path / "cf_rep304")
    os.makedirs(d)
    # v1 install, then the SAME fetch batch twice (repeated 304s per
    # doc), then the changed v2 install — pre-fix the duplicate resolved
    # appends made the retro-correction emit duplicate identical rows
    for i, batch in enumerate([v1_ev, fetch_ev, fetch_ev, v2_ev]):
        spark.createDataFrame(batch, ev_schema).coalesce(1).write.parquet(
            f"{d}/b{i}")
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    run_stream_to_memory(
        streaming_conditional_fetch(stream), "cfrep304", mode="update")
    emitted = spark.sql("select * from cfrep304").collect()
    latest: dict = {}
    for r in emitted:
        k = (r["doc_id"], r["uri"])
        if k not in latest or r["upd_seq"] > latest[k]["upd_seq"]:
            latest[k] = r
    got = {k: (r["status"], r["fetch_source"], r["page_md5"])
           for k, r in latest.items()}
    assert got == want
    # no duplicate identical retro-correction rows: within one handler
    # invocation (one upd_seq per uri) each doc verdict appears once
    from collections import Counter
    counts = Counter((r["doc_id"], r["uri"], r["upd_seq"]) for r in emitted)
    dupes = {k: n for k, n in counts.items() if n > 1}
    assert not dupes, f"duplicate rows at the same upd_seq: {dupes}"


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """r12: the nightly-loop core as a live stream.  The keeper store is
    keyed state per text hash; verdicts re-emit on flips (late store
    install: new/dup_incr -> dup_prior; late smaller increment id
    steals 'new').  Final max-upd_seq verdicts equal the batch
    incremental_dedup bit-for-bit in BOTH arrival orders."""
    import random

    from esgopeta_spark.operators.dedup import incremental_dedup
    from esgopeta_spark.streaming.dedup import (
        incremental_events,
        streaming_incremental_dedup,
    )

    rng = random.Random(12)
    prior_rows, incr_rows = [], []
    for g in range(12):  # dup families spanning prior and increment
        text = f"family {g} body text"
        for j in range(rng.randint(0, 2)):
            prior_rows.append((g * 100 + j, text))
        for j in range(rng.randint(0, 3)):
            incr_rows.append((10000 + g * 100 + j, text))
    for j in range(8):  # increment-only uniques
        incr_rows.append((20000 + j, f"unique {j}"))
    prior = spark.createDataFrame(prior_rows, "doc_id long, text string")
    incr = spark.createDataFrame(incr_rows, "doc_id long, text string")
    want = {r["doc_id"]: (r["status"], r["keeper_id"])
            for r in incremental_dedup(prior, incr).collect()}

    ev_schema = "kind int, th string, doc_id long"
    inst = [tuple(r) for r in incremental_events(prior, incr.limit(0)).collect()]
    docs = [tuple(r) for r in incremental_events(prior.limit(0), incr).collect()]
    # split increment docs so each family's smaller ids can arrive LAST
    docs_desc = sorted(docs, key=lambda t: -t[2])
    half = len(docs_desc) // 2
    case = 0
    for order, batches in [
        ("store_first", [inst, docs_desc[:half], docs_desc[half:]]),
        ("store_last", [docs_desc[:half], docs_desc[half:], inst]),
    ]:
        case += 1
        d = str(tmp_path / f"incr{case}")
        os.makedirs(d)
        for i, b in enumerate(batches):
            spark.createDataFrame(b, ev_schema).coalesce(1).write.parquet(
                f"{d}/b{i}")
        stream = (
            spark.readStream.schema(ev_schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(d)
        )
        run_stream_to_memory(
            streaming_incremental_dedup(stream), f"incrstream{case}",
            mode="update",
        )
        latest: dict = {}
        for r in spark.sql(f"select * from incrstream{case}").collect():
            if (r["doc_id"] not in latest
                    or r["upd_seq"] > latest[r["doc_id"]]["upd_seq"]):
                latest[r["doc_id"]] = r
        got = {d_: (r["status"], r["keeper_id"]) for d_, r in latest.items()}
        assert got == want, (order, {k: (got.get(k), want.get(k))
                                     for k in set(got) ^ set(want) or
                                     {k for k in got if got[k] != want.get(k)}})
        if order == "store_last":
            flips = [r for r in spark.sql(
                f"select * from incrstream{case}").collect()
                if r["status"] in ("new", "dup_incr")
                and want[r["doc_id"]][0] == "dup_prior"]
            assert flips, "expected late-install retro-corrections"


def test_streaming_kmv_distinct_matches_batch(spark, tmp_path):
    """r12: the distinct-family sketch joins CMS in having a streaming
    form.  The per-window k-min set is arrival-order independent, so
    the drained stream's max-upd_seq estimates equal the batch
    kmv_distinct per window — in both arrival orders."""
    from pyspark.sql import functions as F

    from esgopeta_spark.operators.sketches import kmv_distinct
    from esgopeta_spark.streaming.windows import streaming_kmv_distinct

    ev = read_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts")
    width = 24 * 3600_000
    batch = ev.select(
        F.expr(f"(unix_millis(ts) div {width}) * {width}").cast("bigint")
        .alias("w_start_ms"), "user_id",
    )
    want = {r["w_start_ms"]: (r["n_kept"], r["est_distinct"])
            for r in kmv_distinct(batch, "user_id", ["w_start_ms"], k=4)
            .collect()}
    assert want and any(n == 4 for n, _ in want.values()), want

    rows = [(r["user_id"], r["ts"]) for r in ev.collect()]
    case = 0
    for order in ("fwd", "rev"):
        case += 1
        ordered = rows if order == "fwd" else rows[::-1]
        half = len(ordered) // 2
        d = str(tmp_path / f"kmv{case}")
        os.makedirs(d)
        for i, b in enumerate((ordered[:half], ordered[half:])):
            spark.createDataFrame(b, ev.schema).coalesce(1).write.parquet(
                f"{d}/b{i}")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(d)
        )
        run_stream_to_memory(
            streaming_kmv_distinct(stream, width_ms=width, k=4),
            f"kmvstream{case}", mode="update",
        )
        latest: dict = {}
        for r in spark.sql(f"select * from kmvstream{case}").collect():
            w = r["w_start_ms"]
            if w not in latest or r["upd_seq"] > latest[w]["upd_seq"]:
                latest[w] = r
        got = {w: (r["n_kept"], r["est_distinct"]) for w, r in latest.items()}
        assert got == want, (order, got, want)


def test_streaming_template_lines_matches_batch(spark, tmp_path):
    """r13 (r12 verdict #6): the cross-page template-line cut's
    stateful twin.  Host (line -> doc-count) votes are keyed state;
    a line crossing the min_docs/min_frac threshold retro-corrects
    every resident page containing it.  Drained over micro-batches in
    BOTH arrival orders — the threshold crossing split behind pages
    already emitted forces the re-emission path — the final
    max-upd_seq rows equal the batch host_template_lines bit-for-bit."""
    from esgopeta_spark.operators.web import host_template_lines
    from esgopeta_spark.streaming.prep import streaming_template_lines

    banner = "(c) example corp - all rights reserved"
    nav = "home | products | about"
    rows = []
    for d in range(16):
        host = f"h{d % 2}.org"
        body = [f"unique content line {d}", f"more body text {d}"]
        if d % 2 == 0:  # h0: banner on every page, nav on half
            body = [banner] + body + ([nav] if d % 4 == 0 else [])
        else:  # h1: banner on only 2 of 8 pages — must stay content
            if d in (1, 3):
                body = [banner] + body
        rows.append((d, host, "\n".join(body)))
    docs = spark.createDataFrame(rows, "doc_id long, host string, text string")
    want = {
        r["doc_id"]: (r["host"], r["n_lines"], r["n_dropped"], r["clean_text"])
        for r in host_template_lines(docs).collect()
    }
    # the fixture really exercises both classes: h0 drops, h1 keeps
    assert any(v[2] > 0 for v in want.values())
    assert any(v[2] == 0 for v in want.values())

    schema = "doc_id long, host string, text string"
    first = [r for r in rows if r[0] < 5]
    rest = [r for r in rows if r[0] >= 5]
    case = 0
    for order, (b1, b2) in {
        "few_first": (first, rest), "bulk_first": (rest, first)
    }.items():
        case += 1
        d = str(tmp_path / f"tpl{case}")
        os.makedirs(d)
        spark.createDataFrame(b1, schema).coalesce(1).write.parquet(d + "/b1")
        spark.createDataFrame(b2, schema).coalesce(1).write.parquet(d + "/b2")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(d)
        )
        run_stream_to_memory(
            streaming_template_lines(stream), f"tplstream{case}", mode="update"
        )
        emitted = spark.sql(f"select * from tplstream{case}").collect()
        assert all(r["doc_id"] >= 0 for r in emitted)  # no cap markers here
        latest: dict = {}
        for r in emitted:
            if r["doc_id"] not in latest or r["upd_seq"] > latest[r["doc_id"]]["upd_seq"]:
                latest[r["doc_id"]] = r
        got = {k: (r["host"], r["n_lines"], r["n_dropped"], r["clean_text"])
               for k, r in latest.items()}
        assert got == want, order
        # the retro path really fired in at least one order: some doc
        # emitted first with fewer drops, then re-emitted with more
        if order == "few_first":
            multi = [r for r in emitted
                     if r["doc_id"] < 5 and r["host"] == "h0.org"]
            assert any(
                a["doc_id"] == b["doc_id"] and a["upd_seq"] < b["upd_seq"]
                and a["n_dropped"] != b["n_dropped"]
                for a in multi for b in multi
            ), "expected template-crossing retro-corrections"


def test_streaming_template_lines_cap_marker_names_doc(spark, tmp_path):
    """r14 (r13 ADVICE): past the resident cap the marker row must name
    WHICH doc lost the retro-correction guarantee (doc_id = -1 - d),
    not a bare -1 host flag; resident docs keep batch equality."""
    from esgopeta_spark.streaming.prep import streaming_template_lines

    rows = [(d, "h.org", f"line {d}\nshared banner") for d in range(6)]
    schema = "doc_id long, host string, text string"
    d = str(tmp_path / "tplcap")
    os.makedirs(d)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d + "/b1")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    run_stream_to_memory(
        streaming_template_lines(stream, resident_cap=4), "tplcap",
        mode="update",
    )
    emitted = spark.sql("select * from tplcap").collect()
    markers = [r for r in emitted if r["doc_id"] < 0]
    # docs 0..3 become residents; 4 and 5 overflow — the markers name them
    assert sorted(-1 - r["doc_id"] for r in markers) == [4, 5]
    assert all(r["n_lines"] == -1 for r in markers)
    # every real doc still got its verdict row
    assert {r["doc_id"] for r in emitted if r["doc_id"] >= 0} == set(range(6))


def test_stateless_r13_ops_run_on_streams_as_is(spark, tmp_path):
    """r13 stateless ops follow the share-don't-mirror discipline: the
    unicode fold (pure codegen) and the modern content-encoding unwrap
    (Arrow kernel chain with zstd/br decode) run on a readStream
    UNCHANGED, and the drained results equal the batch run row-for-row."""
    import pyarrow as pa

    from pyspark.sql import functions as F

    from esgopeta_spark.operators.text import fold_unicode
    from esgopeta_spark.operators.web import (
        build_warc_record,
        http_unwrap_digest,
    )

    rows = [(d, f"d‘oc’ — ＴＥＸＴ ﬁ {d}") for d in range(12)]
    d1 = str(tmp_path / "fold_in")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.parquet(d1)
    batch = {r["doc_id"]: (r["folded"], r["changed"])
             for r in fold_unicode(spark.read.parquet(d1)).collect()}
    stream = spark.readStream.schema("doc_id long, text string").parquet(d1)
    run_stream_to_memory(fold_unicode(stream), "foldstream", mode="append")
    got = {r["doc_id"]: (r["folded"], r["changed"])
           for r in spark.sql("select * from foldstream").collect()}
    assert got == batch and all(c == 1 for _, c in got.values())

    def warc_of(d):
        body = pa.Codec("zstd").compress(
            f"page body {d}".encode(), asbytes=True)
        payload = (
            f"HTTP/1.1 200 OK\r\nContent-Encoding: zstd\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("latin-1") + body
        return build_warc_record(f"https://h/{d}", payload)

    wrows = [(d, warc_of(d)) for d in range(8)]
    d2 = str(tmp_path / "enc_in")
    spark.createDataFrame(wrows, "doc_id long, warc binary") \
        .coalesce(1).write.parquet(d2)
    batch2 = {r["doc_id"]: (r["status"], r["page_md5"])
              for r in http_unwrap_digest(spark.read.parquet(d2)).collect()}
    stream2 = spark.readStream.schema("doc_id long, warc binary").parquet(d2)
    run_stream_to_memory(
        http_unwrap_digest(stream2), "encstream", mode="append")
    got2 = {r["doc_id"]: (r["status"], r["page_md5"])
            for r in spark.sql("select * from encstream").collect()}
    assert got2 == batch2 and all(s == 200 for s, _ in got2.values())


def test_streaming_psi_drift_matches_batch(spark, tmp_path):
    """r14 (r13 verdict #4): the PSI snapshot-drift alarm's stream
    form.  Per event-time window the length-bucket distribution drifts
    against a FIXED prior snapshot (bounded driver-state shares); the
    per-window count vector is additive, so the drained stream's
    max-upd_seq rows must equal the batch snapshot_drift_psi on that
    window's documents — in BOTH arrival orders, across micro-batch
    splits that land partial windows in different batches."""
    from pyspark.sql import functions as F

    from esgopeta_spark.operators.quality import (
        psi_prior_ppm,
        snapshot_drift_psi,
    )
    from esgopeta_spark.streaming.windows import streaming_psi_drift

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    prior = docs.where(F.col("doc_id") % 5 == 0).select("text")
    p_ppm = psi_prior_ppm(prior)
    assert len(p_ppm) == 10 and all(x >= 1 for x in p_ppm)

    width = 3600_000
    base = 1_700_000_000_000
    cur = docs.select(
        "doc_id", "text",
        F.timestamp_millis(
            F.lit(base) + (F.col("doc_id") % 3) * F.lit(width)
        ).alias("ts"),
    )

    # batch expectation: snapshot_drift_psi per event-time window
    want = {}
    for k in range(3):
        w_start = ((base + k * width) // width) * width
        sub = cur.where(F.col("doc_id") % 3 == k).select("text")
        for r in snapshot_drift_psi(prior, sub).collect():
            want[(w_start, r["bucket"])] = (
                r["p_ppm"], r["q_ppm"], r["contrib_nanobits"],
                r["psi_nanobits"],
            )

    rows = [(r["doc_id"], r["text"], r["ts"]) for r in cur.collect()]
    case = 0
    for order in ("fwd", "rev"):
        case += 1
        ordered = rows if order == "fwd" else rows[::-1]
        half = len(ordered) // 2
        d = str(tmp_path / f"psi{case}")
        os.makedirs(d)
        for i, b in enumerate((ordered[:half], ordered[half:])):
            spark.createDataFrame(b, cur.schema).coalesce(1).write.parquet(
                f"{d}/b{i}")
        stream = (
            spark.readStream.schema(cur.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(d)
        )
        run_stream_to_memory(
            streaming_psi_drift(stream, p_ppm, width_ms=width),
            f"psistream{case}", mode="update",
        )
        latest: dict = {}
        for r in spark.sql(f"select * from psistream{case}").collect():
            key = (r["w_start_ms"], r["bucket"])
            if key not in latest or r["upd_seq"] > latest[key]["upd_seq"]:
                latest[key] = r
        got = {
            k: (r["p_ppm"], r["q_ppm"], r["contrib_nanobits"],
                r["psi_nanobits"])
            for k, r in latest.items()
        }
        assert got == want, (order,
                             {k: (got.get(k), want.get(k))
                              for k in set(got) ^ set(want) or list(want)[:2]})
