"""The three workloads.  Each one:

- ``seed_inputs(rep)``: builds its inputs from the seed and loads them
  into the program (timed as set-up, repeated to take a median);
- ``prepare()`` / ``warm_up()``: untimed oracle state, then unmeasured
  warm-up ops so caches fill and code is compiled before timing;
- ``round(i)``: the ops of measured round ``i``.  Rounds always run
  whole, so every run measures the same mix of op kinds.

An ``Op`` is a closed-loop call into the program (``run``, timed) and a
check of its output against the oracle (``check``, untimed).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow.parquet as pq

import gen
import oracle
from spans import Tracer, plan_aggregates

CATALOG_ENTRIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "win_topk_orders_per_customer", "agg_rollup_region_nation", "graph_ham_merge_events",
    "dedup_minhash_pairs", "sim_topk_cosine_ivf", "text_profile_docs", "stream_tumbling_counts",
)
CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings")
CATALOG_SCALE = 0.01
WARM_UP = 1_000_000  # index of the unmeasured warm-up round's input stream


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], list[str]]
    extras: dict = field(default_factory=dict)  # per-op trace counters (traced runs)


class Workload:
    name = ""
    op_unit = ""
    min_rounds = 1  # measured rounds a run makes even past the window

    def __init__(self, spark, seed: int, work: str, tracer: Tracer, spec: gen.GraphSpec):
        self.spark, self.seed, self.work, self.tracer, self.spec = spark, seed, work, tracer, spec
        os.makedirs(os.path.join(work, "inputs"), exist_ok=True)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def seed_inputs(self, rep: int) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def warm_ops(self) -> list[Op]:
        return self.round(WARM_UP)

    def warm_up(self) -> list[str]:
        """Run the unmeasured warm-up ops; returns oracle mismatches."""
        errors = []
        for op in self.warm_ops():
            errors += op.check(op.run())
        return errors

    def round(self, i: int) -> list[Op]:
        raise NotImplementedError

    def describe(self) -> dict:
        return {}

    def self_check(self) -> bool:
        """Same seed -> identical inputs; a different seed -> different ones."""
        return gen.self_check(self.spec, self.seed)


class GraphStoreWorkload(Workload):
    """Shared set-up of the graph workloads: the seeded snapshot written
    into a fresh manifest store."""

    def seed_inputs(self, rep: int) -> None:
        from esgopeta_spark.sources.io import write_quads

        self.rows = gen.seed_quads(self.spec, self.seed)
        src = self.path("inputs", f"seed-{rep}.parquet")
        gen.write_table(gen.to_table(self.rows), src)
        self.store = self.path(f"store-{rep}")
        with self.tracer.span("sources.io.write_quads", "sources.io"):
            write_quads(self.spark.read.parquet(src), self.store, n_buckets=self.spec.n_buckets)
        for old in range(rep):
            shutil.rmtree(self.path(f"store-{old}"), ignore_errors=True)

    def read_snapshot(self):
        from esgopeta_spark.sources.io import read_quads

        with self.tracer.span("sources.io.read_quads", "sources.io"):
            return read_quads(self.spark, self.store)

    def describe(self) -> dict:
        return {"seed_quads": len(self.rows), **self.spec.describe()}


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest(GraphStoreWorkload):
    name, op_unit = "ingest", "micro-batch upsert"
    min_rounds = 3  # a batch takes seconds: fewer would leave no median

    def prepare(self) -> None:
        self.model = oracle.HamModel(self.rows)
        self.next_batch = 0

    def warm_ops(self) -> list[Op]:
        return [op for _ in range(4) for op in self.round(WARM_UP)]  # batches 0-3: latency falls for several batches

    def round(self, i: int) -> list[Op]:
        from esgopeta_spark.streaming.upsert import ham_upsert_batch

        b = self.next_batch
        self.next_batch += 1
        rows = gen.update_batch(self.spec, self.seed, b)
        as_of = gen.batch_as_of(b)
        src = self.path("inputs", f"batch-{b}.parquet")
        update_bytes = gen.write_table(gen.to_table(rows), src)
        # the upsert's commit GC deletes the old bucket files: count them now
        before = _bucket_rows(self.store) if self.tracer.active else None

        def run():
            with self.tracer.span("streaming.upsert.ham_upsert_batch", "streaming.upsert"):
                ham_upsert_batch(self.spark, self.spark.read.parquet(src), self.store,
                                 n_buckets=self.spec.n_buckets, as_of_ms=as_of)

        def check(_):
            carried = len(self.model.pending)
            self.model.upsert(rows, as_of)
            if before is not None:
                op.extras.update(_batch_io(self.store, before, update_bytes,
                                           len(rows) + carried - len(self.model.pending),
                                           len(self.model.pending)))
            os.remove(src)
            return oracle.check_store(self.store, self.model)

        op = Op("batch", run, check)
        return [op]

    def store_bytes_per_key(self) -> float:
        m = _manifest(self.store)
        live = list(m["buckets"].values()) + ([m["pending"]] if m.get("pending") else [])
        return sum(_dir_bytes(os.path.join(self.store, rel)) for rel in live) / len(self.model.store)


def _manifest(store: str) -> dict:
    with open(os.path.join(store, "_quads_meta.json")) as f:
        return json.load(f)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _dir_rows(path: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _bucket_rows(store: str) -> dict[str, tuple[str, int]]:
    """bucket -> (live directory, row count) of the store's snapshot."""
    return {b: (rel, _dir_rows(os.path.join(store, rel))) for b, rel in _manifest(store)["buckets"].items()}


def _batch_io(store: str, before: dict, update_bytes: int, eligible: int, deferred: int) -> dict:
    """What one upsert did to the store, from the snapshots around it."""
    after = _bucket_rows(store)
    touched = [b for b, (rel, _) in after.items() if before.get(b, (None,))[0] != rel]
    commit = os.path.join(store, "commits", f"c{_manifest(store)['seq']:06d}")
    existing = sum(before[b][1] for b in touched if b in before)
    winners = sum(after[b][1] for b in touched)
    return {
        "buckets_touched": len(touched),
        "bytes_written_per_update_byte": _dir_bytes(commit) / update_bytes,
        "candidates": existing + eligible,
        "winner_ratio": winners / max(existing + eligible, 1),
        "deferred_rows": deferred,
    }


# ---------------------------------------------------------------------------
# graph_reads: point ops and bulk reads on one snapshot
# ---------------------------------------------------------------------------

TRAVERSALS_PER_ROUND = 3


class GraphReads(GraphStoreWorkload):
    """A round is one client session of puts and fetches, then three
    traversals and a pagerank, all over the same store snapshot."""

    name, op_unit = "graph_reads", "put, fetch_one, traverse+values_at or pagerank"
    min_rounds = 2  # a round takes seconds: two give every op position two samples

    def prepare(self) -> None:
        from esgopeta_spark.graph import GunGraph

        self.base_df = self.read_snapshot()
        self.base_model = oracle.HamModel(self.rows)
        self.graph = GunGraph(self.spark, self.base_df)
        self.con = oracle.graph_duckdb(self.rows)
        self.pagerank_expected = oracle.pagerank_expected(self.con, self.spec.pagerank_iterations)

    def round(self, i: int) -> list[Op]:
        ops = self._session(i)
        ops += [self._traverse(i * TRAVERSALS_PER_ROUND + k) for k in range(TRAVERSALS_PER_ROUND)]
        return ops + [self._pagerank()]

    def warm_ops(self) -> list[Op]:
        # a whole round: with less, the first measured round still runs slow
        return self.round(WARM_UP)

    # point ops ---------------------------------------------------------------

    def _session(self, j: int) -> list[Op]:
        from esgopeta_spark.graph import GunGraph

        state = {"g": GunGraph(self.spark, self.base_df, soul_gen=oracle.SeqSouls(f"s{j}"))}
        model = oracle.PointModel(self.base_model, oracle.SeqSouls(f"s{j}"))
        ops = []
        for pos, step in enumerate(gen.session_script(self.spec, self.seed, j)):
            ops.append(self._put(state, model, *step[1:]) if step[0] == "put" else self._fetch(state, model, step[1]))
            ops[-1].extras["position"] = pos
        return ops

    def _after(self, op: Op, state: dict) -> None:
        if self.tracer.active:
            g = state["g"]
            op.extras["plan_aggregates"] = plan_aggregates(g._base) + (1 if g._pending else 0)

    def _put(self, state, model, path, value, st) -> Op:
        def run():
            with self.tracer.span("graph.put", "graph"):
                res = state["g"].put(list(path), value, state=st)
            state["g"] = res.graph
            return res.updates

        def check(updates):
            self._after(op, state)
            got = [(u["soul"], u["field"], gen.decode(u), u["state"]) for u in updates]
            want = model.put(path, value, st)
            return [] if got == want else [f"put {path}: {got} != {want}"]

        op = Op("put", run, check)
        return op

    def _fetch(self, state, model, path) -> Op:
        def run():
            before = self.tracer.counters["graph.lookups"]
            with self.tracer.span("graph.fetch_one", "graph"):
                res = state["g"].fetch_one(*path)
            op.extras["lookups"] = self.tracer.counters["graph.lookups"] - before
            return res

        def check(res):
            self._after(op, state)
            got = (res.value, res.value_exists, res.state)
            want = model.fetch(path)
            return [] if got == want else [f"fetch {path}: {got} != {want}"]

        op = Op("fetch", run, check)
        return op

    # bulk reads --------------------------------------------------------------

    def _traverse(self, k: int) -> Op:
        roots, hops, value_field = gen.root_set(self.spec, self.seed, k)
        expected = oracle.traverse_expected(self.con, roots, hops, value_field)
        roots_df = self.spark.createDataFrame(roots, "root long, soul string")
        g = self.graph

        def run():
            with self.tracer.span("graph.traverse", "graph"):
                return g.values_at(g.traverse(roots_df, *hops), value_field).collect()

        def check(rows):
            got = oracle.canon_traverse(r.asDict() for r in rows)
            return [] if got == expected else [f"traverse {k}: {len(got)} rows vs {len(expected)}"]

        return Op("traverse", run, check)

    def _pagerank(self) -> Op:
        from esgopeta_spark.operators.graph_analytics import pagerank

        def run():
            with self.tracer.span("operators.graph_analytics.pagerank", "operators.graph_analytics"):
                return pagerank(self.graph.edges(), iterations=self.spec.pagerank_iterations).collect()

        def check(rows):
            got = sorted((r["node"], int(r["rank_micro"])) for r in rows)
            return [] if got == self.pagerank_expected else ["pagerank differs from the recurrence"]

        return Op("pagerank", run, check)


# ---------------------------------------------------------------------------
# catalog_mix
# ---------------------------------------------------------------------------


class CatalogMix(Workload):
    """One pass over the entries in a fresh session, the way a batch job
    meets them: no entry runs before it is timed."""

    name, op_unit = "catalog_mix", "registry entry, collected"

    def seed_inputs(self, rep: int) -> None:
        self.tables = self.path(f"tables-{rep}")
        os.makedirs(self.tables)
        tables = gen.catalog_tables(CATALOG_SCALE)
        self.texts = dict(zip(tables["documents"]["doc_id"].to_pylist(), tables["documents"]["text"].to_pylist()))
        for name, table in tables.items():
            gen.write_table(table, os.path.join(self.tables, f"{name}.parquet"))
        for old in range(rep):
            shutil.rmtree(self.path(f"tables-{old}"), ignore_errors=True)

    def warm_ops(self) -> list[Op]:
        return []

    def prepare(self) -> None:
        from esgopeta_spark.plans import REGISTRY

        self.registry = REGISTRY
        con = oracle.catalog_duckdb(self.tables, CATALOG_TABLES)
        self.expected = {n: oracle.oracle_hash(con, REGISTRY[n].oracle)
                         for n in CATALOG_ENTRIES if REGISTRY[n].oracle is not None}
        con.close()

    def _check_minhash(self, result) -> list[str]:
        """The LSH entry has no SQL oracle: it must find some pairs, and
        every pair it reports must have the word 3-gram Jaccard it states,
        at least 0.6 (its threshold)."""
        grams = {}
        for doc in (r["id_a"] for r in result[1]), (r["id_b"] for r in result[1]):
            for d in doc:
                w = self.texts[d].split(" ")
                grams[d] = {" ".join(w[k:k + 3]) for k in range(len(w) - 2)}
        bad = [r for r in result[1]
               if abs(len(grams[r["id_a"]] & grams[r["id_b"]]) / len(grams[r["id_a"]] | grams[r["id_b"]])
                      - r["jaccard"]) > 1e-9 or r["jaccard"] < 0.6]
        return [] if result[1] and not bad else [f"dedup_minhash_pairs: {len(bad)} of {len(result[1])} pairs wrong"]

    def round(self, i: int) -> list[Op]:
        # a fixed order: in a cold pass the first entries also pay the
        # engine's first-use costs, so a seed-permuted order moves the
        # median from run to run
        return [self._entry(name) for name in CATALOG_ENTRIES]

    def self_check(self) -> bool:
        """The catalog's tables and entry order do not depend on the seed."""
        return True

    def _entry(self, name: str) -> Op:
        fn = self.registry[name].fn

        def run():
            with self.tracer.span(f"plans.{name}", "plans"):
                df = fn(self.spark, self.tables)
                return df.columns, df.collect()

        def check(result):
            if name not in self.expected:
                return self._check_minhash(result)
            got = oracle.rows_hash(*result)
            return [] if got == self.expected[name] else [f"{name}: result hash differs from its oracle"]

        return Op(name, run, check)

    def describe(self) -> dict:
        return {"scale": CATALOG_SCALE, "entries": list(CATALOG_ENTRIES),
                "table_seed": gen.CATALOG_TABLE_SEED}


WORKLOADS = {w.name: w for w in (Ingest, GraphReads, CatalogMix)}
