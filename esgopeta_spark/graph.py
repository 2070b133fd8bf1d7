"""GunGraph — the reference's user-facing surface on Spark.

Reference entry points (gun/doc.go:5-7): ``Scoped(...).FetchOne`` (point
read), ``Scoped(...).Fetch`` (live subscription — see
esgopeta_spark.streaming), ``Scoped(...).Put`` (write with lazy parent
creation).  A path ``root -> f1 -> f2`` is a lazy chain of segments
(gun/scoped.go:26-34); top-level fields are their own souls
(gun/scoped_fetch.go:58-62).

Design split: one overlay over one base.

- ``_base`` is the snapshot DataFrame (one row per key), or None for an
  empty graph.  ``_pending`` is the overlay: the driver-side list of put
  rows not in ``_base``.  HAM merge is a semilattice join (ham.py), so
  folding the overlay over the base at read time is exact.
- **point ops** (``fetch_one``, ``soul_of``, ``put``, ``node``):
  genuinely single-key operations.  A lookup is the HAM max of the
  overlay's rows for the key and ONE probe of ``_base`` — the
  reference's one map probe per hop (gun/storage.go).  A base read by
  ``sources.read_quads(spark, path)`` carries its ``StoreSnapshot``, and
  the probe binary-searches the key's one bucket on the driver: no Spark
  job.  The snapshot decodes each bucket once, from its one file written
  in soul order, into Python lists, so only its first probe of a bucket
  reads a file and every later one is a ``bisect`` of the bucket's
  souls.  Any other base (a derived or in-memory frame) is probed
  with a Spark ``filter(...).limit(1)``.  Path prefixes resolve through
  the memoized soul cache (gun/scoped.go:44-81).  A graph built only
  from puts has no base, so its point ops run no Spark job.
- **bulk ops** (``traverse``, ``values_at``, ``edges``): fully
  distributed, expressed as iterated equi-joins on ``quads`` — ``_base``
  itself, or ONE ``ham_merge`` of ``_base`` and the overlay.  The
  relation slice is one edge view per graph (``edges``), materialized
  by the first job that reads it: every later traverse hop and
  ``pagerank(g.edges())`` reuse its blocks instead of scanning and
  decoding the store again.  The GraphX-style analytics subset; no
  collect anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esgopeta_spark.ham import empty_quads, ham_merge, quads_frame
from esgopeta_spark.soul import SoulGen
from esgopeta_spark.types import (
    VALUE_COLUMNS,
    VALUE_RELATION,
    decode_value,
    encode_value,
    value_json_py,
)


class ErrNotObject(Exception):
    """A path segment holds a non-relation value (gun/scoped.go:36-38)."""


class ErrLookupOnTopLevel(Exception):
    """Point lookup on a bare top-level field (gun/scoped_fetch.go:76-79)."""


@dataclass
class FetchResult:
    """Mirrors gun/scoped_fetch.go:9-41: ``value_exists`` distinguishes a
    stored null from an absent key (D1 null-vs-absent)."""

    value: Any = None
    value_exists: bool = False
    field: str = ""
    state: float | None = None


@dataclass
class PutResult:
    graph: "GunGraph"
    updates: list[dict] = dc_field(default_factory=list)  # the would-be wire message rows


def _ham_max(rows):
    """HAM winner of quad rows: the max by ``(state, value_json)``, the
    total order ``ham_merge`` uses (ham.py docstring).  ``value_json_py``
    ≡ ``value_json_col`` is pinned by tests."""
    return max(rows, key=lambda r: (r["state"], value_json_py(r)), default=None)


def _ham_fold(rows) -> dict[tuple[str, str], Any]:
    """HAM winner per ``(soul, field)`` of driver-side quad rows."""
    by_key: dict[tuple[str, str], list] = {}
    for r in rows:
        by_key.setdefault((r["soul"], r["field"]), []).append(r)
    return {k: _ham_max(rs) for k, rs in by_key.items()}


class GunGraph:
    def __init__(self, spark: SparkSession, quads: DataFrame | None = None, soul_gen: SoulGen | None = None):
        self.spark = spark
        self._base = quads  # snapshot, one row per key; None = empty graph
        # the store snapshot read_quads resolved for exactly this frame
        self._snapshot = getattr(quads, "_store_snapshot", None)
        self._pending: list[dict] = []  # the overlay: put rows not in _base
        self._merged: DataFrame | None = None  # cached quads of a non-empty overlay
        self._edges: DataFrame | None = None  # cached edges(), built on first use
        self.soul_gen = soul_gen or SoulGen()
        self._soul_cache: dict[tuple[str, ...], str] = {}

    @property
    def quads(self) -> DataFrame:
        """Merged snapshot (winner per key): ``_base`` itself, or ONE
        ``ham_merge`` of ``_base`` and the overlay, cached per (immutable)
        graph — however long the put chain, the plan never nests."""
        if not self._pending:
            return self._base if self._base is not None else empty_quads(self.spark)
        if self._merged is None:
            overlay = quads_frame(self.spark, self._pending)
            self._merged = ham_merge(overlay if self._base is None else self._base.unionByName(overlay))
        return self._merged

    # ------------------------------------------------------------------
    # construction
    # ------------------------------------------------------------------

    @classmethod
    def from_rows(cls, spark: SparkSession, rows: Iterable[dict], **kw) -> "GunGraph":
        """Snapshot graph of driver-side quad rows, HAM-folded on the driver."""
        return cls(spark, quads_frame(spark, _ham_fold(rows).values()), **kw)

    # ------------------------------------------------------------------
    # point reads (reference A1-A5)
    # ------------------------------------------------------------------

    def _probe(self, soul: str, field: str | None = None) -> list:
        """``_base``'s rows of ``soul`` (and ``field``): a one-bucket
        pyarrow read of a store snapshot, else a Spark filter."""
        if self._base is None:
            return []
        if self._snapshot is not None:
            return self._snapshot.rows(soul, field)
        if field is None:
            return self._base.filter(F.col("soul") == soul).collect()
        return self._base.filter((F.col("soul") == soul) & (F.col("field") == field)).limit(1).collect()

    def _lookup(self, soul: str, field: str):
        """HAM max of the overlay's rows for the key and one probe of
        ``_base``; no Spark job unless the base is a derived frame."""
        rows = [r for r in self._pending if r["soul"] == soul and r["field"] == field]
        return _ham_max(rows + self._probe(soul, field))

    def soul_of(self, *path: str) -> str | None:
        """Resolve a path prefix to a node soul, memoized (gun/scoped.go:44-81).

        Top-level roots are their own souls (gun/scoped_fetch.go:58-62).
        Raises ErrNotObject if an intermediate value is not a relation.
        Returns None if an intermediate key is absent.
        """
        if not path:
            raise ValueError("empty path")
        key = tuple(path)
        if key in self._soul_cache:
            return self._soul_cache[key]
        if len(path) == 1:
            self._soul_cache[key] = path[0]
            return path[0]
        parent = self.soul_of(*path[:-1])
        if parent is None:
            return None
        row = self._lookup(parent, path[-1])
        if row is None:
            return None
        if row["value_type"] != VALUE_RELATION:
            raise ErrNotObject(f"path {'/'.join(path)} hits non-relation value")
        soul = row["value_relation"]
        self._soul_cache[key] = soul
        return soul

    def fetch_one(self, *path: str) -> FetchResult:
        """Point read (gun/scoped_fetch.go:43-74).

        A bare top-level fetch returns a self-relation without any lookup,
        exactly like the reference.
        """
        if not path:
            raise ValueError("empty path")
        field = path[-1]
        if len(path) == 1:
            return FetchResult(value={"#": field}, value_exists=True, field=field)
        parent = self.soul_of(*path[:-1])
        if parent is None:
            return FetchResult(field=field)
        row = self._lookup(parent, field)
        if row is None:
            return FetchResult(field=field)
        return FetchResult(
            value=decode_value(row), value_exists=True, field=field, state=row["state"]
        )

    # ------------------------------------------------------------------
    # writes (reference B1-B5)
    # ------------------------------------------------------------------

    def put(
        self,
        path: Sequence[str],
        value: Any,
        state: float | None = None,
        fail_without_parent: bool = False,
        msg_id: str | None = None,
    ) -> PutResult:
        """Write with lazy parent creation (gun/scoped_put.go:50-145).

        - a top-level put is an error (gun/scoped_put.go:79-82)
        - every missing path prefix gets a fresh soul and a relation quad;
          all quads of one put share ONE state (gun/scoped_put.go:102)
        - ``fail_without_parent`` mirrors PutOptionFailWithoutParent
        - returns the new (immutable) graph plus the update rows that
          would form the outgoing wire message
        """
        path = list(path)
        if len(path) < 2:
            raise ValueError("cannot put on top level (gun/scoped_put.go:79-82)")
        if state is None:
            import time as _t

            state = float(int(_t.time() * 1000))
        # the path resolves in the new graph's copy of the soul cache, so
        # the souls this put creates never enter this graph's cache
        g = GunGraph(self.spark, self._base, soul_gen=self.soul_gen)
        g._soul_cache = dict(self._soul_cache)
        g._pending = self._pending
        new_quads: list[dict] = []
        parent = path[0]  # top-level root: soul == field name
        for i in range(1, len(path) - 1):
            prefix = tuple(path[: i + 1])
            soul = g.soul_of(*prefix)
            if soul is None:
                if fail_without_parent:
                    raise ErrNotObject(f"parent {'/'.join(prefix)} missing")
                soul = self.soul_gen()
                new_quads.append(
                    {"soul": parent, "field": path[i], **encode_value({"#": soul}), "state": state}
                )
                g._soul_cache[prefix] = soul
            parent = soul
        new_quads.append({"soul": parent, "field": path[-1], **encode_value(value), "state": state})
        g._pending = self._pending + new_quads
        return PutResult(graph=g, updates=new_quads)

    # ------------------------------------------------------------------
    # bulk / analytics (distributed; the GraphX-style subset)
    # ------------------------------------------------------------------

    def edges(self) -> DataFrame:
        """GraphX-style edge list: (src, attr, dst) = relation quads.

        One view per graph, like GraphX's edge partitions: a lazy
        ``localCheckpoint``, so the first job that reads it keeps its
        blocks and every later traverse hop or pagerank reads them, not
        the store.  Over a scan (a store snapshot) building the view
        runs no job, so a graph used once runs no extra one; over a put
        overlay, building it runs the overlay's HAM merge once (AQE
        materializes shuffle stages when the checkpoint is set up).
        The graph is immutable (``put`` returns a new one), so the view
        never goes stale; its blocks are freed with it, where
        ``persist()`` would pin them for the session."""
        if self._edges is None:
            self._edges = (
                self.quads.filter(F.col("value_type") == VALUE_RELATION)
                .select(
                    F.col("soul").alias("src"),
                    F.col("field").alias("attr"),
                    F.col("value_relation").alias("dst"),
                )
                .localCheckpoint(eager=False)
            )
        return self._edges

    def traverse(self, roots: DataFrame, *fields: str) -> DataFrame:
        """Bulk multi-hop traversal: for every row in ``roots`` (column
        ``soul``), follow ``fields`` hop by hop via equi-joins on the edge
        slice.  Returns roots' columns plus ``soul`` rebound to the target.

        Each hop is one equi-join on the relation slice; Catalyst picks
        broadcast when the edge slice is small, sort-merge otherwise; the
        store's soul buckets do not co-locate them, so sort-merge shuffles.
        """
        cur = roots
        edges = self.edges()
        for f_name in fields:
            hop = edges.filter(F.col("attr") == f_name).select(
                F.col("src"), F.col("dst").alias("_next")
            )
            cur = (
                cur.join(hop, cur["soul"] == hop["src"], "inner")
                .drop("soul", "src")
                .withColumnRenamed("_next", "soul")
            )
        return cur

    def values_at(self, roots: DataFrame, field_name: str) -> DataFrame:
        """Terminal hop: read the (scalar) value of ``field_name`` for every
        root soul.  Returns roots' columns + the tagged value columns."""
        vals = self.quads.filter(F.col("field") == field_name).select(
            F.col("soul").alias("_vsoul"), *VALUE_COLUMNS, F.col("state")
        )
        return roots.join(vals, roots["soul"] == vals["_vsoul"], "left").drop("_vsoul")

    def node(self, soul: str) -> dict[str, Any]:
        """Record view of one node: the HAM max per field of the overlay's
        rows and one probe of ``_base`` (a point read, like ``_lookup``)."""
        rows = [r for r in self._pending if r["soul"] == soul] + self._probe(soul)
        return {f: decode_value(r) for (_, f), r in _ham_fold(rows).items()}

    # ------------------------------------------------------------------
    # scoped chain API (reference A1: gun/scoped.go) + live subscribe (A6)
    # ------------------------------------------------------------------

    def scoped(self, *path: str) -> "Scoped":
        """Lazy path chain, no I/O at build time — `g.scoped("a","b","c")`
        mirrors `gun.Scoped(ctx, "a", "b", "c")` (gun/gun.go:147-156)."""
        return Scoped(self, list(path))

    def subscribe(self, updates_stream: DataFrame, *path: str) -> DataFrame:
        """Live Fetch (gun/scoped_fetch.go:89-110): a streaming DataFrame of
        winning updates for one (soul, field), driven by the update stream.

        Resolves the path prefix against the current snapshot (the
        reference resolves souls before subscribing too), then filters the
        stream to the key and applies the stateful HAM merge so only
        IsImmediateUpdate transitions are emitted.  The caller owns the
        writeStream (sink, trigger, lifecycle) — stopping the query is
        FetchDone (A9).
        """
        from esgopeta_spark.streaming.ham_stream import streaming_ham_merge

        if len(path) < 2:
            raise ErrLookupOnTopLevel("subscribe needs a parent path + field")
        parent = self.soul_of(*path[:-1])
        if parent is None:
            raise ErrNotObject(f"cannot resolve parent of {'/'.join(path)}")
        key_filtered = updates_stream.filter(
            (F.col("soul") == parent) & (F.col("field") == path[-1])
        )
        return streaming_ham_merge(key_filtered)


class Scoped:
    """Parent-linked lazy path expression (gun/scoped.go:26-42).

    Pure convenience over GunGraph's path methods, giving the reference's
    fluent surface: ``g.scoped("room").scoped("msg").fetch_one()``.
    ``put`` returns the updated Scoped (bound to the new graph) — access
    ``.graph`` for the underlying GunGraph and ``.last_put`` for the
    would-be wire message rows.
    """

    def __init__(self, graph: GunGraph, path: list[str]):
        if not path:
            raise ValueError("scoped path must be non-empty")
        self.graph = graph
        self.path = path
        self.last_put: list[dict] = []

    def scoped(self, *children: str) -> "Scoped":
        return Scoped(self.graph, self.path + list(children))

    def soul(self) -> str | None:
        return self.graph.soul_of(*self.path)

    def fetch_one(self) -> FetchResult:
        return self.graph.fetch_one(*self.path)

    def put(self, value: Any, **kw) -> "Scoped":
        res = self.graph.put(self.path, value, **kw)
        out = Scoped(res.graph, self.path)
        out.last_put = res.updates
        return out

    def subscribe(self, updates_stream: DataFrame) -> DataFrame:
        return self.graph.subscribe(updates_stream, *self.path)
