"""Span recorder for the traced run.

A span covers one call from the benchmark into a layer of the program:
name, layer, start, end, parent span and op id.  Spans stay in memory
and are written out when the run ends.  Each span runs its Spark work
under its own job group, so after the op the span's jobs, tasks, task
run time and input/shuffle/output bytes are read back from Spark's
status tracker and status store (outside the timed region).

Self time of a span is its duration minus the durations of its direct
children; a layer's self time is the sum over its spans.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "tasks", "task_s", "input_bytes", "shuffle_bytes", "output_bytes")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled  # set for the whole traced run
        self.active = False  # off during the warm-up
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping inside spans
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op: int | None = None
        self._stack: list[int] = []
        self._harvested = 0
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            self.counters[name] += n

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "layer": layer, "parent": parent,
               "op": self.op, "start": t0, "end": None, "group": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._sc is not None:
            rec["group"] = f"perfbench-{rec['id']}"
            self._sc.setJobGroup(rec["group"], name)
        self.own_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(self.spans[parent]["group"], self.spans[parent]["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.own_s += time.perf_counter() - t1

    def harvest(self) -> None:
        """Attach Spark counters to every closed span not yet harvested.
        Call between ops (outside the timed region)."""
        if not self.enabled or self._sc is None or self._harvested == len(self.spans):
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self._sc.statusTracker(), jsc.statusStore()
        for rec in self.spans[self._harvested:]:
            c = dict.fromkeys(COUNTERS, 0)
            stages = set()
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(jid)
                c["jobs"] += 1
                if info is not None:
                    stages.update(int(s) for s in info.stageIds)
            for sid in stages:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store: counted as no work
                    continue
                c["tasks"] += sd.numCompleteTasks()
                c["task_s"] += sd.executorRunTime() / 1000.0
                c["input_bytes"] += sd.inputBytes()
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["output_bytes"] += sd.outputBytes()
            rec.update(c)
        self._harvested = len(self.spans)

    # ------------------------------------------------------------------
    # derived views
    # ------------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def subtree(self, sid: int) -> list[dict]:
        """The span and all its descendants (spans are recorded in start order)."""
        ids, out = {sid}, []
        for s in self.spans[sid:]:
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def layer_table(self) -> dict[str, dict[str, float]]:
        """Per layer: span count, self time and the Spark counters of its spans."""
        st = self.self_times()
        table: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            row = table[s["layer"]]
            row["spans"] += 1
            row["self_s"] += st[s["id"]]
            for k in COUNTERS:
                row[k] += s.get(k, 0)
        return {k: dict(v) for k, v in sorted(table.items())}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "layers": self.layer_table()}, f)


def wrap_everywhere(tracer: Tracer, orig, name: str, layer: str):
    """Replace every reference to ``orig`` held by a loaded module of the
    program with a wrapper that records a span around the call."""

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with tracer.span(name, layer):
            return orig(*args, **kwargs)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("esgopeta_spark"):
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, traced)
    return traced


def instrument_program(tracer: Tracer) -> None:
    """Spans around the inner layer calls the benchmark cannot reach
    directly (HAM merges, manifest publish and commit GC), plus counters
    for graph point lookups and soul-cache probes."""
    import esgopeta_spark.graph as graph
    import esgopeta_spark.ham as ham
    import esgopeta_spark.sources.io as sio
    import esgopeta_spark.streaming.upsert  # noqa: F401  (binds the names patched below)

    wrap_everywhere(tracer, ham.ham_merge, "ham.ham_merge", "ham")
    wrap_everywhere(tracer, sio.publish_manifest, "sources.io.publish", "sources.io")
    wrap_everywhere(tracer, sio.gc_unreferenced_commits, "sources.io.publish", "sources.io")

    lookup, soul_of = graph.GunGraph._lookup, graph.GunGraph.soul_of

    def counted_lookup(self, soul, field):
        tracer.count("graph.lookups")
        return lookup(self, soul, field)

    def counted_soul_of(self, *path):
        tracer.count("graph.soul_cache_probes")
        if tuple(path) in self._soul_cache:
            tracer.count("graph.soul_cache_hits")
        return soul_of(self, *path)

    graph.GunGraph._lookup = counted_lookup
    graph.GunGraph.soul_of = counted_soul_of


def plan_aggregates(df) -> int:
    """Aggregate nodes in a DataFrame's logical plan."""
    plan = df._jdf.queryExecution().logical().toString()
    return sum(1 for line in plan.splitlines() if line.lstrip(" :+-|").startswith("Aggregate"))
