"""GUN-path benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload graph_reads --seed 1 --seconds 10 --trace 0

Prints a report (every metric by name and unit, plus the run's cpus,
Spark version, seed and loadavg) and, as the last stdout line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
every measured op is traced and the metrics are the per-layer ones
plus the tracing overhead.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
DRIVER_MEM = "1g"


# ---------------------------------------------------------------------------
# launcher hygiene
# ---------------------------------------------------------------------------


def configure_env(work: str) -> int:
    """Pin Spark to this machine's cpus, make the package importable by
    executor Python workers, and keep every temp file inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(paths),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(work, 'warehouse'))}",
                "--driver-java-options",
                shlex.quote(f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"),
                "pyspark-shell",
            ]
        ),
    )
    sys.path[:0] = [ROOT, HERE]
    return cpus


# ---------------------------------------------------------------------------
# process tree: peak RSS and shutdown
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and its descendants (driver,
    JVM, Python workers), sampled every 0.2 s.  A descendant counts from
    its second sample on: a process the JVM forks for a moment shares
    the JVM's pages, and counting it would add the JVM twice."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak, self._halt = 0, threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._seen: set[int] = set()

    def sample(self) -> None:
        total = 0
        alive = set(descendants(os.getpid()))
        steady, self._seen = alive & self._seen, alive
        for pid in [os.getpid()] + sorted(steady):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, then wait for every descendant to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least 10 samples beyond it:
    (value, percentile, sample count), or None below 11 samples."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

END_TO_END = {
    "setup_s": "s",
    "op_ms": "ms",
    "peak_rss_mb": "MB",
}

CATALOG_PER_ENTRY = (("s", "s"), ("tasks", "count"), ("shuffle_bytes", "B"))


def per_layer_units() -> dict[str, str]:
    from workloads import CATALOG_ENTRIES

    units = {
        "session.get_spark_s": "s",
        "session.jobs_per_op": "count",
        "session.tasks_per_op": "count",
        "session.task_s_per_op": "s",
        "session.sched_wait_ms_per_op": "ms",
        "graph.fetch_one_s": "s",
        "graph.put_s": "s",
        "graph.lookups_per_fetch": "count",
        "graph.soul_cache_hit_ratio": "ratio",
        "graph.quads_plan_aggregates_first_op": "count",
        "graph.quads_plan_aggregates_last_op": "count",
        "graph.input_bytes_per_fetch": "B",
        "graph.traverse_s": "s",
        "graph.shuffle_bytes_per_traverse": "B",
        "ham.self_time_share": "ratio",
        "ham.candidates_per_batch": "count",
        "ham.winner_ratio": "ratio",
        "ham.deferred_rows": "count",
        "sources.io.write_quads_s": "s",
        "sources.io.read_quads_s": "s",
        "sources.io.bytes_written_per_update_byte": "ratio",
        "sources.io.buckets_touched_per_batch": "count",
        "sources.io.bytes_read_per_batch": "B",
        "sources.io.publish_s": "s",
        "sources.io.store_bytes_per_key": "B",
        "streaming.upsert.batch_s": "s",
        "streaming.upsert.jobs_per_batch": "count",
        "streaming.upsert.task_s_per_batch": "s",
        "operators.graph_analytics.pagerank_s": "s",
        "operators.graph_analytics.pagerank_jobs": "count",
        "operators.graph_analytics.pagerank_shuffle_bytes": "B",
    }
    for entry in CATALOG_ENTRIES:
        for suffix, unit in CATALOG_PER_ENTRY:
            units[f"plans.{entry}_{suffix}"] = unit
    units["trace.overhead_pct"] = "%"
    return units


def quiet_op_s(samples: list[dict]) -> float:
    """Geometric mean latency of the quieter half of each op position's
    samples: of the n ops a run made at one position of its round, the
    ceil(n/2) during which the machine lost the least time to steal
    (its vCPUs waiting for the host), the later op on a tie, as ops
    still speed up through a run.  On a shared host a stolen vCPU
    stalls a whole Spark stage, and steal comes in bursts of seconds."""
    by_slot: dict[int, list[dict]] = {}
    for s in samples:
        if s["dt"] is not None:
            by_slot.setdefault(s["slot"], []).append(s)
    kept = []
    for xs in by_slot.values():
        xs = sorted(reversed(xs), key=lambda s: s["steal"])
        kept += [s["dt"] for s in xs[: (len(xs) + 1) // 2]]
    return math.exp(mean(math.log(x) for x in kept))


def end_to_end(setup_s: float, samples: list[dict], peak_rss: int) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_ms": quiet_op_s(samples) * 1000.0,
        "peak_rss_mb": peak_rss / 2**20,
    }


def workload_view(w, samples: list[dict]) -> list[tuple[str, float | str, str]]:
    """The workload's own named metrics (ingest rows/s, fetch and put
    percentiles, traverse and pagerank times, catalog pass time)."""
    from workloads import CATALOG_ENTRIES

    out = []

    def lat(kind=None):
        return [s["dt"] for s in samples if kind in (None, s["kind"]) and s["dt"] is not None]

    def pct(name, xs, unit, scale):
        if xs:
            out.append((f"{name}_p50_{unit}", statistics.median(xs) * scale, unit))
            t = tail(xs)
            out.append((f"{name}_tail_{unit}", f"{t[0] * scale:.6g} (p{t[1]:.1f} of {t[2]})" if t
                        else f"n/a ({len(xs)} samples < 11)", unit))

    if w.name == "ingest":
        b = lat("batch")
        out.append(("ingest_rows_per_s", len(b) * w.spec.batch_rows / sum(b), "rows/s"))
        pct("ingest_batch", b, "s", 1.0)
        out.append(("store_bytes_per_key", w.store_bytes_per_key(), "B"))
    elif w.name == "graph_reads":
        pct("fetch", lat("fetch"), "ms", 1000.0)
        pct("put", lat("put"), "ms", 1000.0)
        pct("traverse", lat("traverse"), "s", 1.0)
        out.append(("pagerank_s", mean(lat("pagerank")), "s"))
    else:
        out.append(("catalog_mix_s", mean(lat()) * len(CATALOG_ENTRIES), "s"))
    done = lat()
    out.append(("ops_per_s", len(done) / sum(done), "1/s"))
    failed = sum(1 for s in samples if not s["ok"])
    out.append(("ops_failed_ratio", failed / max(len(samples), 1), "ratio"))
    return out


def per_layer(tracer, w, samples: list[dict], cpus: int, get_spark_s: float) -> dict[str, float]:
    from workloads import CATALOG_ENTRIES

    m = dict.fromkeys(per_layer_units(), 0.0)
    m["session.get_spark_s"] = get_spark_s
    traced = [s for s in samples if s["dt"] is not None]
    st = tracer.self_times()
    tops = {s["op"]: s for s in tracer.spans if s["parent"] is None and s["op"] is not None}

    def subtotal(span, key):
        return sum(x.get(key, 0) for x in tracer.subtree(span["id"]))

    def per(kind, fn):
        return mean(fn(tops[s["op"]], s) for s in traced if s["kind"] == kind and s["op"] in tops)

    op_spans = [tops[s["op"]] for s in traced if s["op"] in tops]
    if op_spans:
        m["session.jobs_per_op"] = mean(subtotal(sp, "jobs") for sp in op_spans)
        m["session.tasks_per_op"] = mean(subtotal(sp, "tasks") for sp in op_spans)
        m["session.task_s_per_op"] = mean(subtotal(sp, "task_s") for sp in op_spans)
        m["session.sched_wait_ms_per_op"] = 1000.0 * mean(
            (sp["end"] - sp["start"]) - subtotal(sp, "task_s") / cpus for sp in op_spans)
        total = sum(sp["end"] - sp["start"] for sp in op_spans)
        ham = sum(st[x["id"]] for sp in op_spans for x in tracer.subtree(sp["id"]) if x["layer"] == "ham")
        m["ham.self_time_share"] = ham / total

    # graph point ops
    m["graph.fetch_one_s"] = per("fetch", lambda sp, s: st[sp["id"]])
    m["graph.put_s"] = per("put", lambda sp, s: st[sp["id"]])
    m["graph.lookups_per_fetch"] = per("fetch", lambda sp, s: s["extras"].get("lookups", 0))
    m["graph.input_bytes_per_fetch"] = per("fetch", lambda sp, s: subtotal(sp, "input_bytes"))
    probes = tracer.counters["graph.soul_cache_probes"]
    m["graph.soul_cache_hit_ratio"] = tracer.counters["graph.soul_cache_hits"] / probes if probes else 0.0
    by_pos: dict[int, list[float]] = {}
    for s in traced:
        if "plan_aggregates" in s["extras"]:
            by_pos.setdefault(s["extras"]["position"], []).append(s["extras"]["plan_aggregates"])
    if by_pos:
        m["graph.quads_plan_aggregates_first_op"] = mean(by_pos[min(by_pos)])
        m["graph.quads_plan_aggregates_last_op"] = mean(by_pos[max(by_pos)])
    m["graph.traverse_s"] = per("traverse", lambda sp, s: st[sp["id"]])
    m["graph.shuffle_bytes_per_traverse"] = per("traverse", lambda sp, s: subtotal(sp, "shuffle_bytes"))

    # ingest: ham, sources.io and streaming.upsert per batch
    batches = [s for s in traced if s["kind"] == "batch"]
    for key, name in (("candidates", "ham.candidates_per_batch"), ("winner_ratio", "ham.winner_ratio"),
                      ("deferred_rows", "ham.deferred_rows"),
                      ("bytes_written_per_update_byte", "sources.io.bytes_written_per_update_byte"),
                      ("buckets_touched", "sources.io.buckets_touched_per_batch")):
        m[name] = mean(s["extras"][key] for s in batches if key in s["extras"])
    m["sources.io.bytes_read_per_batch"] = per("batch", lambda sp, s: subtotal(sp, "input_bytes"))
    m["sources.io.publish_s"] = per("batch", lambda sp, s: sum(
        x["end"] - x["start"] for x in tracer.subtree(sp["id"]) if x["name"] == "sources.io.publish"))
    m["streaming.upsert.batch_s"] = per("batch", lambda sp, s: st[sp["id"]])
    m["streaming.upsert.jobs_per_batch"] = per("batch", lambda sp, s: subtotal(sp, "jobs"))
    m["streaming.upsert.task_s_per_batch"] = per("batch", lambda sp, s: subtotal(sp, "task_s"))
    if w.name == "ingest":
        m["sources.io.store_bytes_per_key"] = w.store_bytes_per_key()

    # set-up writes and reads of the store
    m["sources.io.write_quads_s"] = mean(x["end"] - x["start"] for x in tracer.by_name("sources.io.write_quads"))
    m["sources.io.read_quads_s"] = mean(x["end"] - x["start"] for x in tracer.by_name("sources.io.read_quads"))

    m["operators.graph_analytics.pagerank_s"] = per("pagerank", lambda sp, s: st[sp["id"]])
    m["operators.graph_analytics.pagerank_jobs"] = per("pagerank", lambda sp, s: subtotal(sp, "jobs"))
    m["operators.graph_analytics.pagerank_shuffle_bytes"] = per(
        "pagerank", lambda sp, s: subtotal(sp, "shuffle_bytes"))

    for entry in CATALOG_ENTRIES:
        m[f"plans.{entry}_s"] = per(entry, lambda sp, s: sp["end"] - sp["start"])
        m[f"plans.{entry}_tasks"] = per(entry, lambda sp, s: subtotal(sp, "tasks"))
        m[f"plans.{entry}_shuffle_bytes"] = per(entry, lambda sp, s: subtotal(sp, "shuffle_bytes"))

    if traced:
        m["trace.overhead_pct"] = 100.0 * tracer.own_s / sum(s["dt"] for s in traced)
    return m


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "graph_reads", "catalog_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    cpus = configure_env(work)
    try:
        import esgopeta_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import gen
    from spans import Tracer, instrument_program
    from workloads import WORKLOADS

    load_start = os.getloadavg()
    rss = RssSampler()
    rss.start()
    tracer = Tracer(enabled=bool(args.trace))
    tracer.active = tracer.enabled
    spec = gen.GraphSpec()

    t0 = time.perf_counter()
    from esgopeta_spark.session import get_spark

    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tracer.bind(spark.sparkContext)
            instrument_program(tracer)
        w = WORKLOADS[args.workload](spark, args.seed, work, tracer, spec)
        self_check_ok = w.self_check()
        seed_times = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            w.seed_inputs(rep)
            seed_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.prepare()
        tracer.active = False
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        warm_errors = w.warm_up()
        warm_s = time.perf_counter() - t
        tracer.harvest()
        setup_s = get_spark_s + statistics.median(seed_times) + warm_s

        # closed loop over whole rounds: past the workload's minimum, another
        # round starts only while one more round of the last round's length
        # still fits in the window
        samples: list[dict] = []
        tracer.active, tracer.own_s = tracer.enabled, 0.0
        cpu_start, steal_start = tree_cpu_s(), host_steal()
        window_start = time.perf_counter()
        deadline = window_start + args.seconds
        i, round_s = 0, 0.0
        while i < w.min_rounds or time.perf_counter() + round_s <= deadline:
            round_start = time.perf_counter()
            for slot, op in enumerate(w.round(i)):
                tracer.op = len(samples)
                steal_0 = host_steal()
                t = time.perf_counter()
                try:
                    result = op.run()
                    dt = time.perf_counter() - t
                    steal_1 = host_steal()
                    errors = op.check(result)
                except Exception as e:  # a failed op counts as failed, the run goes on
                    dt, errors, steal_1 = None, [f"{type(e).__name__}: {e}"], host_steal()
                    traceback.print_exc(file=sys.stderr)
                for err in errors[:3]:
                    print(f"perfbench: {op.kind}: {err}", file=sys.stderr)
                samples.append({"op": tracer.op, "kind": op.kind, "slot": slot, "dt": dt, "ok": not errors,
                                "steal": (steal_1[0] - steal_0[0]) / max(steal_1[1] - steal_0[1], 1),
                                "extras": op.extras})
                tracer.harvest()
            i += 1
            round_s = time.perf_counter() - round_start
        window_s = time.perf_counter() - window_start
        window_cpu_s = tree_cpu_s() - cpu_start
        steal = [b - a for a, b in zip(steal_start, host_steal())]
        tracer.active = False
        view = workload_view(w, samples)
        metrics = per_layer(tracer, w, samples, cpus, get_spark_s) if args.trace else None
        describe = w.describe()
    finally:
        shutdown(spark)
    rss.stop()

    failed = sum(1 for s in samples if not s["ok"])
    if args.trace:
        units = per_layer_units()
        tracer.dump(os.path.join(ROOT, ".perfbench_work", f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics, units = end_to_end(setup_s, samples, rss.peak), END_TO_END

    print(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={cpus} spark={pyspark.__version__} "
          f"loadavg_start={load_start[0]:.2f} loadavg_end={os.getloadavg()[0]:.2f}")
    print(f"# op = {w.op_unit}; rounds={i} ops={len(samples)} failed={failed}; inputs {json.dumps(describe)}")
    print(f"# setup: get_spark {get_spark_s:.3f} s, seed inputs {[round(x, 3) for x in seed_times]} s "
          f"(median of {SETUP_REPS}), oracle prep {prepare_s:.3f} s, warm-up {warm_s:.3f} s; "
          f"generator self-check {'ok' if self_check_ok else 'FAILED'}; "
          f"warm-up mismatches {len(warm_errors)}")
    print(f"# measured window {window_s:.3f} s (ops, checks and tracing): process tree used "
          f"{window_cpu_s:.2f} cpu s ({window_cpu_s / window_s:.2f} cpus), machine steal "
          f"{100.0 * steal[0] / max(steal[1], 1):.1f} %")
    print("# op latencies ms / machine steal % during the op: "
          + " ".join(f"{s['kind']}={s['dt'] * 1000:.0f}/{100 * s['steal']:.0f}" for s in samples[:40]
                     if s["dt"] is not None))
    for name, value, unit in view:
        print(f"{name:<52} {value if isinstance(value, str) else f'{value:.6g}':>28} {unit}")
    if args.trace:
        print("# per-layer self time (traced rounds and set-up):")
        for layer, row in tracer.layer_table().items():
            print(f"#   {layer:<28} spans={int(row['spans']):<5} self_s={row['self_s']:.4f} "
                  f"jobs={int(row['jobs'])} tasks={int(row['tasks'])} task_s={row['task_s']:.3f}")
    for name, value in metrics.items():
        print(f"{name:<52} {value:>28.6g} {units[name]}")
    result = {
        "correct": failed == 0 and not warm_errors and self_check_ok,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
