"""Driver-gradable entries for the reference's core write/read semantics.

Groups A/B (scoped fetch/put) and F5 (streaming HAM core loop) were
pytest-only until round 3; these entries derive deterministic workloads
from the fixed-size TPC-H dimension tables so a DuckDB oracle can
re-create the exact same result:

- ``graph_put_replay``   — B1/B2/B3/A2: a scripted put sequence with lazy
  parent creation (gun/scoped_put.go:50-145), overwrites (newer_update)
  and stale writes (older_historical, gun/state.go:60-79); emits the
  merged quad snapshot.
- ``graph_fetch_path``   — A1-A4/D1: bulk fetch-one over a 2-hop path
  (gun/scoped_fetch.go:43-74) with the null-vs-absent distinction
  (stored null => value_exists with NULL value; absent => no value).
- ``graph_ham_stream_replay`` — F5: the events update-log replayed
  through the *streaming* winner handler (gun/scoped_fetch.go:112-217)
  run in batch mode; final winner per key must equal the batch
  ``max_by`` semilattice merge, giving the signature streaming operator
  an oracle-checkable twin.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from esgopeta_spark.plans.catalog import T, register, _events_as_updates

# TPC-H fixed dimension content as literals (driver testdata naming:
# NATION_<k> with regionkey k % 5; region names are the five spec names).
_REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_NATION_REGION_SCRIPT = [
    {
        "n_nationkey": k,
        "n_name": f"NATION_{k}",
        "n_comment": f"nation:nation_{k}",
        "r_name": _REGION_NAMES[k % 5],
    }
    for k in range(25)
]


@register(
    "graph_put_replay",
    "B1,B2,B3,A2,A10",
    """
    WITH nn AS (
      SELECT n.n_nationkey AS k, n.n_name AS nname,
             'nation:' || lower(n.n_name) AS ncomment, r.r_name AS rname
      FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
    rs AS (
      SELECT rname,
             'rsoul' || CAST(ROW_NUMBER() OVER (ORDER BY MIN(k)) AS VARCHAR) AS rsoul,
             CAST(1000 + MIN(k) AS DOUBLE) AS rstate
      FROM nn GROUP BY rname),
    rel AS (
      SELECT 'regions' AS soul, rname AS field, 'relation' AS value_type,
             CAST(NULL AS VARCHAR) AS value_string, rsoul AS value_relation,
             rstate AS state
      FROM rs),
    val AS (
      SELECT rs.rsoul AS soul, nn.nname AS field, 'string' AS value_type,
             CASE WHEN nn.k < 5 THEN upper(nn.ncomment) ELSE nn.ncomment END AS value_string,
             CAST(NULL AS VARCHAR) AS value_relation,
             CAST(CASE WHEN nn.k < 5 THEN 2000 + nn.k ELSE 1000 + nn.k END AS DOUBLE) AS state
      FROM nn JOIN rs ON nn.rname = rs.rname)
    SELECT * FROM rel UNION ALL SELECT * FROM val
    """,
    doc="scripted put replay: 25 puts under lazy parents (gun/scoped_put.go:93-127), "
    "5 overwrites (newer_update) and 5 stale writes (older_historical) that must "
    "lose; snapshot must equal the oracle's closed-form merge",
)
def graph_put_replay(spark, sf):
    from esgopeta_spark.graph import GunGraph

    # The put script is the fixed-size dimension content (nation=25,
    # region=5 at EVERY SF — dbgen never scales them), precomputed as
    # literals so the entry builds its plan execution-free: no driver
    # collect, and a graph with no base resolves lazy-parent lookups
    # from its driver-side put overlay (graph._lookup) without Spark
    # jobs.  The literals are
    # pinned against the live testdata tables by
    # tests/test_graph.py::test_put_replay_literals_match_testdata — if
    # the generator's naming ever drifts, that test fails loudly.
    rows = _NATION_REGION_SCRIPT

    seq = iter(range(1, 10**6))
    g = GunGraph(spark, soul_gen=lambda: f"rsoul{next(seq)}")
    for r in rows:  # pass 1: create, with lazy region parents
        g = g.put(
            ["regions", r["r_name"], r["n_name"]], r["n_comment"], state=1000.0 + r["n_nationkey"]
        ).graph
    for r in rows:
        if r["n_nationkey"] < 5:  # pass 2: overwrite (newer wins)
            g = g.put(
                ["regions", r["r_name"], r["n_name"]],
                r["n_comment"].upper(),
                state=2000.0 + r["n_nationkey"],
            ).graph
        elif r["n_nationkey"] < 10:  # pass 3: stale write (older loses)
            g = g.put(
                ["regions", r["r_name"], r["n_name"]], "stale", state=500.0 + r["n_nationkey"]
            ).graph
    return g.quads.select("soul", "field", "value_type", "value_string", "value_relation", "state")


@register(
    "graph_fetch_path",
    "A1,A3,A4,D1",
    """
    SELECT c.c_custkey,
           'region/' || CAST(n.n_regionkey AS VARCHAR) AS region_soul,
           CASE WHEN n.n_regionkey < 3 THEN r.r_name END AS region_name,
           n.n_regionkey <= 3 AS value_exists
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    doc="bulk fetch-one customer->nation->region->'name' (gun/scoped_fetch.go:43-74): "
    "regions 0-2 hold a string, region 3 a STORED NULL (value_exists, no value), "
    "region 4 is ABSENT (no quad) — the D1 null-vs-absent contract, distributed",
)
def graph_fetch_path(spark, sf):
    from esgopeta_spark.graph import GunGraph

    c, n, r = T(spark, sf, "customer"), T(spark, sf, "nation"), T(spark, sf, "region")

    def quad(soul, field, vtype, vstring, vrel, state=1.0):
        return [
            soul.alias("soul"),
            field.alias("field"),
            F.lit(vtype).alias("value_type"),
            F.lit(None).cast("string").alias("value_number_raw"),
            F.lit(None).cast("double").alias("value_number"),
            (vstring if vstring is not None else F.lit(None).cast("string")).alias("value_string"),
            F.lit(None).cast("boolean").alias("value_bool"),
            (vrel if vrel is not None else F.lit(None).cast("string")).alias("value_relation"),
            F.lit(state).alias("state"),
        ]

    soul = lambda prefix, col: F.concat(F.lit(prefix), F.col(col).cast("string"))  # noqa: E731
    quads = (
        c.select(*quad(soul("customer/", "c_custkey"), F.lit("nation"), "relation", None, soul("nation/", "c_nationkey")))
        .unionByName(
            n.select(*quad(soul("nation/", "n_nationkey"), F.lit("region"), "relation", None, soul("region/", "n_regionkey")))
        )
        .unionByName(
            r.filter(F.col("r_regionkey") < 3).select(
                *quad(soul("region/", "r_regionkey"), F.lit("name"), "string", F.col("r_name"), None)
            )
        )
        .unionByName(  # stored null: the key EXISTS, its value is null (D1)
            r.filter(F.col("r_regionkey") == 3).select(
                *quad(soul("region/", "r_regionkey"), F.lit("name"), "null", None, None)
            )
        )
        # region 4: no quad at all -> absent
    )
    g = GunGraph(spark, quads=quads)
    roots = c.select("c_custkey", soul("customer/", "c_custkey").alias("soul"))
    at_region = g.traverse(roots, "nation", "region").withColumnRenamed("soul", "region_soul")
    fetched = g.values_at(at_region.withColumnRenamed("region_soul", "soul"), "name")
    return fetched.select(
        "c_custkey",
        F.col("soul").alias("region_soul"),
        F.col("value_string").alias("region_name"),
        F.col("value_type").isNotNull().alias("value_exists"),
    )


@register(
    "graph_ham_stream_replay",
    "F5,A7,A10",
    """
    WITH upd AS (
      SELECT 'user/' || CAST(user_id AS VARCHAR) AS soul,
             event_type AS field,
             value AS value_number,
             CAST(value AS VARCHAR) AS value_json,
             CAST(epoch_ms(ts) AS DOUBLE) AS state
      FROM events),
    r AS (
      SELECT soul, field, value_number, state,
             ROW_NUMBER() OVER (PARTITION BY soul, field
                                ORDER BY state DESC, value_json DESC) AS rn
      FROM upd)
    SELECT soul, field, value_number, state FROM r WHERE rn = 1
    """,
    doc="F5 oracle twin: the events update-log replayed through the STREAMING "
    "winner handler (gun/scoped_fetch.go:112-217, ham_stream._make_handler) in "
    "batch; the final emitted winner per (soul,field) must equal the batch "
    "semilattice merge — pins batch≡stream equivalence under the driver gate.  "
    "Perf note: this deliberately pays the per-key Python handler cost for "
    "every key at once (~9k rows/s/core); it is a correctness artifact, not "
    "the batch-throughput path — that is ham_merge (graph_ham_merge_events), "
    "one codegen'd max_by aggregate, ~20x faster on the same input",
)
def graph_ham_stream_replay(spark, sf):
    from esgopeta_spark.streaming.ham_stream import OUTPUT_SCHEMA, _make_handler

    handler = _make_handler()

    class _BatchState:
        """GroupState shim: one cold-start micro-batch over the whole log."""

        exists = False
        get = None

        def update(self, st):
            pass

    out_cols = [f.name for f in OUTPUT_SCHEMA.fields]

    def replay(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        frames = list(handler(key, [pdf], _BatchState()))
        return frames[-1][out_cols] if frames else pd.DataFrame(columns=out_cols)

    upd = _events_as_updates(spark, sf)
    winners = upd.groupBy("soul", "field").applyInPandas(replay, OUTPUT_SCHEMA)
    return winners.select("soul", "field", "value_number", "state")


@register(
    "graph_ham_deferred_split",
    "D3,A10",
    """
    WITH upd AS (
      SELECT 'user/' || CAST(user_id AS VARCHAR) AS soul,
             event_type AS field,
             value AS value_number,
             CAST(value AS VARCHAR) AS value_json,
             CAST(epoch_ms(ts) AS DOUBLE) AS state
      FROM events),
    eligible AS (SELECT * FROM upd WHERE state <= 1715000000000.0),
    w AS (
      SELECT soul, field, value_number, state,
             ROW_NUMBER() OVER (PARTITION BY soul, field
                                ORDER BY state DESC, value_json DESC) AS rn
      FROM eligible),
    d AS (SELECT soul, field, COUNT(*) AS n_deferred
          FROM upd WHERE state > 1715000000000.0 GROUP BY soul, field)
    SELECT w.soul, w.field, w.value_number, w.state,
           COALESCE(d.n_deferred, 0) AS n_deferred
    FROM w LEFT JOIN d ON w.soul = d.soul AND w.field = d.field
    WHERE w.rn = 1
    """,
    doc="D3 future-state deferral (gun/storage.go:107-117) as a batch split: updates "
    "ahead of the as_of clock (fixed mid-range epoch for determinism) are withheld "
    "from the merge and carried — the entry emits the eligible winner per key plus "
    "the per-key deferred carry count, exercising ham_apply_updates end to end",
)
def graph_ham_deferred_split(spark, sf):
    from esgopeta_spark.ham import empty_quads, ham_apply_updates

    as_of_ms = 1715000000000.0  # ~2024-05-06; splits the 2024 event range
    upd = _events_as_updates(spark, sf)
    res = ham_apply_updates(empty_quads(spark), upd, as_of_ms=as_of_ms)
    deferred_counts = res.deferred.groupBy("soul", "field").agg(
        F.count("*").alias("n_deferred")
    )
    return (
        res.quads.join(deferred_counts, ["soul", "field"], "left")
        .select(
            "soul",
            "field",
            "value_number",
            "state",
            F.coalesce("n_deferred", F.lit(0)).cast("bigint").alias("n_deferred"),
        )
    )


@register(
    "graph_ttl_tracking",
    "B7,C9,A10",
    """
    WITH upd AS (
      SELECT 'user/' || CAST(user_id AS VARCHAR) AS soul,
             event_type AS field,
             value AS value_number,
             CAST(value AS VARCHAR) AS value_json,
             CAST(epoch_ms(ts) AS DOUBLE) AS state
      FROM events),
    w AS (
      SELECT soul, field, value_number, state,
             ROW_NUMBER() OVER (PARTITION BY soul, field
                                ORDER BY state DESC, value_json DESC) AS rn
      FROM upd),
    stored AS (  -- the store after merge + TTL purge at the corpus max clock
      SELECT soul, field, value_number, state FROM w
      WHERE rn = 1
        AND state >= (SELECT MAX(state) FROM upd) - 25200000.0),
    observed AS (  -- wire traffic: purchase updates only
      SELECT soul, field, state FROM upd WHERE field = 'purchase')
    SELECT o.soul, o.field, o.state
    FROM observed o
    WHERE EXISTS (SELECT 1 FROM stored s
                  WHERE s.soul = o.soul AND s.field = o.field)
    """,
    doc="B7 TTL retention + C9 tracking policy (gun/storage.go:50-77, "
    "gun/gun.go:59-78): merge the events update log, purge rows older than the "
    "7h TTL at the corpus max clock (partition-prunable predicate), then apply "
    "TrackingRequested to observed purchase traffic — a left-semi join against "
    "surviving store keys",
)
def graph_ttl_tracking(spark, sf):
    from esgopeta_spark.ham import ham_merge
    from esgopeta_spark.storage import DEFAULT_TTL_MS, Tracking, apply_tracking, purge_expired

    upd = _events_as_updates(spark, sf)
    # deterministic "now" = the corpus max state (no wall clock in queries);
    # a bounded 1-row aggregate collect, same as the reference's StateNow()
    now_ms = upd.agg(F.max("state")).collect()[0][0]
    stored = purge_expired(ham_merge(upd), now_ms, DEFAULT_TTL_MS)
    observed = upd.filter(F.col("field") == "purchase").select("soul", "field", "state")
    kept = apply_tracking(stored, observed, Tracking.REQUESTED)
    return kept.select("soul", "field", "state")


@register(
    "graph_field_history_intervals",
    "A10,D4,E5",
    """
    WITH upd AS (
      SELECT 'user/' || CAST(user_id AS VARCHAR) AS soul,
             event_type AS field,
             value AS value_number,
             CAST(value AS VARCHAR) AS value_json,
             CAST(epoch_ms(ts) AS DOUBLE) AS state
      FROM events)
    SELECT soul, field, value_number,
           ROW_NUMBER() OVER w AS version,
           CAST(state AS BIGINT) AS valid_from_ms,
           CAST(LEAD(CAST(state AS BIGINT)) OVER w AS BIGINT) AS valid_to_ms
    FROM upd
    WINDOW w AS (PARTITION BY soul, field ORDER BY state ASC, value_json ASC)
    """,
    doc="temporal-table (SCD2) view of the update log (ham.field_history): per "
    "(soul, field) every version in HAM order — (state, value_json) with the D4 "
    "lexical tiebreak, the SAME total order the merge uses — with validity "
    "intervals [valid_from_ms, valid_to_ms); NULL valid_to = current winner.  "
    "A fetch at any clock inside an interval returns that version's value, so "
    "the LWW graph log becomes a queryable history table.  One (soul, field) "
    "window shuffle, all columns codegen'd window functions",
)
def graph_field_history_intervals(spark, sf):
    from esgopeta_spark.ham import field_history

    # field_history carries the full VALUE_COLUMNS payload (r5); this
    # all-number log projects the numeric value to keep the oracle shape
    return field_history(_events_as_updates(spark, sf)).select(
        "soul", "field", "value_number", "version", "valid_from_ms", "valid_to_ms"
    )
