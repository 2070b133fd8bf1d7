"""Streaming twin of ``web.conditional_fetch_merge`` (r12, verdict #6 —
the one r11 stateful web operator without a stream form): the receive
side of HTTP revalidation as a LIVE loop.  The fetch store is keyed
state per url (``applyInPandasWithState`` keyed by uri — the natural
key, the house discipline); ``304 Not Modified`` records resolve
against it; a 304 whose url the state has not (yet) seen emits the
VISIBLE 'miss' marker row, never a silent drop.

Convergence under ANY arrival order (the streaming_line_dedup
discipline): a store install arriving AFTER a 304 already emitted as
'miss' retro-corrects — the pending doc re-emits as 'cache' with a
higher ``upd_seq`` — and an install that CHANGES the stored md5 after
304s already resolved as 'cache' re-emits those verdicts against the
new stored copy (r13, r12 ADVICE: last-install-wins without
re-emission silently diverged from a batch run against the updated
store).  Install semantics: across micro-batches the last install
wins (chronology); duplicate installs WITHIN one micro-batch reduce
deterministically by max(md5) — row order inside a batch is not
deterministic, the same reason the incremental-dedup twin reduces
duplicate installs by min().  Update-mode semantics: the LAST
emission per (doc_id, uri) is the truth, and that final answer is
BIT-EQUAL to the batch ``conditional_fetch_merge`` against the
final store — pinned in tests/test_streaming.py with installs split
across micro-batches behind the 304s they resolve, including the
md5-changing re-install case.

The parse projection is SHARED with batch (``web.warc_fetch_records``,
a stateless Arrow kernel — share, don't mirror); only the url-equi
left join becomes the stateful handler.  State per url is O(1) + the
pending-miss doc list (bounded by the url's unresolved 304s; installs
flush it) + the cache-resolved doc list (bounded by the url's 304
docs — the retro-correction set a changed re-install must re-emit).

Scale shape: one shuffle keyed by uri (the state-store partitioning —
the same key the batch join shuffles on); emissions O(records +
retro-flips).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

CF_OUTPUT_SCHEMA = (
    "doc_id bigint, uri string, status int, fetch_source string, "
    "page_md5 string, upd_seq bigint"
)
CF_STATE_SCHEMA = StructType(
    [
        StructField("md5", StringType()),      # the store's entry ('' = none)
        StructField("pending", StringType()),  # json [doc_id, ...] missed 304s
        StructField("resolved", StringType()),  # json [doc_id, ...] cache-
        # resolved 304s — kept so a LATER install with a different md5
        # retro-corrects their verdicts too (r12 ADVICE: last-install-wins
        # without re-emission diverged from batch against the updated store)
        StructField("seq", LongType()),
    ]
)


def conditional_fetch_events(
    records: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    store_url_col: str = "url",
    store_md5_col: str = "page_md5",
) -> DataFrame:
    """Union the two batch-shaped inputs into the ONE event relation the
    stateful handler consumes: kind 0 = a fetch-store install (the
    url's stored md5), kind 1 = a parsed fetch record
    (``web.warc_fetch_records`` output).  Stateless — build it on a
    stream or a batch frame identically."""
    f = records.select(
        F.lit(1).alias("kind"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.col("uri"),
        F.col("status").cast("int").alias("status"),
        F.col("body_md5"),
    )
    s = store.select(
        F.lit(0).alias("kind"),
        F.lit(-1).cast("long").alias("doc_id"),
        F.col(store_url_col).alias("uri"),
        F.lit(0).cast("int").alias("status"),
        F.coalesce(F.col(store_md5_col), F.lit("")).alias("body_md5"),
    )
    return f.unionByName(s)


def _make_cf_handler():
    """Per-url handler (a closure, which cloudpickle ships by value)."""
    import json as _json

    def handler(key, pdfs, gstate):
        (uri,) = key
        installs: list[str] = []
        fetches: list[tuple[int, int, str]] = []
        for pdf in pdfs:
            for rec in pdf.to_dict("records"):
                if int(rec["kind"]) == 0:
                    installs.append(str(rec["body_md5"] or ""))
                else:
                    fetches.append(
                        (int(rec["doc_id"]), int(rec["status"]),
                         str(rec["body_md5"] or ""))
                    )
        if not installs and not fetches:
            return
        import pandas as _pd

        if gstate.exists:
            st = gstate.get
            md5 = st[0] or ""
            pending = _json.loads(st[1])
            resolved = _json.loads(st[2])
            seq = int(st[3])
        else:
            md5, pending, resolved, seq = "", [], [], 0
        seq += 1
        rows = []
        # installs first: within one micro-batch that mirrors the batch
        # semantics (the store is given upfront there).  Across batches
        # the LAST install wins; within one micro-batch row order is not
        # deterministic, so duplicate same-batch installs reduce by max()
        # (the incremental-dedup twin's min() discipline, same reason).
        if installs:
            new_md5 = max(installs)
            if new_md5 != md5:
                md5 = new_md5
                if md5 and resolved:
                    # retro-correction: 304s already resolved as 'cache'
                    # against the PREVIOUS install re-emit with the new
                    # stored copy (r12 ADVICE — batch runs against the
                    # updated store, so the stream must converge to it)
                    for d in resolved:
                        rows.append({
                            "doc_id": d, "uri": uri, "status": 304,
                            "fetch_source": "cache", "page_md5": md5,
                            "upd_seq": seq,
                        })
            if md5 and pending:
                # retro-correction: earlier 'miss' verdicts flip to 'cache'
                for d in pending:
                    rows.append({
                        "doc_id": d, "uri": uri, "status": 304,
                        "fetch_source": "cache", "page_md5": md5,
                        "upd_seq": seq,
                    })
                    if d not in resolved:
                        resolved.append(d)
                pending = []
        for d, status, bmd5 in sorted(fetches):
            if status == 200:
                src, pm = "network", bmd5
            elif status == 304 and md5:
                src, pm = "cache", md5
                # set semantics (r13 ADVICE): a repeated 304 for the same
                # doc must not grow state unboundedly or re-emit duplicate
                # retro-correction rows on a later md5-changing install
                if d not in resolved:
                    resolved.append(d)
            elif status == 304:
                src, pm = "miss", ""
                if d not in pending:
                    pending.append(d)
            else:
                src, pm = "error", ""
            rows.append({
                "doc_id": d, "uri": uri, "status": status,
                "fetch_source": src, "page_md5": pm, "upd_seq": seq,
            })
        gstate.update((md5, _json.dumps(sorted(pending)),
                       _json.dumps(sorted(resolved)), seq))
        if rows:
            yield _pd.DataFrame(rows)

    return handler


def streaming_conditional_fetch(events: DataFrame) -> DataFrame:
    """Event stream (``conditional_fetch_events`` shape) -> update-mode
    stream of per-record fetch verdicts.  Take the max-``upd_seq`` row
    per (doc_id, uri) downstream; that final answer equals the batch
    ``conditional_fetch_merge`` under any cross-batch arrival order."""
    return events.groupBy("uri").applyInPandasWithState(
        _make_cf_handler(),
        outputStructType=CF_OUTPUT_SCHEMA,
        stateStructType=CF_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
