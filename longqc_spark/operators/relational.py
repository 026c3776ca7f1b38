"""Relational operator library — SURVEY.md §2 operators re-expressed as
composable DataFrame transforms. Each has a DuckDB-oracle twin in
``__spark_entry__.py``.

Scale notes (100 TB):
* aggregations here are all partial-agg friendly (sum/count/min/max/percentile
  → Spark plans map-side combine automatically);
* the N50 window needs a global ordering — exact mode is for small tables;
  callers at 10^12 rows use the two-pass quantile variant (``n50_approx``).
  The summary report (``report.summarize``) uses neither: it walks the
  exact (length → count) rows its one grouped aggregation already collects;
* joins against small dimension/control tables broadcast explicitly
  (reference analog: control-read anti-join ``lq_coverage.py:104-107``).
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import DataFrame, Window, functions as F


def length_stats(df: DataFrame, length_col: str, group_col: str) -> DataFrame:
    """A1 throughput/longest/mean/count (reference ``longQC.py:468-470``)."""
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(length_col).alias("total_len"),
            F.max(length_col).alias("max_len"),
            # round(…, 6) on BOTH engines: keeps the driver's value-hash stable
            # against representation drift (oracle twin rounds identically)
            F.round(F.avg(length_col), 6).alias("avg_len"),
        )
        .orderBy(group_col)
    )


def nxx(df: DataFrame, length_col: str, fracs: list[float] | None = None) -> DataFrame:
    """A2/W1 — N50-style weighted quantiles (reference ``lq_utils.py:33-53``).

    Exact: desc-sort window cumsum, then the smallest length whose running
    cumulative sum reaches frac·total. The single-direction window is the
    documented scale limitation (SURVEY.md §7.5.4): fine for ≤10^8 rows /
    report tables; use ``percentile_approx`` on weighted samples beyond.
    """
    fracs = fracs or [0.5, 0.9]
    total = df.agg(F.sum(length_col)).collect()[0][0]
    w = Window.orderBy(F.desc("len")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = df.select(F.col(length_col).alias("len")).withColumn("cum", F.sum("len").over(w))
    rows = [
        cum.filter(F.col("cum") >= float(total) * f)
        .agg(F.max("len").alias("nxx"))
        .select(F.lit(int(f * 100)).alias("pct"), "nxx")
        for f in fracs
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("pct")


def n50_approx(
    df: DataFrame,
    length_col: str,
    fracs: list[float] | None = None,
    bucket_width: int = 64,
) -> DataFrame:
    """A2 at 10^12 rows: two-pass bucketed NXX (reference ``lq_utils.py:33-53``
    semantics) with NO global sort/window.

    Pass 1 aggregates (sum, count) per fixed-width length bucket — a plain
    partial-agg groupBy whose result is tiny (≤ max_len/bucket_width rows,
    collected to the driver). Walking the bucket table from the top locates
    the bucket containing each frac·total crossing. Pass 2 re-scans ONLY the
    crossing buckets behind a pushed-down range predicate (parquet min/max
    stats prune everything else) and resolves the exact crossing length from
    the ≤ ``bucket_width`` distinct lengths inside.

    Despite the name (kept for the A2 API), integer lengths make the result
    EXACT — identical to ``nxx()`` — the "approx" is that the second pass
    touches one bucket per frac instead of globally sorting 10^12 rows.
    → (pct int, nxx long), same shape/values as ``nxx``.
    """
    fracs = fracs or [0.5, 0.9]
    spark = df.sparkSession
    # NULL lengths contribute nothing to a weighted quantile (nxx's window
    # sum skips them); dropping them here keeps exact parity and protects
    # the driver-side walk from None buckets
    df = df.filter(F.col(length_col).isNotNull())
    buckets = sorted(
        df.groupBy(
            F.floor(F.col(length_col) / F.lit(bucket_width)).cast("long").alias("b")
        )
        .agg(F.sum(length_col).alias("s"))
        .collect(),
        key=lambda r: -r["b"],
    )
    if not buckets:
        return spark.createDataFrame([], "pct int, nxx long")
    total = sum(r["s"] for r in buckets)
    # locate each frac's crossing bucket in one desc walk
    crossings: dict[float, tuple[int, float]] = {}
    cum = 0
    targets = sorted(fracs)  # walk top-down, smallest frac crosses first
    ti = 0
    for r in buckets:
        cum += r["s"]
        while ti < len(targets) and cum >= total * targets[ti]:
            crossings[targets[ti]] = (r["b"], cum - r["s"])  # cum BEFORE bucket
            ti += 1
        if ti == len(targets):
            break
    # pass 2: exact resolution inside each crossing bucket (cached per bucket)
    inbucket: dict[int, list] = {}
    rows = []
    for f in fracs:
        b, cum_before = crossings[f]
        if b not in inbucket:
            inbucket[b] = sorted(
                df.filter(
                    (F.col(length_col) >= b * bucket_width)
                    & (F.col(length_col) < (b + 1) * bucket_width)
                )
                .groupBy(F.col(length_col).alias("len"))
                .agg(F.sum(length_col).alias("s"))
                .collect(),
                key=lambda r: -r["len"],
            )
        run = cum_before
        nxx_val = inbucket[b][-1]["len"]
        for r in inbucket[b]:
            run += r["s"]
            if run >= total * f:
                nxx_val = r["len"]
                break
        rows.append((int(f * 100), int(nxx_val)))
    return spark.createDataFrame(rows, "pct int, nxx long").orderBy("pct")


def _rank_select_quantiles(base: DataFrame, bins: int = 256) -> DataFrame:
    """Exact per-bucket rank selection for :func:`binned_median` without a
    per-bucket sort (optimization guide §2.5: a window PARTITIONed by a
    handful of buckets is a skew trap — at 6M lineitem rows over ~7
    quantity buckets the old row_number window ran ~7 single-task 1M-row
    sorts while 25 cores idled).

    Three bounded passes, no global or per-bucket sort:

    1. per-bucket ``(n_all, n_nonnull, min, max)`` — collected; the result
       is output-sized (one row per bucket, same scale as the operator's
       own result).
    2. per-``(bucket, coarse bin)`` counts over ``bins`` equi-width bins of
       the [min, max] span — collected (≤ buckets × bins rows); the driver
       prefix-sums each bucket's bins and locates, for each needed global
       rank (lo/hi of p ∈ {.25, .5, .75} under ascending NULLS FIRST
       order), the bin that contains it and the rank within that bin.
    3. only rows of the ≤ 6-per-bucket candidate bins are ranked — tiny
       window partitions (~n/bins rows each), fully parallel — and joined
       to the driver-built target table to pull the exact values.

    Bit-equal to the old full-sort selection: the bin expression is
    monotone in ``v`` (ties share a bin), NULLs are counted separately and
    never fetched (a target rank that falls among them stays NULL, as the
    old ``max(when(r = lo, v))`` did), ±Inf pin to the edge bins, NaN
    (which sorts last) pins to the top bin, and a rank past the bucket's
    row count simply produces no target row (the caller's
    ``coalesce(_hi, _lo)`` covers it). → one row per bucket:
    ``(bucket, n, _med_lo, _med_hi, _q1_lo, _q1_hi, _q3_lo, _q3_hi)``."""
    spark = base.sparkSession
    stats = (
        base.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.count("v").alias("n_val"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    )
    dims = spark.createDataFrame(
        [
            (r["bucket"], float(r["mn"]), float(r["mx"]) - float(r["mn"]))
            for r in stats
            if r["n_val"] > 0
        ]
        or [(0, 0.0, 0.0)],
        "bucket long, _mn double, _span double",
    )
    vd = F.col("v").cast("double")
    neg_inf, pos_inf = float("-inf"), float("inf")
    raw_bin = F.floor((vd - F.col("_mn")) / F.col("_span") * F.lit(bins)).cast("long")
    bin_expr = (
        F.when(vd == F.lit(neg_inf), F.lit(0))
        .when(vd == F.lit(pos_inf), F.lit(bins - 1))
        .when(
            F.col("_span") > 0,
            # NaN arithmetic yields a NULL floor — coalesce pins it (and any
            # degenerate span fallout) to the top bin, where NaN sorts last
            F.coalesce(
                F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw_bin)),
                F.lit(bins - 1),
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("_bin")
    )
    binned = (
        base.filter(F.col("v").isNotNull())
        .join(F.broadcast(dims), "bucket")
        .select("bucket", "v", bin_expr)
    )
    bin_counts: dict[tuple[int, int], int] = {
        (r["bucket"], r["_bin"]): r["c"]
        for r in binned.groupBy("bucket", "_bin").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    # driver-side rank→(bin, rank_in_bin) resolution per target quantile
    targets: list[tuple[int, int, int, str]] = []  # (bucket, bin, rank_in_bin, tag)
    for r in stats:
        b, n_all, n_null = r["bucket"], r["n_all"], r["n_all"] - r["n_val"]
        cum: list[tuple[int, int]] = []  # (bin, cumulative count before bin)
        acc = 0
        for j in range(bins):
            c = bin_counts.get((b, j), 0)
            if c:
                cum.append((j, acc))
                acc += c
        for p, name in ((0.5, "med"), (0.25, "q1"), (0.75, "q3")):
            lo = math.floor((n_all - 1) * p) + 1
            for rank, tag in ((lo, f"_{name}_lo"), (lo + 1, f"_{name}_hi")):
                if rank > n_all or rank <= n_null:
                    continue  # past the bucket, or a NULL value: no fetch
                rv = rank - n_null
                for j, before in reversed(cum):
                    if rv > before:
                        targets.append((b, j, rv - before, tag))
                        break
    tags = ["_med_lo", "_med_hi", "_q1_lo", "_q1_hi", "_q3_lo", "_q3_hi"]
    nrows = spark.createDataFrame(
        [(r["bucket"], r["n_all"]) for r in stats], "bucket long, n long"
    )
    if not targets:
        vals = None
    else:
        tdf = spark.createDataFrame(
            targets, "bucket long, _bin long, _r int, _tag string"
        )
        w = Window.partitionBy("bucket", "_bin").orderBy("v")
        need_bins = {(b, j) for b, j, _, _ in targets}
        cand = binned.join(
            F.broadcast(
                spark.createDataFrame(sorted(need_bins), "bucket long, _bin long")
            ),
            ["bucket", "_bin"],
        )
        vals = (
            cand.withColumn("_r", F.row_number().over(w))
            .join(F.broadcast(tdf), ["bucket", "_bin", "_r"])
            .groupBy("bucket")
            .agg(
                *[
                    F.max(F.when(F.col("_tag") == t, F.col("v"))).alias(t)
                    for t in tags
                ]
            )
        )
    if vals is None:
        out = nrows
        for t in tags:
            out = out.withColumn(t, F.lit(None).cast("double"))
        return out
    return nrows.join(vals, "bucket", "left")


def binned_median(
    df: DataFrame, value_col: str, bucket_col: str, bucket_width: float
) -> DataFrame:
    """A9 — per-length-bucket boxplot stats (reference ``lq_mask.py:43-66``,
    ``lq_coverage.py:506-515``).

    Exact quantiles via bounded-pass rank selection
    (:func:`_rank_select_quantiles`) — no per-bucket sort, no per-group
    value buffer (Spark's builtin exact ``percentile`` is an
    ObjectHashAggregate that ships every value through the shuffle).
    Interpolation matches SQL ``quantile_cont``: h = (n−1)p over the 0-based
    sorted sequence.
    """
    bucket = F.floor(F.col(bucket_col) / F.lit(bucket_width)).cast("long").alias("bucket")
    base = df.select(bucket, F.col(value_col).alias("v"))
    # Size-adaptive path choice from the optimizer's own (column-pruned)
    # estimate — no extra job. Small inputs keep the one-shuffle window
    # sort (its 3-pass rival pays two driver round-trips of fixed
    # latency); past ~2M rows the window's per-bucket single-task sorts
    # dominate (guide §2.5 skew: ~7 quantity buckets → ~7 tasks no matter
    # the core count; measured 8.7 s → 3.4 s at 6M rows) and the bounded
    # rank-selection wins — and keeps winning at any scale, since its
    # passes are all partial-agg or tiny-window shaped.
    est_bytes = int(base._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if est_bytes >= (8 << 20):
        out = _rank_select_quantiles(base)
    else:
        w = Window.partitionBy("bucket").orderBy("v")
        ranked = base.withColumn("r", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
        )
        aggs = [F.max("n").alias("n")]
        for p, name in ((0.5, "med"), (0.25, "q1"), (0.75, "q3")):
            h = (F.col("n") - 1) * F.lit(p)
            lo = F.floor(h) + 1  # 1-based rank of the lower neighbor
            aggs += [
                F.max(F.when(F.col("r") == lo, F.col("v"))).alias(f"_{name}_lo"),
                F.max(F.when(F.col("r") == lo + 1, F.col("v"))).alias(f"_{name}_hi"),
            ]
        out = ranked.groupBy("bucket").agg(*aggs)
    for p, name in ((0.5, "med"), (0.25, "q1"), (0.75, "q3")):
        h = (F.col("n") - 1) * F.lit(p)
        frac = h - F.floor(h)
        v_lo, v_hi = F.col(f"_{name}_lo"), F.coalesce(F.col(f"_{name}_hi"), F.col(f"_{name}_lo"))
        out = out.withColumn(name, v_lo + frac * (v_hi - v_lo)).drop(f"_{name}_lo", f"_{name}_hi")
    return out.select("bucket", "n", "med", "q1", "q3").orderBy("bucket")


def histogram(df: DataFrame, col: str, width: float) -> DataFrame:
    """A11 — fixed-width histogram (all reference ``plt.hist`` sites)."""
    return (
        df.groupBy(F.floor(F.col(col) / F.lit(width)).cast("long").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin")
    )


def count_if_fractions(df: DataFrame, group_col: str, preds: dict[str, F.Column]) -> DataFrame:
    """A4/A5 — compound count_if fractions (reference ``lq_coverage.py:212-224``)."""
    aggs = [F.count(F.lit(1)).alias("n")] + [
        (F.count_if(p) / F.count(F.lit(1))).alias(name) for name, p in preds.items()
    ]
    return df.groupBy(group_col).agg(*aggs).orderBy(group_col)


def control_anti_join(df: DataFrame, control: DataFrame, key: str) -> DataFrame:
    """F2/J1 — drop rows matching the (small, broadcast) control set
    (reference ``lq_coverage.py:104-107``)."""
    return df.join(F.broadcast(control.select(key).distinct()), on=key, how="left_anti")


def top_k(df: DataFrame, key_cols: list[str], k: int) -> DataFrame:
    """O5/A15 — group-count → deterministic top-k (count desc, key asc).

    At scale this is partial-agg + a k-row final sort (takeOrdered), not a
    full global sort.
    """
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), *key_cols)
        .limit(k)
    )


def salted_count(
    df: DataFrame, key_col: str, n_salts: int = 16, agg_col: str | None = None
) -> DataFrame:
    """Two-phase skew-proof aggregation (north_rule: salting for hot keys;
    reference analog: repetitive-minimizer suppression, ``lqmap.c:166-173``).

    Phase 1 groups by (key, random salt) — a hot key's rows spread over
    ``n_salts`` reducers; phase 2 merges the partials. Result is identical to
    a plain groupBy (count/sum are associative); only the shuffle layout
    changes. AQE's skew handling covers joins; this covers aggregations.
    """
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts)))
    partial_aggs = [F.count(F.lit(1)).alias("_pn")]
    final_aggs = [F.sum("_pn").alias("n")]
    if agg_col:
        partial_aggs.append(F.sum(agg_col).alias("_ps"))
        final_aggs.append(F.sum("_ps").alias(f"sum_{agg_col}"))
    return (
        salted.groupBy(key_col, "_salt")
        .agg(*partial_aggs)
        .groupBy(key_col)
        .agg(*final_aggs)
        .orderBy(key_col)
    )


def set_ops_summary(a: DataFrame, b: DataFrame) -> DataFrame:
    """SE2/SE4: |A∖B| (multiset except), |B∖A|, |A∩B| (distinct intersect) —
    as ONE lazy plan: per-side multiplicity groupBys, a full-outer join on
    the row key, then a single final aggregate. The naive
    exceptAll/intersect/count version runs THREE driver-blocking jobs and
    scans each input three times; this shape scans each once, and the result
    is a DataFrame (no driver collect), so it composes."""
    cols = a.columns
    ta = a.groupBy(*cols).agg(F.count(F.lit(1)).alias("na")).alias("ta")
    tb = b.groupBy(*cols).agg(F.count(F.lit(1)).alias("nb")).alias("tb")
    # null-SAFE equality on every key column: exceptAll/intersect treat NULL
    # keys as equal, and this rewrite must preserve those semantics
    cond = None
    for c in cols:
        eq = F.col(f"ta.{c}").eqNullSafe(F.col(f"tb.{c}"))
        cond = eq if cond is None else cond & eq
    j = ta.join(tb, cond, "full_outer").select(
        F.coalesce("na", F.lit(0)).alias("na"), F.coalesce("nb", F.lit(0)).alias("nb")
    )
    return j.agg(
        F.coalesce(F.sum(F.greatest(F.col("na") - F.col("nb"), F.lit(0))), F.lit(0))
        .cast("long")
        .alias("only_a"),
        F.coalesce(F.sum(F.greatest(F.col("nb") - F.col("na"), F.lit(0))), F.lit(0))
        .cast("long")
        .alias("only_b"),
        F.count_if((F.col("na") > 0) & (F.col("nb") > 0)).alias("in_both"),
    )


def lag_gaps(df: DataFrame, part_col: str, ts_col: str) -> DataFrame:
    """W3 — per-key gaps between consecutive timestamps (reference
    ``lq_coverage.py:643-644`` internal-gap analysis)."""
    w = Window.partitionBy(part_col).orderBy(ts_col)
    # TIMESTAMP_NTZ → TIMESTAMP → double (epoch seconds); session TZ is UTC so
    # the NTZ reinterpretation is the identity, matching DuckDB's epoch()
    sec = F.col(ts_col).cast("timestamp").cast("double")
    gap = sec - F.lag(sec).over(w)
    return (
        df.select(part_col, gap.alias("gap"))
        .filter(F.col("gap").isNotNull())
        .groupBy(part_col)
        .agg(F.count(F.lit(1)).alias("n_gaps"), F.avg("gap").alias("avg_gap"), F.max("gap").alias("max_gap"))
        .orderBy(part_col)
    )


def distinct_sketch_rollup(
    df: DataFrame, value_col: str, group_col: str
) -> tuple[DataFrame, DataFrame]:
    """Mergeable distinct-count sketches (Datasketches HLL): per-group
    sketches + their union — the rollup pattern for 10^12-row pipelines
    where exact count-distinct would shuffle every value. Partial sketches
    are tiny (~KB), additive across partitions/groups/days, and re-usable:
    a daily audit table stores the per-bucket sketch column and any coarser
    rollup is a union, never a rescan. (Saturating-counter analog:
    reference esterr.c:130,136 tolerates approximate counts the same way.)

    Returns (per_group, total): per_group = (group, n_distinct_est),
    total = 1-row union estimate over the SAME sketches.
    """
    sketches = df.groupBy(group_col).agg(
        F.hll_sketch_agg(value_col).alias("sketch")
    )
    per_group = sketches.select(
        group_col,
        F.hll_sketch_estimate("sketch").cast("long").alias("n_distinct_est"),
    ).orderBy(group_col)
    total = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).cast("long").alias("n_distinct_est")
    )
    return per_group, total


def assign_shards(
    df: DataFrame,
    shard_bytes: int,
    bytes_col: str = "n_chars",
    key_col: str = "doc_id",
    range_width: int | None = None,
    target_ranges: int = 1 << 16,
) -> DataFrame:
    """Byte-balanced output sharding: shard id = floor(global running bytes
    BEFORE this record / shard_bytes) in key order — the deterministic
    content-size packing a training-data writer needs (equal-byte shards
    regardless of per-doc size skew). The streaming-cut analog of the
    reference's size-targeted chunking (``longQC.py:298-359``).

    A naive global cumsum is a single-task unbounded window — the exact
    scale-killer ``n50_approx`` exists to avoid. Same cure here, two
    passes with NO global sort:

    1. partial-agg byte sums per key RANGE (``key div range_width`` — tiny
       result, collected; size ``range_width`` so the range table stays
       driver-friendly, e.g. ≤10^6 rows — at 10^12 keys that is
       range_width=10^6, still only ~10^6-row windows per task);
    2. driver prefix-sums the range table and the per-range offsets join
       back via a BROADCAST hash join on the range id (O(1) per row — a
       create_map literal here would put every offset into the plan and
       linear-scan it per row); the within-range cumsum is a window
       PARTITIONED by range — bounded work per task, shuffle keyed by
       range.

    The division is one IEEE double op (exact cross-engine); byte totals
    stay exact in BIGINT. ``key_col`` must be numeric (the range bucketing
    divides it) — checked up front so string keys fail with an actionable
    message instead of a deep ANSI cast error.

    ``range_width=None`` (the default) AUTO-SCALES from the observed key
    span: width = ceil(span / target_ranges), so the driver-collected range
    table is bounded at ~``target_ranges`` rows REGARDLESS of the key
    domain. This matters precisely for the xxhash64-derived keys the
    TypeError above recommends — they span the full int64 domain, where a
    fixed width of 1000 would make the range table ~one row per document
    (an unbounded driver collect). The shard assignment itself is
    range_width-INVARIANT: the prefix sums are exact for any partitioning
    of the key order, so auto-scaling never changes results (property
    pinned in tests). The min/max pre-pass is a column-pruned agg that
    parquet/Iceberg zone maps answer near-free.
    → original columns + ``shard long``."""
    from pyspark.sql import types as T

    if not isinstance(df.schema[key_col].dataType, T.NumericType):
        raise TypeError(
            f"assign_shards needs a NUMERIC key column for range bucketing; "
            f"{key_col!r} is {df.schema[key_col].dataType.simpleString()} — "
            "derive one first (e.g. xxhash64(url) or a monotonically "
            "increasing id) and shard on that"
        )
    cum_before, finish = _global_prefix_before(
        df, bytes_col, key_col, range_width, target_ranges, caller="assign_shards"
    )
    return finish(
        lambda d: d.withColumn(
            "shard",
            F.floor(cum_before.cast("double") / F.lit(float(shard_bytes))).cast("long"),
        )
    )


def _global_prefix_before(
    df: DataFrame,
    bytes_col: str,
    key_col: str,
    range_width: int | None,
    target_ranges: int,
    caller: str,
):
    """Shared two-pass global running-sum-BEFORE-this-row machinery (see
    ``assign_shards`` for the full scale rationale): per-range partial sums
    → bounded driver prefix → broadcast join + range-partitioned window.
    Returns ``(cum_before_column, finish)`` where ``finish(f)`` applies
    ``f`` to the offset-joined frame and drops the helper columns — the
    column is only valid inside ``finish``."""
    if range_width is None:
        lo, hi = df.agg(
            F.min(key_col).cast("double"), F.max(key_col).cast("double")
        ).first()
        span = 0.0 if lo is None else float(hi) - float(lo) + 1.0
        range_width = max(1, int(math.ceil(span / float(target_ranges))))
    rng = (F.col(key_col) / F.lit(range_width)).cast("long")
    totals = sorted(
        df.groupBy(rng.alias("r")).agg(F.sum(bytes_col).alias("s")).collect(),
        key=lambda row: row["r"],
    )
    if len(totals) > 4 * target_ranges:
        warnings.warn(
            f"{caller} collected {len(totals)} key ranges to the driver "
            f"(range_width={range_width}); pass range_width=None to "
            "auto-scale from the key span, or raise range_width",
            stacklevel=3,
        )
    rows, acc = [], 0
    for row in totals:
        rows.append((row["r"], acc))
        acc += row["s"] or 0  # all-NULL byte range sums to NULL
    spark = df.sparkSession
    offsets = spark.createDataFrame(rows or [(0, 0)], "_r long, _off long")
    # ROWS frame, not the default RANGE: under RANGE, rows TIED on key_col
    # are peers and every one gets the full peer-group sum — duplicate keys
    # (or an xxhash64 collision on a derived key) would produce OVERLAPPING
    # stream offsets, silently garbling packed sequences / shard byte totals.
    # With ROWS each tied row still gets a distinct, non-overlapping offset
    # (the layout stays valid); only the order WITHIN a tie is partition-
    # arbitrary, so callers wanting bit-stable output pass unique keys.
    w = (
        Window.partitionBy(rng)
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_within = F.sum(bytes_col).over(w) - F.col(bytes_col)
    cum_before = (F.col("_off") + cum_within).cast("long")

    def finish(apply):
        return apply(
            df.withColumn("_r", rng).join(F.broadcast(offsets), "_r")
        ).drop("_r", "_off")

    return cum_before, finish


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    tokens_col: str = "n_chars",
    key_col: str = "doc_id",
    range_width: int | None = None,
    target_ranges: int = 1 << 16,
) -> DataFrame:
    """GPT-style sequence packing layout: concatenate the corpus's token
    streams in ``key_col`` order and cut every ``seq_len`` tokens; each doc
    gets the (sequence id, offset within that sequence) where its FIRST
    token lands — ``seq_id = offset_before div seq_len``, ``seq_offset =
    offset_before % seq_len``. Docs may straddle cuts (standard packed
    pretraining: the stream is cut, not the documents); a writer groupBys
    ``seq_id`` to emit fixed-length training rows, and the layout is fully
    deterministic, so two runs (or a resume) pack identically.

    The reference's analog is the size-targeted chunk layout
    (``longQC.py:298-359``); vs ``assign_shards`` the only new math is the
    intra-shard remainder. Same two-pass global prefix sum, NO global sort
    or single-task window; both outputs are exact BIGINT ops (``div``/``%``,
    no double rounding) so they are stable at any corpus size.

    → original columns + ``seq_id long`` + ``seq_offset long``.
    """
    from pyspark.sql import types as T

    if not isinstance(df.schema[key_col].dataType, T.NumericType):
        raise TypeError(
            f"pack_sequences needs a NUMERIC key column for range bucketing; "
            f"{key_col!r} is {df.schema[key_col].dataType.simpleString()} — "
            "derive one first (e.g. xxhash64(url) or a monotonically "
            "increasing id) and pack on that"
        )
    cum_before, finish = _global_prefix_before(
        df, tokens_col, key_col, range_width, target_ranges, caller="pack_sequences"
    )
    return finish(
        lambda d: d.withColumn("_cum", cum_before)
        .withColumn(
            "seq_id", F.expr(f"_cum div {int(seq_len)}")
        )
        .withColumn("seq_offset", (F.col("_cum") % F.lit(int(seq_len))).cast("long"))
        .drop("_cum")
    )


def threshold_sweep(
    df: DataFrame,
    col: str,
    thresholds: list[float],
    direction: str = ">=",
) -> DataFrame:
    """Rule-calibration curve: for every candidate threshold, how many rows
    would a ``col direction threshold`` keep-rule admit, in ONE input pass.

    The reference tunes its cutoffs by inspecting stat histograms and
    re-running (``lq_gamma.py``'s fitted cutoff + the CLI threshold knobs);
    at 10^12 docs a re-run per candidate is off the table, so the sweep is
    folded into a single aggregation: one ``count_if`` per grid point —
    all partial (map-side) aggregates, one single-row exchange — then a
    ``stack`` unpivot of that row into (threshold, n_keep, keep_rate).
    The input is NOT multiplied by the grid size — the only Generate in the
    plan is the stack over the one-row agg output — unlike the naive
    ``CROSS JOIN grid`` formulation (the DuckDB oracle) which scans
    grid× rows.

    ``direction`` is ``">="`` (keep at-or-above, e.g. min-length rules) or
    ``"<="`` (keep at-or-below, e.g. max-symbol-ratio rules).
    """
    if direction not in (">=", "<="):
        raise ValueError(f"direction must be '>=' or '<=', got {direction!r}")
    c = F.col(col)
    preds = [
        c >= F.lit(t) if direction == ">=" else c <= F.lit(t) for t in thresholds
    ]
    row = df.agg(
        F.count(c).alias("_n"),  # count of non-null: NULL passes no rule
        *[F.count_if(p).alias(f"_k{i}") for i, p in enumerate(preds)],
    )
    pairs = ", ".join(
        f"CAST({float(t)!r} AS DOUBLE), _k{i}" for i, t in enumerate(thresholds)
    )
    return (
        row.selectExpr(
            "_n", f"stack({len(thresholds)}, {pairs}) AS (threshold, n_keep)"
        )
        .select(
            "threshold",
            "n_keep",
            # guarded like classification_curve: an empty input / all-NULL
            # column yields keep_rate NULL, not an ANSI DIVIDE_BY_ZERO
            F.when(
                F.col("_n") > 0, F.col("n_keep") / F.col("_n")
            ).alias("keep_rate"),
        )
        .orderBy("threshold")
    )


def classification_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float],
) -> DataFrame:
    """Precision/recall/F1 of the keep-rule ``score >= threshold`` against a
    boolean reference label, for a whole threshold grid in ONE input pass —
    the north-rule grading metric (keep/drop F1 vs reference labels) as a
    first-class calibration operator.

    Same single-aggregation shape as ``threshold_sweep``: two ``count_if``
    per grid point (tp, fp — all partial map-side), one single-row
    exchange, then a ``stack`` unpivot; fn derives from the global positive
    count. Rows with NULL score predict negative at every threshold.
    Zero-denominator cells yield NULL (mirrored by the oracle's CASE), not
    an ANSI division error.

    Reference analog: the QC accuracy report the reference derives by
    re-running with tweaked cutoffs and diffing keep lists — here without
    re-scanning per candidate.
    """
    s, lab = F.col(score_col), F.col(label_col)
    aggs = [F.count_if(lab).alias("_pos")]
    for i, t in enumerate(thresholds):
        aggs.append(F.count_if((s >= F.lit(t)) & lab).alias(f"_tp{i}"))
        aggs.append(F.count_if((s >= F.lit(t)) & ~lab).alias(f"_fp{i}"))
    row = df.agg(*aggs)
    triples = ", ".join(
        f"CAST({float(t)!r} AS DOUBLE), _tp{i}, _fp{i}"
        for i, t in enumerate(thresholds)
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return (
        row.selectExpr(
            "_pos",
            f"stack({len(thresholds)}, {triples}) AS (threshold, tp, fp)",
        )
        .select(
            "threshold",
            "tp",
            "fp",
            (F.col("_pos") - F.col("tp")).alias("fn"),
        )
        .select(
            "*",
            F.when(tp + fp > 0, tp / (tp + fp)).alias("precision"),
            F.when(tp + fn > 0, tp / (tp + fn)).alias("recall"),
            F.when(
                2 * tp + fp + fn > 0, (2 * tp) / (2 * tp + fp + fn)
            ).alias("f1"),
        )
        .orderBy("threshold")
    )


def pack_sequence_rows(
    df: DataFrame,
    seq_len: int,
    text_col: str = "text",
    key_col: str = "doc_id",
    range_width: int | None = None,
    target_ranges: int = 1 << 16,
) -> DataFrame:
    """Materialize the packed training rows themselves: concatenate every
    doc's ``text_col`` in ``key_col`` order and emit one row per
    ``seq_len``-char cut — ``(seq_id, seq_text)`` where every sequence is
    EXACTLY ``seq_len`` chars except the last. The writer stage on top of
    ``pack_sequences``'s layout: docs straddling a cut contribute a slice to
    each spanned sequence (standard packed pretraining — the stream is cut,
    not the documents).

    Plan: the two-pass global prefix sum (no global window) gives each doc
    its stream offset; each doc EXPLODES into the ≤ ceil(len/seq_len)+1
    sequences it spans with a JVM ``substr`` slice; one groupBy(seq_id)
    reassembles slices in offset order. The reassembly shuffle moves each
    char exactly once, partitioned by sequence — at 10^12 docs the
    sequences are the natural write partition, and a sequence is ``seq_len``
    chars regardless of corpus size, so per-group state is constant.
    Empty/NULL texts contribute nothing (no zero-width slices).

    Determinism: offsets are exact BIGINTs, slice boundaries are integer
    arithmetic, and the per-sequence sort key is the slice's stream offset —
    byte-identical output at any parallelism.
    """
    # NULL text → length 0 (contributes nothing to the stream; a NULL would
    # void its whole key-range's partial sum)
    lens = df.withColumn(
        "_len", F.coalesce(F.length(F.col(text_col)), F.lit(0)).cast("long")
    )
    cum_before, finish = _global_prefix_before(
        lens, "_len", key_col, range_width, target_ranges, caller="pack_sequence_rows"
    )
    L = int(seq_len)

    def assemble(d: DataFrame) -> DataFrame:
        d = (
            d.withColumn("_off", cum_before)
            .filter(F.col("_len") > 0)
            .withColumn(
                "_s",
                F.explode(
                    F.sequence(
                        F.expr(f"_off div {L}"),
                        F.expr(f"(_off + _len - 1) div {L}"),
                    )
                ),
            )
        )
        start_in_doc = F.greatest(F.col("_s") * L - F.col("_off"), F.lit(0))
        end_in_doc = F.least((F.col("_s") + 1) * L - F.col("_off"), F.col("_len"))
        piece = F.col(text_col).substr(
            (start_in_doc + 1).cast("int"), (end_in_doc - start_in_doc).cast("int")
        )
        return (
            d.select(
                F.col("_s").alias("seq_id"),
                F.struct(F.col("_off"), piece.alias("piece")).alias("_sl"),
            )
            .groupBy("seq_id")
            .agg(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list("_sl")), lambda x: x["piece"]
                    ),
                ).alias("seq_text")
            )
            .orderBy("seq_id")
        )

    return finish(assemble)


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + ECE for a [0,1]-probability quality scorer
    against boolean reference labels — the CALIBRATION complement of
    ``classification_curve`` (which measures discrimination): a scorer
    whose 0.9-bin keeps only 60% true positives is lying about its
    confidence, and downstream threshold choices inherit the lie.

    Equal-width bins over [0,1] (out-of-range scores clamp into the edge
    bins, the same visibility rule as ``score_drift``); per bin:
    ``(bin, lo, hi, n, mean_score, frac_pos, gap, ece_term)`` with
    ``sum(ece_term)`` = Expected Calibration Error (Naeini et al. 2015).
    NULL scores carry no confidence statement and are filtered; NULL
    labels count as negative (the keep/drop contract's F10 rule). Floats
    rounded to 6 dp for cross-engine hash parity.

    Scale: ONE partial-agg shuffle of ≤ ``n_bins`` rows (the bin id is a
    scan-fused CASE), then a ≤ n_bins-row window for the global-count
    denominator — no second input pass. Reference analog: the per-batch
    QC accuracy summaries (``lq_nanopore.py:294-314``) graded against the
    labeler."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    s = F.col(score_col).cast("double")
    b = F.least(
        F.greatest(F.floor(s * n_bins).cast("int"), F.lit(0)),
        F.lit(n_bins - 1),
    )
    binned = (
        df.filter(s.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(s).alias("_ms"),
            F.avg(F.coalesce(F.col(label_col).cast("int"), F.lit(0))).alias("_fp"),
        )
    )
    w = Window.partitionBy()  # ≤ n_bins rows — bounded by construction
    gap = F.abs(F.col("_ms") - F.col("_fp"))
    return (
        binned.withColumn("_total", F.sum("n").over(w))
        .select(
            "bin",
            F.round(F.col("bin") / F.lit(float(n_bins)), 6).alias("lo"),
            F.round((F.col("bin") + 1) / F.lit(float(n_bins)), 6).alias("hi"),
            "n",
            F.round(F.col("_ms"), 6).alias("mean_score"),
            F.round(F.col("_fp"), 6).alias("frac_pos"),
            F.round(gap, 6).alias("gap"),
            F.round(gap * F.col("n") / F.col("_total"), 6).alias("ece_term"),
        )
        .orderBy("bin")
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Isotonic (PAV) calibration of a quality scorer over equal-width
    score bins — the FIX for what :func:`calibration_bins` diagnoses: the
    monotone-nondecreasing rate curve closest (L2) to the observed
    per-bin positive rates, the standard recalibration step before
    thresholding classifier scores (Zadrozny & Elkan 2002).

    Computed IN-PLAN via the minimax characterization of isotonic
    regression — ``iso(i) = max_{j≤i} min_{k≥i} mean(y over bins j..k)``
    — instead of the sequential pool-adjacent-violators sweep: after the
    ONE corpus shuffle into ≤ n_bins rows, the triple (i,j,k) expansion
    is at most n_bins³ rows of bin-table joins, so the whole fit stays a
    declarative plan (no driver loop, no UDF) and an SQL engine can
    replay it verbatim. Prefix sums make mean(j..k) a difference of two
    integer cumulatives divided in float64 — bit-identical across
    engines. Same bin/NULL conventions as ``calibration_bins``; empty
    bins simply have no row (the fit pools across the gap).

    → ``(bin, n, pos, raw_rate, iso_rate)`` with iso_rate monotone.
    ``n_bins`` is capped at 256: the expansion is cubic by design — bins
    are the bounded state, the corpus never enters the join."""
    if not 2 <= n_bins <= 256:
        raise ValueError(f"n_bins must be in [2, 256], got {n_bins}")
    s = F.col(score_col).cast("double")
    b = F.least(
        F.greatest(F.floor(s * n_bins).cast("int"), F.lit(0)),
        F.lit(n_bins - 1),
    )
    binned = (
        df.filter(s.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.coalesce(F.col(label_col).cast("int"), F.lit(0)))
            .cast("long")
            .alias("pos"),
        )
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = binned.select(
        "bin", "n", "pos",
        F.sum("n").over(w).alias("_cw"),
        F.sum("pos").over(w).alias("_cs"),
    )
    pj = pre.select(
        F.col("bin").alias("_j"),
        (F.col("_cw") - F.col("n")).alias("_cwj"),
        (F.col("_cs") - F.col("pos")).alias("_csj"),
    )
    pk = pre.select(
        F.col("bin").alias("_k"), F.col("_cw").alias("_cwk"), F.col("_cs").alias("_csk")
    )
    pairs = pj.join(pk, F.col("_j") <= F.col("_k")).select(
        "_j", "_k",
        (
            (F.col("_csk") - F.col("_csj")) / (F.col("_cwk") - F.col("_cwj"))
        ).alias("_mean"),
    )
    iso = (
        pre.select(F.col("bin").alias("_i"))
        .join(pairs, (F.col("_j") <= F.col("_i")) & (F.col("_k") >= F.col("_i")))
        .groupBy("_i", "_j")
        .agg(F.min("_mean").alias("_inner"))
        .groupBy("_i")
        .agg(F.max("_inner").alias("_iso"))
    )
    return (
        pre.join(iso, pre.bin == iso._i)
        .select(
            "bin", "n", "pos",
            F.round(F.col("pos") / F.col("n"), 6).alias("raw_rate"),
            F.round("_iso", 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


_PROFILE_ATOMIC = ("string", "boolean") + tuple(
    t + "int" for t in ("tiny", "small", "big", "")
) + ("int", "bigint", "float", "double", "date", "timestamp", "decimal")


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """One-pass ANALYZE-style column profiler — the first thing a data
    engineer runs on an unfamiliar 100 TB table: per column
    ``(column, dtype, n_rows, n_null, null_frac, n_distinct, min_repr,
    max_repr, avg_repr_len)``.

    ONE aggregation over ONE scan for every column (a single-row
    exchange), then a ``stack`` unpivot of that row — the
    ``threshold_sweep`` shape; the input is never multiplied by the
    column count. Distinct counts default to ``approx_count_distinct``
    (HLL partial aggregates, no plan blow-up); ``exact_distinct=True``
    switches to exact ``count(distinct)`` — correct for oracle
    verification but it puts an Expand of ×(n_cols+1) on the scan, the
    exact cost the crawler-trap counter avoids, so leave it off at scale.
    min/max/avg-length are computed on the string cast so every atomic
    type shares one output schema (repr of floats/timestamps is
    engine-specific — cross-engine parity is claimed for int/string
    columns only). Non-atomic columns (arrays, maps, structs, binary) are
    skipped when ``columns`` is not given.

    Reference analog: the per-batch summary table opening every QC report
    (``lq_nanopore.py:294-314``), generalized to arbitrary columns."""
    if columns is None:
        columns = [
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString().split("(")[0] in _PROFILE_ATOMIC
        ]
    if not columns:
        raise ValueError("no atomic columns to profile")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in columns:
        col, s = F.col(c), F.col(c).cast("string")
        nd = (
            F.count_distinct(col) if exact_distinct else F.approx_count_distinct(col)
        )
        aggs += [
            F.count(col).alias(f"_nn_{c}"),
            nd.alias(f"_nd_{c}"),
            F.min(s).alias(f"_min_{c}"),
            F.max(s).alias(f"_max_{c}"),
            F.avg(F.length(s)).alias(f"_al_{c}"),
        ]
    row = df.agg(*aggs)
    pairs = ", ".join(
        f"'{c}', _nn_{c}, _nd_{c}, _min_{c}, _max_{c}, _al_{c}" for c in columns
    )
    dtype_map = F.create_map(
        *[
            F.lit(v)
            for c in columns
            for v in (c, df.schema[c].dataType.simpleString())
        ]
    )
    stacked = row.selectExpr(
        "_n",
        f"stack({len(columns)}, {pairs}) AS "
        "(column, n_non_null, n_distinct, min_repr, max_repr, avg_repr_len)",
    )
    return stacked.select(
        "column",
        F.element_at(dtype_map, F.col("column")).alias("dtype"),
        F.col("_n").alias("n_rows"),
        (F.col("_n") - F.col("n_non_null")).alias("n_null"),
        # NULL on an empty table rather than an ANSI divide error
        F.round(
            F.try_divide(F.col("_n") - F.col("n_non_null"), F.col("_n")), 6
        ).alias("null_frac"),
        "n_distinct",
        "min_repr",
        "max_repr",
        F.round("avg_repr_len", 6).alias("avg_repr_len"),
    ).orderBy("column")
