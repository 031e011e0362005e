"""Aggregation operators (SURVEY.md §2.4 A1-A11, §2.6 O1-O4, §2.7).

All grouped aggregations get map-side partial aggregation from Spark for
free (partial + final hash aggregate), so shuffle volume is one row per
(partition, group) — the property that makes these viable at 100 TB.
Sums use exact decimal accumulation (functions.dsum) so results are
order-independent under AQE re-partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.functions import dsum, guarded_div, safe_corr


def conditional_counts(
    df: DataFrame,
    keys: Sequence[str],
    conditions: dict[str, Column],
) -> DataFrame:
    """Pivot-style conditional counts: {out_col: boolean_condition}
    (reference A2: sum(when(label=='Bullish',1)) — dt:268-270)."""
    return df.groupBy(*keys).agg(
        *[
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(out)
            for out, cond in conditions.items()
        ]
    )


def weighted_mean(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    weight_col: Column,
    out: str = "weighted_avg",
) -> DataFrame:
    """sum(value*weight)/sum(weight) per group, zero-guarded
    (reference A3: dt:295-304)."""
    return df.groupBy(*keys).agg(
        guarded_div(dsum(F.col(value_col) * weight_col), dsum(weight_col)).alias(out)
    )


def collect_set_sorted(
    df: DataFrame, keys: Sequence[str], value_col: str, out: str = "values"
) -> DataFrame:
    """Sorted distinct-set per group. collect_set order is nondeterministic;
    array_sort pins it (reference A4: collect_set('form_type') dt:352-355,
    hazard noted in SURVEY.md §7.3)."""
    return df.groupBy(*keys).agg(F.array_sort(F.collect_set(value_col)).alias(out))


def grouped_corr(
    df: DataFrame,
    keys: Sequence[str],
    pairs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Pearson correlation per group for each (x, y) pair
    (reference A5: sa:73-81). NULL on zero variance (ANSI-safe)."""
    return df.groupBy(*keys).agg(
        *[safe_corr(F.col(x), F.col(y)).alias(out) for out, (x, y) in pairs.items()]
    )


def global_agg(df: DataFrame, aggs: dict[str, Column]) -> DataFrame:
    """Grand aggregate, no grouping (reference A6: sa:84-89)."""
    return df.agg(*[expr.alias(out) for out, expr in aggs.items()])


def calendar_rollup(
    df: DataFrame,
    ts_col: str,
    grain: Sequence[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Group by calendar parts of a timestamp (reference A8: sa:339-348).

    ``grain`` ⊆ {year, month, day, quarter}.
    """
    fns = {"year": F.year, "month": F.month, "day": F.dayofmonth, "quarter": F.quarter}
    parts = {g: fns[g](F.col(ts_col)) for g in grain}
    return (
        df.withColumns(parts)
        .groupBy(*grain)
        .agg(*[expr.alias(out) for out, expr in aggs.items()])
    )


def top_k(
    df: DataFrame, order_by: Sequence[Column], k: int
) -> DataFrame:
    """Global top-k — Spark plans sort+limit as TakeOrderedAndProject:
    each partition keeps k rows, driver merges (reference O4: hv:253-264).
    ``order_by`` must be a total order for a deterministic result."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k within each group via row_number (engine extension; the
    classic OLAP pattern the reference's LIMIT views approximate)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def distinct_count(
    df: DataFrame, keys: Sequence[str], value_col: str, out: str, approx: bool = False
) -> DataFrame:
    """Exact or HLL-approximate distinct count (reference A9: hv:285;
    approx is the 100 TB-scale variant — one pass, fixed memory)."""
    agg = (
        F.approx_count_distinct(value_col) if approx else F.countDistinct(value_col)
    ).alias(out)
    return df.groupBy(*keys).agg(agg)


def percentile_disc(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    qs: Sequence[float],
    out: str = "value",
) -> DataFrame:
    """Exact DISCRETE percentiles per group: for each q, the value at rank
    ceil(q*n) in ascending order — an actual data value, never an
    interpolation.

    Built on row_number + a per-row quantile match instead of
    ``percentile()``: interpolating percentile aggregates differ between
    engines in last-ulp float arithmetic, while this formulation is pure
    integer rank logic — bit-exact anywhere. Ties on the value don't
    matter: whatever permutation row_number picks among equal values, the
    row at a given rank holds the same value.

    One shuffle+sort on ``keys`` (the same cost as any grouped window);
    output is (keys..., q, value) long form.
    """
    from pyspark.sql import Window

    w_rank = Window.partitionBy(*keys).orderBy(F.col(value_col))
    w_all = Window.partitionBy(*keys)
    qs_arr = F.array(*[F.lit(float(q)) for q in qs])
    matched = F.filter(
        qs_arr, lambda q: F.ceil(q * F.col("__n")) == F.col("__rn")
    )
    return (
        df.withColumn("__rn", F.row_number().over(w_rank))
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
        .withColumn("q", F.explode(matched))
        .select(*keys, "q", F.col(value_col).alias(out))
    )


def rollup_agg(df: DataFrame, keys: Sequence[str], aggs: dict[str, Column]) -> DataFrame:
    """GROUP BY ROLLUP (engine extension — SURVEY.md §2.4 'not present')."""
    return df.rollup(*keys).agg(*[e.alias(o) for o, e in aggs.items()])


def cube_agg(df: DataFrame, keys: Sequence[str], aggs: dict[str, Column]) -> DataFrame:
    """GROUP BY CUBE (engine extension)."""
    return df.cube(*keys).agg(*[e.alias(o) for o, e in aggs.items()])


def grouped_percentiles_cont(
    df: DataFrame,
    group_by: Sequence[str],
    value: Column,
    percentiles: Sequence[float],
    prefix: str = "p",
) -> DataFrame:
    """Continuous (linear-interpolated) percentiles per group via the
    exact ``F.percentile`` aggregate — the PERCENTILE_CONT surface the
    approx-sketch path (A9) doesn't cover.

    Cross-engine exactness: pass an INTEGER-valued column (scaled cents).
    The interpolation ``lo*(1-f) + hi*f`` at quarter fractions is then an
    exact double expression, verified bit-identical against DuckDB
    quantile_cont. One shuffle; per-group sort is the aggregate's own
    internal work (exact percentiles require the values — at 100 TB use
    approx_percentile for sketchable accuracy instead).
    """
    aggs = [
        F.percentile(value, p).alias(f"{prefix}{int(round(p * 100)):02d}")
        for p in percentiles
    ]
    return df.groupBy(*group_by).agg(*aggs)


def share_of_total(
    df: DataFrame,
    group_by: Sequence[str],
    within: Sequence[str],
    value: Column,
    out: str = "share",
) -> DataFrame:
    """Contribution analysis: each group's share of its ``within``
    super-group total — one aggregation then a window sum over the tiny
    aggregated result (no second pass over the fact table).

    Pass an exact-integer ``value`` (scaled cents): both the group sums
    and the super-group total are then exact, and the share is a single
    double division — bit-identical cross-engine.
    """
    from pyspark.sql import Window

    g = df.groupBy(*group_by).agg(F.sum(value).alias("__val"))
    w = Window.partitionBy(*within)
    return g.select(
        *group_by,
        F.col("__val").alias("group_value"),
        (F.col("__val").cast("double") / F.sum("__val").over(w)).alias(out),
    )


def ohlc(
    df: DataFrame,
    keys: Sequence[str | Column],
    order_key: Column,
    value: Column,
    volume: Column | None = None,
    value_bits: int = 24,
) -> DataFrame:
    """Per-group OHLC bars: open/high/low/close of an integer ``value``
    series ordered by integer ``order_key`` — the candlestick rollup every
    price pipeline feeds its indicator stage (daily bars from ticks;
    reference ingests pre-built daily bars, data_transformation.py:61-75,
    this operator builds them).

    open/close use ONE aggregation trick portable to any engine:
    MIN/MAX over ``order_key·2^value_bits + value`` — the order key in the
    high bits picks the first/last row, the value rides in the low bits
    and is recovered with a modulo. Ties on ``order_key`` resolve to the
    smallest (open) / largest (close) value — deterministic, no
    first()/arg_min nondeterminism. Requires 0 ≤ value < 2^value_bits and
    order_key·2^value_bits < 2^63 (cents + row ids: fine to ~10^11 rows).

    One hash aggregation with map-side combine — shuffle rows = groups.
    """
    shift = F.lit(1 << value_bits).cast("bigint")
    enc = order_key.cast("bigint") * shift + value
    aggs = [
        (F.min(enc) % shift).alias("open"),
        F.max(value).alias("high"),
        F.min(value).alias("low"),
        (F.max(enc) % shift).alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_trades"),
    ]
    if volume is not None:
        aggs.append(F.sum(volume).alias("volume"))
    return df.groupBy(*keys).agg(*aggs)


def histogram(
    df: DataFrame,
    keys: Sequence[str],
    value: Column,
    width: int,
    value_out: str = "bucket_lo",
) -> DataFrame:
    """Fixed-width histogram per group over an integer ``value``:
    bucket_lo = floor(value/width)·width, with exact count and sum per
    bucket — the volume-profile / distribution-sketch primitive
    (generalizes the reference's hand-rolled value buckets,
    sentiment_analysis.py:153-160, from a fixed when-chain to arithmetic
    bucketing at any granularity).

    All-integer arithmetic (floor-div on BIGINT is exact and portable);
    one hash aggregation with map-side combine — shuffle rows = distinct
    (group, bucket) pairs, bounded by value-range/width regardless of
    fact volume.
    """
    b = F.floor(value / F.lit(width)) * width
    return df.groupBy(*keys, b.alias(value_out)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(value).alias("value_sum"),
    )


def ohlc_resample(
    bars: DataFrame,
    keys: Sequence[str | Column],
    order_key: Column,
    value_bits: int = 24,
) -> DataFrame:
    """Roll OHLC bars up to a coarser grain (daily → weekly/monthly):
    open = the open of the FIRST bar by ``order_key``, close = the close
    of the LAST, high/low/volume aggregate directly — the standard
    resample every charting/indicator stack needs above its base bars.

    Same order-encoded MIN/MAX trick as ``ohlc`` (order_key in the high
    bits, value in the low); ``order_key`` must be unique within the
    coarser group (the bar's own grain key — e.g. epoch day for daily
    bars), so no tie rules are even reachable. One hash aggregation
    with map-side combine; composes with itself (daily → weekly →
    monthly) without re-reading facts.
    """
    shift = F.lit(1 << value_bits).cast("bigint")
    enc_open = order_key.cast("bigint") * shift + F.col("open")
    enc_close = order_key.cast("bigint") * shift + F.col("close")
    aggs = [
        (F.min(enc_open) % shift).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        (F.max(enc_close) % shift).alias("close"),
        F.sum("n_trades").alias("n_trades"),
    ]
    if "volume" in bars.columns:
        aggs.append(F.sum("volume").alias("volume"))
    return bars.groupBy(*keys).agg(*aggs)


def merge_aggregates(
    base: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    add_cols: Sequence[str],
) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: merge a
    pre-aggregated base table with a same-shaped aggregate of a new
    batch — full-outer join on the group keys, each measure column added
    with missing sides as 0. For SUM/COUNT measures,
    ``merge_aggregates(agg(old), agg(delta)) == agg(old ∪ delta)``
    exactly (the corpus pins this equality against a full-recompute
    oracle).

    The 100 TB point: the daily refresh touches |delta groups| rows, not
    the whole history — one keyed join instead of a full re-scan.
    AVG/stddev ride along as (sum, count) pairs; non-distributive
    aggregates (exact distinct, medians) need their own merge structures
    (HLL sketches merge; exact ones don't).
    """
    b = base.alias("__b")
    d = delta.alias("__d")
    cond = [
        F.col(f"__b.{k}").eqNullSafe(F.col(f"__d.{k}")) for k in keys
    ]
    j = b.join(d, cond, "full_outer")
    out_keys = [
        F.coalesce(F.col(f"__b.{k}"), F.col(f"__d.{k}")).alias(k) for k in keys
    ]
    out_adds = [
        (
            F.coalesce(F.col(f"__b.{c}"), F.lit(0))
            + F.coalesce(F.col(f"__d.{c}"), F.lit(0))
        ).alias(c)
        for c in add_cols
    ]
    return j.select(*out_keys, *out_adds)


def winsorize(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
    out: str | None = None,
) -> DataFrame:
    """Winsorize a column per group: clamp values into the group's
    [lo_q, hi_q] DISCRETE percentile band — the standard outlier
    treatment before means/regressions on heavy-tailed financial data
    (trim keeps rows, winsorize keeps rows AND bounds leverage).

    Percentiles come from :func:`percentile_disc` (exact integer rank
    logic, bit-portable), so the clamp bounds are actual data values.
    Plan shape: one window sort for the percentiles, then the per-group
    bound table (2 rows per group) broadcasts back onto the rows — the
    clamp itself is a map-side projection.

    Output: input rows + ``out`` (default ``{value_col}_winsorized``).
    """
    out = out or f"{value_col}_winsorized"
    pcts = percentile_disc(df, keys, value_col, [lo_q, hi_q], out="__pv")
    lo = pcts.filter(F.col("q") == lo_q).select(
        *keys, F.col("__pv").alias("__lo")
    )
    hi = pcts.filter(F.col("q") == hi_q).select(
        *keys, F.col("__pv").alias("__hi")
    )
    joined = df.join(F.broadcast(lo), list(keys)).join(
        F.broadcast(hi), list(keys)
    )
    return joined.withColumn(
        out, F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi"))
    ).drop("__lo", "__hi")


def weighted_percentile_disc(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    weight_col: str,
    qs: Sequence[float],
    out: str = "value",
) -> DataFrame:
    """Exact WEIGHTED discrete percentiles per group: for each q, the
    smallest value whose running weight share reaches q — e.g. "the
    price below which 25% of traded VOLUME sits" (volume-weighted
    quartiles), the form exchanges and risk systems quote.

    Same bit-exact discipline as :func:`percentile_disc`: the cumulative
    weight is an exact DECIMAL running sum over the value-sorted group
    (ties broken by value then row identity — any permutation of equal
    values yields the same picked value), and the q match is an integer
    CROSS-MULTIPLICATION: cum_w·10^6 >= round(q·10^6)·total_w — exact
    decimal arithmetic end to end, no float accumulation or comparison
    anywhere, so any engine agrees bit-for-bit. (A naive
    ``cum >= CAST(q AS DECIMAL(10,6)) * total`` is NOT safe: Spark's
    decimal-product precision overflows at (10,6)x(38,0) and silently
    reduces scale, collapsing small thresholds — caught by the
    hypothesis property test.)

    Weights must be non-negative integers (counts, shares, scaled
    volumes — rescale upstream if fractional). One shuffle+sort on
    ``keys``; output (keys..., q, value) long form.
    """
    from pyspark.sql import Window

    w_rank = Window.partitionBy(*keys).orderBy(F.col(value_col)).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy(*keys)
    cum = F.sum(F.col(weight_col).cast("decimal(38,0)")).over(w_rank)
    tot = F.sum(F.col(weight_col).cast("decimal(38,0)")).over(w_all)
    prev = cum - F.col(weight_col).cast("decimal(38,0)")
    qs_arr = F.array(*[F.lit(float(q)) for q in qs])
    # value v is the q-percentile iff its cumulative weight reaches q*W
    # and the previous row's didn't: cum >= q*W > prev  (weight-0 rows
    # can never match since then cum == prev). Compared as the integer
    # cross-product cum*10^6 vs round(q*10^6)*W — exact at any scale.
    scale = F.lit(1_000_000).cast("decimal(38,0)")

    def _qnum(q):
        return F.round(q * F.lit(1e6)).cast("decimal(38,0)")

    matched = F.filter(
        qs_arr,
        lambda q: (F.col("__cw") * scale >= _qnum(q) * F.col("__tw"))
        & (F.col("__pw") * scale < _qnum(q) * F.col("__tw")),
    )
    return (
        df.withColumn("__cw", cum)
        .withColumn("__tw", tot)
        .withColumn("__pw", prev)
        .withColumn("q", F.explode(matched))
        .select(*keys, "q", F.col(value_col).alias(out))
    )


def exact_kth_element(
    df: DataFrame,
    value: Column,
    k,
    num_buckets: int = 1024,
    exact_cutoff: int = 100_000,
    with_stats: bool = False,
):
    """Exact k-th smallest (1-indexed) of an integer column WITHOUT a
    global sort: iterative histogram refinement — bucket the candidate
    range, count per bucket (one aggregation pass, ≤ num_buckets rows
    to the driver), descend into the bucket containing rank k, repeat.
    log_B(range) passes over a range-filtered scan (the filter is
    pushdown-friendly), O(B) driver bytes per round — at 100 TB this is
    the exact-median answer where a global sort is unrunnable and the
    KLL sketch (approx_percentile) only bounds the rank error. Once the
    candidate set fits ``exact_cutoff`` it finishes with one small
    sort. Returns the value as a Python int (the driver-side scalar the
    search maintains); callers wanting a DataFrame wrap it. ``k`` may be
    a callable n -> rank (e.g. the median ``lambda n: (n + 1) // 2``) so
    callers need no separate count() pass — n rides the operator's own
    min/max/count aggregation; ``with_stats=True`` returns (n, k, value).
    """
    vals = df.select(value.cast("bigint").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    row = vals.agg(
        F.min("__v").alias("lo"),
        F.max("__v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    lo, hi, n = row["lo"], row["hi"], row["n"]
    if callable(k):
        k = k(n) if n else 0
    if n == 0 or not (1 <= k <= n):
        raise ValueError(f"k={k} out of range for n={n}")
    # loud guard: (__v - lo) in the bucket expression is BIGINT Spark-side
    # and would wrap silently if the value range spanned >= 2^63 (Python
    # arithmetic here is arbitrary-precision, so check explicitly)
    if hi - lo >= 2**62:
        raise ValueError(
            f"value range [{lo}, {hi}] too wide for BIGINT bucket arithmetic"
        )
    remaining_k = k
    cur = vals
    cur_count = n
    while hi > lo:
        if cur_count <= exact_cutoff:
            got = (
                cur.orderBy("__v")
                .limit(remaining_k)
                .agg(F.max("__v").alias("v"))
                .collect()[0]["v"]
            )
            return (n, k, got) if with_stats else got
        width = (hi - lo + num_buckets) // num_buckets
        hist = (
            # integer DIV, not float division: exact at any magnitude
            # (a double quotient degrades past 2^53)
            cur.groupBy(F.expr(f"(__v - {lo}) DIV {width}").alias("__b"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .collect()
        )
        counts = {r["__b"]: r["__c"] for r in hist}
        cum = 0
        for b in sorted(counts):
            if cum + counts[b] >= remaining_k:
                remaining_k -= cum
                lo_new = lo + b * width
                hi = min(hi, lo_new + width - 1)
                lo = lo_new
                break
            cum += counts[b]
        cur = cur.filter((F.col("__v") >= lo) & (F.col("__v") <= hi))
        cur_count = counts[b]
    return (n, k, lo) if with_stats else lo
