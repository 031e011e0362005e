"""Window operators (SURVEY.md §2.5 W1-W6, plus ranking/cumsum/EMA extensions).

All reference windows partition by an entity key and order by event time
(ticker/date); these operators generalize the pattern. Execution: every
window spec sharing (partition, order) collapses into ONE shuffle + sort +
Window operator chain in the physical plan — compute all frames for a key
in a single pass (the reference relies on the same collapse,
data_transformation.py:162-228).

Determinism note: row-frame aggregates over a non-total order are
nondeterministic when ties exist. Callers must pass ``order_by`` columns
forming a total order within each partition (e.g. append a unique id).
"""

from __future__ import annotations

from collections.abc import Sequence

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.functions import guarded_div, pct_change


def _w(partition_by: Sequence[str], order_by: Sequence[Column | str]):
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def rolling_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    aggs: dict[str, tuple[Column, int]],
) -> DataFrame:
    """Row-frame rolling aggregates: {out_col: (agg_expr, n_rows)}.

    The frame is ``rowsBetween(-(n-1), 0)`` — the reference's SMA/stddev
    frames (data_transformation.py:162-187). Partial windows at the start
    of a series aggregate fewer rows (reference semantic, pinned in tests).
    """
    w = _w(partition_by, order_by)
    return df.withColumns(
        {
            out: expr.over(w.rowsBetween(-(n - 1), 0))
            for out, (expr, n) in aggs.items()
        }
    )


def rolling_median(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value: Column,
    n: int,
    out: str = "rolling_median",
) -> DataFrame:
    """Exact rolling median over the trailing ``n``-row frame — the
    robust-smoothing companion to rolling_agg's mean (outlier-immune;
    the standard despiking filter for sensor/price feeds). No native
    Spark windowed median exists: collect_list over the frame +
    array_sort + the interpolated middle ((lo+hi)/2 for even counts,
    DuckDB/Postgres median semantics). NULLs are skipped (collect_list
    drops them), partial frames at series start use available rows.

    Cost: O(n log n) per row on a frame of n values — fine for
    indicator-sized frames (n ≤ a few hundred); a 100 TB series still
    shuffles once on the entity key like every other window.

    Cross-engine exactness: pass SCALED-INTEGER values (e.g. cents) —
    integer midpoints make the even-count interpolation exact in double
    regardless of which algebraic form ((a+b)/2 vs a+(b-a)/2) the other
    engine uses; rescale after (the money_sum discipline applied to
    order statistics).
    """
    w = _w(partition_by, order_by).rowsBetween(-(n - 1), 0)
    arr = F.array_sort(F.collect_list(value.cast("double")).over(w))
    c = F.size(arr)
    lo = F.floor(c / 2).cast("int")
    # c == 0 (every value in the frame NULL) must yield NULL, not an
    # element_at error — hypothesis found the all-null-frame crash
    med = (
        F.when(c == 0, F.lit(None).cast("double"))
        .when(c % 2 == 1, F.element_at(arr, lo + 1))
        .otherwise(
            (F.element_at(arr, lo) + F.element_at(arr, lo + 1)) / F.lit(2.0)
        )
    )
    return df.withColumn(out, med)


def rolling_range_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_col: Column,
    aggs: dict[str, tuple[Column, int]],
) -> DataFrame:
    """Range-frame (calendar-correct) rolling aggregates.

    {out: (agg_expr, span)} where the frame is rangeBetween(-(span-1), 0)
    over ``order_col`` (e.g. a day number) — fixes the reference's silent
    assumption that row frames == calendar windows (SURVEY.md §2.5 note).
    """
    w = Window.partitionBy(*partition_by).orderBy(order_col)
    return df.withColumns(
        {out: expr.over(w.rangeBetween(-(n - 1), 0)) for out, (expr, n) in aggs.items()}
    )


def momentum(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value_col: str,
    horizons: Sequence[int],
    prefix: str = "momentum_",
) -> DataFrame:
    """Percent change vs n-rows-ago value, NULL-guarded
    (reference dt:194-217: momentum_{1,5,20}d)."""
    w = _w(partition_by, order_by)
    v = F.col(value_col)
    return df.withColumns(
        {f"{prefix}{n}": pct_change(v, F.lag(value_col, n).over(w)) for n in horizons}
    )


def forward_returns(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value_col: str,
    horizons: Sequence[int],
    prefix: str = "fwd_return_",
) -> DataFrame:
    """k-step forward percent return via lead (reference sa:138-150)."""
    w = _w(partition_by, order_by)
    v = F.col(value_col)
    return df.withColumns(
        {
            f"{prefix}{k}": pct_change(F.lead(value_col, k).over(w), v)
            for k in horizons
        }
    )


def bollinger_bands(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value_col: str,
    n: int = 20,
    num_std: float = 2.0,
) -> DataFrame:
    """Rolling mean ± k·stddev bands (reference dt:181-184)."""
    w = _w(partition_by, order_by).rowsBetween(-(n - 1), 0)
    mid = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    return df.withColumns(
        {
            "bb_middle": mid,
            "bb_std": sd,
            "bb_upper": mid + F.lit(num_std) * sd,
            "bb_lower": mid - F.lit(num_std) * sd,
        }
    )


def rsi(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value: Column | str,
    n: int = 14,
    out: str = "rsi",
) -> DataFrame:
    """Relative Strength Index (Cutler's SMA variant) over a price series
    — the standard companion to the reference's SMA/Bollinger/momentum
    indicator set (data_transformation.py:162-228), same window family:
    one shuffle+sort per (partition, order), lag + two rolling sums.

    Computed as ``100 * sum(gains) / (sum(gains) + sum(losses))`` over the
    last ``n`` deltas — algebraically identical to 100 - 100/(1+RS) but
    with exact integer sums (pass scaled-integer cents as ``value``) and a
    single double division, so the result is bit-identical across engines
    with no rounding contract. The first row of each series has no delta
    and contributes NULL (ignored by SUM); an all-flat window (both sums
    zero) yields NULL rather than 0/0.
    """
    w = _w(partition_by, order_by)
    v = value if isinstance(value, Column) else F.col(value)
    gain_c, loss_c, delta_c = f"__{out}_gain", f"__{out}_loss", f"__{out}_delta"
    d = df.withColumn(delta_c, v - F.lag(v).over(w))
    delta = F.col(delta_c)
    d = d.withColumns(
        {
            gain_c: F.when(delta > 0, delta).when(delta.isNotNull(), F.lit(0)),
            loss_c: F.when(delta < 0, -delta).when(delta.isNotNull(), F.lit(0)),
        }
    )
    wf = w.rowsBetween(-(n - 1), 0)
    sg, sl = F.sum(gain_c).over(wf), F.sum(loss_c).over(wf)
    return d.withColumn(
        out,
        F.when(sg + sl == 0, F.lit(None)).otherwise(F.lit(100.0) * sg / (sg + sl)),
    ).drop(delta_c, gain_c, loss_c)


def stochastic(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value: Column | str,
    n: int = 14,
    d: int = 3,
    out_k: str = "pct_k",
    out_d: str = "pct_d",
) -> DataFrame:
    """Stochastic oscillator %K/%D — the rolling-extremes companion to
    the reference's SMA/Bollinger/momentum set
    (data_transformation.py:162-228), same window family.

    %K = 100·(v − min_n) / (max_n − min_n): with scaled-integer ``value``
    the extremes are exact and %K is a single double division —
    bit-identical across engines. A flat window (max == min) yields NULL.
    %D is the ``d``-row mean of %K — a float sum, so callers comparing
    cross-engine must round it (same contract as Bollinger's ±2σ).

    Both window passes share one (partition, order) → one shuffle+sort;
    the %D pass stacks a second Window operator on the same sort.
    """
    w = _w(partition_by, order_by)
    v = value if isinstance(value, Column) else F.col(value)
    wf = w.rowsBetween(-(n - 1), 0)
    lo, hi = F.min(v).over(wf), F.max(v).over(wf)
    d1 = df.withColumn(
        out_k, F.when(hi != lo, F.lit(100.0) * (v - lo) / (hi - lo))
    )
    return d1.withColumn(
        out_d, F.avg(out_k).over(w.rowsBetween(-(d - 1), 0))
    )


def obv(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    price: Column | str,
    volume: Column | str,
    out: str = "obv",
) -> DataFrame:
    """On-balance volume: running sum of volume signed by the price
    delta's direction (flat delta and the series' first row contribute 0).
    Extends the reference's indicator set (data_transformation.py:162-228)
    with its standard volume-flow companion.

    With integer ``price`` (scaled cents) and integer ``volume`` the
    entire accumulation is BIGINT — exact, no float contract. One lag +
    one running sum over the same (partition, order) → one shuffle+sort.
    """
    w = _w(partition_by, order_by)
    p = price if isinstance(price, Column) else F.col(price)
    v = volume if isinstance(volume, Column) else F.col(volume)
    delta_c = f"__{out}_delta"
    d = df.withColumn(delta_c, p - F.lag(p).over(w))
    delta = F.col(delta_c)
    signed = (
        F.when(delta > 0, v).when(delta < 0, -v).otherwise(F.lit(0))
    )
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return d.withColumn(out, F.sum(signed).over(cum)).drop(delta_c)


def drawdown(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value: Column | str,
    out: str = "drawdown",
    out_peak: str = "peak",
) -> DataFrame:
    """Drawdown from the running maximum: peak = max-to-date,
    drawdown = (v − peak)/peak ∈ [−1, 0] — the risk metric every price
    pipeline reports next to returns (extends the reference's indicator
    block, data_transformation.py:162-228).

    With scaled-integer ``value`` the running max is exact and the
    drawdown is one integer subtraction + one double division —
    bit-identical across engines. One running-max window → one
    shuffle+sort shared with any sibling window on the same keys.
    """
    w = _w(partition_by, order_by).rowsBetween(Window.unboundedPreceding, 0)
    v = value if isinstance(value, Column) else F.col(value)
    peak = F.max(v).over(w)
    return df.withColumns(
        {out_peak: peak, out: (v - peak).cast("double") / peak}
    )


def vwap(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    price_cents: Column | str,
    volume: Column | str,
    out: str = "vwap",
) -> DataFrame:
    """Cumulative volume-weighted average price: Σ(price·vol)/Σ(vol) to
    date — the execution-quality benchmark every trading pipeline reports
    (extends the reference's indicator block, data_transformation.py:162-228).

    With scaled-integer ``price_cents`` and integer ``volume`` both
    running sums are exact BIGINT; the quotient is one double division
    (then /100 back to currency units) — bit-identical across engines.
    Headroom: Σ(cents·vol) stays under 2^63 up to ~10^9 rows/partition at
    cents·vol ≈ 5·10^8; beyond that, pre-aggregate per day first.
    Both sums share one (partition, order) → one shuffle + sort.
    """
    w = _w(partition_by, order_by).rowsBetween(Window.unboundedPreceding, 0)
    p = price_cents if isinstance(price_cents, Column) else F.col(price_cents)
    v = volume if isinstance(volume, Column) else F.col(volume)
    cum_pv = F.sum(p * v).over(w)
    cum_v = F.sum(v).over(w)
    return df.withColumn(out, (cum_pv / cum_v.cast("double")) / F.lit(100.0))


def rolling_corr(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    x: Column | str,
    y: Column | str,
    n: int,
    out: str = "corr_n",
) -> DataFrame:
    """Rolling Pearson correlation of two integer series over an n-row
    frame — the pairwise companion to the reference's grouped corr
    (sentiment_analysis.py:73-81) in the rolling-window family.

    Determinism: windowed CORR accumulates co-moments in engine-specific
    order (Spark frame buffer vs DuckDB segment tree), so the builtin is
    not reproducible cross-engine. Instead the six integer sums
    (n, Σx, Σy, Σxy, Σx², Σy²) are computed exactly as BIGINT, then the
    closed form  (n·Σxy − ΣxΣy) / √((n·Σx²−(Σx)²)·(n·Σy²−(Σy)²))  is one
    fixed double expression tree — each sum rounds to the same nearest
    double in every engine, and IEEE ops are deterministic, so the result
    is bit-identical with zero tolerance. NULL when either variance is 0.
    All six sums share one frame → one shuffle + sort + single Window op.
    """
    w = _w(partition_by, order_by).rowsBetween(-(n - 1), 0)
    xc = x if isinstance(x, Column) else F.col(x)
    yc = y if isinstance(y, Column) else F.col(y)
    cnt = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum(xc).over(w).cast("double")
    sy = F.sum(yc).over(w).cast("double")
    sxy = F.sum(xc * yc).over(w).cast("double")
    sxx = F.sum(xc * xc).over(w).cast("double")
    syy = F.sum(yc * yc).over(w).cast("double")
    varx = cnt * sxx - sx * sx
    vary = cnt * syy - sy * sy
    return df.withColumn(
        out,
        F.when(
            (varx > 0) & (vary > 0),
            (cnt * sxy - sx * sy) / F.sqrt(varx * vary),
        ),
    )


def relative_to_rolling(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value_col: str,
    n: int,
    out: str,
) -> DataFrame:
    """value / rolling-mean(value, n), zero-guarded
    (reference relative_volume dt:223-228)."""
    w = _w(partition_by, order_by).rowsBetween(-(n - 1), 0)
    return df.withColumn(out, guarded_div(F.col(value_col), F.avg(value_col).over(w)))


def ranked(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    methods: Sequence[str] = ("row_number",),
) -> DataFrame:
    """Add ranking columns: any of row_number / rank / dense_rank / ntile_N
    (engine extension; reference uses only row_number for dedup W1)."""
    w = _w(partition_by, order_by)
    cols: dict[str, Column] = {}
    for m in methods:
        if m == "row_number":
            cols["row_number"] = F.row_number().over(w)
        elif m == "rank":
            cols["rank"] = F.rank().over(w)
        elif m == "dense_rank":
            cols["dense_rank"] = F.dense_rank().over(w)
        elif m.startswith("ntile_"):
            cols[m] = F.ntile(int(m.split("_")[1])).over(w)
        else:
            raise ValueError(f"unknown ranking method: {m}")
    return df.withColumns(cols)


def cumulative(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Running aggregates over an unbounded-preceding frame."""
    w = _w(partition_by, order_by).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumns({out: expr.over(w) for out, expr in aggs.items()})


def ema(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    span: int,
    out: str = "ema",
) -> DataFrame:
    """True exponential moving average (recursive), per partition key.

    The reference labels plain 20/50-row SMAs as "EMA" (data_transformation
    .py:176-178 — a documented approximation, SURVEY.md §1.2). A true EMA
    is a linear recurrence no window frame can express, so this drops to
    grouped Arrow batches (applyInPandas): each key group is processed as
    one pandas series — the standard Spark escape hatch for per-entity
    recursive state. Groups are independent → scales horizontally; a
    single entity's history must fit in one task (true of any per-entity
    recurrence).

    The recurrence is an EXPLICIT loop — ``e[i] = alpha*v[i] +
    (1-alpha)*e[i-1]``, seeded with the first value — rather than pandas
    ``ewm``: the explicit operation order is reproducible bit-for-bit by a
    SQL recursive CTE (the corpus oracle), whereas ewm's internal
    weight normalization is not.
    """
    from pyspark.sql import types as T

    alpha = 2.0 / (span + 1.0)
    # Build a FRESH StructType: StructType.add mutates in place and
    # DataFrame.schema is cached, so df.schema.add would corrupt the
    # input DataFrame's analyzed schema with a phantom column.
    schema_out = T.StructType(
        list(df.schema.fields) + [T.StructField(out, T.DoubleType())]
    )
    sort_cols = list(order_by)

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        vals = pdf[value_col].to_numpy(dtype="float64")
        ema_vals = vals.copy()
        for i in range(1, len(ema_vals)):
            ema_vals[i] = alpha * ema_vals[i] + (1.0 - alpha) * ema_vals[i - 1]
        pdf[out] = ema_vals
        return pdf

    return df.groupBy(*partition_by).applyInPandas(_per_group, schema=schema_out)


def macd(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
) -> DataFrame:
    """MACD indicator: fast/slow true EMAs of the value, their difference
    (``macd``), a ``signal`` EMA of the MACD line, and the histogram
    (``macd_hist`` = macd - signal) — completing the reference's
    indicator family (dt:162-228) with its standard companion.

    All three recurrences advance together in ONE grouped Arrow pass
    (single shuffle), not three chained ema() calls (three shuffles over
    the same data). Same bit-reproducibility contract as ema(): explicit
    ``alpha*v + (1-alpha)*prev`` operation order, replayable by a
    recursive-CTE oracle. Seeds: both EMAs start at the first value, so
    macd[0] == 0 and the signal seeds at 0.
    """
    from pyspark.sql import types as T

    af, asl, asig = (
        2.0 / (fast + 1.0),
        2.0 / (slow + 1.0),
        2.0 / (signal + 1.0),
    )
    schema_out = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("macd", T.DoubleType()),
            T.StructField("macd_signal", T.DoubleType()),
            T.StructField("macd_hist", T.DoubleType()),
        ]
    )
    sort_cols = list(order_by)

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        vals = pdf[value_col].to_numpy(dtype="float64")
        n = len(vals)
        m_arr = [0.0] * n
        s_arr = [0.0] * n
        if n:
            ef = es = vals[0]
            m = ef - es
            sig = m
            m_arr[0], s_arr[0] = m, sig
            for i in range(1, n):
                ef = af * vals[i] + (1.0 - af) * ef
                es = asl * vals[i] + (1.0 - asl) * es
                m = ef - es
                sig = asig * m + (1.0 - asig) * sig
                m_arr[i], s_arr[i] = m, sig
        pdf["macd"] = m_arr
        pdf["macd_signal"] = s_arr
        pdf["macd_hist"] = pdf["macd"] - pdf["macd_signal"]
        return pdf

    return df.groupBy(*partition_by).applyInPandas(_per_group, schema=schema_out)


def holt_linear(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    alpha: float = 0.4,
    beta: float = 0.2,
) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend) per
    partition key — the forecasting step the EMA family can't take:
    where ema() tracks location only, Holt also carries a trend state
    so the one-step-ahead forecast (``holt_fit`` = prior level + prior
    trend) follows ramps instead of lagging them.

        l[i] = alpha·v[i] + (1-alpha)·(l[i-1] + b[i-1])
        b[i] = beta·(l[i] - l[i-1]) + (1-beta)·b[i-1]

    Seeds: l[0] = v[0], b[0] = 0 (documented — no lookahead), and
    holt_fit[0] = v[0]. Same engineering contract as ema()/macd(): both
    recurrences advance in ONE grouped Arrow pass (single shuffle), the
    operation order above is written out explicitly so a recursive-CTE
    oracle replays every step bit-for-bit, and groups scale
    horizontally with one entity's history per task.
    """
    from pyspark.sql import types as T

    schema_out = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("holt_level", T.DoubleType()),
            T.StructField("holt_trend", T.DoubleType()),
            T.StructField("holt_fit", T.DoubleType()),
        ]
    )
    sort_cols = list(order_by)
    a, b = float(alpha), float(beta)

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        vals = pdf[value_col].to_numpy(dtype="float64")
        n = len(vals)
        lv = [0.0] * n
        tv = [0.0] * n
        fv = [0.0] * n
        if n:
            level = vals[0]
            trend = 0.0
            lv[0], tv[0], fv[0] = level, trend, vals[0]
            for i in range(1, n):
                fv[i] = level + trend
                new_level = a * vals[i] + (1.0 - a) * (level + trend)
                trend = b * (new_level - level) + (1.0 - b) * trend
                level = new_level
                lv[i], tv[i] = level, trend
        pdf["holt_level"] = lv
        pdf["holt_trend"] = tv
        pdf["holt_fit"] = fv
        return pdf

    return df.groupBy(*partition_by).applyInPandas(_per_group, schema=schema_out)


def atr(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    high: Column | str = "high",
    low: Column | str = "low",
    close: Column | str = "close",
    n: int = 14,
    out: str = "atr",
) -> DataFrame:
    """Average True Range over OHLC bars (pairs with aggregates.ohlc):
    TR = max(high−low, |high−prev_close|, |low−prev_close|), ATR = n-bar
    rolling mean of TR — the gap-aware volatility companion to
    Bollinger's close-only stddev (extends the reference's indicator
    block, data_transformation.py:162-228).

    With integer (cents) bars TR is exact BIGINT; the first bar of each
    series has no prev_close, so both |·| terms COALESCE to high−low
    (explicit, rather than relying on engine-specific GREATEST null
    rules). ATR = Σ TR / count is one double division — bit-identical
    cross-engine. One lag + one frame over a shared (partition, order)
    → one shuffle + sort.
    """
    w = _w(partition_by, order_by)
    h = high if isinstance(high, Column) else F.col(high)
    lo = low if isinstance(low, Column) else F.col(low)
    cl = close if isinstance(close, Column) else F.col(close)
    prev = F.lag(cl).over(w)
    hl = h - lo
    tr_c = f"__{out}_tr"
    d = df.withColumn(
        tr_c,
        F.greatest(
            hl,
            F.coalesce(F.abs(h - prev), hl),
            F.coalesce(F.abs(lo - prev), hl),
        ),
    )
    wf = w.rowsBetween(-(n - 1), 0)
    return d.withColumn(
        out, F.sum(tr_c).over(wf) / F.count(F.lit(1)).over(wf)
    ).drop(tr_c)


def rolling_beta(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    x: Column | str,
    y: Column | str,
    n: int,
    out: str = "beta_n",
) -> DataFrame:
    """Rolling OLS slope (hedge ratio / rolling beta) of integer series y
    on x over an n-row frame — the windowed form of analysis.linear_fit,
    same exact-co-moment discipline as rolling_corr: five exact BIGINT
    sums, then slope = (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) as one fixed
    double tree — bit-identical cross-engine. NULL where x is flat in
    the window. One shuffle + sort shared with sibling windows.
    """
    w = _w(partition_by, order_by).rowsBetween(-(n - 1), 0)
    xc = x if isinstance(x, Column) else F.col(x)
    yc = y if isinstance(y, Column) else F.col(y)
    cnt = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum(xc).over(w).cast("double")
    sy = F.sum(yc).over(w).cast("double")
    sxy = F.sum(xc * yc).over(w).cast("double")
    sxx = F.sum(xc * xc).over(w).cast("double")
    varx = cnt * sxx - sx * sx
    return df.withColumn(
        out, F.when(varx > 0, (cnt * sxy - sx * sy) / varx)
    )


def donchian(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    high: Column | str = "high",
    low: Column | str = "low",
    close: Column | str = "close",
    n: int = 20,
    prefix: str = "donchian",
) -> DataFrame:
    """Donchian channel over OHLC bars (pairs with aggregates.ohlc):
    upper = n-bar rolling max(high), lower = n-bar rolling min(low),
    mid = (upper+lower)/2, plus breakout flags — the channel the turtle
    /breakout strategies trade (extends the reference's indicator block,
    data_transformation.py:162-228, which stops at SMA/Bollinger).

    With integer (cents) bars upper/lower are exact BIGINT and the
    breakout comparisons are pure integer predicates; mid is one double
    division — bit-identical cross-engine. ``new_high`` flags close
    touching the channel top (close >= upper), ``new_low`` the bottom.
    All frames share one (partition, order) shuffle + sort.
    """
    w = _w(partition_by, order_by).rowsBetween(-(n - 1), 0)
    h = high if isinstance(high, Column) else F.col(high)
    lo = low if isinstance(low, Column) else F.col(low)
    cl = close if isinstance(close, Column) else F.col(close)
    upper = F.max(h).over(w)
    lower = F.min(lo).over(w)
    return df.withColumns(
        {
            f"{prefix}_upper": upper,
            f"{prefix}_lower": lower,
            f"{prefix}_mid": (upper + lower).cast("double") / F.lit(2.0),
            "new_high": (cl >= upper).cast("boolean"),
            "new_low": (cl <= lower).cast("boolean"),
        }
    )


def ichimoku(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    high: Column | str = "high",
    low: Column | str = "low",
    close: Column | str = "close",
    tenkan_n: int = 9,
    kijun_n: int = 26,
    span_b_n: int = 52,
) -> DataFrame:
    """Ichimoku cloud over OHLC bars: tenkan (conversion) = 9-bar
    midpoint, kijun (base) = 26-bar midpoint, senkou span A =
    (tenkan+kijun)/2 shifted forward kijun_n bars, senkou span B =
    52-bar midpoint shifted forward kijun_n, chikou (lagging) = close
    shifted back kijun_n. "Shifted forward" means the value plotted at
    bar t was computed at t−kijun_n → a LAG; chikou is a LEAD.

    Midpoint = (rolling max high + rolling min low)/2: exact BIGINT
    extremes, one double division each; span A is one further fixed-
    order double expression — all row-wise, bit-identical cross-engine
    with no ROUND. Five frames + two offsets share ONE (partition,
    order) shuffle + sort (the window-collapse this module documents).
    Early-series bars use partial windows (reference SMA semantic);
    span/chikou are NULL until the offset exists.
    """
    w = _w(partition_by, order_by)
    h = high if isinstance(high, Column) else F.col(high)
    lo = low if isinstance(low, Column) else F.col(low)
    cl = close if isinstance(close, Column) else F.col(close)

    def midpoint(n: int) -> Column:
        wf = w.rowsBetween(-(n - 1), 0)
        return (F.max(h).over(wf) + F.min(lo).over(wf)).cast("double") / F.lit(2.0)

    tenkan = midpoint(tenkan_n)
    kijun = midpoint(kijun_n)
    return df.withColumns(
        {
            "tenkan": tenkan,
            "kijun": kijun,
            "senkou_a": F.lag((tenkan + kijun) / F.lit(2.0), kijun_n).over(w),
            "senkou_b": F.lag(midpoint(span_b_n), kijun_n).over(w),
            "chikou": F.lead(cl, kijun_n).over(w),
        }
    )


def keltner(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    span: int = 20,
    n_atr: int = 14,
    mult: float = 2.0,
    high: str = "high",
    low: str = "low",
    close: str = "close",
) -> DataFrame:
    """Keltner channel over OHLC bars: middle = EMA(close, span), bands
    middle ± mult·ATR(n_atr) — the volatility envelope that pairs the
    gap-aware ATR with a true recursive centerline (Bollinger's sibling;
    extends the reference's indicator block, data_transformation
    .py:162-228).

    Composition of two existing primitives sharing one (partition,
    order): the EMA's grouped Arrow pass and the ATR's window frame.
    Band arithmetic is plain double ops on bit-identical inputs, so the
    whole channel stays oracle-exact with no rounding.

    Outputs: kc_middle, kc_upper, kc_lower.
    """
    mid = ema(df, partition_by, order_by, close, span=span, out="kc_middle")
    withatr = atr(
        mid, partition_by, order_by, high=high, low=low, close=close,
        n=n_atr, out="__kc_atr",
    )
    m = F.col("kc_middle")
    a = F.col("__kc_atr")
    return (
        withatr.withColumn("kc_upper", m + F.lit(mult) * a)
        .withColumn("kc_lower", m - F.lit(mult) * a)
        .drop("__kc_atr")
    )


def adx(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    high: str = "high",
    low: str = "low",
    close: str = "close",
    n: int = 14,
) -> DataFrame:
    """ADX (average directional index) over integer OHLC bars, rolling-
    sum variant: directional movements and true range stay exact BIGINTs,
    DI± = 100·Σn(DM±)/Σn(TR) is one double division of exact integers,
    DX = 100·|DI+ − DI−|/(DI+ + DI−), and ADX is an n-bar mean of DX
    *quantized to 1e-9 integers first* — windowed double sums are
    engine-dependent (segment-tree vs streaming accumulation), integer
    sums are not, so the whole indicator is bit-identical cross-engine.
    (Wilder's recursive smoothing would need the applyInPandas EMA path;
    the rolling-sum form is the standard window-algebra variant.)

    One (partition, order) spec shared by every lag and frame → one
    shuffle + sort. Outputs: pdi, mdi, dx, adx (dx/adx null while
    DI+ + DI− = 0).
    """
    w = _w(partition_by, order_by)
    wf = w.rowsBetween(-(n - 1), 0)
    h, lo, cl = F.col(high), F.col(low), F.col(close)
    ph, pl, pc = F.lag(h).over(w), F.lag(lo).over(w), F.lag(cl).over(w)
    up = h - ph
    down = pl - lo
    pdm = F.coalesce(F.when((up > down) & (up > 0), up).otherwise(F.lit(0)), F.lit(0))
    mdm = F.coalesce(
        F.when((down > up) & (down > 0), down).otherwise(F.lit(0)), F.lit(0)
    )
    hl = h - lo
    tr = F.greatest(hl, F.coalesce(F.abs(h - pc), hl), F.coalesce(F.abs(lo - pc), hl))
    d = (
        df.withColumn("__pdm", pdm)
        .withColumn("__mdm", mdm)
        .withColumn("__tr", tr)
    )
    str_ = F.sum("__tr").over(wf)
    pdi = F.lit(100.0) * F.sum("__pdm").over(wf) / F.nullif(str_, F.lit(0))
    mdi = F.lit(100.0) * F.sum("__mdm").over(wf) / F.nullif(str_, F.lit(0))
    d = d.withColumn("pdi", pdi).withColumn("mdi", mdi)
    dx = (
        F.lit(100.0)
        * F.abs(F.col("pdi") - F.col("mdi"))
        / F.nullif(F.col("pdi") + F.col("mdi"), F.lit(0.0))
    )
    d = d.withColumn("dx", dx).withColumn(
        "__dxq", F.floor(F.col("dx") * F.lit(1e9) + F.lit(0.5)).cast("bigint")
    )
    adx_col = (
        F.sum("__dxq").over(wf).cast("double")
        / F.count("__dxq").over(wf).cast("double")
        / F.lit(1e9)
    )
    return d.withColumn("adx", adx_col).drop("__pdm", "__mdm", "__tr", "__dxq")


def cusum(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    target: float,
    slack: float,
    threshold: float,
) -> DataFrame:
    """Two-sided CUSUM control chart per entity — the drift/changepoint
    monitor a training-data pipeline runs over quality metrics:

        s⁺[i] = max(0, s⁺[i-1] + (x[i] − target − slack))
        s⁻[i] = max(0, s⁻[i-1] − (x[i] − target + slack))

    with an alarm flag when either statistic exceeds ``threshold``.
    A cumulative recurrence with a clamp is not expressible as a window
    frame (the max(0,·) resets break prefix-sum algebra), so it runs as
    one grouped Arrow pass — same pattern, shuffle count, and
    bit-reproducibility contract as ema()/macd(): explicit operation
    order, replayable by a recursive-CTE oracle.

    Outputs: cusum_pos, cusum_neg, alarm (int 0/1).
    """
    from pyspark.sql import types as T

    schema_out = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("cusum_pos", T.DoubleType()),
            T.StructField("cusum_neg", T.DoubleType()),
            T.StructField("alarm", T.IntegerType()),
        ]
    )
    sort_cols = list(order_by)

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        vals = pdf[value_col].to_numpy(dtype="float64")
        pos = vals.copy()
        neg = vals.copy()
        p = n = 0.0
        out_p, out_n = [], []
        for x in vals:
            p = max(0.0, p + (x - target - slack))
            n = max(0.0, n - (x - target + slack))
            out_p.append(p)
            out_n.append(n)
        pdf["cusum_pos"] = out_p
        pdf["cusum_neg"] = out_n
        pdf["alarm"] = [
            1 if (a > threshold or b > threshold) else 0
            for a, b in zip(out_p, out_n)
        ]
        return pdf

    return df.groupBy(*partition_by).applyInPandas(_per_group, schema=schema_out)


def rsi_wilder(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    close: str = "close",
    n: int = 14,
    out: str = "rsi_w",
) -> DataFrame:
    """Wilder's RSI — the AUTHENTIC recursive form (the rolling-mean RSI
    elsewhere in the corpus is the simplified variant): seed gain/loss
    averages over the first ``n`` deltas, then
    ``avg = (prev*(n-1) + x) / n`` each bar; RSI = 100 − 100/(1+RS).

    A linear recurrence per entity → grouped Arrow pass (ema/cusum
    contract): integer-exact deltas, explicit double operation order a
    recursive-CTE oracle replays bit-for-bit. Rows before the seed bar
    emit null; avg_loss = 0 emits RSI = 100 (Wilder's convention).
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema_out = T.StructType(
        list(df.schema.fields) + [T.StructField(out, T.DoubleType())]
    )
    sort_cols = list(order_by)
    nf = float(n)

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        closes = pdf[close].to_numpy()
        rsi = [None] * len(closes)
        if len(closes) > n:
            gains = [0] * len(closes)
            losses = [0] * len(closes)
            for i in range(1, len(closes)):
                d = int(closes[i]) - int(closes[i - 1])
                gains[i] = d if d > 0 else 0
                losses[i] = -d if d < 0 else 0
            ag = float(sum(gains[1 : n + 1])) / nf
            al = float(sum(losses[1 : n + 1])) / nf

            def _rsi(ag: float, al: float) -> float:
                if al == 0.0:
                    return 100.0
                return 100.0 - 100.0 / (1.0 + ag / al)

            rsi[n] = _rsi(ag, al)
            for i in range(n + 1, len(closes)):
                ag = (ag * (nf - 1.0) + float(gains[i])) / nf
                al = (al * (nf - 1.0) + float(losses[i])) / nf
                rsi[i] = _rsi(ag, al)
        pdf[out] = rsi
        return pdf

    return df.groupBy(*partition_by).applyInPandas(_per_group, schema=schema_out)


def atr_wilder(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    high: str = "high",
    low: str = "low",
    close: str = "close",
    n: int = 14,
    out: str = "atr_w",
) -> DataFrame:
    """Wilder-smoothed ATR — the authentic recursive form (atr() is the
    rolling-mean variant): seed = mean of the first ``n`` true ranges,
    then ``atr = (prev*(n-1) + tr) / n``. Same grouped-Arrow contract
    and recursive-CTE reproducibility as rsi_wilder/ema. Rows before the
    seed bar emit null. Integer (cents) bars keep every TR exact.
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema_out = T.StructType(
        list(df.schema.fields) + [T.StructField(out, T.DoubleType())]
    )
    sort_cols = list(order_by)
    nf = float(n)

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        h = pdf[high].to_numpy()
        lo = pdf[low].to_numpy()
        cl = pdf[close].to_numpy()
        m = len(h)
        atr_vals = [None] * m
        if m >= n:
            trs = [0] * m
            for i in range(m):
                hl = int(h[i]) - int(lo[i])
                if i == 0:
                    trs[i] = hl
                else:
                    pc = int(cl[i - 1])
                    trs[i] = max(hl, abs(int(h[i]) - pc), abs(int(lo[i]) - pc))
            a = float(sum(trs[:n])) / nf
            atr_vals[n - 1] = a
            for i in range(n, m):
                a = (a * (nf - 1.0) + float(trs[i])) / nf
                atr_vals[i] = a
        pdf[out] = atr_vals
        return pdf

    return df.groupBy(*partition_by).applyInPandas(_per_group, schema=schema_out)


def ewm_volatility(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    span: int,
    out_var: str = "ewm_var",
    out_std: str = "ewm_std",
) -> DataFrame:
    """Exponentially-weighted variance/volatility (the RiskMetrics
    recursion) per entity — the vol estimate quant pipelines run beside
    the EMA:

        d_t  = x_t − μ_{t−1}
        μ_t  = μ_{t−1} + α·d_t
        s_t  = (1−α)·(s_{t−1} + α·d_t²)        α = 2/(span+1)

    seeded μ_0 = x_0, s_0 = 0. Like :func:`ema` this is a linear
    recurrence no window frame can express → grouped Arrow batches
    (applyInPandas), one entity's history per task, groups scale
    horizontally. The recurrence is an explicit loop with a FIXED
    operation order (the exact expressions above), so a recursive-CTE
    oracle replays it bit-for-bit; ``ewm_std = sqrt(s_t)`` (sqrt is
    correctly rounded — bit-identical on any engine).

    Input contract (same as :func:`ema`): ``value_col`` must be
    non-null — a recursive state poisoned by NaN/NULL propagates
    forever and pandas-NaN vs SQL-NULL diverge; forward-fill or filter
    upstream (operators/cleaning.forward_fill).
    """
    from pyspark.sql import types as T

    alpha = 2.0 / (span + 1.0)
    schema_out = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_var, T.DoubleType()),
           T.StructField(out_std, T.DoubleType())]
    )
    sort_cols = list(order_by)

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        vals = pdf[value_col].to_numpy(dtype="float64")
        n = len(vals)
        var = [0.0] * n
        mu = vals[0] if n else 0.0
        s = 0.0
        for i in range(1, n):
            d = vals[i] - mu
            mu = mu + alpha * d
            s = (1.0 - alpha) * (s + alpha * d * d)
            var[i] = s
        pdf[out_var] = var
        # math.sqrt is correctly rounded (hardware sqrt); v ** 0.5 is
        # pow() and can be off by an ulp — cost 64 mismatched rows/60k.
        pdf[out_std] = [math.sqrt(v) for v in var]
        return pdf

    return df.groupBy(*partition_by).applyInPandas(_per_group, schema=schema_out)


def floored_running_sum(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    delta_col: str,
    floor: int = 0,
    out: str = "balance",
) -> DataFrame:
    """Running sum that clamps at a floor after EVERY step —
    ``s_t = max(floor, s_{t-1} + x_t)``, seeded ``s_0 = max(floor, x_0)``
    — inventory that cannot go negative, credit balances, token-bucket
    rate limits.

    Despite looking recursive (each prefix depends on the CLAMPED
    previous state, so ``greatest(floor, sum(...) over w)`` is wrong —
    it forgets how much the floor absorbed), a constant floor has an
    exact closed form, the Skorokhod reflection identity:

        b_i = S_i + f - min(f, min_{j<=i} S_j)      (S = raw prefix sum)

    Induction: with m_i = min(f, min_{j<=i} S_j), if S_i >= m_{i-1} the
    clamp is inactive and b_i = S_i - m_{i-1} + f; if S_i < m_{i-1}
    (<= f's shift) the clamp bites, b_i = f, and m_i = S_i — both match
    the recurrence, seeded b_0 = max(f, S_0). So the operator is TWO
    window passes over one partitioning — a codegen prefix sum, then a
    running min over it — instead of a per-entity Python loop: one
    exchange + one sort, the sorted runs shared by both WindowExecs,
    distributed across however many entities the data has. All exact
    BIGINT arithmetic (pass integer deltas; scale upstream), so the
    result is bit-identical to the step-by-step recursion — pinned by a
    hypothesis property test replaying the explicit loop
    (tests/test_operators.py). Input contract: ``delta_col`` non-null.

    Round 13: replaced the applyInPandas explicit loop (and the
    O(rows-per-entity) recursive-CTE oracle iterations, ~1200 s at sf2)
    with this identity — same integers, window-shaped cost.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = int(floor)
    with_s = df.withColumn(
        "__fs_prefix", F.sum(F.col(delta_col).cast("bigint")).over(w)
    )
    bal = (
        F.col("__fs_prefix")
        + F.lit(f)
        - F.least(F.lit(f).cast("bigint"), F.min("__fs_prefix").over(w))
    )
    return with_s.withColumn(out, bal.cast("long")).drop("__fs_prefix")
