"""Event-time operators: tumbling/sliding windows, sessionization,
recency weighting (SURVEY.md §2.9 extension — the reference is batch-only;
its closest analogue is the exp(-hours/24) recency weighting at
data_transformation.py:285-293).

These are the BATCH equivalents; streaming variants (watermarks,
session_window) live in financial_data_lakehouse_pipeline__spark.streaming.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.functions import dsum, guarded_div
from financial_data_lakehouse_pipeline__spark.materialize import pin


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Fixed (tumbling) time-window aggregation.

    Uses F.window — one hash aggregation, no extra shuffle beyond the
    groupBy. Output carries window_start/window_end timestamps.
    """
    g = df.groupBy(F.window(F.col(ts_col), duration).alias("__w"), *keys)
    return g.agg(*[e.alias(o) for o, e in aggs.items()]).select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *keys,
        *aggs.keys(),
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Sliding (hopping) window aggregation — each row contributes to
    duration/slide windows (F.window replicates rows accordingly)."""
    g = df.groupBy(F.window(F.col(ts_col), duration, slide).alias("__w"), *keys)
    return g.agg(*[e.alias(o) for o, e in aggs.items()]).select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *keys,
        *aggs.keys(),
    )


def sessionize(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    gap_seconds: int,
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Assign a session id per key: a new session starts when the gap from
    the previous event exceeds ``gap_seconds``.

    Classic lag + cumulative-sum formulation (also how session_window is
    defined): one shuffle on keys + in-partition sort. Adds columns
    __session (int) — callers aggregate as needed.
    """
    order_cols = [F.col(ts_col), *[F.col(c) for c in order_tiebreak]]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    prev = F.lag(ts_col).over(w)
    # Gap compared in integer microseconds (unix_timestamp would truncate
    # to seconds and shift session boundaries).
    new_session = F.when(
        prev.isNull()
        | (F.unix_micros(F.col(ts_col)) - F.unix_micros(prev) > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    cum = Window.partitionBy(*keys).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("__new", new_session).withColumn(
        "session_id", F.sum("__new").over(cum).cast("bigint")
    ).drop("__new")


def session_agg(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    gap_seconds: int,
    aggs: dict[str, Column],
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Sessionize then aggregate per (keys..., session): adds
    session_start/session_end plus caller aggs."""
    s = sessionize(df, keys, ts_col, gap_seconds, order_tiebreak)
    return s.groupBy(*keys, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        *[e.alias(o) for o, e in aggs.items()],
    )


def recency_weighted_mean(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    half_life_hours: float = 24.0,
    out: str = "recency_weighted_avg",
) -> DataFrame:
    """Exponential-recency weighted mean per key, anchored at the GLOBAL
    max timestamp (reference dt:285-304 anchors at current_timestamp; a
    data-anchored origin keeps results reproducible).

    The anchor is computed as a 1-row aggregate and broadcast-joined — no
    driver-side collect, no single-partition window.
    """
    anchor = df.agg(F.max(ts_col).alias("__anchor"))
    hours = (
        F.unix_micros(F.col("__anchor")) - F.unix_micros(F.col(ts_col))
    ) / F.lit(3.6e9)
    weight = F.exp(-hours / F.lit(half_life_hours))
    return (
        df.join(F.broadcast(anchor))
        .withColumn("__w", weight)
        .groupBy(*keys)
        .agg(
            guarded_div(
                dsum(F.col(value_col) * F.col("__w")), dsum(F.col("__w"))
            ).alias(out)
        )
    )


def funnel(
    df,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
):
    """Ordered conversion funnel: a user reaches step k when an event of
    ``steps[k]`` exists strictly AFTER their first qualifying event of
    step k-1 (first-touch chaining, the standard product-analytics
    semantics). Returns (step, event_type, n_users) — one row per step.

    Execution: one filtered min-ts aggregation per step, each joined to
    the previous step's per-user timestamp — k keyed shuffles over
    progressively SHRINKING user sets, never a self-join of the raw
    event stream. At 100 TB pre-filtering each stage to its event type
    pushes into the scan.
    """
    reached = None  # (user, t_k) of users who reached the current step
    counts = []
    for k, step in enumerate(steps):
        ev_k = df.filter(F.col(type_col) == step)
        if reached is None:
            cur = ev_k.groupBy(user_col).agg(F.min(ts_col).alias("__t"))
        else:
            cur = (
                ev_k.join(reached, user_col)
                .filter(F.col(ts_col) > F.col("__t_prev"))
                .groupBy(user_col)
                .agg(F.min(ts_col).alias("__t"))
            )
        reached = cur.select(user_col, F.col("__t").alias("__t_prev"))
        counts.append(
            cur.agg(
                F.lit(k + 1).cast("int").alias("step"),
                F.lit(step).alias("event_type"),
                F.count(F.lit(1)).cast("bigint").alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def retention_cohorts(
    df,
    user_col: str,
    ts_col: str,
    period_days: int = 7,
):
    """Cohort retention triangle: users grouped by the period of their
    FIRST event; for each (cohort, period-offset) the number of distinct
    users active in that period. Periods are integer day buckets
    (days-since-epoch // period_days) — portable arithmetic, no calendar
    edge cases.

    Two keyed aggregations (first-seen per user, then distinct users per
    cohort cell); the broadcast-joined first-seen table keeps the event
    stream to a single shuffle.
    """
    day = F.datediff(F.col(ts_col).cast("date"), F.lit("1970-01-01"))
    ev = df.select(F.col(user_col), (day / period_days).cast("bigint").alias("__p"))
    first = ev.groupBy(user_col).agg(F.min("__p").alias("__p0"))
    return (
        ev.join(first, user_col)
        .groupBy(
            F.col("__p0").alias("cohort_period"),
            (F.col("__p") - F.col("__p0")).alias("period_offset"),
        )
        .agg(F.count_distinct(F.col(user_col)).cast("bigint").alias("n_users"))
    )


def concurrency_sweep(
    df: DataFrame,
    start: Column,
    end_exclusive: Column,
    weight: Column | None = None,
) -> DataFrame:
    """Sweep-line concurrency curve: for every interval boundary, how
    many intervals [start, end_exclusive) are active at that instant —
    e.g. shipments in transit, open sessions, concurrent calls.

    The naive formulation is an interval × instants range join
    (quadratic); the sweep is linear: each interval becomes a +w delta at
    ``start`` and a −w delta at ``end_exclusive``, deltas are SUMMED PER
    INSTANT FIRST (a keyed shuffle with map-side combine), and the
    running sum over the aggregated curve gives the concurrency.

    Scale note: the final cumulative window is unpartitioned, which is
    safe ONLY because it runs over the pre-aggregated curve — one row
    per distinct boundary instant (dates/hours → thousands), not per
    interval (billions). Aggregate-then-scan is the load-bearing order;
    the same two-phase shape extends to a distributed prefix sum (per-
    range partials + broadcast offsets) if the instant domain ever grows
    past single-node width.

    Output: (at, delta, concurrent) — ``concurrent`` is the count active
    on [at, next_boundary).
    """
    w = weight if weight is not None else F.lit(1).cast("bigint")
    # pinned: the +start and -end delta branches each re-derived the
    # interval table (for sessionized inputs that is a full window
    # aggregation per branch — guide §2.4).
    df = pin(df)
    deltas = df.select(start.alias("at"), w.alias("__d")).unionAll(
        df.select(end_exclusive.alias("at"), (-w).alias("__d"))
    )
    curve = deltas.groupBy("at").agg(F.sum("__d").alias("delta"))
    cum = Window.orderBy("at").rowsBetween(Window.unboundedPreceding, 0)
    return curve.withColumn("concurrent", F.sum("delta").over(cum))


def debounce(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    min_gap_seconds: int,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Debounce/throttle per key: keep an event only if it is at least
    ``min_gap_seconds`` after the LAST KEPT event of the same key — the
    rate-limiting primitive (alert suppression, notification throttling,
    dedup of event bursts).

    The greedy keep-chain depends on which prior events were kept, so no
    window frame expresses it (lag sees the previous EVENT, not the
    previous KEPT event). Runs as one grouped Arrow pass — the same
    shape, shuffle count, and bit-reproducibility contract as
    ema()/cusum(): an explicit loop a recursive-CTE oracle replays
    exactly. Emits only the kept rows.
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema_out = T.StructType(list(df.schema.fields))
    sort_cols = [ts_col, *tiebreak]
    gap_us = min_gap_seconds * 1_000_000

    def _per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        # robust to datetime64[ns] vs [us] pandas dtypes
        ts_us = pdf[ts_col].to_numpy(dtype="datetime64[us]").astype("int64")
        keep = []
        last = None
        for t in ts_us:
            if last is None or t - last >= gap_us:
                keep.append(True)
                last = t
            else:
                keep.append(False)
        return pdf[pd.Series(keep, index=pdf.index)]

    return df.groupBy(*keys).applyInPandas(_per_group, schema=schema_out)


def regularize_time_series(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    interval_seconds: int,
    aggs: dict[str, Column],
    fill_cols: Sequence[str] = (),
    zero_cols: Sequence[str] = (),
) -> DataFrame:
    """Resample an irregular event stream onto each entity's regular
    time grid (pandas ``resample``/``asfreq`` for DataFrames): bucket
    events into ``interval_seconds`` bins, generate the FULL dense spine
    from each entity's first to last bucket (empty buckets included),
    and fill — ``zero_cols`` get 0 (counts), ``fill_cols`` carry the
    last observation forward (marks, balances). The irregular→regular
    step every bar-building / gap-aware indicator pipeline starts with.

    Plan shape: one aggregation on (keys, bucket); the spine is a
    per-entity min/max + ``sequence`` + explode — rows ∝ grid size, no
    cross join; the fill is one keyed window. All timestamp arithmetic
    is exact integer epoch-seconds.

    Output: keys..., bucket_start timestamp, aggregated columns (+
    ``_filled`` variants for fill_cols).
    """
    step = F.lit(int(interval_seconds)).cast("bigint")
    # floor-to-bucket via modulo — exact integer arithmetic (a bigint
    # `/` would go through double)
    sec = F.unix_seconds(F.col(ts_col))
    bucket = sec - (sec % step)
    b = df.withColumn("__b", bucket)
    agged = b.groupBy(*keys, "__b").agg(*[e.alias(o) for o, e in aggs.items()])
    spine = (
        b.groupBy(*keys)
        .agg(F.min("__b").alias("__lo"), F.max("__b").alias("__hi"))
        .select(
            *keys,
            F.explode(F.sequence("__lo", "__hi", step)).alias("__b"),
        )
    )
    joined = spine.join(agged, [*keys, "__b"], "left")
    filled = joined.withColumns(
        {c: F.coalesce(F.col(c), F.lit(0).cast("bigint")) for c in zero_cols}
    )
    if fill_cols:
        from financial_data_lakehouse_pipeline__spark.operators.cleaning import (
            forward_fill,
        )

        filled = forward_fill(filled, keys, ["__b"], list(fill_cols))
    return filled.withColumn(
        "bucket_start", F.timestamp_seconds(F.col("__b"))
    ).drop("__b")
