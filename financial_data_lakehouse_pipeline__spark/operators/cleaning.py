"""Cleaning operators (SURVEY.md §2.2 and §2.4 A10/A11).

Generalizes the reference's four hard-coded cleaning jobs
(scripts/spark_jobs/data_cleaning.py) into parameterized operators: nested
flattening (array and map explode), keep-latest dedup,
null/domain-invariant filters, and derived columns.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def explode_array(df: DataFrame, array_col: str, alias: str = "item") -> DataFrame:
    """Flatten an array<struct> column into one row per element.

    Reference: polygon `aggregates.results` explode (data_cleaning.py:48-61),
    SEC `recent_filings` (dc:230-248), news `feed` (dc:290-307).
    """
    return df.withColumn(alias, F.explode(F.col(array_col)))


def explode_map(df: DataFrame, map_col: str, key_alias: str = "key", value_alias: str = "value") -> DataFrame:
    """Flatten a map<K, struct> column into (key, value) rows.

    Reference: alpha-vantage `time_series` map explode with two aliases
    (data_cleaning.py:151-157).
    """
    return df.select("*", F.explode(F.col(map_col)).alias(key_alias, value_alias)).drop(map_col)


def dedup_keep_latest(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column]
) -> DataFrame:
    """Keep exactly one row per key: the first under ``order_by``.

    Reference: row_number over (partition by ticker,date order by
    extracted_at desc) then rn==1 (data_cleaning.py:70-72, :174-176).
    ``order_by`` must be a total order within each key group (add a unique
    tiebreaker column) or the result is nondeterministic.

    Scale: one hash shuffle on ``keys`` + in-partition sort; AQE handles
    skewed keys. Prefer this over dropDuplicates when "which row" matters.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_by_subset(df: DataFrame, subset: Sequence[str]) -> DataFrame:
    """Drop duplicates on a column subset, keeping an arbitrary row
    (reference dc:251, dc:310). For deterministic survivor choice use
    dedup_keep_latest."""
    return df.dropDuplicates(list(subset))


def reject_nulls(df: DataFrame, required: Sequence[str]) -> DataFrame:
    """Keep rows where every ``required`` column is non-null
    (reference dc:75-81, :179-184, :254-259, :313-317)."""
    cond = F.lit(True)
    for c in required:
        cond = cond & F.col(c).isNotNull()
    return df.filter(cond)


def filter_invariant(df: DataFrame, predicate: Column) -> DataFrame:
    """Keep rows satisfying a domain invariant, e.g. OHLC sanity
    high>=low & high>=open & ... (reference dc:84-90, :187-191)."""
    return df.filter(predicate)


def with_derived(df: DataFrame, derived: Mapping[str, Column]) -> DataFrame:
    """Add derived columns in one projection (reference dc:93-98: price_range,
    price_change, price_change_pct)."""
    return df.withColumns(dict(derived))


def with_date_parts(df: DataFrame, date_col: str, parts: Sequence[str] = ("year", "month", "day")) -> DataFrame:
    """Add calendar partition columns from a date/timestamp column
    (reference dc:101-103; dayofweek convention pinned: Spark 1=Sunday)."""
    fns = {
        "year": F.year,
        "month": F.month,
        "day": F.dayofmonth,
        "dayofweek": F.dayofweek,
        "quarter": F.quarter,
    }
    return df.withColumns({p: fns[p](F.col(date_col)) for p in parts})


def forward_fill(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    cols: Sequence[str],
    suffix: str = "_filled",
) -> DataFrame:
    """Gap-fill: carry the last non-NULL observation forward within each
    partition (time-series imputation — the standard prep step before
    indicators run over sparse series).

    ``F.last(ignorenulls=True)`` over an unbounded-preceding row frame —
    one shuffle+sort per (partition, order), all columns filled in the
    same window pass. Leading NULLs (no prior observation) stay NULL.
    The order must be total (include unique tiebreakers) for
    deterministic fills when timestamps tie.
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumns(
        {f"{c}{suffix}": F.last(c, ignorenulls=True).over(w) for c in cols}
    )


def minmax_scale(
    df: DataFrame,
    partition_by: Sequence[str],
    cols: Sequence[str],
    suffix: str = "_scaled",
) -> DataFrame:
    """Per-group min-max feature scaling to [0, 1] — the exact-arithmetic
    normalization for ML feature prep (z-score drags in stddev, which is
    accumulation-order-dependent; (v−min)/(max−min) is three IEEE row
    ops on exact extremes, bit-identical cross-engine).

    One window pass per group computes min and max for every column
    (no separate aggregate+join); constant groups (max == min) scale to
    NULL rather than 0/0. Groups shuffle once; no skew beyond group size.
    """
    w = Window.partitionBy(*partition_by)
    out_cols: dict[str, Column] = {}
    for c in cols:
        mn, mx = F.min(c).over(w), F.max(c).over(w)
        out_cols[f"{c}{suffix}"] = F.when(
            mx != mn, (F.col(c) - mn) / (mx - mn)
        )
    return df.withColumns(out_cols)
