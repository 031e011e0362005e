"""End-to-end pipeline: the reference's three Spark jobs re-expressed as
one composable chain of engine operators over the driver testdata.

Stage map (reference → here):
  data_cleaning.py:33-134      → clean_stage      (dedup, invariants, derived)
  data_transformation.py:46-241 → transform_stage (full-outer merge, rolling
                                   indicators, lag momentum)
  data_transformation.py:327-402 → master join    (grouped base ⟕ dims,
                                   calendar flags)
  sentiment_analysis.py:40-359  → analysis_stage  (corr, forward returns,
                                   event detection, summary)

A user of the reference runs three spark-submit jobs writing parquet
between stages; here each stage is a DataFrame-in/DataFrame-out function,
so Catalyst optimizes across stage boundaries and no post-write count()
re-executes a stage (the reference anti-pattern SURVEY.md §4 flags).
Pass ``out_dir`` to write the per-stage parquet the reference layout
produces.

One boundary is materialized on purpose. The master join and the four
analysis outputs all read the indicator table, and without a pin each of
them re-runs the dedup shuffle and the window chain. ``run_pipeline``
therefore wraps ONE ``materialize.pin`` around the indicator columns those
five outputs read (:data:`_SHARED`): the first action (the lake write, or
the first output forced) computes it and the rest read its blocks. The
projection is narrow on purpose: Catalyst prunes the SMA, Bollinger and
``relative_qty`` windows nobody downstream reads from the pinned plan, so
the pin computes less and holds fewer bytes than a pin of the whole
frame. ``results["indicators"]`` stays the full, unpinned frame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark import materialize
from financial_data_lakehouse_pipeline__spark.functions import dmean, dsum, safe_corr
from financial_data_lakehouse_pipeline__spark.operators import analysis, cleaning, joins, windows
from financial_data_lakehouse_pipeline__spark.sources import (
    read_table,
    write_partitioned_parquet,
)

_ORDER = ["l_shipdate", "l_orderkey", "l_linenumber"]

#: The indicator columns ``master_stage`` and ``analysis_stage`` read.
_SHARED = [
    "l_suppkey",
    "l_orderkey",
    "l_linenumber",
    "l_shipdate",
    "ship_date",
    "net_price",
    "momentum_1",
    "l_quantity",
    "l_returnflag",
]


def clean_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning (reference dc:33-134): null rejection, domain invariants,
    keep-latest dedup per (supplier, line), derived price columns."""
    li = read_table(spark, sf_dir, "lineitem")
    li = cleaning.reject_nulls(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]
    )
    li = cleaning.filter_invariant(
        li,
        (F.col("l_quantity") > 0)
        & (F.col("l_extendedprice") >= 0)
        & (F.col("l_discount").between(0, 1)),
    )
    li = cleaning.dedup_keep_latest(
        li,
        ["l_orderkey", "l_linenumber"],
        [F.col("l_shipdate").desc(), F.col("l_suppkey")],
    )
    return cleaning.with_derived(
        li,
        {
            "net_price": F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "ship_date": F.col("l_shipdate").cast("date"),
        },
    )


def transform_stage(cleaned: DataFrame) -> DataFrame:
    """Transformation (reference dt:143-241): the rolling-indicator
    showcase — SMA-7/20, Bollinger bands, EMA, momentum — all sharing one
    (supplier, time) window spec so the plan has ONE shuffle+sort."""
    out = windows.rolling_agg(
        cleaned,
        ["l_suppkey"],
        _ORDER,
        {
            "sma_7": (F.avg("net_price"), 7),
            "sma_20": (F.avg("net_price"), 20),
        },
    )
    out = windows.bollinger_bands(out, ["l_suppkey"], _ORDER, "net_price", n=20)
    out = windows.momentum(out, ["l_suppkey"], _ORDER, "net_price", [1, 5])
    out = windows.relative_to_rolling(
        out, ["l_suppkey"], _ORDER, "l_quantity", 20, "relative_qty"
    )
    return out


def master_stage(spark: SparkSession, sf_dir: str, indicators: DataFrame) -> DataFrame:
    """Master join (reference dt:327-402): per-(supplier, day) rollup of
    the indicator table, broadcast-enriched with supplier/nation dims,
    calendar + flag columns."""
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    base = indicators.groupBy("l_suppkey", "ship_date").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(F.col("net_price")).alias("revenue"),
        dmean(F.col("momentum_1")).alias("avg_momentum_1"),
    )
    e = joins.enrich(base, s, base.l_suppkey == s.s_suppkey)
    e = joins.enrich(e, n, e.s_nationkey == n.n_nationkey)
    return e.select(
        "l_suppkey",
        "ship_date",
        "n_lines",
        "revenue",
        "avg_momentum_1",
        "s_name",
        F.col("n_name").alias("nation"),
        F.dayofweek("ship_date").cast("int").alias("day_of_week"),
        F.when(F.col("revenue") > 50000, 1).otherwise(0).alias("is_high_revenue"),
    )


def analysis_stage(indicators: DataFrame) -> dict[str, DataFrame]:
    """Analysis (reference sa:40-359): correlation, forward returns,
    threshold event detection, summary statistics."""
    corr = indicators.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        safe_corr(F.col("l_quantity"), F.col("net_price")).alias("qty_price_corr"),
    )
    fwd = windows.forward_returns(
        indicators, ["l_suppkey"], _ORDER, "net_price", [1, 5]
    ).select("l_suppkey", "l_orderkey", "l_linenumber", "fwd_return_1", "fwd_return_5")
    daily = indicators.groupBy("l_suppkey", "ship_date").agg(
        F.count(F.lit(1)).alias("n_lines"),
        (dmean(F.col("net_price")) - F.lit(30000.0)).alias("signal"),
    )
    events = analysis.detect_events(
        daily,
        "signal",
        20000.0,
        "n_lines",
        3,
        classify={
            "direction": F.when(F.col("signal") > 0, "positive").otherwise("negative")
        },
    )
    summary = analysis.summary_stats(indicators, ["l_returnflag"], ["net_price"])
    return {"correlation": corr, "forward_returns": fwd, "events": events, "summary": summary}


def run_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> dict[str, DataFrame]:
    """The full clean → indicators → master → analysis chain. With
    ``out_dir`` each stage also writes hive-partitioned parquet (the
    reference's lake layout, partitioned by ship year/month).

    The master and analysis outputs share one pin of the indicator
    columns they read (see the module docstring)."""
    cleaned = clean_stage(spark, sf_dir)
    indicators = transform_stage(cleaned)
    shared = materialize.pin(indicators.select(*_SHARED))
    master = master_stage(spark, sf_dir, shared)
    results = {"cleaned": cleaned, "indicators": indicators, "master": master}
    results.update(analysis_stage(shared))
    if out_dir:
        staged = master.withColumns(
            {"year": F.year("ship_date"), "month": F.month("ship_date")}
        )
        write_partitioned_parquet(
            staged, os.path.join(out_dir, "master"), ["year", "month"]
        )
    return results
