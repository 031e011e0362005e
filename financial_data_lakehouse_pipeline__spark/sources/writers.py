"""Sinks: partitioned / plain parquet writers (SURVEY.md §2.1 S3-S4, S7).

The reference writes hive-partitioned snappy parquet everywhere
(data_cleaning.py:127,206,266,333; data_transformation.py:134,...). We keep
the same layout contract — `partitionBy` columns become directory keys, so
downstream readers get static + dynamic partition pruning for free — and
rely on spark.sql.sources.partitionOverwriteMode=dynamic for idempotent
daily re-runs (reference spark-defaults.conf:99).

At 100 TB the failure mode to avoid is millions of tiny output files:
`write_partitioned_parquet` repartitions by the partition columns first
so each dynamic partition is written by few tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Unpartitioned parquet sink (reference sentiment_analysis.py:103-104)."""
    df.write.mode(mode).parquet(path)


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet sink (reference data_cleaning.py:127).

    Rows are first repartitioned by the partition columns to co-locate
    each output partition, trading one shuffle for small-file avoidance
    (AQE coalescing then sizes the shuffle output).
    """
    out = df.repartition(*partition_cols) if partition_cols else df
    writer = out.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) parquet table — the co-located-join
    layout: two tables bucketed on the same key with the same bucket
    count join WITHOUT a shuffle (asserted in tests/test_plans.py).

    At 100 TB this is the difference between re-shuffling the fact table
    on every join and a shuffle-free sort-merge over pre-clustered files.
    Bucketed writes must go through the catalog (saveAsTable) — parquet
    path writes cannot carry bucket metadata.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(name)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — columnar interchange for ORC-native downstream stacks
    (Hive/Trino); same layout guidance as write_parquet."""
    df.write.mode(mode).orc(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    sep: str = ",",
) -> None:
    """CSV sink — serving-layer exports for spreadsheet/legacy consumers
    only: no column statistics, no pushdown, strings all the way down.
    Types must be re-declared on read (read_csv(schema=...))."""
    df.write.mode(mode).option("header", str(header).lower()).option(
        "sep", sep
    ).csv(path)


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options) -> None:
    """JDBC serving-layer sink (reference declares but never implements it:
    SURVEY.md §2.1 S7; postgresql_schemas.sql targets, config.py:80-82)."""
    df.write.mode(mode).options(**options).jdbc(url, table)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 16,
    target_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet sink: rows are range-partitioned and
    sorted by a Morton (bit-interleaved) key over ``zorder_cols``, so
    each output file covers a small hyper-rectangle of the key space and
    its parquet footer min/max stats prune multi-column range predicates
    — the Delta ``OPTIMIZE ZORDER BY`` layout, built from pure Spark
    primitives (functions.zorder_key + repartitionByRange + sortWithin-
    Partitions; no UDF, one range shuffle).

    Why not just sortBy(col_a, col_b)? A lexicographic sort clusters only
    the leading column — files span the full range of every other
    dimension, so predicates on col_b alone prune nothing. The z-curve
    interleaves all dimensions, so every file is narrow in ALL of them
    (verified against real footer stats in tests/test_sources.py).

    Each dimension is min-max quantized onto 2^bits cells with exact
    integer arithmetic (layout.quantize_minmax); the per-column maxima
    come from one tiny agg broadcast onto every row. Clustering itself
    is layout.zorder_by (morton_code + repartitionByRange + in-partition
    sort).
    """
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.operators import layout

    bounds = df.agg(
        *[F.max(F.col(c)).alias(f"__max_{c}") for c in zorder_cols],
        *[F.min(F.col(c)).alias(f"__min_{c}") for c in zorder_cols],
    )
    cells = [
        layout.quantize_minmax(
            F.col(c), F.col(f"__max_{c}"), bits, min_col=F.col(f"__min_{c}")
        )
        for c in zorder_cols
    ]
    drop = [f"__max_{c}" for c in zorder_cols] + [f"__min_{c}" for c in zorder_cols]
    (
        layout.zorder_by(
            df.crossJoin(F.broadcast(bounds)),
            cells,
            bits=bits,
            num_partitions=target_files,
        )
        .drop("__zorder", *drop)
        .write.mode(mode)
        .parquet(path)
    )
