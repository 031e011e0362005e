"""Sinks: partitioned / plain parquet writers (SURVEY.md §2.1 S3-S4, S7).

The reference writes hive-partitioned snappy parquet everywhere
(data_cleaning.py:127,206,266,333; data_transformation.py:134,...). We keep
the same layout contract — `partitionBy` columns become directory keys, so
downstream readers get static + dynamic partition pruning for free — and
rely on spark.sql.sources.partitionOverwriteMode=dynamic for idempotent
daily re-runs (reference spark-defaults.conf:99).

`write_partitioned_parquet` hashes rows on the partition columns into
the session's default parallelism before writing. Each partition value
lands in one task, so each directory gets one file (at 100 TB the
failure mode to avoid is millions of tiny files), and the directories
are written by every core at once instead of one after another.
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

    Rows are hash-partitioned on the partition columns into
    ``defaultParallelism`` tasks before the write: one shuffle, after
    which each partition value's rows sit in one task, so each
    directory gets exactly one file. The count is explicit because the
    write costs per file, not per byte: AQE would coalesce a
    count-less repartition of a small frame into one task that writes
    every directory in turn. At scale the count is the core count, the
    same as ``spark.sql.shuffle.partitions`` under ``build_session``,
    so a large output keeps one task per partition value.
    """
    if not partition_cols:
        df.write.mode(mode).parquet(path)
        return
    n = df.sparkSession.sparkContext.defaultParallelism
    out = df.repartition(n, *partition_cols)
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


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

