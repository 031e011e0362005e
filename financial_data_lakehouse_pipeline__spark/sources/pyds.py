"""Python DataSource API (Spark 4) — a custom pluggable batch source.

The §2.10 source-side surface: where the UDF/UDTF/UDAF trio extends
EXPRESSIONS, the DataSource API extends SCANS — a pure-Python reader
that Spark schedules like any other source (one task per
InputPartition), for systems with no JVM connector (internal REST
services, bespoke binary formats, simulation generators).

This module ships a deterministic synthetic generator
(``synthetic_rows``): rows are a pure function of the row id, so the
same (rows, partitions) options produce identical data on any cluster,
any partitioning — which is what lets the DuckDB oracle reproduce the
scan from ``range()`` arithmetic and the corpus pair it with an exact
twin (corpus/lake.py python_datasource_scan).

Partitioning contract: row ids [0, rows) split into ``partitions``
contiguous chunks (chunk i covers [i*ceil(rows/partitions), ...)); each
chunk is one InputPartition => one Spark task, so the source scales out
exactly like a parquet scan's splits.
"""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

#: Modulus/multiplier for the deterministic value column — small primes
#: so id*37 stays well under 2^63 for any plausible row count.
VALUE_MULT = 37
VALUE_MOD = 997
BUCKETS = 8


def row_for_id(i: int) -> tuple[int, int, int]:
    """The pure row function: (id, bucket, v). Shared by the reader and
    the tests' reference implementation."""
    return i, i % BUCKETS, (i * VALUE_MULT) % VALUE_MOD


class SyntheticRowsDataSource(DataSource):
    """`spark.read.format("synthetic_rows").option("rows", N)
    .option("partitions", P).load()`"""

    @classmethod
    def name(cls) -> str:
        return "synthetic_rows"

    def schema(self) -> str:
        return "id bigint, bucket int, v bigint"

    def reader(self, schema) -> "SyntheticRowsReader":
        return SyntheticRowsReader(
            rows=int(self.options.get("rows", 1000)),
            partitions=int(self.options.get("partitions", 4)),
        )


class _Chunk(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticRowsReader(DataSourceReader):
    def __init__(self, rows: int, partitions: int):
        if rows < 0 or partitions < 1:
            raise ValueError("rows must be >= 0 and partitions >= 1")
        self.rows = rows
        self.n_parts = partitions

    def partitions(self):
        chunk = -(-self.rows // self.n_parts) if self.rows else 1
        return [
            _Chunk(i * chunk, min((i + 1) * chunk, self.rows))
            for i in range(self.n_parts)
        ]

    def read(self, partition: _Chunk):
        for i in range(partition.start, partition.end):
            yield row_for_id(i)


def register(spark) -> None:
    """Idempotently register the source with a SparkSession.

    The source class is pickled by value, so the Python worker that
    instantiates it needs no import path to this package (a driver that
    imports the engine through a ``sys.path`` entry from another working
    directory leaves the worker without one)."""
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(SyntheticRowsDataSource)
