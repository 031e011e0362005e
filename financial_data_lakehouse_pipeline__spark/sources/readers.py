"""Sources: parquet/JSON scans (SURVEY.md §2.1 S1-S2).

`read_table` is the canonical entry for the driver testdata: it normalizes
physical quirks (the `events` table's TIMESTAMP(NANOS) column) so operators
downstream always see clean logical types. Filters/projections applied by
callers still push down to the parquet scan — normalization is a column
rewrite, not a materialization. Its schema comes from the file footer on
the driver (`footer_schema`), so building a read runs no Spark job.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_lakehouse_pipeline__spark.session import tune_runtime

#: Tables the driver generates at each scale factor (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Plain parquet scan (reference data_transformation.py:51-52)."""
    tune_runtime(spark)
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan. Same columnar pushdown/pruning contract as parquet
    (predicate pushdown, column pruning, vectorized read are all native
    Spark) — the interchange format choice is a config concern, not an
    engine one."""
    tune_runtime(spark)
    return spark.read.orc(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV scan with an explicit schema (the production contract —
    inference costs an extra pass AND silently widens types; the
    landing-zone pattern is CSV in, typed columnar out, see
    write_parquet). Pushdown note: CSV supports column pruning but not
    predicate pushdown to the scan — another reason it is a landing
    format, never the query format.
    """
    tune_runtime(spark)
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """JSON scan, schema-on-read (reference data_cleaning.py:45).

    Pass an explicit ``schema`` in production — inference costs an extra
    pass over the files and is input-dependent (SURVEY.md §1.2).

    Malformed-record contract (real feeds always contain some):
    ``mode="PERMISSIVE"`` (default) nulls unparseable fields;
    additionally pass ``corrupt_col`` to capture each bad line verbatim
    in that column (quarantine-and-continue — the landing-zone pattern:
    filter the corrupt rows to a reject sink, ingest the rest).
    ``mode="DROPMALFORMED"`` silently drops bad lines;
    ``mode="FAILFAST"`` raises on the first one. With ``corrupt_col``
    an explicit ``schema`` is required (Spark's contract: the corrupt
    column must be declared in it — this helper appends it for you).
    """
    tune_runtime(spark)
    reader = spark.read.option("mode", mode)
    if corrupt_col is not None:
        if schema is None:
            raise ValueError("corrupt_col requires an explicit schema")
        schema = T.StructType(
            [*schema.fields, T.StructField(corrupt_col, T.StringType(), True)]
        )
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-zoned ``TimestampType``
    (microseconds) regardless of the physical parquet encoding.

    The driver testdata has shipped ``events.ts`` under three different
    physical types across rounds, so this contract is pinned here (and
    property-tested in tests/test_sources.py):

    - ``int64`` TIMESTAMP(NANOS) read as a nanosecond LONG under
      ``spark.sql.legacy.parquet.nanosAsLong`` → integer-divide to micros
      (same truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP).
    - ``timestamp[us]`` without tz metadata, which Spark 4 reads as
      ``TIMESTAMP_NTZ`` → cast to TimestampType. The session timezone is
      pinned UTC (session.py), so the wall-clock value maps to the
      identical instant and oracle hashes are unchanged.
    - already ``TimestampType`` → pass through.

    Works on batch and streaming DataFrames alike (pure column rewrite).
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast(T.TimestampType()))
    return df


_SCALARS = {
    pa.int8(): T.ByteType(),
    pa.int16(): T.ShortType(),
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.bool_(): T.BooleanType(),
    pa.string(): T.StringType(),
    pa.large_string(): T.StringType(),
    pa.binary(): T.BinaryType(),
    pa.date32(): T.DateType(),
}


def _spark_type(name: str, t: pa.DataType, ntz: bool, int96: bool) -> T.DataType:
    """One arrow type as Spark's parquet converter reads it."""
    if pa.types.is_dictionary(t):
        return _spark_type(name, t.value_type, ntz, int96)
    if pa.types.is_list(t):
        return T.ArrayType(_spark_type(name, t.value_type, ntz, int96), True)
    if pa.types.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_timestamp(t):
        if int96:  # legacy INT96, which pyarrow reports as timestamp[ns]
            return T.TimestampType()
        if t.unit == "ns":  # tune_runtime sets nanosAsLong
            return T.LongType()
        if t.tz is None and ntz:
            return T.TimestampNTZType()
        return T.TimestampType()
    if t not in _SCALARS:
        raise TypeError(f"footer_schema: column {name!r} has unmapped parquet type {t}")
    return _SCALARS[t]


def footer_schema(path: str) -> T.StructType:
    """The Spark schema of one parquet file, read from its footer on the
    driver with pyarrow (about 1 ms, no Spark job — inference runs one).

    Types map the way Spark's parquet converter maps them under the
    engine's session confs: TIMESTAMP(NANOS) is a LONG (nanosAsLong),
    legacy INT96 is a TIMESTAMP, a tz-naive timestamp is TIMESTAMP_NTZ
    unless the active session sets
    ``spark.sql.parquet.inferTimestampNTZ.enabled=false``, dictionary
    columns read as their value type, and every field is nullable. A type
    with no mapping raises ``TypeError``; there is no fallback to
    inference. Nothing is cached: each call re-reads the footer.
    """
    spark = SparkSession.getActiveSession()
    ntz = spark is None or (
        spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true").lower()
        != "false"
    )
    with pq.ParquetFile(path) as footer:
        leaves, fields = footer.schema, footer.schema_arrow
    int96 = {c.path.split(".")[0] for c in leaves if c.physical_type == "INT96"}
    return T.StructType(
        [
            T.StructField(f.name, _spark_type(f.name, f.type, ntz, f.name in int96), True)
            for f in fields
        ]
    )


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table with normalized logical types.

    The schema comes from the parquet footer (``footer_schema``), not
    from Spark's inference, so the read runs no Spark job at build time.

    events.ts physical encoding has drifted across driver rounds (nanos
    LONG, then timestamp[us]/NTZ); ``normalize_event_ts`` maps every
    variant to session-zoned TimestampType micros so operators downstream
    always see one logical type.
    """
    tune_runtime(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(footer_schema(path)).parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def scan_parallelism_floor(df: DataFrame) -> DataFrame:
    """Raise an under-split input's partition count to the session's
    default parallelism before per-row-HEAVY map work (regex tokenize,
    per-shingle md5, quality screens).

    A parquet file splits at ROW-GROUP granularity, and the driver
    testdata (like any small compacted lake table) is one file with one
    row group per table — so the whole scan is ONE task and everything
    up to the first exchange runs on one core no matter how many the
    session has (guide §6: input split size bounds scan parallelism;
    round 14 measured the docs-family tokenize stages single-task at
    every SF, e.g. word_shingles 0.55 s → 0.32 s at sf0.1 and the whole
    sf1 heavy family faster on 8 cores than 32 because the serial scan
    stage dominated). The round-robin repartition costs one shuffle of
    the raw rows, which only pays when downstream per-row work
    dominates the row bytes — callers are the tokenize/hash-heavy text
    operators, nothing else.

    Deciding runs no Spark job: ``n`` is read from the physical plan
    Spark has already built for the frame. Under AQE that is the
    adaptive node's current plan, which until the frame runs is its
    initial plan with every exchange placed. A node whose output
    partitioning has a count (an exchange, an explicit repartition, a
    join above them) gives that count. Otherwise (a scan and the narrow
    operators over it) ``n`` is the sum over its children, skipping the
    broadcast side of a join, down to the source leaves, whose planned
    input RDDs give Spark's own split count: the file scan's packing of
    files into ``maxSplitBytes`` partitions, a pin's RDD, a local
    relation's slices. A cached (replicated) pin counts through its
    cached plan, a frame that has already run through its query
    stages. Any other leaf (none in the engine's plans) counts as one
    unsplit input, so the worst a new leaf kind costs is one
    round-robin shuffle, never an error. A streaming frame passes
    through untouched.

    Scale posture: the floor only engages when the scan is under-split
    by 2x or more versus the session's core count, so real lake inputs
    (thousands of splits) pass through untouched — no added corpus
    shuffle at 100 TB; it self-tunes to SPARK_GRAFT_CPUS locally and to
    the executor fleet on a cluster.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if _planned_partitions(df._jdf.queryExecution().executedPlan()) * 2 > target:
        return df
    return df.repartition(target)


#: Source leaves whose ``inputRDDs()`` are the RDDs Spark will scan.
_SOURCE_SCANS = frozenset(
    ("FileSourceScanExec", "BatchScanExec", "RDDScanExec", "LocalTableScanExec", "RangeExec")
)


def _planned_partitions(plan) -> int:
    """The partition count a physical plan will run with, read from the
    plan and its leaves' planned RDDs (no job runs)."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _planned_partitions(plan.executedPlan())
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    if name.endswith("QueryStageExec"):  # a frame that has already run
        return _planned_partitions(plan.plan())
    if name == "InMemoryTableScanExec":
        return _planned_partitions(plan.relation().cachedPlan())
    kids = plan.children()
    kids = [kids.apply(i) for i in range(kids.length())]
    kids = [
        k
        for k in kids
        if k.outputPartitioning().getClass().getSimpleName() != "BroadcastPartitioning"
    ]
    if kids:
        return sum(_planned_partitions(k) for k in kids)
    if name not in _SOURCE_SCANS:
        return 1  # an unknown leaf: one unsplit input
    rdds = plan.inputRDDs()
    return sum(rdds.apply(i).getNumPartitions() for i in range(rdds.length()))


def with_ingest_metadata(df: DataFrame, source: str) -> DataFrame:
    """Stamp lake-ingest audit columns — the provenance contract every
    multi-source lake needs for debugging, replay, and per-file
    quarantine (the reference carries the same idea as its partitioned
    year=/month= layout plus job-level logging; here it is row-level):

    - ``_source``   — logical source name (the extractor/feed id)
    - ``_input_file`` — physical file the row came from
      (``input_file_name()`` — populated during the scan, constant-cost)
    - ``_ingest_ts``  — processing-time stamp (``current_timestamp()``,
      one value per query execution, NOT per row — deterministic within
      a run)

    Pure metadata projection: no shuffle, no UDF; columns prefixed with
    ``_`` so they sort apart from data columns and are easy to drop
    before serving."""
    return df.withColumns(
        {
            "_source": F.lit(source),
            "_input_file": F.input_file_name(),
            "_ingest_ts": F.current_timestamp(),
        }
    )
