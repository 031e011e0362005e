"""Sources/sinks and catalog: partitioned write round-trip layout, MSCK
partition recovery (S6), and ANALYZE statistics (S9)."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_lakehouse_pipeline__spark.sources import (
    read_parquet,
    write_partitioned_parquet,
)
from financial_data_lakehouse_pipeline__spark.sources.catalog import (
    analyze_table,
    create_external_table,
    repair_table,
)

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def test_partitioned_write_layout_and_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(year=2024, month=m, v=float(m)) for m in (1, 1, 2)]
    )
    path = str(tmp_path / "part")
    write_partitioned_parquet(df, path, ["year", "month"])
    # Hive-style directory keys
    assert os.path.isdir(os.path.join(path, "year=2024", "month=1"))
    back = read_parquet(spark, path)
    assert back.count() == 3
    assert {r.month for r in back.select("month").distinct().collect()} == {1, 2}


def _one_task_frame(spark, n_values):
    """A one-partition frame of ``5 * n_values`` rows over ``n_values``
    values of a ``part`` partition column."""
    return spark.range(0, 5 * n_values, 1, 1).select(
        F.col("id").alias("k"),
        (F.col("id") % n_values).cast("int").alias("part"),
        (F.col("id") * 0.5).alias("v"),
    )


def _write_tasks(spark, group, write):
    """Run ``write`` under job group ``group``; return the tasks of the
    stage that wrote the files: the result stage of its last job."""
    from financial_data_lakehouse_pipeline__spark import measure

    st = spark.sparkContext.statusTracker()
    measure.jobs(spark, group, write)
    job = st.getJobInfo(max(st.getJobIdsForGroup(group)))
    return st.getStageInfo(max(job.stageIds)).numCompletedTasks


def _files_per_leaf(path):
    """Parquet files in each directory that holds any."""
    counts = {}
    for d, _dirs, names in os.walk(path):
        n = sum(name.endswith(".parquet") for name in names)
        if n:
            counts[os.path.relpath(d, path)] = n
    return counts


def _content_hash(df):
    cols = sorted(df.columns)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return r.n, int(r.h or 0)


def test_partitioned_writes_run_one_task_per_core(spark, tmp_path):
    """A one-partition frame with 2x defaultParallelism partition values
    is written by min(defaultParallelism, values) tasks, through the lake
    writer and through a partitioned ACID create, with one file per
    partition directory and every row read back unchanged."""
    from financial_data_lakehouse_pipeline__spark.sources import acid

    target = spark.sparkContext.defaultParallelism
    n_values = 2 * target
    df = _one_task_frame(spark, n_values)
    want = sorted(df.collect())

    lake = str(tmp_path / "lake")
    tasks = _write_tasks(
        spark, "write:lake", lambda: write_partitioned_parquet(df, lake, ["part"])
    )
    assert tasks == min(target, n_values)
    assert _files_per_leaf(lake) == {f"part={i}": 1 for i in range(n_values)}
    assert sorted(read_parquet(spark, lake).select("k", "part", "v").collect()) == want

    root = str(tmp_path / "acid")
    tasks = _write_tasks(
        spark, "write:acid", lambda: acid.create_table(df, root, partition_by=["part"])
    )
    assert tasks == min(target, n_values)
    files = acid.snapshot_files(root)
    assert len(files) == n_values
    assert len({os.path.dirname(f) for f in files}) == n_values
    got = acid.read_snapshot(spark, root).select("k", "part", "v").collect()
    assert sorted(got) == want


def test_partitioned_write_layout_holds_across_configs(spark, tmp_path):
    """The lake writer's layout and content do not depend on the
    session: under AQE off, one shuffle partition and 3x cpus shuffle
    partitions it still writes one file per directory with
    min(defaultParallelism, values) tasks, and the rows read back hash
    the same as under the default confs."""
    target = spark.sparkContext.defaultParallelism
    n_values = 2 * target
    df = _one_task_frame(spark, n_values)
    want = {f"part={i}": 1 for i in range(n_values)}

    def write(name):
        path = str(tmp_path / name)
        tasks = _write_tasks(
            spark, f"write:{name}", lambda: write_partitioned_parquet(df, path, ["part"])
        )
        assert tasks == min(target, n_values), name
        assert _files_per_leaf(path) == want, name
        return _content_hash(read_parquet(spark, path))

    base = write("default")
    assert base[0] == 5 * n_values
    configs = {
        "aqe_off": {"spark.sql.adaptive.enabled": "false"},
        "shuffle_1": {"spark.sql.shuffle.partitions": "1"},
        "shuffle_3x": {"spark.sql.shuffle.partitions": str(3 * target)},
    }
    for name, confs in configs.items():
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            assert write(name) == base, name
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)


def test_external_table_msck_and_analyze(spark, tmp_path):
    """S6/S9: external table over a partitioned layout needs MSCK REPAIR
    to discover partitions (reference hive_schemas.sql:301-306); ANALYZE
    records row-count statistics (hv:312-314)."""
    df = spark.createDataFrame(
        [Row(k="a", day="2024-01-01"), Row(k="b", day="2024-01-02")]
    )
    path = str(tmp_path / "ext")
    write_partitioned_parquet(df, path, ["day"])

    create_external_table(
        spark, "t_ext", path, {"k": "string", "day": "string"}, partitioned_by=["day"]
    )
    try:
        # Before repair the catalog knows no partitions → empty scan.
        assert spark.table("t_ext").count() == 0
        repair_table(spark, "t_ext")
        assert spark.table("t_ext").count() == 2
        analyze_table(spark, "t_ext")
        stats = spark.sql("DESCRIBE TABLE EXTENDED t_ext").collect()
        assert any("Statistics" in r.col_name for r in stats)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ext")


def test_json_explode_paths(spark):
    """P2/S1: array-of-structs and map-of-structs flattening over the
    deterministic fixtures (reference dc:48-61, dc:151-157)."""
    from financial_data_lakehouse_pipeline__spark import corpus

    qs = corpus.queries()
    arr = qs["json_clean_array"](spark, None)
    rows = {(r.ticker, str(r.bar_date)): r for r in arr.collect()}
    # keep-latest dedup: T1 2024-01-02 must carry the 18:00 extraction
    assert rows[("T1", "2024-01-02")].volume == 1100
    # invariant filter drops the high<low bar (T2 first bar)
    assert ("T2", "2024-01-02") not in rows
    m = qs["json_clean_map"](spark, None)
    assert m.count() == 3  # empty map yields no rows for T3
    assert m.filter(F.col("symbol") == "T1").count() == 2


def test_event_ts_normalization_contract(spark, tmp_path):
    """Pin the events.ts physical-encoding contract: whatever parquet
    type the driver testdata ships — int64 nanos, timestamp[ns], or
    timestamp[us] without tz (read as TIMESTAMP_NTZ by Spark 4) —
    read_table must yield session-zoned TimestampType at microsecond
    precision with identical instants (driver dtype drift broke r1 AND
    r2; this test is the regression guard)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from financial_data_lakehouse_pipeline__spark.sources import read_table

    base = datetime.datetime(2024, 3, 1, 12, 0, 0, 123456)
    instants = [base, base + datetime.timedelta(hours=5, microseconds=789)]
    encodings = {
        "us_ntz": pa.timestamp("us"),
        "ns_ntz": pa.timestamp("ns"),
        "int64_nanos": pa.int64(),
    }
    expect = [i.isoformat() for i in instants]
    for label, typ in encodings.items():
        if typ == pa.int64():
            vals = [int(i.timestamp() * 1_000_000) * 1000 for i in instants]
        else:
            vals = instants
        tbl = pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(vals, typ),
            }
        )
        d = tmp_path / label
        d.mkdir()
        pq.write_table(tbl, str(d / "events.parquet"))
        df = read_table(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), label
        got = [
            r.ts.replace(tzinfo=None).isoformat()
            for r in df.orderBy("event_id").collect()
        ]
        assert got == expect, (label, got, expect)


def test_jdbc_sink_roundtrip_embedded_derby(spark, tmp_path):
    """S7 JDBC serving sink, verified against a REAL in-process database:
    Spark bundles Apache Derby (embedded JDBC engine), so write_jdbc can
    append/overwrite an actual table and spark.read.jdbc must get the
    identical rows back — full driver/url/mode/options wiring, no mocks.
    (Reference declares the serving layer in postgresql_schemas.sql but
    never implements the load; this goes one step further.)"""
    from financial_data_lakehouse_pipeline__spark.sources.writers import write_jdbc

    url = f"jdbc:derby:{tmp_path}/servingdb;create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [(1, "alpha", 10.5), (2, "beta", -3.25)], "k int, name string, score double"
    )
    write_jdbc(df, url, "serving_mart", mode="overwrite", **opts)
    # append mode: a second batch lands alongside the first
    write_jdbc(
        spark.createDataFrame([(3, "gamma", 0.0)], "k int, name string, score double"),
        url,
        "serving_mart",
        mode="append",
        **opts,
    )
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "serving_mart")
        .options(**opts)
        .load()
    )
    rows = sorted(tuple(r) for r in back.collect())
    assert rows == [(1, "alpha", 10.5), (2, "beta", -3.25), (3, "gamma", 0.0)]


def test_parquet_column_stats_match_pyarrow(spark, sf_dir):
    """Distributed per-column footer stats equal a direct driver-side
    pyarrow read of the same footers."""
    import os

    import pyarrow.parquet as pq

    from financial_data_lakehouse_pipeline__spark.sources import inspect

    path = os.path.join(sf_dir, "events.parquet")
    got = {
        r.column: (r.compressed_bytes, r.uncompressed_bytes)
        for r in inspect.column_stats(spark, [path]).collect()
    }
    md = pq.ParquetFile(path).metadata
    expect: dict[str, list[int]] = {}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(md.num_columns):
            col = rg.column(c)
            cur = expect.setdefault(col.path_in_schema, [0, 0])
            cur[0] += col.total_compressed_size
            cur[1] += col.total_uncompressed_size
    assert got == {k: tuple(v) for k, v in expect.items()}


def test_csv_orc_roundtrip_preserves_schema_and_values(spark, tmp_path):
    """CSV (typed re-read) and ORC sinks round-trip values AND dtypes:
    the landing-zone / interchange contract. CSV nulls and doubles
    survive because the reader re-declares the schema and Spark writes
    shortest-round-trip decimal strings."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.sources import (
        read_csv,
        read_orc,
        write_csv,
        write_orc,
    )

    df = spark.createDataFrame(
        [
            Row(k="a", n=1, x=0.1 + 0.2, s="hey,comma"),
            Row(k="b", n=None, x=-1.5e-17, s=None),
        ]
    )
    orc_path = str(tmp_path / "orc")
    write_orc(df, orc_path)
    back = read_orc(spark, orc_path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    csv_path = str(tmp_path / "csv")
    write_csv(df, csv_path)
    back = read_csv(spark, csv_path, schema=df.schema)
    assert back.schema == df.schema
    assert sorted(
        map(tuple, back.collect()), key=str
    ) == sorted(map(tuple, df.collect()), key=str)


def test_json_corrupt_record_quarantine(spark, tmp_path):
    """Malformed JSON lines land in the corrupt column verbatim while
    good rows parse — quarantine-and-continue; DROPMALFORMED drops
    them; FAILFAST raises."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from financial_data_lakehouse_pipeline__spark.sources import read_json

    p = str(tmp_path / "feed.json")
    lines = [
        '{"id": 1, "v": 10.5}',
        'this is not json at all',
        '{"id": 3, "v": "not-a-number"}',
        '{"id": 4, "v": 2.0}',
    ]
    with open(p, "w") as fh:
        fh.write("\n".join(lines))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    df = read_json(spark, p, schema=schema, corrupt_col="_bad")
    rows = {r.id: r for r in df.collect() if r.id is not None}
    bad = [r._bad for r in df.collect() if r._bad is not None]
    assert rows[1].v == 10.5 and rows[4].v == 2.0
    assert len(bad) == 2 and "not json at all" in bad[0]

    # DROPMALFORMED drops only non-JSON lines; a JSON-valid row with a
    # type mismatch survives with the bad FIELD nulled (id=3 here)
    dropped = read_json(spark, p, schema=schema, mode="DROPMALFORMED")
    assert dropped.count() == 3

    with _pytest.raises(Exception):
        read_json(spark, p, schema=schema, mode="FAILFAST").collect()

    with _pytest.raises(ValueError):
        read_json(spark, p, corrupt_col="_bad")


def test_morton_code_interleave_known_values(spark):
    """layout.morton_code matches hand-computed Morton codes."""
    from financial_data_lakehouse_pipeline__spark.operators.layout import (
        morton_code,
    )

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (255, 255)], "x long, y long"
    )
    got = [
        r["z"]
        for r in df.select(
            morton_code([F.col("x"), F.col("y")], bits=8).alias("z")
        ).collect()
    ]

    def morton(x, y):
        z = 0
        for j in range(8):
            z |= ((x >> j) & 1) << (2 * j)
            z |= ((y >> j) & 1) << (2 * j + 1)
        return z

    assert got == [morton(x, y) for x, y in [(0, 0), (1, 0), (0, 1), (3, 5), (255, 255)]]


def test_with_ingest_metadata_stamps_provenance(spark, sf_dir):
    """Audit columns: _source literal, _input_file points at the actual
    parquet file, _ingest_ts constant within the run; no shuffle."""
    from financial_data_lakehouse_pipeline__spark import plans
    from financial_data_lakehouse_pipeline__spark.sources.readers import (
        with_ingest_metadata,
    )

    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    out = with_ingest_metadata(df, "tpch-region")
    assert plans.count_exchanges(out) == 0
    rows = out.collect()
    assert all(r["_source"] == "tpch-region" for r in rows)
    assert all("region.parquet" in r["_input_file"] for r in rows)
    assert len({r["_ingest_ts"] for r in rows}) == 1


def test_python_datasource_partitions_and_content(spark):
    """The custom Python DataSource honors the partitions option (one
    task per InputPartition) and produces the exact deterministic rows
    of the shared pure row function, including the ragged last chunk."""
    from financial_data_lakehouse_pipeline__spark.sources import pyds

    pyds.register(spark)
    df = (
        spark.read.format("synthetic_rows")
        .option("rows", 103)
        .option("partitions", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    got = sorted((r["id"], r["bucket"], r["v"]) for r in df.collect())
    assert got == [pyds.row_for_id(i) for i in range(103)]


def test_python_datasource_scan_from_another_working_directory(sf_dir, tmp_path):
    """The corpus query runs when the engine is imported the way
    ``__spark_entry__.py`` loads it: through a ``sys.path`` entry, from a
    working directory outside the checkout, where the Python worker that
    instantiates the source cannot import the package."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "run.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "import __spark_entry__ as e\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master(\"local[1]\")\n"
        "         .config(\"spark.ui.enabled\", \"false\").getOrCreate())\n"
        f"df = e.queries()[\"python_datasource_scan\"](spark, {sf_dir!r})\n"
        "print(sum(r[\"n\"] for r in df.collect()))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "1000"


def test_python_datasource_empty_and_reregister(spark):
    """rows=0 yields an empty frame with the declared schema; a second
    register() call is idempotent."""
    from financial_data_lakehouse_pipeline__spark.sources import pyds

    pyds.register(spark)
    pyds.register(spark)
    df = (
        spark.read.format("synthetic_rows")
        .option("rows", 0)
        .option("partitions", 3)
        .load()
    )
    assert df.columns == ["id", "bucket", "v"]
    assert df.count() == 0


def test_variant_roundtrip_and_nested_paths(spark):
    """VARIANT ingests heterogeneous JSON without a schema: nested
    object/array paths extract typed values, missing paths yield NULL,
    and to_json round-trips the payload."""
    from pyspark.sql import functions as F

    rows = [
        ('{"a": 1, "b": {"c": [10, 20]}}',),
        ('{"a": 2}',),  # no b -> NULL path
    ]
    df = spark.createDataFrame(rows, "j string").select(
        F.parse_json("j").alias("v"), "j"
    )
    got = df.select(
        F.variant_get("v", "$.a", "int").alias("a"),
        F.variant_get("v", "$.b.c[1]", "int").alias("c1"),
        F.to_json("v").alias("back"),
    ).collect()
    by_a = {r["a"]: r for r in got}
    assert by_a[1]["c1"] == 20 and by_a[2]["c1"] is None
    assert '"a":1' in by_a[1]["back"].replace(" ", "")


def _tables(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def test_footer_schema_equals_inferred_for_testdata_tables(spark, sf_dir, tmp_path):
    """The footer-derived schema is exactly Spark's inferred schema for
    every driver table and for a fresh gen_sf directory, and read_table
    still normalizes events.ts to TimestampType."""
    import sys

    from financial_data_lakehouse_pipeline__spark.session import tune_runtime
    from financial_data_lakehouse_pipeline__spark.sources import footer_schema, read_table

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    import gen_sf

    gen = str(tmp_path / "gen")
    gen_sf.generate(0.001, gen, seed=7, ref=sf_dir)
    tune_runtime(spark)
    paths = _tables(sf_dir) + _tables(gen)
    assert len(paths) >= 20
    for p in paths:
        assert footer_schema(p) == spark.read.parquet(p).schema, p
    for d in (sf_dir, gen):
        ts = read_table(spark, d, "events").schema["ts"].dataType
        assert isinstance(ts, T.TimestampType), d


def test_footer_schema_maps_each_type_like_spark(spark, tmp_path):
    """One column of every mapped arrow type, read back by Spark: the
    footer schema equals the inferred one, with NTZ inference on and off."""
    import datetime
    import decimal

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from financial_data_lakehouse_pipeline__spark.session import tune_runtime
    from financial_data_lakehouse_pipeline__spark.sources import footer_schema

    ts = datetime.datetime(2024, 1, 1, 1, 2, 3)
    tbl = pa.table(
        {
            "i8": pa.array([1], pa.int8()),
            "i16": pa.array([1], pa.int16()),
            "i32": pa.array([1], pa.int32()),
            "i64": pa.array([1], pa.int64()),
            "f32": pa.array([1.0], pa.float32()),
            "f64": pa.array([1.0], pa.float64()),
            "flag": pa.array([True]),
            "s": pa.array(["x"]),
            "ls": pa.array(["x"], pa.large_string()),
            "bin": pa.array([b"x"]),
            "d": pa.array([datetime.date(2024, 1, 1)], pa.date32()),
            "dec": pa.array([decimal.Decimal("1.23")], pa.decimal128(10, 2)),
            "ns": pa.array([ts], pa.timestamp("ns")),
            "us_tz": pa.array([ts], pa.timestamp("us", tz="UTC")),
            "us": pa.array([ts], pa.timestamp("us")),
            "vec": pa.array([[1.0, 2.0]], pa.list_(pa.float32())),
            "cat": pa.array(pd.Categorical(["a"])),
        }
    )
    p = str(tmp_path / "types.parquet")
    pq.write_table(tbl, p)
    tune_runtime(spark)
    assert footer_schema(p) == spark.read.parquet(p).schema
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(key, "false")
    try:
        assert footer_schema(p) == spark.read.parquet(p).schema
        assert footer_schema(p)["us"].dataType == T.TimestampType()
    finally:
        spark.conf.unset(key)
    assert footer_schema(p)["us"].dataType == T.TimestampNTZType()


def test_footer_schema_reads_spark_int96_timestamps(spark, tmp_path):
    """Spark's legacy INT96 timestamps (which pyarrow reports as ns) read
    as TimestampType, as Spark infers them."""
    from financial_data_lakehouse_pipeline__spark.sources import footer_schema

    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        out = str(tmp_path / "int96")
        spark.range(2).selectExpr(
            "timestamp'2024-01-01 00:00:00' AS t", "array(timestamp'2024-01-01') AS ts"
        ).coalesce(1).write.parquet(out)
    finally:
        spark.conf.set(key, old)
    (p,) = _tables(out)
    assert footer_schema(p) == spark.read.parquet(p).schema
    assert footer_schema(p)["t"].dataType == T.TimestampType()


def test_footer_schema_rejects_unmapped_types(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from financial_data_lakehouse_pipeline__spark.sources import footer_schema

    p = str(tmp_path / "struct.parquet")
    pq.write_table(pa.table({"id": [1], "nested": pa.array([{"a": 1}])}), p)
    with pytest.raises(TypeError, match="nested"):
        footer_schema(p)


def _floor_with_jobs(spark, df, group):
    """``scan_parallelism_floor(df)`` and the Spark jobs it ran."""
    from financial_data_lakehouse_pipeline__spark import measure
    from financial_data_lakehouse_pipeline__spark.sources import scan_parallelism_floor

    return measure.jobs(spark, group, lambda: scan_parallelism_floor(df))


def _round_robin_root(spark, df) -> bool:
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    part = plan.outputPartitioning()
    return (
        plan.getClass().getSimpleName() == "ShuffleExchangeExec"
        and part.getClass().getSimpleName() == "RoundRobinPartitioning"
        and part.numPartitions() == spark.sparkContext.defaultParallelism
    )


def test_scan_floor_decides_from_the_plan_without_jobs(spark, sf_dir):
    """The floor runs no Spark job: a bare docs scan and its broadcast
    semi-join to a small id table (scan-rooted, one split) get a
    round-robin exchange; an already round-robin frame, and its
    sort-merge join with a scan (hash-partitioned on the shuffle
    partition count), come back as they are."""
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    target = spark.sparkContext.defaultParallelism
    docs = read_table(spark, sf_dir, "documents")
    ids = spark.createDataFrame([(i,) for i in range(0, 200, 7)], "doc_id long")
    semi = docs.join(F.broadcast(ids), "doc_id", "left_semi")
    rr = docs.repartition(target)
    for name, df in (("scan", docs), ("semi", semi)):
        out, jobs = _floor_with_jobs(spark, df, f"floor:{name}")
        assert jobs == 0, name
        assert _round_robin_root(spark, out), name
    smj = rr.join(docs.select("doc_id").hint("merge"), "doc_id")
    for name, df in (("rr", rr), ("smj", smj)):
        out, jobs = _floor_with_jobs(spark, df, f"floor:{name}")
        assert jobs == 0 and out is df, name


def test_scan_floor_counts_the_splits_spark_plans(spark, tmp_path, monkeypatch):
    """The floor's count is the partition count Spark runs the frame
    with (checked here against the RDD view, which the engine never
    reads). A small one-file parquet with 8 row groups is one byte split
    and is floored; a 12 MB one with 8 row groups packs into 3 splits at
    local[4] and is left alone, as is a 3-file dataset. A directory name
    that needs URI escaping, a local relation, a pin in the default and
    the replicated mode (both plan leaves), and a frame that has already
    run (its plan is query stages) count the same way."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from financial_data_lakehouse_pipeline__spark import materialize
    from financial_data_lakehouse_pipeline__spark.sources.readers import (
        _planned_partitions,
    )

    assert spark.sparkContext.defaultParallelism == 4
    small = str(tmp_path / "small.parquet")
    pq.write_table(pa.table({"id": list(range(80))}), small, row_group_size=10)
    big = str(tmp_path / "big.parquet")
    rng = np.random.default_rng(0)
    pq.write_table(
        pa.table({"b": [rng.bytes(1000) for _ in range(12000)]}), big, row_group_size=1500
    )
    assert pq.read_metadata(small).num_row_groups == pq.read_metadata(big).num_row_groups == 8
    three = tmp_path / "three"
    three.mkdir()
    for i in range(3):
        pq.write_table(pa.table({"id": [i]}), str(three / f"part-{i}.parquet"))
    odd = tmp_path / "a b é%"
    odd.mkdir()
    pq.write_table(pa.table({"id": [1, 2]}), str(odd / "part-0.parquet"))
    monkeypatch.setenv(materialize.PIN_MODE_ENV, "replicated")
    replicated = materialize.pin(spark.read.parquet(big))
    monkeypatch.delenv(materialize.PIN_MODE_ENV)
    frames = {
        "small": (spark.read.parquet(small), 1),
        "big": (spark.read.parquet(big), 3),
        "three": (spark.read.parquet(str(three)), 3),
        "odd": (spark.read.parquet(str(odd)), 1),
        "local": (spark.createDataFrame([(i,) for i in range(8)], "a int"), 4),
        "pin": (materialize.pin(spark.read.parquet(big)), 3),
        "replicated": (replicated, 3),
        "ran": (
            spark.read.parquet(big)
            .withColumn("id", F.length("b"))
            .join(F.broadcast(spark.read.parquet(str(three))), "id", "left_anti"),
            3,
        ),
    }
    frames["ran"][0].collect()
    try:
        for name, (df, n) in frames.items():
            out, jobs = _floor_with_jobs(spark, df, f"floor:{name}")
            assert jobs == 0, name
            planned = _planned_partitions(df._jdf.queryExecution().executedPlan())
            assert planned == n == df.rdd.getNumPartitions(), name
            if n * 2 <= 4:
                assert _round_robin_root(spark, out), name
            else:
                assert out is df, name
    finally:
        materialize.release(replicated)


def test_scan_floor_passes_streaming_frames_through(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from financial_data_lakehouse_pipeline__spark.sources import footer_schema

    src = tmp_path / "stream"
    src.mkdir()
    pq.write_table(pa.table({"id": [1, 2]}), str(src / "part-0.parquet"))
    df = spark.readStream.schema(footer_schema(str(src / "part-0.parquet"))).parquet(str(src))
    out, jobs = _floor_with_jobs(spark, df, "floor:stream")
    assert jobs == 0 and out is df
