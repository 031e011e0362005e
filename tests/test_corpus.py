"""Corpus-wide differential test at sf0.001: every query with an oracle
must match DuckDB on row-count + column names + value multiset — the
fast local twin of the driver's sf0.01 CORRECTNESS gate."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracle import normalize, type_mismatches  # noqa: E402

from financial_data_lakehouse_pipeline__spark import corpus  # noqa: E402
from financial_data_lakehouse_pipeline__spark.sources import TABLES  # noqa: E402

_QUERIES = corpus.queries()
_ORACLES = corpus.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


def test_every_oracle_has_a_query():
    assert set(_ORACLES) <= set(_QUERIES)


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    df = _QUERIES[name](spark, sf_dir)
    s_cols = df.columns
    s_rows = [tuple(r) for r in df.collect()]
    cur = duck.execute(_ORACLES[name])
    d_cols = [d[0] for d in cur.description]
    d_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert normalize(s_rows, s_cols) == normalize(d_rows, d_cols)


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_queries_run(name, spark, sf_dir):
    df = _QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_oracle_result_types_match(spark, sf_dir, duck):
    """The driver hashes results WITH Arrow types, so a DuckDB HUGEINT
    (decimal128) SUM vs a Spark BIGINT is a mismatch even when every
    value agrees. Sweep every oracle: Spark plan schema vs DuckDB
    DESCRIBE (bind-only, no execution) under coarse type classes."""
    failures = []
    for name in sorted(_ORACLES):
        try:
            df = _QUERIES[name](spark, sf_dir)
            tm = type_mismatches(df, duck, _ORACLES[name])
        except Exception as e:  # noqa: BLE001 - collecting all failures
            failures.append(f"{name}: ERROR {str(e).splitlines()[0][:120]}")
            continue
        if tm:
            failures.append(f"{name}: {tm}")
    assert not failures, failures


def test_user_active_time_duplicate_ts_ties(spark, tmp_path):
    """Pin the duplicate-(user_id, ts) tie case: the gid running sum must
    use the same (s, event_id) total order as the new_g flags, or a
    gap-opening interval's duplicate can be absorbed into the previous
    island and bridge a real gap (inflating active_seconds 3600 → 7400
    here). Asserts the exact merged-interval answer on both engines."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    t1 = t0 + datetime.timedelta(seconds=4000)  # > 1800s gap
    rows = {
        "event_id": [1, 2, 3],
        "ts": [t0, t1, t1],  # duplicate (user_id, ts) at the gap opener
        "user_id": [1, 1, 1],
        "event_type": ["click"] * 3,
        "value": [1.0, 2.0, 3.0],
        "props": ["{}"] * 3,
    }
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    dst = str(tmp_path / "sf_ties")
    os.makedirs(dst)
    pq.write_table(pa.table(rows, schema=schema), os.path.join(dst, "events.parquet"))

    [r] = _QUERIES["user_active_time"](spark, dst).collect()
    assert (r["user_id"], r["n_active_spans"], r["active_seconds"]) == (1, 2, 3600)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{os.path.join(dst, 'events.parquet')}'"
    )
    [d] = con.execute(_ORACLES["user_active_time"]).fetchall()
    con.close()
    assert d == (1, 2, 3600)


def test_every_query_handles_empty_input(spark, tmp_path):
    """Robustness sweep: all corpus queries must run (not crash) on
    zero-row tables with the production schemas — guards window/agg/
    join/explode edge cases on empty partitions."""
    import os

    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "sf_empty")
    os.makedirs(dst)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            schema = pq.read_schema(os.path.join(src, f))
            pq.write_table(schema.empty_table(), os.path.join(dst, f))

    failures = []
    for name, fn in sorted(corpus.queries().items()):
        try:
            fn(spark, dst).count()
        except Exception as e:  # noqa: BLE001 - collecting all failures
            failures.append(f"{name}: {str(e).splitlines()[0][:120]}")
    assert not failures, failures


@pytest.mark.parametrize(
    "name",
    [
        "grouped_stats_q1",
        "regional_revenue_q5",
        "sessionize_users",
        "bloom_anti_join_customers",
    ],
)
def test_pure_query_build_launches_no_spark_job(name, spark, sf_dir):
    """Building a pure query (no pin, no driver loop) runs no Spark job:
    every table schema comes from the parquet footer, not inference.
    Jobs are counted per job group after draining the listener bus, as
    tools/job_count.py does, so a job whose start event is still queued
    is not missed."""
    sc = spark.sparkContext
    group = f"build:{name}"
    sc.setJobGroup(group, group)
    try:
        _QUERIES[name](spark, sf_dir)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
