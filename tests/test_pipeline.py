"""Golden end-to-end test (SURVEY.md §5.4): the full clean → indicators
→ master → analysis chain on sf0.001, pinning structure and
deterministic aggregate values."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark import materialize, pipeline, session

_OUTPUTS = ("master", "correlation", "forward_returns", "events", "summary")


@pytest.fixture(scope="module")
def results(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipeline_out"))
    return pipeline.run_pipeline(spark, sf_dir, out_dir=out), out


def test_stage_row_conservation(results, spark, sf_dir):
    res, _ = results
    n_clean = res["cleaned"].count()
    assert n_clean > 0
    # indicator stage is row-preserving
    assert res["indicators"].count() == n_clean
    # master is one row per (supplier, day), never more than input rows
    n_master = res["master"].count()
    assert 0 < n_master <= n_clean
    # forward returns row-preserving
    assert res["forward_returns"].count() == n_clean


def test_master_values_deterministic(results):
    """Revenue totals are decimal-exact → identical across runs/plans."""
    res, _ = results
    total = res["master"].agg(
        F.sum(F.col("revenue").cast("decimal(30,6)")).cast("double").alias("t")
    ).collect()[0].t
    total2 = res["master"].agg(
        F.sum(F.col("revenue").cast("decimal(30,6)")).cast("double").alias("t")
    ).collect()[0].t
    assert total == total2 > 0


def test_analysis_outputs_sane(results):
    res, _ = results
    for r in res["correlation"].collect():
        assert r.qty_price_corr is None or -1 <= r.qty_price_corr <= 1
    ev = res["events"].collect()
    assert all(abs(r.signal) >= 20000 and r.n_lines >= 3 for r in ev)
    assert {r.direction for r in ev} <= {"positive", "negative"}
    assert res["summary"].count() == 3  # one row per returnflag


def test_lake_layout_written(results, spark):
    _, out = results
    import os

    years = [d for d in os.listdir(os.path.join(out, "master")) if d.startswith("year=")]
    assert years  # hive-partitioned layout on disk
    back = spark.read.parquet(os.path.join(out, "master"))
    assert back.count() > 0


#: A floating aggregate whose last bits depend on the order rows reach
#: it: without the pin, Catalyst prunes the window sort from the
#: correlation output (it reads no window column), so its input order
#: differs.
_FLOAT_AGGS = {"qty_price_corr"}


def _hashes(res: dict, rounded=_FLOAT_AGGS) -> dict[str, tuple[int, int]]:
    """Row count and order-insensitive hash sum of each output, with the
    ``rounded`` columns rounded to 8 decimals."""
    out = {}
    for k in _OUTPUTS:
        df = res[k]
        cols = [F.round(c, 8) if c in rounded else F.col(c) for c in df.columns]
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        out[k] = (r.n, int(r.h or 0))
    return out


def test_shared_pin_matches_unpinned_outputs(spark, sf_dir, monkeypatch):
    """The five outputs read one shared pin of the indicator columns:
    under ``local`` their plans scan no lineitem (the pin's blocks stand
    in for dedup + windows), and their contents equal the unpinned run
    (bit for bit, except the last bits of the floating aggregates)."""
    monkeypatch.setenv(materialize.PIN_MODE_ENV, "local")
    pinned = pipeline.run_pipeline(spark, sf_dir)
    for k in _OUTPUTS:
        assert not any(
            f.endswith("lineitem.parquet") for f in pinned[k].inputFiles()
        ), k
    assert "LogicalRDD" in pinned["master"]._jdf.queryExecution().optimizedPlan().toString()
    assert pinned["indicators"].inputFiles()  # the full frame stays unpinned
    monkeypatch.setenv(materialize.PIN_MODE_ENV, "off")
    plain = pipeline.run_pipeline(spark, sf_dir)
    assert any(f.endswith("lineitem.parquet") for f in plain["summary"].inputFiles())
    assert _hashes(pinned) == _hashes(plain)


def test_summary_stddev_matches_stddev_samp(results):
    """The summary's exact-moment stddev stays within 1e-9 relative of
    Spark's stddev_samp over the same indicator rows."""
    res, _ = results
    want = {
        r.l_returnflag: r.s
        for r in res["indicators"]
        .groupBy("l_returnflag")
        .agg(F.stddev_samp("net_price").alias("s"))
        .collect()
    }
    got = {r.l_returnflag: r.net_price_stddev for r in res["summary"].collect()}
    assert got.keys() == want.keys()
    for k, s in want.items():
        assert abs(got[k] - s) <= 1e-9 * s, k


def test_outputs_are_hash_equal_across_configs(spark, sf_dir):
    """The five outputs hash the same, bit for bit and with no column
    rounded, under AQE off, one and 3x cpus shuffle partitions, and
    AQE's coalesce floor at Spark's 1 MB default instead of the
    engine's 256 KB. Each conf is set for one whole run, computed by the
    hash, and restored. Every ``read_table`` re-applies the engine's
    ``_RUNTIME_CONF``, so a conf listed there is changed in that dict
    too, or the run would quietly revert it."""
    cpus = spark.sparkContext.defaultParallelism
    configs = {
        "aqe_off": {"spark.sql.adaptive.enabled": "false"},
        "shuffle_1": {"spark.sql.shuffle.partitions": "1"},
        "shuffle_3x": {"spark.sql.shuffle.partitions": str(3 * cpus)},
        "floor_1m": {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m"},
    }
    base = _hashes(pipeline.run_pipeline(spark, sf_dir), rounded=())
    for name, confs in configs.items():
        saved = {k: spark.conf.get(k) for k in confs}
        with pytest.MonkeyPatch.context() as mp:
            try:
                for k, v in confs.items():
                    if k in session._RUNTIME_CONF:
                        mp.setitem(session._RUNTIME_CONF, k, v)
                    spark.conf.set(k, v)
                got = _hashes(pipeline.run_pipeline(spark, sf_dir), rounded=())
            finally:
                for k, v in saved.items():
                    spark.conf.set(k, v)
        assert got == base, name
