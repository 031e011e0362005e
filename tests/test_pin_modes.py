"""Pin storage posture: the session-level SPARK_GRAFT_PIN_MODE switch
and the explicit block release for superseded pins
(``materialize.pin`` / ``materialize.release``)."""

from __future__ import annotations

import hashlib
import os
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from financial_data_lakehouse_pipeline__spark import corpus, materialize

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracle import normalize  # noqa: E402

#: Corpus queries whose plans carry reuse pins (LSH, incremental LSH,
#: pagerank, tf-idf, the concurrency sweep, CMS heavy hitters, TPC-H Q11,
#: the model-gated curation funnel).
PIN_QUERIES = (
    "curation_funnel_model_docs",
    "minhash_lsh_pairs_docs",
    "incremental_lsh_dedup_docs",
    "pagerank_copurchase",
    "tfidf_top_terms_docs",
    "session_concurrency",
    "cms_heavy_users",
    "important_stock_q11",
)


@pytest.fixture()
def small_df(spark):
    return spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )


def _plan_name(df) -> str:
    return df._jdf.queryExecution().logical().getClass().getSimpleName()


def test_pin_default_is_local_checkpoint(small_df, monkeypatch):
    monkeypatch.delenv(materialize.PIN_MODE_ENV, raising=False)
    pinned = materialize.pin(small_df)
    # a (lazy) localCheckpoint rewrites the plan to a LogicalRDD leaf
    assert _plan_name(pinned) == "LogicalRDD"
    assert pinned.count() == 100


def test_pin_mode_off_keeps_full_lineage(small_df, monkeypatch):
    monkeypatch.setenv(materialize.PIN_MODE_ENV, "off")
    pinned = materialize.pin(small_df)
    assert pinned is small_df  # the global kill switch: no-op


def test_pin_mode_replicated_persists_with_two_replicas(small_df, monkeypatch):
    monkeypatch.setenv(materialize.PIN_MODE_ENV, "replicated")
    pinned = materialize.pin(small_df)
    # a plan leaf like the local pin, whose checkpoint RDD keeps 2 replicas
    # of every block (MEMORY_AND_DISK_2) — the executor-loss-tolerant
    # variant for corpus-sized pins
    assert _plan_name(pinned) == "LogicalRDD"
    lvl = pinned._jdf.queryExecution().logical().rdd().getStorageLevel()
    assert lvl.replication() == 2
    assert lvl.useMemory() and lvl.useDisk()
    assert pinned.count() == 100
    materialize.release(pinned)


def test_pin_mode_reliable_checkpoints(small_df, monkeypatch, tmp_path):
    spark = small_df.sparkSession
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    monkeypatch.setenv(materialize.PIN_MODE_ENV, "reliable")
    pinned = materialize.pin(small_df)
    assert _plan_name(pinned) == "LogicalRDD"
    assert pinned.count() == 100


def _no_write(*_args, **_kwargs):
    raise AssertionError("the curation funnel opened a DataFrameWriter")


def _row_hash(df) -> str:
    cols = df.columns
    rows = normalize([tuple(r) for r in df.collect()], cols)
    return hashlib.sha256(repr((sorted(cols), rows)).encode()).hexdigest()


def test_pin_modes_produce_identical_results(small_df, sf_dir, monkeypatch, tmp_path):
    """Every pin mode yields the same rows: on a bare frame, and on the
    corpus queries whose plans pin (order-insensitive row hashes). The
    curation funnel keeps its intermediates in pins and opens no
    DataFrameWriter, so it leaves no checkpoint files under ``.scratch/``."""
    small_df.sparkSession.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    expected = sorted(r["k"] for r in small_df.collect())
    queries = corpus.queries()
    hashes: dict[str, dict[str, str]] = {}
    for mode in ("local", "replicated", "reliable", "off"):
        monkeypatch.setenv(materialize.PIN_MODE_ENV, mode)
        got = sorted(r["k"] for r in materialize.pin(small_df).collect())
        assert got == expected, mode
        for name in PIN_QUERIES:
            with monkeypatch.context() as m:
                if name.startswith("curation_funnel"):
                    m.setattr(DataFrameWriter, "__init__", _no_write)
                df = queries[name](small_df.sparkSession, sf_dir)
                hashes.setdefault(name, {})[mode] = _row_hash(df)
    for name, by_mode in hashes.items():
        assert len(set(by_mode.values())) == 1, (name, by_mode)


def _nested_pin_plan_length(spark, mode: str, monkeypatch) -> int:
    """Plan-string length of an aggregate pinned and self-joined 4 levels
    deep, after it has run."""
    monkeypatch.setenv(materialize.PIN_MODE_ENV, mode)
    df = spark.range(64).select((F.col("id") % 8).alias("k"), F.col("id").alias("v"))
    for _ in range(4):
        agg = materialize.pin(df.groupBy("k").agg(F.sum("v").alias("v")))
        df = agg.join(agg.withColumnRenamed("v", "w"), "k").select(
            "k", (F.col("v") + F.col("w")).alias("v")
        )
    assert len(df.collect()) == 8
    return len(df._jdf.queryExecution().toString())


def test_replicated_pins_do_not_grow_the_plan(spark, monkeypatch):
    """A replicated pin is a plan leaf like a local one, so nested pins
    do not print the pinned plans again per reference (a persisted pin's
    cached plan did, growing the string about 4x per level)."""
    local = _nested_pin_plan_length(spark, "local", monkeypatch)
    replicated = _nested_pin_plan_length(spark, "replicated", monkeypatch)
    assert replicated <= 2 * local, (replicated, local)


def test_release_pin_frees_materialized_blocks(small_df, monkeypatch):
    monkeypatch.delenv(materialize.PIN_MODE_ENV, raising=False)
    pinned = materialize.pin(small_df)
    assert pinned.count() == 100  # materialize the lazy checkpoint
    rdd = pinned._jdf.queryExecution().logical().rdd()
    assert rdd.getStorageLevel().useMemory() or rdd.getStorageLevel().useDisk()
    materialize.release(pinned)
    lvl = rdd.getStorageLevel()
    assert not (lvl.useMemory() or lvl.useDisk())


def test_release_pin_is_safe_on_unpinned_frames(small_df):
    # best-effort contract: arbitrary plans (no LogicalRDD) are a no-op
    materialize.release(small_df)
    assert small_df.count() == 100
