"""Pins for the verification and measurement tooling itself — the
checksum comparator check_oracle --checksum leans on (a silent
false-pass there would invalidate every large-scale oracle run), the
measure helpers bench.py and tools/ time and count jobs with, and an
import of every tool."""

from __future__ import annotations

import datetime
import glob
import importlib
import os
import sys

import pyarrow as pa
import pytest

TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)
sys.path.insert(0, TOOLS)

from check_oracle import _canonical_row_hashes  # noqa: E402

from financial_data_lakehouse_pipeline__spark import measure  # noqa: E402


def _h(tbl) -> int:
    return _canonical_row_hashes(tbl)[1]


def test_checksum_order_invariance_and_sensitivity():
    """The per-row content hash must be invariant to row AND column
    order (the driver compare sorts both) but sensitive to a 1-ulp
    float change, NULL vs the string 'NULL', and separator injection."""
    t = pa.table({"a": [1.0, 2.0, None], "b": ["x", "y", None]})
    assert _h(t) == _h(pa.table({"b": ["x", "y", None],
                                 "a": [1.0, 2.0, None]}))
    assert _h(t) == _h(pa.table({"a": [2.0, 1.0, None],
                                 "b": ["y", "x", None]}))
    assert _h(t) != _h(pa.table({"a": [1.0, 2.0000000000000004, None],
                                 "b": ["x", "y", None]}))
    assert _h(t) != _h(pa.table({"a": [1.0, 2.0, None],
                                 "b": ["x", "y", "NULL"]}))
    # a '|'-style separator inside a cell must not alias another row
    assert _h(t) != _h(pa.table({"a": [1.0, 2.0, None],
                                 "b": ["x|y", "y", None]}))


def test_checksum_timestamp_units_and_counts():
    """Identical instants hash identically across arrow timestamp
    units (Spark emits us, DuckDB sometimes ns), microsecond changes
    are detected, and the row count travels with the hash."""
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 120000)
    a = pa.table({"t": pa.array([ts], pa.timestamp("us"))})
    b = pa.table({"t": pa.array([ts], pa.timestamp("ns"))})
    assert _h(a) == _h(b)
    c = pa.table({"t": [ts.replace(microsecond=120001)]})
    assert _h(a) != _h(c)
    n, h = _canonical_row_hashes(pa.table({"x": [1, 2, 3]}))
    assert n == 3 and h != 0
    n0, h0 = _canonical_row_hashes(pa.table({"x": pa.array([], pa.int64())}))
    assert (n0, h0) == (0, 0)


def test_checksum_mixed_types_stable():
    """Ints, decimals, dates, bools, and negative zero all participate;
    -0.0 vs 0.0 stays visible (the driver-compat discipline)."""
    import decimal

    t1 = pa.table({
        "i": [5], "d": [decimal.Decimal("1.50")],
        "dt": [datetime.date(2024, 1, 2)], "b": [True], "f": [-0.0],
    })
    t2 = pa.table({
        "i": [5], "d": [decimal.Decimal("1.50")],
        "dt": [datetime.date(2024, 1, 2)], "b": [True], "f": [0.0],
    })
    assert _h(t1) != _h(t2)
    assert _h(t1) == _h(t1)


def test_estimate_sf_and_oracle_ceiling_registry():
    """The oracle scale ceiling is registry-encoded (no hand-exclusion):
    estimate_sf reads the orders footer (1.5M rows == sf1), and the
    deliberately-quadratic skewed-Jaccard oracle declares max_oracle_sf
    with scale-checkable capped twins that exist in the corpus."""
    from check_oracle import estimate_sf

    from financial_data_lakehouse_pipeline__spark import corpus

    est = estimate_sf("/root/testdata/sf0.01")
    assert est is not None and abs(est - 0.01) < 0.002
    assert estimate_sf("/nonexistent") is None

    ceil = corpus.oracle_ceilings()
    meta = ceil["prefix_jaccard_skewed_docs"]
    assert meta["max_oracle_sf"] == 0.5
    qs = corpus.queries()
    assert meta["capped_twins"] and all(t in qs for t in meta["capped_twins"])


def test_estimate_sf_nested_layout_and_empty_dir(tmp_path):
    """ADVICE r12: a PARTITIONED orders.parquet (key=value subdirs)
    must still be counted — the old top-level listdir saw 0 files,
    reported sf~0, and the quadratic-oracle ceiling silently failed
    open. An empty/unreadable layout is UNKNOWN (None), which the
    decision core maps to 'never skip'."""
    import pyarrow.parquet as pq
    from check_oracle import estimate_sf

    root = tmp_path / "orders.parquet"
    part = root / "o_orderstatus=F"
    part.mkdir(parents=True)
    pq.write_table(
        pa.table({"o_orderkey": list(range(150_000))}),
        part / "part-0.parquet",
    )
    est = estimate_sf(str(tmp_path))
    assert est is not None and abs(est - 0.1) < 1e-9
    # empty directory: rows == 0 -> unknown, never sf~0
    empty = tmp_path / "empty" / "orders.parquet"
    empty.mkdir(parents=True)
    assert estimate_sf(str(tmp_path / "empty")) is None


def test_apply_oracle_ceilings_decision_core():
    """Skip-with-reason engages only above the declared sf; targeted
    runs auto-add the capped twins; unknown scale never skips."""
    from check_oracle import apply_oracle_ceilings

    ceil = {"q_big": {"max_oracle_sf": 0.5, "capped_twins": ("t1", "t2")}}
    # below the ceiling: nothing skipped, `only` untouched
    skips, only = apply_oracle_ceilings(ceil, 0.1, {"q_big"})
    assert skips == {} and only == {"q_big"}
    # above it: skipped, and a targeted run gains the twins
    skips, only = apply_oracle_ceilings(ceil, 1.0, {"q_big"})
    assert set(skips) == {"q_big"} and only == {"q_big", "t1", "t2"}
    # full run (empty only): skipped, only stays falsy (run everything)
    skips, only = apply_oracle_ceilings(ceil, 1.0, set())
    assert set(skips) == {"q_big"} and not only
    # unknown scale: never skip (verification must not silently drop)
    skips, only = apply_oracle_ceilings(ceil, None, {"q_big"})
    assert skips == {} and only == {"q_big"}


def test_timed_warms_up_once_then_takes_the_median_of_three(monkeypatch):
    """One untimed warmup call plus three timed ones; the three
    durations (3 s, 1 s, 2 s) give median 2 and spread 2."""
    ticks = iter([0.0, 3.0, 10.0, 11.0, 20.0, 22.0])
    monkeypatch.setattr(measure.time, "monotonic", lambda: next(ticks))
    calls = []
    t = measure.timed(lambda: calls.append(1))
    assert len(calls) == 4
    assert t == {"median": 2.0, "spread": 2.0, "min": 1.0, "max": 3.0}


def test_jobs_counts_the_group_and_clears_it(spark):
    """Building a DataFrame launches no job, an action inside ``fn``
    launches at least one, and the job group is cleared when ``fn``
    raises."""
    df, n = measure.jobs(
        spark, "measure:build", lambda: spark.range(10).groupBy("id").count()
    )
    assert n == 0
    count, n = measure.jobs(spark, "measure:count", df.count)
    assert count == 10 and n >= 1

    def boom():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        measure.jobs(spark, "measure:raise", boom)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_scale_rehearsal_ratio_is_per_query_from_footers(tmp_path):
    """The size ratio sums footer row counts of the tables each query's
    oracle reads: a table that did not grow gives ratio 1 and no
    exponent, one that grew tenfold gives ratio 10."""
    import pyarrow.parquet as pq

    from scale_rehearsal import alpha, oracle_tables, size_ratio

    for sf, n_docs, n_items in (("lo", 500, 60), ("hi", 500, 600)):
        os.makedirs(tmp_path / sf)
        pq.write_table(
            pa.table({"doc_id": list(range(n_docs))}), tmp_path / sf / "documents.parquet"
        )
        pq.write_table(
            pa.table({"l_orderkey": list(range(n_items))}), tmp_path / sf / "lineitem.parquet"
        )
    lo, hi = str(tmp_path / "lo"), str(tmp_path / "hi")
    docs = oracle_tables("minhash_lsh_pairs_docs")
    assert docs == {"documents"}
    assert size_ratio(docs, lo, hi) == 1.0
    assert alpha(0.5, 0.6, size_ratio(docs, lo, hi)) is None
    assert size_ratio({"lineitem"}, lo, hi) == 10.0
    assert size_ratio({"documents", "lineitem"}, lo, hi) == 1100 / 560
    assert alpha(1.0, 10.0, 10.0) == 1.0
    # no oracle, or a templated oracle DuckDB cannot parse: no ratio
    for name in ("approx_distinct_parts", "acid_merge_upsert"):
        assert oracle_tables(name) == set()
    assert size_ratio(set(), lo, hi) is None and alpha(1.0, 2.0, None) is None


@pytest.mark.parametrize(
    "name",
    sorted(
        os.path.basename(p)[:-3] for p in glob.glob(os.path.join(TOOLS, "*.py"))
    ),
)
def test_tool_imports(name):
    """Every tool imports: their imports of the engine, of measure and
    of each other are resolved without running them."""
    importlib.import_module(name)
