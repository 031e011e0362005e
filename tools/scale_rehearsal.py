"""Scale rehearsal: time named corpus queries at TWO scale factors with
the isolation methodology (fresh session per query, warmup +
median-of-3 — tools/bench_isolate.py) and report each query's scaling
exponent

    alpha = log(t_hi / t_lo) / log(size_ratio)

so alpha ~= 1 is linear, ~2 quadratic, < 1 sublinear (fixed overheads
still dominating). This converts SCALE.md's design claims ("LSH cost
follows collision volume, not n^2") into measurements at 10x the
largest driver-shipped scale (sf1 via tools/gen_sf.py).

``size_ratio`` is per query: the summed parquet-footer row counts of the
tables the query's DuckDB oracle reads, at the high scale over the low.
The scales do not grow every table alike (``documents`` has 500 rows at
both sf0.001 and sf0.01), so a query whose tables did not grow prints
``alpha: null`` with its ratio instead of an exponent; a query whose
tables are unknown (no oracle, or a templated one) prints both null.

Usage:
    python tools/scale_rehearsal.py <sf0.1 dir> <sf1 dir> name...

Prints per-query lines as they finish, then a markdown table + one JSON
line for the record.
"""

from __future__ import annotations

import json
import math
import os
import sys

import duckdb
import pyarrow.parquet as pq

from bench_isolate import isolate

from financial_data_lakehouse_pipeline__spark import corpus
from financial_data_lakehouse_pipeline__spark.sources import TABLES


def oracle_tables(name: str) -> set[str]:
    """The testdata tables query ``name``'s DuckDB oracle reads; empty
    when the query has no oracle or its oracle is a template DuckDB
    cannot parse before the run fills it in (the acid_* queries)."""
    sql = corpus.oracle_sql().get(name)
    try:
        return duckdb.get_table_names(sql) & set(TABLES) if sql else set()
    except duckdb.ParserException:
        return set()


def size_ratio(tables: set[str], lo_dir: str, hi_dir: str) -> float | None:
    """Summed footer row counts of ``tables`` in ``hi_dir`` over
    ``lo_dir``; no Spark, one footer read per table. None without
    tables."""
    if not tables:
        return None

    def rows(sf_dir: str) -> int:
        return sum(
            pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
            for t in tables
        )

    return rows(hi_dir) / rows(lo_dir)


def alpha(t_lo: float, t_hi: float, ratio: float | None) -> float | None:
    """The scaling exponent, or None when the tables did not grow (or
    are unknown)."""
    if ratio is None or ratio <= 1:
        return None
    return round(math.log(t_hi / t_lo) / math.log(ratio), 2)


def _show(x: float | None) -> str:
    return "null" if x is None else f"{x:.3g}"


def main() -> None:
    lo_dir, hi_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    rows = []
    for name in names:
        ratio = size_ratio(oracle_tables(name), lo_dir, hi_dir)
        lo = isolate(name, lo_dir)
        hi = isolate(name, hi_dir)
        a = alpha(lo["median"], hi["median"], ratio)
        rows.append({"query": name, "lo": lo, "hi": hi,
                     "ratio": None if ratio is None else round(ratio, 3),
                     "alpha": a})
        print(
            f"{name}: {lo['median']:.2f}s -> {hi['median']:.2f}s  "
            f"ratio: {_show(ratio)}  alpha: {_show(a)}  "
            f"(spreads {lo['spread']:.2f}/{hi['spread']:.2f})",
            flush=True,
        )
    print("\n| query | t(lo) s | t(hi) s | size ratio | exponent |")
    print("| --- | --- | --- | --- | --- |")
    for r in rows:
        print(f"| {r['query']} | {r['lo']['median']:.2f} | "
              f"{r['hi']['median']:.2f} | {_show(r['ratio'])} | {_show(r['alpha'])} |")
    print(json.dumps({
        "lo_dir": lo_dir, "hi_dir": hi_dir,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "rows": rows,
    }))


if __name__ == "__main__":
    main()
