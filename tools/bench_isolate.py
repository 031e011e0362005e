"""Isolation timings: run named corpus queries EACH IN A FRESH
SparkSession (measure.timed: warmup + median-of-3, the bench.py
methodology) so a per-query number carries no shared-session state —
the re-measure for round-over-round drift on the shared box (r7/r8
phantom regressions).

Usage:
    python tools/bench_isolate.py [sf_dir] name1 name2 ...

Prints one JSON line: {"sf_dir": ..., "loadavg": [...],
"queries": {name: {"median": s, "spread": s}}}.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from financial_data_lakehouse_pipeline__spark import corpus, measure  # noqa: E402
from financial_data_lakehouse_pipeline__spark.session import build_session  # noqa: E402


def isolate(name: str, sf_dir: str) -> dict[str, float]:
    """Median and spread of corpus query ``name`` at ``sf_dir``, timed
    in a session of its own."""
    spark = build_session(f"isolate-{name}")
    try:
        fn = corpus.queries()[name]
        t = measure.timed(lambda: measure.noop(fn(spark, sf_dir)))
    finally:
        spark.stop()
    return {"median": t["median"], "spread": t["spread"]}


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    if not args:
        print("usage: bench_isolate.py [sf_dir] name...", file=sys.stderr)
        raise SystemExit(1)
    out = {name: isolate(name, sf_dir) for name in args}
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "loadavg": [round(x, 2) for x in os.getloadavg()],
                "queries": out,
            }
        )
    )


if __name__ == "__main__":
    main()
