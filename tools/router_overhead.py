"""Measure the dedup router's pre-pass overhead (VERDICT r11 item #3):
dedup_route claims "no asymptotic work" — the collision-mass statistic
rides the same shingle-df aggregation the prefix path needs anyway,
plus one 1-row collect and one count. This times the pre-pass ALONE
(warm median-of-3, fresh session per corpus) so SCALE.md §18 can carry
a measured overhead share next to each routed path's wall time instead
of a claim.

Usage: python tools/router_overhead.py sf_dir [sf_dir ...]
Prints one JSON line per corpus: route, candidates/doc, pre-pass wall.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from financial_data_lakehouse_pipeline__spark import measure  # noqa: E402
from financial_data_lakehouse_pipeline__spark.operators import dedup  # noqa: E402
from financial_data_lakehouse_pipeline__spark.session import build_session  # noqa: E402
from financial_data_lakehouse_pipeline__spark.sources import read_table  # noqa: E402


def main() -> None:
    for sf_dir in sys.argv[1:] or ["/root/testdata/sf0.1"]:
        spark = build_session("router-overhead")
        try:
            d = read_table(spark, sf_dir, "documents")
            # same params as corpus dedup_pairs_auto_docs
            routes = []  # (route, stats) of every run
            t = measure.timed(lambda: routes.append(dedup.dedup_route(d, n=3)))
            route, stats = routes[-1]
            print(json.dumps({
                "sf_dir": sf_dir,
                "route": route,
                "n_docs": stats["n_docs"],
                "candidates_per_doc": round(stats["candidates_per_doc"], 1),
                "prepass_median_s": t["median"],
                "prepass_spread_s": t["spread"],
                "loadavg": [round(x, 2) for x in os.getloadavg()],
            }), flush=True)
        finally:
            spark.stop()


if __name__ == "__main__":
    main()
