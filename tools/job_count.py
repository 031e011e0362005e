"""Spark JOBS per query invocation — the evidence plans cannot show
(VERDICT r13 #5): a driver-loop operator launches jobs per round, and a
DataFrame under construction may launch jobs before its action, while
the physical plan of any single job looks the same. This tool counts
them.

Each named query is built under one job group and forced through the
noop sink (same action as bench.py) under a second, both counted by
measure.jobs. ``build_jobs`` are the jobs launched while the query
BUILDS (convergence counts, route statistics, pins' shuffle-map
stages); ``jobs`` is the invocation's total, build plus action.

Usage:
    python tools/job_count.py [sf_dir] name1 name2 ...

Prints one JSON line: {"sf_dir": ..., "build_jobs": {name: n},
"jobs": {name: n}}.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from financial_data_lakehouse_pipeline__spark import corpus, measure  # noqa: E402
from financial_data_lakehouse_pipeline__spark.session import build_session  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    if not args:
        print("usage: job_count.py [sf_dir] name...", file=sys.stderr)
        raise SystemExit(1)
    spark = build_session("job-count")
    qs = corpus.queries()
    build_jobs: dict[str, int] = {}
    jobs: dict[str, int] = {}
    for name in args:
        df, build_jobs[name] = measure.jobs(
            spark, f"jobcount:build:{name}", lambda: qs[name](spark, sf_dir)
        )
        _, run_jobs = measure.jobs(
            spark, f"jobcount:run:{name}", lambda: measure.noop(df)
        )
        jobs[name] = build_jobs[name] + run_jobs
    print(json.dumps({"sf_dir": sf_dir, "build_jobs": build_jobs, "jobs": jobs}))
    spark.stop()


if __name__ == "__main__":
    main()
