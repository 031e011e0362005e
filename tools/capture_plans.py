"""Capture `.explain("formatted")` output for named corpus queries into
plans/<tag>/<query>_<suffix>.txt — the before/after plan evidence an
optimization round commits next to its claims.

Usage:
    python tools/capture_plans.py TAG SUFFIX [sf_dir] name1 name2 ...

e.g. python tools/capture_plans.py r13 before /root/testdata/sf0.1 \
         minhash_lsh_pairs_docs pagerank_copurchase
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from financial_data_lakehouse_pipeline__spark import corpus  # noqa: E402
from financial_data_lakehouse_pipeline__spark.plans import formatted_plan  # noqa: E402
from financial_data_lakehouse_pipeline__spark.session import build_session  # noqa: E402


def main() -> None:
    tag, suffix, *rest = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if rest and os.path.isdir(rest[0]):
        sf_dir, rest = rest[0], rest[1:]
    outdir = os.path.join(REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = build_session("capture-plans")
    qs = corpus.queries()
    for name in rest:
        plan = formatted_plan(qs[name](spark, sf_dir))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} @ {sf_dir} ({suffix})\n")
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
