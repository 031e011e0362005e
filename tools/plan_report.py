"""Generate PLANS.md: a physical-plan audit of every bench headline
query — exchange (shuffle) count, parquet scan count, whole-stage
codegen span count, broadcast joins and Cartesian products — the
at-a-glance scale-posture report. Regenerate after plan-affecting
changes:

    python tools/plan_report.py
"""

from __future__ import annotations

import datetime
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE, PLANS_EXTRA  # noqa: E402

from financial_data_lakehouse_pipeline__spark import corpus  # noqa: E402
from financial_data_lakehouse_pipeline__spark.plans import formatted_plan  # noqa: E402
from financial_data_lakehouse_pipeline__spark.session import build_session  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = build_session("plan-report")
    qs = corpus.queries()
    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        cwd=REPO,
        capture_output=True,
        text=True,
    ).stdout.strip()

    rows = []
    for name in HEADLINE + PLANS_EXTRA:
        p = formatted_plan(qs[name](spark, sf_dir))
        # count operators from the numbered tree only — formatted mode
        # repeats each operator in the detail section below the tree
        ops = re.findall(r"^\s*[:+\-| ]*\*?\((\d+)\)\s+(\w[\w ]*?)(?:\s*\[|$)",
                         p, re.M)
        op_names = [o[1].strip() for o in ops]
        rows.append(
            (
                name,
                sum(1 for o in op_names if o == "Exchange"),
                sum(1 for o in op_names if o.startswith("Scan parquet")),
                len(set(re.findall(r"\[codegen id : (\d+)\]", p))),
                sum(
                    1
                    for o in op_names
                    if o in ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
                ),
                "YES" if "CartesianProduct" in p else "no",
            )
        )

    out = [
        "# PLANS — physical-plan audit of the bench headline queries",
        "",
        f"Generated by tools/plan_report.py at commit {commit} on "
        f"{datetime.date.today().isoformat()} (sf_dir={sf_dir}). Regenerate "
        "after plan-affecting changes — do not edit by hand.",
        "",
        "Exchanges = shuffle boundaries in the initial plan (AQE may "
        "coalesce/replan at runtime); Scans = parquet scan operators. "
        "Since round 13 the multi-consumer operators PIN their shared "
        "subtrees with lazy localCheckpoints (materialize.pin — "
        "the round's optimization; OPTIMIZATION_r13.md), so a pinned "
        "query's visible plan reads `Scan ExistingRDD` nodes and "
        "REPORTS 0 parquet scans here: the real scans/exchanges live "
        "upstream of the pin and execute exactly ONCE during its "
        "materialization (vs once per consuming branch before — e.g. "
        "minhash_lsh_pairs was 20 scans / 38 exchanges for one logical "
        "pass). WSCG = codegen ids visible "
        "PRE-execution (AQE assigns most ids at runtime, so 0 here does "
        "not mean no codegen); Bcast = broadcast joins; Cartesian should "
        "always be 'no'.",
        "",
        "Queries that eagerly materialize mid-DAG (acid_* commit "
        "transactional writes) report only the plan of the RETURNED "
        "DataFrame here — the upstream DAG runs during the call; the "
        "ACID write paths are plan-asserted in tests/test_plans.py and "
        "tests/test_acid.py. The curation_funnel_* flag tables are pins "
        "like the above; the funnel's full upstream (one "
        "flag-column scan + fingerprint window + survivor-only LSH "
        "sub-DAG) is audited in SCALE.md §16.",
        "",
        "| Query | Exchanges | Scans | WSCG spans | Bcast joins | Cartesian |",
        "|---|---|---|---|---|---|",
    ]
    for name, ex, sc, wscg, bc, cart in rows:
        out.append(f"| {name} | {ex} | {sc} | {wscg} | {bc} | {cart} |")
    out.append("")

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("\n".join(out[-len(rows) - 2 :]))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
