"""Physical-plan inspection helpers — the feedback loop for scale tuning.

Used by tests to assert the plans we want (pushdown reached the scan,
dim joins broadcast, no unexpected shuffles), not just results.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan.

    Counts only the detail headers ``(N) Exchange`` — the formatted plan
    prints every operator twice (tree line + detail section), so counting
    every 'Exchange' substring double-counts.
    """
    plan = formatted_plan(df)
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.MULTILINE))


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
