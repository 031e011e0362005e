"""Measurement primitives for bench.py, tools/ and the tests — one
timing method, one clock and one job counter. Nothing in the engine
imports this module.

    noop(df)               force the full plan through the noop sink
    timed(run)             untimed warmup, then the median of 3 runs
    ab(run_a, run_b)       alternating A/B pairs, the per-pair B/A ratio
    jobs(spark, group, fn) run fn under a job group, count its jobs
"""

from __future__ import annotations

import statistics
import time
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def noop(df: DataFrame) -> None:
    """Execute ``df`` completely with the noop sink: every stage runs,
    no row reaches the driver, so a timing measures the plan and not
    ``collect()``."""
    df.write.format("noop").mode("overwrite").save()


def _clock(run: Callable[[], object]) -> float:
    """Seconds one call of ``run`` takes on ``time.monotonic``."""
    t0 = time.monotonic()
    run()
    return time.monotonic() - t0


def timed(run: Callable[[], object]) -> dict[str, float]:
    """One untimed warmup call of ``run`` (JIT, whole-stage codegen, IO
    caches), then three timed calls on ``time.monotonic``. Returns the
    median, the spread (max - min), the min and the max, in seconds
    rounded to the millisecond. The median absorbs one bad run."""
    run()
    samples = [_clock(run) for _ in range(3)]
    lo, hi = min(samples), max(samples)
    return {
        "median": round(statistics.median(samples), 3),
        "spread": round(hi - lo, 3),
        "min": round(lo, 3),
        "max": round(hi, 3),
    }


def ab(
    run_a: Callable[[], object], run_b: Callable[[], object], pairs: int = 10
) -> dict[str, float]:
    """Compare two variants in one process: one untimed warmup call of
    each, then ``pairs`` timed pairs in ABBA order (A then B, B then A,
    ...) on ``timed``'s clock, so drift in host speed and warm-up falls
    on both sides alike. Returns the median, min and max of the per-pair
    ratio B/A (below 1: B is faster), how many pairs favour B, and each
    side's median seconds."""
    run_a()
    run_b()
    ta, tb = [], []
    for i in range(pairs):
        if i % 2:
            tb.append(_clock(run_b))
            ta.append(_clock(run_a))
        else:
            ta.append(_clock(run_a))
            tb.append(_clock(run_b))
    ratios = [b / a for a, b in zip(ta, tb)]
    return {
        "pairs": pairs,
        "ratio_median": round(statistics.median(ratios), 3),
        "ratio_min": round(min(ratios), 3),
        "ratio_max": round(max(ratios), 3),
        "b_wins": sum(r < 1 for r in ratios),
        "a_median": round(statistics.median(ta), 3),
        "b_median": round(statistics.median(tb), 3),
    }


def jobs(spark: SparkSession, group: str, fn: Callable[[], T]) -> tuple[T, int]:
    """Run ``fn()`` with every Spark job it launches in job group
    ``group``; return ``(fn's result, number of those jobs)``. The group
    is cleared even when ``fn`` raises. The listener bus is drained
    before counting, so a job whose start event is still queued is not
    missed."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
