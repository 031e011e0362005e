"""Column-expression helpers shared by every operator.

All helpers return `pyspark.sql.Column` and stay JVM-side (whole-stage
codegen) — no Python UDFs. They are ANSI-mode safe (Spark 4 default):
every division is conditionally guarded so a zero denominator can never
raise DIVIDE_BY_ZERO.

Reference parity notes (SURVEY.md §2.2, §2.8):
  guarded_div  — reference data_cleaning.py:95-98, data_transformation.py:121-127
  clamp        — reference data_cleaning.py:320-325 (when-chain → least/greatest)
  pct_change   — reference data_transformation.py:198-217 (momentum %)
  safe_corr    — reference sentiment_analysis.py:73-81 (F.corr) hardened for
                 zero-variance groups (NULL, matching DuckDB, instead of
                 ANSI divide-by-zero)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Decimal precision used for exact, order-independent sums. DECIMAL(30,6)
# leaves ~1e24 of integer headroom: safe for sums of 1e12 rows of 1e6-scale
# values — i.e. comfortably beyond 100 TB scale.
_DEC = "decimal(30,6)"


def guarded_div(num: Column, den: Column, default=None) -> Column:
    """num/den with a zero/null-denominator guard (ANSI-safe).

    Returns ``default`` (NULL unless given) where den is 0 or NULL.
    """
    alt = F.lit(default) if default is not None else F.lit(None).cast("double")
    return F.when(den.isNotNull() & (den != 0), num / den).otherwise(alt)


def clamp(col: Column, lo: float, hi: float) -> Column:
    """Clamp a numeric column into [lo, hi]."""
    return F.least(F.greatest(col, F.lit(lo)), F.lit(hi))


def dsum(col: Column) -> Column:
    """Exact (decimal) sum, returned as DOUBLE.

    Summing doubles is order-dependent; under AQE the partitioning (and
    thus partial-aggregation order) can change run to run. Casting each
    term to a fixed-scale decimal makes the sum exact and associative, so
    results are bit-identical across partitionings and across engines.
    """
    return F.sum(col.cast(_DEC)).cast("double")


def dmean(col: Column) -> Column:
    """Order-independent mean: exact decimal sum / count, as DOUBLE."""
    return guarded_div(F.sum(col.cast(_DEC)).cast("double"), F.count(col))


def money_sum(col: Column, decimals: int = 2) -> Column:
    """Exact order-independent sum for fixed-point (money-like) values,
    as DOUBLE — the fast path where the data contract guarantees at most
    ``decimals`` fractional digits (prices, rates·prices).

    Each term is scaled to an integer (floor(x·10^d + 0.5) — identical
    IEEE ops on every engine) and summed as BIGINT: exact, associative,
    and ~4× faster than decimal accumulation (measured 1.2s → 0.28s for
    3 sums over 600k rows). Overflow bound: the absolute scaled sum per
    group must stay under 2^63 ≈ 9.2e18 — at decimals=2 that is $9e16
    per group, beyond any realistic partition; use ``dsum`` when the
    contract or the bound doesn't hold.
    """
    s = 10 ** decimals
    return (
        F.sum(F.floor(col * F.lit(float(s)) + F.lit(0.5)).cast("bigint"))
        / F.lit(float(s))
    )


def pct_change(cur: Column, prev: Column) -> Column:
    """(cur - prev) / prev * 100, NULL where prev is 0/NULL."""
    return guarded_div((cur - prev) * F.lit(100.0), prev)


def safe_corr(x: Column, y: Column) -> Column:
    """Sample Pearson correlation that yields NULL on zero variance.

    Equivalent to F.corr but ANSI-safe: F.corr raises DIVIDE_BY_ZERO under
    ANSI mode when either series is constant; DuckDB's corr returns NULL.
    """
    sx, sy = F.stddev_samp(x), F.stddev_samp(y)
    return F.when((sx > 0) & (sy > 0), F.covar_samp(x, y) / (sx * sy))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns (JVM-side fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm of an array<numeric> column."""
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, NULL for zero vectors."""
    return guarded_div(dot(a, b), l2_norm(a) * l2_norm(b))


def tokens(col: Column) -> Column:
    """Whitespace tokenization that returns [] for empty/blank strings."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def register_chunk_spans_udtf(spark, name: str = "chunk_spans"):
    """Register a Python UDTF (Spark 3.5+ table function): explode a
    text into fixed-size overlapping token-span rows
    (chunk_id, start_token, n_tokens, chunk) — usable from SQL as
    ``SELECT t.id, c.* FROM docs t, LATERAL chunk_spans(t.text, 5, 2) c``.

    This completes the UDF-surface inventory (pandas_udf /
    applyInPandas / mapInPandas / SQL-registered scalar / table
    function). Engineering note pinned by tests: UDTFs run row-at-a-
    time in Python — the HOT-path chunker stays the JVM-side
    sequence/slice pipeline (operators/text.chunk_tokens, bit-identical
    output, tests/test_mlprep.py asserts equivalence); reach for a UDTF
    only when the per-row expansion logic genuinely needs Python.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id int, start_token int, n_tokens int, chunk string")
    class ChunkSpans:
        def eval(self, text: str, size: int, overlap: int):
            if text is None or size is None or size <= 0:
                return
            step = max(size - (overlap or 0), 1)
            toks = text.split()
            if not toks:
                return
            cid = 0
            for start in range(0, len(toks), step):
                window = toks[start : start + size]
                yield cid, start, len(window), " ".join(window)
                cid += 1
                if start + size >= len(toks):
                    break

    spark.udtf.register(name, ChunkSpans)
    return ChunkSpans
