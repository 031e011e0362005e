"""Data-layout operators: multi-dimensional (Z-order) clustering, the
table-maintenance half of a lakehouse that keeps scans fast at 100 TB
(``sources/acid.optimize(zorder=...)`` clusters a table through them).

Z-ordering maps each row's (dim1, dim2, ...) to a Morton code — the
bit-interleaving of the dimensions — and sorts/range-partitions by it.
Rows close in ANY dimension land in the same files, so min/max file
statistics prune scans filtered on any clustered column, not just the
leading sort key. The code is pure integer bit arithmetic (shift/and/or)
— JVM-side, and reproducible in plain SQL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_code(cols: Sequence[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each (non-negative integer)
    column into one Morton/Z-order code.

    Bit b of column i lands at position b*len(cols) + i, so consecutive
    code values alternate fastest through the first column — the standard
    Z-curve. With k columns the result uses k*bits bits; keep
    k*bits <= 62 for bigint safety. Callers quantize each dimension to
    [0, 2^bits) first (rank, fixed-point scale, or truncation —
    quantization only affects clustering granularity, not correctness).
    """
    n = len(cols)
    if n * bits > 62:
        raise ValueError("k*bits must be <= 62 to fit a bigint")
    code = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1))
            code = code + F.shiftleft(bit, b * n + i)
    return code


def quantize_minmax(
    col: Column, max_col: Column, bits: int = 16, min_col: Column | None = None
) -> Column:
    """Map an integer column onto ``[0, 2^bits)`` cells by proportional
    integer division: ``((x - min) * 2^bits) div (max - min + 1)``.

    Subtracting the per-column minimum keeps the full cell range usable
    for narrow high bands (values in [1e6, 1e6+100] spread over all
    cells, not collapse into one) and makes negative inputs safe —
    morton_code bit-interleaves garbage for negative cells. ``min_col``
    defaults to 0 for backward compatibility with callers that already
    guarantee non-negative zero-based inputs.

    All-integer (decimal) arithmetic — no float rounding — so Spark and
    a SQL oracle agree bit-for-bit; monotone in x, so cell ordering
    preserves value ordering within each dimension. The usual quantizer
    in front of :func:`morton_code` when dimensions have arbitrary
    integer ranges.
    """
    lo = (min_col if min_col is not None else F.lit(0)).cast("decimal(38,0)")
    scale = F.lit(1 << bits).cast("decimal(38,0)")
    num = (col.cast("decimal(38,0)") - lo) * scale
    den = max_col.cast("decimal(38,0)") - lo + F.lit(1).cast("decimal(38,0)")
    return F.floor(num / den).cast("bigint")


def zorder_by(
    df: DataFrame,
    quantized_cols: Sequence[Column],
    bits: int = 16,
    num_partitions: int | None = None,
    out: str = "__zorder",
) -> DataFrame:
    """Cluster rows by the Morton code of already-quantized dimensions:
    compute the code, RANGE-partition on it (so each output partition —
    and thus each written file — owns a contiguous Z-curve segment), and
    sort within partitions. Follow with a parquet write; min/max stats of
    every clustered column are then tight per file.
    """
    coded = df.withColumn(out, morton_code(quantized_cols, bits))
    if num_partitions:
        coded = coded.repartitionByRange(num_partitions, F.col(out))
    else:
        coded = coded.repartitionByRange(F.col(out))
    return coded.sortWithinPartitions(out)

