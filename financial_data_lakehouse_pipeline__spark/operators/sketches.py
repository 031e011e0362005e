"""Frequency sketches: count-min + heavy hitters (engine extension; the
reference has no sketch family — SURVEY.md §2.4 covers exact and
approx-distinct aggregation, and this adds the bounded-memory frequency
side every 100 TB profiling/DQ pass wants: "which keys are hot, without
a full-cardinality groupBy state").

Design for oracle portability (the dedup.py md5 discipline): every hash
is an md5-prefix integer, so DuckDB reproduces the sketch bit-for-bit —
a *sketch* whose contents are still deterministic, partition-independent
and differential-testable. Estimates carry the classic CMS guarantee:
``est >= true`` always, ``est <= true + eps*N`` with prob 1-delta for
width=ceil(e/eps), depth=ceil(ln(1/delta)).

Scale shape: the sketch build is one explode(depth) + groupBy(d, w) —
shuffle rows are (tiny int pair, count), and the result is depth*width
cells regardless of input size. That fixed size is the point: a 100 TB
key column reduces to a table that broadcasts anywhere, while the exact
groupBy it replaces carries full key cardinality through the shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.materialize import pin


def _bucket(key: Column, seed: int, width: int) -> Column:
    """Row hash d_seed(key) ∈ [0, width): 28-bit md5-prefix integer of
    "seed|key" — the universal-hash trick shared with dedup.minhash."""
    h = F.md5(F.concat_ws("|", F.lit(str(seed)), key.cast("string")))
    return F.conv(F.substring(h, 1, 7), 16, 10).cast("bigint") % F.lit(width)


def count_min_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build a count-min sketch of ``key_col``: one (d, w, cnt) row per
    non-empty cell. NULL keys are skipped (they are not a frequency
    class). Empty cells are implicit zeros — readers coalesce.

    One narrow projection + explode(depth) + one groupBy on (d, w):
    map-side partial aggregation collapses almost everything before the
    shuffle, and the shuffled payload is two small ints + a count.
    """
    key = F.col(key_col)
    cells = df.filter(key.isNotNull()).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("int").alias("d"),
                        _bucket(key, d, width).alias("w"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c")
    )
    return (
        cells.select(F.col("c.d").alias("d"), F.col("c.w").alias("w"))
        .groupBy("d", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: est_cnt =
    min over the key's depth cells (missing cell → 0).

    The sketch side is depth*width rows at most — it BROADCASTS, so
    probing any number of keys is a map-side join, no shuffle on the
    probe side.
    """
    key = F.col(key_col)
    probes = keys.select(
        key.alias(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("int").alias("d"),
                        _bucket(key, d, width).alias("w"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c"),
    ).select(key_col, F.col("c.d").alias("d"), F.col("c.w").alias("w"))
    joined = probes.join(F.broadcast(sketch), ["d", "w"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce("cnt", F.lit(0).cast("bigint"))).alias("est_cnt")
    )


def heavy_hitters_exact(
    df: DataFrame, key_col: str, min_count: int
) -> DataFrame:
    """Exact heavy hitters: keys with >= min_count occurrences — the
    full-cardinality groupBy baseline the sketch path is verified
    against. Output: (key, cnt)."""
    return (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    min_count: int,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Sketch-pruned heavy hitters with exact verification — the same
    candidates-then-verify shape as LSH dedup: the CMS overestimates,
    so filtering candidates on ``est_cnt >= min_count`` has NO false
    negatives; the exact count then removes collision-inflated false
    positives. The expensive full groupBy runs only over rows whose key
    survived the sketch filter (semi-join), so its shuffle carries the
    hot tail, not the full key cardinality.

    Output: (key, est_cnt, cnt) for keys with exact cnt >= min_count.
    """
    sketch = count_min_sketch(df, key_col, depth, width)
    distinct_keys = df.filter(F.col(key_col).isNotNull()).select(key_col).distinct()
    # pinned: both the semi-join probe and the final attach re-reference
    # the candidate table, which would re-run the sketch aggregation +
    # estimate join per branch (the hot tail is min_count-bounded, so
    # the materialization is small at any scale)
    cand = pin(
        cms_estimate(sketch, distinct_keys, key_col, depth, width).filter(
            F.col("est_cnt") >= min_count
        )
    )
    hot_rows = df.join(F.broadcast(cand.select(key_col)), key_col, "left_semi")
    exact = heavy_hitters_exact(hot_rows, key_col, min_count)
    return cand.join(exact, key_col).select(key_col, "est_cnt", "cnt")


# ---- Equi-width histogram sketch (the quantile-side companion) --------

def histogram_sketch(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    bins: int = 64,
) -> DataFrame:
    """Equi-width histogram over a known value range: (bin, cnt) with
    bin = clamp(floor((x - lo) / binwidth), 0, bins-1); NULLs skipped,
    out-of-range values clamp into the edge bins.

    Like the count-min sketch, this is a LINEARLY MERGEABLE fixed-size
    summary (bin counts add) — safe for partial aggregation, multi-day
    rollup, or an unbounded streaming groupBy with `bins` rows of state.
    The exact-percentile path (aggregates.percentile_disc) shuffles a
    full sort per group; this shuffles `bins` integers, trading one
    binwidth of error for scale-independence.
    """
    width = (hi - lo) / bins  # driver-computed literal: identical in SQL
    x = F.col(col).cast("double")
    b = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((x - F.lit(lo)) / F.lit(width)).cast("int")),
    )
    return (
        df.filter(x.isNotNull())
        .select(b.cast("int").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def quantiles_from_histogram(
    hist: DataFrame,
    lo: float,
    hi: float,
    bins: int,
    qs: list[float],
) -> DataFrame:
    """Quantile estimates from a histogram sketch: for each q, the upper
    edge of the first bin whose cumulative count reaches ceil(q·N).
    Error is bounded by one binwidth — the estimate never leaves the
    crossing bin.

    The cumulative window runs over at most ``bins`` rows (the sketch,
    not the data), so the unpartitioned sort is O(bins) — the whole
    point of sketch-then-query. Output: (q, est), one row per requested
    quantile.
    """
    from pyspark.sql import Window

    width = (hi - lo) / bins
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    n = hist.agg(F.sum("cnt").cast("bigint").alias("__n"))
    spark = hist.sparkSession
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    crossed = (
        cum.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("__n")))
        .groupBy("q")
        .agg(F.min("bin").alias("__bin"))
    )
    return crossed.select(
        "q",
        (F.lit(lo) + (F.col("__bin") + F.lit(1)) * F.lit(width)).alias("est"),
    )


# ---- HyperLogLog (md5-based, oracle-reproducible) ---------------------

def hll_sketch(
    df: DataFrame,
    key_col: str,
    p: int = 8,
) -> DataFrame:
    """HyperLogLog registers over ``key_col``: 2^p rows (bucket,
    max_rank), md5-derived so the registers are bit-identical in plain
    SQL — unlike Spark's built-in approx_count_distinct, whose HLL++
    state is engine-private (that one stays a rows-only check; this one
    gets a full oracle).

    Hash layout per key: a 52-bit integer from the md5 hex prefix —
    low ``p`` bits pick the bucket, and the rank is the position of the
    first set bit scanning the remaining 52-p bits from the low end
    (+1), i.e. rank = r such that bit r-1 is the lowest set bit of
    h >> p (52-p+1 if those bits are all zero). floor(log2) expresses
    it portably: lowest set bit of x = log2(x & -x).

    Mergeability: registers combine by MAX — safe for partial
    aggregation, multi-day rollup, or streaming complete mode, same as
    the CMS cells (by SUM) and histogram bins (by SUM). State: 2^p tiny
    ints regardless of cardinality.
    """
    key = F.col(key_col)
    # hash layout shared with the grouped/merge family — ONE
    # implementation (_hll_bucket_rank), so the merged==direct register
    # invariant can't silently desynchronize
    bucket, rank = _hll_bucket_rank(key, p)
    return (
        df.filter(key.isNotNull())
        .select(bucket.alias("bucket"), rank.alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").cast("int").alias("max_rank"))
    )


def hll_estimate(sketch: DataFrame, p: int = 8) -> DataFrame:
    """Cardinality estimate from HLL registers: the classic
    alpha_m · m² / Σ 2^(-rank) harmonic mean, with the small-range
    linear-counting correction (E <= 2.5m and empty registers present →
    m·ln(m/V)). Empty registers contribute 2^0 = 1 to the harmonic sum.

    One aggregation over <= 2^p rows; every operation is double
    arithmetic in a deterministic order (SUM over at most m values of
    2^-rank is rounding-stable here because ranks repeat from a tiny
    value set — pinned by the oracle at the corpus scale).

    Output: one row (n_buckets_used, estimate double, est_bigint).
    """
    m = 2**p
    alpha = 0.7213 / (1.0 + 1.079 / m)  # standard constant for p >= 7
    agg = sketch.agg(
        F.count(F.lit(1)).cast("bigint").alias("__v"),
        F.sum(F.pow(F.lit(2.0), -F.col("max_rank"))).alias("__s"),
    )
    # empty buckets add 1.0 each to the harmonic sum
    harm = F.col("__s") + (F.lit(m) - F.col("__v")).cast("double")
    raw = F.lit(alpha * m * m) / harm
    zeros = F.lit(m) - F.col("__v")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.col("__v").alias("n_buckets_used"),
        est.alias("estimate"),
        F.floor(est + F.lit(0.5)).cast("bigint").alias("est_bigint"),
    )


# ---- Bloom filter (md5-based, oracle-reproducible) --------------------

def bloom_bits(
    df: DataFrame,
    key_col: str,
    num_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Set-bit positions of a Bloom filter over ``key_col``: one row per
    DISTINCT set bit (k md5-derived positions per key). OR-mergeable —
    the union of two filters' bit sets is the filter of the union —
    completing the sketch quartet (CMS by SUM, histogram by SUM, HLL by
    MAX, Bloom by OR). At most ``num_bits`` rows regardless of input.
    """
    key = F.col(key_col)
    return (
        df.filter(key.isNotNull())
        .select(
            F.explode(
                F.array(*[_bucket(key, i, num_bits) for i in range(k)])
            ).alias("bit")
        )
        .distinct()
    )


def bloom_maybe_contains(
    bits: DataFrame,
    probes: DataFrame,
    key_col: str,
    num_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Probe the filter: a key is maybe-present iff ALL k of its bit
    positions are set; any unset bit proves CERTAIN absence (a Bloom
    filter has no false negatives). The bit table (<= num_bits small
    ints) broadcasts, so probing is map-side.

    Output: probes' rows + ``maybe_present`` boolean.
    """
    key = F.col(key_col)
    pb = probes.select(
        key.alias(key_col),
        F.explode(
            F.array(*[_bucket(key, i, num_bits) for i in range(k)])
        ).alias("bit"),
    )
    joined = pb.join(
        F.broadcast(bits.withColumn("__set", F.lit(1))), "bit", "left"
    )
    return joined.groupBy(key_col).agg(
        F.min(F.col("__set").isNotNull().cast("int")).cast("boolean")
        .alias("maybe_present")
    )


def bloom_pruned_anti_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    num_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """EXACT anti-join (left rows with no match in right) with a Bloom
    fast path: rows whose key fails any bloom probe are CERTAINLY absent
    from right (no false negatives) and skip the join entirely; only the
    maybe-present rows — true matches plus the small false-positive
    tail — reach the exact anti-join. At 100 TB the shuffle carries that
    tail, not the left table; the filter itself is num_bits/8 bytes of
    broadcast state built in one pass over right.

    Result is EXACTLY the plain anti-join (the oracle relies on this).
    """
    bits = bloom_bits(right.select(right_key), right_key, num_bits, k)
    flags = bloom_maybe_contains(
        bits, left.select(left_key).distinct(), left_key, num_bits, k
    )
    tagged = left.join(F.broadcast(flags), left_key, "left")
    certain_absent = tagged.filter(~F.col("maybe_present")).drop("maybe_present")
    uncertain = tagged.filter(F.col("maybe_present")).drop("maybe_present")
    verified = uncertain.join(
        right, uncertain[left_key] == right[right_key], "left_anti"
    )
    return certain_absent.unionByName(verified)


def _hll_bucket_rank(key: Column, p: int) -> tuple[Column, Column]:
    """(bucket, rank) columns for one key — the md5 hash layout of
    :func:`hll_sketch`, factored for the grouped/merge variants."""
    nbits = 52 - p
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 13), 16, 10).cast(
        "bigint"
    )
    bucket = (h % F.lit(2**p)).cast("int")
    rest = F.floor(h / F.lit(float(2**p))).cast("bigint")
    low = rest.bitwiseAND(-rest)
    rank = F.when(rest == 0, F.lit(nbits + 1)).otherwise(
        F.floor(F.log2(low.cast("double"))).cast("int") + F.lit(1)
    )
    return bucket, rank


def hll_sketch_grouped(
    df: DataFrame, keys: Sequence[str], key_col: str, p: int = 8
) -> DataFrame:
    """Per-group HLL registers: (keys..., bucket, max_rank) — the
    pre-aggregated sketch layer of a rollup cube. 2^p tiny rows per
    group, one shuffle; see :func:`hll_merge` for why this layer is
    the thing a 100 TB pipeline stores."""
    key = F.col(key_col)
    bucket, rank = _hll_bucket_rank(key, p)
    return (
        df.filter(key.isNotNull())
        .select(*keys, bucket.alias("bucket"), rank.alias("rank"))
        .groupBy(*keys, "bucket")
        .agg(F.max("rank").cast("int").alias("max_rank"))
    )


def hll_merge(sketch: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge HLL register sets by MAX onto coarser keys — the sketch
    property that makes 100 TB rollups free: day/nation-level sketches
    (2^p ints each) combine into month/region estimates WITHOUT
    touching a single raw row again, and MAX is associative/commutative
    so partial aggregation and re-partitioning cannot change the
    result. Input: (finer keys..., bucket, max_rank); ``keys`` = the
    coarser grouping to keep."""
    return sketch.groupBy(*keys, "bucket").agg(
        F.max("max_rank").cast("int").alias("max_rank")
    )


def hll_estimate_grouped(
    sketch: DataFrame, keys: Sequence[str], p: int = 8
) -> DataFrame:
    """Per-group cardinality estimates from register sets — the same
    harmonic-mean + linear-counting chain as :func:`hll_estimate`,
    grouped. Output: keys..., n_buckets_used, estimate."""
    m = 2**p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = sketch.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("__v"),
        F.sum(F.pow(F.lit(2.0), -F.col("max_rank"))).alias("__s"),
    )
    harm = F.col("__s") + (F.lit(m) - F.col("__v")).cast("double")
    raw = F.lit(alpha * m * m) / harm
    zeros = F.lit(m) - F.col("__v")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *keys,
        F.col("__v").alias("n_buckets_used"),
        est.alias("estimate"),
    )


def kmv_quantile_sketch(
    df: DataFrame,
    value: Column,
    row_id: Column,
    k: int = 1024,
    keys: Sequence[str] | None = None,
    salt: str = "kmvq",
) -> DataFrame:
    """Bottom-k (KMV-style) quantile sketch: the registers are the k
    rows whose md5(salt|row_id) hashes are smallest — a deterministic
    uniform sample of the value distribution, so the sketch's empirical
    CDF tracks the true CDF with rank error O(1/sqrt(k)) (DKW bound)
    at ANY quantile, and k values is the whole state.

    Why bottom-k and not t-digest/KLL: those compactions are
    arrival-order-dependent, so their registers cannot be reproduced by
    a declarative cross-engine oracle. Bottom-k is a pure function of
    the data multiset — the same md5-determinism discipline as the HLL/
    CMS registers (this module's header) — and its merge is EXACT:
    bottom-k of a union == bottom-k of the union of per-shard bottom-k
    register sets (every global winner survives its own shard's cut),
    so shard ⊕ shard == whole holds register-for-register
    (tests/test_operators.py pins it). The price is O(1/sqrt(k)) rank
    error where KLL gives O(1/k) at equal state — documented trade for
    differential testability; scale k to taste (registers are k
    (hash, value) pairs, broadcastable at any reasonable k).

    ``row_id`` must be row-unique (an order key, a composite cast to
    string) — duplicate ids would collapse to one hash and bias the
    sample. NULL values/ids are excluded.

    Plan shape: global (keys=None) uses orderBy(h).limit(k) —
    TakeOrderedAndProject, a per-partition heap + k-row driver merge,
    never a global sort (asserted in tests/test_plans.py); grouped uses
    a row_number window partitioned by the group keys.

    Output: (keys..., h, v) register rows, ≤ k per group.
    """
    ks = list(keys or [])
    h = F.md5(F.concat_ws("|", F.lit(salt), row_id.cast("string")))
    base = df.filter(value.isNotNull() & row_id.isNotNull()).select(
        *ks, h.alias("h"), value.alias("v")
    )
    if ks:
        from pyspark.sql import Window

        w = Window.partitionBy(*ks).orderBy("h")
        return (
            base.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(k))
            .drop("__rn")
        )
    return base.orderBy("h").limit(int(k))


def kmv_merge(
    sketch: DataFrame, keys: Sequence[str], k: int = 1024
) -> DataFrame:
    """Merge KMV register sets onto coarser keys: union the shards'
    registers and re-take the k smallest hashes per coarse group —
    EXACTLY the sketch of the combined data (see
    :func:`kmv_quantile_sketch`), provided every input shard was built
    with at least this k. Like :func:`hll_merge`, this touches only
    register rows — a 100 TB rollup cube re-aggregates without
    rescanning raw data.

    Registers are a SET: the distinct() makes the merge idempotent
    under overlapping inputs (retried shards, replayed micro-batches —
    bottom-k of a multiset would double-count every shared register,
    caught by the streaming kmv_sink re-run test)."""
    from pyspark.sql import Window

    ks = list(keys)
    w = Window.partitionBy(*ks).orderBy("h")
    return (
        sketch.select(*ks, "h", "v")
        .distinct()
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .drop("__rn")
    )


def kmv_quantiles(
    sketch: DataFrame,
    keys: Sequence[str],
    qs: Sequence[tuple[int, int]],
    out: str = "est",
) -> DataFrame:
    """Quantile estimates from KMV registers: the q-quantile estimate
    is the ceil(q·n)-th smallest register value (n = register count —
    when a group has fewer than k rows the sample IS the group and the
    estimate is exact). ``qs`` are exact rationals (num, den) so the
    rank ceil((num·n)/den) = (num·n + den - 1) DIV den is pure integer
    arithmetic — never a float ceil (trimmed_mean discipline). The
    estimate itself is a RAW data value (no float math), so no ROUND
    is needed anywhere.

    Output: (keys..., q, n, est) — one row per group per quantile.
    The finalizer windows run over register rows only (≤ k per group).
    """
    from pyspark.sql import Window

    ks = list(keys)
    w = (
        Window.partitionBy(*ks) if ks else Window.partitionBy(F.lit(0))
    )
    ranked = sketch.select(*ks, "h", "v").withColumn(
        "__rn", F.row_number().over(w.orderBy("v", "h"))
    ).withColumn(
        "__n",
        F.count(F.lit(1)).over(
            w.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    qarr = F.array(
        *[
            F.struct(
                F.lit(num / den).alias("q"),
                F.lit(int(num)).alias("p"),
                F.lit(int(den)).alias("d"),
            )
            for num, den in qs
        ]
    )
    x = ranked.select(*ks, "v", "__rn", "__n", F.explode(qarr).alias("__q"))
    want = F.greatest(
        F.lit(1),
        F.expr("(__q.p * __n + __q.d - 1) DIV __q.d"),
    )
    return x.filter(F.col("__rn") == want).select(
        *ks,
        F.col("__q.q").alias("q"),
        F.col("__n").cast("bigint").alias("n"),
        F.col("v").alias(out),
    )
