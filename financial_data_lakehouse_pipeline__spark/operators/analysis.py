"""Analysis composites (reference scripts/spark_jobs/sentiment_analysis.py).

Thin compositions of the §2.2-§2.6 operators: value bucketing, threshold
event detection with classification, signal-alignment scoring, and summary
statistics — generalized to any (entity, time, signal, outcome) columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.functions import dmean
from financial_data_lakehouse_pipeline__spark.materialize import pin


def bucketize(
    df: DataFrame,
    col: str,
    edges: Sequence[float],
    labels: Sequence[str],
    out: str = "bucket",
) -> DataFrame:
    """Map a numeric column into labeled buckets via a when-chain
    (reference sa:153-160: five sentiment buckets). len(labels) must be
    len(edges)+1; intervals are (-inf, e0], (e0, e1], ..., (en, inf)."""
    if len(labels) != len(edges) + 1:
        raise ValueError("need len(labels) == len(edges) + 1")
    c = F.col(col)
    expr = None
    for e, lab in zip(edges, labels[:-1]):
        expr = F.when(c <= e, lab) if expr is None else expr.when(c <= e, lab)
    expr = expr.otherwise(labels[-1]) if expr is not None else F.lit(labels[-1])
    return df.withColumn(out, expr)


def detect_events(
    df: DataFrame,
    signal_col: str,
    magnitude_threshold: float,
    support_col: str,
    min_support: int,
    classify: dict[str, Column] | None = None,
) -> DataFrame:
    """Threshold event detection (reference sa:215-218: |avg_sentiment| >=
    threshold AND news_count >= min_news), with optional classification
    columns (reference sa:265-270)."""
    out = df.filter(
        (F.abs(F.col(signal_col)) >= magnitude_threshold)
        & (F.col(support_col) >= min_support)
    )
    if classify:
        out = out.withColumns(dict(classify))
    return out


def alignment_score(signal: Column, outcome: Column) -> Column:
    """+1 when signal and outcome agree in sign, -1 when opposed, 0 when
    either is flat (reference sa:273-279: signum(sentiment)*signum(return))."""
    return F.signum(signal) * F.signum(outcome)


def linear_fit(
    df: DataFrame,
    keys: Sequence[str],
    x: Column,
    y: Column,
    slope_out: str = "slope",
    intercept_out: str = "intercept",
) -> DataFrame:
    """Per-group OLS fit y = slope·x + intercept (regr_slope/regr_intercept
    semantics) — the regression companion to the reference's grouped corr
    (sentiment_analysis.py:73-81; beta-vs-market in any price pipeline).

    ``x``/``y`` must be integer expressions (scale money to cents first):
    the five sums (n, Σx, Σy, Σxy, Σx²) aggregate exactly as BIGINT with
    map-side partial aggregation, then slope = (n·Σxy − ΣxΣy)/(n·Σx² −
    (Σx)²) and intercept = (Σy − slope·Σx)/n are one fixed double
    expression tree — bit-identical across engines (see rolling_corr).
    NULL slope/intercept when x has zero variance. One shuffle (the
    groupBy); no join, no window.
    """
    g = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum(x * y).cast("double").alias("__sxy"),
        F.sum(x * x).cast("double").alias("__sxx"),
    )
    n, sx, sy = F.col("__n"), F.col("__sx"), F.col("__sy")
    sxy, sxx = F.col("__sxy"), F.col("__sxx")
    varx = n * sxx - sx * sx
    slope = F.when(varx > 0, (n * sxy - sx * sy) / varx)
    return (
        g.withColumn(slope_out, slope)
        .withColumn(intercept_out, (sy - F.col(slope_out) * sx) / n)
        .drop("__n", "__sx", "__sy", "__sxy", "__sxx")
    )


def zscore_flags(
    df: DataFrame,
    keys: Sequence[str],
    value: Column,
    threshold: float = 2.5,
    out: str = "zscore",
) -> DataFrame:
    """Per-group z-score outlier detection: join each row against its
    group's mean/stddev and keep rows with |z| > threshold — the
    stats-join-back anomaly pattern (generalizes the reference's
    threshold event detection, sentiment_analysis.py:215-218, from fixed
    to distribution-relative thresholds).

    ``value`` must be an integer expression (cents): n, Σv, Σv² aggregate
    exactly as BIGINT, then mean = Σv/n, var = (Σv² − Σv·Σv/n)/(n−1),
    z = (v − mean)/√var is one fixed double tree — bit-identical across
    engines, so the threshold filter is deterministic (no boundary-tie
    risk). Groups with n < 2 or zero variance yield no flags.

    Scale: the stats table has one row per group — broadcast back to the
    fact side (no fact shuffle). z is scale-invariant, so cents vs
    currency units does not change the flags.
    """
    stats = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(value).cast("double").alias("__sv"),
        F.sum(value * value).cast("double").alias("__svv"),
    )
    n, sv, svv = F.col("__n"), F.col("__sv"), F.col("__svv")
    var = (svv - sv * sv / n) / (n - F.lit(1.0))
    joined = df.join(F.broadcast(stats), list(keys))
    z = F.when(
        (n > 1) & (var > 0),
        (value.cast("double") - sv / n) / F.sqrt(var),
    )
    return (
        joined.withColumn(out, z)
        .filter(F.abs(F.col(out)) > F.lit(threshold))
        .drop("__n", "__sv", "__svv")
    )


def summary_stats(
    df: DataFrame, keys: Sequence[str], value_cols: Sequence[str]
) -> DataFrame:
    """Per-group mean/min/max/stddev for each value column (reference
    sa:313-348 summary job)."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in value_cols:
        col = F.col(c)
        aggs += [
            dmean(col).alias(f"{c}_avg"),
            F.min(col).alias(f"{c}_min"),
            F.max(col).alias(f"{c}_max"),
            F.stddev_samp(col).alias(f"{c}_stddev"),
        ]
    return df.groupBy(*keys).agg(*aggs)


def mad_outliers(
    df: DataFrame,
    keys: Sequence[str],
    value: Column,
    threshold: float = 2.0,
    out: str = "mad_z",
) -> DataFrame:
    """Robust per-group outlier detection via median/MAD — the
    heavy-tail-safe sibling of zscore_flags (mean/stddev break under the
    very outliers being hunted; median and MAD have a 50% breakdown
    point).

    mad_z = (v − median) / MAD with MAD = median(|v − median|). ``value``
    must be integer (cents): exact-interpolated medians land on .0/.5,
    deviations are dyadic doubles, and the second median interpolates
    those exactly — the whole z is a fixed double tree, bit-identical
    cross-engine, so the threshold filter is deterministic. Zero-MAD
    groups (constant-majority) yield no flags.

    Two grouped exact-percentile passes + two broadcast join-backs
    (stats tables are one row per group). At 100 TB swap the exact
    percentile for approx_percentile and accept sketch error.
    """
    med_t = df.groupBy(*keys).agg(F.percentile(value, 0.5).alias("__med"))
    j = df.join(F.broadcast(med_t), list(keys))
    dev = F.abs(value.cast("double") - F.col("__med"))
    mad_t = (
        j.withColumn("__dev", dev)
        .groupBy(*keys)
        .agg(F.percentile("__dev", 0.5).alias("__mad"))
    )
    jj = j.join(F.broadcast(mad_t), list(keys))
    z = F.when(
        F.col("__mad") > 0,
        (value.cast("double") - F.col("__med")) / F.col("__mad"),
    )
    return (
        jj.withColumn(out, z)
        .filter(F.abs(F.col(out)) > F.lit(threshold))
        .drop("__med", "__mad")
    )


def event_study(
    df: DataFrame,
    keys: Sequence[str],
    day_col: str,
    value_col: str,
    threshold: float = 2.5,
    span: int = 3,
) -> DataFrame:
    """Event study over a daily panel (keys, day, integer value): detect
    per-entity shock days (value z-score > threshold, same exact-sum
    discipline as zscore_flags), then average the value at calendar
    offsets −span..+span around each event — the abnormal-behavior
    window analysis the reference's event detection feeds
    (sentiment_analysis.py:215-279: detect, then inspect forward
    returns).

    Pipeline: panel stats (broadcast back) → deterministic event filter
    → explode the 2·span+1 offsets → equi-join back to the panel on
    (keys, day+offset) — a 7-row fan-out of the tiny event set probing
    the panel by key, never a range scan. Output per offset: n_obs,
    avg_value (exact sum / count), avg_rel (mean of value/event_value
    ratios — a float mean; round it when comparing cross-engine).
    """
    d, v = F.col(day_col), F.col(value_col)
    stats = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(v).cast("double").alias("__sv"),
        F.sum(v * v).cast("double").alias("__svv"),
    )
    n, sv, svv = F.col("__n"), F.col("__sv"), F.col("__svv")
    var = (svv - sv * sv / n) / (n - F.lit(1.0))
    z = F.when(
        (n > 1) & (var > 0), (v.cast("double") - sv / n) / F.sqrt(var)
    )
    events = (
        df.join(F.broadcast(stats), list(keys))
        .filter(z > F.lit(threshold))
        .select(
            *keys,
            d.alias("__event_day"),
            v.alias("__event_value"),
        )
    )
    probe = events.withColumn(
        "offset", F.explode(F.sequence(F.lit(-span), F.lit(span)))
    ).withColumn(day_col, F.date_add(F.col("__event_day"), F.col("offset")))
    joined = probe.join(df.select(*keys, d, v), [*keys, day_col])
    return joined.groupBy("offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        (F.sum(v).cast("double") / F.count(F.lit(1))).alias("avg_value"),
        F.avg(v.cast("double") / F.col("__event_value")).alias("avg_rel"),
    )


def autocorrelation(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    value: Column,
    lag: int = 1,
    out: str = "autocorr",
) -> DataFrame:
    """Per-group lag-k autocorrelation: Pearson correlation of the series
    with itself shifted by ``lag`` rows — the mean-reversion /
    momentum-persistence diagnostic (AR(1) signature) behind every
    trading-signal decay analysis.

    ``value`` must be an integer expression (cents): the pair series
    (x = lag(v), y = v) aggregates its five co-moments exactly as
    BIGINT, then corr = (n·Σxy − ΣxΣy)/(√(n·Σxx − Σx²)·√(n·Σyy − Σy²))
    is one fixed double tree — bit-identical cross-engine (the
    linear_fit / rolling_corr contract). NULL when either side has zero
    variance or fewer than 2 pairs. One window shuffle+sort (shared
    with any other per-entity window) + one grouped aggregation.

    Output: (keys..., n_pairs bigint, ``out`` double).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order_cols)
    pairs = (
        df.withColumn("__y", value)
        .withColumn("__x", F.lag(F.col("__y"), lag).over(w))
        .filter(F.col("__x").isNotNull())
    )
    x, y = F.col("__x"), F.col("__y")
    g = pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum(x * y).cast("double").alias("__sxy"),
        F.sum(x * x).cast("double").alias("__sxx"),
        F.sum(y * y).cast("double").alias("__syy"),
    )
    n = F.col("n_pairs").cast("double")
    sx, sy = F.col("__sx"), F.col("__sy")
    sxy, sxx, syy = F.col("__sxy"), F.col("__sxx"), F.col("__syy")
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    corr = F.when((vx > 0) & (vy > 0), (n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)))
    return g.withColumn(out, corr).drop(
        "__sx", "__sy", "__sxy", "__sxx", "__syy"
    )


def pairwise_corr(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    value: Column,
    out: str = "corr",
) -> DataFrame:
    """Correlation matrix over a panel (entity, time, value): Pearson
    correlation for every entity pair, computed over their time-aligned
    observations — the cross-sectional diversification / pairs-screening
    matrix (upper triangle, entity_a < entity_b).

    Self-join on the TIME key (never a cross join): cost follows
    Σ_t m_t² for m_t entities per timestamp — at 100 TB run it on the
    pre-aggregated per-(entity, time) panel, where m is the universe
    size, not the fact volume; the join input shrinks from rows to
    groups first. ``value`` must be integer (cents): exact BIGINT
    co-moments per pair, then the same fixed double tree as
    autocorrelation — bit-identical cross-engine. Pairs with zero
    variance on either side yield NULL.

    Output: (entity_a, entity_b, n_obs bigint, corr double).
    """
    a = df.select(
        F.col(entity_col).alias("__ea"), F.col(time_col).alias("__t"),
        value.alias("__x"),
    )
    b = df.select(
        F.col(entity_col).alias("__eb"), F.col(time_col).alias("__t"),
        value.alias("__y"),
    )
    j = a.join(b, "__t").filter(F.col("__ea") < F.col("__eb"))
    x, y = F.col("__x"), F.col("__y")
    g = j.groupBy(
        F.col("__ea").alias("entity_a"), F.col("__eb").alias("entity_b")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum(x * y).cast("double").alias("__sxy"),
        F.sum(x * x).cast("double").alias("__sxx"),
        F.sum(y * y).cast("double").alias("__syy"),
    )
    n = F.col("n_obs").cast("double")
    sx, sy = F.col("__sx"), F.col("__sy")
    sxy, sxx, syy = F.col("__sxy"), F.col("__sxx"), F.col("__syy")
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    corr = F.when((vx > 0) & (vy > 0), (n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)))
    return g.withColumn(out, corr).drop("__sx", "__sy", "__sxy", "__sxx", "__syy")


def candlestick_flags(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    open_: Column | str = "open",
    high: Column | str = "high",
    low: Column | str = "low",
    close: Column | str = "close",
) -> DataFrame:
    """Candlestick pattern flags over OHLC bars (pairs with
    aggregates.ohlc): doji, bullish/bearish engulfing, gap up/down —
    the pattern-detection layer a signal pipeline stacks on the
    indicator block (extends the reference's indicator set,
    data_transformation.py:162-228).

    - ``doji``: body ≤ 10% of the bar's range (|close−open|·10 ≤
      high−low, and range > 0) — scaled INTEGER compare, no division.
    - ``bullish_engulf``: previous bar bearish, this bar bullish, and
      this body strictly contains the previous body.
    - ``bearish_engulf``: the mirror image.
    - ``gap_up`` / ``gap_down``: this bar's low opens above the previous
      high / high below the previous low.

    With integer (cents) bars every predicate is pure integer
    arithmetic — exact, no float anywhere. One lag set over one
    (partition, order) shuffle + sort; first bar of each series gets
    FALSE for the lag-dependent flags (explicit coalesce, not
    engine-specific null-compare rules).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    o = open_ if isinstance(open_, Column) else F.col(open_)
    h = high if isinstance(high, Column) else F.col(high)
    lo = low if isinstance(low, Column) else F.col(low)
    c = close if isinstance(close, Column) else F.col(close)
    po, pc = F.lag(o).over(w), F.lag(c).over(w)
    ph, pl = F.lag(h).over(w), F.lag(lo).over(w)
    body = F.abs(c - o)
    rng = h - lo
    f = F.lit(False)
    return df.withColumns(
        {
            "doji": ((rng > 0) & (body * 10 <= rng)).cast("boolean"),
            "bullish_engulf": F.coalesce(
                (pc < po) & (c > o) & (o <= pc) & (c >= po) & (body > (po - pc)),
                f,
            ),
            "bearish_engulf": F.coalesce(
                (pc > po) & (c < o) & (o >= pc) & (c <= po) & (body > (pc - po)),
                f,
            ),
            "gap_up": F.coalesce(lo > ph, f),
            "gap_down": F.coalesce(h < pl, f),
        }
    )


def association_rules(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_pair_count: int = 2,
) -> DataFrame:
    """Market-basket association rules over (basket, item) pairs:
    for every unordered item pair co-occurring in >= ``min_pair_count``
    baskets, support / directional confidence / lift — the affinity
    primitive behind recommenders and cross-sell analytics (a
    frequency-thresholded Apriori at depth 2).

    Shape: one distinct (dedupe multiple rows of an item in a basket),
    one per-item count, one self-join on the basket key for pair counts
    (cost follows basket-size squared — cap pathological basket sizes
    upstream the way dedup caps posting lists), then two broadcast-able
    joins to attach item counts and one broadcast of the scalar basket
    total. All counts are exact integers; the three ratios are single
    IEEE divisions of exact integers, so results are engine-exact.

    Output: (item_a, item_b, pair_count, count_a, count_b, support,
    conf_a_to_b, conf_b_to_a, lift), item_a < item_b.
    """
    # pinned: four branches (basket total, item counts, both pair-join
    # sides) re-derived the distinct otherwise — 4 scans + 4 shuffles
    # for one logical dedup (guide §2.4)
    baskets = pin(
        df.select(
            F.col(group_col).alias("__g"), F.col(item_col).alias("__i")
        ).distinct()
    )
    n_baskets = baskets.select("__g").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    item_counts = baskets.groupBy(F.col("__i").alias("item")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    a = baskets.select("__g", F.col("__i").alias("item_a"))
    b = baskets.select("__g", F.col("__i").alias("item_b"))
    pairs = (
        a.join(b, "__g")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
        .filter(F.col("pair_count") >= min_pair_count)
    )
    ca = item_counts.select(
        F.col("item").alias("item_a"), F.col("cnt").alias("count_a")
    )
    cb = item_counts.select(
        F.col("item").alias("item_b"), F.col("cnt").alias("count_b")
    )
    return (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "pair_count",
            "count_a",
            "count_b",
            (F.col("pair_count").cast("double") / F.col("__n").cast("double")).alias("support"),
            (F.col("pair_count").cast("double") / F.col("count_a").cast("double")).alias("conf_a_to_b"),
            (F.col("pair_count").cast("double") / F.col("count_b").cast("double")).alias("conf_b_to_a"),
            (
                (F.col("pair_count").cast("double") * F.col("__n").cast("double"))
                / (F.col("count_a").cast("double") * F.col("count_b").cast("double"))
            ).alias("lift"),
        )
    )


def seasonal_decompose(
    df: DataFrame,
    keys: Sequence[str],
    season: Column,
    value: Column,
) -> DataFrame:
    """Additive seasonal decomposition by seasonal-index means: for each
    group, seasonal_mean(s) = mean(value | season = s), grand = overall
    mean, and per row

        seasonal   = seasonal_mean - grand      (the seasonal component)
        deseason   = value - seasonal           (seasonally adjusted)
        residual   = value - seasonal_mean      (anomaly signal)

    — the day-of-week / month-of-year adjustment every calendar-driven
    metric needs before trend or anomaly analysis (the decomposition
    half of the seasonal-naive forecast family).

    Plan: two aggregations (per-(keys, season) and per-keys grand),
    both tiny relative to the fact table, broadcast back — the fact
    side never shuffles. With integer (cents) values both means are
    exact-decimal (functions.dmean), so every output is one or two IEEE
    subtractions on deterministic doubles — bit-identical cross-engine,
    no rounding needed.
    """
    ks = list(keys)
    sdf = df.withColumn("__s", season).withColumn("__v", value)
    smean = sdf.groupBy(*ks, "__s").agg(dmean(F.col("__v")).alias("__smean"))
    gmean = sdf.groupBy(*ks).agg(dmean(F.col("__v")).alias("__gmean"))
    if ks:
        j = sdf.join(F.broadcast(smean), ks + ["__s"]).join(
            F.broadcast(gmean), ks
        )
    else:
        j = sdf.join(F.broadcast(smean), ["__s"]).crossJoin(F.broadcast(gmean))
    return (
        j.withColumn("season", F.col("__s"))
        .withColumn("value", F.col("__v"))
        .withColumn("seasonal", F.col("__smean") - F.col("__gmean"))
        .withColumn(
            "deseasonalized",
            F.col("__v") - (F.col("__smean") - F.col("__gmean")),
        )
        .withColumn("residual", F.col("__v") - F.col("__smean"))
        .drop("__s", "__v", "__smean", "__gmean")
    )


def ols2_fit(
    df: DataFrame,
    keys: Sequence[str],
    y: Column,
    x1: Column,
    x2: Column,
    round_to: int = 6,
) -> DataFrame:
    """Per-group two-regressor OLS y = b0 + b1·x1 + b2·x2 by closed-form
    normal equations (Cramer's rule on the centered 2x2 system) — the
    multivariate step up from :func:`linear_fit` (e.g. price AND
    discount jointly explaining quantity; two-factor return models).

    ``y``/``x1``/``x2`` must be integer expressions (scale to cents /
    basis points first): the nine moment sums (n, Σx1, Σx2, Σy, Σx1²,
    Σx2², Σx1x2, Σx1y, Σx2y) aggregate exactly — as DECIMAL(38,0), so
    squared-cents products cannot overflow BIGINT — and the solve is
    one fixed double expression tree per group. Centered co-moments:
    S11 = nΣx1² − (Σx1)², S22 = nΣx2² − (Σx2)², S12 = nΣx1x2 − Σx1Σx2,
    S1y = nΣx1y − Σx1Σy, S2y = nΣx2y − Σx2Σy; det = S11·S22 − S12²;
    b1 = (S1y·S22 − S2y·S12)/det, b2 = (S2y·S11 − S1y·S12)/det,
    b0 = (Σy − b1Σx1 − b2Σx2)/n. NULL betas when det <= 0 (collinear or
    degenerate group). Betas are ROUND(round_to) — the determinant
    division chain is inherently floating. One shuffle; no join."""
    dec = "decimal(38,0)"
    # cast operands BEFORE multiplying: |x| past ~3e9 squares beyond
    # BIGINT (ANSI ArithmeticException / silent wrap); decimal products
    # cannot overflow at any realistic cents scale
    x1d, x2d, yd = x1.cast(dec), x2.cast(dec), y.cast(dec)

    def s(e: Column, name: str) -> Column:
        return F.sum(e).cast("double").alias(name)

    g = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        s(x1d, "__s1"),
        s(x2d, "__s2"),
        s(yd, "__sy"),
        s(x1d * x1d, "__s11"),
        s(x2d * x2d, "__s22"),
        s(x1d * x2d, "__s12"),
        s(x1d * yd, "__s1y"),
        s(x2d * yd, "__s2y"),
    )
    n = F.col("__n")
    s1, s2, sy = F.col("__s1"), F.col("__s2"), F.col("__sy")
    c11 = n * F.col("__s11") - s1 * s1
    c22 = n * F.col("__s22") - s2 * s2
    c12 = n * F.col("__s12") - s1 * s2
    c1y = n * F.col("__s1y") - s1 * sy
    c2y = n * F.col("__s2y") - s2 * sy
    det = c11 * c22 - c12 * c12
    b1 = (c1y * c22 - c2y * c12) / det
    b2 = (c2y * c11 - c1y * c12) / det
    ok = det > 0
    # + 0.0 normalizes ROUND's -0.0 (a tiny negative beta rounds to
    # negative zero, whose repr diverges cross-engine)
    z = F.lit(0.0)
    return g.select(
        *keys,
        n.cast("bigint").alias("n_rows"),
        F.when(ok, F.round(b1, round_to) + z).alias("beta1"),
        F.when(ok, F.round(b2, round_to) + z).alias("beta2"),
        F.when(ok, F.round((sy - b1 * s1 - b2 * s2) / n, round_to) + z).alias(
            "intercept"
        ),
    )


def trimmed_mean(
    df: DataFrame,
    keys: Sequence[str],
    value: Column,
    trim_frac: float = 0.1,
    out: str = "trimmed_mean",
) -> DataFrame:
    """Per-group trimmed mean: drop the lowest and highest
    floor(n · trim_frac) observations, mean the rest — the robust
    location estimate between mean (trim 0) and median (trim 0.5),
    standard for denoising heavy-tailed metrics (latencies, order
    sizes) without the median's information loss.

    Exactness contract: trim counts are integer floor arithmetic;
    membership is decided by a total-order rank (value, then a caller-
    irrelevant arbitrary-but-deterministic intra-tie order — ties at
    the boundary are cut by rank, matching SQL ROW_NUMBER semantics
    as long as the tie-break is the same on both engines, so pass
    integer values and trim on (value, unique_id) ordering via
    ``order_extra``-style pre-sorted input, or accept that equal
    values are interchangeable: the SUM over survivors is the same
    whichever equal-valued rows survive). The mean is an exact BIGINT
    sum divided once — NOT functions.dmean: dmean's DECIMAL(30,6)
    accumulator scales the integer sum by 10^6, and past 2^53 DuckDB's
    decimal->double conversion (int128->double, then /10^6 — two
    roundings) diverges from Spark's correctly-rounded BigDecimal cast
    by an ulp (caught at sf0.1). A raw BIGINT sum is one rounding on
    both engines. One shuffle + one window
    over the same partitioning (no second exchange).
    """
    from fractions import Fraction

    from pyspark.sql import Window

    # NULL values must not occupy ranks: Spark orders NULLS FIRST
    # ascending while DuckDB defaults to NULLS LAST, so an unfiltered
    # NULL would trim a DIFFERENT real row on each engine (and skew
    # n_kept vs the mean denominator). Same convention as
    # equal_frequency_bins: rank only non-null observations.
    sdf = df.select(*keys, value.alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    w = Window.partitionBy(*keys).orderBy("__v")
    ranked = sdf.withColumn("__r", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )
    # exact rational trim count: floor(n * 0.29) via doubles is
    # 28.999... -> 28 at n=100, off by one vs the documented
    # floor(n*frac); integer (n*num) DIV den never misrounds
    fr = Fraction(trim_frac).limit_denominator(1_000_000)
    k = F.expr(f"(__n * {fr.numerator}) DIV {fr.denominator}")
    kept = ranked.filter(
        (F.col("__r") > k) & (F.col("__r") <= F.col("__n") - k)
    )
    return kept.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        (
            F.sum("__v").cast("double")
            / F.count("__v").cast("double")
        ).alias(out),
    )


def hhi(
    df: DataFrame,
    keys: Sequence[str],
    value: Column,
    out: str = "hhi",
) -> DataFrame:
    """Herfindahl-Hirschman concentration index per group:
    HHI = Σ share_i² = Σ v_i² / (Σ v_i)² — the antitrust/market-
    concentration standard (1/n at perfect equality, 1.0 at monopoly).

    ``value`` must be a non-negative integer expression (cents): both
    sums aggregate exactly as DECIMAL(38,0) (squared cents overflow
    BIGINT), and HHI is a single division of two correctly-rounded
    decimal→double casts — bit-deterministic, no rounding needed. One
    shuffle, map-side partials.
    """
    dec = "decimal(38,0)"
    # cast BEFORE squaring: a per-entity cents total can exceed the
    # BIGINT square bound (1e10 cents squared = 1e20 > 2^63)
    vdec = value.cast(dec)
    g = df.groupBy(*keys).agg(
        F.sum(vdec).cast("double").alias("__s"),
        F.sum(vdec * vdec).cast("double").alias("__s2"),
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
    )
    return g.select(
        *keys,
        "n_entities",
        F.when(
            F.col("__s") > 0, F.col("__s2") / (F.col("__s") * F.col("__s"))
        ).alias(out),
    )


def gini(
    df: DataFrame,
    keys: Sequence[str],
    value: Column,
    out: str = "gini",
) -> DataFrame:
    """Gini coefficient per group over non-negative integer values:
    with x_(1) <= ... <= x_(n), G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n —
    0 at perfect equality, →1 at total concentration (wealth/revenue
    inequality, the lakehouse-native concentration audit).

    Computed without a row-level global sort: group to value-level
    counts, then for each distinct value v with count c and cumulative
    count b strictly below it, Σ i over its rank block is
    c·b + c(c+1)/2, so Σ i·x_(i) = Σ_v v·(c·b + c(c+1)/2) — a window
    over DISTINCT VALUES within each group (the aggregate-then-scan
    bound shared with the histogram/vocab operators). Every term is an
    exact DECIMAL(38,0) integer; the final expression is one fixed
    double chain — deterministic cross-engine, no rounding. Negative
    values are the caller's contract violation (Gini is undefined);
    filter first.
    """
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    vc = df.groupBy(*keys, value.alias("__v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = vc.withColumn("__b", F.coalesce(F.sum("__c").over(w), F.lit(0)))
    c, v = F.col("__c"), F.col("__v")
    # integer DIV keeps the triangular term exact BIGINT (c(c+1) is even)
    rank_sum = F.expr("__c * __b + (__c * (__c + 1)) DIV 2")
    term = (v.cast(dec) * rank_sum.cast(dec)).cast(dec)
    g = r.groupBy(*keys).agg(
        F.sum(term).cast("double").alias("__si"),
        F.sum((v.cast(dec) * c.cast(dec)).cast(dec)).cast("double").alias("__t"),
        F.sum(c).cast("double").alias("__n"),
    )
    n, t, si = F.col("__n"), F.col("__t"), F.col("__si")
    val = F.lit(2.0) * si / (n * t) - (n + F.lit(1.0)) / n
    return g.select(
        *keys,
        n.cast("bigint").alias("n_entities"),
        F.when(t > 0, val).alias(out),
    )


def welch_t(
    df: DataFrame,
    keys: Sequence[str],
    group: Column,
    value: Column,
    round_to: int = 6,
) -> DataFrame:
    """Welch's two-sample t statistic per key between the two arms of
    ``group`` (boolean: True = treatment, False = control):

        t = (m_t − m_c) / sqrt(v_t/n_t + v_c/n_c)

    — the unequal-variance A/B readout (never assumes pooled variance).

    ``value`` must be an integer expression (cents): per-arm n, Σv, Σv²
    aggregate exactly (DECIMAL(38,0) — squared cents can pass BIGINT),
    conditional on the arm inside ONE aggregation (no self-join, no
    second pass), then means/variances/t are a fixed double chain,
    ROUND(round_to) since the sqrt chain is inherently floating. NULL t
    when either arm has n < 2 or the variance term is 0. One shuffle.
    """
    dec = "decimal(38,0)"
    vdec = value.cast(dec)
    zero = F.lit(0).cast(dec)

    def arm(flag: Column, e, name: str):
        return F.sum(F.when(flag, e).otherwise(zero)).cast("double").alias(name)

    g = df.groupBy(*keys).agg(
        F.sum(F.when(group, 1).otherwise(0)).cast("double").alias("__nt"),
        F.sum(F.when(~group, 1).otherwise(0)).cast("double").alias("__nc"),
        arm(group, vdec, "__st"),
        arm(~group, vdec, "__sc"),
        arm(group, vdec * vdec, "__qt"),
        arm(~group, vdec * vdec, "__qc"),
    )
    nt, nc = F.col("__nt"), F.col("__nc")
    st, sc, qt, qc = F.col("__st"), F.col("__sc"), F.col("__qt"), F.col("__qc")
    mt, mc = st / nt, sc / nc
    vt = (qt - st * st / nt) / (nt - F.lit(1.0))
    vc = (qc - sc * sc / nc) / (nc - F.lit(1.0))
    se2 = vt / nt + vc / nc
    t = F.when(
        (nt > 1) & (nc > 1) & (se2 > 0),
        F.round((mt - mc) / F.sqrt(se2), round_to) + F.lit(0.0),
    )
    return g.select(
        *keys,
        nt.cast("bigint").alias("n_treat"),
        nc.cast("bigint").alias("n_control"),
        # guarded: an empty arm would make 0/0 = NaN, not NULL
        F.when(nt > 0, st / nt).alias("mean_treat"),
        F.when(nc > 0, sc / nc).alias("mean_control"),
        t.alias("t_stat"),
    )


def theil_sen(
    df: DataFrame,
    keys: Sequence[str],
    x: Column | str,
    y: Column | str,
    out: str = "ts_slope",
) -> DataFrame:
    """Per-group Theil–Sen estimator: the median of all pairwise slopes
    (y_j - y_i) / (x_j - x_i) over observations with distinct x — the
    standard robust trend (breakdown point ~29%) where OLS (ols2_fit)
    is wrecked by a single outlier week.

    Engine extension beyond the reference's plain linear_fit
    (sentiment_analysis.py:168-196). Pair generation is a self-join
    WITHIN each group (x_i < x_j), so cost is sum over groups of
    n·(n-1)/2 — callers must bound per-group cardinality upstream
    (e.g. calendar-bucketed aggregates: ≤52 weekly points per key/year
    → ≤1326 pairs per group regardless of raw data scale; the corpus
    query does exactly this). The join shuffles both sides once on the
    group key; the median ranks within the same hash partitioning (one
    window, no extra exchange).

    Exactness contract: pass integer-valued x and y (e.g. cents, week
    index) so each slope is ONE double division of exact integers —
    bit-identical cross-engine. The median orders by (slope, x_i, x_j)
    — a total order — and averages the middle one/two values; rank
    positions use integer DIV (never float floor).
    """
    from pyspark.sql import Window

    xa, ya = (F.col(x) if isinstance(x, str) else x), (
        F.col(y) if isinstance(y, str) else y
    )
    base = df.select(
        *keys, xa.cast("bigint").alias("__x"), ya.cast("bigint").alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    a = base.select(*keys, F.col("__x").alias("__xa"), F.col("__y").alias("__ya"))
    b = base.select(*keys, F.col("__x").alias("__xb"), F.col("__y").alias("__yb"))
    pairs = a.join(b, on=list(keys), how="inner").filter(
        F.col("__xa") < F.col("__xb")
    )
    slopes = pairs.select(
        *keys,
        "__xa",
        "__xb",
        (
            (F.col("__yb") - F.col("__ya")).cast("double")
            / (F.col("__xb") - F.col("__xa")).cast("double")
        ).alias("__s"),
    )
    w = Window.partitionBy(*keys).orderBy("__s", "__xa", "__xb")
    ranked = slopes.withColumn("__r", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )
    lo = F.expr("(__n + 1) DIV 2")
    hi = F.expr("__n DIV 2 + 1")
    mid = ranked.filter((F.col("__r") == lo) | (F.col("__r") == hi))
    return mid.groupBy(*keys).agg(
        F.max("__n").cast("bigint").alias("n_pairs"),
        (
            F.sum("__s").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias(out),
    )


def skyline2d_min(
    df: DataFrame,
    x: Column | str,
    y: Column | str,
    bucket_width: int,
    x_out: str = "x",
    y_out: str = "y",
) -> DataFrame:
    """2-D skyline (Pareto frontier), minimizing both dimensions: the
    distinct (x, y) points not dominated by any other point (q dominates
    p iff q.x <= p.x AND q.y <= p.y with at least one strict).

    Engine extension (multi-objective shortlist — e.g. cheapest-and-
    smallest part). Two-phase frontier-of-frontiers so no global sort of
    the full input is ever needed:

      1. distinct (x, y) pairs (one shuffle), then a window PARTITIONED
         by x-range bucket: within a bucket, sorted by (x, y), a point
         survives iff the running min of y over all earlier rows is
         > its own y — earlier rows are exactly its in-bucket potential
         dominators, so each bucket emits its LOCAL frontier (size
         bounded by the bucket's distinct y values) in parallel.
      2. the same scan globally over the survivors — a single-partition
         window, safe because phase 1 bounds its input to
         n_buckets × |distinct y| points, independent of row count.

    At 100 TB: phase 1 is embarrassingly parallel after one dedup
    shuffle; phase 2's input is tiny by construction. Pass integer
    dimensions (cents, sizes) — dominance is then exact on both engines.
    """
    from pyspark.sql import Window

    if int(bucket_width) <= 0:
        raise ValueError(
            f"bucket_width must be a positive integer, got {bucket_width}: "
            "`__x DIV 0` silently yields NULL buckets (one giant "
            "partition) under non-ANSI Spark"
        )
    xa = (F.col(x) if isinstance(x, str) else x).cast("bigint")
    ya = (F.col(y) if isinstance(y, str) else y).cast("bigint")
    pts = (
        df.select(xa.alias("__x"), ya.alias("__y"))
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .distinct()
    )

    def _frontier(d: DataFrame, part_cols: list[str]) -> DataFrame:
        w = (
            Window.partitionBy(*part_cols)
            if part_cols
            else Window.partitionBy(F.lit(0))
        )
        w = w.orderBy("__x", "__y").rowsBetween(
            Window.unboundedPreceding, -1
        )
        return (
            d.withColumn("__m", F.min("__y").over(w))
            .filter(F.col("__m").isNull() | (F.col("__m") > F.col("__y")))
            .drop("__m")
        )

    local = _frontier(
        pts.withColumn("__b", F.expr(f"__x DIV {int(bucket_width)}")), ["__b"]
    ).drop("__b")
    return _frontier(local, []).select(
        F.col("__x").alias(x_out), F.col("__y").alias(y_out)
    )


def _double_rank(keys: Sequence[str], value: str) -> Column:
    """2× the average (midrank) tie rank of ``value`` within ``keys`` —
    an exact INTEGER (avg tie rank is a half-integer): cnt_le + rank,
    where cnt_le counts rows with value <= current (RANGE frame) and
    rank() counts strictly-smaller + 1. Both ride ONE window spec
    (same partition, same order), so one shuffle + one sort."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(value)
    cnt_le = F.count(F.lit(1)).over(
        w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cnt_le + F.rank().over(w)


def spearman_rho(
    df: DataFrame,
    keys: Sequence[str],
    x: Column,
    y: Column,
    round_to: int = 6,
    out: str = "rho",
) -> DataFrame:
    """Per-group Spearman rank correlation — Pearson over midrank-tied
    ranks: the monotone-association measure that is outlier- and
    scale-immune where grouped Pearson (aggregates.grouped_corr) is not.

    Ranks are 2× the average tie rank (:func:`_double_rank`) — exact
    integers, and the doubling cancels in the correlation — so the five
    moment sums aggregate exactly as DECIMAL(38,0) (ols2_fit
    convention) and rho is ONE fixed double chain, ROUND(round_to),
    -0.0-normalized. NULL when either margin is constant (zero
    variance). Cost: one shuffle on keys, two sorts (one per variable's
    ranking) within the same partitioning, then the grouped aggregate.
    """
    dec = "decimal(38,0)"
    # NULLs must not occupy ranks: Spark orders NULLS FIRST ascending,
    # DuckDB NULLS LAST, so an unfiltered NULL would shift every real
    # row's rank differently per engine (trimmed_mean convention).
    ranked = df.select(
        *keys, x.alias("__xv"), y.alias("__yv")
    ).filter(
        F.col("__xv").isNotNull() & F.col("__yv").isNotNull()
    ).select(
        *keys,
        _double_rank(keys, "__xv").alias("__rx"),
        _double_rank(keys, "__yv").alias("__ry"),
    )
    rx, ry = F.col("__rx").cast(dec), F.col("__ry").cast(dec)
    g = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(rx).cast("double").alias("__sx"),
        F.sum(ry).cast("double").alias("__sy"),
        F.sum(rx * ry).cast("double").alias("__sxy"),
        F.sum(rx * rx).cast("double").alias("__sxx"),
        F.sum(ry * ry).cast("double").alias("__syy"),
    )
    n = F.col("__n")
    sx, sy = F.col("__sx"), F.col("__sy")
    cxx = n * F.col("__sxx") - sx * sx
    cyy = n * F.col("__syy") - sy * sy
    cxy = n * F.col("__sxy") - sx * sy
    ok = (cxx > 0) & (cyy > 0)
    return g.select(
        *keys,
        n.cast("bigint").alias("n_rows"),
        F.when(ok, F.round(cxy / F.sqrt(cxx * cyy), round_to) + F.lit(0.0)).alias(
            out
        ),
    )


def mann_whitney_u(
    df: DataFrame,
    keys: Sequence[str],
    value: Column,
    group: Column,
    round_to: int = 6,
) -> DataFrame:
    """Per-group Mann–Whitney U (Wilcoxon rank-sum) with tie-corrected
    normal approximation — the rank-based two-sample test next to
    :func:`welch_t`: compares whole distributions, immune to outliers
    and monotone transforms.

    All statistics derive from exact integers in one ranked pass:
    ranks are 2× midranks (:func:`_double_rank`), so 2·R1 and
    2·U1 = 2·R1 − n1(n1+1) are exact; the tie term Σ(t³−t) is summed
    ROW-wise as Σ(t²−1) (each tied row contributes (t³−t)/t — no
    distinct-value pass needed), with t = cnt_le − (rank−1) from the
    same window. z = (2U1 − n1n2) / (2·sqrt(var)), var = (n1n2/12)·
    ((n+1) − Σ(t³−t)/(n(n−1))) — one fixed double chain, ROUND,
    -0.0-normalized; NULL when an arm is empty or variance degenerates
    (all values tied). U is reported exactly (halves are exact doubles).
    """
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    # NULL-rank discipline (spearman_rho / trimmed_mean), and rows whose
    # GROUP membership is unknown (NULL) are excluded rather than
    # silently lumped into the control arm — they'd occupy ranks and
    # bias U/z against a scipy run on the two actual arms.
    base = df.select(*keys, value.alias("__v"), group.alias("__g")).filter(
        F.col("__v").isNotNull() & F.col("__g").isNotNull()
    )
    w = Window.partitionBy(*keys).orderBy("__v")
    cnt_le = F.count(F.lit(1)).over(
        w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rk = F.rank().over(w)
    ranked = base.select(
        *keys,
        "__g",
        (cnt_le + rk).alias("__r2"),
        (cnt_le - (rk - F.lit(1))).alias("__t"),
    )
    t = F.col("__t").cast(dec)
    g = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(F.when(F.col("__g"), 1).otherwise(0)).cast("bigint").alias("__n1"),
        F.sum(F.when(F.col("__g"), F.col("__r2").cast(dec)).otherwise(F.lit(0).cast(dec)))
        .cast("double")
        .alias("__r1x2"),
        F.sum(t * t - F.lit(1).cast(dec)).cast("double").alias("__tcorr"),
    )
    n = F.col("__n").cast("double")
    n1 = F.col("__n1").cast("double")
    n2 = n - n1
    u2 = F.col("__r1x2") - n1 * (n1 + F.lit(1.0))
    var = (n1 * n2 / F.lit(12.0)) * (
        (n + F.lit(1.0)) - F.col("__tcorr") / (n * (n - F.lit(1.0)))
    )
    ok = (F.col("__n1") > 0) & (F.col("__n1") < F.col("__n")) & (var > 0)
    return g.select(
        *keys,
        F.col("__n1").alias("n_treat"),
        (F.col("__n") - F.col("__n1")).cast("bigint").alias("n_control"),
        (u2 / F.lit(2.0)).alias("u_stat"),
        F.when(
            ok,
            F.round((u2 - n1 * n2) / (F.lit(2.0) * F.sqrt(var)), round_to)
            + F.lit(0.0),
        ).alias("z_stat"),
    )


def km_survival(
    df: DataFrame,
    duration: Column,
    event: Column,
    round_to: int = 6,
) -> DataFrame:
    """Kaplan–Meier survival curve over (integer duration, 0/1 event)
    subjects — right-censoring-aware time-to-event analysis (reorder
    latency, churn, ticket resolution): S(t) = Π_{t_i<=t} (1 − d_i/n_i)
    over event times t_i, with d_i events at t_i and n_i subjects still
    at risk.

    Shape: one groupBy(duration) reduces subjects to per-time counts;
    the at-risk series and the cumulative product then run as GLOBAL
    windows over DISTINCT DURATIONS ONLY — callers bound that
    cardinality (cap/bucket durations, e.g. censor at a horizon H →
    <= H+1 rows), which is what keeps the single-partition window safe
    at any subject count. The product is exp(Σ ln((n_i−d_i)/n_i)) —
    each step one exact-integer division then ln, survival ROUND'd as
    an inherently-floating chain; after the at-risk set empties
    (d = n at some step, ln 0 undefined) survival is pinned to 0 on
    both engines via a cumulative extinct flag.

    Output: duration, n_risk, n_events, survival — event times only.
    """
    from pyspark.sql import Window

    per_t = (
        df.select(duration.cast("bigint").alias("t"), event.cast("int").alias("__e"))
        .filter(F.col("t").isNotNull())
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__c"),
            F.sum("__e").cast("bigint").alias("n_events"),
        )
    )
    wall = Window.partitionBy(F.lit(0)).orderBy("t")
    before = F.coalesce(
        F.sum("__c").over(wall.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    total = F.sum("__c").over(
        Window.partitionBy(F.lit(0)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    risked = per_t.withColumn("n_risk", (total - before).cast("bigint"))
    ev = risked.filter(F.col("n_events") > 0)
    wev = Window.partitionBy(F.lit(0)).orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    step = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.log(
            (F.col("n_risk") - F.col("n_events")).cast("double")
            / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    extinct = F.max(
        F.when(F.col("n_events") >= F.col("n_risk"), 1).otherwise(0)
    ).over(wev)
    surv = F.when(extinct == 1, F.lit(0.0)).otherwise(
        F.exp(F.sum(step).over(wev))
    )
    return ev.select(
        "t",
        "n_risk",
        "n_events",
        (F.round(surv, round_to) + F.lit(0.0)).alias("survival"),
    )


def decision_stump(
    df: DataFrame,
    keys: Sequence[str],
    feature: Column,
    label: Column,
    round_to: int = 6,
) -> DataFrame:
    """Per-group exact best-split search for a single-feature decision
    stump on a binary label: the threshold v minimizing weighted Gini
    impurity of the (feature <= v | feature > v) split — the building
    block distributed tree learners evaluate per feature per node.

    Scale shape: the fact reduces FIRST to per-distinct-value class
    counts (one shuffle); prefix sums + impurity then run over
    CANDIDATE SPLITS ONLY (window partitioned by keys, ordered by
    value) — for integer/binned features that's tens of rows per group
    however large the input, exactly the histogram-split strategy
    scalable GBDT implementations use. All counts are exact integers;
    the impurity chain is fixed-order double math, identical on both
    engines, so the argmin row (ties broken by smallest threshold) is
    deterministic. Trivial splits (empty right side) are excluded;
    single-valued groups yield no row.

    Output: keys, threshold, n_left, pos_left, n_right, pos_right,
    gain (parent Gini − weighted child Gini, ROUND'd).
    """
    from pyspark.sql import Window

    per_v = (
        df.select(
            *keys,
            feature.cast("bigint").alias("__v"),
            F.when(label, 1).otherwise(0).alias("__y"),
        )
        .filter(F.col("__v").isNotNull())
        .groupBy(*keys, "__v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__c"),
            F.sum("__y").cast("bigint").alias("__p"),
        )
    )
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*keys)
    cur = per_v.select(
        *keys,
        "__v",
        F.sum("__c").over(wcum).alias("__nl"),
        F.sum("__p").over(wcum).alias("__pl"),
        F.sum("__c").over(wall).alias("__n"),
        F.sum("__p").over(wall).alias("__p_tot"),
    ).filter(F.col("__n") > F.col("__nl"))
    nl = F.col("__nl").cast("double")
    pl = F.col("__pl").cast("double")
    n = F.col("__n").cast("double")
    p = F.col("__p_tot").cast("double")
    nr = n - nl
    pr = p - pl
    gl = F.lit(1.0) - (pl / nl) * (pl / nl) - ((nl - pl) / nl) * ((nl - pl) / nl)
    gr = (
        F.lit(1.0) - (pr / nr) * (pr / nr) - ((nr - pr) / nr) * ((nr - pr) / nr)
    )
    gp = F.lit(1.0) - (p / n) * (p / n) - ((n - p) / n) * ((n - p) / n)
    wg = (nl * gl + nr * gr) / n
    scored = cur.select(
        *keys,
        "__v",
        "__nl",
        "__pl",
        (F.col("__n") - F.col("__nl")).cast("bigint").alias("__nr"),
        (F.col("__p_tot") - F.col("__pl")).cast("bigint").alias("__pr"),
        (gp - wg).alias("__gain"),
    )
    wbest = Window.partitionBy(*keys).orderBy(
        F.col("__gain").desc(), F.col("__v")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(wbest))
        .filter(F.col("__rn") == 1)
        .select(
            *keys,
            F.col("__v").alias("threshold"),
            F.col("__nl").alias("n_left"),
            F.col("__pl").alias("pos_left"),
            F.col("__nr").alias("n_right"),
            F.col("__pr").alias("pos_right"),
            (F.round(F.col("__gain"), round_to) + F.lit(0.0)).alias("gain"),
        )
    )


def mutual_information(
    df: DataFrame,
    x: Column,
    y: Column,
    round_to: int = 6,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns —
    the symmetric dependence measure beside the chi-square mix-shift
    screen: MI = Σ_xy (n_xy/n)·ln(n·n_xy / (n_x·n_y)).

    One shuffle to the joint contingency table; both margins come from
    WINDOW sums over that table (partitioned by x / by y) — the fact is
    never rescanned, and every count is an exact integer. The ln-term
    sum is an inherently-floating aggregate → ROUND'd per the corpus
    float convention. Output: one row (n, mi_nats).

    NULL discipline: rows where either column is NULL are excluded
    (same convention as spearman_rho / mann_whitney_u / trimmed_mean) —
    a missing observation is not a category of its own.
    """
    from pyspark.sql import Window

    joint = (
        df.select(x.alias("__x"), y.alias("__y"))
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__x", "__y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__nxy"))
    )
    nx = F.sum("__nxy").over(Window.partitionBy("__x"))
    ny = F.sum("__nxy").over(Window.partitionBy("__y"))
    n = F.sum("__nxy").over(
        Window.partitionBy(F.lit(0)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    terms = joint.select(
        F.col("__nxy"),
        nx.alias("__nx"),
        ny.alias("__ny"),
        n.alias("__n"),
    ).select(
        F.col("__n"),
        (
            (F.col("__nxy").cast("double") / F.col("__n").cast("double"))
            * F.log(
                (F.col("__n").cast("double") * F.col("__nxy").cast("double"))
                / (F.col("__nx").cast("double") * F.col("__ny").cast("double"))
            )
        ).alias("__term"),
    )
    return terms.groupBy().agg(
        F.max("__n").cast("bigint").alias("n"),
        (F.round(F.sum("__term"), round_to) + F.lit(0.0)).alias("mi_nats"),
    )


def roc_auc(
    df: DataFrame,
    keys: Sequence[str],
    score: Column,
    label: Column,
    out: str = "auc",
) -> DataFrame:
    """Per-group ROC AUC of a numeric score against a binary label —
    the rank-based (Mann-Whitney) identity, so no threshold sweep and
    no curve materialization: AUC = P(score_pos > score_neg) +
    ½·P(tie) = (S − n₁(n₁+1)) / (2·n₁·n₀), where S is the sum over
    positives of 2×midrank (:func:`_double_rank` — an exact INTEGER).

    Everything up to the final quotient is exact integer arithmetic
    from ONE ranked pass (the spearman/MWU window discipline: one
    shuffle on the group key); the quotient is a single IEEE division,
    bit-identical cross-engine. NULL score/label rows are excluded;
    single-class groups yield NULL AUC. Output: (keys..., n_pos,
    n_neg, auc).
    """
    sdf = df.select(
        *keys, score.alias("__v"), label.cast("boolean").alias("__y")
    ).filter(F.col("__v").isNotNull() & F.col("__y").isNotNull())
    ranked = sdf.select(
        *keys, "__y", _double_rank(keys, "__v").alias("__dr")
    )
    g = ranked.groupBy(*keys).agg(
        F.sum(F.when(F.col("__y"), F.col("__dr")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("__s"),
        F.sum(F.when(F.col("__y"), 1).otherwise(0))
        .cast("bigint")
        .alias("__n1"),
        F.sum(F.when(~F.col("__y"), 1).otherwise(0))
        .cast("bigint")
        .alias("__n0"),
    )
    auc = F.when(
        (F.col("__n1") > 0) & (F.col("__n0") > 0),
        (F.col("__s") - F.col("__n1") * (F.col("__n1") + 1)).cast("double")
        / (F.lit(2.0) * (F.col("__n1") * F.col("__n0")).cast("double")),
    )
    return g.select(
        *keys,
        F.col("__n1").alias("n_pos"),
        F.col("__n0").alias("n_neg"),
        auc.alias(out),
    )


def hbos_scores(
    df: DataFrame,
    features: Sequence[str],
    n_bins: int = 10,
    out: str = "hbos",
) -> DataFrame:
    """HBOS (histogram-based outlier score): per row, Σ over features
    of ln(max_bin_count_f / bin_count_f(row)) — the linear-time,
    feature-independent anomaly score (Goldstein & Dengel 2012): rows
    falling in sparse histogram bins on several features score high.
    The robust complement to zscore_flags/mad_outliers when the shape
    is multimodal.

    ``features`` must be INTEGER-valued columns (cents, day numbers):
    each feature's equi-width bin is ((v − min)·n_bins) DIV
    (max − min + 1) — pure integer arithmetic, so bin membership is
    exact cross-engine; only the final ln-sum floats (consumers
    ROUND). Empty-range features (min == max) contribute 0.

    Plan: per feature one global min/max (1-row broadcast), one
    bin-count aggregation (≤ n_bins rows, broadcast back), then a
    fixed-order scoring projection — the fact table never shuffles.
    NULL feature values score like an empty bin is avoided by
    excluding the row from that feature's term (contributes 0).
    """
    if not features:
        raise ValueError("hbos_scores needs at least one feature column")
    scored = df

    def _bin_expr(f: str) -> Column:
        # integer floor division: both engines' DIV on non-negatives
        return F.expr(
            f"CASE WHEN {f} IS NOT NULL AND __mx_{f} > __mn_{f} "
            f"THEN (CAST({f} AS BIGINT) - __mn_{f}) * {int(n_bins)} "
            f"DIV (__mx_{f} - __mn_{f} + 1) END"
        )

    for f in features:
        v = F.col(f).cast("bigint")
        stats = df.agg(
            F.min(v).alias(f"__mn_{f}"), F.max(v).alias(f"__mx_{f}")
        )
        # each feature's histogram derives from the ORIGINAL df (plus
        # its own stats broadcast), never from the accumulated `scored`
        # plan — otherwise each histogram subtree would embed every
        # prior feature's join pipeline and the unresolved plan would
        # grow O(3^F) with feature count
        hist = (
            df.crossJoin(F.broadcast(stats))
            .select(_bin_expr(f).alias(f"__bin_{f}"))
            .filter(F.col(f"__bin_{f}").isNotNull())
            .groupBy(f"__bin_{f}")
            .agg(F.count(F.lit(1)).cast("bigint").alias(f"__c_{f}"))
        )
        hmax = hist.agg(F.max(f"__c_{f}").alias(f"__cmax_{f}"))
        term = F.when(
            F.col(f"__c_{f}").isNotNull(),
            F.log(
                F.col(f"__cmax_{f}").cast("double")
                / F.col(f"__c_{f}").cast("double")
            ),
        ).otherwise(F.lit(0.0))
        scored = (
            scored.crossJoin(F.broadcast(stats))
            .withColumn(f"__bin_{f}", _bin_expr(f))
            .drop(f"__mn_{f}", f"__mx_{f}")
            .join(F.broadcast(hist), f"__bin_{f}", "left")
            .crossJoin(F.broadcast(hmax))
            .withColumn(f"__t_{f}", term)
            .drop(f"__bin_{f}", f"__c_{f}", f"__cmax_{f}")
        )
    score: Column = F.col(f"__t_{features[0]}")
    for f in features[1:]:
        score = score + F.col(f"__t_{f}")
    return scored.withColumn(out, score).drop(
        *[f"__t_{f}" for f in features]
    )


def diff_in_diff(
    df: DataFrame,
    treated: Column,
    post: Column,
    outcome: Column,
) -> DataFrame:
    """Difference-in-differences estimator on a 2×2 design: the causal
    readout beside event_study — DiD = (post_T − pre_T) − (post_C −
    pre_C), the treatment effect under the parallel-trends assumption.

    ``outcome`` must be an integer expression (cents): the four cell
    sums/counts aggregate exactly in ONE pass (conditional aggregation,
    no joins), each mean is a single IEEE division, and the DiD is a
    fixed subtraction chain — bit-identical cross-engine. Rows with
    NULL treated/post/outcome are excluded. Cells with no rows yield
    NULL means and a NULL estimate.

    Output: one row (n, pre_c_mean, post_c_mean, pre_t_mean,
    post_t_mean, did).
    """
    t = treated.cast("boolean")
    p = post.cast("boolean")
    v = outcome.cast("bigint")
    base = df.select(
        t.alias("__t"), p.alias("__p"), v.alias("__v")
    ).filter(
        F.col("__t").isNotNull()
        & F.col("__p").isNotNull()
        & F.col("__v").isNotNull()
    )

    def cell(tt: bool, pp: bool, name: str) -> list[Column]:
        cond = (F.col("__t") == tt) & (F.col("__p") == pp)
        return [
            F.sum(F.when(cond, F.col("__v")).otherwise(0))
            .cast("bigint")
            .alias(f"__s_{name}"),
            F.sum(F.when(cond, 1).otherwise(0))
            .cast("bigint")
            .alias(f"__n_{name}"),
        ]

    g = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *cell(False, False, "pre_c"),
        *cell(False, True, "post_c"),
        *cell(True, False, "pre_t"),
        *cell(True, True, "post_t"),
    )

    def mean(name: str) -> Column:
        return F.when(
            F.col(f"__n_{name}") > 0,
            F.col(f"__s_{name}").cast("double")
            / F.col(f"__n_{name}").cast("double"),
        )

    m = {k: mean(k) for k in ("pre_c", "post_c", "pre_t", "post_t")}
    did = (m["post_t"] - m["pre_t"]) - (m["post_c"] - m["pre_c"])
    return g.select(
        "n",
        m["pre_c"].alias("pre_c_mean"),
        m["post_c"].alias("post_c_mean"),
        m["pre_t"].alias("pre_t_mean"),
        m["post_t"].alias("post_t_mean"),
        did.alias("did"),
    )
