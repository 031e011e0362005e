"""Deterministic sampling / dataset-split operators (LLM-data extension).

A training-data pipeline needs REPRODUCIBLE sampling: the same row must
land in the same split on every run, on any cluster size, regardless of
partitioning — which rules out rand() and TABLESAMPLE. Everything here
keys off a content hash of a stable id column:

  bucket(id) = md5(salt:id) first-7-hex-digits mod 10_000

Pure Column expressions (JVM-side, embarrassingly parallel, no shuffle),
and the arithmetic is plain SQL so DuckDB oracles reproduce every split
bit-for-bit. Changing ``salt`` re-draws the whole assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Bucket resolution: fractions are quantized to 1/10_000.
BUCKETS = 10_000


def hash_bucket(id_col: Column, salt: str = "split") -> Column:
    """Deterministic bucket in [0, BUCKETS) from md5(salt:id).

    Uses the first 7 hex digits (28 bits) — same md5-prefix-to-int idiom
    as the dedup/minhash operators, portable to any SQL engine."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), id_col.cast("string")))
    return (F.conv(F.substring(h, 1, 7), 16, 10).cast("bigint") % BUCKETS).cast("int")


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
    out: str = "split",
) -> DataFrame:
    """Assign every row a deterministic train/val/test split label.

    ``weights`` maps label -> fraction (must sum to <= 1; any remainder
    falls into the LAST label). Assignment is by cumulative bucket
    thresholds, so enlarging one split keeps all previously-assigned
    rows of earlier splits stable — the property that makes incremental
    dataset growth reproducible.
    """
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    b = hash_bucket(F.col(id_col), salt)
    expr = None
    cum = 0.0
    labels = list(weights)
    for label in labels[:-1]:
        cum += weights[label]
        cond = b < int(round(cum * BUCKETS))
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last = F.lit(labels[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out, expr)


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages, keep all of rare ones): ``fractions`` maps stratum value ->
    keep-fraction; strata not listed keep ``default_fraction``.

    The per-stratum threshold is a small CASE expression — no join, no
    shuffle; rows stream through the filter in place. The id hash is
    salted with the stratum so re-balancing one stratum never reshuffles
    another's survivors.
    """
    b = hash_bucket(F.col(id_col), salt)
    thr = None
    for value, frac in fractions.items():
        cond = F.col(stratum_col) == value
        t = int(round(frac * BUCKETS))
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    default_t = int(round(default_fraction * BUCKETS))
    thr = F.lit(default_t) if thr is None else thr.otherwise(default_t)
    return df.filter(b < thr)


def pack_sequences(
    df: DataFrame,
    token_count: Column,
    id_col: str = "doc_id",
    partition_by: tuple[str, ...] = ("source",),
    order_by: list | None = None,
    capacity: int = 2048,
) -> DataFrame:
    """GPT-style sequence packing (concat-and-chunk): documents are laid
    end-to-end in a deterministic order and cut into fixed ``capacity``-
    token context windows; each doc maps to the bin range its tokens span.

    Output per row: ``n_tokens``, ``start_offset`` (tokens before this doc
    in its pack group), ``first_bin`` / ``last_bin`` (floor(offset /
    capacity) of the doc's first and last token), ``n_bins_spanned``.
    Zero-token docs get NULL bins and span 0.

    Shape at scale: packing is inherently sequential, so it runs PER PACK
    GROUP (``partition_by``, default the ``source`` shard) — one window
    cumsum per group, groups packed in parallel across the cluster. A
    single global pack order would serialize 100 TB through one
    partition; per-shard packing is what production pipelines do (shard
    boundaries waste at most one partial bin each).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*partition_by).orderBy(*(order_by or [id_col]))
    d = df.withColumn("__nt", token_count.cast("bigint")).withColumn(
        "__cum",
        F.sum("__nt").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    start = F.col("__cum") - F.col("__nt")
    cap = F.lit(float(capacity))
    fb = F.floor(start.cast("double") / cap).cast("bigint")
    lb = F.floor((F.col("__cum") - 1).cast("double") / cap).cast("bigint")
    nt = F.col("__nt")
    return d.select(
        *partition_by,
        id_col,
        nt.alias("n_tokens"),
        start.alias("start_offset"),
        F.when(nt > 0, fb).alias("first_bin"),
        F.when(nt > 0, lb).alias("last_bin"),
        F.when(nt > 0, lb - fb + 1).otherwise(F.lit(0)).cast("bigint").alias(
            "n_bins_spanned"
        ),
    )


def mixture_thresholds(
    df: DataFrame, stratum_col: str, weights: dict[str, float]
) -> DataFrame:
    """Per-stratum keep-thresholds (stratum_col, __thr) realizing the
    target mixture ``weights`` at the largest no-upsampling total
    T = min_s(n_s / w_s): keep bucket < floor(w_s·T/n_s·BUCKETS).
    Exact BIGINT counts through one fixed double expression tree —
    reproducible across engines. The threshold table is strata-sized
    (always broadcastable); shared by :func:`mixture_resample` and the
    curation-funnel composition."""
    w_expr = None
    for val, w in weights.items():
        cond = F.col(stratum_col) == val
        lw = F.lit(float(w))
        w_expr = F.when(cond, lw) if w_expr is None else w_expr.when(cond, lw)
    counts = (
        df.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__w", w_expr)
        .filter(F.col("__w").isNotNull())
    )
    tmin = counts.agg(
        F.min(F.col("__n").cast("double") / F.col("__w")).alias("__tmin")
    )
    return (
        counts.crossJoin(F.broadcast(tmin))
        .withColumn(
            "__thr",
            F.floor(
                F.col("__w")
                * F.col("__tmin")
                / F.col("__n").cast("double")
                * F.lit(BUCKETS)
            ),
        )
        .select(stratum_col, "__thr")
    )


def mixture_resample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    weights: dict[str, float],
    salt: str = "mixture",
) -> DataFrame:
    """Deterministic resampling to a TARGET MIXTURE: given desired
    proportions per stratum (e.g. web 0.5 / books 0.3 / code 0.2),
    derive the per-stratum keep-rates that realize those proportions at
    the largest total achievable WITHOUT upsampling, then apply the
    salted-hash Bernoulli filter — the data-mixing step of LLM training
    set construction (stratified_hash_sample is the fixed-rate
    primitive; this derives the rates from the target).

    T = min_s(n_s / w_s) is the feasible total (the binding stratum
    keeps 100%); keep_s = w_s·T/n_s. Rates come from exact BIGINT
    counts through one fixed double expression tree, so thresholds are
    reproducible across engines and clusters. Strata absent from
    ``weights`` are dropped.

    Execution: one count aggregation (rows = strata), a 1-row global
    min, both broadcast back — the corpus never shuffles; expected
    output size is w_s·T per stratum (exactly proportional in hash
    buckets, ±quantization of 1/BUCKETS).
    """
    thr = mixture_thresholds(df, stratum_col, weights)
    b = hash_bucket(F.col(id_col), salt)
    return (
        df.join(F.broadcast(thr), stratum_col)
        .filter(b.cast("bigint") < F.col("__thr"))
        .drop("__thr")
    )


def weighted_poisson_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    expected_k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic WEIGHTED sampling (Poisson design): row i survives
    with probability min(1, expected_k * w_i / W) where W = total weight,
    so the expected sample size is ~expected_k and inclusion probability
    is proportional to weight — the standard design for importance-
    weighted corpus subsampling (long docs sampled more often, each
    surviving row reweightable by 1/p for unbiased estimates).

    The coin flip is the salted 28-bit md5 bucket vs an integer
    threshold: keep iff  h * W < expected_k * w * 2^28,  evaluated in
    DECIMAL(38,0) so it never overflows at any corpus weight (100 TB:
    W ~ 1e14 → product ~ 1e22, well inside 38 digits). No rand(), no
    floats — bit-reproducible on any engine/cluster/partitioning.

    One broadcast of the 1-row total; the filter itself is
    embarrassingly parallel.
    """
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    h28 = F.conv(F.substring(h, 1, 7), 16, 10).cast("decimal(38,0)")
    total = df.agg(
        F.sum(F.col(weight_col).cast("bigint")).cast("decimal(38,0)").alias("__W")
    )
    lhs = h28 * F.col("__W")
    rhs = (
        F.lit(expected_k).cast("decimal(38,0)")
        * F.col(weight_col).cast("decimal(38,0)")
        * F.lit(1 << 28).cast("decimal(38,0)")
    )
    return (
        df.crossJoin(F.broadcast(total))
        .filter(lhs < rhs)
        .drop("__W")
    )


def exact_k_sample(
    df: DataFrame, id_col: str, k: int, salt: str = "exk"
) -> DataFrame:
    """Deterministic uniform sample of EXACTLY k rows (vs the ~k of
    Poisson/Bernoulli designs): rank every row by its salted md5 and
    keep the k smallest digests. The hash is a random-uniform key that
    is identical on every run/engine/cluster, so the sample is
    reproducible AND exact-size — what Bernoulli can't give and
    reservoir sampling gives only sequentially.

    Plan shape: TakeOrderedAndProject (per-partition k-heaps, driver
    merges k·partitions rows) — no global sort, no shuffle of the
    un-sampled remainder.
    """
    key = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    return (
        df.withColumn("__k", key)
        .orderBy("__k")
        .limit(k)
        .drop("__k")
    )


def exact_k_per_group(
    df: DataFrame,
    keys: Sequence[str],
    id_col: str,
    k: int,
    salt: str = "exkg",
) -> DataFrame:
    """Deterministic uniform sample of EXACTLY k rows PER GROUP (the
    distributed stand-in for per-key reservoir sampling): rank each
    group's rows by salted md5 of the row id and keep the k smallest —
    k docs per source/language is the mixture-curation primitive that
    caps every stratum without a second pass. Groups smaller than k
    survive whole. Same reproducibility contract as
    :func:`exact_k_sample`: the hash is identical on every run/engine/
    cluster. PRECONDITION: ``id_col`` must be row-unique within each
    group (same contract kmv_quantile_sketch documents) — duplicate
    ids hash identically, making row_number order among those ties
    nondeterministic across runs/engines.

    Plan shape: the rank filter is pushed into WindowGroupLimit
    (Partial before the exchange, Final after) — each input partition
    is pre-pruned to its local per-group top-k BEFORE shuffling, so
    shuffle volume is bounded by k·groups·partitions, never the raw
    row count, and there is no global sort (asserted in
    tests/test_plans.py).
    """
    from pyspark.sql import Window

    key = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(*keys).orderBy(F.col("__k"))
    return (
        df.withColumn("__k", key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .drop("__k", "__rn")
    )


def srm_check(
    df: DataFrame,
    id_col: str,
    arms: Sequence[tuple[str, int]],
    salt: str = "ab",
) -> DataFrame:
    """Sample-ratio-mismatch check for a hash-based experiment
    assignment — the first gate every A/B readout must pass: assign
    each unit to an arm by its deterministic md5 bucket (same
    reproducibility contract as :func:`hash_split`), then compare
    observed arm counts to the design ratios with a chi-square
    statistic. A large chi2 means the assignment or logging pipeline
    is dropping units non-randomly and the experiment is invalid.

    ``arms`` is [(name, bucket_width), ...] over the BUCKETS space
    (widths sum to <= BUCKETS; remaining buckets are excluded, which
    the design ratios account for). Counts are exact integers; each
    expected value and chi2 term is a fixed double chain —
    bit-identical cross-engine.

    Output: one row per DESIGNED arm (arm, n, expected, chi2_term) —
    the arm spec is left-joined against observed counts, so an arm
    with ZERO observed units still emits a row with n=0 and its full
    chi2 term (the most extreme mismatch case must not vanish from
    the statistic). Sum the terms for the statistic (df = arms-1);
    distinct unit ids are counted, so duplicate exposure rows don't
    skew the ratio.
    """
    total_width = sum(w for _, w in arms)
    b = hash_bucket(F.col(id_col), salt)
    edges: list[tuple[str, int, int]] = []
    lo = 0
    for name, w in arms:
        edges.append((name, lo, lo + w))
        lo += w
    arm = None
    for name, a, z in edges:
        cond = (b >= a) & (b < z)
        arm = F.when(cond, name) if arm is None else arm.when(cond, name)
    assigned = (
        df.select(F.col(id_col).alias("__id"), arm.alias("arm"))
        .filter(F.col("arm").isNotNull())
        .distinct()
    )
    counts = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # Left-join the DESIGNED arm spec against observed counts so an
    # arm with zero observed units still contributes its full chi2
    # term (n=0) instead of silently disappearing from the statistic.
    spec = df.sparkSession.createDataFrame(
        [(name, int(w)) for name, w in arms], "arm string, __w int"
    )
    full = spec.join(F.broadcast(counts), "arm", "left").withColumn(
        "n", F.coalesce(F.col("n"), F.lit(0)).cast("bigint")
    )
    tot = full.agg(F.sum("n").cast("bigint").alias("__N"))
    j = full.crossJoin(F.broadcast(tot))
    expected = (
        F.col("__N").cast("double")
        * F.col("__w").cast("double")
        / F.lit(float(total_width))
    )
    term = F.when(
        expected > 0,
        (F.col("n").cast("double") - expected)
        * (F.col("n").cast("double") - expected)
        / expected,
    )
    return j.select(
        "arm", "n", expected.alias("expected"), term.alias("chi2_term")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "split",
    max_iterations: int = 20,
) -> DataFrame:
    """Train/val/test split that can never leak near-duplicates across
    splits: cluster the near-dup pair graph (dedup.duplicate_clusters),
    then hash-assign the CLUSTER id — every member of a cluster lands in
    the same split, so a test document's paraphrase cannot sit in train
    (the contamination mode a plain per-doc hash_split permits).

    Same determinism contract as :func:`hash_split` (md5 bucket of
    salt:cluster_id): reruns, cluster-size changes, and repartitioning
    cannot move a document between splits unless its cluster membership
    itself changes. Singleton docs are their own cluster, so for them
    this degrades to hash_split on the id.

    Output: (id, cluster_id, split) — join back to the payload by id;
    only ids and labels enter the clustering shuffles.
    """
    from financial_data_lakehouse_pipeline__spark.operators.dedup import (
        duplicate_clusters,
    )

    clusters = duplicate_clusters(df, pairs, id_col, max_iterations).select(
        id_col, "cluster_id"
    )
    return hash_split(clusters, "cluster_id", weights, salt)
