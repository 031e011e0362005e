"""Embedding similarity search (LLM-data extension).

Over an `embeddings(vec_id, embedding array<float>, ...)` table:

  brute_force_topk    exact cosine top-k — broadcast the (small) query set
                      against the full corpus; the correctness baseline.
  cosine_neardup      all pairs above a cosine threshold (sign-LSH
                      bucketed, verified exactly).
  signlsh_topk        the scale path for top-k: candidates restricted to
                      matching sign-LSH buckets (random-hyperplane sketch),
                      exact cosine within bucket. Probe count trades
                      recall vs cost.

Vector math is pure Column expressions (zip_with + aggregate fold, JVM
codegen) — no Python per row. At 100 TB the corpus side never broadcasts:
queries broadcast, corpus streams, and bucketing bounds the join fan-out.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.functions import cosine_similarity, dot
from financial_data_lakehouse_pipeline__spark.sources import scan_parallelism_floor


def _sim(a: Column, b: Column) -> Column:
    return cosine_similarity(a, b)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Broadcast-joins the query set against the corpus (query set assumed
    small; for query sets too large to broadcast, use signlsh_topk).
    Output: (query_id, neighbor_id, cosine, rank), rank 1..k.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine", _sim(F.col("__qv"), F.col("__cv"))
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_partials(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_payload: Sequence[str] = (),
    exclude_self: bool = True,
    query_block: int = 512,
) -> DataFrame:
    """Exact cosine top-k, identical results to :func:`brute_force_topk`,
    without ever materializing the |Q| x N scored relation as Spark rows.

    brute_force_topk's plan is the correctness baseline but has two
    costs that grow with |Q| x N: the cosine is an interpreted
    higher-order-function fold evaluated once per (query, corpus) row,
    and ALL scored rows shuffle into the per-query rank window. Here
    each corpus partition scores its rows against the broadcast query
    set in numpy (vectorized across rows, ~100x the interpreted fold's
    throughput) and emits only its local k best per query, so the
    window's exchange carries batches x |Q| x k rows instead of |Q| x N
    — at 1000 executors over 100 TB the shuffle is proportional to the
    candidate cut, not the corpus.

    Bit-exactness contract (what makes the DuckDB oracle twins and the
    brute-force path hash-match): the per-pair arithmetic replays the
    Column-expression fold in the identical IEEE-754 order — float->
    double element casts, a strictly sequential left-to-right dot and
    norm accumulation (one vectorized numpy op per dimension, never
    BLAS/pairwise summation), Math.sqrt == np.sqrt (both correctly
    rounded), one norm product, and the zero-denominator guard of
    functions.guarded_div (NULL cosine, which sorts last under the
    window's cosine DESC like Spark's default NULLS LAST). Vectors of
    mismatched length and NULL vectors reproduce zip_with's NULL-cosine
    semantics. NaN/Inf *inputs* are outside the contract (pandas<->Arrow
    NaN ambiguity); embeddings are finite by schema contract.

    The query set is collected and rebroadcast (same smallness contract
    as brute_force_topk's F.broadcast — model-state-sized, not data-
    sized). Output: (query_id, neighbor_id, cosine, rank, *payload),
    rank 1..k; ``corpus_payload`` names corpus columns carried through
    (e.g. a label) so consumers need no N-row join back to the corpus.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    take = int(k) + (1 if exclude_self else 0)
    qrows = queries.select(id_col, vec_col).collect()
    qids = [r[0] for r in qrows]
    qvecs = [
        None if r[1] is None else np.asarray(r[1], dtype=np.float64)
        for r in qrows
    ]
    qlens = np.array(
        [-1 if v is None else len(v) for v in qvecs], dtype=np.int64
    )
    # sequential-fold query norms, one per query (computed once, driver)
    qnorms = np.empty(len(qvecs))
    for j, v in enumerate(qvecs):
        acc = 0.0
        if v is not None:
            for x in v:
                acc = acc + x * x
        qnorms[j] = np.sqrt(acc)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((qids, qvecs, qlens, qnorms))

    cschema = {f.name: f.dataType for f in corpus.schema.fields}
    qschema = {f.name: f.dataType for f in queries.schema.fields}
    out_schema = StructType(
        [
            StructField("query_id", qschema[id_col]),
            StructField("neighbor_id", cschema[id_col]),
            StructField("cosine", DoubleType()),
        ]
        + [StructField(c, cschema[c]) for c in corpus_payload]
    )
    payload = list(corpus_payload)
    qb = max(1, int(query_block))

    def _part(it):
        q_ids, q_vecs, q_lens, q_norms = bq.value
        nq = len(q_ids)
        if not nq:
            return
        for pdf in it:
            n_c = len(pdf)
            if not n_c:
                continue
            nids = pdf[id_col].to_numpy()
            raw = pdf[vec_col].to_numpy()
            c_lens = np.array(
                [-1 if v is None else len(v) for v in raw], dtype=np.int64
            )
            # stack + sequential-fold norms per corpus length group
            groups = {}
            for length in np.unique(c_lens):
                idx = np.nonzero(c_lens == length)[0]
                if length < 0:
                    continue
                C = (
                    np.stack([np.asarray(v) for v in raw[idx]]).astype(
                        np.float64
                    )
                    if length
                    else np.zeros((len(idx), 0))
                )
                accn = np.zeros(len(idx))
                for i in range(int(length)):
                    ci = C[:, i]
                    accn = accn + ci * ci
                groups[int(length)] = (idx, C, np.sqrt(accn))
            for q0 in range(0, nq, qb):
                q1 = min(q0 + qb, nq)
                blk = q1 - q0
                # sort value: -cosine with NULL->+inf (cosine DESC
                # NULLS LAST); cosine kept separately, NaN marks NULL
                sv = np.full((n_c, blk), np.inf)
                cos = np.full((n_c, blk), np.nan)
                for length, (idx, C, cn) in groups.items():
                    cols = [
                        j
                        for j in range(q0, q1)
                        if q_lens[j] == length and q_norms[j] != 0.0
                    ]
                    if not cols:
                        continue
                    Q = np.stack([q_vecs[j] for j in cols])  # blkL x d
                    acc = np.zeros((len(idx), len(cols)))
                    for i in range(int(length)):
                        acc = acc + C[:, i : i + 1] * Q[:, i]
                    denom = cn[:, None] * np.array(
                        [q_norms[j] for j in cols]
                    )
                    with np.errstate(divide="ignore", invalid="ignore"):
                        c_ok = np.where(denom != 0.0, acc / denom, np.nan)
                    rel = [j - q0 for j in cols]
                    cos[np.ix_(idx, rel)] = c_ok
                    sv[np.ix_(idx, rel)] = np.where(denom != 0.0, -c_ok, np.inf)
                kk = min(take, n_c)
                sel_q, sel_c = [], []
                for rel in range(blk):
                    col_sv = sv[:, rel]
                    if kk < n_c:
                        part = np.argpartition(col_sv, kk - 1)[:kk]
                        v = col_sv[part].max()
                        cand = np.nonzero(col_sv <= v)[0]
                    else:
                        cand = np.arange(n_c)
                    order = (
                        pd.DataFrame(
                            {"sv": col_sv[cand], "nid": nids[cand]}
                        )
                        .sort_values(["sv", "nid"], kind="mergesort")
                        .index.to_numpy()
                    )
                    chosen = cand[order[:kk]]
                    sel_q.extend([q0 + rel] * len(chosen))
                    sel_c.extend(chosen.tolist())
                if not sel_c:
                    continue
                sel_c = np.array(sel_c)
                out = {
                    "query_id": [q_ids[j] for j in sel_q],
                    "neighbor_id": nids[sel_c],
                    "cosine": cos[sel_c, np.array(sel_q) - q0],
                }
                for c in payload:
                    out[c] = pdf[c].to_numpy()[sel_c]
                yield pd.DataFrame(out)

    from pyspark.sql import Window

    # Occupancy guard, not a scale path: a small corpus (driver-scale
    # parquet = a handful of splits) would otherwise score on as many
    # cores as it has files; a lake-scale corpus streams through
    # untouched (sources.scan_parallelism_floor).
    proj = scan_parallelism_floor(corpus.select(id_col, vec_col, *payload))
    partials = proj.mapInPandas(_part, out_schema)
    if exclude_self:
        partials = partials.filter(
            F.col("query_id") != F.col("neighbor_id")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "cosine", "rank", *payload)
    )


def sign_lsh_bucket(vec: Column, planes: int = 8) -> Column:
    """Axis-aligned sign-LSH sketch: concatenated signs of the first
    ``planes`` coordinates. Kept as the zero-dependency fallback;
    production paths should pass seeded ``random_hyperplanes`` to the
    bucketing operators instead — embedding coordinate signs are
    correlated, so fixed axis planes skew bucket sizes at scale."""
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(planes)
    ]
    return F.concat(*bits)


def random_hyperplanes(dim: int, planes: int, seed: int = 7) -> list[list[float]]:
    """Seeded Gaussian random projection matrix (``planes`` × ``dim``).

    Deterministic for a given (dim, planes, seed): both the Spark plan and
    any SQL oracle can materialize the identical literals, so bucket
    assignments are reproducible cross-engine. Scale guidance: pick
    ``planes ≈ log2(N)`` so expected bucket occupancy stays ~constant as
    the corpus grows (fixes the fixed-bucket quadratic blowup of the
    axis-aligned variant)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]


def sign_lsh_bucket_projected(
    vec: Column, hyperplanes: Sequence[Sequence[float]]
) -> Column:
    """Random-hyperplane sign-LSH sketch: one bit per plane, the sign of
    the projection ``dot(vec, plane)``. Hyperplanes enter the plan as
    literal arrays (JVM-side fold per plane, whole-stage codegen); with
    Gaussian planes the bits are i.i.d. fair coins for isotropic data, so
    2^planes buckets fill uniformly — collision probability per plane is
    1 - theta/pi (Charikar's SimHash bound)."""
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(float(w)) for w in plane])) >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for plane in hyperplanes
    ]
    return F.concat(*bits)


def cosine_neardup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    hyperplanes: Sequence[Sequence[float]] | None = None,
) -> DataFrame:
    """Near-duplicate pairs with cosine >= threshold, id_a < id_b, among
    sign-LSH bucket collisions.

    Approximate by design: a qualifying pair whose sketch bits differ on
    any plane is missed (recall < 1; collision probability per plane is
    1 - theta/pi). Within a bucket, verification is exact. planes=0
    degrades to exact all-pairs.

    Pass ``hyperplanes`` (from :func:`random_hyperplanes`, planes ≈
    log2(N)) for the scale path — Gaussian planes spread buckets
    uniformly, so within-bucket candidate counts stay bounded as the
    corpus grows; the axis-aligned default is the SQL-trivial fallback.
    """
    bucket = (
        sign_lsh_bucket_projected(F.col(vec_col), hyperplanes)
        if hyperplanes is not None
        else sign_lsh_bucket(F.col(vec_col), planes)
    )
    withb = df.select(F.col(id_col), F.col(vec_col), bucket.alias("__b"))
    a = withb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), F.col("__b")
    )
    b = withb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), F.col("__b")
    )
    return (
        a.join(b, "__b")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _sim(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def centroids_by_label(
    df: DataFrame,
    dim: int,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid vectors — the coarse quantizer of an IVF index.

    Explode-free: one JVM-side SUM per coordinate in a single groupBy on
    the label (one shuffle of |labels| × dim doubles), centroids assembled
    back into an array. At 100 TB the centroid table stays tiny (k × dim)
    and broadcasts."""
    sums = df.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.element_at(vec_col, i + 1).cast("double")).alias(f"__s{i}")
            for i in range(dim)
        ],
    )
    return sums.select(
        label_col,
        F.array(
            *[(F.col(f"__s{i}") / F.col("__n")).cast("double") for i in range(dim)]
        ).alias("centroid"),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF-style approximate top-k: probe the ``nprobe`` nearest centroid
    cells, exact cosine only within those cells' inverted lists.

    Plan shape at scale: centroids broadcast to rank cells per query (a
    tiny nested-loop), then ONE equi-join on the cell key against the
    corpus — the corpus side never cross-joins and can be pre-partitioned
    (bucketed) by cell for a shuffle-free probe."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    cell_scores = q.join(F.broadcast(centroids)).withColumn(
        "__csim", _sim(F.col("__qv"), F.col("centroid"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col(label_col)
    )
    probed = (
        cell_scores.withColumn("__crank", F.row_number().over(wc))
        .filter(F.col("__crank") <= nprobe)
        .select("query_id", "__qv", label_col)
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), label_col
    )
    scored = (
        c.join(F.broadcast(probed), label_col)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _sim(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def signlsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    hyperplanes: Sequence[Sequence[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign-LSH bucket.

    One equi-join on the bucket key instead of a cross join — the IVF-
    style scale path. Pass ``hyperplanes`` (seeded random projections)
    for uniform bucket occupancy at scale; recall is tested against
    brute_force_topk in tests/test_similarity.py.
    """
    from pyspark.sql import Window

    def bucket() -> Column:
        if hyperplanes is not None:
            return sign_lsh_bucket_projected(F.col(vec_col), hyperplanes)
        return sign_lsh_bucket(F.col(vec_col), planes)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        bucket().alias("__b"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        bucket().alias("__b"),
    )
    scored = (
        c.join(F.broadcast(q), "__b")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _sim(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def kmeans_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dist_col: str = "dist2",
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2).

    ``centroids`` is a driver-side list of (cid, coords) — k·dim doubles,
    embedded as literals so assignment is a PURE PROJECTION: no join, no
    shuffle, whole-stage codegen over the scan. This is the same design
    MLlib's KMeans uses (centroids live on the driver between
    iterations); at 100 TB the per-iteration cost is one scan plus one
    tiny (k×dim) aggregation, never an n×k shuffle.

    Distance is a sequential fold (zip_with + aggregate) so plain SQL
    reproduces it bit-for-bit; ties on distance break to the smallest
    cid via lexicographic struct min.
    """
    carr = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("__v"),
                        F.array(*[F.lit(float(x)) for x in coords]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(int(cid)).alias("cid"),
            )
            for cid, coords in centroids
        ]
    )
    vecs = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    best = F.array_min(carr)
    return vecs.select(
        id_col,
        F.col("__v"),
        best["cid"].alias(cluster_col),
        best["d"].alias(dist_col),
    )


def kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over an embedding column — the iterative-algorithm
    pattern on DataFrames (cf. dedup.duplicate_clusters for the
    label-propagation variant).

    Deterministic and oracle-reproducible end to end:
      * init: the k vectors with the smallest ids, cid = their rank
        (with contiguous ids 0..n, cid == id);
      * assignment: literal-centroid projection (kmeans_assign) — exact
        double folds, ties to smallest cid;
      * update: per-coordinate mean over 1e-12-quantized coordinates —
        floor(x·1e12 + 0.5) scaled integers (the money_sum trick: pure
        IEEE double ops, no engine-specific decimal-cast tie rules),
        summed exactly as DECIMAL(38,0), one cast-to-double + two
        divisions. Every centroid, distance, and assignment is therefore
        bit-identical across engines regardless of partitioning or
        aggregation order.

    Per iteration: one scan (assignment is a projection) + one hash
    aggregation shuffling k×dim decimals + an O(k·dim) driver collect —
    the MLlib iteration structure, linear in rows at any scale. Empty
    clusters are dropped (k shrinks), matching the SQL twin.

    Returns (id, cluster int, dist2 double) for the assignment against
    the final updated centroids — ``iters`` update rounds, iters+1
    assignments.
    """
    cents = lloyd_centroids(
        df, k=k, iters=iters, dim=dim, id_col=id_col, vec_col=vec_col
    )
    if not cents:  # empty input: no centroids, empty assignment
        return df.select(
            id_col,
            F.lit(0).cast("int").alias("cluster"),
            F.lit(0.0).alias("dist2"),
        ).limit(0)
    out = kmeans_assign(df, cents, id_col=id_col, vec_col=vec_col)
    return out.select(id_col, "cluster", "dist2")


def lloyd_centroids(
    df: DataFrame,
    k: int,
    iters: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The Lloyd recurrence of :func:`kmeans`, returning the final
    centroid list instead of the assignment — shared by kmeans and the
    product-quantization trainer (one codebook per subspace). Same
    determinism contract: smallest-id init, literal-centroid assignment,
    quantized-integer means, empty clusters dropped."""
    init = df.orderBy(F.col(id_col)).limit(k).select(id_col, vec_col).collect()
    cents: list[tuple[int, list[float]]] = [
        (i, [float(x) for x in row[vec_col]]) for i, row in enumerate(init)
    ]
    if not cents:
        return []
    for _ in range(iters):
        assigned = kmeans_assign(df, cents, id_col=id_col, vec_col=vec_col)
        sums = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(
                    F.floor(
                        F.element_at("__v", i + 1) * F.lit(1e12) + F.lit(0.5)
                    ).cast("decimal(38,0)")
                ).alias(f"__s{i}")
                for i in range(dim)
            ],
        )
        updated = sums.select(
            "cluster",
            *[
                (F.col(f"__s{i}").cast("double") / F.lit(1e12) / F.col("__n")).alias(
                    f"__c{i}"
                )
                for i in range(dim)
            ],
        ).collect()
        cents = sorted(
            (int(r["cluster"]), [r[f"__c{i}"] for i in range(dim)]) for r in updated
        )
    return cents


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: within each cluster
    (``label_col``), vectors whose cosine to the cluster centroid is
    ≥ threshold are semantic near-duplicates of the cluster core — keep
    only the one closest to the centroid (the representative) and every
    vector below the threshold (genuinely distinct content).

    Centroids use exact quantized-integer sums (see kmeans) so the
    cosine — a sequential fold over bit-identical inputs — and hence the
    threshold comparison itself are deterministic cross-engine; no
    rounding, no boundary flakiness.

    One k×dim aggregation + broadcast join + one per-cluster window.
    Output: survivors (id, label, centroid_cosine, role), role ∈
    {'representative', 'distinct'}.
    """
    from pyspark.sql import Window

    sums = df.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(
                F.floor(
                    F.element_at(vec_col, i + 1).cast("double") * F.lit(1e12)
                    + F.lit(0.5)
                ).cast("decimal(38,0)")
            ).alias(f"__s{i}")
            for i in range(dim)
        ],
    )
    cent = sums.select(
        label_col,
        F.array(
            *[
                (F.col(f"__s{i}").cast("double") / F.lit(1e12) / F.col("__n"))
                for i in range(dim)
            ]
        ).alias("__centroid"),
    )
    scored = df.join(F.broadcast(cent), label_col).select(
        F.col(id_col),
        F.col(label_col),
        _sim(F.col(vec_col), F.col("__centroid")).alias("centroid_cosine"),
    )
    w = Window.partitionBy(label_col).orderBy(
        F.col("centroid_cosine").desc(), F.col(id_col)
    )
    ranked = scored.withColumn("__rn", F.row_number().over(w))
    return ranked.filter(
        (F.col("__rn") == 1) | (F.col("centroid_cosine") < threshold)
    ).select(
        id_col,
        label_col,
        "centroid_cosine",
        F.when(F.col("__rn") == 1, F.lit("representative"))
        .otherwise(F.lit("distinct"))
        .alias("role"),
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    scale_col: str = "scale",
    out: str = "q_embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v| / 127,
    q_i = floor(v_i / scale + 0.5) in [-127, 127] — 4x smaller storage
    and memory traffic than float32 at <0.5% cosine error, the standard
    compression step before a 100 TB vector corpus is servable.

    Rounding is an explicit floor(x + 0.5) (not round()): engines
    disagree on round's tie rule (half-even vs half-up), while
    floor(+0.5) is the same IEEE expression everywhere — the corpus
    oracle reproduces the quantized values bit-for-bit. Zero vectors get
    scale 0 and all-zero codes. Pure Column expressions (transform /
    array_max folds), no Python per row.
    """
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = (mx / F.lit(127.0)).alias(scale_col)
    q = F.when(mx == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.floor(x.cast("double") / (mx / F.lit(127.0)) + F.lit(0.5)).cast("int"),
        )
    )
    return df.withColumns({scale_col: mx / F.lit(127.0), out: q})


def dequantize(
    df: DataFrame,
    q_col: str = "q_embedding",
    scale_col: str = "scale",
    out: str = "embedding_hat",
) -> DataFrame:
    """Inverse of quantize_int8: v_hat_i = q_i * scale (float64)."""
    s = F.col(scale_col)
    return df.withColumn(
        out, F.transform(F.col(q_col), lambda q: q.cast("double") * s)
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the k most-similar corpus vectors with a DIFFERENT label —
    the near-miss negatives that make embedding models learn (random
    negatives are too easy; same-label hits would be false negatives).

    Same shape as brute_force_topk — queries broadcast, corpus streams,
    one per-query heap (row_number ≤ k) — plus the label-inequality
    predicate applied BEFORE ranking, so the k slots are all negatives.
    At 100 TB restrict candidates first (signlsh_topk / ivf_topk
    buckets), then mine within the candidate set.

    Output: (query_id, query_label, neighbor_id, neighbor_label,
    cosine, rank), rank 1..k.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("__qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("__cv"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("query_label"))
        .withColumn("cosine", _sim(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            "cosine", "rank",
        )
    )


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote label prediction — the standard embedding-
    quality probe (label a held-out vector by its k nearest neighbors'
    majority label and compare to ground truth).

    Two stages: (1) exact top-k neighbors per query via
    :func:`cosine_topk_partials` (queries broadcast, corpus streams,
    self-match excluded, per-partition candidate cut so the shuffle
    carries |Q| x k-scale rows, never |Q| x N); (2) a
    (query, neighbor_label) vote count and a deterministic argmax —
    most votes, ties to the BEST-RANKED candidate label (min rank =
    highest cosine among the tied labels), then smallest label. At
    100 TB stage 1 swaps to a bucketed candidate join (signlsh/ivf);
    stage 2 is unchanged.

    Output: (vec_id, label, predicted, n_votes bigint, correct) —
    ``correct`` as 0/1 BIGINT so accuracy is one AVG away.
    """
    from pyspark.sql import Window

    # stage 1 via the partial-cut scorer: the |Q| x N scored relation
    # never exists as Spark rows (cosines bit-identical to the
    # expression fold — see cosine_topk_partials), the neighbor label
    # rides through the corpus partitions (no N-row join back), and the
    # query label joins onto the |Q| x k candidate table broadcast-side.
    topk = cosine_topk_partials(
        queries,
        corpus.select(
            F.col(id_col), F.col(vec_col), F.col(label_col).alias("__nlab")
        ),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        corpus_payload=("__nlab",),
        exclude_self=True,
    )
    qlabs = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("__qlab")
    )
    nn = topk.join(F.broadcast(qlabs), "query_id").select(
        F.col("query_id").alias("__qid"),
        F.col("__qlab"),
        F.col("__nlab"),
        F.col("rank").alias("__rank"),
    )
    votes = nn.groupBy("__qid", "__qlab", "__nlab").agg(
        F.count(F.lit(1)).alias("__votes"), F.min("__rank").alias("__best")
    )
    wv = Window.partitionBy("__qid").orderBy(
        F.col("__votes").desc(), F.col("__best"), F.col("__nlab")
    )
    return (
        votes.withColumn("__rn", F.row_number().over(wv))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__qid").alias(id_col),
            F.col("__qlab").alias(label_col),
            F.col("__nlab").alias("predicted"),
            F.col("__votes").cast("bigint").alias("n_votes"),
            (F.col("__nlab") == F.col("__qlab")).cast("bigint").alias("correct"),
        )
    )


# ---- Product quantization (IVF-PQ's compression half) -----------------

def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Train product-quantization codebooks: split each vector into
    ``m`` contiguous subvectors of dim/m coords and run the deterministic
    Lloyd recurrence (:func:`lloyd_centroids`) independently per
    subspace. Returns ``m`` codebooks of up to ``k`` centroids each.

    This is the compression half of IVF-PQ (Jégou et al., "Product
    Quantization for Nearest Neighbor Search"): m log2(k) bits per
    vector instead of 4·dim bytes — at 100 TB the difference between an
    embedding corpus that fits executor memory as codes (m bytes/vector
    at k=256) and one that must stream from object storage per query.

    All m subspaces train TOGETHER: one init collect, then per
    iteration a single scan that assigns every subspace (literal
    codebooks, pure projection), explodes to (subspace, cluster, slice)
    and aggregates grouped by (subspace, cluster) — one shuffle and one
    O(m·k·dim/m) collect per iteration instead of m separate Lloyd
    jobs. The per-subspace arithmetic (sequential (a-b)² folds,
    1e-12-quantized integer means, ties to smallest cid) is identical
    to :func:`lloyd_centroids`, so results are bit-equal to training
    each subspace independently.
    """
    if dim % m:
        raise ValueError("dim must divide evenly into m subspaces")
    sub = dim // m
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    init = (
        df.orderBy(F.col(id_col)).limit(k).select(F.col(id_col), v.alias("__v")).collect()
    )
    if not init:
        return [[] for _ in range(m)]
    books: list[list[tuple[int, list[float]]]] = [
        [
            (i, [float(x) for x in row["__v"][s * sub : (s + 1) * sub]])
            for i, row in enumerate(init)
        ]
        for s in range(m)
    ]
    for _ in range(iters):
        entries = []
        for s in range(m):
            sv = F.slice(v, s * sub + 1, sub)
            carr = F.array(
                *[
                    F.struct(
                        F.aggregate(
                            F.zip_with(
                                sv,
                                F.array(*[F.lit(float(x)) for x in coords]),
                                lambda a, b: (a - b) * (a - b),
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ).alias("d"),
                        F.lit(int(cid)).alias("cid"),
                    )
                    for cid, coords in books[s]
                ]
            )
            entries.append(
                F.struct(
                    F.lit(s).cast("int").alias("s"),
                    F.array_min(carr)["cid"].alias("cluster"),
                    sv.alias("sv"),
                )
            )
        exploded = df.select(F.explode(F.array(*entries)).alias("e")).select(
            F.col("e.s").alias("s"),
            F.col("e.cluster").alias("cluster"),
            F.col("e.sv").alias("sv"),
        )
        sums = exploded.groupBy("s", "cluster").agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(
                    F.floor(
                        F.element_at("sv", i + 1) * F.lit(1e12) + F.lit(0.5)
                    ).cast("decimal(38,0)")
                ).alias(f"__s{i}")
                for i in range(sub)
            ],
        )
        updated = sums.select(
            "s",
            "cluster",
            *[
                (F.col(f"__s{i}").cast("double") / F.lit(1e12) / F.col("__n")).alias(
                    f"__c{i}"
                )
                for i in range(sub)
            ],
        ).collect()
        books = [[] for _ in range(m)]
        for r in updated:
            books[r["s"]].append(
                (int(r["cluster"]), [r[f"__c{i}"] for i in range(sub)])
            )
        books = [sorted(b) for b in books]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` small ints: per subspace, the id of
    the nearest codebook centroid (squared L2, ties to smallest cid —
    the kmeans_assign rule). Codebooks are literals, so encoding is a
    PURE PROJECTION over the scan: no join, no shuffle, whole-stage
    codegen; the output row is (id, array<int> of length m).
    """
    m = len(codebooks)
    sub = dim // m
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    codes = []
    for s, book in enumerate(codebooks):
        sv = F.slice(v, s * sub + 1, sub)
        carr = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            sv,
                            F.array(*[F.lit(float(x)) for x in coords]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, coords in book
            ]
        )
        codes.append(F.array_min(carr)["cid"])
    return df.select(F.col(id_col), F.array(*codes).alias("codes"))


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    query: list[float],
    topk: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query stays FP32,
    each corpus vector is its m codes, and distance is a table lookup —
    adc = Σ_s dist2(query_s, centroid[code_s]).

    The m×k distance table is computed driver-side (same sequential
    (a-b)² fold as everywhere else — IEEE-reproducible) and embedded as
    literal arrays, so scoring the whole corpus is element_at lookups +
    m-1 additions per row inside codegen, then TakeOrderedAndProject.
    No floats are read from storage at query time — this is why PQ
    scales: the scan is m small ints per vector.

    Output: (id, codes, adc_dist), ascending distance, ties to
    smallest id.
    """
    m = len(codebooks)
    sub = len(query) // m
    terms = []
    for s, book in enumerate(codebooks):
        qs = query[s * sub : (s + 1) * sub]
        # dense lookup indexed by cid (Lloyd may drop empty clusters, so
        # fill gaps with +inf — those cids can never appear in codes)
        size = max(cid for cid, _ in book) + 1
        table = [float("inf")] * size
        for cid, coords in book:
            acc = 0.0
            for a, b in zip(qs, coords):
                acc += (a - b) * (a - b)
            table[cid] = acc
        terms.append(
            F.element_at(
                F.array(*[F.lit(x) for x in table]),
                F.element_at("codes", s + 1) + F.lit(1),
            )
        )
    dist = terms[0]
    for t in terms[1:]:
        dist = dist + t
    scored = codes.select(id_col, "codes", dist.alias("adc_dist"))
    return scored.orderBy(F.col("adc_dist"), F.col(id_col)).limit(topk)


def ivfpq_index(
    df: DataFrame,
    coarse_k: int = 4,
    coarse_iters: int = 1,
    m: int = 4,
    k: int = 8,
    pq_iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Build a residual IVF-PQ index (Jégou et al.): a coarse Lloyd
    quantizer routes each vector to a cell, the RESIDUAL (vector minus
    its cell centroid) is product-quantized with one shared codebook
    set — residuals concentrate near the origin, so the same m×k codes
    capture far more precision than PQ on raw vectors.

    Returns (index_df, coarse_centroids, codebooks):
      index_df       (id, cluster, codes array<int>) — 4+m bytes/vector
      coarse_cents   [(cid, coords)] driver-side (k_c × dim doubles)
      codebooks      m per-subspace codebooks over residuals

    Plan shape: coarse assignment and residual subtraction are literal
    projections (no shuffle); PQ training is m small Lloyd runs over
    residual slices. Everything stays deterministic (quantized-integer
    means, sequential folds) — the full compressed index is
    oracle-hashable.
    """
    cents = lloyd_centroids(
        df, k=coarse_k, iters=coarse_iters, dim=dim, id_col=id_col, vec_col=vec_col
    )
    if not cents:
        empty = df.select(
            F.col(id_col),
            F.lit(0).cast("int").alias("cluster"),
            F.array().cast("array<int>").alias("codes"),
        ).limit(0)
        return empty, [], []
    assigned = kmeans_assign(df, cents, id_col=id_col, vec_col=vec_col)
    resid = F.lit(None).cast("array<double>")
    for cid, coords in cents:
        sub = F.zip_with(
            F.col("__v"),
            F.array(*[F.lit(float(x)) for x in coords]),
            lambda a, b: a - b,
        )
        resid = F.when(F.col("cluster") == cid, sub).otherwise(resid)
    rdf = assigned.select(id_col, "cluster", resid.alias("__r"))
    books = pq_train(
        rdf, m=m, k=k, iters=pq_iters, dim=dim, id_col=id_col, vec_col="__r"
    )
    codes = pq_encode(rdf, books, dim=dim, id_col=id_col, vec_col="__r")
    index = rdf.select(id_col, "cluster").join(codes, id_col)
    return index, cents, books


def ivfpq_topk(
    index: DataFrame,
    coarse_cents: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    query: list[float],
    nprobe: int = 2,
    topk: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Query a residual IVF-PQ index: rank cells by coarse distance,
    probe the ``nprobe`` nearest, and score ONLY their members with
    per-cell ADC tables built from the query's per-cell residual
    (q - cell centroid).

    Everything the executor sees is literals and small ints: the cell
    filter is an isin over cluster ids (partition-prunable if the index
    is written partitioned by cluster), the distance is element_at
    lookups + adds in codegen, then TakeOrderedAndProject. Per query the
    driver does O(k_c·dim + nprobe·m·k·dim/m) float work — microseconds.

    Output: (id, cluster, codes, adc_dist) ascending, ties to smallest id.
    """
    m = len(codebooks)
    sub = len(query) // m

    def fold(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    ranked = sorted(
        ((fold(query, coords), cid, coords) for cid, coords in coarse_cents),
    )[:nprobe]

    dist = F.lit(None).cast("double")
    for _, cell_cid, coords in ranked:
        qr = [a - b for a, b in zip(query, coords)]
        terms = []
        for s, book in enumerate(codebooks):
            qs = qr[s * sub : (s + 1) * sub]
            size = max(cid for cid, _ in book) + 1
            table = [float("inf")] * size
            for cid, ccoords in book:
                table[cid] = fold(qs, ccoords)
            terms.append(
                F.element_at(
                    F.array(*[F.lit(x) for x in table]),
                    F.element_at("codes", s + 1) + F.lit(1),
                )
            )
        cell_dist = terms[0]
        for t in terms[1:]:
            cell_dist = cell_dist + t
        dist = F.when(F.col("cluster") == cell_cid, cell_dist).otherwise(dist)

    probed = index.filter(
        F.col("cluster").isin([cid for _, cid, _ in ranked])
    )
    scored = probed.select(id_col, "cluster", "codes", dist.alias("adc_dist"))
    return scored.orderBy(F.col("adc_dist"), F.col(id_col)).limit(topk)


def brute_force_topk_l2(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact Euclidean top-k — the L2 twin of :func:`brute_force_topk`
    (same broadcast-queries shape), ranked by distance ASC with
    neighbor-id tie-break. The distance fold is zip_with + sequential
    aggregate, matching the oracle's list_reduce addition order so
    distances are bit-identical cross-engine.

    Output: (query_id, neighbor_id, l2_dist, rank), rank 1..k.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("__qv"),
                F.col("__cv"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    scored = c.join(F.broadcast(q)).withColumn("l2_dist", dist)
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "l2_dist", "rank")
    )


def rrf_fuse(
    ranking_a: DataFrame,
    ranking_b: DataFrame,
    k: int,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings — the standard
    score-free hybrid-search combiner: rrf(d) = Σ_r 1/(c + rank_r(d)),
    robust to incomparable score scales (cosine vs L2 vs BM25). Inputs
    are (query_id, neighbor_id, rank) tables; a document missing from
    one ranking contributes 0 for it.

    Exactness: each term is ONE IEEE division of exact integers and the
    two terms add in a fixed order (a then b), so scores are
    bit-identical cross-engine — no ROUND. Ties break by neighbor_id.

    Plan shape: one full-outer equi-join on (query_id, neighbor_id) —
    both sides are already k-bounded per query, so the join input is
    rank-table-sized, never corpus-sized — then a per-query top-k
    window (WindowGroupLimit).

    Output: (query_id, neighbor_id, rrf_score, rank), rank 1..k.
    """
    from pyspark.sql import Window

    a = ranking_a.select(
        "query_id", "neighbor_id", F.col("rank").alias("__ra")
    )
    b = ranking_b.select(
        "query_id", "neighbor_id", F.col("rank").alias("__rb")
    )
    j = a.join(b, ["query_id", "neighbor_id"], "full_outer")
    term = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(int(c)) + r).cast("double"), F.lit(0.0)
    )
    scored = j.withColumn("rrf_score", term(F.col("__ra")) + term(F.col("__rb")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "rrf_score", "rank")
    )


def gram_matrix(
    df: DataFrame, vec_col: str = "embedding", upper_only: bool = True
) -> DataFrame:
    """Distributed Gram (uncentered second-moment) matrix X^T X of an
    embedding column — the d×d reduction behind PCA/whitening/linear
    probes: each Arrow batch computes its local partial X^T X with one
    BLAS gemm (mapInPandas — the legitimate vectorized-Python path for
    a true matrix kernel), and a (i, j)-keyed groupBy sums partials.
    Shuffle volume is d²·batches — independent of row count, the
    pattern that makes a 100 TB fit reduce to a broadcastable d²
    table. Indices are 1-based (oracle list-index parity);
    ``upper_only`` keeps i <= j (the matrix is symmetric).

    Output: (i, j, gram) — float sums are order-dependent across
    batches, so corpus consumers ROUND per the float convention.
    """
    import numpy as np
    import pandas as pd

    def _part(it):
        for pdf in it:
            vs = pdf[vec_col].dropna()
            if not len(vs):
                continue
            X = np.stack(vs.to_numpy()).astype(np.float64)
            G = X.T @ X
            d = G.shape[0]
            ii, jj = (
                np.triu_indices(d) if upper_only else np.indices((d, d)).reshape(2, -1)
            )
            yield pd.DataFrame(
                {
                    "i": (ii + 1).astype("int32"),
                    "j": (jj + 1).astype("int32"),
                    "partial": G[ii, jj],
                }
            )

    out = df.select(vec_col).mapInPandas(_part, "i int, j int, partial double")
    return out.groupBy("i", "j").agg(F.sum("partial").alias("gram"))


def pca_top_component(
    df: DataFrame, vec_col: str = "embedding", iters: int = 50
) -> tuple[float, list[float]]:
    """Top principal direction of the uncentered second-moment matrix
    via power iteration on the :func:`gram_matrix` result — ONE
    distributed pass over the data; the iteration itself runs on the
    collected d×d matrix (d² driver-side values — kmeans-centroid-
    legitimate model state, independent of row count). Deterministic:
    fixed all-ones init, fixed iteration count, sign fixed so the
    largest-|coordinate| entry is positive. Center the vectors first
    for classical PCA (embeddings are typically ~zero-mean/normalized).

    Returns (eigenvalue, eigenvector) — pinned against numpy.linalg.eigh
    in tests/test_similarity.py.
    """
    import numpy as np

    rows = gram_matrix(df, vec_col, upper_only=True).collect()
    if not rows:  # empty input / all-null vector column
        return 0.0, []
    d = max(r["j"] for r in rows)
    G = np.zeros((d, d))
    for r in rows:
        G[r["i"] - 1, r["j"] - 1] = r["gram"]
        G[r["j"] - 1, r["i"] - 1] = r["gram"]
    v = np.ones(d) / np.sqrt(d)
    for _ in range(int(iters)):
        w = G @ v
        n = np.linalg.norm(w)
        if n == 0.0:
            return 0.0, [0.0] * d
        v = w / n
    lam = float(v @ G @ v)
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    return lam, [float(x) for x in v]


def ndcg_at_k(
    ranking: DataFrame,
    relevance: DataFrame,
    k: int = 10,
) -> DataFrame:
    """nDCG@k of a retrieval ranking against graded relevance — the
    position-discounted quality metric beside recall@k (the recall
    harness treats all hits equally; nDCG rewards putting the most
    relevant neighbors FIRST). Inputs: ranking (query_id, neighbor_id,
    rank) and relevance (query_id, neighbor_id, rel). The relevance
    table is max-aggregated per (query_id, neighbor_id) before the
    join, so duplicate relevance rows cannot fan out ranking rows and
    inflate DCG/IDCG — callers need not pre-deduplicate.

    DCG = Σ_{i<=k} rel_i / log2(i + 1) over the ranking's order;
    IDCG re-sorts the SAME k retrieved items by (rel DESC,
    neighbor_id) — the normalization that makes scores comparable
    across queries. Missing relevance rows count 0. Both sums are
    k-bounded per query (tiny windows over rank tables, never the
    corpus); the ln-based discounts are the one floating step — corpus
    consumers ROUND per the float convention.

    Output: (query_id, dcg, idcg, ndcg).
    """
    from pyspark.sql import Window

    rel = relevance.groupBy("query_id", "neighbor_id").agg(
        F.max("rel").alias("rel")
    )
    r = (
        ranking.filter(F.col("rank") <= int(k))
        .join(rel, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.coalesce(F.col("rel"), F.lit(0.0)).cast("double").alias("__rel"),
        )
    )
    disc = F.col("__rel") / F.log2(F.col("rank").cast("double") + F.lit(1.0))
    wi = Window.partitionBy("query_id").orderBy(
        F.col("__rel").desc(), F.col("neighbor_id")
    )
    ideal = F.col("__rel") / F.log2(
        F.row_number().over(wi).cast("double") + F.lit(1.0)
    )
    agg = r.select("query_id", disc.alias("__d"), ideal.alias("__i")).groupBy(
        "query_id"
    ).agg(F.sum("__d").alias("dcg"), F.sum("__i").alias("idcg"))
    return agg.select(
        "query_id",
        "dcg",
        "idcg",
        F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).alias("ndcg"),
    )


def signlsh_multiprobe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    hyperplanes: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe sign-LSH top-k: each query probes its own bucket AND
    every Hamming-distance-1 neighbor bucket (flip one sketch bit) —
    the standard recall lever that avoids the alternative of doubling
    the table count: a true near neighbor that disagrees on exactly
    one plane is recovered at the cost of planes+1 probe keys per
    query instead of a bigger index (Lv et al., multi-probe LSH).

    Plan shape: the probe expansion explodes the (small, broadcast)
    QUERY side only — the corpus keeps one bucket per row, and the
    candidate set is still one equi-join on the bucket key; probe
    buckets are pairwise distinct, so no candidate dedup is needed.
    Verification is exact cosine; ties break by neighbor id.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k.
    Recall >= single-probe on the same planes (pinned in
    tests/test_similarity.py).
    """
    from pyspark.sql import Window

    nbits = len(hyperplanes)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        sign_lsh_bucket_projected(F.col(vec_col), hyperplanes).alias("__b0"),
    )

    def _flip(i: int) -> Column:
        ch = F.substring(F.col("__b0"), i + 1, 1)
        return F.concat(
            F.substring(F.col("__b0"), 1, i),
            F.when(ch == "1", F.lit("0")).otherwise(F.lit("1")),
            F.substring(F.col("__b0"), i + 2, nbits - i - 1),
        )

    probes = F.array(F.col("__b0"), *[_flip(i) for i in range(nbits)])
    qx = q.select(
        "query_id", "__qv", F.explode(probes).alias("__b")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        sign_lsh_bucket_projected(F.col(vec_col), hyperplanes).alias("__b"),
    )
    scored = (
        c.join(F.broadcast(qx), "__b")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _sim(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
