"""Corpus: frequency-sketch operators over `events` (operators/sketches).

The md5-derived bucket hashes make the count-min sketch bit-reproducible
in plain SQL (the dedup.py portability discipline), so even the SKETCH —
normally an engine-private approximation — gets a value-level DuckDB
oracle, not just a bounds test.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.corpus import register
from financial_data_lakehouse_pipeline__spark.operators import sketches
from financial_data_lakehouse_pipeline__spark.sources import footer_schema, read_table

_DEPTH = 4
_WIDTH = 256

#: d ∈ [0, depth) × every non-null key row → its CMS cell.
#: '0x'||substr(md5('d|key'),1,7) is the shared 28-bit md5-prefix hash
#: (same arithmetic as the minhash oracle); % width on non-negatives is
#: identical in both engines.
_CELLS = f"""
cells AS (
  SELECT d,
         CAST(('0x' || substr(md5(concat(CAST(d AS VARCHAR), '|',
                                         CAST(user_id AS VARCHAR))), 1, 7))
              AS BIGINT) % {_WIDTH} AS w
  FROM events, UNNEST(range(0, {_DEPTH})) AS t(d)
  WHERE user_id IS NOT NULL
),
sketch AS (
  SELECT CAST(d AS INT) AS d, w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cells GROUP BY d, w
)"""


@register(
    "cms_sketch_users",
    f"WITH {_CELLS} SELECT d, w, cnt FROM sketch",
)
def cms_sketch_users(spark, sf_dir):
    """Count-min sketch of events.user_id (depth=4, width=256) — the
    fixed-size frequency summary itself, cell by cell
    (operators/sketches.count_min_sketch). depth*width cells bound the
    output no matter how many rows or distinct users feed it."""
    ev = read_table(spark, sf_dir, "events")
    return sketches.count_min_sketch(ev, "user_id", depth=_DEPTH, width=_WIDTH)


@register(
    "cms_heavy_users",
    f"""WITH {_CELLS},
        probes AS (
          SELECT DISTINCT e.user_id, c.d,
                 CAST(('0x' || substr(md5(concat(CAST(c.d AS VARCHAR), '|',
                                        CAST(e.user_id AS VARCHAR))), 1, 7))
                      AS BIGINT) % {_WIDTH} AS w
          FROM events e, UNNEST(range(0, {_DEPTH})) AS c(d)
          WHERE e.user_id IS NOT NULL
        ),
        est AS (
          SELECT p.user_id, MIN(COALESCE(s.cnt, 0)) AS est_cnt
          FROM probes p LEFT JOIN sketch s ON s.d = p.d AND s.w = p.w
          GROUP BY p.user_id
        ),
        exact AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        )
        SELECT e.user_id, CAST(e.est_cnt AS BIGINT) AS est_cnt, x.cnt
        FROM est e JOIN exact x ON x.user_id = e.user_id
        WHERE e.est_cnt >= 80 AND x.cnt >= 80""",
)
def cms_heavy_users(spark, sf_dir):
    """Heavy hitters with sketch pruning + exact verification
    (operators/sketches.cms_heavy_hitters): CMS estimates never
    undercount, so est_cnt >= threshold keeps every true heavy hitter;
    the exact count over the semi-joined hot tail removes collision
    false-positives — candidates-then-verify, the LSH shape applied to
    frequency."""
    ev = read_table(spark, sf_dir, "events")
    return sketches.cms_heavy_hitters(
        ev, "user_id", min_count=80, depth=_DEPTH, width=_WIDTH
    )


@register(
    "streaming_cms_users",
    f"WITH {_CELLS} SELECT d, w, cnt FROM sketch",
)
def streaming_cms_users(spark, sf_dir):
    """Streaming count-min sketch driven to completion
    (streaming/sketch_stream): cell counts are linearly mergeable, so
    the incremental aggregation equals the batch sketch exactly — same
    oracle as cms_sketch_users. State is depth×width counters, bounded
    forever (the streaming story exact per-key counting can't tell)."""
    import os

    from financial_data_lakehouse_pipeline__spark import streaming as st

    raw_schema = footer_schema(os.path.join(sf_dir, "events.parquet"))
    stream = st.stream_from_parquet_dir(
        spark, sf_dir, raw_schema, glob="events.parquet"
    )
    sk = st.sketch_stream(stream, "user_id", depth=_DEPTH, width=_WIDTH)
    return st.run_available_now(sk, "corpus_streaming_cms_users")


_HLO, _HHI, _HBINS = 0.0, 500000.0, 64
_HW = (_HHI - _HLO) / _HBINS  # 7812.5 — exact in binary, identical literal

#: equi-width bin id with edge clamping; FLOOR before CAST (DuckDB CAST
#: rounds, so the cast must see an integral double)
_HBIN = (
    f"CAST(LEAST({_HBINS - 1}, GREATEST(0, "
    f"CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - {_HLO!r}e0) / {_HW!r}e0) "
    f"AS INT))) AS INT)"
)


@register(
    "hist_order_totals",
    f"""SELECT {_HBIN} AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1""",
)
def hist_order_totals(spark, sf_dir):
    """Equi-width histogram sketch of order totals
    (operators/sketches.histogram_sketch): 64 mergeable bin counters —
    the bounded-state alternative to a full sort when one binwidth of
    error is acceptable."""
    orders = read_table(spark, sf_dir, "orders")
    return sketches.histogram_sketch(
        orders, "o_totalprice", lo=_HLO, hi=_HHI, bins=_HBINS
    )


@register(
    "hist_quantiles_order_totals",
    f"""WITH h AS (
          SELECT {_HBIN} AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
        ),
        cum AS (
          SELECT bin, SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                 AS cum
          FROM h
        ),
        n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h),
        qs AS (SELECT unnest([0.5e0, 0.9e0, 0.99e0]) AS q),
        sel AS (
          SELECT q, MIN(bin) AS bin
          FROM cum, n, qs
          WHERE cum >= CEIL(q * n)
          GROUP BY q
        )
        SELECT q, {_HLO!r}e0 + (bin + 1) * {_HW!r}e0 AS est FROM sel""",
)
def hist_quantiles_order_totals(spark, sf_dir):
    """p50/p90/p99 estimates from the 64-bin histogram sketch
    (operators/sketches.quantiles_from_histogram): the cumulative window
    runs over the sketch (<= 64 rows), never the data — error bounded by
    one binwidth, pinned against exact percentiles in pytest."""
    orders = read_table(spark, sf_dir, "orders")
    h = sketches.histogram_sketch(
        orders, "o_totalprice", lo=_HLO, hi=_HHI, bins=_HBINS
    )
    return sketches.quantiles_from_histogram(
        h, lo=_HLO, hi=_HHI, bins=_HBINS, qs=[0.5, 0.9, 0.99]
    )


_HLL_P = 8
_HLL_M = 2 ** _HLL_P
_HLL_NBITS = 52 - _HLL_P
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)

#: md5-derived HLL registers over orders.o_custkey — 52-bit hash, low p
#: bits = bucket, rank = lowest-set-bit position of the rest (+1).
#: Divisions by 2^p are exact in double (52-bit ints), floor(log2(2^k))
#: is exact on powers of two — every register is deterministic.
_HLL_SK = f"""
hsh AS (
  SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13))
              AS BIGINT) AS h
  FROM orders WHERE o_custkey IS NOT NULL
),
br AS (
  SELECT CAST(h % {_HLL_M} AS INT) AS bucket,
         CAST(FLOOR(h / {_HLL_M}e0) AS BIGINT) AS rest
  FROM hsh
),
rk AS (
  SELECT bucket,
         CASE WHEN rest = 0 THEN {_HLL_NBITS + 1}
              ELSE CAST(FLOOR(log2(CAST((rest & -rest) AS DOUBLE))) AS INT) + 1
         END AS rank
  FROM br
),
sk AS (
  SELECT bucket, CAST(MAX(rank) AS INT) AS max_rank FROM rk GROUP BY bucket
)"""


@register(
    "hll_sketch_custkey",
    f"WITH {_HLL_SK} SELECT bucket, max_rank FROM sk",
)
def hll_sketch_custkey(spark, sf_dir):
    """HyperLogLog registers over ordering customers
    (operators/sketches.hll_sketch, p=8): 256 max-rank counters,
    MAX-mergeable — and, because the hash is md5-derived, the full
    register state hash-matches plain SQL (Spark's built-in HLL++ state
    is engine-private; approx_distinct_parts stays rows-only for
    exactly that reason, this one does not have to)."""
    orders = read_table(spark, sf_dir, "orders")
    return sketches.hll_sketch(orders, "o_custkey", p=_HLL_P)


@register(
    "hll_estimate_custkey",
    f"""WITH {_HLL_SK},
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS v,
                 SUM(POWER(2e0, -max_rank)) AS s
          FROM sk
        ),
        e AS (
          SELECT v,
                 {_HLL_ALPHA * _HLL_M * _HLL_M!r}e0
                   / (s + CAST({_HLL_M} - v AS DOUBLE)) AS raw,
                 {_HLL_M} - v AS zeros
          FROM agg
        )
        SELECT v AS n_buckets_used,
               ROUND(CASE WHEN raw <= {2.5 * _HLL_M!r}e0 AND zeros > 0
                          THEN {float(_HLL_M)!r}e0
                               * LN({float(_HLL_M)!r}e0 / CAST(zeros AS DOUBLE))
                          ELSE raw END, 6) AS estimate
        FROM e""",
)
def hll_estimate_custkey(spark, sf_dir):
    """HLL cardinality estimate (operators/sketches.hll_estimate):
    harmonic mean of the registers with linear-counting correction. The
    2^-rank harmonic sum is EXACT in double (<= 2^8 multiples of
    2^-45 — 53 significant bits, no rounding, so no order dependence);
    only the ln of the small-range branch is inherently floating,
    hence ROUND 6 (the stddev/corr contract)."""
    orders = read_table(spark, sf_dir, "orders")
    sk = sketches.hll_sketch(orders, "o_custkey", p=_HLL_P)
    est = sketches.hll_estimate(sk, p=_HLL_P)
    return est.select(
        "n_buckets_used", F.round("estimate", 6).alias("estimate")
    )


_NB, _NK = 4096, 3

#: k md5-derived bit positions per key — same 28-bit md5-prefix hash as
#: the CMS cells, mod num_bits.
_BLOOM_BITS = f"""
bbits AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(concat(CAST(i AS VARCHAR), '|',
                            CAST(o_custkey AS VARCHAR))), 1, 7))
                       AS BIGINT) % {_NB} AS bit
  FROM orders, UNNEST(range(0, {_NK})) AS t(i)
  WHERE o_custkey IS NOT NULL AND o_orderpriority = '1-URGENT'
)"""


@register(
    "bloom_bits_custkey",
    f"WITH {_BLOOM_BITS} SELECT bit FROM bbits",
)
def bloom_bits_custkey(spark, sf_dir):
    """Bloom-filter bit set over ordering customers
    (operators/sketches.bloom_bits): <= num_bits rows, OR-mergeable —
    the fourth mergeable sketch (CMS/histogram/HLL/Bloom), and like the
    others its md5-derived contents hash-match plain SQL exactly."""
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return sketches.bloom_bits(orders, "o_custkey", num_bits=_NB, k=_NK)


@register(
    "bloom_anti_join_customers",
    # The bloom prune is a pure fast path: the result must EQUAL the
    # plain anti-join — so the oracle is the plain anti-join.
    """SELECT c.c_custkey, c.c_name
       FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderpriority = '1-URGENT')""",
)
def bloom_anti_join_customers(spark, sf_dir):
    """Customers with no URGENT orders via the bloom-pruned exact
    anti-join (operators/sketches.bloom_pruned_anti_join): keys failing
    any bloom probe are certainly absent (no false negatives) and skip
    the join; only the maybe-present tail — true urgent-order customers
    plus the small false-positive tail — reaches the exact anti-join.
    The oracle IS the plain anti-join, proving the prune is lossless;
    the urgent filter keeps both paths populated (~10% of customers
    have no urgent order)."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_name")
    )
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return sketches.bloom_pruned_anti_join(
        c, o, "c_custkey", "o_custkey", num_bits=_NB, k=_NK
    ).select("c_custkey", "c_name")


@register(
    "streaming_hll_custkey",
    f"WITH {_HLL_SK} SELECT bucket, max_rank FROM sk",
)
def streaming_hll_custkey(spark, sf_dir):
    """Streaming HyperLogLog driven to completion: registers merge by
    MAX, so the unbounded complete-mode max-aggregation equals the
    batch sketch exactly — same oracle as hll_sketch_custkey, state
    bounded at 2^p counters (the whole sketch-streaming story, third
    member: CMS by SUM, histogram by SUM, HLL by MAX)."""
    import os

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.operators import sketches as sk

    raw_schema = footer_schema(os.path.join(sf_dir, "orders.parquet"))
    stream = st.stream_from_parquet_dir(
        spark, sf_dir, raw_schema, glob="orders.parquet"
    )
    out = sk.hll_sketch(stream, "o_custkey", p=_HLL_P)
    return st.run_available_now(out, "corpus_streaming_hll_custkey")


@register(
    "streaming_hist_order_totals",
    f"""SELECT {_HBIN} AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1""",
)
def streaming_hist_order_totals(spark, sf_dir):
    """Streaming equi-width histogram driven to completion: bin counts
    merge by SUM, streamed == batch exactly — same oracle as
    hist_order_totals, state bounded at `bins` counters."""
    import os

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.operators import sketches as sk

    raw_schema = footer_schema(os.path.join(sf_dir, "orders.parquet"))
    stream = st.stream_from_parquet_dir(
        spark, sf_dir, raw_schema, glob="orders.parquet"
    )
    out = sk.histogram_sketch(stream, "o_totalprice", _HLO, _HHI, _HBINS)
    return st.run_available_now(out, "corpus_streaming_hist_orders")


@register(
    "hll_merge_rollup_regions",
    # Nation-level registers MAX-merge into region registers; the
    # estimate chain is the hll_estimate twin GROUPed by region; the
    # exact distinct rides alongside so the sketch error is visible in
    # the result itself. All register math is md5-exact; only ln is
    # floating (ROUND 6).
    f"""WITH j AS (
          SELECT r_name, n_nationkey AS nk, o_custkey
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE o_custkey IS NOT NULL
        ),
        hsh AS (
          SELECT r_name, nk,
                 CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13))
                      AS BIGINT) AS h
          FROM j
        ),
        br AS (
          SELECT r_name, nk, CAST(h % {_HLL_M} AS INT) AS bucket,
                 CAST(FLOOR(h / {_HLL_M}e0) AS BIGINT) AS rest
          FROM hsh
        ),
        rk AS (
          SELECT r_name, nk, bucket,
                 CASE WHEN rest = 0 THEN {_HLL_NBITS + 1}
                      ELSE CAST(FLOOR(log2(CAST((rest & -rest) AS DOUBLE)))
                                AS INT) + 1
                 END AS rank
          FROM br
        ),
        skn AS (SELECT r_name, nk, bucket, MAX(rank) AS max_rank
                FROM rk GROUP BY 1, 2, 3),
        skr AS (SELECT r_name, bucket, CAST(MAX(max_rank) AS INT) AS max_rank
                FROM skn GROUP BY 1, 2),
        agg AS (
          SELECT r_name, CAST(COUNT(*) AS BIGINT) AS v,
                 SUM(POWER(2e0, -max_rank)) AS s
          FROM skr GROUP BY 1
        ),
        e AS (
          SELECT r_name, v,
                 {_HLL_ALPHA * _HLL_M * _HLL_M!r}e0
                   / (s + CAST({_HLL_M} - v AS DOUBLE)) AS raw,
                 {_HLL_M} - v AS zeros
          FROM agg
        ),
        x AS (SELECT r_name, CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
                       AS exact_distinct
              FROM j GROUP BY 1)
        SELECT e.r_name, v AS n_buckets_used,
               ROUND(CASE WHEN raw <= {2.5 * _HLL_M!r}e0 AND zeros > 0
                          THEN {float(_HLL_M)!r}e0
                               * LN({float(_HLL_M)!r}e0
                                    / CAST(zeros AS DOUBLE))
                          ELSE raw END, 6) AS estimate,
               x.exact_distinct
        FROM e JOIN x ON e.r_name = x.r_name""",
)
def hll_merge_rollup_regions(spark, sf_dir):
    """THE mergeability demo: per-nation HLL registers of ordering
    customers MAX-merge into per-region registers
    (operators/sketches.hll_sketch_grouped -> hll_merge ->
    hll_estimate_grouped) — the region estimates come from 2^p-int
    sketch states, never re-touching raw rows: the property that makes
    100 TB distinct-count rollup cubes storable and re-aggregable.
    The exact per-region distinct rides in the same result so the
    sketch error is auditable; register math is md5-exact on both
    engines, estimate ROUND 6 (ln only)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .select("r_name", F.col("n_nationkey").alias("nk"), "o_custkey")
    )
    skn = sketches.hll_sketch_grouped(j, ["r_name", "nk"], "o_custkey", p=_HLL_P)
    skr = sketches.hll_merge(skn, ["r_name"])
    est = sketches.hll_estimate_grouped(skr, ["r_name"], p=_HLL_P)
    exact = j.groupBy("r_name").agg(
        F.count_distinct(F.col("o_custkey")).cast("bigint").alias("exact_distinct")
    )
    return est.join(exact, "r_name").select(
        "r_name",
        "n_buckets_used",
        F.round("estimate", 6).alias("estimate"),
        "exact_distinct",
    )


@register(
    "kmv_quantile_prices",
    # Register-exact twin: the same bottom-512 md5(salt|orderkey) sample
    # and the same integer ceil-rank selection. The estimate is a RAW
    # o_totalprice value — no float math anywhere, so no ROUND at all.
    """WITH s AS (
          SELECT md5('kmvq|' || CAST(o_orderkey AS VARCHAR)) AS h,
                 o_totalprice AS v
          FROM orders
          WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
          ORDER BY h LIMIT 512
        ), r AS (
          SELECT v, ROW_NUMBER() OVER (ORDER BY v, h) AS rn,
                 COUNT(*) OVER () AS n
          FROM s
        )
        SELECT CAST(q AS DOUBLE) AS q, CAST(n AS BIGINT) AS n, v AS est
        FROM r
        JOIN (VALUES (0.25, 1, 4), (0.5, 1, 2), (0.75, 3, 4),
                     (0.9, 9, 10), (0.99, 99, 100)) AS qs(q, p, d)
          ON rn = GREATEST(1, (p * n + d - 1) // d)""",
)
def kmv_quantile_prices(spark, sf_dir):
    """Order-price quantiles from a bottom-k (KMV) quantile sketch
    (operators/sketches.kmv_quantile_sketch -> kmv_quantiles, k=512):
    the mergeable rank sketch beside the equi-width histogram — rank
    error O(1/sqrt(k)) at ANY quantile with no range assumption, state
    = 512 (hash, value) pairs. Registers are md5-deterministic, so the
    oracle reproduces them bit-for-bit (register-exact, not rows-only).
    The global bottom-k plans as TakeOrderedAndProject (heap), never a
    global sort — asserted in tests/test_plans.py."""
    o = read_table(spark, sf_dir, "orders")
    sk = sketches.kmv_quantile_sketch(
        o, F.col("o_totalprice"), F.col("o_orderkey"), k=512
    )
    return sketches.kmv_quantiles(
        sk, [], [(1, 4), (1, 2), (3, 4), (9, 10), (99, 100)]
    ).select("q", "n", "est")


@register(
    "kmv_merge_rollup_balances",
    # Two-level register-exact twin: per-nation bottom-128, UNION, then
    # per-region bottom-128 — identical to sketching each region's rows
    # directly (exact mergeability), which is what the engine's
    # kmv_merge computes. Median estimate is a raw c_acctbal value.
    """WITH h AS (
          SELECT n_regionkey AS rk, c_nationkey AS nk,
                 md5('kmvq|' || CAST(c_custkey AS VARCHAR)) AS h,
                 c_acctbal AS v
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          WHERE c_acctbal IS NOT NULL AND c_custkey IS NOT NULL
        ), nat AS (
          SELECT rk, h, v FROM (
            SELECT rk, h, v,
                   ROW_NUMBER() OVER (PARTITION BY nk ORDER BY h) AS rn
            FROM h) WHERE rn <= 128
        ), reg AS (
          SELECT rk, h, v FROM (
            SELECT rk, h, v,
                   ROW_NUMBER() OVER (PARTITION BY rk ORDER BY h) AS rn
            FROM nat) WHERE rn <= 128
        ), r AS (
          SELECT rk, v,
                 ROW_NUMBER() OVER (PARTITION BY rk ORDER BY v, h) AS rn,
                 COUNT(*) OVER (PARTITION BY rk) AS n
          FROM reg
        )
        SELECT CAST(rk AS BIGINT) AS region_key, CAST(n AS BIGINT) AS n,
               v AS median_est
        FROM r WHERE rn = GREATEST(1, (1 * n + 1) // 2)""",
)
def kmv_merge_rollup_balances(spark, sf_dir):
    """KMV mergeability demo (the quantile twin of
    hll_merge_rollup_regions): per-nation bottom-128 account-balance
    sketches merge into per-region registers
    (operators/sketches.kmv_quantile_sketch -> kmv_merge ->
    kmv_quantiles) — and because KMV merge is EXACT, the rolled-up
    registers equal what sketching each region's raw rows directly
    would give, which is precisely what the oracle computes. Region
    medians from 128-pair register sets, raw values, no ROUND."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    j = c.join(n, c["c_nationkey"] == n["n_nationkey"]).select(
        F.col("n_regionkey").alias("region_key"),
        F.col("c_nationkey").alias("nk"),
        "c_custkey",
        "c_acctbal",
    )
    skn = sketches.kmv_quantile_sketch(
        j,
        F.col("c_acctbal"),
        F.col("c_custkey"),
        k=128,
        keys=["region_key", "nk"],
    )
    skr = sketches.kmv_merge(skn, ["region_key"], k=128)
    return sketches.kmv_quantiles(skr, ["region_key"], [(1, 2)]).select(
        F.col("region_key").cast("bigint").alias("region_key"),
        "n",
        F.col("est").alias("median_est"),
    )


@register(
    "streaming_kmv_quantiles",
    # The streamed-and-merged register state equals the batch sketch
    # (EXACT KMV merge), so the oracle is the kmv_quantile_prices twin.
    """WITH s AS (
          SELECT md5('kmvq|' || CAST(o_orderkey AS VARCHAR)) AS h,
                 o_totalprice AS v
          FROM orders
          WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
          ORDER BY h LIMIT 512
        ), r AS (
          SELECT v, ROW_NUMBER() OVER (ORDER BY v, h) AS rn,
                 COUNT(*) OVER () AS n
          FROM s
        )
        SELECT CAST(q AS DOUBLE) AS q, CAST(n AS BIGINT) AS n, v AS est
        FROM r
        JOIN (VALUES (0.25, 1, 4), (0.5, 1, 2), (0.75, 3, 4),
                     (0.9, 9, 10), (0.99, 99, 100)) AS qs(q, p, d)
          ON rn = GREATEST(1, (p * n + d - 1) // d)""",
)
def streaming_kmv_quantiles(spark, sf_dir):
    """Streaming KMV quantile sketch driven to completion
    (streaming.kmv_sink): micro-batch register candidates merge into
    the registers committed to a sources/acid.py table by re-taking
    the k smallest hashes — EXACT mergeability means the final
    committed registers equal the batch sketch regardless of
    micro-batch boundaries, so the oracle is literally
    kmv_quantile_prices' twin. Completes the streaming
    sketch family: CMS by SUM, histogram by SUM, HLL by MAX, KMV by
    bottom-k re-cut."""
    import os
    import shutil

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.sources import acid

    scratch = os.path.join(
        os.path.dirname(__file__), "..", "..", ".scratch", "kmv_state"
    )
    scratch = os.path.abspath(scratch)
    shutil.rmtree(scratch, ignore_errors=True)

    raw_schema = footer_schema(os.path.join(sf_dir, "orders.parquet"))
    stream = st.stream_from_parquet_dir(
        spark, sf_dir, raw_schema, glob="orders.parquet"
    )
    proj = stream.filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderkey").isNotNull()
    ).select(
        F.md5(
            F.concat_ws("|", F.lit("kmvq"), F.col("o_orderkey").cast("string"))
        ).alias("h"),
        F.col("o_totalprice").alias("v"),
    )
    q = st.kmv_sink(proj, scratch, k=512, query_name="corpus_streaming_kmv")
    q.awaitTermination()
    regs = acid.read_snapshot(spark, scratch)
    return sketches.kmv_quantiles(
        regs, [], [(1, 4), (1, 2), (3, 4), (9, 10), (99, 100)]
    ).select("q", "n", "est")
