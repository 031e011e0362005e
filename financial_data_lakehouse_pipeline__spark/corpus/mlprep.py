"""Corpus: ML-data-prep operators — deterministic splits/sampling,
TF-IDF terms, PII redaction, discrete percentiles, decile bucketing, and
the binned range join.

All oracles are exact: hash arithmetic is md5-prefix integers, sampling
thresholds are integer buckets, percentiles are rank-based (no
interpolation), and TF-IDF uses the rational idf (N+1)/(df+1) whose
double division is IEEE-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.corpus import register, sql_money_sum
from financial_data_lakehouse_pipeline__spark.operators import (
    aggregates,
    cleaning,
    dq,
    joins,
    sampling,
    text,
)
from financial_data_lakehouse_pipeline__spark.sources import read_table


def _bucket_sql(id_expr: str, salt: str) -> str:
    """DuckDB twin of sampling.hash_bucket."""
    return (
        f"CAST(('0x' || substr(md5('{salt}:' || CAST({id_expr} AS VARCHAR)), 1, 7)) "
        f"AS BIGINT) % {sampling.BUCKETS}"
    )


@register(
    "hash_split_docs",
    f"""SELECT doc_id,
               CASE WHEN {_bucket_sql('doc_id', 'split')} < 8000 THEN 'train'
                    WHEN {_bucket_sql('doc_id', 'split')} < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents""",
)
def hash_split_docs(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment by content-hash
    bucket (operators/sampling.hash_split) — reproducible on any cluster
    size / partitioning, unlike rand() or TABLESAMPLE."""
    d = read_table(spark, sf_dir, "documents")
    return sampling.hash_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


@register(
    "stratified_sample_docs",
    f"""SELECT doc_id, lang
        FROM documents
        WHERE {_bucket_sql('doc_id', 'sample')} <
              CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 10000 ELSE 5000 END""",
)
def stratified_sample_docs(spark, sf_dir):
    """Per-language deterministic downsampling (operators/sampling
    .stratified_hash_sample): keep 25% of dominant English, all of rare
    Chinese, 50% elsewhere — the rebalancing step of a training-data mix."""
    d = read_table(spark, sf_dir, "documents")
    return sampling.stratified_hash_sample(
        d, "doc_id", "lang", {"en": 0.25, "zh": 1.0}, default_fraction=0.5
    ).select("doc_id", "lang")


@register(
    "mixture_resample_docs",
    f"""WITH n AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n
          FROM documents GROUP BY source
        ),
        w AS (
          SELECT source, n,
                 CASE source WHEN 'src0' THEN 5e-1 WHEN 'src1' THEN 3e-1
                             WHEN 'src2' THEN 2e-1 END AS w
          FROM n
        ),
        f AS (SELECT source, n, w FROM w WHERE w IS NOT NULL),
        t AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS tmin FROM f),
        thr AS (
          SELECT source,
                 CAST(FLOOR(w * tmin / CAST(n AS DOUBLE) * 10000) AS BIGINT)
                     AS thr
          FROM f, t
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN thr USING (source)
        WHERE {_bucket_sql('doc_id', 'mixture')} < thr""",
)
def mixture_resample_docs(spark, sf_dir):
    """Resample sources to a 0.5/0.3/0.2 target mixture
    (operators/sampling.mixture_resample): keep-rates derived from exact
    counts at the largest no-upsampling total, applied via the salted
    md5-bucket filter — thresholds and survivors are bit-reproducible."""
    d = read_table(spark, sf_dir, "documents")
    out = sampling.mixture_resample(
        d, "doc_id", "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    )
    return out.select("doc_id", "source")


#: canonicalized text (mirrors dedup.canonical_text / functions.tokens)
_CANON = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"

@register(
    "tfidf_top_terms_docs",
    f"""WITH terms AS (
          SELECT doc_id, unnest(regexp_split_to_array({_CANON}, ' ')) AS term
          FROM documents
          WHERE length(trim(text)) > 0
        ),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM terms WHERE length(term) >= 3 GROUP BY 1, 2
        ),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(DISTINCT doc_id) AS nn FROM documents),
        scored AS (
          SELECT doc_id, term, tf,
                 CAST(tf AS DOUBLE)
                   * (CAST(nn + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) AS tfidf
          FROM tf JOIN dfq USING (term) CROSS JOIN n
        ),
        ranked AS (
          SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY doc_id
                   ORDER BY tfidf DESC, tf DESC, term) AS INT) AS rank
          FROM scored
        )
        SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 3""",
)
def tfidf_top_terms_docs(spark, sf_dir):
    """Top-3 characteristic terms per document by tf x rational-idf
    (operators/text.tfidf_top_terms). Vocabulary df table broadcasts; the
    only full shuffle is the (doc,term) tf groupBy."""
    d = read_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(d, top_k=3, min_term_len=3)


@register(
    "redact_pii_docs",
    r"""SELECT doc_id,
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '[0-9]{6,}', '<NUM>', 'g') AS redacted_text,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                 AS BIGINT) AS n_emails_redacted,
               CAST(len(regexp_extract_all(
                   regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                   '[0-9]{6,}'))
                 AS BIGINT) AS n_numbers_redacted
        FROM documents""",
)
def redact_pii_docs(spark, sf_dir):
    """PII masking with an audit count per pattern (operators/text
    .redact_pii): emails then 6+-digit runs, patterns from the common
    Java-regex/RE2 subset so both engines substitute identically."""
    d = read_table(spark, sf_dir, "documents")
    return text.redact_pii(d).select(
        "doc_id", "redacted_text", "n_emails_redacted", "n_numbers_redacted"
    )


@register(
    "acctbal_percentiles",
    """WITH r AS (
          SELECT c_mktsegment, c_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS rn,
                 COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
          FROM customer
        )
        SELECT c_mktsegment,
               unnest(list_filter([25e-2, 5e-1, 75e-2, 9e-1],
                                  q -> ceil(q * n) = rn)) AS q,
               c_acctbal AS value
        FROM r""",
)
def acctbal_percentiles(spark, sf_dir):
    """Exact discrete quartiles + p90 of account balance per market
    segment (operators/aggregates.percentile_disc) — rank-based, so the
    result is an actual data value and bit-exact across engines."""
    c = read_table(spark, sf_dir, "customer")
    return aggregates.percentile_disc(
        c, ["c_mktsegment"], "c_acctbal", [0.25, 0.5, 0.75, 0.9]
    )


@register(
    "winsorize_order_totals",
    """WITH r AS (
          SELECT o_orderpriority AS k, o_totalprice AS v,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM orders
        ),
        lo AS (SELECT k, v AS lo_v FROM r WHERE rn = CEIL(5e-2 * n)),
        hi AS (SELECT k, v AS hi_v FROM r WHERE rn = CEIL(95e-2 * n))
        SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
               LEAST(GREATEST(o.o_totalprice, lo.lo_v), hi.hi_v)
                   AS o_totalprice_winsorized
        FROM orders o
        JOIN lo ON lo.k = o.o_orderpriority
        JOIN hi ON hi.k = o.o_orderpriority""",
)
def winsorize_order_totals(spark, sf_dir):
    """Per-priority winsorization of order totals at [p05, p95]
    (operators/aggregates.winsorize): exact discrete-percentile bounds
    (rank logic — bit-portable, no interpolation), broadcast back and
    clamped map-side. The heavy-tail outlier treatment every robust
    aggregate wants upstream."""
    o = read_table(spark, sf_dir, "orders")
    out = aggregates.winsorize(
        o, ["o_orderpriority"], "o_totalprice", lo_q=0.05, hi_q=0.95
    )
    return out.select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        "o_totalprice_winsorized",
    )


@register(
    "customer_deciles",
    """WITH d AS (
          SELECT c_custkey,
                 CAST(NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS INT)
                     AS decile,
                 c_acctbal
          FROM customer
        )
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               MIN(c_acctbal) AS min_bal,
               MAX(c_acctbal) AS max_bal
        FROM d GROUP BY decile""",
)
def customer_deciles(spark, sf_dir):
    """Decile bucketing by account balance (operators/windows.ranked
    ntile_10 over a total order) rolled up to per-decile stats — the
    equal-frequency binning step of feature engineering."""
    from financial_data_lakehouse_pipeline__spark.operators import windows

    c = read_table(spark, sf_dir, "customer")
    d = windows.ranked(
        c, [], [F.col("c_acctbal"), F.col("c_custkey")], methods=("ntile_10",)
    )
    return (
        d.groupBy(F.col("ntile_10").cast("int").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
    )


@register(
    "campaign_order_windows",
    f"""WITH camp AS (
          SELECT o_orderkey AS campaign_id,
                 datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d0
          FROM orders WHERE o_orderkey % 97 = 0
        ),
        pts AS (
          SELECT o_orderkey, o_totalprice,
                 datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d
          FROM orders
        )
        SELECT campaign_id,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_money_sum('o_totalprice')} AS total_price
        FROM camp JOIN pts ON pts.d >= camp.d0 AND pts.d <= camp.d0 + 3
        GROUP BY campaign_id""",
)
def campaign_order_windows(spark, sf_dir):
    """Interval-containment join at scale: every 97th order opens a 4-day
    'campaign window'; count/sum the orders falling inside each window via
    the binned range join (operators/joins.range_join_binned) — equi-join
    on day bins + exact range filter, never a cross product."""
    o = read_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    camp = o.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("campaign_id"),
        day.alias("d0"),
        (day + 3).alias("d1"),
    )
    pts = o.select("o_orderkey", "o_totalprice", day.alias("d"))
    from financial_data_lakehouse_pipeline__spark.functions import money_sum

    return (
        joins.range_join_binned(pts, camp, "d", "d0", "d1", bin_width=4)
        .groupBy("campaign_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


def _morton_sql(cols: list[str], bits: int) -> str:
    """DuckDB twin of operators/layout.morton_code."""
    n = len(cols)
    terms = [
        f"((({c} >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "zorder_customers",
    f"""WITH q AS (
          SELECT c_custkey,
                 CAST(c_nationkey AS BIGINT) AS q1,
                 CAST(FLOOR((c_acctbal + 1000e0) / 16e0) AS BIGINT) AS q2
          FROM customer
        )
        SELECT c_custkey, {_morton_sql(['q1', 'q2'], 10)} AS zorder
        FROM q""",
)
def zorder_customers(spark, sf_dir):
    """Morton (Z-order) clustering code over (nation, quantized balance)
    (operators/layout.morton_code): bit-interleaved so sorting by it
    co-locates rows close in EITHER dimension — the layout that lets
    min/max file stats prune scans on any clustered column. Pure integer
    bit arithmetic, oracle-exact."""
    from financial_data_lakehouse_pipeline__spark.operators import layout

    c = read_table(spark, sf_dir, "customer")
    q1 = F.col("c_nationkey").cast("bigint")
    q2 = F.floor((F.col("c_acctbal") + F.lit(1000.0)) / F.lit(16.0)).cast("bigint")
    return c.select(
        "c_custkey", layout.morton_code([q1, q2], bits=10).alias("zorder")
    )


@register(
    "dq_orders_checks",
    """WITH w AS (
          SELECT SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS custkey_not_null,
                 SUM(CASE WHEN o_totalprice IS NOT NULL
                           AND o_totalprice >= 0 AND o_totalprice <= 1000000
                          THEN 0 ELSE 1 END) AS totalprice_in_range,
                 SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 0 ELSE 1 END)
                     AS status_in_set,
                 COUNT(*) - COUNT(DISTINCT o_orderkey) AS orderkey_unique
          FROM orders
        ),
        l AS (
          SELECT 'custkey_not_null' AS check_name, custkey_not_null AS n FROM w
          UNION ALL SELECT 'totalprice_in_range', totalprice_in_range FROM w
          UNION ALL SELECT 'status_in_set', status_in_set FROM w
          UNION ALL SELECT 'orderkey_unique', orderkey_unique FROM w
        )
        SELECT check_name, CAST(n AS BIGINT) AS n_violations, n = 0 AS passed
        FROM l""",
)
def dq_orders_checks(spark, sf_dir):
    """Declarative data-quality expectations over orders in ONE
    aggregation pass (operators/dq.check_summary): null / range / set
    row checks as conditional sums plus key-uniqueness as an aggregate
    check — the audit record a pipeline stores per dataset version."""
    from financial_data_lakehouse_pipeline__spark.operators import dq

    o = read_table(spark, sf_dir, "orders")
    return dq.check_summary(
        o,
        row_checks={
            "custkey_not_null": dq.not_null("o_custkey"),
            "totalprice_in_range": dq.in_range("o_totalprice", 0, 1_000_000),
            "status_in_set": dq.in_set("o_orderstatus", ["O", "F", "P"]),
        },
        agg_checks={"orderkey_unique": dq.unique_violations(["o_orderkey"])},
    )


#: deterministic snapshot mutation used by the CDC queries: drop every
#: 13th key, re-segment every 7th, insert a shifted copy of every 11th.
_NEW_SNAP_SQL = """
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN 'SHIFTED' ELSE c_mktsegment END
             AS c_mktsegment,
         c_acctbal
  FROM customer WHERE c_custkey % 13 <> 0
  UNION ALL
  SELECT c_custkey + 1000000, c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey % 11 = 0
"""


def _new_snapshot(c):
    changed = c.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, "SHIFTED").otherwise(
            F.col("c_mktsegment")
        ),
    ).filter(F.col("c_custkey") % 13 != 0)
    inserted = c.filter(F.col("c_custkey") % 11 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 1000000
    )
    cols = ["c_custkey", "c_mktsegment", "c_acctbal"]
    return changed.select(cols).unionByName(inserted.select(cols))


@register(
    "snapshot_diff_customers",
    f"""WITH o AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        n AS ({_NEW_SNAP_SQL})
        SELECT COALESCE(n.c_custkey, o.c_custkey) AS c_custkey,
               CASE WHEN n.c_custkey IS NOT NULL THEN n.c_mktsegment
                    ELSE o.c_mktsegment END AS c_mktsegment,
               CASE WHEN n.c_custkey IS NOT NULL THEN n.c_acctbal
                    ELSE o.c_acctbal END AS c_acctbal,
               CASE WHEN o.c_custkey IS NULL THEN 'inserted'
                    WHEN n.c_custkey IS NULL THEN 'deleted'
                    WHEN o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
                      OR o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'updated'
                    ELSE 'unchanged' END AS change_type
        FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey""",
)
def snapshot_diff_customers(spark, sf_dir):
    """Snapshot diff -> change feed (operators/cdc.snapshot_diff): one
    full-outer join labels every key inserted/deleted/updated/unchanged —
    the minimal-cost CDC between two versions of a table."""
    from financial_data_lakehouse_pipeline__spark.operators import cdc

    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return cdc.snapshot_diff(
        c, _new_snapshot(c), keys=["c_custkey"], compare=["c_mktsegment", "c_acctbal"]
    )


@register(
    "scd2_customer_segments",
    """WITH closed AS (
          SELECT c_custkey, 'LEGACY' AS c_mktsegment,
                 DATE '2019-01-01' AS valid_from,
                 CAST(DATE '2020-01-01' AS DATE) AS valid_to
          FROM customer WHERE c_custkey % 5 = 0
        ),
        open_rows AS (
          SELECT c_custkey, c_mktsegment,
                 DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
          FROM customer
        ),
        upd AS (
          SELECT c_custkey, 'SHIFTED' AS c_mktsegment,
                 DATE '2024-06-01' AS ts
          FROM customer WHERE c_custkey % 7 = 0
          UNION ALL
          SELECT c_custkey + 1000000, c_mktsegment, DATE '2024-06-01'
          FROM customer WHERE c_custkey % 11 = 0
        ),
        j AS (
          SELECT d.c_custkey AS dk, d.c_mktsegment AS dseg, d.valid_from,
                 u.c_custkey AS uk, u.c_mktsegment AS useg, u.ts,
                 (d.c_mktsegment IS DISTINCT FROM u.c_mktsegment) AS changed
          FROM open_rows d FULL OUTER JOIN upd u ON d.c_custkey = u.c_custkey
        ),
        kept_open AS (
          SELECT dk AS c_custkey, dseg AS c_mktsegment, valid_from,
                 CASE WHEN uk IS NOT NULL AND changed THEN ts END AS valid_to
          FROM j WHERE dk IS NOT NULL
        ),
        fresh AS (
          SELECT uk AS c_custkey, useg AS c_mktsegment, ts AS valid_from,
                 CAST(NULL AS DATE) AS valid_to
          FROM j WHERE uk IS NOT NULL AND (dk IS NULL OR changed)
        )
        SELECT * FROM closed
        UNION ALL SELECT * FROM kept_open
        UNION ALL SELECT * FROM fresh""",
)
def scd2_customer_segments(spark, sf_dir):
    """SCD Type-2 dimension merge (operators/cdc.scd2_apply): a segment
    re-assignment batch closes superseded open rows (valid_to = batch ts)
    and inserts new open versions; closed history passes through. One
    keyed join over the OPEN slice only — the Delta-MERGE shape without
    the transaction log."""
    from financial_data_lakehouse_pipeline__spark.operators import cdc

    c = read_table(spark, sf_dir, "customer")
    closed = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.lit("LEGACY").alias("c_mktsegment"),
        F.lit("2019-01-01").cast("date").alias("valid_from"),
        F.lit("2020-01-01").cast("date").alias("valid_to"),
    )
    open_rows = c.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    dim = closed.unionByName(open_rows)
    upd = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            F.lit("SHIFTED").alias("c_mktsegment"),
            F.lit("2024-06-01").cast("date").alias("ts"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                "c_mktsegment",
                F.lit("2024-06-01").cast("date").alias("ts"),
            )
        )
    )
    return cdc.scd2_apply(
        dim, upd, keys=["c_custkey"], attrs=["c_mktsegment"], ts_col="ts"
    )


@register(
    "pack_sequences_docs",
    r"""WITH t AS (
          SELECT source, doc_id,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\s+'))
                      END AS BIGINT) AS nt
          FROM documents
        ),
        c AS (
          SELECT source, doc_id, nt,
                 SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
          FROM t
        )
        SELECT source, doc_id, nt AS n_tokens,
               CAST(cum - nt AS BIGINT) AS start_offset,
               CASE WHEN nt > 0
                    THEN CAST(FLOOR(CAST(cum - nt AS DOUBLE) / 128) AS BIGINT)
               END AS first_bin,
               CASE WHEN nt > 0
                    THEN CAST(FLOOR(CAST(cum - 1 AS DOUBLE) / 128) AS BIGINT)
               END AS last_bin,
               CAST(CASE WHEN nt > 0
                         THEN FLOOR(CAST(cum - 1 AS DOUBLE) / 128)
                              - FLOOR(CAST(cum - nt AS DOUBLE) / 128) + 1
                         ELSE 0 END AS BIGINT) AS n_bins_spanned
        FROM c""",
)
def pack_sequences_docs(spark, sf_dir):
    """GPT-style sequence packing (operators/sampling.pack_sequences):
    whitespace token counts, per-source pack groups ordered by doc_id,
    128-token context windows. All-integer arithmetic plus FLOOR on an
    exact double quotient — bit-identical cross-engine."""
    from financial_data_lakehouse_pipeline__spark.operators import text

    d = read_table(spark, sf_dir, "documents")
    return sampling.pack_sequences(
        d, text.token_count(F.col("text")), capacity=128
    )


@register(
    "drift_doc_sources",
    """WITH a AS (
          SELECT lang, COUNT(*) AS cnt_a FROM documents
          WHERE doc_id % 2 = 0 GROUP BY 1
        ),
        b AS (
          SELECT lang, COUNT(*) AS cnt_b FROM documents
          WHERE doc_id % 2 = 1 GROUP BY 1
        ),
        m AS (
          SELECT COALESCE(a.lang, b.lang) AS lang,
                 COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
          FROM a FULL OUTER JOIN b ON a.lang = b.lang
        ),
        t AS (
          SELECT lang, cnt_a, cnt_b,
                 SUM(cnt_a) OVER () AS ta, SUM(cnt_b) OVER () AS tb
          FROM m
        )
        SELECT lang,
               CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
               CAST(cnt_a AS DOUBLE) / ta AS p_a,
               CAST(cnt_b AS DOUBLE) / tb AS p_b,
               CAST(ABS(cnt_a * tb - cnt_b * ta) AS DOUBLE) / (ta * tb)
                   AS abs_diff,
               5e-1 * CAST(SUM(ABS(cnt_a * tb - cnt_b * ta)) OVER ()
                           AS DOUBLE) / (ta * tb) AS tvd
        FROM t""",
)
def drift_doc_sources(spark, sf_dir):
    """Categorical drift check (operators/dq.distribution_drift): language
    mix of the even-id document half vs the odd-id half, with the global
    total-variation distance. TVD is assembled from integer
    cross-products — bit-identical cross-engine, no ln()."""
    from financial_data_lakehouse_pipeline__spark.operators import dq

    d = read_table(spark, sf_dir, "documents")
    return dq.distribution_drift(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "lang",
    )


@register(
    "minmax_scale_events",
    """SELECT event_id, event_type, value,
              CASE WHEN mx <> mn THEN (value - mn) / (mx - mn) END
                  AS value_scaled
       FROM (SELECT event_id, event_type, value,
                    MIN(value) OVER (PARTITION BY event_type) AS mn,
                    MAX(value) OVER (PARTITION BY event_type) AS mx
             FROM events)""",
)
def minmax_scale_events(spark, sf_dir):
    """Per-group min-max feature scaling (operators/cleaning.minmax_scale):
    (v - min)/(max - min) on exact double extremes — three IEEE row ops,
    bit-identical cross-engine; constant groups scale to NULL."""
    ev = read_table(spark, sf_dir, "events")
    out = cleaning.minmax_scale(ev, ["event_type"], ["value"])
    return out.select("event_id", "event_type", "value", "value_scaled")


@register(
    "merge_upsert_customers",
    # MERGE semantics: updates win on key collision, untouched target
    # rows pass through = updates UNION ALL (target anti-join updates).
    """WITH u AS (
          SELECT c_custkey, 'UPSERTED' AS c_mktsegment,
                 c_acctbal + 100.0 AS c_acctbal
          FROM customer WHERE c_custkey % 7 = 0
          UNION ALL
          SELECT c_custkey + 2000000, c_mktsegment, c_acctbal
          FROM customer WHERE c_custkey % 17 = 0
        )
        SELECT t.c_custkey, t.c_mktsegment, t.c_acctbal
        FROM customer t
        WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.c_custkey = t.c_custkey)
        UNION ALL
        SELECT * FROM u""",
)
def merge_upsert_customers(spark, sf_dir):
    """MERGE INTO on plain DataFrames (operators/cdc.merge_upsert):
    matched keys take the update row wholesale, unmatched update rows
    insert, untouched target rows pass through — Delta-MERGE semantics
    compiled to one left-anti join + unionByName (sources.acid.merge
    is the ACID variant). The update batch is
    derived deterministically from the customer table (every 7th key
    re-segmented with +100 balance; every 17th key re-keyed as an
    insert)."""
    from financial_data_lakehouse_pipeline__spark.operators import cdc

    cols = ["c_custkey", "c_mktsegment", "c_acctbal"]
    t = read_table(spark, sf_dir, "customer").select(cols)
    changed = (
        t.filter(F.col("c_custkey") % 7 == 0)
        .withColumn("c_mktsegment", F.lit("UPSERTED"))
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
    )
    inserted = t.filter(F.col("c_custkey") % 17 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 2000000
    )
    u = changed.select(cols).unionByName(inserted.select(cols))
    return cdc.merge_upsert(t, u, keys=["c_custkey"])


@register(
    "weighted_sample_docs",
    # Poisson weighted sampling: keep iff h28 * W < k * w * 2^28 in exact
    # DECIMAL(38,0) arithmetic — mirrors sampling.weighted_poisson_sample.
    """WITH w AS (SELECT CAST(SUM(n_chars) AS DECIMAL(38,0)) AS W
                  FROM documents)
       SELECT doc_id, source, n_chars
       FROM documents, w
       WHERE CAST(CAST(('0x' || substr(
                 md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 7))
                 AS BIGINT) AS DECIMAL(38,0)) * W
             < CAST(50 AS DECIMAL(38,0))
               * CAST(n_chars AS DECIMAL(38,0))
               * CAST(268435456 AS DECIMAL(38,0))""",
)
def weighted_sample_docs(spark, sf_dir):
    """Deterministic weighted (Poisson) sampling, inclusion probability
    proportional to document length (operators/sampling
    .weighted_poisson_sample): expected ~50 docs, no rand(), integer-
    exact coin flips — the reproducible importance-sampling primitive
    for corpus subsetting."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return sampling.weighted_poisson_sample(
        d, id_col="doc_id", weight_col="n_chars", expected_k=50, salt="wsample"
    )


@register(
    "pit_join_orders_segments",
    # Each order picks the dimension version valid at o_orderdate:
    # every-3rd customer has an EARLY version before 1998-01-01, the
    # real segment after; everyone else one open version.
    #
    # Formulated as INNER equi-join + anti-join (not LEFT JOIN with the
    # interval residual in ON): mixing the equality and the date
    # inequalities in a LEFT JOIN's ON sends DuckDB down its range-join
    # path — 492 s at sf2 vs 0.3 s for this shape (hash join on the
    # key, interval as a post-join filter, unmatched orders recovered
    # by the anti-join; identical rows since o_orderkey is unique and
    # version intervals are disjoint).
    """WITH dim AS (
          SELECT c_custkey, 'EARLY' AS segment,
                 DATE '1990-01-01' AS valid_from,
                 CAST(DATE '1998-01-01' AS DATE) AS valid_to
          FROM customer WHERE c_custkey % 3 = 0
          UNION ALL
          SELECT c_custkey, c_mktsegment,
                 DATE '1998-01-01', CAST(NULL AS DATE)
          FROM customer WHERE c_custkey % 3 = 0
          UNION ALL
          SELECT c_custkey, c_mktsegment,
                 DATE '1990-01-01', CAST(NULL AS DATE)
          FROM customer WHERE c_custkey % 3 <> 0
        ), m AS (
          SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, d.segment
          FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
          WHERE o.o_orderdate >= d.valid_from
            AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
        )
        SELECT * FROM m
        UNION ALL
        SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
               CAST(NULL AS VARCHAR) AS segment
        FROM orders o ANTI JOIN m ON o.o_orderkey = m.o_orderkey""",
)
def pit_join_orders_segments(spark, sf_dir):
    """Point-in-time join (operators/joins.pit_join): orders pick the
    customer-segment version valid at o_orderdate from an SCD2-style
    dimension — equi-join on the key with the validity interval as a
    residual predicate, one shuffle, no range cross-join. The temporal-
    correctness pattern for historized dimensions (pairs with
    cdc.scd2_apply / scd2_customer_segments)."""
    c = read_table(spark, sf_dir, "customer")
    early = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.lit("EARLY").alias("segment"),
        F.lit("1990-01-01").cast("date").alias("valid_from"),
        F.lit("1998-01-01").cast("date").alias("valid_to"),
    )
    late = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1998-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    always = c.filter(F.col("c_custkey") % 3 != 0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    dim = early.unionByName(late).unionByName(always)
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    out = joins.pit_join(o, dim, [("o_custkey", "c_custkey")], "o_orderdate")
    return out.select("o_orderkey", "o_custkey", "o_orderdate", "segment")


@register(
    "incremental_agg_orders",
    # The merged (base + delta) aggregate must equal a full recompute
    # over the union — the incremental-view-maintenance equality.
    """SELECT o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(FLOOR(o_totalprice * 100e0 + 5e-1) AS BIGINT))
                   AS BIGINT) AS rev_cents
       FROM orders
       GROUP BY o_orderpriority""",
)
def incremental_agg_orders(spark, sf_dir):
    """Incremental aggregate maintenance (operators/aggregates
    .merge_aggregates): pre-1999 orders are the standing base aggregate,
    1999+ orders the delta batch; merging the two aggregates must equal
    the full recompute over all orders — which is exactly what the
    oracle computes. All measures are exact BIGINTs, so the equality is
    bit-level, and the daily refresh touches |delta| rows, not history."""
    from financial_data_lakehouse_pipeline__spark.operators import aggregates as agg_ops

    o = read_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    split = F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")

    def rollup(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(cents).cast("bigint").alias("rev_cents"),
        )

    base = rollup(o.filter(split))
    delta = rollup(o.filter(~split))
    return agg_ops.merge_aggregates(
        base, delta, ["o_orderpriority"], ["n_orders", "rev_cents"]
    )


@register(
    "exact_k_sample_docs",
    """SELECT doc_id, source, n_chars FROM (
         SELECT doc_id, source, n_chars,
                md5('exk:' || CAST(doc_id AS VARCHAR)) AS k
         FROM documents ORDER BY k LIMIT 100
       )""",
)
def exact_k_sample_docs(spark, sf_dir):
    """Deterministic exact-k uniform sample (operators/sampling
    .exact_k_sample): the 100 rows with the smallest salted-md5 digests
    — reproducible on any engine/cluster AND exactly sized, unlike
    Bernoulli designs. Plans TakeOrderedAndProject (per-partition
    heaps)."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return sampling.exact_k_sample(d, "doc_id", k=100)


@register(
    "exact_k_per_group_docs",
    # Hash-ranked row_number twin: same salted md5 order, same per-
    # stratum cut. ORDER inside the window is the md5 hex string —
    # identical lexicographic ranking on both engines.
    """SELECT doc_id, source, lang FROM (
         SELECT doc_id, source, lang,
                ROW_NUMBER() OVER (
                  PARTITION BY source, lang
                  ORDER BY md5('exkg:' || CAST(doc_id AS VARCHAR))
                ) AS rn
         FROM documents
       ) WHERE rn <= 40""",
)
def exact_k_per_group_docs(spark, sf_dir):
    """Per-stratum exact-k uniform sample (operators/sampling
    .exact_k_per_group): exactly 40 docs per (source, lang) — the
    distributed per-key reservoir for mixture curation: every stratum
    capped in ONE pass, rare strata kept whole. The rank filter plans
    as WindowGroupLimit (per-partition pre-prune to local top-k before
    the shuffle), never a global sort."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    return sampling.exact_k_per_group(d, ["source", "lang"], "doc_id", k=40)


@register(
    "profile_orders",
    """WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM orders)
       SELECT 'o_totalprice' AS "column",
              CAST(COUNT(o_totalprice) AS BIGINT) AS n,
              t.total - COUNT(o_totalprice) AS n_null,
              CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
              CAST(MIN(o_totalprice) AS DOUBLE) AS min_v,
              CAST(MAX(o_totalprice) AS DOUBLE) AS max_v
       FROM orders, t GROUP BY t.total
       UNION ALL
       SELECT 'o_custkey',
              CAST(COUNT(o_custkey) AS BIGINT),
              t.total - COUNT(o_custkey),
              CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
              CAST(MIN(o_custkey) AS DOUBLE),
              CAST(MAX(o_custkey) AS DOUBLE)
       FROM orders, t GROUP BY t.total
       UNION ALL
       SELECT 'o_orderpriority',
              CAST(COUNT(o_orderpriority) AS BIGINT),
              t.total - COUNT(o_orderpriority),
              CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
              CAST(MIN(LENGTH(o_orderpriority)) AS DOUBLE),
              CAST(MAX(LENGTH(o_orderpriority)) AS DOUBLE)
       FROM orders, t GROUP BY t.total
       UNION ALL
       SELECT 'o_orderstatus',
              CAST(COUNT(o_orderstatus) AS BIGINT),
              t.total - COUNT(o_orderstatus),
              CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
              CAST(MIN(LENGTH(o_orderstatus)) AS DOUBLE),
              CAST(MAX(LENGTH(o_orderstatus)) AS DOUBLE)
       FROM orders, t GROUP BY t.total""",
)
def profile_orders(spark, sf_dir):
    """One-pass table profile (operators/dq.profile_columns): count /
    nulls / exact distinct / min-max (value for numerics, length for
    strings) for four orders columns from ONE aggregation over one scan
    — the data-card audit a landing pipeline writes per dataset
    version."""
    o = read_table(spark, sf_dir, "orders")
    return dq.profile_columns(
        o,
        numeric_cols=["o_totalprice", "o_custkey"],
        string_cols=["o_orderpriority", "o_orderstatus"],
    )


def _benford_sql() -> str:
    import math

    lits = ", ".join(repr(math.log10(1.0 + 1.0 / d)) + "e0" for d in range(1, 10))
    return f"""WITH c AS (
          SELECT CAST(FLOOR(o_totalprice * 100e0 + 5e-1) AS BIGINT) AS cents
          FROM orders
        ),
        k AS (
          SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM c WHERE cents > 0 GROUP BY 1
        ),
        s AS (
          SELECT digit, cnt,
                 CAST(cnt AS DOUBLE) / SUM(cnt) OVER () AS observed_p,
                 [{lits}][digit] AS expected_p
          FROM k
        )
        SELECT digit, cnt, observed_p, expected_p,
               ROUND(SUM(POWER(observed_p - expected_p, 2) / expected_p)
                     OVER (), 6) AS benford_dev
        FROM s"""


@register("benford_orders", _benford_sql())
def benford_orders(spark, sf_dir):
    """Benford first-digit screen over order totals in cents
    (operators/dq.benford_deviation): digit from the exact decimal
    string (no log10 boundary risk), observed vs log10(1+1/d) expected
    shares, chi-square-style global deviation. The 9-term deviation sum
    is the one inherently-floating aggregate → ROUND 6; everything else
    is exact integers and single divisions."""
    o = read_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    out = dq.benford_deviation(o, cents)
    return out.select(
        "digit", "cnt", "observed_p", "expected_p",
        F.round("benford_dev", 6).alias("benford_dev"),
    )


@register(
    "monotonic_event_ids",
    """WITH s AS (
          SELECT user_id, event_id,
                 LAG(event_id) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
          FROM events
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(prev) AS BIGINT) AS n_steps,
               CAST(COALESCE(SUM(CASE WHEN event_id < prev THEN 1 END), 0)
                    AS BIGINT) AS n_violations,
               COALESCE(SUM(CASE WHEN event_id < prev THEN 1 END), 0) = 0
                   AS monotonic
        FROM s GROUP BY user_id""",
)
def monotonic_event_ids(spark, sf_dir):
    """Sequence-sanity audit (operators/dq.monotonic_report): per user,
    does event_id assignment move forward with event time? One lag over
    one keyed window, exact integer step/violation counts — the check a
    pipeline runs before trusting id-based tiebreaks."""
    from financial_data_lakehouse_pipeline__spark.sources import read_table as rt

    ev = rt(spark, sf_dir, "events")
    return dq.monotonic_report(
        ev, ["user_id"], [F.col("ts"), F.col("event_id")], "event_id"
    )


@register(
    "srm_check_events",
    # Same md5 bucket assignment, distinct-unit counts, fixed double
    # chain for expected/chi2 — exact until the two final divisions.
    f"""WITH a AS (
          SELECT DISTINCT user_id,
                 CASE WHEN {_bucket_sql('user_id', 'ab')} < 5000
                      THEN 'control'
                      WHEN {_bucket_sql('user_id', 'ab')} < 10000
                      THEN 'treatment' END AS arm
          FROM events WHERE user_id IS NOT NULL
        ),
        c AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n
              FROM a WHERE arm IS NOT NULL GROUP BY arm),
        s AS (SELECT * FROM (VALUES ('control', 5000),
                                    ('treatment', 5000)) AS v(arm, w)),
        f AS (SELECT s.arm, COALESCE(c.n, CAST(0 AS BIGINT)) AS n, s.w
              FROM s LEFT JOIN c ON s.arm = c.arm),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM f)
        SELECT arm, n,
               CAST(tot AS DOUBLE) * CAST(w AS DOUBLE) / 10000e0
                 AS expected,
               CASE WHEN CAST(tot AS DOUBLE) * CAST(w AS DOUBLE)
                         / 10000e0 > 0 THEN
                 (CAST(n AS DOUBLE) - CAST(tot AS DOUBLE)
                    * CAST(w AS DOUBLE) / 10000e0)
                 * (CAST(n AS DOUBLE) - CAST(tot AS DOUBLE)
                    * CAST(w AS DOUBLE) / 10000e0)
                 / (CAST(tot AS DOUBLE) * CAST(w AS DOUBLE) / 10000e0)
               END AS chi2_term
        FROM f, t""",
)
def srm_check_events(spark, sf_dir):
    """Sample-ratio-mismatch gate for a 50/50 hash-assigned experiment
    over event users (operators/sampling.srm_check): deterministic md5
    arm assignment, distinct-unit counts, per-arm chi-square terms —
    the assignment-integrity check every A/B readout runs first.
    Exact counts; expected/chi2 are fixed double chains."""
    ev = read_table(spark, sf_dir, "events")
    return sampling.srm_check(
        ev, "user_id", [("control", 5000), ("treatment", 5000)], salt="ab"
    )
