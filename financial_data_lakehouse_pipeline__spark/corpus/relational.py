"""Corpus: projections, filters, scalar functions, joins, aggregations,
sorts/top-k, set ops, SQL views (SURVEY.md §2.1-§2.4, §2.6-§2.8, §3.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.corpus import (
    register,
    sql_dmean,
    sql_dsum,
    sql_money_sum,
)
from financial_data_lakehouse_pipeline__spark.functions import (
    dmean,
    dsum,
    guarded_div,
    money_sum,
    safe_corr,
)
from financial_data_lakehouse_pipeline__spark.operators import aggregates as agg
from financial_data_lakehouse_pipeline__spark.operators import analysis, cleaning, joins
from financial_data_lakehouse_pipeline__spark.operators.sql_views import VIEWS
from financial_data_lakehouse_pipeline__spark.sources import read_table, register_views

_DEC = "decimal(30,6)"


# ---------------------------------------------------------------- SQL views
# The reference's analytical views (hive_schemas.sql:236-294,
# postgresql_schemas.sql:225-271) — same SQL on both engines.

def _view_query(view_name: str):
    def fn(spark, sf_dir):
        register_views(spark, sf_dir)
        return spark.sql(VIEWS[view_name])

    return fn


for _v, _sql in VIEWS.items():
    register(_v, _sql)(_view_query(_v))


# ------------------------------------------------------- projection / scalar

@register(
    "projection_cast",
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
              ROUND(l_extendedprice, 2) AS price,
              CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
              l_returnflag AS flag
       FROM lineitem""",
)
def projection_cast(spark, sf_dir):
    """P1/P8: select + alias + cast (reference dc:106-124, dc:162-166)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber").cast("bigint").alias("line_no"),
        F.round("l_extendedprice", 2).alias("price"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        F.col("l_returnflag").alias("flag"),
    )


@register(
    "guarded_division",
    """SELECT l_orderkey, l_linenumber,
              CASE WHEN l_quantity IS NOT NULL AND l_quantity <> 0
                   THEN l_extendedprice / l_quantity ELSE 0.0 END AS unit_price,
              CASE WHEN l_extendedprice IS NOT NULL AND l_extendedprice <> 0
                   THEN l_discount * l_extendedprice / l_extendedprice END AS disc_frac
       FROM lineitem""",
)
def guarded_division(spark, sf_dir):
    """P4: zero-guarded division (reference dc:95-98, dt:121-127).

    No ROUND on the outputs: row-wise double division is bit-identical
    across engines, while ROUND-on-tie differs (Spark HALF_UP on the
    decimal repr vs DuckDB rounding the binary double) — the r1 mismatch.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        guarded_div(F.col("l_extendedprice"), F.col("l_quantity"), default=0.0).alias(
            "unit_price"
        ),
        guarded_div(
            F.col("l_discount") * F.col("l_extendedprice"),
            F.col("l_extendedprice"),
        ).alias("disc_frac"),
    )


@register(
    "null_invariant_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
       FROM lineitem
       WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
         AND l_discount IS NOT NULL AND l_shipdate IS NOT NULL
         AND l_quantity > 0 AND l_extendedprice >= 0
         AND l_discount >= 0 AND l_discount <= 1""",
)
def null_invariant_filter(spark, sf_dir):
    """P5/P6: null rejection + domain invariants (reference dc:75-90)."""
    li = read_table(spark, sf_dir, "lineitem")
    li = cleaning.reject_nulls(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]
    )
    li = cleaning.filter_invariant(
        li,
        (F.col("l_quantity") > 0)
        & (F.col("l_extendedprice") >= 0)
        & (F.col("l_discount") >= 0)
        & (F.col("l_discount") <= 1),
    )
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    )


@register(
    "date_parts",
    """SELECT o_orderkey,
              CAST(year(o_orderdate) AS INT) AS year,
              CAST(month(o_orderdate) AS INT) AS month,
              CAST(dayofmonth(o_orderdate) AS INT) AS day,
              CAST(dayofweek(o_orderdate) + 1 AS INT) AS dayofweek,
              CAST(quarter(o_orderdate) AS INT) AS quarter
       FROM orders""",
)
def date_parts(spark, sf_dir):
    """§2.8 date/time scalars. Convention pinned: Spark dayofweek 1=Sunday
    (DuckDB dow 0=Sunday, hence +1 in the oracle) — the reference got this
    wrong in a comment (SURVEY.md §1.2)."""
    o = read_table(spark, sf_dir, "orders")
    return cleaning.with_date_parts(
        o, "o_orderdate", ["year", "month", "day", "dayofweek", "quarter"]
    ).select("o_orderkey", "year", "month", "day", "dayofweek", "quarter")


# ------------------------------------------------------------------- joins

@register(
    "merge_fullouter_coalesce",
    """SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
              COALESCE(a.price_a, b.price_b) AS price,
              CASE WHEN a.price_a IS NOT NULL AND b.price_b IS NOT NULL THEN 'both'
                   WHEN a.price_a IS NOT NULL THEN 'left' ELSE 'right' END AS src
       FROM (SELECT o_orderkey, o_totalprice AS price_a FROM orders
             WHERE o_orderstatus = 'O') a
       FULL OUTER JOIN (SELECT o_orderkey, o_totalprice * 0.9 AS price_b FROM orders
                        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) b
         ON a.o_orderkey = b.o_orderkey""",
)
def merge_fullouter_coalesce(spark, sf_dir):
    """J1: full-outer merge + per-column coalesce preference
    (reference dt:79-99). Both inputs derive from the SAME source plan —
    the self-merge case that requires alias-qualified join resolution.
    price is left unrounded: row-wise double math is identical across
    engines; ROUND would only introduce tie divergence."""
    o = read_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", F.col("o_totalprice").alias("price_a")
    )
    b = o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        "o_orderkey", (F.col("o_totalprice") * 0.9).alias("price_b")
    )
    return joins.coalescing_merge(
        a, b, ["o_orderkey"], {"price": ("price_a", "price_b")}, source_flag="src"
    )


@register(
    "enrich_customer_geo",
    """SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region,
              ROUND(c.c_acctbal, 2) AS acctbal
       FROM customer c
       LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
       LEFT JOIN region r ON n.n_regionkey = r.r_regionkey""",
)
def enrich_customer_geo(spark, sf_dir):
    """J2: broadcast enrichment joins against dim tables
    (reference dt:358-369)."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    e = joins.enrich(c, n, c.c_nationkey == n.n_nationkey)
    e = joins.enrich(e, r, e.n_regionkey == r.r_regionkey)
    return e.select(
        "c_custkey",
        "c_name",
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )


@register(
    "customers_without_orders",
    """SELECT c.c_custkey, c.c_name
       FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def customers_without_orders(spark, sf_dir):
    """Anti join (engine extension — reference has no semi/anti)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return joins.anti_join(
        c, o.select(F.col("o_custkey").alias("c_custkey")), ["c_custkey"]
    ).select("c_custkey", "c_name")


@register(
    "parts_with_sales",
    """SELECT p.p_partkey, p.p_brand
       FROM part p
       WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)""",
)
def parts_with_sales(spark, sf_dir):
    """Semi join (engine extension)."""
    p = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem")
    return joins.semi_join(
        p, li.select(F.col("l_partkey").alias("p_partkey")), ["p_partkey"]
    ).select("p_partkey", "p_brand")


@register(
    "master_supplier_daily",
    f"""SELECT l.l_suppkey, CAST(l.l_shipdate AS DATE) AS ship_date,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {sql_money_sum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue,
               s.s_name, n.n_name AS nation,
               CAST(dayofweek(CAST(l.l_shipdate AS DATE)) + 1 AS INT) AS day_of_week,
               CASE WHEN {sql_money_sum('l.l_extendedprice * (1 - l.l_discount)', 4)}
                         > 50000
                    THEN 1 ELSE 0 END AS is_high_revenue
        FROM lineitem l
        LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY l.l_suppkey, CAST(l.l_shipdate AS DATE), s.s_name, n.n_name""",
)
def master_supplier_daily(spark, sf_dir):
    """The reference's widest DAG shape — create_master (dt:327-402):
    grouped base + broadcast dim enrichment + derived calendar/flag cols."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    base = (
        li.withColumn("ship_date", F.col("l_shipdate").cast("date"))
        .groupBy("l_suppkey", "ship_date")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
        )
    )
    e = joins.enrich(base, s, base.l_suppkey == s.s_suppkey)
    e = joins.enrich(e, n, e.s_nationkey == n.n_nationkey)
    return e.select(
        "l_suppkey",
        "ship_date",
        "n_lines",
        "revenue",
        "s_name",
        F.col("n_name").alias("nation"),
        (F.dayofweek("ship_date")).cast("int").alias("day_of_week"),
        F.when(F.col("revenue") > 50000, 1).otherwise(0).alias("is_high_revenue"),
    )


# ------------------------------------------------------------- aggregations

@register(
    "grouped_stats_q1",
    f"""SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sum_qty,
               {sql_money_sum('l_extendedprice')} AS sum_base_price,
               {sql_money_sum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
               (SUM(l_quantity) / NULLIF(COUNT(l_quantity), 0)) AS avg_qty,
               ({sql_money_sum('l_extendedprice')}
                / NULLIF(COUNT(l_extendedprice), 0)) AS avg_price,
               ROUND(STDDEV_SAMP(l_extendedprice), 2) AS stddev_price,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",
)
def grouped_stats_q1(spark, sf_dir):
    """A1: grouped multi-aggregate, TPC-H Q1 shape (reference dt:261-271).

    Exactness strategy per column type: quantities are integral doubles
    (sums exact in ANY order, < 2^53), prices carry the 2-decimal money
    contract (scaled-integer money_sum — 4× cheaper than decimal),
    price·(1−discount) has 4 fractional digits (money_sum scale 4);
    stddev stays rounded (inherently floating)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("sum_disc_price"),
            (F.sum("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
            (
                money_sum(F.col("l_extendedprice")) / F.count("l_extendedprice")
            ).alias("avg_price"),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("stddev_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "conditional_counts",
    """SELECT o_orderstatus,
              CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent_count,
              CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
              CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS other_count
       FROM orders GROUP BY o_orderstatus""",
)
def conditional_counts(spark, sf_dir):
    """A2: pivot-style conditional counting (reference dt:268-270)."""
    o = read_table(spark, sf_dir, "orders")
    return agg.conditional_counts(
        o,
        ["o_orderstatus"],
        {
            "urgent_count": F.col("o_orderpriority") == "1-URGENT",
            "high_count": F.col("o_orderpriority") == "2-HIGH",
            "other_count": ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        },
    )


@register(
    "weighted_avg_price",
    f"""SELECT l_suppkey,
               {sql_dsum('l_extendedprice * l_quantity')}
                   / NULLIF({sql_dsum('l_quantity')}, 0) AS weighted_avg
        FROM lineitem GROUP BY l_suppkey""",
)
def weighted_avg_price(spark, sf_dir):
    """A3: weighted mean = sum(v*w)/sum(w) (reference dt:295-304).
    Unrounded: both numerator and denominator are exact decimal sums cast
    to double, so the quotient is bit-identical across engines."""
    li = read_table(spark, sf_dir, "lineitem")
    return agg.weighted_mean(li, ["l_suppkey"], "l_extendedprice", F.col("l_quantity"))


@register(
    "collect_set_segments",
    """SELECT c_nationkey,
              array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|')
                  AS segments
       FROM customer GROUP BY c_nationkey""",
)
def collect_set_segments(spark, sf_dir):
    """A4: grouped distinct-set, sorted for determinism
    (reference dt:352-355; hazard SURVEY.md §7.3). Serialized to a
    '|'-joined string — the driver's canonicalizer cannot hash
    array-typed cells (corpus lint rejects complex output columns)."""
    c = read_table(spark, sf_dir, "customer")
    sets = agg.collect_set_sorted(c, ["c_nationkey"], "c_mktsegment", "segments")
    return sets.withColumn("segments", F.concat_ws("|", "segments"))


_CORR_SQL = (
    "CASE WHEN STDDEV_SAMP({x}) > 0 AND STDDEV_SAMP({y}) > 0 "
    "THEN ROUND(COVAR_SAMP({x}, {y}) / (STDDEV_SAMP({x}) * STDDEV_SAMP({y})), 6) END"
)


@register(
    "grouped_corr",
    f"""SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               {_CORR_SQL.format(x='l_quantity', y='l_extendedprice')} AS corr_qty_price,
               {_CORR_SQL.format(x='l_discount', y='l_tax')} AS corr_disc_tax
        FROM lineitem GROUP BY l_returnflag""",
)
def grouped_corr(spark, sf_dir):
    """A5: grouped Pearson correlation (reference sa:73-81). NULL on zero
    variance — ANSI-safe, matches DuckDB."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(safe_corr(F.col("l_quantity"), F.col("l_extendedprice")), 6).alias(
            "corr_qty_price"
        ),
        F.round(safe_corr(F.col("l_discount"), F.col("l_tax")), 6).alias(
            "corr_disc_tax"
        ),
    )


#: Scaled-integer cents (the 2-decimal money contract; see windows_q._CENTS).
_CENTS_R = "CAST(FLOOR(l_extendedprice * 100e0 + 5e-1) AS BIGINT)"


@register(
    "beta_price_vs_qty",
    f"""WITH b AS (
          SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS q, {_CENTS_R} AS c
          FROM lineitem
        ),
        s AS (
          SELECT l_suppkey,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(q) AS DOUBLE) AS sx,
                 CAST(SUM(c) AS DOUBLE) AS sy,
                 CAST(SUM(q * c) AS DOUBLE) AS sxy,
                 CAST(SUM(q * q) AS DOUBLE) AS sxx
          FROM b GROUP BY l_suppkey
        ),
        f AS (
          SELECT l_suppkey, n, sx, sy,
                 CASE WHEN n * sxx - sx * sx > 0
                      THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope
          FROM s
        )
        SELECT l_suppkey, slope, (sy - slope * sx) / n AS intercept FROM f""",
)
def beta_price_vs_qty(spark, sf_dir):
    """Per-supplier OLS regression of price (cents) on quantity
    (operators/analysis.linear_fit — regr_slope/regr_intercept
    semantics): exact BIGINT sums with map-side partials, then one fixed
    double closed form — bit-identical cross-engine, no ROUND."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("bigint")
    out = analysis.linear_fit(
        li, ["l_suppkey"], F.col("l_quantity").cast("bigint"), cents
    )
    return out.select("l_suppkey", "slope", "intercept")


@register(
    "zscore_outlier_prices",
    f"""WITH c AS (
          SELECT l_suppkey, l_orderkey, l_linenumber, {_CENTS_R} AS c
          FROM lineitem
        ),
        s AS (
          SELECT l_suppkey,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(c) AS DOUBLE) AS sv,
                 CAST(SUM(c * c) AS DOUBLE) AS svv
          FROM c GROUP BY l_suppkey
        ),
        j AS (
          SELECT c.l_suppkey, l_orderkey, l_linenumber,
                 CASE WHEN n > 1 AND (svv - sv * sv / n) / (n - 1e0) > 0
                      THEN (CAST(c AS DOUBLE) - sv / n)
                           / SQRT((svv - sv * sv / n) / (n - 1e0)) END AS zscore
          FROM c JOIN s USING (l_suppkey)
        )
        SELECT * FROM j WHERE ABS(zscore) > 18e-1""",
)
def zscore_outlier_prices(spark, sf_dir):
    """Distribution-relative outliers: per-supplier price z-scores with
    |z| > 1.8 (near-uniform prices bound |z| below ~1.9) (operators/analysis.zscore_flags). The 1-row-per-group
    stats table broadcasts back to the fact side; z is one fixed double
    tree over exact BIGINT sums — the threshold filter is therefore
    deterministic cross-engine (no boundary-tie risk)."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("bigint")
    out = analysis.zscore_flags(li, ["l_suppkey"], cents, threshold=1.8)
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "zscore")


@register(
    "global_stats",
    f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
               ROUND({sql_dmean('l_quantity', 'COUNT(l_quantity)')}, 6) AS avg_qty,
               {_CORR_SQL.format(x='l_quantity', y='l_extendedprice')} AS corr_qty_price,
               CAST(MIN(l_shipdate) AS DATE) AS min_ship,
               CAST(MAX(l_shipdate) AS DATE) AS max_ship
        FROM lineitem""",
)
def global_stats(spark, sf_dir):
    """A6: grand aggregate without grouping (reference sa:84-89)."""
    li = read_table(spark, sf_dir, "lineitem")
    return agg.global_agg(
        li,
        {
            "n_rows": F.count(F.lit(1)),
            "n_suppliers": F.countDistinct("l_suppkey"),
            "avg_qty": F.round(dmean(F.col("l_quantity")), 6),
            "corr_qty_price": F.round(
                safe_corr(F.col("l_quantity"), F.col("l_extendedprice")), 6
            ),
            "min_ship": F.min("l_shipdate").cast("date"),
            "max_ship": F.max("l_shipdate").cast("date"),
        },
    )


@register(
    "calendar_rollup_orders",
    f"""SELECT CAST(year(o_orderdate) AS INT) AS year,
               CAST(month(o_orderdate) AS INT) AS month,
               CAST(COUNT(*) AS BIGINT) AS order_count,
               {sql_dsum('o_totalprice')} AS total_value,
               {sql_dmean('o_totalprice', 'COUNT(o_totalprice)')} AS avg_value
        FROM orders GROUP BY 1, 2""",
)
def calendar_rollup_orders(spark, sf_dir):
    """A8: calendar-grain rollup (reference sa:339-348). avg_value is the
    unrounded decimal-exact mean — identical doubles on both engines."""
    o = read_table(spark, sf_dir, "orders")
    return agg.calendar_rollup(
        o,
        "o_orderdate",
        ["year", "month"],
        {
            "order_count": F.count(F.lit(1)),
            "total_value": dsum(F.col("o_totalprice")),
            "avg_value": dmean(F.col("o_totalprice")),
        },
    )


@register(
    "rollup_revenue",
    f"""SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
)
def rollup_revenue(spark, sf_dir):
    """ROLLUP grouping sets (engine extension, SURVEY.md §2.4 'not present')."""
    li = read_table(spark, sf_dir, "lineitem")
    return agg.rollup_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "n": F.count(F.lit(1)),
            "revenue": dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
        },
    )


@register(
    "cube_event_types",
    f"""SELECT event_type, CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INT) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n, {sql_dsum('value')} AS total_value
        FROM events GROUP BY CUBE(event_type, CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INT))""",
)
def cube_event_types(spark, sf_dir):
    """CUBE grouping sets (engine extension)."""
    ev = read_table(spark, sf_dir, "events").withColumn(
        "dow", F.dayofweek("ts").cast("int")
    )
    return agg.cube_agg(
        ev,
        ["event_type", "dow"],
        {"n": F.count(F.lit(1)), "total_value": dsum(F.col("value"))},
    )


@register(
    "pivot_status_priority",
    """SELECT o_orderstatus,
              CAST(SUM(CASE WHEN o_orderpriority='1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
              CAST(SUM(CASE WHEN o_orderpriority='2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
              CAST(SUM(CASE WHEN o_orderpriority='3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
              CAST(SUM(CASE WHEN o_orderpriority='4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS not_specified,
              CAST(SUM(CASE WHEN o_orderpriority='5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
       FROM orders GROUP BY o_orderstatus""",
)
def pivot_status_priority(spark, sf_dir):
    """Pivot (A2 generalized): groupBy().pivot() with explicit values —
    explicit value list avoids the extra distinct-values job at scale."""
    o = read_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
    )
    renames = {
        "1-URGENT": "urgent",
        "2-HIGH": "high",
        "3-MEDIUM": "medium",
        "4-NOT SPECIFIED": "not_specified",
        "5-LOW": "low",
    }
    out = piv
    for old, new in renames.items():
        out = out.withColumn(new, F.coalesce(F.col(f"`{old}`"), F.lit(0)).cast("bigint"))
    return out.select("o_orderstatus", *renames.values())


@register(
    "union_accounts",
    """SELECT 'customer' AS kind, c_custkey AS id, ROUND(c_acctbal, 2) AS balance
       FROM customer
       UNION ALL
       SELECT 'supplier' AS kind, s_suppkey AS id, ROUND(s_acctbal, 2) AS balance
       FROM supplier""",
)
def union_accounts(spark, sf_dir):
    """§2.7: unionByName — the idiomatic multi-source append."""
    c = read_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"),
        F.col("c_custkey").alias("id"),
        F.round("c_acctbal", 2).alias("balance"),
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_suppkey").alias("id"),
        F.round("s_acctbal", 2).alias("balance"),
    )
    return c.unionByName(s)


@register(
    "except_inactive_customers",
    """SELECT c_custkey FROM customer
       EXCEPT
       SELECT o_custkey AS c_custkey FROM orders""",
)
def except_inactive_customers(spark, sf_dir):
    """§2.7 EXCEPT (distinct set difference) — customers that never
    ordered, the set-op twin of the anti join."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return c.exceptAll(o.distinct()).distinct()


@register(
    "intersect_buyer_suppliers",
    """SELECT c_nationkey AS nationkey FROM customer
       INTERSECT
       SELECT s_nationkey AS nationkey FROM supplier""",
)
def intersect_buyer_suppliers(spark, sf_dir):
    """§2.7 INTERSECT — nations hosting both customers and suppliers."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


# --------------------------------------------------------- sorts / top-k

@register(
    "topk_orders",
    """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price
       FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
)
def topk_orders(spark, sf_dir):
    """O4: global top-k — Spark plans TakeOrderedAndProject (per-partition
    heap + driver merge; no full sort). Reference hv:253-264."""
    o = read_table(spark, sf_dir, "orders")
    return agg.top_k(
        o.select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"), "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        100,
    ).select("o_orderkey", "o_custkey", "total_price")


@register(
    "topk_per_status",
    """SELECT o_orderstatus, o_orderkey, ROUND(o_totalprice, 2) AS total_price, rn
       FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
                    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders)
       WHERE rn <= 5""",
)
def topk_per_status(spark, sf_dir):
    """Top-k per group via row_number (classic OLAP pattern)."""
    o = read_table(spark, sf_dir, "orders")
    out = agg.top_k_per_group(
        o, ["o_orderstatus"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 5
    )
    return out.select(
        "o_orderstatus",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        "rn",
    )


@register("approx_distinct_parts")  # no oracle: HLL estimates are engine-specific
def approx_distinct_parts(spark, sf_dir):
    """A9 scale variant: HLL approximate distinct (one pass, fixed memory —
    the 100 TB substitute for exact COUNT(DISTINCT)). Accuracy pinned vs
    exact counts in tests/test_operators.py."""
    li = read_table(spark, sf_dir, "lineitem")
    return agg.distinct_count(
        li, ["l_returnflag"], "l_partkey", "approx_parts", approx=True
    )


@register(
    "rank_family_customers",
    """SELECT c_custkey,
              c_mktsegment,
              PERCENT_RANK() OVER w AS pct_rank,
              CUME_DIST() OVER w AS cume_dist,
              FIRST_VALUE(c_acctbal) OVER w AS seg_min_bal,
              LAST_VALUE(c_acctbal) OVER
                (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                  AS seg_max_bal,
              NTH_VALUE(c_acctbal, 10) OVER
                (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                  AS seg_10th_bal
       FROM customer
       WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""",
)
def rank_family_customers(spark, sf_dir):
    """Full analytic-rank family over a total order: percent_rank and
    cume_dist ((rank-1)/(n-1) and rank/n — integer-derived double
    division, bit-exact cross-engine), plus first/last/nth value with an
    explicit full-partition frame (last_value under the DEFAULT frame is
    the current row — the classic silent-wrong-answer; pinned here)."""
    from pyspark.sql import Window

    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
        F.first("c_acctbal").over(w).alias("seg_min_bal"),
        F.last("c_acctbal").over(wf).alias("seg_max_bal"),
        F.nth_value("c_acctbal", 10).over(wf).alias("seg_10th_bal"),
    )


@register(
    "grouping_sets_revenue",
    f"""SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT)
                   AS grouping_id,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_money_sum('o_totalprice')} AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())""",
)
def grouping_sets_revenue(spark, sf_dir):
    """Explicit GROUPING SETS (finer than rollup/cube: exactly the
    requested combinations) with the grouping_id bitmask disambiguating
    genuine NULL keys from subtotal rows."""
    from financial_data_lakehouse_pipeline__spark.functions import money_sum

    o = read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gs_orders")
    return o.sparkSession.sql(
        """SELECT o_orderstatus, o_orderpriority,
                  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
                      AS grouping_id,
                  CAST(COUNT(*) AS BIGINT) AS n_orders,
                  (SUM(CAST(FLOOR(o_totalprice * 100e0 + 5e-1) AS BIGINT)) / 100e0)
                      AS total_price
           FROM __gs_orders
           GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                   (o_orderstatus), ())"""
    )


@register(
    "unpivot_status_metrics",
    f"""WITH w AS (
          SELECT o_orderstatus,
                 {sql_money_sum('o_totalprice')} AS total_price,
                 MAX(o_totalprice) AS max_price,
                 MIN(o_totalprice) AS min_price
          FROM orders GROUP BY o_orderstatus
        )
        SELECT o_orderstatus, 'total_price' AS metric, total_price AS value FROM w
        UNION ALL SELECT o_orderstatus, 'max_price', max_price FROM w
        UNION ALL SELECT o_orderstatus, 'min_price', min_price FROM w""",
)
def unpivot_status_metrics(spark, sf_dir):
    """Wide-to-long unpivot (DataFrame.unpivot/melt) of per-status price
    metrics — the inverse of pivot, §2.4 extension."""
    from financial_data_lakehouse_pipeline__spark.functions import money_sum

    o = read_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        money_sum(F.col("o_totalprice")).alias("total_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )
    return wide.unpivot(
        ["o_orderstatus"],
        ["total_price", "max_price", "min_price"],
        "metric",
        "value",
    )


@register(
    "percentile_cont_prices",
    """SELECT l_returnflag, l_linestatus,
              quantile_cont(CAST(FLOOR(l_extendedprice * 100e0 + 5e-1)
                                 AS BIGINT), 0.25) / 100e0 AS p25,
              quantile_cont(CAST(FLOOR(l_extendedprice * 100e0 + 5e-1)
                                 AS BIGINT), 0.50) / 100e0 AS p50,
              quantile_cont(CAST(FLOOR(l_extendedprice * 100e0 + 5e-1)
                                 AS BIGINT), 0.75) / 100e0 AS p75
       FROM lineitem
       GROUP BY l_returnflag, l_linestatus""",
)
def percentile_cont_prices(spark, sf_dir):
    """Continuous quartiles per flag/status
    (operators/aggregates.grouped_percentiles_cont). Interpolation runs on
    exact integer cents so lo*(1-f)+hi*f is bit-identical to DuckDB
    quantile_cont; the /100 rescale is one correctly-rounded division."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("bigint")
    out = agg.grouped_percentiles_cont(
        li, ["l_returnflag", "l_linestatus"], cents, [0.25, 0.50, 0.75]
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("p25") / F.lit(100.0)).alias("p25"),
        (F.col("p50") / F.lit(100.0)).alias("p50"),
        (F.col("p75") / F.lit(100.0)).alias("p75"),
    )


@register(
    "nation_revenue_share",
    """WITH g AS (
          SELECT n.n_regionkey, n.n_name,
                 SUM(CAST(FLOOR(o.o_totalprice * 100e0 + 5e-1) AS BIGINT))
                     AS cents
          FROM orders o
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          GROUP BY 1, 2
        )
        SELECT n_regionkey, n_name,
               CAST(cents AS DOUBLE) / 100e0 AS group_revenue,
               CAST(cents AS DOUBLE)
                   / SUM(cents) OVER (PARTITION BY n_regionkey) AS share
        FROM g""",
)
def nation_revenue_share(spark, sf_dir):
    """Contribution analysis (operators/aggregates.share_of_total): each
    nation's share of its region's order revenue. Exact integer sums;
    the share is one double division. The window runs over the ~25-row
    aggregate, never the fact table."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    fact = o.join(
        c, o["o_custkey"] == c["c_custkey"]
    ).join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    out = agg.share_of_total(
        fact, ["n_regionkey", "n_name"], ["n_regionkey"], cents
    )
    return out.select(
        "n_regionkey",
        "n_name",
        (F.col("group_value").cast("double") / F.lit(100.0)).alias("group_revenue"),
        "share",
    )


@register(
    "mad_outlier_prices",
    f"""WITH c AS (
          SELECT l_suppkey, l_orderkey, l_linenumber, {_CENTS_R} AS c
          FROM lineitem
        ),
        m AS (SELECT l_suppkey, quantile_cont(c, 0.5) AS med
              FROM c GROUP BY l_suppkey),
        d AS (
          SELECT c.l_suppkey, l_orderkey, l_linenumber, c, med,
                 ABS(CAST(c AS DOUBLE) - med) AS dev
          FROM c JOIN m USING (l_suppkey)
        ),
        md AS (SELECT l_suppkey, quantile_cont(dev, 0.5) AS mad
               FROM d GROUP BY l_suppkey),
        j AS (
          SELECT d.l_suppkey, l_orderkey, l_linenumber,
                 CASE WHEN mad > 0
                      THEN (CAST(c AS DOUBLE) - med) / mad END AS mad_z
          FROM d JOIN md USING (l_suppkey)
        )
        SELECT * FROM j WHERE ABS(mad_z) > 2e0""",
)
def mad_outlier_prices(spark, sf_dir):
    """Robust median/MAD outliers per supplier, |z| > 2
    (operators/analysis.mad_outliers): exact interpolated medians on
    integer cents make the whole z bit-identical cross-engine — the
    heavy-tail-safe twin of zscore_outlier_prices."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("bigint")
    out = analysis.mad_outliers(li, ["l_suppkey"], cents, threshold=2.0)
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "mad_z")


@register(
    "wow_nation_revenue",
    f"""WITH g AS (
          SELECT n.n_name AS nation,
                 CAST(FLOOR(datediff('day', DATE '1970-01-01', l.l_shipdate) / 7e0)
                      AS BIGINT) AS week,
                 CAST(SUM({_CENTS_R}) AS BIGINT) AS rev_cents
          FROM lineitem l
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          GROUP BY 1, 2
        )
        SELECT nation, week, rev_cents,
               rev_cents - LAG(rev_cents) OVER w AS wow_delta,
               CASE WHEN LAG(rev_cents) OVER w <> 0
                    THEN CAST(rev_cents - LAG(rev_cents) OVER w AS DOUBLE)
                         / LAG(rev_cents) OVER w END AS wow_pct
        FROM g WINDOW w AS (PARTITION BY nation ORDER BY week)""",
)
def wow_nation_revenue(spark, sf_dir):
    """Week-over-week revenue per supplier nation: epoch-day // 7 week
    buckets (portable — engine week-of-year definitions differ),
    broadcast dim joins, pre-aggregated lag window over groups not
    lineitems. Delta is exact BIGINT; pct one guarded double division."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    su = read_table(spark, sf_dir, "supplier")
    na = read_table(spark, sf_dir, "nation")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("bigint")
    week = F.floor(
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")) / F.lit(7.0)
    )
    g = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), week.alias("week"))
        .agg(F.sum(cents).alias("rev_cents"))
    )
    w = Window.partitionBy("nation").orderBy("week")
    prev = F.lag("rev_cents").over(w)
    return g.select(
        "nation",
        "week",
        "rev_cents",
        (F.col("rev_cents") - prev).alias("wow_delta"),
        F.when(
            prev != 0, (F.col("rev_cents") - prev).cast("double") / prev
        ).alias("wow_pct"),
    )


@register(
    "volume_profile_prices",
    f"""WITH c AS (
          SELECT l_returnflag, {_CENTS_R} AS c,
                 CAST(l_quantity AS BIGINT) AS q
          FROM lineitem
        )
        SELECT l_returnflag,
               CAST(FLOOR(c / 1000000) AS BIGINT) * 1000000 AS bucket_lo,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS value_sum
        FROM c GROUP BY 1, 2""",
)
def volume_profile_prices(spark, sf_dir):
    """Price histogram per return flag in $10,000 buckets
    (operators/aggregates.histogram): exact integer bucketing — the
    volume-profile distribution sketch at full fidelity."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("bigint")
    return agg.histogram(li, ["l_returnflag"], cents, width=1_000_000)


@register("approx_percentile_prices")  # no oracle: sketch results are engine-specific
def approx_percentile_prices(spark, sf_dir):
    """Approximate p50/p95 via Spark's KLL-style sketch
    (accuracy=10000 → error ≤ n/10000 ranks) — the 100 TB path where
    exact per-group sorts (percentile_cont_prices) stop being viable.
    Sketches are mergeable, so map-side partials keep the shuffle to one
    row per group. Engine-specific estimates → rows-only driver check;
    the accuracy bound vs the exact answer is pinned in
    tests/test_operators.py."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile(cents, F.lit(0.5), F.lit(10000)).alias("p50_approx"),
        F.approx_percentile(cents, F.lit(0.95), F.lit(10000)).alias("p95_approx"),
    )


def _pagerank_sql(iters: int = 2, damping: float = 0.85) -> str:
    """Unrolled PageRank oracle, bit-identical to operators/graph.pagerank:
    every float literal is emitted from the SAME Python double the Spark
    plan uses (repr + e0 forces a DOUBLE literal in DuckDB — a bare
    decimal literal would be DECIMAL and divide differently; note
    1.0-0.85 != 0.15 in IEEE), and per-node contribution sums are exact
    DECIMAL(38,0) quanta, so iteration order and partitioning are
    irrelevant."""
    d = repr(damping) + "e0"
    one_minus_d = repr(1.0 - damping) + "e0"
    # pairs/edges AS MATERIALIZED: edges has 1 + iters references (deg
    # + one message-sum per iteration) and pairs two; inlined, DuckDB
    # re-evaluates the lineitem self-join + DISTINCT once per reference
    # — at sf2 that spilled >70 GB. Materialized, the edge list costs
    # its actual size once.
    parts = [
        """pairs AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey < b.l_partkey
        )""",
        "edges AS MATERIALIZED (SELECT src, dst FROM pairs "
        "UNION ALL SELECT dst, src FROM pairs)",
        "deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg "
        "FROM edges GROUP BY src)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg)",
        "r0 AS (SELECT node, deg, 1e0 / CAST(n AS DOUBLE) AS r FROM deg, nn)",
    ]
    for t in range(iters):
        parts.append(
            f"s{t} AS (SELECT e.dst AS node, "
            f"SUM(CAST(FLOOR(r.r / CAST(r.deg AS DOUBLE) * 1e12 + 5e-1) "
            f"AS DECIMAL(38,0))) AS s "
            f"FROM edges e JOIN r{t} r ON e.src = r.node GROUP BY e.dst)"
        )
        parts.append(
            f"r{t + 1} AS (SELECT d.node, d.deg, "
            f"{one_minus_d} / CAST(n AS DOUBLE) "
            f"+ {d} * (CAST(s.s AS DOUBLE) / 1e12) AS r "
            f"FROM deg d JOIN s{t} s ON d.node = s.node, nn)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, deg, r AS pagerank FROM r{iters}"
    )


@register("pagerank_copurchase", _pagerank_sql(iters=2, damping=0.85))
def pagerank_copurchase(spark, sf_dir):
    """PageRank over the part co-purchase graph (operators/graph):
    parts sharing an order get an edge; 2 synchronous message-passing
    iterations, uniform init. DataFrame-iterative — state is a (node,
    rank) DataFrame, each iteration one keyed join + one integer-exact
    aggregation, nothing on the driver — the Pregel shape in plain Spark
    SQL, verified bit-for-bit by an unrolled oracle."""
    from financial_data_lakehouse_pipeline__spark.operators import graph

    li = read_table(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return graph.pagerank(edges, iters=2, damping=0.85)


@register(
    "winsorize_prices",
    # Per-group p05/p95 on exact integer cents (bit-identical
    # interpolation), broadcast back, clamp — all comparisons and the
    # /100 rescale on deterministic values.
    """WITH b AS (
          SELECT l_returnflag,
                 quantile_cont(CAST(FLOOR(l_extendedprice * 100e0 + 5e-1)
                                    AS BIGINT), 0.05) AS lo,
                 quantile_cont(CAST(FLOOR(l_extendedprice * 100e0 + 5e-1)
                                    AS BIGINT), 0.95) AS hi
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
               LEAST(GREATEST(CAST(FLOOR(l.l_extendedprice * 100e0 + 5e-1)
                                   AS BIGINT), b.lo), b.hi) / 100e0
                   AS price_winsorized
        FROM lineitem l JOIN b USING (l_returnflag)""",
)
def winsorize_prices(spark, sf_dir):
    """Per-group winsorization (robust-stats normalization for feature
    pipelines): clamp each price into its return-flag group's
    [p05, p95] — exact-integer percentiles (aggregates
    .grouped_percentiles_cont) broadcast back to the fact rows, then
    functions.clamp. Two aggregations + one broadcast join; the fact
    side never shuffles."""
    from financial_data_lakehouse_pipeline__spark.functions import clamp

    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("bigint")
    bounds = agg.grouped_percentiles_cont(
        li, ["l_returnflag"], cents, [0.05, 0.95]
    ).select("l_returnflag", F.col("p05").alias("__lo"), F.col("p95").alias("__hi"))
    j = li.join(F.broadcast(bounds), "l_returnflag")
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        (clamp(cents.cast("double"), F.col("__lo"), F.col("__hi")) / F.lit(100.0)).alias(
            "price_winsorized"
        ),
    )


@register(
    "triangle_counts_copurchase",
    # Ordered node-iterator: each triangle a<b<c joins exactly once;
    # per-node counts are exact integers.
    """WITH li AS (
          SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 5 = 0
        ), pairs AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey < b.l_partkey
        ), tris AS (
          SELECT p1.src AS a, p1.dst AS b, p2.dst AS c
          FROM pairs p1
          JOIN pairs p2 ON p1.dst = p2.src
          JOIN pairs p3 ON p3.src = p1.src AND p3.dst = p2.dst
        ), per_node AS (
          SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
          FROM (SELECT unnest([a, b, c]) AS node FROM tris)
          GROUP BY node
        ), nodes AS (
          SELECT DISTINCT src AS node FROM pairs
          UNION SELECT DISTINCT dst FROM pairs
        )
        SELECT n.node, COALESCE(p.n_triangles, 0) AS n_triangles
        FROM nodes n LEFT JOIN per_node p USING (node)""",
)
def triangle_counts_copurchase(spark, sf_dir):
    """Per-part triangle counts over the co-purchase graph
    (operators/graph.triangle_counts): the local clustering signal next
    to PageRank — ordered node-iterator (each triangle counted once, no
    /3 correction), two equi-joins, exact integer counts. The synthetic
    co-purchase graph is unrealistically dense (avg degree ~120 at
    sf0.1 → 300M wedges), so the corpus works the l_partkey%5 subgraph;
    at production scale the fix is degree-orientation (join low→high),
    which the operator docstring documents."""
    from financial_data_lakehouse_pipeline__spark.operators import graph

    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 5 == 0)
    pairs = graph.cooccurrence_pairs(li, "l_orderkey", "l_partkey")
    return graph.triangle_counts(pairs)


@register(
    "link_prediction_copurchase",
    # Wedge-join candidates, anti-join out existing edges; counts and
    # degrees exact, one double division for the Jaccard.
    """WITH li AS (
          SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 5 = 0
        ), pairs AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey < b.l_partkey
        ), edges AS (
          SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
        ), deg AS (
          SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
          FROM edges GROUP BY src
        ), common AS (
          SELECT e1.src AS node_a, e2.dst AS node_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
          WHERE e1.src < e2.dst
          GROUP BY 1, 2
          HAVING COUNT(*) >= 3
        ), cand AS (
          SELECT c.* FROM common c
          WHERE NOT EXISTS (SELECT 1 FROM pairs p
                            WHERE p.src = c.node_a AND p.dst = c.node_b)
        )
        SELECT c.node_a, c.node_b, c.n_common,
               CAST(c.n_common AS DOUBLE)
                   / CAST(da.deg + db.deg - c.n_common AS DOUBLE) AS jaccard
        FROM cand c
        JOIN deg da ON da.node = c.node_a
        JOIN deg db ON db.node = c.node_b""",
)
def link_prediction_copurchase(spark, sf_dir):
    """Common-neighbor link prediction on the co-purchase graph
    (operators/graph.link_prediction_jaccard, min_common=3): wedge-join
    candidates scored by neighbor-set Jaccard, existing edges anti-
    joined out — the recommender primitive next to PageRank and
    triangles. Exact integer counts; one double division. Works the
    l_partkey%5 subgraph for the same density reason as
    triangle_counts_copurchase."""
    from financial_data_lakehouse_pipeline__spark.operators import graph

    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 5 == 0)
    pairs = graph.cooccurrence_pairs(li, "l_orderkey", "l_partkey")
    return graph.link_prediction_jaccard(pairs, min_common=3)


@register(
    "fuzzy_part_name_pairs",
    # Block on the last token (the noun), verify with exact Levenshtein;
    # both engines implement standard edit distance over the same
    # distinct-name set, so counts and distances are exact integers.
    """WITH names AS (
          SELECT DISTINCT p_name AS t,
                 string_split(p_name, ' ')[-1] AS b
          FROM part
        )
        SELECT a.t AS text_a, b.t AS text_b,
               CAST(levenshtein(a.t, b.t) AS INT) AS dist
        FROM names a JOIN names b ON a.b = b.b AND a.t < b.t
        WHERE levenshtein(a.t, b.t) <= 4""",
)
def fuzzy_part_name_pairs(spark, sf_dir):
    """Fuzzy part-name matching (operators/joins.fuzzy_self_join):
    distinct names blocked on their last token (the product noun),
    verified with JVM-side Levenshtein <= 4 — the entity-resolution
    candidates-then-verify shape with a deterministic blocking key
    both engines reproduce."""
    p = read_table(spark, sf_dir, "part")
    return joins.fuzzy_self_join(
        p,
        "p_name",
        F.element_at(F.split(F.col("p_name"), " "), -1),
        max_dist=4,
    )


# ------------------------------------------------- basket / star analytics

@register(
    "basket_rules_orders",
    """WITH b AS (
          SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        ), n AS (
          SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS nb FROM b
        ), ic AS (
          SELECT i, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY i
        ), p AS (
          SELECT a.i AS item_a, c.i AS item_b,
                 CAST(COUNT(*) AS BIGINT) AS pair_count
          FROM b a JOIN b c ON a.g = c.g AND a.i < c.i
          GROUP BY a.i, c.i
          HAVING COUNT(*) >= 3
        )
        SELECT item_a, item_b, pair_count,
               ca.cnt AS count_a, cb.cnt AS count_b,
               CAST(pair_count AS DOUBLE) / CAST(nb AS DOUBLE) AS support,
               CAST(pair_count AS DOUBLE) / CAST(ca.cnt AS DOUBLE)
                   AS conf_a_to_b,
               CAST(pair_count AS DOUBLE) / CAST(cb.cnt AS DOUBLE)
                   AS conf_b_to_a,
               (CAST(pair_count AS DOUBLE) * CAST(nb AS DOUBLE))
                   / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE))
                   AS lift
        FROM p JOIN ic ca ON p.item_a = ca.i
               JOIN ic cb ON p.item_b = cb.i, n""",
)
def basket_rules_orders(spark, sf_dir):
    """Market-basket association rules (analysis.association_rules) on
    order → part baskets: pairs of parts bought together in >= 3 orders
    with support, directional confidence, and lift. Exact integer counts
    + single IEEE divisions, so cross-engine bit-equal; pair expansion
    cost follows basket size squared, bounded by the per-order line
    count (7 max in TPC-H-shaped data)."""
    li = read_table(spark, sf_dir, "lineitem")
    return analysis.association_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=3
    )


@register(
    "regional_revenue_q5",
    # TPC-H Q5 shape: revenue by nation for one region, restricted to
    # "local" flows (customer and supplier in the same nation).
    f"""SELECT n_name,
               CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_lineitems,
               {sql_money_sum('l_extendedprice * (1 - l_discount)', 4)}
                   AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name, CAST(EXTRACT(year FROM o_orderdate) AS INT)""",
)
def regional_revenue_q5(spark, sf_dir):
    """TPC-H Q5-shaped star join — the canonical multiway analytic: fact
    lineitem joined to orders, then customer/supplier/nation/region dims
    with the 'local supplier' same-nation restriction, revenue rolled up
    per nation-year. Spark-first shape: the three small dims broadcast
    (supplier, nation, region — asserted in tests/test_plans.py), the
    region filter prunes BEFORE the join chain via predicate pushdown,
    and revenue is the exact scaled-integer money sum. At 100 TB this is
    the plan that matters: two big-table shuffles (lineitem⋈orders on
    orderkey, then ⋈customer on custkey), everything else map-side."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            c,
            (o.o_custkey == c.c_custkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            n.n_regionkey == r.r_regionkey,
        )
    )
    return joined.groupBy(
        "n_name", F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        money_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
        ).alias("revenue"),
    )


@register(
    "shipping_priority_q3",
    # TPC-H Q3 shape: un-shipped revenue per order for one market
    # segment, top 10 by revenue. Cutoff 1998-06-15 sits mid-range of
    # the testdata's 1995..2001 order dates.
    f"""SELECT l_orderkey,
               {sql_money_sum('l_extendedprice * (1 - l_discount)', 4)}
                   AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-15'
          AND l_shipdate  > TIMESTAMP '1998-06-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10""",
)
def shipping_priority_q3(spark, sf_dir):
    """TPC-H Q3-shaped shipping-priority query — the filter→join→agg→
    top-k flagship: BUILDING-segment customers' orders placed before the
    cutoff with lines still unshipped after it, revenue per order, top
    10. Spark-first: both date filters and the segment filter push into
    the scans (only matching row groups are read), the filtered customer
    side broadcasts into the orders join, revenue is the exact
    scaled-integer money sum, and the final top-10 plans
    TakeOrderedAndProject (no global sort). Total order pinned by
    (revenue desc, o_orderdate, l_orderkey)."""
    cutoff = "1998-06-15"
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            money_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                4,
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "weighted_price_quartiles",
    # Volume-weighted price quartiles: smallest price whose cumulative
    # QUANTITY share reaches q. ROWS framing (not RANGE) so each row has
    # its own running weight; exact DECIMAL threshold comparison.
    """WITH s AS (
          SELECT l_returnflag, l_extendedprice AS v,
                 CAST(l_quantity AS BIGINT) AS w
          FROM lineitem
        ), c AS (
          SELECT l_returnflag, v, w,
                 SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                 SUM(w) OVER (PARTITION BY l_returnflag) AS tw
          FROM s
        ), q AS (SELECT unnest([25e-2, 5e-1, 75e-2]) AS q)
        SELECT l_returnflag, q, v AS value
        FROM c, q
        WHERE cw * 1000000 >= CAST(ROUND(q * 1e6) AS BIGINT) * tw
          AND (cw - w) * 1000000 < CAST(ROUND(q * 1e6) AS BIGINT) * tw""",
)
def weighted_price_quartiles(spark, sf_dir):
    """Volume-weighted price quartiles per return flag
    (operators/aggregates.weighted_percentile_disc): the smallest price
    below which 25/50/75% of traded QUANTITY sits — the weighted
    percentile exchanges and risk systems quote, as opposed to the
    row-counted percentile. Exact decimal running weights and exact
    decimal threshold comparisons (no float accumulation), one
    shuffle+sort per group — bit-identical across engines and
    partitionings."""
    li = read_table(spark, sf_dir, "lineitem")
    return agg.weighted_percentile_disc(
        li.select(
            "l_returnflag",
            "l_extendedprice",
            F.col("l_quantity").cast("bigint").alias("__w"),
        ),
        ["l_returnflag"],
        "l_extendedprice",
        "__w",
        [0.25, 0.5, 0.75],
    )


@register(
    "top_customer_by_balance",
    # argmax/argmin aggregates with a tie-proof INTEGER composite order
    # key (cents*10^12 + custkey): neither engine's arg_max accepts a
    # composite, and bare arg_max over a tied value is nondeterministic.
    # 10^12 keeps the key injective up to 10^12 customers (SF ~6.7M) and
    # still fits BIGINT: |cents| <= 10^6, so |okey| < 10^18 < 2^63.
    """WITH c AS (
          SELECT c_nationkey, c_name, c_custkey,
                 CAST(FLOOR(c_acctbal * 100e0 + 5e-1) AS BIGINT)
                     * 1000000000000 + c_custkey AS okey,
                 c_acctbal
          FROM customer
        )
        SELECT c_nationkey,
               arg_max(c_name, okey) AS richest_customer,
               MAX(c_acctbal) AS max_balance,
               arg_min(c_name, okey) AS poorest_customer,
               MIN(c_acctbal) AS min_balance,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM c GROUP BY c_nationkey""",
)
def top_customer_by_balance(spark, sf_dir):
    """Argmax/argmin aggregates (F.max_by / F.min_by — 'which row holds
    the extreme', the one-aggregation alternative to a row_number window
    + filter): richest and poorest customer per nation. Ties are made
    impossible, not ignored: the order key is the exact integer
    composite cents*10^12 + custkey (injective while custkey < 10^12,
    i.e. up to SF ~6.7M; |okey| < 10^18 fits BIGINT), so equal balances
    resolve by custkey
    identically on every engine and partitioning — bare max_by on a
    tied column is nondeterministic by contract. One shuffle, map-side
    partial aggregation; no window, no second pass."""
    c = read_table(spark, sf_dir, "customer")
    okey = (
        F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
        * F.lit(1_000_000_000_000).cast("bigint")
        + F.col("c_custkey")
    )
    return (
        c.withColumn("__okey", okey)
        .groupBy("c_nationkey")
        .agg(
            F.max_by("c_name", F.col("__okey")).alias("richest_customer"),
            F.max("c_acctbal").alias("max_balance"),
            F.min_by("c_name", F.col("__okey")).alias("poorest_customer"),
            F.min("c_acctbal").alias("min_balance"),
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        )
    )


@register(
    "supplier_revenue_corr_pairs",
    # Cross-ENTITY correlation matrix over a FIXED top-40 basket (by
    # total revenue cents, ties by suppkey): day-aligned self-join fans
    # out at most 40x40 per day regardless of data size. Daily revenue
    # in exact integer cents; corr ROUND 6 per convention.
    f"""WITH daily AS (
          SELECT l_suppkey AS s, CAST(l_shipdate AS DATE) AS day,
                 SUM(CAST(FLOOR(l_extendedprice * 100e0 + 5e-1)
                          AS BIGINT)) AS rev_c
          FROM lineitem GROUP BY l_suppkey, CAST(l_shipdate AS DATE)
        ), basket AS (
          SELECT s FROM (
            SELECT s, CAST(SUM(rev_c) AS BIGINT) AS tot FROM daily GROUP BY s
            ORDER BY tot DESC, s LIMIT 40
          )
        ), d AS (
          SELECT daily.s, day, CAST(rev_c AS DOUBLE) AS rev
          FROM daily SEMI JOIN basket ON daily.s = basket.s
        )
        SELECT a.s AS supp_a, b.s AS supp_b,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               {_CORR_SQL.format(x='a.rev', y='b.rev')} AS rev_corr
        FROM d a JOIN d b ON a.day = b.day AND a.s < b.s
        GROUP BY a.s, b.s
        HAVING COUNT(*) >= 200""",
)
def supplier_revenue_corr_pairs(spark, sf_dir):
    """Cross-entity correlation screen (the pairs-trading / co-movement
    matrix) over a FIXED basket: the top 40 suppliers by total revenue
    (exact integer cents, ties by suppkey), daily revenue day-aligned by
    self-join, Pearson correlation per pair with >= 200 shared days.

    Scale shape: the basket bound is what makes this safe at 100 TB —
    the per-day join fan-out is <= |basket|² no matter how many entities
    or rows exist (the unrestricted all-entities variant is quadratic in
    active entities per day and measurably dies at sf0.1 on a 1g heap);
    the basket itself broadcasts. Exact integer-cents daily sums feed
    corr identical doubles on both engines; corr ROUND 6 (inherently
    floating, corpus convention); zero-variance pairs NULL."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "bigint"
    )
    daily = (
        li.groupBy(
            F.col("l_suppkey").alias("s"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .agg(F.sum(cents).alias("rev_c"))
    )
    basket = (
        daily.groupBy("s")
        .agg(F.sum("rev_c").cast("bigint").alias("__tot"))
        .orderBy(F.col("__tot").desc(), "s")
        .limit(40)
        .select("s")
    )
    d = daily.join(F.broadcast(basket), "s", "left_semi").select(
        "s", "day", F.col("rev_c").cast("double").alias("rev")
    )
    a = d.select(F.col("s").alias("supp_a"), "day", F.col("rev").alias("__ra"))
    b = d.select(
        F.col("s").alias("supp_b"),
        F.col("day").alias("__db"),
        F.col("rev").alias("__rb"),
    )
    return (
        a.join(b, (a.day == b.__db) & (a.supp_a < b.supp_b))
        .groupBy("supp_a", "supp_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(safe_corr(F.col("__ra"), F.col("__rb")), 6).alias("rev_corr"),
        )
        .filter(F.col("n_days") >= 200)
    )


# ------------------------------------------------- multi-objective / blocking


@register(
    "pareto_frontier_parts",
    # Independent formulation: the oracle decides dominance by NOT
    # EXISTS over distinct points, while the engine runs the two-phase
    # bucketed running-min frontier — agreement proves the
    # frontier-of-frontiers reduction is exact. Integer dims (cents,
    # size) make dominance comparisons exact on both engines.
    """WITH pts AS (
          SELECT CAST(FLOOR(p_retailprice * 100e0 + 5e-1) AS BIGINT)
                   AS price_cents,
                 CAST(p_size AS BIGINT) AS p_size,
                 CAST(COUNT(*) AS BIGINT) AS n_parts
          FROM part GROUP BY 1, 2
        )
        SELECT price_cents, p_size, n_parts FROM pts p
        WHERE NOT EXISTS (
          SELECT 1 FROM pts q
          WHERE q.price_cents <= p.price_cents AND q.p_size <= p.p_size
            AND (q.price_cents < p.price_cents OR q.p_size < p.p_size))""",
)
def pareto_frontier_parts(spark, sf_dir):
    """2-D skyline of parts minimizing (retail price, size)
    (operators/analysis.skyline2d_min): the Pareto-optimal
    cheapest-and-smallest shortlist. Phase 1 computes per-$10-bucket
    local frontiers in parallel (each bounded by the 50 distinct
    sizes); phase 2's global pass sees only those survivors — no
    global sort of the input ever happens, the property that holds at
    100 TB. The oracle is an INDEPENDENT dominance formulation
    (NOT EXISTS), so agreement checks the algorithm, not the
    transcription."""
    p = read_table(spark, sf_dir, "part")
    pts = p.select(
        F.expr("CAST(FLOOR(p_retailprice * 100e0 + 5e-1) AS BIGINT)").alias(
            "price_cents"
        ),
        F.col("p_size"),
    )
    counts = pts.groupBy("price_cents", "p_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )
    front = analysis.skyline2d_min(
        pts, "price_cents", "p_size", bucket_width=1000,
        x_out="price_cents", y_out="p_size",
    )
    return front.join(counts, ["price_cents", "p_size"]).select(
        "price_cents", F.col("p_size").cast("bigint").alias("p_size"), "n_parts"
    )


@register(
    "phonetic_blocking_parts",
    # The consonant-class signature is six character-class membership
    # tests + the uppercase initial — chosen over classic soundex
    # because adjacent-repeat collapsing needs regex backreferences
    # RE2-based engines (DuckDB) lack; class PRESENCE is evaluated
    # identically everywhere. Verification is exact Levenshtein.
    """WITH names AS (
          SELECT DISTINCT p_name AS t,
                 lower(string_split(p_name, ' ')[-1]) AS w
          FROM part
        ), keyed AS (
          SELECT t,
                 upper(substr(w, 1, 1))
                 || CASE WHEN regexp_matches(w, '[bfpv]') THEN '1' ELSE '' END
                 || CASE WHEN regexp_matches(w, '[cgjkqsxz]') THEN '2' ELSE '' END
                 || CASE WHEN regexp_matches(w, '[dt]') THEN '3' ELSE '' END
                 || CASE WHEN regexp_matches(w, '[l]') THEN '4' ELSE '' END
                 || CASE WHEN regexp_matches(w, '[mn]') THEN '5' ELSE '' END
                 || CASE WHEN regexp_matches(w, '[r]') THEN '6' ELSE '' END
                   AS b
          FROM names
        )
        SELECT a.t AS text_a, b.t AS text_b,
               CAST(levenshtein(a.t, b.t) AS INT) AS dist
        FROM keyed a JOIN keyed b ON a.b = b.b AND a.t < b.t
        WHERE levenshtein(a.t, b.t) <= 4""",
)
def phonetic_blocking_parts(spark, sf_dir):
    """Entity-resolution candidates blocked on a PHONETIC key
    (operators/text.consonant_signature of the last name token) instead
    of the exact token fuzzy_part_name_pairs blocks on — catching
    sound-alike spelling variants exact-token blocking misses, while
    the block-then-verify cost shape (collision volume, never
    all-pairs) is unchanged (operators/joins.fuzzy_self_join)."""
    from financial_data_lakehouse_pipeline__spark.operators import text as text_ops

    p = read_table(spark, sf_dir, "part")
    return joins.fuzzy_self_join(
        p,
        "p_name",
        text_ops.consonant_signature(
            F.element_at(F.split(F.col("p_name"), " "), -1)
        ),
        max_dist=4,
    )


def _lpa_sql(iters: int = 2) -> str:
    """Unrolled synchronous-LPA oracle (graph.label_propagation twin):
    all-integer (labels are part keys, scores are counts), so every
    iteration is exact — no float anywhere. pairs/edges MATERIALIZED
    for the same multi-reference reason as _pagerank_sql."""
    parts = [
        """pairs AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey < b.l_partkey
        )""",
        "edges AS MATERIALIZED (SELECT src, dst FROM pairs "
        "UNION ALL SELECT dst, src FROM pairs)",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)",
    ]
    for t in range(iters):
        parts.append(
            f"n{t} AS (SELECT e.src AS node, l.label, "
            f"CAST(COUNT(*) AS BIGINT) AS c "
            f"FROM edges e JOIN l{t} l ON e.dst = l.node GROUP BY 1, 2)"
        )
        parts.append(
            f"l{t + 1} AS (SELECT node, label FROM ("
            f"SELECT node, label, ROW_NUMBER() OVER ("
            f"PARTITION BY node ORDER BY c DESC, label) AS rn FROM n{t}"
            f") WHERE rn = 1)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, label AS community FROM l{iters}"
    )


@register("label_propagation_copurchase", _lpa_sql(iters=2))
def label_propagation_copurchase(spark, sf_dir):
    """Community detection on the part co-purchase graph via
    synchronous label propagation (operators/graph.label_propagation):
    2 iterations of adopt-the-modal-neighbor-label with min-label
    tie-break — deterministic by construction, so the unrolled
    all-integer oracle replays it exactly. Same Pregel cost shape as
    pagerank_copurchase (keyed join + aggregation per iteration)."""
    from financial_data_lakehouse_pipeline__spark.operators import graph

    li = read_table(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return graph.label_propagation(edges, iters=2)


@register(
    "exact_median_selection_prices",
    # The oracle takes the k-th row of a full sort; the engine finds the
    # same value by iterative histogram selection — agreement checks the
    # selection algorithm against the sort-based ground truth.
    """WITH c AS (
          SELECT CAST(FLOOR(l_extendedprice * 100e0 + 5e-1) AS BIGINT) AS v
          FROM lineitem
        ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
        r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM c)
        SELECT nn.n, (nn.n + 1) // 2 AS k, r.v AS kth_cents
        FROM r, nn WHERE rn = (nn.n + 1) // 2""",
)
def exact_median_selection_prices(spark, sf_dir):
    """EXACT global median of price cents by iterative histogram
    selection (operators/aggregates.exact_kth_element) — no global
    sort: log_B(range) pushdown-friendly range-filtered passes with
    O(B) driver bytes per round. The exact counterpart to the KLL
    sketch for the 100 TB regime where sort-based percentiles
    (percentile_cont_prices) stop being viable; the oracle IS the
    sort-based ground truth, so a green row certifies the selection."""
    from financial_data_lakehouse_pipeline__spark.operators import aggregates as agg_ops

    li = read_table(spark, sf_dir, "lineitem")
    cents = F.expr("CAST(FLOOR(l_extendedprice * 100e0 + 5e-1) AS BIGINT)")
    vals = li.select(cents.alias("__v"))
    schema = "n bigint, k bigint, kth_cents bigint"
    try:
        # callable k: n comes from the operator's own min/max/count
        # aggregation — no separate count() pass over the fact
        n, k, kth = agg_ops.exact_kth_element(
            vals, F.col("__v"), lambda n: (n + 1) // 2, with_stats=True
        )
    except ValueError:  # empty lake partition — no median to select
        return spark.createDataFrame([], schema)
    return spark.createDataFrame([(n, k, kth)], schema)


@register(
    "k_anonymity_customers",
    # All-integer aggregation: exact group sizes and exact distinct
    # counts, no floats anywhere.
    """WITH g AS (
          SELECT c_mktsegment, c_nationkey,
                 CAST(FLOOR(c_acctbal / 1000e0) AS BIGINT) AS bal_band,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT c_custkey % 7) AS BIGINT) AS l
          FROM customer GROUP BY 1, 2, 3
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
               MIN(n) AS k_anonymity,
               CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS groups_below_k,
               CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                 AS rows_below_k,
               MIN(l) AS l_diversity_min,
               CAST(SUM(CASE WHEN l <= 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS groups_single_sensitive
        FROM g""",
)
def k_anonymity_customers(spark, sf_dir):
    """k-anonymity / l-diversity screen (operators/dq.
    k_anonymity_report) on customers: quasi-identifiers = (market
    segment, nation, $1000 balance band), sensitive attribute = a
    7-class synthetic label (custkey mod 7 — the testdata carries no
    real sensitive column; the grouping logic is what's under test).
    Single QI-keyed aggregation; every output an exact integer."""
    from financial_data_lakehouse_pipeline__spark.operators import dq as dq_ops

    c = read_table(spark, sf_dir, "customer").withColumn(
        "bal_band", F.expr("CAST(FLOOR(c_acctbal / 1000e0) AS BIGINT)")
    ).withColumn("sens", F.expr("c_custkey % 7"))
    return dq_ops.k_anonymity_report(
        c, ["c_mktsegment", "c_nationkey", "bal_band"], "sens", k=5
    )


@register(
    "fk_orphan_audit_star",
    # NOT EXISTS twin per edge (NULL-safe, unlike NOT IN): exact row
    # counts, orphans = child rows whose key matches no parent key.
    """SELECT 'lineitem->orders' AS edge,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS total_rows,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey))
                AS orphan_rows
       UNION ALL
       SELECT 'orders->customer',
              (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
              (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey))
       UNION ALL
       SELECT 'lineitem->supplier',
              (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
              (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                 WHERE s.s_suppkey = l.l_suppkey))
       UNION ALL
       SELECT 'customer->nation',
              (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
              (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
               WHERE NOT EXISTS (SELECT 1 FROM nation n
                                 WHERE n.n_nationkey = c.c_nationkey))""",
)
def fk_orphan_audit_star(spark, sf_dir):
    """Referential-integrity audit of the star schema's four FK edges
    (operators/dq.fk_orphan_audit): per edge, total child rows and
    orphan rows referencing a missing parent — anti-join counts, the
    pre-publish DQ gate. All counts exact integers; the intact TPC-H
    fixtures make every orphan_rows 0, which is itself the assertion."""
    from financial_data_lakehouse_pipeline__spark.operators import dq

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    return dq.fk_orphan_audit(
        [
            ("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
            ("orders->customer", o, "o_custkey", c, "c_custkey"),
            ("lineitem->supplier", li, "l_suppkey", s, "s_suppkey"),
            ("customer->nation", c, "c_nationkey", n, "n_nationkey"),
        ]
    )


#: Fellegi–Sunter (m, u) parameters for the part-linkage demo — shared
#: constants so the SQL twin embeds the repr() of the SAME log-odds.
_FS_FIELDS = {
    "name": (0.9, 0.1),
    "type": (0.7, 0.05),
    "price": (0.5, 0.02),
}


def _dlit(v: float) -> str:
    """DOUBLE-typed SQL literal that round-trips the exact bits: bare
    decimals parse as DECIMAL in DuckDB and CAST(decimal AS DOUBLE)
    can lose the last ulp (caught at sf0.1 by 77 off-by-one-ulp score
    rows), but scientific notation parses directly as DOUBLE."""
    r = repr(v)
    return r if "e" in r or "E" in r else f"{r}e0"


def _fs_w(field: str) -> tuple[str, str]:
    import math

    m, u = _FS_FIELDS[field]
    return (
        _dlit(math.log(m / u)),
        _dlit(math.log((1 - m) / (1 - u))),
    )


@register(
    "linkage_scores_parts",
    # Same blocking key, same agreement predicates (exact ints), and
    # the SAME log-odds literals (repr of the Python constants) summed
    # left-to-right — a fixed double tree, bit-identical, no ROUND.
    f"""WITH p AS (
          SELECT p_partkey, p_name, p_brand, p_type,
                 CAST(FLOOR(p_retailprice * 100e0 + 5e-1) AS BIGINT)
                   AS cents,
                 string_split(p_name, ' ')[-1] || '|' || p_brand
                   || '|' || CAST(p_size AS VARCHAR) AS blk
          FROM part
        )
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
               CAST(levenshtein(a.p_name, b.p_name) <= 4 AS INT)
                 AS agree_name,
               CAST(a.p_type = b.p_type AS INT) AS agree_type,
               CAST(abs(a.cents - b.cents) <= 100 AS INT) AS agree_price,
               (CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                     THEN {_fs_w('name')[0]} ELSE {_fs_w('name')[1]} END
                + CASE WHEN a.p_type = b.p_type
                       THEN {_fs_w('type')[0]} ELSE {_fs_w('type')[1]} END
                + CASE WHEN abs(a.cents - b.cents) <= 100
                       THEN {_fs_w('price')[0]}
                       ELSE {_fs_w('price')[1]} END) AS linkage_score
        FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
        WHERE (CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                    THEN {_fs_w('name')[0]} ELSE {_fs_w('name')[1]} END
               + CASE WHEN a.p_type = b.p_type
                      THEN {_fs_w('type')[0]} ELSE {_fs_w('type')[1]} END
               + CASE WHEN abs(a.cents - b.cents) <= 100
                      THEN {_fs_w('price')[0]}
                      ELSE {_fs_w('price')[1]} END) > 0""",
)
def linkage_scores_parts(spark, sf_dir):
    """Fellegi–Sunter record linkage over blocked part pairs
    (operators/dedup.linkage_scores): block on (name noun, brand,
    size) — block sizes stay O(1) as the table grows, so the pair
    volume is linear, not quadratic — then score name-Levenshtein,
    type, and cents-price-band agreements with log-odds weights and
    keep positive-evidence pairs. All predicates are exact integers;
    the score is a fixed literal sum (no ROUND)."""
    from financial_data_lakehouse_pipeline__spark.operators import dedup

    p = read_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        F.floor(F.col("p_retailprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.concat_ws(
            "|",
            F.element_at(F.split(F.col("p_name"), " "), -1),
            F.col("p_brand"),
            F.col("p_size").cast("string"),
        ).alias("blk"),
    )
    a = p.select(*[F.col(c).alias(f"{c}_a") for c in p.columns])
    b = p.select(*[F.col(c).alias(f"{c}_b") for c in p.columns])
    pairs = a.join(
        b,
        (F.col("blk_a") == F.col("blk_b"))
        & (F.col("p_partkey_a") < F.col("p_partkey_b")),
    )
    m_name, u_name = _FS_FIELDS["name"]
    m_type, u_type = _FS_FIELDS["type"]
    m_price, u_price = _FS_FIELDS["price"]
    scored = dedup.linkage_scores(
        pairs,
        [
            (
                "name",
                F.levenshtein(F.col("p_name_a"), F.col("p_name_b")) <= 4,
                m_name,
                u_name,
            ),
            ("type", F.col("p_type_a") == F.col("p_type_b"), m_type, u_type),
            (
                "price",
                F.abs(F.col("cents_a") - F.col("cents_b")) <= 100,
                m_price,
                u_price,
            ),
        ],
    )
    return scored.filter(F.col("linkage_score") > 0).select(
        F.col("p_partkey_a").alias("id_a"),
        F.col("p_partkey_b").alias("id_b"),
        F.col("agree_name").cast("int").alias("agree_name"),
        F.col("agree_type").cast("int").alias("agree_type"),
        F.col("agree_price").cast("int").alias("agree_price"),
        "linkage_score",
    )


@register(
    "percent_rank_balance",
    # percent_rank = (rank-1)/(n-1), cume_dist = cnt_le/n: tie-aware
    # (identical for tied values, so no tie-break needed) and each a
    # single IEEE division of exact integers — no ROUND.
    """SELECT c_custkey, c_nationkey,
              PERCENT_RANK() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal) AS pr,
              CUME_DIST() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal) AS cd
       FROM customer""",
)
def percent_rank_balance(spark, sf_dir):
    """Per-nation account-balance percentile standing via
    percent_rank + cume_dist — the tie-aware relative-rank windows
    (W-family extension): both are rank-derived, so tied balances get
    identical values and the result is deterministic without a
    tie-break; each is one exact-integer division."""
    from pyspark.sql import Window

    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "ntile_balance_quartiles",
    # NTILE semantics are identical (earlier tiles absorb remainders);
    # the ORDER includes the unique custkey so tie order — and thus
    # tile membership — is deterministic cross-engine.
    """SELECT c_custkey, c_nationkey,
              CAST(NTILE(4) OVER (PARTITION BY c_nationkey
                   ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
       FROM customer""",
)
def ntile_balance_quartiles(spark, sf_dir):
    """Per-nation balance quartile assignment via NTILE(4) — the
    fixed-count bucketing window (vs equal_frequency_bins' value-
    deterministic bins: NTILE splits ties, so the order key must be
    made unique — here by appending the primary key — or membership
    is nondeterministic). One window exchange on the nation key."""
    from pyspark.sql import Window

    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )
