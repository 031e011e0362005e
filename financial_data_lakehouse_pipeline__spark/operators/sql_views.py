"""SQL view surface (SURVEY.md §3.3).

The reference exposes its "user queries" as 4 Hive views
(sql/hive_schemas.sql:236-294) and 3 PostgreSQL serving views
(sql/postgresql_schemas.sql:225-271). This module re-expresses each view
shape as Spark SQL over the engine's temp views (sources.catalog
.register_views) against the driver testdata's analogous tables:
(ticker, date) time series ↦ (l_suppkey, l_shipdate) / (user_id, ts).

Each view is pure ANSI SQL so the DuckDB oracle can execute the identical
statement — the corpus imports VIEWS for both sides.
"""

from __future__ import annotations

# Spark + DuckDB compatible ANSI SQL. Every computed column aliased.
VIEWS: dict[str, str] = {
    # hv:236-250 v_recent_stock_performance: recent window scan + filter +
    # multi-column sort, anchored at the data's max date (reproducible).
    # No ROUND on the computed doubles: row-wise double arithmetic is
    # bit-identical across engines while ROUND tie semantics differ
    # (Spark HALF_UP on decimal repr vs DuckDB on the binary double).
    "v_recent_activity": """
        SELECT l.l_suppkey AS entity_id,
               CAST(l.l_shipdate AS DATE) AS activity_date,
               l.l_orderkey AS ref_id,
               l.l_linenumber AS line_no,
               l.l_quantity AS quantity,
               l.l_extendedprice AS price,
               l.l_extendedprice * (1 - l.l_discount) AS net_price
        FROM lineitem l
        CROSS JOIN (SELECT MAX(l_shipdate) AS max_d FROM lineitem) m
        WHERE l.l_shipdate >= m.max_d - INTERVAL 30 DAY
    """,
    # hv:253-264 v_top_sentiment_movers: top-k by absolute signal with a
    # support floor.
    "v_top_movers": """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
                   AS avg_value
        FROM events
        GROUP BY user_id
        HAVING COUNT(*) >= 20
        ORDER BY avg_value DESC, user_id
        LIMIT 50
    """,
    # hv:267-279 v_bullish_signals: screen rows crossing a global-average
    # threshold (scalar anchor via cross join, no driver collect).
    "v_above_average_orders": """
        SELECT o.o_orderkey, o.o_custkey,
               ROUND(o.o_totalprice, 2) AS total_price,
               o.o_orderpriority
        FROM orders o
        CROSS JOIN (SELECT AVG(o_totalprice) AS avg_price FROM orders) a
        WHERE o.o_totalprice > a.avg_price * 1.5
          AND o.o_orderstatus = 'O'
    """,
    # hv:282-294 v_daily_market_summary: calendar group-by with distinct
    # count — the flagship daily rollup.
    # total/avg use the 2-decimal money contract (scaled-integer sums —
    # exact, order-independent, ~4× cheaper than decimal accumulation).
    "v_daily_summary": """
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               CAST(COUNT(*) AS BIGINT) AS order_count,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS customer_count,
               (SUM(CAST(FLOOR(o_totalprice * 100e0 + 5e-1) AS BIGINT)) / 100e0)
                   AS total_value,
               (SUM(CAST(FLOOR(o_totalprice * 100e0 + 5e-1) AS BIGINT)) / 100e0)
                   / COUNT(*) AS avg_value,
               MAX(o_totalprice) AS max_value
        FROM orders
        GROUP BY CAST(o_orderdate AS DATE)
    """,
    # pg:260-271 v_strong_correlation_stocks: correlation screen — |corr|
    # above a threshold with a sample-size floor, sorted by strength.
    # corr is the one inherently-floating aggregate here → ROUND 6.
    "v_strong_correlation": """
        SELECT l_suppkey,
               ROUND(CASE WHEN STDDEV_SAMP(l_quantity) > 0
                           AND STDDEV_SAMP(l_extendedprice) > 0
                          THEN COVAR_SAMP(l_quantity, l_extendedprice)
                               / (STDDEV_SAMP(l_quantity)
                                  * STDDEV_SAMP(l_extendedprice)) END, 6)
                   AS qty_price_corr,
               CAST(COUNT(*) AS BIGINT) AS sample_size
        FROM lineitem
        GROUP BY l_suppkey
        HAVING COUNT(*) >= 20
           AND ABS(CASE WHEN STDDEV_SAMP(l_quantity) > 0
                         AND STDDEV_SAMP(l_extendedprice) > 0
                        THEN COVAR_SAMP(l_quantity, l_extendedprice)
                             / (STDDEV_SAMP(l_quantity)
                                * STDDEV_SAMP(l_extendedprice)) END) > 0.05
    """,
    # pg:237-241 v_stock_with_sentiment: fact ⟕ fact on composite key with
    # an interval predicate.
    "v_order_with_lineitems": """
        SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
               ROUND(o.o_totalprice, 2) AS total_price,
               CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS lines_value
        FROM orders o
        LEFT JOIN lineitem l
          ON l.l_orderkey = o.o_orderkey
         AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
        GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE), ROUND(o.o_totalprice, 2)
    """,
}
