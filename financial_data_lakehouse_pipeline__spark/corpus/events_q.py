"""Corpus: event-time operators — tumbling/sliding windows, sessionization,
as-of join, recency weighting, event detection, bucketing, alignment
(SURVEY.md §2.9 extension + sentiment_analysis.py composites)."""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.corpus import register, sql_dsum
from financial_data_lakehouse_pipeline__spark.functions import dmean, dsum
from financial_data_lakehouse_pipeline__spark.operators import analysis, cleaning, events, joins, windows
from financial_data_lakehouse_pipeline__spark.operators.analysis import alignment_score
from financial_data_lakehouse_pipeline__spark.sources import (
    footer_schema,
    normalize_event_ts,
    read_table,
)

# DuckDB-side: events.ts normalized to microsecond TIMESTAMP (matches the
# Spark-side ns→µs conversion in sources.readers.read_table).
_EV = "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"


@register(
    "tumbling_hourly",
    f"""SELECT date_trunc('hour', ts) AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum('value')} AS total_value
        FROM {_EV} e
        GROUP BY 1, 2, 3""",
)
def tumbling_hourly(spark, sf_dir):
    """Tumbling event-time window aggregation (batch twin of the
    Structured Streaming path in streaming/__init__.py)."""
    ev = read_table(spark, sf_dir, "events")
    return events.tumbling_window_agg(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        {"n_events": F.count(F.lit(1)), "total_value": dsum(F.col("value"))},
    )


@register(
    "sliding_2h_hop_1h",
    f"""SELECT ws AS window_start,
               ws + INTERVAL 2 HOUR AS window_end,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum('value')} AS total_value
        FROM (SELECT e.*,
                     unnest([date_trunc('hour', ts),
                             date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
              FROM {_EV} e)
        GROUP BY 1, 2, 3""",
)
def sliding_2h_hop_1h(spark, sf_dir):
    """Sliding (hopping) window: each event lands in 2 overlapping
    2-hour windows hopping hourly."""
    ev = read_table(spark, sf_dir, "events")
    return events.sliding_window_agg(
        ev,
        "ts",
        "2 hours",
        "1 hour",
        ["event_type"],
        {"n_events": F.count(F.lit(1)), "total_value": dsum(F.col("value"))},
    )


@register(
    "sessionize_users",
    f"""WITH marked AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_s
          FROM {_EV}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    AS session_id
          FROM marked
        )
        SELECT user_id, session_id,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum('value')} AS total_value
        FROM sess GROUP BY user_id, session_id""",
)
def sessionize_users(spark, sf_dir):
    """Sessionization: 30-minute inactivity gap, lag+cumsum formulation
    (one shuffle + sort per key — the batch twin of session_window)."""
    ev = read_table(spark, sf_dir, "events")
    return events.session_agg(
        ev,
        ["user_id"],
        "ts",
        1800,
        {"n_events": F.count(F.lit(1)), "total_value": dsum(F.col("value"))},
        order_tiebreak=["event_id"],
    )


@register(
    "asof_last_purchase",
    f"""SELECT l.event_id, l.user_id, l.ts, l.value,
               r.purchase_value AS purchase_value_asof
        FROM (SELECT * FROM {_EV} WHERE event_type = 'click') l
        ASOF LEFT JOIN (SELECT user_id, ts AS pts, value AS purchase_value
                        FROM {_EV} WHERE event_type = 'purchase') r
          ON l.user_id = r.user_id AND l.ts >= r.pts""",
)
def asof_last_purchase(spark, sf_dir):
    """As-of join: each click enriched with the user's most recent
    purchase value at-or-before it. Spark side: union + carry-forward
    window (operators.joins.asof_join) — one shuffle, no range explosion;
    oracle: DuckDB's native ASOF JOIN."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("purchase_value")
    )
    out = joins.asof_join(
        clicks, purchases, ["user_id"], "ts", "pts", ["purchase_value"], suffix="_asof"
    )
    return out.select("event_id", "user_id", "ts", "value", "purchase_value_asof")


@register(
    "recency_weighted_value",
    f"""SELECT user_id,
               ROUND({sql_dsum('value * exp(-((SELECT epoch_us(MAX(CAST(ts AS TIMESTAMP))) FROM events) - epoch_us(ts)) / 3600000000.0 / 24.0)')}
                     / NULLIF({sql_dsum('exp(-((SELECT epoch_us(MAX(CAST(ts AS TIMESTAMP))) FROM events) - epoch_us(ts)) / 3600000000.0 / 24.0)')}, 0),
                     6) AS recency_weighted_avg
        FROM {_EV}
        GROUP BY user_id""",
)
def recency_weighted_value(spark, sf_dir):
    """Exponential recency-weighted mean per user (reference dt:285-304),
    anchored at the global max timestamp via broadcast join — no collect,
    no single-partition window."""
    ev = read_table(spark, sf_dir, "events")
    out = events.recency_weighted_mean(
        ev, ["user_id"], "ts", "value", half_life_hours=24.0
    )
    return out.withColumn(
        "recency_weighted_avg", F.round("recency_weighted_avg", 6)
    )


@register(
    "clamp_normalize",
    f"""SELECT event_id,
               ROUND(LEAST(GREATEST((value - 250.0) / 250.0, -1.0), 1.0), 6)
                   AS value_clamped
        FROM {_EV}""",
)
def clamp_normalize(spark, sf_dir):
    """P11: normalize then clamp into [-1, 1] (reference dc:320-325)."""
    ev = read_table(spark, sf_dir, "events")
    from financial_data_lakehouse_pipeline__spark.functions import clamp

    return ev.select(
        "event_id",
        F.round(clamp((F.col("value") - 250.0) / 250.0, -1.0, 1.0), 6).alias(
            "value_clamped"
        ),
    )


@register(
    "event_detection",
    f"""WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 {sql_dsum('value')} / NULLIF(COUNT(value), 0) - 250.0 AS signal
          FROM {_EV}
          GROUP BY user_id, CAST(ts AS DATE)
        )
        SELECT user_id, day, n_events, signal,
               CASE WHEN signal > 0 THEN 'positive' ELSE 'negative' END AS direction
        FROM daily
        WHERE ABS(signal) >= 100 AND n_events >= 5""",
)
def event_detection(spark, sf_dir):
    """Threshold event detection + classification (reference sa:215-270:
    |signal| >= threshold AND support >= min, then when-chain label)."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (dmean(F.col("value")) - 250.0).alias("signal"),
    )
    detected = analysis.detect_events(
        daily,
        "signal",
        100.0,
        "n_events",
        5,
        classify={
            "direction": F.when(F.col("signal") > 0, "positive").otherwise("negative")
        },
    )
    return detected.select("user_id", "day", "n_events", "signal", "direction")


@register(
    "user_value_buckets",
    f"""WITH ua AS (
          SELECT user_id, {sql_dsum('value')} / NULLIF(COUNT(value), 0) AS avg_value
          FROM {_EV} GROUP BY user_id
        )
        SELECT CASE WHEN avg_value <= 150 THEN 'low'
                    WHEN avg_value <= 250 THEN 'mid_low'
                    WHEN avg_value <= 350 THEN 'mid_high'
                    ELSE 'high' END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               ROUND(SUM(avg_value) / COUNT(avg_value), 6) AS bucket_avg
        FROM ua GROUP BY 1""",
)
def user_value_buckets(spark, sf_dir):
    """Bucketing via when-chain (reference sa:153-160) + grouped means
    over buckets (reference sa:163-172).

    The outer mean-of-means uses a plain double sum + ROUND 6: casting an
    arbitrary double (the inner mean) to decimal diverges across engines
    (Spark rounds the shortest decimal repr, DuckDB the binary value), so
    decimal-exact accumulation is only used on raw (few-decimal) inputs."""
    ev = read_table(spark, sf_dir, "events")
    ua = ev.groupBy("user_id").agg(dmean(F.col("value")).alias("avg_value"))
    b = analysis.bucketize(
        ua, "avg_value", [150.0, 250.0, 350.0], ["low", "mid_low", "mid_high", "high"]
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.sum("avg_value") / F.count("avg_value"), 6).alias("bucket_avg"),
    )


@register(
    "signal_alignment",
    f"""SELECT event_id, user_id,
               CAST(SIGN(value - 250.0) AS DOUBLE)
               * CAST(SIGN(LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           - value) AS DOUBLE) AS alignment
        FROM {_EV}""",
)
def signal_alignment(spark, sf_dir):
    """Signal/outcome sign-alignment score (reference sa:273-279)."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        alignment_score(F.col("value") - 250.0, nxt - F.col("value")).alias(
            "alignment"
        ),
    )


@register(
    "summary_by_event_type",
    f"""SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               {sql_dsum('value')} / NULLIF(COUNT(value), 0) AS value_avg,
               MIN(value) AS value_min,
               MAX(value) AS value_max,
               ROUND(STDDEV_SAMP(value), 4) AS value_stddev
        FROM {_EV} GROUP BY event_type""",
)
def summary_by_event_type(spark, sf_dir):
    """Summary statistics composite (reference sa:313-348)."""
    ev = read_table(spark, sf_dir, "events")
    out = analysis.summary_stats(ev, ["event_type"], ["value"])
    return out.select(
        "event_type",
        "n_rows",
        "value_avg",
        "value_min",
        "value_max",
        F.round("value_stddev", 4).alias("value_stddev"),
    )


@register(
    "filter_pushdown_purchases",
    f"""SELECT event_id, user_id, ts, value
        FROM {_EV}
        WHERE event_type = 'purchase' AND value > 100""",
)
def filter_pushdown_purchases(spark, sf_dir):
    """P7: parameterized threshold filter — predicate + projection reach
    the parquet scan (plan asserted in tests/test_plans.py)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 100)).select(
        "event_id", "user_id", "ts", "value"
    )


@register(
    "salted_join_events",
    f"""WITH d AS (
          SELECT user_id, {sql_dsum('value')} AS user_total
          FROM {_EV} GROUP BY user_id
        )
        SELECT e.event_id, e.user_id, e.value, d.user_total
        FROM {_EV} e JOIN d ON e.user_id = d.user_id""",
)
def salted_join_events(spark, sf_dir):
    """Skew-resistant salted join (operators/joins.salted_join): events ⋈
    per-user totals with the key salted 4 ways — the result must equal the
    plain join exactly (the oracle IS the plain join), proving salting is
    a pure execution-strategy change."""
    from financial_data_lakehouse_pipeline__spark.functions import dsum as _dsum

    ev = read_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(_dsum(F.col("value")).alias("user_total"))
    out = joins.salted_join(
        ev.select("event_id", "user_id", "value"), dim, ["user_id"], salt=4
    )
    return out.select("event_id", "user_id", "value", "user_total")


@register(
    "json_scalar_props",
    f"""SELECT event_id,
               CAST(json_extract(props, '$.k') AS INT) AS prop_k,
               CASE WHEN CAST(json_extract(props, '$.k') AS INT) >= 50
                    THEN 'high' ELSE 'low' END AS prop_band
        FROM {_EV}
        WHERE props IS NOT NULL""",
)
def json_scalar_props(spark, sf_dir):
    """§2.8 JSON scalars: parse a JSON-string column with from_json and
    extract a typed field (the engine's structured alternative to
    get_json_object; SURVEY.md marks this as the streaming-path JSON
    surface the reference lacks)."""
    ev = read_table(spark, sf_dir, "events")
    parsed = ev.filter(F.col("props").isNotNull()).withColumn(
        "__p", F.from_json(F.col("props"), "k INT")
    )
    return parsed.select(
        "event_id",
        F.col("__p.k").alias("prop_k"),
        F.when(F.col("__p.k") >= 50, "high").otherwise("low").alias("prop_band"),
    )


@register(
    "streaming_session_windows",
    # Batch-SQL twin of native session_window semantics: sessions merge
    # while the gap is STRICTLY under 30 min (diff >= gap starts a new
    # session), and session_end = last event + gap (window upper bound),
    # unlike the batch sessionize operator's MAX(ts).
    f"""WITH marked AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                          >= 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_s
          FROM {_EV}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM marked
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 1800 SECOND AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum('value')} AS total_value
        FROM sess GROUP BY user_id, sid""",
)
def streaming_session_windows(spark, sf_dir):
    """Native Structured Streaming session windows (gap-merged state)
    driven to completion — the streaming twin of sessionize_users,
    verified against the batch lag+cumsum formulation adjusted to
    session_window's boundary semantics."""
    import os

    from financial_data_lakehouse_pipeline__spark import streaming as st

    raw_schema = footer_schema(os.path.join(sf_dir, "events.parquet"))
    stream = st.stream_from_parquet_dir(spark, sf_dir, raw_schema, glob="events.parquet")
    stream = normalize_event_ts(stream)
    agg = st.session_windows(
        stream,
        "ts",
        "30 minutes",
        ["user_id"],
        {"n_events": F.count(F.lit(1)), "total_value": dsum(F.col("value"))},
    )
    return st.run_available_now(agg, "corpus_streaming_session_windows")


@register(
    "streaming_hourly_counts",
    # The streaming query driven to completion over a bounded input must
    # equal the batch tumbling aggregation — so it shares the SAME oracle
    # (also pinned streaming==batch in tests/test_streaming.py).
    f"""SELECT date_trunc('hour', ts) AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum('value')} AS total_value
        FROM {_EV} e
        GROUP BY 1, 2, 3""",
)
def streaming_hourly_counts(spark, sf_dir):
    """Structured Streaming twin of tumbling_hourly: file stream over the
    events parquet driven to completion with an availableNow trigger and a
    memory sink."""
    import os

    from financial_data_lakehouse_pipeline__spark import streaming as st

    # Spark file streams require a DIRECTORY; stream the sf_dir with a
    # pathGlobFilter selecting only the events file. Schema comes from the
    # RAW parquet (ts is a nanos BIGINT under nanosAsLong) — read_table's
    # normalized schema would not match the physical files.
    raw_schema = footer_schema(os.path.join(sf_dir, "events.parquet"))
    stream = st.stream_from_parquet_dir(
        spark, sf_dir, raw_schema, glob="events.parquet"
    )
    stream = normalize_event_ts(stream)
    agg = st.windowed_counts(
        stream,
        "ts",
        "1 hour",
        ["event_type"],
        {"n_events": F.count(F.lit(1)), "total_value": dsum(F.col("value"))},
    )
    return st.run_available_now(agg, "corpus_streaming_hourly_counts")


@register(
    "streaming_record_highs",
    # Batch-expressible twin: a row is a record high iff it strictly
    # exceeds the max of all earlier rows for its user (event order =
    # (ts, event_id), matching the operator's in-batch sort).
    f"""WITH e AS (
          SELECT user_id, event_id, value,
                 MAX(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
          FROM {_EV} x
        )
        SELECT user_id, event_id, value
        FROM e WHERE prev_max IS NULL OR value > prev_max""",
)
def streaming_record_highs(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState): emit
    each user's record-breaking event values, state = one running max per
    key (streaming/record_highs_stateful). Driven to completion with
    availableNow + append-mode memory sink; equals the batch window
    formulation, which is the oracle."""
    import os

    from financial_data_lakehouse_pipeline__spark import streaming as st

    raw_schema = footer_schema(os.path.join(sf_dir, "events.parquet"))
    stream = st.stream_from_parquet_dir(
        spark, sf_dir, raw_schema, glob="events.parquet"
    )
    stream = normalize_event_ts(stream)
    out = st.record_highs_stateful(
        stream.select("user_id", "ts", "event_id", "value"),
        key_col="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
        value_col="value",
    )
    return st.run_available_now(
        out, "corpus_streaming_record_highs", output_mode="append"
    )


@register(
    "streaming_enrich_users",
    # Stateless stream-static join == the same batch join (the stream is
    # bounded and driven to completion), so the oracle is the plain SQL.
    """SELECT e.event_id, e.user_id, e.event_type, e.value,
              c.c_mktsegment AS segment, n.n_name AS nation
       FROM events e
       LEFT JOIN customer c ON e.user_id = c.c_custkey
       LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""",
)
def streaming_enrich_users(spark, sf_dir):
    """Stream-static enrichment join (streaming/enrich_stream): the
    events file stream joins a broadcast customer×nation dim per
    micro-batch — the stream side never shuffles. Append mode (stateless),
    availableNow to completion; equals the batch join, which is the
    oracle."""
    import os

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.operators import joins

    raw_schema = footer_schema(os.path.join(sf_dir, "events.parquet"))
    stream = st.stream_from_parquet_dir(
        spark, sf_dir, raw_schema, glob="events.parquet"
    ).select("event_id", "user_id", "event_type", "value")
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    dim = joins.enrich(cust, nat, cust.c_nationkey == nat.n_nationkey).select(
        F.col("c_custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("nation"),
    )
    out = st.enrich_stream(
        stream, dim, stream.user_id == dim.c_custkey
    ).select("event_id", "user_id", "event_type", "value", "segment", "nation")
    return st.run_available_now(
        out, "corpus_streaming_enrich_users", output_mode="append"
    )


@register(
    "funnel_view_click_purchase",
    f"""WITH s1 AS (
          SELECT user_id, MIN(ts) AS t FROM {_EV} e
          WHERE event_type = 'view' GROUP BY 1
        ),
        s2 AS (
          SELECT e.user_id, MIN(ts) AS t FROM {_EV} e
          JOIN s1 USING (user_id)
          WHERE event_type = 'click' AND ts > s1.t GROUP BY 1
        ),
        s3 AS (
          SELECT e.user_id, MIN(ts) AS t FROM {_EV} e
          JOIN s2 USING (user_id)
          WHERE event_type = 'purchase' AND ts > s2.t GROUP BY 1
        )
        SELECT CAST(1 AS INT) AS step, 'view' AS event_type,
               CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
        UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
        UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3""",
)
def funnel_view_click_purchase(spark, sf_dir):
    """Ordered view -> click -> purchase conversion funnel with
    first-touch chaining (operators/events.funnel): per-step filtered
    min-ts aggregations over shrinking user sets — never a raw-stream
    self-join."""
    from financial_data_lakehouse_pipeline__spark.operators import events as ev

    e = read_table(spark, sf_dir, "events")
    return ev.funnel(e, "user_id", "ts", "event_type", ["view", "click", "purchase"])


@register(
    "retention_weekly_cohorts",
    f"""WITH e AS (
          SELECT user_id,
                 CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
                      AS BIGINT) AS p
          FROM {_EV} x
        ),
        first AS (SELECT user_id, MIN(p) AS p0 FROM e GROUP BY 1)
        SELECT p0 AS cohort_period,
               p - p0 AS period_offset,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM e JOIN first USING (user_id)
        GROUP BY 1, 2""",
)
def retention_weekly_cohorts(spark, sf_dir):
    """Weekly cohort retention triangle (operators/events
    .retention_cohorts): cohort = week of first event, cell = distinct
    users active at each week offset. Integer day-bucket arithmetic —
    no calendar edge cases, oracle-exact."""
    from financial_data_lakehouse_pipeline__spark.operators import events as ev

    e = read_table(spark, sf_dir, "events")
    return ev.retention_cohorts(e, "user_id", "ts", period_days=7)


@register(
    "gap_fill_events",
    """WITH s AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                 CASE WHEN event_type <> 'error' THEN value END AS value
          FROM events
        )
        SELECT user_id, event_id, ts, value,
               last_value(value IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS value_filled
        FROM s""",
)
def gap_fill_events(spark, sf_dir):
    """Forward-fill imputation (operators/cleaning.forward_fill): error
    events lose their reading; the last good observation carries forward
    per user. Total order (ts, event_id) pins ties; leading gaps stay
    NULL. Fill values pass through untouched — bit-identical."""
    ev = read_table(spark, sf_dir, "events")
    sparse = ev.withColumn(
        "value", F.when(F.col("event_type") != "error", F.col("value"))
    )
    out = cleaning.forward_fill(
        sparse, ["user_id"], ["ts", "event_id"], ["value"]
    )
    return out.select("user_id", "event_id", "ts", "value", "value_filled")


@register(
    "session_concurrency",
    f"""WITH marked AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_s
          FROM {_EV}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
                 ts
          FROM marked
        ), iv AS (
          SELECT MIN(ts) AS s, MAX(ts) AS e FROM sess GROUP BY user_id, sid
        ), d AS (
          SELECT s AS at, CAST(1 AS BIGINT) AS dlt FROM iv
          UNION ALL
          SELECT e + INTERVAL 1 MICROSECOND, CAST(-1 AS BIGINT) FROM iv
        ), c AS (SELECT at, CAST(SUM(dlt) AS BIGINT) AS delta
                 FROM d GROUP BY at)
        SELECT at, delta,
               CAST(SUM(delta) OVER (ORDER BY at ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS concurrent
        FROM c""",
)
def session_concurrency(spark, sf_dir):
    """How many user sessions are active at every boundary instant, via
    the linear sweep-line (operators/events.concurrency_sweep) over the
    sessionized intervals: +1 at session_start, -1 just after
    session_end, deltas aggregated PER INSTANT before the cumulative
    sum — the unpartitioned running window scans one row per distinct
    boundary, never per session. The quadratic alternative (sessions x
    instants range join) is exactly what this operator exists to avoid."""
    ev = read_table(spark, sf_dir, "events")
    sessions = events.session_agg(
        ev, ["user_id"], "ts", 1800, {}, order_tiebreak=["event_id"]
    )
    out = events.concurrency_sweep(
        sessions,
        F.col("session_start"),
        F.col("session_end") + F.expr("INTERVAL 1 MICROSECOND"),
    )
    return out.select("at", "delta", "concurrent")


@register(
    "event_study_revenue",
    """WITH daily AS (
         SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
                CAST(SUM(CAST(FLOOR(l_extendedprice * 100e0 + 5e-1)
                              AS BIGINT)) AS BIGINT) AS rev
         FROM lineitem GROUP BY 1, 2
       ),
       s AS (
         SELECT l_suppkey, CAST(COUNT(*) AS DOUBLE) AS n,
                CAST(SUM(rev) AS DOUBLE) AS sv,
                CAST(SUM(rev * rev) AS DOUBLE) AS svv
         FROM daily GROUP BY 1
       ),
       e AS (
         SELECT d.l_suppkey, day AS event_day, rev AS event_rev
         FROM daily d JOIN s USING (l_suppkey)
         WHERE CASE WHEN n > 1 AND (svv - sv * sv / n) / (n - 1e0) > 0
                    THEN (CAST(rev AS DOUBLE) - sv / n)
                         / SQRT((svv - sv * sv / n) / (n - 1e0)) END > 25e-1
       ),
       p AS (
         SELECT l_suppkey, event_day, event_rev, UNNEST(range(-3, 4)) AS o
         FROM e
       ),
       j AS (
         SELECT p.o, d.rev, p.event_rev
         FROM p JOIN daily d
           ON d.l_suppkey = p.l_suppkey
          AND d.day = p.event_day + CAST(p.o AS INTEGER)
       )
       SELECT CAST(o AS INT) AS "offset",
              CAST(COUNT(*) AS BIGINT) AS n_obs,
              CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS avg_value,
              ROUND(AVG(CAST(rev AS DOUBLE) / event_rev), 6) AS avg_rel
       FROM j GROUP BY o""",
)
def event_study_revenue(spark, sf_dir):
    """Event study (operators/analysis.event_study): per-supplier daily
    revenue shocks (z > 2.5, exact-sum deterministic) → average revenue
    at offsets −3..+3 around each shock. avg_value is an exact
    sum/count; avg_rel is a float mean of row-wise ratios → ROUND 6."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("bigint")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("day")
    ).agg(F.sum(cents).alias("rev"))
    out = analysis.event_study(
        daily, ["l_suppkey"], "day", "rev", threshold=2.5, span=3
    )
    return out.select(
        "offset", "n_obs", "avg_value", F.round("avg_rel", 6).alias("avg_rel")
    )


@register(
    "streaming_click_attribution",
    # Bounded input driven to completion == the batch interval join.
    f"""SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
               p.event_id AS purchase_id, p.ts AS purchase_ts,
               p.value AS purchase_value
        FROM (SELECT * FROM {_EV} WHERE event_type = 'click') c
        JOIN (SELECT * FROM {_EV} WHERE event_type = 'purchase') p
          ON p.user_id = c.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""",
)
def streaming_click_attribution(spark, sf_dir):
    """Stream-stream interval join (streaming/stream_interval_join):
    clicks and purchases arrive as two streams; each click matches the
    same user's purchases within the following hour. Watermarks + the
    time-bound condition keep both state buffers finite; with bounded
    input run to completion it equals the batch interval join (the
    oracle)."""
    import os

    from financial_data_lakehouse_pipeline__spark import streaming as st

    raw_schema = footer_schema(os.path.join(sf_dir, "events.parquet"))

    def side(event_type, cols):
        s = st.stream_from_parquet_dir(
            spark, sf_dir, raw_schema, glob="events.parquet"
        )
        s = normalize_event_ts(s)
        return s.filter(F.col("event_type") == event_type).select(*cols)

    clicks = side(
        "click",
        [
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        ],
    )
    purchases = side(
        "purchase",
        [
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        ],
    )
    out = st.stream_interval_join(
        clicks,
        purchases,
        "click_ts",
        "purchase_ts",
        F.col("user_id") == F.col("p_user_id"),
        span="1 hour",
        watermark="2 hours",
    ).select(
        "click_id",
        "user_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )
    return st.run_available_now(
        out, "corpus_streaming_click_attribution", output_mode="append"
    )


@register(
    "streaming_upsert_keep_latest",
    # The final committed version of the streaming MERGE equals batch
    # keep-latest per user (latest ts, ties to highest event_id).
    """SELECT user_id, ts, event_id, value FROM (
         SELECT user_id, ts, event_id, value,
                ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
         FROM events)
       WHERE rn = 1""",
)
def streaming_upsert_keep_latest(spark, sf_dir):
    """Streaming MERGE sink (streaming.upsert_sink): foreachBatch
    dedups each micro-batch to its latest row per user and commits it
    to a sources/acid.py table (create on the first batch, acid.merge
    after that). Driven to completion, the committed state read with
    acid.read_snapshot equals batch keep-latest — the oracle."""
    import os
    import shutil

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.sources import acid

    scratch = os.path.join(
        os.path.dirname(__file__), "..", "..", ".scratch", "upsert_state"
    )
    scratch = os.path.abspath(scratch)
    shutil.rmtree(scratch, ignore_errors=True)

    raw_schema = footer_schema(os.path.join(sf_dir, "events.parquet"))
    stream = normalize_event_ts(
        st.stream_from_parquet_dir(spark, sf_dir, raw_schema, glob="events.parquet")
    ).select("user_id", "ts", "event_id", "value")
    q = st.upsert_sink(
        stream,
        scratch,
        keys=["user_id"],
        order_col="ts",
        tiebreak_col="event_id",
        query_name="corpus_streaming_upsert",
    )
    q.awaitTermination()
    return acid.read_snapshot(spark, scratch)


@register(
    "cusum_user_drift",
    # Recursive CTE replays the exact clamp recurrence (operation order
    # matches the Arrow loop; seed written as 0e0 - (...) to avoid the
    # -0.0 vs 0.0 repr divergence GREATEST(0, -(x)) could produce).
    f"""WITH RECURSIVE base AS MATERIALIZED (
          SELECT user_id, event_id, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS rn
          FROM {_EV}
        ), r AS (
          SELECT user_id, event_id, rn,
                 GREATEST(0e0, 0e0 + (value - 250e0 - 10e0)) AS sp,
                 GREATEST(0e0, 0e0 - (value - 250e0 + 10e0)) AS sn
          FROM base WHERE rn = 1
          UNION ALL
          SELECT b.user_id, b.event_id, b.rn,
                 GREATEST(0e0, r.sp + (b.value - 250e0 - 10e0)),
                 GREATEST(0e0, r.sn - (b.value - 250e0 + 10e0))
          FROM base b JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1
        )
        SELECT user_id, event_id, sp AS cusum_pos, sn AS cusum_neg,
               CAST(sp > 500e0 OR sn > 500e0 AS INT) AS alarm
        FROM r""",
)
def cusum_user_drift(spark, sf_dir):
    """Two-sided CUSUM drift monitor per user over event values
    (operators/windows.cusum): clamped cumulative deviations from
    target=250 with slack=10, alarm above 500 — the changepoint-
    detection primitive for pipeline quality metrics. The max(0,·)
    resets break prefix-sum algebra, so it runs as one grouped Arrow
    pass (ema/macd pattern), replayed exactly by a recursive-CTE
    oracle."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    out = windows.cusum(
        ev, ["user_id"], ["ts", "event_id"], "value",
        target=250.0, slack=10.0, threshold=500.0,
    )
    return out.select("user_id", "event_id", "cusum_pos", "cusum_neg", "alarm")


@register(
    "top_session_paths",
    # Path string = event types in (ts, event_id) order within the
    # sessionize_users session; top 20 paths by (count desc, path).
    f"""WITH marked AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                          > 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_s
          FROM {_EV}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sid
          FROM marked
        ), paths AS (
          SELECT user_id, sid,
                 string_agg(event_type, '>' ORDER BY ts, event_id) AS path
          FROM sess GROUP BY user_id, sid
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM paths GROUP BY path
        ORDER BY n_sessions DESC, path LIMIT 20""",
)
def top_session_paths(spark, sf_dir):
    """Top user-journey paths: event-type sequences within 30-minute
    sessions (events.session_ids reuse), concatenated in (ts, event_id)
    order and ranked by frequency — the funnel-discovery companion to
    the fixed-order funnel query. Path build is one keyed window + one
    groupBy; top-20 via TakeOrderedAndProject."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    sess = ev.withColumn("__new", new_s).withColumn(
        "__sid",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = (
        sess.withColumn(
            "__et",
            F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")),
        )
        .groupBy("user_id", "__sid")
        .agg(F.sort_array(F.collect_list("__et")).alias("__seq"))
        .select(
            F.concat_ws(
                ">", F.transform(F.col("__seq"), lambda s: s.event_type)
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


@register(
    "event_transition_matrix",
    # First-order Markov transitions per user stream: exact pair counts,
    # probability = one double division by the exact row total.
    f"""WITH nxt AS (
          SELECT event_type AS cur,
                 LEAD(event_type) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS nxt
          FROM {_EV}
        ), c AS (
          SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
          FROM nxt WHERE nxt IS NOT NULL GROUP BY cur, nxt
        )
        SELECT cur, nxt, n,
               CAST(n AS DOUBLE)
                   / CAST(SUM(n) OVER (PARTITION BY cur) AS DOUBLE) AS p
        FROM c""",
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    stream: P(next type | current type) from exact pair counts — the
    behavioral-model primitive behind next-event prediction and anomaly
    scoring. One lead window + one groupBy; the probability is a single
    double division of exact integers."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = nxt.groupBy("cur", "nxt").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wr = Window.partitionBy("cur")
    return c.select(
        "cur",
        "nxt",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wr).cast("double")).alias("p"),
    )


@register(
    "transition_likelihood_users",
    # Score each user's stream under the corpus-wide first-order Markov
    # model: exact transition counts both sides; ln + mean are the
    # floating steps → ROUND 6 (same discipline as stddev/corr).
    f"""WITH nxt AS (
          SELECT user_id, event_type AS cur,
                 LEAD(event_type) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS nxt
          FROM {_EV}
        ), pairs AS (
          SELECT user_id, cur, nxt FROM nxt WHERE nxt IS NOT NULL
        ), model AS (
          SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
          FROM pairs GROUP BY cur, nxt
        ), model_p AS (
          SELECT cur, nxt,
                 CAST(n AS DOUBLE)
                     / CAST(SUM(n) OVER (PARTITION BY cur) AS DOUBLE) AS p
          FROM model
        )
        SELECT pr.user_id,
               CAST(COUNT(*) AS BIGINT) AS n_transitions,
               ROUND(SUM(ln(m.p)) / COUNT(*), 6) AS avg_logp
        FROM pairs pr JOIN model_p m ON pr.cur = m.cur AND pr.nxt = m.nxt
        GROUP BY pr.user_id""",
)
def transition_likelihood_users(spark, sf_dir):
    """Behavioral anomaly scoring: each user's event stream scored under
    the corpus-wide Markov transition model (event_transition_matrix is
    the model build) — avg log-likelihood per transition; low scores
    flag improbable behavior. The 'score data under a learned model'
    pattern: the tiny model broadcasts back onto the stream, one keyed
    window + two aggregations."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    model = pairs.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wr = Window.partitionBy("cur")
    model_p = model.select(
        "cur",
        "nxt",
        (F.col("n").cast("double") / F.sum("n").over(wr).cast("double")).alias("p"),
    )
    scored = pairs.join(F.broadcast(model_p), ["cur", "nxt"])
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.round(
            F.sum(F.log(F.col("p"))) / F.count(F.lit(1)), 6
        ).alias("avg_logp"),
    )


@register(
    "asof_next_purchase",
    f"""SELECT l.event_id, l.user_id, l.ts, l.value,
               r.purchase_value AS purchase_value_next
        FROM (SELECT * FROM {_EV} WHERE event_type = 'click') l
        ASOF LEFT JOIN (SELECT user_id, ts AS pts, value AS purchase_value
                        FROM {_EV} WHERE event_type = 'purchase') r
          ON l.user_id = r.user_id AND l.ts <= r.pts""",
)
def asof_next_purchase(spark, sf_dir):
    """FORWARD as-of join: each click enriched with the user's NEXT
    purchase value at-or-after it (operators/joins.asof_join,
    direction='forward') — next-event enrichment for time-to-outcome
    labels. Same one-shuffle union+carry plan as the backward variant,
    scanning the in-partition order descending; oracle is DuckDB's
    native ASOF with the <= comparator."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("purchase_value")
    )
    out = joins.asof_join(
        clicks, purchases, ["user_id"], "ts", "pts", ["purchase_value"],
        suffix="_next", direction="forward",
    )
    return out.select("event_id", "user_id", "ts", "value", "purchase_value_next")


@register(
    "asof_nearest_purchase",
    # Nearest-direction as-of: per click, whichever purchase (last or
    # next) is closer in time, ties to backward; 1-hour tolerance on the
    # CHOSEN side's gap — merge_asof(direction='nearest') semantics.
    f"""WITH c AS (SELECT event_id, user_id, ts FROM {_EV}
                   WHERE event_type = 'click'),
        p AS (SELECT user_id, ts AS pts, value AS pv FROM {_EV}
              WHERE event_type = 'purchase'),
        b AS (SELECT c.event_id, c.user_id, c.ts, r.pts AS bpt, r.pv AS bv
              FROM c ASOF LEFT JOIN p r
                ON c.user_id = r.user_id AND c.ts >= r.pts),
        f AS (SELECT c.event_id, r.pts AS fpt, r.pv AS fv
              FROM c ASOF LEFT JOIN p r
                ON c.user_id = r.user_id AND c.ts <= r.pts),
        j AS (
          SELECT b.event_id, b.user_id, b.ts,
                 CASE WHEN f.fpt IS NULL OR (b.bpt IS NOT NULL AND
                           epoch_us(b.ts) - epoch_us(b.bpt)
                           <= epoch_us(f.fpt) - epoch_us(b.ts))
                      THEN b.bv ELSE f.fv END AS val,
                 CASE WHEN f.fpt IS NULL OR (b.bpt IS NOT NULL AND
                           epoch_us(b.ts) - epoch_us(b.bpt)
                           <= epoch_us(f.fpt) - epoch_us(b.ts))
                      THEN epoch_us(b.ts) - epoch_us(b.bpt)
                      ELSE epoch_us(f.fpt) - epoch_us(b.ts) END AS gap
          FROM b JOIN f ON f.event_id = b.event_id
        )
        SELECT event_id, user_id, ts,
               CASE WHEN gap <= CAST(3600 AS BIGINT) * 1000000 THEN val END
                   AS purchase_value_nearest
        FROM j""",
)
def asof_nearest_purchase(spark, sf_dir):
    """Nearest-direction as-of join (operators/joins.asof_join,
    direction='nearest'): each click takes whichever purchase — the
    latest before or the earliest after — is closer in time (ties go
    backward, the merge_asof convention), nulled when the chosen gap
    exceeds 1 hour. Both carries share one keyed shuffle; the reverse
    scan is a second in-partition sort, not a second exchange."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("pv")
    )
    out = joins.asof_join(
        clicks, purchases, ["user_id"], "ts", "pts", ["pv"],
        suffix="_n", direction="nearest", tolerance_seconds=3600.0,
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("pv_n").alias("purchase_value_nearest"),
    )


@register(
    "asof_last_purchase_1h",
    # Tolerance-bounded as-of: the matched value is kept only while the
    # purchase is <= 1 hour older than the click.
    f"""SELECT l.event_id, l.user_id, l.ts,
               CASE WHEN epoch_us(l.ts) - epoch_us(r.pts)
                         <= CAST(3600 AS BIGINT) * 1000000
                    THEN r.purchase_value END AS purchase_value_1h
        FROM (SELECT * FROM {_EV} WHERE event_type = 'click') l
        ASOF LEFT JOIN (SELECT user_id, ts AS pts, value AS purchase_value
                        FROM {_EV} WHERE event_type = 'purchase') r
          ON l.user_id = r.user_id AND l.ts >= r.pts""",
)
def asof_last_purchase_1h(spark, sf_dir):
    """Staleness-bounded as-of join (operators/joins.asof_join,
    tolerance_seconds=3600): the last purchase value, but only if it is
    at most one hour old at click time — the market-data contract
    ('last quote, never older than 30s'). The bound applies after the
    carry, so the plan stays one shuffle."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("purchase_value")
    )
    out = joins.asof_join(
        clicks, purchases, ["user_id"], "ts", "pts", ["purchase_value"],
        suffix="_1h", tolerance_seconds=3600.0,
    )
    return out.select("event_id", "user_id", "ts", "purchase_value_1h")


@register(
    "user_active_time",
    # Classic interval merge: each event opens a 30-min activity window;
    # overlapping windows coalesce; covered time sums the merged spans.
    # All arithmetic in exact epoch micros.
    f"""WITH iv AS (
          SELECT user_id, epoch_us(ts) AS s,
                 epoch_us(ts) + CAST(1800 AS BIGINT) * 1000000 AS e,
                 event_id
          FROM {_EV}
        ), m AS (
          SELECT user_id, s, e, event_id,
                 CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY user_id
                          ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          CAST(-9223372036854775807 AS BIGINT))
                      THEN 1 ELSE 0 END AS new_g
          FROM iv
        ), g AS (
          SELECT user_id, s, e,
                 SUM(new_g) OVER (PARTITION BY user_id ORDER BY s, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
          FROM m
        ), spans AS (
          SELECT user_id, gid, MIN(s) AS ms, MAX(e) AS me
          FROM g GROUP BY user_id, gid
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_active_spans,
               CAST(SUM(me - ms) // 1000000 AS BIGINT) AS active_seconds
        FROM spans GROUP BY user_id""",
)
def user_active_time(spark, sf_dir):
    """Total active time per user from overlapping 30-minute activity
    windows — the interval-union problem (uptime, SLA coverage, session
    time accounting): one keyed window merges overlaps via the
    running-max-end trick, one aggregation sums the merged spans. Exact
    epoch-microsecond integers throughout."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + F.lit(1800 * 1_000_000).cast("bigint")).alias(
            "e"
        ),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    m = iv.withColumn(
        "new_g",
        F.when(
            F.col("s")
            > F.coalesce(prev_max_e, F.lit(-9223372036854775807).cast("bigint")),
            1,
        ).otherwise(0),
    )
    # orderBy (s, event_id) — NOT (s, e) — so the gid running sum uses the
    # same total order as the new_g window above; with duplicate
    # (user_id, ts) rows an (s, e)-ordered sum would be tie-nondeterministic
    # and could bridge a real gap (both engines would diverge freely).
    wg = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    g = m.withColumn("gid", F.sum("new_g").over(wg))
    spans = g.groupBy("user_id", "gid").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return spans.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active_spans"),
        F.expr("sum(me - ms) div 1000000").alias("active_seconds"),
    )


@register(
    "longest_active_streak",
    # Gaps-and-islands via the row_number difference trick: consecutive
    # active days share (day - rn) — all exact integer day arithmetic.
    f"""WITH d AS (
          SELECT DISTINCT user_id,
                 CAST(epoch_us(ts) // (CAST(86400 AS BIGINT) * 1000000)
                      AS BIGINT) AS day
          FROM {_EV}
        ), isl AS (
          SELECT user_id, day,
                 day - ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY day) AS grp
          FROM d
        ), runs AS (
          SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
                 MIN(day) AS start_day
          FROM isl GROUP BY user_id, grp
        )
        SELECT user_id, len AS longest_streak_days,
               CAST(start_day AS BIGINT) AS streak_start_epoch_day
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY len DESC, start_day) AS rn FROM runs)
        WHERE rn = 1""",
)
def longest_active_streak(spark, sf_dir):
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands pattern (engagement metrics, uptime streaks):
    distinct active days, islands identified by the day-minus-row_number
    constant, longest run per user with a deterministic tiebreak. All
    exact integer epoch-day arithmetic."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.expr(
            "CAST(unix_micros(ts) div (CAST(86400 AS BIGINT) * 1000000) AS BIGINT)"
        ).alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = d.withColumn("grp", F.col("day") - F.row_number().over(w))
    runs = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.min("day").alias("start_day"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("start_day")
    )
    return (
        runs.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_streak_days"),
            F.col("start_day").cast("bigint").alias("streak_start_epoch_day"),
        )
    )


@register(
    "debounce_user_events",
    # Greedy keep-chain replayed as a recursive CTE: carry the last KEPT
    # timestamp; keep when the gap reaches 5 minutes. Exact integer
    # microseconds throughout.
    f"""WITH RECURSIVE base AS MATERIALIZED (
          SELECT user_id, event_type, ts, event_id, epoch_us(ts) AS tus,
                 ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS rn
          FROM {_EV}
        ), r AS (
          SELECT user_id, event_type, ts, event_id, rn,
                 tus AS last_kept, TRUE AS kept
          FROM base WHERE rn = 1
          UNION ALL
          SELECT b.user_id, b.event_type, b.ts, b.event_id, b.rn,
                 CASE WHEN b.tus - r.last_kept
                           >= CAST(300 AS BIGINT) * 1000000
                      THEN b.tus ELSE r.last_kept END,
                 b.tus - r.last_kept >= CAST(300 AS BIGINT) * 1000000
          FROM base b
          JOIN r ON b.user_id = r.user_id
                AND b.event_type = r.event_type
                AND b.rn = r.rn + 1
        )
        SELECT user_id, event_type, ts, event_id FROM r WHERE kept""",
)
def debounce_user_events(spark, sf_dir):
    """Debounce per (user, event_type): keep an event only when at least
    5 minutes have passed since the last KEPT event of that key
    (operators/events.debounce) — alert-suppression/rate-limiting
    semantics. The greedy chain depends on prior keep decisions, so it
    runs as a grouped Arrow pass (ema/cusum pattern) and is replayed
    exactly by a recursive-CTE oracle."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return events.debounce(
        ev, ["user_id", "event_type"], "ts", 300, tiebreak=["event_id"]
    )


@register(
    "streaming_distinct_keys",
    # Bounded stream driven to completion: streaming dropDuplicates
    # equals batch DISTINCT.
    "SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_distinct_keys(spark, sf_dir):
    """Streaming exact deduplication (dropDuplicates over the event
    stream, state = one row per distinct key): driven to completion over
    the bounded input it must equal batch DISTINCT — the oracle. The
    unbounded-state variant of dedup_within_watermark (which bounds
    state by the watermark and is pinned in tests/test_streaming.py)."""
    import os

    from financial_data_lakehouse_pipeline__spark import streaming as st

    raw_schema = footer_schema(os.path.join(sf_dir, "events.parquet"))
    stream = st.stream_from_parquet_dir(
        spark, sf_dir, raw_schema, glob="events.parquet"
    )
    out = stream.select("user_id", "event_type").dropDuplicates()
    return st.run_available_now(
        out, "corpus_streaming_distinct", output_mode="append"
    )


@register(
    "resample_hourly_users",
    # Dense per-user hourly grid: bucket by epoch-hour (integer modulo),
    # spine = generate_series(min, max), counts zero-filled, the hourly
    # mean value forward-filled. All bucket arithmetic exact integers.
    f"""WITH e AS (
          SELECT user_id,
                 (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % 3600) AS b,
                 value
          FROM {_EV}
        ),
        agged AS (
          SELECT user_id, b,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 {sql_dsum('value')} / NULLIF(COUNT(value), 0) AS hour_avg
          FROM e GROUP BY 1, 2
        ),
        sp AS (
          SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS b
          FROM (SELECT user_id, MIN(b) AS lo, MAX(b) AS hi
                FROM e GROUP BY user_id)
        )
        SELECT sp.user_id,
               make_timestamp(sp.b * CAST(1000000 AS BIGINT)) AS bucket_start,
               COALESCE(a.n_events, 0) AS n_events,
               a.hour_avg,
               LAST_VALUE(a.hour_avg IGNORE NULLS) OVER (
                   PARTITION BY sp.user_id ORDER BY sp.b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS hour_avg_filled
        FROM sp LEFT JOIN agged a ON a.user_id = sp.user_id AND a.b = sp.b""",
)
def resample_hourly_users(spark, sf_dir):
    """Irregular events resampled onto each user's dense hourly grid
    (operators/events.regularize_time_series): empty hours materialize
    with n_events = 0 and the last hourly mean carried forward — the
    irregular→regular step every bar-building pipeline starts with.
    Bucketing is exact integer epoch arithmetic; the hourly mean is an
    exact decimal-sum quotient, so the forward-fill is bit-stable."""
    ev = read_table(spark, sf_dir, "events")
    out = events.regularize_time_series(
        ev,
        ["user_id"],
        "ts",
        3600,
        {
            "n_events": F.count(F.lit(1)).cast("bigint"),
            "hour_avg": dmean(F.col("value")),
        },
        fill_cols=["hour_avg"],
        zero_cols=["n_events"],
    )
    return out.select(
        "user_id", "bucket_start", "n_events", "hour_avg", "hour_avg_filled"
    )


@register(
    "event_chain_components",
    # Oracle: the chain graph linking consecutive same-user events at
    # gap <= 30 min has exactly the sessions as its connected
    # components, so the component label (min event_id reachable) is
    # MIN(event_id) per (user, session) — expressible with plain
    # windows, no recursion needed.
    f"""WITH lagged AS (
          SELECT event_id, user_id, ts,
                 CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                          > 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_s
          FROM {_EV}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, event_id,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM lagged
        )
        SELECT event_id,
               CAST(MIN(event_id) OVER (PARTITION BY user_id, sid)
                    AS BIGINT) AS component_id
        FROM sess""",
)
def event_chain_components(spark, sf_dir):
    """Generic connected components (operators/graph.connected_components,
    alternating large-star/small-star — O(log n) rounds on any graph
    shape) exercised on a graph with LONG chains: consecutive same-user
    events within 30 min are linked, so components are exactly the gap-
    rule sessions and the oracle is a plain window query. Min-label
    propagation would need O(longest session) joins here; the star
    algorithm collapses a k-event chain in O(log k) rounds — the shape
    that matters when the input graph is a 100 TB event stream, where
    per-round cost must not depend on component diameter."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_id",
        F.lag("event_id").over(w).alias("__prev"),
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
        ).alias("__gap"),
    )
    edges = lagged.filter(
        F.col("__prev").isNotNull()
        & (F.col("__gap") <= 1800 * 1_000_000)
    ).select(F.col("__prev").alias("src"), F.col("event_id").alias("dst"))
    nodes = ev.select(F.col("event_id").alias("node"))
    from financial_data_lakehouse_pipeline__spark.operators import graph

    cc = graph.connected_components(edges, nodes)
    return cc.select(F.col("node").alias("event_id"), "component_id")


@register(
    "skew_summary_events",
    f"""WITH pk AS (
          SELECT CAST(user_id AS VARCHAR) AS k,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM {_EV} GROUP BY user_id
        ), s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(SUM(c) AS BIGINT) AS n_rows,
                 CAST(MAX(c) AS BIGINT) AS max_count,
                 CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                     AS top1_share,
                 CAST(MAX(c) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
                     / CAST(SUM(c) AS DOUBLE) AS skew_ratio
          FROM pk
        ), h AS (
          SELECT STRING_AGG(k, '|' ORDER BY c DESC, k) AS top_keys
          FROM (SELECT k, c FROM pk ORDER BY c DESC, k LIMIT 5)
        )
        SELECT s.*, h.top_keys FROM s, h""",
)
def skew_summary_events(spark, sf_dir):
    """One-row shuffle-key skew summary (operators/dq.key_skew_report)
    on the events user_id key — the machine-checkable pre-flight gate
    (complement of skew_report_events' per-key top-10 listing):
    key cardinality, hottest-key share, straggler multiplier
    (max/mean), and the top-5 hot keys. Scalar summary aggregation plus
    a TakeOrderedAndProject top-k branch (only top_k rows move), exact
    integers + single divisions throughout. top_keys is serialized to a
    '|'-joined string: the driver's canonicalizer cannot hash
    array-typed cells (corpus lint rejects complex output columns)."""
    ev = read_table(spark, sf_dir, "events")
    from financial_data_lakehouse_pipeline__spark.operators import dq

    rep = dq.key_skew_report(ev, ["user_id"], top_k=5)
    return rep.withColumn("top_keys", F.concat_ws("|", "top_keys"))


@register(
    "variant_props_rollup",
    # DuckDB's JSON extraction is the semantic twin of variant_get on
    # this single-key payload; all outputs exact integers.
    """SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT)
                AS k_sum,
              CAST(MIN(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT)
                AS k_min,
              CAST(MAX(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT)
                AS k_max
       FROM events
       WHERE props IS NOT NULL
       GROUP BY event_type""",
)
def variant_props_rollup(spark, sf_dir):
    """Semi-structured rollup through the Spark 4 VARIANT type:
    parse_json() ingests the raw props payload ONCE into the binary
    variant encoding and variant_get() extracts typed paths at
    query time — the open-schema alternative to from_json's
    rigid StructType (json_scalar_props is the closed-schema twin):
    new keys land without migrations and extraction stays
    predicate-pushdown-friendly. Typed '$.k' extraction aggregated
    per event type; all integers, no rounding."""
    ev = read_table(spark, sf_dir, "events")
    v = ev.filter(F.col("props").isNotNull()).select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("k_sum"),
        F.min("k").cast("bigint").alias("k_min"),
        F.max("k").cast("bigint").alias("k_max"),
    )
