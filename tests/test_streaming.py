"""Streaming == batch equality: the Structured Streaming twin of the
tumbling-window aggregation must produce exactly the batch result when
driven to completion with an availableNow trigger."""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark import corpus


def _normalized(df):
    return sorted(
        tuple(str(c) for c in row)
        for row in df.select(*sorted(df.columns)).collect()
    )


def test_streaming_equals_batch_tumbling(spark, sf_dir):
    qs = corpus.queries()
    batch = qs["tumbling_hourly"](spark, sf_dir)
    stream = qs["streaming_hourly_counts"](spark, sf_dir)
    assert sorted(batch.columns) == sorted(stream.columns)
    assert _normalized(batch) == _normalized(stream)


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark twin of A11 runs and never yields
    more rows than the input."""
    import os

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.sources import normalize_event_ts

    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = st.stream_from_parquet_dir(spark, sf_dir, raw_schema, glob="events.parquet")
    stream = normalize_event_ts(stream)
    deduped = st.dedup_within_watermark(stream, ["user_id", "event_type"], "ts")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = spark.sql("SELECT COUNT(*) AS n FROM t_dedup_stream").collect()[0].n
    total = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    distinct = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert distinct <= n <= total


def test_record_highs_state_carries_across_batches(spark, tmp_path):
    """applyInPandasWithState record-high detector: with one file per
    micro-batch, the per-key running max must carry across batches — a
    value below batch 1's max but above batch 2's local values must NOT
    be emitted."""
    import os
    import time

    from pyspark.sql import Row
    from financial_data_lakehouse_pipeline__spark import streaming as st

    d = str(tmp_path / "feed")
    os.makedirs(d)

    def write_batch(name, rows, ts_base):
        pdf = spark.createDataFrame(
            [
                Row(user_id=1, ts=ts_base + i, event_id=eid, value=float(v))
                for i, (eid, v) in enumerate(rows)
            ]
        )
        pdf.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        # move the single part file into the feed dir under a stable name
        part = [f for f in os.listdir(tmp_path / name) if f.endswith(".parquet")][0]
        os.rename(tmp_path / name / part, os.path.join(d, f"{name}.parquet"))

    write_batch("b1", [(100, 5.0), (101, 3.0)], ts_base=1_000)
    time.sleep(1.1)  # file-source ordering is by modification time
    write_batch("b2", [(102, 4.0), (103, 7.0)], ts_base=2_000)

    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    stream = stream.withColumn("ts", F.timestamp_micros(F.col("ts")))
    out = st.record_highs_stateful(
        stream, key_col="user_id", ts_col="ts", tiebreak_col="event_id", value_col="value"
    )
    result = st.run_available_now(out, "t_record_highs", output_mode="append")
    emitted = sorted((r.event_id, r.value) for r in result.collect())
    # 100 (first), 103 (new high). 101 below max; 102=4.0 < carried max 5.0.
    assert emitted == [(100, 5.0), (103, 7.0)]


def test_enrich_stream_matches_batch_join(spark, tmp_path):
    """Stream-static join over a bounded stream equals the batch join;
    re-running with the same sink name in one session is safe."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark import streaming as st

    d = str(tmp_path / "feed")
    spark.createDataFrame(
        [Row(id=1, k=10), Row(id=2, k=20), Row(id=3, k=99)]
    ).write.mode("overwrite").parquet(d)
    dim = spark.createDataFrame(
        [Row(k=10, name="a"), Row(k=20, name="b")]
    )
    schema = spark.read.parquet(d).schema
    for _ in range(2):  # repeat-run probe: memory sink name reuse
        stream = spark.readStream.schema(schema).parquet(d)
        out = st.enrich_stream(stream, dim, "k")
        got = sorted(
            (r.id, r.name)
            for r in st.run_available_now(
                out, "t_enrich_stream", output_mode="append"
            ).collect()
        )
        assert got == [(1, "a"), (2, "b"), (3, None)]


def test_stream_interval_join_bounds(spark, tmp_path):
    """Only right rows inside [left_ts, left_ts + span] match; matches
    equal the batch interval join on the same data."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark import streaming as st

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def feed(name, rows):
        d = str(tmp_path / name)
        spark.createDataFrame(rows).write.mode("overwrite").parquet(d)
        schema = spark.read.parquet(d).schema
        return spark.readStream.schema(schema).parquet(d)

    clicks = feed(
        "clicks",
        [Row(click_id=1, user_id=7, click_ts=t0)],
    )
    purchases = feed(
        "purch",
        [
            Row(purchase_id=10, p_user_id=7, purchase_ts=t0 + dt.timedelta(minutes=30)),
            Row(purchase_id=11, p_user_id=7, purchase_ts=t0 + dt.timedelta(minutes=90)),  # outside span
            Row(purchase_id=12, p_user_id=8, purchase_ts=t0 + dt.timedelta(minutes=10)),  # other user
            Row(purchase_id=13, p_user_id=7, purchase_ts=t0 - dt.timedelta(minutes=5)),   # before click
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
    )
    got = sorted(
        (r.click_id, r.purchase_id)
        for r in st.run_available_now(
            out, "t_stream_interval_join", output_mode="append"
        ).collect()
    )
    assert got == [(1, 10)]


def test_stream_stream_left_outer_semantics(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: all INNER matches equal
    the batch join exactly, but unmatched left rows whose watermark
    window reaches past end-of-input are held in state and never emitted
    (the watermark only advances on new data — a structural property of
    Spark outer stream joins, not a bug in this engine). Pin both sides
    of that contract."""
    import os

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.sources import (
        normalize_event_ts,
        read_table,
    )

    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema

    def side(event_type, cols):
        s = normalize_event_ts(
            st.stream_from_parquet_dir(spark, sf_dir, raw_schema, glob="events.parquet")
        )
        return s.filter(F.col("event_type") == event_type).select(*cols)

    clicks = side(
        "click",
        [F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")],
    )
    purch = side(
        "purchase",
        [F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")],
    )
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 hour"))
    )
    j = (
        clicks.withWatermark("click_ts", "2 hours")
        .join(purch.withWatermark("p_ts", "2 hours"), cond, "left_outer")
    )
    q = (
        j.writeStream.format("memory")
        .queryName("t_lo_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT click_id, p_id FROM t_lo_join").collect()

    ev = read_table(spark, sf_dir, "events")
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    bcond = (
        (bc.user_id == bp.p_user)
        & (bp.p_ts >= bc.click_ts)
        & (bp.p_ts <= bc.click_ts + F.expr("INTERVAL 1 hour"))
    )
    batch = bc.join(bp, bcond, "left_outer").select("click_id", "p_id").collect()

    got_matched = {(r.click_id, r.p_id) for r in got if r.p_id is not None}
    batch_matched = {(r.click_id, r.p_id) for r in batch if r.p_id is not None}
    assert got_matched == batch_matched  # inner part: exact
    got_unmatched = {r.click_id for r in got if r.p_id is None}
    batch_unmatched = {r.click_id for r in batch if r.p_id is None}
    # outer part: a subset (tail rows held in state), never extras
    assert got_unmatched <= batch_unmatched
    assert len(batch_unmatched) - len(got_unmatched) < 50  # only the tail


def test_upsert_sink_multi_batch_versions(spark, tmp_path):
    """foreachBatch MERGE sink with one file per micro-batch: keys
    updated in batch 2 take the new value, untouched keys carry through,
    and each committed version is a complete readable acid snapshot
    (time travel): v0 is the first batch's create, v1 its merge."""
    import os
    import time

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.sources import acid

    feed = str(tmp_path / "feed")
    os.makedirs(feed)

    def write_batch(name, rows):
        tmp = tmp_path / ("_" + name)
        spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
            str(tmp)
        )
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(tmp / part, os.path.join(feed, f"{name}.parquet"))

    write_batch(
        "b1",
        [
            Row(k=1, ts=100, eid=1, v="a1"),
            Row(k=1, ts=200, eid=2, v="a2"),  # later ts wins within batch
            Row(k=2, ts=100, eid=3, v="b1"),
        ],
    )
    time.sleep(1.1)
    write_batch(
        "b2",
        [
            Row(k=2, ts=300, eid=4, v="b2"),  # updates k=2
            Row(k=3, ts=100, eid=5, v="c1"),  # inserts k=3
        ],
    )

    state = str(tmp_path / "state")
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
    )
    q = st.upsert_sink(
        stream, state, keys=["k"], order_col="ts", tiebreak_col="eid",
        query_name="t_upsert_sink",
    )
    q.awaitTermination()

    final = {r.k: r.v for r in acid.read_snapshot(spark, state).collect()}
    assert final == {1: "a2", 2: "b2", 3: "c1"}
    # time travel: version 0 is the committed state after batch 1
    v0 = {r.k: r.v for r in acid.read_snapshot(spark, state, version=0).collect()}
    assert v0 == {1: "a2", 2: "b1"}
    ops = [(r.version, r.op) for r in acid.history(spark, state).collect()]
    assert ops == [(0, "overwrite"), (1, "merge")]


def test_streaming_cms_multi_batch_equals_batch(spark, tmp_path):
    """Sketch mergeability across micro-batches: feed rows in 2 separate
    files (maxFilesPerTrigger=1 → 2 batches) and the final streaming
    sketch must equal the batch sketch of the full input — cell counts
    add, so incremental state composes exactly."""
    import os

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.operators import sketches

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    rows1 = [Row(user_id=i % 7, x=i) for i in range(50)]
    rows2 = [Row(user_id=(3 * i) % 11, x=i) for i in range(70)]
    spark.createDataFrame(rows1).coalesce(1).write.parquet(feed + "/b1")
    spark.createDataFrame(rows2).coalesce(1).write.parquet(feed + "/b2")

    batch = spark.read.parquet(feed + "/b1", feed + "/b2")
    want = {(r.d, r.w): r.cnt for r in sketches.count_min_sketch(
        batch, "user_id", depth=3, width=16).collect()}

    schema = batch.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed)
    )
    sk = st.sketch_stream(stream, "user_id", depth=3, width=16)
    got_df = st.run_available_now(sk, "t_streaming_cms")
    got = {(r.d, r.w): r.cnt for r in got_df.collect()}
    assert got == want


def test_streaming_observed_metrics_in_progress(spark, sf_dir):
    """DataFrame.observe on a stream surfaces per-micro-batch counters
    in query progress (observedMetrics) — free operational DQ on the
    serving path."""
    import os

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.sources import normalize_event_ts

    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = st.stream_from_parquet_dir(
        spark, sf_dir, raw_schema, glob="events.parquet"
    )
    stream = normalize_event_ts(stream).observe(
        "dq",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_null_value"),
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_observed_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    seen = {}
    for p in q.recentProgress:
        om = p["observedMetrics"] if isinstance(p, dict) else p.observedMetrics
        if om and "dq" in om:
            row = om["dq"]
            seen["n_rows"] = seen.get("n_rows", 0) + row["n_rows"]
    n_input = spark.table("t_observed_stream").count()
    assert seen.get("n_rows", 0) == n_input and n_input > 0


def test_kmv_sink_state_equals_batch_sketch(spark, tmp_path):
    """The committed streaming KMV state equals the batch sketch of all
    data (EXACT merge), and a re-run over the same data is idempotent
    (bottom-k of S ∪ S == bottom-k of S). Each batch is one acid
    overwrite commit of the re-cut registers."""
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.operators import sketches
    from financial_data_lakehouse_pipeline__spark.sources import acid

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    data = spark.range(500).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 13 % 101).cast("double").alias("val"),
    )
    data.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def run():
        stream = (
            spark.readStream.schema(schema).parquet(src)
            .select(
                F.md5(
                    F.concat_ws("|", F.lit("t"), F.col("id").cast("string"))
                ).alias("h"),
                F.col("val").alias("v"),
            )
        )
        q = st.kmv_sink(stream, state, k=32, query_name="t_kmv")
        q.awaitTermination()

    run()
    got1 = sorted(
        (r["h"], r["v"])
        for r in acid.read_snapshot(spark, state).collect()
    )
    batch = sorted(
        (r["h"], r["v"])
        for r in sketches.kmv_quantile_sketch(
            data, F.col("val"), F.col("id"), k=32, salt="t"
        ).collect()
    )
    assert got1 == batch and len(got1) == 32
    assert [r.op for r in acid.history(spark, state).collect()] == ["overwrite"]
    run()  # idempotent re-run
    got2 = sorted(
        (r["h"], r["v"])
        for r in acid.read_snapshot(spark, state).collect()
    )
    assert got2 == got1
    assert [r.op for r in acid.history(spark, state).collect()] == [
        "overwrite", "overwrite",
    ]


def test_acid_append_sink_exactly_once_replay(spark, tmp_path):
    """acid_append_sink: at-least-once foreachBatch + idempotent
    app_txn_id commits = exactly-once table state. Re-running the WHOLE
    feed (same query name, fresh stream, no Spark checkpoint — the
    worst-case full redelivery) replays every batch id and every commit
    no-ops: row count and version are unchanged."""
    import os

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.sources import acid

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    spark.createDataFrame(
        [Row(k=i, v=f"r{i}") for i in range(1, 4)]
    ).coalesce(1).write.parquet(feed + "/b1")
    spark.createDataFrame(
        [Row(k=i, v=f"r{i}") for i in range(4, 6)]
    ).coalesce(1).write.parquet(feed + "/b2")
    root = str(tmp_path / "acid_table")
    schema = spark.read.parquet(feed + "/b1").schema

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed + "/*")
        )
        q = st.acid_append_sink(
            stream, root, query_name="t_acid_once",
            allow_uncheckpointed=True,  # immutable feed, deliberate redelivery
        )
        q.awaitTermination()

    run()
    assert acid.read_snapshot(spark, root).count() == 5
    v_first = acid.latest_version(root)
    run()  # full redelivery: every batch must no-op
    assert acid.read_snapshot(spark, root).count() == 5
    assert acid.latest_version(root) == v_first


def test_acid_merge_sink_incremental(spark, tmp_path):
    """acid_append_sink with merge_keys + a Spark checkpoint: batch 2
    (delivered by a second availableNow run over the same checkpoint)
    MERGEs into the table — k=2 updated, k=3 inserted, k=1 untouched;
    one committed version per batch gives time travel across batches."""
    import os

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.sources import acid

    feed = str(tmp_path / "feed")
    chk = str(tmp_path / "chk")
    root = str(tmp_path / "acid_merge")
    os.makedirs(feed)
    spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b")]
    ).coalesce(1).write.parquet(feed + "/b1")
    schema = spark.read.parquet(feed + "/b1").schema

    def run():
        stream = spark.readStream.schema(schema).parquet(feed + "/*")
        q = st.acid_append_sink(
            stream, root, query_name="t_acid_merge", merge_keys=["k"],
            checkpoint_location=chk,
        )
        q.awaitTermination()

    run()
    assert {r.k: r.v for r in acid.read_snapshot(spark, root).collect()} \
        == {1: "a", 2: "b"}
    spark.createDataFrame(
        [Row(k=2, v="B"), Row(k=3, v="c")]
    ).coalesce(1).write.parquet(feed + "/b2")
    run()  # checkpointed: processes ONLY b2, as its own batch
    assert {r.k: r.v for r in acid.read_snapshot(spark, root).collect()} \
        == {1: "a", 2: "B", 3: "c"}
    # time travel to the pre-merge version
    assert {r.k: r.v
            for r in acid.read_snapshot(spark, root, version=0).collect()} \
        == {1: "a", 2: "b"}


def test_dedup_ingest_sink_filters_across_and_within_batches(spark, tmp_path):
    """Near-dup-filtered exactly-once ingest: batch 1 carries a planted
    within-batch near-dup (one survivor kept); batch 2 carries a near-dup
    of an ALREADY-INGESTED doc (dropped — corpus wins) plus a fresh doc
    (kept). Final ACID table = exactly the three survivors, one committed
    version per batch."""
    import os

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.sources import acid

    base = "the quick brown fox jumps over the lazy dog again and again today"
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    b1 = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base.replace("today", "tonight")),  # near-dup of 1
        Row(doc_id=3, text="completely different words about spark engines"),
    ]
    b2 = [
        Row(doc_id=4, text=base.replace("today", "tomorrow")),  # near-dup of ingested 1
        Row(doc_id=5, text="yet another unrelated document mentioning ducks"),
    ]
    spark.createDataFrame(b1).coalesce(1).write.parquet(feed + "/b1")
    spark.createDataFrame(b2).coalesce(1).write.parquet(feed + "/b2")

    table = str(tmp_path / "corpus_table")
    schema = spark.read.parquet(feed + "/b1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed)
    )
    q = st.dedup_ingest_sink(
        stream, table,
        query_name="t_dedup_ingest",
        checkpoint_location=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    got = {r.doc_id for r in acid.scan(spark, table).collect()}
    assert got == {1, 3, 5}
    # one committed version per micro-batch (0 = create, 1 = append)
    assert acid.latest_version(table) == 1
    # replay from scratch against the SAME table (fresh checkpoint, same
    # immutable source): app_txn_id makes both batches idempotent no-ops
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed)
    )
    q2 = st.dedup_ingest_sink(
        stream2, table,
        query_name="t_dedup_ingest",
        checkpoint_location=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination()
    assert acid.latest_version(table) == 1
    assert {r.doc_id for r in acid.scan(spark, table).collect()} == {1, 3, 5}


def test_dedup_ingest_sink_same_id_reemitted_in_later_batch(spark, tmp_path):
    """An at-least-once upstream can re-emit an already-ingested doc_id
    inside a LATER batch (different batch_id, so app_txn_id does not
    catch it). The sink must drop the same-id row instead of appending a
    duplicate doc_id: batch 2 re-emits doc 1 (identical text) and doc 3
    (same id, drifted text) alongside a fresh doc — only the fresh doc
    lands, and no doc_id appears twice in the table."""
    import os

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.sources import acid

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    b1 = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=3, text="completely different words about spark engines"),
    ]
    b2 = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=3, text="same id but the text has drifted since ingest"),
        Row(doc_id=7, text="yet another unrelated document mentioning ducks"),
    ]
    spark.createDataFrame(b1).coalesce(1).write.parquet(feed + "/b1")
    spark.createDataFrame(b2).coalesce(1).write.parquet(feed + "/b2")

    table = str(tmp_path / "corpus_table")
    schema = spark.read.parquet(feed + "/b1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed)
    )
    q = st.dedup_ingest_sink(
        stream, table,
        query_name="t_dedup_ingest_sameid",
        checkpoint_location=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    rows = acid.scan(spark, table).collect()
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids)), f"duplicate doc_id rows: {sorted(ids)}"
    assert set(ids) == {1, 3, 7}
    # the corpus copy won: doc 3 keeps its ORIGINAL text
    assert {r.text for r in rows if r.doc_id == 3} \
        == {"completely different words about spark engines"}


def test_dedup_ingest_sink_update_mode_merges_drifted_text(spark, tmp_path):
    """on_existing_id='update': a re-emitted doc_id with drifted text is
    a legitimate document UPDATE — the new text replaces the corpus row
    via one ACID MERGE commit (fresh survivors insert in the same
    commit), it is near-dup-checked against the REST of the corpus (not
    its own old version), and an update whose new text near-dups
    ANOTHER corpus doc is REJECTED (the previously-ingested version
    stays). Replays stay idempotent no-ops under app_txn_id."""
    import os

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.sources import acid

    base = "the quick brown fox jumps over the lazy dog again and again today"
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    b1 = [
        Row(doc_id=1, text=base),
        Row(doc_id=3, text="completely different words about spark engines"),
    ]
    b2 = [
        # legitimate update: drifted but still near-dup of its OWN old
        # text — must NOT self-reject (old row excluded from the check)
        Row(doc_id=1, text=base.replace("today", "tomorrow")),
        # fresh doc in the same batch: inserts via the same MERGE commit
        Row(doc_id=7, text="yet another unrelated document mentioning ducks"),
    ]
    spark.createDataFrame(b1).coalesce(1).write.parquet(feed + "/b1")
    spark.createDataFrame(b2).coalesce(1).write.parquet(feed + "/b2")

    table = str(tmp_path / "corpus_table")
    schema = spark.read.parquet(feed + "/b1").schema

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(feed)
        )
        q = st.dedup_ingest_sink(
            stream, table,
            query_name="t_dedup_ingest_upd",
            checkpoint_location=str(tmp_path / ckpt),
            on_existing_id="update",
        )
        q.awaitTermination()

    run("ckpt")
    rows = {r.doc_id: r.text for r in acid.scan(spark, table).collect()}
    # doc 1 carries the UPDATED text; exactly one row per id
    assert rows[1] == base.replace("today", "tomorrow")
    assert rows[3] == "completely different words about spark engines"
    assert rows[7] == "yet another unrelated document mentioning ducks"
    assert set(rows) == {1, 3, 7}
    v_after = acid.latest_version(table)
    # the update commit is CDF-visible: the version diff labels the
    # re-emitted id 'updated' and the fresh survivor 'inserted'; doc 3
    # is absent either way — its file is untouched by the MERGE, or a
    # verbatim copy-on-write rewrite classifies it 'unchanged' (dropped)
    cdf = {
        r.doc_id: r.change_type
        for r in acid.table_changes(
            spark, table, v_after - 1, v_after, keys=["doc_id"]
        ).collect()
    }
    assert cdf == {1: "updated", 7: "inserted"}
    # replay from a fresh checkpoint: both batches idempotent no-ops
    run("ckpt2")
    assert acid.latest_version(table) == v_after
    assert {r.doc_id: r.text
            for r in acid.scan(spark, table).collect()} == rows


def test_dedup_ingest_sink_update_mode_rejects_neardup_of_other_doc(
    spark, tmp_path
):
    """on_existing_id='update', rejection path: an update whose NEW text
    near-dups a DIFFERENT corpus doc is rejected — the doc keeps its
    previously-ingested text and no duplicate content enters the
    corpus."""
    import os

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark import streaming as st
    from financial_data_lakehouse_pipeline__spark.sources import acid

    base = "the quick brown fox jumps over the lazy dog again and again today"
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    b1 = [
        Row(doc_id=1, text=base),
        Row(doc_id=3, text="completely different words about spark engines"),
    ]
    b2 = [
        # update of 3 whose new text near-dups doc 1 -> rejected
        Row(doc_id=3, text=base.replace("today", "tonight")),
    ]
    spark.createDataFrame(b1).coalesce(1).write.parquet(feed + "/b1")
    spark.createDataFrame(b2).coalesce(1).write.parquet(feed + "/b2")

    table = str(tmp_path / "corpus_table")
    schema = spark.read.parquet(feed + "/b1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed)
    )
    q = st.dedup_ingest_sink(
        stream, table,
        query_name="t_dedup_ingest_rej",
        checkpoint_location=str(tmp_path / "ckpt"),
        on_existing_id="update",
    )
    q.awaitTermination()

    rows = {r.doc_id: r.text for r in acid.scan(spark, table).collect()}
    assert set(rows) == {1, 3}
    # the rejected update left the ORIGINAL text in place
    assert rows[3] == "completely different words about spark engines"


def test_dedup_ingest_sink_rejects_unknown_policy(spark, tmp_path):
    import pytest

    from financial_data_lakehouse_pipeline__spark import streaming as st

    with pytest.raises(ValueError, match="on_existing_id"):
        st.dedup_ingest_sink(
            None, str(tmp_path / "t"),
            checkpoint_location=str(tmp_path / "c"),
            on_existing_id="upsert",
        )
