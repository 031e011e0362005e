"""Structured Streaming surface (engine extension — the reference is
batch-only, SURVEY.md §2.9; its daily-batch cadence maps to these
streaming equivalents when the lake goes incremental).

Each helper mirrors a batch operator in operators/events.py so a pipeline
can switch between batch and incremental execution without rewriting
query logic. Local tests drive these with file sources + availableNow
triggers (synchronous, exactly-once) and memory sinks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_from_parquet_dir(
    spark: SparkSession, path: str, schema: T.StructType, glob: str | None = None
) -> DataFrame:
    """File-based stream over a parquet directory (schema required — no
    inference on streams). ``path`` must be a DIRECTORY (Spark file streams
    reject single files); use ``glob`` (pathGlobFilter) to stream a subset
    of its files."""
    reader = spark.readStream.schema(schema)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(path)


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: dict[str, Column],
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling event-time window aggregation with a watermark for state
    cleanup / late-data bounds — streaming twin of
    operators.events.tumbling_window_agg."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration).alias("__w"), *keys)
        .agg(*[e.alias(o) for o, e in aggs.items()])
        .select(
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            *keys,
            *aggs.keys(),
        )
    )


def session_windows(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    aggs: dict[str, Column],
    watermark: str = "1 hour",
) -> DataFrame:
    """Native session windows (gap-merged) — streaming twin of
    operators.events.session_agg."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("__w"), *keys)
        .agg(*[e.alias(o) for o, e in aggs.items()])
        .select(
            F.col("__w.start").alias("session_start"),
            F.col("__w.end").alias("session_end"),
            *keys,
            *aggs.keys(),
        )
    )


def dedup_within_watermark(
    stream: DataFrame, keys: Sequence[str], ts_col: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming dedup on keys with bounded state — streaming twin of
    cleaning.dedup_by_subset (reference A11)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def record_highs_stateful(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    value_col: str,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: emit only the
    rows that strictly exceed their key's running maximum (record-breaking
    events — alert-on-new-high monitoring).

    This is the shape built-in streaming aggregations cannot express: the
    emission decision depends on per-key state evolved in event order, and
    the operator outputs ROWS, not aggregates. State is one double per key
    (the current max) — constant memory per key regardless of history
    length. Rows inside a micro-batch are sorted by (ts, tiebreak) before
    the state walk; across batches the carried max makes emission
    consistent with any batch slicing of an ordered feed.

    Output columns: (key, tiebreak, value) — deliberately excludes the
    timestamp so batch twins compare on exact types.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    fields = {f.name: f for f in stream.schema.fields}
    out_schema = T.StructType(
        [fields[key_col], fields[tiebreak_col], fields[value_col]]
    )
    state_schema = T.StructType([T.StructField("cur_max", T.DoubleType())])

    def fn(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values([ts_col, tiebreak_col], kind="mergesort")
        cur = state.get[0] if state.exists else None
        mask = []
        for v in pdf[value_col]:
            hit = cur is None or v > cur
            mask.append(hit)
            if hit:
                cur = float(v)
        state.update((cur,))
        yield pdf.loc[mask, [key_col, tiebreak_col, value_col]]

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming query over all currently-available input
    synchronously (availableNow trigger + memory sink); returns the result
    as a batch DataFrame. Test/backfill utility. Stateful row-emitting
    operators (applyInPandasWithState) require ``output_mode='append'``."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Column,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — streaming twin of
    operators.joins.enrich. The static side is broadcast-hinted: each
    micro-batch probes an executor-local hash map, so the unbounded
    stream side never shuffles (the only viable plan shape at scale —
    a shuffle join would re-exchange every micro-batch). Stateless →
    append output mode, no watermark needed."""
    return stream.join(F.broadcast(dim), on, how)


def sketch_stream(
    stream: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Streaming count-min sketch: the batch sketch build
    (operators/sketches.count_min_sketch) applied to a stream — explode
    each key into its depth cells, then an unbounded groupBy(d, w)
    count in complete mode.

    This works BECAUSE the sketch is linearly mergeable: cell counts
    add, so the incremental aggregation state after any prefix of
    batches equals the batch sketch of that prefix — streamed-to-
    completion output is bit-identical to the batch build (pinned in
    tests and by sharing the batch oracle). The state is depth×width
    counters — BOUNDED no matter how many rows or distinct keys flow
    through, which is the whole point of sketching a stream: an exact
    streaming groupBy(key) would grow state with key cardinality
    forever (or need a watermark it can't have for all-time totals).
    """
    from financial_data_lakehouse_pipeline__spark.operators import sketches

    return sketches.count_min_sketch(stream, key_col, depth=depth, width=width)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    equi: Column,
    span: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join within a bounded event-time interval:
    right rows match left rows with the same key whose timestamp falls in
    [left_ts, left_ts + span] — attribution joins (click → purchase
    within the hour) as both sides arrive incrementally.

    Both sides carry watermarks and the join condition bounds right_ts
    relative to left_ts, so each side's buffered state is watermark+span
    wide per key — the REQUIRED shape for an unbounded stream-stream
    join (without the time bound Spark must buffer both streams
    forever). Column names must be disjoint before the join (rename
    upstream)."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        equi
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {span}"))
    )
    return l.join(r, cond)


def upsert_sink(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    order_col: str,
    tiebreak_col: str,
    query_name: str = "upsert_sink",
):
    """Streaming MERGE sink via foreachBatch: each micro-batch is
    deduplicated to its latest row per key
    (cleaning.dedup_keep_latest on ``order_col`` then ``tiebreak_col``,
    both descending), then committed to the sources/acid.py table at
    ``path`` — ``create_table`` for the first batch, ``acid.merge``
    (update-or-insert, rewriting only the files that hold a matched
    key) after that. One committed version per batch: readers get
    snapshot isolation and time travel through ``acid.read_snapshot``.

    Commits carry no ``app_txn_id``; a replayed batch re-applies
    idempotently, as a latest-wins merge of the same rows.

    Returns the StreamingQuery (caller awaits termination).
    """
    from financial_data_lakehouse_pipeline__spark.operators.cleaning import (
        dedup_keep_latest,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        latest = dedup_keep_latest(
            batch_df, keys, [F.col(order_col).desc(), F.col(tiebreak_col).desc()]
        )
        _commit_batch(latest, path, keys)

    return (
        stream.writeStream.foreachBatch(handle)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def _commit_batch(
    batch_df: DataFrame,
    root: str,
    merge_keys: Sequence[str] | None,
    app_txn_id: str | None = None,
) -> int:
    """Commit one micro-batch to the sources/acid.py table at ``root``:
    ``create_table`` for the first batch, then ``append`` without
    ``merge_keys`` or ``merge`` on them."""
    from financial_data_lakehouse_pipeline__spark.sources import acid

    if acid.latest_version(root) < 0:
        return acid.create_table(batch_df, root, app_txn_id=app_txn_id)
    if merge_keys is None:
        return acid.append(batch_df, root, app_txn_id=app_txn_id)
    return acid.merge(
        batch_df.sparkSession, root, batch_df, merge_keys, app_txn_id=app_txn_id
    )


def acid_append_sink(
    stream: DataFrame,
    root: str,
    query_name: str = "acid_append_sink",
    merge_keys: Sequence[str] | None = None,
    checkpoint_location: str | None = None,
    allow_uncheckpointed: bool = False,
):
    """Exactly-once streaming sink into a sources/acid.py table via
    foreachBatch: each micro-batch commits with
    ``app_txn_id=f"{query_name}:{batch_id}"``, so a batch REPLAYED
    after a crash/restart (Structured Streaming's at-least-once
    foreachBatch contract) is an idempotent no-op — at-least-once
    delivery + idempotent transactional commit = exactly-once table
    state, the same recipe Delta's ``txnAppId``/``txnVersion`` uses.

    **The exactly-once contract REQUIRES ``checkpoint_location``.**
    Idempotency is keyed on batch_id, and Structured Streaming only
    guarantees a stable batch_id→content mapping when the query runs
    against a checkpoint; without one, a redelivered batch id can carry
    DIFFERENT rows (source files added between runs, listing-order
    drift) and would be silently no-opped — dropping data. Passing
    ``checkpoint_location=None`` therefore raises unless
    ``allow_uncheckpointed=True``, the explicit opt-in for callers that
    guarantee deterministic batching themselves (an immutable source
    dir replayed availableNow from scratch, e.g. the redelivery test).

    ``merge_keys=None`` appends (create on first batch); with keys,
    each batch MERGEs (update-or-insert — dedupe the batch to one row
    per key upstream, e.g. dedup_within_watermark). Readers get snapshot
    isolation and time travel for free (one committed version per
    batch); ``acid.optimize`` compacts the small files streaming
    appends accumulate.

    Returns the StreamingQuery (availableNow trigger; caller awaits).
    """
    if checkpoint_location is None and not allow_uncheckpointed:
        raise ValueError(
            "acid_append_sink without checkpoint_location breaks the "
            "exactly-once contract (batch ids are only stable under a "
            "checkpoint); pass checkpoint_location, or "
            "allow_uncheckpointed=True if the source is immutable and "
            "replays deterministically"
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch(batch_df, root, merge_keys, f"{query_name}:{batch_id}")

    writer = (
        stream.writeStream.foreachBatch(handle)
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    if checkpoint_location is not None:
        writer = writer.option("checkpointLocation", checkpoint_location)
    return writer.start()


def kmv_sink(
    stream: DataFrame,
    path: str,
    k: int,
    query_name: str = "kmv_sink",
):
    """Streaming KMV quantile-sketch sink via foreachBatch: each
    micro-batch's (h, v) register candidates merge with the committed
    register state by re-taking the k smallest hashes — and because
    KMV merge is EXACT (operators/sketches.kmv_merge), the final
    committed state equals the batch sketch of all data seen,
    regardless of micro-batch boundaries. State is k rows in the
    sources/acid.py table at ``path``: each batch reads the committed
    registers with ``acid.read_snapshot`` and commits the re-cut with
    ``acid.create_table`` (an overwrite commit, one version per batch).

    The input stream must already carry (h, v) columns — apply the
    kmv_quantile_sketch hash projection upstream; the bottom-k CUT
    happens here per batch (limit/window are not streamable, which is
    exactly why the sink owns the cut).

    Returns the StreamingQuery; read registers with
    ``acid.read_snapshot`` and finalize with
    operators/sketches.kmv_quantiles.
    """
    from financial_data_lakehouse_pipeline__spark.sources import acid

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        regs = batch_df.select("h", "v").orderBy("h").limit(int(k))
        if acid.latest_version(path) >= 0:
            # distinct: registers are a SET — a replayed micro-batch
            # re-delivers identical (h, v) rows, and a bottom-k over
            # the multiset would double-count them (idempotence)
            regs = (
                acid.read_snapshot(batch_df.sparkSession, path)
                .unionByName(regs)
                .distinct()
                .orderBy("h")
                .limit(int(k))
            )
        acid.create_table(regs, path)

    return (
        stream.writeStream.foreachBatch(handle)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def dedup_ingest_sink(
    stream: DataFrame,
    root: str,
    query_name: str = "dedup_ingest_sink",
    checkpoint_location: str | None = None,
    allow_uncheckpointed: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    on_existing_id: str = "drop",
):
    """Near-dup-filtered exactly-once document ingest: each micro-batch
    is deduplicated AGAINST THE ACCUMULATED CORPUS with
    :func:`operators.dedup.incremental_minhash_pairs` (corpus x corpus
    candidate pairs are never re-derived — per-batch cost follows the
    batch's collision volume, the property that keeps continuous ingest
    affordable at 100 TB), then WITHIN ITSELF (min-label clusters over
    the batch-internal pair graph keep one representative per cluster),
    and only the survivors commit to the sources/acid.py table under
    ``app_txn_id=f"{query_name}:{batch_id}"`` — so a replayed batch is
    an idempotent no-op and the table state is exactly-once even though
    foreachBatch is at-least-once (same contract as
    :func:`acid_append_sink`, whose checkpoint requirement this
    inherits).

    At production scale the corpus side would be a STORED minhash
    signature index maintained alongside the table (recomputing corpus
    shingles per batch is the only non-incremental cost left here —
    acceptable at test scale, an index read at lake scale; see
    incremental_minhash_pairs' docstring).

    Dedup policy: a batch doc near-dupping an EXISTING corpus doc is
    dropped (the corpus copy wins — ingest order is arrival order); a
    batch doc near-dupping only OTHER BATCH docs survives iff it is its
    cluster's min-id representative. Exact duplicates are a near-dup
    with jaccard 1.0, so no separate exact pass is needed.

    Same-id policy (``on_existing_id``) — a batch doc whose doc_id is
    ALREADY in the corpus is either at-least-once redelivery noise or a
    legitimate document update, and only the caller knows which:

    - ``"drop"`` (default): the corpus copy wins even when the text
      drifted — correct for redelivery, where the id IS the identity
      and a drifted payload is an upstream anomaly.
    - ``"update"``: the row is an UPDATE — its NEW text re-runs the
      near-dup checks against the rest of the corpus (the doc's own
      old row is excluded: new text near-dupping its previous version
      is the normal case, not a duplicate) and against the batch; a
      surviving update rewrites the corpus row via one ACID MERGE
      commit (matched ids update, fresh survivors insert — still
      exactly-once under the same app_txn_id), while a REJECTED update
      (near-dups another corpus doc, or loses its batch cluster) leaves
      the previously-ingested version in place. Known approximation:
      batch survivors are checked against the update's NEW text; when
      the update is rejected, the OLD text that remains was not
      re-checked against them.
    """
    from financial_data_lakehouse_pipeline__spark.operators import dedup
    from financial_data_lakehouse_pipeline__spark.sources import acid

    if checkpoint_location is None and not allow_uncheckpointed:
        raise ValueError(
            "dedup_ingest_sink without checkpoint_location breaks the "
            "exactly-once contract; pass checkpoint_location, or "
            "allow_uncheckpointed=True if the source is immutable and "
            "replays deterministically"
        )
    if on_existing_id not in ("drop", "update"):
        raise ValueError(
            f"on_existing_id must be 'drop' or 'update', got "
            f"{on_existing_id!r}"
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        txn = f"{query_name}:{batch_id}"
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint()
        if acid.latest_version(root) < 0:
            batch_ids = batch_df.select(id_col)
            pairs = dedup.minhash_lsh_pairs(
                batch_df, id_col, text_col, n, num_hashes, bands,
                threshold, max_bucket_size=max_bucket_size,
            )
            survivors_of_base = batch_df
        else:
            base = acid.scan(spark, root).select(id_col, text_col)
            inc_ids = batch_df.select(id_col).distinct()
            if on_existing_id == "drop":
                # Same-id guard: app_txn_id only de-dupes WHOLE-BATCH
                # replays; an at-least-once upstream can re-emit an
                # already-ingested doc_id inside a LATER batch.
                # incremental_minhash_pairs anti-joins same-id incoming
                # docs out of the pair computation (they are trivially
                # their own corpus twin, not a "pair"), so without this
                # filter they would never reach dup_vs_corpus and would
                # re-append as duplicate doc_id rows — mirror the
                # operator's internal guard on the batch itself.
                # Broadcast-probe idiom (no O(corpus) shuffle): probe
                # the corpus id column with the broadcast batch ids,
                # then anti-join the batch-bounded hit list back.
                existing = base.select(id_col).join(
                    F.broadcast(inc_ids), id_col, "left_semi"
                )
                batch_df = batch_df.join(
                    F.broadcast(existing), id_col, "left_anti"
                ).localCheckpoint()
                base_for_pairs = base
            else:  # "update"
                # Re-emitted ids are document updates: exclude their
                # OLD corpus rows from the base side so the new text is
                # near-dup-checked against the REST of the corpus, not
                # against its own previous version.
                batch_df = batch_df.dropDuplicates([id_col]).localCheckpoint()
                base_for_pairs = base.join(
                    F.broadcast(inc_ids), id_col, "left_anti"
                )
            batch_ids = batch_df.select(id_col)
            all_pairs = dedup.incremental_minhash_pairs(
                base_for_pairs, batch_df, id_col, text_col, n, num_hashes,
                bands, threshold, max_bucket_size=max_bucket_size,
            ).localCheckpoint()
            # pair sides that are batch members (vs corpus members)
            a_in = all_pairs.join(
                batch_ids.withColumnRenamed(id_col, "id_a"), "id_a",
                "left_semi",
            ).select("id_a", "id_b")
            b_in = all_pairs.join(
                batch_ids.withColumnRenamed(id_col, "id_b"), "id_b",
                "left_semi",
            ).select("id_a", "id_b")
            # batch docs near-dupping a CORPUS doc: drop (corpus wins)
            dup_vs_corpus = (
                b_in.join(a_in, ["id_a", "id_b"], "left_anti")
                .select(F.col("id_b").alias(id_col))
                .unionByName(
                    a_in.join(b_in, ["id_a", "id_b"], "left_anti")
                    .select(F.col("id_a").alias(id_col))
                )
                .distinct()
            )
            survivors_of_base = batch_df.join(dup_vs_corpus, id_col, "left_anti")
            # batch-internal pairs among the remaining docs
            pairs = (
                a_in.join(b_in, ["id_a", "id_b"], "left_semi")
                .join(
                    dup_vs_corpus.withColumnRenamed(id_col, "id_a"),
                    "id_a", "left_anti",
                )
                .join(
                    dup_vs_corpus.withColumnRenamed(id_col, "id_b"),
                    "id_b", "left_anti",
                )
                .select("id_a", "id_b")
            )
        survivors = dedup.dedup_keep_canonical(
            survivors_of_base, pairs, id_col
        )
        # "update" is one MERGE commit: matched ids rewrite in place,
        # fresh survivors insert — exactly-once via the same app_txn_id
        _commit_batch(
            survivors, root, [id_col] if on_existing_id == "update" else None, txn
        )

    writer = (
        stream.writeStream.foreachBatch(handle)
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    if checkpoint_location is not None:
        writer = writer.option("checkpointLocation", checkpoint_location)
    return writer.start()
