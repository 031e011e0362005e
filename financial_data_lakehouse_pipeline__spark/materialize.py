"""Reuse pins: the one place the engine decides how a multiply-consumed
subtree is materialized.

An operator whose plan references the same subtree from several
branches (shingle tables feeding signatures and both verify sides,
loop-invariant edge tables feeding every iteration, a shared aggregate
probed by semi and anti joins, the curation funnel's flag table)
wraps it in :func:`pin`. Without it
Catalyst re-evaluates the whole subtree per branch (the round-13
minhash plan had 20 parquet scans / 38 exchanges for ONE logical pass).
:func:`release` frees a pin once nothing can reference it again.

The storage strategy is a deployment setting, chosen session-wide by
the ``SPARK_GRAFT_PIN_MODE`` environment variable (:data:`PIN_MODE_ENV`)
without touching any call site:

  local       (default) lazy RDD ``localCheckpoint`` — fastest; blocks
              are executor-local and NON-replicated with lineage
              truncated, so an executor loss during a query holding a
              corpus-sized pin kills the job (fine locally / on static
              executors; SCALE.md §23).
  replicated  MEMORY_AND_DISK_2 ``persist`` — two replicas AND lineage
              kept, for spot/decommission regimes where a lost pin must
              not kill a long query.
  reliable    ``checkpoint(eager=False)`` to ``spark.checkpoint.dir`` —
              object-store-backed; survives any executor loss. The lake
              posture for corpus-sized pins such as the curation
              funnel's flag table.
  off         full lineage, no materialization — for plan inspection and
              storage-tighter-than-recompute regimes.

A DataFrame-level MEMORY_AND_DISK ``persist`` was measured SLOWER than
recompute for these subtrees (columnar cache build + serialized branch
execution, SCALE.md §13); the RDD-level local checkpoint skips the
columnar conversion and was measured faster than both (A/B at sf0.1:
median 5.2 s recompute vs 2.7 s pinned for minhash_lsh_pairs).

No mode computes the pinned rows inside :func:`pin`, but under AQE
``local`` and ``reliable`` still launch Spark jobs there: Spark 4's lazy
``localCheckpoint``/``checkpoint`` calls ``execute()`` on the physical
plan, which materializes the AQE query stages (the shuffle-map stages)
below the pinned root. On a one-shuffle subtree ``pin`` launched 1 job
in ``local`` and in ``reliable`` mode and 0 in ``replicated`` and
``off``. The pin moves that shuffle-map work from the first action to
the build; it does not add any.

Direct ``localCheckpoint`` calls that are NOT reuse pins stay where they
are, because ``off`` must not disable them (tests/test_materialize.py
holds the engine to this list):

  operators/graph.py     loop-lineage cuts in connected_components,
                         k_core and pagerank's rank table
  operators/dedup.py     loop-lineage cuts in duplicate_clusters
  operators/text.py      BPE merge-loop cuts (bpe_learn_merges), and the
                         range-partition-id pin in zipf_fit, whose
                         correctness needs a single range assignment
  operators/mlfeat.py    the range-partition-id pin in
                         equal_frequency_bins
  streaming/__init__.py  foreachBatch snapshots of each micro-batch
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

PIN_MODE_ENV = "SPARK_GRAFT_PIN_MODE"


def pin(df: DataFrame) -> DataFrame:
    """Materialize a multiply-consumed subtree ONCE, with the storage
    strategy of the session's pin mode. The pinned rows are computed on
    first use inside the consuming job; the shuffle-map stages below them
    may run here (see the module docstring)."""
    mode = os.environ.get(PIN_MODE_ENV, "local")
    if mode == "off":
        return df
    if mode == "replicated":
        from pyspark import StorageLevel

        return df.persist(StorageLevel.MEMORY_AND_DISK_2)
    if mode == "reliable":
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def release(df: DataFrame) -> None:
    """Free a pin's executor blocks once no future computation can
    reference it (superseded loop state; a routed-away pre-pass table).
    Without this, cleanup waits on driver GC + ContextCleaner, so a
    long-lived session accumulates checkpoint blocks with unbounded
    residency.

    Sole-owner rule: the caller must hold the ONLY live handle to the
    pinned frame. A released ``local`` pin has its lineage truncated and
    its blocks gone, so any other handle to it (or any frame derived from
    it) fails on next use instead of recomputing.

    Best-effort: the localCheckpoint blocks hang off the LogicalRDD's
    internal RDD (stable Spark API reached via py4j); any failure just
    leaves the GC-based cleanup."""
    try:
        df.unpersist()  # covers the 'replicated' persist mode; no-op otherwise
    except Exception:
        pass
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass
