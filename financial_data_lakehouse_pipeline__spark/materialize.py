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
  replicated  the same ``localCheckpoint`` at MEMORY_AND_DISK_2 — two
              replicas of every block, lineage truncated as in
              ``local``: a block outlives one executor that holds it,
              but losing both replicas fails the query instead of
              recomputing it. For spot/decommission regimes that lose
              executors one at a time.
  reliable    ``checkpoint(eager=False)`` to ``spark.checkpoint.dir`` —
              object-store-backed; survives any executor loss. The lake
              posture for corpus-sized pins such as the curation
              funnel's flag table.
  off         full lineage, no materialization — for plan inspection and
              storage-tighter-than-recompute regimes.

Every pin is a plan leaf (a ``LogicalRDD``): the consuming plan reads
the pinned rows and never carries the pinned subtree's plan. A
DataFrame-level ``persist`` is not one: every consumer prints its
cached plan again, so nested persisted pins grew the plan string
exponentially (the model-gated curation funnel reached 131M
characters), and it was measured SLOWER than recompute for these
subtrees (columnar cache build + serialized branch execution,
SCALE.md §13). The RDD-level local checkpoint skips the columnar
conversion and was measured faster than both (A/B at sf0.1: median
5.2 s recompute vs 2.7 s pinned for minhash_lsh_pairs).

No mode computes the pinned rows inside :func:`pin`, but under AQE
every mode except ``off`` still launches Spark jobs there: Spark 4's
lazy ``localCheckpoint``/``checkpoint`` calls ``execute()`` on the
physical plan, which materializes the AQE query stages (the shuffle-map
stages) below the pinned root. On a one-shuffle subtree ``pin``
launched 1 job in ``local``, ``replicated`` and ``reliable`` mode and 0
in ``off``. The pin moves that shuffle-map work from the first action
to the build; it does not add any.

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

from pyspark import StorageLevel
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
    if mode == "reliable":
        return df.checkpoint(eager=False)
    level = StorageLevel.MEMORY_AND_DISK_2 if mode == "replicated" else None
    return df.localCheckpoint(eager=False, storageLevel=level)


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

    Best-effort: the checkpoint blocks hang off the LogicalRDD's
    internal RDD (stable Spark API reached via py4j); any failure just
    leaves the GC-based cleanup."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass
