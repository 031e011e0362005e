"""Change-data / dimension-maintenance operators: snapshot diff and
SCD Type-2 history merge.

The reference refreshes its serving dimensions by full overwrite each
daily run (hive_views rebuild); these operators provide the incremental
lakehouse equivalents: diff two snapshots to a change feed, and maintain
a full-history dimension with validity intervals.

Scale shape: both are single keyed joins (shuffle on the business key) —
no windows over the full history, no driver state. SCD2 touches only the
OPEN slice of the dimension plus the update batch; closed history rows
stream through untouched (at 100 TB, partition the dimension by an
is_open flag or valid_to IS NULL so the closed slice isn't even read).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _ne(a: Column, b: Column) -> Column:
    """Null-safe inequality."""
    return ~a.eqNullSafe(b)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare: Sequence[str],
    change_col: str = "change_type",
) -> DataFrame:
    """Diff two snapshots of the same table into a change feed:
    one row per key present in either side, labeled
    'inserted' / 'deleted' / 'updated' / 'unchanged', carrying the NEW
    values for inserts/updates and the OLD values for deletes.

    One full-outer join on the key — the minimal-cost diff.
    """
    o = old.alias("__o")
    n = new.alias("__n")
    oc = lambda c: F.col(f"__o.{c}")  # noqa: E731
    nc = lambda c: F.col(f"__n.{c}")  # noqa: E731
    cond = [oc(k).eqNullSafe(nc(k)) for k in keys]
    j = o.join(n, cond, "full_outer")
    in_old = oc(keys[0]).isNotNull()
    in_new = nc(keys[0]).isNotNull()
    changed = F.lit(False)
    for c in compare:
        changed = changed | _ne(oc(c), nc(c))
    label = (
        F.when(in_new & ~in_old, "inserted")
        .when(in_old & ~in_new, "deleted")
        .when(changed, "updated")
        .otherwise("unchanged")
    )
    out_cols = [F.coalesce(nc(k), oc(k)).alias(k) for k in keys]
    out_cols += [
        F.when(in_new, nc(c)).otherwise(oc(c)).alias(c) for c in compare
    ]
    return j.select(*out_cols, label.alias(change_col))


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Apply an update batch to an SCD Type-2 dimension.

    ``dim`` carries full history: (keys, attrs, valid_from, valid_to) with
    valid_to NULL on the one open row per key. ``updates`` carries
    (keys, attrs, ts) — at most one row per key (pre-dedup with
    keep-latest if needed). Semantics per update row:

      * key has an open row with DIFFERENT attrs -> close it
        (valid_to = ts) and insert a new open row (valid_from = ts)
      * key has an open row with identical attrs -> no-op
      * key unknown -> insert a new open row

    Closed history rows pass through untouched. Implementation is one
    left join of the open slice against the update batch plus one union —
    the same shape Delta MERGE compiles to, minus the transaction log.
    """
    closed = dim.filter(F.col(valid_to).isNotNull())
    open_rows = dim.filter(F.col(valid_to).isNull())

    u = updates.alias("__u")
    o = open_rows.alias("__d")
    uc = lambda c: F.col(f"__u.{c}")  # noqa: E731
    dc = lambda c: F.col(f"__d.{c}")  # noqa: E731

    changed = F.lit(False)
    for a in attrs:
        changed = changed | _ne(dc(a), uc(a))

    j = o.join(u, [dc(k).eqNullSafe(uc(k)) for k in keys], "full_outer")
    has_open = dc(keys[0]).isNotNull()
    has_upd = uc(keys[0]).isNotNull()

    # Surviving version of each open row: closed when superseded.
    kept_open = j.filter(has_open).select(
        *[dc(k).alias(k) for k in keys],
        *[dc(a).alias(a) for a in attrs],
        dc(valid_from).alias(valid_from),
        F.when(has_upd & changed, uc(ts_col)).otherwise(None).alias(valid_to),
    )
    # New open rows: updates for new keys or with changed attrs.
    fresh = j.filter(has_upd & (~has_open | changed)).select(
        *[uc(k).alias(k) for k in keys],
        *[uc(a).alias(a) for a in attrs],
        uc(ts_col).alias(valid_from),
        F.lit(None).cast(dim.schema[valid_to].dataType).alias(valid_to),
    )
    return closed.select(*kept_open.columns).unionByName(kept_open).unionByName(fresh)


def merge_upsert(
    target: DataFrame, updates: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """MERGE INTO semantics on plain DataFrames: WHEN MATCHED THEN UPDATE
    ALL, WHEN NOT MATCHED THEN INSERT ALL — updates win on key collision,
    untouched target rows pass through unchanged.

    Equivalent relational form (and the plan this compiles to):
    ``updates UNION ALL (target LEFT ANTI JOIN updates ON keys)`` — one
    keyed shuffle, no full-table rewrite logic. The transactional form
    is sources.acid.merge; here rewrite-in-place lands via the
    partitioned writer, ideally partition-pruned to only the partitions
    the update batch touches.

    Both inputs must share a schema (enforced by unionByName).
    """
    cond = [target[k].eqNullSafe(updates[k]) for k in keys]
    untouched = target.join(updates, cond, "left_anti")
    return untouched.unionByName(updates)
