"""Parquet-native ACID table format ("mini-Delta") — the lakehouse
transaction layer the reference's managed warehouse tables imply
(reference sql/hive_schemas.sql:78-106: managed tables rebuilt by full
overwrite each daily run) re-expressed as an incremental, versioned,
optimistically-concurrent log over plain parquet, with no dependency
beyond Spark itself; :func:`merge` is its MERGE upsert.

Layout (all under the table root):

    <root>/_txn_log/00000000.json      one JSON doc per committed version
    <root>/data/v<N>-<token>/part-*.parquet   data written by commit N

Each log entry is a self-contained action record::

    {"version": N, "op": "overwrite|append|merge|delete",
     "adds": [relative parquet paths...],
     "removes": [relative parquet paths...],
     "schema": "<json schema of the table after this commit>",
     "commit_ts": <float unix seconds>, "app_txn_id": "..."|null,
     "op_params": {...},
     "partition_by": [partition columns as of this commit],
     "partitions": {rel path: {col: "hive string value"|null}}}

Hive-partitioned tables (``create_table(partition_by=[...])`` — the
reference lake's signature layout, data_cleaning.py:127
``partitionBy('year','month','day')``): data files land under
``col=val/`` dirs inside the version dir, partition values are logged
per file, and ``pruned_files``/``scan`` prune by partition predicate
BEFORE min/max stats — whole partitions drop at metadata cost, stats
skipping composes inside the survivors. Partition columns live in the
file PATHS, not the footers; snapshot reads re-inject them via one
``basePath`` scan per version dir (never per partition).

Snapshot at version V = replay entries 0..V: live files = union(adds)
minus union(removes). This is Delta's add/remove-action model (Armbrust
et al., "Delta Lake: High-Performance ACID Table Storage over Cloud
Object Stores", VLDB 2020) including its checkpoints: every
CHECKPOINT_EVERY commits the live-file set is materialized to
``<root>/_txn_log/<N>.checkpoint`` so snapshot resolution reads one
checkpoint + the log suffix instead of replaying O(versions) entries.
Checkpoints are derived data — unparsable/missing ones silently fall
back to full replay; the log itself stays metadata-scale (file lists,
not data) either way.

ACID properties and how each is provided:

- **Atomicity**: data files are fully written BEFORE the log entry; the
  log entry's full payload is written (and fsynced) to a temp file
  first, then published with ``os.link(tmp, entry)`` — an atomic,
  fails-if-exists operation on POSIX (on S3-class object stores this
  maps to a putIfAbsent/conditional-put). A torn/empty entry can
  therefore never exist at a committed path: the path appears only
  with its complete payload. A crash between data write and log write
  leaves orphan files that ``vacuum`` removes (after a retention
  window); readers never see them because only logged files are
  scanned. Defense-in-depth: ``_read_log`` additionally treats an
  unparsable TRAILING entry (e.g. a table copied mid-write by a
  non-atomic tool) as uncommitted and ignores it, while failing loudly
  on mid-log corruption.
- **Consistency**: every commit records the post-commit schema;
  ``append``/``merge`` reject schema drift (unionByName would silently
  widen otherwise). Drift is judged modulo nullability — a parquet
  re-read of a snapshot comes back all-nullable, which must not be
  rejected; the recorded table schema widens a field to nullable once
  any committed batch declares it nullable.
- **Isolation**: readers resolve a snapshot from immutable log entries —
  a concurrent writer can only ADD a new version file, never mutate one,
  so a reader's file list is stable for the lifetime of its query
  (snapshot isolation).
- **Durability/concurrency**: read-modify-write ops (merge, delete)
  carry the version they READ; commit fails with
  :class:`ConcurrentCommitError` if any version landed since
  (optimistic concurrency, write-write conflict detection at table
  granularity — Delta does file-granularity re-validation; table
  granularity is the honest conservative cut here).
- **Idempotent replay**: a commit may carry ``app_txn_id``; committing
  an id already present anywhere in the log is a silent no-op — the
  exactly-once contract foreachBatch sinks need on retry.

This log is the engine's one table format: every streaming sink that
keeps a versioned table (streaming/__init__.py's append, MERGE-upsert,
KMV and dedup-ingest sinks) commits through it, and every read resolves
its snapshot once, in :func:`_snapshot`.

Scale shape: MERGE is file-pruned copy-on-write — the update batch's
keys are semi-joined against the snapshot WITH file attribution
(``_metadata.file_path``) to find only the data files that contain a
matched key; untouched files survive the commit by reference (zero data
movement), touched files are rewritten merged with their slice of the
updates. At 100 TB with key-clustered files this touches the same
files Delta would.
"""

from __future__ import annotations

import json
import operator
import os
import re
import time
import uuid
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_lakehouse_pipeline__spark.sources.readers import (
    scan_parallelism_floor,
)

_LOG_DIR = "_txn_log"
_DATA_DIR = "data"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the version this transaction targeted."""


class NoSuchVersionError(ValueError):
    """Requested version/timestamp predates the table or doesn't exist."""


class CorruptLogError(RuntimeError):
    """A NON-trailing log entry is unparsable — the table needs repair.

    (A torn trailing entry is tolerated as uncommitted; corruption in
    the middle of the log means history itself is damaged and no
    snapshot after the corrupt version can be trusted.)"""


def _file_uri_to_rel(uri: str, abs_root: str) -> str:
    """Convert a ``_metadata.file_path`` URI into a path relative to the
    table root.

    Spark returns URL-encoded URIs: a partition directory
    ``region=north america`` surfaces as ``.../region=north%20america/...``
    and a hive-escaped value (``emea%3Awest`` on disk for ``emea:west``)
    is double-encoded to ``emea%253Awest``. One ``unquote`` after
    stripping the scheme recovers the on-disk path (the hive escaping
    itself is part of the on-disk name and must survive)."""
    from urllib.parse import unquote

    path = uri[len("file:"):] if uri.startswith("file:") else uri
    return os.path.relpath(unquote(path), abs_root)


def _log_dir(root: str) -> str:
    return os.path.join(root, _LOG_DIR)


def _entry_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:08d}.json")


def _entry_shape_ok(obj, expected_version: int) -> bool:
    """True when ``obj`` has the shape of a committed log entry at
    ``expected_version``. A foreign file that merely parses as JSON
    (e.g. `{}` dropped by other tooling) must NOT be mistaken for a
    commit: every entry this module writes carries these keys."""
    return (
        isinstance(obj, dict)
        and obj.get("version") == expected_version
        and isinstance(obj.get("op"), str)
        and isinstance(obj.get("adds"), list)
        and isinstance(obj.get("removes"), list)
    )


def _read_log(root: str) -> list[dict]:
    """All committed entries, version order. Ignores foreign files.

    An unparsable or wrong-shaped TRAILING entry is skipped as
    uncommitted (our own commits publish via atomic link so this only
    arises from foreign tooling — e.g. a mid-write rsync of the table);
    an unparsable entry anywhere BEFORE the last one raises
    :class:`CorruptLogError` because every later snapshot would
    silently resolve wrong."""
    d = _log_dir(root)
    if not os.path.isdir(d):
        return []
    # ONLY canonical entry names: a crashed commit's stale .tmp-*.json
    # (which sorts before the digits) or a checkpoint file must never be
    # parsed as a log entry
    names = sorted(n for n in os.listdir(d) if re.fullmatch(r"\d{8}\.json", n))
    entries = []
    for i, name in enumerate(names):
        try:
            with open(os.path.join(d, name)) as f:
                obj = json.load(f)
            if not _entry_shape_ok(obj, int(name[:8])):
                raise ValueError("valid JSON but not a log entry")
            entries.append(obj)
        except (json.JSONDecodeError, ValueError) as exc:
            if i == len(names) - 1:
                break  # torn/foreign trailing entry: never committed
            raise CorruptLogError(
                f"log entry {name} in {d} is unparsable or wrong-shaped "
                "and is not the trailing entry — the table history is "
                "damaged"
            ) from exc
    entries.sort(key=lambda e: e["version"])
    return entries


_NULLNESS_KEYS = ("nullable", "containsNull", "valueContainsNull")


def _strip_nullability(node):
    """Recursive copy of a schema-JSON node with every nullability flag
    removed (``nullable`` / ``containsNull`` / ``valueContainsNull``),
    so two schemas can be compared modulo nullability — a parquet
    re-read of a snapshot comes back all-nullable and must still count
    as "the same schema"."""
    if isinstance(node, dict):
        return {
            k: _strip_nullability(v)
            for k, v in node.items()
            if k not in _NULLNESS_KEYS
        }
    if isinstance(node, list):
        return [_strip_nullability(v) for v in node]
    return node


def _widen_nullability(committed, incoming):
    """The committed schema JSON with nullability flags OR'd with the
    incoming batch's: once any committed batch declares a field
    nullable, the recorded table schema stays nullable (reading
    non-null-declared files with a nullable schema is always safe; the
    reverse is not). Only called after the stripped schemas compared
    equal, so structure/order line up."""
    if isinstance(committed, dict):
        out = {}
        for k, v in committed.items():
            iv = incoming.get(k) if isinstance(incoming, dict) else None
            if k in _NULLNESS_KEYS:
                out[k] = bool(v) or bool(iv)
            else:
                out[k] = _widen_nullability(v, iv)
        return out
    if (
        isinstance(committed, list)
        and isinstance(incoming, list)
        and len(committed) == len(incoming)
    ):
        return [_widen_nullability(c, i) for c, i in zip(committed, incoming)]
    return committed


def _check_drift(op: str, incoming: dict, committed: dict) -> None:
    if _strip_nullability(incoming) != _strip_nullability(committed):
        raise ValueError(
            f"{op} schema drift: incoming schema does not match the "
            "table schema at the latest version (compared modulo "
            "nullability)"
        )


def latest_version(root: str) -> int:
    """Highest committed version, or -1 for a non-existent table."""
    entries = _read_log(root)
    return entries[-1]["version"] if entries else -1


def _resolve_files(
    entries: Sequence[dict],
    version: int,
    base_files: Sequence[str] = (),
    from_version: int = -1,
) -> list[str]:
    """Live files at ``version``: start from ``base_files`` (a
    checkpoint's live set as of ``from_version``) and replay only the
    entries in (from_version, version]."""
    live: set[str] = set(base_files)
    for e in entries:
        if e["version"] <= from_version:
            continue
        if e["version"] > version:
            break
        live -= set(e.get("removes", ()))
        live |= set(e.get("adds", ()))
    return sorted(live)


# ---- checkpoints: O(1) snapshot resolution at many-commit scale ----
#
# A checkpoint materializes the live-file set (and schema) as of a
# version, so snapshot resolution reads ONE checkpoint + the log suffix
# instead of replaying every entry since version 0 — Delta's parquet
# checkpoint, as promised by the module docstring. Checkpoints are
# DERIVED data: unparsable/missing ones are ignored (full replay is
# always correct), they are written last-writer-wins via atomic
# os.replace, and one is taken automatically every CHECKPOINT_EVERY
# commits (best-effort, never fails the commit).

CHECKPOINT_EVERY = 10


def _checkpoint_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:08d}.checkpoint")


def _latest_checkpoint(root: str, max_version: int) -> dict | None:
    """Newest parsable checkpoint with version <= max_version."""
    d = _log_dir(root)
    if not os.path.isdir(d):
        return None
    names = sorted(
        (n for n in os.listdir(d) if re.fullmatch(r"\d{8}\.checkpoint", n)),
        reverse=True,
    )
    for name in names:
        v = int(name.split(".")[0])
        if v > max_version:
            continue
        try:
            with open(os.path.join(d, name)) as f:
                cp = json.load(f)
            if cp.get("version") == v and isinstance(cp.get("files"), list):
                return cp
        except (json.JSONDecodeError, ValueError, OSError):
            continue  # derived data: fall back to the next older one
    return None


def _resolve(root: str, entries: Sequence[dict], version: int) -> list[str]:
    """Checkpoint-accelerated :func:`_resolve_files`."""
    cp = _latest_checkpoint(root, version)
    if cp is None:
        return _resolve_files(entries, version)
    return _resolve_files(
        entries, version, base_files=cp["files"], from_version=cp["version"]
    )


class _Snapshot(NamedTuple):
    """One resolved table version: the log read it was resolved from,
    the version, its live files, its schema JSON (as logged) and its
    partition columns."""

    entries: list[dict]
    version: int
    files: list[str]
    schema_json: str
    partition_by: list[str]

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))


def _snapshot(
    root: str,
    version: int | None = None,
    timestamp: float | None = None,
    entries: list[dict] | None = None,
) -> _Snapshot:
    """Resolve the table at ``version``, or at the last commit with
    commit_ts <= ``timestamp``, or at the head — from ONE log read
    (pass ``entries`` to resolve a second version from the same read).
    Raises :class:`NoSuchVersionError` for a missing table or version."""
    if entries is None:
        entries = _read_log(root)
    if not entries:
        raise NoSuchVersionError(f"no table at {root}: create_table first")
    if version is None and timestamp is not None:
        eligible = [e["version"] for e in entries if e["commit_ts"] <= timestamp]
        if not eligible:
            raise NoSuchVersionError(
                f"timestamp {timestamp} predates the first commit"
            )
        version = max(eligible)
    if version is None:
        version = entries[-1]["version"]
    entry = next((e for e in entries if e["version"] == version), None)
    if entry is None:
        raise NoSuchVersionError(f"version {version} not in log")
    return _Snapshot(
        entries,
        version,
        _resolve(root, entries, version),
        entry["schema"],
        list(entry.get("partition_by") or []),
    )


def checkpoint(root: str, version: int | None = None) -> int:
    """Write a live-file-set checkpoint as of ``version`` (default
    latest). Returns the checkpointed version. Atomic last-writer-wins
    publish (os.replace) — checkpoints are derived, so a concurrent
    duplicate write of the same version is harmless."""
    snap = _snapshot(root, version)
    payload = json.dumps(
        {
            "version": snap.version,
            "files": snap.files,
            "schema": snap.schema_json,
        },
        sort_keys=True,
    ).encode()
    tmp = os.path.join(_log_dir(root), f".tmpcp-{uuid.uuid4().hex}")
    with open(tmp, "wb") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _checkpoint_path(root, snap.version))
    return snap.version


def _commit(
    root: str,
    op: str,
    adds: Sequence[str],
    removes: Sequence[str],
    schema_json: str | None,
    expected_version: int | None = None,
    app_txn_id: str | None = None,
    op_params: dict | None = None,
    stats: dict | None = None,
    schema_fn=None,
    partition_by: Sequence[str] | None = None,
    partitions: dict | None = None,
) -> int:
    """Atomically publish the next log entry; the ``os.link`` of the
    fully-written, fsynced temp file to the versioned name IS the
    commit point (atomic + fails-if-exists on POSIX — putIfAbsent).
    Raises ConcurrentCommitError on any lost race. Because the payload
    exists in full before the committed path does, a crash at any
    instant can never leave a torn entry at a committed path.

    ``schema_fn`` (exclusive with ``schema_json``) derives the schema
    to stamp FROM THE SAME LOG READ that computes the next version:
    it is called with the entries list and must return the schema JSON
    string (raising SchemaDriftError etc. as needed). This closes the
    TOCTOU where a caller validates against one log head while the
    link lands on a different one — validation and versioning observe
    a single read."""
    os.makedirs(_log_dir(root), exist_ok=True)
    entries = _read_log(root)
    if app_txn_id is not None and any(
        e.get("app_txn_id") == app_txn_id for e in entries
    ):
        return -1  # idempotent replay: already committed, no-op
    current = entries[-1]["version"] if entries else -1
    if expected_version is not None and current != expected_version:
        raise ConcurrentCommitError(
            f"read version {expected_version} but table is at {current}: "
            "re-read the snapshot and retry the transaction"
        )
    if schema_fn is not None:
        schema_json = schema_fn(entries)
    version = current + 1
    entry = {
        "version": version,
        "op": op,
        "adds": list(adds),
        "removes": list(removes),
        "schema": schema_json,
        "commit_ts": time.time(),
        "app_txn_id": app_txn_id,
        "op_params": op_params or {},
        "stats": stats or {},
        # table partitioning as of this commit + per-added-file partition
        # values (strings, hive encoding) — metadata-scale, lets
        # pruned_files prune whole partitions without touching storage
        "partition_by": list(partition_by or []),
        "partitions": partitions or {},
    }
    payload = json.dumps(entry, sort_keys=True).encode()
    tmp = os.path.join(
        _log_dir(root), f".tmp-{version:08d}-{uuid.uuid4().hex}.json"
    )
    with open(tmp, "wb") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _entry_path(root, version))
    except FileExistsError as exc:
        # Distinguish a lost race (a VALID entry occupies the path —
        # retryable) from a torn/foreign file squatting on it (the
        # trailing-torn entry _read_log tolerates for readers). The
        # latter is NOT retryable: every future _commit would compute
        # this same version and spin forever. Raise CorruptLogError so
        # retry loops stop; repair with repair_torn_log(). Shape is
        # validated, not just JSON-parsability: a foreign file that
        # happens to parse (e.g. `{}`) would otherwise spin append's
        # retry loop forever, since _read_log skips it and every retry
        # recomputes the same squatted version.
        try:
            with open(_entry_path(root, version)) as f:
                squatter = json.load(f)
            if not _entry_shape_ok(squatter, version):
                raise ValueError("valid JSON but not a log entry")
        except (json.JSONDecodeError, ValueError):
            raise CorruptLogError(
                f"log path for version {version} in {_log_dir(root)} is "
                "occupied by a torn or foreign file (unparsable, or JSON "
                "without log-entry shape), wedging all writers — run "
                "acid.repair_torn_log(root) to remove it, then retry "
                "the write"
            ) from exc
        except OSError:
            pass  # vanished between link and open: a real race, retry
        raise ConcurrentCommitError(
            f"version {version} was committed concurrently"
        ) from exc
    finally:
        os.unlink(tmp)
    if CHECKPOINT_EVERY and version > 0 and version % CHECKPOINT_EVERY == 0:
        try:  # checkpoints are derived: never fail a committed txn
            checkpoint(root, version)
        except OSError:
            pass
    return version


def _already_applied(entries: Sequence[dict], app_txn_id: str | None) -> bool:
    """True when ``app_txn_id`` is already in the log — the write-path
    entry points short-circuit replays BEFORE doing any data write
    (``_commit`` re-checks under the race, so this is purely an
    optimization that avoids staging orphan files on retried batches)."""
    return app_txn_id is not None and any(
        e.get("app_txn_id") == app_txn_id for e in entries
    )


def _collect_stats(root: str, rels: Sequence[str]) -> dict:
    """Per-file column min/max/null-count from the parquet FOOTERS of
    freshly written files (one local metadata read per file — the files
    were just written by this writer, so this adds no remote I/O at
    commit time; Delta computes the same stats inline during the
    write). Only JSON-safe scalar types are recorded (int/float/str/
    bool); other columns are simply absent — readers treat a missing
    stat as "cannot prune".

    A column whose stats are missing or unusable in ANY row group of a
    file (writer dropped min/max, e.g. oversized strings; byte stats
    that fail UTF-8 decode; non-JSON-scalar logical types) is POISONED
    for that file: no stats are recorded for it at all, Delta-style.
    Recording the other row groups' range would understate the file's
    true range and let ``pruned_files`` skip a file that actually
    contains matching rows — pruning must stay conservative."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for rel in rels:
        try:
            md = pq.ParquetFile(os.path.join(root, rel)).metadata
        except OSError:
            continue
        cols: dict[str, dict] = {}
        poisoned: set[str] = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                name = c.path_in_schema
                st = c.statistics
                if st is None or not st.has_min_max:
                    poisoned.add(name)
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        poisoned.add(name)
                        continue
                if not isinstance(mn, (int, float, str, bool)):
                    poisoned.add(name)
                    continue
                cur = cols.get(name)
                nulls = int(st.null_count or 0)
                if cur is None:
                    cols[name] = {"min": mn, "max": mx, "nulls": nulls}
                else:
                    cur["min"] = min(cur["min"], mn)
                    cur["max"] = max(cur["max"], mx)
                    cur["nulls"] += nulls
        for name in poisoned:
            cols.pop(name, None)
        if cols:
            out[rel] = cols
    return out


#: supported pruning operators: comparisons against a literal, and
#: ``in`` (set membership) against a list of literals
_PRUNE_OPS = ("==", ">=", "<=", ">", "<", "in")


def _file_may_match(stats: dict | None, col: str, op: str, val) -> bool:
    """Conservative per-file test: False ONLY when the footer stats
    PROVE no row in the file satisfies (col op val). Missing stats →
    True (cannot prune)."""
    if not stats or col not in stats:
        return True
    s = stats[col]
    mn, mx = s.get("min"), s.get("max")
    if mn is None or mx is None:
        return True
    try:
        if op == "==":
            return mn <= val <= mx
        if op == ">=":
            return mx >= val
        if op == ">":
            return mx > val
        if op == "<=":
            return mn <= val
        if op == "<":
            return mn < val
    except TypeError:
        return True  # incomparable types: never prune on a guess
    return True


def _partition_may_match(pvals: dict | None, col: str, op: str, val) -> bool:
    """Partition-value test: the file holds EXACTLY one value of a
    partition column, so unlike min/max stats this is an exact test,
    not a range overlap. Missing values → True (cannot prune); a NULL
    partition value can never satisfy a comparison predicate (SQL
    three-valued logic) → always pruned. Logged values are hive-encoded
    strings; they are coerced to the PREDICATE literal's type so int/
    float/bool/str (and ISO dates, which compare lexicographically)
    all prune correctly — a failed coercion never prunes."""
    if not pvals or col not in pvals:
        return True
    sv = pvals[col]
    if sv is None:
        return False
    try:
        if isinstance(val, bool):
            pv = sv.lower() == "true"
        elif isinstance(val, int):
            pv = int(sv)
        elif isinstance(val, float):
            pv = float(sv)
        else:
            pv = sv
    except (ValueError, AttributeError):
        return True
    try:
        if op == "==":
            return pv == val
        if op == ">=":
            return pv >= val
        if op == ">":
            return pv > val
        if op == "<=":
            return pv <= val
        if op == "<":
            return pv < val
    except TypeError:
        return True
    return True


def _may_match(
    pvals: dict | None, stats: dict | None, col: str, op: str, val
) -> bool:
    """One predicate against one file's logged partition values, then
    its min/max stats. ``in`` keeps the file if any listed value may
    match under ``==``."""
    if op == "in":
        return any(_may_match(pvals, stats, col, "==", v) for v in val)
    return _partition_may_match(pvals, col, op, val) and _file_may_match(
        stats, col, op, val
    )


def _prune(snap: _Snapshot, predicates: Sequence[tuple]) -> list[str]:
    """The snapshot's live files that every predicate may match,
    judged from the stats and partition values in the same log read."""
    for _, op, _v in predicates:
        if op not in _PRUNE_OPS:
            raise ValueError(f"unsupported prune op: {op}")
    stats_by_file: dict[str, dict] = {}
    parts_by_file: dict[str, dict] = {}
    for e in snap.entries:
        if e["version"] > snap.version:
            break
        stats_by_file.update(e.get("stats") or {})
        parts_by_file.update(e.get("partitions") or {})
    return [
        f
        for f in snap.files
        if all(
            _may_match(parts_by_file.get(f), stats_by_file.get(f), col, op, val)
            for col, op, val in predicates
        )
    ]


def pruned_files(
    root: str,
    predicates: Sequence[tuple],
    version: int | None = None,
) -> list[str]:
    """The snapshot file list after partition pruning + stats-based
    data skipping: keep a file unless (a) its logged PARTITION VALUES
    prove no row can match — exact, whole partitions drop first — or
    (b) the log's per-file min/max PROVE it cannot contain a matching
    row, for ALL ``predicates`` (a conjunction of simple comparisons
    ``(column, op, literal)`` with op in ==/>=/<=/>/<, or SET
    membership ``(column, "in", values)`` — the metadata half of
    :func:`scan_dpp`, O(files × values)). Exposed separately so tests
    (and the DuckDB oracle) can assert the exact pruned set."""
    return _prune(_snapshot(root, version), predicates)


def scan_dpp(
    spark: SparkSession,
    root: str,
    col: str,
    dim: DataFrame,
    dim_col: str | None = None,
    version: int | None = None,
    max_dim_values: int = 10_000,
) -> DataFrame:
    """Runtime dim-driven pruning for ACID scans — the lake-side DPP
    pattern applied to the transaction log (Delta does the same with
    its file-level partition values): evaluate the (already filtered,
    broadcast-sized) DIM side first, collect its distinct join-key
    values, prune the fact's file list to partitions/files whose
    logged metadata admits one of them, then read only those files
    with a residual ``isin`` filter (pruning is conservative, never a
    substitute for the filter) — :func:`scan` with an ``in`` predicate.

    Returns the semi-join ``fact WHERE col IN (SELECT dim_col FROM
    dim)`` — at 100 TB a dim filter that selects 3 of 1,000 partition
    values turns into a scan of 3 partitions' files, decided on the
    driver from metadata alone, zero I/O against the rest.

    If the dim yields more than ``max_dim_values`` distinct keys it is
    NOT broadcast-sized; the scan falls back to the full snapshot with
    a distributed left-semi join (same semantics, no metadata prune) —
    the same give-up condition Spark's own DPP applies.
    """
    # NULL never equi-joins — drop it BEFORE the over-cardinality probe:
    # filtering after limit() would let one NULL among max+1 sampled keys
    # mask the fallback condition and silently truncate the value set
    # (wrong results, no error)
    kvals = [
        r[0]
        for r in dim.select(dim_col or col)
        .filter(F.col(dim_col or col).isNotNull())
        .distinct()
        .limit(max_dim_values + 1).collect()
    ]
    if len(kvals) <= max_dim_values:
        return scan(spark, root, [(col, "in", kvals)], version)
    snap = _snapshot(root, version)
    return _read_files(spark, root, snap.files, snap.schema).join(
        dim.select(F.col(dim_col or col).alias(col)).distinct(),
        col, "left_semi",
    )


def _predicate_column(col: str, op: str, val):
    c = F.col(col)
    if op == "in":
        return c.isin(list(val)) if val else F.lit(False)
    return {
        "==": operator.eq, ">=": operator.ge, "<=": operator.le,
        ">": operator.gt, "<": operator.lt,
    }[op](c, val)


def scan(
    spark: SparkSession,
    root: str,
    predicates: Sequence[tuple] = (),
    version: int | None = None,
) -> DataFrame:
    """Data-skipping snapshot read: resolve the snapshot, DROP every
    data file whose logged min/max stats prove it cannot match the
    predicate conjunction (zero I/O against skipped files — at 100 TB
    this is the difference between opening a million footers and
    reading a metadata-scale log), then apply the SAME predicates as a
    residual Spark filter (stats pruning is conservative, never a
    substitute for the filter). Predicates are :func:`pruned_files`'."""
    snap = _snapshot(root, version)
    df = _read_files(spark, root, _prune(snap, predicates), snap.schema)
    for col, op, val in predicates:
        df = df.filter(_predicate_column(col, op, val))
    return df


def _write_data(
    df: DataFrame,
    root: str,
    version_hint: int,
    partition_by: Sequence[str] | None = None,
    clustered: bool = False,
) -> dict:
    """Write df as parquet under data/v<hint>-<token>/ and return the
    ``adds``, ``stats`` and ``partitions`` keyword arguments of
    :func:`_commit`: the part files RELATIVE to root (the log stores
    relative paths so the table directory is relocatable), their footer
    stats, and — with ``partition_by`` — their partition values. With
    ``partition_by``, files land hive-layout (``col=val/`` dirs) under
    the version dir — ONE Spark job regardless of partition count; the
    partition values a file owns are recorded in its path and in the
    commit entry (metadata-scale, so ``pruned_files`` prunes partitions
    without listing directories). An under-split partitioned frame is
    first hashed on the partition columns into the session's default
    parallelism (``scan_parallelism_floor(df, *partition_by)``): one
    file per partition value, written on every core instead of by one
    task; a well-split frame passes through untouched. ``clustered``
    skips that step for a frame whose layout is already decided
    (:func:`optimize`). Zero-row part files (empty task
    partitions — routine under Spark's default parallelism on small
    batches) are deleted, not committed: they would accumulate as
    stat-less files that data skipping can never prune and every scan
    must still open."""
    import pyarrow.parquet as pq

    token = uuid.uuid4().hex[:12]
    rel_dir = os.path.join(_DATA_DIR, f"v{version_hint}-{token}")
    out = os.path.join(root, rel_dir)
    if partition_by and not clustered:
        df = scan_parallelism_floor(df, *partition_by)
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out)
    rels = []
    for dirpath, _dirnames, filenames in os.walk(out):
        for name in sorted(filenames):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(dirpath, name)
            try:
                n_rows = pq.ParquetFile(full).metadata.num_rows
            except OSError:
                n_rows = -1  # unreadable: keep, let the scan surface it
            if n_rows == 0:
                os.remove(full)
                continue
            rels.append(os.path.relpath(full, root))
    rels.sort()
    return {
        "adds": rels,
        "stats": _collect_stats(root, rels),
        "partitions": {r: _partition_values_of(r, partition_by) for r in rels}
        if partition_by else None,
    }


def _partition_values_of(rel: str, partition_by: Sequence[str]) -> dict:
    """Parse a file's partition values out of its hive-layout relative
    path (``data/vN-token/col=val/.../part.parquet``). Values are kept
    as the STRINGS hive encodes in the path (Delta stores partition
    values as strings too); ``__HIVE_DEFAULT_PARTITION__`` is NULL."""
    from urllib.parse import unquote

    vals: dict[str, str | None] = {}
    for seg in rel.split(os.sep)[2:-1]:
        k, eq, v = seg.partition("=")
        if eq and k in partition_by:
            vals[k] = (
                None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
            )
    return vals


def _read_files(
    spark: SparkSession,
    root: str,
    files: Sequence[str],
    schema,
    with_file_col: str | None = None,
) -> DataFrame:
    """Read an explicit snapshot file list with partition columns
    re-injected. Partitioned files don't store partition columns in
    their footers — the values live in the ``col=val`` path segments —
    so those files are read per version dir with ``basePath`` (Spark's
    partition recovery parses the path and casts to the declared
    schema; one scan node per version dir, never per partition).
    Spanning version dirs with one basePath is impossible (the
    ``vN-token`` level conflicts — CONFLICTING_DIRECTORY_STRUCTURES),
    hence the group-and-union. Plain files read as one scan, so
    unpartitioned tables keep the single-node fast path.

    ``with_file_col`` materializes ``_metadata.file_path`` under that
    name BEFORE the union (the metadata column resolves only directly
    against a file-source relation, not through a union)."""
    if not files:
        df = spark.createDataFrame([], schema)
        if with_file_col:
            df = df.withColumn(with_file_col, F.lit(None).cast("string"))
        return df
    plain: list[str] = []
    by_vdir: dict[str, list[str]] = {}
    for f in files:
        parts = f.split(os.sep)
        if len(parts) > 3 and any("=" in seg for seg in parts[2:-1]):
            by_vdir.setdefault(os.path.join(*parts[:2]), []).append(f)
        else:
            plain.append(f)

    def _load(reader, paths):
        df = reader.parquet(*[os.path.join(root, p) for p in paths])
        if with_file_col:
            df = df.withColumn(with_file_col, F.col("_metadata.file_path"))
        return df

    dfs = []
    if plain:
        dfs.append(_load(spark.read.schema(schema), plain))
    for vdir in sorted(by_vdir):
        dfs.append(
            _load(
                spark.read.schema(schema).option(
                    "basePath", os.path.join(root, vdir)
                ),
                by_vdir[vdir],
            )
        )
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def create_table(
    df: DataFrame,
    root: str,
    app_txn_id: str | None = None,
    partition_by: Sequence[str] | None = None,
) -> int:
    """Create (or fully replace) the table: version with op=overwrite
    whose removes = every previously-live file.

    ``partition_by`` hive-partitions the table (reference
    scripts/spark_jobs/data_cleaning.py:127 ``partitionBy('year',
    'month','day')`` — the reference lake's signature layout): data
    files land under ``col=val/`` dirs, per-file partition values are
    recorded in the log, and ``pruned_files``/``scan`` prune by
    partition predicate BEFORE stats — whole partitions drop at
    metadata cost, composing with stats skipping inside the surviving
    partitions. Subsequent appends/merges/deletes inherit the
    partitioning; only a new create_table can change it."""
    pb = list(partition_by or [])
    missing = [c for c in pb if c not in df.columns]
    if missing:
        raise ValueError(f"partition_by columns not in df: {missing}")
    entries = _read_log(root)
    if _already_applied(entries, app_txn_id):
        return -1
    current = entries[-1]["version"] if entries else -1
    prior = _resolve(root, entries, current) if current >= 0 else []
    return _commit(
        root,
        "overwrite",
        removes=prior,
        schema_json=df.schema.json(),
        expected_version=current,
        app_txn_id=app_txn_id,
        partition_by=pb,
        **_write_data(df, root, current + 1, partition_by=pb),
    )


def _merge_schemas(committed: dict, incoming: dict) -> dict:
    """Additive schema evolution (Delta ``mergeSchema``): the committed
    schema plus any NEW top-level fields the incoming batch adds, each
    forced nullable (historical files lack the column, so reads must
    NULL-fill). Existing fields must match modulo nullability — type
    CHANGES are still drift; evolution here is strictly additive."""
    committed_names = {f["name"] for f in committed["fields"]}
    new_fields = [
        dict(f, nullable=True)
        for f in incoming["fields"]
        if f["name"] not in committed_names
    ]
    shared_incoming = {
        "type": "struct",
        "fields": [
            f for f in incoming["fields"] if f["name"] in committed_names
        ],
    }
    # shared columns must appear in the committed order for the
    # positional drift check; reorder by committed field order
    order = {f["name"]: i for i, f in enumerate(committed["fields"])}
    shared_incoming["fields"].sort(key=lambda f: order[f["name"]])
    _check_drift("append(merge_schema)", shared_incoming, committed)
    merged = _widen_nullability(committed, shared_incoming)
    merged["fields"] = list(merged["fields"]) + new_fields
    return merged


def append(
    df: DataFrame,
    root: str,
    app_txn_id: str | None = None,
    merge_schema: bool = False,
) -> int:
    """Blind append — no read dependency, so it never conflicts on
    expected_version (appends serialize by the atomic-link race alone;
    losers retry the commit, not the data write). Every retry re-reads
    the log and re-validates the schema first: if the concurrent winner
    was an overwrite with a different schema, retrying blindly would
    commit mismatched files and stamp the wrong table schema.

    ``merge_schema=True`` permits ADDITIVE evolution: new top-level
    columns are appended to the table schema as nullable; historical
    files NULL-fill them on read (read_snapshot reads every file with
    the latest committed schema — the mergeSchema contract without
    rewriting history). Type changes and dropped columns are still
    rejected as drift."""
    snap = _snapshot(root)
    if _already_applied(snap.entries, app_txn_id):
        return -1
    incoming = json.loads(df.schema.json())

    def out_schema(committed: dict) -> str:
        if merge_schema:
            return json.dumps(
                _merge_schemas(committed, incoming), sort_keys=True
            )
        _check_drift("append", incoming, committed)
        return json.dumps(
            _widen_nullability(committed, incoming), sort_keys=True
        )

    out_schema(json.loads(snap.schema_json))  # validate BEFORE writing
    pb = snap.partition_by  # appends inherit the partitioning
    written = _write_data(df, root, snap.version + 1, partition_by=pb)

    # validate_head runs against the SAME log read _commit uses to
    # compute the next version — an overwrite with a different schema
    # or partitioning landing between any earlier read and the link can
    # never be silently built upon (it either raises here, or loses the
    # link race and the retry re-validates against the new head).
    def validate_head(es):
        head_pb = list(es[-1].get("partition_by") or [])
        if head_pb != pb:
            raise ValueError(
                f"partitioning drift: table is now partitioned by "
                f"{head_pb} but this append wrote {pb} — "
                "a concurrent overwrite changed the layout; retry the append"
            )
        return out_schema(json.loads(es[-1]["schema"]))

    while True:
        try:
            return _commit(
                root, "append", removes=[], schema_json=None,
                app_txn_id=app_txn_id,
                schema_fn=validate_head,
                partition_by=pb,
                **written,
            )
        except ConcurrentCommitError:
            continue  # re-validate against the new head, then retry


def read_snapshot(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """Snapshot (time-travel) read: the table as of ``version``, or as
    of the last commit with commit_ts <= ``timestamp``, or latest.
    An empty snapshot returns an empty DataFrame with the committed
    schema (not an error)."""
    snap = _snapshot(root, version, timestamp)
    return _read_files(spark, root, snap.files, snap.schema)


def merge(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    keys: Sequence[str],
    app_txn_id: str | None = None,
) -> int:
    """MERGE INTO (WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED INSERT
    ALL) as file-pruned copy-on-write:

    1. attribute every snapshot row to its parquet file
       (``_metadata.file_path`` — no extra scan, the metadata column is
       constant-folded per file);
    2. semi-join on the merge keys to find TOUCHED files (only files
       holding a matched key are rewritten — at 100 TB with
       key-clustered layout this is the small set Delta would touch);
    3. rewrite touched-file rows through operators/cdc.merge_upsert
       with the update batch (updates win; not-matched updates insert);
    4. commit adds=new files, removes=touched files. Untouched files
       survive by reference — zero data movement.

    The commit pins ``expected_version`` to the snapshot read in step 1:
    any concurrent commit fails this transaction (write-write conflict).
    """
    from financial_data_lakehouse_pipeline__spark.operators.cdc import merge_upsert

    snap = _snapshot(root)
    if _already_applied(snap.entries, app_txn_id):
        return -1
    incoming = json.loads(updates.schema.json())
    committed = json.loads(snap.schema_json)
    _check_drift("merge", incoming, committed)
    key_set = F.broadcast(updates.select(*keys).distinct())
    touched = _touched_files(
        spark, root, snap, lambda df: df.join(key_set, list(keys), "semi")
    )
    merged = (
        merge_upsert(_read_files(spark, root, touched, snap.schema), updates, keys)
        if snap.files else updates
    )
    return _commit(
        root,
        "merge",
        removes=touched,
        schema_json=json.dumps(
            _widen_nullability(committed, incoming), sort_keys=True
        ),
        expected_version=snap.version,
        app_txn_id=app_txn_id,
        op_params={"keys": list(keys)},
        partition_by=snap.partition_by,
        **_write_data(merged, root, snap.version + 1, partition_by=snap.partition_by),
    )


def _touched_files(
    spark: SparkSession, root: str, snap: _Snapshot, match
) -> list[str]:
    """The live files of ``snap`` holding at least one row that
    ``match`` (a function of the snapshot DataFrame) keeps, relative to
    the table root: every row is attributed to its parquet file
    (``_metadata.file_path`` — no extra scan, the metadata column is
    constant-folded per file), and the distinct files of the matching
    rows are collected. An empty snapshot runs no job."""
    if not snap.files:
        return []
    attributed = _read_files(
        spark, root, snap.files, snap.schema, with_file_col="__file"
    )
    abs_root = os.path.abspath(root)
    return sorted(
        _file_uri_to_rel(r["__file"], abs_root)
        for r in match(attributed).select("__file").distinct().collect()
    )


def delete_where(
    spark: SparkSession,
    root: str,
    predicate: str,
    app_txn_id: str | None = None,
) -> int:
    """DELETE FROM ... WHERE predicate, file-pruned copy-on-write: only
    files containing at least one matching row are rewritten (with the
    survivors); files with no match survive by reference."""
    snap = _snapshot(root)
    if _already_applied(snap.entries, app_txn_id):
        return -1
    touched = _touched_files(
        spark, root, snap, lambda df: df.filter(F.expr(predicate))
    )
    written: dict = {"adds": []}
    if touched:
        survivors = _read_files(spark, root, touched, snap.schema).filter(
            ~F.expr(predicate)
        )
        written = _write_data(
            survivors, root, snap.version + 1, partition_by=snap.partition_by
        )
    return _commit(
        root,
        "delete",
        removes=touched,
        schema_json=snap.schema_json,
        expected_version=snap.version,
        app_txn_id=app_txn_id,
        op_params={"predicate": predicate},
        partition_by=snap.partition_by,
        **written,
    )


def table_changes(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int | None = None,
    keys: Sequence[str] | None = None,
) -> DataFrame:
    """Change data feed between two committed versions, derived from the
    log's add/remove file lists — NO change files are written at commit
    time (Delta's CDF-disabled fallback): only files that entered or
    left the live set between the versions are read, every untouched
    file is skipped entirely (at 100 TB a small MERGE touches a handful
    of files, so the diff reads a handful of files).

    With ``keys``: one row per changed key labeled
    inserted/deleted/updated (operators/cdc.snapshot_diff over the
    changed-file subsets; 'unchanged' rows — same key rewritten with
    identical values by a copy-on-write rewrite — are dropped).
    Without keys: row-multiset semantics — every row of removed files
    as 'deleted' + every row of added files as 'inserted'."""
    new = _snapshot(root, to_version)
    old = _snapshot(root, from_version, entries=new.entries)
    schema, old_schema = new.schema, old.schema
    old_side = _read_files(
        spark, root, sorted(set(old.files) - set(new.files)), old_schema
    )
    new_side = _read_files(
        spark, root, sorted(set(new.files) - set(old.files)), schema
    )
    if keys is None:
        cols = [f.name for f in schema.fields]
        old_cols = {f.name for f in old_schema.fields}
        old_sel = [
            F.col(c) if c in old_cols else F.lit(None).cast(
                schema[c].dataType
            ).alias(c)
            for c in cols
        ]
        return (
            old_side.select(*old_sel)
            .withColumn("change_type", F.lit("deleted"))
            .unionByName(
                new_side.select(*cols).withColumn(
                    "change_type", F.lit("inserted")
                )
            )
        )
    from financial_data_lakehouse_pipeline__spark.operators.cdc import (
        snapshot_diff,
    )

    compare = [f.name for f in schema.fields if f.name not in set(keys)]
    old_aligned = old_side
    for f in schema.fields:
        if f.name not in {x.name for x in old_schema.fields}:
            old_aligned = old_aligned.withColumn(
                f.name, F.lit(None).cast(f.dataType)
            )
    diff = snapshot_diff(old_aligned, new_side, list(keys), compare)
    return diff.filter(F.col("change_type") != "unchanged")


def optimize(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    app_txn_id: str | None = None,
    zorder: Sequence[str] | None = None,
) -> int:
    """OPTIMIZE (small-file compaction) as a committed transaction:
    rewrite every live data file smaller than ``target_file_bytes``
    into ~target-sized files; files already at/above target survive by
    reference. The commit is logically a no-op (identical rows before
    and after — pinned by pytest), so readers time-traveling across it
    see the same table; it exists to fix the small-files problem that
    streaming appends accumulate (HDFS/S3 listing + task-per-file
    overhead dominates scans at 100 TB).

    ``zorder``: Delta's ``OPTIMIZE ... ZORDER BY`` — rewrite EVERY live
    file (re-clustering must touch everything) with rows range-
    partitioned and sorted by the Morton code of the named numeric
    columns (operators/layout.zorder_by). Each output file then owns a
    contiguous Z-curve segment, so the per-file min/max stats recorded
    by this commit are narrow in ALL the z-ordered dimensions and
    :func:`scan` prunes on any of them — not just the first sort key.

    Optimistic like merge/delete: pinned to the version read; a
    concurrent commit raises ConcurrentCommitError (rerun — compaction
    is always safe to retry). Returns the new version, the current
    version when there is nothing to compact (< 2 small files and no
    zorder), or -1 on idempotent replay."""
    snap = _snapshot(root)
    if _already_applied(snap.entries, app_txn_id):
        return -1
    read_version, pb = snap.version, snap.partition_by
    if zorder:
        candidates = list(snap.files)  # re-clustering rewrites everything
    else:
        candidates = [
            f
            for f in snap.files
            if os.path.getsize(os.path.join(root, f)) < target_file_bytes
        ]
        if len(candidates) < 2:
            return read_version  # nothing to gain
    if not candidates:
        return read_version
    total = sum(os.path.getsize(os.path.join(root, f)) for f in candidates)
    n_out = int(max(1, -(-total // target_file_bytes)))  # ceil
    df = _read_files(spark, root, candidates, snap.schema)
    if zorder:
        from financial_data_lakehouse_pipeline__spark.operators import layout

        bits = min(16, 62 // len(zorder))
        aggs = []
        for c in zorder:
            aggs.append(F.min(F.col(c).cast("bigint")).alias(f"__mn_{c}"))
            aggs.append(F.max(F.col(c).cast("bigint")).alias(f"__mx_{c}"))
        mm = df.agg(*aggs)
        widened = df.crossJoin(F.broadcast(mm))
        qcols = [
            layout.quantize_minmax(
                F.col(c).cast("bigint"),
                F.col(f"__mx_{c}"),
                bits=bits,
                min_col=F.col(f"__mn_{c}"),
            )
            for c in zorder
        ]
        if pb:
            # Z-order WITHIN partitions (Delta's semantics): range-
            # partition on (partition cols, morton code) so each task
            # owns a contiguous (partition value, z-segment) slice —
            # partition values stay clustered (no n_out×P fan-out
            # through the partitionBy write) while LARGE partitions
            # still split across tasks at z-curve boundaries.
            coded = widened.withColumn(
                "__zorder", layout.morton_code(qcols, bits)
            )
            clustered = coded.repartitionByRange(
                max(n_out, 1), *[F.col(c) for c in pb], F.col("__zorder")
            ).sortWithinPartitions(*pb, "__zorder")
        else:
            clustered = layout.zorder_by(widened, qcols, bits=bits,
                                         num_partitions=n_out)
        helper = ["__zorder"] + [f"__mn_{c}" for c in zorder] + [
            f"__mx_{c}" for c in zorder
        ]
        compacted = clustered.drop(*helper)
    elif pb:
        # Cluster rows by partition value BEFORE the partitionBy write:
        # a plain round-robin repartition(n_out) would let every task
        # hold rows of every partition, emitting up to n_out*P files —
        # MORE small files than the compaction removed on
        # high-cardinality partitions. Hashing on the partition columns
        # sends each partition's rows to one task, so the write emits
        # one file per live partition value whatever the task count,
        # and at least one task per core writes the directories.
        n = max(n_out, spark.sparkContext.defaultParallelism)
        compacted = df.repartition(n, *[F.col(c) for c in pb])
    else:
        compacted = df.repartition(n_out)
    written = _write_data(
        compacted, root, read_version + 1, partition_by=pb, clustered=True
    )
    return _commit(
        root,
        "optimize",
        removes=candidates,
        schema_json=snap.schema_json,
        expected_version=read_version,
        app_txn_id=app_txn_id,
        op_params={
            "target_file_bytes": int(target_file_bytes),
            "n_in": len(candidates),
            "n_out": len(written["adds"]),
            "zorder": list(zorder) if zorder else None,
        },
        partition_by=pb,
        **written,
    )


def restore(root: str, version: int, app_txn_id: str | None = None) -> int:
    """RESTORE TABLE ... TO VERSION: commit a new version whose live
    set IS the target version's live set (adds = files live then but
    not now, removes = files live now but not then). Pure metadata —
    zero data movement, history preserved (the bad versions stay
    auditable and time-travelable), roll-FORWARD by restoring again.
    Requires the target's files to still exist: vacuum with
    keep_versions covering the target, or restore before vacuuming."""
    head = _snapshot(root)
    if _already_applied(head.entries, app_txn_id):
        return -1
    to = _snapshot(root, version, entries=head.entries)
    target, live = set(to.files), set(head.files)
    missing = [
        f for f in target - live
        if not os.path.exists(os.path.join(root, f))
    ]
    if missing:
        raise NoSuchVersionError(
            f"cannot restore to {version}: {len(missing)} data files were "
            f"vacuumed (e.g. {missing[0]})"
        )
    return _commit(
        root,
        "restore",
        sorted(target - live),
        sorted(live - target),
        to.schema_json,
        expected_version=head.version,
        app_txn_id=app_txn_id,
        op_params={"restored_to": int(version)},
        partition_by=to.partition_by,
    )


def history(spark: SparkSession, root: str) -> DataFrame:
    """The commit log as a DataFrame: (version, op, n_adds, n_removes,
    commit_ts, app_txn_id) — the DESCRIBE HISTORY twin."""
    entries = _read_log(root)
    rows = [
        (
            e["version"],
            e["op"],
            len(e.get("adds", ())),
            len(e.get("removes", ())),
            float(e["commit_ts"]),
            e.get("app_txn_id"),
        )
        for e in entries
    ]
    return spark.createDataFrame(
        rows,
        "version bigint, op string, n_adds int, n_removes int, "
        "commit_ts double, app_txn_id string",
    )


def vacuum(
    root: str,
    keep_versions: int = 1,
    min_age_seconds: float = 86400.0,
) -> list[str]:
    """Delete data files unreachable from the newest ``keep_versions``
    snapshots (removed-and-aged-out files plus crash orphans never
    referenced by any commit). Returns the deleted relative paths.
    Log entries are never deleted — history stays auditable; only
    time-travel BEFORE the retention horizon loses its data.

    ``min_age_seconds`` is the retention window (Delta's
    ``deletedFileRetentionDuration``, default 24h here): an
    unreferenced file younger than this is left alone, because an
    IN-FLIGHT writer stages its data files BEFORE its log entry —
    deleting them mid-transaction would let the writer commit a
    snapshot referencing missing files. Only pass 0 when no writer can
    possibly be active."""
    entries = _read_log(root)
    if not entries:
        return []
    versions = [e["version"] for e in entries]
    keep = versions[-max(1, int(keep_versions)):]
    reachable: set[str] = set()
    for v in keep:
        reachable |= set(_resolve(root, entries, v))
    now = time.time()
    deleted = []
    # stale temp files: a commit that crashed between payload write and
    # link (.tmp-*.json) or a checkpoint that crashed before os.replace
    # (.tmpcp-*)
    log_d = _log_dir(root)
    for name in os.listdir(log_d):
        full = os.path.join(log_d, name)
        if (
            (name.startswith(".tmp-") and name.endswith(".json"))
            or name.startswith(".tmpcp-")
        ) and now - os.path.getmtime(full) >= min_age_seconds:
            os.remove(full)
            deleted.append(os.path.relpath(full, root))
    data_root = os.path.join(root, _DATA_DIR)
    if not os.path.isdir(data_root):
        return sorted(deleted)
    for dirpath, _dirnames, filenames in os.walk(data_root):
        for name in filenames:
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, root)
            if (
                name.endswith(".parquet")
                and rel not in reachable
                and now - os.path.getmtime(full) >= min_age_seconds
            ):
                os.remove(full)
                deleted.append(rel)
    return sorted(deleted)


def repair_torn_log(root: str) -> str | None:
    """Remove an unparsable TRAILING log entry so writers can commit
    again (the repair step _commit's CorruptLogError points at).

    Our own commits publish atomically, so a torn trailing entry only
    arises from foreign tooling (mid-write rsync/copy of the table).
    Readers already tolerate it (_read_log skips it as uncommitted),
    but it squats on the next version's path and wedges every writer.
    Removing it is safe precisely because it is unparsable AND trailing:
    it was never a committed version, and no later entry builds on it
    (mid-log corruption still raises — this never deletes history).

    Returns the removed filename, or None when the log is healthy."""
    d = _log_dir(root)
    if not os.path.isdir(d):
        return None
    names = sorted(n for n in os.listdir(d) if re.fullmatch(r"\d{8}\.json", n))
    if not names:
        return None
    last = os.path.join(d, names[-1])
    try:
        with open(last) as f:
            obj = json.load(f)
        if _entry_shape_ok(obj, int(names[-1][:8])):
            return None  # trailing entry is a healthy commit
        os.unlink(last)  # foreign JSON squatting on the next version
        return names[-1]
    except (json.JSONDecodeError, ValueError):
        os.unlink(last)
        return names[-1]
    except OSError:
        return None


def snapshot_files(root: str, version: int | None = None) -> list[str]:
    """The resolved live-file list (relative paths) at a version —
    exposed so an external engine (the DuckDB oracle) can read the
    exact snapshot byte-for-byte."""
    return _snapshot(root, version).files
