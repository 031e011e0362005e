"""Corpus: ACID table format (sources/acid.py) — time travel, MERGE
upsert, and predicate DELETE, each oracle-paired.

The reference rebuilds its managed warehouse tables by full overwrite
each daily run (sql/hive_schemas.sql:78-106); acid.py is the
incremental, versioned alternative. These queries make the transaction
layer driver-verifiable:

* fixture tables are built at import time, deterministically and
  idempotently, with pyarrow data files + the REAL ``acid._commit``
  log machinery (no SparkSession exists at import time) — so the
  committed file lists are stable and the DuckDB oracle can read the
  exact snapshot byte-for-byte via ``acid.snapshot_files()`` embedded
  as literal paths (the same fixed-fixture pattern as lake.py's JSON
  fixtures);
* the mutating queries (merge/delete) run the real Spark-side
  ``acid.merge`` / ``acid.delete_where`` with an ``app_txn_id`` so
  re-runs are idempotent replays (no-ops) and the snapshot is stable
  from the first execution on;
* the merge/delete oracles recompute the EXPECTED post-commit state in
  pure SQL from the pre-commit snapshot files + the literal update
  batch — DuckDB independently re-derives MERGE / DELETE semantics
  rather than trusting the engine's output files.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.corpus import register
from financial_data_lakehouse_pipeline__spark.sources import acid, footer_schema

_SCRATCH = os.path.join(os.path.dirname(__file__), "..", "..", ".scratch")
_SCRATCH = os.path.abspath(_SCRATCH)
_TT_ROOT = os.path.join(_SCRATCH, "fixtures", "acid", "timetravel")
_MG_ROOT = os.path.join(_SCRATCH, "fixtures", "acid", "merge")
_DL_ROOT = os.path.join(_SCRATCH, "fixtures", "acid", "delete")
_SK_ROOT = os.path.join(_SCRATCH, "fixtures", "acid", "skipping")
_RS_ROOT = os.path.join(_SCRATCH, "fixtures", "acid", "restore")
_OP_ROOT = os.path.join(_SCRATCH, "fixtures", "acid", "optimize")
_PT_ROOT = os.path.join(_SCRATCH, "fixtures", "acid", "partitioned")

#: Bump when fixture CONTENT changes — the builder wipes and rebuilds
#: any table whose version-0 app_txn_id doesn't match. (v2: fixtures
#: commit with per-file stats so data-skipping scans can prune.)
_BASE_TXN = "corpus-acid-base-v2"

_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            {"name": "amt", "type": "double", "nullable": True, "metadata": {}},
        ],
    },
    sort_keys=True,
)


def _write_fixture_file(root: str, rel_dir: str, rows: list[tuple]) -> str:
    """One parquet data file at a DETERMINISTIC relative path (unlike
    acid._write_data's uuid tokens — fixtures must be byte-stable so the
    oracle SQL can embed the paths as literals)."""
    out_dir = os.path.join(root, rel_dir)
    os.makedirs(out_dir, exist_ok=True)
    rel = os.path.join(rel_dir, "part-0.parquet")
    tbl = pa.table(
        {
            "k": pa.array([r[0] for r in rows], pa.int32()),
            "v": pa.array([r[1] for r in rows], pa.string()),
            "amt": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, os.path.join(root, rel))
    return rel


def _ensure(root: str, expected_final_version: int, builder) -> None:
    """Idempotent build: keep an existing fixture only if version 0
    carries the current content marker and the build completed (the
    final fixture version committed); anything else is wiped."""
    try:
        entries = acid._read_log(root)
    except acid.CorruptLogError:
        entries = []
    if (
        entries
        and entries[0].get("app_txn_id") == _BASE_TXN
        and entries[-1]["version"] >= expected_final_version
    ):
        return
    if os.path.isdir(root):
        shutil.rmtree(root)
    builder(root)


def _build_timetravel(root: str) -> None:
    # v0: create 3 rows; v1: append 2 more — two snapshots to travel
    adds0 = [
        _write_fixture_file(
            root, os.path.join("data", "v0-fixture"),
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        )
    ]
    acid._commit(root, "overwrite", adds0, [], _SCHEMA_JSON,
                 expected_version=-1, app_txn_id=_BASE_TXN,
                 stats=acid._collect_stats(root, adds0))
    adds1 = [
        _write_fixture_file(
            root, os.path.join("data", "v1-fixture"),
            [(4, "d", 4.0), (5, "e", 5.0)],
        )
    ]
    acid._commit(root, "append", adds1, [], _SCHEMA_JSON,
                 expected_version=0, app_txn_id=_BASE_TXN + "-append",
                 stats=acid._collect_stats(root, adds1))


def _build_two_file_base(root: str) -> None:
    # v0 committed with TWO data files so copy-on-write file pruning has
    # something to prune (file B must survive by reference)
    adds = [
        _write_fixture_file(
            root, os.path.join("data", "v0-fixture-a"),
            [(1, "a", 1.0), (2, "b", 2.0)],
        ),
        _write_fixture_file(
            root, os.path.join("data", "v0-fixture-b"),
            [(10, "x", 10.0), (11, "y", 11.0)],
        ),
    ]
    acid._commit(root, "overwrite", adds, [], _SCHEMA_JSON,
                 expected_version=-1, app_txn_id=_BASE_TXN,
                 stats=acid._collect_stats(root, adds))


def _build_delete_base(root: str) -> None:
    adds = [
        _write_fixture_file(
            root, os.path.join("data", "v0-fixture-a"),
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        ),
        _write_fixture_file(
            root, os.path.join("data", "v0-fixture-b"),
            [(4, "d", 4.0), (5, "e", 5.0)],
        ),
    ]
    acid._commit(root, "overwrite", adds, [], _SCHEMA_JSON,
                 expected_version=-1, app_txn_id=_BASE_TXN,
                 stats=acid._collect_stats(root, adds))


def _build_skipping_base(root: str) -> None:
    # three files with DISJOINT key ranges — the layout data skipping
    # rewards; per-file min/max stats are recorded in the commit
    adds = [
        _write_fixture_file(
            root, os.path.join("data", "v0-lo"),
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        ),
        _write_fixture_file(
            root, os.path.join("data", "v0-mid"),
            [(10, "x", 10.0), (11, "y", 11.0)],
        ),
        _write_fixture_file(
            root, os.path.join("data", "v0-hi"),
            [(20, "z", 20.0), (25, "w", 25.0)],
        ),
    ]
    acid._commit(root, "overwrite", adds, [], _SCHEMA_JSON,
                 expected_version=-1, app_txn_id=_BASE_TXN,
                 stats=acid._collect_stats(root, adds))


_PT_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            {"name": "amt", "type": "double", "nullable": True, "metadata": {}},
            {"name": "year", "type": "integer", "nullable": True,
             "metadata": {}},
        ],
    },
    sort_keys=True,
)


def _build_partitioned_base(root: str) -> None:
    # hive layout: one file per year partition, partition column in the
    # PATH (not the footers), partition values + per-file stats in the
    # commit — so both prune paths (partition first, then stats) have
    # something to bite on: year>=2025 drops the 2024 file by partition
    # value, k<=4 drops the 2026 file (k=5) by min/max stats
    pb = ["year"]
    adds = [
        _write_fixture_file(
            root, os.path.join("data", "v0-fixture", "year=2024"),
            [(1, "a", 1.0), (2, "b", 2.0)],
        ),
        _write_fixture_file(
            root, os.path.join("data", "v0-fixture", "year=2025"),
            [(3, "c", 3.0), (4, "d", 4.0)],
        ),
        _write_fixture_file(
            root, os.path.join("data", "v0-fixture", "year=2026"),
            [(5, "e", 5.0)],
        ),
    ]
    acid._commit(
        root, "overwrite", adds, [], _PT_SCHEMA_JSON,
        expected_version=-1, app_txn_id=_BASE_TXN,
        stats=acid._collect_stats(root, adds),
        partition_by=pb,
        partitions={r: acid._partition_values_of(r, pb) for r in adds},
    )


_ZO_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "x", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "y", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "amt", "type": "double", "nullable": True,
             "metadata": {}},
        ],
    },
    sort_keys=True,
)


def _build_zorder_base(root: str) -> None:
    # a 16x16 (x, y) grid written as FOUR x-major slices: every file
    # spans the full y range, so a y predicate prunes NOTHING until
    # OPTIMIZE ZORDER re-clusters the layout into z-curve segments
    def zo_file(rel_dir: str, x_lo: int, x_hi: int) -> str:
        out_dir = os.path.join(root, rel_dir)
        os.makedirs(out_dir, exist_ok=True)
        rel = os.path.join(rel_dir, "part-0.parquet")
        xs, ys = [], []
        for x in range(x_lo, x_hi):
            for y in range(16):
                xs.append(x)
                ys.append(y)
        tbl = pa.table({
            "x": pa.array(xs, pa.int32()),
            "y": pa.array(ys, pa.int32()),
            "amt": pa.array([float(a * 16 + b) for a, b in zip(xs, ys)],
                            pa.float64()),
        })
        pq.write_table(tbl, os.path.join(root, rel))
        return rel

    adds = [
        zo_file(os.path.join("data", f"v0-x{lo:02d}"), lo, lo + 4)
        for lo in (0, 4, 8, 12)
    ]
    acid._commit(root, "overwrite", adds, [], _ZO_SCHEMA_JSON,
                 expected_version=-1, app_txn_id=_BASE_TXN,
                 stats=acid._collect_stats(root, adds))


def _build_partitioned_cdf_base(root: str) -> None:
    # hive layout with per-partition files — the CDF fixture: a delete
    # then an append mutate it at query time (idempotent txn ids)
    pb = ["year"]
    adds = [
        _write_fixture_file(
            root, os.path.join("data", "v0-fixture", "year=2024"),
            [(1, "a", 1.0), (2, "b", 2.0)],
        ),
        _write_fixture_file(
            root, os.path.join("data", "v0-fixture", "year=2025"),
            [(4, "d", 4.0), (5, "e", 5.0)],
        ),
    ]
    acid._commit(
        root, "overwrite", adds, [], _PT_SCHEMA_JSON,
        expected_version=-1, app_txn_id=_BASE_TXN,
        stats=acid._collect_stats(root, adds),
        partition_by=pb,
        partitions={r: acid._partition_values_of(r, pb) for r in adds},
    )


def _build_restore_base(root: str) -> None:
    # v0: the good state; v1: a bad append the query rolls back
    adds0 = [
        _write_fixture_file(
            root, os.path.join("data", "v0-good"),
            [(1, "a", 1.0), (2, "b", 2.0)],
        )
    ]
    acid._commit(root, "overwrite", adds0, [], _SCHEMA_JSON,
                 expected_version=-1, app_txn_id=_BASE_TXN,
                 stats=acid._collect_stats(root, adds0))
    adds1 = [
        _write_fixture_file(
            root, os.path.join("data", "v1-bad"),
            [(666, "corrupt", -1.0)],
        )
    ]
    acid._commit(root, "append", adds1, [], _SCHEMA_JSON,
                 expected_version=0, app_txn_id=_BASE_TXN + "-bad",
                 stats=acid._collect_stats(root, adds1))


_ZO_ROOT = os.path.join(_SCRATCH, "fixtures", "acid", "zorder")
_PC_ROOT = os.path.join(_SCRATCH, "fixtures", "acid", "partitioned_cdf")

_ensure(_TT_ROOT, 1, _build_timetravel)
_ensure(_MG_ROOT, 0, _build_two_file_base)
_ensure(_DL_ROOT, 0, _build_delete_base)
_ensure(_SK_ROOT, 0, _build_skipping_base)
_ensure(_RS_ROOT, 1, _build_restore_base)
_ensure(_OP_ROOT, 0, _build_skipping_base)  # 3 small files to compact
_ensure(_PT_ROOT, 0, _build_partitioned_base)
_ensure(_ZO_ROOT, 0, _build_zorder_base)
_ensure(_PC_ROOT, 0, _build_partitioned_cdf_base)


def _read_parquet_list(root: str, version: int) -> str:
    files = acid.snapshot_files(root, version)
    paths = ", ".join(f"'{os.path.join(root, f)}'" for f in files)
    return f"read_parquet([{paths}])"


# resolved at import time, AFTER the builds — stable literal file lists
_TT_V0 = _read_parquet_list(_TT_ROOT, 0)
_TT_V1 = _read_parquet_list(_TT_ROOT, 1)
_MG_V0 = _read_parquet_list(_MG_ROOT, 0)
_DL_V0 = _read_parquet_list(_DL_ROOT, 0)
_SK_V0 = _read_parquet_list(_SK_ROOT, 0)
_RS_V0 = _read_parquet_list(_RS_ROOT, 0)
_OP_V0 = _read_parquet_list(_OP_ROOT, 0)
# the FULL v0 list with hive partition parsing — the oracle reads every
# file unpruned and filters, so a hash match proves the partition+stats
# pruned scan lossless
_PT_V0 = _read_parquet_list(_PT_ROOT, 0).replace(
    "])", "], hive_partitioning=1)"
)
_ZO_V0 = _read_parquet_list(_ZO_ROOT, 0)
_PC_V0 = _read_parquet_list(_PC_ROOT, 0).replace(
    "])", "], hive_partitioning=1)"
)


@register(
    "acid_time_travel",
    f"""SELECT 'v0' AS as_of, k, v, amt FROM {_TT_V0}
        UNION ALL
        SELECT 'ts0' AS as_of, k, v, amt FROM {_TT_V0}
        UNION ALL
        SELECT 'latest' AS as_of, k, v, amt FROM {_TT_V1}""",
)
def acid_time_travel(spark, sf_dir):
    """Snapshot isolation / time travel (acid.read_snapshot): the same
    table read as-of version 0, as-of version 0's commit TIMESTAMP, and
    at the latest version, union-tagged. The oracle reads the resolved
    snapshot file lists (acid.snapshot_files) directly — DuckDB sees
    the exact bytes each snapshot pins."""
    ts0 = acid._read_log(_TT_ROOT)[0]["commit_ts"]
    s_v0 = acid.read_snapshot(spark, _TT_ROOT, version=0)
    s_ts = acid.read_snapshot(spark, _TT_ROOT, timestamp=ts0)
    s_hd = acid.read_snapshot(spark, _TT_ROOT)
    return (
        s_v0.select(F.lit("v0").alias("as_of"), "k", "v", "amt")
        .unionAll(s_ts.select(F.lit("ts0").alias("as_of"), "k", "v", "amt"))
        .unionAll(s_hd.select(F.lit("latest").alias("as_of"), "k", "v", "amt"))
    )


@register(
    "acid_merge_upsert",
    # the oracle re-derives MERGE semantics (updates win on key match,
    # not-matched inserts, untouched rows pass through) from the
    # PRE-merge snapshot files + the literal update batch
    f"""WITH base AS (SELECT * FROM {_MG_V0}),
             upd AS (
               SELECT CAST(2 AS INT) AS k, 'B!' AS v, 20e0 AS amt
               UNION ALL
               SELECT CAST(99 AS INT), 'new', 99e0
             )
        SELECT k, v, amt FROM upd
        UNION ALL
        SELECT b.k, b.v, b.amt FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.k = b.k)""",
)
def acid_merge_upsert(spark, sf_dir):
    """Transactional MERGE (acid.merge): file-pruned copy-on-write
    upsert — key 2 updated, key 99 inserted, the data file holding keys
    10/11 survives by reference (asserted in tests/test_acid.py). The
    ``app_txn_id`` makes re-runs idempotent replays, so the snapshot is
    stable from the first execution on and the oracle's recomputation
    from the v0 files must match every run."""
    upd = spark.createDataFrame(
        [(2, "B!", 20.0), (99, "new", 99.0)], "k int, v string, amt double"
    )
    acid.merge(spark, _MG_ROOT, upd, ["k"], app_txn_id="corpus-acid-merge-v1")
    return acid.read_snapshot(spark, _MG_ROOT).select("k", "v", "amt")


@register(
    "acid_stats_pruned_scan",
    # the oracle reads the FULL v0 snapshot and filters — proving the
    # stats-pruned scan (which opens only the one file whose min/max
    # range can match) is lossless
    f"""SELECT k, v, amt FROM {_SK_V0} WHERE k >= 10 AND k <= 11""",
)
def acid_stats_pruned_scan(spark, sf_dir):
    """Data-skipping scan (acid.scan): the log carries per-file
    column min/max recorded at commit time; a range predicate over
    disjointly-clustered files opens ONLY the file whose range can
    match (asserted via acid.pruned_files in tests/test_acid.py) —
    Delta-style data skipping, zero I/O on skipped files. The oracle
    reads every v0 file and filters, so a hash match proves the pruned
    read lossless."""
    return acid.scan(
        spark, _SK_ROOT, [("k", ">=", 10), ("k", "<=", 11)]
    ).select("k", "v", "amt")


@register(
    "acid_partitioned_prune",
    # the oracle reads the FULL v0 snapshot (hive partition values
    # parsed from the paths) and filters — proving the scan that
    # partition-prunes the 2024 file AND stats-prunes the 2026 file
    # (k=5 outside k<=4) is lossless
    f"""SELECT k, v, amt, CAST(year AS INT) AS year
        FROM {_PT_V0}
        WHERE year >= 2025 AND k <= 4""",
)
def acid_partitioned_prune(spark, sf_dir):
    """Partition-pruned scan over a hive-partitioned ACID table
    (acid.create_table(partition_by=['year']) — the reference lake's
    signature layout, data_cleaning.py:127): partition values recorded
    in the commit drop the year=2024 file at metadata cost BEFORE
    stats, then per-file min/max stats drop the year=2026 file (its
    only k is 5, outside k<=4) — the two prune paths composing in one
    scan. The exact pruned file set is pinned in tests/test_acid.py;
    read-back re-injects the partition column from the file paths."""
    assert acid.pruned_files(
        _PT_ROOT, [("year", ">=", 2025), ("k", "<=", 4)]
    ) == [os.path.join("data", "v0-fixture", "year=2025", "part-0.parquet")]
    return acid.scan(
        spark, _PT_ROOT, [("year", ">=", 2025), ("k", "<=", 4)]
    ).select("k", "v", "amt", "year")


@register(
    "acid_dpp_prune",
    # the oracle reads the FULL v0 snapshot (hive partition values
    # parsed from the paths) and applies the same dim-derived IN
    # filter — proving the runtime metadata prune lossless
    f"""WITH dim AS (
          SELECT 2024 AS year, 'old' AS status
          UNION ALL SELECT 2025, 'current'
          UNION ALL SELECT 2026, 'next'
        )
        SELECT k, v, amt, CAST(year AS INT) AS year
        FROM {_PT_V0}
        WHERE year IN (SELECT year FROM dim WHERE status <> 'old')""",
)
def acid_dpp_prune(spark, sf_dir):
    """RUNTIME dim-driven partition pruning (acid.scan_dpp — the DPP
    analog for the transaction log, VERDICT r10 #3): the broadcast-
    sized dim is evaluated FIRST (status <> 'old' keeps years
    2025/2026), its distinct join keys prune the fact's file list via
    the logged partition values (the year=2024 file is never opened —
    exact set pinned in tests/test_acid.py), and the read carries a
    residual isin filter. Unlike acid_partitioned_prune the pruning
    literal is NOT known until the dim result exists — this is the
    join-shaped prune Delta performs with file-level partition values,
    at 100 TB the difference between scanning 3 and 1,000 partitions
    when a dim filter selects 3 keys."""
    dim = spark.createDataFrame(
        [(2024, "old"), (2025, "current"), (2026, "next")],
        "year int, status string",
    ).filter(F.col("status") != "old")
    assert acid.pruned_files(_PT_ROOT, [("year", "in", [2025, 2026])]) == [
        os.path.join("data", "v0-fixture", "year=2025", "part-0.parquet"),
        os.path.join("data", "v0-fixture", "year=2026", "part-0.parquet"),
    ]
    return acid.scan_dpp(spark, _PT_ROOT, "year", dim).select(
        "k", "v", "amt", "year"
    )


@register(
    "acid_restore_rollback",
    # after RESTORE to v0 the live set IS v0's file list — the oracle
    # reads exactly those files; the bad v1 row must be gone
    f"""SELECT k, v, amt FROM {_RS_V0}""",
)
def acid_restore_rollback(spark, sf_dir):
    """RESTORE-to-version (acid.restore): the fixture's v1 appended a
    bad batch; the query rolls the table back to v0 as a metadata-only
    commit (idempotent app_txn_id) and reads the head — which must
    equal the v0 snapshot byte-for-byte. History stays auditable: the
    bad version remains time-travelable (pinned in tests/test_acid.py)."""
    acid.restore(_RS_ROOT, 0, app_txn_id="corpus-acid-restore-v1")
    return acid.read_snapshot(spark, _RS_ROOT).select("k", "v", "amt")


@register(
    "acid_optimize_noop",
    # OPTIMIZE is logically a no-op: the compacted head must equal the
    # pre-compaction snapshot content exactly
    f"""SELECT k, v, amt FROM {_OP_V0}""",
)
def acid_optimize_noop(spark, sf_dir):
    """OPTIMIZE compaction (acid.optimize): the fixture's 3 small files
    are rewritten into ~1 target-sized file as a committed transaction
    (idempotent app_txn_id); the post-compaction head must carry the
    identical row multiset — proven against the pre-compaction file
    list. File-count reduction itself is pinned in tests/test_acid.py."""
    acid.optimize(
        spark, _OP_ROOT, target_file_bytes=8 * 1024 * 1024,
        app_txn_id="corpus-acid-optimize-v1",
    )
    return acid.read_snapshot(spark, _OP_ROOT).select("k", "v", "amt")


@register(
    "acid_stream_ingest",
    "SELECT event_id, user_id, event_type FROM events",
)
def acid_stream_ingest(spark, sf_dir):
    """Exactly-once streaming ingestion into the ACID table
    (streaming.acid_append_sink): the events parquet is streamed
    (availableNow) into a transactional table — one committed version
    per micro-batch, ``app_txn_id=f"{{query}}:{{batch_id}}"`` — and the
    table head must equal the batch read of the same source. Re-runs
    redeliver every batch and every commit no-ops (the exactly-once
    contract, also pinned in tests/test_streaming.py). The table root
    is keyed by the source file's size+mtime so a regenerated driver
    dataset gets a fresh ingest instead of a stale no-op."""
    from financial_data_lakehouse_pipeline__spark import streaming as st

    src = os.path.join(sf_dir, "events.parquet")
    stt = os.stat(src)
    tag = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"-{stt.st_size}-{int(stt.st_mtime)}"
    )
    root = os.path.join(_SCRATCH, "fixtures", "acid", f"stream_{tag}")
    raw_schema = footer_schema(src)
    stream = st.stream_from_parquet_dir(
        spark, sf_dir, raw_schema, glob="events.parquet"
    ).select("event_id", "user_id", "event_type")
    q = st.acid_append_sink(
        stream, root, query_name=f"corpus-acid-stream-{tag}",
        checkpoint_location=os.path.join(root, "_spark_checkpoint"),
    )
    q.awaitTermination()
    return acid.read_snapshot(spark, root).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "acid_table_changes",
    # the oracle re-derives the change feed from the PRE-commit snapshot
    # files + the literal mutation batches: merge -> k=2 updated, k=99
    # inserted (k=1 rewritten verbatim is 'unchanged' and dropped; the
    # untouched file's keys 10/11 never appear); delete k=4 -> deleted
    f"""WITH base AS (SELECT * FROM {_MG_V0}),
             upd AS (
               SELECT CAST(2 AS INT) AS k, 'B!' AS v, 20e0 AS amt
               UNION ALL
               SELECT CAST(99 AS INT), 'new', 99e0
             )
        SELECT 'merge' AS tbl, u.k, u.v, u.amt,
               CASE WHEN b.k IS NULL THEN 'inserted' ELSE 'updated' END
                 AS change_type
        FROM upd u LEFT JOIN base b USING (k)
        WHERE b.k IS NULL OR b.v <> u.v OR b.amt <> u.amt
        UNION ALL
        SELECT 'delete', k, v, amt, 'deleted' FROM {_DL_V0} WHERE k = 4""",
)
def acid_table_changes(spark, sf_dir):
    """Change data feed (acid.table_changes): the add/remove file-list
    diff between two versions labels changed KEYS inserted / updated /
    deleted while reading ONLY the files that entered or left the live
    set — the untouched file (keys 10/11) is never opened. Self-
    contained: replays the merge/delete mutations idempotently (same
    app_txn_ids as acid_merge_upsert / acid_delete_where) so it is
    driver-samplable in isolation."""
    upd = spark.createDataFrame(
        [(2, "B!", 20.0), (99, "new", 99.0)], "k int, v string, amt double"
    )
    acid.merge(spark, _MG_ROOT, upd, ["k"], app_txn_id="corpus-acid-merge-v1")
    acid.delete_where(
        spark, _DL_ROOT, "k = 4", app_txn_id="corpus-acid-delete-v1"
    )
    ch_mg = acid.table_changes(spark, _MG_ROOT, 0, 1, keys=["k"]).select(
        F.lit("merge").alias("tbl"), "k", "v", "amt", "change_type"
    )
    ch_dl = acid.table_changes(spark, _DL_ROOT, 0, 1, keys=["k"]).select(
        F.lit("delete").alias("tbl"), "k", "v", "amt", "change_type"
    )
    return ch_mg.unionAll(ch_dl)


@register(
    "acid_zorder_prune",
    # OPTIMIZE ZORDER is row-preserving, so the oracle reads the
    # PRE-optimize v0 files and filters — a hash match proves the
    # z-clustered, second-dimension-pruned scan lossless
    f"""SELECT x, y, amt FROM {_ZO_V0} WHERE y <= 3""",
)
def acid_zorder_prune(spark, sf_dir):
    """OPTIMIZE ZORDER BY (x, y) then scan on the SECOND z dimension
    (acid.optimize(zorder=...) + acid.scan): the fixture's four
    x-major slices each span the full y range (a y predicate prunes
    nothing pre-clustering — asserted in tests/test_acid.py), the
    z-curve rewrite gives every output file a narrow y band, and the
    scan opens only the files whose recorded y min/max admit y <= 3.
    Idempotent via app_txn_id; the oracle reads the pre-optimize files
    (row-identical by OPTIMIZE's contract), so a green row proves both
    the re-cluster's row preservation and the pruned scan's
    losslessness."""
    acid.optimize(
        spark, _ZO_ROOT, target_file_bytes=2048, zorder=("x", "y"),
        app_txn_id="corpus-acid-zorder-v1",
    )
    return acid.scan(spark, _ZO_ROOT, [("y", "<=", 3)]).select(
        "x", "y", "amt"
    )


@register(
    "acid_table_changes_partitioned",
    # the oracle re-derives the partitioned change feed from the
    # PRE-commit v0 files (hive values parsed from paths) + the two
    # literal mutations: delete k=4 -> deleted; append (7,'g',2026)
    # -> inserted; the survivor k=5 rewritten verbatim is 'unchanged'
    # and dropped; the untouched year=2024 partition never appears
    f"""SELECT k, v, amt, CAST(year AS INT) AS year,
               'deleted' AS change_type
        FROM {_PC_V0} WHERE k = 4
        UNION ALL
        SELECT CAST(7 AS INT), 'g', 7e0, 2026, 'inserted'""",
)
def acid_table_changes_partitioned(spark, sf_dir):
    """Change data feed over a HIVE-PARTITIONED ACID table
    (acid.table_changes on a partition_by=['year'] table): a DELETE
    rewrites only the year=2025 file and an APPEND adds a year=2026
    partition; the version-range diff reads only the files that
    entered or left the live set — the untouched year=2024 partition
    is never opened — and re-injects the partition column from the
    hive paths of BOTH layouts. Idempotent via app_txn_ids."""
    acid.delete_where(
        spark, _PC_ROOT, "k = 4", app_txn_id="corpus-acid-pcdf-del-v1"
    )
    acid.append(
        spark.createDataFrame(
            [(7, "g", 7.0, 2026)], "k int, v string, amt double, year int"
        ),
        _PC_ROOT,
        app_txn_id="corpus-acid-pcdf-add-v1",
    )
    return acid.table_changes(spark, _PC_ROOT, 0, 2, keys=["k"]).select(
        "k", "v", "amt", "year", "change_type"
    )


@register(
    "acid_delete_where",
    f"""SELECT k, v, amt FROM {_DL_V0} WHERE NOT (k = 4)""",
)
def acid_delete_where(spark, sf_dir):
    """Transactional DELETE (acid.delete_where): predicate k = 4 touches
    only the data file holding keys 4/5 — that file is rewritten with
    its survivor (5), the file holding 1/2/3 survives by reference.
    Idempotent via app_txn_id; the oracle filters the v0 snapshot files
    with the negated predicate."""
    acid.delete_where(
        spark, _DL_ROOT, "k = 4", app_txn_id="corpus-acid-delete-v1"
    )
    return acid.read_snapshot(spark, _DL_ROOT).select("k", "v", "amt")
