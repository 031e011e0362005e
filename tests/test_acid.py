"""ACID table format (sources/acid.py): atomic commits, snapshot
isolation / time travel, file-pruned MERGE and DELETE copy-on-write,
optimistic-concurrency conflict detection, idempotent replay, vacuum."""

from __future__ import annotations

import json
import os

import pytest

from financial_data_lakehouse_pipeline__spark.sources import acid


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, amt double")


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "acid_table")


def test_create_append_time_travel(spark, root):
    v0 = acid.create_table(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]), root)
    v1 = acid.append(_mk(spark, [(3, "c", 3.0)]), root)
    assert (v0, v1) == (0, 1)
    assert acid.latest_version(root) == 1
    # latest
    got = sorted(r["k"] for r in acid.read_snapshot(spark, root).collect())
    assert got == [1, 2, 3]
    # time travel to v0
    got0 = sorted(
        r["k"] for r in acid.read_snapshot(spark, root, version=0).collect()
    )
    assert got0 == [1, 2]
    # time travel by timestamp: just after v0's commit_ts
    entries = acid._read_log(root)
    ts0 = entries[0]["commit_ts"]
    got_ts = sorted(
        r["k"]
        for r in acid.read_snapshot(spark, root, timestamp=ts0).collect()
    )
    assert got_ts == [1, 2]
    with pytest.raises(acid.NoSuchVersionError):
        acid.read_snapshot(spark, root, timestamp=ts0 - 1000.0)
    with pytest.raises(acid.NoSuchVersionError):
        acid.read_snapshot(spark, root, version=99)


def test_append_schema_drift_rejected(spark, root):
    acid.create_table(_mk(spark, [(1, "a", 1.0)]), root)
    bad = spark.createDataFrame([(2, "b")], "k int, v string")
    with pytest.raises(ValueError, match="schema drift"):
        acid.append(bad, root)


def test_merge_upsert_semantics_and_file_pruning(spark, root):
    # two separate appends -> at least two data files; merge touches only
    # the file(s) holding matched keys
    acid.create_table(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]), root)
    acid.append(_mk(spark, [(10, "x", 10.0), (11, "y", 11.0)]), root)
    files_before = set(acid.snapshot_files(root))
    assert len(files_before) >= 2
    updates = _mk(spark, [(2, "B!", 20.0), (99, "new", 99.0)])
    acid.merge(spark, root, updates, ["k"])
    got = {r["k"]: (r["v"], r["amt"]) for r in
           acid.read_snapshot(spark, root).collect()}
    assert got == {
        1: ("a", 1.0), 2: ("B!", 20.0),
        10: ("x", 10.0), 11: ("y", 11.0), 99: ("new", 99.0),
    }
    # file pruning: the v1 append files (keys 10,11 — unmatched) must
    # survive BY REFERENCE in the new snapshot
    entries = acid._read_log(root)
    removed = set(entries[-1]["removes"])
    files_after = set(acid.snapshot_files(root))
    v1_files = set(entries[1]["adds"])
    assert v1_files & files_after == v1_files  # untouched, still live
    assert removed and removed.isdisjoint(v1_files)


def test_merge_conflict_detection(spark, root, monkeypatch):
    acid.create_table(_mk(spark, [(1, "a", 1.0)]), root)
    # simulate a concurrent writer landing between merge's snapshot read
    # and its commit: patch _write_data to append first
    real_write = acid._write_data

    def race_write(df, r, hint, **kw):
        out = real_write(df, r, hint, **kw)
        # interleave a concurrent append once, then restore
        monkeypatch.setattr(acid, "_write_data", real_write)
        acid.append(_mk(spark, [(7, "z", 7.0)]), r)
        return out

    monkeypatch.setattr(acid, "_write_data", race_write)
    with pytest.raises(acid.ConcurrentCommitError):
        acid.merge(spark, root, _mk(spark, [(1, "A", 5.0)]), ["k"])
    # the table is intact: the interleaved append won, merge left no trace
    got = sorted(r["k"] for r in acid.read_snapshot(spark, root).collect())
    assert got == [1, 7]


def test_commit_link_race_raises(spark, root, monkeypatch):
    acid.create_table(_mk(spark, [(1, "a", 1.0)]), root)
    # capture the version-0 log BEFORE planting the concurrent entry
    entries_v0 = acid._read_log(root)
    schema = entries_v0[0]["schema"]
    # handcraft a committed version-1 entry occupying the slot
    nxt = acid._entry_path(root, 1)
    with open(nxt, "w") as f:
        json.dump(
            {"version": 1, "op": "append", "adds": [], "removes": [],
             "schema": schema,
             "commit_ts": 0.0, "app_txn_id": None, "op_params": {}},
            f,
        )
    # (a) expected_version mismatch path: the log now shows version 1
    with pytest.raises(acid.ConcurrentCommitError):
        acid._commit(root, "merge", [], [], "{}", expected_version=0)
    # (b) the atomic-link race itself: freeze _commit's view of the log
    # at version 0 so it targets the occupied slot — os.link must lose
    monkeypatch.setattr(acid, "_read_log", lambda r: list(entries_v0))
    with pytest.raises(acid.ConcurrentCommitError):
        acid._commit(root, "merge", [], [], "{}", expected_version=0)
    # the loser's temp file was cleaned up
    leftovers = [
        n for n in os.listdir(acid._log_dir(root)) if n.startswith(".tmp-")
    ]
    assert leftovers == []


def test_concurrent_appends_all_land(spark, root):
    """8 threads blind-append concurrently: the atomic-link race
    serializes them, every append lands exactly once (versions 1..8),
    no rows lost or duplicated — the optimistic-retry loop under real
    contention, not a monkeypatched interleave."""
    import threading

    acid.create_table(_mk(spark, [(0, "z", 0.0)]), root)
    errs: list[Exception] = []

    def worker(i: int) -> None:
        try:
            acid.append(_mk(spark, [(i, f"w{i}", float(i))]), root)
        except Exception as e:  # noqa: BLE001 - assert below
            errs.append(e)

    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(1, 9)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    assert acid.latest_version(root) == 8
    got = sorted(r["k"] for r in acid.read_snapshot(spark, root).collect())
    assert got == list(range(9))


def test_torn_trailing_entry_tolerated_mid_log_raises(spark, root):
    acid.create_table(_mk(spark, [(1, "a", 1.0)]), root)
    acid.append(_mk(spark, [(2, "b", 2.0)]), root)
    # a torn (empty) TRAILING entry — e.g. a table copied mid-write by a
    # non-atomic tool — is treated as uncommitted: reads keep working
    open(acid._entry_path(root, 2), "w").close()
    assert acid.latest_version(root) == 1
    got = sorted(r["k"] for r in acid.read_snapshot(spark, root).collect())
    assert got == [1, 2]
    # but corruption in the MIDDLE of the log fails loudly
    open(acid._entry_path(root, 1), "w").close()
    with pytest.raises(acid.CorruptLogError):
        acid._read_log(root)


def test_append_retry_revalidates_schema(spark, root, monkeypatch):
    # a concurrent OVERWRITE with a different schema lands between
    # append's data write and its commit: append must refuse to commit
    # mismatched files, not stamp its own schema over the new table
    acid.create_table(_mk(spark, [(1, "a", 1.0)]), root)
    real_write = acid._write_data

    def race_write(df, r, hint, **kw):
        out = real_write(df, r, hint, **kw)
        monkeypatch.setattr(acid, "_write_data", real_write)
        acid.create_table(
            spark.createDataFrame([(1, 2.5)], "k int, other double"), r
        )
        return out

    monkeypatch.setattr(acid, "_write_data", race_write)
    with pytest.raises(ValueError, match="schema drift"):
        acid.append(_mk(spark, [(3, "c", 3.0)]), root)
    # the overwrite won; the failed append left no committed trace
    assert acid.latest_version(root) == 1
    assert [f.name for f in acid.read_snapshot(spark, root).schema.fields] \
        == ["k", "other"]


def test_nullability_only_drift_accepted(spark, root):
    from pyspark.sql import types as T

    strict = T.StructType([
        T.StructField("k", T.IntegerType(), nullable=False),
        T.StructField("v", T.StringType(), nullable=False),
    ])
    df_strict = spark.createDataFrame([(1, "a")], strict)
    acid.create_table(df_strict, root)
    # a parquet re-read comes back all-nullable — append must accept it
    relaxed = spark.createDataFrame([(2, "b")], "k int, v string")
    assert [f.nullable for f in relaxed.schema.fields] == [True, True]
    v = acid.append(relaxed, root)
    assert v == 1
    # recorded table schema widened to nullable; real drift still rejected
    snap = acid.read_snapshot(spark, root)
    assert sorted(r["k"] for r in snap.collect()) == [1, 2]
    assert [f.nullable for f in snap.schema.fields] == [True, True]
    with pytest.raises(ValueError, match="schema drift"):
        acid.append(spark.createDataFrame([(3,)], "k int"), root)


def test_idempotent_replay(spark, root):
    acid.create_table(_mk(spark, [(1, "a", 1.0)]), root)
    v = acid.append(_mk(spark, [(2, "b", 2.0)]), root, app_txn_id="batch-7")
    assert v == 1
    # replaying the same app txn is a no-op (returns -1, no new version)
    v2 = acid.append(_mk(spark, [(2, "b", 2.0)]), root, app_txn_id="batch-7")
    assert v2 == -1
    assert acid.latest_version(root) == 1
    assert acid.read_snapshot(spark, root).count() == 2


def test_delete_where_and_empty_snapshot_schema(spark, root):
    acid.create_table(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]), root)
    acid.delete_where(spark, root, "k >= 1")  # delete everything
    snap = acid.read_snapshot(spark, root)
    assert snap.count() == 0
    assert [f.name for f in snap.schema.fields] == ["k", "v", "amt"]
    # prior version still readable (time travel across the delete)
    assert acid.read_snapshot(spark, root, version=0).count() == 2


def test_vacuum_removes_aged_out_and_orphans(spark, root):
    acid.create_table(_mk(spark, [(1, "a", 1.0)]), root)
    acid.create_table(_mk(spark, [(2, "b", 2.0)]), root)  # overwrite: v1
    # plant a crash orphan (data written, never logged)
    orphan_dir = os.path.join(root, "data", "v9-orphan")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-orphan.parquet")
    open(orphan, "wb").write(b"not parquet")
    # retention window: everything here is seconds old, so a default
    # vacuum deletes NOTHING — an in-flight writer's staged (not yet
    # committed) data files must survive
    assert acid.vacuum(root, keep_versions=1) == []
    assert os.path.exists(orphan)
    assert acid.read_snapshot(spark, root).count() == 1
    # min_age_seconds=0 opts out (no active writers in this test)
    deleted = acid.vacuum(root, keep_versions=1, min_age_seconds=0)
    assert any("orphan" in d for d in deleted)
    v0_files = set(acid._read_log(root)[0]["adds"])
    assert v0_files & set(deleted) == v0_files  # aged-out v0 data gone
    # latest snapshot unharmed
    assert acid.read_snapshot(spark, root).count() == 1
    # v0 data is gone, but the log remembers the history
    assert acid.history(spark, root).count() == 2


def test_checkpoint_resolution_and_auto(spark, root, monkeypatch):
    """Checkpoints: snapshot resolution from a checkpoint + log suffix
    equals full replay; one is taken automatically every
    CHECKPOINT_EVERY commits; a corrupt checkpoint silently falls back."""
    monkeypatch.setattr(acid, "CHECKPOINT_EVERY", 4)
    acid.create_table(_mk(spark, [(0, "a", 0.0)]), root)  # v0
    for i in range(1, 6):  # v1..v5 — auto checkpoint fires at v4
        acid.append(_mk(spark, [(i, "x", float(i))]), root)
    cps = [n for n in os.listdir(acid._log_dir(root))
           if n.endswith(".checkpoint")]
    assert cps == ["00000004.checkpoint"]
    entries = acid._read_log(root)
    # checkpointed resolution == raw replay, at several versions
    for v in (4, 5):
        assert acid._resolve(root, entries, v) == \
            acid._resolve_files(entries, v)
    # resolution BEFORE the checkpoint ignores it (falls back to replay)
    assert acid._resolve(root, entries, 2) == acid._resolve_files(entries, 2)
    assert sorted(
        r["k"] for r in acid.read_snapshot(spark, root, version=2).collect()
    ) == [0, 1, 2]
    # manual checkpoint at an explicit version
    assert acid.checkpoint(root, 5) == 5
    # a corrupt checkpoint is ignored, not fatal
    open(acid._checkpoint_path(root, 5), "w").write("{broken")
    assert sorted(
        r["k"] for r in acid.read_snapshot(spark, root).collect()
    ) == [0, 1, 2, 3, 4, 5]


def test_stale_commit_tmp_file_is_ignored(spark, root):
    """A crashed commit's leftover .tmp-*.json (payload written, link
    never happened) sorts BEFORE the numbered entries — _read_log must
    not parse it as an entry (it is uncommitted) and vacuum reaps it
    after the retention window."""
    acid.create_table(_mk(spark, [(1, "a", 1.0)]), root)
    stale = os.path.join(acid._log_dir(root), ".tmp-00000001-deadbeef.json")
    open(stale, "w").write('{"version": 1, "adds": ["bogus"]}')
    entries = acid._read_log(root)
    assert [e["version"] for e in entries] == [0]
    assert acid.latest_version(root) == 0
    # next commit is unaffected
    acid.append(_mk(spark, [(2, "b", 2.0)]), root)
    assert acid.latest_version(root) == 1
    # vacuum reaps the stale tmp once aged out
    deleted = acid.vacuum(root, keep_versions=10, min_age_seconds=0)
    assert any(d.endswith("deadbeef.json") for d in deleted)
    assert not os.path.exists(stale)


def test_optimize_compacts_preserving_rows(spark, root):
    """OPTIMIZE: many small files -> fewer files, identical rows, prior
    versions still time-travelable, concurrent-safe version pinning."""
    acid.create_table(_mk(spark, [(0, "a", 0.0)]), root)
    for i in range(1, 5):
        acid.append(_mk(spark, [(i, "x", float(i))]), root)
    before_files = acid.snapshot_files(root)
    before_rows = sorted(
        (r["k"], r["v"], r["amt"])
        for r in acid.read_snapshot(spark, root).collect()
    )
    assert len(before_files) >= 5
    v = acid.optimize(spark, root, target_file_bytes=10 * 1024 * 1024)
    assert v == 5
    after_files = acid.snapshot_files(root)
    assert len(after_files) < len(before_files)
    after_rows = sorted(
        (r["k"], r["v"], r["amt"])
        for r in acid.read_snapshot(spark, root).collect()
    )
    assert after_rows == before_rows  # logically a no-op
    # time travel across the optimize still sees the old snapshot
    assert sorted(
        r["k"] for r in acid.read_snapshot(spark, root, version=1).collect()
    ) == [0, 1]
    # everything fits one target-sized file now -> nothing to compact
    assert acid.optimize(spark, root, target_file_bytes=10 * 1024 * 1024) == 5
    h = {r["version"]: r["op"] for r in acid.history(spark, root).collect()}
    assert h[5] == "optimize"


def _footer_range(root, rel, col):
    """(min, max) of ``col`` over every row group of one data file, read
    from its parquet footer."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(os.path.join(root, rel)).metadata
    i = md.schema.names.index(col)
    stats = [md.row_group(g).column(i).statistics for g in range(md.num_row_groups)]
    return min(st.min for st in stats), max(st.max for st in stats)


def test_optimize_zorder_enables_second_dim_skipping(spark, root):
    """OPTIMIZE ZORDER: after re-clustering by (k, amt2), per-file
    stats are narrow in BOTH dimensions — a predicate on the SECOND
    dimension prunes files that the unclustered layout could not."""
    import random

    rng = random.Random(7)
    rows = [
        (i, f"r{i}", float(rng.randrange(0, 1000)))
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "k int, v string, amt double")
    acid.create_table(df.repartition(4), root)
    # pre-clustering: hash-distributed files -> every file spans nearly
    # the full amt range, so an amt band prunes NOTHING
    before = acid.pruned_files(root, [("amt", ">=", 900.0)])
    assert set(before) == set(acid.snapshot_files(root))
    n_before = len(acid.snapshot_files(root))
    assert n_before >= 4
    rows_before = sorted(
        (r["k"], r["amt"]) for r in acid.read_snapshot(spark, root).collect()
    )
    acid.optimize(spark, root, target_file_bytes=8 * 1024, zorder=("k", "amt"))
    after_files = acid.snapshot_files(root)
    assert len(after_files) >= 3  # still multiple files to prune among
    # the parquet footers' min/max are narrow in BOTH dimensions at once
    # (a sort on k would leave every file spanning the full amt range)
    for col, span in (("k", 2000), ("amt", 1000)):
        cover = [_footer_range(root, f, col) for f in after_files]
        assert sum((hi - lo + 1) / span for lo, hi in cover) / len(cover) < 0.75, col
    kept = acid.pruned_files(root, [("amt", ">=", 900.0)])
    assert len(kept) < len(after_files)  # second-dim pruning now works
    # logically a no-op: identical rows, and the scan result is exact
    rows_after = sorted(
        (r["k"], r["amt"]) for r in acid.read_snapshot(spark, root).collect()
    )
    assert rows_after == rows_before
    got = sorted(
        r["k"]
        for r in acid.scan(spark, root, [("amt", ">=", 900.0)]).collect()
    )
    want = sorted(k for k, _v, amt in rows if amt >= 900.0)
    assert got == want
    h = acid._read_log(root)[-1]
    assert h["op_params"]["zorder"] == ["k", "amt"]


def test_optimize_zorder_on_partitioned_table(spark, root):
    """ZORDER on a partitioned table clusters WITHIN partitions
    (Delta's semantics): the rewrite must not fan out to n_out×P
    files, rows are preserved, and per-file stats on the z columns
    stay narrow enough to prune inside a partition's file set."""
    import random

    rng = random.Random(11)
    rows = [
        (i, f"p{i % 3}", float(rng.randrange(0, 1000)))
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "k int, part string, amt double")
    acid.create_table(df.repartition(8), root, partition_by=["part"])
    n_before = len(acid.snapshot_files(root))
    assert n_before >= 8
    acid.optimize(spark, root, target_file_bytes=8 * 1024,
                  zorder=("k", "amt"))
    after = acid.snapshot_files(root)
    # no per-task × per-partition explosion
    assert len(after) <= n_before
    snap = sorted(
        (r["k"], r["part"], r["amt"])
        for r in acid.read_snapshot(spark, root).collect()
    )
    assert snap == sorted(rows)
    # amt band predicate prunes at least the files of partitions whose
    # z-segments don't cover the band
    kept = acid.pruned_files(root, [("amt", ">=", 900.0)])
    assert len(kept) < len(after)
    got = sorted(
        r["k"]
        for r in acid.scan(spark, root, [("amt", ">=", 900.0)]).collect()
    )
    assert got == sorted(k for k, _p, amt in rows if amt >= 900.0)


def test_restore_rolls_back_as_new_commit(spark, root):
    acid.create_table(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]), root)  # v0
    acid.append(_mk(spark, [(3, "c", 3.0)]), root)                        # v1
    acid.delete_where(spark, root, "k <= 2")                              # v2
    assert sorted(
        r["k"] for r in acid.read_snapshot(spark, root).collect()
    ) == [3]
    v = acid.restore(root, 0)                                             # v3
    assert v == 3
    assert sorted(
        r["k"] for r in acid.read_snapshot(spark, root).collect()
    ) == [1, 2]
    # history preserved: the deleted state is still time-travelable
    assert sorted(
        r["k"] for r in acid.read_snapshot(spark, root, version=2).collect()
    ) == [3]
    h = {r["version"]: r["op"] for r in acid.history(spark, root).collect()}
    assert h[3] == "restore"
    # roll FORWARD by restoring to the pre-restore head
    acid.restore(root, 2)
    assert sorted(
        r["k"] for r in acid.read_snapshot(spark, root).collect()
    ) == [3]
    # restoring to a vacuumed-away version fails loudly
    acid.vacuum(root, keep_versions=1, min_age_seconds=0)
    with pytest.raises(acid.NoSuchVersionError, match="vacuumed"):
        acid.restore(root, 0)


def test_data_skipping_scan(spark, root):
    """Per-file min/max stats recorded at commit time prune files whose
    ranges cannot match; the scan result equals the unpruned filter."""
    acid.create_table(_mk(spark, [(1, "a", 1.0), (2, "b", 2.0)]), root)
    acid.append(_mk(spark, [(10, "x", 10.0), (11, "y", 11.0)]), root)
    acid.append(_mk(spark, [(20, "z", 20.0)]), root)
    all_files = acid.snapshot_files(root)
    assert len(all_files) >= 3
    # stats landed in the log for every data file
    entries = acid._read_log(root)
    assert all(e.get("stats") for e in entries)
    # k >= 10 AND k <= 11 proves only the middle commit's file(s) match
    kept = acid.pruned_files(root, [("k", ">=", 10), ("k", "<=", 11)])
    assert set(kept) == set(entries[1]["adds"])
    got = sorted(
        r["k"]
        for r in acid.scan(
            spark, root, [("k", ">=", 10), ("k", "<=", 11)]
        ).collect()
    )
    assert got == [10, 11]
    # equality predicate; no file can match -> empty scan, schema intact
    assert acid.pruned_files(root, [("k", "==", 15)]) == []
    empty = acid.scan(spark, root, [("k", "==", 15)])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "v", "amt"]
    # string stats prune too
    kept_v = acid.pruned_files(root, [("v", ">=", "x")])
    assert set(kept_v) == set(entries[1]["adds"]) | set(entries[2]["adds"])
    # a file committed WITHOUT stats is never pruned (conservative)
    nostats = acid._read_log(root)
    assert acid._file_may_match(None, "k", "==", 999) is True
    assert nostats  # silence lint


def test_restore_and_scan_residual_filter_consistency(spark, root):
    """scan()'s residual filter applies even when stats keep a file:
    rows outside the predicate inside a kept file are filtered."""
    acid.create_table(_mk(spark, [(1, "a", 1.0), (9, "b", 9.0)]), root)
    got = sorted(
        r["k"] for r in acid.scan(spark, root, [("k", ">", 5)]).collect()
    )
    assert got == [9]


def test_append_merge_schema_additive_evolution(spark, root):
    """merge_schema=True: a new nullable column joins the table schema;
    historical files NULL-fill it; type changes are still drift."""
    acid.create_table(_mk(spark, [(1, "a", 1.0)]), root)
    evolved = spark.createDataFrame(
        [(2, "b", 2.0, "EU")], "k int, v string, amt double, region string"
    )
    # without the flag: rejected
    with pytest.raises(ValueError, match="schema drift"):
        acid.append(evolved, root)
    v = acid.append(evolved, root, merge_schema=True)
    assert v == 1
    snap = acid.read_snapshot(spark, root)
    assert [f.name for f in snap.schema.fields] == ["k", "v", "amt", "region"]
    got = {r["k"]: r["region"] for r in snap.collect()}
    assert got == {1: None, 2: "EU"}  # old file NULL-fills the new column
    # time travel to v0 keeps the OLD schema
    s0 = acid.read_snapshot(spark, root, version=0)
    assert [f.name for f in s0.schema.fields] == ["k", "v", "amt"]
    # a type CHANGE is still drift even with merge_schema
    bad = spark.createDataFrame(
        [("x", "y", 1.0, "EU")], "k string, v string, amt double, region string"
    )
    with pytest.raises(ValueError, match="schema drift"):
        acid.append(bad, root, merge_schema=True)
    # missing existing columns are drift too (evolution is additive-only)
    narrower = spark.createDataFrame([(3,)], "k int")
    with pytest.raises(ValueError, match="schema drift"):
        acid.append(narrower, root, merge_schema=True)
    # subsequent plain append must carry the evolved schema
    more = spark.createDataFrame(
        [(3, "c", 3.0, None)], "k int, v string, amt double, region string"
    )
    acid.append(more, root)
    assert acid.read_snapshot(spark, root).count() == 3


def test_table_changes_cdf(spark, root):
    """table_changes: derived change feed between versions reads only
    added/removed files; keyed mode labels insert/update/delete."""
    acid.create_table(
        _mk(spark, [(1, "a", 1.0), (2, "b", 2.0), (10, "x", 10.0)]), root
    )  # v0
    acid.merge(
        spark, root,
        _mk(spark, [(2, "B!", 20.0), (99, "new", 99.0)]), ["k"],
    )  # v1: update k=2, insert k=99 (k=1 rewritten unchanged, k=10 untouched)
    acid.delete_where(spark, root, "k = 10")  # v2

    ch = {
        r["k"]: r["change_type"]
        for r in acid.table_changes(spark, root, 0, 2, keys=["k"]).collect()
    }
    assert ch == {2: "updated", 99: "inserted", 10: "deleted"}
    # k=1 was rewritten verbatim by the COW merge -> 'unchanged', dropped

    # row-multiset mode (no keys): deletes from removed files + inserts
    # from added files, k=1 appearing on both sides
    rows = acid.table_changes(spark, root, 0, 2).collect()
    by_type: dict[str, set] = {}
    for r in rows:
        by_type.setdefault(r["change_type"], set()).add(r["k"])
    assert by_type["inserted"] >= {2, 99}
    assert by_type["deleted"] >= {2, 10}
    # version range validation
    with pytest.raises(acid.NoSuchVersionError):
        acid.table_changes(spark, root, 0, 99, keys=["k"])


def test_history_shape(spark, root):
    acid.create_table(_mk(spark, [(1, "a", 1.0)]), root)
    acid.append(_mk(spark, [(2, "b", 2.0)]), root, app_txn_id="t1")
    h = {r["version"]: r for r in acid.history(spark, root).collect()}
    assert h[0]["op"] == "overwrite" and h[1]["op"] == "append"
    assert h[1]["app_txn_id"] == "t1"
    assert h[1]["n_adds"] >= 1 and h[1]["n_removes"] == 0


def test_torn_trailing_entry_does_not_wedge_writers(spark, root):
    """A torn trailing entry squats on the next version's path; before
    round 10 append's retry loop spun on it forever. _commit must raise
    CorruptLogError (non-retryable) and repair_torn_log must clear it."""
    acid.create_table(_mk(spark, [(1, "a", 1.0)]), root)
    open(acid._entry_path(root, 1), "w").close()  # torn: empty file
    assert acid.latest_version(root) == 0  # readers tolerate it
    with pytest.raises(acid.CorruptLogError, match="repair_torn_log"):
        acid.append(_mk(spark, [(2, "b", 2.0)]), root)
    # repair removes exactly the torn entry, then writes flow again
    assert acid.repair_torn_log(root) == "00000001.json"
    assert acid.repair_torn_log(root) is None  # healthy log: no-op
    assert acid.append(_mk(spark, [(2, "b", 2.0)]), root) == 1
    got = sorted(r["k"] for r in acid.read_snapshot(spark, root).collect())
    assert got == [1, 2]


def test_append_validates_schema_under_commit_log_read(spark, root):
    """The narrowest TOCTOU: an overwrite with a DIFFERENT schema lands
    between append's last log read and the link. schema_fn moves the
    validation onto _commit's own read, so the retry after the lost
    link race re-validates against the new head and raises drift —
    never stamping a schema validated against a stale head."""
    acid.create_table(_mk(spark, [(1, "a", 1.0)]), root)
    real_link = os.link
    state = {"fired": False}

    def racing_link(src, dst):
        if not state["fired"] and "00000001.json" in dst:
            state["fired"] = True  # the racer wins version 1 first
            acid.create_table(
                spark.createDataFrame([(1, 2.5)], "k int, other double"),
                root,
            )
        return real_link(src, dst)

    import builtins  # noqa: F401  (monkeypatch target is the os module)

    try:
        os.link = racing_link
        with pytest.raises(ValueError, match="schema drift"):
            acid.append(_mk(spark, [(3, "c", 3.0)]), root)
    finally:
        os.link = real_link
    assert state["fired"]
    # the overwrite won; the failed append left no committed trace
    assert acid.latest_version(root) == 1
    assert [f.name for f in acid.read_snapshot(spark, root).schema.fields] \
        == ["k", "other"]


def test_collect_stats_poisons_partial_row_group_stats(root):
    """A column whose min/max are absent in ANY row group (pyarrow drops
    stats for oversized string values) must carry NO file-level stats —
    recording the other row groups' range would let pruned_files skip a
    file that actually contains matching rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    rel = "data/mixed.parquet"
    big = "z" * 100_000  # beyond parquet-cpp's stats size cutoff
    t1 = pa.table({"k": [1, 2], "v": ["a", "b"]})
    t2 = pa.table({"k": [3, 4], "v": [big, big]})
    w = pq.ParquetWriter(os.path.join(root, rel), t1.schema)
    w.write_table(t1)
    w.write_table(t2)
    w.close()
    stats = acid._collect_stats(root, [rel])
    # k has healthy stats in both row groups: merged across groups
    assert stats[rel]["k"] == {"min": 1, "max": 4, "nulls": 0}
    # v's row group 1 stats were dropped by the writer: POISONED —
    # with rg0's ('a','b') recorded, a predicate v == 'zzz…' would
    # wrongly prune this file even though rg1 matches
    assert "v" not in stats[rel]
    assert acid._file_may_match(stats[rel], "v", "==", big) is True


def test_partitioned_table_lifecycle(spark, root):
    """Hive-partitioned ACID table: create/append write col=val layout,
    partition pruning drops whole partitions BEFORE stats, reads
    re-inject partition columns from paths, and merge/delete/optimize
    preserve the partitioning."""
    df = spark.createDataFrame(
        [(1, "a", 2024), (2, "b", 2024), (3, "c", 2025)],
        "k int, v string, year int",
    )
    acid.create_table(df, root, partition_by=["year"])
    acid.append(
        spark.createDataFrame([(4, "d", 2026)], "k int, v string, year int"),
        root,
    )
    entries = acid._read_log(root)
    assert entries[-1]["partition_by"] == ["year"]
    # layout: every data file sits under a year=<val> dir
    assert all("year=" in f for f in acid.snapshot_files(root))
    # partition values logged per file
    pv = {
        rel: vals
        for e in entries
        for rel, vals in e["partitions"].items()
    }
    assert set(v["year"] for v in pv.values()) == {"2024", "2025", "2026"}
    # read re-injects the partition column with the declared type
    snap = acid.read_snapshot(spark, root)
    assert dict(snap.dtypes)["year"] == "int"
    assert sorted((r.k, r.year) for r in snap.collect()) == [
        (1, 2024), (2, 2024), (3, 2025), (4, 2026)
    ]
    # partition pruning: year == 2025 keeps exactly the 2025 files
    kept = acid.pruned_files(root, [("year", "==", 2025)])
    assert kept and all("year=2025" in f for f in kept)
    assert [r.k for r in acid.scan(spark, root, [("year", "==", 2025)]).collect()] == [3]
    # range predicate prunes too
    kept_ge = acid.pruned_files(root, [("year", ">=", 2026)])
    assert kept_ge and all("year=2026" in f for f in kept_ge)
    # stats skipping still composes on non-partition columns
    assert acid.scan(spark, root, [("k", ">=", 4)]).count() == 1

    # merge preserves partitioning (updated k=3 moves value, k=9 inserts)
    acid.merge(
        spark, root,
        spark.createDataFrame([(3, "C", 2025), (9, "z", 2027)],
                              "k int, v string, year int"),
        keys=["k"],
    )
    assert all("year=" in f for f in acid.snapshot_files(root))
    got = {r.k: (r.v, r.year) for r in acid.read_snapshot(spark, root).collect()}
    assert got[3] == ("C", 2025) and got[9] == ("z", 2027) and len(got) == 5
    # new partition 2027 visible to pruning
    assert all("year=2027" in f
               for f in acid.pruned_files(root, [("year", "==", 2027)]))

    # delete a whole partition; pruning now proves it empty
    acid.delete_where(spark, root, "year = 2024")
    assert acid.pruned_files(root, [("year", "==", 2024)]) == []
    assert acid.read_snapshot(spark, root).count() == 3

    # optimize keeps layout + rows
    v = acid.optimize(spark, root, target_file_bytes=1 << 30)
    if v > 0:  # compacted (>=2 small files existed)
        assert all("year=" in f for f in acid.snapshot_files(root))
    assert acid.read_snapshot(spark, root).count() == 3
    # time travel still sees the pre-merge table with partition cols
    assert acid.read_snapshot(spark, root, version=1).count() == 4


def test_partitioned_null_partition_value(spark, root):
    """NULL partition values round-trip (__HIVE_DEFAULT_PARTITION__)
    and are pruned by any comparison predicate (SQL three-valued
    logic: NULL never satisfies ==/</>)."""
    df = spark.createDataFrame(
        [(1, 2024), (2, None)], "k int, year int"
    )
    acid.create_table(df, root, partition_by=["year"])
    snap = {(r.k, r.year) for r in acid.read_snapshot(spark, root).collect()}
    assert snap == {(1, 2024), (2, None)}
    kept = acid.pruned_files(root, [("year", "==", 2024)])
    assert all("year=2024" in f for f in kept)
    assert not any("__HIVE_DEFAULT_PARTITION__" in f for f in kept)


def test_append_partitioning_drift_rejected(spark, root):
    """An append racing a re-create that CHANGED the partitioning must
    not commit its differently-laid-out files."""
    df = spark.createDataFrame([(1, 2024)], "k int, year int")
    acid.create_table(df, root, partition_by=["year"])
    real_collect = acid._collect_stats

    def race_stats(r, rels):
        out = real_collect(r, rels)
        acid._collect_stats = real_collect
        acid.create_table(df, root)  # re-created UNpartitioned
        return out

    acid._collect_stats = race_stats
    try:
        with pytest.raises(ValueError, match="partitioning drift"):
            acid.append(df, root)
    finally:
        acid._collect_stats = real_collect
    assert acid._read_log(root)[-1]["partition_by"] == []


def test_restore_across_partitioning_change_mixes_layouts(spark, root):
    """RESTORE can resurrect a partitioned version after an
    unpartitioned re-create: the snapshot then resolves files from a
    hive-layout version dir, and _read_files re-injects the partition
    column for exactly those files while reading plain files directly."""
    df = spark.createDataFrame(
        [(1, 2024), (2, 2025)], "k int, year int"
    )
    acid.create_table(df, root, partition_by=["year"])       # v0 partitioned
    acid.create_table(df, root)                               # v1 plain
    v = acid.restore(root, 0)                                 # v2 = v0's files
    assert v == 2
    assert acid._read_log(root)[-1]["partition_by"] == ["year"]
    snap = {(r.k, r.year) for r in acid.read_snapshot(spark, root).collect()}
    assert snap == {(1, 2024), (2, 2025)}
    # partition pruning works again on the restored head
    kept = acid.pruned_files(root, [("year", "==", 2025)])
    assert kept and all("year=2025" in f for f in kept)


def test_partitioned_string_values_with_special_chars(spark, root):
    """String partition columns round-trip through hive path escaping
    (spaces/colons are percent-encoded in the path; the log stores the
    DECODED value so pruning compares real strings)."""
    df = spark.createDataFrame(
        [(1, "north america"), (2, "emea:west")], "k int, region string"
    )
    acid.create_table(df, root, partition_by=["region"])
    pv = acid._read_log(root)[-1]["partitions"]
    assert sorted(v["region"] for v in pv.values()) == [
        "emea:west", "north america"
    ]
    snap = {(r.k, r.region) for r in acid.read_snapshot(spark, root).collect()}
    assert snap == {(1, "north america"), (2, "emea:west")}
    kept = acid.pruned_files(root, [("region", "==", "north america")])
    assert len(kept) == 1 and "north" in kept[0]


def test_merge_and_delete_on_escaped_partition_values(spark, root):
    """merge() and delete_where() must survive hive-escaped partition
    dirs: _metadata.file_path comes back URL-encoded ('north america' →
    'north%20america', on-disk 'emea%3Awest' → 'emea%253Awest'), and
    the touched-file rel-path conversion must percent-decode before
    resolving against the table root (was: PATH_NOT_FOUND)."""
    df = spark.createDataFrame(
        [(1, 10, "north america"), (2, 20, "emea:west"), (3, 30, "apac")],
        "k int, v int, region string",
    )
    acid.create_table(df, root, partition_by=["region"])
    upd = spark.createDataFrame(
        [(1, 11, "north america"), (4, 40, "emea:west")],
        "k int, v int, region string",
    )
    acid.merge(spark, root, upd, keys=["k"])
    snap = {
        (r.k, r.v, r.region)
        for r in acid.read_snapshot(spark, root).collect()
    }
    assert snap == {
        (1, 11, "north america"), (2, 20, "emea:west"),
        (3, 30, "apac"), (4, 40, "emea:west"),
    }
    acid.delete_where(spark, root, "region = 'emea:west' AND v >= 40")
    snap = {
        (r.k, r.v, r.region)
        for r in acid.read_snapshot(spark, root).collect()
    }
    assert snap == {
        (1, 11, "north america"), (2, 20, "emea:west"), (3, 30, "apac"),
    }


def test_foreign_json_squatter_raises_not_spins(spark, root):
    """A foreign file at the next version path that PARSES as JSON but
    lacks log-entry shape must raise CorruptLogError (not spin append's
    retry loop as a phantom ConcurrentCommitError), and
    repair_torn_log must remove it."""
    df = spark.createDataFrame([(1,)], "k int")
    acid.create_table(df, root)
    squat = acid._entry_path(root, 1)
    with open(squat, "w") as f:
        f.write('{"hello": "world"}')
    # readers tolerate it as uncommitted
    assert acid._read_log(root)[-1]["version"] == 0
    with pytest.raises(acid.CorruptLogError):
        acid.append(df, root)
    assert acid.repair_torn_log(root) == os.path.basename(squat)
    assert acid.append(df, root) == 1


def test_scan_dpp_prunes_from_dim_values(spark, root):
    """Runtime dim-driven pruning: the dim result's distinct keys prune
    the fact file list via logged partition values BEFORE any data
    read; the exact pruned set is observable via pruned_files' "in"
    predicate."""
    fact = spark.createDataFrame(
        [(i, 2024 + (i % 3)) for i in range(9)], "k int, year int"
    )
    acid.create_table(fact, root, partition_by=["year"])
    all_files = acid.snapshot_files(root)
    kept = acid.pruned_files(root, [("year", "in", [2025])])
    assert kept and set(kept) < set(all_files)
    assert all("year=2025" in f for f in kept)
    dim = spark.createDataFrame(
        [(2024, "old"), (2025, "cur"), (2026, "next")], "year int, s string"
    ).filter("s = 'cur'")
    got = {(r.k, r.year) for r in acid.scan_dpp(spark, root, "year", dim).collect()}
    assert got == {(i, 2025) for i in range(9) if i % 3 == 1}
    # empty dim -> empty result, no files read
    empty = dim.filter("s = 'nope'")
    assert acid.scan_dpp(spark, root, "year", empty).count() == 0
    # over-sized dim falls back to the distributed semi join (same rows)
    big = spark.range(0, 5000).selectExpr("CAST(id + 2024 AS INT) AS year")
    got2 = {
        (r.k, r.year)
        for r in acid.scan_dpp(
            spark, root, "year", big, max_dim_values=10
        ).collect()
    }
    assert got2 == {(i, 2024 + (i % 3)) for i in range(9)}
    # unpartitioned table: stats-based IN pruning still bites
    acid.create_table(
        spark.createDataFrame([(1, 10)], "k int, year int"), root + "_u"
    )
    acid.append(spark.createDataFrame([(2, 20)], "k int, year int"), root + "_u")
    kept_u = acid.pruned_files(root + "_u", [("year", "in", [20])])
    assert len(kept_u) == 1


def test_optimize_partitioned_compacts_to_few_files(spark, root):
    """Compaction on a partitioned table must cluster rows by partition
    value before the partitionBy write: the output is one file per
    partition value, never n_out × P small files."""
    acid.create_table(
        spark.createDataFrame(
            [(i, f"p{i % 4}") for i in range(8)], "k int, part string"
        ),
        root, partition_by=["part"],
    )
    for i in range(8, 24):
        acid.append(
            spark.createDataFrame([(i, f"p{i % 4}")], "k int, part string"),
            root,
        )
    before = acid.snapshot_files(root)
    assert len(before) > 8
    acid.optimize(spark, root, target_file_bytes=1 << 20)
    after = acid.snapshot_files(root)
    # exactly one file per partition value
    assert sorted(f.split(os.sep)[2] for f in after) == [f"part=p{i}" for i in range(4)]
    snap = {(r.k, r.part) for r in acid.read_snapshot(spark, root).collect()}
    assert snap == {(i, f"p{i % 4}") for i in range(24)}
