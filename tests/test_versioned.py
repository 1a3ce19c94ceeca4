"""Manifest-versioned tables: MVCC reader isolation, file-granular
copy-on-write commits, crash safety, single-writer enforcement,
reference-counted vacuum (sinks/versioned.py).

The property under test throughout: a READER never needs a lock and
never observes a half-committed state — every read equals exactly one
published snapshot — while a merge COMMIT rewrites only the files
that contain an updated key.
"""

import json
import os
import threading
import time

import pytest

from mc_ns_data_pipeline_spark.session import scoped_conf
from mc_ns_data_pipeline_spark.sinks import versioned as V
from mc_ns_data_pipeline_spark.sinks.lease import (
    TableLockedError,
    table_lease,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_write_read_roundtrip_and_manifest(spark, tmp_path):
    table = str(tmp_path / "t")
    snap = V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == {(1, "a"), (2, "b")}
    man = V.read_manifest(table, snap)
    assert man["rows"] == 2 and man["parent"] is None
    assert man["files"] and man["reused_files"] == 0


def test_read_unpublished_table_raises(spark, tmp_path):
    with pytest.raises(V.NoCurrentSnapshotError):
        V.read_current(spark, str(tmp_path / "missing"))


def test_merge_matches_upsert_contract(spark, tmp_path):
    """Same semantics as upsert.merge_upsert: updated keys win,
    unmatched target rows survive, idempotent on re-apply."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), table)
    batch = _df(spark, [(2, "B"), (4, "D")])
    V.merge_snapshot(spark, batch, table, "k")
    expect = {(1, "a"), (2, "B"), (3, "c"), (4, "D")}
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == expect
    V.merge_snapshot(spark, batch, table, "k")  # idempotent
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == expect


def test_merge_into_empty_table_is_first_publish(spark, tmp_path):
    table = str(tmp_path / "t")
    V.merge_snapshot(spark, _df(spark, [(1, "a")]), table, "k")
    assert V.read_current(spark, table).count() == 1


def test_merge_is_copy_on_write_at_file_granularity(spark, tmp_path):
    """A merge hitting one key range must REUSE every file that holds
    no updated key — by name, in the new manifest — and rewrite only
    the affected ones. This is the bounded-write-amplification
    property the 100 TB table depends on."""
    table = str(tmp_path / "t")
    base = (
        spark.createDataFrame([(i, "base") for i in range(100)],
                              "k int, v string")
        .repartitionByRange(4, "k")  # 4 files, disjoint key ranges
    )
    snap1 = V.write_snapshot(base, table)
    files1 = set(V.read_manifest(table, snap1)["files"])
    assert len(files1) == 4

    snap2 = V.merge_snapshot(
        spark, _df(spark, [(1, "UPD"), (3, "UPD")]), table, "k")
    man2 = V.read_manifest(table, snap2)
    files2 = set(man2["files"])
    # keys 1 and 3 live in ONE range file: 3 of 4 shared forward.
    assert man2["reused_files"] == 3
    assert len(files1 & files2) == 3
    # Incremental row accounting (no full-table scan per commit).
    assert man2["rows"] == 100
    # Content is still the full merged table.
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == {(i, "base") for i in range(100) if i not in (1, 3)} | {
        (1, "UPD"), (3, "UPD")}
    # Old snapshot still reads in full (time travel over shared files).
    assert V.read_snapshot(spark, table, snap1).count() == 100


def test_append_is_zero_rewrite(spark, tmp_path):
    """Append publishes parent-files + new-files: every prior pool
    file is reused by name, none re-read."""
    table = str(tmp_path / "t")
    snap1 = V.write_snapshot(_df(spark, [(1, "a")]), table)
    files1 = set(V.read_manifest(table, snap1)["files"])
    snap2 = V.append_snapshot(_df(spark, [(2, "b"), (3, "c")]), table)
    man2 = V.read_manifest(table, snap2)
    assert files1 < set(man2["files"])
    assert man2["reused_files"] == len(files1)
    assert man2["rows"] == 3
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # Appending to an empty table is the first publish.
    t2 = str(tmp_path / "t2")
    V.append_snapshot(_df(spark, [(9, "z")]), t2)
    assert V.read_current(spark, t2).count() == 1


def test_txn_stamped_replay_is_noop(spark, tmp_path):
    """The foreachBatch crash window: a batch whose commit already
    flipped the pointer (but whose checkpoint didn't advance) is
    replayed on restart — the txn stamp turns the replay into a no-op
    returning the existing snapshot."""
    table = str(tmp_path / "t")
    batch = _df(spark, [(1, "a"), (2, "b")])
    s1 = V.append_snapshot(batch, table, txn_id="app:0")
    s2 = V.append_snapshot(batch, table, txn_id="app:0")  # the replay
    assert s1 == s2
    assert V.read_current(spark, table).count() == 2
    # A NEW txn commits normally, even with older stamps in the chain.
    V.append_snapshot(_df(spark, [(3, "c")]), table, txn_id="app:1")
    assert V.read_current(spark, table).count() == 3
    V.append_snapshot(batch, table, txn_id="app:0")  # replay of old txn
    assert V.read_current(spark, table).count() == 3
    # Unstamped appends never dedup.
    V.append_snapshot(_df(spark, [(4, "d")]), table)
    V.append_snapshot(_df(spark, [(4, "d")]), table)
    assert V.read_current(spark, table).count() == 5


def test_stream_lands_versioned_exactly_once(spark, sf_dir, tmp_path):
    """availableNow stream → foreachBatch append_snapshot: the table
    equals the static read; re-running on the same checkpoint appends
    nothing; every commit carries its txn stamp."""
    from mc_ns_data_pipeline_spark.catalog import load_table

    table = str(tmp_path / "vt")
    ckpt = str(tmp_path / "ckpt")
    events = f"{sf_dir}/events.parquet"
    V.run_stream_append(spark, events, table, ckpt)
    static_n = load_table(spark, sf_dir, "events").count()
    assert V.read_current(spark, table).count() == static_n

    V.run_stream_append(spark, events, table, ckpt)  # offsets exhausted
    assert V.read_current(spark, table).count() == static_n

    snap = V.current_snapshot(table)
    man = V.read_manifest(table, snap)
    assert man["txn_id"].startswith("stream_append:")
    # Simulated post-commit crash replay of the last batch.
    last_bid = int(man["txn_id"].split(":")[1])
    replay = V.read_current(spark, table).limit(5)
    V.append_snapshot(replay, table,
                      txn_id=f"stream_append:{last_bid}")
    assert V.read_current(spark, table).count() == static_n


def test_stream_lands_on_branch_until_published(spark, sf_dir,
                                                tmp_path):
    """WAP streaming: every micro-batch stages on the branch, the
    table shows nothing until publish, then everything — with the
    exactly-once txn stamps intact on the branch lineage."""
    from mc_ns_data_pipeline_spark.catalog import load_table

    table = str(tmp_path / "vt")
    V.write_snapshot(_df(spark, [(0, "seed")]), table)
    ckpt = str(tmp_path / "ckpt")
    events = f"{sf_dir}/events.parquet"
    V.run_stream_append(spark, events, table, ckpt, branch="quarantine")
    assert V.read_current(spark, table).count() == 1  # invisible
    static_n = load_table(spark, sf_dir, "events").count()
    assert V.read_ref(spark, table, "quarantine").count() \
        == 1 + static_n  # auditor sees the staged landing

    V.publish_ref(table, "quarantine")
    assert V.read_current(spark, table).count() == 1 + static_n
    man = V.read_manifest(table, V.current_snapshot(table))
    assert (man["txn_id"] or "").startswith("stream_append:")


def test_compact_preserves_content_and_readers(spark, tmp_path):
    """Many append-landed files compact into one clustered file in a
    NEW snapshot; an in-flight reader of the old snapshot is
    undisturbed, and content/rows are unchanged."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(0, "v0")]), table)
    for i in range(1, 6):
        V.append_snapshot(_df(spark, [(i, f"v{i}")]), table)
    pre = V.current_snapshot(table)
    assert len(V.read_manifest(table, pre)["files"]) >= 6
    old_reader = V.read_current(spark, table)

    snap = V.compact_snapshot(spark, table, sort_col="k",
                              target_files=1)
    man = V.read_manifest(table, snap)
    assert len(man["files"]) == 1 and man["rows"] == 6
    got = [(r.k, r.v)
           for r in V.read_current(spark, table).orderBy("k").collect()]
    assert got == [(i, f"v{i}") for i in range(6)]
    assert old_reader.count() == 6  # old files still on disk
    with pytest.raises(V.NoCurrentSnapshotError):
        V.compact_snapshot(spark, str(tmp_path / "nope"))


def test_delete_keys_is_cow_and_atomic(spark, tmp_path):
    """GDPR delete: only files holding a doomed key are rewritten; the
    deletion lands atomically at the pointer flip; old snapshot stays
    readable until vacuum reaps it (erasure latency == retention)."""
    table = str(tmp_path / "t")
    base = (
        spark.createDataFrame([(i, "v") for i in range(100)],
                              "k int, v string")
        .repartitionByRange(4, "k")
    )
    snap1 = V.write_snapshot(base, table)
    old_reader = V.read_current(spark, table)
    snap2 = V.delete_keys_snapshot(
        spark, table, "k", _df(spark, [(1, "x"), (2, "x")]))
    man = V.read_manifest(table, snap2)
    assert man["reused_files"] == 3 and man["rows"] == 98
    got = {r.k for r in V.read_current(spark, table).collect()}
    assert got == set(range(100)) - {1, 2}
    assert old_reader.count() == 100  # pre-delete view intact
    # No doomed key present -> no new snapshot published.
    assert V.delete_keys_snapshot(
        spark, table, "k", _df(spark, [(999, "x")])) == snap2
    # After vacuum the doomed bytes are gone from disk.
    V.vacuum_snapshots(table, keep=1)
    assert V.list_snapshots(table) == [snap2]
    assert snap1 not in V.list_snapshots(table)


def test_reader_keeps_consistent_view_across_publish(spark, tmp_path):
    """MVCC: a DataFrame resolved before a publish still scans the OLD
    snapshot's immutable files — the staged-swap sinks would have
    deleted them out from under it."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    old_reader = V.read_current(spark, table)  # resolves pointer NOW
    V.write_snapshot(_df(spark, [(9, "z")]), table)
    assert {(r.k, r.v) for r in old_reader.collect()} == {(1, "a"),
                                                          (2, "b")}
    assert {(r.k, r.v)
            for r in V.read_current(spark, table).collect()} == {(9, "z")}


def test_crash_before_flip_leaves_old_state(spark, tmp_path):
    """A fully-written-but-unflipped commit (crash between manifest
    write and pointer replace) must be invisible to readers, and its
    manifest + pool files reaped by vacuum once superseded out of the
    keep window."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a")]), table)
    # Simulate the crash: orphan pool file + manifest, never flipped.
    orphan_file = "deadbeef-orphan.parquet"
    _df(spark, [(7, "crash")]).coalesce(1).write.mode(
        "overwrite").parquet(str(tmp_path / "stage"))
    src = next(f for f in os.listdir(tmp_path / "stage")
               if f.endswith(".parquet"))
    os.rename(tmp_path / "stage" / src,
              os.path.join(table, "data", orphan_file))
    with open(os.path.join(table, "snapshots",
                           "00000002-deadbeef.json"), "w") as fh:
        json.dump({"snapshot": "00000002-deadbeef", "parent": None,
                   "rows": 1, "files": [orphan_file],
                   "reused_files": 0}, fh)

    assert {(r.k, r.v)
            for r in V.read_current(spark, table).collect()} == {(1, "a")}
    # Next publish allocates generation 3 (above the orphan) and flips
    # past it; vacuum keep=1 reaps the orphan manifest AND its file.
    V.write_snapshot(_df(spark, [(2, "b")]), table)
    reaped = V.vacuum_snapshots(table, keep=1)
    assert "00000002-deadbeef" in reaped["snapshots"]
    assert not os.path.exists(os.path.join(table, "data", orphan_file))
    assert V.list_snapshots(table) == [V.current_snapshot(table)]
    assert V.read_current(spark, table).count() == 1


def test_concurrent_merge_one_wins_one_fails(spark, tmp_path,
                                             monkeypatch):
    monkeypatch.setattr(V, "_COMMIT_WAIT_S", 0.5)  # fail fast, same path
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a")]), table)
    with table_lease(table, owner="other-pipeline"):
        with pytest.raises(TableLockedError, match="other-pipeline"):
            V.merge_snapshot(spark, _df(spark, [(2, "b")]), table, "k")
    V.merge_snapshot(spark, _df(spark, [(2, "b")]), table, "k")
    assert V.read_current(spark, table).count() == 2


def test_vacuum_refcounts_shared_files(spark, tmp_path):
    """Vacuum must not delete a pool file a RETAINED manifest still
    references, even when the manifest that introduced it is reaped —
    COW shares files forward across commits."""
    table = str(tmp_path / "t")
    base = (
        spark.createDataFrame([(i, "base") for i in range(100)],
                              "k int, v string")
        .repartitionByRange(4, "k")
    )
    snap1 = V.write_snapshot(base, table)
    V.merge_snapshot(spark, _df(spark, [(1, "U")]), table, "k")
    shared = set(V.read_manifest(table, snap1)["files"]) & set(
        V.read_manifest(table, V.current_snapshot(table))["files"])
    assert shared  # COW actually shared something
    reaped = V.vacuum_snapshots(table, keep=1)  # drops snap1
    assert reaped["snapshots"] == [snap1]
    for f in shared:  # introduced by snap1, still live in current
        assert os.path.exists(os.path.join(table, "data", f))
    assert V.read_current(spark, table).count() == 100
    with pytest.raises(ValueError):
        V.vacuum_snapshots(table, keep=0)


def test_vacuum_reaps_aged_staging_dirs(spark, tmp_path):
    """A crash inside _land_in_pool leaves a __staging-<uuid> dir no
    manifest references (ADVICE r4-low): vacuum reaps it once past the
    age floor, and never touches a YOUNG one (possibly in-flight)."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a")]), table)

    old_dir = os.path.join(table, "__staging-deadbeef")
    os.makedirs(old_dir)
    with open(os.path.join(old_dir, "part-0.parquet"), "wb") as fh:
        fh.write(b"partial")
    stale = time.time() - 100
    os.utime(os.path.join(old_dir, "part-0.parquet"), (stale, stale))
    os.utime(old_dir, (stale, stale))

    young_dir = os.path.join(table, "__staging-cafebabe")
    os.makedirs(young_dir)  # fresh mtime: an in-flight writer's dir

    out = V.vacuum_snapshots(table, keep=1, staging_age_seconds=50.0)
    assert out["staging"] == 1
    assert not os.path.exists(old_dir)
    assert os.path.exists(young_dir)
    assert V.read_current(spark, table).count() == 1


def test_vacuum_never_deletes_current_and_keeps_n(spark, tmp_path):
    table = str(tmp_path / "t")
    names = [V.write_snapshot(_df(spark, [(i, "v")]), table)
             for i in range(4)]
    reaped = V.vacuum_snapshots(table, keep=2)
    assert set(reaped["snapshots"]) == set(names[:2])
    assert V.list_snapshots(table) == names[2:]
    assert V.current_snapshot(table) == names[3]
    # Time travel within the keep window still works.
    assert V.read_snapshot(spark, table, names[2]).count() == 1


def test_manifest_stats_recorded_and_pruned_read(spark, tmp_path):
    """A stats-enabled clustered table records per-file [min, max] at
    publish; a predicated read prunes files by METADATA before Spark
    sees them, and still equals the unpruned scan + filter exactly."""
    table = str(tmp_path / "t")
    base = (
        spark.createDataFrame([(i, f"v{i}") for i in range(100)],
                              "k int, v string")
        .repartitionByRange(4, "k")
    )
    snap = V.write_snapshot(base, table, stats_cols=["k"])
    man = V.read_manifest(table, snap)
    assert man["stats_cols"] == ["k"] and len(man["stats"]) == 4
    spans = sorted(tuple(s["k"]) for s in man["stats"].values())
    # Disjoint, covering ranges — the property pruning depends on.
    assert spans[0][0] == 0 and spans[-1][1] == 99
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo

    rep = V.prune_report(table, snap, [("k", "<=", 10)])
    assert rep["total"] == 4 and rep["skipped"] == 3
    got = {r.k for r in
           V.read_current(spark, table,
                          predicates=[("k", "<=", 10)]).collect()}
    assert got == set(range(11))
    # Equality predicate hits exactly one file.
    rep = V.prune_report(table, snap, [("k", "=", 99)])
    assert rep["skipped"] == 3
    # Stats survive append commits (inherited stats_cols + carry) —
    # every file of the new manifest has an entry, including any
    # zero-row landed files (marked skippable).
    snap2 = V.append_snapshot(_df(spark, [(200, "z")]), table)
    man2 = V.read_manifest(table, snap2)
    assert set(man2["stats"]) == set(man2["files"])
    rep = V.prune_report(table, snap2, [("k", ">", 150)])
    assert len(rep["kept"]) == 1 and rep["skipped"] == rep["total"] - 1


def test_pruning_is_conservative_without_stats(spark, tmp_path):
    """Files in a table that never opted into stats are never pruned;
    an all-NULL stat column IS skippable (a comparison can't match)."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)  # no stats
    snap = V.current_snapshot(table)
    rep = V.prune_report(table, snap, [("k", ">", 1000)])
    assert rep["skipped"] == 0  # conservative: no metadata, must scan
    got = V.read_current(spark, table,
                         predicates=[("k", ">", 1)]).collect()
    assert {r.k for r in got} == {2}

    t2 = str(tmp_path / "t2")
    V.write_snapshot(
        spark.createDataFrame([(None, "x"), (None, "y")],
                              "k int, v string"),
        t2, stats_cols=["k"])
    rep = V.prune_report(t2, V.current_snapshot(t2), [("k", ">", 0)])
    assert rep["skipped"] == rep["total"]  # NULLs never match >
    assert V.read_current(spark, t2,
                          predicates=[("k", ">", 0)]).count() == 0


def test_merge_locate_prunes_files_by_stats(spark, tmp_path):
    """The merge locate step must not OPEN files whose manifest key
    range excludes the update batch — proven by deleting such a file
    from disk: a stats-pruned locate never notices; a scan-everything
    locate would crash."""
    table = str(tmp_path / "t")
    base = (
        spark.createDataFrame([(i, "base") for i in range(100)],
                              "k int, v string")
        .repartitionByRange(4, "k")
    )
    snap1 = V.write_snapshot(base, table, stats_cols=["k"])
    man1 = V.read_manifest(table, snap1)
    # Remove the file holding the TOP key range from disk entirely.
    top = max(man1["stats"].items(), key=lambda kv: kv[1]["k"][1])[0]
    os.remove(os.path.join(table, "data", top))

    snap2 = V.merge_snapshot(
        spark, _df(spark, [(1, "UPD"), (3, "UPD")]), table, "k")
    man2 = V.read_manifest(table, snap2)
    assert man2["reused_files"] == 3  # untouched incl. the missing one
    # The three low-range files (one rewritten) are fully readable and
    # correct even though the top file is gone.
    rows = V.read_current(
        spark, table, predicates=[("k", "<=", man1["stats"][top]["k"][0]
                                   - 1)]).collect()
    upd = {r.k for r in rows if r.v == "UPD"}
    assert upd == {1, 3}


def test_schema_evolution_append_and_merge(spark, tmp_path):
    """Adding a column is legal evolution: the manifest schema gains
    the field, old files project NULL for it (no mergeSchema footer
    pass), and a keyed merge unions mixed-schema survivors. Changing
    a column's type is rejected."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    V.append_snapshot(
        spark.createDataFrame([(3, "c", 0.5)],
                              "k int, v string, score double"),
        table)
    cur = V.read_current(spark, table)
    assert cur.columns == ["k", "v", "score"]
    got = {(r.k, r.v, r.score) for r in cur.collect()}
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 0.5)}

    # Merge with the evolved schema updates + inserts across old files.
    V.merge_snapshot(
        spark,
        spark.createDataFrame([(2, "B", 0.9), (4, "d", 0.1)],
                              "k int, v string, score double"),
        table, "k")
    got = {(r.k, r.v, r.score)
           for r in V.read_current(spark, table).collect()}
    assert got == {(1, "a", None), (2, "B", 0.9), (3, "c", 0.5),
                   (4, "d", 0.1)}

    with pytest.raises(V.SchemaEvolutionError, match="column 'v'"):
        V.append_snapshot(
            spark.createDataFrame([(9, 9)], "k int, v int"), table)


def test_incremental_read_across_compaction(spark, tmp_path):
    """The changelog fast path: a consumer that processed snapshot A
    catches up by reading ONLY the files appended since — compaction
    commits in between are row-preserving and contribute nothing, so
    the consumer is never re-fed rewritten data."""
    table = str(tmp_path / "t")
    s0 = V.write_snapshot(_df(spark, [(0, "base")]), table)
    V.append_snapshot(_df(spark, [(1, "b1"), (2, "b1")]), table)
    V.compact_snapshot(spark, table, sort_col="k", target_files=1)
    V.append_snapshot(_df(spark, [(3, "b2")]), table)

    inc = V.read_appended_since(spark, table, s0)
    assert {(r.k, r.v) for r in inc.collect()} == {
        (1, "b1"), (2, "b1"), (3, "b2")}
    # Bounded range [s0, pre-compact] sees only b1.
    snaps = V.list_snapshots(table)
    inc1 = V.read_appended_since(spark, table, s0, until=snaps[1])
    assert {r.k for r in inc1.collect()} == {1, 2}
    # Empty range.
    assert V.read_appended_since(spark, table, snaps[-1]).count() == 0


def test_incremental_read_rejects_rewrite_history(spark, tmp_path):
    """Merge/delete/overwrite in range falsify a file-level changelog
    — the fast path must refuse loudly, and the keyed diff is the
    documented fallback. A vacuumed-away `since` also refuses."""
    table = str(tmp_path / "t")
    s0 = V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    V.merge_snapshot(spark, _df(spark, [(2, "B")]), table, "k")
    with pytest.raises(V.NonIncrementalHistoryError, match="merge"):
        V.read_appended_since(spark, table, s0)
    with pytest.raises(V.NonIncrementalHistoryError,
                       match="not an ancestor"):
        V.read_appended_since(spark, table, "00000099-nope")
    # A `since` whose LINEAGE was vacuumed away (its manifest is only
    # known transitively) refuses rather than silently under-reporting.
    t2 = str(tmp_path / "t2")
    a0 = V.write_snapshot(_df(spark, [(1, "a")]), t2)
    V.append_snapshot(_df(spark, [(2, "b")]), t2)
    V.append_snapshot(_df(spark, [(3, "c")]), t2)
    V.vacuum_snapshots(t2, keep=1)  # drops a0 and the middle manifest
    with pytest.raises(V.NonIncrementalHistoryError, match="vacuumed"):
        V.read_appended_since(spark, t2, a0)


def test_changes_between_keyed_diff(spark, tmp_path):
    """General CDC over any history: full-outer keyed diff classifies
    insert / update / delete and drops unchanged keys."""
    table = str(tmp_path / "t")
    s0 = V.write_snapshot(
        _df(spark, [(1, "a"), (2, "b"), (3, "c")]), table)
    V.merge_snapshot(spark, _df(spark, [(2, "B"), (4, "d")]), table,
                     "k")
    s2 = V.delete_keys_snapshot(spark, table, "k",
                                _df(spark, [(3, "x")]))
    diff = V.changes_between(spark, table, s0, s2, "k")
    got = {(r.k, r.change_type, r.v) for r in diff.collect()}
    assert got == {(2, "update", "B"), (3, "delete", "c"),
                   (4, "insert", "d")}


def test_hammer_readers_during_publishes(spark, tmp_path):
    """Stress the commit protocol: readers loop while a writer flips
    through generations; every read must equal exactly one published
    state (row count == generation size), never an error, never a
    mix."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(0, "g0")]), table)
    stop = threading.Event()
    bad: list[object] = []

    def reader():
        while not stop.is_set():
            try:
                rows = V.read_current(spark, table).collect()
                vals = {r.v for r in rows}
                if len(vals) != 1 or len(rows) != int(
                        next(iter(vals))[1:]) + 1:
                    bad.append(rows)
            except Exception as exc:  # noqa: BLE001 — any error fails
                bad.append(exc)

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    try:
        for gen in range(1, 5):
            V.write_snapshot(
                _df(spark, [(i, f"g{gen}") for i in range(gen + 1)]),
                table)
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert bad == [], bad[:3]


class _SeqUUID:
    """Deterministic uuid4 stand-in: hex names share a fixed prefix,
    so a test can force pre- vs post-evolution pool files to a chosen
    lexicographic order (parquet inference takes the FIRST footer —
    the order-dependence these regressions pin)."""

    def __init__(self, prefix):
        self._prefix, self._n = prefix, 0

    def __call__(self):
        self._n += 1
        out = lambda: None  # noqa: E731 - minimal .hex carrier
        out.hex = f"{self._prefix}{self._n:030x}"
        return out


def test_merge_after_evolution_keeps_evolved_values(
        spark, tmp_path, monkeypatch):
    """COW merge must read affected files under the MANIFEST schema.
    Regression: an unschema'd spark.read.parquet over [old-schema
    file, new-schema file] infers from the lexicographically first
    footer and silently DROPS the evolved column — survivors from the
    evolved file then lose their values. Forced here by naming the
    pre-evolution file '00…' (sorts first) and the evolved one 'ff…'.
    """
    table = str(tmp_path / "t")
    monkeypatch.setattr(V.uuid, "uuid4", _SeqUUID("00"))
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    monkeypatch.setattr(V.uuid, "uuid4", _SeqUUID("ff"))
    V.append_snapshot(
        spark.createDataFrame([(3, "c", 0.5), (4, "d", 0.7)],
                              "k int, v string, score double"),
        table)
    monkeypatch.setattr(V.uuid, "uuid4", _SeqUUID("aa"))
    # Touch BOTH files: key 1 (old-schema file) and key 3 (evolved).
    V.merge_snapshot(
        spark,
        spark.createDataFrame([(1, "A", 0.1), (3, "C", 0.9)],
                              "k int, v string, score double"),
        table, "k")
    got = {(r.k, r.v, r.score)
           for r in V.read_current(spark, table).collect()}
    # Key 4 survived the rewrite of the evolved file — its score MUST
    # still be 0.7, not NULL.
    assert got == {(1, "A", 0.1), (2, "b", None), (3, "C", 0.9),
                   (4, "d", 0.7)}


def test_changes_between_sees_evolved_column_updates(spark, tmp_path):
    """CDC payload is the UNION of both snapshots' value columns:
    an update that changed ONLY a schema-evolved column must classify
    as an update (regression: intersection-only payload compared
    equal and silently dropped it), and inserts carry the evolved
    values."""
    table = str(tmp_path / "t")
    s0 = V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    s1 = V.merge_snapshot(
        spark,
        spark.createDataFrame([(2, "b", 0.9), (4, "d", 0.4)],
                              "k int, v string, score double"),
        table, "k")
    diff = V.changes_between(spark, table, s0, s1, "k")
    got = {(r.k, r.change_type, r.v, r.score) for r in diff.collect()}
    assert got == {(2, "update", "b", 0.9), (4, "insert", "d", 0.4)}


def test_pruning_soundness_nan_decimal_date(spark, tmp_path):
    """Three unsound-pruning regressions: NaN bounds are never
    recorded (Spark orders NaN greatest; Python disagrees), decimal
    bounds widen one ulp outward (float() rounding must never exclude
    a true key), and date predicates against timestamp stats compare
    chronologically (midnight expansion), not lexicographically."""
    import datetime
    from decimal import Decimal

    # NaN: the invariant pruned == unpruned must hold with NaN data.
    t1 = str(tmp_path / "nan")
    V.write_snapshot(
        spark.createDataFrame(
            [(1, 1.0), (2, float("nan")), (3, 250.0)],
            "k int, val double").repartitionByRange(2, "k"),
        t1, stats_cols=["val"])
    snap = V.current_snapshot(t1)
    man = V.read_manifest(t1, snap)
    assert all("val" not in e or not any(
        isinstance(b, float) and b != b for b in e["val"])
        for e in man["stats"].values())
    from pyspark.sql import functions as F

    preds = [("val", ">", 100.0)]
    # repr() canonicalizes NaN (nan != nan would falsify set equality)
    pruned = {(r.k, repr(r.val)) for r in
              V.read_snapshot(spark, t1, snap, predicates=preds)
              .collect()}
    full = {(r.k, repr(r.val)) for r in
            V.read_snapshot(spark, t1, snap)
            .filter(F.col("val") > F.lit(100.0)).collect()}
    assert pruned == full and len(full) == 2  # NaN row included

    # Decimal beyond float precision: 2^53 + 1 rounds DOWN as float;
    # unwidened stats would prune the file holding the true key.
    t2 = str(tmp_path / "dec")
    big = Decimal(2**53 + 1)
    V.write_snapshot(
        spark.createDataFrame([(big, "x")], "k decimal(38,0), v string"),
        t2, stats_cols=["k"])
    got = V.read_current(spark, t2, predicates=[("k", "=", big)])
    assert got.count() == 1
    # Widening may conservatively keep the file; it must never lose
    # the true key above — and the predicate filter still applies.
    assert V.read_current(
        spark, t2, predicates=[("k", ">", Decimal(2**53 + 2))]
    ).count() == 0

    # Timestamp stats vs date predicate: midnight row must be found.
    t3 = str(tmp_path / "ts")
    V.write_snapshot(
        spark.createDataFrame(
            [(1, datetime.datetime(2026, 1, 1, 0, 0, 0)),
             (2, datetime.datetime(2026, 1, 2, 12, 0, 0))],
            "k int, ts timestamp"),
        t3, stats_cols=["ts"])
    got = V.read_current(
        spark, t3,
        predicates=[("ts", "<=", datetime.date(2026, 1, 1))])
    assert [r.k for r in got.collect()] == [1]


def test_compact_without_stats_records_no_stats(spark, tmp_path):
    """A no-stats table's compaction publishes stats=None (and pays
    no discarded full-table count — the row total is inherited)."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    snap = V.compact_snapshot(spark, table, target_files=1)
    man = V.read_manifest(table, snap)
    assert man["stats"] is None and man["rows"] == 2


def test_consume_appends_lifecycle(spark, tmp_path):
    """Durable-cursor incremental consumer: bootstrap sees the full
    snapshot, each increment sees ONLY the newly appended rows
    (compaction invisible), an up-to-date cursor is a no-op, and the
    cursor only advances after `process` succeeds (at-least-once:
    a failed process replays the same increment)."""
    table = str(tmp_path / "t")
    cursor = str(tmp_path / "cursor.json")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)

    seen = []
    out = V.consume_appends(
        spark, table, cursor,
        lambda df: seen.append({(r.k, r.v) for r in df.collect()}))
    assert out["mode"] == "bootstrap"
    assert seen[-1] == {(1, "a"), (2, "b")}

    V.append_snapshot(_df(spark, [(3, "c")]), table)
    V.compact_snapshot(spark, table, sort_col="k", target_files=1)
    V.append_snapshot(_df(spark, [(4, "d")]), table)
    out = V.consume_appends(
        spark, table, cursor,
        lambda df: seen.append({(r.k, r.v) for r in df.collect()}))
    assert out["mode"] == "increment"
    assert seen[-1] == {(3, "c"), (4, "d")}

    out = V.consume_appends(spark, table, cursor,
                            lambda df: seen.append("CALLED"))
    assert out["mode"] == "noop" and seen[-1] != "CALLED"

    # Crash mid-process: cursor must NOT advance; retry replays.
    V.append_snapshot(_df(spark, [(5, "e")]), table)
    with pytest.raises(RuntimeError, match="boom"):
        V.consume_appends(
            spark, table, cursor,
            lambda df: (_ for _ in ()).throw(RuntimeError("boom")))
    out = V.consume_appends(
        spark, table, cursor,
        lambda df: seen.append({(r.k, r.v) for r in df.collect()}))
    assert out["mode"] == "increment" and seen[-1] == {(5, "e")}


def test_consume_appends_refuses_rewrite_history(spark, tmp_path):
    """A merge between consumer runs falsifies the file-level
    increment: the consumer must refuse loudly (caller re-bootstraps
    or reconciles via changes_between), never silently double-read."""
    table = str(tmp_path / "t")
    cursor = str(tmp_path / "cursor.json")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    V.consume_appends(spark, table, cursor, lambda df: df.count())
    V.merge_snapshot(spark, _df(spark, [(2, "B")]), table, "k")
    with pytest.raises(V.NonIncrementalHistoryError):
        V.consume_appends(spark, table, cursor, lambda df: df.count())


def test_two_dim_stats_pruning(spark, tmp_path):
    """stats_cols may carry several columns; AND-combined predicates
    prune on each independently (the zone-map shape for clustered
    layouts where a second column correlates with the clustering
    key)."""
    table = str(tmp_path / "t")
    base = (
        spark.createDataFrame(
            [(i, i * 2, f"v{i}") for i in range(100)],
            "a int, b int, v string")
        .repartitionByRange(4, "a")
    )
    snap = V.write_snapshot(base, table, stats_cols=["a", "b"])
    rep = V.prune_report(table, snap, [("a", "<=", 10)])
    assert rep["skipped"] == 3
    rep = V.prune_report(table, snap, [("b", ">=", 190)])
    assert rep["skipped"] == 3  # second dim prunes on its own stats
    # a >= 50 forces b = 2a >= 100: contradictory with b <= 70 in
    # EVERY file once both dims' stats apply — nothing to scan.
    rep = V.prune_report(table, snap, [("a", ">=", 50), ("b", "<=", 70)])
    assert rep["skipped"] == 4
    got = V.read_current(spark, table,
                         predicates=[("a", ">=", 50), ("b", "<=", 70)])
    assert got.count() == 0
    got = {r.a for r in V.read_current(
        spark, table, predicates=[("b", ">=", 190)]).collect()}
    assert got == {95, 96, 97, 98, 99}


def test_consume_appends_callback_arities(spark, tmp_path):
    """Only explicit positional arity opts into the info argument:
    (df) and (df, **kwargs) get one argument, (df, info) gets two —
    keyword-only/var-keyword params must not miscount (regression:
    signature-length sniffing crashed a (df, **kwargs) callback)."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a")]), table)

    calls = []

    def one(df, **kwargs):
        calls.append(("one", df.count(), kwargs))

    V.consume_appends(spark, table, str(tmp_path / "c1"), one)
    assert calls[-1] == ("one", 1, {})

    def two(df, info):
        calls.append(("two", df.count(), info["mode"]))

    V.append_snapshot(_df(spark, [(2, "b")]), table)
    V.consume_appends(spark, table, str(tmp_path / "c2"), two)
    assert calls[-1] == ("two", 2, "bootstrap")  # fresh cursor


def test_vacuum_min_age_floor(spark, tmp_path):
    """The age floor protects young snapshots from a commit burst:
    keep=1 with a 1-hour floor reaps nothing fresh; backdating the
    superseded manifests makes them eligible while CURRENT and any
    young snapshot always survive."""
    import time

    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a")]), table)
    V.append_snapshot(_df(spark, [(2, "b")]), table)
    V.append_snapshot(_df(spark, [(3, "c")]), table)
    snaps = V.list_snapshots(table)

    out = V.vacuum_snapshots(table, keep=1, min_age_seconds=3600)
    assert out["snapshots"] == [] and len(V.list_snapshots(table)) == 3

    # Backdate the FIRST snapshot only: it becomes reapable; the
    # middle one is still young and survives keep=1 via the floor.
    old = V._manifest_path(table, snaps[0])
    past = time.time() - 7200
    os.utime(old, (past, past))
    out = V.vacuum_snapshots(table, keep=1, min_age_seconds=3600)
    assert out["snapshots"] == [snaps[0]]
    assert set(V.list_snapshots(table)) == set(snaps[1:])
    # Without a floor, count-based keep reaps the middle one too.
    out = V.vacuum_snapshots(table, keep=1)
    assert out["snapshots"] == [snaps[1]]
    assert V.read_current(spark, table).count() == 3


def test_bloom_point_lookup_skips_unclustered_files(spark, tmp_path):
    """Equality blooms: on an UNCLUSTERED table every file's [min,max]
    spans the keyspace (range stats prune nothing), but a per-file
    bloom answers point lookups — zero false negatives for every
    present key, and absent keys skip all files (modulo FP). The
    pruned read always equals scan + filter."""
    table = str(tmp_path / "t")
    base = (
        spark.createDataFrame(
            [(i, f"name{i}", "x") for i in range(400)],
            "k int, name string, v string")
        .repartition(4)  # hash-scattered: min/max useless by design
    )
    snap = V.write_snapshot(base, table, bloom_cols=["k", "name"])
    man = V.read_manifest(table, snap)
    assert man["bloom_cols"] == ["k", "name"]
    assert set(man["blooms"]) == set(man["files"])

    # Soundness: every present key's lookup keeps its file and finds
    # exactly its row (int and string columns).
    for k in (0, 17, 399):
        got = V.read_current(spark, table, predicates=[("k", "=", k)])
        assert [r.name for r in got.collect()] == [f"name{k}"]
        got = V.read_current(spark, table,
                             predicates=[("name", "=", f"name{k}")])
        assert [r.k for r in got.collect()] == [k]
    # A present key usually lives in ONE file: most files skip.
    rep = V.prune_report(table, snap, [("k", "=", 17)])
    assert rep["skipped"] >= 1  # >=1 robustly; typically 3 of 4
    # Absent keys: typically all files skip (FP-tolerant bound).
    rep = V.prune_report(table, snap, [("k", "=", 10_000_000)])
    assert rep["skipped"] >= 1
    assert V.read_current(
        spark, table, predicates=[("k", "=", 10_000_000)]).count() == 0

    # Range predicates ignore blooms (no unsound range pruning).
    assert V.read_current(
        spark, table, predicates=[("k", ">=", 398)]).count() == 2


def test_bloom_carries_through_commits_and_rejects_bad_types(
        spark, tmp_path):
    table = str(tmp_path / "t")
    with pytest.raises(ValueError, match="integral"):
        V.write_snapshot(
            spark.createDataFrame([(1.5, "a")], "k double, v string"),
            str(tmp_path / "bad"), bloom_cols=["k"])

    V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table,
                     bloom_cols=["k"])
    V.append_snapshot(_df(spark, [(3, "c")]), table)
    V.merge_snapshot(spark, _df(spark, [(2, "B"), (4, "d")]), table,
                     "k")
    snap = V.current_snapshot(table)
    man = V.read_manifest(table, snap)
    assert man["bloom_cols"] == ["k"]
    assert set(man["blooms"]) == set(man["files"])  # carried + new
    for k in (1, 2, 3, 4):  # no false negatives across the lifecycle
        got = V.read_current(spark, table, predicates=[("k", "=", k)])
        assert got.count() == 1
    # Compaction rebuilds blooms over the rewritten layout.
    V.compact_snapshot(spark, table, sort_col="k", target_files=1)
    man = V.read_manifest(table, V.current_snapshot(table))
    assert set(man["blooms"]) == set(man["files"])
    assert V.read_current(
        spark, table, predicates=[("k", "=", 4)]).count() == 1


def test_bloom_exact_for_snowflake_ids_with_nulls(spark, tmp_path):
    """Regression (ADVICE r4-high): a NULL in a long bloom column makes
    Arrow deliver the file's values to pandas as float64, which rounds
    ids >= 2**53 — the bloom then recorded the WRONG value and every
    probe of the true id false-negatived: pruned reads dropped matching
    rows and delete_keys left doomed rows alive (GDPR path). The build
    now casts to string on the Spark side, so precision never transits
    float64."""
    big = 2 ** 53 + 1  # not representable in float64 (rounds to 2**53)
    big2 = 2 ** 60 + 7
    table = str(tmp_path / "t")
    rows = [(big, "keep-me"), (big2, "doomed"), (None, "null-key"),
            (5, "small")]
    V.write_snapshot(
        spark.createDataFrame(rows, "k long, v string").repartition(2),
        table, bloom_cols=["k"])

    # Pruned point read must find the true id, not silently drop it.
    got = V.read_current(spark, table, predicates=[("k", "=", big)])
    assert [r.v for r in got.collect()] == ["keep-me"]
    # The ROUNDED neighbor (what the buggy bloom recorded) is absent.
    assert V.read_current(
        spark, table, predicates=[("k", "=", 2 ** 53)]).count() == 0

    # Deletion by the true id must actually erase the row.
    V.delete_keys_snapshot(
        spark, table, "k",
        spark.createDataFrame([(big2,)], "k long"))
    left = {r.v for r in V.read_current(spark, table).collect()}
    assert left == {"keep-me", "null-key", "small"}

    # Merge by PK must update, not duplicate, the huge-id row.
    V.merge_snapshot(
        spark,
        spark.createDataFrame([(big, "KEPT")], "k long, v string"),
        table, "k")
    got = V.read_current(spark, table,
                         predicates=[("k", "=", big)]).collect()
    assert [r.v for r in got] == ["KEPT"]


# ---------------------------------------------------------------------------
# Merge-on-read equality deletes (delete_keys_mor): the scattered-delete
# fast path. Property under test: a MOR delete changes WHAT readers see
# without touching any data file, sequences correctly against later
# inserts/rewrites, keeps row accounting exact, and is fully applied
# (then discarded) by the next compaction.
# ---------------------------------------------------------------------------


def test_mor_delete_masks_without_rewrite(spark, tmp_path):
    table = str(tmp_path / "t")
    base = (
        spark.createDataFrame([(i, "v") for i in range(100)],
                              "k int, v string")
        .repartitionByRange(4, "k")
    )
    snap1 = V.write_snapshot(base, table)
    files1 = V.read_manifest(table, snap1)["files"]
    snap2 = V.delete_keys_mor(
        spark, table, "k", _df(spark, [(1, "x"), (2, "x")]))
    man = V.read_manifest(table, snap2)
    # The data file set is IDENTICAL — zero rewrite, zero new files.
    assert man["files"] == files1 and man["new_files"] == []
    assert man["op"] == "delete-mor"
    assert man["rows"] == 98  # exact, without any rewrite
    assert len(man["delete_files"]) == 1
    assert man["delete_files"][0]["key"] == "k"
    got = {r.k for r in V.read_current(spark, table).collect()}
    assert got == set(range(100)) - {1, 2}
    # Empty doomed set -> no-op, current stays.
    assert V.delete_keys_mor(
        spark, table, "k", _df(spark, [(999, "x")]).limit(0)) == snap2


def test_mor_delete_sequences_before_later_insert(spark, tmp_path):
    """A key re-inserted AFTER a MOR delete must survive: the delete
    masks only rows whose file generation <= the delete's generation
    (the Iceberg sequence-number contract)."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "old"), (2, "keep")]), table)
    V.delete_keys_mor(spark, table, "k", _df(spark, [(1, "x")]))
    V.append_snapshot(_df(spark, [(1, "new")]), table)
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == {(1, "new"), (2, "keep")}
    man = V.read_manifest(table, V.current_snapshot(table))
    assert len(man["delete_files"]) == 1  # still pending (masks old)
    assert man["rows"] == 2


def test_mor_stacked_deletes_exact_rows(spark, tmp_path):
    """A second delete overlapping the first must not double-decrement
    the row count: the decrement counts LIVE matches only."""
    table = str(tmp_path / "t")
    V.write_snapshot(
        spark.createDataFrame([(i, "v") for i in range(10)],
                              "k int, v string").repartition(3),
        table)
    V.delete_keys_mor(spark, table, "k",
                      _df(spark, [(1, "x"), (2, "x")]))
    snap = V.delete_keys_mor(spark, table, "k",
                             _df(spark, [(2, "x"), (3, "x")]))
    man = V.read_manifest(table, snap)
    assert man["rows"] == 7  # 10 - {1,2,3}, key 2 counted once
    assert man["rows"] == V.read_current(spark, table).count()
    assert len(man["delete_files"]) == 2


def test_mor_matches_cow_result(spark, tmp_path):
    """Both delete shapes answer identically — MOR is a physical
    trade, never a semantic one."""
    rows = [(i, f"v{i}") for i in range(50)]
    doomed = [(7, "x"), (23, "x"), (41, "x")]
    t_mor, t_cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    for t in (t_mor, t_cow):
        V.write_snapshot(
            spark.createDataFrame(rows, "k int, v string")
            .repartition(4), t)
    V.delete_keys_mor(spark, t_mor, "k", _df(spark, doomed))
    V.delete_keys_snapshot(spark, t_cow, "k", _df(spark, doomed))
    got_mor = {(r.k, r.v)
               for r in V.read_current(spark, t_mor).collect()}
    got_cow = {(r.k, r.v)
               for r in V.read_current(spark, t_cow).collect()}
    assert got_mor == got_cow
    assert (V.read_manifest(t_mor, V.current_snapshot(t_mor))["rows"]
            == V.read_manifest(t_cow, V.current_snapshot(t_cow))["rows"])


def test_compact_applies_and_clears_mor_deletes(spark, tmp_path):
    table = str(tmp_path / "t")
    V.write_snapshot(
        spark.createDataFrame([(i, "v") for i in range(20)],
                              "k int, v string").repartition(4),
        table)
    V.delete_keys_mor(spark, table, "k",
                      _df(spark, [(5, "x"), (6, "x")]))
    snap = V.compact_snapshot(spark, table, sort_col="k",
                              target_files=2)
    man = V.read_manifest(table, snap)
    assert not man.get("delete_files")  # applied and dropped
    assert man["rows"] == 18
    got = {r.k for r in V.read_current(spark, table).collect()}
    assert got == set(range(20)) - {5, 6}
    # Once no retained manifest references it, vacuum reaps the
    # delete file along with the superseded data files.
    V.vacuum_snapshots(table, keep=1)
    pool = os.listdir(os.path.join(table, "data"))
    assert set(pool) == set(man["files"])


def test_merge_rewrite_never_resurrects_mor_deleted(spark, tmp_path):
    """A merge that rewrites the FILE holding a MOR-deleted row gives
    the rewrite a fresh generation — the rewrite must therefore read
    delete-applied, or the masked row escapes its mask."""
    table = str(tmp_path / "t")
    # One file so the merge is forced to rewrite the deleted row's file.
    V.write_snapshot(
        _df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), table)
    V.delete_keys_mor(spark, table, "k", _df(spark, [(1, "x")]))
    V.merge_snapshot(spark, _df(spark, [(3, "C")]), table, "k")
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == {(2, "b"), (3, "C")}  # key 1 stays deleted
    man = V.read_manifest(table, V.current_snapshot(table))
    assert man["rows"] == 2


def test_mor_delete_composes_with_pruned_read(spark, tmp_path):
    """Manifest pruning + residual predicate + delete mask stack: the
    answer equals filter-then-anti-join on the raw rows."""
    table = str(tmp_path / "t")
    base = (
        spark.createDataFrame([(i, i * 10) for i in range(100)],
                              "k int, val int")
        .repartitionByRange(4, "k")
    )
    V.write_snapshot(base, table, stats_cols=["k"])
    V.delete_keys_mor(spark, table, "k",
                      spark.createDataFrame([(30,), (31,)], "k int"))
    rep = V.prune_report(table, V.current_snapshot(table),
                         [("k", "<=", 24)])
    assert rep["skipped"] >= 2  # stats pruning still active
    got = {r.k for r in V.read_current(
        spark, table, predicates=[("k", "<=", 40)]).collect()}
    assert got == set(range(41)) - {30, 31}


def test_mor_history_is_not_append_only(spark, tmp_path):
    table = str(tmp_path / "t")
    s1 = V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    V.delete_keys_mor(spark, table, "k", _df(spark, [(1, "x")]))
    with pytest.raises(V.NonIncrementalHistoryError):
        V.read_appended_since(spark, table, s1)
    # changes_between (the honest fallback) classifies the delete.
    diff = V.changes_between(spark, table, s1,
                             V.current_snapshot(table), "k").collect()
    assert {(r.k, r.change_type) for r in diff} == {(1, "delete")}


def test_vacuum_keeps_live_delete_files(spark, tmp_path):
    """A delete file referenced by a retained manifest must survive
    vacuum — reaping it would silently resurrect the masked rows."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    V.delete_keys_mor(spark, table, "k", _df(spark, [(1, "x")]))
    V.append_snapshot(_df(spark, [(3, "c")]), table)
    V.vacuum_snapshots(table, keep=1)
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == {(2, "b"), (3, "c")}


def test_mor_read_plan_broadcasts_and_keeps_pushdown(spark, tmp_path):
    """Plan pin for the delete-masked read: the mask is a BROADCAST
    anti-join (the data side never shuffles for it), and a residual
    predicate still reaches the parquet scan as a pushed filter — the
    mask joins sit ABOVE the filtered scan, not between the filter and
    the files."""
    table = str(tmp_path / "t")
    V.write_snapshot(
        spark.createDataFrame([(i, i * 10) for i in range(100)],
                              "k int, val int").repartition(4),
        table, stats_cols=["k"])
    V.delete_keys_mor(spark, table, "k",
                      spark.createDataFrame([(3,)], "k int"))
    df = V.read_current(spark, table, predicates=[("val", "<=", 500)])
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # mask must not shuffle data
    assert "LessThanOrEqual(val,500)" in plan  # pushed to the scan


def test_read_as_of_timestamp_time_travel(spark, tmp_path):
    """Timestamp time travel resolves the snapshot that was CURRENT at
    the asked instant — including across rewrite commits — and refuses
    instants before the oldest retained history."""
    import os
    import time

    table = str(tmp_path / "t")
    s1 = V.write_snapshot(_df(spark, [(1, "a")]), table)
    t_after_s1 = time.time()
    time.sleep(0.05)
    s2 = V.append_snapshot(_df(spark, [(2, "b")]), table)
    time.sleep(0.05)
    V.merge_snapshot(spark, _df(spark, [(1, "A")]), table, "k")

    assert V.snapshot_as_of(table, t_after_s1) == s1
    got = {(r.k, r.v)
           for r in V.read_as_of(spark, table, t_after_s1).collect()}
    assert got == {(1, "a")}
    # "now" resolves to CURRENT's content.
    got_now = {(r.k, r.v)
               for r in V.read_as_of(spark, table, time.time()).collect()}
    assert got_now == {(1, "A"), (2, "b")}
    # Before any publish -> loud error, never a wrong answer.
    with pytest.raises(V.NoCurrentSnapshotError):
        V.read_as_of(spark, table, t_after_s1 - 3600)
    # An orphan manifest (pre-flip crash) newer than s2 must NOT be
    # the as-of answer for a post-s2 instant: it was never visible.
    man2 = V.read_manifest(table, s2)
    orphan = dict(man2, snapshot="99999999-deadbeef", parent=s2)
    with open(os.path.join(table, "snapshots",
                           "99999999-deadbeef.json"), "w") as fh:
        json.dump(orphan, fh)
    cur = V.current_snapshot(table)
    assert V.snapshot_as_of(table, time.time()) == cur


def test_read_changes_since_appends_and_mor_deletes(spark, tmp_path):
    """Incremental CDC across MOR deletes: inserts are the appended
    rows sequence-masked by in-range deletes, deletions are the
    equality-delete keys — applying deletes-then-upserts downstream
    reproduces the net state for every interleaving."""
    table = str(tmp_path / "t")
    s0 = V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    V.append_snapshot(_df(spark, [(3, "c"), (4, "d")]), table)
    # Delete: one pre-range key, one key appended IN range.
    V.delete_keys_mor(spark, table, "k", _df(spark, [(1, "x"),
                                                     (3, "x")]))
    # Re-append a deleted key: must survive (sequences after delete).
    V.append_snapshot(_df(spark, [(3, "C2")]), table)

    out = V.read_changes_since(spark, table, s0)
    ins = {(r.k, r.v) for r in out["inserts"].collect()}
    # (3,"c") was appended then deleted inside the range: masked.
    assert ins == {(4, "d"), (3, "C2")}
    assert set(out["deleted_keys"]) == {"k"}
    dels = {r.k for r in out["deleted_keys"]["k"].collect()}
    assert dels == {1, 3}

    # Downstream replica: apply deletes first, then upsert inserts —
    # must equal the source's current content.
    replica = {(1, "a"), (2, "b")}  # state as of s0
    replica = {(k, v) for (k, v) in replica if k not in dels}
    replica = {(k, v) for (k, v) in replica
               if k not in {i[0] for i in ins}} | ins
    src = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert replica == src == {(2, "b"), (4, "d"), (3, "C2")}

    # COW rewrites still refuse loudly.
    V.merge_snapshot(spark, _df(spark, [(2, "B")]), table, "k")
    with pytest.raises(V.NonIncrementalHistoryError):
        V.read_changes_since(spark, table, s0)


def test_read_changes_since_empty_and_compact_transparent(spark,
                                                          tmp_path):
    table = str(tmp_path / "t")
    s0 = V.write_snapshot(_df(spark, [(1, "a")]), table)
    out = V.read_changes_since(spark, table, s0)
    assert out["inserts"].count() == 0 and out["deleted_keys"] == {}
    V.append_snapshot(_df(spark, [(2, "b")]), table)
    V.compact_snapshot(spark, table, sort_col="k", target_files=1)
    out = V.read_changes_since(spark, table, s0)
    assert {(r.k, r.v) for r in out["inserts"].collect()} == {(2, "b")}
    assert out["deleted_keys"] == {}


def test_read_changes_since_refuses_vacuumed_since_baseline(spark,
                                                            tmp_path):
    """A carried pre-range delete entry must never be re-emitted as an
    in-range deletion: with `since`'s manifest vacuumed the baseline
    is unknowable and the read refuses loudly (a silent fallback would
    drop live re-appended keys from a downstream replica)."""
    import os

    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    V.delete_keys_mor(spark, table, "k", _df(spark, [(1, "x")]))
    V.append_snapshot(_df(spark, [(1, "re")]), table)  # K live again
    s_mid = V.current_snapshot(table)
    V.delete_keys_mor(spark, table, "k", _df(spark, [(2, "x")]))
    # Baseline intact: only the in-range delete (key 2) is emitted.
    out = V.read_changes_since(spark, table, s_mid)
    assert {r.k for r in out["deleted_keys"]["k"].collect()} == {2}
    # Vacuum s_mid's manifest away -> loud refusal, not key-1 re-emit.
    os.remove(os.path.join(table, "snapshots", f"{s_mid}.json"))
    with pytest.raises(V.NonIncrementalHistoryError):
        V.read_changes_since(spark, table, s_mid)


def test_optimize_table_compacts_when_needed(spark, tmp_path):
    """OPTIMIZE is metadata-driven: many tiny append files (or pending
    MOR masks) trigger a clustered compaction sized to the row target;
    a healthy table is a metadata-only no-op; vacuum honors the
    retention floor either way."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(0, "v")]), table)
    for i in range(1, 12):  # 12 single-row files: far under fill
        V.append_snapshot(_df(spark, [(i, "v")]), table)
    out = V.optimize_table(spark, table, sort_col="k",
                           vacuum_min_age_seconds=None)
    assert out["compacted"] and "files averaging" in out["reason"]
    man = V.read_manifest(table, V.current_snapshot(table))
    assert len(man["files"]) == 1 and man["rows"] == 12
    assert len(V.list_snapshots(table)) == 2  # keep=2 after vacuum
    # Healthy now: second optimize is a no-op (no new snapshot).
    before = V.current_snapshot(table)
    out = V.optimize_table(spark, table, sort_col="k",
                           vacuum_min_age_seconds=None)
    assert not out["compacted"] and out["snapshot"] == before

    # Pending MOR masks past the threshold also trigger, and the
    # compaction applies+clears them.
    for i in range(5):
        V.delete_keys_mor(spark, table, "k", _df(spark, [(i, "x")]))
    out = V.optimize_table(spark, table, sort_col="k",
                           max_delete_files=4,
                           vacuum_min_age_seconds=None)
    assert out["compacted"] and "delete masks" in out["reason"]
    man = V.read_manifest(table, V.current_snapshot(table))
    assert not man.get("delete_files") and man["rows"] == 7
    got = {r.k for r in V.read_current(spark, table).collect()}
    assert got == set(range(5, 12))


def test_optimize_table_unpublished_raises(spark, tmp_path):
    with pytest.raises(V.NoCurrentSnapshotError):
        V.optimize_table(spark, str(tmp_path / "nope"))


def test_optimize_cli(spark, tmp_path):
    from mc_ns_data_pipeline_spark.cli import main

    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(0, "v")]), table)
    for i in range(1, 12):
        V.append_snapshot(_df(spark, [(i, "v")]), table)
    assert main(["table", "optimize", "--table", table,
                 "--sort-col", "k"]) == 0
    man = V.read_manifest(table, V.current_snapshot(table))
    assert len(man["files"]) == 1 and man["rows"] == 12


def test_merge_mor_matches_cow_merge(spark, tmp_path):
    """MOR upsert answers EXACTLY like the COW merge — updated keys
    win (including the commit's own tie-generation files, exempt from
    their own mask), unmatched rows survive, new keys insert — while
    touching zero existing data files."""
    rows = [(i, f"v{i}") for i in range(50)]
    batch = [(7, "NEW7"), (23, "NEW23"), (99, "NEW99")]
    t_mor, t_cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    for t in (t_mor, t_cow):
        V.write_snapshot(
            spark.createDataFrame(rows, "k int, v string")
            .repartitionByRange(4, "k"), t)
    files_before = V.read_manifest(
        t_mor, V.current_snapshot(t_mor))["files"]
    snap = V.merge_snapshot_mor(spark, _df(spark, batch), t_mor, "k")
    V.merge_snapshot(spark, _df(spark, batch), t_cow, "k")
    man = V.read_manifest(t_mor, snap)
    assert man["op"] == "merge-mor"
    assert set(files_before) < set(man["files"])  # old files untouched
    assert man["reused_files"] == len(files_before)
    got_mor = {(r.k, r.v)
               for r in V.read_current(spark, t_mor).collect()}
    got_cow = {(r.k, r.v)
               for r in V.read_current(spark, t_cow).collect()}
    assert got_mor == got_cow
    assert man["rows"] == 51 == V.read_current(spark, t_mor).count()
    # Idempotent replay via txn stamp.
    s2 = V.merge_snapshot_mor(spark, _df(spark, batch), t_mor, "k",
                              txn_id="m:1")
    s3 = V.merge_snapshot_mor(spark, _df(spark, batch), t_mor, "k",
                              txn_id="m:1")
    assert s2 == s3
    assert V.read_current(spark, t_mor).count() == 51


def test_merge_mor_stacks_and_compacts(spark, tmp_path):
    """Stacked MOR upserts on the same key keep exactly the LATEST
    version visible; compaction applies all masks and clears them."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]).coalesce(1),
                     table)
    V.merge_snapshot_mor(spark, _df(spark, [(1, "a2")]), table, "k")
    V.merge_snapshot_mor(spark, _df(spark, [(1, "a3"), (3, "c")]),
                         table, "k")
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == {(1, "a3"), (2, "b"), (3, "c")}
    man = V.read_manifest(table, V.current_snapshot(table))
    assert man["rows"] == 3 and len(man["delete_files"]) == 2
    V.compact_snapshot(spark, table, sort_col="k", target_files=1)
    man = V.read_manifest(table, V.current_snapshot(table))
    assert not man.get("delete_files") and man["rows"] == 3
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == {(1, "a3"), (2, "b"), (3, "c")}


def test_read_changes_since_decomposes_merge_mor(spark, tmp_path):
    """CDC follows MOR upserts: the batch rows are inserts, the batch
    keys are retractions — deletes-then-upsert downstream reproduces
    the upsert. Later in-range upserts of the same key mask the
    earlier in-range version."""
    table = str(tmp_path / "t")
    s0 = V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    V.merge_snapshot_mor(spark, _df(spark, [(1, "a2"), (3, "c")]),
                         table, "k")
    V.merge_snapshot_mor(spark, _df(spark, [(1, "a3")]), table, "k")
    out = V.read_changes_since(spark, table, s0)
    ins = {(r.k, r.v) for r in out["inserts"].collect()}
    assert ins == {(1, "a3"), (3, "c")}  # (1,"a2") masked in-range
    dels = {r.k for r in out["deleted_keys"]["k"].collect()}
    assert dels == {1, 3}
    replica = {(1, "a"), (2, "b")}
    replica = {(k, v) for (k, v) in replica if k not in dels} | ins
    src = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert replica == src == {(1, "a3"), (2, "b"), (3, "c")}


def test_mixed_global_and_sequenced_masks(spark, tmp_path):
    """A manifest carrying BOTH mask classes at once — an entry every
    scanned file postdates-or-ties (sequenced path) and an entry newer
    than every file (global fast path) — must compose: the read plan
    mixes one plain and one sequenced anti-join over a single scan
    (input_file_name resolves only on single-source plans; regression
    for the mixed case the CLI lifecycle first hit)."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), table)
    # merge-mor: its entry TIES with its own files -> sequenced path
    V.merge_snapshot_mor(spark, _df(spark, [(2, "B2")]), table, "k")
    # delete-mor afterwards: newer than every file -> global path
    V.delete_keys_mor(spark, table, "k", _df(spark, [(3, "x")]))
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == {(1, "a"), (2, "B2")}
    man = V.read_manifest(table, V.current_snapshot(table))
    assert man["rows"] == 2 and len(man["delete_files"]) == 2


def test_mor_delete_applies_on_legacy_unstamped_table(spark, tmp_path):
    """A table whose manifests predate file_seq stamping: its files
    must sequence as 0 (provably before any delete), NOT at the gen of
    the commit that first stamps them — a current-gen stamp would tie
    with a delete published by that same commit and exempt the files
    from the mask (strict-below rule)."""
    table = str(tmp_path / "t")
    snap = V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    # Simulate a legacy manifest: strip the stamping.
    mp = os.path.join(table, "snapshots", f"{snap}.json")
    man = json.load(open(mp))
    man.pop("file_seq", None)
    with open(mp, "w") as fh:
        json.dump(man, fh)

    s2 = V.delete_keys_mor(spark, table, "k", _df(spark, [(1, "x")]))
    man2 = V.read_manifest(table, s2)
    assert all(v == 0 for v in man2["file_seq"].values())
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == {(2, "b")}  # the delete APPLIES
    assert man2["rows"] == 1


def test_merge_mor_empty_batch_publishes_nothing(spark, tmp_path):
    table = str(tmp_path / "t")
    snap = V.write_snapshot(_df(spark, [(1, "a")]), table)
    assert V.merge_snapshot_mor(
        spark, _df(spark, [(9, "z")]).limit(0), table, "k") == snap
    assert not V.read_manifest(table, snap).get("delete_files")


def test_stream_upsert_lands_latest_version_per_key(spark, sf_dir,
                                                    tmp_path):
    """Streaming upsert landing: the table reads as latest version per
    key, equal to the static last-write-wins answer; re-running on the
    exhausted checkpoint changes nothing; no stream batch rewrote any
    pre-existing data file (MOR) and every commit is txn-stamped."""
    from mc_ns_data_pipeline_spark.catalog import load_table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    table = str(tmp_path / "vt")
    ckpt = str(tmp_path / "ckpt")
    events = f"{sf_dir}/events.parquet"
    V.run_stream_upsert(spark, events, table, ckpt, key="event_id")

    static = load_table(spark, sf_dir, "events")
    n_keys = static.select("event_id").distinct().count()
    assert V.read_current(spark, table).count() == n_keys
    man = V.read_manifest(table, V.current_snapshot(table))
    assert man["rows"] == n_keys
    assert man["txn_id"].startswith("stream_upsert:")
    assert man["op"] in ("merge", "merge-mor")

    V.run_stream_upsert(spark, events, table, ckpt, key="event_id")
    assert V.read_current(spark, table).count() == n_keys
    # Maintenance applies any accumulated masks; content is unchanged.
    V.optimize_table(spark, table, sort_col="event_id",
                     max_delete_files=0, vacuum_min_age_seconds=None)
    man = V.read_manifest(table, V.current_snapshot(table))
    assert not man.get("delete_files")
    assert V.read_current(spark, table).count() == n_keys


def test_in_list_predicate_prunes_stats_and_blooms(spark, tmp_path):
    """("col", "in", [v...]) — the multi-point lookup: a file survives
    iff ANY listed value survives its stats AND blooms; the residual
    isin keeps semantics exact; the empty list matches nothing."""
    table = str(tmp_path / "t")
    base = (
        spark.createDataFrame([(i, i * 10) for i in range(100)],
                              "k int, val int")
        .repartitionByRange(4, "k")  # disjoint ranges: 0-24/25-49/...
    )
    snap = V.write_snapshot(base, table, stats_cols=["k"],
                            bloom_cols=["k"])
    rep = V.prune_report(table, snap, [("k", "in", [3, 7, 98])])
    assert rep["skipped"] == 2  # middle two range files untouched
    got = {r.k for r in V.read_current(
        spark, table, predicates=[("k", "in", [3, 7, 98])]).collect()}
    assert got == {3, 7, 98}
    # Absent values: blooms kill every file, result is empty.
    rep = V.prune_report(table, snap, [("k", "in", [1000, 2000])])
    assert rep["skipped"] == 4
    assert V.read_current(
        spark, table, predicates=[("k", "in", [1000, 2000])]).count() == 0
    # Empty list: nothing matches, nothing scanned.
    rep = V.prune_report(table, snap, [("k", "in", [])])
    assert rep["skipped"] == 4
    assert V.read_current(
        spark, table, predicates=[("k", "in", [])]).count() == 0
    # Composes with MOR masks.
    V.delete_keys_mor(spark, table, "k",
                      spark.createDataFrame([(7,)], "k int"))
    got = {r.k for r in V.read_current(
        spark, table, predicates=[("k", "in", [3, 7, 98])]).collect()}
    assert got == {3, 98}


def test_bloom_assisted_locate_on_unclustered_merge(spark, tmp_path):
    """On an UNCLUSTERED table every file's [min,max] spans the
    keyspace (stats prune nothing), but the per-file blooms cut the
    merge-locate candidates to the files actually holding batch keys —
    proven the blunt way: physically remove files the blooms exclude
    and merge anyway. Same path serves the MOR decrement count."""
    table = str(tmp_path / "t")
    base = (
        spark.createDataFrame([(i, "v") for i in range(400)],
                              "k int, v string")
        .repartition(8, "k")  # hash-scattered: ranges all overlap
    )
    V.write_snapshot(base, table, stats_cols=["k"], bloom_cols=["k"])
    man = V.read_manifest(table, V.current_snapshot(table))
    assert len(man["files"]) == 8

    batch = _df(spark, [(7, "UPD")])
    cands = V._stat_candidates(man, "k", batch.select("k"))
    assert 1 <= len(cands) <= 2  # bloom cut 8 -> ~1 (plus rare FP)

    # Hide every non-candidate file: a locate that touches them fails.
    import os
    for f in man["files"]:
        if f not in cands:
            os.rename(os.path.join(table, "data", f),
                      os.path.join(table, "data", f + ".hidden"))
    snap = V.merge_snapshot(spark, batch, table, "k")
    for f in man["files"]:
        if f not in cands:
            os.rename(os.path.join(table, "data", f + ".hidden"),
                      os.path.join(table, "data", f))
    man2 = V.read_manifest(table, snap)
    assert man2["reused_files"] >= 7
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == {(i, "v") for i in range(400) if i != 7} | {(7, "UPD")}

    # MOR delete's exact decrement rides the same candidate cut.
    s3 = V.delete_keys_mor(spark, table, "k", _df(spark, [(8, "x")]))
    assert V.read_manifest(table, s3)["rows"] == 399


def test_hammer_readers_during_mor_lifecycle(spark, tmp_path):
    """MVCC under the merge-on-read commit types: readers loop while a
    writer alternates MOR deletes, MOR upserts, and mask-applying
    compactions. Every read must equal exactly one published state —
    a reader must never see a delete file without its manifest (or
    vice versa), and never a half-applied mask."""
    table = str(tmp_path / "t")
    # State g: keys 0..9 live, each carrying value f"g{g}" — every
    # generation is distinguishable and internally consistent.
    V.write_snapshot(
        _df(spark, [(i, "g0") for i in range(10)]), table)
    stop = threading.Event()
    bad: list[object] = []

    def reader():
        while not stop.is_set():
            try:
                rows = V.read_current(spark, table).collect()
                vals = {r.v for r in rows}
                keys = sorted(r.k for r in rows)
                # Published states: all 10 keys at one generation, or
                # the same minus key 3 (between its MOR delete and its
                # re-insert). Anything else is a torn read.
                ok_keys = (keys == list(range(10))
                           or keys == [k for k in range(10) if k != 3])
                if len(vals) != 1 or not ok_keys:
                    bad.append((vals, keys))
            except Exception as exc:  # noqa: BLE001 — any error fails
                bad.append(exc)

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    try:
        for gen in range(1, 4):
            batch = _df(spark, [(i, f"g{gen}") for i in range(10)])
            # Upsert all keys to the new generation value (MOR), then
            # delete a key and re-insert it (MOR), then compact.
            V.merge_snapshot_mor(spark, batch, table, "k")
            V.delete_keys_mor(spark, table, "k", _df(spark, [(3, "x")]))
            V.append_snapshot(_df(spark, [(3, f"g{gen}")]), table)
            V.compact_snapshot(spark, table, sort_col="k",
                               target_files=2)
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert bad == [], bad[:3]
    got = {(r.k, r.v) for r in V.read_current(spark, table).collect()}
    assert got == {(i, "g3") for i in range(10)}


def test_vacuum_age_guards_never_referenced_pool_files(spark, tmp_path):
    """Review finding (r5): optimistic writers land pool files and
    scan them with NO lease held, BEFORE any manifest names them — a
    concurrent vacuum must not treat those as crash debris. Young
    never-referenced files survive; old ones reap; files referenced by
    a manifest this vacuum reaps still delete immediately."""
    table = str(tmp_path / "t")
    snap1 = V.write_snapshot(_df(spark, [(1, "a")]), table)
    old_files = set(V.read_manifest(table, snap1)["files"])
    V.write_snapshot(_df(spark, [(2, "b")]), table)  # supersedes snap1

    root = os.path.join(table, "data")
    young = os.path.join(root, "00inflight.parquet")
    with open(young, "wb") as fh:
        fh.write(b"landing")  # a concurrent writer's fresh file
    old = os.path.join(root, "00debris.parquet")
    with open(old, "wb") as fh:
        fh.write(b"debris")
    stale = time.time() - 10
    os.utime(old, (stale, stale))

    out = V.vacuum_snapshots(table, keep=1, staging_age_seconds=5.0)
    assert os.path.exists(young)  # in-flight landing protected
    assert not os.path.exists(old)  # aged crash debris reaped
    for f in old_files:  # superseded-manifest files reap immediately
        assert not os.path.exists(os.path.join(root, f))
    assert V.read_current(spark, table).count() == 1


# ---------------------------------------------------------------------------
# Hidden partitioning (r5 verdict #6): partition spec declared once at
# table creation, inherited by every commit, landings auto-cluster,
# pruning works on SOURCE columns with no caller-side layout calls.
# ---------------------------------------------------------------------------


def _spec_df(spark, n=2000):
    import datetime as dt

    rows = [(i, dt.datetime(2024, 1, 1 + (i % 5), 3, 0, 0), i % 97,
             float(i)) for i in range(n)]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")


#: Pins the layout of spec'd landings under test: AQE coalesces tiny
#: test batches to one file (right in prod, untestable), and a spec'd
#: landing writes one file per shuffle partition, whose count would
#: otherwise follow the core count.
_SPEC_LAYOUT_CONF = {
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.shuffle.partitions": "16",
}


def test_partition_spec_clusters_and_prunes(spark, tmp_path):
    import datetime as dt

    table = str(tmp_path / "t")
    with scoped_conf(spark, _SPEC_LAYOUT_CONF):
        snap = V.write_snapshot(
            _spec_df(spark), table,
            partition_spec=["days(ts)", "bucket(8, user_id)"])
    man = V.read_manifest(table, snap)
    assert man["partition_spec"] == [
        {"transform": "days", "col": "ts"},
        {"transform": "bucket", "n": 8, "col": "user_id"}]
    # auto-enrollment: days -> stats, bucket -> blooms
    assert "ts" in (man["stats_cols"] or [])
    assert "user_id" in (man["bloom_cols"] or [])
    assert len(man["files"]) > 2
    # span pruning on the SOURCE column: a 1-of-5-days window keeps a
    # strict subset of files and the exact rows
    rep = V.prune_report(
        table, snap,
        [("ts", ">=", dt.datetime(2024, 1, 3)),
         ("ts", "<", dt.datetime(2024, 1, 4))])
    assert 0 < len(rep["kept"]) < rep["total"]
    got = V.read_snapshot(
        spark, table, snap,
        predicates=[("ts", ">=", dt.datetime(2024, 1, 3)),
                    ("ts", "<", dt.datetime(2024, 1, 4))]).count()
    assert got == 400
    # bloom pruning for the bucket transform
    rep = V.prune_report(table, snap, [("user_id", "=", 7)])
    assert len(rep["kept"]) < rep["total"]
    assert V.read_snapshot(
        spark, table, snap,
        predicates=[("user_id", "=", 7)]).count() == \
        sum(1 for i in range(2000) if i % 97 == 7)


def test_partition_spec_inherited_by_append_and_mor(spark, tmp_path):
    import datetime as dt

    table = str(tmp_path / "t")
    spec = ["days(ts)"]
    V.write_snapshot(_spec_df(spark, 500), table, partition_spec=spec)
    s2 = V.append_snapshot(_spec_df(spark, 100), table)
    assert V._read_core(table, s2)["partition_spec"] == [
        {"transform": "days", "col": "ts"}]
    s3 = V.merge_snapshot_mor(
        spark, _spec_df(spark, 10), table, "event_id")
    assert V._read_core(table, s3)["partition_spec"] == [
        {"transform": "days", "col": "ts"}]
    # a full refresh REDEFINES (here: drops) the spec
    s4 = V.write_snapshot(_spec_df(spark, 50), table)
    assert V._read_core(table, s4)["partition_spec"] is None
    # and pre-spec batches lacking a spec column still land
    V.write_snapshot(_spec_df(spark, 50), table,
                     partition_spec=["days(ts)"])
    s5 = V.append_snapshot(
        spark.createDataFrame([(999999, 1.0)],
                              "event_id long, value double"), table)
    assert V.read_snapshot(spark, table, s5).count() == 51


def test_partition_spec_validation(spark, tmp_path):
    table = str(tmp_path / "t")
    with pytest.raises(ValueError, match="not in schema"):
        V.write_snapshot(_spec_df(spark, 10), table,
                         partition_spec=["days(nope)"])
    with pytest.raises(ValueError, match="unsupported"):
        V.write_snapshot(_spec_df(spark, 10), table,
                         partition_spec=["hilbert(ts, user_id)"])
    with pytest.raises(ValueError, match="numeric"):
        V.write_snapshot(_spec_df(spark, 10), table,
                         partition_spec=["zorder(ts, user_id)"])


def test_compaction_restores_partition_spec_clustering(spark, tmp_path):
    """OPTIMIZE on a hidden-partitioned table must re-cluster to the
    spec (and keep the spec in the manifest) — otherwise maintenance
    would silently flatten the layout pruning depends on."""
    import datetime as dt

    table = str(tmp_path / "t")
    V.write_snapshot(_spec_df(spark, 400), table,
                     partition_spec=["days(ts)"])
    for i in range(4):  # small appends shatter the layout
        V.append_snapshot(_spec_df(spark, 50), table)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "false")
    try:
        snap = V.compact_snapshot(spark, table, target_files=5)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       "true")
    man = V.read_manifest(table, snap)
    assert man["partition_spec"] == [
        {"transform": "days", "col": "ts"}]  # spec inherited
    rep = V.prune_report(
        table, snap,
        [("ts", ">=", dt.datetime(2024, 1, 3)),
         ("ts", "<", dt.datetime(2024, 1, 4))])
    assert 0 < len(rep["kept"]) < rep["total"], (
        "compacted files must be day-clustered again")
    assert V.read_snapshot(
        spark, table, snap,
        predicates=[("ts", ">=", dt.datetime(2024, 1, 3)),
                    ("ts", "<", dt.datetime(2024, 1, 4))]).count() \
        == 80 + 4 * 10


def test_stream_upsert_stages_on_branch_until_published(
        spark, sf_dir, tmp_path):
    """WAP streaming UPSERT: each micro-batch's rows AND mask stage on
    the branch; the table is pristine until publish, then reads as
    latest-version-per-key."""
    from mc_ns_data_pipeline_spark.catalog import load_table

    table = str(tmp_path / "vt")
    seed = spark.createDataFrame([(-1, "seed")],
                                 "event_id long, v string")
    V.write_snapshot(seed, table)
    ckpt = str(tmp_path / "ckpt")
    events = f"{sf_dir}/events.parquet"
    V.run_stream_upsert(spark, events, table, ckpt, key="event_id",
                        branch="quarantine")
    assert V.read_current(spark, table).count() == 1  # invisible
    n_keys = (load_table(spark, sf_dir, "events")
              .select("event_id").distinct().count())
    staged = V.read_ref(spark, table, "quarantine").count()
    assert staged == 1 + n_keys  # seed key -1 is no event_id

    V.publish_ref(table, "quarantine")
    assert V.read_current(spark, table).count() == 1 + n_keys


def test_partition_spec_zorder_prunes_both_dimensions(spark, tmp_path):
    """zorder(a, b) as a whole-layout transform: every file gets a
    tight [min, max] on BOTH columns, so range predicates on either
    dimension prune — multi-dimensional data skipping with no caller-
    side layout calls."""
    rows = [(i, float(i % 100), float((i * 37) % 100))
            for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    table = str(tmp_path / "t")
    with scoped_conf(spark, _SPEC_LAYOUT_CONF):
        snap = V.write_snapshot(df, table,
                                partition_spec=["zorder(a, b)"])
    man = V.read_manifest(table, snap)
    assert man["partition_spec"] == [
        {"transform": "zorder", "cols": ["a", "b"]}]
    assert {"a", "b"} <= set(man["stats_cols"])
    assert len(man["files"]) > 4
    rep_a = V.prune_report(table, snap, [("a", "<", 10.0)])
    rep_b = V.prune_report(table, snap, [("b", "<", 10.0)])
    assert len(rep_a["kept"]) < rep_a["total"]
    assert len(rep_b["kept"]) < rep_b["total"]
    got = V.read_snapshot(spark, table, snap,
                          predicates=[("a", "<", 10.0)]).count()
    assert got == sum(1 for _, a, _b in rows if a < 10.0)
    with pytest.raises(ValueError, match="alone"):
        V.write_snapshot(df, str(tmp_path / "t2"),
                         partition_spec=["zorder(a, b)", "id"])


def test_zorder_spec_preserves_user_zkey_column(spark, tmp_path):
    """A user column literally named _zkey must survive zorder
    clustering untouched (the temp key column is uuid-suffixed)."""
    df = spark.createDataFrame(
        [(float(i), float(i * 3 % 7), f"z{i}") for i in range(50)],
        "a double, b double, _zkey string")
    table = str(tmp_path / "t")
    snap = V.write_snapshot(df, table, partition_spec=["zorder(a, b)"])
    got = {r._zkey for r in V.read_snapshot(spark, table, snap)
           .collect()}
    assert got == {f"z{i}" for i in range(50)}


def test_compact_honors_target_files_on_spec_table(spark, tmp_path):
    """target_files caps the output of a spec-clustered compaction —
    an uncapped range shuffle would EMIT more files than it consumed."""
    table = str(tmp_path / "t")
    V.write_snapshot(_spec_df(spark, 400), table,
                     partition_spec=["days(ts)"])
    for _ in range(5):
        V.append_snapshot(_spec_df(spark, 40), table)
    snap = V.compact_snapshot(spark, table, target_files=3)
    man = V.read_manifest(table, snap)
    assert len(man["files"]) <= 3
    assert V.read_snapshot(spark, table, snap).count() == 600


def test_set_partition_spec_evolution(spark, tmp_path):
    """Spec evolution: redefine or drop the spec with a metadata-only
    commit — same rows, future landings cluster to the NEW spec, the
    next compaction re-clusters everything, old files stay readable."""
    import datetime as dt

    table = str(tmp_path / "t")
    V.write_snapshot(_spec_df(spark, 300), table)  # no spec at all
    snap = V.set_partition_spec(table, ["days(ts)"])
    core = V._read_core(table, snap)
    assert core["op"] == "set-spec"
    assert core["partition_spec"] == [
        {"transform": "days", "col": "ts"}]
    assert "ts" in (core["stats_cols"] or [])  # auto-enrolled
    assert V.read_current(spark, table).count() == 300  # same rows

    # future landings inherit + cluster to the evolved spec
    s2 = V.append_snapshot(_spec_df(spark, 100), table)
    assert V._read_core(table, s2)["partition_spec"] is not None
    # compaction re-clusters the WHOLE table to the new spec
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "false")
    try:
        s3 = V.compact_snapshot(spark, table, target_files=5)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       "true")
    rep = V.prune_report(
        table, s3,
        [("ts", ">=", dt.datetime(2024, 1, 3)),
         ("ts", "<", dt.datetime(2024, 1, 4))])
    assert 0 < len(rep["kept"]) < rep["total"]

    # drop: future landings stop clustering, nothing breaks
    s4 = V.set_partition_spec(table, None)
    assert V._read_core(table, s4)["partition_spec"] is None
    s5 = V.append_snapshot(_spec_df(spark, 10), table)
    assert V._read_core(table, s5)["partition_spec"] is None
    assert V.read_current(spark, table).count() == 410

    # validation still applies on evolution
    with pytest.raises(ValueError, match="not in table schema"):
        V.set_partition_spec(table, ["days(nope)"])


def test_set_partition_spec_on_chunked_table(spark, tmp_path,
                                             monkeypatch):
    """Spec evolution on a CHUNKED table is O(commit) metadata: the
    parent's sidecars are reused by id."""
    monkeypatch.setattr(V, "_MANIFEST_CHUNK_FILES", 6)
    monkeypatch.setattr(V, "_MANIFEST_CHUNK_SIZE", 4)
    table = str(tmp_path / "t")
    V.write_snapshot(
        _spec_df(spark, 200).repartition(8), table)
    parent_ids = [ch["id"] for ch in V._read_core(
        table, V.current_snapshot(table))["chunks"]]
    snap = V.set_partition_spec(table, ["days(ts)"])
    core = V._read_core(table, snap)
    assert [ch["id"] for ch in core["chunks"]] == parent_ids
    assert core["partition_spec"] is not None
    assert V.read_current(spark, table).count() == 200


def test_changelog_readers_skip_set_spec_commits(spark, tmp_path):
    """A metadata-only spec evolution in the lineage must not break
    incremental consumers — it is row-preserving, like compact."""
    table = str(tmp_path / "t")
    V.write_snapshot(_spec_df(spark, 50), table)
    since = V.current_snapshot(table)
    V.set_partition_spec(table, ["days(ts)"])
    V.append_snapshot(_spec_df(spark, 10), table)
    got = V.read_appended_since(spark, table, since)
    assert got.count() == 10  # crossed the set-spec without error
    chg = V.read_changes_since(spark, table, since)
    assert chg["inserts"].count() == 10
    assert not chg["deleted_keys"]


def test_vacuum_reaps_aged_tmp_debris(spark, tmp_path):
    """A crash between a tmp write and its atomic rename leaves
    .tmp- debris in snapshots/ and chunks/ — vacuum reaps it past the
    staging age floor, never younger (could be a live writer's)."""
    import time

    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a")]), table)
    croot = V._chunks_root(table)
    os.makedirs(croot, exist_ok=True)
    old = time.time() - 10
    young_t = os.path.join(croot, "abc.json.tmp-dead")
    old_t = os.path.join(croot, "def.blm.tmp-dead")
    man_t = os.path.join(V._snapshots_root(table), "x.json.tmp-dead")
    for p in (young_t, old_t, man_t):
        open(p, "w").close()
    os.utime(old_t, (old, old))
    os.utime(man_t, (old, old))
    V.vacuum_snapshots(table, keep=2, staging_age_seconds=5.0)
    assert os.path.exists(young_t)  # too young: maybe in-flight
    assert not os.path.exists(old_t)
    assert not os.path.exists(man_t)
