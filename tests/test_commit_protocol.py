"""The commit protocol every versioned data verb publishes through
(``versioned._commit``): a full refresh queues for the publish lease
like every other verb, and each verb stays atomic under a crash at
each commit step — readers keep the pre-commit snapshot, a retry
converges, and vacuum reaps what the crashed attempt left."""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest

from mc_ns_data_pipeline_spark.sinks import versioned as V
from mc_ns_data_pipeline_spark.sinks.lease import table_lease


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _rows(spark, table):
    return {(r.k, r.v) for r in V.read_current(spark, table).collect()}


def _hold_lease_after_landing(spark, table, monkeypatch, move: bool):
    """Arm the next landing: once its files are in the pool, optionally
    move CURRENT with an append, then have another thread hold the
    table lease for ~1 s (a tagger's or an append's publish)."""
    orig = V._land_in_pool
    armed = [True]
    holding = threading.Event()

    def hold():
        with table_lease(table, owner="holder"):
            holding.set()
            time.sleep(1.0)

    def land(df, t):
        names = orig(df, t)
        if armed[0]:
            armed[0] = False
            if move:
                V.append_snapshot(_df(spark, [(5, "mid")]), table)
            threading.Thread(target=hold, daemon=True).start()
            assert holding.wait(30)
        return names

    monkeypatch.setattr(V, "_land_in_pool", land)


def test_full_refresh_waits_out_a_short_lease_hold(spark, tmp_path,
                                                   monkeypatch):
    """A refresh whose publish meets another lease holder queues for
    it (as every optimistic verb does) instead of dropping its landed
    files with TableLockedError."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a")]), table)
    _hold_lease_after_landing(spark, table, monkeypatch, move=False)
    t0 = time.monotonic()
    snap = V.write_snapshot(_df(spark, [(2, "b")]), table)
    assert time.monotonic() - t0 >= 0.5  # it queued behind the holder
    assert V.current_snapshot(table) == snap
    assert _rows(spark, table) == {(2, "b")}


def test_full_refresh_still_conflicts_after_waiting(spark, tmp_path,
                                                    monkeypatch):
    """Waiting changes nothing about the overwrite rule: CURRENT moved
    while the refresh staged, so the publish conflicts."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a")]), table)
    _hold_lease_after_landing(spark, table, monkeypatch, move=True)
    with pytest.raises(V.CommitConflictError):
        V.write_snapshot(_df(spark, [(2, "b")]), table)
    assert _rows(spark, table) == {(1, "a"), (5, "mid")}


_BASE = {(1, "a"), (2, "b"), (3, "c")}
_MERGED = {(1, "a"), (2, "B"), (3, "c"), (5, "e")}
_DELETED = {(1, "a"), (3, "c")}

#: verb -> (commit on table t, the table's rows once it committed)
_VERBS = {
    "write_snapshot": (
        lambda spark, t: V.write_snapshot(_df(spark, [(9, "z")]), t),
        {(9, "z")}),
    "append_snapshot": (
        lambda spark, t: V.append_snapshot(_df(spark, [(4, "d")]), t),
        _BASE | {(4, "d")}),
    "compact_snapshot": (
        lambda spark, t: V.compact_snapshot(spark, t), _BASE),
    "merge_snapshot": (
        lambda spark, t: V.merge_snapshot(
            spark, _df(spark, [(2, "B"), (5, "e")]), t, "k"),
        _MERGED),
    "merge_snapshot_mor": (
        lambda spark, t: V.merge_snapshot_mor(
            spark, _df(spark, [(2, "B"), (5, "e")]), t, "k"),
        _MERGED),
    "delete_keys_snapshot": (
        lambda spark, t: V.delete_keys_snapshot(
            spark, t, "k", _df(spark, [(2, "x")])),
        _DELETED),
    "delete_keys_mor": (
        lambda spark, t: V.delete_keys_mor(
            spark, t, "k", _df(spark, [(2, "x")])),
        _DELETED),
}


class _Crash(Exception):
    pass


def _crash_before_lease(monkeypatch, table):
    """Staged (files and masks landed), then the process dies before
    the publish lease is taken."""
    def crash(*a, **k):
        raise _Crash("before the lease")
    monkeypatch.setattr(V, "table_lease", crash)


def _crash_before_flip(monkeypatch, table):
    """Manifest written, then the process dies before the pointer
    flip."""
    orig = V._atomic_write_text
    pointer = V._pointer_path(table)

    def write(path, text):
        if path == pointer:
            raise _Crash("before the flip")
        return orig(path, text)
    monkeypatch.setattr(V, "_atomic_write_text", write)


def _live_files(table):
    man = V.read_manifest(table, V.current_snapshot(table))
    return set(man["files"]) | {d["file"]
                                for d in man.get("delete_files") or []}


@pytest.fixture(scope="module")
def base_table(spark, tmp_path_factory):
    """The pre-commit table every matrix case copies: two data files
    holding ``_BASE``."""
    table = str(tmp_path_factory.mktemp("matrix") / "base")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b")]), table)
    V.append_snapshot(_df(spark, [(3, "c")]), table)
    return table


@pytest.mark.parametrize("step", ["before_lease", "before_flip"])
@pytest.mark.parametrize("verb", sorted(_VERBS))
def test_crash_point_matrix(spark, tmp_path, monkeypatch, base_table,
                            verb, step):
    commit, want = _VERBS[verb]
    table = str(tmp_path / "t")
    shutil.copytree(base_table, table)
    pre = V.current_snapshot(table)
    data = V._data_root(table)
    files_before = set(os.listdir(data))
    snaps_before = set(V.list_snapshots(table))

    with monkeypatch.context() as m:
        (_crash_before_lease if step == "before_lease"
         else _crash_before_flip)(m, table)
        with pytest.raises(_Crash):
            commit(spark, table)

    # readers see the pre-commit snapshot
    assert V.current_snapshot(table) == pre
    assert _rows(spark, table) == _BASE
    orphans = set(os.listdir(data)) - files_before
    orphan_snaps = set(V.list_snapshots(table)) - snaps_before
    assert orphans  # the crashed attempt had landed its files
    assert bool(orphan_snaps) == (step == "before_flip")

    # a retry converges to the committed state
    snap = commit(spark, table)
    assert V.current_snapshot(table) == snap != pre
    assert _rows(spark, table) == want
    assert V.read_manifest(table, snap)["rows"] == len(want)

    # vacuum reaps the crashed attempt's pool files and manifest
    V.vacuum_snapshots(table, keep=1, staging_age_seconds=0.0)
    assert set(os.listdir(data)) == _live_files(table)
    assert not orphans & set(os.listdir(data))
    assert V.list_snapshots(table) == [snap]
    assert _rows(spark, table) == want


@pytest.mark.parametrize("verb,op", [("merge_snapshot_mor", "merge-mor"),
                                     ("delete_keys_mor", "delete-mor")])
def test_mor_commit_rebases_over_a_bloom_adding_set_spec(
        spark, tmp_path, monkeypatch, verb, op):
    """A MOR commit staged before a set-spec that enrolls a bloom
    column (a bucket on the key) rebases over it: it recounts its
    matches, publishes under the head's opt-ins and keeps the row count
    exact — the mask-only delete too, which has no files to re-scan."""
    table = str(tmp_path / "t")
    V.write_snapshot(_df(spark, sorted(_BASE)), table)
    orig = V._mor_matched
    calls = []

    def matched(*a, **k):
        if not calls:  # staged: the set-spec lands before the publish
            V.set_partition_spec(table, ["bucket(4, k)"])
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(V, "_mor_matched", matched)
    commit, want = _VERBS[verb]
    commit(spark, table)
    assert len(calls) == 2  # the staged count and the rebase recount
    core = V._read_core(table, V.current_snapshot(table))
    assert core["op"] == op
    assert core["bloom_cols"] == ["k"]
    assert core["partition_spec"] == [
        {"transform": "bucket", "n": 4, "col": "k"}]
    assert core["rows"] == len(want)
    assert _rows(spark, table) == want
