"""CDC round-trip: a versioned table's change feed applied to a
REPLICA versioned table (streaming/incremental.py
run_stream_apply_changes / apply_change_batch) — the reference's
per-lot delete-then-insert replace (file_processor.py:96-118) as a
streaming consumer, with net-state equality, restart safety, and
unit-idempotent batch replay."""

from __future__ import annotations

import os

import pytest

from mc_ns_data_pipeline_spark.sinks import versioned as V
from mc_ns_data_pipeline_spark.streaming.incremental import (
    apply_change_batch,
    run_stream_apply_changes,
)


def _df(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


def _state(spark, table):
    return {tuple(r) for r in V.read_current(spark, table).collect()}


def _setup(spark, tmp_path):
    src = str(tmp_path / "src")
    rep = str(tmp_path / "rep")
    ckpt = str(tmp_path / "ckpt")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), src)
    mark = V.current_snapshot(src)
    # initial copy at the mark — the realistic CDC-apply bootstrap
    V.write_snapshot(V.read_current(spark, src), rep)
    return src, rep, ckpt, mark


def test_replica_tracks_interleaved_commits(spark, tmp_path):
    src, rep, ckpt, mark = _setup(spark, tmp_path)
    V.append_snapshot(_df(spark, [(4, "d"), (5, "e")]), src)
    V.delete_keys_mor(spark, src, "k",
                      _df(spark, [(2, "b")]).select("k"))
    V.merge_snapshot_mor(
        spark, _df(spark, [(3, "c2"), (6, "f")]), src, "k")
    run_stream_apply_changes(spark, src, rep, ckpt, "k",
                             starting=mark)
    assert _state(spark, rep) == _state(spark, src) == {
        (1, "a"), (3, "c2"), (4, "d"), (5, "e"), (6, "f")}


def test_restart_applies_only_new_changes(spark, tmp_path):
    src, rep, ckpt, mark = _setup(spark, tmp_path)
    V.delete_keys_mor(spark, src, "k",
                      _df(spark, [(1, "a")]).select("k"))
    run_stream_apply_changes(spark, src, rep, ckpt, "k",
                             starting=mark)
    assert _state(spark, rep) == _state(spark, src)
    # more commits while the consumer is down, then resume
    V.append_snapshot(_df(spark, [(7, "g")]), src)
    V.merge_snapshot_mor(spark, _df(spark, [(7, "g2")]), src, "k")
    V.delete_keys_mor(spark, src, "k",
                      _df(spark, [(3, "c")]).select("k"))
    run_stream_apply_changes(spark, src, rep, ckpt, "k",
                             starting=mark)
    assert _state(spark, rep) == _state(spark, src) == {
        (2, "b"), (7, "g2")}
    # idle restart: no-op
    before = V.current_snapshot(rep)
    run_stream_apply_changes(spark, src, rep, ckpt, "k",
                             starting=mark)
    assert V.current_snapshot(rep) == before


def test_batch_replay_is_unit_idempotent(spark, tmp_path):
    """Replaying a whole change batch (what a crash between the
    replica publish and the checkpoint advance produces) reproduces
    the identical replica state — delete-then-upsert as a unit."""
    src, rep, ckpt, mark = _setup(spark, tmp_path)
    # the event shape the change feed emits: delete k=2 at gen 2,
    # MOR upsert of k=3 at gen 3 (retraction + reinsert, equal gen)
    batch = spark.createDataFrame(
        [(2, None, "delete", 2), (3, None, "delete", 3),
         (3, "c2", "insert", 3)],
        "k int, v string, _change_type string, _commit_gen long")
    apply_change_batch(spark, batch, rep, "k", "cdc_apply-0")
    want = {(1, "a"), (3, "c2")}
    assert _state(spark, rep) == want
    apply_change_batch(spark, batch, rep, "k", "cdc_apply-0")
    assert _state(spark, rep) == want  # replay: same net state
    assert V.list_refs(rep) == {}  # no orphaned staging branches


def test_mid_apply_crash_leaves_replica_consistent(spark, tmp_path):
    """A crash BETWEEN the staged delete and the staged upsert leaves
    only an orphaned branch: the replica still reads the pre-batch
    state (single pointer flip), and the replayed batch completes."""
    src, rep, ckpt, mark = _setup(spark, tmp_path)
    V.merge_snapshot_mor(spark, _df(spark, [(1, "a2")]), src, "k")
    batch = spark.createDataFrame(
        [(1, None, "delete", 2), (1, "a2", "insert", 2)],
        "k int, v string, _change_type string, _commit_gen long")
    pre = _state(spark, rep)
    # simulate the partial apply: stage ONLY the delete side
    V.delete_keys_mor(spark, rep, "k",
                      batch.filter("_change_type = 'delete'")
                      .select("k"), branch="cdc_apply-0")
    assert _state(spark, rep) == pre  # intermediate state invisible
    apply_change_batch(spark, batch, rep, "k", "cdc_apply-0")
    assert _state(spark, rep) == _state(spark, src)
    assert V.list_refs(rep) == {}


def test_capped_drain_through_public_runner(spark, tmp_path):
    """VERDICT r10 #2: the PUBLIC runner honors admission control — a
    backlog of 5 commits with max_commits_per_trigger=2 drains as
    ⌈5/2⌉ = 3 checkpointed batches (one bounded batch per
    availableNow run, looped until caught up), replica ≡ source."""
    src, rep, ckpt, mark = _setup(spark, tmp_path)
    V.append_snapshot(_df(spark, [(4, "d")]), src)
    V.append_snapshot(_df(spark, [(5, "e")]), src)
    V.merge_snapshot_mor(spark, _df(spark, [(3, "c2")]), src, "k")
    V.delete_keys_mor(spark, src, "k",
                      _df(spark, [(2, "b")]).select("k"))
    V.append_snapshot(_df(spark, [(6, "f")]), src)
    batches: list[int] = []
    run_stream_apply_changes(spark, src, rep, ckpt, "k",
                             starting=mark,
                             max_commits_per_trigger=2,
                             on_batch=lambda bid, s, b: batches.append(bid))
    assert _state(spark, rep) == _state(spark, src) == {
        (1, "a"), (3, "c2"), (4, "d"), (5, "e"), (6, "f")}
    assert len(batches) == 3  # ⌈5 commits / cap 2⌉
    assert batches == sorted(batches)
    # caught-up re-run admits nothing (no fourth batch, no flip)
    before = V.current_snapshot(rep)
    run_stream_apply_changes(spark, src, rep, ckpt, "k",
                             starting=mark,
                             max_commits_per_trigger=2,
                             on_batch=lambda bid, s, b: batches.append(bid))
    assert V.current_snapshot(rep) == before
    assert len(batches) == 3


def test_capped_drain_kill_mid_drain_resumes_exactly_once(
        spark, tmp_path):
    """A crash mid-drain (simulated: the batch hook raises after the
    first applied batch) resumes from the last committed batch — the
    rerun replays at most the uncommitted batch (unit-idempotent)
    and finishes the remaining capped batches."""
    src, rep, ckpt, mark = _setup(spark, tmp_path)
    for i in range(4, 9):
        V.append_snapshot(_df(spark, [(i, f"v{i}")]), src)

    applied: list[int] = []

    def crash_after_first(bid, s, b):
        applied.append(bid)
        if len(applied) == 1:
            raise RuntimeError("simulated crash mid-drain")

    with pytest.raises(Exception, match="simulated crash"):
        run_stream_apply_changes(spark, src, rep, ckpt, "k",
                                 starting=mark,
                                 max_commits_per_trigger=2,
                                 on_batch=crash_after_first)
    # resume: drains the remainder; net state exact, no double-apply
    run_stream_apply_changes(spark, src, rep, ckpt, "k",
                             starting=mark,
                             max_commits_per_trigger=2)
    assert _state(spark, rep) == _state(spark, src)
    assert V.list_refs(rep) == {}


def test_drain_batches_start_no_streaming_query(spark, tmp_path):
    """The drain is a driver loop: an uncapped call applies a 4-commit
    backlog as ONE batch, a call capped at 2 as two, and neither
    starts a streaming query (onQueryStarted fires synchronously
    inside start(), so the listener count is exact)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Starts(StreamingQueryListener):
        n = 0

        def onQueryStarted(self, event):
            Starts.n += 1

        def onQueryProgress(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    src, rep, ckpt, mark = _setup(spark, tmp_path)
    for i in range(4, 8):
        V.append_snapshot(_df(spark, [(i, f"v{i}")]), src)
    listener = Starts()
    spark.streams.addListener(listener)
    try:
        uncapped: list[int] = []
        run_stream_apply_changes(
            spark, src, rep, ckpt, "k", starting=mark,
            on_batch=lambda bid, s, b: uncapped.append(bid))
        assert uncapped == [0]
        assert _state(spark, rep) == _state(spark, src)

        rep2 = str(tmp_path / "rep2")
        V.write_snapshot(V.read_snapshot(spark, src, mark), rep2)
        capped: list[int] = []
        run_stream_apply_changes(
            spark, src, rep2, str(tmp_path / "ckpt2"), "k",
            starting=mark, max_commits_per_trigger=2,
            on_batch=lambda bid, s, b: capped.append(bid))
        assert capped == [0, 1]  # ceil(4 commits / cap 2)
        assert _state(spark, rep2) == _state(spark, src)
    finally:
        spark.streams.removeListener(listener)
    assert Starts.n == 0


def test_driver_net_rule_matches_window(spark):
    """_net_rows (the driver's net actions) equals _net_actions (the
    window) on an equal-generation retract + reinsert, a re-delete, a
    reinsert after a delete, NULL groups and a NULL key."""
    import pyarrow as pa

    from mc_ns_data_pipeline_spark.streaming.incremental import (
        _net_actions,
        _net_rows,
    )

    schema = ("k int, g string, v double, _change_type string, "
              "_commit_gen long")
    rows = [
        (1, None, None, "delete", 3), (1, "a", 1.5, "insert", 3),
        (2, None, None, "delete", 2), (2, None, None, "delete", 4),
        (3, None, None, "delete", 2), (3, None, 7.0, "insert", 5),
        (4, "b", 2.0, "insert", 2), (4, None, None, "delete", 6),
        (4, None, 3.0, "insert", 6),
        (5, None, 9.0, "insert", 1),
        (None, "c", 1.0, "insert", 2), (None, None, None, "delete", 3),
    ]
    df = spark.createDataFrame(rows, schema)
    want = {tuple(r) for r in _net_actions(df, "k").drop("_rn")
            .collect()}
    tbl = pa.Table.from_pylist(
        [r.asDict() for r in df.collect()],
        schema=df.toArrow().schema)
    got = {tuple(r.values()) for r in _net_rows(tbl, "k").to_pylist()}
    assert got == want
    assert {(r[0], r[3]) for r in got} == {
        (1, "insert"), (2, "delete"), (3, "insert"), (4, "insert"),
        (5, "insert"), (None, "delete")}


def test_legacy_streaming_checkpoint_is_adopted(spark, tmp_path):
    """A checkpoint holding the Structured Streaming runner's offsets/
    and commits/ logs is adopted: the planned-but-uncommitted batch
    replays first with its logged id and bounds (not re-planned under
    the new call's cap), then the drain continues. Batch 0 planned
    but uncommitted under starting="current" has no logged start and
    refuses with LegacyCheckpointError instead of skipping it."""
    from mc_ns_data_pipeline_spark.streaming.table_source import (
        LegacyCheckpointError,
        read_stream_changes,
    )

    src, rep, ckpt, mark = _setup(spark, tmp_path)
    for i in range(4, 10):
        V.append_snapshot(_df(spark, [(i, f"v{i}")]), src)

    def legacy_run(ckpt_dir, fail_at):
        def apply(b, bid):
            if bid == fail_at:
                raise RuntimeError("simulated crash")
            apply_change_batch(spark, b, rep, "k", f"cdc_apply-{bid}")

        q = (read_stream_changes(spark, src, starting=mark,
                                 max_commits_per_trigger=2,
                                 checkpoint=ckpt_dir)
             .writeStream.foreachBatch(apply)
             .option("checkpointLocation", ckpt_dir)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    legacy_run(ckpt, fail_at=None)         # batch 0 commits
    with pytest.raises(Exception, match="simulated crash"):
        legacy_run(ckpt, fail_at=1)        # batch 1 planned only
    seen: list[tuple[int, set]] = []
    run_stream_apply_changes(
        spark, src, rep, ckpt, "k", starting=mark,
        max_commits_per_trigger=1,
        on_batch=lambda bid, s, b: seen.append(
            (bid, {r.k for r in b.collect()})))
    assert seen == [(1, {6, 7}), (2, {8}), (3, {9})]
    assert _state(spark, rep) == _state(spark, src)

    fresh = str(tmp_path / "ckpt_b0")
    with pytest.raises(Exception, match="simulated crash"):
        legacy_run(fresh, fail_at=0)
    with pytest.raises(LegacyCheckpointError):
        run_stream_apply_changes(spark, src, rep, fresh, "k",
                                 starting="current")


def test_apply_is_single_commit_with_widened_mask(spark, tmp_path):
    """r11: a mixed insert+delete batch applies as ONE MOR commit —
    the net inserts' files plus an equality-delete mask covering
    every touched key — not two staged commits on a branch. Pins the
    commit count, the mask width, and exact row accounting."""
    src, rep, ckpt, mark = _setup(spark, tmp_path)
    pre_snaps = len(V.list_snapshots(rep))
    batch = spark.createDataFrame(
        [(2, None, "delete", 2), (3, "c2", "insert", 3),
         (4, "d", "insert", 3)],
        "k int, v string, _change_type string, _commit_gen long")
    apply_change_batch(spark, batch, rep, "k", "cdc_apply-0")
    assert _state(spark, rep) == {(1, "a"), (3, "c2"), (4, "d")}
    assert len(V.list_snapshots(rep)) == pre_snaps + 1  # ONE commit
    man = V.read_manifest(rep, V.current_snapshot(rep))
    assert man["rows"] == 3  # exact accounting through the wide mask
    assert V.list_refs(rep) == {}  # no branch machinery involved


def test_merge_mor_extra_mask_keys_contract(spark, tmp_path):
    """merge_snapshot_mor(extra_mask_keys=...): the widened mask
    deletes keys with no replacement rows, rows stays exact, and an
    empty update batch with extra keys is refused loudly."""
    t = str(tmp_path / "t")
    V.write_snapshot(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), t)
    V.merge_snapshot_mor(
        spark, _df(spark, [(3, "c2")]), t, "k",
        extra_mask_keys=_df(spark, [(2, "x")]).select("k"))
    assert _state(spark, t) == {(1, "a"), (3, "c2")}
    assert V.read_manifest(t, V.current_snapshot(t))["rows"] == 2
    with pytest.raises(ValueError, match="delete_keys_mor"):
        V.merge_snapshot_mor(
            spark, _df(spark, []).limit(0), t, "k",
            extra_mask_keys=_df(spark, [(1, "y")]).select("k"))
