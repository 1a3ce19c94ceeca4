"""Streaming incremental materialized view (streaming/incremental.py
run_stream_matview): a change feed maintains a row-level replica AND
a group-level aggregate view, exact through MOR deletes (retracted
values recovered from the replica's pre-batch state) and restarts."""

from __future__ import annotations

import decimal

import pytest
from pyspark.sql import functions as F

from mc_ns_data_pipeline_spark.sinks import versioned as V
from mc_ns_data_pipeline_spark.streaming.incremental import (
    run_stream_matview,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, g string, val double")


def _view(spark, view):
    return {(r.g, r.n, float(r.sum_value))
            for r in V.read_current(spark, view).filter("n > 0")
            .collect()}


def _want(spark, src):
    return {(r.g, r.n, float(r.sum_value))
            for r in V.read_current(spark, src)
            .groupBy("g")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("val").cast("decimal(18,4)"))
                 .alias("sum_value"))
            .collect()}


def _setup(spark, tmp_path):
    src = str(tmp_path / "src")
    rep = str(tmp_path / "rep")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    V.write_snapshot(_df(spark, [(1, "a", 10.0), (2, "b", 20.0),
                                 (3, "a", 30.0)]), src)
    mark = V.current_snapshot(src)
    V.write_snapshot(V.read_current(spark, src), rep)
    return src, rep, view, ckpt, mark


def test_view_tracks_inserts_upserts_deletes(spark, tmp_path):
    src, rep, view, ckpt, mark = _setup(spark, tmp_path)
    V.append_snapshot(_df(spark, [(4, "b", 40.0)]), src)
    V.delete_keys_mor(spark, src, "k",
                      _df(spark, [(1, "a", 0.0)]).select("k"))
    # upsert moves k=3 from group a to group b and changes its value
    V.merge_snapshot_mor(spark, _df(spark, [(3, "b", 35.0)]),
                         src, "k")
    run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                       starting=mark)
    # replica tracks, view = direct aggregate of the net state
    assert _view(spark, view) == _want(spark, src) == {
        ("b", 3, 95.0)}
    # group 'a' emptied out: present with n=0, filtered by the reader
    zero = {(r.g, r.n) for r in
            V.read_current(spark, view).filter("n = 0").collect()}
    assert zero == {("a", 0)}


def test_view_survives_restart_and_revival(spark, tmp_path):
    src, rep, view, ckpt, mark = _setup(spark, tmp_path)
    V.delete_keys_mor(spark, src, "k",
                      _df(spark, [(2, "b", 0.0)]).select("k"))
    run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                       starting=mark)
    assert _view(spark, view) == _want(spark, src)
    # more commits while down; group b revives after emptying
    V.append_snapshot(_df(spark, [(5, "b", 50.0), (6, "c", 60.0)]),
                      src)
    V.merge_snapshot_mor(spark, _df(spark, [(1, "a", 11.0)]),
                         src, "k")
    run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                       starting=mark)
    assert _view(spark, view) == _want(spark, src) == {
        ("a", 2, 41.0), ("b", 1, 50.0), ("c", 1, 60.0)}
    # idle restart: view untouched
    before = V.current_snapshot(view)
    run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                       starting=mark)
    assert V.current_snapshot(view) == before


def test_capped_matview_batch_bounds_broadcast_key_set(
        spark, tmp_path, monkeypatch):
    """VERDICT r10 #2: with admission control set, each matview batch
    computes its delta over ONLY the capped batch's key set — the
    touched keys matview_delta_batch collects are bounded by the cap,
    never by how far the consumer fell behind. 6 commits of ≤2
    keys each with max_commits_per_trigger=1 must arrive as 6
    batches whose per-batch key sets never exceed one commit's."""
    import mc_ns_data_pipeline_spark.streaming.incremental as I

    src, rep, view, ckpt, mark = _setup(spark, tmp_path)
    for i in range(6):
        V.append_snapshot(
            _df(spark, [(10 + 2 * i, "a", 1.0),
                        (11 + 2 * i, "b", 2.0)]), src)

    seen_keys: list[int] = []
    real = I.matview_delta_batch

    def probe(spark_, batch_df, *a, **kw):
        seen_keys.append(
            batch_df.select("k").distinct().count())
        return real(spark_, batch_df, *a, **kw)

    monkeypatch.setattr(I, "matview_delta_batch", probe)
    run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                       starting=mark, max_commits_per_trigger=1)
    assert len(seen_keys) == 6          # ⌈6 commits / cap 1⌉
    assert max(seen_keys) <= 2          # one commit's keys per batch
    assert sum(seen_keys) == 12         # whole backlog still applied
    assert _view(spark, view) == _want(spark, src)


# ---------------------------------------------------------------------------
# minmax=True: the non-invertible aggregates (matview_minmax_batch)
# ---------------------------------------------------------------------------


def _view_mm(spark, view):
    return {(r.g, r.n, float(r.sum_value), r.min_value, r.max_value)
            for r in V.read_current(spark, view).filter("n > 0")
            .collect()}


def _want_mm(spark, src):
    return {(r.g, r.n, float(r.sum_value), r.min_value, r.max_value)
            for r in V.read_current(spark, src)
            .groupBy("g")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("val").cast("decimal(18,4)"))
                 .alias("sum_value"),
                 F.min(F.col("val").cast("double"))
                 .alias("min_value"),
                 F.max(F.col("val").cast("double"))
                 .alias("max_value"))
            .collect()}


def test_minmax_view_recomputes_lost_extrema(spark, tmp_path):
    """Deleting the row that CARRIED a group's max, and replacing
    another group's max downward, both force the recompute path — a
    monotone-only merge would keep the stale bounds. A brand-new
    group in the same batch takes the monotone path."""
    src, rep, view, ckpt, mark = _setup(spark, tmp_path)
    # group a's max is (3, 30.0): delete it
    V.delete_keys_mor(spark, src, "k",
                      _df(spark, [(3, "a", 0.0)]).select("k"))
    # group b's only row (2, 20.0): replace DOWNWARD to 5.0
    V.merge_snapshot_mor(spark, _df(spark, [(2, "b", 5.0)]),
                         src, "k")
    # brand-new group c: monotone path
    V.append_snapshot(_df(spark, [(7, "c", 70.0)]), src)
    run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                       starting=mark, minmax=True)
    assert _view_mm(spark, view) == _want_mm(spark, src) == {
        ("a", 1, 10.0, 10.0, 10.0),
        ("b", 1, 5.0, 5.0, 5.0),
        ("c", 1, 70.0, 70.0, 70.0)}


def test_minmax_group_empties_then_revives(spark, tmp_path):
    """A group that loses every row stays in the view with n=0 and
    NULL bounds; a later insert revives it through the monotone
    merge (least/greatest skip the NULL old bound)."""
    src, rep, view, ckpt, mark = _setup(spark, tmp_path)
    V.delete_keys_mor(spark, src, "k",
                      _df(spark, [(2, "b", 0.0)]).select("k"))
    run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                       starting=mark, minmax=True)
    zero = [(r.n, r.min_value, r.max_value) for r in
            V.read_current(spark, view).filter("g = 'b'").collect()]
    assert zero == [(0, None, None)]
    V.append_snapshot(_df(spark, [(8, "b", 80.0)]), src)
    run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                       starting=mark, minmax=True)
    assert _view_mm(spark, view) == _want_mm(spark, src)
    assert ("b", 1, 80.0, 80.0, 80.0) in _view_mm(spark, view)


def test_minmax_batch_replay_is_stamp_skipped(spark, tmp_path):
    """matview_minmax_batch inherits matview_delta_batch's replay
    contract: before the replica has the batch applied, a replay
    with the same txn_id recomputes the SAME merge and the txn stamp
    skips it — the view snapshot does not move."""
    from mc_ns_data_pipeline_spark.streaming.incremental import (
        matview_minmax_batch,
    )

    rep = str(tmp_path / "rep")
    view = str(tmp_path / "view")
    V.write_snapshot(_df(spark, [(1, "a", 10.0), (2, "b", 20.0),
                                 (3, "a", 30.0)]), rep)
    V.write_snapshot(
        V.read_current(spark, rep).groupBy("g")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("val").cast("decimal(18,4)"))
             .alias("sum_value"),
             F.min(F.col("val").cast("double")).alias("min_value"),
             F.max(F.col("val").cast("double")).alias("max_value")),
        view)
    ev = spark.createDataFrame(
        [(3, None, None, "delete", 2),
         (4, "b", 40.0, "insert", 2)],
        "k int, g string, val double, _change_type string,"
        " _commit_gen long")
    matview_minmax_batch(spark, ev, rep, view, "k", "g", "val",
                         "replay:0")
    after_first = V.current_snapshot(view)
    assert _view_mm(spark, view) == {
        ("a", 1, 10.0, 10.0, 10.0),
        ("b", 2, 60.0, 20.0, 40.0)}
    matview_minmax_batch(spark, ev, rep, view, "k", "g", "val",
                         "replay:0")
    assert V.current_snapshot(view) == after_first


# ---------------------------------------------------------------------------
# The driver view delta (_view_delta_local) against the Spark plan
# (_view_delta_spark), batch by batch.
# ---------------------------------------------------------------------------


def _change_batch(spark, rows):
    return spark.createDataFrame(
        rows, "k int, g string, val double, _change_type string, "
              "_commit_gen long")


_BATCHES = [
    # NULL group in, k=1 moves a -> b with a value whose
    # decimal(18,4) cast rounds, k=2 deleted (group b)
    [(10, None, 5.0, "insert", 2), (11, "a", 0.00005, "insert", 2),
     (1, "b", 1.23456789, "insert", 2), (2, None, None, "delete", 2),
     (4, None, None, "delete", 2)],
    # group a falls to n=0
    [(3, None, None, "delete", 3), (11, None, None, "delete", 3)],
    # group a revives; a NULL-valued row; an insert beats its retract
    [(12, "a", -2.99995, "insert", 4), (13, "c", None, "insert", 4),
     (10, None, None, "delete", 4), (10, "c", 7.77777, "insert", 4)],
]


def _drive_view(spark, tmp_path, tag, seed_view):
    from mc_ns_data_pipeline_spark.streaming import incremental as I

    rep = str(tmp_path / f"rep_{tag}")
    view = str(tmp_path / f"view_{tag}")
    V.write_snapshot(_df(spark, [(1, "a", 10.0), (2, "b", 20.0),
                                 (3, "a", 30.0), (4, None, 7.0)]), rep)
    if seed_view:
        V.write_snapshot(
            V.read_current(spark, rep).groupBy(F.col("g").alias("g"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("val").cast("decimal(18,4)"))
                 .alias("sum_value")), view)
    states = []
    for i, rows in enumerate(_BATCHES):
        b = _change_batch(spark, rows)
        I.matview_delta_batch(spark, b, rep, view, "k", "g", "val",
                              f"t:view:{i}")
        I.apply_change_batch(spark, b, rep, "k", f"t-{i}")
        states.append(sorted(
            (tuple(r) for r in V.read_current(spark, view).collect()),
            key=repr))
    return states


@pytest.mark.parametrize("seed_view", [True, False])
def test_driver_view_delta_matches_spark_plan(spark, tmp_path,
                                             monkeypatch, seed_view):
    """Batch for batch the driver delta writes the view the Spark plan
    writes: NULL groups dropped, a group at n=0 kept and revived,
    rounding decimal casts summed exactly, and (unseeded) the first
    batch into an unwritten view."""
    from mc_ns_data_pipeline_spark.streaming import incremental as I

    local = []
    real = I._view_delta_local

    def spy(*a):
        out = real(*a)
        local.append(out is not None)
        return out

    monkeypatch.setattr(I, "_view_delta_local", spy)
    fast = _drive_view(spark, tmp_path, "fast", seed_view)
    assert local == [True] * len(_BATCHES)
    monkeypatch.setattr(I, "_view_delta_local", lambda *a: None)
    slow = _drive_view(spark, tmp_path, "slow", seed_view)
    assert fast == slow
    if seed_view:  # a: k1 moved out, k3 and k11 deleted, k12 revives
        assert [r for r in fast[1] if r[0] == "a"] == [
            ("a", 0, decimal.Decimal("0.0000"))]
        assert [r for r in fast[2] if r[0] == "a"] == [
            ("a", 1, decimal.Decimal("-3.0000"))]


def test_driver_view_delta_falls_back_past_its_bound(spark, tmp_path,
                                                     monkeypatch):
    """More touched keys than an IN list carries: the Spark plan
    computes the same view."""
    from mc_ns_data_pipeline_spark.streaming import incremental as I

    want = _drive_view(spark, tmp_path, "fast", True)
    monkeypatch.setattr(V, "_IN_LIST_MAX", 1)  # every batch has 2+
    calls = []
    real = I._view_delta_local
    monkeypatch.setattr(I, "_view_delta_local",
                        lambda *a: calls.append(real(*a)) or calls[-1])
    assert _drive_view(spark, tmp_path, "slow", True) == want
    assert calls == [None] * len(_BATCHES)


# ---------------------------------------------------------------------------
# The drain loop's write-ahead cursor and its two batch reads.
# ---------------------------------------------------------------------------


def _events(batch_df):
    return sorted((tuple(r) for r in batch_df.collect()), key=repr)


def test_crash_before_cursor_commit_replays_recorded_bounds(spark,
                                                             tmp_path):
    """A crash after the view commit and the replica apply, before the
    cursor advances: the rerun, under a different cap, first replays
    the recorded batch with its recorded id and bounds (its view merge
    is stamp-skipped, its apply is unit-idempotent), then plans the
    rest under the new cap. The view counts each event once."""
    src, rep, view, ckpt, mark = _setup(spark, tmp_path)
    V.append_snapshot(_df(spark, [(4, "b", 40.0)]), src)
    V.merge_snapshot_mor(spark, _df(spark, [(1, "b", 15.0)]), src, "k")
    V.delete_keys_mor(spark, src, "k",
                      _df(spark, [(2, "b", 0.0)]).select("k"))
    V.append_snapshot(_df(spark, [(5, "c", 50.0)]), src)

    crashed = []

    def crash(bid, s, b):
        crashed.append((bid, _events(b)))
        raise RuntimeError("simulated crash before the cursor commit")

    with pytest.raises(RuntimeError, match="simulated crash"):
        run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                           starting=mark, max_commits_per_trigger=2,
                           on_batch=crash)
    assert [bid for bid, _ in crashed] == [0]
    view_after_crash = V.current_snapshot(view)
    seen = []
    run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                       starting=mark, max_commits_per_trigger=1,
                       on_batch=lambda bid, s, b: seen.append(
                           (bid, _events(b))))
    assert seen[0] == crashed[0]  # same id, same two commits' events
    assert [bid for bid, _ in seen] == [0, 1, 2]  # then cap 1
    assert {r[0] for r in seen[1][1]} == {2}
    assert V.read_snapshot(spark, view, view_after_crash).count() > 0
    assert _view(spark, view) == _want(spark, src)
    assert ({tuple(r) for r in V.read_current(spark, rep).collect()}
            == {tuple(r) for r in V.read_current(spark, src).collect()})


def test_first_call_records_its_start(spark, tmp_path):
    """A first call at starting="current" with nothing to apply still
    records its position, so commits made before the second call are
    applied by it, not skipped as "before current"."""
    src, rep, view, ckpt, mark = _setup(spark, tmp_path)
    run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                       starting="current")
    V.append_snapshot(_df(spark, [(4, "b", 40.0)]), src)
    V.delete_keys_mor(spark, src, "k",
                      _df(spark, [(1, "a", 0.0)]).select("k"))
    run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                       starting="current")
    assert _view(spark, view) == _want(spark, src) == {
        ("a", 1, 30.0), ("b", 2, 60.0)}


def _drain_all(spark, tmp_path, tag):
    src, rep, view, ckpt, mark = _setup(spark, tmp_path / tag)
    V.append_snapshot(_df(spark, [(4, "b", 40.0), (5, None, 5.0)]), src)
    V.merge_snapshot_mor(spark, _df(spark, [(3, "b", 35.0)]), src, "k")
    V.delete_keys_mor(spark, src, "k",
                      _df(spark, [(1, "a", 0.0)]).select("k"))
    V.append_snapshot(_df(spark, [(1, "c", 11.0)]), src)
    V.delete_keys_mor(spark, src, "k",
                      _df(spark, [(1, "a", 0.0)]).select("k"))
    counts = []

    def count(bid, s, b):
        counts.append((bid, sorted(
            (r[0], r[1]) for r in b.groupBy("_change_type").count()
            .collect())))

    run_stream_matview(spark, src, rep, view, ckpt, "k", "g", "val",
                       starting=mark, max_commits_per_trigger=2,
                       on_batch=count)
    return ({tuple(r) for r in V.read_current(spark, rep).collect()},
            sorted((tuple(r) for r in V.read_current(spark, view)
                    .collect()), key=repr),
            counts)


def test_spark_read_path_matches_driver_path(spark, tmp_path,
                                             monkeypatch):
    """Past the driver budget Spark tasks read the batch and the
    window nets it: the replica, the view and the events on_batch
    sees are the driver path's."""
    from mc_ns_data_pipeline_spark.streaming import table_source as TS

    reads = []
    real = TS.read_change_batch
    monkeypatch.setattr(TS, "read_change_batch",
                        lambda *a: reads.append(1) or real(*a))
    driver = _drain_all(spark, tmp_path, "driver")
    assert reads == []
    monkeypatch.setattr(V, "_DRIVER_LAND_BYTES", 0)
    tasks = _drain_all(spark, tmp_path, "tasks")
    assert len(reads) == 3  # ceil(5 commits / cap 2), all in Spark
    assert tasks == driver
    assert [bid for bid, _ in driver[2]] == [0, 1, 2]
