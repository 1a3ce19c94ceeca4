"""Tests for the benchmark's own arithmetic and its lakehouse model
check. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import stats  # noqa: E402


def test_tail_leaves_min_beyond_samples_above():
    xs = [float(i) for i in range(1, 101)]          # 1..100
    v, pct, n = stats.tail(xs)
    assert n == 100
    assert v == 90.0                                # 91..100 are beyond
    assert sum(x > v for x in xs) == 10
    assert pct == pytest.approx(100 * 89 / 99)


def test_tail_is_order_independent_and_small_samples_fall_back():
    xs = [float((7 * i) % 20) for i in range(20)]  # 0..19, shuffled
    v, pct, n = stats.tail(xs)
    assert (v, n) == (9.0, 20)                      # 10..19 are beyond
    assert pct == pytest.approx(100 * 9 / 19)
    few = [3.0, 1.0, 2.0]
    assert stats.tail(few) == (1.0, 0.0, 3)
    assert stats.tail([7.0]) == (7.0, 0.0, 1)
    with pytest.raises(ValueError):
        stats.tail([])


def test_geomean_weighs_each_kind_once():
    ops = [("a", 1.0), ("a", 100.0), ("a", 3.0),    # median 3
           ("b", 12.0)]                            # median 12
    assert stats.kind_medians(ops) == {"a": 3.0, "b": 12.0}
    assert stats.kind_geomean(ops) == pytest.approx(6.0)
    # repeating a kind does not change its weight
    assert stats.kind_geomean(ops + [("b", 12.0)] * 9) == pytest.approx(6.0)
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_best_of_passes_pairs_repeats_by_kind_and_occurrence():
    ops = [(0, "a", 2.0), (0, "b", 5.0), (0, "a", 4.0),
           (1, "b", 3.0), (1, "a", 2.5), (1, "a", 3.5)]   # reordered
    assert sorted(stats.best_of_passes(ops)) == [
        ("a", 2.0), ("a", 3.5), ("b", 3.0)]
    # a single pass is returned as it is
    assert stats.best_of_passes(ops[:3]) == [
        ("a", 2.0), ("b", 5.0), ("a", 4.0)]


def test_unstolen_scales_by_the_share_not_stolen():
    assert stats.unstolen_s(2.0, 75, 25) == pytest.approx(1.5)
    # the same share over four busy vCPUs gives the same time
    assert stats.unstolen_s(2.0, 300, 100) == pytest.approx(1.5)
    assert stats.unstolen_s(2.0, 100, 0) == 2.0
    assert stats.unstolen_s(0.004, 0, 1) == 0.004   # under one tick


def test_covered_merges_overlaps_and_clips():
    assert stats.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert stats.covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert stats.covered([], 0, 10) == 0
    assert stats.covered([(2, 4), (2, 4)], 0, 10) == 2


def _span(i, parent, start, end, layer):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "layer": layer}


def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        _span(1, None, 0.0, 10.0, "bench"),
        _span(2, 1, 1.0, 4.0, "plans"),       # children 2 and 3 overlap
        _span(3, 1, 3.0, 6.0, "streaming"),   # (another thread)
        _span(4, 2, 1.5, 2.5, "catalog"),     # grandchild: not 1's child
        _span(5, 1, 8.0, 12.0, "exec"),       # runs past its parent
    ]
    own = stats.self_times(spans)
    assert own[1] == pytest.approx(10 - (5 + 2))  # covered 1..6, 8..10
    assert own[2] == pytest.approx(3 - 1)
    assert own[3] == pytest.approx(3)
    assert own[4] == pytest.approx(1)
    layers = stats.layer_self_times(spans)
    assert layers == pytest.approx({"bench": 3, "plans": 2, "streaming": 3,
                                    "catalog": 1, "exec": 4})


def test_adopt_gives_jvm_timed_spans_the_innermost_holder():
    spans = [
        _span(1, None, 0.0, 10.0, "bench"),
        _span(2, 1, 1.0, 5.0, "exec"),
        _span(3, 1, 2.0, 8.0, "streaming"),   # another thread, overlaps 2
        dict(_span(4, None, 4.0, 4.4, "catalyst"), adopt=True),
        dict(_span(5, None, 0.5, 0.7, "catalyst"), adopt=True),
        dict(_span(6, None, 11.0, 12.0, "catalyst"), adopt=True),
    ]
    stats.adopt(spans)
    assert [s["parent"] for s in spans[3:]] == [3, 1, None]
    own = stats.self_times(spans)
    assert own[3] == pytest.approx(6 - 0.4)
    assert own[1] == pytest.approx(10 - 7 - 0.2)   # 1..8 and 0.5..0.7


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from mc_ns_data_pipeline_spark.session import get_spark

    s = get_spark("perfbench-test")
    yield s
    s.stop()


def test_lakehouse_round_matches_model_and_perturbation_fails(
        spark, tmp_path):
    import datagen
    import workloads as W
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    data = str(tmp_path / "data")
    datagen.write_tables(7, 0.001, data, ["orders"])
    lake = W.Lakehouse(spark, str(tmp_path), data)
    model, src = lake.model.rows, lake.tables["source"]
    keys = sorted(model)
    new = [(lake.next_key, "2-HIGH", 1234.5)]
    upd = [(keys[0], "5-LOW", 42.25), (keys[1], "1-URGENT", 7.0)]
    doomed = keys[2:4]
    V.append_snapshot(lake.frame(new), src)
    V.merge_snapshot_mor(spark, lake.frame(upd), src, W.KEY)
    V.delete_keys_mor(spark, src, W.KEY, spark.createDataFrame(
        [(k,) for k in doomed], f"{W.KEY} long"))
    model.update({k: (g, p) for k, g, p in new + upd})
    for k in doomed:
        del model[k]
    lake.drain()
    assert W.check_lakehouse(spark, lake.tables, lake.model) == []

    g, p = model[keys[5]]
    model[keys[5]] = (g, p + 0.01)
    assert W.check_lakehouse(spark, lake.tables, lake.model) == [
        "source", "replica", "view"]
