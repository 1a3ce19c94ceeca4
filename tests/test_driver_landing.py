"""Driver-side landing fast path for KB-sized commit relations
(OPTIMIZATION r12, guide §5): MOR equality-delete masks and collected
delete-key sets are derived and written on the driver by
``versioned._land_mask`` — the published commit must be
VALUE-IDENTICAL to the distributed path's (same mask key set, same
row accounting, same reader results), with every exit (over budget,
float key, nothing to read, unreadable file, no local relation)
falling back to the unchanged Spark path."""

from __future__ import annotations

import os

import pytest

from mc_ns_data_pipeline_spark.sinks import versioned as V


def _mask_keys(spark, table, man):
    """The key set of every delete file in a manifest."""
    root = V._data_root(table)
    out = []
    for d in man.get("delete_files") or []:
        rows = spark.read.parquet(
            os.path.join(root, d["file"])).collect()
        out.append(sorted(r[0] for r in rows))
    return out


def _paths(table, files):
    return [os.path.join(V._data_root(table), f) for f in files]


def _rows(spark, table):
    return sorted(
        tuple(r) for r in V.read_current(spark, table).collect())


def _table(spark, t):
    V.write_snapshot(spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(20)],
        "k long, name string, v double"), t)
    return t


@pytest.fixture()
def base(spark, tmp_path):
    return _table(spark, str(tmp_path / "t"))


def _upd(spark):
    return spark.createDataFrame(
        [(3, "N3", 30.0), (7, "N7", 70.0), (25, "N25", 250.0)],
        "k long, name string, v double")


@pytest.fixture()
def arrow_landings(monkeypatch):
    """Every driver-side (pyarrow) pool landing, recorded."""
    calls = []
    orig = V._land_arrow_in_pool

    def spy(tbl, table, spark):
        calls.append(tbl.num_rows)
        return orig(tbl, table, spark)

    monkeypatch.setattr(V, "_land_arrow_in_pool", spy)
    return calls


def _fast_then_slow(spark, tmp_path, monkeypatch, base, budget, commit):
    """``commit`` on ``base`` at the default budget, then on a fresh
    twin table at ``budget``: (fast manifest, slow manifest, twin)."""
    commit(base)
    man_fast = V.read_manifest(base, V.current_snapshot(base))
    t_slow = _table(spark, str(tmp_path / "slow"))
    monkeypatch.setattr(V, "_DRIVER_LAND_BYTES", budget)
    commit(t_slow)
    return (man_fast, V.read_manifest(t_slow, V.current_snapshot(t_slow)),
            t_slow)


def test_merge_mor_mask_identical_fast_vs_slow(spark, tmp_path,
                                               monkeypatch, base):
    t_fast = base
    man_fast, man_slow, t_slow = _fast_then_slow(
        spark, tmp_path, monkeypatch, base, 0,
        lambda t: V.merge_snapshot_mor(spark, _upd(spark), t, "k"))

    assert man_fast["rows"] == man_slow["rows"] == 21
    assert _mask_keys(spark, t_fast, man_fast) == \
        _mask_keys(spark, t_slow, man_slow) == [[3, 7, 25]]
    assert len(man_fast["delete_files"]) == \
        len(man_slow["delete_files"]) == 1
    assert _rows(spark, t_fast) == _rows(spark, t_slow)
    # mask file schema read-back parity (driver-written vs Spark)
    rootf = V._data_root(t_fast)
    roots = V._data_root(t_slow)
    sf = spark.read.parquet(os.path.join(
        rootf, man_fast["delete_files"][0]["file"])).schema
    ss = spark.read.parquet(os.path.join(
        roots, man_slow["delete_files"][0]["file"])).schema
    assert sf == ss


def test_merge_mor_extra_mask_keys_fast_vs_slow(spark, tmp_path,
                                                monkeypatch, base):
    extra = spark.createDataFrame([(1,), (7,), (None,)], "k long")
    man_fast, man_slow, t_slow = _fast_then_slow(
        spark, tmp_path, monkeypatch, base, 0,
        lambda t: V.merge_snapshot_mor(spark, _upd(spark), t, "k",
                                       extra_mask_keys=extra))

    assert _mask_keys(spark, base, man_fast) == \
        _mask_keys(spark, t_slow, man_slow) == [[1, 3, 7, 25]]
    # rows: 20 - masked-live(3: k=1,3,7) + new(3) on both paths
    assert man_fast["rows"] == man_slow["rows"] == 20
    assert _rows(spark, base) == _rows(spark, t_slow)


def test_delete_keys_mor_fast_vs_slow(spark, tmp_path, monkeypatch,
                                      base):
    doomed = spark.createDataFrame(
        [(2,), (5,), (5,), (99,), (None,)], "k long")
    man_fast, man_slow, t_slow = _fast_then_slow(
        spark, tmp_path, monkeypatch, base, 0,
        lambda t: V.delete_keys_mor(spark, t, "k", doomed))

    assert man_fast["rows"] == man_slow["rows"] == 18
    (ef,), (es,) = (man_fast["delete_files"],
                    man_slow["delete_files"])
    assert ef["keys"] == es["keys"] == 3  # 2, 5, 99 (99 matchless)
    assert _mask_keys(spark, base, man_fast) == \
        _mask_keys(spark, t_slow, man_slow)
    assert _rows(spark, base) == _rows(spark, t_slow)


@pytest.mark.parametrize("verb, n_keys, rows", [
    ("delete_keys_mor", 5002, 18),  # doomed frame
    ("merge_snapshot_mor", 5004, 20),  # extra_mask_keys, beside files
])
def test_over_budget_collect_falls_back(spark, tmp_path, monkeypatch,
                                        base, arrow_landings, verb,
                                        n_keys, rows):
    """A key frame over what the budget leaves (the update files, a
    few KB, fit) trips the limit(n+1) probe: the distributed path
    lands the same mask and rows as the driver path."""
    keys = spark.createDataFrame(
        [(k,) for k in [2, 7, *range(1000, 6000)]], "k long")
    man_fast, man_slow, t_slow = _fast_then_slow(
        spark, tmp_path, monkeypatch, base, 20_000,  # 2500 longs
        lambda t: V.delete_keys_mor(spark, t, "k", keys)
        if verb == "delete_keys_mor" else
        V.merge_snapshot_mor(spark, _upd(spark), t, "k",
                             extra_mask_keys=keys))

    assert arrow_landings == [n_keys]  # the fast commit's only
    assert man_fast["rows"] == man_slow["rows"] == rows
    assert _mask_keys(spark, base, man_fast) == \
        _mask_keys(spark, t_slow, man_slow)
    assert _rows(spark, base) == _rows(spark, t_slow)


def test_driver_mask_rejects_float_keys(spark, tmp_path):
    """Float keys: distinct semantics (NaN / -0.0 folding) belong to
    Spark — the fast path must decline and the commit still works."""
    t = str(tmp_path / "tf")
    df = spark.createDataFrame(
        [(float(i), i) for i in range(8)], "k double, v long")
    V.write_snapshot(df, t)
    upd = spark.createDataFrame([(2.0, 20), (9.5, 95)],
                                "k double, v long")
    scratch = str(tmp_path / "scratch")
    files = V._land_in_pool(upd, scratch)
    assert V._driver_mask_keys(_paths(scratch, files), "k", None) is None
    assert V._driver_mask_keys([], "k", upd) is None  # nor a frame's
    V.merge_snapshot_mor(spark, upd, t, "k")  # falls back, still lands
    got = sorted(tuple(r) for r in
                 V.read_current(spark, t).collect())
    assert (2.0, 20) in got and (9.5, 95) in got and len(got) == 9


def test_driver_mask_respects_byte_budget(spark, tmp_path,
                                          monkeypatch, base):
    monkeypatch.setattr(V, "_DRIVER_LAND_BYTES", 1)  # everything "big"
    files = V._land_in_pool(_upd(spark), base)
    assert V._driver_mask_keys(_paths(base, files), "k", None) is None


def test_driver_mask_empty_file_list_falls_back():
    """Nothing to read is a fallback exit, not an IndexError."""
    assert V._driver_mask_keys([], "k", None) is None


@pytest.mark.parametrize("broken, landed", [
    ("_read_key_columns", []),  # unreadable file: Spark landing
    ("createDataFrame", [3]),   # no local relation: read back
])
def test_land_mask_broken_driver_step_falls_back(
        spark, monkeypatch, base, arrow_landings, broken, landed):
    files = V._land_in_pool(_upd(spark), base)

    def fail(*a, **k):
        raise OSError(broken)

    monkeypatch.setattr(V if broken[0] == "_" else spark, broken, fail)
    del_files, keys, n = V._land_mask(spark, base, "k", files)
    assert arrow_landings == landed
    assert n == 3 and sorted(r[0] for r in keys.collect()) == [3, 7, 25]


def test_land_arrow_schema_parity_typed_keys(spark, tmp_path):
    """Driver-written pool files read back with the same Spark schema
    as Spark-written ones for the supported key types."""
    import datetime

    t = str(tmp_path / "tt")
    os.makedirs(t)
    df = spark.createDataFrame(
        [("a", datetime.datetime(2031, 3, 1, 12), 1,
          datetime.date(2031, 3, 1))],
        "s string, ts timestamp, i long, d date")
    spark_files = V._land_in_pool(df.coalesce(1), t)
    arrow_files = V._land_arrow_in_pool(df.toArrow(), t, spark)
    root = V._data_root(t)
    a = spark.read.parquet(os.path.join(root, spark_files[0]))
    b = spark.read.parquet(os.path.join(root, arrow_files[0]))
    assert a.schema == b.schema
    assert a.collect() == b.collect()
