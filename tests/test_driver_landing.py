"""Driver-side landing fast path for KB-sized commit relations
(OPTIMIZATION r12, guide §5): MOR equality-delete masks and collected
delete-key sets are derived and written on the driver by
``versioned._land_mask`` — the published commit must be
VALUE-IDENTICAL to the distributed path's (same mask key set, same
row accounting, same reader results), with every exit (over budget,
float key, nothing to read, unreadable file, no local relation)
falling back to the unchanged Spark path."""

from __future__ import annotations

import datetime
import decimal
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


@pytest.mark.parametrize("step", ["pyarrow_read", "local_relation"])
def test_land_mask_driver_errors_fall_back(spark, monkeypatch, base,
                                          arrow_landings, step):
    """The errors the driver path raises on a file or type it cannot
    handle take the Spark path: pyarrow's ArrowInvalid on an
    unreadable pool file (Spark lands the mask), and the
    PySparkTypeError ``createDataFrame`` raises for a type with no
    Arrow conversion (the driver-landed file is read back)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import PySparkTypeError

    files = V._land_in_pool(_upd(spark), base)
    if step == "pyarrow_read":
        def unreadable(*a, **k):
            raise pa.ArrowInvalid("Parquet magic bytes not found")
        monkeypatch.setattr(pq, "read_table", unreadable)
    else:
        def no_arrow(*a, **k):
            raise PySparkTypeError(
                errorClass="UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION",
                messageParameters={"data_type": "uint64"})
        monkeypatch.setattr(spark, "createDataFrame", no_arrow)
    del_files, keys, n = V._land_mask(spark, base, "k", files)
    assert arrow_landings == ([] if step == "pyarrow_read" else [3])
    assert n == 3 and sorted(r[0] for r in keys.collect()) == [3, 7, 25]


def test_land_mask_propagates_other_errors(spark, monkeypatch, base,
                                           arrow_landings):
    """A bug in the driver path is not silently rerouted to Spark."""
    files = V._land_in_pool(_upd(spark), base)

    def broken(*a, **k):
        raise KeyError("driver bug")

    monkeypatch.setattr(V, "_driver_mask_keys", broken)
    with pytest.raises(KeyError, match="driver bug"):
        V._land_mask(spark, base, "k", files)
    assert arrow_landings == []


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


# ---------------------------------------------------------------------------
# Masked reads: within the budget every delete-key column is one literal
# filter on the scan (``_mask_terms``); the broadcast anti-join
# (``_mask_by_join``) is the fallback. Both must return the same rows.
# ---------------------------------------------------------------------------


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _read_parity(spark, monkeypatch, read):
    """``read()`` on the literal path and again with the budget at 0
    (the anti-join fallback): asserts which path each took and returns
    the one row list both produced."""
    fast = read()
    assert "Join" not in _plan(fast)
    with monkeypatch.context() as m:
        m.setattr(V, "_DRIVER_LAND_BYTES", 0)
        slow = read()
    assert "BroadcastHashJoin" in _plan(slow)
    got = _sorted(fast.collect())
    assert got == _sorted(slow.collect())
    return got


_TYPED_KEYS = {
    "int": ("int", [1, 2, 3, 4, 5, -7]),
    "string": ("string", ["a", "it's", "back\\slash", "ünï ✓", "",
                          "x`y"]),
    "date": ("date", [datetime.date(2031, 1, d) for d in (1, 2, 3, 4, 5)]
             + [datetime.date(1, 1, 1)]),
    "decimal": ("decimal(10,2)", [decimal.Decimal(x) for x in
                                  ("1.50", "2.25", "-3.10", "0.00",
                                   "99999999.99", "-0.01")]),
}


@pytest.mark.parametrize("kind", sorted(_TYPED_KEYS))
def test_masked_read_literal_matches_join(spark, tmp_path, monkeypatch,
                                          kind):
    """Typed keys, NULL keys in the data and in the mask, a key that
    is deleted and re-appended, and a MOR upsert whose own files tie
    with its mask: the literal filter and the anti-join agree."""
    typ, ks = _TYPED_KEYS[kind]
    schema = f"k {typ}, v long"
    t = str(tmp_path / "t")
    V.write_snapshot(spark.createDataFrame(
        [(k, i) for i, k in enumerate(ks)] + [(None, 100)], schema), t)
    V.delete_keys_mor(spark, t, "k", spark.createDataFrame(
        [(ks[0],), (ks[1],), (None,)], f"k {typ}"))
    # the upsert's own files tie with its mask and must survive it
    V.merge_snapshot_mor(spark, spark.createDataFrame(
        [(ks[2], 200), (ks[3], 300)], schema), t, "k")
    V.append_snapshot(spark.createDataFrame([(ks[0], 400)], schema), t)
    assert len(V.read_manifest(t, V.current_snapshot(t))
               ["delete_files"]) == 2

    got = _read_parity(spark, monkeypatch,
                       lambda: V.read_current(spark, t))
    assert got == _sorted([(ks[0], 400), (ks[2], 200), (ks[3], 300),
                           (ks[4], 4), (ks[5], 5), (None, 100)])


def test_masked_read_legacy_manifest_matches_join(spark, tmp_path,
                                                  monkeypatch):
    """A manifest with no file_seq sequences every file as 0: the
    masks apply to all of them on both paths."""
    import json

    t = str(tmp_path / "t")
    snap = V.write_snapshot(spark.createDataFrame(
        [(i, f"n{i}") for i in range(6)], "k long, name string"), t)
    mp = os.path.join(t, "snapshots", f"{snap}.json")
    with open(mp) as fh:
        man = json.load(fh)
    man.pop("file_seq", None)
    with open(mp, "w") as fh:
        json.dump(man, fh)
    V.delete_keys_mor(spark, t, "k", spark.createDataFrame(
        [(1,), (4,)], "k long"))
    man = V.read_manifest(t, V.current_snapshot(t))
    man.pop("file_seq", None)  # the read side of a legacy manifest
    files = man["files"]

    def read():
        return V._apply_delete_files(
            spark, t, V._read_pool(spark, t, files,
                                   V._schema_from_man(man)), man, files)

    assert [r[0] for r in _read_parity(spark, monkeypatch, read)] == \
        [0, 2, 3, 5]


def test_masked_read_renamed_key_matches_join(spark, tmp_path,
                                              monkeypatch):
    """After a metadata-only rename the scan is a coalesce projection
    over both names; the mask's file term still resolves the scanned
    file name through it."""
    t = str(tmp_path / "t")
    V.write_snapshot(spark.createDataFrame(
        [(i, i * 10) for i in range(8)], "id long, v long"), t)
    V.rename_column(t, "id", "k")
    V.append_snapshot(spark.createDataFrame(
        [(8, 80)], "k long, v long"), t)
    V.merge_snapshot_mor(spark, spark.createDataFrame(
        [(2, 21), (8, 81)], "k long, v long"), t, "k")
    V.delete_keys_mor(spark, t, "k", spark.createDataFrame(
        [(5,)], "k long"))

    got = _read_parity(spark, monkeypatch,
                       lambda: V.read_current(spark, t))
    assert got == [(0, 0), (1, 10), (2, 21), (3, 30), (4, 40),
                   (6, 60), (7, 70), (8, 81)]


def test_masked_chunked_read_with_predicates_matches_join(
        spark, tmp_path, monkeypatch):
    """A chunked manifest read with predicates hands the mask only the
    pruned files and their generations; both paths agree."""
    monkeypatch.setattr(V, "_MANIFEST_CHUNK_FILES", 6)
    monkeypatch.setattr(V, "_MANIFEST_CHUNK_SIZE", 4)
    t = str(tmp_path / "t")
    V.write_snapshot(
        spark.createDataFrame([(i, i) for i in range(200)],
                              "k int, v int").repartitionByRange(10, "k"),
        t, stats_cols=["k"])
    V.merge_snapshot_mor(spark, spark.createDataFrame(
        [(7, -7), (150, -150)], "k int, v int"), t, "k")
    V.delete_keys_mor(spark, t, "k", spark.createDataFrame(
        [(8,), (151,)], "k int"))
    assert "chunks" in V._read_core(t, V.current_snapshot(t))

    got = _read_parity(spark, monkeypatch, lambda: V.read_current(
        spark, t, predicates=[("k", "<", 20)]))
    assert got == _sorted([(k, -7 if k == 7 else k) for k in range(20)
                           if k != 8])


def _mor_table(spark, tmp_path, typ="long"):
    t = str(tmp_path / "m")
    V.write_snapshot(spark.createDataFrame(
        [(i, i) for i in range(6)], f"k {typ}, v long"), t)
    V.delete_keys_mor(spark, t, "k", spark.createDataFrame(
        [(2,)], f"k {typ}"))
    return t


@pytest.mark.parametrize("cause", ["over_budget", "too_many_keys",
                                   "unreadable"])
def test_masked_read_fallbacks_join(spark, tmp_path, monkeypatch, cause):
    """Every exit from the literal path lands on the anti-join with
    the same rows: delete files over the byte budget, more keys than
    an IN list carries, and a delete file pyarrow cannot read."""
    import pyarrow as pa

    t = _mor_table(spark, tmp_path)
    if cause == "over_budget":
        monkeypatch.setattr(V, "_DRIVER_LAND_BYTES", 1)
    elif cause == "too_many_keys":
        monkeypatch.setattr(V, "_IN_LIST_MAX", 0)
    else:
        def unreadable(*a, **k):
            raise pa.ArrowInvalid("not a parquet file")
        monkeypatch.setattr(V, "_read_key_columns", unreadable)
    df = V.read_current(spark, t)
    assert "BroadcastHashJoin" in _plan(df)
    assert sorted(r.k for r in df.collect()) == [0, 1, 3, 4, 5]


@pytest.mark.parametrize("typ, keys", [
    ("double", [2.0, -0.0]),
    ("timestamp", [datetime.datetime(2031, 3, 1, 12)]),
])
def test_masked_read_inexact_key_types_join(spark, tmp_path, typ, keys):
    """Keys whose Python literals are not exact (floats: NaN and -0.0;
    timestamps: local-time folds) take the anti-join."""
    t = str(tmp_path / "t")
    rows = keys + ([0.0, 5.5] if typ == "double"
                   else [datetime.datetime(2031, 3, 2)])
    V.write_snapshot(spark.createDataFrame(
        [(k, i) for i, k in enumerate(rows)], f"k {typ}, v long"), t)
    V.delete_keys_mor(spark, t, "k", spark.createDataFrame(
        [(keys[0],)], f"k {typ}"))
    df = V.read_current(spark, t)
    assert "BroadcastHashJoin" in _plan(df)
    assert sorted(r.v for r in df.collect()) == list(
        range(1, len(rows)))


@pytest.mark.parametrize("typ, vals, want", [
    ("tinyint", [1, 300, -129], "`k` IN (1Y)"),
    ("decimal(4,2)", [decimal.Decimal("1.5"), decimal.Decimal("1.555"),
                      decimal.Decimal("100")],
     "`k` IN (CAST(1.50BD AS decimal(4,2)))"),
    ("string", [], "false"),
])
def test_sql_in_drops_values_the_type_cannot_hold(typ, vals, want):
    """A value no column value can equal (out of range, more scale
    than the column) drops out of the list — exactly what equality
    would decide; an empty list matches nothing."""
    from pyspark.sql.types import _parse_datatype_string

    assert V._sql_in("`k`", _parse_datatype_string(typ), vals) == want


def test_sql_in_refuses_foreign_values_and_long_lists(monkeypatch):
    from pyspark.sql.types import LongType, StringType

    assert V._sql_in("`k`", LongType(), ["1"]) is None
    assert V._sql_in("`k`", StringType(), [1]) is None
    monkeypatch.setattr(V, "_IN_LIST_MAX", 2)
    assert V._sql_in("`k`", LongType(), [1, 2, 3]) is None


def test_mor_live_match_count_is_literal(spark, tmp_path, monkeypatch):
    """A MOR commit's live-row decrement filters by the batch's key
    list, not a broadcast semi-join, and counts what the join counts."""
    t = _mor_table(spark, tmp_path)
    man = V.read_manifest(t, V.current_snapshot(t))
    keys = spark.createDataFrame([(1,), (2,), (3,), (9,)], "k long")
    seen = []
    orig = V._key_semi

    def spy(df, key, keys_df, vals):
        out = orig(df, key, keys_df, vals)
        seen.append("Join" in _plan(out))
        return out

    monkeypatch.setattr(V, "_key_semi", spy)
    assert V._mor_matched(spark, t, man, "k", keys) == 2  # 2 is masked
    assert V._mor_matched(spark, t, man, "k", keys, None) == 2
    assert seen == [False, True]  # None: oversized batch, joined


def test_masked_read_mixes_literal_and_joined_keys(spark, tmp_path):
    """Two delete-key columns in one read: the long key's mask is a
    literal filter, the double key's a sequenced anti-join whose file
    names attach to the filtered scan."""
    t = str(tmp_path / "t")
    schema = "k long, f double, v long"
    V.write_snapshot(spark.createDataFrame(
        [(i, float(i), i) for i in range(6)], schema), t)
    V.merge_snapshot_mor(spark, spark.createDataFrame(
        [(2, 2.0, 20)], schema), t, "f")
    V.delete_keys_mor(spark, t, "k", spark.createDataFrame(
        [(4,)], "k long"))
    df = V.read_current(spark, t)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") == 2  # file map + f mask
    assert "IN (4)" in plan or "= 4)" in plan
    assert _sorted(df.collect()) == [
        (0, 0.0, 0), (1, 1.0, 1), (2, 2.0, 20), (3, 3.0, 3),
        (5, 5.0, 5)]


def test_masked_read_with_a_metadata_data_column_joins(spark, tmp_path):
    """A data column named ``_metadata`` hides the scan's metadata
    struct from SQL text: the mask takes the anti-join, whose file
    names come through ``metadataColumn``."""
    t = str(tmp_path / "t")
    schema = "k long, _metadata string"
    V.write_snapshot(spark.createDataFrame(
        [(i, f"m{i}") for i in range(5)], schema), t)
    V.merge_snapshot_mor(spark, spark.createDataFrame(
        [(1, "M1")], schema), t, "k")
    V.delete_keys_mor(spark, t, "k", spark.createDataFrame(
        [(3,)], "k long"))
    df = V.read_current(spark, t)
    assert "BroadcastHashJoin" in _plan(df)
    assert _sorted(df.collect()) == [(0, "m0"), (1, "M1"), (2, "m2"),
                                     (4, "m4")]
