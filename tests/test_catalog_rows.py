"""catalog.table_rows: exact footer counts, spark.read.parquet-shaped
directory semantics (recursive, hidden/metadata entries skipped), and
a loud failure on an empty/missing table dir (ADVICE r11 — silently
returning 0 would feed wrong literals into plans on a bad
SPARK_GRAFT_SF_DIR).

catalog.load_table's schema memo: Spark's own inferred schema, keyed by
file version (a rewrite re-infers), held per SparkContext, and no
inference job on a repeat load."""

from __future__ import annotations

import datetime as dt
import os
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from mc_ns_data_pipeline_spark import catalog
from mc_ns_data_pipeline_spark.session import ensure_read_confs


def _write(path: str, n: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"k": pa.array(range(n), pa.int64())}), path)


def test_table_rows_flat_dir(tmp_path):
    d = tmp_path / "t.parquet"
    _write(str(d / "a.parquet"), 3)
    _write(str(d / "b.parquet"), 4)
    (d / "_SUCCESS").write_text("")
    assert catalog.table_rows(str(tmp_path), "t") == 7


def test_table_rows_recurses_partitioned_layout(tmp_path):
    d = tmp_path / "t.parquet"
    _write(str(d / "g=1" / "a.parquet"), 2)
    _write(str(d / "g=2" / "b.parquet"), 5)
    _write(str(d / "_temporary" / "junk.parquet"), 99)  # skipped
    assert catalog.table_rows(str(tmp_path), "t") == 7


def test_table_rows_raises_on_missing_or_empty(tmp_path):
    with pytest.raises(FileNotFoundError):
        catalog.table_rows(str(tmp_path), "nope")
    os.makedirs(tmp_path / "empty.parquet")
    with pytest.raises(FileNotFoundError):
        catalog.table_rows(str(tmp_path), "empty")


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


_TS = [dt.datetime(2024, 1, 1, 6, 0, 0, 1), dt.datetime(2024, 1, 2, 7)]
_TS_UTC = ["2024-01-01 06:00:00.000001", "2024-01-02 07:00:00"]


def _write_ts(path: str, unit: str) -> None:
    """A 2-row events-like table whose `ts` is stored with `unit`."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64()),
                             "ts": pa.array(_TS, pa.timestamp(unit))}),
                   path)


def _memo_keys(spark, path: str) -> list:
    return [k for k in catalog._schema_memo(spark.sparkContext)
            if k[0] == path]


@pytest.mark.parametrize("name", catalog.TABLES)
def test_memoized_schema_is_sparks_own(spark, sf_dir, name):
    path = catalog.table_path(sf_dir, name)
    catalog.load_table(spark, sf_dir, name)
    ensure_read_confs(spark)
    memo, _ = catalog._source_schema(spark, path)
    assert memo == spark.read.parquet(path).schema


def test_second_load_fires_no_spark_job(spark, sf_dir):
    catalog.load_table(spark, sf_dir, "orders")
    before = _next_job(spark)
    df = catalog.load_table(spark, sf_dir, "orders")
    assert df.schema["o_orderdate"]  # analysis only, no job either
    assert _next_job(spark) == before


def test_rewritten_file_is_reinferred(spark, tmp_path):
    """The path-only ns-column cache kept a rewritten table's old
    answer: a µs table rewritten with ns timestamps came back bigint."""
    path = str(tmp_path / "events.parquet")
    _write_ts(path, "us")
    first = catalog.load_table(spark, str(tmp_path), "events")
    assert first.schema["ts"].dataType.simpleString() != "bigint"
    _write_ts(path, "ns")
    df = catalog.load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    assert len(_memo_keys(spark, path)) == 2
    got = df.orderBy("k").selectExpr("cast(ts as string)").collect()
    assert [r[0] for r in got] == _TS_UTC


def test_replaced_part_file_is_reinferred(spark, tmp_path):
    d = tmp_path / "t.parquet"
    _write(str(d / "a.parquet"), 3)
    _write(str(d / "b.parquet"), 4)
    catalog.load_table(spark, str(tmp_path), "t")
    before = _next_job(spark)
    catalog.load_table(spark, str(tmp_path), "t")
    assert _next_job(spark) == before
    _write(str(d / "b.parquet"), 6)
    df = catalog.load_table(spark, str(tmp_path), "t")
    assert _next_job(spark) > before  # the new version was inferred
    assert len(_memo_keys(spark, str(d))) == 2
    assert df.count() == 9


def test_partitioned_ns_columns_convert(spark, tmp_path):
    d = tmp_path / "events.parquet"
    _write_ts(str(d / "g=1" / "a.parquet"), "ns")
    _write_ts(str(d / "g=2" / "b.parquet"), "ns")
    df = catalog.load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    assert df.schema["g"].dataType.simpleString() == "int"
    ensure_read_confs(spark)
    assert catalog.parquet_schema(spark, str(d)) == \
        spark.read.parquet(str(d)).schema
    rows = df.orderBy("g", "k").selectExpr("g", "cast(ts as string)")
    assert [tuple(r) for r in rows.collect()] == [
        (g, t) for g in (1, 2) for t in _TS_UTC]


def test_missing_or_empty_table_raises_sparks_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        catalog.load_table(spark, str(tmp_path), "nope")
    os.makedirs(tmp_path / "empty.parquet")
    with pytest.raises(AnalysisException):
        catalog.load_table(spark, str(tmp_path), "empty")


def test_memo_is_per_context_and_bounded(spark, tmp_path, monkeypatch):
    # The memo lives on the SparkContext, so a new context (a fresh
    # session) starts with an empty one.
    fresh = types.SimpleNamespace()
    assert len(catalog._schema_memo(fresh)) == 0
    assert catalog._schema_memo(fresh) is not \
        catalog._schema_memo(spark.sparkContext)

    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_MAX", 2)
    for name in ("a", "b", "c"):
        _write(str(tmp_path / f"{name}.parquet"), 1)
        catalog.load_table(spark, str(tmp_path), name)
    assert len(catalog._schema_memo(spark.sparkContext)) == 2
    assert _memo_keys(spark, str(tmp_path / "a.parquet")) == []



def test_concurrent_lookups_keep_the_memo_bounded(tmp_path, monkeypatch):
    """Threads building plans at once share one memo: lookups, inserts
    and LRU evictions under its lock lose no update and keep the bound.
    Inference is stubbed so the threads spend their time in the memo."""
    import sys
    import threading

    paths = []
    for i in range(8):
        paths.append(str(tmp_path / f"t{i}.parquet"))
        _write(paths[-1], i + 1)
    fake = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(),
        read=types.SimpleNamespace(
            parquet=lambda p: types.SimpleNamespace(schema=p)))
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_MAX", 3)
    errors = []

    def hammer(offset):
        try:
            for j in range(300):
                p = paths[(offset + j) % len(paths)]
                assert catalog._source_schema(fake, p)[0] == p
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(catalog._schema_memo(fake.sparkContext)) == 3
