"""The three closed-loop workloads. Each returns a dict of raw results
(ops, setup phases, checks, layer counters) that ``run.py`` turns into
metrics. One client, one op at a time; every op is timed alone, and the
per-op hygiene (temp views, caches, persisted RDDs, GC) runs between
ops, outside the timed region."""

from __future__ import annotations

import gc
import os
import random
import statistics
import sys
import time
import traceback
from decimal import Decimal

import datagen
import procs
import stats

ETL_REFERENCE = [f"q{i:02d}_{n}" for i, n in enumerate([
    "filter_project", "left_join_chain", "multiway_join", "anti_join",
    "broadcast_enrich", "sales_aggregate", "distinct_counts",
    "latest_per_key", "ts_roundtrip", "row_hash", "string_battery",
    "enrich_select", "inventory_extract", "sales_extract",
    "rollup_aggregate", "recent_report", "stream_tumbling",
    "stream_dedup"], start=1)]

CURATION_HEAVY = [
    "x60_pagerank", "x58_prefix_similarity_join", "x62_entity_blocking",
    "x14_simhash_neardup", "x56_common_spans", "x38_column_profile",
    "x91_winsorize", "x85_percentiles_exact", "x45_corr_matrix",
    "x66_bigram_lm", "x44_bloom_semi_join", "x08_simhash_signatures"]

#: Timed passes over a query mix. Each query's metric time is the faster
#: of its two runs, so a burst of load from other guests has to hit both.
QUERY_PASSES = 2

KEY, GROUP, VALUE = "o_orderkey", "o_orderpriority", "o_totalprice"

#: Commits one drain trigger may admit: a round's append, merge and
#: delete, plus a compaction commit when one precedes the round, so one
#: bounded batch (one availableNow lifecycle) drains a round.
DRAIN_CAP = 4

#: Lakehouse rounds per run, followed by one optimize_table at the
#: package's default thresholds. At sf0.01 two rounds leave 13 small
#: files, so that optimize compacts.
ROUNDS = 2


class Run:
    """Shared state of one benchmark run."""

    def __init__(self, spark, root: str, seed: int, sf: float, tracer,
                 corrupt: bool):
        self.spark, self.root, self.seed, self.sf = spark, root, seed, sf
        self.tracer, self.corrupt = tracer, corrupt
        self.ops: list[dict] = []      # timed ops
        self.checks: list[dict] = []   # correctness checks
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.timed_wall = 0.0
        self.cleanup_s = 0.0
        self.t_first_op: float | None = None
        self.pass_no = 0
        self.cpu_first_op: tuple[int, int] | None = None

    def cleanup(self) -> None:
        """bench.py's per-op hygiene, run between ops."""
        t0 = time.perf_counter()
        spark = self.spark
        spark._jsparkSession.sessionState().catalog().clearTempTables()
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        self.cleanup_s += time.perf_counter() - t0

    def op(self, kind: str, fn):
        """Clean up, then time one op (traced in a traced run); an
        exception fails it. Returns fn's result. The op's ``s`` is its
        wall time net of stolen CPU (``stats.unstolen_s``); ``wall_s``
        keeps the raw wall time."""
        tr = self.tracer
        tr.enabled = False
        self.cleanup()
        self.settle()
        tr.enabled = tr.available
        if self.t_first_op is None:
            self.t_first_op = time.perf_counter()
            self.cpu_first_op = procs.cpu_ticks()
        rec = {"kind": kind, "pass": self.pass_no, "ok": True}
        busy0, stolen0 = procs.cpu_ticks()
        t0 = time.perf_counter()
        try:
            with tr.span(f"op.{kind}", "bench"):
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            rec["ok"], out = False, None
        rec["wall_s"] = time.perf_counter() - t0
        busy1, stolen1 = procs.cpu_ticks()
        rec["busy_ticks"] = busy1 - busy0
        rec["stolen_ticks"] = stolen1 - stolen0
        # the op's latency net of the CPU time neighbouring guests took
        rec["s"] = stats.unstolen_s(rec["wall_s"], rec["busy_ticks"],
                                    rec["stolen_ticks"])
        self.settle()
        tr.enabled = False
        self.ops.append(rec)
        return out

    def settle(self) -> None:
        """In a traced run, deliver every pending listener event, so
        streaming progress and Catalyst phases land on the op that
        produced them."""
        if self.tracer.available:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def check(self, name: str, fn) -> None:
        """Run one correctness check (untimed); an exception fails it."""
        try:
            fn()
            ok = True
        except Exception as e:
            print(f"CHECK FAILED {name}: {str(e)[:2000]}", file=sys.stderr)
            ok = False
        self.checks.append({"name": name, "ok": ok})

    def fixtures(self, names=None) -> str:
        """Generate the seeded tables; returns the data dir."""
        data = os.path.join(self.root, "data")
        t0 = time.perf_counter()
        datagen.write_tables(self.seed, self.sf, data, names)
        self.setup["fixtures_s"] = time.perf_counter() - t0
        return data


# ---------------------------------------------------------------- queries

def run_queries(run: Run, kinds: list[str]) -> None:
    from mc_ns_data_pipeline_spark.plans import ORACLES, QUERIES
    from mc_ns_data_pipeline_spark.testing import compare_with_oracle

    spark, tr = run.spark, run.tracer
    data = run.fixtures()

    # Warm-up and correctness in one pass: every query once, against
    # its DuckDB twin at the run's own data, before the timed region.
    t0 = time.perf_counter()
    for i, name in enumerate(kinds):
        def _cmp(name=name, first=(i == 0)):
            df = QUERIES[name](spark, data)
            if run.corrupt and first:
                df = df.union(df.limit(1))   # one extra output row
            compare_with_oracle(df, ORACLES[name], data)
        run.check(f"oracle.{name}", _cmp)
    # The timed ops end in a noop write, which the oracle pass never
    # runs; without this the first timed op paid ~25% to warm it.
    run.check("warmup.noop_write", lambda: QUERIES[kinds[0]](
        spark, data).write.format("noop").mode("overwrite").save())
    run.setup["warmup_s"] = time.perf_counter() - t0

    # QUERY_PASSES passes, each in its own seeded order: the same op
    # population however fast the program is.
    rng = random.Random(run.seed)
    t_start = time.perf_counter()
    for run.pass_no in range(QUERY_PASSES):
        order = kinds[:]
        rng.shuffle(order)
        for name in order:
            run.op(name, lambda name=name: _query_op(run, name, QUERIES))
    run.timed_wall = time.perf_counter() - t_start


def _query_op(run: Run, name: str, queries) -> None:
    tr = run.tracer
    data = os.path.join(run.root, "data")
    with tr.span("plans.build", "plans"):
        df = queries[name](run.spark, data)
    if tr.enabled:
        # Building analysed the plan the noop write wraps; the write's
        # own phases reach the tracer through the CatalystListener.
        tr.catalyst_phases(df._jdf.queryExecution(), ("analysis",))
    with tr.span("exec.action", "exec"):
        df.write.format("noop").mode("overwrite").save()


# -------------------------------------------------------------- lakehouse

class Model:
    """The generator's view of the table: key -> (group, price)."""

    def __init__(self, rows: dict[int, tuple[str, float]]):
        self.rows = dict(rows)

    def aggregate(self) -> dict[str, tuple[int, float]]:
        acc: dict[str, list] = {}
        for g, p in self.rows.values():
            a = acc.setdefault(g, [0, Decimal(0)])
            a[0] += 1
            a[1] += Decimal(repr(p))
        return {g: (n, float(s)) for g, (n, s) in acc.items()}

    def total(self) -> tuple[int, float]:
        return len(self.rows), float(sum(Decimal(repr(p))
                                         for _, p in self.rows.values()))


def _table_rows(spark, table: str) -> dict[int, tuple[str, float]]:
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    return {r[0]: (r[1], r[2]) for r in
            V.read_current(spark, table).select(KEY, GROUP, VALUE)
            .collect()}


def _view_rows(spark, view: str) -> dict[str, tuple[int, float]]:
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    return {r.g: (r.n, float(r.sum_value)) for r in
            V.read_current(spark, view).filter("n > 0").collect()}


def check_lakehouse(spark, tables: dict[str, str], model: Model) -> list:
    """Compare source, replica and view with the model. Returns the
    names of the objects that differ (empty when all match)."""
    bad = []
    want = model.rows
    for name in ("source", "replica"):
        got = _table_rows(spark, tables[name])
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()))[:5]
            print(f"{name} differs from model: {diff}", file=sys.stderr)
            bad.append(name)
    got_v, want_v = _view_rows(spark, tables["view"]), model.aggregate()
    if got_v != want_v:
        print(f"view differs from model: {got_v} vs {want_v}",
              file=sys.stderr)
        bad.append("view")
    return bad


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Lakehouse:
    """Versioned source table, CDC replica and per-group view, plus the
    generator's model of what each must hold."""

    def __init__(self, spark, root: str, data: str):
        import pyarrow.parquet as pq

        from mc_ns_data_pipeline_spark.catalog import load_table
        from mc_ns_data_pipeline_spark.sinks import versioned as V
        from mc_ns_data_pipeline_spark.streaming.incremental import (
            run_stream_matview,
        )

        self.spark, self.matview = spark, run_stream_matview
        self.tables = {n: os.path.join(root, "lake", n)
                       for n in ("source", "replica", "view", "ckpt")}
        t = pq.read_table(os.path.join(data, "orders.parquet"),
                          columns=[KEY, GROUP, VALUE])
        self.model = Model({k: (g, p) for k, g, p in zip(
            *(t.column(c).to_pylist() for c in (KEY, GROUP, VALUE)))})
        self.next_key = max(self.model.rows) + 1
        src = self.tables["source"]
        V.write_snapshot(load_table(spark, data, "orders")
                         .select(KEY, GROUP, VALUE), src,
                         stats_cols=[KEY])
        self.genesis = V.current_snapshot(src)
        V.write_snapshot(V.read_current(spark, src), self.tables["replica"])
        # Bootstrap the stream at genesis: creates the view and the
        # checkpoint, so every later commit is drained exactly once.
        self.drain()

    def drain(self) -> None:
        t = self.tables
        self.matview(self.spark, t["source"], t["replica"], t["view"],
                     t["ckpt"], KEY, GROUP, VALUE, starting=self.genesis,
                     max_commits_per_trigger=DRAIN_CAP)

    def frame(self, rows: list[tuple]):
        from pyspark.sql.types import (DoubleType, LongType, StringType,
                                       StructField, StructType)

        schema = StructType([StructField(KEY, LongType()),
                             StructField(GROUP, StringType()),
                             StructField(VALUE, DoubleType())])
        return self.spark.createDataFrame(rows, schema)


def run_lakehouse(run: Run) -> None:
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    spark, tr = run.spark, run.tracer
    data = run.fixtures(["orders"])
    t0 = time.perf_counter()
    lake = Lakehouse(spark, run.root, data)
    run.setup["lake_setup_s"] = time.perf_counter() - t0
    src = lake.tables["source"]
    model = lake.model.rows
    n_base = len(model)
    n_app = max(20, n_base // 50)
    n_upd = max(10, n_base // 100)
    n_del = max(5, n_base // 300)
    rng = random.Random(run.seed)
    traced = tr.available  # also collect the commit and read counters
    counters = {"freshness": [], "kept_ratio": [], "written": 0,
                "submitted": 0}

    def commit(kind, fn, rows):
        before = _du(src) if traced else 0
        run.op(kind, fn)
        if traced:
            counters["written"] += _du(src) - before
            counters["submitted"] += _arrow_bytes(rows)

    def read_full():
        df = V.read_current(spark, src).selectExpr(
            "count(*)", f"sum(cast({VALUE} as decimal(18,4)))")
        with tr.span("exec.action", "exec"):
            return tuple(df.collect()[0])

    def read_point(k, preds):
        df = (V.read_current(spark, src, predicates=preds)
              .filter(f"{KEY} = {k}").select(KEY, GROUP, VALUE))
        with tr.span("exec.action", "exec"):
            return [tuple(r) for r in df.collect()]

    def one_round():
        picked = rng.sample(sorted(model), n_upd + n_del + 1)
        new = [(lake.next_key + i, rng.choice(datagen.PRIORITIES),
                round(rng.uniform(1000, 500000), 2)) for i in range(n_app)]
        lake.next_key += n_app
        upd = [(k, rng.choice(datagen.PRIORITIES),
                round(rng.uniform(1000, 500000), 2))
               for k in picked[:n_upd]]
        doomed = picked[n_upd:n_upd + n_del]
        point = picked[-1]
        df_new, df_upd = lake.frame(new), lake.frame(upd)
        df_del = spark.createDataFrame([(k,) for k in doomed], f"{KEY} long")

        commit("append", lambda: V.append_snapshot(df_new, src), new)
        t_publish = time.perf_counter()
        model.update({k: (g, p) for k, g, p in new})
        commit("merge_mor",
               lambda: V.merge_snapshot_mor(spark, df_upd, src, KEY), upd)
        model.update({k: (g, p) for k, g, p in upd})
        commit("delete_mor",
               lambda: V.delete_keys_mor(spark, src, KEY, df_del),
               [(k,) for k in doomed])
        for k in doomed:
            del model[k]

        want = lake.model.total()
        got = run.op("read_full", read_full)
        if got is None or (got[0], float(got[1])) != want:
            run.ops[-1]["ok"] = False
            print(f"read_full: got {got} want {want}", file=sys.stderr)

        preds = [(KEY, "=", point)]
        row = run.op("read_point", lambda: read_point(point, preds))
        if row != [(point, *model[point])]:
            run.ops[-1]["ok"] = False
            print(f"read_point {point}: got {row} want {model[point]}",
                  file=sys.stderr)
        if traced:
            rep = V.prune_report(src, V.current_snapshot(src), preds)
            counters["kept_ratio"].append(len(rep["kept"]) / rep["total"])

        run.op("cdc_drain", lake.drain)
        counters["freshness"].append(time.perf_counter() - t_publish)

    # A fixed op population: ROUNDS rounds, then compaction at the
    # package's thresholds (every few rounds in a longer pipeline).
    t_start = time.perf_counter()
    for _ in range(ROUNDS):
        one_round()
    run.op("optimize", lambda: V.optimize_table(spark, src))
    run.timed_wall = time.perf_counter() - t_start

    run.cleanup()
    if run.corrupt:
        k = next(iter(model))
        g, p = model[k]
        model[k] = (g, p + 1.0)
    bad = check_lakehouse(spark, lake.tables, lake.model)
    for name in ("source", "replica", "view"):
        run.checks.append({"name": f"model.{name}",
                           "ok": name not in bad})

    cur = V.current_snapshot(src)
    man = V.read_manifest(src, cur)
    snaps = os.path.dirname(V._manifest_path(src, cur))
    run.layer.update({
        "freshness_s": statistics.median(counters["freshness"]),
        "table_bytes_per_live_row": _du(src) / max(1, len(model)),
        "versioned.files_live": len(man["files"]),
        "versioned.delete_files_live": len(man.get("delete_files") or []),
        "versioned.manifest_bytes": sum(
            os.path.getsize(os.path.join(snaps, f))
            for f in os.listdir(snaps) if f.startswith(cur)),
        "versioned.point_read.kept_ratio": (
            statistics.mean(counters["kept_ratio"])
            if counters["kept_ratio"] else 0.0),
        "versioned.write_amp": (counters["written"] / counters["submitted"]
                                if counters["submitted"] else 0.0),
    })


def _arrow_bytes(rows: list[tuple]) -> int:
    """In-memory Arrow size of the rows a commit submitted."""
    import pyarrow as pa

    if not rows:
        return 0
    cols = list(zip(*rows))
    return pa.table({str(i): list(c) for i, c in enumerate(cols)}).nbytes
